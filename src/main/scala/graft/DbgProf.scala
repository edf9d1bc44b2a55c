package graft.sql

/** Scratch profiling entry (builder tooling): time the dialect front
  * end's statement-rewrite + analysis cost per query. */
object DbgProf {
  def main(args: Array[String]): Unit = {
    val spark = graft.Sessions.local(8)
    graft.Tables.registerAll(spark, sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001"))
    val qs =
      if (args.nonEmpty) args.toSeq
      else Seq("SELECT event_type, ts, count(*) AS n FROM events SAMPLE BY 1d ORDER BY event_type, ts")
    def time(label: String, n: Int)(f: => Any): Unit = {
      (1 to 3).foreach(_ => f)
      val t0 = System.nanoTime()
      (1 to n).foreach(_ => f)
      println(f"${(System.nanoTime() - t0) / 1e6 / n}%.2f ms  $label")
    }
    val cat = graft.SessionCatalog(spark)
    qs.foreach { q =>
      time(s"full sql(): $q", 30)(graft.sql.QuestSql.sql(spark, q).queryExecution.analyzed)
      time("DialectRewrites", 100)(graft.sql.DialectRewrites(q, cat))
      val q1 = graft.sql.DialectRewrites(q, cat)
      time("AutoAlias", 100)(graft.sql.AutoAlias.rewriteQuery(q1))
      val q2 = graft.sql.AutoAlias.rewriteQuery(q1)
      time("QuestSql.rewrite", 100)(graft.sql.QuestSql.rewrite(q2, cat))
      time("rewriteFnMacros", 100)(graft.sql.QuestSql.rewriteFnMacros(cat, q2))
      time("spark.sql analyze only", 30)(
        spark.sql("SELECT event_type, window(ts, '1 day'), count(*) FROM events GROUP BY event_type, window(ts, '1 day')").queryExecution.analyzed)
      val Rel = """([\w.]+|\((?:[^()]|\([^()]*\))*\))"""
      val sampleByFull = (
        """(?is)^SELECT\s+(.*?)\s+FROM\s+""" + Rel +
          """(?:\s+WHERE\s+(.*?))?\s+SAMPLE\s+BY\s+(\d+)([UTsmhdwMy])""" +
          """(?:\s+FROM\s+'([^']+)')?(?:\s+TO\s+'([^']+)')?""" +
          """(?:\s+FILL\s*\(((?:[^()]|\([^()]*\))*)\))?""" +
          """(?:\s+ALIGN\s+TO\s+(CALENDAR|FIRST\s+OBSERVATION)(?:\s+TIME\s+ZONE\s+'([^']+)')?(?:\s+WITH\s+OFFSET\s+'([^']+)')?)?""" +
          """\s*(?:ORDER\s+BY\s+([\w.,\s]+?))?(?:\s+LIMIT\s+(-?\d+)(?:\s*,\s*(-?\d+))?)?\s*$""").r
      time("SampleByFullRe match", 100)(sampleByFull.findFirstMatchIn(q2))
      val asofLike = """(?is)^SELECT\s+(.*?)\s+FROM\s+""" + Rel + """\s+ASOF\s+JOIN\b"""
      time("asof-like regex", 100)(asofLike.r.findFirstMatchIn(q2))
    }
  }
}
