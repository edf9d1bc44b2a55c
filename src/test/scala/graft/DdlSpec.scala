package graft

import org.apache.spark.sql.functions._
import java.nio.file.Files

/** DDL/DML statement surface of the dialect: CREATE TABLE AS, INSERT
  * INTO SELECT/VALUES, DROP/RENAME/TRUNCATE TABLE, COPY FROM/TO
  * (reference SqlCompilerImpl statements + cutlass text import).
  */
class DdlSpec extends SparkSpec {
  lazy val engine: Engine = Engine(spark, sfDir)

  test("CREATE TABLE AS with TIMESTAMP() registers view and designated ts") {
    engine.sql("CREATE TABLE big_events AS (SELECT * FROM events WHERE value > 100.0) TIMESTAMP(ts) PARTITION BY DAY")
    val n = spark.table("big_events").count()
    assert(n > 0 && n < Tables.events(spark, sfDir).count())
    // the designated ts reached the registry → ASOF resolves it
    val out = engine.sql("SELECT * FROM big_events ASOF JOIN big_events ON user_id")
    assert(out.count() == n)
  }

  test("plain CREATE TABLE with column defs, symbol knobs, WAL/DEDUP tails") {
    engine.sql(
      "CREATE TABLE plain_t (sym SYMBOL CAPACITY 256 CACHE INDEX CAPACITY 512, " +
        "ts TIMESTAMP, price DOUBLE, qty LONG, g GEOHASH(6c), d DECIMAL(20,4)) " +
        "TIMESTAMP(ts) PARTITION BY DAY WAL " +
        "WITH maxUncommittedRows=250000 DEDUP UPSERT KEYS(ts, sym)")
    val t = spark.table("plain_t")
    assert(t.count() == 0)
    val types = t.schema.fields.map(f => f.name -> f.dataType.simpleString).toMap
    assert(types("sym") == "string" && types("ts") == "timestamp" &&
      types("price") == "double" && types("qty") == "bigint" &&
      types("g") == "string" && types("d") == "decimal(20,4)")
    // INSERT INTO the empty table works, designated ts registered → ASOF ok
    engine.sql("INSERT INTO plain_t VALUES ('A', TIMESTAMP '2024-01-01 00:00:00', 1.0, 2, 'u09t1w', 3.5)")
    assert(spark.table("plain_t").count() == 1)
    // IF NOT EXISTS: second create is a no-op, data survives
    engine.sql("CREATE TABLE IF NOT EXISTS plain_t (x INT)")
    assert(spark.table("plain_t").count() == 1)
  }

  test("CREATE TABLE AS bare SELECT") {
    engine.sql("CREATE TABLE ev_copy AS SELECT event_id, value FROM events LIMIT 10")
    assert(spark.table("ev_copy").count() == 10)
  }

  test("INSERT INTO SELECT and VALUES append; counts returned") {
    engine.sql("CREATE TABLE ins_t AS SELECT event_id, value FROM events LIMIT 5")
    val n1 = engine.sql("INSERT INTO ins_t SELECT event_id, value FROM events LIMIT 3")
      .head().getLong(0)
    assert(n1 == 3 && spark.table("ins_t").count() == 8)
    val n2 = engine.sql("INSERT INTO ins_t VALUES (9999, 1.5), (10000, 2.5)").head().getLong(0)
    assert(n2 == 2 && spark.table("ins_t").count() == 10)
    assert(spark.table("ins_t").filter(col("event_id") === 9999).head().getDouble(1) == 1.5)
  }

  test("RENAME moves the designated-ts registration; DROP removes; TRUNCATE empties") {
    engine.sql("CREATE TABLE r1_t AS (SELECT * FROM events LIMIT 20) TIMESTAMP(ts)")
    engine.sql("RENAME TABLE r1_t TO r2_t")
    assert(spark.table("r2_t").count() == 20)
    assert(intercept[Exception](spark.table("r1_t")) != null)
    assert(engine.sql("SELECT * FROM r2_t ASOF JOIN r2_t ON user_id").count() == 20)
    engine.sql("TRUNCATE TABLE r2_t")
    assert(spark.table("r2_t").count() == 0)
    engine.sql("DROP TABLE r2_t")
    assert(intercept[Exception](spark.table("r2_t")) != null)
  }

  private def designatedTsInTables(t: String): Option[String] =
    engine.sql("SELECT table_name, designatedTimestamp FROM tables()").collect()
      .find(_.getString(0) == t).map(_.getString(1))

  private def parquetFlags(t: String): Seq[Boolean] =
    engine.sql(s"SELECT isParquet FROM table_partitions('$t')").collect().map(_.getBoolean(0)).toSeq

  private def createWalTable(t: String): Unit = {
    engine.sql(s"CREATE TABLE $t (x INT, ts TIMESTAMP) TIMESTAMP(ts) PARTITION BY DAY WAL")
    engine.sql(s"INSERT INTO $t VALUES (1, '2024-01-01T10:00:00')")
  }

  test("RENAME then a timestamp-less CREATE under the old name has no designated ts") {
    engine.sql("CREATE TABLE rn_a (x INT, ts TIMESTAMP) TIMESTAMP(ts) PARTITION BY DAY")
    engine.sql("RENAME TABLE rn_a TO rn_b")
    engine.sql("CREATE TABLE rn_a (x INT, t TIMESTAMP)")
    try {
      assert(designatedTsInTables("rn_b").contains("ts"))
      assert(designatedTsInTables("rn_a").contains(null))
    } finally { engine.sql("DROP TABLE rn_a"); engine.sql("DROP TABLE rn_b") }
  }

  test("DROP forgets converted partition formats; a re-created table starts native") {
    createWalTable("cv_d")
    engine.sql("ALTER TABLE cv_d CONVERT PARTITION TO PARQUET LIST '2024-01-01'")
    assert(parquetFlags("cv_d") == Seq(true))
    engine.sql("DROP TABLE cv_d")
    createWalTable("cv_d")
    try assert(parquetFlags("cv_d") == Seq(false))
    finally engine.sql("DROP TABLE cv_d")
  }

  test("RENAME keeps converted partition formats under the new name") {
    createWalTable("cv_r1")
    engine.sql("ALTER TABLE cv_r1 CONVERT PARTITION TO PARQUET LIST '2024-01-01'")
    engine.sql("RENAME TABLE cv_r1 TO cv_r2")
    try assert(parquetFlags("cv_r2") == Seq(true))
    finally engine.sql("DROP TABLE cv_r2")
  }

  test("two engines on two sessions keep separate catalogs for the same table name") {
    // the second engine reads its own copy of the fixture tables
    val dir2 = Files.createTempDirectory("ddl_dir2")
    Tables.names.foreach(n => Files.copy(java.nio.file.Paths.get(s"$sfDir/$n.parquet"),
      dir2.resolve(s"$n.parquet")))
    val e1 = Engine(spark.newSession(), sfDir)
    val e2 = Engine(spark.newSession(), dir2.toString)
    e1.sql("CREATE TABLE t (k SYMBOL, v DOUBLE, ts TIMESTAMP) TIMESTAMP(ts) " +
      "PARTITION BY DAY WAL DEDUP UPSERT KEYS(ts, k)")
    e2.sql("CREATE TABLE t (id LONG, at TIMESTAMP, note VARCHAR) TIMESTAMP(at) " +
      "PARTITION BY HOUR BYPASS WAL")
    e1.sql("INSERT INTO t VALUES ('a', 1.0, '2024-01-01T00:30:00'), ('a', 2.0, '2024-01-01T00:30:00')")
    e2.sql("INSERT INTO t VALUES (1, '2024-01-02T05:00:00', 'x'), (2, '2024-01-02T06:00:00', 'y')")
    def tablesRow(e: Engine) =
      e.sql("SELECT designatedTimestamp, partitionBy, walEnabled, dedup FROM tables() " +
        "WHERE table_name = 't'").collect().map(r => (r.getString(0), r.getString(1),
        r.getBoolean(2), r.getBoolean(3))).toSeq
    assert(tablesRow(e1) == Seq(("ts", "DAY", true, true)))
    assert(tablesRow(e2) == Seq(("at", "HOUR", false, false)))
    def cols(e: Engine) =
      e.sql("SHOW COLUMNS FROM t").collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(cols(e1) == Seq(("k", "SYMBOL"), ("v", "DOUBLE"), ("ts", "TIMESTAMP")))
    assert(cols(e2) == Seq(("id", "LONG"), ("at", "TIMESTAMP"), ("note", "VARCHAR")))
    def ddl(e: Engine) = e.sql("SHOW CREATE TABLE t").head().getString(0)
    assert(ddl(e1).contains("timestamp(ts) PARTITION BY DAY") &&
      ddl(e1).contains("DEDUP UPSERT KEYS(ts,k)") && !ddl(e1).contains("BYPASS WAL"))
    assert(ddl(e2).contains("timestamp(at) PARTITION BY HOUR BYPASS WAL") &&
      !ddl(e2).contains("DEDUP"))
    def walT(e: Engine) =
      e.sql("SELECT name FROM wal_tables()").collect().map(_.getString(0)).toSet
    assert(walT(e1).contains("t") && !walT(e2).contains("t"))
    def parts(e: Engine) =
      e.sql("SELECT name, numRows FROM table_partitions('t')").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq
    // the dedup keys collapsed e1's two rows into one
    assert(parts(e1) == Seq(("2024-01-01", 1L)))
    assert(parts(e2) == Seq(("2024-01-02T05", 1L), ("2024-01-02T06", 1L)))
    def buckets(e: Engine, ts: String) =
      e.sql(s"SELECT $ts, count() AS n FROM t SAMPLE BY 1d").collect().map(_.getLong(1)).toSeq
    assert(buckets(e1, "ts") == Seq(1L) && buckets(e2, "at") == Seq(2L))
    e1.sql("DROP TABLE t")
    assert(tablesRow(e1).isEmpty)
    assert(tablesRow(e2) == Seq(("at", "HOUR", false, false)))
    assert(cols(e2).map(_._1) == Seq("id", "at", "note"))
    assert(parts(e2).size == 2)
    e2.sql("DROP TABLE t")
  }

  test("COPY TO csv then COPY FROM round-trips") {
    val dir = Files.createTempDirectory("ddl_copy").toString + "/out"
    val exported = engine.sql(
      s"COPY (SELECT event_id, ts, value FROM events WHERE event_id < 100) TO '$dir' WITH FORMAT csv")
      .head().getLong(0)
    assert(exported > 0)
    val imported = engine.sql(s"COPY ev_csv FROM '$dir'").head().getLong(0)
    assert(imported == exported)
    assert(spark.table("ev_csv").schema("value").dataType.typeName == "double")
  }

  test("EXPLAIN (FORMAT JSON) emits the structured plan tree in one row") {
    val rows = engine.sql(
      "EXPLAIN (FORMAT JSON) SELECT count(*) FROM events WHERE value > 100.0").collect()
    assert(rows.length == 1)
    val j = rows.head.getString(0)
    assert(j.trim.startsWith("[") && j.contains("\"class\""))
  }

  test("EXPLAIN returns one PLAN row per line, dialect forms included") {
    val rows = engine.sql("EXPLAIN SELECT * FROM events ASOF JOIN events ON user_id")
      .collect().map(_.getString(0))
    assert(rows.exists(_.contains("AsOfJoin")))
    val simple = engine.sql("EXPLAIN SELECT count(*) FROM events WHERE value > 100.0")
      .collect().map(_.getString(0))
    assert(simple.exists(_.contains("HashAggregate")))
  }

  test("COPY table TO parquet") {
    val dir = Files.createTempDirectory("ddl_copy_p").toString + "/out"
    engine.sql("CREATE TABLE pq_t AS SELECT event_id, value FROM events LIMIT 50")
    val n = engine.sql(s"COPY pq_t TO '$dir'").head().getLong(0)
    assert(n == 50 && spark.read.parquet(dir).count() == 50)
  }

  test("CHECKPOINT CREATE/RELEASE snapshots registered tables; restore recovers state") {
    val ckptRoot = Files.createTempDirectory("graft_ckpt_spec").toString
    spark.conf.set("graft.checkpoint.dir", ckptRoot)
    try {
      engine.sql("SELECT 1") // force table registration
      // nothing in progress initially
      val st0 = engine.sql("SELECT * FROM checkpoint_status()").head()
      assert(!st0.getBoolean(0) && st0.isNullAt(1))
      val dir = engine.sql("CHECKPOINT CREATE").head().getString(0)
      assert(dir.startsWith(ckptRoot))
      // snapshot contains the events table's parquet, hard-linked
      assert(new java.io.File(s"$dir/events").exists() ||
        new java.io.File(s"$dir/events").isFile)
      assert(new java.io.File(s"$dir/manifest.json").isFile)
      // in-progress gate: second CREATE errors, status reports it
      val st1 = engine.sql("SELECT * FROM checkpoint_status()").head()
      assert(st1.getBoolean(0) && !st1.isNullAt(1))
      intercept[Exception](engine.sql("CHECKPOINT CREATE"))
      engine.sql("CHECKPOINT RELEASE")
      assert(!engine.sql("SELECT * FROM checkpoint_status()").head().getBoolean(0))
      // legacy grammar
      engine.sql("SNAPSHOT PREPARE")
      engine.sql("SNAPSHOT COMPLETE")
      // restore: snapshot survives a destructive change to the live view
      val before = spark.table("events").count()
      engine.sql("CREATE TABLE events AS SELECT * FROM events LIMIT 1")
      val restored = graft.ops.Checkpoint.restore(spark, dir)
      assert(restored.contains("events"))
      assert(spark.table("events").count() == before)
      Tables.forgetRegistration(spark)
      Tables.registerAll(spark, sfDir) // put the real views back for later suites
    } finally spark.conf.unset("graft.checkpoint.dir")
  }

  test("CREATE MATERIALIZED VIEW pins rows until REFRESH; DROP removes") {
    // REFRESH MANUAL pins; IMMEDIATE (the reference default) refreshes
    // on base commit and serves fresh
    engine.sql("CREATE TABLE mv_base AS (SELECT * FROM events LIMIT 100) TIMESTAMP(ts)")
    engine.sql("CREATE MATERIALIZED VIEW mv_cnt WITH BASE mv_base REFRESH MANUAL AS " +
      "(SELECT event_type, count(*) AS n FROM mv_base GROUP BY event_type)")
    val before = spark.table("mv_cnt").collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(before.values.sum == 100)
    // mat views are listed in the catalog fn
    val listed = engine.sql("SELECT * FROM materialized_views()").collect()
    assert(listed.exists(_.getString(0) == "mv_cnt"))
    // base mutation is invisible until refresh (materialized, not a live view)
    engine.sql("INSERT INTO mv_base SELECT * FROM events LIMIT 50")
    assert(spark.table("mv_cnt").collect().map(r => r.getLong(1)).sum == 100)
    val refreshed = engine.sql("REFRESH MATERIALIZED VIEW mv_cnt FULL").head()
    assert(refreshed.getString(0) == "mv_cnt" && refreshed.getLong(1) == before.size.toLong)
    assert(spark.table("mv_cnt").collect().map(r => r.getLong(1)).sum == 150)
    // STATS is a metadata-only ack; INCREMENTAL re-runs
    engine.sql("REFRESH MATERIALIZED VIEW mv_cnt STATS")
    engine.sql("REFRESH MATERIALIZED VIEW mv_cnt INCREMENTAL")
    engine.sql("DROP MATERIALIZED VIEW mv_cnt")
    intercept[Exception](engine.sql("REFRESH MATERIALIZED VIEW mv_cnt FULL"))
    engine.sql("DROP TABLE mv_base")
  }

  test("CREATE LIVE VIEW serves always-fresh over a mutating base; DROP removes") {
    engine.sql("CREATE TABLE lv_base AS (SELECT * FROM events LIMIT 100) TIMESTAMP(ts)")
    engine.sql("CREATE LIVE VIEW lv_cnt FLUSH EVERY 1s AS " +
      "(SELECT event_type, count(*) AS n FROM lv_base GROUP BY event_type)")
    assert(engine.sql("SELECT * FROM lv_cnt").collect().map(_.getLong(1)).sum == 100)
    assert(engine.sql("SELECT * FROM live_views()").collect()
      .exists(_.getString(0) == "lv_cnt"))
    // the live view sees the base mutation on the very next read — no
    // REFRESH statement (contrast with the materialized view above)
    engine.sql("INSERT INTO lv_base SELECT * FROM events LIMIT 50")
    assert(engine.sql("SELECT * FROM lv_cnt").collect().map(_.getLong(1)).sum == 150)
    // full grammar: IN MEMORY / PARTITION BY / START FROM clauses parse
    engine.sql("CREATE LIVE VIEW lv_cnt2 FLUSH EVERY 500ms IN MEMORY 2s PARTITION BY DAY " +
      "START FROM '2024-01-01' AS (SELECT count(*) AS n FROM lv_base)")
    assert(engine.sql("SELECT n FROM lv_cnt2").head().getLong(0) == 150)
    // reference parity: sub-100ms flush cadence is rejected
    intercept[Exception](engine.sql(
      "CREATE LIVE VIEW lv_bad FLUSH EVERY 50ms AS (SELECT 1 AS x)"))
    engine.sql("DROP LIVE VIEW lv_cnt2")
    engine.sql("DROP LIVE VIEW lv_cnt")
    assert(!engine.sql("SELECT * FROM live_views()").collect()
      .exists(_.getString(0) == "lv_cnt"))
    engine.sql("DROP TABLE lv_base")
  }

  test("REFRESH MATERIALIZED VIEW RANGE replaces only the window") {
    engine.sql("CREATE TABLE mvr_base AS (SELECT * FROM events) TIMESTAMP(ts)")
    // MANUAL so the window surgery below is observable (IMMEDIATE — the
    // reference default — serves fresh on every base commit)
    engine.sql("CREATE MATERIALIZED VIEW mvr_daily REFRESH MANUAL AS " +
      "(SELECT ts, count(*) AS n FROM mvr_base SAMPLE BY 1d)")
    val before = spark.table("mvr_daily").orderBy(col("ts")).collect()
    assert(before.length > 3)
    val day = java.time.LocalDate.ofInstant(
      before(1).getTimestamp(0).toInstant, java.time.ZoneOffset.UTC).toString
    // shrink the base to one row inside the second day, then range-refresh it
    engine.sql(s"CREATE TABLE mvr_base AS (SELECT * FROM events WHERE ts BETWEEN '$day' AND '$day" +
      "T23:59:59' LIMIT 1) TIMESTAMP(ts)")
    engine.sql(s"REFRESH MATERIALIZED VIEW mvr_daily RANGE FROM '$day" + "T00:00:00' TO '" +
      day + "T23:59:59'")
    val after = spark.table("mvr_daily").orderBy(col("ts")).collect()
    // untouched days keep their counts; the refreshed day collapsed to 1
    assert(after.length == before.length)
    assert(after(1).getLong(1) == 1L)
    assert(after.zipWithIndex.filter(_._2 != 1).forall { case (r, i) => r.getLong(1) == before(i).getLong(1) })
    engine.sql("DROP MATERIALIZED VIEW mvr_daily")
    engine.sql("DROP TABLE mvr_base")
    Tables.forgetRegistration(spark)
    Tables.registerAll(spark, sfDir)
  }

  test("UPDATE statement: simple, multi-assign pre-update semantics, FROM join-update") {
    engine.sql("CREATE TABLE upd_t AS (SELECT event_id, event_type, value FROM events LIMIT 50)")
    val before = spark.table("upd_t").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2))).toMap
    val n1 = engine.sql("UPDATE upd_t SET value = value * 2 WHERE event_id % 2 = 0")
      .head().getLong(0)
    assert(n1 == before.keys.count(_ % 2 == 0))
    val after1 = spark.table("upd_t").collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    before.foreach { case (id, (_, v)) =>
      assert(after1(id) == (if (id % 2 == 0) v * 2 else v))
    }
    // multi-assign sees PRE-update values: swap-like update
    engine.sql("CREATE TABLE swp AS (SELECT 1 AS a, 10 AS b)")
    engine.sql("UPDATE swp SET a = b, b = a")
    val r = spark.table("swp").head()
    assert(r.getInt(0) == 10 && r.getInt(1) == 1) // b got OLD a
    // FROM join-update with qualified predicate
    engine.sql("CREATE TABLE upd_src AS (SELECT event_type AS et, -5.0 AS nv FROM events GROUP BY event_type LIMIT 1)")
    val et = spark.table("upd_src").head().getString(0)
    val n2 = engine.sql(
      "UPDATE upd_t SET value = upd_src.nv FROM upd_src WHERE upd_t.event_type = upd_src.et")
      .head().getLong(0)
    assert(n2 == before.values.count(_._1 == et))
    val after2 = spark.table("upd_t").collect()
    assert(after2.filter(_.getString(1) == et).forall(_.getDouble(2) == -5.0))
    assert(after2.filter(_.getString(1) != et).forall(r2 =>
      r2.getDouble(2) == after1(r2.getLong(0))))
    Seq("upd_t", "swp", "upd_src").foreach(t => engine.sql(s"DROP TABLE $t"))
  }

  test("ALTER TABLE: add/drop/rename/retype columns are real; WAL/param forms ack") {
    engine.sql("CREATE TABLE alt_t AS (SELECT event_id, value FROM events LIMIT 20)")
    engine.sql("ALTER TABLE alt_t ADD COLUMN flag INT, note STRING")
    val s1 = spark.table("alt_t").schema
    assert(s1.fieldNames.toSeq == Seq("event_id", "value", "flag", "note"))
    assert(s1("flag").dataType.typeName == "integer")
    engine.sql("UPDATE alt_t SET flag = 7")
    engine.sql("ALTER TABLE alt_t ALTER COLUMN flag TYPE LONG")
    assert(spark.table("alt_t").schema("flag").dataType.typeName == "long")
    assert(spark.table("alt_t").head().getLong(2) == 7L)
    engine.sql("ALTER TABLE alt_t RENAME COLUMN flag TO is_set")
    assert(spark.table("alt_t").columns.contains("is_set"))
    engine.sql("ALTER TABLE alt_t DROP COLUMN note")
    assert(!spark.table("alt_t").columns.contains("note"))
    intercept[Exception](engine.sql("ALTER TABLE alt_t DROP COLUMN nope"))
    // storage-engine knobs ack without touching the schema
    for (a <- Seq("SET PARAM maxUncommittedRows = 1000", "RESUME WAL",
      "SET TYPE BYPASS WAL", "SQUASH PARTITIONS", "DEDUP ENABLE UPSERT KEYS(ts)",
      "ALTER COLUMN is_set ADD INDEX"))
      assert(engine.sql(s"ALTER TABLE alt_t $a").head().getString(0) == "OK", a)
    assert(spark.table("alt_t").columns.toSeq == Seq("event_id", "value", "is_set"))
    engine.sql("DROP TABLE alt_t")
  }

  test("PG-compat session statements are validated no-ops; REINDEX acks") {
    for (s <- Seq("BEGIN", "BEGIN TRANSACTION", "COMMIT", "ROLLBACK", "DISCARD ALL",
      "CLOSE my_cursor", "UNLISTEN *", "RESET search_path", "DEALLOCATE p1",
      "DEALLOCATE PREPARE p2", "SET search_path = public", "SET SESSION statement_timeout TO 0"))
      assert(engine.sql(s).head().getString(0) == "OK", s"statement: $s")
    assert(engine.sql("REINDEX TABLE events COLUMN user_id LOCK EXCLUSIVE").head().getString(0) == "OK")
    intercept[Exception](engine.sql("REINDEX TABLE no_such_table"))
  }

  test("query_activity lists in-flight queries; CANCEL QUERY needs a live id") {
    engine.sql("SELECT count(*) FROM events").collect()
    val acts = engine.sql("SELECT query_id, query, state, username FROM query_activity()")
      .collect()
    // the listing query itself is in flight; completed queries dropped
    // (reference registry lists executing queries only)
    assert(acts.nonEmpty)
    assert(acts.exists(_.getString(1).contains("query_activity")))
    assert(!acts.exists(_.getString(1).contains("count(*) FROM events")))
    assert(acts.forall(_.getString(3) == "admin"))
    // cancelling an unknown / completed id errors like compileCancel
    intercept[Exception](engine.sql("CANCEL QUERY 999999999"))
    // a query whose ACTION is still running cancels by id
    val t = new Thread(() =>
      try engine.sql("SELECT sleep(5000) FROM events LIMIT 1").collect()
      catch { case _: Throwable => () })
    t.start()
    Thread.sleep(800)
    val live = engine.sql("SELECT query_id, query FROM query_activity()").collect()
      .find(_.getString(1).contains("sleep(5000)"))
    if (live.isDefined) { // timing-dependent; cancel when observed
      assert(engine.sql(s"CANCEL QUERY ${live.get.getLong(0)}")
        .head().getString(0) == "OK")
    }
    t.join(20000)
  }
}
