package graft

import org.apache.spark.sql.functions._

/** SHOW / information_schema / pg_catalog emulation — the surface PG
  * clients and BI tools probe (reference SqlParser SHOW kinds, the
  * functions/catalogue package).
  */
class CatalogSpec extends SparkSpec {
  lazy val engine: Engine = Engine(spark, sfDir)

  test("SHOW TABLES lists the registered tables") {
    val names = engine.sql("SHOW TABLES").collect().map(_.getString(0))
    assert(Tables.names.forall(names.contains))
  }

  test("SHOW COLUMNS FROM events carries the reference column set and designated flag") {
    val out = engine.sql("SHOW COLUMNS FROM events")
    assert(out.columns.toSeq == Seq("column", "type", "indexed", "indexBlockCapacity",
      "symbolCached", "symbolCapacity", "symbolTableSize", "designated", "upsertKey",
      "indexType", "indexInclude"))
    val ts = out.filter(col("column") === "ts").head()
    assert(ts.getAs[String]("type") == "TIMESTAMP")
    assert(ts.getAs[Boolean]("designated"))
    assert(!out.filter(col("column") === "value").head().getAs[Boolean]("designated"))
  }

  test("symbolTableSize comes from the write-time dictionary, never a data scan") {
    // reference ShowColumnsRecordCursorFactory.java:140: symbol count is
    // O(1) symbol-map metadata (+1 when a NULL was written). The dialect
    // write paths feed graft.Catalog's symbol dictionary; table_columns
    // must read ONLY that registry.
    engine.sql("CREATE TABLE symt (s SYMBOL, v LONG)")
    try {
      engine.sql("INSERT INTO symt VALUES ('a', 1), ('b', 2), ('a', 3)")
      def symSize: Long = engine.sql("SELECT symbolTableSize FROM table_columns('symt') " +
        "WHERE \"column\" = 's'").head().getLong(0)
      assert(symSize == 2)
      engine.sql("INSERT INTO symt VALUES ('c', 4), (NULL, 5)")
      assert(symSize == 4) // 3 values + the null entry
      engine.sql("UPDATE symt SET s = 'd' WHERE v = 1")
      assert(symSize == 5) // UPDATE minted 'd'; dictionaries never shrink
      engine.sql("TRUNCATE TABLE symt")
      assert(symSize == 0) // truncate resets the symbol maps
      // the registry answers without touching table data: the plan of
      // table_columns must contain no scan of symt
      val plan = engine.sql("SELECT * FROM table_columns('symt')")
        .queryExecution.optimizedPlan.toString
      assert(!plan.toLowerCase.contains("symt"))
    } finally engine.sql("DROP TABLE symt")
  }

  test("symbol dictionary driver memory is BOUNDED: exact to the cap, HLL past it") {
    // an abusive high-cardinality symbol column must not grow the
    // driver-side map without bound (the reference's SymbolMapWriter
    // lives on disk): past the cap the dictionary degrades to a fixed
    // 4 KB HLL register file and symbolTableSize answers the estimate
    val saved = Catalog.symbolDictCap
    Catalog.symbolDictCap = 1000
    try {
      val d = new Catalog.SymDict
      (1 to 800).foreach(i => d.add(s"sym_$i"))
      assert(!d.overflowed && d.size == 800) // exact below the cap
      (801 to 50000).foreach(i => d.add(s"sym_$i"))
      assert(d.overflowed)
      assert(d.values.isEmpty) // the exact set was RELEASED, not kept
      val est = d.size
      assert(est > 45000 && est < 55000, s"HLL estimate $est for 50000")
    } finally Catalog.symbolDictCap = saved
  }

  test("SHOW CREATE TABLE emits a ddl row with the designated ts clause") {
    val ddl = engine.sql("SHOW CREATE TABLE events").head().getAs[String]("ddl")
    assert(ddl.startsWith("CREATE TABLE 'events'"))
    assert(ddl.contains("value DOUBLE"))
    assert(ddl.contains("timestamp(ts) PARTITION BY DAY"))
  }

  test("SHOW PARTITIONS reports the reference 18-column day partitions") {
    val rows = engine.sql("SHOW PARTITIONS FROM events").collect()
    assert(rows.length > 1) // events spans many days
    assert(rows.head.schema.fieldNames.toSeq.take(3) == Seq("index", "partitionBy", "name"))
    assert(rows.forall(_.getAs[Long]("numRows") > 0))
    assert(rows.forall(!_.getAs[Boolean]("isParquet"))) // never converted
  }

  test("PG-compat one-row SHOW parameters") {
    assert(engine.sql("SHOW TIME ZONE").head().getString(0) == "UTC")
    assert(engine.sql("SHOW SERVER_VERSION").head().getString(0).startsWith("12.3"))
    assert(engine.sql("SHOW TRANSACTION ISOLATION LEVEL").head().getString(0) == "read committed")
    assert(engine.sql("SHOW SEARCH_PATH").head().getString(0).contains("public"))
    assert(engine.sql("SHOW PARAMETERS").count() >= 3)
  }

  test("information_schema.tables and .columns reflect the live catalog") {
    val t = engine.sql(
      "SELECT table_name FROM information_schema.tables WHERE table_schema = 'public'")
      .collect().map(_.getString(0))
    assert(Tables.names.forall(t.contains))
    val c = engine.sql(
      "SELECT column_name, data_type FROM information_schema.columns " +
        "WHERE table_name = 'events' ORDER BY ordinal_position")
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(c.map(_._1).contains("ts"))
    assert(c.toMap.apply("value") == "DOUBLE")
  }

  test("catalog table functions resolve in FROM clauses") {
    val t = engine.sql("SELECT table_name FROM tables() ORDER BY table_name")
      .collect().map(_.getString(0))
    assert(Tables.names.forall(t.contains))
    val cols = engine.sql(
      "SELECT `column`, designated FROM table_columns('events') WHERE designated")
      .collect()
    assert(cols.length == 1 && cols.head.getString(0) == "ts")
    assert(engine.sql("SELECT * FROM table_partitions('events')").count() > 1)
    assert(engine.sql("SELECT * FROM keywords() WHERE keyword = 'asof'").count() == 1)
    assert(engine.sql("SELECT * FROM functions() WHERE name = 'ksum'").count() == 1)
    val storage = engine.sql(
      "SELECT row_count FROM table_storage() WHERE table_name = 'events'").head().getLong(0)
    assert(storage == Tables.events(spark, sfDir).count())
    val walNames = engine.sql("SELECT name FROM wal_tables()").collect().map(_.getString(0))
    assert(Tables.names.forall(walNames.contains)) // DDL'd WAL tables may add rows
  }

  test("generate_series table function") {
    val xs = engine.sql("SELECT * FROM generate_series(2, 10, 4) ORDER BY 1")
      .collect().map(_.getLong(0))
    assert(xs.toSeq == Seq(2L, 6L, 10L))
    assert(engine.sql("SELECT count(*) AS n FROM generate_series(1, 100)").head().getLong(0) == 100)
  }

  test("pg_catalog: pg_class joins pg_attribute and pg_type like a PG client") {
    val out = engine.sql(
      """SELECT a.attname, t.typname FROM pg_catalog.pg_class c
        |JOIN pg_catalog.pg_attribute a ON a.attrelid = c.oid
        |JOIN pg_catalog.pg_type t ON t.oid = a.atttypid
        |WHERE c.relname = 'events' ORDER BY a.attnum""".stripMargin)
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(out.nonEmpty)
    assert(out.toMap.get("value").contains("double"))
  }

  test("ops/monitoring table functions: pools, memory, writer metrics, build") {
    // reference column sets, column-for-column
    val rp = engine.sql("SELECT table_name, owner_thread_id, last_access_timestamp, " +
      "current_txn FROM reader_pool() ORDER BY table_name").collect()
    assert(rp.map(_.getString(0)).contains("events"))
    val wp = engine.sql(
      "SELECT table_name, ownership_reason FROM writer_pool()").collect()
    assert(wp.nonEmpty && wp.forall(_.getString(1) == "none"))
    // memory rows are live JVM pools — heap used must be a real number
    val mm = engine.sql("SELECT memory_tag, bytes FROM memory_metrics()")
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(mm("HEAP_USED") > 0 && mm.keys.exists(_.startsWith("POOL_")))
    val twm = engine.sql("SELECT name, value FROM table_writer_metrics()")
      .collect().map(_.getString(0))
    assert(twm.contains("commits") && twm.contains("o3_commits"))
    val b = engine.sql("SELECT build() AS b").head().getString(0)
    assert(b.startsWith("graft (Spark ") && b.contains("JDK"))
    assert(engine.sql("SELECT wait_wal_table('events') AS ok").head().getBoolean(0))
  }

  test("files() walks a directory tree with the reference column set; copy roots") {
    val dir = java.nio.file.Files.createTempDirectory("graft_files").toFile
    val sub = new java.io.File(dir, "sub"); sub.mkdirs()
    java.nio.file.Files.write(new java.io.File(dir, "a.txt").toPath, Array.fill(2048)(7.toByte))
    java.nio.file.Files.write(new java.io.File(sub, "b.bin").toPath, Array[Byte](1, 2, 3))
    val rows = engine.sql(s"SELECT path, diskSize, diskSizeHuman, modifiedTime " +
      s"FROM files('${dir.getPath}') ORDER BY path").collect()
    assert(rows.length == 2)
    assert(rows.head.getString(0).endsWith("a.txt") && rows.head.getLong(1) == 2048L)
    assert(rows.head.getString(2) == "2.0 KiB" && rows(1).getString(2) == "3 B")
    // unset copy roots → empty listings, not errors (clear the roots for
    // this check — RefParitySpec's glob fixture may have set them)
    val savedRoot = System.getProperty("graft.copy.input.root")
    try {
      System.clearProperty("graft.copy.input.root")
      assert(engine.sql("SELECT * FROM import_files()").count() == 0)
      assert(engine.sql("SELECT * FROM export_files()").count() == 0)
    } finally if (savedRoot != null) System.setProperty("graft.copy.input.root", savedRoot)
    assert(engine.sql("SELECT pg_advisory_unlock_all() AS x").head().isNullAt(0))
  }

  test("pg_proc lists registered functions; pg_extension empty; partkeydef null") {
    val r = engine.sql(
      "SELECT proname, prokind FROM pg_catalog.pg_proc WHERE proname = 'vec_dot'").collect()
    assert(r.length == 1 && r.head.getString(1) == "f")
    assert(engine.sql("SELECT * FROM pg_catalog.pg_extension").count() == 0)
    assert(engine.sql("SELECT pg_get_partkeydef(1259) AS d").head().isNullAt(0))
  }

  test("pg_proc lists exactly the session's public function names, current database included") {
    engine.sql("SELECT 1 AS x") // the dialect registers its function library
    def check(): Unit = {
      val procs = Catalog.pgProc(spark).collect().map(_.getString(1)).toSet
      val public = spark.catalog.listFunctions().collect().map(_.name)
        .filterNot(_.startsWith("__")).toSet
      assert(procs == public, s"only in pg_proc: ${procs -- public}; only public: ${public -- procs}")
    }
    check()
    spark.sql("CREATE DATABASE IF NOT EXISTS proc_db")
    try {
      spark.catalog.setCurrentDatabase("proc_db")
      spark.sql("CREATE FUNCTION proc_probe(x INT) RETURNS INT RETURN x + 1")
      check()
      assert(Catalog.pgProc(spark).collect().exists(_.getString(1) == "proc_probe"))
    } finally {
      spark.catalog.setCurrentDatabase("default")
      spark.sql("DROP DATABASE proc_db CASCADE")
    }
  }

  test("a dropped static pg_catalog view is rebuilt by the next pg_catalog query") {
    assert(engine.sql("SELECT * FROM pg_catalog.pg_roles").count() == 0)
    spark.sql("DROP VIEW pg_catalog.pg_roles")
    assert(!spark.catalog.tableExists("pg_catalog.pg_roles"))
    assert(engine.sql("SELECT oid FROM pg_catalog.pg_type WHERE typname = 'int'").count() == 1)
    assert(spark.catalog.tableExists("pg_catalog.pg_roles"))
    assert(engine.sql("SELECT rolname FROM pg_catalog.pg_roles").count() == 0)
  }

  test("pg_catalog long tail: discovery relations empty with reference schemas") {
    // the relations JDBC metadata discovery and psql tab-completion probe
    for ((t, probe) <- Seq(
      "pg_attrdef" -> "adrelid", "pg_description" -> "description",
      "pg_enum" -> "enumlabel", "pg_index" -> "indisprimary",
      "pg_inherits" -> "inhparent", "pg_locks" -> "granted",
      "pg_range" -> "rngtypid", "pg_roles" -> "rolname")) {
      val df = engine.sql(s"SELECT * FROM pg_catalog.$t")
      assert(df.columns.contains(probe), s"$t missing column $probe")
      assert(df.count() == 0, s"$t must be empty by construction")
    }
    // a realistic psql join probe: index discovery for a relation
    assert(engine.sql(
      """SELECT c.relname, i.indisprimary FROM pg_catalog.pg_class c
        |JOIN pg_catalog.pg_index i ON i.indrelid = c.oid""".stripMargin).count() == 0)
  }

  test("export_activity empty; ops diagnostics ack true") {
    val ea = engine.sql("SELECT * FROM export_activity()")
    assert(ea.columns.toSeq == Seq("export_id", "worker_id", "username",
      "start_time", "phase", "request_source", "export_path", "export_sql",
      "message") && ea.count() == 0)
    assert(engine.sql("SELECT dump_memory_usage() AS a, dump_thread_stacks() AS b, " +
      "flush_query_cache() AS c, reload_config() AS d, " +
      "hydrate_table_metadata('lineitem') AS e").collect()
      .head.toSeq == Seq(true, true, true, true, true))
  }

  test("wal_transactions lists the applied micro-batch trail") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("wal_tx").toString
    val b0 = Seq((1L, "a", java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
      .toDF("id", "v", "ts")
    graft.streaming.Ingest.applyBatch(b0, 0L, dir, "ts", Nil)
    val b1 = Seq((2L, "b", java.sql.Timestamp.valueOf("2024-01-01 01:00:00")))
      .toDF("id", "v", "ts")
    graft.streaming.Ingest.applyBatch(b1, 1L, dir, "ts", Nil)
    val rows = engine.sql(s"SELECT sequencerTxn, walId, rowCount FROM wal_transactions('$dir') " +
      "ORDER BY sequencerTxn").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(0L, 1L))
    assert(rows.forall(r => r.getInt(1) == 1 && r.isNullAt(2)))
  }
}
