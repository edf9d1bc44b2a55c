package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** User-facing facade: `Engine(spark, dataDir).sql("...")` accepts the
  * reference's SQL dialect (time-series extensions included) over the
  * registered tables; `ts()` exposes the typed Scala DSL for the same
  * operators (sampleBy / latestOn / asofJoin / ...).
  */
class Engine(val spark: SparkSession, dataDir: String) {
  Tables.registerAll(spark, dataDir)
  Engine.registerFunctions(spark)

  def sql(query: String): DataFrame =
    graft.sql.QuestSql.sql(spark, graft.sql.QuestSql.verbatimStrings(query))

  /** Positional bind variables (`$1`, `$2`, ... — reference
    * `bind/BindVariableServiceImpl.java`).
    */
  def sql(query: String, args: Any*): DataFrame =
    graft.sql.QuestSql.sql(spark, graft.sql.QuestSql.verbatimStrings(query), args.toSeq)

  /** Named bind variables (`:name`). */
  def sqlNamed(query: String, args: Map[String, Any]): DataFrame =
    graft.sql.QuestSql.sql(spark, graft.sql.QuestSql.verbatimStrings(query), args)

  def table(name: String): DataFrame = spark.table(name)

  /** EXPLAIN passthrough — formatted physical plan of a dialect query. */
  def explain(query: String): String =
    sql(query).queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
}

object Engine {
  def apply(spark: SparkSession, dataDir: String): Engine = new Engine(spark, dataDir)

  /** Idempotent, once-per-session [[registerFunctions]]: the
    * per-statement SQL path pays the ~20 UDF/UDAF registrations once,
    * not per query. Every QuestSql statement goes through this, so a
    * dialect query can never fail on registration order (a query
    * referencing e.g. `weighted_stddev` must not depend on some earlier
    * query having registered the library).
    */
  def ensureFunctions(spark: SparkSession): Unit =
    if (SessionCatalog(spark).functionsRegistered.compareAndSet(false, true))
      registerFunctions(spark)

  /** Expose the custom function library to SQL (reference
    * FunctionFactory registry analogue — SURVEY §2.10).
    */
  def registerFunctions(spark: SparkSession): Unit = {
    // rnd_* lowerings salt their md5 stream with the long_sequence `x`
    // column; statements with no such column swap the salt to this
    // session variable (rewriteGeneratorFns), making rnd_double()
    // legal in any WHERE clause. NEVER name it `x`: a variable named
    // after a real column hijacks resolution inside HOF lambdas.
    try spark.sql("DECLARE OR REPLACE VARIABLE __rnd_salt BIGINT DEFAULT 0")
    catch { case _: Exception => () }
    graft.functions.GeoHashEncodeExpr.register(spark)
    graft.functions.Long256AddExpr.register(spark)
    graft.functions.Long256Bin.register(spark)
    graft.functions.DotProductExpr.register(spark)
    graft.functions.QdbStrExpr.register(spark)
    graft.functions.TopKPairsAgg.register(spark)
    graft.functions.Decimal256Ops.register(spark)
    graft.functions.Decimal256Agg.register(spark)
    graft.functions.HdrPercentile.register(spark)
    graft.functions.RangeWindow.register(spark)
    graft.functions.ArrayBuild.register(spark)
    spark.udf.register("ksum",
      org.apache.spark.sql.functions.udaf(graft.functions.Aggregators.KSum))
    spark.udf.register("nsum",
      org.apache.spark.sql.functions.udaf(graft.functions.Aggregators.NSum))
    spark.udf.register("corr_ref",
      org.apache.spark.sql.functions.udaf(graft.functions.Aggregators.CorrRef))
    spark.udf.register("weighted_stddev_rel_ref",
      org.apache.spark.sql.functions.udaf(new graft.functions.Aggregators.WeightedStdDev(false)))
    spark.udf.register("weighted_stddev_freq_ref",
      org.apache.spark.sql.functions.udaf(new graft.functions.Aggregators.WeightedStdDev(true)))
    // default-shaped heavy-hitters sketch (top 10, 256 counters); the
    // parameterized form is graft.functions.HeavyHitters.heavyHitters
    spark.udf.register("heavy_hitters",
      org.apache.spark.sql.functions.udaf(new graft.functions.HeavyHitters.MisraGries(256, 10)))
    // operational helper (reference functions/test/SleepFunctionFactory
    // contract: block ms, return true) — a UDF is correct here, the
    // side effect IS the function
    spark.udf.register("sleep", (ms: Long) => { Thread.sleep(ms); true })
    // ops diagnostics (reference catalogue/DumpMemoryUsageFunctionFactory,
    // DumpThreadStacksFunctionFactory, FlushQueryCacheFunctionFactory,
    // ReloadConfigFunctionFactory): perform the JVM-local action, log to
    // stderr like the reference logs, return the reference's `true` ack.
    // In local mode the UDF runs in the serving JVM; on a cluster the
    // dump lands in the evaluating executor's log — same as the
    // reference, whose dump goes to the node that ran the function.
    spark.udf.register("dump_memory_usage", () => {
      val mx = java.lang.management.ManagementFactory.getMemoryMXBean
      System.err.println(s"[graft] heap=${mx.getHeapMemoryUsage} nonheap=${mx.getNonHeapMemoryUsage}")
      true
    })
    spark.udf.register("dump_thread_stacks", () => {
      val tx = java.lang.management.ManagementFactory.getThreadMXBean
      tx.dumpAllThreads(false, false).foreach(t => System.err.println(s"[graft] $t"))
      true
    })
    spark.udf.register("flush_query_cache", () => {
      org.apache.spark.sql.SparkSession.getActiveSession.foreach(_.catalog.clearCache())
      true
    })
    // config is immutable per session here (Sessions.local builder) —
    // reload is an honest no-op acknowledged the reference's way
    spark.udf.register("reload_config", () => true)
    spark.udf.register("hydrate_table_metadata", (_: String) => true)
  }
}
