package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Test-data table loaders.
  *
  * The reference engine stores tables as time-partitioned columnar
  * partitions with a designated timestamp (see
  * `/root/reference/core/src/main/java/io/questdb/cairo/TableReader.java`);
  * here the durable format is Parquet and the designated-timestamp
  * convention is carried in [[Tables.designatedTs]].
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Designated timestamp column per table (QuestDB `timestamp(ts)`). */
  val designatedTs: Map[String, String] = Map(
    "events" -> "ts",
    "orders" -> "o_orderdate",
    "lineitem" -> "l_shipdate")

  /** Scan DataFrame of a fixture table, memoized per session and dir.
    * `spark.read.parquet` pays file listing + footer schema inference on
    * every call (~50-100 ms); a workload touching the same base tables
    * hundreds of times repays nothing for repeating it. The cached value
    * is a LAZY plan — every action over it still scans the parquet files
    * from disk (no data/result caching, only the file index + schema are
    * reused, exactly like a registered temp view). Cleared whenever DDL
    * invalidates the session's registration.
    */
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    SessionCatalog(spark).fixtureScans.computeIfAbsent((dir, name),
      _ => load0(spark, dir, name))

  /** Normalize timestamp columns so every operator downstream sees plain
    * `TimestampType` regardless of how the parquet writer spelled them:
    *
    *  - TIMESTAMP(NANOS) (older testdata generations): Spark's reader
    *    rejects it unless `spark.sql.legacy.parquet.nanosAsLong=true`
    *    ([[Sessions.builder]]); the ns long is truncated to micros — the
    *    same thing DuckDB does when it reads the file.
    *  - `isAdjustedToUTC=false` micros (pandas-written testdata): Spark
    *    reads TIMESTAMP_NTZ; cast to TimestampType — value-preserving
    *    because the session timezone is pinned to UTC.
    */
  def load0(spark: SparkSession, dir: String, name: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val df = spark.read.parquet(s"$dir/$name.parquet")
    val nsFixed =
      if (name == "events" && df.schema("ts").dataType == LongType)
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      else df
    val ntzCols = nsFixed.schema.fields.filter(_.dataType == TimestampNTZType)
    ntzCols.foldLeft(nsFixed) { (d, f) =>
      d.withColumn(f.name, col(f.name).cast(TimestampType))
    }
  }

  def events(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, "events")

  /** Parallelism floor for compute-heavy stages over small scans.
    * Spark cannot split a parquet file below row-group granularity, so
    * a small single-row-group file scans as ONE task no matter how many
    * cores the session has, and a per-row-expensive stage downstream
    * (codec decode, regex redaction, shingle/token explode) serializes
    * on that task (guide §2.5 input skew / §6 scan parallelism). When
    * the source file would scan in fewer splits than the session's
    * defaultParallelism, redistribute rows round-robin before the heavy
    * stage; when the scan already yields enough splits — any real-scale
    * input — this is a NO-OP, so the exchange only exists where it buys
    * parallelism and nothing changes at cluster scale. Deterministic:
    * round-robin repartition local-sorts its input first
    * (spark.sql.execution.sortBeforeRepartition), and every caller is
    * an order-insensitive aggregation or ends in ORDER BY.
    */
  def spread(spark: SparkSession, df: DataFrame): DataFrame = {
    val maxSplit = spark.sessionState.conf.filesMaxPartitionBytes
    val par = spark.sparkContext.defaultParallelism
    scanBytes(df) match {
      case Some(bytes) if (bytes + maxSplit - 1) / maxSplit < par =>
        df.repartition(par)
      case _ => df
    }
  }

  /** Total data-file bytes behind a scan, read from the plan's own file
    * index. A bare `java.io.File(path).length()` is wrong everywhere
    * except a single-file local table: it returns 0 on HDFS/S3/ABFS and
    * the ~4 KB directory-entry size for directory-layout parquet tables
    * (what Spark writers and `ops.Mutations.swap` produce), which would
    * invert the "no-op at real scale" gate into an unconditional
    * reshuffle. The `FileIndex` behind the relation sums leaf data files
    * on any Hadoop filesystem. Leaves that are not file scans
    * (in-memory relations, checkpoints) report unknown — treated as
    * large so the gate never adds an exchange it cannot justify.
    */
  private def scanBytes(df: DataFrame): Option[Long] = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    // analyzed, not logical: a fresh `spark.read.parquet` Dataset's
    // unanalyzed plan is still an UnresolvedDataSource leaf
    val sizes = df.queryExecution.analyzed.collectLeaves().map {
      case lr: LogicalRelation =>
        lr.relation match {
          case fs: HadoopFsRelation => Some(fs.location.sizeInBytes)
          case _ => None
        }
      case _ => None
    }
    if (sizes.nonEmpty && sizes.forall(_.isDefined)) Some(sizes.flatten.sum)
    else None
  }

  /** [[load]] with the [[spread]] parallelism floor applied — for
    * queries whose first stage does heavy per-row compute on the raw
    * rows (the LLM-pipeline text/codec operators).
    */
  def loadSpread(spark: SparkSession, dir: String, name: String): DataFrame =
    spread(spark, load(spark, dir, name))

  /** Forget a session's registration so the next [[registerAll]] rebuilds
    * the temp views (called when DDL/DML may have replaced one of them).
    */
  private[graft] def forgetRegistration(spark: SparkSession): Unit = {
    val cat = SessionCatalog(spark)
    val dir = Option(cat.viewsDir)
    cat.viewsDir = null
    cat.fixtureScans.clear()
    // a mutation (ops.Mutations.swap) replaces files under the dir, so a
    // sibling session's memoized DataFrame over the same dir would keep
    // a stale file index that load() used to rebuild per call
    dir.foreach(d => SessionCatalog.all.foreach(_.fixtureScans.keySet.removeIf(_._1 == d)))
  }

  /** Register every test table as a temp view. Parquet footer reads and
    * view (re-)registration cost ~0.3 s for the 10 tables, so repeat
    * calls for the same (session, dir) are no-ops; switching `dir`
    * re-registers and invalidates the cached catalog meta-views.
    */
  def registerAll(spark: SparkSession, dir: String): Unit =
    if (SessionCatalog(spark).claimRegistration(dir)) {
      names.foreach(n => load0(spark, dir, n).createOrReplaceTempView(n))
      Catalog.invalidateMetaViews(spark)
    }
}
