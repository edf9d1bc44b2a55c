package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** Live view (reference `griffin/engine/lv/LiveViewRecordCursorFactory`
  * — push-refreshed view serving a hot in-memory tail fenced by
  * `seam_ts` over the durable store).
  *
  * Spark shape: the SAME foreachBatch that applies a micro-batch to the
  * durable table also refreshes an in-memory "tail" view holding rows
  * newer than the last fully-applied seam. Readers get
  * durable-up-to-seam ∪ tail — always-fresh without waiting for
  * parquet visibility, and exactly-once because the tail swap happens
  * after the durable append (a re-read after the swap sees each row on
  * exactly one side of the seam).
  */
class LiveView private (spark: SparkSession, val name: String,
                        tableDir: String, tsCol: String) {
  @volatile private var seamUs: Long = Long.MinValue
  @volatile private var txn: Long = -1L

  private[graft] def onBatch(batch: DataFrame, batchId: Long, dedupKeys: Seq[String]): Unit = {
    import org.apache.spark.sql.functions._
    val rows = batch.persist()
    try {
      // 1. publish the hot tail FIRST: while the parquet apply is in
      // flight, a concurrent reader sees durable-up-to-the-OLD-seam ∪
      // this tail — the reference's hot-tail-over-durable serve shape
      // (griffin/engine/lv/, seam_ts as the fence), instead of waiting
      // out parquet visibility
      rows.filter(col(tsCol).isNotNull)
        .filter(unix_micros(col(tsCol)) > seamUs)
        .createOrReplaceTempView(s"${name}_tail")
      // 2. durable apply — the WAL-transaction analogue (batchId is the
      // seqTxn; Ingest.applyBatch is idempotent per batch id)
      Ingest.applyBatch(rows, batchId, tableDir, tsCol, dedupKeys)
      // 3. advance the fence, then drain the tail: at every instant a
      // reader sees each row on exactly one side of the seam
      val mx = rows.agg(max(unix_micros(col(tsCol)))).head()
      if (!mx.isNullAt(0)) seamUs = mx.getLong(0)
      txn = batchId
      rows.limit(0).createOrReplaceTempView(s"${name}_tail")
    } finally { rows.unpersist(); () }
  }

  /** Durable rows only (visible-once semantics). */
  def snapshot(): DataFrame = spark.read.parquet(tableDir)

  /** Seam-fenced live read: durable rows at-or-before the seam ∪
    * hot-tail rows after it — always-fresh and exactly-once, whichever
    * side of an in-flight apply the call lands on.
    */
  def read(): DataFrame = {
    import org.apache.spark.sql.functions._
    val seam = seamUs
    val durable0 = snapshot()
    val durable = (if (durable0.columns.contains("__day")) durable0.drop("__day") else durable0)
      .filter(unix_micros(col(tsCol)) <= seam)
    scala.util.Try(spark.table(s"${name}_tail")) match {
      case scala.util.Success(tail) =>
        durable.unionByName(tail.filter(unix_micros(col(tsCol)) > seam),
          allowMissingColumns = true)
      case _ => durable // no batch yet: durable only
    }
  }

  /** Current seam (µs) — everything at or before this instant is durable. */
  def seamMicros: Long = seamUs

  /** Last fully-applied transaction (micro-batch id) — the seqTxn fence:
    * readers holding a txn watermark can wait on it for read-your-writes.
    */
  def appliedTxn: Long = txn
}

object LiveView {
  /** Start a live view over a parsed stream. Returns (view, query). */
  def start(spark: SparkSession, stream: DataFrame, name: String,
            tableDir: String, checkpoint: String,
            tsCol: String, dedupKeys: Seq[String]): (LiveView, StreamingQuery) = {
    val lv = new LiveView(spark, name, tableDir, tsCol)
    graft.SessionCatalog(spark).update(name)(
      _.copy(view = Some(graft.TableMeta.LiveView(tableDir, () => lv.seamMicros))))
    val q = stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (b: DataFrame, id: Long) => lv.onBatch(b, id, dedupKeys) }
      .start()
    (lv, q)
  }
}

/** Aggregated live view — the reference's incremental live-view engine
  * (`griffin/engine/lv/LiveViewRecordCursorFactory`, refresh fencing in
  * `cairo/lv/LiveViewCheckpointGenerationTracker`, apply-lag bound in
  * `cairo/lv/LiveViewApplyLagException.java`) re-expressed over the
  * mat-view dirty-range machinery:
  *
  *   - every micro-batch (≙ WAL seqTxn) applies to the durable SOURCE
  *     table and joins a PENDING tail of not-yet-folded batches;
  *   - a refresh (timer-driven, manual, or forced by backpressure)
  *     folds the pending tail into the aggregated VIEW incrementally —
  *     only the bucket/day ranges the folded txns dirtied recompute
  *     ([[MatView.refresh]]) — then advances the seqTxn fence;
  *   - [[read]] is always-fresh without waiting for a refresh: the
  *     durable aggregate (through the fence) merges with an aggregate
  *     over the pending tail, bucket-wise, using caller-supplied merge
  *     expressions. Aggregates must therefore be decomposable
  *     (sum/count/min/max; avg rides as sum+count) — the same contract
  *     the reference imposes on its incrementally-maintained functions;
  *   - if the pending tail exceeds `maxLagBatches`, the NEXT batch pays
  *     a synchronous fold before it is accepted: the stream thread
  *     stalls, which is Spark's natural analogue of the reference
  *     throwing `LiveViewApplyLagException` at the applier when the
  *     refresh job falls behind.
  *
  * Readers racing a concurrent refresh can hit rewritten view files
  * (dynamic partition overwrite swaps them); like the reference's
  * generation-pinned cursors, a reader either sees a consistent
  * generation or fails fast and retries — it never double-counts,
  * because the fence and the pending set swap atomically under the
  * view lock.
  */
class LiveAggView private[streaming] (spark: SparkSession,
                                      d: MatView.Definition,
                                      mergeAggs: Seq[(String, org.apache.spark.sql.Column)],
                                      dedupKeys: Seq[String],
                                      maxLagBatches: Int) {
  import org.apache.spark.sql.functions._

  private var pending = Vector.empty[(Long, DataFrame)] // (seqTxn, persisted rows)
  @volatile private var fence: Long = -1L               // last txn folded into the view

  private[graft] def onBatch(batch: DataFrame, batchId: Long): Unit = {
    // Backpressure BEFORE accepting more work: the fold happens on the
    // stream thread, so an over-lagged view slows its own applier.
    if (synchronized(pending.size >= maxLagBatches)) refreshNow()
    val rows = batch.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    rows.count() // materialize: the tail must survive past this micro-batch
    // apply + enqueue under the view lock: a fold that runs concurrently
    // must either see this txn in BOTH the dirty markers and the pending
    // set, or in neither — otherwise a batch applied mid-fold would be
    // folded into the view yet stay pending (double count on read)
    synchronized {
      Ingest.applyBatch(rows, batchId, d.sourceDir, d.tsCol, dedupKeys)
      pending :+= (batchId, rows)
    }
  }

  /** Fold the pending tail into the durable aggregate (dirty ranges
    * only), advance the seqTxn fence, release the folded tail. Runs
    * under the view lock — applies stall while a fold is in flight
    * (that stall IS the apply-lag backpressure).
    */
  def refreshNow(): Unit = {
    val folded = synchronized {
      if (pending.isEmpty) Vector.empty[(Long, DataFrame)]
      else {
        val toFold = pending
        MatView.refresh(spark, d)
        fence = toFold.map(_._1).max
        pending = Vector.empty
        toFold
      }
    }
    folded.foreach(_._2.unpersist(false))
  }

  /** Always-fresh read: durable aggregate (through the fence) merged
    * bucket-wise with an aggregate over the pending, not-yet-folded
    * tail. The two sides partition by seqTxn, so every source row
    * contributes exactly once.
    */
  def read(): DataFrame = {
    val (tail, _) = synchronized((pending, fence))
    // the view dir may not exist (or exist empty) before the first fold
    val durable = scala.util.Try(spark.read.parquet(d.viewDir).drop("__day"))
      .getOrElse(null)
    val tailAgg =
      if (tail.isEmpty) null
      else MatView.aggregate(tail.map(_._2).reduce(_ unionByName _), d).drop("__day")
    (durable, tailAgg) match {
      case (null, null) => spark.emptyDataFrame
      case (v, null) => v
      case (null, t) => t
      case (v, t) =>
        v.unionByName(t)
          .groupBy((col("ts") +: d.keys.map(col)): _*)
          .agg(mergeAggs.head._2.as(mergeAggs.head._1),
            mergeAggs.tail.map { case (n, c) => c.as(n) }: _*)
    }
  }

  /** seqTxn through which the durable VIEW is refreshed. */
  def fencedTxn: Long = fence

  /** seqTxns applied to the source but not yet folded into the view. */
  def pendingTxns: Seq[Long] = synchronized(pending.map(_._1))
}

object LiveAggView {
  /** Start an aggregated live view over a parsed stream; optional TIMER
    * refresh. Returns (view, query, timerHandle).
    */
  def start(spark: SparkSession, stream: DataFrame, d: MatView.Definition,
            mergeAggs: Seq[(String, org.apache.spark.sql.Column)],
            checkpoint: String, dedupKeys: Seq[String],
            maxLagBatches: Int = 8,
            timerPeriod: Option[java.time.Duration] = None)
      : (LiveAggView, StreamingQuery, Option[java.util.concurrent.ScheduledFuture[_]]) = {
    val lv = new LiveAggView(spark, d, mergeAggs, dedupKeys, maxLagBatches)
    val q = stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (b: DataFrame, id: Long) => lv.onBatch(b, id) }
      .start()
    val timer = timerPeriod.map { p =>
      val exec = java.util.concurrent.Executors.newSingleThreadScheduledExecutor(r => {
        val t = new Thread(r, "graft-liveagg-timer"); t.setDaemon(true); t
      })
      exec.scheduleAtFixedRate(() => {
        try lv.refreshNow()
        catch { case e: Exception => System.err.println(s"[liveagg] refresh failed: $e") }
      }, p.toMillis, p.toMillis, java.util.concurrent.TimeUnit.MILLISECONDS)
    }
    (lv, q, timer)
  }
}
