package graft.ops

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Database checkpoint / snapshot surface (reference
  * `SqlCompilerImpl.compileCheckpoint` — `CHECKPOINT CREATE|RELEASE`,
  * legacy `SNAPSHOT PREPARE|COMPLETE` — and
  * `catalogue/CheckpointStatusFunctionFactory`).
  *
  * The reference flushes writers and freezes the on-disk layout so an
  * external filesystem snapshot can run, then `RELEASE` unfreezes. Here
  * the durable layer is immutable parquet, so CREATE can go further and
  * *take* the snapshot itself: every registered table's files are
  * hard-linked (copy fallback across filesystems) into a checkpoint
  * directory along with a manifest, which makes the snapshot a
  * restorable, consistent view at near-zero cost — hard links share the
  * immutable data blocks, and overwrites in the live tree unlink rather
  * than mutate them. This scales: snapshot cost is O(files), not
  * O(bytes), exactly like the reference's filesystem-snapshot contract.
  *
  * `restore` re-registers every table in a checkpoint as the session's
  * live view (the reference's restore-on-startup path,
  * `DatabaseCheckpointAgent`).
  */
object Checkpoint {

  /** One snapshot in progress at a time, matching the reference's
    * single global checkpoint (second CREATE without RELEASE errors).
    */
  private case class State(dir: String, startedAtMicros: Long)
  @volatile private var current: Option[State] = None

  private def root(spark: SparkSession): String =
    spark.conf.getOption("graft.checkpoint.dir")
      .getOrElse(sys.props.getOrElseUpdate("graft.checkpoint.tmp",
        Files.createTempDirectory("graft_ckpt").toString))

  /** Hard-link `src` into `dst`, copying when the link fails (different
    * filesystem, or a filesystem without link support).
    */
  private def linkOrCopy(src: Path, dst: Path): Unit = {
    Files.createDirectories(dst.getParent)
    try Files.createLink(dst, src)
    catch { case _: Exception =>
      Files.copy(src, dst, StandardCopyOption.REPLACE_EXISTING)
    }
  }

  private def walkFiles(p: Path): Seq[Path] = {
    if (!Files.exists(p)) Seq.empty
    else if (Files.isRegularFile(p)) Seq(p)
    else {
      val s = Files.walk(p)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(Files.isRegularFile(_)).toList
      } finally s.close()
    }
  }

  /** CHECKPOINT CREATE: snapshot every registered table. Returns the
    * checkpoint directory.
    */
  def create(spark: SparkSession): String = synchronized {
    require(current.isEmpty, "checkpoint already in progress — CHECKPOINT RELEASE first")
    val startedAt = System.currentTimeMillis() * 1000L
    val dir = s"${root(spark)}/ckpt_$startedAt"
    val manifest = new StringBuilder("{\"tables\":[")
    var first = true
    graft.SessionCatalog(spark).paths.toSeq.sortBy(_._1).foreach { case (name, srcPath) =>
      val src = Paths.get(srcPath)
      val files = walkFiles(src)
      if (files.nonEmpty) {
        val tblDir = Paths.get(dir, name)
        var bytes = 0L
        files.foreach { f =>
          val rel = if (Files.isRegularFile(src)) f.getFileName
                    else src.relativize(f)
          linkOrCopy(f, tblDir.resolve(rel.toString))
          bytes += Files.size(f)
        }
        if (!first) manifest ++= ","
        first = false
        manifest ++= s"""{"name":"$name","source":"$srcPath","files":${files.size},"bytes":$bytes}"""
      }
    }
    manifest ++= s"""],"started_at_micros":$startedAt}"""
    Files.createDirectories(Paths.get(dir))
    Files.writeString(Paths.get(dir, "manifest.json"), manifest.toString)
    current = Some(State(dir, startedAt))
    dir
  }

  def active: Boolean = current.isDefined

  /** WAL structural ops (drop/rename) arriving while a checkpoint is in
    * progress queue here and apply on RELEASE — the reference's
    * checkpoint blocks WAL apply, so the table stays visible until then.
    */
  private val pending = scala.collection.mutable.Buffer[() => Unit]()

  /** Queue `op` if a checkpoint is in progress, else run it now. The
    * active-check and enqueue share one synchronized block so a
    * release() racing the caller's own `active` check cannot strand the
    * op in the queue; the immediate-run path executes outside the lock.
    */
  def defer(op: () => Unit): Unit = {
    val runNow = synchronized {
      if (current.isDefined) { pending += op; false } else true
    }
    if (runNow) op()
  }

  /** CHECKPOINT RELEASE: end the in-progress checkpoint. The snapshot
    * directory is kept (it is the backup); only the "in progress" gate
    * clears, as in the reference — then the queued WAL ops drain.
    */
  def release(): Unit = synchronized {
    require(current.isDefined, "no checkpoint in progress")
    current = None
    val ops = pending.toList
    pending.clear()
    ops.foreach(op => try op() catch { case _: Exception => () })
  }

  /** checkpoint_status(): one row, (in_progress, started_at) — reference
    * CheckpointStatusFunctionFactory column set.
    */
  def status(spark: SparkSession): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val st = current
    Seq((st.isDefined, st.map(_.startedAtMicros)))
      .toDF("in_progress", "started_at_us")
      .withColumn("started_at", timestamp_micros(col("started_at_us")))
      .drop("started_at_us")
  }

  /** Re-register every table found in a checkpoint directory as the
    * session's live view (restore-on-startup path). Tables restore to
    * their snapshot state regardless of what happened to the live tree
    * since.
    */
  def restore(spark: SparkSession, checkpointDir: String): Seq[String] = {
    val base = Paths.get(checkpointDir)
    require(Files.isDirectory(base), s"no checkpoint at $checkpointDir")
    import scala.jdk.CollectionConverters._
    val tables = Files.list(base).iterator().asScala
      .filter(Files.isDirectory(_)).map(_.getFileName.toString).toList.sorted
    tables.foreach { name =>
      val df = spark.read.parquet(s"$checkpointDir/$name")
      df.createOrReplaceTempView(name)
      graft.SessionCatalog(spark).update(name)(_.copy(path = Some(s"$checkpointDir/$name")))
    }
    graft.Catalog.invalidateMetaViews(spark)
    tables
  }
}
