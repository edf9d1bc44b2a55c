package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate
import org.apache.spark.sql.util.QueryExecutionListener

/** One clock for the harness: epoch nanoseconds with nanoTime resolution,
  * so client-side times and Spark's epoch-millisecond event times share
  * an axis.
  */
object Clock {
  private val base = System.currentTimeMillis() * 1000000L
  private val nano0 = System.nanoTime()
  def now(): Long = base + (System.nanoTime() - nano0)
  def ms(epochMs: Long): Long = epochMs * 1000000L
}

final case class Span(id: Long, parent: Long, op: Long, name: String, start: Long, end: Long)

final class JobRec(val id: Int, val group: String, val execId: Long, val start: Long,
                   val stageIds: Seq[Int]) {
  var end: Long = -1L
}

final class StageRec(val id: Int, val submit: Long) {
  var done: Long = -1L
  var firstLaunch: Long = Long.MaxValue
  var tasks = 0
  val taskSpans = ArrayBuffer.empty[(Long, Long)]
  var runMs, cpuNs, gcMs, shWrite, shRead, spill, input, output = 0L
}

final case class PhaseRec(name: String, start: Long, end: Long)

/** Everything the traced run reads from Spark, through the public hooks
  * the benchmark registers itself: a SparkListener (jobs, stages, tasks,
  * AQE re-plans), a QueryExecutionListener (each executed plan's
  * `qe.tracker.phases`), and the codegen counters. Recording is off
  * unless `on`, so an untraced window pays only an idle callback.
  */
final class Recorder extends SparkListener with QueryExecutionListener {
  @volatile var on = false
  val jobs = ArrayBuffer.empty[JobRec]
  val stages = scala.collection.mutable.Map.empty[Int, StageRec]
  val phases = ArrayBuffer.empty[PhaseRec]
  val aqeUpdates = ArrayBuffer.empty[Long]            // execution ids
  @volatile var lastEvent = 0L

  private def touch(): Unit = lastEvent = System.nanoTime()

  override def onJobStart(e: SparkListenerJobStart): Unit = if (on) synchronized {
    touch()
    val p = Option(e.properties)
    val group = p.flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).orNull
    val exec = p.flatMap(x => Option(x.getProperty("spark.sql.execution.id")))
      .map(_.toLong).getOrElse(-1L)
    jobs += new JobRec(e.jobId, group, exec, Clock.ms(e.time), e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    touch()
    jobs.find(_.id == e.jobId).foreach(_.end = Clock.ms(e.time))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = if (on) synchronized {
    touch()
    val si = e.stageInfo
    stages(si.stageId) = new StageRec(si.stageId,
      Clock.ms(si.submissionTime.getOrElse(System.currentTimeMillis())))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    touch()
    stages.get(e.stageInfo.stageId).foreach(s =>
      s.done = Clock.ms(e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    touch()
    stages.get(e.stageId).foreach { s =>
      val ti = e.taskInfo
      s.tasks += 1
      s.firstLaunch = math.min(s.firstLaunch, Clock.ms(ti.launchTime))
      s.taskSpans += ((Clock.ms(ti.launchTime), Clock.ms(ti.finishTime)))
      Option(e.taskMetrics).foreach { m =>
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.shWrite += m.shuffleWriteMetrics.bytesWritten
        s.shRead += m.shuffleReadMetrics.totalBytesRead
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        s.input += m.inputMetrics.bytesRead
        s.output += m.outputMetrics.bytesWritten
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = if (on) e match {
    case u: SparkListenerSQLAdaptiveExecutionUpdate => synchronized { touch(); aqeUpdates += u.executionId }
    case _ =>
  }

  private def record(qe: QueryExecution): Unit = if (on) synchronized {
    touch()
    qe.tracker.phases.foreach { case (name, p) =>
      phases += PhaseRec(name, Clock.ms(p.startTimeMs), Clock.ms(p.endTimeMs))
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)

  /** Wait until the listener bus has been quiet for a while: events are
    * delivered asynchronously, and the layer numbers need all of them.
    */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    while (System.nanoTime() - lastEvent < 300000000L && System.nanoTime() < deadline)
      Thread.sleep(50)
  }
}

object Codegen {
  /** (classes compiled, ns spent compiling) so far in this JVM. */
  def snapshot(): (Long, Long) = (
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime)
}

/** Interval arithmetic for self times. */
object Intervals {
  /** Total length of the union of `xs`, clipped to [lo, hi]. */
  def covered(xs: Iterable[(Long, Long)], lo: Long, hi: Long): Long = {
    val c = xs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    c.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Exclusive attribution: every instant of the root span goes to the
    * deepest span active at that instant (the latest-started one on a tie),
    * so the self times of a tree always sum to the root's duration.
    * Returns self ns per span name.
    */
  def selfTimes(spans: Seq[Span]): Map[String, Long] = {
    val byId = spans.map(s => s.id -> s).toMap
    def depth(s: Span): Int = if (s.parent < 0 || !byId.contains(s.parent)) 0 else 1 + depth(byId(s.parent))
    val depths = spans.map(s => s.id -> depth(s)).toMap
    val cuts = spans.flatMap(s => Seq(s.start, s.end)).distinct.sorted
    val out = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    cuts.sliding(2).foreach {
      case Seq(a, b) if b > a =>
        val active = spans.filter(s => s.start <= a && s.end >= b)
        if (active.nonEmpty) {
          val top = active.maxBy(s => (depths(s.id), s.start))
          out(top.name) += b - a
        }
      case _ =>
    }
    out.toMap
  }
}
