package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Engine, Sessions, SparkEntry}
import graft.http.{PgWireServer, RestServer}

/** One timed operation as the client saw it. `traced` marks operations
  * started while the recorder was on.
  */
final case class Op(kind: String, name: String, client: Int, start: Long, end: Long,
                    ok: Boolean, err: String, traced: Boolean,
                    firstRow: Long = -1L, bytesIn: Long = 0L, id: Long = -1L, warm: Boolean = false) {
  def ms: Double = (end - start) / 1e6
}

/** Heap occupancy right after a full GC, taken at fixed points (after
  * set-up and at the end of the timed window); the largest is the peak.
  */
object Heap {
  val samples = ArrayBuffer.empty[Double]
  def peak: Double = if (samples.isEmpty) 0.0 else samples.max
  def sample(): Unit = {
    // repeated collections with pauses, so that what Spark's ContextCleaner
    // releases after one collection is gone by the last
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(200) }
    val used = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    synchronized { samples += used / 1048576.0 }
  }
}

/** The JVM side of the benchmark: builds the program's session, sets a
  * workload up several times, drives it for the given seconds, checks the
  * outputs outside the timed section and writes `result.json` (plus
  * `spans.jsonl` when traced) to `--out`.
  */
object Harness {
  private val args = mutable.Map.empty[String, String]
  private def arg(k: String): String = args.getOrElse(k, sys.error(s"missing --$k"))

  // untimed warm-up before the timed window: in a fresh JVM the first
  // operations run up to twice as slow while the JIT and Spark's caches fill
  private val WarmPasses = 1     // pack_sf01: whole passes after the check pass
  private val WarmCommits = 4    // ilp_ingest: creates all three tables, then updates one

  private val ops = ArrayBuffer.empty[Op]
  private val failures = ArrayBuffer.empty[String]        // failed operations
  private val checkFailures = ArrayBuffer.empty[String]   // wrong outputs
  private val result = mutable.LinkedHashMap.empty[String, Any]
  private val spans = ArrayBuffer.empty[Span]
  private val spanSeq = new java.util.concurrent.atomic.AtomicLong(0L)
  private val rec = new Recorder

  /** Record a span; a root span (parent < 0) is its own op. */
  private def span(parent: Long, op: Long, name: String, start: Long, end: Long): Long = {
    val id = spanSeq.incrementAndGet()
    spans.synchronized(spans += Span(id, parent, if (parent < 0) id else op, name, start, end))
    id
  }

  def main(argv: Array[String]): Unit = {
    argv.grouped(2).foreach { case Array(k, v) => args(k.stripPrefix("--")) = v }
    val cpus = arg("cpus").toInt
    val tmp = arg("tmp")
    val spark = Sessions.builder(s"local[$cpus]", math.max(cpus, 4))
      .config("spark.local.dir", s"$tmp/spark-local")
      .config("spark.sql.warehouse.dir", s"$tmp/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.addSparkListener(rec)
    result("jvm_to_session_s") = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    try arg("workload") match {
      case "pack_sf01" => pack(spark)
      case "pg_serving" => serving(spark)
      case "ilp_ingest" => ingest(spark)
      case "capture" => capture(spark)
      case w => sys.error(s"unknown workload $w")
    } catch {
      case e: Throwable =>
        checkFailures += s"harness: $e"
        e.printStackTrace()
    }
    result("heap_peak_mb") = Heap.peak
    result("heap_samples_mb") = Heap.samples
    result("ops") = ops.map(o => Map(
      "kind" -> o.kind, "name" -> o.name, "client" -> o.client, "ms" -> o.ms, "ok" -> o.ok,
      "err" -> o.err, "traced" -> o.traced, "warm" -> o.warm,
      "first_ms" -> (if (o.firstRow > 0) (o.firstRow - o.start) / 1e6 else o.ms),
      "bytes_in" -> o.bytesIn))
    result("failures") = failures
    result("check_failures") = checkFailures
    val out = arg("out")
    Files.write(Paths.get(out, "result.json"), Json(result).getBytes(UTF_8))
    if (spans.nonEmpty)
      Files.write(Paths.get(out, "spans.jsonl"), spans.map(s => Json(Map(
        "id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
        "start_ns" -> s.start, "end_ns" -> s.end))).mkString("", "\n", "\n").getBytes(UTF_8))
    spark.stop()
    System.exit(0)
  }

  private def seconds: Double = arg("seconds").toDouble
  private def traced: Boolean = arg("trace") == "1"
  private def dataDir: String = arg("data")

  /** Set the workload up `reps` times (disposing all but the last) and
    * record each set-up's duration; the median is `setup_s`.
    */
  private def setupReps[T](make: Int => T)(dispose: T => Unit): T = {
    val reps = arg("setup-reps").toInt
    val times = ArrayBuffer.empty[Double]
    var last: Option[T] = None
    (1 to reps).foreach { i =>
      last.foreach(dispose)
      val s = Clock.now()
      last = Some(make(i))
      times += (Clock.now() - s) / 1e9
    }
    result("setup_s") = times
    Heap.sample()
    last.get
  }

  private def err(e: Throwable): String = {
    val m = Option(e.getMessage).getOrElse(e.toString)
    e.getClass.getSimpleName + ": " + m.linesIterator.take(2).mkString(" ").take(300)
  }

  // ------------------------------------------------------------- pack

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Order-independent (rows, hash) of a DataFrame, computed in Spark:
    * each row's JSON rendering is hashed and the hashes are summed
    * exactly. Doubles are rendered at 10 significant digits, so a
    * different summation order in the last bits does not change it.
    */
  private def contentHash(df: DataFrame): (Long, String) = {
    val d = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = d.schema.fields.map { f =>
      f.dataType match {
        case DoubleType | FloatType => format_string("%.9e", col(f.name)).as(f.name)
        case ArrayType(DoubleType | FloatType, _) =>
          transform(col(f.name), x => format_string("%.9e", x)).as(f.name)
        case _ => col(f.name)
      }
    }
    val r = d.select(xxhash64(to_json(struct(cols.toIndexedSeq: _*))).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }

  private def packNames: Seq[String] = args.get("queries").filter(_.nonEmpty)
    .map(_.split(",").toSeq).getOrElse(SparkEntry.queries.keys.toSeq.sorted)

  private def packSession(spark: SparkSession): SparkSession = {
    val s = spark.newSession()
    s.listenerManager.register(rec)
    Engine(s, dataDir)
    // as graft.Bench: one warm query and a plain job before timing
    noop(SparkEntry.queries("q1_agg")(s, dataDir))
    s.range(1000000).selectExpr("sum(id)").collect()
    s
  }

  private def hashes(s: SparkSession, names: Seq[String]): Map[String, Map[String, Any]] =
    names.map { q =>
      q -> (try {
        val (n, h) = contentHash(SparkEntry.queries(q)(s, dataDir))
        Map[String, Any]("rows" -> n, "hash" -> h)
      } catch { case e: Throwable => Map[String, Any]("error" -> err(e)) })
    }.toMap

  private def pack(spark: SparkSession): Unit = {
    val fns = SparkEntry.queries
    val names = packNames
    val s = setupReps(_ => packSession(spark))(_ => ())
    val seed = arg("seed").toLong
    val construct = mutable.Map.empty[Long, (Long, Long)]
    val codegen = mutable.Map.empty[Long, (Long, Long)]
    def run(q: String, tracedOp: Boolean, warm: Boolean = false): Unit = {
      rec.on = tracedOp
      val c0 = Codegen.snapshot()
      val st = Clock.now()
      var tc = -1L
      var df: DataFrame = null
      val failure = try { df = fns(q)(s, dataDir); tc = Clock.now(); noop(df); None }
      catch { case e: Throwable => Some(err(e)) }
      val en = Clock.now()
      val c1 = Codegen.snapshot()
      failure.foreach(m => failures += s"$q: $m")
      val id = if (!tracedOp || failure.nonEmpty) -1L else {
        val id = span(-1L, -1L, "op", st, en)
        val ctor = span(id, id, "sql.construct", st, tc)
        df.queryExecution.tracker.phases.get("analysis").foreach(p =>
          span(ctor, id, "catalyst.analysis", clip(Clock.ms(p.startTimeMs), st, tc), clip(Clock.ms(p.endTimeMs), st, tc)))
        span(id, id, "execute", tc, en)
        construct(id) = (st, tc)
        codegen(id) = (c1._1 - c0._1, c1._2 - c0._2)
        id
      }
      ops += Op("query", q, 0, st, en, failure.isEmpty, failure.orNull, tracedOp, id = id, warm = warm)
    }
    // the output check runs first, untimed, and warms the caches; then
    // untimed warm-up passes; then whole timed passes while time is left.
    // A traced run runs each query twice in a row, untraced and traced, the
    // order alternating, so both see equally warm caches.
    result("hashes") = hashes(s, new scala.util.Random(seed).shuffle(names))
    (1 to WarmPasses).foreach { p =>
      new scala.util.Random(seed * 1000 - p).shuffle(names).foreach(q => run(q, tracedOp = false, warm = true))
    }
    val t0 = Clock.now()
    var pass = 1
    while (pass < 2 || Clock.now() - t0 < seconds * 1e9) {
      new scala.util.Random(seed * 1000 + pass).shuffle(names).zipWithIndex.foreach { case (q, k) =>
        if (!traced) run(q, tracedOp = false)
        else Seq(k % 2 == 1, k % 2 == 0).foreach(t => run(q, t))
      }
      pass += 1
    }
    rec.on = false
    result("measure_s") = (Clock.now() - t0) / 1e9
    result("passes") = pass - 1
    Heap.sample()
    if (traced) {
      rec.drain()
      val tops = ops.filter(_.id >= 0).toSeq
      attachSparkSpans(tops, _ => _ => true, withPhases = true)
      val cg = (codegen.values.map(_._1).sum, codegen.values.map(_._2).sum)
      val layers = traceLayers(tops, _ => _ => true, o => construct.get(o.id), cg)
      SparkEntry.packs.foreach { p =>
        val qs = p.queries.keySet
        layers(s"queries.${p.getClass.getSimpleName.stripSuffix("$")}.wall_s") =
          names.filter(qs).map(q => median(ops.filter(o => o.name == q && o.ok).map(_.ms / 1e3).toSeq)).sum
      }
      // the layer split: each traced query's self time per layer
      val byOp = spans.groupBy(_.op)
      val split = tops.map { o =>
        val self = Intervals.selfTimes(byOp(o.id).toSeq)
        o -> self
      }
      result("query_split") = split.map { case (o, self) =>
        Map[String, Any]("query" -> o.name, "wall_ms" -> o.ms,
          "codegen.compiles" -> codegen(o.id)._1, "codegen.compile_ms" -> codegen(o.id)._2 / 1e6,
          "self_ms" -> self.map { case (k, v) => k -> v / 1e6 })
      }
      // the span tree also holds each DataFrame's own analysis, which no
      // executed plan reports, so the pack's construct and phase times are
      // the split's self times
      def selfMs(layer: String) = split.map(_._2.getOrElse(layer, 0L) / 1e6).sum / math.max(tops.size, 1)
      Seq("sql.construct", "catalyst.analysis", "catalyst.optimization", "catalyst.planning")
        .foreach(l => layers(l + "_ms") = selfMs(l))
      layers("trace.layer_cover_min") =
        if (split.isEmpty) 0.0 else split.map { case (o, self) => (self - "op").values.sum / (o.end - o.start).toDouble }.min
      result("layers") = layers
    }
  }

  /** Golden capture: every named query once, hashed. */
  private def capture(spark: SparkSession): Unit =
    result("hashes") = hashes(packSession(spark), packNames)

  // ------------------------------------------------------- trace layers

  private def clip(t: Long, lo: Long, hi: Long): Long = math.min(math.max(t, lo), hi)

  // Spark's event times are whole milliseconds, truncated
  private val slack = 1000000L
  private def within(o: Op, t: Long): Boolean = t >= o.start - slack && t <= o.end

  /** Hang catalyst phases, jobs, stages and task runs under the traced op
    * whose window holds them and whose client could have started them
    * (`owns`, from the job group). Children are clipped to the op window.
    */
  private def attachSparkSpans(tops: Seq[Op], owns: Op => String => Boolean, withPhases: Boolean): Unit = {
    val byOp = spans.filter(s => s.name == "sql.construct" || s.name == "execute").groupBy(_.op)
    def parentAt(o: Op, t: Long): Long =
      byOp.getOrElse(o.id, Nil).find(s => t >= s.start && t <= s.end).map(_.id).getOrElse(o.id)
    def add(o: Op, parent: Long, name: String, a: Long, b: Long): Long =
      span(parent, o.id, name, clip(a, o.start, o.end), clip(b, o.start, o.end))
    rec.synchronized {
      if (withPhases) {
        val known = spans.filter(_.name.startsWith("catalyst.")).map(s => (s.name, s.start, s.end)).toSet
        rec.phases.foreach { p =>
          val mid = (p.start + p.end) / 2
          tops.find(o => within(o, mid)).foreach { o =>
            val name = "catalyst." + p.name
            if (!known((name, clip(p.start, o.start, o.end), clip(p.end, o.start, o.end))))
              add(o, parentAt(o, mid), name, p.start, p.end)
          }
        }
      }
      rec.jobs.foreach { j =>
        tops.find(o => within(o, j.start) && owns(o)(j.group)).foreach { o =>
          val jid = add(o, parentAt(o, j.start), "scheduler.job", j.start, if (j.end < 0) o.end else j.end)
          j.stageIds.flatMap(rec.stages.get).foreach { st =>
            val sid = add(o, jid, "scheduler.stage", st.submit, if (st.done < 0) o.end else st.done)
            merged(st.taskSpans).foreach { case (a, b) => add(o, sid, "exec.task", a, b) }
          }
        }
      }
    }
  }

  private def merged(xs: Iterable[(Long, Long)]): Seq[(Long, Long)] = {
    val out = ArrayBuffer.empty[(Long, Long)]
    xs.toSeq.sortBy(_._1).foreach { case (a, b) =>
      if (out.nonEmpty && a <= out.last._2) out(out.size - 1) = (out.last._1, math.max(out.last._2, b))
      else out += ((a, b))
    }
    out.toSeq
  }

  /** Per-op averages of the Spark-side layer counters over the traced ops.
    * A job belongs to an op when it starts in the op's window and its job
    * group is the op's client's (`owns`); `constructOf` gives the window of
    * the call that built the DataFrame, where one exists.
    */
  private def traceLayers(tops: Seq[Op], owns: Op => String => Boolean,
                          constructOf: Op => Option[(Long, Long)],
                          codegen: (Long, Long)): mutable.LinkedHashMap[String, Any] = {
    val n = math.max(tops.size, 1).toDouble
    val out = mutable.LinkedHashMap.empty[String, Any]
    rec.synchronized {
      val jobsOf = tops.map(o => o -> rec.jobs.filter(j => within(o, j.start) && owns(o)(j.group)).toSeq)
      val allJobs = jobsOf.flatMap(_._2).distinct
      val stages = allJobs.flatMap(_.stageIds.flatMap(rec.stages.get)).distinct
      val phases = rec.phases.filter(p => tops.exists(o => within(o, (p.start + p.end) / 2)))
      def phase(name: String) = phases.filter(_.name == name).map(p => (p.end - p.start) / 1e6).sum / n
      val eager = jobsOf.map { case (o, js) =>
        constructOf(o).map { case (_, b) => js.count(_.start <= b) }.getOrElse(0)
      }.sum
      val gaps = jobsOf.map { case (o, js) =>
        (o.end - o.start) - Intervals.covered(js.map(j => (j.start, if (j.end < 0) o.end else j.end)), o.start, o.end)
      }.sum
      val execIds = allJobs.map(_.execId).toSet
      out("sql.eager_jobs") = eager / n
      out("catalyst.analysis_ms") = phase("analysis")
      out("catalyst.optimization_ms") = phase("optimization")
      out("catalyst.planning_ms") = phase("planning")
      out("catalyst.aqe_replans") = rec.aqeUpdates.count(execIds) / n
      out("codegen.compiles") = codegen._1 / n
      out("codegen.compile_ms") = codegen._2 / 1e6 / n
      out("scheduler.jobs") = allJobs.size / n
      out("scheduler.stages") = stages.size / n
      out("scheduler.tasks") = stages.map(_.tasks).sum / n
      out("scheduler.gap_ms") = gaps / 1e6 / n
      out("scheduler.delay_ms") =
        stages.filter(_.firstLaunch != Long.MaxValue).map(s => (s.firstLaunch - s.submit) / 1e6).sum / n
      out("exec.task_run_ms") = stages.map(_.runMs).sum / n
      out("exec.task_cpu_ms") = stages.map(_.cpuNs).sum / 1e6 / n
      out("exec.gc_ms") = stages.map(_.gcMs).sum / n
      out("exec.shuffle_write_bytes") = stages.map(_.shWrite).sum / n
      out("exec.shuffle_read_bytes") = stages.map(_.shRead).sum / n
      out("exec.spill_bytes") = stages.map(_.spill).sum / n
      out("exec.input_bytes") = stages.map(_.input).sum / n
      out("exec.output_bytes") = stages.map(_.output).sum / n
    }
    out
  }

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** While traced, switches the recorder on and off in alternating
    * two-second slices, so traced and untraced ops interleave in time, and
    * adds up the codegen counters over the traced slices.
    */
  private final class Slicer(t0: Long) extends Thread {
    @volatile var stopped = false
    var codegen = (0L, 0L)
    setDaemon(true)
    override def run(): Unit = {
      var since = Codegen.snapshot()
      while (!stopped) {
        val on = ((Clock.now() - t0) / 2000000000L) % 2 == 1
        if (on != rec.on) {
          val now = Codegen.snapshot()
          if (rec.on) codegen = (codegen._1 + now._1 - since._1, codegen._2 + now._2 - since._2)
          since = now
          rec.on = on
        }
        Thread.sleep(10)
      }
      if (rec.on) {
        val now = Codegen.snapshot()
        codegen = (codegen._1 + now._1 - since._1, codegen._2 + now._2 - since._2)
      }
      rec.on = false
    }
    def finish(): Unit = if (isAlive) { stopped = true; join() }
  }

  // ---------------------------------------------------------- serving

  private final class Rig(val engine: Engine, val pg: PgWireServer, val rest: RestServer,
                          val pgClients: Seq[PgClient], val restClient: RestClient) {
    def close(): Unit = { pgClients.foreach(_.close()); pg.stop(); rest.stop() }
  }

  /** A fresh session and Engine with both wire servers and connected clients. */
  private def rig(spark: SparkSession, ilpDir: String, nPg: Int): Rig = {
    val s = spark.newSession()
    s.listenerManager.register(rec)
    val eng = Engine(s, dataDir)
    val pg = new PgWireServer(eng)
    val rest = new RestServer(eng, 0, ilpDir)
    val pgPort = pg.start()
    val restPort = rest.start()
    new Rig(eng, pg, rest, (1 to nPg).map(_ => new PgClient(pgPort)), new RestClient(restPort))
  }

  private def opSpans(o: Op, children: Seq[(String, Long, Long)]): Long = {
    val id = span(-1L, -1L, "op", o.start, o.end)
    children.foreach { case (n, a, b) => span(id, id, n, a, b) }
    id
  }

  private def serving(spark: SparkSession): Unit = {
    val in = arg("in")
    val lists = (0 until 3).map(i =>
      Files.readAllLines(Paths.get(in, s"client$i.sql"), UTF_8).asScala.toIndexedSeq)
    val r = setupReps { i =>
      val x = rig(spark, s"${arg("tmp")}/ilp-setup$i", 2)
      // one reply per client, so connections and code paths are warm
      x.pgClients.foreach(_.query("SELECT count(*) FROM events"))
      x.restClient.exec("SELECT count(*) FROM orders")
      x
    }(_.close())
    val groups = r.pgClients.map(c => s"pgwire-${c.pid}")
    // untimed warm-up: each client runs three panels, together all templates
    val warm = (0 until 3).map { c =>
      new Thread(() => Seq(0, 2, 4).foreach { i =>
        if (c < 2) r.pgClients(c).query(lists(c)(i)) else r.restClient.exec(lists(c)(i))
      })
    }
    warm.foreach(_.start())
    warm.foreach(_.join())
    val replies = ArrayBuffer.empty[(Op, String, Reply)]
    val t0 = Clock.now()
    val deadline = t0 + (seconds * 1e9).toLong
    val slicer = new Slicer(t0)
    if (traced) slicer.start()
    val threads = (0 until 3).map { c =>
      new Thread(() => {
        var i = 0
        while (Clock.now() < deadline) {
          val stmt = lists(c)(i % lists(c).size)
          val on = rec.on
          val st = Clock.now()
          val rep = try { if (c < 2) r.pgClients(c).query(stmt) else r.restClient.exec(stmt) }
          catch { case e: Throwable => Reply(ok = false, err(e), Nil, Clock.now(), Clock.now(), 0L) }
          var op = Op(if (c < 2) "pg" else "rest", (i % lists(c).size).toString, c, st, rep.done,
            rep.ok, rep.error, on, rep.firstRow, rep.bytesIn)
          if (on && rep.ok)
            op = op.copy(id = opSpans(op,
              if (c < 2) Seq(("http.pg.first_row", st, rep.firstRow), ("http.pg.complete", rep.firstRow, rep.done))
              else Seq(("http.rest.exec", st, rep.done))))
          replies.synchronized { replies += ((op, stmt, rep)) }
          i += 1
        }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    slicer.finish()
    result("measure_s") = (Clock.now() - t0) / 1e9
    Heap.sample()
    ops ++= replies.map(_._1)

    // output check: every reply against the same statement run in-process
    // three checker threads, each under its own job group so that the jobs
    // a statement starts while its DataFrame is built can be counted
    val distinct = replies.filter(_._3.ok).map(_._2).distinct.toIndexedSeq
    val expected = new java.util.concurrent.ConcurrentHashMap[String, (Long, String)]()
    val constructs = ArrayBuffer.empty[(String, Long, Long, Double)]   // group, window, self ms
    rec.on = traced
    val checkers = (0 until 3).map { t =>
      new Thread(() => {
        val group = s"bench-check-$t"
        r.engine.spark.sparkContext.setJobGroup(group, group)
        distinct.indices.filter(_ % 3 == t).foreach { k =>
          val stmt = distinct(k)
          try {
            val st = Clock.now()
            val df = r.engine.sql(stmt)
            val tc = Clock.now()
            val analysis = df.queryExecution.tracker.phases.get("analysis")
              .map(p => (p.endTimeMs - p.startTimeMs).toDouble).getOrElse(0.0)
            constructs.synchronized { constructs += ((group, st, tc, (tc - st) / 1e6 - analysis)) }
            expected.put(stmt, Canon.hashRows(df.collect().toSeq))
          } catch { case e: Throwable => expected.put(stmt, (-1L, "in-process run failed: " + err(e))) }
        }
      })
    }
    checkers.foreach(_.start())
    checkers.foreach(_.join())
    rec.on = false
    replies.foreach { case (op, stmt, rep) =>
      if (!rep.ok) failures += s"${op.kind} client ${op.client}: ${rep.error} [$stmt]"
      else Option(expected.get(stmt)) match {
        case None => checkFailures += s"${op.kind} client ${op.client}: not checked [$stmt]"
        case Some(exp) =>
          val got = Canon.hashText(rep.rows)
          if (got != exp)
            checkFailures += s"${op.kind} client ${op.client}: rows/hash ${got._1}/${got._2} != in-process ${exp._1}/${exp._2} [$stmt]"
      }
    }
    result("distinct_statements") = distinct.size
    val seen = mutable.Set.empty[String]
    result("repeat_share") = replies.count { case (_, s, _) => !seen.add(s) }.toDouble / math.max(replies.size, 1)
    r.close()

    if (traced) {
      rec.drain()
      val tops = ops.filter(o => o.traced && o.ok).toSeq
      val owns: Op => String => Boolean = o => g => if (o.kind == "rest") g == null else g == groups(o.client)
      attachSparkSpans(tops, owns, withPhases = false)
      val layers = traceLayers(tops, owns, _ => None, slicer.codegen)
      layers("sql.construct_ms") = median(constructs.map(_._4).toSeq)
      layers("sql.eager_jobs") = rec.synchronized {
        constructs.map { case (g, a, b, _) => rec.jobs.count(j => j.group == g && j.start >= a - slack && j.start <= b) }.sum
      }.toDouble / math.max(constructs.size, 1)
      val pgOps = tops.filter(_.kind == "pg")
      val restOps = tops.filter(_.kind == "rest")
      def avg(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
      layers("http.pg.first_row_ms") = avg(pgOps.map(o => (o.firstRow - o.start) / 1e6))
      layers("http.pg.complete_ms") = avg(pgOps.map(_.ms))
      layers("http.pg.bytes_in") = avg(pgOps.map(_.bytesIn.toDouble))
      layers("http.rest.exec_ms") = avg(restOps.map(_.ms))
      layers("http.rest.bytes_in") = avg(restOps.map(_.bytesIn.toDouble))
      result("layers") = layers
    }
  }

  // ----------------------------------------------------------- ingest

  private def parquetFiles(dir: File): Seq[File] =
    Option(dir.listFiles()).getOrElse(Array.empty[File]).toSeq.flatMap(f =>
      if (f.isDirectory) parquetFiles(f) else if (f.getName.endsWith(".parquet")) Seq(f) else Nil)

  private def ingest(spark: SparkSession): Unit = {
    val text = new String(Files.readAllBytes(Paths.get(arg("in"), "batches.ilp")), UTF_8)
    val batches = text.split("\n\n").toIndexedSeq.filter(_.nonEmpty).map(b => (b + "\n").getBytes(UTF_8))
    val measurements = arg("measurements").split(",").toSeq
    val sumCols = arg("sum-columns").split(",").toSeq
    val params = "dedup=" + arg("dedup")
    val tmp = arg("tmp")
    val r = setupReps { i =>
      val x = rig(spark, s"$tmp/ilp-$i", 1)
      val warm = (0 until 50).map(k => s"bench_warmup,sym=W${k % 5} v=${k}i ${1704067200000000000L + k * 1000000000L}")
      x.restClient.write(warm.mkString("\n").getBytes(UTF_8), params)
      x.pgClients.head.query("SELECT count(*) FROM bench_warmup")
      x
    }(_.close())
    val tables = measurements.map(m => new File(s"$tmp/ilp-${arg("setup-reps")}", m))
    def stored() = tables.flatMap(parquetFiles)
    val acked = ArrayBuffer.empty[Int]
    val perCommit = ArrayBuffer.empty[(Long, Long, Int)]   // input bytes, new bytes, partitions touched
    val seen = mutable.Map.empty[String, (Long, Long)]
    @volatile var firstAck = false
    @volatile var writerDone = false
    var warming = true
    def write(b: Int): Unit = {
      val on = rec.on
      val st = Clock.now()
      val (code, body) = try r.restClient.write(batches(b), params)
      catch { case e: Throwable => (-1, err(e)) }
      val en = Clock.now()
      val ok = code == 204
      var op = Op("write", b.toString, 0, st, en, ok, if (ok) null else s"HTTP $code $body".take(300),
        on, -1L, batches(b).length, warm = warming)
      if (ok) { acked += b; firstAck = true } else failures += s"write batch $b: HTTP $code $body".take(300)
      if (traced) {
        // files new or rewritten by this commit, outside the timed call
        var bytes = 0L
        val parts = mutable.Set.empty[String]
        stored().foreach { f =>
          val key = (f.length(), f.lastModified())
          if (!seen.get(f.getPath).contains(key)) { bytes += f.length(); parts += f.getParent; seen(f.getPath) = key }
        }
        if (on && ok) {
          op = op.copy(id = opSpans(op, Seq(("http.rest.write", st, en))))
          perCommit += ((batches(b).length.toLong, bytes, parts.size))
        }
      }
      ops.synchronized(ops += op)
    }
    val pair = Seq(
      "SELECT sym, ts, price, qty FROM trades LATEST ON ts PARTITION BY sym",
      "SELECT ts, count(*) AS n, sum(qty) AS q FROM trades SAMPLE BY 1h")
    def read(i: Int): Unit = {
      val on = rec.on
      val st = Clock.now()
      val rep = try r.pgClients.head.query(pair(i % 2))
      catch { case e: Throwable => Reply(ok = false, err(e), Nil, Clock.now(), Clock.now(), 0L) }
      var op = Op("read", (i % 2).toString, 1, st, rep.done, rep.ok, rep.error, on, rep.firstRow, rep.bytesIn,
        warm = warming)
      if (on && rep.ok) op = op.copy(id = opSpans(op,
        Seq(("http.pg.first_row", st, rep.firstRow), ("http.pg.complete", rep.firstRow, rep.done))))
      ops.synchronized(ops += op)
      if (!rep.ok) failures += s"read ${i % 2}: ${rep.error}"
      else if (i % 2 == 0 && (rep.rows.isEmpty || rep.rows.size > 40))
        checkFailures += s"read 0: LATEST ON returned ${rep.rows.size} rows for at most 40 symbols"
    }
    // untimed warm-up: the stream's first commits, each followed by the
    // read pair, before the clock starts. They create the tables and warm
    // the JIT; the first of them run up to 40 % slower than later ones.
    val warm = math.min(WarmCommits, batches.size)
    (0 until warm).foreach { b => write(b); if (firstAck) { read(2 * b); read(2 * b + 1) } }
    warming = false
    val t0 = Clock.now()
    val deadline = t0 + (seconds * 1e9).toLong
    val slicer = new Slicer(t0)
    if (traced) slicer.start()
    if (arg("reader") == "concurrent") {
      // the reader loops beside the writer; reads that meet a commit
      // rewriting a partition fail (see README, found defect)
      val writer = new Thread(() => {
        var b = warm
        while (b < batches.size && Clock.now() < deadline) { write(b); b += 1 }
        writerDone = true
      })
      val reader = new Thread(() => {
        var i = 0
        while (!firstAck && !writerDone) Thread.sleep(5)
        while (!writerDone) { read(i); i += 1 }
      })
      writer.start(); reader.start()
      writer.join(); reader.join()
    } else {
      // one closed loop: each commit, once acknowledged, is followed by
      // the reader's pair of statements on its own PGWire connection
      var b = warm
      while (b < batches.size && Clock.now() < deadline) {
        write(b)
        if (firstAck) { read(2 * b); read(2 * b + 1) }
        b += 1
      }
    }
    slicer.finish()
    result("measure_s") = (Clock.now() - t0) / 1e9
    Heap.sample()
    result("batches_available") = batches.size
    result("acked") = acked
    // final state, read in-process once the writer has stopped
    result("tables") = measurements.zip(sumCols).map { case (m, c) =>
      // a measurement no acknowledged batch carried has no table yet
      m -> (if (!r.engine.spark.catalog.tableExists(m)) Map[String, Any]("rows" -> 0L, "sum" -> 0L) else try {
        val row = r.engine.sql(s"SELECT count(*) AS n, sum($c) AS s FROM $m").collect().head
        Map[String, Any]("rows" -> row.getLong(0), "sum" -> (if (row.isNullAt(1)) 0L else row.getLong(1)))
      } catch { case e: Throwable => Map[String, Any]("error" -> err(e)) })
    }.toMap
    val files = stored()
    result("storage_bytes") = files.map(_.length()).sum
    result("storage_files") = files.size
    result("storage_partitions") = files.map(_.getParent).distinct.size
    r.close()

    if (traced) {
      rec.drain()
      val writes = ops.filter(o => o.traced && o.ok && o.kind == "write").toSeq
      val reads = ops.filter(o => o.traced && o.ok && o.kind == "read").toSeq
      val readerGroup = s"pgwire-${r.pgClients.head.pid}"
      val owns: Op => String => Boolean = o => g => if (o.kind == "write") g == null else g == readerGroup
      attachSparkSpans(writes ++ reads, owns, withPhases = false)
      val layers = traceLayers(writes, owns, _ => None, slicer.codegen)
      val inBytes = perCommit.map(_._1).sum
      layers("streaming.partitions_per_commit") =
        if (perCommit.isEmpty) 0.0 else perCommit.map(_._3).sum.toDouble / perCommit.size
      layers("storage.write_amp") = if (inBytes == 0) 0.0 else perCommit.map(_._2).sum.toDouble / inBytes
      layers("storage.write_amp_commit_p50") = median(perCommit.map(c => c._2.toDouble / c._1).toSeq)
      def avg(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
      layers("http.pg.first_row_ms") = avg(reads.map(o => (o.firstRow - o.start) / 1e6))
      layers("http.pg.complete_ms") = avg(reads.map(_.ms))
      layers("http.pg.bytes_in") = avg(reads.map(_.bytesIn.toDouble))
      // for the writer: the /write round trip, and the ILP bytes it carried
      layers("http.rest.exec_ms") = avg(writes.map(_.ms))
      layers("http.rest.bytes_in") = avg(writes.map(_.bytesIn.toDouble))
      result("layers") = layers
    }
  }
}
