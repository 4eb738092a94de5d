package perfbench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Minimal JSON writer for the run artifact (no library dependency). */
object Json {
  def write(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => write(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => write(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => quote(k.toString) + ":" + write(x) }
        .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(write).mkString("[", ",", "]")
    case a: Array[_] => write(a.toSeq)
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }
}

object Par {
  /** Run independent set-up tasks on `threads` threads; rethrows the
    * first failure after all have ended.
    */
  def all(threads: Int, tasks: Seq[() => Unit]): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(math.max(1, threads))
    try {
      val fs = tasks.map(t => pool.submit(new java.util.concurrent.Callable[Unit] {
        def call(): Unit = t() }))
      val errs = fs.flatMap(f =>
        try { f.get(); None } catch { case e: java.util.concurrent.ExecutionException =>
          Some(e.getCause) })
      errs.headOption.foreach(e => throw e)
    } finally pool.shutdown()
  }
}

object Stats {
  /** Nearest-rank percentile of an unsorted sample. */
  def pct(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    val rank = math.ceil(p / 100.0 * s.length).toInt.max(1)
    s(rank - 1)
  }

  def median(xs: Seq[Double]): Double = pct(xs, 50)

  /** The highest percentile with at least 10 samples beyond it (the
    * nearest-rank percentile of the 11th largest sample), capped at p99
    * and never below p50.
    */
  def tailPct(n: Int): Double =
    if (n <= 20) 50.0 else math.min(99.0, 100.0 * (n - 10) / n)

  def msSince(t0: Long): Double = (System.nanoTime() - t0) / 1e6
}

/** In-memory spans: name, start, end, parent and op id. Disabled
  * tracers run the body and record nothing.
  */
final class Tracer(val on: Boolean) {
  final case class Span(id: Int, name: String, startNs: Long, endNs: Long,
      parent: Int, op: Long) {
    def ms: Double = (endNs - startNs) / 1e6
  }
  val spans = ArrayBuffer.empty[Span]
  /** Spans are recorded only while measuring (set-up may be concurrent). */
  @volatile var active = false
  private var stack: List[Int] = Nil
  private var nextId = 0
  var opId = 0L

  def span[T](name: String)(body: => T): T =
    if (!on || !active) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        stack = stack.tail
        spans += Span(id, name, t0, System.nanoTime(), parent, opId)
      }
    }

  /** Span duration minus the duration of its direct children, summed
    * per span name.
    */
  def selfMs: Map[String, Double] = {
    val childMs = spans.groupBy(_.parent).map { case (p, cs) =>
      p -> cs.map(_.ms).sum }
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => s.ms - childMs.getOrElse(s.id, 0.0)).sum }
  }

  def totalMs(name: String): Double =
    spans.filter(_.name == name).map(_.ms).sum

  def records: Seq[Map[String, Any]] = spans.toSeq.map(s => Map(
    "id" -> s.id, "name" -> s.name, "start_ns" -> s.startNs,
    "end_ns" -> s.endNs, "parent" -> s.parent, "op" -> s.op))
}

/** Spark-side counters for the traced run, registered by the benchmark
  * through Spark's public listener interfaces and drained per op.
  */
final class Probe(spark: SparkSession) {
  private val sc: SparkContext = spark.sparkContext
  val counters: mutable.Map[String, AtomicLong] = mutable.LinkedHashMap(
    Seq("sched.jobs", "sched.stages", "sched.tasks", "exec.task_ms",
      "exec.cpu_ms", "exec.gc_ms", "shuffle.write_bytes",
      "shuffle.read_bytes", "spill_bytes", "catalyst.analysis_ms",
      "catalyst.optimization_ms", "catalyst.planning_ms",
      "stream.trigger_ms", "stream.add_batch_ms", "stream.wal_commit_ms",
      "stream.batches").map(_ -> new AtomicLong(0L)): _*)
  private def add(k: String, v: Long): Unit = { counters(k).addAndGet(v); () }
  // task run intervals (launch, finish) in epoch ms, for the driver gap
  private val intervals = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
  @volatile var stateRows = 0L
  @volatile var stateMemBytes = 0L

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = add("sched.jobs", 1)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      add("sched.stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      add("sched.tasks", 1)
      intervals.add((e.taskInfo.launchTime, e.taskInfo.finishTime))
      val m = e.taskMetrics
      if (m != null) {
        add("exec.task_ms", m.executorRunTime)
        add("exec.cpu_ms", m.executorCpuTime / 1000000L)
        add("exec.gc_ms", m.jvmGCTime)
        add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten)
        add("shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead)
        add("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
      val ph = qe.tracker.phases
      Seq("analysis", "optimization", "planning").foreach { p =>
        ph.get(p).foreach(s => add(s"catalyst.${p}_ms", s.durationMs))
      }
    }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      add("stream.trigger_ms", d("triggerExecution"))
      add("stream.add_batch_ms", d("addBatch"))
      add("stream.wal_commit_ms", d("walCommit") + d("commitOffsets"))
      add("stream.batches", 1)
      if (p.stateOperators.nonEmpty) {
        stateRows = p.stateOperators.map(_.numRowsTotal).sum
        stateMemBytes = p.stateOperators.map(_.memoryUsedBytes).sum
      }
    }
  }

  sc.addSparkListener(sparkListener)
  spark.listenerManager.register(qeListener)
  spark.streams.addListener(streamListener)

  /** Counter totals so far: listener counts (after draining the bus),
    * whole-stage codegen compiles and local file-system listings and
    * opens (counted by [[CountingLocalFileSystem]]).
    */
  def snapshot(): Map[String, Long] = {
    org.apache.spark.graft.Instrument.drain(sc)
    counters.map { case (k, v) => k -> v.get }.toMap ++ Map(
      "codegen.compiles" ->
        org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      "codegen.compile_ms" -> org.apache.spark.sql.catalyst.expressions.codegen
        .CodeGenerator.compileTime / 1000000L,
      "fs.read_ops" -> CountingLocalFileSystem.opens.get,
      "fs.list_ops" -> CountingLocalFileSystem.lists.get)
  }

  /** Milliseconds of [fromMs, toMs) during which at least one task ran;
    * consumes the intervals recorded so far.
    */
  def busyMs(fromMs: Long, toMs: Long): Long = {
    val xs = ArrayBuffer.empty[(Long, Long)]
    var it = intervals.poll()
    while (it != null) { xs += it; it = intervals.poll() }
    val clipped = xs.map { case (a, b) => (a.max(fromMs), b.min(toMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var busy = 0L
    var curA = -1L
    var curB = -1L
    clipped.foreach { case (a, b) =>
      if (a > curB) { busy += curB - curA; curA = a; curB = b }
      else curB = curB.max(b)
    }
    busy + (curB - curA)
  }
}

/** Times ops, counts attempts and failures, and in traced runs
  * attributes the Spark counters to each op.
  */
final class Recorder(val tracer: Tracer, probe: Option[Probe]) {
  val samples = mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
  var attempted = 0L
  var failed = 0L
  val failures = ArrayBuffer.empty[String]
  var measuring = false
  val layerTotals = mutable.LinkedHashMap.empty[String, Double]
  var tracedOps = 0L

  def addLayer(k: String, v: Double): Unit =
    layerTotals(k) = layerTotals.getOrElse(k, 0.0) + v

  def fail(what: String): Unit = {
    failed += 1
    if (failures.length < 20) failures += what
  }

  /** Time a group of ops as one sample of `kind`; attempts and
    * failures stay with the ops inside it.
    */
  def time[T](kind: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body
    finally if (measuring) samples.getOrElseUpdate(kind, ArrayBuffer.empty) += Stats.msSince(t0)
  }

  /** Run one op: `body` is timed, `check` (untimed) returns an error
    * message or None. A thrown exception or a failed check counts as a
    * failed op. Returns the body's value when it did not throw.
    */
  def op[T](kind: String)(body: => T)(check: T => Option[String]): Option[T] = {
    tracer.opId += 1
    val before = if (measuring) probe.map(_.snapshot()) else None
    val wall0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val res = try Right(tracer.span(kind)(body))
      catch { case e: Exception => Left(e) }
    val ms = Stats.msSince(t0)
    val wall1 = System.currentTimeMillis()
    if (measuring) {
      attempted += 1
      samples.getOrElseUpdate(kind, ArrayBuffer.empty) += ms
      for (p <- probe; b <- before) {
        val after = p.snapshot()
        after.foreach { case (k, v) => addLayer(k, (v - b(k)).toDouble) }
        val busy = p.busyMs(wall0, wall1)
        addLayer("driver_gap_ms", ((wall1 - wall0) - busy).max(0L).toDouble)
        tracedOps += 1
      }
    }
    res match {
      case Left(e) =>
        if (measuring) fail(s"$kind threw ${e.getClass.getSimpleName}: " +
          String.valueOf(e.getMessage).take(300))
        else throw e
        None
      case Right(v) =>
        check(v).foreach { msg =>
          if (measuring) fail(s"$kind: $msg")
          else throw new IllegalStateException(s"warm-up check failed: $kind: $msg")
        }
        Some(v)
    }
  }
}

/** What every workload gets: the session, the lake, its scratch root,
  * the seed and the recorder.
  */
final case class Ctx(spark: SparkSession, lake: graft.Lake, root: String,
    seed: Long, cores: Int, rec: Recorder, probe: Option[Probe]) {
  private val jvmStartMs =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  /** Seconds since JVM start at each named set-up phase (diagnostic). */
  val marks: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  def mark(name: String): Unit = marks.synchronized {
    marks(name) = (System.currentTimeMillis() - jvmStartMs) / 1000.0
  }
  def tracer: Tracer = rec.tracer
  def span[T](name: String)(body: => T): T = rec.tracer.span(name)(body)
}

/** One workload: an untimed set-up, then timed steps until the clock
  * runs out, then untimed final checks and metrics.
  */
trait Workload {
  def setup(ctx: Ctx): Unit
  /** One unit of timed work; may run several ops. */
  def step(ctx: Ctx, i: Int): Unit
  /** Untimed final checks; returns workload metrics (name -> (value, unit)). */
  def finish(ctx: Ctx): Map[String, (Double, String)]
  /** Traffic dimensions recorded with every run. */
  def traffic: Map[String, Any]
  /** The samples behind the generic `op_ms.*` metrics. */
  def primaryOp: String
  /** Workload-specific per-layer values (traced runs only). */
  def layers(ctx: Ctx): Map[String, Double] = Map.empty
}

/** The per-layer metrics of a traced run. Counters and span times are
  * means per measured op; `stream.*` durations are means per trigger
  * of the measured window; `memo.*`, `stream.state_*` and
  * `lakeio.files_per_version` are gauges read at the end.
  */
object Layers {
  val names: Seq[String] = Seq(
    "construct_ms", "action_ms",
    "catalyst.analysis_ms", "catalyst.optimization_ms", "catalyst.planning_ms",
    "codegen.compiles", "codegen.compile_ms",
    "sched.jobs", "sched.stages", "sched.tasks", "driver_gap_ms",
    "exec.task_ms", "exec.cpu_ms", "exec.blocked_ms", "exec.gc_ms",
    "shuffle.write_bytes", "shuffle.read_bytes", "spill_bytes",
    "lakeio.bytes_written", "lakeio.files_written", "lakeio.capture_bytes",
    "fs.list_ops", "fs.read_ops", "lakeio.files_per_version",
    "curate.scrub_ms", "curate.quality_ms", "dedup.pairs_ms", "dedup.cluster_ms",
    "search.index_ms", "search.topk_ms", "curate.save_ms",
    "dedup.candidate_pairs", "dedup.pair_yield",
    "memo.entries", "memo.persisted_rdds", "memo.cached_bytes",
    "stream.trigger_ms", "stream.add_batch_ms", "stream.wal_commit_ms",
    "stream.state_rows", "stream.state_mem_bytes")

  private val perOp = Seq("catalyst.analysis_ms", "catalyst.optimization_ms",
    "catalyst.planning_ms", "codegen.compiles", "codegen.compile_ms",
    "sched.jobs", "sched.stages", "sched.tasks", "driver_gap_ms",
    "exec.task_ms", "exec.cpu_ms", "exec.gc_ms", "shuffle.write_bytes",
    "shuffle.read_bytes", "spill_bytes", "fs.list_ops", "fs.read_ops")

  private val stageLayers = Seq("curate.scrub", "curate.quality", "dedup.pairs",
    "dedup.cluster", "search.index", "search.topk", "curate.save")

  def collect(ctx: Ctx, w: Workload,
      storage: Array[org.apache.spark.storage.RDDInfo]): Map[String, Double] = {
    val rec = ctx.rec
    val ops = math.max(1L, rec.tracedOps).toDouble
    val m = mutable.LinkedHashMap[String, Double](names.map(_ -> 0.0): _*)
    perOp.foreach(k => m(k) = rec.layerTotals.getOrElse(k, 0.0) / ops)
    m("exec.blocked_ms") = m("exec.task_ms") - m("exec.cpu_ms")
    // construct/action are leaf spans: their self time; pipeline stages
    // enclose construct/action spans, so a stage reports its whole span
    val self = rec.tracer.selfMs
    Seq("construct", "action").foreach(k => m(s"${k}_ms") = self.getOrElse(k, 0.0) / ops)
    stageLayers.foreach(k => m(s"${k}_ms") = rec.tracer.totalMs(k) / ops)
    m("memo.persisted_rdds") = ctx.spark.sparkContext.getPersistentRDDs.size.toDouble
    m("memo.cached_bytes") = storage.map(s => s.memSize + s.diskSize).sum.toDouble
    w.layers(ctx).foreach { case (k, v) =>
      require(m.contains(k), s"undeclared layer metric $k"); m(k) = v }
    m.toMap
  }
}
