package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Runs one workload in this JVM and writes the run artifact.
  *
  * Usage: perfbench.Main --workload <name> --seed <n> --seconds <s>
  *          --trace <0|1> --root <scratch dir> --out <artifact.json>
  */
object Main {
  val workloads: Map[String, () => Workload] = Map(
    "analyst_sql" -> (() => new AnalystSql),
    "versioned_commits" -> (() => new VersionedCommits),
    "corpus_curation" -> (() => new CorpusCuration),
    "event_stream" -> (() => new EventStream),
    "ingest" -> (() => new Ingest))

  /** Fixed parallel work across every core, timed: a machine-load
    * diagnostic recorded with the run, not a metric.
    */
  def loadProbeMs(spark: SparkSession, tasks: Int): Double = {
    val t0 = System.nanoTime()
    val r = spark.sparkContext.parallelize(0 until tasks, tasks).map { p =>
      var x = 0x9E3779B97F4A7C15L + p
      var i = 0
      while (i < 20000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
      x
    }.reduce(_ ^ _)
    if (r == 42L) System.err.println("load probe fixpoint")
    Stats.msSince(t0)
  }

  /** local[n] with n shuffle partitions and the library's own settings;
    * traced sessions count local file-system listings and opens.
    */
  def session(app: String, cores: Int, root: String,
      traced: Boolean = false): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(app)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"$root/spark-warehouse")
    if (traced) b.config("spark.hadoop.fs.file.impl", classOf[CountingLocalFileSystem].getName)
    val spark = graft.Scratch.configure(b).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = args("workload")
    val mk = workloads.getOrElse(name,
      throw new IllegalArgumentException(s"unknown workload $name"))
    val seed = args("seed").toLong
    val seconds = args("seconds").toInt
    val traced = args("trace") == "1"
    val root = args("root")
    val cores = Runtime.getRuntime.availableProcessors()
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

    val spark = session(s"perfbench-$name", cores, root, traced)
    val probe = if (traced) Some(new Probe(spark)) else None
    val rec = new Recorder(new Tracer(traced), probe)
    val ctx = Ctx(spark, graft.Lake(spark, s"$root/warehouse"), root, seed, cores, rec, probe)
    val w = mk()
    ctx.mark("session")

    w.setup(ctx)
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val loadBefore = loadProbeMs(spark, cores)
    rec.tracer.active = true
    rec.measuring = true
    val t0 = System.nanoTime()
    val deadline = t0 + seconds * 1000000000L
    // a step starts only when, as long as the last one, it ends by the
    // deadline; the first always runs
    var i = 0
    var lastNs = 0L
    while (i == 0 || System.nanoTime() + lastNs <= deadline) {
      val s0 = System.nanoTime()
      w.step(ctx, i)
      lastNs = System.nanoTime() - s0
      i += 1
    }
    val measuredS = (System.nanoTime() - t0) / 1e9
    rec.measuring = false
    rec.tracer.active = false
    val loadAfter = loadProbeMs(spark, cores)
    val extra = w.finish(ctx)

    val prim = rec.samples.getOrElse(w.primaryOp, mutable.ArrayBuffer.empty[Double]).toSeq
    val tail = Stats.tailPct(prim.length)
    val metrics = mutable.LinkedHashMap[String, Map[String, Any]]()
    def put(k: String, v: Double, unit: String): Unit =
      metrics(k) = Map("value" -> v, "unit" -> unit)
    put("setup_s", setupS, "s")
    if (prim.nonEmpty) {
      put("op_ms.p50", Stats.median(prim), "ms")
      put("op_ms.tail", Stats.pct(prim, tail), "ms")
    }
    put("failed_op_ratio", if (rec.attempted > 0) rec.failed.toDouble / rec.attempted else 0.0,
      "ratio")
    val storage = spark.sparkContext.getRDDStorageInfo
    put("retained_storage_mb", storage.map(s => s.memSize + s.diskSize).sum / 1048576.0, "MB")
    rec.samples.foreach { case (k, xs) =>
      put(s"${k}_ms.p50", Stats.median(xs.toSeq), "ms")
      put(s"${k}_ms.tail", Stats.pct(xs.toSeq, Stats.tailPct(xs.length)), "ms")
    }
    extra.foreach { case (k, (v, u)) => put(k, v, u) }

    val layers = if (traced) {
      // the memo entry count is what a final release frees
      Layers.collect(ctx, w, storage) + ("memo.entries" -> graft.Lake.clearCaches().toDouble)
    } else Map.empty[String, Double]
    val artifact = mutable.LinkedHashMap[String, Any](
      "workload" -> name, "seed" -> seed, "trace" -> traced, "cores" -> cores,
      "seconds" -> seconds, "measured_s" -> measuredS, "steps" -> i,
      "attempted" -> rec.attempted, "failed" -> rec.failed,
      "failures" -> rec.failures.toSeq, "metrics" -> metrics,
      "tail_pct" -> tail, "tail_samples" -> prim.length, "primary_ms" -> prim,
      "samples" -> rec.samples.map { case (k, v) => k -> v.length },
      "traffic" -> w.traffic,
      "load_probe_ms" -> Map("before" -> loadBefore, "after" -> loadAfter),
      "setup_marks_s" -> ctx.marks,
      "layers" -> layers)
    if (traced) artifact("spans") = rec.tracer.records
    val out = new java.io.PrintWriter(args("out"), "UTF-8")
    try out.println(Json.write(artifact)) finally out.close()
    // everything the run made lives under its scratch root, which the
    // caller deletes: skip the session's orderly shutdown
    Runtime.getRuntime.halt(0)
  }
}
