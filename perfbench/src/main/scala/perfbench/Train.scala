package perfbench

import org.apache.spark.sql.SparkSession

/** Class-loading training run for the JVM's class-data-sharing archive:
  * runs the set-up of each benchmark workload once in one JVM, so that started
  * with `-XX:ArchiveClassesAtExit` it archives the classes the workloads
  * load. Nothing is measured.
  *
  * Usage: perfbench.Train --root <scratch dir>
  */
object Train {
  def main(argv: Array[String]): Unit = {
    val root = argv.grouped(2).collect { case Array("--root", v) => v }.toSeq.head
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = Main.session("perfbench-train", cores, root)
    // the workloads of BENCHMARK.json; `ingest` covers the classes of
    // event_stream and corpus_curation
    Seq("analyst_sql", "versioned_commits", "ingest").foreach { name =>
      val dir = s"$root/$name"
      val rec = new Recorder(new Tracer(false), None)
      val ctx = Ctx(spark, graft.Lake(spark, s"$dir/warehouse"), dir, 0L, cores, rec, None)
      val w = Main.workloads(name)()
      w.setup(ctx)
      w.finish(ctx)
    }
    Runtime.getRuntime.halt(0)
  }
}
