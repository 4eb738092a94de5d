package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.streaming.Streams

/** `event_stream`: closed loop, one client. Each op lands one stamped
  * JSON event file in a file source, with a stated share of duplicates
  * and of late events, and waits until both streaming queries have
  * processed it: that time is the latency of every event in the file.
  * The pipeline is `Streams.dedupWithWatermark` → `enrichWithCustomer`
  * → `runningPurchaseTotals`, emitting per event; `tumblingCounts` runs
  * beside it on the raw events. Final outputs are compared with a batch
  * recomputation over the on-time events.
  */
final class EventStream extends Workload {
  val perFile = 100       // events per landed file
  val users = 500
  val dupShare = 0.05
  val lateShare = 0.03
  val eventGapMs = 2000L  // event time between consecutive events
  val maxFiles = 2000
  private val day = 86400000L

  private var events: IndexedSeq[Gen.Event] = _
  private var inDir: String = _
  /** Events landed before late ones may be sent (set once the
    * watermark exists, so "late" is decided by the data).
    */
  private var warmEvents = Int.MaxValue
  private var delivered = 0
  private var measuredFrom = 0
  private var qA: StreamingQuery = _
  private var qB: StreamingQuery = _
  private val sinkA = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Double)]()
  private val sinkB = new java.util.concurrent.ConcurrentLinkedQueue[Row]()

  def primaryOp: String = "microbatch"

  def traffic: Map[String, Any] = Map("events_per_file" -> perFile,
    "duplicate_share" -> dupShare, "late_share" -> lateShare, "users" -> users,
    "event_gap_ms" -> eventGapMs, "delivered" -> delivered)

  private def late(i: Int): Boolean = i >= warmEvents && events(i).late

  private def tsMs(i: Int): Long =
    Gen.eventsEpoch + i * eventGapMs - events(i).offsetMs - (if (late(i)) day else 0L)

  private def iso(ms: Long): String = java.time.Instant.ofEpochMilli(ms).toString

  /** Land the next file atomically. */
  private def land(): Unit = {
    require(delivered + perFile <= events.length, "event generator exhausted")
    val f = delivered / perFile
    val sb = new StringBuilder
    (delivered until delivered + perFile).foreach { i =>
      val e = events(i)
      sb.append(s"""{"event_id":${e.id},"ts":"${iso(tsMs(i))}","user_id":${e.user},""")
        .append(s""""event_type":"${e.kind}","value":${e.value},"props":"{}"}""").append('\n')
    }
    val tmp = Paths.get(inDir, f".tmp-$f%06d")
    Files.write(tmp, sb.toString.getBytes("UTF-8"))
    Files.move(tmp, Paths.get(inDir, f"ev-$f%06d.json"), StandardCopyOption.ATOMIC_MOVE)
    delivered += perFile
  }

  /** Land one file and process it through both queries. */
  private def microBatch(): Unit = {
    land()
    qA.processAllAvailable()
    qB.processAllAvailable()
  }

  def setup(ctx: Ctx): Unit = {
    val spark = ctx.spark
    events = Gen.events(ctx.seed, perFile * maxFiles, dupShare, lateShare, users)
    inDir = s"${ctx.root}/stream/in"
    Files.createDirectories(Paths.get(inDir))
    val customers = spark.createDataFrame(spark.sparkContext.parallelize(
      (1 to users).map(u => Row(u.toLong, Gen.segments(u % Gen.segments.length))), 1),
      StructType(Seq(StructField("c_custkey", LongType), StructField("c_mktsegment", StringType))))
      .cache()
    customers.count()
    val raw = spark.readStream.schema(Gen.eventsSchema).json(inDir)
    val enriched = Streams.enrichWithCustomer(Streams.dedupWithWatermark(raw), customers)
    val totals = Streams.runningPurchaseTotals(spark,
      enriched.withColumn("event_type", lit("purchase")))
    qA = totals.writeStream.outputMode("append")
      .option("checkpointLocation", s"${ctx.root}/stream/ckA")
      .foreachBatch { (df: DataFrame, _: Long) =>
        df.collect().foreach(r => sinkA.add((r.getLong(0), r.getLong(1), r.getDouble(2))))
      }.start()
    qB = Streams.tumblingCounts(raw).writeStream.outputMode("append")
      .option("checkpointLocation", s"${ctx.root}/stream/ckB")
      .foreachBatch { (df: DataFrame, _: Long) => df.collect().foreach(sinkB.add) }
      .start()
    // warm-up: land on-time files until both watermarks are set, then a
    // few more micro-batches
    while (!watermarkSet) {
      require(delivered < 50 * perFile, "stream watermark never advanced during warm-up")
      microBatch()
    }
    warmEvents = delivered
    ctx.mark("watermark")
    (1 to 2).foreach(_ => microBatch())
    measuredFrom = delivered
    ctx.mark("warm")
  }

  /** Both queries have advanced their watermark past its initial 0. */
  private def watermarkSet: Boolean = {
    def set(q: StreamingQuery) = Option(q.lastProgress)
      .flatMap(p => Option(p.eventTime.get("watermark")))
      .exists(w => !w.startsWith("1970"))
    set(qA) && set(qB)
  }

  def step(ctx: Ctx, i: Int): Unit =
    ctx.rec.op("microbatch")(microBatch()) { _ => None }

  def finish(ctx: Ctx): Map[String, (Double, String)] = {
    qA.stop()
    qB.stop()
    EventStream.check(events.take(delivered), late, tsMs, sinkA.asScala.toSeq,
      sinkB.asScala.toSeq).foreach(ctx.rec.fail)
    val ms = ctx.rec.samples.get(primaryOp).map(_.sum).getOrElse(0.0)
    Map("events_per_s" -> (if (ms > 0) (delivered - measuredFrom) * 1000.0 / ms else 0.0,
      "events/s"))
  }

  /** Trigger phases are means over the measured window's triggers; the
    * state gauges are the last progress report's.
    */
  override def layers(ctx: Ctx): Map[String, Double] = ctx.probe.map { p =>
    val t = ctx.rec.layerTotals
    val n = math.max(1.0, t.getOrElse("stream.batches", 0.0))
    Map("stream.trigger_ms" -> t.getOrElse("stream.trigger_ms", 0.0) / n,
      "stream.add_batch_ms" -> t.getOrElse("stream.add_batch_ms", 0.0) / n,
      "stream.wal_commit_ms" -> t.getOrElse("stream.wal_commit_ms", 0.0) / n,
      "stream.state_rows" -> p.stateRows.toDouble,
      "stream.state_mem_bytes" -> p.stateMemBytes.toDouble)
  }.getOrElse(Map.empty)
}

object EventStream {
  /** Compare the sinks with a batch recomputation over the on-time
    * events; returns one message per wrong output.
    */
  def check(events: IndexedSeq[Gen.Event], late: Int => Boolean, tsMs: Int => Long,
      sinkA: Seq[(Long, Long, Double)], sinkB: Seq[Row]): Seq[String] = {
    val errs = mutable.ArrayBuffer.empty[String]
    val firstSeen = mutable.LinkedHashMap.empty[Long, Int]
    events.indices.foreach(i => if (!late(i)) firstSeen.getOrElseUpdate(events(i).id, i))
    val purchases = firstSeen.values.map(events).filter(_.kind == "purchase").toSeq
    val wantIds = purchases.map(_.id).toSet
    val gotIds = sinkA.map(_._2)
    if (gotIds.length != gotIds.distinct.length) errs += "duplicate events reached the sink"
    val missing = wantIds -- gotIds
    val extra = gotIds.toSet -- wantIds
    if (missing.nonEmpty) errs += s"${missing.size} on-time purchases missing from the sink"
    if (extra.nonEmpty) errs += s"${extra.size} unexpected events in the sink"
    val wantTotal = purchases.groupBy(_.user).map { case (u, es) => u -> es.map(_.value).sum }
    val gotTotal = sinkA.groupBy(_._1).map { case (u, rs) => u -> rs.map(_._3).max }
    wantTotal.foreach { case (u, t) =>
      val g = gotTotal.getOrElse(u, Double.NaN)
      if (!(math.abs(g - t) <= 1e-6 * math.max(1.0, t))) errs += s"user $u total $g, expected $t"
    }
    // tumbling counts: every emitted window equals the recomputation
    val hour = 3600000L
    val wantWin = events.indices.filterNot(late).groupBy(i =>
      (Math.floorDiv(tsMs(i), hour) * hour, events(i).kind))
    if (sinkB.isEmpty) errs += "no tumbling window was emitted"
    sinkB.foreach { r =>
      val key = (r.getTimestamp(0).getTime, r.getString(1))
      val want = wantWin.getOrElse(key, Seq.empty)
      val wantSum = want.map(i => BigDecimal(events(i).value)).sum.toDouble
      if (r.getLong(2) != want.length || math.abs(r.getDouble(3) - wantSum) > 1e-6)
        errs += s"window $key: (${r.getLong(2)}, ${r.getDouble(3)}), expected (${want.length}, $wantSum)"
    }
    errs.toSeq
  }
}
