package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col

/** `versioned_commits`: one closed-loop client commits seeded change
  * batches to a keyed table with write-time change capture, upserts a
  * plain mirror now and then, compacts and vacuums on a fixed cadence,
  * and reads after every write: latest snapshot, time travel, captured
  * change-feed replay or history. Every read is checked against the
  * generator's model of the table at that version.
  */
final class VersionedCommits extends Workload {
  import VersionedCommits.digestOf
  val nRows = 10000
  val batchFrac = 0.02
  val keep = 4
  private val table = "orders_v"
  private val plain = "orders_plain"
  private val keys = Seq("o_orderkey")
  private val cols = Gen.keyedSchema.fieldNames.toSeq.map(col)

  private var keyed: Gen.Keyed = _
  private val plainModel = mutable.TreeMap.empty[Long, Row]
  private val pending = ArrayBuffer.empty[Row]
  private val versionDigest = mutable.HashMap.empty[Int, String]
  private var latest = -1
  private var oldest = 0
  private var rev = 0
  private val measuredBatches = ArrayBuffer.empty[(Seq[Row], Seq[Long])]
  private val seenFiles = mutable.HashMap.empty[String, Long]
  private var bytesWritten = 0L
  private var filesWritten = 0L
  private var captureBytes = 0L
  private var commits = 0L
  private var reads = 0L

  def primaryOp: String = "step"

  def traffic: Map[String, Any] = Map("table_rows" -> nRows,
    "batch_fraction" -> batchFrac, "batch_mix" -> "40% update, 30% insert, 30% delete",
    "read_write_ratio" -> (if (commits > 0) reads.toDouble / commits else 0.0),
    "cadence" -> "upsert every 3rd step, compact every 4th, vacuum(keep=4) every 6th")

  private var wh: String = _
  private def tableDir = new java.io.File(s"$wh/$table")

  private def frame(ctx: Ctx, rows: Seq[Row]): DataFrame =
    ctx.spark.createDataFrame(ctx.spark.sparkContext.parallelize(rows, ctx.cores),
      Gen.keyedSchema)

  private def check(rows: Array[Row], v: Int, what: String): Option[String] =
    versionDigest.get(v) match {
      case Some(d) if d == digestOf(rows) => None
      case Some(_) => Some(s"$what of v=$v differs from the model (${rows.length} rows)")
      case None => Some(s"$what: no model for v=$v")
    }

  /** Files under the warehouse not seen before: their bytes count as
    * written by the op that preceded the walk.
    */
  private def walk(): Unit = {
    def rec(f: java.io.File): Unit =
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rec))
      else if (!seenFiles.contains(f.getPath)) {
        seenFiles(f.getPath) = f.length()
        bytesWritten += f.length()
        filesWritten += 1
        if (f.getPath.contains("/_cdf/")) captureBytes += f.length()
      }
    rec(new java.io.File(wh))
  }

  private def dirBytes(d: java.io.File): Long =
    if (d.isDirectory) Option(d.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)
    else d.length()

  def setup(ctx: Ctx): Unit = {
    wh = ctx.lake.warehouse
    keyed = new Gen.Keyed(ctx.seed, nRows)
    keyed.model.foreach { case (k, r) => plainModel(k) = r }
    Par.all(2, Seq(
      () => latest = ctx.lake.saveVersionedCdf(frame(ctx, keyed.rows), table, keys),
      () => { ctx.lake.saveDataset(frame(ctx, keyed.rows), plain); () }))
    oldest = latest
    versionDigest(latest) = digestOf(keyed.rows)
    ctx.mark("initial")
    // warm-up: three commits and one of every other write and read
    // kind, checks enforced
    (1 to 3).foreach(_ => commit(ctx))
    upsert(ctx)
    compact(ctx)
    Par.all(ctx.cores, (0 until 4).map(k => () => read(ctx, k)))
    walk()
    bytesWritten = 0L; filesWritten = 0L; captureBytes = 0L
    ctx.mark("warm")
  }

  private def commit(ctx: Ctx): Unit = {
    rev += 1
    val (changed, deleted) = keyed.batch(rev, batchFrac)
    if (ctx.rec.measuring) measuredBatches += ((changed, deleted))
    changed.foreach(r => pending += r)
    val df = frame(ctx, keyed.rows)
    val digest = digestOf(keyed.rows)
    ctx.rec.op("commit") {
      ctx.span("action")(ctx.lake.saveVersionedCdf(df, table, keys))
    } { v => if (v == latest + 1) None else Some(s"commit returned v=$v after v=$latest") }
      .foreach { v => latest = v; versionDigest(v) = digest }
  }

  private def upsert(ctx: Ctx): Unit = {
    val rows = pending.groupBy(_.getLong(0)).values.map(_.last).toSeq
    pending.clear()
    rows.foreach(r => plainModel(r.getLong(0)) = r)
    val df = frame(ctx, rows)
    val want = digestOf(plainModel.values)
    ctx.rec.op("upsert") {
      ctx.span("action")(ctx.lake.upsert(df, plain, keys).select(cols: _*).collect())
    } { got => if (digestOf(got) == want) None else Some("upserted table differs from the model") }
  }

  private def compact(ctx: Ctx): Unit = {
    val d = versionDigest(latest)
    ctx.rec.op("compact") {
      ctx.span("action")(ctx.lake.compact(table, 1L << 20))
    } { case (before, after) =>
      if (after >= 1 && after <= before) None else Some(s"compact $before -> $after files")
    }
    latest += 1
    versionDigest(latest) = d
  }

  private def read(ctx: Ctx, kind: Int): Unit = {
    val lake = ctx.lake
    kind match {
      case 0 =>
        ctx.rec.op("read") {
          ctx.span("action")(lake.loadVersioned(table).select(cols: _*).collect())
        }(check(_, latest, "latest snapshot"))
      case 1 =>
        val v = math.max(oldest, latest - 2)
        ctx.rec.op("read") {
          ctx.span("action")(lake.loadVersioned(table, Some(v)).select(cols: _*).collect())
        }(check(_, v, "time travel"))
      case 2 =>
        val a = math.max(oldest, latest - 3)
        val b = latest
        ctx.rec.op("read") {
          val df = ctx.span("construct")(lake.replayChanges(
            lake.loadVersioned(table, Some(a)), lake.capturedChanges(table, a, b), keys))
          ctx.span("action")(df.select(cols: _*).collect())
        }(check(_, b, s"replay of captured changes ($a, $b]"))
      case 3 =>
        ctx.rec.op("read") {
          ctx.span("action")(lake.history(table).collect())
        } { rows =>
          if (rows.length == latest - oldest + 1) None
          else Some(s"history lists ${rows.length} versions, expected ${latest - oldest + 1}")
        }
    }
    if (ctx.rec.measuring) reads += 1
  }

  /** One client step, timed whole: the commit, the step's upsert,
    * compact or vacuum, and its checked read.
    */
  def step(ctx: Ctx, i: Int): Unit = {
    ctx.rec.time("step") {
      commit(ctx)
      if (i % 3 == 2) upsert(ctx)
      if (i % 4 == 3) compact(ctx)
      if (i % 6 == 5) {
        ctx.rec.op("vacuum")(ctx.lake.vacuum(table, keep)) { removed =>
          val want = (oldest to latest - keep).toSeq
          if (removed.sorted == want) None else Some(s"vacuum removed $removed, expected $want")
        }
        oldest = math.max(oldest, latest - keep + 1)
      }
      read(ctx, i % 4)
    }
    commits += 1
    walk()
  }

  def finish(ctx: Ctx): Map[String, (Double, String)] = {
    // the parquet bytes of the user's change batches: the write-amp base
    var changeBytes = 0L
    val nullable = org.apache.spark.sql.types.StructType(
      Gen.keyedSchema.fields.map(_.copy(nullable = true)))
    measuredBatches.zipWithIndex.foreach { case ((changed, deleted), i) =>
      val rows = changed ++ deleted.map(k => Row(k, null, null, null, null, null))
      val p = s"${ctx.root}/batches/b$i"
      ctx.spark.createDataFrame(ctx.spark.sparkContext.parallelize(rows, 1), nullable)
        .write.parquet(p)
      changeBytes += new java.io.File(p).listFiles().filter(_.getName.endsWith(".parquet"))
        .map(_.length()).sum
    }
    val total = dirBytes(tableDir)
    val latestBytes = dirBytes(new java.io.File(tableDir, s"v=$latest"))
    Map(
      "write_amp" -> (bytesWritten.toDouble / math.max(1L, changeBytes), "ratio"),
      "space_amp" -> (total.toDouble / math.max(1L, latestBytes), "ratio"))
  }

  override def layers(ctx: Ctx): Map[String, Double] = {
    val n = math.max(1L, commits).toDouble
    val files = Option(new java.io.File(tableDir, s"v=$latest").listFiles())
      .getOrElse(Array.empty).count(_.getName.endsWith(".parquet"))
    Map("lakeio.bytes_written" -> bytesWritten / n,
      "lakeio.files_written" -> filesWritten / n,
      "lakeio.capture_bytes" -> captureBytes / n,
      "lakeio.files_per_version" -> files.toDouble)
  }
}

object VersionedCommits {
  /** Order-independent digest of a table's rows: the row count and the
    * sum of 64-bit row hashes (a multiset hash), so two snapshots hold
    * the same rows exactly when their digests match (up to 2^-64).
    */
  def digestOf(rows: Iterable[Row]): String = {
    import scala.util.hashing.MurmurHash3.stringHash
    var sum = 0L
    var n = 0L
    rows.foreach { r =>
      val s = r.toSeq.map(String.valueOf).mkString("|")
      sum += (stringHash(s, 1).toLong << 32) ^ (stringHash(s, 2) & 0xffffffffL)
      n += 1
    }
    s"$n/$sum"
  }
}
