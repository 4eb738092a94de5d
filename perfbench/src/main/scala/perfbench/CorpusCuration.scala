package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.operators.{MinHashDedup, SimSearch, TextOps}
import graft.sources.Tables

/** `corpus_curation`: fresh generated corpus batches land in the
  * fixture layout (documents + embeddings) and each runs scrub →
  * quality and decontamination → MinHash candidate pairs → n-gram
  * dedup clustering (two consumers of one memo) → IVF and brute-force
  * top-k → `Lake.saveDataset`. Every batch is new, so no memo built for
  * one batch can serve the next. Planted duplicates must be clustered,
  * planted contamination flagged and planted neighbours found.
  */
final class CorpusCuration extends Workload {
  val docsPerBatch = 300
  val threshold = 0.2
  val k = 5
  private var docs = 0L
  private var batches = 0
  private var candidates = 0L
  private var aboveThreshold = 0L

  def primaryOp: String = "batch"

  def traffic: Map[String, Any] = Map("docs_per_batch" -> docsPerBatch,
    "planted_dup_rate" -> 0.1, "planted_contamination_rate" -> 0.02,
    "planted_pii_rate" -> 0.05, "planted_neighbours" -> Gen.nQueries,
    "dim" -> Gen.dim, "top_k" -> k, "batches" -> batches)

  def setup(ctx: Ctx): Unit = runBatch(ctx, -1) // warm-up batch, checks enforced

  def step(ctx: Ctx, i: Int): Unit = runBatch(ctx, i)

  private def runBatch(ctx: Ctx, i: Int): Unit = {
    val spark = ctx.spark
    val truth = Gen.corpus(ctx.seed, i + 1, docsPerBatch)
    val dir = s"${ctx.root}/batches/b${i + 1}"
    Gen.write(spark, truth.docs, Gen.documentsSchema, s"$dir/documents.parquet")
    Gen.write(spark, truth.vecs, Gen.embeddingsSchema, s"$dir/embeddings.parquet")
    val errors = mutable.ArrayBuffer.empty[String]
    def expect(ok: Boolean, msg: => String): Unit = if (!ok) errors += msg

    ctx.rec.op("batch") {
      val d = Tables.documents(spark, dir)
      val scrubbed = ctx.span("curate.scrub") {
        val s = ctx.span("construct")(TextOps.piiScrubDocs(d))
        val flagged = ctx.span("action")(s.filter(col("n_emails") > 0 || col("n_phones") > 0)
          .select("doc_id").collect()).map(_.getLong(0)).toSet
        expect(truth.piiDocs.forall(flagged), s"scrub missed PII docs ${truth.piiDocs.filterNot(flagged)}")
        s
      }
      val kept = ctx.span("curate.quality") {
        val q = ctx.span("construct")(TextOps.qualityFilter(spark, dir))
        val keptIds = ctx.span("action")(q.select("doc_id").collect()).map(_.getLong(0)).toSet
        val zh = truth.docs.filter(_.getString(2) == "zh").map(_.getLong(0))
        expect(zh.forall(x => !keptIds(x)), "quality filter kept zh docs")
        val dc = ctx.span("construct")(TextOps.decontaminateDocs(d))
        val hit = ctx.span("action")(dc.select("doc_id").collect()).map(_.getLong(0)).toSet
        expect(truth.contaminated.forall(hit),
          s"decontaminate missed ${truth.contaminated.filterNot(hit)}")
        q.select("doc_id")
      }
      ctx.span("dedup.pairs") {
        val pairs = ctx.span("construct")(MinHashDedup.candidatePairs(d, 64, 16)
          .withColumn("j", MinHashDedup.jaccard(col("a_sh"), col("b_sh"))))
        val got = ctx.span("action")(pairs.select("a_id", "b_id", "j").collect())
        val cand = got.map(r => (r.getLong(0), r.getLong(1))).toSet
        val lost = CorpusCuration.missedSure(truth.docs, truth.dupPairs, cand)
        expect(lost.isEmpty, s"MinHash missed planted pairs of Jaccard >= " +
          s"${CorpusCuration.sureJaccard}: ${lost.take(5)}")
        if (ctx.rec.measuring) {
          candidates += got.length
          aboveThreshold += got.count(_.getDouble(2) >= 0.5)
        }
      }
      val labels = ctx.span("dedup.cluster") {
        val lab = ctx.span("construct")(MinHashDedup.dedupCluster(spark, dir, threshold))
        val rows = ctx.span("action")(lab.collect())
        val stats = ctx.span("construct")(MinHashDedup.dedupClusterStats(spark, dir, threshold))
        val hist = ctx.span("action")(stats.collect())
        val split = CorpusCuration.splitPairs(truth.dupPairs,
          rows.map(r => r.getLong(0) -> r.getLong(1)).toMap)
        expect(split.isEmpty, s"planted duplicates not clustered: ${split.take(5)}")
        val inHist = hist.map(r => r.getLong(0) * r.getLong(1)).sum
        expect(inHist == truth.docs.length,
          s"cluster histogram covers $inHist of ${truth.docs.length} docs")
        lab
      }
      ctx.span("curate.search") {
        val emb = Tables.embeddings(spark, dir)
        val cb = ctx.span("search.index")(SimSearch.ivfCodebook(emb, 17))
        val ivf = ctx.span("search.topk")(SimSearch.ivfSearch(emb, cb, k, Gen.nQueries, 4)
          .collect())
        val brute = ctx.span("search.topk")(SimSearch.knnOver(emb, k, Gen.nQueries).collect())
        def found(rs: Array[Row]) = rs.map(r => (r.getLong(0), r.getLong(1))).toSet
        val missing = CorpusCuration.missed(truth.neighbours, found(brute))
        expect(missing.isEmpty, s"brute-force top-$k missed planted neighbours $missing")
        val iv = found(ivf)
        val ivfRecall = truth.neighbours.count(iv).toDouble / math.max(1, truth.neighbours.length)
        expect(ivfRecall >= 0.8, f"IVF top-$k planted-neighbour recall $ivfRecall%.2f < 0.8")
      }
      ctx.span("curate.save") {
        val curated = scrubbed.select("doc_id", "scrubbed")
          .join(labels.filter(col("is_survivor") === 1).select("doc_id"), "doc_id")
          .join(kept, "doc_id")
        ctx.lake.saveDataset(curated, s"curated_b${i + 1}").count()
      }
    } { saved =>
      expect(saved > 0 && saved < truth.docs.length, s"saved $saved curated docs")
      errors.headOption.map(e => if (errors.length > 1) s"$e (+${errors.length - 1} more)" else e)
    }
    if (ctx.rec.measuring) { docs += truth.docs.length; batches += 1 }
  }

  def finish(ctx: Ctx): Map[String, (Double, String)] = {
    val secs = ctx.rec.samples.get("batch").map(_.sum / 1000.0).getOrElse(0.0)
    val batchS = ctx.rec.samples.get("batch").map(xs => Stats.median(xs.toSeq) / 1000.0)
      .getOrElse(0.0)
    Map("docs_per_s" -> (if (secs > 0) docs / secs else 0.0, "docs/s"),
      "batch_s.p50" -> (batchS, "s"))
  }

  override def layers(ctx: Ctx): Map[String, Double] = {
    val n = math.max(1, batches).toDouble
    Map("dedup.candidate_pairs" -> candidates / n,
      "dedup.pair_yield" -> (if (candidates > 0) aboveThreshold.toDouble / candidates else 0.0))
  }
}

object CorpusCuration {
  /** Exact shingle Jaccard above which `candidatePairs(d, 64, 16)` (16
    * bands of 4 rows) misses a pair with probability (1 - J^4)^16 < 1e-6.
    * Planted pairs below it may be missed by a correct implementation.
    */
  val sureJaccard = 0.88

  /** Distinct word 3-shingles of a text, formed as `MinHashDedup` forms
    * them: lowercased, split on whitespace runs.
    */
  def shingles(text: String): Set[String] =
    text.toLowerCase(java.util.Locale.ROOT).trim.split("\\s+")
      .sliding(3).map(_.mkString(" ")).toSet

  /** Planted duplicate pairs of exact Jaccard >= [[sureJaccard]] that are
    * not among the candidates.
    */
  def missedSure(docs: Seq[Row], pairs: Seq[(Long, Long)],
      cand: Set[(Long, Long)]): Seq[(Long, Long)] = {
    val text = docs.map(r => r.getLong(0) -> r.getString(1)).toMap
    pairs.filter { case (a, b) =>
      !cand((a, b)) && !cand((b, a)) && {
        val (x, y) = (shingles(text(a)), shingles(text(b)))
        (x & y).size.toDouble / (x | y).size >= sureJaccard
      }
    }
  }

  /** Planted duplicate pairs whose two docs got different cluster ids. */
  def splitPairs(pairs: Seq[(Long, Long)], cluster: Map[Long, Long]): Seq[(Long, Long)] =
    pairs.filter { case (a, b) => cluster.get(a).isEmpty || cluster.get(a) != cluster.get(b) }

  /** Planted (query, neighbour) pairs absent from a top-k result. */
  def missed(planted: Seq[(Long, Long)], found: Set[(Long, Long)]): Seq[(Long, Long)] =
    planted.filterNot(found)
}
