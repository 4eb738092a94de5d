package perfbench

/** `ingest`: one closed-loop client ingests a fresh slice per step: one
  * event file through the streaming pipeline of [[EventStream]], then
  * one new corpus batch through the curation operators of
  * [[CorpusCuration]]. The step is timed whole; each part is its own
  * checked op. This puts `graft.streaming` and `graft.operators` in one
  * workload: as two they do not fit the benchmark's run budget.
  */
final class Ingest extends Workload {
  private val stream = new EventStream
  private val corpus = new CorpusCuration

  def primaryOp: String = "step"

  def traffic: Map[String, Any] = stream.traffic ++ corpus.traffic

  def setup(ctx: Ctx): Unit =
    Par.all(2, Seq(() => stream.setup(ctx), () => corpus.setup(ctx)))

  def step(ctx: Ctx, i: Int): Unit = ctx.rec.time("step") {
    stream.step(ctx, i)
    corpus.step(ctx, i)
  }

  def finish(ctx: Ctx): Map[String, (Double, String)] =
    stream.finish(ctx) ++ corpus.finish(ctx)

  override def layers(ctx: Ctx): Map[String, Double] = stream.layers(ctx) ++ corpus.layers(ctx)
}
