package perfbench

/** `curate_index`: the LLM-data operators in one run. Setup writes the
  * curation corpus and builds the three index families, concurrently; a
  * round is one full curation pass ([[CurateWorkload]]) followed by one
  * round of [[IndexWorkload]] (ingest, hybrid serve, fold + prune). The
  * curation pass is the headline op.
  */
final class CurateIndexWorkload(ctx: Ctx) extends Workload {
  private val curate = new CurateWorkload(ctx.copy(dir = s"${ctx.dir}/curate"))
  private val index = new IndexWorkload(ctx.copy(dir = s"${ctx.dir}/index"))

  def primaryKind: String = curate.primaryKind
  override def period: Int = 1 + index.period

  def setup(): Unit = Par.all(() => curate.setup(), () => index.setup())

  def op(i: Int): OpResult = {
    val round = i / period
    val pos = i % period
    if (pos == 0) curate.op(round) else index.op(round * index.period + pos - 1)
  }

  def writtenBytes: Long = curate.writtenBytes + index.writtenBytes
  def inputBytes: Long = curate.inputBytes + index.inputBytes
  def bytesOnDisk: Long = curate.bytesOnDisk + index.bytesOnDisk
  def liveBytes: Long = curate.liveBytes + index.liveBytes
  def layerExtras: Map[String, Double] = curate.layerExtras ++ index.layerExtras
  override def detail: Map[String, Any] = curate.detail ++ index.detail
}
