package perfbench

import org.apache.spark.sql.functions._

import graft.operators.CurationPipeline

/** The curation half of `curate_index`: repeated full curation passes
  * (quality gate → exact dedup → line scrub → span dedup → MinHash-LSH
  * near-dup → decontamination) plus per-language stats, each pass into a
  * fresh output dir, over a seeded corpus with planted exact duplicates,
  * near-duplicates and boilerplate lines.
  */
final class CurateWorkload(ctx: Ctx) extends Workload {
  import CurateWorkload._
  private val spark = ctx.spark
  private val input = s"${ctx.dir}/documents.parquet"
  private val survivorsPath = s"${ctx.dir}/survivors.txt"
  private var inputDocs = 0L
  /** (survivor ids, stats) digests of the first pass; every pass must match. */
  private var reference: Option[(String, String)] = None
  private var passes = 0
  private var written = 0L
  private var lastOutBytes = 0L
  private var lastFinalBytes = 0L

  def primaryKind: String = "pass"

  def setup(): Unit = {
    import spark.implicits._
    val docs = Corpus.generate(ctx.seed, BaseDocs)
    inputDocs = docs.size.toLong
    docs.toDS().repartition(4).write.mode("overwrite").parquet(input)
    // the oracle replays q77 on exactly this corpus
    val sql = graft.SparkEntry.oracleSql("q77_corpus_pipeline_full")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"${ctx.dir}/q77_oracle.sql"),
      sql.getBytes("UTF-8"))
  }

  /** One curation pass plus the per-language stats. */
  private def pass(in: String, out: String) =
    ctx.span("CurationPipeline.curateFullToParquet", "operators.curation") {
      val curated = CurationPipeline.curateFullToParquet(spark.read.parquet(in), "text", "doc_id",
        "lang", col("doc_id") % 10 === 0, out)
      CurationPipeline.statsByLang(curated).collect()
    }

  def op(i: Int): OpResult = {
    val out = s"${ctx.dir}/pass_${i + 1}"
    val t0 = System.nanoTime()
    val stats = pass(input, out)
    val seconds = (System.nanoTime() - t0) / 1e9

    val ids = spark.read.parquet(s"$out/6_decontaminated.parquet").select("doc_id")
      .collect().map(_.getLong(0)).sorted
    val answer = if (ctx.plant && i == 0) ids.drop(1) else ids
    val statsText = stats.map(r => (0 until r.length).map(r.get).mkString("|")).sorted.mkString(";")
    val d = (sha256(answer.mkString(",")), sha256(statsText))
    if (reference.isEmpty) {
      reference = Some(d)
      // the survivor ids the oracle check compares with q77's
      java.nio.file.Files.write(java.nio.file.Paths.get(survivorsPath),
        answer.mkString(",").getBytes("UTF-8"))
    }
    passes += 1
    val ok = reference.contains(d) && ids.nonEmpty
    lastOutBytes = Main.duBytes(out)
    lastFinalBytes = Main.duBytes(s"$out/6_decontaminated.parquet")
    written += lastOutBytes
    if (i > 0) Main.deleteTree(s"${ctx.dir}/pass_$i")
    OpResult("pass", seconds, inputDocs, ok)
  }

  def writtenBytes: Long = written
  def inputBytes: Long = Main.duBytes(input) * passes
  def bytesOnDisk: Long = lastOutBytes
  def liveBytes: Long = lastFinalBytes
  def layerExtras: Map[String, Double] = Map.empty
  override def detail: Map[String, Any] = Map(
    "corpus_path" -> input, "oracle_sql_path" -> s"${ctx.dir}/q77_oracle.sql",
    "survivors_path" -> survivorsPath,
    "survivor_digest" -> reference.get._1, "stats_digest" -> reference.get._2,
    "input_docs" -> inputDocs)

  private def sha256(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
}

object CurateWorkload {
  val BaseDocs = 2000
}
