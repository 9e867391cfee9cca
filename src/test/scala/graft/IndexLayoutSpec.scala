package graft

import org.apache.spark.sql.functions._

import graft.operators.{SearchOps, SemanticIndex, VectorIndex}
import graft.streaming.StreamOps

/** Pins the on-disk layout each versioned index family leaves behind
  * after one build → ingest → fold → prune round: the relative path set
  * under the root, with part-file names, claim tokens and `.crc`
  * sidecars masked. Roots persisted by earlier builds must keep serving
  * unchanged, so any change to this set is a format change, not a
  * refactor.
  */
class IndexLayoutSpec extends SparkSpec {
  import spark.implicits._

  private def tmpRoot(name: String): java.io.File = {
    val d = java.nio.file.Files.createTempDirectory(name).toFile
    org.apache.commons.io.FileUtils.forceDeleteOnExit(d)
    d
  }

  /** Every file and directory below `root`, relative, masked. */
  private def layout(root: java.io.File): Set[String] = {
    val base = root.toPath
    val walk = java.nio.file.Files.walk(base)
    try {
      import scala.jdk.CollectionConverters._
      walk.iterator().asScala.filter(_ != base)
        .map(p => base.relativize(p).toString.replace('\\', '/'))
        .filterNot(_.split('/').last.endsWith(".crc"))
        .map(_.replaceAll("part-[^/]*", "part-*")
          .replaceAll("_CLAIM\\.[^/]*", "_CLAIM.*"))
        .toSet
    } finally walk.close()
  }

  /** `dir` plus its `_SUCCESS` marker and part files. */
  private def table(dir: String): Set[String] =
    Set(dir, s"$dir/_SUCCESS", s"$dir/part-*")

  private def cells(dir: String, cs: Seq[Int]): Set[String] =
    Set(dir, s"$dir/_SUCCESS") ++
      cs.flatMap(c => Set(s"$dir/cell=$c", s"$dir/cell=$c/part-*"))

  test("postings root after build → append → fold → prune") {
    val root = tmpRoot("layout_postings")
    val docs = Seq((0L, "the cat sat"), (1L, "the dog sat"), (2L, "cat cat"),
      (3L, "unique pangolin")).toDF("doc_id", "text")
    SearchOps.buildPostingsIndex(docs.filter($"doc_id" <= 1), "text", "doc_id", root.getPath)
    SearchOps.appendPostingsIndex(docs.filter($"doc_id" > 1), "text", "doc_id",
      root.getPath, batchTag = "b0")
    SearchOps.foldPostingsIndex(spark, root.getPath)
    assert(SearchOps.prunePostingsVersions(spark, root.getPath, keepLatest = 1) == Seq(1, 2))
    val v = "versions/v0003"
    assert(layout(root) == Set("POINTER", "_claims", "versions", v,
        s"$v/_CLAIM.*", s"$v/manifest.json", s"$v/postings") ++
      table(s"$v/postings/seg0003") ++ table(s"$v/termstats"))
  }

  test("vector root after build → batch append → fold → prune") {
    val root = tmpRoot("layout_vector")
    val emb = (0 until 12).map { i =>
      (i.toLong, Seq.tabulate(4)(d => if (d == i % 2) 5.0 + i else 0.1 * i), (i % 2).toLong)
    }.toDF("vec_id", "embedding", "label")
    val (model, codes) = VectorIndex.build(emb, "vec_id", "embedding", "label", 4, 2, 2)
    VectorIndex.writeVersion(model, codes, root.getPath, 1)
    VectorIndex.swapPointer(root.getPath, 1)
    val batch = emb.filter(col("vec_id") < 4)
      .select((col("vec_id") + 100L).as("vec_id"), col("embedding"))
    assert(VectorIndex.appendBatch(batch, "vec_id", "embedding", model,
      VectorIndex.versionDir(root.getPath, 1), batchId = 0L))
    assert(VectorIndex.foldIngestAndSwap(spark, root.getPath, 4, 2, 2) == 2)
    assert(VectorIndex.pruneVersions(root.getPath, keepLatest = 1) == Seq(1))
    val v = "versions/v0002"
    assert(layout(root) == Set("POINTER", "_claims", "versions", v,
        s"$v/_CLAIM.*", s"$v/folded_batches.txt") ++
      cells(s"$v/codes", Seq(0, 1)) ++
      table(s"$v/centroids") ++ table(s"$v/codebooks"))
  }

  test("semantic root after build → intake trigger → fold → prune") {
    val root = tmpRoot("layout_semantic")
    val target = tmpRoot("layout_semantic_verdicts")
    val corpus = Seq(
      (0L, Seq(10.0, 0.0, 0.0, 0.0)), (1L, Seq(0.0, 10.0, 0.0, 0.0)),
      (2L, Seq(0.0, 0.0, 10.0, 0.0)), (3L, Seq(0.0, 0.0, 0.0, 10.0))
    ).toDF("vid", "vd")
    SemanticIndex.buildAndServe(corpus, "vid", "vd", k = 4, maxIter = 2, root.getPath)
    val batch = Seq((100L, Seq(9.8, 0.1, 0.0, 0.0)), (101L, Seq(5.0, 5.0, 0.0, 0.0)))
      .toDF("vid", "vd")
    StreamOps.semanticIntakeTrigger(batch, 0L, root.getPath, "vid", "vd",
      target.getPath, t2 = 0.81)
    assert(SemanticIndex.foldIngestAndSwap(spark, root.getPath) == 2)
    assert(SemanticIndex.pruneVersions(root.getPath, keepLatest = 1) == Seq(1))
    val v = "versions/v0002"
    assert(layout(root) == Set("POINTER", "_claims", "versions", v,
        s"$v/_CLAIM.*", s"$v/_MODEL_OK", s"$v/folded_batches.txt") ++
      cells(s"$v/labeled", Seq(0, 1, 2, 3)) ++ table(s"$v/centroids"))
  }
}
