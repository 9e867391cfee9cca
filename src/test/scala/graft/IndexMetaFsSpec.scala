package graft

import java.net.URI

import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers

import graft.operators.{DedupOps, SearchOps, SemanticIndex, SimilarityOps, VectorIndex}

/** A RawLocalFileSystem registered under a NON-default URI scheme — the
  * cheapest way to prove the persisted-index lifecycles resolve every
  * metadata touch (POINTER reads/swaps, manifests, ledgers, version
  * listings, `_SUCCESS` probes) through the Hadoop FileSystem API: a
  * stray `java.io.File` on a `graftfs:///...` root would look for a
  * literal `graftfs:` directory on the driver's disk and silently read
  * nothing. Hadoop instantiates this by reflection from
  * `fs.graftfs.impl`, so it must be top-level with a no-arg constructor.
  */
class GraftTestFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: URI = URI.create("graftfs:///")
}

/** Runs one full lifecycle of EACH persisted index (postings/BM25,
  * vector/IVF-PQ, semantic dedup and corpus dedup) against a `graftfs://` root and pins equality with
  * the default-FS answer — the round-12 deployment-surface contract:
  * an index whose manifest can't live beside its data (file://, s3a://)
  * is local-demo-only.
  */
class IndexMetaFsSpec extends SparkSpec with Matchers {
  import spark.implicits._

  spark.sparkContext.hadoopConfiguration
    .set("fs.graftfs.impl", classOf[GraftTestFs].getName)

  private def schemeRoot(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toFile
    org.apache.commons.io.FileUtils.forceDeleteOnExit(d)
    s"graftfs://${d.getPath}"
  }

  private val docs = Seq(
    (0L, "the cat sat on the mat"),
    (1L, "the dog sat on the log"),
    (2L, "cat cat cat"),
    (3L, "  The   CAT\tsat  "),
    (4L, ""),
    (5L, "unique pangolin"),
    (6L, "dog and cat and pangolin"),
    (7L, "mat dog mat")
  ).toDF("doc_id", "text")

  private def q(terms: (Long, String)*) = terms.toDF("query_id", "term")

  test("postings lifecycle (build → append → delete → fold → serve) on a graftfs:// root") {
    val qs = q((0L, "cat"), (0L, "sat"), (1L, "dog"), (2L, "pangolin"))
    val root = schemeRoot("graft_metafs_bm25_")

    SearchOps.buildPostingsIndex(docs.filter($"doc_id" <= 3), "text", "doc_id", root)
    assert(SearchOps.postingsIndexExists(root), "pointer must resolve through graftfs")
    SearchOps.appendPostingsIndex(docs.filter($"doc_id" > 3), "text", "doc_id",
      root, batchTag = "b1") shouldBe Some(2)
    // replayed tag must no-op through the graftfs-resolved manifest ledger
    SearchOps.appendPostingsIndex(docs.filter($"doc_id" > 3), "text", "doc_id",
      root, batchTag = "b1") shouldBe None
    SearchOps.deleteFromPostingsIndex(spark, root, Seq(1L).toDF("doc_id"))
    SearchOps.foldPostingsIndex(spark, root)
    // retention GC resolves listings and deletions through graftfs too
    assert(SearchOps.prunePostingsVersions(spark, root).nonEmpty,
      "post-fold prune must collect the superseded chain")
    assert(!graft.io.IndexMeta.exists(SearchOps.postingsVersionDir(root, 1)))

    val served = SearchOps.bm25TopKIndexed(spark, root, qs, topK = 10)
      .orderBy("query_id", "rank").collect().toSeq
    // oracle: the plain in-memory path on the surviving corpus (default FS)
    val expect = SearchOps.bm25TopK(docs.filter($"doc_id" =!= 1L),
        "text", "doc_id", qs, topK = 10)
      .orderBy("query_id", "rank").collect().toSeq
    served shouldBe expect
    served.map(_.getLong(1)) should not contain 1L
  }

  test("vector-index versioned lifecycle (build → swap → batch-append → fold → query) on a graftfs:// root") {
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val (dim, m, k) = (64, 4, 16)
    val root = schemeRoot("graft_metafs_vindex_")

    val (model, codes) = VectorIndex.build(emb, "vec_id", "embedding", "label", dim, m, k)
    VectorIndex.writeVersion(model, codes, root, 1)
    assert(VectorIndex.exists(VectorIndex.versionDir(root, 1)),
      "_SUCCESS probes must resolve through graftfs")
    VectorIndex.swapPointer(root, 1)
    VectorIndex.currentVersion(root) shouldBe Some(1)

    val batch = emb.filter(col("vec_id") % 10 === 0)
      .select((col("vec_id").cast("long") + 200000L).as("vec_id"), col("embedding"))
    val v1 = VectorIndex.versionDir(root, 1)
    assert(VectorIndex.appendBatch(batch, "vec_id", "embedding", model, v1, batchId = 0L))
    // replay no-ops via the graftfs-resolved _SUCCESS probe
    assert(!VectorIndex.appendBatch(batch, "vec_id", "embedding", model, v1, batchId = 0L))

    VectorIndex.foldIngestAndSwap(spark, root, dim, m, k) shouldBe 2
    VectorIndex.currentVersion(root) shouldBe Some(2)
    // retention GC through graftfs: v1 collects, v2 keeps serving
    VectorIndex.pruneVersions(root) shouldBe Nil // default keeps the grace version
    VectorIndex.pruneVersions(root, keepLatest = 1) shouldBe Seq(1)
    assert(!graft.io.IndexMeta.exists(VectorIndex.versionDir(root, 1)))
    // the folded-batch ledger carried through graftfs: a cross-swap
    // replay of batch 0 against v2 must still no-op
    assert(!VectorIndex.appendBatch(batch, "vec_id", "embedding", model,
      VectorIndex.versionDir(root, 2), batchId = 0L))

    val raw = emb.select(col("vec_id"), col("embedding"))
      .unionByName(batch.select(col("vec_id"), col("embedding")))
    val got = VectorIndex.query(emb, "vec_id", "embedding",
        VectorIndex.readCurrentModel(spark, root, dim, m, k),
        VectorIndex.readCurrentCodes(spark, root), rawVectors = raw,
        nprobe = 2, shortlist = 10, topK = 3)
      .orderBy("query_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.nonEmpty)
    // equality oracle: same build + bulk append on a DEFAULT-FS root
    val local = java.nio.file.Files.createTempDirectory("graft_metafs_ref_").toFile
    org.apache.commons.io.FileUtils.forceDeleteOnExit(local)
    VectorIndex.write(model, codes, local.getPath)
    VectorIndex.append(batch, "vec_id", "embedding", model, local.getPath)
    val expect = VectorIndex.query(emb, "vec_id", "embedding", model,
        VectorIndex.readCodes(spark, local.getPath), rawVectors = raw,
        nprobe = 2, shortlist = 10, topK = 3)
      .orderBy("query_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    got.toSeq shouldBe expect.toSeq
  }

  test("semantic-index lifecycle (build → judge → batch-append → fold → prune) on a graftfs:// root") {
    // four axis vectors: k=4 training puts each in its own cell with the
    // centroid ON it, so the verdicts below are exact by hand
    val corpus = Seq(
      (0L, Seq(10.0, 0.0, 0.0, 0.0)), (1L, Seq(0.0, 10.0, 0.0, 0.0)),
      (2L, Seq(0.0, 0.0, 10.0, 0.0)), (3L, Seq(0.0, 0.0, 0.0, 10.0))
    ).toDF("vid", "vd")
    // 100 is a near-copy of corpus 0 (dup); 101 sits between two axes (kept)
    val batch = Seq((100L, Seq(9.8, 0.1, 0.0, 0.0)), (101L, Seq(5.0, 5.0, 0.0, 0.0)))
      .toDF("vid", "vd")
    val probe = Seq((200L, Seq(5.0, 5.0, 0.0, 0.0))).toDF("vid", "vd")
    def rows(df: org.apache.spark.sql.DataFrame) = df.select("vid", "dup_of", "kept")
      .orderBy("vid").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1), r.getBoolean(2)))
      .toSeq
    def ingest(root: String): Unit = {
      val dir = SemanticIndex.versionDir(root, SemanticIndex.currentVersion(root).get)
      val (verdicts, labeled) = SemanticIndex.judgeBatch(batch, "vid", "vd", dir, 0.81)
      rows(verdicts) shouldBe Seq((100L, 0L, false), (101L, -1L, true))
      val kept = labeled.join(verdicts.filter(col("kept")).select("vid"),
        Seq("vid"), "left_semi")
      assert(SemanticIndex.appendBatch(kept, dir, batchId = 0L))
      // replay no-ops via the graftfs-resolved _SUCCESS probe
      assert(!SemanticIndex.appendBatch(kept, dir, batchId = 0L))
    }
    val root = schemeRoot("graft_metafs_semidx_")

    SemanticIndex.buildAndServe(corpus, "vid", "vd", k = 4, maxIter = 2, root) shouldBe 1
    assert(SemanticIndex.exists(SemanticIndex.versionDir(root, 1)),
      "_MODEL_OK probes must resolve through graftfs")
    ingest(root)
    SemanticIndex.foldIngestAndSwap(spark, root) shouldBe 2
    SemanticIndex.currentVersion(root) shouldBe Some(2)
    // retention GC through graftfs: v1 collects, v2 keeps serving
    SemanticIndex.pruneVersions(root) shouldBe Nil // default keeps the grace version
    SemanticIndex.pruneVersions(root, keepLatest = 1) shouldBe Seq(1)
    assert(!graft.io.IndexMeta.exists(SemanticIndex.versionDir(root, 1)))
    // the folded-batch ledger carried through graftfs: a cross-swap
    // replay of batch 0 against v2 is already applied
    assert(SemanticIndex.batchApplied(SemanticIndex.versionDir(root, 2), 0L))

    val got = rows(SemanticIndex.judgeBatch(probe, "vid", "vd",
      SemanticIndex.versionDir(root, 2), 0.81)._1)
    // an exact copy of kept 101 dups against the folded segment row
    got shouldBe Seq((200L, 101L, false))
    // equality oracle: same build + ingest on a DEFAULT-FS root, unfolded
    val local = java.nio.file.Files.createTempDirectory("graft_metafs_semref_").toFile
    org.apache.commons.io.FileUtils.forceDeleteOnExit(local)
    SemanticIndex.buildAndServe(corpus, "vid", "vd", k = 4, maxIter = 2, local.getPath)
    ingest(local.getPath)
    got shouldBe rows(SemanticIndex.judgeBatch(probe, "vid", "vd",
      SemanticIndex.versionDir(local.getPath, 1), 0.81)._1)
  }

  test("corpus-dedup lifecycle (build → append → fold → prune) on a graftfs:// root") {
    val corpus = Seq(
      (0L, "the quick brown fox jumps over the lazy dog near the river bank"),
      (1L, "an entirely separate corpus document about streaming ingestion pipelines")
    ).toDF("doc_id", "text")
    val accepted = Seq((100L, "fresh material accepted into the corpus about spark state stores"))
      .toDF("doc_id", "text")
    val probe = Seq(
      (200L, "fresh material accepted into the corpus about spark state stores"),
      (201L, "the quick brown fox jumps over the lazy dog near the river bend"),
      (202L, "nothing like anything else in this corpus at all")).toDF("doc_id", "text")
    def lifecycle(root: String, fold: Boolean): Seq[(Long, String)] = {
      DedupOps.writeCorpusDedupIndex(
        DedupOps.buildCorpusDedupIndex(corpus, "text", "doc_id"), root, buckets = 2) shouldBe 1
      assert(DedupOps.corpusDedupIndexExists(root), "pointer must resolve through graftfs")
      assert(DedupOps.appendToCorpusDedupIndex(accepted, "text", "doc_id", root, 0L))
      // replay no-ops via the graftfs-resolved _SUCCESS probe
      assert(!DedupOps.appendToCorpusDedupIndex(accepted, "text", "doc_id", root, 0L))
      if (fold) {
        DedupOps.compactCorpusDedupIndex(spark, root, maxFilesPerBucket = 0)
        DedupOps.pruneCorpusDedupIndex(root, keepLatest = 1) shouldBe Seq(1)
        assert(!graft.io.IndexMeta.exists(DedupOps.corpusIndex.versionDir(root, 1)))
        // the ledger carried through graftfs: the replay stays a no-op
        assert(!DedupOps.appendToCorpusDedupIndex(accepted, "text", "doc_id", root, 0L))
      }
      DedupOps.incrementalDedupPrepared(probe, DedupOps.readCorpusDedupIndex(spark, root),
          "text", "doc_id")
        .orderBy("new_id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    }
    val got = lifecycle(schemeRoot("graft_metafs_dedup_"), fold = true)
    got shouldBe Seq(200L -> "exact_dup", 201L -> "near_dup", 202L -> "kept")
    // equality oracle: same build + append on a DEFAULT-FS root, unfolded
    val local = java.nio.file.Files.createTempDirectory("graft_metafs_dedupref_").toFile
    org.apache.commons.io.FileUtils.forceDeleteOnExit(local)
    got shouldBe lifecycle(local.getPath, fold = false)
  }
}
