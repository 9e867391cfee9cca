package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{CurationPipeline, DedupOps, GraphOps, MultimodalOps, ScrubOps, SimilarityOps, SplitOps, TextOps, VectorIndex}

import graft.queries.LlmFixtures._

/** Training-data-pipeline operator surface (north star beyond the
  * reference): dedupe, similarity search, text analysis, multimodal
  * plumbing — over the `documents` and `embeddings` tables.
  */
object LlmPipeline {
  private def t(s: SparkSession, dir: String, n: String) = Tables.load(s, dir, n)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Exact dedupe: planted duplicates (every 50th doc re-appended with a
    // shifted id) collapse to the smallest id.
    "q26_dedup_exact" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id").cast("long").as("doc_id"), col("text"))
      val planted = docs.filter(col("doc_id") % 50 === 0)
        .withColumn("doc_id", col("doc_id") + 1000000L)
      val (_, groups) = DedupOps.exactDedup(docs.unionByName(planted), "text", "doc_id")
      groups.select(col("keeper_id").cast("long").as("keeper_id"),
          col("n_docs").cast("long").as("n_docs"))
        .orderBy("keeper_id")
    }),

    // Near-dup pairs, brute-force 3-gram shingle Jaccard (correctness
    // baseline for the LSH path).
    "q27_neardup_brute" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      DedupOps.bruteNearDupPairs(docs, "text", "doc_id", n = 3, threshold = 0.5)
        .orderBy("doc_a", "doc_b")
    }),

    // Same pairs via MinHash+LSH (64 hashes, 32 bands × 2 rows) with exact
    // post-verification — the 100 TB path; shares the brute-force oracle.
    "q28_neardup_minhash" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      DedupOps.minhashNearDupPairs(docs, "text", "doc_id",
          n = 3, numHashes = 64, bands = 32, threshold = 0.5,
          maxBucket = DedupOps.NoBucketCap)
        .orderBy("doc_a", "doc_b")
    }),

    // SimHash near-dup pairs (hamming ≤ 3). Signatures use the sha256-
    // prefix 60-bit token hash so DuckDB recomputes the identical pipeline
    // end-to-end (the xxhash64 default stays for production speed — same
    // operator, different tokenHash argument).
    "q29_neardup_simhash" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val sig = DedupOps.simhash(docs, "text", "doc_id",
        tokenHash = DedupOps.shaTokenHash, bits = 60)
      DedupOps.simhashNearDupPairs(sig, maxHamming = 3, bits = 60,
          maxBucket = DedupOps.NoBucketCap)
        .select(col("doc_a"), col("doc_b"), col("hamming").cast("long").as("hamming"))
        .orderBy("doc_a", "doc_b")
    }),

    // ANN: brute-force cosine top-5 neighbors per vector.
    "q30_ann_topk_brute" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      SimilarityOps.bruteTopK(emb, "vec_id", "embedding", k = 5)
        .orderBy("query_id", "rank")
    }),

    // ANN scale path: IVF-style search restricted to the coarse cell
    // (the precomputed cluster label).
    "q31_ann_topk_cell" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      SimilarityOps.topKWithinPartition(emb, "vec_id", "embedding", "label", k = 3)
        .select(col("cell").cast("long").as("cell"), col("query_id"), col("neighbor_id"), col("rank"))
        .orderBy("query_id", "rank")
    }),

    // ANN memory-compressed scale path: product quantization. Codebooks
    // seed deterministically (16 smallest-id vectors, 4 subspaces of 16
    // dims), every vector encodes to 4 small codes, and search is the
    // asymmetric-distance scan (per-query lookup table, m adds per
    // neighbor, never the neighbor's floats) restricted to the query's
    // IVF cell — the composition that scans a 100 TB corpus from ~1.5%
    // of its bytes. Integer-exact throughout, so the oracle rebuilds
    // codebooks, codes, lookup tables, and ranks end-to-end.
    "q102_ann_topk_pq" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cb = SimilarityOps.pqCodebooks(emb, "vec_id", "embedding",
        dim = 64, m = 4, k = 16)
      SimilarityOps.pqAdcTopK(emb, "vec_id", "embedding", cb, k = 3,
          cellCol = Some("label"))
        .orderBy("query_id", "rank")
    }),

    // q102 with TRAINED codebooks: two Lloyd iterations refine every
    // subspace codebook (one Spark job per iteration trains all four —
    // the (subspace, code, dim) sufficient-statistics shuffle is
    // O(k·dim) rows regardless of corpus size), then the same
    // encode + cell-restricted ADC scan runs on the trained model.
    // Integer-exact end to end; the oracle unrolls
    // seed → assign → update → assign → update → encode → rank in SQL.
    "q103_ann_topk_pq_trained" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cb = SimilarityOps.pqTrainCodebooks(emb, "vec_id", "embedding",
        dim = 64, m = 4, k = 16, maxIter = 2)
      SimilarityOps.pqAdcTopK(emb, "vec_id", "embedding", cb, k = 3,
          cellCol = Some("label"))
        .orderBy("query_id", "rank")
    }),

    // Residual IVF-PQ (the IVFADC composition): same cell restriction
    // as q102, but codes quantize cell-centroid RESIDUALS instead of
    // raw vectors — residuals cluster around zero with far smaller
    // spread, so the same 4×16 code budget quantizes finer (the design
    // every production IVF-PQ store uses). Centroids are truncating
    // integer means per cell (the kmeansTrain update rule), residuals
    // and ADC distances exact longs, so the oracle rebuilds
    // centroid → residual → codebooks → codes → rank bit-identically.
    "q107_ann_topk_ivfpq_residual" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      SimilarityOps.ivfPqTopK(emb, "vec_id", "embedding", "label",
          dim = 64, m = 4, k = 16, topK = 3)
        .orderBy("query_id", "rank")
    }),

    // q107 with multi-probe: each query searches its TWO nearest cells
    // by centroid distance (re-residualizing against each probed cell's
    // centroid, the per-list ADC a disk-resident IVFADC runs) — the
    // recall lever for queries filed near a cell boundary. Neighbor
    // codes are q107's own-cell residual codes, encoded once.
    "q108_ann_topk_ivfpq_probed" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      SimilarityOps.ivfPqTopKProbed(emb, "vec_id", "embedding", "label",
          dim = 64, m = 4, k = 16, nprobe = 2, topK = 3)
        .orderBy("query_id", "rank")
    }),

    // Two-stage retrieval: q108's multi-probe ADC scan kept to a
    // 10-candidate shortlist per query, then EXACT squared-L2 re-rank
    // on the quantized vectors — only the |Q|·10 surviving pairs touch
    // raw vectors, so at 100 TB the exact arithmetic runs on a
    // vanishing fraction of the corpus (the standard IVF-PQ refinement
    // stage). Exact longs end to end.
    "q109_ann_topk_ivfpq_refined" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      SimilarityOps.ivfPqTopKRefined(emb, "vec_id", "embedding", "label",
          dim = 64, m = 4, k = 16, nprobe = 2, shortlist = 10, topK = 3)
        .orderBy("query_id", "rank")
    }),

    // The PERSISTED-index lifecycle (the q78 pattern applied to ANN):
    // build the residual IVF-PQ index ONCE per corpus (cell-partitioned
    // codes parquet + model tables under a data-stamped tmp dir), then
    // answer q109's exact query THROUGH the stored files — the
    // build-once / query-many path a serving vector store runs, where
    // per-query cost is the probed partitions' codes + a |Q|·shortlist
    // raw-vector fetch, never a corpus re-encode. Results (and the
    // DuckDB oracle) are q109's verbatim — VectorIndexSpec pins the
    // persisted-vs-derived equality.
    "q110_ann_topk_indexed" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val root = ensureQ110Index(s, dir, emb)
      val model = VectorIndex.readModel(s, root, dim = 64, m = 4, k = 16)
      val codes = VectorIndex.readCodes(s, root)
      VectorIndex.query(emb, "vec_id", "embedding", model, codes,
          rawVectors = emb, nprobe = 2, shortlist = 10, topK = 3)
        .orderBy("query_id", "rank")
    }),

    // The index-lifecycle oracle: build the persisted index on the
    // FIRST HALF of the corpus (vec_id <= max/2), APPEND the second
    // half through the stored quantizer (coarse-assign to the nearest
    // stored centroid, encode with the stale codebooks — the standard
    // between-retrains ingest, where model staleness is the documented
    // trade), then answer q109's query over the combined index. The
    // DuckDB oracle unrolls base-model → base-codes → assign → append-
    // codes → probe → ADC → exact re-rank end to end. A fresh work dir
    // per run: append is cumulative, so reuse would double rows.
    "q111_ann_topk_index_appended" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cutoff = emb.agg(max(col("vec_id").cast("long"))).head().getLong(0) / 2
      val base = emb.filter(col("vec_id") <= cutoff)
      val rest = emb.filter(col("vec_id") > cutoff)
      val root = java.nio.file.Files.createTempDirectory("graft_q111_vindex_").toFile
      org.apache.commons.io.FileUtils.forceDeleteOnExit(root)
      val (model, codes) = VectorIndex.build(base, "vec_id", "embedding", "label",
        dim = 64, m = 4, k = 16)
      VectorIndex.write(model, codes, root.getPath)
      VectorIndex.append(rest, "vec_id", "embedding", model, root.getPath)
      VectorIndex.query(emb, "vec_id", "embedding", model,
          VectorIndex.readCodes(s, root.getPath), rawVectors = emb,
          nprobe = 2, shortlist = 10, topK = 3)
        .orderBy("query_id", "rank")
    }),

    // The FULL lifecycle loop, closing q111's documented staleness trade:
    // build v1 on the base half → swap the pointer → append the second
    // half through the (now stale) v1 model and serve it (phase 'stale'
    // ≡ q111's answer) → RETRAIN from the full corpus into v2 → atomic
    // pointer swap → serve again (phase 'retrained' ≡ q109's answer,
    // because a full retrain is definitionally the derive-in-query model
    // on the full corpus). The oracle is the two phases' SQL composed
    // verbatim — no third derivation to drift.
    "q112_ann_index_retrain_swap" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cutoff = emb.agg(max(col("vec_id").cast("long"))).head().getLong(0) / 2
      val base = emb.filter(col("vec_id") <= cutoff)
      val rest = emb.filter(col("vec_id") > cutoff)
      val root = java.nio.file.Files.createTempDirectory("graft_q112_vindex_").toFile
      org.apache.commons.io.FileUtils.forceDeleteOnExit(root)
      val (m1, c1) = VectorIndex.build(base, "vec_id", "embedding", "label",
        dim = 64, m = 4, k = 16)
      VectorIndex.writeVersion(m1, c1, root.getPath, 1)
      VectorIndex.swapPointer(root.getPath, 1)
      VectorIndex.append(rest, "vec_id", "embedding", m1,
        VectorIndex.versionDir(root.getPath, 1))
      val stale = VectorIndex.query(emb, "vec_id", "embedding",
          VectorIndex.readCurrentModel(s, root.getPath, dim = 64, m = 4, k = 16),
          VectorIndex.readCurrentCodes(s, root.getPath), rawVectors = emb,
          nprobe = 2, shortlist = 10, topK = 3)
        .withColumn("phase", lit("stale"))
      VectorIndex.retrainAndSwap(emb, "vec_id", "embedding", "label",
        dim = 64, m = 4, k = 16, root.getPath)
      val fresh = VectorIndex.query(emb, "vec_id", "embedding",
          VectorIndex.readCurrentModel(s, root.getPath, dim = 64, m = 4, k = 16),
          VectorIndex.readCurrentCodes(s, root.getPath), rawVectors = emb,
          nprobe = 2, shortlist = 10, topK = 3)
        .withColumn("phase", lit("retrained"))
      stale.unionByName(fresh)
        .select("phase", "query_id", "neighbor_id", "exact_dist", "rank")
        .orderBy("phase", "query_id", "rank")
    }),

    // Filtered ANN (the serving store's metadata pre-filter): the
    // predicate narrows the candidate set BEFORE the ADC scan — a
    // post-filter would return fewer than topK — and sits directly on
    // the codes relation, so it runs inside the scan stage before the
    // probe join (a comparison/IN predicate would additionally push
    // into parquet row-group stats). Served through q110's cached
    // persisted index.
    "q113_ann_topk_filtered" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val root = ensureQ110Index(s, dir, emb)
      VectorIndex.query(emb, "vec_id", "embedding",
          VectorIndex.readModel(s, root, dim = 64, m = 4, k = 16),
          VectorIndex.readCodes(s, root), rawVectors = emb,
          nprobe = 2, shortlist = 10, topK = 3,
          neighborFilter = Some(col("vid") % 2 === 0))
        .orderBy("query_id", "rank")
    }),

    // Tombstoned deletes: ids % 7 == 0 are deleted from a fresh copy of
    // the index (tombstones are an append-only side table anti-joined
    // out before the ADC scan; code files never rewritten — the
    // LSM-style delete, folded away at the next retrain). A fresh work
    // dir per run keeps the tombstone table deterministic.
    "q114_ann_topk_deleted" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val root = java.nio.file.Files.createTempDirectory("graft_q114_vindex_").toFile
      org.apache.commons.io.FileUtils.forceDeleteOnExit(root)
      val (model, codes) = VectorIndex.build(emb, "vec_id", "embedding", "label",
        dim = 64, m = 4, k = 16)
      VectorIndex.write(model, codes, root.getPath)
      VectorIndex.delete(emb.filter(col("vec_id") % 7 === 0).select("vec_id"),
        "vec_id", root.getPath)
      VectorIndex.query(emb, "vec_id", "embedding", model,
          VectorIndex.readCodes(s, root.getPath), rawVectors = emb,
          nprobe = 2, shortlist = 10, topK = 3,
          tombstones = Some(VectorIndex.readTombstones(s, root.getPath)))
        .orderBy("query_id", "rank")
    }),

    // Streaming ingest into the persisted vector index: build the base
    // index on the first half of the corpus, then stream the second
    // half through StreamOps.vectorIngestSink in three REAL micro-batch
    // triggers (split by vec_id % 3) of one unrestarted query — each
    // trigger encodes against the STORED model and commits its own
    // exactly-once ingest segment. Encoding is per-row against the
    // stored model, so any batch split yields byte-identical codes to
    // q111's one bulk append — the final query over base + committed
    // segments answers exactly q111's oracle (which unrolls the
    // stale-model append end to end in SQL). VectorIndexSpec pins the
    // replay/torn-segment exactly-once semantics; this entry pins the
    // multi-trigger end state under the driver's hash gate.
    "q115_ann_stream_ingest" -> ((s, dir) => {
      import s.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      val emb = t(s, dir, "embeddings")
      val cutoff = emb.agg(max(col("vec_id").cast("long"))).head().getLong(0) / 2
      val base = emb.filter(col("vec_id") <= cutoff)
      val rest = emb.filter(col("vec_id") > cutoff)
      val root = java.nio.file.Files.createTempDirectory("graft_q115_vindex_").toFile
      org.apache.commons.io.FileUtils.forceDeleteOnExit(root)
      val ckpt = java.nio.file.Files.createTempDirectory("graft_q115_ckpt_").toFile
      org.apache.commons.io.FileUtils.forceDeleteOnExit(ckpt)
      val (model, codes) = VectorIndex.build(base, "vec_id", "embedding", "label",
        dim = 64, m = 4, k = 16)
      VectorIndex.writeVersion(model, codes, root.getPath, 1)
      VectorIndex.swapPointer(root.getPath, 1)
      val input = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Seq[Double])]
      val q = graft.streaming.StreamOps.vectorIngestSink(
          input.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
          root.getPath, dim = 64, m = 4, k = 16)
        .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("0 seconds"))
        .option("checkpointLocation", ckpt.getPath)
        .start()
      def feed(df: DataFrame): Unit = {
        input.addData(df.select(col("vec_id").cast("long"),
            col("embedding").cast("array<double>"))
          .as[(Long, Seq[Double])].collect().toSeq: _*)
        q.processAllAvailable()
      }
      try (0 until 3).foreach(r => feed(rest.filter(col("vec_id") % 3 === r)))
      finally q.stop()
      VectorIndex.query(emb, "vec_id", "embedding", model,
          VectorIndex.readCodesWithIngest(s, VectorIndex.versionDir(root.getPath, 1)),
          rawVectors = emb,
          nprobe = 2, shortlist = 10, topK = 3)
        .orderBy("query_id", "rank")
    }),

    // Segment-fold compaction: q115's streamed ingest segments are
    // folded into the next index version (same model, one consolidated
    // cell-partitioned codes tree — the small-files compaction a
    // per-trigger segment layout needs at scale) and the query is
    // served through the SWAPPED version. Fold never re-encodes, so
    // the answer is q111's oracle verbatim — byte-identical to the
    // pre-fold q115 state, proven under the driver's hash gate.
    "q116_ann_stream_ingest_folded" -> ((s, dir) => {
      import s.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      val emb = t(s, dir, "embeddings")
      val cutoff = emb.agg(max(col("vec_id").cast("long"))).head().getLong(0) / 2
      val base = emb.filter(col("vec_id") <= cutoff)
      val rest = emb.filter(col("vec_id") > cutoff)
      val root = java.nio.file.Files.createTempDirectory("graft_q116_vindex_").toFile
      org.apache.commons.io.FileUtils.forceDeleteOnExit(root)
      val ckpt = java.nio.file.Files.createTempDirectory("graft_q116_ckpt_").toFile
      org.apache.commons.io.FileUtils.forceDeleteOnExit(ckpt)
      val (model, codes) = VectorIndex.build(base, "vec_id", "embedding", "label",
        dim = 64, m = 4, k = 16)
      VectorIndex.writeVersion(model, codes, root.getPath, 1)
      VectorIndex.swapPointer(root.getPath, 1)
      val input = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Seq[Double])]
      val q = graft.streaming.StreamOps.vectorIngestSink(
          input.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
          root.getPath, dim = 64, m = 4, k = 16)
        .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("0 seconds"))
        .option("checkpointLocation", ckpt.getPath)
        .start()
      try (0 until 3).foreach { r =>
        input.addData(rest.filter(col("vec_id") % 3 === r)
          .select(col("vec_id").cast("long"), col("embedding").cast("array<double>"))
          .as[(Long, Seq[Double])].collect().toSeq: _*)
        q.processAllAvailable()
      } finally q.stop()
      val v = VectorIndex.foldIngestAndSwap(s, root.getPath, dim = 64, m = 4, k = 16)
      require(v == 2, s"fold must swap to version 2, got $v")
      VectorIndex.query(emb, "vec_id", "embedding",
          VectorIndex.readCurrentModel(s, root.getPath, dim = 64, m = 4, k = 16),
          VectorIndex.readCurrentCodes(s, root.getPath), rawVectors = emb,
          nprobe = 2, shortlist = 10, topK = 3)
        .orderBy("query_id", "rank")
    }),

    // The versioned ingest lifecycle under the hash gate: POINTER-
    // resolved streaming sink (each trigger re-reads root/POINTER, so
    // maintenance swaps roll the running ingest with no restart) driven
    // across a segment fold AND a full retrain — triggers 1-2 land in
    // v1, the fold absorbs them into v2 (carrying the folded-batch
    // ledger that keeps cross-swap replays exactly-once), trigger 3
    // lands in v2, and the closing full-corpus retrain produces v3 =
    // the derive-in-query model over the full corpus, so the final
    // answer is q109's oracle verbatim. VectorIndexSpec pins the
    // cross-swap replay no-ops this entry's determinism rests on.
    "q117_ann_stream_ingest_versioned" -> ((s, dir) => {
      import s.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      val emb = t(s, dir, "embeddings")
      val cutoff = emb.agg(max(col("vec_id").cast("long"))).head().getLong(0) / 2
      val base = emb.filter(col("vec_id") <= cutoff)
      val rest = emb.filter(col("vec_id") > cutoff)
      val root = java.nio.file.Files.createTempDirectory("graft_q117_vindex_").toFile
      org.apache.commons.io.FileUtils.forceDeleteOnExit(root)
      val ckpt = java.nio.file.Files.createTempDirectory("graft_q117_ckpt_").toFile
      org.apache.commons.io.FileUtils.forceDeleteOnExit(ckpt)
      val (m1, c1) = VectorIndex.build(base, "vec_id", "embedding", "label",
        dim = 64, m = 4, k = 16)
      VectorIndex.writeVersion(m1, c1, root.getPath, 1)
      VectorIndex.swapPointer(root.getPath, 1)
      val input = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Seq[Double])]
      val q = graft.streaming.StreamOps.vectorIngestSink(
          input.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
          root.getPath, dim = 64, m = 4, k = 16)
        .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("0 seconds"))
        .option("checkpointLocation", ckpt.getPath)
        .start()
      def feed(r: Int): Unit = {
        input.addData(rest.filter(col("vec_id") % 3 === r)
          .select(col("vec_id").cast("long"), col("embedding").cast("array<double>"))
          .as[(Long, Seq[Double])].collect().toSeq: _*)
        q.processAllAvailable()
      }
      try {
        feed(0); feed(1)
        VectorIndex.foldIngestAndSwap(s, root.getPath, dim = 64, m = 4, k = 16)
        feed(2)
      } finally q.stop()
      val v = VectorIndex.retrainAndSwap(emb, "vec_id", "embedding", "label",
        dim = 64, m = 4, k = 16, root.getPath)
      require(v == 3, s"lifecycle must close on version 3, got $v")
      VectorIndex.query(emb, "vec_id", "embedding",
          VectorIndex.readCurrentModel(s, root.getPath, dim = 64, m = 4, k = 16),
          VectorIndex.readCurrentCodes(s, root.getPath), rawVectors = emb,
          nprobe = 2, shortlist = 10, topK = 3)
        .orderBy("query_id", "rank")
    }),

    // Retention GC under the hash gate: build → batch-append → fold
    // (v2) → prune. Vector versions are self-contained (fold rewrites
    // codes and carries both ledgers into the new dir), so the prune
    // collects v1 whole, the served answer is STILL q111's oracle
    // (fold re-encodes nothing), and a replay of the folded batch
    // against the pruned index still no-ops through the CARRIED ledger.
    "q129_ann_index_pruned" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cutoff = emb.agg(max(col("vec_id").cast("long"))).head().getLong(0) / 2
      val base = emb.filter(col("vec_id") <= cutoff)
      val rest = emb.filter(col("vec_id") > cutoff)
      val root = java.nio.file.Files.createTempDirectory("graft_q129_vindex_").toFile
      org.apache.commons.io.FileUtils.forceDeleteOnExit(root)
      val (m1, c1) = VectorIndex.build(base, "vec_id", "embedding", "label",
        dim = 64, m = 4, k = 16)
      VectorIndex.writeVersion(m1, c1, root.getPath, 1)
      VectorIndex.swapPointer(root.getPath, 1)
      val batch = rest.select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
      require(VectorIndex.appendBatch(batch, "vec_id", "embedding", m1,
        VectorIndex.versionDir(root.getPath, 1), batchId = 0L))
      VectorIndex.foldIngestAndSwap(s, root.getPath, dim = 64, m = 4, k = 16)
      // default prune keeps ONE grace version for un-claimed batch
      // readers of the superseded dir (the q149 convention, defaults
      // aligned across families in round 19); keepLatest=1 reclaims it
      require(VectorIndex.pruneVersions(root.getPath) == Seq.empty,
        "default prune must keep v1 as the reader-grace version")
      require(VectorIndex.pruneVersions(root.getPath, keepLatest = 1) == Seq(1),
        "keepLatest=1 must collect exactly the superseded version")
      require(!graft.io.IndexMeta.exists(VectorIndex.versionDir(root.getPath, 1)))
      require(!VectorIndex.appendBatch(batch, "vec_id", "embedding",
        VectorIndex.readCurrentModel(s, root.getPath, dim = 64, m = 4, k = 16),
        VectorIndex.versionDir(root.getPath, 2), batchId = 0L),
        "the carried ledger must keep blocking the folded batch's replay")
      VectorIndex.query(emb, "vec_id", "embedding",
          VectorIndex.readCurrentModel(s, root.getPath, dim = 64, m = 4, k = 16),
          VectorIndex.readCurrentCodes(s, root.getPath), rawVectors = emb,
          nprobe = 2, shortlist = 10, topK = 3)
        .orderBy("query_id", "rank")
    }),

    // q129's END STATE served without re-running the lifecycle: the
    // pruned vector index (half-build + batch append + fold + prune) is
    // built ONCE per (sf, fingerprint) and cached; later calls only
    // resolve the pointer and query — the q134 bench-hygiene split for
    // the vector family. Answer is q111's oracle verbatim (fold
    // re-encodes nothing, prune collects only unreferenced versions).
    "q135_ann_pruned_serve" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val root = ensurePrunedVectorIndex(s, dir, emb)
      VectorIndex.query(emb, "vec_id", "embedding",
          VectorIndex.readCurrentModel(s, root, dim = 64, m = 4, k = 16),
          VectorIndex.readCurrentCodes(s, root), rawVectors = emb,
          nprobe = 2, shortlist = 10, topK = 3)
        .orderBy("query_id", "rank")
    }),

    // ANN without a precomputed label: hyperplane-LSH quantizer with
    // multi-probe (flip the lowest-|margin| plane bits). Plane signs are
    // sha-derived and projections integer-quantized, so the oracle
    // recomputes buckets, probes, candidates, and ranks end-to-end.
    "q53_ann_topk_hyperplane" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      SimilarityOps.multiProbeTopK(emb, "vec_id", "embedding",
          numPlanes = 4, dim = 64, probes = 4, k = 5)
        .orderBy("query_id", "rank")
    }),

    // Embedding-cosine near-dup, brute baseline: all pairs with cosine
    // ≥ 0.9 over the embeddings corpus plus deterministic near-copies
    // (the base table has no organic high-cosine pairs — max ≈ 0.6 — so
    // every 5th vector is re-appended with its first component × 1.25,
    // cosine ≥ 0.99 to its source). Arithmetic is integer-quantized
    // (floor(x·1e6) longs) so the oracle is bit-exact.
    "q54_neardup_embedding" -> ((s, dir) => {
      DedupOps.bruteEmbeddingNearDupPairs(nearDupCorpus(s, dir), "vid", "vd", t2 = 0.81)
        .orderBy("vec_a", "vec_b")
    }),

    // Same pairs via banded sign-LSH (16 bands × 8 hyperplanes) with exact
    // integer-cosine verification — the 100 TB path; shares q54's corpus
    // and produces identical output (miss probability ≈ 6e-11 per true
    // pair at cosine 0.99).
    // 16 planes/band: 16-bit buckets hold the ~1/65536 random-collision
    // rate down so the exact-verify join sees thousands of candidates,
    // not millions (8-bit buckets cost 5x the whole query); planted
    // near-dups are cos ≥ 0.996, where a 16x16 banding misses with
    // p ≈ 1e-7.
    "q55_neardup_embedding_lsh" -> ((s, dir) => {
      DedupOps.lshEmbeddingNearDupPairs(nearDupCorpus(s, dir), "vid", "vd",
          dim = 64, bands = 16, planesPerBand = 16, t2 = 0.81,
          maxBucket = DedupOps.NoBucketCap)
        .orderBy("vec_a", "vec_b")
    }),

    // Language ID (marker-word heuristic) vs the labeled lang column.
    "q32_lang_id" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      docs.select(col("doc_id").cast("long").as("doc_id"),
          TextOps.langId(col("text")).as("lang_pred"),
          col("lang").as("lang_label"))
        .orderBy("doc_id")
    }),

    // Quality scoring bands.
    "q33_quality_score" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id").cast("long").as("doc_id"), col("text"))
      TextOps.qualityMetrics(docs, "text")
        .select("doc_id", "n_words", "n_chars", "distinct_ratio", "quality_score", "quality_band")
        .orderBy("doc_id")
    }),

    // Fingerprint + token count.
    "q34_fingerprint" -> ((s, dir) => {
      t(s, dir, "documents").select(col("doc_id").cast("long").as("doc_id"),
          TextOps.fingerprint(col("text")).as("fp"),
          TextOps.tokenCount(col("text")).cast("long").as("n_tokens"))
        .orderBy("doc_id")
    }),

    // Multimodal plumbing: binary payload → mapPartitions decode (stub
    // codec) → typed metadata.
    "q35_multimodal_meta" -> ((s, dir) => {
      val media = t(s, dir, "documents")
        .select(col("doc_id").cast("long").as("media_id"), encode(col("text"), "UTF-8").as("payload"))
      MultimodalOps.decodeMetadata(media, "media_id", "payload")
        .toDF().orderBy("media_id")
    }),

    // Frame sampling: every 3rd frame of each decoded payload as its own
    // row — the video-to-frames explode a training pipeline feeds into
    // per-frame dedupe/embedding.
    "q56_frame_sample" -> ((s, dir) => {
      val media = t(s, dir, "documents")
        .select(col("doc_id").cast("long").as("media_id"), encode(col("text"), "UTF-8").as("payload"))
      MultimodalOps.sampleFrames(media, "media_id", "payload", everyK = 3)
        .orderBy("media_id", "frame_idx")
    }),

    // Gopher-style repetition filter: per-doc word/bigram distinct ratios
    // with an integer-arithmetic 30%-duplicate-words flag. Scan-side only.
    "q64_repetition_ratio" -> ((s, dir) => {
      TextOps.repetitionStats(t(s, dir, "documents"), "text", "doc_id")
        .orderBy("doc_id")
    }),

    // Benchmark decontamination: docs with doc_id % 10 == 0 stand in for
    // the eval set; report training docs sharing any distinct 5-gram.
    "q65_contamination_check" -> ((s, dir) => {
      DedupOps.contaminationReport(t(s, dir, "documents"), "text", "doc_id",
          col("doc_id") % 10 === 0, n = 5)
        .orderBy("train_doc")
    }),

    // GPT-3-style decontamination SCRUB: instead of dropping docs that
    // share a 5-gram with the eval set (q65), excise the overlap plus
    // 10 words each side and keep the rest. Oracle replays coverage on
    // the span STRINGS (the q75 convention).
    "q142_decontaminate_scrub" -> ((s, dir) => {
      ScrubOps.decontaminateScrub(t(s, dir, "documents"), "text", "doc_id",
          col("doc_id") % 10 === 0, n = 5, window = 10)
        .orderBy("doc_id")
    }),

    // Corpus statistics: global top-20 trigrams by count (count desc,
    // gram asc) — map-side partial agg + TakeOrderedAndProject.
    "q66_top_ngrams" -> ((s, dir) => {
      TextOps.topNgrams(t(s, dir, "documents"), "text", n = 3, k = 20)
    }),

    // Bigram-LM surprisal scoring (the CCNet-style perplexity quality
    // signal), self-trained on the corpus: the 25 most-surprising docs
    // by integer mean surprisal. The oracle re-derives the model AND
    // the scores — add-one-smoothed conditional MLE, per-bigram
    // floor(-ln(p)·10⁶) longs (the BM25 quantization convention, so
    // the per-doc sums are exact integers on both engines).
    "q131_bigram_surprisal" -> ((s, dir) => {
      TextOps.bigramSurprisal(t(s, dir, "documents"), "text", "doc_id")
        .orderBy(col("avg_q").desc, col("doc_id").asc).limit(25)
    }),

    // The SALTED Zipf-skew path of q131 (SkewOps.saltedJoin on both
    // model joins — the scale shape AQE can't rewrite here): same
    // arithmetic, different routing, so the output is bit-identical
    // and q131's oracle gates it verbatim — the salted path was
    // spec-only (TextStatsSpec) before this.
    "q145_bigram_surprisal_salted" -> ((s, dir) => {
      TextOps.bigramSurprisal(t(s, dir, "documents"), "text", "doc_id",
          saltBuckets = 4)
        .orderBy(col("avg_q").desc, col("doc_id").asc).limit(25)
    }),

    // Sliding-window chunking (window=32 tokens, overlap=8): the
    // doc→chunk step upstream of every embedding/ANN/SemDeDup stage.
    // Pure projection + explode — the oracle re-derives chunk counts,
    // boundaries, tails and token counts from the same normalization.
    "q147_chunk_windows" -> ((s, dir) => {
      TextOps.chunkWindows(t(s, dir, "documents"), "text", "doc_id",
          window = 32, overlap = 8)
        .orderBy("doc_id", "chunk_id")
    }),

    // SemDeDup-style semantic dedup over the planted near-dup corpus:
    // train the k=8 coarse quantizer (2 Lloyd iterations, integer-
    // exact), then judge pairs WITHIN a trained cell by the exact
    // integer-quantized cosine (≥ 0.9 ⇒ the higher id is a duplicate of
    // its lowest matching cluster-mate). The oracle unrolls the
    // training (q76's CTEs) and replays the in-cell pair math (q54's).
    "q136_semantic_dedup" -> ((s, dir) => {
      SimilarityOps.semanticDedup(nearDupCorpus(s, dir), "vid", "vd",
          k = 8, maxIter = 2, t2 = 0.81)
        .orderBy("vid")
    }),

    // Leakage-safe train/val/test split: the q68 near-dup components
    // (MinHash+LSH pairs, identical to the brute set) are the unit of
    // assignment — cluster-mates can never straddle a split — gated by
    // the portable sha256 prefix of the component id. The oracle
    // re-derives the components (recursive-CTE reachability) and the
    // gate.
    "q140_leakage_safe_split" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = DedupOps.minhashNearDupPairs(docs, "text", "doc_id",
        n = 3, numHashes = 64, bands = 32, threshold = 0.5,
        maxBucket = DedupOps.NoBucketCap)
      SplitOps.leakageSafeSplit(docs, "doc_id", pairs, "doc_a", "doc_b")
        .orderBy("doc_id")
    }),

    // Keep-best near-dup retention (RefinedWeb/FineWeb "keep longest"):
    // q68's components keep their longest member (n_chars, min-id
    // tie-break) instead of the min id — the keeper derives from a
    // combinable struct-max, never a per-cluster sort window.
    "q141_neardup_keep_best" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = DedupOps.minhashNearDupPairs(docs, "text", "doc_id",
        n = 3, numHashes = 64, bands = 32, threshold = 0.5,
        maxBucket = DedupOps.NoBucketCap)
      SplitOps.nearDupKeepBest(docs, "doc_id", col("n_chars"),
          pairs, "doc_a", "doc_b")
        .orderBy("doc_id")
    }),

    // SemDeDup hot-cell cap under PLANTED skew (the q82 maxBucket
    // pattern applied to trained cells): 250 identical clones of vector
    // 1 collapse onto one centroid, blowing that cell past maxCell=150 —
    // the capped pair legs drop the hot cell (members KEPT, recall gone
    // by policy), while normal cells keep judging the planted pert
    // dups. The oracle mirrors the deterministic cell-width exclusion:
    // widths from the final assignment, wide cells out of the pair CTE,
    // verdicts over ALL vectors.
    "q143_semantic_dedup_capped" -> ((s, dir) => {
      SimilarityOps.semanticDedup(hotCellCorpus(s, dir), "vid", "vd",
          k = 8, maxIter = 2, t2 = 0.81, maxCell = 150)
        .orderBy("vid")
    }),

    // Incremental SemDeDup (the q73/q78 ingestion stance applied to
    // embedding dedup): the coarse quantizer trains on the CORPUS only;
    // the batch is judged within trained cells against corpus vectors
    // AND lower-id batch-mates, dup_of = least match. The oracle
    // re-trains (q136's unroll), assigns the batch through the trained
    // centroids, and replays both pair legs.
    "q139_semantic_dedup_incremental" -> ((s, dir) => {
      val (corpus, batch) = semBatchParts(s, dir)
      SimilarityOps.incrementalSemanticDedup(batch, corpus, "vid", "vd",
          k = 8, maxIter = 2, t2 = 0.81)
        .orderBy("vid")
    }),

    // Incremental SemDeDup's hot-cell cap under PLANTED skew on BOTH
    // legs (q143's gate applied to the q139 shape): clones of vector 1
    // blow one corpus cell (+3e5, half the base) AND one batch cell
    // (+4e5, a third of the base) past maxCell=150 — the corpus leg
    // stops offering candidates from the wide corpus cell, the batch
    // leg from the wide batch cell, while every batch vector still
    // receives a verdict (judged side uncapped). The oracle adds the
    // per-leg width exclusions to q139's unroll — widths counted on
    // each side's OWN final assignment.
    "q144_semantic_dedup_incremental_capped" -> ((s, dir) => {
      val (corpus, batch) = semBatchPartsHot(s, dir)
      SimilarityOps.incrementalSemanticDedup(batch, corpus, "vid", "vd",
          k = 8, maxIter = 2, t2 = 0.81, maxCell = 150)
        .orderBy("vid")
    }),

    // DSIR-style hashed importance scores: docs with doc_id % 10 == 0
    // stand in for the high-quality target (the q65 convention); every
    // raw doc scores by the sum of per-bucket smoothed log-ratio
    // micro-nats over its 256-bucket hashed unigrams. The oracle
    // re-derives the bucket model AND the scores.
    "q137_dsir_scores" -> ((s, dir) => {
      TextOps.dsirScores(t(s, dir, "documents"), "text", "doc_id",
          col("doc_id") % 10 === 0)
        .orderBy("doc_id")
    }),

    // Trained quality classifier (the GPT-3-pipeline recipe): 3
    // full-batch logistic-regression epochs over 256-bucket hashed
    // binary features, target = doc_id % 10 == 0, exact integer
    // micro-unit weights. The oracle unrolls all three epochs —
    // residuals, gradients, truncating updates — and replays the
    // trained margins.
    "q138_quality_classifier" -> ((s, dir) => {
      TextOps.qualityClassifier(t(s, dir, "documents"), "text", "doc_id",
          col("doc_id") % 10 === 0, steps = 3)
        .orderBy("doc_id")
    }),

    // Transitive near-dup clusters: connected components over the
    // 3-gram Jaccard ≥ 0.5 pair graph (pairs via MinHash+LSH+verify,
    // identical to the brute set) — component = min member id, the
    // canonical keeper a chain a~b~c collapses to even when a~c is
    // below threshold. Oracle: DuckDB recursive CTE reachability.
    "q68_neardup_clusters" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = DedupOps.minhashNearDupPairs(docs, "text", "doc_id",
        n = 3, numHashes = 64, bands = 32, threshold = 0.5,
        maxBucket = DedupOps.NoBucketCap)
      GraphOps.connectedComponents(pairs, "doc_a", "doc_b")
        .orderBy("doc_id")
    }),

    // One Lloyd step of the IVF coarse-quantizer training: deterministic
    // first-k-by-id seeds, exact integer assignment + sufficient
    // statistics (per-cell, per-dim component sums and counts) — the
    // full distributed inner loop of kmeansTrain, oracle-checked.
    "q72_kmeans_step" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cents = SimilarityOps.initialCentroids(emb, "vec_id", "embedding", k = 8)
      SimilarityOps.kmeansStepSums(emb, "vec_id", "embedding", cents)
        .orderBy("cell", "dim")
    }),

    // FULL curation chain v2: quality gate → exact dedup → line-level
    // boilerplate removal → span-level substring dedup → near-dup
    // removal → decontamination (vs the ORIGINAL eval texts), then
    // per-language stats. The oracle replays every stage in SQL.
    "q77_corpus_pipeline_full" -> ((s, dir) => {
      val curated = CurationPipeline.curateFull(t(s, dir, "documents"),
        "text", "doc_id", "lang", col("doc_id") % 10 === 0,
        maxBucket = DedupOps.NoBucketCap)
      CurationPipeline.statsByLang(curated)
    }),

    // End-to-end trained-quantizer IVF ANN: two Lloyd iterations train
    // the coarse cells (integer-exact, deterministic), then the
    // cell-restricted top-3 search runs on the TRAINED labels. The
    // oracle unrolls both iterations (assign -> update -> assign ->
    // update -> final assign) and re-ranks in SQL.
    "q76_ann_topk_trained" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cents = SimilarityOps.kmeansTrain(emb, "vec_id", "embedding", k = 8, maxIter = 2)
      val labeled = SimilarityOps.kmeansAssign(
        emb.select(col("vec_id").cast("long").as("vec_id"), col("embedding")),
        "vec_id", "embedding", cents)
      SimilarityOps.topKWithinPartition(labeled, "vec_id", "embedding", "cell", k = 3)
        .select(col("cell"), col("query_id"), col("neighbor_id"), col("rank"))
        .orderBy("query_id", "rank")
    }),

    // Incremental ingestion dedup: the new batch = re-id'd docs
    // (doc_id%7==3 under +1e6; planted corpus exact-dups %50==0 under
    // +2e6; planted in-batch dups %100==1 under +3e6) judged against the
    // corpus (everything else) — exact fingerprint stage, then MinHash-
    // banded near-dup stage with side-aware candidate generation.
    "q73_incremental_dedup" -> ((s, dir) => {
      val (corpus, newBatch) = incrementalBatchParts(s, dir)
      DedupOps.incrementalDedup(newBatch, corpus, "text", "doc_id",
          n = 3, numHashes = 64, bands = 32, threshold = 0.5,
          maxBucket = DedupOps.NoBucketCap)
        .orderBy("new_id")
    }),

    // Same judgment through the PREPARED path: the corpus fingerprint/
    // shingle/band index is materialized ONCE per sf dir as bucketed
    // tables (each bucketed by its join key) and every subsequent run
    // only reads it — per-ingest compute is proportional to the batch
    // and the corpus side joins co-located with no exchange, which is
    // what makes daily ingestion into a 100 TB corpus viable. Output
    // (and oracle) identical to q73.
    "q78_incremental_dedup_prepared" -> ((s, dir) => {
      val (corpus, newBatch) = incrementalBatchParts(s, dir)
      // uncapped build (oracle parity — see DedupOps.NoBucketCap); v3:
      // the versioned-root layout, the name bump orphans older caches.
      // Built once per sf dir; later sessions re-register from the root
      val root = cachedDedupIndex("graft_q78v3_index_", dir, corpus,
        DedupOps.NoBucketCap)
      val idx = DedupOps.readCorpusDedupIndex(s, root)
      DedupOps.incrementalDedupPrepared(newBatch, idx, "text", "doc_id",
          n = 3, numHashes = 64, bands = 32, threshold = 0.5,
          maxBucket = DedupOps.NoBucketCap)
        .orderBy("new_id")
    }),

    // Retention GC for the corpus-dedup index family — the q128/q129
    // analogue. Lifecycle per evaluation: v1 build (q78 params) → fold
    // rewriting every table (v2 owns its files) → fold carrying
    // fingerprints and shingles by reference (v3 reads v2's) → prune
    // keeping only the served version: v1 goes, v2 stays as v3's
    // reference → judge the q78 batch through the pruned root. Shares
    // q78's oracle: folds and GC must not change a single judgment.
    "q132_dedup_index_pruned" -> ((s, dir) => {
      val (corpus, newBatch) = incrementalBatchParts(s, dir)
      val work = java.nio.file.Files.createTempDirectory("graft_q132_").toFile
      org.apache.commons.io.FileUtils.forceDeleteOnExit(work)
      val root = work.getPath
      DedupOps.writeCorpusDedupIndex(
        DedupOps.buildCorpusDedupIndex(corpus, "text", "doc_id",
          n = 3, numHashes = 64, bands = 32, maxBucket = DedupOps.NoBucketCap),
        root, buckets = 16)
      DedupOps.compactCorpusDedupIndex(s, root, maxFilesPerBucket = 0).count()
      DedupOps.compactCorpusDedupIndex(s, root).count()
      val pruned = DedupOps.pruneCorpusDedupIndex(root, keepLatest = 1)
      require(pruned == Seq(1),
        s"q132 lifecycle: expected v1 pruned and v2 kept as a reference, got $pruned")
      val idx = DedupOps.readCorpusDedupIndex(s, root)
      DedupOps.incrementalDedupPrepared(newBatch, idx, "text", "doc_id",
          n = 3, numHashes = 64, bands = 32, threshold = 0.5,
          maxBucket = DedupOps.NoBucketCap)
        .orderBy("new_id")
    }),

    // Span-level substring dedup (Lee-et-al-style, order-free variant):
    // every 10-word span occurring ≥2 times corpus-wide is removed from
    // every covered position; planted full copies (every 25th doc under
    // +500000) blank out both copies entirely.
    "q75_span_dedup" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      val planted = docs.filter(col("doc_id") % 25 === 0)
        .select((col("doc_id") + 500000L).as("doc_id"), col("text"))
      ScrubOps.spanDedup(docs.unionByName(planted), "text", "doc_id",
          spanWords = 10, minCount = 2)
        .orderBy("doc_id")
    }),

    // C4-style line-level boilerplate removal. The corpus has no
    // newlines, so both engines deterministically re-chunk each doc into
    // 4-word lines first; a line appearing in ≥3 distinct docs is dropped
    // from every doc and the survivors reassemble in original order.
    "q69_line_dedup" -> ((s, dir) => {
      val ws = col("_ws")
      val lines = transform(sequence(lit(0), floor((size(ws) - 1) / 4).cast("int")),
        i => array_join(slice(ws, i * 4 + 1, lit(4)), " "))
      val withNl = t(s, dir, "documents")
        .select(col("doc_id").cast("long").as("doc_id"),
          split(DedupOps.normText(col("text")), " ").as("_ws"))
        .select(col("doc_id"), array_join(lines, "\n").as("text"))
      ScrubOps.lineFrequencyFilter(withNl, "text", "doc_id", minDocs = 3)
        .orderBy("doc_id")
    }),

    // PII redaction: deterministic synthetic PII (email/phone/IPv4 built
    // from doc_id) appended to each doc, then scrubbed. Counts measure
    // the raw text per pattern; replacement order email → phone → ip.
    "q70_pii_redact" -> ((s, dir) => {
      val id = col("doc_id")
      val withPii = t(s, dir, "documents")
        .select(id.cast("long").as("doc_id"),
          concat(col("text"),
            lit(" contact u"), id.cast("string"), lit("@ex"),
            (id % 10).cast("string"), lit(".org call 555-01"),
            lpad((id % 100).cast("string"), 2, "0"), lit("-4567 ip 10.0."),
            (id % 256).cast("string"), lit("."), (id % 100).cast("string")).as("text"))
      ScrubOps.redactPii(withPii, "text", "doc_id").orderBy("doc_id")
    }),

    // Gopher-style quality gate: integer-arithmetic rules, per-rule
    // flags folded into an ordered fail-reasons audit string.
    "q71_quality_gate" -> ((s, dir) =>
      TextOps.gopherQuality(t(s, dir, "documents"), "text", "doc_id")
        .orderBy("doc_id")),

    // Full curation chain: repetition filter (≤70% dup words) → exact
    // dedup → near-dup removal (MinHash+LSH, Jaccard ≥ 0.5) →
    // decontamination (5-gram overlap with the doc_id%10==0 eval set),
    // then per-language corpus stats. The oracle independently reruns
    // the whole chain in SQL (brute-force near-dup pairs).
    "q67_corpus_pipeline" -> ((s, dir) => {
      val curated = CurationPipeline.curate(t(s, dir, "documents"),
        "text", "doc_id", "lang", col("doc_id") % 10 === 0,
        maxBucket = DedupOps.NoBucketCap)
      CurationPipeline.statsByLang(curated)
    }),

    // ---- skewed-corpus fixture: the LSH bucket cap AT BENCH SCALE ----
    // A 4×-corpus-size templated family (identical 20-word skeleton +
    // one unique trailing token per doc — distinct texts, so exact dedup
    // keeps all of them; pairwise Jaccard 0.9) lands ~90% of its members
    // in ONE band bucket per band. Uncapped, that is O(famN²) candidate
    // pairs (2e8 at sf0.1) — the web-boilerplate pathology the cap
    // exists for. Capped at `skewCap`, the family contributes nothing.

    // Near-dup pairs over the skewed corpus, cap active: the family's
    // wide buckets drop before member lists build, its suffix-influenced
    // buckets are width-1 (no pairs), and every genuine base pair is in
    // narrow buckets — so the capped output over base∪family equals the
    // BRUTE pairs over base alone, which is exactly the oracle.
    "q82_skew_neardup_capped" -> ((s, dir) => {
      DedupOps.minhashNearDupPairs(skewedDocs(s, dir), "text", "doc_id",
          n = 3, numHashes = 64, bands = 32, threshold = 0.5,
          maxBucket = skewCap)
        .orderBy("doc_a", "doc_b")
    }),

    // Daily-ingest shape under skew: the capped bucketed index is built
    // (and persisted, q78-style) over base∪family; the batch carries
    // exact copies, near-perturbed copies, and 20 fresh family members.
    // Expected: copies judge exact_dup, perturbed judge near_dup, and
    // the family probes' corpus buckets were dropped at index build so
    // they judge against each other only (greedy: first kept, rest
    // near_dup of it). The oracle replays the uncapped stages brute
    // WITH the family removed from the corpus-near leg — modeling the
    // cap — so a cap regression (family pairs leaking, or probes
    // fanning out) diverges loudly.
    "q83_skew_ingest_capped" -> ((s, dir) => {
      val (corpus, batch) = skewIngestParts(s, dir)
      val idx = DedupOps.readCorpusDedupIndex(s,
        cachedDedupIndex("graft_q83v3_index_", dir, corpus, skewCap))
      DedupOps.incrementalDedupPrepared(batch, idx, "text", "doc_id",
          n = 3, numHashes = 64, bands = 32, threshold = 0.5,
          maxBucket = skewCap)
        .orderBy("new_id")
    }),

    // ---- full index lifecycle at bench scale: append → compact → ----
    // ---- re-ingest, under planted skew --------------------------------
    // Round-8 proof that the maintenance half of the daily-ingest story
    // holds: a batch of 800 fresh family members is ACCEPTED into the
    // capped index (batch-sized append as batch 1 — idempotent, so bench
    // reps and verify re-runs find it applied and skip), the index is
    // then FOLDED with re-cap (the appended family's ~0.9 × 800-wide
    // band buckets exceed skewCap and drop — the fold report must be
    // non-empty), and a second batch is judged against the folded index.
    // Every evaluation folds: it serves v1 (the build plus its batch-1
    // segment) again, folds it into a fresh version, and prunes the
    // previous evaluation's fold — v1 stays, the fold reads its
    // fingerprint and shingle files. The batch2 legs pin every lifecycle
    // property: exact copies of appended docs prove the append survived
    // compaction (fingerprints are never capped); perturbed base copies
    // prove compaction preserved the base bands; 20 fresh family
    // members prove the re-cap holds (their only corpus neighborhood
    // was dropped, so they judge in-batch greedy only); exact base
    // copies prove the exact stage end-to-end. The oracle replays all
    // four legs brute-force with the cap modeled (near leg sees BASE
    // docs only).
    "q84_skew_lifecycle_compacted" -> ((s, dir) => {
      val (corpus, batch1, batch2) = skewLifecycleParts(s, dir)
      val root = cachedDedupIndex("graft_q84v3_work_", dir, corpus, skewCap)
      val store = DedupOps.corpusIndex
      store.withIntakeClaim(root)(store.swapPointer(root, 1))
      DedupOps.appendToCorpusDedupIndex(batch1, "text", "doc_id", root, batchId = 1L)
      require(DedupOps.compactCorpusDedupIndex(s, root).count() > 0,
        "q84 lifecycle: the fold dropped no buckets — the appended hot " +
          "family should have grown past the cap")
      DedupOps.pruneCorpusDedupIndex(root, keepLatest = 1)
      DedupOps.incrementalDedupPrepared(batch2,
          DedupOps.readCorpusDedupIndex(s, root), "text", "doc_id",
          n = 3, numHashes = 64, bands = 32, threshold = 0.5,
          maxBucket = skewCap)
        .orderBy("new_id")
    }),

    // Streaming-state oracle: the ACTUAL index-updating intake sink
    // (StreamOps.nearDupIntakeSinkWithIndexUpdate) driven through three
    // real micro-batch triggers of one unrestarted query — batch 2
    // carries near-dups of batch-1-ACCEPTED docs (the cross-trigger
    // case the per-trigger index append exists for) and batch 3 exact
    // copies of batch-2-accepted docs. Rows 1-3 are the kept docs read
    // back from the sink's partitioned parquet; src=4 rows re-judge
    // every streamed doc against the FINAL index (all copies must judge
    // dup — proving the three appends landed). The oracle replays the
    // sequential judgment (corpus, then corpus ∪ kept₁, then
    // corpus ∪ kept₁ ∪ kept₂, then the probe against everything)
    // brute-force in SQL.
    "q104_stream_intake_multi_trigger" -> ((s, dir) => {
      import s.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      val docs = t(s, dir, "documents")
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      val corpus = docs.filter(col("doc_id") % 7 =!= 3)
      val b1 = docs.filter(col("doc_id") % 21 === 3)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
        .unionByName(corpus.filter(col("doc_id") % 50 === 0)
          .select((col("doc_id") + 2000000L).as("doc_id"), col("text")))
      val b2 = docs.filter(col("doc_id") % 21 === 10)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
        .unionByName(docs.filter(col("doc_id") % 21 === 3 && col("doc_id") % 2 === 1)
          .select((col("doc_id") + 3000000L).as("doc_id"),
            concat(col("text"), lit(" zz")).as("text")))
      val b3 = docs.filter(col("doc_id") % 21 === 17)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
        .unionByName(docs.filter(col("doc_id") % 21 === 10)
          .select((col("doc_id") + 4000000L).as("doc_id"), col("text")))
      def fresh(name: String): java.io.File = {
        val f = new java.io.File(sys.props("java.io.tmpdir"),
          s"${name}_${Integer.toHexString(dir.hashCode)}")
        org.apache.commons.io.FileUtils.deleteQuietly(f); f
      }
      val idxRoot = fresh("graft_q104_idx")
      val target = fresh("graft_q104_sink").getPath
      val ckpt = fresh("graft_q104_ckpt").getPath
      DedupOps.writeCorpusDedupIndex(
        DedupOps.buildCorpusDedupIndex(corpus, "text", "doc_id",
          n = 3, numHashes = 64, bands = 32, maxBucket = DedupOps.NoBucketCap),
        idxRoot.getPath, buckets = 8)
      val input = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, String)]
      val q = graft.streaming.StreamOps.nearDupIntakeSinkWithIndexUpdate(
          input.toDF().toDF("doc_id", "text"), idxRoot.getPath, "text", "doc_id", target,
          n = 3, numHashes = 64, bands = 32, threshold = 0.5,
          maxBucket = DedupOps.NoBucketCap)
        .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("0 seconds"))
        .option("checkpointLocation", ckpt)
        .start()
      def feed(df: DataFrame): Unit = {
        input.addData(df.select(col("doc_id"), col("text"))
          .as[(Long, String)].collect().toSeq: _*)
        q.processAllAvailable()
      }
      try { feed(b1); feed(b2); feed(b3) } finally q.stop()
      // src from the id band, not the batch partition (streaming batch
      // ids are the query's, not the fixture's): +2e6 → b1, +3e6 → b2, +4e6 → b3,
      // +1e6 by %21 residue; probes sit at +10e6 over their batch id
      def srcOf(c: org.apache.spark.sql.Column) =
        when(c >= 10000000L, lit(4L))
          .when(c >= 4000000L, lit(3L)).when(c >= 3000000L, lit(2L))
          .when(c >= 2000000L, lit(1L))
          .otherwise(floor(((c % 1000000L) % 21L + 4L) / 7L).cast("long"))
      val sink = s.read.parquet(target)
        .select(srcOf(col("doc_id")).as("src"),
          col("doc_id").cast("long").as("doc_id"), lit("kept").as("status"))
      val probe = b1.unionByName(b2).unionByName(b3)
        .select((col("doc_id") + 10000000L).as("doc_id"), col("text"))
      val probed = DedupOps.incrementalDedupPrepared(probe,
          DedupOps.readCorpusDedupIndex(s, idxRoot.getPath), "text", "doc_id",
          n = 3, numHashes = 64, bands = 32, threshold = 0.5,
          maxBucket = DedupOps.NoBucketCap)
        .select(lit(4L).as("src"), col("new_id").as("doc_id"), col("status"))
      sink.unionByName(probed).orderBy("src", "doc_id")
    }),

    // Streaming SemDeDup intake against the PERSISTED trained-cell
    // layout (round-16 verdict item 2): the corpus trains+labels once
    // into a served SemanticIndex version; the q139 batch then arrives
    // as TWO micro-batches — the perturbed near-dups (+1e5) first, the
    // exact clones (+2e5) second — with a foldIngestAndSwap BETWEEN
    // them, so the second batch judges through the swapped version and
    // against the first batch's KEPT rows (sequential intake semantics:
    // unlike q139's one-shot judge, a b2 vector can only dup against
    // corpus + kept-b1 + lower-id b2-mates — the oracle replays exactly
    // that). Exactly-once across the swap rides the carried ledger.
    "q146_semantic_dedup_stream_intake" -> ((s, dir) => {
      import s.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      val (corpus, batch) = semBatchParts(s, dir)
      val b1 = batch.filter(col("vid") < 200000L)  // perturbed near-dups
      val b2 = batch.filter(col("vid") >= 200000L) // exact clones
      def fresh(name: String): java.io.File = {
        val f = new java.io.File(sys.props("java.io.tmpdir"),
          s"${name}_${Integer.toHexString(dir.hashCode)}")
        org.apache.commons.io.FileUtils.deleteQuietly(f); f
      }
      val root = fresh("graft_q146_semidx").getPath
      val target = fresh("graft_q146_sink").getPath
      val ckpt = fresh("graft_q146_ckpt").getPath
      graft.operators.SemanticIndex.buildAndServe(corpus, "vid", "vd",
        k = 8, maxIter = 2, root)
      val input = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Seq[Double])]
      val q = graft.streaming.StreamOps.semanticIntakeSink(
          input.toDF().toDF("vid", "vd"), "vid", "vd", root, target, t2 = 0.81)
        .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("0 seconds"))
        .option("checkpointLocation", ckpt)
        .start()
      def feed(df: DataFrame): Unit = {
        input.addData(df.select(col("vid"), col("vd"))
          .as[(Long, Seq[Double])].collect().toSeq: _*)
        q.processAllAvailable()
      }
      try {
        feed(b1)
        // mid-stream maintenance: consolidate kept-b1 segments into the
        // next version and swap — b2 must judge identically through it
        graft.operators.SemanticIndex.foldIngestAndSwap(s, root)
        feed(b2)
      } finally q.stop()
      s.read.parquet(target)
        .select(col("vid").cast("long").as("vid"),
          col("cell").cast("long").as("cell"),
          col("dup_of").cast("long").as("dup_of"), col("kept"))
        .orderBy("vid")
    }),

    // The semantic index's FULL lifecycle under the hash gate — the GC
    // sentinel the other served families already have (q128/q129 +
    // q134/q135): q146's exact intake dance with retention pruning
    // interleaved at both points it can run. b2 judges through a
    // version whose predecessor was PHYSICALLY DELETED (prune after
    // the first fold, keepLatest=1 — versions must be self-contained:
    // fold rewrote labeled and carried the ledger), and after the
    // closing fold the default prune keeps one grace version while an
    // explicit keepLatest=1 reclaims that too. Every GC step is
    // invariant-checked inline (require), and the end state answers
    // q146's oracle VERBATIM — pruning moves no answer, only storage.
    "q149_semantic_index_pruned" -> ((s, dir) => {
      import s.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      val (corpus, batch) = semBatchParts(s, dir)
      val b1 = batch.filter(col("vid") < 200000L)  // perturbed near-dups
      val b2 = batch.filter(col("vid") >= 200000L) // exact clones
      def fresh(name: String): java.io.File = {
        val f = new java.io.File(sys.props("java.io.tmpdir"),
          s"${name}_${Integer.toHexString(dir.hashCode)}")
        org.apache.commons.io.FileUtils.deleteQuietly(f); f
      }
      val root = fresh("graft_q149_semidx").getPath
      val target = fresh("graft_q149_sink").getPath
      val ckpt = fresh("graft_q149_ckpt").getPath
      val v1 = graft.operators.SemanticIndex.buildAndServe(corpus, "vid", "vd",
        k = 8, maxIter = 2, root)
      val input = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Seq[Double])]
      val q = graft.streaming.StreamOps.semanticIntakeSink(
          input.toDF().toDF("vid", "vd"), "vid", "vd", root, target, t2 = 0.81)
        .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("0 seconds"))
        .option("checkpointLocation", ckpt)
        .start()
      def feed(df: DataFrame): Unit = {
        input.addData(df.select(col("vid"), col("vd"))
          .as[(Long, Seq[Double])].collect().toSeq: _*)
        q.processAllAvailable()
      }
      import graft.operators.SemanticIndex
      try {
        feed(b1)
        val v2 = SemanticIndex.foldIngestAndSwap(s, root)
        // GC 1: reclaim the superseded v1 BEFORE b2 arrives — b2 then
        // judges through a version with no predecessor on disk
        require(SemanticIndex.pruneVersions(root, keepLatest = 1) == Seq(v1),
          s"first prune must reclaim exactly v$v1")
        feed(b2)
        val v3 = SemanticIndex.foldIngestAndSwap(s, root)
        require(SemanticIndex.batchApplied(SemanticIndex.versionDir(root, v3), 0L)
            && SemanticIndex.batchApplied(SemanticIndex.versionDir(root, v3), 1L),
          "the carried ledger must absorb both folded triggers")
        // GC 2: the default prune keeps ONE grace version (a live
        // trigger resolves its dir at trigger start); keepLatest=1
        // then reclaims the grace version too
        require(SemanticIndex.pruneVersions(root) == Seq.empty,
          s"default prune must keep v$v2 as the grace version")
        require(SemanticIndex.pruneVersions(root, keepLatest = 1) == Seq(v2),
          s"keepLatest=1 must reclaim the grace v$v2")
        require(SemanticIndex.currentVersion(root).contains(v3),
          "pruning must never move the served pointer")
      } finally q.stop()
      s.read.parquet(target)
        .select(col("vid").cast("long").as("vid"),
          col("cell").cast("long").as("cell"),
          col("dup_of").cast("long").as("dup_of"), col("kept"))
        .orderBy("vid")
    }),
  )

  /** DuckDB parity SQL per query — assembled in [[LlmOracles]] (shared
    * unrolls + splices) and [[LlmOraclesTail]] (the long replay SQL),
    * split out of this file in round 17 along the existing seams (the
    * round-16 verdict's maintainability item); behavior-identical.
    */
  val oracles: Map[String, String] = LlmOracles.oracles
}
