package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{CurationPipeline, DedupOps, GraphOps, MultimodalOps, ScrubOps, SimilarityOps, SplitOps, TextOps, VectorIndex}


/** Shared fixture builders for the LLM-pipeline query surface: planted
  * skew corpora, incremental batch splits, and the persisted-index
  * ensure-once plumbing (split out of LlmPipeline.scala in round 17 —
  * pure move, no behavior change). Everything here is deterministic:
  * fixtures derive from the testdata tables by arithmetic so the DuckDB
  * oracles can re-synthesize them bit-identically.
  */
private[graft] object LlmFixtures {
  private def t(s: SparkSession, dir: String, n: String) = Tables.load(s, dir, n)

  /** Persisted-index dir stamp: the sf dir's identity PLUS the source
    * table's (name, size, mtime) fingerprint, so a regenerated testdata
    * set orphans the previous rounds' index instead of silently joining
    * a stale corpus (the driver rewrote every parquet in round 7 — an
    * index keyed on the path alone would have gone quietly wrong).
    * Descends into directories: a Spark-written parquet DIRECTORY would
    * otherwise stamp only directory metadata and could miss a
    * regeneration that rewrote the part files in place.
    */
  private[queries] def corpusStamp(dir: String): String =
    Integer.toHexString(dir.hashCode) + "_" + graft.io.Fingerprint.ofTree(
      s"${dir.stripSuffix("/")}/documents.parquet")

  /** Build-once cache of a corpus-dedup index over `corpus` for this sf
    * dir (q78 parameters, 16 buckets) under java.io.tmpdir, named
    * `family` + [[corpusStamp]]; older stamps of the family are deleted.
    * The versions survive across sessions — each session re-registers
    * them from the root. Returns the root.
    */
  private[queries] def cachedDedupIndex(family: String, dir: String, corpus: DataFrame,
                                        maxBucket: Int): String = {
    val name = family + corpusStamp(dir)
    val root = new java.io.File(sys.props("java.io.tmpdir"), name).getPath
    if (!DedupOps.corpusDedupIndexExists(root)) {
      cleanStaleIndexDirs(family + Integer.toHexString(dir.hashCode) + "_", name)
      DedupOps.writeCorpusDedupIndex(DedupOps.buildCorpusDedupIndex(corpus, "text", "doc_id",
        n = 3, numHashes = 64, bands = 32, maxBucket = maxBucket), root, buckets = 16)
    }
    root
  }

  /** Drop persisted index dirs whose data stamp no longer matches —
    * regenerated testdata would otherwise accumulate one orphaned
    * bucketed index per generation under java.io.tmpdir.
    */
  private[queries] def cleanStaleIndexDirs(family: String, keep: String): Unit = {
    val tmp = new java.io.File(sys.props("java.io.tmpdir"))
    Option(tmp.listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(f => f.getName.startsWith(family) && f.getName != keep)
      .foreach(org.apache.commons.io.FileUtils.deleteQuietly)
  }

  /** Build-once cache of the q110 persisted ANN index for this sf dir
    * (data-stamped like [[corpusStamp]], but keyed on the embeddings
    * table). Shared by every query that serves through the stored index
    * (q110, q113) — the build cost is paid once per corpus generation.
    */
  /** Build-once cache of the PRUNED versioned vector index (the q129
    * lifecycle end state) for the q135 serve-only headliner. A corrupt
    * cached pointer is a cache miss, not an error (the Retrieval
    * cachedIndexPresent convention).
    */
  private[queries] def ensurePrunedVectorIndex(s: SparkSession, dir: String,
                                      emb: DataFrame): String = {
    val stamp = Integer.toHexString(dir.hashCode) + "_" +
      graft.io.Fingerprint.ofTree(s"${dir.stripSuffix("/")}/embeddings.parquet")
    val root = new java.io.File(sys.props("java.io.tmpdir"), "graft_q135_vindexp_" + stamp)
    val cached =
      try VectorIndex.currentVersion(root.getPath).isDefined
      catch { case _: IllegalStateException =>
        graft.io.IndexMeta.deleteTree(root.getPath); false }
    if (!cached) {
      cleanStaleIndexDirs("graft_q135_vindexp_" +
        Integer.toHexString(dir.hashCode) + "_", "graft_q135_vindexp_" + stamp)
      val cutoff = emb.agg(max(col("vec_id").cast("long"))).head().getLong(0) / 2
      val (m1, c1) = VectorIndex.build(emb.filter(col("vec_id") <= cutoff),
        "vec_id", "embedding", "label", dim = 64, m = 4, k = 16)
      VectorIndex.writeVersion(m1, c1, root.getPath, 1)
      VectorIndex.swapPointer(root.getPath, 1)
      val batch = emb.filter(col("vec_id") > cutoff)
        .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
      require(VectorIndex.appendBatch(batch, "vec_id", "embedding", m1,
        VectorIndex.versionDir(root.getPath, 1), batchId = 0L),
        "q135 cache build: the append batch must apply")
      VectorIndex.foldIngestAndSwap(s, root.getPath, dim = 64, m = 4, k = 16)
      VectorIndex.pruneVersions(root.getPath, keepLatest = 1)
    }
    root.getPath
  }

  private[queries] def ensureQ110Index(s: SparkSession, dir: String,
                              emb: DataFrame): String = {
    val stamp = Integer.toHexString(dir.hashCode) + "_" +
      graft.io.Fingerprint.ofTree(s"${dir.stripSuffix("/")}/embeddings.parquet")
    val root = new java.io.File(sys.props("java.io.tmpdir"), "graft_q110_vindex_" + stamp)
    if (!VectorIndex.exists(root.getPath)) {
      cleanStaleIndexDirs("graft_q110_vindex_" +
        Integer.toHexString(dir.hashCode) + "_", "graft_q110_vindex_" + stamp)
      val (model, codes) = VectorIndex.build(emb, "vec_id", "embedding", "label",
        dim = 64, m = 4, k = 16)
      VectorIndex.write(model, codes, root.getPath)
    }
    root.getPath
  }

  /** Bucket cap for the planted-skew fixture: far below the family's
    * per-band bucket width (~0.9 × 4 × corpus size) and far above any
    * genuine bucket in the base corpus.
    */
  private[graft] val skewCap = 500

  /** One 21-word near-identical family member per k: 20 shared words + a
    * unique trailing token vk. 3-gram shingles: 18 shared + 1 unique →
    * pairwise Jaccard 18/20 = 0.9. Keep in byte-sync with the SQL
    * oracles, which rebuild the family with this exact literal.
    */
  private[queries] val skewTemplate = "breaking news update follow this link for the " +
    "full exclusive story today with more details inside our live coverage page v"

  /** Base documents ∪ the templated hot family (4× the base count, ids
    * under +1e6). The family count derives from the base table so the
    * fixture scales with SF; the count() is a parquet-metadata job.
    */
  private[queries] def skewedDocs(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "documents")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    val famN = base.count() * 4
    val fam = s.range(famN).select((col("id") + 1000000L).as("doc_id"),
      concat(lit(skewTemplate), col("id")).as("text"))
    base.unionByName(fam)
  }

  /** q83 parts: (skewed corpus, ingest batch). Batch legs: exact copies
    * of every 50th base doc (+2e6), ` zz<id>`-perturbed copies of every
    * 40th-remainder-7 base doc (+4e6; 2 new shingles → Jaccard ≥ 0.83
    * vs source for any doc of ≥ 4 words), and 20 fresh family members
    * (+3e6, suffix ids beyond the corpus family's).
    */
  private[queries] def skewIngestParts(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val base = t(s, dir, "documents")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    val famN = base.count() * 4
    val fam = s.range(famN).select((col("id") + 1000000L).as("doc_id"),
      concat(lit(skewTemplate), col("id")).as("text"))
    val exactLeg = base.filter(col("doc_id") % 50 === 0)
      .select((col("doc_id") + 2000000L).as("doc_id"), col("text"))
    val nearLeg = base.filter(col("doc_id") % 40 === 7)
      .select((col("doc_id") + 4000000L).as("doc_id"),
        concat(col("text"), lit(" zz"), col("doc_id")).as("text"))
    val probes = s.range(20).select((col("id") + 3000000L).as("doc_id"),
      concat(lit(skewTemplate), col("id") + famN).as("text"))
    (base.unionByName(fam),
      exactLeg.unionByName(nearLeg).unionByName(probes))
  }

  /** q84 parts: (skewed corpus, accepted batch1, re-ingest batch2).
    * batch1 = 800 fresh family members (suffix ids famN..famN+799): wide
    * enough that their common band buckets (~0.9 × 800 ≈ 718 members)
    * exceed `skewCap` both in-batch at judgment time and in the index
    * after the append — the compaction re-cap target. batch2 legs:
    * exact copies of every 40th batch1 doc (+5e6), ` zz`-perturbed base
    * docs (+4e6, q83's near leg), 20 fresh family members past batch1's
    * suffixes (+6e6), exact base copies (+2e6, q83's exact leg).
    */
  private[graft] def skewLifecycleParts(s: SparkSession, dir: String)
  : (DataFrame, DataFrame, DataFrame) = {
    val base = t(s, dir, "documents")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    val famN = base.count() * 4
    val fam = s.range(famN).select((col("id") + 1000000L).as("doc_id"),
      concat(lit(skewTemplate), col("id")).as("text"))
    val batch1 = s.range(800).select((col("id") + 3000000L).as("doc_id"),
      concat(lit(skewTemplate), col("id") + famN).as("text"))
    val aLeg = s.range(20).select((col("id") * 40 + 5000000L).as("doc_id"),
      concat(lit(skewTemplate), col("id") * 40 + famN).as("text"))
    val bLeg = base.filter(col("doc_id") % 40 === 7)
      .select((col("doc_id") + 4000000L).as("doc_id"),
        concat(col("text"), lit(" zz"), col("doc_id")).as("text"))
    val cLeg = s.range(20).select((col("id") + 6000000L).as("doc_id"),
      concat(lit(skewTemplate), col("id") + famN + 800L).as("text"))
    val dLeg = base.filter(col("doc_id") % 50 === 0)
      .select((col("doc_id") + 2000000L).as("doc_id"), col("text"))
    (base.unionByName(fam), batch1,
      aLeg.unionByName(bLeg).unionByName(cLeg).unionByName(dLeg))
  }

  /** q73/q78 shared batch construction: corpus = doc_id % 7 != 3; the new
    * batch re-ids %7==3 docs under +1e6, plants corpus exact-dups (%50==0
    * under +2e6) and in-batch dups (%7==3 ∧ %100==1 under +3e6).
    */
  private[queries] def incrementalBatchParts(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val docs = t(s, dir, "documents")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    val corpus = docs.filter(col("doc_id") % 7 =!= 3)
    val newBatch = docs.filter(col("doc_id") % 7 === 3)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      .unionByName(corpus.filter(col("doc_id") % 50 === 0)
        .select((col("doc_id") + 2000000L).as("doc_id"), col("text")))
      .unionByName(docs.filter(col("doc_id") % 7 === 3 && col("doc_id") % 100 === 1)
        .select((col("doc_id") + 3000000L).as("doc_id"), col("text")))
    (corpus, newBatch)
  }

  /** Embeddings ∪ near-dup copies: every 5th vector re-appended under
    * vid+100000 with its first component scaled by 1.25 (exact in binary
    * floating point, so both engines synthesize identical vectors).
    */
  /** q139 corpus/batch split: corpus = the embeddings table; batch =
    * every 5th vector perturbed (first component ×1.25 under +1e5 —
    * a planted near-dup of its corpus source) plus every 7th-mod-3
    * vector re-idd verbatim under +2e5 (an exact-direction corpus dup;
    * ids where both legs fire also plant an in-batch pair).
    */
  private[queries] def semBatchParts(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val base = t(s, dir, "embeddings").select(col("vec_id").cast("long").as("vid"),
      transform(col("embedding"), x => x.cast("double")).as("vd"))
    val pert = base.filter(col("vid") % 5 === 0)
      .select((col("vid") + 100000L).as("vid"),
        concat(array(element_at(col("vd"), 1) * lit(1.25)),
          slice(col("vd"), lit(2), size(col("vd")) - 1)).as("vd"))
    val exact = base.filter(col("vid") % 7 === 3)
      .select((col("vid") + 200000L).as("vid"), col("vd"))
    (base, pert.unionByName(exact))
  }

  /** q144 fixture: [[semBatchParts]] with a planted hot cell on EACH
    * side — verbatim clones of vector 1 under +3e5 (every even base
    * vid → the corpus side) and +4e5 (every third base vid → the batch
    * side). Clones copy an existing row's components (no arithmetic),
    * so both engines synthesize bit-identical vectors; both hot masses
    * collapse onto vector 1's trained cell.
    */
  private[queries] def semBatchPartsHot(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val (corpus, batch) = semBatchParts(s, dir)
    val base = t(s, dir, "embeddings").select(col("vec_id").cast("long").as("vid"),
      transform(col("embedding"), x => x.cast("double")).as("vd"))
    val hotRef = base.filter(col("vid") === 1).select(col("vd").as("hot_vd"))
    def clones(pred: org.apache.spark.sql.Column, offset: Long): DataFrame =
      base.filter(pred).crossJoin(broadcast(hotRef))
        .select((col("vid") + offset).as("vid"), col("hot_vd").as("vd"))
    (corpus.unionByName(clones(col("vid") % 2 === 0, 300000L)),
      batch.unionByName(clones(col("vid") % 3 === 0, 400000L)))
  }

  private[queries] def nearDupCorpus(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "embeddings").select(col("vec_id").cast("long").as("vid"),
      transform(col("embedding"), x => x.cast("double")).as("vd"))
    val pert = base.filter(col("vid") % 5 === 0)
      .select((col("vid") + 100000L).as("vid"),
        concat(array(element_at(col("vd"), 1) * lit(1.25)),
          slice(col("vd"), lit(2), size(col("vd")) - 1)).as("vd"))
    base.unionByName(pert)
  }

  /** q143 fixture: [[nearDupCorpus]] plus a planted HOT CELL — every
    * even base vid contributes a verbatim clone of vector 1 under
    * +3e5, so half the corpus collapses onto one trained centroid (the
    * q82 skew-fixture pattern for the cell-cap path). Clones copy an
    * EXISTING row's components (no arithmetic), so both engines
    * synthesize bit-identical vectors.
    */
  private[queries] def hotCellCorpus(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "embeddings").select(col("vec_id").cast("long").as("vid"),
      transform(col("embedding"), x => x.cast("double")).as("vd"))
    val hotRef = base.filter(col("vid") === 1).select(col("vd").as("hot_vd"))
    val hot = base.filter(col("vid") % 2 === 0)
      .crossJoin(broadcast(hotRef))
      .select((col("vid") + 300000L).as("vid"), col("hot_vd").as("vd"))
    nearDupCorpus(s, dir).unionByName(hot)
  }
}
