package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.VecExprs

/** Persisted SemDeDup index: the trained-cell layout that serves
  * [[SimilarityOps.incrementalSemanticDedup]]'s deployment story — the
  * coarse quantizer trains ONCE on the corpus, the labeled+quantized
  * corpus table persists cell-partitioned, and every future ingest
  * batch is judged against the STORED layout with zero corpus-side
  * recompute (the q73/q78 prepared-dedup-index stance applied to
  * embedding dedup).
  *
  * Each version (versioning, pointer, ledger and retention are
  * [[graft.io.VersionedStore]]'s) holds:
  *   - `centroids/` — (cell, cent) parquet: the trained coarse model,
  *     k·dim longs, read to the driver and baked into the
  *     batch-labeling expression as plan constants.
  *   - `labeled/` — (vid, qv, n2) parquet PARTITIONED BY cell: the
  *     corpus side of every future judgment. The pair join keys on the
  *     cell label with the batch side broadcast, so a 100 TB corpus
  *     contributes a scan, never an exchange.
  *   - `ingest/b<id>/` — one committed segment of KEPT batch rows per
  *     streaming trigger, so later batches dedup against earlier
  *     accepted ones.
  *   - `_MODEL_OK` — the sentinel [[writeVersion]] commits last.
  *
  * All arithmetic is the exact integer-quantized cosine convention of
  * [[SimilarityOps.semanticDedup]] (floor(x·10⁶) longs; dup iff d > 0 ∧
  * d² ≥ t2·‖a‖²·‖b‖²), so judgments through the PERSISTED layout are
  * row-identical to the derive-in-query chain — q146 pins that under
  * the DuckDB hash gate, with a mid-stream fold swap in the path.
  *
  * Reference behavior mirrored: none (the reference's similarity
  * features are pandas in-memory); this is training-data-pipeline
  * surface where the 100 TB design is the requirement itself.
  */
object SemanticIndex extends graft.io.VersionedStore {

  protected val family = "semantic index"

  /** Train the coarse quantizer and label the corpus: the build step.
    * Returns the driver-sized model (k·dim longs) and the labeled
    * corpus frame (vid, qv, cell, n2).
    */
  def build(corpus: DataFrame, idCol: String, vecCol: String,
            k: Int, maxIter: Int): (Seq[Array[Long]], DataFrame) = {
    val cents = SimilarityOps.kmeansTrain(corpus, idCol, vecCol, k, maxIter)
    (cents, label(corpus, idCol, vecCol, cents))
  }

  /** Label vectors with the trained model: quantize, assign the nearest
    * cell (exact long arithmetic, first-minimum ties), pre-compute the
    * squared norm the cosine test needs. The model rides as plan
    * constants — no join, no broadcast table.
    */
  def label(df: DataFrame, idCol: String, vecCol: String,
            cents: Seq[Array[Long]]): DataFrame =
    labelQ(df.select(col(idCol).cast("long").as("vid"),
      SimilarityOps.quantize(col(vecCol)).as("qv")), cents)

  /** [[label]] over an already-quantized (vid, qv) frame — the
    * single-derivation shape [[buildAndServe]] shares with training.
    */
  private def labelQ(qf: DataFrame, cents: Seq[Array[Long]]): DataFrame =
    qf.withColumn("cell", SimilarityOps.assignCells(col("qv"), cents))
      .withColumn("n2", VecExprs.dotLong(col("qv"), col("qv")).cast("double"))

  /** Write a complete version WITHOUT serving it. `labeled` lands
    * partitioned by cell (the probe side of every future judgment);
    * the `_MODEL_OK` sentinel commits LAST, so [[exists]] never reads a
    * torn version as complete.
    */
  def writeVersion(cents: Seq[Array[Long]], labeled: DataFrame,
                   root: String, v: Int): Unit = {
    val dir = versionDir(root, v)
    val spark = labeled.sparkSession
    import spark.implicits._
    labeled.select(col("vid"), col("qv"), col("n2"), col("cell"))
      .write.mode(SaveMode.Overwrite).partitionBy("cell")
      .parquet(s"$dir/labeled")
    cents.zipWithIndex.map { case (c, i) => (i.toLong, c.toSeq) }
      .toDF("cell", "cent")
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$dir/centroids")
    graft.io.IndexMeta.writeString(s"$dir/_MODEL_OK", "ok")
  }

  /** A version is complete only when its last-committed sentinel is. */
  def exists(dir: String): Boolean =
    graft.io.IndexMeta.exists(s"$dir/_MODEL_OK")

  /** Build + write + serve in one step: the bootstrap path, and the
    * rebuild path on a root that is already served (fresh train → next
    * version). Training runs before the intake claim; the publish holds
    * it and carries the served version's folded ledger plus its
    * committed segments, so a batch whose kept rows the rebuild corpus
    * absorbed replays as a skip, not a self-dup re-judge. Returns the
    * served version number.
    */
  def buildAndServe(corpus: DataFrame, idCol: String, vecCol: String,
                    k: Int, maxIter: Int, root: String,
                    cacheQuantized: Boolean = false): Int = {
    // cacheQuantized: single derivation of the corpus — quantize once,
    // persist for the training passes + the labeled write, release
    // after the write. For an EXPENSIVE upstream (chunk + encode at
    // passage grain, q153) the derivation otherwise re-runs once per
    // Lloyd iteration plus the seed collect plus the final labeling;
    // for a plain parquet corpus the extra materialization costs more
    // than the re-reads it saves (the semanticDedup measurement), so
    // opt-in. Bit-identical either way (quantize is deterministic).
    val qf0 = corpus.select(col(idCol).cast("long").as("vid"),
      SimilarityOps.quantize(col(vecCol)).as("qv"))
    val qf = if (cacheQuantized)
      qf0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    else qf0
    try {
      val cents = SimilarityOps.kmeansTrainQ(qf, k, maxIter)
      publish(root)((_, v) => writeVersion(cents, labelQ(qf, cents), root, v))
    } finally if (cacheQuantized) qf.unpersist()
  }

  /** The trained model of a version dir — k·dim longs, driver-sized. */
  def readCentroids(spark: SparkSession, dir: String): Seq[Array[Long]] =
    spark.read.parquet(s"$dir/centroids").orderBy("cell").collect()
      .map(_.getSeq[Long](1).toArray).toSeq

  /** Base labeled corpus of a version (partition column cast back to
    * long — parquet partition discovery infers int).
    */
  def readLabeled(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/labeled")
      .select(col("vid"), col("qv"), col("n2"), col("cell").cast("long").as("cell"))

  /** Base labeled corpus plus every COMMITTED ingest segment (torn
    * segments — no `_SUCCESS` — are invisible, the [[appendBatch]]
    * replay contract).
    */
  def readLabeledWithIngest(spark: SparkSession, dir: String): DataFrame =
    withCommittedSegments(dir, readLabeled(spark, dir))(seg =>
      spark.read.parquet(seg).select(col("vid"), col("qv"), col("n2"), col("cell")))

  /** Commit one trigger's KEPT labeled rows as an ingest segment:
    * complete-or-absent, never double-applied (the
    * [[VectorIndex.appendBatch]] contract). Returns true when this
    * call wrote the segment, false on a replay no-op.
    */
  def appendBatch(keptLabeled: DataFrame, dir: String, batchId: Long): Boolean =
    if (batchApplied(dir, batchId)) false
    else {
      keptLabeled.select(col("vid"), col("qv"), col("n2"), col("cell"))
        .write.mode(SaveMode.Overwrite).parquet(segmentDir(dir, batchId))
      true
    }

  /** Judge a raw batch against a version's STORED layout: label with
    * the stored model (plan constants), then the
    * [[SimilarityOps.judgeLabeledBatch]] pair legs — corpus leg against
    * base + committed segments, mate leg within the batch. The corpus
    * contributes a cell-pruned scan and a map-side partial min; the
    * batch side is trigger-sized, so per-trigger cost is
    * batch-proportional at any corpus size. Returns (verdicts,
    * batchLabeled) — the labeled frame feeds [[appendBatch]] for the
    * kept rows.
    */
  def judgeBatch(batch: DataFrame, idCol: String, vecCol: String,
                 dir: String, t2: Double): (DataFrame, DataFrame) = {
    val spark = batch.sparkSession
    val cents = readCentroids(spark, dir)
    val batchL = label(batch, idCol, vecCol, cents)
    val corpusL = readLabeledWithIngest(spark, dir)
    (SimilarityOps.judgeLabeledBatch(batchL, corpusL, batchL, t2), batchL)
  }

  /** Fold the served version's committed ingest segments into the NEXT
    * version: SAME model, one consolidated cell-partitioned labeled
    * tree — the small-files compaction a micro-batched intake needs
    * (one segment per trigger otherwise accumulates listing overhead
    * without bound). Copy-on-write: the current version serves
    * untouched until the atomic pointer swap; the model is unchanged so
    * judgments are IDENTICAL before and after (q146 pins that under the
    * hash gate). The folded-batch ledger carries forward — a trigger
    * that committed its segment to the OLD version and replays after
    * the swap no-ops instead of re-judging rows the fold consolidated.
    * A crash between the new version's commit and the swap leaves the
    * old version serving and the complete-but-unswapped dir inert;
    * re-running the fold is the recovery (it allocates a fresh number,
    * never adopts the orphan). Safe against a LIVE intake with no
    * stream restart: the publish holds the intake claim, mutually
    * exclusive with each trigger's judge→append window.
    */
  def foldIngestAndSwap(spark: SparkSession, root: String): Int =
    publishFromServed(root) { (vDir, nv) =>
      writeVersion(readCentroids(spark, vDir),
        readLabeledWithIngest(spark, vDir), root, nv)
    }

  // Retention: the inherited [[graft.io.VersionedStore.pruneVersions]].
  // Versions are self-contained (a fold rewrites labeled and carries the
  // ledger), so no reference closure is needed.
}
