package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.VecExprs

/** Persisted residual IVF-PQ index: the build-once / query-many ANN
  * lifecycle a production vector store runs, as the prepared-path
  * counterpart of [[SimilarityOps.ivfPqTopKRefined]] (which re-derives
  * the model inside every query — the right shape for an oracle, the
  * wrong one for a serving index).
  *
  * Layout under `path/`:
  *   - `codes/` — (vid, cell, codes) parquet, PARTITIONED BY cell: a
  *     probe-set join prunes whole cell directories at the scan
  *     (dynamic partition pruning), so per-query scan cost tracks
  *     nprobe/cells of the corpus, not the corpus.
  *   - `centroids/` — (cell, centroid) parquet: the coarse model.
  *   - `codebooks/` — (mi, ci, centroid) parquet: the m per-subspace
  *     PQ codebooks over cell-centroid residuals.
  * Models are cells·dim + m·k·sub longs — read back to the driver and
  * baked into kernel expression nodes as plan constants, never joined.
  *
  * Arithmetic is the exact [[SimilarityOps]] convention (floor(x·10⁶)
  * long quantization, truncating-integer-mean centroids, first-minimum
  * code ties), so a query through the PERSISTED index returns
  * row-identical results to the derive-in-query chain — VectorIndexSpec
  * pins that equality, and q110 reuses q109's DuckDB oracle verbatim.
  *
  * Reference behavior mirrored: the reference's process inventory has no
  * vector index (its similarity features are pandas in-memory); this is
  * part of the training-data-pipeline surface beyond SURVEY §2 where
  * the 100 TB design is the requirement itself.
  */
object VectorIndex extends graft.io.VersionedStore {

  protected val family = "vector index"

  /** The full PQ model: coarse centroids + per-subspace codebooks. */
  case class Model(dim: Int, m: Int, k: Int,
                   cents: Map[Long, Array[Long]],
                   books: Seq[Seq[Array[Long]]]) {
    def sub: Int = dim / m
  }

  /** Derive the model and the encoded codes table from an embedding
    * corpus — same construction as [[SimilarityOps.ivfPqTopKProbed]]'s
    * prologue: per-cell truncating-mean centroids, smallest-vid residual
    * seed codebooks, per-subspace first-minimum codes.
    */
  def build(emb: DataFrame, idCol: String, vecCol: String, cellCol: String,
            dim: Int, m: Int, k: Int): (Model, DataFrame) = {
    require(dim % m == 0, s"dim $dim must split evenly into $m subspaces")
    val sub = dim / m
    val cents = SimilarityOps.cellCentroids(emb, vecCol, cellCol)
    val prep = SimilarityOps.residuals(emb, idCol, vecCol, cellCol, cents)
    val books = SimilarityOps.pqCodebooksFrom(prep, "rq", dim, m, k)
    val codes = prep.withColumn("codes", array((0 until m).map(mi =>
        VecExprs.pqCode(col("rq"), mi * sub, books(mi))): _*))
      .select(col("vid"), col("cell"), col("codes"))
    (Model(dim, m, k, cents, books), codes)
  }

  /** Persist codes (partitioned by cell) + both model tables. */
  def write(model: Model, codes: DataFrame, path: String): Unit = {
    val spark = codes.sparkSession
    import spark.implicits._
    codes.write.mode(SaveMode.Overwrite).partitionBy("cell")
      .parquet(s"$path/codes")
    model.cents.toSeq.sortBy(_._1).map { case (c, arr) => (c, arr.toSeq) }
      .toDF("cell", "centroid")
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$path/centroids")
    model.books.zipWithIndex.flatMap { case (cb, mi) =>
      cb.zipWithIndex.map { case (cent, ci) => (mi, ci, cent.toSeq) } }
      .toDF("mi", "ci", "centroid")
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$path/codebooks")
  }

  /** Load the model tables back to the driver (model-sized collects:
    * cells·dim + m·k·sub longs).
    */
  def readModel(spark: SparkSession, path: String,
                dim: Int, m: Int, k: Int): Model = {
    val cents = spark.read.parquet(s"$path/centroids").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toMap
    val books = spark.read.parquet(s"$path/codebooks").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Long](2).toArray))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (_, rows) => rows.sortBy(_._2).map(_._3).toSeq }
    Model(dim, m, k, cents, books)
  }

  def readCodes(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(s"$path/codes")
      .select(col("vid"), col("cell").cast("long").as("cell"), col("codes"))

  /** True when a previously written index is present and complete.
    * Resolved through the Hadoop FileSystem API ([[graft.io.IndexMeta]])
    * like every other metadata probe in this lifecycle, so the index
    * root may live on file://, hdfs:// or s3a:// beside its parquet.
    */
  def exists(path: String): Boolean =
    Seq("codes", "centroids", "codebooks").forall(d =>
      graft.io.IndexMeta.exists(s"$path/$d/_SUCCESS"))

  /** Coarse-assign vectors with the STORED quantizer: nearest centroid
    * by exact squared L2, ties to the LOWER cell id — the cell an
    * ingest-time vector files under when it arrives with no label.
    * Returns the cell LABEL (not the centroid's position index).
    */
  def assignCell(qv: org.apache.spark.sql.Column,
                 model: Model): org.apache.spark.sql.Column = {
    val sortedCells = model.cents.toSeq.sortBy(_._1)
    val idx = SimilarityOps.assignCells(qv, sortedCells.map(_._2))
    element_at(array(sortedCells.map(c => lit(c._1)): _*), idx.cast("int") + 1)
  }

  /** Append new vectors to a persisted index WITHOUT retraining: each
    * vector is coarse-assigned by the stored quantizer ([[assignCell]]),
    * residualized against its assigned cell's stored centroid, and
    * PQ-encoded with the stored codebooks — the standard serving-ingest
    * path, where the model is deliberately stale until the next rebuild
    * (exactly how an IVF index absorbs writes between retrains; recall
    * on appended mass degrades gracefully as the corpus drifts, which
    * is the documented trade, not a bug). The write is an append of
    * new cell-partition files — existing code files are never touched,
    * so a crashed append leaves the index readable (parquet files land
    * complete-or-absent) and re-running it is the recovery.
    */
  def append(newEmb: DataFrame, idCol: String, vecCol: String,
             model: Model, path: String): Unit =
    encode(newEmb, idCol, vecCol, model)
      .write.mode(SaveMode.Append).partitionBy("cell")
      .parquet(s"$path/codes")

  /** Encode vectors against the STORED model: coarse-assign, residualize
    * against the assigned centroid, PQ-encode with the stored codebooks.
    * The per-row kernel of [[append]]/[[appendBatch]] — each row encodes
    * independently, so any split of an ingest stream into batches yields
    * byte-identical codes to one bulk append.
    */
  def encode(newEmb: DataFrame, idCol: String, vecCol: String,
             model: Model): DataFrame = {
    val sortedCells = model.cents.toSeq.sortBy(_._1)
    val centMap = map(sortedCells.flatMap { case (c, arr) =>
      Seq(lit(c), array(arr.map(lit).toIndexedSeq: _*)) }: _*)
    val m = model.m
    val sub = model.sub
    newEmb.select(col(idCol).cast("long").as("vid"),
        VecExprs.quantize(col(vecCol)).as("qv"))
      .withColumn("cell", assignCell(col("qv"), model))
      .withColumn("rq",
        VecExprs.subArrays(col("qv"), element_at(centMap, col("cell"))))
      .withColumn("codes", array((0 until m).map(mi =>
        VecExprs.pqCode(col("rq"), mi * sub, model.books(mi))): _*))
      .select(col("vid"), col("cell"), col("codes"))
  }

  /** EXACTLY-ONCE batch append for streaming ingest: batch `batchId`'s
    * codes land in their own `ingest/b<batchId>` directory (still
    * cell-partitioned inside, so probe pruning holds per ingest
    * segment), written complete-or-absent. A replayed micro-batch —
    * foreachBatch re-runs a trigger whose checkpoint never committed —
    * either finds its directory complete (`_SUCCESS` present) and
    * no-ops, or OVERWRITES the torn remnant of its own crash; it can
    * never double-append, and it can never touch another batch's files.
    * Returns true when this call wrote the batch, false on a replay
    * no-op — including a batch a fold or retrain already absorbed (the
    * carried ledger, [[batchApplied]]). The base `codes/` tree stays
    * bulk-immutable; a retrain folds ingest segments back into the next
    * version's base.
    */
  def appendBatch(newEmb: DataFrame, idCol: String, vecCol: String,
                  model: Model, path: String, batchId: Long): Boolean =
    if (batchApplied(path, batchId)) false
    else {
      encode(newEmb, idCol, vecCol, model)
        .write.mode(SaveMode.Overwrite).partitionBy("cell")
        .parquet(segmentDir(path, batchId))
      true
    }

  /** Base codes plus every COMMITTED streaming-ingest segment (torn
    * segments are invisible, matching [[appendBatch]]'s replay
    * contract); the probed-cell equi-join still prunes cell directories
    * per branch.
    */
  def readCodesWithIngest(spark: SparkSession, path: String): DataFrame =
    withCommittedSegments(path, readCodes(spark, path))(seg =>
      spark.read.parquet(seg)
        .select(col("vid"), col("cell").cast("long").as("cell"), col("codes")))

  /** Multi-probe ADC scan + exact re-rank THROUGH the persisted index —
    * row-identical to [[SimilarityOps.ivfPqTopKRefined]] on the same
    * corpus/params. `queries` supplies raw query vectors (encoded
    * per-probe against the stored model); `rawVectors` supplies the
    * shortlist's exact-rerank vectors by id (at scale: the source table,
    * id-equi-joined — only |Q|·shortlist rows are fetched). The codes
    * join is an equi-join on the probed cell over a cell-partitioned
    * table, so the scan dynamically prunes to the probed partitions.
    *
    * Serving-side narrowing, both applied BEFORE the ADC scan so the
    * shortlist is computed over the narrowed candidate set (the
    * pre-filter convention of production vector stores — a post-filter
    * would silently shrink result sets below topK):
    *   - `neighborFilter`: a predicate over the codes columns
    *     (vid/cell/codes), placed directly on the codes relation so it
    *     runs inside the scan stage before the probe join (comparison /
    *     IN predicates additionally push into parquet row-group stats).
    *   - `tombstones`: a (vid) set of deleted vectors, removed by
    *     anti-join (AQE broadcasts it when small — the usual case; a
    *     compaction folds large tombstone sets back into the files).
    *   - `neighborVectors`: a cell-PARTITIONED persisted raw-vector
    *     store (columns idCol/vecCol/`cell`) serving the exact
    *     re-rank's NEIGHBOR side with a probed-cell partition filter
    *     pushed in (see inline note); `rawVectors` then only resolves
    *     the query side.
    */
  def query(queries: DataFrame, idCol: String, vecCol: String,
            model: Model, codes: DataFrame, rawVectors: DataFrame,
            nprobe: Int, shortlist: Int, topK: Int,
            neighborFilter: Option[org.apache.spark.sql.Column] = None,
            tombstones: Option[DataFrame] = None,
            neighborVectors: Option[DataFrame] = None): DataFrame = {
    val m = model.m
    val sub = model.sub
    val sortedCells = model.cents.toSeq.sortBy(_._1)
    val q = queries.select(col(idCol).cast("long").as("query_id"),
      VecExprs.quantize(col(vecCol)).as("qv"))
    // nprobe nearest cells by centroid distance, ties to the lower cell
    val probeStructs = array(sortedCells.map { case (c, arr) =>
      struct(VecExprs.sqDistConst(col("qv"), arr.toSeq).as("cdist"),
        lit(c).as("pcell"))
    }: _*)
    val centMap = map(sortedCells.flatMap { case (c, arr) =>
      Seq(lit(c), array(arr.map(lit).toIndexedSeq: _*)) }: _*)
    val luts = q.withColumn("probe",
        explode(slice(array_sort(probeStructs), 1, nprobe)))
      .withColumn("cell", col("probe.pcell"))
      .withColumn("rq",
        VecExprs.subArrays(col("qv"), element_at(centMap, col("cell"))))
      .withColumn("lut", array((0 until m).map(mi =>
        VecExprs.pqDists(col("rq"), mi * sub, model.books(mi))): _*))
      .select("query_id", "cell", "lut")
    val filtered = neighborFilter.map(codes.filter).getOrElse(codes)
    val live = tombstones.map(t =>
      filtered.join(t.select(col("vid")), Seq("vid"), "left_anti"))
      .getOrElse(filtered)
    val cand = luts.join(
        live.select(col("vid").as("neighbor_id"), col("cell"), col("codes")),
        Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("adc_dist", VecExprs.adcSum(col("codes"), col("lut")))
    // ADC shortlist through the two-stage bounded top-k (the BM25
    // family's SearchOps.boundedTopK): a per-partition bounded
    // insertion pass FIRST, so the query_id shuffle carries at most
    // `shortlist` rows per (query, partition) instead of the whole
    // probed candidate mass. The previous bare row_number window
    // funneled |Q|·nprobe·|cell| candidate rows through the window
    // sort — measured at the r19 soak's 2M-vector tier: 127 s serve
    // with 2.5 GB disk spill and 20.7 GB peak execution memory; the
    // guide-§2.3 pre-reduce removes the corpus-scale candidate shuffle
    // entirely. Selection provably identical: dist-asc under
    // (neighbor_id asc ties) == score-desc on the NEGATED distance
    // with the same tie-break, and any row outside a partition's
    // local min-k is beaten by k rows that also reach the merge.
    val short = SearchOps.boundedTopK(
        cand.select(col("query_id"), col("neighbor_id").as("doc_id"),
          (-col("adc_dist")).as("score")),
        shortlist)
      .select(col("query_id"), col("doc_id").as("neighbor_id"))
    // exact re-rank: fetch raw vectors for ONLY the surviving pairs
    val rv = rawVectors.select(col(idCol).cast("long").as("_vid"),
      VecExprs.quantize(col(vecCol)).as("_rqv"))
    // Neighbor-side raw-vector fetch: with `neighborVectors` (a
    // persisted raw-vector store PARTITIONED BY `cell` — the rawvecs/
    // layout ensureChunkVectorIndex writes), the probed-cell set is
    // collected (bounded by min(|Q|·nprobe, cells) — model-sized, the
    // kmeansTrain collect convention) and pushed as a STATIC isin
    // partition filter, so the exact re-rank's raw read prunes to the
    // probed cell directories at plan time exactly as the codes scan
    // does — instead of a corpus-sized scan to fetch |Q|·shortlist
    // rows. Every shortlist neighbor came from a probed cell (the
    // codes join keys on it), so the filter loses nothing. Without it,
    // `rawVectors` resolves both sides unfiltered (the source-table
    // equi-join shape of the q110/q125 family).
    val nbr = neighborVectors match {
      case Some(nv) =>
        val probed = luts.select(col("cell").cast("long")).distinct()
          .collect().map(_.getLong(0)).sorted
        nv.filter(col("cell").cast("long").isin(probed: _*))
          .select(col(idCol).cast("long").as("neighbor_id"),
            VecExprs.quantize(col(vecCol)).as("_n"))
      case None =>
        rv.select(col("_vid").as("neighbor_id"), col("_rqv").as("_n"))
    }
    val wExact = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("exact_dist").asc, col("neighbor_id").asc)
    short
      .join(rv.select(col("_vid").as("query_id"), col("_rqv").as("_q")), "query_id")
      .join(nbr, "neighbor_id")
      .withColumn("exact_dist", VecExprs.sqDist(col("_q"), col("_n")))
      .withColumn("rank", row_number().over(wExact)).filter(col("rank") <= topK)
      .select(col("query_id"), col("neighbor_id"), col("exact_dist"),
        col("rank").cast("long").as("rank"))
  }

  // ---- Versioned lifecycle: retrain + atomic pointer swap ------------
  //
  // Appends through a stale model degrade recall as the corpus drifts;
  // the answer is a periodic RETRAIN — rebuild model + codes from the
  // full corpus into a NEW version directory, then swap one pointer.
  // Each version holds {codes,centroids,codebooks} plus its ingest
  // segments, tombstones and carried ledger; versioning, allocation,
  // the pointer, the ledger and retention are [[graft.io.VersionedStore]]'s.
  // A fold racing a retrain writes two complete versions into disjoint
  // dirs from the same base, so the last swap wins and re-running the
  // loser on top is the recovery; VectorIndexSpec races two retrains
  // for real and pins disjointness.

  /** Write a complete index as version `v` of `root` WITHOUT serving it. */
  def writeVersion(model: Model, codes: DataFrame, root: String, v: Int): Unit =
    write(model, codes, versionDir(root, v))

  /** Full retrain: rebuild model + codes from `emb` into the next
    * version directory and swap the pointer. Returns the new version.
    * The current version's tombstone ledger is applied to `emb` first —
    * a retrain from the raw corpus cannot resurrect deleted vectors —
    * and carried into the new version, so EVERY future version keeps
    * excluding them until the deletes are applied to the corpus
    * upstream (same ledger contract as [[foldIngestAndSwap]]). The
    * folded-batch ledger is carried too: the retrain absorbs streamed
    * vectors through the corpus, which is authoritative, so a replayed
    * old batch must no-op against the new version.
    */
  def retrainAndSwap(emb: DataFrame, idCol: String, vecCol: String,
                     cellCol: String, dim: Int, m: Int, k: Int,
                     root: String): Int =
    publish(root) { (from, v) =>
      val tombs = from.map(readTombstones(emb.sparkSession, _))
      val survivors = tombs.map(t =>
        emb.join(t.select(col("vid").as("__tomb_vid")),
          col(idCol).cast("long") === col("__tomb_vid"), "left_anti"))
        .getOrElse(emb)
      val (model, codes) = build(survivors, idCol, vecCol, cellCol, dim, m, k)
      writeVersion(model, codes, root, v)
      tombs.filter(!_.isEmpty).foreach(t => delete(t, "vid", versionDir(root, v)))
    }

  /** Fold the current version's committed ingest segments into the NEXT
    * version: same model, one consolidated cell-partitioned codes tree —
    * the small-files compaction a micro-batched ingest needs at scale
    * (one segment per trigger otherwise accumulates listing overhead
    * and sub-row-group files without bound). Copy-on-write: the current
    * version serves untouched until the atomic pointer swap, and
    * because the model is unchanged no re-encode happens, so answers
    * are IDENTICAL before and after (q116 pins that under the driver's
    * hash gate). The folded-batch ledger carries forward, so a trigger
    * that committed its segment to the old version and replays after
    * the swap no-ops.
    *
    * Tombstoned rows are dropped from the consolidated codes (the
    * anti-join [[query]] applies at read time, applied once at write
    * time instead — without this a fold would silently RESURRECT
    * deleted vectors, since the new version holds no tombstone table
    * for readers to apply), and the LEDGER is carried forward to the
    * new version: the rows are already absent so readers pay nothing,
    * but a later [[retrainAndSwap]] from the raw corpus still knows
    * what was deleted. The ledger persists across versions until the
    * deletes are applied to the corpus upstream — the ids-only table
    * stays proportional to total deletes, not corpus size.
    */
  def foldIngestAndSwap(spark: SparkSession, root: String,
                        dim: Int, m: Int, k: Int): Int =
    publishFromServed(root) { (vDir, nv) =>
      val tombs = readTombstones(spark, vDir)
      writeVersion(readModel(spark, vDir, dim, m, k), readCodesWithIngest(spark, vDir)
          .join(tombs, Seq("vid"), "left_anti"),
        root, nv)
      if (!tombs.isEmpty) delete(tombs, "vid", versionDir(root, nv))
    }

  def readCurrentModel(spark: SparkSession, root: String,
                       dim: Int, m: Int, k: Int): Model =
    readModel(spark, versionDir(root, servedVersion(root)), dim, m, k)

  def readCurrentCodes(spark: SparkSession, root: String): DataFrame =
    readCodes(spark, versionDir(root, servedVersion(root)))

  // ---- Deletes: tombstones ------------------------------------------
  //
  // A delete never rewrites code files (they are bulk-immutable); it
  // appends the ids to a tombstone table that [[query]] anti-joins out
  // of the candidate set BEFORE the ADC scan — the standard LSM-style
  // delete of a serving index. The next [[foldIngestAndSwap]] /
  // [[retrainAndSwap]] drops the rows from the new version's codes for
  // real AND carries the ids-only ledger forward, so no later version
  // built from the raw corpus can resurrect them; the ledger rides
  // until the deletes are applied to the corpus upstream.

  /** Record deleted vector ids under `path/tombstones`. Idempotent in
    * effect: duplicate ids only add anti-join rows, never change
    * results.
    */
  def delete(ids: DataFrame, idCol: String, path: String): Unit =
    ids.select(col(idCol).cast("long").as("vid")).distinct()
      .coalesce(1).write.mode(SaveMode.Append).parquet(s"$path/tombstones")

  /** The tombstone set; empty when no delete has ever been issued. */
  def readTombstones(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    if (graft.io.IndexMeta.exists(s"$path/tombstones/_SUCCESS"))
      spark.read.parquet(s"$path/tombstones").select(col("vid"))
    else Seq.empty[Long].toDF("vid")
  }
}
