package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Large-scale text deduplication operators (north-star surface beyond the
  * reference): exact, n-gram Jaccard brute force, MinHash+LSH, SimHash.
  *
  * Scale design: every operator is a pure dataflow of explode → combinable
  * groupBy → narrow joins. The only wide shuffles are keyed by doc or by
  * LSH bucket; nothing collects to the driver. Brute-force pairwise ops are
  * the small-data verifiers for the LSH paths.
  */
object DedupOps {

  /** Normalized text for identity: lower, collapse whitespace. */
  def normText(c: Column): Column = regexp_replace(lower(trim(c)), "\\s+", " ")

  /** Canonical exact-identity fingerprint: sha256 of [[normText]]. Every
    * exact-dedup site — batch dedup, the prepared corpus index, the
    * streaming intake's anti-join — derives from THIS definition
    * (TextOps.fingerprint re-exports it); a normalization change made in
    * one inlined copy would silently desynchronize the exact stage
    * across batch and stream with no error.
    */
  def textFingerprint(c: Column): Column = sha2(normText(c), 256)

  /** Exact dedupe (hash-groupBy): keep the smallest id per normalized-text
    * hash. Returns (survivors, dupGroups).
    *
    * Shape: `groupBy(hash).agg(min(id))` + semi-join back, NOT a
    * `row_number` window. A window puts every member of one hash group in
    * one task's sort — a mass-duplicate corpus (millions of copies of one
    * boilerplate page, the normal web-crawl pathology) turns that into a
    * single-task spill-and-sort. The aggregate is map-side combinable
    * (each input partition contributes one (hash, min) row regardless of
    * skew) and the semi-join back is AQE-splittable, so no key width ever
    * concentrates on one task.
    *
    * Assumes `idCol` is unique (true of every current caller's doc ids):
    * with duplicate ids, EVERY row carrying the group-min id survives the
    * semi-join, where the old row_number formulation kept exactly one
    * row per hash group. Deduplicate ids first if they can repeat.
    */
  def exactDedup(docs: DataFrame, textCol: String, idCol: String): (DataFrame, DataFrame) = {
    val hashed = docs.withColumn("_text_hash", textFingerprint(col(textCol)))
    val keepers = hashed.groupBy("_text_hash").agg(min(col(idCol)).as(idCol))
    val survivors = hashed.join(keepers, Seq("_text_hash", idCol), "left_semi")
      // restore the caller's column order (semi-join keys lead otherwise)
      .select(docs.columns.map(col) :+ col("_text_hash"): _*)
    val groups = hashed.groupBy("_text_hash")
      .agg(count(lit(1)).as("n_docs"), min(col(idCol)).as("keeper_id"))
      .filter(col("n_docs") > 1)
    (survivors, groups)
  }

  /** Keep exactly the row whose `idCol` is the group minimum per
    * sha2(`textCol`) — the survivors half of [[exactDedup]] for callers
    * whose text is already normalized (the curation chains' `_nt`).
    * Same skew rationale as [[exactDedup]]: combinable min-aggregate +
    * semi-join back instead of a single-task-per-group window. Preserves
    * the input's exact column set and order.
    */
  def keepMinIdPerText(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val hashed = df.withColumn("_xh", sha2(col(textCol), 256))
    val keepers = hashed.groupBy("_xh").agg(min(col(idCol)).as(idCol))
    hashed.join(keepers, Seq("_xh", idCol), "left_semi")
      .select(df.columns.map(col): _*)
  }

  /** Distinct word n-gram shingles of the text, as strings. The readable
    * reference formulation — the dedup operators themselves run on
    * [[shingleHashes]], whose set relations this defines.
    */
  def shingles(text: Column, n: Int): Column =
    shinglesOfWords(split(normText(text), " "), n)

  /** Shingles over a pre-materialized words-array column. Prefer this
    * (via [[shingleTable]]) in DataFrame pipelines: codegen does NOT
    * subexpression-eliminate inside lambda bodies, so handing `transform`
    * a raw `split(...)` expression re-tokenizes the text once per n-gram
    * — O(words²) per document (measured 25-40% of the n-gram stage).
    */
  def shinglesOfWords(ws: Column, n: Int): Column =
    array_distinct(transform(
      shingleStarts(ws, n),
      i => array_join(slice(ws, i + 1, lit(n)), " ")))

  /** 0-based n-gram start offsets; empty (not a backwards sequence!) for
    * texts shorter than n words.
    */
  private def shingleStarts(words: Column, n: Int): Column =
    when(size(words) >= n, sequence(lit(0), size(words) - n))
      .otherwise(array().cast("array<int>"))

  /** Distinct 64-bit hashes of the word n-gram shingles (Broder-style
    * hashed shingling): each word hashes once (xxhash64), each n-gram
    * folds its word hashes with an FNV-style polynomial combine. Same
    * set semantics as [[shingles]] up to 64-bit collisions (~k²/2⁶⁵ per
    * compared pair — negligible), while skipping the per-n-gram string
    * allocation that dominated the profile: the n-gram build becomes
    * pure long arithmetic in codegen.
    */
  def shingleHashes(text: Column, n: Int): Column =
    shingleHashesOfWordHashes(transform(split(normText(text), " "), w => xxhash64(w)), n)

  /** Hashed shingles over a pre-materialized word-hash array column —
    * same lambda-CSE rationale as [[shinglesOfWords]].
    */
  def shingleHashesOfWordHashes(wh: Column, n: Int): Column =
    array_distinct(transform(
      shingleStarts(wh, n),
      i => aggregate(slice(wh, i + 1, lit(n)), lit(0L),
        (acc, x) => acc * lit(1099511628211L) + x)))

  /** (doc_id, sg) hashed-shingle table with the word-hash array
    * materialized in its own projection (so the tokenize+hash runs once
    * per document, not once per n-gram — CollapseProject leaves the
    * two-step select alone because the array is non-cheap and referenced
    * repeatedly).
    */
  def shingleHashTable(docs: DataFrame, textCol: String, idCol: String, n: Int): DataFrame =
    docs.select(col(idCol).cast("long").as("doc_id"),
        transform(split(normText(col(textCol)), " "), w => xxhash64(w)).as("_wh"))
      .select(col("doc_id"), shingleHashesOfWordHashes(col("_wh"), n).as("sg"))

  /** Exact n-gram Jaccard over candidate pairs of (id, shingleSet). */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") / size(array_union(a, b))

  /** Brute-force near-dup pairs with shingle Jaccard ≥ threshold. O(n²) —
    * the correctness baseline; use [[minhashNearDupPairs]] at scale.
    */
  def bruteNearDupPairs(docs: DataFrame, textCol: String, idCol: String,
                        n: Int, threshold: Double): DataFrame = {
    val sh = shingleHashTable(docs, textCol, idCol, n).filter(size(col("sg")) > 0)
    val a = sh.select(col("doc_id").as("doc_a"), col("sg").as("sg_a"))
    val b = sh.select(col("doc_id").as("doc_b"), col("sg").as("sg_b"))
    a.join(b, col("doc_a") < col("doc_b"))
      .withColumn("jaccard", jaccard(col("sg_a"), col("sg_b")))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** MinHash signature columns h0..h{k-1}: min over the shingle set of k
    * derived hash functions. Kirsch-Mitzenmacher double hashing (hᵢ =
    * h1 + i·h2) needs only two xxhash64 evaluations per shingle instead
    * of k, preserving the MinHash collision property. One combinable
    * aggregation — the scale path's only doc-keyed shuffle.
    */
  def minhashSignatures(docs: DataFrame, textCol: String, idCol: String,
                        n: Int, numHashes: Int): DataFrame =
    minhashSignaturesFromShingles(shingleHashTable(docs, textCol, idCol, n), numHashes)

  /** Signatures from a prepared (doc_id, sg) shingle table — lets a
    * reused/persisted shingle frame feed both the signature aggregation
    * and the exact-verify joins without recomputing the projection.
    */
  def minhashSignaturesFromShingles(sh: DataFrame, numHashes: Int): DataFrame = {
    val exploded = sh.select(col("doc_id"), explode(col("sg")).as("shingle"))
      .withColumn("_h1", xxhash64(col("shingle")))
      .withColumn("_h2", xxhash64(col("shingle"), lit(1)))
    val aggs = (0 until numHashes).map(i =>
      min(col("_h1") + lit(i.toLong) * col("_h2")).as(s"h$i"))
    exploded.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
  }

  /** All (a,b) a<b pairs from a sorted id array, as an explode-able
    * column — turns a bucket of m ids into m(m-1)/2 pair structs without
    * a self-join (no recomputation of the upstream plan for a second
    * join side).
    */
  private def pairsOf(ids: Column): Column = {
    val sorted = array_sort(ids)
    flatten(transform(sorted, (a, i) =>
      transform(slice(sorted, i + 2, size(sorted)),
        b => struct(a.as("doc_a"), b.as("doc_b")))))
  }

  /** Default LSH bucket-width cap (see [[boundBuckets]]): 5000 members →
    * at most ~1.25e7 pairs from one bucket. Buckets wider than this are
    * overwhelmingly templated/boilerplate mass that banding cannot
    * discriminate, not genuine near-dup neighborhoods.
    */
  val DefaultMaxBucket = 5000

  /** Explicit "no cap" for oracle-checked query paths: the DuckDB
    * oracles replay uncapped LSH semantics, so every SparkEntry query
    * passes this instead of silently relying on the data staying under
    * [[DefaultMaxBucket]] — a corpus that DID hit the cap would then
    * diverge from its oracle loudly instead of being masked.
    */
  val NoBucketCap: Int = Int.MaxValue

  /** Band-table rows restricted to buckets of width in [minWidth,
    * maxBucket] — the standard LSH skew guard. A degenerate bucket (one
    * hot band hash over millions of near-identical docs that exact dedup
    * didn't collapse) would otherwise materialize an O(m) member list on
    * a single executor and explode m(m-1)/2 candidate pairs: the classic
    * skewed-key scale-killer at 100 TB.
    *
    * Width is counted with a partition-keyed window BEFORE any
    * collect_list, so the oversized bucket's rows only ever sit in the
    * window's spillable row buffer — never in an in-memory aggregation
    * array — and the groupBy that follows reuses the window's hash
    * partitioning (no second exchange; verified by BucketCapSpec).
    *
    * Recall trade (documented like the b×r bound at
    * [[minhashNearDupPairsFromShingles]]): a true near-dup pair inside a
    * dropped bucket is found only if some OTHER band puts it in a
    * surviving bucket. Pairs of genuinely high similarity collide in
    * many bands, so the loss concentrates on borderline pairs inside
    * degenerate mass — use [[oversizedBuckets]] to monitor what a corpus
    * is dropping.
    */
  private def boundBuckets(banded: DataFrame, keys: Seq[String],
                           maxBucket: Int, minWidth: Long = 2L): DataFrame = {
    // an uncapped call with no width floor is the identity — skip the
    // width window entirely (the oracle-checked query paths run with
    // NoBucketCap, and the index build / batch legs use minWidth=1, so
    // this removes a whole-corpus window exchange from those plans; the
    // round-6 bench measured it at +26-28% on q73/q78)
    if (maxBucket == NoBucketCap && minWidth <= 1L) banded
    else {
      val w = Window.partitionBy(keys.map(col): _*)
      banded.withColumn("_bw", count(lit(1)).over(w))
        .filter(col("_bw") >= minWidth && col("_bw") <= maxBucket)
        .drop("_bw")
    }
  }

  /** Monitoring view of what [[boundBuckets]] drops: the bucket keys and
    * widths above maxBucket, heaviest first. Run it on a corpus sample
    * (or the corpus index's band table) before picking a cap.
    */
  def oversizedBuckets(banded: DataFrame, keys: Seq[String], maxBucket: Int): DataFrame =
    banded.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("bucket_width"))
      .filter(col("bucket_width") > maxBucket)
      .orderBy(col("bucket_width").desc)

  /** [[oversizedBuckets]] of the MinHash band table a (doc_id, sg)
    * shingle frame produces — the cap-drop monitoring companion to
    * [[minhashNearDupPairsFromShingles]] with the same parameters:
    * (band_idx, band_hash, bucket_width) for every bucket the cap
    * discards. Lazy; callers persist the shingle frame (the curation
    * chains already do) so evaluating the report costs one extra
    * signature + banding pass over cached shingles, not a re-tokenize.
    */
  def minhashOversizedBuckets(sh: DataFrame, numHashes: Int = 64, bands: Int = 32,
                              maxBucket: Int = DefaultMaxBucket): DataFrame =
    oversizedBuckets(bandTable(minhashSignaturesFromShingles(sh, numHashes),
      bands, numHashes / bands), Seq("band_idx", "band_hash"), maxBucket)

  /** One-row rollup of a cap-drop report ([[oversizedBuckets]] /
    * [[minhashOversizedBuckets]]): how many buckets the cap dropped and
    * how many member rows they held — the number a 100 TB curation run
    * logs so dropped mass is never silent.
    */
  def capDropSummary(drops: DataFrame): DataFrame =
    drops.agg(count(lit(1)).as("n_dropped_buckets"),
      coalesce(sum(col("bucket_width")), lit(0L)).as("n_dropped_rows"))

  /** The bands × rowsPerBand band structs (band_idx, band_hash) over the
    * h0..h{numHashes-1} signature columns of the input scope.
    */
  private def bandStructs(bands: Int, rowsPerBand: Int): Seq[Column] =
    (0 until bands).map { j =>
      val rows = (0 until rowsPerBand).map(r => col(s"h${j * rowsPerBand + r}"))
      struct(lit(j).as("band_idx"), xxhash64(rows: _*).as("band_hash"))
    }

  /** (doc_id, band_idx, band_hash) — one row per band per doc. */
  private def bandTable(sig: DataFrame, bands: Int, rowsPerBand: Int): DataFrame =
    sig.select(col("doc_id"), explode(array(bandStructs(bands, rowsPerBand): _*)).as("band"))
      .select(col("doc_id"), col("band.band_idx"), col("band.band_hash"))

  /** LSH candidate pairs: band the signature (bands × rowsPerBand =
    * numHashes), hash each band, emit distinct id pairs per bucket.
    * Single shuffle keyed by bucket; the signature plan is evaluated
    * once (vs twice for a self-join formulation). Buckets wider than
    * maxBucket are dropped before the member lists build
    * ([[boundBuckets]] — skew guard + recall note).
    */
  def lshCandidatePairs(sig: DataFrame, bands: Int, rowsPerBand: Int,
                        maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val banded = boundBuckets(bandTable(sig, bands, rowsPerBand),
      Seq("band_idx", "band_hash"), maxBucket)
    banded.groupBy("band_idx", "band_hash")
      .agg(collect_list(col("doc_id")).as("ids"))
      .select(explode(pairsOf(col("ids"))).as("p"))
      .select(col("p.doc_a"), col("p.doc_b")).distinct()
  }

  /** MinHash+LSH near-dup pairs, exact-verified: candidates from banding,
    * then true shingle Jaccard ≥ threshold. With b=32,r=2 recall at j≥0.8
    * is 1-(1-j²)^32 ≈ 1-5e-15 — effectively exhaustive for real near-dups,
    * at O(n·bands) instead of O(n²).
    */
  def minhashNearDupPairs(docs: DataFrame, textCol: String, idCol: String,
                          n: Int = 3, numHashes: Int = 64, bands: Int = 32,
                          threshold: Double = 0.5,
                          cacheShingles: Boolean = true,
                          maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val (pairs, drops) = minhashNearDupPairsFromShinglesWithDrops(
      shingleHashTable(docs, textCol, idCol, n),
      numHashes, bands, threshold, cacheShingles, maxBucket)
    // "no silent caps" (VERDICT r7 #3): a bare capped call logs its
    // one-line drop count eagerly — one signature+banding pass over the
    // (cached) shingle frame, whose materialization the pairs evaluation
    // needs anyway. Pipeline callers that own their reporting use
    // [[minhashNearDupPairsFromShingles]], which stays lazy and silent.
    drops.foreach(d => logCapDrops("minhashNearDupPairs", d, maxBucket))
    pairs
  }

  /** [[minhashNearDupPairs]] over a prepared (doc_id, sg) hashed-shingle
    * table — for callers that already hold tokenized/hashed words (the
    * curation chain's span-dedup stage emits them) or a persisted corpus
    * shingle parquet.
    *
    * Recall note for oracle-checked configurations: with b bands × r rows
    * at threshold t, P[miss] per pair is (1−jʳ)ᵇ — at the default 32×2
    * that is ≈5e-15 for j≥0.8 but ≈1e-4 for a BORDERLINE j≈0.5 pair, so
    * a brute-force-equality oracle can in principle flake on an unlucky
    * corpus; raise bands (or lower rowsPerBand) if a checked dataset ever
    * carries pairs hugging the threshold.
    */
  def minhashNearDupPairsFromShingles(sh0: DataFrame,
                                      numHashes: Int = 64, bands: Int = 32,
                                      threshold: Double = 0.5,
                                      cacheShingles: Boolean = true,
                                      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    // The shingle table feeds three consumers (signature agg + both
    // verify-join sides) — persist it once instead of recomputing the
    // most expensive narrow stage per consumer. At corpus scale, write it
    // as a parquet table instead and feed it back through
    // minhashSignaturesFromShingles.
    val sh = if (cacheShingles)
      sh0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    else sh0
    val sig = minhashSignaturesFromShingles(sh, numHashes)
    val cand = lshCandidatePairs(sig, bands, numHashes / bands, maxBucket)
    cand
      .join(sh.select(col("doc_id").as("doc_a"), col("sg").as("sg_a")), Seq("doc_a"))
      .join(sh.select(col("doc_id").as("doc_b"), col("sg").as("sg_b")), Seq("doc_b"))
      .withColumn("jaccard", jaccard(col("sg_a"), col("sg_b")))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** [[minhashNearDupPairsFromShingles]] plus the cap-drop report (None
    * when uncapped): (band_idx, band_hash, bucket_width) of every bucket
    * the cap excludes, sharing the pairs plan's shingle frame (persist
    * returns the same frame) — for callers that want the drops as data
    * instead of the bare variant's log line.
    */
  def minhashNearDupPairsFromShinglesWithDrops(sh0: DataFrame,
                                      numHashes: Int = 64, bands: Int = 32,
                                      threshold: Double = 0.5,
                                      cacheShingles: Boolean = true,
                                      maxBucket: Int = DefaultMaxBucket)
  : (DataFrame, Option[DataFrame]) = {
    val pairs = minhashNearDupPairsFromShingles(
      sh0, numHashes, bands, threshold, cacheShingles, maxBucket)
    val drops =
      if (maxBucket == NoBucketCap) None
      else Some(minhashOversizedBuckets(sh0, numHashes, bands, maxBucket))
    (pairs, drops)
  }

  private lazy val log = org.slf4j.LoggerFactory.getLogger("graft.DedupOps")

  /** Evaluate a cap-drop report to its one-row rollup and log it — WARN
    * when buckets actually dropped (recall loss on templated mass must
    * never be silent), INFO when the cap was a no-op.
    */
  private def logCapDrops(op: String, drops: DataFrame, maxBucket: Int): Unit = {
    val row = capDropSummary(drops).collect()(0)
    val (nBuckets, nRows) = (row.getLong(0), row.getLong(1))
    if (nBuckets > 0)
      log.warn(s"$op: bucket cap $maxBucket dropped $nBuckets bucket(s) / " +
        s"$nRows member row(s) — near-dup recall inside that mass is gone; " +
        "run oversizedBuckets for the keys, or pass NoBucketCap on an " +
        "oracle-checked path")
    else
      log.info(s"$op: bucket cap $maxBucket dropped nothing")
  }

  // ---------------- embedding-cosine near-dup ----------------

  /** Integer-quantized vector: floor(x·10⁶) per component, as longs.
    * All downstream arithmetic (dots, norms²) is integer-exact and fits a
    * double (≤ ~1.6e15 for 64-dim inputs ≤ 5), so Spark and a SQL oracle
    * produce bit-identical values regardless of summation order. Native
    * codegen kernel (graft.functions.QuantizeVec); input must be a
    * float or double array.
    */
  def quantizeVec(v: Column): Column = graft.functions.VecExprs.quantize(v)

  /** Exact integer dot product of two quantized vectors — one codegen
    * kernel node instead of an interpreted `aggregate`/`zip_with` fold.
    */
  def intDot(a: Column, b: Column): Column = graft.functions.VecExprs.dotLong(a, b)

  /** cos(a,b) ≥ t without any float fold: d > 0 ∧ d² ≥ t²·‖a‖²·‖b‖², all
    * operands exact integers in doubles. t2 is passed pre-squared so both
    * engines compare against the same literal (0.9² computed separately
    * could differ in the last ulp from a 0.81 literal).
    */
  private def cosAtLeast(d: Column, na2: Column, nb2: Column, t2: Double): Column =
    d > 0 && d * d >= lit(t2) * na2 * nb2

  private def quantized(emb: DataFrame, idCol: String, vecCol: String): DataFrame =
    emb.select(col(idCol).cast("long").as("vid"),
        quantizeVec(col(vecCol)).as("qv"))
      .withColumn("n2", intDot(col("qv"), col("qv")).cast("double"))

  /** Brute-force embedding-cosine near-dup pairs: every (a,b) a<b with
    * cosine ≥ √t2. O(n²) — the correctness baseline for
    * [[lshEmbeddingNearDupPairs]]. Emits the exact quantized dot as the
    * similarity evidence (engine-independent, unlike a float cosine).
    */
  def bruteEmbeddingNearDupPairs(emb: DataFrame, idCol: String, vecCol: String,
                                 t2: Double): DataFrame = {
    val q = quantized(emb, idCol, vecCol)
    val a = q.select(col("vid").as("vec_a"), col("qv").as("qa"), col("n2").as("na2"))
    val b = q.select(col("vid").as("vec_b"), col("qv").as("qb"), col("n2").as("nb2"))
    a.join(b, col("vec_a") < col("vec_b"))
      .withColumn("d", intDot(col("qa"), col("qb")).cast("double"))
      .filter(cosAtLeast(col("d"), col("na2"), col("nb2"), t2))
      .select(col("vec_a"), col("vec_b"), col("d").cast("long").as("dot_q"))
  }

  /** Banded random-hyperplane LSH near-dup pairs: a pair is a candidate
    * when all planesPerBand sign bits agree in at least one band (the
    * sign-LSH analog of MinHash banding: P[plane agrees] = 1 − θ/π, so a
    * cosine-0.99 pair with 16 bands × 8 planes is missed with probability
    * (1 − 0.964⁸)¹⁶ ≈ 6e-11 — effectively exhaustive for true near-dups).
    * Candidates verify with the same exact integer cosine as the brute
    * path, so outputs are identical where recall holds. Every stage is
    * linear in vectors except the in-bucket pair explode, which bucket
    * width bounds; nothing collects to the driver. Plane signs are the
    * deterministic sha256-derived ±1 matrix (SimilarityOps.planeSign) —
    * data-independent, so index and query sides always agree.
    */
  def lshEmbeddingNearDupPairs(emb: DataFrame, idCol: String, vecCol: String,
                               dim: Int, bands: Int = 16, planesPerBand: Int = 8,
                               t2: Double = 0.81,
                               cacheQuantized: Boolean = true,
                               maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    // the quantized table feeds three consumers (banding + both verify
    // joins) — persist it once, same rationale as the q28 shingle table;
    // at corpus scale write it as parquet instead
    val q0 = quantized(emb, idCol, vecCol)
    val q = if (cacheQuantized)
      q0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    else q0
    // ±1 plane components, precomputed driver-side (bands·planes × dim ints)
    val signs: Array[Array[Long]] =
      Array.tabulate(bands * planesPerBand, dim)((p, d) => SimilarityOps.planeSign(p, d).toLong)
    val banded = q.select(col("vid"), col("qv")).as[(Long, Seq[Long])]
      .flatMap { case (vid, qvSeq) =>
        val qv = qvSeq.toArray
        // a vector longer than `dim` would index past the sign rows
        // (executor ArrayIndexOutOfBounds after task retries); a shorter
        // one would silently hash on a truncated prefix — both are
        // caller errors worth naming
        require(qv.length == dim,
          s"embedding id=$vid has ${qv.length} components but the LSH was " +
            s"built for dim=$dim — pass the column's true dimensionality")
        (0 until bands).iterator.map { bj =>
          var bucket = 0L
          var p = 0
          while (p < planesPerBand) {
            val row = signs(bj * planesPerBand + p)
            var s = 0L; var d = 0
            while (d < qv.length) { s += qv(d) * row(d); d += 1 }
            if (s > 0) bucket |= (1L << p)
            p += 1
          }
          (bj, bucket, vid)
        }
      }.toDF("band_idx", "band_val", "vid")
    val cand = boundBuckets(banded, Seq("band_idx", "band_val"), maxBucket)
      .groupBy("band_idx", "band_val")
      .agg(collect_list(col("vid")).as("ids"))
      .select(explode(pairsOf(col("ids"))).as("p"))
      .select(col("p.doc_a").as("vec_a"), col("p.doc_b").as("vec_b")).distinct()
    cand
      .join(q.select(col("vid").as("vec_a"), col("qv").as("qa"), col("n2").as("na2")), Seq("vec_a"))
      .join(q.select(col("vid").as("vec_b"), col("qv").as("qb"), col("n2").as("nb2")), Seq("vec_b"))
      .withColumn("d", intDot(col("qa"), col("qb")).cast("double"))
      .filter(cosAtLeast(col("d"), col("na2"), col("nb2"), t2))
      .select(col("vec_a"), col("vec_b"), col("d").cast("long").as("dot_q"))
  }

  /** sha256-prefix 60-bit token hash: an engine-independent alternative to
    * xxhash64 (DuckDB can recompute it), trading a little speed for an
    * oracle-checkable signature. 15 hex chars = 60 bits, fits signed long.
    */
  def shaTokenHash(token: Column): Column =
    conv(substring(sha2(token, 256), 1, 15), 16, 10).cast("long")

  /** SimHash: n-bit signature from token hashes — bit b of the signature
    * is 1 when the weighted sum of bit-b contributions is positive.
    * Expression-only (stays in codegen): n conditional sums in one
    * combinable aggregation. Default token hash is xxhash64 (fastest);
    * pass [[shaTokenHash]] with bits=60 for cross-engine verifiability.
    */
  def simhash(docs: DataFrame, textCol: String, idCol: String,
              tokenHash: Column => Column = xxhash64(_), bits: Int = 64): DataFrame = {
    val tok = docs.select(col(idCol).cast("long").as("doc_id"),
      explode(split(normText(col(textCol)), " ")).as("token"))
      .withColumn("th", tokenHash(col("token")))
    val bitSums = (0 until bits).map { b =>
      sum(when(col("th").bitwiseAND(lit(1L << b)) =!= 0, 1).otherwise(-1)).as(s"b$b")
    }
    val sums = tok.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
    val sig = (0 until bits).map { b =>
      when(col(s"b$b") > 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce((x, y) => x.bitwiseOR(y))
    sums.select(col("doc_id"), sig.as("simhash"))
  }

  /** SimHash near-dup pairs: bucket on 4 equal-width bands (any pair within
    * hamming distance ≤ 3 shares at least one exact band by pigeonhole...
    * distance ≤ 3 across 4 bands guarantees one untouched band), then
    * exact hamming filter.
    */
  def simhashNearDupPairs(sig: DataFrame, maxHamming: Int = 3, bits: Int = 64,
                          maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val (pairs, drops) = simhashNearDupPairsWithDrops(sig, maxHamming, bits, maxBucket)
    // same bare-call cap visibility as minhashNearDupPairs
    drops.foreach(d => logCapDrops("simhashNearDupPairs", d, maxBucket))
    pairs
  }

  /** [[simhashNearDupPairs]] plus the cap-drop report (None when
    * uncapped), sharing the banded plan.
    */
  def simhashNearDupPairsWithDrops(sig: DataFrame, maxHamming: Int = 3, bits: Int = 64,
                          maxBucket: Int = DefaultMaxBucket)
  : (DataFrame, Option[DataFrame]) = {
    // 4 equal bands guarantee a shared band only for hamming <= 3
    // (pigeonhole); a larger maxHamming would silently MISS qualifying
    // pairs whose differing bits fall one per band — refuse rather than
    // under-deliver the contract the parameter states
    require(maxHamming >= 0 && maxHamming <= 3,
      s"simhash banding covers hamming <= 3 (4-band pigeonhole); " +
        s"maxHamming=$maxHamming would silently miss pairs — use more " +
        "bands (minhash path) or a brute verifier for larger radii")
    val bandWidth = bits / 4
    val bandMask = (1L << bandWidth) - 1
    val bandCols = (0 until 4).map { j =>
      struct(lit(j).as("band_idx"),
        shiftright(col("simhash"), j * bandWidth).bitwiseAND(lit(bandMask)).as("band_val"))
    }
    val banded = sig.select(col("doc_id"), col("simhash"),
      explode(array(bandCols: _*)).as("band"))
      .select(col("doc_id"), col("simhash"), col("band.band_idx"), col("band.band_val"))
    // bucket ids carry (id, signature) packed in a struct so the hamming
    // check needs no join back
    // array_sort on structs orders by doc_id (first field) → pairs come
    // out with doc_a < doc_b without a normalization pass
    val pairs = boundBuckets(banded, Seq("band_idx", "band_val"), maxBucket)
      .groupBy("band_idx", "band_val")
      .agg(array_sort(collect_list(struct(col("doc_id"), col("simhash")))).as("members"))
      .select(explode(flatten(transform(col("members"), (a, i) =>
        transform(slice(col("members"), i + 2, size(col("members"))),
          b => struct(a.getField("doc_id").as("doc_a"), b.getField("doc_id").as("doc_b"),
            a.getField("simhash").as("sig_a"), b.getField("simhash").as("sig_b")))))).as("p"))
      .select(col("p.doc_a"), col("p.doc_b"),
        bit_count(col("p.sig_a").bitwiseXOR(col("p.sig_b"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
    val drops =
      if (maxBucket == NoBucketCap) None
      else Some(oversizedBuckets(banded, Seq("band_idx", "band_val"), maxBucket))
    (pairs, drops)
  }

  /** Incremental ingestion dedup: judge a NEW batch against an existing
    * curated CORPUS (and against itself) without re-deduping the corpus.
    * Ids must be globally unique across both inputs.
    *
    * Per new doc, in precedence order:
    *   - `exact_dup`: normalized text matches a corpus doc or an
    *     earlier-id new doc; match_id = smallest matching id.
    *   - `near_dup`: n-gram Jaccard ≥ threshold vs any corpus doc or any
    *     exact-surviving new doc with a smaller id (the same greedy
    *     keep-first rule the batch curation chain uses); match_id =
    *     smallest qualifying partner.
    *   - `kept`: match_id null.
    *
    * Scale shape: the exact stage is a hash join on text fingerprints
    * (at 100 TB the corpus fingerprint table is a precomputed parquet
    * side, not a recompute). The near stage reuses MinHash banding over
    * corpus ∪ survivors, but buckets aggregate the two sides separately
    * so candidate pairs are only new×corpus and new×new — corpus-corpus
    * pairs are never materialized, keeping per-ingest cost proportional
    * to the BATCH, not the corpus².
    */
  def incrementalDedup(newBatch: DataFrame, corpus: DataFrame,
                       textCol: String, idCol: String,
                       n: Int = 3, numHashes: Int = 64, bands: Int = 32,
                       threshold: Double = 0.5,
                       maxBucket: Int = DefaultMaxBucket): DataFrame = {
    // In-session convenience wrapper: derives the corpus index here and
    // persists its two join-side frames (each feeds the prepared kernel
    // once per side, and Spark would otherwise recompute the corpus scan
    // per consumer). Long-lived sessions that call this repeatedly should
    // either clearCache() after consuming the result or — better — build
    // the index ONCE with [[buildCorpusDedupIndex]], write it to parquet,
    // and call [[incrementalDedupPrepared]] per batch: that is the shape
    // whose per-ingest cost is proportional to the batch, not the corpus.
    val idx0 = buildCorpusDedupIndex(corpus, textCol, idCol, n, numHashes, bands, maxBucket)
    val idx = CorpusDedupIndex(
      idx0.fingerprints,
      idx0.shingles.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK),
      idx0.bands.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK),
      idx0.params)
    incrementalDedupPrepared(newBatch, idx, textCol, idCol, n, numHashes, bands, threshold,
      maxBucket)
  }

  /** [[incrementalDedup]] with an eager sink: writes the judgment to
    * `outPath` and unpersists EVERY frame the run cached (the derived
    * index sides and the prepared kernel's batch frames) before
    * returning the result read back from parquet. This is the shape for
    * a long-lived session ingesting batch after batch — nothing
    * accumulates in executor storage between calls.
    */
  def incrementalDedupToParquet(newBatch: DataFrame, corpus: DataFrame,
                                textCol: String, idCol: String, outPath: String,
                                n: Int = 3, numHashes: Int = 64, bands: Int = 32,
                                threshold: Double = 0.5,
                                maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val idx0 = buildCorpusDedupIndex(corpus, textCol, idCol, n, numHashes, bands, maxBucket)
    val sh = idx0.shingles.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bd = idx0.bands.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val (out, caches) = incrementalDedupPreparedWithCaches(newBatch,
      CorpusDedupIndex(idx0.fingerprints, sh, bd, idx0.params),
      textCol, idCol, n, numHashes, bands, threshold, maxBucket)
    out.write.mode("overwrite").parquet(outPath)
    (Seq(sh, bd) ++ caches).foreach(_.unpersist())
    newBatch.sparkSession.read.parquet(outPath)
  }

  /** Precomputed corpus-side dedup index: text fingerprints for the exact
    * stage, hashed shingle sets for the verify stage, and MinHash band
    * hashes for the candidate stage. At scale each frame is written once
    * as a parquet table when a batch is ACCEPTED into the corpus, then
    * every subsequent ingest reads them instead of re-shingling /
    * re-signing 100 TB per day. Persist with [[writeCorpusDedupIndex]]
    * (bucketed tables keyed by each frame's join key) so the per-batch
    * joins are co-located — no corpus-side exchange, ever.
    */
  final case class CorpusDedupIndex(fingerprints: DataFrame, // (cid, _h)
                                    shingles: DataFrame,     // (doc_id, sg)
                                    bands: DataFrame,        // (doc_id, band_idx, band_hash)
                                    params: Option[CorpusIndexParams] = None)

  /** The build parameters an index's band/shingle tables are only valid
    * for. Carried by [[buildCorpusDedupIndex]]'s result and the written
    * manifest so [[incrementalDedupPrepared]] can verify an ingest call
    * matches them instead of silently joining mismatched band families.
    */
  final case class CorpusIndexParams(n: Int, numHashes: Int, bands: Int, maxBucket: Int)

  /** Build the three corpus index frames. Parameters must match the ones
    * later passed to [[incrementalDedupPrepared]].
    *
    * The band table is capped at BUILD time ([[boundBuckets]], width-1
    * buckets kept — they are valid join targets for future batches):
    * a degenerate corpus bucket would otherwise fan out every ingest
    * batch that touches it, forever. Dropping it once here bounds the
    * candidate join on the corpus side permanently; run
    * [[oversizedBuckets]] on the uncapped band table when tuning.
    */
  def buildCorpusDedupIndex(corpus: DataFrame, textCol: String, idCol: String,
                            n: Int = 3, numHashes: Int = 64,
                            bands: Int = 32,
                            maxBucket: Int = DefaultMaxBucket): CorpusDedupIndex =
    buildCorpusDedupIndexWithReport(corpus, textCol, idCol, n, numHashes, bands, maxBucket)._1

  /** [[buildCorpusDedupIndex]] plus the cap-drop report: the corpus
    * buckets wider than maxBucket that the band table permanently
    * excludes, as (band_idx, band_hash, bucket_width). A 100 TB accept
    * job writes/logs this next to the index ([[capDropSummary]] for the
    * one-row rollup) so the dropped mass is recorded, never silent.
    * Both frames are lazy; the report shares the corpus shingle plan.
    */
  def buildCorpusDedupIndexWithReport(corpus: DataFrame, textCol: String, idCol: String,
                            n: Int = 3, numHashes: Int = 64,
                            bands: Int = 32,
                            maxBucket: Int = DefaultMaxBucket): (CorpusDedupIndex, DataFrame) = {
    val fp = corpus.select(col(idCol).cast("long").as("cid"),
      textFingerprint(col(textCol)).as("_h"))
    val sh = shingleHashTable(corpus, textCol, idCol, n)
    val banded = boundBuckets(
      bandTable(minhashSignaturesFromShingles(sh, numHashes), bands, numHashes / bands),
      Seq("band_idx", "band_hash"), maxBucket, minWidth = 1L)
    (CorpusDedupIndex(fp, sh, banded,
      Some(CorpusIndexParams(n, numHashes, bands, maxBucket))),
      minhashOversizedBuckets(sh, numHashes, bands, maxBucket))
  }

  /** Persist a corpus index as BUCKETED tables (saveAsTable — bucketing
    * needs catalog metadata, so these are tables, not bare parquet
    * directories): bands by its join key (band_idx, band_hash),
    * fingerprints by _h, shingles by doc_id. A bucketed side reports its
    * hash partitioning from the scan, so every per-batch join in
    * [[incrementalDedupPrepared]] plans with NO corpus-side exchange —
    * only the batch-sized side shuffles (to the bucket count). At 100 TB
    * that corpus shuffle is exactly the cost the prepared index exists
    * to avoid; paying the layout once at accept-time makes daily ingest
    * joins read-co-located forever after. Bucket count: size so one
    * bucket of the largest table ≈ 100-500 MB at the target corpus
    * scale; it also becomes the minimum join parallelism.
    */
  def writeCorpusDedupIndex(idx: CorpusDedupIndex, tablePrefix: String,
                            buckets: Int = 64, path: Option[String] = None): Unit = {
    writeBucketedIndexTable(idx.fingerprints, tablePrefix, "fingerprints",
      Seq("_h"), buckets, path)
    writeBucketedIndexTable(idx.shingles, tablePrefix, "shingles",
      Seq("doc_id"), buckets, path)
    writeBucketedIndexTable(idx.bands, tablePrefix, "bands",
      Seq("band_idx", "band_hash"), buckets, path)
    finishIndexWrite(idx.bands.sparkSession, tablePrefix, buckets, path,
      Map("fingerprints" -> idx.fingerprints.schema.toDDL,
        "shingles" -> idx.shingles.schema.toDDL,
        "bands" -> idx.bands.schema.toDDL),
      idx.params)
  }

  /** One bucketed+sorted index table write (shared by the full write and
    * the compaction rewrite leg). The frame is repartitioned by the
    * bucket hash FIRST: `repartition(buckets, cols)` uses the same
    * murmur3 hash as the bucketed-write bucket id, so each task holds
    * exactly one bucket and writes exactly one file — without it every
    * writer task emits a file per bucket it touches (tasks × buckets
    * files, observed 9× fragmentation at sf0.1), bloating every later
    * file listing, scan, and append-ledger record for no gain.
    */
  private def writeBucketedIndexTable(df: DataFrame, tablePrefix: String,
                                      name: String, cols: Seq[String],
                                      buckets: Int, path: Option[String]): Unit = {
    val w0 = df.repartition(buckets, cols.map(col): _*)
      .write.bucketBy(buckets, cols.head, cols.tail: _*)
      .sortBy(cols.head, cols.tail: _*).mode("overwrite")
    // explicit path → EXTERNAL table: the files outlive the (possibly
    // in-memory) catalog and a later session re-attaches them with
    // [[attachCorpusDedupIndex]] instead of rebuilding the corpus index
    val w = path.fold(w0)(p => w0.option("path", s"$p/$name"))
    w.saveAsTable(s"${tablePrefix}_$name")
  }

  /** Shared tail of every index-producing write: build params onto the
    * bands table, layout manifest next to the files, fresh epoch ledger.
    */
  private def finishIndexWrite(spark: org.apache.spark.sql.SparkSession,
                               tablePrefix: String, buckets: Int,
                               path: Option[String],
                               schemas: Map[String, String],
                               params: Option[CorpusIndexParams],
                               carriedTags: Seq[String] = Nil,
                               compactedFrom: Option[Map[String, Any]] = None): Unit = {
    // build params ride the bands table's properties so every read path
    // (same-session read or cross-session attach) recovers them for the
    // ingest-call verification in incrementalDedupPrepared
    params.foreach(p => spark.sql(
      s"""ALTER TABLE ${tablePrefix}_bands SET TBLPROPERTIES ${paramsProps(p)}"""))
    // layout manifest next to the files: attach verifies against it
    // instead of trusting the caller's bucket count (a mismatched bucket
    // DDL would make every join silently wrong)
    path.foreach { p =>
      val manifest: Map[String, Any] = Map(
        "buckets" -> buckets, "schemas" -> schemas) ++
        params.map(pr => "params" -> Map(
          "n" -> pr.n, "numHashes" -> pr.numHashes,
          "bands" -> pr.bands, "maxBucket" -> pr.maxBucket))
      writeTextFile(spark, s"$p/manifest.json", graft.io.StableJson.write(manifest))
    }
    // fresh append-epoch ledger: the base record pins the just-written
    // files so torn-append repair can always separate original index
    // files from partial-append orphans
    initEpochLedger(spark, tablePrefix, carriedTags, compactedFrom)
  }

  private def paramsProps(p: CorpusIndexParams): String =
    s"""('graft.index.n'='${p.n}','graft.index.numHashes'='${p.numHashes}',""" +
      s"""'graft.index.bands'='${p.bands}','graft.index.maxBucket'='${p.maxBucket}')"""

  private def writeTextFile(spark: org.apache.spark.sql.SparkSession,
                            path: String, content: String): Unit = {
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(hp, true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
  }

  private def readTextFile(spark: org.apache.spark.sql.SparkSession,
                           path: String): Option[String] = {
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(hp)) None
    else {
      val in = fs.open(hp)
      try {
        val bytes = org.apache.commons.io.IOUtils.toByteArray(in)
        Some(new String(bytes, "UTF-8"))
      } finally in.close()
    }
  }

  /** Re-register an index previously written by [[writeCorpusDedupIndex]]
    * with an explicit path, in a session whose catalog doesn't know it
    * (e.g. a fresh in-memory catalog). Pure DDL — no data moves. The
    * written manifest.json is the layout's source of truth: attach reads
    * bucket count and schemas from it and REFUSES a caller-supplied
    * bucket count that disagrees (a mismatched bucket DDL makes every
    * downstream join silently wrong — that footgun must be loud).
    * Indexes written before manifests existed must be rebuilt.
    *
    * @param buckets optional cross-check; -1 (default) takes the
    *                manifest's count, any other value must equal it
    */
  def attachCorpusDedupIndex(spark: org.apache.spark.sql.SparkSession,
                             tablePrefix: String, path: String,
                             buckets: Int = -1): Unit = {
    val manifestJson = readTextFile(spark, s"$path/manifest.json").getOrElse(
      throw new IllegalStateException(
        s"no manifest.json under $path — the index predates layout manifests " +
          "(or the path is wrong); rebuild it with writeCorpusDedupIndex"))
    val m = graft.io.StableJson.parse(manifestJson).asInstanceOf[Map[String, Any]]
    val manifestBuckets = m("buckets").asInstanceOf[Number].intValue()
    require(buckets < 0 || buckets == manifestBuckets,
      s"bucket count mismatch: caller says $buckets, manifest at $path says " +
        s"$manifestBuckets — attaching with the wrong count would make every " +
        "bucketed join silently wrong")
    val schemas = m("schemas").asInstanceOf[Map[String, Any]]
    def ddl(name: String, cols: String): Unit = {
      val table = s"${tablePrefix}_$name"
      // IF NOT EXISTS alone would silently keep a STALE registration: a
      // session that attached this prefix before the on-disk index was
      // rebuilt with a different bucket count (or moved) would keep its
      // old bucket DDL over the new files — every co-located join then
      // reads the wrong buckets and judges silently wrong. Re-attach
      // drops a registration that disagrees with the manifest.
      if (spark.catalog.tableExists(table)) {
        val meta = spark.sessionState.catalog.getTableMetadata(
          spark.sessionState.sqlParser.parseTableIdentifier(table))
        val expectedLoc = new org.apache.hadoop.fs.Path(s"$path/$name")
        val sameBuckets = meta.bucketSpec.exists(_.numBuckets == manifestBuckets)
        val sameLoc = new org.apache.hadoop.fs.Path(meta.location).toUri.getPath ==
          expectedLoc.toUri.getPath
        if (!sameBuckets || !sameLoc) {
          // only EXTERNAL registrations are safe to drop: DROP TABLE on a
          // MANAGED table (written via writeCorpusDedupIndex with no path)
          // deletes its data files — attaching an external index under an
          // in-use managed prefix would silently destroy the managed
          // index's data
          require(meta.tableType == org.apache.spark.sql.catalyst.catalog.CatalogTableType.EXTERNAL,
            s"table $table is MANAGED and disagrees with the manifest at $path " +
              "— refusing to DROP it (that would delete its data files); " +
              "attach under a different prefix or drop the managed index yourself")
          spark.sql(s"DROP TABLE $table")
        }
      }
      spark.sql(s"""CREATE TABLE IF NOT EXISTS $table (${schemas(name)})
        |USING PARQUET
        |CLUSTERED BY ($cols) SORTED BY ($cols) INTO $manifestBuckets BUCKETS
        |LOCATION '$path/$name'""".stripMargin)
      ()
    }
    ddl("fingerprints", "`_h`")
    ddl("shingles", "doc_id")
    ddl("bands", "band_idx, band_hash")
    m.get("params").map(_.asInstanceOf[Map[String, Any]]).foreach { pm =>
      def i(k: String) = pm(k).asInstanceOf[Number].intValue()
      spark.sql(s"""ALTER TABLE ${tablePrefix}_bands SET TBLPROPERTIES ${paramsProps(
        CorpusIndexParams(i("n"), i("numHashes"), i("bands"), i("maxBucket")))}""")
    }
    // a crashed append travels with the files — refuse the attach too
    requireNoTornEpochs(spark, tablePrefix)
  }

  /** Read an index persisted by [[writeCorpusDedupIndex]]. The frames
    * carry the bucketed layout, so downstream joins on the bucket keys
    * need no corpus-side exchange (asserted by CorpusIndexSpec); the
    * build params come back from the bands table's properties so
    * [[incrementalDedupPrepared]] can verify the ingest call against
    * them.
    */
  def readCorpusDedupIndex(spark: org.apache.spark.sql.SparkSession,
                           tablePrefix: String): CorpusDedupIndex = {
    // never hand out a torn index: a crashed append between inserts
    // would make near-dup judgments silently blind to some docs
    requireNoTornEpochs(spark, tablePrefix)
    val props = spark.sql(s"SHOW TBLPROPERTIES ${tablePrefix}_bands")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val params = for {
      n <- props.get("graft.index.n")
      nh <- props.get("graft.index.numHashes")
      b <- props.get("graft.index.bands")
      mb <- props.get("graft.index.maxBucket")
    } yield CorpusIndexParams(n.toInt, nh.toInt, b.toInt, mb.toInt)
    CorpusDedupIndex(
      spark.table(s"${tablePrefix}_fingerprints"),
      spark.table(s"${tablePrefix}_shingles"),
      spark.table(s"${tablePrefix}_bands"),
      params)
  }

  /** True when all three index tables exist in the catalog. */
  def corpusDedupIndexExists(spark: org.apache.spark.sql.SparkSession,
                             tablePrefix: String): Boolean =
    Seq("_fingerprints", "_shingles", "_bands")
      .forall(s => spark.catalog.tableExists(tablePrefix + s))

  // ---- append-epoch ledger: crash-safe multi-table appends ----------
  //
  // appendToCorpusDedupIndex inserts into THREE tables; a job that dies
  // between inserts would leave a torn index (a doc in _fingerprints but
  // absent from _shingles/_bands makes near-dup verification silently
  // blind to it). The ledger makes the append all-or-nothing in effect:
  // an `intent` marker is written before the first insert, each insert's
  // added files are recorded, and a `commit` record closes the epoch.
  // Readers refuse an index whose ledger shows an intent without a
  // commit; [[repairCorpusDedupIndex]] quarantines the partial files
  // (current files minus every committed epoch's recorded files) and
  // returns the index to its last committed state. Single writer
  // assumed, like the reference's batch pipeline.

  private val IndexTableNames = Seq("fingerprints", "shingles", "bands")

  private def tableLocationPath(spark: org.apache.spark.sql.SparkSession,
                                table: String): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(table)).location)

  private def hadoopFs(spark: org.apache.spark.sql.SparkSession,
                       p: org.apache.hadoop.fs.Path): org.apache.hadoop.fs.FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Ledger directory: a sibling of the three table dirs (`$path/_epochs/
    * <prefix>` for a path-backed index, `<warehouse>/_epochs/<prefix>`
    * for a managed one), so an attach over copied files finds the ledger
    * with them. The leading underscore keeps Spark's file listing from
    * ever treating it as data.
    */
  private[graft] def epochLedgerDir(spark: org.apache.spark.sql.SparkSession,
                                    tablePrefix: String): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(
      tableLocationPath(spark, s"${tablePrefix}_bands").getParent,
      s"_epochs/$tablePrefix")

  /** Non-hidden leaf files under a table dir, as root-relative paths. */
  private def listDataFiles(fs: org.apache.hadoop.fs.FileSystem,
                            root: org.apache.hadoop.fs.Path): Set[String] = {
    if (!fs.exists(root)) Set.empty
    else {
      val rootStr = root.toUri.getPath.stripSuffix("/")
      val it = fs.listFiles(root, true)
      val b = Set.newBuilder[String]
      while (it.hasNext) {
        val f = it.next().getPath
        val rel = f.toUri.getPath.stripPrefix(rootStr).stripPrefix("/")
        if (!rel.split("/").exists(c => c.startsWith("_") || c.startsWith(".")))
          b += rel
      }
      b.result()
    }
  }

  private final case class EpochLedger(intents: Map[Long, Map[String, Any]],
                                       commits: Map[Long, Map[String, Any]]) {
    def torn: Seq[Long] = (intents.keySet -- commits.keySet).toSeq.sorted
    def nextEpoch: Long = ((intents.keySet ++ commits.keySet) + 0L).max + 1
    def committedTags: Set[String] =
      commits.values.flatMap(_.get("tag").map(String.valueOf)).toSet ++
        commits.values.flatMap(_.get("carried_tags").collect {
          case s: Seq[_] => s.map(String.valueOf)
        }.getOrElse(Nil))
    def committedFilesOf(table: String): Set[String] =
      commits.values.flatMap(c => epochFilesOf(c, table)).toSet
    /** Committed idempotence tags in append order (base-carried tags
      * first — oldest by construction — then per-epoch tags by epoch id),
      * so compaction's carry can prune to the most RECENT window.
      */
    def orderedCommittedTags: Seq[String] = {
      val baseCarried = commits.get(0L)
        .flatMap(_.get("carried_tags").collect { case s: Seq[_] => s.map(String.valueOf) })
        .getOrElse(Nil)
      val epochTags = commits.toSeq.sortBy(_._1)
        .collect { case (e, r) if e != 0L => r.get("tag").map(String.valueOf) }
        .flatten
      (baseCarried ++ epochTags).distinct.filterNot(_ == "base")
    }
    def ledgerId: Option[String] =
      commits.get(0L).flatMap(_.get("ledger_id")).map(String.valueOf)
  }

  private def epochFilesOf(record: Map[String, Any], table: String): Seq[String] =
    record.get("tables").collect { case m: Map[_, _] => m.asInstanceOf[Map[String, Any]] }
      .flatMap(_.get(table)).collect { case m: Map[_, _] => m.asInstanceOf[Map[String, Any]] }
      .flatMap(_.get("files")).collect { case v: Seq[_] => v.map(String.valueOf) }
      .getOrElse(Nil)

  private val EpochFileName = "epoch-(\\d+)\\.(intent|commit)\\.json".r

  private def epochFileName(epoch: Long, kind: String): String =
    f"epoch-$epoch%08d.$kind.json"

  private val EpochClaimName = "epoch-(\\d+)\\.claim".r

  private def epochClaimMarker(dir: org.apache.hadoop.fs.Path,
                               e: Long): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(dir, f"epoch-$e%08d.claim")

  /** Drop epoch `e`'s claim-marker dir. Called by the winner once its
    * COMMIT record lands (the record is then the permanent fence for
    * the id — [[claimNextEpoch]] re-checks records after winning a
    * marker, so a recycled marker can never recycle the id) and by
    * [[repairCorpusDedupIndex]] for torn/abandoned claims. Without
    * the release, a long-lived streaming intake mints one permanent
    * marker dir per epoch that every ledger listing must rescan.
    */
  private def releaseEpochClaim(dir: org.apache.hadoop.fs.Path, e: Long): Unit = {
    graft.io.IndexMeta.deleteTree(epochClaimMarker(dir, e).toString); ()
  }

  /** Allocate-and-claim the next epoch id: max existing record + 1,
    * claimed atomically via a sibling `epoch-NNNNNNNN.claim` marker dir
    * (invisible to the `EpochFileName` regex, so readers and repair
    * never see it), stepping past ids a racing writer claimed first —
    * the SearchOps/VectorIndex version-allocation pattern applied to
    * the ledger. Without the claim, two writers racing one ledger (a
    * promote healing into an index a streaming intake is appending to)
    * mint the SAME epoch id and the loser's intent/commit records are
    * silently overwritten — its inserted files then read as orphans
    * and the next repair would quarantine a fully committed append.
    *
    * Committed markers are RELEASED (see [[releaseEpochClaim]]), so a
    * writer claiming from a stale ledger read can win the marker of an
    * already-recorded epoch; the intent/commit record is the permanent
    * fence — after winning a marker the allocator re-checks for a
    * record of that id and steps on instead of overwriting it.
    *
    * Scope note: the claim makes the LEDGER collision-proof; file
    * ATTRIBUTION under truly concurrent appends can still overlap
    * (insertTracked diffs directory listings), which repair treats
    * safely (orphans = files minus the UNION of committed records) —
    * precise per-epoch attribution keeps the documented single-writer
    * append contract.
    */
  private def claimNextEpoch(dir: org.apache.hadoop.fs.Path,
                             led: EpochLedger): Long =
    claimEpochFrom(dir, led.nextEpoch)

  private def claimEpochFrom(dir: org.apache.hadoop.fs.Path, start: Long): Long = {
    var e = start
    var attempts = 0
    while (attempts < 1000) {
      if (graft.io.IndexMeta.claimDir(epochClaimMarker(dir, e).toString)) {
        val recorded = Seq("intent", "commit").exists(k => graft.io.IndexMeta.exists(
          new org.apache.hadoop.fs.Path(dir, epochFileName(e, k)).toString))
        if (!recorded) return e
        // a recycled marker over a recorded epoch: release and step on
        releaseEpochClaim(dir, e)
      }
      e += 1; attempts += 1
    }
    throw new IllegalStateException(
      s"could not claim an epoch id under $dir after 1000 tries")
  }

  /** [[claimEpochFrom]] by table prefix — the STALE-READER shape, for
    * CorpusIndexSpec: a writer whose ledger read predates another
    * writer's commit starts below the recorded watermark and must be
    * fenced onto a fresh id by the records, not the (released) markers.
    */
  private[graft] def claimEpochIdFrom(spark: org.apache.spark.sql.SparkSession,
                                      tablePrefix: String, start: Long): Long =
    claimEpochFrom(epochLedgerDir(spark, tablePrefix), start)

  /** [[claimNextEpoch]] from a fresh ledger read — the exact
    * read-then-claim sequence both mutating entry points run, exposed
    * for CorpusIndexSpec to race directly (the ledger types are
    * private, so the end-to-end race can't reach the allocator).
    */
  private[graft] def claimNextEpochId(spark: org.apache.spark.sql.SparkSession,
                                      tablePrefix: String): Long = {
    val dir = epochLedgerDir(spark, tablePrefix)
    claimNextEpoch(dir, readEpochLedger(spark, tablePrefix).getOrElse(
      EpochLedger(Map.empty, Map.empty)))
  }

  private def readEpochLedger(spark: org.apache.spark.sql.SparkSession,
                              tablePrefix: String): Option[EpochLedger] =
    readEpochLedgerAt(spark, epochLedgerDir(spark, tablePrefix))

  /** Ledger read by DIRECTORY, not catalog prefix: the promote-time
    * coverage check re-reads the SOURCE index's ledger from the path the
    * compaction snapshot recorded, which must work even in a session
    * whose catalog no longer registers the source prefix.
    */
  private def readEpochLedgerAt(spark: org.apache.spark.sql.SparkSession,
                                dir: org.apache.hadoop.fs.Path): Option[EpochLedger] = {
    val fs = hadoopFs(spark, dir)
    if (!fs.exists(dir)) None
    else {
      val records = fs.listStatus(dir).toSeq.map(_.getPath).flatMap { p =>
        p.getName match {
          case EpochFileName(id, kind) =>
            readTextFile(spark, p.toString).map(j =>
              (id.toLong, kind, graft.io.StableJson.parse(j).asInstanceOf[Map[String, Any]]))
          case _ => None
        }
      }
      Some(EpochLedger(
        records.collect { case (e, "intent", r) => e -> r }.toMap,
        records.collect { case (e, "commit", r) => e -> r }.toMap))
    }
  }

  /** (Re)initialize the ledger: wipe it and record the CURRENT files of
    * all three tables as the base epoch, so repair can always separate
    * original index files from torn-append orphans.
    *
    * `carriedTags`: idempotence tags whose appends are already REFLECTED
    * in the base files — compaction passes the source index's committed
    * tags so a streaming trigger replayed across a compact+promote still
    * reads as committed. Without this, a trigger that committed its
    * append on the OLD prefix and crashed before the checkpoint commit
    * would re-judge against the compacted index (which already contains
    * its accepted docs via the copied fingerprints), judge everything
    * exact_dup, and overwrite its target partition with an empty frame —
    * silent data loss in the sink.
    *
    * `compactedFrom`: compaction's snapshot of the SOURCE index it read
    * (prefix, ledger dir, committed epochs, table locations, bucket
    * count, ledger id) — [[promoteCorpusDedupIndexChecked]] diffs the
    * source's CURRENT committed epochs against this snapshot at promote
    * time, closing the window where an append commits on the old prefix
    * between compaction's read and the pointer swap.
    *
    * The base record also carries a fresh `ledger_id`: a full re-WRITE
    * of a prefix restarts epoch numbering, so the promote-time diff
    * compares identities first — matching epoch ids on a rewritten
    * source would otherwise read as "covered".
    */
  private def initEpochLedger(spark: org.apache.spark.sql.SparkSession,
                              tablePrefix: String,
                              carriedTags: Seq[String] = Nil,
                              compactedFrom: Option[Map[String, Any]] = None): Unit = {
    val dir = epochLedgerDir(spark, tablePrefix)
    hadoopFs(spark, dir).delete(dir, true)
    val tables = IndexTableNames.map { n =>
      val loc = tableLocationPath(spark, s"${tablePrefix}_$n")
      n -> Map("files" -> listDataFiles(hadoopFs(spark, loc), loc).toSeq.sorted)
    }.toMap
    val base: Map[String, Any] =
      Map("epoch" -> 0L, "tag" -> "base", "tables" -> tables,
        "ledger_id" -> java.util.UUID.randomUUID().toString) ++
        // APPEND order, not sorted: orderedCommittedTags treats this list
        // as oldest-first, and compaction's carry prunes with takeRight.
        // Real intake tags ("$qid-$batchId") are not zero-padded, so a
        // lexicographic sort would reorder qid-10 before qid-9 and a
        // CHAINED compaction's prune could drop the most recent tag —
        // exactly the replayed-trigger empty-overwrite this carry exists
        // to prevent. StableJson preserves array order both ways.
        (if (carriedTags.nonEmpty) Map("carried_tags" -> carriedTags) else Map.empty) ++
        compactedFrom.map("compacted_from" -> _)
    writeTextFile(spark, new org.apache.hadoop.fs.Path(dir, epochFileName(0L, "commit")).toString,
      graft.io.StableJson.write(base))
  }

  /** Refuse a torn index: an intent without a commit means a previous
    * append died between table inserts, so the three tables disagree and
    * near-dup judgments would be silently blind to some appended docs.
    * Indexes without a ledger (pre-epoch writes) pass — nothing is
    * tracked for them until their first epoch append bootstraps one.
    */
  private def requireNoTornEpochs(spark: org.apache.spark.sql.SparkSession,
                                  tablePrefix: String): Unit =
    readEpochLedger(spark, tablePrefix).foreach { led =>
      if (led.torn.nonEmpty) throw new IllegalStateException(
        s"index $tablePrefix has torn append epoch(s) ${led.torn.mkString(",")}: " +
          "a previous appendToCorpusDedupIndex died between table inserts. " +
          "Run DedupOps.repairCorpusDedupIndex to quarantine the partial files, " +
          "then retry the append — judging against a torn index would be " +
          "silently wrong, not an error")
    }

  /** Quarantine torn append epochs: delete, from each table dir, every
    * data file not recorded by a committed epoch (the base record from
    * [[writeCorpusDedupIndex]] plus each completed append), and drop the
    * torn intent markers. Returns the repair summary:
    * `{"torn_epochs": [...], "deleted_files": {table: n}}`. A no-op on a
    * clean or unledgered index.
    */
  def repairCorpusDedupIndex(spark: org.apache.spark.sql.SparkSession,
                             tablePrefix: String,
                             claimStalenessMs: Long = DefaultClaimStalenessMs): Map[String, Any] =
    readEpochLedger(spark, tablePrefix) match {
      case None => Map("torn_epochs" -> Nil, "deleted_files" -> Map.empty[String, Any])
      case Some(led) if led.torn.isEmpty =>
        // clean indexes still get the clutter sweep: a crashed claimant
        // leaves no torn epoch, only its marker
        sweepAbandonedClaims(epochLedgerDir(spark, tablePrefix), led, claimStalenessMs)
        Map("torn_epochs" -> Nil, "deleted_files" -> Map.empty[String, Any])
      case Some(led) =>
        require(led.commits.contains(0L),
          s"ledger for $tablePrefix has no base epoch record — original index " +
            "files cannot be distinguished from torn-append orphans; rebuild " +
            "the index with writeCorpusDedupIndex")
        val deleted = IndexTableNames.map { n =>
          val loc = tableLocationPath(spark, s"${tablePrefix}_$n")
          val fs = hadoopFs(spark, loc)
          val orphans = listDataFiles(fs, loc) -- led.committedFilesOf(n)
          orphans.foreach(rel => fs.delete(new org.apache.hadoop.fs.Path(loc, rel), false))
          spark.catalog.refreshByPath(loc.toString)
          n -> orphans.size
        }.toMap
        IndexTableNames.foreach(n => spark.catalog.refreshTable(s"${tablePrefix}_$n"))
        // cached plans (e.g. a judgment's persisted frames) may pin the
        // pre-repair file listing and would fail on the deleted orphans;
        // repair is an exceptional recovery path, so dropping the whole
        // cache is the safe trade
        spark.catalog.clearCache()
        val dir = epochLedgerDir(spark, tablePrefix)
        led.torn.foreach { e =>
          hadoopFs(spark, dir)
            .delete(new org.apache.hadoop.fs.Path(dir, epochFileName(e, "intent")), false)
          // the quarantined epoch's claim marker goes with its intent —
          // the id becomes mintable again, its files are gone
          releaseEpochClaim(dir, e)
        }
        sweepAbandonedClaims(dir, led, claimStalenessMs)
        Map("torn_epochs" -> led.torn, "deleted_files" -> deleted)
    }

  /** Claim markers younger than this survive every sweep: the
    * claim-win → intent-write window is sub-second, so 15 minutes is a
    * generous multiple of any real claimant's hold time while still
    * collecting genuinely dead markers on the next maintenance pass.
    */
  private[graft] val DefaultClaimStalenessMs: Long =
    graft.io.IndexMeta.DefaultClaimStalenessMs

  /** Collect abandoned claim markers (a claimant that died between
    * claim and intent) at or below the committed watermark — dead
    * clutter every ledger listing rescans. Markers ABOVE the watermark
    * may belong to a live claimant mid-append and stay. Below-watermark
    * markers are NOT proof of death either: [[claimEpochFrom]] hands
    * gap ids (quarantined or tie-burned epochs) to stale readers, and
    * sweeping a live claimant's marker between its claim-win and its
    * intent-write would let a second writer mint the same id — the
    * double-record overwrite the claim protocol exists to prevent. So
    * only markers older than `olderThanMs` (by marker mtime) release;
    * a live claimant's marker is always fresh.
    */
  private def sweepAbandonedClaims(dir: org.apache.hadoop.fs.Path,
                                   led: EpochLedger,
                                   olderThanMs: Long = DefaultClaimStalenessMs): Unit = {
    val watermark = (led.commits.keySet + 0L).max
    val fs = graft.io.IndexMeta.fs(dir.toString)
    val now = System.currentTimeMillis()
    graft.io.IndexMeta.listChildNames(dir.toString).foreach {
      case EpochClaimName(id)
          if id.toLong <= watermark && !led.intents.contains(id.toLong) &&
            !led.commits.contains(id.toLong) =>
        val marker = epochClaimMarker(dir, id.toLong)
        val stale =
          try now - fs.getFileStatus(marker).getModificationTime >= olderThanMs
          catch { case _: java.io.FileNotFoundException => false } // already released
        if (stale) releaseEpochClaim(dir, id.toLong)
      case _ => ()
    }
  }

  // ---- index production pointer (BatchStore S10 integration) --------

  /** Promote an index behind a BatchStore pointer object: readers and
    * streaming intake sinks resolve the CURRENT prefix through the
    * pointer per trigger, so a compact+promote rolls them onto the fresh
    * index without a restart ([[compactCorpusDedupIndex]] writes to a
    * new prefix; this is the "caller swaps" half). The pointer records
    * the previous prefix for rollback-by-hand. This raw form swaps
    * UNCHECKED, so it is package-private: the only public promote is
    * [[promoteCorpusDedupIndexChecked]], which diffs the source ledger's
    * committed epochs against compaction's snapshot and heals (or
    * refuses on) appends that landed on the OLD prefix after compaction
    * read it. An external caller reaching for a shorter name must not be
    * able to re-open that append window by accident.
    */
  private[graft] def promoteCorpusDedupIndex(store: graft.io.BatchStore, pointerKey: String,
                              tablePrefix: String,
                              path: Option[String] = None): Map[String, Any] =
    // the pointer put and the retirement-ledger append are ONE
    // read-modify-write: two unguarded promotes can both read pointer
    // P0, both swap, both append P0 — the losing promote's generation
    // is then never recorded as retired, storage the GC can never find.
    // Prune takes the same claim, so its ledger rewrite can't swallow a
    // concurrent promote's append either.
    graft.io.IndexMeta.withClaim(store.objectPath(pointerSwapLockKey(pointerKey))) {
    val previous = store.readJsonIfExists(pointerKey)
    val pointer = Map(
      "table_prefix" -> tablePrefix,
      "promoted_at_utc" -> store.timestamp(),
      "previous_table_prefix" ->
        previous.map(p => String.valueOf(p.getOrElse("table_prefix", null))).orNull) ++
      path.map("path" -> _)
    store.putJson(pointerKey, pointer)
    // retirement ledger: the pointer only remembers ONE previous
    // generation, so without this append the generation retired two
    // promotes ago becomes unfindable — and uncollectable — garbage.
    // [[pruneCorpusDedupIndex]] reads this list; entries record the
    // prefix AND path so prefix reuse at a new location (the a→b→a
    // alternation) can never alias the serving generation. A MANAGED
    // outgoing generation (no explicit path) records its epoch-ledger
    // dir instead, resolved through the catalog NOW while the tables
    // are still registered — once someone drops them the location is
    // unrecoverable and the entry would be skipped on every prune
    // forever.
    previous.foreach { prev =>
      val prevPrefix = prev.get("table_prefix").map(String.valueOf)
      val prevPath = prev.get("path").map(String.valueOf)
      val samePlace = prevPrefix.contains(tablePrefix) &&
        prevPath.map(normLoc) == path.map(normLoc)
      if (prevPrefix.isDefined && !samePlace) {
        val rk = retiredGenerationsKey(pointerKey)
        val existing = readRetiredGenerations(store, pointerKey)
        val ledgerLoc: Option[String] =
          if (prevPath.isDefined) None
          else scala.util.Try {
            val spark = org.apache.spark.sql.SparkSession.active
            if (corpusDedupIndexExists(spark, prevPrefix.get))
              Some(epochLedgerDir(spark, prevPrefix.get).toString)
            else None
          }.toOption.flatten
        val entry: Map[String, Any] =
          Map("table_prefix" -> prevPrefix.get,
            "retired_at_utc" -> store.timestamp()) ++
            prevPath.map("path" -> _) ++ ledgerLoc.map("ledger_dir" -> _)
        store.putJson(rk, Map("retired" -> (existing :+ entry)))
      }
    }
    pointer
  }

  /** Claim dir serializing every pointer-put + retirement-ledger
    * mutation for one pointerKey (promotes and prunes alike).
    */
  private[graft] def pointerSwapLockKey(pointerKey: String): String =
    pointerKey.stripSuffix(".json") + "_swap.lock"

  /** Scheme-free normalized location for alias comparisons — the SAME
    * normalization everywhere (`file:/x/`, `/x` and `/x/` are one
    * location), so a rollback-by-promote whose caller spells the same
    * path differently can never slip past a serving-alias guard.
    */
  private def normLoc(p: String): String =
    new org.apache.hadoop.fs.Path(p).toUri.getPath.stripSuffix("/")

  private[graft] def retiredGenerationsKey(pointerKey: String): String =
    pointerKey.stripSuffix(".json") + "_retired.json"

  private def readRetiredGenerations(store: graft.io.BatchStore,
                                     pointerKey: String): Seq[Map[String, Any]] =
    store.readJsonIfExists(retiredGenerationsKey(pointerKey))
      .flatMap(_.get("retired")).collect {
        case s: Seq[_] => s.collect { case m: Map[_, _] => m.asInstanceOf[Map[String, Any]] }
      }.getOrElse(Nil)

  /** Retention GC for the corpus-dedup index family — the third leg of
    * the per-family GC story (SearchOps.prunePostingsVersions /
    * VectorIndex.pruneVersions close the other two). Compaction writes
    * each new generation to a FRESH prefix/path and the checked promote
    * swaps the pointer, so superseded generations (bucketed tables +
    * their epoch ledger) otherwise accumulate forever.
    *
    * Collects generations from the promote-maintained retirement ledger
    * ([[retiredGenerationsKey]]), OLDEST first, keeping:
    *  - the serving generation, always (anything aliasing the pointer's
    *    current prefix+path is skipped defensively, never deleted);
    *  - the most recent `keepRetired` retirements as a reader-grace
    *    window — pointer-resolving readers re-resolve per trigger, but
    *    a query planned against the old generation may still be
    *    mid-flight at promote time (the q128/q129 keepLatest analogue).
    *
    * Per collected generation: the catalog registrations drop ONLY when
    * they point under the retired path (a reused prefix re-registered at
    * the serving location must survive — the a→b→a alternation), then
    * the path tree deletes — tables AND the `_epochs/<prefix>` ledger
    * dir live under it. Entries with no recorded path (managed-table
    * generations) drop through the catalog when still registered —
    * managed drops delete their data — and are reported skipped
    * otherwise rather than guessed at.
    *
    * Replay safety is by construction, not by keeping the old ledger:
    * compaction CARRIES the source's committed idempotence tags into
    * the new generation's base epoch record, so a streaming trigger
    * replayed after its original generation is collected still reads
    * as committed (CorpusIndexSpec pins exactly this boundary).
    *
    * Returns the collected entries (with a `collected` disposition per
    * entry: `deleted` or `skipped_no_path`).
    */
  def pruneCorpusDedupIndex(spark: org.apache.spark.sql.SparkSession,
                            store: graft.io.BatchStore, pointerKey: String,
                            keepRetired: Int = 1): Seq[Map[String, Any]] = {
    require(keepRetired >= 0, "keepRetired must be >= 0")
    // same claim as promote: the ledger rewrite below is a
    // read-modify-write, and a promote appending a retirement between
    // our read and our put would have its entry silently dropped — a
    // permanently unfindable generation. The claim also freezes the
    // pointer for the whole pass, so the serving-alias guard and the
    // deletes judge one consistent serving generation.
    graft.io.IndexMeta.withClaim(store.objectPath(pointerSwapLockKey(pointerKey))) {
    val ptr = store.readJsonIfExists(pointerKey).getOrElse(
      throw new java.io.FileNotFoundException(s"no index pointer at $pointerKey"))
    val curPrefix = String.valueOf(ptr.getOrElse("table_prefix",
      throw new IllegalStateException(s"index pointer $pointerKey has no table_prefix")))
    val curPath = ptr.get("path").map(String.valueOf).map(normLoc)
    // the serving generation's epoch-ledger location, for managed
    // entries whose only recorded handle is their ledger_dir
    def servingLedger: Option[String] =
      if (!corpusDedupIndexExists(spark, curPrefix)) None
      else scala.util.Try(normLoc(epochLedgerDir(spark, curPrefix).toString)).toOption
    val all = readRetiredGenerations(store, pointerKey)
    val candidates = all.dropRight(keepRetired)
    val results = candidates.map { e =>
      val prefix = String.valueOf(e.getOrElse("table_prefix", ""))
      val epath = e.get("path").map(String.valueOf).map(normLoc)
      val eledger = e.get("ledger_dir").map(String.valueOf).map(normLoc)
      // every location comparison through normLoc: a rollback-by-
      // promote spelling the same place differently (trailing slash,
      // file:/ scheme) must hit the skip, never the delete
      val aliasesServing = (prefix == curPrefix && epath == curPath) ||
        (epath.isDefined && epath == curPath) ||
        (eledger.isDefined && eledger == servingLedger)
      if (aliasesServing) e + ("collected" -> "skipped_serving")
      else epath match {
        case Some(p) =>
          // drop catalog registrations only when they belong to THIS
          // retired location; a reused prefix serving elsewhere survives
          if (corpusDedupIndexExists(spark, prefix)) {
            val registered = normLoc(tableLocationPath(spark, s"${prefix}_bands")
              .getParent.toString)
            if (registered == p)
              IndexTableNames.foreach(n =>
                spark.sql(s"DROP TABLE IF EXISTS ${prefix}_$n"))
          }
          graft.io.IndexMeta.deleteTree(p)
          e + ("collected" -> "deleted")
        case None if eledger.isEmpty &&
            corpusDedupIndexExists(spark, prefix) && prefix != curPrefix =>
          // pre-ledger_dir managed entry, still registered: the ledger
          // dir resolves through the catalog, and managed drops delete
          // their data
          val ledgerDir = epochLedgerDir(spark, prefix)
          IndexTableNames.foreach(n => spark.sql(s"DROP TABLE IF EXISTS ${prefix}_$n"))
          hadoopFs(spark, ledgerDir).delete(ledgerDir, true)
          e + ("collected" -> "deleted")
        case None if eledger.isDefined =>
          // managed entry with its ledger location recorded at promote
          // time. When the prefix is still registered AT that location
          // this is the same incarnation: drop the tables (managed
          // drops delete their data) before collecting the ledger dir.
          // Registered elsewhere (or not at all) means the retired
          // incarnation's tables are already gone — a managed
          // re-CREATE requires the old drop — so only its ledger dir
          // remains to collect.
          val sameIncarnation = corpusDedupIndexExists(spark, prefix) &&
            scala.util.Try(normLoc(epochLedgerDir(spark, prefix).toString))
              .toOption.contains(eledger.get)
          if (sameIncarnation)
            IndexTableNames.foreach(n => spark.sql(s"DROP TABLE IF EXISTS ${prefix}_$n"))
          graft.io.IndexMeta.deleteTree(eledger.get)
          e + ("collected" -> "deleted")
        case None =>
          // nothing recorded, nothing registered: no recoverable
          // storage. Dropping the entry (instead of re-skipping it on
          // every future prune, forever) is the only terminal state.
          e + ("collected" -> "dropped_unresolvable")
      }
    }
    // oldest-first order preserved: surviving (skipped) candidates are
    // older than the grace window by construction; deleted and
    // unresolvable entries leave the ledger
    val terminal = Set("deleted", "dropped_unresolvable")
    val stillRetired =
      results.filterNot(r => terminal(String.valueOf(r("collected"))))
        .map(_ - "collected") ++ all.takeRight(keepRetired)
    store.putJson(retiredGenerationsKey(pointerKey),
      Map("retired" -> stillRetired))
    results
  }}

  /** [[promoteCorpusDedupIndex]] with the compact-promote append window
    * CLOSED: before swapping the pointer, diff the source index's
    * CURRENT committed epochs against the snapshot compaction recorded
    * (`compacted_from` in the target's base ledger record). An append
    * that committed on the old prefix after compaction's read would be
    * silently absent from the promoted index — near-dup judgments would
    * go blind to its docs, forever and without an error. On a gap this
    * either HEALS (default: copy the missing epochs' recorded files into
    * the promoted index's tables — valid because append files carry
    * their bucket ids in their names and the bucket layout matched at
    * compaction — re-recording each as a committed epoch with its
    * original idempotence tag) or REFUSES, naming the missing epochs.
    *
    * Refuses rather than heals when: the source was fully re-written
    * since compaction (ledger identity mismatch — the snapshot no longer
    * describes it), or the bucket counts differ (copied files would land
    * in the wrong buckets and every bucketed join would be silently
    * wrong). Targets without a `compacted_from` record (fresh builds,
    * pre-guard compactions) promote unchecked, as before.
    *
    * Returns the pointer plus `healed_epochs` (source epoch ids copied
    * in; empty when the snapshot covered everything).
    *
    * The check narrows the append window to the diff-to-swap instant,
    * then a SECOND coverage diff immediately after the pointer write
    * heals any epoch that committed inside that instant. The residual
    * exposure — an append that starts on the old prefix before the swap
    * and commits after the post-swap diff — can only leak DUPLICATES
    * (those docs are in the sink but absent from the promoted index, so
    * a later near-dup of them is kept), never lose sink data: the
    * trigger's own replay is guarded by the sink's kept-empty/partition-
    * exists check (StreamOps.intakeUpdateTrigger).
    */
  def promoteCorpusDedupIndexChecked(spark: org.apache.spark.sql.SparkSession,
                                     store: graft.io.BatchStore, pointerKey: String,
                                     tablePrefix: String,
                                     path: Option[String] = None,
                                     healMissing: Boolean = true): Map[String, Any] = {
    val healed = healPromoteCoverageGap(spark, tablePrefix, healMissing)
    val pointer = promoteCorpusDedupIndex(store, pointerKey, tablePrefix, path)
    // post-swap re-diff: heals appends that committed on the old prefix
    // between the diff above and the pointer write (idempotent — epochs
    // already healed are recorded as healed_from_epoch and skipped)
    val healedAfterSwap = healPromoteCoverageGap(spark, tablePrefix, healMissing)
    pointer + ("healed_epochs" -> (healed ++ healedAfterSwap))
  }

  /** The coverage diff + heal behind [[promoteCorpusDedupIndexChecked]]:
    * returns the source epoch ids healed into `toPrefix` (empty when the
    * compaction snapshot already covered the source's committed state).
    */
  private def healPromoteCoverageGap(spark: org.apache.spark.sql.SparkSession,
                                     toPrefix: String,
                                     healMissing: Boolean): Seq[Long] = {
    val tgtLedger = readEpochLedger(spark, toPrefix)
    val cf = tgtLedger.flatMap(_.commits.get(0L))
      .flatMap(_.get("compacted_from").collect {
        case m: Map[_, _] => m.asInstanceOf[Map[String, Any]]
      })
    cf.fold(Seq.empty[Long]) { snap =>
      val ledgerDir = new org.apache.hadoop.fs.Path(String.valueOf(snap("ledger_dir")))
      val snapEpochs = snap.get("epochs").collect {
        case s: Seq[_] => s.map(v => String.valueOf(v).toLong)
      }.getOrElse(Nil).toSet
      readEpochLedgerAt(spark, ledgerDir).fold(Seq.empty[Long]) { src =>
        // identity first: a re-written source restarts epoch numbering,
        // so matching ids prove nothing about coverage
        val snapId = snap.get("ledger_id").map(String.valueOf)
        if (snapId.isDefined && src.ledgerId.isDefined && snapId != src.ledgerId)
          throw new IllegalStateException(
            s"promote refused: the source index at $ledgerDir was re-written " +
              "since this compaction (ledger identity changed) — the compacted " +
              s"index $toPrefix no longer describes it; re-run the compaction")
        // epoch 0 is the base state compaction consumed (snapshotted, or
        // bootstrapped from exactly that state by the first later append);
        // epochs a previous checked promote already healed into the
        // target are recorded there as `healed_from_epoch` — skip them,
        // making repeated checked promotes idempotent
        val healedAlready = tgtLedger.map(_.commits.values.flatMap(
          _.get("healed_from_epoch").collect { case l: Long => l }).toSet)
          .getOrElse(Set.empty[Long])
        val missing = (src.commits.keySet - 0L) -- snapEpochs -- healedAlready
        if (missing.isEmpty) Nil
        else {
          val names = missing.toSeq.sorted
          val tagsOf = names.map(e =>
            e -> src.commits(e).get("tag").map(String.valueOf).getOrElse("<untagged>"))
          if (!healMissing) throw new IllegalStateException(
            s"promote refused: epoch(s) ${tagsOf.map { case (e, t) => s"$e(tag=$t)" }
              .mkString(", ")} committed on the source index AFTER compaction " +
              s"read it — the compacted index $toPrefix is missing their docs. " +
              "Re-append them, re-compact, or promote with healMissing=true")
          val srcBuckets = snap.get("buckets").map(v => String.valueOf(v).toInt).getOrElse(-1)
          val tgtBuckets = tableBucketCount(spark, s"${toPrefix}_bands").getOrElse(-2)
          require(srcBuckets == tgtBuckets,
            s"promote cannot heal epochs ${names.mkString(",")}: the source was " +
              s"bucketed into $srcBuckets and the compacted index into $tgtBuckets " +
              "— appended files carry their bucket ids in their names, so a copy " +
              "would mis-bucket them; re-run the compaction instead")
          val locs = snap("locations").asInstanceOf[Map[String, Any]]
          names.foreach(e => healEpochByFileCopy(spark, toPrefix, locs, e, src.commits(e)))
          names
        }
      }
    }
  }

  /** Test hook: name of the index table whose heal file-copy should fail
    * (simulates a promote dying mid-heal — CorpusIndexSpec's torn-heal
    * coverage). Never set outside tests.
    */
  private[graft] var healFaultInjection: Option[String] = None

  /** Copy one committed source epoch's recorded files into the promoted
    * index's tables and re-record it as a committed epoch (same tag, so
    * streaming replay idempotence carries). Runs under the target's own
    * intent→commit protocol: a crash mid-copy leaves a torn epoch the
    * readers refuse and repair quarantines — never a silently
    * half-healed index.
    */
  private def healEpochByFileCopy(spark: org.apache.spark.sql.SparkSession,
                                  toPrefix: String, locs: Map[String, Any],
                                  srcEpoch: Long, rec: Map[String, Any]): Unit = {
    val led = readEpochLedger(spark, toPrefix).get
    val dir = epochLedgerDir(spark, toPrefix)
    val epoch = claimNextEpoch(dir, led)
    val tag = rec.get("tag").map(String.valueOf)
    writeTextFile(spark,
      new org.apache.hadoop.fs.Path(dir, epochFileName(epoch, "intent")).toString,
      graft.io.StableJson.write(Map("epoch" -> epoch,
        "healed_from_epoch" -> srcEpoch) ++ tag.map("tag" -> _)))
    val conf = spark.sparkContext.hadoopConfiguration
    val tables = IndexTableNames.map { n =>
      if (healFaultInjection.contains(n))
        throw new IllegalStateException(s"injected heal fault before $n copy")
      val files = epochFilesOf(rec, n)
      val srcLoc = new org.apache.hadoop.fs.Path(String.valueOf(locs(n)))
      val dstLoc = tableLocationPath(spark, s"${toPrefix}_$n")
      files.foreach { rel =>
        val sp = new org.apache.hadoop.fs.Path(srcLoc, rel)
        val dp = new org.apache.hadoop.fs.Path(dstLoc, rel)
        org.apache.hadoop.fs.FileUtil.copy(
          sp.getFileSystem(conf), sp, dp.getFileSystem(conf), dp, false, true, conf)
      }
      spark.catalog.refreshByPath(dstLoc.toString)
      n -> (Map("files" -> files.sorted) ++
        rec.get("tables").collect { case m: Map[_, _] =>
          m.asInstanceOf[Map[String, Any]]
        }.flatMap(_.get(n)).collect { case m: Map[_, _] =>
          m.asInstanceOf[Map[String, Any]].get("rows")
        }.flatten.map("rows" -> _))
    }.toMap
    writeTextFile(spark,
      new org.apache.hadoop.fs.Path(dir, epochFileName(epoch, "commit")).toString,
      graft.io.StableJson.write(Map("epoch" -> epoch, "tables" -> tables,
        "healed_from_epoch" -> srcEpoch) ++ tag.map("tag" -> _)))
    releaseEpochClaim(dir, epoch) // the commit record now fences the id
    IndexTableNames.foreach(n => spark.catalog.refreshTable(s"${toPrefix}_$n"))
  }

  /** Resolve the current index prefix through a BatchStore pointer,
    * attaching the tables from the pointer's recorded path when the
    * session's catalog doesn't know them (fresh session after a swap) —
    * or when it knows them at a DIFFERENT location: an a→b→a prefix
    * alternation (compact b back onto a retired prefix's name at a new
    * path) would otherwise find the STALE same-prefix registration and
    * silently judge against the retired index. attach re-verifies the
    * manifest and replaces mismatched external registrations.
    */
  def resolveCorpusDedupIndex(spark: org.apache.spark.sql.SparkSession,
                              store: graft.io.BatchStore, pointerKey: String): String = {
    val ptr = store.readJsonIfExists(pointerKey).getOrElse(
      throw new java.io.FileNotFoundException(s"no index pointer at $pointerKey"))
    val prefix = String.valueOf(ptr.getOrElse("table_prefix",
      throw new IllegalStateException(s"index pointer $pointerKey has no table_prefix")))
    val registeredElsewhere = ptr.get("path").exists { p =>
      corpusDedupIndexExists(spark, prefix) && {
        val registered = tableLocationPath(spark, s"${prefix}_bands").toUri.getPath
        val expected = new org.apache.hadoop.fs.Path(s"${String.valueOf(p)}/bands")
          .toUri.getPath
        registered != expected
      }
    }
    if (!corpusDedupIndexExists(spark, prefix) || registeredElsewhere)
      ptr.get("path").foreach(p => attachCorpusDedupIndex(spark, prefix, String.valueOf(p)))
    prefix
  }

  /** Ledger state of an idempotence tag: "committed" (the tagged append
    * fully applied), "torn" (it died mid-append), or "absent". The
    * intake sinks consult this before re-running a replayed trigger.
    */
  private[graft] def epochTagState(spark: org.apache.spark.sql.SparkSession,
                                   tablePrefix: String, tag: String): String =
    readEpochLedger(spark, tablePrefix) match {
      case None => "absent"
      case Some(led) =>
        if (led.committedTags.contains(tag)) "committed"
        else if (led.torn.exists(e =>
          led.intents(e).get("tag").map(String.valueOf).contains(tag))) "torn"
        else "absent"
    }

  /** Test hook: name of the index table whose append insert should fail
    * (simulates a job dying mid-append — CorpusIndexSpec's torn-epoch
    * coverage). Never set outside tests.
    */
  private[graft] var appendFaultInjection: Option[String] = None

  /** Append newly ACCEPTED docs to a persisted corpus index — the other
    * half of the daily-ingest lifecycle: [[incrementalDedupPrepared]]
    * judges a batch against the index, and the batch's `kept` docs join
    * the corpus HERE, batch-sized, instead of re-shingling/re-signing
    * the whole corpus. Inserts respect the tables' bucketed layout
    * (datasource bucketed tables hash appended rows into per-bucket
    * files), so the zero-corpus-side-exchange join property survives
    * appends — CorpusIndexSpec proves judgments against an appended
    * index match a fresh build over the unioned corpus.
    *
    * Derivations use the index's RECORDED build params (manifested
    * write / attach / build); an index without params refuses, since
    * guessing n/bands would corrupt the band family silently.
    *
    * Cap note: the width cap was applied at BUILD time; appended rows
    * can legitimately grow a bucket past `maxBucket` over many accepts.
    * Monitor with [[oversizedBuckets]] over the bands table and re-cap
    * during periodic compaction (a batch-sized scheduled job); the
    * batch-side cap in [[incrementalDedupPrepared]] still bounds
    * per-ingest fan-out meanwhile.
    *
    * Crash safety: the three inserts are wrapped in an append EPOCH
    * (intent marker → tracked inserts → commit record, see the ledger
    * section above). A job that dies mid-append leaves a torn epoch
    * that read/attach refuse and [[repairCorpusDedupIndex]] rolls back;
    * the index is never silently judged in a half-appended state.
    *
    * @param epochTag optional idempotence key (e.g. a streaming
    *                 micro-batch id): a committed epoch carrying this
    *                 tag makes the call a no-op, and a torn epoch
    *                 carrying it is auto-repaired and redone — the
    *                 exactly-once contract the intake sinks rely on
    *                 under foreachBatch replay
    */
  def appendToCorpusDedupIndex(accepted: DataFrame, textCol: String, idCol: String,
                               tablePrefix: String,
                               epochTag: Option[String] = None): Unit = {
    val spark = accepted.sparkSession
    // bootstrap a ledger for indexes written before epochs existed, so
    // this append (and every later one) is tracked
    if (readEpochLedger(spark, tablePrefix).isEmpty) initEpochLedger(spark, tablePrefix)
    val led = readEpochLedger(spark, tablePrefix).get
    // idempotence by tag (streaming replay): a committed epoch with this
    // tag means the append fully applied — skip; a TORN epoch with this
    // tag is our own earlier attempt — auto-repair and redo. Torn
    // epochs from OTHER appends refuse (readCorpusDedupIndex would too).
    val alreadyApplied = epochTag.exists(led.committedTags)
    if (!alreadyApplied) {
      if (led.torn.nonEmpty) {
        val allOurs = epochTag.exists(t =>
          led.torn.forall(e => led.intents(e).get("tag").map(String.valueOf).contains(t)))
        if (allOurs) repairCorpusDedupIndex(spark, tablePrefix)
        else requireNoTornEpochs(spark, tablePrefix)
      }
      val idx = readCorpusDedupIndex(spark, tablePrefix)
      val p = idx.params.getOrElse(throw new IllegalStateException(
        s"index $tablePrefix carries no build params — write it with " +
          "writeCorpusDedupIndex (manifested) before appending"))
      // Pin the accepted rows BEFORE the first insert: `accepted` is
      // typically derived from a judgment against THIS index (a semi-join
      // on the `kept` roster), so a lazy plan re-evaluated between the
      // three inserts would see the partially-updated tables — the
      // fingerprint insert would make every accepted doc exact-match
      // itself and the shingle/band inserts would write an empty frame.
      // localCheckpoint(eager) materializes once and truncates lineage
      // (batch-sized; within one job, the executor-loss caveat is moot).
      val acc = accepted.select(col(idCol).cast("long").as(idCol),
        col(textCol).cast("string").as(textCol)).localCheckpoint(true)
      val docs = acc.count()
      val fp = acc.select(col(idCol).as("cid"),
        textFingerprint(col(textCol)).as("_h"))
      val sh = shingleHashTable(acc, textCol, idCol, p.n).persist()
      val banded = bandTable(minhashSignaturesFromShingles(sh, p.numHashes),
        p.bands, p.numHashes / p.bands)
      // epoch intent BEFORE the first insert: a crash anywhere below
      // leaves the intent without a commit, which read/attach refuse and
      // repairCorpusDedupIndex can quarantine (added files are recorded
      // per insert in the commit; repair derives orphans as current
      // files minus every committed epoch's files)
      val dir = epochLedgerDir(spark, tablePrefix)
      val epoch = claimNextEpoch(dir, led)
      writeTextFile(spark, new org.apache.hadoop.fs.Path(dir, epochFileName(epoch, "intent")).toString,
        graft.io.StableJson.write(
          Map("epoch" -> epoch, "docs" -> docs) ++ epochTag.map("tag" -> _)))
      // insertInto matches columns by POSITION against the table schema.
      // Each frame pins before the count+insert pair: the ledger's row
      // count and the insert itself would otherwise each derive the frame
      // from scratch (the bands derivation — minhash over every shingle —
      // is the expensive one), doubling the append's compute for nothing.
      // The insert repartitions the pinned frame by the table's bucket
      // hash so each append adds exactly ONE file per bucket (not one per
      // writer task per bucket) — long-term fragmentation then grows one
      // file/bucket per append, which is what compaction's copy-vs-
      // rewrite threshold measures.
      val nBuckets = tableBucketCount(spark, s"${tablePrefix}_bands")
      def insertTracked(df: DataFrame, name: String,
                        cols: Seq[String]): (String, Map[String, Any]) = {
        val loc = tableLocationPath(spark, s"${tablePrefix}_$name")
        val fs = hadoopFs(spark, loc)
        val before = listDataFiles(fs, loc)
        if (appendFaultInjection.contains(name))
          throw new IllegalStateException(s"injected append fault before $name insert")
        // the shingle frame arrives already persisted (the bands
        // derivation still reads it after this insert) — leave its
        // lifecycle to the caller
        val wasCached = df.storageLevel != org.apache.spark.storage.StorageLevel.NONE
        val pinned = if (wasCached) df else df.persist()
        try {
          val rows = pinned.count()
          val aligned = nBuckets.fold(pinned)(b => pinned.repartition(b, cols.map(col): _*))
          aligned.write.mode("append").insertInto(s"${tablePrefix}_$name")
          name -> Map("rows" -> rows,
            "files" -> (listDataFiles(fs, loc) -- before).toSeq.sorted)
        } finally if (!wasCached) { pinned.unpersist(); () }
      }
      try {
        val tables = Seq(
          ("fingerprints", fp, Seq("_h")),
          ("shingles", sh, Seq("doc_id")),
          ("bands", banded, Seq("band_idx", "band_hash")))
          .map { case (n, df, cols) => insertTracked(df, n, cols) }.toMap
        writeTextFile(spark, new org.apache.hadoop.fs.Path(dir, epochFileName(epoch, "commit")).toString,
          graft.io.StableJson.write(
            Map("epoch" -> epoch, "docs" -> docs, "tables" -> tables) ++
              epochTag.map("tag" -> _)))
        releaseEpochClaim(dir, epoch) // the commit record now fences the id
      } finally {
        sh.unpersist()
        acc.unpersist()
      }
    }
  }

  /** Periodic compaction of an appended index (copy-on-write): re-apply
    * the width cap to the bands table — appends legitimately grow
    * buckets past `maxBucket` over many accepts ([[appendToCorpusDedupIndex]])
    * — producing a FRESH bucketed index under `toPrefix`. The bands
    * table is always rewritten (the re-cap changes it); fingerprints and
    * shingles are rewritten only when fragmented past `maxFilesPerBucket`
    * files per bucket or when the bucket count changes — otherwise their
    * files copy byte-for-byte and re-register, because re-shuffling an
    * unchanged corpus-scale shingle store to re-cap a bands table would
    * dominate the maintenance job for zero gain. Writing to a new
    * prefix/path rather than in place is deliberate: overwriting a
    * table mid-read is a self-referential rewrite, and at corpus scale
    * the swap is a pointer update (the BatchStore promote pattern), not
    * a data move. Returns the dropped-buckets report for the run's
    * logs ("no silent caps"). Ingest continues against `fromPrefix`
    * until the caller swaps — [[promoteCorpusDedupIndexChecked]] is that swap,
    * and pointer-resolving readers (StreamOps.nearDupIntakeSinkWithIndexPointer)
    * roll onto `toPrefix` at their next trigger without a restart.
    */
  def compactCorpusDedupIndex(spark: org.apache.spark.sql.SparkSession,
                              fromPrefix: String, toPrefix: String,
                              buckets: Int, path: Option[String] = None,
                              maxBucketOverride: Option[Int] = None,
                              maxFilesPerBucket: Int = 4,
                              carryRecentTags: Int = 64): DataFrame = {
    val idx = readCorpusDedupIndex(spark, fromPrefix)
    // ONE ledger snapshot, taken with the read above, serves both the
    // carried-tags computation and the promote-time coverage diff — a
    // second read after the table writes could see epochs the written
    // files don't contain
    val srcLedger = readEpochLedger(spark, fromPrefix)
    val p = idx.params.getOrElse(throw new IllegalStateException(
      s"index $fromPrefix carries no build params — cannot re-cap without them"))
    val cap = maxBucketOverride.getOrElse(p.maxBucket)
    // copy-on-write means a FRESH destination, on BOTH legs: the copy leg
    // clears its destination before copying, and the rewrite leg would
    // overwrite the very files its input plan is reading — guard here so
    // the protection doesn't silently vanish when fragmentation flips a
    // table from the copy leg to the rewrite leg
    path.foreach { dst =>
      val srcRoot = tableLocationPath(spark, s"${fromPrefix}_bands").getParent
      val dstRoot = new org.apache.hadoop.fs.Path(dst)
      require(!pathsOverlap(
          hadoopFs(spark, dstRoot).makeQualified(dstRoot),
          hadoopFs(spark, srcRoot).makeQualified(srcRoot)),
        s"compaction destination $dst overlaps the source index's root " +
          s"$srcRoot — copy-on-write compaction must write to a fresh path " +
          "(a nested destination would plant new files under a source table " +
          "dir, and the source's recursive file listing would fold them into " +
          "its ledger/base pinning)")
    }
    // Only the bands table CHANGES under compaction (the re-cap filter);
    // fingerprints and shingles are append-only and already bucketed. At
    // corpus scale, re-shuffling the full shingle store to re-cap a bands
    // table would be the single most expensive step of the maintenance
    // job for zero information gain — so when the destination keeps the
    // bucket count and the table isn't fragmented past `maxFilesPerBucket`
    // files per bucket, the files are COPIED byte-for-byte (bucket ids
    // ride in the file names, per-file sort order rides in the bytes) and
    // re-registered under the new prefix. Fragmented tables (many small
    // per-append files) take the Spark rewrite, which is the coalesce
    // half of compaction's job. A changed bucket count always rewrites.
    val fromBuckets = tableBucketCount(spark, s"${fromPrefix}_bands")
    def compactTable(name: String, df: DataFrame, cols: Seq[String]): Unit = {
      val srcLoc = tableLocationPath(spark, s"${fromPrefix}_$name")
      val nFiles = listDataFiles(hadoopFs(spark, srcLoc), srcLoc).size
      val copyable = path.isDefined && fromBuckets.contains(buckets) &&
        nFiles <= buckets.toLong * maxFilesPerBucket
      if (copyable)
        copyBucketedIndexTable(spark, fromPrefix, toPrefix, name, cols,
          buckets, path.get)
      else writeBucketedIndexTable(df, toPrefix, name, cols, buckets, path)
    }
    compactTable("fingerprints", idx.fingerprints, Seq("_h"))
    compactTable("shingles", idx.shingles, Seq("doc_id"))
    writeBucketedIndexTable(
      boundBuckets(idx.bands, Seq("band_idx", "band_hash"), cap, minWidth = 1L),
      toPrefix, "bands", Seq("band_idx", "band_hash"), buckets, path)
    // the source's committed idempotence tags carry into the new ledger:
    // every tagged append is already reflected in the compacted files, so
    // a streaming trigger replayed ACROSS the compact+promote must read
    // as committed — re-judging it against an index that already holds
    // its accepted docs would empty-overwrite its target partition.
    // The carry is transitive (orderedCommittedTags includes previously
    // carried tags) but PRUNED to the most recent `carryRecentTags`:
    // foreachBatch replays only the single in-flight trigger, so a
    // bounded recent window preserves replay semantics while keeping the
    // list from growing one tag per append for the index's lifetime.
    val carried = srcLedger.map(_.orderedCommittedTags).getOrElse(Nil)
      .takeRight(carryRecentTags)
    // snapshot of what this compaction actually consumed, stamped into
    // the new index's base ledger record: promoteCorpusDedupIndexChecked
    // diffs the source's current committed epochs against it, catching
    // appends that COMMIT on the old prefix between this read and the
    // pointer swap (they would otherwise be silently absent from the
    // promoted index)
    val compactedFrom: Map[String, Any] = Map(
      "prefix" -> fromPrefix,
      "ledger_dir" -> epochLedgerDir(spark, fromPrefix).toString,
      "epochs" -> srcLedger.map(_.commits.keySet.toSeq.sorted).getOrElse(Nil),
      "locations" -> IndexTableNames.map(n =>
        n -> tableLocationPath(spark, s"${fromPrefix}_$n").toString).toMap,
      // the SOURCE's bucket count: heal-by-file-copy is only valid when
      // the source's appended files (bucket ids ride in the names) were
      // bucketed the same way as the promoted index
      "buckets" -> fromBuckets.getOrElse(-1)) ++
      srcLedger.flatMap(_.ledgerId).map("ledger_id" -> _)
    finishIndexWrite(spark, toPrefix, buckets, path,
      Map("fingerprints" -> idx.fingerprints.schema.toDDL,
        "shingles" -> idx.shingles.schema.toDDL,
        "bands" -> idx.bands.schema.toDDL),
      Some(p.copy(maxBucket = cap)), carried, Some(compactedFrom))
    oversizedBuckets(idx.bands, Seq("band_idx", "band_hash"), cap)
  }

  /** True when either qualified path is an ancestor of (or equal to) the
    * other. Exact-equality checks miss the nested cases: a destination
    * inside the source root passes `!=` yet plants foreign files under a
    * source table dir, and a source inside the destination would be
    * deleted by the copy leg's destination clear.
    */
  private def pathsOverlap(a: org.apache.hadoop.fs.Path,
                           b: org.apache.hadoop.fs.Path): Boolean = {
    def comps(p: org.apache.hadoop.fs.Path): Seq[String] = {
      val u = p.toUri
      Seq(Option(u.getScheme).getOrElse(""), Option(u.getAuthority).getOrElse("")) ++
        u.getPath.split("/").filter(_.nonEmpty).toSeq
    }
    val (ca, cb) = (comps(a), comps(b))
    ca.startsWith(cb) || cb.startsWith(ca)
  }

  /** Declared bucket count of a catalog table, if bucketed. */
  private def tableBucketCount(spark: org.apache.spark.sql.SparkSession,
                               table: String): Option[Int] =
    spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(table))
      .bucketSpec.map(_.numBuckets)

  /** Compaction's no-rewrite leg: copy a bucketed table's data files
    * byte-for-byte into `$destRoot/$name` (names preserved — Spark reads
    * the bucket id from the file name, so the copied table keeps its
    * bucketed layout and every downstream join stays corpus-side-
    * exchange-free) and register the new table over them, attach-style.
    * The copy runs as executor tasks (one per file batch), never through
    * decode/encode — at corpus scale this is an object-store server-side
    * copy per file, not a Spark job over the data.
    */
  private def copyBucketedIndexTable(spark: org.apache.spark.sql.SparkSession,
                                     fromPrefix: String, toPrefix: String,
                                     name: String, cols: Seq[String],
                                     buckets: Int, destRoot: String): Unit = {
    val srcLoc = tableLocationPath(spark, s"${fromPrefix}_$name")
    val destLoc = new org.apache.hadoop.fs.Path(s"$destRoot/$name")
    val destFs = hadoopFs(spark, destLoc)
    // the copy leg clears its destination first — compacting "into" (or
    // under, or over a parent of) the source location would delete the
    // files it is about to copy
    require(!pathsOverlap(destFs.makeQualified(destLoc),
        hadoopFs(spark, srcLoc).makeQualified(srcLoc)),
      s"compaction destination $destLoc overlaps the source table's " +
        "location — copy-on-write compaction must write to a fresh path")
    spark.sql(s"DROP TABLE IF EXISTS ${toPrefix}_$name")
    destFs.delete(destLoc, true)
    destFs.mkdirs(destLoc)
    val files = listDataFiles(hadoopFs(spark, srcLoc), srcLoc).toSeq.sorted
    val conf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    val (src, dst) = (srcLoc.toString, destLoc.toString)
    spark.sparkContext
      .parallelize(files, math.max(1, math.min(files.size, 32)))
      .foreach { rel =>
        val c = conf.value
        val sp = new org.apache.hadoop.fs.Path(s"$src/$rel")
        val dp = new org.apache.hadoop.fs.Path(s"$dst/$rel")
        org.apache.hadoop.fs.FileUtil.copy(
          sp.getFileSystem(c), sp, dp.getFileSystem(c), dp, false, true, c)
        ()
      }
    val colsDdl = cols.map(c => s"`$c`").mkString(", ")
    val schemaDdl = spark.table(s"${fromPrefix}_$name").schema.toDDL
    spark.sql(s"""CREATE TABLE ${toPrefix}_$name ($schemaDdl)
      |USING PARQUET
      |CLUSTERED BY ($colsDdl) SORTED BY ($colsDdl) INTO $buckets BUCKETS
      |LOCATION '$destLoc'""".stripMargin)
  }

  /** [[incrementalDedup]] against a PRECOMPUTED corpus index: every
    * corpus-side artifact (fingerprints, shingles, band hashes) comes in
    * as a frame — typically parquet reads — so per-ingest compute is
    * proportional to the new batch. The corpus participates only through
    * joins: fingerprint equi-join (exact stage), band-hash equi-join
    * (candidate stage — only buckets a new doc landed in produce rows),
    * and the shingle lookup for candidate partners (semi-join shaped: a
    * corpus row survives the join only if some candidate references it).
    */
  def incrementalDedupPrepared(newBatch: DataFrame, index: CorpusDedupIndex,
                               textCol: String, idCol: String,
                               n: Int = 3, numHashes: Int = 64, bands: Int = 32,
                               threshold: Double = 0.5,
                               maxBucket: Int = DefaultMaxBucket): DataFrame =
    incrementalDedupPreparedWithCaches(newBatch, index, textCol, idCol,
      n, numHashes, bands, threshold, maxBucket)._1

  /** [[incrementalDedupPrepared]] plus the batch-sized frames it
    * persisted, so an eager caller can unpersist them after its final
    * action (see [[incrementalDedupToParquet]] and the streaming
    * per-trigger sink StreamOps.nearDupIntakeSink, which must not let
    * caches accumulate across micro-batches).
    */
  private[graft] def incrementalDedupPreparedWithCaches(
                               newBatch: DataFrame, index: CorpusDedupIndex,
                               textCol: String, idCol: String,
                               n: Int = 3, numHashes: Int = 64, bands: Int = 32,
                               threshold: Double = 0.5,
                               maxBucket: Int = DefaultMaxBucket): (DataFrame, Seq[DataFrame]) = {
    // an index built with different shingle n / signature count / banding
    // produces band hashes from a DIFFERENT hash family: the joins would
    // run fine and match (almost) nothing. When the index carries its
    // build params (buildCorpusDedupIndex result, or a read/attach of a
    // manifested index), a mismatched ingest call is an error, not a
    // silently-empty judgment. maxBucket may legitimately differ (the
    // corpus cap applied at build; this arg caps only the batch side).
    index.params.foreach { p =>
      require(p.n == n && p.numHashes == numHashes && p.bands == bands,
        s"corpus index built with (n=${p.n}, numHashes=${p.numHashes}, " +
          s"bands=${p.bands}) but ingest called with (n=$n, " +
          s"numHashes=$numHashes, bands=$bands) — the band families would " +
          "not match and every new doc would wrongly judge as kept")
    }
    // four consumers (both exact joins, the anti-join, the final roster)
    // re-evaluate the fingerprint projection — persist it once (batch-
    // sized; freed by the caller's clearCache or session end)
    val nfp = newBatch.select(col(idCol).cast("long").as("nid"), col(textCol).as("_text"))
      .withColumn("_h", textFingerprint(col("_text")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // exact matches: min corpus id per hash, min earlier new id per hash
    val exactC = nfp.join(index.fingerprints, Seq("_h")).groupBy("nid").agg(min("cid").as("_mc"))
    // combinable min-agg + join back, not a window: same skew rationale
    // as exactDedup — a batch full of one duplicated text must not land
    // one partition-wide group in a single task
    val exactN = nfp
      .join(nfp.groupBy("_h").agg(min("nid").as("_minNid")), Seq("_h"))
      .filter(col("_minNid") < col("nid"))
      .select(col("nid"), col("_minNid").as("_mn"))
    val exactMatch = exactC.join(exactN, Seq("nid"), "full_outer")
      .select(col("nid"), least(col("_mc"), col("_mn")).as("match_id"))

    val surv = nfp.join(exactMatch.select("nid"), Seq("nid"), "left_anti")

    // near-dup stage: shingle + sign + band ONLY the exact-survivors
    // (batch-sized work), then join the batch bands against the corpus
    // band table — corpus-corpus pairs never materialize, and corpus
    // docs in buckets no new doc touches never leave the scan
    val shNew = shingleHashTable(surv.select(col("nid").as(idCol), col("_text").as(textCol)),
        textCol, idCol, n)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // batch-side skew guard: a degenerate NEW-side bucket is dropped
    // before either candidate leg (width-1 buckets stay — a lone new doc
    // still probes the corpus); the corpus side was capped at index
    // build, so per-candidate fan-out is ≤ maxBucket on both legs
    val bandsNew = boundBuckets(
      bandTable(minhashSignaturesFromShingles(shNew, numHashes), bands, numHashes / bands),
      Seq("band_idx", "band_hash"), maxBucket, minWidth = 1L)

    val candCorpus = bandsNew.select(col("doc_id").as("nid"), col("band_idx"), col("band_hash"))
      .join(index.bands.select(col("doc_id").as("partner"), col("band_idx"), col("band_hash")),
        Seq("band_idx", "band_hash"))
      .select(col("nid"), col("partner"))
    // new×new (a<b): greedy keep-first — the larger id is judged against
    // the smaller, matching the batch curation chain's rule
    val candNew = bandsNew.groupBy("band_idx", "band_hash")
      .agg(collect_list(col("doc_id")).as("newIds"))
      .filter(size(col("newIds")) > 1)
      .select(explode(transform(pairsOf(col("newIds")), p =>
        struct(p.getField("doc_b").as("nid"), p.getField("doc_a").as("partner")))).as("p"))
      .select(col("p.nid"), col("p.partner"))
    val cand = candCorpus.unionByName(candNew).distinct()

    // partner shingles join per SIDE (not a pre-join union): a union of
    // the bucketed corpus table with the batch frame would erase the
    // corpus layout's partitioning and force a full corpus-shingle
    // shuffle; joined separately, the corpus leg reads co-located from a
    // bucketed index while only the candidate side (batch-sized) moves.
    // candSh feeds both legs — persisted (batch-sized) so the candidate
    // generation doesn't run twice
    val candSh = cand
      .join(shNew.select(col("doc_id").as("nid"), col("sg").as("sg_n")), Seq("nid"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nearCorpus = candSh
      .join(index.shingles.select(col("doc_id").as("partner"), col("sg").as("sg_p")), Seq("partner"))
    val nearNew = candSh
      .join(shNew.select(col("doc_id").as("partner"), col("sg").as("sg_p")), Seq("partner"))
    val nearMatch = nearCorpus.unionByName(nearNew)
      .filter(jaccard(col("sg_n"), col("sg_p")) >= threshold)
      .groupBy("nid").agg(min("partner").as("match_id"))

    val roster = nfp.select("nid")
      .join(exactMatch.withColumn("status", lit("exact_dup")), Seq("nid"), "left")
      .join(nearMatch.withColumnRenamed("match_id", "_nm"), Seq("nid"), "left")
      .select(col("nid").as("new_id"),
        coalesce(col("status"), when(col("_nm").isNotNull, "near_dup").otherwise("kept")).as("status"),
        coalesce(col("match_id"), col("_nm")).as("match_id"))
    (roster, Seq(nfp, shNew, candSh))
  }

  /** Benchmark-decontamination report: training docs (evalPred false)
    * sharing ≥1 distinct word n-gram with any eval doc (evalPred true),
    * with how many eval docs each collides with and how many distinct
    * n-grams are shared.
    *
    * Scale shape: benchmark/eval sets are orders of magnitude smaller
    * than a training corpus, so the exploded eval shingle table is
    * broadcast — the 100 TB train side joins scan-local with no shuffle
    * until the (already contamination-only) per-doc aggregate. The two
    * COUNT(DISTINCT)s rewrite to joined dedup legs engine-wide via
    * RewriteMultiDistinctCounts (no Expand of the joined rows).
    */
  def contaminationReport(docs: DataFrame, textCol: String, idCol: String,
                          evalPred: Column, n: Int,
                          broadcastEval: Boolean = true): DataFrame = {
    // hashed shingles (q27/q28 convention): the join key is a long, not
    // an n-word string — smaller broadcast, cheaper distinct counts.
    // Collisions conflate n-grams at ~k²/2⁶⁴ per doc pair (the same
    // accepted trade as the MinHash path; the string-SQL oracles remain
    // valid up to that bound). The word-hash array materializes in its
    // own projection and is referenced twice downstream, which keeps
    // CollapseProject from inlining the split into the shingle lambda.
    contaminationReportFromWordHashes(docs
      .select(col(idCol).cast("long").as("doc_id"), evalPred.as("_is_eval"),
        transform(split(normText(col(textCol)), " "), w => xxhash64(w)).as("_wh")),
      n, broadcastEval)
  }

  /** [[contaminationReport]] over PRE-HASHED word arrays — input
    * (doc_id, _is_eval, _wh array<long>). Both sides must hash with the
    * SAME word-hash function (mixing families silently matches
    * nothing); the curation chain feeds the span stage's surviving
    * FNV-1a64 hashes here and hashes the eval texts with the same
    * kernel, skipping a full survivor re-tokenize.
    */
  def contaminationReportFromWordHashes(wordHashes: DataFrame, n: Int,
                                        broadcastEval: Boolean = true): DataFrame = {
    val sh = wordHashes.select(col("doc_id"), col("_is_eval"),
      explode(shingleHashesOfWordHashes(col("_wh"), n)).as("sg"))
    val evalSide0 = sh.filter(col("_is_eval")).select(col("sg"), col("doc_id").as("eval_doc"))
    // benchmarks are usually tiny vs the corpus → broadcast; pass false
    // for an eval side too large for executor memory (shuffle join)
    val evalSide = if (broadcastEval) broadcast(evalSide0) else evalSide0
    val trainSide = sh.filter(!col("_is_eval")).select(col("doc_id").as("train_doc"), col("sg"))
    trainSide.join(evalSide, "sg")
      .groupBy("train_doc")
      .agg(count_distinct(col("eval_doc")).as("n_eval_docs"),
        count_distinct(col("sg")).as("n_shared_ngrams"))
  }
}
