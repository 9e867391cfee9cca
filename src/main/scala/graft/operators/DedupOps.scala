package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.core.CacheScope

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
    * discards. Lazy; callers pass the shingle frame the pairs call
    * persisted (the curation chains do) so evaluating the report costs
    * one extra signature + banding pass over cached shingles, not a
    * re-tokenize.
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
                          maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val (pairs, drops) = minhashNearDupPairsFromShinglesWithDrops(
      shingleHashTable(docs, textCol, idCol, n), numHashes, bands, threshold, maxBucket)
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
                                      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    // The shingle table feeds three consumers (signature agg + both
    // verify-join sides) — persist it once instead of recomputing the
    // most expensive narrow stage per consumer (a caller that already
    // cached it keeps its own cache). At corpus scale, write it as a
    // parquet table instead and feed it back through
    // minhashSignaturesFromShingles.
    val sh = CacheScope.persist(sh0)
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
                                      maxBucket: Int = DefaultMaxBucket)
  : (DataFrame, Option[DataFrame]) = {
    val pairs = minhashNearDupPairsFromShingles(sh0, numHashes, bands, threshold, maxBucket)
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
                               maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    // the quantized table feeds three consumers (banding + both verify
    // joins) — persist it once, same rationale as the q28 shingle table;
    // at corpus scale write it as parquet instead
    val q = CacheScope.persist(quantized(emb, idCol, vecCol))
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
    // per consumer); the caller's CacheScope releases them. Long-lived
    // sessions should rather build the index ONCE with
    // [[buildCorpusDedupIndex]], write it to parquet, and call
    // [[incrementalDedupPrepared]] per batch: that is the shape whose
    // per-ingest cost is proportional to the batch, not the corpus.
    val idx0 = buildCorpusDedupIndex(corpus, textCol, idCol, n, numHashes, bands, maxBucket)
    val idx = idx0.copy(shingles = CacheScope.persist(idx0.shingles),
      bands = CacheScope.persist(idx0.bands))
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
    // released also when the write throws: a failed sink must not leave
    // corpus-sized caches behind for the rest of the session
    CacheScope.run {
      incrementalDedup(newBatch, corpus, textCol, idCol, n, numHashes, bands, threshold,
        maxBucket).write.mode("overwrite").parquet(outPath)
    }
    newBatch.sparkSession.read.parquet(outPath)
  }

  /** Precomputed corpus-side dedup index: text fingerprints for the exact
    * stage, hashed shingle sets for the verify stage, and MinHash band
    * hashes for the candidate stage. At scale each frame is written once
    * as a parquet table when a batch is ACCEPTED into the corpus, then
    * every subsequent ingest reads them instead of re-shingling /
    * re-signing 100 TB per day. Persist with [[writeCorpusDedupIndex]]
    * (parquet bucketed by each frame's join key) so the per-batch
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

  // ---- the persisted corpus index --------------------------------------
  //
  // One root per index, published through [[graft.io.VersionedStore]]:
  // pointer, claim-based version allocation, ingest segments, the carried
  // ledger, the intake claim and retention are the store's, as for the
  // postings, vector and semantic families (docs/INDEX_LIFECYCLES.md).
  // Each version holds:
  //   fingerprints/ shingles/ bands/  parquet bucketed by the join key
  //     (_h; doc_id; band_idx, band_hash) — the bucket id rides in each
  //     file name
  //   manifest.json  {buckets, schemas, params, version_id, carried};
  //     written last, so it marks the version complete. `carried` maps a
  //     table to the root-relative dirs a fold took over by reference
  //     instead of rewriting (fingerprints and shingles only)
  //   ingest/b<id>/{fingerprints,shingles,bands}/  one appended batch,
  //     complete-or-absent (`_SUCCESS` at the segment root, written last)
  //   folded_batches.txt  the batch ids folded into this version
  // Readers register a version's tables as external catalog tables
  // PARTITIONED by segment and BUCKETED by join key: every base dir and
  // committed segment is one partition at its own location, and the
  // partitioned scan still reports the bucket partitioning — so per-batch
  // joins stay free of corpus-side exchanges across appends.

  private val IndexTables: Seq[(String, Seq[String])] = Seq(
    "fingerprints" -> Seq("_h"), "shingles" -> Seq("doc_id"),
    "bands" -> Seq("band_idx", "band_hash"))

  private[graft] object corpusIndex extends graft.io.VersionedStore {
    protected val family = "corpus dedup index"
    def exists(dir: String): Boolean = graft.io.IndexMeta.exists(s"$dir/manifest.json")
    // a fold carries fingerprints and shingles by reference, so a kept
    // version may read files that live in older version dirs
    override protected def references(root: String, v: Int): Seq[String] = {
      val dir = versionDir(root, v)
      if (exists(dir)) readManifest(dir).carried.values.flatten.toSeq else Nil
    }
  }

  private final case class IndexManifest(buckets: Int, schemas: Map[String, String],
                                         params: CorpusIndexParams, versionId: String,
                                         carried: Map[String, Seq[String]])

  private def readManifest(dir: String): IndexManifest = {
    val m = graft.io.StableJson.parse(graft.io.IndexMeta.readString(s"$dir/manifest.json")
      .getOrElse(throw new IllegalStateException(s"no corpus index manifest under $dir")))
      .asInstanceOf[Map[String, Any]]
    def obj(k: String) = m.getOrElse(k, Map.empty).asInstanceOf[Map[String, Any]]
    val p = obj("params").map { case (k, v) => k -> v.toString.toInt }
    IndexManifest(m("buckets").toString.toInt,
      obj("schemas").map { case (k, v) => k -> String.valueOf(v) },
      CorpusIndexParams(p("n"), p("numHashes"), p("bands"), p("maxBucket")),
      String.valueOf(m("version_id")),
      obj("carried").map { case (k, v) => k -> v.asInstanceOf[Seq[_]].map(String.valueOf) })
  }

  /** Write the tables of `idx` that `carried` does not name under `dir`,
    * then the manifest — last, so a crash leaves an inert version.
    */
  private def writeVersion(idx: CorpusDedupIndex, dir: String, buckets: Int,
                           params: CorpusIndexParams,
                           carried: Map[String, Seq[String]] = Map.empty): Unit = {
    val frames = tableFrames(idx)
    IndexTables.foreach { case (name, cols) =>
      if (!carried.contains(name)) writeBucketed(frames(name), s"$dir/$name", cols, buckets)
    }
    graft.io.IndexMeta.writeString(s"$dir/manifest.json", graft.io.StableJson.write(Map(
      "buckets" -> buckets,
      "schemas" -> frames.map { case (n, f) => n -> f.schema.toDDL },
      "params" -> Map("n" -> params.n, "numHashes" -> params.numHashes,
        "bands" -> params.bands, "maxBucket" -> params.maxBucket),
      "version_id" -> java.util.UUID.randomUUID().toString,
      "carried" -> carried)))
  }

  private def tableFrames(idx: CorpusDedupIndex): Map[String, DataFrame] =
    Map("fingerprints" -> idx.fingerprints, "shingles" -> idx.shingles, "bands" -> idx.bands)

  /** One bucketed+sorted parquet write into `dir` (overwriting it). The
    * frame is repartitioned by the bucket hash FIRST: `repartition(buckets,
    * cols)` uses the same murmur3 hash as the bucket id, so each task holds
    * exactly one bucket and writes exactly one file — without it every
    * writer task emits a file per bucket it touches (tasks × buckets files,
    * observed 9× fragmentation at sf0.1). Bucketing needs catalog
    * metadata, so the write goes through a throwaway external table that
    * is dropped again; the files stay.
    */
  private def writeBucketed(df: DataFrame, dir: String, cols: Seq[String],
                            buckets: Int): Unit = {
    val tmp = "graft_cdx_write_" + java.util.UUID.randomUUID().toString.replace("-", "")
    try df.repartition(buckets, cols.map(col): _*)
      .write.bucketBy(buckets, cols.head, cols.tail: _*)
      .sortBy(cols.head, cols.tail: _*).mode("overwrite")
      .option("path", dir).saveAsTable(tmp)
    finally df.sparkSession.sql(s"DROP TABLE IF EXISTS $tmp")
  }

  /** Persist a corpus index under `root` as bucketed parquet — bands by
    * its join key (band_idx, band_hash), fingerprints by _h, shingles by
    * doc_id — and serve it as the root's next version. A bucketed side
    * reports its hash partitioning from the scan, so every per-batch join
    * in [[incrementalDedupPrepared]] plans with NO corpus-side exchange —
    * only the batch-sized side shuffles (to the bucket count). At 100 TB
    * that corpus shuffle is exactly the cost the prepared index exists to
    * avoid; paying the layout once at accept-time makes daily ingest joins
    * read-co-located forever after. Bucket count: size so one bucket of
    * the largest table ≈ 100-500 MB at the target corpus scale; it also
    * becomes the minimum join parallelism. On a served root this is a
    * rebuild: the publish carries the served version's ledger. The index
    * must carry its build params (appends and folds derive the band
    * family from them). Returns the new version.
    */
  def writeCorpusDedupIndex(idx: CorpusDedupIndex, root: String, buckets: Int = 64): Int = {
    val params = idx.params.getOrElse(throw new IllegalArgumentException(
      "the index carries no build params — build it with buildCorpusDedupIndex"))
    corpusIndex.publish(root)((_, v) =>
      writeVersion(idx, corpusIndex.versionDir(root, v), buckets, params))
  }

  /** True once a version of the index at `root` has been served. */
  def corpusDedupIndexExists(root: String): Boolean = corpusIndex.currentVersion(root).isDefined

  /** The served version of the index at `root` (pointer resolved once),
    * base plus every committed ingest segment. The frames carry the
    * bucketed layout, so downstream joins on the bucket keys need no
    * corpus-side exchange (asserted by CorpusIndexSpec); the build params
    * come from the manifest so [[incrementalDedupPrepared]] can verify the
    * ingest call against them.
    */
  def readCorpusDedupIndex(spark: org.apache.spark.sql.SparkSession,
                           root: String): CorpusDedupIndex =
    readCorpusIndexAt(spark, root, corpusIndex.versionDir(root, corpusIndex.servedVersion(root)))

  /** [[readCorpusDedupIndex]] of version dir `dir` — the shape for a caller
    * that resolved the pointer under the intake claim.
    */
  private[graft] def readCorpusIndexAt(spark: org.apache.spark.sql.SparkSession,
                                       root: String, dir: String): CorpusDedupIndex = {
    val m = readManifest(dir)
    val tables = registerVersion(spark, root, dir, m)
    def read(name: String): DataFrame = {
      val t = spark.table(tables(name))
      t.select(t.columns.filterNot(_ == "seg").map(col).toIndexedSeq: _*)
    }
    CorpusDedupIndex(read("fingerprints"), read("shingles"), read("bands"), Some(m.params))
  }

  /** Catalog-name prefix of version `dir`'s registrations
    * (`cdx_<root leaf>_vNNNN_<hash of the qualified dir>_`): no two
    * versions of any roots share one, so [[pruneCorpusDedupIndex]] can
    * drop exactly the registrations of the versions it deletes.
    */
  private def registrationPrefix(dir: String): String = {
    val vPath = graft.io.IndexMeta.fs(dir).makeQualified(new org.apache.hadoop.fs.Path(dir))
    val leaf = vPath.getParent.getParent.getName.toLowerCase.replaceAll("[^a-z0-9_]", "_")
    val id = java.util.UUID.nameUUIDFromBytes(vPath.toString.getBytes("UTF-8")).toString.take(8)
    s"cdx_${leaf}_${vPath.getName}_${id}_"
  }

  /** Register version `dir`'s three tables in the session catalog and add
    * any committed segment not yet registered as a partition. Table names
    * are the version's [[registrationPrefix]] plus the manifest's version
    * id, so a registration never outlives the version it describes — a
    * root rebuilt in place, or a fold, gets fresh names. Returns table
    * name per index table.
    */
  private def registerVersion(spark: org.apache.spark.sql.SparkSession, root: String,
                              dir: String, m: IndexManifest): Map[String, String] =
    registerLock.synchronized {
      val prefix = registrationPrefix(dir) + m.versionId.take(8)
      val segs = corpusIndex.committedSegments(dir)
      IndexTables.map { case (name, cols) =>
        val table = s"${prefix}_$name"
        val bases = m.carried.get(name).fold(Seq("base" -> s"$dir/$name"))(
          _.zipWithIndex.map { case (rel, i) => s"c$i" -> s"$root/$rel" })
        val parts = bases ++ segs.map(n => n -> s"$dir/ingest/$n/$name")
        val keys = cols.map(c => s"`$c`").mkString(", ")
        // located at the base partition: a carried table has no dir of
        // its own, and every scan reads the partition locations anyway
        spark.sql(s"""CREATE TABLE IF NOT EXISTS $table (${m.schemas(name)}, seg STRING)
          |USING PARQUET PARTITIONED BY (seg)
          |CLUSTERED BY ($keys) SORTED BY ($keys) INTO ${m.buckets} BUCKETS
          |LOCATION '${parts.head._2}'""".stripMargin)
        val known = spark.sessionState.catalog
          .listPartitionNames(org.apache.spark.sql.catalyst.TableIdentifier(table)).toSet
        val missing = parts.filterNot { case (p, _) => known(s"seg=$p") }
        if (missing.nonEmpty) {
          spark.sql(s"ALTER TABLE $table ADD IF NOT EXISTS " + missing.map {
            case (p, loc) => s"PARTITION (seg='$p') LOCATION '$loc'" }.mkString(" "))
          // a partitioned table is sized from catalog statistics; without
          // them the planner assumes a huge relation and stops broadcasting
          // a small index side
          spark.sql(s"ANALYZE TABLE $table COMPUTE STATISTICS NOSCAN")
        }
        name -> table
      }.toMap
    }

  private val registerLock = new Object

  /** Append newly ACCEPTED docs to the served version as ingest segment
    * `batchId` — the other half of the daily-ingest lifecycle:
    * [[incrementalDedupPrepared]] judges a batch against the index, and the
    * batch's `kept` docs join the corpus HERE, batch-sized, instead of
    * re-shingling/re-signing the whole corpus. Each segment table is
    * bucketed like the base, so the zero-corpus-side-exchange join
    * property survives appends — CorpusIndexSpec proves judgments against
    * an appended index match a fresh build over the unioned corpus.
    * Derivations use the index's recorded build params.
    *
    * Cap note: the width cap was applied at BUILD time; appended rows can
    * legitimately grow a bucket past `maxBucket` over many accepts. The
    * next [[compactCorpusDedupIndex]] re-caps; the batch-side cap in
    * [[incrementalDedupPrepared]] still bounds per-ingest fan-out
    * meanwhile.
    *
    * Exactly-once: the segment is complete-or-absent (`_SUCCESS` written
    * last, torn segments invisible to readers), and a batch already
    * applied — committed here or absorbed by a fold — is a no-op. A replay
    * of a torn append rewrites its segment. Holds the root's intake claim,
    * so a fold never enumerates segments while an append is between its
    * check and its commit. Refuses a root a streaming query owns
    * ([[graft.io.VersionedStore.intakeTrigger]]): it would share that
    * query's batch ids. Returns true when this call wrote the segment.
    */
  def appendToCorpusDedupIndex(accepted: DataFrame, textCol: String, idCol: String,
                               root: String, batchId: Long): Boolean =
    corpusIndex.withServedDir(root) { dir =>
      corpusIndex.intakeOwner(root).foreach(q => throw new IllegalStateException(
        s"corpus index at $root is fed by streaming query $q; a batch append " +
          "would share that query's batch ids"))
      appendSegment(accepted, textCol, idCol, dir, batchId)
    }

  /** [[appendToCorpusDedupIndex]] into version dir `dir`, for a caller
    * already holding the intake claim.
    */
  private[graft] def appendSegment(accepted: DataFrame, textCol: String, idCol: String,
                                   dir: String, batchId: Long): Boolean =
    if (corpusIndex.batchApplied(dir, batchId)) false
    else {
      val m = readManifest(dir)
      // pin the accepted rows once: `accepted` is typically a judgment
      // semi-join, which three table writes would otherwise re-run
      val acc = accepted.select(col(idCol).cast("long").as(idCol),
        col(textCol).cast("string").as(textCol)).localCheckpoint(true)
      try CacheScope.run {
        // the shingle table feeds the shingle write AND the band derivation
        val sh = CacheScope.persist(shingleHashTable(acc, textCol, idCol, m.params.n))
        val seg = corpusIndex.segmentDir(dir, batchId)
        val frames = tableFrames(CorpusDedupIndex(
          acc.select(col(idCol).as("cid"), textFingerprint(col(textCol)).as("_h")), sh,
          bandTable(minhashSignaturesFromShingles(sh, m.params.numHashes),
            m.params.bands, m.params.numHashes / m.params.bands)))
        IndexTables.foreach { case (name, cols) =>
          writeBucketed(frames(name), s"$seg/$name", cols, m.buckets)
        }
        graft.io.IndexMeta.writeString(s"$seg/_SUCCESS", "")
        true
      } finally acc.unpersist()
    }

  /** Fold the served version into the next one: re-apply the width cap to
    * the bands — appends legitimately grow buckets past `maxBucket` — and
    * absorb the committed segments. The bands are always rewritten (the
    * re-cap changes them). Fingerprints and shingles carry BY REFERENCE —
    * the new manifest names their base and segment dirs, no byte moves —
    * unless fragmented past `maxFilesPerBucket` files per bucket, when
    * they rewrite into one bucketed dir each: re-shuffling an unchanged
    * corpus-scale shingle store to re-cap a bands table would dominate the
    * maintenance job for zero gain, while many small per-append files tax
    * every later listing and scan. Copy-on-write under the intake claim:
    * appends wait, readers keep the old version until the pointer swap,
    * and the absorbed batch ids carry in the ledger, so a replay after any
    * number of folds is a no-op. Returns the dropped-buckets report ("no
    * silent caps"), lazy over the folded-from version — read it before
    * pruning that version.
    */
  def compactCorpusDedupIndex(spark: org.apache.spark.sql.SparkSession, root: String,
                              maxFilesPerBucket: Int = 4): DataFrame =
    corpusIndex.withServedDir(root) { from =>
      val m = readManifest(from)
      val idx = readCorpusIndexAt(spark, root, from)
      val segs = corpusIndex.committedSegments(from)
      def relative(path: String): String = path.stripPrefix(s"$root/")
      val carried = Seq("fingerprints", "shingles").map { name =>
        name -> (m.carried.getOrElse(name, Seq(relative(s"$from/$name"))) ++
          segs.map(n => relative(s"$from/ingest/$n/$name")))
      }.filter { case (_, dirs) =>
        dirs.map(d => dataFileCount(s"$root/$d")).sum <= m.buckets.toLong * maxFilesPerBucket
      }.toMap
      val bandKey = Seq("band_idx", "band_hash")
      corpusIndex.publishClaimed(root, Some(from))(v => writeVersion(
        idx.copy(bands = boundBuckets(idx.bands, bandKey, m.params.maxBucket, minWidth = 1L)),
        corpusIndex.versionDir(root, v), m.buckets, m.params, carried))
      oversizedBuckets(idx.bands, bandKey, m.params.maxBucket)
    }

  /** Non-hidden files below `dir`. */
  private def dataFileCount(dir: String): Int =
    graft.io.IndexMeta.fs(dir).listStatus(new org.apache.hadoop.fs.Path(dir))
      .filterNot(f => f.getPath.getName.startsWith("_") || f.getPath.getName.startsWith("."))
      .map(f => if (f.isDirectory) dataFileCount(f.getPath.toString) else 1).sum

  /** Retention GC ([[graft.io.VersionedStore.pruneVersions]]): keeps the
    * served version, the `keepLatest - 1` newest superseded ones, and every
    * version a kept one carries files from — and drops the pruned
    * versions' catalog registrations (never at read time: a running plan
    * over an older version lists its partitions through the catalog).
    * Returns the pruned versions.
    */
  def pruneCorpusDedupIndex(root: String, keepLatest: Int = 2): Seq[Int] = {
    val pruned = corpusIndex.pruneVersions(root, keepLatest)
    // their registrations now point at deleted dirs; the catalog is shared
    // by the context's sessions, so any session reaches every one of them
    org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession).foreach { spark =>
        val catalog = spark.sessionState.catalog
        registerLock.synchronized(pruned.foreach { v =>
          catalog.listTables(catalog.getCurrentDatabase,
              registrationPrefix(corpusIndex.versionDir(root, v)) + "*")
            .foreach(t => spark.sql(s"DROP TABLE IF EXISTS ${t.quotedString}"))
        })
      }
    pruned
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
                               maxBucket: Int = DefaultMaxBucket): DataFrame = {
    // an index built with different shingle n / signature count / banding
    // produces band hashes from a DIFFERENT hash family: the joins would
    // run fine and match (almost) nothing. When the index carries its
    // build params (buildCorpusDedupIndex result, or a read of a
    // persisted index), a mismatched ingest call is an error, not a
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
    // sized; released by the caller's CacheScope)
    val nfp = CacheScope.persist(
      newBatch.select(col(idCol).cast("long").as("nid"), col(textCol).as("_text"))
        .withColumn("_h", textFingerprint(col("_text"))))

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
    val shNew = CacheScope.persist(shingleHashTable(
      surv.select(col("nid").as(idCol), col("_text").as(textCol)), textCol, idCol, n))
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
    val candSh = CacheScope.persist(cand
      .join(shNew.select(col("doc_id").as("nid"), col("sg").as("sg_n")), Seq("nid")))
    val nearCorpus = candSh
      .join(index.shingles.select(col("doc_id").as("partner"), col("sg").as("sg_p")), Seq("partner"))
    val nearNew = candSh
      .join(shNew.select(col("doc_id").as("partner"), col("sg").as("sg_p")), Seq("partner"))
    val nearMatch = nearCorpus.unionByName(nearNew)
      .filter(jaccard(col("sg_n"), col("sg_p")) >= threshold)
      .groupBy("nid").agg(min("partner").as("match_id"))

    nfp.select("nid")
      .join(exactMatch.withColumn("status", lit("exact_dup")), Seq("nid"), "left")
      .join(nearMatch.withColumnRenamed("match_id", "_nm"), Seq("nid"), "left")
      .select(col("nid").as("new_id"),
        coalesce(col("status"), when(col("_nm").isNotNull, "near_dup").otherwise("kept")).as("status"),
        coalesce(col("match_id"), col("_nm")).as("match_id"))
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
