package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.CacheScope
import graft.functions.Fns

/** Text-analysis operators for a training-data pipeline: language ID
  * (marker-word heuristic), quality scoring, token counting, document
  * fingerprinting. All expression-only → whole-stage codegen, trivially
  * distributed (no per-doc state).
  */
object TextOps {

  /** Marker-word lists per language. Tiny on purpose: broadcast as
    * literals into the plan; swap for real frequency tables in production.
    */
  val markers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "is"),
    "es" -> Seq("el", "la", "de", "que", "y"),
    "fr" -> Seq("le", "la", "et", "les", "des"),
    "de" -> Seq("der", "die", "und", "das", "ist"),
    "zh" -> Seq("的", "是", "了", "在", "我"))

  private def words(text: Column): Column = split(DedupOps.normText(text), " ")

  /** Count of words belonging to a marker list (with multiplicity). */
  def markerCount(text: Column, lang: String): Column =
    size(filter(words(text), w => w.isin(markers(lang): _*)))

  private lazy val langsSorted: Seq[String] = markers.keys.toSeq.sorted

  /** Per-marker-word contribution vector over the sorted language list —
    * a word can mark several languages ("la" is both es and fr), so the
    * lookup value is a count vector, not a single language.
    */
  private lazy val markerVectors: Seq[(String, Seq[Int])] =
    markers.values.flatten.toSeq.distinct.sorted.map { w =>
      w -> langsSorted.map(l => if (markers(l).contains(w)) 1 else 0)
    }

  /** Heuristic language ID: argmax marker count, alphabetical tie-break,
    * "und" (undetermined) when no marker hits.
    *
    * Single pass over the words array: each word resolves to its
    * contribution vector through one literal when-chain (the broadcast
    * map), vectors fold with zip_with, and the argmax runs in the
    * aggregate's finish lambda so the counts bind once. The previous
    * shape re-traversed the array once per language.
    */
  def langId(text: Column): Column = {
    val zero = array(langsSorted.map(_ => lit(0)): _*)
    val langArr = array(langsSorted.map(lit): _*)
    def contrib(w: Column): Column =
      markerVectors.foldRight(zero) { case ((mw, vec), acc) =>
        when(w === mw, array(vec.map(lit): _*)).otherwise(acc)
      }
    aggregate(
      words(text),
      zero,
      (acc, w) => zip_with(acc, contrib(w), _ + _),
      acc => {
        val best = array_max(acc)
        when(best > 0, element_at(langArr, array_position(acc, best).cast("int")))
          .otherwise(lit("und"))
      })
  }

  /** Quality metrics + a composite score in [0,1]:
    * word count band, mean word length band, distinct-word ratio.
    * Integer-derived doubles only → deterministic cross-engine.
    */
  def qualityMetrics(df: DataFrame, textCol: String): DataFrame = {
    val w = words(col(textCol))
    val nWords = size(w)
    val nDistinct = size(array_distinct(w))
    val nChars = length(col(textCol))
    df.withColumn("n_words", nWords.cast("long"))
      .withColumn("n_chars", nChars.cast("long"))
      .withColumn("distinct_ratio", nDistinct.cast("double") / nWords)
      .withColumn("mean_word_len",
        (nChars - (nWords - 1)).cast("double") / nWords)
      .withColumn("quality_score",
        (when(nWords.between(20, 1000), lit(0.5)).otherwise(lit(0.0)) +
          when((nDistinct.cast("double") / nWords) >= 0.3, lit(0.5)).otherwise(lit(0.0))))
      .withColumn("quality_band",
        when(col("quality_score") >= 1.0, "high")
          .when(col("quality_score") >= 0.5, "medium")
          .otherwise("low"))
  }

  /** Per-document repetition stats (Gopher-style quality filter): word
    * and bigram totals vs distinct counts, plus a `repetitive` flag when
    * the duplicate-word fraction exceeds 30%. Counts stay BIGINT and the
    * threshold compares in integer arithmetic ((total-distinct)*10 >
    * total*3) — no floats cross the engine boundary. Expression-only,
    * whole-stage codegen, no shuffle: the filter runs scan-side at any
    * corpus size.
    */
  def repetitionStats(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    // words array materialized in its own projection: no lambda-CSE in
    // codegen, so the bigram transform would otherwise re-tokenize per
    // n-gram (see DedupOps.shinglesOfWords)
    val w = col("_ws")
    df.select(col(idCol).cast("long").as(idCol), words(col(textCol)).as("_ws"))
      .filter(size(w) >= 2)
      .select(col(idCol),
        size(w).cast("long").as("n_words"),
        size(array_distinct(w)).cast("long").as("n_distinct_words"),
        (size(w) - 1).cast("long").as("n_bigrams"),
        size(DedupOps.shinglesOfWords(w, 2)).cast("long").as("n_distinct_bigrams"),
        ((size(w) - size(array_distinct(w))) * 10 > size(w) * 3).as("repetitive"))
  }

  /** Global top-k word n-grams with counts (corpus statistics / dataset
    * cards). Deterministic order: count desc, gram asc. The groupBy does
    * map-side partial aggregation (n-gram space ≪ corpus size), and the
    * orderBy+limit plans as TakeOrderedAndProject — per-partition top-k
    * then a k-row driver merge, never a full sort of the gram table.
    */
  def topNgrams(df: DataFrame, textCol: String, n: Int, k: Int): DataFrame = {
    // materialized words array (lambda-CSE, as above), n-grams WITH
    // multiplicity (corpus counts, unlike the distinct dedup shingles)
    val ws = col("_ws")
    val grams = transform(
      when(size(ws) >= n, sequence(lit(0), size(ws) - n))
        .otherwise(array().cast("array<int>")),
      i => array_join(slice(ws, i + 1, lit(n)), " "))
    df.select(words(col(textCol)).as("_ws"))
      .select(explode(grams).as("gram"))
      .groupBy("gram").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("gram").asc)
      .limit(k)
  }

  /** DSIR-style hashed importance scores (Xie et al. 2023,
    * arXiv:2302.03169): score every raw document by how target-like its
    * hashed bag-of-words is, the published recipe for selecting
    * pretraining data that matches a small high-quality target corpus.
    *
    * Features are word unigrams hashed into 256 buckets via the
    * engine-portable sha256-prefix gate (the q62 convention: the bucket
    * IS the first two hex chars under a dedicated salt, so no hex→int
    * conversion has to agree across engines). Per-bucket add-one-
    * smoothed log-probability ratios
    * λ_b = ln( (t_b+1)·(R+256) / ((r_b+1)·(T+256)) )
    * (t_b/r_b = bucket counts in the target/raw side, T/R the totals)
    * quantize IMMEDIATELY to integer micro-nats — floor(λ·10⁶) as a
    * long, ONE libm call per bucket (256 total, never per occurrence;
    * the q131 convention) — so the per-doc sum Σ_occurrences λq is
    * exact integer arithmetic any engine reproduces. Each ratio FACTOR
    * converts to double before multiplying (a Long product would wrap
    * at 100 TB token counts): every factor is an exact integer in a
    * double, and the product and division each round once under IEEE,
    * identically cross-engine; negative λq is fine because the
    * score is a SUM, never an integer mean.
    *
    * Scale shape: ONE token-explode pass builds the model (a combinable
    * 256-row count aggregate — the model pass runs eagerly and collects
    * 256 rows to the driver, the kmeansTrain convention: model-sized
    * stats, not data); the trained λq map then rides into the scoring
    * pass as a broadcast literal, so scoring is a narrow projection +
    * ONE data-sized shuffle (the per-doc sum, map-side combined). No
    * join keys on raw tokens anywhere, so Zipf skew can't concentrate a
    * reducer: the hot head spreads over the hash range.
    *
    * Returns (doc_id, dsir_score, n_toks) for raw (non-target) docs
    * with ≥1 token; selection downstream is a filter or top-k on
    * dsir_score.
    */
  def dsirScores(df: DataFrame, textCol: String, idCol: String,
      isTarget: Column): DataFrame = {
    val toks = df.select(col(idCol).cast("long").as("doc_id"),
        isTarget.as("is_target"),
        explode(words(col(textCol))).as("tk"))
      .filter(col("tk") =!= "")
      .withColumn("bucket",
        substring(sha2(concat(lit("graft-dsir:"), col("tk")), 256), 1, 2))
    val counts = toks.groupBy("bucket").agg(
      sum(when(col("is_target"), 1L).otherwise(0L)).as("t_b"),
      sum(when(col("is_target"), 0L).otherwise(1L)).as("r_b"))
      .collect()
    val tt = counts.map(_.getLong(1)).sum
    val rt = counts.map(_.getLong(2)).sum
    // λ quantizes on the driver with the SAME libm the executors run
    // (java.lang.Math.log); each FACTOR converts to double before the
    // multiply — at 100 TB scale (rt ~ 2e13 occurrences, hot-bucket
    // t_b ~ 1e6+) the Long product would silently wrap past
    // Long.MaxValue, while the double product rounds once under IEEE,
    // identically on any engine (each factor is an exact integer ≪ 2⁶³
    // in a double; the oracle mirrors the same factor-wise form). One
    // log call per occupied bucket
    val lamQ: Map[String, Long] = counts.map { r =>
      r.getString(0) -> math.floor(math.log(
        ((r.getLong(1) + 1).toDouble * (rt + 256).toDouble) /
          ((r.getLong(2) + 1).toDouble * (tt + 256).toDouble)) * 1e6).toLong
    }.toMap
    toks.filter(!col("is_target"))
      .withColumn("lam_q", element_at(typedlit(lamQ), col("bucket")))
      .groupBy("doc_id")
      .agg(sum(col("lam_q")).as("dsir_score"), count(lit(1)).as("n_toks"))
  }

  /** Trained quality classifier — the GPT-3/LLaMA-pipeline recipe
    * (Brown et al. 2020 §A; a fastText-style linear classifier): train
    * logistic regression to separate a small high-quality target set
    * from the raw corpus over hashed bag-of-words features, then score
    * every raw document by its margin. The discriminative complement
    * of [[dsirScores]] (generative importance ratios) — same feature
    * space, different model.
    *
    * Exactness contract (what lets a DuckDB oracle replay the TRAINED
    * model): binary features over the 256 sha256-prefix buckets (q62
    * convention, salt `graft-qc:`); weights are integer micro-units
    * starting at 0; each full-batch step computes per-doc margins
    * m_d = Σ_{b∈d} w_b (exact longs), per-doc probability
    * p̂_d = floor(10⁶ / (1 + exp(−m_d/10⁶))) — ONE libm call per doc
    * per step, quantized immediately, the q131 convention — residual
    * r_d = p̂_d − y_d·10⁶ (exact), gradient g_b = Σ_{d∋b} r_d (exact),
    * and the update w_b ← w_b − trunc(η·g_b / n) in driver-side Long
    * arithmetic (η = [[QcEtaNum]], truncating division — the oracle
    * mirrors with the q76 CASE). Gradients stay within Long: g_b ≤
    * n·10⁶, so η·g_b needs n ≤ ~2·10¹² docs.
    *
    * Scale shape (r20): features live at DOC grain — one groupBy(doc)
    * with collect_set(bucket) IS the binary-feature distinct (≤256
    * two-char ids per doc), built once and persisted. Each of the
    * `steps` epochs is then a MAP-ONLY pass over that cached doc-sized
    * frame (margin = aggregate() over the bucket set with the 256
    * weights as a map literal, residual in the same projection) plus a
    * 256-key partial aggregation for the gradient — zero data-sized
    * exchanges and zero joins per epoch, where the previous shape
    * re-shuffled the (doc, bucket) table twice per epoch (margin
    * groupBy + gradient join) and once more for the final margins.
    * Per-epoch driver traffic stays 256 rows (the kmeansTrain stance).
    * No join keys on raw tokens. Bit-identical: Long sums over the
    * same per-doc bucket sets are order-independent, and the one libm
    * exp() per doc per step is the same expression. Returns
    * (doc_id, margin_q, predicted_target) for raw docs; the margins read
    * the cached feature table, which the caller's [[CacheScope]] releases.
    */
  val QcEtaNum = 4L

  def qualityClassifier(df: DataFrame, textCol: String, idCol: String,
      isTarget: Column, steps: Int = 3): DataFrame = {
    // collect_set IS the binary-feature distinct: the set of occupied
    // buckets per doc (≤256 two-char ids), deduplicated map-side under
    // the one groupBy — the old explode→distinct (doc, bucket) table
    // at doc grain
    val feat = CacheScope.persist(df.select(col(idCol).cast("long").as("doc_id"),
        isTarget.as("is_target"),
        explode(words(col(textCol))).as("tk"))
      .filter(col("tk") =!= "")
      .select(col("doc_id"), col("is_target"),
        substring(sha2(concat(lit("graft-qc:"), col("tk")), 256), 1, 2).as("bucket"))
      .groupBy("doc_id")
      .agg(collect_set(col("bucket")).as("bs"),
        first(col("is_target")).as("is_target")))
    val n = feat.count()
    require(n > 0, "qualityClassifier: no documents with tokens")
    val occupied = feat.select(explode(col("bs")).as("bucket")).distinct()
      .collect().map(_.getString(0))
    var w: Map[String, Long] = occupied.map(_ -> 0L).toMap
    val yq = when(col("is_target"), lit(1000000L)).otherwise(lit(0L))
    // margin over the doc's bucket set: a Long fold in set order — sums
    // of exact longs are order-independent, so this equals the old
    // groupBy(doc_id).sum(wq) bit for bit; every bucket in bs is a key
    // of wm by construction (occupied derives from the same sets), and
    // the coalesce keeps the OLD sum(wq) null semantics (an unseen
    // bucket contributes weight 0) instead of null-poisoning the fold
    // if a recomputed uncached frame ever drifts from the collected
    // occupied set
    def marginOf(wm: Map[String, Long]): Column =
      aggregate(col("bs"), lit(0L),
        (acc, b) => acc + coalesce(element_at(typedlit(wm), b), lit(0L)))
    for (_ <- 1 to steps) {
      // one map-only projection computes margin AND residual per doc;
      // the gradient is the only exchange, 256 keys wide
      val resid = feat.select(col("bs"),
        (floor(lit(1000000.0) / (lit(1.0) + exp(-marginOf(w).cast("double") / lit(1000000.0))))
          .cast("long") - yq).as("r"))
      val grad = resid.select(explode(col("bs")).as("bucket"), col("r"))
        .groupBy("bucket").agg(sum("r").as("g"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      w = w.map { case (b, wb) => b -> (wb - grad.getOrElse(b, 0L) * QcEtaNum / n) }
    }
    feat.filter(!col("is_target"))
      .select(col("doc_id"), marginOf(w).as("margin_q"))
      .withColumn("predicted_target", col("margin_q") > 0L)
  }

  /** Bigram language-model surprisal — the CCNet-style quality signal:
    * score every document by how surprising its word transitions are
    * under a bigram model TRAINED ON THE CORPUS ITSELF (boilerplate and
    * fluent prose score low; mangled extractions, wordlists and
    * lorem-ipsum tails score high — the filter keeps/buckets by the
    * score downstream).
    *
    * Model: conditional MLE with add-one smoothing over the corpus
    * vocabulary, p(w2|w1) = (c(w1,w2)+1) / (c1(w1)+V), where c1 counts
    * bigram STARTS (the proper denominator) and V is the distinct-token
    * count. Per-bigram surprisal quantizes IMMEDIATELY —
    * floor(-ln(p)·10⁶) as an exact long, the BM25 convention — so the
    * per-doc SUM is exact integer arithmetic and the DuckDB oracle
    * reproduces it bit-for-bit (a sum of raw doubles would accumulate
    * 1-ulp libm divergence across hundreds of terms). All contributions
    * are non-negative, so the integer mean divides identically on both
    * engines (negative integer division truncates on Spark but floors
    * on DuckDB — the convention dodges that entirely).
    *
    * Scale shape: two combinable count aggregates (bigram and start
    * vocab — sized by vocabulary, not corpus), a shuffle join of the
    * doc bigrams against each on its own key, one broadcast scalar (V),
    * and a per-doc sum. No corpus self-join, no window.
    *
    * Skew note: the per-occurrence joins key on raw bigrams/unigrams,
    * and natural text is Zipf — at corpus scale the head of the curve
    * ("of the") concentrates a large share of ALL bigram occurrences
    * on a handful of reducer keys. AQE's skew-join split cannot fire
    * here (the count side reuses its aggregation exchange, so the join
    * doesn't match the two-shuffle-stage pattern the optimizer
    * rewrites), so `saltBuckets > 1` is the scale path: both joins run
    * through [[SkewOps.saltedJoin]] — the occurrence side's hot key
    * spreads over `saltBuckets` sub-keys and the vocabulary-sized count
    * tables replicate ×buckets — with bit-identical output (same
    * arithmetic, different routing; TextStatsSpec pins equality under
    * a planted-Zipf fixture). The default 0 keeps the plain shape the
    * q131 oracle and plan pin watch.
    */
  def bigramSurprisal(df: DataFrame, textCol: String, idCol: String,
                      saltBuckets: Int = 0): DataFrame = {
    val ws = col("_ws")
    val grams = transform(sequence(lit(0), size(ws) - 2),
      i => array_join(slice(ws, i + 1, lit(2)), " "))
    val big = df.select(col(idCol).cast("long").as("doc_id"), words(col(textCol)).as("_ws"))
      .filter(size(ws) >= 2)
      .select(col("doc_id"), explode(grams).as("gram"))
    val c12 = big.groupBy("gram").agg(count(lit(1)).as("c12"))
    val c1 = big.select(split(col("gram"), " ").getItem(0).as("w1"))
      .groupBy("w1").agg(count(lit(1)).as("c1"))
    val vdf = df.select(explode(words(col(textCol))).as("tk"))
      .filter(col("tk") =!= "")
      .agg(countDistinct(col("tk")).as("vocab"))
    val p = (col("c12") + 1).cast("double") / (col("c1") + col("vocab")).cast("double")
    val joined =
      if (saltBuckets <= 1)
        big.join(c12, "gram")
          .withColumn("w1", split(col("gram"), " ").getItem(0))
          .join(c1, "w1")
      else
        SkewOps.saltedJoin(
          SkewOps.saltedJoin(big, c12, Seq("gram"), saltBuckets)
            .withColumn("w1", split(col("gram"), " ").getItem(0)),
          c1, Seq("w1"), saltBuckets)
    joined
      .crossJoin(broadcast(vdf))
      .withColumn("q", floor((-log(p)) * lit(1000000.0)).cast("long"))
      .groupBy("doc_id")
      .agg(sum(col("q")).as("surprisal"), count(lit(1)).as("n_bigrams"))
      .withColumn("avg_q", expr("surprisal div n_bigrams"))
  }

  /** Gopher-style document quality gate: several independent rules, each
    * reported as its own flag plus an overall verdict and the ordered
    * list of failed-rule names (the audit trail a curation pipeline
    * stores alongside the drop decision).
    *
    * All thresholds compare in integer arithmetic — no float crosses the
    * engine boundary — and the operator is expression-only: it runs
    * scan-side at any corpus size with zero shuffles.
    *
    * Rules (names in the reasons list, in this order):
    *   - `too_short` / `too_long`: word count outside [minWords, maxWords]
    *   - `word_len`: mean word length outside [3, 10] chars
    *     (3·n_words ≤ n_word_chars ≤ 10·n_words, where n_word_chars
    *     counts non-space chars of the normalized text)
    *   - `repetitive`: distinct-word ratio < 30% (duplicate fraction > 70%)
    *   - `no_stopwords`: fewer than `minStopwords` stopword hits
    */
  /** Ordered failed-rule names for a words-array column — the shared
    * kernel of [[gopherQuality]] and the curation chain's gate.
    */
  def gopherFailReasons(ws: Column,
      stopwords: Seq[String] = markers("en"),
      minWords: Int = 15, maxWords: Int = 10000,
      minStopwords: Int = 2): Column = {
    val nWords = size(ws).cast("long")
    val nDistinct = size(array_distinct(ws)).cast("long")
    // normalized text = words joined by single spaces, so word chars =
    // chars - (words - 1) separators
    val nWordChars = (length(array_join(ws, " ")) - (size(ws) - 1)).cast("long")
    val nStop = size(filter(ws, w => w.isin(stopwords: _*))).cast("long")
    filter(
      array(
        when(nWords < minWords, "too_short"),
        when(nWords > maxWords, "too_long"),
        when(nWordChars < nWords * 3 || nWordChars > nWords * 10, "word_len"),
        when((nWords - nDistinct) * 10 > nWords * 7, "repetitive"),
        when(nStop < minStopwords, "no_stopwords")),
      r => r.isNotNull)
  }

  def gopherQuality(df: DataFrame, textCol: String, idCol: String,
      stopwords: Seq[String] = markers("en"),
      minWords: Int = 15, maxWords: Int = 10000,
      minStopwords: Int = 2): DataFrame = {
    val ws = col("_ws")
    val nWords = size(ws).cast("long")
    val nDistinct = size(array_distinct(ws)).cast("long")
    val nWordChars = (length(array_join(ws, " ")) - (size(ws) - 1)).cast("long")
    val nStop = size(filter(ws, w => w.isin(stopwords: _*))).cast("long")
    val reasons = gopherFailReasons(ws, stopwords, minWords, maxWords, minStopwords)

    df.select(col(idCol).cast("long").as(idCol), words(col(textCol)).as("_ws"))
      .select(col(idCol),
        nWords.as("n_words"),
        nDistinct.as("n_distinct_words"),
        nWordChars.as("n_word_chars"),
        nStop.as("n_stopwords"),
        (size(reasons) === 0).as("pass"),
        array_join(reasons, ",").as("fail_reasons"))
  }

  /** Document fingerprint: sha256 of normalized text (exact identity) —
    * the key for exact dedupe and incremental skip logic.
    */
  def fingerprint(text: Column): Column = DedupOps.textFingerprint(text)

  /** Token count re-export (BPE-ish regex proxy). */
  def tokenCount(text: Column): Column = Fns.tokenCount(text)

  /** Deterministic STUB text encoder: fixed-dim Array[Double] from
    * strided character sampling — dim `i` reads the character at
    * `(i·31 + 7) mod len` and maps its CODE POINT through cp/255 − 0.5
    * (both Spark's and DuckDB's `ascii` return the first code point, so
    * parity holds for any input; the value is bounded to [−0.5, 0.5]
    * only for Latin-1 text — code point 255 (ÿ) lands exactly on 0.5,
    * so the bound is closed — and a multi-byte code point lands above
    * it, deterministically on both engines). The text twin of
    * [[MultimodalOps.featureExtract]]'s byte-sampling stub, standing in
    * for a sentence-transformer; the Spark-side plumbing (pure codegen
    * projection, array<double> column shape the ANN/VectorIndex family
    * consumes, downstream composition) is real, and unlike a model the
    * stub is ORACLE-EXPRESSIBLE — DuckDB re-derives the exact vectors
    * (ascii/substr/list_transform), so chunk-level retrieval lands
    * under the hash gate (q150) instead of a rows-only check. All
    * arithmetic is IEEE double (int/255.0 − 0.5), bit-identical across
    * engines; callers quantize via the floor(x·10⁶) convention.
    * Requires non-empty text (the chunker already filters blanks).
    */
  def embedStub(text: Column, dim: Int): Column =
    transform(sequence(lit(0), lit(dim - 1)), i =>
      ascii(text.substr(pmod(i * 31 + 7, length(text)) + 1, lit(1)))
        .cast("double") / 255.0 - 0.5)

  /** Sliding-window document chunking: the doc→chunk step every
    * embedding/retrieval/training pipeline runs before vectors exist
    * (chunks are what the ANN/SemDeDup families index). Tokens are the
    * family's whitespace words over [[DedupOps.normText]] (so chunk
    * boundaries are engine-reproducible); chunk `i` covers tokens
    * `[i·step, i·step + window)` with `step = window − overlap`, and a
    * document emits `max(1, ⌈(n − overlap) / step⌉)` chunks — every
    * token is covered, consecutive chunks share `overlap` tokens, a
    * short document yields exactly one chunk, and the tail chunk may
    * run short (never silently dropped). Blank documents are filtered:
    * a chunker that emits empty chunks poisons every stage downstream.
    *
    * Scale: a pure per-row projection + explode — zero exchange, zero
    * join, whole-stage codegen end to end (ChunkOpsSpec pins the
    * exchange-free executed plan). At 100 TB the chunker is a map-only
    * pass whose output partitioning inherits the scan's.
    *
    * Returns (doc_id, chunk_id, n_tokens, chunk_text).
    */
  def chunkWindows(df: DataFrame, textCol: String, idCol: String,
                   window: Int, overlap: Int): DataFrame = {
    require(window > 0 && overlap >= 0 && overlap < window,
      s"need 0 <= overlap < window, got window=$window overlap=$overlap")
    val step = window - overlap
    df.filter(length(trim(col(textCol))) > 0)
      .select(col(idCol).cast("long").as("doc_id"),
        words(col(textCol)).as("ws"))
      .withColumn("n", size(col("ws")))
      .select(col("doc_id"), col("ws"),
        explode(sequence(lit(0L),
          greatest(ceil((col("n") - lit(overlap)) / lit(step.toDouble))
            .cast("long"), lit(1L)) - 1L)).as("chunk_id"))
      .withColumn("chunk", slice(col("ws"),
        (col("chunk_id") * step + 1L).cast("int"), lit(window)))
      .select(col("doc_id"), col("chunk_id"),
        size(col("chunk")).cast("long").as("n_tokens"),
        array_join(col("chunk"), " ").as("chunk_text"))
  }
}
