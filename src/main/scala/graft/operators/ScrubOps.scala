package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.CacheScope

/** Corpus scrubbing operators for a training-data pipeline: PII
  * redaction and C4/RefinedWeb-style line-level boilerplate removal.
  *
  * Both are built to run at 100 TB:
  *   - redaction is expression-only (regexp in whole-stage codegen, no
  *     shuffle — scan-side cost only);
  *   - line filtering shuffles lines once to count cross-corpus
  *     frequency, then removes the (small) frequent-line set from every
  *     document with a broadcastable anti-join.
  */
object ScrubOps {

  /** RE2-compatible patterns (no backrefs/lookaround) so the same regex
    * runs identically under Java regex (Spark) and RE2 (DuckDB oracle).
    */
  val emailPattern: String = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val phonePattern: String = "\\d{3}[- .]\\d{3,4}[- .]\\d{4}"
  val ipPattern: String = "\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}"

  /** Redact emails, phone numbers, and IPv4 addresses.
    *
    * Counts are measured on the raw text per pattern independently;
    * replacement is sequential email → phone → ip (documented order: an
    * address inside an already-redacted email does not double-count —
    * counts answer "what did the raw text contain", the clean text
    * answers "what survives"). Pure projection: codegen'd, no shuffle.
    */
  def redactPii(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val t = col(textCol)
    val clean =
      regexp_replace(
        regexp_replace(
          regexp_replace(t, emailPattern, "<EMAIL>"),
          phonePattern, "<PHONE>"),
        ipPattern, "<IP>")
    df.select(
      col(idCol).cast("long").as(idCol),
      regexp_count(t, lit(emailPattern)).cast("long").as("n_emails"),
      regexp_count(t, lit(phonePattern)).cast("long").as("n_phones"),
      regexp_count(t, lit(ipPattern)).cast("long").as("n_ips"),
      clean.as("text_clean"))
  }

  /** Span-level (substring) dedup: every fixed-length word span whose
    * corpus-wide occurrence count is ≥ `minCount` is removed — from
    * every document, at every covered word position (the simplified,
    * order-free variant of "deduplicating training data" substring
    * dedup; a keep-first variant needs a global occurrence order and is
    * a policy layer over the same coverage computation).
    *
    * Pipeline: explode (doc, start, spanHash) — one row per word, not
    * per word² — count span occurrences (map-side combinable), keep the
    * duplicated span set (small: duplication is the exception), explode
    * ONLY duplicated occurrences into covered positions, and rebuild
    * each text from its uncovered positions. Shuffles are keyed by span
    * hash and doc id; nothing is quadratic in corpus size.
    *
    * Spans are hashed with FNV-1a64 word hashes folded by the same
    * Horner polynomial as [[DedupOps.shingleHashesOfWordHashes]]:
    * collisions conflate spans at ~k²/2⁶⁴ probability — the same
    * accepted trade as the MinHash path.
    *
    * Output: (id, n_words, n_covered, text_clean) for every input doc;
    * with `emitWordHashes` an extra `wh_clean` array<long> of the
    * SURVIVING words' FNV-1a64 values ([[SpanHash.fnv1a64]], NOT
    * xxhash64 — shingles derived from wh_clean are only comparable to
    * tables built from the same kernel, e.g. via
    * [[DedupOps.shingleHashesOfWordHashes]] over wh_clean; joining them
    * against xxhash64-based tables like shingleTable output or the
    * corpus dedup index silently matches nothing), so a downstream
    * shingle consumer (the curation chain's near-dup stage) skips
    * re-tokenizing and re-hashing the cleaned text entirely.
    */
  /** One span-table row: 0-based start position + folded span hash. */
  final case class SpanEntry(start: Int, h: Long)

  /** Scala-side tokenize/hash kernel for [[spanDedup]] (and any caller
    * needing the identical tokenization off-Catalyst). These are NOT in
    * the Column DSL deliberately: an expression formulation of "hash
    * each word once, fold spans over slices of the hash array" is one
    * column-pruning pass away from Catalyst's single-reference inline
    * rule substituting the word-hash array's defining expression into
    * the per-span lambda — observed live as split() evaluating in the
    * innermost span loop, O(words²) per document. Higher-order
    * functions never enter whole-stage codegen anyway (they evaluate
    * interpreted), so a typed map gives up nothing and guarantees one
    * O(words·spanWords) pass immune to plan rewrites.
    */
  object SpanHash {
    /** Exactly DedupOps.normText + split: trim, ROOT-locale lower,
      * collapse \s+, split on single space (empty text → one "" token,
      * matching Spark's split semantics and the DuckDB oracle). The trim
      * strips SPACE characters only — Spark's trim() and DuckDB's trim()
      * strip ' ' (not \n/\t), while Java String.trim strips all chars
      * <= U+0020; using the latter would drop a leading "" token on
      * newline-framed text and shift every span position vs normText.
      */
    def tokenize(text: String): Array[String] = {
      val s = Option(text).getOrElse("")
      var from = 0
      var to = s.length
      while (from < to && s.charAt(from) == ' ') from += 1
      while (to > from && s.charAt(to - 1) == ' ') to -= 1
      s.substring(from, to).toLowerCase(java.util.Locale.ROOT)
        .replaceAll("\\s+", " ").split(" ", -1)
    }

    /** FNV-1a 64-bit over UTF-8 bytes — a deterministic 64-bit word
      * hash. Spans group by hash only (the oracle groups the span
      * STRINGS), so any fixed 64-bit function works; collisions conflate
      * spans at ~k²/2⁶⁴, the same accepted trade as the MinHash path.
      */
    def fnv1a64(s: String): Long = {
      var h = -3750763034362895579L // FNV offset basis 0xcbf29ce484222325
      val bytes = s.getBytes("UTF-8")
      var i = 0
      while (i < bytes.length) { h ^= (bytes(i) & 0xffL); h *= 1099511628211L; i += 1 }
      h
    }

    /** All k-word span hashes (Horner fold, same polynomial as
      * DedupOps.shingleHashesOfWordHashes); empty below k words.
      */
    def spanHashes(wh: Array[Long], k: Int): Seq[SpanEntry] =
      if (wh.length < k) Nil
      else (0 to wh.length - k).map { i =>
        var h = 0L; var j = 0
        while (j < k) { h = h * 1099511628211L + wh(i + j); j += 1 }
        SpanEntry(i, h)
      }
  }

  /** (id, wh) FNV-1a64 word-hash table via the SpanHash kernel — the
    * companion for consumers joining against wh_clean-derived shingles
    * (same tokenize + same hash family; see the wh_clean compatibility
    * warning on [[spanDedup]]'s docs).
    */
  def fnvWordHashTable(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(textCol).cast("string"))
      .as[(Long, String)]
      .map { case (id, text) =>
        (id, SpanHash.tokenize(text).map(SpanHash.fnv1a64).toSeq) }
      .toDF(idCol, "wh")
  }

  def spanDedup(df: DataFrame, textCol: String, idCol: String,
      spanWords: Int, minCount: Int = 2,
      emitWordHashes: Boolean = false): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // typed map (see SpanHash): tokenize + word-hash + span-fold in one
    // guaranteed-linear pass per document
    val ws = CacheScope.persist(df.select(col(idCol).cast("long"), col(textCol).cast("string"))
      .as[(Long, String)]
      .map { case (docId, text) =>
        val words = SpanHash.tokenize(text)
        val wh = words.map(SpanHash.fnv1a64)
        (docId, words.toSeq, wh.toSeq, SpanHash.spanHashes(wh, spanWords))
      }
      .toDF(idCol, "_ws", "_wh", "_spans"))

    val occ = ws.select(col(idCol), explode(col("_spans")).as("s"))
      .select(col(idCol), col("s.start"), col("s.h"))
    val dup = occ.groupBy("h").agg(count(lit(1)).as("n")).filter(col("n") >= minCount)
      .select("h")
    val covered = occ.join(dup, Seq("h"))
      .select(col(idCol), explode(sequence(col("start"), col("start") + (spanWords - 1))).as("pos"))
      .distinct()
      .groupBy(idCol).agg(sort_array(collect_set(col("pos"))).as("_cov"))

    val joined = ws.join(covered, Seq(idCol), "left")
      // size(NULL) is -1 under the non-ANSI legacy conf — normalize the
      // no-coverage case to an empty array before measuring it
      .withColumn("_cov", coalesce(col("_cov"), array().cast("array<int>")))
    // Scala UDFs, not interpreted zip_with/filter/transform chains: one
    // call per row vs per-element InternalRow copies (the HOF stack was
    // the hot frame in the live profile)
    val textClean = udf { (wsArr: Seq[String], cov: Seq[Int]) =>
      if (cov.isEmpty) wsArr.mkString(" ")
      else {
        val c = cov.toSet
        wsArr.iterator.zipWithIndex.collect { case (w, i) if !c(i) => w }.mkString(" ")
      }
    }
    val whClean = udf { (whArr: Seq[Long], cov: Seq[Int]) =>
      if (cov.isEmpty) whArr
      else { val c = cov.toSet
        whArr.iterator.zipWithIndex.collect { case (w, i) if !c(i) => w }.toSeq }
    }
    val base = Seq(col(idCol),
      size(col("_ws")).cast("long").as("n_words"),
      size(col("_cov")).cast("long").as("n_covered"),
      textClean(col("_ws"), col("_cov")).as("text_clean"))
    val cols = if (emitWordHashes)
      base :+ whClean(col("_wh"), col("_cov")).as("wh_clean") else base
    joined.select(cols: _*)
  }

  /** GPT-3-style decontamination SCRUB (Brown et al. 2020 Appendix C —
    * the "dirty window" variant): instead of DROPPING a training
    * document that shares an n-gram with the eval set (the
    * contaminationReport / curation-chain stance, which forfeits the
    * whole doc), remove the overlapping span PLUS `window` words on
    * each side and keep the rest. The published rationale: most
    * contamination is a quoted snippet inside an otherwise-clean doc,
    * and windowed excision preserves the clean mass.
    *
    * Semantics: eval docs (evalPred) contribute their distinct n-gram
    * spans as the dirty set; every train-doc occurrence of a dirty span
    * at position `start` covers word positions
    * [max(start−window, 0), min(start+n−1+window, n_words−1)]; covered
    * positions excise, survivors reassemble in order (the spanDedup
    * machinery — same tokenizer, same hash-only identity travel: dirty
    * spans cross the exchange as 8-byte Horner hashes, never strings,
    * the accepted ~k²/2⁻⁶⁴ collision trade; the oracle checks the
    * string-level small-SF regime).
    *
    * Scale shape: one linear typed pass per doc (tokenize + hash +
    * span-fold), the dirty set is eval-sized (broadcastable), the
    * coverage join keys on the span hash, and reassembly is one
    * doc-keyed groupBy — no train×eval pair blowup anywhere.
    *
    * Output: one row per TRAIN doc — (doc_id, n_words, n_covered,
    * text_clean); a fully-covered doc survives with empty text so the
    * caller decides (the lineFrequencyFilter convention).
    */
  def decontaminateScrub(df: DataFrame, textCol: String, idCol: String,
      evalPred: Column, n: Int = 5, window: Int = 10): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val ws = CacheScope.persist(df.select(col(idCol).cast("long"), evalPred,
        col(textCol).cast("string"))
      .as[(Long, Boolean, String)]
      .map { case (docId, isEval, text) =>
        val words = SpanHash.tokenize(text)
        val wh = words.map(SpanHash.fnv1a64)
        (docId, isEval, words.toSeq, SpanHash.spanHashes(wh, n))
      }
      .toDF("doc_id", "_is_eval", "_ws", "_spans"))
    val dirty = ws.filter(col("_is_eval"))
      .select(explode(col("_spans")).as("s"))
      .select(col("s.h").as("h")).distinct()
    val occ = ws.filter(!col("_is_eval"))
      .select(col("doc_id"), (size(col("_ws")) - 1).as("_last"),
        explode(col("_spans")).as("s"))
      .select(col("doc_id"), col("_last"), col("s.start"), col("s.h"))
    val covered = occ.join(dirty, Seq("h"))
      .select(col("doc_id"), explode(sequence(
        greatest(col("start") - window, lit(0)),
        least(col("start") + (n - 1) + window, col("_last")))).as("pos"))
      .distinct()
      .groupBy("doc_id").agg(sort_array(collect_set(col("pos"))).as("_cov"))
    val joined = ws.filter(!col("_is_eval"))
      .join(covered, Seq("doc_id"), "left")
      .withColumn("_cov", coalesce(col("_cov"), array().cast("array<int>")))
    val textClean = udf { (wsArr: Seq[String], cov: Seq[Int]) =>
      if (cov.isEmpty) wsArr.mkString(" ")
      else {
        val c = cov.toSet
        wsArr.iterator.zipWithIndex.collect { case (w, i) if !c(i) => w }.mkString(" ")
      }
    }
    joined.select(col("doc_id"),
      size(col("_ws")).cast("long").as("n_words"),
      size(col("_cov")).cast("long").as("n_covered"),
      textClean(col("_ws"), col("_cov")).as("text_clean"))
  }

  /** C4-style line-level boilerplate removal: a line that appears in
    * ≥ `minDocs` distinct documents is dropped from EVERY document
    * (navigation chrome, cookie banners, boilerplate headers), and the
    * surviving lines are reassembled in original order.
    *
    * Plan shape at scale: line IDENTITY travels as an xxhash64, never as
    * the line string — the frequency count is one hash-keyed map-side-
    * combinable aggregation (a (lh, id) row-distinct whose partial
    * aggregation collapses in-doc repeats map-side, so each doc
    * contributes each line hash once across the exchange), and the
    * anti-join key is the 8-byte hash. The frequent set is tiny relative
    * to the corpus (boilerplate by definition repeats) and hash-only, so
    * Spark/AQE broadcasts it; the only string-bearing shuffle left is
    * the reassembly groupBy, which moves each doc's surviving lines
    * once, keyed by the high-cardinality doc id. Collision note
    * (birthday bound, same accepted trade as the MinHash path): ~2⁻⁶⁴
    * per line PAIR means collisions are expected once the corpus passes
    * ~2³² distinct lines — at 100 TB a handful of innocent lines will be
    * conflated with boilerplate and dropped; the string-level oracle
    * checks the small-SF regime where this is absent.
    *
    * Output: (id, n_lines, n_kept, text_clean), one row per input doc —
    * docs whose every line is boilerplate survive with empty text so the
    * caller decides whether to drop them.
    */
  def lineFrequencyFilter(df: DataFrame, textCol: String, idCol: String,
      minDocs: Int): DataFrame = {
    val id = col(idCol).cast("long").as(idCol)
    val lines = df.select(id, posexplode(split(col(textCol), "\n")).as(Seq("pos", "line")))
      .withColumn("lh", xxhash64(col("line")))

    // (lh, id) distinct then count — the same two-exchange shape as the
    // string version but keyed by the 8-byte hash (computed in the
    // codegen'd projection above, NOT inside a higher-order lambda,
    // which would evaluate interpreted); the partial distinct shrinks
    // in-doc repeats map-side and no string ever enters an exchange on
    // this leg
    val frequent = lines.select(col("lh"), col(idCol)).distinct()
      .groupBy("lh").agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
      .select("lh")

    val kept = lines.join(frequent, Seq("lh"), "left_anti")

    val counts = df.select(id, size(split(col(textCol), "\n")).cast("long").as("n_lines"))
    counts.join(
        kept.groupBy(idCol).agg(
          count(lit(1)).cast("long").as("n_kept"),
          array_join(transform(array_sort(collect_list(struct(col("pos"), col("line")))),
            s => s.getField("line")), "\n").as("text_clean")),
        Seq(idCol), "left")
      .select(col(idCol), col("n_lines"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("text_clean"), lit("")).as("text_clean"))
  }
}
