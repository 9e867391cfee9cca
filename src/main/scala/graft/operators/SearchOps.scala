package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Keyword retrieval for a training-data pipeline: BM25 scoring over an
  * inverted-postings view of the corpus, plus reciprocal-rank fusion for
  * hybrid (keyword + vector) retrieval.
  *
  * The reference has no keyword-search operator; this is part of the
  * beyond-reference LLM-pipeline tier (near-dup mining, decontamination
  * and eval-set leakage checks all want "which training docs score high
  * for this query" in BOTH lexical and embedding space).
  *
  * Scale design (100 TB):
  *  - Tokenization is the corpus-wide [[DedupOps.normText]] convention —
  *    expression-only, whole-stage codegen, no per-doc state.
  *  - Postings are a (term, doc) groupBy with map-side partial counts.
  *  - The query workload is broadcast; postings are pruned to query
  *    terms by a broadcast semi-join BEFORE any per-term statistics, so
  *    corpus-wide work is one scan regardless of query count.
  *  - df(term) is computed from the pruned postings (identical to the
  *    full-corpus value: pruning filters whole terms, never docs).
  *  - Per-term contributions are quantized to longs (floor(x·1e6)) and
  *    summed as integers — commutative and exact, so scores are
  *    independent of Spark's aggregation order and bit-identical to any
  *    other engine evaluating the same per-term double expression.
  *  - The final per-query top-k runs as a bounded insertion inside one
  *    [[org.apache.spark.sql.KeyValueGroupedDataset.flatMapGroups]] pass
  *    (O(k) memory per query), never a sort of the full candidate set —
  *    a common query term can make the candidate set the whole corpus.
  */
object SearchOps {

  private def words(text: Column): Column =
    filter(split(DedupOps.normText(text), " "), w => w =!= "")

  /** Tokenized docs: (doc_id long, ws array<string>), empty docs dropped. */
  def tokenized(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs.select(col(idCol).cast("long").as("doc_id"), words(col(textCol)).as("ws"))
      .filter(size(col("ws")) >= 1)

  /** Deterministic query workload derived from the corpus itself: every
    * `everyNth`-th doc contributes the distinct terms among its first
    * `prefixTokens` tokens. Returns (query_id long, term string).
    */
  def derivedQueries(docs: DataFrame, textCol: String, idCol: String,
                     everyNth: Int, prefixTokens: Int): DataFrame =
    tokenized(docs.filter(col(idCol) % everyNth === 0), textCol, idCol)
      .select(col("doc_id").as("query_id"),
        explode(array_distinct(slice(col("ws"), 1, prefixTokens))).as("term"))

  /** The one BM25 contribution expression, shared by the in-memory and
    * prepared paths so their scores are definitionally identical (and
    * both mirror the oracle SQL tree node for node).
    */
  private def bm25Contrib(tf: Column, df: Column, dl: Column,
                          nDocs: Column, totalLen: Column,
                          k1: Double, b: Double): Column =
    floor(log(((nDocs - df) + lit(0.5)) / (df + lit(0.5)) + lit(1.0))
      * ((tf * lit(k1 + 1.0)) /
         (tf + lit(k1) * (lit(1.0 - b) + lit(b) * ((dl * nDocs) / totalLen))))
      * lit(1000000.0)).cast("long")

  /** BM25 top-k per query. `queries` is (query_id, term) — duplicate
    * terms within a query are collapsed (standard bag-of-terms BM25 with
    * unit query tf). Returns (query_id, doc_id, score long, rank long),
    * rank 1..topK by (score desc, doc_id asc).
    *
    * The score is the integer sum of per-term contributions
    * floor(1e6 · idf(t) · tfNorm(t, d)) with the Robertson/Sparck-Jones
    * plus-one idf: ln(((N − df + 0.5) / (df + 0.5)) + 1) — always
    * positive, so pruned candidates can only lose by absence, and the
    * bounded top-k needs no negative-score handling.
    *
    * `excludeSelf` drops doc_id == query_id rows (for derived-from-corpus
    * workloads where the query doc itself is a degenerate hit).
    *
    * `maxDfFrac` is the stop-word skew guard (the bucket-cap convention
    * of the minhash family, [[DedupOps]]): a query term matching more
    * than that fraction of the corpus is DROPPED from scoring, with the
    * drop logged — its idf is already near zero, so the lost
    * contribution is negligible, while its candidate mass is
    * corpus-sized and would otherwise flood the score aggregation. Here
    * the capped term's postings are still scanned once (df is a
    * map-side-combinable count — cheap even for a stop word) but its
    * rows are eliminated at the dft join, before scoring and top-k; the
    * INDEXED path ([[bm25TopKIndexed]]) does better and never scans
    * them at all (df is precomputed in termstats).
    */
  def bm25TopK(docs: DataFrame, textCol: String, idCol: String,
               queries: DataFrame, topK: Int,
               k1: Double = 1.2, b: Double = 0.75,
               excludeSelf: Boolean = false,
               maxDfFrac: Option[Double] = None,
               maxQueryTerms: Long = defaultMaxQueryTerms): DataFrame = {
    guardQueryWorkload(queries, "bm25TopK", maxQueryTerms)
    val toks = tokenized(docs, textCol, idCol)
    // two corpus scalars; exact in double (counts and integer sums < 2^53)
    val stats = toks.select(size(col("ws")).cast("double").as("dl"))
      .agg(count(lit(1)).cast("double").as("n_docs"), sum(col("dl")).as("total_len"))

    val qterms = queries.select(col("query_id").cast("long").as("query_id"),
      col("term")).distinct()

    // postings CARRY the doc length (constant per doc, so max() under the
    // same groupBy) — no corpus-sized doc-length join downstream.
    // The broadcast query-vocabulary prune sits BELOW the (term, doc)
    // groupBy: the tf exchange then carries only MATCHED occurrences,
    // not the whole corpus vocabulary (r20, guide §2.3 "project/filter
    // before the exchange" — the prune used to join above the groupBy,
    // so the partial-agg exchange shuffled every (term, doc) pair in
    // the corpus to keep a few hundred query terms). Bit-identical: the
    // join key IS the groupBy key, so dropping whole terms early never
    // changes tf/dl/df of the survivors.
    val cand = toks.select(col("doc_id"), size(col("ws")).cast("double").as("dl"),
        explode(col("ws")).as("term"))
      .join(broadcast(qterms.select("term").distinct()), "term")
      .groupBy("term", "doc_id")
      .agg(count(lit(1)).cast("double").as("tf"), max(col("dl")).as("dl"))
    val dft0 = cand.groupBy("term").agg(count(lit(1)).cast("double").as("df"))
    val dft = maxDfFrac.fold(dft0) { frac =>
      // the collect is an EAGER separate job, so the capped in-memory
      // path tokenizes + aggregates the corpus twice — once here for
      // df, once in the final scoring plan (separate jobs can never
      // share the exchange a single uncapped plan can reuse). The
      // collect trades that second pass for avoiding a THIRD (a
      // DataFrame-side anti-join just for the drop report); the
      // one-pass capped answer at scale is [[bm25TopKIndexed]], where
      // df is precomputed in termstats
      import docs.sparkSession.implicits._
      val rows = dft0.crossJoin(broadcast(stats.select(col("n_docs")))).collect()
      val (keep, drop) = rows.partition(r => r.getDouble(1) <= r.getDouble(2) * frac)
      logDfCapDrops("bm25TopK", drop.map(_.getString(0)).toSeq, frac)
      keep.map(r => (r.getString(0), r.getDouble(1))).toSeq.toDF("term", "df")
    }

    // per-(term, doc) contribution as an exact long; the double tree
    // must mirror the oracle SQL verbatim (see queries/Retrieval.scala)
    val contrib = cand.join(broadcast(dft), "term")
      .crossJoin(broadcast(stats))
      .withColumn("c", bm25Contrib(col("tf"), col("df"), col("dl"),
        col("n_docs"), col("total_len"), k1, b))
      .join(broadcast(qterms), "term")

    val scored = contrib.groupBy("query_id", "doc_id").agg(sum(col("c")).as("score"))
    val base = if (excludeSelf) scored.filter(col("query_id") =!= col("doc_id")) else scored
    boundedTopK(base, topK)
  }

  /** Default ceiling on distinct (query_id, term) rows — comfortably
    * above any interactive workload, comfortably below a broadcast that
    * would take down the driver.
    */
  val defaultMaxQueryTerms: Long = 1000000L

  /** Both BM25 paths broadcast the distinct query terms — the prune
    * that keeps everything downstream proportional to the MATCHED
    * postings, not the corpus — so their documented contract is a
    * broadcast-SMALL query workload. A caller passing a corpus-sized
    * query set would otherwise hit a driver OOM with no actionable
    * message; this fails loudly first, and cheaply (one limit-bounded
    * count on the query side, never a full scan of an oversized set).
    * Raise `maxQueryTerms` deliberately for a genuinely larger but
    * still driver-sized workload; for corpus×corpus scoring, reshape
    * the job (shuffle-join the postings on term) instead of raising it.
    */
  private def guardQueryWorkload(queries: DataFrame, op: String,
                                 maxQueryTerms: Long): Unit = {
    require(maxQueryTerms > 0, s"$op: maxQueryTerms must be positive")
    val over = queries.select(col("query_id"), col("term")).distinct()
      .limit((maxQueryTerms + 1).min(Int.MaxValue).toInt).count() > maxQueryTerms
    require(!over,
      s"$op: the query workload exceeds $maxQueryTerms distinct (query_id, term) " +
        "rows; both BM25 paths broadcast the query terms, so this bound guards the " +
        "driver. Raise maxQueryTerms deliberately if the workload is genuinely " +
        "driver-sized; for corpus-scale query sets reshape the job instead.")
  }

  // NOT named `log`: that would shadow sql.functions.log in bm25Contrib
  private lazy val slog = org.slf4j.LoggerFactory.getLogger("graft.SearchOps")

  /** Log a df-cap drop report — WARN when query terms were actually
    * dropped (recall on those terms is gone; their idf was near zero),
    * INFO when the cap was a no-op. `dropped` is query-vocabulary-sized
    * by construction (capping only ever touches query terms), so it is
    * bounded by the broadcast-small query workload.
    */
  private def logDfCapDrops(op: String, dropped: Seq[String], frac: Double): Unit =
    if (dropped.nonEmpty)
      slog.warn(s"$op: df cap $frac dropped ${dropped.length} " +
        s"query term(s) from scoring (near-zero idf, corpus-sized candidate mass): " +
        dropped.take(20).mkString(", ") + (if (dropped.length > 20) ", …" else ""))
    else
      slog.info(s"$op: df cap $frac dropped nothing")

  // ---- Persisted postings index: versioned, pointer-swapped ----------
  //
  // The serving analog of the corpus dedup index and the vector index:
  // tokenize + postings-groupBy are paid once at build/append time,
  // never at serve. Versioning, claim-based allocation, the POINTER,
  // the intake claim and retention are [[graft.io.VersionedStore]]'s
  // (the `postings` instance below). Each version holds:
  //   manifest.json     {n_docs, total_len (exact longs), segments
  //     (paths relative to root — later versions REFERENCE earlier
  //     versions' segments instead of copying, so an append writes only
  //     its delta), has_tombstones, applied_tags (idempotency ledger,
  //     carried forward)}; written last, so it marks the version complete
  //   postings/segNNNN/ (term, doc_id, tf, dl longs)
  //   termstats/        (term, df long — the GLOBAL per-term doc
  //     frequency, re-merged per version: df and the corpus scalars
  //     change on every append, postings rows never do)
  //   tombstones/       (doc_id) deleted docs, until the next fold
  // A crash before the pointer swap leaves an unreferenced version dir —
  // inert, the old version keeps serving; re-running the append is the
  // recovery, and the applied_tags ledger makes a REPLAYED append (same
  // tag) a no-op instead of a double-count.
  private object postings extends graft.io.VersionedStore {
    protected val family = "postings index"
    def exists(dir: String): Boolean =
      graft.io.IndexMeta.exists(s"$dir/manifest.json")
    // replays ride the manifest's applied_tags, not ingest segments
    override protected def segmentLedger = false
    // appends and deletes carry segments by reference, so a kept
    // manifest may point into far older version dirs
    override protected def references(root: String, v: Int): Seq[String] = {
      val dir = versionDir(root, v)
      if (exists(dir)) strings(readManifest(dir), "segments") else Nil
    }
    def segment(v: Int): String = inVersion(v, f"postings/seg$v%04d")
  }

  def postingsVersionDir(root: String, v: Int): String = postings.versionDir(root, v)

  def postingsCurrentVersion(root: String): Option[Int] = postings.currentVersion(root)

  def postingsIndexExists(root: String): Boolean = postingsCurrentVersion(root).isDefined

  private def readManifest(dir: String): Map[String, Any] =
    graft.io.StableJson.parse(graft.io.IndexMeta.readString(
      s"$dir/manifest.json").getOrElse(
      throw new IllegalStateException(s"missing postings manifest at $dir")))
      .asInstanceOf[Map[String, Any]]

  private def strings(m: Map[String, Any], key: String): Seq[String] =
    m(key).asInstanceOf[Seq[_]].map(String.valueOf)

  private def long(m: Map[String, Any], key: String): Long = m(key).toString.toLong

  /** Tokenize one doc batch into (postings delta, n_docs, total_len). */
  private def postingsDelta(docs: DataFrame, textCol: String,
                            idCol: String): (DataFrame, Long, Long) = {
    val toks = tokenized(docs, textCol, idCol)
    val statsRow = toks.select(size(col("ws")).cast("long").as("dl"))
      .agg(count(lit(1)).as("n"), sum(col("dl")).as("l")).head()
    val post = toks.select(col("doc_id"), size(col("ws")).cast("long").as("dl"),
        explode(col("ws")).as("term"))
      .groupBy("term", "doc_id")
      .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))
    (post, statsRow.getLong(0),
      if (statsRow.isNullAt(1)) 0L else statsRow.getLong(1))
  }

  /** Write version v: segments + merged termstats + manifest (+ the
    * tombstone ledger when present). `priorSegments` are carried by
    * reference (paths relative to root); `delta = None` (fold/delete)
    * writes no new segment.
    */
  private def writePostingsVersion(root: String, v: Int,
                                   delta: Option[DataFrame],
                                   priorSegments: Seq[String],
                                   mergedTermstats: DataFrame,
                                   nDocs: Long, totalLen: Long,
                                   appliedTags: Seq[String],
                                   tombstones: Option[DataFrame] = None): Unit = {
    val vDir = postings.versionDir(root, v)
    val segRel = postings.segment(v)
    delta.foreach(_.write.mode("overwrite").parquet(s"$root/$segRel"))
    mergedTermstats.write.mode("overwrite").parquet(s"$vDir/termstats")
    tombstones.foreach(_.write.mode("overwrite").parquet(s"$vDir/tombstones"))
    val manifest: Map[String, Any] = Map(
      "n_docs" -> nDocs, "total_len" -> totalLen,
      "segments" -> (if (delta.isDefined) priorSegments :+ segRel else priorSegments),
      "has_tombstones" -> tombstones.isDefined,
      "applied_tags" -> appliedTags)
    graft.io.IndexMeta.writeString(s"$vDir/manifest.json",
      graft.io.StableJson.write(manifest))
  }

  private def readTombstones(spark: org.apache.spark.sql.SparkSession,
                             dir: String, m: Map[String, Any]): Option[DataFrame] =
    if (m.get("has_tombstones").exists(_ == true))
      Some(spark.read.parquet(s"$dir/tombstones"))
    else None

  /** Every segment `m` references, as one frame. */
  private def readSegments(spark: org.apache.spark.sql.SparkSession, root: String,
                           m: Map[String, Any]): DataFrame =
    spark.read.parquet(strings(m, "segments").map(s => s"$root/$s"): _*)

  /** Build version 1 of the postings index and swap the pointer. */
  def buildPostingsIndex(docs: DataFrame, textCol: String, idCol: String,
                         root: String): Int = {
    val (post, n, l) = postingsDelta(docs, textCol, idCol)
    val ts = post.groupBy("term").agg(count(lit(1)).as("df"))
    postings.publish(root)((_, v) =>
      writePostingsVersion(root, v, Some(post), Nil, ts, n, l, Nil))
  }

  /** Append a doc batch as a NEW version: writes only the delta segment
    * plus the re-merged termstats (vocabulary-sized — df and the corpus
    * scalars change on every append even for untouched docs; postings
    * rows never do, so prior segments carry by reference). Returns the
    * new version, or None when `batchTag` is already applied (a replayed
    * append must not double-count its docs).
    *
    * A batch containing a TOMBSTONED doc_id is refused loudly: counting
    * it would inflate n_docs/total_len/df while serving anti-joins the
    * doc out — a phantom that skews every surviving doc's idf and length
    * normalization. Re-adding a deleted doc is legal only after a
    * [[foldPostingsIndex]], which drops its rows for real AND clears the
    * ledger — then this append converges on exactly a fresh full build.
    *
    * Concurrency: like every mutation of the root (append, delete, fold,
    * prune) it holds the per-root intake claim, so its whole
    * read-manifest→write-version→swap is one atomic step. The tag ledger
    * remains the recovery for the claim's own edge (a broken stale claim
    * of a crashed writer): a superseded tag is absent from the SERVED
    * manifest, so "re-run until your tag is served" still converges —
    * applied tags no-op (SearchOpsSpec races two appends for real and
    * pins convergence).
    */
  def appendPostingsIndex(newDocs: DataFrame, textCol: String, idCol: String,
                          root: String, batchTag: String): Option[Int] =
      postings.withServedDir(root) { cur =>
    val spark = newDocs.sparkSession
    val m = readManifest(cur)
    val tags = strings(m, "applied_tags")
    if (tags.contains(batchTag)) None
    else {
      readTombstones(spark, cur, m).foreach { t =>
        val clash = newDocs.select(col(idCol).cast("long").as("doc_id")).distinct()
          .join(broadcast(t.select(col("doc_id"))), "doc_id")
          .limit(5).collect().map(_.getLong(0))
        require(clash.isEmpty,
          s"append batch '$batchTag' contains tombstoned doc_id(s) " +
            s"${clash.mkString(", ")} — fold the index first (fold drops " +
            "the deleted rows for real and clears the ledger), then re-add")
      }
      val (post, n, l) = postingsDelta(newDocs, textCol, idCol)
      val deltaTs = post.groupBy("term").agg(count(lit(1)).as("df"))
      val merged = spark.read.parquet(s"$cur/termstats").union(deltaTs)
        .groupBy("term").agg(sum(col("df")).as("df"))
      Some(postings.publishClaimed(root, Some(cur))(v =>
        writePostingsVersion(root, v, Some(post), strings(m, "segments"), merged,
          long(m, "n_docs") + n, long(m, "total_len") + l,
          tags :+ batchTag, readTombstones(spark, cur, m))))
    }
  }

  /** Fold every referenced segment into ONE segment in the next version
    * — the small-files compaction the per-append (and per-trigger)
    * segment layout needs: each append adds a directory, so an unfolded
    * index pays per-segment listing on every serve. Postings rows are
    * copied verbatim (no re-tokenize); tombstoned rows are dropped FOR
    * REAL and the ledger is CLEARED: the folded segment is physically
    * free of the deleted docs, so a replayed delete of the same ids is
    * a natural no-op (no matching rows — zero stat adjustment) and a
    * later [[appendPostingsIndex]] may legally RE-ADD a deleted doc_id
    * (the delete→fold→append chain converges on exactly a fresh full
    * build; before the fold, re-add is refused — see append's scaladoc).
    * Stats are untouched: deletes already adjusted them at delete time.
    * (The vector index's fold CARRIES its ledger instead — it must,
    * because a vector retrain rebuilds from the raw corpus and would
    * otherwise resurrect deletes; a postings fold is the terminal
    * physical drop, nothing downstream rebuilds from the corpus.)
    */
  def foldPostingsIndex(spark: org.apache.spark.sql.SparkSession,
                        root: String): Int =
    postings.publishFromServed(root) { (cur, v) =>
      val m = readManifest(cur)
      val all = readSegments(spark, root, m)
      val folded = readTombstones(spark, cur, m).fold(all)(t => all.join(
        broadcast(t.select(col("doc_id"))), Seq("doc_id"), "left_anti"))
      writePostingsVersion(root, v, Some(folded), Nil,
        spark.read.parquet(s"$cur/termstats"), long(m, "n_docs"),
        long(m, "total_len"), strings(m, "applied_tags"), None)
    }

  /** Retention GC for superseded postings versions
    * ([[graft.io.VersionedStore.pruneVersions]]). Appends and deletes
    * carry segments by reference, so the prune also keeps the REFERENCE
    * CLOSURE of every kept version — including a grace version's, whose
    * pinned readers hold concrete file paths. Only a fold (which
    * consolidates to one owned segment) makes predecessors collectable,
    * which is the natural call order: fold, then prune. Returns the
    * pruned version numbers.
    */
  def prunePostingsVersions(spark: org.apache.spark.sql.SparkSession,
                            root: String, keepLatest: Int = 1): Seq[Int] =
    postings.pruneVersions(root, keepLatest)

  /** Tombstone `deletedIds` (a (doc_id) frame) in a new version:
    * segments carry by reference — postings files are never rewritten
    * (the next [[foldPostingsIndex]] drops the rows for real) — while
    * the SCORING state is adjusted now: n_docs / total_len / per-term
    * df all subtract the deleted docs' contributions, so every
    * surviving doc's idf and length normalization behave as if the
    * deletes never existed. Ids already tombstoned (or absent) are
    * ignored — a replayed delete cannot double-subtract. Serving
    * anti-joins the ledger, so deleted docs stop surfacing immediately.
    */
  def deleteFromPostingsIndex(spark: org.apache.spark.sql.SparkSession,
                              root: String, deletedIds: DataFrame): Int =
    postings.publishFromServed(root) { (cur, v) =>
      val m = readManifest(cur)
      val prior = readTombstones(spark, cur, m)
      val ids0 = deletedIds.select(col(deletedIds.columns.head).cast("long").as("doc_id"))
        .distinct()
      // only ids not already tombstoned may adjust stats (replay safety)
      val fresh = prior.fold(ids0)(t =>
        ids0.join(broadcast(t.select(col("doc_id"))), Seq("doc_id"), "left_anti"))
      val del = readSegments(spark, root, m).join(broadcast(fresh), Seq("doc_id"))
      val delStats = del.groupBy("doc_id").agg(max(col("dl")).as("dl"))
        .agg(count(lit(1)).as("n"), sum(col("dl")).as("l")).head()
      val (dn, dl2) = (delStats.getLong(0),
        if (delStats.isNullAt(1)) 0L else delStats.getLong(1))
      val dec = del.groupBy("term").agg(count(lit(1)).as("dec"))
      val merged = spark.read.parquet(s"$cur/termstats")
        .join(broadcast(dec), Seq("term"), "left")
        .select(col("term"),
          (col("df") - coalesce(col("dec"), lit(0L))).as("df"))
        .filter(col("df") > 0)
      val tombs = prior.fold(fresh)(t => t.select(col("doc_id")).union(fresh).distinct())
      writePostingsVersion(root, v, None, strings(m, "segments"), merged,
        long(m, "n_docs") - dn, long(m, "total_len") - dl2,
        strings(m, "applied_tags"), Some(tombs))
    }

  /** [[bm25TopK]] served from the persisted index: same scores by
    * construction (stored tf/dl/df are exact longs cast back to double;
    * the corpus scalars ride the manifest and enter the plan as
    * literals; the contribution expression is the shared
    * [[bm25Contrib]]). Per-query work is proportional to the MATCHED
    * postings — the corpus is never re-tokenized, the index side is
    * never shuffled (SearchOpsSpec walks the plan), and the POINTER is
    * resolved once at planning, so a concurrent append swaps what the
    * NEXT query reads, never a running scan.
    */
  def bm25TopKIndexed(spark: org.apache.spark.sql.SparkSession,
                      root: String, queries: DataFrame, topK: Int,
                      k1: Double = 1.2, b: Double = 0.75,
                      excludeSelf: Boolean = false,
                      maxDfFrac: Option[Double] = None,
                      maxQueryTerms: Long = defaultMaxQueryTerms): DataFrame = {
    guardQueryWorkload(queries, "bm25TopKIndexed", maxQueryTerms)
    val cur = postings.versionDir(root, postings.servedVersion(root))
    val m = readManifest(cur)
    val nDocs = long(m, "n_docs").toDouble
    val totalLen = long(m, "total_len").toDouble
    val post0 = readSegments(spark, root, m)
    // tombstoned docs are suppressed at serve until a fold drops their
    // rows; their stats were already subtracted at delete time
    val post = readTombstones(spark, cur, m).fold(post0)(t =>
      post0.join(broadcast(t.select(col("doc_id"))), Seq("doc_id"), "left_anti"))
    val qterms = queries.select(col("query_id").cast("long").as("query_id"),
      col("term")).distinct()
    val dft0 = spark.read.parquet(s"$cur/termstats")
      .join(broadcast(qterms.select("term").distinct()), "term")
      .select(col("term"), col("df").cast("double").as("df"))
    // df is PRECOMPUTED here, so the stop-word cap prunes capped terms
    // from candidate generation itself — their corpus-sized postings are
    // never scanned (the in-memory path can only drop them post-count)
    val dft = maxDfFrac.fold(dft0) { frac =>
      // drop report from the vocabulary-sized termstats scan — cheap here
      // (df is precomputed), unlike the in-memory path's collect-once
      logDfCapDrops("bm25TopKIndexed",
        dft0.filter(col("df") > lit(nDocs * frac))
          .select(col("term")).collect().map(_.getString(0)).toSeq, frac)
      dft0.filter(col("df") <= lit(nDocs * frac))
    }
    // uncapped: prune postings on the query terms directly (one
    // termstats scan, the plan SearchOpsSpec pins); capped: prune on the
    // SURVIVING terms so a capped stop word's postings are never scanned
    val candTerms =
      if (maxDfFrac.isDefined) dft.select(col("term"))
      else qterms.select("term").distinct()
    val cand = post.join(broadcast(candTerms), "term")
    val contrib = cand.join(broadcast(dft), "term")
      .withColumn("c", bm25Contrib(col("tf").cast("double"), col("df"),
        col("dl").cast("double"), lit(nDocs), lit(totalLen), k1, b))
      .join(broadcast(qterms), "term")
    val scored = contrib.groupBy("query_id", "doc_id").agg(sum(col("c")).as("score"))
    val base = if (excludeSelf) scored.filter(col("query_id") =!= col("doc_id")) else scored
    boundedTopK(base, topK)
  }

  /** Bounded insertion buffer under (score desc, doc_id asc) — the one
    * top-k kernel both stages of [[boundedTopK]] share, so the
    * per-partition pre-reduce is definitionally the same order as the
    * final merge. O(k) memory, O(k) worst-case insert (k is small).
    */
  private final class TopKBuf(topK: Int) {
    val ids = new Array[Long](topK)
    val scs = new Array[Long](topK)
    var filled = 0
    def insert(did: Long, sc: Long): Unit = {
      // insertion position under (score desc, doc_id asc)
      var pos = filled
      while (pos > 0 && (scs(pos - 1) < sc || (scs(pos - 1) == sc && ids(pos - 1) > did))) pos -= 1
      if (pos < topK) {
        var j = math.min(filled, topK - 1)
        while (j > pos) { ids(j) = ids(j - 1); scs(j) = scs(j - 1); j -= 1 }
        ids(pos) = did; scs(pos) = sc
        if (filled < topK) filled += 1
      }
    }
  }

  /** Per-partition bounded top-k per query — stage one of
    * [[boundedTopK]], exposed for its spec. Keeping only k candidates
    * per (query, input partition) is lossless for a top-k selection:
    * any row outside a partition's local top-k is beaten by k rows that
    * ALSO reach the merge, so it can never enter the global top-k.
    */
  private[graft] def localTopK(
      typed: org.apache.spark.sql.Dataset[(Long, Long, Long)],
      topK: Int): org.apache.spark.sql.Dataset[(Long, Long, Long)] = {
    import typed.sparkSession.implicits._
    typed.mapPartitions { it =>
      val bufs = scala.collection.mutable.HashMap.empty[Long, TopKBuf]
      it.foreach { case (qid, did, sc) =>
        bufs.getOrElseUpdate(qid, new TopKBuf(topK)).insert(did, sc)
      }
      bufs.iterator.flatMap { case (qid, b) =>
        (0 until b.filled).map(i => (qid, b.ids(i), b.scs(i)))
      }
    }
  }

  /** Per-query bounded top-k by (score desc, doc_id asc), two-stage:
    * a per-partition bounded insertion pass FIRST (so the query_id
    * shuffle carries at most k rows per query per input partition —
    * without it, a query hitting a corpus-frequent term funnels a
    * corpus-sized group through one reducer task, the classic top-k
    * straggler), then the same insertion kernel merges the survivors.
    * O(k) state per query at every stage; no full candidate sort;
    * output provably identical to the single-stage form (see
    * [[localTopK]]).
    */
  private[graft] def boundedTopK(scored: DataFrame, topK: Int): DataFrame = {
    val spark = scored.sparkSession
    import spark.implicits._
    val typed = scored.select(col("query_id").cast("long"),
        col("doc_id").cast("long"), col("score").cast("long"))
      .as[(Long, Long, Long)]
    localTopK(typed, topK)
      .groupByKey(_._1)
      .flatMapGroups { (qid, it) =>
        val b = new TopKBuf(topK)
        it.foreach { case (_, did, sc) => b.insert(did, sc) }
        (0 until b.filled).iterator.map(i => (qid, b.ids(i), b.scs(i), (i + 1).toLong))
      }
      .toDF("query_id", "doc_id", "score", "rank")
  }

  /** ORACLE-ONLY brute-force cosine top-k for an explicit query subset
    * (the asymmetric [[SimilarityOps.bruteTopK]]): a broadcast(q) ×
    * corpus theta-join — O(|Q|·n) dot products by construction. That is
    * the right shape for an exactness oracle and the WRONG one for any
    * production call: at corpus scale it is a full scan per query
    * batch. Quarantine convention as the brute-ANN verifiers in
    * [[SimilarityOps]]: use it to verify, never to serve — the serving
    * vector leg is the persisted IVF-PQ index ([[VectorIndex.query]],
    * the q110 family), which plugs into [[rrfFuse]] unchanged because
    * fusion only ever sees (query_id, doc_id, rank).
    * Returns (query_id, doc_id, rank).
    */
  def cosineTopKFor(queries: DataFrame, corpus: DataFrame, idCol: String,
                    vecCol: String, topK: Int): DataFrame = {
    val toD = (c: Column) => transform(c, x => x.cast("double"))
    val nrm = (v: Column) => sqrt(aggregate(v, lit(0.0), (a, x) => a + x * x))
    val q = queries.select(col(idCol).cast("long").as("query_id"), toD(col(vecCol)).as("qv"))
      .withColumn("qn", nrm(col("qv")))
    val c = corpus.select(col(idCol).cast("long").as("doc_id"), toD(col(vecCol)).as("cv"))
      .withColumn("cn", nrm(col("cv")))
    val scored = broadcast(q).join(c, col("query_id") =!= col("doc_id"))
      .withColumn("score",
        aggregate(zip_with(col("qv"), col("cv"), (x, y) => x * y), lit(0.0), (a, x) => a + x)
          / (col("qn") * col("cn")))
    val w = Window.partitionBy("query_id").orderBy(col("score").desc, col("doc_id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= topK)
      .select(col("query_id"), col("doc_id"), col("rank").cast("long").as("rank"))
  }

  /** Reciprocal-rank fusion over any number of (query_id, doc_id, rank)
    * rankings: fused(d) = Σ_lists floor(1e6 / (rrfK + rank)) — integer
    * division, so fused scores are exact longs with no float hazard.
    * Returns (query_id, doc_id, fused long, rank long) top-k per query
    * by (fused desc, doc_id asc). Absence from a list contributes 0.
    */
  def rrfFuse(rankings: Seq[DataFrame], topK: Int, rrfK: Int = 60): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse needs at least one ranking")
    // integer DIV on both engines (Spark DIV / DuckDB //) — a double
    // division + cast would round differently (Spark truncates, DuckDB
    // rounds) and 1e6/(k+rank) is not exactly representable
    val normed = rankings.map(_.selectExpr(
      "CAST(query_id AS BIGINT) AS query_id",
      "CAST(doc_id AS BIGINT) AS doc_id",
      s"CAST(1000000L DIV (${rrfK}L + CAST(rank AS BIGINT)) AS BIGINT) AS c"))
    val fused = normed.reduce(_ union _)
      .groupBy("query_id", "doc_id").agg(sum(col("c")).as("score"))
    boundedTopK(fused, topK).withColumnRenamed("score", "fused")
  }
}
