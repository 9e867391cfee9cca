package graft

import org.apache.spark.sql.SparkSession

/** Benchmark entry: times the headline scalable operators at
  * SPARK_GRAFT_SF_DIR and prints one JSON line. O(n²) correctness
  * baselines (q27 brute pairs, q30 brute ANN) are excluded — their scale
  * paths (q28 MinHash-LSH, q31 cell-partitioned ANN) are what a 100 TB
  * deployment would run; the brute variants exist for oracle verification
  * at small SF (see Verify).
  */
object Bench {

  /** Representative scalable subset: one per operator family. */
  val headline: Seq[String] = Seq(
    "q01_pricing_summary",      // full-scan grouped agg
    "q02_revenue_by_nation",    // multi-way broadcast join + agg
    "q03_top_customers_per_nation", // agg + window top-k
    "q05_supplier_part_stats",  // count-distinct
    "q06_customer_year_rank",   // dense rank
    "q08_nation_year_grid",     // cross-join grid + left join
    "q09_upsert_pk",            // M2 upsert kernel
    "q11_history_dedupe_conflicts", // history dedupe
    "q13_overlap_count",        // lag window
    "q14_latest_per_group",     // latest-per-group window
    "q21_text_metrics",         // string transforms
    "q24_events_json",          // JSON extraction + agg
    "q26_dedup_exact",          // exact dedupe
    "q28_neardup_minhash",      // MinHash+LSH near-dup (scale path)
    "q55_neardup_embedding_lsh", // banded sign-LSH embedding near-dup (scale path)
    "q31_ann_topk_cell",        // partitioned ANN (scale path)
    "q32_lang_id",              // language ID
    "q34_fingerprint",          // hashing
    "q36_tumbling_window",      // streaming-shaped windows
    "q38_session_window",
    "q48_bill_stages_flatten",  // satellite flatten engine (N7)
    "q52_renderer_issue_counts", // normalized-name join + issue counters
    "q53_ann_topk_hyperplane",  // multi-probe hyperplane ANN (no-label)
    "q58_asof_join",            // backward as-of join (union + keyed window)
    "q59_interval_attribution", // bucketed point-in-interval range join
    "q65_contamination_check",  // broadcast eval-shingle decontamination
    "q66_top_ngrams",           // corpus stats: partial agg + top-k
    "q67_corpus_pipeline",      // full curation chain (filter→dedup→LSH→decontam)
    "q69_line_dedup",           // line-level boilerplate removal (C4-style)
    "q72_kmeans_step",          // IVF quantizer training step (Lloyd statistics)
    "q73_incremental_dedup",    // new-batch-vs-corpus dedup (side-aware LSH)
    "q74_bloom_semijoin",       // Bloom-sketch scan prune + exact semi join
    "q75_span_dedup",           // substring-level corpus dedup (span coverage)
    "q76_ann_topk_trained",     // end-to-end trained-quantizer IVF ANN (training
                                // cost included — see ProfileMain for the split)
    "q77_corpus_pipeline_full", // curation chain v2 (gate+scrub+dedup+decontam)
    "q78_incremental_dedup_prepared", // prepared-index ingest dedup (batch-cost path;
                                // first-ever run at an SF also builds the index)
    "q79_member_activity_monthly",      // A4 monthly mart (outer-join grain)
    "q80_constituency_activity_yearly", // A5 mart (lookup join + grid densify)
    "q81_content_fact_pool",    // F17 templated fact pool (3-family union)
    "q82_skew_neardup_capped",  // planted hot-bucket corpus: capped LSH near-dup
    "q83_skew_ingest_capped",   // planted hot-bucket corpus: capped prepared ingest
    "q84_skew_lifecycle_compacted", // index lifecycle: append → re-cap fold → re-ingest
    "q102_ann_topk_pq",         // product-quantization ANN: encode + cell-restricted ADC scan
    "q103_ann_topk_pq_trained", // trained-PQ ANN: per-subspace Lloyd + encode + ADC scan
    "q107_ann_topk_ivfpq_residual", // residual IVF-PQ (IVFADC): PQ over cell-centroid residuals
    "q108_ann_topk_ivfpq_probed",   // multi-probe IVFADC: nprobe nearest cells per query
    "q109_ann_topk_ivfpq_refined",  // two-stage: ADC shortlist + exact re-rank
    "q110_ann_topk_indexed",        // persisted-index ANN (build once per SF, then query-only)
    "q118_bm25_topk",           // BM25 keyword retrieval (broadcast-pruned postings)
    "q120_bm25_topk_prepared",  // BM25 from the persisted postings index (build
                                // once per SF, then serve-only — the q110 shape)
    "q125_hybrid_indexed",      // hybrid RRF over BOTH persisted indexes (postings
                                // BM25 + IVF-PQ ANN, each pointer-resolved)
    "q127_bm25_topk_capped",    // BM25 with the stop-word df cap (skew guard)
    "q128_bm25_index_pruned",   // postings lifecycle + retention GC (build, 3
                                // appends, fold, reference-closure prune, serve)
    "q129_ann_index_pruned",    // vector lifecycle + retention GC (build, batch
                                // append, fold, prune, carried-ledger replay block)
    "q134_bm25_pruned_serve",   // q128's end state SERVED from a build-once cache —
                                // the serve-only drift sentinel (a flag here means
                                // the serving plan regressed, not the lifecycle)
    "q135_ann_pruned_serve",    // q129's end state served (same split, vector leg)
    "q130_mix_token_budget",    // token-budgeted weighted corpus mixing (hash-gated)
    "q136_semantic_dedup",      // SemDeDup: trained-cell-bounded cosine dedup
                                // (kmeans training cost included, the q76 stance)
    "q137_dsir_scores",         // DSIR importance scoring (256-bucket hashed model
                                // driver-trained, then scan+sum serving)
    "q138_quality_classifier",  // trained quality filter: 3 logistic epochs over
                                // hashed features (training cost included)
    "q139_semantic_dedup_incremental", // batch-vs-corpus SemDeDup ingest (corpus-
                                // trained cells; batch-proportional judge)
    "q143_semantic_dedup_capped", // q136 under planted hot-cell skew with the
                                // maxCell cap live — prices the capped pair legs
                                // + the persisted width frame (the q82 stance)
    "q144_semantic_dedup_incremental_capped", // q139 with BOTH legs capped under
                                // two-sided planted skew
    "q145_bigram_surprisal_salted", // q131's salted-join Zipf routing — prices
                                // the ×buckets model-table replication
    // ---- chunk family (round-18 verdict #3: pin it so chunk-path drift
    // is visible to the gate; round 19 adds the entries + the pins) ----
    "q147_chunk_windows",       // sliding-window chunking: map-only projection
    "q148_bm25_chunks",         // chunk-grain BM25 (df/avgdl/n at chunk level)
    "q150_hybrid_chunks_indexed", // chunk RAG serve: BM25 leg + persisted
                                // IVF-PQ leg + RRF (index builds once per SF
                                // in the warm rep — the q110/q120 stance;
                                // the SERVE is what steady-state reps price)
    "q151_semantic_dedup_chunks", // passage SemDeDup, oracle k=16 stance
    "q152_semantic_dedup_chunks_sqrtk") // same at production k=ceil(sqrt(n)):
                                // the configuration a deployment runs
    // q149 (semantic-index GC sentinel) and q153 (chunk-grain streaming
    // intake) stay non-headline: their batches feed through driver-side
    // MemoryStream plumbing (the q104/q146 convention).
    // q104 (3-trigger streaming intake) and q146 (streaming SemDeDup
    // intake) are oracle/lifecycle queries, not headliners: their batches
    // feed through driver-side MemoryStream plumbing, and the lifecycle
    // cost stories are carried by q84 and by q139/q143/q144 (the judge
    // plans q146 serves per trigger).
    // q119 (hybrid RRF) is oracle-tier: its vector leg is the O(|Q|·n)
    // brute scorer (the oracle convention), and the fusion itself is a
    // trivial integer agg — the production fusion of both persisted
    // indexes is headlined as q125.

  /** Testdata fingerprint: first 8 bytes of sha256 over the sorted
    * (relative path, size, mtime) listing of every file under the SF
    * dir, descending into directories. Bench output carries it and
    * PERF_BASELINE.json pins the fingerprint its minima were measured
    * against — a drift comparison across regenerated testdata is
    * meaningless (round 7's full re-pin was forced by exactly that),
    * so on mismatch the bench suppresses the drift map and flags the
    * mismatch instead of reporting phantom regressions.
    */
  def dataFingerprint(dir: String): String = graft.io.Fingerprint.ofTree(dir)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    if (args.contains("--fingerprint-only")) {
      println(dataFingerprint(sfDir))
      return
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
    Tables.sessionConfs.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // early pointer: even a truncated stdout capture names the artifact
    println("BENCH: summary JSON will also be written to " +
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_SUMMARY.json"))

    def materialize(name: String): Unit =
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()

    // a failing query must not be recorded as a fast success — keep its
    // time, mark it failed, and fail the process at the end.
    // Best-of-2 timed passes: this host shows multi-second external timing
    // noise between identical runs (same plan 6s..56s); the min measures
    // the engine rather than the neighbors.
    def timed(name: String): (Double, Option[String]) = {
      val t0 = System.nanoTime()
      val err = try { materialize(name); None }
                catch { case e: Throwable => Some(e.getClass.getSimpleName) }
      ((System.nanoTime() - t0) / 1e9, err)
    }
    // Per-query untimed warm run immediately before its first timed run
    // (JMH-style): Janino codegen compile + C2 JIT dominate first-run
    // times (q48 cold 22s vs warm 7s), and a deployed engine runs warm.
    // Warming per-query (not one global pass) keeps the previous queries'
    // shuffle-cleanup/GC churn out of the first timed query — a global
    // warm pass left whichever query ran first measuring the whole pass's
    // teardown (~9s on q01 vs 0.9s isolated). Query failures surface in
    // the timed pass; fatal Errors (OOM etc.) propagate — a JVM that just
    // OOMed would corrupt every later timing. clearCache between runs
    // drops operator-internal persists (q28 shingles) so timed passes
    // measure the operator, not a cache hit.
    //
    // Timed reps are INTERLEAVED round-robin (all queries per round, min
    // per query across rounds) because this host's external noise comes
    // in multi-second bursts: back-to-back reps of one query can both
    // land inside a burst (q55 measured 17.5s twice in a row vs 2.8s
    // real), while reps minutes apart cannot.
    val rounds = 3
    val times = scala.collection.mutable.Map.empty[String, Double]
    val errors = scala.collection.mutable.Map.empty[String, String]

    // Host-weather canary (round-16 verdict): two fixed cheap queries
    // re-timed at the START and END of the run. Their code never changes
    // round-to-round unless their operators do, so their observed cost
    // vs pin measures the HOST (JVM/page-cache/neighbor weather), not
    // the plans — twice now a judge has hand-adjudicated uniform
    // 0.86×/1.14× whole-run swings on untouched code. Per-pass min-of-3
    // filters burst noise; start/end mean captures sustained inflation.
    // Trio spans the load classes that drift differently: q01/q34 are
    // scan-light sub-second probes, q73 is a mid-weight shuffle-heavy
    // LSH join chain (~2-3s, 17 exchanges) — twice (r17, r18) the
    // shuffle/lifecycle family inflated while the scan-light canaries
    // read near-pin, so the geomean under-detected exactly the load
    // class that drifts and the flags needed hand A/B adjudication
    // (round-18 verdict #2). A canary that exercises shuffle+spill lets
    // host_inflation see that class mechanically.
    val canaries = Seq("q01_pricing_summary", "q34_fingerprint",
      "q73_incremental_dedup")
    // An errored canary rep's time-to-failure must not feed
    // host_inflation (the run already fails overall — canaries are
    // headliners — but a garbage normalization figure would still be
    // printed and used by tools/benchcheck.py; round-17 ADVICE). Track
    // the error side of timed() and null the figure below.
    var canaryErred = false
    def canaryPass(): Map[String, Double] = canaries.map { n =>
      try materialize(n) catch { case scala.util.control.NonFatal(_) => () } // warm
      spark.catalog.clearCache()
      val ts = (1 to 3).map { _ =>
        val (t, e) = timed(n); spark.catalog.clearCache()
        if (e.isDefined) canaryErred = true
        t
      }
      n -> ts.min
    }.toMap
    val canaryStart = canaryPass()

    for (round <- 1 to rounds; name <- headline) {
      if (round == 1) {
        try materialize(name) catch { case scala.util.control.NonFatal(_) => () }
        spark.catalog.clearCache()
      }
      if (!errors.contains(name)) {
        val (t, e) = timed(name)
        spark.catalog.clearCache()
        times(name) = math.min(times.getOrElse(name, Double.MaxValue), t)
        e.foreach(errors(name) = _)
      }
    }
    val canaryEnd = canaryPass()

    val results = headline.map(n => (n, times(n), errors.get(n)))
    val qs = results.map { case (k, v, _) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val failed = results.collect { case (k, _, Some(e)) => "\"" + k + "\":\"" + e + "\"" }
      .mkString("{", ",", "}")
    // Perf-regression guard: PERF_BASELINE.json pins per-query reference
    // minima; any passing query >1.5x its baseline lands in the drift map
    // (value = multiple of baseline) so a regression is machine-caught in
    // the bench output instead of discovered by a human diffing rounds.
    val baselinePath = sys.env.getOrElse("SPARK_GRAFT_PERF_BASELINE", "PERF_BASELINE.json")
    val baseline: Map[String, Double] = {
      val f = new java.io.File(baselinePath)
      if (f.exists()) {
        val txt = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
        """"([a-z0-9_]+)"\s*:\s*([0-9][0-9.eE+-]*)""".r.findAllMatchIn(txt)
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
      } else Map.empty
    }
    // Data-fingerprint gate: a baseline pinned on different testdata
    // (driver regeneration) must not produce a phantom drift map — the
    // mismatch itself is the finding, and a re-pin without a data change
    // would be visible as an unchanged fingerprint in the baseline diff.
    val fingerprint = dataFingerprint(sfDir)
    val baselineFingerprint = {
      val f = new java.io.File(baselinePath)
      if (!f.exists()) None
      else {
        val txt = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
        """"_fingerprint"\s*:\s*"([0-9a-f]+)"""".r.findFirstMatchIn(txt).map(_.group(1))
      }
    }
    val fingerprintMatch = baselineFingerprint.forall(_ == fingerprint)
    // Drift needs BOTH a 1.5x ratio AND a 0.75s absolute excess: on
    // sub-second queries 1.5x is ~300ms — inside this host's measured
    // single-run flutter (q38 +0.34s, q81 +0.44s across quiet-window
    // runs, see PERF.md round 9) — so ratio-only flagging cries wolf on
    // noise while the regressions that matter at scale are multi-second.
    // ESCAPE HATCH: >3x baseline always flags, with no absolute floor —
    // a 0.4s query that permanently triples (a small operator regression
    // that compounds at scale) must not hide under the 0.75s excess bar.
    val drift =
      if (!fingerprintMatch) "{}"
      else results.collect {
        case (k, v, None) if baseline.get(k).exists(b =>
            (v > b * 1.5 && v - b > 0.75) || v > b * 3.0) =>
          "\"" + k + "\":" + f"${v / baseline(k)}%.2f"
      }.mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val ok = results.forall(_._3.isEmpty)
    // host_inflation: geometric mean over the canaries of
    // (start/end-mean ÷ pinned value). ~1.0 = calm host; a uniform
    // whole-run swing with host_inflation moving the same way is
    // weather, not a plan change — divide drift ratios by this factor
    // before adjudicating (PERF.md "Bench noise canary" convention).
    // Omitted (null) when the fingerprint mismatched or a canary pin is
    // absent — a vacuous normalization must not read as a calm host.
    val canaryJson = canaries.map { n =>
      "\"" + n + "\":{\"start\":" + f"${canaryStart(n)}%.4f" +
        ",\"end\":" + f"${canaryEnd(n)}%.4f" +
        ",\"pin\":" + baseline.get(n).map(b => f"$b%.4f").getOrElse("null") + "}"
    }.mkString("{", ",", "}")
    // Also omitted when ANY canary rep errored: a time-to-failure is
    // not a host-weather sample, and a garbage normalization must not
    // read as calm (the existing vacuous-normalization rule).
    val hostInflation: Option[Double] =
      if (!fingerprintMatch || canaryErred ||
          !canaries.forall(baseline.contains)) None
      else Some(math.exp(canaries.map { n =>
        math.log(((canaryStart(n) + canaryEnd(n)) / 2.0) / baseline(n))
      }.sum / canaries.size))
    // a mismatch makes the drift map VACUOUS, not clean — carry that as
    // its own top-level warning so "drift":{} on regenerated testdata
    // can never read as "no drift" (tools/benchcheck.py refuses it too)
    val warning =
      if (fingerprintMatch) ""
      else s""","warning":"baseline fingerprint mismatch (data ${fingerprint} vs baseline ${baselineFingerprint.getOrElse("<none>")}): drift map suppressed and VACUOUS — re-pin PERF_BASELINE.json on the current testdata""""
    val hostInflationJson =
      hostInflation.map(v => f"$v%.3f").getOrElse("null")
    // canary_errored makes a nulled host_inflation ATTRIBUTABLE: when a
    // canary rep errored, its min-of-3 start/end figures include
    // time-to-failure samples (garbage as weather evidence), and a
    // transient canary-only error would otherwise print ok=true with
    // tainted canary numbers and a silently-null normalization
    // (round-18 ADVICE).
    val summaryLine = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"failed":$failed,"drift":$drift,"canary":$canaryJson,"canary_errored":$canaryErred,"host_inflation":$hostInflationJson,"fingerprint":"$fingerprint","baseline_fingerprint_match":$fingerprintMatch$warning,"ok":$ok,"sf":"$sfDir"}"""
    // Harvest hardening (round-17 verdict #5: twice the driver's stdout
    // tail truncated mid-JSON and the judge hand-reconstructed the
    // numbers): the summary ALSO lands in a short fixed-name file, so a
    // cut-off tail never loses the run.
    val summaryPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_SUMMARY.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(summaryPath),
      (summaryLine + "\n").getBytes("UTF-8"))
    catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"BENCH WARNING: could not write $summaryPath: $e") }
    println(s"BENCH SUMMARY FILE: $summaryPath")
    println(summaryLine)
    if (!fingerprintMatch)
      System.err.println("BENCH WARNING: baseline fingerprint mismatch — drift comparison was vacuous")
    spark.stop()
    if (!ok) sys.exit(1)
  }
}
