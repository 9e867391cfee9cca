package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FormattedMode

import scala.jdk.CollectionConverters._

/** Structural audit of the physical plans the engine produces — the
  * properties that keep the operators viable at 100 TB, asserted so a
  * regression (a lost filter pushdown, a dropped broadcast, an accidental
  * cartesian, an Expand reappearing) fails CI rather than only showing up
  * as a slow bench.
  */
class PlanAuditSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def plan(q: String): String = {
    // Plans must be measured against an EMPTY cache: operators persist()
    // intermediate frames during construction (q73's shingles/bands, the
    // curation chains' stage outputs), CacheManager matches by logical
    // plan across the session, and sbt runs every suite in one JVM — so
    // without this, a fragment cached by an earlier suite (or an earlier
    // test here) substitutes an InMemoryRelation into a pinned plan and
    // shifts its exchange counts with suite ORDER (seen once: q73 at 18
    // exchanges in a full run, 17 in isolation).
    spark.sharedState.cacheManager.clearCache()
    SparkEntry.queries(q)(spark, dir).queryExecution.explainString(FormattedMode)
  }

  test("parquet scans prune columns: q01 reads only the aggregated fields") {
    val p = plan("q01_pricing_summary")
    val readSchema = p.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(readSchema.nonEmpty)
    // the scan must not drag unused lineitem columns into the agg
    assert(!readSchema.contains("l_partkey") && !readSchema.contains("l_suppkey"),
      s"unpruned scan: $readSchema")
  }

  test("filters reach the parquet scan: q19's date filter is pushed") {
    val p = plan("q08_nation_year_grid")
    assert(p.contains("PushedFilters: ["), p.take(2000))
  }

  test("small dimensions broadcast: q02's nation/customer joins") {
    val p = plan("q02_revenue_by_nation")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      "expected broadcast join in q02")
    assert(!p.contains("CartesianProduct"))
  }

  test("no Expand from multi-distinct aggregates in q05") {
    val p = plan("q05_supplier_part_stats")
    assert(!p.contains("Expand"), "COUNT(DISTINCT) expand reappeared in q05")
  }

  test("whole-stage codegen covers the hot paths") {
    // every headline relational query should execute inside codegen spans,
    // not the interpreted fallback; AQE only finalizes the physical plan
    // on execution, so materialize before reading it
    Seq("q01_pricing_summary", "q02_revenue_by_nation", "q05_supplier_part_stats")
      .foreach { q =>
        val df = SparkEntry.queries(q)(spark, dir)
        df.collect() // finalizes the adaptive plan on df's own QueryExecution
        val p = df.queryExecution.executedPlan.toString
        // "*(n) " prefixes mark WholeStageCodegen spans in the compact form
        assert(p.contains("*("), s"$q lost codegen:\n${p.take(1500)}")
      }
  }

  test("only the sanctioned grid queries cross-join") {
    // grids are crossJoin-of-tiny by construction (reference semantics);
    // nothing else may produce a cartesian/nested-loop product
    val audited = Bench.headline.filterNot(_ == "q08_nation_year_grid")
    audited.foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q contains a cartesian product")
    }
  }

  test("near-dup scale paths shuffle by bucket, never self-join the corpus") {
    val p28 = plan("q28_neardup_minhash")
    val p55 = plan("q55_neardup_embedding_lsh")
    // the only joins are the verify joins against candidate pairs —
    // no SortMergeJoin of the full corpus against itself on a theta
    // condition (that's the brute path's shape)
    Seq(p28, p55).foreach { p =>
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        "near-dup scale path degenerated to an all-pairs join")
    }
  }

  test("contamination check broadcasts the eval shingle side, scans twice") {
    // benchmark sets are tiny vs the training corpus: the join must be a
    // broadcast-hash-join (train side never shuffles), and the corpus
    // must be scanned exactly twice (train leg + eval leg) — the
    // multi-distinct rewrite must NOT re-execute the join per count leg
    // (its cheap-child gate exists because it once did)
    val p = plan("q65_contamination_check")
    assert(p.contains("BroadcastHashJoin"), "eval side not broadcast")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "contamination join shuffles the train corpus")
    val scans = p.linesIterator.count(_.matches("""\(\d+\) Scan parquet\s*"""))
    assert(scans == 2, s"expected 2 corpus scans, got $scans")
  }

  test("global top-ngrams plans as partial agg + TakeOrderedAndProject") {
    // the top-k must be per-partition top-k merged on the driver, never a
    // full global sort of the gram table
    val p = plan("q66_top_ngrams")
    assert(p.contains("TakeOrderedAndProject"), "top-k fell back to a global Sort")
    assert(p.contains("HashAggregate"), "gram counts must hash-aggregate")
  }

  test("curation chain never degenerates to an all-pairs join") {
    // the chain embeds the near-dup LSH and the broadcast
    // decontamination — neither may plan as a cartesian/nested-loop
    // product of the corpus with itself
    val p = plan("q67_corpus_pipeline")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "curation chain contains an all-pairs join")
  }

  test("PQ ADC scan joins on the cell, never all-pairs") {
    // the cell-restricted ADC variant must plan its scan as a hash join
    // on the coarse cell — a cartesian/nested-loop here would defeat the
    // IVF pruning that makes the compressed scan viable at scale
    val p = plan("q102_ann_topk_pq")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "cell-restricted ADC planned as an all-pairs join")
  }

  test("rank-filtered ANN windows keep their WindowGroupLimit pre-reduce") {
    // row_number().over(partitionBy(query_id)) + filter(rank <= k) is a
    // top-k selection; Catalyst's InferWindowGroupLimit inserts a
    // per-partition partial limit BEFORE the window shuffle, which is
    // what keeps the ADC-shortlist and exact-rerank stages free of the
    // single-reducer straggler (the same property SearchOps.boundedTopK
    // implements by hand for its aggregated scores). A refactor to a
    // pattern the rule can't infer — rank stored then filtered through
    // an opaque transform, a non-rank ordering — would silently drop it.
    Seq("q109_ann_topk_ivfpq_refined", "q110_ann_topk_indexed",
        "q125_hybrid_indexed", "q150_hybrid_chunks_indexed").foreach { q =>
      val p = plan(q)
      val wgl = "WindowGroupLimit".r.findAllIn(p).length
      assert(wgl >= 2, s"$q lost its WindowGroupLimit pre-reduce ($wgl found)")
    }
  }

  test("q67 plan shape is pinned: scan/exchange/join counts unchanged") {
    // adjudication pin for the twice-flagged q67 bench drift (round 8
    // verdict): the committed quiet-window evidence (PERF.md round 9)
    // shows the operator at 3.4-3.6s isolated with an unchanged plan —
    // the bench-context inflation is JVM neighborhood (codegen-cache /
    // GC), not a plan regression. This pin makes any FUTURE structural
    // regression (extra scan, lost broadcast, extra shuffle) fail CI
    // instead of surfacing as an unexplained drift flag.
    val p = plan("q67_corpus_pipeline")
    def uniq(pat: String): Int =
      pat.r.findAllMatchIn(p).map(_.group(1)).toSet.size
    val scans = uniq("""Scan parquet\s+\((\d+)\)""")
    val shuffles = uniq("""[^t]Exchange\s+\((\d+)\)""")
    val broadcasts = uniq("""BroadcastExchange\s+\((\d+)\)""")
    val antis = uniq("""SortMergeJoin LeftAnti\s+\((\d+)\)""")
    assert(scans == 3, s"q67 parquet scans changed: $scans (was 3 — one per " +
      "uncached consumer of documents; more means a lost cache reuse)")
    assert(shuffles == 10, s"q67 shuffle exchanges changed: $shuffles (was 10)")
    assert(broadcasts == 4, s"q67 broadcast joins changed: $broadcasts (was 4 " +
      "— fewer means a broadcast fell back to a shuffle join)")
    assert(antis == 2, s"q67 left-anti joins changed: $antis (near-dup drop + " +
      "decontamination drop)")
  }

  test("top-10 bench plans are pinned: scan/exchange/broadcast counts unchanged") {
    // The drift gate's median pins tolerate noise-band regressions on
    // the heavyweights (round-9 verdict "what's wrong #3"); these
    // structural pins are the compensating control — a lost broadcast,
    // an extra shuffle, or a duplicated scan fails CI on plan SHAPE
    // even when its cost hides inside the timing noise band. Counts
    // follow the q67 pin's convention (pre-AQE formatted plan at
    // sf0.001; node ids deduped). q67 itself is pinned separately.
    val pins = Map(
      // name -> (parquet scans, shuffle exchanges, broadcasts, left-antis)
      "q77_corpus_pipeline_full" -> (4, 15, 9, 2),
      "q48_bill_stages_flatten" -> (1, 3, 0, 0),
      "q73_incremental_dedup" -> (6, 17, 8, 1),
      "q78_incremental_dedup_prepared" -> (3, 16, 8, 1),
      "q83_skew_ingest_capped" -> (2, 17, 8, 1),
      "q84_skew_lifecycle_compacted" -> (2, 17, 8, 1),
      "q102_ann_topk_pq" -> (3, 2, 2, 0),
      "q103_ann_topk_pq_trained" -> (3, 2, 2, 0),
      "q107_ann_topk_ivfpq_residual" -> (2, 2, 1, 0),
      "q108_ann_topk_ivfpq_probed" -> (2, 2, 1, 0),
      "q109_ann_topk_ivfpq_refined" -> (4, 2, 3, 0),
      // r19: VectorIndex.query's ADC shortlist moved from a bare
      // row_number window (whose ONE exchange carried the whole probed
      // candidate mass — 2.5 GB of spill at the soak's 2M-vector tier)
      // to the two-stage bounded top-k. Exchange COUNT rises 2→3
      // (the typed groupByKey boundary hides output partitioning from
      // the exact-rerank window, which re-exchanges), but every one of
      // the three now carries batch-sized rows: ≤ shortlist·partitions
      // per query into the merge, ≤ |Q|·shortlist into the re-rank.
      "q110_ann_topk_indexed" -> (4, 3, 3, 0),
      "q79_member_activity_monthly" -> (2, 5, 0, 0),
      // 6 logical doc scans, but the postings-groupBy exchange subtree is
      // identical in the df and contrib branches → ReusedExchange computes
      // it once; stats and the pruned query-derivation scans are cheap
      "q118_bm25_topk" -> (6, 10, 5, 0),
      // prepared serving: postings + termstats read once each + the
      // pruned query-derivation doc scans; every exchange is batch-sized
      // (SearchOpsSpec additionally walks the plan and asserts no shuffle
      // has an index scan beneath it)
      "q120_bm25_topk_prepared" -> (5, 6, 4, 0),
      // hybrid over BOTH persisted indexes: the kw leg is q120's shape,
      // the vector leg q110's (codes/centroids/codebooks + raw-vector
      // rerank fetches), fused by one batch-sized integer agg — neither
      // index side ever sits beneath a shuffle
      // (r19: +1 exchange on the vector leg, the q110 bounded-shortlist
      // note)
      "q125_hybrid_indexed" -> (10, 10, 7, 0),
      // post-GC serving: the lifecycle behind it (build/append/fold/
      // prune) ran before this plan exists; the SERVE plan is the
      // single-consolidated-segment q120 shape — the prune must not
      // change what the reader touches
      "q128_bm25_index_pruned" -> (5, 6, 4, 0),
      // post-GC ANN serving: q110's persisted shape through the pruned
      // version dir (r19: +1 exchange, the q110 bounded-shortlist note)
      "q129_ann_index_pruned" -> (4, 3, 3, 0),
      // one corpus scan gated by the broadcast cut table (the agg pass
      // happened driver-side before this plan exists)
      "q130_mix_token_budget" -> (1, 2, 1, 0),
      // two combinable count aggs (bigram + start vocab) joined back on
      // their OWN keys, one broadcast scalar (V) — at sf0.001 the
      // model-sized count tables broadcast too (3 total); at corpus
      // scale they become shuffle joins on gram/w1, whose Zipf-head
      // skew the saltBuckets path covers (TextStatsSpec fixture)
      "q131_bigram_surprisal" -> (4, 5, 3, 0),
      // SemDeDup: the labeled+quantized corpus persists once (its build
      // scans embeddings twice for base∪pert — visible inside the
      // InMemoryRelation); the in-cell pair join and the verdict
      // join-back are the exchanges, plus the output sort — no global
      // self-join, no broadcast needed beyond the small dup side
      "q136_semantic_dedup" -> (2, 3, 1, 0),
      // DSIR scoring: the 256-row model pass ran driver-side before
      // this plan exists (the q130 convention); serving is ONE corpus
      // scan + the per-doc sum + the output sort, zero joins
      "q137_dsir_scores" -> (1, 2, 0, 0),
      // trained quality classifier: the 3 epochs ran driver-coordinated
      // before this plan exists (kmeansTrain stance); serving reads the
      // persisted DOC-GRAIN feature table (its build scan + the one
      // collect_set groupBy exchange sit inside the InMemoryRelation)
      // and folds the trained weights over each doc's bucket set as a
      // map literal — r20: the old (doc, bucket) layout re-shuffled the
      // feature table for the final margins groupBy (4 exchanges → 3;
      // the survivor trio is the cached build's groupBy, its initial-
      // plan twin, and the output sort), zero joins
      "q138_quality_classifier" -> (1, 3, 0, 0),
      // incremental SemDeDup: the corpus and batch labelings each
      // persist (their embeddings scans sit inside InMemoryRelations);
      // the batch side is small so BOTH pair legs broadcast it against
      // the cell-keyed corpus — per-ingest cost stays batch-sized
      "q139_semantic_dedup_incremental" -> (3, 5, 2, 0),
      // capped SemDeDup under planted hot-cell skew: widths are a
      // combinable cell-count aggregate (persisted for the eager
      // drop-stats action, released before the operator returns, so the
      // keep-list recomputes its k-row count off the cached labeled
      // frame — q144's shape) and the cap is a broadcast semi-join of
      // the model-sized keep-cell list — zero corpus shuffle added, zero
      // Window (asserted structurally below); the extra scan and the
      // hot-clone reference cross come from the fixture's 1-row clone
      // source
      "q143_semantic_dedup_capped" -> (4, 5, 5, 0),
      // capped incremental SemDeDup: q139's shape + one width table
      // and keep-list broadcast per side (each with its own clone-leg
      // reference cross); the judged batch side stays broadcast on
      // both pair legs, so per-ingest cost remains batch-sized under
      // the cap. Round 17: the plain wrapper now RELEASES the width
      // frames after their eager drop-stats action (cache-leak advice),
      // so each leg's keep-list recomputes its k-row count off the
      // still-cached labeled frame instead of reading a persisted width
      // subtree — two fewer distinct exchanges in the executed plan
      // (9 → 7), zero new corpus-sized work
      "q144_semantic_dedup_incremental_capped" -> (7, 7, 8, 0),
      // chunk-level hybrid RAG: the kw leg is q148's chunk-grain BM25
      // (documents re-derived per consumer — doc scans are linear and
      // projection-pruned), the vector leg q110's persisted serve shape
      // over the chunk IVF-PQ index (codes/centroids/codebooks + the
      // PERSISTED rawvecs table for the exact re-rank — built once with
      // the index, never re-embedded per query batch), fused by one
      // batch-sized integer agg; the only nested-loop is bm25's
      // sanctioned 1-row stats scalar cross. Round 19: the re-rank
      // splits its raw relation (query side = the derived qv frame,
      // neighbor side = the cell-partitioned rawvecs store, pruned to
      // the probed cells) — the old unioned relation scanned rawvecs
      // AND the qv documents derivation once per re-rank side, so the
      // split drops two scans (13 → 11)
      // (r19: +1 exchange on the vector leg, the q110 bounded-shortlist
      // note)
      "q150_hybrid_chunks_indexed" -> (11, 14, 8, 0))
    for ((q, (scans, shuffles, broadcasts, antis)) <- pins) {
      val p = plan(q)
      def uniq(pat: String): Int =
        pat.r.findAllMatchIn(p).map(_.group(1)).toSet.size
      assert(uniq("""Scan parquet\s+\((\d+)\)""") == scans,
        s"$q parquet scans changed (was $scans): a lost cache/index reuse " +
          "re-reads the corpus")
      assert(uniq("""[^t]Exchange\s+\((\d+)\)""") == shuffles,
        s"$q shuffle exchanges changed (was $shuffles)")
      assert(uniq("""BroadcastExchange\s+\((\d+)\)""") == broadcasts,
        s"$q broadcasts changed (was $broadcasts): fewer means a broadcast " +
          "fell back to a shuffle join")
      assert(uniq("""SortMergeJoin LeftAnti\s+\((\d+)\)""") == antis,
        s"$q left-anti joins changed (was $antis)")
    }
  }

  test("capped SemDeDup: no Window at all — widths aggregate, keep-cells broadcast") {
    // boundCells derives widths as a COMBINABLE cell-count aggregate
    // (persisted for the drop-stats action, released before the
    // keep-list runs) and applies the cap as a broadcast
    // semi-join, so the cap adds ZERO corpus-sized shuffle: a
    // WindowExec surfacing in q143's executed tree means the cap
    // regressed to the corpus-shuffling cell-window shape
    spark.sharedState.cacheManager.clearCache()
    val df = SparkEntry.queries("q143_semantic_dedup_capped")(spark, dir)
    df.collect() // finalizes the adaptive plan
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.window.WindowExec
    def walk(p: SparkPlan): (Int, Int) = {
      val self = p match {
        case _: WindowExec => (1, 0)
        case _: InMemoryTableScanExec => (0, 1) // leaf: cached body not re-walked
        case a: AdaptiveSparkPlanExec => return walk(a.executedPlan)
        case q: QueryStageExec => return walk(q.plan)
        case _ => (0, 0)
      }
      p.children.map(walk).foldLeft(self) {
        case ((w1, s1), (w2, s2)) => (w1 + w2, s1 + s2) }
    }
    val (windows, cacheScans) = walk(df.queryExecution.executedPlan)
    assert(windows == 0,
      s"cell-width window recomputed live ($windows WindowExec nodes)")
    assert(cacheScans >= 3,
      s"expected the two pair legs + verdict join-back to read caches, got $cacheScans")
  }

  test("q150 exact re-rank: the rawvecs scan carries a probed-cell partition filter") {
    // rawvecs/ persists cell-PARTITIONED and VectorIndex.query's
    // neighborVectors path pushes the collected probed-cell set as a
    // static isin filter (round-18 verdict #3): the exact re-rank's
    // raw-vector read must prune to the probed cell directories the
    // same way the codes scan does — a full-corpus PartitionFilters=[]
    // scan here is the 100 TB regression this pin exists to catch.
    val p = plan("q150_hybrid_chunks_indexed")
    val rawvecsScan = p.linesIterator.zipWithIndex.collectFirst {
      case (l, i) if l.contains("Location") && l.contains("rawvecs") => i
    }
    assert(rawvecsScan.isDefined, "no rawvecs scan found in the q150 plan")
    // the scan's detail block: PartitionFilters must name cell IN (...)
    val block = p.linesIterator.slice(rawvecsScan.get - 6, rawvecsScan.get + 6)
      .mkString("\n")
    val pf = block.linesIterator.find(_.contains("PartitionFilters"))
    assert(pf.exists(l => l.contains("cell") && l.contains("IN") &&
        !l.matches(".*PartitionFilters: \\[\\].*")),
      s"rawvecs scan lost its probed-cell partition filter:\n$block")
  }

  test("bigram surprisal: combinable aggs, no window, no corpus self-join, one sanctioned vocab cross") {
    // the round-13 verdict's q131 ask: the model derivations must be
    // map-side-combinable counts joined back on their own keys — never
    // a window over the gram table or an occurrence self-join. The one
    // BroadcastNestedLoopJoin is the sanctioned 1-row vocab scalar
    // (crossJoin(broadcast(V))); a second one appearing means a real
    // join degenerated.
    val p = plan("q131_bigram_surprisal")
    assert(!p.contains("Window"), "surprisal regressed to a window")
    assert(!p.contains("CartesianProduct"), "surprisal contains a cartesian")
    assert(p.contains("partial_count"),
      s"count aggs lost map-side combine:\n${p.take(1500)}")
    val bnlj = """BroadcastNestedLoopJoin[^\n(]*\((\d+)\)""".r
      .findAllMatchIn(p).map(_.group(1)).toSet.size
    assert(bnlj == 1, s"expected exactly the 1-row vocab cross, got $bnlj BNLJs:\n" +
      p.linesIterator.filter(_.contains("Join")).mkString("\n"))
  }

  test("scrub/quality operators are pure projections: no exchange at all") {
    // PII redaction and the quality gate must stay scan-side — a shuffle
    // appearing here means a window/groupBy snuck into a per-row op
    Seq("q70_pii_redact", "q71_quality_gate").foreach { q =>
      val p = plan(q)
      val exchanges = p.linesIterator.count(_.matches("""\(\d+\) Exchange\s*"""))
      // the output orderBy is the only permitted exchange (range part.)
      assert(exchanges <= 1, s"$q shuffles beyond the output sort: $exchanges")
      assert(!p.contains("CartesianProduct"))
    }
  }

  test("vector-index streaming encode is exchange-free: per-trigger cost never shuffles") {
    // the intake sink's per-batch work is VectorIndex.encode — coarse
    // assign + residual + PQ codes, all against driver-baked model
    // constants. A shuffle appearing here would make every micro-batch
    // pay an exchange, breaking the batch-proportional trigger cost the
    // 100 TB streaming story rests on
    import graft.operators.VectorIndex
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val (model, _) = VectorIndex.build(emb, "vec_id", "embedding", "label",
      dim = 64, m = 4, k = 16)
    val p = VectorIndex.encode(emb, "vec_id", "embedding", model)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"),
      s"streaming encode must stay scan-side:\n${p.take(1500)}")
    assert(!p.contains("CartesianProduct"))
  }

  test("exact dedup is a combinable min-agg, not a per-group window") {
    // a row_number window puts every member of one text-hash group in a
    // single task's sort — a mass-duplicate corpus (millions of copies
    // of one boilerplate page) becomes a one-task spill. The min-agg +
    // semi-join shape contributes one (hash, min) row per input
    // partition regardless of skew: the plan must show a partial
    // aggregate BEFORE the exchange and no Window at all
    val p = plan("q26_dedup_exact")
    assert(!p.contains("Window"), "exact dedup regressed to a window")
    assert(p.contains("partial_min"),
      s"no map-side partial min before the exchange:\n${p.take(2000)}")
  }

  test("skew-fixture queries stay banded: no all-pairs join over the hot family") {
    // base∪family is 5× the corpus with one degenerate bucket per band —
    // any cartesian/nested-loop here would be the 2e8-pair blowup the
    // cap exists to prevent
    Seq("q82_skew_neardup_capped").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$q degenerated to an all-pairs join")
    }
  }

  test("incremental dedup and span dedup never join the corpus all-pairs") {
    Seq("q73_incremental_dedup", "q75_span_dedup", "q76_ann_topk_trained").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$q degenerated to an all-pairs join")
    }
  }

  test("bloom semi-join prunes before the exchange") {
    val p = plan("q74_bloom_semijoin")
    // the sketch filter must sit in the scan stage, i.e. appear as a
    // Filter BELOW the first Exchange in the lineitem branch; cheap
    // structural proxy: some Filter node mentions the UDF
    assert(p.contains("UDF"), "bloom mightContain filter missing from the plan")
    assert(!p.contains("CartesianProduct"))
  }

  test("stratified sample is a scan-side filter, no pre-agg shuffle") {
    // the hash-gate must sit in the scanned stage: exactly one Exchange
    // (the groupBy), nothing upstream of the filter
    val p = plan("q62_stratified_sample")
    // count detail headers only — FormattedMode prints each node twice
    // (tree line + "(n) Exchange" detail header)
    val exchanges = p.linesIterator.count(_.matches("""\(\d+\) Exchange\s*"""))
    assert(exchanges <= 2, s"sample plan shuffles more than groupBy+sort: $exchanges exchanges")
  }

  test("prepared incremental dedup reads the corpus index, not the corpus") {
    // the index materializes as bucketed catalog tables; the query plan
    // must scan those tables (not recompute the corpus) and the near
    // stage stays bucketed (no all-pairs join)
    val p = plan("q78_incremental_dedup_prepared")
    // registered table names embed the cached root's name (cdx_<root>_
    // v<N>_<dir hash>_<version id>_<table>); the root moved from v2 to
    // v3 with the versioned-root layout
    assert(p.contains("graft_q78v3_index"),
      "corpus side is not read from the prepared bucketed index")
    assert(p.contains("Bucketed: true"),
      "index scans lost the bucketed layout")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "prepared dedup degenerated to an all-pairs join")
  }

  test("experiment fan-out broadcasts the variant list") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val speeches = Seq(("202601", "2026-01-05", "A B", "One. Two.", "S", "s1"))
      .toDF("week_id", "debate_date", "speaker_name", "speech_text", "section_name", "speech_id")
    val cands = graft.operators.ExperimentOps.fanOutCandidates(speeches, Seq(
      graft.operators.ExperimentOps.PromptVariant("v1", "f", "sentence_score"),
      graft.operators.ExperimentOps.PromptVariant("v2", "f", "sentence_score")))
    val p = cands.queryExecution.explainString(FormattedMode)
    // the tiny variant frame must replicate via broadcast, never shuffle
    // the candidate side for the cross
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "variant fan-out did not broadcast")
  }

  test("parity queries keep clean plans: no cartesians, codegen intact") {
    // the q85-q94 oracle tier is correctness surface, but its plans must
    // still be the ones a library user would inherit
    for (q <- Seq("q86_nfkd_name_join", "q87_tally_explode", "q88_scalar_canon",
        "q91_record_hash", "q93_experiment_summary", "q95_profile_metrics",
        "q96_current_members")) {
      val df = SparkEntry.queries(q)(spark, dir)
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct"), s"$q grew a cartesian")
      assert(p.contains("*("), s"$q lost codegen:\n${p.take(1200)}")
    }
    // the NFKD join's deduped roster is dimension-sized → must broadcast,
    // and the normalize_name expression must sit inside codegen (the
    // whole point of promoting it from a UDF)
    val j = SparkEntry.queries("q86_nfkd_name_join")(spark, dir)
    j.collect()
    val jp = j.queryExecution.executedPlan.toString
    assert(jp.contains("BroadcastHashJoin"), "q86 roster join did not broadcast")
    assert(jp.contains("normalize_name"), "q86 lost the native expression")
  }

  test("the intake decision stays in the versioned store") {
    // who may feed an index root, and when a replayed batch is skipped,
    // is one store method (VersionedStore.intakeTrigger); a sink or an
    // operator that reads the owner record, takes claims itself or
    // re-checks the ledger re-grows the per-family copies it replaced
    val owners = Set("io/VersionedStore.scala", "io/IndexMeta.scala")
    for ((p, text) <- mainSources if !owners(p);
         token <- Seq("intake_owner", "IndexMeta.claimDir", "IndexMeta.withIntakeClaim"))
      assert(!text.contains(token), s"$p references $token outside the store")
    val sinks = mainSources.toMap.apply("streaming/StreamOps.scala")
    for (call <- Seq("batchApplied", "withServedDir"))
      assert(!sinks.contains(call), s"StreamOps calls $call: use VersionedStore.intakeTrigger")
    assert("def vector\\w*Sink".r.findAllIn(sinks).size == 1, "StreamOps has more than one vector sink")
  }

  test("the cache decision stays in CacheScope") {
    // who releases a persisted intermediate, and when, is one rule
    // (core/CacheScope); a bare Dataset persist, a tuple-returning
    // *WithCaches twin or a cacheShingles flag re-grows the per-operator
    // conventions it replaced
    val bare = """(?<!CacheScope)\.(persist\(|cache\(\))""".r
    for ((p, text) <- mainSources if p != "core/CacheScope.scala") {
      bare.findFirstIn(text).foreach(m => fail(s"$p calls $m outside CacheScope"))
      """\w*WithCaches\b""".r.findFirstIn(text).foreach(m => fail(s"$p defines or calls $m"))
      assert(!text.contains("cacheShingles"), s"$p has a cacheShingles flag")
    }
  }

  /** Every main-tree source as (path under graft/, text). */
  private lazy val mainSources: List[(String, String)] = {
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    val walk = java.nio.file.Files.walk(root)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      .map(p => root.relativize(p).toString ->
        new String(java.nio.file.Files.readAllBytes(p), "UTF-8"))
    finally walk.close()
  }
}
