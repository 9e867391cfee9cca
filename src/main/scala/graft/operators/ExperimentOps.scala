package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.core.CacheScope

/** LLM prompt-experiment fan-out (SURVEY §2.6 A10 + §2.11 L4; reference
  * process/ridiculous_sentences_experiments.py): run every prompt VARIANT
  * over the candidate corpus, rank per (variant, week), and build the
  * per-(variant, family, approach, week) summary the experimenters read.
  *
  * Spark-first deviations from the reference's per-variant Python loop
  * (run_variant, :661-679):
  *   - sentence candidates build ONCE (the split/word-count/dedupe work is
  *     variant-independent — the reference re-splits every speech per
  *     variant) and fan out via a broadcast cross join with the tiny
  *     variant list;
  *   - scoring is an injected DataFrame transform (like the L1/L3 enrich
  *     kernels: an HTTP scorer at deploy time, a deterministic stub in
  *     tests) applied to the whole fan-out at once — per-week batching,
  *     retry bisection, and echo-back live in EnrichOps.scoreBatchJson;
  *   - ranking and the summary are window + groupBy over the scored set
  *     (select_top_rows :602-612, build_summary :614-631).
  */
object ExperimentOps {

  /** One prompt variant (prompts config entry: variant_id, prompt_family,
    * approach — filter_variants :237-250 drops blank ids/approaches).
    */
  final case class PromptVariant(variantId: String, promptFamily: String, approach: String)

  /** filter_variants: keep well-formed, optionally restrict approach
    * and variant-id set (env APPROACH_FILTER / VARIANT_FILTER).
    */
  def filterVariants(variants: Seq[PromptVariant],
                     approachFilter: Option[String] = None,
                     variantFilter: Set[String] = Set.empty): Seq[PromptVariant] =
    variants.filter { v =>
      v.variantId.trim.nonEmpty && v.approach.trim.nonEmpty &&
        approachFilter.forall(_.equalsIgnoreCase(v.approach)) &&
        (variantFilter.isEmpty || variantFilter.contains(v.variantId))
    }

  /** Variant×candidate fan-out (build_sentence_candidates :291-330): base
    * candidates from [[SentenceOps.buildCandidates]] (split with
    * MAX_SENTENCE_WORDS=60 threaded into the semicolon sub-split,
    * word-count bounds, per-(week, speaker, quote_norm) first-wins — the
    * reference dedupes on (variant, week, speaker, quote_norm) :326, and
    * variant is a constant per base row, so the pre-fan-out dedupe is
    * equivalent), crossed with the variant list. candidate_id is the
    * reference's sha256(variant||week||normalize_ws(speaker)||quote)[:24]
    * (:156-158) — variant-scoped, so every downstream join/retry keys on
    * it.
    *
    * Speeches schema: (week_id, debate_date, speaker_name, speech_text,
    * section_name, speech_id) — extra columns pass through.
    */
  def fanOutCandidates(speeches: DataFrame, variants: Seq[PromptVariant]): DataFrame = {
    val spark = speeches.sparkSession
    import spark.implicits._
    val base = SentenceOps.buildCandidates(
      speeches, "week_id", "speaker_name", "speech_text", minWords = 1, maxWords = 60)
      .filter(col("sentence").rlike("[A-Za-z]"))
      .withColumnRenamed("sentence", "quote")
    val vdf = variants.map(v => (v.variantId, v.promptFamily, v.approach))
      .toDF("variant_id", "prompt_family", "approach")
    base.crossJoin(broadcast(vdf))
      .withColumn("candidate_id",
        substring(sha2(concat_ws("||", col("variant_id"), col("week_id"),
          trim(regexp_replace(col("speaker_name"), "\\s+", " ")), col("quote")), 256), 1, 24))
  }

  /** select_top_rows (:602-612): rank per (variant, week) by score desc,
    * speaker asc, quote asc; keep week_rank ≤ topN. The (variant, week)
    * partitions are bounded by the candidate dedupe, and only top-k rows
    * survive — at corpus scale swap the window for RankOps.denseRankTopK
    * if a single week's candidate count ever explodes.
    */
  def selectTopRows(scored: DataFrame, topN: Int = 10): DataFrame = {
    val w = Window.partitionBy("variant_id", "week_id")
      .orderBy(col("score").desc, col("speaker_name").asc, col("quote").asc)
    scored.withColumn("week_rank", row_number().over(w))
      .filter(col("week_rank") <= topN)
  }

  /** build_summary (:614-631): per (variant_id, prompt_family, approach,
    * week_id) — scored candidate count, retained top-row count, max
    * score, and the mean score of the retained rows. Groups with no top
    * rows keep top_rows=0 and a null avg (reference: None).
    */
  def buildSummary(topRows: DataFrame, allScored: DataFrame): DataFrame = {
    val scoredAgg = allScored
      .groupBy("variant_id", "prompt_family", "approach", "week_id")
      .agg(count(lit(1)).as("scored_candidates"),
        max(col("score")).cast("long").as("max_score"))
    // family/approach are functionally dependent on variant_id — the
    // reference filters top rows by (variant_id, week_id) only
    val topAgg = topRows.groupBy("variant_id", "week_id")
      .agg(count(lit(1)).as("top_rows"),
        avg(col("score")).as("avg_top_score"))
    scoredAgg.join(topAgg, Seq("variant_id", "week_id"), "left")
      .select(col("variant_id"), col("prompt_family"), col("approach"), col("week_id"),
        col("scored_candidates"), coalesce(col("top_rows"), lit(0L)).as("top_rows"),
        col("max_score"), col("avg_top_score"))
      .orderBy("variant_id", "week_id")
  }

  /** The whole experiment (main :681-700): fan out, score (injected
    * transform must add an integer `score` column keyed by candidate_id),
    * rank, summarize. Returns (scored, topRows, summary).
    */
  def runExperiments(speeches: DataFrame, variants: Seq[PromptVariant],
                     scorer: DataFrame => DataFrame,
                     topN: Int = 10): (DataFrame, DataFrame, DataFrame) = {
    val scored = CacheScope.persist(scorer(fanOutCandidates(speeches, variants)))
    val top = selectTopRows(scored, topN)
    (scored, top, buildSummary(top, scored))
  }
}
