package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** End-to-end training-corpus curation: the composition a 100 TB
  * pipeline actually runs, built from the individual operators —
  *
  *  1. repetition filter (drop docs whose duplicate-word fraction
  *     exceeds a threshold, Gopher-style),
  *  2. exact dedup (keep the smallest id per normalized text),
  *  3. near-dup removal (drop the larger id of every 3-gram Jaccard
  *     pair ≥ threshold; candidates via MinHash+LSH, exact verify),
  *  4. benchmark decontamination (drop the eval docs themselves and
  *     every train doc sharing a 5-gram with one).
  *
  * Each chain ([[curate]]'s and [[curateFull]]'s) has ONE definition
  * that hands every stage's survivors to a stage boundary, in chain
  * order, and builds the next stage on what the boundary returns:
  *
  *  - the lazy variants (`curate*`, `curate*Stages`) persist the stages
  *    later stages read more than once and return one declarative plan
  *    per stage (the q67/q77 query shape);
  *  - the sinks (`*ToParquet`) land each stage — write
  *    `outDir/<label>.parquet`, read it back — so the next stage is
  *    built over a small parquet leaf after the one before it has run,
  *    never over the whole upstream lineage. That is the medallion
  *    discipline: no stage's plan is re-analyzed or re-executed by a
  *    later one, and the landed stages give restartability.
  *
  * Caches internal to one stage (the span stage's tokenization, the
  * near-dup shingle table) persist in both shapes; a sink releases each
  * once the stage it serves has landed.
  */
object CurationPipeline {

  /** Where a chain's stages go. `stage` is called at each stage boundary
    * in chain order and returns the frame later stages build on; `report`
    * takes a monitoring report by name, so a boundary that does not keep
    * it never builds its plan; `release` ends a stage-internal cache once
    * the stage it serves has landed.
    */
  private final case class Boundary(stage: (String, DataFrame) => DataFrame,
                                    report: (String, => DataFrame) => Unit,
                                    release: DataFrame => Unit)

  /** The lazy boundary: persist the named stages, pass everything else
    * through, drop the reports unbuilt; stage-internal caches stay alive
    * for the returned plans.
    */
  private def persisting(labels: String*): Boundary = Boundary(
    (label, df) => if (labels.contains(label)) df.persist(StorageLevel.MEMORY_AND_DISK) else df,
    (_, _) => (),
    _ => ())

  /** The sink boundary: write `outDir/<label>.parquet` (stages and
    * reports alike) and continue from the landed stage; stage-internal
    * caches unpersist once landed. The read-back takes the schema just
    * written, so landing a stage runs no footer-inference job.
    */
  private def landing(outDir: String): Boundary = {
    def write(label: String, df: DataFrame): String = {
      val path = s"$outDir/$label.parquet"
      df.write.mode("overwrite").parquet(path)
      path
    }
    Boundary((label, df) => df.sparkSession.read.schema(df.schema).parquet(write(label, df)),
      (label, df) => write(label, df),
      _.unpersist())
  }

  /** The (doc_id, lang, _is_eval, _nt norm text, _ws words) frame both
    * chains start from; one materialized tokenization feeds stage 1
    * (lambda-CSE: see DedupOps.shinglesOfWords).
    */
  private def tokenized(docs: DataFrame, textCol: String, idCol: String, langCol: String,
                        evalPred: Column): DataFrame =
    docs.select(
        col(idCol).cast("long").as("doc_id"),
        col(langCol).as("lang"),
        evalPred.as("_is_eval"),
        DedupOps.normText(col(textCol)).as("_nt"))
      .withColumn("_ws", split(col("_nt"), " "))

  /** Survivors of the full chain, carrying (doc_id, lang, _nt norm
    * text, _ws words). `maxDupTenths` = allowed duplicate-word
    * fraction in tenths (7 → 70%), compared in exact integer
    * arithmetic.
    *
    * Stages 1-3 run on the TRAIN split only; decontamination compares
    * against the full ORIGINAL eval set — an eval doc must contaminate
    * even when dedup or the repetition filter would have dropped it as
    * a train doc.
    */
  def curate(docs: DataFrame, textCol: String, idCol: String, langCol: String,
             evalPred: Column, maxDupTenths: Int = 7,
             ngramN: Int = 3, jaccardThreshold: Double = 0.5,
             contamN: Int = 5,
                 maxBucket: Int = DedupOps.DefaultMaxBucket): DataFrame =
    curateStages(docs, textCol, idCol, langCol, evalPred, maxDupTenths,
      ngramN, jaccardThreshold, contamN, maxBucket).last._2

  /** [[curate]] with its stage boundaries exposed (label → survivors so
    * far) — the profiling surface: timing each frame gives the
    * cumulative cost up to that stage.
    */
  def curateStages(docs: DataFrame, textCol: String, idCol: String, langCol: String,
                   evalPred: Column, maxDupTenths: Int = 7,
                   ngramN: Int = 3, jaccardThreshold: Double = 0.5,
                   contamN: Int = 5,
                 maxBucket: Int = DedupOps.DefaultMaxBucket): Seq[(String, DataFrame)] =
    curateChain(docs, textCol, idCol, langCol, evalPred, maxDupTenths,
      ngramN, jaccardThreshold, contamN, maxBucket,
      persisting("2_exact_dedup", "3_near_dedup"))

  /** [[curate]]'s one chain definition, stages handed to `at` in order;
    * the near-dup cap-drop report ("no silent caps") goes to `at.report`
    * as `reports/near_dup_cap_drops` over the same shingle frame the
    * candidates ran on.
    */
  private def curateChain(docs: DataFrame, textCol: String, idCol: String,
                          langCol: String, evalPred: Column, maxDupTenths: Int,
                          ngramN: Int, jaccardThreshold: Double, contamN: Int,
                          maxBucket: Int, at: Boundary): Seq[(String, DataFrame)] = {
    val base = tokenized(docs, textCol, idCol, langCol, evalPred)
    val train = base.filter(!col("_is_eval"))

    // 1. repetition filter
    val keep1 = at.stage("1_repetition_gate", train.filter(size(col("_ws")) >= 2 &&
      (size(col("_ws")) - size(array_distinct(col("_ws")))) * 10 <=
        size(col("_ws")) * maxDupTenths))

    // 2. exact dedup: min doc_id per normalized text (combinable
    // min-agg + semi-join — skew-proof on mass-duplicate corpora, see
    // DedupOps.keepMinIdPerText). It feeds the near-dup shingle table
    // AND the anti-join base.
    val keep2 = at.stage("2_exact_dedup", DedupOps.keepMinIdPerText(keep1, "_nt", "doc_id"))

    // 3. near-dup removal: LSH candidates + exact verify (same engine
    // as q28; _nt is already normalized so re-normalization is a
    // no-op), drop the larger id of each pair. The shingle table is
    // persisted HERE (not inside minhashNearDupPairs) so the chain owns
    // every cache it creates.
    val sh = DedupOps.shingleHashTable(keep2, "_nt", "doc_id", ngramN)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val keep3 = try {
      val dropped = DedupOps.minhashNearDupPairsFromShingles(sh,
          threshold = jaccardThreshold, cacheShingles = false, maxBucket = maxBucket)
        .select(col("doc_b").as("doc_id")).distinct()
      val landed = at.stage("3_near_dedup", keep2.join(dropped, Seq("doc_id"), "left_anti"))
      at.report("reports/near_dup_cap_drops",
        DedupOps.minhashOversizedBuckets(sh, maxBucket = maxBucket))
      landed
    } finally at.release(sh)

    // 4. decontamination: survivors vs the full original eval set
    // (union keeps contaminationReport's single-input shape; the eval
    // side broadcasts)
    val contaminated = DedupOps.contaminationReport(
        keep3.select("doc_id", "_nt").unionByName(
          base.filter(col("_is_eval")).select("doc_id", "_nt")),
        "_nt", "doc_id", evalPred, contamN)
      .select(col("train_doc").as("doc_id"))
    val result = at.stage("4_decontaminated", keep3.join(contaminated, Seq("doc_id"), "left_anti"))
    Seq("1_repetition_gate" -> keep1, "2_exact_dedup" -> keep2,
      "3_near_dedup" -> keep3, "4_decontaminated" -> result)
  }

  /** [[curate]] in the corpus-scale shape: each stage lands as
    * `outDir/<label>.parquet` before the next one is built over the
    * landed table, the near-dup cap-drop report lands as
    * `outDir/reports/near_dup_cap_drops.parquet` (a production run never
    * discards mass silently), and every cache the chain created is
    * unpersisted once its stage has landed — a long-lived session can
    * run curation repeatedly without accumulating executor storage.
    * Returns the final survivors read back from parquet.
    */
  def curateToParquet(docs: DataFrame, textCol: String, idCol: String, langCol: String,
                      evalPred: Column, outDir: String, maxDupTenths: Int = 7,
                      ngramN: Int = 3, jaccardThreshold: Double = 0.5,
                      contamN: Int = 5,
                 maxBucket: Int = DedupOps.DefaultMaxBucket): DataFrame =
    curateChain(docs, textCol, idCol, langCol, evalPred, maxDupTenths,
      ngramN, jaccardThreshold, contamN, maxBucket, landing(outDir)).last._2

  /** The FULL curation chain a web-scale training pipeline runs —
    * [[curate]]'s stages plus the scrubbing family, composed in the
    * order that keeps every stage's input well-defined:
    *
    *  1. Gopher quality gate (word count / word length / repetition /
    *     stopwords, integer arithmetic) on the train split,
    *  2. exact dedup (min id per normalized text) — BEFORE the span
    *     stage, deliberately: two full copies share every span, so
    *     span-level dedup run first would blank both instead of
    *     keeping one,
    *  3. line-level boilerplate removal (lineWords-word lines appearing
    *     in ≥ lineMinDocs surviving docs drop from every doc; emptied
    *     docs drop),
    *  4. span-level substring dedup (spanWords-word spans occurring
    *     ≥ spanMinCount times across survivors; emptied docs drop),
    *  5. near-dup removal (MinHash+LSH + exact Jaccard verify on the
    *     cleaned text, drop the larger id),
    *  6. decontamination: survivors sharing a contamN-gram with the
    *     ORIGINAL eval texts drop (eval set is never scrubbed — a
    *     contaminated doc must not escape because scrubbing reshaped
    *     its words).
    *
    * Texts are re-derived between scrubbing stages, so later stages see
    * what earlier stages produced — exactly what the oracle replays.
    */
  def curateFull(docs: DataFrame, textCol: String, idCol: String, langCol: String,
                 evalPred: Column, minWords: Int = 15,
                 lineWords: Int = 4, lineMinDocs: Int = 3,
                 spanWords: Int = 10, spanMinCount: Int = 2,
                 ngramN: Int = 3, jaccardThreshold: Double = 0.5,
                 contamN: Int = 5,
                 maxBucket: Int = DedupOps.DefaultMaxBucket): DataFrame =
    curateFullStages(docs, textCol, idCol, langCol, evalPred, minWords,
      lineWords, lineMinDocs, spanWords, spanMinCount, ngramN,
      jaccardThreshold, contamN, maxBucket).last._2

  /** [[curateFull]] with stage boundaries exposed for profiling. */
  def curateFullStages(docs: DataFrame, textCol: String, idCol: String, langCol: String,
                 evalPred: Column, minWords: Int = 15,
                 lineWords: Int = 4, lineMinDocs: Int = 3,
                 spanWords: Int = 10, spanMinCount: Int = 2,
                 ngramN: Int = 3, jaccardThreshold: Double = 0.5,
                 contamN: Int = 5,
                 maxBucket: Int = DedupOps.DefaultMaxBucket): Seq[(String, DataFrame)] =
    curateFullChain(docs, textCol, idCol, langCol, evalPred, minWords,
      lineWords, lineMinDocs, spanWords, spanMinCount, ngramN,
      jaccardThreshold, contamN, maxBucket,
      persisting("2_exact_dedup", "4_span_dedup", "5_near_dedup"))

  /** [[curateFull]]'s one chain definition (see [[curateChain]]). */
  private def curateFullChain(docs: DataFrame, textCol: String, idCol: String,
                 langCol: String, evalPred: Column, minWords: Int,
                 lineWords: Int, lineMinDocs: Int,
                 spanWords: Int, spanMinCount: Int,
                 ngramN: Int, jaccardThreshold: Double, contamN: Int,
                 maxBucket: Int, at: Boundary): Seq[(String, DataFrame)] = {
    val base = tokenized(docs, textCol, idCol, langCol, evalPred)
    val train = base.filter(!col("_is_eval"))

    // 1. quality gate
    val keep1 = at.stage("1_quality_gate", train
      .filter(size(TextOps.gopherFailReasons(col("_ws"), minWords = minWords)) === 0))

    // 2. exact dedup on the normalized text (before span dedup: full
    // copies share every span and would annihilate each other there).
    // Combinable min-agg + semi-join — skew-proof, see keepMinIdPerText.
    val keep2 = at.stage("2_exact_dedup", DedupOps.keepMinIdPerText(keep1, "_nt", "doc_id"))

    // 3. line-level boilerplate removal over the deduped corpus
    val chunks = transform(
      sequence(lit(0), floor((size(col("_ws")) - 1) / lineWords).cast("int")),
      i => array_join(slice(col("_ws"), i * lineWords + 1, lit(lineWords)), " "))
    val lined = keep2.select(col("doc_id"), array_join(chunks, "\n").as("_lined"))
    val keep3 = at.stage("3_line_scrub",
      ScrubOps.lineFrequencyFilter(lined, "_lined", "doc_id", lineMinDocs)
        .filter(col("text_clean") =!= "")
        .select(col("doc_id"),
          regexp_replace(col("text_clean"), "\n", " ").as("_t")))

    // 4. span-level substring dedup over the line-cleaned corpus;
    // emitWordHashes hands the surviving words' hashes straight to the
    // near-dup stage (no re-tokenize / re-hash of the cleaned text)
    val (spanned, spanCaches) = ScrubOps.spanDedupWithCaches(keep3, "_t", "doc_id",
      spanWords, spanMinCount, emitWordHashes = true)
    val keep4 = try at.stage("4_span_dedup", spanned
        .filter(col("text_clean") =!= "")
        .select(col("doc_id"), col("text_clean").as("_t"), col("wh_clean")))
      finally spanCaches.foreach(at.release)

    // 5. near-dup removal, shingling the span stage's word-hash arrays
    // (chain-owned shingle cache, see curateChain). keep5 carries
    // wh_clean forward: the decontamination stage shingles the SAME
    // surviving-word hashes (split(_t) words == the surviving words,
    // FNV'd == wh_clean) instead of re-tokenizing every survivor
    val shTbl = keep4.select(col("doc_id"),
        DedupOps.shingleHashesOfWordHashes(col("wh_clean"), ngramN).as("sg"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val keep5 = try {
      val dropped = DedupOps.minhashNearDupPairsFromShingles(shTbl,
          threshold = jaccardThreshold, cacheShingles = false, maxBucket = maxBucket)
        .select(col("doc_b").as("doc_id")).distinct()
      val landed = at.stage("5_near_dedup", keep4.join(dropped, Seq("doc_id"), "left_anti")
        .select("doc_id", "_t", "wh_clean"))
      at.report("reports/near_dup_cap_drops",
        DedupOps.minhashOversizedBuckets(shTbl, maxBucket = maxBucket))
      landed
    } finally at.release(shTbl)

    // 6. decontamination vs the ORIGINAL eval texts — eval side hashed
    // with the same FNV kernel so the shingle families match
    val evalWh = ScrubOps.fnvWordHashTable(
        base.filter(col("_is_eval")).select("doc_id", "_nt"), "_nt", "doc_id")
      .select(col("doc_id"), lit(true).as("_is_eval"), col("wh").as("_wh"))
    val trainWh = keep5.select(col("doc_id"), lit(false).as("_is_eval"),
      col("wh_clean").as("_wh"))
    val contaminated = DedupOps.contaminationReportFromWordHashes(
        trainWh.unionByName(evalWh), contamN)
      .select(col("train_doc").as("doc_id"))
    val result = at.stage("6_decontaminated", keep5.join(contaminated, Seq("doc_id"), "left_anti")
      .select("doc_id", "_t")
      .join(base.select("doc_id", "lang"), Seq("doc_id"))
      .withColumn("_ws", split(col("_t"), " ")))
    Seq("1_quality_gate" -> keep1, "2_exact_dedup" -> keep2,
      "3_line_scrub" -> keep3, "4_span_dedup" -> keep4,
      "5_near_dedup" -> keep5, "6_decontaminated" -> result)
  }

  /** [[curateFull]] in the corpus-scale shape (see [[curateToParquet]]):
    * each stage lands as `outDir/<label>.parquet` and the next one is
    * built over the landed table; the span stage's caches release once
    * stage 4 lands, the shingle table once the cap-drop report
    * (`outDir/reports/near_dup_cap_drops.parquet`) is written. Returns
    * the final survivors read back from parquet.
    */
  def curateFullToParquet(docs: DataFrame, textCol: String, idCol: String, langCol: String,
                 evalPred: Column, outDir: String, minWords: Int = 15,
                 lineWords: Int = 4, lineMinDocs: Int = 3,
                 spanWords: Int = 10, spanMinCount: Int = 2,
                 ngramN: Int = 3, jaccardThreshold: Double = 0.5,
                 contamN: Int = 5,
                 maxBucket: Int = DedupOps.DefaultMaxBucket): DataFrame =
    curateFullChain(docs, textCol, idCol, langCol, evalPred, minWords,
      lineWords, lineMinDocs, spanWords, spanMinCount, ngramN,
      jaccardThreshold, contamN, maxBucket, landing(outDir)).last._2

  /** Per-language corpus stats over the curated survivors. The
    * repartition barrier before the orderBy is the q48 trick: the range
    * sampler's separate job then reuses this exchange's map output
    * instead of re-running the whole chain's narrow segments.
    */
  def statsByLang(curated: DataFrame): DataFrame =
    curated.groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(col("_ws")).cast("long")).as("total_tokens"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
      .repartition(col("lang"))
      .orderBy("lang")
}
