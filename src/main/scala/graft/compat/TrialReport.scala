package graft.compat

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.CacheScope

/** Side-by-side trial report for the member-profile-metrics cutover
  * (reference extract/oireachtas/member_profile_trial_report.py:1-165):
  * the legacy metrics table and the trial (compat) rebuild are compared
  * on row counts, distinct member codes, overlap, and shared columns;
  * the result is a fixed 8-check summary table plus its DQ verdict,
  * manifest, and a markdown report.
  *
  * Spark-first split: the only data-sized work is the two member-code
  * key sets (distinct non-blank codes — set algebra on frames, the
  * ReviewOps.mismatchSummary shape); everything downstream of the 8
  * summary rows is review-sized by construction and stays on the
  * driver, like the reference's pandas tail. The trial frame here is
  * the OUTPUT of ProfileMetrics.build (q95's hash-green mart) — the
  * reference reads the same table back from S3 CSV.
  */
object TrialReport {

  val TableName = "member_profile_metrics_trial"

  /** member_profile_trial_report.py:103-106 _member_set: distinct
    * trimmed non-blank member codes; empty when the column is absent.
    */
  private def memberCodes(df: DataFrame): DataFrame =
    if (!df.columns.contains("member_code"))
      df.sparkSession.emptyDataFrame.withColumn("member_code", lit(""))
        .limit(0)
    else df.select(trim(coalesce(col("member_code"), lit(""))).as("member_code"))
      .filter(col("member_code") =!= "").distinct()

  /** member_profile_trial_report.py:88-100 _summary_rows: the fixed
    * 8-check comparison. Values are strings (the reference mixes ints
    * and "" in one column; markdown and DQ only read check_name/status).
    */
  def summaryRows(legacy: DataFrame, trial: DataFrame,
                  legacyKey: String, trialKey: String): Seq[Map[String, String]] = {
    val (legacyMembers, trialMembers, matched, trialOnly, legacyOnly) = CacheScope.run {
      val lk = CacheScope.persist(memberCodes(legacy))
      val tk = CacheScope.persist(memberCodes(trial))
      (lk.count(), tk.count(), lk.intersect(tk).count(), tk.except(lk).count(),
        lk.except(tk).count())
    }
    val legacyRows = legacy.count()
    val trialRows = trial.count()
    val commonColumns = (legacy.columns.toSet & trial.columns.toSet).toSeq.sorted
    def row(name: String, status: String, lv: String, tv: String,
            msg: String): Map[String, String] =
      Map("check_name" -> name, "status" -> status,
        "legacy_value" -> lv, "trial_value" -> tv, "message" -> msg)
    Seq(
      row("legacy_rows", "info", legacyRows.toString, "", legacyKey),
      row("trial_rows", if (trialRows > 0) "pass" else "fail",
        "", trialRows.toString, trialKey),
      row("legacy_member_count", "info", legacyMembers.toString, "",
        "distinct legacy member_code"),
      row("trial_member_count", if (trialMembers > 0) "pass" else "fail",
        "", trialMembers.toString, "distinct trial member_code"),
      row("matched_member_count", if (matched > 0) "pass" else "warn",
        legacyMembers.toString, matched.toString, "legacy/trial member_code overlap"),
      row("trial_only_member_count", "info", "", trialOnly.toString,
        "member_code only in trial"),
      row("legacy_only_member_count", "info", legacyOnly.toString, "",
        "member_code only in legacy"),
      row("common_column_count", if (commonColumns.nonEmpty) "pass" else "warn",
        legacy.columns.length.toString, commonColumns.size.toString,
        commonColumns.mkString(",")))
  }

  /** member_profile_trial_report.py:109-127 _dq over the summary rows. */
  def dq(rows: Seq[Map[String, String]]): Map[String, Any] = {
    val rowCount = rows.size.toLong
    val names = rows.map(_.getOrElse("check_name", ""))
    val pkUnique = names.distinct.size == names.size
    val failing = rows.filter(_.getOrElse("status", "") == "fail")
      .map(_.getOrElse("check_name", ""))
    val status = if (rowCount > 0 && pkUnique && failing.isEmpty) "pass" else "fail"
    Map(
      "table" -> TableName,
      "dq_status" -> status,
      "row_count" -> rowCount,
      "primary_key" -> Seq("check_name"),
      "primary_key_unique" -> pkUnique,
      "checks" -> Seq(
        Map("check_name" -> "row_count_gt_zero",
          "status" -> (if (rowCount > 0) "pass" else "fail"),
          "metric_value" -> rowCount),
        Map("check_name" -> "primary_key_unique",
          "status" -> (if (pkUnique) "pass" else "fail")),
        Map("check_name" -> "no_failed_checks",
          "status" -> (if (failing.isEmpty) "pass" else "fail"),
          "failing_checks" -> failing)))
  }

  /** member_profile_trial_report.py:36-82 manifest (clock injectable —
    * the F4 convention; run_id = table + compact UTC stamp).
    */
  def manifest(rows: Seq[Map[String, String]], dqMap: Map[String, Any],
               legacyKey: String, trialKey: String, trialParquetKey: String,
               startedAtUtc: String, finishedAtUtc: String,
               runId: String): Map[String, Any] = {
    val names = rows.map(_.getOrElse("check_name", ""))
    val base = s"processed/oireachtas_unified/review/$TableName/latest"
    Map(
      "table" -> TableName,
      "mode" -> "trial",
      "status" -> (if (dqMap.get("dq_status").contains("fail")) "failed" else "success"),
      "run_id" -> runId,
      "snapshot_date" -> startedAtUtc.take(10),
      "started_at_utc" -> startedAtUtc,
      "finished_at_utc" -> finishedAtUtc,
      "output_rows" -> rows.size.toLong,
      "primary_key" -> Seq("check_name"),
      "primary_key_unique" -> (names.distinct.size == names.size),
      "dq_status" -> dqMap.getOrElse("dq_status", "fail"),
      "legacy_key" -> legacyKey,
      "trial_key" -> trialKey,
      "trial_parquet_key" -> trialParquetKey,
      "s3_keys" -> Map(
        "manifest" -> s"processed/oireachtas_unified/compat/manifests/$TableName/run_id=$runId.json",
        "review_sample" -> s"$base/sample.csv",
        "review_schema" -> s"$base/schema.json",
        "review_manifest" -> s"$base/manifest.json",
        "review_report" -> s"$base/report.md"))
  }

  private val Columns =
    Seq("check_name", "status", "legacy_value", "trial_value", "message")

  /** member_profile_trial_report.py:130-153 _markdown_report +
    * _simple_markdown_table: pipes escaped, cells truncated at 400
    * chars (the cutover reports truncate at 300 — this one is its own
    * tool and keeps its own bound), trailing blank line.
    */
  def markdownReport(rows: Seq[Map[String, String]],
                     manifest: Map[String, Any]): String = {
    val header = "| " + Columns.mkString(" | ") + " |"
    val sep = "| " + Columns.map(_ => "---").mkString(" | ") + " |"
    val body = rows.map(r => "| " + Columns.map(c =>
      r.getOrElse(c, "").replace("|", "\\|").take(400)).mkString(" | ") + " |")
    (Seq(
      "# Member profile metrics side-by-side trial",
      "",
      s"Run ID: `${manifest.getOrElse("run_id", "")}`",
      s"Legacy key: `${manifest.getOrElse("legacy_key", "")}`",
      s"Trial key: `${manifest.getOrElse("trial_key", "")}`",
      s"Trial parquet key: `${manifest.getOrElse("trial_parquet_key", "")}`",
      "",
      "The trial output is non-destructive and does not replace legacy member profile metrics.",
      "",
      header, sep) ++ body ++ Seq("")).mkString("\n")
  }

  /** The whole report in one call: rows → dq → manifest → markdown
    * (member_profile_trial_report.py:33-82 build_member_profile_trial_report,
    * minus the S3 puts — the repo side writes through TableIO /
    * BatchStore at the caller's chosen root).
    */
  def build(legacy: DataFrame, trial: DataFrame,
            legacyKey: String, trialKey: String, trialParquetKey: String,
            nowIso: () => String): (Seq[Map[String, String]], Map[String, Any],
                                    Map[String, Any], String) = {
    val startedAt = nowIso()
    // run_id stamp = ISO instant compacted to %Y%m%dT%H%M%SZ
    // (member_profile_trial_report.py:35)
    val runId = TableName + "_" + startedAt.replaceAll("[-:]", "").take(15) + "Z"
    val rows = summaryRows(legacy, trial, legacyKey, trialKey)
    val d = dq(rows)
    val m = manifest(rows, d, legacyKey, trialKey, trialParquetKey,
      startedAt, nowIso(), runId)
    (rows, d, m, markdownReport(rows, m))
  }
}
