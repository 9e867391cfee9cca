package graft.compat

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.CacheScope
import graft.sources.XmlDebateWalker.stableHash

/** Cutover review tooling (reference
  * extract/oireachtas/cutover_comparison.py:82-156 and
  * extract/oireachtas/mismatch_review.py:42-204): the legacy-vs-unified
  * dataset comparisons and the member-code mismatch detail report that
  * gate a production cutover. Key-set work runs as distributed set
  * algebra; the outputs (one row per comparison / per mismatched code)
  * are review-sized by construction.
  */
object ReviewOps {

  /** First non-blank among the candidate columns PRESENT in the schema
    * (the reference probes row keys the same way), else empty string.
    */
  private def coalescePresent(df: DataFrame, candidates: Seq[String]): Column = {
    val present = candidates.filter(df.columns.contains)
    if (present.isEmpty) lit("")
    else coalesce(present.map(c => when(trim(col(c)) =!= "", trim(col(c)))) :+ lit(""): _*)
  }

  /** mismatch_review.py:141-156 _member_lookup as a frame: blank codes
    * dropped, descriptive fields through their fallback chains. The
    * reference's dict builds last-row-wins on duplicate codes; a
    * distributed frame has no row order, so duplicates resolve to the
    * lexicographic max struct — identical whenever codes are unique
    * (the contract for these rosters).
    */
  def memberLookup(df: DataFrame): DataFrame = {
    if (!df.columns.contains("member_code"))
      return df.sparkSession.emptyDataFrame
        .withColumn("member_code", lit(""))
        .withColumn("full_name", lit("")).withColumn("party", lit(""))
        .withColumn("constituency", lit("")).withColumn("source_hint", lit(""))
    df.select(
        trim(col("member_code")).as("member_code"),
        coalescePresent(df, Seq("full_name", "member_name", "name")).as("full_name"),
        coalescePresent(df, Seq("party", "party_name", "latest_party_name")).as("party"),
        coalescePresent(df, Seq("constituency", "constituency_name", "latest_constituency_name")).as("constituency"),
        coalescePresent(df, Seq("source", "snapshot_date", "house_no")).as("source_hint"))
      .filter(col("member_code") =!= "")
      .groupBy("member_code")
      .agg(max(struct(col("full_name"), col("party"), col("constituency"), col("source_hint"))).as("s"))
      .select(col("member_code"), col("s.full_name"), col("s.party"),
        col("s.constituency"), col("s.source_hint"))
  }

  /** mismatch_review.py:168-185 detail rows for both sides of the
    * key-set diff, ordered (dataset, side, member_code).
    */
  def mismatchDetail(legacy: DataFrame, unified: DataFrame,
                     datasetName: String, unifiedLabel: String = "compat"): DataFrame = {
    val ll = memberLookup(legacy)
    val ul = memberLookup(unified)
    def side(primary: DataFrame, secondary: DataFrame, sideName: String,
             primaryLabel: String, secondaryLabel: String): DataFrame =
      primary.join(secondary.select(col("member_code")), Seq("member_code"), "left_anti")
        .select(
          concat(lit(s"$datasetName:$sideName:"), col("member_code")).as("review_id"),
          lit(datasetName).as("dataset_name"),
          lit(sideName).as("side"),
          col("member_code"), col("full_name"), col("party"),
          col("constituency"), col("source_hint"),
          lit(if (primaryLabel == "legacy_key") "present" else "missing").as("legacy_key"),
          lit(if (primaryLabel == "unified_key") "present" else "missing").as("unified_key"),
          lit(false).as("other_side_present"))
    side(ll, ul, "legacy_only", "legacy_key", "unified_key")
      .unionByName(side(ul, ll, s"${unifiedLabel}_only", "unified_key", "legacy_key"))
      .orderBy("dataset_name", "side", "member_code")
  }

  /** mismatch_review.py:68-70 summary counts for one dataset pair. */
  def mismatchSummary(legacy: DataFrame, unified: DataFrame,
                      datasetName: String): Map[String, Any] = {
    CacheScope.run {
      val lk = CacheScope.persist(memberLookup(legacy).select("member_code"))
      val uk = CacheScope.persist(memberLookup(unified).select("member_code"))
      val matched = lk.intersect(uk).count()
      val legacyOnly = lk.except(uk).count()
      val unifiedOnly = uk.except(lk).count()
      Map(
        "dataset_name" -> datasetName,
        "legacy_rows" -> legacy.count(),
        "unified_rows" -> unified.count(),
        "legacy_member_count" -> lk.count(),
        "unified_member_count" -> uk.count(),
        "matched_member_count" -> matched,
        "legacy_only_count" -> legacyOnly,
        "unified_only_count" -> unifiedOnly)
    }
  }

  /** mismatch_review.py:188-204 _dq. */
  def mismatchDq(detail: DataFrame, summaries: Seq[Map[String, Any]]): Map[String, Any] = {
    val rowCount = detail.count()
    val pkUnique = rowCount == 0 ||
      detail.groupBy("review_id").count().filter(col("count") > 1).isEmpty
    Map(
      "table" -> "compat_member_code_mismatch_review",
      "dq_status" -> (if (pkUnique) "pass" else "fail"),
      "row_count" -> rowCount,
      "primary_key" -> Seq("review_id"),
      "primary_key_unique" -> pkUnique,
      "summary" -> summaries)
  }

  /** cutover_comparison.py:82-122 _compare_pair: one comparison row. A
    * missing unified output fails, a missing legacy input only warns
    * (the legacy side is being retired), key metrics blank out when a
    * join column is absent on either side.
    */
  def comparePair(comparisonName: String, legacyKey: String, unifiedKey: String,
                  legacy: Option[DataFrame], unified: Option[DataFrame],
                  legacyJoin: String, unifiedJoin: String): Map[String, String] = {
    def keysOf(df: DataFrame, join: String): Option[DataFrame] =
      if (df.columns.contains(join))
        Some(df.select(trim(coalesce(col(join), lit(""))).as("k")).filter(col("k") =!= "").distinct())
      else None
    def coverage(dfOpt: Option[DataFrame], join: String): String = dfOpt match {
      case Some(df) if df.columns.contains(join) && !df.isEmpty =>
        val populated = df.filter(trim(coalesce(col(join), lit(""))) =!= "").count()
        f"${populated.toDouble / math.max(1L, df.count()) * 100}%.2f"
      case _ => ""
    }
    val lks = legacy.flatMap(keysOf(_, legacyJoin))
    val uks = unified.flatMap(keysOf(_, unifiedJoin))
    val (matched, legacyOnly, unifiedOnly) = (lks, uks) match {
      case (Some(l), Some(u)) =>
        CacheScope.run {
          val lc = CacheScope.persist(l); val uc = CacheScope.persist(u)
          (lc.intersect(uc).count().toString,
            lc.except(uc).count().toString, uc.except(lc).count().toString)
        }
      case _ => ("", "", "")
    }
    val unifiedRows = unified.map(_.count()).getOrElse(0L)
    val status =
      if (legacy.isEmpty) "warn"
      else if (unified.nonEmpty && unifiedRows > 0) "pass" else "fail"
    Map(
      "comparison_name" -> comparisonName,
      "status" -> status,
      "legacy_key" -> legacyKey,
      "unified_key" -> unifiedKey,
      "legacy_exists" -> legacy.nonEmpty.toString,
      "unified_exists" -> unified.nonEmpty.toString,
      "legacy_rows" -> legacy.map(_.count()).getOrElse(0L).toString,
      "unified_rows" -> unifiedRows.toString,
      "legacy_columns" -> legacy.map(_.columns.length).getOrElse(0).toString,
      "unified_columns" -> unified.map(_.columns.length).getOrElse(0).toString,
      "legacy_join_column" -> legacyJoin,
      "unified_join_column" -> unifiedJoin,
      "legacy_join_coverage_pct" -> coverage(legacy, legacyJoin),
      "unified_join_coverage_pct" -> coverage(unified, unifiedJoin),
      "matched_key_count" -> matched,
      "legacy_only_key_count" -> legacyOnly,
      "unified_only_key_count" -> unifiedOnly,
      "comparison_id" -> s"cmp:${stableHash(Seq(comparisonName, legacyKey, unifiedKey), 24)}")
  }

  /** cutover_comparison.py:137-156 _dq over the comparison rows. */
  def cutoverDq(rows: Seq[Map[String, String]]): Map[String, Any] = {
    val requiredCols = Seq("comparison_name", "status", "legacy_key", "unified_key",
      "unified_exists", "unified_rows")
    val missingColumns =
      if (rows.isEmpty) requiredCols.sorted
      else requiredCols.filterNot(rows.head.keySet).sorted
    val names = rows.map(_.getOrElse("comparison_name", ""))
    val pkUnique = names.nonEmpty && names.distinct.size == names.size
    val unifiedPresent = rows.nonEmpty && rows.forall(_.getOrElse("unified_exists", "") == "true")
    val status =
      if (rows.nonEmpty && missingColumns.isEmpty && pkUnique && unifiedPresent) "pass" else "warn"
    Map(
      "table" -> "cutover_comparison_report",
      "dq_status" -> status,
      "row_count" -> rows.size.toLong,
      "primary_key" -> Seq("comparison_name"),
      "primary_key_unique" -> pkUnique,
      "missing_columns" -> missingColumns,
      "unified_outputs_present" -> unifiedPresent)
  }

  /** Simple escaped markdown table (cutover_comparison.py:172-184 /
    * mismatch_review.py:226-233): header + per-record cells, pipes
    * escaped, values truncated at 300 chars, "No rows." when empty.
    */
  def markdownTable(columns: Seq[String], records: Seq[Map[String, String]]): String =
    if (records.isEmpty) "No rows."
    else {
      val header = "| " + columns.mkString(" | ") + " |"
      val sep = "| " + columns.map(_ => "---").mkString(" | ") + " |"
      val body = records.map { r =>
        "| " + columns.map(c => r.getOrElse(c, "").replace("|", "\\|").take(300)).mkString(" | ") + " |"
      }
      (Seq(header, sep) ++ body).mkString("\n")
    }
}
