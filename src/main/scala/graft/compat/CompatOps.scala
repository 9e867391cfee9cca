package graft.compat

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.CacheScope

/** Legacy-schema compatibility surface (SURVEY §2.2 P2, §2.5 J8; reference
  * extract/oireachtas/downstream_compat.py + compat_comparison.py +
  * contracts.py:157-176): column-mapping adapters and legacy-vs-compat
  * key-set comparison with tolerance thresholds.
  */
object CompatOps {

  private def c(df: DataFrame, name: String): Column =
    if (df.columns.contains(name)) coalesce(col(name).cast("string"), lit("")) else lit("")

  private def firstCol(df: DataFrame, names: String*): Column =
    names.find(df.columns.contains).map(n => c(df, n)).getOrElse(lit(""))

  /** Members roster compat (downstream_compat.py:156-167): snake_case →
    * legacy names with latest_* fallbacks, stable output sort.
    */
  def membersCompat(df: DataFrame): DataFrame =
    df.select(
        c(df, "member_code").as("member_code"),
        c(df, "full_name").as("full_name"),
        firstCol(df, "constituency_name", "latest_constituency_name").as("constituency"),
        firstCol(df, "party_name", "latest_party_name").as("party"),
        firstCol(df, "house_no", "latest_house_no").as("house_no"),
        lit("oireachtas_unified").as("source"),
        c(df, "snapshot_date").as("snapshot_date"))
      .orderBy(col("full_name").asc, col("member_code").asc)

  /** Member-votes compat (downstream_compat.py:169-180): camelCase key,
    * unique_vote_id coalesced from division_id then vote_id.
    */
  def memberVotesCompat(df: DataFrame): DataFrame =
    df.select(
        c(df, "member_code").as("memberCode"),
        c(df, "member_name").as("member_name"),
        when(c(df, "division_id") =!= "", c(df, "division_id"))
          .otherwise(c(df, "vote_id")).as("unique_vote_id"),
        c(df, "division_date").as("date"),
        c(df, "vote_label").as("vote"),
        c(df, "party_name_at_vote").as("party"),
        c(df, "constituency_name_at_vote").as("constituency"),
        lit("oireachtas_unified").as("source"),
        c(df, "snapshot_date").as("snapshot_date"))
      .orderBy(col("date").asc, col("unique_vote_id").asc, col("memberCode").asc)

  final case class ComparisonThreshold(
      maxLegacyOnlyKeys: Long,
      maxCompatOnlyKeys: Long,
      maxRowDeltaPct: Double,
      minimumCompatJoinCoveragePct: Double)

  final case class ComparisonRow(
      comparisonName: String,
      legacyRows: Long, compatRows: Long,
      matchedKeyCount: Long, legacyOnlyKeyCount: Long, compatOnlyKeyCount: Long,
      legacyJoinCoveragePct: Double, compatJoinCoveragePct: Double,
      rowDeltaPct: Double, status: String, failureReasons: Seq[String])

  private def keySet(df: DataFrame, keyCol: String): DataFrame =
    df.select(trim(coalesce(col(keyCol).cast("string"), lit(""))).as("k"))
      .filter(col("k") =!= "").distinct()

  private def coveragePct(df: DataFrame, keyCol: String): Double = {
    val total = df.count()
    if (total == 0 || !df.columns.contains(keyCol)) 0.0
    else {
      val covered = df.filter(trim(coalesce(col(keyCol).cast("string"), lit(""))) =!= "").count()
      math.round(covered.toDouble / total * 10000.0) / 100.0
    }
  }

  /** J8 key-set comparison with thresholds (compat_comparison.py:100-156 +
    * contracts.py comparison_status): intersect/except counts, row delta,
    * join coverage, pass/fail with reasons.
    */
  def compare(name: String, legacy: DataFrame, compat: DataFrame,
              legacyKeyCol: String, compatKeyCol: String,
              threshold: ComparisonThreshold): ComparisonRow = {
    val (matched, legacyOnly, compatOnly) = CacheScope.run {
      val lk = CacheScope.persist(keySet(legacy, legacyKeyCol))
      val ck = CacheScope.persist(keySet(compat, compatKeyCol))
      (lk.intersect(ck).count(), lk.except(ck).count(), ck.except(lk).count())
    }
    val legacyRows = legacy.count()
    val compatRows = compat.count()
    val coverage = coveragePct(compat, compatKeyCol)
    val rowDeltaPct = math.round(
      math.abs(compatRows - legacyRows).toDouble / math.max(legacyRows, 1) * 10000.0) / 100.0

    val errors = Seq(
      (compatRows <= 0) -> "compat output is empty",
      (legacyOnly > threshold.maxLegacyOnlyKeys) ->
        s"legacy-only keys $legacyOnly exceed ${threshold.maxLegacyOnlyKeys}",
      (compatOnly > threshold.maxCompatOnlyKeys) ->
        s"compat-only keys $compatOnly exceed ${threshold.maxCompatOnlyKeys}",
      (rowDeltaPct > threshold.maxRowDeltaPct) ->
        f"row delta $rowDeltaPct%.2f%% exceeds ${threshold.maxRowDeltaPct}%.2f%%",
      (coverage < threshold.minimumCompatJoinCoveragePct) ->
        f"compat join coverage $coverage%.2f%% below ${threshold.minimumCompatJoinCoveragePct}%.2f%%"
    ).collect { case (true, msg) => msg }

    ComparisonRow(name, legacyRows, compatRows, matched, legacyOnly, compatOnly,
      coveragePct(legacy, legacyKeyCol), coverage, rowDeltaPct,
      if (errors.nonEmpty) "fail" else "pass", errors)
  }
}
