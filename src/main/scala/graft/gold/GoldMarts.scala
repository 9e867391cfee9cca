package graft.gold

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.core.{TableRegistry, TableSpec}
import graft.functions.Fns

/** The five gold marts as pure Map[inputs] => DataFrame functions
  * (SURVEY §3.2). Inputs are the reference's all-string silver frames;
  * outputs conform to the declared gold schemas, with the reference's
  * exact edge rules (coerce-to-0 numerics, dense rank on metric value
  * only, contains-based vote-kind, first-wins dedupe after the output
  * sort).
  */
object GoldMarts {

  private def nonBlank(c: Column): Column = trim(coalesce(c, lit(""))) =!= ""
  private def yearOf(d: Column): Column = year(Fns.parseIsoDate(d)).cast("string")

  /** Contains-based vote kind with staon > nil > ta precedence
    * (table_gold_member_activity_yearly.py:229-237 _vote_kind).
    */
  def voteKindContains(voteCode: Column, voteLabel: Column): Column = {
    val raw = lower(trim(concat_ws(" ", coalesce(voteCode, lit("")), coalesce(voteLabel, lit("")))))
    when(raw.contains("staon") || raw.contains("abstain"), "staon")
      .when(raw.contains("nil") || raw.contains("no"), "nil")
      .when(raw.contains("ta") || raw.contains("tá") || raw.contains("yes") || raw.contains("aye"), "ta")
      .otherwise("other")
  }

  /** Current-or-latest row per group (table_gold_current_members.py:209-218):
    * truthy current flag first, then end date (null = open = max), then
    * start date, all descending.
    */
  def selectCurrentOrLatest(df: DataFrame, groupKey: String, currentCol: String,
                            startCol: String, endCol: String): DataFrame = {
    val w = Window.partitionBy(col(groupKey)).orderBy(
      Fns.truthy(col(currentCol)).cast("int").desc,
      coalesce(Fns.parseIsoDate(col(endCol)), to_date(lit("9999-12-31"))).desc,
      Fns.parseIsoDate(col(startCol)).desc)
    df.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1).drop("_rn")
  }

  /** gold_current_members (table_gold_current_members.py:80-150): roster
    * enriched with current membership/party/constituency, sorted-distinct
    * office aggregation, latest_* fallbacks, current-member filter.
    */
  def currentMembers(members: DataFrame, memberships: DataFrame, parties: DataFrame,
                     constituencies: DataFrame, offices: DataFrame,
                     snapshotDate: String): DataFrame = {
    val curMem = selectCurrentOrLatest(memberships, "member_code", "is_current",
      "membership_start", "membership_end").select("member_code", "house_no")
    val curParty = selectCurrentOrLatest(parties, "member_code", "is_current",
      "party_start", "party_end").select(col("member_code"), col("party_name").as("p_party"))
    val curCon = selectCurrentOrLatest(constituencies, "member_code", "is_current",
      "represent_start", "represent_end")
      .select(col("member_code"), col("constituency_name").as("p_constituency"))
    val curOffice = selectCurrentOrLatest(offices, "member_code", "is_current",
      "office_start", "office_end")
      .filter(nonBlank(col("office_name")))
      .groupBy("member_code")
      .agg(array_join(array_sort(collect_set(trim(col("office_name")))), "; ").as("office_name"))

    val roster = members
      .join(broadcast(curMem.withColumnRenamed("house_no", "m_house_no")), Seq("member_code"), "left")
      .join(broadcast(curParty), Seq("member_code"), "left")
      .join(broadcast(curCon), Seq("member_code"), "left")
      .join(broadcast(curOffice), Seq("member_code"), "left")
      .withColumn("party_name", Fns.coalesceNonBlank(col("p_party"), col("latest_party_name"), lit("")))
      .withColumn("constituency_name", Fns.coalesceNonBlank(col("p_constituency"), col("latest_constituency_name"), lit("")))
      .withColumn("house_no", Fns.coalesceNonBlank(col("m_house_no"), col("latest_house_no"), lit("")))
      .withColumn("office_name", coalesce(col("office_name"), lit("")))
      .withColumn("snapshot_date", lit(snapshotDate))

    // keep only current members when any row is flagged current (reference
    // applies the mask only when it selects something). The probe reads
    // `members` alone: every frame joined onto it is unique per
    // member_code (row_number = 1 or groupBy), so the left joins keep
    // exactly the members' rows and flags, and the four-join roster plan
    // runs once, for the output.
    val isCurrent = Fns.truthy(col("is_current_member"))
    val filtered = if (members.filter(isCurrent).isEmpty) roster else roster.filter(isCurrent)
    val spec = TableRegistry.specs("gold_current_members")
    orderedDedupe(TableSpec.conform(filtered, spec), spec.primaryKey,
      Seq(col("member_code").asc))
  }

  /** Speeches with a non-blank speaker and a parseable debate date `d`:
    * the rows every speech aggregate counts (…:154-168).
    */
  private def datedSpeeches(speeches: DataFrame): DataFrame =
    speeches
      .withColumn("member_code", trim(col("speaker_member_code")))
      .withColumn("d", Fns.parseIsoDate(col("debate_date")))
      .filter(nonBlank(col("member_code")) && col("d").isNotNull)

  /** Member votes with a non-blank member and a parseable division date
    * `d` (…:171-188).
    */
  private def datedVotes(memberVotes: DataFrame): DataFrame =
    memberVotes
      .withColumn("member_code", trim(col("member_code")))
      .withColumn("d", Fns.parseIsoDate(col("division_date")))
      .filter(nonBlank(col("member_code")) && col("d").isNotNull)

  /** Division rows with a parseable date `d` (…:191-203); falls back to
    * member_votes when the divisions input is empty or lacks dates.
    */
  private def datedDivisions(divisions: DataFrame, memberVotes: DataFrame): DataFrame = {
    val source =
      if (divisions.columns.contains("division_date") && !divisions.isEmpty) divisions
      else memberVotes
    source
      .withColumn("d", Fns.parseIsoDate(col("division_date")))
      .filter(col("d").isNotNull)
  }

  private def divisionsPerYear(dated: DataFrame): DataFrame =
    dated
      .withColumn("year", year(col("d")).cast("string"))
      .groupBy("year")
      .agg(countDistinct(col("division_id")).as("division_count"))

  /** Speech metrics per (member, year): count + distinct debate days
    * (table_gold_member_activity_yearly.py:154-168).
    */
  def speechMetrics(speeches: DataFrame): DataFrame =
    datedSpeeches(speeches)
      .withColumn("year", year(col("d")).cast("string"))
      .groupBy("member_code", "year")
      .agg(count(col("speech_id")).as("speech_count"),
        countDistinct(col("d")).as("debate_day_count"))

  /** Vote metrics per (member, year) with the ta/nil/staon crosstab
    * (table_gold_member_activity_yearly.py:171-188).
    */
  def voteMetrics(memberVotes: DataFrame): DataFrame =
    datedVotes(memberVotes)
      .withColumn("year", year(col("d")).cast("string"))
      .withColumn("vote_kind", voteKindContains(col("vote_code"), col("vote_label")))
      .groupBy("member_code", "year")
      .agg(count(col("member_vote_id")).as("votes_cast_count"),
        count(when(col("vote_kind") === "ta", 1)).as("ta_count"),
        count(when(col("vote_kind") === "nil", 1)).as("nil_count"),
        count(when(col("vote_kind") === "staon", 1)).as("staon_count"))

  /** Distinct divisions per year (…:191-203); falls back to member_votes
    * when the divisions input lacks dates.
    */
  def divisionCounts(divisions: DataFrame, memberVotes: DataFrame): DataFrame =
    divisionsPerYear(datedDivisions(divisions, memberVotes))

  /** Dense rank per year on the metric VALUE only — ties share a rank
    * regardless of tie-break columns (…:248-261; SURVEY §7.4.6).
    *
    * SCALE BOUND: this window partitions by year only, so each year sorts
    * in one task. That is safe here BY DOMAIN CONTRACT — the partition is
    * the member roster (≤ ~174 rows/year in the reference chamber), not a
    * fact table. Do NOT reuse this for high-cardinality partitions; when
    * only top-k ranks are consumed use RankOps.denseRankTopK (bounded
    * combinable aggregate + broadcast join), as q06 does.
    */
  private def rankByYear(valueCol: Column): Column =
    dense_rank().over(Window.partitionBy(col("year")).orderBy(valueCol.desc)).cast("string")

  /** gold_member_activity_yearly (…:31-146): dense member×year grid, three
    * left joins, coerce-to-0 numerics, guarded participation pct, two
    * year-partitioned dense ranks, schema sort + pk dedupe.
    */
  def memberActivityYearly(currentMembers: DataFrame, speeches: DataFrame,
                           memberVotes: DataFrame, divisions: DataFrame,
                           snapshotDate: String): DataFrame = {
    val sm = speechMetrics(speeches)
    val vm = voteMetrics(memberVotes)
    val divisionRows = datedDivisions(divisions, memberVotes)
    val dc = divisionsPerYear(divisionRows)

    val memberCodes = currentMembers.select(trim(col("member_code")).as("member_code"))
      .unionByName(sm.select("member_code")).unionByName(vm.select("member_code"))
      .filter(nonBlank(col("member_code"))).distinct()
    val years = sm.select("year").unionByName(vm.select("year"))
      .unionByName(dc.select("year"))
      .filter(nonBlank(col("year"))).distinct()
    // every dated row yields a non-blank year, so `years` is empty exactly
    // when all three dated inputs are: probe those scans, not the
    // aggregates built on them
    val noYears = datedSpeeches(speeches).isEmpty && datedVotes(memberVotes).isEmpty &&
      divisionRows.isEmpty
    val yearsOrDefault =
      if (noYears) years.sparkSession.sql(s"SELECT substr('$snapshotDate',1,4) AS year")
      else years

    val grid = memberCodes.crossJoin(yearsOrDefault)
    val intCols = Seq("speech_count", "debate_day_count", "votes_cast_count",
      "ta_count", "nil_count", "staon_count", "division_count")
    val joined = grid
      .join(sm, Seq("member_code", "year"), "left")
      .join(vm, Seq("member_code", "year"), "left")
      .join(broadcast(dc), Seq("year"), "left")
    val coerced = intCols.foldLeft(joined) { (df, c) =>
      df.withColumn(c, coalesce(col(c).cast("long"), lit(0L)))
    }
    val withPct = coerced.withColumn("vote_participation_pct",
      when(col("division_count") > 0,
        round(col("votes_cast_count").cast("double") / col("division_count") * 100.0, 2))
        .otherwise(lit(0.0)))
    val ranked = withPct
      .withColumn("speech_rank", rankByYear(col("speech_count")))
      .withColumn("vote_participation_rank", rankByYear(col("vote_participation_pct")))
      .withColumn("snapshot_date", lit(snapshotDate))
    val spec = TableRegistry.specs("gold_member_activity_yearly")
    val stringly = intCols.foldLeft(ranked) { (df, c) =>
      df.withColumn(c, col(c).cast("string"))
    }.withColumn("vote_participation_pct", col("vote_participation_pct").cast("string"))
    orderedDedupe(TableSpec.conform(stringly, spec), spec.primaryKey,
      Seq(col("year").asc, col("speech_rank").cast("int").asc, col("member_code").asc))
  }

  /** gold_member_activity_monthly (table_gold_member_activity_monthly.py:
    * 149-182): same pattern at year_month grain, no grid densify.
    */
  def memberActivityMonthly(speeches: DataFrame, memberVotes: DataFrame,
                            snapshotDate: String): DataFrame = {
    val sm = datedSpeeches(speeches)
      .withColumn("year_month", date_format(col("d"), "yyyy-MM"))
      .groupBy("member_code", "year_month")
      .agg(count(col("speech_id")).as("speech_count"),
        countDistinct(col("d")).as("debate_day_count"))
    val vm = datedVotes(memberVotes)
      .withColumn("year_month", date_format(col("d"), "yyyy-MM"))
      .groupBy("member_code", "year_month")
      .agg(count(col("member_vote_id")).as("votes_cast_count"))
    val joined = sm.join(vm, Seq("member_code", "year_month"), "outer")
      .withColumn("speech_count", coalesce(col("speech_count").cast("long"), lit(0L)).cast("string"))
      .withColumn("debate_day_count", coalesce(col("debate_day_count").cast("long"), lit(0L)).cast("string"))
      .withColumn("votes_cast_count", coalesce(col("votes_cast_count").cast("long"), lit(0L)).cast("string"))
      .withColumn("snapshot_date", lit(snapshotDate))
    val spec = TableRegistry.specs("gold_member_activity_monthly")
    orderedDedupe(TableSpec.conform(joined, spec), spec.primaryKey,
      Seq(col("member_code").asc, col("year_month").asc))
  }

  /** gold_constituency_activity_yearly (table_gold_constituency_activity_
    * yearly.py:63-214): constituency×year grid, member counts via the
    * roster, speech counts via a member→constituency lookup join.
    */
  def constituencyActivityYearly(currentMembers: DataFrame, speeches: DataFrame,
                                 memberVotes: DataFrame,
                                 snapshotDate: String): DataFrame = {
    val roster = currentMembers
      .withColumn("constituency_name", trim(col("constituency_name")))
      .withColumn("member_code", trim(col("member_code")))
      .filter(nonBlank(col("constituency_name")))
    val lookup = roster.select("member_code", "constituency_name")
      .filter(nonBlank(col("member_code"))).dropDuplicates("member_code")

    val sp = datedSpeeches(speeches)
      .withColumn("year", year(col("d")).cast("string"))
      .join(broadcast(lookup), Seq("member_code"))
      .groupBy("constituency_name", "year")
      .agg(count(lit(1)).as("speech_count"))
    val mv = datedVotes(memberVotes)
      .withColumn("year", year(col("d")).cast("string"))
      .join(broadcast(lookup), Seq("member_code"))
      .groupBy("constituency_name", "year")
      .agg(count(lit(1)).as("votes_cast_count"))

    val memberCounts = roster.groupBy("constituency_name")
      .agg(countDistinct(col("member_code")).as("member_count"))
    val years = sp.select("year").unionByName(mv.select("year")).distinct()
    val grid = memberCounts.select("constituency_name").distinct().crossJoin(years)

    val out = grid
      .join(broadcast(memberCounts), Seq("constituency_name"), "left")
      .join(sp, Seq("constituency_name", "year"), "left")
      .join(mv, Seq("constituency_name", "year"), "left")
      .withColumn("member_count", coalesce(col("member_count").cast("long"), lit(0L)).cast("string"))
      .withColumn("speech_count", coalesce(col("speech_count").cast("long"), lit(0L)).cast("string"))
      .withColumn("votes_cast_count", coalesce(col("votes_cast_count").cast("long"), lit(0L)).cast("string"))
      .withColumn("snapshot_date", lit(snapshotDate))
    val spec = TableRegistry.specs("gold_constituency_activity_yearly")
    orderedDedupe(TableSpec.conform(out, spec), spec.primaryKey,
      Seq(col("constituency_name").asc, col("year").asc))
  }

  /** gold_content_fact_pool (table_gold_content_fact_pool.py:64-216):
    * deterministic headline facts templated from the yearly mart (F17),
    * with period bounds (F14) and stable fact ids (F5).
    */
  def contentFactPool(activityYearly: DataFrame, currentMembers: DataFrame,
                      snapshotDate: String): DataFrame = {
    val names = currentMembers.select(trim(col("member_code")).as("member_code"),
      col("full_name")).dropDuplicates("member_code")
    val base = activityYearly.join(broadcast(names), Seq("member_code"), "left")
      .withColumn("display_name", Fns.coalesceNonBlank(col("full_name"), col("member_code")))

    def fact(factType: String, metricName: String, metricVal: Column, headline: Column) =
      base.filter(metricVal.cast("double") > 0).select(
        concat(lit("fact:"), Fns.stableHash(24, lit(factType), col("member_code"), col("year"))).as("fact_id"),
        lit(factType).as("fact_type"),
        lit("member").as("entity_type"),
        col("member_code").as("entity_id"),
        concat(col("year"), lit("-01-01")).as("period_start"),
        concat(col("year"), lit("-12-31")).as("period_end"),
        headline.as("headline"),
        lit(metricName).as("metric_name"),
        metricVal.cast("string").as("metric_value"),
        lit("gold_member_activity_yearly").as("source_table"),
        concat_ws("|", col("member_code"), col("year")).as("source_key"),
        lit(snapshotDate).as("snapshot_date"))

    val speeches = fact("member_speech_count_yearly", "speech_count", col("speech_count"),
      format_string("%s made %s speeches in %s.", col("display_name"), col("speech_count"), col("year")))
    val votes = fact("member_votes_cast_yearly", "votes_cast_count", col("votes_cast_count"),
      format_string("%s cast %s votes in %s.", col("display_name"), col("votes_cast_count"), col("year")))
    val participation = fact("member_vote_participation_yearly", "vote_participation_pct",
      col("vote_participation_pct"),
      format_string("%s voted in %s%% of divisions in %s.", col("display_name"),
        col("vote_participation_pct"), col("year")))

    val spec = TableRegistry.specs("gold_content_fact_pool")
    orderedDedupe(TableSpec.conform(
        speeches.unionByName(votes).unionByName(participation), spec),
      spec.primaryKey, Seq(col("fact_type").asc, col("entity_id").asc, col("period_start").asc))
  }

  /** Output-sort then first-wins pk dedupe (the reference sorts before
    * drop_duplicates, so "first" is deterministic; _dedupe_rows
    * table_members.py:376-385).
    */
  private def orderedDedupe(df: DataFrame, pk: Seq[String], order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(pk.map(col): _*).orderBy(order: _*)
    df.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1).drop("_rn")
      .orderBy(order: _*)
  }
}
