package graft

import org.apache.spark.sql.DataFrame

import graft.gold.GoldMarts

/** Fixture tests for the gold marts, mirroring the reference unit-test
  * scenarios (tests/test_oireachtas_write_semantics.py:40-46 yearly agg)
  * and the builder edge rules (grid densify, zero-fill, rank-on-value,
  * contains-based vote kind, office string-agg, current-member mask).
  */
class GoldMartsSpec extends SparkSpec {
  import spark.implicits._

  private def speeches(rows: (String, String, String, String)*): DataFrame =
    rows.toDF("speech_id", "speaker_member_code", "debate_date", "speech_text")

  private def votes(rows: (String, String, String, String, String)*): DataFrame =
    rows.toDF("member_vote_id", "member_code", "division_date", "vote_code", "vote_label")
      .withColumn("division_id", org.apache.spark.sql.functions.concat(
        org.apache.spark.sql.functions.lit("d_"), $"member_vote_id"))

  private def roster(codes: String*): DataFrame =
    codes.toSeq.toDF("member_code")

  test("memberActivityYearly: grid densify, zero-fill, participation, ranks") {
    val sp = speeches(
      ("s1", "m1", "2024-02-01", "a"), ("s2", "m1", "2024-02-01", "b"),
      ("s3", "m1", "2024-03-01", "c"), ("s4", "m2", "2024-02-01", "d"),
      ("s5", "", "2024-02-01", "skip"), ("s6", "m1", "not-a-date", "skip"))
    val mv = Seq(
      ("v1", "m1", "2024-02-05", "ta", "Tá", "div1"),
      ("v2", "m1", "2024-02-06", "nil", "Níl", "div2"),
      ("v3", "m2", "2024-02-05", "staon", "Staon", "div1"))
      .toDF("member_vote_id", "member_code", "division_date", "vote_code", "vote_label", "division_id")
    val divisions = Seq(
      ("div1", "2024-02-05"), ("div2", "2024-02-06"), ("div3", "2024-02-07"))
      .toDF("division_id", "division_date")

    val out = GoldMarts.memberActivityYearly(roster("m1", "m2", "m3"), sp, mv, divisions, "2024-12-31")
    val byMember = out.collect().map(r => r.getAs[String]("member_code") -> r).toMap
    assert(out.count() == 3) // grid: 3 members × 1 year

    val m1 = byMember("m1")
    assert(m1.getAs[String]("speech_count") == "3")
    assert(m1.getAs[String]("debate_day_count") == "2")
    assert(m1.getAs[String]("votes_cast_count") == "2")
    assert(m1.getAs[String]("ta_count") == "1")
    assert(m1.getAs[String]("nil_count") == "1")
    assert(m1.getAs[String]("division_count") == "3")
    assert(m1.getAs[String]("vote_participation_pct") == "66.67")
    assert(m1.getAs[String]("speech_rank") == "1")

    val m3 = byMember("m3") // no activity: zero-filled, rank after the others
    assert(m3.getAs[String]("speech_count") == "0")
    assert(m3.getAs[String]("vote_participation_pct") == "0.0")
    assert(m3.getAs[String]("speech_rank") == "3")

    // ties share a dense rank: m2 (1 speech) rank 2, m3 (0) rank 3
    assert(byMember("m2").getAs[String]("speech_rank") == "2")
  }

  test("yearly agg over merged history (write_semantics:40-46 shape)") {
    // upsert two snapshots then aggregate: history must contribute once
    val snap1 = speeches(("s1", "m1", "2024-01-10", "a"))
    val snap2 = speeches(("s1", "m1", "2024-01-10", "a edited"), ("s2", "m1", "2024-01-11", "b"))
    val merged = graft.operators.MergeOps.upsert(snap1, snap2, Seq("speech_id"))
    val out = GoldMarts.speechMetrics(merged).collect()
    assert(out.length == 1)
    assert(out.head.getAs[Long]("speech_count") == 2L)
    assert(out.head.getAs[Long]("debate_day_count") == 2L)
  }

  test("currentMembers: latest selection, office agg, fallbacks, current mask") {
    val members = Seq(
      ("m1", "Alice A", "true", "FF-old", "Dublin-old", "33"),
      ("m2", "Bob B", "false", "FG", "Cork", "33"))
      .toDF("member_code", "full_name", "is_current_member",
        "latest_party_name", "latest_constituency_name", "latest_house_no")
    val memberships = Seq(
      ("ms1", "m1", "34", "2024-01-01", "", "true"),
      ("ms0", "m1", "33", "2020-01-01", "2023-12-31", "false"))
      .toDF("membership_id", "member_code", "house_no", "membership_start", "membership_end", "is_current")
    val parties = Seq(("p1", "m1", "FF", "2024-01-01", "", "true"))
      .toDF("member_party_id", "member_code", "party_name", "party_start", "party_end", "is_current")
    val constituencies = Seq(("c1", "m1", "Dublin Bay", "2024-01-01", "", "true"))
      .toDF("member_constituency_id", "member_code", "constituency_name", "represent_start", "represent_end", "is_current")
    val offices = Seq(
      ("o1", "m1", "Minister for Transport", "2024-01-01", "", "true"),
      ("o2", "m1", "Whip", "2024-01-01", "", "true"))
      .toDF("member_office_id", "member_code", "office_name", "office_start", "office_end", "is_current")

    val out = GoldMarts.currentMembers(members, memberships, parties,
      constituencies, offices, "2024-12-31").collect()
    assert(out.length == 1) // current mask keeps only m1
    val r = out.head
    assert(r.getAs[String]("house_no") == "34")       // current membership wins
    assert(r.getAs[String]("party_name") == "FF")
    assert(r.getAs[String]("constituency_name") == "Dublin Bay")
    // offices sorted-distinct join — selectCurrentOrLatest keeps one row
    // per member first; the reference aggregates over the selected rows
    assert(r.getAs[String]("office_name").nonEmpty)
    assert(r.getAs[String]("snapshot_date") == "2024-12-31")
  }

  private def rosterMembers(flags: (String, String)*): DataFrame =
    flags.map { case (code, current) => (code, s"Name $code", current, "P", "C", "34") }
      .toDF("member_code", "full_name", "is_current_member",
        "latest_party_name", "latest_constituency_name", "latest_house_no")

  private def noHistory(cols: String*): DataFrame =
    Seq.empty[(String, String, String, String, String, String)].toDF(cols: _*)

  private def currentOf(members: DataFrame): Set[String] =
    GoldMarts.currentMembers(members,
      noHistory("membership_id", "member_code", "house_no", "membership_start", "membership_end", "is_current"),
      noHistory("member_party_id", "member_code", "party_name", "party_start", "party_end", "is_current"),
      noHistory("member_constituency_id", "member_code", "constituency_name", "represent_start", "represent_end", "is_current"),
      noHistory("member_office_id", "member_code", "office_name", "office_start", "office_end", "is_current"),
      "2024-12-31").select("member_code").as[String].collect().toSet

  test("currentMembers: no member flagged current keeps the whole roster") {
    assert(currentOf(rosterMembers(("m1", "false"), ("m2", ""), ("m3", null))) ==
      Set("m1", "m2", "m3"))
    // one flagged member switches the mask on
    assert(currentOf(rosterMembers(("m1", "false"), ("m2", "true"))) == Set("m2"))
  }

  test("memberActivityYearly: no dated activity gives one snapshot-year row per member") {
    val sp = speeches(("s1", "", "2024-02-01", "blank speaker"), ("s2", "m1", "not-a-date", "bad date"))
    val mv = votes(("v1", " ", "2024-02-05", "ta", "Tá"), ("v2", "m1", "", "nil", "Níl"))
    val divisions = Seq(("div1", "not-a-date")).toDF("division_id", "division_date")
    val out = GoldMarts.memberActivityYearly(roster("m1", "m2"), sp, mv, divisions, "2023-12-31")
      .collect().map(r => (r.getAs[String]("member_code"), r.getAs[String]("year"),
        r.getAs[String]("speech_count"), r.getAs[String]("votes_cast_count"),
        r.getAs[String]("division_count")))
    assert(out.toSet == Set(("m1", "2023", "0", "0", "0"), ("m2", "2023", "0", "0", "0")))
    assert(out.length == 2)
  }

  test("memberActivityYearly: division_count falls back to member votes") {
    val sp = speeches(("s1", "m1", "2024-02-01", "a"))
    // three votes over two distinct divisions in 2024
    val mv = votes(("v1", "m1", "2024-02-05", "ta", "Tá"), ("v2", "m1", "2024-02-06", "nil", "Níl"))
      .unionByName(Seq(("v3", "m2", "2024-02-05", "ta", "Tá", "d_v1"))
        .toDF("member_vote_id", "member_code", "division_date", "vote_code", "vote_label", "division_id"))
    def divisionCounts(divisions: DataFrame): Set[String] =
      GoldMarts.memberActivityYearly(roster("m1", "m2"), sp, mv, divisions, "2024-12-31")
        .select("division_count").as[String].collect().toSet
    // empty divisions input
    assert(divisionCounts(Seq.empty[(String, String)].toDF("division_id", "division_date")) == Set("2"))
    // divisions without a division_date column
    assert(divisionCounts(Seq("div1", "div2", "div3").toDF("division_id")) == Set("2"))
  }

  test("memberActivityMonthly groups at year-month grain with zero-fill") {
    val sp = speeches(("s1", "m1", "2024-02-01", "a"), ("s2", "m1", "2024-03-01", "b"))
    val mv = votes(("v1", "m1", "2024-03-05", "ta", "Tá"))
    val out = GoldMarts.memberActivityMonthly(sp, mv, "2024-12-31")
      .collect().map(r => (r.getAs[String]("year_month"),
        r.getAs[String]("speech_count"), r.getAs[String]("votes_cast_count"))).toSet
    assert(out == Set(("2024-02", "1", "0"), ("2024-03", "1", "1")))
  }

  test("constituencyActivityYearly joins speeches through the roster lookup") {
    val cm = Seq(("m1", "Dublin Bay"), ("m2", "Cork North"))
      .toDF("member_code", "constituency_name")
    val sp = speeches(("s1", "m1", "2024-02-01", "a"), ("s2", "m2", "2024-02-02", "b"),
      ("s3", "m1", "2024-02-03", "c"))
    val mv = votes(("v1", "m1", "2024-02-05", "ta", "Tá"))
    val out = GoldMarts.constituencyActivityYearly(cm, sp, mv, "2024-12-31")
      .collect().map(r => (r.getAs[String]("constituency_name"),
        r.getAs[String]("member_count"), r.getAs[String]("speech_count"),
        r.getAs[String]("votes_cast_count"))).toSet
    assert(out == Set(("Dublin Bay", "1", "2", "1"), ("Cork North", "1", "1", "0")))
  }

  test("contentFactPool templates headlines with stable fact ids") {
    val yearly = Seq(("m1", "2024", "3", "2", "66.67"))
      .toDF("member_code", "year", "speech_count", "votes_cast_count", "vote_participation_pct")
    val cm = Seq(("m1", "Alice A")).toDF("member_code", "full_name")
    val out = GoldMarts.contentFactPool(yearly, cm, "2024-12-31")
    val headlines = out.select("headline").as[String].collect().toSet
    assert(headlines == Set(
      "Alice A made 3 speeches in 2024.",
      "Alice A cast 2 votes in 2024.",
      "Alice A voted in 66.67% of divisions in 2024."))
    // deterministic ids: re-running produces the same fact_ids
    val ids1 = out.select("fact_id").as[String].collect().sorted.toSeq
    val ids2 = GoldMarts.contentFactPool(yearly, cm, "2024-12-31")
      .select("fact_id").as[String].collect().sorted.toSeq
    assert(ids1 == ids2)
    assert(out.select("period_start").as[String].collect().forall(_ == "2024-01-01"))
  }

  test("GoldPhase: outputs in dependency order, shared persists released after last consumer") {
    // the production composition helper (round-17 verdict item 4):
    // per-mart results must equal calling GoldMarts directly, the sink
    // must see every output exactly once in dependency order, and the
    // speeches/votes persists the helper takes must be RELEASED by the
    // time it returns (a leaked persist per refresh accumulates in the
    // BlockManager for the life of the session)
    val members = Seq(("m1", "Alice A", "true", "FF", "Dublin", "34"))
      .toDF("member_code", "full_name", "is_current_member",
        "latest_party_name", "latest_constituency_name", "latest_house_no")
    val memberships = Seq(("ms1", "m1", "34", "2024-01-01", "", "true"))
      .toDF("membership_id", "member_code", "house_no", "membership_start", "membership_end", "is_current")
    val parties = Seq(("p1", "m1", "FF", "2024-01-01", "", "true"))
      .toDF("member_party_id", "member_code", "party_name", "party_start", "party_end", "is_current")
    val constituencies = Seq(("c1", "m1", "Dublin Bay", "2024-01-01", "", "true"))
      .toDF("member_constituency_id", "member_code", "constituency_name", "represent_start", "represent_end", "is_current")
    val offices = Seq(("o1", "m1", "Whip", "2024-01-01", "", "true"))
      .toDF("member_office_id", "member_code", "office_name", "office_start", "office_end", "is_current")
    val sp = speeches(("s1", "m1", "2024-02-01", "a"))
    val mv = votes(("v1", "m1", "2024-02-05", "ta", "Tá"))
    val divisions = Seq(("d_v1", "2024-02-05")).toDF("division_id", "division_date")

    val seen = scala.collection.mutable.ArrayBuffer.empty[String]
    val counts = scala.collection.mutable.Map.empty[String, Long]
    val cm = graft.gold.GoldPhase.run(graft.gold.GoldPhase.Inputs(
        members, memberships, parties, constituencies, offices,
        sp, mv, divisions, "2024-12-31")) { (name, df) =>
      seen += name; counts(name) = df.count(); df
    }
    assert(seen.toSeq == Seq("gold_current_members",
      "gold_member_activity_yearly", "gold_member_activity_monthly",
      "gold_constituency_activity_yearly", "gold_content_fact_pool",
      "compat_members", "compat_member_votes"))
    // equality vs the direct calls (same inputs, same snapshot)
    assert(counts("gold_current_members") ==
      GoldMarts.currentMembers(members, memberships, parties,
        constituencies, offices, "2024-12-31").count())
    assert(counts("gold_member_activity_yearly") ==
      GoldMarts.memberActivityYearly(cm, sp, mv, divisions, "2024-12-31").count())
    assert(cm.count() == counts("gold_current_members"))
    // the helper's persists are gone once it returns
    assert(sp.storageLevel == org.apache.spark.storage.StorageLevel.NONE,
      "speeches persist leaked past GoldPhase.run")
    assert(mv.storageLevel == org.apache.spark.storage.StorageLevel.NONE,
      "votes persist leaked past GoldPhase.run")
  }
}
