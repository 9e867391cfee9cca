package perfbench

import java.time.LocalDate

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.control.ControlTables
import graft.core.{TableRegistry, TableSpec}
import graft.gold.GoldPhase
import graft.io.{BatchStore, TableIO}
import graft.operators.{DqOps, FlattenOps}
import graft.orchestrate.{ContractOps, RefreshRun}
import graft.silver.{FlattenSpecs, SilverBuilder}
import graft.sources.RestSource

/** `refresh_weekly`: weekly refresh cycles, each sliding the 35-day
  * window forward a week: normalize → the seven silver builds in parallel
  * through the paginated REST client (stub transport with seeded 429/5xx
  * pages) → gold phase (5 marts + 2 compat adapters) → candidate
  * contracts → control tables → manifest + promote. Member rosters change
  * party or constituency per cycle (seeded). The promoted batch b0 of the
  * setup holds no member tables, so the first cycle's upserts merge into
  * empty tables and each later cycle's merge real changes into the batch
  * before it.
  */
final class RefreshWorkload(ctx: Ctx) extends Workload {
  import RefreshWorkload._
  private val spark = ctx.spark
  private val seed = ctx.seed
  private val root = ctx.dir
  private val store = BatchStore.local(root)
  private val firstStart = LocalDate.of(2023, 1, 2).plusDays(Gen.below(364, seed, 11L).toLong)
  private var cycle = 0
  private var payloadBytes = 0L
  private var written = 0L
  // layer counters, counted while tracing is on (as the listener is)
  private var pages = 0L
  private var retries = 0L
  private var waitNs = 0L
  private var rowsOut = 0L
  private var lastBatchBytes = 0L

  def primaryKind: String = "cycle"

  // ---- seeded payloads ------------------------------------------------
  private def flipCycles(m: Int, c: Int, salt: Long): Seq[Int] =
    (1 to c).filter(k => Gen.below(FlipEvery, seed, salt, m.toLong, k.toLong) == 0)
  private def flips(m: Int, c: Int, salt: Long): Int = flipCycles(m, c, salt).size
  /** Start of the membership in force at cycle `c`: the window start of
    * the cycle that last changed it.
    */
  private def since(m: Int, c: Int, salt: Long): String =
    flipCycles(m, c, salt).lastOption.map(k => firstStart.plusDays(7L * (k - 1)).toString)
      .getOrElse("2020-02-08")
  private def partyOf(m: Int, c: Int): Int =
    (Gen.below(Parties, seed, 21L, m.toLong) + flips(m, c, 22L)) % Parties
  private def constOf(m: Int, c: Int): Int =
    (Gen.below(Constituencies, seed, 23L, m.toLong) + flips(m, c, 24L)) % Constituencies

  private def memberPayloads(c: Int): Seq[String] = (0 until Members).map { m =>
    val code = s"M$m"
    val full = s"${Gen.name(seed, m * 2L)} ${Gen.name(seed, m * 2L + 1)}"
    val p = partyOf(m, c)
    val k = constOf(m, c)
    val pStart = since(m, c, 22L)
    val kStart = since(m, c, 24L)
    val office = if (m % 10 == 0) s"Office ${m % 7}" else ""
    s"""{"member":{"memberCode":"$code","fullName":"$full","firstName":"F$m","lastName":"L$m",""" +
      s""""showAs":"$full","uri":"member/$m","gender":"${if (m % 2 == 0) "male" else "female"}",""" +
      s""""memberships":[{"membership":{"uri":"membership/$m","house":{"uri":"house/34",""" +
      s""""houseNo":"34","houseCode":"dail"},"dateRange":{"start":"2020-02-08"},""" +
      s""""parties":[{"party":{"uri":"party/$p","showAs":"Party $p","dateRange":{"start":"$pStart"}}}],""" +
      s""""represents":[{"represent":{"uri":"con/$k","showAs":"CON-$k","dateRange":{"start":"$kStart"}}}],""" +
      s""""offices":[{"office":{"uri":"office/$m","officeName":{"showAs":"$office"},""" +
      s""""dateRange":{"start":"2021-01-01"}}}]}}]}}"""
  }

  private def days(start: LocalDate): Seq[LocalDate] = (0 to 35).map(start.plusDays(_))

  private def divisionPayloads(start: LocalDate): Seq[String] = days(start).flatMap { d =>
    val e = d.toEpochDay
    (0 until 2 + Gen.below(5, seed, 31L, e)).map { j =>
      val id = e * 10 + j
      s"""{"uri":"vote/$id","voteId":"v$id","date":"$d","house":{"uri":"house/34",""" +
        s""""houseNo":"34","houseCode":"dail"},"subject":{"showAs":"Division $id"},""" +
        s""""outcome":"${if (Gen.below(2, seed, 32L, id) == 0) "carried" else "lost"}"}"""
    }
  }

  private def billPayloads(start: LocalDate): Seq[String] = days(start).flatMap { d =>
    val e = d.toEpochDay
    (0 until 1 + Gen.below(3, seed, 41L, e)).map { j =>
      val id = e * 10 + j
      val stages = (1 to 1 + Gen.below(4, seed, 42L, id)).map { s =>
        val h = Gen.below(9, seed, 43L, id, s.toLong)
        s"""{"showAs":"Stage $s","dates":[{"date":"$d"}],"progressStage":"$s",""" +
          s""""stageOutcome":"${"ANR".charAt(Gen.below(3, seed, 44L, id, s.toLong))}",""" +
          s""""house":{"uri":"house/$h","showAs":"House $h"}}"""
      }
      s"""{"bill":{"uri":"bill/$id","stages":[${stages.mkString(",")}]}}"""
    }
  }

  /** Stub transport: serves the pages in order, failing a seeded share of
    * requests with 429/5xx first (never more than two in a row, so the
    * client's four attempts always succeed).
    */
  private final class Transport(pagesIn: Seq[String], salt: Long) extends RestSource.HttpTransport {
    private val q = scala.collection.mutable.Queue(pagesIn: _*)
    private var request = 0L
    private var failStreak = 0
    def get(url: String, params: Map[String, String]): RestSource.HttpResult = {
      request += 1
      val fail = failStreak < 2 && Gen.below(100, seed, salt, cycle.toLong, request) < FailPct
      if (fail) {
        failStreak += 1
        if (ctx.tracer.enabled) RefreshWorkload.this.synchronized { retries += 1 }
        RestSource.HttpResult(Seq(429, 500, 503)(Gen.below(3, seed, salt, request, 5L)), "")
      } else {
        failStreak = 0
        val body = if (q.nonEmpty) q.dequeue() else """{"results":[]}"""
        RefreshWorkload.this.synchronized {
          if (ctx.tracer.enabled) pages += 1
          payloadBytes += body.length
        }
        RestSource.HttpResult(200, body)
      }
    }
  }

  private def fetchOf(payloads: Seq[String], pageSize: Int, salt: Long)(): RestSource.ApiSummary =
    ctx.span("sources.getPaginated", "sources") {
      val chunks = payloads.grouped(pageSize).map(g => s"""{"results":[${g.mkString(",")}]}""").toSeq
      new RestSource.Client(new Transport(chunks, salt), "https://api.test", sleeper = _ => ())
        .getPaginated("/refresh", Map("limit" -> pageSize.toString))
    }

  // ---- setup: the promoted batch b0 holding the tables a weekly run
  // does not refresh (speeches, member votes)
  def setup(): Unit = {
    val snapshot = firstStart.toString
    val span0 = firstStart.minusDays(400).toEpochDay
    val dayOf = (salt: Long) => date_format(date_add(lit(LocalDate.ofEpochDay(span0).toString),
      (pmod(xxhash64(lit(seed), lit(salt), col("id")), lit(430L))).cast("int")), "yyyy-MM-dd")
    val memberOf = (salt: Long) =>
      concat(lit("M"), pmod(xxhash64(lit(seed), lit(salt), col("id")), lit(Members.toLong)))
    val speeches = spark.range(Speeches).select(
      concat(lit("sp"), col("id")).as("speech_id"),
      memberOf(51L).as("speaker_member_code"),
      dayOf(52L).as("debate_date"),
      concat(lit("deb"), col("id") % 1000).as("debate_id"),
      lit(snapshot).as("snapshot_date"))
    val votes = spark.range(Votes).select(
      col("id"), memberOf(53L).as("member_code"), dayOf(54L).as("division_date"),
      (col("id") / 40).cast("long").as("div"), pmod(col("id"), lit(3L)).as("vc"))
      .select(
        concat(lit("mv"), col("id")).as("member_vote_id"),
        concat(lit("division:v"), col("div"), lit(":"), col("division_date")).as("division_id"),
        concat(lit("v"), col("div")).as("vote_id"),
        col("division_date"), col("member_code"),
        concat(lit("Member "), col("member_code")).as("member_name"),
        element_at(array(lit("ta"), lit("nil"), lit("staon")), (col("vc") + 1).cast("int")).as("vote_code"),
        element_at(array(lit("Tá"), lit("Níl"), lit("Staon")), (col("vc") + 1).cast("int")).as("vote_label"),
        lit("").as("party_name_at_vote"), lit("").as("constituency_name_at_vote"),
        lit(snapshot).as("snapshot_date"))
    Seq(("silver_speeches", speeches, Speeches), ("silver_member_votes", votes, Votes)).foreach {
      case (name, df, rows) =>
      val pqKey = s"latest/parquet/$name.parquet"
      TableIO.writeParquet(df, s"$root/${store.batchKeyForProductionKey(pqKey, "b0")}")
      store.recordBatchTable("b0", name, rows, "pass",
        TableRegistry.specs(name).primaryKey, df.columns.toSeq, Seq(pqKey))
    }
    store.assembleBatchManifest("b0", Seq("silver_speeches", "silver_member_votes"))
    store.promoteBatch("b0", actor = "perfbench-seed")
  }

  def op(i: Int): OpResult = runCycle()

  private def b0(name: String): DataFrame = spark.read.parquet(
    s"$root/${store.batchKeyForProductionKey(s"latest/parquet/$name.parquet", "b0")}")

  /** One weekly cycle into batch b<cycle>; times the engine calls, then
    * checks DQ, contracts and the promoted pointer.
    */
  private def runCycle(): OpResult = {
    cycle += 1
    val c = cycle
    val batch = s"b$c"
    val start = firstStart.plusDays(7L * (c - 1))
    val end = start.plusDays(35)
    val snapshot = end.toString
    val members = memberPayloads(c)
    val payloads = Map("divisions" -> divisionPayloads(start), "bills" -> billPayloads(start))
    val today = java.time.LocalDate.now(java.time.ZoneOffset.UTC)
    var ok = true
    var published = 0L
    def check(cond: Boolean): Unit = if (!cond) ok = false

    val t0 = System.nanoTime()
    val inputs = ctx.span("RefreshRun.normalize", "orchestrate") {
      RefreshRun.normalize("weekly", TableRegistry.specs.keySet, SilverTables ++ RefreshRun.ControlTail,
        dateStart = start.toString, dateEnd = end.toString)
    }
    val builds = Map[String, (FlattenOps.FlattenSpec, DataFrame => DataFrame, Seq[String])](
      "silver_members" -> ((FlattenSpecs.members, FlattenSpecs.membersTransform _, members)),
      "silver_member_memberships" ->
        ((FlattenSpecs.memberMemberships, FlattenSpecs.membershipsTransform _, members)),
      "silver_member_parties" ->
        ((FlattenSpecs.memberParties, FlattenSpecs.memberPartiesTransform _, members)),
      "silver_member_constituencies" ->
        ((FlattenSpecs.memberConstituencies, FlattenSpecs.memberConstituenciesTransform _, members)),
      "silver_member_offices" ->
        ((FlattenSpecs.memberOffices, FlattenSpecs.memberOfficesTransform _, members)),
      "silver_divisions" ->
        ((FlattenSpecs.divisions, FlattenSpecs.divisionsTransform _, payloads("divisions"))),
      "silver_bill_stages" ->
        ((FlattenSpecs.billStages, FlattenSpecs.billStagesTransform _, payloads("bills"))))
    val parStart = System.nanoTime()
    val results = ctx.span("RefreshRun.executePar", "orchestrate") {
      val parent = ctx.tracer.currentSpan
      RefreshRun.executePar(
        inputs.copy(tables = inputs.tables.filterNot(RefreshRun.ControlTail.contains)),
        t => {
          if (ctx.tracer.enabled) synchronized { waitNs += System.nanoTime() - parStart }
          ctx.tracer.under(parent)(ctx.span(s"SilverBuilder.build:$t", "silver") {
            val (spec, transform, pl) = builds(t)
            SilverBuilder.build(spark, store, root, batch, TableRegistry.specs(t), spec,
              fetchOf(pl, inputs.pageSize, t.hashCode.toLong), transform, snapshot)
          })
        },
        parallelism = 4)
    }
    results.foreach { case (_, r) => check(r.ok && r.dqStatus == "pass"); published += r.rowCount }
    if (ctx.tracer.enabled) rowsOut += results.map(_._2.rowCount).sum

    def candidate(name: String): DataFrame = spark.read.parquet(
      s"$root/${store.batchKeyForProductionKey(s"latest/parquet/$name.parquet", batch)}")
    def write(name: String, df: DataFrame, keys: Seq[String], rows: Long, dq: String,
              pk: Seq[String]): Unit = ctx.span("TableIO.write", "io") {
      keys.foreach { k =>
        val target = s"$root/${store.batchKeyForProductionKey(k, batch)}"
        if (k.endsWith(".csv")) TableIO.writeCsv(df, target) else TableIO.writeParquet(df, target)
      }
      store.recordBatchTable(batch, name, rows, dq, pk, df.columns.toSeq, keys)
    }
    def writeGold(name: String, mart: String, df: DataFrame): Long = {
      val spec = TableRegistry.specs(name)
      val out = df.cache()
      val (rows, dq) = ctx.span(s"gold.$mart", "gold") {
        val r = DqOps.summary(out, spec.primaryKey, spec.columns).collect().head
        val n = r.getAs[Long]("row_count")
        (n, if (r.getAs[Long]("pk_duplicate_count") == 0 && r.getAs[Long]("pk_blank_count") == 0 &&
          n > 0) "pass" else "fail")
      }
      check(dq == "pass")
      write(name, out, Seq(s"latest/csv/$name.csv", s"latest/parquet/$name.parquet"), rows, dq,
        spec.primaryKey)
      out.unpersist()
      published += rows
      rows
    }
    def writeCompat(name: String, key: String, df: DataFrame, pk: Seq[String]): Unit = {
      val out = df.cache()
      val rows = ctx.span(s"CompatOps:$name", "compat") { out.count() }
      write(name, out, Seq(key), rows, "pass", pk)
      out.unpersist()
      published += rows
    }
    ctx.span("GoldPhase.run", "gold") {
      GoldPhase.run(GoldPhase.Inputs(
        candidate("silver_members"), candidate("silver_member_memberships"),
        candidate("silver_member_parties"), candidate("silver_member_constituencies"),
        candidate("silver_member_offices"), b0("silver_speeches"), b0("silver_member_votes"),
        candidate("silver_divisions"), snapshot)) {
        case ("gold_current_members", df) =>
          writeGold("gold_current_members", "current_members", df); df.cache()
        case ("gold_member_activity_yearly", df) =>
          writeGold("gold_member_activity_yearly", "activity_yearly", df)
          candidate("gold_member_activity_yearly")
        case ("gold_member_activity_monthly", df) =>
          writeGold("gold_member_activity_monthly", "activity_monthly", df); df
        case ("gold_constituency_activity_yearly", df) =>
          writeGold("gold_constituency_activity_yearly", "constituency_yearly", df); df
        case ("gold_content_fact_pool", df) =>
          writeGold("gold_content_fact_pool", "content_fact_pool", df); df
        case ("compat_members", df) =>
          writeCompat("compat_members", "compat/members/members_compat.csv", df, Seq("member_code")); df
        case ("compat_member_votes", df) =>
          writeCompat("compat_member_votes", "compat/member_votes/member_votes_compat.csv", df,
            Seq("unique_vote_id", "member_code")); df
        case (other, _) => sys.error(s"unexpected gold-phase output $other")
      }.unpersist()
    }

    val candidateRes = ctx.span("ContractOps.validateContractSet", "orchestrate") {
      ContractOps.validateContractSet(spark, store, root,
        Contracts.map { case (n, k) => n -> k.copy(logicalKey =
          store.batchKeyForProductionKey(k.logicalKey, batch)) }, Nil, today)
    }
    check(candidateRes("status") == "pass")

    val now = java.time.Instant.now().toString
    val controls = ctx.span("ControlTables", "control") {
      val runs = ControlTables.pipelineRuns(spark, results.map { case (t, r) =>
        ControlTables.RunRecord(s"run-$t-$c", "wf-perfbench", t, inputs.mode, inputs.refreshType,
          now, now, if (r.ok) "success" else "failed",
          s"""{"date_start":"${inputs.dateStart}","date_end":"${inputs.dateEnd}"}""",
          r.rowCount.toString, r.rowCount.toString, "", store.batchManifestKey(batch))
      })
      val manifests = ControlTables.tableManifests(spark, results.map { case (t, r) =>
        ControlTables.ManifestRecord(t, s"run-$t-$c", snapshot, s"latest/parquet/$t.parquet",
          s"latest/csv/$t.csv", r.rowCount.toString, TableRegistry.specs(t).columns.size.toString,
          ControlTables.schemaHash(TableRegistry.specs(t).columns), "true", r.dqStatus, now)
      })
      val dq = results.map { case (t, r) =>
        ControlTables.dqResults(spark, s"run-$t-$c", t,
          Seq(("row_count_gt_zero", r.rowCount > 0, r.rowCount.toString),
            ("dq_status_pass", r.dqStatus == "pass", r.dqStatus)), now)
      }.reduce(_ unionByName _)
      Seq(("control_pipeline_runs", runs), ("control_table_manifests", manifests),
        ("control_data_quality_results", dq)).map { case (name, df) =>
        val spec = TableRegistry.specs(name)
        val conformed = TableSpec.conform(df, spec).cache()
        (name, conformed, conformed.count(), spec)
      }
    }
    controls.foreach { case (name, df, rows, spec) =>
      write(name, df, Seq(s"latest/csv/$name.csv", s"latest/parquet/$name.parquet"), rows, "pass",
        spec.primaryKey)
      df.unpersist()
      published += rows
    }

    val manifest = ctx.span("BatchStore.promote", "io") {
      val m = store.assembleBatchManifest(batch, SilverTables ++ GoldTables ++ RefreshRun.ControlTail)
      if (m("status") == "validated") store.promoteBatch(batch, actor = "perfbench")
      m
    }
    val seconds = (System.nanoTime() - t0) / 1e9

    check(manifest("status") == "validated")
    check(store.resolveProductionKey("latest/parquet/silver_members.parquet")
      .startsWith(s"batches/$batch/"))
    // the seeded roster changes must land: current members carry the
    // party the payload of this cycle assigned
    val probe = (0 until Members by 97)
    val parties = candidate("gold_current_members").select("member_code", "party_name")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val expected = probe.map(m => s"M$m" -> s"Party ${partyOf(m, c)}")
    val plantedOff = ctx.plant && c == 1
    check(expected.forall { case (k, v) => parties.get(k).contains(if (plantedOff) v + "x" else v) })
    lastBatchBytes = Main.duBytes(s"$root/batches/$batch")
    written += lastBatchBytes
    OpResult("cycle", seconds, published, ok)
  }

  def writtenBytes: Long = written
  def inputBytes: Long = payloadBytes
  /** Everything the store holds: the seeded batch b0 and every cycle's. */
  def bytesOnDisk: Long = Main.duBytes(root)
  /** The batch the production pointer serves. */
  def liveBytes: Long = lastBatchBytes
  def layerExtras: Map[String, Double] = Map(
    "sources.pages" -> pages.toDouble, "sources.retries" -> retries.toDouble,
    "silver.wait_s" -> waitNs / 1e9, "silver.rows_out" -> rowsOut.toDouble)
}

object RefreshWorkload {
  val Members = 600
  val Parties = 8
  val Constituencies = 40
  val FlipEvery = 25
  val FailPct = 8
  val Speeches = 8000L
  val Votes = 24000L

  val SilverTables: Seq[String] = Seq("silver_members", "silver_member_memberships",
    "silver_member_parties", "silver_member_constituencies", "silver_member_offices",
    "silver_divisions", "silver_bill_stages")
  val GoldTables: Seq[String] = Seq("gold_current_members", "gold_member_activity_yearly",
    "gold_member_activity_monthly", "gold_constituency_activity_yearly", "gold_content_fact_pool",
    "compat_members", "compat_member_votes")

  val Contracts: Map[String, ContractOps.DatasetContract] = Map(
    "compat_members" -> ContractOps.DatasetContract("compat_members",
      "compat/members/members_compat.csv",
      Seq("member_code", "full_name", "constituency", "party"), Seq("member_code"), minimumRows = 100),
    "gold_activity_monthly" -> ContractOps.DatasetContract("gold_activity_monthly",
      "latest/csv/gold_member_activity_monthly.csv",
      Seq("member_code", "year_month", "speech_count", "votes_cast_count"),
      Seq("member_code", "year_month"), minimumRows = 1000),
    "gold_constituency_yearly" -> ContractOps.DatasetContract("gold_constituency_yearly",
      "latest/csv/gold_constituency_activity_yearly.csv",
      Seq("constituency_name", "year", "member_count"), Seq("constituency_name", "year"),
      minimumRows = 25))
}
