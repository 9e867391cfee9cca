package graft.gold

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.CacheScope

/** Post-context assembly for the carousel renderer (reference
  * instagram/renderer/context.py:12-218 + util.py:19-165): normalized-name
  * member lookup, photo/background enrichment joins, issue counters with
  * the NONE-label filter, constituency roll-ups, and member selection by
  * requested name else highest speech count.
  *
  * The heavy inputs (debate issue records) aggregate distributed; only the
  * final single-post context — a handful of scalars and ≤ issue_limit
  * counter rows — collects to the driver, mirroring the reference's output
  * shape (one rendered post per invocation).
  */
object RendererContext {

  /** util.py:19-24 normalize_name as a codegen column expression: lower,
    * "&"→" and ", non-alnum→space, drop honorific tokens, collapse.
    */
  def normalizeName(c: Column): Column = {
    val lowered = lower(trim(coalesce(c, lit(""))))
    val anded = regexp_replace(lowered, "&", " and ")
    val alnum = regexp_replace(anded, "[^a-z0-9]+", " ")
    val detok = regexp_replace(alnum, "\\b(td|teachta d[aá]la|minister|deputy)\\b", " ")
    trim(regexp_replace(detok, "\\s+", " "))
  }

  /** Driver-side twin of [[normalizeName]] for constants (spec fields). */
  def normalizeNameStr(s: String): String =
    Option(s).getOrElse("").trim.toLowerCase
      .replace("&", " and ")
      .replaceAll("[^a-z0-9]+", " ")
      .replaceAll("\\b(td|teachta d[aá]la|minister|deputy)\\b", " ")
      .replaceAll("\\s+", " ").trim

  /** util.py:143-150. */
  def ordinalRank(rank: Int): String =
    if (rank <= 0) "N/A"
    else {
      val suffix =
        if (10 <= rank % 100 && rank % 100 <= 20) "th"
        else Map(1 -> "st", 2 -> "nd", 3 -> "rd").getOrElse(rank % 10, "th")
      s"$rank$suffix"
    }

  /** util.py:153-164. */
  def percentString(value: Option[String]): String = value.map(_.trim).filter(_.nonEmpty) match {
    case None => "N/A"
    case Some(text) if text.endsWith("%") => text
    case Some(text) =>
      scala.util.Try(text.toDouble).toOption match {
        case Some(num) if num.isWhole => s"${num.toLong}%"
        case Some(num) => f"$num%.1f%%"
        case None => text
      }
  }

  /** context.py:37-80 build_member_table: member/constituency keys plus
    * photo and background enrichment. The reference keeps the FIRST
    * file-order row per member_code on the enrichment side
    * (drop_duplicates); distributed frames have no file order, so the
    * deterministic representative is the minimum non-null value —
    * identical whenever the enrichment is unique per code (the
    * reference's datasets are).
    */
  def buildMemberTable(members: DataFrame, photos: DataFrame, summaries: DataFrame): DataFrame = {
    val required = Seq("member_code", "full_name", "constituency", "party")
    val missing = required.filterNot(members.columns.contains)
    require(missing.isEmpty, s"Members dataset missing required columns: $missing")

    val base = members
      .withColumn("member_key", normalizeName(col("full_name")))
      .withColumn("constituency_key", normalizeName(col("constituency")))

    def enrich(df: DataFrame, in: DataFrame, valueCol: String): DataFrame =
      if (in.isEmpty || !in.columns.contains(valueCol)) df
      else if (in.columns.contains("member_code"))
        df.join(broadcast(in.groupBy("member_code").agg(min(valueCol).as(valueCol))),
          Seq("member_code"), "left")
      else if (in.columns.contains("full_name"))
        df.join(broadcast(in.withColumn("member_key", normalizeName(col("full_name")))
            .groupBy("member_key").agg(min(valueCol).as(valueCol))),
          Seq("member_key"), "left")
      else df

    enrich(enrich(base, photos, "photo_url"), summaries, "background")
  }

  /** context.py:12-23 column pickers (schema-level, driver-side). */
  def pickIssueColumn(df: DataFrame): Option[String] =
    Seq("issue", "Issue", "issue_label", "category", "label").find(df.columns.contains)
  def pickSpeakerColumn(df: DataFrame): Option[String] =
    Seq("Speaker Name", "speaker_name").find(df.columns.contains)

  /** context.py:83-108 build_issue_records: normalized speaker joined to
    * the member lookup, blank/NONE issues dropped. The reference's dict
    * lookup is last-wins on duplicate keys; here duplicate member_keys
    * resolve to a deterministic representative (max member_code).
    */
  def issueRecords(debate: DataFrame, memberTable: DataFrame): DataFrame = {
    (pickSpeakerColumn(debate), pickIssueColumn(debate)) match {
      case (Some(sp), Some(is)) =>
        val lookup = memberTable
          .withColumn("_rn", row_number().over(
            Window.partitionBy("member_key").orderBy(col("member_code").desc)))
          .filter(col("_rn") === 1)
          .select(col("member_key"), col("constituency_key"))
        val recs = debate
          .select(normalizeName(col(sp)).as("member_key"), trim(coalesce(col(is), lit(""))).as("issue"))
          .filter(col("member_key") =!= "" && col("issue") =!= "" && upper(col("issue")) =!= "NONE")
        recs.join(broadcast(lookup), Seq("member_key"))
      case _ => debate.sparkSession.emptyDataFrame
        .withColumn("member_key", lit("")).withColumn("issue", lit(""))
        .withColumn("constituency_key", lit(""))
    }
  }

  final case class IssueCount(label: String, count: Long)
  final case class MemberContext(
      fullName: String, party: String, constituency: String,
      photoUrl: Option[String], background: String, speechCount: Long,
      topIssueLabel: String, memberKey: String)
  final case class ConstituencyContext(
      name: String, memberCount: Long, partyCount: Long, speechCount: Long,
      imageUrl: Option[String], topIssueLabel: String)
  final case class PostContext(
      constituency: ConstituencyContext, member: MemberContext,
      issues: Seq[IssueCount], memberIssues: Seq[IssueCount])

  private val noIssue = "No classified issue yet"

  /** Counter.most_common with a deterministic tie-break (count desc, label
    * asc — the reference's insertion-order ties are not reproducible on a
    * distributed frame; real counters have clear winners).
    */
  private def mostCommon(counts: DataFrame, limit: Int): Seq[IssueCount] =
    counts.orderBy(col("count").desc, col("issue").asc).limit(limit)
      .collect().map(r => IssueCount(r.getAs[String]("issue"), r.getAs[Long]("count"))).toSeq

  /** context.py:123-218 build_post_context. */
  def buildPostContext(members: DataFrame, photos: DataFrame, summaries: DataFrame,
                       debateIssues: DataFrame, constituencyImages: DataFrame,
                       constituencyName: String, requestedMember: Option[String] = None,
                       issueLimit: Int = 8): PostContext = {
    // every frame cached here is released before the call returns, on
    // the failure path too
    CacheScope.run {
      val mt = CacheScope.persist(buildMemberTable(members, photos, summaries))
      val conKey = normalizeNameStr(constituencyName)

      val inCon = CacheScope.persist(mt.filter(col("constituency_key") === conKey))
      if (inCon.isEmpty) {
        val sample = mt.select("constituency").na.drop().distinct()
          .orderBy("constituency").limit(20).collect().map(_.getString(0)).toSeq
        throw new RuntimeException(
          s"No members matched constituency '$constituencyName'. Sample available constituencies: $sample")
      }

      val recs = CacheScope.persist(issueRecords(debateIssues, mt))
      val conCounts = CacheScope.persist(recs.filter(col("constituency_key") === conKey)
        .groupBy("issue").agg(count(lit(1)).as("count")))
      val speechCounts = recs.filter(col("constituency_key") === conKey)
        .groupBy("member_key").agg(count(lit(1)).as("speech_count"))

      val withCounts = inCon.join(broadcast(speechCounts), Seq("member_key"), "left")
        .withColumn("speech_count", coalesce(col("speech_count"), lit(0L)))

      val requestedKey = requestedMember.map(normalizeNameStr).filter(_.nonEmpty)
      val selected = requestedKey
        .flatMap(k => withCounts.filter(col("member_key") === k).limit(1).collect().headOption)
        .getOrElse(withCounts.orderBy(col("speech_count").desc, col("full_name").asc)
          .limit(1).collect().head)

      val memberKey = selected.getAs[String]("member_key")
      val memberCounts = recs.filter(col("member_key") === memberKey).groupBy("issue")
        .agg(count(lit(1)).as("count"))

      val conIssues = mostCommon(conCounts, issueLimit)
      val memIssues = mostCommon(memberCounts, issueLimit)

      val partyCount = inCon.select("party").na.drop().filter(trim(col("party")) =!= "")
        .distinct().count()
      val conSpeechTotal = conCounts.agg(coalesce(sum("count"), lit(0L))).collect().head.getLong(0)

      def opt(r: org.apache.spark.sql.Row, name: String): Option[String] =
        Option(r.getAs[String](name)).map(_.trim).filter(_.nonEmpty)

      PostContext(
        constituency = ConstituencyContext(
          name = constituencyName,
          memberCount = inCon.count(),
          partyCount = partyCount,
          speechCount = conSpeechTotal,
          imageUrl = pickConstituencyImage(constituencyImages, constituencyName),
          topIssueLabel = conIssues.headOption.map(_.label).getOrElse(noIssue)),
        member = MemberContext(
          fullName = opt(selected, "full_name").getOrElse("Unknown member"),
          party = opt(selected, "party").getOrElse("Party unavailable"),
          constituency = opt(selected, "constituency").getOrElse(constituencyName),
          photoUrl = if (selected.schema.fieldNames.contains("photo_url")) opt(selected, "photo_url") else None,
          background = (if (selected.schema.fieldNames.contains("background")) opt(selected, "background") else None)
            .getOrElse("Background summary unavailable."),
          speechCount = selected.getAs[Long]("speech_count"),
          topIssueLabel = memIssues.headOption.map(_.label).getOrElse(noIssue),
          memberKey = memberKey),
        issues = conIssues,
        memberIssues = memIssues)
    }
  }

  /** context.py:26-34 pick_constituency_image: exact or either-way
    * substring match on normalized filenames; first catalog-order match.
    * The catalog is a tiny curated table — driver-side scan as in the
    * reference.
    */
  def pickConstituencyImage(images: DataFrame, constituencyName: String): Option[String] = {
    if (images.isEmpty) return None
    val key = normalizeNameStr(constituencyName)
    val rows = images.collect()
    // the FIRST filename match wins even when its url fields are blank
    // (the reference returns immediately from the loop)
    rows.iterator.map { r =>
      val fields = r.schema.fieldNames
      def get(n: String): Option[String] =
        if (fields.contains(n)) Option(r.getAs[String](n)).map(_.trim).filter(_.nonEmpty) else None
      val fn = normalizeNameStr(get("filename").getOrElse(""))
      val matches = fn == key || (key.nonEmpty && fn.nonEmpty && (fn.contains(key) || key.contains(fn)))
      (matches, get("url").orElse(get("s3_url")))
    }.find(_._1).flatMap(_._2)
  }
}
