package graft.io

import org.apache.hadoop.fs.{FileSystem, Path}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.core.CacheScope
import graft.functions.Fns

/** Operational driver tools (the reference's thin `process/` scripts over
  * published storage): object-store inventory audit
  * (process/oireachtas_audit_inventory.py:1-77) and the deterministic
  * Instagram copy-pack builder
  * (process/instagram_build_copy_pack.py:1-170). The column-drop rewrite
  * (process/delete_s3_column.py) lives in [[TableIO.dropColumn]].
  *
  * The copy pack is driver-side orchestration over bounded data (a
  * ≤200-row review roster) — the same split the reference uses. The
  * inventory audit DISTRIBUTES its listing (one task per prefix
  * subtree) and aggregates totals in Spark, because an object-store
  * inventory is only bounded at the reference's scale, not at 100 TB.
  */
object OpsTools {

  /** The reference's audited prefixes (oireachtas_audit_inventory.py:13-20),
    * relative to the store root.
    */
  val DefaultAuditPrefixes: Seq[String] = Seq(
    "processed/oireachtas_unified/latest/",
    "processed/oireachtas_unified/compat/",
    "processed/oireachtas_unified/silver/",
    "processed/oireachtas_unified/gold/",
    "processed/oireachtas_unified/control/",
    "processed/oireachtas_unified/review/")

  /** One inventory row per stored object under the audited prefixes
    * (recursive listing, key-sorted), as a DataFrame:
    * (prefix, key, size, etag, last_modified_utc, storage_class).
    * `etag`/`storage_class` are object-store metadata with no filesystem
    * analog — empty strings off S3, matching the reference's
    * `obj.get(..., "")` defaults for stores that omit them.
    *
    * Scale: the driver lists only the IMMEDIATE children of each audited
    * prefix (a handful of table directories); the recursive walk of each
    * subtree runs in parallel executor tasks and the rows stay
    * distributed. An inventory of a 100 TB store (millions of objects)
    * never materializes on the driver — the reference script's
    * accumulate-then-sum shape survives only at its original bounded
    * scale, in [[auditInventory]]'s Spark-side aggregation.
    */
  def inventoryRows(spark: SparkSession, root: String,
                    prefixes: Seq[String] = DefaultAuditPrefixes): DataFrame = {
    val fs = FileSystem.get(new java.net.URI(root).resolve("/"),
      spark.sparkContext.hadoopConfiguration)
    val rootPath = new Path(root)
    val qualifiedRoot = fs.makeQualified(rootPath).toString
    // (prefix, subtree) work units: one per immediate child of a prefix
    val units: Seq[(String, String)] = prefixes.flatMap { prefix =>
      val p = new Path(rootPath, prefix.stripSuffix("/"))
      if (!fs.exists(p)) Nil
      else if (fs.getFileStatus(p).isFile) Seq(prefix -> p.toString)
      else fs.listStatus(p).toSeq.map(st => prefix -> st.getPath.toString)
    }
    val conf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    val rowsRdd = spark.sparkContext
      .parallelize(units, math.max(1, math.min(units.size, 64)))
      .flatMap { case (prefix, subtree) =>
        val p = new Path(subtree)
        val tfs = p.getFileSystem(conf.value)
        val iso = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ssXXX")
          .withZone(java.time.ZoneOffset.UTC)
        val it = tfs.listFiles(p, true)
        new Iterator[Row] {
          def hasNext: Boolean = it.hasNext
          def next(): Row = {
            val st = it.next()
            val key = tfs.makeQualified(st.getPath).toString
              .stripPrefix(qualifiedRoot).stripPrefix("/")
            Row(prefix, key, st.getLen, "",
              iso.format(java.time.Instant.ofEpochMilli(st.getModificationTime)), "")
          }
        }
      }
    val schema = StructType(Seq(
      StructField("prefix", StringType), StructField("key", StringType),
      StructField("size", LongType), StructField("etag", StringType),
      StructField("last_modified_utc", StringType),
      StructField("storage_class", StringType)))
    spark.createDataFrame(rowsRdd, schema).orderBy("key")
  }

  /** Full audit run (the script's main): writes `s3_inventory.csv`
    * (key-sorted) and a `summary.json` with object/byte totals and
    * per-prefix counts into `outDir`, and returns the summary. Totals
    * aggregate IN Spark (one row back per prefix, not one per object).
    * The clock injects for deterministic tests (F4 convention).
    */
  def auditInventory(spark: SparkSession, root: String, outDir: String,
                     prefixes: Seq[String] = DefaultAuditPrefixes,
                     now: () => String = BatchStore.defaultNow): Map[String, Any] = {
    // pin the listing once: the distributed walk re-runs per action
    // otherwise (csv write + orderBy sampling + summary agg = three full
    // recursive listings of the store), and a file created between the
    // csv and summary actions would make summary.json disagree with the
    // s3_inventory.csv rows it claims to describe
    CacheScope.run {
      val inv = CacheScope.persist(inventoryRows(spark, root, prefixes))
      TableIO.writeCsv(inv, s"$outDir/s3_inventory.csv")
      val perPrefix = inv.groupBy("prefix")
        .agg(count(lit(1)).as("n"), sum(col("size")).as("bytes"))
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      val summary: Map[String, Any] = Map(
        "generated_at_utc" -> now(),
        "root" -> root,
        "object_count" -> perPrefix.values.map(_._1).sum,
        "total_bytes" -> perPrefix.values.map(_._2).sum,
        "prefix_counts" -> prefixes.map(p =>
          p -> perPrefix.get(p).map(_._1).getOrElse(0L)).toMap)
      val fs = FileSystem.get(new java.net.URI(outDir).resolve("/"),
        spark.sparkContext.hadoopConfiguration)
      val out = fs.create(new Path(s"$outDir/summary.json"), true)
      try out.write(StableJson.write(summary).getBytes("UTF-8")) finally out.close()
      summary
    }
  }

  // ---------------- Instagram max-length stress fixture ----------------

  /** Display fields stressed by default
    * (instagram_build_max_length_fixture.py:14-22).
    */
  val DefaultStressColumns: Seq[String] = Seq(
    "full_name", "party", "constituency", "top_issue_2025",
    "vote_participation_pct_2025", "speech_count_2025", "speech_rank_2025")

  /** One-row synthetic stress fixture for template layout testing
    * (instagram_build_max_length_fixture.py:91-145): start from the row
    * with the longest `full_name` (any extra columns ride along), then
    * overwrite each stress column with the longest non-empty value found
    * anywhere in that column (ties break to the alphabetically-earliest
    * lowercase value — the reference's determinism rule), take the
    * longest http(s) `photo_url`, and mark `member_code` as
    * `synthetic-max-length`. Returns (one-row frame, metadata with
    * per-field provenance). Bounded review roster → driver-side, like
    * [[buildCopyPack]]; values are compared as trimmed strings (the
    * reference reads CSV), so pass a string-typed frame.
    */
  def buildMaxLengthFixture(review: DataFrame,
                            stressColumns: Seq[String] = DefaultStressColumns,
                            now: () => String = BatchStore.defaultNow)
  : (DataFrame, Map[String, Any]) = {
    val cols = review.columns.toSeq
    val str = review.select(cols.map(c => col(c).cast("string").as(c)): _*)
    val rows = str.collect()
    def cleanValue(v: String): String = Option(v).map(_.trim).getOrElse("")
    def cell(i: Int, c: String): String = rows(i).getAs[String](cols.indexOf(c))

    // (value, sourceIndex, length) of the longest non-empty value;
    // ties → alphabetically earliest lowercase (longest_value :48-73)
    def longestValue(c: String): (String, Option[Int], Int) =
      if (!cols.contains(c)) ("", None, 0)
      else {
        var best: Option[Int] = None
        var bestLen = -1
        var bestTie = ""
        rows.indices.foreach { i =>
          val v = cleanValue(cell(i, c))
          if (v.nonEmpty) {
            val tie = v.toLowerCase
            if (v.length > bestLen ||
              (v.length == bestLen && (bestTie.isEmpty || tie < bestTie))) {
              best = Some(i); bestLen = v.length; bestTie = tie
            }
          }
        }
        // the RAW untrimmed cell goes into the fixture row while the
        // metadata records the trimmed value/length — deliberately
        // mirroring the reference (instagram_build_max_length_fixture.py
        // :68 returns best_value = raw; :109-113 records clean_value),
        // whose fixture stresses layout with the padding included
        best.map(i => (cell(i, c), best, bestLen)).getOrElse(("", None, 0))
      }

    // longest http(s) photo URL; ties → earliest row (the reference's
    // pandas sort leaves ties unspecified — earliest-row is our pin)
    def longestPhoto(): (String, Option[Int], Int) =
      if (!cols.contains("photo_url")) ("", None, 0)
      else {
        val cands = rows.indices
          .map(i => i -> cleanValue(cell(i, "photo_url")))
          .filter { case (_, v) =>
            v.startsWith("http://") || v.startsWith("https://") }
        if (cands.isEmpty) ("", None, 0)
        else {
          val (i, v) = cands.maxBy { case (i, v) => (v.length, -i) }
          (v, Some(i), v.length)
        }
      }

    val available = stressColumns.filter(cols.contains)
    require(available.nonEmpty,
      s"None of the stress columns exist in the input table: $stressColumns")
    val baseCol = if (cols.contains("full_name")) "full_name" else available.head
    val baseIndex = longestValue(baseCol)._2.getOrElse(0)

    def fullNameOf(i: Option[Int]): String =
      if (cols.contains("full_name")) i.map(x => cleanValue(cell(x, "full_name"))).getOrElse("")
      else ""
    val stressed = available.map(c => c -> longestValue(c))
    val (photoV, photoI, photoLen) = longestPhoto()
    val overrides: Map[String, String] =
      stressed.collect { case (c, (v, Some(_), _)) => c -> v }.toMap ++
        (if (photoV.nonEmpty) Map("photo_url" -> photoV) else Map.empty) ++
        (if (cols.contains("member_code")) Map("member_code" -> "synthetic-max-length")
         else Map.empty)
    val synthetic = cols.map(c => overrides.getOrElse(c, cell(baseIndex, c)))

    val fieldSources: Map[String, Any] =
      stressed.map { case (c, (v, i, len)) => c -> Map(
        "source_row_index" -> i.map(Int.box).orNull,
        "source_full_name" -> fullNameOf(i),
        "value" -> cleanValue(v), "length" -> len) }.toMap ++
        (if (cols.contains("photo_url") && photoV.nonEmpty)
          Map("photo_url" -> Map(
            "source_row_index" -> photoI.map(Int.box).orNull,
            "source_full_name" -> fullNameOf(photoI),
            "value" -> photoV, "length" -> photoLen))
         else Map.empty)

    def syn(c: String): String = cleanValue(synthetic(cols.indexOf(c)))
    val metadata: Map[String, Any] = Map(
      "success" -> true,
      "created_at" -> now(),
      "selection_mode" -> "synthetic_longest_value_per_field",
      "stress_columns_requested" -> stressColumns,
      "stress_columns_used" -> available,
      "selected_full_name" -> (if (cols.contains("full_name")) syn("full_name") else ""),
      "selected_party" -> (if (cols.contains("party")) syn("party") else ""),
      "selected_constituency" -> (if (cols.contains("constituency")) syn("constituency") else ""),
      "synthetic_row" -> true,
      "input_rows" -> rows.length,
      "field_sources" -> fieldSources)

    val spark = review.sparkSession
    val schema = StructType(cols.map(c => StructField(c, StringType)))
    (spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(synthetic: _*)), 1), schema),
      metadata)
  }

  /** The script's main: fixture CSV (BOM'd, one synthetic row) +
    * metadata JSON next to it; returns the metadata
    * (instagram_build_max_length_fixture.py:158-171).
    */
  def writeMaxLengthFixture(review: DataFrame, outputCsv: String,
                            stressColumns: Seq[String] = DefaultStressColumns,
                            now: () => String = BatchStore.defaultNow): Map[String, Any] = {
    val (fixture, metadata) = buildMaxLengthFixture(review, stressColumns, now)
    TableIO.writeCsv(fixture, outputCsv, bom = true)
    val metaPath = outputCsv.replaceAll("\\.csv$", "") + ".metadata.json"
    val fs = FileSystem.get(new java.net.URI(outputCsv).resolve("/"),
      review.sparkSession.sparkContext.hadoopConfiguration)
    val out = fs.create(new Path(metaPath), true)
    try out.write(StableJson.write(metadata).getBytes("UTF-8")) finally out.close()
    metadata
  }

  // ---------------- Instagram copy pack ----------------

  /** Default hashtag set (instagram_build_copy_pack.py:15-21). */
  val DefaultHashtags: Seq[String] = Seq(
    "#EirePolitic", "#IrishPolitics", "#DailEireann", "#Oireachtas", "#DataPolitics")

  /** Comma-separated hashtag override → normalized list: blanks drop,
    * a missing `#` is prepended, an empty result falls back to the
    * defaults (normalize_hashtags, instagram_build_copy_pack.py:37-48).
    */
  def normalizeHashtags(raw: Option[String]): Seq[String] = raw match {
    case None | Some("") => DefaultHashtags
    case Some(s) =>
      val tags = s.split(",").toSeq.map(_.trim).filter(_.nonEmpty)
        .map(t => if (t.startsWith("#")) t else s"#$t")
      if (tags.nonEmpty) tags else DefaultHashtags
  }

  /** Blank/NaN-coalescing display value (clean(),
    * instagram_build_copy_pack.py:30-34): null, empty, or "nan" → the
    * default.
    */
  private def cleanCol(c: org.apache.spark.sql.Column, default: String) = {
    val t = trim(coalesce(c.cast("string"), lit("")))
    when(t === "" || t === "nan" || t === "NaN", lit(default)).otherwise(t)
  }

  /** Copy-pack rows derived from a review table — slug, deterministic
    * caption and alt text, joined hashtags, and safety notes
    * (build_caption/build_alt_text/build_safety_notes,
    * instagram_build_copy_pack.py:51-97) — as a distributed projection
    * over the review frame. Missing review columns are treated as blank
    * (the reference's `row.get`).
    */
  def copyPackRows(review: DataFrame, hashtags: Seq[String] = DefaultHashtags): DataFrame = {
    def c(name: String, default: String = "N/A") =
      cleanCol(if (review.columns.contains(name)) col(name) else lit(""), default)
    val fullName = c("full_name")
    val party = c("party")
    val constituency = c("constituency")
    val topIssue = c("top_issue_2025", "No classified issue yet")
    val vote = c("vote_participation_pct_2025")
    val speechCount = c("speech_count_2025", "0")
    val speechRank = c("speech_rank_2025")
    val tagLine = hashtags.mkString(" ")

    val caption = concat(
      lit("TD profile: "), fullName, lit(" ("), party, lit(", "), constituency, lit(").\n\n"),
      lit("Top 2025 debate issue in this dataset: "), topIssue, lit(".\n"),
      lit("Vote participation: "), vote, lit(".\n"),
      lit("Speech activity: "), speechCount, lit(" issue-labelled speeches; rank "),
      speechRank, lit(".\n\n"),
      lit("Source: Oireachtas data pipeline. Review before publishing.\n\n"),
      lit(tagLine))
    val altText = concat(
      lit("Profile card for "), fullName, lit(", "), party, lit(" TD for "), constituency,
      lit(". The card lists top 2025 debate issue as "), topIssue,
      lit(", vote participation as "), vote, lit(", and speech activity as "),
      speechCount, lit(" issue-labelled speeches with rank "), speechRank, lit("."))
    val safetyNotes = array_join(filter(array(
      when(lower(c("publish_ready", "no")) =!= "yes", lit("publish_ready is not yes")),
      when(lower(c("needs_photo_check", "no")) === "yes", lit("photo needs checking")),
      when(c("warnings", "") =!= "", concat(lit("render warnings: "), c("warnings", "")))
    ), _.isNotNull), "; ")

    review.select(
      // slugify: lower, non-alnum runs → "-", trim "-", empty → "item"
      when(Fns.slug(fullName) === "", lit("item")).otherwise(Fns.slug(fullName)).as("slug"),
      fullName.as("full_name"), party.as("party"), constituency.as("constituency"),
      c("output_file_rel", "").as("output_file_rel"),
      caption.as("caption"), altText.as("alt_text"),
      lit(tagLine).as("hashtags"),
      c("publish_ready", "no").as("publish_ready"),
      c("review_status", "needs_review").as("review_status"),
      safetyNotes.as("safety_notes"))
  }

  /** The full copy-pack build: per-row `<slug>.caption.txt` /
    * `<slug>.alt_text.txt` files, a BOM'd `captions.csv`, and a
    * `copy_manifest.json` under `copyDir`; returns the manifest. The
    * roster is bounded (one row per member profile — the reference
    * iterates a pandas frame), so the per-file writes collect the
    * same bounded frame driver-side.
    */
  def buildCopyPack(review: DataFrame, copyDir: String,
                    hashtags: Seq[String] = DefaultHashtags,
                    now: () => String = BatchStore.defaultNow): Map[String, Any] = {
    val spark = review.sparkSession
    val rows = copyPackRows(review, hashtags)
      .withColumn("caption_file", concat(lit(s"$copyDir/"), col("slug"), lit(".caption.txt")))
      .withColumn("alt_text_file", concat(lit(s"$copyDir/"), col("slug"), lit(".alt_text.txt")))
    val ordered = rows.select("slug", "full_name", "party", "constituency",
      "output_file_rel", "caption_file", "alt_text_file", "caption", "alt_text",
      "hashtags", "publish_ready", "review_status", "safety_notes")
    val fs = FileSystem.get(new java.net.URI(copyDir).resolve("/"),
      spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new Path(copyDir))
    val collected = ordered.collect()
    collected.foreach { r =>
      def write(path: String, text: String): Unit = {
        val out = fs.create(new Path(path), true)
        try out.write(text.getBytes("UTF-8")) finally out.close()
      }
      write(r.getAs[String]("caption_file"), r.getAs[String]("caption"))
      write(r.getAs[String]("alt_text_file"), r.getAs[String]("alt_text"))
    }
    TableIO.writeCsv(ordered, s"$copyDir/captions.csv", bom = true)
    val manifest: Map[String, Any] = Map(
      "success" -> true,
      "created_at" -> now(),
      "copy_dir" -> copyDir,
      "captions_csv" -> s"$copyDir/captions.csv",
      "items" -> collected.map(r => ordered.columns.map(c =>
        c -> String.valueOf(r.getAs[Any](c))).toMap).toSeq,
      "notes" -> Seq(
        "Captions and alt text are deterministic draft copy only.",
        "Do not publish until review_status and publish_ready are manually updated in the review table.",
        "Check metrics, names, constituencies, photos, and warning flags before publishing."))
    val out = fs.create(new Path(s"$copyDir/copy_manifest.json"), true)
    try out.write(StableJson.write(manifest).getBytes("UTF-8")) finally out.close()
    manifest
  }

  /** The seven hand-filled review columns of the option-5 sheet, in the
    * reference's column order
    * (process/instagram_option5_build_review_sheet.py:26-37).
    */
  val ReviewSheetColumns: Seq[String] = Seq(
    "brand_consistency", "factual_correctness_visible_text",
    "text_legibility", "repeatability_note",
    "better_than_deterministic_template", "approved", "review_notes")

  /** Option-5 review sheet: the generated-image manifest with the seven
    * blank review columns appended, manifest columns first (the
    * reference's `{**row, ...}` + DictWriter-fieldnames contract —
    * which also BLANKS a manifest column that collides with a review
    * column name, as the dict merge does).
    */
  def buildReviewSheet(manifest: DataFrame): DataFrame = {
    val kept = manifest.columns.filterNot(ReviewSheetColumns.contains)
    ReviewSheetColumns.foldLeft(manifest.select(kept.map(col): _*))(
      (df, c) => df.withColumn(c, lit("")))
  }

  /** Write the sheet where the reference refreshes it:
    * `<runRoot>/review/review_sheet.csv`
    * (instagram_option5_build_review_sheet.py:19-45).
    */
  def writeReviewSheet(manifest: DataFrame, runRoot: String): String = {
    val target = s"${runRoot.stripSuffix("/")}/review/review_sheet.csv"
    TableIO.writeCsv(buildReviewSheet(manifest), target)
    target
  }
}
