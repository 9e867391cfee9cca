package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Throwaway stage-level profiler for the bench tail (not a test). */
object ProfileMain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val builder = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
    Tables.sessionConfs.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val names = if (args.nonEmpty) args.toSeq
      else Seq("q01_pricing_summary", "q02_revenue_by_nation",
        "q28_neardup_minhash", "q48_bill_stages_flatten",
        "q55_neardup_embedding_lsh")

    def run(name: String): Double = {
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      spark.catalog.clearCache()
      (System.nanoTime() - t0) / 1e9
    }

    def timeDf(label: String)(f: => DataFrame): Unit = {
      f.write.format("noop").mode("overwrite").save()
      spark.catalog.clearCache()
      val reps = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        f.write.format("noop").mode("overwrite").save()
        spark.catalog.clearCache()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"PROFILE $label%-32s min=${reps.min}%6.2f  " +
        reps.map(t => f"$t%5.2f").mkString(" "))
    }

    if (args.headOption.contains("q28stages")) {
      import org.apache.spark.sql.functions._
      import graft.operators.DedupOps
      val docs = Tables.load(spark, sfDir, "documents")
      val sh = docs.select(col("doc_id").cast("long").as("doc_id"),
        DedupOps.shingles(col("text"), 3).as("sg"))
      timeDf("q28:shingles-only")(sh)
      timeDf("q28:explode-hash")(
        sh.select(col("doc_id"), explode(col("sg")).as("shingle"))
          .select(col("doc_id"), xxhash64(col("shingle")).as("h")))
      val sig = DedupOps.minhashSignaturesFromShingles(sh, 64)
      timeDf("q28:signatures")(sig)
      timeDf("q28:candidates")(DedupOps.lshCandidatePairs(sig, 32, 2))
      timeDf("q28:full")(SparkEntry.queries("q28_neardup_minhash")(spark, sfDir))
    } else if (args.headOption.contains("ngram")) {
      // does materializing the words array between two selects beat the
      // split-inside-lambda shape (no CSE inside lambdas)?
      import org.apache.spark.sql.functions._
      import graft.operators.DedupOps
      val docs = Tables.load(spark, sfDir, "documents")
      val n = 3
      def gramsOver(ws: org.apache.spark.sql.Column) = transform(
        when(size(ws) >= n, sequence(lit(0), size(ws) - n))
          .otherwise(array().cast("array<int>")),
        i => array_join(slice(ws, i + 1, lit(n)), " "))
      val lambdaSplit = {
        val ws = split(DedupOps.normText(col("text")), " ")
        docs.select(explode(gramsOver(ws)).as("gram"))
          .groupBy("gram").agg(count(lit(1)).as("cnt"))
          .orderBy(col("cnt").desc, col("gram").asc).limit(20)
      }
      val materialized = docs
        .select(split(DedupOps.normText(col("text")), " ").as("_ws"))
        .select(explode(gramsOver(col("_ws"))).as("gram"))
        .groupBy("gram").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("gram").asc).limit(20)
      timeDf("ngram:lambda-split")(lambdaSplit)
      timeDf("ngram:materialized")(materialized)
      println(materialized.queryExecution.executedPlan.toString.take(1500))
    } else if (args.headOption.contains("q48stages")) {
      import org.apache.spark.sql.functions._
      val li = Tables.load(spark, sfDir, "lineitem")
      val stage = struct(
        struct(
          concat(lit("Stage "), col("l_linenumber")).as("showAs"),
          array(struct(date_format(col("l_shipdate"), "yyyy-MM-dd").as("date"))).as("dates"),
          col("l_linenumber").cast("string").as("progressStage"),
          col("l_returnflag").as("stageOutcome"),
          struct(
            concat(lit("house/"), col("l_suppkey")).as("uri"),
            concat(lit("House "), col("l_suppkey")).as("showAs")).as("house")
        ).as("event"))
      val payloads = li
        .select(col("l_orderkey"), struct(
          col("l_linenumber").as("_k1"),
          date_format(col("l_shipdate"), "yyyy-MM-dd").as("_k2"),
          col("l_returnflag").as("_k3"),
          col("l_suppkey").as("_k4"),
          stage.as("s")).as("item"))
        .groupBy("l_orderkey")
        .agg(to_json(struct(struct(
          concat(lit("bill/"), col("l_orderkey")).as("uri"),
          transform(sort_array(collect_list(col("item"))), x => x.getField("s")).as("stages")
        ).as("bill"))).as("payload"))
      // materialize the payload strings once so the later stages measure
      // ONLY their own cost, not payload synthesis
      val cached = payloads.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      println(s"payload rows: ${cached.count()}")
      timeDf("q48:payload-build")(payloads)
      timeDf("q48:parse-only")(cached.select(
        is_variant_null(try_parse_json(col("payload"))).as("v")))
      timeDf("q48:parse+explode")(cached.select(
        posexplode(try_variant_get(try_parse_json(col("payload")),
          "$.bill.stages", "array<variant>")).as(Seq("_i", "_v"))).select(
        is_variant_null(col("_v")).as("n")))
      // the REAL query's projection — the all-columns variant (parent
      // fields nobody consumes) generates a much bigger codegen unit and
      // is NOT what the bench runs
      val flat = graft.silver.FlattenSpecs.billStagesTransform(
        graft.operators.FlattenOps.flatten(cached, "payload",
          graft.silver.FlattenSpecs.billStages))
        .select(col("bill_id"), col("stage_name"), col("stage_date"),
          col("house_uri"), col("house_name"), col("stage_outcome"),
          col("order_in_bill"), col("stage_index"), col("bill_stage_id"))
      timeDf("q48:flatten-projected")(flat)
      timeDf("q48:full")(SparkEntry.queries("q48_bill_stages_flatten")(spark, sfDir))
      cached.unpersist()
    } else if (args.headOption.contains("q77stages") || args.headOption.contains("q67stages")) {
      import org.apache.spark.sql.functions._
      import graft.operators.CurationPipeline
      val docs = Tables.load(spark, sfDir, "documents")
      // stages rebuild PER EVALUATION: timeDf clears the cache between
      // reps, and a prebuilt chain would run its later reps without the
      // operator-internal persists the real query benefits from
      def build(): Seq[(String, DataFrame)] =
        if (args.head == "q77stages")
          CurationPipeline.curateFullStages(docs, "text", "doc_id", "lang",
            col("doc_id") % 10 === 0)
        else
          CurationPipeline.curateStages(docs, "text", "doc_id", "lang",
            col("doc_id") % 10 === 0)
      // each frame's time is CUMULATIVE cost up to that stage; deltas
      // between consecutive lines are the per-stage costs
      build().map(_._1).zipWithIndex.foreach { case (label, i) =>
        timeDf(s"${args.head.take(3)}:$label")(build()(i)._2) }
      val full = if (args.head == "q77stages") "q77_corpus_pipeline_full" else "q67_corpus_pipeline"
      timeDf(s"${args.head.take(3)}:full+stats")(SparkEntry.queries(full)(spark, sfDir))
    } else if (args.headOption.contains("q148stages")) {
      import org.apache.spark.sql.functions._
      import graft.operators.{SearchOps, TextOps}
      val docs = Tables.load(spark, sfDir, "documents")
      val chunked = TextOps.chunkWindows(docs, "text", "doc_id",
          window = 32, overlap = 8)
        .select((col("doc_id").cast("long") * 100000L + col("chunk_id")).as("chunk_key"),
          col("chunk_text"))
      timeDf("q148:chunked")(chunked)
      val toks = SearchOps.tokenized(chunked, "chunk_text", "chunk_key")
      timeDf("q148:chunk-toks")(toks)
      timeDf("q148:stats")(toks.select(size(col("ws")).cast("double").as("dl"))
        .agg(count(lit(1)).cast("double").as("n_docs"), sum(col("dl")).as("total_len")))
      timeDf("q148:postings")(toks.select(col("doc_id"),
          size(col("ws")).cast("double").as("dl"), explode(col("ws")).as("term"))
        .groupBy("term", "doc_id")
        .agg(count(lit(1)).cast("double").as("tf"), max(col("dl")).as("dl")))
      timeDf("q148:queries")(SearchOps.derivedQueries(docs, "text", "doc_id", 50, 8))
    } else if (args.headOption.contains("recall53")) {
      // planes × probes → recall of multiProbeTopK vs brute cosine top-5
      // (the committed tuning table behind SimilarityOps' 100 TB advice)
      import org.apache.spark.sql.functions._
      import graft.operators.SimilarityOps
      val emb = Tables.load(spark, sfDir, "embeddings")
      // ground truth collected once (n·k pairs — bounded, profiler-only)
      val brute = SimilarityOps.bruteTopK(emb, "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("neighbor_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      println(s"brute top-5 pairs: ${brute.size}")
      for (planes <- Seq(4, 6, 8); probes <- Seq(0, 1, 2, 4)) {
        val t0 = System.nanoTime()
        val approx = SimilarityOps.multiProbeTopK(emb, "vec_id", "embedding",
            numPlanes = planes, dim = 64, probes = probes, k = 5)
          .select(col("query_id"), col("neighbor_id"))
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        val secs = (System.nanoTime() - t0) / 1e9
        val recall = approx.intersect(brute).size.toDouble / brute.size
        println(f"RECALL planes=$planes%d probes=$probes%d recall=$recall%.4f  time=$secs%5.2f s")
        spark.catalog.clearCache()
      }
    } else if (args.headOption.contains("q84stages")) {
      // q84 lifecycle decomposition: the bench entry's cost is the SUM of
      // four deliberate lifecycle actions — this prints each one's share
      // so a bench delta can be attributed. Caveats: single-shot (the
      // stages mutate persisted state, so best-of-3 would measure
      // no-ops), and the BENCH entry skips build (persisted across reps)
      // and no-ops the tag-committed append — only compact + re-ingest
      // recur there. Absolute numbers here carry this host's burst noise
      // and table-write cold costs; use the bench minimum for drift, this
      // for SHARE attribution only.
      import graft.operators.DedupOps
      val (corpus, batch1, batch2) =
        graft.queries.LlmFixtures.skewLifecycleParts(spark, sfDir)
      val cap = graft.queries.LlmFixtures.skewCap
      val prefix = "graft_profile_q84"
      def dirOf(p: String) = new java.io.File(sys.props("java.io.tmpdir"), p)
      def cleanup(): Unit = Seq(prefix, prefix + "_c").foreach { pf =>
        Seq("_fingerprints", "_shingles", "_bands")
          .foreach(sx => spark.sql(s"DROP TABLE IF EXISTS $pf$sx"))
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).getOrElse(Array.empty).foreach(rm); f.delete()
        }
        rm(dirOf(pf))
      }
      def timed[A](label: String)(f: => A): A = {
        val t0 = System.nanoTime(); val r = f
        println(f"PROFILE q84:$label%-24s ${(System.nanoTime() - t0) / 1e9}%6.2f s")
        // the bench clears cache between timed runs; without this the
        // build's persisted index frames leak across stages and GC
        // pressure masquerades as stage cost
        spark.catalog.clearCache()
        r
      }
      // rep 1 is JIT-cold; rep 2 is the bench-comparable share
      for (rep <- 1 to 2) {
        cleanup()
        timed(s"r$rep:build+write")(DedupOps.writeCorpusDedupIndex(
          DedupOps.buildCorpusDedupIndex(corpus, "text", "doc_id",
            n = 3, numHashes = 64, bands = 32, maxBucket = cap),
          prefix, buckets = 16, path = Some(dirOf(prefix).getPath)))
        timed(s"r$rep:append-batch1")(DedupOps.appendToCorpusDedupIndex(
          batch1, "text", "doc_id", prefix, epochTag = Some("prof1")))
        timed(s"r$rep:compact+recap")(DedupOps.compactCorpusDedupIndex(spark, prefix,
          prefix + "_c", buckets = 16,
          path = Some(dirOf(prefix + "_c").getPath)).count())
        timed(s"r$rep:re-ingest-batch2")(DedupOps.incrementalDedupPrepared(batch2,
            DedupOps.readCorpusDedupIndex(spark, prefix + "_c"), "text", "doc_id",
            n = 3, numHashes = 64, bands = 32, threshold = 0.5, maxBucket = cap)
          .write.format("noop").mode("overwrite").save())
        cleanup()
      }
    } else if (args.headOption.contains("q84streamdbg")) {
      // attribution for the q84stream per-trigger latency: replay
      // trigger 2's work as separately-timed batch stages
      import org.apache.spark.sql.functions._
      import graft.operators.DedupOps
      import spark.implicits._
      val (corpus, batch1, batch2) =
        graft.queries.LlmFixtures.skewLifecycleParts(spark, sfDir)
      val cap = graft.queries.LlmFixtures.skewCap
      val prefix = "graft_prof_q84d"
      def dirOf(p: String) = new java.io.File(sys.props("java.io.tmpdir"), p)
      def cleanup(): Unit = {
        for (sx <- Seq("_fingerprints", "_shingles", "_bands"))
          spark.sql(s"DROP TABLE IF EXISTS $prefix$sx")
        org.apache.commons.io.FileUtils.deleteQuietly(dirOf(prefix))
      }
      def timed[A](label: String)(f: => A): A = {
        val t0 = System.nanoTime(); val r = f
        println(f"PROFILE q84dbg:$label%-28s ${(System.nanoTime() - t0) / 1e9}%6.2f s")
        r
      }
      cleanup()
      try {
        timed("build+write")(DedupOps.writeCorpusDedupIndex(
          DedupOps.buildCorpusDedupIndex(corpus, "text", "doc_id",
            n = 3, numHashes = 64, bands = 32, maxBucket = cap),
          prefix, buckets = 16, path = Some(dirOf(prefix).getPath)))
        timed("append-batch1")(DedupOps.appendToCorpusDedupIndex(
          batch1, "text", "doc_id", prefix, epochTag = Some("t1")))
        val t2batch = batch2.filter(col("doc_id") % 2 === 0).localCheckpoint(true)
        println(s"trigger2 batch size: ${t2batch.count()}")
        val idx = timed("read-index")(DedupOps.readCorpusDedupIndex(spark, prefix))
        val (roster, caches) = timed("judge-plan")(
          DedupOps.incrementalDedupPreparedWithCaches(t2batch, idx,
            "text", "doc_id", 3, 64, 32, 0.5, cap))
        val rosterRows = timed("judge-materialize")(roster.count())
        println(s"roster rows: $rosterRows")
        val rk = roster.filter(col("status") === "kept")
        timed("roster-kept-count")(rk.count())
        def joinLines(df: org.apache.spark.sql.DataFrame, label: String): Unit = {
          println(s"== $label joins ==")
          df.queryExecution.executedPlan.toString.linesIterator
            .filter(l => l.contains("Join") || l.contains("BroadcastExchange"))
            .foreach(l => println(l.take(200)))
        }
        joinLines(roster, "roster")
        joinLines(rk, "roster-kept")
        val keptPlan = t2batch.withColumn("_nid", col("doc_id").cast("long"))
          .join(roster.filter(col("status") === "kept")
            .select(col("new_id").as("_nid")), Seq("_nid"), "left_semi")
          .drop("_nid")
        timed("kept-join-count")(keptPlan.count())
        val kept = timed("kept-checkpoint")(keptPlan.localCheckpoint(true))
        caches.foreach(_.unpersist())
        timed("write-kept")(kept.write.mode("overwrite")
          .parquet(dirOf(prefix + "_sink").getPath))
        timed("append-kept")(DedupOps.appendToCorpusDedupIndex(
          kept, "text", "doc_id", prefix, epochTag = Some("t2")))
        // a third small batch after two appends — does append cost grow?
        val t3batch = batch2.filter(col("doc_id") % 2 === 1).localCheckpoint(true)
        val (roster3, caches3) = DedupOps.incrementalDedupPreparedWithCaches(
          t3batch, DedupOps.readCorpusDedupIndex(spark, prefix),
          "text", "doc_id", 3, 64, 32, 0.5, cap)
        timed("judge3-materialize")(roster3.count())
        val kept3 = t3batch.withColumn("_nid", col("doc_id").cast("long"))
          .join(roster3.filter(col("status") === "kept")
            .select(col("new_id").as("_nid")), Seq("_nid"), "left_semi")
          .drop("_nid").localCheckpoint(true)
        caches3.foreach(_.unpersist())
        timed("append3-kept")(DedupOps.appendToCorpusDedupIndex(
          kept3, "text", "doc_id", prefix, epochTag = Some("t3")))
        org.apache.commons.io.FileUtils.deleteQuietly(dirOf(prefix + "_sink"))
      } finally cleanup()
    } else if (args.headOption.contains("q84stream")) {
      // Bench-scale STREAMING lifecycle (the q84 story driven through
      // the pointer-resolved intake sink): per-trigger latency before
      // and after a mid-stream compact + CHECKED promote at this SF,
      // with a real append committing inside the compact→promote window
      // (healed by the checked promote) and correctness re-checked
      // post-swap. One long-running query across the swap — no restart.
      implicit val sqlCtx = spark.sqlContext
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.streaming.Trigger
      import graft.operators.DedupOps
      import graft.streaming.StreamOps
      import spark.implicits._
      val (corpus, batch1, batch2) =
        graft.queries.LlmFixtures.skewLifecycleParts(spark, sfDir)
      val cap = graft.queries.LlmFixtures.skewCap
      val pa = "graft_prof_q84s_a"; val pb = "graft_prof_q84s_b"
      def dirOf(p: String) = new java.io.File(sys.props("java.io.tmpdir"), p)
      def cleanup(): Unit = {
        for (p <- Seq(pa, pb); sx <- Seq("_fingerprints", "_shingles", "_bands"))
          spark.sql(s"DROP TABLE IF EXISTS $p$sx")
        Seq(pa, pb, "graft_prof_q84s_store", "graft_prof_q84s_sink")
          .foreach(p => org.apache.commons.io.FileUtils.deleteQuietly(dirOf(p)))
      }
      def timed[A](label: String)(f: => A): A = {
        val t0 = System.nanoTime(); val r = f
        println(f"PROFILE q84stream:$label%-28s ${(System.nanoTime() - t0) / 1e9}%6.2f s")
        r
      }
      cleanup()
      try {
        timed("build+write+promote") {
          DedupOps.writeCorpusDedupIndex(
            DedupOps.buildCorpusDedupIndex(corpus, "text", "doc_id",
              n = 3, numHashes = 64, bands = 32, maxBucket = cap),
            pa, buckets = 16, path = Some(dirOf(pa).getPath))
        }
        val store = graft.io.BatchStore.local(dirOf("graft_prof_q84s_store").getPath)
        val pointerKey = "pointers/dedup_index.json"
        DedupOps.promoteCorpusDedupIndexChecked(spark, store, pointerKey, pa,
          Some(dirOf(pa).getPath))
        val input = MemoryStream[(Long, String)]
        val target = dirOf("graft_prof_q84s_sink").getPath
        StreamOps.intakeDebug = true
        val q = StreamOps.nearDupIntakeSinkWithIndexPointer(
            input.toDF().toDF("doc_id", "text"), store, pointerKey,
            "text", "doc_id", target, maxBucket = cap)
          .trigger(Trigger.ProcessingTime("0 seconds")).start()
        def rowsOf(df: org.apache.spark.sql.DataFrame) =
          df.select(col("doc_id").cast("long"), col("text"))
            .as[(Long, String)].collect().toSeq
        def feed(label: String, rows: Seq[(Long, String)]): Unit = {
          input.addData(rows: _*)
          timed(s"$label(${rows.size} docs)")(q.processAllAvailable())
        }
        val b1 = rowsOf(batch1)
        try {
          // trigger 1: the 800-member hot family is judged + appended to pa
          feed("trigger1-skew-accept", b1)
          // steady-state pre-swap trigger latency (half of batch2)
          val b2 = rowsOf(batch2)
          feed("trigger2-pre-swap", b2.filter(_._1 % 2 == 0))
          // maintenance mid-stream: compact with re-cap...
          val report = timed("compact+recap")(DedupOps.compactCorpusDedupIndex(
            spark, pa, pb, buckets = 16, path = Some(dirOf(pb).getPath)))
          println(s"PROFILE q84stream:recap-dropped-buckets    ${report.count()}")
          // ...a late append COMMITS on pa inside the window...
          val late = spark.range(100).select((col("id") + 7000000L).as("doc_id"),
            concat(lit("late window document number "), col("id"),
              lit(" committed after the compaction read unique content")).as("text"))
          DedupOps.appendToCorpusDedupIndex(late, "text", "doc_id", pa,
            epochTag = Some("late-profile"))
          // ...and the CHECKED promote heals it into pb before swapping
          val promoted = timed("checked-promote+heal")(
            DedupOps.promoteCorpusDedupIndexChecked(spark, store, pointerKey,
              pb, Some(dirOf(pb).getPath)))
          println(s"PROFILE q84stream:healed-epochs            " +
            promoted("healed_epochs").asInstanceOf[Seq[Long]].mkString(","))
          // trigger 3 (post-swap, same size class as trigger 2): judges
          // against pb; exact copies of the healed late docs must drop
          val lateCopies = (0L until 20L).map(i =>
            (8000000L + i, s"late window document number $i committed after " +
              "the compaction read unique content"))
          // exact copies of streamed-in batch1 docs, POST-swap: judged
          // against pb, so they prove the trigger-1 append survived the
          // compact+promote (not just that pa held them pre-swap)
          val b1Copies = b1.take(20).zipWithIndex.map { case ((_, txt), i) =>
            (9000000L + i, txt)
          }
          feed("trigger3-post-swap", b2.filter(_._1 % 2 == 1) ++ lateCopies ++ b1Copies)
        } finally q.stop()
        // correctness re-check post-swap: every exact-dup leg must have
        // dropped (aLeg +5e6 = copies of batch1 docs — proves the append
        // survived compaction; dLeg +2e6 = copies of base docs; +8e6 =
        // copies of the HEALED late docs — proves the heal carried data)
        val kept = spark.read.parquet(target).select("doc_id").as[Long].collect().toSet
        def leg(name: String, lo: Long, hi: Long): Unit =
          println(s"PROFILE q84stream:kept-$name = ${kept.count(id => id >= lo && id < hi)}")
        leg("aLeg-batch1-copies(want 0)", 5000000L, 6000000L)
        leg("bLeg-near-dups(want 0)", 4000000L, 5000000L)
        leg("cLeg-fresh-family", 6000000L, 7000000L)
        leg("dLeg-base-copies(want 0)", 2000000L, 3000000L)
        leg("late-heal-copies(want 0)", 8000000L, 9000000L)
        leg("batch1-copies-post-swap(want 0)", 9000000L, 10000000L)
        require(!kept.exists(id => id >= 8000000L && id < 9000000L),
          "heal failed: copies of the healed late docs were kept post-swap")
        require(!kept.exists(id => id >= 9000000L && id < 10000000L),
          "lifecycle failed: post-swap copies of batch1's streamed docs were kept")
        require(!kept.exists(id => id >= 5000000L && id < 6000000L),
          "lifecycle failed: copies of batch1's accepted docs were kept pre-swap")
      } finally cleanup()
    } else if (args.headOption.contains("vindexstream")) {
      // Bench-scale VECTOR-INDEX lifecycle: build v1 on half the corpus,
      // stream the other half through vectorIngestSink in three real
      // triggers (per-trigger latency printed), serve a query over base +
      // segments, FOLD the segments into v2 (small-files compaction,
      // atomic swap), re-serve (must be row-identical), then RETRAIN v3
      // from the full corpus and serve once more. One pass, timed stages,
      // correctness asserts inline — the q84stream treatment applied to
      // the ANN serving lifecycle.
      implicit val sqlCtx = spark.sqlContext
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.streaming.Trigger
      import graft.operators.VectorIndex
      import spark.implicits._
      val (dim, m, k) = (64, 4, 16)
      val root = new java.io.File(sys.props("java.io.tmpdir"), "graft_prof_vindex")
      val ckpt = new java.io.File(sys.props("java.io.tmpdir"), "graft_prof_vindex_ckpt")
      def cleanup(): Unit = Seq(root, ckpt)
        .foreach(org.apache.commons.io.FileUtils.deleteQuietly)
      def timed[A](label: String)(f: => A): A = {
        val t0 = System.nanoTime(); val r = f
        println(f"PROFILE vindexstream:$label%-26s ${(System.nanoTime() - t0) / 1e9}%6.2f s")
        r
      }
      cleanup()
      try {
        val emb = Tables.load(spark, sfDir, "embeddings")
        val cutoff = emb.agg(max(col("vec_id").cast("long"))).head().getLong(0) / 2
        val base = emb.filter(col("vec_id") <= cutoff)
        val rest = emb.filter(col("vec_id") > cutoff)
        println(s"PROFILE vindexstream:corpus = ${emb.count()} vectors, base ${base.count()}")
        val model = timed("build-v1+swap") {
          val (mdl, codes) = VectorIndex.build(base, "vec_id", "embedding", "label", dim, m, k)
          VectorIndex.writeVersion(mdl, codes, root.getPath, 1)
          VectorIndex.swapPointer(root.getPath, 1)
          mdl
        }
        val input = MemoryStream[(Long, Seq[Double])]
        val q = graft.streaming.StreamOps.vectorIngestSink(
            input.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
            model, VectorIndex.versionDir(root.getPath, 1))
          .trigger(Trigger.ProcessingTime("0 seconds"))
          .option("checkpointLocation", ckpt.getPath)
          .start()
        try (0 until 3).foreach { r =>
          val rows = rest.filter(col("vec_id") % 3 === r)
            .select(col("vec_id").cast("long"), col("embedding").cast("array<double>"))
            .as[(Long, Seq[Double])].collect().toSeq
          input.addData(rows: _*)
          timed(s"trigger${r + 1}(${rows.size} vecs)")(q.processAllAvailable())
        } finally q.stop()
        def serve(label: String): Seq[org.apache.spark.sql.Row] = timed(s"query-$label")(
          VectorIndex.query(emb, "vec_id", "embedding",
              VectorIndex.readCurrentModel(spark, root.getPath, dim, m, k),
              VectorIndex.readCodesWithIngest(spark, VectorIndex.versionDir(
                root.getPath, VectorIndex.currentVersion(root.getPath).get)),
              rawVectors = emb, nprobe = 2, shortlist = 10, topK = 3)
            .orderBy("query_id", "rank").collect().toSeq)
        val segCount = new java.io.File(VectorIndex.versionDir(root.getPath, 1), "ingest")
          .listFiles().count(_.getName.startsWith("b"))
        println(s"PROFILE vindexstream:ingest-segments = $segCount")
        val preFold = serve("segments")
        require(preFold.nonEmpty)
        timed("fold+swap")(
          VectorIndex.foldIngestAndSwap(spark, root.getPath, dim, m, k))
        val postFold = serve("folded")
        require(postFold == preFold, "fold changed answers")
        timed("retrain+swap")(VectorIndex.retrainAndSwap(
          emb, "vec_id", "embedding", "label", dim, m, k, root.getPath))
        val postRetrain = serve("retrained")
        require(postRetrain.nonEmpty)
        println(s"PROFILE vindexstream:versions = ${VectorIndex.currentVersion(root.getPath)}")
      } finally cleanup()
    } else if (args.headOption.contains("pindexstream")) {
      // Bench-scale POSTINGS-INDEX lifecycle (the vindexstream treatment
      // applied to lexical retrieval): build v1 on half the corpus,
      // stream the other half through postingsIngestSink in three real
      // triggers — each lands as one pointer-swapped version, per-trigger
      // latency printed — serve BM25 through the pointer, FOLD the
      // per-trigger segments into one (small-files compaction, answers
      // must not move), then DELETE the %7 slice and serve once more.
      implicit val sqlCtx = spark.sqlContext
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.streaming.Trigger
      import graft.operators.SearchOps
      import spark.implicits._
      val root = new java.io.File(sys.props("java.io.tmpdir"), "graft_prof_pindex")
      val ckpt = new java.io.File(sys.props("java.io.tmpdir"), "graft_prof_pindex_ckpt")
      def cleanup(): Unit = Seq(root, ckpt)
        .foreach(org.apache.commons.io.FileUtils.deleteQuietly)
      def timed[A](label: String)(f: => A): A = {
        val t0 = System.nanoTime(); val r = f
        println(f"PROFILE pindexstream:$label%-26s ${(System.nanoTime() - t0) / 1e9}%6.2f s")
        r
      }
      cleanup()
      try {
        val docs = Tables.load(spark, sfDir, "documents")
        val qsW = SearchOps.derivedQueries(docs, "text", "doc_id",
          everyNth = 50, prefixTokens = 8)
        val cutoff = docs.agg(max(col("doc_id").cast("long"))).head().getLong(0) / 2
        println(s"PROFILE pindexstream:corpus = ${docs.count()} docs")
        timed("build-v1+swap")(SearchOps.buildPostingsIndex(
          docs.filter(col("doc_id") <= cutoff), "text", "doc_id", root.getPath))
        val input = MemoryStream[(Long, String)]
        val q = graft.streaming.StreamOps.postingsIngestSink(
            input.toDF().toDF("doc_id", "text"), "text", "doc_id", root.getPath)
          .trigger(Trigger.ProcessingTime("0 seconds"))
          .option("checkpointLocation", ckpt.getPath)
          .start()
        try (0 until 3).foreach { r =>
          val rows = docs.filter(col("doc_id") > cutoff && col("doc_id") % 3 === r)
            .select(col("doc_id").cast("long"), col("text"))
            .as[(Long, String)].collect().toSeq
          input.addData(rows: _*)
          timed(s"trigger${r + 1}(${rows.size} docs)")(q.processAllAvailable())
        } finally q.stop()
        def serve(label: String): Seq[org.apache.spark.sql.Row] =
          timed(s"query-$label")(
            SearchOps.bm25TopKIndexed(spark, root.getPath, qsW, topK = 5)
              .orderBy("query_id", "rank").collect().toSeq)
        println(s"PROFILE pindexstream:post-ingest-version = " +
          s"${SearchOps.postingsCurrentVersion(root.getPath)}")
        val preFold = serve("segments")
        require(preFold.nonEmpty)
        timed("fold+swap")(SearchOps.foldPostingsIndex(spark, root.getPath))
        val postFold = serve("folded")
        require(postFold == preFold, "fold changed answers")
        timed("delete+swap")(SearchOps.deleteFromPostingsIndex(spark,
          root.getPath, docs.filter(col("doc_id") % 7 === 0).select(col("doc_id"))))
        val postDelete = serve("deleted")
        require(postDelete.nonEmpty)
        println(s"PROFILE pindexstream:final-version = " +
          s"${SearchOps.postingsCurrentVersion(root.getPath)}")
      } finally cleanup()
    } else if (args.headOption.contains("q55stages")) {
      import org.apache.spark.sql.functions._
      import graft.operators.DedupOps
      val emb = Tables.load(spark, sfDir, "embeddings")
        .select(col("vec_id").cast("long").as("vid"),
          transform(col("embedding"), x => x.cast("double")).as("vd"))
      println(s"vectors: ${emb.count()}")
      for (planes <- Seq(8, 12, 16)) {
        val pairs = DedupOps.lshEmbeddingNearDupPairs(emb, "vid", "vd",
          dim = 64, bands = 16, planesPerBand = planes)
        val t0 = System.nanoTime()
        val n = pairs.count()
        println(f"planes=$planes%2d -> result pairs=$n%6d  time=${(System.nanoTime()-t0)/1e9}%5.2f s")
        spark.catalog.clearCache()
      }
    } else if (args.headOption.contains("termstatsappend")) {
      // appendPostingsIndex rewrites the FULL vocabulary-sized termstats
      // on every append (the delta segment itself is batch-sized): this
      // measures how per-append cost scales with vocabulary size at a
      // FIXED delta, the datapoint for when termstats delta-segments +
      // merge-on-read would start to pay (round-12 verdict item 5).
      import org.apache.spark.sql.functions._
      import graft.operators.SearchOps
      val deltaDocs = 200L
      Seq(10000L, 50000L, 200000L, 500000L).foreach { v =>
        // each doc carries 50 distinct stride-spread terms so the corpus
        // covers the whole vocabulary; term ids stay inside [0, v)
        def docsDf(n: Long, idOffset: Long) = spark.range(n)
          .select((col("id") + idOffset).as("doc_id"),
            concat_ws(" ", (0 until 50).map(j =>
              concat(lit("t"), (col("id") * 53L + j) % v)): _*).as("text"))
        val nCorpus = math.max(2000L, v / 10)
        val root = java.nio.file.Files.createTempDirectory(s"graft_tsapp_$v").toFile
        try {
          val t0 = System.nanoTime()
          SearchOps.buildPostingsIndex(docsDf(nCorpus, 0), "text", "doc_id", root.getPath)
          val build = (System.nanoTime() - t0) / 1e9
          val vocab = spark.read.parquet(
            s"${SearchOps.postingsVersionDir(root.getPath,
              SearchOps.postingsCurrentVersion(root.getPath).get)}/termstats").count()
          val reps = (0 until 3).map { r =>
            val t1 = System.nanoTime()
            SearchOps.appendPostingsIndex(docsDf(deltaDocs, 10000000L + r * 1000),
              "text", "doc_id", root.getPath, s"b$r")
            (System.nanoTime() - t1) / 1e9
          }
          println(f"PROFILE termstats-append vocab=$vocab%7d corpus=$nCorpus%6d " +
            f"delta=$deltaDocs%4d build=$build%6.2f s  append min=${reps.min}%5.2f  " +
            reps.map(t => f"$t%5.2f").mkString(" "))
        } finally org.apache.commons.io.FileUtils.deleteQuietly(root)
      }
    } else {
      // 5 timed reps each after one warm rep — prints every rep so noise
      // is visible rather than hidden behind a min
      names.foreach { n =>
        run(n)
        val reps = (1 to 5).map(_ => run(n))
        println(f"PROFILE $n%-32s min=${reps.min}%6.2f  " +
          reps.map(t => f"$t%5.2f").mkString(" "))
      }
    }
    spark.stop()
  }
}
