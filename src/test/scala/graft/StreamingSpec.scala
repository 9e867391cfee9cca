package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.StreamOps

/** Live Structured-Streaming coverage: the same StreamOps builders that
  * the batch oracles pin are driven here through MemoryStream sources —
  * watermark + tumbling agg, and the foreachBatch upsert sink.
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("streaming tumbling agg with watermark over a MemoryStream") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Double)]
    val events = input.toDF().toDF("ts", "event_type", "value")

    val agg = StreamOps.streamingTumblingAgg(events, "ts", "10 minutes",
      watermark = "1 hour", keys = Seq("event_type"),
      aggs = Seq(count(lit(1)).as("n"), sum($"value").as("v")))

    val q = agg.writeStream.outputMode("update")
      .format("memory").queryName("tumbling_out").start()
    try {
      input.addData(
        (ts("2024-01-01 10:01:00"), "click", 1.0),
        (ts("2024-01-01 10:04:00"), "click", 2.0),
        (ts("2024-01-01 10:11:00"), "view", 5.0))
      q.processAllAvailable()
      val rows = spark.table("tumbling_out")
        .select(date_format($"window_start", "HH:mm").as("w"), $"event_type", $"n", $"v")
        .orderBy("w").collect()
      assert(rows.map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSeq ==
        Seq(("10:00", "click", 2L, 3.0), ("10:10", "view", 1L, 5.0)))
    } finally q.stop()
  }

  test("watermarked streaming dedupe drops repeats across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long, String)]
    val events = input.toDF().toDF("ts", "event_id", "payload")
    val deduped = StreamOps.dedupWithinWatermark(events, "ts", "1 hour", Seq("event_id"))
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName("dedup_out").start()
    try {
      input.addData(
        (ts("2024-01-01 10:00:00"), 1L, "a"),
        (ts("2024-01-01 10:01:00"), 2L, "b"),
        (ts("2024-01-01 10:02:00"), 1L, "a-dup-same-batch"))
      q.processAllAvailable()
      input.addData(
        (ts("2024-01-01 10:03:00"), 2L, "b-dup-next-batch"),
        (ts("2024-01-01 10:04:00"), 3L, "c"))
      q.processAllAvailable()
      val rows = spark.table("dedup_out")
        .select($"event_id", $"payload").orderBy("event_id").collect()
      // first-seen payload wins; duplicates within the watermark vanish
      assert(rows.map(r => (r.getLong(0), r.getString(1))).toSeq ==
        Seq((1L, "a"), (2L, "b"), (3L, "c")))
    } finally q.stop()
  }

  test("streaming corpus intake filters repetitive docs and dedups by fingerprint") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long, String)]
    val docs = input.toDF().toDF("ts", "doc_id", "text")
    val curated = StreamOps.curateStream(docs, "ts", "1 hour", "text")
    val q = curated.writeStream.outputMode("append")
      .format("memory").queryName("curate_out").start()
    try {
      input.addData(
        (ts("2024-01-01 10:00:00"), 1L, "the quick brown fox jumps today"),
        (ts("2024-01-01 10:01:00"), 2L, "spam spam spam spam spam spam spam ham"))
      q.processAllAvailable()
      input.addData(
        // exact dup of doc 1 after normalization, next micro-batch
        (ts("2024-01-01 10:05:00"), 3L, "The  QUICK brown fox jumps today"),
        (ts("2024-01-01 10:06:00"), 4L, "a genuinely new document arrives here"))
      q.processAllAvailable()
      val ids = spark.table("curate_out").select($"doc_id").as[Long].collect().sorted
      // 2 repetitive (6/8 dup words); 3 exact dup within the watermark
      assert(ids.toSeq == Seq(1L, 4L))
    } finally q.stop()
  }

  test("incremental intake drops corpus-known docs and in-stream repeats") {
    implicit val sqlCtx = spark.sqlContext
    val corpusFp = Seq("the quick brown fox jumps today")
      .toDF("text")
      .select(graft.operators.TextOps.fingerprint($"text").as("fp"))
    val input = MemoryStream[(Timestamp, Long, String)]
    val docs = input.toDF().toDF("ts", "doc_id", "text")
    val intake = StreamOps.incrementalIntakeStream(docs, corpusFp, "ts", "1 hour", "text")
    val q = intake.writeStream.outputMode("append")
      .format("memory").queryName("intake_out").start()
    try {
      input.addData(
        // already in the corpus (normalization-equal) -> dropped
        (ts("2024-01-01 10:00:00"), 1L, "The  QUICK brown fox jumps today"),
        (ts("2024-01-01 10:01:00"), 2L, "a genuinely new document arrives here"))
      q.processAllAvailable()
      input.addData(
        // in-stream repeat of doc 2 within the watermark -> dropped
        (ts("2024-01-01 10:05:00"), 3L, "a genuinely NEW document arrives here"),
        (ts("2024-01-01 10:06:00"), 4L, "and another brand new one lands"))
      q.processAllAvailable()
      val ids = spark.table("intake_out").select($"doc_id").as[Long].collect().sorted
      assert(ids.toSeq == Seq(2L, 4L))
    } finally q.stop()
  }

  test("flatMapGroupsWithState accumulates per-key state across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Double)]
    val counts = StreamOps.runningCounts(input.toDS())
    val q = counts.toDF("user_id", "total", "batch_n").writeStream
      .outputMode("append").format("memory").queryName("state_out").start()
    try {
      input.addData((1L, 1.0), (1L, 2.0), (2L, 5.0))
      q.processAllAvailable()
      input.addData((1L, 3.0))
      q.processAllAvailable()
      val rows = spark.table("state_out")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      // batch 1: user1 total 2, user2 total 1; batch 2: user1 total 3
      assert(rows == Set((1L, 2L, 2L), (2L, 1L, 1L), (1L, 3L, 1L)))
    } finally q.stop()
  }

  test("stream-stream interval join pairs rows within the time bound across batches") {
    implicit val sqlCtx = spark.sqlContext
    val imps = MemoryStream[(Long, Timestamp, String)]
    val clicks = MemoryStream[(Long, Timestamp, String)]
    val joined = StreamOps.intervalJoin(
      imps.toDF().toDF("imp_user", "imp_ts", "imp_id"),
      clicks.toDF().toDF("clk_user", "clk_ts", "clk_id"),
      leftKey = "imp_user", rightKey = "clk_user",
      leftTs = "imp_ts", rightTs = "clk_ts",
      delay = "30 minutes", lowerBound = "0 seconds", upperBound = "10 minutes")
    val q = joined.select("imp_id", "clk_id").writeStream
      .outputMode("append").format("memory").queryName("join_out").start()
    try {
      imps.addData((1L, ts("2024-01-01 10:00:00"), "i1"),
        (2L, ts("2024-01-01 10:00:00"), "i2"))
      q.processAllAvailable()
      // next batch: one click inside the 10-minute window, one outside,
      // one for an unknown user
      clicks.addData((1L, ts("2024-01-01 10:05:00"), "c1"),
        (2L, ts("2024-01-01 10:20:00"), "c2-late"),
        (9L, ts("2024-01-01 10:01:00"), "c3-nouser"))
      q.processAllAvailable()
      val rows = spark.table("join_out").collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
      assert(rows == Set(("i1", "c1")))
    } finally q.stop()
  }

  test("near-dup intake sink drops near-dups of corpus docs across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.DedupOps
    val target = Files.createTempDirectory("graft_nd_sink").resolve("t").toString

    // curated corpus + its prepared index (in-session frames: the spec
    // pins judgment semantics; the bucketed-layout zero-exchange property
    // is CorpusIndexSpec's job)
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank"),
      (2L, "an entirely separate corpus document about streaming ingestion pipelines today")
    ).toDF("doc_id", "text")
    val idx = DedupOps.buildCorpusDedupIndex(corpus, "text", "doc_id")

    val input = MemoryStream[(Long, String)]
    val stream = input.toDF().toDF("doc_id", "text")

    // batch 1: a NEAR-dup of corpus doc 1 (one word changed) + a novel doc
    val q1 = StreamOps.nearDupIntakeSink(stream, idx, "text", "doc_id", target).start()
    input.addData(
      (100L, "the quick brown fox jumps over the lazy dog near the river bend"),
      (101L, "completely fresh material with no relatives anywhere in the corpus"))
    q1.processAllAvailable(); q1.stop()

    // batch 2: an EXACT dup of corpus doc 2, an in-batch near-dup pair
    // (greedy: the smaller id survives), and another novel doc
    val q2 = StreamOps.nearDupIntakeSink(stream, idx, "text", "doc_id", target).start()
    input.addData(
      (200L, "an entirely separate corpus document about streaming ingestion pipelines today"),
      (201L, "novel second batch content describing watermarks and triggers in detail"),
      (202L, "novel second batch content describing watermarks and triggers in depth"))
    q2.processAllAvailable(); q2.stop()

    val out = spark.read.parquet(target).select("doc_id")
      .as[Long].collect().toSet
    // 100 near-dups corpus doc 1 → dropped; 200 exact-dups corpus doc 2 →
    // dropped; 202 near-dups in-batch 201 → dropped; novels survive
    assert(out == Set(101L, 201L), s"intake sink kept $out")
  }

  test("self-updating intake sink drops near-dups of EARLIER triggers' accepted docs") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.DedupOps
    val target = Files.createTempDirectory("graft_ndu_sink").resolve("t").toString
    val root = Files.createTempDirectory("graft_ndu_idx").toString
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank")
    ).toDF("doc_id", "text")
    DedupOps.writeCorpusDedupIndex(
      DedupOps.buildCorpusDedupIndex(corpus, "text", "doc_id"), root, buckets = 2)

    val input = MemoryStream[(Long, String)]
    val stream = input.toDF().toDF("doc_id", "text")

    // one query owns the root (segments key on its batch ids): override
    // the sink's AvailableNow with a continuous processing-time trigger
    val q = StreamOps.nearDupIntakeSinkWithIndexUpdate(
        stream, root, "text", "doc_id", target)
      .trigger(Trigger.ProcessingTime("0 seconds")).start()
    try {
      // trigger 1: a novel doc — accepted AND appended to the index
      input.addData(
        (100L, "fresh material arriving in the first trigger about spark state stores"))
      q.processAllAvailable()

      // trigger 2: a NEAR-dup of trigger 1's accepted doc (one word
      // changed) must now drop — the static-index sink would keep it —
      // plus an exact dup of it and a genuinely novel doc
      input.addData(
        (200L, "fresh material arriving in the first trigger about spark state machines"),
        (201L, "fresh material arriving in the first trigger about spark state stores"),
        (202L, "wholly unrelated second trigger content concerning broadcast variables"))
      q.processAllAvailable()
    } finally q.stop()

    val out = spark.read.parquet(target).select("doc_id")
      .as[Long].collect().toSet
    assert(out == Set(100L, 202L), s"self-updating sink kept $out")
  }

  test("a second query on an owned intake root fails instead of skipping its batches") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.{DedupOps, SemanticIndex, VectorIndex}
    /** One segment-ledger family: a served v1 at `root`, a sink started
      * on a fresh stream (returns the row feeder and the query), and the
      * streamed ids the root has taken in.
      */
    final case class Family(name: String, store: graft.io.VersionedStore, root: String,
        start: () => (Long => Unit, org.apache.spark.sql.streaming.StreamingQuery),
        kept: () => Set[Long])
    val texts = Map(
      100L -> "fresh material arriving in the first trigger about spark state stores",
      200L -> "wholly unrelated second query content concerning broadcast variables")
    val vecs = Map(100L -> Seq(5.0, 5.0, 0.0, 0.0), 200L -> Seq(0.0, 0.0, 7.0, 7.0))
    def running(q: org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row]) =
      q.trigger(Trigger.ProcessingTime("0 seconds")).start()

    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank")
    ).toDF("doc_id", "text")
    val corpusRoot = Files.createTempDirectory("graft_ndo_idx").toString
    val corpusTarget = Files.createTempDirectory("graft_ndo_sink").resolve("t").toString
    DedupOps.writeCorpusDedupIndex(
      DedupOps.buildCorpusDedupIndex(corpus, "text", "doc_id"), corpusRoot, buckets = 2)

    val axes = (0 until 4).map(i => (i.toLong, Seq.tabulate(4)(d => if (d == i) 10.0 else 0.0)))
    val vectorRoot = freshDir("graft_vdo_idx").getPath
    val (model, codes) = VectorIndex.build(
      axes.map { case (id, v) => (id, v, id % 2) }.toDF("vec_id", "embedding", "label"),
      "vec_id", "embedding", "label", 4, 2, 2)
    VectorIndex.writeVersion(model, codes, vectorRoot, 1)
    VectorIndex.swapPointer(vectorRoot, 1)

    val semanticRoot = freshDir("graft_sdo_idx").getPath
    val semanticTarget = freshDir("graft_sdo_sink").getPath
    SemanticIndex.buildAndServe(axes.toDF("vid", "vd"), "vid", "vd", k = 4, maxIter = 2,
      semanticRoot)

    val families = Seq(
      Family("corpus", DedupOps.corpusIndex, corpusRoot, () => {
        val in = MemoryStream[(Long, String)]
        ((id: Long) => { in.addData((id, texts(id))); () }, running(
          StreamOps.nearDupIntakeSinkWithIndexUpdate(in.toDF().toDF("doc_id", "text"),
            corpusRoot, "text", "doc_id", corpusTarget)))
      }, () => spark.read.parquet(corpusTarget).select("doc_id").as[Long].collect().toSet),
      Family("vector", VectorIndex, vectorRoot, () => {
        val in = MemoryStream[(Long, Seq[Double])]
        ((id: Long) => { in.addData((id, vecs(id))); () }, running(
          StreamOps.vectorIngestSink(in.toDF().toDF("vec_id", "embedding"),
            "vec_id", "embedding", vectorRoot, 4, 2, 2)))
      }, () => VectorIndex.readCodesWithIngest(spark, VectorIndex.versionDir(vectorRoot, 1))
        .filter($"vid" >= 100L).select("vid").as[Long].collect().toSet),
      Family("semantic", SemanticIndex, semanticRoot, () => {
        val in = MemoryStream[(Long, Seq[Double])]
        ((id: Long) => { in.addData((id, vecs(id))); () }, running(
          StreamOps.semanticIntakeSink(in.toDF().toDF("vid", "vd"), "vid", "vd",
            semanticRoot, semanticTarget, t2 = 0.81)))
      }, () => spark.read.parquet(semanticTarget).filter($"kept").select("vid")
        .as[Long].collect().toSet))

    families.foreach { f => withClue(s"${f.name}: ") {
      def segments() = f.store.committedSegments(f.store.versionDir(f.root, 1))
      // the first query owns the root: its batch 0 lands as segment b0
      val (feed1, q1) = f.start()
      try { feed1(100L); q1.processAllAvailable() } finally q1.stop()
      assert(f.kept() == Set(100L) && segments() == Seq("b0"))

      // a second query (fresh checkpoint) also numbers its first batch 0:
      // b0 is applied, so it would skip a novel row unjudged — the owner
      // record stops it instead
      val (feed2, q2) = f.start()
      val err = try {
        feed2(200L)
        intercept[org.apache.spark.sql.streaming.StreamingQueryException](q2.processAllAvailable())
      } finally q2.stop()
      assert(Iterator.iterate(err: Throwable)(_.getCause).takeWhile(_ != null)
        .exists(e => String.valueOf(e.getMessage).contains("is fed by streaming query")), err)
      assert(f.kept() == Set(100L) && segments() == Seq("b0"))
    } }

    // a batch append would share the owner's ids too
    intercept[IllegalStateException](DedupOps.appendToCorpusDedupIndex(
      Seq((300L, "a batch-appended doc")).toDF("doc_id", "text"), "text", "doc_id", corpusRoot, 1L))

    // and a stream refuses a root that batch appends already fed
    val batchRoot = Files.createTempDirectory("graft_ndo_batch_idx").toString
    DedupOps.writeCorpusDedupIndex(
      DedupOps.buildCorpusDedupIndex(corpus, "text", "doc_id"), batchRoot, buckets = 2)
    assert(DedupOps.appendToCorpusDedupIndex(
      Seq((300L, "a batch-appended doc")).toDF("doc_id", "text"), "text", "doc_id", batchRoot, 0L))
    assert(intercept[IllegalStateException](DedupOps.corpusIndex.intakeTrigger(batchRoot,
      "query", 0L)(_ => fail("a refused trigger must not write"))).getMessage
      .contains("already holds appended batches"))
  }

  test("pointer-resolved intake rolls onto a compacted index mid-stream") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.DedupOps
    val target = Files.createTempDirectory("graft_ndp_sink").resolve("t").toString
    val root = Files.createTempDirectory("graft_ndp_idx").toString
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank")
    ).toDF("doc_id", "text")
    DedupOps.writeCorpusDedupIndex(
      DedupOps.buildCorpusDedupIndex(corpus, "text", "doc_id"), root, buckets = 2)

    val input = MemoryStream[(Long, String)]
    val stream = input.toDF().toDF("doc_id", "text")
    // ONE long-running query across the fold: override the sink's
    // AvailableNow with a continuous processing-time trigger
    val q = StreamOps.nearDupIntakeSinkWithIndexUpdate(
        stream, root, "text", "doc_id", target)
      .trigger(Trigger.ProcessingTime("0 seconds")).start()
    try {
      // trigger 1 judges against v1 and commits 100 as v1's segment
      input.addData(
        (100L, "fresh material arriving in the first trigger about spark state stores"))
      q.processAllAvailable()

      // maintenance mid-stream: fold v1 (and its segment) into v2 — NO
      // stream restart and no quiesce requirement
      DedupOps.compactCorpusDedupIndex(spark, root)
      assert(DedupOps.corpusIndex.currentVersion(root).contains(2))

      // trigger 2 must judge against v2: near-dup of trigger 1's
      // accepted doc and of the base corpus both drop; novel kept
      input.addData(
        (200L, "fresh material arriving in the first trigger about spark state machines"),
        (201L, "the quick brown fox jumps over the lazy dog near the river bend"),
        (202L, "wholly unrelated second trigger content concerning broadcast variables"))
      q.processAllAvailable()

      // trigger 3 proves post-fold appends landed in v2: a near-dup of
      // trigger 2's accepted doc drops
      input.addData(
        (300L, "wholly unrelated second trigger content concerning accumulator variables"),
        (301L, "a completely distinct third trigger document about shuffle services"))
      q.processAllAvailable()
    } finally q.stop()

    val out = spark.read.parquet(target).select($"doc_id").as[Long].collect().toSet
    assert(out == Set(100L, 202L, 301L), s"pointer sink kept $out")
    // the served v2 holds the corpus, the folded trigger-1 accept and
    // the segments of triggers 2 and 3
    val v2 = DedupOps.corpusIndex.versionDir(root, 2)
    assert(DedupOps.corpusIndex.committedSegments(v2).size == 2)
    val fp = DedupOps.readCorpusDedupIndex(spark, root).fingerprints.count()
    assert(fp == 1 + 1 + 1 + 1, s"v2 fingerprints $fp")
  }

  test("foreachBatch upsert sink merges micro-batches with M2 semantics") {
    implicit val sqlCtx = spark.sqlContext
    val target = Files.createTempDirectory("graft_sink").resolve("t").toString
    val input = MemoryStream[(String, String)]
    val stream = input.toDF().toDF("pk", "v")

    val q1 = StreamOps.upsertSink(stream, target, Seq("pk")).start()
    input.addData(("a", "1"), ("b", "1"))
    q1.processAllAvailable(); q1.stop()

    val q2 = StreamOps.upsertSink(stream, target, Seq("pk")).start()
    input.addData(("b", "2"), ("c", "1"))
    q2.processAllAvailable(); q2.stop()

    val out = spark.read.parquet(target).orderBy("pk")
      .as[(String, String)].collect().toSeq
    assert(out == Seq(("a", "1"), ("b", "2"), ("c", "1")))

    // crash-window recovery: a trigger that died between the two swap
    // renames leaves the full table only at _backup — the next trigger
    // must restore it before merging, not rebuild from its own batch
    val fs = new org.apache.hadoop.fs.Path(target)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(target),
      new org.apache.hadoop.fs.Path(target + "_backup")))
    val q3 = StreamOps.upsertSink(stream, target, Seq("pk")).start()
    input.addData(("d", "1"))
    q3.processAllAvailable(); q3.stop()
    val recovered = spark.read.parquet(target).orderBy("pk")
      .as[(String, String)].collect().toSeq
    assert(recovered == Seq(("a", "1"), ("b", "2"), ("c", "1"), ("d", "1")),
      s"backup not restored before merge: $recovered")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(target + "_backup")))
  }

  test("interval join supports a same-named key on both sides") {
    implicit val sqlCtx = spark.sqlContext
    val imps = MemoryStream[(Long, java.sql.Timestamp)]
    val clicks = MemoryStream[(Long, java.sql.Timestamp)]
    val l = imps.toDF().toDF("user_id", "imp_ts")
    val r = clicks.toDF().toDF("user_id", "click_ts")
    val joined = StreamOps.intervalJoin(l, r, "user_id", "user_id",
      "imp_ts", "click_ts", "10 minutes", "0 seconds", "1 hour")
    // the shared key dedupes to a single output column
    assert(joined.columns.count(_ == "user_id") == 1, joined.columns.toSeq)
    val sink = new java.io.File(
      Files.createTempDirectory("graft_ij").toFile, "out").getPath
    val ckp = Files.createTempDirectory("graft_ij_ckp").toString
    val q = joined.writeStream.format("parquet")
      .option("path", sink).option("checkpointLocation", ckp).start()
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 10:$m%02d:00")
    imps.addData((7L, ts(0)), (8L, ts(0)))
    clicks.addData((7L, ts(30)), (8L, ts(45)), (9L, ts(30)))
    q.processAllAvailable(); q.stop()
    val rows = spark.read.parquet(sink)
    assert(rows.count() == 2, "one joined row per matched user expected")
    assert(rows.select("user_id").orderBy("user_id")
      .collect().map(_.getLong(0)).toSeq == Seq(7L, 8L))
  }

  test("interval join keeps the key on unmatched right rows of outer joins") {
    // an unconditional drop of the same-named right key would null the
    // key on every unmatched right row of a right/full outer join —
    // the surviving column must coalesce the two sides (batch mode:
    // same expression, no watermark state needed)
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 10:$m%02d:00")
    val l = Seq((7L, ts(0))).toDF("user_id", "imp_ts")
    val r = Seq((7L, ts(30)), (9L, ts(30))).toDF("user_id", "click_ts")
    val joined = StreamOps.intervalJoin(l, r, "user_id", "user_id",
      "imp_ts", "click_ts", "10 minutes", "0 seconds", "1 hour", "full_outer")
    assert(joined.columns.count(_ == "user_id") == 1, joined.columns.toSeq)
    val out = joined.select("user_id").collect().map(_.getLong(0)).toSet
    assert(out == Set(7L, 9L),
      s"unmatched right row lost its join key: $out")
  }

  // ---- Restart realism for the persisted-index sinks ----------------
  //
  // q115/q122 drive triggers with processAllAvailable inside ONE query;
  // these two run the recovery story the crash-injection dedup specs
  // pin, against the postings/vector sinks: a REAL restart from the
  // checkpoint after a kill, with the trigger replayed because its
  // checkpoint commit never landed. A file source (not MemoryStream,
  // which trims committed batches) makes the replay re-deliverable;
  // deleting `commits/N` reproduces a process death after the sink's
  // side effects but before the checkpoint recorded the trigger.

  private def freshDir(name: String): java.io.File = {
    val d = Files.createTempDirectory(name).toFile
    org.apache.commons.io.FileUtils.forceDeleteOnExit(d)
    d
  }

  /** Simulate the process dying AFTER trigger `n`'s sink side effects
    * but BEFORE its checkpoint commit: drop `commits/n` (and its local
    * checksum sidecar, which a live kill would also never have written
    * — leaving it would make Spark's rename-based rewrite refuse).
    */
  private def dropCommit(ckpt: String, n: Int): Unit = {
    assert(Files.deleteIfExists(java.nio.file.Paths.get(ckpt, "commits", s"$n")))
    Files.deleteIfExists(java.nio.file.Paths.get(ckpt, "commits", s".$n.crc"))
  }

  test("intake sink restart: post-commit kill no-ops, pre-commit kill redoes") {
    import graft.operators.DedupOps
    val root = freshDir("graft_intake_restart_idx_").getPath
    val target = freshDir("graft_intake_restart_tgt_").getPath
    val ckpt = freshDir("graft_intake_restart_ckpt_").getPath
    val src = freshDir("graft_intake_restart_src_").getPath
    def addFile(name: String, rows: Seq[(Long, String)]): Unit =
      Files.write(java.nio.file.Paths.get(src, name),
        rows.map { case (id, t) => s"""{"doc_id":$id,"text":"$t"}""" }
          .mkString("\n").getBytes("UTF-8"))
    def runOnce(): Unit = {
      val q = StreamOps.nearDupIntakeSinkWithIndexUpdate(
          spark.readStream.schema("doc_id LONG, text STRING").json(src),
          root, "text", "doc_id", target)
        .option("checkpointLocation", ckpt).start()
      try q.awaitTermination() finally q.stop()
    }
    def served() = spark.read.parquet(target).select("doc_id")
      .as[Long].collect().toSet
    def fpCount() = DedupOps.readCorpusDedupIndex(spark, root).fingerprints.count()
    val v1 = DedupOps.corpusIndex.versionDir(root, 1)
    def segments() = DedupOps.corpusIndex.committedSegments(v1).sorted
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank")
    ).toDF("doc_id", "text")
    DedupOps.writeCorpusDedupIndex(
      DedupOps.buildCorpusDedupIndex(corpus, "text", "doc_id"), root, buckets = 2)

    // trigger 0: one novel doc kept + committed, one corpus near-dup dropped
    addFile("f0.json", Seq(
      (100L, "fresh material arriving in the first trigger about spark state stores"),
      (101L, "the quick brown fox jumps over the lazy dog near the river banks")))
    runOnce()
    assert(served() == Set(100L), s"trigger 0 kept ${served()}")
    val fp1 = fpCount()
    assert(segments() == Seq("b0"))

    // KILL after the segment commit but before the checkpoint commit: the
    // replayed batch is applied → full no-op (no re-judge, no rewrite)
    dropCommit(ckpt, 0)
    runOnce()
    assert(served() == Set(100L))
    assert(fpCount() == fp1, "a committed replay re-appended to the index")
    assert(segments() == Seq("b0"))

    // trigger 1: a near-dup of trigger 0's ACCEPTED doc drops, a novel
    // doc keeps — then KILL before the segment's commit marker (tables
    // partially written, `_SUCCESS` missing): the replay re-judges
    // against the unchanged index and rewrites both outputs
    addFile("f1.json", Seq(
      (200L, "fresh material arriving in the first trigger about spark state machines"),
      (201L, "wholly unrelated second trigger content concerning broadcast variables")))
    runOnce()
    assert(served() == Set(100L, 201L), s"trigger 1 kept ${served()}")
    // (no index read in between: a torn segment is one no reader ever
    // saw committed)
    assert(graft.io.IndexMeta.deleteTree(s"$v1/ingest/b1/_SUCCESS"))
    graft.io.IndexMeta.deleteTree(s"$v1/ingest/b1/shingles")
    dropCommit(ckpt, 1)
    runOnce()
    assert(served() == Set(100L, 201L),
      "the torn replay must redo to the identical kept set")
    assert(segments() == Seq("b0", "b1"))
    assert(fpCount() == fp1 + 1, "the torn replay double-appended")
    // and the redone segment is live: a near-dup of 201 now drops
    addFile("f2.json", Seq(
      (300L, "wholly unrelated second trigger content concerning broadcast variable"),
      (301L, "completely novel third trigger material about shuffle services")))
    runOnce()
    assert(served() == Set(100L, 201L, 301L), s"final kept ${served()}")
  }

  test("postings sink restart: a kill between version commit and pointer swap replays to convergence; a post-swap kill replays to a no-op") {
    import graft.operators.SearchOps
    val all = Seq(
      (0L, "the cat sat on the mat"), (1L, "the dog sat on the log"),
      (2L, "cat cat cat"), (3L, "unique pangolin"),
      (4L, "dog and cat and pangolin"), (5L, "mat dog mat"),
      (6L, "a pangolin on a log"), (7L, "the quiet cat")
    )
    val (base, b0, b1) = (all.take(4), all.slice(4, 6), all.drop(6))
    val root = freshDir("graft_pindex_restart_").getPath
    val ckpt = freshDir("graft_pindex_restart_ckpt_").getPath
    val src = freshDir("graft_pindex_restart_src_").getPath
    def addFile(name: String, rows: Seq[(Long, String)]): Unit =
      Files.write(java.nio.file.Paths.get(src, name),
        rows.map { case (id, t) => s"""{"doc_id":$id,"text":"$t"}""" }
          .mkString("\n").getBytes("UTF-8"))
    def runOnce(): Unit = {
      val q = StreamOps.postingsIngestSink(
          spark.readStream.schema("doc_id LONG, text STRING").json(src),
          "text", "doc_id", root)
        .option("checkpointLocation", ckpt).start()
      try q.awaitTermination() finally q.stop()
    }
    val qs = Seq((0L, "cat"), (0L, "pangolin"), (1L, "dog"), (1L, "mat"))
      .toDF("query_id", "term")
    def served() = SearchOps.bm25TopKIndexed(spark, root, qs, topK = 5)
      .orderBy("query_id", "rank").collect().toSeq
    def oracle(docs: Seq[(Long, String)]) = SearchOps.bm25TopK(
        docs.toDF("doc_id", "text"), "text", "doc_id", qs, topK = 5)
      .orderBy("query_id", "rank").collect().toSeq

    SearchOps.buildPostingsIndex(base.toDF("doc_id", "text"), "text", "doc_id", root)
    addFile("f0.json", b0)
    runOnce() // trigger 0: append + swap + checkpoint commit
    assert(served() == oracle(base ++ b0))

    // KILL between version commit and pointer swap, checkpoint commit
    // lost too: rebuild that exact on-disk state — the appended version
    // dir is complete but unreferenced (pointer back on v1), the batch
    // tag absent from the SERVED manifest, commits/0 never written
    val v2 = SearchOps.postingsCurrentVersion(root).get
    graft.io.IndexMeta.swapVersionPointer(root, 1)
    dropCommit(ckpt, 0)
    runOnce() // restart replays trigger 0 from the checkpoint
    val vAfter = SearchOps.postingsCurrentVersion(root).get
    assert(vAfter > v2, s"recovery must land PAST the torn dir v$v2, got v$vAfter")
    assert(served() == oracle(base ++ b0),
      "replay after a mid-append kill must converge, not double-count")

    // KILL after full commit+swap but before the checkpoint commit: the
    // replayed tag IS in the served manifest → ledger-mediated no-op
    addFile("f1.json", b1)
    runOnce() // trigger 1 applies cleanly
    val v3 = SearchOps.postingsCurrentVersion(root).get
    val s3 = served()
    assert(s3 == oracle(all))
    dropCommit(ckpt, 1)
    runOnce() // restart replays trigger 1
    assert(SearchOps.postingsCurrentVersion(root).get == v3,
      "a replayed committed trigger must not mint a new version")
    assert(served() == s3)
  }

  test("semantic intake restart: a kill between fold commit and swap recovers past the torn version; replays never self-dup") {
    import graft.operators.SemanticIndex
    val root = freshDir("graft_semidx_restart_").getPath
    val ckpt = freshDir("graft_semidx_restart_ckpt_").getPath
    val src = freshDir("graft_semidx_restart_src_").getPath
    val target = freshDir("graft_semidx_restart_tgt_").getPath
    // four axis vectors: k=4 training puts each in its own cell with
    // the centroid ON it, so cell/cosine outcomes are exact by hand
    val corpus = Seq(
      (0L, Seq(10.0, 0.0, 0.0, 0.0)), (1L, Seq(0.0, 10.0, 0.0, 0.0)),
      (2L, Seq(0.0, 0.0, 10.0, 0.0)), (3L, Seq(0.0, 0.0, 0.0, 10.0))
    ).toDF("vid", "vd")
    SemanticIndex.buildAndServe(corpus, "vid", "vd", k = 4, maxIter = 2, root)

    def addFile(name: String, rows: Seq[(Long, Seq[Double])]): Unit =
      Files.write(java.nio.file.Paths.get(src, name),
        rows.map { case (id, v) => s"""{"vid":$id,"vd":[${v.mkString(",")}]}""" }
          .mkString("\n").getBytes("UTF-8"))
    def runOnce(): Unit = {
      val q = StreamOps.semanticIntakeSink(
          spark.readStream.schema("vid LONG, vd ARRAY<DOUBLE>").json(src),
          "vid", "vd", root, target, t2 = 0.81)
        .option("checkpointLocation", ckpt).start()
      try q.awaitTermination() finally q.stop()
    }
    def verdicts(): Seq[(Long, Long, Boolean)] = spark.read.parquet(target)
      .select("vid", "dup_of", "kept").orderBy("vid").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1),
        r.getBoolean(2))).toSeq

    // trigger 0: 100 is a near-copy of corpus 0 (cos ≈ 0.9999 → dup);
    // 101 sits between two axes (cos ≈ 0.707 to each → kept)
    addFile("f0.json", Seq(
      100L -> Seq(9.8, 0.1, 0.0, 0.0), 101L -> Seq(5.0, 5.0, 0.0, 0.0)))
    runOnce()
    val verd0 = verdicts()
    assert(verd0 == Seq((100L, 0L, false), (101L, -1L, true)))

    // KILL between the fold's version commit and the pointer swap, the
    // stream's checkpoint commit lost too: rebuild that exact on-disk
    // state — v2 complete but unreferenced (pointer back on v1), then
    // replay trigger 0. Its segment is committed in v1 → the trigger
    // must skip ENTIRELY: re-judging a batch against an index holding
    // its own kept rows would mark 101 a duplicate of itself.
    val v2 = SemanticIndex.foldIngestAndSwap(spark, root)
    graft.io.IndexMeta.swapVersionPointer(root, 1)
    dropCommit(ckpt, 0)
    runOnce()
    assert(verdicts() == verd0,
      "a replayed committed trigger must not re-judge (self-dup)")
    // recovery: re-run the fold — it must mint a version PAST the torn
    // v2 (never adopt it) and carry trigger 0 in the folded ledger
    val v3 = SemanticIndex.foldIngestAndSwap(spark, root)
    assert(v3 > v2, s"recovery must land past the torn v$v2, got v$v3")
    assert(SemanticIndex.batchApplied(SemanticIndex.versionDir(root, v3), 0L),
      "the carried ledger must absorb the folded trigger")

    // trigger 1 judges through v3: an exact copy of KEPT 101 dups
    // against the folded segment (cross-batch intake semantics); a
    // post-commit kill replays to a ledger-mediated no-op
    addFile("f1.json", Seq(
      200L -> Seq(5.0, 5.0, 0.0, 0.0), 201L -> Seq(0.0, 0.0, 7.0, 7.0)))
    runOnce()
    val verd1 = verdicts()
    assert(verd1 == verd0 ++ Seq((200L, 101L, false), (201L, -1L, true)))
    dropCommit(ckpt, 1)
    runOnce()
    assert(verdicts() == verd1)
    assert(SemanticIndex.currentVersion(root).contains(v3),
      "a replayed committed trigger must not change the served version")

    // retention GC: keepLatest defaults to 2 (served + one grace
    // version — a live trigger resolves its dir once at trigger start,
    // round-17 ADVICE), so the default pass prunes v1 and KEEPS the
    // torn v2 as grace; an explicit keepLatest=1 reclaims that too
    assert(SemanticIndex.pruneVersions(root) == Seq(1))
    assert(SemanticIndex.pruneVersions(root, keepLatest = 1) == Seq(v2))
    assert(SemanticIndex.currentVersion(root).contains(v3))
  }

  test("chunk-grain semantic intake restart: the chunk+embed front end replays deterministically; no self-dup") {
    // The q153 pipeline shape: a DOCUMENT stream chunked (q147) and
    // stub-embedded INSIDE the streaming pipeline, deduping at passage
    // grain against the persisted semantic index. The restart question
    // the doc-grain test above can't answer: the replayed trigger
    // re-runs the chunk+embed TRANSFORM too — if it were
    // nondeterministic (unstable chunk ids, order-dependent windows),
    // the ledger-mediated skip would still hold but a repair replay
    // would judge DIFFERENT vectors. Chunk keys are pure functions of
    // (doc_id, token index), so replays are bit-identical.
    import graft.operators.{SemanticIndex, TextOps}
    val root = freshDir("graft_chunk_intake_restart_").getPath
    val ckpt = freshDir("graft_chunk_intake_restart_ckpt_").getPath
    val src = freshDir("graft_chunk_intake_restart_src_").getPath
    val target = freshDir("graft_chunk_intake_restart_tgt_").getPath
    def chunksOf(df: org.apache.spark.sql.DataFrame) =
      TextOps.chunkWindows(df, "text", "doc_id", window = 4, overlap = 1)
        .select((col("doc_id") * 100000L + col("chunk_id")).as("vid"),
          TextOps.embedStub(col("chunk_text"), dim = 8).as("vd"))
    // two 6-token docs → 2 chunks each ([t0..t3], [t3..t5]); k=4 cells
    val corpusDocs = Seq((0L, "aa ab ac ad ae af"),
      (1L, "zz zy zx zw zv zu")).toDF("doc_id", "text")
    SemanticIndex.buildAndServe(chunksOf(corpusDocs), "vid", "vd",
      k = 4, maxIter = 2, root)

    def addFile(name: String, rows: Seq[(Long, String)]): Unit =
      Files.write(java.nio.file.Paths.get(src, name),
        rows.map { case (id, t) => s"""{"doc_id":$id,"text":"$t"}""" }
          .mkString("\n").getBytes("UTF-8"))
    def runOnce(): Unit = {
      val q = StreamOps.semanticIntakeSink(
          chunksOf(spark.readStream.schema("doc_id LONG, text STRING").json(src)),
          "vid", "vd", root, target, t2 = 0.81)
        .option("checkpointLocation", ckpt).start()
      try q.awaitTermination() finally q.stop()
    }
    def verdicts(): Seq[(Long, Long, Boolean)] = spark.read.parquet(target)
      .select("vid", "dup_of", "kept").orderBy("vid").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1),
        r.getBoolean(2))).toSeq

    // trigger 0: doc 100 clones corpus doc 0 VERBATIM — both its
    // chunks are exact twins (cos = 1) of corpus chunks 0/1 → dup; doc
    // 101's chunks sit below the cos-0.9 gate against every corpus
    // chunk AND each other (hand-checked stub cosines: max 0.883) → KEPT
    addFile("f0.json", Seq(100L -> "aa ab ac ad ae af",
      101L -> "0z 0z 0z 0z 0z 0z"))
    runOnce()
    val verd0 = verdicts()
    assert(verd0 == Seq((10000000L, 0L, false), (10000001L, 1L, false),
        (10100000L, -1L, true), (10100001L, -1L, true)),
      s"expected clone chunks dup + novel chunks kept, got $verd0")

    // post-commit kill: drop the checkpoint commit and replay — the
    // trigger's segment is committed, so it must skip entirely: a
    // re-judge would re-chunk, re-embed, and mark the KEPT 101 chunks
    // duplicates of their own folded selves
    dropCommit(ckpt, 0)
    runOnce()
    assert(verdicts() == verd0,
      "a replayed committed chunk trigger must not re-judge (self-dup)")

    // trigger 1 judges through a fold (the q153 dance): doc 200 clones
    // doc 101's TEXT, so its chunks are exact twins of trigger 0's
    // KEPT chunks — cross-batch passage dedup against the folded
    // segment, dup_of = the kept chunk's key (the only cos ≥ 0.9 match)
    SemanticIndex.foldIngestAndSwap(spark, root)
    addFile("f1.json", Seq(200L -> "0z 0z 0z 0z 0z 0z"))
    runOnce()
    val verd1 = verdicts()
    assert(verd1 == verd0 ++ Seq((20000000L, 10100000L, false),
        (20000001L, 10100001L, false)),
      s"doc 200's chunks must dup trigger 0's kept chunks, got $verd1")

    // post-commit kill on trigger 1 replays to the same end state
    dropCommit(ckpt, 1)
    runOnce()
    assert(verdicts() == verd1)
  }

  test("vector sink restart: a torn ingest segment is overwritten by the replay; a committed one no-ops") {
    import graft.operators.VectorIndex
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val (dim, m, k) = (64, 4, 16)
    val base = emb.filter($"vec_id" % 3 === 0)
    val b0 = emb.filter($"vec_id" % 3 === 1).limit(40)
      .select($"vec_id".cast("long").as("vec_id"), $"embedding")
    val root = freshDir("graft_vindex_restart_").getPath
    val ckpt = freshDir("graft_vindex_restart_ckpt_").getPath
    val src = freshDir("graft_vindex_restart_src_").getPath
    val (model, codes) = VectorIndex.build(base, "vec_id", "embedding", "label", dim, m, k)
    VectorIndex.writeVersion(model, codes, root, 1)
    VectorIndex.swapPointer(root, 1)
    val v1 = VectorIndex.versionDir(root, 1)

    // stage the batch as replayable source files (move Spark's part
    // files in, so the stream sees exactly one batch of them)
    val stage = freshDir("graft_vindex_restart_stage_").getPath
    b0.coalesce(1).write.mode("overwrite").json(stage)
    new java.io.File(stage).listFiles().filter(_.getName.endsWith(".json"))
      .foreach(f => Files.move(f.toPath, java.nio.file.Paths.get(src, f.getName)))

    def runOnce(): Unit = {
      val q = StreamOps.vectorIngestSink(
          spark.readStream.schema("vec_id LONG, embedding ARRAY<DOUBLE>").json(src),
          "vec_id", "embedding", root, dim, m, k)
        .option("checkpointLocation", ckpt).start()
      try q.awaitTermination() finally q.stop()
    }
    def canon() = VectorIndex.readCodesWithIngest(spark, v1)
      .select($"vid", $"cell", $"codes".cast("array<long>"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2).toList))
      .sortBy(_._1).toSeq

    runOnce() // trigger 0 commits ingest/b0
    val expect = canon()
    assert(expect.exists(_._1 % 3 == 1), "the ingested batch must be serving")
    assert(graft.io.IndexMeta.exists(s"$v1/ingest/b0/_SUCCESS"))

    // KILL mid segment write (torn remnant, no _SUCCESS, no checkpoint
    // commit): the replay must overwrite its own remnant, nothing else
    assert(Files.deleteIfExists(java.nio.file.Paths.get(v1, "ingest", "b0", "_SUCCESS")))
    dropCommit(ckpt, 0)
    runOnce() // restart replays trigger 0
    assert(canon() == expect,
      "replaying a torn segment must restore byte-identical codes")

    // KILL after the segment committed but before the checkpoint commit:
    // the replay finds _SUCCESS and no-ops
    val mtime = Files.getLastModifiedTime(
      java.nio.file.Paths.get(v1, "ingest", "b0", "_SUCCESS"))
    dropCommit(ckpt, 0)
    runOnce()
    assert(canon() == expect)
    assert(Files.getLastModifiedTime(java.nio.file.Paths.get(
        v1, "ingest", "b0", "_SUCCESS")) == mtime,
      "a replay of a committed segment must not rewrite it")
  }
}
