package graft

import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers

import graft.operators.SearchOps

class SearchOpsSpec extends SparkSpec with Matchers {
  import spark.implicits._

  private val docs = Seq(
    (0L, "the cat sat on the mat"),
    (1L, "the dog sat on the log"),
    (2L, "cat cat cat"),                      // tf saturation target
    (3L, "  The   CAT\tsat  "),               // normText: case/whitespace
    (4L, ""),                                 // empty → dropped
    (5L, "unique pangolin")                   // rare term → high idf
  ).toDF("doc_id", "text")

  private def q(terms: (Long, String)*) = terms.toDF("query_id", "term")

  test("tokenized applies the corpus normText convention and drops empty docs") {
    val t = SearchOps.tokenized(docs, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    t.keySet shouldBe Set(0L, 1L, 2L, 3L, 5L)
    t(3L) shouldBe Seq("the", "cat", "sat")
    t(2L) shouldBe Seq("cat", "cat", "cat")
  }

  test("derivedQueries takes distinct terms of the first-N tokens of every nth doc") {
    val dq = SearchOps.derivedQueries(docs, "text", "doc_id", everyNth = 2, prefixTokens = 2)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    // docs 0,2,4 qualify; 4 is empty → dropped; 0 → {the, cat}; 2 → {cat}
    dq.toSet shouldBe Set((0L, "the"), (0L, "cat"), (2L, "cat"))
  }

  test("bm25: rare terms outrank common ones, tf saturates, self can be excluded") {
    val top = SearchOps.bm25TopK(docs, "text", "doc_id",
      q((100L, "cat"), (100L, "pangolin")), topK = 6)
      .orderBy("rank").collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    val byDoc = top.map { case (d, s, _) => d -> s }.toMap
    // pangolin appears in 1 of 5 docs; cat in 3 of 5 — idf(pangolin) > idf(cat),
    // and doc 5 is shorter than any cat doc, so doc 5 must rank first
    top.head._1 shouldBe 5L
    // tf saturation: doc 2 (cat x3, dl=3) beats doc 3 (cat x1, dl=3) but by
    // far less than 3x — BM25's k1 clamp
    byDoc(2L) should be > byDoc(3L)
    byDoc(2L).toDouble should be < byDoc(3L) * 2.0
    // all matched docs present: 0,1? (1 has no query term) — exactly docs with cat or pangolin
    top.map(_._1).toSet shouldBe Set(0L, 2L, 3L, 5L)

    val noSelf = SearchOps.bm25TopK(docs, "text", "doc_id",
      q((2L, "cat")), topK = 6, excludeSelf = true)
      .collect().map(_.getLong(1))
    noSelf should not contain 2L
  }

  test("bm25 scores are order-independent exact longs: repartitioned input is bit-identical") {
    val qs = q((0L, "cat"), (0L, "sat"), (1L, "dog"))
    val a = SearchOps.bm25TopK(docs, "text", "doc_id", qs, topK = 10)
      .orderBy("query_id", "rank").collect().toSeq
    val b = SearchOps.bm25TopK(docs.repartition(7), "text", "doc_id", qs, topK = 10)
      .orderBy("query_id", "rank").collect().toSeq
    a shouldBe b
  }

  test("boundedTopK matches a full sort under (score desc, doc_id asc) with ties") {
    val rnd = new scala.util.Random(42)
    val rows = (0 until 400).map { i =>
      (rnd.nextInt(5).toLong, i.toLong, rnd.nextInt(7).toLong) // many score ties
    }
    val df = rows.toDF("query_id", "doc_id", "score")
    val got = SearchOps.boundedTopK(df, topK = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val exp = rows.groupBy(_._1).flatMap { case (qid, g) =>
      g.sortBy { case (_, d, s) => (-s, d) }.take(6).zipWithIndex.map {
        case ((_, d, s), i) => (qid, d, s, (i + 1).toLong)
      }
    }.toSet
    got shouldBe exp
  }

  test("rrf fuses with integer division and absence contributes zero") {
    val l1 = Seq((1L, 10L, 1L), (1L, 11L, 2L)).toDF("query_id", "doc_id", "rank")
    val l2 = Seq((1L, 11L, 1L), (1L, 12L, 2L)).toDF("query_id", "doc_id", "rank")
    val fused = SearchOps.rrfFuse(Seq(l1, l2), topK = 3)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).toList
    val c1 = 1000000L / 61L // rank 1
    val c2 = 1000000L / 62L // rank 2
    // doc 11: both lists (r2 + r1); doc 10: one list r1; doc 12: one list r2
    fused shouldBe List((11L, c1 + c2, 1L), (10L, c1, 2L), (12L, c2, 3L))
  }

  private def tmpRoot(): java.io.File = {
    val f = java.nio.file.Files.createTempDirectory("graft_test_bm25_").toFile
    org.apache.commons.io.FileUtils.forceDeleteOnExit(f)
    f
  }

  test("persisted postings index serves bit-identical BM25 to the in-memory path") {
    val qs = q((0L, "cat"), (0L, "sat"), (1L, "dog"), (2L, "pangolin"))
    val mem = SearchOps.bm25TopK(docs, "text", "doc_id", qs, topK = 10)
      .orderBy("query_id", "rank").collect().toSeq
    val root = tmpRoot().getPath
    SearchOps.buildPostingsIndex(docs, "text", "doc_id", root)
    assert(SearchOps.postingsIndexExists(root))
    val served = SearchOps.bm25TopKIndexed(spark, root, qs, topK = 10)
      .orderBy("query_id", "rank").collect().toSeq
    served shouldBe mem
    // the serve-time plan never shuffles the index: every shuffle
    // exchange must sit strictly on the query/candidate side — no index
    // scan may appear anywhere beneath one
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val plan = SearchOps.bm25TopKIndexed(spark, root, qs, topK = 10)
      .queryExecution.sparkPlan
    def indexScans(p: org.apache.spark.sql.execution.SparkPlan) =
      p.collectLeaves().collect {
        case f: FileSourceScanExec if f.relation.location.rootPaths
          .exists(_.toString.contains("graft_test_bm25_")) => f
      }
    assert(indexScans(plan).size == 2,
      s"postings + termstats must be read exactly once each:\n$plan")
    val shuffledIndex = plan.collect {
      case e: ShuffleExchangeLike if indexScans(e.asInstanceOf[
        org.apache.spark.sql.execution.SparkPlan]).nonEmpty => e
    }
    assert(shuffledIndex.isEmpty, s"an exchange shuffles the index side:\n$plan")
  }

  test("index append converges on the full build; a replayed tag no-ops") {
    val qs = q((0L, "cat"), (0L, "the"), (1L, "pangolin"), (1L, "dog"))
    val full = tmpRoot().getPath
    SearchOps.buildPostingsIndex(docs, "text", "doc_id", full)
    val expect = SearchOps.bm25TopKIndexed(spark, full, qs, topK = 10)
      .orderBy("query_id", "rank").collect().toSeq

    val root = tmpRoot().getPath
    SearchOps.buildPostingsIndex(docs.filter($"doc_id" <= 2), "text", "doc_id", root)
    val v2 = SearchOps.appendPostingsIndex(docs.filter($"doc_id" > 2),
      "text", "doc_id", root, batchTag = "b1")
    v2 shouldBe Some(2)
    // replay of the SAME batch must not double-count df / n_docs
    SearchOps.appendPostingsIndex(docs.filter($"doc_id" > 2),
      "text", "doc_id", root, batchTag = "b1") shouldBe None
    SearchOps.bm25TopKIndexed(spark, root, qs, topK = 10)
      .orderBy("query_id", "rank").collect().toSeq shouldBe expect
    SearchOps.postingsCurrentVersion(root) shouldBe Some(2)
  }

  test("fold consolidates segments to one, drops tombstoned rows for real, and moves nothing") {
    val qs = q((0L, "cat"), (0L, "the"))
    val root = tmpRoot().getPath
    SearchOps.buildPostingsIndex(docs.filter($"doc_id" <= 1), "text", "doc_id", root)
    SearchOps.appendPostingsIndex(docs.filter($"doc_id" === 2), "text", "doc_id", root, "b1")
    SearchOps.appendPostingsIndex(docs.filter($"doc_id" > 2), "text", "doc_id", root, "b2")
    SearchOps.deleteFromPostingsIndex(spark, root, Seq(1L).toDF("doc_id"))
    val before = SearchOps.bm25TopKIndexed(spark, root, qs, topK = 10)
      .orderBy("query_id", "rank").collect().toSeq
    val v = SearchOps.foldPostingsIndex(spark, root)
    SearchOps.postingsCurrentVersion(root) shouldBe Some(v)
    SearchOps.bm25TopKIndexed(spark, root, qs, topK = 10)
      .orderBy("query_id", "rank").collect().toSeq shouldBe before
    // one segment, physically free of the tombstoned doc
    val segDir = new java.io.File(SearchOps.postingsVersionDir(root, v), "postings")
    segDir.listFiles().count(_.isDirectory) shouldBe 1
    val rows = spark.read.parquet(s"${segDir.getPath}/seg%04d".format(v))
    rows.filter($"doc_id" === 1L).count() shouldBe 0L
  }

  test("delete adjusts the scoring state to exactly a fresh build on the survivors") {
    val qs = q((0L, "cat"), (0L, "sat"), (1L, "dog"), (1L, "pangolin"))
    val root = tmpRoot().getPath
    SearchOps.buildPostingsIndex(docs, "text", "doc_id", root)
    val dead = Seq(2L, 5L).toDF("doc_id")
    SearchOps.deleteFromPostingsIndex(spark, root, dead)
    // replayed delete (and a delete of an absent id) must not double-subtract
    SearchOps.deleteFromPostingsIndex(spark, root, Seq(2L, 99L).toDF("doc_id"))
    val served = SearchOps.bm25TopKIndexed(spark, root, qs, topK = 10)
      .orderBy("query_id", "rank").collect().toSeq
    val fresh = tmpRoot().getPath
    SearchOps.buildPostingsIndex(docs.filter(!$"doc_id".isin(2L, 5L)),
      "text", "doc_id", fresh)
    val expect = SearchOps.bm25TopKIndexed(spark, fresh, qs, topK = 10)
      .orderBy("query_id", "rank").collect().toSeq
    served shouldBe expect
    served.map(_.getLong(1)) should not contain 5L
  }

  test("streaming ingest sink lands triggers as pointer-swapped versions, exactly-once") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val qs = q((0L, "cat"), (1L, "dog"), (2L, "pangolin"))
    val root = tmpRoot().getPath
    SearchOps.buildPostingsIndex(docs.filter($"doc_id" <= 1), "text", "doc_id", root)
    val ckpt = tmpRoot().getPath
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val sq = graft.streaming.StreamOps.postingsIngestSink(
        input.toDF().toDF("doc_id", "text"), "text", "doc_id", root)
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("0 seconds"))
      .option("checkpointLocation", ckpt)
      .start()
    val rest = docs.filter($"doc_id" > 1).select($"doc_id", $"text")
      .as[(Long, String)].collect().toSeq
    try {
      input.addData(rest.take(2): _*); sq.processAllAvailable()
      input.addData(rest.drop(2): _*); sq.processAllAvailable()
    } finally sq.stop()
    val full = tmpRoot().getPath
    SearchOps.buildPostingsIndex(docs, "text", "doc_id", full)
    SearchOps.bm25TopKIndexed(spark, root, qs, topK = 10)
      .orderBy("query_id", "rank").collect().toSeq shouldBe
      SearchOps.bm25TopKIndexed(spark, full, qs, topK = 10)
        .orderBy("query_id", "rank").collect().toSeq
  }

  /** One versioned index family, driven through its public lifecycle:
    * `build` serves v1, `mutate` runs one publishing mutation, `served`
    * reads an answer through the pointer, and `marker` is the file whose
    * presence marks a version complete.
    */
  private case class Family(name: String, build: String => Unit,
      mutate: String => Option[Int], served: String => Seq[Any],
      versionDir: (String, Int) => String, current: String => Option[Int],
      marker: String)

  private lazy val families: Seq[Family] = {
    import graft.operators.{SemanticIndex, VectorIndex}
    val qs = q((0L, "cat"))
    val emb = (0 until 12).map { i =>
      (i.toLong, Seq.tabulate(4)(d => if (d == i % 2) 5.0 + i else 0.1 * i), (i % 2).toLong)
    }.toDF("vec_id", "embedding", "label")
    val corpus = Seq(
      (0L, Seq(10.0, 0.0, 0.0, 0.0)), (1L, Seq(0.0, 10.0, 0.0, 0.0)),
      (2L, Seq(0.0, 0.0, 10.0, 0.0)), (3L, Seq(0.0, 0.0, 0.0, 10.0))
    ).toDF("vid", "vd")
    val probe = Seq((100L, Seq(9.8, 0.1, 0.0, 0.0)), (101L, Seq(5.0, 5.0, 0.0, 0.0)))
      .toDF("vid", "vd")
    Seq(
      Family("postings",
        root => SearchOps.buildPostingsIndex(docs.filter($"doc_id" <= 2), "text", "doc_id", root),
        root => SearchOps.appendPostingsIndex(docs.filter($"doc_id" > 2),
          "text", "doc_id", root, batchTag = "b1"),
        root => SearchOps.bm25TopKIndexed(spark, root, qs, topK = 10)
          .orderBy("query_id", "rank").collect().toSeq,
        SearchOps.postingsVersionDir, SearchOps.postingsCurrentVersion, "manifest.json"),
      Family("vector",
        root => VectorIndex.retrainAndSwap(emb, "vec_id", "embedding", "label", 4, 2, 2, root),
        root => Some(VectorIndex.foldIngestAndSwap(spark, root, 4, 2, 2)),
        root => VectorIndex.query(emb, "vec_id", "embedding",
            VectorIndex.readCurrentModel(spark, root, 4, 2, 2),
            VectorIndex.readCurrentCodes(spark, root), rawVectors = emb,
            nprobe = 2, shortlist = 4, topK = 2)
          .orderBy("query_id", "rank").collect().toSeq,
        VectorIndex.versionDir, VectorIndex.currentVersion, "codes/_SUCCESS"),
      Family("semantic",
        root => SemanticIndex.buildAndServe(corpus, "vid", "vd", k = 4, maxIter = 2, root),
        root => Some(SemanticIndex.foldIngestAndSwap(spark, root)),
        root => SemanticIndex.judgeBatch(probe, "vid", "vd",
            SemanticIndex.versionDir(root, SemanticIndex.currentVersion(root).get), 0.81)
          ._1.orderBy("vid").collect().toSeq,
        SemanticIndex.versionDir, SemanticIndex.currentVersion, "_MODEL_OK"))
  }

  test("a crash-torn version is never adopted: old version serves, recovery lands past it") {
    families.foreach { f => withClue(s"[${f.name}] ") {
      val root = tmpRoot().getPath
      f.build(root)
      val before = f.served(root)
      // simulate a mutation that died after writing files but BEFORE the
      // pointer swap: a partial version dir with no completion marker
      val torn = new java.io.File(f.versionDir(root, 2))
      assert(torn.mkdirs())
      java.nio.file.Files.write(new java.io.File(torn, "junk").toPath, Array[Byte](1))
      // readers still serve v1
      f.current(root) shouldBe Some(1)
      f.served(root) shouldBe before
      // the retried mutation must land PAST the torn dir, never inside it
      f.mutate(root) shouldBe Some(3)
      f.current(root) shouldBe Some(3)
    } }
  }

  test("version numbering survives v9999: 5-digit dirs are listed, never overwritten") {
    families.foreach { f => withClue(s"[${f.name}] ") {
      val root = tmpRoot().getPath
      f.build(root)
      // simulate an index that has lived through ~10k versions: torn
      // (unswapped) dirs at the 4→5 digit boundary. A 4-digit-only match
      // would make max(visible)+1 stick at 10000 forever and silently
      // overwrite v10000 on every subsequent mutation.
      Seq(9999, 10000).foreach { v =>
        assert(new java.io.File(f.versionDir(root, v)).mkdirs())
      }
      f.mutate(root) shouldBe Some(10001)
      f.current(root) shouldBe Some(10001)
      // and the dir name round-trips (%04d pads, never truncates)
      f.versionDir(root, 10001) should endWith("v10001")
      assert(new java.io.File(f.versionDir(root, 10001), f.marker).exists())
    } }
  }

  test("re-adding a tombstoned doc is refused before a fold, converges after one") {
    val qs = q((0L, "cat"), (0L, "sat"), (1L, "dog"), (1L, "pangolin"))
    val root = tmpRoot().getPath
    SearchOps.buildPostingsIndex(docs, "text", "doc_id", root)
    SearchOps.deleteFromPostingsIndex(spark, root, Seq(2L, 5L).toDF("doc_id"))
    // counting a tombstoned doc into n_docs/df while serving anti-joins
    // it out would be a phantom skewing every idf — must fail loudly
    val ex = intercept[IllegalArgumentException] {
      SearchOps.appendPostingsIndex(docs.filter($"doc_id" === 5L),
        "text", "doc_id", root, batchTag = "readd-early")
    }
    ex.getMessage should include("tombstoned")
    // fold drops the rows for real AND clears the ledger → re-add legal
    SearchOps.foldPostingsIndex(spark, root)
    SearchOps.appendPostingsIndex(docs.filter($"doc_id".isin(2L, 5L)),
      "text", "doc_id", root, batchTag = "readd") shouldBe defined
    // delete → fold → re-add converges on exactly a fresh full build
    val served = SearchOps.bm25TopKIndexed(spark, root, qs, topK = 10)
      .orderBy("query_id", "rank").collect().toSeq
    val fresh = tmpRoot().getPath
    SearchOps.buildPostingsIndex(docs, "text", "doc_id", fresh)
    served shouldBe SearchOps.bm25TopKIndexed(spark, fresh, qs, topK = 10)
      .orderBy("query_id", "rank").collect().toSeq
  }

  test("two-stage top-k: the query_id shuffle is bounded at k per (query, partition)") {
    // a stop-wordy query: ONE query id matching 4000 candidates spread
    // over 8 partitions. Single-stage grouping funnels all 4000 through
    // one task; the local stage must cut that to ≤ k·partitions.
    val rnd = new scala.util.Random(7)
    val rows = (0 until 4000).map(i => (1L, i.toLong, rnd.nextInt(1000).toLong))
    val typed = spark.createDataset(rows)(
      org.apache.spark.sql.Encoders.product[(Long, Long, Long)]).repartition(8)
    val local = SearchOps.localTopK(typed, topK = 5).collect()
    assert(local.length <= 5 * 8,
      s"local stage must emit ≤ k per (query, partition), got ${local.length}")
    // and the two-stage result equals a full sort
    val got = SearchOps.boundedTopK(typed.toDF("query_id", "doc_id", "score"), topK = 5)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val exp = rows.sortBy { case (_, d, s) => (-s, d) }.take(5).zipWithIndex
      .map { case ((_, d, s), i) => (d, s, (i + 1).toLong) }.toSet
    got shouldBe exp
  }

  test("df cap drops corpus-frequent query terms from scoring, in-memory and indexed alike") {
    // 'cat' appears in 3 of 5 docs (60%); 'dog' in 1 of 5 (20%);
    // 'pangolin' in 1 (20%). Cap at 0.5 → only 'cat' is dropped.
    val qs = q((0L, "cat"), (0L, "pangolin"), (1L, "dog"))
    val uncapped = SearchOps.bm25TopK(docs, "text", "doc_id", qs, topK = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val capped = SearchOps.bm25TopK(docs, "text", "doc_id", qs, topK = 10,
        maxDfFrac = Some(0.5))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // query 0 keeps only pangolin hits (doc 5); cat-only docs vanish —
    // the documented recall trade on the capped term
    capped should contain((0L, 5L))
    capped should not contain ((0L, 2L))
    uncapped should contain((0L, 2L))
    // query 1 ('dog', df 0.2 ≤ cap) is untouched
    capped.filter(_._1 == 1L) shouldBe uncapped.filter(_._1 == 1L)
    // the indexed path agrees row for row (and never scans capped postings)
    val root = tmpRoot().getPath
    SearchOps.buildPostingsIndex(docs, "text", "doc_id", root)
    SearchOps.bm25TopKIndexed(spark, root, qs, topK = 10, maxDfFrac = Some(0.5))
      .orderBy("query_id", "rank").collect().toSeq shouldBe
      SearchOps.bm25TopK(docs, "text", "doc_id", qs, topK = 10, maxDfFrac = Some(0.5))
        .orderBy("query_id", "rank").collect().toSeq
    // a no-op cap (1.0) changes nothing
    SearchOps.bm25TopK(docs, "text", "doc_id", qs, topK = 10, maxDfFrac = Some(1.0))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet shouldBe uncapped
  }

  test("racing appends never corrupt: versions stay disjoint, the superseded tag re-applies") {
    // Two appends racing on one root. The claim-based version allocation
    // guarantees they never interleave writes into one version dir; what
    // it deliberately does NOT guarantee is serialization — both read the
    // same base manifest, so the last pointer swap wins and the loser's
    // (complete, self-consistent) version goes unreferenced. The recovery
    // is the ledger: the superseded tag is absent from the SERVED
    // manifest, so re-running that append applies it on top of the winner
    // (and re-running the winner's tag no-ops). Assertions below hold
    // under EVERY interleaving, so the race is safe to run for real.
    val qs = q((0L, "cat"), (0L, "the"), (1L, "pangolin"), (1L, "dog"))
    val root = tmpRoot().getPath
    SearchOps.buildPostingsIndex(docs.filter($"doc_id" <= 1), "text", "doc_id", root)
    val partA = docs.filter($"doc_id".isin(2L, 3L))
    val partB = docs.filter($"doc_id" > 3)
    val latch = new java.util.concurrent.CountDownLatch(2)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    def racer(part: org.apache.spark.sql.DataFrame, tag: String) = new Thread(() => {
      latch.countDown(); latch.await()
      try SearchOps.appendPostingsIndex(part, "text", "doc_id", root, tag)
      catch { case t: Throwable => errs.add(t) }
    })
    val (ta, tb) = (racer(partA, "rA"), racer(partB, "rB"))
    ta.start(); tb.start(); ta.join(); tb.join()
    assert(errs.isEmpty, s"racing append threw: ${errs.peek()}")
    // the served version is complete and self-consistent (manifest +
    // termstats + segments all resolve); drive the recovery: re-run both
    // appends — applied tags no-op, a superseded tag applies
    SearchOps.appendPostingsIndex(partA, "text", "doc_id", root, "rA")
    SearchOps.appendPostingsIndex(partB, "text", "doc_id", root, "rB")
    val served = SearchOps.bm25TopKIndexed(spark, root, qs, topK = 10)
      .orderBy("query_id", "rank").collect().toSeq
    val full = tmpRoot().getPath
    SearchOps.buildPostingsIndex(docs, "text", "doc_id", full)
    served shouldBe SearchOps.bm25TopKIndexed(spark, full, qs, topK = 10)
      .orderBy("query_id", "rank").collect().toSeq
  }

  test("prune deletes only unreachable versions: referenced segments and the pointer's future survive") {
    val qs = q((0L, "cat"), (0L, "sat"), (1L, "dog"), (2L, "pangolin"))
    val root = tmpRoot().getPath
    SearchOps.buildPostingsIndex(docs.filter($"doc_id" <= 3), "text", "doc_id", root) // v1
    SearchOps.appendPostingsIndex(docs.filter($"doc_id".isin(4L, 5L)),
      "text", "doc_id", root, "b1") // v2: segments in v1 + v2
    SearchOps.appendPostingsIndex(docs.filter($"doc_id" > 5),
      "text", "doc_id", root, "b2") // v3: segments in v1 + v2 + v3
    val expect = SearchOps.bm25TopKIndexed(spark, root, qs, topK = 10)
      .orderBy("query_id", "rank").collect().toSeq

    // pre-fold, nothing is collectable: the served manifest references
    // segments living in EVERY older version dir
    assert(SearchOps.prunePostingsVersions(spark, root) == Nil,
      "prune deleted a version whose segments the served manifest references")
    SearchOps.bm25TopKIndexed(spark, root, qs, topK = 10)
      .orderBy("query_id", "rank").collect().toSeq shouldBe expect

    val folded = SearchOps.foldPostingsIndex(spark, root) // v4, self-contained
    // keepLatest=2 keeps v3 as reader grace — and v3's manifest
    // references segments living in v1/v2, so grace transitively pins
    // THOSE dirs too (a reader pinned on v3 holds concrete file paths)
    SearchOps.prunePostingsVersions(spark, root, keepLatest = 2) shouldBe Nil
    assert(graft.io.IndexMeta.exists(SearchOps.postingsVersionDir(root, 1)))
    // full retention collects the whole superseded chain; serving is unmoved
    SearchOps.prunePostingsVersions(spark, root) shouldBe Seq(1, 2, 3)
    assert(SearchOps.postingsCurrentVersion(root).contains(folded))
    SearchOps.bm25TopKIndexed(spark, root, qs, topK = 10)
      .orderBy("query_id", "rank").collect().toSeq shouldBe expect

    // life continues after GC: a fresh append claims past everything,
    // references only surviving segments, and serves exactly
    import org.apache.spark.sql.functions.{col => c}
    val extra = docs.filter($"doc_id" === 0L)
      .select((c("doc_id") + 100L).as("doc_id"), c("text"))
    SearchOps.appendPostingsIndex(extra, "text", "doc_id", root, "b3")
    SearchOps.bm25TopKIndexed(spark, root, qs, topK = 10)
      .orderBy("query_id", "rank").collect().toSeq shouldBe
      SearchOps.bm25TopK(docs.unionByName(extra), "text", "doc_id", qs, topK = 10)
        .orderBy("query_id", "rank").collect().toSeq
  }

  test("a corpus-sized query workload is refused loudly before the broadcast, on both paths") {
    val qs = q((0L, "cat"), (0L, "dog"), (1L, "mat")) // 3 distinct (query, term) rows
    val e = intercept[IllegalArgumentException] {
      SearchOps.bm25TopK(docs, "text", "doc_id", qs, topK = 5, maxQueryTerms = 2)
    }
    assert(e.getMessage.contains("maxQueryTerms"))
    val root = tmpRoot().getPath
    SearchOps.buildPostingsIndex(docs, "text", "doc_id", root)
    intercept[IllegalArgumentException] {
      SearchOps.bm25TopKIndexed(spark, root, qs, topK = 5, maxQueryTerms = 2)
    }
    // at the bound (not over it) both paths serve normally
    assert(SearchOps.bm25TopK(docs, "text", "doc_id", qs, topK = 5,
      maxQueryTerms = 3).count() > 0)
    assert(SearchOps.bm25TopKIndexed(spark, root, qs, topK = 5,
      maxQueryTerms = 3).count() > 0)
  }

  test("cosineTopKFor ranks an explicit query subset and excludes self") {
    val emb = Seq(
      (0L, Seq(1.0f, 0.0f)), (1L, Seq(0.9f, 0.1f)),
      (2L, Seq(0.0f, 1.0f)), (3L, Seq(-1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val res = SearchOps.cosineTopKFor(emb.filter(col("vec_id") === 0), emb,
      "vec_id", "embedding", topK = 3)
      .orderBy("rank").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    res.map(_._1).toSet shouldBe Set(0L)
    res.map(_._2).toList shouldBe List(1L, 2L, 3L) // by cosine to (1,0)
  }

  test("postings mutations wait for a held intake claim (append/fold mutex)") {
    // every postings mutation is a read-manifest→write-version→swap;
    // unserialized, an append landing between a fold's manifest read
    // and its swap loses its delta AND its tag from the served chain
    val root = tmpRoot().getPath
    SearchOps.buildPostingsIndex(docs, "text", "doc_id", root)
    val acquired = new java.util.concurrent.CountDownLatch(1)
    val released = new java.util.concurrent.atomic.AtomicBoolean(false)
    val holder = new Thread(() => {
      graft.io.IndexMeta.withIntakeClaim(root) {
        acquired.countDown()
        Thread.sleep(1500L)
        released.set(true)
      }
    }, "postings-mutex-holder")
    holder.start()
    assert(acquired.await(30, java.util.concurrent.TimeUnit.SECONDS))
    val v2 = SearchOps.foldPostingsIndex(spark, root)
    assert(released.get(),
      "foldPostingsIndex completed while the intake claim was still held")
    holder.join(10000L)
    assert(SearchOps.postingsCurrentVersion(root).contains(v2))
  }
}
