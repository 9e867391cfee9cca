package graft

import org.apache.spark.sql.functions._

import graft.operators.{CurationPipeline, DedupOps}

/** The eager chain runners must leave executor storage exactly as they
  * found it: a long-lived session running curation or ingest dedup
  * repeatedly must not accumulate cached frames (round-4/5 advice). The
  * lazy operators persist for the plans they return, so their caches go
  * when the caller's CacheScope closes.
  */
class CacheHygieneSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(name: String): String =
    new java.io.File(sys.props("java.io.tmpdir"), s"graft_cachehygiene_$name").getPath

  private lazy val docs = ((0 until 60).map { i =>
    (i.toLong, s"document number $i about topic ${i % 7} with several words of content to pass the gates easily", "en")
  } ++ Seq(
    (100L, "document number 3 about topic 3 with several words of content to pass the gates easily", "en"), // exact dup of 3
    (900L, "an evaluation benchmark question about topic seven and its answer text", "en")
  )).toDF("doc_id", "text", "lang")

  // three tight blobs of 4-d vectors, ids from 7000
  private lazy val vecs = (0 until 24).map { i =>
    (i.toLong + 7000L, Seq.tabulate(4)(d =>
      (if (d == i % 3) 11.0 else 0.0) + 0.01 * ((i * 7 + d) % 5)))
  }.toDF("vec_id", "embedding")

  test("curateToParquet unpersists every chain cache") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val out = CurationPipeline.curateToParquet(docs, "text", "doc_id", "lang",
      col("doc_id") >= 900, tmp("curate"))
    assert(out.count() > 0)
    // RDD-id SETS, not counts: the ContextCleaner may concurrently
    // unpersist OTHER suites' dead caches between the two measurements
    // (seen once under heavy host load), which under a count compare
    // masks a real leak of the same size. The cleaner only ever REMOVES
    // ids, and suites run sequentially in the forked JVM, so any id in
    // after-minus-before was cached by the operation under test
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"curateToParquet leaked cached frames with RDD ids $leaked")
  }

  test("curateFullToParquet unpersists every chain cache") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val out = CurationPipeline.curateFullToParquet(docs, "text", "doc_id", "lang",
      col("doc_id") >= 900, tmp("curatefull"),
      minWords = 3, lineWords = 2, lineMinDocs = 50, spanWords = 3, spanMinCount = 50)
    assert(out.count() > 0)
    // RDD-id SETS, not counts: the ContextCleaner may concurrently
    // unpersist OTHER suites' dead caches between the two measurements
    // (seen once under heavy host load), which under a count compare
    // masks a real leak of the same size. The cleaner only ever REMOVES
    // ids, and suites run sequentially in the forked JVM, so any id in
    // after-minus-before was cached by the operation under test
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"curateFullToParquet leaked cached frames with RDD ids $leaked")
  }

  test("every cache-taking operator leaves nothing cached once its scope closes") {
    import graft.core.CacheScope
    import graft.operators.{ExperimentOps, GraphOps, ScrubOps, SimilarityOps, TextOps}
    // distinctive literals so CacheManager plan-matching can't alias
    // these frames with another suite's cached plans
    val vecBatch = vecs.filter(col("vec_id") % 4 === 0)
      .select((col("vec_id") + 1000L).as("vec_id"), col("embedding"))
    val texts = (0 until 30).map(i =>
      (i.toLong + 7000L, s"hygiene fixture doc $i topic ${i % 5} with shared window phrase alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    val textBatch = Seq(
      (7100L, "hygiene fixture doc 3 topic 3 with shared window phrase alpha beta gamma delta epsilon zeta"),
      (7101L, "a hygiene batch document with entirely original content today"))
      .toDF("doc_id", "text")
    val speeches = Seq(
      ("hyg-w1", "Hy Giene", "The budget is late. We must act now!"),
      ("hyg-w2", "Sani Tary", "Roads need repair. Bridges too."))
      .toDF("week_id", "speaker_name", "speech_text")
    val ops: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      "semanticDedup (capped)" -> (() => SimilarityOps.semanticDedup(vecs, "vec_id",
        "embedding", k = 3, maxIter = 5, t2 = 0.81, maxCell = 5)),
      "incrementalSemanticDedup (capped)" -> (() => SimilarityOps.incrementalSemanticDedup(
        vecBatch, vecs, "vec_id", "embedding", k = 3, maxIter = 5, t2 = 0.81, maxCell = 5)),
      "qualityClassifier" -> (() => TextOps.qualityClassifier(texts, "text", "doc_id",
        col("doc_id") % 3 === 0, steps = 2)),
      "decontaminateScrub" -> (() => ScrubOps.decontaminateScrub(texts, "text", "doc_id",
        col("doc_id") % 3 === 0, n = 5, window = 2)),
      "lshEmbeddingNearDupPairs" -> (() => DedupOps.lshEmbeddingNearDupPairs(vecs, "vec_id",
        "embedding", dim = 4)),
      "spanDedup" -> (() => ScrubOps.spanDedup(texts, "text", "doc_id", spanWords = 3)),
      "incrementalDedupPrepared" -> (() => DedupOps.incrementalDedupPrepared(textBatch,
        DedupOps.buildCorpusDedupIndex(texts, "text", "doc_id"), "text", "doc_id")),
      "incrementalDedup" -> (() => DedupOps.incrementalDedup(textBatch, texts, "text", "doc_id")),
      "minhashNearDupPairs" -> (() => DedupOps.minhashNearDupPairs(texts, "text", "doc_id")),
      "GraphOps.connectedComponents" -> (() => GraphOps.connectedComponents(
        Seq((7003L, 7005L), (7003L, 7008L), (7008L, 7002L), (7007L, 7010L)).toDF("a", "b"),
        "a", "b")),
      "ExperimentOps.runExperiments" -> (() => ExperimentOps.runExperiments(speeches,
        Seq(ExperimentOps.PromptVariant("hyg-v1", "absurdist", "sentence_score")),
        _.withColumn("score", size(split(col("quote"), " "))), topN = 1)._3),
      "curate (lazy)" -> (() => CurationPipeline.curate(docs, "text", "doc_id", "lang",
        col("doc_id") >= 900)),
      "curateFull (lazy)" -> (() => CurationPipeline.curateFull(docs, "text", "doc_id", "lang",
        col("doc_id") >= 900, minWords = 3, lineWords = 2, lineMinDocs = 50, spanWords = 3,
        spanMinCount = 50)))
    for ((label, op) <- ops) assertNoLeak(label) {
      CacheScope.run {
        val before = spark.sparkContext.getPersistentRDDs.keySet
        op().collect()
        // a row whose operator caches nothing would check no release
        assert((spark.sparkContext.getPersistentRDDs.keySet -- before).nonEmpty,
          s"$label cached nothing inside its scope")
      }
    }
  }

  test("the plain capped wrappers release their width frames outside any scope") {
    import graft.operators.SimilarityOps
    // The PLAIN capped wrappers cannot hand caches back, so they must
    // release the cap width frame(s) themselves (round-16 advice: the
    // q143/q144 shape through the plain entry point leaked the width
    // frame for the session). Their labeled frames stay cached BY DESIGN
    // (the verdict plan reads them); a surviving width frame is one more.
    def assertWidthsReleased(label: String, labeled: Int)(run: => Unit): Unit = {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      run
      val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
      assert(leaked.size <= labeled,
        s"$label: expected at most $labeled labeled frame(s) cached, got RDD ids $leaked")
      spark.catalog.clearCache()
    }
    assertWidthsReleased("semanticDedup plain (capped)", labeled = 1) {
      SimilarityOps.semanticDedup(vecs, "vec_id", "embedding",
        k = 3, maxIter = 5, t2 = 0.81, maxCell = 5).collect()
    }
    assertWidthsReleased("incrementalSemanticDedup plain (capped)", labeled = 2) {
      val batch = vecs.filter(col("vec_id") % 4 === 0)
        .select((col("vec_id") + 2000L).as("vec_id"), col("embedding"))
      SimilarityOps.incrementalSemanticDedup(batch, vecs, "vec_id",
        "embedding", k = 3, maxIter = 5, t2 = 0.81, maxCell = 5).collect()
    }
  }

  test("semanticDedup plain (cacheQuantized) releases the quantized frame (r19 advice)") {
    import graft.operators.SimilarityOps
    // distinctive literals so CacheManager plan-matching can't alias
    // these frames with another suite's cached plans
    val vecs = (0 until 24).map { i =>
      (i.toLong + 91000L, Seq.tabulate(4)(d =>
        (if (d == i % 3) 13.0 else 0.0) + 0.01 * ((i * 11 + d) % 5)))
    }.toDF("vec_id", "embedding")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val res = SimilarityOps.semanticDedup(vecs, "vec_id", "embedding",
      k = 3, maxIter = 5, t2 = 0.81, cacheQuantized = true)
    res.collect()
    // the labeled frame stays cached BY DESIGN (the verdict plan reads
    // it); the quantized (vid, qv) frame must not — before the fix each
    // plain cacheQuantized call leaked a second corpus-sized cache
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.size <= 1,
      s"expected at most the labeled frame cached, got RDD ids $leaked")
    spark.catalog.clearCache()
  }

  test("incrementalDedupToParquet unpersists the index and batch caches") {
    val corpus = docs.filter(col("doc_id") < 900)
    val batch = Seq(
      (5000L, "document number 3 about topic 3 with several words of content to pass the gates easily"),
      (5001L, "a brand new document with entirely original content today")
    ).toDF("doc_id", "text")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val out = DedupOps.incrementalDedupToParquet(batch, corpus, "text", "doc_id", tmp("inc"))
    val byId = out.collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(byId(5000L) == "exact_dup" && byId(5001L) == "kept")
    // RDD-id SETS, not counts: the ContextCleaner may concurrently
    // unpersist OTHER suites' dead caches between the two measurements
    // (seen once under heavy host load), which under a count compare
    // masks a real leak of the same size. The cleaner only ever REMOVES
    // ids, and suites run sequentially in the forked JVM, so any id in
    // after-minus-before was cached by the operation under test
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"incrementalDedupToParquet leaked cached frames with RDD ids $leaked")
  }

  test("incrementalDedupToParquet releases its caches, also when the write fails") {
    val corpus = docs.filter(col("doc_id") < 900)
    val batch = Seq(
      (5001L, "a brand new document with entirely original content today")
    ).toDF("doc_id", "text")
    // an output path under a regular file: the judgment's stages run,
    // then the write cannot create its directory
    val notADir = java.nio.file.Files.createTempFile("graft_cachehygiene_inc", ".txt").toString
    assertNoLeak("incrementalDedupToParquet (failing write)") {
      intercept[Exception] {
        DedupOps.incrementalDedupToParquet(batch, corpus, "text", "doc_id", s"$notADir/out")
      }
    }
  }

  /** Fails when `body` leaves a cached RDD behind. Id SETS, not counts,
    * for the reason given above.
    */
  private def assertNoLeak(label: String)(body: => Unit): Unit = {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    body
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"$label leaked cached frames with RDD ids $leaked")
  }

  test("GoldPhase.run with a materializing sink leaves no cache behind") {
    val members = Seq(
        ("hyg-m1", "Alice A", "true", "FF", "Dublin", "34"),
        ("hyg-m2", "Bob B", "false", "FG", "Cork", "34"))
      .toDF("member_code", "full_name", "is_current_member",
        "latest_party_name", "latest_constituency_name", "latest_house_no")
    val memberships = Seq(("ms1", "hyg-m1", "34", "2024-01-01", "", "true"))
      .toDF("membership_id", "member_code", "house_no", "membership_start", "membership_end", "is_current")
    val parties = Seq(("p1", "hyg-m1", "FF", "2024-01-01", "", "true"))
      .toDF("member_party_id", "member_code", "party_name", "party_start", "party_end", "is_current")
    val constituencies = Seq(("c1", "hyg-m1", "Dublin Bay", "2024-01-01", "", "true"))
      .toDF("member_constituency_id", "member_code", "constituency_name", "represent_start", "represent_end", "is_current")
    val offices = Seq(("o1", "hyg-m1", "Whip", "2024-01-01", "", "true"))
      .toDF("member_office_id", "member_code", "office_name", "office_start", "office_end", "is_current")
    val speeches = Seq(("hyg-s1", "hyg-m1", "2024-02-01", "a"))
      .toDF("speech_id", "speaker_member_code", "debate_date", "speech_text")
    val votes = Seq(("hyg-v1", "hyg-m1", "2024-02-05", "ta", "Tá", "hyg-d1"))
      .toDF("member_vote_id", "member_code", "division_date", "vote_code", "vote_label", "division_id")
    val divisions = Seq(("hyg-d1", "2024-02-05")).toDF("division_id", "division_date")
    assertNoLeak("GoldPhase.run") {
      graft.gold.GoldPhase.run(graft.gold.GoldPhase.Inputs(members, memberships,
          parties, constituencies, offices, speeches, votes, divisions, "2024-12-31")) {
        (_, df) => df.count(); df
      }
    }
  }

  test("ContractOps.validateContractSet leaves no cache behind") {
    import graft.orchestrate.ContractOps
    val root = java.nio.file.Files.createTempDirectory("graft_cachehygiene_contracts").toString
    val store = graft.io.BatchStore.local(root)
    def put(key: String, body: String): Unit = {
      val path = java.nio.file.Paths.get(root, store.batchKeyForProductionKey(key, "b1"))
      java.nio.file.Files.createDirectories(path.getParent)
      java.nio.file.Files.write(path, body.getBytes("UTF-8"))
    }
    put("compat/hygiene/a.csv", "member_code,full_name\nh1,One\nh2,Two\n")
    put("compat/hygiene/b.csv", "member_code,year\nh1,2024\nh1,2024\n")
    store.putJson(store.productionPointerKey, Map[String, Any]("mode" -> "batch", "batch_id" -> "b1"))
    val contracts = Map(
      "a" -> ContractOps.DatasetContract("a", "compat/hygiene/a.csv",
        Seq("member_code"), Seq("member_code")),
      "b" -> ContractOps.DatasetContract("b", "compat/hygiene/b.csv",
        Seq("member_code"), Seq("member_code", "year")))
    assertNoLeak("ContractOps.validateContractSet") {
      val res = ContractOps.validateContractSet(spark, store, root, contracts, Nil,
        java.time.LocalDate.now())
      assert(res("dataset_count") == 2L)
    }
  }

  test("SilverBuilder.build releases its merge cache, also when a write fails") {
    import graft.operators.FlattenOps.{FieldSpec, FlattenSpec}
    import graft.silver.SilverBuilder
    import graft.sources.RestSource
    val spec = graft.core.TableRegistry.specs("silver_members")
    val flattenSpec = FlattenSpec(wrapperKeys = Seq("member"), fields = Seq(
      FieldSpec("member_code", Seq("memberCode")),
      FieldSpec("full_name", Seq("fullName")),
      FieldSpec("is_current_member", Seq("isCurrent"), default = "false")))
    def fetch() = {
      val transport = new RestSource.HttpTransport {
        private var served = false
        def get(url: String, params: Map[String, String]): RestSource.HttpResult = {
          val body = if (served) """{"results":[]}"""
            else """{"results":[{"member":{"memberCode":"hyg1","fullName":"Hy Giene"}}]}"""
          served = true
          RestSource.HttpResult(200, body)
        }
      }
      new RestSource.Client(transport, "https://api.test", sleeper = _ => ())
        .getPaginated("/members", Map("limit" -> "10"))
    }
    val root = java.nio.file.Files.createTempDirectory("graft_cachehygiene_silver").toString
    val store = graft.io.BatchStore.local(root)
    assertNoLeak("SilverBuilder.build") {
      val r = SilverBuilder.build(spark, store, root, "b1", spec, flattenSpec,
        () => fetch(), snapshotDate = "2026-01-01")
      assert(r.ok && r.rowCount == 1)
    }
    // a store root under a regular file: the DQ pass materializes the
    // cache, then the csv write cannot create its directory
    val notADir = java.nio.file.Files.createTempFile("graft_cachehygiene_file", ".txt").toString
    assertNoLeak("SilverBuilder.build (failing write)") {
      intercept[Exception] {
        SilverBuilder.build(spark, store, s"$notADir/root", "b2", spec, flattenSpec,
          () => fetch(), snapshotDate = "2026-01-01")
      }
    }
  }

  test("compat and review comparisons leave no cache behind") {
    import graft.compat.{CompatOps, ReviewOps}
    val legacy = (1 to 40).map(i => (s"hyg$i", s"Name $i")).toDF("member_code", "full_name")
    val unified = (3 to 42).map(i => (s"hyg$i", s"Name $i", "x")).toDF("member_code", "member_name", "x")
    assertNoLeak("CompatOps.compare") {
      CompatOps.compare("roster", legacy, unified, "member_code", "member_code",
        CompatOps.ComparisonThreshold(5, 5, 10.0, 90.0))
    }
    assertNoLeak("ReviewOps.mismatchSummary") {
      assert(ReviewOps.mismatchSummary(legacy, unified, "roster")("matched_member_count") == 38L)
    }
    assertNoLeak("ReviewOps.comparePair") {
      assert(ReviewOps.comparePair("roster", "lk", "uk", Some(legacy), Some(unified),
        "member_code", "member_code")("matched_key_count") == "38")
    }
    assertNoLeak("ReviewOps.mismatchDetail + action") {
      assert(ReviewOps.mismatchDetail(legacy, unified, "roster").collect().length == 4)
    }
  }

  test("DqOps.validate releases its own cache and keeps the caller's") {
    import graft.operators.DqOps
    val df = Seq(("hyg-k1", "x"), ("hyg-k1", "y"), ("hyg-k2", null)).toDF("pk", "v")
    val contract = DqOps.Contract(minRows = 1, pk = Seq("pk"), nonNullCols = Seq("v"))
    assertNoLeak("DqOps.validate") { DqOps.validate(df, contract) }
    df.cache()
    try {
      DqOps.validate(df, contract)
      assert(df.storageLevel != org.apache.spark.storage.StorageLevel.NONE,
        "validate released a persist the caller holds")
    } finally df.unpersist()
  }

  test("RendererContext.buildPostContext releases its caches, also when it throws") {
    import graft.gold.RendererContext
    val members = Seq(
        ("Hy Giene", "Hygiene North", "Clean Party", "HY1"),
        ("Sani Tary", "Hygiene North", "Clean Party", "HY2"))
      .toDF("full_name", "constituency", "party", "member_code")
    val photos = Seq(("HY1", "Hy Giene", null: String)).toDF("member_code", "full_name", "photo_url")
    val summaries = Seq(("HY1", "Hy Giene", "Background.")).toDF("member_code", "full_name", "background")
    val issues = Seq(("Hy Giene", "Water"), ("Hy Giene", "Water"), ("Sani Tary", "Waste"))
      .toDF("Speaker Name", "issue")
    val images = Seq(("hygiene-north.png", "k", null: String)).toDF("filename", "s3_key", "url")
    assertNoLeak("RendererContext.buildPostContext") {
      val ctx = RendererContext.buildPostContext(members, photos, summaries, issues, images,
        constituencyName = "Hygiene North")
      assert(ctx.constituency.speechCount == 3)
    }
    assertNoLeak("RendererContext.buildPostContext (unknown constituency)") {
      intercept[RuntimeException] {
        RendererContext.buildPostContext(members, photos, summaries, issues, images,
          constituencyName = "Atlantis")
      }
    }
  }
}
