package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

import graft.operators.DedupOps

/** The bucketed corpus dedup index: writeCorpusDedupIndex publishes the
  * three frames as a version of a root, bucketed by their join keys, so
  * every corpus leg of incrementalDedupPrepared joins CO-LOCATED — the
  * scan reports the bucket partitioning and the planner inserts no
  * corpus-side exchange. At 100 TB the corpus shuffle this removes IS the
  * cost the prepared index exists to avoid; only batch-sized sides may
  * move. Appends are ingest segments, compaction is a fold into the next
  * version, retention is the store's prune.
  */
class CorpusIndexSpec extends SparkSpec {
  import spark.implicits._

  private val store = DedupOps.corpusIndex

  private def tmpRoot(name: String): String = {
    val d = java.nio.file.Files.createTempDirectory(name).toFile
    org.apache.commons.io.FileUtils.forceDeleteOnExit(d)
    d.getPath
  }

  private lazy val corpus = (0 until 400).map { i =>
    (i.toLong, s"corpus document number $i talks about topic ${i % 40} in moderate detail with ${i % 7} extra side remarks included")
  }.toDF("doc_id", "text")

  private lazy val newBatch = Seq(
    (10000L, "corpus document number 37 talks about topic 37 in moderate detail with 2 extra side remarks included"),
    (10001L, "an entirely new document with no relatives in the corpus whatsoever today"),
    (10002L, "corpus document number 55 talks about topic 15 in moderate detail with 6 extra side remarks also included")
  ).toDF("doc_id", "text")

  private lazy val family = (0 until 30).map(i =>
    (7000L + i, "repeated template body with one unique trailing token marker " +
      s"for member v$i")).toDF("doc_id", "text")

  private def build(root: String, maxBucket: Int = DedupOps.DefaultMaxBucket): Int =
    DedupOps.writeCorpusDedupIndex(
      DedupOps.buildCorpusDedupIndex(corpus, "text", "doc_id", maxBucket = maxBucket),
      root, buckets = 4)

  private def judge(batch: DataFrame, idx: DedupOps.CorpusDedupIndex,
                    maxBucket: Int = DedupOps.DefaultMaxBucket): Seq[(Long, String)] =
    DedupOps.incrementalDedupPrepared(batch, idx, "text", "doc_id", maxBucket = maxBucket)
      .orderBy("new_id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq

  private def served(root: String): String = store.versionDir(root, store.servedVersion(root))

  /** A crash between an append's table writes and its commit marker. */
  private def tear(root: String, batchId: Long): Unit = {
    val seg = s"${served(root)}/ingest/b$batchId"
    assert(graft.io.IndexMeta.deleteTree(s"$seg/_SUCCESS"))
    graft.io.IndexMeta.deleteTree(s"$seg/bands")
  }

  /** Every registered index table this suite's roots produced. */
  private def isIndexScan(s: FileSourceScanExec): Boolean =
    s.tableIdentifier.exists(_.table.startsWith("cdx_"))

  /** All nodes of the plan tree, unwrapping AQE containers (the final
    * adaptive plan's leaves are query stages whose real subtrees hang
    * off `plan`, not `children`).
    */
  private def allNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => allNodes(a.executedPlan)
    case q: QueryStageExec => q +: allNodes(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(allNodes)
  }

  /** Root-to-node paths (root first) for every index-table scan. */
  private def pathsToIndexScans(p: SparkPlan, acc: List[SparkPlan]): Seq[List[SparkPlan]] = {
    val acc2 = p :: acc
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case o => o.children ++ o.subqueries
    }
    val here = p match {
      case s: FileSourceScanExec if isIndexScan(s) => Seq(acc2.reverse)
      case _ => Nil
    }
    here ++ kids.flatMap(pathsToIndexScans(_, acc2))
  }

  private def withoutBroadcast[T](body: => T): T = {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try body finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  private def assertBucketedScans(out: DataFrame): Unit = {
    out.collect()
    val scans = allNodes(out.queryExecution.executedPlan).collect {
      case s: FileSourceScanExec if isIndexScan(s) => s
    }
    assert(scans.nonEmpty, "no index-table scans in the plan")
    scans.foreach(s => assert(s.bucketedScan,
      s"index scan of ${s.tableIdentifier.get.table} lost the bucketed layout"))
  }

  /** Forget the session's registrations of `root`'s tables. */
  private def dropRegistrations(root: String): Unit = {
    val leaf = new java.io.File(root).getName.toLowerCase
    spark.catalog.listTables().collect().map(_.name).filter(_.startsWith(s"cdx_$leaf"))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("round-trips through bucketed tables, re-attaches, and matches the in-memory path") {
    val root = tmpRoot("cidx_roundtrip")
    // first: the pointer probe resolves its filesystem through the active
    // session, which this suite may not have started yet
    val direct = DedupOps.incrementalDedup(newBatch, corpus, "text", "doc_id")
      .orderBy("new_id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(!DedupOps.corpusDedupIndexExists(root))
    assert(build(root) == 1)
    assert(DedupOps.corpusDedupIndexExists(root))
    val prepared = judge(newBatch, DedupOps.readCorpusDedupIndex(spark, root))
    assert(prepared == direct, s"prepared $prepared vs direct $direct")
    assert(prepared.toMap.apply(10000L) == "exact_dup")
    assert(prepared.toMap.apply(10001L) == "kept")

    // catalog loss (a fresh session): the read re-registers the served
    // version from the root — DDL only, no rebuild
    dropRegistrations(root)
    assert(judge(newBatch, DedupOps.readCorpusDedupIndex(spark, root)) == direct)
  }

  test("manifest is the layout's source of truth: mismatches raise, params round-trip") {
    val root = tmpRoot("cidx_manifest")
    DedupOps.writeCorpusDedupIndex(
      DedupOps.buildCorpusDedupIndex(corpus, "text", "doc_id",
        n = 3, numHashes = 64, bands = 32, maxBucket = 100),
      root, buckets = 4)
    val idx = DedupOps.readCorpusDedupIndex(spark, root)
    assert(idx.params.contains(DedupOps.CorpusIndexParams(3, 64, 32, 100)),
      s"params not recovered: ${idx.params}")
    // the registration takes its bucket count from the manifest
    val tables = spark.catalog.listTables().collect().map(_.name)
      .filter(n => n.startsWith("cdx_cidx_manifest"))
    assert(tables.length == 3, tables.toSeq.toString)
    tables.foreach { t =>
      val meta = spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(t))
      assert(meta.bucketSpec.map(_.numBuckets).contains(4), s"$t: ${meta.bucketSpec}")
    }

    // an ingest call with a different band family must refuse loudly
    // (it would otherwise run fine and judge everything kept)
    val e1 = intercept[IllegalArgumentException] {
      DedupOps.incrementalDedupPrepared(newBatch, idx, "text", "doc_id",
        n = 4, numHashes = 64, bands = 32)
    }
    assert(e1.getMessage.contains("band families"), e1.getMessage)

    // an index without build params cannot be persisted: appends and
    // folds derive the band family from them
    val e2 = intercept[IllegalArgumentException] {
      DedupOps.writeCorpusDedupIndex(idx.copy(params = None), tmpRoot("cidx_bare"))
    }
    assert(e2.getMessage.contains("build params"), e2.getMessage)

    // a root that never served a version refuses the read
    val e3 = intercept[IllegalStateException] {
      DedupOps.readCorpusDedupIndex(spark, tmpRoot("cidx_empty"))
    }
    assert(e3.getMessage.contains("no served"), e3.getMessage)
  }

  test("append keeps the index equivalent to a fresh build and the scans bucketed") {
    val root = tmpRoot("cidx_append")
    build(root)
    val accepted = Seq(
      (5000L, "an accepted document about incremental corpus growth over time"),
      (5001L, "corpus document number 901 talks about topic 21 in moderate detail with 5 extra side remarks included")
    ).toDF("doc_id", "text")
    assert(DedupOps.appendToCorpusDedupIndex(accepted, "text", "doc_id", root, batchId = 0L))

    // a later batch judged against the APPENDED index must match the
    // judgment against a fresh index built over corpus ∪ accepted
    val later = Seq(
      (9000L, "an accepted document about incremental corpus growth over time"),   // exact of 5000
      (9001L, "corpus document number 901 talks about topic 21 in moderate detail with 9 extra side remarks included"), // near of 5001
      (9002L, "nothing like anything else present in this corpus at all today")
    ).toDF("doc_id", "text")
    val viaAppend = judge(later, DedupOps.readCorpusDedupIndex(spark, root))
    val viaRebuild = judge(later,
      DedupOps.buildCorpusDedupIndex(corpus.unionByName(accepted), "text", "doc_id"))
    assert(viaAppend == viaRebuild, s"append $viaAppend vs rebuild $viaRebuild")
    assert(viaAppend.toMap == Map(9000L -> "exact_dup", 9001L -> "near_dup", 9002L -> "kept"))

    // the segment is a partition of each bucketed table: index scans
    // still report bucketed across base and segment
    withoutBroadcast(assertBucketedScans(DedupOps.incrementalDedupPrepared(
      later, DedupOps.readCorpusDedupIndex(spark, root), "text", "doc_id")))
  }

  test("compaction re-caps buckets that appends grew past the limit") {
    val root = tmpRoot("cidx_recap")
    // capped build over the plain corpus: no bucket near the cap
    build(root, maxBucket = 12)
    // appends grow a hot templated family far past the cap (appends
    // deliberately do NOT re-cap — batch-sized accepts can't see the
    // cumulative width)
    DedupOps.appendToCorpusDedupIndex(family, "text", "doc_id", root, batchId = 0L)
    val over = DedupOps.oversizedBuckets(DedupOps.readCorpusDedupIndex(spark, root).bands,
      Seq("band_idx", "band_hash"), maxBucket = 12)
    val overCount = over.count()
    assert(overCount > 0, "appends did not grow any bucket past the cap")

    // the fold names the dropped buckets and serves bands back under the cap
    val report = DedupOps.compactCorpusDedupIndex(spark, root)
    assert(report.count() == overCount)
    assert(store.currentVersion(root).contains(2))
    val after = DedupOps.readCorpusDedupIndex(spark, root)
    assert(DedupOps.oversizedBuckets(after.bands,
      Seq("band_idx", "band_hash"), maxBucket = 12).count() == 0)
    assert(after.params.contains(DedupOps.CorpusIndexParams(3, 64, 32, 12)))

    // judgments against the folded index: a probe whose only
    // neighborhood is the dropped family bucket judges kept; a genuine
    // corpus near-dup still judges near_dup
    val probes = Seq(
      (9100L, "repeated template body with one unique trailing token marker for member v999"),
      (9101L, "corpus document number 55 talks about topic 15 in moderate detail with 6 extra side remarks also included")
    ).toDF("doc_id", "text")
    val out = judge(probes, after, maxBucket = 12).toMap
    assert(out(9100L) == "kept", s"dropped-bucket probe judged ${out(9100L)}")
    assert(out(9101L) == "near_dup", s"genuine probe judged ${out(9101L)}")
  }

  test("a fold carries unfragmented fingerprints/shingles by reference") {
    val root = tmpRoot("cidx_carry")
    def manifest(v: Int): Map[String, Any] = graft.io.StableJson.parse(
      graft.io.IndexMeta.readString(s"${store.versionDir(root, v)}/manifest.json").get)
      .asInstanceOf[Map[String, Any]]
    def carried(v: Int): Map[String, Any] = manifest(v)("carried").asInstanceOf[Map[String, Any]]
    build(root, maxBucket = 12)
    DedupOps.appendToCorpusDedupIndex(family, "text", "doc_id", root, batchId = 0L)

    // few files per bucket: fingerprints/shingles carry (the new version
    // names v1's base and segment dirs, no byte moves); bands rewrite
    // re-capped
    assert(DedupOps.compactCorpusDedupIndex(spark, root).count() > 0,
      "re-cap dropped nothing — family not hot?")
    val v2 = carried(2)
    assert(v2.keySet == Set("fingerprints", "shingles"), v2.toString)
    assert(v2("fingerprints") == Seq("versions/v0001/fingerprints",
      "versions/v0001/ingest/b0/fingerprints"), v2.toString)
    assert(!graft.io.IndexMeta.exists(s"${store.versionDir(root, 2)}/fingerprints"))
    assert(graft.io.IndexMeta.exists(s"${store.versionDir(root, 2)}/bands/_SUCCESS"))

    // the carried tables keep their bucketed layout and judgments
    val probes = Seq(
      (9100L, "repeated template body with one unique trailing token marker for member v999"),
      (9101L, "corpus document number 55 talks about topic 15 in moderate detail with 6 extra side remarks also included"),
      (9102L, "repeated template body with one unique trailing token marker for member v7")
    ).toDF("doc_id", "text")
    val after = DedupOps.readCorpusDedupIndex(spark, root)
    val out = judge(probes, after, maxBucket = 12).toMap
    assert(out == Map(9100L -> "kept", 9101L -> "near_dup", 9102L -> "exact_dup"), out.toString)
    withoutBroadcast(assertBucketedScans(
      DedupOps.incrementalDedupPrepared(probes, after, "text", "doc_id", maxBucket = 12)))

    // past the fragmentation threshold every table rewrites into the new
    // version's own dirs, with the same judgments
    DedupOps.compactCorpusDedupIndex(spark, root, maxFilesPerBucket = 0)
    assert(carried(3).isEmpty)
    assert(graft.io.IndexMeta.exists(s"${store.versionDir(root, 3)}/shingles/_SUCCESS"))
    assert(judge(probes, DedupOps.readCorpusDedupIndex(spark, root), maxBucket = 12).toMap == out)
  }

  test("a crashed append is detected, refused, and repaired back to the committed state") {
    val root = tmpRoot("cidx_torn")
    build(root)
    val probe = Seq(
      (9000L, "an accepted document about incremental corpus growth over time"),
      (9002L, "nothing like anything else present in this corpus at all today")
    ).toDF("doc_id", "text")
    val before = judge(probe, DedupOps.readCorpusDedupIndex(spark, root))
    val accepted = Seq((5000L, "an accepted document about incremental corpus growth over time"))
      .toDF("doc_id", "text")
    DedupOps.appendToCorpusDedupIndex(accepted, "text", "doc_id", root, batchId = 3L)
    tear(root, 3L)

    // the torn segment (no _SUCCESS) is not served: judgments stay at the
    // committed state, and the batch does not count as applied
    assert(judge(probe, DedupOps.readCorpusDedupIndex(spark, root)) == before)
    assert(!store.batchApplied(served(root), 3L))

    // the retried append rewrites the segment; the index now matches a
    // fresh build over the unioned corpus
    assert(DedupOps.appendToCorpusDedupIndex(accepted, "text", "doc_id", root, batchId = 3L))
    val viaAppend = judge(probe, DedupOps.readCorpusDedupIndex(spark, root))
    val viaRebuild = judge(probe,
      DedupOps.buildCorpusDedupIndex(corpus.unionByName(accepted), "text", "doc_id"))
    assert(viaAppend == viaRebuild, s"append $viaAppend vs rebuild $viaRebuild")
    assert(viaAppend.toMap.apply(9000L) == "exact_dup")
  }

  test("tag-keyed appends are exactly-once: committed tags no-op, torn tags redo") {
    // the idempotence key is the batch id (the streaming micro-batch id)
    val root = tmpRoot("cidx_exactly_once")
    build(root)
    def fpRows() = DedupOps.readCorpusDedupIndex(spark, root).fingerprints.count()
    val acc1 = Seq((5000L, "first accepted trigger document about segments"))
      .toDF("doc_id", "text")
    assert(DedupOps.appendToCorpusDedupIndex(acc1, "text", "doc_id", root, batchId = 0L))
    val fpAfter = fpRows()
    // replay of a fully-applied batch: no-op, not a duplicate append
    assert(!DedupOps.appendToCorpusDedupIndex(acc1, "text", "doc_id", root, batchId = 0L))
    assert(fpRows() == fpAfter)

    // a batch that crashed mid-append redoes itself on retry
    val acc2 = Seq((5001L, "second accepted trigger document about replays"))
      .toDF("doc_id", "text")
    DedupOps.appendToCorpusDedupIndex(acc2, "text", "doc_id", root, batchId = 1L)
    tear(root, 1L)
    assert(DedupOps.appendToCorpusDedupIndex(acc2, "text", "doc_id", root, batchId = 1L))
    val probe = Seq(
      (9000L, "first accepted trigger document about segments"),
      (9001L, "second accepted trigger document about replays")
    ).toDF("doc_id", "text")
    assert(judge(probe, DedupOps.readCorpusDedupIndex(spark, root)).toMap ==
      Map(9000L -> "exact_dup", 9001L -> "exact_dup"))
    assert(fpRows() == fpAfter + 1)
  }

  test("per-batch joins have no corpus-side exchange: index scans are bucketed leaves") {
    val root = tmpRoot("cidx_exchange")
    build(root)
    DedupOps.appendToCorpusDedupIndex(
      Seq((5000L, "an appended document so the scans span two partitions")).toDF("doc_id", "text"),
      "text", "doc_id", root, batchId = 0L)
    // force shuffle joins: broadcasting the index side would hide the
    // exchange question (and can't happen at real corpus scale)
    withoutBroadcast {
      val out = DedupOps.incrementalDedupPrepared(newBatch,
        DedupOps.readCorpusDedupIndex(spark, root), "text", "doc_id")
      assertBucketedScans(out)
      // the path from each index scan UP to its nearest join ancestor
      // crosses no shuffle: the corpus side feeds its join straight from
      // the bucketed layout. (Shuffles ABOVE the join — e.g. the post-join
      // groupBy — are batch-sized results and fine.)
      val paths = pathsToIndexScans(out.queryExecution.executedPlan, Nil)
      assert(paths.nonEmpty, "no root-to-index-scan paths found")
      paths.foreach { path =>
        val belowJoin = path.reverse.takeWhile {
          case _: org.apache.spark.sql.execution.joins.BaseJoinExec => false
          case _ => true
        }
        val crossed = belowJoin.collect {
          case e: ShuffleExchangeExec => e
          case q: ShuffleQueryStageExec => q
        }
        assert(crossed.isEmpty,
          s"corpus index scan shuffles before its join:\n${path.last.treeString.take(800)}")
      }
    }
  }

  test("reads never reuse a stale registration after folds or rebuilds") {
    val root = tmpRoot("cidx_stale")
    build(root)
    val probe = Seq((9000L, "a doc that only the rebuilt index knows about today")).toDF("doc_id", "text")
    def tableOf(idx: DedupOps.CorpusDedupIndex): String =
      idx.bands.queryExecution.analyzed.collectFirst {
        case r: org.apache.spark.sql.execution.datasources.LogicalRelation => r.catalogTable.get.identifier.table
      }.get
    val t1 = tableOf(DedupOps.readCorpusDedupIndex(spark, root))
    assert(judge(probe, DedupOps.readCorpusDedupIndex(spark, root)).toMap.apply(9000L) == "kept")

    // a fold serves a new version under a new name
    DedupOps.compactCorpusDedupIndex(spark, root)
    val t2 = tableOf(DedupOps.readCorpusDedupIndex(spark, root))
    assert(t2 != t1)

    // the root deleted and rebuilt in place (same path, same version
    // number, different data and bucket count): the old registration
    // must not serve the new files
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    DedupOps.writeCorpusDedupIndex(DedupOps.buildCorpusDedupIndex(
      corpus.unionByName(probe.select((col("doc_id") - 1L).as("doc_id"), col("text"))),
      "text", "doc_id"), root, buckets = 8)
    val rebuilt = DedupOps.readCorpusDedupIndex(spark, root)
    assert(tableOf(rebuilt) != t1)
    assert(judge(probe, rebuilt).toMap.apply(9000L) == "exact_dup")
  }

  test("compaction carries committed idempotence tags into the new ledger") {
    // the replay-across-maintenance hole: a trigger commits its segment,
    // the process dies before the streaming checkpoint commit, and
    // maintenance folds the segment into the next version (twice). The
    // replayed trigger would find its own docs in the index and judge
    // them all duplicates; the carried ledger makes the replay a no-op.
    val root = tmpRoot("cidx_ledger")
    build(root)
    val accepted = Seq((5000L, "a trigger-accepted document about carried ledgers"))
      .toDF("doc_id", "text")
    DedupOps.appendToCorpusDedupIndex(accepted, "text", "doc_id", root, batchId = 7L)
    DedupOps.compactCorpusDedupIndex(spark, root)
    DedupOps.appendToCorpusDedupIndex(
      Seq((5001L, "a later trigger document")).toDF("doc_id", "text"),
      "text", "doc_id", root, batchId = 8L)
    DedupOps.compactCorpusDedupIndex(spark, root)
    assert(store.currentVersion(root).contains(3))
    assert(store.foldedBatchIds(served(root)) == Set(7L, 8L))
    val fpBefore = DedupOps.readCorpusDedupIndex(spark, root).fingerprints.count()
    assert(!DedupOps.appendToCorpusDedupIndex(accepted, "text", "doc_id", root, batchId = 7L))
    assert(DedupOps.readCorpusDedupIndex(spark, root).fingerprints.count() == fpBefore)
    // an unrelated new batch still appends normally
    assert(DedupOps.appendToCorpusDedupIndex(
      Seq((5002L, "a third trigger document")).toDF("doc_id", "text"),
      "text", "doc_id", root, batchId = 9L))
    assert(DedupOps.readCorpusDedupIndex(spark, root).fingerprints.count() == fpBefore + 1)
  }

  test("prepared judgments equal direct incremental dedup on seeded random corpora") {
    // generative sweep over duplicate/near-dup densities: texts draw from
    // a small word pool so exact copies, perturbed copies, and genuinely
    // fresh docs all occur at varying rates. The prepared path (index
    // frames + joins) must judge identically to the direct path for
    // every seed — in memory, no persisted tables, so this covers the
    // derivation/join algebra rather than the storage layout.
    val pool = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa", "lambda", "mu")
    for (seed <- 1 to 5) {
      val rnd = new scala.util.Random(seed)
      def text() = Seq.fill(6 + rnd.nextInt(8))(pool(rnd.nextInt(pool.size))).mkString(" ")
      val corpusTexts = Vector.fill(60)(text())
      val corpus = corpusTexts.zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val batch = (0 until 25).map { i =>
        val t = rnd.nextInt(4) match {
          case 0 => corpusTexts(rnd.nextInt(corpusTexts.size))          // exact dup
          case 1 => corpusTexts(rnd.nextInt(corpusTexts.size)) + " zz"  // near dup
          case _ => text()                                              // fresh-ish
        }
        (1000L + i, t)
      }.toDF("doc_id", "text")
      val direct = DedupOps.incrementalDedup(batch, corpus, "text", "doc_id")
        .orderBy("new_id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      val prepared = DedupOps.incrementalDedupPrepared(batch,
          DedupOps.buildCorpusDedupIndex(corpus, "text", "doc_id"), "text", "doc_id")
        .orderBy("new_id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      assert(prepared == direct,
        s"seed $seed: prepared ${prepared.take(8)} vs direct ${direct.take(8)}")
    }
  }

  test("a quarter of appends, crashes, compactions, and checked promotes converges") {
    // Generative capstone for the full maintenance lifecycle: a seeded
    // random schedule of daily appends (some torn, then replayed), folds
    // (some dying after writing part of a version — the pointer swap is
    // checked and refuses the torn version), and prunes. Whatever the
    // schedule, the served version must judge exactly like a fresh build
    // over the base corpus plus every committed batch — torn work never
    // surfaces, committed work never drops.
    val root = tmpRoot("cidx_quarter")
    val rnd = new scala.util.Random(20260814L)
    build(root)
    val committed = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    for (day <- 0 until 12) {
      val rows = (0 until 2 + rnd.nextInt(2)).map(i =>
        (8000L + day * 100 + i, s"lifecycle day $day doc $i about subject ${rnd.nextInt(1000)}"))
      val df = rows.toDF("doc_id", "text")
      DedupOps.appendToCorpusDedupIndex(df, "text", "doc_id", root, batchId = day.toLong)
      if (rnd.nextDouble() < 0.25) {
        tear(root, day.toLong)
        assert(DedupOps.appendToCorpusDedupIndex(df, "text", "doc_id", root, day.toLong))
      }
      committed ++= rows
      if (day % 4 == 3) {
        if (rnd.nextBoolean()) {
          // a fold dies mid-write: its version dir is claimed but
          // incomplete, and the checked swap refuses it
          val torn = intercept[IllegalStateException] {
            store.publish(root) { (_, v) =>
              graft.io.IndexMeta.writeString(s"${store.versionDir(root, v)}/bands/part-0", "x")
              throw new IllegalStateException(s"fold of v$v died")
            }
          }.getMessage.stripPrefix("fold of v").stripSuffix(" died").toInt
          intercept[IllegalArgumentException](store.swapPointer(root, torn))
        }
        DedupOps.compactCorpusDedupIndex(spark, root)
        DedupOps.pruneCorpusDedupIndex(root)
      }
    }
    val probe = committed.toSeq.map { case (id, txt) => (id + 100000L, txt) }
      .toDF("doc_id", "text")
    val viaLifecycle = judge(probe, DedupOps.readCorpusDedupIndex(spark, root))
    assert(viaLifecycle.forall(_._2 == "exact_dup"),
      s"committed docs lost across the lifecycle: ${viaLifecycle.filter(_._2 != "exact_dup").take(5)}")
    val viaRebuild = judge(probe, DedupOps.buildCorpusDedupIndex(
      corpus.unionByName(committed.toSeq.toDF("doc_id", "text")), "text", "doc_id"))
    assert(viaLifecycle == viaRebuild)
    assert(store.foldedBatchIds(served(root)) ++ store.committedSegments(served(root))
      .map(_.stripPrefix("b").toLong) == (0L until 12L).toSet)
  }

  test("a month of appends with interleaved crashes converges to the rebuilt index") {
    val root = tmpRoot("cidx_month")
    build(root)
    val batches = (0 until 6).map { b =>
      (0 until 3).map { i =>
        (6000L + b * 10 + i,
          s"daily ingest batch $b accepted document $i concerning subject ${b * 3 + i}")
      }.toDF("doc_id", "text")
    }
    // batches 2 and 4 crash before their commit marker, then replay
    batches.zipWithIndex.foreach { case (batch, b) =>
      DedupOps.appendToCorpusDedupIndex(batch, "text", "doc_id", root, b.toLong)
      if (b == 2 || b == 4) {
        tear(root, b.toLong)
        assert(DedupOps.appendToCorpusDedupIndex(batch, "text", "doc_id", root, b.toLong))
      }
    }
    // every accepted doc judges as an exact dup, and the multi-segment
    // index equals a fresh build over the full union
    val all = batches.reduce(_.unionByName(_))
    val probe = all.select((col("doc_id") + 1000L).as("doc_id"), col("text"))
    val viaSegments = judge(probe, DedupOps.readCorpusDedupIndex(spark, root))
    assert(viaSegments.forall(_._2 == "exact_dup"), viaSegments.take(5).toString)
    assert(viaSegments == judge(probe,
      DedupOps.buildCorpusDedupIndex(corpus.unionByName(all), "text", "doc_id")))
  }

  test("a fold cannot drop a concurrent append: appends and folds serialize") {
    // A trigger holds the intake claim from its batchApplied check to its
    // segment commit. A fold that enumerated segments inside that window
    // and swapped after it would drop the batch from every later version
    // while the stream checkpoint commits; the claim makes the fold wait.
    val root = tmpRoot("cidx_fold_race")
    build(root)
    val acc = Seq((5000L, "a document accepted while a fold was waiting")).toDF("doc_id", "text")
    val inWindow = new java.util.concurrent.CountDownLatch(1)
    val committed = new java.util.concurrent.atomic.AtomicBoolean(false)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val trigger = new Thread(() =>
      try store.withServedDir(root) { dir =>
        inWindow.countDown()
        Thread.sleep(1500L)
        DedupOps.appendSegment(acc, "text", "doc_id", dir, 4L)
        committed.set(true)
      } catch { case t: Throwable => errs.add(t) }, "cidx-trigger")
    trigger.start()
    assert(inWindow.await(30, java.util.concurrent.TimeUnit.SECONDS))
    DedupOps.compactCorpusDedupIndex(spark, root)
    assert(committed.get(), "the fold completed inside the trigger's window")
    trigger.join(30000L)
    assert(errs.isEmpty, s"trigger threw: ${errs.peek()}")
    assert(store.foldedBatchIds(served(root)) == Set(4L))
    val probe = Seq((9000L, "a document accepted while a fold was waiting")).toDF("doc_id", "text")
    assert(judge(probe, DedupOps.readCorpusDedupIndex(spark, root)).toMap.apply(9000L) == "exact_dup")
  }

  test("racing writers publish disjoint versions and racing appends both land") {
    val root = tmpRoot("cidx_race")
    build(root)
    val accA = Seq((6000L, "racer a accepted a document about claims and versions today"))
      .toDF("doc_id", "text")
    val accB = Seq((6001L, "racer b accepted a different document about folds and pointers"))
      .toDF("doc_id", "text")
    val start = new java.util.concurrent.CountDownLatch(4)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    def racer(body: => Unit): Thread = new Thread(() => {
      start.countDown(); start.await()
      try body catch { case t: Throwable => errs.add(t) }
    })
    val racers = Seq(
      racer(DedupOps.compactCorpusDedupIndex(spark, root)),
      racer(DedupOps.compactCorpusDedupIndex(spark, root)),
      racer(DedupOps.appendToCorpusDedupIndex(accA, "text", "doc_id", root, 10L)),
      racer(DedupOps.appendToCorpusDedupIndex(accB, "text", "doc_id", root, 11L)))
    racers.foreach(_.start()); racers.foreach(_.join())
    assert(errs.isEmpty, s"a racer threw: ${errs.peek()}")
    // every publish claimed its own complete version; the last one serves
    val versions = graft.io.IndexMeta.listChildNames(s"$root/versions").sorted
    assert(versions == Seq("v0001", "v0002", "v0003"), versions.toString)
    assert(versions.forall(v => store.exists(s"$root/versions/$v")))
    assert(store.currentVersion(root).contains(3))
    // both appends are corpus-known, whichever version they landed in
    val later = Seq(
      (7000L, "racer a accepted a document about claims and versions today"),
      (7001L, "racer b accepted a different document about folds and pointers"),
      (7002L, "nothing resembling anything else in this corpus today at all")
    ).toDF("doc_id", "text")
    assert(judge(later, DedupOps.readCorpusDedupIndex(spark, root)).toMap ==
      Map(7000L -> "exact_dup", 7001L -> "exact_dup", 7002L -> "kept"))
    assert(!DedupOps.appendToCorpusDedupIndex(accA, "text", "doc_id", root, 10L))
    assert(!DedupOps.appendToCorpusDedupIndex(accB, "text", "doc_id", root, 11L))
  }

  test("dedup-index retention GC: grace window kept, serving generation safe, carried-tag replays survive collection") {
    // v1 build + append b0 → v2 fold (carries v1's fingerprints/shingles
    // by reference) → v3 fold rewriting everything → v4 fold carrying
    // v3's. prune(keepLatest = 2) keeps the served v4, the grace v3
    // (which v4 also references) and drops v1/v2; prune(1) then keeps v3
    // anyway because v4 reads its files. The batch that committed on the
    // collected v1 still replays to a no-op (its id rode the folds).
    val root = tmpRoot("cidx_gc")
    build(root)
    val acc = Seq((9000L, "a gc test document accepted through a trigger")).toDF("doc_id", "text")
    DedupOps.appendToCorpusDedupIndex(acc, "text", "doc_id", root, batchId = 0L)
    DedupOps.compactCorpusDedupIndex(spark, root)
    // v2 reads v1's files: a prune keeping only the served version keeps v1
    assert(DedupOps.pruneCorpusDedupIndex(root, keepLatest = 1).isEmpty)
    DedupOps.compactCorpusDedupIndex(spark, root, maxFilesPerBucket = 0)
    DedupOps.compactCorpusDedupIndex(spark, root)
    val later = Seq(
      (9100L, "a gc test document accepted through a trigger"),
      (9101L, "nothing resembling anything else in this corpus right now")
    ).toDF("doc_id", "text")
    val before = judge(later, DedupOps.readCorpusDedupIndex(spark, root))
    assert(before.toMap.apply(9100L) == "exact_dup", before.toString)

    // every version was read (folds read their source), so each holds
    // three registrations; prune drops exactly those of what it deletes
    val leaf = new java.io.File(root).getName.toLowerCase
    def registered(v: Int): Int = spark.catalog.listTables().collect().map(_.name)
      .count(_.startsWith(f"cdx_${leaf}_v$v%04d_"))
    assert((1 to 4).map(registered) == Seq(3, 3, 3, 3))
    assert(DedupOps.pruneCorpusDedupIndex(root) == Seq(1, 2))
    assert((1 to 4).map(registered) == Seq(0, 0, 3, 3),
      "the pruned versions' catalog registrations must go with their dirs")
    assert(DedupOps.pruneCorpusDedupIndex(root, keepLatest = 1).isEmpty,
      "v3 is referenced by the served v4 and must stay")
    assert(store.exists(store.versionDir(root, 3)) && store.exists(store.versionDir(root, 4)))
    assert(judge(later, DedupOps.readCorpusDedupIndex(spark, root)) == before, "GC changed a judgment")
    val rows = DedupOps.readCorpusDedupIndex(spark, root).fingerprints.count()
    assert(!DedupOps.appendToCorpusDedupIndex(acc, "text", "doc_id", root, batchId = 0L),
      "a replay re-applied after its version was collected")
    assert(DedupOps.readCorpusDedupIndex(spark, root).fingerprints.count() == rows)
  }
}
