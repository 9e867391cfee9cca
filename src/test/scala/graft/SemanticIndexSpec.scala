package graft

import org.apache.spark.sql.functions._

import graft.operators.{SemanticIndex, SimilarityOps}
import graft.streaming.StreamOps

/** The persisted SemDeDup layout must be a pure serving form of the
  * derive-in-query operator: judgments through the stored index equal
  * `incrementalSemanticDedup` row for row, folds preserve answers, and
  * the per-trigger judge plan stays batch-proportional (the corpus
  * contributes a scan, never a corpus-sized exchange).
  */
class SemanticIndexSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(name: String): java.io.File = {
    val d = java.nio.file.Files.createTempDirectory(name).toFile
    org.apache.commons.io.FileUtils.forceDeleteOnExit(d)
    d
  }

  // distinctive vectors so CacheManager can't alias across suites:
  // 24 corpus vectors over 4 dims, 3 rough directions + jitter
  private lazy val corpus = (0 until 24).map { i =>
    (i.toLong + 9000L, Seq.tabulate(4)(d =>
      (if (d == i % 3) 13.0 else 0.0) + 0.01 * ((i * 11 + d) % 7)))
  }.toDF("vid", "vd")
  // batch: scaled near-copies of every 4th corpus vector (cosine 1 up
  // to quantization — dups) plus two novel diagonal vectors
  private lazy val batch = (0 until 24 by 4).map { i =>
    (i.toLong + 9500L, Seq.tabulate(4)(d =>
      ((if (d == i % 3) 13.0 else 0.0) + 0.01 * ((i * 11 + d) % 7)) * 0.5))
  }.toDF("vid", "vd").unionByName(Seq(
    (9900L, Seq(6.0, 6.0, 0.0, 0.0)), (9901L, Seq(0.0, 6.0, 6.0, 0.0))
  ).toDF("vid", "vd"))

  private val (k, iters, t2) = (3, 4, 0.81)

  test("judge through the persisted layout == incrementalSemanticDedup, row for row") {
    val root = tmpDir("semidx_eq").getPath
    SemanticIndex.buildAndServe(corpus, "vid", "vd", k, iters, root)
    val dir = SemanticIndex.versionDir(root,
      SemanticIndex.currentVersion(root).get)
    val (viaIndex, _) = SemanticIndex.judgeBatch(batch, "vid", "vd", dir, t2)
    val derived = SimilarityOps.incrementalSemanticDedup(batch, corpus,
      "vid", "vd", k, iters, t2, cacheLabeled = false)
    def rows(df: org.apache.spark.sql.DataFrame) = df.orderBy("vid").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2), r.getBoolean(3))).toSeq
    val vi = rows(viaIndex)
    assert(vi.nonEmpty && vi.exists(!_._4) && vi.exists(_._4),
      s"fixture must produce both dups and keeps: $vi")
    assert(vi == rows(derived),
      "persisted layout diverged from the derive-in-query operator")
  }

  test("labeled corpus and centroids round-trip exactly; fold preserves judgments") {
    val root = tmpDir("semidx_rt").getPath
    val (cents, labeled) = SemanticIndex.build(corpus, "vid", "vd", k, iters)
    val v = SemanticIndex.buildAndServe(corpus, "vid", "vd", k, iters, root)
    val dir = SemanticIndex.versionDir(root, v)
    val loaded = SemanticIndex.readCentroids(spark, dir)
    assert(loaded.size == cents.size)
    cents.zip(loaded).zipWithIndex.foreach { case ((a, b), i) =>
      assert(java.util.Arrays.equals(a, b), s"centroid $i drifted") }
    def labRows(df: org.apache.spark.sql.DataFrame) =
      df.select("vid", "cell", "n2").orderBy("vid").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(labRows(SemanticIndex.readLabeled(spark, dir)) == labRows(labeled))
    // one directory per occupied cell: the judge join prunes directories
    val cellDirs = new java.io.File(dir, "labeled").listFiles()
      .filter(_.getName.startsWith("cell=")).length
    assert(cellDirs == labeled.select("cell").distinct().count())

    // append a batch's kept rows, then fold: judgments through the new
    // version must equal the pre-fold ones (same model, consolidated
    // labeled tree — the q146 mid-stream-swap contract)
    val (verd, batchL) = SemanticIndex.judgeBatch(batch, "vid", "vd", dir, t2)
    val kept = batchL.join(verd.filter(col("kept")).select("vid"),
      Seq("vid"), "left_semi")
    assert(SemanticIndex.appendBatch(kept, dir, 0L))
    assert(!SemanticIndex.appendBatch(kept, dir, 0L), "replay must no-op")
    val probe = Seq((9990L, Seq(3.0, 3.0, 0.0, 0.0))).toDF("vid", "vd")
    def judge(d: String) = SemanticIndex.judgeBatch(probe, "vid", "vd", d, t2)
      ._1.orderBy("vid").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(2)) -1L else r.getLong(2))).toSeq
    val before = judge(dir)
    // the probe is an exact direction-match of kept 9900 — it must dup
    // against the SEGMENT row, proving ingest participates pre-fold
    assert(before == Seq((9990L, 9900L)), s"got $before")
    val nv = SemanticIndex.foldIngestAndSwap(spark, root)
    assert(judge(SemanticIndex.versionDir(root, nv)) == before,
      "fold changed judgments")
    assert(SemanticIndex.foldedBatchIds(SemanticIndex.versionDir(root, nv))
      .contains(0L))
  }

  test("the judge plan is batch-proportional: the stored corpus is scanned, never exchanged") {
    // the pair leg joins labeled(corpus) to the trigger-sized batch on
    // the cell label; the batch side must broadcast so the corpus
    // contributes a parquet scan + map-side partial min only. A
    // corpus-side Exchange BELOW the join would make every micro-batch
    // shuffle the corpus — the failure mode that breaks the 100 TB
    // intake story
    val root = tmpDir("semidx_plan").getPath
    SemanticIndex.buildAndServe(corpus, "vid", "vd", k, iters, root)
    val dir = SemanticIndex.versionDir(root,
      SemanticIndex.currentVersion(root).get)
    val (verd, _) = SemanticIndex.judgeBatch(batch, "vid", "vd", dir, t2)
    verd.collect() // finalizes the adaptive plan
    val executed = verd.queryExecution.executedPlan
    assert(executed.toString.contains("BroadcastHashJoin"),
      s"the pair legs lost the broadcast join:\n${executed.toString.take(1500)}")
    // walk the executed tree: a `labeled/` parquet scan reachable from
    // an Exchange (shuffle OR broadcast) without an intervening PARTIAL
    // aggregate means corpus-sized rows crossed the wire; with the
    // partial min in between, only batch-keyed partials move
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
    import org.apache.spark.sql.catalyst.expressions.aggregate.Partial
    def corpusMoved(p: SparkPlan, underExchange: Boolean): Int = p match {
      case a: AdaptiveSparkPlanExec => corpusMoved(a.executedPlan, underExchange)
      case q: QueryStageExec => corpusMoved(q.plan, underExchange)
      case e: ShuffleExchangeExec => corpusMoved(e.child, underExchange = true)
      case b: BroadcastExchangeExec => corpusMoved(b.child, underExchange = true)
      case h: BaseAggregateExec
          if h.aggregateExpressions.exists(_.mode == Partial) =>
        // the partial agg collapses volume to one row per (vb, partition)
        h.children.map(corpusMoved(_, underExchange = false)).sum
      case s: FileSourceScanExec =>
        if (underExchange && s.toString.contains("labeled")) 1 else 0
      case other => other.children.map(corpusMoved(_, underExchange)).sum
    }
    val moved = corpusMoved(executed, underExchange = false)
    assert(moved == 0,
      s"$moved labeled-corpus scan(s) feed an exchange without a partial agg:\n" +
        executed.toString.take(2000))
  }

  test("fold and prune wait for a held intake claim (trigger/maintenance mutex)") {
    // the round-17 race: a trigger between its batchApplied check and
    // its segment commit must exclude a concurrent fold (which would
    // silently drop the batch's kept rows from every future version)
    // and a concurrent prune (which could delete the trigger's resolved
    // version dir mid-judge). Hold the claim from another thread and
    // assert the fold does not complete until the hold releases.
    val root = tmpDir("semidx_mutex").getPath
    SemanticIndex.buildAndServe(corpus, "vid", "vd", k, iters, root)
    val holdMs = 1500L
    val acquired = new java.util.concurrent.CountDownLatch(1)
    val released = new java.util.concurrent.atomic.AtomicBoolean(false)
    val holder = new Thread(() => {
      SemanticIndex.withIntakeClaim(root) {
        acquired.countDown()
        Thread.sleep(holdMs)
        released.set(true)
      }
    }, "semidx-mutex-holder")
    holder.start()
    // latch, not a fixed sleep: the holder must OWN the claim before the
    // fold contends, or a slow-scheduled holder makes the test flaky
    assert(acquired.await(30, java.util.concurrent.TimeUnit.SECONDS),
      "holder thread never acquired the intake claim")
    val v2 = SemanticIndex.foldIngestAndSwap(spark, root)
    assert(released.get(),
      "foldIngestAndSwap completed while the intake claim was still held")
    holder.join(10000L)
    assert(SemanticIndex.currentVersion(root).contains(v2))
    // prune takes the same mutex: uncontended here, must still succeed
    assert(SemanticIndex.pruneVersions(root, keepLatest = 1) == Seq(1))
  }

  test("a rebuild on a served root carries the ledger: a replayed absorbed batch skips, its verdicts stand") {
    // the documented rebuild path: buildAndServe again on a served root,
    // from a corpus that already holds a committed batch's kept rows.
    // The rebuild must carry that batch into its ledger, or a replay
    // re-judges it against an index holding its own kept rows and marks
    // each one a duplicate of itself.
    val root = tmpDir("semidx_rebuild").getPath
    val target = tmpDir("semidx_rebuild_verdicts").getPath
    SemanticIndex.buildAndServe(corpus, "vid", "vd", k, iters, root)
    StreamOps.semanticIntakeTrigger(batch, 7L, root, "vid", "vd", target, t2)
    def verdicts() = spark.read.parquet(s"$target/batch=b7")
      .select("vid", "dup_of", "kept").orderBy("vid").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1),
        r.getBoolean(2))).toSeq
    val first = verdicts()
    assert(first.exists(_._3) && first.exists(!_._3),
      s"fixture must produce both dups and keeps: $first")
    val keptIds = first.filter(_._3).map(_._1)
    val rebuilt = corpus.unionByName(batch.filter(col("vid").isin(keptIds: _*)))
    val v2 = SemanticIndex.buildAndServe(rebuilt, "vid", "vd", k, iters, root)
    StreamOps.semanticIntakeTrigger(batch, 7L, root, "vid", "vd", target, t2)
    assert(verdicts() == first, "a replayed absorbed batch must skip, not re-judge")
    val dir = SemanticIndex.versionDir(root, v2)
    assert(SemanticIndex.foldedBatchIds(dir) == Set(7L),
      "the rebuild must carry the served version's committed batch")
    assert(!new java.io.File(dir, "ingest").exists(),
      "the skipped replay must not commit a segment")
  }
}
