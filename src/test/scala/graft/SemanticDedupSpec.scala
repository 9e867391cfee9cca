package graft

import org.apache.spark.sql.functions._

import graft.operators.SimilarityOps

/** SemDeDup-style semantic dedup: trained-cell restriction, exact
  * integer-cosine judgment, min-id-wins greedy keeps.
  */
class SemanticDedupSpec extends SparkSpec {
  import spark.implicits._

  private def blob(center: Array[Double], i: Int): Seq[Double] =
    center.toIndexedSeq.zipWithIndex.map { case (c, d) => c + 0.01 * ((i * 7 + d) % 5) }
  private val centers = Seq(
    Array(10.0, 0.0, 0.0, 0.0),
    Array(0.0, 10.0, 0.0, 0.0),
    Array(0.0, 0.0, 10.0, 0.0))

  // 30 base vectors interleaving three tight separable blobs (first-k
  // seeding starts one seed per blob; jitter 0.01-0.05 keeps every
  // same-blob cosine ≈ 1), plus planted copies: id 100+i duplicates
  // vector i scaled 1.001 for every i % 10 == 0 — same direction, same
  // cell
  private lazy val base = (0 until 30).map(i => (i.toLong, blob(centers(i % 3), i)))
  private lazy val planted = base.filter(_._1 % 10 == 0)
    .map { case (id, v) => (id + 100L, v.map(_ * 1.001)) }
  private lazy val vecs = (base ++ planted).toDF("vec_id", "embedding")

  // blob index of any fixture id (planted ids mirror their source's blob)
  private def blobOf(vid: Long): Long = (if (vid >= 100) vid - 100 else vid) % 3

  private lazy val result =
    SimilarityOps.semanticDedup(vecs, "vec_id", "embedding", k = 3, maxIter = 10, t2 = 0.81)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2), r.getBoolean(3))).toSeq

  test("min-id-wins: each blob keeps exactly its lowest id, everything else points at it") {
    assert(result.size == base.size + planted.size)
    val keptIds = result.filter(_._4).map(_._1).sorted
    assert(keptIds == Seq(0L, 1L, 2L), "one survivor per blob, the lowest id")
    result.filterNot(_._4).foreach { case (vid, _, dupOf, _) =>
      assert(dupOf == blobOf(vid),
        s"dropped $vid must point at its blob's lowest id ${blobOf(vid)}, got $dupOf")
    }
  }

  test("planted copies land in their source's trained cell and are dropped") {
    val byId = result.map(t => t._1 -> t).toMap
    planted.foreach { case (pid, _) =>
      assert(!byId(pid)._4, s"planted copy $pid must be dropped")
      assert(byId(pid)._2 == byId(pid - 100L)._2, "copy and source share a trained cell")
    }
  }

  test("high-cosine pairs in DIFFERENT cells are not compared (the SemDeDup contract)") {
    // same direction as blob 0, 40x magnitude: cosine = 1 but L2-far.
    // ids 0..3 are the k=4 seeds (three blob reps + the far vector), so
    // the far vector anchors its own cell throughout training and the
    // within-cell judge never sees the (0, 3) pair — the deliberate
    // trade the clustering restriction makes (a brute pass would drop 3)
    val reps = centers.zipWithIndex.map { case (c, b) => (b.toLong, c.toIndexedSeq) }
    val far = (3L, centers(0).toIndexedSeq.map(_ * 40.0))
    val members = (0 until 27).map(i => ((i + 4).toLong, blob(centers(i % 3), i)))
    val vecs2 = (reps ++ Seq(far) ++ members).toDF("vec_id", "embedding")
    val labeled = SimilarityOps.semanticDedup(vecs2, "vec_id", "embedding",
      k = 4, maxIter = 10, t2 = 0.81)
    val r = labeled.filter(col("vid") === 3L).collect().head
    assert(r.getBoolean(3), "cross-cell near-dup must survive by construction")
  }

  test("cell cap: oversized cells stop judging (members kept); a wide cap is the identity") {
    // cap 5 < every blob-cell width (10-13) → the pair legs see nothing
    val capped = SimilarityOps.semanticDedup(vecs, "vec_id", "embedding",
        k = 3, maxIter = 10, t2 = 0.81, maxCell = 5)
      .collect()
    assert(capped.length == base.size + planted.size)
    assert(capped.forall(_.getBoolean(3)), "capped cells judge nothing — all kept")
    // a cap above every width reproduces the uncapped judgment exactly
    val wide = SimilarityOps.semanticDedup(vecs, "vec_id", "embedding",
        k = 3, maxIter = 10, t2 = 0.81, maxCell = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2), r.getBoolean(3))).toSeq
    assert(wide.sortBy(_._1) == result.sortBy(_._1))
  }

  test("capped run caches the width table for its drop-stats action only") {
    // the drop-stats collect inside boundCells runs at CONSTRUCTION time
    // over the persisted (model-sized) width table, which is released
    // before the operator returns: the keep-list then recomputes its
    // k-row count off the still-cached labeled frame (the q143/q144 plan
    // pins), and no width cache outlives the call
    import org.apache.spark.scheduler.{SparkListener, SparkListenerUnpersistRDD}
    val unpersisted = new java.util.concurrent.LinkedBlockingQueue[Integer]()
    val listener = new SparkListener {
      override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = unpersisted.put(e.rddId)
    }
    spark.sparkContext.addSparkListener(listener)
    try graft.core.CacheScope.run {
      val floor = spark.sparkContext.emptyRDD[Int].id
      val res = SimilarityOps.semanticDedup(vecs, "vec_id", "embedding",
        k = 3, maxIter = 10, t2 = 0.81, maxCell = 5)
      val live = spark.sparkContext.getPersistentRDDs.keySet
      // the release was posted before the call returned; wait for its delivery
      var released = Option.empty[Int]
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (released.isEmpty && System.nanoTime() < deadline)
        released = Option(unpersisted.poll(1, java.util.concurrent.TimeUnit.SECONDS))
          .map(_.intValue).filter(_ > floor)
      assert(released.isDefined, "the width table was never cached, or outlived the call")
      assert(!live.contains(released.get), "width table still cached after the call returned")
      assert(res.collect().forall(_.getBoolean(3)), "cap 5 judges nothing — all kept")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("cacheQuantized (the expensive-upstream stance) changes nothing in the judgment") {
    // round 19: q151/q152 persist the quantized frame so their chunk+
    // encode upstream derives once instead of once per training pass —
    // the verdicts must be bit-identical to the default path
    val got = graft.core.CacheScope.run {
      SimilarityOps.semanticDedup(vecs, "vec_id", "embedding", k = 3, maxIter = 10,
          t2 = 0.81, cacheQuantized = true)
        .collect().map(r => (r.getLong(0), r.getLong(1),
          if (r.isNullAt(2)) -1L else r.getLong(2), r.getBoolean(3))).toSeq
    }
    assert(got.sortBy(_._1) == result.sortBy(_._1))
  }

  test("judgment is deterministic under repartitioning") {
    val r2 = SimilarityOps.semanticDedup(vecs.repartition(7), "vec_id", "embedding",
        k = 3, maxIter = 10, t2 = 0.81)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2), r.getBoolean(3))).toSeq
    assert(r2.sortBy(_._1) == result.sortBy(_._1))
  }
}
