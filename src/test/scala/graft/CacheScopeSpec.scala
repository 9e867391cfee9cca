package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerUnpersistRDD}
import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

import graft.core.CacheScope

/** The one cache lifetime rule: a scope releases exactly what its
  * persists cached, newest first, on every exit path, and nothing a
  * caller, an outer scope or another thread owns.
  */
class CacheScopeSpec extends SparkSpec {

  // distinctive expressions so CacheManager plan-matching can't alias
  // these frames with another suite's cached plans
  private def frame(tag: Int): DataFrame =
    spark.range(0, 41).selectExpr(s"id * ${9100 + tag} AS scope_$tag")

  private def cached(df: DataFrame): Boolean = df.storageLevel != StorageLevel.NONE

  test("a frame the caller cached survives the scope") {
    val df = frame(1)
    df.persist(StorageLevel.MEMORY_ONLY)
    try {
      CacheScope.run {
        assert(CacheScope.persist(df) eq df)
        df.count()
      }
      assert(df.storageLevel == StorageLevel.MEMORY_ONLY,
        "the scope released or re-leveled a caller's cache")
    } finally df.unpersist()
  }

  test("a scope releases what it cached in reverse order") {
    val unpersisted = new java.util.concurrent.LinkedBlockingQueue[Integer]()
    val listener = new SparkListener {
      override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = unpersisted.put(e.rddId)
    }
    def newIds(before: Set[Int]): Set[Int] =
      spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
    spark.sparkContext.addSparkListener(listener)
    try {
      val (idA, idB) = CacheScope.run {
        val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
        val a = CacheScope.persist(frame(2))
        a.count()
        val idA = newIds(before)
        val b = CacheScope.persist(a.selectExpr("scope_2 + 1 AS scope_2b"))
        b.count()
        (idA, newIds(before) -- idA)
      }
      assert(idA.size == 1 && idB.size == 1, s"expected one cached RDD each, got $idA / $idB")
      // the ContextCleaner may unpersist other suites' dead RDDs meanwhile
      val order = scala.collection.mutable.ArrayBuffer.empty[Int]
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (order.size < 2 && System.nanoTime() < deadline) {
        val id = unpersisted.poll(1, java.util.concurrent.TimeUnit.SECONDS)
        if (id != null && (idA ++ idB).contains(id)) order += id
      }
      assert(order == Seq(idB.head, idA.head), "the dependent frame must go first")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("a scope releases its caches when its body throws") {
    val df = frame(3)
    intercept[IllegalStateException] {
      CacheScope.run {
        CacheScope.persist(df).count()
        throw new IllegalStateException("boom")
      }
    }
    assert(!cached(df), "a throwing body left its cache behind")
  }

  test("nested scopes: the inner one releases only its own caches") {
    val (outer, early, inner) = (frame(4), frame(5), frame(9))
    CacheScope.run {
      CacheScope.persist(outer).count()
      CacheScope.persist(early).count()
      CacheScope.run {
        CacheScope.persist(inner).count()
        // a frame the OUTER scope owns can still be released early
        CacheScope.release(early)
        assert(!cached(early))
      }
      assert(!cached(inner), "the inner scope kept its cache")
      assert(cached(outer), "the inner scope released the outer scope's cache")
    }
    assert(!cached(outer))
  }

  test("release of a frame the scope does not own is a no-op") {
    val callers = frame(6)
    callers.persist()
    try CacheScope.run {
      CacheScope.persist(callers)
      CacheScope.release(callers)
      assert(cached(callers), "release evicted a caller's cache")
      val never = frame(7)
      CacheScope.release(never)
      assert(!cached(never))
    } finally callers.unpersist()
    assert(!cached(callers))
  }

  test("a thread started inside a scope does not register into it") {
    val df = frame(8)
    CacheScope.run {
      val t = new Thread(() => { CacheScope.persist(df).count(); () }, "cachescope-child")
      t.start()
      t.join(60000L)
    }
    try assert(cached(df), "the parent scope released a frame another thread cached")
    finally CacheScope.release(df)
    assert(!cached(df), "release did not end the child thread's unscoped cache")
  }
}
