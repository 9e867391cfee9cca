package graft

import org.scalatest.matchers.should.Matchers

import graft.io.{IndexMeta, WriterLock}

/** HDFS rename semantics on local disk: `rename` REFUSES an existing
  * destination by RETURNING FALSE (the FileSystem no-overwrite
  * contract — not an exception), which forces
  * [[IndexMeta.swapVersionPointer]]'s overwrite-put fallback on every
  * swap after the first. Registered under `graftnr://` by reflection
  * (`fs.graftnr.impl`), so it must stay top-level with a no-arg
  * constructor (the IndexMetaFsSpec convention).
  */
class GraftNoRenameFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("graftnr:///")
  override def rename(src: org.apache.hadoop.fs.Path,
                      dst: org.apache.hadoop.fs.Path): Boolean =
    if (exists(dst)) false else super.rename(src, dst)
}

/** The claim/lock layer under the persisted-index version allocator
  * (graft.io.VersionedStore, shared by the postings, vector and semantic
  * families):
  *  - the default TokenListingLock is exclusive under a REAL race on
  *    local disk (where neither `createNewFile` nor rename-into-place
  *    is exclusive — the round-12 advice finding);
  *  - a tied race may burn the dir (both lose) but never shares it,
  *    and a burned-then-released dir stays claimable;
  *  - the WriterLock seam accepts a conditional-put adapter — the
  *    deployment story for stores without consistent listing — and two
  *    writers through it cannot both claim;
  *  - the pointer swap survives concurrent readers: no blank, partial
  *    or malformed read ever surfaces as a version number.
  */
class WriterLockSpec extends SparkSpec with Matchers {

  // IndexMeta resolves FileSystems against the active session
  spark

  private def tmp(name: String): String = {
    val d = java.nio.file.Files.createTempDirectory(name).toFile
    org.apache.commons.io.FileUtils.forceDeleteOnExit(d)
    d.getPath
  }

  test("a claimed dir refuses every later claimant; old-style bare _CLAIM markers also block") {
    val root = tmp("graft_lock_seq_")
    assert(IndexMeta.claimDir(s"$root/v0001"))
    assert(!IndexMeta.claimDir(s"$root/v0001"), "a second sequential claim must lose")
    // dirs claimed by the round-12 createNewFile protocol carry a bare
    // _CLAIM marker — they must still read as taken
    IndexMeta.fs(root).mkdirs(new org.apache.hadoop.fs.Path(s"$root/v0002"))
    IndexMeta.writeString(s"$root/v0002/_CLAIM", "")
    assert(!IndexMeta.claimDir(s"$root/v0002"))
  }

  test("default lock under a real race: many rounds, never two winners") {
    val root = tmp("graft_lock_race_")
    var totalWinners = 0
    (0 until 40).foreach { round =>
      val dir = f"$root/v$round%04d"
      val winners = new java.util.concurrent.atomic.AtomicInteger(0)
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val latch = new java.util.concurrent.CountDownLatch(4)
      val threads = (0 until 4).map { _ =>
        new Thread(() => {
          latch.countDown(); latch.await()
          try { if (IndexMeta.claimDir(dir)) winners.incrementAndGet() }
          catch { case t: Throwable => errs.add(t) }
        })
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      assert(errs.isEmpty, s"claim threw: ${errs.peek()}")
      assert(winners.get() <= 1, s"round $round: ${winners.get()} writers claimed one dir")
      totalWinners += winners.get()
      // whatever happened, a FOLLOW-UP claimant is never a second owner
      if (winners.get() == 1) assert(!IndexMeta.claimDir(dir))
    }
    // liveness: ties may burn individual dirs, but not every round
    assert(totalWinners > 0, "no round produced a winner — the lock livelocked")
  }

  test("a tied race burns the dir for no one: losers release, the dir stays claimable") {
    // losers delete their token, so a dir where ALL racers lost is not
    // permanently wedged — the next (uncontended) claimant owns it
    val dir = s"${tmp("graft_lock_burn_")}/v0001"
    // simulate the tie by hand: write both tokens BEFORE either lists
    IndexMeta.fs(dir).mkdirs(new org.apache.hadoop.fs.Path(dir))
    IndexMeta.writeString(s"$dir/_CLAIM.aaa", "aaa")
    IndexMeta.writeString(s"$dir/_CLAIM.bbb", "bbb")
    // neither tokens' writer may claim ownership now
    assert(IndexMeta.listChildNames(dir).count(_.startsWith("_CLAIM")) == 2)
    assert(!IndexMeta.claimDir(dir), "a third claimant must lose against standing tokens")
    // both losers withdraw (what tryClaim does on loss) → claimable again
    IndexMeta.fs(dir).delete(new org.apache.hadoop.fs.Path(s"$dir/_CLAIM.aaa"), false)
    IndexMeta.fs(dir).delete(new org.apache.hadoop.fs.Path(s"$dir/_CLAIM.bbb"), false)
    assert(IndexMeta.claimDir(dir))
  }

  test("conditional-put adapter seam: two writers on a store without create-exclusive cannot both claim") {
    // The deployment adapter for stores that meet NEITHER TokenListingLock
    // requirement: back the claim with the store's own conditional put
    // (S3 If-None-Match, DynamoDB lock table, ZK node). Faked here with
    // a CAS map that has the real primitive's atomicity.
    object CasLock extends WriterLock {
      val claims = new java.util.concurrent.ConcurrentHashMap[String, String]()
      def tryClaim(dir: String, token: String): Boolean =
        claims.putIfAbsent(dir, token) == null
    }
    IndexMeta.withWriterLock(CasLock) {
      val winners = new java.util.concurrent.atomic.AtomicInteger(0)
      val latch = new java.util.concurrent.CountDownLatch(2)
      val threads = (0 until 2).map { _ =>
        new Thread(() => {
          latch.countDown(); latch.await()
          if (IndexMeta.claimDir("store://bucket/index/versions/v0007"))
            winners.incrementAndGet()
        })
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      winners.get() shouldBe 1
      assert(CasLock.claims.containsKey("store://bucket/index/versions/v0007"))
    }
    // the default lock is restored after the scope
    val dir = s"${tmp("graft_lock_restore_")}/v0001"
    assert(IndexMeta.claimDir(dir))
    assert(IndexMeta.listChildNames(dir).exists(_.startsWith("_CLAIM.")))
  }

  test("withClaim serializes a read-modify-write: N racing appenders, zero lost updates") {
    val root = tmp("graft_lock_mutex_")
    val lock = s"$root/_ledger.lock"
    val ledger = s"$root/ledger.txt"
    IndexMeta.writeString(ledger, "")
    // the unguarded shape loses appends (both read "", both write one
    // line); under withClaim every append lands exactly once
    val threads = (0 until 8).map(i => new Thread(() =>
      IndexMeta.withClaim(lock) {
        val cur = IndexMeta.readString(ledger).getOrElse("")
        IndexMeta.writeString(ledger, cur + s"entry-$i\n")
      }))
    threads.foreach(_.start()); threads.foreach(_.join())
    val lines = IndexMeta.readString(ledger).getOrElse("").split("\n").filter(_.nonEmpty)
    lines.sorted.toSeq shouldBe (0 until 8).map(i => s"entry-$i")
    // the claim released: the dir is claimable again
    assert(IndexMeta.claimDir(lock), "withClaim must release its claim")
    IndexMeta.deleteTree(lock)
    // a held claim times out loudly instead of proceeding unguarded
    assert(IndexMeta.claimDir(lock))
    val e = intercept[IllegalStateException](
      IndexMeta.withClaim(lock, waitMs = 150) { fail("body ran under a held claim") })
    e.getMessage should include("could not claim")
  }

  test("withClaim auto-breaks a crashed holder's stale claim; a fresh holder is never broken") {
    val root = tmp("graft_lock_stale_")
    val lock = s"$root/_ptr.lock"
    // a crashed promote: claim won, holder died before release — the
    // marker stays behind. Age it past the staleness window and the
    // next promote must proceed instead of throwing forever (round-15
    // "what's wrong #3": the manual deleteTree break, automated)
    assert(IndexMeta.claimDir(lock))
    Thread.sleep(30)
    var ran = false
    IndexMeta.withClaim(lock, waitMs = 2000, stalenessMs = 10L) { ran = true }
    assert(ran, "stale claim not broken — the crashed holder wedged the lock")
    // release happened: the dir is claimable again
    assert(IndexMeta.claimDir(lock))
    IndexMeta.deleteTree(lock)

    // liveness protection: a marker YOUNGER than the staleness window
    // is a presumed-live holder — withClaim still times out loudly
    assert(IndexMeta.claimDir(lock))
    val e2 = intercept[IllegalStateException](
      IndexMeta.withClaim(lock, waitMs = 150,
        stalenessMs = IndexMeta.DefaultClaimStalenessMs) {
        fail("body ran under a live claim")
      })
    e2.getMessage should include("could not claim")
  }

  test("heartbeat: a hold LONGER than the staleness window is never stolen") {
    // a prune pass legitimately holds its claim for minutes of
    // deleteTree at corpus scale — far past any fixed staleness window.
    // The holder's heartbeat keeps its marker fresh, so a contender
    // running the auto-break must still time out while the body runs,
    // and must succeed right after release.
    // margins sized for a loaded full-suite JVM: the heartbeat fires
    // every stalenessMs/4 = 375ms, so only a >1.1s scheduler/GC stall
    // could let the contender misread the live marker as stale
    val root = tmp("graft_lock_heartbeat_")
    val lock = s"$root/_ptr.lock"
    val released = new java.util.concurrent.CountDownLatch(1)
    val holder = new Thread(() =>
      try IndexMeta.withClaim(lock, waitMs = 10000, stalenessMs = 1500L) {
        Thread.sleep(4000) // body >> stalenessMs: only the heartbeat saves it
      } finally released.countDown())
    holder.start()
    // scheduling-proof: wait until the holder actually HOLDS (its
    // marker is visible) before aging the clock — a delayed holder
    // thread must not let the contender claim an unowned dir
    val t0 = System.currentTimeMillis()
    while (!IndexMeta.listChildNames(lock).exists(_.startsWith("_CLAIM")) &&
           System.currentTimeMillis() - t0 < 3000) Thread.sleep(10)
    Thread.sleep(2000) // un-heartbeated, the marker would now read stale
    val e = intercept[IllegalStateException](
      IndexMeta.withClaim(lock, waitMs = 500, stalenessMs = 1500L) {
        fail("a live long-held claim was stolen")
      })
    e.getMessage should include("could not claim")
    released.await()
    holder.join()
    // release happened and no final heartbeat resurrected the marker:
    // the dir is claimable immediately
    IndexMeta.withClaim(lock, waitMs = 2000, stalenessMs = 1500L) { () }
  }

  test("heartbeat survives a transient store error: one failed beat does not kill the thread") {
    // listStatus hiccups routinely on object stores; round-16 advice:
    // one IOException from a beat's listing killed the heartbeat
    // SILENTLY, so a long hold's marker aged past staleness and a
    // contender auto-broke a LIVE claim. Now a failed beat logs and the
    // next beat covers. We fail exactly the FIRST beat (targeted by
    // thread name so claims/breaks are untouched) and assert the claim
    // is still unstealable well past the staleness window.
    val root = tmp("graft_lock_flakyhb_")
    val lock = s"$root/_ptr.lock"
    val failsLeft = new java.util.concurrent.atomic.AtomicInteger(1)
    val f = new org.apache.hadoop.fs.RawLocalFileSystem {
      override def listStatus(p: org.apache.hadoop.fs.Path): Array[org.apache.hadoop.fs.FileStatus] = {
        if (Thread.currentThread().getName == "graft-claim-heartbeat" &&
            failsLeft.getAndDecrement() > 0)
          throw new java.io.IOException("injected transient listStatus failure")
        super.listStatus(p)
      }
    }
    f.initialize(java.net.URI.create("file:///"),
      spark.sparkContext.hadoopConfiguration)
    val released = new java.util.concurrent.CountDownLatch(1)
    val holder = new Thread(() =>
      try IndexMeta.withClaimVia(f, lock, waitMs = 10000, stalenessMs = 1500L) {
        Thread.sleep(4000) // beats at ~375ms; beat 1 throws, beat 2+ must refresh
      } finally released.countDown())
    holder.start()
    val t0 = System.currentTimeMillis()
    while (!IndexMeta.listChildNames(lock).exists(_.startsWith("_CLAIM")) &&
           System.currentTimeMillis() - t0 < 3000) Thread.sleep(10)
    Thread.sleep(2500) // with a DEAD heartbeat the marker would now read stale
    assert(failsLeft.get() <= 0, "the injected failure was never exercised")
    val e = intercept[IllegalStateException](
      IndexMeta.withClaimVia(f, lock, waitMs = 500, stalenessMs = 1500L) {
        fail("a live claim was stolen after one transient heartbeat error")
      })
    e.getMessage should include("could not claim")
    released.await()
    holder.join()
    IndexMeta.withClaimVia(f, lock, waitMs = 2000, stalenessMs = 1500L) { () }
  }

  test("racing contenders over a stale claim: the break never double-admits") {
    // a crashed holder's marker + N contenders arriving at once: every
    // contender may break the stale marker, but admission still goes
    // through TokenListingLock — the critical sections must serialize
    // (the mutex property of the racing-appenders test, now with the
    // auto-break in the path)
    val root = tmp("graft_lock_stalerace_")
    val lock = s"$root/_ptr.lock"
    assert(IndexMeta.claimDir(lock)) // the crashed holder
    // backdate the crashed marker well past the staleness window while
    // keeping the window itself far above the live holders' hold time —
    // the contract: staleness >> any real hold, so a LIVE holder's
    // fresh marker is never stolen even while contenders break the dead
    // one
    IndexMeta.listChildNames(lock).filter(_.startsWith("_CLAIM")).foreach { n =>
      java.nio.file.Files.setLastModifiedTime(
        java.nio.file.Paths.get(lock, n),
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() - 60000L))
    }
    val inside = new java.util.concurrent.atomic.AtomicInteger(0)
    val ran = new java.util.concurrent.atomic.AtomicInteger(0)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val latch = new java.util.concurrent.CountDownLatch(4)
    val threads = (0 until 4).map(_ => new Thread(() => {
      latch.countDown(); latch.await()
      try IndexMeta.withClaim(lock, waitMs = 10000, stalenessMs = 5000L) {
        val n = inside.incrementAndGet()
        if (n != 1) errs.add(new IllegalStateException(s"$n holders inside"))
        Thread.sleep(20)
        inside.decrementAndGet()
        ran.incrementAndGet()
      } catch { case t: Throwable => errs.add(t) }
    }))
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errs.isEmpty, s"stale-race violation: ${errs.peek()}")
    assert(ran.get() == 4, "every contender must eventually run")
  }

  test("pointer swap: round-trips, replaces in place, leaves no tmp litter") {
    val root = tmp("graft_lock_ptr_")
    IndexMeta.readVersionPointer(root) shouldBe None
    IndexMeta.swapVersionPointer(root, 3)
    IndexMeta.readVersionPointer(root) shouldBe Some(3)
    IndexMeta.swapVersionPointer(root, 12) // over an existing pointer
    IndexMeta.readVersionPointer(root) shouldBe Some(12)
    IndexMeta.swapVersionPointer(root, 10000) // 5 digits: %04d pads, never truncates
    IndexMeta.readVersionPointer(root) shouldBe Some(10000)
    assert(!IndexMeta.listChildNames(root).exists(_.contains("POINTER.tmp")),
      "the rename path must consume its tmp file")
  }

  test("a malformed pointer is retried then refused — a partial read never serves a stale version") {
    val root = tmp("graft_lock_ptrbad_")
    // 'v001' is a plausible PARTIAL read of 'v0012' under a non-atomic
    // put; parsing it would silently serve version 1
    IndexMeta.writeString(s"$root/POINTER", "v001")
    val e = intercept[IllegalStateException](IndexMeta.readVersionPointer(root))
    e.getMessage should include("v001")
    IndexMeta.writeString(s"$root/POINTER", "")
    intercept[IllegalStateException](IndexMeta.readVersionPointer(root))
      .getMessage should include("blank")
    // recovery: a full swap heals the pointer
    IndexMeta.swapVersionPointer(root, 12)
    IndexMeta.readVersionPointer(root) shouldBe Some(12)
  }

  test("rename-returns-false stores (HDFS no-overwrite contract): swaps fall back to overwrite-put, readers converge") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftnr.impl", classOf[GraftNoRenameFs].getName)
    val root = s"graftnr://${tmp("graft_lock_nr_")}"
    IndexMeta.swapVersionPointer(root, 1) // destination absent → rename path
    IndexMeta.readVersionPointer(root) shouldBe Some(1)
    IndexMeta.swapVersionPointer(root, 2) // rename returns FALSE → put fallback
    IndexMeta.readVersionPointer(root) shouldBe Some(2)
    assert(!IndexMeta.listChildNames(root).exists(_.contains("POINTER.tmp")),
      "the false branch must consume its tmp file too")
    // the fallback put truncates-then-writes: readers racing it see
    // blank/unterminated states, which the terminator + retry absorb
    val bad = new java.util.concurrent.ConcurrentLinkedQueue[Any]()
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val reader = new Thread(() => {
      while (!stop.get()) {
        try {
          val v = IndexMeta.readVersionPointer(root)
          if (!v.exists(x => x >= 2 && x <= 40)) bad.add(v)
        } catch { case t: Throwable => bad.add(t) }
      }
    })
    reader.start()
    (3 to 40).foreach(v => IndexMeta.swapVersionPointer(root, v))
    stop.set(true); reader.join()
    assert(bad.isEmpty, s"reader observed ${bad.peek()} across fallback-put swaps")
    IndexMeta.readVersionPointer(root) shouldBe Some(40)
  }

  test("a stable unterminated pointer (pre-terminator root) heals in place after the full backoff") {
    val root = tmp("graft_lock_torn_")
    // a durable root written by a pre-terminator build: well-formed,
    // no trailing newline, and no writer left to re-run a swap. The
    // reader pays the whole ~630ms in-flight window (the value could
    // still be a slow put's prefix), then upgrades the format itself.
    IndexMeta.writeString(s"$root/POINTER", "v1000")
    IndexMeta.readVersionPointer(root) shouldBe Some(1000)
    // the heal is durable: the pointer is now terminated, so the next
    // read parses immediately (no backoff, no second heal)
    IndexMeta.readString(s"$root/POINTER") shouldBe Some("v1000\n")
    val t0 = System.nanoTime()
    IndexMeta.readVersionPointer(root) shouldBe Some(1000)
    assert((System.nanoTime() - t0) / 1e6 < 300,
      "a healed pointer must read without the torn-write backoff")
  }

  test("an UNSTABLE unterminated pointer still refuses — instability proves an in-flight writer, not a legacy root") {
    val root = tmp("graft_lock_unstable_")
    IndexMeta.writeString(s"$root/POINTER", "v1000")
    // a rewriter keeps changing the unterminated content for longer
    // than the read window — healing ANY snapshot would serve a
    // version no completed swap ever committed
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val writer = new Thread(() => {
      var i = 0
      while (!stop.get()) {
        // strictly increasing: no two reads can ever observe the same
        // unterminated value, so stability can never be inferred
        IndexMeta.writeString(s"$root/POINTER", f"v${1001 + i}%04d")
        i += 1; Thread.sleep(2)
      }
    })
    writer.start()
    try intercept[IllegalStateException](IndexMeta.readVersionPointer(root))
    finally { stop.set(true); writer.join() }
  }

  test("an in-flight put (unterminated prefix on disk) is retried through to the completed value") {
    val root = tmp("graft_lock_inflight_")
    IndexMeta.writeString(s"$root/POINTER", "v1000") // torn snapshot of v10000\n
    val healer = new Thread(() => {
      Thread.sleep(30); IndexMeta.swapVersionPointer(root, 10000)
    })
    healer.start()
    // the reader's backed-off retry loop (~630ms) outlasts the in-flight window
    IndexMeta.readVersionPointer(root) shouldBe Some(10000)
    healer.join()
  }

  test("upgrading a checksummed-era root: the stale .POINTER.crc sidecar is dropped on swap") {
    val root = tmp("graft_lock_crc_")
    // a pre-raw-swap root wrote POINTER through the checksummed local FS
    IndexMeta.writeString(s"$root/POINTER", "v0001\n")
    val crc = new java.io.File(root, ".POINTER.crc")
    assert(crc.exists, "precondition: the checksummed write minted a sidecar")
    IndexMeta.swapVersionPointer(root, 2)
    assert(!crc.exists, "a raw swap over a checksummed-era pointer must drop the stale sidecar")
    // generic CHECKSUMMED reads of the path keep working — with the
    // stale sidecar left behind this is a ChecksumException
    IndexMeta.readString(s"$root/POINTER") shouldBe Some("v0002\n")
    IndexMeta.readVersionPointer(root) shouldBe Some(2)
  }

  test("concurrent readers across 50 swaps only ever observe complete versions") {
    val root = tmp("graft_lock_ptrrace_")
    IndexMeta.swapVersionPointer(root, 1000) // all versions 4-digit: any prefix is malformed, not stale
    val bad = new java.util.concurrent.ConcurrentLinkedQueue[Any]()
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val reader = new Thread(() => {
      while (!stop.get()) {
        try {
          val v = IndexMeta.readVersionPointer(root)
          if (!v.exists(x => x >= 1000 && x <= 1050)) bad.add(v)
        } catch { case t: Throwable => bad.add(t) }
      }
    })
    reader.start()
    (1001 to 1050).foreach(v => IndexMeta.swapVersionPointer(root, v))
    stop.set(true); reader.join()
    assert(bad.isEmpty, s"reader observed ${bad.peek()} during swaps")
    IndexMeta.readVersionPointer(root) shouldBe Some(1050)
  }
}
