package graft.io

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Pluggable mutual exclusion for [[IndexMeta.claimDir]]: claim
  * exclusive write ownership of `dir` for the writer identified by
  * `token` (unique per claim attempt). At most one CONCURRENT claimant
  * per dir may see `true`; claimants may ALL see `false` (a tied race
  * burns the candidate dir, never corrupts it — the version allocators
  * step to the next number and retry).
  *
  * The default ([[IndexMeta.TokenListingLock]]) needs only two store
  * primitives: create-a-uniquely-named-object and a listing that
  * reflects completed creates (linearizable create-then-list). HDFS and
  * local give that trivially; S3 has been strongly consistent for
  * list-after-write since 2020, so s3a qualifies too. A store WITHOUT
  * consistent listing needs a real conditional-put or lock-service
  * adapter instead — implement this trait over it and install with
  * [[IndexMeta.withWriterLock]] (WriterLockSpec demonstrates the seam
  * with a CAS-backed fake).
  */
trait WriterLock {
  def tryClaim(dir: String, token: String): Boolean
}

/** Driver-side metadata I/O for persisted-index roots — the POINTER
  * files, manifests, ingest-batch ledgers and version listings that live
  * BESIDE an index's parquet segments. Everything resolves through the
  * Hadoop FileSystem API from the path's own URI scheme, so the same
  * code addresses `file://`, `hdfs://` and `s3a://` roots — the
  * BatchStore convention ([[graft.io.BatchStore]]; reference deployment
  * surface: extract/oireachtas/io_s3.py:74-89, whose corpora live on
  * object storage).
  *
  * The FileSystem is resolved against the ACTIVE SparkSession's
  * hadoopConfiguration: Spark reads/writes the parquet segments beside
  * this metadata through exactly that configuration, so resolving the
  * metadata any other way (in particular `java.io.File`, which binds to
  * the driver's local filesystem regardless of scheme) would split-brain
  * the index — data on the cluster store, pointer on the driver's disk.
  *
  * Atomicity notes, once for every caller:
  *  - [[swapVersionPointer]] writes the new pointer to a uniquely-named
  *    temp file and renames it into place — an atomic whole-content
  *    replace on local (`rename(2)`) and a plain move on any store whose
  *    rename lands with the destination absent. Where the destination
  *    already exists, `FileSystem.rename` REFUSES the move by RETURNING
  *    FALSE rather than throwing — that is HDFS's documented
  *    no-overwrite contract (and s3a's), so on those stores every swap
  *    after the first takes the false branch. It then falls back to
  *    the small-object overwrite-put the BatchStore promote uses:
  *    atomic on object stores (one PUT), a one-`close()` window on
  *    HDFS. Readers ([[readVersionPointer]]) absorb that window two
  *    ways: the pointer is written WITH a trailing `\n` terminator and
  *    only terminated reads parse, so a torn prefix — even a
  *    well-formed one like `v1000` of `v10000\n` — reads as in-flight,
  *    and in-flight/blank/malformed reads alike are retried, never
  *    served.
  *  - [[claimDir]] delegates to the installed [[WriterLock]] (default
  *    [[TokenListingLock]] — see its scaladoc for the store
  *    requirements and the adapter seam for stores that don't meet
  *    them). It guards VERSION-DIR DISJOINTNESS: two maintenance jobs
  *    racing on one root write complete, self-consistent versions into
  *    different dirs and the last pointer swap wins — they can never
  *    interleave writes inside one dir.
  */
object IndexMeta {

  private def conf = SparkSession.active.sparkContext.hadoopConfiguration

  def fs(path: String): FileSystem = new Path(path).getFileSystem(conf)

  def exists(path: String): Boolean = fs(path).exists(new Path(path))

  // ---- explicit-FileSystem primitives: the claim/pointer machinery is
  // usable by callers that own their filesystem handle and may run with
  // NO active Spark session (BatchStore's pointer swaps) — the
  // session-resolved forms below delegate here

  def readStringVia(f: FileSystem, path: String): Option[String] = {
    val p = new Path(path)
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      try Some(new String(in.readAllBytes(), "UTF-8")) finally in.close()
    }
  }

  /** Overwrite-put `content` at `path` (create-overwrite + close). */
  def writeStringVia(f: FileSystem, path: String, content: String): Unit = {
    val out = f.create(new Path(path), true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
  }

  /** Child names of `dir`, sorted; empty when the dir is absent. A
    * FileNotFoundException from the listing ITSELF (dir vanished
    * between the exists probe and listStatus) propagates: the only
    * enumeration that legitimately races a delete is a claim listing
    * (see [[listChildNamesIfPresentVia]]) — data-bearing enumerations
    * (version allocation, fold segment ids) run under the per-root
    * intake/maintenance claim, so a mid-listing FNF there is an
    * unexpected store fault that must fail loudly, not read as an
    * empty dir.
    */
  def listChildNamesVia(f: FileSystem, dir: String): Seq[String] = {
    val p = new Path(dir)
    if (!f.exists(p)) Nil
    else f.listStatus(p).toSeq.map(_.getPath.getName).sorted
  }

  /** [[listChildNamesVia]] that ALSO treats a dir vanishing BETWEEN the
    * exists probe and the listing as absent: a claim release deletes
    * its whole lock dir ([[withClaimVia]]'s finally), so a concurrent
    * claimant's listStatus can race the delete and throw
    * FileNotFoundException — which killed the claimant instead of
    * letting it re-claim the now free dir (surfaced by WriterLockSpec's
    * racing-appenders case). A lock dir deleted mid-listing IS absent;
    * report it as such. Claim-listing call sites only — everything
    * data-bearing uses the strict variant above.
    */
  def listChildNamesIfPresentVia(f: FileSystem, dir: String): Seq[String] =
    try listChildNamesVia(f, dir)
    catch { case _: java.io.FileNotFoundException => Nil }

  def deleteTreeVia(f: FileSystem, path: String): Boolean =
    f.delete(new Path(path), true)

  def readString(path: String): Option[String] = readStringVia(fs(path), path)

  /** Overwrite-put `content` at `path` (create-overwrite + close). */
  def writeString(path: String, content: String): Unit =
    writeStringVia(fs(path), path, content)

  /** Child names of `dir`, sorted; empty when the dir is absent. */
  def listChildNames(dir: String): Seq[String] = listChildNamesVia(fs(dir), dir)

  /** Recursively delete `path`; false when it was already absent. The
    * retention-GC primitive ([[VersionedStore.pruneVersions]]) — callers
    * own the which-dirs-are-dead decision.
    */
  def deleteTree(path: String): Boolean =
    fs(path).delete(new Path(path), true)

  /** The default [[WriterLock]]: unique-token claim files plus an
    * alone-or-lose listing check.
    *
    * `FileSystem.createNewFile` looks atomic but is not — Hadoop
    * implements it as exists-check-then-create, and RawLocalFileSystem
    * opens a plain `FileOutputStream` (no `O_EXCL`), so two racing
    * writers can both "create" the same marker on `file://` roots; nor
    * is rename-into-place exclusive there (`rename(2)` silently
    * REPLACES an existing destination). This protocol uses neither as
    * an exclusivity primitive. Each claimant writes its token to a
    * file whose NAME embeds the token (never contended), then lists:
    * it owns the dir only if its claim file is the ONLY one visible.
    * For two claimants to both win, each would have to complete its
    * listing before the other's create became visible — impossible
    * when listings reflect completed creates (the documented store
    * requirement; see [[WriterLock]]). A tied race can make BOTH lose;
    * losers delete their token (so an unowned dir can still be claimed
    * later) and the allocators step to the next version number.
    */
  object TokenListingLock extends WriterLock {
    def tryClaim(dir: String, token: String): Boolean =
      tokenListingClaim(fs(dir), dir, token)
  }

  private def tokenListingClaim(f: FileSystem, dir: String, token: String): Boolean = {
    f.mkdirs(new Path(dir))
    def claims(): Seq[String] =
      listChildNamesIfPresentVia(f, dir).filter(_.startsWith("_CLAIM"))
    if (claims().nonEmpty) return false // an established claim
    val mine = s"_CLAIM.$token"
    writeStringVia(f, s"${dir.stripSuffix("/")}/$mine", token)
    val alone = claims() == Seq(mine)
    if (!alone) f.delete(new Path(dir, mine), false)
    alone
  }

  @volatile private var writerLock: WriterLock = TokenListingLock

  /** Run `body` with `l` installed as the claim lock (restored after) —
    * the deployment seam for stores that don't meet
    * [[TokenListingLock]]'s listing-consistency requirement, and the
    * test seam for WriterLockSpec's fakes. Installation is process-wide
    * (claims must be globally visible by definition); suites run
    * sequentially in the forked test JVM.
    */
  def withWriterLock[T](l: WriterLock)(body: => T): T = {
    val prev = writerLock
    writerLock = l
    try body finally writerLock = prev
  }

  /** Claim a fresh directory for exclusive writing (parent mkdirs +
    * [[WriterLock.tryClaim]] with a per-attempt unique token). Returns
    * false when another writer owns it — or when a tied race burned it,
    * in which case neither racer owns it and both step on.
    */
  def claimDir(dir: String): Boolean =
    writerLock.tryClaim(dir, java.util.UUID.randomUUID().toString)

  /** [[claimDir]] over an explicit FileSystem: the default
    * token-listing protocol routes through `f`; a CUSTOM installed
    * [[WriterLock]] still takes precedence (it owns its own store
    * access and ignores `f`).
    */
  private def claimDirVia(f: FileSystem, dir: String): Boolean =
    writerLock match {
      case TokenListingLock =>
        tokenListingClaim(f, dir, java.util.UUID.randomUUID().toString)
      case other => other.tryClaim(dir, java.util.UUID.randomUUID().toString)
    }

  /** Claim markers younger than this always survive [[withClaim]]'s
    * auto-break. A LIVE holder's marker is kept fresh by the holder's
    * heartbeat (an overwrite-put every stalenessMs/4 — mtime-portable,
    * object stores included), so staleness only ever collects a marker
    * whose OWNING PROCESS died: hold duration does not matter (a prune
    * pass legitimately holds for minutes of deleteTree at corpus
    * scale). 15 minutes bounds how long a crashed holder can wedge the
    * pointer while staying ~200 heartbeats above the refresh cadence.
    *
    * Clock-skew tolerance: staleness compares the CONTENDER's local
    * `System.currentTimeMillis()` against the marker's STORE-side
    * mtime (server time on S3A/GCS; local time on file://). The safety
    * margin is therefore `stalenessMs - beatIntervalMs` = 15min -
    * 3.75min ≈ **11 minutes of client/store clock skew** before a
    * contender could mistake a live, beating holder's marker for
    * stale. NTP-disciplined fleets sit under one second of skew;
    * clusters running without time sync must either fix that or raise
    * `stalenessMs` so the margin covers their worst skew. (Skew cuts
    * both ways: a slow contender clock instead DELAYS a legitimate
    * break of a crashed holder's marker — safe, just slower.)
    */
  val DefaultClaimStalenessMs: Long = 15L * 60 * 1000

  /** Wait budget for [[withIntakeClaim]]: staleness + 10 minutes, so a
    * crashed holder's marker ALWAYS auto-breaks (at stalenessMs) before
    * a live contender gives up — a waitMs below stalenessMs would fail
    * the contender while the break it is waiting for is still in the
    * future (a streaming trigger would then kill its query over a
    * marker that was five minutes from collecting itself).
    */
  val IntakeClaimWaitMs: Long = DefaultClaimStalenessMs + 10L * 60 * 1000

  /** The per-root intake/maintenance mutex for a versioned index
    * family (vector / postings / semantic): a streaming trigger's
    * resolve-pointer→judge/encode→commit-segment window and any
    * maintenance pass's enumerate→rewrite→swap (fold, retrain, prune)
    * must not interleave — a fold that enumerated segments before a
    * trigger's commit but swapped after it silently drops that batch's
    * rows from every future version while the stream checkpoint
    * commits (the round-17 SemanticIndex race, present identically in
    * any read-enumerate-swap maintenance). One claim dir per root;
    * the held claim heartbeats, so legitimately long holds (a
    * corpus-scale fold rewrite) never age out. Uncontended cost: two
    * small FS metadata ops.
    */
  def withIntakeClaim[T](root: String)(body: => T): T =
    withClaim(s"$root/_claims/intake", waitMs = IntakeClaimWaitMs)(body)

  private lazy val log = org.slf4j.LoggerFactory.getLogger("graft.IndexMeta")

  /** Break claim markers in `dir` older than `stalenessMs` (by marker
    * mtime) — a crashed holder's leftover. A live claimant's marker is
    * always fresh, so this never steals a held claim; a marker deleted
    * concurrently by another contender's break is fine (delete of a
    * missing file is a no-op).
    */
  private def breakStaleClaims(f: FileSystem, dir: String, stalenessMs: Long): Unit = {
    val now = System.currentTimeMillis()
    listChildNamesIfPresentVia(f, dir).filter(_.startsWith("_CLAIM")).foreach { name =>
      val marker = new Path(dir, name)
      val stale =
        try now - f.getFileStatus(marker).getModificationTime >= stalenessMs
        catch { case _: java.io.FileNotFoundException => false }
      if (stale) {
        log.warn(s"breaking stale claim $name on $dir (older than " +
          s"${stalenessMs}ms — a crashed holder's leftover marker)")
        f.delete(marker, false)
      }
    }
  }

  /** Refresh every claim marker in `dir` (overwrite-put of its own
    * content — mtime update that works on object stores too, where
    * setTimes is a no-op). The only markers present while a holder
    * beats are its own plus, transiently, a losing contender's (which
    * that loser deletes regardless); refreshing either is harmless.
    */
  private def touchClaims(f: FileSystem, dir: String): Unit =
    listChildNamesIfPresentVia(f, dir).filter(_.startsWith("_CLAIM")).foreach { name =>
      val p = s"${dir.stripSuffix("/")}/$name"
      try writeStringVia(f, p, readStringVia(f, p).getOrElse(name))
      catch { case _: java.io.IOException => () } // beat lost; next one covers
    }

  /** Run `body` holding an exclusive claim on `dir` — the mutex for
    * metadata read-modify-writes (a pointer put plus its
    * retirement-ledger append; a prune pass holds across its whole GC
    * walk) that would otherwise interleave and silently drop a
    * concurrent writer's entry. Spins on [[claimDir]] with capped
    * backoff up to `waitMs` (ties burn the claim for both racers, so
    * retry is part of the protocol), releases by deleting the claim
    * dir.
    *
    * Crashed-holder recovery: a holder that DIES leaves its claim file
    * behind; once the marker ages past `stalenessMs` the next
    * contender breaks it with a loud log and proceeds — a crashed
    * promote can no longer wedge every future promote of the pointer
    * until a human deletes the dir (the round-15 manual-break
    * documentation, automated). A LIVE holder is never broken no
    * matter how long its body runs: a daemon heartbeat refreshes the
    * marker every stalenessMs/4 while the body executes (a prune's
    * minutes-long deleteTree walk at corpus scale would otherwise age
    * past any fixed window and hand the claim to a concurrent promote
    * mid-GC — the exact interleaving the claim exists to prevent), and
    * the heartbeat is joined BEFORE release so a final in-flight beat
    * can never recreate the marker after the delete.
    */
  def withClaim[T](dir: String, waitMs: Long = 30000L,
      stalenessMs: Long = DefaultClaimStalenessMs)(body: => T): T =
    withClaimVia(fs(dir), dir, waitMs, stalenessMs)(body)

  /** [[withClaim]] over an explicit FileSystem — for holders that own
    * their filesystem handle and may run with no active Spark session
    * (BatchStore pointer swaps).
    */
  def withClaimVia[T](f: FileSystem, dir: String, waitMs: Long = 30000L,
      stalenessMs: Long = DefaultClaimStalenessMs)(body: => T): T = {
    val deadline = System.nanoTime() + waitMs * 1000000L
    var backoff = 5L
    var claimed = claimDirVia(f, dir)
    while (!claimed && System.nanoTime() < deadline) {
      breakStaleClaims(f, dir, stalenessMs)
      Thread.sleep(backoff)
      backoff = math.min(backoff * 2, 200L)
      claimed = claimDirVia(f, dir)
    }
    if (!claimed) throw new IllegalStateException(
      s"could not claim $dir within ${waitMs}ms — the holder's claim " +
        s"marker is younger than ${stalenessMs}ms, so it is presumed " +
        "live (held claims heartbeat); a crashed holder's marker " +
        "auto-breaks once it ages past the staleness window")
    val hb = new Thread(() => {
      try {
        while (true) {
          Thread.sleep(math.max(stalenessMs / 4, 10L))
          // One transient store error (listStatus on an object store
          // hiccups routinely) must not kill the heartbeat for the rest
          // of a minutes-long hold — a silently-dead heartbeat lets the
          // marker age past stalenessMs and a contender auto-break a
          // LIVE claim. Log and keep beating; InterruptedException (the
          // release signal) still exits via the outer catch.
          try touchClaims(f, dir)
          catch {
            case _: InterruptedException => throw new InterruptedException
            case scala.util.control.NonFatal(e) =>
              log.warn(s"claim heartbeat on $dir failed transiently " +
                s"(${e.getClass.getSimpleName}: ${e.getMessage}); next beat retries")
          }
        }
      } catch { case _: InterruptedException => () }
    }, "graft-claim-heartbeat")
    hb.setDaemon(true)
    hb.start()
    try body finally {
      hb.interrupt()
      // Bounded join: a beat wedged in non-interruptible FS IO must not
      // hang release forever. After the timeout the delete proceeds; a
      // straggler beat can then recreate the marker, but it is a daemon
      // thread whose NEXT iteration dies on interrupt, and the recreated
      // marker ages out via the staleness break — degraded, not wedged.
      hb.join(10000L)
      if (hb.isAlive)
        log.warn(s"claim heartbeat on $dir did not stop within 10s of " +
          "interrupt (wedged in FS IO?); releasing anyway — a straggler " +
          "beat's recreated marker auto-breaks after the staleness window")
      deleteTreeVia(f, dir); ()
    }
  }

  /** The pointer is the ONE metadata object overwritten while
    * concurrently read. On ChecksumFileSystem schemes (plain `file://`)
    * the data file and its `.crc` sidecar move in two SEPARATE renames,
    * so a reader racing a swap can pair new data with the old checksum
    * and fail the read mid-swap; resolving the pointer through the raw
    * filesystem keeps the swap one atomic `rename(2)` with no sidecar
    * to tear. Every other metadata object is write-once-per-path and
    * stays checksummed.
    */
  private def pointerFs(path: String): FileSystem = fs(path) match {
    case c: org.apache.hadoop.fs.ChecksumFileSystem => c.getRawFileSystem
    case other => other
  }

  private def readPointerString(path: String): Option[String] = {
    val f = pointerFs(path)
    val p = new Path(path)
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      try Some(new String(in.readAllBytes(), "UTF-8")) finally in.close()
    }
  }

  /** Read a `vNNNN\n` version pointer at `root/POINTER`. ONLY a
    * terminated read parses: the trailing `\n` is the completeness
    * witness, so a reader racing an in-flight overwrite-put on HDFS
    * that sees nothing, a malformed fragment, or a WELL-FORMED partial
    * prefix (`v1000` of `v10000\n` — which an unterminated format
    * would silently serve as stale version 1000) treats the read as
    * in-flight and retries.
    *
    * A well-formed-but-unterminated value that stays IDENTICAL through
    * the whole retry window is not in-flight — it is a durable root
    * written by a pre-terminator build (or a writer that crashed
    * mid-put). Those HEAL in place: the value is re-put WITH the
    * terminator via [[swapVersionPointer]] and served, instead of
    * throwing until a human re-runs a swap (SearchOps postings /
    * VectorIndex roots persisted by earlier builds have no writer to
    * do it). The heal never invents a version — it serves exactly what
    * the pre-terminator format would have served; for a crashed
    * mid-put the prefix is a once-valid version, a stale-but-committed
    * read where the intended value is unrecoverable either way. The
    * heal deliberately pays the FULL ~630ms backoff first (a genuinely
    * in-flight put on a slow store must get the whole window to
    * complete, or the heal would re-introduce the stale-prefix serve
    * the terminator exists to prevent), and runs at most once per
    * root: the healed pointer is terminated, so later reads parse
    * immediately. Unparseable or UNSTABLE content still throws after
    * the backoff rather than silently serving anything.
    */
  def readVersionPointer(root: String): Option[Int] = {
    val path = s"${root.stripSuffix("/")}/POINTER"
    var attempt = 0
    var seen: String = null // last well-formed unterminated observation
    var stable = true       // every unterminated observation identical
    while (true) {
      readPointerString(path) match {
        case None => return None
        case Some(s) if s.matches("v\\d{4,}\n") =>
          return Some(s.trim.stripPrefix("v").toInt)
        // backed-off retries (~630ms total): the fallback put's
        // truncate-to-close window scales with store latency, and a
        // FIXED cadence can lock step with a writer swapping in a loop
        case Some(s) if attempt < 6 =>
          if (s.matches("v\\d{4,}")) {
            if (seen != null && seen != s) stable = false
            seen = s
          } else stable = false
          Thread.sleep(10L << attempt); attempt += 1
        case Some(s) if s.matches("v\\d{4,}") && s == seen && stable =>
          // identical through the whole window: legacy/crashed root —
          // one-time in-place format upgrade, then serve it
          val v = s.stripPrefix("v").toInt
          swapVersionPointer(root, v)
          return Some(v)
        case Some(s) =>
          throw new IllegalStateException(
            s"corrupt pointer at $path: " +
              (if (s.trim.isEmpty) "(blank)" else s.trim))
      }
    }
    None // unreachable
  }

  /** Atomically (see object scaladoc) point readers at version `v`:
    * tmp write + rename-into-place where the store allows a
    * replacing rename, the BatchStore overwrite-put where
    * `FileSystem.rename` RETURNS FALSE on an existing destination
    * (HDFS/s3a no-overwrite semantics — the false return is the
    * contract, not an error). The content carries a trailing `\n`
    * terminator so [[readVersionPointer]] can tell a complete pointer
    * from a torn fallback-put prefix.
    */
  def swapVersionPointer(root: String, v: Int): Unit = {
    val f = pointerFs(root)
    val ptr = new Path(s"${root.stripSuffix("/")}/POINTER")
    val content = f"v$v%04d\n".getBytes("UTF-8")
    // roots whose pointer predates raw-FS swaps carry a checksummed
    // .POINTER.crc sidecar; the first raw swap would leave it
    // permanently stale (any later checksummed read of POINTER →
    // ChecksumException), so drop it here, once, before writing
    fs(root) match {
      case c: org.apache.hadoop.fs.ChecksumFileSystem =>
        val crc = c.getChecksumFile(ptr)
        if (c.getRawFileSystem.exists(crc)) c.getRawFileSystem.delete(crc, false)
      case _ => ()
    }
    val tmp = new Path(s"${root.stripSuffix("/")}/.POINTER.tmp." +
      java.util.UUID.randomUUID().toString.take(8))
    val out = f.create(tmp, true)
    try out.write(content) finally out.close()
    val renamed =
      try f.rename(tmp, ptr)
      catch { case _: java.io.IOException => false }
    if (!renamed) {
      f.delete(tmp, false)
      val put = f.create(ptr, true)
      try put.write(content) finally put.close()
    }
  }
}
