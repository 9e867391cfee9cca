package graft.io

import org.apache.spark.sql.DataFrame

/** The versioning discipline every pointer-published index family
  * shares — postings/BM25 ([[graft.operators.SearchOps]]), vector
  * IVF-PQ ([[graft.operators.VectorIndex]]), semantic dedup
  * ([[graft.operators.SemanticIndex]]) and the corpus-dedup index
  * ([[graft.operators.DedupOps]]). A family supplies only its
  * payload: what a version holds, how to write/read/fold it, its
  * tombstone rules, and [[exists]] (when a version dir is complete).
  *
  * Layout under a root:
  *   - `POINTER` — the served version (`vNNNN\n`, atomic swap; see
  *     [[IndexMeta.swapVersionPointer]] for the per-store semantics).
  *   - `versions/vNNNN/` — one immutable version (`%04d` pads, never
  *     truncates: v10000 lists as `v10000`).
  *   - `versions/vNNNN/ingest/b<id>/` — one committed ingest segment per
  *     streaming trigger, complete-or-absent (`_SUCCESS`).
  *   - `versions/vNNNN/folded_batches.txt` — the carried ledger of batch
  *     ids a fold or rebuild already absorbed.
  *   - `_claims/intake/` — the per-root intake/maintenance mutex.
  *   - `intake_owner` — the one streaming query that feeds the root
  *     through [[intakeTrigger]], written on its first trigger.
  *
  * Invariants:
  *  1. Immutability is the recovery story. Every mutation writes a NEW
  *     version dir and publishes it with one pointer swap; a crash at
  *     any earlier point leaves the old version serving and the new dir
  *     inert, and re-running the mutation is the recovery. [[swapPointer]]
  *     refuses a target [[exists]] reports incomplete.
  *  2. Allocation is claim-based, never pointer + 1. The next number is
  *     max existing dir + 1 (a torn dir is never adopted or overwritten),
  *     claimed atomically through [[IndexMeta.claimDir]] (a
  *     [[WriterLock]]), stepping past numbers a racing writer got to
  *     first. Racing writers produce disjoint, self-consistent versions;
  *     the last swap wins and the loser re-runs on top of it.
  *  3. Replays are ledger-mediated no-ops. A segment's `_SUCCESS` or its
  *     id in the carried ledger ([[batchApplied]]) makes a replayed
  *     trigger — foreachBatch re-run, checkpoint restart, replay across
  *     a swap — converge instead of double-count. [[publish]] carries
  *     the ledger INTO the new version (never referenced from an old
  *     one), so retention GC cannot resurrect a replay. Segments key
  *     on the raw micro-batch id, so ownership is the store's too: the
  *     root records the one streaming query that feeds it, and any other
  *     query's trigger fails instead of finding its batch ids applied
  *     and skipping them ([[intakeTrigger]]).
  *  4. Intake and maintenance serialize on one per-root claim
  *     ([[withIntakeClaim]]). A trigger's resolve→write→commit window and
  *     every publish or prune hold it, taken exactly once per mutation
  *     (the claim is not reentrant: a nested take waits out the whole
  *     budget). Without it a fold that enumerated segments before a
  *     trigger's commit but swapped after it would drop that batch from
  *     every future version while the stream checkpoint commits. The
  *     claim heartbeats while held and a crashed holder's marker
  *     auto-breaks (see [[IndexMeta.withIntakeClaim]]).
  *
  * Readers resolve the pointer once per plan, so a swap changes what the
  * NEXT query reads, never a running scan. All metadata goes through
  * [[IndexMeta]], so roots may live on file://, hdfs:// or s3a://.
  */
trait VersionedStore {

  /** Family name for error messages. */
  protected def family: String

  /** True when the version written at `dir` is complete. */
  def exists(dir: String): Boolean

  /** Whether [[publish]] carries the ingest-segment ledger. */
  protected def segmentLedger: Boolean = true

  /** Root-relative paths version `v`'s payload references outside its own
    * dir; [[pruneVersions]] keeps the versions they live in.
    */
  protected def references(root: String, v: Int): Seq[String] = Nil

  private def relativeDir(v: Int): String = f"versions/v$v%04d"
  private val VersionName = "v(\\d{4,})".r
  private val VersionRef = "versions/v(\\d{4,})/.*".r

  def versionDir(root: String, v: Int): String = s"$root/${relativeDir(v)}"

  /** Root-relative path of a file or dir inside version `v`. */
  protected def inVersion(v: Int, rel: String): String = s"${relativeDir(v)}/$rel"

  /** The served version number, if a pointer has ever been swapped in. */
  def currentVersion(root: String): Option[Int] = IndexMeta.readVersionPointer(root)

  def servedVersion(root: String): Int = currentVersion(root).getOrElse(
    throw new IllegalStateException(s"no served $family version at $root"))

  def withIntakeClaim[T](root: String)(body: => T): T =
    IndexMeta.withIntakeClaim(root)(body)

  /** Hold the intake claim and run `body` on the served version's dir. */
  def withServedDir[T](root: String)(body: String => T): T =
    withIntakeClaim(root)(body(versionDir(root, servedVersion(root))))

  /** The streaming query that feeds `root` through [[intakeTrigger]]. */
  private[graft] def intakeOwner(root: String): Option[String] =
    IndexMeta.readString(s"$root/intake_owner")

  /** One trigger of streaming query `queryId` into `root`: under the
    * intake claim, resolve the served version, record `queryId` as the
    * root's owner on its first trigger (refusing a root that already
    * holds appended batches) or refuse any other query, skip batch
    * `batchId` if it is already applied, and otherwise run `write` on the
    * served version's dir.
    */
  private[graft] def intakeTrigger(root: String, queryId: String, batchId: Long)(
      write: String => Unit): Unit =
    withServedDir(root) { dir =>
      intakeOwner(root) match {
        case Some(q) => if (q != queryId) throw new IllegalStateException(
          s"$family at $root is fed by streaming query $q; query $queryId " +
            "would skip every batch id that query already applied")
        case None =>
          if (committedSegments(dir).nonEmpty || foldedBatchIds(dir).nonEmpty)
            throw new IllegalStateException(s"$family at $root already holds appended " +
              s"batches; streaming query $queryId would skip those whose ids it reuses")
          IndexMeta.writeString(s"$root/intake_owner", queryId)
      }
      if (!batchApplied(dir, batchId)) write(dir)
    }

  /** Point readers at version `v`; refuses a torn target. */
  def swapPointer(root: String, v: Int): Unit = {
    require(exists(versionDir(root, v)),
      s"refusing to swap pointer to incomplete $family version v$v at $root")
    IndexMeta.swapVersionPointer(root, v)
  }

  private def versionNumbers(root: String): Seq[Int] =
    IndexMeta.listChildNames(s"$root/versions").collect { case VersionName(n) => n.toInt }

  private def claimNextVersion(root: String): Int = {
    var v = (versionNumbers(root) :+ 0).max + 1
    var attempts = 0
    while (!IndexMeta.claimDir(versionDir(root, v))) {
      v += 1; attempts += 1
      require(attempts < 1000,
        s"could not claim a $family version dir under $root after 1000 tries")
    }
    v
  }

  /** The one publish step: take the intake claim, claim the next version,
    * let `write(servedDir, v)` write it, carry the ledger, swap. Returns
    * the new version.
    */
  def publish(root: String)(write: (Option[String], Int) => Unit): Int =
    withIntakeClaim(root) {
      val from = currentVersion(root).map(versionDir(root, _))
      publishClaimed(root, from)(write(from, _))
    }

  /** [[publish]] from a version that must already be served (fold, delete). */
  def publishFromServed(root: String)(write: (String, Int) => Unit): Int =
    withServedDir(root)(from => publishClaimed(root, Some(from))(write(from, _)))

  /** [[publish]] for a caller already holding the intake claim — one that
    * decides under the claim whether to publish at all.
    */
  private[graft] def publishClaimed(root: String, from: Option[String])(
      write: Int => Unit): Int = {
    val v = claimNextVersion(root)
    write(v)
    if (segmentLedger) from.foreach(f => IndexMeta.writeString(
      s"${versionDir(root, v)}/folded_batches.txt",
      (foldedBatchIds(f) ++ committedSegmentIds(f)).toSeq.sorted.mkString("", "\n", "\n")))
    swapPointer(root, v)
    v
  }

  // ---- ingest segments and the carried ledger --------------------------

  private[graft] def segmentDir(dir: String, batchId: Long): String = s"$dir/ingest/b$batchId"

  /** Names (`b<id>`) of the committed segments under `dir/ingest`; torn
    * ones (no `_SUCCESS`) are invisible.
    */
  private[graft] def committedSegments(dir: String): Seq[String] =
    IndexMeta.listChildNames(s"$dir/ingest")
      .filter(n => IndexMeta.exists(s"$dir/ingest/$n/_SUCCESS"))

  private def committedSegmentIds(dir: String): Set[Long] =
    committedSegments(dir).map(_.stripPrefix("b").toLong).toSet

  /** `base` plus every committed segment, each loaded by `read` and
    * unioned — Spark's partition discovery refuses mixed roots in one
    * read.
    */
  protected def withCommittedSegments(dir: String, base: DataFrame)(
      read: String => DataFrame): DataFrame =
    committedSegments(dir).foldLeft(base)((acc, n) =>
      acc.unionByName(read(s"$dir/ingest/$n")))

  /** Batch ids a fold or rebuild already absorbed into this version (or
    * an ancestor).
    */
  def foldedBatchIds(dir: String): Set[Long] =
    IndexMeta.readString(s"$dir/folded_batches.txt")
      .map(_.linesIterator.map(_.trim).filter(_.nonEmpty).map(_.toLong).toSet)
      .getOrElse(Set.empty)

  /** Whether batch `batchId` is already applied to this version: its
    * segment committed here, or absorbed by a fold (the ledger).
    */
  def batchApplied(dir: String, batchId: Long): Boolean =
    IndexMeta.exists(s"${segmentDir(dir, batchId)}/_SUCCESS") ||
      foldedBatchIds(dir).contains(batchId)

  // ---- retention -------------------------------------------------------

  /** Retention GC: delete version dirs nothing can reach. Kept: the
    * served version and everything above it (an in-flight or crashed
    * writer owns those), the `keepLatest - 1` newest superseded versions
    * (grace for readers whose plans pinned files before the last swap),
    * and every version a kept one [[references]]. Holds the intake claim
    * for the whole walk, so it never deletes the version a live trigger
    * resolved. The default keepLatest=2 is for plain batch readers, which
    * resolve the pointer without the claim and may still be scanning the
    * superseded dir when a post-fold prune runs; pass 1 for full reclaim.
    * Returns the pruned version numbers.
    */
  def pruneVersions(root: String, keepLatest: Int = 2): Seq[Int] = {
    require(keepLatest >= 1, "keepLatest must be >= 1")
    withIntakeClaim(root) {
      val served = servedVersion(root)
      val all = versionNumbers(root)
      val base = all.filter(_ >= served).toSet ++
        all.filter(_ < served).sorted.takeRight(keepLatest - 1)
      val keep = base ++ base.toSeq.flatMap(references(root, _))
        .collect { case VersionRef(n) => n.toInt }
      val prunable = all.filterNot(keep).sorted
      prunable.foreach(v => IndexMeta.deleteTree(versionDir(root, v)))
      prunable
    }
  }
}
