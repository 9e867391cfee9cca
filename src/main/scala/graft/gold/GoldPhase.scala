package graft.gold

import org.apache.spark.sql.DataFrame

import graft.compat.CompatOps
import graft.core.CacheScope

/** Gold-phase orchestration: the five marts + the two compat adapters
  * in dependency order, with the promoted inputs SHARED — speeches and
  * votes each feed three marts (yearly, monthly, constituency) and
  * votes additionally the member-votes compat adapter, so un-persisted
  * they are re-scanned once per consumer (the 457k-row votes re-scan
  * alone swung gold:activity_yearly 9–68s with page-cache luck at
  * sf0.1 — PERF.md round 16). One MEMORY_AND_DISK persist per input,
  * released after its LAST consumer (speeches → constituency mart,
  * votes → member-votes compat), keeps the phase at one promoted scan
  * per input at any corpus size.
  *
  * This helper is the PRODUCTION composition point (round-17 verdict
  * item 4: the read-sharing previously lived only in the test-tree E2E
  * driver, so a caller composing RefreshRun + GoldMarts from src/main
  * re-scanned per mart); RefreshE2EMain delegates to it, so the E2E
  * exercises exactly this path.
  *
  * `sink(outputName, frame)` is called once per output in dependency
  * order and returns the frame DOWNSTREAM stages must consume — a
  * write-through caller (the E2E) returns its written-back candidate
  * table for `gold_member_activity_yearly` (the fact pool reads the
  * landed table, reference semantics) and a cached frame for
  * `gold_current_members`; an in-memory caller returns the frame
  * unchanged. Output names are the production table names.
  *
  * Reference behavior mirrored: the gold mart list and ordering of
  * refresh_all.py (see GoldMarts/CompatOps for per-mart citations);
  * the shared-persist scheduling is engine-side scale design.
  */
object GoldPhase {

  /** Silver inputs of the gold phase, as already-promoted frames. */
  final case class Inputs(members: DataFrame, memberships: DataFrame,
                          parties: DataFrame, constituencies: DataFrame,
                          offices: DataFrame, speeches: DataFrame,
                          votes: DataFrame, divisions: DataFrame,
                          snapshotDate: String)

  /** Run the phase; returns the (sink-returned) current-members frame —
    * the one output later pipeline stages commonly reuse. The phase runs
    * in one [[CacheScope]]: it persists speeches and votes for their
    * consumers and releases them on every exit path. An input the
    * CALLER already persisted (any storage level) is left exactly as
    * found.
    *
    * The one-scan-per-input guarantee holds only for sinks that
    * MATERIALIZE each output before returning (a write, a persisted
    * count — anything that executes the frame): the early speeches
    * release after the constituency mart assumes every speeches
    * consumer has already run. An in-memory sink that returns frames
    * unmaterialized still gets CORRECT results, but a mart consumed
    * after run() returns recomputes from the by-then-unpersisted
    * input — such a caller should persist speeches/votes itself (this
    * helper then leaves them untouched) and release them after its own
    * last action.
    */
  def run(in: Inputs)(sink: (String, DataFrame) => DataFrame): DataFrame = CacheScope.run {
    val speeches = CacheScope.persist(in.speeches)
    val votes = CacheScope.persist(in.votes)
    val cm = sink("gold_current_members", GoldMarts.currentMembers(
      in.members, in.memberships, in.parties, in.constituencies,
      in.offices, in.snapshotDate))
    val activityYearly = sink("gold_member_activity_yearly",
      GoldMarts.memberActivityYearly(cm, speeches, votes, in.divisions,
        in.snapshotDate))
    sink("gold_member_activity_monthly",
      GoldMarts.memberActivityMonthly(speeches, votes, in.snapshotDate))
    sink("gold_constituency_activity_yearly",
      GoldMarts.constituencyActivityYearly(cm, speeches, votes,
        in.snapshotDate))
    CacheScope.release(speeches) // last consumer: constituency mart
    sink("gold_content_fact_pool",
      GoldMarts.contentFactPool(activityYearly, cm, in.snapshotDate))
    sink("compat_members", CompatOps.membersCompat(cm))
    sink("compat_member_votes", CompatOps.memberVotesCompat(votes))
    cm // votes release with the scope: member-votes compat was their last consumer
  }
}
