package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.CacheScope

/** Distributed graph helpers for the dedup surface. */
object GraphOps {

  /** Connected components by min-label propagation with pointer doubling:
    * every node starts labeled with its own id; each round pushes labels
    * across edges, keeps the minimum, then shortcuts through the label's
    * own label (label(v) := label(label(v)) — the classic pointer-jumping
    * step), so a path of diameter d converges in O(log d) rounds instead
    * of d. Components come out keyed by their smallest member id — the
    * canonical keeper for a transitive near-dup cluster (pairwise
    * drop-the-larger-id misses transitive chains: a~b, b~c must collapse
    * to one keeper even when a~c itself is below threshold).
    *
    * Scale hardening (each round):
    *   - ONE action per round: the convergence check rides the label
    *     aggregate itself (each node's previous label travels as a
    *     `_old` column through the min-aggregate), so counting changed
    *     nodes is a filter over the already-materialized round result —
    *     not a second join-and-count job.
    *   - lineage truncation: every `checkpointEvery` rounds the label
    *     frame localCheckpoints (persisted otherwise), so the logical
    *     plan stays O(checkpointEvery) deep no matter how many rounds a
    *     pathological chain needs.
    *   - labels only decrease and are always some component member's id
    *     (label(m) ≤ m for every m), so the doubling lookup preserves
    *     the invariant and the fixpoint is the component minimum.
    */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
                          maxIter: Int = 50,
                          checkpointEvery: Int = 5): DataFrame =
    connectedComponentsWithRounds(pairs, aCol, bCol, maxIter, checkpointEvery)._1

  /** [[connectedComponents]] plus the number of propagation rounds run —
    * exposed so tests can pin the O(log d) round bound on deep chains.
    */
  def connectedComponentsWithRounds(pairs: DataFrame, aCol: String, bCol: String,
                                    maxIter: Int = 50,
                                    checkpointEvery: Int = 5): (DataFrame, Int) = {
    val edges = pairs.select(col(aCol).cast("long").as("src"), col(bCol).cast("long").as("dst"))
    val sym = CacheScope.persist(edges
      .unionByName(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct())
    var labels = CacheScope.persist(sym.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("label")))
    var iter = 0
    var changed = 1L
    while (changed > 0 && iter < maxIter) {
      // neighbor-min: self rows carry the previous label in _old (exactly
      // one self row per node), neighbor messages carry null there, so
      // min(_old) recovers the old label through the same aggregate
      val msgs = sym.join(labels, sym("src") === labels("node"))
        .select(col("dst").as("node"), col("label"), lit(null).cast("long").as("_old"))
      val self = labels.select(col("node"), col("label"), col("label").as("_old"))
      val neighMin = self.unionByName(msgs)
        .groupBy("node").agg(min(col("label")).as("label"), min(col("_old")).as("_old"))
      // pointer doubling: shortcut to the label's own (previous-round)
      // label; left join — a label that is its own component min has no
      // smaller entry to offer
      val jumped = neighMin
        .join(labels.select(col("node").as("_ln"), col("label").as("_ll")),
          neighMin("label") === col("_ln"), "left")
        .select(col("node"), least(col("label"), coalesce(col("_ll"), col("label"))).as("label"),
          col("_old"))
      // localCheckpoint truncates lineage so plan size stays bounded, at
      // two costs: (a) checkpoint blocks live outside the cache manager,
      // so the labels release below is a no-op on checkpoint rounds —
      // blocks free only when the RDD is GC'd on the driver; (b) the
      // blocks are executor-local, so an executor loss mid-run is
      // unrecoverable (no lineage to recompute from). For very long runs
      // on preemptible clusters, prefer reliable checkpointing
      // (sc.setCheckpointDir + .checkpoint()) at the price of an HDFS
      // round-trip every checkpointEvery rounds.
      val updated =
        if ((iter + 1) % checkpointEvery == 0) jumped.localCheckpoint(false) // lazy:
          // materialized by the count below, same single job
        else CacheScope.persist(jumped)
      // the round's ONE action: materializes `updated` and counts
      // decreased labels off the carried _old column
      changed = updated.filter(col("label") < col("_old")).count()
      CacheScope.release(labels)
      labels = updated
      iter += 1
    }
    CacheScope.release(sym)
    (labels.select(col("node").as("doc_id"), col("label").as("component")), iter)
  }
}
