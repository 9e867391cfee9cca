package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.Row

import graft.operators.MergeOps

/** Structured-Streaming surface (SURVEY §2.12): tumbling/sliding/session
  * windows and a foreachBatch upsert sink. The window builders are plain
  * column expressions, so the same code path serves batch backfill and
  * the live stream — the Spark idiom for lambda-free architectures.
  */
object StreamOps {

  /** Tumbling-window aggregation. Works on batch and streaming frames. */
  def tumblingAgg(df: DataFrame, tsCol: String, width: String,
                  keys: Seq[String], aggs: Seq[Column]): DataFrame =
    df.groupBy((window(col(tsCol), width) +: keys.map(col)): _*)
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("window_start", col("window.start"))
      .withColumn("window_end", col("window.end"))
      .drop("window")

  /** Sliding-window aggregation (width, slide). */
  def slidingAgg(df: DataFrame, tsCol: String, width: String, slide: String,
                 keys: Seq[String], aggs: Seq[Column]): DataFrame =
    df.groupBy((window(col(tsCol), width, slide) +: keys.map(col)): _*)
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("window_start", col("window.start"))
      .withColumn("window_end", col("window.end"))
      .drop("window")

  /** Session-window aggregation (gap-based). */
  def sessionAgg(df: DataFrame, tsCol: String, gap: String,
                 keys: Seq[String], aggs: Seq[Column]): DataFrame =
    df.groupBy((session_window(col(tsCol), gap) +: keys.map(col)): _*)
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("session_start", col("session_window.start"))
      .withColumn("session_end", col("session_window.end"))
      .drop("session_window")

  /** Watermarked streaming tumbling aggregation — the live-path variant. */
  def streamingTumblingAgg(stream: DataFrame, tsCol: String, width: String,
                           watermark: String, keys: Seq[String],
                           aggs: Seq[Column]): DataFrame =
    tumblingAgg(stream.withWatermark(tsCol, watermark), tsCol, width, keys, aggs)

  /** Custom cross-batch state (SURVEY §2.12): per-key running totals via
    * flatMapGroupsWithState — the KeyValueGroupedDataset stateful API the
    * engine exposes for semantics windows can't express. Emits one row
    * per micro-batch per active key: (key, cumulative_count, batch_count).
    */
  def runningCounts(events: org.apache.spark.sql.Dataset[(Long, Double)])
  : org.apache.spark.sql.Dataset[(Long, Long, Long)] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import org.apache.spark.sql.Encoders
    implicit val longEnc = Encoders.scalaLong
    implicit val outEnc = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong)
    events.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, it: Iterator[(Long, Double)], state: GroupState[Long]) =>
          val batch = it.size.toLong
          val total = state.getOption.getOrElse(0L) + batch
          state.update(total)
          Iterator((user, total, batch))
      }
  }

  /** Streaming dedupe: drop rows whose key was already seen within the
    * watermark horizon — the streaming counterpart of the batch W5
    * first-wins dedupe, with state bounded by the watermark (unbounded
    * dropDuplicates state would grow forever on a real stream).
    */
  def dedupWithinWatermark(stream: DataFrame, tsCol: String, delay: String,
                           keys: Seq[String]): DataFrame =
    stream.withWatermark(tsCol, delay).dropDuplicatesWithinWatermark(keys)

  /** Watermarked stream-stream interval join: left rows pair with right
    * rows sharing the key whose timestamp falls in
    * [leftTs + lowerBound, leftTs + upperBound] (e.g. a click within an
    * hour after its impression: lower "0 seconds", upper "1 hour").
    * The watermarks plus the time-range condition are what let Spark
    * bound the join state — without both, stream-stream join state grows
    * forever; with them, rows age out as the watermark passes
    * (SURVEY §2.12 north-star surface; same expression works in batch).
    *
    * Column names must be distinct across the two sides except the join
    * key, which MAY share a name: references are dataset-qualified (bare
    * `col(k)` would be AMBIGUOUS_REFERENCE when both sides carry `k`),
    * and the two same-named keys collapse to ONE output column. For
    * right/full outer joins that surviving column COALESCES the two
    * sides — an unconditional drop of the right key would null the key
    * on every unmatched right row, losing the join key value.
    */
  def intervalJoin(left: DataFrame, right: DataFrame,
                   leftKey: String, rightKey: String,
                   leftTs: String, rightTs: String,
                   delay: String, lowerBound: String, upperBound: String,
                   joinType: String = "inner"): DataFrame = {
    val l = left.withWatermark(leftTs, delay)
    val r = right.withWatermark(rightTs, delay)
    val joined = l.join(r,
      l(leftKey) === r(rightKey) &&
        r(rightTs) >= l(leftTs) + expr(s"INTERVAL $lowerBound") &&
        r(rightTs) <= l(leftTs) + expr(s"INTERVAL $upperBound"),
      joinType)
    val jt = joinType.toLowerCase.replaceAll("[_ ]", "")
    if (leftKey != rightKey) joined
    else if (jt.contains("semi") || jt.contains("anti")) joined // left cols only
    else if (jt.startsWith("right") || jt.startsWith("full") || jt == "outer") {
      // unmatched right rows carry the key only on the right side
      val cols = left.columns.map(c =>
        if (c == leftKey) coalesce(l(c), r(rightKey)).as(leftKey) else l(c)) ++
        right.columns.filterNot(_ == rightKey).map(r(_))
      joined.select(cols.toIndexedSeq: _*)
    } else joined.drop(r(rightKey))
  }

  /** foreachBatch upsert sink: each micro-batch merges into the target
    * parquet table with the reference's M2 semantics (incoming wins on pk).
    * The reference's read-modify-write "latest" sink (io_s3.py:118-145)
    * expressed as a streaming sink.
    *
    * Swap protocol: merged data stages to `_staged`, the live table
    * renames to `_backup`, staged renames in, backup drops — so a FULL
    * copy of the table exists on disk at every instant, every rename
    * result is checked (a false return, e.g. an object store whose
    * rename is non-atomic copy, fails the trigger loudly instead of
    * stranding the sink), and a trigger that finds the target missing
    * with a backup present restores the backup first (the
    * crash-between-renames window). Read errors on an EXISTING target
    * propagate — the old catch-all that substituted an empty table on
    * any transient read failure would have made the next swap erase the
    * accumulated history.
    */
  def upsertSink(stream: DataFrame, targetPath: String, pk: Seq[String])
  : DataStreamWriter[Row] =
    stream.writeStream
      .outputMode("update")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        val target = new org.apache.hadoop.fs.Path(targetPath)
        // the TARGET's filesystem, not the default one — with
        // fs.defaultFS=hdfs:// and an s3a:// target, delete/rename would
        // otherwise run against paths that don't exist
        val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val backup = new org.apache.hadoop.fs.Path(targetPath + "_backup")
        val tmp = new org.apache.hadoop.fs.Path(targetPath + "_staged")
        if (!fs.exists(target) && fs.exists(backup))
          require(fs.rename(backup, target),
            s"upsertSink: could not restore $backup to $target after a crashed swap")
        val existing =
          if (fs.exists(target)) spark.read.parquet(targetPath)
          else batch.limit(0)
        val merged = MergeOps.upsert(existing, batch, pk)
        merged.write.mode("overwrite").parquet(tmp.toString)
        fs.delete(backup, true)
        if (fs.exists(target))
          require(fs.rename(target, backup),
            s"upsertSink: rename $target -> $backup failed")
        require(fs.rename(tmp, target),
          s"upsertSink: rename $tmp -> $target failed — previous table at $backup")
        fs.delete(backup, true)
        ()
      }

  /** Streaming incremental intake against a static curated corpus: drop
    * stream docs whose text fingerprint already exists in the corpus
    * fingerprint table (stream-static LEFT OUTER join + null filter —
    * the anti-join shape Structured Streaming supports; the static side
    * re-resolves per micro-batch, so a periodically refreshed corpus
    * fingerprint parquet just works), then drop in-stream repeats
    * within the watermark horizon. This is the streaming half of
    * DedupOps.incrementalDedup's exact stage; the near-dup stage stays
    * a periodic batch job over the intake sink (corpus-wide join).
    * `corpusFp` needs a single `fp` column (sha256 of normalized text —
    * TextOps.fingerprint).
    */
  def incrementalIntakeStream(stream: DataFrame, corpusFp: DataFrame,
                              tsCol: String, delay: String,
                              textCol: String): DataFrame = {
    val withFp = stream.withColumn("_fp",
      graft.operators.DedupOps.textFingerprint(col(textCol)))
    val fresh = withFp
      .join(corpusFp.select(col("fp").as("_fp"), lit(true).as("_in_corpus")),
        Seq("_fp"), "left_outer")
      .filter(col("_in_corpus").isNull).drop("_in_corpus")
    dedupWithinWatermark(fresh, tsCol, delay, Seq("_fp")).drop("_fp")
  }

  /** Streaming intake with the FULL near-dup judgment: each micro-batch
    * is judged against the prepared bucketed corpus index — exact
    * fingerprint stage, MinHash-banded candidate stage, exact Jaccard
    * verify, in-batch greedy keep-first (DedupOps.incrementalDedupPrepared,
    * the q78 kernel) — and only `kept` docs append to `targetPath`.
    *
    * This closes the gap incrementalIntakeStream leaves (exact stage
    * only): a near-dup of a corpus doc now drops at intake. Per-trigger
    * cost is proportional to the batch — the corpus participates only
    * through the bucketed index tables' co-located joins (zero
    * corpus-side exchange; CorpusIndexSpec) — which is what makes the
    * full judgment viable per micro-batch against a 100 TB corpus.
    * Every cache the kernel creates is unpersisted before the trigger
    * commits, so state does not accumulate across micro-batches.
    *
    * The index is static within a run (the standard lambda split):
    * docs accepted by earlier triggers join the index when the periodic
    * batch job refreshes it, so near-dups WITHIN the stream horizon are
    * caught by the in-batch stage only when they share a trigger —
    * tighten the trigger interval or refresh the index more often to
    * narrow that window.
    *
    * Replay safety: foreachBatch re-runs a micro-batch whose trigger
    * never committed to the checkpoint. Each trigger therefore
    * OVERWRITES its own `batch=<queryId>-<batchId>` partition of
    * `targetPath` instead of appending — a replayed batch lands on the
    * same files, not twice (exactly-once under a stable checkpoint;
    * the index-updating variants extend the same guarantee to the
    * index append via tag-keyed epochs).
    */
  def nearDupIntakeSink(stream: DataFrame,
                        index: graft.operators.DedupOps.CorpusDedupIndex,
                        textCol: String, idCol: String, targetPath: String,
                        n: Int = 3, numHashes: Int = 64, bands: Int = 32,
                        threshold: Double = 0.5,
                        maxBucket: Int = graft.operators.DedupOps.DefaultMaxBucket)
  : DataStreamWriter[Row] =
    stream.writeStream
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // idle triggers write nothing (see intakeUpdateTrigger)
        if (!batch.isEmpty) {
          val kept = judgeKept(batch, graft.operators.DedupOps
            .incrementalDedupPreparedWithCaches(batch, index, textCol, idCol,
              n, numHashes, bands, threshold, maxBucket), idCol)
          writeKeptPartition(kept, targetPath,
            intakeBatchTag(batch.sparkSession, batchId))
          kept.unpersist()
        }
        ()
      }

  /** [[nearDupIntakeSink]] with PER-TRIGGER index maintenance: each
    * micro-batch is judged against the NAMED persisted index (read
    * fresh per trigger), its `kept` docs append to both the sink and —
    * via [[graft.operators.DedupOps.appendToCorpusDedupIndex]] — the
    * index's bucketed tables. Batch N+1 therefore judges against the
    * corpus PLUS every doc accepted in batches ≤ N: a near-dup of an
    * earlier trigger's accepted doc now drops, closing the
    * static-index variant's cross-trigger window entirely. Per-trigger
    * cost stays batch-proportional on both the judge side (bucketed
    * co-located corpus joins) and the accept side (batch-sized
    * derivations + bucketed appends).
    */
  def nearDupIntakeSinkWithIndexUpdate(stream: DataFrame, tablePrefix: String,
                        textCol: String, idCol: String, targetPath: String,
                        n: Int = 3, numHashes: Int = 64, bands: Int = 32,
                        threshold: Double = 0.5,
                        maxBucket: Int = graft.operators.DedupOps.DefaultMaxBucket)
  : DataStreamWriter[Row] =
    stream.writeStream
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        intakeUpdateTrigger(batch, batchId, tablePrefix, textCol, idCol,
          targetPath, n, numHashes, bands, threshold, maxBucket)
        ()
      }

  /** [[nearDupIntakeSinkWithIndexUpdate]] resolving the index through a
    * [[graft.io.BatchStore]] pointer PER TRIGGER — the rollover half of
    * the compaction lifecycle: a maintenance job runs
    * DedupOps.compactCorpusDedupIndex (fresh re-capped prefix) and
    * DedupOps.promoteCorpusDedupIndexChecked (pointer overwrite), and
    * this sink's next trigger judges and appends against the compacted
    * index with no stream restart. The CHECKED promote narrows the
    * append window to the diff-to-swap instant: a trigger whose tagged
    * append commits on the OLD prefix after compaction read it is
    * healed into (or loudly blocks) the promoted index, and a second
    * post-swap coverage diff heals epochs that slip into that instant.
    * The residual exposure (an append committing after the post-swap
    * diff) can leak duplicates into later judgments but never lose sink
    * data — the replay guard in the trigger body (kept-empty against an
    * existing non-empty partition → no-op) keeps a replayed trigger
    * from empty-overwriting its own output. A trigger that committed
    * its append BEFORE the compact and replays AFTER the promote is
    * safe: compaction carries the source ledger's committed tags into
    * the new index's ledger, so the replay reads "committed" and no-ops
    * instead of re-judging (which would see its own docs in the
    * compacted index and empty-overwrite its target partition).
    */
  def nearDupIntakeSinkWithIndexPointer(stream: DataFrame,
                        store: graft.io.BatchStore, pointerKey: String,
                        textCol: String, idCol: String, targetPath: String,
                        n: Int = 3, numHashes: Int = 64, bands: Int = 32,
                        threshold: Double = 0.5,
                        maxBucket: Int = graft.operators.DedupOps.DefaultMaxBucket)
  : DataStreamWriter[Row] =
    stream.writeStream
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val prefix = graft.operators.DedupOps.resolveCorpusDedupIndex(
          batch.sparkSession, store, pointerKey)
        intakeUpdateTrigger(batch, batchId, prefix, textCol, idCol,
          targetPath, n, numHashes, bands, threshold, maxBucket)
        ()
      }

  /** Streaming ingest into a persisted vector index
    * ([[graft.operators.VectorIndex]]): each micro-batch of
    * (id, embedding) rows is encoded against the STORED model —
    * coarse-assign to the nearest stored centroid, residualize,
    * PQ-encode with the stored codebooks, the standard between-retrains
    * write path — and lands as its own committed ingest segment via
    * [[graft.operators.VectorIndex.appendBatch]]. Exactly-once under
    * replay: a re-run trigger finds its `ingest/b<batchId>` segment
    * complete and no-ops, or overwrites its own torn remnant; it never
    * double-appends and never touches another batch's files. Per-trigger
    * cost is batch-proportional (batch-sized encode + one segment
    * write); the corpus participates only through the driver-baked model
    * constants, so the same sink holds against a 100 TB index. Readers
    * serve base + committed segments via
    * [[graft.operators.VectorIndex.readCodesWithIngest]]; a periodic
    * retrain ([[graft.operators.VectorIndex.retrainAndSwap]]) folds
    * segments into the next version and resets model staleness.
    */
  def vectorIngestSink(stream: DataFrame, idCol: String, vecCol: String,
                       model: graft.operators.VectorIndex.Model,
                       indexPath: String): DataStreamWriter[Row] =
    stream.writeStream
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty)
          graft.operators.VectorIndex.appendBatch(
            batch, idCol, vecCol, model, indexPath, batchId)
        ()
      }

  /** [[vectorIngestSink]] resolving the SERVED index version per trigger
    * (the [[nearDupIntakeSinkWithIndexPointer]] treatment applied to the
    * vector index): each micro-batch reads `root/POINTER`, loads that
    * version's model (a model-sized collect: cells·dim + m·k·sub longs),
    * and commits its segment inside that version's directory — so a
    * maintenance job's [[graft.operators.VectorIndex.foldIngestAndSwap]]
    * or [[graft.operators.VectorIndex.retrainAndSwap]] rolls the
    * running ingest onto the new version with NO stream restart.
    * Exactly-once holds ACROSS the swap: fold/retrain carry the
    * folded-batch ledger into the new version, so a trigger that
    * committed its segment to the old version and replays after the
    * swap no-ops instead of re-appending rows the fold already
    * consolidated (VectorIndexSpec pins the cross-swap replay).
    * The resolve→encode→commit window holds the per-root intake claim
    * ([[graft.io.VersionedStore.withServedDir]]), mutually exclusive with
    * fold/retrain/prune: a fold that enumerated segments before this
    * trigger's commit but swapped after it would silently drop the
    * batch's rows from every future version (the round-17 SemanticIndex
    * race, identical on this family); a prune could delete the resolved
    * dir mid-encode.
    */
  def vectorIngestSinkVersioned(stream: DataFrame, idCol: String,
                                vecCol: String, root: String,
                                dim: Int, m: Int, k: Int): DataStreamWriter[Row] =
    stream.writeStream
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) graft.operators.VectorIndex.withServedDir(root) { dir =>
          graft.operators.VectorIndex.appendBatch(batch, idCol, vecCol,
            graft.operators.VectorIndex.readModel(batch.sparkSession, dir, dim, m, k),
            dir, batchId)
        }
        ()
      }

  /** Streaming ingest into the persisted BM25 postings index
    * ([[graft.operators.SearchOps.appendPostingsIndex]]): each
    * micro-batch tokenizes ONLY its own docs and lands as one new index
    * version behind the atomic pointer — delta postings segment plus
    * the re-merged vocabulary-sized termstats; concurrent readers
    * resolve the pointer at planning and are never torn. Exactly-once
    * under replay: the batch tag rides the version manifest's
    * applied_tags ledger (carried across versions AND folds), so a
    * trigger retried from the same checkpoint no-ops instead of
    * double-counting df/n_docs — which would silently shift every idf
    * the index ever serves. Tags here are a membership SET (no ordering
    * semantics), so the un-padded batchId is safe — unlike the dedup
    * intake's carried-tag RECENCY window, which needed append-order
    * preserved (DedupOps round-10 fix).
    */
  def postingsIngestSink(stream: DataFrame, textCol: String, idCol: String,
                         root: String): DataStreamWriter[Row] =
    stream.writeStream
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty)
          graft.operators.SearchOps.appendPostingsIndex(batch, textCol,
            idCol, root, intakeBatchTag(batch.sparkSession, batchId))
        ()
      }

  /** Streaming semantic-dedup intake against the persisted trained-cell
    * layout ([[graft.operators.SemanticIndex]]) — the deployment story
    * [[graft.operators.SimilarityOps.incrementalSemanticDedup]]'s
    * scaladoc names, wired: each micro-batch of (id, embedding) rows is
    * labeled with the SERVED version's stored model (pointer resolved
    * per trigger, so a maintenance [[graft.operators.SemanticIndex
    * .foldIngestAndSwap]] rolls the running intake onto the new version
    * with NO stream restart — fold and trigger are serialized by the
    * store's intake claim ([[graft.io.VersionedStore.withServedDir]]),
    * so a fold can never enumerate segments while a trigger is between
    * its batchApplied check and its segment commit), judged against the
    * stored labeled corpus PLUS every earlier trigger's committed kept
    * rows, its verdict
    * rows written to `targetPath/batch=b<id>`, and its KEPT rows
    * committed as an ingest segment so later batches dedup against
    * them.
    *
    * Exactly-once, in commit order: verdict partition (deterministic
    * overwrite) THEN segment append (the commit point). A replayed
    * trigger whose append never landed re-judges against the unchanged
    * index — identical verdicts, idempotent rewrite; one whose append
    * landed (or was absorbed by a fold — the carried ledger) skips
    * ENTIRELY, because re-judging a batch against an index that already
    * contains its own kept rows would mark each of them a duplicate of
    * itself. Per-trigger cost is batch-proportional: the corpus
    * participates as a cell-pruned scan + map-side partial min, never
    * an exchange. One logical stream owns an index root (segments key
    * on the raw batch id, the [[vectorIngestSink]] convention).
    */
  def semanticIntakeSink(stream: DataFrame, idCol: String, vecCol: String,
                         root: String, targetPath: String,
                         t2: Double): DataStreamWriter[Row] =
    stream.writeStream
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        semanticIntakeTrigger(batch, batchId, root, idCol, vecCol,
          targetPath, t2)
        ()
      }

  private[graft] def semanticIntakeTrigger(batch: DataFrame, batchId: Long,
      root: String, idCol: String, vecCol: String, targetPath: String,
      t2: Double): Unit = {
    if (batch.isEmpty) return // idle trigger: no empty partitions/segments
    // The whole resolve→judge→append window holds the intake claim,
    // mutually exclusive with foldIngestAndSwap and pruneVersions: a
    // fold that enumerated segments before this trigger's append (but
    // swapped after) would silently drop the batch's kept rows from
    // every future version, and a prune could delete the resolved dir
    // mid-judge (round-17 ADVICE). Claim cost when no maintenance is
    // running: two small FS ops per trigger.
    graft.operators.SemanticIndex.withServedDir(root) { dir =>
      if (!graft.operators.SemanticIndex.batchApplied(dir, batchId)) {
        val (verdicts, batchL) = graft.operators.SemanticIndex.judgeBatch(
          batch, idCol, vecCol, dir, t2)
        // pin: the verdict frame feeds the partition write AND the kept
        // semi-join — un-pinned, each consumer re-runs both pair legs
        // (the judgeKept rationale)
        val vp = verdicts.localCheckpoint(true)
        try {
          vp.write.mode("overwrite").parquet(s"$targetPath/batch=b$batchId")
          val kept = batchL.join(vp.filter(col("kept")).select(col("vid")),
            Seq("vid"), "left_semi")
          graft.operators.SemanticIndex.appendBatch(kept, dir, batchId)
        } finally vp.unpersist()
      }
    }
    ()
  }

  /** Idempotence tag for one micro-batch: streaming query id (stable
    * across restarts from the same checkpoint — the replay case) +
    * batch id. Distinct queries (fresh checkpoints) get distinct tags,
    * so their batch 0s don't collide.
    */
  private def intakeBatchTag(spark: org.apache.spark.sql.SparkSession,
                             batchId: Long): String = {
    val qid = Option(spark.sparkContext.getLocalProperty(
      org.apache.spark.sql.execution.streaming.runtime.StreamExecution.QUERY_ID_KEY))
      .getOrElse("q").replace("-", "").take(12)
    s"$qid-$batchId"
  }

  /** Semi-join the batch down to the roster's `kept` docs. */
  private def judgeKept(batch: DataFrame,
                        rosterAndCaches: (DataFrame, Seq[DataFrame]),
                        idCol: String): DataFrame = {
    val (roster, caches) = rosterAndCaches
    // Pin the ROSTER first: the judgment plan is a DAG whose exact-stage
    // and candidate-stage subtrees appear under several join legs, and a
    // `filter(status)` pushed into the un-materialized plan re-executes
    // every un-persisted subtree (and re-broadcasts the corpus-side
    // bands/shingle relations) — measured 55-100s per 130-doc trigger
    // at sf0.1 vs ~2s for the single-pass judgment. One batch-sized
    // materialization here makes the semi-join below read 130 cached
    // rows instead of re-running the chain.
    val rosterPinned = roster.localCheckpoint(true)
    val kept = batch
      .withColumn("_nid", col(idCol).cast("long"))
      .join(rosterPinned.filter(col("status") === "kept")
        .select(col("new_id").as("_nid")), Seq("_nid"), "left_semi")
      .drop("_nid")
      // pin before the caches are released (the judgment plan reads them)
      .localCheckpoint(true)
    // kept's lineage is truncated by its own checkpoint, so the roster
    // pin can release now — without this, one batch-sized checkpoint
    // lingers in the BlockManager per trigger until the ContextCleaner
    // happens to collect it
    rosterPinned.unpersist()
    caches.foreach(_.unpersist())
    kept
  }

  /** Idempotent target write: each trigger owns the `batch=<tag>`
    * partition directory and OVERWRITES it, so a replayed micro-batch
    * (crash before the checkpoint commit) lands on the same files
    * instead of appending twice. Readers see a standard partitioned
    * parquet layout — `spark.read.parquet(targetPath)` carries the tag
    * as a `batch` string column.
    */
  private def writeKeptPartition(kept: DataFrame, targetPath: String,
                                 tag: String): Unit =
    kept.write.mode("overwrite").parquet(s"$targetPath/batch=$tag")

  /** Whether a trigger's `batch=<tag>` partition directory already
    * exists — the replay-guard probe in [[intakeUpdateTrigger]]. Dir
    * existence (not row count) is the right test: ANY prior write of
    * this deterministic tag means an earlier attempt reached the
    * write-partition step, and a kept-empty re-judgment against it can
    * only be the already-applied case (or an idempotent all-dup replay,
    * where the no-op leaves the identical empty partition in place).
    */
  private def targetPartitionExists(spark: org.apache.spark.sql.SparkSession,
                                    targetPath: String, tag: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(s"$targetPath/batch=$tag")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Shared per-trigger body of the index-updating sinks: exactly-once
    * under foreachBatch replay. A committed epoch tagged with this
    * trigger means both the target write and the index append already
    * applied (the append commits LAST) — skip; a torn tagged epoch is
    * our own crashed attempt — repair, then redo both idempotently
    * (deterministic target partition, tag-keyed append).
    */
  /** Test/profiler hook: print per-stage timings of each intake trigger
    * to stdout. Never set outside profiling runs.
    */
  private[graft] var intakeDebug = false

  private[graft] def intakeUpdateTrigger(batch: DataFrame, batchId: Long,
                        tablePrefix: String, textCol: String, idCol: String,
                        targetPath: String, n: Int, numHashes: Int, bands: Int,
                        threshold: Double, maxBucket: Int): Unit = {
    val spark = batch.sparkSession
    def t[A](label: String)(f: => A): A =
      if (!intakeDebug) f else {
        val t0 = System.nanoTime(); val r = f
        println(f"  intake[$batchId]:$label%-18s ${(System.nanoTime() - t0) / 1e9}%6.2f s")
        r
      }
    val tag = intakeBatchTag(spark, batchId)
    // idle triggers must not touch the index: an empty micro-batch would
    // otherwise still judge, write an empty partition, and append an
    // empty tag-keyed EPOCH — an unattended per-minute stream would grow
    // the ledger (and each trigger's ledger read) by thousands of no-op
    // records between compactions. Skipping is replay-safe: an empty
    // batch re-judges to the same empty result.
    if (batch.isEmpty) return
    graft.operators.DedupOps.epochTagState(spark, tablePrefix, tag) match {
      case "committed" => ()
      case state =>
        if (state == "torn")
          graft.operators.DedupOps.repairCorpusDedupIndex(spark, tablePrefix)
        val idx = t("read-index")(
          graft.operators.DedupOps.readCorpusDedupIndex(spark, tablePrefix))
        val judged = t("judge")(graft.operators.DedupOps
          .incrementalDedupPreparedWithCaches(batch, idx, textCol, idCol,
            n, numHashes, bands, threshold, maxBucket))
        val kept = t("kept")(judgeKept(batch, judged, idCol))
        // Replay-outside-the-carried-window guard: if this judgment
        // keeps NOTHING but the trigger's partition already exists, a
        // prior attempt fully applied (its kept docs are in the index —
        // that's exactly why the re-judge calls them all dups) and its
        // idempotence tag has since been pruned from the carried window
        // by a compaction. Overwriting the partition with the empty
        // re-judgment would be silent data loss; the correct replay
        // action is a no-op. A genuinely all-duplicates FIRST attempt
        // has no partition yet and still writes its empty partition for
        // replay determinism.
        if (kept.isEmpty && targetPartitionExists(spark, targetPath, tag)) {
          if (intakeDebug) println(s"  intake[$batchId]:replay-noop (kept empty, partition exists)")
        } else {
          t("write-partition")(writeKeptPartition(kept, targetPath, tag))
          // an all-duplicates batch keeps nothing: write the (empty)
          // partition for replay determinism, but don't add an empty epoch
          // to the index — the tag staying "absent" just means a replay
          // re-derives the same empty result
          if (!kept.isEmpty)
            t("append-index")(graft.operators.DedupOps.appendToCorpusDedupIndex(
              kept, textCol, idCol, tablePrefix, epochTag = Some(tag)))
        }
        kept.unpersist()
    }
  }

  /** Streaming corpus intake: the stateless curation stages apply to a
    * stream unchanged (repetition filter is expression-only), and exact
    * dedup becomes a fingerprint-keyed dropDuplicatesWithinWatermark —
    * state bounded by the watermark horizon instead of growing with the
    * corpus. Near-dup removal and decontamination remain periodic batch
    * jobs over the deduped sink (they need corpus-wide joins); this is
    * the standard lambda-architecture split for a live ingest feed.
    * `maxDupTenths` mirrors CurationPipeline.curate.
    */
  def curateStream(stream: DataFrame, tsCol: String, delay: String,
                   textCol: String, maxDupTenths: Int = 7): DataFrame = {
    val w = split(graft.operators.DedupOps.normText(col(textCol)), " ")
    val filtered = stream
      .filter(size(w) >= 2 &&
        (size(w) - size(array_distinct(w))) * 10 <= size(w) * maxDupTenths)
      .withColumn("_fp", graft.operators.DedupOps.textFingerprint(col(textCol)))
    dedupWithinWatermark(filtered, tsCol, delay, Seq("_fp")).drop("_fp")
  }
}
