package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.Row

import graft.core.CacheScope
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

  /** Streaming intake with the FULL near-dup judgment against a static
    * index: each micro-batch is judged against the prepared bucketed
    * corpus index — exact fingerprint stage, MinHash-banded candidate
    * stage, exact Jaccard verify, in-batch greedy keep-first
    * (DedupOps.incrementalDedupPrepared, the q78 kernel) — and only
    * `kept` docs land in `targetPath`.
    *
    * This closes the gap incrementalIntakeStream leaves (exact stage
    * only): a near-dup of a corpus doc now drops at intake. Per-trigger
    * cost is proportional to the batch — the corpus participates only
    * through the bucketed index tables' co-located joins (zero
    * corpus-side exchange; CorpusIndexSpec). Every cache the kernel
    * creates is unpersisted before the trigger commits, so state does not
    * accumulate across micro-batches.
    *
    * The index does not learn from the stream: near-dups of docs kept by
    * EARLIER triggers are caught only by [[nearDupIntakeSinkWithIndexUpdate]].
    * Replay safety: each trigger OVERWRITES its own
    * `batch=<queryId>-<batchId>` partition of `targetPath`, so a replayed
    * micro-batch lands on the same files, not twice.
    */
  def nearDupIntakeSink(stream: DataFrame,
                        index: graft.operators.DedupOps.CorpusDedupIndex,
                        textCol: String, idCol: String, targetPath: String,
                        n: Int = 3, numHashes: Int = 64, bands: Int = 32,
                        threshold: Double = 0.5,
                        maxBucket: Int = graft.operators.DedupOps.DefaultMaxBucket)
  : DataStreamWriter[Row] =
    nonEmptyBatchSink(stream) { (batch, batchId) =>
      val kept = judgeKept(batch, graft.operators.DedupOps
        .incrementalDedupPrepared(batch, index, textCol, idCol,
          n, numHashes, bands, threshold, maxBucket), idCol)
      writeKeptPartition(kept, targetPath,
        intakeBatchTag(batch.sparkSession, batchId))
      kept.unpersist()
    }

  /** Near-dup intake that maintains the persisted corpus index at `root`
    * ([[graft.operators.DedupOps.writeCorpusDedupIndex]]): each trigger
    * resolves the SERVED version, judges the micro-batch against it plus
    * every committed ingest segment, writes its `kept` docs to
    * `targetPath/batch=b<id>`, and commits them as the version's ingest
    * segment `b<id>`. Batch N+1 therefore judges against the corpus PLUS
    * every doc accepted in batches ≤ N. A maintenance
    * [[graft.operators.DedupOps.compactCorpusDedupIndex]] rolls the
    * running intake onto the folded version with no stream restart.
    *
    * Exactly-once, in commit order: kept partition (deterministic
    * overwrite) THEN segment (the commit point). A replay whose segment
    * never committed re-judges against the unchanged version — identical
    * verdicts, idempotent rewrite; one whose segment committed, or was
    * absorbed by a fold (the carried ledger), skips ENTIRELY, because
    * re-judging a batch against an index holding its own kept docs would
    * mark each of them a duplicate of itself. Claim, resolve, ownership
    * and skip are the store's one intake step
    * ([[graft.io.VersionedStore.intakeTrigger]]), mutually exclusive with
    * folds and prunes; one streaming query owns the root, and any other
    * — a second one, or a restart on a fresh checkpoint — fails its
    * trigger instead of skipping batch ids the owner already applied.
    */
  def nearDupIntakeSinkWithIndexUpdate(stream: DataFrame, root: String,
                        textCol: String, idCol: String, targetPath: String,
                        n: Int = 3, numHashes: Int = 64, bands: Int = 32,
                        threshold: Double = 0.5,
                        maxBucket: Int = graft.operators.DedupOps.DefaultMaxBucket)
  : DataStreamWriter[Row] =
    nonEmptyBatchSink(stream) { (batch, batchId) =>
      val dedup = graft.operators.DedupOps
      dedup.corpusIndex.intakeTrigger(root, streamingQueryId(batch.sparkSession),
          batchId) { dir =>
        val kept = judgeKept(batch, dedup.incrementalDedupPrepared(batch,
          dedup.readCorpusIndexAt(batch.sparkSession, root, dir), textCol, idCol,
          n, numHashes, bands, threshold, maxBucket), idCol)
        try {
          writeKeptPartition(kept, targetPath, s"b$batchId")
          dedup.appendSegment(kept, textCol, idCol, dir, batchId)
        } finally kept.unpersist()
      }
    }

  /** Streaming ingest into the persisted vector index at `root`
    * ([[graft.operators.VectorIndex]]): each trigger resolves the SERVED
    * version, loads its model (a model-sized collect: cells·dim + m·k·sub
    * longs), encodes the micro-batch of (id, embedding) rows against it —
    * coarse-assign to the nearest stored centroid, residualize, PQ-encode
    * with the stored codebooks, the standard between-retrains write path
    * — and commits it as that version's ingest segment `b<id>`
    * ([[graft.operators.VectorIndex.appendBatch]]). Per-trigger cost is
    * batch-proportional: the corpus participates only through the
    * driver-baked model constants. Readers serve base + committed
    * segments via [[graft.operators.VectorIndex.readCodesWithIngest]].
    *
    * A maintenance [[graft.operators.VectorIndex.foldIngestAndSwap]] or
    * [[graft.operators.VectorIndex.retrainAndSwap]] rolls the running
    * ingest onto the new version with NO stream restart. Exactly-once
    * holds across the swap: fold/retrain carry the folded-batch ledger,
    * so a trigger that committed to the old version and replays after
    * the swap no-ops (VectorIndexSpec pins the cross-swap replay); a
    * replay over a torn segment rewrites it. Claim, resolve, ownership
    * and skip are the store's one intake step
    * ([[graft.io.VersionedStore.intakeTrigger]]), mutually exclusive with
    * fold/retrain/prune: a fold that enumerated segments before this
    * trigger's commit but swapped after it would silently drop the
    * batch's rows from every future version, and a prune could delete
    * the resolved dir mid-encode. One streaming query owns the root.
    */
  def vectorIngestSink(stream: DataFrame, idCol: String, vecCol: String,
                       root: String, dim: Int, m: Int, k: Int): DataStreamWriter[Row] =
    nonEmptyBatchSink(stream) { (batch, batchId) =>
      val vi = graft.operators.VectorIndex
      vi.intakeTrigger(root, streamingQueryId(batch.sparkSession), batchId) { dir =>
        vi.appendBatch(batch, idCol, vecCol,
          vi.readModel(batch.sparkSession, dir, dim, m, k), dir, batchId)
      }
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
    * semantics), so the un-padded batchId is safe.
    */
  def postingsIngestSink(stream: DataFrame, textCol: String, idCol: String,
                         root: String): DataStreamWriter[Row] =
    nonEmptyBatchSink(stream) { (batch, batchId) =>
      graft.operators.SearchOps.appendPostingsIndex(batch, textCol,
        idCol, root, intakeBatchTag(batch.sparkSession, batchId))
    }

  /** Streaming semantic-dedup intake against the persisted trained-cell
    * layout ([[graft.operators.SemanticIndex]]) — the deployment story
    * [[graft.operators.SimilarityOps.incrementalSemanticDedup]]'s
    * scaladoc names, wired: each micro-batch of (id, embedding) rows is
    * labeled with the SERVED version's stored model (pointer resolved
    * per trigger, so a maintenance [[graft.operators.SemanticIndex
    * .foldIngestAndSwap]] rolls the running intake onto the new version
    * with NO stream restart), judged against the stored labeled corpus
    * PLUS every earlier trigger's committed kept rows, its verdict rows
    * written to `targetPath/batch=b<id>`, and its KEPT rows committed as
    * an ingest segment so later batches dedup against them.
    *
    * Exactly-once, in commit order: verdict partition (deterministic
    * overwrite) THEN segment append (the commit point). A replayed
    * trigger whose append never landed re-judges against the unchanged
    * index — identical verdicts, idempotent rewrite; one whose append
    * landed (or was absorbed by a fold — the carried ledger) skips
    * ENTIRELY, because re-judging a batch against an index that already
    * contains its own kept rows would mark each of them a duplicate of
    * itself. Claim, resolve, ownership and skip are the store's one
    * intake step ([[graft.io.VersionedStore.intakeTrigger]]): a fold can
    * never enumerate segments while a trigger is between its skip check
    * and its segment commit, and one streaming query owns the root.
    * Per-trigger cost is batch-proportional: the corpus participates as
    * a cell-pruned scan + map-side partial min, never an exchange.
    */
  def semanticIntakeSink(stream: DataFrame, idCol: String, vecCol: String,
                         root: String, targetPath: String,
                         t2: Double): DataStreamWriter[Row] =
    nonEmptyBatchSink(stream) { (batch, batchId) =>
      semanticIntakeTrigger(batch, batchId, streamingQueryId(batch.sparkSession),
        root, idCol, vecCol, targetPath, t2)
    }

  /** One [[semanticIntakeSink]] trigger, fed by streaming query `queryId`. */
  private[graft] def semanticIntakeTrigger(batch: DataFrame, batchId: Long,
      queryId: String, root: String, idCol: String, vecCol: String,
      targetPath: String, t2: Double): Unit = {
    val si = graft.operators.SemanticIndex
    si.intakeTrigger(root, queryId, batchId) { dir =>
      val (verdicts, batchL) = si.judgeBatch(batch, idCol, vecCol, dir, t2)
      // pin: the verdict frame feeds the partition write AND the kept
      // semi-join — un-pinned, each consumer re-runs both pair legs
      // (the judgeKept rationale)
      val vp = verdicts.localCheckpoint(true)
      try {
        vp.write.mode("overwrite").parquet(s"$targetPath/batch=b$batchId")
        val kept = batchL.join(vp.filter(col("kept")).select(col("vid")),
          Seq("vid"), "left_semi")
        si.appendBatch(kept, dir, batchId)
      } finally vp.unpersist()
    }
  }

  /** An append-mode AvailableNow sink that runs `body` on each non-empty
    * micro-batch (one `isEmpty` job per trigger): idle triggers write no
    * empty partitions, segments or versions.
    */
  private def nonEmptyBatchSink(stream: DataFrame)(
      body: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    stream.writeStream
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) body(batch, batchId)
        ()
      }

  /** The running streaming query's id: stable across restarts from the
    * same checkpoint (the replay case), fresh for a fresh checkpoint.
    * Outside a streaming query there is none, and a made-up one would
    * record an owner no real stream could match.
    */
  private def streamingQueryId(spark: org.apache.spark.sql.SparkSession): String =
    Option(spark.sparkContext.getLocalProperty(
      org.apache.spark.sql.execution.streaming.runtime.StreamExecution.QUERY_ID_KEY))
      .getOrElse(throw new IllegalStateException(
        "no streaming query id: a sink trigger ran outside a streaming query"))

  /** Idempotence tag for one micro-batch: query id + batch id. Distinct
    * queries get distinct tags, so their batch 0s don't collide.
    */
  private def intakeBatchTag(spark: org.apache.spark.sql.SparkSession,
                             batchId: Long): String =
    s"${streamingQueryId(spark).replace("-", "").take(12)}-$batchId"

  /** Semi-join the batch down to the roster's `kept` docs. The roster is
    * built in a [[CacheScope]] that closes once `kept` is pinned, so the
    * judgment's caches never outlive the trigger.
    */
  private def judgeKept(batch: DataFrame, roster: => DataFrame,
                        idCol: String): DataFrame = CacheScope.run {
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
