package graft

import org.apache.spark.sql.functions._

import graft.operators.{SimilarityOps, VectorIndex}

/** The persisted ANN index (operators/VectorIndex) must answer queries
  * ROW-IDENTICALLY to the derive-in-query chain it serializes
  * ([[SimilarityOps.ivfPqTopKRefined]]) — q110 reuses q109's DuckDB
  * oracle on exactly that equality. Also pins the layout contract
  * (cell-partitioned codes directories) and the model round-trip.
  */
class VectorIndexSpec extends SparkSpec {

  private lazy val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
  private val (dim, m, k) = (64, 4, 16)

  private def tmpDir(name: String): java.io.File = {
    val d = java.nio.file.Files.createTempDirectory(name).toFile
    d.deleteOnExit()
    d
  }

  test("persisted-index query == derive-in-query refined chain, row for row") {
    val root = tmpDir("vindex_eq")
    val (model, codes) = VectorIndex.build(emb, "vec_id", "embedding", "label", dim, m, k)
    VectorIndex.write(model, codes, root.getPath)
    assert(VectorIndex.exists(root.getPath))

    val loaded = VectorIndex.readModel(spark, root.getPath, dim, m, k)
    val viaIndex = VectorIndex.query(emb, "vec_id", "embedding",
        loaded, VectorIndex.readCodes(spark, root.getPath), rawVectors = emb,
        nprobe = 2, shortlist = 10, topK = 3)
      .orderBy("query_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val derived = SimilarityOps.ivfPqTopKRefined(emb, "vec_id", "embedding",
        "label", dim, m, k, nprobe = 2, shortlist = 10, topK = 3)
      .orderBy("query_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(viaIndex.nonEmpty)
    assert(viaIndex.toSeq == derived.toSeq,
      "persisted index diverged from the derive-in-query chain")
  }

  test("model round-trips exactly; codes are laid out one directory per cell") {
    val root = tmpDir("vindex_rt")
    val (model, codes) = VectorIndex.build(emb, "vec_id", "embedding", "label", dim, m, k)
    VectorIndex.write(model, codes, root.getPath)
    val loaded = VectorIndex.readModel(spark, root.getPath, dim, m, k)
    assert(loaded.cents.keySet == model.cents.keySet)
    model.cents.foreach { case (c, arr) =>
      assert(java.util.Arrays.equals(loaded.cents(c), arr), s"centroid $c drifted") }
    assert(loaded.books.length == m)
    model.books.zip(loaded.books).zipWithIndex.foreach { case ((mb, lb), mi) =>
      assert(mb.length == lb.length, s"codebook $mi size")
      mb.zip(lb).foreach { case (a, b) => assert(java.util.Arrays.equals(a, b)) }
    }
    // cell-partitioned layout: the probe join can prune whole directories
    val cellDirs = new java.io.File(root, "codes").listFiles()
      .filter(_.getName.startsWith("cell=")).map(_.getName).toSet
    assert(cellDirs.size == model.cents.size,
      s"expected one codes directory per cell, got $cellDirs")
    // no row lost in the round trip
    assert(VectorIndex.readCodes(spark, root.getPath).count() == emb.count())
  }

  test("append through the stored model: twins of indexed vectors come back rank-1 exact") {
    // the serving-ingest guarantee: a vector appended between retrains
    // is coarse-assigned by the STORED quantizer, so for its original it
    // lands in the original's nearest-centroid cell (probe #1), attains
    // the minimal ADC in that cell, survives any shortlist, and the
    // exact re-rank pins it at distance 0 / rank 1
    val root = tmpDir("vindex_app")
    val (model, codes) = VectorIndex.build(emb, "vec_id", "embedding", "label", dim, m, k)
    VectorIndex.write(model, codes, root.getPath)
    val nBase = emb.count()
    // exact twins of every 25th vector, under shifted ids
    val twins = emb.filter(col("vec_id") % 25 === 0)
      .select((col("vec_id").cast("long") + 100000L).as("vec_id"),
        col("embedding"), col("label"))
    VectorIndex.append(twins, "vec_id", "embedding", model, root.getPath)
    val combined = VectorIndex.readCodes(spark, root.getPath)
    assert(combined.count() == nBase + twins.count(), "append lost rows")
    // existing base files untouched: base vids all still present exactly once
    assert(combined.filter(col("vid") < 100000L).count() == nBase)

    val res = VectorIndex.query(
        emb.filter(col("vec_id") % 25 === 0), "vec_id", "embedding",
        model, combined,
        rawVectors = emb.select(col("vec_id"), col("embedding"))
          .unionByName(twins.select(col("vec_id"), col("embedding"))),
        nprobe = 1, shortlist = 10, topK = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(res.nonEmpty)
    res.foreach { case (qid, nid, d, rank) =>
      assert(rank == 1L)
      assert(nid == qid + 100000L,
        s"query $qid: rank-1 is $nid, expected its appended twin ${qid + 100000L}")
      assert(d == 0L, s"twin exact distance must be 0, got $d")
    }
  }

  test("batch appends are exactly-once: a replay no-ops, a torn segment rewrites") {
    val root = tmpDir("vindex_batch")
    val (model, codes) = VectorIndex.build(emb, "vec_id", "embedding", "label", dim, m, k)
    VectorIndex.write(model, codes, root.getPath)
    val nBase = emb.count()
    val batch = emb.filter(col("vec_id") % 10 === 0)
      .select((col("vec_id").cast("long") + 200000L).as("vec_id"), col("embedding"))
    assert(VectorIndex.appendBatch(batch, "vec_id", "embedding", model,
      root.getPath, batchId = 0L), "first append must write")
    val nOnce = VectorIndex.readCodesWithIngest(spark, root.getPath).count()
    assert(nOnce == nBase + batch.count())
    // a replayed trigger (same batchId, committed segment) is a no-op
    assert(!VectorIndex.appendBatch(batch, "vec_id", "embedding", model,
      root.getPath, batchId = 0L), "replay of a committed batch must no-op")
    assert(VectorIndex.readCodesWithIngest(spark, root.getPath).count() == nOnce,
      "a replayed batch must never double-append")
    // a torn segment (crash before _SUCCESS) is invisible to readers...
    val marker = new java.io.File(root, "ingest/b0/_SUCCESS")
    assert(marker.delete())
    assert(VectorIndex.readCodesWithIngest(spark, root.getPath).count() == nBase,
      "a torn ingest segment must not be served")
    // ...and the replay OVERWRITES it, restoring exactly-once
    assert(VectorIndex.appendBatch(batch, "vec_id", "embedding", model,
      root.getPath, batchId = 0L), "replay over a torn segment must rewrite")
    assert(VectorIndex.readCodesWithIngest(spark, root.getPath).count() == nOnce)
    // distinct batches land in distinct segments
    assert(VectorIndex.appendBatch(batch.select(
        (col("vec_id") + 100000L).as("vec_id"), col("embedding")),
      "vec_id", "embedding", model, root.getPath, batchId = 1L))
    assert(VectorIndex.readCodesWithIngest(spark, root.getPath).count() ==
      nOnce + batch.count())
  }

  test("multi-trigger streaming ingest == one bulk append, code for code") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val cutoff = emb.agg(max(col("vec_id").cast("long"))).head().getLong(0) / 2
    val base = emb.filter(col("vec_id") <= cutoff)
    val rest = emb.filter(col("vec_id") > cutoff)
    val streamed = tmpDir("vindex_stream")
    val bulk = tmpDir("vindex_bulk")
    val ckpt = tmpDir("vindex_stream_ckpt")
    val (model, codes) = VectorIndex.build(base, "vec_id", "embedding", "label", dim, m, k)
    VectorIndex.writeVersion(model, codes, streamed.getPath, 1)
    VectorIndex.swapPointer(streamed.getPath, 1)
    VectorIndex.write(model, codes, bulk.getPath)
    VectorIndex.append(rest, "vec_id", "embedding", model, bulk.getPath)

    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Seq[Double])]
    val q = graft.streaming.StreamOps.vectorIngestSink(
        input.toDF().toDF("vec_id", "embedding"),
        "vec_id", "embedding", streamed.getPath, dim, m, k)
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("0 seconds"))
      .option("checkpointLocation", ckpt.getPath)
      .start()
    try (0 until 3).foreach { r =>
      input.addData(rest.filter(col("vec_id") % 3 === r)
        .select(col("vec_id").cast("long"), col("embedding").cast("array<double>"))
        .as[(Long, Seq[Double])].collect().toSeq: _*)
      q.processAllAvailable()
    } finally q.stop()

    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select(col("vid"), col("cell"), col("codes").cast("array<long>"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2).toList))
      .sortBy(_._1).toSeq
    val viaStream = canon(VectorIndex.readCodesWithIngest(spark,
      VectorIndex.versionDir(streamed.getPath, 1)))
    assert(viaStream.nonEmpty)
    assert(viaStream == canon(VectorIndex.readCodes(spark, bulk.getPath)),
      "streaming the ingest in triggers must yield the bulk append's codes")
  }

  test("segment fold consolidates files, preserves every code, and answers identically") {
    val root = tmpDir("vindex_fold")
    val cutoff = emb.agg(max(col("vec_id").cast("long"))).head().getLong(0) / 2
    val base = emb.filter(col("vec_id") <= cutoff)
    val rest = emb.filter(col("vec_id") > cutoff)
    val (model, codes) = VectorIndex.build(base, "vec_id", "embedding", "label", dim, m, k)
    VectorIndex.writeVersion(model, codes, root.getPath, 1)
    VectorIndex.swapPointer(root.getPath, 1)
    val v1 = VectorIndex.versionDir(root.getPath, 1)
    // two ingest segments land inside the served version
    VectorIndex.appendBatch(rest.filter(col("vec_id") % 2 === 0),
      "vec_id", "embedding", model, v1, batchId = 0L)
    VectorIndex.appendBatch(rest.filter(col("vec_id") % 2 === 1),
      "vec_id", "embedding", model, v1, batchId = 1L)
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select(col("vid"), col("cell"), col("codes").cast("array<long>"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2).toList))
      .sortBy(_._1).toSeq
    val preFold = canon(VectorIndex.readCodesWithIngest(spark, v1))
    assert(preFold.size == emb.count())

    val v = VectorIndex.foldIngestAndSwap(spark, root.getPath, dim, m, k)
    assert(v == 2 && VectorIndex.currentVersion(root.getPath).contains(2))
    // every code row survives, byte for byte, with no ingest tail left
    assert(canon(VectorIndex.readCurrentCodes(spark, root.getPath)) == preFold,
      "fold must preserve codes exactly (no re-encode)")
    assert(!new java.io.File(VectorIndex.versionDir(root.getPath, 2), "ingest").exists(),
      "the folded version must start with no ingest segments")
    // the folded model is the same model
    val m2 = VectorIndex.readCurrentModel(spark, root.getPath, dim, m, k)
    assert(m2.cents.keySet == model.cents.keySet)
    model.cents.foreach { case (c, arr) =>
      assert(java.util.Arrays.equals(m2.cents(c), arr)) }
    // v1 is untouched (copy-on-write): a reader pinned on it still works
    assert(canon(VectorIndex.readCodesWithIngest(spark, v1)) == preFold)

    // tombstones fold away FOR REAL: deleted rows are dropped from the
    // consolidated codes, so the new version needs no tombstone table —
    // without this the fold would silently resurrect deleted vectors
    val v2 = VectorIndex.versionDir(root.getPath, 2)
    VectorIndex.delete(emb.filter(col("vec_id") % 5 === 0).select("vec_id"),
      "vec_id", v2)
    val v3 = VectorIndex.foldIngestAndSwap(spark, root.getPath, dim, m, k)
    assert(v3 == 3)
    val folded = canon(VectorIndex.readCurrentCodes(spark, root.getPath))
    assert(folded == preFold.filterNot(_._1 % 5 == 0),
      "fold must drop tombstoned rows and preserve the rest byte-identically")
    // ...but the LEDGER is carried forward, so later versions built from
    // the raw corpus still know what was deleted
    assert(VectorIndex.readTombstones(spark,
        VectorIndex.versionDir(root.getPath, 3)).count() > 0,
      "the folded version must carry the delete ledger forward")

    // a RETRAIN from the raw corpus must not resurrect deletes either:
    // the carried ledger plus the new deletes are applied to training
    VectorIndex.delete(emb.filter(col("vec_id") % 3 === 0).select("vec_id"),
      "vec_id", VectorIndex.versionDir(root.getPath, 3))
    val v4 = VectorIndex.retrainAndSwap(emb, "vec_id", "embedding", "label",
      dim, m, k, root.getPath)
    assert(v4 == 4)
    val survivorCount =
      emb.filter(col("vec_id") % 3 =!= 0 && col("vec_id") % 5 =!= 0).count()
    assert(VectorIndex.readCurrentCodes(spark, root.getPath).count() == survivorCount,
      "retrain must keep exactly the survivors (both delete generations)")
    // and the contract holds across ANOTHER raw-corpus retrain: the
    // ledger rides every version until the corpus is cleaned upstream
    VectorIndex.retrainAndSwap(emb, "vec_id", "embedding", "label",
      dim, m, k, root.getPath)
    assert(VectorIndex.readCurrentCodes(spark, root.getPath).count() == survivorCount,
      "a second retrain resurrected previously deleted vectors")
  }

  test("versioned ingest rolls across fold and retrain swaps; cross-swap replays no-op") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = tmpDir("vindex_vsink")
    val ckpt = tmpDir("vindex_vsink_ckpt")
    val cutoff = emb.agg(max(col("vec_id").cast("long"))).head().getLong(0) / 2
    val base = emb.filter(col("vec_id") <= cutoff)
    val rest = emb.filter(col("vec_id") > cutoff)
    val (m1, c1) = VectorIndex.build(base, "vec_id", "embedding", "label", dim, m, k)
    VectorIndex.writeVersion(m1, c1, root.getPath, 1)
    VectorIndex.swapPointer(root.getPath, 1)

    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Seq[Double])]
    val q = graft.streaming.StreamOps.vectorIngestSink(
        input.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
        root.getPath, dim, m, k)
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("0 seconds"))
      .option("checkpointLocation", ckpt.getPath)
      .start()
    def feed(r: Int): Unit = {
      input.addData(rest.filter(col("vec_id") % 3 === r)
        .select(col("vec_id").cast("long"), col("embedding").cast("array<double>"))
        .as[(Long, Seq[Double])].collect().toSeq: _*)
      q.processAllAvailable()
    }
    try {
      // trigger 1 lands its segment inside v1
      feed(0)
      assert(VectorIndex.foldedBatchIds(VectorIndex.versionDir(root.getPath, 1)).isEmpty)
      // maintenance mid-stream: fold absorbs the segment into v2 and
      // carries the ledger
      VectorIndex.foldIngestAndSwap(spark, root.getPath, dim, m, k)
      val v2 = VectorIndex.versionDir(root.getPath, 2)
      assert(VectorIndex.foldedBatchIds(v2) == Set(0L))
      val n2 = VectorIndex.readCodesWithIngest(spark, v2).count()
      // cross-swap replay of trigger 1 must NO-OP against v2 — its rows
      // are already in the folded base; re-appending would double them
      assert(!VectorIndex.appendBatch(
        rest.filter(col("vec_id") % 3 === 0), "vec_id", "embedding",
        VectorIndex.readModel(spark, v2, dim, m, k), v2, batchId = 0L),
        "a replay of a folded batch must no-op after the swap")
      assert(VectorIndex.readCodesWithIngest(spark, v2).count() == n2)
      // trigger 2 lands inside v2 (the sink re-resolved the pointer)
      feed(1)
      assert(new java.io.File(v2, "ingest/b1/_SUCCESS").exists(),
        "the versioned sink must commit into the CURRENT version")
      // retrain mid-stream from the authoritative corpus so far
      VectorIndex.retrainAndSwap(
        base.unionByName(rest.filter(col("vec_id") % 3 < 2)),
        "vec_id", "embedding", "label", dim, m, k, root.getPath)
      val v3 = VectorIndex.versionDir(root.getPath, 3)
      assert(VectorIndex.foldedBatchIds(v3) == Set(0L, 1L),
        "retrain must carry the folded-batch ledger")
      // trigger 3 lands inside v3; the final state holds every vector once
      feed(2)
      assert(VectorIndex.readCodesWithIngest(spark, v3).count() == emb.count(),
        "the rolled ingest must end with every vector exactly once")
      // replays of both absorbed batches still no-op against v3
      val m3 = VectorIndex.readModel(spark, v3, dim, m, k)
      Seq(0, 1).foreach { b =>
        assert(!VectorIndex.appendBatch(
          rest.filter(col("vec_id") % 3 === b), "vec_id", "embedding",
          m3, v3, batchId = b.toLong))
      }
      assert(VectorIndex.readCodesWithIngest(spark, v3).count() == emb.count())
    } finally q.stop()
  }

  test("incomplete index is not 'exists': a torn write forces a rebuild") {
    val root = tmpDir("vindex_torn")
    val (model, codes) = VectorIndex.build(emb, "vec_id", "embedding", "label", dim, m, k)
    VectorIndex.write(model, codes, root.getPath)
    assert(VectorIndex.exists(root.getPath))
    // tear one component's success marker — exists() must flip false
    assert(new java.io.File(root, "codebooks/_SUCCESS").delete())
    assert(!VectorIndex.exists(root.getPath),
      "a torn index (missing _SUCCESS) must not be treated as servable")
  }

  test("retrain lifecycle: unswapped versions are invisible, the swap is all-or-nothing") {
    val root = tmpDir("vindex_ver")
    val half = emb.filter(col("vec_id") % 2 === 0)
    val (m1, c1) = VectorIndex.build(half, "vec_id", "embedding", "label", dim, m, k)
    VectorIndex.writeVersion(m1, c1, root.getPath, 1)
    assert(VectorIndex.currentVersion(root.getPath).isEmpty,
      "a written-but-unswapped version must not be served")
    VectorIndex.swapPointer(root.getPath, 1)
    assert(VectorIndex.currentVersion(root.getPath).contains(1))
    assert(VectorIndex.readCurrentCodes(spark, root.getPath).count() == half.count())

    // a retrain crash BEFORE the swap leaves v1 serving untouched
    val (m2, c2) = VectorIndex.build(emb, "vec_id", "embedding", "label", dim, m, k)
    VectorIndex.writeVersion(m2, c2, root.getPath, 2)
    assert(VectorIndex.currentVersion(root.getPath).contains(1))
    assert(VectorIndex.readCurrentCodes(spark, root.getPath).count() == half.count())

    // the swap flips readers to the full-corpus index in one move
    VectorIndex.swapPointer(root.getPath, 2)
    assert(VectorIndex.currentVersion(root.getPath).contains(2))
    assert(VectorIndex.readCurrentCodes(spark, root.getPath).count() == emb.count())

    // a torn target refuses the swap and the pointer stays on v2
    intercept[IllegalArgumentException] {
      VectorIndex.swapPointer(root.getPath, 3)
    }
    assert(VectorIndex.currentVersion(root.getPath).contains(2))

    // retrainAndSwap composes build→write→swap and bumps the version
    val v = VectorIndex.retrainAndSwap(emb, "vec_id", "embedding", "label",
      dim, m, k, root.getPath)
    assert(v == 3 && VectorIndex.currentVersion(root.getPath).contains(3))
    // a full retrain's answers are IDENTICAL to the derive-in-query chain
    val viaRetrained = VectorIndex.query(emb, "vec_id", "embedding",
        VectorIndex.readCurrentModel(spark, root.getPath, dim, m, k),
        VectorIndex.readCurrentCodes(spark, root.getPath), rawVectors = emb,
        nprobe = 2, shortlist = 10, topK = 3)
      .orderBy("query_id", "rank").collect().toSeq
    val derived = SimilarityOps.ivfPqTopKRefined(emb, "vec_id", "embedding",
        "label", dim, m, k, nprobe = 2, shortlist = 10, topK = 3)
      .orderBy("query_id", "rank").collect().toSeq
    assert(viaRetrained == derived)
  }

  test("recall contract: full probe equals exact brute search; narrow probe degrades gracefully under staleness") {
    import graft.functions.VecExprs
    val root = tmpDir("vindex_recall")
    val cutoff = emb.agg(max(col("vec_id").cast("long"))).head().getLong(0) / 2
    val base = emb.filter(col("vec_id") <= cutoff)
    val rest = emb.filter(col("vec_id") > cutoff)
    // exact L2 brute top-3 with the serving path's tie-break
    val v = emb.select(col("vec_id").cast("long").as("vid"),
      VecExprs.quantize(col("embedding")).as("qv"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("query_id")
      .orderBy(col("d").asc, col("neighbor_id").asc)
    val brute = v.select(col("vid").as("query_id"), col("qv").as("a"))
      .join(v.select(col("vid").as("neighbor_id"), col("qv").as("b")),
        col("query_id") =!= col("neighbor_id"))
      .withColumn("d", VecExprs.sqDist(col("a"), col("b")))
      .withColumn("r", row_number().over(w)).filter(col("r") <= 3)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    val nCells = emb.select("label").distinct().count().toInt
    val nVecs = emb.count().toInt
    def recallOf(nprobe: Int, shortlist: Int): Double = {
      val got = VectorIndex.query(emb, "vec_id", "embedding",
          VectorIndex.readCurrentModel(spark, root.getPath, dim, m, k),
          VectorIndex.readCodesWithIngest(spark, VectorIndex.versionDir(
            root.getPath, VectorIndex.currentVersion(root.getPath).get)),
          rawVectors = emb, nprobe = nprobe, shortlist = shortlist, topK = 3)
        .select("query_id", "neighbor_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      got.intersect(brute).size.toDouble / brute.size
    }
    // v1: model trained on HALF the corpus, other half appended stale
    val (m1, c1) = VectorIndex.build(base, "vec_id", "embedding", "label", dim, m, k)
    VectorIndex.writeVersion(m1, c1, root.getPath, 1)
    VectorIndex.swapPointer(root.getPath, 1)
    VectorIndex.append(rest, "vec_id", "embedding", m1,
      VectorIndex.versionDir(root.getPath, 1))
    val stale = recallOf(2, 10)
    // STRONG contract, model-independent: at full probe + full shortlist
    // every candidate reaches the exact re-rank, so the serving path
    // returns the brute answer EXACTLY — even through a stale model
    assert(recallOf(nCells, nVecs) == 1.0,
      "full-probe serving must equal exact brute search")
    // v2: full retrain
    VectorIndex.retrainAndSwap(emb, "vec_id", "embedding", "label", dim, m, k, root.getPath)
    val retrained = recallOf(2, 10)
    assert(recallOf(nCells, nVecs) == 1.0,
      "full-probe serving must equal exact brute search after retrain")
    info(f"recall@3 vs exact L2 brute at nprobe=2/$nCells%d: " +
      f"stale-append $stale%.3f, retrained $retrained%.3f")
    // These embeddings are synthetic noise (no cluster structure), so
    // narrow-probe recall tracks probe coverage (~2/7), not code
    // quality; measured 0.15 stale / 0.11 retrained. The floors pin
    // "degrades gracefully, never collapses" — the recall/latency dial
    // itself is the nprobe/shortlist contract proven exact above.
    assert(stale >= 0.08, s"stale-append recall collapsed: $stale")
    assert(retrained >= 0.08, s"retrained recall collapsed: $retrained")
  }

  test("tombstoned ids never surface; the pre-filter narrows before the shortlist") {
    val root = tmpDir("vindex_del")
    val (model, codes) = VectorIndex.build(emb, "vec_id", "embedding", "label", dim, m, k)
    VectorIndex.write(model, codes, root.getPath)
    assert(VectorIndex.readTombstones(spark, root.getPath).count() == 0,
      "no deletes issued yet")
    VectorIndex.delete(emb.filter(col("vec_id") % 7 === 0).select("vec_id"),
      "vec_id", root.getPath)
    // double-delete is harmless (idempotent in effect)
    VectorIndex.delete(emb.filter(col("vec_id") % 14 === 0).select("vec_id"),
      "vec_id", root.getPath)

    val stored = VectorIndex.readCodes(spark, root.getPath)
    val res = VectorIndex.query(emb, "vec_id", "embedding", model, stored,
        rawVectors = emb, nprobe = 2, shortlist = 10, topK = 3,
        tombstones = Some(VectorIndex.readTombstones(spark, root.getPath)))
      .orderBy("query_id", "rank")
    assert(res.filter(col("neighbor_id") % 7 === 0).count() == 0,
      "a deleted vector must never be returned as a neighbor")
    // pre-filter semantics: identical to querying an index that never
    // held the deleted vectors' codes (so the shortlist refills from
    // survivors instead of coming back short)
    val reference = VectorIndex.query(emb, "vec_id", "embedding", model,
        stored.filter(col("vid") % 7 =!= 0), rawVectors = emb,
        nprobe = 2, shortlist = 10, topK = 3)
      .orderBy("query_id", "rank")
    assert(res.collect().toSeq == reference.collect().toSeq)

    // neighborFilter narrows the same way (metadata pre-filter)
    val filtered = VectorIndex.query(emb, "vec_id", "embedding", model, stored,
        rawVectors = emb, nprobe = 2, shortlist = 10, topK = 3,
        neighborFilter = Some(col("vid") % 2 === 0))
      .orderBy("query_id", "rank")
    assert(filtered.filter(col("neighbor_id") % 2 =!= 0).count() == 0)
    val filteredRef = VectorIndex.query(emb, "vec_id", "embedding", model,
        stored.filter(col("vid") % 2 === 0), rawVectors = emb,
        nprobe = 2, shortlist = 10, topK = 3)
      .orderBy("query_id", "rank")
    assert(filtered.collect().toSeq == filteredRef.collect().toSeq)
  }

  test("prune deletes superseded versions only; served answers and carried ledgers survive") {
    val root = tmpDir("vindex_prune")
    val half = emb.filter(col("vec_id") % 2 === 0)
    val (m1, c1) = VectorIndex.build(half, "vec_id", "embedding", "label", dim, m, k)
    VectorIndex.writeVersion(m1, c1, root.getPath, 1)
    VectorIndex.swapPointer(root.getPath, 1)
    val batch = emb.filter(col("vec_id") % 2 === 1).limit(30)
      .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
    assert(VectorIndex.appendBatch(batch, "vec_id", "embedding", m1,
      VectorIndex.versionDir(root.getPath, 1), batchId = 0L))
    VectorIndex.foldIngestAndSwap(spark, root.getPath, dim, m, k) // v2, ledger {0}
    VectorIndex.retrainAndSwap(emb, "vec_id", "embedding", "label",
      dim, m, k, root.getPath) // v3, carries the ledger

    val expect = VectorIndex.query(emb, "vec_id", "embedding",
        VectorIndex.readCurrentModel(spark, root.getPath, dim, m, k),
        VectorIndex.readCurrentCodes(spark, root.getPath), rawVectors = emb,
        nprobe = 2, shortlist = 10, topK = 3)
      .orderBy("query_id", "rank").collect().toSeq

    assert(VectorIndex.pruneVersions(root.getPath) == Seq(1),
      "the default prune keeps exactly one reader-grace version")
    assert(graft.io.IndexMeta.exists(VectorIndex.versionDir(root.getPath, 2)))
    assert(VectorIndex.pruneVersions(root.getPath, keepLatest = 1) == Seq(2))
    assert(!graft.io.IndexMeta.exists(VectorIndex.versionDir(root.getPath, 1)))
    assert(VectorIndex.currentVersion(root.getPath).contains(3))
    assert(VectorIndex.query(emb, "vec_id", "embedding",
        VectorIndex.readCurrentModel(spark, root.getPath, dim, m, k),
        VectorIndex.readCurrentCodes(spark, root.getPath), rawVectors = emb,
        nprobe = 2, shortlist = 10, topK = 3)
      .orderBy("query_id", "rank").collect().toSeq == expect,
      "prune moved the served answers")
    // the folded-batch ledger was CARRIED, not referenced: pruning the
    // fold's version cannot resurrect a replay of its absorbed batch
    assert(!VectorIndex.appendBatch(batch, "vec_id", "embedding",
      VectorIndex.readCurrentModel(spark, root.getPath, dim, m, k),
      VectorIndex.versionDir(root.getPath, 3), batchId = 0L),
      "a folded batch replayed against the pruned index must still no-op")
    // and the pointer's future is never touched
    assert(VectorIndex.pruneVersions(root.getPath) == Nil)
  }

  test("racing retrains never interleave: claimed versions stay disjoint, the served index is whole") {
    // Two maintenance jobs racing on one root (a fold racing a retrain
    // under streaming ingest is the deployment shape; two retrains give
    // the same race a deterministic oracle). The claim-based allocation
    // (VersionedStore's, shared with the postings and semantic families)
    // guarantees they never share a version dir; it deliberately does
    // NOT serialize them — both read the same base, the last pointer
    // swap wins, and the loser's complete version goes unreferenced.
    // Both retrain from the SAME corpus, so whoever wins, the served
    // answers equal a clean single retrain.
    val root = tmpDir("vindex_race")
    val half = emb.filter(col("vec_id") % 2 === 0)
    val (m1, c1) = VectorIndex.build(half, "vec_id", "embedding", "label", dim, m, k)
    VectorIndex.writeVersion(m1, c1, root.getPath, 1)
    VectorIndex.swapPointer(root.getPath, 1)

    val versions = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val latch = new java.util.concurrent.CountDownLatch(2)
    def racer() = new Thread(() => {
      latch.countDown(); latch.await()
      try versions.add(VectorIndex.retrainAndSwap(
        emb, "vec_id", "embedding", "label", dim, m, k, root.getPath))
      catch { case t: Throwable => errs.add(t) }
    })
    val (ta, tb) = (racer(), racer())
    ta.start(); tb.start(); ta.join(); tb.join()
    assert(errs.isEmpty, s"racing retrain threw: ${errs.peek()}")
    val got = versions.toArray(Array.empty[Integer]).map(_.toInt).toSet
    assert(got.size == 2 && !got.contains(1),
      s"racers must claim DISJOINT fresh versions, got $got")
    val served = VectorIndex.currentVersion(root.getPath)
    assert(served.exists(got.contains), s"pointer $served must name a racer's version")
    // both racers' versions are complete — the loser is re-runnable/foldable
    got.foreach(v => assert(VectorIndex.exists(VectorIndex.versionDir(root.getPath, v)),
      s"racer version v$v is torn"))
    // the served index answers exactly like a clean single retrain
    val clean = tmpDir("vindex_race_ref")
    val (mr, cr) = VectorIndex.build(emb, "vec_id", "embedding", "label", dim, m, k)
    VectorIndex.write(mr, cr, clean.getPath)
    def answers(model: VectorIndex.Model, codes: org.apache.spark.sql.DataFrame) =
      VectorIndex.query(emb, "vec_id", "embedding", model, codes, rawVectors = emb,
          nprobe = 2, shortlist = 10, topK = 3)
        .orderBy("query_id", "rank")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(answers(VectorIndex.readCurrentModel(spark, root.getPath, dim, m, k),
        VectorIndex.readCurrentCodes(spark, root.getPath)) ==
      answers(mr, VectorIndex.readCodes(spark, clean.getPath)))
  }

  test("fold waits for a held intake claim (trigger/maintenance mutex)") {
    // the round-17 SemanticIndex race exists identically here: a
    // versioned-sink trigger between its pointer resolve and its
    // segment commit must exclude a concurrent fold, or the fold's
    // enumeration misses the segment and the swap loses its rows
    val root = tmpDir("vindex_mutex")
    val (model, codes) = VectorIndex.build(emb.limit(60), "vec_id",
      "embedding", "label", dim, m, k)
    VectorIndex.writeVersion(model, codes, root.getPath, 1)
    VectorIndex.swapPointer(root.getPath, 1)
    val acquired = new java.util.concurrent.CountDownLatch(1)
    val released = new java.util.concurrent.atomic.AtomicBoolean(false)
    val holder = new Thread(() => {
      graft.io.IndexMeta.withIntakeClaim(root.getPath) {
        acquired.countDown()
        Thread.sleep(1500L)
        released.set(true)
      }
    }, "vindex-mutex-holder")
    holder.start()
    assert(acquired.await(30, java.util.concurrent.TimeUnit.SECONDS))
    val v2 = VectorIndex.foldIngestAndSwap(spark, root.getPath, dim, m, k)
    assert(released.get(),
      "foldIngestAndSwap completed while the intake claim was still held")
    holder.join(10000L)
    assert(VectorIndex.currentVersion(root.getPath).contains(v2))
  }
}
