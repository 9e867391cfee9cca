package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Synthetic N×-scale soak of the headline serving lifecycles (round-18
  * verdict #1): sf0.1 (17 MB) is the largest testdata that exists, so
  * every "scale-safe" claim above it rested on plan shape. This main
  * REPLICATES + PERTURBS the sf0.1 corpus deterministically (no RNG —
  * replica/id-derived arithmetic only, so reruns are bit-identical) and
  * drives the headline lifecycles end-to-end at ~10× documents and
  * ~100× embeddings, recording wall-clock, shuffle read/write bytes and
  * disk spill per lifecycle (a SparkListener sums stage task metrics).
  *
  * NOT a bench and NOT an oracle path: no query's declared semantics
  * change, nothing here is cached for any other entry point, and the
  * synthetic corpus lives in a throwaway temp dir. The deliverable is
  * docs/profiles/SOAK_10x_r19.md with the printed floors.
  *
  * Usage: tools/run.sh graft.SoakMain [docMult] [embMult]
  * (defaults 10 and 100 → 50k docs / ~14 MB text, 200k × 64-dim vecs).
  */
object SoakMain {

  /** Replica `replica`'s per-component nudge of vector `vecId`:
    * 2·((vecId + replica) mod 500) quantization grains. Quantization
    * floors at a 1e-6 grain (VecExprs.quantize), so a sub-grain step
    * quantizes replicas back into exact twins; two grains per step keep
    * replicas of one vector distinct after quantizing even where float
    * rounding lands on a grain boundary. At most 499 steps, i.e. under
    * 1e-3 per component, so every replica stays a near-dup of its
    * source. Replicas of one vector are distinct for embMult ≤ 500.
    */
  private[graft] def replicaNudge(vecId: Column, replica: Column): Column =
    ((vecId + replica) % 500L).cast("double") * lit(2.0e-6)

  private class MetricsListener extends SparkListener {
    @volatile var shuffleRead = 0L
    @volatile var shuffleWrite = 0L
    @volatile var spillDisk = 0L
    @volatile var peakExecMem = 0L
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      val m = sc.stageInfo.taskMetrics
      if (m != null) {
        shuffleRead += m.shuffleReadMetrics.totalBytesRead
        shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        spillDisk += m.diskBytesSpilled
        peakExecMem = math.max(peakExecMem, m.peakExecutionMemory)
      }
    }
    def reset(): Unit = { shuffleRead = 0; shuffleWrite = 0; spillDisk = 0; peakExecMem = 0 }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val docMult = args.lift(0).map(_.toInt).getOrElse(10)
    val embMult = args.lift(1).map(_.toInt).getOrElse(100)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
    Tables.sessionConfs.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val metrics = new MetricsListener
    spark.sparkContext.addSparkListener(metrics)
    import spark.implicits._

    val work = java.nio.file.Files.createTempDirectory("graft_soak_").toFile
    def sub(n: String) = new java.io.File(work, n).getPath
    def fmtMB(b: Long) = f"${b / 1048576.0}%8.1f MB"
    // optional 3rd arg: comma-set of lifecycle families to run
    // (curate,dedup,postings,ivfpq,semdedup,semidx) — re-measuring one
    // leg after a fix must not re-pay the whole soak
    val only: Option[Set[String]] = args.lift(2).map(_.split(",").toSet)
    def on(tag: String): Boolean = only.forall(_.contains(tag))

    def lifecycle[A](label: String)(body: => A): A = {
      spark.sparkContext.setJobDescription(s"soak: $label")
      metrics.reset()
      val t0 = System.nanoTime()
      val r = body
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"SOAK $label%-34s ${secs}%8.2f s  shufR=${fmtMB(metrics.shuffleRead)}" +
        f"  shufW=${fmtMB(metrics.shuffleWrite)}  spill=${fmtMB(metrics.spillDisk)}" +
        f"  peakMem=${fmtMB(metrics.peakExecMem)}")
      spark.catalog.clearCache()
      r
    }

    // ---- synthetic corpora: deterministic replicate + perturb ----
    // Documents: replica r offsets ids by r·10M and appends a replica
    // marker token — replicas stay NEAR-dups of their source (shingle
    // sets almost identical), so the dedup/curation lifecycles see the
    // near-dup-rich corpus shape they exist for, at docMult× the mass.
    val baseDocs = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"), col("lang"))
    val docs = lifecycle(s"synthesize docs x$docMult") {
      // replicate via a crossJoin with the replica range, NOT a
      // mult-leg union — a reduce(unionByName) over hundreds of legs
      // is a planning-time bottleneck all by itself (guide §3.3; the
      // ×1000 embeddings union stalled in the optimizer for minutes)
      val reps = spark.range(docMult).select(col("id").cast("long").as("_r"))
      val d = baseDocs.crossJoin(reps).select(
        (col("doc_id") + col("_r") * 10000000L).as("doc_id"),
        when(col("_r") === 0, col("text")).otherwise(
          concat(col("text"), lit(" soakmark"), col("_r"), lit(" marker"),
            (col("doc_id") % 97).cast("string"))).as("text"),
        col("lang"))
      d.write.mode("overwrite").parquet(sub("docs"))
      val out = spark.read.parquet(sub("docs"))
      println(s"SOAK   docs rows = ${out.count()}")
      out
    }

    // Embeddings: replica r offsets ids by r·10M and nudges every
    // component by [[replicaNudge]] — neighbors and cell structure
    // survive, exact duplicates don't.
    val baseEmb = Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id").cast("long").as("vec_id"),
        col("embedding").cast("array<double>").as("embedding"),
        col("label").cast("long").as("label"))
    val emb = lifecycle(s"synthesize embeddings x$embMult") {
      val reps = spark.range(embMult).select(col("id").cast("long").as("_r"))
      val e = baseEmb.crossJoin(reps).select(
        (col("vec_id") + col("_r") * 10000000L).as("vec_id"),
        transform(col("embedding"),
          x => x + replicaNudge(col("vec_id"), col("_r"))).as("embedding"),
        col("label"))
      e.write.mode("overwrite").parquet(sub("emb"))
      val out = spark.read.parquet(sub("emb"))
      println(s"SOAK   embedding rows = ${out.count()}")
      out
    }

    // ---- 1. full curation chain (the q77 shape) ----
    if (on("curate")) lifecycle("curateFull (q77 shape)") {
      val stats = graft.operators.CurationPipeline.statsByLang(
        graft.operators.CurationPipeline.curateFull(docs, "text", "doc_id",
          "lang", col("doc_id") % 10 === 0))
        .collect()
      println(s"SOAK   curated langs = ${stats.length}, " +
        s"survivors = ${stats.map(_.getLong(1)).sum}")
    }

    // ---- 2. prepared-index dedup ingest (the q78 shape) ----
    if (on("dedup")) {
      import graft.operators.DedupOps
      val corpus = docs.filter(col("doc_id") % 50 =!= 3)
      val batch = docs.filter(col("doc_id") % 50 === 3)
        .select((col("doc_id") + 500000000L).as("doc_id"), col("text"))
      val root = sub("dedupidx")
      lifecycle("dedup index build+write (q78)") {
        DedupOps.writeCorpusDedupIndex(
          DedupOps.buildCorpusDedupIndex(corpus, "text", "doc_id",
            n = 3, numHashes = 64, bands = 32,
            maxBucket = graft.queries.LlmFixtures.skewCap),
          root, buckets = 16)
      }
      lifecycle("prepared ingest judge (q78)") {
        val idx = DedupOps.readCorpusDedupIndex(spark, root)
        val n = DedupOps.incrementalDedupPrepared(batch, idx, "text", "doc_id",
          n = 3, numHashes = 64, bands = 32, threshold = 0.5,
          maxBucket = graft.queries.LlmFixtures.skewCap).count()
        println(s"SOAK   judged batch rows = $n")
      }
    }

    // ---- 3. postings lifecycle (the q128 shape) ----
    if (on("postings")) {
      import graft.operators.SearchOps
      val root = sub("postings")
      val cutoff = docs.agg(max(col("doc_id"))).head().getLong(0) / 2
      lifecycle("postings build (q128)") {
        SearchOps.buildPostingsIndex(docs.filter(col("doc_id") <= cutoff),
          "text", "doc_id", root)
      }
      lifecycle("postings 3 appends (q128)") {
        (0 until 3).foreach { r =>
          SearchOps.appendPostingsIndex(
            docs.filter(col("doc_id") > cutoff && col("doc_id") % 3 === r),
            "text", "doc_id", root, batchTag = s"soak-b$r")
        }
      }
      lifecycle("postings fold+prune (q128)") {
        SearchOps.foldPostingsIndex(spark, root)
        SearchOps.prunePostingsVersions(spark, root)
      }
      lifecycle("bm25 serve (q120 shape)") {
        val qs = SearchOps.derivedQueries(baseDocs, "text", "doc_id",
          everyNth = 50, prefixTokens = 8)
        val n = SearchOps.bm25TopKIndexed(spark, root, qs, topK = 5).count()
        println(s"SOAK   bm25 result rows = $n")
      }
    }

    // ---- 4. IVF-PQ vector lifecycle (the q110/q129 shape) ----
    if (on("ivfpq")) {
      import graft.operators.VectorIndex
      val root = sub("vindex")
      val model = lifecycle("ivfpq build+write (q110)") {
        val (m, codes) = VectorIndex.build(emb, "vec_id", "embedding",
          "label", dim = 64, m = 4, k = 16)
        VectorIndex.writeVersion(m, codes, root, 1)
        VectorIndex.swapPointer(root, 1)
        m
      }
      lifecycle("ivfpq serve (q110)") {
        val queries = emb.filter(col("vec_id") % 5000 === 0)
        val n = VectorIndex.query(queries, "vec_id", "embedding",
          VectorIndex.readCurrentModel(spark, root, 64, 4, 16),
          VectorIndex.readCurrentCodes(spark, root), rawVectors = emb,
          nprobe = 2, shortlist = 10, topK = 3).count()
        println(s"SOAK   ann result rows = $n")
      }
      lifecycle("ivfpq append batch (q111)") {
        VectorIndex.append(
          emb.filter(col("vec_id") % 5000 === 1)
            .select((col("vec_id") + 900000000L).as("vec_id"), col("embedding")),
          "vec_id", "embedding", model, VectorIndex.versionDir(root, 1))
      }
    }

    // ---- 5. semantic dedup at the production k≈√n stance (q152) ----
    if (on("semdedup")) lifecycle("semanticDedup k=sqrt(n) (q152 shape)") {
      val n = emb.count()
      val k = math.ceil(math.sqrt(n.toDouble)).toInt
      println(s"SOAK   n = $n, k = $k")
      val verdicts = graft.operators.SimilarityOps.semanticDedup(
        emb, "vec_id", "embedding", k = k, maxIter = 2, t2 = 0.81,
        maxCell = 4 * k)
      val kept = verdicts.filter(col("kept")).count()
      println(s"SOAK   kept = $kept of $n")
    }

    // ---- 6. semantic index build + intake judge (q146 shape) ----
    if (on("semidx")) {
      import graft.operators.SemanticIndex
      val root = sub("semidx")
      lifecycle("semantic index buildAndServe (q146)") {
        SemanticIndex.buildAndServe(
          emb.filter(col("vec_id") % 10 =!= 7), "vec_id", "embedding",
          k = 64, maxIter = 2, root)
      }
      lifecycle("semantic intake judge (q146)") {
        val dir = SemanticIndex.versionDir(root,
          SemanticIndex.currentVersion(root).get)
        val cents = SemanticIndex.readCentroids(spark, dir)
        val corpusL = SemanticIndex.readLabeledWithIngest(spark, dir)
        val batchL = SemanticIndex.label(
          emb.filter(col("vec_id") % 10 === 7)
            .select((col("vec_id") + 800000000L).as("vec_id"), col("embedding")),
          "vec_id", "embedding", cents)
        val verdicts = graft.operators.SimilarityOps.judgeLabeledBatch(
          batchL, corpusL, batchL, t2 = 0.81)
        println(s"SOAK   intake verdicts = ${verdicts.count()}")
      }
    }

    org.apache.commons.io.FileUtils.deleteQuietly(work)
    spark.stop()
  }
}
