package graft

import org.apache.spark.sql.functions._

import graft.core.CacheScope
import graft.io.ShardExport
import graft.operators.{CurationPipeline, DedupOps, GraphOps, MixOps,
  SimilarityOps, SplitOps, TextOps}

/** The TRAINING-DATA pipeline, driven END TO END at bench scale in one
  * process (the RefreshE2EMain convention — a PERF.md transcript driver,
  * not a test): 6-stage curation (parquet-materialized, the corpus-scale
  * shape) → trained quality classifier + DSIR importance scores joined
  * onto the survivors → semantic dedup over the embedding modality →
  * leakage-safe train/val/test split + keep-best retention audit (BOTH
  * fed by ONE near-dup component table — the FromComponents reuse
  * seam) → token-budgeted source mixing of the train split → sequence
  * packing + JSONL shard export. Every stage is an oracle-checked
  * operator (q77/q138/q137/q136/q140/q141/q130-q133/q63); this run
  * proves they COMPOSE — shared conventions (doc_id keys, normalized
  * text, exact integer scores) survive stage boundaries — and prices
  * each stage. The fixture PLANTS the signal the synthetic tables lack
  * (round-15 "what's wrong #4" — no organic cosine-0.9 embedding pairs,
  * no target-distinctive vocabulary) and ASSERTS the dedup and
  * classifier stages produce their non-trivial effects, so a regression
  * in either stage fails the run instead of silently no-opping.
  */
object TrainDataE2EMain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val builder = org.apache.spark.sql.SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
    Tables.sessionConfs.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val root = java.nio.file.Files.createTempDirectory("graft_traindata_e2e_").toString
    val timings = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    def stage[T](name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val r = body
      val secs = (System.nanoTime() - t0) / 1e9
      timings += name -> secs
      println(f"TRAINDATA $name%-26s ${secs}%7.2f s")
      r
    }

    val docs = Tables.load(spark, sfDir, "documents")
    val emb = Tables.load(spark, sfDir, "embeddings")
    val isEval = col("doc_id") % 10 === 0

    // 1: curation — gate, exact dedup, line scrub, span dedup, near-dup
    // removal, decontamination; per-stage parquet + cache unpersist
    val curated = stage("curate:6-stage") {
      val c = CurationPipeline.curateFullToParquet(docs, "text", "doc_id",
        "lang", isEval, s"$root/curated")
      println(s"  curated survivors: ${c.count()}")
      c
    }

    // 2: trained quality filter — margins for every raw doc, joined
    // onto the survivors (models train on the FULL corpus: the filter
    // must see what curation dropped, or its raw prior shifts run-to-run).
    // The synthetic corpus draws from one 31-word vocabulary, so the
    // target split carries no distinguishing signal of its own (the
    // round-15 honest note) — the fixture plants it: the classifier's
    // TARGET side reads as a distributionally distinct quality corpus
    // (the GPT-3 recipe's WebText-vs-CommonCrawl setting), its text a
    // 12-word novel vocabulary whose `graft-qc:` sha buckets are all
    // UNOCCUPIED by the corpus vocab (verified offline; a no-bias
    // 90/10-imbalanced model can only push a doc positive through
    // target-exclusive buckets — appended markers drown in the shared
    // common-word buckets' raw-prior weights). A SMALLER raw subset
    // (doc_id % 50 == 5: 2% vs the 10% target) shares the quality
    // text — the target-like raw mass a quality classifier exists to
    // find. The run ASSERTS the trained model separates: planted raw
    // docs predict target-like, unplanted raw docs don't.
    val qualityText = "zephyr quixotic lambent vellum citrine aurum " +
      "gossamer peregrine sylvan thalassic verdant obsidian"
    val isPlantedQuality = col("doc_id") % 50 === 5
    // one scope over stages 2-3: the classifier's feature table and its
    // cached margins go once the scored corpus has landed
    val scored = CacheScope.run {
      val classified = stage("score:classifier") {
        val docsCls = docs.withColumn("text",
          when(isEval || isPlantedQuality, lit(qualityText)).otherwise(col("text")))
        val mc = CacheScope.persist(TextOps.qualityClassifier(
          docsCls, "text", "doc_id", isEval, steps = 3))
        val predPlanted = mc.filter(col("predicted_target") && isPlantedQuality).count()
        val planted = docs.filter(isPlantedQuality).count()
        val predOther = mc.filter(col("predicted_target") && !isPlantedQuality).count()
        println(s"  planted target-like raw docs predicted: $predPlanted/$planted" +
          s" (false positives elsewhere: $predOther)")
        require(predPlanted > 0 && predPlanted * 10 >= planted * 9,
          s"classifier failed to separate the planted vocabulary ($predPlanted/$planted)")
        require(predOther <= predPlanted / 5,
          s"classifier predictions not concentrated on the planted mass ($predOther)")
        val joined = curated.join(mc, Seq("doc_id"), "left")
        val pos = joined.filter(col("predicted_target")).count()
        println(s"  survivors scoring target-like: $pos")
        joined
      }

      // 3: DSIR importance — same feature space, generative ratios
      stage("score:dsir") {
        val s = TextOps.dsirScores(docs, "text", "doc_id", isEval)
        val joined = classified.join(
          s.select(col("doc_id"), col("dsir_score")), Seq("doc_id"), "left")
        joined.write.mode("overwrite").parquet(s"$root/scored")
        spark.read.parquet(s"$root/scored")
      }
    }

    // 4: semantic dedup over the embedding modality (q136 shape). The
    // synthetic embeddings have no organic cosine-0.9 pairs (corpus max
    // ≈ 0.6, the round-15 honest note) — the fixture plants them: every
    // 5th vector re-appends under +1e5 with its first component scaled
    // ×1.25 (the q136 near-dup construction), and the run ASSERTS the
    // stage drops that planted mass.
    stage("dedup:semantic-emb")(CacheScope.run {
      val embBase = emb.select(col("vec_id").cast("long").as("vid"),
        transform(col("embedding"), x => x.cast("double")).as("vd"))
      val embPert = embBase.filter(col("vid") % 5 === 0)
        .select((col("vid") + 100000L).as("vid"),
          concat(array(element_at(col("vd"), 1) * lit(1.25)),
            slice(col("vd"), lit(2), size(col("vd")) - 1)).as("vd"))
      val planted = embPert.count()
      val verdicts = SimilarityOps.semanticDedup(embBase.unionByName(embPert), "vid", "vd",
        k = 8, maxIter = 2, t2 = 0.81)
      val dropped = verdicts.filter(!col("kept")).count()
      println(s"  embedding near-dups dropped: $dropped (planted: $planted)")
      require(dropped > 0 && dropped * 10 >= planted * 9,
        s"semantic dedup failed to drop the planted near-copies ($dropped/$planted)")
    })

    // 5+6: near-dup components built ONCE over the survivors' curated
    // text, feeding BOTH cluster-level policies (the FromComponents
    // reuse seam — one MinHash + one CC job, not one per consumer):
    // the leakage-safe split and the keep-best retention audit.
    val (splitDf, comp) = stage("split:leakage-safe") {
      val pairs = DedupOps.minhashNearDupPairs(scored, "_t", "doc_id",
        n = 3, numHashes = 64, bands = 32, threshold = 0.5,
        maxBucket = DedupOps.DefaultMaxBucket)
      val comp = GraphOps.connectedComponents(pairs, "doc_a", "doc_b")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val sp = SplitOps.leakageSafeSplitFromComponents(scored, "doc_id", comp)
      val bySplit = sp.groupBy("split").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      println(s"  split sizes: $bySplit")
      (scored.join(sp.select("doc_id", "split"), Seq("doc_id")), comp)
    }
    stage("retain:keep-best") {
      val kb = SplitOps.nearDupKeepBestFromComponents(scored, "doc_id",
        length(col("_t")), comp)
      val kbDropped = kb.filter(!col("kept")).count()
      println(s"  keep-best retention drops (same component table): $kbDropped")
      comp.unpersist()
    }

    // 6: token-budgeted source mixing of the train split (fractional
    // weights, the q133 recipe)
    val mixed = stage("mix:token-budget") {
      val train = splitDf.filter(col("split") === "train")
        .join(docs.select(col("doc_id").cast("long").as("doc_id"), col("source")), Seq("doc_id"))
      val w = (expr("CAST(substring(source, 4) AS INT)") % 4 + 1).cast("double") / lit(4.0)
      val m = MixOps.mixByTokenBudget(train, "source", "_t", "doc_id", w, budgetFrac = 0.5)
      println(s"  mixed train docs: ${m.count()}")
      m
    }

    // 7: sequence packing + JSONL shard export of the mixed train set
    stage("export:pack-shards") {
      val withToks = mixed.select(col("doc_id"), col("_t").as("text"),
        size(split(col("_t"), " ")).cast("long").as("tokens"))
      val sharded = ShardExport.assignShards(withToks, "tokens", "doc_id",
        numShards = 8, capacity = 4096L)
      ShardExport.writeJsonlShards(sharded, s"$root/shards")
      val files = new java.io.File(s"$root/shards").listFiles()
      println(s"  shard partitions written: ${if (files == null) 0 else files.count(_.isDirectory)}")
    }

    println("TRAINDATA total " + f"${timings.map(_._2).sum}%7.2f s  (root: $root)")
    spark.stop()
  }
}
