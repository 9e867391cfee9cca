package perfbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.io.{IndexMeta, StableJson}
import graft.operators.{SearchOps, SemanticIndex, VectorIndex}

/** The index half of `curate_index`: the three persisted index families
  * (BM25 postings, IVF-PQ vectors, semantic-dedup cells) built once, then
  * a closed-loop op mix of seeded calls, repeated in rounds ([[Round]]):
  * an ingest into all three families, a hybrid serve call (indexed BM25
  * and ANN query fused by RRF) over a fixed-size query batch, and a
  * fold + prune across all three.
  */
final class IndexWorkload(ctx: Ctx) extends Workload {
  import IndexWorkload._
  private val spark = ctx.spark
  private val seed = ctx.seed
  private val dir = ctx.dir
  private val pRoot = s"$dir/postings"
  private val vRoot = s"$dir/vectors"
  private val sRoot = s"$dir/semantic"
  private val rawVecs = s"$dir/raw/vectors"
  private var model: VectorIndex.Model = _
  private var batches = 0
  private var planted = false
  private val recalls = scala.collection.mutable.ArrayBuffer.empty[Double]
  private var payloadBytes = 0L
  private var written = 0L
  private val serveS = scala.collection.mutable.ArrayBuffer.empty[Double]
  private val ingestS = scala.collection.mutable.ArrayBuffer.empty[Double]
  private val foldS = scala.collection.mutable.ArrayBuffer.empty[Double]
  /** Most versions each family held on disk, read before each prune. */
  private val peakVersions = scala.collection.mutable.Map.empty[String, Int]

  def primaryKind: String = "serve"
  override def period: Int = Round.size

  // ---- seeded inputs ----------------------------------------------------
  // Vectors are two-level clustered: a coarse cell center, a topic offset
  // inside the cell (~10 corpus vectors per topic) and per-vector noise, so
  // a query's true neighbours are its topic's members (cosine ~0.85, below
  // the 0.9 semantic-dup threshold) and ANN recall is a meaningful figure.
  private def gaussVec(keys: Long*): Array[Double] =
    Array.tabulate(Dim)(d => Gen.gauss(seed, (keys :+ d.toLong): _*))
  private lazy val centers = (0 until Cells).map(c => gaussVec(81L, c.toLong))
  private lazy val topics = (0 until Topics).map(t => gaussVec(82L, t.toLong))

  private def cellOf(topic: Int): Int = topic % Cells

  /** Unit vector of `topic`; `key` seeds its noise. */
  private def vector(topic: Int, key: Long): Array[Double] = {
    val c = centers(cellOf(topic))
    val t = topics(topic)
    val noise = gaussVec(83L, key)
    val v = Array.tabulate(Dim)(d => c(d) + 0.6 * t(d) + 0.5 * noise(d))
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(_ / n)
  }

  private def topicOf(key: Long, salt: Long): Int = Gen.below(Topics, seed, salt, key)

  private def docsFrame(ids: Seq[Long]): DataFrame = {
    import spark.implicits._
    ids.map(i => (i, Corpus.words(seed, i, Vocab).mkString(" "))).toDF("doc_id", "text")
  }

  private def vecRows(ids: Seq[Long]): Seq[(Long, Seq[Double], Int)] = ids.map { i =>
    val t = topicOf(i, 84L)
    (i, vector(t, i).toSeq, cellOf(t))
  }

  private def vecFrame(rows: Seq[(Long, Seq[Double], Int)]): DataFrame = {
    import spark.implicits._
    rows.toDF("vec_id", "embedding", "label")
  }

  /** Writes the raw vectors (the ANN leg re-ranks against them) and
    * builds the three families from the same generated rows, each on its
    * own thread (they share no files).
    */
  def setup(): Unit = {
    val docs = docsFrame(1L to BaseDocs.toLong).cache()
    val emb = vecFrame(vecRows(1L to BaseVecs.toLong)).cache()
    Par.all(
      () => emb.write.parquet(rawVecs),
      () => SearchOps.buildPostingsIndex(docs, "text", "doc_id", pRoot),
      () => {
        val (m, codes) = VectorIndex.build(emb, "vec_id", "embedding", "label", Dim, SubSpaces, Codes)
        VectorIndex.writeVersion(m, codes, vRoot, 1)
        VectorIndex.swapPointer(vRoot, 1)
        model = m
      },
      () => SemanticIndex.buildAndServe(emb, "vec_id", "embedding", k = Cells, maxIter = 2, sRoot))
    docs.unpersist()
    emb.unpersist()
    Seq(pRoot, vRoot, sRoot).foreach(r => peakVersions(r) = versions(r))
  }

  // ---- serving ------------------------------------------------------------
  private def queryBatch(i: Int): (DataFrame, DataFrame) = {
    import spark.implicits._
    val ids = (0 until QueryBatch).map(q => QueryIdBase + i.toLong * QueryBatch + q)
    val terms = ids.flatMap { qid =>
      val src = 1L + Gen.below(BaseDocs, seed, 85L, qid)
      val ws = Corpus.words(seed, src, Vocab).filterNot(Corpus.Stopwords.contains).distinct
      (0 until 3).map(t => (qid, ws(Gen.below(ws.length, seed, 85L, qid, t.toLong + 1))))
    }.distinct.toDF("query_id", "term")
    val vecs = vecFrame(ids.map { qid =>
      val t = topicOf(qid, 86L)
      (qid, vector(t, qid).toSeq, cellOf(t))
    }).select("vec_id", "embedding")
    (terms, vecs)
  }

  private def bm25Leg(terms: DataFrame): DataFrame =
    ctx.span("SearchOps.bm25TopKIndexed", "operators.search") {
      SearchOps.bm25TopKIndexed(spark, pRoot, terms, topK = TopK)
    }

  private def annLeg(vecs: DataFrame): DataFrame = ctx.span("VectorIndex.query", "operators.vector") {
    val cur = VectorIndex.currentVersion(vRoot).get
    val raw = spark.read.parquet(rawVecs).select("vec_id", "embedding").unionByName(vecs)
    VectorIndex.query(vecs, "vec_id", "embedding", model,
      VectorIndex.readCodesWithIngest(spark, VectorIndex.versionDir(vRoot, cur)),
      rawVectors = raw, nprobe = 2, shortlist = Shortlist, topK = TopK)
      .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rank"))
  }

  private def fused(bm25: DataFrame, ann: DataFrame): DataFrame =
    ctx.span("SearchOps.rrfFuse", "operators.search") {
      SearchOps.rrfFuse(Seq(bm25.select("query_id", "doc_id", "rank"), ann), topK = TopK)
    }

  private def rows(df: DataFrame): Set[Seq[Any]] = df.collect().map(_.toSeq).toSet

  /** One hybrid serve call: both legs, fused, collected. The answer
    * carries both legs, so checking it checks BM25 exactness and ANN
    * recall at once.
    */
  private def serve(i: Int): OpResult = {
    val (terms, vecs) = queryBatch(i)
    val t0 = System.nanoTime()
    val out = fused(bm25Leg(terms), annLeg(vecs))
    val got = ctx.span("collect", "operators.search")(out.collect())
    val seconds = (System.nanoTime() - t0) / 1e9
    serveS += seconds
    val ok = checkHybrid(terms, vecs, got)
    OpResult("serve", seconds, QueryBatch.toLong, ok)
  }

  /** A hybrid answer against brute force over the same live corpus: the
    * fused ranking must equal RRF over brute-force BM25 and the served ANN
    * leg (so indexed BM25 is exact), and the ANN leg's recall@k against the
    * exact cosine top-k must reach the floor. The three reference queries
    * run concurrently.
    */
  private def checkHybrid(terms: DataFrame, vecs: DataFrame, got: Array[Row]): Boolean =
    ctx.tracer.untraced {
      val served = got.map(_.toSeq).toSet
      val answer = if (ctx.plant && !planted) { planted = true; served.drop(1) } else served
      val live = docsFrame(1L to BaseDocs + batches.toLong * IngestDocs)
      val brute = SearchOps.bm25TopK(live, "text", "doc_id", terms,
        topK = TopK).select("query_id", "doc_id", "rank")
      val ann = annLeg(vecs)
      val exact = SearchOps.cosineTopKFor(vecs, spark.read.parquet(rawVecs), "vec_id", "embedding", TopK)
      val Seq(bruteRows, annRows, exactRows) =
        Par.all(() => brute.collect(), () => ann.collect(), () => exact.collect())
      def local(rs: Array[Row], like: DataFrame) =
        spark.createDataFrame(java.util.Arrays.asList(rs: _*), like.schema)
      val pairs = (rs: Array[Row]) => rs.map(r => (r.get(0), r.get(1))).toSet
      val truth = pairs(exactRows)
      val recall = truth.count(pairs(annRows)).toDouble / truth.size
      recalls += recall
      val ok = answer == rows(SearchOps.rrfFuse(Seq(local(bruteRows, brute), local(annRows, ann)),
        topK = TopK)) && recall >= ctx.recallFloor
      if (!ok) System.err.println(s"perfbench: hybrid serve check failed, recall $recall")
      ok
    }

  // ---- ingest and maintenance ---------------------------------------------
  private def ingest(): OpResult = {
    batches += 1
    val b = batches.toLong
    val docIds = (1 to IngestDocs).map(j => BaseDocs + (b - 1) * IngestDocs + j)
    val vecIds = (1 to IngestVecs).map(j => VecIdBase + (b - 1) * IngestVecs + j)
    // a few planted near-clones of corpus vectors (perturbed well above the
    // 1e-6 quantization grain) that the semantic judge must reject
    val clones = (0 until Clones).map { j =>
      val src = 1L + Gen.below(BaseVecs, seed, 87L, b, j.toLong)
      val t = topicOf(src, 84L)
      val v = vector(t, src).zipWithIndex.map { case (x, d) =>
        x + 1e-3 * Gen.gauss(seed, 88L, b, j.toLong, d.toLong) }
      (VecIdBase + 900000L + b * 100 + j, v.toSeq, cellOf(t))
    }
    val newDocs = docsFrame(docIds)
    val vrows = vecRows(vecIds) ++ clones
    val newVecs = vecFrame(vrows)
    val before = Main.duBytes(dir) - Main.duBytes(s"$dir/raw")
    val t0 = System.nanoTime()
    val (pv, vAppended, rejected) = Par.all(
      () => ctx.span("SearchOps.appendPostingsIndex", "operators.search") {
        SearchOps.appendPostingsIndex(newDocs, "text", "doc_id", pRoot, s"b$b")
      },
      () => ctx.span("VectorIndex.appendBatch", "operators.vector") {
        VectorIndex.appendBatch(newVecs, "vec_id", "embedding", model,
          VectorIndex.versionDir(vRoot, VectorIndex.currentVersion(vRoot).get), b)
      },
      () => ctx.span("SemanticIndex.ingest", "operators.semantic") {
        val sDir = SemanticIndex.versionDir(sRoot, SemanticIndex.currentVersion(sRoot).get)
        val (verdicts, labeled) = SemanticIndex.judgeBatch(newVecs, "vec_id", "embedding", sDir, 0.81)
        val v = verdicts.select("vid", "kept").collect()
        val kept = v.filter(_.getBoolean(1)).map(_.getLong(0)).toSeq
        import spark.implicits._
        SemanticIndex.appendBatch(labeled.join(kept.toDF("vid"), Seq("vid"), "left_semi"), sDir, b)
        v.filterNot(_.getBoolean(1)).map(_.getLong(0)).toSet
      }) match {
      case Seq(p: Option[_], v: Boolean, r: Set[_]) => (p, v, r.asInstanceOf[Set[Long]])
      case other => sys.error(s"unexpected ingest results $other")
    }
    val seconds = (System.nanoTime() - t0) / 1e9
    ingestS += seconds
    written += Main.duBytes(dir) - Main.duBytes(s"$dir/raw") - before
    // the raw vectors the ANN leg re-ranks against and the recall check reads
    newVecs.select("vec_id", "embedding", "label").write.mode("append").parquet(rawVecs)
    payloadBytes += vrows.map(_._2.size * 8L + 16).sum +
      docIds.map(i => Corpus.words(seed, i, Vocab).mkString(" ").length + 8L).sum
    val ok = pv.isDefined && vAppended && clones.forall(c => rejected.contains(c._1))
    if (!ok) System.err.println("perfbench: ingest check failed: " + pv + " " + vAppended + " " + rejected)
    OpResult("ingest", seconds, 0L, ok)
  }

  /** Folds the three families concurrently, then prunes them. The bytes
    * the folds write (the new versions, before the prunes drop the old
    * ones) count as written; the disk walks run between the timed calls.
    */
  private def foldPrune(): OpResult = {
    val before = indexBytes
    val t0 = System.nanoTime()
    Par.all(
      () => ctx.span("SearchOps.foldPostingsIndex", "operators.search") {
        SearchOps.foldPostingsIndex(spark, pRoot)
      },
      () => ctx.span("VectorIndex.foldIngestAndSwap", "operators.vector") {
        VectorIndex.foldIngestAndSwap(spark, vRoot, Dim, SubSpaces, Codes)
        model = VectorIndex.readCurrentModel(spark, vRoot, Dim, SubSpaces, Codes)
      },
      () => ctx.span("SemanticIndex.foldIngestAndSwap", "operators.semantic") {
        SemanticIndex.foldIngestAndSwap(spark, sRoot)
      })
    val foldSeconds = (System.nanoTime() - t0) / 1e9
    written += math.max(0L, indexBytes - before)
    Seq(pRoot, vRoot, sRoot).foreach(r => peakVersions(r) = peakVersions(r) max versions(r))
    val t1 = System.nanoTime()
    ctx.span("SearchOps.prunePostingsVersions", "operators.search") {
      SearchOps.prunePostingsVersions(spark, pRoot, keepLatest = 1)
    }
    ctx.span("VectorIndex.pruneVersions", "operators.vector")(VectorIndex.pruneVersions(vRoot, keepLatest = 1))
    ctx.span("SemanticIndex.pruneVersions", "operators.semantic") {
      SemanticIndex.pruneVersions(sRoot, keepLatest = 1)
    }
    val seconds = foldSeconds + (System.nanoTime() - t1) / 1e9
    foldS += seconds
    OpResult("fold_prune", seconds, 0L, Seq(pRoot, vRoot, sRoot).forall(versions(_) == 1))
  }

  def op(i: Int): OpResult = Round(i % Round.size) match {
    case "ingest" => ingest()
    case "fold" => foldPrune()
    case _ => serve(i)
  }

  private def versions(root: String): Int =
    IndexMeta.listChildNames(s"$root/versions").count(_.matches("v\\d{4,}"))

  private def indexBytes: Long = Seq(pRoot, vRoot, sRoot).map(Main.duBytes).sum

  /** Bytes the served versions reach: the current version dir of each
    * family plus the postings segments its manifest carries by reference.
    */
  def liveBytes: Long = {
    val pv = SearchOps.postingsVersionDir(pRoot, SearchOps.postingsCurrentVersion(pRoot).get)
    val segs = IndexMeta.readString(s"$pv/manifest.json").map(StableJson.parse).collect {
      case m: Map[_, _] => m.asInstanceOf[Map[String, Any]]("segments").asInstanceOf[Seq[Any]]
    }.getOrElse(Nil).map(s => s"$pRoot/$s").filterNot(_.startsWith(pv))
    Main.duBytes(pv) + segs.map(Main.duBytes).sum +
      Main.duBytes(VectorIndex.versionDir(vRoot, VectorIndex.currentVersion(vRoot).get)) +
      Main.duBytes(SemanticIndex.versionDir(sRoot, SemanticIndex.currentVersion(sRoot).get))
  }

  def writtenBytes: Long = written
  def inputBytes: Long = payloadBytes
  def bytesOnDisk: Long = indexBytes
  override def detail: Map[String, Any] = Map("ann_recall_at_k" -> recalls.toSeq)
  def layerExtras: Map[String, Double] = Map(
    "operators.search.versions_live" -> peakVersions(pRoot).toDouble,
    "operators.vector.versions_live" -> peakVersions(vRoot).toDouble,
    "operators.semantic.versions_live" -> peakVersions(sRoot).toDouble,
    "index.serve_s.p50" -> Main.median(serveS.toSeq),
    "index.ingest_s.p50" -> Main.median(ingestS.toSeq),
    "index.fold_prune_s.p50" -> Main.median(foldS.toSeq))
}

object IndexWorkload {
  val BaseDocs = 2000
  val BaseVecs = 1500
  val Vocab = 3000
  val Dim = 64
  val SubSpaces = 4
  val Codes = 16
  val Cells = 8
  val Topics = 150
  val TopK = 10
  val Shortlist = 50
  /** 40 queries and 40 ingested docs and vectors per call: the sizes of
    * the repository's soak driver (one derived BM25 query per 50 corpus
    * docs; ANN queries and the IVF-PQ append batch one vector in 5000 of
    * 200k).
    */
  val QueryBatch = 40
  val IngestDocs = 40
  val IngestVecs = 40
  val Clones = 4
  /** One round of the op mix: an ingest, a serve call that reads the
    * unfolded segment, a fold + prune. The ratio is an assumption, not a
    * measured traffic mix: the soak driver folds after three appends, but
    * a round of three ingests does not fit the run budget.
    */
  val Round: Seq[String] = Seq("ingest", "serve", "fold")
  val QueryIdBase = 50000000L
  val VecIdBase = 1000000L
}
