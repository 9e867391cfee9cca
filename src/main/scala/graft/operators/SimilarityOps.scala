package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.CacheScope
import graft.functions.VecExprs

/** Approximate-nearest-neighbor search over an embedding column
  * (Array[Float]). Brute-force cosine top-k is the correctness baseline;
  * the partitioned variant is the scale path (IVF-style: restrict the
  * search to a coarse cell, here a precomputed cluster label).
  *
  * All arithmetic is promoted to double and folded sequentially
  * (functions.aggregate) so scores are deterministic.
  */
object SimilarityOps {

  private lazy val log = org.slf4j.LoggerFactory.getLogger("graft.SimilarityOps")

  /** Explicit "no cap" for oracle-checked semantic-dedup paths (the
    * DedupOps.NoBucketCap convention: oracles replay uncapped
    * semantics, so query paths pass this explicitly).
    */
  val NoCellCap: Int = Int.MaxValue

  /** Pair-leg input restricted to cells of width ≤ maxCell — the
    * trained-cell analog of DedupOps.boundBuckets: an adversarial
    * corpus collapsing onto one centroid would otherwise explode that
    * cell's m(m−1)/2 candidate pairs.
    *
    * Widths are a COMBINABLE cell-count aggregate, not a window: the
    * partial aggregation collapses to k rows per partition map-side,
    * so the width exchange is O(partitions · k) count rows — a
    * cell-keyed window here would shuffle (and per-cell buffer) the
    * whole labeled corpus just to count it. The keep-cell list is
    * model-sized (k ≈ √n cells) and rides a broadcast semi-join onto
    * the labeled frame, so the cap adds ZERO corpus-sized shuffle. The
    * width table is persisted for its one eager consumer, the drop-stats
    * collect, and released before this returns: the keep-list then
    * recomputes its k-row count from the still-cached labeled frame when
    * it materializes — corpus-size-independent, and no width cache
    * outlives the call. Members of dropped cells still receive verdict
    * rows (kept — their recall is gone, loudly logged, never silently
    * judged).
    */
  private def boundCells(labeled: DataFrame, maxCell: Int, op: String): DataFrame =
    if (maxCell == NoCellCap) labeled
    else {
      val widths = CacheScope.persist(labeled.groupBy("cell").agg(count(lit(1)).as("_cw")))
      val drops = widths.filter(col("_cw") > maxCell)
        .agg(count(lit(1)).as("n_cells"),
          coalesce(sum(col("_cw")), lit(0L)).as("n_rows"))
        .collect()(0)
      if (drops.getLong(0) > 0)
        log.warn(s"$op: cell cap $maxCell dropped ${drops.getLong(0)} cell(s) / " +
          s"${drops.getLong(1)} vector(s) from the pair legs — semantic-dedup " +
          "recall inside that mass is gone; retrain with larger k, or pass " +
          "NoCellCap on an oracle-checked path")
      else
        log.info(s"$op: cell cap $maxCell dropped nothing")
      val judged = labeled.join(broadcast(widths.filter(col("_cw") <= maxCell).select("cell")),
        Seq("cell"), "left_semi")
      CacheScope.release(widths)
      judged
    }

  /** Cast a float vector column to double for deterministic math. */
  def toDouble(v: Column): Column = transform(v, x => x.cast("double"))

  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def norm(v: Column): Column = sqrt(aggregate(v, lit(0.0), (acc, x) => acc + x * x))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Brute-force cosine top-k neighbors for every vector: O(n²) dot
    * products via self-join. The per-query top-k is a window over the
    * candidate set — at scale prefer [[topKWithinPartition]] or an
    * LSH/IVF candidate generator feeding the same ranking.
    */
  def bruteTopK(emb: DataFrame, idCol: String, vecCol: String, k: Int): DataFrame = {
    val v = emb.select(col(idCol).cast("long").as("vid"), toDouble(col(vecCol)).as("vd"))
      .withColumn("nrm", norm(col("vd")))
    val q = v.select(col("vid").as("query_id"), col("vd").as("qv"), col("nrm").as("qn"))
    val c = v.select(col("vid").as("neighbor_id"), col("vd").as("cv"), col("nrm").as("cn"))
    val scored = q.join(c, col("query_id") =!= col("neighbor_id"))
      .withColumn("score", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("score").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("rank"))
  }

  /** IVF-style partitioned top-k: each coarse cell (label column) is
    * scored in one task over primitive arrays — no O(n²) shuffle rows,
    * JIT-compiled dot loops, cells perfectly parallel at 1000 executors.
    * Dot/norm accumulate left-to-right exactly like the column
    * expressions, so scores (and therefore ranks) are bit-identical to
    * the brute path. Cell cardinality bounds task memory (m·dim doubles);
    * at 100 TB pick the coarse quantizer so cells stay ~10⁴-10⁵ vectors.
    */
  def topKWithinPartition(emb: DataFrame, idCol: String, vecCol: String,
                          cellCol: String, k: Int): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val ds = emb.select(col(cellCol).cast("long").as("cell"),
      col(idCol).cast("long").as("vid"), toDouble(col(vecCol)).as("vd"))
      .as[(Long, Long, Seq[Double])]

    ds.groupByKey(_._1).flatMapGroups { (cell, it) =>
      val members = it.map { case (_, vid, vd) => (vid, vd.toArray) }.toArray
        .sortBy(_._1)
      val n = members.length
      val norms = new Array[Double](n)
      var i = 0
      while (i < n) {
        val a = members(i)._2
        var s = 0.0; var d = 0
        while (d < a.length) { s += a(d) * a(d); d += 1 }
        norms(i) = math.sqrt(s)
        i += 1
      }
      members.indices.iterator.flatMap { qi =>
        val (qid, qv) = members(qi)
        // bounded top-k insertion, ordered (score desc, neighbor_id asc)
        val topIds = new Array[Long](k)
        val topScores = new Array[Double](k)
        var filled = 0
        var ci = 0
        while (ci < n) {
          if (ci != qi) {
            val cv = members(ci)._2
            var s = 0.0; var d = 0
            while (d < cv.length) { s += qv(d) * cv(d); d += 1 }
            val score = s / (norms(qi) * norms(ci))
            val cid = members(ci)._1
            var pos = filled
            while (pos > 0 && (topScores(pos - 1) < score ||
              (topScores(pos - 1) == score && topIds(pos - 1) > cid))) pos -= 1
            if (pos < k) {
              val last = math.min(filled, k - 1)
              var j = last
              while (j > pos) { topIds(j) = topIds(j - 1); topScores(j) = topScores(j - 1); j -= 1 }
              topIds(pos) = cid; topScores(pos) = score
              if (filled < k) filled += 1
            }
          }
          ci += 1
        }
        (0 until filled).map(r => (cell, qid, topIds(r), (r + 1).toLong))
      }
    }.toDF("cell", "query_id", "neighbor_id", "rank")
  }

  // ---------------- k-means coarse-quantizer training ----------------

  /** Integer-quantized components (floor(x·10⁶) longs) — same convention
    * as the embedding near-dup path: distances and sums stay exact
    * integers, bit-identical across engines and partition orders.
    * Native codegen kernel ([[graft.functions.QuantizeVec]]) — one tight
    * loop instead of an interpreted per-element `transform` closure.
    */
  def quantize(v: Column): Column = VecExprs.quantize(v)

  /** Nearest-centroid cell for a quantized vector column: squared
    * euclidean distance (exact long arithmetic), ties break to the
    * lowest cell index (first minimum — identical to the original
    * `array_position(dists, array_min(dists)) - 1` over a k-literal
    * distance array). One [[graft.functions.AssignCellExpr]] kernel
    * node: the centroid matrix is a model constant (k·dim longs) baked
    * into the node and evaluated zero times per row. The previous
    * k-expression shape generated k inlined distance calls + an array
    * build + two array scans per row, and regrew the generated class
    * with k — at the SemDeDup production stance (k ≈ √n, 110 cells at
    * sf0.1 chunk grain) Janino compile time alone dominated every
    * Lloyd pass.
    */
  def assignCells(qv: Column, centroids: Seq[Array[Long]]): Column =
    VecExprs.assignCell(qv, centroids)

  /** Deterministic seeding: the k vectors with the smallest ids. The
    * collect is k rows — the model seed, not data.
    */
  def initialCentroids(emb: DataFrame, idCol: String, vecCol: String, k: Int): Seq[Array[Long]] =
    emb.select(col(idCol).cast("long").as("vid"), quantize(col(vecCol)).as("qv"))
      .orderBy("vid").limit(k).collect()
      .map(r => r.getSeq[Long](1).toArray).toSeq

  // ---- product quantization: the compressed ANN scan ----------------

  /** PQ codebooks: m subspaces × k centroids over quantized subvectors.
    * Deterministic seeding (the k smallest-id vectors, the same
    * convention as [[initialCentroids]], so an oracle can reconstruct
    * the model); production refines each subspace codebook with
    * [[kmeansStepSums]] Lloyd iterations instead. The whole model is
    * k·dim longs — a plan literal, not data.
    */
  def pqCodebooks(emb: DataFrame, idCol: String, vecCol: String,
                  dim: Int, m: Int, k: Int): Seq[Seq[Array[Long]]] = {
    require(dim % m == 0, s"dim $dim must split evenly into $m subspaces")
    val sub = dim / m
    val seeds = initialCentroids(emb, idCol, vecCol, k)
    (0 until m).map(mi => seeds.map(_.slice(mi * sub, (mi + 1) * sub)))
  }

  /** Per-subspace squared-L2 distances of a quantized vector to all k
    * centroids of one codebook: `array<long>` of length k, exact
    * integer arithmetic (same [[quantize]] convention as every
    * embedding operator here — bit-identical across engines). One
    * [[graft.functions.PqSubspaceDists]] kernel node per subspace: the
    * codebook rides the node as a model constant and the k·sub distance
    * loop runs native inside whole-stage codegen — the interpreted
    * `aggregate`/`zip_with` formulation re-evaluated its input chain
    * once per centroid per row (profiled 6× slower at bench scale).
    */
  private def subspaceDists(qv: Column, cb: Seq[Array[Long]],
                            mi: Int, sub: Int): Column =
    VecExprs.pqDists(qv, mi * sub, cb)

  /** Argmin codebook centroid for one subspace (first minimum on ties —
    * identical to `array_position(d, array_min(d)) - 1` over the
    * [[subspaceDists]] row), as one native kernel node.
    */
  private def subspaceCode(qv: Column, cb: Seq[Array[Long]],
                           mi: Int, sub: Int): Column =
    VecExprs.pqCode(qv, mi * sub, cb)

  /** PQ-encode: dim floats → m small codes (argmin centroid per
    * subspace, ties to the lowest index — array_position returns the
    * FIRST minimum). A 64-dim float vector becomes m=4 codes: the scan
    * set shrinks ~64×, which is what makes a linear ADC scan viable
    * over a corpus whose raw vectors no longer fit the cluster.
    */
  def pqEncode(emb: DataFrame, idCol: String, vecCol: String,
               codebooks: Seq[Seq[Array[Long]]]): DataFrame = {
    val m = codebooks.length
    val sub = codebooks.head.head.length
    emb.select(col(idCol).cast("long").as("vid"), quantize(col(vecCol)).as("qv"))
      .withColumn("codes", array((0 until m).map(mi =>
        subspaceCode(col("qv"), codebooks(mi), mi, sub)): _*))
      .select(col("vid"), col("codes"))
  }

  /** Asymmetric-distance (ADC) top-k over PQ codes: each query
    * precomputes its m×k lookup table ONCE (m·k longs), then every
    * (query, neighbor) distance is m positional lookups + adds over the
    * neighbor's codes — never a touch of the neighbor's raw floats.
    * `cellCol` restricts the scan to the query's IVF cell (equi-join —
    * the 100 TB composition: coarse cells prune the scan set, codes
    * compress what remains); without it the scan is the full corpus
    * (the PQ-Flat baseline). Distances are exact longs end to end, so
    * ranks are deterministic (ties break to the lower neighbor id).
    */
  def pqAdcTopK(emb: DataFrame, idCol: String, vecCol: String,
                codebooks: Seq[Seq[Array[Long]]], k: Int = 5,
                cellCol: Option[String] = None): DataFrame = {
    val m = codebooks.length
    val sub = codebooks.head.head.length
    val encoded = pqEncode(emb, idCol, vecCol, codebooks)
      .withColumnRenamed("vid", "neighbor_id")
    val encodedWithCell = cellCol match {
      case Some(c) => emb.select(col(idCol).cast("long").as("neighbor_id"),
          col(c).cast("long").as("_ncell"))
        .join(encoded, Seq("neighbor_id"))
      case None => encoded
    }
    val luts = emb.select(Seq(col(idCol).cast("long").as("query_id"),
        quantize(col(vecCol)).as("qv")) ++
        cellCol.map(c => col(c).cast("long").as("_qcell")): _*)
      .withColumn("lut", array((0 until m).map(mi =>
        subspaceDists(col("qv"), codebooks(mi), mi, sub)): _*))
      .drop("qv")
    val pairs = (cellCol match {
      case Some(_) => luts.join(encodedWithCell,
        col("_qcell") === col("_ncell") && col("query_id") =!= col("neighbor_id"))
      case None => luts.crossJoin(encodedWithCell)
        .filter(col("query_id") =!= col("neighbor_id"))
    }).withColumn("adc_dist", VecExprs.adcSum(col("codes"), col("lut")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("adc_dist").asc, col("neighbor_id").asc)
    pairs.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(Seq(col("query_id"), col("neighbor_id"), col("adc_dist"),
        col("rank").cast("long").as("rank")) ++
        cellCol.map(_ => col("_qcell").as("cell")): _*)
  }

  /** Lloyd-TRAINED PQ codebooks: start from the [[pqCodebooks]] seeds and
    * refine every subspace's codebook jointly — ONE Spark job per
    * iteration trains all m codebooks (per-subspace nearest-centroid
    * assignment, then a (mi, cell, dim) sufficient-statistics
    * aggregation), not m separate Lloyd loops. The shuffle is
    * O(partitions · m · k · sub) = O(partitions · k · dim) rows per
    * iteration — independent of corpus size, the same scaling argument
    * as [[kmeansStepSums]]. Update rule mirrors [[kmeansTrain]] exactly:
    * truncating integer mean per dimension (Long division truncates
    * toward zero, matching the oracle's CASE-guarded `//`), an emptied
    * centroid keeps its previous value, and training stops early once
    * every codebook stabilizes (an oracle unrolling maxIter iterations
    * unconditionally converges to the identical model).
    */
  def pqTrainCodebooks(emb: DataFrame, idCol: String, vecCol: String,
                       dim: Int, m: Int, k: Int,
                       maxIter: Int): Seq[Seq[Array[Long]]] = {
    val sub = dim / m
    var books = pqCodebooks(emb, idCol, vecCol, dim, m, k)
    val qemb = emb.select(quantize(col(vecCol)).as("qv"))
    var it = 0
    var changed = true
    while (it < maxIter && changed) {
      // per-subspace code of every vector under the CURRENT codebooks,
      // then one aggregation over (subspace, code, dim-within-subspace)
      val codes = array((0 until m).map(mi =>
        subspaceCode(col("qv"), books(mi), mi, sub)): _*)
      val stats = qemb
        .withColumn("codes", codes)
        .select(posexplode(col("qv")).as(Seq("dim", "x")), col("codes"))
        .withColumn("mi", (col("dim") / sub).cast("int"))
        .withColumn("cell", element_at(col("codes"), col("mi") + 1))
        .groupBy("mi", "cell", "dim")
        .agg(sum("x").as("sum_q"), count(lit(1)).as("n_vecs"))
        .collect()
      val sums = Array.fill(m, k)(new Array[Long](sub))
      val counts = Array.fill(m)(new Array[Long](k))
      stats.foreach { r =>
        val (mi, cell, d) = (r.getInt(0), r.getInt(1), r.getInt(2))
        sums(mi)(cell)(d - mi * sub) = r.getLong(3)
        counts(mi)(cell) = r.getLong(4)
      }
      val next = books.zipWithIndex.map { case (cb, mi) =>
        cb.zipWithIndex.map { case (old, ci) =>
          if (counts(mi)(ci) == 0) old
          else Array.tabulate(sub)(d => sums(mi)(ci)(d) / counts(mi)(ci))
        }
      }
      changed = next.zip(books).exists { case (nb, ob) =>
        nb.zip(ob).exists { case (a, b) => !java.util.Arrays.equals(a, b) } }
      books = next
      it += 1
    }
    books
  }

  // ---- residual IVF-PQ (IVFADC): PQ over cell-centroid residuals ----

  /** Per-cell centroids of the quantized vectors: truncating integer
    * mean per dimension (the exact [[kmeansTrain]] update rule, so a SQL
    * oracle reproduces it with the same CASE-guarded `//`). One
    * combinable aggregation whose shuffle is O(cells · dim) rows
    * regardless of corpus size; the returned model is cells·dim longs —
    * plan-literal sized, not data.
    */
  def cellCentroids(emb: DataFrame, vecCol: String,
                    cellCol: String): Map[Long, Array[Long]] = {
    val rows = emb.select(col(cellCol).cast("long").as("cell"),
        quantize(col(vecCol)).as("qv"))
      .select(col("cell"), posexplode(col("qv")).as(Seq("dim", "x")))
      .groupBy("cell", "dim")
      .agg(sum("x").as("s"), count(lit(1)).as("n"))
      .collect()
    val dim = rows.map(_.getInt(1)).max + 1
    rows.groupBy(_.getLong(0)).map { case (cell, rs) =>
      val arr = new Array[Long](dim)
      // Long division truncates toward zero — matches the oracle's
      // CASE WHEN s >= 0 THEN s // n ELSE -((-s) // n) END
      rs.foreach(r => arr(r.getInt(1)) = r.getLong(2) / r.getLong(3))
      cell -> arr
    }
  }

  /** (vid, cell, rq) where rq = quantized vector MINUS its cell's
    * centroid — the residual an IVF-PQ index encodes instead of the raw
    * vector. Residuals cluster around zero with far smaller spread than
    * the raw corpus, so the same m·k code budget quantizes them finer
    * (SimilaritySpec pins the error drop). The centroid table rides the
    * plan as a map literal (cells·dim longs), never a join.
    */
  def residuals(emb: DataFrame, idCol: String, vecCol: String,
                cellCol: String,
                cents: Map[Long, Array[Long]]): DataFrame = {
    val centMap = map(cents.toSeq.sortBy(_._1).flatMap { case (c, arr) =>
      Seq(lit(c), array(arr.map(lit).toIndexedSeq: _*)) }: _*)
    emb.select(col(idCol).cast("long").as("vid"),
        col(cellCol).cast("long").as("cell"), quantize(col(vecCol)).as("qv"))
      .withColumn("rq",
        VecExprs.subArrays(col("qv"), element_at(centMap, col("cell"))))
      .select("vid", "cell", "rq")
  }

  /** PQ codebooks seeded from an already-quantized long-array column
    * (the residual path's seeding; [[pqCodebooks]] is the raw-vector
    * specialization). Deterministic: the k smallest-id rows, sliced per
    * subspace — the collect is the k·dim model seed, not data.
    */
  def pqCodebooksFrom(prep: DataFrame, qCol: String,
                      dim: Int, m: Int, k: Int): Seq[Seq[Array[Long]]] = {
    require(dim % m == 0, s"dim $dim must split evenly into $m subspaces")
    val sub = dim / m
    val seeds = prep.select(col("vid"), col(qCol)).orderBy("vid").limit(k)
      .collect().map(_.getSeq[Long](1).toArray).toSeq
    (0 until m).map(mi => seeds.map(_.slice(mi * sub, (mi + 1) * sub)))
  }

  /** Residual IVF-PQ top-k — the IVFADC composition a 100 TB vector
    * store actually runs: the coarse cell prunes the scan set, and PQ
    * codes over cell-centroid RESIDUALS (not raw vectors) compress what
    * remains. Both the query's lookup table and the neighbors' codes
    * live in the same residual space (query and neighbor share a cell,
    * hence a centroid), so ADC distances are directly comparable and —
    * with the [[quantize]] convention — exact longs end to end: an
    * oracle rebuilds centroid → residual → codebooks → codes → rank
    * bit-identically. Output matches [[pqAdcTopK]]'s cell-restricted
    * shape (query_id, neighbor_id, adc_dist, rank, cell).
    */
  def ivfPqTopK(emb: DataFrame, idCol: String, vecCol: String,
                cellCol: String, dim: Int, m: Int, k: Int,
                topK: Int = 5): DataFrame = {
    val sub = dim / m
    val cents = cellCentroids(emb, vecCol, cellCol)
    val prep = residuals(emb, idCol, vecCol, cellCol, cents)
    val books = pqCodebooksFrom(prep, "rq", dim, m, k)
    val codes = prep.withColumn("codes", array((0 until m).map(mi =>
        subspaceCode(col("rq"), books(mi), mi, sub)): _*))
      .select(col("vid").as("neighbor_id"), col("cell").as("_ncell"), col("codes"))
    val luts = prep.select(col("vid").as("query_id"), col("cell").as("_qcell"),
      array((0 until m).map(mi =>
        subspaceDists(col("rq"), books(mi), mi, sub)): _*).as("lut"))
    val pairs = luts.join(codes,
        col("_qcell") === col("_ncell") && col("query_id") =!= col("neighbor_id"))
      .withColumn("adc_dist", VecExprs.adcSum(col("codes"), col("lut")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("adc_dist").asc, col("neighbor_id").asc)
    pairs.withColumn("rank", row_number().over(w)).filter(col("rank") <= topK)
      .select(col("query_id"), col("neighbor_id"), col("adc_dist"),
        col("rank").cast("long").as("rank"), col("_qcell").as("cell"))
  }

  /** Multi-probe residual IVF-PQ top-k: each query probes its `nprobe`
    * NEAREST cells by centroid distance (not only its own label) — the
    * standard recall lever of a production IVF-PQ index, since a query
    * near a cell boundary has true neighbors filed in the adjacent
    * list. Per probed cell the query re-residualizes against THAT
    * cell's centroid and builds a fresh m×k lookup table, so ADC
    * distances approximate ||x − (c_list + r_code)||² per list exactly
    * the way a disk-resident IVFADC scan does; neighbors' codes are the
    * same own-cell residual codes [[ivfPqTopK]] stores — encoded once,
    * probed from every direction. Cost scales linearly in nprobe and
    * stays join-pruned (probe-cell equi-join, never all-pairs); exact
    * longs end to end, oracle-reconstructible.
    */
  def ivfPqTopKProbed(emb: DataFrame, idCol: String, vecCol: String,
                      cellCol: String, dim: Int, m: Int, k: Int,
                      nprobe: Int, topK: Int = 5): DataFrame = {
    val sub = dim / m
    val cents = cellCentroids(emb, vecCol, cellCol)
    val prep = residuals(emb, idCol, vecCol, cellCol, cents)
    val books = pqCodebooksFrom(prep, "rq", dim, m, k)
    val codes = prep.withColumn("codes", array((0 until m).map(mi =>
        subspaceCode(col("rq"), books(mi), mi, sub)): _*))
      .select(col("vid").as("neighbor_id"), col("cell").as("_ncell"), col("codes"))
    // nearest-nprobe cells per query: centroid distances are plan
    // literals (cells·dim longs); array_sort on (dist, cell) structs
    // breaks ties to the lower cell id, matching the oracle's ORDER BY
    val sortedCells = cents.toSeq.sortBy(_._1)
    val q = emb.select(col(idCol).cast("long").as("query_id"),
      quantize(col(vecCol)).as("qv"))
    val probeStructs = array(sortedCells.map { case (c, arr) =>
      struct(VecExprs.sqDistConst(col("qv"), arr.toSeq).as("cdist"),
        lit(c).as("pcell"))
    }: _*)
    val centMap = map(sortedCells.flatMap { case (c, arr) =>
      Seq(lit(c), array(arr.map(lit).toIndexedSeq: _*)) }: _*)
    val luts = q.withColumn("probe",
        explode(slice(array_sort(probeStructs), 1, nprobe)))
      .withColumn("_qcell", col("probe.pcell"))
      .withColumn("rq",
        VecExprs.subArrays(col("qv"), element_at(centMap, col("_qcell"))))
      .withColumn("lut", array((0 until m).map(mi =>
        subspaceDists(col("rq"), books(mi), mi, sub)): _*))
      .select("query_id", "_qcell", "lut")
    val pairs = luts.join(codes,
        col("_qcell") === col("_ncell") && col("query_id") =!= col("neighbor_id"))
      .withColumn("adc_dist", VecExprs.adcSum(col("codes"), col("lut")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("adc_dist").asc, col("neighbor_id").asc)
    pairs.withColumn("rank", row_number().over(w)).filter(col("rank") <= topK)
      .select(col("query_id"), col("neighbor_id"), col("adc_dist"),
        col("rank").cast("long").as("rank"), col("_ncell").as("cell"))
  }

  /** Two-stage retrieval: ADC shortlist, then EXACT re-rank — the
    * refinement step every production IVF-PQ deployment runs, because
    * ADC distances are lossy (codebook-quantized) while the final
    * ordering should not be. Stage 1 is [[ivfPqTopKProbed]] kept to a
    * `shortlist`-sized candidate set per query (compressed codes only,
    * no raw-vector touch); stage 2 joins the |Q|·shortlist surviving
    * pairs — and ONLY those — back to the quantized vectors and ranks
    * by exact squared L2. At 100 TB the expensive exact arithmetic
    * runs on a vanishing fraction of the corpus, and the stage-2 join
    * is an equi-join on vector ids, never all-pairs. Exact longs end
    * to end: the oracle replays shortlist → exact-distance → re-rank.
    */
  def ivfPqTopKRefined(emb: DataFrame, idCol: String, vecCol: String,
                       cellCol: String, dim: Int, m: Int, k: Int,
                       nprobe: Int, shortlist: Int,
                       topK: Int = 5): DataFrame = {
    val cand = ivfPqTopKProbed(emb, idCol, vecCol, cellCol, dim, m, k,
        nprobe, topK = shortlist)
      .select("query_id", "neighbor_id")
    val qv = emb.select(col(idCol).cast("long").as("_vid"),
      quantize(col(vecCol)).as("_qv"))
    val exact = cand
      .join(qv.select(col("_vid").as("query_id"), col("_qv").as("_q")), "query_id")
      .join(qv.select(col("_vid").as("neighbor_id"), col("_qv").as("_n")), "neighbor_id")
      .withColumn("exact_dist", VecExprs.sqDist(col("_q"), col("_n")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("exact_dist").asc, col("neighbor_id").asc)
    exact.withColumn("rank", row_number().over(w)).filter(col("rank") <= topK)
      .select(col("query_id"), col("neighbor_id"), col("exact_dist"),
        col("rank").cast("long").as("rank"))
  }

  /** One Lloyd step's sufficient statistics: per-(cell, dim) component
    * sums and member counts. The dim-explode is narrow and hash
    * aggregation partially combines per partition, so the shuffle is
    * O(partitions · k · dim) rows — independent of corpus size; nothing
    * about the step caps the input at 100 TB.
    */
  def kmeansStepSums(emb: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[Array[Long]]): DataFrame =
    kmeansStepSumsQ(
      emb.select(col(idCol).cast("long").as("vid"), quantize(col(vecCol)).as("qv")),
      centroids)

  /** [[kmeansStepSums]] over an ALREADY-quantized (vid, qv) frame — the
    * shape the single-derivation SemDeDup paths train through so the
    * (possibly expensive) upstream derivation of `emb` is not re-run
    * per Lloyd iteration. Bit-identical: quantize is deterministic, so
    * splitting it out of the step changes nothing downstream.
    */
  private[operators] def kmeansStepSumsQ(qf: DataFrame,
      centroids: Seq[Array[Long]]): DataFrame =
    qf.withColumn("cell", assignCells(col("qv"), centroids))
      .select(col("cell"), posexplode(col("qv")).as(Seq("dim", "x")))
      .groupBy("cell", "dim")
      .agg(sum("x").as("sum_q"), count(lit(1)).as("n_vecs"))
      .select(col("cell"), col("dim").cast("long").as("dim"), col("sum_q"), col("n_vecs"))

  /** Lloyd iterations until centroids stabilize (or maxIter): new
    * centroid = truncating integer mean per dimension; an emptied cell
    * keeps its previous centroid. Per-iteration driver traffic is the
    * k·dim sufficient-statistics rows — the trained model for
    * [[kmeansAssign]] / [[topKWithinPartition]] (IVF with a TRAINED
    * coarse quantizer instead of a precomputed label).
    */
  def kmeansTrain(emb: DataFrame, idCol: String, vecCol: String,
      k: Int, maxIter: Int): Seq[Array[Long]] =
    kmeansTrainQ(
      emb.select(col(idCol).cast("long").as("vid"), quantize(col(vecCol)).as("qv")),
      k, maxIter)

  /** [[kmeansTrain]] over an already-quantized (vid, qv) frame (see
    * [[kmeansStepSumsQ]]): callers whose input is an expensive
    * derivation persist the quantized frame ONCE and train from it,
    * instead of re-deriving the corpus on every Lloyd iteration plus
    * the seed collect plus the final assign.
    */
  private[operators] def kmeansTrainQ(qf: DataFrame,
      k: Int, maxIter: Int): Seq[Array[Long]] = {
    var cents = qf.orderBy("vid").limit(k).collect()
      .map(r => r.getSeq[Long](1).toArray).toSeq
    val dim = cents.head.length
    var it = 0
    var changed = true
    while (it < maxIter && changed) {
      val stats = kmeansStepSumsQ(qf, cents).collect()
      val sums = Array.fill(k)(new Array[Long](dim))
      val counts = new Array[Long](k)
      stats.foreach { r =>
        val (cell, d) = (r.getLong(0).toInt, r.getLong(1).toInt)
        sums(cell)(d) = r.getLong(2)
        counts(cell) = r.getLong(3)
      }
      val next = cents.zipWithIndex.map { case (old, ci) =>
        if (counts(ci) == 0) old
        else Array.tabulate(dim)(d => sums(ci)(d) / counts(ci))
      }
      changed = next.zip(cents).exists { case (a, b) => !java.util.Arrays.equals(a, b) }
      cents = next
      it += 1
    }
    cents
  }

  /** Label every vector with its trained cell — the coarse-quantizer
    * output an IVF index stores alongside the vector.
    */
  def kmeansAssign(emb: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[Array[Long]]): DataFrame =
    emb.withColumn("cell", assignCells(quantize(col(vecCol)), centroids))

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the embedding space with the trained
    * coarse quantizer ([[kmeansTrain]]), compare pairs ONLY within a
    * cluster, and drop every vector whose cosine to a lower-id
    * cluster-mate reaches the threshold (min-id-wins — the greedy
    * convention of the exact/near-dup stages, with dup_of = the lowest
    * matching cluster-mate as the audit evidence).
    *
    * Clustering is what makes embedding dedup tractable at corpus
    * scale: the all-pairs O(n²) of the brute path collapses to
    * Σ|cell|², and k grows with n (k ≈ √n keeps the expected cell at
    * √n vectors) so per-cell work stays bounded. The pair join keys on
    * the cell label — one hash exchange per side, no global self-join —
    * and everything upstream of it is the kmeans sufficient-stats
    * shuffle (k·dim rows per iteration, corpus-size-independent driver
    * traffic). A planted hot cell degrades to that cell's |cell|² only;
    * `maxCell` is the LSH family's cap convention for when an
    * adversarial corpus collapses onto one centroid — oversized cells
    * drop out of the pair legs (members KEPT, loss logged loudly,
    * [[boundCells]]); oracle-checked paths pass [[NoCellCap]].
    *
    * All similarity arithmetic is the exact integer-quantized cosine of
    * the near-dup family (floor(x·1e6) longs; dup iff d > 0 ∧
    * d² ≥ t2·‖a‖²·‖b‖² with t2 the pre-squared threshold), so any
    * engine reproduces the judgment bit-for-bit — no float cosine
    * crosses the engine boundary.
    *
    * Returns one row per input vector: (vid, cell, dup_of, kept).
    */
  def semanticDedup(emb: DataFrame, idCol: String, vecCol: String,
      k: Int, maxIter: Int, t2: Double, maxCell: Int = NoCellCap,
      cacheQuantized: Boolean = false): DataFrame = {
    // cacheQuantized: single derivation of the input — the quantized
    // frame persists ONCE and feeds the seed collect, every Lloyd
    // iteration AND the final labeled table. For an EXPENSIVE upstream
    // (chunk + encode at passage grain: q151/q152) the derivation
    // otherwise re-runs 4-5× (once per training pass plus the final
    // assign); for a plain parquet read the extra materialization costs
    // more than the re-reads it saves (measured: q144 2.6→3.9 s with it
    // always-on), so it is opt-in. Bit-identical either way: quantize
    // is deterministic and the training passes see the same rows.
    val qf0 = emb.select(col(idCol).cast("long").as("vid"),
      quantize(col(vecCol)).as("qv"))
    val qf = if (cacheQuantized) CacheScope.persist(qf0) else qf0
    val cents = kmeansTrainQ(qf, k, maxIter)
    // the labeled+quantized table feeds three consumers (both pair legs
    // and the verdict join-back) — persist it once, the q28/q55
    // rationale; at corpus scale write it as parquet instead (it IS the
    // cell-partitioned index an IVF build would store anyway)
    val q = CacheScope.persist(qf
      .withColumn("cell", assignCells(col("qv"), cents))
      .withColumn("n2", VecExprs.dotLong(col("qv"), col("qv")).cast("double")))
    if (cacheQuantized) {
      // the quantized frame's consumers (seed collect + Lloyd passes)
      // already ran; once the labeled cache is filled — one count over
      // the still-cached quantized frame, the pass the first verdict
      // action would pay anyway — the quantized copy is redundant, and
      // the expensive upstream is never re-derived
      q.count()
      CacheScope.release(qf)
    }
    val judged = boundCells(q, maxCell, "semanticDedup")
    val a = judged.select(col("cell"), col("vid").as("va"), col("qv").as("qa"),
      col("n2").as("na2"))
    val b = judged.select(col("cell"), col("vid").as("vb"), col("qv").as("qb"),
      col("n2").as("nb2"))
    val d = VecExprs.dotLong(col("qa"), col("qb")).cast("double")
    val dups = a.join(b, Seq("cell"))
      .filter(col("va") < col("vb"))
      .withColumn("d", d)
      .filter(col("d") > 0 && col("d") * col("d") >= lit(t2) * col("na2") * col("nb2"))
      .groupBy(col("vb").as("vid"))
      .agg(min(col("va")).as("dup_of"))
    q.select(col("vid"), col("cell"))
      .join(dups, Seq("vid"), "left")
      .withColumn("kept", col("dup_of").isNull)
  }

  /** Incremental SemDeDup: judge a NEW batch of embeddings against an
    * existing corpus without re-deduping the corpus — the q73/q78
    * ingestion stance applied to semantic dedup. The coarse quantizer
    * trains on the CORPUS ONLY (the serving model; a batch must not
    * shift cell boundaries under the corpus it is judged against), both
    * sides label with it, and a batch vector is a duplicate when the
    * exact integer-quantized cosine reaches √t2 against EITHER a
    * same-cell corpus vector (dup_of = lowest matching corpus id) or a
    * same-cell lower-id batch-mate (min-id-wins within the batch);
    * dup_of is the least of the two.
    *
    * Scale: per-ingest compute is batch-proportional — the corpus-side
    * join key is the cell label, so a corpus labeled+quantized table
    * persisted/bucketed by cell (which IS the stored layout of the
    * persisted IVF index, operators/VectorIndex) serves every future
    * batch with no corpus-side exchange; training amortizes across
    * ingests exactly like the prepared dedup index family. Here both
    * labelings derive in-query (the q73 oracle-parity stance); the
    * prepared-layout variant is the vector-index lifecycle.
    *
    * Returns one row per batch vector: (vid, cell, dup_of, kept).
    */
  def incrementalSemanticDedup(newBatch: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int, maxIter: Int, t2: Double,
      maxCell: Int = NoCellCap): DataFrame = {
    // every caller's corpus here is a cheap scan (embeddings parquet),
    // so the quantized frame is NOT persisted: re-deriving it per
    // training pass costs less than materializing a second full copy
    // (measured on q144: always-persisting it read 2.6→3.9 s solo).
    // An expensive-upstream caller would use semanticDedup's
    // cacheQuantized, not this path.
    val cents = kmeansTrainQ(corpus.select(col(idCol).cast("long").as("vid"),
      quantize(col(vecCol)).as("qv")), k, maxIter)
    def labeled(df: DataFrame): DataFrame = CacheScope.persist(
      df.select(col(idCol).cast("long").as("vid"), quantize(col(vecCol)).as("qv"))
        .withColumn("cell", assignCells(col("qv"), cents))
        .withColumn("n2", VecExprs.dotLong(col("qv"), col("qv")).cast("double")))
    val corpusL = labeled(corpus)
    val batchL = labeled(newBatch)
    // the cap bounds each pair leg by ITS candidate-mass side: a hot
    // corpus cell explodes |batch∩cell|·|corpus∩cell|, a hot batch cell
    // its own m(m−1)/2 — capped members stay judgeable on the other leg
    val corpusJ = boundCells(corpusL, maxCell, "incrementalSemanticDedup.corpus")
    val batchJ = boundCells(batchL, maxCell, "incrementalSemanticDedup.batch")
    judgeLabeledBatch(batchL, corpusJ, batchJ, t2)
  }

  /** The judging core of [[incrementalSemanticDedup]] over PRE-LABELED
    * frames (vid, cell, qv, n2): a batch row is a duplicate when the
    * exact integer-quantized cosine reaches √t2 against a same-cell
    * `corpusJ` row (any id) or a same-cell LOWER-id `batchJ` mate;
    * dup_of = the least match across both legs. `corpusJ`/`batchJ` are
    * the pair-leg sides (possibly cell-capped); verdicts cover every
    * `batchL` row regardless. Exposed for callers that hold a PREPARED
    * labeled corpus — the persisted trained-cell layout
    * ([[SemanticIndex]]) — where re-labeling the corpus per batch would
    * defeat the prepared-index stance.
    */
  private[graft] def judgeLabeledBatch(batchL: DataFrame, corpusJ: DataFrame,
      batchJ: DataFrame, t2: Double): DataFrame = {
    def aSide(df: DataFrame): DataFrame =
      df.select(col("cell"), col("vid").as("va"), col("qv").as("qa"),
        col("n2").as("na2"))
    val bSide = batchL.select(col("cell"), col("vid").as("vb"),
      col("qv").as("qb"), col("n2").as("nb2"))
    val d = VecExprs.dotLong(col("qa"), col("qb")).cast("double")
    def minMatch(cand: DataFrame): DataFrame = cand
      .withColumn("d", d)
      .filter(col("d") > 0 && col("d") * col("d") >= lit(t2) * col("na2") * col("nb2"))
      .groupBy(col("vb").as("vid"))
      .agg(min(col("va")).as("m"))
    val vsCorpus = minMatch(bSide.join(aSide(corpusJ), Seq("cell")))
    val vsBatch = minMatch(
      bSide.join(aSide(batchJ), Seq("cell")).filter(col("va") < col("vb")))
    val dups = vsCorpus.select(col("vid"), col("m").as("mc"))
      .join(vsBatch.select(col("vid"), col("m").as("mb")), Seq("vid"), "full")
      .select(col("vid"), least(col("mc"), col("mb")).as("dup_of"))
    batchL.select(col("vid"), col("cell"))
      .join(dups, Seq("vid"), "left")
      .withColumn("kept", col("dup_of").isNull)
  }

  /** Random-hyperplane LSH bucket id (sign bits of hash-derived planes):
    * a deterministic, data-independent coarse cell for when no label
    * exists. planeSeed × dim hashes stand in for gaussian components —
    * adequate bucketing for ANN candidate generation at scale.
    */
  def hyperplaneBucket(vec: Column, numPlanes: Int): Column = {
    val planes = (0 until numPlanes).map { p =>
      // pseudo-random ±1 components: sign of xxhash64(p, dim_index)
      val contrib = aggregate(
        zip_with(vec, sequence(lit(0), size(vec) - 1),
          (x, i) => when(xxhash64(lit(p), i).bitwiseAND(lit(1L)) === 0, x).otherwise(-x)),
        lit(0.0), (acc, x) => acc + x)
      when(contrib > 0, lit(1L << p)).otherwise(lit(0L))
    }
    planes.reduce((a, b) => a.bitwiseOR(b))
  }

  // ------------- multi-probe hyperplane ANN (no-label quantizer) -------------

  /** Engine-independent ±1 plane component: parity of the first hex nibble
    * of sha256("p:d"). Data-independent and tiny (planes × dim), so both
    * Spark and the SQL oracle materialize the same matrix.
    */
  def planeSign(p: Int, d: Int): Int = {
    val digest = java.security.MessageDigest.getInstance("SHA-256")
      .digest(s"$p:$d".getBytes("UTF-8"))
    if (((digest(0) >> 4) & 1) == 0) 1 else -1
  }

  /** Per-plane signed projections as LONGS: each component is
    * floor(v·10⁶) so the per-plane sum is integer arithmetic —
    * order-independent and bit-identical across engines (float summation
    * order would differ between Spark's fold and SQL SUM). Quantization
    * only perturbs the hash boundary, not the ANN scoring.
    */
  def hyperplaneContribs(vec: Column, numPlanes: Int, dim: Int): Column =
    array((0 until numPlanes).map { p =>
      val signs = array((0 until dim).map(d => lit(planeSign(p, d).toLong)): _*)
      aggregate(
        zip_with(vec, signs, (x, s) => floor(x * 1e6).cast("long") * s),
        lit(0L), (acc, x) => acc + x)
    }: _*)

  /** Bucket id = sign bits of the contributions (bit p set ⟺ contrib > 0). */
  def bucketFromContribs(contribs: Column, numPlanes: Int): Column =
    (0 until numPlanes).map { p =>
      when(element_at(contribs, p + 1) > 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))

  /** Multi-probe top-k ANN with the hyperplane quantizer: every vector
    * indexes under its own bucket; each QUERY additionally probes the
    * buckets reached by flipping its lowest-|margin| plane bits — the
    * planes most likely to misassign a true neighbor. Candidates =
    * probed-bucket joins (no all-pairs anywhere); per-query ranking is the
    * exact cosine, identical to the brute scorer. probes counts the base
    * bucket; expected candidate volume ≈ n · probes / 2^numPlanes per
    * query. At 100 TB: raise numPlanes so buckets stay ~10⁴-10⁵ vectors,
    * and band multiple independent plane sets for recall (same pattern as
    * MinHash banding).
    */
  def multiProbeTopK(emb: DataFrame, idCol: String, vecCol: String,
                     numPlanes: Int, dim: Int, probes: Int, k: Int): DataFrame = {
    val powArr = array((0 until numPlanes).map(p => lit(1L << p)): _*)
    val base = emb.select(
        col(idCol).cast("long").as("vid"),
        toDouble(col(vecCol)).as("vd"))
      .withColumn("contribs", hyperplaneContribs(col("vd"), numPlanes, dim))
      .withColumn("bucket", bucketFromContribs(col("contribs"), numPlanes))
      .withColumn("nrm", norm(col("vd")))

    val index = base.select(col("bucket"), col("vid").as("neighbor_id"),
      col("vd").as("cv"), col("nrm").as("cn"))

    // plane indices ordered by |margin| asc (tie: plane asc) → flip masks
    val idxByMargin = transform(
      array_sort(zip_with(col("contribs"), sequence(lit(0), lit(numPlanes - 1)),
        (c, i) => struct(abs(c).as("m"), i.as("i")))),
      x => x.getField("i"))
    val flips = slice(idxByMargin, 1, math.max(0, probes - 1))
    val probeBuckets = array_distinct(concat(
      array(col("bucket")),
      transform(flips, i => col("bucket").bitwiseXOR(element_at(powArr, i.cast("int") + 1)))))

    val queries = base.select(col("vid").as("query_id"), col("vd").as("qv"),
        col("nrm").as("qn"), explode(probeBuckets).as("bucket"))

    // Per-bucket scoring runs the q31 primitive-array kernel (JIT dot
    // loops, bounded top-k insertion, zero scored-pair shuffle rows);
    // per-(query, bucket) top-k then merges globally per query — the
    // global top-k is necessarily a subset of the union of per-bucket
    // top-ks, so results are identical to scoring every candidate.
    val spark = emb.sparkSession
    import spark.implicits._
    val indexDs = index.select(col("bucket"), col("neighbor_id"), col("cv"))
      .as[(Long, Long, Seq[Double])].groupByKey(_._1)
    val queryDs = queries.select(col("bucket"), col("query_id"), col("qv"))
      .as[(Long, Long, Seq[Double])].groupByKey(_._1)

    val perBucket = queryDs.cogroup(indexDs) { (_, qs, ms) =>
      val members = ms.map { case (_, vid, vd) => (vid, vd.toArray) }.toArray
      if (members.isEmpty) Iterator.empty
      else {
        val norms = members.map { case (_, a) =>
          var s = 0.0; var d = 0
          while (d < a.length) { s += a(d) * a(d); d += 1 }
          math.sqrt(s)
        }
        qs.flatMap { case (_, qid, qvSeq) =>
          val qv = qvSeq.toArray
          var qn = 0.0; var d = 0
          while (d < qv.length) { qn += qv(d) * qv(d); d += 1 }
          qn = math.sqrt(qn)
          val topIds = new Array[Long](k)
          val topScores = new Array[Double](k)
          var filled = 0
          var ci = 0
          while (ci < members.length) {
            val (cid, cv) = members(ci)
            if (cid != qid) {
              var s = 0.0; var dd = 0
              while (dd < cv.length) { s += qv(dd) * cv(dd); dd += 1 }
              val score = s / (qn * norms(ci))
              var pos = filled
              while (pos > 0 && (topScores(pos - 1) < score ||
                (topScores(pos - 1) == score && topIds(pos - 1) > cid))) pos -= 1
              if (pos < k) {
                val last = math.min(filled, k - 1)
                var j = last
                while (j > pos) { topIds(j) = topIds(j - 1); topScores(j) = topScores(j - 1); j -= 1 }
                topIds(pos) = cid; topScores(pos) = score
                if (filled < k) filled += 1
              }
            }
            ci += 1
          }
          (0 until filled).map(r => (qid, topIds(r), topScores(r)))
        }
      }
    }.toDF("query_id", "neighbor_id", "score")

    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("score").desc, col("neighbor_id").asc)
    perBucket.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("rank"))
  }
}
