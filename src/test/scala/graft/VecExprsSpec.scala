package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.VecExprs

/** The native vector kernels (functions/VecExprs) must be BIT-IDENTICAL
  * to the higher-order column-function formulations they replaced — all
  * twelve ANN/embedding oracle hashes (q30/q31/q53/q54/q55/q72/q76/
  * q102/q103/q107/q108/q109) rest on that equivalence. Each test
  * recomputes a kernel's output with the original `transform`/
  * `zip_with`/`aggregate` shape on adversarial vectors (negatives,
  * exact centroid hits, ties) and asserts zero mismatches, then repeats
  * with whole-stage codegen disabled so `eval` and `doGenCode` are both
  * pinned to the same arithmetic.
  */
class VecExprsSpec extends SparkSpec {
  import spark.implicits._

  private val dim = 8

  // vectors engineered for edge cases: negative components, a vector
  // equal to a codebook centroid (zero distance), two subspaces whose
  // distances TIE (first-minimum tie-break must match array_position)
  private lazy val vecs: DataFrame = {
    val rows = Seq(
      (1L, Array(0.1f, -0.2f, 0.3f, -0.4f, 0.5f, -0.6f, 0.7f, -0.8f)),
      (2L, Array(-1.5f, 2.5f, -3.5f, 4.5f, 0.0f, 1.0f, -1.0f, 2.0f)),
      (3L, Array(0.0f, 0.0f, 0.0f, 0.0f, 0.0f, 0.0f, 0.0f, 0.0f)),
      (4L, Array(1.0f, 1.0f, 1.0f, 1.0f, -1.0f, -1.0f, -1.0f, -1.0f)),
      (5L, Array(0.999999f, -0.999999f, 0.5f, -0.5f, 0.25f, -0.25f, 4.9f, -4.9f)))
    rows.toDF("vid", "vec")
  }

  private def assertNoDiff(df: DataFrame, a: String, b: String): Unit = {
    // exercise BOTH execution paths: generated code and interpreted eval
    val bad = df.filter(not(col(a) <=> col(b))).count()
    assert(bad == 0, s"$a != $b on $bad rows (codegen)")
    val prev = spark.conf.get("spark.sql.codegen.wholeStage", "true")
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try {
      val bad2 = df.filter(not(col(a) <=> col(b))).count()
      assert(bad2 == 0, s"$a != $b on $bad2 rows (interpreted eval)")
    } finally spark.conf.set("spark.sql.codegen.wholeStage", prev)
  }

  test("quantize kernel == transform(floor(x*1e6)) on float AND double input") {
    val f = vecs
      .withColumn("kf", VecExprs.quantize(col("vec")))
      .withColumn("of", transform(col("vec"), x => floor(x.cast("double") * 1e6).cast("long")))
      .withColumn("vd", transform(col("vec"), _.cast("double")))
      .withColumn("kd", VecExprs.quantize(col("vd")))
      .withColumn("od", transform(col("vd"), x => floor(x * 1e6).cast("long")))
    assertNoDiff(f, "kf", "of")
    assertNoDiff(f, "kd", "od")
  }

  test("subArrays / sqDist / dotLong kernels == zip_with/aggregate folds") {
    val q = vecs.select(col("vid"), VecExprs.quantize(col("vec")).as("qa"))
    val paired = q.crossJoin(q.select(col("qa").as("qb")))
      .withColumn("ks", VecExprs.subArrays(col("qa"), col("qb")))
      .withColumn("os", zip_with(col("qa"), col("qb"), (x, y) => x - y))
      .withColumn("kd", VecExprs.sqDist(col("qa"), col("qb")))
      .withColumn("od", aggregate(zip_with(col("qa"), col("qb"),
        (x, y) => (x - y) * (x - y)), lit(0L), (a, x) => a + x))
      .withColumn("kp", VecExprs.dotLong(col("qa"), col("qb")))
      .withColumn("op", aggregate(zip_with(col("qa"), col("qb"),
        (x, y) => x * y), lit(0L), (a, x) => a + x))
    assertNoDiff(paired, "ks", "os")
    assertNoDiff(paired, "kd", "od")
    assertNoDiff(paired, "kp", "op")
  }

  test("sqDistConst kernel == per-centroid aggregate over a literal array") {
    // the centroid is vid=1's ACTUAL quantization (floor on a
    // float→double negative lands at -200001, not -200000 — deriving it
    // keeps the exact-hit assertion honest)
    val cent: Array[Long] = vecs.filter(col("vid") === 1)
      .select(VecExprs.quantize(col("vec"))).head().getSeq[Long](0).toArray
    val q = vecs.select(VecExprs.quantize(col("vec")).as("qv"))
      .withColumn("k", VecExprs.sqDistConst(col("qv"), cent.toSeq))
      .withColumn("o", aggregate(zip_with(col("qv"),
        array(cent.map(lit).toIndexedSeq: _*), (x, y) => (x - y) * (x - y)),
        lit(0L), (a, x) => a + x))
    assertNoDiff(q, "k", "o")
    // vid=1 quantizes exactly to the centroid — its distance must be 0
    val zero = vecs.select(col("vid"), VecExprs.quantize(col("vec")).as("qv"))
      .withColumn("d", VecExprs.sqDistConst(col("qv"), cent.toSeq))
      .filter(col("vid") === 1).select("d").head().getLong(0)
    assert(zero == 0L, s"exact centroid hit should be distance 0, got $zero")
  }

  test("pqDists / pqCode kernels == slice+aggregate original, ties to first minimum") {
    val sub = 4
    // book with DUPLICATE centroids: codes must break ties to the
    // LOWEST index, matching array_position's first-minimum semantics
    val book: Seq[Array[Long]] = Seq(
      Array(0L, 0L, 0L, 0L),
      Array(100000L, -200000L, 300000L, -400000L),
      Array(0L, 0L, 0L, 0L), // duplicate of index 0 — never the argmin
      Array(999999L, -999999L, 500000L, -500000L))
    val q = vecs.select(VecExprs.quantize(col("vec")).as("qv"))
    (0 until 2).foreach { mi =>
      val piece = slice(col("qv"), mi * sub + 1, sub)
      val orig = array(book.map { c =>
        aggregate(zip_with(piece, array(c.map(lit).toIndexedSeq: _*),
          (x, y) => (x - y) * (x - y)), lit(0L), (a, x) => a + x)
      }: _*)
      val withBoth = q
        .withColumn("kd", VecExprs.pqDists(col("qv"), mi * sub, book))
        .withColumn("od", orig)
        .withColumn("kc", VecExprs.pqCode(col("qv"), mi * sub, book))
        .withColumn("oc", (array_position(col("od"), array_min(col("od"))) - 1).cast("int"))
      assertNoDiff(withBoth, "kd", "od")
      assertNoDiff(withBoth, "kc", "oc")
    }
    // vid=3 is all-zero: both the duplicate-zero centroids tie at 0;
    // the code must be 0 (first minimum), never 2
    val tie = q.limit(0) // recompute from vecs to keep vid
    val code = vecs.select(col("vid"), VecExprs.quantize(col("vec")).as("qv"))
      .withColumn("c", VecExprs.pqCode(col("qv"), 0, book))
      .filter(col("vid") === 3).select("c").head().getInt(0)
    assert(code == 0, s"tie must break to the first minimum (0), got $code")
    assert(tie.count() == 0)
  }

  test("assignCell kernel == array_position(array_min) over per-centroid dists, first-min ties") {
    // centroid set with a DUPLICATE so the argmin ties: the assign must
    // pick the first minimum, exactly like array_position did in the
    // k-literal-array shape this kernel replaced (SimilarityOps.assignCells)
    // centroid 1 is vid=1's ACTUAL quantization (float→double floor
    // lands negatives one off a hand-written literal — derive it, the
    // sqDistConst test's convention) so the exact-hit assertion is honest
    val cent1: Array[Long] = vecs.filter(col("vid") === 1)
      .select(VecExprs.quantize(col("vec"))).head().getSeq[Long](0).toArray
    val cents: Seq[Array[Long]] = Seq(
      Array.fill(dim)(0L),
      cent1,
      Array.fill(dim)(0L), // duplicate of index 0 — never the argmin
      Array(999999L, -999999L, 500000L, -500000L, 250000L, -250000L, 4900000L, -4900000L))
    val q = vecs.select(col("vid"), VecExprs.quantize(col("vec")).as("qv"))
      .withColumn("k", VecExprs.assignCell(col("qv"), cents))
      .withColumn("od", array(cents.map(c => VecExprs.sqDistConst(col("qv"), c.toSeq)): _*))
      .withColumn("o", (array_position(col("od"), array_min(col("od"))) - 1).cast("long"))
    assertNoDiff(q, "k", "o")
    // vid=1 quantizes exactly onto centroid 1 (distance 0 beats the rest)
    val hit = q.filter(col("vid") === 1).select("k").head().getLong(0)
    assert(hit == 1L, s"exact centroid hit must assign to it, got $hit")
    // vid=3 is all-zero: centroids 0 and 2 tie at 0 — must assign 0, never 2
    val tie = q.filter(col("vid") === 3).select("k").head().getLong(0)
    assert(tie == 0L, s"tie must break to the first minimum (0), got $tie")
  }

  test("adcSum kernel == aggregate(zip_with(codes, lut, element_at)) gather") {
    val book: Seq[Array[Long]] = Seq(
      Array(0L, 0L, 0L, 0L), Array(100000L, -200000L, 300000L, -400000L),
      Array(50000L, 50000L, -50000L, -50000L))
    val m = 2
    val q = vecs.select(VecExprs.quantize(col("vec")).as("qv"))
      .withColumn("codes", array((0 until m).map(mi =>
        VecExprs.pqCode(col("qv"), mi * 4, book)): _*))
      .withColumn("lut", array((0 until m).map(mi =>
        VecExprs.pqDists(col("qv"), mi * 4, book)): _*))
      .withColumn("k", VecExprs.adcSum(col("codes"), col("lut")))
      .withColumn("o", aggregate(
        zip_with(col("codes"), col("lut"), (c, row) => element_at(row, c + 1)),
        lit(0L), (a, x) => a + x))
    assertNoDiff(q, "k", "o")
  }

  test("kernels run as session built-ins through SQL (registry injection)") {
    vecs.createOrReplaceTempView("vecs_kernel_spec")
    val viaSql = spark.sql(
      """SELECT vid, graft_sq_dist(graft_quantize(vec), graft_quantize(vec)) AS self_d,
        |       graft_dot_long(graft_quantize(vec), graft_quantize(vec)) AS self_dot
        |FROM vecs_kernel_spec""".stripMargin).collect()
    viaSql.foreach { r =>
      assert(r.getLong(1) == 0L, s"self sq-dist must be 0 for vid=${r.getLong(0)}")
      assert(r.getLong(2) >= 0L)
    }
  }

  test("soak replicas 0..63 of a fixture vector quantize to distinct near-dup arrays") {
    // SoakMain's replica nudge must survive quantization: a sub-grain
    // step floors replicas of one vector back into exact twins
    val base = Seq(0.1234567, -0.5, 0.9999995, 0.0, 1e-7, -0.3333333, 0.25, 0.0000009)
    for (vecId <- Seq(0L, 7L, 499L, 123456789L)) {
      val reps = (0 until 64).map(r => (vecId, r.toLong, base)).toDF("vec_id", "_r", "embedding")
        .select(col("_r"), transform(col("embedding"),
          x => x + SoakMain.replicaNudge(col("vec_id"), col("_r"))).as("nudged"))
        .select(col("_r"), col("nudged"), VecExprs.quantize(col("nudged")).as("q"))
        .collect()
      assert(reps.map(_.getSeq[Long](2)).distinct.length == 64,
        s"vec $vecId: replicas quantized into twins")
      reps.foreach { r =>
        r.getSeq[Double](1).zip(base).foreach { case (x, b) =>
          assert(math.abs(x - b) <= 1e-3, s"vec $vecId replica ${r.getLong(0)}: nudge ${x - b}")
        }
      }
    }
  }
}

