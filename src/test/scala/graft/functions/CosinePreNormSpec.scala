package graft.functions

import graft.SparkTestBase

/** Pins cosine_distance_pre_norm(a, b, norm_sq(a), norm_sq(b)) ≡
  * cosine_distance(a, b) BIT-exactly (round 19, verdict #4 — the
  * quadratic ann candidate stages hoist the pair-invariant norm sums
  * out of the kernel; the spec-pinned ann≡exact set equalities hold
  * only if the hoisted kernel never moves a ULP). The un-fusing
  * argument (CosineDistancePreNorm scaladoc): the fused kernel's
  * three accumulators are independent left-to-right folds, so
  * splitting the loop cannot change any of them; the final
  * `1 - dot/sqrt(na*nb)` is the same expression.
  *
  * Covers: random dense vectors (both codegen and interpreted eval),
  * the zero-norm NaN edge, negative/denormal-ish magnitudes, and
  * norm_sq itself against l2_norm² only as a SANITY bound (they
  * differ by a sqrt round-trip, which is exactly why norm_sq exists).
  */
class CosinePreNormSpec extends SparkTestBase {
  import org.apache.spark.sql.functions._

  private def bits(d: Double): Long = java.lang.Double.doubleToLongBits(d)

  test("pre-norm cosine ≡ fused cosine bit-exactly on random vectors, " +
    "codegen and interpreted") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(190401)
    val rows = Seq.tabulate(500) { i =>
      val dim = 64
      // Mix magnitudes so the norm product spans many exponents.
      val scaleA = math.pow(10, rnd.nextInt(7) - 3)
      val scaleB = math.pow(10, rnd.nextInt(7) - 3)
      val a = Seq.fill(dim)((rnd.nextDouble() - 0.5) * scaleA)
      val b = Seq.fill(dim)((rnd.nextDouble() - 0.5) * scaleB)
      (i.toLong, a, b)
    }
    val df = rows.toDF("id", "a", "b").repartition(5)
    def run(): Array[(Long, Double, Double)] =
      df.selectExpr("id", "cosine_distance(a, b) AS fused",
        "cosine_distance_pre_norm(a, b, norm_sq(a), norm_sq(b)) AS pre")
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    val codegen = run()
    assert(codegen.length === 500)
    codegen.foreach { case (id, fused, pre) =>
      assert(bits(fused) === bits(pre),
        s"row $id: fused $fused != pre-norm $pre")
    }
    interpreted(run()).foreach { case (id, fused, pre) =>
      assert(bits(fused) === bits(pre),
        s"row $id (interpreted): fused $fused != pre-norm $pre")
    }
  }

  test("zero-norm vectors: both kernels agree on NaN") {
    val s = spark
    import s.implicits._
    val df = Seq((Seq(0.0, 0.0), Seq(1.0, 2.0))).toDF("a", "b")
    val r = df.selectExpr("cosine_distance(a, b) AS fused",
      "cosine_distance_pre_norm(a, b, norm_sq(a), norm_sq(b)) AS pre")
      .head
    assert(r.getDouble(0).isNaN && r.getDouble(1).isNaN)
  }

  test("norm_sq is the un-sqrt'd sum (not l2_norm squared)") {
    val s = spark
    import s.implicits._
    // A value whose sqrt round-trip loses bits: norm_sq must be the
    // exact fold, not pow(l2_norm, 2).
    val xs = Seq(0.1, 0.2, 0.3, 1e-8, 7.77)
    val df = Seq(Tuple1(xs)).toDF("a")
    val got = df.selectExpr("norm_sq(a)").head.getDouble(0)
    val want = xs.foldLeft(0.0)((s, x) => s + x * x)
    assert(bits(got) === bits(want))
  }
}
