package graft.functions

import graft.SparkTestBase
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Pins `nearest_cells` to the argmin forms it replaced, id for id.
  * The reference arms are those forms, kept here: a cross join with the
  * codebook and a grouped `min_by` for p = 1, a `row_number` window for
  * top-p, and the per-subspace `min_by` of the PQ encode. Each input
  * family is checked under every metric, at p = 1, 4 and 8, through
  * the codegen'd and the interpreted expression and through the
  * driver-side core ([[Codebook.nearest]], what
  * [[graft.plans.IvfIndex.probeCells]] calls). */
class NearestCellsSpec extends SparkTestBase {

  private val metrics = Seq(CellMetric.Cosine, CellMetric.L2, CellMetric.SqL2)

  private def dist(m: CellMetric, a: Column, b: Column): Column = m match {
    case CellMetric.Cosine => GraftFunctions.cosine_distance(a, b)
    case CellMetric.L2 => GraftFunctions.l2_distance(a, b)
    case CellMetric.SqL2 => GraftFunctions.sq_l2_distance(a, b)
  }

  /** p = 1 reference: cross join + `min_by` on (round6(dist), cid). */
  private def refArgmin(vecs: DataFrame, cents: DataFrame,
      m: CellMetric): Map[Long, Seq[Long]] =
    vecs.crossJoin(broadcast(cents))
      .withColumn("d", round(dist(m, col("v"), col("cv")), 6))
      .groupBy("id").agg(expr("min_by(cid, struct(d, cid))").as("cid"))
      .collect().map(r => r.getLong(0) -> Seq(r.getLong(1))).toMap

  /** Top-p reference: the `row_number` window over the cross join. */
  private def refTopP(vecs: DataFrame, cents: DataFrame, m: CellMetric,
      p: Int): Map[Long, Seq[Long]] =
    vecs.crossJoin(broadcast(cents))
      .withColumn("d", round(dist(m, col("v"), col("cv")), 6))
      .withColumn("rn", row_number().over(
        Window.partitionBy("id").orderBy(col("d"), col("cid"))))
      .filter(col("rn") <= p)
      .groupBy("id").agg(array_sort(collect_list(struct(col("rn"), col("cid")))).as("r"))
      .collect().map(r => r.getLong(0) ->
        r.getSeq[org.apache.spark.sql.Row](1).map(_.getLong(1))).toMap

  private def kernel(vecs: DataFrame, cb: Codebook, m: CellMetric,
      p: Int): Map[Long, Seq[Long]] =
    vecs.select(col("id"), GraftFunctions.nearest_cells(col("v"), cb, p, m))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap

  private def driver(vecs: DataFrame, cb: Codebook, m: CellMetric,
      p: Int): Map[Long, Seq[Long]] = {
    val rows = Codebook.collect(vecs.select("id", "v"))
    rows.cids.zip(rows.vecs).map { case (id, v) => id -> cb.nearest(v, p, m).toSeq }.toMap
  }

  /** Every arm against the references, on (id, v) vectors and (cid, cv)
    * centroids. */
  private def checkAll(name: String, vecs: DataFrame, cents: DataFrame): Unit = {
    val cb = Codebook.collect(cents)
    for (m <- metrics; p <- Seq(1, 4, 8)) {
      val ref = if (p == 1) refArgmin(vecs, cents, m) else refTopP(vecs, cents, m, p)
      val arms = Seq("codegen" -> kernel(vecs, cb, m, p),
        "interpreted" -> interpreted(kernel(vecs, cb, m, p)),
        "driver" -> driver(vecs, cb, m, p))
      arms.foreach { case (arm, got) =>
        val bad = ref.keys.toSeq.sorted.filter(id => got.get(id) != ref.get(id))
        assert(bad.isEmpty && got.size == ref.size,
          s"$name / $m / p=$p / $arm: ${bad.size} rows differ, e.g. " +
            bad.take(3).map(id => s"$id: ${got.get(id)} != ${ref(id)}").mkString("; "))
      }
    }
  }

  private def gaussians(seed: Int, n: Int, dim: Int): Seq[(Long, Seq[Double])] = {
    val r = new scala.util.Random(seed)
    (0 until n).map(i => (i.toLong, Seq.fill(dim)(r.nextGaussian())))
  }

  private def frames(rows: Seq[(Long, Seq[Double])], cells: Int,
      float: Boolean = false): (DataFrame, DataFrame) = {
    val s = spark
    import s.implicits._
    val vt = if (float) "array<float>" else "array<double>"
    val vecs = rows.toDF("id", "v").select(col("id"), col("v").cast(vt).as("v"))
      .repartition(3)
    (vecs, vecs.filter(col("id") < cells).select(col("id").as("cid"), col("v").as("cv")))
  }

  test("random vectors: ARRAY<FLOAT> and ARRAY<DOUBLE> inputs match every reference") {
    val rows = gaussians(7, 300, 16)
    val (fv, fc) = frames(rows, 16, float = true)
    checkAll("random float", fv, fc)
    val (dv, dc) = frames(rows, 16)
    checkAll("random double", dv, dc)
  }

  test("duplicate centroids: exact ties go to the lower cid") {
    val base = gaussians(11, 120, 8)
    val cents = base.take(12)
    // cid 3 repeats cid 9's vector; cid 5 is cid 1 scaled by 2, an
    // exact cosine tie (power-of-two scaling is exact).
    val dup = cents.map {
      case (3L, _) => (3L, cents(9)._2)
      case (5L, _) => (5L, cents(1)._2.map(_ * 2))
      case c => c
    }
    val rows = dup ++ base.drop(12) ++
      Seq((500L, cents(9)._2), (501L, cents(1)._2.map(_ * 3)))
    val (v, c) = frames(rows, 12)
    checkAll("duplicate centroids", v, c)
  }

  test("values on 6-dp half boundaries: rounding ties resolve by cid") {
    // 1-D offsets on a 1e-7 grid against centroids 3.3e-6 apart: many
    // distances round onto one 6-dp value, several sit on a half.
    val l2 = (0 until 400).map(i => (i.toLong + 100, Seq(i * 1e-7 + 0.1234560, 0.0))) ++
      (0 until 16).map(k => (k.toLong, Seq(k * 3.3e-6 + 0.1234565, 0.0)))
    val (lv, lc) = frames(l2, 16)
    checkAll("half boundaries (offsets)", lv, lc)
    // Angles on a fine grid for cosine's 1 - cos(a - b).
    val ang = (0 until 400).map { i =>
      val a = 0.002 + i * 1.3e-5
      (i.toLong + 100, Seq(math.cos(a), math.sin(a)))
    } ++ (0 until 16).map { k =>
      val a = k * 3.1e-4
      (k.toLong, Seq(math.cos(a), math.sin(a)))
    }
    val (av, ac) = frames(ang, 16)
    checkAll("half boundaries (angles)", av, ac)
  }

  test("zero vectors and null vectors: NaN sorts last, NULL first, ties by cid") {
    val base = gaussians(13, 60, 8)
    // cid 4 is a zero centroid (a NaN cosine for every vector); rows 70
    // and 71 are zero vectors (NaN against every centroid).
    val rows = base.map { case (4L, v) => (4L, v.map(_ => 0.0)); case r => r } ++
      Seq((70L, Seq.fill(8)(0.0)), (71L, Seq.fill(8)(-0.0)))
    val (v, c) = frames(rows, 10)
    val s = spark
    import s.implicits._
    val withNull = v.unionByName(Seq((72L, null: Seq[Double])).toDF("id", "v"))
    checkAll("zero and null vectors", withNull, c)
    val cb = Codebook.collect(c)
    assert(cb.nearest(Array.fill(8)(0.0), 3, CellMetric.Cosine).toSeq === Seq(0L, 1L, 2L))
  }

  test("PQ codes equal the per-subspace min_by encode") {
    val rows = gaussians(17, 200, 64)
    val (v, c) = frames(rows, 16)
    val codebook = c.select(col("cid").as("code"),
        explode(expr("sequence(0, 7)")).as("m"), col("cv"))
      .select(col("code"), col("m"), expr("slice(cv, m*8+1, 8)").as("cs"))
    val ref = v.crossJoin(broadcast(codebook))
      .select(col("id"), col("m"), col("code"),
        round(GraftFunctions.l2_distance(expr("slice(v, m*8+1, 8)"), col("cs")), 6)
          .as("dist"))
      .groupBy("id", "m").agg(expr("min_by(code, struct(dist, code))").as("code"))
      .groupBy("id")
      .agg(expr("transform(array_sort(collect_list(struct(m, code))), x -> x.code)")
        .as("pq"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val cb = Codebook.collect(c)
    def encode(): Map[Long, Seq[Long]] =
      v.select(col("id"), array((0 until 8).map(m => GraftFunctions.nearest_cells(
          slice(col("v"), m * 8 + 1, 8), cb.slice(m * 8, 8), 1, CellMetric.L2)(0)): _*))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(encode() === ref)
    assert(interpreted(encode()) === ref)
  }

  test("the codebook folds out of the plan and SQL text can call the kernel") {
    val got = spark.sql("SELECT nearest_cells(array(1.0D, 0.0D), " +
        "array(named_struct('cid', 7L, 'cv', array(0.0D, 1.0D)), " +
        "named_struct('cid', 3L, 'cv', array(1.0D, 0.1D))), 2, 'cosine') AS c")
    assert(got.head.getSeq[Long](0) === Seq(3L, 7L))
    assert(got.queryExecution.analyzed.toString.contains("codebook[2 x 2]"))
    val bad = intercept[Exception](spark.sql(
      "SELECT nearest_cells(array(1.0D), array(named_struct('cid', 1L, " +
        "'cv', array(1.0D))), 1, 'hamming')").collect())
    val messages = Iterator.iterate[Throwable](bad)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).toSeq
    assert(messages.exists(m => m != null && m.contains("cosine|l2|sq_l2")), messages)
  }
}
