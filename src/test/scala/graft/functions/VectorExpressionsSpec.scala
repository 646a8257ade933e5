package graft.functions

import graft.SparkTestBase
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** Unit fixtures for the codegen vector kernels: hand-computed 2-4
  * dim values, edge cases (nulls, empty, zero-norm, mismatched
  * lengths), codegen-vs-interpreted parity, and kernel-vs-HOF parity
  * (the higher-order formulations in GraftFunctions are the
  * independent reference implementation). */
class VectorExpressionsSpec extends SparkTestBase with AdaptiveSparkPlanHelper {
  import org.apache.spark.sql.functions._

  /** `df` behind a shuffle. A projection straight over a local
    * `Seq(...).toDF` frame is evaluated, interpreted, while the plan is
    * optimized (ConvertToLocalRelation), so it would never reach codegen. */
  private def staged(df: DataFrame): DataFrame = df.repartition(1)

  /** `df`'s rows, after checking that `kernel` ran inside a
    * whole-stage-codegen stage. */
  private def compiled(df: DataFrame, kernel: String): Array[Row] = {
    val rows = df.collect()
    val plan = df.queryExecution.executedPlan
    assert(collect(plan) { case w: WholeStageCodegenExec => w }
      .exists(_.child.toString.contains(kernel + "(")),
      s"$kernel ran outside whole-stage codegen:\n$plan")
    rows
  }

  /** The kernel columns `k` of `base` (compiled, see [[compiled]]) next
    * to the reference columns `ref`, as (kernel, reference) row pairs
    * matched on `base`'s `id`. A higher-order reference in the kernel's
    * projection would keep that projection out of whole-stage codegen,
    * so the two run as separate projections. */
  private def againstRef(base: DataFrame, kernel: String, k: Seq[Column],
      ref: Seq[Column]): Seq[(Row, Row)] = {
    def byId(rs: Array[Row]) = rs.map(r => r.getLong(0) -> r).toMap
    val got = byId(compiled(base.select(col("id") +: k: _*), kernel))
    val want = byId(base.select(col("id") +: ref: _*).collect())
    assert(got.keySet == want.keySet)
    got.toSeq.map { case (id, r) => (r, want(id)) }
  }

  /** `rows` with a row id in front. */
  private def keyed[A, B](rows: Seq[(A, B)]): Seq[(Long, A, B)] =
    rows.zipWithIndex.map { case ((a, b), i) => (i.toLong, a, b) }

  private def df1(a: Seq[java.lang.Double], b: Seq[java.lang.Double]) = {
    val s = spark
    import s.implicits._
    staged(Seq((a, b)).toDF("a", "b"))
  }

  private def evalBoth(a: Seq[java.lang.Double], b: Seq[java.lang.Double],
      exprSql: String): (Double, Double) = {
    val base = df1(a, b)
    val codegen = compiled(base.selectExpr(exprSql), exprSql.takeWhile(_ != '('))
      .head.getDouble(0)
    (codegen, interpreted(base.selectExpr(exprSql).head.getDouble(0)))
  }

  private def d(xs: Double*): Seq[java.lang.Double] = xs.map(Double.box)

  test("dot product: hand-computed, codegen == interpreted") {
    val (c, i) = evalBoth(d(1, 2), d(3, 4), "dot_product(a, b)")
    assert(c === 11.0); assert(i === 11.0)
  }

  test("l2 norm and l2 distance: 3-4-5 triangle") {
    val base = df1(d(3, 4), d(0, 0))
    assert(base.selectExpr("l2_norm(a)").head.getDouble(0) === 5.0)
    assert(base.selectExpr("l2_distance(a, b)").head.getDouble(0) === 5.0)
  }

  test("cosine distance: orthogonal = 1, identical = 0, opposite = 2") {
    assert(evalBoth(d(1, 0), d(0, 1), "cosine_distance(a, b)")._1 === 1.0)
    assert(math.abs(evalBoth(d(0.3, 0.4), d(0.3, 0.4),
      "cosine_distance(a, b)")._1) < 1e-12)
    assert(math.abs(evalBoth(d(1, 2), d(-1, -2),
      "cosine_distance(a, b)")._1 - 2.0) < 1e-12)
  }

  test("zero-norm vector yields NaN distance (matches DuckDB)") {
    val (c, i) = evalBoth(d(0, 0), d(1, 2), "cosine_distance(a, b)")
    assert(c.isNaN); assert(i.isNaN)
  }

  test("null elements are treated as 0.0") {
    val (c, _) = evalBoth(Seq(Double.box(1.0), null), d(5, 7), "dot_product(a, b)")
    assert(c === 5.0)
  }

  test("mismatched lengths use the common prefix") {
    val (c, i) = evalBoth(d(1, 2, 3), d(10, 20), "dot_product(a, b)")
    assert(c === 50.0); assert(i === 50.0)
  }

  test("null array input yields null output (nullIntolerant)") {
    val s = spark
    import s.implicits._
    val base = Seq((Option.empty[Seq[Double]], Option(Seq(1.0, 2.0))))
      .toDF("a", "b")
    assert(base.selectExpr("dot_product(a, b)").head.isNullAt(0))
  }

  test("a wrong input type names the kernel, the parameter and both types") {
    def failure(sql: String): String =
      intercept[org.apache.spark.sql.AnalysisException](spark.sql(sql).collect()).getMessage
    val longs = failure("SELECT sorted_intersect_count(array('x'), array(1L))")
    Seq("sorted_intersect_count", "first parameter", "ARRAY<BIGINT>", "ARRAY<STRING>")
      .foreach(w => assert(longs.contains(w), longs))
    val norms = failure("SELECT cosine_distance_pre_norm(array(1D), array(1D), 'x', 1D)")
    Seq("cosine_distance_pre_norm", "third parameter", "\"DOUBLE\"", "\"STRING\"")
      .foreach(w => assert(norms.contains(w), norms))
  }

  test("kernel == HOF fallback on random vectors (seeded)") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(42)
    val rows = Seq.fill(50)((Seq.fill(16)(rnd.nextDouble() - 0.5),
      Seq.fill(16)(rnd.nextDouble() - 0.5)))
    val base = staged(keyed(rows).toDF("id", "a", "b"))
    val (a, b) = (col("a"), col("b"))
    againstRef(base, "l2_norm",
      Seq(GraftFunctions.dot_product(a, b), GraftFunctions.cosine_distance(a, b),
        GraftFunctions.l2_norm(a)),
      Seq(GraftFunctions.dotProductHof(a, b), GraftFunctions.cosineDistanceHof(a, b),
        GraftFunctions.l2NormHof(a))).foreach {
      case (Row(_, k: Double, ck: Double, nk: Double), Row(_, h: Double, ch: Double, nh: Double)) =>
      assert(math.abs(k - h) < 1e-12)
      assert(math.abs(ck - ch) < 1e-12)
      assert(math.abs(nk - nh) < 1e-12)
    }
  }

  test("sq_l2_distance: hand-computed, codegen == interpreted") {
    // (3-0)² + (4-0)² = 25 — the 3-4-5 triangle squared.
    val (c, i) = evalBoth(d(3, 4), d(0, 0), "sq_l2_distance(a, b)")
    assert(c === 25.0); assert(i === 25.0)
  }

  test("sq_l2_distance is BIT-identical to the HOF fold it replaced") {
    // The kernel's claim (used by q_lof/q_dbscan's 6dp-rounded d²) is
    // the exact left-to-right (x-y)*(x-y) accumulation of the
    // aggregate(zip_with(...)) fold — assert EXACT equality, not an
    // epsilon, on random vectors.
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(11)
    val rows = Seq.fill(100)((Seq.fill(64)(rnd.nextDouble() * 10 - 5),
      Seq.fill(64)(rnd.nextDouble() * 10 - 5)))
    val base = staged(keyed(rows).toDF("id", "a", "b"))
    againstRef(base, "sq_l2_distance",
      Seq(GraftFunctions.sq_l2_distance(col("a"), col("b"))),
      Seq(expr("aggregate(zip_with(a, b, (x, y) -> (x - y) * (x - y)), " +
        "CAST(0.0 AS DOUBLE), (acc, t) -> acc + t)")))
      .foreach { case (Row(_, k: Double), Row(_, h: Double)) =>
        assert(k == h, s"kernel $k != fold $h")
      }
  }

  test("sorted_intersect_count == size(array_intersect) on sorted distinct " +
    "arrays, codegen == interpreted") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(13)
    // Random sorted distinct long sets of varying sizes incl. empty
    // and disjoint — the exact shapes the dedup verify stage feeds.
    val rows = Seq.fill(200)((
      rnd.shuffle((0L to 400L).toList).take(rnd.nextInt(60)).sorted,
      rnd.shuffle((0L to 400L).toList).take(rnd.nextInt(60)).sorted))
    val base = staged(rows.toDF("a", "b"))
    compiled(base.selectExpr("sorted_intersect_count(a, b) AS k",
      "CAST(size(array_intersect(a, b)) AS BIGINT) AS r"), "sorted_intersect_count")
      .foreach { case Row(k: Long, r: Long) =>
        assert(k === r, s"merge walk $k != array_intersect $r")
      }
    // Interpreted parity on one fixture.
    val one = Seq((Seq(1L, 3L, 5L, 9L), Seq(2L, 3L, 9L, 11L)))
      .toDF("a", "b")
    assert(interpreted(one.selectExpr("sorted_intersect_count(a, b)").head.getLong(0)) === 2L)
  }

  test("first_eq_index == the HOF filter form on random signatures; " +
    "codegen == interpreted") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(29)
    // 16-slot signatures over a small value domain so agreements at
    // every position (incl. none and position 0) occur; plus a
    // length-mismatch row (min-length walk, like the merge kernels).
    val rows = Seq.fill(300)((
      Seq.fill(16)(rnd.nextInt(6).toLong),
      Seq.fill(16)(rnd.nextInt(6).toLong))) :+
      (Seq(7L, 8L), Seq(9L, 8L, 7L))
    val base = staged(keyed(rows).toDF("id", "a", "b"))
    againstRef(base, "first_eq_index", Seq(expr("first_eq_index(a, b)")),
      Seq(expr("CAST(coalesce(try_element_at(filter(sequence(0, CAST(least(size(a), " +
        "size(b)) AS INT) - 1), i -> element_at(a, CAST(i AS INT) + 1) = " +
        "element_at(b, CAST(i AS INT) + 1)), 1), -1) AS INT)")))
      .foreach { case (Row(_, k: Int), Row(_, r: Int)) =>
        assert(k === r, s"kernel $k != HOF $r")
      }
    val one = Seq((Seq(5L, 1L, 9L), Seq(4L, 1L, 9L))).toDF("a", "b")
    assert(interpreted(one.selectExpr("first_eq_index(a, b)").head.getInt(0)) === 1)
  }

  test("sorted_intersect_count == size(array_intersect) on sorted arrays " +
    "WITH duplicates (set semantics, not pairwise)") {
    val s = spark
    import s.implicits._
    // The round-11 advice counterexample first: [5,5] ∩ [5,5] must be
    // 1 (array_intersect dedups), not 2 (pairwise).
    val pinned = Seq(
      (Seq(5L, 5L), Seq(5L, 5L)),
      (Seq(1L, 1L, 2L, 2L, 2L, 3L), Seq(2L, 2L, 3L, 3L, 4L)),
      (Seq(7L, 7L, 7L), Seq(7L)),
      (Seq.empty[Long], Seq(1L, 1L)))
    val rnd = new scala.util.Random(29)
    // Random sorted multisets: small value domain forces heavy
    // duplication on both sides.
    val fuzz = Seq.fill(300)((
      Seq.fill(rnd.nextInt(40))(rnd.nextLong(12)).sorted,
      Seq.fill(rnd.nextInt(40))(rnd.nextLong(12)).sorted))
    compiled(staged((pinned ++ fuzz).toDF("a", "b"))
      .selectExpr("sorted_intersect_count(a, b) AS k",
        "CAST(size(array_intersect(a, b)) AS BIGINT) AS r"), "sorted_intersect_count")
      .foreach { case Row(k: Long, r: Long) =>
        assert(k === r, s"merge walk $k != array_intersect $r")
      }
    // Interpreted path covers the duplicate-run skip too.
    assert(interpreted(Seq((Seq(5L, 5L), Seq(5L, 5L))).toDF("a", "b")
      .selectExpr("sorted_intersect_count(a, b)").head.getLong(0)) === 1L)
  }

  test("distance properties: symmetric, in [0, 2], d(x,x) ~ 0") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(7)
    val rows = Seq.fill(100)((Seq.fill(8)(rnd.nextDouble() - 0.5),
      Seq.fill(8)(rnd.nextDouble() - 0.5)))
    val base = rows.toDF("a", "b")
    base.select(
      GraftFunctions.cosine_distance(col("a"), col("b")).as("ab"),
      GraftFunctions.cosine_distance(col("b"), col("a")).as("ba"),
      GraftFunctions.cosine_distance(col("a"), col("a")).as("aa"))
      .collect().foreach { case Row(ab: Double, ba: Double, aa: Double) =>
        assert(ab === ba)
        assert(ab >= 0.0 && ab <= 2.0 + 1e-12)
        assert(math.abs(aa) < 1e-12)
      }
  }

  test("sorted_dot_stats reproduces the posting-join DECIMAL(38,12) dot " +
    "bit-for-bit; codegen == interpreted") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(41)
    // Random sparse vectors in the tf-idf shape: sorted distinct long
    // keys, weights in the w = tf*idf range (incl. tiny and ~170, the
    // documented product bound), varying overlap incl. disjoint/empty.
    val rows = (0 until 200).map { i =>
      def mk(): (Seq[Long], Seq[Double]) = {
        val ks = rnd.shuffle((0L to 150L).toList).take(rnd.nextInt(40)).sorted
        (ks, ks.map(_ => (rnd.nextDouble() * 13.0 + 1e-9) *
          (if (rnd.nextInt(10) == 0) 13.0 else 0.05)))
      }
      val (ka, wa) = mk(); val (kb, wb) = mk()
      (i.toLong, ka, wa, kb, wb)
    }
    val base = rows.toDF("id", "ka", "wa", "kb", "wb")
      .localCheckpoint(eager = true)
    val kernel = compiled(base.selectExpr("id",
      "sorted_dot_stats(ka, wa, kb, wb) AS st"), "sorted_dot_stats")
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    // Truth: the EXACT expression of the flat tf-idf plan — explode
    // both sides to (key, w) postings, equi-join on key, then
    // sum(CAST(round(wa*wb,12) AS DECIMAL(38,12))) cast to double.
    val ea = base.selectExpr("id",
      "inline(arrays_zip(ka, wa)) AS (k, x)")
    val eb = base.selectExpr("id AS id2",
      "inline(arrays_zip(kb, wb)) AS (k2, y)")
    val truth = ea.join(eb,
        ea("id") === eb("id2") && ea("k") === eb("k2"))
      .groupBy("id")
      .agg(
        expr("CAST(sum(CAST(round(x * y, 12) AS DECIMAL(38,12))) AS DOUBLE)")
          .as("dp"),
        count(lit(1)).cast("double").as("n"))
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2)))
      .toMap
    rows.foreach { case (id, _, _, _, _) =>
      val st = kernel(id)
      val (dp, n) = truth.getOrElse(id, (0.0, 0.0))
      assert(st(0) === dp, s"row $id: kernel dp ${st(0)} != decimal sum $dp")
      assert(st(1) === n, s"row $id: kernel count ${st(1)} != join count $n")
    }
    assert(truth.values.exists(_._2 > 0), "fixture must produce overlaps")
    // Boundary-targeted products: the round12Scaled fast path must
    // hand exact x.5e-12 ties and near-tie products to the canonical
    // BigDecimal path — pin a batch of them against the same SQL
    // truth (wa = 1.0 makes the product the literal value).
    val ties = Seq(0.5e-12, 1.5e-12, 2.5e-12, 1234.5e-12,
      0.1 + 0.5e-12, 7.0000000000005e-3, 0.9999999999995,
      5.0e-13 + 1e-25, 2.4999999999999e-12, 169.0000000000005)
    val tieRows = ties.zipWithIndex.map { case (v, i) =>
      (1000L + i, Seq(1L), Seq(1.0), Seq(1L), Seq(v))
    }
    val tieBase = tieRows.toDF("id", "ka", "wa", "kb", "wb")
    val tieKernel = tieBase
      .selectExpr("id", "sorted_dot_stats(ka, wa, kb, wb)[0] AS dp")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val tieTruth = tieBase
      .selectExpr("id",
        "CAST(CAST(round(wa[0] * wb[0], 12) AS DECIMAL(38,12)) AS DOUBLE) AS dp")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    tieRows.foreach { case (id, _, _, _, wb) =>
      assert(tieKernel(id) === tieTruth(id),
        s"boundary product ${wb.head}: kernel ${tieKernel(id)} != " +
          s"round/decimal ${tieTruth(id)}")
    }
    // Interpreted parity on one fixture (kernel walk is shared code,
    // but the codegen wrapper path must agree too).
    val one = Seq((Seq(1L, 3L, 9L), Seq(0.5, 2.0, 13.0),
      Seq(3L, 9L, 11L), Seq(4.0, 0.125, 7.0))).toDF("ka", "wa", "kb", "wb")
    val interp = interpreted(one.selectExpr("sorted_dot_stats(ka, wa, kb, wb)")
      .head.getSeq[Double](0))
    assert(interp === Seq(2.0 * 4.0 + 13.0 * 0.125, 2.0))
  }

  test("min_common_long == array_min(array_intersect) on small cell arrays, " +
    "codegen == interpreted") {
    val s = spark
    import s.implicits._
    def l(xs: java.lang.Long*): Seq[java.lang.Long] = xs
    val rnd = new scala.util.Random(53)
    // Probe-cell shapes: up to 8 cells over a small id domain, so
    // shared, disjoint and empty inputs all occur; a null element now
    // and then, which both forms skip.
    def cells(): Seq[java.lang.Long] = Seq.fill(rnd.nextInt(9))(
      if (rnd.nextInt(10) == 0) null else java.lang.Long.valueOf(rnd.nextInt(12).toLong))
    val pinned = Seq(
      (l(1L, 2L), l(3L, 4L)), // disjoint: NULL
      (l(4L, 2L, 9L), l(9L, 2L)), // equal minima
      (l(2L, 9L), l(2L, 7L)), // equal minima first on both sides
      (l(null, 3L), l(null, 4L)), // only a null in common: NULL
      (l(null, 6L, 5L), l(5L, null, 6L)),
      (l(), l(1L)))
    val rows = keyed(pinned ++ Seq.fill(400)((cells(), cells())))
    def q = staged(rows.toDF("id", "a", "b")).selectExpr("id",
      "min_common_long(a, b) AS k", "array_min(array_intersect(a, b)) AS r")
    def read(rs: Array[Row]): Map[Long, (Option[Long], Option[Long])] = rs.map(r =>
      r.getLong(0) -> (Option(r.get(1)).map(_.asInstanceOf[Long]),
        Option(r.get(2)).map(_.asInstanceOf[Long]))).toMap
    val codegen = read(compiled(q, "min_common_long"))
    val interp = read(interpreted(q.collect()))
    assert(codegen.size === rows.size)
    codegen.foreach { case (id, (k, r)) =>
      assert(k === r, s"row $id: kernel $k != array_min(array_intersect) $r")
      assert(interp(id) === (k, r), s"row $id: interpreted ${interp(id)._1} != codegen $k")
    }
    assert(codegen.values.exists(_._1.isEmpty) && codegen.values.exists(_._1.isDefined))
  }
}
