package graft.queries

import org.apache.spark.sql.Row
import graft.{SparkEntry, SparkTestBase}

/** Round-12 fix specs: the Theil–Sen negative-zero normalization and
  * skew-guarded pair stage (round-11 verdict #1/#2), and the z-score
  * σ=0 division guard (round-11 advice). Each pins a planted fixture
  * that the driver testdata never exercises — the degenerate shapes
  * the fixes exist for. */
class Round12OpsSpec extends SparkTestBase {

  /** Plant a full-schema events table (ts-as-nanos — the
    * Round9OpsSpec temp-parquet pattern; Tables.events' LongType
    * branch divides to micros) and run `q` on it. Rows are
    * (user_id, event_type, value, tsNanos); event_id is the row
    * index and props is empty. */
  private def planted(q: String, rows: Seq[(Long, String, Double, Long)],
      conf: Map[String, String] = Map.empty): Array[Row] = {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_r12_")
    rows.zipWithIndex.map { case ((u, t, v, ts), i) =>
      (i.toLong, ts, u, t, v, "")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.parquet(s"$dir/events.parquet")
    val prior = conf.keys.map(k => k -> spark.conf.getOption(k)).toMap
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try SparkEntry.queries(q)(spark, dir.toString).collect()
    finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private val t0 = 1700000000000000000L // 2023-11-14 UTC, nanos
  private def sec(n: Long): Long = t0 + n * 1000000000L

  // -------------------------------------------------------- theil_sen

  test("theil_sen: tiny-negative median rounds to POSITIVELY signed " +
    "zero (the -0.0 vs +0.0 hash fix)") {
    // One pair with slope -1e-9 per second: round(-1e-9, 6) is -0.0
    // in sign-preserving IEEE rounding (DuckDB); the `+ 0.0`
    // normalization must pin BOTH engines to +0.0. Assert the raw
    // sign bit, not just == 0.0 (IEEE: -0.0 == 0.0 is true).
    val out = planted("q_theil_sen", Seq(
      (1L, "view", 0.0, sec(0)),
      (1L, "view", -1e-9, sec(1))))
    assert(out.length === 1)
    val slope = out.head.getAs[Double]("sen_slope")
    assert(slope === 0.0)
    assert(java.lang.Double.doubleToRawLongBits(slope) === 0L,
      "sen_slope must be +0.0 (zero sign bit), got -0.0")
  }

  test("theil_sen: symmetric slope multiset median is exactly zero " +
    "with a positive sign bit") {
    // values 0, 1, 0 at 1 s steps → slopes {1, 0, -1} → median 0.
    val out = planted("q_theil_sen", Seq(
      (2L, "view", 0.0, sec(0)),
      (2L, "view", 1.0, sec(1)),
      (2L, "view", 0.0, sec(2))))
    assert(out.length === 1)
    assert(out.head.getAs[Long]("n_pairs") === 3L)
    val slope = out.head.getAs[Double]("sen_slope")
    assert(slope === 0.0 &&
      java.lang.Double.doubleToRawLongBits(slope) === 0L)
  }

  test("theil_sen: over-cap groups are thinned to C(cap, 2) pairs, " +
    "deterministically; under-cap groups stay exact") {
    // User 1: 30 rows (over a cap of 10) with a clean linear trend
    // plus per-row jitter; user 2: 5 rows (under the cap, exact).
    val rows =
      (0 until 30).map(i => (1L, "view",
        2.0 * i + (i % 3) * 0.01, sec(i.toLong))) ++
      (0 until 5).map(i => (2L, "view", -1.0 * i, sec(i.toLong)))
    val capped = Map("spark.graft.theilsen.maxGroupRows" -> "10")
    val a = planted("q_theil_sen", rows, capped)
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted
    val b = planted("q_theil_sen", rows, capped)
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted
    assert(a === b, "hash-ordered subsampling must be deterministic")
    val byUser = a.map(t => t._1 -> t).toMap
    assert(byUser(1L)._2 === 45L, "C(10, 2) pairs for the capped group")
    assert(byUser(2L)._2 === 10L, "C(5, 2) pairs — under-cap is exact")
    // The subsampled estimate still reads the planted trend (within
    // the jitter envelope) — the randomized-Theil–Sen contract.
    assert(math.abs(byUser(1L)._3 - 2.0) < 0.1,
      s"subsampled slope ${byUser(1L)._3} off the planted trend 2.0")
    assert(byUser(2L)._3 === -1.0)
    // Default cap (2000) leaves this data exact: same as an explicit
    // huge cap.
    val dflt = planted("q_theil_sen", rows)
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted
    val huge = planted("q_theil_sen", rows,
      Map("spark.graft.theilsen.maxGroupRows" -> "1000000"))
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted
    assert(dflt === huge)
    assert(dflt.map(t => t._1 -> t._2).toMap ===
      Map(1L -> 435L, 2L -> 10L), "C(30,2) / C(5,2) — no thinning")
  }

  test("theil_sen: cap conf is validated") {
    val e = intercept[IllegalArgumentException] {
      planted("q_theil_sen", Seq((1L, "view", 0.0, sec(0))),
        Map("spark.graft.theilsen.maxGroupRows" -> "1"))
    }
    assert(e.getMessage.contains("maxGroupRows"))
  }

  // ------------------------------------------------ tfidf_pairs route

  test("tfidf_pairs: doc-count gate ROUTES to the bounded top-k plan " +
    "at scale (round 14); silent and unchanged below the gate") {
    val sf = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$sf/documents.parquet").exists())
    // Below the gate (500 docs < default 20000): no message, the
    // declared τ-pair form.
    val (below, quiet) = capturingErr {
      SparkEntry.queries("q_tfidf_pairs")(spark, sf)
    }
    assert(!quiet.contains("q_tfidf_pairs:"),
      s"no routing message expected below the gate, got: $quiet")
    assert(below.columns.toSeq === Seq("d1", "d2", "n_shared", "cos"))
    // Gate forced to 1: the gate ROUTES to the bounded top-k plan and
    // says so on stderr (round-13 verdict #4 — a warning alone left
    // the quadratic contract as the default at scale).
    spark.conf.set("spark.graft.tfidf.pairsWarnDocs", "1")
    val (df, loud) = try capturingErr {
      assert(Semantic.tfidfPairsAtScale(spark, sf))
      SparkEntry.queries("q_tfidf_pairs")(spark, sf)
    } finally spark.conf.unset("spark.graft.tfidf.pairsWarnDocs")
    assert(loud.contains("q_tfidf_pairs: scale route, size 500 >= " +
      "spark.graft.tfidf.pairsWarnDocs=1"),
      s"routing message expected past the gate, got: $loud")
    // Round-15 (round-14 advice #2): the routed plan keeps the
    // DECLARED pair schema — the top-k neighborhood projected into
    // (d1 < d2, n_shared, cos ≥ 0.25), a bounded subset of the
    // τ-pair contract, never a data-dependent column switch.
    assert(df.columns.toSeq === Seq("d1", "d2", "n_shared", "cos"),
      "past the gate the routed frame keeps the declared pair schema")
    // A gate past every corpus forces the τ-pair contract, no routing.
    spark.conf.set("spark.graft.tfidf.pairsWarnDocs", Long.MaxValue.toString)
    val (forced, silent) = try capturingErr {
      assert(!Semantic.tfidfPairsAtScale(spark, sf))
      SparkEntry.queries("q_tfidf_pairs")(spark, sf)
    } finally spark.conf.unset("spark.graft.tfidf.pairsWarnDocs")
    assert(!silent.contains("q_tfidf_pairs:"))
    assert(forced.columns.toSeq === Seq("d1", "d2", "n_shared", "cos"))
    // Conf validation.
    spark.conf.set("spark.graft.tfidf.pairsWarnDocs", "0")
    try intercept[IllegalArgumentException] {
      SparkEntry.queries("q_tfidf_pairs")(spark, sf)
    } finally spark.conf.unset("spark.graft.tfidf.pairsWarnDocs")
    spark.conf.set("spark.graft.tfidf.pairsWarnDocs", "bogus")
    try {
      val ex = intercept[IllegalArgumentException] {
        SparkEntry.queries("q_tfidf_pairs")(spark, sf)
      }
      assert(ex.getMessage.contains("spark.graft.tfidf.pairsWarnDocs"))
    } finally spark.conf.unset("spark.graft.tfidf.pairsWarnDocs")
    // After the builds above, a rebuild of either runs no job: the
    // gate reads the memoized doc count, and the tf-idf postings are
    // pinned once per corpus.
    val (pairs, topk) = (SparkEntry.queries("q_tfidf_pairs"), SparkEntry.queries("q_tfidf_topk"))
    topk(spark, sf).queryExecution.analyzed
    assert(jobsDuring(Semantic.tfidfPairsAtScale(spark, sf)) === 0)
    assert(jobsDuring(pairs(spark, sf).queryExecution.analyzed) === 0)
    assert(jobsDuring(topk(spark, sf).queryExecution.analyzed) === 0)
  }

  test("the tf-idf postings are built once per corpus and released on a rewrite") {
    val sf = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$sf/documents.parquet").exists())
    val d = copyOf(sf)
    def persistentRdds = spark.sparkContext.getPersistentRDDs.keySet.toSet
    def rows(key: String, dir: String) =
      SparkEntry.queries(key)(spark, dir).collect().map(_.toSeq).toSeq
    val before = persistentRdds
    val first = rows("q_tfidf_pairs", d)
    val pinned = persistentRdds -- before
    assert(pinned.size === 1, "the build holds one pin, the postings")
    assert(jobsDuring(SparkEntry.queries("q_tfidf_topk")(spark, d).queryExecution.analyzed) === 0)
    assert(jobsDuring(SparkEntry.queries("q_tfidf_pairs")(spark, d).queryExecution.analyzed) === 0)
    assert(rows("q_tfidf_pairs", d) === first)
    rewriteHalf(d, "documents", "doc_id")
    val again = rows("q_tfidf_pairs", d)
    assert(again != first, "the rewrite must change the result")
    assert((persistentRdds intersect pinned).isEmpty, "the rewrite releases the old pin")
    assert(again === rows("q_tfidf_pairs", copyOf(d)))
  }

  // -------------------------------------------------- dbscan ann arm

  test("dbscan under degraded ann recall: one-sided refinement — " +
    "ann co-membership implies exact co-membership, ann core ⊆ exact") {
    val sfe = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$sfe/embeddings.parquet").exists())
    def run(): Map[Long, (String, Option[Long])] =
      SparkEntry.queries("q_dbscan")(spark, sfe).collect().map { r =>
        r.getAs[Long]("vec_id") -> (r.getAs[String]("role"),
          Option(r.getAs[Any]("cluster")).map(_.asInstanceOf[Long]))
      }.toMap
    val exact = run()
    // Deliberately degrade recall: force ann with MANY cells and the
    // minimum probes, so the candidate stage misses eps-edges.
    spark.conf.set("spark.graft.ann.autoThresholdBytes", "1")
    spark.conf.set("spark.graft.knn.ann.cells", "64")
    spark.conf.set("spark.graft.knn.ann.probes", "2")
    // q_dbscan pins its neighbor frame, so the route shows in the
    // gate's stderr notice rather than in the final plan.
    val ann = try {
      val (rows, err) = capturingErr(run())
      assert(err.contains("vector pair stage: scale route"),
        s"the 1-byte threshold must route q_dbscan to ann, got: $err")
      rows
    } finally {
      spark.conf.unset("spark.graft.ann.autoThresholdBytes")
      spark.conf.unset("spark.graft.knn.ann.cells")
      spark.conf.unset("spark.graft.knn.ann.probes")
    }
    assert(ann.keySet === exact.keySet)
    // Candidate edges are exact-verified <= eps, so errors are
    // one-sided: (1) an ann core point is an exact core point;
    val annCore = ann.collect { case (id, ("core", _)) => id }.toSet
    val exCore = exact.collect { case (id, ("core", _)) => id }.toSet
    assert(annCore.subsetOf(exCore),
      s"ann core not a subset of exact core: ${annCore -- exCore}")
    assert(exCore.nonEmpty)
    // (2) two CORE points the ann arm co-clusters are co-clustered
    // by the exact arm (ann core connectivity refines exact core
    // connectivity — edges are a verified subset, cores are a
    // subset, so components can only split). BORDER points are
    // exempt by DBSCAN semantics: a border point within eps of
    // cores of TWO adjacent exact clusters legally re-attaches to
    // whichever core the degraded candidate set still sees.
    val annClusters = ann.toSeq
      .collect { case (id, ("core", Some(c))) => (c, id) }
      .groupBy(_._1).values.map(_.map(_._2))
    assert(annClusters.nonEmpty)
    annClusters.foreach { members =>
      val exactLabels = members.flatMap(m => exact(m)._2).distinct
      assert(exactLabels.size <= 1,
        s"ann CORE cluster spans exact clusters $exactLabels — a " +
          "wrong merge, which verified-subset candidate edges cannot " +
          "produce")
    }
  }

  // ------------------------------------------------ zscore_normalize

  test("zscore_normalize: constant-valued group gets NULL z (σ=0 " +
    "guard), non-degenerate groups unaffected") {
    // event_type 'flat' is constant → σ = 0 → z must be NULL (the
    // nullif guard on both engine and oracle sides); 'spread' gets
    // the usual finite z-scores.
    val rows =
      (0 until 6).map(i => (i.toLong, "flat", 4.25, sec(i.toLong))) ++
      (0 until 6).map(i => (10L + i, "spread", i.toDouble, sec(i.toLong)))
    val out = planted("q_zscore_normalize",
      rows.map { case (u, t, v, ts) => (u, t, v, ts) })
    val flat = out.filter(_.getAs[String]("event_type") == "flat")
    assert(flat.length === 6)
    flat.foreach { r =>
      assert(r.getAs[Double]("sigma") === 0.0)
      assert(r.isNullAt(r.fieldIndex("z")),
        "σ=0 division must yield NULL, not NaN/inf")
    }
    val spread = out.filter(_.getAs[String]("event_type") == "spread")
    assert(spread.length === 6)
    spread.foreach(r => assert(!r.isNullAt(r.fieldIndex("z"))))
    // z of the mean-valued row is 0; extremes are symmetric.
    val zs = spread.sortBy(_.getAs[Long]("event_id"))
      .map(_.getAs[Double]("z"))
    assert(math.abs(zs.head + zs.last) < 1e-9, "symmetric extremes")
  }
}
