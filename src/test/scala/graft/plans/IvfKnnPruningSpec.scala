package graft.plans

import graft.{SparkEntry, SparkTestBase, Tables}
import graft.functions.{CellMetric, GraftFunctions}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Filter
import org.apache.spark.sql.functions._

/** The ANN rewrite must actually FIRE (the DuckDB oracle can't tell:
  * for this query vector the probed cells happen to contain the true
  * top-5, so pruned and unpruned results coincide). */
class IvfKnnPruningSpec extends SparkTestBase {
  private val sf = "/root/testdata/sf0.001"

  test("naive exact top-k over a registered IVF table gets probe-pruned") {
    assume(new java.io.File(s"$sf/embeddings.parquet").exists())
    val df = SparkEntry.queries("q_knn_ivf_rule")(spark, sf)
    val fired = df.queryExecution.optimizedPlan.exists {
      case f: Filter => f.condition.references.exists(_.name == "ivf_cell")
      case _ => false
    }
    assert(fired, "IvfKnnPruning did not inject the probe-cell filter:\n" +
      df.queryExecution.optimizedPlan)
    // And the scan itself is partition-pruned (ivf_cell is the
    // table's partition column).
    val phys = df.queryExecution.executedPlan.toString
    assert(phys.contains("PartitionFilters: [ivf_cell"), phys)
    // Rows must equal the explicit IVF formulation.
    val explicit = SparkEntry.queries("q_knn_ivf")(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(df.collect().map(_.toSeq).toSeq === explicit)
  }

  test("an L2 top-k over the same index gets probe-pruned under the L2 metric") {
    assume(new java.io.File(s"$sf/embeddings.parquet").exists())
    val df = SparkEntry.queries("q_knn_ivf_rule_l2")(spark, sf)
    val cellFilter = df.queryExecution.optimizedPlan.collectFirst {
      case f: Filter if f.condition.references.exists(_.name == "ivf_cell") =>
        f.condition
    }
    assert(cellFilter.isDefined,
      "IvfKnnPruning did not fire on the L2 sort:\n" +
        df.queryExecution.optimizedPlan)
    assert(df.queryExecution.executedPlan.toString
      .contains("PartitionFilters: [ivf_cell"))
    // The planted cells must be the L2-ranked probes (the failure
    // message shows the cosine set so a metric mix-up is diagnosable).
    val entry = IvfIndex.lookup("graft_ivf_sf0_001").get
    val q = entry.centroids.find(_._1 == 0L).get._2
    val l2Probes = IvfIndex.probeCells(entry, q, IvfIndex.L2).toSet
    val cosProbes = IvfIndex.probeCells(entry, q, IvfIndex.Cosine).toSet
    val planted = cellFilter.get.collect {
      case org.apache.spark.sql.catalyst.expressions.Literal(v: Long, _) => v
    }.toSet
    assert(planted === l2Probes,
      s"planted cells $planted != L2 probes $l2Probes (cosine: $cosProbes)")
  }

  test("the memoized index build runs once — repeat invocations reuse the table") {
    assume(new java.io.File(s"$sf/embeddings.parquet").exists())
    SparkEntry.queries("q_knn_ivf_rule")(spark, sf).collect() // ensures built
    val t0 = System.nanoTime()
    val second = jobDescriptionsDuring(
      SparkEntry.queries("q_knn_ivf_rule")(spark, sf).collect())
    val warmSec = (System.nanoTime() - t0) / 1e9
    // A rebuild would saveAsTable + collect centroids (~seconds); the
    // probe-only path must be well under that even on a cold JIT.
    assert(warmSec < 2.0, s"probe-only invocation took $warmSec s — index rebuilt?")
    // By jobs: the second invocation runs the probe query's jobs (the
    // query-vector collect and the pruned top-k) and nothing labelled
    // as the build, whose jobs include the write.
    assert(!second.exists(_.startsWith("graft ivf build")), second)
    assert(second.size === 2, second)
  }

  test("driver-side r6 matches the engine's round(x, 6) bit-for-bit") {
    import org.apache.spark.sql.functions.{col, round}
    val s = spark
    import s.implicits._
    // Adversarial values: 6-decimal boundaries, doubles whose binary
    // expansion sits just under/over a half boundary, plus the actual
    // centroid distances from the registered index if present.
    val base = Seq(0.0000005, 0.0000015, 0.1234565, 0.9999995, 1.0000005,
      0.3333335, 2.0 / 3.0, 1.0 / 3.0, 0.1 + 0.2, 0.4999995)
    val reg = IvfIndex.lookup("graft_ivf_sf0_001").toSeq.flatMap { e =>
      val q = e.centroids.head._2
      e.centroids.map { case (_, c) =>
        var dot = 0.0; var na = 0.0; var nb = 0.0
        var i = 0
        while (i < c.length) { dot += c(i) * q(i); na += c(i) * c(i); nb += q(i) * q(i); i += 1 }
        1.0 - dot / math.sqrt(na * nb)
      }
    }
    val xs = base ++ reg
    val engine = xs.toDF("x").select(round(col("x"), 6)).as[Double].collect()
    val driver = xs.map(IvfIndex.r6)
    assert(engine.toSeq === driver,
      "IvfIndex.r6 diverged from Spark's Round expression")
  }

  test("the rule leaves unregistered tables and non-knn sorts alone") {
    assume(new java.io.File(s"$sf/embeddings.parquet").exists())
    val plain = SparkEntry.queries("q_knn_image")(spark, sf)
    val touched = plain.queryExecution.optimizedPlan.exists {
      case f: Filter => f.condition.references.exists(_.name == "ivf_cell")
      case _ => false
    }
    assert(!touched)
    assert(plain.collect().length === 5)
  }

  test("a second input directory with the same basename gets its own index") {
    val s = spark
    import s.implicits._
    // Two directories, one basename, so one index-table name.
    def stage(seed: Int): String = {
      val r = new scala.util.Random(seed)
      val d = java.nio.file.Files.createTempDirectory("graft_ivf_reuse_")
        .resolve("ivf_reused").toString
      (0 until 48).map(i => (i.toLong, Seq.fill(64)(r.nextGaussian().toFloat), i % 3))
        .toDF("vec_id", "embedding", "label").write.parquet(s"$d/embeddings.parquet")
      d
    }
    val (a, b) = (stage(1), stage(2))
    SparkEntry.queries("q_knn_ivf_rule")(spark, a).collect()
    val got = SparkEntry.queries("q_knn_ivf_rule")(spark, b).collect().map(_.toSeq).toSeq
    assert(got === SparkEntry.queries("q_knn_ivf")(spark, b).collect().map(_.toSeq).toSeq)
    val indexed = spark.table("graft_ivf_ivf_reused").select("vec_id", "embedding")
      .as[(Long, Seq[Float])].collect().sortBy(_._1).toSeq
    val source = graft.Tables.embeddings(spark, b).select("vec_id", "embedding")
      .as[(Long, Seq[Float])].collect().sortBy(_._1).toSeq
    assert(indexed === source)
    assert(graft.Tables.builtFrom("graft_ivf_ivf_reused") ===
      graft.Tables.tableId(s"$b/embeddings.parquet"))
  }

  // ---- The index build against the formula it replaced. The reference
  // is that formula, kept here: cell assignment by a cross join with the
  // codebook and a grouped `min_by`, PQ codes by a per-subspace `min_by`,
  // joined on vec_id. The build must write the same rows, register the
  // same centroids, lay out one file per cell, and label its jobs.

  private val Cells = 16

  private def cents(e: DataFrame): DataFrame =
    e.filter(col("vec_id") < Cells)
      .select(col("vec_id").as("cid"), col("embedding").as("cv"))

  private def referenceIndex(e: DataFrame): DataFrame = {
    val asg = e.crossJoin(broadcast(cents(e)))
      .withColumn("cdist",
        round(GraftFunctions.cosine_distance(col("embedding"), col("cv")), 6))
      .groupBy("vec_id")
      .agg(expr("min_by(struct(label, embedding, cid), struct(cdist, cid))").as("m"))
      .select(col("vec_id"), col("m.label").as("label"),
        col("m.embedding").as("embedding"), col("m.cid").as("ivf_cell"))
    val codebook = cents(e)
      .select(col("cid").as("code"), explode(expr("sequence(0, 7)")).as("m"),
        col("cv").cast("array<double>").as("cvd"))
      .select(col("code"), col("m"), expr("slice(cvd, m*8+1, 8)").as("cs"))
    val pq = e.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .crossJoin(broadcast(codebook))
      .select(col("vec_id"), col("m"), col("code"),
        round(GraftFunctions.l2_distance(expr("slice(v, m*8+1, 8)"), col("cs")), 6)
          .as("dist"))
      .groupBy("vec_id", "m")
      .agg(expr("min_by(code, struct(dist, code))").as("code"))
      .groupBy("vec_id")
      .agg(expr("transform(array_sort(collect_list(struct(m, code))), x -> x.code)")
        .as("pq"))
    asg.join(pq, "vec_id").select("vec_id", "label", "embedding", "pq", "ivf_cell")
  }

  private def tableOf(dir: String): String =
    "graft_ivf_" + new java.io.File(dir).getName.replaceAll("[^A-Za-z0-9]", "_")

  /** Builds the index of `dir` (if it is not built yet) and checks it
    * against the reference. */
  private def checkIndex(dir: String): Unit = {
    SparkEntry.queries("q_knn_ivf_rule")(spark, dir).collect()
    val tbl = tableOf(dir)
    val e = Tables.embeddings(spark, dir)
    val got = spark.table(tbl).select("vec_id", "label", "embedding", "pq", "ivf_cell")
    val ref = referenceIndex(e)
    assert(got.count() === e.count())
    assert(got.exceptAll(ref).count() === 0, s"$tbl has rows the reference lacks")
    assert(ref.exceptAll(got).count() === 0, s"$tbl lacks reference rows")

    // The registered codebook is the reference's, and the driver-side
    // probe ranking equals the kernel on the query vector.
    val entry = IvfIndex.lookup(tbl).get
    val refCents = cents(e).select(col("cid"), col("cv").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(entry.centroids.map { case (c, v) => c -> v.toSeq }.toMap === refCents)
    val q = e.filter(col("vec_id") === 0)
    val qv = q.select(col("embedding").cast("array<double>")).head.getSeq[Double](0).toArray
    for (m <- Seq(CellMetric.Cosine, CellMetric.L2)) {
      val kernel = q.select(GraftFunctions.nearest_cells(col("embedding"),
        entry.codebook, entry.probes, m)).head.getSeq[Long](0)
      assert(IvfIndex.probeCells(entry, qv, m) === kernel, s"$m probes")
    }
  }

  test("the sf0.001 index equals the reference build, row for row") {
    assume(new java.io.File(s"$sf/embeddings.parquet").exists())
    checkIndex(sf)
  }

  /** A fresh seeded 4 096 x 64 store in four files. */
  private def seededStore(): String = {
    val s = spark
    import s.implicits._
    val r = new scala.util.Random(4096)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_build_")
      .resolve("ivf_seeded").toString
    (0 until 4096).map(i => (i.toLong, Seq.fill(64)(r.nextGaussian().toFloat), i % 7))
      .toDF("vec_id", "embedding", "label").repartition(4)
      .write.parquet(s"$dir/embeddings.parquet")
    dir
  }

  test("a seeded 4096 x 64 four-file index equals the reference build") {
    val dir = seededStore()
    // A fresh directory builds. The build's jobs run first and all carry
    // its label; the probe query's jobs that follow do not.
    val jobs = jobDescriptionsDuring(
      SparkEntry.queries("q_knn_ivf_rule")(spark, dir).collect())
    val label = s"graft ivf build ${tableOf(dir)}"
    val build = jobs.takeWhile(_ == label)
    assert(build.nonEmpty && !jobs.drop(build.size).contains(label), jobs)
    checkIndex(dir)
  }

  /** How many tasks wrote rows (the index's partitioned write) while
    * `dir`'s index was built fresh. */
  private def writingTasks(dir: String): Int = {
    val writers = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null && e.taskMetrics.outputMetrics.recordsWritten > 0)
          writers.incrementAndGet()
    }
    val sc = spark.sparkContext
    org.apache.spark.TestBus.drain(sc)
    sc.addSparkListener(l)
    try {
      SparkEntry.queries("q_knn_ivf_rule")(spark, dir).collect()
      org.apache.spark.TestBus.drain(sc)
    } finally sc.removeSparkListener(l)
    writers.get
  }

  test("a fresh build on the seeded four-file store writes its cells from more than one task") {
    val dir = seededStore()
    val n = writingTasks(dir)
    assert(n > 1, s"$n writing task(s)")
    checkIndex(dir)
  }

  test("an index larger than its write tasks' advisory sizes is not capped at one task per cell") {
    val dir = seededStore()
    // The ~1 MB index against 16 KiB advisory partitions: AQE sizes the
    // write from the data, as at scale, past min(cells, parallelism).
    val key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    spark.conf.set(key, "16k")
    val n = try writingTasks(dir) finally spark.conf.unset(key)
    val cells = IvfIndex.lookup(tableOf(dir)).get.centroids.size
    assert(n > math.min(cells, spark.sparkContext.defaultParallelism), s"$n writing task(s)")
    checkIndex(dir)
  }

  test("a warm q_knn_ivf_rule on the seeded four-file store runs two jobs") {
    val dir = seededStore()
    val q = SparkEntry.queries("q_knn_ivf_rule")
    q(spark, dir).collect() // builds the index
    // One job collects the query vector, one runs the probed top-k.
    assert(jobsDuring(q(spark, dir).collect()) === 2)
  }

  test("the sf0.001 index has exactly one parquet file per non-empty cell") {
    assume(new java.io.File(s"$sf/embeddings.parquet").exists())
    SparkEntry.queries("q_knn_ivf_rule")(spark, sf).collect()
    val tbl = tableOf(sf)
    val loc = new java.io.File(spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(tbl)).location)
    val cells = loc.listFiles().filter(_.getName.startsWith("ivf_cell=")).toSeq
    val files = cells.map(c => c.getName -> c.listFiles().count(_.getName.endsWith(".parquet")))
    val nonEmpty = spark.table(tbl).select("ivf_cell").distinct().count()
    assert(cells.size === nonEmpty)
    assert(files.forall(_._2 == 1), files)
  }
}
