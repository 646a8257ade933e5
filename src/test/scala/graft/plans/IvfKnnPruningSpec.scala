package graft.plans

import graft.{SparkEntry, SparkTestBase}
import org.apache.spark.sql.catalyst.plans.logical.Filter

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
    SparkEntry.queries("q_knn_ivf_rule")(spark, sf).collect()
    val warmSec = (System.nanoTime() - t0) / 1e9
    // A rebuild would saveAsTable + collect centroids (~seconds); the
    // probe-only path must be well under that even on a cold JIT.
    assert(warmSec < 2.0, s"probe-only invocation took $warmSec s — index rebuilt?")
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
    assert(IvfIndex.lookup("graft_ivf_ivf_reused").get.source ===
      graft.Tables.tableId(s"$b/embeddings.parquet"))
  }
}
