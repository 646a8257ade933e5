package graft.queries

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Pins of the vector pair stages that the operator-level oracles do
  * not reach: the bipartite entry is an exact restriction of the
  * directed one on both routes, and the exact route's block count
  * never changes the directed pair set. */
class PairStageSpec extends SparkTestBase {

  /** 97 seeded 8-dim vectors; `lab` splits them into two sides. */
  private def vectors: DataFrame = {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(41)
    Seq.tabulate(97)(i =>
      (i.toLong, Array.fill(8)(rnd.nextGaussian()), rnd.nextInt(3) == 0))
      .toDF("vec_id", "v", "lab")
  }

  /** (a, b, raw bits of dist) — bit-identical distances compare equal. */
  private def rows(df: DataFrame): Set[(Long, Long, Long)] =
    df.select("a", "b", "dist").collect().map(r => (r.getLong(0), r.getLong(1),
      java.lang.Double.doubleToRawLongBits(r.getDouble(2)))).toSet

  test("knnCandidatesBipartite = knnCandidates restricted to false-side a, true-side b, on both routes") {
    val e = vectors
    val labs = e.select("vec_id", "lab").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    def check(route: String, metric: String): Unit = {
      val directed = rows(SimilarityStages.knnCandidates(e.select("vec_id", "v"), metric))
      val want = directed.filter { case (a, b, _) => !labs(a) && labs(b) }
      val got = rows(SimilarityStages.knnCandidatesBipartite(e, metric))
      assert(want.nonEmpty, s"$route/$metric: fixture must produce cross-side pairs")
      assert(got === want, s"$route/$metric: +${(got -- want).size} -${(want -- got).size}")
    }
    Seq("cosine", "l2").foreach { metric =>
      assert(SimilarityStages.route(e.select("vec_id", "v")) === "exact")
      check("exact", metric)
      // A 1-byte threshold routes every frame to ann.
      withConf("spark.graft.ann.autoThresholdBytes", "1") {
        assert(SimilarityStages.route(e.select("vec_id", "v")) === "ann")
        check("ann", metric)
      }
    }
  }

  test("knnCandidates exact: 1 and 5 blocks return identical rows") {
    val e = vectors.select("vec_id", "v")
    Seq("cosine", "l2").foreach { metric =>
      def run(blocks: Int) = withConf("spark.graft.simjoin.blocks", blocks.toString)(
        rows(SimilarityStages.knnCandidates(e, metric)))
      val single = run(1)
      assert(single.size === 97 * 96, s"$metric: every directed pair")
      assert(run(5) === single, metric)
    }
  }
}
