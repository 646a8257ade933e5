package graft.queries

import org.apache.spark.sql.functions._
import graft.SparkTestBase

/** Pins GraphStages.bloomPrune (round 17): the wedge-stream bloom
  * prune must be (a) EXACT — the closing join's output is identical
  * with the prune on and off at any fpp (false positives fail the
  * exact join behind it; false negatives are impossible), and
  * (b) actually PRUNING on an organic (non-replica-clique) graph —
  * at sf0.01 the co-purchase closure rate is ~11%, so the
  * post-bloom stream must shrink well below half. The minEdges gate
  * is forced to 1 here (production default 1 M: the two bloom-build
  * jobs cost more than the exchange they save on small graphs, and
  * the 100× fixture's replica cliques close ~all wedges — recorded
  * A/B: shuffle 8 783 → 8 710 MB, a wash there by structure).
  */
class BloomProbeSpec extends SparkTestBase {
  test("wedge bloom prune: exact under the closing join, real pruning at organic closure") {
    val sf = "/root/testdata/sf0.01"
    spark.conf.set("spark.graft.wedge.bloom.minEdges", "1")
    try {
      val li = graft.Tables.lineitem(spark, sf)
        .filter(expr(TextKit.h28(
          "concat('tri#', CAST(l_partkey AS STRING))")) % 2 === 0)
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
        .repartition(col("o")).dropDuplicates("o", "p")
      val e = li.as("a").join(li.as("b"),
        col("a.o") === col("b.o") && col("a.p") < col("b.p"))
        .select(col("a.p").as("u"), col("b.p").as("v"))
        .distinct().localCheckpoint(eager = false)
      val deg = GraphStages.degrees(e)
      val o = GraphStages.orientedEdges(e, deg)
      val w = GraphStages.orientedWedges(o).localCheckpoint(eager = false)
      def bloomed(df: org.apache.spark.sql.DataFrame): Boolean =
        df.queryExecution.optimizedPlan.toString.contains("bloom_might_contain")
      val pre = w.count()
      val pruned = GraphStages.bloomPrune(w, o, "t1", "t2")
      assert(bloomed(pruned), "a 1-edge gate must take the prune")
      val post = pruned.count()
      val triOn = GraphStages.closeWedges(w, o).count()
      // A gate past every edge count skips the prune.
      spark.conf.set("spark.graft.wedge.bloom.minEdges", Long.MaxValue.toString)
      assert(!bloomed(GraphStages.bloomPrune(w, o, "t1", "t2")),
        "a gate past the edge count must skip the prune")
      val triOff = GraphStages.closeWedges(w, o).count()
      assert(triOn === triOff,
        s"bloom prune changed the closing join output: $triOn vs $triOff")
      assert(post >= triOn, "bloom dropped a closing wedge (false negative)")
      assert(post < pre / 2,
        s"bloom pruned nothing at organic closure: $post of $pre")
    } finally spark.conf.unset("spark.graft.wedge.bloom.minEdges")
  }
}
