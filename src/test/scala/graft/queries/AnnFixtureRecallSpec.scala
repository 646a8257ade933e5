package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.SparkTestBase

/** Round-18 verdict #6: ScalePathSpec pins the ann route ≡ exact at
  * the TEST sfs; this panel evidences the minimal-shared-cell
  * candidate stage's completeness at the 100× replica-clique fixture
  * shape — the scale it actually runs at — without paying the full
  * exact arm: anchors are HASH-SAMPLED (the q_minhash_recall panel
  * discipline — a stride could alias the clique period) and the
  * exact arm runs on the sample only, its filter pushed into the
  * block-join's anchor side.
  *
  * Opt-in: needs SPARK_GRAFT_SF10_DIR pointing at a ScaleData 100×
  * fixture (scripts/run.sh graft.ScaleData /root/testdata/sf0.1
  * /tmp/sf10.0 100) — CANCELED otherwise, by design (the fixture is
  * 10+ GB and not part of the repo). The measured recall row lives
  * in BENCH.md (round 18). */
class AnnFixtureRecallSpec extends SparkTestBase {

  test("ann candidate stage top-10 recall == exact on hash-sampled " +
    "anchors at the 100x fixture (opt-in: SPARK_GRAFT_SF10_DIR)") {
    val dirOpt = sys.env.get("SPARK_GRAFT_SF10_DIR")
    assume(dirOpt.exists(m => new java.io.File(m).exists()))
    val d = dirOpt.get
    val s = spark
    graft.functions.GraftFunctions.register(s)
    val e = graft.Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))

    // ~1/1024 deterministic hash sample of anchors (salted xxhash —
    // never a stride: ScaleData replica ids are periodic).
    val anchorIds = e.select(col("vec_id"))
      .filter(pmod(xxhash64(col("vec_id"), lit("annprobe")), lit(1024)) === 0)
      .collect().map(_.getLong(0)).toSeq
    assert(anchorIds.nonEmpty, "hash sample came back empty")

    // The route is forced by the size threshold: past every input for
    // exact, 1 byte for ann.
    def top10(route: String, threshold: Long) =
      withConf("spark.graft.ann.autoThresholdBytes", threshold.toString) {
        assert(SimilarityStages.route(e) === route)
        val cand = SimilarityStages.knnCandidates(e, "cosine")
          .filter(col("a").isin(anchorIds: _*))
        assert(annRouted(cand) === (route == "ann"))
        val w = Window.partitionBy("a").orderBy(col("dist"), col("b"))
        cand.withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 10)
          .select("a", "b")
          .localCheckpoint() // pin: consumed by two counting jobs
      }

    val exact = top10("exact", Long.MaxValue)
    val ann = top10("ann", 1L)
    val truth = exact.count()
    val hit = exact.join(ann, Seq("a", "b")).count()
    val recall = hit.toDouble / truth
    info(s"anchors=${anchorIds.size} truth_rows=$truth hit=$hit " +
      f"recall=$recall%.4f")
    // The route's completeness claim at this fixture: the minimal-
    // shared-cell dedup drops only duplicate COPIES of a colliding
    // pair, never the pair; misses can come only from IVF probe
    // misses, which the defaults have none of on the clique geometry
    // (pinned exactly at test sfs by ScalePathSpec).
    assert(recall == 1.0,
      f"ann top-10 recall $recall%.4f != 1.0 at the 100x fixture — " +
        "if probe geometry legitimately misses here, document the " +
        "measured operating point in BENCH.md and relax with a note")
  }
}
