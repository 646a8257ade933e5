package graft.queries

import graft.{SparkEntry, SparkTestBase}

/** The banded route's τ-screened pairs are built once per documents
  * table (DedupStages.bandedJaccardPairs under Tables.pinned): the
  * second pair-output operator on a corpus reuses them, and a rewritten
  * table or a rebuilt session builds them afresh, so both operators
  * always read the documents as they are. q_jaccard_containment's band
  * frame follows the same rule. */
class DedupMemoSpec extends SparkTestBase {
  private val ops = Seq("q_dedup_near", "q_dup_clusters")

  /** `key`'s rows on `d`, on the banded route forced by a doc gate of 1. */
  private def rows(key: String, d: String): Seq[Seq[Any]] =
    withConf("spark.graft.dedup.pairGateDocs", "1") {
      assert(DedupStages.pairRoute(spark, d) === "banded")
      SparkEntry.queries(key)(spark, d).collect().map(_.toSeq).toSeq
    }

  private def persistentRdds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("q_dup_clusters right after q_dedup_near runs no banded build job") {
    val d = clusteredCorpus()
    assert(buildJobs(d, "dedup banded")(rows("q_dedup_near", d)) > 0, "the first operator builds")
    // Zero also shows the build restored the caller's job description.
    assert(buildJobs(d, "dedup banded")(rows("q_dup_clusters", d)) === 0)
  }

  test("both operators read documents rewritten at the same path") {
    val d = clusteredCorpus()
    val before = ops.map(rows(_, d))
    rewriteHalf(d, "documents", "doc_id")
    assert(buildJobs(d, "dedup banded")(rows("q_dedup_near", d)) > 0, "a rewrite rebuilds")
    val again = ops.map(rows(_, d))
    assert(again.head != before.head && again(1) != before(1),
      "the rewrite must change both results")
    val fresh = copyOf(d)
    assert(again === ops.map(rows(_, fresh)))
  }

  test("banded q_jaccard_containment builds its band frame once per corpus and releases it on a rewrite") {
    val d = clusteredCorpus()
    val containment = "q_jaccard_containment"
    val before = persistentRdds
    var first = Seq.empty[Seq[Any]]
    assert(buildJobs(d, "dedup band") { first = rows(containment, d) } > 0,
      "the first call builds")
    val afterFirst = persistentRdds
    val pinned = afterFirst -- before
    assert(pinned.nonEmpty, "the band frame is pinned")
    var second = Seq.empty[Seq[Any]]
    assert(buildJobs(d, "dedup band") { second = rows(containment, d) } === 0)
    assert(persistentRdds.size === afterFirst.size, "a second call adds no pin")
    assert(second === first)
    rewriteHalf(d, "documents", "doc_id")
    val again = rows(containment, d)
    assert(again != first, "the rewrite must change the result")
    assert(again === rows(containment, copyOf(d)))
    assert((persistentRdds intersect pinned).isEmpty, "the rewrite releases the old pin")
  }

  test("after the session is stopped and rebuilt both operators rebuild and agree") {
    val d = clusteredCorpus()
    val before = ops.map(rows(_, d))
    spark.stop() // the next `spark` is a fresh Sessions.build
    assert(buildJobs(d, "dedup banded")(rows("q_dedup_near", d)) > 0, "a new session rebuilds")
    assert(ops.map(rows(_, d)) === before)
  }
}
