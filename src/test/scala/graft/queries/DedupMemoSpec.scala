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

  /** A fixture directory whose documents table is one parquet file:
    * 40 seeded clusters of 5 texts, each a 30-word base with 0-4 words
    * replaced, so every cluster holds pairs above and below τ = 0.6. */
  private def corpus(): String = {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(31)
    val bases = (0 until 40).map(_ => Seq.fill(30)("w" + rnd.nextInt(5000)))
    val docs = (0 until 200).map { i =>
      val w = bases(i / 5).toArray
      (0 until i % 5).foreach(_ => w(rnd.nextInt(w.length)) = "v" + rnd.nextInt(5000))
      (i.toLong, w.mkString(" "))
    }.toDF("doc_id", "text")
    val d = tmpDir()
    writeOneFile(docs, d, "documents")
    d
  }

  /** `key`'s rows on `d`, on the banded route forced by a doc gate of 1. */
  private def rows(key: String, d: String): Seq[Seq[Any]] =
    withConf("spark.graft.dedup.pairGateDocs", "1") {
      assert(DedupStages.pairRoute(spark, d) === "banded")
      SparkEntry.queries(key)(spark, d).collect().map(_.toSeq).toSeq
    }

  /** The Spark jobs of `body` that build the `kind` artefact of `d`. */
  private def buildJobs(d: String, kind: String = "dedup banded")(body: => Any): Int =
    jobDescriptionsDuring(body).count(_ == s"graft $kind $d/documents.parquet")

  private def persistentRdds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("q_dup_clusters right after q_dedup_near runs no banded build job") {
    val d = corpus()
    assert(buildJobs(d)(rows("q_dedup_near", d)) > 0, "the first operator builds")
    // Zero also shows the build restored the caller's job description.
    assert(buildJobs(d)(rows("q_dup_clusters", d)) === 0)
  }

  test("both operators read documents rewritten at the same path") {
    val d = corpus()
    val before = ops.map(rows(_, d))
    rewriteHalf(d, "documents", "doc_id")
    assert(buildJobs(d)(rows("q_dedup_near", d)) > 0, "a rewrite rebuilds")
    val again = ops.map(rows(_, d))
    assert(again.head != before.head && again(1) != before(1),
      "the rewrite must change both results")
    val fresh = copyOf(d)
    assert(again === ops.map(rows(_, fresh)))
  }

  test("banded q_jaccard_containment builds its band frame once per corpus and releases it on a rewrite") {
    val d = corpus()
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
    val d = corpus()
    val before = ops.map(rows(_, d))
    spark.stop() // the next `spark` is a fresh Sessions.build
    assert(buildJobs(d)(rows("q_dedup_near", d)) > 0, "a new session rebuilds")
    assert(ops.map(rows(_, d)) === before)
  }
}
