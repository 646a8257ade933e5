package graft

import org.apache.spark.sql.functions._

/** Ad-hoc STAGE profiler (round 18): times named internal stages of
  * the cost-cell queries that [[Profile]]'s whole-query timing can't
  * decompose — which stage of the banded dedup route owns the 100×
  * cell, and whether q_source_binary's cell is file LISTING,
  * scan-task scheduling, or byte throughput. Not part of the driver
  * contract; each probe prints `[probe] <name>: <sec> s` lines.
  *
  * Usage: SPARK_GRAFT_SF_DIR=/tmp/sf10.0 scripts/run.sh \
  *   graft.ProbeStages dedup_band dedup_pairs bin
  */
object ProbeStages {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.build(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    graft.functions.GraftFunctions.register(spark)
    def time[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[probe] $name: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.mode("overwrite").format("noop").save()

    args.foreach {
      case "dedup_band" =>
        // The band build + (band, mh) exchange + checkpoint, alone.
        val docs = Tables.documents(spark, sfDir)
        time("dedup_band build+materialize") {
          noop(queries.DedupStages.bandedFrame(docs))
        }
      case "dedup_pairs" =>
        // Band build + bucket self-join + minimal-band screen +
        // scoring (no τ filter, no heap fold). Fresh banded frame —
        // run in its own JVM for a clean split vs dedup_band.
        val docs = Tables.documents(spark, sfDir)
        time("dedup_pairs scored-candidates") {
          noop(queries.DedupStages.bandedScoredPairs(docs, 64))
        }
      case "knn_count" =>
        // Candidate-pair volume of the ann knn arm at the current
        // confs (count prunes the kernel column — volume only).
        val e = Tables.embeddings(spark, sfDir)
          .select(col("vec_id"),
            col("embedding").cast("array<double>").as("v"))
          .localCheckpoint(eager = false)
        println(s"[probe] knn_count vectors: ${e.count()}")
        time("knn_count candidate pairs count") {
          val n = queries.SimilarityStages
            .knnCandidates(e, metric = "cosine")
            .select("a").count()
          println(s"[probe] knn_count pairs: $n")
        }
      case "dup_pairs_tau" =>
        // The banded scored candidate stream with the >=tau screen,
        // NO distinct — isolates the distinct's cost in
        // nearDupEdgesBanded (round 19, verdict #1 follow-up).
        val docs = Tables.documents(spark, sfDir)
        val cap = queries.DedupStages.pairBucketCap(spark)
        time("dup_pairs_tau scored >=tau stream (no distinct)") {
          noop(queries.DedupStages.bandedScoredPairs(docs, cap)
            .withColumn("jac", round(col("ix") /
              (col("na") + col("nb") - col("ix")), 6))
            .filter(col("jac") >= 0.6)
            .select("id1", "id2"))
        }
      case "dup_edges" =>
        // Full nearDupEdgesBanded (scored stream + least/greatest +
        // distinct) — the delta vs dup_pairs_tau is the distinct.
        val docs = Tables.documents(spark, sfDir)
        val cap = queries.DedupStages.pairBucketCap(spark)
        time("dup_edges full (with distinct)") {
          noop(queries.DedupStages.nearDupEdgesBanded(docs, 0.6, cap))
        }
      case "dup_cc" =>
        // q_dup_clusters decomposition (round 19, verdict #1): the
        // ≥τ candidate stream (shared banded machinery, no distinct —
        // the query's round-19 shape) feeds the CC min-label fixpoint
        // LAZILY; minLabelPropagateCounted's own eager loopStep pin
        // materializes it once, so the "CC fixpoint" time includes
        // that one materialization (exactly what the query pays).
        val docs = Tables.documents(spark, sfDir)
        val cap = queries.DedupStages.pairBucketCap(spark)
        val pairs = queries.DedupStages
          .nearDupEdgeCandidatesBanded(docs, 0.6, cap)
        val nodes = docs.select(col("doc_id").as("node"))
        val (lab, rounds) = time("dup_cc pin + CC fixpoint (all rounds)") {
          queries.DedupStages.minLabelPropagateCounted(nodes, pairs)
        }
        println(s"[probe] dup_cc rounds: $rounds")
        time("dup_cc final sink")(noop(lab))
      case "butterfly" =>
        // q_butterfly decomposition (round 19, verdict #6): the
        // deduped bipartite edge frame vs the wedge join + pair agg.
        val e0 = Tables.lineitem(spark, sfDir)
          .select(col("l_partkey").as("p"), col("l_suppkey").as("s"))
          .repartition(col("p"))
          .dropDuplicates("p", "s")
        val e = time("butterfly e0 (distinct edges) materialize") {
          e0.localCheckpoint()
        }
        val w = e.as("a").join(e.as("b"),
          col("a.p") === col("b.p") && col("a.s") < col("b.s"))
          .select(col("a.s").as("s1"), col("b.s").as("s2"))
        time("butterfly wedge join + pair agg + top20") {
          noop(w.repartition(col("s1"), col("s2"))
            .groupBy("s1", "s2").agg(count(lit(1)).as("shared_parts"))
            .filter(col("shared_parts") >= 2)
            .withColumn("butterflies",
              (col("shared_parts") * (col("shared_parts") - 1) / 2)
                .cast("long"))
            .orderBy(col("butterflies").desc, col("s1"), col("s2"))
            .limit(20))
        }
      case "bin" =>
        // q_source_binary decomposition: staging (memoized, timed
        // separately on first build), LISTING (read.load builds the
        // InMemoryFileIndex eagerly), then the scan itself twice.
        val q = SparkEntry.queries("q_source_binary")
        val df0 = time("bin stage+construct")(q(spark, sfDir))
        time("bin scan 1 (incl. first listing reuse)")(noop(df0))
        val df1 = time("bin re-list+construct")(q(spark, sfDir))
        println(s"[probe] bin scan partitions: ${df1.rdd.getNumPartitions}")
        time("bin scan 2")(noop(df1))
      case name =>
        // Fallback: whole-query timing ×2 (Profile's behavior).
        (1 to 2).foreach { i =>
          time(s"$name iter $i")(noop(SparkEntry.queries(name)(spark, sfDir)))
        }
    }
    spark.stop()
  }
}
