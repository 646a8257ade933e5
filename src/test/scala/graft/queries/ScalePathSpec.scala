package graft.queries

import graft.SparkTestBase
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Properties behind the de-quadraticized plans: the candidate
  * schemes must be COMPLETE (never lose a qualifying pair) — their
  * whole correctness story rests on these invariants, so they get
  * randomized checks beyond the fixed-corpus oracle. */
class ScalePathSpec extends SparkTestBase {

  /** A doc-count gate's threshold that forces `scale` (true) or the
    * declared exact route: 1, or past every corpus. */
  private def forcing(scale: Boolean): String =
    if (scale) "1" else Long.MaxValue.toString

  /** q_tfidf_topk's rows on `d` with `route` (exact | cluster) forced
    * by the doc gate, after asserting the gate takes it. */
  private def topkAt(d: String, route: String): Array[org.apache.spark.sql.Row] =
    withConf("spark.graft.tfidf.topkGateDocs", forcing(route == "cluster")) {
      assert(Semantic.tfidfRoute(spark, d)._1 === route)
      graft.SparkEntry.queries("q_tfidf_topk")(spark, d).collect()
    }

  /** Pair-dedup operator `name`'s rows on `d` with `route` (exact |
    * banded) forced by the doc gate, after asserting the gate takes it. */
  private def dedupAt(name: String, d: String, route: String): Array[org.apache.spark.sql.Row] =
    withConf("spark.graft.dedup.pairGateDocs", forcing(route == "banded")) {
      assert(DedupStages.pairRoute(spark, d) === route)
      graft.SparkEntry.queries(name)(spark, d).collect()
    }

  test("unit-bucket theta-range candidates cover every qualifying pair (seeded)") {
    // q_join_theta_range's claim: value ∈ [c-0.5, c+0.5) ⟹
    // floor(value) ∈ {⌊c-0.5⌋, ⌊c-0.5⌋+1}.
    val rnd = new scala.util.Random(97)
    (1 to 20000).foreach { _ =>
      val c = (rnd.nextDouble() - 0.5) * 400
      val v = c - 0.5 + rnd.nextDouble() // in [c-0.5, c+0.5)
      if (v >= c - 0.5 && v < c + 0.5) {
        val lo = math.floor(c - 0.5)
        assert(math.floor(v) == lo || math.floor(v) == lo + 1,
          s"c=$c v=$v floor=${math.floor(v)} lo=$lo")
      }
    }
  }

  test("prefix-filtered candidates contain every Jaccard >= tau pair (seeded)") {
    // q_dedup_near's claim (PPJoin prefix lemma): under the global
    // (df, token) order, two sets with J >= 0.6 share an element in
    // their first |S| - ceil(0.6|S|) + 1 elements.
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(5)
    val alphabet = (0 until 40).map(i => f"t$i%02d")
    // Even docs are random sets; each odd doc is a near-copy of its
    // predecessor (one element dropped) so qualifying pairs exist.
    val docs = (0 until 120).foldLeft(Vector.empty[(Long, Seq[String])]) {
      case (acc, id) =>
        val set =
          if (id % 2 == 1) acc.last._2.toSet -- acc.last._2.headOption
          else rnd.shuffle(alphabet).take(6 + rnd.nextInt(10)).toSet
        acc :+ (id.toLong -> set.toSeq.sorted)
    }
    val df = docs.toDF("doc_id", "s").withColumn("n", size(col("s")))
    val ex = df.select(col("doc_id"), col("n"), explode(col("s")).as("sh"))
    val freq = ex.groupBy("sh").agg(count(lit(1)).as("df"))
    val prefix = ex.join(broadcast(freq), "sh")
      .withColumn("rk", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("df"), col("sh"))))
      .filter(col("rk") <= col("n") - ceil(col("n") * 0.6) + 1)
      .select("doc_id", "sh")
    val cand = prefix.as("a")
      .join(prefix.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // Ground truth by brute force on the driver.
    val sets = docs.toMap.view.mapValues(_.toSet).toMap
    val qualifying = for {
      i <- docs.map(_._1); j <- docs.map(_._1) if i < j
      inter = sets(i).intersect(sets(j)).size.toDouble
      jac = inter / (sets(i).size + sets(j).size - inter)
      if jac >= 0.6
    } yield (i, j)
    assert(qualifying.nonEmpty, "fixture must produce qualifying pairs")
    qualifying.foreach { p =>
      assert(cand.contains(p), s"prefix filter lost qualifying pair $p")
    }
  }

  test("simhash chunk join is complete for hamming <= 3 (pigeonhole, seeded)") {
    val rnd = new scala.util.Random(13)
    (1 to 5000).foreach { _ =>
      val a = rnd.nextLong() & ((1L << 60) - 1)
      // flip at most 3 random bits
      var b = a
      (0 until rnd.nextInt(4)).foreach(_ => b ^= 1L << rnd.nextInt(60))
      val chunksA = (0 until 4).map(c => (a >> (15 * c)) & 32767)
      val chunksB = (0 until 4).map(c => (b >> (15 * c)) & 32767)
      assert(chunksA.zip(chunksB).exists { case (x, y) => x == y },
        s"hamming=${java.lang.Long.bitCount(a ^ b)} pair lost")
    }
  }

  test("CentroidAggregator is partition-order invariant and matches naive mean") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(41)
    val rows = Seq.tabulate(300)(i =>
      (i % 3, Array.fill(8)((rnd.nextFloat() - 0.5f))))
    def run(data: Seq[(Int, Array[Float])], parts: Int) =
      data.toDF("label", "emb").repartition(parts)
        .as[(Int, Array[Float])]
        .groupByKey(_._1).mapValues(_._2)
        .agg(new graft.functions.CentroidAggregator().toColumn.name("c"))
        .collect().map { case (l, c) => l -> c.toSeq }.toMap
    val once = run(rows, 1)
    val wide = run(rnd.shuffle(rows), 7)
    assert(once === wide) // exact equality — integer accumulation
    val naive = rows.groupBy(_._1).map { case (l, g) =>
      l -> (0 until 8).map(i => g.map(_._2(i).toDouble).sum / g.size)
    }
    once.foreach { case (l, c) =>
      c.zip(naive(l)).foreach { case (a, b) => assert(math.abs(a - b) < 1e-9) }
    }
  }

  /** Adversarial corpus for the dedup-at-scale proofs: EVERY doc
    * starts with the same hot 6-word phrase (4 hot shingles with
    * df = N — the skew that blows up naive shared-shingle joins),
    * followed by a deterministic unique tail; every 5th doc is an
    * exact duplicate of the doc 4 earlier (the qualifying pairs). */
  private def skewedCorpus(n: Int): Seq[(Long, String)] = {
    val hot = "the quick brown fox jumps over"
    def tail(i: Int): String =
      (0 until 10).map(j => f"w${(i * 31 + j * 7) % 9973}%04d").mkString(" ")
    (0 until n).map { i =>
      val body = if (i % 5 == 4) tail(i - 4) else tail(i)
      (i.toLong, s"$hot $body")
    }
  }

  test("minhash band candidates grow ~linearly on a duplicate-heavy skewed corpus") {
    val s = spark
    import s.implicits._
    def candidates(n: Int): Long = {
      val docs = skewedCorpus(n).toDF("doc_id", "text")
      DedupStages.bandCandidates(
        DedupStages.bandKeys(DedupStages.shingleSets(docs))).count()
    }
    val c300 = candidates(300)
    val c600 = candidates(600)
    val dup300 = 300 / 5 // qualifying duplicate pairs at n=300
    // Every duplicate pair MUST collide (identical signatures)…
    assert(c300 >= dup300, s"band join lost duplicate pairs: $c300 < $dup300")
    // …the candidate volume stays far from quadratic despite the hot
    // shingles (banding keys on whole-signature chunks, which the
    // unique tails differentiate)…
    assert(c300 <= 0.05 * (300L * 299 / 2),
      s"candidates ~quadratic at n=300: $c300")
    // …and doubling the corpus at fixed dup-rate ~doubles candidates.
    assert(c600 <= 3 * c300 + 50,
      s"superlinear candidate growth: n=300→$c300, n=600→$c600")
  }

  test("prefix filtering prunes >=90% of naive shared-shingle candidates under skew") {
    val s = spark
    import s.implicits._
    val docs = skewedCorpus(300).toDF("doc_id", "text")
    val sh = DedupStages.shingleSets(docs)
    val naive = DedupStages.naiveCandidates(sh).count()
    val pref = DedupStages.prefixCandidates(sh, tau = 0.6).count()
    // The hot shingle makes naive candidates ~all-pairs…
    assert(naive >= 0.9 * (300L * 299 / 2), s"fixture not adversarial: naive=$naive")
    // …and the globally-rarest-prefix index must refuse to index it.
    assert(pref <= 0.1 * naive, s"prefix filter pruned too little: $pref of $naive")
    // Completeness on the same corpus: every exact-duplicate pair
    // (Jaccard 1.0 ≥ τ) survives the pruning.
    val pairs = DedupStages.prefixCandidates(sh, tau = 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    (4 until 300 by 5).foreach { i =>
      assert(pairs.contains(((i - 4).toLong, i.toLong)),
        s"lost duplicate pair (${i - 4}, $i)")
    }
  }

  test("min-label propagation converges: transitive star and a 12-hop path") {
    val s = spark
    import s.implicits._
    // (3,9),(5,9): 3 and 5 are connected only THROUGH 9 — the shape
    // the single-pass star rule gets wrong (it keeps both 3 and 5).
    // Plus a 12-hop path 100–112 (diameter 12 ≤ the 15 the 4-round
    // propagate+jump schedule covers) and isolated node 50.
    val pairs = (Seq((3L, 9L), (5L, 9L)) ++
      (100L until 112L).map(i => (i, i + 1))).toDF("id1", "id2")
    val nodes = (Seq(3L, 5L, 9L, 50L) ++ (100L to 112L)).toDF("node")
    val lab = DedupStages.minLabelPropagate(nodes, pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lab(3L) == 3L && lab(5L) == 3L && lab(9L) == 3L,
      s"transitive component not canonicalized to 3: $lab")
    (100L to 112L).foreach(n =>
      assert(lab(n) == 100L, s"path node $n got label ${lab(n)}, want 100"))
    assert(lab(50L) == 50L)
    // Exactly one survivor per component.
    val survivors = lab.filter { case (n, l) => n == l }.keySet
    assert(survivors == Set(3L, 50L, 100L), survivors)
  }

  test("block-chunked similarity join partitions the pair set with bounded build sides") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(23)
    val emb = Seq.tabulate(97)(i =>
      (i.toLong, Array.fill(8)(rnd.nextFloat() - 0.5f), s"l${i % 3}"))
      .toDF("vec_id", "embedding", "label")
    def run(blocks: Int): Set[(Long, Long)] = {
      s.conf.set("spark.graft.simjoin.blocks", blocks.toString)
      try SimilarityStages.allPairsSim(emb, tau = 0.2)
        .select("id1", "id2").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      finally s.conf.unset("spark.graft.simjoin.blocks")
    }
    val single = run(1)
    assert(single.nonEmpty, "fixture must produce qualifying pairs")
    // Chunked result is EXACTLY the single-join pair set…
    assert(run(5) === single)
    // …because pmod blocks partition id2 space: every block's build
    // side is ~n/B rows (dense ids → exact bound ⌈n/B⌉), which is
    // the per-stage memory bound the chunking exists to provide.
    val blockSizes = (0 until 5).map(k =>
      emb.filter(pmod(col("vec_id"), lit(5)) === k).count())
    assert(blockSizes.sum == 97L)
    assert(blockSizes.max <= math.ceil(97.0 / 5).toLong)
  }

  test("simjoin ann mode: set-equal to exact at total-recall sfs, sub-all-pairs candidates") {
    // The ann route's claim for allPairsSim: IVF
    // multi-probe candidates + exact verify reproduce the exact
    // all-pairs result wherever recall is total (it is at the test
    // sfs with the default 6 probes of 16 cells — measured, not
    // assumed), while never comparing the full pair set.
    val sf = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$sf/embeddings.parquet").exists())
    def pairs(): Set[(Long, Long, Double)] =
      graft.SparkEntry.queries("q_similarity_join")(spark, sf)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val exactPairs = pairs()
    val exactSurvivors = graft.SparkEntry.queries("q_dedup_embed")(spark, sf)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    // A 1-byte threshold forces the ann route.
    val (annPairs, annSurvivors) =
      withConf("spark.graft.ann.autoThresholdBytes", "1") {
        Seq("q_similarity_join", "q_dedup_embed").foreach(q =>
          assert(annRouted(graft.SparkEntry.queries(q)(spark, sf)), s"$q must route to ann"))
        (pairs(), graft.SparkEntry.queries("q_dedup_embed")(spark, sf)
          .select("vec_id").collect().map(_.getLong(0)).toSet)
      }
    assert(annPairs === exactPairs,
      s"ann pair delta: +${(annPairs -- exactPairs).size} " +
        s"-${(exactPairs -- annPairs).size} of ${exactPairs.size}")
    assert(annSurvivors === exactSurvivors)
    // The candidate stage genuinely prunes (strictly fewer than
    // all-pairs) — the plan is cell-join + verify, not a cartesian.
    val e = graft.Tables.embeddings(spark, sf)
    val n = e.count()
    val cand = SimilarityStages.annCandidates(e, cells = 16, probes = 6).count()
    assert(cand < n * (n - 1) / 2,
      s"ann candidates $cand not below all-pairs ${n * (n - 1) / 2}")
  }

  test("bucketed join plan contains no exchange below the join") {
    val s = spark
    import s.implicits._
    // Sessions.build already points the warehouse at a temp dir.
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
      .write.mode("overwrite").bucketBy(4, "k").saveAsTable("spec_bkt_l")
    Seq((1L, 10), (2L, 20)).toDF("k", "n")
      .write.mode("overwrite").bucketBy(4, "k").saveAsTable("spec_bkt_r")
    val joined = s.table("spec_bkt_l").hint("merge")
      .join(s.table("spec_bkt_r"), "k")
    val plan = joined.queryExecution.executedPlan.toString
    val joinIdx = plan.indexOf("SortMergeJoin")
    assert(joinIdx >= 0, plan)
    assert(!plan.substring(joinIdx).contains("Exchange"),
      s"shuffle below bucketed join:\n$plan")
  }

  test("fanout honors spark.graft.fanout=off — the 100 TB plan has no round-robin") {
    val s = spark
    import s.implicits._
    val df = (1L to 64L).toDF("x")
    def plan(mode: String): String = {
      s.conf.set("spark.graft.fanout", mode)
      try fanout(df).queryExecution.executedPlan.toString
      finally s.conf.unset("spark.graft.fanout")
    }
    assert(!plan("off").contains("RoundRobinPartitioning"),
      "fanout=off must be a no-op (a cluster gets scan parallelism from file splits)")
    assert(plan("on").contains("RoundRobinPartitioning"))
  }

  test("no partition-less windows: bm25 terms and semdedup seeds are top-k heaps") {
    // A Window with an empty partitionSpec serializes the whole input
    // through ONE task — the round-4 verdict's last single-task scale
    // hazards. Both sites now plan as TakeOrderedAndProject
    // (per-partition k-row heaps): assert the shape so a regression
    // back to a global window fails here, not at 100 TB.
    val sf = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$sf/documents.parquet").exists())
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    def globalWindows(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.collect {
        case w: LWindow if w.partitionSpec.isEmpty => w
      }
    val bm25 = graft.SparkEntry.queries("q_bm25")(spark, sf)
    assert(globalWindows(bm25).isEmpty,
      s"q_bm25 still has a partition-less window:\n${bm25.queryExecution.optimizedPlan}")
    assert(bm25.queryExecution.executedPlan.toString
      .contains("TakeOrderedAndProject"), "bm25 term top-k not heap-planned")
    val e = graft.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val seeds = Semantic.seedFrame(e, 16)
    assert(globalWindows(seeds).isEmpty, "semdedup seed frame has a global window")
    assert(seeds.queryExecution.executedPlan.toString
      .contains("TakeOrderedAndProject"), "semdedup seeds not heap-planned")
    // The full operator keeps the invariant too (its driver-side
    // iteration executes eagerly while building).
    val sem = graft.SparkEntry.queries("q_semdedup")(spark, sf)
    assert(globalWindows(sem).isEmpty,
      s"q_semdedup plan has a partition-less window")
  }

  test("q_pack_sequences: sharded prefix sum, no partition-less window, exact offsets") {
    val sf = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$sf/documents.parquet").exists())
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val df = graft.SparkEntry.queries("q_pack_sequences")(spark, sf)
    val global = df.queryExecution.optimizedPlan.collect {
      case w: LWindow if w.partitionSpec.isEmpty => w
    }
    assert(global.isEmpty,
      s"q_pack_sequences still has a partition-less window:\n${df.queryExecution.optimizedPlan}")
    // The shard-local prefix sums + shard offsets must reproduce the
    // single global running sum exactly: offsets are contiguous
    // (each start_off = previous start_off + previous n_tok) from 0.
    val rows = df.select("doc_id", "n_tok", "start_off")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty)
    assert(rows.head._3 == 0L, s"first offset not 0: ${rows.head}")
    rows.sliding(2).foreach {
      case Array((_, n1, o1), (id2, _, o2)) =>
        assert(o2 == o1 + n1, s"offset gap at doc $id2: $o1+$n1 != $o2")
      case _ =>
    }
  }

  test("semdedup k derivation: conf override wins, default is max(16, n/512)") {
    val sf = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$sf/embeddings.parquet").exists())
    // Default at test scale (n << 16*512) must be the floor of 16
    // clusters: cluster ids in the result stay within [0, 16).
    val sem = graft.SparkEntry.queries("q_semdedup")(spark, sf)
    val cids = sem.select("cluster").distinct()
      .collect().map(_.getInt(0)).toSet
    assert(cids.nonEmpty && cids.forall(c => c >= 0 && c < 16), cids.toString)
    // Conf-pinned k changes the clustering width accordingly.
    spark.conf.set("spark.graft.semdedup.k", "4")
    try {
      val sem4 = graft.SparkEntry.queries("q_semdedup")(spark, sf)
      val cids4 = sem4.select("cluster").distinct()
        .collect().map(_.getInt(0)).toSet
      assert(cids4.nonEmpty && cids4.forall(c => c >= 0 && c < 4), cids4.toString)
    } finally spark.conf.unset("spark.graft.semdedup.k")
  }

  test("semdedup seeds stay heap-planned when k crosses the topK fallback threshold") {
    // Derived k grows ∝ n and would cross Spark's
    // topKSortFallbackThreshold (default 10000) at ~5.1M vectors,
    // silently reintroducing the single-task global sort. The raise
    // is SCOPED (withTopKClearance): active while the seed frame is
    // planned and executed, restored after — a later orderBy().limit
    // in the same session must see the original threshold.
    val sf = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$sf/embeddings.parquet").exists())
    val e = graft.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val key = "spark.sql.execution.topKSortFallbackThreshold"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "5") // simulate k >= threshold without 5M rows
    try {
      Semantic.withTopKClearance(spark, 16) {
        assert(spark.conf.get(key).toInt > 16,
          "withTopKClearance did not raise the fallback threshold above k")
        val seeds = Semantic.seedFrame(e, 16)
        assert(seeds.queryExecution.executedPlan.toString
          .contains("TakeOrderedAndProject"),
          s"seed frame fell back to a global sort:\n${seeds.queryExecution.executedPlan}")
      }
      assert(spark.conf.get(key) === "5",
        "withTopKClearance leaked the raised threshold into the session")
      // The full operator path restores too: q_semdedup runs its
      // seed collect under the clearance and must leave the session
      // conf exactly as it found it.
      graft.SparkEntry.queries("q_semdedup")(spark, sf).collect()
      assert(spark.conf.get(key) === "5",
        "q_semdedup left a mutated topKSortFallbackThreshold behind")
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("mixture threshold path selects exactly the quota path's set") {
    // q_mixture_apply_threshold's claim: histogram-boundary + hash
    // threshold reproduces the per-lang hash-smallest quota set with
    // ZERO delta (bucket order is a prefix of the (h, doc_id) rank
    // order), while never ranking more than one bucket's rows.
    val sf = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$sf/documents.parquet").exists())
    val quota = graft.SparkEntry.queries("q_mixture_apply")(spark, sf)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val thresh = graft.SparkEntry.queries("q_mixture_apply_threshold")(spark, sf)
    val got = thresh.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == quota,
      s"delta: +${(got -- quota).size} -${(quota -- got).size} of ${quota.size}")
    // And the plan keeps every window partitioned (the histogram
    // cumulative and the boundary-bucket residual rank) — no global
    // per-language sort of the data.
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val global = thresh.queryExecution.optimizedPlan.collect {
      case w: LWindow if w.partitionSpec.isEmpty => w
    }
    assert(global.isEmpty, "threshold path has a partition-less window")
  }

  test("runtime bloom filter lands inside the fact scan's filter") {
    val sf = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$sf/lineitem.parquet").exists())
    val df = graft.SparkEntry.queries("q_join_runtime_bloom")(spark, sf)
    val plan = df.queryExecution.optimizedPlan.toString
    assert(plan.contains("might_contain"),
      s"no runtime bloom filter injected:\n$plan")
    // And it prunes the APPLICATION side (lineitem's key), not the
    // already-filtered build side.
    assert(plan.contains("l_orderkey"), plan)
  }

  test("triangle orientation defuses the hub: star+clique wedge volume stays clique-sized") {
    // Adversarial graph: a 200-leaf star (hub = node 0) glued to a
    // 6-clique on nodes 1..6. A naive common-neighbor join pivots
    // C(200,2) = 19,900 wedges at the hub; the degree-ordered
    // orientation gives the hub out-degree 0 (every edge points
    // low-degree → high-degree, so leaves point AT the hub), leaving
    // only the clique's wedges — the O(m^1.5) bound in its most
    // extreme case. Triangle count must still be exact: C(6,3) from
    // the clique, plus the hub-leaf triangles the clique edges close
    // (hub is adjacent to all of 1..6 ⇒ one triangle per clique
    // edge).
    val s = spark
    import s.implicits._
    val star = (1 to 200).map(i => (0L, i.toLong))
    val clique = (for (a <- 1 to 6; b <- 1 to 6 if a < b)
      yield (a.toLong, b.toLong)).toSeq
    val e = (star ++ clique).toDF("u", "v").localCheckpoint()
    val deg = GraphStages.degrees(e)
    val o = GraphStages.orientedEdges(e, deg)
    val wedges = GraphStages.orientedWedges(o).localCheckpoint()
    val nWedges = wedges.count()
    // Naive hub wedges alone would be 19,900; oriented volume must
    // be bounded by Σ C(outdeg, 2) with outdeg ≤ clique size + hub.
    assert(nWedges < 200L, s"orientation failed to defuse the hub: $nWedges")
    val tri = wedges
      .join(o, col("t1") === col("s") && col("t2") === col("t"))
      .count()
    val expected = 20 + 15 // C(6,3) clique triangles + hub∧(clique edge)
    assert(tri === expected.toLong)
    // Round-17 plan pin: both wedge-stage joins must be SHUFFLE-HASH
    // (build = the edge-sized side), never sort-merge — SMJ sorted
    // the O(m^1.5) wedge stream on the closing pair key (12.7/17.8 GB
    // of sort spill at the 100× fixture, caught by the new spill
    // column). closeWedges carries the hint; so does orientedWedges.
    val closePlan = GraphStages.closeWedges(GraphStages.orientedWedges(o), o)
      .queryExecution.executedPlan.toString
    assert(closePlan.contains("ShuffledHashJoin") ||
      closePlan.contains("BroadcastHashJoin"),
      s"wedge joins must hash, not sort-merge:\n$closePlan")
    assert(!closePlan.contains("SortMergeJoin"),
      s"SMJ would sort the wedge stream:\n$closePlan")
  }

  test("knnCandidates exact: no FORCED broadcast — auto-broadcast off yields a broadcast-free plan") {
    // The 100 TB claim for the kNN-shaped family (q_mutual_knn,
    // q_lof, q_dbscan): their pair stage must never HINT a data-sized
    // broadcast (round-8 VERDICT weak ×3 — a whole-table broadcast
    // hits the 8 GB ceiling long before 100 TB). With the
    // size-estimate path disabled, a hint is the only thing that
    // could still produce a broadcast join — so the plan must
    // contain none, for both metrics.
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(31)
    val emb = Seq.tabulate(64)(i =>
      (i.toLong, Array.fill(8)(rnd.nextDouble() - 0.5)))
      .toDF("vec_id", "v")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try Seq("cosine", "l2").foreach { metric =>
      val plan = SimilarityStages.knnCandidates(emb, metric)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin") &&
        !plan.contains("BroadcastHashJoin"),
        s"$metric exact pair stage forces a broadcast:\n$plan")
    } finally s.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("knn ann mode: mutual_knn/lof/dbscan set-equal to exact at total-recall sfs") {
    // The ann route's claim, per operator:
    // IVF multi-probe candidates in the operator's own metric + the
    // exact verify reproduce the exact result wherever recall is
    // total (measured at the test sfs with the default 8 probes of
    // 16 cells), while the candidate stage stays an equi-join on
    // cell keys — the simjoin precedent extended to top-k/eps
    // semantics, where a lost candidate would shift a rank or a
    // cluster label, so set equality is the ONLY acceptable bar.
    val sf = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$sf/embeddings.parquet").exists())
    val ops = Seq("q_mutual_knn", "q_lof", "q_dbscan", "q_knn_classifier")
    def out(q: String): Set[String] =
      graft.SparkEntry.queries(q)(spark, sf).collect().map(_.mkString("|")).toSet
    val exact = ops.map(q => q -> out(q)).toMap
    assert(exact.values.forall(_.nonEmpty), "fixture must produce rows")
    // A 1-byte threshold forces the ann route. These operators pin
    // their candidate frames, so the route shows in the gate's stderr
    // notice rather than in the final plan.
    val ann = withConf("spark.graft.ann.autoThresholdBytes", "1") {
      ops.map { q =>
        val (rows, err) = capturingErr(out(q))
        assert(err.contains("vector pair stage: scale route"), s"$q must route to ann")
        q -> rows
      }.toMap
    }
    exact.foreach { case (q, ex) =>
      val an = ann(q)
      assert(an === ex,
        s"$q ann delta: +${(an -- ex).size} -${(ex -- an).size} of ${ex.size}")
    }
    // And the ann candidate stage genuinely prunes: directed
    // candidates stay below the full n·(n−1) pair volume.
    val e = graft.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val n = e.count()
    val cand = withConf("spark.graft.ann.autoThresholdBytes", "1") {
      assert(SimilarityStages.route(e) === "ann")
      SimilarityStages.knnCandidates(e, "l2").count()
    }
    assert(cand < n * (n - 1),
      s"ann directed candidates $cand not below all-pairs ${n * (n - 1)}")
  }

  test("blockCount: explicit pins, auto grows with the size estimate, floor 1") {
    // Round-10 gate: small inputs must pay ZERO chunking overhead
    // (blocks=1), large ones must chunk in proportion to bytes so
    // build sides stay bounded — B = ceil(estimate / blockBytes).
    val s = spark
    import s.implicits._
    def frame(n: Int) = (0 until n)
      .map(i => (i.toLong, Array.fill(64)(i.toDouble))).toDF("vec_id", "v")
    s.conf.set("spark.graft.simjoin.blocks", "7")
    try assert(SimilarityStages.blockCount(frame(1000)) === 7)
    finally s.conf.unset("spark.graft.simjoin.blocks")
    // default auto: tiny input → one block (the estimate is far
    // below the 256 MB default target)
    assert(SimilarityStages.blockCount(frame(100)) === 1)
    // auto with a squeezed byte target must chunk, proportionally
    // (in-memory relations estimate ~24 bytes/row — the array column
    // reports its type-default size; 512 B target ⇒ ~5 / ~47 blocks)
    s.conf.set("spark.graft.simjoin.blockBytes", "512")
    try {
      val small = SimilarityStages.blockCount(frame(100))
      val big = SimilarityStages.blockCount(frame(1000))
      assert(small > 1, s"512 B target must chunk even 100 rows: $small")
      assert(big > small, "blocks must grow with the size estimate")
      assert(big <= 4096, "cap must hold")
    } finally s.conf.unset("spark.graft.simjoin.blockBytes")
  }

  test("annCells: explicit pins, auto scales ~sqrt(n) with a 16 floor") {
    // The 10×-scale measurement (BENCH.md round 10): C ∝ n makes the
    // n·C assignment stage quadratic, C too small makes probe overlap
    // degenerate to all-pairs — C ≈ √n is the joint optimum, so
    // `auto` must track the ROOT of the input size, floored at the
    // recall-total default.
    val s = spark
    import s.implicits._
    def frame(n: Int) = (0 until n)
      .map(i => (i.toLong, Array.fill(64)(i.toDouble))).toDF("vec_id", "v")
    val key = "spark.graft.knn.ann.cells"
    // explicit value wins untouched
    s.conf.set(key, "48")
    try assert(SimilarityStages.annCells(frame(5000)) === 48)
    finally s.conf.unset(key)
    // default (conf unset) IS auto (round-11: the measured posture
    // became the default): small inputs sit on the pinned 16 floor…
    assert(SimilarityStages.annCells(frame(100)) === 16)
    s.conf.set(key, "auto")
    try {
      val small = SimilarityStages.annCells(frame(100))
      assert(small === 16, s"floor: got $small")
      val big = SimilarityStages.annCells(frame(40000))
      // √40000 = 200; allow the size-estimate fallback's row-width
      // guess a generous band — auto needs the right ORDER, not n.
      assert(big >= 60 && big <= 700, s"sqrt scaling: got $big")
      assert(big > small, "auto must grow with input size")
      // …and default-unset equals explicit auto.
      val defaulted = { s.conf.unset(key)
        SimilarityStages.annCells(frame(40000)) }
      assert(defaulted === big, "conf-unset default must equal auto")
    } finally s.conf.unset(key)
  }

  test("annProbes: explicit pins, auto holds the pinned coverage at the floor and decays to 2") {
    // Round-11 posture: P = max(2, ceil(16·pinned / C)) — exactly the
    // pinned constant at the 16-cell floor (so every small-sf
    // set-equality pin is unchanged) and the measured large-n optimum
    // P=2 once C ≈ √n grows (BENCH.md round 10: P=8-of-16 at 10×
    // degenerates to all-pairs; C=√n, P=2 beats exact 1.3–2×).
    val s = spark
    import s.implicits._
    val frame = Seq((1L, Array.fill(8)(0.5))).toDF("vec_id", "v")
    val key = "spark.graft.knn.ann.probes"
    s.conf.set(key, "5")
    try assert(SimilarityStages.annProbes(frame, cells = 999, pinned = 8) === 5)
    finally s.conf.unset(key)
    assert(SimilarityStages.annProbes(frame, cells = 16, pinned = 8) === 8)
    assert(SimilarityStages.annProbes(frame, cells = 16, pinned = 6) === 6)
    assert(SimilarityStages.annProbes(frame, cells = 32, pinned = 8) === 4)
    assert(SimilarityStages.annProbes(frame, cells = 128, pinned = 8) === 2)
    assert(SimilarityStages.annProbes(frame, cells = 65536, pinned = 8) === 2,
      "auto must bottom out at 2 probes")
  }

  test("mode auto: size-gated — exact below the threshold, ann at it, explicit wins") {
    // Round-10 verdict #1: the measured scale posture is the DEFAULT.
    // The route goes by the input's size estimate against
    // spark.graft.ann.autoThresholdBytes: the oracled test sfs stay on
    // the declared exact plan, scaled-up frames route to IVF
    // multi-probe without any conf change, and the threshold alone
    // forces either route.
    val s = spark
    import s.implicits._
    val emb = Seq.tabulate(64)(i =>
      (i.toLong, Array.fill(8)(i / 64.0 - 0.5))).toDF("vec_id", "v")
    // tiny frame, default threshold (4 MiB) → exact
    assert(SimilarityStages.route(emb) === "exact")
    // threshold forced to 1 byte → every frame is "large" → ann
    withConf("spark.graft.ann.autoThresholdBytes", "1") {
      assert(SimilarityStages.route(emb) === "ann")
      // the ann-routed candidate stage must genuinely prune: no
      // CartesianProduct in the plan (IVF equi-join on cell keys)
      val plan = SimilarityStages.knnCandidates(emb, "l2")
        .queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"),
        s"auto-ann plan still carries an all-pairs stage:\n$plan")
    }
    // a threshold past every input forces exact; one past the Int
    // range is accepted (the threshold is a Long)
    withConf("spark.graft.ann.autoThresholdBytes", Long.MaxValue.toString)(
      assert(SimilarityStages.route(emb) === "exact"))
    withConf("spark.graft.ann.autoThresholdBytes", (8L << 30).toString)(
      assert(SimilarityStages.route(emb) === "exact"))
    // malformed threshold names the key
    withConf("spark.graft.ann.autoThresholdBytes", "fuzzy") {
      val ex = intercept[IllegalArgumentException](
        SimilarityStages.route(emb))
      assert(ex.getMessage.contains("spark.graft.ann.autoThresholdBytes"))
    }
  }

  test("sizing treats an unknown estimate as unknown: RDD-backed frame → 4 blocks, exact mode, 16 cells") {
    // Round-10 advice (medium): a plan whose leaves report
    // spark.sql.defaultSizeInBytes (Long.MaxValue — RDD-backed
    // frames, foreign sources) must NOT saturate blocks=auto into a
    // 4096-way union of cartesian joins; it falls back to a small
    // constant, and the mode gate resolves to the declared exact
    // semantics rather than pretending the input is 100 TB.
    val s = spark
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("vec_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType))))
    val rdd = s.sparkContext.parallelize(Seq.tabulate(8)(i =>
      org.apache.spark.sql.Row(i.toLong, Seq.fill(4)(i.toDouble))))
    val rddFrame = s.createDataFrame(rdd, schema)
    assert(SimilarityStages.planBytes(rddFrame).isEmpty,
      "RDD-backed frame must report an unknown size estimate")
    assert(SimilarityStages.blockCount(rddFrame) === 4,
      "unknown estimate must fall back to 4 blocks, not the 4096 cap")
    assert(SimilarityStages.route(rddFrame)
      === "exact", "unknown estimate must resolve to the declared exact mode")
    assert(SimilarityStages.annCells(rddFrame)
      === 16, "unknown estimate must resolve to the 16-cell floor")
  }

  test("sizing confs are validated at read time with the offending key named") {
    val s = spark
    import s.implicits._
    val emb = Seq((1L, Array.fill(8)(0.5))).toDF("vec_id", "v")
    def failsNaming(key: String, value: String)(body: => Any): Unit = {
      s.conf.set(key, value)
      try {
        val ex = intercept[IllegalArgumentException](body)
        assert(ex.getMessage.contains(key),
          s"error for $key=$value does not name the key: ${ex.getMessage}")
      } finally s.conf.unset(key)
    }
    failsNaming("spark.graft.simjoin.blockBytes", "0")(
      SimilarityStages.blockCount(emb))
    failsNaming("spark.graft.simjoin.blocks", "0")(
      SimilarityStages.blockCount(emb))
    failsNaming("spark.graft.simjoin.blocks", "-3")(
      SimilarityStages.blockCount(emb))
    failsNaming("spark.graft.simjoin.blocks", "many")(
      SimilarityStages.blockCount(emb))
    failsNaming("spark.graft.ann.autoThresholdBytes", "-1")(
      SimilarityStages.route(emb))
    failsNaming("spark.graft.knn.ann.cells", "0")(
      SimilarityStages.annCells(emb))
    failsNaming("spark.graft.knn.ann.probes", "zero")(
      SimilarityStages.annProbes(emb, 16, 8))
    val edges = Seq((1L, 2L)).toDF("s", "t")
    val wedges = Seq((1L, 2L)).toDF("t1", "t2")
    failsNaming("spark.graft.wedge.bloom.minEdges", "-5")(
      GraphStages.bloomPrune(wedges, edges, "t1", "t2"))
    failsNaming("spark.graft.wedge.bloom.minEdges", "many")(
      GraphStages.bloomPrune(wedges, edges, "t1", "t2"))
    failsNaming("spark.graft.dedup.pair.bucketCap", "lots")(
      DedupStages.pairBucketCap(s))
    failsNaming("spark.graft.tfidf.bandRows", "three")(
      Semantic.tfidfBandRows(s, 500))
    failsNaming("spark.graft.cobasket.hot", "hot")(
      Graphs.coCounts(s, Seq((1L, 2L)).toDF("o", "p"), 2))
    // Settings read while an operator builds its frame.
    val sf = "/root/testdata/sf0.001"
    def build(key: String) = graft.SparkEntry.queries(key)(s, sf)
    failsNaming("spark.graft.theilsen.maxGroupRows", "many")(build("q_theil_sen"))
    failsNaming("spark.graft.semdedup.k", "k")(build("q_semdedup"))
    failsNaming("spark.graft.lsh.planes", "sixteen")(build("q_lsh_embed"))
    failsNaming("spark.graft.lsh.planes", "2")(build("q_lsh_embed"))
    failsNaming("spark.graft.interval.cellMicros", "hour")(build("q_join_interval"))
  }

  test("min-label propagation stops at the fixpoint: round count = diameter-bound + proof round") {
    val s = spark
    import s.implicits._
    // A 12-hop path converges once labels stop moving; propagate+jump
    // covers it in ≤ 5 working rounds, plus ONE proof round that
    // reproduces the previous label sum. The old fixed budget ran 16
    // rounds on q_dbscan regardless (round-10 verdict #2).
    val pairs = (100L until 112L).map(i => (i, i + 1)).toDF("id1", "id2")
    val nodes = (100L to 112L).toDF("node")
    val (lab, rounds) = DedupStages.minLabelPropagateCounted(nodes, pairs)
    val got = lab.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (100L to 112L).foreach(n => assert(got(n) == 100L))
    assert(rounds >= 2 && rounds <= 6,
      s"expected fixpoint in 2..6 rounds (5 working + 1 proof max), ran $rounds")
    // A no-edge graph is its own fixpoint: exactly 1 proof round.
    val (_, r0) = DedupStages.minLabelPropagateCounted(
      (1L to 5L).toDF("node"),
      s.emptyDataset[(Long, Long)].toDF("id1", "id2"))
    assert(r0 === 1, s"edgeless graph must converge in one proof round, ran $r0")
  }

  test("min-label propagation over no nodes and no pairs returns no labels after one round") {
    val s = spark
    import s.implicits._
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val noPairs = s.emptyDataset[(Long, Long)].toDF("id1", "id2")
    // Empty as a literal (the optimizer prunes the propagate join) and
    // empty only at run time (AQE prunes it, as for q_dbscan with no
    // core point). Either way the initial sum's observation, below
    // that join, leaves the plan; the loop must not wait for it.
    for (nodes <- Seq(s.emptyDataset[Long].toDF("node"),
        s.range(10).filter(col("id") > 100).select(col("id").as("node")))) {
      val run = Future(DedupStages.minLabelPropagateCounted(nodes, noPairs))(
        ExecutionContext.global)
      val (lab, rounds) = Await.result(run, 2.minutes)
      assert(lab.count() === 0)
      assert(rounds === 1)
    }
  }

  test("min-label propagation runs only its checkpoints: the pair pin and two per round") {
    val s = spark
    import s.implicits._
    // The fixpoint spec's 12-hop path. Each round's label sum is
    // observed inside its jump checkpoint (the initial sum inside
    // round 1's propagate checkpoint), so no aggregate query runs
    // between checkpoints.
    val pairs = (100L until 112L).map(i => (i, i + 1)).toDF("id1", "id2")
    val nodes = (100L to 112L).toDF("node")
    // The queries each run executes, and its labels, rounds and jobs.
    def run(pairs: org.apache.spark.sql.DataFrame, pinned: Boolean) = {
      val ran = new java.util.concurrent.ConcurrentLinkedQueue[String]
      val l = new org.apache.spark.sql.util.QueryExecutionListener {
        def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
          ran.add(f)
        def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit =
          ran.add(s"$f failed")
      }
      org.apache.spark.TestBus.drain(s.sparkContext)
      s.listenerManager.register(l)
      var out: (org.apache.spark.sql.DataFrame, Int) = null
      val jobs = try jobsDuring {
        out = DedupStages.minLabelPropagateCounted(nodes, pairs, pairsPinned = pinned)
        org.apache.spark.TestBus.drain(s.sparkContext)
      } finally s.listenerManager.unregister(l)
      val labels = out._1.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      (scala.jdk.CollectionConverters.IteratorHasAsScala(ran.iterator).asScala.toSeq,
        labels, out._2, jobs)
    }
    val (ran, lab, rounds, jobs) = run(pairs, pinned = false)
    assert(ran === Seq.fill(1 + 2 * rounds)("localCheckpoint"))
    // Same labels and round count as the separate-sum loop, which ran
    // 37 jobs here.
    assert(lab === (100L to 112L).map(_ -> 100L).toMap)
    assert(rounds === 4)
    assert(jobs < 37, s"$jobs jobs")
    // A pair frame pinned and materialized by the caller is not copied.
    val pinned = pairs.localCheckpoint()
    try assert(run(pinned, pinned = true) === ((Seq.fill(2 * rounds)("localCheckpoint"),
      lab, rounds, jobs - 1)))
    finally graft.Tables.unpin(pinned)
  }

  test("bandedFrame hashes each shingle once and keeps the per-permutation formula's rows") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(23)
    val bases = (0 until 40).map(_ => Seq.fill(30)("w" + rnd.nextInt(400)))
    val docs = (0 until 160).map { i =>
      val w = bases(i % 40).toArray
      (0 until i % 4).foreach(_ => w(rnd.nextInt(w.length)) = "v" + rnd.nextInt(400))
      (i.toLong, w.mkString(" "))
    }.toDF("doc_id", "text")
    // The formula the hoist replaced: h28 of every shingle recomputed
    // inside each of the 16 permutations.
    val a = "array(" + (0 until 16).map(DedupStages.aCoef).mkString(",") + ")"
    val b = "array(" + (0 until 16).map(DedupStages.bCoef).mkString(",") + ")"
    val want = DedupStages.shingleSets(docs).filter(size(col("s")) >= 1).select(col("doc_id"),
      expr(s"array_sort(transform(s, x -> ${TextKit.h60("x")}))").as("hs"),
      expr(s"""transform(sequence(0, 15), i ->
              |  array_min(transform(transform(s, x -> ${TextKit.h28("x")}), h ->
              |    (element_at($a, i + 1) * h + element_at($b, i + 1)) % ${DedupStages.P})))""".stripMargin)
        .as("mhs"))
    // The columnar pin keeps the frame's physical plan inspectable.
    s.conf.set("spark.graft.loop.columnar", "on")
    val f = try DedupStages.bandedFrame(DedupStages.sketchOf(DedupStages.shingleSets(docs)))
    finally s.conf.unset("spark.graft.loop.columnar")
    try {
      val cached = f.queryExecution.withCachedData.collectFirst {
        case r: org.apache.spark.sql.execution.columnar.InMemoryRelation => r.cacheBuilder.cachedPlan
      }.get match {
          case p: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => p.executedPlan
          case p => p
        }
      import org.apache.spark.sql.catalyst.expressions.{Expression, LambdaFunction, Md5}
      // How many lambdas deep each md5 call sits: 1 when a shingle is
      // hashed once, 2 when the hash runs inside a per-permutation lambda.
      def md5Depth(e: Expression, d: Int): Int = e match {
        case _: Md5 => d
        case _: LambdaFunction => e.children.map(md5Depth(_, d + 1)).maxOption.getOrElse(-1)
        case _ => e.children.map(md5Depth(_, d)).maxOption.getOrElse(-1)
      }
      assert(cached.collect { case p => p.expressions }.flatten.map(md5Depth(_, 0)).max === 1,
        cached.toString)
      val got = f.filter(col("band") === 0).select("doc_id", "hs", "mhs")
      assert(got.count() === 160)
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    } finally f.unpersist()
  }

  test("q_dedup_minhash and the banded q_dedup_near on one corpus sketch it once") {
    val d = clusteredCorpus()
    val minhash = graft.SparkEntry.queries("q_dedup_minhash")
    assert(buildJobs(d, "dedup sketch")(minhash(spark, d).collect()) > 0,
      "the first operator sketches the corpus")
    var near = Array.empty[org.apache.spark.sql.Row]
    assert(buildJobs(d, "dedup sketch") { near = dedupAt("q_dedup_near", d, "banded") } === 0)
    assert(near.nonEmpty)
  }

  test("a rewrite of the documents at the same path rebuilds the sketch") {
    val d = clusteredCorpus()
    def rows(d: String): Seq[Seq[Seq[Any]]] = Seq(
      graft.SparkEntry.queries("q_dedup_minhash")(spark, d).collect(),
      dedupAt("q_dedup_near", d, "banded")).map(_.map(_.toSeq).toSeq)
    val before = rows(d)
    rewriteHalf(d, "documents", "doc_id")
    var again = Seq.empty[Seq[Seq[Any]]]
    assert(buildJobs(d, "dedup sketch") { again = rows(d) } > 0, "a rewrite rebuilds")
    assert(again.head != before.head && again(1) != before(1),
      "the rewrite must change both results")
    assert(again === rows(copyOf(d)))
  }

  test("documents with fewer than 3 tokens are never MinHash candidates") {
    // Such a document has no shingles. Sketched, it would get 32 NULL
    // minima and one band key shared by all of them: every pair of
    // them a candidate, verified at 0 / 0.
    val s = spark
    import s.implicits._
    val d = tmpDir()
    val dup = "the quick brown fox jumps over the lazy dog"
    writeOneFile(Seq((1L, dup), (2L, dup), (3L, "short one"), (4L, "tiny"), (5L, "two words"))
      .toDF("doc_id", "text"), d, "documents")
    assert(graft.SparkEntry.queries("q_dedup_minhash")(s, d).collect().map(_.toSeq).toSeq ===
      Seq(Seq(1L, 2L, 1.0)))
    val r = graft.SparkEntry.queries("q_minhash_recall")(s, d).head()
    assert(Seq("n_true", "n_cand", "hits").map(r.getAs[Long]) === Seq(1L, 1L, 1L))
    assert(r.getAs[Double]("recall") === 1.0 && r.getAs[Double]("precision") === 1.0)
  }

  test("lsh plane auto-sizing: declared 16 at test sfs, log2(n) band " +
    "bits above the gate, explicit pin wins") {
    // The declared/oracled q_lsh_embed form is 16 planes = 4 bands ×
    // 4 bits — band keys have 16 values, so buckets hold n/16 vectors
    // and the bucket join is ~n²/16 pairs per band once n ≫ 2⁴
    // (measured 38 s audit-off at sf1.0). `spark.graft.lsh.planes=
    // auto` must therefore resolve to EXACTLY 16 at every oracled
    // test sf (≤4096 estimated rows — the hash gate pins the
    // signatures), and above the gate scale to 4·⌈log₂ n⌉ so the
    // expected bucket size stays O(1). The sizing itself is pinned
    // here by running the FULL query at sf0.001 under an explicit
    // planes pin and checking n_cand falls as band bits grow — more
    // bits ⇒ strictly fewer-or-equal bucket collisions.
    val sf001 = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$sf001/embeddings.parquet").exists())
    val s = spark
    def candAt(planes: String): Long = {
      s.conf.set("spark.graft.lsh.planes", planes)
      try graft.SparkEntry.queries("q_lsh_embed")(s, sf001)
        .select("n_cand").head.getLong(0)
      finally s.conf.unset("spark.graft.lsh.planes")
    }
    val auto = candAt("auto")
    val declared = candAt("16")
    assert(auto === declared,
      "auto must reproduce the declared 16-plane form below the gate " +
        s"(auto=$auto declared=$declared)")
    val wide = candAt("40") // 10-bit bands
    assert(wide <= declared,
      s"wider band keys must not increase collisions ($wide > $declared)")
  }

  test("q_join_interval output is grid-cell-size invariant (auto vs pinned cells)") {
    // The grid decomposition's claim: cells only generate CANDIDATES;
    // the exact overlap residual + pair distinct make the output
    // independent of the cell width, so auto-sizing the cell from
    // the observed median interval length can never change a row.
    val sf001 = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$sf001/events.parquet").exists())
    val s = spark
    def rowsAt(cell: Option[String]) = {
      cell.foreach(s.conf.set("spark.graft.interval.cellMicros", _))
      try graft.SparkEntry.queries("q_join_interval")(s, sf001)
        .collect().map(_.toSeq).toSet
      finally s.conf.unset("spark.graft.interval.cellMicros")
    }
    val auto = rowsAt(None)
    val hour = rowsAt(Some((3600L * 1000000L).toString))
    val tenMin = rowsAt(Some((600L * 1000000L).toString))
    assert(auto === hour, "auto cell must reproduce the hour-cell rows")
    assert(auto === tenMin, "cell width must not change the output")
  }

  test("tfidf.mode auto is exact below the doc gate and the bounded top-k plan past it") {
    val sf001 = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$sf001/documents.parquet").exists())
    val s = spark
    // Rows at the gate `warnDocs` (default when None), asserting the
    // route the gate takes.
    def pairsAt(warnDocs: Option[String], scale: Boolean) = {
      warnDocs.foreach(s.conf.set("spark.graft.tfidf.pairsWarnDocs", _))
      try {
        assert(Semantic.tfidfPairsAtScale(s, sf001) === scale)
        graft.SparkEntry.queries("q_tfidf_pairs")(s, sf001)
          .collect().map(_.toSeq).toSet
      } finally s.conf.unset("spark.graft.tfidf.pairsWarnDocs")
    }
    // Below the gate (default 20000 docs ≫ sf0.001) the default must
    // reproduce the declared exact τ-pair form, which a gate past
    // every corpus forces, row-for-row.
    val auto = pairsAt(None, scale = false)
    val exact = pairsAt(Some(Long.MaxValue.toString), scale = false)
    assert(auto === exact, "auto below the gate must equal exact")
    // Past the gate auto must BE the bounded top-k route, projected
    // into the DECLARED pair schema (round-14 advice: no
    // data-dependent column switch): the τ-pair set restricted to
    // top-5 neighborhoods — a strict subset of exact, same columns.
    val routedDf = {
      s.conf.set("spark.graft.tfidf.pairsWarnDocs", "1")
      try graft.SparkEntry.queries("q_tfidf_pairs")(s, sf001)
      finally s.conf.unset("spark.graft.tfidf.pairsWarnDocs")
    }
    assert(routedDf.columns.toSeq === Seq("d1", "d2", "n_shared", "cos"),
      "routed plan must keep the declared schema")
    val routed = pairsAt(Some("1"), scale = true)
    val topkPairs = Semantic.tfidfTopkPairs(s, sf001)
      .collect().map(_.toSeq).toSet
    assert(routed === topkPairs,
      "auto past the gate must equal the top-k pair projection")
    assert(routed.subsetOf(exact),
      "routed rows must be a subset of the declared τ-pair answer")
    assert(routed !== exact, "fixture must distinguish the two forms")
  }

  test("tfidf topk.mode: cluster rows carry bit-identical (nsh, cos) to " +
    "exact; recall pinned on the output; auto gates by doc count") {
    val sf = "/root/testdata/sf0.01"
    assume(new java.io.File(s"$sf/documents.parquet").exists())
    val s = spark
    val nDocs = graft.Tables.documents(s, sf).count()
    // Soundness: every clustered top-k row IS an exact candidate with
    // the identical (n_shared, cos) — the sorted_dot_stats merge walk
    // must reproduce the posting-join DECIMAL(38,12) dot bit-for-bit
    // (a 1-ulp drift here would flip 6dp roundings corpus-wide).
    val exactScored = Semantic.tfidfScoredExact(s, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    val clusterRows = Semantic.tfidfTopkClustered(s, sf, nDocs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getLong(4)))
    val alien = clusterRows.filterNot { case (d1, d2, nsh, cos, _) =>
      exactScored.get((d1, d2)).contains((nsh, cos))
    }
    assert(alien.isEmpty,
      s"cluster rows diverge from exact scoring on ${alien.size} pairs, " +
        s"e.g. ${alien.take(3).toSeq}")
    // Recall contract, measured where it is DECLARED: on the top-5
    // OUTPUT rows. The route's promise is the high-cos regime — the
    // near-dup neighborhoods whose clique volume kills the exact
    // plan — so the high-cos slice is pinned tight and the overall
    // figure pinned at its contract level.
    def topkRows(route: String): Set[(Long, Long, Double)] =
      topkAt(sf, route).map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val exactTop = topkRows("exact")
    val clusterTop = topkRows("cluster")
    val overall = clusterTop.intersect(exactTop).size.toDouble / exactTop.size
    val hiExact = exactTop.filter(_._3 >= 0.5)
    val hiRecall =
      if (hiExact.isEmpty) 1.0
      else clusterTop.intersect(hiExact).size.toDouble / hiExact.size
    info(s"topk row recall: overall=$overall high-cos=$hiRecall " +
      s"(${exactTop.size} exact rows, ${hiExact.size} high-cos)")
    assert(hiRecall >= 0.95,
      s"high-cos (>=0.5) top-k recall $hiRecall < 0.95")
    assert(overall >= 0.5, s"overall top-k recall $overall < 0.5")
    // The default gate: exact below it; past it, the clustered frame.
    assert(Semantic.tfidfRoute(s, sf)._1 === "exact")
    val autoTop = graft.SparkEntry.queries("q_tfidf_topk")(s, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(autoTop === exactTop, "auto below the 20k-doc gate = exact")
    assert(clusterTop === clusterRows.map(r => (r._1, r._2, r._4)).toSet,
      "past the gate = cluster")
    // Band-rows derivation (the r=3 100× spill lesson): r grows
    // log₂(n)/5, floor 3; explicit conf wins; junk is rejected with
    // the key named.
    assert(Semantic.tfidfBandRows(s, 500) === 3)
    assert(Semantic.tfidfBandRows(s, 32000) === 3)
    assert(Semantic.tfidfBandRows(s, 500000) === 4)
    assert(Semantic.tfidfBandRows(s, 50000000L) === 6)
    s.conf.set("spark.graft.tfidf.bandRows", "7")
    try assert(Semantic.tfidfBandRows(s, 500) === 7)
    finally s.conf.unset("spark.graft.tfidf.bandRows")
    s.conf.set("spark.graft.tfidf.bandRows", "99")
    val ex = intercept[IllegalArgumentException] {
      try Semantic.tfidfBandRows(s, 500)
      finally s.conf.unset("spark.graft.tfidf.bandRows")
    }
    assert(ex.getMessage.contains("spark.graft.tfidf.bandRows"))
  }

  test("tfidf bucket cap is EXACT in the rounding-tie clique regime " +
    "(the oversized-bucket shape): capped route == uncapped == exact") {
    // The 100× killer: nDocs/factor-member cliques of documents whose
    // only surviving term is the shared replica token — every
    // pairwise cos rounds to the same 6dp value, so the
    // (cos DESC, d2 ASC) top-5 is the 5 smallest other ids, which any
    // id-prefix cap >= 6 preserves. Build that shape synthetically:
    // 40 docs, one shared rare term, varying lengths (weights differ,
    // cos ties at 1.0 after rounding), bucket size 40 >> cap 6.
    val s = spark
    import s.implicits._
    // 40 clique docs + 400 filler docs: the shared token must SURVIVE
    // the df screen (df·10 <= nn → needs nn >= 400 here), while the
    // filler token is in every doc and gets screened out — filler
    // docs end with no surviving terms and never reach the output.
    val docs = ((0 until 40).map { i =>
      (i.toLong, ("sharedrare " + Seq.fill(3 + i)("common").mkString(" ")))
    } ++ (40 until 440).map { i =>
      (i.toLong, Seq.fill(5)("common").mkString(" "))
    }).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("tie_clique").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def run(cap: Option[Int], route: String): Seq[(Long, Long, Double, Long)] = {
      cap.foreach(c => s.conf.set("spark.graft.tfidf.bucketCap", c.toString))
      try topkAt(dir, route)
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
        .toSeq
      finally cap.foreach(_ => s.conf.unset("spark.graft.tfidf.bucketCap"))
    }
    val exact = run(None, "exact")
    val capped = run(Some(6), "cluster")
    val uncapped = run(Some(100000), "cluster")
    assert(exact.nonEmpty && exact.forall(_._3 === 1.0),
      s"fixture must be a rounding-tie clique, got ${exact.take(3)}")
    assert(capped === exact, "capped cluster route must be exact on ties")
    assert(uncapped === exact, "uncapped cluster route must be exact on ties")
  }

  test("tfidf cluster route: measured mid-Jaccard recall matches the " +
    "declared band-match formula 1-(1-J^r)^bands") {
    // The docs claim P(pair found) = 1-(1-J^r)^16. The oracled
    // fixtures only exercise J≈1 tie-cliques (recall 1.0), so build
    // a controlled mid-J corpus: 200 disjoint pairs, each sharing 8
    // of 16 pair-unique terms (J = 0.5 exactly, cos = 2/3), df = 2
    // for every term (survives the screen at nn = 400). Exact top-k
    // is then exactly the 400 directed pair rows, and the cluster
    // route finds a pair iff some band's minhashes agree — a
    // DETERMINISTIC outcome for fixed hashes, expected near
    // 1-(1-0.125)^16 ≈ 0.882 at the derived r = 3.
    val s = spark
    import s.implicits._
    val docs = (0 until 200).flatMap { i =>
      val terms = (0 until 16).map(j => s"t${i}x$j")
      Seq((2L * i, terms.take(12).mkString(" ")),
        (2L * i + 1, terms.drop(4).mkString(" ")))
    }.toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("midj").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def rows(route: String): Set[(Long, Long)] =
      topkAt(dir, route).map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = rows("exact")
    assert(exact.size === 400, s"exact must be the directed pairs, got ${exact.size}")
    val cluster = rows("cluster")
    assert(cluster.subsetOf(exact), "cluster rows must be exact rows here")
    val recall = cluster.size.toDouble / exact.size
    val pTheory = 1.0 - math.pow(1.0 - math.pow(0.5,
      Semantic.tfidfBandRows(s, 400)), 16)
    info(f"mid-J recall: measured $recall%.4f vs theory $pTheory%.4f")
    assert(math.abs(recall - pTheory) < 0.1,
      f"measured recall $recall%.3f strays >0.1 from the declared " +
        f"band-match probability $pTheory%.3f")
    // Hard ABSOLUTE floor at the J=0.5 operating point (round-15
    // verdict #4): the |measured-theory| check above tracks the
    // formula, so a band-derivation regression (say r drifting to 5,
    // theory 0.40) would pass it while halving real recall. 0.845
    // was measured at r16 head; 0.8 leaves box noise only.
    assert(recall >= 0.8,
      f"mid-J (J=0.5) recall $recall%.3f fell below the 0.8 floor " +
        "pinned at the measured 0.845 operating point")
  }

  test("coCounts hub-split + min-support screen are output-identical to the plain pair fold (seeded)") {
    // q_item_cf / q_link_pred's claim: the part screen (n >= k for
    // both endpoints is necessary for co >= k) and the split-both-
    // sides hot-basket pair generation (each unordered pair meets at
    // exactly ONE (i, j) group cell) never lose or duplicate a pair.
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(23)
    // Skewed basket fixture: one hot basket with 40 parts (forced
    // past the test's hot threshold of 8), many small baskets, and
    // a long tail of singleton parts the screen must drop silently.
    val rows = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    (0L until 40L).foreach(p => rows += ((0L, p)))          // hot basket
    (1L to 60L).foreach { o =>
      val k = 2 + rnd.nextInt(4)
      val parts = Seq.fill(k)(rnd.nextInt(30).toLong).distinct
      parts.foreach(p => rows += ((o, p)))
    }
    (1000L to 1050L).foreach(p => rows += ((100L + p, p)))  // singletons
    val li = rows.toSeq.toDF("o", "p").distinct()
      .localCheckpoint(eager = false)
    // Brute-force truth on the driver.
    val baskets = rows.groupBy(_._1).view
      .mapValues(_.map(_._2).distinct.toSet).toMap
    val truth = baskets.values.toSeq
      .flatMap(ps => for (u <- ps; v <- ps if u < v) yield (u, v))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
      .filter(_._2 >= 2)
    def run(): Map[(Long, Long), Long] =
      Graphs.coCounts(s, li, 2)._1.collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    s.conf.set("spark.graft.cobasket.hot", "8") // force the hot path
    val split = try run()
    finally s.conf.unset("spark.graft.cobasket.hot")
    val plain = run() // default 256: hot path empty, plain fold
    assert(plain === truth, "plain coCounts diverges from brute force")
    assert(split === truth,
      "hub-split coCounts diverges from brute force: lost=" +
        (truth.keySet -- split.keySet).take(5) + " extra=" +
        (split.keySet -- truth.keySet).take(5))
  }

  test("basketFrame size gate: both physical routes are row-identical " +
    "and the gate picks by on-disk bytes") {
    // Round-15 wedge-build gate: below spark.graft.cobasket.smallBytes
    // the frame is the checkpointed distinct (round-13 plan, cheaper
    // under ~1 M rows); at/above it the one-exchange repartition(o)
    // dedup (2.5x cheaper at 100x). The gate must be invisible to
    // consumers: same rows either way, and the big route's plan must
    // carry the o-partitioning the exchange-free coCounts build
    // relies on.
    val s = spark
    val sf = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$sf/lineitem.parquet").exists())
    def rows(): Set[(Long, Long)] =
      Graphs.basketFrame(s, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    s.conf.set("spark.graft.cobasket.smallBytes", Long.MaxValue.toString)
    val small = try rows() finally s.conf.unset("spark.graft.cobasket.smallBytes")
    s.conf.set("spark.graft.cobasket.smallBytes", "1")
    val (big, bigPlan) = try {
      val df = Graphs.basketFrame(s, sf)
      (df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet,
        df.queryExecution.executedPlan.toString)
    } finally s.conf.unset("spark.graft.cobasket.smallBytes")
    assert(small === big, "gate routes must be row-identical")
    val truth = graft.Tables.lineitem(s, sf)
      .selectExpr("l_orderkey", "l_partkey").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(small === truth)
    assert(bigPlan.contains("hashpartitioning(o"),
      "big route must partition on the basket key (exchange-free dedup + join)")
    // tableBytes: the gate's size signal is the real on-disk footprint.
    val bytes = graft.Tables.tableBytes(sf, "lineitem")
    assert(bytes > 0 && bytes ===
      new java.io.File(s"$sf/lineitem.parquet").length())
    assert(graft.Tables.tableBytes(sf, "no_such_table") === 0L)
    // Unknown size (tableBytes == 0, e.g. a non-local path a driver
    // listing can't walk) must default to the SCALE-SAFE big route,
    // never the checkpoint plan (round-15 advice) — even under a
    // gate that would otherwise always pick small.
    s.conf.set("spark.graft.cobasket.smallBytes", Long.MaxValue.toString)
    try {
      assert(!Graphs.cobasketSmall(s, 0L, sf),
        "unknown size must route to the one-exchange build")
      assert(Graphs.cobasketSmall(s, 1L, sf))
    } finally s.conf.unset("spark.graft.cobasket.smallBytes")
    // Malformed conf is rejected with the key named (house style).
    s.conf.set("spark.graft.cobasket.smallBytes", "lots")
    val ex = intercept[IllegalArgumentException] {
      try Graphs.cobasketSmall(s, 1L, sf)
      finally s.conf.unset("spark.graft.cobasket.smallBytes")
    }
    assert(ex.getMessage.contains("spark.graft.cobasket.smallBytes"))
  }

  test("pair-dedup banded route: rows are bit-identical members of the " +
    "exact answer; auto gates by doc count; junk conf rejected") {
    val sf = "/root/testdata/sf0.01"
    assume(new java.io.File(s"$sf/documents.parquet").exists())
    val s = spark
    // Rows at the default gate (None) or with `route` forced.
    def rowsOf(name: String, route: Option[String]): Set[Seq[Any]] =
      route.fold(graft.SparkEntry.queries(name)(s, sf).collect())(
        dedupAt(name, sf, _)).map(_.toSeq).toSet
    // q_dedup_near: the banded form is the ≥τ contract restricted to
    // top-5 neighborhoods — a SUBSET with identical jac per pair.
    val nearExact = rowsOf("q_dedup_near", None) // below gate: exact
    val nearBanded = rowsOf("q_dedup_near", Some("banded"))
    assert(nearBanded.subsetOf(nearExact),
      s"banded near-dup rows must be exact rows; alien: " +
        s"${nearBanded.diff(nearExact).take(3)}")
    assert(nearBanded.nonEmpty, "fixture must exercise the route")
    // q_jaccard_containment: same subset contract, directed.
    val contExact = rowsOf("q_jaccard_containment", None)
    val contBanded = rowsOf("q_jaccard_containment", Some("banded"))
    assert(contBanded.subsetOf(contExact),
      s"banded containment rows must be exact rows; alien: " +
        s"${contBanded.diff(contExact).take(3)}")
    assert(contBanded.nonEmpty)
    // q_dup_clusters: cluster ASSIGNMENT must survive the edge-set
    // route on this corpus (fixed hashes → deterministic; the banded
    // edge recall at τ=0.6 is 1-(1-J)^16 ≥ 1-0.4^16 per pair).
    assert(rowsOf("q_dup_clusters", Some("banded")) ===
      rowsOf("q_dup_clusters", None),
      "banded CC must reproduce the exact cluster assignment here")
    // gate dispatch: below the 20k gate = exact; past it = banded;
    // the taken route is conf-readable (round-15 advice protocol).
    rowsOf("q_dedup_near", None)
    assert(s.conf.get("spark.graft.dedup.pair.lastRoute") === "exact")
    s.conf.set("spark.graft.dedup.pairGateDocs", "1")
    val autoRouted = try rowsOf("q_dedup_near", None)
    finally s.conf.unset("spark.graft.dedup.pairGateDocs")
    assert(s.conf.get("spark.graft.dedup.pair.lastRoute") === "banded")
    assert(autoRouted === nearBanded, "auto past the gate = banded")
    s.conf.set("spark.graft.dedup.pairGateDocs", "junk")
    val ex2 = intercept[IllegalArgumentException] {
      try DedupStages.pairRoute(s, sf)
      finally s.conf.unset("spark.graft.dedup.pairGateDocs")
    }
    assert(ex2.getMessage.contains("spark.graft.dedup.pairGateDocs"))
    s.conf.set("spark.graft.dedup.pair.bucketCap", "2")
    val ex3 = intercept[IllegalArgumentException] {
      try DedupStages.pairBucketCap(s)
      finally s.conf.unset("spark.graft.dedup.pair.bucketCap")
    }
    assert(ex3.getMessage.contains("spark.graft.dedup.pair.bucketCap"))
  }

  test("minhash recall audit panels past the pair gate: both arms " +
    "restrict to the hash(doc_id) % stride == 0 sample") {
    val sf = "/root/testdata/sf0.01"
    assume(new java.io.File(s"$sf/documents.parquet").exists())
    val s = spark
    // 500 docs, gate 100 → stride 5, panel = hash(doc_id) % 5 == 0
    // (hash, not raw id: a raw stride aliases with the fixture's
    // base*k+i clique layout and can strip the panel of true pairs).
    s.conf.set("spark.graft.dedup.pairGateDocs", "100")
    val row = try graft.SparkEntry.queries("q_minhash_recall")(s, sf).head()
    finally s.conf.unset("spark.graft.dedup.pairGateDocs")
    val panel = graft.Tables.documents(s, sf)
      .filter(pmod(hash(col("doc_id")), lit(5)) === 0)
    val shP = DedupStages.shingleSets(panel)
    val candP = DedupStages.bandCandidates(DedupStages.bandKeys(shP)).count()
    val trueP = DedupStages.nearDupPairsFromShingles(shP, 0.6).count()
    assert(row.getLong(row.fieldIndex("n_cand")) === candP,
      "panel candidate count must come from the sampled corpus")
    assert(row.getLong(row.fieldIndex("n_true")) === trueP,
      "panel truth count must come from the sampled corpus")
    // Below the gate (default 20k) the full corpus runs — the
    // oracle-checked form.
    val full = graft.SparkEntry.queries("q_minhash_recall")(s, sf).head()
    val shF = DedupStages.shingleSets(graft.Tables.documents(s, sf))
    assert(full.getLong(full.fieldIndex("n_cand")) ===
      DedupStages.bandCandidates(DedupStages.bandKeys(shF)).count())
  }

  test("pair-dedup banded route is EXACT in the replica-clique regime: " +
    "capped CC == exact CC, banded near-dup == exact top-5 restriction") {
    // The 100× killer shape: k-member cliques of near-identical
    // replicas (text + per-replica suffix token → J just under 1
    // within a clique, ~0 across). The banded route's contract: the
    // star around each bucket's smallest ids connects every clique
    // (CC exact), and the bucket cap preserves the (score DESC, id
    // ASC) top-5 (tie-clique argument).
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(7)
    def soup(n: Int) = Seq.fill(n)("w" + rnd.nextInt(5000)).mkString(" ")
    val bases = (0 until 12).map(_ => soup(40))
    val docs = bases.zipWithIndex.flatMap { case (b, c) =>
      (0 until 10).map(i => ((c * 10 + i).toLong, s"$b r$i"))
    }.toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("clique16").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def q(name: String, route: String): Seq[Seq[Any]] =
      dedupAt(name, dir, route).map(_.toSeq).toSeq
    // CC: identical cluster assignment, and every clique collapses
    // to its minimum id.
    val ccB = q("q_dup_clusters", "banded")
    assert(ccB === q("q_dup_clusters", "exact"))
    val canon = ccB.map(r => r(0).asInstanceOf[Long] ->
      r(1).asInstanceOf[Long]).toMap
    (0 until 12).foreach { c =>
      (0 until 10).foreach { i =>
        assert(canon((c * 10 + i).toLong) === (c * 10).toLong,
          s"doc ${c * 10 + i} must canonicalize to clique min ${c * 10}")
      }
    }
    // near-dup: banded == the exact answer restricted to each doc's
    // top-5 under (jac DESC, partner ASC), computed independently
    // from the exact pair set here.
    val exact = q("q_dedup_near", "exact")
      .map(r => (r(0).asInstanceOf[Long], r(1).asInstanceOf[Long],
        r(2).asInstanceOf[Double]))
    val byDoc = exact.flatMap { case (a, b, j) => Seq(a -> (b, j), b -> (a, j)) }
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val restricted = byDoc.flatMap { case (d1, nbrs) =>
      nbrs.sortBy { case (d2, j) => (-j, d2) }.take(5)
        .map { case (d2, j) => (math.min(d1, d2), math.max(d1, d2), j) }
    }.toSet
    val banded = q("q_dedup_near", "banded")
      .map(r => (r(0).asInstanceOf[Long], r(1).asInstanceOf[Long],
        r(2).asInstanceOf[Double])).toSet
    assert(banded === restricted,
      s"banded near-dup must equal the exact top-5 restriction; " +
        s"missing=${restricted.diff(banded).take(3)} " +
        s"alien=${banded.diff(restricted).take(3)}")
  }

  test("dedup banded route: MEASURED mid-J recall at two operating " +
    "points matches the declared 1-(1-J)^16 band contract") {
    // Round-17 (verdict #3): the route's recall rested on the
    // formula + the clique-exactness argument; this measures it on
    // genuinely-MIXED (non-clique, non-tie) corpora, transplanting
    // the tfidf route's technique. Two deterministic fixtures:
    //  - LOW-J / high-containment (the asymmetric small-in-big pair
    //    the containment operator exists for): A = 10 unique words
    //    (8 trigram shingles), B = A ++ 70 more unique words (78
    //    shingles, sharing exactly A's 8) → J = 8/78 ≈ 0.103,
    //    cont(A→B) = 1.0. Theory 1-(1-J)^16 ≈ 0.823 — the
    //    DISCRIMINATING operating point (r=1's reason to exist; the
    //    8×4 sketch would see ≈ 0.002 here).
    //  - τ-MARGIN J for q_dedup_near: A/B share a 21-word suffix
    //    behind 6 distinct prefix words each → 25 shingles/side, 19
    //    shared, J = 19/31 ≈ 0.613 ≥ τ = 0.6 with margin (not a
    //    rounding tie). Theory miss (1-J)^16 ≈ 2.6e-7 — recall must
    //    be TOTAL on 400 pairs.
    // Pair universes are word-disjoint, so buckets hold only true
    // partners (ix ≥ 1 screens stray bucket mates) and the cap
    // never binds — this isolates the BAND-match probability, which
    // is what the formula claims.
    val s = spark
    import s.implicits._
    def write(docs: org.apache.spark.sql.DataFrame): String = {
      val dir = java.nio.file.Files.createTempDirectory("midj_dedup").toString
      docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
      dir
    }
    def rows(name: String, dir: String, route: String): Map[(Long, Long), Double] =
      dedupAt(name, dir, route)
        .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    // --- operating point 1: J = 8/78, q_jaccard_containment
    val lowJ = write((0 until 400).flatMap { i =>
      val ws = (0 until 80).map(j => s"w${i}x$j")
      Seq((2L * i, ws.take(10).mkString(" ")),
        (2L * i + 1, ws.mkString(" ")))
    }.toDF("doc_id", "text"))
    val exactC = rows("q_jaccard_containment", lowJ, "exact")
    assert(exactC.size === 400 && exactC.values.forall(_ === 1.0),
      s"exact answer must be the 400 contained pairs at cont 1.0, " +
        s"got ${exactC.size}")
    val bandedC = rows("q_jaccard_containment", lowJ, "banded")
    assert(bandedC.keySet.subsetOf(exactC.keySet),
      "banded containment rows must be exact rows")
    assert(bandedC.forall { case (k, v) => exactC(k) === v },
      "routed cont values must be bit-identical to exact")
    val recall = bandedC.size.toDouble / exactC.size
    val j = 8.0 / 78.0
    val theory = 1.0 - math.pow(1.0 - j, 16)
    info(f"low-J recall: measured $recall%.4f vs theory $theory%.4f (J=$j%.4f)")
    assert(math.abs(recall - theory) < 0.1,
      f"measured recall $recall%.3f strays >0.1 from 1-(1-J)^16 = $theory%.3f")
    // Hard absolute floor at the measured operating point (the
    // tfidf-route discipline: the tracking check alone would pass a
    // band-count regression that halves real recall).
    assert(recall >= 0.75,
      f"low-J recall $recall%.3f fell below the 0.75 floor pinned " +
        "at the measured operating point")
    // --- operating point 2: J = 19/31 ≈ 0.613, q_dedup_near
    val tauJ = write((0 until 400).flatMap { i =>
      val shared = (0 until 21).map(j => s"s${i}x$j")
      Seq((2L * i, ((0 until 6).map(j => s"a${i}x$j") ++ shared).mkString(" ")),
        (2L * i + 1, ((0 until 6).map(j => s"b${i}x$j") ++ shared).mkString(" ")))
    }.toDF("doc_id", "text"))
    val exactN = rows("q_dedup_near", tauJ, "exact")
    assert(exactN.size === 400,
      s"exact near-dup answer must be the 400 pairs, got ${exactN.size}")
    val bandedN = rows("q_dedup_near", tauJ, "banded")
    assert(bandedN === exactN,
      s"at J ≈ 0.613 ≥ τ the band contract predicts TOTAL recall " +
        s"(miss ≈ 2.6e-7); missing=${(exactN.keySet -- bandedN.keySet).take(3)}")
  }

}
