package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import graft.Tables
import graft.queries.DedupStages

/** The query executions a session ran (actions and checkpoints), so a
  * route check reads the plans an operator actually executed. */
final class Executed extends QueryExecutionListener {
  private val seen = ArrayBuffer.empty[QueryExecution]
  def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized { seen += qe }
  def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  /** The executions delivered since the last call. */
  def take(run: Run): Seq[QueryExecution] = {
    org.apache.spark.PerfbenchBus.drain(run.spark.sparkContext)
    synchronized { val s = seen.toList; seen.clear(); s }
  }
}

/** Near-duplicate detection over a seeded corpus with planted
  * duplicate clusters, on the banded and ann routes a large corpus
  * takes. At the engine's default gates (20 000 documents, 4 MiB of
  * vectors) one pass of the six operators takes about a minute on four
  * cores, more than a run can spend, so the session pins both gates
  * below the small pre-warm corpus; the route assertions then check that
  * the declared routes ran. Stresses shuffle, pair kernels, typed
  * aggregators and the loop pins; graft.ml is idle. */
final class Dedup extends Workload {
  val name = "dedup"
  val Docs = 2048
  val WarmDocs = 384
  val GateDocs = 300
  val GateBytes = 64L << 10
  /** Share of documents (and of vectors) in planted near-dup clusters of
    * 2-5 members, and share of documents in exact-copy groups. */
  val NearShare = 0.3
  val ExactShare = 0.05
  val Tau = 0.6
  val CosTau = 0.4
  val Ops = Seq("q_dedup_exact", "q_dedup_minhash", "q_dedup_near", "q_dup_clusters",
    "q_dedup_embed", "q_mutual_knn")

  private var warmDir: String = _
  private var texts: Array[String] = _
  private var vecs: Array[Array[Double]] = _
  /** Planted cluster id per document / per vector, -1 outside clusters. */
  private var docCluster: Array[Int] = _
  private var vecCluster: Array[Int] = _
  private val shingleMemo = mutable.HashMap.empty[Int, Set[String]]
  /** Planted document pairs at or above the Jaccard threshold. */
  private var docPairs: Set[(Long, Long)] = _
  /** Vectors q_dedup_embed must drop, by driver-side brute force. */
  private var drops: Set[Long] = _
  private var plantedJac: Seq[Double] = _
  private var plantedSim: Seq[Double] = _
  private val docRecall = ArrayBuffer.empty[Double]
  private val vecRecall = ArrayBuffer.empty[Double]
  private var nearPairs = 0L
  private val executed = new Executed

  private def sh(i: Int): Set[String] = shingleMemo.getOrElseUpdate(i, Gen.shingles(texts(i)))
  private def jac(a: Long, b: Long): Double = Gen.jaccard(sh(a.toInt), sh(b.toInt))
  private def dist(a: Long, b: Long): Double = Gen.cosDist(vecs(a.toInt), vecs(b.toInt))

  /** Texts and vectors of an `n`-item corpus with planted clusters. */
  private final case class Corpus(texts: Array[String], docCluster: Array[Int],
      raw: Array[Array[Float]], vecCluster: Array[Int])

  private def corpus(r: scala.util.Random, n: Int): Corpus = {
    val vocab = Gen.vocabulary(20000)
    val ids = r.shuffle((0 until n).toIndexedSeq)
    val texts = new Array[String](n)
    val docCluster = Array.fill(n)(-1)
    var at = 0; var cid = 0
    // Near-dup clusters: members re-word 1-2 positions of the base (3-gram
    // Jaccard ~0.65-0.85, above 0.6) or 3-5 positions (~0.35-0.55, below).
    // Above and below alternate by member index.
    Gen.clusterSizes(n, NearShare).foreach { size =>
      val base = Gen.words(r, vocab, 28, 36)
      (0 until size).foreach { m =>
        val w = if (m == 0) base
          else Gen.mutate(r, base, vocab, if (m % 2 == 1) 1 + m / 2 % 2 else 3 + m % 3)
        texts(ids(at)) = w.mkString(" "); docCluster(ids(at)) = cid; at += 1
      }
      cid += 1
    }
    Gen.clusterSizes(n, ExactShare).foreach { size =>
      val t = Gen.words(r, vocab, 24, 40).mkString(" ")
      (0 until size).foreach { _ => texts(ids(at)) = t; docCluster(ids(at)) = cid; at += 1 }
      cid += 1
    }
    while (at < n) { texts(ids(at)) = Gen.words(r, vocab, 24, 40).mkString(" "); at += 1 }

    // Vector clusters: cosine similarity to the base ~0.75-0.96 (above
    // 0.4) or ~0.25-0.4 (below).
    val vids = r.shuffle((0 until n).toIndexedSeq)
    val raw = new Array[Array[Float]](n)
    val vecCluster = Array.fill(n)(-1)
    at = 0; cid = 0
    Gen.clusterSizes(n, NearShare).foreach { size =>
      val base = Gen.gaussian(r)
      (0 until size).foreach { m =>
        raw(vids(at)) = if (m == 0) base
          else Gen.perturb(r, base, if (m % 2 == 1) 0.3 + 0.6 * r.nextDouble() else 2.3 + 1.5 * r.nextDouble())
        vecCluster(vids(at)) = cid; at += 1
      }
      cid += 1
    }
    while (at < n) { raw(vids(at)) = Gen.gaussian(r); at += 1 }
    Corpus(texts, docCluster, raw, vecCluster)
  }

  private def write(run: Run, r: scala.util.Random, c: Corpus, tag: String): String = {
    val dir = Gen.freshDir(run.work, tag)
    Gen.writeDocs(run.spark, dir, c.texts.indices.map(i => Gen.doc(r, i, c.texts(i))))
    Gen.writeEmbeddings(run.spark, dir, c.raw.indices.map(i => (i.toLong, c.raw(i), r.nextInt(10))))
    dir
  }

  def generate(run: Run): Unit = {
    val r = run.rnd
    val c = corpus(r, Docs)
    texts = c.texts; docCluster = c.docCluster; vecCluster = c.vecCluster
    vecs = c.raw.map(Gen.toD)

    def pairs(cluster: Array[Int]): Seq[(Long, Long)] =
      cluster.indices.filter(cluster(_) >= 0).groupBy(cluster(_)).values.toSeq.flatMap { m =>
        for (a <- m; b <- m if a < b) yield (a.toLong, b.toLong) }
    val dp = pairs(docCluster).map(p => p -> jac(p._1, p._2))
    val vp = pairs(vecCluster).map(p => p -> (1.0 - dist(p._1, p._2)))
    plantedJac = dp.map(_._2); plantedSim = vp.map(_._2)
    docPairs = dp.collect { case (p, j) if j >= Tau => p }.toSet
    drops = embedDrops(vecs)

    run.dir = write(run, r, c, s"dedup-s${run.seed}-n$Docs")
    warmDir = write(run, r, corpus(r, WarmDocs), s"dedup-warm-s${run.seed}-n$WarmDocs")
    run.notes("planted") = s"${docPairs.size} doc pairs >= $Tau of ${dp.size}, " +
      s"${plantedSim.count(_ >= CosTau)} vector pairs >= $CosTau of ${vp.size}"
    run.notes("embed_drops") = s"${drops.size} of $Docs vectors have a lower-id vector " +
      s"at similarity >= $CosTau (brute force over all pairs)"
  }

  /** q_dedup_embed's rule by brute force over all pairs: a vector is
    * dropped when a lower-id vector lies at similarity >= 0.4, with the
    * engine's similarity round(1 - cosine_distance, 6). Rounding is only
    * evaluated near the threshold, where it can decide. */
  private def embedDrops(v: Array[Array[Double]]): Set[Long] = {
    def atTau(a: Int, b: Int): Boolean = {
      val s = 1.0 - Gen.cosRaw(v(a), v(b))
      if (math.abs(s - CosTau) > 1e-5) s > CosTau else graft.plans.IvfIndex.r6(s) >= CosTau
    }
    v.indices.filter(b => (0 until b).exists(atTau(_, b))).map(_.toLong).toSet
  }

  private def pinGates(run: Run): Unit = {
    run.spark.conf.set("spark.graft.dedup.pairGateDocs", GateDocs.toString)
    run.spark.conf.set("spark.graft.ann.autoThresholdBytes", GateBytes.toString)
  }

  /** All six operators once over the small corpus, on the same routes, so
    * the JVM has compiled their plans before set-up and the window. */
  override def prewarm(run: Run): Unit = {
    pinGates(run)
    Ops.foreach(k => run.op(s"prewarm.$k")(run.collect(run.registry(k, warmDir)))(_ => None))
  }

  def setup(run: Run): Unit = {
    pinGates(run)
    run.spark.listenerManager.register(executed)
    run.op("warmup.q_dedup_exact")(run.collect(run.registry("q_dedup_exact")))(_ => None)
  }

  private def samePlanted(cluster: Array[Int], a: Long, b: Long): Boolean =
    cluster(a.toInt) >= 0 && cluster(a.toInt) == cluster(b.toInt)

  /** Pair outputs: every pair is a planted pair at its true Jaccard >= tau. */
  private def checkPairs(rows: Array[Row]): Option[String] =
    rows.find { x =>
      val (a, b, j) = (x.getLong(0), x.getLong(1), x.getDouble(2))
      !(a < b && samePlanted(docCluster, a, b) && j >= Tau && j == jac(a, b))
    }.map(x => s"pair $x is not a planted pair at its Jaccard")

  private def route(run: Run, key: String, conf: String, want: String): Unit = {
    val got = run.spark.conf.get(conf, "unset")
    run.notes(key) = got
    if (got != want) throw new RouteMismatch(s"$key took the $got route, declared $want")
  }

  /** The ann route is taken when one of the plans the operator executed
    * (its collect, or the local checkpoint that pins q_mutual_knn's
    * candidate frame) carries the ann candidate filter `min_common_long`. */
  private def annRoute(run: Run, key: String): Unit = {
    val got = if (executed.take(run).exists(_.optimizedPlan.toString.contains("min_common_long")))
      "ann" else "exact"
    run.notes(key) = got
    if (got != "ann") throw new RouteMismatch(s"$key took the $got route, declared ann")
  }

  def pass(run: Run): Unit = {
    run.op("q_dedup_exact")(run.collect(run.registry("q_dedup_exact"))) { rows =>
      val want = texts.indices.groupBy(texts(_)).values
        .map(m => (m.min.toLong, 2L * m.size)).toSet
      val got = rows.map(x => (x.getLong(0), x.getLong(2))).toSet
      if (got == want && rows.length == want.size) None
      else Some(s"${rows.length} survivors, want ${want.size} (exact-dup groups not collapsed)")
    }
    run.op("q_dedup_minhash")(run.collect(run.registry("q_dedup_minhash")))(checkPairs)
    run.op("q_dedup_near")(run.collect(run.registry("q_dedup_near"))) { rows =>
      route(run, "q_dedup_near", "spark.graft.dedup.pair.lastRoute", "banded")
      nearPairs = rows.length
      docRecall += rows.count(x => docPairs((x.getLong(0), x.getLong(1)))).toDouble / docPairs.size
      checkPairs(rows)
    }
    run.op("q_dup_clusters")(run.collect(run.registry("q_dup_clusters"))) { rows =>
      route(run, "q_dup_clusters", "spark.graft.dedup.pair.lastRoute", "banded")
      run.notes("loop.lastStorage") = run.spark.conf.get("spark.graft.loop.lastStorage", "unset")
      run.notes("loop.lastStepStorage") = run.spark.conf.get("spark.graft.loop.lastStepStorage", "unset")
      if (rows.length != Docs) Some(s"${rows.length} rows, want $Docs")
      else rows.find { x =>
        val (d, c, keep) = (x.getLong(0), x.getLong(1), x.getBoolean(2))
        !(c <= d && (c == d || samePlanted(docCluster, c, d)) && keep == (c == d))
      }.map(x => s"canonical $x is not a planted cluster's smaller member")
    }
    executed.take(run)
    run.op("q_dedup_embed")(run.collect(run.registry("q_dedup_embed"))) { rows =>
      annRoute(run, "q_dedup_embed")
      val kept = rows.map(_.getLong(0))
      val dropped = (0L until Docs).filterNot(kept.toSet)
      vecRecall += dropped.count(drops).toDouble / drops.size
      if (kept.toSeq != kept.sorted.distinct.toSeq || kept.exists(i => i < 0 || i >= Docs))
        Some("survivor ids not a sorted subset of the vectors")
      else dropped.find(!drops(_)).map(i =>
        s"vector $i dropped without a lower-id vector at similarity >= $CosTau")
    }
    executed.take(run)
    run.op("q_mutual_knn")(run.collect(run.registry("q_mutual_knn"))) { rows =>
      annRoute(run, "q_mutual_knn")
      rows.find { x =>
        val (a, b, d) = (x.getLong(0), x.getLong(1), x.getDouble(2))
        !(a < b && math.abs(d - dist(a, b)) <= 1e-6 &&
          (1 to 3).contains(x.getInt(3)) && (1 to 3).contains(x.getInt(4)))
      }.map(x => s"mutual pair $x has a wrong distance or rank")
    }
  }

  def passIsRequest: Boolean = true
  def itemsPerPass: Int = Docs
  /** Mean of the planted document pairs q_dedup_near found and the
    * brute-force drops q_dedup_embed made. */
  def recall: Double = (Stats.mean(docRecall.toSeq) + Stats.mean(vecRecall.toSeq)) / 2

  def traced(run: Run): Unit = {
    val L = run.layer
    Ops.foreach(k => L(s"queries.$k.s") = Stats.median(run.opMs(k).toSeq) / 1e3)
    val docs = Tables.documents(run.spark, run.dir)
    val cand = run.span("count_candidates", "graft.queries")(
      DedupStages.bandedScoredPairs(docs, DedupStages.pairBucketCap(run.spark)).count())
    L("queries.dedup_candidates_per_pair") = cand.toDouble / math.max(1L, nearPairs)
    L("functions.cosine_ns_per_pair") = Kernel.cosineNsPerPair(run, vecs)
  }

  def report(run: Run): Seq[(String, Double, String)] = Seq(
    ("dup_recall", recall, "frac"),
    ("dup_recall_docs", Stats.mean(docRecall.toSeq), "frac"),
    ("dup_recall_vectors", Stats.mean(vecRecall.toSeq), "frac"),
    ("documents", Docs.toDouble, "count"),
    ("planted_jaccard_p50", Stats.median(plantedJac), "frac"),
    ("planted_cosine_p50", Stats.median(plantedSim), "frac"))
}
