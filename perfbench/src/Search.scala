package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.plans.logical.Filter
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables
import graft.functions.GraftFunctions.cosine_distance
import graft.ml.HashTextEmbedder
import graft.queries.SimilarityStages

/** The read path: a seeded stream of k = 5 requests against a prebuilt
  * store. Many small jobs, so planning, scheduling, graft.plans and the
  * kernels dominate; graft.ml embeds one query per text request and
  * nothing is written. */
final class Search extends Workload {
  val name = "search"
  val Vectors = 4096
  /** The store is spread over a few files, so a scan is not one task. */
  val StoreFiles = 4
  val K = 5
  val Batch = 16
  /** Query pool size per class and Zipf exponent of its popularity:
    * assumptions, not taken from a measured query log. */
  val Pool = 64
  val ZipfS = 1.1
  /** Request classes in a fixed cycle, so every run has the same mix:
    * equal shares (20 %) of vector, text, aspect-filtered, IVF and batch,
    * as no source gives a mix. */
  val Cycle = Seq("vector", "text", "ivf", "batch", "filtered", "vector", "ivf",
    "batch", "text", "filtered")
  /** The batch route at this size, as the auto gate resolves it. */
  val BatchRoute = "exact"

  private var vecs: Array[Array[Double]] = _
  private var labels: Array[Int] = _
  private var texts: IndexedSeq[String] = _
  private var queries: IndexedSeq[Array[Double]] = _
  private var batches: IndexedSeq[IndexedSeq[Array[Double]]] = _
  private var zipfCdf: Array[Double] = _
  private var ivfTable: String = _
  private val recalls = ArrayBuffer.empty[Double]
  private val scanned = ArrayBuffer.empty[Double]
  private val seen = scala.collection.mutable.HashSet.empty[(String, Int)]
  private var repeats = 0
  private var drawn = 0
  private var drawRnd: scala.util.Random = _

  def generate(run: Run): Unit = {
    val r = run.rnd
    // Planted clusters with Zipf-like sizes, so IVF cells fill unevenly.
    val centers = Array.fill(24)(Gen.gaussian(r))
    val weights = centers.indices.map(i => 1.0 / (i + 1)).toArray
    val wsum = weights.sum
    def pick(): Int = {
      var u = r.nextDouble() * wsum; var i = 0
      while (u > weights(i) && i < weights.length - 1) { u -= weights(i); i += 1 }
      i
    }
    val raw = Array.fill(Vectors)(Gen.perturb(r, centers(pick()), 0.6 + 0.6 * r.nextDouble()))
    labels = Array.fill(Vectors)(r.nextInt(10))
    vecs = raw.map(Gen.toD)
    val vocab = Gen.vocabulary(5000)
    texts = (0 until Pool).map(_ => Gen.words(r, vocab, 6, 14).mkString(" "))
    def near(): Array[Double] = Gen.toD(Gen.perturb(r, raw(r.nextInt(Vectors)), 0.3))
    queries = (0 until Pool).map(_ => near())
    batches = (0 until Pool).map(_ => (0 until Batch).map(_ => near()))
    val z = (1 to Pool).map(i => 1.0 / math.pow(i, ZipfS)); val zs = z.sum
    zipfCdf = z.scanLeft(0.0)(_ + _).tail.map(_ / zs).toArray
    drawRnd = new scala.util.Random(r.nextLong())

    run.dir = Gen.freshDir(run.work, s"search-s${run.seed}-n$Vectors")
    Gen.writeEmbeddings(run.spark, run.dir, raw.indices.map(i => (i.toLong, raw(i), labels(i))),
      files = StoreFiles)
    Gen.writeDocs(run.spark, run.dir, texts.indices.map(i => Gen.doc(r, i, texts(i))))
    ivfTable = "graft_ivf_" + new java.io.File(run.dir).getName.replaceAll("[^A-Za-z0-9]", "_")
  }

  /** Driver-side brute force: top-k (vec_id, 6-dp distance) ordered by
    * (distance, vec_id), as the engine declares its ties. */
  private def brute(q: Array[Double], label: Option[Int]): Seq[(Long, Double)] =
    vecs.indices.filter(i => label.forall(_ == labels(i)))
      .map(i => (i.toLong, Gen.cosDist(vecs(i), q)))
      .sortBy { case (i, d) => (d, i) }.take(K)

  private def topk(df: DataFrame, q: Array[Double]): DataFrame =
    df.select(col("vec_id"), round(cosine_distance(col("embedding"), lit(q)), 6).as("dist"))
      .orderBy(col("dist"), col("vec_id")).limit(K)

  private def rows(rs: Array[Row]): Seq[(Long, Double)] = rs.toSeq.map(x => (x.getLong(0), x.getDouble(1)))

  private def exactCheck(got: Seq[(Long, Double)], want: Seq[(Long, Double)]): Option[String] =
    if (got == want) None else Some(s"top-$K $got differs from brute force $want")

  /** Approximate results: distances must be the true ones, ascending;
    * recall against brute force is recorded. */
  private def annCheck(got: Seq[(Long, Double)], q: Array[Double]): Option[String] = {
    val want = brute(q, None)
    recalls += got.map(_._1).toSet.intersect(want.map(_._1).toSet).size.toDouble / K
    if (got.length != K) Some(s"${got.length} results, want $K")
    else got.find { case (i, d) => math.abs(Gen.cosDist(vecs(i.toInt), q) - d) > 1e-6 }
      .map(x => s"distance of ${x._1} is not its cosine distance")
      .orElse(if (got.map(_._2) != got.map(_._2).sorted) Some("results not ascending") else None)
  }

  private def draw(cls: String): Int = {
    val u = drawRnd.nextDouble()
    val i = math.max(0, java.util.Arrays.binarySearch(zipfCdf, u) match {
      case x if x >= 0 => x
      case x => -x - 1
    }).min(Pool - 1)
    drawn += 1
    if (!seen.add((cls, i))) repeats += 1
    i
  }

  private def batchFrame(run: Run, qs: IndexedSeq[Array[Double]]): DataFrame = {
    val s = run.spark
    val corpus = Tables.embeddings(s, run.dir).select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"), lit(true).as("lab"))
    val schema = StructType(Seq(StructField("vec_id", LongType), StructField("v",
      ArrayType(DoubleType, false)), StructField("lab", BooleanType)))
    val qf = s.createDataFrame(java.util.Arrays.asList(qs.indices.map(i =>
      Row(-1L - i, qs(i).toSeq, false)): _*), schema)
    corpus.unionByName(qf)
  }

  private def request(run: Run, cls: String): Unit = {
    val s = run.spark
    val i = draw(cls)
    cls match {
      case "vector" =>
        val q = queries(i)
        run.op("vector")(rows(run.collect(topk(Tables.embeddings(s, run.dir), q))))(
          exactCheck(_, brute(q, None)))
      case "filtered" =>
        val q = queries(i); val l = i % 10
        run.op("filtered")(rows(run.collect(
          topk(Tables.embeddings(s, run.dir).filter(col("label") === l), q))))(
          exactCheck(_, brute(q, Some(l))))
      case "text" =>
        var q: Array[Double] = null
        run.op("text") {
          q = run.span("query_embed", "graft.ml")(
            new HashTextEmbedder(Gen.Dim).embed(texts(i))).map(_.toDouble)
          rows(run.collect(topk(Tables.embeddings(s, run.dir), q)))
        }(exactCheck(_, brute(q, None)))
      case "ivf" =>
        val q = queries(i)
        val df = topk(s.table(ivfTable), q)
        run.op("ivf")(rows(run.collect(df))) { got =>
          val pruned = df.queryExecution.optimizedPlan.exists {
            case Filter(c, _) => c.references.exists(_.name == "ivf_cell")
            case _ => false
          }
          if (!pruned) throw new RouteMismatch("IvfKnnPruning did not rewrite the IVF request")
          scanned += scanRows(df).toDouble / K
          annCheck(got, q)
        }
      case "batch" =>
        val qs = batches(i)
        val frame = batchFrame(run, qs)
        val w = Window.partitionBy("a").orderBy(col("dist"), col("b"))
        val top = SimilarityStages.knnCandidatesBipartite(frame, "cosine")
          .withColumn("rn", row_number().over(w)).filter(col("rn") <= K)
          .select("a", "b", "dist")
        run.op("batch")(run.collect(top)) { got =>
          val route = if (top.queryExecution.optimizedPlan.toString.contains("min_common_long")) "ann"
            else "exact"
          run.notes("batch") = route
          if (route != BatchRoute)
            throw new RouteMismatch(s"batch requests took the $route route, declared $BatchRoute")
          val byQ = got.groupBy(_.getLong(0))
          qs.indices.iterator.map { j =>
            val res = byQ.getOrElse(-1L - j, Array.empty[Row]).toSeq
              .map(x => (x.getLong(1), x.getDouble(2))).sortBy { case (b, d) => (d, b) }
            annCheck(res, qs(j))
          }.collectFirst { case Some(m) => m }
        }
    }
  }

  /** Rows the executed plan read from the index table. */
  private def scanRows(df: DataFrame): Long = {
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    plan.collect { case f: FileSourceScanExec => f.metrics("numOutputRows").value }.sum
  }

  def setup(run: Run): Unit = {
    // The registry's IVF build step: builds and registers the
    // cell-partitioned index table for this directory.
    run.op("ivf_build")(run.span("ivf_build", "graft.plans")(
      run.collect(run.registry("q_knn_ivf_rule"))))(_ => None)
    Seq("vector", "text", "ivf", "filtered", "batch").foreach(c => request(run, c))
    recalls.clear(); scanned.clear(); seen.clear(); repeats = 0; drawn = 0
  }

  def pass(run: Run): Unit = Cycle.foreach(c => request(run, c))

  def passIsRequest: Boolean = false
  def itemsPerPass: Int = Cycle.map(c => if (c == "batch") Batch else 1).sum
  def recall: Double = Stats.mean(recalls.toSeq)

  def traced(run: Run): Unit = {
    val L = run.layer
    L("ml.query_embed_ms") = Stats.median(run.trace.durations("query_embed"))
    L("queries.knn_batch.s") = Stats.median(run.opMs("batch").toSeq) / 1e3
    L("plans.ivf_rows_scanned_per_result") = Stats.median(scanned.toSeq)
    L("plans.ivf_build_s") = Stats.median(run.trace.durations("ivf_build")) / 1e3
    L("plans.ivf_index_mb") = indexMb(run)
    val cand = run.span("count_candidates", "graft.queries")(
      SimilarityStages.knnCandidatesBipartite(batchFrame(run, batches(0)), "cosine").count())
    L("queries.ann_candidates_per_result") = cand.toDouble / (Batch * K)
    L("functions.cosine_ns_per_pair") = Kernel.cosineNsPerPair(run, vecs)
  }

  private def indexMb(run: Run): Double = {
    val loc = run.spark.sessionState.catalog.getTableMetadata(TableIdentifier(ivfTable)).location
    Stats.fileBytes(new java.io.File(loc)) / 1048576.0
  }

  def report(run: Run): Seq[(String, Double, String)] = Seq(
    ("recall_at_5", recall, "frac"),
    ("index_mb", indexMb(run), "MB"),
    ("repeat_share", repeats.toDouble / math.max(1, drawn), "frac"),
    ("vectors", Vectors.toDouble, "count"))
}
