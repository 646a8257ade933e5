package graft.plans

import scala.math.BigDecimal.RoundingMode

/** Driver-side registry of IVF "indexes": catalog tables that carry a
  * `ivf_cell` partition column (nearest-centroid cell of each row's
  * embedding) plus the codebook that produced it. Registering a table
  * here opts it into [[IvfKnnPruning]]'s transparent top-k rewrite —
  * the engine-side analog of the reference's HNSW collection option
  * (photo_vector_search.py:17-20: the store owns the index; queries
  * stay oblivious).
  *
  * On a cluster this registry would live in table properties /
  * catalog metadata; a process-local map carries the same contract
  * for the single-JVM harness.
  */
object IvfIndex {
  /** `source` is the identity of the table the index was built from. */
  final case class Entry(probes: Int, centroids: Seq[(Long, Array[Double])],
      source: Option[graft.Tables.TableId])

  private val reg = new java.util.concurrent.ConcurrentHashMap[String, Entry]()

  def register(table: String, probes: Int,
      centroids: Seq[(Long, Array[Double])],
      source: Option[graft.Tables.TableId]): Unit =
    reg.put(table.toLowerCase, Entry(probes, centroids, source))

  def lookup(table: String): Option[Entry] = Option(reg.get(table.toLowerCase))

  /** round(x, 6) — ONE rounding implementation shared with the
    * engine: `scala.math.BigDecimal(x)` decodes the double through
    * `Double.toString` (decimal semantics, NOT the exact binary
    * expansion of `new java.math.BigDecimal(double)`), then HALF_UP —
    * which is precisely what Spark's own `Round` expression does for
    * DoubleType. Driver-side probe ranking is therefore bit-identical
    * to `round(cdist, 6)` evaluated by the engine (asserted in
    * IvfKnnPruningSpec); any residual DuckDB-vs-Spark divergence is
    * the same systemic round(6) parity every oracled query relies on. */
  def r6(x: Double): Double =
    BigDecimal(x).setScale(6, RoundingMode.HALF_UP).toDouble

  /** The distance metrics [[IvfKnnPruning]] can rewrite under. Probe
    * ranking must use the QUERY's metric (an L2 top-k probes the
    * L2-nearest cells), independent of the cosine metric that
    * assigned rows to cells at build time — standard IVF practice:
    * the coarse quantizer is fixed, the probe order follows the
    * query. */
  sealed trait Metric
  case object Cosine extends Metric
  case object L2 extends Metric

  /** Mirrors graft.functions.CosineDistance's loop exactly (same
    * accumulation order, same `1 - dot / sqrt(na * nb)` final form)
    * so driver-side distances are bit-identical to the kernel's. */
  private def cosineDist(a: Array[Double], b: Array[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    1.0 - dot / math.sqrt(na * nb)
  }

  /** Mirrors graft.functions.L2Distance's loop (same accumulation
    * order, `sqrt(Σ (x-y)²)`) for the same bit-parity contract. */
  private def l2Dist(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { val d = a(i) - b(i); s += d * d; i += 1 }
    math.sqrt(s)
  }

  /** The `probes` nearest cells to the query vector, by
    * (round6(distance), cid) under the query's metric — identical
    * ordering to the SQL probe CTE in the q_knn_ivf* oracles. */
  def probeCells(e: Entry, query: Array[Double],
      metric: Metric = Cosine): Seq[Long] = {
    val dist: (Array[Double], Array[Double]) => Double = metric match {
      case Cosine => cosineDist
      case L2 => l2Dist
    }
    e.centroids.map { case (cid, c) => (r6(dist(c, query)), cid) }
      .sorted.take(e.probes).map(_._2)
  }
}
