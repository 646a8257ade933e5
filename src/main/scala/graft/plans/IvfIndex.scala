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
  final case class Entry(probes: Int, codebook: graft.functions.Codebook) {
    def centroids: Seq[(Long, Array[Double])] =
      codebook.cids.toSeq.zip(codebook.vecs)
  }

  private val reg = new java.util.concurrent.ConcurrentHashMap[String, Entry]()

  def register(table: String, probes: Int, codebook: graft.functions.Codebook): Unit =
    reg.put(table.toLowerCase, Entry(probes, codebook))

  def lookup(table: String): Option[Entry] = Option(reg.get(table.toLowerCase))

  /** round(x, 6) — ONE rounding implementation shared with the
    * engine: `scala.math.BigDecimal(x)` decodes the double through
    * `Double.toString` (decimal semantics, NOT the exact binary
    * expansion of `new java.math.BigDecimal(double)`), then HALF_UP —
    * which is precisely what Spark's own `Round` expression does for
    * DoubleType, NaN and the infinities included (they pass through
    * unrounded). Driver-side probe ranking is therefore bit-identical
    * to `round(cdist, 6)` evaluated by the engine (asserted in
    * IvfKnnPruningSpec); any residual DuckDB-vs-Spark divergence is
    * the same systemic round(6) parity every oracled query relies on. */
  def r6(x: Double): Double =
    if (x.isNaN || x.isInfinite) x
    else BigDecimal(x).setScale(6, RoundingMode.HALF_UP).toDouble

  /** The distance metrics [[IvfKnnPruning]] can rewrite under. Probe
    * ranking must use the QUERY's metric (an L2 top-k probes the
    * L2-nearest cells), independent of the cosine metric that
    * assigned rows to cells at build time — standard IVF practice:
    * the coarse quantizer is fixed, the probe order follows the
    * query. */
  type Metric = graft.functions.CellMetric
  val Cosine: Metric = graft.functions.CellMetric.Cosine
  val L2: Metric = graft.functions.CellMetric.L2

  /** The `probes` nearest cells to the query vector, by
    * (round6(distance), cid) under the query's metric — the codebook's
    * own ranking, so identical to the cells the index build assigned
    * and to the SQL probe CTE in the q_knn_ivf* oracles. */
  def probeCells(e: Entry, query: Array[Double],
      metric: Metric = Cosine): Seq[Long] =
    e.codebook.nearest(query, e.probes, metric).toSeq
}
