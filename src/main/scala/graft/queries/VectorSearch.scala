package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables
import graft.functions.GraftFunctions.{cosine_distance, l2_distance}

/** k-NN vector search — the reference's core capability
  * (photo_vector_search.py:156-193, A8-A12 in SURVEY §2A).
  *
  * Plan shape (scale rationale): the query vector is ONE row, joined
  * with an explicit `broadcast` (no shuffle of the big side);
  * `cosine_distance` is a codegen'd single-pass kernel; `orderBy(dist)
  * .limit(k)` collapses to `TakeOrderedAndProjectExec` — per-partition
  * top-k heaps merged on the driver, no global sort, no full shuffle.
  * A metadata pre-filter (A10) lands *before* distance evaluation and
  * is pushed into the parquet scan. This is exactly the plan that
  * survives 100 TB: scan-local work + k rows to the driver.
  */
object VectorSearch {
  private val K = 5 // reference default --k (cli.py:83)

  /** ONE IVF configuration for the whole file: the codebook size and
    * probe budget used by the index build (ensureIvfIndex), the
    * inline IVF queries, AND the recall audit — shared so a budget
    * change can never leave q_knn_recall silently measuring a
    * different index than the one the engine deploys. */
  private val IvfCells = 16
  private val IvfProbes = 4

  /** Build-once IVF index for q_knn_ivf_rule / q_knn_ivfpq:
    * nearest-centroid assignment written as a table PARTITIONED BY
    * the cell id, WITH the 8-subspace PQ code array per vector
    * (FAISS's IVFPQ stores codes, not just cell membership, for
    * exactly this reason: encoding is BUILD work, amortized like the
    * assignment — a query must only read codes plus the few raw rows
    * it re-ranks), plus codebook registration in
    * [[graft.plans.IvfIndex]]. An index build is amortized across
    * every query that probes it (the reference's collection-creation
    * step, photo_vector_search.py:17-20) — it must never run inside
    * the timed query path. Memoization = the session catalog itself:
    * if the table exists and is registered from the embeddings table
    * as it is now ([[Tables.TableId]]), the build is skipped; a fresh
    * session (new warehouse), a rewritten source, or another directory
    * with the same basename (the table name) rebuilds. */
  private def ensureIvfIndex(s: SparkSession, d: String): String = {
    val tbl = "graft_ivf_" +
      new java.io.File(d).getName.replaceAll("[^A-Za-z0-9]", "_")
    val source = Tables.tableId(s"$d/embeddings.parquet")
    this.synchronized {
      if (s.catalog.tableExists(tbl) &&
          graft.plans.IvfIndex.lookup(tbl).exists(_.source == source)) return tbl
      val e = Tables.embeddings(s, d)
      val cents = e.filter(col("vec_id") < IvfCells)
        .select(col("vec_id").as("cid"), col("embedding").as("cv"))
      val asg = e.crossJoin(broadcast(cents))
        .withColumn("cdist", round(cosine_distance(col("embedding"), col("cv")), 6))
        .groupBy("vec_id")
        .agg(expr("min_by(struct(label, embedding, cid), struct(cdist, cid))").as("m"))
        .select(col("vec_id"), col("m.label").as("label"),
          col("m.embedding").as("embedding"), col("m.cid").as("ivf_cell"))
      // PQ encode (shared codebook contract with q_knn_pq/q_knn_ivfpq:
      // sub-slices of the first IvfCells vectors in DOUBLE space,
      // 6dp-rounded subspace L2, code tiebreak) — one min_by shuffle
      // over corpus×8 rows, paid once per index lifetime.
      val edd = e.select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      val codebook = cents
        .select(col("cid").as("code"), explode(expr("sequence(0, 7)")).as("m"),
          col("cv").cast("array<double>").as("cvd"))
        .select(col("code"), col("m"), expr("slice(cvd, m*8+1, 8)").as("cs"))
      val pq = fanout(edd).crossJoin(broadcast(codebook))
        .select(col("vec_id"), col("m"), col("code"),
          round(l2_distance(expr("slice(v, m*8+1, 8)"), col("cs")), 6)
            .as("dist"))
        .groupBy("vec_id", "m")
        .agg(expr("min_by(code, struct(dist, code))").as("code"))
        .groupBy("vec_id")
        .agg(expr("transform(array_sort(collect_list(struct(m, code)))," +
          " x -> x.code)").as("pq"))
      asg.join(pq, "vec_id")
        .select("vec_id", "label", "embedding", "pq", "ivf_cell")
        .write.mode("overwrite").partitionBy("ivf_cell").saveAsTable(tbl)
      graft.plans.IvfIndex.register(tbl, probes = IvfProbes,
        centroids = cents.collect().map(r =>
          (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray)).toSeq,
        source = source)
      tbl
    }
  }

  /** 1-row DataFrame holding the query vector (stand-in for the
    * driver-local query-image/text embedding, photo_vector_search.py:160). */
  private def queryVec(s: SparkSession, dir: String, id: Long): DataFrame =
    Tables.embeddings(s, dir).filter(col("vec_id") === id)
      .select(col("embedding").alias("qvec"))

  private def knn(s: SparkSession, dir: String, qid: Long,
      labelFilter: Option[Int]): DataFrame = {
    val base = Tables.embeddings(s, dir)
    val filtered = labelFilter.fold(base)(l => base.filter(col("label") === l))
    filtered
      .crossJoin(broadcast(queryVec(s, dir, qid)))
      .select(col("vec_id"), col("label"),
        round(cosine_distance(col("embedding"), col("qvec")), 6).alias("dist"))
      .orderBy(col("dist"), col("vec_id"))
      .limit(K)
  }

  private def knnOracle(qid: Long, where: String): String =
    s"""SELECT e.vec_id, e.label,
       |  round(1 - list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
       |                                   CAST(q.qvec AS DOUBLE[])), 6) AS dist
       |FROM embeddings e
       |CROSS JOIN (SELECT embedding AS qvec FROM embeddings WHERE vec_id = $qid) q
       |$where
       |ORDER BY dist, e.vec_id LIMIT $K""".stripMargin

  val qs: Seq[Q] = Seq(
    // A8: search by image — query embedding of an indexed photo
    Q("q_knn_image", knnOracle(0, ""))((s, d) => knn(s, d, 0, None)),
    // A9: search by text — distinct query vector, same plan
    Q("q_knn_text", knnOracle(7, ""))((s, d) => knn(s, d, 7, None)),
    // A10: aspect-filtered search (`where={"aspect_name": a}`) — the
    // filter is applied BEFORE distance math and pushed to parquet
    Q("q_knn_filtered", knnOracle(0, "WHERE e.label = 1"))(
      (s, d) => knn(s, d, 0, Some(1))),

    // Metric variant: k-NN under Euclidean distance (the L2Distance
    // kernel; same TakeOrderedAndProject plan as the cosine path).
    Q("q_knn_l2",
      s"""SELECT e.vec_id, e.label,
         |  round(list_distance(CAST(e.embedding AS DOUBLE[]),
         |                      CAST(q.qvec AS DOUBLE[])), 6) AS dist
         |FROM embeddings e
         |CROSS JOIN (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0) q
         |ORDER BY dist, e.vec_id LIMIT $K""".stripMargin) { (s, d) =>
      Tables.embeddings(s, d)
        .crossJoin(broadcast(queryVec(s, d, 0)))
        .select(col("vec_id"), col("label"),
          round(l2_distance(col("embedding"), col("qvec")), 6).alias("dist"))
        .orderBy(col("dist"), col("vec_id"))
        .limit(K)
    },

    // Batch k-NN: top-3 neighbors for EACH query of a query SET in
    // one plan — the pipeline shape (embed a batch of queries, search
    // once) rather than the reference's query-at-a-time loop. One
    // pass over the data against the broadcast query set; the grouped
    // top-k shuffle carries only (qid, vec_id, dist) triples, same
    // rank pattern as q_topk_group.
    Q("q_knn_batch",
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
         |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 4),
         |p AS (SELECT q.qid, e.vec_id,
         |        round(1 - list_cosine_similarity(e.v, q.qv), 6) AS dist
         |      FROM e CROSS JOIN q WHERE e.vec_id <> q.qid),
         |r AS (SELECT *, row_number() OVER (PARTITION BY qid
         |        ORDER BY dist, vec_id) AS rn FROM p)
         |SELECT qid, vec_id, dist FROM r WHERE rn <= 3
         |ORDER BY qid, dist, vec_id""".stripMargin) { (s, d) =>
      val e = Tables.embeddings(s, d)
      val q = e.filter(col("vec_id") < 4)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      val p = e.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id"),
          round(cosine_distance(col("embedding"), col("qv")), 6).as("dist"))
      val w = Window.partitionBy("qid").orderBy(col("dist"), col("vec_id"))
      p.withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
        .select("qid", "vec_id", "dist")
        .orderBy("qid", "dist", "vec_id")
    },

    // IVF-pruned approximate k-NN — the 100 TB search path (the
    // reference's HNSW role, photo_vector_search.py:17-20, re-expressed
    // as partition pruning): vectors are assigned to their nearest of
    // C=16 centroid "cells" (codebook = the first 16 vectors, a
    // deterministic k-means init stand-in); a query probes only the
    // P=4 cells nearest its own vector, scanning 1/4 of the data. On
    // a cluster the cell id is the table's partition column, so the
    // probe IS a partition-pruned scan. Assignment is a broadcast of
    // the codebook + per-row argmin (min_by) — one partial-aggregated
    // shuffle, amortized across all queries as a build step. Fully
    // deterministic, exact-oracled; recall loss is the declared
    // IVF tradeoff (here the true top-5 sits in probed cells or not —
    // both engines agree exactly on which).
    Q("q_knn_ivf",
      s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) v FROM embeddings),
         |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < $IvfCells),
         |asgn AS (SELECT vec_id, label, v, cid,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY
         |      round(1 - list_cosine_similarity(v, cv), 6), cid) AS rn
         |  FROM e CROSS JOIN c),
         |a2 AS (SELECT vec_id, label, v, cid FROM asgn WHERE rn = 1),
         |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
         |probe AS (SELECT cid FROM c CROSS JOIN q
         |          ORDER BY round(1 - list_cosine_similarity(cv, qv), 6), cid
         |          LIMIT $IvfProbes)
         |SELECT vec_id, label, round(1 - list_cosine_similarity(v, qv), 6) AS dist
         |FROM a2 CROSS JOIN q WHERE cid IN (SELECT cid FROM probe)
         |ORDER BY dist, vec_id LIMIT $K""".stripMargin) { (s, d) =>
      val e = Tables.embeddings(s, d)
      val cents = e.filter(col("vec_id") < IvfCells)
        .select(col("vec_id").as("cid"), col("embedding").as("cv"))
      val qv = queryVec(s, d, 0)
      // argmin over the broadcast codebook via min_by on the rounded
      // distance (unique (dist, cid) order key → engine-stable).
      val asgn = e.crossJoin(broadcast(cents))
        .withColumn("cdist", round(cosine_distance(col("embedding"), col("cv")), 6))
        .groupBy("vec_id")
        .agg(expr("min_by(struct(label, embedding, cid), struct(cdist, cid))").as("m"))
        .select(col("vec_id"), col("m.label").as("label"),
          col("m.embedding").as("embedding"), col("m.cid").as("cid"))
      val probes = cents.crossJoin(broadcast(qv))
        .select(col("cid"),
          round(cosine_distance(col("cv"), col("qvec")), 6).as("qdist"))
        .orderBy(col("qdist"), col("cid")).limit(IvfProbes)
      asgn.join(broadcast(probes.select("cid")), "cid")
        .crossJoin(broadcast(qv))
        .select(col("vec_id"), col("label"),
          round(cosine_distance(col("embedding"), col("qvec")), 6).as("dist"))
        .orderBy(col("dist"), col("vec_id")).limit(K)
    },

    // Same IVF semantics, but the pruning is applied by the ENGINE,
    // not the query: the builder materializes the cell-partitioned
    // index table + codebook (a build step amortized across queries),
    // then issues the NAIVE exact top-k. graft.plans.IvfKnnPruning
    // (injected via GraftExtensions) rewrites it into a probe-pruned
    // partition scan — the caller-oblivious ANN index the reference
    // gets from ChromaDB's HNSW (photo_vector_search.py:167-176).
    // Oracle: identical to q_knn_ivf (same assignment, same probes).
    Q("q_knn_ivf_rule",
      s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) v FROM embeddings),
         |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < $IvfCells),
         |asgn AS (SELECT vec_id, label, v, cid,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY
         |      round(1 - list_cosine_similarity(v, cv), 6), cid) AS rn
         |  FROM e CROSS JOIN c),
         |a2 AS (SELECT vec_id, label, v, cid FROM asgn WHERE rn = 1),
         |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
         |probe AS (SELECT cid FROM c CROSS JOIN q
         |          ORDER BY round(1 - list_cosine_similarity(cv, qv), 6), cid
         |          LIMIT $IvfProbes)
         |SELECT vec_id, label, round(1 - list_cosine_similarity(v, qv), 6) AS dist
         |FROM a2 CROSS JOIN q WHERE cid IN (SELECT cid FROM probe)
         |ORDER BY dist, vec_id LIMIT $K""".stripMargin) { (s, d) =>
      // Build + register once per (session, sf) — the timed query is
      // ONLY the probe: embed the query, issue the naive exact top-k,
      // let the injected rule prune the scan to the probed cells.
      val tbl = ensureIvfIndex(s, d)
      // Driver-local query embedding as an array literal (the
      // reference embeds the query before searching, cli.py:109-121).
      val qv = Tables.embeddings(s, d).filter(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>"))
        .head.getSeq[Double](0).toArray
      s.table(tbl)
        .select(col("vec_id"), col("label"),
          round(cosine_distance(col("embedding"), lit(qv)), 6).as("dist"))
        .orderBy(col("dist"), col("vec_id")).limit(K)
    },

    // The rule under the L2 metric: the SAME cell-partitioned index
    // (cells are assigned by the build-time cosine quantizer — fixed,
    // as in any IVF deployment) probed by a naive L2 top-k. The rule
    // ranks probe cells under the QUERY's metric (L2 distance to the
    // codebook), so one index serves both metrics — the standard
    // multi-metric IVF contract. Oracle: cosine assignment, L2 probes,
    // L2 final distances.
    Q("q_knn_ivf_rule_l2",
      s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) v FROM embeddings),
         |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < $IvfCells),
         |asgn AS (SELECT vec_id, label, v, cid,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY
         |      round(1 - list_cosine_similarity(v, cv), 6), cid) AS rn
         |  FROM e CROSS JOIN c),
         |a2 AS (SELECT vec_id, label, v, cid FROM asgn WHERE rn = 1),
         |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
         |probe AS (SELECT cid FROM c CROSS JOIN q
         |          ORDER BY round(list_distance(cv, qv), 6), cid
         |          LIMIT $IvfProbes)
         |SELECT vec_id, label, round(list_distance(v, qv), 6) AS dist
         |FROM a2 CROSS JOIN q WHERE cid IN (SELECT cid FROM probe)
         |ORDER BY dist, vec_id LIMIT $K""".stripMargin) { (s, d) =>
      val tbl = ensureIvfIndex(s, d)
      val qv = Tables.embeddings(s, d).filter(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>"))
        .head.getSeq[Double](0).toArray
      s.table(tbl)
        .select(col("vec_id"), col("label"),
          round(l2_distance(col("embedding"), lit(qv)), 6).as("dist"))
        .orderBy(col("dist"), col("vec_id")).limit(K)
    },

    // Product-quantization ANN — the memory-side scale path (IVF
    // prunes WHICH vectors are scanned; PQ shrinks WHAT is scanned).
    // The 64-dim embedding splits into M=8 subspaces of 8 dims; each
    // subspace gets a K=16-entry codebook (sub-slices of the first 16
    // vectors — the same deterministic k-means-init stand-in as the
    // IVF codebook). Encoding a vector = 8 nearest-code ids = 8 bytes
    // vs 256 (32× compression — at 100 TB the encoded table fits a
    // cluster's memory). Search is ADC: the query precomputes an
    // 8×16 distance table (broadcast), each encoded row sums 8 table
    // lookups — no float math against raw vectors at scan time.
    // Encode = one min_by shuffle (a build step in a real deployment,
    // like the IVF assignment); distances pre-rounded to 6dp then
    // DECIMAL-summed so the ADC total is order-independent and
    // engine-exact. Top-k recall loss vs exact kNN is the declared
    // PQ tradeoff — both engines agree exactly on codes and sums.
    Q("q_knn_pq",
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
         |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < $IvfCells),
         |ms AS (SELECT unnest(range(8)) AS m),
         |codes AS (SELECT c.cid, ms.m, c.cv[ms.m*8+1 : ms.m*8+8] AS cs
         |          FROM c CROSS JOIN ms),
         |asg0 AS (SELECT e.vec_id, cd.m, cd.cid,
         |    round(list_distance(e.v[cd.m*8+1 : cd.m*8+8], cd.cs), 6) AS dist
         |  FROM e CROSS JOIN codes cd),
         |asg AS (SELECT vec_id, m, cid FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id, m
         |      ORDER BY dist, cid) AS rn FROM asg0) WHERE rn = 1),
         |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
         |dt AS (SELECT cd.m, cd.cid,
         |    round(list_distance(q.qv[cd.m*8+1 : cd.m*8+8], cd.cs), 6) AS d
         |  FROM codes cd CROSS JOIN q),
         |adc AS (SELECT a.vec_id,
         |    round(CAST(sum(CAST(dt.d AS DECIMAL(38,6))) AS DOUBLE), 6) AS adist
         |  FROM asg a JOIN dt ON a.m = dt.m AND a.cid = dt.cid
         |  GROUP BY a.vec_id)
         |SELECT vec_id, adist FROM adc
         |ORDER BY adist, vec_id LIMIT $K""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.types.DecimalType
      val ed = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val codes = ed.filter(col("vec_id") < IvfCells)
        .select(col("vec_id").as("cid"), col("v").as("cv"))
        .select(col("cid"), explode(expr("sequence(0, 7)")).as("m"), col("cv"))
        .select(col("cid"), col("m"), expr("slice(cv, m*8+1, 8)").as("cs"))
      // Encode: per (vector, subspace) nearest code — min_by on the
      // rounded subspace L2 with cid tiebreak (engine-stable).
      val asg = fanout(ed).crossJoin(broadcast(codes))
        .select(col("vec_id"), col("m"), col("cid"),
          round(l2_distance(expr("slice(v, m*8+1, 8)"), col("cs")), 6).as("dist"))
        .groupBy("vec_id", "m")
        .agg(expr("min_by(cid, struct(dist, cid))").as("cid"))
      // ADC table: 8×16 query-to-code distances, broadcast to every
      // encoded row.
      val qv = ed.filter(col("vec_id") === 0).select(col("v").as("qv"))
      val dt = codes.crossJoin(broadcast(qv))
        .select(col("m"), col("cid"),
          round(l2_distance(expr("slice(qv, m*8+1, 8)"), col("cs")), 6).as("d"))
      asg.join(broadcast(dt), Seq("m", "cid"))
        .groupBy("vec_id")
        .agg(round(sum(col("d").cast(DecimalType(38, 6))).cast("double"), 6)
          .as("adist"))
        .orderBy(col("adist"), col("vec_id")).limit(K)
    },

    // IVF-PQ — the two prunings COMPOSED, which is what a production
    // ANN index actually deploys (FAISS IVFPQ; the reference's HNSW
    // store solves the same serving problem): IVF prunes WHICH
    // vectors are scanned (probe the $IvfProbes nearest cells), PQ
    // shrinks WHAT is scanned (8-byte codes + an 8×16 broadcast ADC
    // table instead of 256-byte vectors), and an EXACT re-rank of
    // the top 3k ADC candidates restores ranking fidelity where the
    // quantization error would otherwise reorder near-ties — the
    // standard three-stage funnel (prune → approximate scan →
    // re-rank). Emits both distances so the ADC-vs-exact gap is the
    // built-in quantization audit. Scale: cell assignment AND the PQ
    // encode are the memoized ensureIvfIndex BUILD (FAISS stores
    // codes at build time; the data-bound per-query encode of the
    // probed cells was the 100× smoke's 9.3× growth cell in round
    // 13) — the query reads the probed PARTITIONS of the index
    // table (literal isin on the partition column → partition
    // pruning), explodes probed·8 code rows into the broadcast ADC
    // join, and re-ranks the 3k-row pool against the probed rows by
    // id. Nothing corpus-sized is scanned or encoded at query time.
    // Determinism: shared codebooks with q_knn_ivf/q_knn_pq; every
    // distance rounds 6 dp with id tie-breaks; ADC totals
    // DECIMAL-summed.
    Q("q_knn_ivfpq",
      s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) v FROM embeddings),
         |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < $IvfCells),
         |asgn AS (SELECT vec_id, label, v, cid,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY
         |      round(1 - list_cosine_similarity(v, cv), 6), cid) AS rn
         |  FROM e CROSS JOIN c),
         |a2 AS (SELECT vec_id, label, v, cid FROM asgn WHERE rn = 1),
         |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
         |probe AS (SELECT cid FROM c CROSS JOIN q
         |          ORDER BY round(1 - list_cosine_similarity(cv, qv), 6), cid
         |          LIMIT $IvfProbes),
         |ms AS (SELECT unnest(range(8)) AS m),
         |codes AS (SELECT c.cid AS code, ms.m, c.cv[ms.m*8+1 : ms.m*8+8] AS cs
         |          FROM c CROSS JOIN ms),
         |cand AS (SELECT vec_id, label, v FROM a2
         |         WHERE cid IN (SELECT cid FROM probe)),
         |asg0 AS (SELECT cand.vec_id, cd.m, cd.code,
         |    round(list_distance(cand.v[cd.m*8+1 : cd.m*8+8], cd.cs), 6) AS dist
         |  FROM cand CROSS JOIN codes cd),
         |asg AS (SELECT vec_id, m, code FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id, m
         |      ORDER BY dist, code) AS rn FROM asg0) WHERE rn = 1),
         |dt AS (SELECT cd.m, cd.code,
         |    round(list_distance(q.qv[cd.m*8+1 : cd.m*8+8], cd.cs), 6) AS d
         |  FROM codes cd CROSS JOIN q),
         |adc AS (SELECT a.vec_id,
         |    round(CAST(sum(CAST(dt.d AS DECIMAL(38,6))) AS DOUBLE), 6) AS adist
         |  FROM asg a JOIN dt ON a.m = dt.m AND a.code = dt.code
         |  GROUP BY a.vec_id),
         |pool AS (SELECT vec_id, adist FROM adc
         |         ORDER BY adist, vec_id LIMIT ${3 * K})
         |SELECT p.vec_id, cand.label, p.adist,
         |  round(1 - list_cosine_similarity(cand.v, q.qv), 6) AS dist
         |FROM pool p JOIN cand USING (vec_id) CROSS JOIN q
         |ORDER BY dist, vec_id LIMIT $K""".stripMargin) { (s, d) =>
      // Serve from the staged index: cells + PQ codes were encoded
      // at build time (per-vector deterministic, so encoding the
      // whole corpus at build equals the oracle's probed-cell
      // encode row-for-row).
      val tbl = ensureIvfIndex(s, d)
      val ed = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val cents = ed.filter(col("vec_id") < IvfCells)
        .select(col("vec_id").as("cid"), col("v").as("cv"))
      val qv = ed.filter(col("vec_id") === 0).select(col("v").as("qv"))
      // Probe selection: IvfCells rows × 1 query — a bounded driver
      // read (the q_knn_ivf_rule qv-collect idiom) so the cell list
      // lands as a LITERAL isin on the partition column and the scan
      // is partition-pruned.
      val probeCids = cents.crossJoin(broadcast(qv))
        .select(col("cid"),
          round(cosine_distance(col("cv"), col("qv")), 6).as("qdist"))
        .orderBy(col("qdist"), col("cid")).limit(IvfProbes)
        .collect().map(_.getLong(0))
      val cand = s.table(tbl)
        .filter(col("ivf_cell").isin(probeCids: _*))
        .localCheckpoint(eager = false) // probed partitions only
      // ADC table: 8×16 query-to-code distances (shared codebook
      // slices with q_knn_pq), broadcast to the probed code stream.
      val codes = cents
        .select(col("cid").as("code"), explode(expr("sequence(0, 7)")).as("m"),
          col("cv"))
        .select(col("code"), col("m"), expr("slice(cv, m*8+1, 8)").as("cs"))
      val dt = codes.crossJoin(broadcast(qv))
        .select(col("m"), col("code"),
          round(l2_distance(expr("slice(qv, m*8+1, 8)"), col("cs")), 6)
            .as("d"))
      val pool = cand
        .select(col("vec_id"), posexplode(col("pq")).as(Seq("m", "code")))
        .join(broadcast(dt), Seq("m", "code"))
        .groupBy("vec_id")
        .agg(round(sum(col("d").cast(DecimalType(38, 6))).cast("double"), 6)
          .as("adist"))
        .orderBy(col("adist"), col("vec_id")).limit(3 * K)
      pool
        .join(cand.select(col("vec_id"), col("label"),
          col("embedding").cast("array<double>").as("v")), "vec_id")
        .crossJoin(broadcast(qv))
        .select(col("vec_id"), col("label"), col("adist"),
          round(cosine_distance(col("v"), col("qv")), 6).as("dist"))
        .orderBy(col("dist"), col("vec_id")).limit(K)
    },

    // HARD-NEGATIVE MINING — the contrastive-training sampler: for
    // each anchor, the k nearest vectors whose LABEL DIFFERS (close
    // in embedding space, different class — the examples that move a
    // contrastive/triplet loss; easy negatives are already far and
    // contribute ~zero gradient). Batch form of A10's filtered kNN
    // with a per-anchor predicate instead of a constant one.
    // Scale: anchors broadcast (a training batch is small), the
    // label filter lands BEFORE distance evaluation so the kernel
    // runs on the reduced stream, and the per-anchor top-k is a
    // windowed rank over the anchor-id partitioning — per-task heaps
    // feeding one exchange of |anchors|·candidates rows, never a
    // global sort of the fact table. On a cluster the anchor batch
    // rotates per epoch; the scan side streams once per batch.
    Q("q_hard_negatives",
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) v FROM embeddings),
        |a AS (SELECT vec_id AS aid, label AS albl, v AS av FROM e WHERE vec_id < 4),
        |p AS (SELECT aid, vec_id, label,
        |        round(1 - list_cosine_similarity(v, av), 6) AS dist
        |      FROM e CROSS JOIN a WHERE label <> albl),
        |r AS (SELECT *, row_number() OVER (PARTITION BY aid
        |        ORDER BY dist, vec_id) AS rn FROM p)
        |SELECT aid, vec_id, label, dist FROM r WHERE rn <= 5
        |ORDER BY aid, dist, vec_id""".stripMargin) { (s, d) =>
      val e = Tables.embeddings(s, d)
      val a = e.filter(col("vec_id") < 4)
        .select(col("vec_id").as("aid"), col("label").as("albl"),
          col("embedding").as("av"))
      val p = e.crossJoin(broadcast(a))
        .filter(col("label") =!= col("albl"))
        .select(col("aid"), col("vec_id"), col("label"),
          round(cosine_distance(col("embedding"), col("av")), 6).as("dist"))
      val w = Window.partitionBy("aid").orderBy(col("dist"), col("vec_id"))
      p.withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
        .select("aid", "vec_id", "label", "dist")
        .orderBy("aid", "dist", "vec_id")
    },

    // SCALAR QUANTIZATION AUDIT — int8 embedding compression (the
    // 4× storage cut every vector store applies before PQ): per
    // vector, symmetric max-abs scale sc = max|x|/127, codes
    // q_i = floor(x_i/sc + 0.5), reconstruction error
    // Σ(x_i − q_i·sc)². Emits (vec_id, scale, qerr) — the audit a
    // pipeline runs to decide whether int8 is safe for its recall
    // budget (PQ's ADC path, q_knn_pq, is the next notch down).
    // Scale: entirely scan-local arithmetic over the vector column —
    // no shuffle before the presentation sort; the fold is a
    // sequential per-row lambda, bit-identical to the oracle's
    // list_reduce because both fold left-to-right over the same
    // element order (0.0 + t1 ≡ t1 in IEEE).
    Q("q_vector_quantize",
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
        |s AS (SELECT vec_id, v, list_max([abs(x) for x in v]) / 127.0 AS sc FROM e)
        |SELECT vec_id, round(sc, 6) AS scale,
        |  CASE WHEN sc = 0 THEN 0.0 ELSE
        |    round(list_reduce([pow(x - floor(x / sc + 0.5) * sc, 2) for x in v],
        |                      (a, b) -> a + b), 6) END AS qerr
        |FROM s ORDER BY vec_id""".stripMargin) { (s, d) =>
      Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        .withColumn("sc", expr("array_max(transform(v, x -> abs(x))) / 127.0"))
        .select(col("vec_id"), round(col("sc"), 6).as("scale"),
          expr("""CASE WHEN sc = 0.0D THEN 0.0D ELSE
                 |round(aggregate(v, CAST(0.0 AS DOUBLE),
                 |  (a, x) -> a + pow(x - floor(x / sc + 0.5) * sc, 2)), 6)
                 |END""".stripMargin).as("qerr"))
        .orderBy("vec_id")
    },

    // ANN RECALL AUDIT — recall@k of the IVF probe path against the
    // exact top-k, per query of the q_knn_batch query set: the
    // quality metric every approximate index must publish next to
    // its speedup (the declared IVF tradeoff, MEASURED — a probe
    // budget is only defensible with this number attached). Both
    // arms share one codebook assignment; the exact arm is the
    // q_knn_batch plan, the IVF arm scans only the 4 probed cells
    // per query. Scale: the audit runs on a SAMPLE of queries by
    // construction (here the 4-query batch) — cost is the exact
    // arm's, paid once per index build/refresh, not per search.
    Q("q_knn_recall",
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
         |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < $IvfCells),
         |asgn AS (SELECT vec_id, v, cid,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY
         |      round(1 - list_cosine_similarity(v, cv), 6), cid) AS rn
         |  FROM e CROSS JOIN c),
         |a2 AS (SELECT vec_id, v, cid FROM asgn WHERE rn = 1),
         |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 4),
         |ex AS (SELECT qid, vec_id FROM (
         |    SELECT q.qid, e.vec_id, row_number() OVER (PARTITION BY q.qid
         |      ORDER BY round(1 - list_cosine_similarity(e.v, q.qv), 6),
         |        e.vec_id) AS rn
         |    FROM e CROSS JOIN q WHERE e.vec_id <> q.qid) t WHERE rn <= $K),
         |pr AS (SELECT qid, cid FROM (
         |    SELECT q.qid, c.cid, row_number() OVER (PARTITION BY q.qid
         |      ORDER BY round(1 - list_cosine_similarity(c.cv, q.qv), 6),
         |        c.cid) AS rn
         |    FROM c CROSS JOIN q) t WHERE rn <= $IvfProbes),
         |iv AS (SELECT qid, vec_id FROM (
         |    SELECT q.qid, a2.vec_id, row_number() OVER (PARTITION BY q.qid
         |      ORDER BY round(1 - list_cosine_similarity(a2.v, q.qv), 6),
         |        a2.vec_id) AS rn
         |    FROM a2 JOIN pr USING (cid) JOIN q USING (qid)
         |    WHERE a2.vec_id <> q.qid) t WHERE rn <= $K)
         |SELECT ex.qid, count(iv.vec_id) AS hits,
         |  round(count(iv.vec_id) / $K.0, 6) AS recall
         |FROM ex LEFT JOIN iv ON iv.qid = ex.qid AND iv.vec_id = ex.vec_id
         |GROUP BY ex.qid ORDER BY ex.qid""".stripMargin) { (s, d) =>
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"))
      val cents = e.filter(col("vec_id") < IvfCells)
        .select(col("vec_id").as("cid"), col("embedding").as("cv"))
      val q = e.filter(col("vec_id") < 4)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      val asgn = e.crossJoin(broadcast(cents))
        .withColumn("cdist",
          round(cosine_distance(col("embedding"), col("cv")), 6))
        .groupBy("vec_id")
        .agg(expr("min_by(struct(embedding, cid), struct(cdist, cid))").as("m"))
        .select(col("vec_id"), col("m.embedding").as("embedding"),
          col("m.cid").as("cid"))
      val wq = Window.partitionBy("qid")
      val pr = cents.crossJoin(broadcast(q))
        .withColumn("qdist", round(cosine_distance(col("cv"), col("qv")), 6))
        .withColumn("rn", row_number().over(
          wq.orderBy(col("qdist"), col("cid"))))
        .filter(col("rn") <= IvfProbes).select("qid", "cid")
      val iv = asgn.join(broadcast(pr), "cid").join(broadcast(q), "qid")
        .filter(col("vec_id") =!= col("qid"))
        .withColumn("dist",
          round(cosine_distance(col("embedding"), col("qv")), 6))
        .withColumn("rn", row_number().over(
          wq.orderBy(col("dist"), col("vec_id"))))
        .filter(col("rn") <= K)
        .select(col("qid").as("iqid"), col("vec_id").as("ivec"))
      // Exact arm under spark.graft.audit=false: the brute-force
      // top-k (the full scan the IVF probe path exists to avoid) is
      // never planned — the probe arm still runs per query and the
      // hits/recall audit columns come back NULL.
      if (auditOn(s)) {
        val ex = e.crossJoin(broadcast(q))
          .filter(col("vec_id") =!= col("qid"))
          .withColumn("dist",
            round(cosine_distance(col("embedding"), col("qv")), 6))
          .withColumn("rn", row_number().over(
            wq.orderBy(col("dist"), col("vec_id"))))
          .filter(col("rn") <= K).select("qid", "vec_id")
        ex.join(iv,
            col("iqid") === col("qid") && col("ivec") === col("vec_id"),
            "left")
          .groupBy("qid")
          .agg(count(col("ivec")).as("hits"),
            round(count(col("ivec")) / lit(K.toDouble), 6).as("recall"))
          .orderBy("qid")
      } else iv.groupBy(col("iqid").as("qid"))
        .agg(lit(null).cast("long").as("hits"),
          lit(null).cast("double").as("recall"))
        .orderBy("qid")
    },

    // MAXSIM LATE-INTERACTION RETRIEVAL — ColBERT-style scoring:
    // the query is a SET of vectors (the 4-vector batch set) and
    // each document is a SET of vectors (vec_id groups of 10);
    // score(doc) = Σ over query vectors of the best match inside
    // the doc — token-level interaction that single-vector kNN
    // (A8-A12) collapses away. Stated distance-side for exactness:
    // maximizing Σ max-sim ⇔ minimizing Σ min-dist, so the score is
    // |Q| − Σ_q min_v round(dist, 6) — pure 6dp-decimal arithmetic
    // after the kernel, hash-exact at any accumulation order.
    // Scale: ONE scan against the broadcast query set; min folds
    // partial-aggregated on (doc, qvec) — |docs|·|Q| rows after the
    // map-side combine, never vector-pair-sized; the doc score is a
    // second |docs|-keyed partial aggregate; top-10 is
    // TakeOrderedAndProject. At 100 TB the same plan rides the IVF
    // cell pruning (probe cells per query vector, union, then this
    // exact rescore — the candidate-generation stage is A8's).
    Q("q_maxsim",
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v,
        |             vec_id // 10 AS gid FROM embeddings),
        |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 4),
        |sim AS (SELECT gid, qid,
        |    min(round(1 - list_cosine_similarity(v, qv), 6)) AS md
        |  FROM e CROSS JOIN q WHERE gid > 0 GROUP BY gid, qid),
        |sc AS (SELECT gid,
        |    CAST(4 - sum(CAST(md AS DECIMAL(38,6))) AS DOUBLE) AS score
        |  FROM sim GROUP BY gid)
        |SELECT gid, round(score, 6) AS score FROM sc
        |ORDER BY score DESC, gid LIMIT 10""".stripMargin) { (s, d) =>
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"),
          (col("vec_id") / 10).cast("long").as("gid"))
      val q = e.filter(col("vec_id") < 4)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      e.filter(col("gid") > 0)
        .crossJoin(broadcast(q))
        .select(col("gid"), col("qid"),
          round(cosine_distance(col("embedding"), col("qv")), 6).as("dist"))
        .groupBy("gid", "qid").agg(min("dist").as("md"))
        .groupBy("gid")
        .agg((lit(4) - sum(col("md").cast(DecimalType(38, 6))))
          .cast("double").as("score"))
        .select(col("gid"), round(col("score"), 6).as("score"))
        .orderBy(col("score").desc, col("gid"))
        .limit(10)
    },

    // RETRIEVAL EVALUATION — MRR and nDCG@10 per query over the
    // exact cosine arm, with same-label as graded-0/1 relevance:
    // the IR quality report an embedding model ships with
    // (q_knn_recall grades the INDEX against exact search; this
    // grades the EMBEDDING against labels — different question,
    // different denominator). IDCG uses the true per-label relevant
    // count (capped at the cutoff), so a query whose label has <10
    // members is not penalized for physics. Determinism: relevance
    // is integer, each DCG term round(rel/log2(rank+1), 9) feeds a
    // DECIMAL sum (dsum discipline), the IDCG fold is a fixed
    // ≤10-term left-to-right sum of identical doubles in both
    // engines, and ndcg/mrr round on identical operand chains.
    // Scale: the eval runs on the 4-query SAMPLE by construction
    // (index-refresh cost, not per-search); the candidate stream is
    // one scan × broadcast queries; per-query top-10 is a
    // qid-partitioned window; label counts broadcast.
    Q("q_retrieval_eval",
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) v
        |           FROM embeddings),
        |q AS (SELECT vec_id AS qid, label AS qlabel, v AS qv FROM e
        |      WHERE vec_id < 4),
        |lc AS (SELECT label, count(*) AS nlab FROM e GROUP BY label),
        |top AS (SELECT qid, qlabel, rel, rn FROM (
        |    SELECT q.qid, q.qlabel,
        |      CASE WHEN e.label = q.qlabel THEN 1 ELSE 0 END AS rel,
        |      row_number() OVER (PARTITION BY q.qid
        |        ORDER BY round(1 - list_cosine_similarity(e.v, q.qv), 6),
        |          e.vec_id) AS rn
        |    FROM e CROSS JOIN q WHERE e.vec_id <> q.qid) t
        |  WHERE rn <= 10),
        |m AS (SELECT qid, qlabel,
        |    CAST(sum(rel) AS BIGINT) AS hits,
        |    min(CASE WHEN rel = 1 THEN rn END) AS first_rel,
        |    round(CAST(sum(CAST(round(rel / log2(rn + 1), 9)
        |      AS DECIMAL(38,9))) AS DOUBLE), 9) AS dcg
        |  FROM top GROUP BY qid, qlabel)
        |SELECT m.qid, hits, first_rel,
        |  CASE WHEN first_rel IS NULL THEN CAST(0.0 AS DOUBLE)
        |    ELSE round(1.0 / first_rel, 6) END AS mrr,
        |  CASE WHEN nlab < 2 THEN NULL ELSE
        |    round(dcg / list_sum([round(1 / log2(i + 1), 9)
        |      for i in range(1, least(nlab - 1, 10) + 1)]), 6) END AS ndcg
        |FROM m JOIN lc ON lc.label = m.qlabel
        |ORDER BY qid""".stripMargin) { (s, d) =>
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("label"), col("embedding"))
      val q = e.filter(col("vec_id") < 4)
        .select(col("vec_id").as("qid"), col("label").as("qlabel"),
          col("embedding").as("qv"))
      val lc = e.groupBy("label").agg(count(lit(1)).as("nlab"))
      val top = e.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("qid"))
        .withColumn("rel",
          when(col("label") === col("qlabel"), 1).otherwise(0))
        .withColumn("dist",
          round(cosine_distance(col("embedding"), col("qv")), 6))
        .withColumn("rn", row_number().over(Window.partitionBy("qid")
          .orderBy(col("dist"), col("vec_id"))))
        .filter(col("rn") <= 10)
      val m = top.groupBy("qid", "qlabel").agg(
        sum("rel").cast("long").as("hits"),
        min(when(col("rel") === 1, col("rn"))).as("first_rel"),
        round(sum(expr("CAST(round(rel / log2(rn + 1), 9) AS DECIMAL(38,9))"))
          .cast("double"), 9).as("dcg"))
      // The nlab < 2 guard is load-bearing twice over: a singleton
      // label has no relevant candidates (IDCG undefined — the
      // oracle's empty list_sum is NULL), and Spark's sequence(1, 0)
      // would silently auto-step BACKWARD to [1, 0], making the fold
      // divide by log2(1) = 0 into an Infinity denominator.
      m.join(broadcast(lc), col("label") === col("qlabel"))
        .selectExpr("qid", "hits", "first_rel",
          "CASE WHEN first_rel IS NULL THEN CAST(0.0 AS DOUBLE) " +
            "ELSE round(1.0 / first_rel, 6) END AS mrr",
          "CASE WHEN nlab < 2 THEN NULL ELSE " +
            "round(dcg / aggregate(sequence(1, least(nlab - 1, 10)), " +
            "CAST(0 AS DOUBLE), (a, i) -> a + round(1 / log2(i + 1), 9))," +
            " 6) END AS ndcg")
        .orderBy("qid")
    },

    // IVF INDEX HEALTH — per-cell occupancy of the deployed IVF
    // assignment (same codebook + argmin contract as
    // q_knn_ivf/q_knn_recall): members, share of the corpus, and
    // load factor vs the balanced N/k ideal, INCLUDING empty cells
    // (a 0-member cell wastes a probe budget slot; a hot cell makes
    // every probe of it scan a corpus-sized bucket — exactly the
    // skew that kills IVF latency at scale, and the reason this
    // audit ships with the index). share and load_factor are
    // small-denominator rationals → exact-integer-space rounding.
    // Scale: ONE broadcast-codebook argmin pass (the assignment
    // every IVF query already pays) + a k-sized aggregate; the
    // centroid left-join that surfaces empty cells is k-sized.
    Q("q_index_stats",
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v
         |           FROM embeddings),
         |c AS (SELECT vec_id AS cid, v AS cv FROM e
         |      WHERE vec_id < $IvfCells),
         |asgn AS (SELECT vec_id, cid FROM (
         |    SELECT e.vec_id, c.cid, row_number() OVER (
         |      PARTITION BY e.vec_id ORDER BY
         |        round(1 - list_cosine_similarity(e.v, c.cv), 6), c.cid)
         |      AS rn FROM e CROSS JOIN c) t WHERE rn = 1),
         |cnt AS (SELECT cid, count(*) AS members FROM asgn GROUP BY cid),
         |nn AS (SELECT CAST(sum(members) AS BIGINT) AS n FROM cnt)
         |SELECT c.cid AS cid, coalesce(members, 0) AS members,
         |  CAST(floor((2 * coalesce(members, 0) * 1000000 + n)
         |    / (2.0 * n)) / 1000000.0 AS DOUBLE) AS share,
         |  CAST(floor((2 * coalesce(members, 0) * $IvfCells * 1000000 + n)
         |    / (2.0 * n)) / 1000000.0 AS DOUBLE) AS load_factor
         |FROM c LEFT JOIN cnt ON cnt.cid = c.cid CROSS JOIN nn
         |ORDER BY 1""".stripMargin) { (s, d) =>
      val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      // The 16-row codebook feeds both the assignment and the
      // empty-cell join; pinning it leaves exactly ONE corpus scan
      // in the final plan (N comes from the cell counts, not a
      // second pass — the counts partition the corpus by argmin
      // totality).
      val cents = e.filter(col("vec_id") < IvfCells)
        .select(col("vec_id").as("cid"), col("embedding").as("cv"))
        .localCheckpoint(eager = false)
      val asgn = e.crossJoin(broadcast(cents))
        .withColumn("cdist",
          round(cosine_distance(col("embedding"), col("cv")), 6))
        .groupBy("vec_id")
        .agg(expr("min_by(cid, struct(cdist, cid))").as("cid"))
      val cnt = asgn.groupBy("cid").agg(count(lit(1)).as("members"))
        .localCheckpoint(eager = false)
      val nn = cnt.agg(sum("members").cast("long").as("n"))
      cents.select("cid")
        .join(broadcast(cnt), Seq("cid"), "left")
        .crossJoin(broadcast(nn))
        .selectExpr("cid", "coalesce(members, 0) AS members",
          "CAST(floor((2 * coalesce(members, 0) * 1000000 + n)" +
            " / (2.0 * n)) / 1000000.0 AS DOUBLE) AS share",
          s"CAST(floor((2 * coalesce(members, 0) * $IvfCells * 1000000 + n)" +
            " / (2.0 * n)) / 1000000.0 AS DOUBLE) AS load_factor")
        .orderBy("cid")
    },

    // MUTUAL k-NN PAIRS — pairs of embeddings that appear in EACH
    // OTHER'S top-3 neighbor lists: the high-precision reciprocity
    // filter over plain kNN (a one-directional neighbor is often a
    // hub artifact — B is "near" everything; MUTUAL neighbors are
    // each other's evidence, the signal semantic-dedup and
    // cluster-seeding pipelines act on before any threshold tuning;
    // q_semdedup clusters then prunes, q_dedup_embed thresholds a
    // distance — reciprocity needs neither constant). Scale: the
    // pairwise stage is SimilarityStages.knnCandidates — the
    // block-chunked exact join by default (NO broadcast hint; the
    // exactSim stance), `spark.graft.knn.mode=ann` = IVF multi-probe
    // candidates + exact verify, set-equal at the test sfs
    // (ScalePathSpec); top-3 is a vec-id-PARTITIONED window; the
    // reciprocity check is a plain self-equi-join of the n·3 edge
    // frame on the REVERSED pair key — both sides shuffle by the
    // same composite key, nothing data-sized broadcasts.
    // Determinism: distances round 6dp with (dist, vec_id)
    // tie-break; output (dist, a, b) total order on the a<b
    // canonical orientation.
    Q("q_mutual_knn",
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v
        |           FROM embeddings),
        |p AS (SELECT a.vec_id AS aid, b.vec_id AS bid,
        |    round(1 - list_cosine_similarity(a.v, b.v), 6) AS dist
        |  FROM e a CROSS JOIN e b WHERE a.vec_id <> b.vec_id),
        |r AS (SELECT aid, bid, dist, row_number() OVER (
        |    PARTITION BY aid ORDER BY dist, bid) AS rn FROM p),
        |top AS (SELECT aid, bid, dist, rn FROM r WHERE rn <= 3)
        |SELECT t1.aid AS a, t1.bid AS b, t1.dist,
        |  t1.rn AS rank_ab, t2.rn AS rank_ba
        |FROM top t1 JOIN top t2 ON t1.aid = t2.bid AND t1.bid = t2.aid
        |WHERE t1.aid < t1.bid
        |ORDER BY t1.dist, a, b""".stripMargin) { (s, d) =>
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"),
          col("embedding").cast("array<double>").as("v"))
        .localCheckpoint(eager = false)
      // NaN guard (round-16 advice): TopKNeighborsAggregator.better()
      // is false for every NaN comparison, so a NaN dist (zero-norm
      // vector) landing in a non-full heap would sit unordered where
      // the row_number window sorts NaN last — filter them so the
      // window/heap equivalence is unconditional. The fixture has no
      // zero-norm embeddings, so this is a no-op on real data (and
      // the DuckDB oracle's cross join sees the same non-NaN stream).
      val p = SimilarityStages.knnCandidates(e, metric = "cosine")
        .select(col("a").as("aid"), col("b").as("bid"), col("dist"))
        .filter(!isnan(col("dist")))
      // Per-aid top-3 via the map-side heap fold (round 16 — the
      // tfidf/dedup-route reduction applied to the kNN family): the
      // row_number window shuffled the FULL candidate pair stream on
      // aid before discarding all but 3 rows per doc (214.7 s at the
      // 100× sweep, the largest surviving cell); the heap folds each
      // partition to ≤3 rows per aid before the exchange. Score is
      // negated dist — the aggregator's (score DESC, id ASC) order
      // is then exactly the window's (dist ASC, bid ASC); negation
      // is a sign-bit flip, so round-tripped dist is bit-identical.
      val topkAgg = udaf(new graft.functions.TopKNeighborsAggregator(3),
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaDouble))
      val top = p.groupBy("aid")
        .agg(topkAgg(col("bid"), lit(0L), negate(col("dist"))).as("tk"))
        .select(col("aid"), posexplode(col("tk")))
        .select(col("aid"), col("col._1").as("bid"),
          negate(col("col._3")).as("dist"),
          (col("pos") + 1).cast("int").as("rn"))
        .localCheckpoint(eager = false)
      top.as("t1")
        .join(top.select(col("aid").as("raid"),
          col("bid").as("rbid"), col("rn").as("rank_ba")).as("t2"),
          col("aid") === col("rbid") && col("bid") === col("raid"))
        .filter(col("aid") < col("bid"))
        .selectExpr("aid AS a", "bid AS b", "dist",
          "rn AS rank_ab", "rank_ba")
        .orderBy("dist", "a", "b")
    },

    // COSINE LSH (SRP) — signed-random-projection LSH over the
    // embedding cloud, 4 bands × 4 hyperplane sign bits, with the
    // recall/precision audit against the exact sim≥0.4 pair set:
    // the COSINE-space scale path for similarity join (q_dedup_
    // minhash bands JACCARD over shingles; q_knn_ivf prunes by
    // Voronoi cell; SRP banding is the third leg — embedding pairs,
    // no codebook, candidates = same (band, 4-bit signature) — the
    // Charikar 2002 sketch behind every "LSH dedup at web scale"
    // recipe, with its measured operating point attached like
    // q_minhash_recall). Scale: signatures are scan-local lambda
    // folds (16 deterministic md5-seeded hyperplanes — at
    // production scale the plane matrix is a precomputed broadcast
    // constant); candidates = equi-join on the band key (the
    // q_dedup_minhash shape, NEVER all-pairs); the exact truth arm
    // is the audit's cost, paid per index build, dropped at 100 TB.
    // Determinism: md5-derived plane components; the dot fold is
    // left-to-right over the same element order in both engines
    // (the q_vector_quantize precedent); sign bits read a 9dp-
    // rounded dot (ulp absorbed); counts exact, rates micro-int.
    Q("q_lsh_embed", {
      val planeD = "(CAST(2 AS DOUBLE) * (('0x' || substr(md5(" +
        "'lsh#' || p::VARCHAR || '#' || (i - 1)::VARCHAR" +
        "), 1, 7))::BIGINT + 1) / 268435456 - 1)"
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v
         |           FROM embeddings),
         |pl AS (SELECT unnest(range(0, 16)) AS p),
         |bits AS (SELECT vec_id, p,
         |    CASE WHEN round(list_reduce(
         |      [v[i] * $planeD for i in range(1, len(v) + 1)],
         |      (a, b) -> a + b), 9) >= 0 THEN 1 ELSE 0 END AS bit
         |  FROM e CROSS JOIN pl),
         |sig AS (SELECT vec_id, p // 4 AS band,
         |    CAST(sum(bit << (p % 4)) AS BIGINT) AS s
         |  FROM bits GROUP BY 1, 2),
         |cand AS (SELECT DISTINCT a.vec_id AS id1, b.vec_id AS id2
         |  FROM sig a JOIN sig b
         |  ON a.band = b.band AND a.s = b.s AND a.vec_id < b.vec_id),
         |truth AS (SELECT a.vec_id AS id1, b.vec_id AS id2
         |  FROM e a JOIN e b ON a.vec_id < b.vec_id
         |  WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.4),
         |nc AS (SELECT CAST(count(*) AS BIGINT) AS n_cand FROM cand),
         |nt AS (SELECT CAST(count(*) AS BIGINT) AS n_true FROM truth),
         |nv AS (SELECT CAST(count(*) AS BIGINT) AS n_vecs FROM e),
         |h AS (SELECT CAST(count(*) AS BIGINT) AS hits
         |  FROM truth JOIN cand USING (id1, id2))
         |SELECT n_vecs, n_cand, n_true, hits,
         |  CASE WHEN n_true = 0 THEN NULL ELSE
         |    CAST(floor((2 * hits * 1000000 + n_true) / (2.0 * n_true))
         |    / 1000000.0 AS DOUBLE) END AS recall,
         |  CASE WHEN n_cand = 0 THEN NULL ELSE
         |    CAST(floor((2 * hits * 1000000 + n_cand) / (2.0 * n_cand))
         |    / 1000000.0 AS DOUBLE) END AS precision
         |FROM nv CROSS JOIN nc CROSS JOIN nt CROSS JOIN h"""
        .stripMargin
    }) { (s, d) =>
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").cast("array<double>")
          .as("v"))
        .localCheckpoint(eager = false)
      // The 16 hyperplanes are a CONSTANT of the operator (md5-seeded,
      // data-independent), so materialize the plane matrix ONCE on the
      // driver and broadcast it — the previous inline-SQL form
      // re-derived md5('lsh#p#k') per (vector, plane, element) =
      // n·16·dim interpreted digest calls inside the scan. Arithmetic
      // is kept IDENTICAL to the oracle's SQL derivation
      // (2.0·(hex7+1)/2²⁸ − 1, same op order), and the sign bit reads
      // the codegen dot kernel's left-to-right fold — the exact fold
      // order of the transform/aggregate it replaces — so signatures
      // are bit-identical and the hash gate is unaffected. This is
      // the production shape the original comment promised ("the
      // plane matrix is a precomputed broadcast constant").
      val dim = e.select(size(col("v"))).limit(1).collect()
        .headOption.map(_.getInt(0)).getOrElse(0)
      // Plane count. The DECLARED (oracled) form is 16 planes = 4
      // bands × 4 bits, which is only meaningful while n ≲ 2⁴ per
      // bucket: band keys have 16 possible values, so buckets hold
      // n/16 vectors and the candidate join degenerates to ~n²/16
      // pairs per band (measured at sf1.0: 38 s audit-off, nearly
      // all in the bucket join). `spark.graft.lsh.planes` defaults
      // to `auto`: at or below 4096 estimated rows (every oracled
      // test sf) it resolves to the declared 16, above it to
      // 4 bands × ⌈log₂ n⌉ bits so the EXPECTED bucket size stays
      // O(1) — the standard SRP-LSH sizing (Charikar 2002), same
      // size-gated posture as ann.cells=auto. Pin planes=16 to
      // reproduce the declared form at any scale (the sf1.0
      // correctness arm does). The gate reads an EXACT count — not
      // an optimizer estimate, which can flap across Spark versions
      // or plan-shape changes near the boundary and silently switch
      // the output vintage (round-11 advice). The count pass costs
      // one scan of the id+vector projection the query materializes
      // anyway (it eagerly seeds the localCheckpoint the signature
      // and candidate stages reuse), and the resolved plane count is
      // logged so any vintage flip is observable.
      val planesN = s.conf.get("spark.graft.lsh.planes", "auto") match {
        case "auto" =>
          val n = e.count()
          val p = if (n <= 4096) 16
          else 4 * math.min(15,
            math.ceil(math.log(n.toDouble) / math.log(2)).toInt)
          System.err.println(
            s"[graft] lsh.planes=auto resolved to $p (n=$n)")
          p
        case v => v.toInt
      }
      val bitsPerBand = planesN / 4
      def planeVal(p: Int, k: Int): Double = {
        val md = java.security.MessageDigest.getInstance("MD5")
        val hex = md.digest(s"lsh#$p#$k".getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
        2.0 * (java.lang.Long.parseLong(hex.substring(0, 7), 16) + 1L)
          .toDouble / 268435456 - 1
      }
      val planes = {
        val sp = s
        import sp.implicits._
        (0 until planesN).map(p =>
          (p, (0 until dim).map(k => planeVal(p, k)))).toDF("p", "plane")
      }
      val bits = e.crossJoin(broadcast(planes))
        .select(col("vec_id"), col("p"),
          when(round(graft.functions.GraftFunctions
            .dot_product(col("v"), col("plane")), 9) >= 0, lit(1))
            .otherwise(lit(0)).as("bit"))
      val sig = bits
        .selectExpr("vec_id", s"p DIV $bitsPerBand AS band",
          s"shiftleft(CAST(bit AS BIGINT), CAST(p % $bitsPerBand AS INT)) AS sb")
        .groupBy("vec_id", "band")
        .agg(sum("sb").cast("long").as("s"))
        .localCheckpoint(eager = false)
      val cand = sig.as("a")
        .join(sig.select(col("vec_id").as("id2"), col("band").as("b2"),
          col("s").as("s2")),
          col("band") === col("b2") && col("s") === col("s2") &&
            col("vec_id") < col("id2"))
        .select(col("vec_id").as("id1"), col("id2")).distinct()
        .localCheckpoint(eager = false)
      val nv = e.agg(count(lit(1)).cast("long").as("n_vecs"))
      val nc = cand.agg(count(lit(1)).cast("long").as("n_cand"))
      // Truth arm under spark.graft.audit=false: the exact sim≥0.4
      // pair set is never planned — the band-key candidate join (the
      // deployed sketch) is all that runs; n_true/hits/recall/
      // precision come back NULL.
      val (nt, h) =
        if (auditOn(s)) {
          val truth = SimilarityStages
            .allPairsSim(Tables.embeddings(s, d), tau = 0.4)
            .select("id1", "id2").localCheckpoint(eager = false)
          (truth.agg(count(lit(1)).cast("long").as("n_true")),
            truth.join(cand, Seq("id1", "id2"))
              .agg(count(lit(1)).cast("long").as("hits")))
        } else (
          s.sql("SELECT CAST(NULL AS BIGINT) AS n_true"),
          s.sql("SELECT CAST(NULL AS BIGINT) AS hits"))
      nv.crossJoin(broadcast(nc)).crossJoin(broadcast(nt))
        .crossJoin(broadcast(h))
        .selectExpr("n_vecs", "n_cand", "n_true", "hits",
          "CASE WHEN n_true = 0 THEN NULL ELSE " +
            "CAST(floor((2 * hits * 1000000 + n_true) / (2.0 * n_true))" +
            " / 1000000.0 AS DOUBLE) END AS recall",
          "CASE WHEN n_cand = 0 THEN NULL ELSE " +
            "CAST(floor((2 * hits * 1000000 + n_cand) / (2.0 * n_cand))" +
            " / 1000000.0 AS DOUBLE) END AS precision")
    },

    // MMR RERANK — maximal-marginal-relevance diversification of
    // the vec_id-0 query's top-20 cosine candidates: 5 greedy picks
    // maximizing λ·rel(d) − (1−λ)·max_sim(d, selected), λ=0.7
    // (Carbonell-Goldstein 1998) — plain top-k returns 5 near-
    // duplicates of the same best match; MMR is THE standard fix
    // every retrieval/RAG stack applies between kNN and the user
    // (q_mutual_knn finds redundancy; MMR actively AVOIDS it at
    // serve time). Scale: the candidate set is top-k-sized BY
    // CONSTRUCTION (the kNN stage bounds it), so the 20×20 pairwise
    // sim frame and all 5 greedy rounds run on constant-sized
    // broadcast frames — the loop costs nothing at any corpus
    // scale; only the initial kNN touches data (the q_knn_text
    // plan). Determinism: distances/sims round 6dp; per-round
    // argmax ties break on vec_id; MMR scores round 9dp; oracle =
    // chained MATERIALIZED CTEs mirroring the 5 picks.
    Q("q_mmr_rerank", VectorOracles.mmrSql(5)) { (s, d) =>
      val e = Tables.embeddings(s, d)
      val q = e.filter(col("vec_id") === 0)
        .select(col("embedding").as("qv"))
      val cand = e.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= 0)
        .select(col("vec_id"), col("embedding"),
          round(lit(1) - round(cosine_distance(col("embedding"),
            col("qv")), 6), 6).as("rel"))
        .orderBy((lit(1) - col("rel")).asc, col("vec_id"))
        .limit(20)
        .localCheckpoint(eager = false)
      val sims = cand.select(col("vec_id").as("i"),
          col("embedding").as("vi"))
        .crossJoin(broadcast(cand.select(col("vec_id").as("j"),
          col("embedding").as("vj"))))
        .filter(col("i") =!= col("j"))
        .select(col("i"), col("j"),
          round(lit(1) - round(cosine_distance(col("vi"), col("vj")), 6),
            6).as("sim"))
        .localCheckpoint(eager = false)
      var selected: org.apache.spark.sql.DataFrame = null
      var rows: org.apache.spark.sql.DataFrame = null
      for (r <- 1 to 5) {
        val remaining =
          if (selected == null) cand.select("vec_id", "rel")
          else cand.select("vec_id", "rel")
            .join(selected, Seq("vec_id"), "left_anti")
        val red =
          if (selected == null)
            remaining.withColumn("redund", lit(0.0))
          else remaining
            .join(broadcast(sims.join(broadcast(selected),
              sims("j") === selected("vec_id"))
              .groupBy("i").agg(max("sim").as("redund"))),
              remaining("vec_id") === col("i"), "left")
            .select(remaining("vec_id"), col("rel"),
              coalesce(col("redund"), lit(0.0)).as("redund"))
        val pick = red
          .withColumn("mmr", round(lit(0.7) * col("rel") -
            lit(0.3) * col("redund"), 9))
          .orderBy(col("mmr").desc, col("vec_id")).limit(1)
          .localCheckpoint(eager = false)
        selected =
          (if (selected == null) pick.select("vec_id")
           else selected.union(pick.select("vec_id")))
            .localCheckpoint(eager = false)
        val row = pick.withColumn("rank", lit(r.toLong))
        rows = if (rows == null) row else rows.union(row)
      }
      rows.selectExpr("rank", "vec_id", "rel AS relevance",
          "round(redund, 6) AS redundancy", "mmr AS mmr_score")
        .orderBy("rank")
    },

    // CONTRASTIVE TRIPLET SAMPLER — one (anchor, positive, negative)
    // triplet per vector with measured distances and margin: the
    // training-data emitter for metric-learning / embedding
    // fine-tuning (q_hard_negatives MINES the hardest negatives for
    // a query sample; this SAMPLES unbiased random-like triplets for
    // EVERY anchor — the batch a triplet-loss epoch consumes, with
    // the margin column doubling as the "is this embedding already
    // separating classes" audit). Sampling is the deterministic
    // RING SHIFT: within each label, vectors sort by salted hash and
    // the positive is the NEXT vector in the ring (wraps; uniform,
    // never self — labels with one member drop); the negative is
    // the hash-rank-aligned member of the NEXT label in the label
    // ring ((rk−1) mod nl′ + 1); a SINGLE-label corpus emits no
    // triplets at all (the label ring would wrap the "negative" onto
    // the anchor's own label — no valid negative exists, so the
    // contract is an empty result, pinned by the round-13 spec).
    // Rings make the pick per-row O(1):
    // NO per-anchor candidate scan, no rand() — reruns, retries,
    // and both engines agree bit-for-bit. Scale: two windows (one
    // label-partitioned rank; one |labels|-row global rank on the
    // GROUPED label frame — bounded at any corpus size) and three
    // (label, rank) equi-joins that co-partition on the label key;
    // volume stays n rows end-to-end. Distances are the codegen
    // cosine kernel vs DuckDB list_cosine_similarity, both rounded
    // 6dp; margin subtracts the ROUNDED distances (identical
    // operands both engines).
    Q("q_contrastive_pairs",
      s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[])
         |           AS v FROM embeddings),
         |labs AS (SELECT label, count(*) AS nl,
         |    CAST(row_number() OVER (ORDER BY label) AS BIGINT) AS li
         |  FROM e GROUP BY label),
         |nlab AS (SELECT count(*) AS lcnt FROM labs),
         |r AS (SELECT vec_id, label, v,
         |    CAST(row_number() OVER (PARTITION BY label
         |      ORDER BY ${TextKit.h28Duck("'cp#' || vec_id")}, vec_id)
         |      AS BIGINT) AS rk
         |  FROM e),
         |a AS (SELECT r.vec_id, r.label, r.v, r.rk, labs.nl, labs.li
         |  FROM r JOIN labs USING (label) WHERE labs.nl >= 2),
         |pos AS (SELECT a.vec_id, a.label, a.v, a.rk, a.li,
         |    b.vec_id AS pos_id, b.v AS pv
         |  FROM a JOIN r b ON b.label = a.label
         |    AND b.rk = a.rk % a.nl + 1),
         |neg AS (SELECT p.*, n2.label AS neg_label, n2.nl AS nl2
         |  FROM pos p CROSS JOIN nlab
         |  JOIN labs n2 ON n2.li = p.li % lcnt + 1
         |  WHERE lcnt >= 2),
         |trip AS (SELECT n.vec_id, n.label, n.pos_id,
         |    nb.vec_id AS neg_id, n.v, n.pv, nb.v AS nv
         |  FROM neg n JOIN r nb ON nb.label = n.neg_label
         |    AND nb.rk = (n.rk - 1) % n.nl2 + 1)
         |SELECT vec_id, label, pos_id, neg_id,
         |  round(1 - list_cosine_similarity(v, pv), 6) AS pos_dist,
         |  round(1 - list_cosine_similarity(v, nv), 6) AS neg_dist,
         |  round(round(1 - list_cosine_similarity(v, nv), 6)
         |      - round(1 - list_cosine_similarity(v, pv), 6), 6) AS margin
         |FROM trip ORDER BY vec_id""".stripMargin) { (s, d) =>
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("label"),
          col("embedding").cast("array<double>").as("v"))
      val labs = e.groupBy("label").agg(count(lit(1)).as("nl"))
        .withColumn("li",
          row_number().over(Window.orderBy("label")).cast("long"))
        .localCheckpoint(eager = false)
      val nlab = labs.agg(count(lit(1)).as("lcnt"))
      val rr = e.withColumn("rk",
          row_number().over(Window.partitionBy("label")
            .orderBy(expr(TextKit.h28(
              "concat('cp#', CAST(vec_id AS STRING))")), col("vec_id")))
            .cast("long"))
        .localCheckpoint(eager = false)
      val a = rr.join(broadcast(labs), "label").filter(col("nl") >= 2)
        .withColumn("prk", col("rk") % col("nl") + 1)
      val b = rr.select(col("label"), col("rk").as("prk"),
        col("vec_id").as("pos_id"), col("v").as("pv"))
      val pos = a.join(b, Seq("label", "prk"))
      // Single-label corpora emit NO triplets (round-12 advice): with
      // lcnt = 1 the label-ring "negative" li % lcnt + 1 wraps to the
      // anchor's own label, violating the triplet contract — both
      // engines would agree, but the emitted rows would be wrong.
      val neg = pos.crossJoin(broadcast(nlab))
        .filter(col("lcnt") >= 2)
        .withColumn("nli", col("li") % col("lcnt") + 1)
        .join(broadcast(labs.select(col("li").as("nli"),
          col("label").as("neg_label"), col("nl").as("nl2"))), "nli")
        .withColumn("nrk", (col("rk") - 1) % col("nl2") + 1)
      val nb = rr.select(col("label").as("neg_label"),
        col("rk").as("nrk"), col("vec_id").as("neg_id"),
        col("v").as("nv"))
      neg.join(nb, Seq("neg_label", "nrk"))
        .select(col("vec_id"), col("label"), col("pos_id"), col("neg_id"),
          round(cosine_distance(col("v"), col("pv")), 6).as("pos_dist"),
          round(cosine_distance(col("v"), col("nv")), 6).as("neg_dist"))
        .withColumn("margin",
          round(col("neg_dist") - col("pos_dist"), 6))
        .orderBy("vec_id")
    },

    // kNN CLASSIFIER EVAL (pseudo-labeling audit) — hold out a
    // deterministic hash-half, predict each held-out vector's label
    // as the 5-NN majority vote among the LABELED half, and report
    // per-class accuracy: the "can I trust nearest-neighbor
    // pseudo-labels" readout a semi-supervised curation pipeline
    // runs before propagating labels onto unlabeled data
    // (q_confusion_metrics grades a PARAMETRIC classifier the same
    // way; q_retrieval_eval grades the ranking — this grades the
    // label-propagation operator itself). Scale: the pairwise stage
    // is SimilarityStages.knnCandidates (block-chunked exact by
    // default, `spark.graft.knn.mode=ann` = the IVF cell-join route,
    // set-equal at the test sfs per ScalePathSpec), the bipartite
    // labeled/held-out restriction is two co-partitioned flag joins
    // on the pair frame, top-5 is an anchor-partitioned window, and
    // the vote + accuracy folds are ≤|classes|-sized per anchor.
    // Determinism: distances round 6dp, neighbor rank breaks ties on
    // vec_id, the vote breaks ties on (votes DESC, label ASC), and
    // accuracy is one division of exact integers.
    Q("q_knn_classifier",
      s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) v,
         |    CASE WHEN ${TextKit.h28Duck("'knncls#' || vec_id")} % 2 = 0
         |         THEN 1 ELSE 0 END AS lab FROM embeddings),
         |p AS (SELECT a.vec_id AS aid, a.label AS albl,
         |    b.vec_id AS bid, b.label AS blbl,
         |    round(1 - list_cosine_similarity(a.v, b.v), 6) AS dist
         |  FROM e a JOIN e b ON a.lab = 0 AND b.lab = 1),
         |r AS (SELECT aid, albl, blbl, bid, dist, row_number() OVER (
         |    PARTITION BY aid ORDER BY dist, bid) AS rn FROM p),
         |v AS (SELECT aid, albl, blbl, count(*) AS votes
         |  FROM r WHERE rn <= 5 GROUP BY 1, 2, 3),
         |pr AS (SELECT aid, albl, blbl AS pred, row_number() OVER (
         |    PARTITION BY aid ORDER BY votes DESC, blbl) AS vr FROM v)
         |SELECT albl AS label, CAST(count(*) AS BIGINT) AS n_eval,
         |  CAST(sum(CASE WHEN pred = albl THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_correct,
         |  round(sum(CASE WHEN pred = albl THEN 1 ELSE 0 END)
         |    / CAST(count(*) AS DOUBLE), 6) AS acc
         |FROM pr WHERE vr = 1 GROUP BY 1 ORDER BY 1""".stripMargin) {
      (s, d) =>
      val e0 = Tables.embeddings(s, d)
        .select(col("vec_id"), col("label"),
          col("embedding").cast("array<double>").as("v"),
          (expr(TextKit.h28("concat('knncls#', CAST(vec_id AS STRING))"))
            % 2 === 0).as("lab"))
        .localCheckpoint(eager = false)
      val flags = e0.select("vec_id", "label", "lab")
      // Round-17 (verdict #6): the bipartite restriction is pushed
      // INTO the candidate stage (kernel runs on eval×train pairs
      // only — the old plan scored every same-cell pair and
      // post-filtered 3/4 away), and the two label attachments are
      // BROADCAST (the flag frame is vector-count-sized; the old
      // un-hinted joins sort-merge-exchanged the pair stream TWICE —
      // the measured dominant cost of the 103 s cell).
      val p = SimilarityStages
        .knnCandidatesBipartite(e0.select("vec_id", "v", "lab"),
          metric = "cosine")
      val ab = p
        .join(broadcast(flags.select(col("vec_id").as("a"),
          col("label").as("albl"))), "a")
        .join(broadcast(flags.select(col("vec_id").as("b"),
          col("label").as("blbl"))), "b")
      // Round-16 A/B note: the q_mutual_knn heap-fold reduction was
      // tried here too (vote label riding the aggregator's third
      // slot) and measured NO win at 100× (116-122 s vs the 103.3 s
      // sweep cell, spread 1.02) — in this plan the eval×train
      // scoring joins dominate, not the row_number sort, and the
      // ObjectHashAggregate tuple buffers cost more than the
      // window's in-partition sort. Kept the window form.
      val w = Window.partitionBy("a").orderBy(col("dist"), col("b"))
      val votes = ab.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .groupBy(col("a"), col("albl"), col("blbl"))
        .agg(count(lit(1)).as("votes"))
      val pred = votes.withColumn("vr",
          row_number().over(Window.partitionBy("a")
            .orderBy(col("votes").desc, col("blbl"))))
        .filter(col("vr") === 1)
      pred.groupBy(col("albl").as("label"))
        .agg(count(lit(1)).cast("long").as("n_eval"),
          sum(when(col("blbl") === col("albl"), 1L).otherwise(0L))
            .cast("long").as("n_correct"))
        .selectExpr("label", "n_eval", "n_correct",
          "round(n_correct / CAST(n_eval AS DOUBLE), 6) AS acc")
        .orderBy("label")
    },
  )
}

object VectorOracles {
  /** Chained-CTE oracle for the fixed MMR rounds: cand/sims pin as
    * MATERIALIZED (every round references both — default inlining
    * would re-expand the 20×20 sim build per round); each round's
    * pick and selected-set CTEs chain exactly like the Spark loop,
    * with the same λ arithmetic and (mmr DESC, vec_id) tie-break. */
  def mmrSql(rounds: Int): String = {
    val steps = (1 to rounds).map { r =>
      val mmr = (red: String) =>
        s"round(CAST(0.7 AS DOUBLE) * c.rel - CAST(0.3 AS DOUBLE) * $red, 9)"
      val pick =
        if (r == 1)
          s"""p1 AS MATERIALIZED (SELECT c.vec_id, c.rel,
             |    CAST(0.0 AS DOUBLE) AS redund,
             |    ${mmr("CAST(0.0 AS DOUBLE)")} AS mmr
             |  FROM cand c ORDER BY mmr DESC, c.vec_id LIMIT 1)"""
            .stripMargin
        else
          s"""p$r AS MATERIALIZED (SELECT c.vec_id, c.rel,
             |    coalesce(mx.redund, CAST(0.0 AS DOUBLE)) AS redund,
             |    ${mmr(s"coalesce(mx.redund, CAST(0.0 AS DOUBLE))")} AS mmr
             |  FROM cand c LEFT JOIN (SELECT i, max(sim) AS redund
             |    FROM sims WHERE j IN (SELECT vec_id FROM sel${r - 1})
             |    GROUP BY i) mx ON mx.i = c.vec_id
             |  WHERE c.vec_id NOT IN (SELECT vec_id FROM sel${r - 1})
             |  ORDER BY mmr DESC, c.vec_id LIMIT 1)""".stripMargin
      val sel =
        if (r == 1) "sel1 AS MATERIALIZED (SELECT vec_id FROM p1)"
        else
          s"""sel$r AS MATERIALIZED (SELECT vec_id FROM sel${r - 1}
             |  UNION SELECT vec_id FROM p$r)""".stripMargin
      s"$pick,\n$sel"
    }.mkString(",\n")
    val rows = (1 to rounds).map { r =>
      s"""SELECT CAST($r AS BIGINT) AS rank, vec_id, rel AS relevance,
         |  round(redund, 6) AS redundancy, mmr AS mmr_score
         |FROM p$r""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v
       |           FROM embeddings),
       |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
       |cand AS MATERIALIZED (SELECT vec_id, v,
       |    round(1 - round(1 - list_cosine_similarity(v, qv), 6), 6)
       |      AS rel
       |  FROM e CROSS JOIN q WHERE vec_id <> 0
       |  ORDER BY (1 - rel), vec_id LIMIT 20),
       |sims AS MATERIALIZED (SELECT a.vec_id AS i, b.vec_id AS j,
       |    round(1 - round(1 - list_cosine_similarity(a.v, b.v), 6), 6)
       |      AS sim
       |  FROM cand a JOIN cand b ON a.vec_id <> b.vec_id),
       |$steps
       |SELECT rank, vec_id, relevance, redundancy, mmr_score
       |FROM ($rows) u ORDER BY rank""".stripMargin
  }
}
