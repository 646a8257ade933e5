package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables
import graft.functions.{CellMetric, Codebook}
import graft.functions.GraftFunctions.{cosine_distance, nearest_cells, sq_l2_distance}
import TextKit.toksDuck

/** SEMANTIC (clustered) embedding dedup — the SemDeDup recipe
  * (Abbas et al. 2023): k-means the embedding space, then look for
  * near-duplicates ONLY within a cluster. Clustering bounds the pair
  * volume at Σ|cluster|²/2 ≈ n²/k for balanced clusters — choose
  * k ∝ n (fixed target cluster size) and the quadratic stage stays a
  * constant factor per cluster while everything else is linear scans
  * and broadcast argmins. This is the scale path that complements
  * the engine's exact stance elsewhere: q_dedup_embed /
  * q_similarity_join stay exact-by-declaration (block-chunked),
  * q_knn_ivf prunes the SEARCH regime, and this operator prunes the
  * DEDUP regime the way production corpus pipelines actually do —
  * accepting that cross-cluster pairs are unseen (recall vs the
  * exact join is measured in SemanticSpec, not hand-waved).
  *
  * Determinism across engines (the oracle replays the SAME
  * algorithm): seeds are the k vectors with the smallest md5-derived
  * id hash (hash-ranked, not rand()); every Lloyd assignment is the
  * nearest centroid by (round(dist, 6), cid) — the engine's one
  * quantizer, [[graft.functions.Codebook]]. The oracle states that
  * order as the key round(dist, 6) + cid·ε with ε = 1e-6/(2k): the
  * tie-break SCALES with k, so the whole cid term stays < 0.5·1e-6
  * (strictly inside the rounded-distance grain) at ANY k in the
  * derived range, and distinct cids stay ≥ ε ≈ 5e-12 apart at the
  * clamp — far above ulp(2.0) ≈ 4.4e-16, so no two keys can collapse
  * to the same double and the key orders exactly as (round, cid); every
  * centroid mean is an exact DECIMAL(38,12) sum over doubles divided
  * by the count, rounded to 6 — associative, so partition order
  * can't move it (the q_vector_centroid recipe).
  *
  * k IS SCALE-REAL: `spark.graft.semdedup.k` if set, else
  * min(100000, max(16, ceil(n / 512))) — k ∝ n with a ~512-vector
  * target cluster, so the within-cluster pair stage stays a constant
  * factor per cluster as the corpus grows. The 1e5 clamp is the
  * dominance invariant's guardrail (above it ε would approach the
  * double grain of distances near 2.0); past ~51M vectors a
  * deployment sets the conf explicitly — and accepts the documented
  * tie-break contract. The oracle twin derives the SAME clamped k
  * with a scalar subquery over the table, so engine and oracle agree
  * at every sf without re-templating the SQL. Seed ranking is a
  * TakeOrderedAndProject top-k (per-partition heaps merged on the
  * driver — k rows of state per task, no partition-less window, no
  * sample needed; [[withTopKClearance]] raises
  * spark.sql.execution.topKSortFallbackThreshold above k around the
  * seed plan+collect ONLY — saved and restored, so the session's
  * plan shapes for unrelated queries are untouched — and the heap
  * plan survives derived k past the 10000 default). The
  * per-iteration shape is unchanged at 100 TB: broadcast k
  * centroids, scan-local argmin, one (cid, pos)-keyed partial+final
  * aggregation.
  *
  * Reference analog: the store's embedding column is the input
  * (photo_vector_search.py:128-140 keeps one CLIP vector per photo);
  * dedup over it is the capability extension SURVEY §2B declares.
  */
object Semantic {

  private val MinK = 16
  private val MaxK = 100000
  private val TargetClusterSize = 512
  private val Tau = 0.4

  val qs: Seq[Q] = Seq(

    Q("q_semdedup",
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |kk AS (SELECT LEAST(100000, GREATEST(16, CAST(ceil(count(*) / 512.0) AS INT))) AS k FROM e),
        |seeds AS (SELECT CAST(row_number() OVER (
        |      ORDER BY ('0x'||substr(md5(CAST(vec_id AS VARCHAR)),1,7))::BIGINT, vec_id) - 1
        |    AS INT) AS cid, v AS c
        |  FROM e QUALIFY row_number() OVER (
        |      ORDER BY ('0x'||substr(md5(CAST(vec_id AS VARCHAR)),1,7))::BIGINT, vec_id)
        |    <= (SELECT k FROM kk)),
        |a0 AS (SELECT e.vec_id,
        |    arg_min(s.cid, round(1 - list_cosine_similarity(e.v, s.c), 6) + s.cid * (1e-6 / (2 * (SELECT k FROM kk)))) AS cid
        |  FROM e, seeds s GROUP BY e.vec_id),
        |c1m AS (SELECT a0.cid, t.i,
        |    round(CAST(sum(CAST(e.v[CAST(t.i AS INT)] AS DECIMAL(38,12))) AS DOUBLE) / count(*), 6) AS m
        |  FROM a0 JOIN e USING (vec_id), UNNEST(generate_series(1, len(e.v))) AS t(i)
        |  GROUP BY a0.cid, t.i),
        |c1 AS (SELECT cid, list(m ORDER BY i) AS c FROM c1m GROUP BY cid),
        |a1 AS (SELECT e.vec_id,
        |    arg_min(s.cid, round(1 - list_cosine_similarity(e.v, s.c), 6) + s.cid * (1e-6 / (2 * (SELECT k FROM kk)))) AS cid
        |  FROM e, c1 s GROUP BY e.vec_id),
        |c2m AS (SELECT a1.cid, t.i,
        |    round(CAST(sum(CAST(e.v[CAST(t.i AS INT)] AS DECIMAL(38,12))) AS DOUBLE) / count(*), 6) AS m
        |  FROM a1 JOIN e USING (vec_id), UNNEST(generate_series(1, len(e.v))) AS t(i)
        |  GROUP BY a1.cid, t.i),
        |c2 AS (SELECT cid, list(m ORDER BY i) AS c FROM c2m GROUP BY cid),
        |a2 AS (SELECT e.vec_id,
        |    arg_min(s.cid, round(1 - list_cosine_similarity(e.v, s.c), 6) + s.cid * (1e-6 / (2 * (SELECT k FROM kk)))) AS cid
        |  FROM e, c2 s GROUP BY e.vec_id),
        |m AS (SELECT a2.vec_id, a2.cid, e.v FROM a2 JOIN e USING (vec_id)),
        |dup AS (SELECT DISTINCT b.vec_id FROM m a JOIN m b
        |  ON a.cid = b.cid AND a.vec_id < b.vec_id
        |  WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.4)
        |SELECT m.vec_id, m.cid AS cluster,
        |  CASE WHEN dup.vec_id IS NOT NULL THEN 1 ELSE 0 END AS is_dup
        |FROM m LEFT JOIN dup ON m.vec_id = dup.vec_id
        |ORDER BY m.vec_id""".stripMargin) { (s, d) =>
      val e = fanout(Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v")))
        .localCheckpoint()
      // k ∝ n unless pinned by conf — same clamped derivation as the
      // oracle's `kk` CTE (the count rides the localCheckpoint
      // materialization, so it isn't an extra table scan). MaxK keeps
      // ε = 1e-6/(2k) far above the double grain (scaladoc above).
      val k = s.conf.getOption("spark.graft.semdedup.k")
        .map(boundedLong("spark.graft.semdedup.k", _, 1, Int.MaxValue).toInt)
        .getOrElse(math.min(MaxK, math.max(MinK,
          math.ceil(e.count() / TargetClusterSize.toDouble).toInt)))
      // MLlib-style iteration: the k centroids round-trip through the
      // driver each round (k × dim doubles — the same tiny-frame
      // driver read the IVF codebook uses), so an ASSIGNMENT is a
      // scan-local literal-argmin projection, never a join or a
      // groupBy(vec_id) shuffle. Per round the cluster pays exactly
      // one (cid, pos)-keyed aggregation job over n·dim rows.
      val cents2 = (1 to 2).foldLeft(seedCentroids(e, k)) { (cents, _) =>
        lloydCentroids(e.withColumn("cid", assignExpr(cents)))
      }
      val m = e.withColumn("cid", assignExpr(cents2))
      val dup = m.as("a")
        .join(m.as("b"),
          col("a.cid") === col("b.cid") && col("a.vec_id") < col("b.vec_id"))
        .filter(round(lit(1.0) - cosine_distance(col("a.v"), col("b.v")), 6) >= Tau)
        .select(col("b.vec_id")).distinct()
        .withColumn("is_dup", lit(1))
      m.join(dup, Seq("vec_id"), "left")
        .select(col("vec_id"), col("cid").as("cluster"),
          coalesce(col("is_dup"), lit(0)).as("is_dup"))
        .orderBy("vec_id")
    },

    // EMBEDDING-SPACE OUTLIERS — vectors whose L2 distance to their
    // own label's centroid exceeds mean + 2σ of that label's
    // distance distribution: the curation pass that surfaces
    // mislabeled / corrupt / out-of-domain embeddings before they
    // poison a training mixture (the complement of SemDeDup — that
    // finds points too CLOSE together, this finds points too FAR
    // from their class). Scale: the centroid frame is
    // label×dim-sized (partial-aggregated posexplode, the
    // q_vector_centroid discipline) and BROADCASTS back onto the
    // scan; the distance fold is scan-local left-to-right over the
    // element order (bit-identical to list_reduce); the per-label
    // moment frame is label-sized and broadcasts too. Distances are
    // rounded to 6dp before the DECIMAL moment sums, so the flag
    // boundary agrees across engines at any accumulation order.
    Q("q_embed_outlier",
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
        |           FROM embeddings),
        |c0 AS (SELECT label, t.i AS pos,
        |    round(CAST(sum(CAST(v[t.i + 1] AS DECIMAL(38,12))) AS DOUBLE)
        |          / count(*), 6) AS c
        |  FROM e, UNNEST(generate_series(0, len(v) - 1)) AS t(i)
        |  GROUP BY label, t.i),
        |cv AS (SELECT label, list(c ORDER BY pos) AS cv FROM c0
        |       GROUP BY label),
        |d AS (SELECT vec_id, e.label,
        |    round(sqrt(list_reduce([pow(v[i] - cv[i], 2)
        |      for i in range(1, len(v) + 1)], (a, b) -> a + b)), 6) AS dist
        |  FROM e JOIN cv USING (label)),
        |st AS (SELECT label, count(*) AS n,
        |    CAST(sum(CAST(dist AS DECIMAL(38,6))) AS DOUBLE) AS s1,
        |    CAST(sum(CAST(round(dist * dist, 10) AS DECIMAL(38,10)))
        |         AS DOUBLE) AS s2
        |  FROM d GROUP BY label),
        |st2 AS (SELECT label, s1 / n AS mean,
        |    sqrt(greatest(s2 / n - (s1 / n) * (s1 / n), 0)) AS sd FROM st)
        |SELECT vec_id, d.label, dist,
        |  CASE WHEN sd > 0 THEN round((dist - mean) / sd, 6) END AS z
        |FROM d JOIN st2 USING (label)
        |WHERE dist > mean + 2 * sd
        |ORDER BY label, vec_id""".stripMargin) { (s, dir) =>
      val e = Tables.embeddings(s, dir)
        .select(col("vec_id"), col("label"),
          col("embedding").cast("array<double>").as("v"))
      val cv = e
        .select(col("label"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy("label", "pos")
        .agg(round(sum(col("x").cast("decimal(38,12)")).cast("double")
          / count(lit(1)), 6).as("c"))
        .groupBy("label")
        .agg(expr("transform(array_sort(collect_list(struct(pos, c))), t -> t.c)")
          .as("cv"))
      val d = e.join(broadcast(cv), "label")
        .select(col("vec_id"), col("label"),
          round(sqrt(expr(
            """aggregate(zip_with(v, cv, (x, c) -> pow(x - c, 2)),
              |CAST(0.0 AS DOUBLE), (a, t) -> a + t)""".stripMargin)), 6)
            .as("dist"))
      val st = d.groupBy("label").agg(count(lit(1)).as("n"),
        sum(col("dist").cast("decimal(38,6)")).cast("double").as("s1"),
        sum(round(col("dist") * col("dist"), 10).cast("decimal(38,10)"))
          .cast("double").as("s2"))
      val st2 = st.select(col("label"), (col("s1") / col("n")).as("mean"),
        sqrt(greatest(col("s2") / col("n") -
          (col("s1") / col("n")) * (col("s1") / col("n")), lit(0.0))).as("sd"))
      d.join(broadcast(st2), "label")
        .filter(col("dist") > col("mean") + lit(2.0) * col("sd"))
        .select(col("vec_id"), col("label"), col("dist"),
          when(col("sd") > 0,
            round((col("dist") - col("mean")) / col("sd"), 6)).as("z"))
        .orderBy("label", "vec_id")
    },

    // SPARSE TF-IDF ALL-PAIRS SIMILARITY — document pairs with
    // cosine ≥ 0.25 over df-screened tf-idf vectors: the SPARSE
    // (lexical) sibling of q_similarity_join's dense-embedding join
    // and the weighted generalization of q_dedup_near's Jaccard
    // PPJoin. Terms appearing in >10% of documents are dropped
    // BEFORE any pairing (the stopword screen: without it the
    // posting list of "the" alone generates O(N²) candidates);
    // candidates then come from the INVERTED-INDEX equi-join on the
    // surviving term key — never an all-pairs join — and at corpus
    // scale the q_dedup_near prefix filter applies unchanged to
    // these weighted postings. Determinism: w = tf·idf on exact
    // count ratios rounded to 9dp; every pairwise product and
    // squared norm rounds before its DECIMAL sum; the final cosine
    // is one shared double expression.
    Q("q_tfidf_pairs",
      s"""WITH tok AS (SELECT doc_id, unnest($toksDuck) AS t FROM documents),
         |tf AS (SELECT doc_id, t, count(*) AS c FROM tok GROUP BY doc_id, t),
         |dl AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS len FROM tf
         |       GROUP BY doc_id),
         |df AS (SELECT t, count(*) AS df FROM tf GROUP BY t),
         |nd AS (SELECT count(*) AS nn FROM documents),
         |w AS (SELECT tf.doc_id, tf.t,
         |    round((CAST(c AS DOUBLE) / len) *
         |          ln(CAST(nn AS DOUBLE) / df), 9) AS w
         |  FROM tf JOIN dl USING (doc_id) JOIN df USING (t)
         |  CROSS JOIN nd WHERE df * 10 <= nn),
         |nrm AS (SELECT doc_id,
         |    CAST(sum(CAST(round(w * w, 12) AS DECIMAL(38,12)))
         |         AS DOUBLE) AS n2
         |  FROM w GROUP BY doc_id),
         |dot AS (SELECT a.doc_id AS d1, b.doc_id AS d2,
         |    count(*) AS n_shared,
         |    CAST(sum(CAST(round(a.w * b.w, 12) AS DECIMAL(38,12)))
         |         AS DOUBLE) AS dp
         |  FROM w a JOIN w b ON a.t = b.t AND a.doc_id < b.doc_id
         |  GROUP BY a.doc_id, b.doc_id)
         |SELECT d1, d2, n_shared,
         |  round(dp / (sqrt(na.n2) * sqrt(nb.n2)), 6) AS cos
         |FROM dot JOIN nrm na ON na.doc_id = d1
         |JOIN nrm nb ON nb.doc_id = d2
         |WHERE round(dp / (sqrt(na.n2) * sqrt(nb.n2)), 6) >= 0.25
         |ORDER BY d1, d2""".stripMargin) { (s, d) =>
      // SCALE ROUTE (round-11 verdict #3, default-routed round 14):
      // the τ-threshold contract — EVERY pair with cosine ≥ 0.25 —
      // is output-quadratic in near-dup clique size (sf1.0
      // self-check: the true answer is 115 M rows from 5000-member
      // replica cliques). The plan has no all-pairs stage, but no
      // plan can beat its own output size, so the doc-count gate
      // ([[tfidfPairsAtScale]]) routes: exact τ-pair form below
      // `spark.graft.tfidf.pairsWarnDocs` docs (every oracled sf —
      // the gate count is an exact parquet-footer count,
      // deterministic), the bounded q_tfidf_topk plan (n·k rows at
      // ANY clique structure) at or past it. ScalePathSpec pins the
      // gate ≡ exact below it and ≡ q_tfidf_topk past it.
      if (tfidfPairsAtScale(s, d)) {
        // Routed form keeps the DECLARED schema (d1, d2, n_shared,
        // cos) — round-14 advice: a data-dependent schema switch
        // breaks consumers keyed on the contract. Row semantics of
        // the route: the τ-pair set restricted to top-5
        // neighborhoods (a bounded subset, documented above).
        tfidfTopkPairs(s, d)
      } else {
        val (w, nrm) = tfidfFrames(s, d)
        val dot = w.as("a").join(w.as("b"),
          col("a.t") === col("b.t") && col("a.doc_id") < col("b.doc_id"))
          .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
          .agg(count(lit(1)).as("n_shared"),
            sum(round(col("a.w") * col("b.w"), 12).cast(DecimalType(38, 12)))
              .cast("double").as("dp"))
        val cosExpr =
          round(col("dp") / (sqrt(col("na.n2")) * sqrt(col("nb.n2"))), 6)
        dot.join(nrm.as("na"), col("na.doc_id") === col("d1"))
          .join(nrm.as("nb"), col("nb.doc_id") === col("d2"))
          .filter(cosExpr >= 0.25)
          .select(col("d1"), col("d2"), col("n_shared"), cosExpr.as("cos"))
          .orderBy("d1", "d2")
      }
    },

    // TF-IDF TOP-K NEIGHBORS — the BOUNDED-OUTPUT posture of
    // q_tfidf_pairs: per document, its k=5 most-cosine-similar
    // documents instead of EVERY pair above τ. The full τ-threshold
    // pair set is inherently quadratic in near-dup clique size
    // (round-11 sf1.0 self-check: the true q_tfidf_pairs answer is
    // 115 M rows — the fixture's 5000-doc replica cliques), so a
    // 100 TB pipeline asking "what is each doc similar to" runs THIS
    // form: output is exactly n·k rows at ANY clique structure.
    // Same sparse machinery — df-screened tf-idf postings,
    // inverted-index candidate equi-join (never all-pairs) — then a
    // per-doc top-k window over the CANDIDATE pairs (each doc's
    // candidate list is its posting-overlap neighborhood, bounded by
    // the df screen, so the window partition is candidate-sized, not
    // corpus-sized). Determinism: ranks order by the 6dp-rounded
    // cosine then doc id — total order both engines.
    Q("q_tfidf_topk",
      s"""WITH tok AS (SELECT doc_id, unnest($toksDuck) AS t FROM documents),
         |tf AS (SELECT doc_id, t, count(*) AS c FROM tok GROUP BY doc_id, t),
         |dl AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS len FROM tf
         |       GROUP BY doc_id),
         |df AS (SELECT t, count(*) AS df FROM tf GROUP BY t),
         |nd AS (SELECT count(*) AS nn FROM documents),
         |w AS (SELECT tf.doc_id, tf.t,
         |    round((CAST(c AS DOUBLE) / len) *
         |          ln(CAST(nn AS DOUBLE) / df), 9) AS w
         |  FROM tf JOIN dl USING (doc_id) JOIN df USING (t)
         |  CROSS JOIN nd WHERE df * 10 <= nn),
         |nrm AS (SELECT doc_id,
         |    CAST(sum(CAST(round(w * w, 12) AS DECIMAL(38,12)))
         |         AS DOUBLE) AS n2
         |  FROM w GROUP BY doc_id),
         |dot AS (SELECT a.doc_id AS d1, b.doc_id AS d2,
         |    CAST(sum(CAST(round(a.w * b.w, 12) AS DECIMAL(38,12)))
         |         AS DOUBLE) AS dp
         |  FROM w a JOIN w b ON a.t = b.t AND a.doc_id <> b.doc_id
         |  GROUP BY a.doc_id, b.doc_id),
         |sc AS (SELECT d1, d2,
         |    round(dp / (sqrt(na.n2) * sqrt(nb.n2)), 6) AS cos
         |  FROM dot JOIN nrm na ON na.doc_id = d1
         |  JOIN nrm nb ON nb.doc_id = d2),
         |r AS (SELECT d1, d2, cos, row_number() OVER (
         |    PARTITION BY d1 ORDER BY cos DESC, d2) AS rk FROM sc)
         |SELECT d1, d2, cos, CAST(rk AS BIGINT) AS rk FROM r
         |WHERE rk <= 5 ORDER BY d1, rk""".stripMargin) { (s, d) =>
      tfidfTopk(s, d)
    },

    // DISTRIBUTED PCA (top principal axis) — 3 power iterations of
    // the covariance operator over the mean-centered embedding
    // cloud, without ever materializing a covariance matrix: each
    // iteration is (a) scan-local dot s_i = x_i·v_t, (b) ONE
    // dim-keyed partial-aggregated sum c = Σ x_i·s_i, (c) a
    // dim-sized normalize — so per-iteration cluster cost is one
    // scan plus a 64-group shuffle, at ANY row count (the covariance
    // matrix approach is dim²-sized state; this is dim-sized). The
    // principal axis is the embedding-drift/whitening primitive a
    // curation pipeline runs corpus-wide. Result is DEFINED as "3
    // iterations from the e₀ basis vector" (fixed unroll, like
    // q_pagerank — convergence-to-tolerance would put a driver
    // condition on a distributed reduce); sign follows the start
    // vector. Determinism: centered coords, dots, and loadings round
    // at fixed scales before every DECIMAL accumulation.
    Q("q_vector_pca", pcaSql(3)) { (s, dir) =>
      val e = Tables.embeddings(s, dir)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val m = e.select(posexplode(col("v")).as(Seq("pos", "xv")))
        .groupBy("pos")
        .agg(round(sum(col("xv").cast(DecimalType(38, 12))).cast("double")
          / count(lit(1)), 6).as("mu"))
      // The 1-row mean frame is checkpointed so the centering pass
      // and the start-vector derivation share ONE scan+aggregation
      // of the cloud instead of re-running it per consumer.
      val mv = m.agg(expr(
        "transform(array_sort(collect_list(struct(pos, mu))), t -> t.mu)")
        .as("m"))
        .localCheckpoint()
      val xc = e.crossJoin(broadcast(mv))
        .select(col("vec_id"),
          expr("zip_with(v, m, (a, b) -> round(a - b, 6))").as("x"))
        .localCheckpoint()
      var vv = mv.select(expr(
        """transform(m, (x, i) -> CASE WHEN i = 0 THEN CAST(1.0 AS DOUBLE)
          |ELSE CAST(0.0 AS DOUBLE) END)""".stripMargin).as("vv"))
      for (_ <- 1 to 3) {
        val sc = xc.crossJoin(broadcast(vv))
          .select(col("x"), round(expr(
            """aggregate(zip_with(x, vv, (a, b) -> a * b),
              |CAST(0.0 AS DOUBLE), (a, t) -> a + t)""".stripMargin), 6)
            .as("sc"))
        val c = sc.select(col("sc"), posexplode(col("x")).as(Seq("pos", "xe")))
          .groupBy("pos")
          .agg(sum(round(col("xe") * col("sc"), 9).cast(DecimalType(38, 9)))
            .cast("double").as("c"))
        val nrm = c.agg(sqrt(
          sum(round(col("c") * col("c"), 9).cast(DecimalType(38, 9)))
            .cast("double")).as("nrm"))
        vv = c.crossJoin(broadcast(nrm))
          .agg(expr(
            """transform(array_sort(collect_list(
              |struct(pos, round(c / nrm, 6) AS l))), t -> t.l)"""
              .stripMargin).as("vv"))
          .localCheckpoint()
      }
      vv.select(posexplode(col("vv")).as(Seq("pos", "loading")))
        .select(col("pos").cast("long").as("pos"), col("loading"))
        .orderBy("pos")
    },

    // RANDOM PROJECTION — Johnson-Lindenstrauss sketch: every
    // embedding → 16 dims via a ±1 sign matrix (Achlioptas 2001's
    // database-friendly JL: signs, not gaussians), the cheap
    // front-end that makes downstream LSH/dedup/clustering pay
    // 16-wide instead of 64-wide per comparison while preserving
    // pairwise distances to within JL tolerance. The sign matrix is
    // HASH-DERIVED (md5 of 'rp#j/d' — the salted-hash discipline:
    // reproducible across engines, runs, and retries; never rand()),
    // materialized driver-side as 16 literal arrays into the plan,
    // so the projection is 16 scan-local zip_with/aggregate folds —
    // per-term round(x,6)·s is exact at 6dp and the fold accumulates
    // in DECIMAL (dsum discipline), so the sum is associative and
    // partition-order-free. Scale: ZERO data exchanges beyond the
    // fanout gate — at 100 TB the multi-file scan parallelizes
    // itself, fanout() is a no-op, and the projection rides the
    // corpus scan; on the single-file fixture the gate spreads the
    // 16×64 interpreted folds across cores (the oracle restates the
    // fold as an unnest + sign-table join, same arithmetic).
    Q("q_random_projection",
      """WITH s AS (SELECT j, d,
        |    (('0x' || substr(md5('rp#' || j || '/' || d), 1, 7))::BIGINT
        |      % 2) * 2 - 1 AS sgn
        |  FROM UNNEST(generate_series(0, 15)) AS tj(j),
        |       UNNEST(generate_series(0, 63)) AS td(d)),
        |e AS (SELECT vec_id, t.i AS d,
        |    round(CAST(embedding[t.i + 1] AS DOUBLE), 6) AS x
        |  FROM embeddings,
        |       UNNEST(generate_series(0, len(embedding) - 1)) AS t(i))
        |SELECT e.vec_id, CAST(s.j AS INT) AS j,
        |  round(CAST(sum(CAST(x * sgn AS DECIMAL(38,6))) AS DOUBLE), 6)
        |    AS proj
        |FROM e JOIN s USING (d)
        |GROUP BY e.vec_id, s.j
        |ORDER BY vec_id, j""".stripMargin) { (s, dir) =>
      val projs = (0 until 16).map { j =>
        val signs = (0 until 64).map { dd =>
          val hex = java.security.MessageDigest.getInstance("MD5")
            .digest(s"rp#$j/$dd".getBytes("UTF-8"))
            .map("%02x".format(_)).mkString
          (java.lang.Long.parseLong(hex.take(7), 16) % 2) * 2 - 1
        }
        expr(
          s"""round(CAST(aggregate(
             |  zip_with(CAST(embedding AS ARRAY<DOUBLE>),
             |    array(${signs.mkString(", ")}),
             |    (x, s) -> CAST(round(x, 6) * s AS DECIMAL(38,6))),
             |  CAST(0 AS DECIMAL(38,6)), (a, v) -> a + v)
             |AS DOUBLE), 6)""".stripMargin)
      }
      fanout(Tables.embeddings(s, dir))
        .select(col("vec_id"), posexplode(array(projs: _*))
          .as(Seq("j", "proj")))
        .orderBy("vec_id", "j")
    },

    // K-MEANS AS A FIRST-CLASS OPERATOR — 2 unrolled Lloyd
    // iterations over the embedding cloud (k=8, seeds = the k
    // smallest vec_ids), reporting per-cluster size and inertia
    // (SSE): the corpus-structure readout (how many modes, how
    // tight) that q_semdedup consumes internally but never exposes
    // — and unlike q_semdedup's seed helper, this plan has ZERO
    // driver-side collect: centroids live as an 8-row frame that
    // re-BROADCASTS into each assignment pass. Scale per iteration:
    // one scan × broadcast centroids (×k fan-out is the Lloyd cost),
    // argmin = k-row-per-vector window, recompute = ONE
    // partial-aggregated (cid, dim) groupBy (k·dim cells at ANY row
    // count) folded back to k arrays. Fixed unroll, like
    // q_vector_pca — convergence-to-tolerance would put a driver
    // condition on a distributed reduce. Determinism: the per-row
    // distance fold is SEQUENTIAL in both engines (same IEEE op
    // order — no distributed accumulation), rounded 6dp before the
    // argmin (ties break on cid); centroid means use the
    // q_vector_centroid DECIMAL(38,12) discipline, rounded 6dp, so
    // iteration 2 starts from identical doubles in both engines;
    // SSE folds the rounded distances through DECIMAL(38,6).
    Q("q_kmeans", kmeansSql(2, 8)) { (s, dir) =>
      kmeansRanked(s, dir)
        .filter(col("rn") === 1)
        .groupBy("cid")
        .agg(count(lit(1)).as("n"),
          sum(col("d2").cast(DecimalType(38, 6))).cast("double").as("sse"))
        .selectExpr("cid", "n", "round(sse, 6) AS sse")
        .orderBy("cid")
    },

    // LOCAL OUTLIER FACTOR — density-relative outlier scores over
    // the embedding cloud (Breunig et al. 2000, k=5): LOF(a) =
    // mean over a's neighbors b of lrd(b)/lrd(a), where lrd is the
    // inverse mean REACHABILITY distance (reach(a,b) =
    // max(d(a,b), kdist(b)) — the smoothing that makes LOF robust
    // where a raw distance z-score is not). The DENSITY-aware
    // complement to q_embed_outlier's global-centroid z-score and
    // q_anomaly_mad's univariate screen: a point can sit near the
    // global centroid yet be locally anomalous. Scale: the kNN
    // pair stage is SimilarityStages.knnCandidates — block-chunked
    // exact below the size gate (no broadcast hint), IVF multi-probe
    // L2 candidates + exact verify past
    // `spark.graft.ann.autoThresholdBytes`, set-equal at the test sfs
    // (ScalePathSpec); everything after
    // the kNN edge frame is n·k-sized: the kdist fold, the
    // reachability join (co-partitioned on the neighbor key), the
    // lrd fold, and the ratio fold are all partial-aggregated or
    // key-joined on vector ids — never pairwise again. Determinism:
    // distances round 6dp with (d2, id) tie-broken top-k; lrd =
    // round(k/Σreach, 9) on a DECIMAL sum; the final mean runs in
    // NANO-integer space ((2S+5) DIV 10, positive operands).
    Q("q_lof",
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |           FROM embeddings),
        |d AS (SELECT a.vec_id AS a, b.vec_id AS b,
        |    round(list_sum([(a.v[i]-b.v[i])*(a.v[i]-b.v[i])
        |                    for i in range(1, len(a.v)+1)]), 6) AS d2
        |  FROM e a JOIN e b ON a.vec_id <> b.vec_id),
        |r AS (SELECT *, row_number() OVER (PARTITION BY a
        |      ORDER BY d2, b) AS rn FROM d),
        |knn AS (SELECT a, b, d2 FROM r WHERE rn <= 5),
        |kd AS (SELECT a AS p, max(d2) AS kdist FROM knn GROUP BY a),
        |reach AS (SELECT knn.a, knn.b, greatest(knn.d2, kd.kdist) AS rd
        |          FROM knn JOIN kd ON kd.p = knn.b),
        |lrd AS (SELECT a, round(5.0 / CAST(sum(CAST(rd AS DECIMAL(38,6)))
        |      AS DOUBLE), 9) AS lrd FROM reach GROUP BY a),
        |lf AS (SELECT knn.a,
        |    CAST(sum(CAST(round(lb.lrd / la.lrd, 9) AS DECIMAL(38,9))
        |         * 1000000000) AS BIGINT) AS s_nano
        |  FROM knn JOIN lrd la ON la.a = knn.a
        |  JOIN lrd lb ON lb.a = knn.b GROUP BY knn.a)
        |SELECT a AS vec_id, round(((2 * s_nano + 5) // 10) / 1e9, 6) AS lof
        |FROM lf ORDER BY lof DESC, vec_id LIMIT 20""".stripMargin) {
      (s, dir) =>
      val e = Tables.embeddings(s, dir)
        .select(col("vec_id"), col("embedding").cast("array<double>")
          .as("v"))
        .localCheckpoint(eager = false)
      // knnCandidates fuses the codegen sq_l2 kernel into the
      // candidate join (round-12: pair exchanges carry 24-byte
      // (a, b, dist) rows, never the vectors — see Joins.scala).
      // Per-anchor top-5 via the map-side heap fold (round 17 — the
      // q_mutual_knn reduction): the row_number window sorted the
      // FULL candidate pair stream per anchor before keeping 5 rows
      // (the spill column showed ~44 GB of window-sort spill at the
      // 100× fixture); the heap folds each partition to ≤5 rows per
      // anchor before the exchange. Score is negated d2 — the
      // aggregator's (score DESC, id ASC) order is exactly the
      // window's (d2 ASC, b ASC); negation is a sign-bit flip, so
      // the round-tripped d2 is bit-identical. sq_l2 never yields
      // NaN (sum of squares), so the window/heap equivalence is
      // unconditional here.
      val topkAgg = udaf(new graft.functions.TopKNeighborsAggregator(5),
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaDouble))
      val knn = SimilarityStages.knnCandidates(e, metric = "l2")
        .select(col("a"), col("b"), col("dist").as("d2"))
        .groupBy("a")
        .agg(topkAgg(col("b"), lit(0L), negate(col("d2"))).as("tk"))
        .select(col("a"), explode(col("tk")).as("e"))
        .select(col("a"), col("e._1").as("b"), negate(col("e._3")).as("d2"))
        .localCheckpoint(eager = false)
      val kd = knn.groupBy(col("a").as("p")).agg(max("d2").as("kdist"))
      val lrd = knn.join(kd, col("p") === col("b"))
        .select(col("a"), greatest(col("d2"), col("kdist")).as("rd"))
        .groupBy("a")
        .agg(round(lit(5.0) /
          sum(col("rd").cast(DecimalType(38, 6))).cast("double"), 9)
          .as("lrd"))
        .localCheckpoint(eager = false)
      knn
        .join(lrd.select(col("a").as("aa"), col("lrd").as("la")),
          col("aa") === col("a"))
        .join(lrd.select(col("a").as("bb"), col("lrd").as("lb")),
          col("bb") === col("b"))
        .groupBy("a")
        .agg(sum(round(col("lb") / col("la"), 9).cast(DecimalType(38, 9))
          * 1000000000L).cast("long").as("s_nano"))
        .selectExpr("a AS vec_id",
          "round(((2 * s_nano + 5) DIV 10) / 1e9, 6) AS lof")
        .orderBy(desc("lof"), col("vec_id")).limit(20)
    },

    // DBSCAN — density-based clustering over the embedding cloud
    // (eps² = 1.34, minPts = 4): core points (≥ 3 eps-neighbors),
    // clusters = connected components of the core-core eps graph,
    // border points adopt the MINIMUM cluster label among their
    // core neighbors (textbook DBSCAN is scan-order-dependent at
    // borders; the min rule is the deterministic variant), the rest
    // is noise. The density complement to q_kmeans (which forces
    // every point into k spherical cells): DBSCAN finds arbitrary-
    // shape dense regions and REFUSES the sparse remainder — the
    // shape a curation pipeline wants for "keep the modes, flag the
    // stragglers". Scale: the eps-neighbor stage is the one pairwise
    // pass, routed through SimilarityStages.knnCandidates
    // (block-chunked exact below the size gate, no broadcast hint;
    // IVF-probed L2 candidates past `spark.graft.ann.autoThresholdBytes`,
    // set-equal at the test sfs — ScalePathSpec. Past total-recall
    // scale the ann arm's error is ONE-SIDED on core structure:
    // every candidate edge is exact-verified ≤ eps, so ann core ⊆
    // exact core and ann CORE connectivity refines exact core
    // connectivity — missed edges can only SPLIT clusters, never
    // merge distinct ones (border points may legally re-attach to
    // an ADJACENT cluster's surviving core — DBSCAN's own tie
    // freedom). Round12OpsSpec pins the refinement property under
    // deliberately-degraded recall; the sf1.0 cross_check measures
    // the divergence; raise spark.graft.knn.ann.probes to trade
    // candidate volume for connectivity recall); everything after is
    // edge-frame-sized: degree fold, core filter, and the
    // q_dup_clusters CC machinery (min-label propagation with
    // pointer jumping, run to its label-sum fixpoint — the same
    // fixpoint the full RECURSIVE oracle computes, so the hash
    // compare is exact at any component diameter). Determinism:
    // distances round 6dp against a literal eps²; every label pick
    // is a min.
    Q("q_dbscan",
      """WITH RECURSIVE e AS (SELECT vec_id,
        |    CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |d AS (SELECT a.vec_id AS a, b.vec_id AS b,
        |    round(list_sum([(a.v[i]-b.v[i])*(a.v[i]-b.v[i])
        |                    for i in range(1, len(a.v)+1)]), 6) AS d2
        |  FROM e a JOIN e b ON a.vec_id <> b.vec_id),
        |nbr AS (SELECT a, b FROM d WHERE d2 <= 1.34),
        |deg AS (SELECT a, count(*) AS k FROM nbr GROUP BY a),
        |core AS (SELECT a AS id FROM deg WHERE k >= 3),
        |ce AS (SELECT n.a, n.b FROM nbr n
        |       JOIN core c1 ON c1.id = n.a JOIN core c2 ON c2.id = n.b),
        |walk(node, lab) AS (
        |  SELECT id, id FROM core
        |  UNION
        |  SELECT ce.b, w.lab FROM walk w JOIN ce ON ce.a = w.node),
        |cc AS (SELECT node, min(lab) AS cluster FROM walk GROUP BY node),
        |border AS (SELECT n.a AS id, min(cc.cluster) AS cluster
        |  FROM nbr n JOIN cc ON cc.node = n.b
        |  WHERE n.a NOT IN (SELECT id FROM core) GROUP BY n.a)
        |SELECT e.vec_id,
        |  CASE WHEN cc.cluster IS NOT NULL THEN 'core'
        |       WHEN border.cluster IS NOT NULL THEN 'border'
        |       ELSE 'noise' END AS role,
        |  coalesce(cc.cluster, border.cluster) AS cluster
        |FROM e LEFT JOIN cc ON cc.node = e.vec_id
        |LEFT JOIN border ON border.id = e.vec_id
        |ORDER BY e.vec_id""".stripMargin) { (s, dir) =>
      val e = Tables.embeddings(s, dir)
        .select(col("vec_id"), col("embedding").cast("array<double>")
          .as("v"))
        .localCheckpoint(eager = false)
      // knnCandidates fuses the codegen sq_l2 kernel into the
      // candidate join (round-12: pair exchanges carry 24-byte
      // (a, b, dist) rows, never the vectors — see Joins.scala).
      val nbr = SimilarityStages.knnCandidates(e, metric = "l2")
        .select(col("a"), col("b"), col("dist").as("d2"))
        .filter(col("d2") <= 1.34).select("a", "b")
        .localCheckpoint(eager = false)
      val core = nbr.groupBy("a").agg(count(lit(1)).as("k"))
        .filter(col("k") >= 3).select(col("a").as("id"))
        .localCheckpoint(eager = false)
      val cePairs = nbr
        .join(core.select(col("id").as("a")), "a")
        .join(core.select(col("id").as("b")), "b")
        .filter(col("a") < col("b"))
        .select(col("a").as("id1"), col("b").as("id2"))
      // The DBSCAN core graph near the density threshold is
      // TREE-like (measured: 130 edges over 125 cores at sf0.01,
      // one 101-node component of graph diameter 13), so unlike
      // near-dup cliques its diameter scales with component size —
      // and the pointer-jump round is only OPPORTUNISTIC
      // acceleration (the min id within k hops can point away from
      // the component minimum, so jumps don't guarantee doubling on
      // adversarial id layouts; measured convergence: 12 rounds at
      // sf0.01, 5 at sf0.1 where density shrinks the diameter).
      // minLabelPropagate stops AT the measured fixpoint (label-sum
      // convergence) instead of the old fixed 16-round budget that
      // spent most rounds idle (round-10 verdict #2); each round
      // shuffles only core-count-sized label frames, and the
      // full-fixpoint RECURSIVE oracle fails the hash loudly if the
      // stop rule were ever wrong.
      val lab = DedupStages.minLabelPropagate(
        core.select(col("id").as("node")), cePairs)
      val border = nbr
        .join(lab.select(col("node").as("b"), col("lab")), "b")
        .join(core.select(col("id").as("a")), Seq("a"), "left_anti")
        .groupBy("a").agg(min("lab").as("bcl"))
      e.select(col("vec_id"))
        .join(lab.select(col("node").as("vec_id"), col("lab").as("ccl")),
          Seq("vec_id"), "left")
        .join(border.select(col("a").as("vec_id"), col("bcl")),
          Seq("vec_id"), "left")
        .selectExpr("vec_id",
          "CASE WHEN ccl IS NOT NULL THEN 'core'" +
            " WHEN bcl IS NOT NULL THEN 'border' ELSE 'noise' END AS role",
          "coalesce(ccl, bcl) AS cluster")
        .orderBy("vec_id")
    },

    // EMBEDDING DRIFT — per-label cosine distance between the
    // centroids of two deterministic hash-halves of the embedding
    // set: the embedding-space twin of the scalar drift triple
    // (q_psi / q_ks_test / q_emd_drift watch a VALUE distribution;
    // this watches where a label's REPRESENTATION mass sits — the
    // "did the upstream encoder or the incoming data move" monitor
    // a retrieval index re-build decision reads; run against
    // yesterday's vs today's snapshot in production, the salted
    // hash split here is the deterministic test-fixture stand-in).
    // Scale: each half's centroid is ONE partial-aggregated
    // (label, half, pos) groupBy over the posexploded stream —
    // dim-bounded output at ANY corpus size; the cosine runs on the
    // |labels|×dim centroid frame only. Determinism: components are
    // 2²⁰-fixed-point BIGINTs and each centroid mean uses the
    // exact-integer half-up form (|2Σ| < 2⁵³ through ~4·10⁹ rows
    // per half — far past any test sf); the quantized means become
    // identical doubles in both engines, products round 12dp into
    // DECIMAL(38,12) sums (dsum discipline), and the final cosine
    // is one division+sqrt on identical operands. nullif guards a
    // zero-norm centroid.
    Q("q_embed_drift",
      s"""WITH e AS (SELECT vec_id, label,
         |    CASE WHEN ${TextKit.h28Duck("'edrift#' || vec_id")} % 2 = 0
         |         THEN 'a' ELSE 'b' END AS half,
         |    CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |x AS (SELECT label, half, CAST(t.i AS INT) AS pos,
         |    CAST(floor(v[t.i + 1] * 1048576) AS BIGINT) AS v20
         |  FROM e, UNNEST(generate_series(0, len(v) - 1)) AS t(i)),
         |c AS (SELECT label, half, pos,
         |    CAST(floor((2 * CAST(sum(v20) AS BIGINT) + count(*))
         |      / (2.0 * count(*))) AS BIGINT) / 1048576.0 AS md
         |  FROM x GROUP BY 1, 2, 3),
         |p AS (SELECT a.label, a.pos, a.md AS ma, b.md AS mb
         |  FROM c a JOIN c b ON a.label = b.label AND a.pos = b.pos
         |  WHERE a.half = 'a' AND b.half = 'b'),
         |agg AS (SELECT label,
         |    CAST(sum(CAST(round(ma * mb, 12) AS DECIMAL(38,12)))
         |      AS DOUBLE) AS dot,
         |    CAST(sum(CAST(round(ma * ma, 12) AS DECIMAL(38,12)))
         |      AS DOUBLE) AS na,
         |    CAST(sum(CAST(round(mb * mb, 12) AS DECIMAL(38,12)))
         |      AS DOUBLE) AS nb
         |  FROM p GROUP BY 1),
         |cn AS (SELECT label,
         |    CAST(sum(CASE WHEN half = 'a' THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_a,
         |    CAST(sum(CASE WHEN half = 'b' THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_b FROM e GROUP BY 1)
         |SELECT label, n_a, n_b,
         |  round(dot / nullif(sqrt(na * nb), 0), 6) AS cos_ab,
         |  round(1 - dot / nullif(sqrt(na * nb), 0), 6) AS drift
         |FROM agg JOIN cn USING (label) ORDER BY label""".stripMargin) {
      (s, d) =>
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("label"),
          when(expr(TextKit.h28(
            "concat('edrift#', CAST(vec_id AS STRING))")) % 2 === 0, "a")
            .otherwise("b").as("half"),
          col("embedding").cast("array<double>").as("v"))
        .localCheckpoint(eager = false)
      val x = e.select(col("label"), col("half"),
          posexplode(col("v")).as(Seq("pos", "vd")))
        .select(col("label"), col("half"), col("pos"),
          expr("CAST(floor(vd * 1048576) AS BIGINT)").as("v20"))
      val c = x.groupBy("label", "half", "pos")
        .agg(expr("CAST(floor((2 * CAST(sum(v20) AS BIGINT) + count(*))" +
          " / (2.0 * count(*))) AS BIGINT) / CAST(1048576 AS DOUBLE)")
          .as("md"))
      val p = c.filter(col("half") === "a")
        .select(col("label"), col("pos"), col("md").as("ma"))
        .join(c.filter(col("half") === "b")
          .select(col("label"), col("pos"), col("md").as("mb")),
          Seq("label", "pos"))
      val agg = p.groupBy("label").agg(
        sum(round(col("ma") * col("mb"), 12).cast(DecimalType(38, 12)))
          .cast("double").as("dot"),
        sum(round(col("ma") * col("ma"), 12).cast(DecimalType(38, 12)))
          .cast("double").as("na"),
        sum(round(col("mb") * col("mb"), 12).cast(DecimalType(38, 12)))
          .cast("double").as("nb"))
      val cn = e.groupBy("label").agg(
        sum(when(col("half") === "a", 1L).otherwise(0L)).cast("long")
          .as("n_a"),
        sum(when(col("half") === "b", 1L).otherwise(0L)).cast("long")
          .as("n_b"))
      agg.join(broadcast(cn), "label")
        .selectExpr("label", "n_a", "n_b",
          "round(dot / nullif(sqrt(na * nb), 0), 6) AS cos_ab",
          "round(1 - dot / nullif(sqrt(na * nb), 0), 6) AS drift")
        .orderBy("label")
    },
  )

  /** Chained-CTE oracle for the fixed-unroll Lloyd loop: assignment
    * (sequential-fold distance, rounded 6dp, cid tie-break) and
    * DECIMAL-mean recompute stated `iters` times, then a final
    * assignment aggregated to (cid, n, sse) — the pcaSql technique. */
  /** The Lloyd chain's WITH-body through the final RANKED assignment
    * `rf(vec_id, label, v, cid, d2, rn)` — shared verbatim by
    * q_kmeans and the round-13 cluster-eval oracles (q_cluster_purity
    * / q_silhouette in [[ClusterEval]]) so every consumer provably
    * evaluates the SAME clustering. */
  private[queries] def kmeansChainSql(iters: Int, k: Int): String = {
    val d2 =
      "round(list_sum([(v[i]-c[i])*(v[i]-c[i]) " +
        "for i in range(1, len(v)+1)]), 6)"
    def step(n: Int, prev: String): String =
      s"""a$n AS (SELECT vec_id, v, cid, $d2 AS d2 FROM e CROSS JOIN $prev),
         |r$n AS (SELECT *, row_number() OVER (PARTITION BY vec_id
         |        ORDER BY d2, cid) AS rn FROM a$n),
         |m$n AS (SELECT cid, t.i AS pos,
         |    round(CAST(sum(CAST(v[t.i] AS DECIMAL(38,12))) AS DOUBLE)
         |          / count(*), 6) AS mu
         |  FROM r$n, UNNEST(generate_series(1, 64)) AS t(i)
         |  WHERE rn = 1 GROUP BY 1, 2),
         |c$n AS (SELECT cid, list(mu ORDER BY pos) AS c FROM m$n
         |        GROUP BY cid)""".stripMargin
    val steps = (1 to iters)
      .map(i => step(i, if (i == 1) "c0" else s"c${i - 1}"))
      .mkString(",\n")
    s"""e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
       |           FROM embeddings),
       |c0 AS (SELECT CAST(vec_id AS INT) AS cid, v AS c FROM e
       |       WHERE vec_id < $k),
       |$steps,
       |af AS (SELECT vec_id, label, v, cid, $d2 AS d2
       |       FROM e CROSS JOIN c$iters),
       |rf AS (SELECT *, row_number() OVER (PARTITION BY vec_id
       |       ORDER BY d2, cid) AS rn FROM af)""".stripMargin
  }

  private def kmeansSql(iters: Int, k: Int): String =
    s"""WITH ${kmeansChainSql(iters, k)}
       |SELECT cid, count(*) AS n,
       |  round(CAST(sum(CAST(d2 AS DECIMAL(38,6))) AS DOUBLE), 6) AS sse
       |FROM rf WHERE rn = 1 GROUP BY cid ORDER BY cid""".stripMargin

  /** Spark twin of [[kmeansChainSql]]: the final-iteration RANKED
    * assignment frame (vec_id, label, v, cid, d2, rn) — rn = 1 is
    * the assignment, rn = 2 the second-nearest centroid (silhouette's
    * b). Centroids stay an 8-row broadcast frame end-to-end. */
  private[queries] def kmeansRanked(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("v"))
      .localCheckpoint(eager = false)
    // Codegen kernel, not the interpreted aggregate(zip_with(...))
    // fold: bit-identical (both run the sequential left-to-right
    // Σ(x−y)² over the same doubles), but the HOF's lambda call site
    // goes MEGAMORPHIC once many query families share the JVM — and
    // round 13 runs this chain four times per sweep (q_kmeans +
    // three eval consumers), which measurably slowed every OTHER
    // HOF-using query in the full-registry bench (the sq_l2_distance
    // pathology, round-2 lesson).
    val d2 = round(graft.functions.GraftFunctions
      .sq_l2_distance(col("v"), col("c")), 6)
    def ranked(cent: DataFrame): DataFrame =
      e.crossJoin(broadcast(cent))
        .withColumn("d2", d2)
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("vec_id").orderBy("d2", "cid")))
    var cent = e.filter(col("vec_id") < 8)
      .select(col("vec_id").cast("int").as("cid"), col("v").as("c"))
    for (_ <- 1 to 2) {
      cent = ranked(cent).filter(col("rn") === 1)
        .select(col("cid"), posexplode(col("v")).as(Seq("pos", "xv")))
        .groupBy("cid", "pos")
        .agg(round(sum(col("xv").cast(DecimalType(38, 12))).cast("double")
          / count(lit(1)), 6).as("mu"))
        .groupBy("cid")
        .agg(expr(
          "transform(array_sort(collect_list(struct(pos, mu))), t -> t.mu)")
          .as("c"))
    }
    ranked(cent)
  }

  /** Chained-CTE oracle for the fixed-unroll power iteration: the
    * same (dot → dim-keyed sum → normalize) step stated k times,
    * mirroring the Spark loop exactly (the q_pagerank oracle
    * technique). */
  private def pcaSql(iters: Int): String = {
    val steps = (1 to iters).map { k =>
      s"""s$k AS (SELECT vec_id, x,
         |    round(list_reduce([x[i] * vv[i] for i in
         |      range(1, len(x) + 1)], (a, b) -> a + b), 6) AS sc
         |  FROM xc, v${k - 1}),
         |c$k AS (SELECT t.i AS pos,
         |    CAST(sum(CAST(round(x[t.i + 1] * sc, 9) AS DECIMAL(38,9)))
         |         AS DOUBLE) AS c
         |  FROM s$k, UNNEST(generate_series(0, len(x) - 1)) AS t(i)
         |  GROUP BY t.i),
         |n$k AS (SELECT sqrt(CAST(sum(CAST(round(c * c, 9)
         |    AS DECIMAL(38,9))) AS DOUBLE)) AS nrm FROM c$k),
         |v$k AS (SELECT list(round(c / nrm, 6) ORDER BY pos) AS vv
         |        FROM c$k, n$k)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |           FROM embeddings),
       |m0 AS (SELECT t.i AS pos,
       |    round(CAST(sum(CAST(v[t.i + 1] AS DECIMAL(38,12))) AS DOUBLE)
       |          / count(*), 6) AS mu
       |  FROM e, UNNEST(generate_series(0, len(v) - 1)) AS t(i)
       |  GROUP BY t.i),
       |mv AS (SELECT list(mu ORDER BY pos) AS m FROM m0),
       |xc AS (SELECT vec_id, [round(v[i] - m[i], 6)
       |         for i in range(1, len(v) + 1)] AS x FROM e, mv),
       |v0 AS (SELECT list(CASE WHEN pos = 0 THEN 1.0 ELSE 0.0 END
       |         ORDER BY pos) AS vv FROM m0),
       |$steps
       |SELECT CAST(t.i AS BIGINT) AS pos, vv[t.i + 1] AS loading
       |FROM v$iters, UNNEST(generate_series(0, len(vv) - 1)) AS t(i)
       |ORDER BY pos""".stripMargin
  }

  /** Hash-ranked seed pick: the k vectors with the smallest
    * md5-derived id hash become centroids 0..k-1. orderBy().limit(k)
    * plans as TakeOrderedAndProject — each task keeps a k-row heap
    * and the driver merges, so there is no partition-less window and
    * no single-task global sort at any n (asserted in ScalePathSpec).
    * A pure plan builder: the topK-threshold clearance that keeps the
    * heap plan alive at large derived k is applied by the CALLER
    * around planning+collect ([[withTopKClearance]]) so nothing
    * session-global leaks. The rows arrive already ordered; cid is
    * the arrival rank. */
  private[queries] def seedFrame(e: DataFrame, k: Int): DataFrame =
    e.select(expr(TextKit.h28("CAST(vec_id AS STRING)")).as("hk"),
        col("vec_id"), col("v"))
      .orderBy(col("hk"), col("vec_id")).limit(k)
      .select(col("v").as("c"))

  /** Scoped raise of spark.sql.execution.topKSortFallbackThreshold:
    * the TakeOrderedAndProject heap plan only exists while
    * k < threshold (default 10000; past it Spark silently falls back
    * to a single-task global sort), and derived k crosses 10000 at
    * ~5.1M vectors. The threshold is raised to k+1 for exactly the
    * duration of `body` (which must both PLAN and EXECUTE the seed
    * frame — physical planning reads the conf at action time), then
    * restored — no session-global plan-shape coupling for unrelated
    * queries (asserted in ScalePathSpec). A k-row per-task heap is
    * exactly the memory this operator budgets anyway. */
  private[queries] def withTopKClearance[T](
      s: org.apache.spark.sql.SparkSession, k: Int)(body: => T): T = {
    val conf = s.conf
    val key = "spark.sql.execution.topKSortFallbackThreshold"
    val saved = conf.getOption(key)
    if (conf.get(key, "10000").toInt <= k) conf.set(key, (k + 1).toString)
    try body
    finally saved match {
      case Some(v) => conf.set(key, v)
      case None => conf.unset(key)
    }
  }

  private def seedCentroids(e: DataFrame, k: Int): Seq[(Int, Array[Double])] =
    withTopKClearance(e.sparkSession, k) {
      seedFrame(e, k).collect().toSeq.zipWithIndex
        .map { case (r, i) => i -> r.getSeq[Double](0).toArray }
    }

  /** Scan-local argmin over the ≤k driver-held centroids: the
    * cosine-nearest by (round(dist, 6), cid), in the row's projection. */
  private def assignExpr(cents: Seq[(Int, Array[Double])]): Column =
    nearest_cells(col("v"), Codebook(cents.map { case (c, v) => (c.toLong, v) }),
      1, CellMetric.Cosine)(0).cast("int")

  /** Exact-decimal elementwise centroid means (the q_vector_centroid
    * recipe): one (cid, pos)-keyed partial+final aggregation, with
    * the ≤K×dim result collected back to the driver for the next
    * round's literal assignment. */
  private def lloydCentroids(a: DataFrame): Seq[(Int, Array[Double])] =
    a.select(col("cid"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy("cid", "pos")
      .agg(round(sum(col("x").cast("decimal(38,12)")).cast("double")
        / count(lit(1)), 6).as("m"))
      .groupBy("cid")
      .agg(expr("transform(array_sort(collect_list(struct(pos, m))), s -> s.m)")
        .as("c"))
      .collect().toSeq
      .map(r => r.getInt(0) -> r.getSeq[Double](1).toArray)

  /** Shared sparse tf-idf machinery for q_tfidf_pairs / q_tfidf_topk:
    * (w, nrm) — the df-screened weighted postings (doc_id, t, w) and
    * per-doc squared norms. The posting frame feeds two self-join
    * sides, so it is checkpointed, and built once per documents table
    * under [[Tables.pinned]] (kind `tfidf`): a rebuild on an unchanged
    * table runs no job, and a rewrite releases the old pin. The build
    * checkpoints the term counts it reads and releases them once the
    * postings are materialized. The norm frame is a plain aggregate
    * of the postings. */
  private def tfidfFrames(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    val w = Tables.pinned(s, "tfidf", s"$d/documents.parquet", "") {
      val tok = barrier(Tables.documents(s, d)
        .withColumn("wt", expr(TextKit.toks)))
        .select(col("doc_id"), explode(col("wt")).as("t"))
      val tf = tok.groupBy("doc_id", "t").agg(count(lit(1)).as("c"))
        .localCheckpoint()
      val dl = tf.groupBy("doc_id").agg(sum("c").as("len"))
      val dfr = tf.groupBy("t").agg(count(lit(1)).as("df"))
      val nd = broadcast(Tables.documents(s, d).agg(count(lit(1)).as("nn")))
      val w = tf.join(dl, "doc_id").join(dfr, "t").crossJoin(nd)
        .filter(col("df") * 10 <= col("nn"))
        .select(col("doc_id"), col("t"),
          round((col("c").cast("double") / col("len")) *
            log(col("nn").cast("double") / col("df")), 9).as("w"))
        .localCheckpoint()
      Tables.unpin(tf)
      w
    }
    val nrm = w.groupBy("doc_id")
      .agg(sum(round(col("w") * col("w"), 12).cast(DecimalType(38, 12)))
        .cast("double").as("n2"))
    (w, nrm)
  }

  /** q_tfidf_pairs' gate: the bounded top-k plan at or past
    * `spark.graft.tfidf.pairsWarnDocs` (20 000) documents. */
  private[queries] def tfidfPairsAtScale(s: SparkSession, d: String): Boolean =
    atScale(s, "q_tfidf_pairs", "spark.graft.tfidf.pairsWarnDocs", 20000)(
      Some(Tables.docCount(s, d)))

  /** The route of the bounded top-k plans, with the doc count it
    * read:
    *  - `exact` below `spark.graft.tfidf.topkGateDocs` (20 k, aligned
    *    with the pairsWarnDocs gate — the sf0.01/sf0.1 oracle sfs run
    *    exact; the parquet-footer doc count is deterministic): score
    *    via the inverted-index posting self-join (tfidfScoredExact) —
    *    complete (every pair sharing ≥1 surviving term), but the
    *    candidate stage is quadratic in near-dup clique size. The 100×
    *    fixture's real cliques are the REPLICA-INDEX groups: every
    *    replica-i document carries the suffix token "r·i", and after
    *    the df screen most documents hold only 1-2 surviving terms —
    *    so "r·i" alone forms nDocs/factor-member cliques (5 000 docs
    *    at every factor; ~1.2·10⁹ true pairs at 100× — the ~55 min
    *    spill CUT of round 14, and exactly the 115 M-row sf1.0 τ-pair
    *    answer of round 11).
    *  - `cluster` at or past it: the candidate- AND shuffle-bounded
    *    route (tfidfTopkClustered).
    * Gate calibration (round 15, /tmp/sf1.0 = 50 k docs): exact 688 s
    * vs cluster 13.3 s — the replica-token cliques already dominate
    * at 10×, so the bounded route must be the default there; the
    * sf1.0 ORACLE arm pins the gate past its doc count (the
    * simjoin/knn pin precedent). At sf0.1 (5 k docs) exact wins
    * (1.8 s vs 3.5 s) and stays the default. */
  private[queries] def tfidfRoute(s: SparkSession, d: String): (String, Long) = {
    val nDocs = Tables.docCount(s, d)
    (if (atScale(s, "tfidf top-k", "spark.graft.tfidf.topkGateDocs", 20000)(
        Some(nDocs))) "cluster" else "exact", nDocs)
  }

  /** Directed scored candidate pairs (d1, d2, nsh, cos) of the EXACT
    * form — the complete inverted-index posting self-join. Also the
    * truth arm of the ScalePathSpec cluster pins. */
  private[queries] def tfidfScoredExact(s: SparkSession, d: String)
      : DataFrame = {
    val (w, nrm) = tfidfFrames(s, d)
    val dot = w.as("a").join(w.as("b"),
      col("a.t") === col("b.t") && col("a.doc_id") =!= col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .agg(count(lit(1)).cast("long").as("nsh"),
        sum(round(col("a.w") * col("b.w"), 12).cast(DecimalType(38, 12)))
          .cast("double").as("dp"))
    dot.join(nrm.as("na"), col("na.doc_id") === col("d1"))
      .join(nrm.as("nb"), col("nb.doc_id") === col("d2"))
      .select(col("d1"), col("d2"), col("nsh"),
        round(col("dp") / (sqrt(col("na.n2")) * sqrt(col("nb.n2"))), 6)
          .as("cos"))
  }

  /** Rows-per-band for the clustered route, SIZE-DERIVED like
    * annCells/lsh.planes: random band-key collisions put ~n·J_rand^r
    * bucket-mates next to every doc, so r must grow with the corpus
    * or low-overlap mass floods the buckets — the first 100× probe
    * ran r = 3 and spilled ~5·10⁸ random-overlap pairs (17 GB+ and
    * climbing when it was killed). r = max(3, ⌈log₂ n / 5⌉): 3
    * through ~32 k docs (the oracled sfs — the sf0.01 recall pins
    * stay meaningful), 4 at the 100× fixture's 500 k, 6 at 50 M.
    * `spark.graft.tfidf.bandRows` overrides. */
  private[queries] def tfidfBandRows(s: SparkSession, nDocs: Long): Int =
    s.conf.getOption("spark.graft.tfidf.bandRows").map(
      boundedLong("spark.graft.tfidf.bandRows", _, 1, 16).toInt
    ).getOrElse(math.max(3, math.ceil(
      math.log(math.max(2L, nDocs).toDouble) / math.log(2.0) / 5.0).toInt))

  /** Per-document packed sparse vectors: sorted term-hash keys `ks`,
    * aligned weights `ws`, squared norm `n2` (the SAME decimal fold
    * as tfidfFrames' nrm), and 16 MinHash band keys `bands` of
    * size-derived row count (tfidfBandRows). One aggregation over the
    * posting frame builds everything — the per-term hashes fold as
    * codegen'd `min` columns, never an exploded (doc, term, plane)
    * frame. Band-match P = 1-(1-J^r)^bands — ≈1.0 at the near-dup
    * Jaccards that create the quadratic regime (J ≥ 0.7), 0.88 at
    * J = 0.5 with r = 3, falling off below — a deliberately milder
    * slope than dedup's 8×4 (τ≈0.8 step) because top-k wants the
    * mid-overlap neighborhood too. */
  private def tfidfDocVectors(s: SparkSession, d: String,
      nDocs: Long): DataFrame = {
    val bands = 16
    val rows = tfidfBandRows(s, nDocs)
    val (w, _) = tfidfFrames(s, d)
    val minCols = (0 until bands * rows).map(m =>
      min(xxhash64(col("t"), lit(m))).as(s"m$m"))
    val aggCols = Seq(
      sort_array(collect_list(struct(xxhash64(col("t")).as("kh"),
        col("w").as("wt")))).as("kv"),
      sum(round(col("w") * col("w"), 12).cast(DecimalType(38, 12)))
        .cast("double").as("n2")) ++ minCols
    w.groupBy("doc_id")
      .agg(aggCols.head, aggCols.tail: _*)
      .select(col("doc_id"),
        expr("transform(kv, x -> x.kh)").as("ks"),
        expr("transform(kv, x -> x.wt)").as("ws"),
        col("n2"),
        array((0 until bands).map(b =>
          struct(lit(b).as("band"),
            xxhash64(((b * rows) until ((b + 1) * rows))
              .map(m => col(s"m$m")) :+ lit(b): _*).as("bkey"))): _*)
          .as("bands"))
  }

  /** The clustered top-k frame (d1, d2, nsh, cos, rk ≤ k): banded
    * candidate buckets → capped in-join scoring → in-stage top-k heap.
    * The three levers that make it survive the replica-clique regime
    * (where EVERY bucketing is correct and therefore huge):
    *  1. ONE corpus exchange on the bucket key (the coCounts/wedge
    *     discipline): the band explode rides the vector payload, the
    *     self-join co-partitions with a ReusedExchange second side.
    *  2. BUCKET CAP: the b-side of the join is the bucket's
    *     `spark.graft.tfidf.bucketCap` (64) smallest doc ids (a
    *     rank window on the SAME partitioning — no extra exchange).
    *     Candidates per bucket fall from |b|² to |b|·C. In the
    *     oversized-bucket regime this is EXACT, not approximate:
    *     such buckets are rounding-tie cliques (1-2 shared surviving
    *     terms → every pairwise cos rounds to the same value at
    *     6 dp), where the (cos DESC, d2 ASC) top-5 is the 5 smallest
    *     other ids — contained in any id-prefix of size ≥ 6. For a
    *     bucket with genuine cos variation the cap is a recall trade,
    *     and such buckets are small by construction (the band key
    *     already separates differing term sets).
    *  3. NO PAIR SHUFFLE: the join output folds into per-doc top-5
    *     heaps (TopKNeighborsAggregator) in the SAME stage —
    *     map-side partial aggregation reduces each partition to ≤5
    *     rows per doc before the only downstream exchange. The
    *     distinct+window form of this plan shuffled the pair set and
    *     twice filled the box's spill disk at 100×.
    * Band-duplicate candidates carry identical deterministic cos;
    * the heap dedups by d2, so they are harmless. */
  private[queries] def tfidfTopkClustered(s: SparkSession, d: String,
      nDocs: Long): DataFrame = {
    val cap = boundedLong("spark.graft.tfidf.bucketCap",
      s.conf.get("spark.graft.tfidf.bucketCap", "64"), 6, 100000).toInt
    val dv = tfidfDocVectors(s, d, nDocs)
    val f = dv.select(explode(col("bands")).as("bd"), col("doc_id"),
        col("ks"), col("ws"), col("n2"))
      .select(col("bd.band").as("band"), col("bd.bkey").as("bkey"),
        col("doc_id"), col("ks"), col("ws"), col("n2"))
      .repartition(col("band"), col("bkey"))
    val rankWin = org.apache.spark.sql.expressions.Window
      .partitionBy("band", "bkey").orderBy("doc_id")
    val capped = f.withColumn("rn", row_number().over(rankWin))
      .filter(col("rn") <= cap)
    val scored = f.as("a").join(capped.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.doc_id") =!= col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
        expr("sorted_dot_stats(a.ks, a.ws, b.ks, b.ws)").as("st"),
        col("a.n2").as("na2"), col("b.n2").as("nb2"))
      .select(col("d1"), col("d2"),
        col("st").getItem(1).cast("long").as("nsh"),
        round(col("st").getItem(0) / (sqrt(col("na2")) * sqrt(col("nb2"))), 6)
          .as("cos"))
      // A band collision without a shared SURVIVING term is not a
      // candidate in the exact route (its dot join requires ≥1
      // matching posting) — drop it, or the routed result would
      // contain cos=0 rows the declared form can never emit.
      .filter(col("nsh") >= 1)
    topkFold(scored)
  }

  /** (d1, d2, nsh, cos) → the per-d1 top-5 under (cos DESC, d2 ASC)
    * with rk, via the heap aggregate — `row_number() OVER (PARTITION
    * BY d1 ...) <= 5` semantics (TopKNeighborsAggregator scaladoc)
    * at a fraction of its cost: map-side partial heaps reduce each
    * partition to ≤5 rows per doc BEFORE the d1 exchange, where the
    * window form shuffles the whole candidate-pair set (the exact
    * arm's pair set at sf1.0 is ~10⁸ rows for a 226 k-row answer). */
  private def topkFold(scored: DataFrame): DataFrame = {
    val topk = udaf(new graft.functions.TopKNeighborsAggregator(5),
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.scalaDouble))
    scored.groupBy("d1")
      .agg(topk(col("d2"), col("nsh"), col("cos")).as("tk"))
      .select(col("d1"), posexplode(col("tk")))
      .select(col("d1"), col("col._1").as("d2"), col("col._2").as("nsh"),
        col("col._3").as("cos"), (col("pos") + 1).cast("long").as("rk"))
  }

  /** The bounded top-k frame (d1, d2, nsh, cos, rk ≤ 5), shared by
    * q_tfidf_topk and q_tfidf_pairs' routed form, routed by
    * tfidfRoute. Both branches end in the same heap fold. */
  private def tfidfTopkFrame(s: SparkSession, d: String): DataFrame =
    tfidfRoute(s, d) match {
      case ("cluster", n) => tfidfTopkClustered(s, d, n)
      case _ => topkFold(tfidfScoredExact(s, d))
    }

  /** The bounded top-k plan — q_tfidf_topk's declared form and the
    * per-direction stage of q_tfidf_pairs' routed form. */
  private def tfidfTopk(s: SparkSession, d: String): DataFrame =
    tfidfTopkFrame(s, d)
      .select("d1", "d2", "cos", "rk")
      .orderBy("d1", "rk")

  /** q_tfidf_pairs' ROUTED form (auto past the pairsWarnDocs gate) in
    * the DECLARED schema (round-14 advice: the routed plan must not
    * change columns with corpus size): the τ-pair contract
    * (d1 < d2, n_shared, cos ≥ 0.25) RESTRICTED to each document's
    * top-5 neighborhood — a bounded subset of the declared answer,
    * ≤ n·k rows at any clique structure, same column set and types. */
  private[queries] def tfidfTopkPairs(s: SparkSession, d: String): DataFrame =
    tfidfTopkFrame(s, d)
      .filter(col("cos") >= 0.25)
      .select(least(col("d1"), col("d2")).as("d1"),
        greatest(col("d1"), col("d2")).as("d2"),
        col("nsh").as("n_shared"), col("cos"))
      .distinct()
      .orderBy("d1", "d2")
}
