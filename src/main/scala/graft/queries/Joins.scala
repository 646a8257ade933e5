package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.{CellMetric, Codebook}
import graft.functions.GraftFunctions.{cosine_distance, cosine_distance_pre_norm, nearest_cells, norm_sq, sq_l2_distance}

/** Join surface (SURVEY §2B). Strategy choices are explicit where the
  * 100 TB plan differs from what a tiny scale factor would pick:
  * dimension sides get `broadcast()` hints, the big equi-join gets a
  * `merge` hint (at sf0.01 Spark would happily broadcast 15k orders —
  * the declared operator is the shuffle join), and the as-of join is
  * the single-shuffle union+window formulation rather than a
  * join-then-aggregate blowup.
  */
object Joins {

  val qs: Seq[Q] = Seq(

    // Runtime bloom-filter join: a selective filter on the BUILD side
    // (orders, o_totalprice > 400k keeps ~2%) is turned by Catalyst's
    // InjectRuntimeFilter into a bloom filter EVALUATED INSIDE THE
    // FACT SCAN — lineitem rows whose orderkey can't join are dropped
    // before the shuffle. At 100 TB this is the difference between
    // shuffling the whole fact table and shuffling the ~2% that can
    // match. Broadcast is disabled in a child session to model the
    // big-×-big case where the runtime filter is the only pre-shuffle
    // pruning available (with broadcast on, Spark 4 prefers the
    // equivalent DPP-style reuse). Plan shape (bloom_filter_might_
    // contain under the lineitem scan's Filter) is asserted in
    // ScalePathSpec; results are identical to the plain join, which
    // is the oracle.
    Q("q_join_runtime_bloom",
      """SELECT o.o_orderstatus, count(*) AS n,
        |  round(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(38,6))) AS DOUBLE), 6) AS revenue
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |WHERE o.o_totalprice > 400000
        |GROUP BY o.o_orderstatus ORDER BY o.o_orderstatus""".stripMargin) { (s, d) =>
      val ss = s.newSession()
      graft.Sessions.prepare(ss)
      ss.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      ss.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      ss.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      Tables.lineitem(ss, d)
        .join(Tables.orders(ss, d).filter(col("o_totalprice") > 400000),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("revenue"))
        .orderBy("o_orderstatus")
    },

    // LATERAL correlated subquery: each customer's most recent order
    // (top-1 per outer row). Written as the per-row subquery users
    // write; Catalyst DE-CORRELATES it (DecorrelateInnerQuery) into a
    // set-based plan instead of executing the inner query per row —
    // the difference between O(n) subquery executions and one
    // windowed pass at 100 TB. Unique (date desc, orderkey desc)
    // order key keeps the top-1 engine-stable; customers without
    // orders drop out (inner lateral).
    Q("q_join_lateral",
      """SELECT c.c_custkey, c.c_mktsegment, o.o_orderkey, o.o_orderdate,
        |  o.o_totalprice
        |FROM customer c, LATERAL (
        |  SELECT o_orderkey, o_orderdate, o_totalprice FROM orders
        |  WHERE o_custkey = c.c_custkey
        |  ORDER BY o_orderdate DESC, o_orderkey DESC LIMIT 1) o
        |ORDER BY c.c_custkey""".stripMargin) { (s, d) =>
      Tables.customer(s, d).createOrReplaceTempView("graft_lat_cust")
      Tables.orders(s, d).createOrReplaceTempView("graft_lat_ord")
      s.sql("""SELECT c.c_custkey, c.c_mktsegment, o.o_orderkey,
              |  o.o_orderdate, o.o_totalprice
              |FROM graft_lat_cust c, LATERAL (
              |  SELECT o_orderkey, o_orderdate, o_totalprice
              |  FROM graft_lat_ord
              |  WHERE o_custkey = c.c_custkey
              |  ORDER BY o_orderdate DESC, o_orderkey DESC LIMIT 1) o
              |ORDER BY c.c_custkey""".stripMargin)
    },

    // Fact × small dim — broadcast hash join, no shuffle of lineitem.
    Q("q_join_broadcast",
      """SELECT p.p_brand, count(*) AS n,
        |  round(CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(38,6))) AS DOUBLE), 6) AS revenue
        |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |GROUP BY p.p_brand ORDER BY p.p_brand""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .join(broadcast(Tables.part(s, d)),
          col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand")
        .agg(count(lit(1)).alias("n"),
          dsum(col("l_extendedprice") * (lit(1) - col("l_discount")))
            .alias("revenue"))
        .orderBy("p_brand")
    },

    // Large × large equi-join — shuffle on the key (SortMergeJoin;
    // hinted, since at test scale Catalyst would broadcast orders).
    Q("q_join_shuffle",
      """SELECT o.o_orderpriority, count(*) AS n,
        |  round(CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(38,6))) AS DOUBLE), 6) AS revenue
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |GROUP BY o.o_orderpriority ORDER BY o.o_orderpriority""".stripMargin) {
      (s, d) =>
        Tables.lineitem(s, d)
          .join(Tables.orders(s, d).hint("merge"),
            col("l_orderkey") === col("o_orderkey"))
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).alias("n"),
            dsum(col("l_extendedprice") * (lit(1) - col("l_discount")))
              .alias("revenue"))
          .orderBy("o_orderpriority")
    },

    // Star join region→nation→customer→orders; Catalyst reorders and
    // broadcasts the small dims.
    Q("q_join_multiway",
      """SELECT r.r_name, count(*) AS n_orders,
        |  round(CAST(sum(CAST(o.o_totalprice AS DECIMAL(38,6))) AS DOUBLE), 6) AS total
        |FROM region r
        |JOIN nation n ON n.n_regionkey = r.r_regionkey
        |JOIN customer c ON c.c_nationkey = n.n_nationkey
        |JOIN orders o ON o.o_custkey = c.c_custkey
        |GROUP BY r.r_name ORDER BY r.r_name""".stripMargin) { (s, d) =>
      Tables.region(s, d)
        .join(Tables.nation(s, d), col("n_regionkey") === col("r_regionkey"))
        .join(Tables.customer(s, d), col("c_nationkey") === col("n_nationkey"))
        .join(Tables.orders(s, d), col("o_custkey") === col("c_custkey"))
        .groupBy("r_name")
        .agg(count(lit(1)).alias("n_orders"),
          dsum(col("o_totalprice")).alias("total"))
        .orderBy("r_name")
    },

    // Semi: customers that have events (only user_ids 0-149 do).
    Q("q_join_semi",
      """SELECT c_custkey, c_mktsegment FROM customer c
        |WHERE EXISTS (SELECT 1 FROM events e WHERE e.user_id = c.c_custkey)
        |ORDER BY c_custkey""".stripMargin) { (s, d) =>
      Tables.customer(s, d)
        .join(Tables.events(s, d),
          col("c_custkey") === col("user_id"), "left_semi")
        .select("c_custkey", "c_mktsegment").orderBy("c_custkey")
    },

    // Anti: customers with no events (delete pattern A13/A14
    // generalized: anti-join is how the engine deletes at scale).
    Q("q_join_anti",
      """SELECT c_custkey, c_mktsegment FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM events e WHERE e.user_id = c.c_custkey)
        |ORDER BY c_custkey""".stripMargin) { (s, d) =>
      Tables.customer(s, d)
        .join(Tables.events(s, d),
          col("c_custkey") === col("user_id"), "left_anti")
        .select("c_custkey", "c_mktsegment").orderBy("c_custkey")
    },

    // Left outer with null handling: event count per customer, 0 when
    // none.
    Q("q_join_outer",
      """SELECT c.c_custkey, count(e.event_id) AS n_events,
        |  coalesce(round(CAST(sum(CAST(e.value AS DECIMAL(38,6))) AS DOUBLE), 6), 0) AS total_value
        |FROM customer c LEFT JOIN events e ON e.user_id = c.c_custkey
        |GROUP BY c.c_custkey ORDER BY c.c_custkey""".stripMargin) { (s, d) =>
      Tables.customer(s, d)
        .join(Tables.events(s, d),
          col("user_id") === col("c_custkey"), "left_outer")
        .groupBy("c_custkey")
        .agg(count(col("event_id")).alias("n_events"),
          coalesce(dsum(col("value")), lit(0.0)).alias("total_value"))
        .orderBy("c_custkey")
    },

    // Non-equi range join, de-quadraticized: the predicate is a band
    // of width exactly 1.0 around c = p_retailprice/10, so quantizing
    // into unit buckets makes it an EQUI-join — the band [c-0.5,
    // c+0.5) spans at most the two buckets {⌊c-0.5⌋, ⌊c-0.5⌋+1}, so
    // the small side is exploded into those two keys, hash-joined on
    // the bucket, and the exact range predicate applied as a codegen
    // residual filter. Round 1 ran this as an interpreted BNLJ over
    // 2×10⁹ pairs (10.3 s at sf0.1); the bucket join touches ~2
    // buckets' worth of rows per part and scales linearly.
    Q("q_join_theta_range",
      """SELECT e.event_type, count(*) AS n_pairs,
        |  round(CAST(sum(CAST(p.p_retailprice AS DECIMAL(38,6))) AS DOUBLE), 6) AS price_sum
        |FROM events e JOIN part p
        |  ON e.value >= p.p_retailprice / 10 - 0.5
        | AND e.value <  p.p_retailprice / 10 + 0.5
        |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin) { (s, d) =>
      // BOUNDARY-SWEEP REWRITE (round 16): the round-1 band join
      // (floor-bucket equi-join + residual filter) enumerates every
      // matching PAIR — and the true pair cardinality is quadratic
      // in sf (both sides × 10 ⟹ ~1.8·10¹¹ pairs at the 100×
      // fixture: 1 970 s, 171× the sf1.0 cell — the full-sweep
      // catch of the round). The declared output only needs per-type
      // COUNT and price SUM over matches, which a 1-D interval
      // stabbing decomposes into prefix sums: part j matches event v
      // iff (c−0.5) ≤ v AND NOT (c+0.5 ≤ v) — both thresholds the
      // join's own float expressions, so truth values are
      // bit-identical — i.e. each part contributes +1/+price at key
      // c−0.5 and −1/−price at key c+0.5, and an event's match
      // (count, sum) IS the running boundary sum at key=value.
      // Plan: union boundaries + probes (2·|part| + |events| rows),
      // ONE repartitionByRange exchange, per-partition sort +
      // running DECIMAL(38,6)/long window (partitioned by pid — no
      // global window), exclusive per-partition offsets via a
      // ≤ shuffle.partitions-row driver collect broadcast back, then
      // one partial-aggregated groupBy. Linear at any sf; no pair
      // row ever exists. DECIMAL accumulation keeps the sum exactly
      // the oracle's Σ DECIMAL(38,6) over pairs (associativity).
      val p = Tables.part(s, d)
        .withColumn("c", col("p_retailprice") / 10)
      val dec = org.apache.spark.sql.types.DecimalType(38, 6)
      val bounds = p.select((col("c") - 0.5).as("k"), lit(0).as("tag"),
          lit(1L).as("dn"), col("p_retailprice").cast(dec).as("ds"),
          lit(null).cast("string").as("event_type"))
        .unionByName(p.select((col("c") + 0.5).as("k"), lit(0).as("tag"),
          lit(-1L).as("dn"), (-col("p_retailprice")).cast(dec).as("ds"),
          lit(null).cast("string").as("event_type")))
      val probes = Tables.events(s, d).select(col("value").as("k"),
        lit(1).as("tag"), lit(0L).as("dn"), lit(0).cast(dec).as("ds"),
        col("event_type"))
      val ranged = bounds.unionByName(probes)
        .repartitionByRange(col("k"), col("tag"))
        .withColumn("pid", spark_partition_id())
        .localCheckpoint(eager = false)
      // Exclusive per-partition offsets: a ≤ numPartitions-row
      // driver read (bounded by conf, not by data — the sanctioned
      // collect class), broadcast back as a tiny join side.
      val offs = ranged.groupBy("pid")
        .agg(sum("dn").as("tn"), sum("ds").as("ts"))
        .collect()
        .map(r => (r.getInt(0), r.getLong(1),
          Option(r.getDecimal(2)).getOrElse(java.math.BigDecimal.ZERO)))
        .sortBy(_._1)
      var accN = 0L
      var accS = java.math.BigDecimal.ZERO
      val offRows = offs.map { case (pid, tn, ts) =>
        val out = (pid, accN, accS)
        accN += tn
        accS = accS.add(ts)
        out
      }.toSeq
      import s.implicits._
      val offDf = offRows.toDF("pid", "offn", "offs_raw")
        .select(col("pid"), col("offn"), col("offs_raw").cast(dec).as("offs"))
      val w = Window.partitionBy("pid").orderBy("k", "tag")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      ranged
        .withColumn("rn", sum(col("dn")).over(w))
        .withColumn("rs", sum(col("ds")).over(w))
        .filter(col("tag") === 1)
        .join(broadcast(offDf), "pid")
        .select(col("event_type"), (col("rn") + col("offn")).as("cnt"),
          (col("rs") + coalesce(col("offs"), lit(0).cast(dec))).as("psum"))
        .groupBy("event_type")
        .agg(sum("cnt").as("n_pairs"),
          round(sum("psum").cast("double"), 6).as("price_sum"))
        .filter(col("n_pairs") > 0)
        .orderBy("event_type")
    },

    // As-of join: for each event, the latest order date of the same
    // customer at event time. Formulated as union + running `last`
    // over one (user, time) sort — ONE shuffle, no join blowup, the
    // scalable pattern for 100 TB event/state alignment. Order rows
    // sort before event rows at equal timestamps (`<=` semantics,
    // matching the DuckDB LEFT JOIN oracle).
    Q("q_join_asof",
      """SELECT e.event_id, e.user_id, CAST(e.ts AS TIMESTAMP) AS ts,
        |       max(o.o_orderdate) AS last_od
        |FROM events e LEFT JOIN orders o
        |  ON o.o_custkey = e.user_id AND o.o_orderdate <= CAST(e.ts AS TIMESTAMP)
        |GROUP BY e.event_id, e.user_id, e.ts
        |ORDER BY e.event_id""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d).select(
        col("user_id").alias("uid"), col("ts").alias("t"),
        lit(1).alias("tag"), col("event_id"),
        lit(null).cast("timestamp").alias("od"))
      val od = Tables.orders(s, d).select(
        col("o_custkey").alias("uid"), col("o_orderdate").alias("t"),
        lit(0).alias("tag"), lit(null).cast("long").alias("event_id"),
        col("o_orderdate").alias("od"))
      val w = Window.partitionBy("uid").orderBy(col("t"), col("tag"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      ev.unionByName(od)
        .withColumn("last_od", last(col("od"), ignoreNulls = true).over(w))
        .filter(col("tag") === 1)
        .select(col("event_id"), col("uid").alias("user_id"),
          col("t").alias("ts"), col("last_od"))
        .orderBy("event_id")
    },

    // AS-OF NEAREST WITH TOLERANCE — the other half of the as-of
    // surface (pandas merge_asof direction='nearest'): each event
    // matches the SAME user's order date closest in time within
    // ±3 days, equidistant ties preferring the earlier (backward)
    // side; no order in range → NULLs. q_join_asof is the running
    // "latest state at event time"; this is sensor/record alignment
    // where the nearest reading wins regardless of direction.
    // Same single-shuffle technique: union orders into the event
    // stream, BOTH directional candidates ride one user-keyed
    // window sort (backward = running last over preceding, forward
    // = running first over following — same partitioning and order,
    // so Spark plans ONE Window operator and ONE exchange; the
    // union-tag sorts an equal-timestamp order BEFORE the event, so
    // Δ=0 lands on the backward side in both engines). The pick and
    // the tolerance gate are scan-local integer-second arithmetic.
    // Oracle = the brute-force tolerance-range join with an integer
    // arg_min key (2·|Δ| + forward-bit — nearest first, backward on
    // ties), which the window form must equal exactly.
    Q("q_join_asof_nearest",
      """WITH ee AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
        |    (floor(epoch(CAST(ts AS TIMESTAMP))))::BIGINT AS es
        |  FROM events),
        |j AS (SELECT ee.event_id, o.o_orderdate,
        |    abs(ee.es - (epoch(CAST(o.o_orderdate AS TIMESTAMP)))::BIGINT)
        |      AS ad,
        |    CASE WHEN (epoch(CAST(o.o_orderdate AS TIMESTAMP)))::BIGINT
        |           > ee.es THEN 1 ELSE 0 END AS fwd
        |  FROM ee JOIN orders o ON o.o_custkey = ee.user_id
        |  WHERE abs(ee.es
        |        - (epoch(CAST(o.o_orderdate AS TIMESTAMP)))::BIGINT)
        |        <= 259200),
        |g AS (SELECT event_id,
        |    arg_min(o_orderdate, 2 * ad + fwd) AS od,
        |    min(2 * ad + fwd) AS k FROM j
        |  GROUP BY event_id)
        |SELECT ee.event_id, ee.user_id, ee.ts,
        |  g.od AS nearest_od,
        |  CAST(floor(k / 2) AS BIGINT) AS delta_s,
        |  CASE WHEN k IS NULL THEN NULL
        |       WHEN k % 2 = 1 THEN 'forward' ELSE 'backward' END AS side
        |FROM ee LEFT JOIN g ON g.event_id = ee.event_id
        |ORDER BY ee.event_id""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d).select(
        col("user_id").alias("uid"), col("ts").alias("t"),
        lit(1).alias("tag"), col("event_id"),
        lit(null).cast("date").alias("od"))
      val od = Tables.orders(s, d).select(
        col("o_custkey").alias("uid"),
        col("o_orderdate").cast("timestamp").alias("t"),
        lit(0).alias("tag"), lit(null).cast("long").alias("event_id"),
        col("o_orderdate").alias("od"))
      val spec = Window.partitionBy("uid").orderBy(col("t"), col("tag"))
      val back = spec.rowsBetween(Window.unboundedPreceding,
        Window.currentRow)
      val fwd = spec.rowsBetween(Window.currentRow,
        Window.unboundedFollowing)
      ev.unionByName(od)
        .withColumn("bod", last(col("od"), ignoreNulls = true).over(back))
        .withColumn("fod", first(col("od"), ignoreNulls = true).over(fwd))
        .filter(col("tag") === 1)
        .withColumn("db", unix_timestamp(col("t"))
          - unix_timestamp(col("bod").cast("timestamp")))
        .withColumn("df", unix_timestamp(col("fod").cast("timestamp"))
          - unix_timestamp(col("t")))
        // Nearest pick as one integer key (2·Δ + forward-bit), the
        // SAME key the oracle minimizes — NULL directions drop out
        // via coalesce to an over-tolerance sentinel.
        .withColumn("kb", when(col("bod").isNotNull, col("db") * 2))
        .withColumn("kf", when(col("fod").isNotNull, col("df") * 2 + 1))
        .withColumn("k", least(coalesce(col("kb"), lit(Long.MaxValue)),
          coalesce(col("kf"), lit(Long.MaxValue))))
        .withColumn("k", when(col("k") <= 2 * 259200L + 1, col("k")))
        .select(col("event_id"), col("uid").alias("user_id"),
          col("t").alias("ts"),
          when(col("k").isNotNull,
            when(col("k") % 2 === 1, col("fod")).otherwise(col("bod")))
            .as("nearest_od"),
          expr("CAST(floor(k / 2) AS BIGINT)").as("delta_s"),
          when(col("k").isNotNull,
            when(col("k") % 2 === 1, "forward").otherwise("backward"))
            .as("side"))
        .orderBy("event_id")
    },

    // All-pairs similarity join (dedup/similarity north star):
    // cosine ≥ τ over the embeddings table. The cosine kernel is
    // evaluated ONCE, in a codegen'd projection above the join, and
    // the threshold is applied to the round(6) value on BOTH engines
    // so boundary rows can't flip between cosine implementations
    // (round 1 evaluated the kernel twice inside an interpreted BNLJ
    // condition — 23.5 s at sf0.1 on 2k vectors).
    //
    // Scale note: at τ=0.4 this corpus has a similarity CONTINUUM at
    // the threshold (~15k pairs in [0.3,0.6] at sf0.1, min qualifying
    // sim 0.40001), so no sublinear candidate scheme can be exact —
    // hyperplane-LSH recall at a 66° threshold needs band counts that
    // admit every pair. The declared operator is therefore the exact
    // quadratic join; past `spark.graft.ann.autoThresholdBytes` the
    // pair stage routes to IVF multi-probe candidates + exact verify (the
    // 100 TB route, sub-quadratic with cells ≈ √n; set-equal to the
    // exact form at the test sfs — ScalePathSpec), and q_knn_ivf /
    // q_dedup_minhash remain the dedicated search/dedup regimes.
    Q("q_similarity_join",
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings)
        |SELECT id1, id2, sim FROM (
        |  SELECT a.vec_id AS id1, b.vec_id AS id2,
        |    round(list_cosine_similarity(a.v, b.v), 6) AS sim
        |  FROM e a JOIN e b ON a.vec_id < b.vec_id) p
        |WHERE sim >= 0.4
        |ORDER BY id1, id2""".stripMargin) { (s, d) =>
      SimilarityStages.allPairsSim(Tables.embeddings(s, d), tau = 0.4)
        .orderBy("id1", "id2")
    },

    // INTERVAL OVERLAP JOIN — ranges × ranges (the join q_join_asof
    // and q_join_theta_range can't express: BOTH sides are
    // intervals): user sessions (the q_sessionize 30-min-gap
    // contract) against corpus-wide error bursts (error events
    // sessionized per calendar day with a 10-min gap), overlap
    // semantics a_start ≤ b_end ∧ b_start ≤ a_end — "which user
    // sessions ran during an incident", the ops-analytics join every
    // observability pipeline needs. Scale: the naive theta join is
    // |sessions|×|bursts| — this plan GRID-DECOMPOSES both sides
    // into the hour cells each interval touches (a scan-local
    // sequence/explode), equi-joins ON THE CELL KEY (co-partitioned
    // shuffle, volume = interval-hours, never the cross product),
    // dedups pairs that share multiple cells, and verifies the exact
    // predicate as a codegen residual — the standard interval-join
    // binning. Burst derivation windows partition by calendar DAY
    // (bursts don't span midnight by contract), session windows by
    // user — no global windows anywhere. Determinism: pure exact
    // integer micros end-to-end (counts, overlap durations); no
    // floats at all.
    Q("q_join_interval",
      """WITH x AS (SELECT user_id, ts, event_id,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS prev
        |  FROM events),
        |sess AS (SELECT user_id,
        |    CAST(sum(CASE WHEN prev IS NULL
        |        OR ts > prev + INTERVAL '30 minutes' THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS BIGINT) AS session_no,
        |    ts FROM x),
        |a AS (SELECT user_id, session_no,
        |    CAST(epoch_us(min(ts)) AS BIGINT) AS a_start,
        |    CAST(epoch_us(max(ts)) AS BIGINT) AS a_end
        |  FROM sess GROUP BY user_id, session_no),
        |ex AS (SELECT CAST(ts AS DATE) AS dte, ts, event_id,
        |    lag(ts) OVER (PARTITION BY CAST(ts AS DATE)
        |                  ORDER BY ts, event_id) AS prev
        |  FROM events WHERE event_type = 'error'),
        |eb AS (SELECT dte,
        |    CAST(sum(CASE WHEN prev IS NULL
        |        OR ts > prev + INTERVAL '10 minutes' THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY dte ORDER BY ts, event_id)
        |      AS BIGINT) AS burst_no,
        |    ts FROM ex),
        |b AS (SELECT dte, burst_no,
        |    CAST(epoch_us(min(ts)) AS BIGINT) AS b_start,
        |    CAST(epoch_us(max(ts)) AS BIGINT) AS b_end
        |  FROM eb GROUP BY dte, burst_no),
        |p AS (SELECT a.user_id, a.session_no, b.dte, b.burst_no,
        |    least(a.a_end, b.b_end) - greatest(a.a_start, b.b_start)
        |      AS ov
        |  FROM a JOIN b ON a.a_start <= b.b_end
        |                AND b.b_start <= a.a_end),
        |pu AS (SELECT user_id,
        |    CAST(count(*) AS BIGINT) AS n_pairs,
        |    CAST(count(DISTINCT session_no) AS BIGINT) AS n_hit_sessions,
        |    CAST(sum(ov) AS BIGINT) AS overlap_micros
        |  FROM p GROUP BY user_id),
        |su AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_sessions
        |  FROM a GROUP BY user_id)
        |SELECT su.user_id, su.n_sessions,
        |  CAST(coalesce(pu.n_hit_sessions, 0) AS BIGINT) AS n_hit_sessions,
        |  CAST(coalesce(pu.n_pairs, 0) AS BIGINT) AS n_pairs,
        |  CAST(coalesce(pu.overlap_micros, 0) AS BIGINT) AS overlap_micros
        |FROM su LEFT JOIN pu USING (user_id)
        |ORDER BY user_id""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d)
      val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val a = ev
        .withColumn("prev", lag("ts", 1).over(byUser))
        .withColumn("brk",
          when(col("prev").isNull ||
            col("ts") > col("prev") + expr("INTERVAL '30' MINUTE"), 1)
            .otherwise(0))
        .withColumn("session_no", sum("brk").over(byUser).cast("long"))
        .groupBy("user_id", "session_no")
        .agg(min(unix_micros(col("ts"))).cast("long").as("a_start"),
          max(unix_micros(col("ts"))).cast("long").as("a_end"))
        .localCheckpoint(eager = false) // interval frame, reused 2×
      val byDay = Window.partitionBy("dte").orderBy("ts", "event_id")
      val b = ev.filter(col("event_type") === "error")
        .withColumn("dte", col("ts").cast("date"))
        .withColumn("prev", lag("ts", 1).over(byDay))
        .withColumn("brk",
          when(col("prev").isNull ||
            col("ts") > col("prev") + expr("INTERVAL '10' MINUTE"), 1)
            .otherwise(0))
        .withColumn("burst_no", sum("brk").over(byDay).cast("long"))
        .groupBy("dte", "burst_no")
        .agg(min(unix_micros(col("ts"))).cast("long").as("b_start"),
          max(unix_micros(col("ts"))).cast("long").as("b_end"))
        .localCheckpoint(eager = false) // reused: cell sizing + grid
      // Grid decomposition: each interval lands in every cell it
      // touches; the overlap join becomes a cell-keyed equi-join
      // plus a codegen residual — never the |A|×|B| cross product.
      // Cell width: `spark.graft.interval.cellMicros` — an explicit
      // micros value pins it; `auto` (default) derives it from the
      // observed MEDIAN interval length of both sides (the
      // lsh.planes=auto discipline: a one-row probe over the
      // already-materialized interval frames, never the corpus), so
      // per-interval cell fan-out stays O(1) as densities shift —
      // a fixed cell under 100× densification multiplies either the
      // explode (cell too small for long intervals) or the per-cell
      // join fan-out (cell too large for short ones). Clamped to
      // [1 min, 7 days]; the output is cell-size-INVARIANT (exact
      // residual + pair distinct — ScalePathSpec pins it), only the
      // candidate volume moves.
      val cell: Long = s.conf
        .get("spark.graft.interval.cellMicros", "auto") match {
        case "auto" =>
          val med = a
            .select((col("a_end") - col("a_start")).as("len"))
            .unionAll(b.select((col("b_end") - col("b_start")).as("len")))
            .agg(expr("approx_percentile(len, CAST(0.5 AS DOUBLE))"))
            .head.get(0)
          val m = Option(med).map(_.asInstanceOf[Long]).getOrElse(0L)
          math.min(math.max(m, 60L * 1000000L), 7L * 24 * 3600 * 1000000L)
        case v => boundedLong("spark.graft.interval.cellMicros", v, 1)
      }
      val ac = a.withColumn("cell",
        explode(expr(s"sequence(a_start DIV $cell, a_end DIV $cell)")))
      val bc = b.withColumn("cell",
        explode(expr(s"sequence(b_start DIV $cell, b_end DIV $cell)")))
      val pairs = ac.join(bc, "cell")
        .filter(col("a_start") <= col("b_end") &&
          col("b_start") <= col("a_end"))
        .select("user_id", "session_no", "dte", "burst_no",
          "a_start", "a_end", "b_start", "b_end")
        .distinct() // a pair can share several hour cells
        .withColumn("ov",
          least(col("a_end"), col("b_end"))
            - greatest(col("a_start"), col("b_start")))
      val pu = pairs.groupBy("user_id")
        .agg(count(lit(1)).cast("long").as("n_pairs"),
          countDistinct("session_no").cast("long").as("n_hit_sessions"),
          sum("ov").cast("long").as("overlap_micros"))
      val su = a.groupBy("user_id")
        .agg(count(lit(1)).cast("long").as("n_sessions"))
      su.join(pu, Seq("user_id"), "left")
        .selectExpr("user_id", "n_sessions",
          "CAST(coalesce(n_hit_sessions, 0) AS BIGINT) AS n_hit_sessions",
          "CAST(coalesce(n_pairs, 0) AS BIGINT) AS n_pairs",
          "CAST(coalesce(overlap_micros, 0) AS BIGINT) AS overlap_micros")
        .orderBy("user_id")
    },
  )
}

/** The vector pair stages. Every operator that compares embeddings
  * pairwise goes through one core with two routes: q_similarity_join,
  * q_dedup_embed and q_lsh_embed's truth arm ([[allPairsSim]]), the
  * kNN family q_mutual_knn / q_lof / q_dbscan ([[knnCandidates]]) and
  * q_knn_classifier ([[knnCandidatesBipartite]]). Each entry returns
  * (id, id, score) rows with the kernel fused into the candidate
  * stage, never vector pairs: the only pair-sized exchange then
  * carries ~24-byte rows (the round-12 100× smoke shipped ~200 GB of
  * re-attached vector pairs through an exchange).
  *
  * [[route]] picks the route by the input's size estimate, so the
  * oracled test sfs run the declared exact plan and large inputs route
  * to ann with no conf change.
  *
  *  - `exact` (the declared, oracled semantics): a BLOCK-CHUNKED theta
  *    join. The build side is split into B blocks (pmod on its id) and
  *    the per-block joins are unioned, so each join's build side holds
  *    n/B rows while the union of disjoint blocks is exactly the
  *    all-pairs set (ScalePathSpec and PairStageSpec pin both).
  *    B is [[blockCount]], sized from the plan's estimate. No broadcast
  *    hint: a whole-table block on every executor hits the 8 GB
  *    broadcast ceiling long before 100 TB; at small sizes Catalyst
  *    broadcasts by its own estimate, and past it the plan degrades to
  *    a spillable cartesian instead of an executor OOM. The kernel is
  *    the fused `cosine_distance` / `sq_l2_distance`.
  *  - `ann` (the 100 TB route): IVF multi-probe candidates. Each vector
  *    is assigned to its P nearest of C codebook cells
  *    ([[probeAssignments]]: one `nearest_cells` projection and an
  *    explode, carrying the vector), and the candidates are a
  *    cell-keyed self-join: the exchange ships n·P vector rows,
  *    and pairs exist only inside the join stage, where the kernel
  *    reduces them to score rows. A pair sharing several probe cells
  *    is kept only in its smallest shared cell
  *    (`min_common_long(a_cids, b_cids) = cid`), a scan-local filter over
  *    two ≤P-element arrays; the distinct() it replaced hashed the raw
  *    duplicated pair stream and spilled 154-157 GB per query at the
  *    100× fixture. The cell join is SHUFFLE_HASH: a sort-merge join
  *    buffers each cell's whole vector-carrying match group per probe
  *    row. The kernel is `cosine_distance_pre_norm` with the
  *    pair-invariant `norm_sq` hoisted onto the n·P assignment rows
  *    (bit-identical to the fused kernel, CosinePreNormSpec), or
  *    `sq_l2_distance`, which has no pair-invariant part. C is
  *    [[annCells]] (≈ √n) and P is [[annProbes]]: candidate volume is
  *    ~n²·P²/C and assignment work n·C distances, so C ≈ √n with few
  *    probes is the joint optimum (BENCH.md round 10). Precision is exact;
  *    recall is governed by P/C and is total at the test sfs, so
  *    ScalePathSpec pins ann ≡ exact for every operator.
  */
object SimilarityStages {

  /** Catalyst's size estimate for a frame, or None when the plan
    * reports the UNKNOWN sentinel (`spark.sql.defaultSizeInBytes`,
    * Long.MaxValue by default — RDD-backed frames without
    * originStats, foreign sources, anything Catalyst can't size).
    * Every sizing formula below must treat unknown as unknown: a
    * saturated estimate fed into ceil(bytes/target) would silently
    * absorb into the cap (4096-way union of cartesian blocks —
    * round-10 advice) instead of picking a sane default. */
  def planBytes(e: DataFrame): Option[BigInt] = {
    val bytes = e.queryExecution.optimizedPlan.stats.sizeInBytes
    val unknown = BigInt(e.sparkSession.sessionState.conf.defaultSizeInBytes)
    if (bytes >= unknown) None else Some(bytes)
  }

  /** Blocks for the chunked exact pair stages. `auto` = ceil(input
    * size estimate / `spark.graft.simjoin.blockBytes`, default
    * 256 MB): each block's build side stays a bounded fraction, and
    * the count GROWS with the data — the property the 100 TB claim
    * needs — while sf0.1-scale inputs (tens of MB) collapse to one
    * block and skip the 4× join overhead measured in round 9
    * (q_lof 2.83→6.17 s, q_dbscan 7.59→10.41 s). Size comes from
    * Catalyst's plan statistics (file-size-derived for parquet
    * scans) — no extra job. Capped at 4096 so a pathological
    * estimate can't explode the plan's operator count; an UNKNOWN
    * estimate ([[planBytes]]) falls back to a fixed 4 blocks (bounded
    * build sides without the plan-size explosion the cap would
    * otherwise absorb) and says so on stderr. */
  def blockCount(e: DataFrame): Int = {
    val conf = e.sparkSession.conf
    conf.get("spark.graft.simjoin.blocks", "auto") match {
      case "auto" =>
        val target = BigInt(boundedLong("spark.graft.simjoin.blockBytes",
          conf.get("spark.graft.simjoin.blockBytes", (256L << 20).toString), 1))
        planBytes(e) match {
          case Some(bytes) =>
            (((bytes + target - 1) / target) max 1 min 4096).toInt
          case None =>
            System.err.println("[graft] simjoin.blocks=auto: plan size " +
              "estimate is unknown (defaultSizeInBytes sentinel); " +
              "falling back to 4 blocks — set spark.graft.simjoin.blocks " +
              "explicitly to override")
            4
        }
      case explicit =>
        boundedLong("spark.graft.simjoin.blocks", explicit, 1, Int.MaxValue).toInt
    }
  }

  /** The pair-stage route: `ann` when the input's size estimate is at
    * least `spark.graft.ann.autoThresholdBytes` (default 4 MiB — the
    * measured crossover: at sf0.1 (~0.8 MB embeddings) the exact route
    * wins, at 10× (~8 MB) IVF multi-probe with C ≈ √n and few probes
    * beats it 1.3–2× and the gap widens with n — BENCH.md round 10),
    * else `exact`. Every oracled test sf sits below the threshold. An
    * unknown estimate resolves to exact (declared semantics). */
  def route(e: DataFrame): String =
    if (atScale(e.sparkSession, "vector pair stage",
        "spark.graft.ann.autoThresholdBytes", 4L << 20)(planBytes(e))) "ann"
    else "exact"

  /** IVF cell count for the ann route, `spark.graft.knn.ann.cells`.
    * An explicit integer pins it; the default `auto` derives C ≈ √n
    * from Catalyst's plan statistics — the joint optimum of the n·C
    * assignment stage and the n²·P²/C bucket stage (both
    * sub-quadratic at √n; BENCH.md round 10 has the measurements —
    * C=16 fixed degenerates to all-pairs at 10×, C ∝ n makes the
    * assignment the new quadratic term). Row count falls back to
    * sizeInBytes over an assumed ~540-byte row (BIGINT id + 64-dim
    * DOUBLE array) when the estimate carries no rowCount — C only
    * needs the right ORDER, not the exact n. Floor 16 (never fewer
    * cells than the round-10 pinned constant, so the small-sf
    * recall-total behavior the specs pin is unchanged), cap 65536
    * (beyond that the codebook broadcast itself needs the
    * hierarchical treatment). An UNKNOWN size estimate
    * ([[planBytes]]) resolves to the 16 floor. */
  def annCells(e: DataFrame): Int = {
    val key = "spark.graft.knn.ann.cells"
    e.sparkSession.conf.get(key, "auto") match {
      case "auto" =>
        val rows = e.queryExecution.optimizedPlan.stats.rowCount
          .map(_.toLong)
          .orElse(planBytes(e).map(b => (b / 540).toLong max 1L))
        rows match {
          case Some(n) => (math.sqrt(n.toDouble).ceil.toInt max 16) min 65536
          case None => 16
        }
      case explicit => boundedLong(key, explicit, 1, Int.MaxValue).toInt
    }
  }

  /** Probe count for the ann route, `spark.graft.knn.ann.probes`. An
    * explicit integer pins it; the default `auto` scales DOWN from the
    * entry's pinned coverage at the 16-cell floor (`pinned` of 16 —
    * total recall at the test sfs, spec-pinned set-equality) as the
    * cell count grows: P = max(2, ceil(16·pinned / C)), i.e. constant
    * P/C coverage until it bottoms out at the measured large-n
    * optimum of 2 probes (BENCH.md round 10: C≈√n with P=2 beats
    * the exact route 1.3–2× at 10×, while P=8-of-16 re-degenerates to
    * all-pairs). At C = the 16 floor this is exactly the pinned
    * constant, so small-sf behavior is unchanged. */
  def annProbes(e: DataFrame, cells: Int, pinned: Int): Int = {
    val key = "spark.graft.knn.ann.probes"
    e.sparkSession.conf.get(key, "auto") match {
      case "auto" => math.max(2, math.ceil(16.0 * pinned / cells).toInt)
      case explicit => boundedLong(key, explicit, 1, Int.MaxValue).toInt
    }
  }

  /** All pairs id1 < id2 with cosine similarity round(1 - d, 6) ≥ τ,
    * as (id1, id2, sim), over the embeddings frame (vec_id,
    * embedding). The gates size `e` itself; ann probes 6 of 16 cells
    * at the floor. */
  def allPairsSim(e: DataFrame, tau: Double): DataFrame =
    pairStage(e, doubles(e), None, col("id1") < col("id2"),
      pinned = 6, "cosine", simCols)(d => round(lit(1.0) - d, 6))
      .filter(col("sim") >= tau)

  /** Directed neighbor candidates for the kNN-shaped operators
    * (q_mutual_knn top-3, q_lof top-5, q_dbscan eps-neighbors).
    * Input (vec_id, v ARRAY<DOUBLE>); output (a, b, dist) for every
    * a ≠ b the route admits, dist = round(metric kernel, 6) — callers
    * apply their top-k window or eps filter on top. Both orientations
    * come out of the a ≠ b join. Ann probes 8 of 16 cells at the
    * floor. */
  def knnCandidates(e: DataFrame, metric: String): DataFrame =
    pairStage(e, e, None, col("a") =!= col("b"),
      pinned = 8, metric, knnCols)(round(_, 6))

  /** [[knnCandidates]] for classifier-shaped operators: input (vec_id,
    * v ARRAY<DOUBLE>, lab BOOLEAN); anchors `a` are the rows where
    * `lab` is false, neighbors `b` the rows where it is true. The
    * restriction is pushed INTO the candidate stage (a post-filter
    * computed the kernel for every same-cell pair and dropped 3/4 of
    * them), and the result is exactly [[knnCandidates]]' rows
    * restricted to that orientation (PairStageSpec): the gates read the
    * bare (vec_id, v) frame — a frame widened by `lab` would size
    * differently — and the ann route splits the SAME per-vector probe
    * assignments. */
  def knnCandidatesBipartite(e: DataFrame, metric: String): DataFrame =
    pairStage(e.select(col("vec_id"), col("v")), e, Some("lab"),
      col("a") =!= col("b"), pinned = 8, metric, knnCols)(round(_, 6))

  /** The ann route's candidate pairs (id1, id2), id1 < id2, over the
    * embeddings frame at an explicit cell and probe count — no
    * kernel survives into the output. */
  def annCandidates(e: DataFrame, cells: Int, probes: Int,
                    metric: String = "cosine"): DataFrame =
    annRoute(doubles(e), None, col("id1") < col("id2"), cells, probes,
      metric, simCols, identity).select("id1", "id2")

  /** (vec_id, v) with the embedding cast f32→f64 once per row, below
    * every join, so the pair kernels read doubles directly. */
  private def doubles(e: DataFrame): DataFrame =
    e.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))

  /** The column names one side of a pair stage carries: its id (an
    * output column), its vector, and on the ann route its probe-cell
    * set and squared norm. */
  private final case class Side(id: String, v: String, cids: String, nsq: String)

  /** Both sides' columns plus the output score column. */
  private final case class PairCols(a: Side, b: Side, score: String)

  private val simCols = PairCols(Side("id1", "v1", "c1", "n1"),
    Side("id2", "v2", "c2", "n2"), "sim")
  private val knnCols = PairCols(Side("a", "av", "acids", "ansq"),
    Side("b", "bv", "bcids", "bnsq"), "dist")

  /** The pair-stage core. `gate` is the frame the size gates read;
    * `vecs` holds (vec_id, v ARRAY<DOUBLE>) and, when `side` names a
    * boolean column, pairs its false rows (side a) with its true rows
    * (side b); `pair` is the predicate on the two id columns;
    * `pinned` is the probe count at the 16-cell floor; `score` maps
    * the raw kernel distance to the output score. */
  private def pairStage(gate: DataFrame, vecs: DataFrame,
      side: Option[String], pair: Column, pinned: Int, metric: String,
      cols: PairCols)(score: Column => Column): DataFrame =
    route(gate) match {
      case "exact" =>
        exactRoute(vecs, side, pair, blockCount(gate), metric, cols, score)
      case "ann" =>
        val cells = annCells(gate)
        annRoute(vecs, side, pair, cells, annProbes(gate, cells, pinned),
          metric, cols, score)
    }

  /** (side a rows, side b rows): the split by `side`, or both whole. */
  private def sides(df: DataFrame, side: Option[String]): (DataFrame, DataFrame) =
    side.fold((df, df))(s => (df.filter(!col(s)), df.filter(col(s))))

  /** The pair distance in `metric`: the fused kernel, or with
    * `hoisted` norms the cosine kernel that reads each side's
    * `norm_sq` column (l2 has no pair-invariant part). */
  private def kernel(metric: String, cols: PairCols, hoisted: Boolean): Column = {
    val (a, b) = (cols.a, cols.b)
    metric match {
      case "cosine" if hoisted =>
        cosine_distance_pre_norm(col(a.v), col(b.v), col(a.nsq), col(b.nsq))
      case "cosine" => cosine_distance(col(a.v), col(b.v))
      case "l2" => sq_l2_distance(col(a.v), col(b.v))
      case other => throw new IllegalArgumentException(
        s"pair metric must be cosine|l2, got '$other'")
    }
  }

  private def exactRoute(vecs: DataFrame, side: Option[String], pair: Column,
      blocks: Int, metric: String, cols: PairCols,
      score: Column => Column): DataFrame = {
    val (va, vb) = sides(vecs, side)
    val a = fanout(va.select(col("vec_id").as(cols.a.id), col("v").as(cols.a.v)))
    val bAll = vb.select(col("vec_id").as(cols.b.id), col("v").as(cols.b.v))
    val dist = kernel(metric, cols, hoisted = false)
    (0 until blocks).map { k =>
      val b = if (blocks == 1) bAll
              else bAll.filter(pmod(col(cols.b.id), lit(blocks)) === k)
      a.join(b, pair)
        .select(col(cols.a.id), col(cols.b.id), score(dist).as(cols.score))
    }.reduce(_ unionByName _)
  }

  private def annRoute(vecs: DataFrame, side: Option[String], pair: Column,
      cells: Int, probes: Int, metric: String, cols: PairCols,
      score: Column => Column): DataFrame = {
    // l2 rows carry a constant norm the kernel never reads: one plan
    // shape for both metrics. The sides split after the assignment, so
    // both keep the codebook and probe sets of the unsplit stage.
    val asg = probeAssignments(vecs, cells, probes, metric)
      .withColumn("nsq",
        if (metric == "cosine") norm_sq(col("v")) else lit(0.0))
    val (ra, rb) = sides(asg, side)
    def cellRows(rows: DataFrame, s: Side): DataFrame =
      rows.select(col("cid"), col("vec_id").as(s.id), col("v").as(s.v),
        col("cids").as(s.cids), col("nsq").as(s.nsq))
    val joined = cellRows(ra, cols.a)
      .join(cellRows(rb, cols.b).hint("SHUFFLE_HASH"), "cid")
    // Split sides never pair a vector with itself.
    (if (side.isEmpty) joined.filter(pair) else joined)
      .filter(expr(s"min_common_long(${cols.a.cids}, ${cols.b.cids}) = cid"))
      .select(col(cols.a.id), col(cols.b.id),
        score(kernel(metric, cols, hoisted = true)).as(cols.score))
  }

  /** Top-`probes` IVF cell assignments of `vecs` (vec_id, v
    * ARRAY<DOUBLE>, any other columns), CARRYING every input column:
    * one row per (vector, probe cell) with `cid` and `cids`, the
    * vector's full probe-cell set. The codebook is the first `cells`
    * vectors (vec_id < cells, as q_knn_ivf), collected once on the
    * driver; the ranking is one `nearest_cells` projection and an
    * explode, with no join, window or shuffle. `metric` picks the
    * cell distance (cosine, or l2 ranked by squared l2 like the pair
    * kernel) — probing cells by the WRONG metric would silently cost
    * recall on unnormalized embeddings. */
  private def probeAssignments(vecs: DataFrame, cells: Int, probes: Int,
      metric: String): DataFrame = {
    val cellMetric = metric match {
      case "cosine" => CellMetric.Cosine
      case "l2" => CellMetric.SqL2
      case other => throw new IllegalArgumentException(
        s"ann metric must be cosine|l2, got '$other'")
    }
    val cb = Codebook.collect(vecs.filter(col("vec_id") < cells).select("vec_id", "v"))
    vecs.withColumn("cids", nearest_cells(col("v"), cb, probes, cellMetric))
      .withColumn("cid", explode(col("cids")))
  }
}
