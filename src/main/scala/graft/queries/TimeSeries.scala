package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables

/** Time-series resampling over `events` — the regularization pass
  * between raw event feeds and anything windowed/trained downstream
  * (the reference's ingest timeline is exactly such a feed: one
  * event per photo add/update, photo_vector_search.py:94).
  *
  * Scale design: the per-user hourly grid is generated from each
  * user's own [min, max] span (sequence + explode — rows appear only
  * where a user has history, not a global cross join), the fill is a
  * running `last(ignoreNulls)` over a user-partitioned window (one
  * shuffle keyed on user, state = one row per partition frame), and
  * everything else is scan-local. At 100 TB the same plan holds:
  * grid size is O(users × active-span), never O(users × calendar).
  */
object TimeSeries {

  val qs: Seq[Q] = Seq(

    // Hourly resample + forward fill: per (user < 100) hourly value
    // sums on a gap-free hour grid, missing hours carry the last
    // observed value forward; `filled` marks synthesized rows.
    Q("q_ts_gapfill",
      """WITH e AS (SELECT user_id,
        |    date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h, value
        |  FROM events WHERE user_id < 100),
        |hourly AS (SELECT user_id, h,
        |    round(CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE), 6) AS v
        |  FROM e GROUP BY 1, 2),
        |span AS (SELECT user_id, min(h) AS h0, max(h) AS h1
        |         FROM hourly GROUP BY 1),
        |grid AS (SELECT user_id,
        |    unnest(generate_series(h0, h1, INTERVAL '1 hour')) AS h
        |  FROM span),
        |j AS (SELECT g.user_id, g.h, hr.v
        |      FROM grid g LEFT JOIN hourly hr
        |        ON g.user_id = hr.user_id AND g.h = hr.h)
        |SELECT user_id, h,
        |  last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY h
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_filled,
        |  CASE WHEN v IS NULL THEN 1 ELSE 0 END AS filled
        |FROM j ORDER BY user_id, h""".stripMargin) { (s, d) =>
      val hourly = Tables.events(s, d).filter(col("user_id") < 100)
        .withColumn("h", date_trunc("hour", col("ts")))
        .groupBy("user_id", "h").agg(dsum(col("value")).as("v"))
      val grid = hourly.groupBy("user_id")
        .agg(min("h").as("h0"), max("h").as("h1"))
        .select(col("user_id"),
          explode(expr("sequence(h0, h1, interval 1 hour)")).as("h"))
      val w = Window.partitionBy("user_id").orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      grid.join(hourly, Seq("user_id", "h"), "left")
        .withColumn("v_filled", last(col("v"), ignoreNulls = true).over(w))
        .withColumn("filled", col("v").isNull.cast("int"))
        .select("user_id", "h", "v_filled", "filled")
        .orderBy("user_id", "h")
    },

    // Batch SESSIONIZATION: a >30-min silence starts a new session
    // per user (the batch twin of q_stream_session's event-time
    // session windows — this is the shape you run over the HISTORY
    // while streaming handles the live tail). One shuffle total:
    // the lag window hashes on user_id and the (user_id, session_no)
    // aggregation reuses that clustering (hash on a subset of the
    // group keys satisfies the aggregation's distribution), so at
    // 100 TB this is scan → one exchange → window + partial/final
    // agg. Ordering ties broken by event_id on both engines.
    Q("q_sessionize",
      """WITH x AS (SELECT user_id, ts, event_id, value,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events),
        |f AS (SELECT user_id, ts, event_id, value,
        |    CASE WHEN prev IS NULL
        |           OR ts > prev + INTERVAL '30 minutes' THEN 1 ELSE 0 END AS brk
        |  FROM x),
        |s AS (SELECT user_id, ts, event_id, value,
        |    CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS session_no
        |  FROM f)
        |SELECT user_id, session_no,
        |  min(ts) AS session_start, max(ts) AS session_end,
        |  count(*) AS n_events,
        |  round(CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE), 6) AS total_value
        |FROM s GROUP BY user_id, session_no
        |ORDER BY user_id, session_no""".stripMargin) { (s, d) =>
      val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
      Tables.events(s, d)
        .withColumn("prev", lag("ts", 1).over(byUser))
        .withColumn("brk",
          when(col("prev").isNull ||
            col("ts") > col("prev") + expr("INTERVAL '30' MINUTE"), 1)
            .otherwise(0))
        .withColumn("session_no", sum("brk").over(byUser))
        .groupBy("user_id", "session_no")
        .agg(min("ts").as("session_start"), max("ts").as("session_end"),
          count(lit(1)).as("n_events"), dsum(col("value")).as("total_value"))
        .orderBy("user_id", "session_no")
    },

    // TIME-DECAYED AGGREGATE: recency-weighted engagement per user —
    // each event contributes value · 2^(-age/half-life) with a
    // 30-day half-life against a fixed reference instant. The decay
    // factor is PER-ROW scan-local math (unlike a recursive EWMA, no
    // sequential dependency), so the whole operator is one
    // partial-aggregated groupBy at any scale; per-term weights are
    // rounded then decimal-summed, making the sum order-independent
    // across engines. Ages are computed on whole-second epochs
    // (both engines floor the micros identically) so the exp()
    // argument is integer-derived and bit-identical. Reference
    // epoch 1735689600 = 2025-01-01 00:00:00 UTC, after the event
    // span.
    Q("q_ts_decay",
      """SELECT user_id, count(*) AS n_events,
        |  round(CAST(sum(CAST(
        |    round(value * exp(
        |      -(1735689600 - epoch(date_trunc('second', CAST(ts AS TIMESTAMP))))
        |        * ln(2) / 2592000.0), 6)
        |  AS DECIMAL(38,6))) AS DOUBLE), 6) AS decayed_value
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .withColumn("term", round(
          col("value") * exp((unix_timestamp(col("ts")) - lit(1735689600L))
            * lit(math.log(2)) / lit(2592000.0)), 6))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"), dsum(col("term")).as("decayed_value"))
        .orderBy("user_id")
    },

    // ORDERED FUNNEL: users who viewed, then clicked AFTER their
    // first view, then purchased AFTER that click — the product-
    // analytics conversion verb (strict event-time ordering, not
    // mere co-occurrence). All three stage marks are min-over-
    // partition windows with the SAME user_id partitioning, so they
    // ride ONE hash exchange; the final count-distinct trio is a
    // constant-size global aggregate. No self-joins — the naive
    // 3-way event self-join this replaces is quadratic in events
    // per user.
    Q("q_funnel",
      """WITH e AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts
        |           FROM events),
        |w1 AS (SELECT *, min(CASE WHEN event_type = 'view' THEN ts END)
        |         OVER (PARTITION BY user_id) AS t1 FROM e),
        |w2 AS (SELECT *, min(CASE WHEN event_type = 'click' AND ts > t1
        |                          THEN ts END)
        |         OVER (PARTITION BY user_id) AS t2 FROM w1),
        |w3 AS (SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > t2
        |                          THEN ts END)
        |         OVER (PARTITION BY user_id) AS t3 FROM w2)
        |SELECT
        |  count(DISTINCT CASE WHEN t1 IS NOT NULL THEN user_id END) AS viewed,
        |  count(DISTINCT CASE WHEN t2 IS NOT NULL THEN user_id END) AS clicked,
        |  count(DISTINCT CASE WHEN t3 IS NOT NULL THEN user_id END) AS purchased
        |FROM w3""".stripMargin) { (s, d) =>
      val byUser = Window.partitionBy("user_id")
      Tables.events(s, d)
        .select(col("user_id"), col("event_type"), col("ts"))
        .withColumn("t1",
          min(when(col("event_type") === "view", col("ts"))).over(byUser))
        .withColumn("t2",
          min(when(col("event_type") === "click" && col("ts") > col("t1"),
            col("ts"))).over(byUser))
        .withColumn("t3",
          min(when(col("event_type") === "purchase" && col("ts") > col("t2"),
            col("ts"))).over(byUser))
        .agg(
          countDistinct(when(col("t1").isNotNull, col("user_id"))).as("viewed"),
          countDistinct(when(col("t2").isNotNull, col("user_id"))).as("clicked"),
          countDistinct(when(col("t3").isNotNull, col("user_id"))).as("purchased"))
    },

    // COHORT RETENTION: users bucketed by signup week (their first
    // 'signup' event), activity counted per whole-week offset from
    // the cohort — the (cohort × week) engagement matrix, emitted as
    // flat rows. Scale: the signup aggregation and the activity join
    // both key on user_id (one co-located exchange pair); the final
    // (cohort, offset) count-distinct is partial-aggregated over a
    // calendar-bounded key space. Both engines truncate weeks to
    // Monday in UTC, so the day delta is always a multiple of 7 and
    // the integer division is exact.
    Q("q_retention",
      """WITH su AS (SELECT user_id,
        |    CAST(date_trunc('week', min(CAST(ts AS TIMESTAMP))) AS DATE) AS cohort
        |  FROM events WHERE event_type = 'signup' GROUP BY 1)
        |SELECT su.cohort,
        |  date_diff('day', su.cohort,
        |    CAST(date_trunc('week', CAST(e.ts AS TIMESTAMP)) AS DATE)) // 7
        |    AS week_offset,
        |  count(DISTINCT e.user_id) AS active_users
        |FROM su JOIN events e USING (user_id)
        |WHERE CAST(date_trunc('week', CAST(e.ts AS TIMESTAMP)) AS DATE) >= su.cohort
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d)
      val su = ev.filter(col("event_type") === "signup")
        .groupBy("user_id").agg(min("ts").as("t0"))
        .select(col("user_id"), date_trunc("week", col("t0")).cast("date").as("cohort"))
      su.join(ev.select(col("user_id"),
          date_trunc("week", col("ts")).cast("date").as("wk")), "user_id")
        .filter(col("wk") >= col("cohort"))
        .withColumn("week_offset", expr("CAST(datediff(wk, cohort) DIV 7 AS BIGINT)"))
        .groupBy("cohort", "week_offset")
        .agg(countDistinct("user_id").as("active_users"))
        .orderBy("cohort", "week_offset")
    },

    // Z-SCORE ANOMALY FLAGGING: purchases more than 2 per-user
    // standard deviations from that user's mean — the outlier gate a
    // feature pipeline runs before aggregation (the robust cousin is
    // q_winsorize's percentile clip). Moment sums ride one
    // partial-aggregated user_id groupBy (count/Σx/Σx² — fixed-width
    // state, the sketch pattern), joined back against the same
    // user_id clustering; z itself is scan-local. The moment sums go
    // through the DECIMAL(38,6) discipline so both engines feed
    // bit-identical (n, Σx, Σx²) into the identical IEEE z
    // expression — no accumulation-order drift at the |z| > 2
    // boundary.
    Q("q_ts_anomaly",
      s"""WITH p AS (SELECT event_id, user_id, value FROM events
         |           WHERE event_type = 'purchase'),
         |st AS (SELECT user_id, count(*) AS n,
         |         ${dsumSql("value")} AS sv,
         |         ${dsumSql("value * value")} AS sv2
         |       FROM p GROUP BY 1)
         |SELECT p.event_id, p.user_id, round(p.value, 6) AS value,
         |  round((p.value - sv / n) / sqrt((sv2 - sv * sv / n) / (n - 1)), 6) AS z
         |FROM p JOIN st USING (user_id)
         |WHERE n >= 2 AND (sv2 - sv * sv / n) / (n - 1) > 0
         |  AND abs(round((p.value - sv / n)
         |        / sqrt((sv2 - sv * sv / n) / (n - 1)), 6)) > 2
         |ORDER BY event_id""".stripMargin) { (s, d) =>
      val p = Tables.events(s, d).filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "value")
      val st = p.groupBy("user_id").agg(
        count(lit(1)).as("n"),
        dsum(col("value")).as("sv"),
        dsum(col("value") * col("value")).as("sv2"))
      p.join(st, "user_id")
        .filter("n >= 2 AND (sv2 - sv * sv / n) / (n - 1) > 0")
        .withColumn("z",
          expr("round((value - sv / n) / sqrt((sv2 - sv * sv / n) / (n - 1)), 6)"))
        .filter("abs(z) > 2")
        .selectExpr("event_id", "user_id", "round(value, 6) AS value", "z")
        .orderBy("event_id")
    },

    // MARKOV TRANSITION MATRIX — per-user event sequences folded into
    // the first-order behavior model P(next event type | current):
    // the path-mining summary behind "what do users do after X"
    // product analytics and behavior-sequence training-data audits
    // (q_funnel checks ONE prescribed path; this measures ALL
    // observed one-step paths). Sequence order is (ts, event_id) —
    // event_id is unique, so the successor pick is a total order both
    // engines resolve identically. The probability cnt/total is a
    // small-denominator rational that CAN land exactly on a decimal
    // half, so it rounds in EXACT INTEGER space (the package.scala
    // mean-rounding caveat), never via round(double).
    // Scale: ONE user-keyed shuffle for the lead() window (never
    // partition-less), then a partial-aggregated pair count whose
    // output is |event_type|²-sized; the per-source totals frame is
    // smaller still and BROADCASTS back onto it — at 100 TB the only
    // data-sized exchange is the window's user hash.
    Q("q_markov_transitions",
      """WITH s AS (SELECT user_id, event_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY CAST(ts AS TIMESTAMP), event_id) AS nxt
        |  FROM events),
        |p AS (SELECT event_type AS src, nxt AS dst, count(*) AS cnt
        |      FROM s WHERE nxt IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT src, CAST(sum(cnt) AS BIGINT) AS total
        |      FROM p GROUP BY 1)
        |SELECT p.src, p.dst, cnt, total,
        |  CAST(floor((2 * cnt * 1000000 + total) / (2.0 * total))
        |    / 1000000.0 AS DOUBLE) AS prob
        |FROM p JOIN t USING (src) ORDER BY src, dst""".stripMargin) {
      (s, d) =>
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        // The pair frame is |event_type|²-sized; localCheckpoint pins
        // it so the totals branch reuses it instead of re-running the
        // event-sized window pass (the q_pagerank loop discipline).
        val pairs = Tables.events(s, d)
          .withColumn("nxt", lead(col("event_type"), 1).over(w))
          .filter(col("nxt").isNotNull)
          .groupBy(col("event_type").as("src"), col("nxt").as("dst"))
          .agg(count(lit(1)).as("cnt"))
          .localCheckpoint(eager = false)
        val totals = pairs.groupBy("src")
          .agg(sum("cnt").cast("long").as("total"))
        pairs.join(broadcast(totals), "src")
          .selectExpr("src", "dst", "cnt", "total",
            "CAST(floor((2 * cnt * 1000000 + total) / (2.0 * total))" +
              " / 1000000.0 AS DOUBLE) AS prob")
          .orderBy("src", "dst")
    },

    // MARKETING ATTRIBUTION — each purchase credits the user's first
    // and last marketing touch (click/view) STRICTLY BEFORE it; the
    // output is the first-touch × last-touch conversion matrix (its
    // margins are the two classic attribution reports; '(none)' =
    // organic conversions with no prior touch). q_join_asof picks one
    // nearest event by range join; this is the running-state form —
    // both attribution models fall out of ONE ordered pass.
    // Sequence order is (ts, event_id), a total order both engines
    // resolve identically; the 1-PRECEDING frame bound excludes the
    // conversion row itself (a purchase is not its own touch).
    // Scale: ONE user-keyed shuffle feeds both window functions
    // (same partition spec — a single exchange, even though Spark
    // plans first/last as two Window operators over it), then a
    // partial-aggregated count to a ≤(|touch|+1)²-sized matrix.
    // No joins.
    Q("q_attribution",
      """WITH x AS (SELECT user_id, event_id, event_type,
        |    CAST(ts AS TIMESTAMP) AS ts,
        |    CASE WHEN event_type IN ('click', 'view') THEN event_type
        |    END AS touch FROM events),
        |a AS (SELECT event_type,
        |    first_value(touch IGNORE NULLS) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS ft,
        |    last_value(touch IGNORE NULLS) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS lt
        |  FROM x)
        |SELECT coalesce(ft, '(none)') AS first_touch,
        |  coalesce(lt, '(none)') AS last_touch, count(*) AS conversions
        |FROM a WHERE event_type = 'purchase'
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      val touch = when(col("event_type").isin("click", "view"),
        col("event_type"))
      Tables.events(s, d)
        .withColumn("ft", first(touch, ignoreNulls = true).over(w))
        .withColumn("lt", last(touch, ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase")
        .groupBy(coalesce(col("ft"), lit("(none)")).as("first_touch"),
          coalesce(col("lt"), lit("(none)")).as("last_touch"))
        .agg(count(lit(1)).as("conversions"))
        .orderBy("first_touch", "last_touch")
    },

    // CUSUM CHANGE-POINT — per event_type, the day where the
    // cumulative sum of (daily mean − overall mean) peaks in
    // magnitude: the classic single-change-point locator for "when
    // did this metric's level shift" (data-drift dating for a corpus
    // feed; q_ts_anomaly flags outlier EVENTS, this dates a LEVEL
    // change). All means are 6dp micro-unit BIGINTs rounded in exact
    // integer space (per-row values round to micros BEFORE the exact
    // integer daily sums — the dsum discipline in integer form), so
    // the CUSUM walk and its argmax are exact integer arithmetic in
    // both engines; ties on |cusum| break to the earliest day.
    // The (2·S + n)/(2·n) half-up division stays double-exact while
    // 2·S < 2⁵³ micro-units (≈4.5e9 value-units per type-day) —
    // beyond that, swap to BIGINT DIV. Scale: ONE partial-aggregated
    // groupBy folds events to the type×day frame (localCheckpoint —
    // no second corpus scan); everything after is day-count-sized:
    // broadcast grand-mean join, type-partitioned windows.
    Q("q_changepoint",
      """WITH v AS (SELECT event_type,
        |    CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |    CAST(round(value * 1000000) AS BIGINT) AS y6 FROM events),
        |d AS (SELECT event_type, day, CAST(sum(y6) AS BIGINT) AS s,
        |      count(*) AS n FROM v GROUP BY 1, 2),
        |g AS (SELECT event_type, CAST(sum(s) AS BIGINT) AS st,
        |      CAST(sum(n) AS BIGINT) AS nt FROM d GROUP BY 1),
        |m AS (SELECT d.event_type, day,
        |    CAST(floor((2 * s + n) / (2.0 * n)) AS BIGINT) AS m6,
        |    CAST(floor((2 * st + nt) / (2.0 * nt)) AS BIGINT) AS mu6
        |  FROM d JOIN g USING (event_type)),
        |c AS (SELECT event_type, day,
        |    CAST(sum(m6 - mu6) OVER (PARTITION BY event_type
        |      ORDER BY day) AS BIGINT) AS cusum6 FROM m),
        |r AS (SELECT event_type, day, cusum6,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY abs(cusum6) DESC, day) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n_days FROM c)
        |SELECT event_type, day AS cp_day,
        |  CAST(cusum6 / 1000000.0 AS DOUBLE) AS cusum, n_days
        |FROM r WHERE rn = 1 ORDER BY event_type""".stripMargin) { (s, d) =>
      val v = Tables.events(s, d).select(col("event_type"),
        col("ts").cast("date").as("day"),
        expr("CAST(round(value * 1000000) AS BIGINT)").as("y6"))
      // type×day frame; localCheckpoint pins it so the grand-total
      // branch reads it instead of re-scanning events (chi2 pattern).
      val dd = v.groupBy("event_type", "day")
        .agg(sum("y6").as("s"), count(lit(1)).as("n"))
        .localCheckpoint(eager = false)
      val g = dd.groupBy("event_type")
        .agg(sum("s").as("st"), sum("n").as("nt"))
      val m = dd.join(broadcast(g), "event_type").selectExpr(
        "event_type", "day",
        "CAST(floor((2 * s + n) / (2.0 * n)) AS BIGINT) AS m6",
        "CAST(floor((2 * st + nt) / (2.0 * nt)) AS BIGINT) AS mu6")
      val wc = Window.partitionBy("event_type").orderBy("day")
      val c = m.withColumn("cusum6",
        sum(col("m6") - col("mu6")).over(wc).cast("long"))
      c.withColumn("rn", row_number().over(Window.partitionBy("event_type")
          .orderBy(abs(col("cusum6")).desc, col("day"))))
        .withColumn("n_days",
          count(lit(1)).over(Window.partitionBy("event_type")))
        .filter(col("rn") === 1)
        .selectExpr("event_type", "day AS cp_day",
          "CAST(cusum6 / 1000000.0 AS DOUBLE) AS cusum", "n_days")
        .orderBy("event_type")
    },

    // TOP EVENT PATHS — the 20 most-traveled length-3 event-type
    // sequences across per-user ordered streams (sequence mining's
    // workhorse report: "what are users actually doing", three steps
    // at a time; q_markov_transitions is the 1-step marginal of
    // this). Both lead() offsets ride the SAME user-keyed window
    // spec — one exchange — and sequence order is the (ts, event_id)
    // total order. Scale: one user-hash shuffle + one
    // partial-aggregated count to a ≤|types|³-sized frame;
    // TakeOrderedAndProject for the top-20 (count desc, then the
    // path itself as the deterministic tie-break).
    Q("q_path_ngrams",
      """WITH s AS (SELECT user_id, event_type AS e1,
        |    lead(event_type, 1) OVER (PARTITION BY user_id
        |      ORDER BY CAST(ts AS TIMESTAMP), event_id) AS e2,
        |    lead(event_type, 2) OVER (PARTITION BY user_id
        |      ORDER BY CAST(ts AS TIMESTAMP), event_id) AS e3
        |  FROM events)
        |SELECT e1, e2, e3, count(*) AS n
        |FROM s WHERE e2 IS NOT NULL AND e3 IS NOT NULL
        |GROUP BY e1, e2, e3
        |ORDER BY n DESC, e1, e2, e3 LIMIT 20""".stripMargin) { (s, d) =>
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      Tables.events(s, d)
        .withColumn("e2", lead(col("event_type"), 1).over(w))
        .withColumn("e3", lead(col("event_type"), 2).over(w))
        .filter(col("e2").isNotNull && col("e3").isNotNull)
        .groupBy(col("event_type").as("e1"), col("e2"), col("e3"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("e1"), col("e2"), col("e3"))
        .limit(20)
    },

    // SEASONAL DECOMPOSITION (STL-lite) — additive trend/seasonal/
    // residual split of the daily event-count series: trend = 7-day
    // centered moving average (NULL at the edges where the window is
    // incomplete — a partial mean would fake a level shift),
    // seasonal = per-ISO-weekday mean of the detrended series,
    // residual = the rest. The anomaly-vs-cycle separator:
    // q_seasonality profiles the RECURRING grid, q_changepoint dates
    // LEVEL shifts, q_ts_anomaly flags points — this op SPLITS the
    // signal into those channels. Scale: ONE partial-aggregated
    // groupBy folds the corpus to the day-distinct frame; everything
    // after (windows, dow means, the 7-row seasonal join) lives on
    // that calendar-bounded frame — the partition-less windows are
    // constant-sized at ANY corpus size (q_survival discipline).
    // Determinism: the WHOLE pipeline runs in EXACT INTEGER micro
    // units — counts ×1e6, floor((2S+n)/2n) means (floor of a double
    // division, identical for NEGATIVE detrended values where Spark
    // DIV truncates but DuckDB // floors — the idiom q_lm_score
    // established); doubles appear only in the final /1e6 render.
    Q("q_seasonal_decompose",
      """WITH day AS (SELECT CAST(ts AS DATE) AS d, count(*) AS y
        |             FROM events GROUP BY 1),
        |t AS (SELECT d, y,
        |    CAST(sum(y * 1000000) OVER (ORDER BY d ROWS BETWEEN
        |      3 PRECEDING AND 3 FOLLOWING) AS BIGINT) AS s7,
        |    count(*) OVER (ORDER BY d ROWS BETWEEN 3 PRECEDING
        |      AND 3 FOLLOWING) AS c7
        |  FROM day),
        |tm AS (SELECT d, y, CASE WHEN c7 = 7 THEN
        |    CAST(floor((2 * s7 + 7) / 14.0) AS BIGINT) END AS trend_micro
        |  FROM t),
        |dt AS (SELECT d, y, trend_micro,
        |    y * 1000000 - trend_micro AS detr_micro, isodow(d) AS dow
        |  FROM tm),
        |se AS (SELECT dow, CAST(floor((2 * sum(detr_micro) + count(*))
        |      / (2.0 * count(*))) AS BIGINT) AS seasonal_micro
        |  FROM dt WHERE detr_micro IS NOT NULL GROUP BY dow)
        |SELECT d, y, round(trend_micro / 1e6, 6) AS trend,
        |  round(seasonal_micro / 1e6, 6) AS seasonal,
        |  round((y * 1000000 - trend_micro - seasonal_micro) / 1e6, 6)
        |    AS residual
        |FROM dt JOIN se USING (dow) ORDER BY d""".stripMargin) { (s, d) =>
      val day = Tables.events(s, d)
        .groupBy(col("ts").cast("date").as("d"))
        .agg(count(lit(1)).as("y"))
      val w7 = Window.orderBy("d").rowsBetween(-3, 3)
      val dt = day
        .withColumn("s7", sum(col("y") * 1000000L).over(w7).cast("long"))
        .withColumn("c7", count(lit(1)).over(w7))
        .select(col("d"), col("y"),
          when(col("c7") === 7,
            floor((col("s7") * 2 + 7) / lit(14.0)).cast("long"))
            .as("trend_micro"))
        .withColumn("detr_micro", col("y") * 1000000L - col("trend_micro"))
        .withColumn("dow", weekday(col("d")) + 1)
        .localCheckpoint(eager = false)
      val se = dt.filter(col("detr_micro").isNotNull)
        .groupBy("dow")
        .agg(floor((sum("detr_micro") * 2 + count(lit(1))) /
          (count(lit(1)).cast("double") * 2)).cast("long")
          .as("seasonal_micro"))
      dt.join(broadcast(se), "dow")
        .selectExpr("d", "y", "round(trend_micro / 1e6, 6) AS trend",
          "round(seasonal_micro / 1e6, 6) AS seasonal",
          "round((y * 1000000 - trend_micro - seasonal_micro) / 1e6, 6)" +
            " AS residual")
        .orderBy("d")
    },

    // WINDOW FUNNEL — the time-bounded funnel (ClickHouse
    // windowFunnel semantics anchored at first entry): view →
    // click → purchase must ALL land within 24h of the user's FIRST
    // view, reported as a depth histogram. q_funnel answers "did
    // they ever convert"; this answers "did they convert WHILE the
    // intent was live" — the form every activation metric uses
    // (unbounded funnels only ever go up). Scale: identical to
    // q_funnel — three conditional-min windows over ONE user-keyed
    // shuffle (never partition-less), then a per-user fold and a
    // ≤4-row depth rollup. Determinism: timestamp comparisons and
    // the fixed INTERVAL bound are exact in both engines (UTC
    // session); depth is a CASE over NULL-ness.
    Q("q_window_funnel",
      """WITH e AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts
        |           FROM events),
        |w1 AS (SELECT *, min(CASE WHEN event_type = 'view' THEN ts END)
        |         OVER (PARTITION BY user_id) AS t1 FROM e),
        |w2 AS (SELECT *, min(CASE WHEN event_type = 'click' AND ts > t1
        |           AND ts <= t1 + INTERVAL 24 HOUR THEN ts END)
        |         OVER (PARTITION BY user_id) AS t2 FROM w1),
        |w3 AS (SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > t2
        |           AND ts <= t1 + INTERVAL 24 HOUR THEN ts END)
        |         OVER (PARTITION BY user_id) AS t3 FROM w2),
        |u AS (SELECT user_id, max(t1) AS t1, max(t2) AS t2, max(t3) AS t3
        |      FROM w3 GROUP BY user_id)
        |SELECT CASE WHEN t3 IS NOT NULL THEN 3 WHEN t2 IS NOT NULL THEN 2
        |            WHEN t1 IS NOT NULL THEN 1 ELSE 0 END AS depth,
        |  count(*) AS users FROM u GROUP BY 1 ORDER BY 1""".stripMargin) {
      (s, d) =>
      val byUser = Window.partitionBy("user_id")
      Tables.events(s, d)
        .select(col("user_id"), col("event_type"), col("ts"))
        .withColumn("t1",
          min(when(col("event_type") === "view", col("ts"))).over(byUser))
        .withColumn("t2",
          min(when(col("event_type") === "click" && col("ts") > col("t1")
            && col("ts") <= col("t1") + expr("INTERVAL 24 HOURS"),
            col("ts"))).over(byUser))
        .withColumn("t3",
          min(when(col("event_type") === "purchase" && col("ts") > col("t2")
            && col("ts") <= col("t1") + expr("INTERVAL 24 HOURS"),
            col("ts"))).over(byUser))
        .groupBy("user_id")
        .agg(max("t1").as("t1"), max("t2").as("t2"), max("t3").as("t3"))
        .selectExpr("CASE WHEN t3 IS NOT NULL THEN 3" +
          " WHEN t2 IS NOT NULL THEN 2" +
          " WHEN t1 IS NOT NULL THEN 1 ELSE 0 END AS depth")
        .groupBy("depth").agg(count(lit(1)).as("users"))
        .orderBy("depth")
    },

    // AUTOCORRELATION FUNCTION — ACF of the daily event-count series
    // at lags 1..14: r_k = Σ(y_t−ȳ)(y_{t−k}−ȳ) / Σ(y_t−ȳ)² — the
    // seasonality/memory detector that DATES the cycle length
    // (q_seasonality profiles a grid you must already suspect;
    // q_seasonal_decompose assumes the 7-day period; ACF is the
    // assumption-free scan that says WHICH lag resonates — the
    // pre-model diagnostic every forecasting pipeline runs first).
    // Scale: the corpus folds to the CALENDAR-sized day frame in ONE
    // partial-aggregated groupBy; the 1-row (n, Σy) frame broadcasts
    // back; the 14 lag pairings are an explode + equi-join of the
    // day frame against its broadcast self (calendar-sized both
    // sides — no data-sized exchange after the first fold).
    // Determinism: counts are exact BIGINT, deviations enter the
    // EXACT integer form e_t = y_t·n − S (avoiding the rational
    // mean), num/den accumulate e·e products in DECIMAL(38,0) —
    // NOTHING rounds until the final one-division r_k at 6dp.
    Q("q_acf",
      """WITH day AS (SELECT CAST(ts AS DATE) AS d,
        |    CAST(count(*) AS BIGINT) AS y FROM events GROUP BY 1),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(y) AS BIGINT) AS s FROM day),
        |dev AS (SELECT d, y * n - s AS e FROM day CROSS JOIN t),
        |den AS (SELECT sum(CAST(e AS DECIMAL(38,0)) * e) AS den
        |        FROM dev),
        |lags AS (SELECT unnest(range(1, 15)) AS k),
        |pr AS (SELECT k, CAST(count(*) AS BIGINT) AS n_pairs,
        |    sum(CAST(a.e AS DECIMAL(38,0)) * b.e) AS num
        |  FROM lags CROSS JOIN dev a
        |  JOIN dev b ON b.d = a.d - CAST(k AS INTEGER)
        |  GROUP BY k)
        |SELECT k AS lag, n_pairs,
        |  round(CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 6) AS acf
        |FROM pr CROSS JOIN den ORDER BY lag""".stripMargin) { (s, d) =>
      val day = Tables.events(s, d)
        .groupBy(col("ts").cast("date").as("d"))
        .agg(count(lit(1)).cast("long").as("y"))
        .localCheckpoint(eager = false)
      val t = day.agg(count(lit(1)).cast("long").as("n"),
        sum("y").cast("long").as("s"))
      val dev = day.crossJoin(broadcast(t))
        .select(col("d"), (col("y") * col("n") - col("s")).as("e"))
        .localCheckpoint(eager = false)
      val den = dev.agg(
        sum(col("e").cast(DecimalType(38, 0)) * col("e")).as("den"))
      val pr = dev.as("a")
        .select(col("d"), col("e"),
          explode(expr("sequence(1, 14)")).as("k"))
        .withColumn("dprev", expr("date_sub(d, k)"))
        .join(broadcast(dev.select(col("d").as("d2"), col("e").as("e2"))),
          col("dprev") === col("d2"))
        .groupBy("k")
        .agg(count(lit(1)).cast("long").as("n_pairs"),
          sum(col("e").cast(DecimalType(38, 0)) * col("e2")).as("num"))
      pr.crossJoin(broadcast(den))
        .selectExpr("k AS lag", "n_pairs",
          "round(CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 6) AS acf")
        .orderBy("lag")
    },

    // EWMA FORECAST — exponentially-weighted moving average of the
    // daily event-count series (α=0.3, s₁=y₁) with the one-step-
    // ahead forecast and its error per day: the level tracker /
    // naive-forecast BASELINE every forecasting effort must beat
    // (q_ts_decay time-decays a metric for ranking; q_seasonal_
    // decompose explains the series; EWMA PREDICTS it — and its
    // error column is the benchmark an ARIMA/Prophet replacement
    // has to improve on). The recursion unrolls to the closed form
    // s_T = Σᵢ wᵢ·yᵢ (w = α(1−α)^(T−i), the i=1 term un-α'd), so
    // NO sequential scan is needed. Scale: the corpus folds to the
    // CALENDAR-sized day frame in ONE partial-aggregated groupBy;
    // the closed form is a triangular self-join of that frame
    // against its BROADCAST self — calendar²/2 rows at ANY corpus
    // size (the q_acf stance); weights beyond ~40 lags underflow
    // the 9dp round to exact zero, so the triangle is effectively
    // banded. Determinism: counts exact; each wᵢ·yᵢ term rounds 9dp
    // (pow's ulp absorbed — the ln-operand discipline) into a
    // DECIMAL(38,9) sum; α pinned via CAST(.. AS DOUBLE).
    Q("q_ewma_forecast", {
      val term = "CASE WHEN bi = 1 THEN round(pow(CAST(0.7 AS DOUBLE)," +
        " ai - 1) * by, 9) ELSE round(CAST(0.3 AS DOUBLE)" +
        " * pow(CAST(0.7 AS DOUBLE), ai - bi) * by, 9) END"
      s"""WITH day AS (SELECT CAST(ts AS DATE) AS d,
         |    CAST(count(*) AS BIGINT) AS y FROM events GROUP BY 1),
         |ix AS (SELECT d, y, CAST(row_number() OVER (ORDER BY d)
         |    AS BIGINT) AS i FROM day),
         |s AS MATERIALIZED (SELECT a.d, a.y, a.ai AS i,
         |    round(CAST(sum(CAST(($term) AS DECIMAL(38,9)))
         |      AS DOUBLE), 6) AS ewma
         |  FROM (SELECT d, y, i AS ai FROM ix) a
         |  JOIN (SELECT y AS by, i AS bi FROM ix) b ON bi <= ai
         |  GROUP BY a.d, a.y, a.ai)
         |SELECT s.d, s.y, s.ewma,
         |  p.ewma AS forecast,
         |  CASE WHEN p.ewma IS NULL THEN NULL
         |    ELSE round(abs(s.y - p.ewma), 6) END AS abs_err
         |FROM s LEFT JOIN s p ON p.i = s.i - 1
         |ORDER BY s.d""".stripMargin
    }) { (s, d) =>
      val term = "CASE WHEN bi = 1 THEN round(pow(CAST(0.7 AS DOUBLE)," +
        " ai - 1) * by, 9) ELSE round(CAST(0.3 AS DOUBLE)" +
        " * pow(CAST(0.7 AS DOUBLE), ai - bi) * by, 9) END"
      val day = Tables.events(s, d)
        .groupBy(col("ts").cast("date").as("d"))
        .agg(count(lit(1)).cast("long").as("y"))
      val ix = day
        .withColumn("i",
          row_number().over(Window.orderBy("d")).cast("long"))
        .localCheckpoint(eager = false)
      val ewma = ix.select(col("d"), col("y"), col("i").as("ai"))
        .join(broadcast(ix.select(col("y").as("by"), col("i").as("bi"))),
          col("bi") <= col("ai"))
        .groupBy("d", "y", "ai")
        .agg(round(sum(expr(term).cast(DecimalType(38, 9)))
          .cast("double"), 6).as("ewma"))
        .localCheckpoint(eager = false)
      ewma.as("s")
        .join(broadcast(ewma.select(col("ai").as("pi"),
          col("ewma").as("forecast"))), col("pi") === col("ai") - 1,
          "left")
        .selectExpr("d", "y", "ewma", "forecast",
          "CASE WHEN forecast IS NULL THEN NULL" +
            " ELSE round(abs(y - forecast), 6) END AS abs_err")
        .orderBy("d")
    },

    // ROLLING CORRELATION — 7-day rolling Pearson correlation of the
    // daily view-count and click-count series: the co-movement
    // monitor ("are these two metrics still coupled, and WHEN did
    // they decouple") — q_corr_matrix gives one global coefficient;
    // the ROLLING form dates a relationship change the way
    // q_changepoint dates a level shift; a decoupling week is
    // invisible to both. Scale: the corpus folds to the
    // CALENDAR-sized (day × 2 counts) frame in ONE conditional
    // partial-aggregated groupBy; the five rolling sums are windows
    // over that calendar frame (the q_seasonal_decompose stance —
    // constant-sized at any corpus size); only full 7-day windows
    // emit. Determinism: counts and all five rolling sums are EXACT
    // BIGINTs; corr = the textbook formula as ONE shared-text double
    // chain on exact operands, rounded 6dp (degenerate zero-variance
    // windows → NULL, guarded identically in both engines).
    Q("q_rolling_corr", {
      val num = "(7 * sxy - sx * sy)"
      val den = "((7 * sxx - sx * sx) * (7 * syy - sy * sy))"
      s"""WITH day AS (SELECT CAST(ts AS DATE) AS d,
         |    CAST(count(*) FILTER (event_type = 'view') AS BIGINT) AS x,
         |    CAST(count(*) FILTER (event_type = 'click') AS BIGINT) AS y
         |  FROM events GROUP BY 1),
         |r AS (SELECT d, x, y,
         |    count(*) OVER w AS c7,
         |    CAST(sum(x) OVER w AS BIGINT) AS sx,
         |    CAST(sum(y) OVER w AS BIGINT) AS sy,
         |    CAST(sum(x * x) OVER w AS BIGINT) AS sxx,
         |    CAST(sum(y * y) OVER w AS BIGINT) AS syy,
         |    CAST(sum(x * y) OVER w AS BIGINT) AS sxy
         |  FROM day WINDOW w AS (ORDER BY d
         |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
         |SELECT d, x, y,
         |  CASE WHEN $den <= 0 THEN NULL ELSE
         |    round($num / sqrt(CAST($den AS DOUBLE)), 6) END AS corr7
         |FROM r WHERE c7 = 7 ORDER BY d""".stripMargin
    }) { (s, d) =>
      val num = "(7 * sxy - sx * sy)"
      val den = "((7 * sxx - sx * sx) * (7 * syy - sy * sy))"
      val day = Tables.events(s, d)
        .groupBy(col("ts").cast("date").as("d"))
        .agg(sum(when(col("event_type") === "view", 1L).otherwise(0L))
            .cast("long").as("x"),
          sum(when(col("event_type") === "click", 1L).otherwise(0L))
            .cast("long").as("y"))
      val w = Window.orderBy("d").rowsBetween(-6, 0)
      day
        .withColumn("c7", count(lit(1)).over(w))
        .withColumn("sx", sum("x").over(w).cast("long"))
        .withColumn("sy", sum("y").over(w).cast("long"))
        .withColumn("sxx", sum(col("x") * col("x")).over(w).cast("long"))
        .withColumn("syy", sum(col("y") * col("y")).over(w).cast("long"))
        .withColumn("sxy", sum(col("x") * col("y")).over(w).cast("long"))
        .filter(col("c7") === 7)
        .selectExpr("d", "x", "y",
          s"CASE WHEN $den <= 0 THEN NULL ELSE " +
            s"round($num / sqrt(CAST($den AS DOUBLE)), 6) END AS corr7")
        .orderBy("d")
    },

    // Theil–Sen robust trend (Theil 1950 / Sen 1968): per-user slope
    // as the MEDIAN of all pairwise (Δvalue/Δt) slopes — the
    // outlier-immune alternative to the OLS trend (one wild value
    // corrupts OLS's moment sums; it moves only one of C(n,2) slopes
    // here). Per-GROUP quadratic by declaration: the pair stage is a
    // self-equi-join on user_id, so volume is Σ_u C(n_u, 2) with n_u
    // co-partitioned on the user key — but "bounded by per-user
    // activity" is ENFORCED, not assumed (round-11 verdict #2): a
    // group over `spark.graft.theilsen.maxGroupRows` (default 2000;
    // every test sf's max group is ≤~100, so the oracled plans are
    // the exact declared semantics) is first thinned to a
    // deterministic hash-ordered subset of that many rows — the
    // subsampled/randomized Theil–Sen estimator — capping any hot
    // user's pair volume at C(cap, 2) instead of C(10M, 2).
    // Determinism: Δt in exact integer MICROSECONDS (unix_micros ↔
    // epoch_us), slope doubles computed by the identical expression,
    // exact interpolated median (q_agg_median portability contract).
    // NEGATIVE-ZERO NORMALIZATION (round-11 verdict #1): a slope
    // multiset symmetric around zero has an IEEE -0.0 median, which
    // DuckDB's round preserves but Spark's BigDecimal round rewrites
    // to +0.0 — `+ 0.0` on BOTH sides (IEEE: -0.0 + 0.0 = +0.0)
    // makes the cell identical regardless of which engine signed it.
    Q("q_theil_sen",
      """WITH p AS (SELECT a.user_id,
        |    (b.value - a.value) / ((epoch_us(b.ts) - epoch_us(a.ts)) / 1e6)
        |      AS slope
        |  FROM events a JOIN events b ON a.user_id = b.user_id
        |    AND a.ts < b.ts)
        |SELECT user_id, count(*) AS n_pairs,
        |  round(quantile_cont(slope, 0.5), 6) + 0.0 AS sen_slope
        |FROM p GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, d) =>
      val cap = boundedLong("spark.graft.theilsen.maxGroupRows",
        s.conf.get("spark.graft.theilsen.maxGroupRows", "2000"), 2, Int.MaxValue).toInt
      val raw = Tables.events(s, d)
        .select(col("user_id"), col("value"),
          expr("unix_micros(ts)").as("us"))
      // Skew guard: thin only over-cap groups, keeping a
      // deterministic (seedless-hash-ordered) subset so reruns and
      // resumes agree. The guard is pay-per-skew: the hot-user set
      // (groups over the cap) is a tiny broadcast, under-cap rows
      // pass through a codegen anti-join untouched, and the
      // row_number window — a full shuffle+sort when placed on the
      // whole table — sorts ONLY hot-group rows (zero at every
      // oracled sf, so the exact declared semantics cost nothing).
      val hot = raw.groupBy("user_id")
        .agg(count(lit(1)).as("n_rows"))
        .filter(col("n_rows") > cap)
        .select("user_id")
      val byHash = Window.partitionBy("user_id")
        .orderBy(xxhash64(col("user_id"), col("us"), col("value")),
          col("us"))
      val thinned = raw.join(broadcast(hot), Seq("user_id"))
        .withColumn("rn", row_number().over(byHash))
        .filter(col("rn") <= cap)
        .drop("rn")
      val ev = raw.join(broadcast(hot), Seq("user_id"), "left_anti")
        .unionByName(thinned)
      val a = ev.select(col("user_id"), col("value").as("v1"),
        col("us").as("us1"))
      val b = ev.select(col("user_id"), col("value").as("v2"),
        col("us").as("us2"))
      // Exact median via the primitive-buffer aggregate (round 19,
      // verdict #5): bit-identical to percentile(slope, 0.5) — the
      // ExactMedianAggregator scaladoc carries the equivalence
      // argument, ExactMedianSpec pins it — without Percentile's
      // per-value boxed OpenHashMap state (16.2 s of the 43.2 s 100×
      // cell was GC from that map's churn). slope is non-null by
      // construction (finite value delta over a strictly positive
      // integer-microsecond delta), the aggregate's input contract.
      val med = udaf(new graft.functions.ExactMedianAggregator,
        org.apache.spark.sql.Encoders.scalaDouble)
      a.join(b, Seq("user_id"))
        .filter(col("us1") < col("us2"))
        .select(col("user_id"),
          expr("(v2 - v1) / ((us2 - us1) / 1e6)").as("slope"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_pairs"),
          (round(med(col("slope")), 6) + lit(0.0))
            .as("sen_slope"))
        .orderBy("user_id")
    },

    // CUSUM CONTROL CHART (Page 1954): per-type one-sided upper AND
    // lower CUSUM walks over the daily-mean series with the standard
    // (k = σ/2 allowance, h = 4σ decision interval) tuning, emitting
    // alarm flags per day — the sequential DRIFT DETECTOR that fires
    // while a shift is happening, where q_changepoint retrospectively
    // DATES the single largest level shift (argmax of the unreset
    // walk). The reset recursion S_t = max(0, S_{t-1} + y_t) is not a
    // plain window sum, but it IS the prefix identity
    // S_t = C_t − min(0, min_{j≤t} C_j) with C the cumulative sum of
    // y — so both engines compute it with two stock windows (cumsum +
    // running min), no recursion, no UDF. Scale: the corpus folds to
    // the type×day frame in ONE partial-aggregated groupBy (the
    // q_changepoint fold, localCheckpoint pinned); σ, the windows,
    // and the output are all day-frame-sized — a span-bounded frame
    // at ANY corpus volume. Determinism: daily/grand means in exact
    // integer micros (the (2S+n)/(2n) half-up form), deviations and
    // both walks are BIGINT arithmetic end-to-end; σ is one sqrt of
    // an exact-integer ratio rounded back to integer micros
    // (identical doubles both engines); alarm comparisons are
    // integer-vs-integer. nullif guards the 1-day degenerate series.
    Q("q_cusum_alarms",
      """WITH v AS (SELECT event_type,
        |    CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |    CAST(round(value * 1000000) AS BIGINT) AS y6 FROM events),
        |d AS (SELECT event_type, day, CAST(sum(y6) AS BIGINT) AS s,
        |      count(*) AS n FROM v GROUP BY 1, 2),
        |g AS (SELECT event_type, CAST(sum(s) AS BIGINT) AS st,
        |      CAST(sum(n) AS BIGINT) AS nt FROM d GROUP BY 1),
        |m AS (SELECT d.event_type, day,
        |    CAST(floor((2 * s + n) / (2.0 * n)) AS BIGINT) AS m6,
        |    CAST(floor((2 * st + nt) / (2.0 * nt)) AS BIGINT) AS mu6
        |  FROM d JOIN g USING (event_type)),
        |sd AS (SELECT event_type,
        |    CAST(round(sqrt(CAST(sum((m6 - mu6) * (m6 - mu6)) AS BIGINT)
        |      / (nullif(count(*), 1) - 1.0)), 0) AS BIGINT) AS sd6
        |  FROM m GROUP BY 1),
        |j AS (SELECT m.event_type, day, m6 - mu6 AS d6,
        |    CAST(floor(sd6 / 2.0) AS BIGINT) AS k6, 4 * sd6 AS h6
        |  FROM m JOIN sd USING (event_type)),
        |w AS (SELECT event_type, day, d6, h6,
        |    CAST(sum(d6 - k6) OVER (PARTITION BY event_type
        |      ORDER BY day) AS BIGINT) AS chi,
        |    CAST(sum(-d6 - k6) OVER (PARTITION BY event_type
        |      ORDER BY day) AS BIGINT) AS clo FROM j),
        |t AS (SELECT event_type, day, d6, h6,
        |    chi - least(CAST(min(chi) OVER (PARTITION BY event_type
        |      ORDER BY day) AS BIGINT), 0) AS shi,
        |    clo - least(CAST(min(clo) OVER (PARTITION BY event_type
        |      ORDER BY day) AS BIGINT), 0) AS slo FROM w)
        |SELECT event_type, day, round(d6 / 1000000.0, 6) AS dev,
        |  round(shi / 1000000.0, 6) AS cusum_hi,
        |  round(slo / 1000000.0, 6) AS cusum_lo,
        |  shi > h6 AS alarm_hi, slo > h6 AS alarm_lo
        |FROM t ORDER BY event_type, day""".stripMargin) { (s, d) =>
      val v = Tables.events(s, d).select(col("event_type"),
        col("ts").cast("date").as("day"),
        expr("CAST(round(value * 1000000) AS BIGINT)").as("y6"))
      val dd = v.groupBy("event_type", "day")
        .agg(sum("y6").as("s"), count(lit(1)).as("n"))
        .localCheckpoint(eager = false)
      val g = dd.groupBy("event_type")
        .agg(sum("s").as("st"), sum("n").as("nt"))
      val m = dd.join(broadcast(g), "event_type").selectExpr(
        "event_type", "day",
        "CAST(floor((2 * s + n) / (2.0 * n)) AS BIGINT) AS m6",
        "CAST(floor((2 * st + nt) / (2.0 * nt)) AS BIGINT) AS mu6")
        .localCheckpoint(eager = false)
      val sd = m.groupBy("event_type")
        .agg(expr("CAST(round(sqrt(CAST(sum((m6 - mu6) * (m6 - mu6)) " +
          "AS BIGINT) / (nullif(count(*), 1) - 1.0)), 0) AS BIGINT)")
          .as("sd6"))
      val j = m.join(broadcast(sd), "event_type").selectExpr(
        "event_type", "day", "m6 - mu6 AS d6",
        "CAST(floor(sd6 / 2.0) AS BIGINT) AS k6", "4 * sd6 AS h6")
      val wc = Window.partitionBy("event_type").orderBy("day")
      j.withColumn("chi", sum(col("d6") - col("k6")).over(wc).cast("long"))
        .withColumn("clo", sum(-col("d6") - col("k6")).over(wc).cast("long"))
        .withColumn("shi",
          col("chi") - least(min(col("chi")).over(wc).cast("long"), lit(0L)))
        .withColumn("slo",
          col("clo") - least(min(col("clo")).over(wc).cast("long"), lit(0L)))
        .selectExpr("event_type", "day",
          "round(d6 / CAST(1000000 AS DOUBLE), 6) AS dev",
          "round(shi / CAST(1000000 AS DOUBLE), 6) AS cusum_hi",
          "round(slo / CAST(1000000 AS DOUBLE), 6) AS cusum_lo",
          "shi > h6 AS alarm_hi", "slo > h6 AS alarm_lo")
        .orderBy("event_type", "day")
    },

    // PARTIAL AUTOCORRELATION — PACF at lags 1..7 via the
    // Durbin–Levinson recursion over the (rounded) ACF of the daily
    // event-count series: the second half of the Box–Jenkins
    // identification pair (q_acf shows TOTAL lag correlation; PACF
    // removes the shorter-lag paths, so an AR(p) series cuts off
    // after lag p — the plot you read the model ORDER from).
    // Scale: the corpus folds to the day frame exactly as q_acf;
    // the recursion runs on ≤7-row φ frames — 6 fixed dataframe
    // steps (the q_mmr_rerank loop discipline, localCheckpoint per
    // step), cost independent of corpus size. Determinism: inputs
    // are the 6dp-rounded ACF values; every product rounds 12dp
    // into a DECIMAL(38,12) sum (dsum discipline — the Σφρ terms
    // are order-exact), φ updates round 9dp per step, and the
    // oracle's chained MATERIALIZED CTEs mirror the loop
    // step-for-step (plain CTEs would re-inline the chain
    // exponentially — the q_hits lesson).
    Q("q_pacf", TimeSeries.pacfSql(7)) { (s, d) =>
      val day = Tables.events(s, d)
        .groupBy(col("ts").cast("date").as("d"))
        .agg(count(lit(1)).cast("long").as("y"))
        .localCheckpoint(eager = false)
      val t = day.agg(count(lit(1)).cast("long").as("n"),
        sum("y").cast("long").as("s"))
      val dev = day.crossJoin(broadcast(t))
        .select(col("d"), (col("y") * col("n") - col("s")).as("e"))
        .localCheckpoint(eager = false)
      val den = dev.agg(
        sum(col("e").cast(DecimalType(38, 0)) * col("e")).as("den"))
      val pr = dev
        .select(col("d"), col("e"),
          explode(expr("sequence(1, 7)")).as("k"))
        .withColumn("dprev", expr("date_sub(d, k)"))
        .join(broadcast(dev.select(col("d").as("d2"), col("e").as("e2"))),
          col("dprev") === col("d2"))
        .groupBy("k")
        .agg(sum(col("e").cast(DecimalType(38, 0)) * col("e2")).as("num"))
      val acf = pr.crossJoin(broadcast(den))
        .selectExpr("CAST(k AS BIGINT) AS lag",
          "round(CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 6) AS a")
        .localCheckpoint(eager = false)
      var phi = acf.filter(col("lag") === 1)
        .select(lit(1L).as("j"), col("a").as("v"))
        .localCheckpoint(eager = false)
      var rows = phi.select(lit(1L).as("lag"), col("v").as("pacf"))
      for (k <- 2 to 7) {
        val sums = phi
          .join(broadcast(acf.select(col("lag").as("l1"),
            col("a").as("a1"))), col("l1") === col("j"))
          .join(broadcast(acf.select(col("lag").as("l2"),
            col("a").as("a2"))), col("l2") === lit(k) - col("j"))
          .agg(sum(round(col("v") * col("a1"), 12)
              .cast(DecimalType(38, 12))).cast("double").as("sden"),
            sum(round(col("v") * col("a2"), 12)
              .cast(DecimalType(38, 12))).cast("double").as("snum"))
        val rk = acf.filter(col("lag") === k).select(col("a").as("rk"))
        val pk = sums.crossJoin(broadcast(rk))
          .select(round((col("rk") - coalesce(col("snum"), lit(0.0)))
              / (lit(1.0) - coalesce(col("sden"), lit(0.0))), 9)
            .as("pkk"))
          .localCheckpoint(eager = false)
        val phiNew = phi
          .join(phi.select(col("j").as("j2"), col("v").as("v2")),
            col("j2") === lit(k) - col("j"))
          .crossJoin(broadcast(pk))
          .select(col("j"), round(col("v") - col("pkk") * col("v2"), 9)
            .as("v"))
          .unionByName(pk.select(lit(k.toLong).as("j"),
            col("pkk").as("v")))
          .localCheckpoint(eager = false)
        rows = rows.unionByName(pk.select(lit(k.toLong).as("lag"),
          col("pkk").as("pacf")))
        phi = phiNew
      }
      rows.join(acf.select(col("lag"), col("a").as("acf")), "lag")
        .select("lag", "acf", "pacf").orderBy("lag")
    },

    // BOLLINGER BANDS — 7-day rolling mean ± 2σ envelope over each
    // event type's daily mean value, with %B (where today sits in
    // the band: > 1 = above, < 0 = below) — the volatility-scaled
    // anomaly read (q_ts_anomaly asks "is today extreme vs a FIXED
    // baseline"; the band rescales 'extreme' by the REGIME's own
    // recent volatility — a quiet series flags a small jump a
    // volatile one absorbs). Scale: corpus → (type, day) frame in
    // ONE conditional fold; every window is type-PARTITIONED over
    // that calendar-bounded frame (never a global sort). Determinism:
    // daily closes are exact half-up integer micros; window sums S1,
    // S2 are exact BIGINT/DECIMAL folds of micros; σ and %B are one
    // identical double chain; a zero-width band NULLs %B via nullif.
    Q("q_bollinger",
      """WITH day AS (SELECT event_type, CAST(ts AS DATE) AS d,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CAST(round(value * 1000000, 0) AS BIGINT))
        |      AS BIGINT) AS sm
        |  FROM events GROUP BY 1, 2),
        |c AS (SELECT event_type, d,
        |    CAST(floor((2 * sm + n) / (2.0 * n)) AS BIGINT) AS m6
        |  FROM day),
        |r AS (SELECT event_type, d, m6,
        |    count(*) OVER w AS c7,
        |    CAST(sum(m6) OVER w AS BIGINT) AS s1,
        |    CAST(sum(CAST(m6 AS DECIMAL(38,0)) * m6) OVER w
        |      AS DECIMAL(38,0)) AS s2
        |  FROM c WINDOW w AS (PARTITION BY event_type ORDER BY d
        |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)),
        |b AS (SELECT event_type, d, m6, s1,
        |    sqrt((7 * CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1)
        |      / CAST(49 AS DOUBLE)) AS sd6
        |  FROM r WHERE c7 = 7)
        |SELECT event_type, d,
        |  round(m6 / CAST(1000000 AS DOUBLE), 6) AS close,
        |  round(CAST(floor((2 * s1 + 7) / CAST(14 AS DOUBLE)) AS BIGINT)
        |    / CAST(1000000 AS DOUBLE), 6) AS ma7,
        |  round(sd6 / CAST(1000000 AS DOUBLE), 6) AS sd7,
        |  round((CAST(floor((2 * s1 + 7) / CAST(14 AS DOUBLE)) AS BIGINT)
        |    + 2 * sd6) / CAST(1000000 AS DOUBLE), 6) AS upper,
        |  round((CAST(floor((2 * s1 + 7) / CAST(14 AS DOUBLE)) AS BIGINT)
        |    - 2 * sd6) / CAST(1000000 AS DOUBLE), 6) AS lower,
        |  round((m6 - (CAST(floor((2 * s1 + 7) / CAST(14 AS DOUBLE))
        |      AS BIGINT) - 2 * sd6)) / nullif(4 * sd6, 0), 6) AS pct_b
        |FROM b ORDER BY event_type, d""".stripMargin) { (s, d) =>
      val day = Tables.events(s, d)
        .groupBy(col("event_type"), col("ts").cast("date").as("d"))
        .agg(count(lit(1)).cast("long").as("n"),
          sum(round(col("value") * 1000000L, 0).cast("long"))
            .cast("long").as("sm"))
        .selectExpr("event_type", "d",
          "CAST(floor((2 * sm + n) / (2.0 * n)) AS BIGINT) AS m6")
      val w = Window.partitionBy("event_type").orderBy("d")
        .rowsBetween(-6, 0)
      day
        .withColumn("c7", count(lit(1)).over(w))
        .withColumn("s1", sum("m6").over(w).cast("long"))
        .withColumn("s2",
          sum(col("m6").cast(DecimalType(38, 0)) * col("m6")).over(w)
            .cast(DecimalType(38, 0)))
        .filter(col("c7") === 7)
        .selectExpr("event_type", "d", "m6", "s1",
          """sqrt((7 * CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1)
            |  / CAST(49 AS DOUBLE)) AS sd6""".stripMargin)
        .selectExpr("event_type", "d",
          "round(m6 / CAST(1000000 AS DOUBLE), 6) AS close",
          """round(CAST(floor((2 * s1 + 7) / CAST(14 AS DOUBLE)) AS BIGINT)
            |  / CAST(1000000 AS DOUBLE), 6) AS ma7""".stripMargin,
          "round(sd6 / CAST(1000000 AS DOUBLE), 6) AS sd7",
          """round((CAST(floor((2 * s1 + 7) / CAST(14 AS DOUBLE)) AS BIGINT)
            |  + 2 * sd6) / CAST(1000000 AS DOUBLE), 6) AS upper""".stripMargin,
          """round((CAST(floor((2 * s1 + 7) / CAST(14 AS DOUBLE)) AS BIGINT)
            |  - 2 * sd6) / CAST(1000000 AS DOUBLE), 6) AS lower""".stripMargin,
          """round((m6 - (CAST(floor((2 * s1 + 7) / CAST(14 AS DOUBLE))
            |    AS BIGINT) - 2 * sd6)) / nullif(4 * sd6, 0), 6) AS pct_b""".stripMargin)
        .orderBy("event_type", "d")
    },

    // RSI — the 7-day relative-strength index over each type's daily
    // close: 100·ΣG/(ΣG+ΣL) over the trailing 7 day-over-day moves
    // (the simple-mean RSI; Wilder's exponential variant is a
    // recursion — this is the distributed-friendly form). The
    // momentum/overbought read next to q_bollinger's volatility
    // band: RSI saturating toward 100 while %B > 1 is the classic
    // regime-shift confirmation pair. Scale: same ONE conditional
    // fold to the (type, day) frame; lag + window sums are
    // type-partitioned. Determinism: closes are exact half-up
    // integer micros, so gains/losses are exact BIGINT micro
    // deltas, window sums exact, and RSI is ONE double division of
    // exact integers (100·SG/(SG+SL)) — no mean, no rounding chain;
    // a 7-day flat window NULLs RSI via nullif.
    Q("q_rsi",
      """WITH day AS (SELECT event_type, CAST(ts AS DATE) AS d,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CAST(round(value * 1000000, 0) AS BIGINT))
        |      AS BIGINT) AS sm
        |  FROM events GROUP BY 1, 2),
        |c AS (SELECT event_type, d,
        |    CAST(floor((2 * sm + n) / (2.0 * n)) AS BIGINT) AS m6
        |  FROM day),
        |dl AS (SELECT event_type, d, m6,
        |    m6 - lag(m6) OVER (PARTITION BY event_type ORDER BY d)
        |      AS delta
        |  FROM c),
        |g AS (SELECT event_type, d, m6,
        |    greatest(delta, 0) AS gain, greatest(-delta, 0) AS loss
        |  FROM dl WHERE delta IS NOT NULL),
        |r AS (SELECT event_type, d, m6,
        |    count(*) OVER w AS c7,
        |    CAST(sum(gain) OVER w AS BIGINT) AS sg,
        |    CAST(sum(loss) OVER w AS BIGINT) AS sl
        |  FROM g WINDOW w AS (PARTITION BY event_type ORDER BY d
        |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
        |SELECT event_type, d,
        |  round(m6 / CAST(1000000 AS DOUBLE), 6) AS close,
        |  round(sg / CAST(7000000 AS DOUBLE), 6) AS avg_gain,
        |  round(sl / CAST(7000000 AS DOUBLE), 6) AS avg_loss,
        |  round(CAST(100 AS DOUBLE) * sg / nullif(sg + sl, 0), 6) AS rsi
        |FROM r WHERE c7 = 7 ORDER BY event_type, d""".stripMargin) { (s, d) =>
      val day = Tables.events(s, d)
        .groupBy(col("event_type"), col("ts").cast("date").as("d"))
        .agg(count(lit(1)).cast("long").as("n"),
          sum(round(col("value") * 1000000L, 0).cast("long"))
            .cast("long").as("sm"))
        .selectExpr("event_type", "d",
          "CAST(floor((2 * sm + n) / (2.0 * n)) AS BIGINT) AS m6")
      val lw = Window.partitionBy("event_type").orderBy("d")
      val w = Window.partitionBy("event_type").orderBy("d")
        .rowsBetween(-6, 0)
      day
        .withColumn("delta", col("m6") - lag("m6", 1).over(lw))
        .filter(col("delta").isNotNull)
        .withColumn("gain", greatest(col("delta"), lit(0L)))
        .withColumn("loss", greatest(-col("delta"), lit(0L)))
        .withColumn("c7", count(lit(1)).over(w))
        .withColumn("sg", sum("gain").over(w).cast("long"))
        .withColumn("sl", sum("loss").over(w).cast("long"))
        .filter(col("c7") === 7)
        .selectExpr("event_type", "d",
          "round(m6 / CAST(1000000 AS DOUBLE), 6) AS close",
          "round(sg / CAST(7000000 AS DOUBLE), 6) AS avg_gain",
          "round(sl / CAST(7000000 AS DOUBLE), 6) AS avg_loss",
          "round(CAST(100 AS DOUBLE) * sg / nullif(sg + sl, 0), 6) AS rsi")
        .orderBy("event_type", "d")
    },

    // HURST EXPONENT — rescaled-range (R/S) analysis of the daily
    // event-count series at block sizes m ∈ {4, 8, 16}: per complete
    // block, R/S = (max−min of cumulative deviations)/σ; H is the
    // log-log slope of the mean R/S against m. H ≈ 0.5 = memoryless,
    // H > 0.5 = long-range persistence (trends compound), H < 0.5 =
    // mean reversion — the LONG-memory diagnostic the lag family
    // can't see (q_acf/q_pacf read fixed small lags; Hurst reads how
    // fluctuations SCALE). Scale: the corpus folds to the
    // calendar-day frame once; the m fan-out triples that bounded
    // frame; every block window is (m, block)-PARTITIONED — the only
    // global window is the day-rank (GlobalWindowAuditSpec-pinned).
    // Determinism: block sums/cumsums exact BIGINTs; ×m-scaled
    // deviations exact (R/S = (maxdev−mindev)/√(m·Σy²−S²) — ONE
    // double division of exact integers per block, σ = 0 → NULL via
    // nullif); mean R/S exact half-up micros; ln terms 9 dp into
    // DECIMAL sums for the 3-point slope. Overflow: Σy² runs through
    // DECIMAL(38,0) on BOTH sides (y ~ 1e10 events/day squares past
    // 2⁶³; a wrapped long here would yield a plausible wrong R/S),
    // as does the m·Σy²−S² radicand; the remaining BIGINT terms
    // (dev = m·cum − j·S, both ≤ 256·y_day) stay exact to
    // y_day < 3.6e16/day — beyond any real corpus.
    Q("q_hurst",
      """WITH days AS (SELECT CAST(ts AS DATE) AS d,
        |    CAST(count(*) AS BIGINT) AS y
        |  FROM events GROUP BY 1),
        |r AS (SELECT y, CAST(row_number() OVER (ORDER BY d) AS BIGINT)
        |      AS rn FROM days),
        |ms AS (SELECT CAST(unnest([4, 8, 16]) AS BIGINT) AS m),
        |b AS (SELECT m, (rn - 1) // m AS bid, (rn - 1) % m + 1 AS j, y
        |  FROM r CROSS JOIN ms),
        |w AS (SELECT m, bid, j,
        |    CAST(sum(y) OVER (PARTITION BY m, bid ORDER BY j) AS BIGINT)
        |      AS cum,
        |    CAST(sum(y) OVER (PARTITION BY m, bid) AS BIGINT) AS s,
        |    sum(CAST(y AS DECIMAL(38,0)) * y)
        |      OVER (PARTITION BY m, bid) AS q,
        |    count(*) OVER (PARTITION BY m, bid) AS cnt
        |  FROM b),
        |dv AS (SELECT m, bid, s, q, m * cum - j * s AS dev
        |  FROM w WHERE cnt = m),
        |blk AS (SELECT m, bid,
        |    round((max(dev) - min(dev))
        |      / nullif(sqrt(CAST(m * q - CAST(s AS DECIMAL(38,0)) * s
        |          AS DOUBLE)), 0), 6) AS rs
        |  FROM dv GROUP BY m, bid, s, q),
        |mrs AS (SELECT m, CAST(count(*) AS BIGINT) AS n_blocks,
        |    CAST(count(rs) AS BIGINT) AS nb,
        |    CAST(sum(CAST(round(rs * 1000000, 0) AS BIGINT)) AS BIGINT)
        |      AS srs
        |  FROM blk GROUP BY m),
        |mm AS (SELECT m, n_blocks,
        |    floor((2 * srs + nb) / (2.0 * nullif(nb, 0))) / 1e6
        |      AS mean_rs
        |  FROM mrs),
        |pt AS (SELECT round(ln(m), 9) AS x, round(ln(mean_rs), 9) AS y
        |  FROM mm WHERE mean_rs > 0),
        |o AS (SELECT CAST(count(*) AS BIGINT) AS np,
        |    CAST(sum(CAST(x AS DECIMAL(38,9))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(y AS DECIMAL(38,9))) AS DOUBLE) AS sy,
        |    CAST(sum(CAST(round(x * x, 9) AS DECIMAL(38,9))) AS DOUBLE)
        |      AS sxx,
        |    CAST(sum(CAST(round(x * y, 9) AS DECIMAL(38,9))) AS DOUBLE)
        |      AS sxy
        |  FROM pt)
        |SELECT m, n_blocks, round(mean_rs, 6) AS mean_rs,
        |  round((np * sxy - sx * sy) / nullif(np * sxx - sx * sx, 0), 6)
        |    AS hurst
        |FROM mm CROSS JOIN o ORDER BY m""".stripMargin) { (s, d) =>
      val days = Tables.events(s, d)
        .groupBy(col("ts").cast("date").as("d"))
        .agg(count(lit(1)).cast("long").as("y"))
        .localCheckpoint(eager = false) // calendar-bounded day frame
      val r = days.withColumn("rn",
        row_number().over(Window.orderBy("d")).cast("long"))
      val ms = {
        val sp = s; import sp.implicits._
        Seq(4L, 8L, 16L).toDF("m")
      }
      val b = r.crossJoin(broadcast(ms))
        .selectExpr("m", "(rn - 1) DIV m AS bid", "(rn - 1) % m + 1 AS j",
          "y")
      val pw = Window.partitionBy("m", "bid")
      val w = b
        .withColumn("cum", sum("y").over(pw.orderBy("j")).cast("long"))
        .withColumn("s", sum("y").over(pw).cast("long"))
        .withColumn("q",
          sum(col("y").cast(DecimalType(38, 0)) * col("y")).over(pw))
        .withColumn("cnt", count(lit(1)).over(pw))
      val blk = w.filter(col("cnt") === col("m"))
        .withColumn("dev", col("m") * col("cum") - col("j") * col("s"))
        .groupBy("m", "bid", "s", "q")
        .agg(round((max("dev") - min("dev")) /
          nullif(sqrt((col("m") * col("q") -
            col("s").cast(DecimalType(38, 0)) * col("s"))
            .cast("double")), lit(0.0)), 6).as("rs"))
      val mm = blk.groupBy("m")
        .agg(count(lit(1)).cast("long").as("n_blocks"),
          count(col("rs")).cast("long").as("nb"),
          sum(round(col("rs") * 1000000L, 0).cast("long")).cast("long")
            .as("srs"))
        .selectExpr("m", "n_blocks",
          "floor((2 * srs + nb) / (2.0 * nullif(nb, 0))) / 1e6" +
            " AS mean_rs")
        .localCheckpoint(eager = false) // 3-row frame, reused twice
      val o = mm.filter(col("mean_rs") > 0)
        .select(round(log(col("m")), 9).as("x"),
          round(log(col("mean_rs")), 9).as("y"))
        .agg(count(lit(1)).cast("long").as("np"),
          sum(col("x").cast(DecimalType(38, 9))).cast("double").as("sx"),
          sum(col("y").cast(DecimalType(38, 9))).cast("double").as("sy"),
          sum(round(col("x") * col("x"), 9).cast(DecimalType(38, 9)))
            .cast("double").as("sxx"),
          sum(round(col("x") * col("y"), 9).cast(DecimalType(38, 9)))
            .cast("double").as("sxy"))
      mm.crossJoin(broadcast(o))
        .selectExpr("m", "n_blocks", "round(mean_rs, 6) AS mean_rs",
          "round((np * sxy - sx * sy) / nullif(np * sxx - sx * sx, 0), 6)" +
            " AS hurst")
        .orderBy("m")
    },
  )

  /** Chained-CTE Durbin–Levinson oracle: acf (6dp) for lags
    * 1..maxLag, then per step k the Σφρ sums (12dp-rounded terms
    * into DECIMAL sums), the reflection coefficient pk (9dp), and
    * the updated φ row set — every CTE MATERIALIZED because each
    * step references the previous one twice. */
  private[queries] def pacfSql(maxLag: Int): String = {
    val steps = (2 to maxLag).map { k =>
      s"""s$k AS MATERIALIZED (SELECT
         |    CAST(sum(CAST(round(f.v * r1.a, 12) AS DECIMAL(38,12)))
         |      AS DOUBLE) AS sden,
         |    CAST(sum(CAST(round(f.v * r2.a, 12) AS DECIMAL(38,12)))
         |      AS DOUBLE) AS snum
         |  FROM phi${k - 1} f JOIN acf r1 ON r1.lag = f.j
         |    JOIN acf r2 ON r2.lag = $k - f.j),
         |pk$k AS MATERIALIZED (SELECT
         |    round(((SELECT a FROM acf WHERE lag = $k)
         |        - coalesce(snum, 0))
         |      / (1 - coalesce(sden, 0)), 9) AS pkk FROM s$k),
         |phi$k AS MATERIALIZED (
         |  SELECT f.j, round(f.v - p.pkk * f2.v, 9) AS v
         |  FROM phi${k - 1} f JOIN phi${k - 1} f2 ON f2.j = $k - f.j
         |  CROSS JOIN pk$k p
         |  UNION ALL SELECT CAST($k AS BIGINT) AS j, pkk AS v
         |  FROM pk$k)""".stripMargin
    }.mkString(",\n")
    val rows = (s"SELECT CAST(1 AS BIGINT) AS lag, v AS pacf FROM phi1"
      +: (2 to maxLag).map(k =>
        s"SELECT CAST($k AS BIGINT) AS lag, pkk AS pacf FROM pk$k"))
      .mkString("\nUNION ALL\n")
    s"""WITH day AS (SELECT CAST(ts AS DATE) AS d,
       |    CAST(count(*) AS BIGINT) AS y FROM events GROUP BY 1),
       |t AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(y) AS BIGINT) AS s FROM day),
       |dev AS (SELECT d, y * n - s AS e FROM day CROSS JOIN t),
       |den AS (SELECT sum(CAST(e AS DECIMAL(38,0)) * e) AS den
       |        FROM dev),
       |lags AS (SELECT unnest(range(1, ${maxLag + 1})) AS k),
       |pr AS (SELECT k, sum(CAST(a.e AS DECIMAL(38,0)) * b.e) AS num
       |  FROM lags CROSS JOIN dev a
       |  JOIN dev b ON b.d = a.d - CAST(k AS INTEGER)
       |  GROUP BY k),
       |acf AS MATERIALIZED (SELECT CAST(k AS BIGINT) AS lag,
       |    round(CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 6) AS a
       |  FROM pr CROSS JOIN den),
       |phi1 AS MATERIALIZED (SELECT CAST(1 AS BIGINT) AS j,
       |    (SELECT a FROM acf WHERE lag = 1) AS v),
       |$steps
       |SELECT u.lag, acf.a AS acf, u.pacf
       |FROM ($rows) u JOIN acf ON acf.lag = u.lag
       |ORDER BY u.lag""".stripMargin
  }
}
