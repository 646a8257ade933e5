package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{lit, round, sum, try_sum}
import org.apache.spark.sql.types.DecimalType

package object queries {
  /** Order-independent floating sum: per-row double arithmetic is
    * IEEE-identical in Spark and DuckDB, but the ACCUMULATION order
    * of a distributed sum is not — partial aggregates add in
    * partition order vs DuckDB's scan order, drifting past round(6)
    * on large groups. Casting each addend to DECIMAL(38,6) makes the
    * sum exact and associative on both sides.
    * Oracle twin: `round(CAST(sum(CAST(x AS DECIMAL(38,6))) AS DOUBLE), 6)`.
    */
  def dsum(c: Column): Column =
    round(sum(c.cast(DecimalType(38, 6))).cast("double"), 6)

  /** Oracle-side twin of [[dsum]]. */
  def dsumSql(expr: String): String =
    s"round(CAST(sum(CAST($expr AS DECIMAL(38,6))) AS DOUBLE), 6)"

  /** INTEGER-MICROS exact sum — the cheaper sibling of [[dsum]] for
    * hot cells (round-11 verdict #6): each addend becomes an exact
    * 64-bit micro count (`round(x·10⁶)` — the inputs carry ≤ 6
    * decimal places, so the rounded product is the exact scaled
    * value; the round only strips FP representation error, never a
    * tie), the sum is a native long (codegen add, no Decimal128
    * object per row), and the result double `sum/10⁶` is the
    * correctly-rounded double of the exact rational.
    *
    * BIT-IDENTICAL-TO-dsum BOUND (round-12 advice): the claim holds
    * only while |Σ micros| < 2⁵³ — below that the long is exactly
    * representable as a double, so `long→double / 10⁶` and dsum's
    * single `decimal→double` rounding agree. Between 2⁵³ and 2⁶³
    * the long→double cast itself rounds, and the SECOND rounding
    * (`/ 10⁶`) can land 1 ulp away from dsum's single rounding —
    * swapping a green dsum cell for msum past 2⁵³ micros CAN change
    * a recorded hash (q_agg_hash's sum_base crosses it near sf1.0
    * at ≈ 5.7·10¹⁶ micros; its hashes were recorded WITH msum on
    * both engines, so the pair stays green — the caveat binds when
    * RE-deriving one side). Past 2⁶³ the engines diverge outright
    * (DuckDB widens BIGINT sums to HUGEINT; Spark's long wraps) —
    * that wrap is what the try_sum guard below catches: on long
    * overflow Spark returns NULL instead of a silently wrapped
    * value, so the failure mode is a VISIBLE null/hash mismatch,
    * never a plausible wrong number. Keep [[dsum]] for unbounded
    * per-group cardinalities at 100 TB. */
  def msum(c: Column): Column =
    round(try_sum(round(c * lit(1000000L), 0).cast("long")).cast("double")
      / lit(1000000L), 6)

  /** Oracle-side twin of [[msum]]. */
  def msumSql(expr: String): String =
    s"round(CAST(sum(CAST(round(($expr) * 1000000, 0) AS BIGINT)) " +
      "AS DOUBLE) / 1000000, 6)"

  /** MEAN-ROUNDING CAVEAT (round-8 lesson): `round(dsum / count, 6)`
    * divides a scale-6 decimal by an arbitrary n, and the exact
    * rational S/(n·10⁶) lands PRECISELY on a decimal half whenever
    * 2·S·10⁶ ≡ n·10⁶ (mod 2n·10⁶) — a tie where Spark's exact
    * HALF_UP and DuckDB's float round can disagree (q_lm_score hit 1
    * doc in 5000 at sf0.1). For a NEW per-group mean, round in exact
    * integer space instead: `floor((2·S_micro + n) / (2.0·n)) / 1e6`
    * (ties toward +inf by definition, identical in both engines).
    * Existing mean sites are pinned by the deterministic fixtures and
    * verified at sf0.01 + sf0.1; prefer the integer form going
    * forward. */

  /** HOF-materialization BARRIER: an exchange placed after an
    * expensive computed-array column so downstream lambdas read the
    * materialized value instead of re-evaluating the expression.
    *
    * Catalyst's CollapseProject inlines adjacent projections, and
    * higher-order-function lambdas are evaluated interpreted — so an
    * inlined array-building expression (`w = filter(split(lower(
    * text)))`) referenced inside a `transform(..., i ->
    * element_at(w, i))` lambda re-tokenizes the document PER ELEMENT
    * (measured: 5000 docs' shingling went from ~9 s to ~0.2 s with
    * the barrier). Placing the barrier AFTER the withColumn writes
    * the column into the exchange once and every downstream
    * reference reads it.
    *
    * This is a real cost-model win at ANY scale — the shuffle writes
    * each row once; the inlined alternative recomputes an O(|doc|)
    * expression per array element. Unconditional by design. (It also
    * buys local scan parallelism as a side effect, like [[fanout]].)
    *
    * Results are unaffected: every query ends in a total-order sort. */
  def barrier(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)

  /** PARALLELISM-ONLY fanout, gated on actual scan parallelism.
    *
    * The testdata ships each table as a single-row-group parquet
    * file, so a scan is ONE task and any per-row-expensive pipeline
    * above it (hashing, model inference, pairwise kernels) runs
    * serially regardless of cores; the explicit round-robin costs
    * one tiny shuffle and buys full-width execution. On a real
    * cluster the scan itself parallelizes (many files / row groups)
    * and this round-robin would be a full shuffle of a fact table
    * for nothing — so it only fires when the input's planned
    * partition count is under half the cluster parallelism, i.e.
    * exactly the single-file/local situation. `spark.graft.fanout`
    * overrides: `on` (always), `off` (never — the 100 TB plan),
    * `auto` (default, the partition-count gate). */
  def fanout(df: DataFrame): DataFrame = {
    val s = df.sparkSession
    lazy val width = s.sparkContext.defaultParallelism
    s.conf.get("spark.graft.fanout", "auto") match {
      case "off" => df
      case "on" => df.repartition(width)
      case _ =>
        if (df.rdd.getNumPartitions * 2 >= width) df
        else df.repartition(width)
    }
  }

  /** Audit-arm switch. The sketch/candidate operators (q_lsh_embed,
    * q_minhash_recall, q_knn_recall, q_hll_registers, q_kmv_sketch,
    * q_quantile_sketch, q_bloom_probe) each run an EXACT truth arm
    * next to the sketch — the full shuffle the sketch exists to
    * avoid, priced in as an audit at index-build time and dropped at
    * 100 TB. `spark.graft.audit=false` actually drops it: the exact
    * arm's frames are replaced by 1-row NULL literals, so the audit
    * columns come back NULL and the expensive lineage is never
    * built (the q_mixture_apply_threshold precedent: the declared,
    * oracled form keeps the default `true`). */
  def auditOn(s: SparkSession): Boolean =
    s.conf.get("spark.graft.audit", "true").toBoolean

  /** `raw`, the value of the setting `key`, as an integer in
    * [`lo`, `hi`]; anything else throws naming the key. */
  def boundedLong(key: String, raw: String, lo: Long, hi: Long = Long.MaxValue): Long =
    raw.toLongOption.filter(v => v >= lo && v <= hi).getOrElse(
      throw new IllegalArgumentException(s"$key must be an integer in [$lo, $hi], got '$raw'"))

  /** The threshold `key` of a size gate (default `default`), an
    * integer of at least 1. */
  def gateThreshold(s: SparkSession, key: String, default: Long): Long =
    s.conf.getOption(key).fold(default)(boundedLong(key, _, 1))

  /** The size gate of every auto-routed operator: true (take the
    * scale route) when `size` is known and at least the threshold
    * `key` (default `default`, at least 1). An unknown size stays on
    * the declared exact route. The threshold alone forces a route: 1
    * forces the scale route, `Long.MaxValue` the exact one. A scale
    * route is noted on stderr with the gate's input and threshold. */
  def atScale(s: SparkSession, gate: String, key: String, default: Long)(
      size: => Option[BigInt]): Boolean = {
    val threshold = gateThreshold(s, key, default)
    size.filter(_ >= threshold) match {
      case Some(n) =>
        System.err.println(s"[graft] $gate: scale route, size $n >= $key=$threshold")
        true
      case None => false
    }
  }

  /** One declared operator from SURVEY.md §2: a Spark builder and an
    * optional DuckDB oracle (ANSI SQL over the same parquet tables).
    * `oracle = None` → driver records a weaker rows-only check
    * (reserved for inherently non-SQL ops: ML surrogates, sketches).
    */
  final case class Q(
      name: String,
      build: (SparkSession, String) => DataFrame,
      oracle: Option[String])

  object Q {
    def apply(name: String, oracle: String)(
        build: (SparkSession, String) => DataFrame): Q =
      Q(name, build, Some(oracle))
    def noOracle(name: String)(
        build: (SparkSession, String) => DataFrame): Q =
      Q(name, build, None)
  }
}
