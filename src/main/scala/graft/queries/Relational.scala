package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Relational core: the reference-derived verbs (SURVEY §2A — scans,
  * point lookups, upsert, deletes, truncate, examine, distinct,
  * ingest stats) plus the cheap capability-extension operators
  * (§2B scans/filters/projections, set ops, scalar function families).
  *
  * All of these run on stock Catalyst — the design work is keeping
  * every plan scan-local where possible (predicate pushdown, column
  * pruning) and giving every query a total-order ORDER BY + round(,6)
  * on computed floats so the DuckDB hash-compare is deterministic
  * (SURVEY §5.1).
  */
object Relational {

  /** Per-JVM unique scratch dir for write-then-read-back queries. */
  private lazy val sinkRoot: String = Tables.tempDir("sink")

  val qs: Seq[Q] = Seq(

    // A1: recursive file scan + suffix predicate (cli.py:41-42 keeps
    // *.png/jpg/jpeg). Analog: scan documents, keep sources with a
    // suffix + language whitelist. Both predicates reach the parquet
    // scan as PushedFilters.
    Q("q_scan_filter",
      """SELECT doc_id, lang, source, n_chars FROM documents
        |WHERE source LIKE '%1' AND lang IN ('en','fr')
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .filter(col("source").endsWith("1") && col("lang").isin("en", "fr"))
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id")
    },

    // §2B: column pruning — ReadSchema must shrink to 2 columns.
    Q("q_scan_project",
      "SELECT doc_id, lang FROM documents ORDER BY doc_id") { (s, d) =>
      Tables.documents(s, d).select("doc_id", "lang").orderBy("doc_id")
    },

    // A6: point lookup by conjunctive equality
    // (photo_vector_search.py:117-125 `$and` on two metadata keys) —
    // parquet row-group min/max + dictionary pushdown territory.
    Q("q_point_lookup",
      """SELECT doc_id, lang, source, n_chars FROM documents
        |WHERE lang = 'en' AND source = 'src3' ORDER BY doc_id""".stripMargin) {
      (s, d) =>
        Tables.documents(s, d)
          .filter(col("lang") === "en" && col("source") === "src3")
          .select("doc_id", "lang", "source", "n_chars")
          .orderBy("doc_id")
    },

    // A17: examine — all aspects of one photo ≈ all attrs of one doc.
    Q("q_examine",
      """SELECT doc_id, lang, source, n_chars FROM documents
        |WHERE doc_id = 7""".stripMargin) { (s, d) =>
      Tables.documents(s, d).filter(col("doc_id") === 7)
        .select("doc_id", "lang", "source", "n_chars")
    },

    // A18: distinct keys (unique photo list, app.py:52-53).
    Q("q_distinct_paths",
      "SELECT DISTINCT source FROM documents ORDER BY source") { (s, d) =>
      Tables.documents(s, d).select("source").distinct().orderBy("source")
    },

    // A7: upsert, last-writer-wins per natural key
    // (photo_vector_search.py:134-151 re-index replaces the row).
    // Set-oriented merge: one shuffle on the key, window + rank —
    // no per-row existence reads (SURVEY §4).
    Q("q_upsert_latest_wins",
      """SELECT user_id, event_type, event_id, CAST(ts AS TIMESTAMP) AS ts,
        |       round(value, 6) AS value
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id, event_type
        |                                   ORDER BY ts DESC, event_id DESC) AS rn
        |      FROM events)
        |WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin) { (s, d) =>
      val w = Window.partitionBy("user_id", "event_type")
        .orderBy(col("ts").desc, col("event_id").desc)
      Tables.events(s, d)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_type"), col("event_id"), col("ts"),
          round(col("value"), 6).alias("value"))
        .orderBy("user_id", "event_type")
    },

    // A13: delete by id list → anti-filter (engine-side this is a
    // Delta-style rewrite of affected files only).
    Q("q_delete_by_id",
      """SELECT doc_id, lang, source, n_chars FROM documents
        |WHERE doc_id NOT IN (1, 2, 3) ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d).filter(!col("doc_id").isin(1, 2, 3))
        .select("doc_id", "lang", "source", "n_chars").orderBy("doc_id")
    },

    // A14: delete by predicate (all aspects of a photo).
    Q("q_delete_by_pred",
      """SELECT doc_id, lang, source, n_chars FROM documents
        |WHERE lang <> 'fr' ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d).filter(col("lang") =!= "fr")
        .select("doc_id", "lang", "source", "n_chars").orderBy("doc_id")
    },

    // A15: truncate — empty result, schema intact.
    Q("q_truncate",
      "SELECT doc_id, lang FROM documents WHERE false") { (s, d) =>
      Tables.documents(s, d).select("doc_id", "lang").filter(lit(false))
    },

    // A20: ingest fan-out success/error counters → groupBy counts.
    Q("q_ingest_stats",
      """SELECT event_type, count(*) AS n,
        |  round(CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE), 6) AS total_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) {
      (s, d) =>
        Tables.events(s, d).groupBy("event_type")
          .agg(count(lit(1)).alias("n"),
            dsum(col("value")).alias("total_value"))
          .orderBy("event_type")
    },

    // §2B q_sink_partitioned: partitioned parquet write (the ingest
    // sink for A20) — write events partitioned by event_type, read
    // back, aggregate. At scale this is the layout that makes
    // `WHERE event_type = X` a partition-pruned scan.
    Q("q_sink_partitioned",
      // CAST: DuckDB sum(BIGINT) yields HUGEINT (pandas float) —
      // pin both sides to BIGINT.
      """SELECT event_type, count(*) AS n, CAST(sum(event_id) AS BIGINT) AS id_sum
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) {
      (s, d) =>
        // Unique per-process sink root: a fixed shared path races
        // between concurrent Verify/Bench runs and can serve stale
        // data from a previous round (round-1 advice).
        val sink = s"$sinkRoot/events_${new java.io.File(d).getName}"
        fanout(Tables.events(s, d)).write.mode("overwrite")
          .partitionBy("event_type").parquet(sink)
        s.read.parquet(sink).groupBy("event_type")
          .agg(count(lit(1)).alias("n"), sum("event_id").alias("id_sum"))
          .orderBy("event_type")
    },

    // §2B q_filter_range: range + IN + inequality predicates.
    Q("q_filter_range",
      // (l_orderkey, l_linenumber) is NOT unique in the synthetic data —
      // sort keys must cover every output column for a stable hash.
      """SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag FROM lineitem
        |WHERE l_shipdate BETWEEN TIMESTAMP '1994-01-01' AND TIMESTAMP '1995-12-31'
        |  AND l_returnflag IN ('R','A') AND l_quantity > 10
        |ORDER BY l_orderkey, l_linenumber, l_quantity, l_returnflag""".stripMargin) {
      (s, d) =>
        Tables.lineitem(s, d)
          .filter(col("l_shipdate").between("1994-01-01", "1995-12-31")
            && col("l_returnflag").isin("R", "A") && col("l_quantity") > 10)
          .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
          .orderBy("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
    },

    // §2B q_project_expr: computed columns (TPC-H pricing expressions).
    Q("q_project_expr",
      """SELECT l_orderkey, l_linenumber,
        |  round(l_extendedprice * (1 - l_discount), 6) AS revenue,
        |  round(l_extendedprice * (1 - l_discount) * (1 + l_tax), 6) AS charged
        |FROM lineitem ORDER BY l_orderkey, l_linenumber, revenue, charged""".stripMargin) {
      (s, d) =>
        Tables.lineitem(s, d).select(
          col("l_orderkey"), col("l_linenumber"),
          round(col("l_extendedprice") * (lit(1) - col("l_discount")), 6)
            .alias("revenue"),
          round(col("l_extendedprice") * (lit(1) - col("l_discount"))
            * (lit(1) + col("l_tax")), 6).alias("charged"))
          .orderBy("l_orderkey", "l_linenumber", "revenue", "charged")
    },

    // ---- Set operations on customer segments ----
    Q("q_set_union",
      """SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |UNION
        |SELECT c_custkey FROM customer WHERE c_acctbal > 5000
        |ORDER BY c_custkey""".stripMargin) { (s, d) =>
      val c = Tables.customer(s, d)
      c.filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
        .union(c.filter(col("c_acctbal") > 5000).select("c_custkey"))
        .distinct().orderBy("c_custkey")
    },

    Q("q_set_union_all",
      """SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |UNION ALL
        |SELECT c_custkey FROM customer WHERE c_acctbal > 5000
        |ORDER BY c_custkey""".stripMargin) { (s, d) =>
      val c = Tables.customer(s, d)
      c.filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
        .union(c.filter(col("c_acctbal") > 5000).select("c_custkey"))
        .orderBy("c_custkey")
    },

    Q("q_set_intersect",
      """SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |INTERSECT
        |SELECT c_custkey FROM customer WHERE c_acctbal > 5000
        |ORDER BY c_custkey""".stripMargin) { (s, d) =>
      val c = Tables.customer(s, d)
      c.filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
        .intersect(c.filter(col("c_acctbal") > 5000).select("c_custkey"))
        .orderBy("c_custkey")
    },

    Q("q_set_except",
      """SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |EXCEPT
        |SELECT c_custkey FROM customer WHERE c_acctbal > 5000
        |ORDER BY c_custkey""".stripMargin) { (s, d) =>
      val c = Tables.customer(s, d)
      c.filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
        .except(c.filter(col("c_acctbal") > 5000).select("c_custkey"))
        .orderBy("c_custkey")
    },

    // ---- Scalar function families ----

    // Text cleanup (text-analysis north star, over documents.text).
    Q("q_text_clean",
      """SELECT doc_id,
        |  substr(trim(regexp_replace(lower(text), '[^a-z ]', '')), 1, 40) AS head,
        |  length(text) AS raw_len,
        |  length(regexp_replace(lower(text), '[^a-z ]', '')) AS clean_len
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      val cleaned = regexp_replace(lower(col("text")), "[^a-z ]", "")
      Tables.documents(s, d).select(
        col("doc_id"),
        substring(trim(cleaned), 1, 40).alias("head"),
        length(col("text")).alias("raw_len"),
        length(cleaned).alias("clean_len"))
        .orderBy("doc_id")
    },

    // Date/time bucketing on orders.
    Q("q_date_funcs",
      """SELECT year(o_orderdate) AS y, month(o_orderdate) AS m,
        |  date_trunc('month', o_orderdate) AS month_start,
        |  count(*) AS n, min(o_orderdate) AS first_order
        |FROM orders GROUP BY 1, 2, 3 ORDER BY y, m""".stripMargin) { (s, d) =>
      Tables.orders(s, d).groupBy(
        year(col("o_orderdate")).alias("y"),
        month(col("o_orderdate")).alias("m"),
        date_trunc("month", col("o_orderdate")).alias("month_start"))
        .agg(count(lit(1)).alias("n"),
          min(col("o_orderdate")).alias("first_order"))
        .orderBy("y", "m")
    },

    // Math functions over measures.
    Q("q_math_funcs",
      """SELECT l_orderkey, l_linenumber,
        |  round(abs(l_extendedprice - 1000), 6) AS a,
        |  round(sqrt(l_extendedprice), 6) AS s,
        |  round(ln(l_extendedprice + 1), 6) AS l,
        |  round(pow(l_discount + 1, 3), 6) AS p,
        |  round(l_extendedprice, 1) AS r1
        |FROM lineitem ORDER BY l_orderkey, l_linenumber, s, p""".stripMargin) { (s, d) =>
      fanout(Tables.lineitem(s, d)).select(
        col("l_orderkey"), col("l_linenumber"),
        round(abs(col("l_extendedprice") - 1000), 6).alias("a"),
        round(sqrt(col("l_extendedprice")), 6).alias("s"),
        round(log(col("l_extendedprice") + 1), 6).alias("l"),
        round(pow(col("l_discount") + 1, 3), 6).alias("p"),
        round(col("l_extendedprice"), 1).alias("r1"))
        .orderBy("l_orderkey", "l_linenumber", "s", "p")
    },

    // JSON schema-on-read over events.props (`{"k": 87}`).
    Q("q_json_funcs",
      """SELECT event_type,
        |  count(json_extract_string(props, '$.k')) AS with_k,
        |  round(avg(CAST(json_extract_string(props, '$.k') AS DOUBLE)), 6) AS avg_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) {
      (s, d) =>
        val k = get_json_object(col("props"), "$.k")
        Tables.events(s, d).groupBy("event_type")
          .agg(count(k).alias("with_k"),
            round(avg(k.cast("double")), 6).alias("avg_k"))
          .orderBy("event_type")
    },

    // Per-row error handling (the reference's failure model:
    // photo_vector_search.py:102-112 catches per-image errors into
    // (False, message) results and never aborts the batch). Ten
    // percent of the props payloads are deterministically corrupted;
    // the lenient parse yields NULL + an error flag per row, and the
    // job reports good/bad counts instead of failing — at 100 TB a
    // poison record must cost one row, not a stage retry storm.
    Q("q_ingest_errors",
      """WITH raw AS (SELECT event_id, event_type,
        |    CASE WHEN event_id % 10 = 0
        |         THEN substr(props, 1, length(props) - 1) ELSE props END AS payload
        |  FROM events),
        |parsed AS (SELECT event_id, event_type,
        |    CASE WHEN json_valid(payload)
        |         THEN json_extract_string(payload, '$.k') END AS k
        |  FROM raw)
        |SELECT event_type,
        |  count(*) AS n_rows,
        |  count(k) AS n_ok,
        |  count(*) - count(k) AS n_failed,
        |  CAST(sum(CAST(k AS BIGINT)) AS BIGINT) AS k_sum
        |FROM parsed GROUP BY event_type ORDER BY event_type""".stripMargin) {
      (s, d) =>
        val corrupted = Tables.events(s, d).select(
          col("event_id"), col("event_type"),
          when(col("event_id") % 10 === 0,
            expr("substr(props, 1, length(props) - 1)"))
            .otherwise(col("props")).as("payload"))
        corrupted
          .withColumn("k", get_json_object(col("payload"), "$.k"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_rows"),
            count(col("k")).as("n_ok"),
            (count(lit(1)) - count(col("k"))).as("n_failed"),
            sum(col("k").cast("long")).as("k_sum"))
          .orderBy("event_type")
    },

    // Map construction + element access (dynamic-metadata analog of
    // the reference's schemaless dicts, photo_vector_search.py:128-132).
    // Oracle states the semantic result; Spark exercises MapType.
    Q("q_map_funcs",
      """SELECT doc_id, lang AS lang_v, source AS source_v, 2 AS n_keys
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      val m = map_from_arrays(
        array(lit("lang"), lit("source")),
        array(col("lang"), col("source")))
      Tables.documents(s, d).select(
        col("doc_id"),
        element_at(m, "lang").alias("lang_v"),
        element_at(m, "source").alias("source_v"),
        size(map_keys(m)).alias("n_keys"))
        .orderBy("doc_id")
    },
  )
}
