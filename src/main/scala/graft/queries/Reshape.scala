package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables

/** Reshaping + scale-technique operators: pivot, skew-salted join,
  * bucketed co-located join. The salted and bucketed joins return the
  * SAME results as their naive formulations (the oracles are the
  * plain SQL joins) — what they change is the shuffle story:
  *
  *  - Salting splits a hot key across `SALT` sub-keys so one executor
  *    no longer receives an entire skewed key's rows; the small side
  *    is replicated SALT× (classic skew mitigation; AQE's skew-join
  *    splitting does this adaptively for sort-merge joins, salting is
  *    the explicit variant that also covers hash aggregation).
  *  - Bucketing pre-shuffles both tables into the same bucket layout
  *    at WRITE time, so the join itself needs NO exchange — the 100 TB
  *    pattern for repeatedly-joined fact/dim tables; with sorted
  *    buckets the sort-merge join needs no sort either.
  */
object Reshape {

  private val EventTypes = Seq("click", "error", "purchase", "signup", "view")

  /** Per-sf-tagged table basename for bucketed writes (catalog
    * tables live in the session's temp warehouse — Sessions.build
    * points spark.sql.warehouse.dir at a fresh temp dir). Two
    * directories with one basename share the tag; the build rule
    * rebuilds when the source table differs. */
  private def tag(d: String): String =
    new java.io.File(d).getName.replaceAll("[^A-Za-z0-9]", "_")

  val qs: Seq[Q] = Seq(

    // Pivot: per-user event-type counts as columns. The pivot values
    // are pinned (not discovered) so the schema is deterministic and
    // the twin's CASE aggregation lines up column-for-column.
    Q("q_pivot",
      s"""SELECT user_id,
         |${EventTypes.map(t => s"  count(CASE WHEN event_type = '$t' THEN 1 END) AS $t")
            .mkString(",\n")}
         |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .groupBy("user_id")
        .pivot("event_type", EventTypes)
        .agg(count(lit(1)))
        .select(col("user_id") +: EventTypes.map(t =>
          coalesce(col(t), lit(0L)).as(t)): _*)
        .orderBy("user_id")
    },

    // Unpivot (melt): the inverse reshape, wide per-type counts back
    // to long (user_id, event_type, n) rows — schema evolution's
    // workhorse. Twin is the UNION ALL expansion.
    Q("q_unpivot",
      s"""WITH p AS (SELECT user_id,
         |${EventTypes.map(t => s"  count(CASE WHEN event_type = '$t' THEN 1 END) AS $t")
            .mkString(",\n")}
         |FROM events GROUP BY user_id)
         |${EventTypes.map(t =>
             s"SELECT user_id, '$t' AS event_type, $t AS n FROM p")
            .mkString("\nUNION ALL\n")}
         |ORDER BY user_id, event_type""".stripMargin) { (s, d) =>
      val wide = Tables.events(s, d)
        .groupBy("user_id")
        .pivot("event_type", EventTypes)
        .agg(count(lit(1)))
        .select(col("user_id") +: EventTypes.map(t =>
          coalesce(col(t), lit(0L)).as(t)): _*)
      wide.unpivot(Array(col("user_id")), EventTypes.map(col).toArray,
          "event_type", "n")
        .orderBy("user_id", "event_type")
    },

    // Skew-salted aggregation join: events.user_id is the hot side.
    // Salt = event_id % 8 (deterministic), dimension replicated 8×,
    // equi-join on (key, salt) → no single reducer owns a hot key.
    Q("q_join_salted",
      """SELECT c.c_mktsegment, count(*) AS n,
        |  round(CAST(sum(CAST(e.value AS DECIMAL(38,6))) AS DOUBLE), 6) AS total_value
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment""".stripMargin) { (s, d) =>
      val salts = 8
      val ev = Tables.events(s, d)
        .withColumn("salt", (col("event_id") % salts).cast("int"))
      val cust = Tables.customer(s, d)
        .withColumn("salt", explode(lit((0 until salts).toArray)))
      ev.join(cust.hint("shuffle_hash"),
          col("user_id") === col("c_custkey") && ev("salt") === cust("salt"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).alias("n"), dsum(col("value")).alias("total_value"))
        .orderBy("c_mktsegment")
    },

    // Bucketed co-located join: both sides written bucketed+sorted on
    // the join key, then joined via the catalog — the physical plan
    // has no Exchange on either side (verify in PLANS.md).
    Q("q_join_bucketed",
      """SELECT c.c_mktsegment, count(*) AS n,
        |  CAST(sum(e.event_id) AS BIGINT) AS id_sum
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment""".stripMargin) { (s, d) =>
      val (t1, t2) = (s"graft_ev_bkt_${tag(d)}", s"graft_cust_bkt_${tag(d)}")
      // Build-once: bucketing IS a physical layout investment amortized
      // across every join that uses it, under the IVF index's rule
      // (Tables.ensureDerived: rebuilt when its source table changes).
      // The timed operator is the exchange-free join below, not the
      // layout write; Bench warms this build via SparkEntry.buildSteps.
      Tables.ensureDerived(s, t1, s"$d/events.parquet") {
        Tables.events(s, d).select("event_id", "user_id")
          .write.mode("overwrite")
          .bucketBy(8, "user_id").sortBy("user_id").saveAsTable(t1)
      }
      Tables.ensureDerived(s, t2, s"$d/customer.parquet") {
        Tables.customer(s, d).select("c_custkey", "c_mktsegment")
          .write.mode("overwrite")
          .bucketBy(8, "c_custkey").sortBy("c_custkey").saveAsTable(t2)
      }
      // merge hint: at test scale Catalyst would broadcast the dim
      // and never show the point of bucketing; the declared operator
      // is the exchange-free sort-merge join both sides' bucket
      // layout buys (at 100 TB neither side broadcasts).
      s.table(t1).hint("merge").join(s.table(t2), col("user_id") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).alias("n"), sum("event_id").alias("id_sum"))
        .orderBy("c_mktsegment")
    },
  )
}
