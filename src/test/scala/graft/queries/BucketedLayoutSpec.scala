package graft.queries

import graft.{SparkEntry, SparkTestBase, Tables}
import org.apache.spark.sql.functions._

/** q_join_bucketed's layout tables are named after the input
  * directory's basename; a second directory with the same basename
  * must get its own buckets, not the first one's. */
class BucketedLayoutSpec extends SparkTestBase {

  test("a second input directory with the same basename gets its own bucket layout") {
    val s = spark
    import s.implicits._
    def stage(seed: Int, events: Int): String = {
      val r = new scala.util.Random(seed)
      val d = java.nio.file.Files.createTempDirectory("graft_bkt_reuse_")
        .resolve("bkt_reused").toString
      (0 until events).map(i => (i.toLong, r.nextInt(12).toLong, 1700000000000000000L + i))
        .toDF("event_id", "user_id", "ts").write.parquet(s"$d/events.parquet")
      (0 until 12).map(i => (i.toLong, Seq("AUTO", "BUILDING", "MACHINERY")(i % 3)))
        .toDF("c_custkey", "c_mktsegment").write.parquet(s"$d/customer.parquet")
      d
    }
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    def plain(d: String) = rows(Tables.events(s, d)
      .join(Tables.customer(s, d), col("user_id") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"), sum("event_id").as("id_sum"))
      .orderBy("c_mktsegment"))
    val (a, b) = (stage(1, 40), stage(2, 90))
    assert(rows(SparkEntry.queries("q_join_bucketed")(s, a)) === plain(a))
    val got = rows(SparkEntry.queries("q_join_bucketed")(s, b))
    assert(plain(b) !== plain(a), "the two inputs must disagree")
    assert(got === plain(b))
  }
}
