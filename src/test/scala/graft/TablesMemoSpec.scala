package graft

import java.nio.file.Files
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}

/** [[Tables]]' JVM-wide schema and row-count memos: a repeated read
  * runs no footer-inference job, yet reads exactly what a bare
  * `spark.read.parquet` would — across rewrites at the same path and
  * across sessions that read parquet differently. */
class TablesMemoSpec extends SparkTestBase {
  private val sf = "/root/testdata/sf0.001"

  private def tmpDir(): String = Files.createTempDirectory("graft_tables_memo_").toString

  test("after a warm-up, building q_knn_image runs no Spark job") {
    assume(new java.io.File(s"$sf/embeddings.parquet").exists())
    // Control: a bare read infers its schema with a footer job.
    assert(jobsDuring(spark.read.parquet(s"$sf/embeddings.parquet").schema) === 1)
    val q = SparkEntry.queries("q_knn_image")
    q(spark, sf).queryExecution.analyzed
    assert(jobsDuring(q(spark, sf).queryExecution.analyzed) === 0)
  }

  test("every fixture table's memoized schema is the inferred one") {
    val tables = Option(new java.io.File(sf).listFiles()).toSeq.flatten
      .map(_.getName).filter(_.endsWith(".parquet")).map(_.stripSuffix(".parquet"))
    assume(tables.nonEmpty)
    tables.foreach { t =>
      Tables.table(spark, sf, t) // fills the memo
      assert(Tables.table(spark, sf, t).schema === spark.read.parquet(s"$sf/$t.parquet").schema, t)
    }
  }

  test("two reads of one table keep distinct attribute ids") {
    assume(new java.io.File(s"$sf/embeddings.parquet").exists())
    val a = Tables.embeddings(spark, sf)
    val b = Tables.embeddings(spark, sf)
    assert(a.queryExecution.analyzed.output.map(_.exprId).intersect(
      b.queryExecution.analyzed.output.map(_.exprId)).isEmpty)
    assert(a.join(b, a("vec_id") === b("vec_id")).count() === a.count())
  }

  test("a table rewritten at the same path with a different schema is re-inferred") {
    val s = spark
    import s.implicits._
    val d = tmpDir()
    Seq(1L, 2L).toDF("a").write.parquet(s"$d/t.parquet")
    assert(Tables.table(s, d, "t").columns.toSeq === Seq("a"))
    Seq((1L, "x")).toDF("a", "b").write.mode("overwrite").parquet(s"$d/t.parquet")
    assert(Tables.table(s, d, "t").columns.toSeq === Seq("a", "b"))
    assert(Tables.table(s, d, "t").as[(Long, String)].collect().toSeq === Seq((1L, "x")))
  }

  test("docCount counts a rewritten documents table afresh") {
    val s = spark
    import s.implicits._
    val d = tmpDir()
    (1L to 3L).toDF("doc_id").write.parquet(s"$d/documents.parquet")
    assert(Tables.docCount(s, d) === 3L)
    (1L to 5L).toDF("doc_id").write.mode("overwrite").parquet(s"$d/documents.parquet")
    assert(Tables.docCount(s, d) === 5L)
  }

  test("sessions that infer timestamps differently each read their own events.ts type") {
    assume(new java.io.File(s"$sf/events.parquet").exists())
    def tsTypes(inferNtz: Boolean) = {
      val s = spark.newSession()
      s.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", inferNtz.toString)
      (Tables.table(s, sf, "events").schema("ts").dataType,
        Tables.events(s, sf).schema("ts").dataType)
    }
    assert(tsTypes(inferNtz = true) === ((TimestampNTZType, TimestampType)))
    assert(tsTypes(inferNtz = false) === ((TimestampType, TimestampType)))
  }
}
