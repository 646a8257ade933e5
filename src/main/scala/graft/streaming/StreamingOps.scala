package graft.streaming

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.{Sessions, Tables}
import graft.lake.ManifestTable

/** Structured Streaming harness for the q_stream_* queries.
  *
  * The reference's ingest is incremental — `add_or_update_photo`
  * called per new file (photo_vector_search.py:94) — which in Spark
  * is a streaming file source feeding windowed/stateful operators.
  * Each declared query builds a REAL streaming job: `readStream` over
  * the events parquet, event-time watermark, windowed aggregation /
  * stateful dedup, drained with `Trigger.AvailableNow` into a
  * `foreachBatch` parquet sink, then read back for the batch-twin
  * oracle compare.
  *
  * On the testdata the source is one file → one micro-batch, so the
  * watermark never discards anything and the streaming result equals
  * the batch twin exactly; the MemoryStream test suite covers the
  * multi-batch/late-data semantics the single-batch drain can't.
  * At scale the same plans run continuously: the watermark bounds
  * state (per-window partial aggregates live in the state store until
  * watermark passage), and `foreachBatch` is where the A7 merge-upsert
  * sink would attach.
  */
object StreamingOps {

  /** The streaming file source requires a DIRECTORY to watch (it is
    * a feed, not a file); the testdata ships one parquet file per
    * table, so stage a copy into a temp dir once
    * ([[graft.Tables.staged]]: re-staged when `events` changes).
    * `events.parquet` itself comes in two vintages: the driver's
    * single pyarrow FILE, and a Spark-written DIRECTORY of part
    * files (ScaleData's large-SF fixtures) — stage whichever exists
    * (a shallow `Files.copy` of a directory copies an EMPTY dir, so
    * the directory vintage enumerates and copies its part files). */
  private def eventsDir(d: String): String =
    Tables.staged("events_src", s"$d/events.parquet") { dir =>
      val tmp = java.nio.file.Paths.get(dir)
      val src = java.nio.file.Paths.get(s"$d/events.parquet")
      if (Files.isDirectory(src)) {
        val st = Files.list(src)
        val i = try {
          val parts = st.iterator()
          var n = 0
          while (parts.hasNext) {
            val p = parts.next()
            if (p.getFileName.toString.endsWith(".parquet")) {
              Files.copy(p, tmp.resolve(f"part-$n%05d.parquet"))
              n += 1
            }
          }
          n
        } finally st.close()
        require(i > 0, s"no parquet part files under $src")
      } else Files.copy(src, tmp.resolve("events.parquet"))
    }

  /** readStream over the events table with the same ts
    * normalization as the batch loader ([[graft.Tables.normalizeTs]]
    * — schema-branched, so it tracks whichever parquet vintage the
    * generator emitted).
    *
    * Runs in a CHILD session with fewer shuffle partitions: every
    * stateful operator materializes one state-store instance and one
    * task per shuffle partition per micro-batch, so a 32-partition
    * default spends more on task/state bookkeeping than on the
    * actual rows at this volume. (On a real cluster this is the
    * same tuning decision, just with larger numbers.) Results are
    * partition-count-independent. */
  def eventsStream(s: SparkSession, d: String): DataFrame = {
    Sessions.prepare(s)
    val ss = s.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "8")
    Sessions.prepare(ss)
    val dir = eventsDir(d)
    val schema = ss.read.parquet(dir).schema // dtype depends on parquet vintage
    graft.Tables.normalizeTs(ss.readStream.schema(schema).parquet(dir))
  }

  /** Run a streaming DataFrame to completion on currently-available
    * input and return the materialized result.
    *
    * In `update` mode the append-parquet sink is only correct when
    * exactly ONE micro-batch fires (re-emitted keys from a second
    * batch would silently duplicate) — so multi-batch update drains
    * FAIL LOUDLY instead of corrupting; a merge-per-batch sink for
    * the genuinely incremental path is q_stream_upsert's foreachBatch
    * (latest-wins merge, safe at any batch count). A zero-batch drain
    * returns an empty frame with the stream's schema instead of
    * throwing on a missing sink dir. The checkpoint is deleted once
    * the query ends (every call starts a fresh query); the sink, which
    * backs the returned frame, is deleted at JVM exit. */
  def drain(s: SparkSession, streamed: DataFrame, mode: String): DataFrame = {
    val out = Tables.tempDir("stream")
    val sink = s"$out/data"
    val batches = new java.util.concurrent.atomic.AtomicInteger(0)
    // The query runs on the child session the stream was built on;
    // the result is read back on the caller's session.
    val q = streamed.writeStream
      .outputMode(mode)
      .option("checkpointLocation", s"$out/ckpt")
      .foreachBatch { (df: DataFrame, _: Long) =>
        // Count only batches that EMIT rows: AvailableNow fires a
        // trailing empty batch to finalize watermark state, which is
        // harmless to an append sink. Two EMITTING batches in update
        // mode are not — that's the corruption case. persist() keeps
        // the isEmpty probe + write pair from computing the batch
        // plan (stateful aggregations included) twice.
        df.persist()
        try {
          if (!df.isEmpty) {
            batches.incrementAndGet()
            df.write.mode("append").parquet(sink)
          }
        } finally df.unpersist()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    try q.awaitTermination() finally Tables.dropDir(s"$out/ckpt")
    val n = batches.get()
    if (n > 1 && mode == "update")
      throw new IllegalStateException(
        s"drain: $n emitting micro-batches in update mode — the append " +
          "sink would duplicate re-emitted keys; use a merge sink " +
          "(q_stream_upsert) or a single-batch source")
    if (n == 0)
      s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        streamed.schema)
    else s.read.parquet(sink)
  }

  /** foreachBatch MERGE sink — the reference's actual ingest loop
    * (add_or_update_photo per new file, photo_vector_search.py:94)
    * as a streaming latest-wins upsert: each micro-batch is folded
    * into a keyed snapshot (snapshot ∪ batch, ranked by `ord`
    * descending per `keys`, rank-1 survives). Correct at ANY number
    * of micro-batches — this is the incremental path [[drain]]'s
    * append sink can't provide.
    *
    * Each fold is a TRANSACTIONAL [[graft.lake.ManifestTable]] commit:
    * batch N's merge writes an immutable fileset and publishes it with
    * an atomic manifest CAS, so a concurrent reader mid-stream sees
    * either snapshot N or snapshot N+1 — never a half-written merge —
    * and the ingest loop is atomic end-to-end (this is foreachBatch as
    * MERGE INTO on a real table format, exactly what the body would be
    * on a cluster: one shuffle per batch keyed on `keys`, plus an
    * O(files) manifest write). `vacuumKeep` bounds the commit chain:
    * after each commit, manifests older than the newest `vacuumKeep`
    * versions and their unreferenced filesets are collected, so an
    * unbounded stream holds bounded storage. The checkpoint is deleted
    * once the query ends; a default table root (no `tableRootOpt`)
    * backs the returned frame and is deleted at JVM exit. */
  def drainUpsert(s: SparkSession, streamed: DataFrame,
      keys: Seq[String], ord: Seq[String],
      vacuumKeep: Int = 2, tableRootOpt: Option[String] = None): DataFrame = {
    val root = java.nio.file.Paths.get(Tables.tempDir("upsert"))
    val tableRoot = tableRootOpt.getOrElse(root.resolve("table").toString)
    val committed = new java.util.concurrent.atomic.AtomicInteger(0)
    val q = streamed.writeStream
      .outputMode("append")
      .option("checkpointLocation", root.resolve("ckpt").toString)
      .foreachBatch { (df: DataFrame, _: Long) =>
        val ss = df.sparkSession
        val w = Window.partitionBy(keys.map(col): _*)
          .orderBy(ord.map(c => col(c).desc): _*)
        def merge(base: DataFrame): DataFrame =
          base.withColumn("__rn", row_number().over(w))
            .filter(col("__rn") === 1).drop("__rn")
        val t =
          if (committed.get() == 0)
            ManifestTable.create(ss, tableRoot, merge(df))
          else {
            val t0 = ManifestTable.open(ss, tableRoot)
            t0.commit(snap => merge(snap.unionByName(df)))
            t0
          }
        t.vacuum(vacuumKeep)
        committed.incrementAndGet()
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    try q.awaitTermination()
    finally Tables.dropDir(if (tableRootOpt.isDefined) root.toString
      else root.resolve("ckpt").toString)
    if (committed.get() == 0)
      s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        streamed.schema)
    else ManifestTable.open(s, tableRoot).read()
  }
}
