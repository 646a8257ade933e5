package graft.streaming

import java.sql.Timestamp
import graft.SparkTestBase
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Multi-batch streaming semantics the single-batch Verify drain
  * can't exercise: watermark-based late-data dropping and stateful
  * dedup across micro-batches (SURVEY §5.5). */
class StreamingSpec extends SparkTestBase {

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("tumbling window with watermark drops late rows across batches") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val input = MemoryStream[(Timestamp, Double)]
    val agg = input.toDF().toDF("ts", "value")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("ws"), col("n"))
    val q = agg.writeStream.format("memory").queryName("t_late")
      .outputMode("update").start()
    try {
      // Batch 1: two rows in the 10:00 window, one at 12:00 that
      // advances the watermark to 11:50.
      input.addData((ts("2024-01-01 10:00:00"), 1.0),
        (ts("2024-01-01 10:30:00"), 1.0),
        (ts("2024-01-01 12:00:00"), 1.0))
      q.processAllAvailable()
      // Batch 2: a row at 10:45 — far older than the 11:50 watermark,
      // must be DROPPED; plus a fresh 12:05 row, must count.
      input.addData((ts("2024-01-01 10:45:00"), 1.0),
        (ts("2024-01-01 12:05:00"), 1.0))
      q.processAllAvailable()
      val counts = spark.table("t_late").groupBy("ws").agg(max("n").as("n"))
        .collect().map(r => r.getTimestamp(0).toString -> r.getLong(1)).toMap
      assert(counts("2024-01-01 10:00:00.0") === 2L) // late row not applied
      assert(counts("2024-01-01 12:00:00.0") === 2L) // fresh row applied
    } finally q.stop()
  }

  test("dropDuplicates holds dedup state across micro-batches") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val input = MemoryStream[(Timestamp, Long)]
    val dd = input.toDF().toDF("ts", "k")
      .withWatermark("ts", "1 hour")
      .dropDuplicates("k")
      .select(col("k"))
    val q = dd.writeStream.format("memory").queryName("t_dedup")
      .outputMode("append").start()
    try {
      input.addData((ts("2024-01-01 10:00:00"), 1L), (ts("2024-01-01 10:01:00"), 2L))
      q.processAllAvailable()
      // k=1 reappears in a later batch: state must suppress it.
      input.addData((ts("2024-01-01 10:02:00"), 1L), (ts("2024-01-01 10:03:00"), 3L))
      q.processAllAvailable()
      val ks = spark.table("t_dedup").collect().map(_.getLong(0)).sorted
      assert(ks.toSeq === Seq(1L, 2L, 3L))
    } finally q.stop()
  }

  test("the local session writes streaming checkpoint logs through the FileSystem API") {
    import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileSystemBasedCheckpointFileManager}
    val conf = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.newHadoopConf()
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt_").toString
    assert(CheckpointFileManager.create(new org.apache.hadoop.fs.Path(dir), conf)
      .isInstanceOf[FileSystemBasedCheckpointFileManager])
  }

  test("drainUpsert folds multiple micro-batches into the batch latest-wins result") {
    // Two parquet files + maxFilesPerTrigger=1 force TWO micro-batches
    // through the foreachBatch merge: the later file re-keys (1,'a')
    // and must overwrite batch 1's row, exactly like the batch window.
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_upsert_src_")
    Seq((1L, "a", 10L, 1.0), (2L, "b", 11L, 2.0))
      .toDF("k", "g", "ver", "v").write.parquet(dir.resolve("f1").toString)
    Seq((1L, "a", 20L, 9.0), (3L, "c", 12L, 3.0))
      .toDF("k", "g", "ver", "v").write.parquet(dir.resolve("f2").toString)
    // Stage both files into one watched directory.
    val watched = java.nio.file.Files.createTempDirectory("graft_upsert_watch_")
    Seq("f1", "f2").foreach { f =>
      val src = s.read.parquet(dir.resolve(f).toString)
      src.coalesce(1).write.mode("append").parquet(watched.toString)
    }
    val schema = s.read.parquet(watched.toString).schema
    val streamed = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(watched.toString)
    val got = StreamingOps.drainUpsert(s, streamed,
      keys = Seq("k", "g"), ord = Seq("ver"))
      .orderBy("k").collect().map(r =>
        (r.getAs[Long]("k"), r.getAs[Long]("ver"), r.getAs[Double]("v")))
    assert(got.toSeq === Seq((1L, 20L, 9.0), (2L, 11L, 2.0), (3L, 12L, 3.0)))
  }

  test("drainUpsert commits each batch transactionally; mid-stream readers " +
      "see only complete snapshots and vacuum bounds the chain") {
    val s = spark
    import s.implicits._
    val watched = java.nio.file.Files.createTempDirectory("graft_upsert_tx_")
    // Four single-file micro-batches; later batches re-key earlier rows.
    Seq(Seq((1L, "a", 10L, 1.0), (2L, "b", 11L, 2.0)),
        Seq((1L, "a", 20L, 9.0), (3L, "c", 12L, 3.0)),
        Seq((2L, "b", 21L, 8.0)),
        Seq((4L, "d", 13L, 4.0), (3L, "c", 22L, 7.0))).foreach { rows =>
      rows.toDF("k", "g", "ver", "v")
        .coalesce(1).write.mode("append").parquet(watched.toString)
    }
    val schema = s.read.parquet(watched.toString).schema
    val streamed = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(watched.toString)
    val tableRoot = java.nio.file.Files
      .createTempDirectory("graft_upsert_tbl_").toString
    // Expected latest-wins state after each committed version: a
    // concurrent reader must observe one of these EXACTLY — a partial
    // merge (e.g. half a fileset) would surface as a set none of the
    // versions produce.
    val states: Seq[Set[(Long, Long)]] = Seq(
      Set((1L, 10L), (2L, 11L)),
      Set((1L, 20L), (2L, 11L), (3L, 12L)),
      Set((1L, 20L), (2L, 21L), (3L, 12L)),
      Set((1L, 20L), (2L, 21L), (3L, 22L), (4L, 13L)))
    // Concurrent reader: poll the table while the stream commits.
    // Every successful read must be a complete committed snapshot.
    val observed = java.util.Collections.newSetFromMap(
      new java.util.concurrent.ConcurrentHashMap[Set[(Long, Long)], java.lang.Boolean]())
    val badReads = new java.util.concurrent.CopyOnWriteArrayList[Set[(Long, Long)]]()
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val reader = new Thread(() => {
      val t = graft.lake.ManifestTable.open(s, tableRoot)
      while (!stop.get()) {
        try {
          val got = t.read().select("k", "ver").collect()
            .map(r => (r.getLong(0), r.getLong(1))).toSet
          if (states.contains(got)) observed.add(got)
          else badReads.add(got)
        } catch {
          // Before v1 exists, or when the polled version is vacuumed
          // out from under the scan, the read fails LOUDLY — the
          // contract — rather than returning partial data. Only a
          // SUCCESSFUL read with non-snapshot content (badReads)
          // violates atomicity.
          case scala.util.control.NonFatal(_) =>
        }
      }
    })
    reader.start()
    val got = try {
      StreamingOps.drainUpsert(s, streamed,
        keys = Seq("k", "g"), ord = Seq("ver"),
        vacuumKeep = 2, tableRootOpt = Some(tableRoot))
        .select("k", "ver").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    } finally { stop.set(true); reader.join() }
    assert(got === states.last)
    assert(badReads.isEmpty,
      s"mid-stream reader saw non-snapshot states: $badReads")
    assert(observed.contains(states.last)) // reader saw ≥ the final commit
    // vacuum(keepLast=2) ran after every commit: only the 2 newest
    // manifests and their filesets remain — the chain is bounded even
    // though 4 batches committed.
    val manifests = new java.io.File(s"$tableRoot/_manifests").listFiles()
      .map(_.getName).filter(n => n.startsWith("v") && n.endsWith(".json"))
    assert(manifests.toSet === Set("v3.json", "v4.json"))
    val filesets = new java.io.File(s"$tableRoot/data").listFiles()
      .map(_.getName).filter(_.startsWith("commit-"))
    assert(filesets.forall(n => n.startsWith("commit-3-") || n.startsWith("commit-4-")),
      s"vacuum left expired filesets: ${filesets.mkString(",")}")
  }

  test("repeated drainUpsert calls into a given table root leave no temp directory") {
    val s = spark
    import s.implicits._
    val watched = java.nio.file.Files.createTempDirectory("graft_upsert_flat_")
    Seq((1L, "a", 10L, 1.0), (2L, "b", 11L, 2.0)).toDF("k", "g", "ver", "v")
      .coalesce(1).write.mode("append").parquet(watched.toString)
    val schema = s.read.parquet(watched.toString).schema
    val tables = java.nio.file.Files.createTempDirectory("graft_upsert_flat_tables_")
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def live: Int = tmp.listFiles().count(_.getName.matches("graft_upsert_[0-9]+"))
    val before = live
    (1 to 3).foreach { i =>
      StreamingOps.drainUpsert(s, s.readStream.schema(schema).parquet(watched.toString),
        keys = Seq("k", "g"), ord = Seq("ver"),
        tableRootOpt = Some(tables.resolve(s"table-$i").toString))
      assert(live === before, s"after call $i")
    }
  }

  test("drain fails loudly on multi-batch update mode instead of duplicating") {
    val s = spark
    import s.implicits._
    val watched = java.nio.file.Files.createTempDirectory("graft_drain_guard_")
    Seq((ts("2024-01-01 10:00:00"), 1.0)).toDF("ts", "value")
      .coalesce(1).write.mode("append").parquet(watched.toString)
    Seq((ts("2024-01-01 10:30:00"), 2.0)).toDF("ts", "value")
      .coalesce(1).write.mode("append").parquet(watched.toString)
    val schema = s.read.parquet(watched.toString).schema
    val agg = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(watched.toString)
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour")).agg(count(lit(1)).as("n"))
    val e = intercept[IllegalStateException] {
      StreamingOps.drain(s, agg, "update").collect()
    }
    assert(e.getMessage.contains("update mode"))
  }

  test("foreachBatch streaming upsert converges to batch latest-wins (A7 incremental)") {
    // The reference's per-file add_or_update flow
    // (photo_vector_search.py:94) as a streaming merge sink: each
    // micro-batch folds into a keyed store, last writer wins.
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val store = new java.util.concurrent.ConcurrentHashMap[Long, (Long, String)]()
    val input = MemoryStream[(Long, Long, String)] // (key, version, payload)
    val q = input.toDF().toDF("k", "ver", "payload").writeStream
      .outputMode("append")
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        df.collect().foreach { r =>
          val (k, v, p) = (r.getLong(0), r.getLong(1), r.getString(2))
          store.merge(k, (v, p),
            (old, nw) => if (nw._1 >= old._1) nw else old)
        }
      }.start()
    try {
      input.addData((1L, 1L, "a"), (2L, 1L, "b"))
      q.processAllAvailable()
      input.addData((1L, 2L, "a2"), (3L, 1L, "c")) // re-index photo 1
      q.processAllAvailable()
      assert(store.get(1L) === ((2L, "a2")))
      assert(store.get(2L) === ((1L, "b")))
      assert(store.get(3L) === ((1L, "c")))
    } finally q.stop()
  }

  test("session window merges within gap and splits beyond it") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val input = MemoryStream[(Timestamp, Long)]
    val sess = input.toDF().toDF("ts", "uid")
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), "30 minutes"), col("uid"))
      .agg(count(lit(1)).as("n"))
      .select(col("uid"), col("session_window.start").as("st"), col("n"))
    val q = sess.writeStream.format("memory").queryName("t_sess")
      .outputMode("append").start()
    try {
      input.addData(
        (ts("2024-01-01 10:00:00"), 1L), // session A
        (ts("2024-01-01 10:20:00"), 1L), // merges (gap 20m < 30m)
        (ts("2024-01-01 11:30:00"), 1L), // session B (gap 70m)
        (ts("2024-01-01 23:00:00"), 1L)) // pushes watermark far ahead
      q.processAllAvailable()
      // Empty-data batch finalizes watermark-passed sessions.
      input.addData((ts("2024-01-01 23:59:00"), 2L))
      q.processAllAvailable()
      val rows = spark.table("t_sess")
        .collect().map(r => (r.getLong(0), r.getTimestamp(1).toString, r.getLong(2)))
        .toSet
      assert(rows.contains((1L, "2024-01-01 10:00:00.0", 2L)))
      assert(rows.contains((1L, "2024-01-01 11:30:00.0", 1L)))
    } finally q.stop()
  }

  test("stream-stream interval join matches across batches, expires past watermark") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val clicksIn = MemoryStream[(Timestamp, Long, Long)] // (ts, user, id)
    val purchIn = MemoryStream[(Timestamp, Long, Long)]
    val clicks = clicksIn.toDF().toDF("c_ts", "c_user", "click_id")
      .withWatermark("c_ts", "10 minutes")
    val purch = purchIn.toDF().toDF("p_ts", "p_user", "purchase_id")
      .withWatermark("p_ts", "10 minutes")
    val joined = clicks.join(purch,
      col("c_user") === col("p_user") &&
        col("p_ts") >= col("c_ts") &&
        col("p_ts") <= col("c_ts") + expr("INTERVAL 1 HOUR"))
      .select(col("c_user").as("uid"), col("click_id"), col("purchase_id"))
    val q = joined.writeStream.format("memory").queryName("t_ssj")
      .outputMode("append").start()
    try {
      // Batch 1: a click with no purchase yet — no output, state held.
      clicksIn.addData((ts("2024-01-01 10:00:00"), 1L, 100L))
      q.processAllAvailable()
      assert(spark.table("t_ssj").count() === 0)
      // Batch 2: purchase 40 min later on the other feed → joins with
      // the click retained in the state store from batch 1.
      purchIn.addData((ts("2024-01-01 10:40:00"), 1L, 900L))
      q.processAllAvailable()
      assert(spark.table("t_ssj").collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2))).toSet ===
        Set((1L, 100L, 900L)))
      // Batch 3: advance both watermarks far past the click's join
      // range (c_ts + 1h + 10m delay), evicting its state...
      clicksIn.addData((ts("2024-01-01 23:00:00"), 2L, 101L))
      purchIn.addData((ts("2024-01-01 23:00:30"), 3L, 901L))
      q.processAllAvailable()
      // ...then a purchase inside the old click's window arrives
      // LATE: past the watermark the state is gone — no new match.
      purchIn.addData((ts("2024-01-01 10:50:00"), 1L, 902L))
      q.processAllAvailable()
      assert(spark.table("t_ssj").count() === 1,
        "late purchase matched an evicted click — join state not bounded")
    } finally q.stop()
  }

  test("stream source stages the Spark-written DIRECTORY vintage of events") {
    // The driver's testdata ships events.parquet as ONE pyarrow file;
    // ScaleData's large-SF fixtures write it as a Spark DIRECTORY of
    // part files. A shallow Files.copy of a directory stages an EMPTY
    // dir (round-11 sf1.0 sweep: all 8 q_stream_* failed schema
    // inference), so the stager must enumerate part files. Recreate
    // the directory vintage from sf0.001 and run a stream query's
    // full plan over it against its batch twin.
    val src = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$src/events.parquet").exists())
    val dir = java.nio.file.Files.createTempDirectory("graft_dirvint_")
    try {
      graft.Sessions.prepare(spark)
      spark.read.parquet(s"$src/events.parquet")
        .repartition(3) // several part files, like a real job's output
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      val streamed = graft.SparkEntry.queries("q_stream_tumbling")(
        spark, dir.toString).collect()
      val batch = graft.Tables.events(spark, dir.toString)
        .groupBy(date_trunc("hour", col("ts")).as("ws"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .collect().map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2))
        .toMap
      assert(streamed.nonEmpty, "directory-vintage source produced no rows")
      streamed.foreach { r =>
        val k = (r.getTimestamp(0), r.getString(1))
        assert(batch(k) === r.getAs[Long]("n"), s"count @ $k")
      }
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }
  }
}
