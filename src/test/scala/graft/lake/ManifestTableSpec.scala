package graft.lake

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import graft.{SparkEntry, SparkTestBase, Tables}
import graft.streaming.StreamingOps
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The commit protocol's three claims: versions advance one commit at
  * a time; concurrent writers serialize (both effects land — no lost
  * update); a reader at any instant sees a complete snapshot, never a
  * half-applied commit. */
class ManifestTableSpec extends SparkTestBase {

  private def freshRoot() =
    Files.createTempDirectory("graft_mtable_spec_").toString

  test("create + commit + read round-trips and versions advance") {
    val s = spark
    import s.implicits._
    val t = ManifestTable.create(s, freshRoot(),
      (1 to 10).map(i => (i.toLong, i * 2)).toDF("id", "x"))
    assert(t.currentVersion() == 1)
    t.commit(_.withColumn("x", col("x") + 1))
    assert(t.currentVersion() == 2)
    val v3 = t.commit(_.filter(col("id") <= 5))
    assert(v3 == 3)
    val rows = t.read().orderBy("id").collect()
    assert(rows.length == 5)
    assert(rows.map(_.getInt(1)).toSeq == Seq(3, 5, 7, 9, 11))
    // Time travel: every committed snapshot remains readable.
    assert(t.readAt(1).count() == 10)
    assert(t.readAt(2).count() == 10)
  }

  test("concurrent writers serialize: both effects land, no lost update") {
    val s = spark
    import s.implicits._
    val t = ManifestTable.create(s, freshRoot(),
      (1 to 100).map(i => (i.toLong, 0L, 0L)).toDF("id", "a", "b"))
    // Two writers mutate DIFFERENT columns; a lost update would zero
    // one of them. A shared start-gate maximizes the race window.
    val gate = new java.util.concurrent.CountDownLatch(1)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val wa = Future { gate.await(); t.commit(_.withColumn("a", col("a") + 1)) }
    val wb = Future { gate.await(); t.commit(_.withColumn("b", col("b") + 7)) }
    gate.countDown()
    val va = Await.result(wa, 120.seconds)
    val vb = Await.result(wb, 120.seconds)
    assert(Set(va, vb) == Set(2, 3), s"versions $va,$vb")
    val agg = t.read().agg(sum("a"), sum("b")).collect().head
    assert(agg.getLong(0) == 100L && agg.getLong(1) == 700L,
      s"lost update: ${agg.mkString(",")}")
  }

  test("a racing reader only ever sees complete snapshots") {
    val s = spark
    import s.implicits._
    val n = 50
    val t = ManifestTable.create(s, freshRoot(),
      (1 to n).map(i => (i.toLong, 0)).toDF("id", "gen"))
    // Writer: 5 commits, each rewriting EVERY row's gen to the commit
    // number. A torn read would mix gens or change the row count.
    @volatile var done = false
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val writer = Future {
      (1 to 5).foreach(g => t.commit(_.withColumn("gen", lit(g))))
      done = true
    }
    var snapshots = 0
    while (!done) {
      val rows = t.read().groupBy("gen").agg(count(lit(1)).as("c")).collect()
      assert(rows.length == 1, s"torn read: mixed gens ${rows.mkString(";")}")
      assert(rows.head.getLong(1) == n.toLong,
        s"torn read: ${rows.head.getLong(1)} of $n rows")
      snapshots += 1
    }
    Await.result(writer, 120.seconds)
    assert(t.read().select(max("gen")).collect().head.getInt(0) == 5)
    assert(snapshots > 0)
  }

  test("vacuum collects expired snapshots and race orphans; current read survives") {
    val s = spark
    import s.implicits._
    val root = freshRoot()
    val t = ManifestTable.create(s, root,
      (1 to 20).map(i => (i.toLong, 0)).toDF("id", "gen"))
    (1 to 3).foreach(g => t.commit(_.withColumn("gen", lit(g))))
    assert(t.currentVersion() == 4)
    // Deterministic race orphan: a loser's fileset is a commit-tagged
    // data dir no manifest ever linked (commitLoop writes data BEFORE
    // the CAS; the loser's dir is exactly this).
    val orphan = java.nio.file.Paths.get(root, "data", "commit-2-deadbeef")
    java.nio.file.Files.createDirectories(orphan)
    java.nio.file.Files.write(orphan.resolve("part-00000-x.parquet"),
      Array[Byte](1, 2, 3))
    // An in-flight writer's dir (version ABOVE current) must survive.
    val inflight = java.nio.file.Paths.get(root, "data", "commit-5-aaaaaaaa")
    java.nio.file.Files.createDirectories(inflight)
    val (manifestsGone, dirsGone) = t.vacuum(keepLast = 2)
    assert(manifestsGone == 2, s"expected manifests v1,v2 gone, got $manifestsGone")
    assert(!java.nio.file.Files.exists(orphan), "race orphan not collected")
    assert(java.nio.file.Files.exists(inflight), "in-flight fileset deleted")
    // v1's and v2's filesets + the orphan are collectable (3 dirs).
    assert(dirsGone == 3, s"expected 3 data dirs gone, got $dirsGone")
    // Retained versions still read; vacuumed ones fail loudly.
    assert(t.read().select(max("gen")).collect().head.getInt(0) == 3)
    assert(t.readAt(3).count() == 20)
    intercept[IllegalArgumentException](t.readAt(2))
  }

  test("truncated and corrupted manifests fail with the malformed-manifest contract") {
    // Every truncation point of a valid manifest must raise the
    // loud 'malformed manifest' error, never an index exception.
    val full = """{"version":1,"files":["data/a.parquet","b\\c","d\"e"]}"""
    assert(ManifestTable.parseManifest(full).files ===
      Seq("data/a.parquet", "b\\c", "d\"e"))
    (0 until full.length).foreach { cut =>
      val t = full.substring(0, cut)
      try { ManifestTable.parseManifest(t); () }
      catch {
        case e: IllegalArgumentException =>
          assert(e.getMessage.contains("malformed manifest"), s"cut=$cut: $e")
        case other: Throwable =>
          fail(s"cut=$cut raised ${other.getClass.getSimpleName}: $other")
      }
    }
    // Corruptions that keep the brackets but break a literal — these
    // hit the inner lookahead guards, not the outer require.
    Seq(
      """{"files":["abc]}""", // unclosed literal
      """{"files":["a\"]}""", // escape eats the closing quote
      "{\"files\":[\"a\\u12]}", // truncated \u escape
      """{"files":["a\]}""", // trailing backslash at the bracket
      "{\"files\":[\"a\\uZZZZ\"]}" // non-hex \u payload
    ).foreach { bad =>
      val e = intercept[IllegalArgumentException](
        ManifestTable.parseManifest(bad))
      assert(e.getMessage.contains("malformed manifest"), s"input: $bad")
    }
    // With the schema field: the files array is found by its key and
    // ends at its own bracket, not at the schema JSON's last one, and
    // every truncation of the manifest fails loudly.
    val schema = StructType(Seq(StructField("files", ArrayType(StringType))))
    val withSchema = "{\"version\":2,\"files\":[\"data/a.parquet\",\"b]\"]," +
      "\"schema\":\"" + ManifestTable.esc(schema.json) + "\"}"
    assert(ManifestTable.parseManifest(withSchema) ===
      ManifestTable.Manifest(Seq("data/a.parquet", "b]"), Some(schema)))
    (0 until withSchema.length).foreach { cut =>
      val e = intercept[IllegalArgumentException](
        ManifestTable.parseManifest(withSchema.substring(0, cut)))
      assert(e.getMessage.contains("malformed manifest"), s"cut=$cut: $e")
    }
  }

  /** Jobs started from `commit`'s call until its transform is handed
    * the snapshot. */
  private def jobsBeforeTransform(t: ManifestTable)(
      transform: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): Int = {
    val sc = spark.sparkContext
    val started = new java.util.concurrent.atomic.AtomicInteger
    var seen = -1
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = started.incrementAndGet()
    }
    org.apache.spark.TestBus.drain(sc)
    sc.addSparkListener(l)
    try t.commit { snap =>
      org.apache.spark.TestBus.drain(sc)
      seen = started.get()
      transform(snap)
    } finally sc.removeSparkListener(l)
    seen
  }

  test("a snapshot read runs no Spark job: each commit records its schema") {
    val s = spark
    import s.implicits._
    val t = ManifestTable.create(s, freshRoot(),
      (1 to 10).map(i => (i.toLong, i * 2)).toDF("id", "x"))
    t.commit(_.withColumn("x", col("x") + 1))
    t.read().collect() // warm-up
    assert(jobsDuring(t.read()) === 0)
    assert(jobsDuring(t.readAt(1)) === 0)
    assert(jobsBeforeTransform(t)(_.withColumn("x", col("x") + 1)) === 0)
    assert(t.read().orderBy("id").collect().map(_.getInt(1)).toSeq ===
      (1 to 10).map(_ * 2 + 2))
  }

  /** Every retained manifest of the table at `root` records the schema
    * a parquet read of its files infers. */
  private def assertRecordsInferredSchema(root: String): Unit = {
    val t = ManifestTable.open(spark, root)
    val versions = (1 to t.currentVersion())
      .filter(v => Files.exists(Paths.get(root, "_manifests", s"v$v.json")))
    assert(versions.nonEmpty, s"no manifest under $root")
    versions.foreach { v =>
      val m = t.manifest(v)
      val inferred = spark.read.parquet(m.files.map(ManifestTable.globEsc): _*).schema
      assert(m.schema === Some(inferred), s"$root v$v")
    }
  }

  test("the recorded schema is the one a parquet read infers, for every table the engine commits") {
    val s = spark
    import s.implicits._
    // The upsert's change rows, with a non-null ARRAY<FLOAT> column.
    val changes = StructType(Seq(
      StructField("k", LongType, false), StructField("ver", LongType, false),
      StructField("embedding", ArrayType(FloatType, false), false)))
    val watched = Files.createTempDirectory("graft_mtable_changes_")
    Seq(Seq((1L, 1L), (2L, 2L)), Seq((1L, 3L), (3L, 4L))).foreach { rows =>
      s.createDataFrame(s.sparkContext.parallelize(rows.map { case (k, v) =>
          org.apache.spark.sql.Row(k, v, Seq(k.toFloat, v.toFloat)) }, 1), changes)
        .write.mode("append").parquet(watched.toString)
    }
    val upserted = freshRoot()
    StreamingOps.drainUpsert(s, s.readStream.schema(changes)
        .option("maxFilesPerTrigger", "1").parquet(watched.toString),
      keys = Seq("k"), ord = Seq("ver"), tableRootOpt = Some(upserted))
    assert(ManifestTable.open(s, upserted).currentVersion() === 2)
    assertRecordsInferredSchema(upserted)
    // Nested nullability: struct fields, array elements, map values.
    val nested = StructType(Seq(StructField("s", StructType(Seq(
      StructField("a", ArrayType(IntegerType, false), false),
      StructField("m", MapType(StringType, DoubleType, false), false))), false)))
    val nestedRoot = freshRoot()
    ManifestTable.create(s, nestedRoot, s.createDataFrame(s.sparkContext.parallelize(Seq(
      org.apache.spark.sql.Row(org.apache.spark.sql.Row(Seq(1, 2), Map("x" -> 1.0))))), nested))
    assertRecordsInferredSchema(nestedRoot)
    // The fixture tables, timestamps included, with stats on a
    // timestamp and a string column.
    val sf = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$sf/events.parquet").exists())
    val ev = freshRoot()
    ManifestTable.create(s, ev, Tables.events(s, sf), statsCols = Seq("ts", "event_type"))
    assertRecordsInferredSchema(ev)
    val docs = freshRoot()
    ManifestTable.create(s, docs, Tables.documents(s, sf))
      .commit(_.filter(col("doc_id") % 2 === 0))
    assertRecordsInferredSchema(docs)
    // The lake tables the registry's operators stage: the commit log,
    // the stats tables and the compacted table.
    Seq("q_table_commit", "q_manifest_prune", "q_stats_prune_str", "q_compaction_exec")
      .foreach(k => SparkEntry.queries(k)(s, sf).collect())
    Seq("mtable" -> "documents", "mstats" -> "events", "mtstats" -> "documents",
        "compact" -> "documents").foreach { case (kind, table) =>
      val root = Tables.stagedDir(kind, s"$sf/$table.parquet")
      assert(root.isDefined, s"$kind not staged")
      assertRecordsInferredSchema(root.get)
    }
  }

  test("a manifest without a schema field still reads, commits on and vacuums") {
    val s = spark
    import s.implicits._
    val root = freshRoot()
    val t = ManifestTable.create(s, root, (1 to 6).map(i => (i.toLong, i)).toDF("id", "x"))
    t.commit(_.withColumn("x", col("x") * 10))
    // Rewrite both manifests in the form written before schemas were
    // recorded.
    (1 to 2).foreach { v =>
      val p = Paths.get(root, "_manifests", s"v$v.json")
      val txt = new String(Files.readAllBytes(p), UTF_8)
      Files.write(p, (txt.substring(0, txt.indexOf(",\"schema\"")) + "}").getBytes(UTF_8))
      assert(t.manifest(v).schema === None)
    }
    assert(t.read().orderBy("id").collect().map(_.getInt(1)).toSeq === (1 to 6).map(_ * 10))
    assert(t.readAt(1).count() === 6)
    assert(t.readWhere("id", 2, 3).count() === 2)
    assert(t.commit(_.filter(col("id") <= 4)) === 3)
    assert(t.manifest(3).schema.isDefined)
    assert(t.vacuum(keepLast = 1) === ((2, 2)))
    assert(t.read().orderBy("id").collect().map(_.getInt(1)).toSeq === (1 to 4).map(_ * 10))
  }

  test("a commit of an empty frame reads back empty, with its schema") {
    val s = spark
    import s.implicits._
    val t = ManifestTable.create(s, freshRoot(), Seq.empty[(Long, String)].toDF("id", "s"))
    assert(t.read().count() === 0)
    assert(t.read().schema === ManifestTable.readSchema(
      Seq.empty[(Long, String)].toDF("id", "s").schema))
    t.commit(_.unionByName(Seq((1L, "a")).toDF("id", "s")))
    t.commit(_.filter(lit(false)))
    assert(t.read().count() === 0)
    assert(t.read().columns.toSeq === Seq("id", "s"))
    assert(t.readAt(2).count() === 1)
  }

  test("vacuum skips foreign data dirs with unparseable or overflowing version tags") {
    val s = spark
    import s.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_mtable_vac_")
    val t = ManifestTable.create(s, root.toString,
      (1 to 5).map(i => (i.toLong, 1)).toDF("id", "gen"))
    t.commit(_.withColumn("gen", lit(2)))
    // An alien dir whose digit run overflows Long, and one with no
    // digits at all: vacuum must skip both and still collect v1.
    val overflow = root.resolve("data/commit-99999999999999999999999999-x")
    val alien = root.resolve("data/commit-notaversion")
    java.nio.file.Files.createDirectories(overflow)
    java.nio.file.Files.createDirectories(alien)
    val (manifestsGone, dirsGone) = t.vacuum(keepLast = 1)
    assert(manifestsGone == 1 && dirsGone == 1)
    assert(java.nio.file.Files.exists(overflow) &&
      java.nio.file.Files.exists(alien),
      "vacuum collected a dir whose version tag it could not parse")
    assert(t.read().select(max("gen")).collect().head.getInt(0) == 2)
  }

  test("manifest format survives hostile roots and tables are relocatable") {
    val s = spark
    import s.implicits._
    // A root containing the exact characters the old split-on-comma
    // parser corrupted: quote, comma, backslash.
    val base = java.nio.file.Files.createTempDirectory("graft_mtable_host_")
    val hostile = base.resolve("we\"ird,di\\r")
    java.nio.file.Files.createDirectories(hostile)
    val t = ManifestTable.create(s, hostile.toString,
      (1 to 7).map(i => (i.toLong, i * 3)).toDF("id", "x"))
    t.commit(_.withColumn("x", col("x") + 1))
    assert(t.read().orderBy("id").collect().map(_.getInt(1)).toSeq ==
      (1 to 7).map(_ * 3 + 1))
    // Relocate: manifests store root-relative paths, so a moved table
    // opens anywhere.
    val moved = base.resolve("relocated")
    java.nio.file.Files.move(hostile, moved)
    val t2 = ManifestTable.open(s, moved.toString)
    assert(t2.currentVersion() == 2)
    assert(t2.read().orderBy("id").collect().map(_.getInt(1)).toSeq ==
      (1 to 7).map(_ * 3 + 1))
  }
}
