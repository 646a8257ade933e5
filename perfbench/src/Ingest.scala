package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import graft.lake.ManifestTable
import graft.ml.{HashImageEmbedder, HashTextEmbedder, TemplateCaptioner}
import graft.streaming.StreamingOps

/** The write path: embed, caption and upsert a seeded collection.
  * Most time goes to graft.ml, graft.streaming and graft.lake; the
  * distance kernels and the IVF rule are idle. */
final class Ingest extends Workload {
  val name = "ingest"
  val Docs = 600
  val WarmDocs = 200
  val Aspects = Seq("default", "safety", "style")
  val Batches = 4
  val UpdateShare = 0.3
  val Sample = 24

  private var docs: IndexedSeq[Gen.Doc] = _
  private var changes: String = _
  /** Pre-warm inputs: the first documents in their own directory, and a
    * copy of the first two change files. */
  private var warmDocs: String = _
  private var warm: String = _
  private var changeBytes = 0L
  /** Latest-wins replay of the change log: (item, aspect) -> row. */
  private var replay: Map[(Long, String), Row] = _
  private val storeBytes = ArrayBuffer.empty[Double]
  private val commits = ArrayBuffer.empty[Double]
  private var storeRun = 0

  val changeSchema = StructType(Seq(
    StructField("item_id", LongType, false), StructField("aspect", StringType, false),
    StructField("seq", LongType, false), StructField("lang", StringType, false),
    StructField("source", StringType, false), StructField("description", StringType, false),
    StructField("embedding", ArrayType(FloatType, false), false)))

  def generate(run: Run): Unit = {
    val r = run.rnd
    val vocab = Gen.vocabulary(20000)
    docs = Gen.corpus(r, Docs, vocab, 24, 48).toIndexedSeq
    run.dir = Gen.freshDir(run.work, s"ingest-s${run.seed}-n$Docs")
    Gen.writeDocs(run.spark, run.dir, docs)
    Gen.writeEmbeddings(run.spark, run.dir,
      docs.map(d => (d.id, Gen.gaussian(r), r.nextInt(10))))
    warmDocs = Gen.freshDir(run.work, s"ingest-warm-s${run.seed}-n$WarmDocs")
    Gen.writeDocs(run.spark, warmDocs, docs.take(WarmDocs))

    // Change log: every (item, aspect) key is inserted once; within
    // batches after the first, UpdateShare of the rows re-index a key
    // an earlier row wrote. `seq` orders the log (latest wins).
    val keys = r.shuffle(for (d <- docs; a <- Aspects) yield (d.id, a))
    val perBatch = math.ceil(keys.length / (1 + (1 - UpdateShare) * (Batches - 1))).toInt
    val log = ArrayBuffer.empty[Row]
    val seen = ArrayBuffer.empty[(Long, String)]
    var next = 0
    changes = s"${run.dir}/changes"
    warm = s"${run.dir}/warm"
    (0 until Batches).foreach { b =>
      val rows = ArrayBuffer.empty[Row]
      def emit(key: (Long, String)): Unit = {
        val d = docs(key._1.toInt)
        val seq = log.length.toLong
        val row = Row(key._1, key._2, seq, d.lang, d.source,
          s"${key._2} view of doc ${key._1} rev $seq: " + Gen.words(r, vocab, 4, 8).mkString(" "),
          Gen.gaussian(r).toSeq)
        rows += row; log += row
      }
      val quota = if (b == Batches - 1) Int.MaxValue else perBatch
      while (rows.length < quota && next < keys.length) {
        if (b > 0 && r.nextDouble() < UpdateShare) emit(seen(r.nextInt(seen.length)))
        else { emit(keys(next)); seen += keys(next); next += 1 }
      }
      val tmp = s"${run.dir}/tmp-batch-$b"
      run.spark.createDataFrame(run.spark.sparkContext.parallelize(rows.toSeq, 1), changeSchema)
        .write.parquet(tmp)
      val part = new File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).head
      Seq(changes) ++ (if (b < 2) Seq(warm) else Nil) foreach { dirName =>
        new File(dirName).mkdirs()
        val dst = new File(dirName, f"batch-$b%03d.parquet")
        java.nio.file.Files.copy(part.toPath, dst.toPath)
        dst.setLastModified(1700000000000L + b * 1000L)
      }
      Stats.deleteTree(new File(tmp))
    }
    require(next == keys.length, s"change log left ${keys.length - next} keys unwritten")
    changeBytes = Stats.fileBytes(new File(changes))
    replay = log.groupBy(x => (x.getLong(0), x.getString(1)))
      .map { case (k, rs) => k -> rs.maxBy(_.getLong(2)) }
    run.notes("change_log") = s"${log.length} rows in $Batches files, ${log.length - replay.size} " +
      s"re-index an existing key ($UpdateShare of the rows after the first file)"
  }

  /** One drain of the change log into a fresh store, one micro-batch
    * per file. Returns the store root. */
  private def upsert(run: Run, src: String): String = {
    storeRun += 1
    val root = s"${run.work}/store/${new File(run.dir).getName}-$storeRun"
    val stream = run.spark.readStream.schema(changeSchema)
      .option("maxFilesPerTrigger", "1").parquet(src)
    StreamingOps.drainUpsert(run.spark, stream, Seq("item_id", "aspect"), Seq("seq"),
      vacuumKeep = 2, tableRootOpt = Some(root))
    root
  }

  /** Every operation of a pass once over the small inputs. */
  override def prewarm(run: Run): Unit = {
    Seq("q_embed_text", "q_embed_image", "q_describe").foreach(k =>
      run.op(s"prewarm.$k")(run.collect(run.registry(k, warmDocs)))(_ => None))
    run.op("prewarm.upsert")(upsert(run, warm))(root => { Stats.deleteTree(new File(root)); None })
  }

  /** The three registry operators over the pre-warm documents: the first
    * run of each in a new session is slower, and would land in the
    * window's first pass. */
  def setup(run: Run): Unit =
    Seq("q_embed_text", "q_embed_image", "q_describe").foreach(k =>
      run.op(s"warmup.$k")(run.collect(run.registry(k, warmDocs)))(_ => None))

  private def sampleIds(run: Run): Seq[Long] =
    new scala.util.Random(run.seed * 31 + storeRun).shuffle(docs.map(_.id)).take(Sample)

  private def checkVectors(rows: Array[Row], ids: Seq[Long],
      expect: Gen.Doc => Array[Float]): Option[String] = {
    if (rows.length != Docs * Gen.Dim) return Some(s"${rows.length} rows, want ${Docs * Gen.Dim}")
    val want = ids.toSet
    val got = rows.filter(x => want(x.getLong(0)))
      .groupBy(_.getLong(0)).map { case (id, rs) =>
        id -> rs.sortBy(_.getLong(1)).map(_.getDouble(2)) }
    ids.find(id => !got.get(id).exists(_.sameElements(expect(docs(id.toInt)).map(_.toDouble))))
      .map(id => s"embedding of doc $id differs from the embedder recomputed")
  }

  def pass(run: Run): Unit = {
    val ids = sampleIds(run)
    val te = new HashTextEmbedder(Gen.Dim)
    val ie = new HashImageEmbedder(Gen.Dim)
    val cap = new TemplateCaptioner
    run.op("q_embed_text")(run.collect(run.registry("q_embed_text")))(
      checkVectors(_, ids, d => te.embed(d.text)))
    run.op("q_embed_image")(run.collect(run.registry("q_embed_image")))(
      checkVectors(_, ids, d => ie.embed(d.text.getBytes(UTF_8))))
    run.op("q_describe")(run.collect(run.registry("q_describe"))) { rows =>
      val got = rows.map(x => x.getLong(0) -> x.getString(1)).toMap
      if (got.size != Docs) Some(s"${got.size} captions, want $Docs")
      else ids.find { id => val d = docs(id.toInt)
        !got.get(id).contains(cap.describe(d.id, d.lang, d.source, d.text)) }
        .map(id => s"caption of doc $id differs")
    }
    run.op("upsert")(upsert(run, changes)) { root =>
      val t = ManifestTable.open(run.spark, root)
      commits += t.currentVersion()
      storeBytes += Stats.fileBytes(new File(root))
      val snap = t.read().collect()
      Stats.deleteTree(new File(root))
      val bad = snap.find { x =>
        val k = (x.getLong(0), x.getString(1))
        !replay.get(k).exists(w => (0 until 6).forall(i => w.get(i) == x.get(i)) &&
          w.getSeq[Float](6) == x.getSeq[Float](6))
      }
      if (snap.length != replay.size) Some(s"snapshot has ${snap.length} rows, replay ${replay.size}")
      else bad.map(x => s"snapshot row ${x.getLong(0)}/${x.getString(1)} differs from the replay")
    }
  }

  def passIsRequest: Boolean = true
  def itemsPerPass: Int = Docs
  def recall: Double = 1.0

  def traced(run: Run): Unit = {
    val L = run.layer
    def micro(name: String)(f: Gen.Doc => Any): Double = {
      val some = docs.take(400)
      some.foreach(f) // warm the call site before timing
      val t = some.map { d => val t0 = System.nanoTime()
        run.span(name, "graft.ml")(f(d)); (System.nanoTime() - t0) / 1e3 }
      Stats.median(t)
    }
    val te = new HashTextEmbedder(Gen.Dim); val ie = new HashImageEmbedder(Gen.Dim)
    val cap = new TemplateCaptioner
    L("ml.embed_text_us") = micro("embed_text")(d => te.embed(d.text))
    L("ml.embed_image_us") = micro("embed_image")(d => ie.embed(d.text.getBytes(UTF_8)))
    L("ml.caption_us") = micro("caption")(d => cap.describe(d.id, d.lang, d.source, d.text))
    Seq("q_embed_text", "q_embed_image", "q_describe").foreach { k =>
      L(s"queries.$k.s") = Stats.median(run.opMs(k).toSeq) / 1e3 }
    L("streaming.upsert_s") = Stats.median(run.opMs("upsert").toSeq) / 1e3
    org.apache.spark.PerfbenchBus.drain(run.spark.sparkContext)
    L("streaming.batch_ms") = run.batchSpans.fold(0.0)(b => Stats.median(b.batchMs.toSeq))
    L("lake.commits") = Stats.median(commits.toSeq)
    L("lake.store_mb") = Stats.median(storeBytes.toSeq) / 1048576.0
    run.meter.foreach { m =>
      val passes = run.opMs("upsert").length
      L("lake.bytes_written_per_user_byte") =
        m.total(_ == "upsert").outBytes.toDouble / passes / changeBytes
    }
  }

  def report(run: Run): Seq[(String, Double, String)] = Seq(
    ("store_mb", Stats.median(storeBytes.toSeq) / 1048576.0, "MB"),
    ("documents", Docs.toDouble, "count"),
    ("change_rows_total", replay.size.toDouble, "keys"))
}
