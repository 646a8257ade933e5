package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.{Failure, Random, Success, Try}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import graft.{Sessions, SparkEntry}

/** A workload declares the route it must take; a run that took another
  * route aborts instead of reporting numbers for a different plan. */
final class RouteMismatch(msg: String) extends RuntimeException(msg)

trait Workload {
  def name: String
  /** Writes the seeded inputs; not part of set-up time. */
  def generate(run: Run): Unit
  /** Untimed, once per JVM before set-up: runs the workload's operations
    * over a separate small input so JIT and generated-code caches are warm.
    * It shares no data or index with the measured input. */
  def prewarm(run: Run): Unit = ()
  /** Warm-up and build steps after `Sessions.build`, part of set-up. */
  def setup(run: Run): Unit
  /** One closed-loop pass of operations; the window runs whole passes. */
  def pass(run: Run): Unit
  /** Collection rows (or query vectors) one pass completes. */
  def itemsPerPass: Int
  /** Whether a request is a whole pass (the collection ingested or
    * deduplicated end to end) rather than a single operation. */
  def passIsRequest: Boolean
  /** Share of expected results found (recall of the workload's
    * approximate routes; 1 when every expected row is present). */
  def recall: Double
  /** Per-layer metrics only the traced run measures. */
  def traced(run: Run): Unit
  /** Workload-specific figures for the human-readable report. */
  def report(run: Run): Seq[(String, Double, String)]
}

/** The closed-loop client and its measurements: one thread, the next
  * operation starts when the previous one returns. */
final class Run(val seed: Long, val seconds: Int, val cpus: String,
    val work: String, val trace: Trace) {
  var spark: SparkSession = _
  var dir: String = _
  val rnd = new Random(seed)
  val meter: Option[SparkMeter] = if (trace.on) Some(new SparkMeter) else None
  var batchSpans: Option[BatchSpans] = None

  var attempted = 0
  var failed = 0
  /** Operations attempted, and window time spent, in recorded passes. */
  var recAttempted = 0
  var recWallNs = 0L
  val latMs = ArrayBuffer.empty[Double]
  val passMs = ArrayBuffer.empty[Double]
  var passFailed = false
  val opMs = mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
  var cachedPeak = 0L
  val layer = mutable.LinkedHashMap.empty[String, Double]
  val notes = mutable.LinkedHashMap.empty[String, String]
  private var measuring = false

  def session(): Unit = {
    if (spark != null) spark.stop()
    spark = Sessions.build(cpus)
    if (trace.on) batchSpans = Some(new BatchSpans(trace))
    if (trace.recording) listen(true)
  }

  private def listen(on: Boolean): Unit = {
    val sc = spark.sparkContext
    if (on) {
      meter.foreach(sc.addSparkListener(_))
      batchSpans.foreach(spark.streams.addListener(_))
    } else {
      meter.foreach(sc.removeSparkListener(_))
      batchSpans.foreach(spark.streams.removeListener(_))
    }
  }

  /** In a traced run, switches span recording and the Spark listeners on
    * or off; off first delivers the events already posted. */
  def record(on: Boolean): Unit = if (trace.on && on != trace.recording) {
    if (!on) org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    listen(on)
    trace.recording = on
  }

  /** Runs one timed operation. A thrown error or a failed output check
    * counts it as failed, with infinite latency. The check is not timed. */
  def op[T](key: String)(body: => T)(check: T => Option[String]): Unit = {
    val sc = spark.sparkContext
    if (measuring) {
      attempted += 1; trace.newRequest()
      if (trace.recording) recAttempted += 1
    }
    sc.setLocalProperty("perfbench.op", if (measuring) key else "setup")
    val t0 = System.nanoTime()
    val res = Try(trace.span(key, "bench")(body))
    val ms = (System.nanoTime() - t0) / 1e6
    sc.setLocalProperty("perfbench.op", null)
    cachedPeak = math.max(cachedPeak,
      sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum)
    val verdict = res match {
      case Success(v) => Try(check(v)) match {
        case Success(None) => None
        case Success(Some(msg)) => Some(msg)
        case Failure(r: RouteMismatch) => throw r
        case Failure(e) => Some(s"check threw $e")
      }
      case Failure(r: RouteMismatch) => throw r
      case Failure(e) => e.printStackTrace(); Some(s"threw $e")
    }
    if (measuring) verdict match {
      case None =>
        latMs += ms
        if (trace.recording || !trace.on) opMs.getOrElseUpdate(key, ArrayBuffer.empty) += ms
      case Some(msg) =>
        failed += 1; latMs += Double.PositiveInfinity; passFailed = true
        System.err.println(s"[perfbench] FAILED $key: $msg")
    } else verdict.foreach(msg => throw new IllegalStateException(s"$key in set-up: $msg"))
  }

  /** Plans then executes a frame, each in its own span. */
  def collect(df: DataFrame): Array[Row] = {
    trace.span("plan", "graft.plans")(df.queryExecution.executedPlan)
    trace.span("execute", "spark")(df.collect())
  }

  /** A registry operator, built through `SparkEntry.queries`. */
  def registry(key: String, over: String = null): DataFrame =
    trace.span("build", "graft.queries")(
      SparkEntry.queries(key)(spark, Option(over).getOrElse(dir)))

  def span[T](name: String, layer: String)(body: => T): T = trace.span(name, layer)(body)

  def startMeasuring(): Unit = measuring = true
}

object Main {
  val endToEnd: Seq[(String, String)] = Seq("setup_s" -> "s", "items_per_s" -> "1/s",
    "requests_per_s" -> "1/s", "latency_p50_ms" -> "ms", "latency_p90_ms" -> "ms",
    "recall" -> "frac")

  val perLayer: Seq[(String, String)] = Seq(
    "graft.session_s" -> "s", "graft.warmup_s" -> "s",
    "ml.embed_text_us" -> "us", "ml.embed_image_us" -> "us", "ml.caption_us" -> "us",
    "ml.query_embed_ms" -> "ms",
    "queries.q_embed_text.s" -> "s", "queries.q_embed_image.s" -> "s",
    "queries.q_describe.s" -> "s", "queries.q_dedup_exact.s" -> "s",
    "queries.q_dedup_minhash.s" -> "s", "queries.q_dedup_near.s" -> "s",
    "queries.q_dup_clusters.s" -> "s", "queries.q_dedup_embed.s" -> "s",
    "queries.q_mutual_knn.s" -> "s", "queries.dedup_candidates_per_pair" -> "ratio",
    "queries.knn_batch.s" -> "s", "queries.ann_candidates_per_result" -> "ratio",
    "plans.plan_ms" -> "ms", "plans.ivf_rows_scanned_per_result" -> "ratio",
    "plans.ivf_build_s" -> "s", "plans.ivf_index_mb" -> "MB",
    "functions.cosine_ns_per_pair" -> "ns",
    "streaming.upsert_s" -> "s", "streaming.batch_ms" -> "ms",
    "lake.commits" -> "count", "lake.bytes_written_per_user_byte" -> "ratio",
    "lake.store_mb" -> "MB",
    "spark.jobs_per_request" -> "count", "spark.tasks_per_request" -> "count",
    "spark.shuffle_write_mb" -> "MB", "spark.spill_mb" -> "MB", "spark.gc_s" -> "s",
    "spark.task_busy_frac" -> "frac", "spark.cached_mb_peak" -> "MB",
    "trace.overhead_pct" -> "%")

  val Setups = 3

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload: Workload = a("workload") match {
      case "ingest" => new Ingest
      case "search" => new Search
      case "dedup" => new Dedup
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val run = new Run(a("seed").toLong, a("seconds").toInt, a("cpus"), a("work"),
      new Trace(a("trace") == "1"))
    val code = try { bench(workload, run, a("spans")); 0 } catch {
      case r: RouteMismatch =>
        System.err.println(s"[perfbench] ROUTE MISMATCH in ${workload.name}: ${r.getMessage}")
        3
    } finally if (run.spark != null) run.spark.stop()
    sys.exit(code)
  }

  def bench(w: Workload, run: Run, spansPath: String): Unit = {
    run.session()
    w.generate(run)
    val pw0 = System.nanoTime()
    run.span("prewarm", "graft")(w.prewarm(run))
    val prewarmS = (System.nanoTime() - pw0) / 1e9

    val setupS = ArrayBuffer.empty[Double]
    val sessionS = ArrayBuffer.empty[Double]
    val warmS = ArrayBuffer.empty[Double]
    (1 to Setups).foreach { _ =>
      val t0 = System.nanoTime()
      run.span("session", "graft")(run.session())
      val t1 = System.nanoTime()
      run.span("warmup", "graft")(w.setup(run))
      val t2 = System.nanoTime()
      sessionS += (t1 - t0) / 1e9; warmS += (t2 - t1) / 1e9; setupS += (t2 - t0) / 1e9
    }

    // A traced run alternates recorded and unrecorded passes, at least
    // one of each, so it measures its own overhead on the same seed,
    // session and inputs. Its first pass is an unrecorded lead-in left out
    // of that comparison: the first pass of a window runs slower than the
    // later ones, which would bias whichever kind came first. The
    // per-layer metrics come from the recorded passes.
    run.startMeasuring()
    val gc0 = Gc.ms
    val rec0 = run.trace.recorderNs
    val recPassMs = ArrayBuffer.empty[Double]
    val plainPassMs = ArrayBuffer.empty[Double]
    val minPasses = if (run.trace.on) 3 else 1
    val t0 = System.nanoTime()
    var passes = 0
    while (passes < minPasses || System.nanoTime() - t0 < run.seconds * 1e9) {
      run.record(passes % 2 == 1)
      val p0 = System.nanoTime()
      run.passFailed = false
      w.pass(run); passes += 1
      val ns = System.nanoTime() - p0
      val ms = if (run.passFailed) Double.PositiveInfinity else ns / 1e6
      run.passMs += ms
      if (run.trace.recording) { recPassMs += ms; run.recWallNs += ns }
      else if (passes > 1) plainPassMs += ms
    }
    run.record(true)
    val wall = (System.nanoTime() - t0) / 1e9
    val gcS = (Gc.ms - gc0) / 1e3
    val recS = (run.trace.recorderNs - rec0) / 1e9

    val lat = (if (w.passIsRequest) run.passMs else run.latMs).toSeq
    val tail = Stats.tailQ(lat.length)
    val e2e = Seq(
      "setup_s" -> Stats.median(setupS.toSeq),
      "items_per_s" -> w.itemsPerPass * passes / wall,
      "requests_per_s" -> lat.length / wall,
      "latency_p50_ms" -> Stats.pct(lat, 0.5),
      "latency_p90_ms" -> Stats.pct(lat, tail),
      "recall" -> w.recall)

    println(s"workload ${w.name} seed ${run.seed}: $passes passes, ${run.attempted} " +
      f"operations in $wall%.3f s (closed loop, one client, local[${run.cpus}])")
    e2e.foreach { case (k, v) => println(f"  $k%-22s $v%.6f ${unit(k)}") }
    println(f"  latency tail percentile  p${tail * 100}%.1f over ${lat.length} samples")
    println(f"  prewarm (untimed)      $prewarmS%.3f s")
    println(f"  failed_frac            ${run.failed.toDouble / run.attempted}%.6f")
    println(f"  cached_mb_peak         ${run.cachedPeak / 1048576.0}%.3f MB")
    w.report(run).foreach { case (k, v, u) => println(f"  $k%-22s $v%.6f $u") }
    run.opMs.foreach { case (k, v) =>
      println(f"  op $k%-20s n=${v.length}%-4d p50 ${Stats.median(v.toSeq)}%.1f ms") }
    run.notes.foreach { case (k, v) => println(s"  note $k = $v") }

    val metrics: Seq[(String, Double, String)] = if (!run.trace.on)
      e2e.map { case (k, v) => (k, v, unit(k)) }
    else {
      val L = run.layer
      L("graft.session_s") = Stats.median(sessionS.toSeq)
      L("graft.warmup_s") = Stats.median(warmS.toSeq)
      L("spark.gc_s") = gcS / run.attempted
      L("spark.cached_mb_peak") = run.cachedPeak / 1048576.0
      w.traced(run)
      org.apache.spark.PerfbenchBus.drain(run.spark.sparkContext)
      L("plans.plan_ms") = Stats.median(run.trace.durations("plan"))
      run.meter.foreach { m =>
        val t = m.total(k => run.opMs.contains(k))
        val n = run.recAttempted
        L("spark.jobs_per_request") = t.jobs.toDouble / n
        L("spark.tasks_per_request") = t.tasks.toDouble / n
        L("spark.shuffle_write_mb") = t.shuffleW / 1048576.0 / n
        L("spark.spill_mb") = t.spill / 1048576.0 / n
        L("spark.task_busy_frac") = t.runMs / 1e3 / (run.recWallNs / 1e9 * run.cpus.toDouble)
      }
      val (tracedMs, plainMs) = (Stats.median(recPassMs.toSeq), Stats.median(plainPassMs.toSeq))
      L("trace.overhead_pct") = (tracedMs / plainMs - 1) * 100
      println(f"  tracing overhead       ${L("trace.overhead_pct")}%.3f %% (median pass " +
        f"$tracedMs%.1f ms over ${recPassMs.length} recorded vs $plainMs%.1f ms over " +
        f"${plainPassMs.length} unrecorded passes after the lead-in; recorder bookkeeping ${recS / wall * 100}%.4f %% of the window)")
      run.trace.write(spansPath)
      println(s"  spans: ${run.trace.all.length} written to $spansPath")
      run.trace.selfTimeByLayer.toSeq.sortBy(-_._2).foreach { case (l, s) =>
        println(f"  self time $l%-18s $s%.3f s") }
      perLayer.map { case (k, u) => (k, L.getOrElse(k, 0.0), u) }
    }
    val body = metrics.map { case (k, v, u) =>
      s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }.mkString(", ")
    println(s"""{"correct": ${run.failed == 0}, "attempted": ${run.attempted}, """ +
      s""""failed": ${run.failed}, "metrics": {$body}}""")
  }

  def unit(k: String): String = endToEnd.toMap.getOrElse(k, "")
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "1e308" else java.lang.Double.toString(v)
}
