package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One recorded interval: `parent` 0 is a root, `req` groups the spans
  * of one request or operation. Times are System.nanoTime. */
final case class Span(id: Int, parent: Int, req: Int, name: String,
    layer: String, start: Long, end: Long) {
  def dur: Long = end - start
}

/** In-memory span recorder, written out when the run ends. Spans are
  * taken in the benchmark's own code around each call into a layer; the
  * streaming listener adds one span per micro-batch. With `on = false`
  * every call is a plain pass-through. */
final class Trace(val on: Boolean) {
  /** Whether spans are recorded now. A traced run switches recording off
    * for every other pass of its window, to measure its own overhead. */
  @volatile var recording: Boolean = on
  private val spans = ArrayBuffer.empty[Span]
  private val stack = new java.util.ArrayDeque[Integer]()
  private var nextId = 0
  private var reqId = 0
  /** Span open on the client thread, read by listener threads. */
  @volatile var current: Int = 0
  /** Time spent in the recorder's own bookkeeping. */
  @volatile var recorderNs = 0L

  def newRequest(): Int = { reqId += 1; reqId }

  def span[T](name: String, layer: String)(body: => T): T = {
    if (!recording) return body
    val b0 = System.nanoTime()
    val (id, parent) = synchronized { nextId += 1; (nextId, current) }
    stack.push(parent); current = id
    val t0 = System.nanoTime()
    recorderNs += t0 - b0
    try body
    finally {
      val t1 = System.nanoTime()
      current = stack.pop()
      add(Span(id, parent, reqId, name, layer, t0, t1))
      recorderNs += System.nanoTime() - t1
    }
  }

  def add(s: Span): Unit = synchronized { spans += s }
  def newId(): Int = synchronized { nextId += 1; nextId }
  def all: Seq[Span] = synchronized { spans.toList }

  def durations(name: String): Seq[Double] =
    all.filter(_.name == name).map(_.dur / 1e6)

  /** Self time per layer: each span's duration minus the part of its
    * interval its children cover. */
  def selfTimeByLayer: Map[String, Double] = {
    val byParent = all.groupBy(_.parent)
    all.map { s =>
      val kids = byParent.getOrElse(s.id, Nil).map(c =>
        (math.max(c.start, s.start), math.min(c.end, s.end))).filter(x => x._2 > x._1)
        .sortBy(_._1)
      var covered = 0L; var upTo = s.start
      kids.foreach { case (a, b) =>
        val from = math.max(a, upTo)
        if (b > from) { covered += b - from; upTo = b }
      }
      s.layer -> (s.dur - covered) / 1e9
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }

  def write(path: String): Unit = {
    val f = new java.io.File(path); f.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(f, "UTF-8")
    try all.sortBy(_.start).foreach { s =>
      w.println(s"""{"id":${s.id},"parent":${s.parent},"req":${s.req},""" +
        s""""name":"${s.name}","layer":"${s.layer}","start_ns":${s.start},""" +
        s""""end_ns":${s.end}}""")
    } finally w.close()
  }
}

/** Per-operation Spark runtime counters. Work is attributed through the
  * `perfbench.op` local property, which the client thread sets before
  * each operation and the streaming thread inherits. */
final class SparkMeter extends SparkListener {
  final class Counts {
    var jobs = 0L; var tasks = 0L; var runMs = 0L; var shuffleW = 0L
    var spill = 0L; var outBytes = 0L
  }
  val byOp = new ConcurrentHashMap[String, Counts]()
  private val stageOp = new ConcurrentHashMap[Int, String]()

  private def opOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty("perfbench.op"))).getOrElse("other")
  private def counts(op: String) = byOp.computeIfAbsent(op, _ => new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val c = counts(opOf(e.properties)); c.synchronized { c.jobs += 1 }
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stageOp.put(e.stageInfo.stageId, opOf(e.properties))
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = counts(stageOp.getOrDefault(e.stageId, "other"))
    val m = e.taskMetrics
    c.synchronized {
      c.tasks += 1
      if (m != null) {
        c.runMs += m.executorRunTime
        c.shuffleW += m.shuffleWriteMetrics.bytesWritten
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.outBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  def total(ops: String => Boolean): Counts = {
    val t = new Counts
    byOp.asScala.foreach { case (k, c) if ops(k) =>
      t.jobs += c.jobs; t.tasks += c.tasks; t.runMs += c.runMs
      t.shuffleW += c.shuffleW; t.spill += c.spill; t.outBytes += c.outBytes
    case _ => }
    t
  }
}

/** Micro-batch spans from StreamingQueryListener progress events,
  * parented to the client span open when the batch was reported. */
final class BatchSpans(trace: Trace) extends StreamingQueryListener {
  private val offsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
  val batchMs = ArrayBuffer.empty[Double]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val ms = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
    if (p.numInputRows > 0) {
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000000L + offsetNs
      synchronized { batchMs += ms.toDouble }
      trace.add(Span(trace.newId(), trace.current, 0, s"micro_batch.${p.batchId}",
        "graft.streaming", start, start + ms * 1000000L))
    }
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted; val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length

  /** Nearest-rank percentile `q` (0-1]. */
  def pct(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    s(math.min(s.length - 1, math.max(0, math.ceil(q * s.length).toInt - 1)))
  }

  /** The tail percentile reported: p90 when at least ten samples lie
    * beyond it, else the highest percentile that keeps ten beyond it,
    * else (ten samples or fewer) the maximum. */
  def tailQ(n: Int): Double =
    if (n >= 100) 0.9 else if (n > 20) 1.0 - 10.0 / n else 1.0

  def fileBytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).fold(0L)(_.map(fileBytes).sum)
    else f.length()

  def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}

/** JVM-wide GC time, for the GC share of a measured window. */
object Gc {
  private val beans = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
  def ms: Long = beans.map(_.getCollectionTime).sum
}
