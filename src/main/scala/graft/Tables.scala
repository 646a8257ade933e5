package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import java.util.concurrent.ConcurrentHashMap
import scala.reflect.ClassTag

/** Loaders for the driver-generated parquet tables (TESTDATA.md /
  * FIXTURES.md). One parquet file per table under the scale-factor
  * directory passed to every query.
  *
  * Every read builds a fresh parquet relation, so Catalyst's column
  * pruning and predicate pushdown reach the scan (verify with
  * `.explain("formatted")` → `ReadSchema` / `PushedFilters`) and two
  * reads carry distinct attribute ids (self-joins through Dataset
  * column references stay unambiguous). What is NOT repeated is
  * schema inference: a bare `spark.read.parquet` runs a one-task
  * footer job per call, which is most of a small search request's
  * pre-planning time. [[table]] infers once and hands the schema to
  * every later `spark.read.schema(s).parquet(p)`. The memo is keyed
  * on the table's identity — its path plus the driver-side file
  * listing (relative names, sizes, mtimes), so a rewrite at the same
  * path infers afresh — and on the session's parquet read settings
  * (`spark.sql.parquet.*`, `spark.sql.legacy.parquet.*`,
  * `spark.sql.caseSensitive`), which change the inferred types. It
  * is JVM-wide, not per session: each new session (every benchmark
  * set-up, every `newSession()`) would otherwise pay the footer job
  * again for a schema it reads identically. On a real cluster these
  * paths would be catalog tables whose schema lives in the metastore;
  * the loader seam keeps that swap local.
  *
  * Everything derived from a fixture table (the IVF index, bucketed
  * layouts, staged source formats, stream inputs, staged lake tables,
  * the banded dedup pairs, the tf-idf postings) is built once under
  * one rule, [[ensureDerived]] / [[staged]] / [[pinned]]: it is reused
  * while its source's [[TableId]] is unchanged and rebuilt when it is
  * not. The rule owns every temp directory it makes ([[tempDir]]) and
  * every frame it pins: a rebuild deletes the directory or unpins the
  * frame it supersedes, and the remaining directories are deleted at
  * JVM exit.
  */
object Tables {
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    // Note the session's current fixture dir: scale routes that have
    // no dir in scope (the loop-frame storage route below) read it
    // back. Every query reads its tables before pinning frames, so
    // the note is always fresh by the time loopPin consults it.
    spark.conf.set("spark.graft.fixture.dir", dir)
    val path = s"$dir/$name.parquet"
    tableId(path) match {
      case None => spark.read.parquet(path) // missing or non-local: Spark reports it
      case Some(id) =>
        val schema = memoized(schemaMemo, SchemaKey(id, readSettings(spark)))(_.table)(
          spark.read.parquet(path).schema)
        spark.read.schema(schema).parquet(path)
    }
  }

  /** A table's identity on disk: its path and every file under it by
    * relative name, size and mtime. Spark names each written part file
    * uniquely, so a rewrite at the same path yields a new identity. */
  final case class TableId(path: String, files: Seq[(String, Long, Long)])

  /** The identity of the table at `path` — a driver-side listing, no
    * Spark job. None when the path is not a local file or directory. */
  def tableId(path: String): Option[TableId] = {
    val root = new java.io.File(path)
    def walk(f: java.io.File, rel: String): Seq[(String, Long, Long)] =
      if (f.isDirectory)
        Option(f.listFiles()).fold(Seq.empty[(String, Long, Long)])(
          _.sortBy(_.getName).toSeq.flatMap(c => walk(c, s"$rel/${c.getName}")))
      else Seq((rel, f.length(), f.lastModified()))
    if (root.exists()) Some(TableId(path, walk(root, ""))) else None
  }

  /** What each derived artefact was last built from in this JVM: the
    * source identity, and the artefact the rule made for it. Keyed by
    * ("table", lower-cased table name) or by (kind, source path). */
  private final case class Built(source: Option[TableId], artefact: Artefact)
  private sealed trait Artefact
  private case object CatalogTable extends Artefact
  private final case class StagedDir(dir: String) extends Artefact
  private final case class PinnedFrame(frame: DataFrame, variant: String) extends Artefact
  private val derivedFrom = new ConcurrentHashMap[(String, String), Built]()

  /** The build-once rule (see the object's doc), shared by every
    * artefact form: `build` runs unless the artefact is still `live`
    * and was built from `source` as it is now. A source with no
    * identity (not a local path) is rebuilt on every call: nothing
    * shows it unchanged. A rebuild first releases the artefact it
    * replaces. Builds are serialized JVM-wide. */
  private def derive[A <: Artefact: ClassTag](key: (String, String), source: String,
      live: A => Boolean)(build: => A): A = synchronized {
    val id = tableId(source)
    derivedFrom.get(key) match {
      case Built(`id`, a: A) if id.isDefined && live(a) => a
      case _ =>
        Option(derivedFrom.remove(key)).foreach(b => release(b.artefact))
        val a = build
        derivedFrom.put(key, Built(id, a))
        a
    }
  }

  private def release(a: Artefact): Unit = a match {
    case StagedDir(d) => dropDir(d)
    case PinnedFrame(f, _) => if (!f.sparkSession.sparkContext.isStopped) unpin(f)
    case CatalogTable => ()
  }

  /** The rule for a catalog table (the IVF index, the bucketed join
    * layouts): `build` writes `table`. A fresh session (new warehouse)
    * or another directory with the same basename (the usual table-name
    * tag) also rebuilds. */
  def ensureDerived(s: SparkSession, table: String, source: String)(
      build: => Unit): Unit =
    derive(("table", table.toLowerCase), source,
        (_: CatalogTable.type) => s.catalog.tableExists(table)) {
      build; CatalogTable
    }

  /** The rule for a staged directory (a source re-exported in another
    * format, a lake table staged from a fixture): `build` fills a fresh
    * `graft_<kind>_` temp directory, which is returned. */
  def staged(kind: String, source: String)(build: String => Unit): String =
    derive((kind, source), source, (a: StagedDir) => new java.io.File(a.dir).isDirectory) {
      val dir = tempDir(kind)
      try build(dir) catch { case e: Throwable => dropDir(dir); throw e }
      StagedDir(dir)
    }.dir

  /** The rule for a pinned frame (the banded dedup pairs, the tf-idf
    * postings): `build` returns the frame pinned ([[loopPin]] or an
    * eager checkpoint) and materialized, and its jobs run under the
    * description `graft <kind> <source>`. The frame is reused while
    * `source`'s identity and `variant` (the build's other parameters)
    * are unchanged, its pin is still held, and its
    * SparkContext is `s`'s and running; a stopped and rebuilt session
    * builds afresh. A rebuild unpins the frame it replaces, so each
    * (kind, source) holds at most one. */
  def pinned(s: SparkSession, kind: String, source: String, variant: String)(
      build: => DataFrame): DataFrame =
    derive((kind, source), source, (p: PinnedFrame) => p.variant == variant &&
        (p.frame.sparkSession.sparkContext eq s.sparkContext) && isPinned(p.frame)) {
      PinnedFrame(describingJobs(s, s"graft $kind $source")(build), variant)
    }.frame

  /** Runs `body` with `s`'s Spark jobs described as `desc` (what a
    * listener attributes them to), then restores the caller's
    * description. */
  def describingJobs[T](s: SparkSession, desc: String)(body: => T): T = {
    val sc = s.sparkContext
    val caller = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(desc)
    try body finally sc.setLocalProperty("spark.job.description", caller)
  }

  /** The source identity the catalog table `table` was last built from. */
  private[graft] def builtFrom(table: String): Option[TableId] =
    Option(derivedFrom.get(("table", table.toLowerCase))).flatMap(_.source)

  /** The directory [[staged]] last built for (`kind`, `source`). */
  private[graft] def stagedDir(kind: String, source: String): Option[String] =
    Option(derivedFrom.get((kind, source))).map(_.artefact).collect { case StagedDir(d) => d }

  /** Every temp directory the rule owns and has not deleted yet. One
    * JVM-exit hook deletes whatever is still live. */
  private val liveDirs = ConcurrentHashMap.newKeySet[String]()
  Runtime.getRuntime.addShutdownHook(new Thread(() => liveDirs.forEach(d => dropDir(d))))

  /** A fresh `graft_<kind>_` temp directory, deleted by [[dropDir]] or
    * at JVM exit. */
  def tempDir(kind: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft_${kind}_").toString
    liveDirs.add(d)
    d
  }

  /** Deletes `dir` and everything under it. */
  def dropDir(dir: String): Unit = {
    graft.lake.ManifestTable.deleteRecursively(java.nio.file.Paths.get(dir))
    liveDirs.remove(dir)
  }

  /** Session settings that change what parquet schema inference returns. */
  private def readSettings(s: SparkSession): Seq[(String, String)] =
    s.conf.getAll.toSeq.filter { case (k, _) =>
      k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.") ||
        k == "spark.sql.caseSensitive"
    }.sorted

  private final case class SchemaKey(table: TableId, read: Seq[(String, String)])

  private val schemaMemo = new ConcurrentHashMap[SchemaKey, StructType]()

  /** Memo lookup that, on a miss, first drops the entries of an older
    * identity of the same table path, so rewrites do not accumulate. */
  private def memoized[K, V](m: ConcurrentHashMap[K, V], key: K)(
      table: K => TableId)(compute: => V): V =
    Option(m.get(key)).getOrElse {
      val id = table(key)
      m.keySet.removeIf { k => val t = table(k); t.path == id.path && t != id }
      m.computeIfAbsent(key, _ => compute)
    }

  /** Total on-disk bytes of a table's parquet footprint — a FREE
    * driver-side size signal for plan gating (a directory listing,
    * no Spark job; on a real cluster this is the catalog's
    * sizeInBytes statistic). 0 for a missing table so gates degrade
    * to their small-input plan instead of throwing. */
  def tableBytes(d: String, name: String): Long = diskBytes(s"$d/$name.parquet")

  private def diskBytes(path: String): Long = tableId(path).fold(0L)(_.files.map(_._2).sum)

  /** JVM-wide documents row-count memo (round-15 verdict #5): every
    * size-gated text/dedup route reads this to dispatch, and the count
    * is a parquet-footer-only job — but two footer scans per query
    * invocation is pure overhead at 10⁶-file scale. Keyed on the
    * table's [[TableId]], so a rewrite of `documents` at the same path
    * is counted afresh. */
  private val docCountMemo = new ConcurrentHashMap[TableId, java.lang.Long]()

  def docCount(s: SparkSession, d: String): Long =
    tableId(s"$d/documents.parquet") match {
      case None => documents(s, d).count()
      case Some(id) =>
        memoized(docCountMemo, id)(identity)(documents(s, d).count())
    }

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")

  /** events.ts normalization to session-zoned microsecond
    * TimestampType, robust to the parquet vintage the generator
    * emitted — the testdata has shipped `ts` both as
    * TIMESTAMP(NANOS) (read as BIGINT under
    * `spark.sql.legacy.parquet.nanosAsLong`, set at session build —
    * [[Sessions]]) and as plain timestamp[us] (read as
    * TIMESTAMP_NTZ). Branch on the READ dtype, not an assumed file
    * layout, so a regenerated table never breaks every downstream
    * plan again:
    *
    *  - BIGINT → nanos: truncate to micros. Lossless here (the
    *    generator emits µs-precision values) and matches DuckDB's
    *    `CAST(ts AS TIMESTAMP)` in every oracle. `DIV 1000`
    *    truncates toward zero, which equals floor only for ts >= 0 —
    *    the generator emits 2024 epochs only.
    *  - TIMESTAMP/TIMESTAMP_NTZ → `CAST(ts AS TIMESTAMP)`; the
    *    session timezone is UTC ([[Sessions]]), so the NTZ wall
    *    clock maps to the same instant the nanos path produced.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    Sessions.prepare(s)
    val raw = table(s, d, "events")
    normalizeTs(raw)
  }

  /** Shared by the batch loader and the streaming source
    * ([[graft.streaming.StreamingOps]]) so both read paths stay in
    * lockstep on future schema drift. */
  def normalizeTs(raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("CAST(ts DIV 1000 AS LONG)")))
      case TimestampType => raw
      case TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case other =>
        throw new IllegalStateException(
          s"events.ts has unsupported parquet-read type $other; " +
            "expected BIGINT (nanosAsLong), TIMESTAMP, or TIMESTAMP_NTZ")
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** Total on-disk bytes of a fixture directory (a driver-side
    * listing, as every [[table]] read makes). Drives the loop-frame
    * storage route; on a real cluster this is the catalog's table-level
    * sizeInBytes statistic. */
  def fixtureBytes(d: String): Long = diskBytes(d)

  /** Loop-frame storage route (round 18): how a data-sized frame
    * that a query re-scans many times (graph-loop edge frames, the
    * banded dedup frame) gets pinned.
    *
    *  - COLUMNAR `persist()` above the gate: compressed columnar
    *    batches are ~8× smaller than deserialized checkpoint blocks
    *    (which hold one UnsafeRow object per row in old-gen — ~12 GB
    *    for one q_hits invocation at the 100× fixture, the measured
    *    GC-churn mechanism behind the round-17 sweep's heavy-tail
    *    variance), scans read them vectorized, and
    *    InMemoryTableScan preserves outputPartitioning exactly as
    *    LogicalRDD did, so exchange-free loop shapes survive.
    *    Measured at 100×: 1.3–2.2× faster across the graph family
    *    with per-key GC 21 s → sub-2 s (BENCH.md round 18).
    *  - DESERIALIZED `localCheckpoint` below it: at sf0.1 the same
    *    conversion READ 1.3–1.7× slower (q_triangle_count 3.3→5.4 s,
    *    q_sssp 2.2→3.3 s) — the per-scan columnar→row decode
    *    dominates when the frame is a few MB and GC pressure is nil.
    *
    * The gate is the session's fixture footprint (100 MB — sf0.1 is
    * 17 MB, the 10×/100× fixtures are 154 MB/1.5 GB), a free
    * driver-side listing, conf-overridable for A/B and specs:
    * `spark.graft.loop.columnar` = on | off | auto (default), with
    * the taken route readable from `spark.graft.loop.lastStorage` —
    * the same dispatch discipline as the dedup/ann doc-count gates. */
  def loopPin(df: DataFrame): DataFrame = {
    val s = df.sparkSession
    val columnar = loopScaleGate(s)
    s.conf.set("spark.graft.loop.lastStorage",
      if (columnar) "columnar" else "checkpoint")
    if (columnar) df.persist() else df.localCheckpoint(eager = false)
  }

  /** Releases a frame pinned by [[loopPin]] or [[loopStep]]: the
    * checkpoint's blocks, or the columnar cache entry. */
  def unpin(df: DataFrame): Unit = df.queryExecution.logical match {
    case r: LogicalRDD => r.rdd.unpersist(blocking = false)
    case _ => df.unpersist(blocking = false)
  }

  /** Whether `df`'s pin (see [[unpin]]) is still held in a running
    * SparkContext — a cache clear or a stopped session drops it. */
  private def isPinned(df: DataFrame): Boolean = {
    val sc = df.sparkSession.sparkContext
    !sc.isStopped && (df.queryExecution.logical match {
      case r: LogicalRDD => sc.getPersistentRDDs.contains(r.rdd.id)
      case _ => df.storageLevel != org.apache.spark.storage.StorageLevel.NONE
    })
  }

  /** The loop-storage scale gate shared by [[loopPin]] and
    * [[loopStep]]: `spark.graft.loop.columnar` = on | off | auto
    * (default auto = session fixture footprint ≥ 100 MB — sf0.1 is
    * 17 MB, the 10×/100× fixtures 154 MB/1.6 GB). */
  private def loopScaleGate(s: SparkSession): Boolean =
    s.conf.get("spark.graft.loop.columnar", "auto") match {
      case "on"  => true
      case "off" => false
      case _ =>
        val d = s.conf.get("spark.graft.fixture.dir", "")
        d.nonEmpty && fixtureBytes(d) >= (100L << 20)
    }

  /** Per-ROUND loop-frame pin (round 19, verdict #1): an EAGER
    * plan-TRUNCATING localCheckpoint in BOTH routes — fixpoint loops
    * whose next round references the previous round twice (the CC
    * pointer-jump self-join) would grow an EXPONENTIAL logical plan
    * under [[loopPin]]'s columnar persist (persist does not truncate
    * lineage; each pointer-jump round doubles the subtree).
    *
    * EAGER, measured (round 19): the lazy form lost ~160 s on
    * q_dup_clusters at the 100× fixture — when the first consuming
    * job references the uncomputed checkpoint RDD from TWO leaf
    * stages (the CC loop's two edge orientations / the jump
    * self-join's two sides), the scheduler runs both stages
    * concurrently and their tasks serialize per-partition on the
    * block manager's compute-or-wait cache locks: half the cores sit
    * blocked behind the other stage's compute of the same heavy
    * partition (282 s warm lazy vs 89+32 s for the same stages
    * materialized eagerly). Eager materialization runs the frame's
    * pipeline exactly once in its own job; every later scan is a
    * cache read.
    *
    * Only the STORAGE LEVEL is scale-gated:
    *  - SERIALIZED (`MEMORY_AND_DISK_SER`, Spark 4's
    *    localCheckpoint(eager, level) overload) above the gate —
    *    each block is a handful of byte buffers instead of one
    *    UnsafeRow object per row, so accumulated rounds cannot
    *    old-gen-storm the collector (the round-18 GC mechanism);
    *  - the deserialized default below it (the r17-record sf0.1
    *    path — per-scan deserialization costs more than it saves on
    *    MB-sized frames).
    * Taken route readable from `spark.graft.loop.lastStepStorage`. */
  def loopStep(df: DataFrame): DataFrame = {
    val s = df.sparkSession
    val ser = loopScaleGate(s)
    s.conf.set("spark.graft.loop.lastStepStorage",
      if (ser) "ser" else "deser")
    if (ser) df.localCheckpoint(eager = true,
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    else df.localCheckpoint(eager = true)
  }
}
