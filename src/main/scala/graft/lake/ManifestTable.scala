package graft.lake

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{FileAlreadyExistsException, Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** Minimal TRANSACTIONAL table on plain parquet — the commit-log
  * pattern (Delta/Iceberg-style, re-derived from the published
  * protocol shape) that gives the engine's mutation verbs (A7 upsert,
  * A13/A14 delete; photo_vector_search.py:94-151 mutates its store in
  * place) reader-safe atomicity on an immutable lake:
  *
  *  - DATA is immutable: every commit writes a fresh fileset under
  *    `data/commit-<v>-<nonce>/` and never touches prior files.
  *  - The MANIFEST is the table: `_manifests/v<N>.json` lists the
  *    exact files of snapshot N. A reader resolves max(N), reads that
  *    list, and is guaranteed a complete snapshot — data files are
  *    fully written BEFORE the manifest appears, and the manifest
  *    appears atomically (written to a temp name, then claimed with
  *    an atomic no-replace link).
  *  - CONCURRENT writers serialize optimistically: the link onto
  *    `v<N>.json` succeeds for exactly one writer (the filesystem's
  *    no-replace link is the compare-and-swap); the loser re-reads
  *    the new current snapshot, re-applies its transform, and retries
  *    at N+1 — so commits are serializable transforms, never
  *    lost-update blind writes.
  *  - RETENTION is explicit: [[vacuum]] drops manifests older than
  *    the newest `keepLast` versions and deletes every data fileset
  *    no retained manifest references — which collects both expired
  *    snapshots and the orphaned filesets of lost commit races.
  *
  * Manifests store paths RELATIVE to the table root (committed tables
  * are relocatable — move the directory, open it elsewhere), JSON
  * string-escaped, and are read back by a real string-literal
  * tokenizer — a root containing `"`/`,`/`\` round-trips intact.
  *
  * Each manifest also carries the snapshot's SCHEMA (the `schema`
  * field, Spark's schema JSON as one string literal — the schema
  * Delta's `metaData` action records), written inside the same atomic
  * link as the file list. Readers scan with it, so opening a snapshot
  * runs no parquet-footer job. A manifest without the field (a table
  * committed before schemas were recorded) is read by inference.
  *
  * On a real cluster the same protocol runs against an object store
  * with a conditional-put (the link here) and the data writes are
  * distributed parquet jobs — nothing in the shape is driver-sized:
  * the manifest is O(files), not O(rows), and each commit's data job
  * is an ordinary Spark write. Readers pay zero coordination.
  */
final class ManifestTable private (val root: String, spark: SparkSession) {

  private def manifestDir = Paths.get(root, "_manifests")

  /** Highest committed version, 0 if the table is empty of commits. */
  def currentVersion(): Int = {
    val files = Option(manifestDir.toFile.listFiles()).getOrElse(Array.empty)
    val vs = files.map(_.getName).collect {
      case n if n.startsWith("v") && n.endsWith(".json") =>
        n.stripPrefix("v").stripSuffix(".json").toInt
    }
    if (vs.isEmpty) 0 else vs.max
  }

  /** Snapshot `v`'s manifest, with absolute file paths. Manifest
    * entries are root-relative (absolute entries from pre-relocatable
    * manifests still resolve, so old tables stay readable). */
  private[lake] def manifest(v: Int): ManifestTable.Manifest = {
    val m = manifestDir.resolve(s"v$v.json")
    require(Files.exists(m),
      s"no manifest for version $v at $root (vacuumed or never committed)")
    val parsed = ManifestTable.parseManifest(new String(Files.readAllBytes(m), UTF_8))
    parsed.copy(files =
      parsed.files.map(p => if (Paths.get(p).isAbsolute) p else s"$root/$p"))
  }

  /** A parquet scan of `files` with the recorded `schema` (no footer
    * job), or by inference when the manifest predates schemas.
    * spark.read treats paths as Hadoop GLOBS (`\*?[]{}` are
    * metacharacters — a literal '\' in a directory name silently
    * matches nothing); escape so the manifest's exact files are read. */
  private def scan(schema: Option[StructType], files: Seq[String]): DataFrame =
    schema.fold(spark.read)(spark.read.schema(_))
      .parquet(files.map(ManifestTable.globEsc): _*)

  /** Snapshot read at the current version — a plain parquet scan of
    * the manifest's file list (partition pruning, pushdown, and
    * column pruning all apply as usual). */
  def read(): DataFrame = readAt(currentVersion())

  def readAt(v: Int): DataFrame = {
    require(v >= 1, s"no committed version at $root")
    val m = manifest(v)
    scan(m.schema, m.files)
  }

  /** Serializable commit: `transform` maps the current snapshot to
    * the next one. On a version race the transform is RE-APPLIED to
    * the winner's snapshot (optimistic concurrency), so concurrent
    * commits compose instead of overwriting each other. Returns the
    * committed version.
    *
    * `statsCols` (round-11 verdict #5 — the named additive upgrade;
    * string/date/timestamp columns since round 14, the Iceberg
    * parity increment): columns to record PER-FILE min/max for in a
    * stats sidecar next to the manifest, so range predicates can
    * skip whole files BEFORE any parquet footer is opened
    * ([[readWhere]] for numeric/date bounds, [[readWhereString]]
    * for string bounds — a point lookup is `lo == hi`).
    * Stats are computed in ONE distributed pass over the freshly
    * written fileset (a groupBy on `input_file_name()` — no per-file
    * driver loop), outward-rounded to the enclosing doubles so
    * pruning stays sound for integral values past 2^53, and
    * published BEFORE the manifest's CAS link under the fileset's
    * nonce — a reader that can resolve the manifest is therefore
    * guaranteed the sidecar exists (or the commit predates stats and
    * pruning degrades to reading everything, never to wrong
    * answers). */
  def commit(transform: DataFrame => DataFrame,
      statsCols: Seq[String] = Nil): Int =
    commitLoop(v => transform(readAt(v)), statsCols)

  private[lake] def commitLoop(make: Int => DataFrame,
      statsCols: Seq[String] = Nil): Int = {
    var attempt = 0
    while (true) {
      attempt += 1
      require(attempt <= 20, s"commit contention not resolving at $root")
      val v = currentVersion()
      val next = make(v)
      val schema = ManifestTable.readSchema(next.schema)
      val nonce = java.util.UUID.randomUUID().toString.take(8)
      val rel = s"data/commit-${v + 1}-$nonce"
      next.write.mode("overwrite").parquet(s"$root/$rel")
      val parts = Option(new File(s"$root/$rel").listFiles())
        .getOrElse(Array.empty)
        .filter(f => f.getName.startsWith("part-") &&
          f.getName.endsWith(".parquet"))
        .map(f => s"$rel/${f.getName}").sorted
      if (statsCols.nonEmpty)
        writeStats(v + 1, nonce, rel, statsCols, schema)
      if (tryPublish(v + 1, parts.toSeq, schema)) return v + 1
      // else: another writer claimed v+1 first — loop re-reads and
      // re-applies; our orphaned fileset AND its stats sidecar are
      // unreachable garbage that vacuum() collects (never visible to
      // any reader — the sidecar is keyed by our losing nonce).
      Files.deleteIfExists(statsPath(v + 1, nonce))
    }
    -1 // unreachable
  }

  private def statsPath(v: Int, nonce: String): Path =
    manifestDir.resolve(s"stats-$v-$nonce.tsv")

  /** One Spark job: per (file, column) min/max over the fileset just
    * written, serialized as TSV lines `relPath TAB col TAB kind TAB
    * min TAB max` (paths are engine-generated
    * `data/commit-v-nonce/part-*` names — no tabs possible; string
    * bounds are percent-encoded so payload tabs/newlines cannot
    * corrupt a line). `kind` is `d` (numeric/date/timestamp bounds
    * as doubles — dates as epoch days, timestamps as epoch micros,
    * the Iceberg convention) or `s` (string bounds, UTF-8 binary =
    * CODE-POINT order, matching Spark's min/max on StringType).
    * Legacy 4-field lines (pre-round-14 sidecars) still parse as
    * numeric. All-null columns in a file emit no line: [[readWhere]]
    * then SKIPS that file for predicates on the column (a range
    * predicate cannot match NULL), which is the aggressive-but-sound
    * direction. */
  private def writeStats(v: Int, nonce: String, rel: String,
      statsCols: Seq[String], schema: StructType): Unit = {
    import org.apache.spark.sql.functions.{col, input_file_name, unix_date, unix_micros, max => smax, min => smin}
    import org.apache.spark.sql.types.{DateType, StringType, TimestampType}
    val df = spark.read.schema(schema).parquet(s"$root/$rel")
    statsCols.foreach { c =>
      require(df.columns.contains(c),
        s"stats column '$c' not in committed schema " +
          df.columns.mkString("[", ",", "]"))
    }
    def kindOf(c: String): String = df.schema(c).dataType match {
      case StringType => "s"
      case _ => "d"
    }
    def boundCol(c: String) = df.schema(c).dataType match {
      case StringType => col(c)
      case DateType => unix_date(col(c)).cast("double")
      case TimestampType => unix_micros(col(c)).cast("double")
      case _ => col(c).cast("double")
    }
    val aggs = statsCols.flatMap(c => Seq(
      smin(boundCol(c)).as(s"min_$c"),
      smax(boundCol(c)).as(s"max_$c")))
    val rows = df.groupBy(input_file_name().as("f"))
      .agg(aggs.head, aggs.tail: _*)
      .collect() // one row per part file — O(files of ONE commit)
    val lines = rows.flatMap { r =>
      val name = r.getString(0).split('/').last
      statsCols.flatMap { c =>
        val lo = r.getAs[Any](s"min_$c"); val hi = r.getAs[Any](s"max_$c")
        if (lo == null || hi == null) None
        else if (kindOf(c) == "s") {
          // String bounds are EXACT (no rounding concern); encode so
          // a payload tab/newline/percent can never corrupt the TSV.
          val loS = ManifestTable.pctEnc(lo.asInstanceOf[String])
          val hiS = ManifestTable.pctEnc(hi.asInstanceOf[String])
          Some(s"$rel/$name\t$c\ts\t$loS\t$hiS")
        } else {
          // NaN SOUNDNESS (round-12 advice): Spark's min/max order
          // NaN ABOVE every double, so one NaN row makes max = NaN
          // (and min = NaN iff the file is all-NaN). A NaN bound
          // written verbatim would fail `mx >= lo` in pruneFiles and
          // silently DROP a file holding in-range non-NaN rows —
          // wrong answers, not just missed pruning. Record the
          // un-prunable ±Infinity bound instead: the file is always
          // kept, the residual filter stays correct.
          val loD = lo.asInstanceOf[Double]
          val hiD = hi.asInstanceOf[Double]
          val loS = if (loD.isNaN) Double.NegativeInfinity
                    else math.nextDown(loD)
          val hiS = if (hiD.isNaN) Double.PositiveInfinity
                    else math.nextUp(hiD)
          Some(s"$rel/$name\t$c\td\t$loS\t$hiS")
        }
      }
    }
    Files.createDirectories(manifestDir)
    Files.write(statsPath(v, nonce),
      lines.mkString("\n").getBytes(UTF_8))
  }

  /** Raw per-file stats lines for `colName` at version `v`: path →
    * (kind, loToken, hiToken). Legacy 4-field lines parse as kind
    * `d`. The sidecar is located through the NONCE embedded in the
    * manifest's own file paths — no extra manifest field, so the
    * manifest format (and every pre-stats table) is untouched. */
  private def statLines(v: Int, colName: String)
      : Map[String, (String, String, String)] = {
    val nonces = manifest(v).files
      .map(_.split('/').takeRight(2).head) // commit-<v>-<nonce>
      .collect { case n if n.startsWith("commit-") => n.split('-').last }
      .distinct
    nonces.flatMap { nonce =>
      // stats file is named by the fileset's OWN version tag, which
      // older snapshots may reference too — scan the matching names.
      Option(manifestDir.toFile.listFiles()).getOrElse(Array.empty)
        .toSeq
        .filter(f => f.getName.startsWith("stats-") &&
          f.getName.endsWith(s"-$nonce.tsv"))
        .flatMap { f =>
          new String(Files.readAllBytes(f.toPath), UTF_8)
            .split('\n').filter(_.nonEmpty).flatMap { line =>
              line.split('\t') match {
                case Array(p, c, lo, hi) if c == colName =>
                  Some(s"$root/$p" -> (("d", lo, hi)))
                case Array(p, c, kind, lo, hi) if c == colName =>
                  Some(s"$root/$p" -> ((kind, lo, hi)))
                case _ => None
              }
            }
        }
    }.toMap
  }


  /** Range read with MANIFEST-LEVEL file skipping: semantically
    * identical to `read().filter(colName BETWEEN lo AND hi)` — the
    * residual filter always applies — but files whose recorded
    * [min, max] cannot intersect [lo, hi] are dropped from the scan
    * list BEFORE Spark opens a single parquet footer. At millions of
    * files that is the difference between a driver-side list prune
    * and a cluster-wide footer-read storm; files without stats (old
    * commits, non-stats columns) are conservatively kept.
    * Returns the filtered frame; [[pruneFiles]] exposes the
    * kept/total split the spec pins. */
  def readWhere(colName: String, lo: Double, hi: Double): DataFrame = {
    import org.apache.spark.sql.functions.{col, unix_date, unix_micros}
    import org.apache.spark.sql.types.{DateType, TimestampType}
    val v = currentVersion()
    val (kept, _) = pruneFilesAt(v, colName, lo, hi)
    val base =
      if (kept.isEmpty)
        readAt(v).filter(org.apache.spark.sql.functions.lit(false))
      else scan(manifest(v).schema, kept)
    // Residual predicate in the SAME units the stats were written in:
    // dates compare as epoch days, timestamps as epoch micros.
    val resid = base.schema(colName).dataType match {
      case DateType => unix_date(col(colName)).cast("double")
      case TimestampType => unix_micros(col(colName)).cast("double")
      case _ => col(colName)
    }
    base.filter(resid >= lo && resid <= hi)
  }

  /** The pruning decision by itself: (files kept, all files) for a
    * numeric range predicate on `colName` at the current version. */
  def pruneFiles(colName: String, lo: Double, hi: Double): (Seq[String], Seq[String]) =
    pruneFilesAt(currentVersion(), colName, lo, hi)

  private def pruneFilesAt(v: Int, colName: String, lo: Double, hi: Double)
      : (Seq[String], Seq[String]) = {
    require(lo <= hi, s"empty range [$lo, $hi]")
    val all = manifest(v).files
    val lines = statLines(v, colName)
    val kept = all.filter { f =>
      lines.get(f) match {
        case Some(("d", loS, hiS)) =>
          // An unparseable legacy token degrades to keep, and a NaN
          // bound (a sidecar written before the NaN→±Infinity guard
          // in writeStats) must read as "keep": NaN comparisons are
          // all-false, which would otherwise silently drop the file.
          // Pruning degrades to reading, never to wrong answers.
          val mn = loS.toDoubleOption.getOrElse(Double.NaN)
          val mx = hiS.toDoubleOption.getOrElse(Double.NaN)
          if (mn.isNaN || mx.isNaN) true
          else mx >= lo && mn <= hi
        // A non-numeric stats kind under a numeric predicate cannot
        // prune — keep (conservative, never wrong answers).
        case Some(_) => true
        case None =>
          // No line for this (file, col): either a pre-stats commit
          // (keep — conservative) or an all-null column (skip — a
          // range predicate cannot match NULL). Distinguish by
          // whether the file's fileset has ANY stats for the column.
          val dir = f.substring(0, f.lastIndexOf('/'))
          !lines.keys.exists(_.startsWith(dir + "/"))
      }
    }
    (kept, all)
  }

  /** String-range read with manifest-level file skipping — the
    * [[readWhere]] contract on a STRING column (Iceberg records
    * string lower/upper bounds for exactly this; a point lookup is
    * `lo == hi`). Bounds compare in CODE-POINT order — the order
    * Spark's min/max on StringType (UTF8String binary comparison)
    * produced them in; Java's String.compareTo is UTF-16 code-unit
    * order, which DISAGREES above U+FFFF, so the comparator below is
    * not optional. Semantics: identical to
    * `read().filter(colName BETWEEN lo AND hi)` (Spark string
    * comparison is the same binary order); the residual filter
    * always applies. */
  def readWhereString(colName: String, lo: String, hi: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    val v = currentVersion()
    val (kept, _) = pruneFilesStringAt(v, colName, lo, hi)
    val base =
      if (kept.isEmpty)
        readAt(v).filter(org.apache.spark.sql.functions.lit(false))
      else scan(manifest(v).schema, kept)
    base.filter(col(colName) >= lo && col(colName) <= hi)
  }

  /** The string pruning decision: (files kept, all files) for a
    * string range predicate on `colName` at the current version. */
  def pruneFilesString(colName: String, lo: String, hi: String)
      : (Seq[String], Seq[String]) =
    pruneFilesStringAt(currentVersion(), colName, lo, hi)

  private def pruneFilesStringAt(v: Int, colName: String, lo: String, hi: String)
      : (Seq[String], Seq[String]) = {
    require(ManifestTable.cpCompare(lo, hi) <= 0, s"empty range [$lo, $hi]")
    val all = manifest(v).files
    val lines = statLines(v, colName)
    val kept = all.filter { f =>
      lines.get(f) match {
        case Some(("s", loS, hiS)) =>
          (ManifestTable.pctDec(loS), ManifestTable.pctDec(hiS)) match {
            case (Some(mn), Some(mx)) =>
              ManifestTable.cpCompare(mx, lo) >= 0 &&
                ManifestTable.cpCompare(mn, hi) <= 0
            case _ => true // malformed stats line: keep, never prune
          }
        case Some(_) => true // numeric stats under a string predicate
        case None =>
          val dir = f.substring(0, f.lastIndexOf('/'))
          !lines.keys.exists(_.startsWith(dir + "/"))
      }
    }
    (kept, all)
  }

  /** The linearization point: publish v<N>.json by hard-LINKING the
    * fully-written temp file onto the version name. createLink is the
    * local filesystem's atomic compare-and-swap — it fails with
    * FileAlreadyExistsException if the name is taken (POSIX rename
    * would silently REPLACE, which is exactly not a CAS), so exactly
    * one writer per version wins, and a reader either sees the
    * complete manifest or nothing. On an object store the same slot
    * is a conditional put (If-None-Match) — the protocol is
    * unchanged. */
  private def tryPublish(v: Int, files: Seq[String], schema: StructType): Boolean = {
    Files.createDirectories(manifestDir)
    def lit(s: String) = "\"" + ManifestTable.esc(s) + "\""
    val body = files.map(lit).mkString(s"""{"version":$v,"files":[""", ",",
      s"""],"schema":${lit(schema.json)}}""")
    val tmp = Files.createTempFile(manifestDir, s".v$v-", ".tmp")
    Files.write(tmp, body.getBytes(UTF_8))
    try {
      Files.createLink(manifestDir.resolve(s"v$v.json"), tmp)
      true
    } catch {
      case _: FileAlreadyExistsException => false
    } finally Files.deleteIfExists(tmp)
  }

  /** Retention + garbage collection: keep the newest `keepLast`
    * committed versions; delete every older manifest, then every
    * `data/commit-*` fileset that no RETAINED manifest references —
    * which collects expired snapshots AND the orphaned filesets of
    * lost commit races (commitLoop losers write data nobody links).
    *
    * Filesets whose version tag is ABOVE the current version are
    * never touched: they belong to in-flight writers that have not
    * reached their CAS yet. Within the horizon the standard retention
    * contract applies (as in Delta/Iceberg): don't vacuum while a
    * writer is mid-commit at a version you're collecting, and readers
    * of vacuumed versions fail loudly on the missing manifest rather
    * than seeing partial data.
    *
    * Returns (manifests deleted, data directories deleted). */
  def vacuum(keepLast: Int): (Int, Int) = {
    require(keepLast >= 1, "vacuum must keep at least the current version")
    val cur = currentVersion()
    if (cur == 0) return (0, 0)
    val keepFrom = math.max(1, cur - keepLast + 1)
    val referenced: Set[String] = (keepFrom to cur).iterator
      .filter(v => Files.exists(manifestDir.resolve(s"v$v.json")))
      .flatMap(v => manifest(v).files)
      .map(f => Paths.get(f).getParent.toAbsolutePath.toString)
      .toSet
    val manifestsGone = (1 until keepFrom).count { v =>
      Files.deleteIfExists(manifestDir.resolve(s"v$v.json"))
    }
    val dataDirs = Option(Paths.get(root, "data").toFile.listFiles())
      .getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("commit-"))
    val dirsGone = dataDirs.count { dir =>
      // Unparseable/overflowing version tags are foreign dirs — skip
      // them rather than aborting the whole vacuum.
      val ver = scala.util.Try(
        dir.getName.stripPrefix("commit-").takeWhile(_.isDigit).toLong)
      val collectable = ver.toOption.exists(_ <= cur) &&
        !referenced.contains(dir.getAbsolutePath)
      if (collectable) ManifestTable.deleteRecursively(dir.toPath)
      collectable
    }
    // Stats sidecars ride their fileset's lifetime: once the
    // `commit-<v>-<nonce>` dir is unreferenced and collected (or its
    // writer lost the race), `stats-<v>-<nonce>.tsv` is garbage too.
    val liveNonces: Set[String] = referenced.map(_.split('/').last)
      .collect { case n if n.startsWith("commit-") => n.split('-').last }
    Option(manifestDir.toFile.listFiles()).getOrElse(Array.empty)
      .filter { f =>
        val n = f.getName
        n.startsWith("stats-") && n.endsWith(".tsv") && {
          val parts = n.stripPrefix("stats-").stripSuffix(".tsv").split('-')
          val ver = scala.util.Try(parts.head.toLong).toOption
          ver.exists(_ <= cur) && !liveNonces.contains(parts.last)
        }
      }
      .foreach(f => Files.deleteIfExists(f.toPath))
    (manifestsGone, dirsGone)
  }
}

object ManifestTable {
  /** Open (or initialize) a table rooted at `root`; `init` seeds
    * version 1 if and only if no commit exists yet. `statsCols` as
    * in [[ManifestTable.commit]] — per-file min/max recorded for the
    * seed fileset. */
  def create(spark: SparkSession, root: String, init: DataFrame,
      statsCols: Seq[String] = Nil): ManifestTable = {
    val t = new ManifestTable(root, spark)
    if (t.currentVersion() == 0) t.commitLoop(_ => init, statsCols)
    t
  }

  def open(spark: SparkSession, root: String): ManifestTable =
    new ManifestTable(root, spark)

  /** JSON string-escape: backslash, quote, and control chars — the
    * full set a filesystem path can smuggle into the manifest. */
  /** Percent-encode a string stats bound for the TSV sidecar: only
    * `%`, TAB, LF, CR are escaped — everything else round-trips
    * verbatim, so bounds stay human-readable. */
  private[lake] def pctEnc(s: String): String =
    s.flatMap {
      case '%' => "%25"
      case '\t' => "%09"
      case '\n' => "%0A"
      case '\r' => "%0D"
      case c => c.toString
    }

  private[lake] def pctDec(s: String): Option[String] = {
    val b = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      if (s.charAt(i) == '%') {
        // A malformed escape (e.g. '%zz' from a hand-edited or
        // corrupted sidecar) degrades to None → the caller KEEPS the
        // file, matching the numeric path's toDoubleOption policy:
        // pruning corruption must widen the read set, never throw.
        // A truncated trailing escape ('%' or '%2') is the same
        // corruption class: pctEnc never emits a bare '%', so any
        // '%' without two hex chars is unparseable, not literal —
        // decoding it literally could compare a wrong bound and
        // wrongly PRUNE a file (the one direction the policy forbids).
        if (i + 3 > s.length) return None
        val hex = s.substring(i + 1, i + 3)
        if (!hex.forall(c => Character.digit(c, 16) >= 0)) return None
        b.append(Integer.parseInt(hex, 16).toChar)
        i += 3
      } else { b.append(s.charAt(i)); i += 1 }
    }
    Some(b.toString)
  }

  /** Compare two strings in CODE-POINT order — the order of Spark's
    * UTF8String (binary UTF-8) min/max, which differs from Java's
    * UTF-16 compareTo for code points above U+FFFF vs U+E000..U+FFFF. */
  private[lake] def cpCompare(a: String, b: String): Int = {
    var i = 0; var j = 0
    while (i < a.length && j < b.length) {
      val ca = a.codePointAt(i); val cb = b.codePointAt(j)
      if (ca != cb) return Integer.compare(ca, cb)
      i += Character.charCount(ca); j += Character.charCount(cb)
    }
    Integer.compare(a.length - i, b.length - j)
  }

  private[lake] def esc(s: String): String = {
    val b = new StringBuilder(s.length + 8)
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.toString
  }

  /** A parsed manifest: its file entries as written, and the schema
    * the commit recorded (None for a manifest written before schemas
    * were). */
  private[lake] final case class Manifest(files: Seq[String], schema: Option[StructType])

  /** The schema a parquet read of a frame with schema `t` infers:
    * Spark reads every field, array element and map value of a file
    * source as nullable. */
  private[lake] def readSchema(t: StructType): StructType =
    nullable(t).asInstanceOf[StructType]

  private def nullable(t: DataType): DataType = t match {
    case s: StructType =>
      StructType(s.fields.map(f => f.copy(dataType = nullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
    case m: MapType => MapType(nullable(m.keyType), nullable(m.valueType), valueContainsNull = true)
    case o => o
  }

  private val FilesKey = java.util.regex.Pattern.compile("\"files\"\\s*:\\s*\\[")
  private val SchemaKey = java.util.regex.Pattern.compile("\"schema\"\\s*:\\s*\"")

  /** Parse a manifest: the string literals of its `files` array, then
    * the `schema` literal if one follows the array. A real
    * escape-aware walk (split-on-comma corrupts any path containing
    * ',' or '"'; this is the reader `esc` is written for). The array
    * is found by its key and ends at its first bracket outside a
    * literal, so the brackets of the schema JSON cannot be taken for
    * it. A manifest that does not end in `}` is truncated and fails
    * like any other malformed one. */
  private[lake] def parseManifest(txt: String): Manifest = {
    def malformed(why: String): Nothing =
      throw new IllegalArgumentException(
        s"requirement failed: malformed manifest ($why): $txt")
    // The literal whose opening quote is at `from`: its value and the
    // index just past its closing quote. Escape lookaheads are
    // bounds-checked so a truncated/corrupted manifest fails with the
    // same 'malformed manifest' contract instead of a
    // StringIndexOutOfBoundsException.
    def literal(from: Int): (String, Int) = {
      val b = new StringBuilder
      var i = from + 1
      while (i < txt.length && txt(i) != '"') {
        txt(i) match {
          case '\\' if i + 1 < txt.length && txt(i + 1) == 'u' =>
            if (i + 6 > txt.length) malformed("truncated string literal")
            val code =
              try Integer.parseInt(txt.substring(i + 2, i + 6), 16)
              catch { case _: NumberFormatException => malformed("bad \\u escape") }
            b.append(code.toChar)
            i += 6
          case '\\' =>
            if (i + 1 >= txt.length) malformed("truncated string literal")
            b.append(txt(i + 1)); i += 2
          case c =>
            b.append(c); i += 1
        }
      }
      if (i >= txt.length) malformed("truncated string literal")
      (b.toString, i + 1)
    }
    val files = FilesKey.matcher(txt)
    if (!files.find()) malformed("no files array")
    val out = Seq.newBuilder[String]
    var i = files.end()
    while (i < txt.length && txt(i) != ']') {
      if (txt(i) == '"') { val (f, next) = literal(i); out += f; i = next }
      else i += 1
    }
    if (i >= txt.length) malformed("unterminated files array")
    if (!txt.trim.endsWith("}")) malformed("truncated")
    val sk = SchemaKey.matcher(txt)
    val schema = if (!sk.find(i)) None else {
      val json = literal(sk.end() - 1)._1
      Some(scala.util.Try(DataType.fromJson(json)).toOption.collect {
        case st: StructType => st
      }.getOrElse(malformed("unreadable schema")))
    }
    Manifest(out.result(), schema)
  }

  /** Escape Hadoop glob metacharacters so a manifest path is read as
    * the literal file it names. */
  private[lake] def globEsc(p: String): String =
    p.flatMap {
      case c @ ('\\' | '*' | '?' | '[' | ']' | '{' | '}') => s"\\$c"
      case c => c.toString
    }

  private[graft] def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p))
      Option(p.toFile.listFiles()).getOrElse(Array.empty)
        .foreach(f => deleteRecursively(f.toPath))
    Files.deleteIfExists(p)
  }
}
