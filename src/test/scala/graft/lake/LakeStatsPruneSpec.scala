package graft.lake

import java.nio.file.Files

import graft.{SparkEntry, SparkTestBase}
import org.apache.spark.sql.functions._

/** Manifest column-stats pruning (round-11 verdict #5): per-file
  * min/max recorded at commit time lets a range read drop files from
  * the scan list before any footer opens — and the pruned read is
  * byte-identical to scan + filter. */
class LakeStatsPruneSpec extends SparkTestBase {

  private def freshRoot() =
    Files.createTempDirectory("graft_mstats_spec_").toString

  private def rangedTable(root: String): ManifestTable = {
    val s = spark
    import s.implicits._
    // 1000 rows, value 0..999, range-partitioned into 10 files with
    // disjoint value ranges — the layout a partitioned ingest
    // produces.
    val df = (0 until 1000).map(i => (i.toLong, i.toDouble, s"g${i % 3}"))
      .toDF("id", "value", "grp")
      .repartitionByRange(10, col("value"))
    ManifestTable.create(s, root, df, statsCols = Seq("value"))
  }

  test("pruneFiles drops every file whose [min,max] misses the range; " +
    "readWhere equals scan+filter exactly") {
    val t = rangedTable(freshRoot())
    val (kept, all) = t.pruneFiles("value", 250, 349)
    assert(all.length === 10)
    // 100 contiguous values span at most 2 of the 10 ~100-wide files.
    assert(kept.nonEmpty && kept.length <= 3,
      s"expected <=3 of 10 files kept, got ${kept.length}")
    val pruned = t.readWhere("value", 250, 349)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getDouble(1)))
    val full = t.read().filter(col("value") >= 250 && col("value") <= 349)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(pruned.toSeq === full.toSeq)
    assert(pruned.length === 100)
    // Out-of-domain range: zero files, empty frame, same schema.
    val (none, _) = t.pruneFiles("value", 5000, 6000)
    assert(none.isEmpty)
    val empty = t.readWhere("value", 5000, 6000)
    assert(empty.count() === 0)
    assert(empty.columns.toSeq === t.read().columns.toSeq)
  }

  test("columns without stats are conservatively unpruned (correct, " +
    "just not skipped)") {
    val t = rangedTable(freshRoot())
    val (kept, all) = t.pruneFiles("id", 0, 10)
    assert(kept === all, "no stats for 'id' -> every file kept")
    val rows = t.readWhere("id", 0, 10).collect()
    assert(rows.length === 11)
  }

  test("pre-stats vintage is conservatively unpruned; upgrading via a " +
    "stats commit starts pruning, answers unchanged") {
    val s = spark
    import s.implicits._
    val root = freshRoot()
    // v1 committed WITHOUT stats — the pre-upgrade vintage: no
    // sidecar exists, so pruning must keep every file (correct,
    // just not skipped).
    val t = ManifestTable.create(s, root,
      (0 until 100).map(i => (i.toLong, i.toDouble)).toDF("id", "value")
        .repartitionByRange(4, col("value")))
    val (kept1, all1) = t.pruneFiles("value", 0, 9)
    assert(kept1 === all1, "pre-stats vintage: every file kept")
    assert(t.readWhere("value", 0, 9).count() === 10)
    // The additive upgrade: any later commit with statsCols makes
    // the CURRENT snapshot prunable — no table rewrite ceremony.
    t.commit(_.repartitionByRange(4, col("value")),
      statsCols = Seq("value"))
    val (kept2, all2) = t.pruneFiles("value", 0, 9)
    assert(kept2.length < all2.length,
      "the stats-carrying fileset must prune")
    val got = t.readWhere("value", 0, 9).orderBy("id").collect()
    assert(got.map(_.getLong(0)).toSeq === (0L to 9L))
  }

  test("NaN values never cause a file to be pruned away (round-12 " +
    "advice): stats write un-prunable bounds, reads stay exact") {
    val s = spark
    import s.implicits._
    val root = freshRoot()
    // File layout by range on id: the NaN rows land in a file that
    // ALSO holds in-range non-NaN values — the advice's trap: Spark's
    // max() orders NaN above every double, so that file's recorded
    // max would be NaN and `mx >= lo` false, silently dropping its
    // in-range rows from readWhere.
    val df = (0 until 100).map { i =>
      val v = if (i % 10 == 7) Double.NaN else i.toDouble
      (i.toLong, v)
    }.toDF("id", "value").repartitionByRange(4, col("id"))
    val t = ManifestTable.create(s, root, df, statsCols = Seq("value"))
    // Every file holds a NaN, so every max bound is un-prunable
    // (+Infinity): a range ABOVE every real value keeps all files
    // (degrades to reading, result empty via the residual filter) —
    // the pre-fix behavior dropped them all, which HAPPENED to give
    // the right empty answer here but drops real rows below.
    val (keptHi, allHi) = t.pruneFiles("value", 200, 300)
    assert(keptHi === allHi, "NaN-tainted max must degrade to keep")
    assert(t.readWhere("value", 200, 300).count() === 0L)
    // The real trap: in-range non-NaN rows living in a NaN-tainted
    // file. min bounds are real (Spark min orders NaN above all), so
    // low files still prune; the file holding 10..19 must be kept
    // and the ranged read exactly scan + filter (NaN slot at 17
    // excluded by the residual predicate, everything else present).
    val got = t.readWhere("value", 10, 19).orderBy("id")
      .collect().map(_.getLong(0)).toSeq
    assert(got === (10L to 19L).filterNot(_ == 17L))
    // A pre-guard sidecar with a literal NaN bound (legacy vintage)
    // must also read as keep, not drop.
    val legacy = Files.list(java.nio.file.Paths.get(root, "_manifests"))
      .toArray.map(_.asInstanceOf[java.nio.file.Path])
      .find(_.getFileName.toString.startsWith("stats-")).get
    val body = new String(Files.readAllBytes(legacy), "UTF-8")
      .split('\n').map { line =>
        // Rewrite to a legacy 4-field line with a literal NaN max.
        val p = line.split('\t'); s"${p(0)}\t${p(1)}\t${p(3)}\tNaN"
      }.mkString("\n")
    Files.write(legacy, body.getBytes("UTF-8"))
    val (kept2, all2) = t.pruneFiles("value", 10, 19)
    assert(kept2 === all2, "legacy NaN bound must be treated as keep")
  }

  test("vacuum collects orphaned stats sidecars with their filesets") {
    val s = spark
    import s.implicits._
    val root = freshRoot()
    val t = ManifestTable.create(s, root,
      (0 until 50).map(i => (i.toLong, i.toDouble)).toDF("id", "value"),
      statsCols = Seq("value"))
    t.commit(_.filter(col("id") < 25), statsCols = Seq("value"))
    t.commit(_.filter(col("id") < 10), statsCols = Seq("value"))
    def sidecars() = Option(java.nio.file.Paths.get(root, "_manifests")
      .toFile.listFiles()).getOrElse(Array.empty)
      .count(_.getName.startsWith("stats-"))
    assert(sidecars() === 3)
    t.vacuum(keepLast = 1)
    assert(sidecars() === 1, "only the live fileset's sidecar survives")
    // And the survivor still prunes.
    val (kept, all) = t.pruneFiles("value", 0, 3)
    assert(kept.length <= all.length && t.readWhere("value", 0, 3)
      .count() === 4)
  }

  test("q_manifest_prune: the registry query provably skips files and " +
    "matches the raw-table aggregate") {
    val sf = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$sf/events.parquet").exists())
    val out = SparkEntry.queries("q_manifest_prune")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val expect = graft.Tables.events(spark, sf)
      .filter(col("value") >= 80 && col("value") <= 160)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        graft.queries.dsum(col("value")).as("s"))
      .orderBy("event_type")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(out.toSeq === expect.toSeq)
    // The staged table's layout must actually prune for the query's
    // range — this is the "plan provably skips files" pin.
    val root = graft.Tables.stagedDir("mstats", s"$sf/events.parquet").get
    val t = ManifestTable.open(spark, root)
    val (kept, all) = t.pruneFiles("value", 80, 160)
    assert(all.length >= 4 && kept.length < all.length,
      s"pruning must skip files: kept ${kept.length} of ${all.length}")
  }

  test("string-keyed readWhere skips files and equals scan+filter " +
    "(round-13 verdict #8)") {
    val s = spark
    import s.implicits._
    val root = freshRoot()
    // 900 rows over 9 lexicographic groups, range-partitioned on the
    // string key into 9 near-single-group files.
    val df = (0 until 900).map(i => (i.toLong, s"k${('a' + i % 9).toChar}", i % 97))
      .toDF("id", "key", "payload")
      .repartitionByRange(9, col("key"), col("id"))
    val t = ManifestTable.create(s, root, df, statsCols = Seq("key"))
    val (kept, all) = t.pruneFilesString("key", "kb", "kc")
    assert(all.length >= 5 && kept.length < all.length,
      s"string pruning must skip files: kept ${kept.length} of ${all.length}")
    val pruned = t.readWhereString("key", "kb", "kc")
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
    val full = t.read().filter(col("key") >= "kb" && col("key") <= "kc")
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(pruned.toSeq === full.toSeq)
    assert(pruned.length === 200)
    // Point lookup (lo == hi) keeps only the covering file(s).
    val (one, _) = t.pruneFilesString("key", "kd", "kd")
    assert(one.length < all.length)
    // Out-of-domain point: zero files, empty frame, schema intact.
    assert(t.readWhereString("key", "zz", "zz").count() === 0)
  }

  test("date-typed stats prune as epoch days; tab/newline string " +
    "bounds round-trip the sidecar") {
    val s = spark
    import s.implicits._
    val root = freshRoot()
    val df = (0 until 300).map { i =>
      (i.toLong, java.sql.Date.valueOf(java.time.LocalDate
        .of(2024, 1, 1).plusDays(i)), s"v\t$i\nx")
    }.toDF("id", "d", "s").repartitionByRange(6, col("d"))
    val t = ManifestTable.create(s, root, df, statsCols = Seq("d", "s"))
    // Date bounds are epoch days (the Iceberg convention): prune a
    // 30-day window — at most 2 of the 6 ~50-day files survive.
    val lo = java.time.LocalDate.of(2024, 3, 1).toEpochDay.toDouble
    val hi = java.time.LocalDate.of(2024, 3, 30).toEpochDay.toDouble
    val (kept, all) = t.pruneFiles("d", lo, hi)
    assert(all.length === 6 && kept.length <= 2,
      s"date pruning must skip files: kept ${kept.length} of ${all.length}")
    val n = t.readWhere("d", lo, hi)
      .filter(col("d") >= "2024-03-01" && col("d") <= "2024-03-30").count()
    assert(n === 30)
    // Embedded tab/newline in string bounds must not corrupt the TSV
    // sidecar: the string read stays exact.
    val allRows = t.readWhereString("s", "v", "w").count()
    assert(allRows === 300)
  }

  test("code-point comparator matches Spark's string order above the BMP") {
    // U+E000 (3-byte UTF-8, single UTF-16 char) vs U+10000 (4-byte
    // UTF-8, surrogate pair): code-point order says e000 < 10000,
    // Java's compareTo says the opposite — the case the sidecar
    // comparator exists for.
    val a = "\uE000"
    val b = new String(Character.toChars(0x10000))
    assert(ManifestTable.cpCompare(a, b) < 0)
    assert(a.compareTo(b) > 0, "fixture must expose the UTF-16 divergence")
    assert(ManifestTable.pctDec(ManifestTable.pctEnc("a\tb\nc%d\r")) ===
      Some("a\tb\nc%d\r"))
    // Malformed escapes degrade to None (keep-the-file policy), they
    // never throw (round-14 advice: '%zz' from a corrupted sidecar).
    assert(ManifestTable.pctDec("a%zzb") === None)
    // A truncated trailing escape is the same corruption class — a
    // literal decode could compare a WRONG bound and wrongly prune
    // (round-15 advice): pctEnc never emits a bare '%'.
    assert(ManifestTable.pctDec("trailing%2") === None)
    assert(ManifestTable.pctDec("trailing%") === None)
  }

  test("q_stats_prune_str / q_stats_point_lookup: the registry queries " +
    "prune the staged fileset and match the raw table") {
    val sf = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$sf/documents.parquet").exists())
    val strOut = SparkEntry.queries("q_stats_prune_str")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val strExp = graft.Tables.documents(spark, sf)
      .filter(col("lang") >= "de" && col("lang") <= "en")
      .groupBy("lang")
      .agg(count(lit(1)).cast("long").as("n"),
        sum("n_chars").cast("long").as("c"))
      .orderBy("lang")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(strOut.toSeq === strExp.toSeq)
    val pt = SparkEntry.queries("q_stats_point_lookup")(spark, sf)
      .collect()
    assert(pt.length === 1 && pt.head.getLong(0) === 7L)
    val root = graft.Tables.stagedDir("mtstats", s"$sf/documents.parquet").get
    val t = ManifestTable.open(spark, root)
    val (keptS, allS) = t.pruneFilesString("lang", "de", "en")
    assert(allS.length >= 4 && keptS.length < allS.length,
      s"lang pruning must skip files: kept ${keptS.length} of ${allS.length}")
    val (keptP, allP) = t.pruneFiles("doc_id", 7, 7)
    assert(keptP.length < allP.length,
      s"id point lookup must skip files: kept ${keptP.length} of ${allP.length}")
  }
}
