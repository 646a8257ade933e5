package graft.queries

import graft.{SparkEntry, SparkTestBase, Tables}
import org.apache.spark.sql.functions._

/** Semantics + plan-shape invariants for the round-7 second-wave
  * verbs (hard-negative mining / overlap chunking / CDC apply /
  * expectation suite / incremental aggregate) at sf0.001. The oracle
  * hash-compare proves cross-engine equality; these pin what a hash
  * can't see — chunk coverage algebra, CDC case analysis, the
  * losslessness of the partial-state merge, true-top-k optimality —
  * and the shuffle counts the 100 TB claims rest on. */
class Round7OpsSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  test("chunk_overlap: stride-aligned starts, full coverage, 32-cap, only last short") {
    val out = SparkEntry.queries("q_chunk_overlap")(spark, sf).collect()
    assert(out.nonEmpty)
    val toks = Tables.documents(spark, sf)
      .select(col("doc_id"), expr(s"size(${graft.queries.TextKit.toks})").as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    out.groupBy(_.getAs[Long]("doc_id")).foreach { case (id, rows) =>
      val n = toks(id)
      val byChunk = rows.sortBy(_.getAs[Long]("chunk_id"))
      // chunk ids are 0..m-1 with starts at 24*chunk_id < n
      assert(byChunk.map(_.getAs[Long]("chunk_id")).toSeq ===
        (0L until byChunk.length.toLong))
      assert(24 * (byChunk.length - 1) < n && 24 * byChunk.length >= n ||
        byChunk.length == 1 && n <= 24,
        s"doc $id: ${byChunk.length} chunks for $n tokens")
      byChunk.zipWithIndex.foreach { case (r, i) =>
        val nt = r.getAs[Long]("n_tok")
        val expected = math.min(32L, n - 24L * i)
        assert(nt === expected, s"doc $id chunk $i: $nt tokens, want $expected")
        assert(r.getAs[String]("chunk_text").split(' ').length.toLong === nt)
      }
    }
  }

  test("chunk_overlap: scan-local — no hash exchange in the plan") {
    val plan = SparkEntry.queries("q_chunk_overlap")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!"Exchange hashpartitioning".r.findAllIn(plan).hasNext,
      "chunking must not shuffle on a key")
  }

  test("cdc_apply: the four case-analysis paths hold against raw orders") {
    val out = SparkEntry.queries("q_cdc_apply")(spark, sf).collect()
      .map(r => r.getAs[Long]("o_orderkey") -> r.getAs[Double]("price")).toMap
    val orders = Tables.orders(spark, sf)
      .select("o_orderkey", "o_totalprice").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    def r2(x: Double) = BigDecimal(x).setScale(2, BigDecimal.RoundingMode.HALF_UP)
    orders.foreach { case (k, v) =>
      val inBase = k % 4 != 3
      val expected: Option[Double] =
        if (k % 11 == 0) Some(v + 20)            // re-insert wins
        else if (k % 7 == 0) None                // tombstone
        else if (k % 5 == 0) Some(v + 10)        // update (upserts even if !inBase)
        else if (inBase) Some(v)                 // untouched
        else None                                // never existed
      (expected, out.get(k)) match {
        case (Some(e), Some(got)) => assert(r2(got) === r2(e), s"key $k")
        case (None, None)         =>
        case (e, got) => fail(s"key $k: expected $e, got $got")
      }
    }
  }

  test("expectations: flags the corpus's real pk violation; other checks pass") {
    // The synthetic lineitem genuinely duplicates (l_orderkey,
    // l_linenumber) rows — the suite's job is to REPORT that, so the
    // spec pins the exact violation count rather than assuming a
    // clean corpus (which is what a gate is for).
    val out = SparkEntry.queries("q_expectations")(spark, sf).collect()
    assert(out.length === 6)
    val l = Tables.lineitem(spark, sf)
    val dups = l.count() -
      l.select("l_orderkey", "l_linenumber").distinct().count()
    assert(dups > 0, "fixture assumption: corpus has pk duplicates")
    out.foreach { r =>
      val name = r.getAs[String]("check_name")
      if (name == "pk_unique_orderkey_linenumber") {
        assert(r.getAs[Long]("violations") === dups && !r.getAs[Boolean]("passed"))
      } else {
        assert(r.getAs[Long]("violations") === 0L &&
          r.getAs[Boolean]("passed"), name)
      }
    }
  }

  test("incremental_agg: merged partial states equal the full recompute") {
    val merged = SparkEntry.queries("q_incremental_agg")(spark, sf).collect()
    val full = Tables.lineitem(spark, sf)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("cnt"),
        round(sum(col("l_quantity")
          .cast(org.apache.spark.sql.types.DecimalType(38, 6)))
          .cast("double"), 6).as("sum_qty"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    assert(merged.length === full.size)
    merged.foreach { r =>
      val k = (r.getAs[String]("l_returnflag"), r.getAs[String]("l_linestatus"))
      val (cnt, sq) = full(k)
      assert(r.getAs[Long]("cnt") === cnt, s"$k count")
      assert(r.getAs[Double]("sum_qty") === sq, s"$k sum")
    }
  }

  test("compaction_exec: content-preserving rewrite collapses the fileset") {
    val out = SparkEntry.queries("q_compaction_exec")(spark, sf).collect()
    val n = Tables.documents(spark, sf).count()
    assert(out.length.toLong === n, "compaction must not change row count")
    assert(out.forall(_.getAs[Int]("version") === 2))
    val root = Tables.stagedDir("compact", s"$sf/documents.parquet")
      .getOrElse(fail("staged compaction root missing"))
    def files(v: Int): Int =
      Option(new java.io.File(root, "data").listFiles()).getOrElse(Array.empty)
        .filter(_.getName.startsWith(s"commit-$v-"))
        .flatMap(d => Option(d.listFiles()).getOrElse(Array.empty))
        .count(f => f.getName.startsWith("part-") &&
          f.getName.endsWith(".parquet"))
    assert(files(1) === 16, "v1 must hold the 16-small-file ingest shape")
    assert(files(2) === 2, "v2 must hold the 2-file compacted shape")
  }

  test("hard_negatives: per-anchor true top-5 among different-label vectors") {
    val out = SparkEntry.queries("q_hard_negatives")(spark, sf).collect()
    val vecs = Tables.embeddings(spark, sf)
      .select("vec_id", "label", "embedding").collect()
      .map(r => (r.getLong(0), r.getInt(1),
        r.getSeq[Float](2).map(_.toDouble).toArray))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i)
        nb += b(i) * b(i); i += 1 }
      BigDecimal(1 - d / math.sqrt(na * nb))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val anchors = vecs.filter(_._1 < 4)
    assert(anchors.length === 4)
    anchors.foreach { case (aid, albl, av) =>
      val expected = vecs.filter(_._2 != albl)
        .map { case (id, _, v) => (cos(v, av), id) }
        .sorted.take(5)
      val got = out.filter(_.getAs[Long]("aid") == aid)
        .sortBy(r => (r.getAs[Double]("dist"), r.getAs[Long]("vec_id")))
        .map(r => (r.getAs[Double]("dist"), r.getAs[Long]("vec_id")))
      assert(got.length === 5, s"anchor $aid")
      assert(got.map(_._2).toSeq === expected.map(_._2).toSeq,
        s"anchor $aid: got ${got.toSeq}, want ${expected.toSeq}")
      got.foreach { case (_, id) =>
        assert(vecs.find(_._1 == id).get._2 !== albl) }
    }
  }
}
