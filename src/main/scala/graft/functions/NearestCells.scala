package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.{col, typedLit}
import org.apache.spark.sql.types._

/** The distance [[Codebook.nearest]] ranks cells by: the op sequence of
  * [[CosineDistance]], [[L2Distance]] or [[SqL2Distance]]. */
sealed abstract class CellMetric(val name: String) extends Serializable {
  override def toString: String = name
}

object CellMetric {
  case object Cosine extends CellMetric("cosine")
  case object L2 extends CellMetric("l2")
  case object SqL2 extends CellMetric("sq_l2")

  def apply(name: String): CellMetric = Seq(Cosine, L2, SqL2).find(_.name == name)
    .getOrElse(throw new IllegalArgumentException(
      s"nearest_cells metric must be cosine|l2|sq_l2, got '$name'"))
}

/** An IVF codebook (cell ids and centroid vectors), held on the driver
  * and shipped inside the plan: the engine's one quantizer. The IVF
  * index build, the inline `q_knn_ivf*` queries, the recall and index
  * audits, the pair stages' ann route and `IvfIndex.probeCells` all
  * rank cells with [[nearest]].
  *
  * The order is `(round6(distance), cid)`, exactly that of
  * `min_by(cid, struct(round(dist, 6), cid))` or of a `row_number()`
  * window over a cross join with the codebook: rounding is
  * `IvfIndex.r6` (Spark's `Round`); doubles compare as in Spark's
  * struct ordering (NaN last and equal to NaN, so NaN ties go to the
  * lower cid); a NULL distance (null vector or centroid) sorts first.
  * The distance loops are the pair kernels' (null elements are 0.0,
  * mismatched lengths use the common prefix), so every distance is
  * bit-identical to the kernel's. Equality is by content: each use of
  * a codebook Column folds its own copy, and a grouping key must still
  * equal the same expression in the aggregate list. */
final class Codebook(val cids: Array[Long], val vecs: Array[Array[Double]])
    extends Serializable {
  def size: Int = cids.length

  /** The sub-codebook of dimensions `[from, from + len)`: one PQ subspace. */
  def slice(from: Int, len: Int): Codebook =
    new Codebook(cids, vecs.map(c => if (c == null) null else c.slice(from, from + len)))

  override def toString: String =
    s"codebook[$size x ${vecs.find(_ != null).fold(0)(_.length)}]"

  @transient private lazy val hash = 31 * java.util.Arrays.hashCode(cids) +
    java.util.Arrays.deepHashCode(vecs.asInstanceOf[Array[AnyRef]])
  override def hashCode(): Int = hash
  override def equals(other: Any): Boolean = other match {
    case c: Codebook => hash == c.hash && java.util.Arrays.equals(cids, c.cids) &&
      java.util.Arrays.deepEquals(vecs.asInstanceOf[Array[AnyRef]],
        c.vecs.asInstanceOf[Array[AnyRef]])
    case _ => false
  }

  private def distance(v: Array[Double], c: Array[Double], metric: CellMetric): Double = {
    val n = math.min(v.length, c.length)
    var s = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    if (metric == CellMetric.Cosine) {
      while (i < n) { s += v(i) * c(i); na += v(i) * v(i); nb += c(i) * c(i); i += 1 }
      1.0 - s / math.sqrt(na * nb)
    } else {
      while (i < n) { val d = v(i) - c(i); s += d * d; i += 1 }
      if (metric == CellMetric.L2) math.sqrt(s) else s
    }
  }

  /** The `p` nearest cell ids of `v` (null: a null vector), nearest
    * first; all cells when there are fewer than `p`. */
  def nearest(v: Array[Double], p: Int, metric: CellMetric): Array[Long] = {
    val nul = vecs.map(c => v == null || c == null)
    val d = Array.tabulate(size)(j =>
      if (nul(j)) 0.0 else graft.plans.IvfIndex.r6(distance(v, vecs(j), metric)))
    def before(i: Int, j: Int): Boolean = if (nul(i) != nul(j)) nul(i) else {
      val c = if (nul(i) || d(i) == d(j)) 0 else java.lang.Double.compare(d(i), d(j))
      if (c != 0) c < 0 else cids(i) < cids(j)
    }
    // Insertion into the sorted top-k; k is small (probes, or 1).
    val top = new Array[Int](math.min(p, size))
    var filled = 0
    for (j <- 0 until size) if (filled < top.length || before(j, top(filled - 1))) {
      var at = math.min(filled, top.length - 1)
      while (at > 0 && before(j, top(at - 1))) { top(at) = top(at - 1); at -= 1 }
      top(at) = j
      filled = math.min(filled + 1, top.length)
    }
    top.map(cids)
  }

  /** [[nearest]] over an engine array, widened to doubles once. */
  def nearestData(v: ArrayData, float: Boolean, p: Int, metric: CellMetric): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(nearest(if (v == null) null
      else Array.tabulate(v.numElements())(i =>
        if (v.isNullAt(i)) 0.0 else if (float) v.getFloat(i).toDouble else v.getDouble(i)),
      p, metric))
}

object Codebook {
  def apply(cells: Seq[(Long, Array[Double])]): Codebook =
    new Codebook(cells.map(_._1).toArray, cells.map(_._2).toArray)

  /** The codebook a (cell id BIGINT, vector) frame holds: one bounded
    * driver collect; float vectors widen exactly. */
  def collect(cells: DataFrame): Codebook = apply(cells
    .select(col(cells.columns(0)), col(cells.columns(1)).cast("array<double>"))
    .collect().toSeq.map(r => (r.getLong(0), Option(r.getSeq[Double](1)).map(_.toArray).orNull)))

  /** The codebook as an ARRAY<STRUCT<BIGINT, ARRAY<DOUBLE>>> literal. */
  def literal(cb: Codebook): Column = typedLit(
    cb.cids.toSeq.zip(cb.vecs.toSeq.map(v => if (v == null) null else v.toSeq)))

  /** A folded [[literal]] (or the same shape in SQL) as a codebook. */
  def fold(e: Expression): Codebook = e.dataType match {
    case ArrayType(StructType(Array(StructField(_, LongType, _, _),
        StructField(_, ArrayType(DoubleType, _), _, _))), _) if e.foldable =>
      val a = e.eval().asInstanceOf[ArrayData]
      apply((0 until a.numElements()).map { i =>
        val r = a.getStruct(i, 2)
        (r.getLong(0), if (r.isNullAt(1)) null else r.getArray(1).toDoubleArray())
      })
    case other => throw new IllegalArgumentException("nearest_cells expects a " +
      s"foldable ARRAY<STRUCT<BIGINT, ARRAY<DOUBLE>>> codebook, got ${other.simpleString}")
  }
}

/** `nearest_cells(v, codebook, p, metric)`: the `p` nearest cell ids of
  * `v` in `codebook`, nearest first ([[Codebook.nearest]]). One per-row
  * kernel in place of a cross join with the codebook plus a grouped
  * `min_by` or a top-p window, so cell assignment needs no join and no
  * shuffle. `v` is ARRAY<FLOAT> or ARRAY<DOUBLE>, widened once per row.
  * The codebook, `p` and the metric are folded out of the expression
  * tree when the function is built (the [[BloomMightContainLong]]
  * precedent), so plans print `codebook[cells x dim]`. Codegen calls
  * the same [[Codebook.nearestData]] as interpreted evaluation. Never
  * NULL: a null vector gets the `p` lowest cids. */
case class NearestCells(child: Expression, codebook: Codebook, p: Int,
    metric: CellMetric) extends UnaryExpression {
  override def prettyName: String = "nearest_cells"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false

  private def float: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires an ARRAY<FLOAT> or ARRAY<DOUBLE> vector, got ${other.simpleString}")
  }

  override def eval(input: InternalRow): Any =
    codebook.nearestData(child.eval(input).asInstanceOf[ArrayData], float, p, metric)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cb = ctx.addReferenceObj("graftCodebook", codebook, classOf[Codebook].getName)
    val m = ctx.addReferenceObj("graftCellMetric", metric, classOf[CellMetric].getName)
    val v = child.genCode(ctx)
    ev.copy(code = code"""
      |${v.code}
      |ArrayData ${ev.value} =
      |  $cb.nearestData(${v.isNull} ? null : ${v.value}, $float, $p, $m);
      """.stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
