package graft.functions

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expressions for vector math over `ARRAY<DOUBLE>`
  * columns (embeddings are stored `ARRAY<FLOAT>` and implicitly
  * up-cast — see FIXTURES.md note on f32/f64 parity with DuckDB).
  *
  * These are the engine's replacement for the reference's ChromaDB
  * cosine HNSW space (photo_vector_search.py:17-20): batch-exact
  * distance evaluation inside whole-stage codegen, feeding
  * `ORDER BY dist LIMIT k` → `TakeOrderedAndProjectExec` (per
  * partition top-k heaps, no global sort). A codegen'd single-pass
  * fused kernel beats both a Scala UDF (serde per row) and the
  * `aggregate(zip_with(...))` higher-order composition (virtual calls
  * per element); at 100 TB every embedding row passes through this.
  *
  * The SQL builders in [[GraftFunctions.kernels]] wrap every vector
  * argument in a cast to ARRAY<DOUBLE>, so any numeric array arrives
  * widened.
  *
  * Null elements inside a vector are treated as 0.0; mismatched
  * lengths use the common prefix (testdata vectors are fixed 64-dim,
  * so neither occurs in practice).
  */
abstract class BinaryVectorExpression extends BinaryExpression
    with ExpectsInputTypes with Serializable {
  override def inputTypes: Seq[DataType] = Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true

  /** scalar kernel over two double arrays */
  protected def compute(a: ArrayData, b: ArrayData): Double

  override def nullSafeEval(a: Any, b: Any): Any =
    compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
}

/** sum_i a_i * b_i */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryVectorExpression {
  override def prettyName: String = "dot_product"

  override protected def compute(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i) && !b.isNullAt(i)) s += a.getDouble(i) * b.getDouble(i)
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val acc = ctx.freshName("acc")
      val i = ctx.freshName("i")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i) && !$b.isNullAt($i)) {
         |    $acc += $a.getDouble($i) * $b.getDouble($i);
         |  }
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** 1 - dot(a,b) / (||a|| * ||b||), fused single pass (matches DuckDB
  * `1 - list_cosine_similarity`; NaN when either norm is 0). */
case class CosineDistance(left: Expression, right: Expression)
    extends BinaryVectorExpression {
  override def prettyName: String = "cosine_distance"

  override protected def compute(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = if (a.isNullAt(i)) 0.0 else a.getDouble(i)
      val y = if (b.isNullAt(i)) 0.0 else b.getDouble(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    1.0 - dot / math.sqrt(na * nb)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val dot = ctx.freshName("dot")
      val na = ctx.freshName("na"); val nb = ctx.freshName("nb")
      val i = ctx.freshName("i"); val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $x = $a.isNullAt($i) ? 0.0 : $a.getDouble($i);
         |  double $y = $b.isNullAt($i) ? 0.0 : $b.getDouble($i);
         |  $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
         |}
         |${ev.value} = 1.0 - $dot / java.lang.Math.sqrt($na * $nb);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Euclidean distance ||a - b||_2 (IVF assignment / alternative metric):
  * the sqrt of [[SqL2Distance]]'s sum. */
case class L2Distance(left: Expression, right: Expression)
    extends BinaryVectorExpression {
  override def prettyName: String = "l2_distance"

  override protected def compute(a: ArrayData, b: ArrayData): Double =
    math.sqrt(SqL2Distance.sum(a, b))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val (code, acc) = SqL2Distance.sumCode(ctx, a, b)
      s"$code\n${ev.value} = java.lang.Math.sqrt($acc);"
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Squared Euclidean distance ||a - b||_2² — the kNN/eps-neighbor
  * kernel (monotone in L2, so top-k and threshold semantics are
  * unchanged while the sqrt is skipped). Accumulates (x-y)·(x-y)
  * LEFT-TO-RIGHT, the exact op sequence of the
  * `aggregate(zip_with(a, b, (x,y) -> (x-y)*(x-y)), 0, +)` fold it
  * replaces in the pair-volume paths (q_lof/q_dbscan's d², the ann
  * cell assignment) — bit-identical doubles, so every 6dp-rounded
  * oracle comparison is unaffected. The interpreted HOF fold it
  * replaces allocates a fresh array per PAIR and evaluates the
  * lambda through megamorphic dispatch — at 64 M pairs per sf0.1
  * pair stage that is both ~5× slower and wildly variance-prone
  * (the fold's interpreter call sites get polluted by whatever ran
  * earlier in the JVM; measured 9.5 s → 44-70 s on the same plan).
  * A codegen while-loop has neither failure mode. */
case class SqL2Distance(left: Expression, right: Expression)
    extends BinaryVectorExpression {
  override def prettyName: String = "sq_l2_distance"

  override protected def compute(a: ArrayData, b: ArrayData): Double =
    SqL2Distance.sum(a, b)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val (code, acc) = SqL2Distance.sumCode(ctx, a, b)
      s"$code\n${ev.value} = $acc;"
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object SqL2Distance {
  /** sum_i (a_i - b_i)², null elements read as 0.0 — the loop of both
    * [[SqL2Distance]] and [[L2Distance]]. */
  def sum(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      val x = if (a.isNullAt(i)) 0.0 else a.getDouble(i)
      val y = if (b.isNullAt(i)) 0.0 else b.getDouble(i)
      val d = x - y
      s += d * d
      i += 1
    }
    s
  }

  /** [[sum]] as generated Java, and the variable that holds it. Each
    * query compiles its own copy of the loop, so the element reads stay
    * specialised to that query's array classes. */
  def sumCode(ctx: CodegenContext, a: String, b: String): (String, String) = {
    val n = ctx.freshName("n"); val acc = ctx.freshName("acc")
    val i = ctx.freshName("i"); val x = ctx.freshName("x")
    val y = ctx.freshName("y"); val dd = ctx.freshName("dd")
    (s"""
       |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
       |double $acc = 0.0;
       |for (int $i = 0; $i < $n; $i++) {
       |  double $x = $a.isNullAt($i) ? 0.0 : $a.getDouble($i);
       |  double $y = $b.isNullAt($i) ? 0.0 : $b.getDouble($i);
       |  double $dd = $x - $y;
       |  $acc += $dd * $dd;
       |}""".stripMargin, acc)
  }
}

/** ||a||_2: the sqrt of [[NormSq]]'s sum. */
case class L2Norm(child: Expression) extends UnaryExpression
    with ExpectsInputTypes with Serializable {
  override def prettyName: String = "l2_norm"
  override def inputTypes: Seq[DataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(v: Any): Any =
    math.sqrt(NormSq.sum(v.asInstanceOf[ArrayData]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val (code, acc) = NormSq.sumCode(ctx, a)
      s"$code\n${ev.value} = java.lang.Math.sqrt($acc);"
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** sum_i x_i² — the squared L2 norm, i.e. [[L2Norm]] WITHOUT the
  * final sqrt. Exists so the pair-INVARIANT 2/3 of the cosine kernel
  * can be hoisted out of quadratic candidate stages (round 19,
  * verdict #4): [[CosineDistance]] accumulates dot/na/nb in one
  * fused loop, but na and nb depend on ONE vector each — computing
  * them once per vector row (n·P evaluations) instead of once per
  * candidate pair (n²P²/C evaluations) leaves only the dot product
  * on the pair path. Accumulation order is the same left-to-right
  * x*x fold as CosineDistance's na/nb, so the hoisted value is
  * bit-identical on the equal-length vectors the embedding tables
  * carry (CosineDistance clips both sums to the SHORTER array —
  * callers hoisting across ragged arrays would change semantics, so
  * [[CosineDistancePreNorm]] documents the equal-length contract). */
case class NormSq(child: Expression) extends UnaryExpression
    with ExpectsInputTypes with Serializable {
  override def prettyName: String = "norm_sq"
  override def inputTypes: Seq[DataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(v: Any): Any = NormSq.sum(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val (code, acc) = NormSq.sumCode(ctx, a)
      s"$code\n${ev.value} = $acc;"
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object NormSq {
  /** sum_i a_i², null elements skipped — the loop of both [[NormSq]]
    * and [[L2Norm]]. */
  def sum(a: ArrayData): Double = {
    val n = a.numElements()
    var s = 0.0
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i)) { val x = a.getDouble(i); s += x * x }
      i += 1
    }
    s
  }

  /** [[sum]] as generated Java, and the variable that holds it (see
    * [[SqL2Distance.sumCode]]). */
  def sumCode(ctx: CodegenContext, a: String): (String, String) = {
    val n = ctx.freshName("n"); val acc = ctx.freshName("acc")
    val i = ctx.freshName("i"); val x = ctx.freshName("x")
    (s"""
       |int $n = $a.numElements();
       |double $acc = 0.0;
       |for (int $i = 0; $i < $n; $i++) {
       |  if (!$a.isNullAt($i)) { double $x = $a.getDouble($i); $acc += $x * $x; }
       |}""".stripMargin, acc)
  }
}

/** `1 - dot(a,b) / sqrt(nasq * nbsq)` with the squared norms supplied
  * as (per-vector, pair-invariant) columns — the quadratic-stage form
  * of [[CosineDistance]] (round 19, verdict #4). BIT-IDENTICAL to
  * `CosineDistance(a, b)` whenever a and b have equal length and
  * `nasq`/`nbsq` are `NormSq(a)`/`NormSq(b)`:
  *  - CosineDistance's three accumulators are INDEPENDENT folds over
  *    the same element sequence; un-fusing the loop cannot change any
  *    of them (IEEE addition per accumulator sees the identical
  *    operand sequence).
  *  - na/nb substitute 0.0 for null elements, NormSq skips them —
  *    identical sums, because x·x terms are non-negative so the
  *    accumulator is never -0.0 and adding +0.0 is the identity.
  *  - The final expression is the same `1.0 - dot / sqrt(na * nb)`.
  * EQUAL-LENGTH CONTRACT: CosineDistance clips all three sums to the
  * shorter array; a hoisted NormSq sums the whole vector. The
  * embedding tables are fixed-dimension (FIXTURES.md), and the ann
  * candidate stages that use this kernel only ever compare rows of
  * one such table. CosinePreNormSpec pins the bit-equality. */
case class CosineDistancePreNorm(first: Expression, second: Expression,
    third: Expression, fourth: Expression)
    extends QuaternaryExpression with ExpectsInputTypes with Serializable {
  override def prettyName: String = "cosine_distance_pre_norm"
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType), DoubleType, DoubleType)
  override def dataType: DataType = DoubleType
  override def nullable: Boolean =
    first.nullable || second.nullable || third.nullable || fourth.nullable
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(a: Any, b: Any, nasq: Any, nbsq: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0
    var i = 0
    while (i < n) {
      val xv = if (x.isNullAt(i)) 0.0 else x.getDouble(i)
      val yv = if (y.isNullAt(i)) 0.0 else y.getDouble(i)
      dot += xv * yv
      i += 1
    }
    1.0 - dot / math.sqrt(
      nasq.asInstanceOf[Double] * nbsq.asInstanceOf[Double])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b, nasq, nbsq) => {
      val n = ctx.freshName("n"); val dot = ctx.freshName("dot")
      val i = ctx.freshName("i"); val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $x = $a.isNullAt($i) ? 0.0 : $a.getDouble($i);
         |  double $y = $b.isNullAt($i) ? 0.0 : $b.getDouble($i);
         |  $dot += $x * $y;
         |}
         |${ev.value} = 1.0 - $dot / java.lang.Math.sqrt($nasq * $nbsq);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression, newFourth: Expression): Expression =
    copy(first = newFirst, second = newSecond,
      third = newThird, fourth = newFourth)
}

/** |a ∩ b| for two SORTED-ascending distinct ARRAY<BIGINT> columns,
  * via a single merge walk — the exact-verification kernel of the
  * dedup family (q_dedup_near / q_dup_clusters / q_minhash_recall /
  * q_jaccard_containment intersect 60-bit shingle-hash sets per
  * candidate pair). The built-in `size(array_intersect(a, b))`
  * allocates an OpenHashSet AND a result array per pair; at bucket
  * volume (millions of candidate pairs × ~50-element sets) the
  * allocation dominates — the same interpreted-HOF-vs-fused-loop gap
  * the sq_l2_distance kernel closed. The merge walk is allocation-free
  * and equals the built-in EXACTLY on ANY sorted inputs: after each
  * match the walk advances past the full run of equal values on both
  * sides, so duplicates count once — array_intersect's set semantics
  * — not pairwise (round-11 advice: a=[5,5], b=[5,5] must yield 1,
  * even though the callers' array_sort(distinct-by-construction)
  * inputs only hit the duplicate path on a 60-bit hash collision).
  * Null elements are skipped, like
  * array_intersect's null-excluding set semantics when one side lacks
  * null.
  */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes with Serializable {
  override def prettyName: String = "sorted_intersect_count"
  override def inputTypes: Seq[DataType] = Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(av: Any, bv: Any): Any = {
    val a = av.asInstanceOf[ArrayData]; val b = bv.asInstanceOf[ArrayData]
    val na = a.numElements(); val nb = b.numElements()
    var i = 0; var j = 0; var c = 0L
    while (i < na && j < nb) {
      if (a.isNullAt(i)) i += 1
      else if (b.isNullAt(j)) j += 1
      else {
        val x = a.getLong(i); val y = b.getLong(j)
        if (x < y) i += 1
        else if (x > y) j += 1
        else {
          c += 1
          i += 1; j += 1
          while (i < na && !a.isNullAt(i) && a.getLong(i) == x) i += 1
          while (j < nb && !b.isNullAt(j) && b.getLong(j) == y) j += 1
        }
      }
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val na = ctx.freshName("na"); val nb = ctx.freshName("nb")
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val c = ctx.freshName("c")
      val x = ctx.freshName("x"); val y = ctx.freshName("y")
      s"""
         |int $na = $a.numElements(); int $nb = $b.numElements();
         |int $i = 0; int $j = 0; long $c = 0L;
         |while ($i < $na && $j < $nb) {
         |  if ($a.isNullAt($i)) { $i++; }
         |  else if ($b.isNullAt($j)) { $j++; }
         |  else {
         |    long $x = $a.getLong($i); long $y = $b.getLong($j);
         |    if ($x < $y) { $i++; }
         |    else if ($x > $y) { $j++; }
         |    else {
         |      $c++; $i++; $j++;
         |      while ($i < $na && !$a.isNullAt($i) && $a.getLong($i) == $x) { $i++; }
         |      while ($j < $nb && !$b.isNullAt($j) && $b.getLong($j) == $y) { $j++; }
         |    }
         |  }
         |}
         |${ev.value} = $c;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** First 0-based index at which two equal-length ARRAY<BIGINT>
  * columns hold the same value; -1 if none (or on a null slot — the
  * minhash signatures this serves never contain nulls). The kernel
  * form of `element_at(filter(sequence(0, n-1), i ->
  * element_at(a, i+1) = element_at(b, i+1)), 1)` — that HOF chain is
  * interpreted (megamorphic lambda call sites, the WordShingles
  * pathology) AND allocates a filtered array per row; this is the
  * minimal-colliding-band screen of the banded dedup route, run once
  * per candidate pair (~10⁸ at the 100× fixture). */
case class FirstEqIndex(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes with Serializable {
  override def prettyName: String = "first_eq_index"
  override def inputTypes: Seq[DataType] = Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(av: Any, bv: Any): Any = {
    val a = av.asInstanceOf[ArrayData]; val b = bv.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i) && !b.isNullAt(i) && a.getLong(i) == b.getLong(i))
        return i
      i += 1
    }
    -1
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val r = ctx.freshName("r")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |int $r = -1;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i) && !$b.isNullAt($i) &&
         |      $a.getLong($i) == $b.getLong($i)) { $r = $i; break; }
         |}
         |${ev.value} = $r;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Distinct word n-gram shingles of a (pre-lowercased) text column in
  * ONE compiled pass — the kernel form of
  * `array_distinct(transform(sequence(...), i -> concat_ws(' ',
  * element_at(w,i)...)))` over `filter(split(text,' '), t -> t<>'')`.
  * That HOF chain is evaluated by the interpreted expression
  * evaluator, whose lambda call sites go MEGAMORPHIC once other
  * queries have run in the JVM — the same pathology the
  * sq_l2_distance kernel closed (q_ngram_novelty's shingle stage:
  * ~0.7 s in a fresh JVM, 5–6 s mid-sweep). Semantics are replicated
  * exactly: tokens split on single spaces with empties dropped,
  * n-grams joined with one space, `distinct` keeps first occurrence
  * order, fewer than n tokens yields an empty array — so every
  * md5-derived shingle hash downstream is unchanged (oracle
  * hash-match is the proof).
  */
case class WordShingles(first: Expression, second: Expression,
    third: Expression) extends TernaryExpression with ExpectsInputTypes
    with Serializable {
  override def prettyName: String = "word_shingles"
  override def inputTypes: Seq[DataType] = Seq(StringType, IntegerType, BooleanType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(t: Any, n: Any, d: Any): Any =
    WordShingles.compute(
      t.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
      n.asInstanceOf[Int], d.asInstanceOf[Boolean])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (t, n, d) => {
      s"${ev.value} = graft.functions.WordShingles.compute($t, $n, $d);"
    })

  override protected def withNewChildrenInternal(f: Expression,
      s: Expression, t: Expression): Expression = copy(f, s, t)
}

object WordShingles {
  /** One-pass tokenizer + shingler; static so codegen calls it
    * directly (one monomorphic call per row, no lambda dispatch). */
  def compute(text: org.apache.spark.unsafe.types.UTF8String, n: Int,
      distinct: Boolean): ArrayData = {
    val s = text.toString
    val toks = new java.util.ArrayList[String]()
    val len = s.length
    var start = 0
    var i = 0
    while (i <= len) {
      if (i == len || s.charAt(i) == ' ') {
        if (i > start) toks.add(s.substring(start, i))
        start = i + 1
      }
      i += 1
    }
    val m = toks.size
    val out = new java.util.ArrayList[AnyRef]()
    val seen = if (distinct) new java.util.HashSet[String]() else null
    var j = 0
    while (j + n <= m) {
      val sb = new java.lang.StringBuilder(toks.get(j))
      var k = 1
      while (k < n) { sb.append(' ').append(toks.get(j + k)); k += 1 }
      val sh = sb.toString
      if (!distinct || seen.add(sh))
        out.add(org.apache.spark.unsafe.types.UTF8String.fromString(sh))
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      out.toArray(new Array[AnyRef](out.size())))
  }
}

/** Sparse-vector dot product + overlap count over two (sorted-key,
  * weight) array pairs in ONE merge walk: returns
  * `ARRAY<DOUBLE>[dp, n_shared]` where `dp` reproduces BIT-EXACTLY
  * the flat tf-idf plan's
  * `CAST(sum(CAST(round(a.w*b.w, 12) AS DECIMAL(38,12))) AS DOUBLE)`
  * posting-join aggregate (Semantic.tfidfFrames): each matched-key
  * product is rounded HALF_UP to 12 decimals through
  * `BigDecimal.valueOf` — the same canonical-string path Spark's
  * `round` takes — and accumulated as its exact ×10¹² unscaled long,
  * so the final `BigDecimal.valueOf(acc, 12).doubleValue()` equals
  * the DECIMAL(38,12) sum cast to double — both are the
  * correctly-rounded double of the same exact decimal (adds are
  * overflow-checked; the long bound needs Σ|products| > 9.2·10⁶,
  * ~5·10⁴ max-magnitude tf-idf terms, to trip). This is the
  * kernel of the CLUSTERED tf-idf top-k route: the banded candidate
  * join attaches whole doc vectors once per pair and computes the
  * cosine INSIDE the join stage (round-12 lever), instead of
  * exploding pair×token rows through a quadratic-in-clique-size
  * aggregation — the stage that killed the flat route's 100× probe
  * at ~55 min.
  *
  * Inputs: ka/kb sorted-ascending ARRAY<BIGINT> term-hash keys
  * (distinct by construction — per-doc terms are distinct);
  * wa/wb ARRAY<DOUBLE> aligned by position. Null elements are
  * impossible by construction and treated as key-skip/weight-0.
  * Duplicate keys (a 64-bit in-doc hash collision, ~n·T²/2⁶⁵) pair
  * first occurrences and advance past the run, like
  * sorted_intersect_count.
  */
case class SortedDotStats(first: Expression, second: Expression,
    third: Expression, fourth: Expression)
    extends QuaternaryExpression with ExpectsInputTypes with Serializable {
  override def prettyName: String = "sorted_dot_stats"
  override def inputTypes: Seq[DataType] = Seq(ArrayType(LongType),
    ArrayType(DoubleType), ArrayType(LongType), ArrayType(DoubleType))
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(kav: Any, wav: Any, kbv: Any, wbv: Any): Any = {
    val ka = kav.asInstanceOf[ArrayData]; val wa = wav.asInstanceOf[ArrayData]
    val kb = kbv.asInstanceOf[ArrayData]; val wb = wbv.asInstanceOf[ArrayData]
    val res = SortedDotStats.walk(ka, wa, kb, wb)
    new org.apache.spark.sql.catalyst.util.GenericArrayData(res)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (ka, wa, kb, wb) => {
      val res = ctx.freshName("res")
      s"""
         |double[] $res = graft.functions.SortedDotStats.walk($ka, $wa, $kb, $wb);
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($res);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(f: Expression,
      s: Expression, t: Expression, q: Expression): Expression =
    copy(first = f, second = s, third = t, fourth = q)
}

object SortedDotStats {
  /** Shared by interpreted eval and codegen — identical arithmetic
    * either way, so a codegen fallback can't change results. */
  def walk(ka: ArrayData, wa: ArrayData, kb: ArrayData,
      wb: ArrayData): Array[Double] = {
    val na = math.min(ka.numElements(), wa.numElements())
    val nb = math.min(kb.numElements(), wb.numElements())
    var i = 0; var j = 0; var acc = 0L; var cnt = 0L
    while (i < na && j < nb) {
      val x = ka.getLong(i); val y = kb.getLong(j)
      if (x < y) i += 1
      else if (x > y) j += 1
      else {
        val p = wa.getDouble(i) * wb.getDouble(j)
        // addExact: an accumulator wrap (Σ|products| > 9.2·10⁶ — far
        // past any tf-idf corpus) must fail loudly, not corrupt.
        acc = Math.addExact(acc, round12Scaled(p))
        cnt += 1
        i += 1; j += 1
        while (i < na && ka.getLong(i) == x) i += 1
        while (j < nb && kb.getLong(j) == y) j += 1
      }
    }
    // Final conversion through the EXACT decimal (unscaled acc,
    // scale 12), matching Decimal.toDouble's correctly-rounded cast:
    // a plain (double) acc / 1e12 double-rounds once acc ≥ 2⁵³ and
    // drifts 1 ulp off the DECIMAL(38,12) sum it must reproduce.
    Array(java.math.BigDecimal.valueOf(acc, 12).doubleValue(),
      cnt.toDouble)
  }

  /** round(p, 12) as its exact ×10¹² unscaled long — semantically
    * `BigDecimal.valueOf(p).setScale(12, HALF_UP).unscaledValue()`,
    * the canonical-shortest-string path Spark's `round` takes. That
    * path allocates a BigDecimal AND a Double.toString per product;
    * profiled as THE hot frame of the 100× clustered tf-idf probe
    * (~10⁸ pairs × ~50 matches). Fast path: y = p·10¹² in doubles,
    * HALF_UP = floor(y+0.5) for y ≥ 0. Numerically y carries ≤ ~2
    * ulp ≈ |y|·4.4·10⁻¹⁶ of error vs the true p·10¹², and the
    * shortest-string decimal of p is itself within half an ulp of p
    * — so whenever y's distance to the nearest x.5 rounding boundary
    * exceeds a margin ≫ combined error (10⁻⁹ + |y|·10⁻¹⁵, ~2.3×
    * slack), fast and canonical agree and the fast result is
    * returned; inside the margin (P ≈ 2·margin, « 10⁻³ at tf-idf
    * magnitudes) the canonical path decides. The relative term keeps
    * the margin below the 0.5 max boundary distance out to
    * |y| ≈ 5·10¹⁴ (products ≈ 500) — past that the error bound
    * itself approaches 0.5 and the slow path is genuinely required
    * (round-15 advice: the old |y|·10⁻¹⁴ term crossed 0.5 at
    * products ≈ 50, pointlessly abandoning the fast path 10× early). Equality with the
    * all-BigDecimal form is pinned by the randomized kernel spec
    * plus a boundary-targeted spec. */
  private def round12Scaled(p: Double): Long = {
    val y = p * 1e12
    if (java.lang.Double.isFinite(y) && Math.abs(y) < 4.5e15) {
      val r = if (y >= 0) Math.floor(y + 0.5) else Math.ceil(y - 0.5)
      val dist = Math.abs(Math.abs(y - Math.rint(y)) - 0.5)
      if (dist > 1e-9 + Math.abs(y) * 1e-15) return r.toLong
    }
    java.math.BigDecimal.valueOf(p)
      .setScale(12, java.math.RoundingMode.HALF_UP)
      .unscaledValue().longValueExact()
  }
}

/** Bloom membership probe against a DRIVER-BUILT filter, for
  * map-side pruning of generated streams (wedge closing joins:
  * GraphStages.bloomPrune). The filter bytes live in a constructor
  * field, NOT a child Literal — a 30 M-edge bloom is ~35 MB, and as
  * a Literal child it would render in full hex through every
  * `explain`/`toString` the plan-audit specs and PLANS.md take.
  * They still ship to executors exactly once per stage (the task
  * binary is broadcast). Same contract as Spark's internal
  * runtime-filter probe (BloomFilterMightContain, which public API
  * cannot construct): false positives pass through to the exact
  * join behind it, false negatives are impossible — results are
  * unaffected at any fpp.
  *
  * Probe values are `xxhash64(...)` longs; the build side must hash
  * the SAME columns with the same function (GraphStages.edgeBloom
  * pairs them).
  */
case class BloomMightContainLong(child: Expression, bytes: Array[Byte])
    extends UnaryExpression with Predicate with ExpectsInputTypes with Serializable {
  override def prettyName: String = "bloom_might_contain"
  override def inputTypes: Seq[DataType] = Seq(LongType)
  override def nullIntolerant: Boolean = true

  @transient private lazy val bloom =
    org.apache.spark.util.sketch.BloomFilter.readFrom(
      new java.io.ByteArrayInputStream(bytes))

  // Case-class equality on an Array[Byte] field is REFERENCE
  // equality, which would make two semantically identical probes
  // never compare equal — silently defeating semanticEquals-based
  // subexpression elimination and exchange reuse across plan copies
  // (round-18 advice). Equality is structural: the cached content
  // hash screens first so canonicalization maps never pay an O(35 MB)
  // byte compare on distinct filters.
  @transient private lazy val bytesHash = java.util.Arrays.hashCode(bytes)
  override def hashCode(): Int = 31 * child.hashCode() + bytesHash
  override def equals(other: Any): Boolean = other match {
    case b: BloomMightContainLong =>
      child == b.child && bytesHash == b.bytesHash &&
        java.util.Arrays.equals(bytes, b.bytes)
    case _ => false
  }

  override def nullSafeEval(v: Any): Any =
    bloom.mightContainLong(v.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("graftBloom", bloom,
      classOf[org.apache.spark.util.sketch.BloomFilter].getName)
    defineCodeGen(ctx, ev, c => s"$ref.mightContainLong($c)")
  }

  override protected def withNewChildInternal(
      newChild: Expression): Expression = copy(child = newChild)
}

/** Minimal common element of two small ARRAY<BIGINT> inputs, NULL
  * when disjoint — the minimal-shared-cell dedup screen of the ann
  * candidate stages (SimilarityStages): a pair colliding in k probe
  * cells is kept only where `min_common_long(c1, c2) = cid`, so the
  * dedup is scan-local and each pair survives exactly once. The
  * built-in `array_min(array_intersect(c1, c2))` computes the same
  * value but allocates an OpenHashSet + result array PER CALL — at
  * ~10⁹ pair-copies per 100× ann query that allocation churn tripled
  * q_similarity_join's cell (24 → 75 s, round 17; the
  * first_eq_index lesson from the banded dedup route). Probe-cell
  * arrays are ≤ probes (≤ 8) elements, so the O(n·m) nested walk is
  * at most ~64 allocation-free comparisons inside codegen.
  * Null ELEMENTS cannot occur (cells are pmod results); they are
  * skipped defensively. */
case class MinCommonLong(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes with Serializable {
  override def prettyName: String = "min_common_long"
  override def inputTypes: Seq[DataType] = Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(av: Any, bv: Any): Any = {
    val a = av.asInstanceOf[ArrayData]; val b = bv.asInstanceOf[ArrayData]
    val na = a.numElements(); val nb = b.numElements()
    var best = Long.MaxValue; var found = false
    var i = 0
    while (i < na) {
      if (!a.isNullAt(i)) {
        val x = a.getLong(i)
        if (x < best) {
          var j = 0
          while (j < nb) {
            if (!b.isNullAt(j) && b.getLong(j) == x) { best = x; found = true; j = nb }
            else j += 1
          }
        }
      }
      i += 1
    }
    if (found) best else null
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val na = ctx.freshName("na"); val nb = ctx.freshName("nb")
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val x = ctx.freshName("x"); val best = ctx.freshName("best")
      val found = ctx.freshName("found")
      s"""
         |int $na = $a.numElements(); int $nb = $b.numElements();
         |long $best = Long.MAX_VALUE; boolean $found = false;
         |for (int $i = 0; $i < $na; $i++) {
         |  if ($a.isNullAt($i)) continue;
         |  long $x = $a.getLong($i);
         |  if ($x >= $best) continue;
         |  for (int $j = 0; $j < $nb; $j++) {
         |    if (!$b.isNullAt($j) && $b.getLong($j) == $x) {
         |      $best = $x; $found = true; break;
         |    }
         |  }
         |}
         |if ($found) { ${ev.value} = $best; } else { ${ev.isNull} = true; }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
