package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, BinaryType, DoubleType, LongType}

/** Column-level API for the vector expressions.
  *
  * Spark 4 removed public `new Column(expr)`, so the expressions are
  * exposed through the session `FunctionRegistry` (also giving SQL
  * users `SELECT cosine_distance(a, b)`) and wrapped with
  * `call_function`. `register` is idempotent and cheap — every query
  * builder calls it via the SparkEntry wrapper.
  */
object GraftFunctions {
  /** One SQL kernel: its name, the usage line `DESCRIBE FUNCTION`
    * prints, and its builder over the call's arguments. */
  final case class Kernel(name: String, usage: String,
      build: Seq[Expression] => Expression)

  /** Every kernel, as both [[register]] and [[graft.plans.GraftExtensions]]
    * install it, so the two paths build the same expression trees. */
  val kernels: Seq[Kernel] = {
    // Widen any numeric array (parquet ARRAY<FLOAT>) to ARRAY<DOUBLE>
    // before the kernel — f32→f64 widening is exact, keeping parity
    // with the DuckDB oracle (SURVEY §7 "ARRAY<FLOAT> interop").
    // Unconditional: SimplifyCasts removes the no-op case, and not
    // touching e.dataType keeps the builder safe on unresolved children.
    def d(e: Expression): Expression = Cast(e, ArrayType(DoubleType))
    // Probe-cell arrays arrive as whatever integral type the cell id
    // carries; widen to ARRAY<BIGINT> (exact) like d() widens floats.
    def dl(e: Expression): Expression = Cast(e, ArrayType(LongType))
    // The codebook, p and the metric fold out of the tree when the
    // function is built, like the bloom bytes.
    def folded(e: Expression, what: String): Any = {
      require(e.foldable, s"nearest_cells expects a foldable $what, got $e")
      e.eval()
    }
    Seq(
      Kernel("dot_product", "dot_product(a, b) - sum_i a_i*b_i",
        es => DotProduct(d(es(0)), d(es(1)))),
      Kernel("cosine_distance", "cosine_distance(a, b) - 1 - cos(a, b)",
        es => CosineDistance(d(es(0)), d(es(1)))),
      Kernel("l2_distance", "l2_distance(a, b) - ||a - b||_2",
        es => L2Distance(d(es(0)), d(es(1)))),
      Kernel("sq_l2_distance", "sq_l2_distance(a, b) - ||a - b||_2^2",
        es => SqL2Distance(d(es(0)), d(es(1)))),
      Kernel("l2_norm", "l2_norm(a) - ||a||_2", es => L2Norm(d(es.head))),
      Kernel("norm_sq", "norm_sq(a) - ||a||_2^2", es => NormSq(d(es.head))),
      Kernel("cosine_distance_pre_norm", "cosine_distance_pre_norm(a, b, " +
        "norm_sq(a), norm_sq(b)) - cosine_distance(a, b) with the squared norms supplied",
        es => CosineDistancePreNorm(d(es(0)), d(es(1)), es(2), es(3))),
      Kernel("char_shingles", "char_shingles(text, n) - one (pos, gram) row per " +
        "character n-gram", es => CharShingles(es(0), es(1))),
      Kernel("sorted_intersect_count", "sorted_intersect_count(a, b) - |a n b| " +
        "over sorted distinct ARRAY<BIGINT> (merge walk)",
        es => SortedIntersectCount(es(0), es(1))),
      Kernel("sorted_dot_stats", "sorted_dot_stats(ka, wa, kb, wb) - [dp, n_shared] " +
        "sparse dot over sorted key/weight array pairs (merge walk, decimal-rounded products)",
        es => SortedDotStats(es(0), d(es(1)), es(2), d(es(3)))),
      Kernel("word_shingles", "word_shingles(text, n, distinct) - word n-grams of " +
        "the space-tokenized text, one compiled pass",
        es => WordShingles(es(0), es(1), es(2))),
      Kernel("first_eq_index", "first_eq_index(a, b) - first index where the " +
        "ARRAY<BIGINT> inputs agree, -1 if none", es => FirstEqIndex(es(0), es(1))),
      // The bloom bytes arrive as a foldable BINARY literal and are
      // folded OUT of the expression tree at build time (see the
      // BloomMightContainLong scaladoc: a ~35 MB literal child would
      // hex-render through every plan toString).
      Kernel("bloom_might_contain", "bloom_might_contain(bloom, probe) - false " +
        "only if the BIGINT probe is not in the bloom filter",
        es => BloomMightContainLong(es(1), es(0) match {
          case e if e.foldable && e.dataType == BinaryType =>
            e.eval(null).asInstanceOf[Array[Byte]]
          case other => throw new IllegalArgumentException(
            "bloom_might_contain expects (foldable BINARY bloom, BIGINT probe), " +
              s"got a non-foldable ${other.dataType.simpleString} bloom side")
        })),
      Kernel("min_common_long", "min_common_long(a, b) - least element common " +
        "to both arrays, NULL if none", es => MinCommonLong(dl(es(0)), dl(es(1)))),
      Kernel("nearest_cells", "nearest_cells(v, codebook, p, metric) - the p " +
        "nearest cells of v, nearest first",
        es => NearestCells(es(0), Codebook.fold(es(1)),
          folded(es(2), "INT p").asInstanceOf[Int], CellMetric(folded(es(3), "metric").toString))))
  }

  val names: Seq[String] = kernels.map(_.name)

  // Names graft itself registered, per session (weak keys — a closed
  // session drops its entry). A foreign squatter is also recorded
  // here once warned, so the warning fires at most once per
  // (session, name); `registeredBy` distinguishes the two for tests.
  private val owned = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap.KeySetView[String, java.lang.Boolean]]())
  private val foreign = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap.KeySetView[String, java.lang.Boolean]]())

  /** Test/diagnostic hook: which kernel names this session resolved to
    * graft's own registration vs a kept pre-existing foreign one. */
  def registeredBy(spark: SparkSession): (Set[String], Set[String]) = {
    import scala.jdk.CollectionConverters._
    def get(m: java.util.Map[SparkSession,
        java.util.concurrent.ConcurrentHashMap.KeySetView[String, java.lang.Boolean]]) =
      Option(m.get(spark)).map(_.asScala.toSet).getOrElse(Set.empty[String])
    (get(owned), get(foreign))
  }

  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    // Idempotence is PER NAME (not a single head-name sentinel): if a
    // session somehow carries a partial registration — or a foreign
    // function squatting on one name — the remaining kernels must
    // still land instead of silently failing at resolution later.
    // The session-keyed `owned` set distinguishes graft's OWN prior
    // registrations (silent skip — register() runs per query, so
    // anything else spams thousands of log lines per bench) from a
    // genuinely FOREIGN function shadowing a kernel name, which is
    // warned about ONCE per session: it would otherwise surface only
    // as a resolution-time type error far from the cause.
    val mine = owned.computeIfAbsent(spark,
      _ => java.util.concurrent.ConcurrentHashMap.newKeySet[String]())
    val kept = foreign.computeIfAbsent(spark,
      _ => java.util.concurrent.ConcurrentHashMap.newKeySet[String]())
    // A pre-existing registration whose ExpressionInfo traces to a
    // graft class is OURS — GraftExtensions injects the vector
    // kernels into every session the extended builder creates, and
    // register() must not mistake that for a squatter.
    def isGrafts(name: String): Boolean =
      reg.lookupFunction(FunctionIdentifier(name))
        .exists(i => Option(i.getClassName).exists(_.startsWith("graft.")))
    kernels.foreach { case Kernel(name, _, build) =>
      if (!reg.functionExists(FunctionIdentifier(name))) {
        reg.createOrReplaceTempFunction(name, build, "built-in")
        mine.add(name)
      } else if (!mine.contains(name)) {
        if (isGrafts(name)) mine.add(name)
        else if (kept.add(name))
          org.slf4j.LoggerFactory.getLogger(getClass).warn(
            s"graft kernel '$name' not registered: a foreign function " +
              "with that name already exists in this session and is " +
              "being kept (its semantics will be used wherever the " +
              "kernel is called)")
      }
    }
  }

  def dot_product(a: Column, b: Column): Column =
    call_function("dot_product", a, b)
  def cosine_distance(a: Column, b: Column): Column =
    call_function("cosine_distance", a, b)
  def cosine_similarity(a: Column, b: Column): Column =
    lit(1.0) - call_function("cosine_distance", a, b)
  def l2_distance(a: Column, b: Column): Column =
    call_function("l2_distance", a, b)
  def sq_l2_distance(a: Column, b: Column): Column =
    call_function("sq_l2_distance", a, b)
  def l2_norm(a: Column): Column = call_function("l2_norm", a)
  def norm_sq(a: Column): Column = call_function("norm_sq", a)
  def cosine_distance_pre_norm(a: Column, b: Column,
      nasq: Column, nbsq: Column): Column =
    call_function("cosine_distance_pre_norm", a, b, nasq, nbsq)

  /** The `p` nearest cells of `v` in `codebook`, nearest first:
    * ARRAY<BIGINT> ([[NearestCells]]). */
  def nearest_cells(v: Column, codebook: Codebook, p: Int,
      metric: CellMetric): Column =
    call_function("nearest_cells", v, Codebook.literal(codebook), lit(p),
      lit(metric.name))

  // ---- Higher-order-function fallbacks (pure built-in Catalyst
  // expressions, no registration needed). Used by the test suite to
  // cross-check the codegen kernels, and usable anywhere the custom
  // registry is unavailable.
  private def asDouble(a: Column): Column = a.cast("array<double>")

  def dotProductHof(a: Column, b: Column): Column =
    aggregate(zip_with(asDouble(a), asDouble(b), (x, y) => x * y),
      lit(0.0), (acc, v) => acc + coalesce(v, lit(0.0)))

  def l2NormHof(a: Column): Column =
    sqrt(aggregate(asDouble(a), lit(0.0),
      (acc, v) => acc + coalesce(v * v, lit(0.0))))

  def cosineDistanceHof(a: Column, b: Column): Column =
    lit(1.0) - dotProductHof(a, b) / (l2NormHof(a) * l2NormHof(b))
}
