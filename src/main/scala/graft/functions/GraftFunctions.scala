package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** Column-level API for the vector expressions.
  *
  * Spark 4 removed public `new Column(expr)`, so the expressions are
  * exposed through the session `FunctionRegistry` (also giving SQL
  * users `SELECT cosine_distance(a, b)`) and wrapped with
  * `call_function`. `register` is idempotent and cheap — every query
  * builder calls it via the SparkEntry wrapper.
  */
object GraftFunctions {
  val names: Seq[String] =
    Seq("dot_product", "cosine_distance", "l2_distance", "sq_l2_distance",
      "l2_norm", "norm_sq", "cosine_distance_pre_norm", "char_shingles",
      "sorted_intersect_count", "sorted_dot_stats", "word_shingles",
      "first_eq_index", "bloom_might_contain", "min_common_long",
      "nearest_cells")

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
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.expressions.{Cast, Expression}
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    // Widen any numeric array (parquet ARRAY<FLOAT>) to ARRAY<DOUBLE>
    // before the kernel — f32→f64 widening is exact, keeping parity
    // with the DuckDB oracle (SURVEY §7 "ARRAY<FLOAT> interop").
    // Unconditional: SimplifyCasts removes the no-op case, and not
    // touching e.dataType keeps the builder safe on unresolved children.
    def d(e: Expression): Expression = Cast(e, ArrayType(DoubleType))
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
    def ensure(name: String)(builder: Seq[Expression] => Expression): Unit =
      if (!reg.functionExists(FunctionIdentifier(name))) {
        reg.createOrReplaceTempFunction(name, builder, "built-in")
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
    ensure("dot_product")(es => DotProduct(d(es(0)), d(es(1))))
    ensure("cosine_distance")(es => CosineDistance(d(es(0)), d(es(1))))
    ensure("l2_distance")(es => L2Distance(d(es(0)), d(es(1))))
    ensure("sq_l2_distance")(es => SqL2Distance(d(es(0)), d(es(1))))
    ensure("l2_norm")(es => L2Norm(d(es.head)))
    ensure("norm_sq")(es => NormSq(d(es.head)))
    ensure("cosine_distance_pre_norm")(es =>
      CosineDistancePreNorm(d(es(0)), d(es(1)), es(2), es(3)))
    ensure("char_shingles")(es => CharShingles(es(0), es(1)))
    ensure("sorted_intersect_count")(es => SortedIntersectCount(es(0), es(1)))
    ensure("first_eq_index")(es => FirstEqIndex(es(0), es(1)))
    ensure("sorted_dot_stats")(es =>
      SortedDotStats(es(0), d(es(1)), es(2), d(es(3))))
    ensure("word_shingles")(es => WordShingles(es(0), es(1), es(2)))
    // Probe-cell arrays arrive as whatever integral type the cell id
    // carries; widen to ARRAY<BIGINT> (exact) like d() widens floats.
    def dl(e: Expression): Expression =
      Cast(e, org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.LongType))
    ensure("min_common_long")(es => MinCommonLong(dl(es(0)), dl(es(1))))
    // The bloom bytes arrive as a foldable BINARY literal and are
    // folded OUT of the expression tree at build time (see the
    // BloomMightContainLong scaladoc: a ~35 MB literal child would
    // hex-render through every plan toString).
    ensure("bloom_might_contain")(es => BloomMightContainLong(es(1), es(0) match {
      case e if e.foldable &&
          e.dataType == org.apache.spark.sql.types.BinaryType =>
        e.eval(null).asInstanceOf[Array[Byte]]
      case other => throw new IllegalArgumentException(
        "bloom_might_contain expects (foldable BINARY bloom, BIGINT probe), " +
          s"got a non-foldable ${other.dataType.simpleString} bloom side")
    }))
    // The codebook, p and the metric fold out of the tree the same way.
    def folded(e: Expression, what: String): Any = {
      require(e.foldable, s"nearest_cells expects a foldable $what, got $e")
      e.eval()
    }
    ensure("nearest_cells")(es => NearestCells(es(0), Codebook.fold(es(1)),
      folded(es(2), "INT p").asInstanceOf[Int], CellMetric(folded(es(3), "metric").toString)))
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
