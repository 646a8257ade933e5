package graft.plans

import graft.SparkTestBase
import graft.functions.GraftFunctions
import org.apache.spark.sql.catalyst.FunctionIdentifier

/** The extension seam must resolve the kernels in a session that has
  * NOT called GraftFunctions.register — i.e. exactly how a
  * cluster-wide `spark.sql.extensions=graft.plans.GraftExtensions`
  * deployment sees them. `newSession()` drops session-local temp
  * registrations but keeps extensions-injected functions, so it
  * isolates the injection path. */
class GraftExtensionsSpec extends SparkTestBase {
  test("extensions-injected kernels resolve in a fresh session") {
    val s = spark.newSession()
    val r = s.sql(
      "SELECT dot_product(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d," +
        " round(cosine_distance(array(1.0D, 0.0D), array(0.0D, 1.0D)), 6) AS c," +
        " l2_norm(array(3.0D, 4.0D)) AS n," +
        " l2_distance(array(0.0D, 0.0D), array(3.0D, 4.0D)) AS l").head()
    assert(r.getDouble(0) === 11.0)
    assert(r.getDouble(1) === 1.0)
    assert(r.getDouble(2) === 5.0)
    assert(r.getDouble(3) === 5.0)
  }

  test("every kernel name is injected into a fresh session") {
    val s = spark.newSession()
    val reg = s.sessionState.functionRegistry
    val missing = GraftFunctions.names.filterNot(n =>
      reg.lookupFunction(FunctionIdentifier(n))
        .exists(_.getClassName == classOf[GraftExtensions].getName))
    assert(missing.isEmpty, s"not injected: ${missing.mkString(", ")}")
    val r = s.sql(
      "SELECT norm_sq(array(3.0D, 4.0D)) AS q," +
        " cosine_distance_pre_norm(array(1.0D, 0.0D), array(0.0D, 1.0D), 1.0D, 1.0D) AS p," +
        " first_eq_index(array(1L, 2L), array(3L, 2L)) AS f," +
        " min_common_long(array(5, 2), array(2L, 5L)) AS m").head()
    assert(r.getDouble(0) === 25.0)
    assert(r.getDouble(1) === 1.0)
    assert(r.getInt(2) === 1)
    assert(r.getLong(3) === 2L)
    assert(s.sql("SELECT char_shingles('abcd', 2)").count() === 3)
  }
}
