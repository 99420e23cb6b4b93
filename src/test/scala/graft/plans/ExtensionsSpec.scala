package graft.plans

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase

/** SparkSessionExtensions integration: native expressions as SQL functions
  * and the VecDotRewrite optimizer rule (declarative HOF fold → native
  * kernel, null-semantics preserving). */
class ExtensionsSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  test("ip_contains and vec_dot are SQL-callable") {
    val d = spark.sql(
      "SELECT vec_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d")
      .collect()(0).getDouble(0)
    assert(d == 11.0d)
    val c = spark.sql(
      """SELECT ip_contains(
        |  named_struct('version', CAST(4 AS TINYINT), 'ip_hi', CAST(0 AS BIGINT),
        |    'ip_lo', CAST(167772160 AS BIGINT), 'prefix_len', 8),
        |  named_struct('version', CAST(4 AS TINYINT), 'ip_hi', CAST(0 AS BIGINT),
        |    'ip_lo', CAST(167772161 AS BIGINT), 'prefix_len', 32)) AS c""".stripMargin)
      .collect()(0).getBoolean(0)
    assert(c) // 10.0.0.0/8 contains 10.0.0.1/32
  }

  test("optimizer rewrites the zip_with dot fold to the native kernel") {
    val df = spark.range(3)
      .selectExpr("array(CAST(id AS DOUBLE), 2.0D) AS a", "array(3.0D, 4.0D) AS b")
      .selectExpr(
        "aggregate(zip_with(a, b, (x, y) -> x * y), 0.0D, (s, x) -> s + x) AS d")
    assert(df.queryExecution.optimizedPlan.toString.contains("vec_dot"),
      df.queryExecution.optimizedPlan.toString)
    assert(df.collect().map(_.getDouble(0)).toSet == Set(8.0d, 11.0d, 14.0d))
  }

  test("rib_accept: the filter language as a SQL predicate") {
    val s = spark
    val re = graft.sources.RouteEventGen.routeEvents(s, "/root/testdata/sf0.001")
    re.createOrReplaceTempView("re_sql_spec")
    val viaSql = s.sql(
      "SELECT COUNT(*) FROM re_sql_spec WHERE rib_accept('10.4.0.0/14')")
      .collect()(0).getLong(0)
    val viaScan = graft.operators.RibViews.scan(re, "10.4.0.0/14").count()
    assert(viaSql == viaScan && viaSql > 0)
    // pfx_str / addr_str round out the SQL surface
    val disp = s.sql(
      """SELECT pfx_str(named_struct('version', CAST(6 AS TINYINT),
        |  'ip_hi', CAST(2306139568115548160 AS BIGINT), 'ip_lo', CAST(1 AS BIGINT),
        |  'prefix_len', 128)) AS p""".stripMargin).collect()(0).getString(0)
    assert(disp == "2001:db8::1/128")
    // non-literal argument is rejected at resolution
    intercept[Exception] {
      s.sql("SELECT rib_accept(rib) FROM re_sql_spec").collect()
    }
  }

  test("rewrite is null-semantics preserving (unequal lengths, null elements)") {
    val r = spark.sql(
      """SELECT
        |  aggregate(zip_with(array(1.0D), array(1.0D, 2.0D), (x, y) -> x * y),
        |    0.0D, (s, x) -> s + x) AS u,
        |  vec_dot(array(1.0D), array(1.0D, 2.0D)) AS v,
        |  aggregate(zip_with(array(1.0D, CAST(NULL AS DOUBLE)), array(1.0D, 2.0D),
        |    (x, y) -> x * y), 0.0D, (s, x) -> s + x) AS w,
        |  vec_dot(array(1.0D, CAST(NULL AS DOUBLE)), array(1.0D, 2.0D)) AS z""".stripMargin)
      .collect()(0)
    assert((0 until 4).forall(r.isNullAt))
  }
}
