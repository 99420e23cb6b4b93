package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase

/** A1 statistics: exact vs approximate (HLL++) store counts. The approx
  * mode is the 100 TB path (SURVEY §1.6); exact remains the oracle form. */
class StatisticsSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  test("approx store counts stay within the HLL++ error bound of exact") {
    val events = graft.queries.Tables(spark, "/root/testdata/sf0.001", "events")
    val d = graft.sources.RouteEventGen.fromEvents(events)
    val exact = Statistics.storeCounts(d).collect()(0)
    val approx = Statistics.storeCounts(d, approx = true, rsd = 0.02).collect()(0)
    exact.schema.fieldNames.indices.foreach { i =>
      val e = exact.getLong(i)
      val a = approx.getLong(i)
      // ±3·rsd ≈ 99% confidence band; generous floor for tiny counts
      val tol = math.max(3, math.ceil(3 * 0.02 * e).toLong)
      assert(math.abs(a - e) <= tol,
        s"${exact.schema.fieldNames(i)}: approx $a vs exact $e")
    }
  }
}
