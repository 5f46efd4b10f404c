package graft.queries

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkEntry

/** Oracle coverage cannot shrink silently: a query that loses its
  * `oracleSql` entry stops being graded, so the ungraded set is pinned.
  */
class OracleCoverageSpec extends AnyFunSuite {

  test("exactly the four documented queries have no oracle SQL") {
    assert(SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet ==
      Set("cluster_kmeans", "forecast_anomalies", "forecast_backtest", "forecast_events"))
  }

  test("every oracle SQL entry belongs to a registered query") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }
}
