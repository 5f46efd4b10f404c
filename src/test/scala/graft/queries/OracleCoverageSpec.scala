package graft.queries

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkEntry

/** Oracle coverage cannot shrink silently: a query that loses its
  * oracle SQL stops being graded, so the ungraded set is pinned — and so
  * is the registry `SparkEntry`'s maps are derived from, since `toMap` keeps
  * only one of two entries that share a name.
  */
class OracleCoverageSpec extends AnyFunSuite {

  test("exactly the four documented queries have no oracle SQL") {
    assert(SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet ==
      Set("cluster_kmeans", "forecast_anomalies", "forecast_backtest", "forecast_events"))
  }

  test("every oracle SQL entry belongs to a registered query") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("entry names are unique across all six modules") {
    val names = SparkEntry.entries.map(_.name)
    assert(names.diff(names.distinct).isEmpty)
  }

  test("299 queries are registered and 295 of them are graded") {
    assert(SparkEntry.queries.size == 299)
    assert(SparkEntry.oracleSql.size == 295)
  }

  test("no oracle SQL is null, blank or built from an uninitialised val") {
    // an `entries` list built before an oracle helper val is initialised
    // reads that val as null: alone it is a null SQL, concatenated it is
    // the word "null" (the SQL itself writes NULL in upper case)
    val bad = SparkEntry.entries.collect {
      case Entry(name, _, Some(sql), _)
          if sql == null || sql.trim.isEmpty || "\\bnull\\b".r.findFirstIn(sql).isDefined =>
        name
    }
    assert(bad.isEmpty)
  }
}
