package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
import graft.queries.{AnalyticsQueries, CoreQueries, DataQueries, Entry, RelationalQueries, StreamQueries, TextQueries}
/** Driver contract — see SURVEY.md §7. */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    CoreQueries.forecastEvents(spark, "/root/testdata/sf0.001")
  /** Every registered query, by defining module: the one registration
    * the maps below and QUERIES.md are derived from. */
  private[graft] lazy val modules: Seq[(String, Seq[Entry])] = Seq(
    "CoreQueries" -> CoreQueries.entries,
    "RelationalQueries" -> RelationalQueries.entries,
    "DataQueries" -> DataQueries.entries,
    "TextQueries" -> TextQueries.entries,
    "AnalyticsQueries" -> AnalyticsQueries.entries,
    "StreamQueries" -> StreamQueries.entries)
  private[graft] lazy val entries: Seq[Entry] = modules.flatMap(_._2)
  /** One entry per implemented operator from SURVEY.md §2. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    entries.map(e => e.name -> e.build).toMap
  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables; an entry whose `oracle` is None (a
    * non-SQL-expressible op) is absent. */
  lazy val oracleSql: Map[String, String] =
    entries.flatMap(e => e.oracle.map(e.name -> _)).toMap
}
