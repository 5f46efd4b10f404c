package graft.forecast

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataType

/** Long -> wide pivot of forecast rows into the reference's output-table
  * layout (forecast_script.py:135,140-141,187-194): `date Date` then
  * `{m, m_min, m_max}` per metric, in source-metric order.
  */
object ForecastOutput {

  /** `metrics` is the full source metric list: every metric gets its
    * three columns, all-NULL for a metric whose fit failed — the
    * reference's literal-NULL insert semantics (fs:208-210).
    *
    * One aggregation over one exchange: per (table, date), each output
    * column is the first non-NULL of its value on that metric's rows.
    * `pivot("metric", metrics)` gave the same rows but planned two
    * aggregations and two exchanges. Each input row is tested against
    * every metric (3 x metrics conditional aggregates): cheap at the
    * widths of forecast tables (a 60-metric table is in the parity test),
    * but the cost per row grows with the metric count, where the pivot's
    * second phase placed each row by one lookup.
    *
    * Output typing defaults to DoubleType (SURVEY.md §7.6 decision). For
    * strict parity with the reference — which re-uses each source column's
    * type for all three forecast columns (forecast_script.py:135), so an
    * int-typed metric yields truncated int forecasts — pass `sourceTypes`:
    * metrics present in the map get `{m, m_min, m_max}` cast to their
    * source type; absent metrics keep DoubleType.
    */
  def toWide(
      fc: Dataset[ForecastRow],
      metrics: Seq[String],
      sourceTypes: Map[String, DataType] = Map.empty): DataFrame = {
    require(metrics.nonEmpty, "toWide needs at least one metric")
    def typed(c: Column, m: String): Column =
      sourceTypes.get(m).map(c.cast).getOrElse(c)
    val columns = metrics.flatMap { m =>
      Seq("yhat" -> m, "yhat_lower" -> s"${m}_min", "yhat_upper" -> s"${m}_max").map {
        case (value, name) =>
          typed(first(when(col("metric") === m, col(value)), ignoreNulls = true), m).as(name)
      }
    }
    // group by (table, date), not date alone: a multi-table frame must
    // never merge same-named metrics across tables via first(); per-table
    // callers see identical output (table is dropped after the
    // aggregation, by reference, so a metric named `table` survives),
    // misuse surfaces as visibly duplicated dates instead of silently
    // mixed values
    fc.groupBy(col("table"), col("date"))
      .agg(columns.head, columns.tail: _*)
      .drop(fc("table"))
  }
}
