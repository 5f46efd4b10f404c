package graft.series

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.planning.PhysicalOperation
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{DateType, DoubleType, NumericType, StructType, TimestampNTZType, TimestampType}

import graft.catalog.ParquetFooters

/** Series-shaping operators over reference-shaped tables
  * (`date` + N numeric metric columns — reference README.md:33).
  */
object SeriesOps {

  /** Metric-column selection (forecast_script.py:68,112-116).
    *
    * The reference skips columns whose ClickHouse type string *contains* any
    * of `String, Text, Enum, Boolean, Blob, Binary, Array, JSON, UUID`
    * (substring match, so `Nullable(String)`/`Array(UInt32)` are skipped
    * too), and special-cases the `date` column by NAME, not type (fs:112).
    * We express the intent directly: keep numeric fields not named `date`.
    * Divergence (documented in SURVEY.md §1.2): a second Date/DateTime
    * column would be fed to Prophet as `y` by the reference; we skip it.
    */
  def numericMetricColumns(schema: StructType): Seq[String] =
    schema.fields.collect {
      case f if f.name != "date" && f.dataType.isInstanceOf[NumericType] => f.name
    }.toSeq

  /** `date` columns arrive as strings in the reference and are parsed with
    * pd.to_datetime(format='%Y-%m-%d') (fs:165). Accept string, date or
    * timestamp; normalize to DateType.
    */
  def normalizeDate(df: DataFrame, dateCol: String = "date"): DataFrame = {
    val c = df.schema(dateCol).dataType match {
      case DateType                             => col(dateCol)
      case TimestampType | TimestampNTZType     => to_date(col(dateCol))
      case _                                    => to_date(col(dateCol), "yyyy-MM-dd")
    }
    df.withColumn(dateCol, c)
  }

  /** `last_known_date = data['date'].max()` (fs:166). */
  def maxDate(df: DataFrame, dateCol: String = "date"): Column = max(col(dateCol))

  /** Empty-input guard (fs:160-163) without a full count. A frame that
    * only projects an unpartitioned parquet table (what
    * [[graft.catalog.ParquetCatalog.load]] plus [[normalizeDate]] gives)
    * has exactly the table's rows, so the answer comes from the row
    * counts in the files' footers, with no Spark job. Any filter, other
    * operator or other source keeps `df.isEmpty`.
    */
  def isEmpty(df: DataFrame): Boolean = df.queryExecution.analyzed match {
    case PhysicalOperation(_, Nil, LogicalRelation(r: HadoopFsRelation, _, _, _, _))
        if r.fileFormat.isInstanceOf[ParquetFileFormat] && r.partitionSchema.isEmpty =>
      !ParquetFooters.hasRows(df.sparkSession,
        r.location.listFiles(Nil, Nil).flatMap(_.files).map(_.fileStatus))
    case _ => df.isEmpty
  }

  /** Daily gap filling for keyed series: build each key's min..max date
    * spine distributed (`sequence` + `explode` — no driver collect),
    * left-join the observations back, and forward-fill with
    * last-non-null over a date-ordered window. One shuffle on the key
    * (spine aggregate) + one on (key, date) for the join, then the window
    * reuses the key partitioning. The downstream forecast fit shuffles on
    * the same key, so the fill is effectively free in a pipeline.
    * Output adds `<valueCol>_ffill`; spine rows with no prior observation
    * keep NULL (nothing to carry forward).
    */
  def gapFill(df: DataFrame, keyCol: String, dateCol: String, valueCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spine = df.groupBy(col(keyCol))
      .agg(min(col(dateCol)).as("__mn"), max(col(dateCol)).as("__mx"))
      .select(col(keyCol), explode(sequence(col("__mn"), col("__mx"))).as(dateCol))
    val w = Window.partitionBy(col(keyCol)).orderBy(col(dateCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine
      .join(df, Seq(keyCol, dateCol), "left")
      .withColumn(s"${valueCol}_ffill", last(col(valueCol), ignoreNulls = true).over(w))
  }

  /** Wide -> long melt: the reference's per-column rename to Prophet's
    * `(ds, y)` frame (fs:169,172), done once for all metrics with `stack`
    * so a single pass over the table feeds every per-metric fit.
    * Output: (metric string, ds date, y double).
    */
  def melt(df: DataFrame, metrics: Seq[String], dateCol: String = "date"): DataFrame = {
    require(metrics.nonEmpty, "melt needs at least one metric column")
    // column names are runtime-discovered from arbitrary warehouses: each
    // is a literal value and a one-part column name, never parsed, so
    // quotes, backticks, dots and spaces are plain characters
    val pairs = metrics.flatMap { m =>
      Seq(lit(m), ColumnBridge.column(UnresolvedAttribute(Seq(m))).cast(DoubleType))
    }
    df.select(
      col(dateCol).cast(DateType).as("ds"),
      stack(lit(metrics.size) +: pairs: _*).as(Seq("metric", "y")))
      .select(col("metric"), col("ds"), col("y"))
  }
}
