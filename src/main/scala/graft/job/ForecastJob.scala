package graft.job

import java.util.concurrent.{Callable, ExecutionException, Executors}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataType

import graft.catalog.{ParquetCatalog, TableNames}
import graft.forecast.{Backtest, ForecastEngine, ForecastOutput}
import graft.series.SeriesOps

/** Run bookkeeping, mirroring the reference's counters
  * (forecast_script.py:69-73,146-151,244-247) minus its quirks: a table
  * with failed metrics is NOT also listed successful (fs:217 bug), and the
  * summary reports plain counts (fs:246 can go negative).
  */
final case class JobSummary(
    successful: Seq[String],
    created: Seq[String],
    updated: Seq[String],
    skipped: Seq[(String, String)],
    failedSeries: Seq[(String, String)],
    wallSeconds: Double)

/** The reference's whole-program loop (forecast_script.py:220-247): for
  * every reference-shaped table in the database, fit every numeric column
  * and (re)write `bucket_forecast_<t>`.
  *
  * Differences by design:
  *  - `specificTables` filters by exact set membership, not the reference's
  *    substring-on-raw-comma-string check (fs:231 quirk, SURVEY.md §2.3 R9).
  *  - per-table work is a lazy Spark plan end to end (scan -> melt ->
  *    grouped fit -> pivot -> write); nothing is collected to the driver
  *    (the reference pulls each full table into pandas, fs:157-158).
  *  - tables run concurrently driver-side (one thread per table, at most
  *    as many as the cluster's task slots), each table's (metric-count)
  *    series fit in parallel across executors. A table's jobs are small,
  *    so the driver sets the pace; while one table is being planned,
  *    another's jobs run. Tables are never fused into one Spark job: each
  *    table's plan runs and fails on its own, so one unreadable table is
  *    recorded as failed and cannot take down the rest of the catalog.
  */
final class ForecastJob(
    catalog: ParquetCatalog,
    interval: Int,
    specificTables: Option[Set[String]] = None,
    onlyFuture: Boolean = false,
    parityTypes: Boolean = false) {

  import ForecastJob.Outcome

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Strict-parity output typing (opt-in, fs:135): each metric's three
    * forecast columns are cast back to the SOURCE column's type, so an
    * int-typed metric yields truncated int forecasts exactly like the
    * reference's type re-use. Default stays DoubleType (SURVEY §7.6).
    */
  private def sourceTypes(df: DataFrame, metrics: Seq[String]): Map[String, DataType] =
    if (!parityTypes) Map.empty
    else metrics.map(m => m -> df.schema(m).dataType).toMap

  /** Forecast every eligible table into `bucket_forecast_<t>`: history plus
    * `interval` future days (only the future with `onlyFuture`), one
    * `{m, m_min, m_max}` column triple per numeric metric.
    */
  def run(): JobSummary =
    eachTable("forecast", TableNames.forecastName, sortCol = "date", emptyReason = None)(
      long => ForecastEngine.forecast(long, interval, onlyFuture))(
      (fc, df, metrics) => ForecastOutput.toWide(fc, metrics, sourceTypes(df, metrics)))

  /** Rolling-origin evaluation across the whole catalog — the job-level
    * face of [[graft.forecast.Backtest]]: for every eligible table,
    * cross-validate each numeric metric and (re)write
    * `bucket_backtest_<t>` with one row per (metric, cutoff) carrying
    * MAE/RMSE/80%-band coverage and the seasonal-naive baseline MAE.
    * Same eligibility, name-collision, and fault-isolation rules as
    * [[run]]; a table whose history is too short for any cutoff is
    * SKIPPED (with a reason), not failed.
    */
  def backtest(horizon: Int, period: Int, initial: Int): JobSummary =
    eachTable("backtest", TableNames.backtestName, sortCol = "cutoff",
      emptyReason = Some(s"history shorter than initial=$initial + horizon=$horizon"))(
      long => Backtest.crossValidate(long, horizon, period, initial).toDF()
        .select(col("metric"), col("cutoff"), col("n"),
          round(col("mae"), 6).as("mae"),
          round(col("rmse"), 6).as("rmse"),
          round(col("coverage"), 6).as("coverage"),
          round(col("mae_naive"), 6).as("mae_naive")))(
      (bt, _, _) => bt)

  /** The one per-table loop behind [[run]] and [[backtest]]. For each
    * eligible table: load, normalize, melt, `compute` the per-series frame
    * (one row set per metric that succeeded), `shape` it into the output
    * table and (re)write `outName(t)` sorted by `sortCol`. A table whose
    * frame has no metric at all is skipped with `emptyReason` when one is
    * given, else written as it is. Any failure of a table's plan is
    * recorded as `(t, "*")` and the other tables carry on.
    *
    * Tables run on a driver pool of `min(tables, defaultParallelism)`
    * threads; each one's jobs carry the description `"<mode> <t>"` (log,
    * UI, listeners). Outcomes are merged in table order, so the summary
    * does not depend on which table finishes first. A fatal error in a
    * table thread is rethrown here once the other tables are done.
    *
    * Cache hygiene is try/finally `unpersist()` per computed frame, NOT
    * [[graft.operators.CacheScope]]: the job is a batch CLI whose
    * frames have exact lexical lifetimes (cache before the two
    * consumers, release on the same code path even on per-metric fit
    * failure), so a session-scoped registry would only defer the
    * release it exists to guarantee for the registry-driven query
    * surface where lifetimes cross query boundaries. ForecastJobSpec
    * asserts no graft cache survives a completed run.
    */
  private def eachTable[T](
      mode: String,
      outName: String => String,
      sortCol: String,
      emptyReason: Option[String])(
      compute: DataFrame => Dataset[T])(
      shape: (Dataset[T], DataFrame, Seq[String]) => DataFrame): JobSummary = {
    val t0 = System.nanoTime()
    val eligible = catalog
      .listTables()
      .filterNot(TableNames.isJobOutput) // skip our own outputs (fs:234)
      .filter(t => specificTables.forall(_.contains(t)))
    // `bucket_x` and `x` both map to one output name (the prefix-strip
    // rewrite, fs:121-124); run only the first and skip the rest instead
    // of silently overwriting one output with the other
    val byOutput = eligible.groupBy(outName)
    val candidates = eligible.filter(t => byOutput(outName(t)).head == t)
    val collisions = Outcome(skipped = eligible.filterNot(candidates.contains).map { t =>
      t -> s"output name collides with ${byOutput(outName(t)).head}"
    })

    def table(t: String): Outcome =
      try {
        val raw = catalog.load(t)
        if (!raw.columns.contains("date")) Outcome(skipped = Seq(t -> "no date column"))
        else {
          val df = SeriesOps.normalizeDate(raw)
          val metrics = SeriesOps.numericMetricColumns(df.schema)
          if (metrics.isEmpty) Outcome(skipped = Seq(t -> "no numeric metric columns"))
          else if (SeriesOps.isEmpty(df)) {
            // empty-input guard (fs:160-163)
            Outcome(skipped = Seq(t -> "empty table"))
          } else {
            val long = SeriesOps.melt(df, metrics).withColumn("table", lit(t))
            val frame = compute(long).cache()
            try {
              // bounded collect: one row per metric, to report failed fits
              val done =
                frame.select("metric").distinct().collect().map(_.getString(0)).toSet
              if (done.isEmpty && emptyReason.isDefined) {
                Outcome(skipped = Seq(t -> emptyReason.get))
              } else {
                val out = shape(frame, df, metrics)
                val name = outName(t)
                val existed = catalog.tableExists(name)
                catalog.writeTable(name, out, sortCol = sortCol)
                log.info(s"$mode $t -> $name (${metrics.size} metrics, " +
                  s"${done.size} done)")
                Outcome(
                  successful = if (metrics.forall(done)) Seq(t) else Nil,
                  created = if (existed) Nil else Seq(name),
                  updated = if (existed) Seq(name) else Nil,
                  failedSeries = metrics.filterNot(done).map(t -> _))
              }
            } finally frame.unpersist()
          }
        }
      } catch {
        case NonFatal(e) =>
          log.error(s"$mode of table $t failed: $e") // class and message
          Outcome(failedSeries = Seq(t -> "*"))
      }

    val spark = catalog.spark
    val sc = spark.sparkContext
    val pool =
      Executors.newFixedThreadPool(math.max(1, math.min(candidates.size, sc.defaultParallelism)))
    val outcomes =
      try {
        val tasks = candidates.map { t =>
          new Callable[Outcome] {
            def call(): Outcome = {
              SparkSession.setActiveSession(spark)
              sc.setJobDescription(s"$mode $t")
              try table(t) finally sc.setJobDescription(null)
            }
          }
        }
        pool.invokeAll(tasks.asJava).asScala.toSeq.map { f =>
          try f.get() catch { case e: ExecutionException => throw e.getCause }
        }
      } finally pool.shutdownNow()

    val all = collisions +: outcomes
    val summary = JobSummary(all.flatMap(_.successful), all.flatMap(_.created),
      all.flatMap(_.updated), all.flatMap(_.skipped), all.flatMap(_.failedSeries),
      (System.nanoTime() - t0) / 1e9)
    log.info(
      f"$mode run: ${summary.successful.size} successful, " +
        f"${summary.created.size} created, ${summary.updated.size} updated, " +
        f"${summary.skipped.size} skipped, ${summary.failedSeries.size} failed " +
        f"series in ${summary.wallSeconds}%.1f s")
    summary
  }
}

object ForecastJob {

  /** What one table adds to the run's [[JobSummary]]. */
  private final case class Outcome(
      successful: Seq[String] = Nil,
      created: Seq[String] = Nil,
      updated: Seq[String] = Nil,
      skipped: Seq[(String, String)] = Nil,
      failedSeries: Seq[(String, String)] = Nil)
}
