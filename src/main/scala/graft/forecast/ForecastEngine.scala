package graft.forecast

import java.time.LocalDate

import scala.util.Try

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, KeyValueGroupedDataset}
import org.apache.spark.sql.functions._

/** One forecast output point for a (table, metric) series. */
final case class ForecastRow(
    table: String,
    metric: String,
    date: java.sql.Date,
    yhat: Double,
    yhat_lower: Double,
    yhat_upper: Double)

private[forecast] final case class LongPoint(
    table: String,
    metric: String,
    ds: java.sql.Date,
    y: Double)

/** One sub-daily forecast output point for a (table, metric) series. */
final case class ForecastTimeRow(
    table: String,
    metric: String,
    ts: java.sql.Timestamp,
    yhat: Double,
    yhat_lower: Double,
    yhat_upper: Double)

private[forecast] final case class TimePoint(
    table: String,
    metric: String,
    ts: java.sql.Timestamp,
    y: Double)

/** Distributed per-series fit/predict.
  *
  * The reference runs one cmdstan subprocess per metric, sequentially, on a
  * single host (forecast_script.py:169-198). Here every (table, metric)
  * series is one group of a single shuffle, so wall-clock scales with
  * cluster width instead of `tables x columns`. Per-group state is bounded
  * — daily series, so even 20 years is ~7.3k points — which makes the
  * in-group collect safe at any table count.
  *
  * The shuffle is hashed on `metric` into `defaultParallelism` partitions
  * (one per task slot) and grouped on `(table, metric)` columns, so the
  * grouping reuses that partitioning and the plan has exactly one
  * Exchange. Its width is deliberately not `spark.sql.shuffle.partitions`:
  * the job caches the fitted frame, a cached frame keeps its partition
  * count (AQE does not coalesce it), and every consumer of the cache pays
  * one task per partition: at Spark's default of 200, a forecast-job
  * table on a 4-slot host ran 606 tasks, 98 % of them reading nothing;
  * at the slot count it runs 18. The hash leaves `table` out because a
  * job frame's `table` is a literal that Catalyst folds out of a
  * repartition expression; hashing on it would stop matching the
  * grouping and add a second exchange.
  */
object ForecastEngine {

  /** Uncertainty-band strategy: Analytic (default, closed-form) or
    * Simulated (Prophet-parity seeded trend simulation; the per-series
    * seed is derived from (table, metric) so reruns are stable).
    */
  sealed trait Band
  case object AnalyticBand extends Band
  final case class SimulatedBand(nSims: Int = 300) extends Band

  /** `long` must have columns (table string, metric string, ds date,
    * y numeric-castable). Null `y` rows are dropped before the fit, like
    * Prophet's internal NaN handling [public].
    *
    * Per-metric fault isolation (fs:170,196-198): a series whose fit or
    * predict throws contributes zero rows; downstream wide pivot fills its
    * columns with NULL, matching the reference's literal-NULL insert
    * (fs:208-210).
    */
  def forecast(
      long: DataFrame,
      interval: Int,
      onlyFuture: Boolean,
      band: Band = AnalyticBand,
      holidays: Map[String, Array[Long]] = Map.empty,
      growth: ProphetLike.GrowthConfig = ProphetLike.GrowthConfig()): Dataset[ForecastRow] = {
    val spark = long.sparkSession
    import spark.implicits._
    require(interval >= 0, s"interval must be >= 0, got $interval")

    seriesGroups[LongPoint](long, "ds", "date")
      .flatMapGroups { (key: (String, String), it: Iterator[LongPoint]) =>
        val pts = it.map(p => (p.ds.toLocalDate.toEpochDay, p.y)).toArray
        forecastSeries(key._1, key._2, pts, interval, onlyFuture, band, holidays, growth)
      }
  }

  /** Sub-daily distributed forecast — the engine face of
    * [[ProphetLike.fitTimes]]'s fractional time axis, where the daily
    * order-4 Fourier block (Prophet's sub-daily auto-rule, fs:171
    * [public]) can actually fire. `long` must have columns
    * (table, metric, ts timestamp, y); each series fits on fractional
    * epoch-days (unix micros / 86.4e9) and predicts `horizonSteps`
    * future points spaced `stepDays` apart (1/24 = hourly) after the
    * last observation. Same one-shuffle grouping ([[seriesGroups]]) and
    * per-metric fault isolation as [[forecast]].
    */
  def forecastSubDaily(
      long: DataFrame,
      horizonSteps: Int,
      stepDays: Double,
      includeHistory: Boolean = true): Dataset[ForecastTimeRow] = {
    val spark = long.sparkSession
    import spark.implicits._
    require(horizonSteps >= 0, s"horizonSteps must be >= 0, got $horizonSteps")
    require(stepDays > 0, s"stepDays must be > 0, got $stepDays")
    seriesGroups[TimePoint](long, "ts", "timestamp")
      .flatMapGroups { (key: (String, String), it: Iterator[TimePoint]) =>
        val micros = it.map(p => (p.ts.getTime * 1000L, p.y)).toArray
        Try {
          val pts = micros.map { case (us, y) => (us / 86400e6, y) }
          val params = ProphetLike.fitTimes(pts, Map.empty)
          val histTimes = pts.map(_._1).distinct.sorted
          val last = histTimes.last
          val future = Array.tabulate(horizonSteps)(i => last + (i + 1) * stepDays)
          val times = if (includeHistory) histTimes ++ future else future
          ProphetLike.predictTimes(params, times).iterator.map { case (t, yh, lo, hi) =>
            ForecastTimeRow(key._1, key._2,
              new java.sql.Timestamp(math.rint(t * 86400e3).toLong), yh, lo, hi)
          }
        }.getOrElse(Iterator.empty)
      }
  }

  /** The one grouped-fit input behind [[forecast]], [[forecastSubDaily]]
    * and [[Backtest]]: `long`'s (table, metric, `time`, y) columns, cast
    * and sanitized, as one group per (table, metric) series. Rows with a
    * null time or a null, NaN or infinite `y` are dropped: +/-Infinity
    * would not throw in the fit but silently poison the solve into NaNs,
    * so it is treated like Prophet treats NaN. The single shuffle is
    * `defaultParallelism` wide and hashed on `metric` (see the object doc
    * for why it is neither the session's shuffle width nor keyed on
    * `table`); grouping is still exact per (table, metric).
    */
  private[forecast] def seriesGroups[P: Encoder](
      long: DataFrame, time: String, timeType: String): KeyValueGroupedDataset[(String, String), P] = {
    val spark = long.sparkSession
    import spark.implicits._
    long
      .select(
        col("table").cast("string"),
        col("metric").cast("string"),
        col(time).cast(timeType),
        col("y").cast("double"))
      .filter(col(time).isNotNull && col("y").isNotNull && !isnan(col("y")) &&
        col("y").between(Double.MinValue, Double.MaxValue))
      .repartition(spark.sparkContext.defaultParallelism, col("metric"))
      .groupBy(col("table"), col("metric"))
      .as[(String, String), P]
  }

  /** Pure per-series pipeline (fit -> future frame -> predict), testable
    * without a SparkSession. Mirrors fs:171-194 for one column.
    */
  def forecastSeries(
      table: String,
      metric: String,
      points: Array[(Long, Double)],
      interval: Int,
      onlyFuture: Boolean,
      band: Band = AnalyticBand,
      holidays: Map[String, Array[Long]] = Map.empty,
      growth: ProphetLike.GrowthConfig = ProphetLike.GrowthConfig()): Iterator[ForecastRow] =
    Try {
      val params = ProphetLike.fit(points, holidays, growth)
      val histDays = points.map(_._1).distinct.sorted
      val last = histDays.last
      // make_future_dataframe(periods=interval) includes history by
      // default (fs:174); --only-future keeps strictly-after days (fs:176).
      val futureDays = Array.tabulate(interval)(i => last + i + 1)
      val days = if (onlyFuture) futureDays else histDays ++ futureDays
      val preds = band match {
        case AnalyticBand => ProphetLike.predict(params, days)
        case SimulatedBand(nSims) =>
          // stable per-series seed: reruns and resubmits agree
          val seed = (table.hashCode.toLong << 32) ^ metric.hashCode.toLong
          ProphetLike.predictSimulatedBand(params, days, seed, nSims)
      }
      preds.iterator.map { case (d, yh, lo, hi) =>
        ForecastRow(table, metric, java.sql.Date.valueOf(LocalDate.ofEpochDay(d)), yh, lo, hi)
      }
    }.getOrElse(Iterator.empty)
}
