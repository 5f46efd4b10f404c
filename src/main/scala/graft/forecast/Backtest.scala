package graft.forecast

import java.time.LocalDate

import scala.util.Try

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.types.DateType

/** Model-independent backtest columns for one (table, metric, cutoff). */
final case class NaiveRow(
    table: String,
    metric: String,
    cutoff: java.sql.Date,
    n: Long,
    mae_naive: Double)

/** Per-cutoff backtest metrics for one (table, metric) series. */
final case class BacktestRow(
    table: String,
    metric: String,
    cutoff: java.sql.Date,
    n: Long,
    mae: Double,
    rmse: Double,
    coverage: Double,
    mae_naive: Double)

/** Rolling-origin forecast evaluation — the capability Prophet users get
  * from `cross_validation` + `performance_metrics` [public: prophet v1.x
  * diagnostics docs], which the reference pipeline (a Prophet consumer,
  * forecast_script.py:169-198) therefore has available but never wires up.
  *
  * Semantics, mirroring Prophet's `cross_validation(horizon, period,
  * initial)`:
  *  - cutoffs start at `last_history_day - horizon` and step back by
  *    `period` while the training span up to the cutoff still covers at
  *    least `initial` days;
  *  - for each cutoff the model is fit ONLY on points with ds <= cutoff
  *    and scored on actual history points in (cutoff, cutoff + horizon];
  *  - per cutoff we emit MAE, RMSE, and 80%-band coverage
  *    (`performance_metrics` parity), plus a seasonal-naive baseline MAE
  *    (y(d-7), falling back to the last training value) so callers can
  *    judge skill, not just error magnitude.
  *
  * Distribution shape: one `flatMapGroups` over (table, metric), built
  * by the same grouping as the forecast fit
  * ([[ForecastEngine.seriesGroups]]), so a backtest sweep costs one
  * shuffle and the model and naive-baseline paths (whose (n, mae_naive)
  * columns must project identically) share one input-sanitizing rule.
  * That shuffle is `defaultParallelism` wide and hashed on `metric`, not
  * `spark.sql.shuffle.partitions` wide: the job caches the result, a
  * cached frame keeps its partition count, and every consumer of the
  * cache would pay one task per (mostly empty) partition. Each group fits
  * |cutoffs| models sequentially over a bounded daily series (years of
  * history is still only thousands of points). Cutoff count scales the
  * per-task CPU, series count scales across the cluster, nothing is
  * collected to the driver.
  */
object Backtest {

  /** Hard cap on the cutoff spine, shared with every DuckDB oracle that
    * replays the calendar via `generate_series(0, 1000)`: both engines
    * enumerate AT MOST this many cutoffs, so a series longer than the
    * supported history (horizon + period·1000 + initial days — ~8.3
    * years at the standard horizon 7 / period 3 / initial 14 config)
    * truncates its OLDEST cutoffs identically on both sides instead of
    * the oracle silently missing spine rows the engine emits. 1001
    * rolling origins is far past any useful backtest depth; raising it
    * means raising the oracle literal in lockstep.
    */
  val MaxCutoffs = 1001

  /** `long` must have columns (table, metric, ds, y) like
    * [[ForecastEngine.forecast]]. Fault isolation matches the engine: a
    * (series, cutoff) whose fit throws contributes no row.
    */
  def crossValidate(
      long: DataFrame,
      horizon: Int,
      period: Int,
      initial: Int,
      band: ForecastEngine.Band = ForecastEngine.AnalyticBand,
      holidays: Map[String, Array[Long]] = Map.empty,
      growth: ProphetLike.GrowthConfig = ProphetLike.GrowthConfig()): Dataset[BacktestRow] = {
    val spark = long.sparkSession
    import spark.implicits._
    require(horizon >= 1, s"horizon must be >= 1, got $horizon")
    require(period >= 1, s"period must be >= 1, got $period")
    require(initial >= 1, s"initial must be >= 1, got $initial")

    ForecastEngine.seriesGroups[LongPoint](long, "ds", DateType)
      .flatMapGroups { (key: (String, String), it: Iterator[LongPoint]) =>
        val pts = it.map(p => (p.ds.toLocalDate.toEpochDay, p.y)).toArray
        backtestSeries(key._1, key._2, pts, horizon, period, initial, band,
          holidays, growth)
      }
  }

  /** Model-independent slice of [[crossValidate]]: the cutoff calendar,
    * per-cutoff test count, and seasonal-naive baseline MAE — no model
    * fit at all. Emits exactly the rows backtestSeries would (same
    * train-length/test guards), so the (n, mae_naive) columns project
    * identically, but (a) it never pays the per-cutoff L-BFGS solve the
    * naive columns don't need, and (b) a fit failure cannot drop a row
    * whose calendar arithmetic an oracle still expects.
    */
  def naiveMetrics(
      long: DataFrame, horizon: Int, period: Int, initial: Int): Dataset[NaiveRow] = {
    val spark = long.sparkSession
    import spark.implicits._
    require(horizon >= 1, s"horizon must be >= 1, got $horizon")
    require(period >= 1, s"period must be >= 1, got $period")
    require(initial >= 1, s"initial must be >= 1, got $initial")
    ForecastEngine.seriesGroups[LongPoint](long, "ds", DateType)
      .flatMapGroups { (key: (String, String), it: Iterator[LongPoint]) =>
        val pts = it.map(p => (p.ds.toLocalDate.toEpochDay, p.y)).toArray
        naiveSeries(key._1, key._2, pts, horizon, period, initial)
      }
  }

  /** Per-series core of [[naiveMetrics]]; identical cutoff calendar, lag
    * arithmetic, and rounding as [[backtestSeries]].
    */
  def naiveSeries(
      table: String,
      metric: String,
      points: Array[(Long, Double)],
      horizon: Int,
      period: Int,
      initial: Int): Iterator[NaiveRow] = {
    if (points.isEmpty) return Iterator.empty
    val sorted = points.sortBy(_._1)
    val byDay = sorted.toMap
    val first = sorted.head._1
    val last = sorted.last._1
    def round6(x: Double): Double = math.rint(x * 1e6) / 1e6
    val cutoffs = Iterator.iterate(last - horizon.toLong)(_ - period)
      .takeWhile(c => c - first + 1 >= initial)
      .take(MaxCutoffs)
      .toArray.reverse
    cutoffs.iterator.flatMap { c =>
      val train = sorted.filter(_._1 <= c)
      val test = sorted.filter(p => p._1 > c && p._1 <= c + horizon)
      if (train.length < 2 || test.isEmpty) Iterator.empty
      else {
        val lastTrainY = train.last._2
        var saeNaive = 0.0
        test.foreach { case (d, y) =>
          val lag = d - 7L * ((d - c + 6L) / 7L)
          saeNaive += math.abs(y - byDay.getOrElse(lag, lastTrainY))
        }
        Iterator.single(NaiveRow(table, metric,
          java.sql.Date.valueOf(LocalDate.ofEpochDay(c)), test.length.toLong,
          round6(saeNaive / test.length)))
      }
    }
  }

  /** Pure per-series rolling-origin evaluation, testable without Spark.
    * Rounded to 6 decimals so partial-agg summation order can't leak into
    * hash compares downstream.
    */
  def backtestSeries(
      table: String,
      metric: String,
      points: Array[(Long, Double)],
      horizon: Int,
      period: Int,
      initial: Int,
      band: ForecastEngine.Band = ForecastEngine.AnalyticBand,
      holidays: Map[String, Array[Long]] = Map.empty,
      growth: ProphetLike.GrowthConfig = ProphetLike.GrowthConfig()): Iterator[BacktestRow] = {
    if (points.isEmpty) return Iterator.empty
    val sorted = points.sortBy(_._1)
    val byDay = sorted.toMap
    val first = sorted.head._1
    val last = sorted.last._1
    def round6(x: Double): Double = math.rint(x * 1e6) / 1e6
    // descending generation, ascending emission — Prophet's cutoff rule
    val cutoffs = Iterator.iterate(last - horizon.toLong)(_ - period)
      .takeWhile(c => c - first + 1 >= initial)
      .take(MaxCutoffs)
      .toArray.reverse
    cutoffs.iterator.flatMap { c =>
      val train = sorted.filter(_._1 <= c)
      val test = sorted.filter(p => p._1 > c && p._1 <= c + horizon)
      if (train.length < 2 || test.isEmpty) Iterator.empty
      else
        Try {
          val params = ProphetLike.fit(train, holidays, growth)
          val days = test.map(_._1)
          val preds = band match {
            case ForecastEngine.AnalyticBand => ProphetLike.predict(params, days)
            case ForecastEngine.SimulatedBand(nSims) =>
              val seed = (table.hashCode.toLong << 32) ^ metric.hashCode.toLong
              ProphetLike.predictSimulatedBand(params, days, seed, nSims)
          }
          val byPredDay = preds.map(p => p._1 -> p).toMap
          var sae = 0.0; var sse = 0.0; var inBand = 0; var saeNaive = 0.0
          val lastTrainY = train.last._2
          test.foreach { case (d, y) =>
            val (_, yh, lo, hi) = byPredDay(d)
            val e = y - yh
            sae += math.abs(e); sse += e * e
            if (y >= lo && y <= hi) inBand += 1
            // multi-step seasonal naive y(d - 7*ceil((d-c)/7)): the lag
            // steps back by whole weeks until it lands <= cutoff, so the
            // baseline never reads an actual inside the evaluation window
            // (with a plain d-7 lag, horizon > 7 leaked test data and
            // biased mae_naive optimistic). Falls back to the last
            // training value when the lagged day predates the series.
            val lag = d - 7L * ((d - c + 6L) / 7L)
            saeNaive += math.abs(y - byDay.getOrElse(lag, lastTrainY))
          }
          val n = test.length
          BacktestRow(table, metric,
            java.sql.Date.valueOf(LocalDate.ofEpochDay(c)), n.toLong,
            round6(sae / n), round6(math.sqrt(sse / n)),
            round6(inBand.toDouble / n), round6(saeNaive / n))
        }.toOption.iterator
    }
  }
}
