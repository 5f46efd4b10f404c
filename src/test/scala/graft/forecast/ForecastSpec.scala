package graft.forecast

import graft.SparkSpec

class ProphetLikeSpec extends SparkSpec {

  private def series(n: Int)(f: Int => Double): Array[(Long, Double)] = {
    val start = java.time.LocalDate.parse("2023-01-01").toEpochDay
    Array.tabulate(n)(i => (start + i, f(i)))
  }

  test("recovers a linear trend within tolerance") {
    val pts = series(120)(i => 10.0 + 0.5 * i)
    val p = ProphetLike.fit(pts)
    val preds = ProphetLike.predict(p, pts.map(_._1))
    val rmse = math.sqrt(preds.zip(pts).map { case ((_, yh, _, _), (_, y)) =>
      (yh - y) * (yh - y)
    }.sum / pts.length)
    assert(rmse < 0.5, s"in-sample rmse $rmse")
    // extrapolation 14 days out stays close on a clean trend
    val last = pts.last._1
    val fut = ProphetLike.predict(p, Array(last + 14))
    val expected = 10.0 + 0.5 * (119 + 14)
    assert(math.abs(fut.head._2 - expected) < 3.0, s"got ${fut.head._2} want $expected")
  }

  test("daily seasonality: auto-enables ONLY on sub-daily data and recovers an hourly pattern") {
    // hourly series over 10 days: trend + a clean daily cycle
    val start = java.time.LocalDate.parse("2023-01-01").toEpochDay.toDouble
    val hourly = Array.tabulate(10 * 24) { i =>
      val t = start + i / 24.0
      (t, 100.0 + 0.5 * (i / 24.0) + 8.0 * math.sin(2 * math.Pi * (i % 24) / 24.0))
    }
    val p = ProphetLike.fitTimes(hourly, Map.empty)
    assert(p.dailyEnabled, "sub-daily spacing must enable the daily block")
    assert(!p.yearlyEnabled)
    val preds = ProphetLike.predictTimes(p, hourly.map(_._1))
    val rmse = math.sqrt(preds.zip(hourly).map { case ((_, yh, _, _), (_, y)) =>
      (yh - y) * (yh - y)
    }.sum / hourly.length)
    assert(rmse < 2.0, s"in-sample rmse $rmse with daily Fourier block")
    // a daily-granular series must NOT enable it (Prophet's rule), and the
    // Long-day API stays bit-identical to the fractional form on integers
    val dailyPts = series(30)(i => 10.0 + i)
    val pd = ProphetLike.fit(dailyPts)
    assert(!pd.dailyEnabled)
    val pf = ProphetLike.fitTimes(dailyPts.map(p0 => (p0._1.toDouble, p0._2)), Map.empty)
    assert(pd.beta.sameElements(pf.beta) && pd.sigma == pf.sigma &&
      pd.tStartDay == pf.tStartDay && !pf.dailyEnabled)
  }

  test("forecastSubDaily: distributed hourly fit fires the daily block, grouped-map plan, bounded horizon") {
    import spark.implicits._
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val rows = (0 until 8 * 24).map { i =>
      ("t", "m", new java.sql.Timestamp(base.getTime + i * 3600_000L),
        50.0 + 6.0 * math.sin(2 * math.Pi * (i % 24) / 24.0))
    }
    val long = rows.toDF("table", "metric", "ts", "y")
    val ds = ForecastEngine.forecastSubDaily(long, horizonSteps = 24, stepDays = 1.0 / 24)
    assert(ds.queryExecution.optimizedPlan.toString.contains("MapGroups"))
    val out = ds.collect().sortBy(_.ts.getTime)
    assert(out.length == 8 * 24 + 24, "history + 24 hourly future points")
    val lastHist = rows.last._3.getTime
    val future = out.filter(_.ts.getTime > lastHist)
    assert(future.length == 24)
    assert(future.head.ts.getTime == lastHist + 3600_000L, "first step is +1h exactly")
    // the fitted daily cycle must carry into the future: future peak-to-
    // trough swing should reflect the planted amplitude, not collapse
    val swing = future.map(_.yhat).max - future.map(_.yhat).min
    assert(swing > 6.0, s"daily seasonality must survive extrapolation, swing $swing")
    assert(out.forall(r => r.yhat_lower <= r.yhat && r.yhat <= r.yhat_upper))
  }

  test("recovers weekly seasonality on trend+weekly signal") {
    val pts = series(140)(i => 50.0 + 0.2 * i + 5.0 * math.sin(2 * math.Pi * i / 7.0))
    val p = ProphetLike.fit(pts)
    assert(p.weeklyEnabled && !p.yearlyEnabled)
    val preds = ProphetLike.predict(p, pts.map(_._1))
    val rmse = math.sqrt(preds.zip(pts).map { case ((_, yh, _, _), (_, y)) =>
      (yh - y) * (yh - y)
    }.sum / pts.length)
    assert(rmse < 1.0, s"rmse $rmse")
  }

  test("holiday regressor: planted effect recovered in-sample AND on future holidays") {
    val start = java.time.LocalDate.parse("2023-01-01").toEpochDay
    val holidayDays = (0 until 10).map(k => start + 15 + 30L * k).toArray // ~monthly
    val inHistory = holidayDays.filter(_ < start + 180)
    val lift = 25.0
    val pts = series(180)(i =>
      40.0 + 0.3 * i + (if (inHistory.contains(start + i)) lift else 0.0))
    val p = ProphetLike.fit(pts, Map("payday" -> holidayDays))
    assert(p.holidays.length == 1 && p.holidays.head._1 == "payday")
    // in-sample: holiday days predicted near actual (effect absorbed by
    // the indicator, not the residual)
    val preds = ProphetLike.predict(p, pts.map(_._1)).map(t => t._1 -> t._2).toMap
    inHistory.foreach { d =>
      val actual = 40.0 + 0.3 * (d - start) + lift
      assert(math.abs(preds(d) - actual) < 5.0,
        s"holiday day $d: got ${preds(d)}, want ~$actual")
    }
    // future: the first out-of-history holiday day carries the lift, the
    // day before it does not
    val futureHoliday = holidayDays.find(_ > pts.last._1).get
    val Array((_, yHol, _, _)) = ProphetLike.predict(p, Array(futureHoliday))
    val Array((_, yPre, _, _)) = ProphetLike.predict(p, Array(futureHoliday - 1))
    val gap = yHol - (yPre + 0.3) // remove one day of trend
    assert(math.abs(gap - lift) < 5.0, s"future holiday lift $gap, want ~$lift")
    // a fit WITHOUT the holiday frame misses the future lift entirely
    val p0 = ProphetLike.fit(pts)
    val Array((_, y0, _, _)) = ProphetLike.predict(p0, Array(futureHoliday))
    assert(yHol - y0 > lift / 2,
      s"holiday fit must out-predict the plain fit on a future holiday ($yHol vs $y0)")
  }

  test("yearly enabled only at >= 730 days span (Prophet auto rule)") {
    val short = ProphetLike.fit(series(200)(i => i.toDouble))
    val long = ProphetLike.fit(series(800)(i => i.toDouble))
    assert(!short.yearlyEnabled && long.yearlyEnabled)
  }

  test("band ordering and future widening") {
    val pts = series(100)(i => 20.0 + 3.0 * math.sin(2 * math.Pi * i / 7.0) + (i % 3))
    val p = ProphetLike.fit(pts)
    val last = pts.last._1
    val preds = ProphetLike.predict(p, Array(last, last + 1, last + 30))
    preds.foreach { case (_, yh, lo, hi) => assert(lo <= yh && yh <= hi) }
    val w = preds.map { case (_, _, lo, hi) => hi - lo }
    assert(w(0) <= w(1) + 1e-9 && w(1) <= w(2) + 1e-9, s"widths ${w.toSeq}")
  }

  test("deterministic: same input -> identical params and predictions") {
    val pts = series(90)(i => 5.0 + 0.1 * i + math.cos(i.toDouble))
    val a = ProphetLike.fit(pts)
    val b = ProphetLike.fit(pts)
    assert(a.beta.toSeq == b.beta.toSeq && a.sigma == b.sigma)
    val last = pts.last._1
    assert(ProphetLike.predict(a, Array(last + 5)).toSeq ==
      ProphetLike.predict(b, Array(last + 5)).toSeq)
  }

  test("simulated band: deterministic per seed, ordered, in-sample = analytic") {
    val pts = series(120)(i => 30.0 + 0.3 * i + 2.0 * math.sin(2 * math.Pi * i / 7.0) + (i % 5))
    val p = ProphetLike.fit(pts)
    val days = pts.map(_._1) ++ Array.tabulate(14)(i => pts.last._1 + i + 1)
    val a = ProphetLike.predictSimulatedBand(p, days, seed = 42L)
    val b = ProphetLike.predictSimulatedBand(p, days, seed = 42L)
    assert(a.toSeq == b.toSeq, "same seed -> identical band")
    a.foreach { case (_, yh, lo, hi) => assert(lo <= yh && yh <= hi) }
    val analytic = ProphetLike.predict(p, days).map(r => r._1 -> r).toMap
    a.filter(_._1 <= pts.last._1).foreach { case (d, _, lo, hi) =>
      assert(lo == analytic(d)._3 && hi == analytic(d)._4, s"in-sample day $d")
    }
    // future band is at least as wide as the pure-noise band on average
    val futWidths = a.filter(_._1 > pts.last._1).map { case (_, _, lo, hi) => hi - lo }
    val noiseWidth = 2 * ProphetLike.Z80 * p.sigma * p.yScale
    assert(futWidths.sum / futWidths.length >= noiseWidth * 0.8)
  }

  test("ridgeSolve matches breeze's (XᵀX + diag(λ)) \\ Xᵀy within 1e-9 relative on the kernel's shapes") {
    import breeze.linalg.{diag, DenseMatrix, DenseVector}
    val rng = new scala.util.Random(20181)
    // (n, hinges, weekly, yearly, daily, holidays): the column blocks the
    // fit builds for n points, up to p = 2 + 25 + 6 + 20 + 8 = 61
    val shapes = Seq((1, 0, false, false, false, 0), (3, 0, false, false, false, 1),
      (8, 2, false, false, false, 0), (30, 13, true, false, false, 1),
      (400, 25, true, false, false, 2), (2500, 25, true, true, true, 0))
    for ((n, hinges, weekly, yearly, daily, hols) <- shapes) {
      val cps = Array.tabulate(hinges)(j => 0.8 * (j + 1) / hinges)
      def fourier(d: Double, period: Double, order: Int) =
        (1 to order).flatMap(k => Seq(math.sin(2 * math.Pi * k * d / period),
          math.cos(2 * math.Pi * k * d / period)))
      val rows = Array.tabulate(n) { i =>
        val d = 19000.0 + i * (if (daily) 0.75 else 1.0)
        val t = i.toDouble / math.max(1, n - 1)
        (Seq(1.0, t) ++ cps.map(c => math.max(0.0, t - c)) ++
          (if (weekly) fourier(d, 7.0, 3) else Nil) ++
          (if (yearly) fourier(d, 365.25, 10) else Nil) ++
          (if (daily) fourier(d, 1.0, 4) else Nil) ++
          Seq.fill(hols)(if (rng.nextInt(10) == 0) 1.0 else 0.0)).toArray
      }
      val p = rows.head.length
      val y = Array.tabulate(n)(i => 0.5 + 0.3 * rows(i)(1) + 0.1 * rng.nextGaussian())
      val lam = Array.tabulate(p)(j =>
        if (j < 2) 1e-6 else if (j < 2 + hinges) 1.0 + 0.05 * n else 1.0)
      val got = ProphetLike.ridgeSolve(rows, y, lam)
      val x = DenseMatrix(rows.toIndexedSeq: _*)
      val want = ((x.t * x + diag(DenseVector(lam))) \ (x.t * DenseVector(y))).toArray
      val scale = want.map(math.abs).max
      val err = got.zip(want).map { case (a, b) => math.abs(a - b) }.max
      assert(got.length == p && err <= 1e-9 * scale, s"n=$n p=$p: max error $err, scale $scale")
    }
    // an exactly singular system (two equal columns, no penalty) throws
    assertThrows[ArithmeticException](ProphetLike.ridgeSolve(
      Array(Array(1.0, 1.0), Array(2.0, 2.0), Array(3.0, 3.0)), Array(1.0, 2.0, 3.0),
      Array(0.0, 0.0)))
  }

  test("multiplicative and holiday forecastSeries rows match the breeze-solved values within 1e-9") {
    val start = java.time.LocalDate.parse("2023-01-01").toEpochDay
    def pts(n: Int) = Array.tabulate(n) { i =>
      (start + i, 100.0 + 0.8 * i + 10.0 * math.sin(2 * math.Pi * i / 7.0) + 3.0 * math.cos(i * 1.3))
    }
    val mult = ForecastEngine.forecastSeries("t", "m", pts(60), 7, onlyFuture = false,
      growth = ProphetLike.GrowthConfig(multiplicativeSeasonality = true)).toArray
    val hol = ForecastEngine.forecastSeries("t", "m", pts(800), 7, onlyFuture = false,
      holidays = Map("promo" -> Array.tabulate(30)(k => start + 10 + 27L * k))).toArray
    // (day offset, yhat, lower, upper), computed by the breeze/LAPACK solve
    val want = Seq(
      mult -> Seq(
        (0, 101.10940026231367, 96.83711826329585, 105.38168226133149),
        (33, 116.99003886129532, 112.7177568622775, 121.26232086031314),
        (59, 153.34347672356515, 149.07119472454733, 157.61575872258297),
        (66, 159.60633244040991, 155.3337382556103, 163.87892662520952)),
      hol -> Seq(
        (0, 100.06179113090471, 97.24651171723988, 102.87707054456953),
        (403, 418.05619497632784, 415.240915562663, 420.87147438999267),
        (799, 747.0224613562997, 744.2071819426349, 749.8377407699645),
        (806, 752.6185947136798, 749.8033152998323, 755.4338741275274)))
    assert(mult.length == 67 && hol.length == 807)
    for ((rows, expected) <- want; (off, yhat, lo, hi) <- expected) {
      val r = rows.find(_.date.toLocalDate.toEpochDay == start + off).get
      Seq(r.yhat -> yhat, r.yhat_lower -> lo, r.yhat_upper -> hi).foreach { case (g, w) =>
        assert(math.abs(g - w) <= 1e-9 * math.abs(w), s"day $off: $g vs $w")
      }
    }
  }

  test("tiny and constant series do not blow up") {
    val one = ProphetLike.fit(Array((19000L, 42.0)))
    val pred = ProphetLike.predict(one, Array(19001L))
    assert(math.abs(pred.head._2 - 42.0) < 1.0)
    val const = ProphetLike.fit(series(50)(_ => 7.0))
    val p2 = ProphetLike.predict(const, Array(19400L))
    assert(math.abs(p2.head._2 - 7.0) < 0.5)
  }
}

class ForecastEngineSpec extends SparkSpec {
  import org.apache.spark.sql.functions._

  private def longDf(rows: Seq[(String, String, String, java.lang.Double)]) = {
    import spark.implicits._
    rows.toDF("table", "metric", "ds", "y")
  }

  private val hist = (0 until 30).map { i =>
    val d = java.time.LocalDate.parse("2024-01-01").plusDays(i.toLong).toString
    ("t", "m", d, java.lang.Double.valueOf(10.0 + i))
  }

  test("history + interval rows by default; strictly-future with onlyFuture") {
    val fc = ForecastEngine.forecast(longDf(hist), interval = 7, onlyFuture = false)
    assert(fc.count() == 37)
    val fut = ForecastEngine.forecast(longDf(hist), interval = 7, onlyFuture = true)
    assert(fut.count() == 7)
    val minDs = fut.agg(min("date")).head().getDate(0).toString
    assert(minDs == "2024-01-31") // strict > last known date (fs:176)
  }

  test("per-metric fault isolation: bad metric vanishes, good one survives (M5)") {
    val bad = (0 until 30).map { i =>
      val d = java.time.LocalDate.parse("2024-01-01").plusDays(i.toLong).toString
      ("t", "broken", d, null.asInstanceOf[java.lang.Double])
    }
    val fc = ForecastEngine.forecast(longDf(hist ++ bad), 7, onlyFuture = false)
    val metrics = fc.select("metric").distinct().collect().map(_.getString(0)).toSet
    assert(metrics == Set("m"))
    // wide pivot with the full metric list still emits NULL columns for it
    val wide = ForecastOutput.toWide(fc, Seq("m", "broken"))
    assert(wide.columns.toSeq ==
      Seq("date", "m", "m_min", "m_max", "broken", "broken_min", "broken_max"))
    assert(wide.filter(col("broken").isNotNull).count() == 0)
    assert(wide.filter(col("m").isNull).count() == 0)
  }

  test("toWide never merges same-named metrics across tables") {
    val twoTables = longDf(hist ++ hist.map { case (_, m, d, y) =>
      ("other", m, d, java.lang.Double.valueOf(y + 1000.0))
    })
    val fc = ForecastEngine.forecast(twoTables, 0, onlyFuture = false)
    val wide = ForecastOutput.toWide(fc, Seq("m"))
    // one row per (table, date): duplicated dates are visible, values are
    // never mixed across tables by first()
    assert(wide.count() == 60)
    val perDate = wide.groupBy("date").count()
    assert(perDate.filter(col("count") =!= 2).count() == 0)
  }

  test("non-finite y values are dropped like NaN, not fed to the solver") {
    val inf = (0 until 30).map { i =>
      val d = java.time.LocalDate.parse("2024-01-01").plusDays(i.toLong).toString
      ("t", "m", d, java.lang.Double.valueOf(
        if (i == 10) Double.PositiveInfinity else 10.0 + i))
    }
    val fc = ForecastEngine.forecast(longDf(inf), 7, onlyFuture = false)
    val rows = fc.collect()
    assert(rows.length == 29 + 7) // the Inf day is dropped from history
    assert(rows.forall(r => !r.yhat.isNaN && !r.yhat.isInfinite))
  }

  test("cast-to-source typing: int-source metric yields truncated int forecasts (fs:135 parity)") {
    import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType}
    val fc = ForecastEngine.forecast(longDf(hist), 7, onlyFuture = false)
    val wide = ForecastOutput.toWide(fc, Seq("m"), sourceTypes = Map("m" -> IntegerType))
    val s = wide.schema
    assert(Seq("m", "m_min", "m_max").forall(c => s(c).dataType == IntegerType))
    // casting truncates like the reference's int coercion; values stay sane
    val rows = wide.orderBy("date").collect()
    assert(rows.forall(r => r.getInt(2) <= r.getInt(1) && r.getInt(1) <= r.getInt(3)))
    // default path unchanged: no sourceTypes -> DoubleType everywhere
    val dbl = ForecastOutput.toWide(fc, Seq("m"))
    assert(Seq("m", "m_min", "m_max").forall(c => dbl.schema(c).dataType == DoubleType))
    // partial map: unlisted metrics keep DoubleType
    val part = ForecastOutput.toWide(fc, Seq("m"), sourceTypes = Map("other" -> LongType))
    assert(part.schema("m").dataType == DoubleType)
  }

  test("wide output invariant: m_min <= m <= m_max on every row") {
    val fc = ForecastEngine.forecast(longDf(hist), 7, onlyFuture = false)
    val wide = ForecastOutput.toWide(fc, Seq("m"))
    assert(wide.filter(col("m_min") > col("m") || col("m") > col("m_max")).count() == 0)
    assert(wide.count() == 37)
  }

  test("checked face <-> fit coupling: a degenerate fitted sigma flips the band bits") {
    // CoreQueries.checkedRows claims the per-row checked faces derive
    // from the variant's REAL fitted output, so a fit regression flips
    // the hashed rows. Prove it: run the same fit -> predict ->
    // checkedRows chain twice, once healthy and once with the fitted
    // dispersion param regressed to NaN (the dof-collapse failure mode a
    // broken solver actually produces) — every band bit must flip.
    import spark.implicits._
    val days = (0L until 60L).toArray
    val params = ProphetLike.fit(days.map(d => (d, 10.0 + 0.5 * d)))
    val all = days ++ ((days.last + 1) to (days.last + 7))
    def face(p: ProphetParams): Array[(Int, Int)] = {
      val fc = ProphetLike.predict(p, all).toSeq.map { case (d, yh, lo, hi) =>
        ForecastRow("t", "m",
          java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(d)), yh, lo, hi)
      }.toDF()
      val lastHist = Seq(java.sql.Date.valueOf(
        java.time.LocalDate.ofEpochDay(days.last))).toDF("m")
      graft.queries.CoreQueries.checkedRows(fc, lastHist)
        .collect().map(r => (r.getInt(2), r.getInt(3))) // (is_future, band_ok)
    }
    val healthy = face(params)
    assert(healthy.length == 67 && healthy.forall(_._2 == 1))
    assert(healthy.count(_._1 == 1) == 7, "exactly the horizon is future")
    val regressed = face(params.copy(sigma = Double.NaN))
    assert(regressed.forall(_._2 == 0),
      "every band bit must flip — the face recomputes its bits from the " +
        "fitted frame, it does not assert constants")
    assert(regressed.map(_._1).toSeq == healthy.map(_._1).toSeq,
      "calendar bits stay pinned independently of the fit values")
  }

  test("ridge-trend oracle config pin: an 8-point daily window fits " +
    "trend-only with changepoints exactly {3/7, 5/7} (p = 4)") {
    // the forecast_events_ridge_trend DuckDB oracle hard-codes this
    // shape (design [1, t, (t-3/7)+, (t-5/7)+], lambda diag
    // [1e-6, 1e-6, 1+0.05*8, 1+0.05*8]); this spec pins the fit rules
    // that produce it so a config drift fails HERE, not as a silent
    // oracle hash mismatch
    val start = java.time.LocalDate.parse("2023-01-01").toEpochDay
    val pts = Array.tabulate(8)(i =>
      (start + i, 5.0 + 2.0 * i + (if (i % 2 == 0) 0.3 else -0.3)))
    val p = ProphetLike.fit(pts)
    assert(!p.weeklyEnabled, "span 7 < 14 must keep weekly off")
    assert(!p.yearlyEnabled && !p.dailyEnabled)
    assert(p.spanDays == 7.0)
    assert(p.changepoints.toSeq == Seq(3.0 / 7.0, 5.0 / 7.0),
      s"changepoint quantiles moved: ${p.changepoints.toSeq}")
    assert(p.beta.length == 4, s"p must be 4, got ${p.beta.length}")
    // the analytic band widens with the horizon (deltaScale > 0 on a
    // kinked series) and brackets yhat
    val fut = ProphetLike.predict(p, Array(pts.last._1 + 1, pts.last._1 + 7))
    fut.foreach { case (_, yh, lo, hi) => assert(lo <= yh && yh <= hi) }
    assert(fut(1)._4 - fut(1)._3 >= fut(0)._4 - fut(0)._3,
      "band must not narrow with horizon")
  }

  test("forecast_anomalies_ridge: 8 in-sample rows per metric, bands " +
    "bracket yhat, and the bit equals the grained band comparison") {
    val rows = graft.queries.CoreQueries.queries(
      "forecast_anomalies_ridge")(spark, sf0001)
      .collect()
      .map(r => (r.getString(0), r.getDate(1).toString, r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getInt(6)))
    assert(rows.length == 24, s"3 metrics x 8 window days, got ${rows.length}")
    rows.foreach { case (m, d, y, yh, lo, hi, bit) =>
      assert(lo <= yh && yh <= hi, s"$m@$d band must bracket yhat")
      val want = if (y < lo || y > hi) 1 else 0
      assert(bit == want, s"$m@$d bit $bit vs grained comparison $want")
    }
    // z80 on 4 dof is a generous in-sample band; the fixture should not
    // flag everything (a degenerate sigma would)
    assert(rows.count(_._7 == 1) < rows.length,
      "an all-anomaly output means the band collapsed")
  }

  test("forecast_orders_ridge: the gapped-window contract — zero rows " +
    "on the sparse sf0.001 order stream, ordered bands where it fits") {
    // sf0.001 has only 6 of the last 8 calendar days (measured); the
    // count = 8 predicate must drop BOTH metrics in both engines — the
    // oracle's symmetric empty result is what the driver hash compares
    val sparse = graft.queries.CoreQueries.queries(
      "forecast_orders_ridge")(spark, sf0001)
    assert(sparse.count() == 0,
      "a gapped last-8-day window must emit nothing")
    // synthetic dense window through the same shared construction: melt
    // 8 consecutive days x 2 metrics and fit
    import spark.implicits._
    val start = java.time.LocalDate.parse("2024-03-01")
    val s = (0 until 8).flatMap { i =>
      val d = java.sql.Date.valueOf(start.plusDays(i))
      Seq(("order_count", d, (10 + i) * 100L),
        ("revenue", d, 100000L + 2500L * i))
    }.toDF("metric", "ds", "yc")
    val fc = graft.queries.CoreQueries.ridgeTrendForecast(s).collect()
    assert(fc.length == 14, "2 metrics x 7 horizon days")
    fc.foreach { r =>
      assert(r.getDouble(3) <= r.getDouble(2) && r.getDouble(2) <= r.getDouble(4))
    }
  }

  test("forecast_backtest_ridge: gate calendar, n = horizon, and " +
    "rmse >= mae on every row; skill varies across cutoffs") {
    val rows = graft.queries.CoreQueries.queries(
      "forecast_backtest_ridge")(spark, sf0001)
      .collect()
      .map(r => (r.getString(0), r.getDate(1).toString, r.getLong(2),
        r.getDouble(3), r.getDouble(4)))
    // 30-day gapless fixture: cutoffs d1-7, -10, -13, -16 (then the
    // >= 14-training-day floor stops the spine) x 3 metrics
    assert(rows.length == 12, s"got ${rows.length}")
    assert(rows.forall(_._3 == 7L), "every cutoff holds out the full horizon")
    rows.foreach { case (m, c, _, mae, rmse) =>
      assert(mae >= 0 && rmse >= mae,
        s"$m@$c: rmse $rmse must dominate mae $mae")
    }
    // the fits are real: identical skill on every (metric, cutoff) would
    // mean the model collapsed to a constant
    assert(rows.map(_._4).distinct.length > 1, "mae must vary across rows")
  }

  test("forecast_events_ridge_trend equals a driver-side " +
    "fit-and-predict over each metric's last 8 days") {
    val got = graft.queries.CoreQueries.queries(
      "forecast_events_ridge_trend")(spark, sf0001)
      .collect()
      .map(r => (r.getString(0), r.getDate(1).toString) ->
        (r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(got.size == 21, s"3 metrics x 7 days, got ${got.size}")
    val melted = graft.SparkEntry.queries("series_melt")(spark, sf0001)
      .collect().map(r => (r.getString(0), r.getDate(1), r.getDouble(2)))
      .groupBy(_._1)
    def grain(x: Double) = math.floor(x * 10000 + 0.5) / 10000.0
    melted.foreach { case (metric, ms) =>
      val s = ms.sortBy(_._2.toLocalDate.toEpochDay)
      val d1 = s.last._2.toLocalDate.toEpochDay
      val win = s.filter { t =>
        val d = t._2.toLocalDate.toEpochDay; d >= d1 - 7 && d <= d1
      }
      assert(win.length == 8, s"$metric fixture window gapped")
      val pts = win.map(t =>
        (t._2.toLocalDate.toEpochDay, math.rint(t._3 * 100) / 100.0))
      val params = ProphetLike.fit(pts)
      ProphetLike.predict(params, Array.tabulate(7)(h => d1 + h + 1))
        .foreach { case (d, yh, lo, hi) =>
          val key = (metric, java.time.LocalDate.ofEpochDay(d).toString)
          assert(got(key) == ((grain(yh), grain(lo), grain(hi))),
            s"$key: ${got(key)} vs direct (${grain(yh)}, ${grain(lo)}, ${grain(hi)})")
        }
    }
  }

  test("forecast_events_holidays_ridge: p = 5 with a NONZERO fitted " +
    "holiday coefficient, and the face equals the direct holiday fit") {
    val monthEdge = (for {
      y <- 2024 to 2025; m <- 1 to 12; d <- Seq(1, 25)
    } yield java.time.LocalDate.of(y, m, d).toEpochDay).toArray
    val got = graft.queries.CoreQueries.queries(
      "forecast_events_holidays_ridge")(spark, sf0001)
      .collect()
      .map(r => (r.getString(0), r.getDate(1).toString) ->
        (r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(got.size == 21, s"3 metrics x 7 days, got ${got.size}")
    val melted = graft.SparkEntry.queries("series_melt")(spark, sf0001)
      .collect().map(r => (r.getString(0), r.getDate(1), r.getDouble(2)))
      .groupBy(_._1)
    def grain(x: Double) = math.floor(x * 10000 + 0.5) / 10000.0
    melted.foreach { case (metric, ms) =>
      val s = ms.sortBy(_._2.toLocalDate.toEpochDay)
      val d1 = s.last._2.toLocalDate.toEpochDay
      val win = s.filter { t =>
        val d = t._2.toLocalDate.toEpochDay; d >= d1 - 7 && d <= d1
      }
      val pts = win.map(t =>
        (t._2.toLocalDate.toEpochDay, math.rint(t._3 * 100) / 100.0))
      val params = ProphetLike.fit(pts.toArray,
        Map("month_edge" -> monthEdge))
      // the month-edge calendar fires IN-WINDOW (Jan 25), so the fitted
      // coefficient must be nonzero — the design reason for densifying
      // month-start with a payday (an unobserved column would shrink to
      // an exact zero and check nothing but the dof change)
      assert(params.beta.length == 5,
        s"$metric: p must be 5 ([1, t, h1, h2, hol]), got ${params.beta.length}")
      assert(params.beta(4) != 0.0,
        s"$metric: the holiday coefficient must be fitted, not shrunk to 0")
      ProphetLike.predict(params, Array.tabulate(7)(h => d1 + h + 1))
        .foreach { case (d, yh, lo, hi) =>
          val key = (metric, java.time.LocalDate.ofEpochDay(d).toString)
          assert(got(key) == ((grain(yh), grain(lo), grain(hi))),
            s"$key: ${got(key)} vs direct (${grain(yh)}, ${grain(lo)}, ${grain(hi)})")
        }
    }
  }

  test("forecast_events_logistic_ridge: every output strictly inside " +
    "(0, cap), bands bracket, and the face equals the direct logistic fit") {
    val rows = graft.queries.CoreQueries.queries(
      "forecast_events_logistic_ridge")(spark, sf0001)
      .collect()
      .map(r => (r.getString(0), r.getDate(1).toString, r.getDouble(2),
        r.getDouble(3), r.getDouble(4)))
    assert(rows.length == 21, s"3 metrics x 7 days, got ${rows.length}")
    // the production cap rule from the pinned cents series
    val melted = graft.SparkEntry.queries("series_melt")(spark, sf0001)
      .collect().map(r => (r.getString(0), r.getDate(1), r.getDouble(2)))
    val cap = melted.map(t => math.rint(t._3 * 100)).max / 100.0 * 1.5
    rows.foreach { case (m, d, yh, lo, hi) =>
      assert(lo <= yh && yh <= hi, s"$m@$d band must bracket yhat")
      // the sigmoid maps ALL of R into (0, cap): saturation is the
      // mode's contract, checked on every emitted value
      Seq(yh, lo, hi).foreach(v =>
        assert(v > 0.0 && v < cap, s"$m@$d: $v escapes (0, $cap)"))
    }
    // direct-path equality on one metric (the full 21-row equality is
    // the driver hash's job; this pins the Scala face to the production
    // GrowthConfig branch)
    def grain(x: Double) = math.floor(x * 10000 + 0.5) / 10000.0
    val m0 = melted.filter(_._1 == "event_count")
      .sortBy(_._2.toLocalDate.toEpochDay)
    val d1 = m0.last._2.toLocalDate.toEpochDay
    val pts = m0.filter { t =>
      val d = t._2.toLocalDate.toEpochDay; d >= d1 - 7 && d <= d1
    }.map(t => (t._2.toLocalDate.toEpochDay, math.rint(t._3 * 100) / 100.0))
    val params = ProphetLike.fit(pts.toArray,
      Map.empty[String, Array[Long]],
      ProphetLike.GrowthConfig(growth = "logistic", cap = cap, floor = 0.0))
    val got = rows.filter(_._1 == "event_count")
      .map(r => r._2 -> ((r._3, r._4, r._5))).toMap
    ProphetLike.predict(params, Array.tabulate(7)(h => d1 + h + 1))
      .foreach { case (d, yh, lo, hi) =>
        val key = java.time.LocalDate.ofEpochDay(d).toString
        assert(got(key) == ((grain(yh), grain(lo), grain(hi))),
          s"$key: ${got(key)} vs direct (${grain(yh)}, ${grain(lo)}, ${grain(hi)})")
      }
  }

  test("holidays ridge face recovers a PLANTED holiday bump and " +
    "projects it onto the future holiday day") {
    // 8 flat days (Jan 23–30) with a planted +50 bump on Jan 25 (a
    // month-edge holiday); the horizon contains Feb 1 (also month-edge)
    import spark.implicits._
    val start = java.time.LocalDate.parse("2024-01-23")
    val s = (0 until 8).map { i =>
      val d = java.sql.Date.valueOf(start.plusDays(i))
      val bump = if (start.plusDays(i).getDayOfMonth == 25) 5000L else 0L
      ("m", d, 10000L + bump)
    }.toDF("metric", "ds", "yc")
    val monthEdge = (for {
      y <- 2024 to 2025; m <- 1 to 12; d <- Seq(1, 25)
    } yield java.time.LocalDate.of(y, m, d).toEpochDay).toArray
    val fc = graft.queries.CoreQueries
      .ridgeTrendForecast(s, Map("month_edge" -> monthEdge))
      .collect()
      .map(r => r.getDate(1).toString -> r.getDouble(2)).toMap
    assert(fc.size == 7)
    // Feb 1 (the future holiday) must carry a materially larger lift
    // than its non-holiday neighbors — the coefficient fitted on Jan 25
    // projecting forward (λ_hol = 1.0 shrinks ~+50 to roughly half;
    // > +15 over the neighbor mean is well clear of the flat baseline)
    val feb1 = fc("2024-02-01")
    val neighbors = Seq(fc("2024-01-31"), fc("2024-02-02"))
    assert(feb1 - neighbors.sum / 2 > 15.0,
      s"planted holiday bump not recovered: feb1=$feb1 vs $neighbors")
  }

  test("logistic ridge face saturates where the linear face overshoots " +
    "the cap") {
    // a steep riser: linear extrapolation of the last-8-day trend blows
    // through any nearby ceiling, the sigmoid cannot
    import spark.implicits._
    val start = java.time.LocalDate.parse("2024-03-01")
    val s = (0 until 8).map { i =>
      val d = java.sql.Date.valueOf(start.plusDays(i))
      ("m", d, 1000L + 2000L * i) // 10 → 150 over the window
    }.toDF("metric", "ds", "yc")
    val cap = 160.0
    val logi = graft.queries.CoreQueries.ridgeFitForecast(s)(pts =>
      ProphetLike.fit(pts, Map.empty[String, Array[Long]],
        ProphetLike.GrowthConfig(growth = "logistic", cap = cap, floor = 0.0)))
      .collect().map(r => (r.getDouble(2), r.getDouble(3), r.getDouble(4)))
    assert(logi.length == 7)
    logi.foreach { case (yh, lo, hi) =>
      Seq(yh, lo, hi).foreach(v =>
        assert(v > 0.0 && v < cap, s"logistic output $v escapes (0, $cap)"))
    }
    val linear = graft.queries.CoreQueries.ridgeTrendForecast(s)
      .collect().map(_.getDouble(2))
    assert(linear.exists(_ > cap),
      s"fixture too tame: the linear face should overshoot $cap " +
        s"(max ${linear.max}) for the saturation contrast to mean anything")
  }

  test("grouped fits run one metric-hashed shuffle as wide as the task " +
    "slots, whatever spark.sql.shuffle.partitions says") {
    import org.apache.spark.sql.Dataset
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val plans = new AdaptiveSparkPlanHelper {}
    val slots = spark.sparkContext.defaultParallelism
    val key = "spark.sql.shuffle.partitions"
    val saved = spark.conf.get(key)
    spark.conf.set(key, "200")
    try {
      // the job's frame shape: `table` is a literal over a scanned (not
      // local) relation, so Catalyst folds it into any repartition
      // expression that names it
      import spark.implicits._
      val long = spark.sparkContext
        .parallelize(hist ++ hist.map { case (t, _, d, y) => (t, "m2", d, y) }, 2)
        .toDF("table", "metric", "ds", "y")
        .withColumn("table", lit("t"))
      val timed = long.select(col("table"), col("metric"),
        col("ds").cast("timestamp").as("ts"), col("y"))
      val faces = Seq[(String, Dataset[_])](
        "forecast" -> ForecastEngine.forecast(long, 7, onlyFuture = false),
        "forecastSubDaily" -> ForecastEngine.forecastSubDaily(timed, 24, 1.0 / 24),
        "crossValidate" -> Backtest.crossValidate(long, 7, 3, 14),
        "naiveMetrics" -> Backtest.naiveMetrics(long, 7, 3, 14))
      faces.foreach { case (name, ds) =>
        assert(ds.collect().nonEmpty, name)
        val widths = plans.collect(ds.queryExecution.executedPlan) {
          case e: ShuffleExchangeExec => e.numPartitions
        }
        assert(widths == Seq(slots), s"$name: shuffle widths $widths, want one of $slots")
        assert(ds.rdd.getNumPartitions == slots, name)
      }
    } finally spark.conf.set(key, saved)
  }
}
