package graft.forecast

/** Fitted per-series model parameters — the JVM stand-in for the reference's
  * ephemeral `Prophet()` model object (forecast_script.py:171). All fields
  * are plain data so the whole object serializes cheaply between executors.
  *
  * Model form follows the public Prophet paper (Taylor & Letham,
  * "Forecasting at Scale", Am. Stat. 2018): additive
  * `y(t) = g(t) + s(t) + eps` with a piecewise-linear trend `g` over
  * changepoints and Fourier seasonal terms `s`. Divergences from the
  * reference's Stan MAP fit (documented in SURVEY.md §7.4): we solve a
  * ridge-regularized least-squares system in closed form (normal
  * equations, LU with partial pivoting over plain arrays) instead of
  * L-BFGS with a Laplace changepoint prior, and the uncertainty band is
  * analytic (residual sigma + changepoint-magnitude growth) instead of
  * 1000-sample trend simulation.
  */
final case class ProphetParams(
    /** start/end of history in FRACTIONAL epoch days (integral for the
      * daily pipelines; sub-daily fits carry the fraction — 2^53 double
      * precision is exact far beyond any epoch-day magnitude)
      */
    tStartDay: Double,
    tEndDay: Double,
    spanDays: Double,
    yScale: Double,
    /** coefficient vector: [intercept, slope, hinge_1..hinge_n, weekly(6),
      * yearly(20), daily(8, sub-daily fits only),
      * holiday_1..holiday_h (name-sorted)]
      */
    beta: Array[Double],
    /** changepoint locations in scaled time (0,1) */
    changepoints: Array[Double],
    weeklyEnabled: Boolean,
    yearlyEnabled: Boolean,
    /** residual std in standardized-y space */
    sigma: Double,
    /** rms changepoint-delta magnitude, drives future band growth */
    deltaScale: Double,
    /** holiday indicator regressors [public: Prophet's holidays frame]:
      * (name, SORTED epoch-days where the indicator fires — window
      * expansion already applied), name-sorted so the feature order is
      * deterministic. One additive coefficient each.
      */
    holidays: Array[(String, Array[Long])] = Array.empty,
    /** "linear" (default) or "logistic" [public: Prophet's saturating
      * growth]. Logistic fits the SAME design matrix on
      * logit((y - floor) / (cap - floor)) and maps predictions back
      * through the sigmoid — a logit-link GLM stand-in for Prophet's
      * Stan-fitted saturating trend (divergence documented at
      * [[ProphetLike.fit]]) that keeps the closed-form solve and
      * guarantees forecasts respect cap/floor at any horizon.
      */
    growth: String = "linear",
    cap: Double = Double.NaN,
    floor: Double = 0.0,
    /** Prophet's multiplicative seasonality mode [public]:
      * y = trend * (1 + s(t)) instead of trend + s(t); seasonal swing
      * scales with the trend level.
      */
    multiplicative: Boolean = false,
    /** order-4 daily Fourier block present in beta — auto-enabled only
      * for sub-daily series (Prophet's rule [public]; a daily-granular
      * series can never fire it: sin/cos of integer cycles are
      * constant).
      */
    dailyEnabled: Boolean = false)

object ProphetLike {

  /** Prophet defaults [public]: 25 potential changepoints in the first 80%
    * of history; weekly order 3 (enabled at >= 2 weeks of span); yearly
    * order 10 (enabled at >= 2 years); 80% interval (z = Phi^-1(0.9)).
    */
  val MaxChangepoints = 25
  val ChangepointRange = 0.8
  val WeeklyOrder = 3
  val YearlyOrder = 10
  val DailyOrder = 4
  val YearDays = 365.25
  val Z80 = 1.2815515655446004

  def weeklyEnabled(spanDays: Double): Boolean = spanDays >= 14
  def yearlyEnabled(spanDays: Double): Boolean = spanDays >= 730

  /** Prophet's daily-seasonality auto-rule (fs:171 [public]): order-4
    * Fourier with period 1 day, enabled only when the series is actually
    * SUB-daily (some consecutive spacing < 1 day) and spans >= 2 days —
    * on integer-day series the daily features are constants (sin/cos of
    * whole cycles) and Prophet leaves them off.
    */
  def dailyEnabled(sortedTimes: Array[Double]): Boolean = {
    if (sortedTimes.length < 3) return false
    val span = sortedTimes.last - sortedTimes.head
    if (span < 2.0) return false
    var i = 1
    while (i < sortedTimes.length) {
      if (sortedTimes(i) - sortedTimes(i - 1) < 1.0 - 1e-9) return true
      i += 1
    }
    false
  }

  private def fourier(day: Double, period: Double, order: Int): Array[Double] = {
    val out = new Array[Double](2 * order)
    var k = 1
    while (k <= order) {
      val arg = 2.0 * math.Pi * k * day / period
      out(2 * (k - 1)) = math.sin(arg)
      out(2 * (k - 1) + 1) = math.cos(arg)
      k += 1
    }
    out
  }

  /** One design-matrix row for epoch-day `d` given trend/seasonality/
    * holiday config. Holiday membership is a binary search over each
    * holiday's sorted day array — O(h log k) per row, h and k both tiny.
    */
  private def featureRow(
      d: Double,
      tStart: Double,
      span: Double,
      cps: Array[Double],
      weekly: Boolean,
      yearly: Boolean,
      holidays: Array[(String, Array[Long])],
      daily: Boolean = false): Array[Double] = {
    val t = (d - tStart) / span
    val row = Array.newBuilder[Double]
    row.sizeHint(2 + cps.length + (if (weekly) 2 * WeeklyOrder else 0) +
      (if (yearly) 2 * YearlyOrder else 0) +
      (if (daily) 2 * DailyOrder else 0) + holidays.length)
    row += 1.0
    row += t
    var j = 0
    while (j < cps.length) { row += math.max(0.0, t - cps(j)); j += 1 }
    if (weekly) row ++= fourier(d, 7.0, WeeklyOrder)
    if (yearly) row ++= fourier(d, YearDays, YearlyOrder)
    if (daily) row ++= fourier(d, 1.0, DailyOrder)
    j = 0
    while (j < holidays.length) {
      // holiday indicators fire for the calendar DAY containing t
      val dayOf = math.floor(d).toLong
      row += (if (java.util.Arrays.binarySearch(holidays(j)._2, dayOf) >= 0) 1.0 else 0.0)
      j += 1
    }
    row.result()
  }

  private def dot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0
    var j = 0
    while (j < a.length) { s += a(j) * b(j); j += 1 }
    s
  }

  /** Ridge least squares: solves (XᵀX + diag(lam)) beta = Xᵀy for the
    * design `rows` (n x p) by Gaussian elimination with partial pivoting
    * — the LU factor-and-solve LAPACK's `dgesv` runs. p is at most ~60,
    * so forming the normal equations costs n·p² and the solve p³, both
    * tiny next to a Spark task. An exactly zero pivot means a singular
    * system; it throws, so the caller's per-series `Try` drops that
    * series.
    */
  private[forecast] def ridgeSolve(
      rows: Array[Array[Double]], y: Array[Double], lam: Array[Double]): Array[Double] = {
    val p = lam.length
    // upper triangle of XᵀX + diag(lam), and Xᵀy; zero entries (hinges
    // before their changepoint, holiday indicators) add nothing
    val a = Array.tabulate(p)(j => { val r = new Array[Double](p); r(j) = lam(j); r })
    val b = new Array[Double](p)
    var i = 0
    while (i < rows.length) {
      val x = rows(i)
      var j = 0
      while (j < p) {
        val xj = x(j)
        if (xj != 0.0) {
          val aj = a(j)
          var k = j
          while (k < p) { aj(k) += xj * x(k); k += 1 }
          b(j) += xj * y(i)
        }
        j += 1
      }
      i += 1
    }
    var j = 1
    while (j < p) { var k = 0; while (k < j) { a(j)(k) = a(k)(j); k += 1 }; j += 1 }

    var c = 0
    while (c < p) {
      var piv = c
      var r = c + 1
      while (r < p) { if (math.abs(a(r)(c)) > math.abs(a(piv)(c))) piv = r; r += 1 }
      if (a(piv)(c) == 0.0)
        throw new ArithmeticException(s"ridge system is singular at column $c of $p")
      val ar = a(piv); a(piv) = a(c); a(c) = ar
      val br = b(piv); b(piv) = b(c); b(c) = br
      r = c + 1
      while (r < p) {
        val f = a(r)(c) / a(c)(c)
        var k = c + 1
        while (k < p) { a(r)(k) -= f * a(c)(k); k += 1 }
        b(r) -= f * b(c)
        r += 1
      }
      c += 1
    }
    // back substitution through the upper triangle
    c = p - 1
    while (c >= 0) {
      var k = c + 1
      while (k < p) { b(c) -= a(c)(k) * b(k); k += 1 }
      b(c) /= a(c)(c)
      c -= 1
    }
    b
  }

  /** Fit on an epoch-day-sorted series. Bounded work: series are daily, so
    * even 20 years is ~7.3k points x <60 features — safe to run inside a
    * single `mapGroups` task (the per-group collect the reference does on
    * the driver, pushed to executors; SURVEY.md §2.5 A2).
    */
  def fit(points: Array[(Long, Double)]): ProphetParams =
    fit(points, Map.empty[String, Array[Long]])

  /** As [[fit]], with additive holiday indicator regressors [public:
    * Prophet's `holidays` frame semantics — one 0/1 column per holiday,
    * Normal(0, 10)-like prior, shared across history and future]. Callers
    * pass each holiday's epoch-days with any lower/upper window already
    * expanded; days are deduped + sorted here, names sorted for a
    * deterministic feature order. Holidays never observed in-history
    * still get a column (coefficient shrinks to ~0 under the prior),
    * matching Prophet.
    */
  def fit(points: Array[(Long, Double)],
      holidayDays: Map[String, Array[Long]]): ProphetParams =
    fitTimes(points.map(p => (p._1.toDouble, p._2)), holidayDays)

  /** [[fit]] over FRACTIONAL epoch-day times — the sub-daily entry point
    * (hourly data: t = epochSeconds / 86400.0). Identical arithmetic to
    * the Long form on integral inputs (doubles are exact there); the only
    * behavioral addition is Prophet's daily-seasonality auto-rule, which
    * can only fire when some spacing is genuinely sub-daily.
    */
  def fitTimes(points: Array[(Double, Double)],
      holidayDays: Map[String, Array[Long]]): ProphetParams = {
    require(points.nonEmpty, "cannot fit an empty series")
    val holidays: Array[(String, Array[Long])] =
      holidayDays.toArray.sortBy(_._1).map { case (nm, ds) =>
        (nm, ds.distinct.sorted)
      }
    val sorted = points.sortBy(_._1)
    val days = sorted.map(_._1)
    val ys = sorted.map(_._2)
    val tStart = days.head
    val tEnd = days.last
    val span = math.max(1.0, tEnd - tStart)
    val yScale = math.max(1e-12, ys.map(math.abs).max)
    val n = sorted.length

    val weekly = n >= 3 && weeklyEnabled(span)
    val yearly = n >= 3 && yearlyEnabled(span)
    val daily = dailyEnabled(days)
    // Potential changepoints at observation quantiles over the first 80%
    // of DATA POINTS (Prophet's rule [public]: linspace over the ordered
    // history index, not uniform in time — the two differ on gappy
    // series); capped so short series keep more observations than
    // parameters.
    val nCp =
      if (n < 8) 0
      else math.min(MaxChangepoints, (n - 4) / 2)
    val histSize = math.floor(ChangepointRange * n).toInt
    val cps: Array[Double] =
      if (nCp == 0 || histSize < 2) Array.empty
      else
        Array.tabulate(nCp) { j =>
          val idx = math.round((j + 1).toDouble * (histSize - 1) / nCp).toInt
          (days(math.min(idx, n - 1)) - tStart) / span
        }.distinct.filter(_ > 0.0)

    val p = 2 + cps.length + (if (weekly) 2 * WeeklyOrder else 0) +
      (if (yearly) 2 * YearlyOrder else 0) +
      (if (daily) 2 * DailyOrder else 0) + holidays.length
    val x = Array.tabulate(n)(i =>
      featureRow(days(i), tStart, span, cps, weekly, yearly, holidays, daily))
    val yv = ys.map(_ / yScale)

    // Ridge penalties approximating Prophet's priors: near-flat prior for
    // base intercept/slope, a strong Laplace(0.05)-like shrinkage on
    // changepoint deltas (scaled with n so smoothing strength tracks the
    // likelihood term), and a mild Normal(0,10)-like prior on seasonality.
    val lam = new Array[Double](p)
    lam(0) = 1e-6; lam(1) = 1e-6
    val lamCp = 1.0 + 0.05 * n
    var j = 2
    while (j < 2 + cps.length) { lam(j) = lamCp; j += 1 }
    while (j < p) { lam(j) = 1.0; j += 1 }

    val beta = ridgeSolve(x, yv, lam)

    var sse = 0.0
    var i = 0
    while (i < n) { val e = yv(i) - dot(x(i), beta); sse += e * e; i += 1 }
    val dof = math.max(1, n - p)
    val sigma = math.sqrt(sse / dof)
    val deltas = beta.slice(2, 2 + cps.length)
    val deltaScale =
      if (deltas.isEmpty) 0.0
      else math.sqrt(deltas.map(d => d * d).sum / deltas.length)

    ProphetParams(tStart, tEnd, span, yScale, beta, cps, weekly, yearly,
      sigma, deltaScale, holidays, dailyEnabled = daily)
  }

  /** Saturating / multiplicative fit config [public: Prophet's `growth`,
    * `cap`/`floor`, `seasonality_mode` surface]. `growth = "logistic"`
    * requires `cap > floor` (Prophet's user-supplied capacity; it never
    * infers one).
    */
  final case class GrowthConfig(
      growth: String = "linear",
      cap: Double = Double.NaN,
      floor: Double = 0.0,
      multiplicativeSeasonality: Boolean = false)

  /** As [[fit]], with Prophet's growth/seasonality-mode surface:
    *
    *  - `growth = "logistic"`: fit the piecewise-linear + seasonal model
    *    on z = logit((y - floor) / (cap - floor)) and invert through the
    *    sigmoid at predict time. DIVERGENCE from Prophet (documented, as
    *    with the M2 ridge fit): Prophet fits
    *    cap / (1 + exp(-k(t - m))) directly in Stan; the logit-link form
    *    is the closed-form GLM analog — same saturation behavior, same
    *    cap/floor guarantees (the sigmoid maps ALL of R into
    *    (floor, cap)), seasonality acts on the log-odds scale. History
    *    outside (floor, cap) is clamped to a 1e-6 margin before the
    *    logit (Prophet errors instead; clamping keeps per-metric fault
    *    isolation alive for a single bad row).
    *  - `multiplicativeSeasonality = true` (linear growth only): a
    *    two-stage closed-form fit — trend-only ridge first, then
    *    seasonal/holiday coefficients on the detrended RATIO
    *    y / g(t) - 1, so yhat = g(t) * (1 + s(t)) and the seasonal swing
    *    scales with the trend level like Prophet's multiplicative mode.
    *    Guard: trend values within 1e-8 of zero contribute no ratio
    *    rows (a zero-crossing trend makes the ratio unbounded).
    *
    * The two modes compose with holidays; logistic + multiplicative is
    * rejected (on the log-odds scale seasonality is already
    * level-relative — Prophet's combo has no closed-form analog here).
    */
  def fit(points: Array[(Long, Double)],
      holidayDays: Map[String, Array[Long]],
      cfg: GrowthConfig): ProphetParams = cfg.growth match {
    case "logistic" =>
      require(!cfg.multiplicativeSeasonality,
        "logistic growth already scales seasonality with level (log-odds); " +
          "multiplicative seasonality is linear-growth-only")
      require(!cfg.cap.isNaN && cfg.cap > cfg.floor,
        s"logistic growth needs cap > floor, got cap=${cfg.cap} floor=${cfg.floor}")
      val width = cfg.cap - cfg.floor
      val zs = points.map { case (d, y) =>
        val ratio = math.min(1.0 - 1e-6, math.max(1e-6, (y - cfg.floor) / width))
        (d, math.log(ratio / (1.0 - ratio)))
      }
      fit(zs, holidayDays).copy(growth = "logistic", cap = cfg.cap, floor = cfg.floor)
    case "linear" if cfg.multiplicativeSeasonality =>
      fitMultiplicative(points, holidayDays)
    case "linear" => fit(points, holidayDays)
    case other => throw new IllegalArgumentException(
      s"growth must be 'linear' or 'logistic', got '$other'")
  }

  /** Two-stage multiplicative fit (see [[fit]] with [[GrowthConfig]]).
    * Stage 1 estimates the trend alone; stage 2 regresses the detrended
    * ratio on the seasonal + holiday columns. Both stages reuse the
    * ridge penalties of the additive path; beta keeps the SAME layout
    * ([trend | seasonal | holiday]), with `multiplicative = true`
    * telling predict to combine the halves as g * (1 + s).
    */
  private def fitMultiplicative(points: Array[(Long, Double)],
      holidayDays: Map[String, Array[Long]]): ProphetParams = {
    require(points.nonEmpty, "cannot fit an empty series")
    val holidays: Array[(String, Array[Long])] =
      holidayDays.toArray.sortBy(_._1).map { case (nm, ds) => (nm, ds.distinct.sorted) }
    val sorted = points.sortBy(_._1)
    val days = sorted.map(_._1)
    val ys = sorted.map(_._2)
    val tStart = days.head
    val tEnd = days.last
    val span = math.max(1.0, (tEnd - tStart).toDouble)
    val yScale = math.max(1e-12, ys.map(math.abs).max)
    val n = sorted.length
    val weekly = n >= 3 && weeklyEnabled(span)
    val yearly = n >= 3 && yearlyEnabled(span)
    val nCp = if (n < 8) 0 else math.min(MaxChangepoints, (n - 4) / 2)
    val histSize = math.floor(ChangepointRange * n).toInt
    val cps: Array[Double] =
      if (nCp == 0 || histSize < 2) Array.empty
      else Array.tabulate(nCp) { j =>
        val idx = math.round((j + 1).toDouble * (histSize - 1) / nCp).toInt
        (days(math.min(idx, n - 1)) - tStart) / span
      }.distinct.filter(_ > 0.0)

    val pTrend = 2 + cps.length
    val pSeas = (if (weekly) 2 * WeeklyOrder else 0) +
      (if (yearly) 2 * YearlyOrder else 0) + holidays.length

    // one design row per day, [trend | seasonal | holiday]; stage 1 reads
    // the trend columns, stage 2 the rest
    val full = Array.tabulate(n)(i =>
      featureRow(days(i), tStart, span, cps, weekly, yearly, holidays))
    val seas = full.map(_.drop(pTrend))

    // stage 1: trend-only ridge on standardized y
    val xt = full.map(_.take(pTrend))
    val yv = ys.map(_ / yScale)
    val lamT = new Array[Double](pTrend)
    lamT(0) = 1e-6; lamT(1) = 1e-6
    val lamCp = 1.0 + 0.05 * n
    var j = 2
    while (j < pTrend) { lamT(j) = lamCp; j += 1 }
    val betaT = ridgeSolve(xt, yv, lamT)
    val g = xt.map(dot(_, betaT))

    // stage 2: seasonal/holiday ridge on the detrended ratio y/g - 1,
    // weighted implicitly by dropping near-zero-trend rows
    val betaS =
      if (pSeas == 0) Array.emptyDoubleArray
      else {
        val keep = (0 until n).filter(i => math.abs(g(i)) > 1e-8).toArray
        ridgeSolve(keep.map(seas), keep.map(i => yv(i) / g(i) - 1.0),
          Array.fill(pSeas)(1.0))
      }

    val beta = betaT ++ betaS
    // final residuals in standardized-y space, against the COMBINED model
    var sse = 0.0
    var i = 0
    while (i < n) {
      val e = yv(i) - g(i) * (1.0 + dot(seas(i), betaS))
      sse += e * e
      i += 1
    }
    val p = pTrend + pSeas
    val sigma = math.sqrt(sse / math.max(1, n - p))
    val deltas = betaT.slice(2, pTrend)
    val deltaScale =
      if (deltas.isEmpty) 0.0
      else math.sqrt(deltas.map(d => d * d).sum / deltas.length)
    ProphetParams(tStart, tEnd, span, yScale, beta, cps, weekly, yearly,
      sigma, deltaScale, holidays, multiplicative = true)
  }

  /** Prophet-parity uncertainty band via seeded trend simulation [public:
    * Prophet's predictive_samples]: future changepoints arrive as a
    * Bernoulli-per-day process matching the historical changepoint rate,
    * with Laplace(0, mean|delta|) slope jumps; each path accumulates the
    * trend deviation, plus N(0, sigma) observation noise; the band is the
    * [10%, 90%] sample quantile (80% interval). Deterministic for a fixed
    * seed — derive the seed from (table, metric) for stable reruns.
    * In-sample days get the +/- z*sigma noise-only band, matching
    * Prophet's zero in-sample trend uncertainty.
    */
  def predictSimulatedBand(
      params: ProphetParams,
      days: Array[Long],
      seed: Long,
      nSims: Int = 300): Array[(Long, Double, Double, Double)] = {
    // deviations are simulated additively in standardized-y space; for
    // logistic growth the band must instead be transformed through the
    // sigmoid (predict does exactly that) — simulating there would need
    // log-odds-space paths, which Prophet itself doesn't do either
    require(params.growth == "linear",
      "predictSimulatedBand supports linear growth; logistic bands come " +
        "from predict's monotone-transformed analytic band")
    val rng = new scala.util.Random(seed)
    val sortedFuture = days.filter(_ > params.tEndDay).sorted
    val nFut = sortedFuture.length
    // historical changepoint rate per day; Laplace scale from fitted deltas
    val histDays = math.max(1.0, params.spanDays)
    val cpRate = if (histDays > 0) params.changepoints.length / histDays else 0.0
    val lap = math.max(params.deltaScale, 1e-12)
    def laplace(): Double = {
      val u = rng.nextDouble() - 0.5
      -lap * math.signum(u) * math.log(1 - 2 * math.abs(u))
    }
    // deviations(simIdx)(futIdx) in standardized-y space
    val deviations = Array.ofDim[Double](nSims, nFut)
    var s = 0
    while (s < nSims) {
      var slopeDelta = 0.0
      var dev = 0.0
      var i = 0
      while (i < nFut) {
        val stepDays =
          if (i == 0) (sortedFuture(0) - params.tEndDay).toDouble
          else (sortedFuture(i) - sortedFuture(i - 1)).toDouble
        var d = 0
        while (d < stepDays.toInt) {
          if (rng.nextDouble() < cpRate) slopeDelta += laplace()
          d += 1
        }
        dev += slopeDelta * (stepDays / params.spanDays)
        deviations(s)(i) = dev + params.sigma * rng.nextGaussian()
        i += 1
      }
      s += 1
    }
    val futIdx = sortedFuture.zipWithIndex.toMap
    val loQ = (nSims * 0.1).toInt
    val hiQ = math.min(nSims - 1, (nSims * 0.9).toInt)
    predict(params, days).map { case (d, yhat, aLo, aHi) =>
      futIdx.get(d) match {
        case Some(i) =>
          val samples = Array.tabulate(nSims)(s => deviations(s)(i)).sorted
          val lo = yhat + samples(loQ) * params.yScale
          val hi = yhat + samples(hiQ) * params.yScale
          (d, yhat, math.min(lo, yhat), math.max(hi, yhat))
        case None => (d, yhat, aLo, aHi) // in-sample: noise-only band
      }
    }
  }

  /** Deterministic predict with an 80% band. In-sample: +/- z*sigma. Future
    * days widen as sqrt(sigma^2 + (deltaScale * dt)^2) with dt the scaled
    * distance past the end of history — an analytic proxy for Prophet's
    * simulated future-changepoint trend uncertainty [public]. For closer
    * Prophet parity use [[predictSimulatedBand]].
    *
    * Growth/seasonality modes: multiplicative combines the beta halves as
    * g * (1 + s) (band still additive in standardized y); logistic maps
    * the standardized linear predictor AND its band endpoints through
    * floor + (cap - floor) * sigmoid — a monotone transform, so the
    * mapped endpoints are exactly the transformed quantiles and every
    * output lies inside (floor, cap).
    */
  def predict(params: ProphetParams, days: Array[Long]): Array[(Long, Double, Double, Double)] =
    days.zip(predictTimes(params, days.map(_.toDouble))).map {
      case (d, (_, yh, lo, hi)) => (d, yh, lo, hi)
    }

  /** [[predict]] at FRACTIONAL epoch-day times (sub-daily horizons). */
  def predictTimes(params: ProphetParams,
      times: Array[Double]): Array[(Double, Double, Double, Double)] = {
    val pTrend = 2 + params.changepoints.length
    times.map { d =>
      val rowArr = featureRow(d, params.tStartDay, params.spanDays,
        params.changepoints, params.weeklyEnabled, params.yearlyEnabled,
        params.holidays, params.dailyEnabled)
      val std =
        if (!params.multiplicative) dot(rowArr, params.beta)
        else {
          var g = 0.0
          var j = 0
          while (j < pTrend) { g += rowArr(j) * params.beta(j); j += 1 }
          var s = 0.0
          while (j < rowArr.length) { s += rowArr(j) * params.beta(j); j += 1 }
          g * (1.0 + s)
        }
      val dt = math.max(0.0, (d - params.tEndDay) / params.spanDays)
      val sd = math.sqrt(params.sigma * params.sigma +
        math.pow(params.deltaScale * dt, 2))
      val half = Z80 * sd
      if (params.growth == "logistic") {
        val width = params.cap - params.floor
        def toY(z: Double): Double =
          params.floor + width / (1.0 + math.exp(-z * params.yScale))
        (d, toY(std), toY(std - half), toY(std + half))
      } else {
        val yhat = std * params.yScale
        val h = half * params.yScale
        (d, yhat, yhat - h, yhat + h)
      }
    }
  }
}
