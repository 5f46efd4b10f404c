package graft.job

import org.apache.spark.sql.SparkSession

import graft.catalog.ParquetCatalog

/** CLI mirroring the reference's positional contract
  * (forecast_script.py:251-267, README.md:5-13):
  *
  *   graft.job.ForecastCli <db_dir> <interval> [specific_tables]
  *       [--only-future] [--parity-types] [--backtest]
  *
  * `db_dir` is a directory of parquet tables (the "database");
  * `interval` is the forecast horizon in days (0 writes history only,
  * like Prophet's `periods=0`); `specific_tables` is a
  * comma-separated allowlist matched EXACTLY (the reference's substring
  * quirk at fs:231 is not ported); `--only-future` keeps only
  * strictly-after-history rows (fs:176);
  * `--parity-types` casts forecast columns back to each metric's source
  * type (the reference's fs:135 type re-use — truncating for int metrics);
  * `--backtest` (beyond-reference) runs rolling-origin cross-validation
  * instead of forecasting, with Prophet's default cutoff spacing derived
  * from the horizon (initial = 3 x horizon, period = horizon / 2
  * [public: prophet diagnostics defaults]), writing
  * `bucket_backtest_<t>` metric tables; it needs an interval of at least 1.
  *
  * Arguments are checked before Spark starts: an unknown flag, a second
  * allowlist, or an interval the run cannot honour prints the usage text
  * and exits 2 instead of running nothing.
  *
  * Infra parity (SURVEY.md §2.8): I2 — the top-level catch mirrors the
  * reference's global excepthook (fs:76-79); I4 — wall-clock summary.
  * I1 — log rotation is deployment config: see conf/log4j2-graft.properties
  * for the 50MB x 3 RollingFileAppender matching fs:59-64.
  */
object ForecastCli {

  private val Flags = Seq("--only-future", "--parity-types", "--backtest")

  val Usage: String =
    "usage: ForecastCli <db_dir> <interval> [specific_tables] " + Flags.map(f => s"[$f]").mkString(" ")

  final case class Opts(
      dbDir: String,
      interval: Int,
      specificTables: Option[Set[String]],
      onlyFuture: Boolean,
      parityTypes: Boolean,
      backtest: Boolean)

  /** The command line as [[Opts]], or the reason it was refused followed
    * by the usage text. Pure: starts no Spark and reads no files.
    */
  def parse(args: Seq[String]): Either[String, Opts] = {
    val (flags, positional) = args.partition(_.startsWith("--"))
    def refuse(reason: String) = Left(s"$reason\n$Usage")
    flags.find(f => !Flags.contains(f)) match {
      case Some(f) => refuse(s"unknown option: $f")
      case None => positional match {
        case Seq(dbDir, rawInterval, rest @ _*) =>
          val backtest = flags.contains("--backtest")
          rawInterval.toIntOption match {
            case None => refuse(s"interval is not an integer: $rawInterval")
            case Some(n) if n < 0 => refuse(s"interval must not be negative: $n")
            case Some(0) if backtest => refuse("--backtest needs an interval of at least 1")
            case Some(_) if rest.size > 1 =>
              refuse(s"unexpected argument: ${rest(1)} (allowlist is one comma-separated list)")
            case Some(n) =>
              Right(Opts(dbDir, n,
                rest.headOption.map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet),
                onlyFuture = flags.contains("--only-future"),
                parityTypes = flags.contains("--parity-types"),
                backtest = backtest))
          }
        case _ => refuse("missing <db_dir> or <interval>")
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args.toSeq) match {
      case Right(o) => o
      case Left(msg) =>
        System.err.println(msg)
        sys.exit(2)
    }
    try {
      // spark-submit injects spark.master; fall back to local[*] when
      // launched as a plain JVM main (dev/test).
      val builder = SparkSession
        .builder()
        .appName("graft-forecast")
        .config("spark.sql.session.timeZone", "UTC")
      val spark =
        (if (sys.props.contains("spark.master")) builder
         else builder.master(sys.env.getOrElse("GRAFT_MASTER", "local[*]")))
          .getOrCreate()
      try {
        val job = new ForecastJob(new ParquetCatalog(spark, o.dbDir), o.interval,
          o.specificTables, o.onlyFuture, o.parityTypes)
        val summary =
          if (o.backtest)
            job.backtest(horizon = o.interval,
              period = math.max(1, o.interval / 2), initial = 3 * o.interval)
          else job.run()
        println(
          f"${if (o.backtest) "backtest" else "forecast"} run finished in ${summary.wallSeconds}%.1f s: " +
            s"successful=${summary.successful.size} created=${summary.created.size} " +
            s"updated=${summary.updated.size} skipped=${summary.skipped.size} " +
            s"failedSeries=${summary.failedSeries.size}")
      } finally spark.stop()
    } catch {
      case e: Throwable =>
        // global excepthook parity (fs:76-79): log, nonzero exit; the
        // exception's class is printed too, since some carry no message
        System.err.println(s"fatal: $e")
        sys.exit(1)
    }
  }
}
