package graft.job

import java.lang.management.ManagementFactory

import scala.util.control.NonFatal

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.types.{DataType, DoubleType, StringType}

import graft.catalog.ParquetCatalog
import graft.forecast.ForecastRow

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
  * Each run is a fresh JVM, and its cold start costs more than the job's
  * Spark work. So once the arguments are accepted, [[warmUp]] runs the
  * one-time initialisations that need no SparkContext on a second core
  * while the main thread builds the session; after the job, one INFO log
  * line (never stdout) reports the JVM's uptime, classes loaded, JIT time
  * and Janino compiles.
  *
  * Infra parity (SURVEY.md §2.8): I2 — the top-level catch mirrors the
  * reference's global excepthook (fs:76-79); I4 — wall-clock summary.
  * I1 — log rotation is deployment config: see conf/log4j2-graft.properties
  * for the 50MB x 3 RollingFileAppender matching fs:59-64.
  */
object ForecastCli {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass.getName.stripSuffix("$"))

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

  /** Starts one daemon thread, `graft-warm`, that runs the one-time
    * initialisations the job needs later and that need no SparkContext:
    * the class init of Catalyst's built-in function registry, the Scala
    * reflection and encoder classes (a [[ForecastRow]] serializer), and a
    * first Janino compile. Everything it builds is thrown away; it starts
    * no Spark job, touches no session and writes nothing. Its only effect
    * is that the main thread later finds these classes ready.
    */
  private[job] def warmUp(): Thread = {
    val t = new Thread(() =>
      try {
        FunctionRegistry.builtin.listFunction()
        ExpressionEncoder[ForecastRow]().resolveAndBind().createSerializer()
        UnsafeProjection.create(Array[DataType](StringType, DoubleType))
      } catch { case NonFatal(_) => () }, "graft-warm")
    t.setDaemon(true)
    t.start()
    t
  }

  /** This JVM's cold tax so far: uptime, classes loaded, JIT time and
    * Janino compiles (count and total ms).
    */
  private def coldTax(): String = {
    val jit = Option(ManagementFactory.getCompilationMXBean)
      .filter(_.isCompilationTimeMonitoringSupported)
      .fold("n/a")(b => s"${b.getTotalCompilationTime} ms")
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME
    f"cold tax: uptime ${ManagementFactory.getRuntimeMXBean.getUptime / 1000.0}%.1f s, " +
      s"classes loaded ${ManagementFactory.getClassLoadingMXBean.getTotalLoadedClassCount}, " +
      s"JIT $jit, Janino compiles ${compiles.getCount} in ${compiles.getSnapshot.getValues.sum} ms"
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args.toSeq) match {
      case Right(o) => o
      case Left(msg) =>
        System.err.println(msg)
        sys.exit(2)
    }
    warmUp() // beside the session's start-up below
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
        log.info(coldTax())
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
