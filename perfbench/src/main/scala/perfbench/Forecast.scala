package perfbench

import java.io.{ByteArrayOutputStream, File, PrintStream}
import java.nio.file.Files

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.catalog.{ParquetCatalog, TableNames}
import graft.forecast.{ForecastEngine, ForecastOutput}
import graft.job.ForecastCli
import graft.series.SeriesOps

/** The traced run of the `many_tables` workload, `ForecastCli <db> 7`.
  * The timed runs launch the CLI as its own process (run.py).
  */
object ForecastBench {
  import Util._

  val Interval = 7

  private def cliArgs(dir: String): Array[String] = Array(dir, Interval.toString)

  private def outputDirs(dir: String): Seq[File] =
    Option(new File(dir).listFiles).toSeq.flatten
      .filter(f => TableNames.isJobOutput(f.getName.stripSuffix(".parquet"))).sortBy(_.getName)

  private def clean(dir: String): Unit = outputDirs(dir).foreach(deleteRecursively)

  /** One in-process CLI invocation (its summary line dropped); seconds. */
  private def cli(args: Array[String]): Double =
    time(Console.withOut(new PrintStream(new ByteArrayOutputStream()))(ForecastCli.main(args)))._2

  /** The catalog as the program sees it: {table -> numeric metrics}. */
  private def layout(spark: SparkSession, dir: String): Seq[(String, Seq[String])] = {
    val cat = new ParquetCatalog(spark, dir)
    cat.listTables().filterNot(TableNames.isJobOutput).map { t =>
      t -> SeriesOps.numericMetricColumns(SeriesOps.normalizeDate(cat.load(t)).schema)
    }
  }

  private def points(rows: Array[Row], m: String): Array[(Long, Double)] =
    rows.flatMap { r =>
      Option(r.getAs[Any](m)).map(v => (r.getAs[java.sql.Date]("date").toLocalDate.toEpochDay,
        v.asInstanceOf[Number].doubleValue))
    }.sortBy(_._1)

  /** `ForecastJob.run`, replayed step by step
    * through the same public layer functions in the job's order, with a
    * span around each layer call. Must stay in lockstep with the job: the
    * fidelity check compares its Spark job count and output bytes with an
    * untraced CLI run.
    */
  private def replay(o: Opts, tr: Tracer): Unit = {
    val spark = tr.span("job.session") {
      SparkSession.builder().appName("graft-forecast")
        .config("spark.sql.session.timeZone", "UTC").getOrCreate()
    }
    tr.attach(spark.sparkContext)
    val catalog = new ParquetCatalog(spark, o.dir)
    val rename: String => String = TableNames.forecastName
    val candidates = tr.span("job.introspect") {
      val eligible = tr.span("catalog.list")(catalog.listTables()).filterNot(TableNames.isJobOutput)
      val byOutput = eligible.groupBy(rename)
      eligible.filter(t => byOutput(rename(t)).head == t)
    }
    candidates.foreach { t =>
      tr.traceId = t
      tr.span("job.table") {
        val raw = tr.span("catalog.load")(catalog.load(t))
        if (raw.columns.contains("date")) {
          val (df, metrics) = tr.span("series.normalize") {
            val df = SeriesOps.normalizeDate(raw)
            (df, SeriesOps.numericMetricColumns(df.schema))
          }
          if (metrics.nonEmpty && !tr.span("series.isempty")(SeriesOps.isEmpty(df))) {
            val long = tr.span("series.normalize") {
              SeriesOps.melt(df, metrics).withColumn("table", lit(t))
            }
            val fc = tr.span("forecast.fit") {
              val fc = ForecastEngine.forecast(long, Interval, onlyFuture = false).cache()
              fc.select("metric").distinct().collect()
              fc
            }
            try {
              val wide = tr.span("forecast.pivot")(ForecastOutput.toWide(fc, metrics, Map.empty))
              tr.span("catalog.write") {
                catalog.tableExists(rename(t))
                catalog.writeTable(rename(t), wide, sortCol = "date")
              }
            } finally fc.unpersist()
          }
        }
      }
    }
    tr.traceId = ""
    tr.detach()
    tr.span("job.session")(spark.stop())
  }

  /** Part files of every output table, in part-number order. */
  private def partFiles(dir: String): Seq[(String, Array[Byte])] =
    outputDirs(dir).flatMap { d =>
      d.listFiles.filter(_.getName.startsWith("part-")).sortBy(_.getName).zipWithIndex.map {
        case (f, i) => s"${d.getName}#$i" -> Files.readAllBytes(f.toPath)
      }
    }

  /** Median ms of one `forecastSeries` fit+predict over sampled series. */
  private def kernelMs(series: Seq[(String, String, Array[(Long, Double)])]): Double =
    if (series.isEmpty) 0.0
    else median(series.map { case (t, m, pts) =>
      median((1 to 7).map { _ =>
        time(ForecastEngine.forecastSeries(t, m, pts, Interval, onlyFuture = false).toArray)._2 * 1e3
      }.drop(2))
    })

  def traced(o: Opts): collection.Map[String, Any] = {
    // an untraced CLI run before the replay (which also warms the JVM) and
    // one after it, counting only their jobs
    def untraced(): (Double, Long, Seq[(String, Array[Byte])]) = {
      clean(o.dir)
      val wall = cli(cliArgs(o.dir))
      (wall, JobCounter.jobs.get, partFiles(o.dir))
    }
    System.setProperty("spark.extraListeners", classOf[JobCounter].getName)
    val (_, cliJobs, reference) = untraced()
    System.clearProperty("spark.extraListeners")
    clean(o.dir)
    val tr = new Tracer
    val (_, tracedWall) = time(tr.span("workload")(replay(o, tr)))
    val replayed = partFiles(o.dir)
    def same(a: Seq[(String, Array[Byte])], b: Seq[(String, Array[Byte])]) =
      a.map(_._1) == b.map(_._1) &&
        a.zip(b).forall { case (x, y) => java.util.Arrays.equals(x._2, y._2) }
    val sameBytes = same(reference, replayed)
    val total = tr.total
    System.setProperty("spark.extraListeners", classOf[JobCounter].getName)
    val (after, cliJobsAfter, referenceAfter) = untraced()
    System.clearProperty("spark.extraListeners")
    val cliWall = after
    log(f"untraced CLI $after%.2f s, traced replay $tracedWall%.2f s")

    val spark = session("perfbench-trace")
    val cat = new ParquetCatalog(spark, o.dir)
    val tables = layout(spark, o.dir)
    val inputs = tables.map { case (t, ms) => (t, ms, SeriesOps.normalizeDate(cat.load(t)).collect()) }
    val meltRows = inputs.map { case (_, ms, rows) => rows.length.toLong * ms.size }.sum
    // one fit per series with a forecast
    val fits = inputs.map { case (t, ms, _) =>
      spark.read.parquet(cat.tablePath(TableNames.forecastName(t)))
        .select(ms.map(m => count(col(m))): _*).head().toSeq.count(_ != 0L).toLong
    }.sum
    val series = inputs.flatMap { case (t, ms, rows) => ms.map(m => (t, m, points(rows, m))) }
    val rng = new Random(o.seed)
    val (short, long) = series.partition(_._3.length < 365)
    val kShort = kernelMs(rng.shuffle(short).take(3))
    val kLong = kernelMs(rng.shuffle(long).take(3))
    spark.stop()

    val self = tr.selfByName
    val incl = tr.totalByName
    val perTable = tr.all.filter(_.name == "job.table").map { s =>
      val c = new Counters
      tr.all.filter(x => x.trace == s.trace).foreach(x => c.add(tr.own(x.id)))
      mutable.LinkedHashMap("table" -> s.trace, "seconds" -> s.seconds,
        "jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks)
    }
    val layerSelf = self.filter { case (n, _) => n != "workload" && n != "job.table" }.values.sum
    val wb = outputDirs(o.dir)
    val metrics = mutable.LinkedHashMap[String, Any](
      "catalog.list_s" -> incl.getOrElse("catalog.list", 0.0),
      "catalog.load_s" -> incl.getOrElse("catalog.load", 0.0),
      "catalog.write_s" -> incl.getOrElse("catalog.write", 0.0),
      "catalog.files_written" -> wb.map(_.listFiles.count(_.getName.startsWith("part-"))).sum.toDouble,
      "catalog.bytes_written" -> wb.map(dirBytes).sum.toDouble,
      "series.normalize_s" -> incl.getOrElse("series.normalize", 0.0),
      "series.isempty_s" -> incl.getOrElse("series.isempty", 0.0),
      "series.melt_rows" -> meltRows.toDouble,
      "forecast.fit_s" -> incl.getOrElse("forecast.fit", 0.0),
      "forecast.pivot_s" -> incl.getOrElse("forecast.pivot", 0.0),
      "forecast.fits" -> fits.toDouble,
      "forecast.kernel_ms_short" -> kShort,
      "forecast.kernel_ms_long" -> kLong,
      "job.session_s" -> incl.getOrElse("job.session", 0.0),
      "job.introspect_s" -> incl.getOrElse("job.introspect", 0.0),
      "job.tables" -> perTable.size.toDouble,
      "job.jobs_per_table" -> (if (perTable.isEmpty) 0.0 else median(perTable.map(_("jobs").asInstanceOf[Long].toDouble))),
      "job.tasks_per_table" -> (if (perTable.isEmpty) 0.0 else median(perTable.map(_("tasks").asInstanceOf[Long].toDouble))))
    metrics ++= total.metrics
    metrics ++= Seq(
      "trace.wall_s" -> tracedWall,
      "trace.untraced_wall_s" -> cliWall,
      "trace.overhead_s" -> (tracedWall - cliWall),
      "trace.coverage" -> layerSelf / tracedWall,
      "trace.replay_jobs" -> total.jobs.toDouble,
      "trace.cli_jobs" -> cliJobs.toDouble)
    val checks = Seq(
      Check("replay_job_count", total.jobs == cliJobs && cliJobs == cliJobsAfter,
        s"replay ${total.jobs} jobs, CLI $cliJobs and $cliJobsAfter"),
      Check("replay_bytes_identical", sameBytes && same(reference, referenceAfter),
        s"${replayed.size} replayed part files vs ${reference.size} from the CLI"))
    mutable.LinkedHashMap(
      "metrics" -> metrics,
      "attempted" -> (perTable.size + checks.size).toLong,
      "failed" -> checks.count(!_.ok).toLong,
      "checks" -> checks,
      "per_table" -> perTable,
      "self_s" -> self,
      "spans" -> tr.record)
  }
}
