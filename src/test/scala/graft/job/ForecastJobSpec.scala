package graft.job

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.catalog.ParquetCatalog
import graft.series.Bucketize
import graft.sources.Fixtures

/** End-to-end golden test (SURVEY.md §5.4): a temp catalog seeded with
  * bucket_events + bucket_orders + an unprefixed table, full job run,
  * schema/row-count/overwrite/bookkeeping assertions.
  */
class ForecastJobSpec extends SparkSpec {

  private def seedCatalog(): ParquetCatalog = {
    val cat = new ParquetCatalog(spark, tempDir("graftjob"))
    cat.writeTable("bucket_events", Bucketize.events(Fixtures.table(spark, sf0001, "events")))
    cat.writeTable("plain_sales", Bucketize.orders(Fixtures.table(spark, sf0001, "orders")))
    // a table the job must skip: no numeric metrics
    cat.writeTable("bucket_names_only",
      Fixtures.table(spark, sf0001, "region").withColumnRenamed("r_regionkey", "date"))
    cat
  }

  /** A table whose two part files disagree on each metric's type: it
    * loads, then fails when a plan reads the other file.
    */
  private def addBrokenTable(cat: ParquetCatalog): Unit = {
    val path = cat.tablePath("broken")
    val days = spark.range(30).select(
      date_add(lit("2024-01-01").cast("date"), col("id").cast("int")).as("date"),
      col("id").cast("double").as("x"))
    days.select(col("date"), col("x").as("a"), col("x").cast("string").as("b"))
      .coalesce(1).write.parquet(path)
    days.select(col("date"), col("x").cast("string").as("a"), col("x").as("b"))
      .coalesce(1).write.mode("append").parquet(path)
  }

  /** The loggers that print a failed task's stack trace: the executor's
    * ERROR and the task set's WARN, and for a failed write the writer's
    * and `Utils`' ERRORs. The runs quieted with these fail on purpose, and
    * the job's own ERROR line still records each failure.
    */
  private val taskFailureLoggers = Seq("org.apache.spark.executor.Executor",
    "org.apache.spark.scheduler.TaskSetManager",
    "org.apache.spark.sql.execution.datasources.FileFormatWriter", "org.apache.spark.util.Utils")

  test("full run: creates outputs, correct schema/rows, exact bookkeeping") {
    val cat = seedCatalog()
    val persistedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val scopeBefore = graft.operators.CacheScope.trackedCount(spark)
    val summary = new ForecastJob(cat, interval = 7).run()

    assert(summary.created.toSet ==
      Set("bucket_forecast_events", "bucket_forecast_plain_sales"))
    assert(summary.successful.toSet == Set("bucket_events", "plain_sales"))
    assert(summary.failedSeries.isEmpty)

    val out = cat.load("bucket_forecast_events")
    assert(out.columns.toSeq == Seq("date",
      "event_count", "event_count_min", "event_count_max",
      "value_sum", "value_sum_min", "value_sum_max",
      "active_users", "active_users_min", "active_users_max"))
    val nHist = cat.load("bucket_events").count()
    assert(out.count() == nHist + 7)
    // per-row band invariant on a real metric
    assert(out.filter(col("value_sum_min") > col("value_sum")).count() == 0)
    // cache hygiene (eachTable scaladoc): every job-path cache() is paired
    // with a try/finally unpersist, so no cached frame survives the run —
    // the job registers nothing with CacheScope and adds no persistent
    // RDD blocks beyond whatever the shared test session already held
    assert(graft.operators.CacheScope.trackedCount(spark) == scopeBefore,
      "the job path must not register frames with CacheScope")
    assert(spark.sparkContext.getPersistentRDDs.keySet
      .subsetOf(persistedBefore),
      "a completed run must leave no new cached frames behind")
  }

  test("backtest: writes bucket_backtest_<t> metrics tables, skips short/ineligible, reruns don't re-ingest outputs") {
    val cat = seedCatalog()
    val summary = new ForecastJob(cat, interval = 7)
      .backtest(horizon = 7, period = 3, initial = 14)
    assert(summary.created.toSet ==
      Set("bucket_backtest_events", "bucket_backtest_plain_sales"))
    assert(summary.successful.toSet == Set("bucket_events", "plain_sales"))
    assert(summary.skipped.exists(_._1 == "bucket_names_only"))

    val bt = cat.load("bucket_backtest_events")
    assert(bt.columns.toSeq ==
      Seq("metric", "cutoff", "n", "mae", "rmse", "coverage", "mae_naive"))
    // 30-day fixture, horizon 7, period 3, initial 14 -> 4 cutoffs x 3 metrics
    assert(bt.count() == 12, s"got ${bt.count()} rows")
    assert(bt.filter(col("rmse") < col("mae")).count() == 0)
    assert(bt.filter(col("coverage") < 0 || col("coverage") > 1).count() == 0)

    // a second run must classify outputs as updates AND must not try to
    // backtest the bucket_backtest_/bucket_forecast_ outputs themselves
    new ForecastJob(cat, 7).run() // create forecast outputs too
    val s2 = new ForecastJob(cat, 7).backtest(7, 3, 14)
    assert(s2.created.isEmpty)
    assert(s2.updated.toSet ==
      Set("bucket_backtest_events", "bucket_backtest_plain_sales"))
    assert(!s2.successful.exists(t =>
      t.startsWith("bucket_backtest_") || t.startsWith("bucket_forecast_")))
  }

  test("backtest: a history shorter than initial + horizon is skipped with its reason, and the earlier output stays") {
    val cat = new ParquetCatalog(spark, tempDir("graftshort"))
    def days(n: Int) = spark.range(n).select(
      date_add(lit("2024-01-01").cast("date"), col("id").cast("int")).as("date"),
      (col("id") * 2.5 + 1.0).as("x"))
    cat.writeTable("bucket_short", days(30))
    val first = new ForecastJob(cat, interval = 7).backtest(horizon = 7, period = 3, initial = 14)
    assert(first.created == Seq("bucket_backtest_short"))
    def output() = cat.load("bucket_backtest_short").collect().map(_.toString).sorted.toSeq
    val before = output()
    assert(before.nonEmpty)

    // 15 days leave no cutoff with 14 days of history before it and 7 after
    cat.writeTable("bucket_short", days(15))
    val s = new ForecastJob(cat, interval = 7).backtest(horizon = 7, period = 3, initial = 14)
    assert(s.skipped == Seq("bucket_short" -> "history shorter than initial=14 + horizon=7"))
    assert(s.failedSeries.isEmpty)
    assert(s.created.isEmpty && s.updated.isEmpty && s.successful.isEmpty)
    assert(output() == before, "a skipped table keeps its earlier output")
  }

  test("rerun overwrites: outputs land in updated, row counts stable") {
    val cat = seedCatalog()
    new ForecastJob(cat, 7).run()
    val n1 = cat.load("bucket_forecast_events").count()
    val s2 = new ForecastJob(cat, 7).run()
    assert(s2.created.isEmpty)
    assert(s2.updated.toSet ==
      Set("bucket_forecast_events", "bucket_forecast_plain_sales"))
    assert(cat.load("bucket_forecast_events").count() == n1)
  }

  test("specificTables is exact-match (fs:231 substring quirk not ported)") {
    val cat = seedCatalog()
    // 'sales' is a substring of plain_sales; the reference would match it
    val s = new ForecastJob(cat, 7, specificTables = Some(Set("sales"))).run()
    assert(s.created.isEmpty && s.successful.isEmpty)
    val s2 = new ForecastJob(cat, 7, specificTables = Some(Set("plain_sales"))).run()
    assert(s2.created == Seq("bucket_forecast_plain_sales"))
  }

  test("forecast outputs are themselves skipped on rerun (fs:234)") {
    val cat = seedCatalog()
    new ForecastJob(cat, 7).run()
    val s2 = new ForecastJob(cat, 7).run()
    // no bucket_forecast_forecast_* tables appear
    assert(cat.listTables().forall(!_.startsWith("bucket_forecast_forecast")))
    assert(!s2.successful.exists(_.startsWith("bucket_forecast_")))
  }

  test("bucket_x vs x output-name collision: first runs, second is skipped") {
    val cat = new ParquetCatalog(spark, tempDir("graftcoll"))
    val b = Bucketize.events(Fixtures.table(spark, sf0001, "events"))
    cat.writeTable("bucket_sales", b)
    cat.writeTable("sales", b)
    val s = new ForecastJob(cat, 7).run()
    assert(s.created == Seq("bucket_forecast_sales"))
    assert(s.skipped.exists { case (t, reason) =>
      t == "sales" && reason.contains("collides")
    })
  }

  test("parityTypes casts forecast columns back to source metric types (fs:135)") {
    import org.apache.spark.sql.types.{DoubleType, LongType}
    val cat = seedCatalog()
    new ForecastJob(cat, 7, parityTypes = true).run()
    val s = cat.load("bucket_forecast_events").schema
    // event_count/active_users are long in the source buckets -> long out
    assert(s("event_count").dataType == LongType)
    assert(s("event_count_min").dataType == LongType)
    assert(s("active_users_max").dataType == LongType)
    // value_sum is double in the source -> stays double
    assert(s("value_sum").dataType == DoubleType)
    // default (SURVEY §7.6): everything double
    val cat2 = seedCatalog()
    new ForecastJob(cat2, 7).run()
    assert(cat2.load("bucket_forecast_events").schema("event_count").dataType == DoubleType)
  }

  test("per-table fault isolation: a table that fails at execution is recorded, the rest are written") {
    // part files that disagree on each metric's type (double in one file,
    // string in the other): the table loads with the schema of whichever
    // footer Spark reads first, keeps one numeric metric either way, and
    // fails only when a plan reads that metric from the other file
    def seedWithBrokenTable(): ParquetCatalog = {
      val cat = seedCatalog()
      addBrokenTable(cat)
      cat
    }
    val cat = seedWithBrokenTable()
    val s = quietLoggers(taskFailureLoggers: _*)(new ForecastJob(cat, 7).run())
    assert(s.created.toSet == Set("bucket_forecast_events", "bucket_forecast_plain_sales"))
    assert(s.failedSeries == Seq("broken" -> "*"))
    assert(!cat.tableExists("bucket_forecast_broken"))

    val cat2 = seedWithBrokenTable()
    val b = quietLoggers(taskFailureLoggers: _*)(new ForecastJob(cat2, 7).backtest(horizon = 7, period = 3, initial = 14))
    assert(b.created.toSet == Set("bucket_backtest_events", "bucket_backtest_plain_sales"))
    assert(b.failedSeries == Seq("broken" -> "*"))
    assert(!cat2.tableExists("bucket_backtest_broken"))
  }

  test("a failed refresh keeps the previous output") {
    val cat = new ParquetCatalog(spark, tempDir("graftrefresh"))
    // an int metric climbing towards Int.MaxValue: its double forecast is
    // written fine, its int-typed (parityTypes) forecast overflows the
    // cast under ANSI while the output is being written
    cat.writeTable("bucket_climb", spark.range(30).select(
      date_add(lit("2024-01-01").cast("date"), col("id").cast("int")).as("date"),
      (lit(1900000000) + col("id").cast("int") * 8000000).as("n")))
    val first = new ForecastJob(cat, interval = 7).run()
    assert(first.created == Seq("bucket_forecast_climb"))
    def output() = cat.load("bucket_forecast_climb").collect().map(_.toString).sorted.toSeq
    val before = output()
    val tables = cat.listTables()
    val ansi = "spark.sql.ansi.enabled"
    val saved = spark.conf.get(ansi)
    spark.conf.set(ansi, "true")
    val failed =
      try quietLoggers(taskFailureLoggers: _*)(new ForecastJob(cat, interval = 7, parityTypes = true).run())
      finally spark.conf.set(ansi, saved)
    assert(failed.failedSeries == Seq("bucket_climb" -> "*"))
    assert(failed.updated.isEmpty && failed.successful.isEmpty)
    assert(output() == before, "the previous output must survive a failed refresh")
    assert(cat.listTables() == tables)
    assert(!new java.io.File(cat.root, "bucket_forecast_climb.staging").exists(),
      "the failed write's staging directory is removed")
  }

  test("only-future output has exactly interval rows per table") {
    val cat = seedCatalog()
    new ForecastJob(cat, 7, onlyFuture = true).run()
    assert(cat.load("bucket_forecast_events").count() == 7)
  }

  test("task budget: the fit follows the task slots, not the session's " +
    "shuffle width, with the same jobs and the same output") {
    import java.util.concurrent.atomic.AtomicInteger
    import org.apache.spark.graft.ListenerBridge
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
    val sc = spark.sparkContext
    val key = "spark.sql.shuffle.partitions"
    // (jobs per table, tasks per table, sorted rows of every output);
    // the skipped table's jobs are charged to the written ones
    def runAt(width: Int): (Double, Double, Map[String, Seq[String]]) = {
      val cat = seedCatalog()
      val jobs = new AtomicInteger
      val tasks = new AtomicInteger
      val counter = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
        override def onTaskEnd(e: SparkListenerTaskEnd): Unit = tasks.incrementAndGet()
      }
      val saved = spark.conf.get(key)
      spark.conf.set(key, width.toString)
      ListenerBridge.waitUntilListenerBusEmpty(sc) // seeding's events are not counted
      sc.addSparkListener(counter)
      val summary =
        try new ForecastJob(cat, interval = 7).run()
        finally {
          ListenerBridge.waitUntilListenerBusEmpty(sc)
          sc.removeSparkListener(counter)
          spark.conf.set(key, saved)
        }
      val written = summary.created
      assert(written.size == 2)
      (jobs.get.toDouble / written.size, tasks.get.toDouble / written.size,
        written.map(n => n -> cat.load(n).collect().map(_.toString).sorted.toSeq).toMap)
    }
    val (jobsWide, tasksWide, outWide) = runAt(200)
    val (jobsNarrow, tasksNarrow, outNarrow) = runAt(4)
    assert(jobsWide == jobsNarrow, s"jobs per table: $jobsWide at 200, $jobsNarrow at 4")
    val budget = 5 * sc.defaultParallelism + 10
    assert(tasksWide <= budget && tasksNarrow <= budget,
      s"tasks per table: $tasksWide at 200, $tasksNarrow at 4, budget $budget")
    assert(outWide == outNarrow)
  }

  test("tables run concurrently: each job carries its table's description, " +
    "tables overlap, the summary keeps table order and isolation") {
    import scala.collection.concurrent.TrieMap
    import org.apache.spark.graft.ListenerBridge
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
    val Description = "spark.job.description"
    val sc = spark.sparkContext
    val cat = seedCatalog()
    addBrokenTable(cat)
    val started = TrieMap[Int, (String, Long)]()
    val ended = TrieMap[Int, Long]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        started(e.jobId) = (e.properties.getProperty(Description), e.time)
      override def onJobEnd(e: SparkListenerJobEnd): Unit = ended(e.jobId) = e.time
    }
    ListenerBridge.waitUntilListenerBusEmpty(sc) // seeding's jobs are not counted
    sc.addSparkListener(listener)
    val s =
      try quietLoggers(taskFailureLoggers: _*)(new ForecastJob(cat, interval = 7).run())
      finally {
        ListenerBridge.waitUntilListenerBusEmpty(sc)
        sc.removeSparkListener(listener)
      }

    val tables = Seq("broken", "bucket_events", "bucket_names_only", "plain_sales")
    assert(started.nonEmpty && started.values.forall { case (d, _) =>
      tables.map("forecast " + _).contains(d)
    }, s"job descriptions: ${started.values.map(_._1).toSet}")
    assert(sc.getLocalProperty(Description) == null,
      "the caller's thread keeps no table description")
    val spans = started.toSeq.groupBy(_._2._1).map { case (d, jobs) =>
      d -> (jobs.map(_._2._2).min, jobs.map(j => ended(j._1)).max)
    }
    assert(spans.contains("forecast bucket_events") && spans.contains("forecast plain_sales"))
    if (sc.defaultParallelism >= 2) {
      val overlapping = spans.toSeq.combinations(2).exists { case Seq((_, (s1, e1)), (_, (s2, e2))) =>
        s1 < e2 && s2 < e1
      }
      assert(overlapping, s"no two tables ran at once: $spans")
    }
    assert(s.created == Seq("bucket_forecast_events", "bucket_forecast_plain_sales"))
    assert(s.successful == Seq("bucket_events", "plain_sales"))
    assert(s.skipped == Seq("bucket_names_only" -> "no numeric metric columns"))
    assert(s.failedSeries == Seq("broken" -> "*"))
    assert(!cat.tableExists("bucket_forecast_broken"))
  }
}
