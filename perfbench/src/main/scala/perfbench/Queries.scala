package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{bit_xor, col, xxhash64}

import graft.{SparkEntry, Tuning}
import graft.operators.CacheScope
import graft.sources.Fixtures

/** The `query_mix` workload: registry queries from `SparkEntry.queries`,
  * one after another in a seeded order, each consumed through the
  * xxhash64/bit_xor digest, under the session tuning `graft.Bench` applies.
  */
object QueryBench {
  import Util._

  /** Oracle-graded queries from five of the six registry modules, each
    * under a second at local[4] and sf0.01: the per-Spark-job fixed-cost
    * regime most of the registry runs in. ROADMAP item 4's job-count
    * leaders take 5-7 s each, and with two executions per run (verified
    * and timed) they would not fit the run budget.
    */
  val mix: Seq[String] = Seq("above_avg_qty", "max_date", "monthly_revenue",
    "sample_stratified", "scalar_functions", "text_repetition")

  /** `graft.Bench`'s session: its builder settings and tuning calls. */
  private def session(dir: String, cores: Int): SparkSession = {
    val spark = SparkSession.builder().appName("perfbench-queries")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.maxPlanStringLength", "1048576")
      .getOrCreate()
    spark.conf.set("spark.sql.shuffle.partitions", Tuning.shufflePartitionsFor(dir, cores).toString)
    Tuning.applySessionTuning(spark)
    Tuning.applyScanSpread(spark, dir, cores)
    spark
  }

  private def digestFrame(df: DataFrame): DataFrame =
    df.select(xxhash64(df.columns.toIndexedSeq.map(c => col(s"`$c`")): _*).as("h"))
      .agg(bit_xor(col("h")))

  private def digest(df: DataFrame): Long = {
    val r = digestFrame(df).collect().head
    if (r.isNullAt(0)) 0L else r.getLong(0)
  }

  private def release(spark: SparkSession): Unit = {
    CacheScope.release(spark)
    spark.catalog.clearCache()
  }

  /** One query, constructed and digested; (seconds, digest or error). */
  private def runOne(spark: SparkSession, dir: String, name: String): (Double, Either[String, Long]) = {
    val t0 = now()
    val r = try Right(digest(SparkEntry.queries(name)(spark, dir)))
    catch { case e: Throwable => Left(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}") }
    val s = secs(t0)
    release(spark)
    (s, r)
  }

  private def order(names: Seq[String], seed: Long, pass: Int): Seq[String] =
    new Random(seed * 1000003L + pass).shuffle(names.sorted)

  def timed(o: Opts): collection.Map[String, Any] = {
    var spark: SparkSession = null
    val (setupS, setupAll) = setupRounds { () =>
      if (spark != null) spark.stop()
      spark = session(o.dir, o.cores)
      Fixtures.registerAll(spark, o.dir)
    }
    // untimed: each query once, its result written for the DuckDB compare
    // and digested from the written files; this pass also warms the JVM
    val results = s"${o.work}/results"
    val verified = mutable.Map[String, Long]()
    val verifyErrors = mutable.LinkedHashMap[String, String]()
    mix.foreach { q =>
      try {
        SparkEntry.queries(q)(spark, o.dir).coalesce(1).write.mode("overwrite").parquet(s"$results/$q")
        verified(q) = digest(spark.read.parquet(s"$results/$q"))
      } catch { case e: Throwable => verifyErrors(q) = e.toString.take(300) }
      release(spark)
    }
    log(s"verified ${verified.size}/${mix.size} queries")

    val heap = new HeapWatch
    heap.start()
    val passes = ArrayBuffer[Double]()
    val latencies = mutable.LinkedHashMap[String, ArrayBuffer[Double]]()
    val digests = mutable.Map[String, mutable.Set[Long]]()
    val errors = mutable.LinkedHashMap[String, String]()
    var attempted = 0L
    var failed = 0L
    val deadline = now() + (o.seconds * 1e9).toLong
    while (passes.isEmpty || now() < deadline) {
      val t0 = now()
      order(mix, o.seed, passes.size).foreach { q =>
        val (s, r) = runOne(spark, o.dir, q)
        latencies.getOrElseUpdate(q, ArrayBuffer()) += s
        attempted += 1
        r match {
          case Right(d) => digests.getOrElseUpdate(q, mutable.Set()) += d
          case Left(e) => errors(q) = e; failed += 1
        }
      }
      passes += secs(t0)
      log(f"pass ${passes.size}: ${passes.last}%.2f s: " +
        latencies.map { case (q, ls) => f"$q ${ls.last}%.2f" }.mkString(", "))
    }
    val heapMb = heap.stopMb()
    val checks = mix.map { q =>
      val seen = digests.getOrElse(q, mutable.Set())
      verified.get(q) match {
        case Some(d) => Check(s"digest:$q", seen == mutable.Set(d),
          s"timed digests ${seen.mkString(",")}, verified $d")
        case None => Check(s"digest:$q", ok = false, verifyErrors.getOrElse(q, "not verified"))
      }
    }
    val outBytes = Util.dirBytes(new java.io.File(results)).toDouble
    val inBytes = Util.dirBytes(new java.io.File(o.dir)).toDouble
    java.nio.file.Files.write(java.nio.file.Paths.get(s"${o.work}/oracle_sql.json"),
      Json.render(SparkEntry.oracleSql.filter { case (k, _) => mix.contains(k) }).getBytes("UTF-8"))
    spark.stop()
    mutable.LinkedHashMap(
      "metrics" -> mutable.LinkedHashMap(
        "wall_s" -> median(passes.toSeq),
        "items_per_s" -> mix.size * passes.size / passes.sum,
        "op_p50_s" -> quantile(latencies.values.flatten.toSeq, 0.5),
        "op_p80_s" -> quantile(latencies.values.flatten.toSeq, 0.8),
        "setup_s" -> setupS,
        "heap_peak_mb" -> heapMb,
        "storage_ratio" -> outBytes / inBytes),
      "attempted" -> (attempted + checks.size),
      "failed" -> (failed + checks.count(!_.ok)),
      "checks" -> checks,
      "errors" -> errors,
      "detail" -> mutable.LinkedHashMap(
        "queries" -> mix.size, "passes_s" -> passes, "setup_rounds_s" -> setupAll,
        "latencies_s" -> latencies))
  }

  def traced(o: Opts): collection.Map[String, Any] = {
    val spark = session(o.dir, o.cores)
    Fixtures.registerAll(spark, o.dir)
    mix.foreach(q => runOne(spark, o.dir, q)) // warm-up

    val tr = new Tracer
    tr.attach(spark.sparkContext)
    var planS = 0.0
    val failures = ArrayBuffer[String]()
    val (_, tracedWall) = time(tr.span("workload") {
      order(mix, o.seed, 0).foreach { q =>
        tr.traceId = q
        try tr.span("query") {
          val df = tr.span("query.construct")(SparkEntry.queries(q)(spark, o.dir))
          val dig = tr.span("query.plan") {
            val d = digestFrame(df)
            d.queryExecution.executedPlan
            d
          }
          planS += dig.queryExecution.tracker.phases.values.map(_.durationMs).sum / 1e3
          tr.span("query.exec")(dig.collect())
        } catch { case e: Throwable => failures += s"$q: $e" }
        tr.span("query.release")(release(spark))
      }
    })
    tr.detach()
    // an untraced pass after the traced one, for the overhead
    val (_, untraced) = time(order(mix, o.seed, 0).foreach(q => runOne(spark, o.dir, q)))
    log(f"untraced pass $untraced%.2f s, traced pass $tracedWall%.2f s")
    spark.stop()

    val incl = tr.totalByName
    val constructJobs = tr.all.filter(_.name == "query.construct").map(s => tr.own(s.id).jobs).sum
    val layerSelf = tr.selfByName.filter { case (n, _) => n != "workload" && n != "query" }.values.sum
    val metrics = mutable.LinkedHashMap[String, Any]()
    metrics ++= Seq(
      "query.construct_s" -> incl.getOrElse("query.construct", 0.0),
      "query.construct_jobs" -> constructJobs.toDouble,
      "query.plan_s" -> planS,
      "query.exec_s" -> incl.getOrElse("query.exec", 0.0))
    metrics ++= tr.total.metrics
    metrics ++= Seq(
      "trace.wall_s" -> tracedWall,
      "trace.untraced_wall_s" -> untraced,
      "trace.overhead_s" -> (tracedWall - untraced),
      "trace.coverage" -> layerSelf / tracedWall,
      "trace.replay_jobs" -> tr.total.jobs.toDouble)
    val perQuery = tr.all.filter(_.name == "query").map { s =>
      val c = new Counters
      tr.all.filter(_.trace == s.trace).foreach(x => c.add(tr.own(x.id)))
      mutable.LinkedHashMap("query" -> s.trace, "seconds" -> s.seconds,
        "jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks,
        "shuffle_bytes" -> (c.shuffleRead + c.shuffleWrite))
    }
    mutable.LinkedHashMap(
      "metrics" -> metrics,
      "attempted" -> mix.size.toLong,
      "failed" -> failures.size.toLong,
      "checks" -> failures.map(f => Check("traced_query", ok = false, f)),
      "per_query" -> perQuery,
      "self_s" -> tr.selfByName,
      "spans" -> tr.record)
  }
}
