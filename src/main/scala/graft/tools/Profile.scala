package graft.tools

import scala.collection.mutable

import org.apache.spark.graft.ListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

import graft.{Harness, SparkEntry}

/** Dev tool: time registered queries `reps` times in one JVM with Bench's
  * session, data-sized tuning, consumption and hygiene, and count the
  * Spark work each run starts. Construction is inside the timed region,
  * because queries like `dedup_recall` do their work at construction (a
  * `count()` of the returned frame would time nothing). The first run
  * carries codegen/JIT warm-up; the later runs are the quiet floor, so run
  * it on an otherwise idle host.
  *
  * usage: runMain graft.tools.Profile <sfDir> <q1,q2,...> [time|stages|explain] [reps=3]
  *   - `time`: one line per run: total and construct seconds, then jobs,
  *     stages and tasks;
  *   - `stages`: adds one line per job and per stage (wall seconds, tasks,
  *     name), where inside the run the seconds go;
  *   - `explain`: prints each query's formatted physical plan once, then
  *     times it as `time` does.
  */
object Profile {
  private val Usage = "usage: Profile <sfDir> <q1,q2,...> [time|stages|explain] [reps=3]"

  def main(args: Array[String]): Unit = {
    require(args.length >= 2 && args.length <= 4, Usage)
    val sfDir = args(0)
    val names = args(1).split(",").map(_.trim).filter(_.nonEmpty)
    val mode = args.lift(2).getOrElse("time")
    require(Set("time", "stages", "explain")(mode), Usage)
    val reps = args.lift(3).fold(3)(_.toInt)
    val spark = Harness.session()
    Harness.tune(spark, sfDir)
    val sc = spark.sparkContext
    val counters = new Counters
    sc.addSparkListener(counters)
    for (name <- names) {
      val fn = SparkEntry.queries(name)
      if (mode == "explain") {
        fn(spark, sfDir).explain("formatted")
        Harness.release(spark)
      }
      for (i <- 1 to reps) {
        ListenerBridge.waitUntilListenerBusEmpty(sc) // earlier jobs are not counted
        counters.drain()
        val (df, construct) = Harness.time(fn(spark, sfDir))
        val (_, exec) = Harness.time(Harness.consume(df))
        ListenerBridge.waitUntilListenerBusEmpty(sc)
        val (counts, lines) = counters.drain()
        println(f"[profile] $name%-28s run$i ${construct + exec}%8.2fs " +
          f"construct=$construct%.2fs $counts")
        if (mode == "stages") lines.foreach(println)
        Harness.release(spark)
      }
    }
    sc.removeSparkListener(counters)
    spark.stop()
  }

  /** Jobs, stages and tasks completed since the last [[drain]], with one
    * line per job and per stage.
    */
  private final class Counters extends SparkListener {
    private val jobStarts = mutable.Map[Int, (Long, String)]()
    private val lines = mutable.ArrayBuffer[String]()
    private var stages, tasks = 0
    private var stageMs = 0L

    override def onJobStart(js: SparkListenerJobStart): Unit = synchronized {
      val desc = Option(js.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
      jobStarts(js.jobId) = (js.time, desc)
    }

    override def onJobEnd(je: SparkListenerJobEnd): Unit = synchronized {
      jobStarts.get(je.jobId).foreach { case (t0, desc) =>
        lines += f"    job ${je.jobId}%3d ${(je.time - t0) / 1000.0}%7.2fs  ${desc.take(80)}"
      }
    }

    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = synchronized {
      val si = sc.stageInfo
      for (s <- si.submissionTime; c <- si.completionTime) {
        stages += 1
        tasks += si.numTasks
        stageMs += c - s
        lines += f"    stage ${si.stageId}%3d ${(c - s) / 1000.0}%7.2fs " +
          f"tasks=${si.numTasks}%3d  ${si.name.take(100)}"
      }
    }

    /** The counts line and the job and stage lines so far; then starts over. */
    def drain(): (String, Seq[String]) = synchronized {
      val counts = f"jobs=${jobStarts.size} stages=$stages tasks=$tasks " +
        f"stageWall(sum)=${stageMs / 1000.0}%.2fs"
      val out = (counts, lines.sorted.toSeq)
      jobStarts.clear()
      lines.clear()
      stages = 0
      tasks = 0
      stageMs = 0L
      out
    }
  }
}
