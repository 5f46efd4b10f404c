package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed region of the traced replay. `trace` groups the spans of one
  * table (job workloads) or one query (query_mix).
  */
final case class Span(id: Int, name: String, trace: String, parent: Int,
    start: Long, var end: Long = -1L) {
  def seconds: Double = (end - start) / 1e9
}

/** Spark runtime counters, summed over the jobs a span started. */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var emptyTasks = 0L
  var runNs = 0L
  var waitMs = 0L
  var gcMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L

  def add(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; emptyTasks += o.emptyTasks
    runNs += o.runNs; waitMs += o.waitMs; gcMs += o.gcMs
    shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite; spill += o.spill
  }

  def metrics: Seq[(String, Double)] = Seq(
    "spark.jobs" -> jobs.toDouble,
    "spark.stages" -> stages.toDouble,
    "spark.tasks" -> tasks.toDouble,
    "spark.task_run_s" -> runNs / 1e9,
    "spark.task_wait_s" -> waitMs / 1e3,
    "spark.gc_s" -> gcMs / 1e3,
    "spark.shuffle_read_bytes" -> shuffleRead.toDouble,
    "spark.shuffle_write_bytes" -> shuffleWrite.toDouble,
    "spark.spill_bytes" -> spill.toDouble,
    "spark.empty_task_frac" -> (if (tasks == 0) 0.0 else emptyTasks.toDouble / tasks))
}

/** Spans plus a SparkListener that charges every job, stage and task to
  * the innermost span open when the job started. The span id rides on a
  * SparkContext local property, so the attribution survives the listener
  * bus running on its own thread. Everything stays in memory until
  * [[record]].
  */
final class Tracer extends SparkListener {
  private val Key = "perfbench.span"
  private val spans = mutable.ArrayBuffer[Span]()
  private val stack = mutable.Stack[Int]()
  private val bySpan = mutable.Map[Int, Counters]()
  private val stageSpan = mutable.Map[Int, Int]()
  private var sc: Option[SparkContext] = None
  var traceId: String = ""

  def attach(ctx: SparkContext): Unit = { sc = Some(ctx); ctx.addSparkListener(this) }

  /** Wait until every event posted so far has reached this listener. */
  def drain(): Unit = sc.foreach(org.apache.spark.BusDrain.drain)

  def detach(): Unit = { drain(); sc.foreach(_.removeSparkListener(this)); sc = None }

  def span[A](name: String)(f: => A): A = {
    val s = Span(spans.size, name, traceId, stack.headOption.getOrElse(-1), System.nanoTime())
    spans += s
    stack.push(s.id)
    sc.foreach(_.setLocalProperty(Key, s.id.toString))
    try f
    finally {
      s.end = System.nanoTime()
      stack.pop()
      sc.foreach(_.setLocalProperty(Key, stack.headOption.map(_.toString).orNull))
    }
  }

  private def counters(span: Int): Counters = synchronized(bySpan.getOrElseUpdate(span, new Counters))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Key))).map(_.toInt).getOrElse(-1)
    counters(span).jobs += 1
    e.stageIds.foreach(stageSpan(_) = span)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    counters(stageSpan.getOrElse(e.stageInfo.stageId, -1)).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = counters(stageSpan.getOrElse(e.stageId, -1))
    c.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.runNs += m.executorRunTime * 1000000L
      c.gcMs += m.jvmGCTime
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      if (m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead == 0) c.emptyTasks += 1
      val info = e.taskInfo
      if (info != null && info.finishTime > 0) {
        val busy = m.executorRunTime + m.executorDeserializeTime + m.resultSerializationTime
        c.waitMs += math.max(0L, info.duration - busy - info.gettingResultTime)
      }
    }
  }

  def all: Seq[Span] = spans.toSeq

  /** Counters of one span alone (not its children). */
  def own(span: Int): Counters = synchronized(bySpan.getOrElse(span, new Counters))

  /** Counters of every span, plus jobs started outside any span. */
  def total: Counters = synchronized {
    val t = new Counters
    bySpan.values.foreach(t.add)
    t
  }

  /** A span's duration minus the time its direct children cover. */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.filter(_.parent == s.id).map(_.seconds).sum

  /** Summed self time per span name. */
  def selfByName: Map[String, Double] =
    spans.groupBy(_.name).map { case (n, ss) => n -> ss.map(selfSeconds).sum }

  /** Summed (inclusive) time per span name. */
  def totalByName: Map[String, Double] =
    spans.groupBy(_.name).map { case (n, ss) => n -> ss.map(_.seconds).sum }

  /** The spans, each with its own Spark counters, for the trace file. */
  def record: Seq[collection.Map[String, Any]] = spans.toSeq.map { s =>
    mutable.LinkedHashMap[String, Any](
      "id" -> s.id, "name" -> s.name, "trace" -> s.trace, "parent" -> s.parent,
      "start_ns" -> s.start, "end_ns" -> s.end, "self_s" -> selfSeconds(s)) ++
      own(s.id).metrics.toMap
  }
}

/** Counts the jobs of an untraced program run, for the replay fidelity
  * check; registered through `spark.extraListeners` only on traced runs.
  */
final class JobCounter extends SparkListener {
  JobCounter.jobs.set(0)
  override def onJobStart(e: SparkListenerJobStart): Unit = { JobCounter.jobs.incrementAndGet(); () }
}

object JobCounter {
  val jobs = new java.util.concurrent.atomic.AtomicLong(0)
}
