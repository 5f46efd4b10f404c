package perfbench

import java.lang.management.ManagementFactory
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.SparkSession

/** The in-JVM part of the benchmark: `perfbench.Main --key value ...`,
  * launched by `run.py`, which generates the inputs beforehand and grades
  * the result file afterwards. It times query_mix and makes the traced
  * runs; the timed forecast runs launch `graft.job.ForecastCli` directly.
  *
  *  - `--workload`  many_tables | query_mix
  *  - `--dir`       the seeded input (a parquet catalog or fixture dir)
  *  - `--work`      scratch directory for outputs
  *  - `--seconds`   how long the timed section runs
  *  - `--trace`     0: timed runs, no listener; 1: traced replay only
  *  - `--seed`      picks the sampled series / query order
  *  - `--out`       the JSON result file
  */
object Main {

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val o = Opts(opts)
    val result = (o.workload, o.trace) match {
      case ("query_mix", false) => QueryBench.timed(o)
      case ("query_mix", true) => QueryBench.traced(o)
      case (_, true) => ForecastBench.traced(o)
      case (w, _) => sys.error(s"$w is timed from outside: run.py launches ForecastCli itself")
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(o.out),
      Json.render(result).getBytes("UTF-8"))
    // Spark leaves non-daemon threads behind; the result is on disk
    sys.exit(0)
  }
}

final case class Opts(m: Map[String, String]) {
  def workload: String = m("workload")
  def dir: String = m("dir")
  def work: String = m("work")
  def seconds: Double = m("seconds").toDouble
  def trace: Boolean = m.getOrElse("trace", "0") == "1"
  def seed: Long = m("seed").toLong
  def out: String = m("out")
  def cores: Int = Runtime.getRuntime.availableProcessors
}

/** Outcome of one output check; failures count in `failed`. */
final case class Check(name: String, ok: Boolean, detail: String = "")

object Util {

  def now(): Long = System.nanoTime()

  def log(msg: String): Unit = System.err.println(f"[perfbench] ${sinceJvmStart()}%7.1f s  $msg")

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def time[A](f: => A): (A, Double) = { val t0 = now(); val a = f; (a, secs(t0)) }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of nothing")
    val s = xs.sorted.toIndexedSeq
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** Seconds from JVM start to now — the cold part of the first set-up. */
  def sinceJvmStart(): Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  /** Set-up time: three rounds of `round`, the first counted from JVM
    * start, reported as their median so one cold round cannot move it.
    */
  def setupRounds(round: () => Unit): (Double, Seq[Double]) = {
    val first = { round(); sinceJvmStart() }
    val rest = (1 to 2).map(_ => time(round())._2)
    val all = first +: rest
    log(s"set-up rounds ${all.map(x => f"$x%.2f").mkString(", ")} s")
    (median(all), all)
  }

  def dirBytes(f: java.io.File): Long =
    if (f.isFile) f.length
    else Option(f.listFiles).map(_.map(dirBytes).sum).getOrElse(0L)

  def deleteRecursively(f: java.io.File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteRecursively))
    f.delete()
    ()
  }

  /** The session the bench itself reads outputs with. */
  def session(name: String): SparkSession =
    SparkSession.builder().appName(name)
      .config("spark.sql.session.timeZone", "UTC").getOrCreate()
}

/** Peak heap in use after a collection over a timed section, as the 90th
  * percentile of the heap in use at the end of each GC (young or full),
  * so one collection that ran late cannot move it; it follows the
  * program's retained memory rather than eden sizing. `run.py` applies
  * the same rule to a `-Xlog:gc` file for the CLI processes.
  */
final class HeapWatch {
  private val samples = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
  private val listener = new NotificationListener {
    def handleNotification(n: Notification, handback: AnyRef): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        samples.add(info.getGcInfo.getMemoryUsageAfterGc.asScala.values.map(_.getUsed).sum)
      }
  }
  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala.collect {
    case e: NotificationEmitter => e
  }
  def start(): Unit = {
    System.gc()
    samples.add(ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
    emitters.foreach(_.addNotificationListener(listener, null, null))
  }
  def stopMb(): Double = {
    emitters.foreach(e => scala.util.Try(e.removeNotificationListener(listener)))
    Util.quantile(samples.asScala.map(_.toDouble).toSeq, 0.9) / (1024.0 * 1024.0)
  }
}

/** Minimal JSON rendering for the result file (maps, seqs, numbers,
  * strings, booleans).
  */
object Json {
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case c: Check => render(mutable.LinkedHashMap("name" -> c.name, "ok" -> c.ok, "detail" -> c.detail))
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
}
