package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.commons.io.FileUtils
import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.config.Configurator
import org.apache.spark.graft.ListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session: one per suite (lazy), UTC, small shuffle width. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSession
    .builder()
    .master("local[4]")
    .appName(getClass.getSimpleName)
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val sf0001 = "/root/testdata/sf0.001"
  val sf001 = "/root/testdata/sf0.01"

  private val tempDirs = new ConcurrentLinkedQueue[java.io.File]

  /** A new directory under the temp root whose name starts with `prefix`;
    * it is deleted, with everything in it, once the suite has run.
    */
  def tempDir(prefix: String): String = {
    val dir = Files.createTempDirectory(prefix).toFile
    tempDirs.add(dir)
    dir.getPath
  }

  override def afterAll(): Unit =
    try tempDirs.asScala.foreach(FileUtils.deleteQuietly)
    finally super.afterAll()

  /** `f` with the named log4j loggers switched off, then restored. For
    * runs that fail on purpose: their stack traces would otherwise bury a
    * real failure in the test log.
    */
  def quietLoggers[A](loggers: String*)(f: => A): A = {
    val saved = loggers.map(n => n -> LogManager.getLogger(n).getLevel)
    loggers.foreach(Configurator.setLevel(_, Level.OFF))
    try f
    finally saved.foreach { case (n, level) => Configurator.setLevel(n, level) }
  }

  /** `f`'s result and the number of Spark jobs it started. */
  def withJobCount[A](f: => A): (A, Int) = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    ListenerBridge.waitUntilListenerBusEmpty(sc) // earlier jobs are not counted
    sc.addSparkListener(counter)
    try {
      val a = f
      ListenerBridge.waitUntilListenerBusEmpty(sc)
      (a, jobs.get)
    } finally sc.removeSparkListener(counter)
  }
}
