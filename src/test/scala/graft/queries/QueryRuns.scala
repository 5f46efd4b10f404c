package graft.queries

import scala.collection.concurrent.TrieMap
import scala.util.Try

import org.apache.spark.sql.SparkSession

import graft.{Harness, SparkEntry}
import graft.operators.CacheScope

/** One run of each registered query per test JVM, shared by the two
  * suites that check it: QueriesSmokeSpec asserts its rows and
  * CacheHygieneSpec its cache release. Whichever test asks first makes
  * the run, so each suite (and `-z <name>`) still works alone, and a
  * full Tier-1 runs every query once instead of once per suite.
  */
object QueryRuns {

  /** The rows a query returned, counted over every column by
    * [[Harness.consume]], and the cache entries that outlived
    * `CacheScope.release`.
    */
  final case class Run(rows: Long, leaked: Seq[String])

  private val runs = TrieMap.empty[(String, String), Try[Run]]

  def run(spark: SparkSession, dir: String, name: String): Run =
    runs.getOrElseUpdate((dir, name), Try(runAndRelease(spark, dir, name))).get

  /** Build the query, materialize it, release its caches, list the
    * persistent RDDs that are not checkpointed, then clear the stragglers.
    */
  private def runAndRelease(spark: SparkSession, dir: String, name: String): Run = {
    val rows = Harness.consume(SparkEntry.queries(name)(spark, dir))
    CacheScope.release(spark)
    val leaked = spark.sparkContext.getPersistentRDDs.values
      .filterNot(_.isCheckpointed)
      .map(r => s"RDD ${r.id} [${r.getStorageLevel.description}] $r")
      .toSeq
    // drop any stragglers so one query's leak can't cascade into the next
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .filterNot(_.isCheckpointed).foreach(_.unpersist(false))
    Run(rows, leaked)
  }
}
