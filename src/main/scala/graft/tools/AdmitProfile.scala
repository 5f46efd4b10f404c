package graft.tools

import org.apache.spark.sql.functions._

import graft.Harness
import graft.operators.Dedup
import graft.sources.Fixtures

/** Stage-level timing of the dedup_incremental_admit two-night cycle —
  * the profiling companion to [[IncIndexBench]] for the round-17
  * single-pass audit. Prints one line per stage (build / classify-n1 /
  * admit / classify-n2) so SCALING.md can attribute the end-to-end
  * number instead of guessing.
  *
  * Usage: runMain graft.tools.AdmitProfile <sfDir> [reps]
  */
object AdmitProfile {

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: AdmitProfile <sfDir> [reps]")
    val dir = args(0)
    val reps = if (args.length > 1) args(1).toInt else 2
    val spark = Harness.session()
    Harness.tune(spark, dir)
    import Harness.time

    (1 to reps).foreach { rep =>
      val docs = Fixtures.table(spark, dir, "documents")
      val root = java.nio.file.Files.createTempDirectory("admit_prof").toString
      val cat = new graft.catalog.ParquetCatalog(spark, root)
      val corpus = docs.filter(pmod(col("doc_id"), lit(3)) === 0)
      val night1 = docs.filter(pmod(col("doc_id"), lit(3)) === 1)
      val night2 = docs.filter(pmod(col("doc_id"), lit(3)) === 2)
      val (_, tBuild) = time(Dedup.buildIncrementalIndex(corpus, cat, "prof_admidx"))
      val (_, tN1) = time(cat.writeTable("prof_admidx_n1_status",
        Dedup.incrementalIndexed(cat, "prof_admidx", night1),
        sortCol = "doc_id"))
      val (_, tAdmit) = time(Dedup.admitToIncrementalIndex(cat, "prof_admidx",
        night1, cat.load("prof_admidx_n1_status")))
      val (_, tN2) = time(Dedup.incrementalIndexed(cat, "prof_admidx", night2)
        .write.mode("overwrite").format("noop").save())
      println(f"[admit] rep$rep build=$tBuild%.2f n1=$tN1%.2f " +
        f"admit=$tAdmit%.2f n2=$tN2%.2f " +
        f"total=${tBuild + tN1 + tAdmit + tN2}%.2f")
      spark.sql("DROP TABLE IF EXISTS prof_admidx_norm")
      spark.sql("DROP TABLE IF EXISTS prof_admidx_postings")
      Harness.release(spark)
    }
    spark.stop()
  }
}
