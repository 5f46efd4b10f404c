package graft.tools

import org.apache.spark.sql.functions._

import graft.Harness
import graft.operators.Dedup
import graft.sources.Fixtures

/** Splits `dedup_incremental_indexed`'s end-to-end time into its two real
  * costs: the once-per-corpus-version INDEX BUILD and the nightly
  * DELTA QUERY — the number that amortizes at 100 TB is the second one.
  * The registered query (and `Scaling bench`) deliberately measures
  * build+query; this main provides the split for SCALING.md.
  *
  * Usage: runMain graft.tools.IncIndexBench [--delta <dir>] <sfDir> ...
  * Prints one JSON line: {"<dir>": {"build": s, "query": s}, ...} with
  * the query time the median of three runs against the prebuilt index.
  *
  * With `--delta`, the delta batch always comes from that directory while
  * the corpus comes from each <sfDir> — the production axis: a
  * fixed-size nightly crawl against a growing stored corpus, where the
  * delta-driven design predicts near-flat query time.
  */
object IncIndexBench {

  def main(rawArgs: Array[String]): Unit = {
    val (deltaDir, args) = rawArgs.toSeq match {
      case "--delta" +: d +: rest => (Some(d), rest)
      case rest => (None, rest)
    }
    require(args.nonEmpty,
      "usage: IncIndexBench [--delta <dir>] <sfDir> [<sfDir> ...]")
    val spark = Harness.session()
    import Harness.time

    // warmup: a miniature build+query cycle, so one-time costs (catalog
    // init on the first saveAsTable, shingle-lambda codegen, shuffle
    // setup) don't inflate the first directory's numbers
    locally {
      Harness.tune(spark, args.head)
      val tiny = Fixtures.table(spark, args.head, "documents").limit(200)
      val root = java.nio.file.Files.createTempDirectory("incidx_warm").toString
      val cat = new graft.catalog.ParquetCatalog(spark, root)
      Dedup.buildIncrementalIndex(
        tiny.filter(pmod(col("doc_id"), lit(2)) === 0), cat, "warm_incidx")
      Dedup.incrementalIndexed(cat, "warm_incidx",
        tiny.filter(pmod(col("doc_id"), lit(2)) === 1))
        .write.mode("overwrite").format("noop").save()
      spark.sql("DROP TABLE IF EXISTS warm_incidx_norm")
      spark.sql("DROP TABLE IF EXISTS warm_incidx_postings")
    }

    val parts = args.map { dir =>
      Harness.tune(spark, dir)
      val docs = Fixtures.table(spark, dir, "documents")
      val corpus = docs.filter(pmod(col("doc_id"), lit(2)) === 0)
      val delta = deltaDir.fold(docs)(Fixtures.table(spark, _, "documents"))
        .filter(pmod(col("doc_id"), lit(2)) === 1)
      val root = java.nio.file.Files.createTempDirectory("incidx_bench").toString
      val cat = new graft.catalog.ParquetCatalog(spark, root)
      val (_, build) = time(Dedup.buildIncrementalIndex(corpus, cat, "bench_incidx"))
      val queries = (1 to 3).map { _ =>
        time {
          Dedup.incrementalIndexed(cat, "bench_incidx", delta)
            .write.mode("overwrite").format("noop").save()
        }._2
      }.sorted
      spark.sql("DROP TABLE IF EXISTS bench_incidx_norm")
      spark.sql("DROP TABLE IF EXISTS bench_incidx_postings")
      val name = dir.split('/').last
      f""""$name": {"build": ${build}%.2f, "query": ${queries(1)}%.2f}"""
    }
    // the driver greps stdout for one JSON line
    println(parts.mkString("{", ", ", "}"))
    spark.stop()
  }
}
