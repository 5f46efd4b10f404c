package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. The session and
  * its data-sized tuning are Bench's, so the graded results come from the
  * plans the bench times.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Harness.session()
    Harness.tune(spark, sfDir)
    new java.io.File(outDir).mkdirs()
    // Dev-only subset filter (SPARK_GRAFT_ONLY); the driver sets nothing,
    // so the full surface runs in grading.
    val selected = Harness.selected()
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // operators that persist internally (minhash sig, Jaccard inverted
      // index, IVF codebook, LSH buckets) must not leak blocks across
      // queries
      Harness.release(spark)
    }
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => selected.contains(k) }
      .map { case (k, v) => s"${Harness.jsonString(k)}: ${Harness.jsonString(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
