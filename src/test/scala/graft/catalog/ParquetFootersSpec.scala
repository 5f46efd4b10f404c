package graft.catalog

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.Fixtures

class ParquetFootersSpec extends SparkSpec {

  /** The footer read starts no job and gives the frame Spark's inference
    * gives: same schema, same rows.
    */
  private def assertParity(path: String): Unit = {
    val (opened, jobs) = withJobCount(ParquetFooters.read(spark, path).schema)
    assert(jobs == 0, s"$path: the footer read started $jobs jobs")
    val inferred = spark.read.parquet(path)
    assert(opened == inferred.schema, path)
    assert(ParquetFooters.read(spark, path).collect().map(_.toString).sorted sameElements
      inferred.collect().map(_.toString).sorted, path)
  }

  /** A table written the way Spark writes one: `parts` part files,
    * `_SUCCESS`, the schema in the row-metadata key; date, timestamp,
    * decimal, array and struct columns.
    */
  private def sparkTable(path: String, parts: Int): Unit =
    spark.range(40).select(
      col("id"),
      date_add(lit("2024-01-01").cast("date"), col("id").cast("int")).as("date"),
      timestamp_micros(col("id") * 1000000L).as("ts"),
      col("id").cast("decimal(12,2)").as("amount"),
      array(col("id"), col("id") + 1).as("pair"),
      struct(col("id").as("k"), col("id").cast("string").as("v")).as("kv"))
      .repartition(parts).write.parquet(path)

  test("footer schema equals Spark's inferred schema on every fixture table") {
    // under the confs Fixtures.table sets before it reads
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    for (dir <- Seq(sf0001, sf001); t <- Fixtures.TableNames)
      assertParity(s"$dir/$t.parquet")
  }

  test("Spark-written tables: part files, summary files and part files " +
    "that disagree keep Spark's schema") {
    val many = s"${tempDir("footers")}/many.parquet"
    sparkTable(many, 3)
    assertParity(many)

    // `_common_metadata` and `_metadata` are read before any data file
    val summarized = s"${tempDir("footers")}/summarized.parquet"
    spark.range(10).select(col("id"), col("id").cast("string").as("s"))
      .repartition(2).write.option("parquet.summary.metadata.level", "ALL").parquet(summarized)
    assert(new java.io.File(summarized, "_common_metadata").exists(), "precondition")
    assertParity(summarized)

    // conflicting part files: the first by sorted path decides, as in
    // Spark's inference (reading both would fail)
    val broken = s"${tempDir("footers")}/broken.parquet"
    val x = spark.range(5).select(col("id").cast("double").as("x"))
    x.select(col("x").as("a"), col("x").cast("string").as("b")).coalesce(1).write.parquet(broken)
    x.select(col("x").cast("string").as("a"), col("x").as("b"))
      .coalesce(1).write.mode("append").parquet(broken)
    assert(ParquetFooters.read(spark, broken).schema == spark.read.parquet(broken).schema)
  }

  test("falls back to Spark's inference where one footer does not decide the schema") {
    val partitioned = s"${tempDir("footers")}/partitioned.parquet"
    spark.range(6).select(col("id"), (col("id") % 2).as("k"))
      .write.partitionBy("k").parquet(partitioned)
    assert(ParquetFooters.schemaOf(spark, partitioned).isEmpty)
    assert(ParquetFooters.read(spark, partitioned).schema == spark.read.parquet(partitioned).schema)

    val many = s"${tempDir("footers")}/many.parquet"
    sparkTable(many, 2)
    val key = "spark.sql.parquet.mergeSchema"
    spark.conf.set(key, "true")
    try assert(ParquetFooters.schemaOf(spark, many).isEmpty)
    finally spark.conf.unset(key)
    assert(ParquetFooters.schemaOf(spark, many).nonEmpty)

    // no data file, or no path: Spark's own error, unchanged
    val noData = s"${tempDir("footers")}/nodata.parquet"
    new java.io.File(noData).mkdirs()
    new java.io.File(noData, "_SUCCESS").createNewFile()
    // (the missing path's reads each log a WARN with a full stack trace)
    for (p <- Seq(noData, s"${tempDir("footers")}/missing.parquet"))
      quietLoggers("org.apache.spark.sql.execution.streaming.sinks.FileStreamSink") {
        assert(ParquetFooters.schemaOf(spark, p).isEmpty, p)
        val ours = intercept[AnalysisException](ParquetFooters.read(spark, p))
        val spark0 = intercept[AnalysisException](spark.read.parquet(p))
        assert(ours.getMessage == spark0.getMessage, p)
      }
  }

  test("opening tables starts no Spark job: catalog load and schemaOf, " +
    "fixture tables and registerAll") {
    val cat = new ParquetCatalog(spark, sf0001)
    val (_, loadJobs) = withJobCount {
      cat.load("orders").columns
      cat.schemaOf("lineitem")
      Fixtures.table(spark, sf0001, "events").schema
      Fixtures.registerAll(spark, sf0001)
    }
    assert(loadJobs == 0)
    // the job each of them used to start
    val (_, inferJobs) = withJobCount(spark.read.parquet(cat.tablePath("orders")).schema)
    assert(inferJobs == 1)
    assert(spark.table("orders").count() == cat.load("orders").count())
  }
}
