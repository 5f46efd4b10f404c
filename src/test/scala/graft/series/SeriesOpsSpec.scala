package graft.series

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import graft.SparkSpec

class SeriesOpsSpec extends SparkSpec {

  /** bucket_mixed_types fixture (FIXTURES.md §B). */
  private val mixedSchema = StructType(Seq(
    StructField("date", DateType),
    StructField("good_int", IntegerType),
    StructField("good_double", DoubleType),
    StructField("skip_str", StringType),
    StructField("skip_bool", BooleanType),
    StructField("skip_arr", ArrayType(IntegerType)),
    StructField("nullable_metric", DoubleType, nullable = true)))

  test("numericMetricColumns keeps numerics, skips date by name + non-numerics (C4)") {
    assert(SeriesOps.numericMetricColumns(mixedSchema) ==
      Seq("good_int", "good_double", "nullable_metric"))
  }

  test("numericMetricColumns skips a second date-typed column (documented divergence)") {
    val s = StructType(Seq(
      StructField("date", DateType), StructField("other_date", DateType),
      StructField("m", LongType)))
    assert(SeriesOps.numericMetricColumns(s) == Seq("m"))
  }

  test("melt produces (metric, ds, y) rows per metric per date") {
    import spark.implicits._
    val df = Seq(("2024-01-01", 1, 10.0), ("2024-01-02", 2, 20.0))
      .toDF("date", "a", "b")
    val m = SeriesOps.melt(SeriesOps.normalizeDate(df), Seq("a", "b"))
    assert(m.count() == 4)
    assert(m.columns.toSeq == Seq("metric", "ds", "y"))
    val row = m.filter($"metric" === "a" && $"ds" === "2024-01-01").head()
    assert(row.getAs[Double]("y") == 1.0)
    assert(m.schema("y").dataType == DoubleType)
  }

  test("melt escapes quotes and backticks in runtime-discovered column names") {
    import spark.implicits._
    val names = Seq("it's_count", "back`tick", "dotted.name", "with space")
    val df = Seq(("2024-01-01", 1.5, 2.5, 3.5, 4.5)).toDF("date" +: names: _*)
    val m = SeriesOps.melt(SeriesOps.normalizeDate(df), names)
    val rows = m.collect().map(r => r.getString(0) -> r.getDouble(2)).toSeq
    assert(rows == names.zip(Seq(1.5, 2.5, 3.5, 4.5)))
  }

  test("isEmpty answers an unfiltered parquet projection from its footers, " +
    "with no Spark job; a filtered frame still runs its job") {
    import spark.implicits._
    val cat = new graft.catalog.ParquetCatalog(spark,
      tempDir("isempty"))
    val rows = Seq(("2024-01-01", 1.0), ("2024-01-02", 2.0)).toDF("date", "m")
    cat.writeTable("full", rows)
    cat.writeTable("empty", rows.limit(0))
    val full = SeriesOps.normalizeDate(cat.load("full"))
    val empty = SeriesOps.normalizeDate(cat.load("empty"))
    assert(withJobCount(SeriesOps.isEmpty(full)) == (false, 0))
    assert(withJobCount(SeriesOps.isEmpty(empty)) == (true, 0))
    val (filtered, jobs) = withJobCount(SeriesOps.isEmpty(full.filter($"m" > 5.0)))
    assert(filtered && jobs >= 1)
    // not parquet: Spark answers
    assert(!SeriesOps.isEmpty(rows) && SeriesOps.isEmpty(rows.limit(0)))
  }

  test("scanSorted prunes to date + metrics and orders by date (S1)") {
    import spark.implicits._
    val df = Seq(("2024-01-02", 2, "x"), ("2024-01-01", 1, "y"))
      .toDF("date", "m", "junk")
    val out = SeriesOps.scanSorted(SeriesOps.normalizeDate(df), Seq("m"))
    assert(out.columns.toSeq == Seq("date", "m"))
    assert(out.collect().map(_.getInt(1)).toSeq == Seq(1, 2))
  }

  test("maxDate aggregate returns the last known date (R2)") {
    import spark.implicits._
    val df = SeriesOps.normalizeDate(
      Seq("2024-01-03", "2024-01-09", "2024-01-01").toDF("date"))
    assert(df.agg(SeriesOps.maxDate(df)).head().getDate(0).toString == "2024-01-09")
  }

  test("normalizeDate parses ISO strings like the reference's to_datetime (R1)") {
    import spark.implicits._
    val df = Seq("2024-03-05").toDF("date")
    val out = SeriesOps.normalizeDate(df)
    assert(out.schema("date").dataType == DateType)
    assert(out.head().getDate(0).toString == "2024-03-05")
  }

  test("gapFill materializes missing days and forward-fills per key") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val df = Seq(
      ("a", "2024-01-01", 1L), ("a", "2024-01-04", 4L),
      ("b", "2024-02-10", 7L))
      .toDF("k", "d", "n").withColumn("d", to_date($"d"))
    val out = SeriesOps.gapFill(df, "k", "d", "n")
      .orderBy("k", "d").collect()
      .map(r => (r.getString(0), r.getDate(1).toString,
        if (r.isNullAt(2)) None else Some(r.getLong(2)), r.getLong(3)))
    assert(out.toSeq == Seq(
      ("a", "2024-01-01", Some(1L), 1L),
      ("a", "2024-01-02", None, 1L),    // gap day: raw NULL, ffill carries
      ("a", "2024-01-03", None, 1L),
      ("a", "2024-01-04", Some(4L), 4L),
      ("b", "2024-02-10", Some(7L), 7L) // singleton key: spine = 1 day
    ))
  }

  test("bucketize events yields one row per day with the 3 metrics") {
    val b = Bucketize.events(graft.sources.Fixtures.table(spark, sf0001, "events"))
    assert(b.columns.toSeq == Seq("date", "event_count", "value_sum", "active_users"))
    val n = b.count()
    assert(n >= 28 && n <= 31) // ~30 days of events at sf0.001
  }
}
