package graft.catalog

import graft.SparkSpec

class NameRewriteSpec extends SparkSpec {
  test("prefixed source strips one bucket_ (fs:121-124)") {
    assert(TableNames.forecastName("bucket_bounce_rate") == "bucket_forecast_bounce_rate")
  }
  test("unprefixed source keeps full name — reference fs:156 bug not ported") {
    assert(TableNames.forecastName("plain_sales") == "bucket_forecast_plain_sales")
  }
  test("no double prefix") {
    assert(TableNames.forecastName("bucket_forecast_x") == "bucket_forecast_forecast_x")
    assert(TableNames.isForecastOutput("bucket_forecast_x"))
    assert(!TableNames.isForecastOutput("bucket_x"))
  }
}

class CatalogSpec extends SparkSpec {
  test("listTables sees the fixture tables") {
    val cat = new ParquetCatalog(spark, sf0001)
    val tables = cat.listTables()
    assert(tables.contains("lineitem") && tables.contains("events"))
    assert(tables == tables.sorted)
  }
  test("tableExists / schemaOf / load") {
    val cat = new ParquetCatalog(spark, sf0001)
    assert(cat.tableExists("orders"))
    assert(!cat.tableExists("nope"))
    assert(cat.schemaOf("orders").fieldNames.contains("o_orderkey"))
    assert(cat.load("region").count() == 5)
  }
  test("bucketed tables co-locate the join: zero Exchange on either side") {
    import org.apache.spark.sql.functions._
    val tmp = tempDir("graftbucket")
    val cat = new ParquetCatalog(spark, tmp)
    val facts = spark.range(2000).toDF("k")
      .withColumn("v", col("k") * 2)
    val dims = spark.range(2000).toDF("k")
      .withColumn("w", col("k") % 7)
    cat.writeBucketed("bf_facts", facts, "k", 8)
    cat.writeBucketed("bf_dims", dims, "k", 8)
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // force a non-broadcast join so the bucket co-location is what the
      // plan must rely on
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = cat.loadBucketed("bf_facts")
        .join(cat.loadBucketed("bf_dims"), "k")
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"))
      assert(!p.contains("Exchange"),
        s"bucketed join must not shuffle either side\n$p")
      assert(joined.count() == 2000)
      // negative control: the same files read WITHOUT the bucket spec
      // (plain parquet path read) must re-shuffle
      val plain = spark.read.parquet(cat.tablePath("bf_facts"))
        .join(spark.read.parquet(cat.tablePath("bf_dims")), "k")
      assert(plain.queryExecution.executedPlan.toString.contains("Exchange"))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS bf_facts")
      spark.sql("DROP TABLE IF EXISTS bf_dims")
    }
  }

  test("writeTable with partitionCol lays out hive-style directories") {
    import org.apache.spark.sql.functions._
    val tmp = tempDir("graftpart")
    val cat = new ParquetCatalog(spark, tmp)
    val df = spark.range(100).toDF("n").withColumn("bucket", pmod(col("n"), lit(4)))
    cat.writeTable("t", df, sortCol = "n", partitionCol = Some("bucket"))
    val dirs = new java.io.File(s"$tmp/t.parquet").listFiles()
      .filter(_.isDirectory).map(_.getName).sorted
    assert(dirs.toSeq == Seq("bucket=0", "bucket=1", "bucket=2", "bucket=3"))
    assert(cat.load("t").count() == 100)
    // partition-column predicate prunes directories (PartitionFilters)
    assert(cat.load("t").filter(col("bucket") === 2).count() == 25)
  }

  test("csv/json interchange: import converts to parquet, export round-trips") {
    import org.apache.spark.sql.types._
    val tmp = tempDir("graftio")
    val cat = new ParquetCatalog(spark, tmp)
    // hand-written CSV with a header line
    val csvDir = java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$tmp/in_csv"))
    java.nio.file.Files.write(csvDir.resolve("part.csv"),
      "id,name,score\n1,alpha,0.5\n2,beta,1.25\n3,gamma,\n".getBytes("UTF-8"))
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType),
      StructField("score", DoubleType)))
    cat.importTable("scores", s"$tmp/in_csv", "csv", schema,
      Map("header" -> "true"))
    // the table is parquet now, typed by the declared schema (no inference)
    assert(cat.tableExists("scores"))
    assert(cat.schemaOf("scores") == schema)
    val rows = cat.load("scores").collect()
      .map(r => (r.getLong(0), r.getString(1), Option(r.get(2)))).sortBy(_._1)
    assert(rows.toSeq == Seq(
      (1L, "alpha", Some(0.5)), (2L, "beta", Some(1.25)), (3L, "gamma", None)))
    // export to json and read back with the same schema
    cat.exportTable("scores", s"$tmp/out_json", "json")
    val back = spark.read.schema(schema).json(s"$tmp/out_json")
    assert(back.count() == 3)
    assert(back.where("name = 'beta'").head().getDouble(2) == 1.25)
    // ORC round-trips too (self-describing; the schema is a drift guard)
    cat.exportTable("scores", s"$tmp/out_orc", "orc")
    cat.importTable("scores_back", s"$tmp/out_orc", "orc", schema)
    assert(cat.load("scores_back").count() == 3)
    assert(cat.schemaOf("scores_back") == schema)
    // unsupported interchange format is rejected
    intercept[IllegalArgumentException](
      cat.importTable("x", s"$tmp/in_csv", "parquet", schema))
    intercept[IllegalArgumentException](cat.exportTable("scores", s"$tmp/o", "avro"))
  }

  test("writeTable overwrite + drop round-trip") {
    val tmp = tempDir("graftcat")
    val cat = new ParquetCatalog(spark, tmp)
    val df = spark.range(10).toDF("n")
    cat.writeTable("t1", df, sortCol = "n")
    assert(cat.tableExists("t1") && cat.load("t1").count() == 10)
    cat.writeTable("t1", spark.range(3).toDF("n"), sortCol = "n")
    assert(cat.load("t1").count() == 3)
    cat.drop("t1")
    assert(!cat.tableExists("t1"))
  }

  test("compactTable shrinks a fragmented table without changing its rows") {
    import org.apache.spark.sql.functions.col
    val tmp = tempDir("graftcompact")
    val cat = new ParquetCatalog(spark, tmp)
    // fragment: 64 partitions of ~8 rows each
    cat.writeTable("frag", spark.range(500).toDF("n").repartition(64), sortCol = "n")
    val dir = new java.io.File(cat.tablePath("frag"))
    val before = dir.listFiles().count(_.getName.endsWith(".parquet"))
    assert(before > 30, s"fixture must start fragmented, got $before files")
    val want = cat.load("frag").collect().map(_.getLong(0)).sorted.toSeq
    val after = cat.compactTable("frag", targetRowsPerFile = 250, sortCol = "n")
    assert(after <= 2, s"500 rows at 250/file must land in <=2 files, got $after")
    assert(dir.listFiles().count(_.getName.endsWith(".parquet")) == after)
    val got = cat.load("frag").collect().map(_.getLong(0)).sorted.toSeq
    assert(got == want, "compaction must be content-preserving")
    // rows-per-file bound holds (round-robin repartition evens sizes)
    val perFile = cat.load("frag")
      .groupBy(org.apache.spark.sql.functions
        .input_file_name().as("f"))
      .count().collect().map(_.getLong(1))
    assert(perFile.forall(_ <= 300), s"file sizes ${perFile.toSeq}")
    assert(cat.load("frag").filter(col("n") < 0).isEmpty)
  }

  test("compactTable preserves a hive-partitioned layout; refuses without partitionCol") {
    import org.apache.spark.sql.functions.{col, pmod}
    val tmp = tempDir("graftcompactp")
    val cat = new ParquetCatalog(spark, tmp)
    val df = spark.range(400).toDF("n")
      .withColumn("grp", pmod(col("n"), org.apache.spark.sql.functions.lit(4L)))
      .repartition(32)
    cat.writeTable("pt", df, sortCol = "n", partitionCol = Some("grp"))
    // silent flattening is refused
    intercept[IllegalArgumentException](cat.compactTable("pt"))
    // NOTE: hive partition values come back through directory-name
    // inference, so the partition column's TYPE may narrow (long ->
    // int); compare values, not boxed types
    def rows() = cat.load("pt").collect()
      .map(r => (r.get(0).toString, r.get(1).toString)).sorted.toSeq
    val want = rows()
    cat.compactTable("pt", targetRowsPerFile = 100, sortCol = "n",
      partitionCol = Some("grp"))
    val dir = new java.io.File(cat.tablePath("pt"))
    val partDirs = dir.listFiles().filter(f => f.isDirectory && f.getName.startsWith("grp="))
    assert(partDirs.length == 4, s"hive layout preserved, got ${dir.list().toSeq}")
    assert(rows() == want, "partitioned compaction must be content-preserving")
    // targetRowsPerFile now reaches the partitioned layout: 100 rows per
    // value at 40/file -> filesPerPartition 3, so values split across
    // files (AQE would coalesce the tiny salted shuffle back to one
    // task on fixture-sized data — disable to observe the split)
    val saved = spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      cat.compactTable("pt", targetRowsPerFile = 40, sortCol = "n",
        partitionCol = Some("grp"))
    } finally
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", saved)
    val counts = dir.listFiles().filter(_.getName.startsWith("grp="))
      .map(_.listFiles().count(_.getName.endsWith(".parquet")))
    assert(counts.forall(c => c >= 1 && c <= 3),
      s"per-directory file count must respect the derived cap: ${counts.toSeq}")
    assert(counts.exists(_ >= 2),
      s"a 100-rows-per-value table at 40 rows/file must split somewhere: ${counts.toSeq}")
    assert(rows() == want, "re-compaction must stay content-preserving")
  }
}
