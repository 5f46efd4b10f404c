package graft.catalog

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.queries.RelationalQueries

/** Pins the two layout contracts of the catalog's ingest writes
  * ([[graft.catalog.ParquetCatalog.writeBucketed]] /
  * [[graft.catalog.ParquetCatalog.writeTable]] with `partitionCol`) as
  * exercised by the driver-contract queries `join_bucketed` /
  * `partition_prune`:
  *
  *  - a join of two tables bucketed by their join key into the same
  *    bucket count runs with ZERO exchanges (the layout carries the hash
  *    distribution) — the property that makes the write-once cost pay
  *    rent on every later fact-fact join;
  *  - a day-partitioned scan with a day predicate enumerates ONLY the
  *    matching directories at planning time (selectedPartitions, not a
  *    post-scan filter).
  *
  * Both are asserted against the physical plan, not timings, so a
  * refactor that silently loses the layout (e.g. a bare parquet re-read
  * dropping the bucket spec) fails here rather than in a 100 TB run.
  */
class StorageLayoutSpec extends SparkSpec {

  private def dropBucketedTables(): Unit = {
    spark.sql("DROP TABLE IF EXISTS graft_bkt_orders")
    spark.sql("DROP TABLE IF EXISTS graft_bkt_lineitem")
  }

  test("join_bucketed matches the raw-table join and its values are layout-independent") {
    try testJoinBucketedValues() finally dropBucketedTables()
  }

  private def testJoinBucketedValues(): Unit = {
    val out = RelationalQueries.joinBucketed(spark, sf001).collect()
    // same exact-cents reduction as the query: integer sums are
    // summation-order independent, so bucketed-vs-raw equality is exact
    // by construction rather than by double-rounding luck
    val raw = graft.queries.CoreQueries.table(spark, sf001, "lineitem")
      .join(graft.queries.CoreQueries.table(spark, sf001, "orders"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderstatus"))
      .agg(
        (floor(sum(round(col("l_extendedprice") * 100).cast("long") *
          (lit(100L) - round(col("l_discount") * 100).cast("long")))
          .cast("double") / 100.0 + 0.5) / 100.0).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy("o_orderstatus")
      .collect()
    assert(out.toSeq == raw.toSeq)
  }

  test("bucketed-by-join-key SortMergeJoin has no Exchange on either side") {
    // the query itself writes/registers the bucketed tables
    RelationalQueries.joinBucketed(spark, sf001).collect()
    // disable broadcast so the join MUST be a SortMergeJoin — the shape
    // a 100 TB fact-fact join takes, where bucketing is the lever
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("graft_bkt_lineitem")
        .join(spark.table("graft_bkt_orders"),
          col("l_orderkey") === col("o_orderkey"))
      val p = joined.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      assert(p.contains("SortMergeJoin"), s"expected a sort-merge join:\n$p")
      assert(!p.contains("Exchange"),
        s"bucketed join must carry the distribution in its layout — no exchange:\n$p")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
      dropBucketedTables()
    }
  }

  test("partition_prune scan selects exactly the 10 predicate days of 30") {
    val df = RelationalQueries.partitionPrune(spark, sf001)
    val scans = df.queryExecution.sparkPlan.collect {
      case f: FileSourceScanExec => f
    }
    assert(scans.nonEmpty, "expected a parquet file scan")
    val scan = scans.head
    assert(scan.partitionFilters.nonEmpty,
      "day predicate must become a planning-time partition filter")
    assert(scan.selectedPartitions.partitionCount == 10,
      s"expected 10 of 30 day directories, got ${scan.selectedPartitions.partitionCount}")
    // and the pruned result still matches the raw-table computation
    val raw = graft.queries.CoreQueries.table(spark, sf001, "events")
      .withColumn("d", to_date(col("ts")))
      .filter(col("d") >= lit("2024-01-10") && col("d") <= lit("2024-01-19"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        (sum(round(col("value") * 100).cast("long")).cast("double") / 100.0)
          .as("value_sum"))
      .orderBy("event_type")
      .collect()
    assert(df.collect().toSeq == raw.toSeq)
  }

  test("writePartitioned produces one file per partition directory") {
    // the small-files discipline: repartition(partCol) before the write.
    // Locate the layout root through the scan path of the query plan.
    val df = RelationalQueries.partitionPrune(spark, sf001)
    df.collect()
    val scan = df.queryExecution.sparkPlan.collect {
      case f: FileSourceScanExec => f
    }.head
    val root = new java.io.File(
      scan.relation.location.rootPaths.head.toUri.getPath)
    val dayDirs = root.listFiles().filter(_.getName.startsWith("d="))
    assert(dayDirs.length == 30, s"expected 30 day dirs, got ${dayDirs.length}")
    dayDirs.foreach { dd =>
      val files = dd.listFiles().filter(_.getName.endsWith(".parquet"))
      assert(files.length == 1,
        s"${dd.getName}: expected one file per partition, got ${files.length}")
    }
  }

  test("writeTable filesPerPartition salts a fat partition across bounded files") {
    // the straggler escape hatch: a deterministic row-hash salt spreads
    // each partition value over at most filesPerPartition tasks/files
    val cat = new ParquetCatalog(spark,
      tempDir("layout_salt"))
    val df = graft.queries.CoreQueries.table(spark, sf001, "events")
      .select(col("event_type"), col("value"), to_date(col("ts")).as("d"))
    // sf0.001-sized shuffles are small enough that AQE coalesces the
    // salted shuffle back into one task (harmless: at the scale the salt
    // exists for, partitions are too big to coalesce). Disable coalescing
    // here so the salt's task split is observable on fixture data.
    val saved = spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      cat.writeTable("ev", df, sortCol = "event_type",
        partitionCol = Some("d"), filesPerPartition = 2)
    } finally
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", saved)
    val root = new java.io.File(cat.tablePath("ev"))
    val dayDirs = root.listFiles().filter(_.getName.startsWith("d="))
    assert(dayDirs.length == 30)
    val counts = dayDirs.map(_.listFiles().count(_.getName.endsWith(".parquet")))
    assert(counts.forall(c => c >= 1 && c <= 2),
      s"per-directory file count must be bounded by filesPerPartition: ${counts.toSeq}")
    assert(counts.exists(_ == 2), "the salt must actually split a fat partition")
    // the layout knob never changes the data
    assert(cat.load("ev").count() == df.count())
  }
}
