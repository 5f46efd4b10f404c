package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Sampling
import graft.operators.CacheScope.Cacheable
import graft.queries.CoreQueries.table

/** ClickHouse-flavored analytics surface: the aggregate-combinator family a
  * user of the reference's ClickHouse deployment reaches for daily —
  * argMax/argMin, countIf/sumIf/avgIf, groupArray, runningDifference,
  * histogram, uniqExact over several dimensions, statistical moments,
  * calendar rollups — each re-expressed as codegen'd Spark built-ins with a
  * DuckDB oracle. Scale posture: every query is scan -> (optional window or
  * single hash-agg shuffle on the group key) -> small output; nothing here
  * materializes per-row state on the driver.
  */
object AnalyticsQueries {

  /** argMax/argMin (ClickHouse `argMax(arg, val)`) via Spark's codegen'd
    * max_by/min_by. Keyed on event_id (unique) so the answer is
    * deterministic — argMax on a non-unique key is engine-defined tie
    * order, which no oracle can pin. One hash agg, shuffle on user_id.
    */
  def argMinMax(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "events")
      .groupBy(col("user_id"))
      .agg(
        min_by(col("event_type"), col("event_id")).as("first_type"),
        max_by(col("event_type"), col("event_id")).as("last_type"),
        max(col("event_id")).as("last_event_id"),
        count(lit(1)).as("n_events"))
      .orderBy("user_id")

  /** countIf/sumIf/avgIf (ClickHouse `-If` combinators) as conditional
    * aggregates: count/sum/avg over `when(cond)` — one pass, one shuffle,
    * no self-join. SQL's FILTER clause compiles to the same plan.
    */
  def conditionalAgg(spark: SparkSession, dir: String): DataFrame = {
    val big = col("value") > 100
    table(spark, dir, "events")
      .groupBy(col("event_type"))
      .agg(
        count(when(big, 1)).as("n_big"),
        round(sum(when(big, col("value"))), 2).as("sum_big"),
        // quotient outputs via exact-cents sums + floor-rounding: the
        // engines' round() diverges on quotient ties (ARCHITECTURE.md
        // "Correctness strategy"); sum_big keeps round() — a 2-dp-grain
        // sum never sits near a .005 tie
        (floor(sum(when(!big, round(col("value") * 100).cast("long")))
          .cast("double") / count(when(!big, 1)) / 100.0 * 10000.0 + 0.5)
          / 10000.0).as("avg_small"),
        (floor(count(when(big, 1)).cast("double") / count(lit(1))
          * 10000.0 + 0.5) / 10000.0).as("big_ratio"))
      .orderBy("event_type")
  }

  /** Statistical moments per group: corr / covar_samp / stddev_samp /
    * var_samp — single-pass streaming aggregates in both engines (no
    * second centered pass), so they scale as one shuffle regardless of
    * group cardinality.
    */
  def statsMoments(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        round(corr(col("l_quantity"), col("l_extendedprice")), 5).as("corr_qty_price"),
        round(covar_samp(col("l_quantity"), col("l_extendedprice")), 3).as("covar_qty_price"),
        round(stddev_samp(col("l_quantity")), 5).as("stddev_qty"),
        round(var_samp(col("l_quantity")), 4).as("var_qty"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag")

  /** Calendar rollup: month-grain revenue (ClickHouse toStartOfMonth).
    * date_trunc is a codegen'd scalar, so partition pruning on a
    * date-partitioned warehouse layout still applies upstream.
    */
  def monthlyRevenue(spark: SparkSession, dir: String): DataFrame =
    // exact-cents aggregation + explicit floor-rounding: prices are
    // 2-decimal money stored as doubles — summing ROUND(price*100) longs
    // is order-insensitive and bit-identical across engines (a double
    // SUM/AVG's order leaks a ulp that flips rounding ties — surfaced at
    // sf0.001); revenue needs no rounding at all (cents/100 is the
    // value), and the 3-dp mean uses FLOOR(x*1e3 + 0.5)/1e3 because the
    // engines' round() disagrees on tie doubles (decimal-repr vs binary)
    table(spark, dir, "orders")
      .groupBy(date_trunc("month", col("o_orderdate")).cast("date").as("month"))
      .agg(
        count(lit(1)).as("n_orders"),
        (sum(round(col("o_totalprice") * 100).cast("long")).cast("double") / 100.0)
          .as("revenue"),
        (floor(
          sum(round(col("o_totalprice") * 100).cast("long")).cast("double") /
            count(lit(1)) / 100.0 * 1000.0 + 0.5) / 1000.0).as("avg_price"))
      .orderBy("month")

  /** runningDifference (ClickHouse) done right: lag over an EXPLICIT
    * (partition, total order) window — the ClickHouse original depends on
    * block order, which doesn't survive a distributed shuffle. (ts,
    * event_id) makes the order total, so the diff is deterministic.
    */
  def runningDiff(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    table(spark, dir, "events")
      .filter(col("user_id") < 50)
      .select(col("user_id"), col("event_id"), round(col("value"), 2).as("value"),
        round(col("value") - lag(col("value"), 1).over(w), 3).as("diff"))
      .orderBy("user_id", "event_id")
  }

  /** groupArray (ClickHouse) with deterministic content: collect_list is
    * unordered in a distributed engine, so sort the array before joining
    * to a string. Bounded per group (orders per customer), so no single
    * group can blow an executor.
    */
  def groupArray(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "orders")
      .filter(col("o_custkey") < 100)
      .groupBy(col("o_custkey"))
      .agg(
        array_join(array_sort(collect_list(col("o_orderstatus"))), ",").as("statuses"),
        count(lit(1)).as("n_orders"))
      .orderBy("o_custkey")

  /** Fixed-width histogram: floor-bucket then one hash agg. The binning is
    * a projection, so the same plan at 100 TB is scan -> partial agg ->
    * one small shuffle (bucket count ~ range/width, not row count).
    */
  def histogramValues(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "events")
      .groupBy(floor(col("value") / 50).cast("long").as("bucket"))
      .agg(
        count(lit(1)).as("n"),
        // mean via exact-cents sum + floor-rounding (ARCHITECTURE.md
        // "Correctness strategy"); min/max round 2-dp-exact values — safe
        (floor(sum(round(col("value") * 100).cast("long")).cast("double")
          / count(lit(1)) / 100.0 * 10000.0 + 0.5) / 10000.0).as("avg_value"),
        round(min(col("value")), 2).as("min_value"),
        round(max(col("value")), 2).as("max_value"))
      .orderBy("bucket")

  /** uniqExact over several dimensions in one pass (ClickHouse uniqExact):
    * two count-distincts + a plain count — Catalyst expands to a single
    * multi-distinct aggregate, not three scans.
    */
  def uniqCounts(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "events")
      .groupBy(col("event_type"))
      .agg(
        countDistinct(col("user_id")).as("uniq_users"),
        countDistinct(to_date(col("ts"))).as("active_days"),
        // exact-int quotient + floor-rounding (no round() tie to diverge)
        (floor(count(lit(1)).cast("double") / countDistinct(col("user_id"))
          * 10000.0 + 0.5) / 10000.0).as("events_per_user"))
      .orderBy("event_type")

  /** Per-label embedding centroid norm: posexplode -> per-(label, dim)
    * mean -> L2 norm of the mean vector. Explode multiplies rows by the
    * dimension (64x) but stays narrow (3 cols), and both aggs shuffle on
    * small keys — the distributed shape for "how tight is each cluster"
    * over billions of vectors.
    */
  def embeddingCentroid(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "embeddings")
      .select(col("label"), posexplode(col("embedding")).as(Seq("i", "x")))
      .groupBy(col("label"), col("i"))
      .agg(avg(col("x").cast("double")).as("m"))
      .groupBy(col("label"))
      .agg(
        round(sqrt(sum(col("m") * col("m"))), 4).as("centroid_norm"),
        count(lit(1)).as("dims"))
      .orderBy("label")

  /** Deterministic train/val/test split via [[Sampling.splitLabelMd5]] —
    * the engine-independent draw, so the EXACT membership (not just the
    * proportions) is pinned by the DuckDB oracle. The xxhash64 production
    * path (`sample_split`) keeps its rows-only check.
    */
  def sampleSplitMd5(spark: SparkSession, dir: String): DataFrame =
    Sampling
      .splitLabelMd5(table(spark, dir, "documents"), "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .groupBy(col("split"))
      // integer sums are double-exact, so the quotient is bit-identical
      // in both engines; floor-rounding has no tie for round() to flip
      .agg(count(lit(1)).as("n"),
        (floor(sum(col("n_chars")).cast("double") / count(lit(1))
          * 100.0 + 0.5) / 100.0).as("avg_chars"))
      .orderBy("split")

  /** Corpus-level top bigrams. Formulated as an ARRAY transform (adjacent
    * pairs zipped inside the row) + one explode + one hash agg — not the
    * tokenize->explode->per-doc-window shape, which would shuffle every
    * token on doc_id before counting. Here the only shuffle is the final
    * (partial-agg'd) bigram count. Ties broken by bigram text so the
    * top-k is deterministic.
    */
  def textTopBigrams(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "documents")
      .withColumn("t", split(col("text"), " "))
      .select(explode(when(size(col("t")) >= 2,
        expr("transform(sequence(0, size(t) - 2), k -> concat(t[k], ' ', t[k + 1]))"))
        .otherwise(array())).as("bigram"))
      .groupBy(col("bigram"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram"))
      .limit(10)

  /** sumMap (ClickHouse): per-key map of event_type -> summed value.
    * Serialized as a SORTED "k:v" string (cents, so the value is an exact
    * integer in both engines) because map columns have no cross-engine
    * stable representation. Two hash aggs, both on small keys; the map
    * payload per user is bounded by the event-type cardinality.
    */
  def sumMap(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "events")
      .filter(col("user_id") < 20)
      .groupBy(col("user_id"), col("event_type"))
      .agg(sum(col("value")).as("v"))
      .select(col("user_id"),
        concat(col("event_type"), lit(":"),
          round(col("v") * 100).cast("long").cast("string")).as("kv"))
      .groupBy(col("user_id"))
      .agg(
        array_join(array_sort(collect_list(col("kv"))), ",").as("type_sums"),
        count(lit(1)).as("n_types"))
      .orderBy("user_id")

  /** sequenceMatch (ClickHouse): per-user ordered event-path string,
    * matched against a regex. The per-group state is the user's own event
    * list (collect_list + array_sort — sequence semantics inherently need
    * the user's full ordered history), so group memory is bounded by
    * per-user activity, never corpus size; one shuffle on user_id, then a
    * tiny agg on the matched flag. The pattern is RE2-safe and shared
    * VERBATIM with the oracle. Event-type names are substring-free of
    * each other, so the unanchored match is unambiguous. The `(>[^>]+)*`
    * gaps make the match condition-skipping, like ClickHouse's
    * sequenceMatch: events between the chain steps are ignored
    * ('view, other, click, purchase' matches), not chain-breaking.
    */
  private val seqPattern = "view(>[^>]+)*>click(>[^>]+)*>purchase"

  def sequenceMatch(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "events")
      .groupBy(col("user_id"))
      .agg(array_join(
        transform(
          array_sort(collect_list(struct(col("ts"), col("event_id"), col("event_type")))),
          e => e.getField("event_type")), ">").as("path"))
      .select(col("path").rlike(seqPattern).cast("int").as("matched"),
        col("path"))
      .groupBy(col("matched"))
      // integer-length avg via floor-rounding: the sums are double-exact,
      // so only round()'s tie behavior could diverge — floor has none
      .agg(count(lit(1)).as("n_users"),
        (floor(sum(length(col("path"))).cast("double") / count(lit(1))
          * 100.0 + 0.5) / 100.0).as("avg_path_len"))
      .orderBy("matched")

  /** windowFunnel with a TIME WINDOW (ClickHouse `windowFunnel(window)`):
    * like funnel_steps, but every later step must land within `3 days` of
    * the user's step-1 time — the semantics product analytics actually
    * wants ("converted within N days"). Same scale shape as the plain
    * funnel: per-step min-ts aggs keyed on user_id, each step's frame
    * shrinking, joined on user_id only.
    */
  def funnelStepsWindowed(spark: SparkSession, dir: String): DataFrame = {
    val ev = table(spark, dir, "events")
    val win = expr("INTERVAL 3 DAYS")
    val s1 = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min(col("ts")).as("t1"))
    val s2 = ev.filter(col("event_type") === "click").join(s1, "user_id")
      .filter(col("ts") > col("t1") && col("ts") <= col("t1") + win)
      .groupBy("user_id").agg(min(col("ts")).as("t2"), max(col("t1")).as("t1"))
    val s3 = ev.filter(col("event_type") === "purchase").join(s2, "user_id")
      .filter(col("ts") > col("t2") && col("ts") <= col("t1") + win)
      .groupBy("user_id").agg(min(col("ts")).as("t3"))
    def cnt(df: DataFrame, step: Int, label: String) =
      df.agg(count(lit(1)).as("n_users"))
        .select(lit(step).cast("long").as("step"), lit(label).as("event_type"),
          col("n_users"))
    cnt(s1, 1, "view").union(cnt(s2, 2, "click")).union(cnt(s3, 3, "purchase"))
      .orderBy("step")
  }

  /** windowFunnel `strict_order` mode (ClickHouse): the chain breaks on
    * ANY intervening event — level k is reached only if k pattern steps
    * occur as CONSECUTIVE events in the user's full (ts, event_id)-ordered
    * stream, with the last step inside the 3-day window of the chain's
    * first step (ClickHouse's own example: A->B->D->C stops at D with
    * level 2). One lead() window pass per user, then a per-user max and a
    * 3-value unpivot — a single user-keyed shuffle regardless of corpus
    * size, the same scale shape as the base funnel.
    */
  def funnelStrictOrder(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val win = expr("INTERVAL 3 DAYS")
    val ev = table(spark, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("nt1", lead(col("event_type"), 1).over(w))
      .withColumn("ts1", lead(col("ts"), 1).over(w))
      .withColumn("nt2", lead(col("event_type"), 2).over(w))
      .withColumn("ts2", lead(col("ts"), 2).over(w))
    val lv = ev.groupBy(col("user_id")).agg(
      max(when(col("event_type") === "view", 1).otherwise(0)).as("l1"),
      max(when(col("event_type") === "view" && col("nt1") === "click" &&
        col("ts1") <= col("ts") + win, 1).otherwise(0)).as("l2"),
      max(when(col("event_type") === "view" && col("nt1") === "click" &&
        col("nt2") === "purchase" && col("ts2") <= col("ts") + win, 1)
        .otherwise(0)).as("l3"))
    lv.agg(sum(col("l1")).as("n1"), sum(col("l2")).as("n2"), sum(col("l3")).as("n3"))
      .select(explode(array(
        struct(lit(1L).as("step"), lit("view").as("event_type"),
          col("n1").cast("long").as("n_users")),
        struct(lit(2L).as("step"), lit("click").as("event_type"),
          col("n2").cast("long").as("n_users")),
        struct(lit(3L).as("step"), lit("purchase").as("event_type"),
          col("n3").cast("long").as("n_users")))).as("s"))
      .select(col("s.step").as("step"), col("s.event_type").as("event_type"),
        col("s.n_users").as("n_users"))
      .orderBy("step")
  }

  /** windowFunnel `strict_dedup` mode (ClickHouse): an event matching an
    * ALREADY-MATCHED condition interrupts the chain — after view at t1,
    * a second view before the first click kills the chain; after click at
    * t2, a repeat view OR click before the purchase kills it. Documented
    * divergence from ClickHouse: the chain is anchored greedily at the
    * user's EARLIEST view (ClickHouse retries from every view and takes
    * the max level); the greedy anchor makes every step a min-ts
    * aggregate + anti-join — all equi-keyed on user_id, no per-user state
    * beyond three timestamps.
    */
  def funnelStrictDedup(spark: SparkSession, dir: String): DataFrame = {
    val ev = table(spark, dir, "events")
      .select(col("user_id"), col("ts"), col("event_type"))
    val win = expr("INTERVAL 3 DAYS")
    val s1 = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min(col("ts")).as("t1"))
    val c2 = ev.filter(col("event_type") === "click").join(s1, "user_id")
      .filter(col("ts") > col("t1") && col("ts") <= col("t1") + win)
      .groupBy("user_id").agg(min(col("ts")).as("t2"), max(col("t1")).as("t1"))
    val repView = ev.filter(col("event_type") === "view").join(c2, "user_id")
      .filter(col("ts") > col("t1") && col("ts") < col("t2"))
      .select(col("user_id")).distinct()
    val s2 = c2.join(repView, Seq("user_id"), "left_anti")
    val p3 = ev.filter(col("event_type") === "purchase").join(s2, "user_id")
      .filter(col("ts") > col("t2") && col("ts") <= col("t1") + win)
      .groupBy("user_id").agg(min(col("ts")).as("t3"), max(col("t2")).as("t2"))
    val rep3 = ev.filter(col("event_type").isin("view", "click")).join(p3, "user_id")
      .filter(col("ts") > col("t2") && col("ts") < col("t3"))
      .select(col("user_id")).distinct()
    val s3 = p3.join(rep3, Seq("user_id"), "left_anti")
    def cnt(df: DataFrame, step: Int, label: String) =
      df.agg(count(lit(1)).as("n_users"))
        .select(lit(step).cast("long").as("step"), lit(label).as("event_type"),
          col("n_users"))
    cnt(s1, 1, "view").union(cnt(s2, 2, "click")).union(cnt(s3, 3, "purchase"))
      .orderBy("step")
  }

  /** exponentialMovingAverage + deltaSum (ClickHouse time-decay family)
    * in ONE user-keyed window pass. EMA uses the closed form
    * ema_i = sum_j y_j * 2^(-(t_i - t_j)/halflife)
    *       = 2^(-(t_i - t0)/hl) * cumsum_j(y_j * 2^((t_j - t0)/hl))
    * — a plain cumulative sum over the ordered frame, O(1) per row, no
    * per-row rescan. Normalizing t against the partition's first second
    * (t0) keeps the 2^x factors inside double range for any absolute
    * epoch. deltaSum = sum of positive steps of consecutive values,
    * computed on integer cents so the aggregate is exact under any
    * partial-aggregation order. Timestamps are truncated to whole epoch
    * seconds on BOTH engines (Spark unix_timestamp / DuckDB
    * floor(epoch)); the EMA is rounded to 4 decimals because cumulative
    * double sums and pow() may differ in the last ulp across engines.
    */
  def timeDecayAgg(spark: SparkSession, dir: String): DataFrame = {
    val wOrd = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val wAll = Window.partitionBy(col("user_id"))
    val wRev = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    val hl = 86400.0 // 1-day halflife
    val ev = table(spark, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"), col("value"),
        unix_timestamp(col("ts")).cast("double").as("tsec"),
        round(col("value") * 100).cast("long").as("cents"))
      .withColumn("xx", (col("tsec") - min(col("tsec")).over(wAll)) / hl)
    ev
      .withColumn("wsum", sum(col("value") * pow(lit(2.0), col("xx"))).over(wOrd))
      .withColumn("d", col("cents") - coalesce(lag(col("cents"), 1).over(wOrd), col("cents")))
      .withColumn("rn", row_number().over(wRev))
      .groupBy(col("user_id"))
      .agg(
        round(max(when(col("rn") === 1,
          col("wsum") * pow(lit(2.0), -col("xx")))), 4).as("ema_last"),
        round(sum(when(col("d") > 0, col("d")).otherwise(0L)) / 100.0, 2).as("delta_sum"),
        count(lit(1)).as("n_events"))
      .orderBy("user_id")
  }

  /** LTTB downsampling (largestTriangleThreeBuckets — the dashboard
    * decimation ClickHouse ships) per event_type series, threshold 20:
    * first + last point always kept, the 18 interior buckets each keep
    * the point maximizing the triangle area against the NEIGHBOR BUCKETS'
    * average points. Documented divergence from Steinarsson's sequential
    * LTTB (which anchors on the previously SELECTED point): the
    * fixed-average anchor makes every bucket independent — the standard
    * parallelization, one window pass + one tiny bucket-average aggregate
    * + a broadcast join, no sequential driver loop. Coordinates are
    * integer-valued (whole epoch seconds offset from the series start,
    * value cents), so bucket averages are exact-sum/count in both engines
    * and the area argmax is reproducible; ties break on (ts, event_id).
    * Assumes series length >= threshold (every interior bucket nonempty)
    * — true for the fixtures and any real dashboard series.
    */
  def lttbDownsample(spark: SparkSession, dir: String): DataFrame = {
    val nb = 18 // interior buckets; threshold = nb + 2 including endpoints
    val w = Window.partitionBy(col("event_type")).orderBy(col("ts"), col("event_id"))
    val wAll = Window.partitionBy(col("event_type"))
    val pts = table(spark, dir, "events")
      .select(col("event_type"), col("ts"), col("event_id"),
        unix_timestamp(col("ts")).as("xs"),
        round(col("value") * 100).cast("long").as("yc"))
      .withColumn("r", row_number().over(w))
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("x", (col("xs") - min(col("xs")).over(wAll)).cast("double"))
      .withColumn("y", col("yc").cast("double"))
      .withColumn("bucket",
        when(col("r") === 1, lit(0))
          .when(col("r") === col("n"), lit(nb + 1))
          .otherwise(floor((col("r") - 2) * nb / (col("n") - 2)).cast("int") + 1))
      // feeds the bucket-average aggregate AND the scoring join — persist
      // so the window pass over the corpus runs once (Bench/Verify
      // clearCache between queries)
      .cacheTracked()
    val b = pts.groupBy(col("event_type"), col("bucket"))
      .agg(avg(col("x")).as("ax"), avg(col("y")).as("ay"))
    val left = b.select(col("event_type"), (col("bucket") + 1).as("bucket"),
      col("ax").as("lx"), col("ay").as("ly"))
    val right = b.select(col("event_type"), (col("bucket") - 1).as("bucket"),
      col("ax").as("rx"), col("ay").as("ry"))
    val wSel = Window.partitionBy(col("event_type"), col("bucket"))
      .orderBy(col("area2").desc, col("ts"), col("event_id"))
    val chosen = pts.filter(col("bucket") >= 1 && col("bucket") <= nb)
      .join(broadcast(left), Seq("event_type", "bucket"))
      .join(broadcast(right), Seq("event_type", "bucket"))
      .withColumn("area2",
        abs((col("lx") - col("rx")) * (col("y") - col("ly")) -
          (col("lx") - col("x")) * (col("ry") - col("ly"))))
      .withColumn("sel", row_number().over(wSel))
      .filter(col("sel") === 1)
    val ends = pts.filter(col("bucket") === 0 || col("bucket") === nb + 1)
    chosen.select(col("event_type"), col("bucket"), col("x").cast("long").as("x_s"),
        round(col("y") / 100, 2).as("value"))
      .unionByName(ends.select(col("event_type"), col("bucket"),
        col("x").cast("long").as("x_s"), round(col("y") / 100, 2).as("value")))
      .orderBy("event_type", "bucket")
  }

  /** retention (ClickHouse): per user, flag r_k = "active on day d0 + k"
    * ANDed with the base condition r_0 = "active on d0" (d0 = the user's
    * first event day), rolled up to cohort counts and rates for
    * k = 1, 3, 7. Shape: dedup to (user, day) once, one user-keyed min
    * aggregate for d0, then a single conditional-agg pass — no per-k
    * rescans, no join wider than (user, day).
    */
  def retentionDays(spark: SparkSession, dir: String): DataFrame = {
    val ud = table(spark, dir, "events")
      .select(col("user_id"), to_date(col("ts")).as("d")).distinct()
    val d0 = ud.groupBy(col("user_id")).agg(min(col("d")).as("d0"))
    val flags = ud.join(d0, "user_id")
      .groupBy(col("user_id"))
      .agg(
        max(when(col("d") === date_add(col("d0"), 1), 1).otherwise(0)).as("r1"),
        max(when(col("d") === date_add(col("d0"), 3), 1).otherwise(0)).as("r3"),
        max(when(col("d") === date_add(col("d0"), 7), 1).otherwise(0)).as("r7"))
    flags.agg(
      count(lit(1)).as("n_users"),
      sum(col("r1")).cast("long").as("day1"),
      sum(col("r3")).cast("long").as("day3"),
      sum(col("r7")).cast("long").as("day7"),
      // 0/1-flag rates via floor-rounding on the exact int quotient:
      // round()'s tie behavior is the only cross-engine divergence left
      (floor(sum(col("r1")).cast("double") / count(lit(1)) * 10000.0 + 0.5)
        / 10000.0).as("day1_rate"),
      (floor(sum(col("r3")).cast("double") / count(lit(1)) * 10000.0 + 0.5)
        / 10000.0).as("day3_rate"),
      (floor(sum(col("r7")).cast("double") / count(lit(1)) * 10000.0 + 0.5)
        / 10000.0).as("day7_rate"))
  }

  /** uniqUpTo(N) (ClickHouse): distinct count reported exactly up to N
    * and saturating at N+1 — the "more than N distinct?" gate that lets
    * an engine stop tracking a group's set once it passes the threshold.
    * Spark has no early-stopping distinct, so this is the semantic
    * equivalent (least(countDistinct, N+1)); the plan is still one
    * Expand-based multi-distinct pass.
    */
  def uniqUpto(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "events")
      .groupBy(col("event_type"))
      .agg(
        least(countDistinct(col("user_id")), lit(11L)).as("users_upto_10"),
        least(countDistinct(to_date(col("ts"))), lit(6L)).as("days_upto_5"))
      .orderBy("event_type")

  /** quantilesExact (ClickHouse's multi-quantile combinator): several
    * exact interpolated quantiles of one column in a single aggregation
    * pass. ONE array-argument percentile aggregate, not four scalar
    * ones — each scalar percentile agg keeps its own copy of the
    * group's value buffer (4x memory and 4x sort measured ~3.6 s vs
    * ~1 s at sf0.1); the array form sorts one buffer and reads all four
    * ranks from it. The buffer still grows with the group — the
    * registered no-array drop-in is [[quantilesExactOffsets]] (same
    * oracle; selection guidance in QUERIES.md "Choosing exact vs
    * _offsets forms").
    */
  def quantilesExact(spark: SparkSession, dir: String): DataFrame = {
    // The interpolation is stated EXPLICITLY over exact cent integers
    // (type-7: h = p*(n-1); v[lo] + frac*(v[hi]-v[lo])) instead of the
    // engines' built-in continuous-quantile aggregates: Spark's
    // `percentile` and DuckDB's `quantile_cont` interpolate with opaque,
    // differing association orders, and the resulting ulp flips the 2-dp
    // round on .005-adjacent values (surfaced at sf0.001). Same buffered
    // group shape as the built-in (ClickHouse's quantilesExact buffers
    // too); prices are 2-decimal money, so the cent array is exact.
    def q(p: Double, alias: String) = {
      val h = lit(p) * (col("n") - 1).cast("double")
      val loIdx = (floor(h) + 1).cast("int")
      val hiIdx = least(floor(h) + 2, col("n")).cast("int")
      val lo = element_at(col("cs"), loIdx)
      val hi = element_at(col("cs"), hiIdx)
      // floor-round in cent units (NOT round(x, 2)): a frac=0.5 step
      // between cents lands exactly on half-cent ties, where the
      // engines' round() diverges (decimal-repr vs binary); floor on
      // bit-identical doubles is identical everywhere
      (floor(lo + (h - floor(h)) * (hi - lo) + 0.5) / 100.0).as(alias)
    }
    table(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        sort_array(collect_list(
          round(col("l_extendedprice") * 100).cast("long"))).as("cs"),
        count(lit(1)).as("n"))
      .select(col("l_returnflag"),
        q(0.25, "p25"), q(0.5, "p50"), q(0.75, "p75"), q(0.9, "p90"),
        col("n"))
      .orderBy("l_returnflag")
  }
  /** [[quantilesExact]] restated WITHOUT per-group buffering —
    * [[graft.operators.Packing.keyedQuantiles]] on the lineitem cent
    * grain (distinct (returnflag, cent) counts in, type-7 interpolated
    * quantiles out) followed by the shared half-up cent floor, exactly
    * as [[RelationalQueries.percentilesOffsets]] composes it. The
    * helper's double-cast interpolation and [[quantilesExact]]'s
    * long-typed expression agree bit for bit below 2^53 (cents here are
    * ≤ 10^7), so the output is value-identical and shares its oracle
    * SQL verbatim. With 3 groups over a 100 TB fact table the exact
    * form's collect_list array is the one aggregate that cannot fit an
    * executor; this form's widest state is one count per distinct cent
    * value per bucket.
    */
  def quantilesExactOffsets(spark: SparkSession, dir: String): DataFrame = {
    val byV = table(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"),
        round(col("l_extendedprice") * 100).cast("long").as("v"))
      .agg(count(lit(1)).as("cnt"))
      .cacheTracked()
    val ps = Seq(0.25 -> "p25", 0.5 -> "p50", 0.75 -> "p75", 0.9 -> "p90")
    graft.operators.Packing.keyedQuantiles(byV, "l_returnflag", ps)
      .select((col("l_returnflag") +:
        ps.map { case (_, a) => (floor(col(a) + 0.5) / 100.0).as(a) }) :+
        col("n"): _*)
      .orderBy("l_returnflag")
  }


  /** sequenceCount (ClickHouse): how many NON-OVERLAPPING
    * view->click->purchase chains each user completes, gap-tolerant like
    * [[sequenceMatch]] but with LAZY gaps — a greedy `(>[^>]+)*` would
    * swallow later chains and always report at most one. Both engines
    * use leftmost non-overlapping match semantics, so the counts agree.
    */
  def sequenceCount(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "events")
      .groupBy(col("user_id"))
      .agg(array_join(
        transform(
          array_sort(collect_list(struct(col("ts"), col("event_id"), col("event_type")))),
          e => e.getField("event_type")), ">").as("path"))
      .select(regexp_count(col("path"),
        lit("view(>[^>]+)*?>click(>[^>]+)*?>purchase")).as("n_chains"))
      .groupBy(col("n_chains"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy("n_chains")

  /** Funnel conversion latency: distribution of (purchase - first view)
    * for users completing the 3-day windowed funnel — the "how fast do
    * converters convert" follow-up to [[funnelStepsWindowed]]. Seconds
    * are whole-epoch-truncated on both engines; percentiles are exact
    * interpolated over those integers.
    */
  def funnelConversionTime(spark: SparkSession, dir: String): DataFrame = {
    val ev = table(spark, dir, "events")
    val win = expr("INTERVAL 3 DAYS")
    val s1 = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min(col("ts")).as("t1"))
    val s2 = ev.filter(col("event_type") === "click").join(s1, "user_id")
      .filter(col("ts") > col("t1") && col("ts") <= col("t1") + win)
      .groupBy("user_id").agg(min(col("ts")).as("t2"), max(col("t1")).as("t1"))
    val s3 = ev.filter(col("event_type") === "purchase").join(s2, "user_id")
      .filter(col("ts") > col("t2") && col("ts") <= col("t1") + win)
      .groupBy("user_id").agg(min(col("ts")).as("t3"), max(col("t1")).as("t1"))
    s3.select((unix_timestamp(col("t3")) - unix_timestamp(col("t1"))).as("sec"))
      .agg(
        count(lit(1)).as("n_converted"),
        sort_array(collect_list(col("sec"))).as("ss"),
        sum(col("sec")).as("sec_sum"))
      // percentiles via the explicitly-stated interpolation over sorted
      // integer seconds (graft.functions.ExactQuantile) + floor-rounding;
      // mean via floor-rounding on the exact quotient. Each projection is
      // guarded on n_converted > 0: a global aggregate still emits ONE
      // row for an empty funnel, where the interpolation's element_at(ss,
      // 0) would THROW in Spark (array indices are 1-based) while the
      // oracle's out-of-range list index quietly yields NULL — the guard
      // makes both engines emit NULLs for the zero-converter row
      .select(col("n_converted"),
        when(col("n_converted") > 0,
          floor(graft.functions.ExactQuantile.interp(
            col("ss"), col("n_converted"), 0.5) * 100.0 + 0.5) / 100.0)
          .as("p50_sec"),
        when(col("n_converted") > 0,
          floor(graft.functions.ExactQuantile.interp(
            col("ss"), col("n_converted"), 0.9) * 100.0 + 0.5) / 100.0)
          .as("p90_sec"),
        when(col("n_converted") > 0,
          floor(col("sec_sum").cast("double") / col("n_converted")
            * 100.0 + 0.5) / 100.0).as("avg_sec"))
  }

  /** groupBitAnd/Or/Xor (ClickHouse): bitwise aggregates — one hash agg,
    * fully map-side-combinable (each is associative+commutative).
    */
  def bitwiseAgg(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "events")
      .groupBy(col("event_type"))
      .agg(
        bit_and(col("event_id")).as("id_bit_and"),
        bit_or(col("event_id")).as("id_bit_or"),
        bit_xor(col("event_id")).as("id_bit_xor"))
      .orderBy("event_type")

  /** Shannon entropy of the per-source language mix (ClickHouse
    * `entropy`) — the label-diversity report a curation pipeline reads
    * before balancing a corpus. Written from raw counts (-sum p log2 p)
    * so both engines compute the IDENTICAL formula rather than relying
    * on builtin entropy definitions. Shape: one (source, lang) count agg,
    * a source-partition window for the totals (source cardinality is the
    * small key), then the final source agg.
    */
  def sourceEntropy(spark: SparkSession, dir: String): DataFrame = {
    val counts = table(spark, dir, "documents")
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).cast("double").as("n"))
    val tot = Window.partitionBy(col("source"))
    val p = col("n") / sum(col("n")).over(tot)
    counts
      .select(col("source"), col("n"), p.as("p"))
      .groupBy(col("source"))
      .agg(
        round(-sum(col("p") * log2(col("p"))), 6).as("lang_entropy"),
        sum(col("n")).cast("long").as("n_docs"))
      .orderBy("source")
  }

  /** Population skewness/kurtosis from RAW power sums (avg x, avg x^2,
    * avg x^3, avg x^4) — engines disagree on builtin skewness/kurtosis
    * definitions (sample-corrected vs population), so both sides compute
    * the same explicit moment arithmetic. Still one streaming pass: four
    * plain avg aggregates, no centered second pass.
    */
  private def momentCols: Seq[org.apache.spark.sql.Column] = {
    val m1 = col("m1"); val m2r = col("m2r"); val m3r = col("m3r"); val m4r = col("m4r")
    val v = m2r - m1 * m1 // population variance
    val m3 = m3r - lit(3) * m1 * m2r + lit(2) * m1 * m1 * m1
    val m4 = m4r - lit(4) * m1 * m3r + lit(6) * m1 * m1 * m2r -
      lit(3) * m1 * m1 * m1 * m1
    Seq(col("l_returnflag"), col("n"),
      round(m3 / pow(v, 1.5), 5).as("skew_pop"),
      round(m4 / (v * v) - lit(3), 5).as("kurt_excess_pop"))
  }

  def higherMoments(spark: SparkSession, dir: String): DataFrame = {
    val x = col("l_quantity")
    table(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        avg(x).as("m1"), avg(x * x).as("m2r"),
        avg(x * x * x).as("m3r"), avg(x * x * x * x).as("m4r"),
        count(lit(1)).as("n"))
      .select(momentCols: _*)
      .orderBy("l_returnflag")
  }

  /** Trailing 7-day distinct-user reach per day, EXACT, without a
    * quadratic day x events self-join: dedup to (user, day) once, then
    * each pair contributes to the 7 trailing windows it belongs to
    * (explode of a 7-element date sequence), then one distinct-count per
    * day. Shuffle volume = 7 x (user, day) pairs — linear, bounded by the
    * window width, the exact-reach shape that holds until reach itself
    * justifies HLL sketches (hll_reach is that path). Overhang days past
    * the corpus end are kept (both engines produce them identically).
    */
  def slidingReach(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "events")
      .select(col("user_id"), to_date(col("ts")).as("d"))
      .distinct()
      .select(col("user_id"),
        explode(sequence(col("d"), date_add(col("d"), 6))).as("day"))
      .groupBy(col("day"))
      .agg(countDistinct(col("user_id")).as("reach_7d"))
      .orderBy("day")

  /** Multi-aggregate pivot: per month, (count, avg price) per order
    * status as columns — the two-measure crosstab shape. Explicit pivot
    * value list (no distinct pre-scan job); counts for absent
    * (month, status) cells are coalesced to 0 because a pivoted count
    * yields NULL for an empty cell while SQL's `COUNT(*) FILTER` yields 0
    * — averages stay NULL in both engines.
    */
  def pivotMultiAgg(spark: SparkSession, dir: String): DataFrame = {
    val statuses = Seq("F", "O", "P")
    // exact-cents mean per cell with explicit floor-rounding (see
    // monthlyRevenue): per-(month, status) groups are small, so a double
    // AVG's summation-order ulp — and the engines' divergent round() on
    // tie doubles — flips 2-dp cells (surfaced at sf0.001)
    val base = table(spark, dir, "orders")
      .groupBy(date_trunc("month", col("o_orderdate")).cast("date").as("month"))
      .pivot("o_orderstatus", statuses)
      .agg(count(lit(1)).as("n"),
        (floor(
          sum(round(col("o_totalprice") * 100).cast("long")).cast("double") /
            count(lit(1)) / 100.0 * 100.0 + 0.5) / 100.0).as("avg"))
    val cols = col("month") +: statuses.flatMap(s => Seq(
      coalesce(col(s"${s}_n"), lit(0L)).as(s"${s}_n"),
      col(s"${s}_avg")))
    base.select(cols: _*).orderBy("month")
  }

  /** Second scalar-function batch beyond `scalar_functions`: regex
    * extraction, edit distance, reverse/repeat/position — all codegen'd
    * built-ins, pure projection, no shuffle except the output sort. The
    * regex is RE2-safe and shared verbatim with the oracle.
    */
  def stringFunctionsExt(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "part")
      .select(
        col("p_partkey"),
        regexp_extract(col("p_type"), "^([A-Z]+)", 1).as("type_head"),
        levenshtein(col("p_brand"), lit("Brand#10")).as("brand_dist"),
        reverse(col("p_name")).as("name_rev"),
        repeat(substring(col("p_brand"), 1, 2), 2).as("brand_echo"),
        instr(col("p_name"), "a").cast("int").as("first_a"))
      .orderBy("p_partkey")

  /** intervalLengthSum (ClickHouse): total length of the UNION of
    * per-user intervals, overlaps counted once. Each event opens a
    * 30-minute activity interval; the union length is "seconds active".
    * Classic island detection: running max of interval-end over the
    * PRECEDING frame marks island starts, a running sum of start flags
    * numbers the islands, one agg per island, one per user — three
    * passes over the SAME user-keyed ordering, so Spark plans a single
    * Exchange on user_id and sorts once. Per-row window state is O(1)
    * (running max / running sum), never the user's full history.
    */
  def intervalLengthSum(spark: SparkSession, dir: String): DataFrame = {
    val wOrd = Window.partitionBy(col("user_id")).orderBy(col("s"), col("e"))
    val iv = table(spark, dir, "events")
      .select(col("user_id"),
        floor(unix_timestamp(col("ts"))).cast("long").as("s"))
      .withColumn("e", col("s") + lit(1800L))
    iv
      .withColumn("prev_max",
        max(col("e")).over(wOrd.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("is_start",
        when(col("prev_max").isNull || col("s") > col("prev_max"), 1).otherwise(0))
      .withColumn("island",
        sum(col("is_start")).over(wOrd.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("island"))
      .agg((max(col("e")) - min(col("s"))).as("len"))
      .groupBy(col("user_id"))
      .agg(sum(col("len")).cast("long").as("active_sec"),
        count(lit(1)).as("n_islands"))
      .orderBy("user_id")
  }

  /** sequenceNextNode (ClickHouse): the event type that immediately
    * follows each user's FIRST 'view', aggregated into a next-step
    * distribution ('(end)' when the view is the user's last event).
    * Both windows share the (user_id | ts, event_id) partitioning, so
    * one Exchange + one sort serves lead() and the per-type row_number;
    * the final agg is on a 6-value key.
    */
  def sequenceNextNode(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val wType = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    table(spark, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("nxt", lead(col("event_type"), 1).over(w))
      .withColumn("rn_type", row_number().over(wType))
      .filter(col("event_type") === "view" && col("rn_type") === 1)
      .groupBy(coalesce(col("nxt"), lit("(end)")).as("next_type"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy("next_type")
  }

  /** boundingRatio (ClickHouse): slope between the first and last point
    * of a (x, y) series per group — (y_last - y_first)/(x_last - x_first).
    * x is event_id (unique by construction), not raw ts: argMax on a
    * non-unique ordering key is engine-defined tie order, which no oracle
    * can pin (same reasoning as arg_minmax). Single hash agg — max_by/
    * min_by are streaming one-pass aggregates in both engines.
    */
  def boundingRatio(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "events")
      .groupBy(col("event_type"))
      .agg(
        round(min_by(col("value"), col("event_id")), 2).as("first_value"),
        round(max_by(col("value"), col("event_id")), 2).as("last_value"),
        round((max_by(col("value"), col("event_id")) -
          min_by(col("value"), col("event_id"))) /
          (max(col("event_id")) - min(col("event_id"))), 8).as("bounding_ratio"),
        count(lit(1)).as("n"))
      .orderBy("event_type")

  /** minMap/maxMap (ClickHouse map combinators): per-key map of
    * event_type -> (min, max) value. Same serialization discipline as
    * sum_map: a SORTED "k:min:max" string on exact integer cents, because
    * map columns have no cross-engine stable representation. Two hash
    * aggs; per-user payload bounded by event-type cardinality.
    */
  def minmaxMap(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "events")
      .filter(col("user_id") < 20)
      .groupBy(col("user_id"), col("event_type"))
      .agg(round(min(col("value")) * 100).cast("long").as("mn"),
        round(max(col("value")) * 100).cast("long").as("mx"))
      .select(col("user_id"),
        concat(col("event_type"), lit(":"), col("mn").cast("string"),
          lit(":"), col("mx").cast("string")).as("kv"))
      .groupBy(col("user_id"))
      .agg(array_join(array_sort(collect_list(col("kv"))), ",").as("type_minmax"),
        count(lit(1)).as("n_types"))
      .orderBy("user_id")

  /** Linear gap interpolation over a per-series daily spine — the
    * timeSeries*ToGrid / interpolate-fill shape (and the LOCF twin of
    * series_gapfill). Sparse series by construction: per-user purchase
    * days (~1/3 of the span present). Spine = explode(sequence(lo, hi))
    * per user; previous/next anchors via last(ignoreNulls) over the
    * ascending frame and first(ignoreNulls) over the descending frame —
    * BOTH windows share one (user_id | day) Exchange+sort, and per-row
    * state is O(1). Daily values are rounded to cents BEFORE
    * interpolation so both engines interpolate identical doubles with
    * the same operation order (same-ulp results).
    */
  def seriesInterpolate(spark: SparkSession, dir: String): DataFrame = {
    // The ENTIRE value path is integer cents until the final /100.0:
    // daily sums as exact cent longs (order-independent under partial
    // aggregation) and the interpolation itself as integer arithmetic
    // with an explicit half-up floor — float rounding never enters.
    // Discovered at sf0.1: double daily sums plus round(x, 2) disagreed
    // across engines on .005-boundary values (Spark's round goes through
    // shortest-decimal-string conversion, DuckDB rounds the raw binary),
    // so three interpolated cells flipped by a cent.
    val daily = table(spark, dir, "events")
      .filter(col("event_type") === "purchase" && col("user_id") < 10)
      .groupBy(col("user_id"), to_date(col("ts")).as("d"))
      .agg(sum(round(col("value") * 100).cast("long")).as("vc"))
    val spine = daily.groupBy(col("user_id"))
      .agg(min(col("d")).as("lo"), max(col("d")).as("hi"))
      .select(col("user_id"), explode(sequence(col("lo"), col("hi"))).as("d"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("d"))
    val asc = w.rowsBetween(Window.unboundedPreceding, 0)
    val desc = w.rowsBetween(0, Window.unboundedFollowing)
    val k = datediff(col("d"), col("pd")).cast("long")
    val m = datediff(col("nd"), col("pd")).cast("long")
    val interpC = col("pv") +
      floor(((col("nv") - col("pv")) * k * 2 + m) / (m * 2)).cast("long")
    spine.join(daily, Seq("user_id", "d"), "left")
      .withColumn("pv", last(col("vc"), ignoreNulls = true).over(asc))
      .withColumn("pd", last(when(col("vc").isNotNull, col("d")), ignoreNulls = true).over(asc))
      .withColumn("nv", first(col("vc"), ignoreNulls = true).over(desc))
      .withColumn("nd", first(when(col("vc").isNotNull, col("d")), ignoreNulls = true).over(desc))
      .select(col("user_id"), col("d").as("day"),
        (coalesce(col("vc"),
          when(col("pv").isNull, col("nv"))
            .when(col("nv").isNull, col("pv"))
            .otherwise(interpC)) / 100.0).as("v_filled"),
        when(col("vc").isNull, 1).otherwise(0).cast("int").as("interpolated"))
      .orderBy("user_id", "day")
  }

  /** quantileExactWeighted (ClickHouse): weighted p25/p50/p75 of extended
    * price, weight = quantity. The crossing rule (smallest v whose
    * cumulative weight reaches q x total) runs as ONE ordered window pass
    * with the default RANGE frame, so tied values share a cumulative sum
    * and the result is independent of tie order in both engines;
    * quantities are integral doubles, so the cumulative sums are EXACT
    * (no last-ulp cross-engine drift at the threshold compare). Per-group
    * state is O(1); one shuffle on the group key.
    */
  def quantileWeighted(spark: SparkSession, dir: String): DataFrame = {
    val byFlag = Window.partitionBy(col("l_returnflag"))
    val cum = byFlag.orderBy(col("l_extendedprice"))
    table(spark, dir, "lineitem")
      .select(col("l_returnflag").as("flag"), col("l_extendedprice").as("v"),
        sum(col("l_quantity")).over(cum).as("cw"),
        sum(col("l_quantity")).over(byFlag).as("tot"))
      .groupBy(col("flag"))
      .agg(
        round(min(when(col("cw") >= lit(0.25) * col("tot"), col("v"))), 2).as("p25_w"),
        round(min(when(col("cw") >= lit(0.5) * col("tot"), col("v"))), 2).as("p50_w"),
        round(min(when(col("cw") >= lit(0.75) * col("tot"), col("v"))), 2).as("p75_w"),
        count(lit(1)).as("n"))
      .orderBy("flag")
  }

  /** Deterministic per-key mode (ClickHouse anyHeavy/topK(1), pinned):
    * the most frequent event_type per user, ties broken alphabetically so
    * an oracle can check it. Count-then-rank: the heavy lifting is a
    * map-side-combinable (user, type) count; the rank window runs over at
    * most |event types| rows per user.
    */
  def modePerGroup(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("n").desc, col("event_type"))
    table(spark, dir, "events")
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("user_id"), col("event_type").as("modal_type"),
        col("n").as("n_modal"))
      .orderBy("user_id")
  }

  /** runningConcurrency (ClickHouse): peak number of simultaneously open
    * intervals per user, each event opening a 4-hour interval. Sweep
    * line: every interval contributes a +1 at start and a -1 at its
    * EXCLUSIVE end; the running sum over (t, d) — ends sorting before
    * starts at ties, so back-to-back intervals don't count as overlap —
    * is the concurrency. One union (no join), one user-keyed window with
    * O(1) running state, one agg on the same key.
    */
  def runningConcurrency(spark: SparkSession, dir: String): DataFrame = {
    val base = table(spark, dir, "events")
      .select(col("user_id"), floor(unix_timestamp(col("ts"))).cast("long").as("s"))
    val pts = base.select(col("user_id"), col("s").as("t"), lit(1).as("d"))
      .unionByName(base.select(col("user_id"),
        (col("s") + lit(14400L)).as("t"), lit(-1).as("d")))
    val w = Window.partitionBy(col("user_id")).orderBy(col("t"), col("d"))
    pts
      .withColumn("conc", sum(col("d")).over(w))
      .groupBy(col("user_id"))
      .agg(max(col("conc")).cast("long").as("peak_concurrency"),
        count(when(col("d") === 1, 1)).as("n_intervals"))
      .orderBy("user_id")
  }

  /** groupBitmap-style behavior segmentation (ClickHouse groupBitmapOr /
    * bitmapToArray workflows): each user's early-window event-type SET as
    * a bitmask, histogrammed over the power set — "how many users did
    * views AND purchases but never signed up". Two map-side-combinable
    * hash aggs (8 bytes of state per user, then per mask). The date
    * filter applies post-decode (the fixtures' int64-nanos ts blocks
    * parquet predicate pushdown); on a date-partitioned warehouse layout
    * the same predicate prunes partitions.
    */
  def userTypeMask(spark: SparkSession, dir: String): DataFrame = {
    val bit = when(col("event_type") === "view", 1L)
      .when(col("event_type") === "click", 2L)
      .when(col("event_type") === "purchase", 4L)
      .when(col("event_type") === "signup", 8L)
      .when(col("event_type") === "error", 16L)
      .otherwise(0L)
    table(spark, dir, "events")
      .filter(to_date(col("ts")) <= lit("2024-01-02").cast("date"))
      .groupBy(col("user_id"))
      .agg(bit_or(bit).as("type_mask"))
      .groupBy(col("type_mask"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy("type_mask")
  }

  /** welchTTest (ClickHouse): two-sample t statistic with unequal
    * variances (view vs purchase values) plus the Welch–Satterthwaite
    * df. Both sides reduce to one-row (mean, var, n) aggregates — the
    * only join is a broadcast of two single rows (the HeavyHitters
    * one-row-crossJoin precedent); var_samp is a single-pass streaming
    * aggregate in both engines, and the t arithmetic is closed-form, so
    * the oracle shares it verbatim.
    */
  def welchTtest(spark: SparkSession, dir: String): DataFrame = {
    val s = table(spark, dir, "events")
      .filter(col("event_type").isin("view", "purchase"))
      .groupBy(col("event_type"))
      .agg(avg(col("value")).as("m"), var_samp(col("value")).as("v"),
        count(lit(1)).cast("double").as("n"))
    val a = s.filter(col("event_type") === "view")
      .select(col("m").as("am"), col("v").as("av"), col("n").as("an"))
    val b = s.filter(col("event_type") === "purchase")
      .select(col("m").as("bm"), col("v").as("bv"), col("n").as("bn"))
    val se2 = col("av") / col("an") + col("bv") / col("bn")
    a.crossJoin(broadcast(b))
      .select(
        round(col("am") - col("bm"), 4).as("mean_diff"),
        round((col("am") - col("bm")) / sqrt(se2), 5).as("t_stat"),
        round(pow(se2, 2) /
          (pow(col("av") / col("an"), 2) / (col("an") - 1) +
            pow(col("bv") / col("bn"), 2) / (col("bn") - 1)), 2).as("df_welch"),
        col("an").cast("long").as("n_a"), col("bn").cast("long").as("n_b"))
  }

  /** studentTTest (ClickHouse): the POOLED-variance two-sample t —
    * companion to [[welchTtest]] (which does not assume equal
    * variances). Same scale shape: one keyed agg to a 2-row moments
    * frame, then a broadcast cross of two 1-row sides; nothing beyond
    * (mean, var, n) per sample ever leaves the executors.
    */
  def studentTtest(spark: SparkSession, dir: String): DataFrame = {
    val s = table(spark, dir, "events")
      .filter(col("event_type").isin("view", "purchase"))
      .groupBy(col("event_type"))
      .agg(avg(col("value")).as("m"), var_samp(col("value")).as("v"),
        count(lit(1)).cast("double").as("n"))
    val a = s.filter(col("event_type") === "view")
      .select(col("m").as("am"), col("v").as("av"), col("n").as("an"))
    val b = s.filter(col("event_type") === "purchase")
      .select(col("m").as("bm"), col("v").as("bv"), col("n").as("bn"))
    val df = col("an") + col("bn") - 2
    val sp2 = ((col("an") - 1) * col("av") + (col("bn") - 1) * col("bv")) / df
    a.crossJoin(broadcast(b))
      .select(
        round(col("am") - col("bm"), 4).as("mean_diff"),
        round((col("am") - col("bm")) /
          sqrt(sp2 * (lit(1.0) / col("an") + lit(1.0) / col("bn"))), 5)
          .as("t_stat"),
        df.cast("long").as("df"),
        round(sqrt(sp2), 4).as("pooled_sd"),
        col("an").cast("long").as("n_a"), col("bn").cast("long").as("n_b"))
  }

  /** One-way ANOVA F across ALL event types on `value`. Decomposed so
    * nothing global is needed: one hash agg to a k-row
    * (n, mean, var) frame, then the grand mean and both sums of squares
    * fold over those k rows (SSB from the group means, SSW from the
    * group variances — the within-group squared deviations never
    * re-cross the network). Output is a single row.
    */
  def anovaOneway(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "events")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).cast("double").as("n"),
        avg(col("value")).as("m"), var_samp(col("value")).as("v"))
      .agg(
        count(lit(1)).cast("double").as("k"),
        sum(col("n")).as("ntot"),
        (sum(col("n") * col("m")) / sum(col("n"))).as("gm"),
        sum(col("n") * col("m") * col("m")).as("snm2"),
        sum((col("n") - 1) * col("v")).as("ssw"))
      .select(
        col("k").cast("long").as("k_groups"),
        col("ntot").cast("long").as("n_total"),
        round((col("snm2") - col("ntot") * col("gm") * col("gm")) /
          (col("k") - 1), 4).as("ms_between"),
        round(col("ssw") / (col("ntot") - col("k")), 4).as("ms_within"),
        round(((col("snm2") - col("ntot") * col("gm") * col("gm")) /
          (col("k") - 1)) / (col("ssw") / (col("ntot") - col("k"))), 5)
          .as("f_stat"))

  /** mannWhitneyUTest (ClickHouse): rank-sum test with average ranks at
    * ties (exact under duplicate values) and the normal-approximation z.
    * The ranking needs ONE global ordering — inherent to a rank
    * statistic: O(1) running-window state, a single output row. At
    * corpora where the global sort is unaffordable the registered
    * drop-in is [[mannWhitneyOffsets]] — the bit-identical bucketed
    * prefix-sum form (same oracle; selection guidance in QUERIES.md
    * "Choosing exact vs _offsets forms").
    */
  def mannWhitney(spark: SparkSession, dir: String): DataFrame = {
    val s = table(spark, dir, "events")
      .filter(col("event_type").isin("view", "purchase"))
      .select(col("event_type"), col("value"))
    val ar = rank().over(Window.orderBy(col("value"))) +
      (count(lit(1)).over(Window.partitionBy(col("value"))) - 1) / 2.0
    val isA = col("event_type") === "view"
    val agg = s.withColumn("ar", ar)
      .agg(
        sum(when(isA, col("ar")).otherwise(0.0)).as("r1"),
        sum(when(isA, 1).otherwise(0)).cast("double").as("n1"),
        sum(when(!isA, 1).otherwise(0)).cast("double").as("n2"))
    mwFinal(agg)
  }

  /** Shared U/z fold over an `(r1, n1, n2)` one-row frame — ONE
    * definition for the exact window form and the offsets twin, so the
    * test statistic cannot drift between them. All inputs are exact
    * doubles (rank sums are integer-or-half values), so both forms
    * produce bit-identical statistics. */
  private def mwFinal(agg: DataFrame): DataFrame = {
    val u = col("r1") - col("n1") * (col("n1") + 1) / 2
    agg.select(
      round(u, 1).as("u_stat"),
      round((u - col("n1") * col("n2") / 2) /
        sqrt(col("n1") * col("n2") * (col("n1") + col("n2") + 1) / 12), 5)
        .as("z_score"),
      col("n1").cast("long").as("n_a"), col("n2").cast("long").as("n_b"))
  }

  /** [[mannWhitney]] restated on the two-level prefix sum: aggregate to
    * the DISTINCT-VALUE grain first (n1v, tot per value), take the
    * exclusive prefix sum of `tot` in value order via
    * [[withRangeOffsets]], and the average rank is pure arithmetic —
    * ar(v) = off + (tot + 1)/2 — so r1 = Σ n1v·ar. Rank sums are
    * integer-or-half values (exact doubles), making the twin
    * bit-identical to the window form (same oracle SQL). On continuous
    * values the distinct grain equals the row grain — the point is not
    * compression but that NO single task ever holds the sort: every
    * per-value row is ranked inside its range bucket. The per-value
    * frame is cache-tracked — [[withRangeOffsets]] consumes it three
    * times (range probe, subtotals, main), the rfm-twin lesson. */
  def mannWhitneyOffsets(spark: SparkSession, dir: String): DataFrame = {
    val isA = col("event_type") === "view"
    val byV = table(spark, dir, "events")
      .filter(col("event_type").isin("view", "purchase"))
      .select(col("event_type"), col("value"))
      .groupBy(col("value"))
      .agg(sum(when(isA, 1L).otherwise(0L)).as("n1v"),
        count(lit(1)).as("tot"))
      .cacheTracked()
    val ranked = withRangeOffsets(byV, "value", Nil, "tot", 64, "off")
    val agg = ranked.agg(
      sum(col("n1v") * (col("off") + (col("tot") + 1) / lit(2.0))).as("r1"),
      sum(col("n1v")).cast("double").as("n1"),
      sum(col("tot") - col("n1v")).cast("double").as("n2"))
    mwFinal(agg)
  }

  /** [[rocAuc]] restated on the two-level prefix sum — the
    * [[mannWhitneyOffsets]] construction with the positive class in the
    * rank-sum role (AUC IS the normalized U statistic); bit-identical
    * output, same oracle SQL. Completes the total-order family's twin
    * coverage together with ks/rank-corr below. Per-value frame
    * cache-tracked like the siblings (three-consumer offsets pass). */
  def rocAucOffsets(spark: SparkSession, dir: String): DataFrame = {
    val isPos = col("event_type") === "purchase"
    val byV = table(spark, dir, "events")
      .filter(col("event_type").isin("view", "purchase"))
      .select(col("event_type"), col("value"))
      .groupBy(col("value"))
      .agg(sum(when(isPos, 1L).otherwise(0L)).as("pv"),
        count(lit(1)).as("tot"))
      .cacheTracked()
    withRangeOffsets(byV, "value", Nil, "tot", 64, "off")
      .agg(
        sum(col("pv") * (col("off") + (col("tot") + 1) / lit(2.0))).as("rp"),
        sum(col("pv")).cast("double").as("np"),
        sum(col("tot") - col("pv")).cast("double").as("nn"))
      .select(
        round((col("rp") - col("np") * (col("np") + 1) / 2) /
          (col("np") * col("nn")), 6).as("auc"),
        col("np").cast("long").as("n_pos"), col("nn").cast("long").as("n_neg"))
  }

  /** [[ksTest]] restated on the two-level prefix sum: the exact form's
    * RANGE-framed running counts give every row of a tied value the
    * full tie-group sum, so the per-distinct-value inclusive prefixes
    * (off + count) reproduce each row's ECDF gap exactly — d_stat is
    * the max over the same gap set, in the same IEEE expression
    * (integer counts divided by the long totals cast double).
    * Value-identical, same oracle SQL; no global value-ordered window.
    * The per-value frame and the first prefix pass are cache-tracked —
    * the second [[withRangeOffsets]] pass consumes its input three
    * times (range probe, subtotals, main), the rfm-twin lesson. */
  def ksTestOffsets(spark: SparkSession, dir: String): DataFrame = {
    val isA = col("event_type") === "view"
    val byV = table(spark, dir, "events")
      .filter(col("event_type").isin("view", "purchase"))
      .select(col("event_type"), col("value"))
      .groupBy(col("value"))
      .agg(sum(when(isA, 1L).otherwise(0L)).as("av"),
        sum(when(!isA, 1L).otherwise(0L)).as("bv"))
      .cacheTracked()
    val r1 = withRangeOffsets(byV, "value", Nil, "av", 64, "offa")
      .cacheTracked()
    val ranked = withRangeOffsets(r1, "value", Nil, "bv", 64, "offb")
    // the two class totals are ONE row over the cached per-value frame —
    // driver literals instead of a 1-row broadcast crossJoin (round 18,
    // same pattern as withRangeOffsets' min/max probe); long sums are
    // exact, and the literal expressions keep the original casts, so
    // d_stat/ks_norm are bit-identical
    val tRow = byV.agg(sum(col("av")), sum(col("bv"))).head
    val n1 = lit(if (tRow.isNullAt(0)) 0L else tRow.getLong(0))
    val n2 = lit(if (tRow.isNullAt(1)) 0L else tRow.getLong(1))
    val gap = abs(
      (col("offa") + col("av")) / n1.cast("double") -
        (col("offb") + col("bv")) / n2.cast("double"))
    ranked
      .agg(
        round(max(gap), 6).as("d_stat"),
        round(max(gap) * sqrt((n1 * n2).cast("double") /
          (n1 + n2)), 5).as("ks_norm"),
        n1.cast("long").as("n_a"),
        n2.cast("long").as("n_b"))
  }

  /** [[rankCorr]] restated on the two-level prefix sum: each average
    * rank becomes a per-distinct-value projection (off + (ties+1)/2)
    * joined back onto the per-user frame by the value itself —
    * identical rank multisets feed the same Pearson fold. Same oracle
    * SQL; the per-user aggregate is cache-tracked (two rank-projection
    * consumers + the final fold). */
  def rankCorrOffsets(spark: SparkSession, dir: String): DataFrame = {
    val perUser = table(spark, dir, "events")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).cast("double").as("x"), sum(col("value")).as("y"))
      .cacheTracked()
    def avgRankProj(c: String, out: String): DataFrame =
      withRangeOffsets(
        perUser.groupBy(col(c)).agg(count(lit(1)).as("_rc_tot")),
        c, Nil, "_rc_tot", 64, "_rc_off")
        .select(col(c),
          (col("_rc_off") + (col("_rc_tot") + 1) / lit(2.0)).as(out))
    perUser
      .join(avgRankProj("x", "rx"), "x")
      .join(avgRankProj("y", "ry"), "y")
      .agg(round(corr(col("rx"), col("ry")), 6).as("spearman_rho"),
        count(lit(1)).as("n_keys"))
  }

  /** cramersV (ClickHouse): categorical association between event type
    * and day-of-week from the chi-squared statistic of the contingency
    * table. The heavy pass is one map-side-combinable cell count
    * (|types| x 7 rows); the marginal/total windows and the chi-squared
    * fold run on that tiny frame. The dow LABELS differ across engines
    * (Spark 1..7 vs DuckDB 0..6) — irrelevant, chi2 is invariant to
    * category naming and the labels aggregate away.
    */
  def cramersV(spark: SparkSession, dir: String): DataFrame = {
    val cells = table(spark, dir, "events")
      .groupBy(col("event_type"), dayofweek(to_date(col("ts"))).as("dow"))
      .agg(count(lit(1)).cast("double").as("o"))
    val e = col("rt") * col("ct") / col("n")
    cells
      .withColumn("rt", sum(col("o")).over(Window.partitionBy(col("event_type"))))
      .withColumn("ct", sum(col("o")).over(Window.partitionBy(col("dow"))))
      .withColumn("n", sum(col("o")).over(Window.partitionBy()))
      .agg(
        sum(pow(col("o") - e, 2) / e).as("chi2"),
        first(col("n")).as("n"),
        countDistinct(col("event_type")).cast("double").as("r"),
        countDistinct(col("dow")).cast("double").as("c"))
      .select(round(col("chi2"), 4).as("chi2"),
        round(sqrt(col("chi2") / (col("n") * (least(col("r"), col("c")) - 1))), 6)
          .as("cramers_v"),
        round(sqrt(cvPhi2Bc / (least(cvRBc, cvCBc) - 1)), 6).as("cramers_v_bc"),
        round(sqrt(col("chi2") / (col("chi2") + col("n"))), 6).as("contingency"),
        ((col("r") - 1) * (col("c") - 1)).cast("long").as("dof"),
        col("n").cast("long").as("n"))
  }

  /** Bergsma's bias correction (ClickHouse cramersVBiasCorrected /
    * contingency, sharing [[cramersV]]'s cell frame): phi2 and the
    * table dims shrink by their chance expectation under independence.
    */
  private def cvPhi2Bc =
    greatest(lit(0.0),
      col("chi2") / col("n") -
        (col("r") - 1) * (col("c") - 1) / (col("n") - 1))
  private def cvRBc = col("r") - pow(col("r") - 1, 2) / (col("n") - 1)
  private def cvCBc = col("c") - pow(col("c") - 1, 2) / (col("n") - 1)

  /** seriesPeriodDetectFFT (ClickHouse): dominant-period detection per
    * series. ClickHouse runs a pocketfft periodogram; the same statistic
    * at a bounded candidate set is a plain Goertzel/DFT projection —
    * power(p) = (Σ xc·cos(2πt/p))² + (Σ xc·sin(2πt/p))² — which Spark
    * expresses as one crossJoin(broadcast(periods)) + keyed aggregate:
    * fully distributed, |series|×|periods| aggregate rows, no FFT
    * library, and (unlike an FFT) SQL-expressible for the DuckDB oracle.
    * Period resolution is the candidate grid, which for
    * calendar-seasonality detection (the forecasting use here) is the
    * 2..14-day range; an FFT only wins when the grid must be dense.
    */
  def periodogram(daily: DataFrame, maxPeriod: Int = 14): DataFrame = {
    val spark = daily.sparkSession
    val centered = daily.withColumn("xc",
      col("x") - avg(col("x")).over(Window.partitionBy(col("series"))))
    val periods = spark.range(2, maxPeriod + 1L).select(col("id").as("p"))
    val theta = lit(2 * math.Pi) * col("t") / col("p")
    centered.crossJoin(broadcast(periods))
      .groupBy(col("series"), col("p"))
      .agg((pow(sum(col("xc") * cos(theta)), 2) +
        pow(sum(col("xc") * sin(theta)), 2)).as("pw"))
  }

  def seriesPeriodDetect(spark: SparkSession, dir: String): DataFrame = {
    val daily = table(spark, dir, "events")
      .groupBy(col("event_type").as("series"),
        datediff(to_date(col("ts")), lit("2024-01-01").cast("date")).as("t"))
      .agg(count(lit(1)).cast("double").as("x"))
    periodogram(daily)
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("series")).orderBy(col("pw").desc, col("p"))))
      .filter(col("rn") === 1)
      .select(col("series").as("event_type"), col("p").as("best_period"),
        round(col("pw"), 1).as("power"))
      .orderBy("event_type")
  }

  /** retention (ClickHouse): condition-anchored retention — per user,
    * flag[1] = cond1 fired, flag[i>1] = cond1 AND condi both fired; the
    * report is the per-flag user count. Anchor = signup, retained
    * conditions = view / purchase after the user's first signup. One
    * user-keyed aggregate then a single fold — no joins, no windows.
    */
  def retentionConditions(spark: SparkSession, dir: String): DataFrame = {
    // "at/after first signup" folds into ONE aggregate via conditional
    // min/max — a view/purchase retains iff its MAX ts >= the first
    // signup ts — so no second scan and no join.
    val perUser = table(spark, dir, "events")
      .groupBy(col("user_id"))
      .agg(
        min(when(col("event_type") === "signup", col("ts"))).as("t0"),
        max(when(col("event_type") === "view", col("ts"))).as("tv"),
        max(when(col("event_type") === "purchase", col("ts"))).as("tp"))
    perUser.agg(
      sum(when(col("t0").isNotNull, 1).otherwise(0)).as("r1_signup"),
      sum(when(col("t0").isNotNull && col("tv") >= col("t0"), 1).otherwise(0))
        .as("r2_viewed"),
      sum(when(col("t0").isNotNull && col("tp") >= col("t0"), 1).otherwise(0))
        .as("r3_purchased"),
      count(lit(1)).as("n_users"))
  }

  /** corrMatrix / covarSampMatrix (ClickHouse): pairwise Pearson
    * correlation and sample covariance over the lineitem numeric columns
    * in ONE aggregate pass (all 6 pairs as parallel corr/covar_samp
    * aggregates — each is a streaming moment fold), unpivoted to the
    * long (col_x, col_y, corr, covar) form the matrix functions return.
    */
  def corrMatrix(spark: SparkSession, dir: String): DataFrame = {
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val pairs = for {
      i <- cols.indices; j <- cols.indices if i < j
    } yield (cols(i), cols(j))
    val aggs = pairs.flatMap { case (a, b) =>
      Seq(corr(col(a), col(b)).as(s"corr_${a}_$b"),
        covar_samp(col(a), col(b)).as(s"cov_${a}_$b"))
    }
    table(spark, dir, "lineitem")
      .agg(aggs.head, aggs.tail: _*)
      .select(explode(array(pairs.map { case (a, b) =>
        struct(lit(a).as("col_x"), lit(b).as("col_y"),
          (round(col(s"corr_${a}_$b"), 6) + lit(0.0)).as("corr"),
          (round(col(s"cov_${a}_$b"), 4) + lit(0.0)).as("covar"))
      }: _*)).as("s"))
      .select(col("s.col_x").as("col_x"), col("s.col_y").as("col_y"),
        col("s.corr").as("corr"), col("s.covar").as("covar"))
      .orderBy("col_x", "col_y")
  }

  /** arrayAUC (ClickHouse) / ROC-AUC: probability that a random positive
    * (purchase) outranks a random negative (view) on the score (value) —
    * computed via the rank identity AUC = (R_pos - n_pos(n_pos+1)/2) /
    * (n_pos n_neg) with average ranks at ties, i.e. the Mann-Whitney U
    * normalized. Same single-global-order caveat as [[mannWhitney]];
    * the registered scale drop-in is [[rocAucOffsets]] (bit-identical,
    * same oracle; selection guidance in QUERIES.md "Choosing exact vs
    * _offsets forms").
    */
  def rocAuc(spark: SparkSession, dir: String): DataFrame = {
    val s = table(spark, dir, "events")
      .filter(col("event_type").isin("view", "purchase"))
      .select(col("event_type"), col("value"))
    val ar = rank().over(Window.orderBy(col("value"))) +
      (count(lit(1)).over(Window.partitionBy(col("value"))) - 1) / 2.0
    val isPos = col("event_type") === "purchase"
    s.withColumn("ar", ar)
      .agg(
        sum(when(isPos, col("ar")).otherwise(0.0)).as("rp"),
        sum(when(isPos, 1).otherwise(0)).cast("double").as("np"),
        sum(when(!isPos, 1).otherwise(0)).cast("double").as("nn"))
      .select(
        round((col("rp") - col("np") * (col("np") + 1) / 2) /
          (col("np") * col("nn")), 6).as("auc"),
        col("np").cast("long").as("n_pos"), col("nn").cast("long").as("n_neg"))
  }

  /** seriesOutliersDetectTukey (ClickHouse): per-series Tukey-fence
    * outlier counts — values outside [q1 - 1.5 IQR, q3 + 1.5 IQR].
    * Exact interpolated quartiles per key (the quantiles_exact parity
    * precedent), broadcast back over one more scan for the fence counts.
    * The fence comparisons use the UNROUNDED quartiles on both sides so
    * the rounding grain can't flip a count. At corpus scale the exact
    * per-key percentile is the documented heavy piece — and since round
    * 12 the repo owns an EXACT no-buffer replacement: the
    * [[quantilesExactOffsets]] construction (keyed bucketed prefix
    * ranks + conditional-max order statistics) computes the same
    * interpolated quartiles without a per-key value array; the
    * approx_percentile form (quality_deciles_approx precedent) remains
    * the cheaper drop-in when approximate fences suffice. Exact form
    * vs [[seriesOutliersTukeyOffsets]]: selection guidance in
    * QUERIES.md "Choosing exact vs _offsets forms".
    */
  def seriesOutliersTukey(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.ExactQuantile
    // Exact fence arithmetic (ARCHITECTURE.md "Correctness strategy"):
    // quartiles interpolate integer cents (ExactQuantile — exact
    // quarter-cents), so the 1.5·IQR fences are exact eighth-cents,
    // the value-vs-fence comparisons compare exact numbers in both
    // engines, and the 4-dp fence output floor-rounds bit-identical
    // doubles. Same broadcast-quartile + one-pass-count shape.
    val evc = table(spark, dir, "events")
      .select(col("event_type"), round(col("value") * 100).cast("long").as("c"))
    val q = evc.groupBy(col("event_type"))
      .agg(sort_array(collect_list(col("c"))).as("cs"), count(lit(1)).as("n"))
      .select(col("event_type"), col("n"),
        ExactQuantile.interp(col("cs"), col("n"), 0.25).as("q1"),
        ExactQuantile.interp(col("cs"), col("n"), 0.75).as("q3"))
    tukeyTail(evc, q)
  }

  /** Shared Tukey-fence tail over a per-key quartile frame
    * `q(event_type, n, q1, q3)`: fence arithmetic, 4-dp output grain,
    * and the one-pass outlier counts — ONE definition for the buffered
    * exact form and the offsets twin so the fence semantics cannot
    * drift. */
  private def tukeyTail(evc: DataFrame, q: DataFrame): DataFrame = {
    val lo = col("q1") - lit(1.5) * (col("q3") - col("q1"))
    val hi = col("q3") + lit(1.5) * (col("q3") - col("q1"))
    evc.join(broadcast(q), "event_type")
      .groupBy(col("event_type"))
      .agg(
        (floor(first(lo) / 100.0 * 10000.0 + 0.5) / 10000.0).as("lo_fence"),
        (floor(first(hi) / 100.0 * 10000.0 + 0.5) / 10000.0).as("hi_fence"),
        sum(when(col("c") < lo, 1).otherwise(0)).as("n_low"),
        sum(when(col("c") > hi, 1).otherwise(0)).as("n_high"),
        first(col("n")).as("n"))
      .orderBy("event_type")
  }

  /** [[seriesOutliersTukey]] with the quartiles computed by the
    * no-array construction ([[quantilesExactOffsets]]'s keyed bucketed
    * prefix ranks + conditional-max order statistics) instead of a
    * sorted per-key array — the per-key value buffer was the one piece
    * of the exact form that grows with the key's row count. Quartile
    * interpolation mirrors ExactQuantile.interp token for token and the
    * fence tail is shared, so the output is value-identical (same
    * oracle SQL). */
  def seriesOutliersTukeyOffsets(spark: SparkSession, dir: String): DataFrame = {
    val evc = table(spark, dir, "events")
      .select(col("event_type"), round(col("value") * 100).cast("long").as("c"))
    val byV = evc.groupBy(col("event_type"), col("c").as("v"))
      .agg(count(lit(1)).as("cnt"))
      .cacheTracked()
    tukeyTail(evc, graft.operators.Packing.keyedQuantiles(
      byV, "event_type", Seq(0.25 -> "q1", 0.75 -> "q3")))
  }

  /** [[madPerGroup]] restated without EITHER of its per-key value
    * buffers: the median and the deviation median are both
    * [[graft.operators.Packing.keyedQuantiles]] picks over distinct-
    * value count grains (the second over the exact half-integer
    * absolute deviations, regrouped after a broadcast join of the
    * stage-1 medians). Every intermediate is an exact half/quarter
    * integer below 2^53, so the twin is bit-identical to the buffered
    * form and shares its oracle SQL. */
  def madPerGroupOffsets(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Packing
    val evc = table(spark, dir, "events")
      .select(col("event_type"), round(col("value") * 100).cast("long").as("c"))
    val byV = evc.groupBy(col("event_type"), col("c").as("v"))
      .agg(count(lit(1)).as("cnt"))
      .cacheTracked()
    val med = Packing.keyedQuantiles(byV, "event_type", Seq(0.5 -> "med_c"))
    val byDev = evc.join(broadcast(med.select(col("event_type"), col("med_c"))),
        Seq("event_type"))
      .select(col("event_type"), abs(col("c") - col("med_c")).as("v"))
      .groupBy(col("event_type"), col("v"))
      .agg(count(lit(1)).as("cnt"))
      .cacheTracked()
    val mad = Packing.keyedQuantiles(byDev, "event_type", Seq(0.5 -> "mad_c"))
    med.join(mad.select(col("event_type"), col("mad_c")), Seq("event_type"))
      .select(col("event_type"),
        (floor(col("med_c") / 100.0 * 10000.0 + 0.5) / 10000.0).as("med"),
        (floor(col("mad_c") / 100.0 * 10000.0 + 0.5) / 10000.0).as("mad"),
        col("n"))
      .orderBy("event_type")
  }

  /** kolmogorovSmirnovTest (ClickHouse, two-sample): D = max ECDF gap
    * between the view and purchase value distributions, plus the
    * sqrt(n1 n2 / (n1+n2))-normalized statistic. One global RANGE-framed
    * cumulative window (ties share the cumulative, so the ECDF is
    * well-defined under duplicates) — the quality_deciles/mann_whitney
    * global-ordering precedent: O(1) window state, one output row. The
    * registered scale drop-in is [[ksTestOffsets]] (identical gap set,
    * same oracle; selection guidance in QUERIES.md "Choosing exact vs
    * _offsets forms").
    */
  def ksTest(spark: SparkSession, dir: String): DataFrame = {
    val s = table(spark, dir, "events")
      .filter(col("event_type").isin("view", "purchase"))
      .select(col("event_type"), col("value"))
    val cum = Window.orderBy(col("value"))
    val all = Window.partitionBy()
    val isA = when(col("event_type") === "view", 1).otherwise(0)
    val isB = when(col("event_type") === "purchase", 1).otherwise(0)
    val gap = abs(col("c1") / col("n1").cast("double") -
      col("c2") / col("n2").cast("double"))
    s.withColumn("c1", sum(isA).over(cum))
      .withColumn("c2", sum(isB).over(cum))
      .withColumn("n1", sum(isA).over(all))
      .withColumn("n2", sum(isB).over(all))
      .agg(
        round(max(gap), 6).as("d_stat"),
        round(max(gap) * sqrt((first(col("n1")) * first(col("n2"))).cast("double") /
          (first(col("n1")) + first(col("n2")))), 5).as("ks_norm"),
        first(col("n1")).cast("long").as("n_a"),
        first(col("n2")).cast("long").as("n_b"))
  }

  /** rankCorr (ClickHouse): Spearman rank correlation with average ranks
    * at ties — here between per-user activity (event count) and per-user
    * total value. The heavy pass is the map-side-combinable per-user
    * aggregate; the rank windows run on the per-user frame (|users| rows,
    * orders of magnitude below |events|), then Pearson corr of the ranks.
    * Same global-ordering caveat as [[mannWhitney]]: a rank statistic
    * needs one total order, O(1) window state, one output row. The
    * registered scale drop-in is [[rankCorrOffsets]] (identical rank
    * multisets, same oracle; selection guidance in QUERIES.md
    * "Choosing exact vs _offsets forms").
    */
  def rankCorr(spark: SparkSession, dir: String): DataFrame = {
    val perUser = table(spark, dir, "events")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).cast("double").as("x"), sum(col("value")).as("y"))
    def avgRank(c: String) =
      rank().over(Window.orderBy(col(c))) +
        (count(lit(1)).over(Window.partitionBy(col(c))) - 1) / 2.0
    perUser
      .withColumn("rx", avgRank("x"))
      .withColumn("ry", avgRank("y"))
      .agg(round(corr(col("rx"), col("ry")), 6).as("spearman_rho"),
        count(lit(1)).as("n_keys"))
  }

  /** theilsU (ClickHouse): the uncertainty coefficient
    * U(X|Y) = (H(X) - H(X|Y)) / H(X) for X = event type, Y = day of week.
    * Both entropies fold over the contingency cells in ONE aggregate
    * (sum over cells of c/n ln(cx/n) telescopes to the marginal entropy,
    * so no distinct-marginal pass is needed); the only shuffle is the
    * map-side-combinable cell count. Label-naming invariant, so the
    * engines' different dow numbering is irrelevant.
    */
  def theilsU(spark: SparkSession, dir: String): DataFrame = {
    val cells = table(spark, dir, "events")
      .groupBy(col("event_type").as("x"), dayofweek(to_date(col("ts"))).as("y"))
      .agg(count(lit(1)).cast("double").as("c"))
    val hx = -sum(col("c") / col("n") * log(col("cx") / col("n")))
    val hxy = -sum(col("c") / col("n") * log(col("c") / col("cy")))
    cells
      .withColumn("n", sum(col("c")).over(Window.partitionBy()))
      .withColumn("cx", sum(col("c")).over(Window.partitionBy(col("x"))))
      .withColumn("cy", sum(col("c")).over(Window.partitionBy(col("y"))))
      .agg(round(hx, 6).as("h_x"), round(hxy, 6).as("h_x_given_y"),
        round((hx - hxy) / hx, 6).as("theils_u"),
        count(lit(1)).as("n_cells"))
  }

  /** simpleLinearRegression (ClickHouse): per-event-type least-squares
    * value ~ time fit from the population covariance/variance moments —
    * one map-side-combinable aggregate, no window, no second pass.
    * slope = covar_pop(y,x)/var_pop(x) — DuckDB REGR_SLOPE's arithmetic.
    * Reported as per-DAY slope plus the fitted value at a reference
    * date inside the data range: the classic epoch-0 intercept
    * amplifies any 1-ulp slope difference by mean(x) ~ 1.7e9 s, whereas
    * |x_ref - mean(x)| is bounded by the data span, so both outputs are
    * stable to far below the rounding grain across engines.
    */
  def linregSimple(spark: SparkSession, dir: String): DataFrame = {
    val xRef = 1705276800d // 2024-01-15, mid-range of the events fixture
    val x = (unix_micros(col("ts")) / lit(1e6)) // fractional epoch seconds, layout-proof
    val slope = col("cxy") / col("vx")
    table(spark, dir, "events")
      .groupBy(col("event_type"))
      .agg(covar_pop(col("value"), x).as("cxy"), var_pop(x).as("vx"),
        avg(col("value")).as("my"), avg(x).as("mx"), count(lit(1)).as("n"))
      .select(col("event_type"),
        round(slope * 86400d, 6).as("slope_per_day"),
        round(col("my") + slope * (lit(xRef) - col("mx")), 4).as("fit_at_ref"),
        col("n"))
      .orderBy("event_type")
  }

  /** ClickHouse URL-function family (`protocol` / `domain` /
    * `topLevelDomain` / `path` / `extractURLParameter`) exercised
    * end-to-end: the fixtures carry no URL column, so a deterministic URL
    * is synthesized per document, parsed back with the same regexes both
    * engines run, and rolled up. Construction AND parsing are codegen'd
    * projections; the only shuffle is the final (protocol, tld) hash agg.
    */
  def urlFunctions(spark: SparkSession, dir: String): DataFrame = {
    val url = concat_ws("",
      when(col("doc_id") % 2 === 0, lit("https")).otherwise(lit("http")),
      lit("://"), col("source"), lit(".example"),
      element_at(array(lit(".com"), lit(".org"), lit(".net")),
        (col("doc_id") % 3 + 1).cast("int")),
      lit("/docs/"), col("lang"), lit("/"), col("doc_id").cast("string"),
      lit("?page="), (col("doc_id") % 7).cast("string"),
      lit("&ref="), col("source"))
    table(spark, dir, "documents")
      .select(url.as("url"))
      .select(
        regexp_extract(col("url"), "^([a-z]+)://", 1).as("protocol"),
        regexp_extract(col("url"), "^[a-z]+://([^/?#]+)", 1).as("domain"),
        regexp_extract(col("url"), "^[a-z]+://[^/?#]+([^?#]*)", 1).as("path"),
        regexp_extract(col("url"), "[?&]page=([^&]*)", 1).cast("long").as("page"))
      .withColumn("tld", regexp_extract(col("domain"), "\\.([a-z]+)$", 1))
      .groupBy(col("protocol"), col("tld"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("domain")).as("n_domains"),
        countDistinct(col("path")).as("n_paths"),
        sum(col("page")).as("sum_page"))
      .orderBy("protocol", "tld")
  }

  /** First-order Markov transition matrix over per-user event paths —
    * the "what happens after X" follow-up to [[sequenceNextNode]], as a
    * full (prev, next) matrix with row-normalized probabilities. One
    * user-keyed window pass for the lag; the matrix itself is
    * |event_type|^2 rows, so the normalizing window is trivial.
    */
  def eventTransitions(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val wPrev = Window.partitionBy(col("prev_type"))
    table(spark, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type").as("next_type"))
      .withColumn("prev_type", lag(col("next_type"), 1).over(w))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("next_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("prob",
        round(col("n").cast("double") / sum(col("n")).over(wPrev), 6))
      .orderBy("prev_type", "next_type")
  }

  /** Autocorrelation function of the daily per-type event-count series at
    * lags 1..7 — the seasonality diagnostic behind
    * [[seriesPeriodDetect]], reported as the raw correlogram. The daily
    * series is one hash agg; the lag alignment is a broadcast self-join
    * of that (tiny) aggregate against its date-shifted self, so the raw
    * events shuffle exactly once. Counts are integer-valued doubles, so
    * corr() differs only in ulps across engines — rounded to 6.
    */
  def seriesAcf(spark: SparkSession, dir: String): DataFrame = {
    val daily = table(spark, dir, "events")
      .groupBy(col("event_type"), to_date(col("ts")).as("d"))
      .agg(count(lit(1)).cast("double").as("y"))
    val prior = daily
      .select(col("event_type"), col("d").as("d0"), col("y").as("y0"))
    daily
      .withColumn("lg", explode(sequence(lit(1), lit(7))))
      .withColumn("d0", date_sub(col("d"), col("lg")))
      .join(broadcast(prior), Seq("event_type", "d0"))
      .groupBy(col("event_type"), col("lg"))
      .agg(round(corr(col("y"), col("y0")), 6).as("acf"),
        count(lit(1)).as("n_pairs"))
      .select(col("event_type"), col("lg").cast("long").as("lg"),
        col("acf"), col("n_pairs"))
      .orderBy("event_type", "lg")
  }

  /** CUSUM changepoint scan per daily value series: the date maximizing
    * |cumsum(x - mean)| is the classic single-changepoint estimate. The
    * statistic is computed n-scaled on integer cents —
    * S_t = n*cumsum(x) - t*total — so every intermediate is exact integer
    * arithmetic under any aggregation order; only the final report
    * divides back to currency units. One hash agg to days, one
    * series-keyed window pass, top-1 per series.
    */
  def seriesCusum(spark: SparkSession, dir: String): DataFrame = {
    val wOrd = Window.partitionBy(col("event_type")).orderBy(col("d"))
    val wAll = Window.partitionBy(col("event_type"))
    val wPick = Window.partitionBy(col("event_type"))
      .orderBy(abs(col("s")).desc, col("d"))
    table(spark, dir, "events")
      .groupBy(col("event_type"), to_date(col("ts")).as("d"))
      .agg(sum(round(col("value") * 100).cast("long")).as("x"))
      .withColumn("t", row_number().over(wOrd))
      .withColumn("cum", sum(col("x")).over(wOrd))
      .withColumn("tot", sum(col("x")).over(wAll))
      .withColumn("nd", count(lit(1)).over(wAll))
      .withColumn("s", col("nd") * col("cum") - col("t") * col("tot"))
      .withColumn("rk", row_number().over(wPick))
      .filter(col("rk") === 1)
      .select(col("event_type"), col("d").as("change_date"),
        round(abs(col("s")).cast("double") /
          (col("nd").cast("double") * 100.0), 2).as("cusum_stat"),
        col("nd").as("n_days"))
      .orderBy("event_type")
  }

  /** Additive seasonal decomposition of the daily count series: trend =
    * centered 7-day moving average (full windows only), seasonal =
    * day-of-week mean of the detrended series — the classical-
    * decomposition seasonal estimate. Window frames are identical ROWS
    * frames in both engines; the 7-point averages are exact (integer
    * sums / 7), so only the final cross-day means carry float noise —
    * rounded to 4.
    */
  def seriesDecompose(spark: SparkSession, dir: String): DataFrame = {
    val wMa = Window.partitionBy(col("event_type")).orderBy(col("d"))
      .rowsBetween(-3, 3)
    table(spark, dir, "events")
      .groupBy(col("event_type"), to_date(col("ts")).as("d"))
      .agg(count(lit(1)).cast("double").as("y"))
      .withColumn("trend", avg(col("y")).over(wMa))
      .withColumn("wn", count(lit(1)).over(wMa))
      .filter(col("wn") === 7)
      .withColumn("dow", dayofweek(col("d")).cast("long"))
      .groupBy(col("event_type"), col("dow"))
      .agg(
        round(avg(col("y") - col("trend")), 4).as("seasonal"),
        round(stddev_samp(col("y") - col("trend")), 4).as("detrended_sd"),
        count(lit(1)).as("n_days"))
      .orderBy("event_type", "dow")
  }

  /** Median absolute deviation per group — the robust dispersion measure
    * (ClickHouse quantile-family territory). Two exact-median passes:
    * per-group median, broadcast back (group cardinality is tiny), then
    * the median of absolute deviations. Exact `percentile` buffers each
    * group's values, which is the oracle-able form; at corpus scale the
    * same shape runs on `approx_percentile` exactly as
    * `quality_deciles_approx` twins `quality_deciles`.
    */
  def madPerGroup(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.ExactQuantile
    // Exact end to end (ARCHITECTURE.md "Correctness strategy"): the
    // median over integer cents is an exact half-integer, each absolute
    // deviation is an exact half-integer, and the deviation median is an
    // exact quarter-integer — every value below 2^53, so both engines'
    // explicitly-stated interpolations (ExactQuantile) are bit-identical
    // and the 4-dp floor-rounds cannot diverge. Same broadcast-median +
    // second-pass shape as before; the registered no-array drop-in is
    // madPerGroupOffsets (same oracle; selection guidance in QUERIES.md
    // "Choosing exact vs _offsets forms").
    val med = table(spark, dir, "events")
      .groupBy(col("event_type"))
      .agg(sort_array(collect_list(
        round(col("value") * 100).cast("long"))).as("cs"),
        count(lit(1)).as("n"))
      .select(col("event_type"), col("n"),
        ExactQuantile.interp(col("cs"), col("n"), 0.5).as("med_c"))
    table(spark, dir, "events")
      .join(broadcast(med), Seq("event_type"))
      .select(col("event_type"), col("med_c"),
        abs(round(col("value") * 100).cast("long") - col("med_c")).as("dev"))
      .groupBy(col("event_type"))
      .agg(
        (floor(max(col("med_c")) / 100.0 * 10000.0 + 0.5) / 10000.0)
          .as("med"),
        (floor(ExactQuantile.interp(
          sort_array(collect_list(col("dev"))), count(lit(1)), 0.5)
          / 100.0 * 10000.0 + 0.5) / 10000.0).as("mad"),
        count(lit(1)).as("n"))
      .orderBy("event_type")
  }

  /** Two-feature multiple linear regression by distributed normal
    * equations: ONE scan accumulates the Gram-matrix sums (all
    * map-side-combinable), and the 2x2 system solves in a projection on
    * the single aggregate row via Cramer's rule — the
    * stochasticLinearRegression use case without per-row iteration, and
    * the textbook "model fit as aggregation" scale shape (the shuffle
    * carries ten doubles total). Identical closed form on both engines;
    * coefficients rounded to 4, R^2 to 6.
    */
  def multiLinreg(spark: SparkSession, dir: String): DataFrame = {
    val b1 = (col("c1y") * col("c22") - col("c2y") * col("c12")) / col("det")
    val b2 = (col("c11") * col("c2y") - col("c12") * col("c1y")) / col("det")
    table(spark, dir, "lineitem")
      .agg(
        count(lit(1)).cast("double").as("n"),
        sum(col("l_quantity")).as("s1"),
        sum(col("l_discount")).as("s2"),
        sum(col("l_extendedprice")).as("sy"),
        sum(col("l_quantity") * col("l_quantity")).as("s11"),
        sum(col("l_discount") * col("l_discount")).as("s22"),
        sum(col("l_quantity") * col("l_discount")).as("s12"),
        sum(col("l_quantity") * col("l_extendedprice")).as("s1y"),
        sum(col("l_discount") * col("l_extendedprice")).as("s2y"),
        sum(col("l_extendedprice") * col("l_extendedprice")).as("syy"))
      .withColumn("c11", col("s11") - col("s1") * col("s1") / col("n"))
      .withColumn("c22", col("s22") - col("s2") * col("s2") / col("n"))
      .withColumn("c12", col("s12") - col("s1") * col("s2") / col("n"))
      .withColumn("c1y", col("s1y") - col("s1") * col("sy") / col("n"))
      .withColumn("c2y", col("s2y") - col("s2") * col("sy") / col("n"))
      .withColumn("cyy", col("syy") - col("sy") * col("sy") / col("n"))
      .withColumn("det", col("c11") * col("c22") - col("c12") * col("c12"))
      .select(
        round((col("sy") - b1 * col("s1") - b2 * col("s2")) / col("n"), 4).as("b0"),
        round(b1, 4).as("b1"),
        round(b2, 4).as("b2"),
        round((b1 * col("c1y") + b2 * col("c2y")) / col("cyy"), 6).as("r2"),
        col("n").cast("long").as("n"))
  }

  /** Weighted sampling without replacement ([[Sampling.weightedKeyMd5]],
    * Efraimidis–Spirakis A-Res with the engine-independent md5 draw):
    * top-100 documents by ln(u)/n_chars, so the EXACT membership — not
    * just marginal inclusion rates — is pinned by the DuckDB oracle.
    * Longer documents win proportionally more often: the "sample by
    * token budget" curation draw. The key is a pure projection and the
    * selection a distributed top-k; the key is reported ppm-scaled
    * (values live in [-0.35, 0)) so the round keeps 4 significant
    * decimals.
    */
  def sampleWeighted(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "documents")
      .select(col("doc_id"), col("n_chars"),
        Sampling.weightedKeyMd5("doc_id", "n_chars").as("wkey"))
      .orderBy(col("wkey").desc, col("doc_id"))
      .limit(100)
      .select(col("doc_id"), col("n_chars"),
        round(col("wkey") * 1e6, 4).as("wkey_ppm"))
      .orderBy("doc_id")

  /** Pairwise audience overlap between event types (the ClickHouse
    * `bitmapAndCardinality` use case: which behaviors share users) with
    * Jaccard similarity. Pairs are generated THROUGH the user key — each
    * user's distinct types self-join on user_id, so the work is
    * users x |types|^2 (types is a small enum), never an all-pairs join
    * of audiences. The distinct frame feeds both join sides and the
    * totals, hence the persist; per-type totals broadcast back.
    */
  def audienceOverlap(spark: SparkSession, dir: String): DataFrame = {
    val ut = table(spark, dir, "events")
      .select(col("event_type"), col("user_id")).distinct()
      .cacheTracked()
    val totals = ut.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    ut.select(col("event_type").as("type_a"), col("user_id"))
      .join(ut.select(col("event_type").as("type_b"), col("user_id")),
        Seq("user_id"))
      .filter(col("type_a") < col("type_b"))
      .groupBy(col("type_a"), col("type_b"))
      .agg(count(lit(1)).as("n_both"))
      .join(broadcast(totals.select(col("event_type").as("type_a"),
        col("n").as("n_a"))), Seq("type_a"))
      .join(broadcast(totals.select(col("event_type").as("type_b"),
        col("n").as("n_b"))), Seq("type_b"))
      .select(col("type_a"), col("type_b"), col("n_both"), col("n_a"), col("n_b"),
        round(col("n_both").cast("double") /
          (col("n_a") + col("n_b") - col("n_both")), 6).as("jaccard"))
      .orderBy("type_a", "type_b")
  }

  /** Gini coefficient of per-customer revenue — the inequality summary
    * (ClickHouse-style analytic over a ranked aggregate). The global
    * rank window runs on the per-customer AGGREGATE (customer
    * cardinality), never the raw orders — the same aggregate-first
    * discipline as rank_corr. Ties in revenue don't affect the result:
    * sum(i * x) is invariant under permuting equal x. The registered
    * scale drop-in is [[giniRevenueOffsets]] (bit-identical, same
    * oracle, no single-task rank; selection guidance in QUERIES.md
    * "Choosing exact vs _offsets forms").
    */
  def giniRevenue(spark: SparkSession, dir: String): DataFrame = {
    // Exact-cents formulation (ARCHITECTURE.md "Correctness strategy"):
    // per-customer revenue as exact long cents makes the rank ORDER
    // deterministic (a double sum's ulp could swap near-equal neighbors
    // between engines and shift sum(i·rev)), Σi·rev and Σrev as
    // decimal(38,0) are exact, and gini/6-dp floor-rounds a
    // bit-identical quotient (cents cancel between num and denom).
    val wOrd = Window.orderBy(col("rev_c"), col("o_custkey"))
    table(spark, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("rev_c"))
      .withColumn("i", row_number().over(wOrd))
      .agg(
        sum((col("i").cast("decimal(18,0)") *
          col("rev_c").cast("decimal(18,0)"))).as("sir"),
        sum(col("rev_c").cast("decimal(18,0)")).as("sr"),
        count(lit(1)).as("n"))
      .select(
        (floor((lit(2.0) * col("sir").cast("double") /
          (col("n") * col("sr").cast("double")) -
          (col("n") + lit(1.0)) / col("n")) * 1000000.0 + 0.5) / 1000000.0)
          .as("gini"),
        col("n").as("n_customers"),
        (col("sr").cast("double") / 100.0).as("total_revenue"))
  }

  // ------------------------------------------------------------------
  // Scale twins of the global-sort analytics (round 12): gini_revenue,
  // rfm_segments and mann_whitney are total-order statistics whose
  // textbook plan is ONE un-partitioned window over the value grain —
  // fine at the fixture, a single-task bottleneck once the grain is a
  // 100x customer dimension. These twins restate the SAME statistic on
  // the repo's two-level distributed prefix sum (Packing.withOffsets):
  // contiguous VALUE-RANGE buckets (one O(1) min/max probe, broadcast),
  // per-bucket local windows, and the only global window over the
  // <= nBuckets subtotal rows. The rank arithmetic is exact and
  // bucketing-independent, so each twin is VALUE-IDENTICAL to its exact
  // sibling and shares its oracle SQL verbatim — the quality_deciles /
  // quality_deciles_approx pairing, but with no approximation at all.
  // WHICH FORM TO REGISTER where: see QUERIES.md "Choosing exact vs
  // _offsets forms" — the exact form wins while the ordered grain fits
  // one task's sort budget (twins cost 1-4x there); past it the exact
  // form dies rather than degrades, the twin stays linear.
  // ------------------------------------------------------------------

  /** Exclusive prefix sum of `valueCol` in ascending (`sortCol`,
    * `tieCols`) order without a single-task window: contiguous range
    * buckets over the sort value feed [[graft.operators.Packing
    * .withOffsets]]. Range buckets can be count-skewed on pathological
    * value distributions — each bucket still only processes its own
    * rows, and the offsets are bucketing-independent; hash-bucket
    * alternatives do not apply because the bucket must be monotone in
    * the sort value.
    */
  private def withRangeOffsets(df: DataFrame, sortCol: String,
      tieCols: Seq[String], valueCol: String, nBuckets: Int,
      offCol: String): DataFrame = {
    // min/max is ONE row over df — collected to the driver and rendered
    // as plan literals (the keyedQuantiles/withOffsets round-18 pattern,
    // guide §2.4/§5) instead of a broadcast 1-row crossJoin. The
    // crossJoin subtree previously re-ran the min/max aggregate in BOTH
    // consumers of the bucketed frame (the construct-time subtotal
    // collect and the main pass); the literal form computes it once.
    // The literal expression mirrors the column form token for token
    // (same types, same double casts), so bucket ids are bit-identical.
    val mmRow = df.agg(min(col(sortCol)), max(col(sortCol))).head
    val mnLit = lit(if (mmRow.isNullAt(0)) 0L else mmRow.get(0))
    val mxLit = lit(if (mmRow.isNullAt(1)) 0L else mmRow.get(1))
    val bucket = least(lit((nBuckets - 1).toLong),
      floor((col(sortCol) - mnLit).cast("double") * nBuckets /
        ((mxLit - mnLit).cast("double") + 1.0)).cast("long"))
    graft.operators.Packing
      .withOffsets(df, sortCol +: tieCols, valueCol, bucket, offCol)
  }

  /** Dense 1-based rank (row_number) of (`sortCol`, `tieCol`): the
    * unit-weight special case of [[withRangeOffsets]]. */
  private def rankByRange(df: DataFrame, sortCol: String, tieCol: String,
      nBuckets: Int, rankCol: String): DataFrame =
    withRangeOffsets(df.withColumn("_rk_one", lit(1L)), sortCol,
      Seq(tieCol), "_rk_one", nBuckets, rankCol)
      .withColumn(rankCol, col(rankCol) + 1)
      .drop("_rk_one")

  /** [[giniRevenue]] restated on the two-level prefix sum: rank i comes
    * from [[rankByRange]] instead of a global row_number window, the
    * Σi·rev / Σrev folds are unchanged exact decimals — value-identical
    * output (same oracle SQL), no single task ever holds the customer
    * dimension. */
  def giniRevenueOffsets(spark: SparkSession, dir: String): DataFrame = {
    val r = table(spark, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("rev_c"))
      .cacheTracked()
    rankByRange(r, "rev_c", "o_custkey", 64, "i")
      .agg(
        sum((col("i").cast("decimal(18,0)") *
          col("rev_c").cast("decimal(18,0)"))).as("sir"),
        sum(col("rev_c").cast("decimal(18,0)")).as("sr"),
        count(lit(1)).as("n"))
      .select(
        (floor((lit(2.0) * col("sir").cast("double") /
          (col("n") * col("sr").cast("double")) -
          (col("n") + lit(1.0)) / col("n")) * 1000000.0 + 0.5) / 1000000.0)
          .as("gini"),
        col("n").as("n_customers"),
        (col("sr").cast("double") / 100.0).as("total_revenue"))
  }

  /** ClickHouse IPv4 function family (IPv4NumToString / subnet rollup):
    * a deterministic 10.0.0.0/12 address is synthesized per user (the
    * fixtures carry no IP column), formatted dotted-quad, and rolled up
    * by /16 subnet. All integer arithmetic + string assembly — exact on
    * any engine; one hash agg on a 16-value key.
    */
  def ipFunctions(spark: SparkSession, dir: String): DataFrame = {
    val ip = lit(167772160L) + pmod(col("user_id") * 2654435761L, lit(1048576L))
    table(spark, dir, "events")
      .select(ip.as("ip"))
      .select(col("ip"),
        (floor(col("ip") / 65536).cast("long") % 256).as("o2"),
        (floor(col("ip") / 256).cast("long") % 256).as("o3"),
        (col("ip") % 256).as("o4"))
      .select(col("ip"), col("o2"),
        concat_ws(".", lit("10"), col("o2").cast("string"),
          col("o3").cast("string"), col("o4").cast("string")).as("dotted"))
      .groupBy(col("o2").as("subnet16"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("ip")).as("n_ips"),
        min(col("dotted")).as("first_ip"),
        max(col("dotted")).as("last_ip"))
      .orderBy("subnet16")
  }

  /** ClickHouse `greatCircleDistance`: haversine distance from a
    * per-user deterministic coordinate (no geo column in the fixtures)
    * to the origin, aggregated per event type. Pure projection trig
    * (identical closed form both engines, sin*sin instead of pow so no
    * library-pow divergence) + one hash agg; km rounded to 2 absorbs
    * any last-ulp libm difference.
    */
  def geoDistance(spark: SparkSession, dir: String): DataFrame = {
    val rad = math.Pi / 180.0
    val lat = (pmod(col("user_id") * 31L, lit(120L)).cast("double") - 60.0 + 0.5) * rad
    val lon = (pmod(col("user_id") * 17L, lit(360L)).cast("double") - 180.0 + 0.5) * rad
    val a = sin(lat / 2) * sin(lat / 2) +
      cos(lat) * sin(lon / 2) * sin(lon / 2)
    val dkm = lit(2 * 6371.0) * asin(sqrt(a))
    table(spark, dir, "events")
      .select(col("event_type"), dkm.as("dkm"))
      .groupBy(col("event_type"))
      .agg(round(avg(col("dkm")), 2).as("avg_km"),
        round(min(col("dkm")), 2).as("min_km"),
        round(max(col("dkm")), 2).as("max_km"),
        count(lit(1)).as("n"))
      .orderBy("event_type")
  }

  /** Mutual information (bits) between event type and day-of-week, with
    * both marginal entropies and the min-normalized MI — the dependence
    * summary complementing [[theilsU]] (which reports the asymmetric
    * uncertainty coefficient). Marginals come from windows over the
    * |X|x|Y| CELL aggregate (sum of cell counts per x is the x
    * marginal), so nothing beyond the first hash agg touches raw events.
    */
  def mutualInfo(spark: SparkSession, dir: String): DataFrame = {
    val wAll = Window.partitionBy()
    val wx = Window.partitionBy(col("x"))
    val wy = Window.partitionBy(col("y"))
    table(spark, dir, "events")
      .groupBy(col("event_type").as("x"), dayofweek(to_date(col("ts"))).as("y"))
      .agg(count(lit(1)).cast("double").as("c"))
      .withColumn("n", sum(col("c")).over(wAll))
      .withColumn("cx", sum(col("c")).over(wx))
      .withColumn("cy", sum(col("c")).over(wy))
      .agg(
        round(sum(col("c") / col("n") *
          log2(col("c") * col("n") / (col("cx") * col("cy")))), 6).as("mi_bits"),
        round(-sum(col("c") / col("n") * log2(col("cx") / col("n"))), 6).as("h_x"),
        round(-sum(col("c") / col("n") * log2(col("cy") / col("n"))), 6).as("h_y"),
        round(sum(col("c") / col("n") *
          log2(col("c") * col("n") / (col("cx") * col("cy")))) /
          least(-sum(col("c") / col("n") * log2(col("cx") / col("n"))),
            -sum(col("c") / col("n") * log2(col("cy") / col("n")))), 6).as("nmi"),
        count(lit(1)).as("n_cells"))
  }

  /** Last-touch attribution: every purchase credits the user's most
    * recent PRECEDING non-purchase event (the marketing-attribution
    * primitive; first purchases with no preceding touch report
    * '(none)'). One user-keyed window pass — `last(..., ignoreNulls)`
    * over an unbounded-preceding frame is O(1) incremental state per
    * row in both engines — then a tiny credit-type hash agg.
    */
  def attributionLastTouch(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    table(spark, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"),
        col("value"))
      .withColumn("touch",
        last(when(col("event_type") =!= "purchase", col("event_type")), true).over(w))
      .filter(col("event_type") === "purchase")
      .groupBy(coalesce(col("touch"), lit("(none)")).as("credited_to"))
      .agg(count(lit(1)).as("n_purchases"),
        round(sum(col("value")), 2).as("revenue"))
      .orderBy("credited_to")
  }

  /** Morton (Z-order) layout key over (user_id, value) — the multi-column
    * clustering key behind `OPTIMIZE ZORDER BY` style re-layouts (see
    * [[graft.operators.ZOrder]] for the row-group-pruning rationale). The
    * key derivation is a pure codegen'd projection (cast/floor/shift/
    * mask/or); the per-column bounds come from one tiny min/max aggregate
    * (4 doubles to the driver). The oracle replays the identical IEEE
    * arithmetic — bucket doubles then integer bit-interleave — so the
    * whole key path is hash-checked, making the layout sort key itself a
    * verified operator rather than a trust-me transform.
    */
  def zorderKey(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.ZOrder
    val ev = table(spark, dir, "events")
      .select(col("event_id"), col("user_id"), col("value"))
    val bs = ZOrder.bounds(ev, Seq("user_id", "value"))
    val buckets = bs.map { case (c, lo, hi) => ZOrder.unitBucket(col(c), lo, hi, 8) }
    ev.select(col("event_id"), ZOrder.mortonKey(buckets, 8).as("zkey"))
      .orderBy("event_id")
  }

  /** DuckDB replay of [[zorderKey]]: same bucket formula (double math in
    * the same association order, same MIN_NORMAL span floor, same clamp)
    * and the 8-bit x 2-column interleave unrolled as 16 shift/mask terms.
    */
  private def zorderOracle: String = {
    val bits = 8
    val mx = (1 << bits) - 1
    def bucket(c: String, lo: String, hi: String): String = {
      val span = s"GREATEST($hi - $lo, 2.2250738585072014e-308)"
      s"LEAST($mx, GREATEST(0, CAST(FLOOR((CAST($c AS DOUBLE) - $lo) / $span * ${1 << bits}) AS BIGINT)))"
    }
    val terms = for (i <- 0 until bits; j <- 0 until 2)
      yield s"(((b$j >> $i) & 1) << ${i * 2 + j})"
    "WITH b AS (SELECT CAST(MIN(user_id) AS DOUBLE) AS lo0, " +
      "CAST(MAX(user_id) AS DOUBLE) AS hi0, CAST(MIN(value) AS DOUBLE) AS lo1, " +
      "CAST(MAX(value) AS DOUBLE) AS hi1 FROM events), " +
      s"q AS (SELECT event_id, ${bucket("user_id", "b.lo0", "b.hi0")} AS b0, " +
      s"${bucket("value", "b.lo1", "b.hi1")} AS b1 FROM events, b) " +
      s"SELECT event_id, (${terms.mkString(" | ")}) AS zkey FROM q ORDER BY event_id"
  }

  /** Robust per-series anomaly flags: hourly value sums whose
    * median/MAD robust z-score exceeds 3.5 (the Iglewicz-Hoaglin
    * cutoff; 1.4826 scales MAD to sigma under normality). The
    * distribution-free twin of the model-based `forecast_anomalies` —
    * and unlike it, fully oracle-checkable: exact interpolated medians
    * on both engines (the mad_per_group precedent). Scale shape: the
    * hourly rollup is the only big shuffle; medians reduce per
    * event_type and join back broadcast-side.
    */
  def seriesAnomalyMad(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.ExactQuantile
    // Exact med/MAD pipeline in integer cents (ARCHITECTURE.md
    // "Correctness strategy"): hourly sums are exact longs, the medians
    // interpolate explicitly (ExactQuantile — half/quarter-cent exact),
    // z divides bit-identical doubles with the formula stated in the
    // same cent units on both sides, and robust_z floor-rounds. Same
    // persist + broadcast-medians shape as before.
    val hourly = table(spark, dir, "events")
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg(sum(round(col("value") * 100).cast("long")).as("vc"))
      .cacheTracked()
    val m = hourly.groupBy(col("event_type"))
      .agg(sort_array(collect_list(col("vc"))).as("cs"), count(lit(1)).as("n"))
      .select(col("event_type"),
        ExactQuantile.interp(col("cs"), col("n"), 0.5).as("med_c"))
    val md = hourly.join(broadcast(m), Seq("event_type"))
      .select(col("event_type"), abs(col("vc") - col("med_c")).as("dev"))
      .groupBy(col("event_type"))
      .agg(sort_array(collect_list(col("dev"))).as("ds"), count(lit(1)).as("n"))
      .select(col("event_type"),
        ExactQuantile.interp(col("ds"), col("n"), 0.5).as("mad_c"))
    val z = (col("vc") - col("med_c")) / (lit(1.4826) * col("mad_c"))
    hourly
      .join(broadcast(m), Seq("event_type"))
      .join(broadcast(md), Seq("event_type"))
      .filter(col("mad_c") > 0 && abs(z) > 3.5)
      .select(col("event_type"), col("h"),
        (col("vc").cast("double") / 100.0).as("v"),
        (floor(z * 10000.0 + 0.5) / 10000.0).as("robust_z"))
      .orderBy("event_type", "h")
  }

  /** Kendall rank correlation tau-b (ClickHouse `kendallTau`,
    * `rankCorr`'s sibling) between value and event time per series.
    * Spark side runs Knight's O(n log n) algorithm [public: Knight 1966,
    * JASA — the merge-sort inversion count scipy.stats.kendalltau uses]
    * per group via groupByKey.mapGroups: sort by (x, y), count discordant
    * pairs as strict y-inversions, tie-correct with the tau-b denominator.
    * The oracle replays the O(n²) pair-count definition — tractable at
    * oracle SF, and a genuinely independent derivation of the same
    * statistic. Per-group state is the series itself (the ForecastEngine
    * in-group-collect precedent: inherent to rank statistics, parallel
    * ACROSS series); counts stay in Long (exact to n ~ 4B rows/group).
    */
  def kendallTau(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    table(spark, dir, "events")
      .select(col("event_type"), col("value").as("x"),
        (unix_micros(col("ts")) / lit(1e6)).as("y"))
      .as[(String, Double, Double)]
      .groupByKey(_._1)
      .mapGroups { (et: String, it: Iterator[(String, Double, Double)]) =>
        val a = it.map(t => (t._2, t._3)).toArray
        scala.util.Sorting.stableSort(a,
          (p: (Double, Double), q: (Double, Double)) =>
            p._1 < q._1 || (p._1 == q._1 && p._2 < q._2))
        val n = a.length.toLong
        val tot = n * (n - 1) / 2
        var n1 = 0L; var n3 = 0L // x-ties, joint ties
        var i = 0
        while (i < a.length) {
          var j = i
          while (j < a.length && a(j)._1 == a(i)._1) j += 1
          val g = (j - i).toLong
          n1 += g * (g - 1) / 2
          var k = i
          while (k < j) {
            var l = k
            while (l < j && a(l)._2 == a(k)._2) l += 1
            val h = (l - k).toLong
            n3 += h * (h - 1) / 2
            k = l
          }
          i = j
        }
        val ys = a.map(_._2)
        val swaps = countInversions(ys) // = discordant pairs: equal-x runs
        // are y-sorted (contribute 0) and equal-y pairs are not strict
        val sortedY = ys.sorted
        var n2 = 0L
        i = 0
        while (i < sortedY.length) {
          var j = i
          while (j < sortedY.length && sortedY(j) == sortedY(i)) j += 1
          val g = (j - i).toLong
          n2 += g * (g - 1) / 2
          i = j
        }
        // c + d = tot - n1 - n2 + n3, d = swaps  =>  c - d:
        val conMinusDis = tot - n1 - n2 + n3 - 2 * swaps
        val denom = math.sqrt((tot - n1).toDouble * (tot - n2).toDouble)
        // HALF_UP, matching DuckDB ROUND and every other hash-checked
        // query (math.rint is half-to-even and could flip a 5e-7 boundary)
        val tau = if (denom == 0) 0.0
          else BigDecimal(conMinusDis / denom)
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        (et, n, tau)
      }
      .toDF("event_type", "n", "tau_b")
      .orderBy("event_type")
  }

  /** Merge-sort count of strict inversions (pairs i < j with y(i) > y(j)).
    * O(n log n), allocation bounded by one scratch array.
    */
  private def countInversions(ys: Array[Double]): Long = {
    val buf = new Array[Double](ys.length)
    def go(lo: Int, hi: Int): Long = { // [lo, hi)
      if (hi - lo < 2) 0L
      else {
        val mid = (lo + hi) >>> 1
        var inv = go(lo, mid) + go(mid, hi)
        var i = lo; var j = mid; var k = lo
        while (i < mid && j < hi) {
          if (ys(i) <= ys(j)) { buf(k) = ys(i); i += 1 }
          else { buf(k) = ys(j); j += 1; inv += mid - i }
          k += 1
        }
        while (i < mid) { buf(k) = ys(i); i += 1; k += 1 }
        while (j < hi) { buf(k) = ys(j); j += 1; k += 1 }
        System.arraycopy(buf, lo, ys, lo, hi - lo)
        inv
      }
    }
    go(0, ys.length)
  }

  /** Weight-of-evidence / Information Value per category (ClickHouse
    * `categoricalInformationValue`): the credit-scoring feature screen —
    * WoE = ln(P(cat|event)/P(cat|non-event)), IV term = (Pe - Pn) * WoE,
    * Laplace-smoothed (+0.5) so empty cells don't produce infinities.
    * Event = order status 'F' keyed by priority. One hash agg + a
    * broadcast one-row total — the conditionalAgg scale shape.
    */
  def categoricalIv(spark: SparkSession, dir: String): DataFrame = {
    val b = table(spark, dir, "orders")
      .groupBy(col("o_orderpriority").as("cat"))
      .agg(sum(when(col("o_orderstatus") === "F", 1).otherwise(0)).as("ev"),
        sum(when(col("o_orderstatus") === "F", 0).otherwise(1)).as("nev"))
    val t = b.agg(sum(col("ev")).as("tev"), sum(col("nev")).as("tnev"))
    val pe = (col("ev") + lit(0.5)) / (col("tev") + lit(0.5))
    val pn = (col("nev") + lit(0.5)) / (col("tnev") + lit(0.5))
    val woe = log(pe / pn)
    b.crossJoin(broadcast(t))
      .select(col("cat"), col("ev").cast("long").as("n_event"),
        col("nev").cast("long").as("n_nonevent"),
        round(woe, 6).as("woe"),
        round((pe - pn) * woe, 6).as("iv_term"))
      .orderBy("cat")
  }

  /** RFM segmentation — recency/frequency/monetary quintile labels, the
    * standard CRM cut. The three ntile(5) windows are GLOBAL sorts by
    * design (a quintile label is a total-order statistic), but they run
    * over the aggregated CUSTOMER grain, not the fact table — millions of
    * narrow rows at 100 TB of orders, one sort each; the registered
    * scale drop-in for a larger dimension is [[rfmSegmentsOffsets]] —
    * EXACT (not approximate) quintiles from bucketed ranks, same
    * oracle (selection guidance in QUERIES.md "Choosing exact vs
    * _offsets forms"). Ties order by customer key so the quintile cut
    * is deterministic on both engines.
    */
  def rfmSegments(spark: SparkSession, dir: String): DataFrame = {
    val o = table(spark, dir, "orders")
    val mx = o.agg(max(col("o_orderdate")).as("maxd"))
    // per-customer monetary in exact integer cents END TO END: the
    // previous form summed the 2-dp price DOUBLES per customer first, and
    // that sum's order-dependent ulp flipped the derived cents (and the
    // segment average's .005 rounding edges — surfaced at sf0.001);
    // integer cent sums are associative, so every downstream value —
    // ntile ordering included — is identical on both engines
    val c = o.crossJoin(broadcast(mx))
      .groupBy(col("o_custkey"))
      .agg(datediff(max(col("maxd")), max(col("o_orderdate"))).as("recency"),
        count(lit(1)).as("freq"),
        sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
    val s = c
      .withColumn("r", ntile(5).over(
        Window.orderBy(col("recency").desc, col("o_custkey"))))
      .withColumn("f", ntile(5).over(
        Window.orderBy(col("freq"), col("o_custkey"))))
      .withColumn("m", ntile(5).over(
        Window.orderBy(col("cents"), col("o_custkey"))))
    // floor-round to whole cents (NOT round(x, 2)): segment averages can
    // land on exact half-cent ties where the engines' round() diverges
    s.groupBy(concat(col("r"), col("f"), col("m")).as("segment"))
      .agg(count(lit(1)).as("n_customers"),
        (floor(sum(col("cents")).cast("double") / count(lit(1)) + 0.5) / 100.0)
          .as("avg_monetary"))
      .orderBy("segment")
  }

  /** Standard SQL NTILE(k) restated as pure rank arithmetic: with n
    * rows, q = n DIV k and r = n MOD k, the first r tiles hold q+1 rows
    * — identical to the window function on both engines, but computable
    * from a distributed dense rank. The dead-branch divisor is clamped
    * (the q = 0 case is fully covered by the first branch). */
  private def ntileArith(i: org.apache.spark.sql.Column,
      n: org.apache.spark.sql.Column, k: Int)
      : org.apache.spark.sql.Column = {
    val q = floor(n / k).cast("long")
    val r = n % k
    val cut = r * (q + 1)
    when(i <= cut, floor((i + q) / (q + 1)).cast("int"))
      .otherwise((r + floor((i - cut + q - 1) /
        greatest(q, lit(1L)))).cast("int"))
  }

  /** [[rfmSegments]] restated on the two-level prefix sum: the three
    * global ntile(5) windows become three bucketed dense ranks
    * ([[rankByRange]]) + the NTILE arithmetic ([[ntileArith]]) against
    * the broadcast customer count — value-identical segments (same
    * oracle SQL), and no single task ever sorts the customer dimension.
    * The customer aggregate is cache-tracked and each rank is a
    * SEPARATE (custkey, rank) projection joined back on the customer
    * key: chaining the rank passes instead would nest each pass's
    * window plan inside the next's three consumers (probe + subtotals
    * + main), re-executing pass 1 ~27x — measured 17 s vs ~2 s at
    * sf0.1. The three custkey-keyed joins are customer-grain shuffles,
    * the same exchange the exact form's ntile windows already pay. */
  def rfmSegmentsOffsets(spark: SparkSession, dir: String): DataFrame = {
    val o = table(spark, dir, "orders")
    // both scalar probes (global max orderdate, customer count) ride the
    // plan as driver literals instead of 1-row broadcast crossJoins
    // (round 18, the withRangeOffsets pattern): same number of input
    // passes, two fewer broadcast builds, and datediff/NTILE arithmetic
    // on a date/long literal is bit-identical to the column form
    val maxd = lit(o.agg(max(col("o_orderdate"))).head.get(0))
    val c = o
      .groupBy(col("o_custkey"))
      .agg(datediff(maxd, max(col("o_orderdate"))).as("recency"),
        count(lit(1)).as("freq"),
        sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
      .withColumn("negrec", -col("recency"))
      .cacheTracked()
    val nLit = lit(c.count())
    def rankProj(sortCol: String, rankCol: String): DataFrame =
      rankByRange(c.select(col("o_custkey"), col(sortCol)),
        sortCol, "o_custkey", 64, rankCol)
        .select(col("o_custkey"), col(rankCol))
    val s = c
      .join(rankProj("negrec", "_ri"), "o_custkey")
      .join(rankProj("freq", "_fi"), "o_custkey")
      .join(rankProj("cents", "_mi"), "o_custkey")
      .withColumn("r", ntileArith(col("_ri"), nLit, 5))
      .withColumn("f", ntileArith(col("_fi"), nLit, 5))
      .withColumn("m", ntileArith(col("_mi"), nLit, 5))
    s.groupBy(concat(col("r"), col("f"), col("m")).as("segment"))
      .agg(count(lit(1)).as("n_customers"),
        (floor(sum(col("cents")).cast("double") / count(lit(1)) + 0.5) / 100.0)
          .as("avg_monetary"))
      .orderBy("segment")
  }

  /** Terminal sparkline per series (ClickHouse `sparkbar(16)`): 16
    * event-time buckets per event_type, bucket counts scaled to the
    * eighth-block glyphs U+2581..U+2588, empty buckets rendered as a
    * space. Deterministic (ceil scaling, per-group max), so the bar
    * STRING itself hash-checks against the oracle. Scale shape: one
    * keyed agg to (group, bucket), then a per-group map rebuild — the
    * output is |groups| rows of 16 chars.
    */
  def sparkbar(spark: SparkSession, dir: String): DataFrame = {
    val ev = table(spark, dir, "events")
      .select(col("event_type"), (unix_micros(col("ts")) / lit(1e6)).as("s"))
    val rng = ev.groupBy("event_type")
      .agg(min(col("s")).as("mn"), max(col("s")).as("mx"))
    val bk = ev.join(broadcast(rng), Seq("event_type"))
      .withColumn("bucket", least(lit(15),
        floor(lit(16) * (col("s") - col("mn")) / (col("mx") - col("mn") + 1))
          .cast("int")))
      .groupBy(col("event_type"), col("bucket"))
      .agg(count(lit(1)).as("cnt"))
    bk.groupBy(col("event_type"))
      .agg(max(col("cnt")).as("mc"),
        map_from_entries(collect_list(struct(col("bucket"), col("cnt"))))
          .as("m"))
      .select(col("event_type"),
        array_join(transform(sequence(lit(0), lit(15)), i =>
          // Spark's chr() is mod-256 ASCII, so the block glyphs go
          // through a literal lookup: index 1 = space, 2..9 = U+2581..88
          element_at(
            array((" " +: (0x2581 to 0x2588).map(c =>
              new String(Character.toChars(c)))).map(lit): _*),
            when(element_at(col("m"), i).isNull, lit(1))
              .otherwise(greatest(lit(1), ceil(lit(8.0) *
                element_at(col("m"), i) / col("mc"))).cast("int") + lit(1)))), "")
          .as("bar"))
      .orderBy("event_type")
  }

  /** ClickHouse `deltaSum`: the sum of POSITIVE deltas of an ordered
    * series — counter-reset-tolerant throughput from a gauge (the
    * Prometheus `increase()` semantics). Ordered by (ts, event_id) so
    * the lag is deterministic under timestamp ties. One keyed window
    * pass + one hash agg; per-row window state is a single value.
    */
  def deltaSum(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    table(spark, dir, "events")
      .withColumn("prev", lag(col("value"), 1).over(w))
      .groupBy(col("event_type"))
      .agg(
        round(sum(when(col("value") > col("prev"),
          col("value") - col("prev")).otherwise(0.0)), 2).as("delta_sum"),
        sum(when(col("value") < col("prev"), 1L).otherwise(0L)).as("n_resets"))
      .orderBy("event_type")
  }

  private val rocAucOracle: String =
    ("WITH s AS (SELECT event_type, value FROM events " +
        "WHERE event_type IN ('view', 'purchase')), " +
        "ranked AS (SELECT event_type, " +
        "RANK() OVER (ORDER BY value) + (COUNT(*) OVER (PARTITION BY value) - 1) / 2.0 AS ar " +
        "FROM s), " +
        "agg AS (SELECT " +
        "SUM(CASE WHEN event_type = 'purchase' THEN ar ELSE 0 END) AS rp, " +
        "CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS DOUBLE) AS np, " +
        "CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS DOUBLE) AS nn " +
        "FROM ranked) " +
        "SELECT ROUND((rp - np * (np + 1) / 2) / (np * nn), 6) AS auc, " +
        "CAST(np AS BIGINT) AS n_pos, CAST(nn AS BIGINT) AS n_neg FROM agg")

  private val ksOracle: String =
    ("WITH s AS (SELECT value, event_type FROM events " +
        "WHERE event_type IN ('view', 'purchase')), " +
        "c AS (SELECT value, " +
        "SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) " +
        "OVER (ORDER BY value) AS c1, " +
        "SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) " +
        "OVER (ORDER BY value) AS c2, " +
        "SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) OVER () AS n1, " +
        "SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) OVER () AS n2 " +
        "FROM s) " +
        "SELECT ROUND(MAX(ABS(c1 / CAST(n1 AS DOUBLE) - c2 / CAST(n2 AS DOUBLE))), 6) " +
        "AS d_stat, " +
        "ROUND(MAX(ABS(c1 / CAST(n1 AS DOUBLE) - c2 / CAST(n2 AS DOUBLE))) * " +
        "sqrt(CAST(ANY_VALUE(n1) * ANY_VALUE(n2) AS DOUBLE) / " +
        "(ANY_VALUE(n1) + ANY_VALUE(n2))), 5) AS ks_norm, " +
        "CAST(ANY_VALUE(n1) AS BIGINT) AS n_a, CAST(ANY_VALUE(n2) AS BIGINT) AS n_b " +
        "FROM c")

  private val rankCorrOracle: String =
    ("WITH per_user AS (SELECT user_id, CAST(COUNT(*) AS DOUBLE) AS x, " +
        "SUM(value) AS y FROM events GROUP BY 1), " +
        "ranked AS (SELECT " +
        "RANK() OVER (ORDER BY x) + (COUNT(*) OVER (PARTITION BY x) - 1) / 2.0 AS rx, " +
        "RANK() OVER (ORDER BY y) + (COUNT(*) OVER (PARTITION BY y) - 1) / 2.0 AS ry " +
        "FROM per_user) " +
        "SELECT ROUND(CORR(rx, ry), 6) AS spearman_rho, COUNT(*) AS n_keys " +
        "FROM ranked")

  private val quantilesExactOracle: String =
    ("WITH g AS (SELECT l_returnflag, " +
        "LIST_SORT(LIST(CAST(ROUND(l_extendedprice * 100) AS BIGINT))) AS cs, " +
        "CAST(COUNT(*) AS BIGINT) AS n FROM lineitem GROUP BY 1) " +
        "SELECT l_returnflag, " +
        Seq("0.25" -> "p25", "0.5" -> "p50", "0.75" -> "p75", "0.9" -> "p90")
          .map { case (p, alias) =>
            // through the shared rendering, NOT hand-inlined: interpSql
            // forces p to DOUBLE, so h matches Spark's double h even for
            // non-binary-exact p (0.9) instead of DuckDB's DECIMAL h
            s"FLOOR(${graft.functions.ExactQuantile.interpSql("cs", "n", p)} " +
              s"+ 0.5) / 100 AS $alias"
          }.mkString(", ") +
        ", n FROM g ORDER BY l_returnflag")

  private val madOracle: String =
    ("WITH g AS (SELECT event_type, " +
        "LIST_SORT(LIST(CAST(ROUND(value * 100) AS BIGINT))) AS cs, " +
        "CAST(COUNT(*) AS BIGINT) AS n FROM events GROUP BY 1), " +
        "m AS (SELECT event_type, " +
        graft.functions.ExactQuantile.interpSql("cs", "n", "0.5") +
        " AS med_c FROM g), " +
        "d AS (SELECT e.event_type, " +
        "LIST_SORT(LIST(ABS(CAST(ROUND(e.value * 100) AS BIGINT) - m.med_c))) AS ds, " +
        "CAST(COUNT(*) AS BIGINT) AS n, MAX(m.med_c) AS med_c " +
        "FROM events e JOIN m ON e.event_type = m.event_type GROUP BY 1) " +
        "SELECT event_type, " +
        "FLOOR(med_c / 100 * 10000 + 0.5) / 10000 AS med, " +
        "FLOOR(" + graft.functions.ExactQuantile.interpSql("ds", "n", "0.5") +
        " / 100 * 10000 + 0.5) / 10000 AS mad, n " +
        "FROM d ORDER BY event_type")

  private val tukeyOracle: String =
    ("WITH g AS (SELECT event_type, " +
        "LIST_SORT(LIST(CAST(ROUND(value * 100) AS BIGINT))) AS cs, " +
        "CAST(COUNT(*) AS BIGINT) AS n FROM events GROUP BY 1), " +
        "q AS (SELECT event_type, n, " +
        graft.functions.ExactQuantile.interpSql("cs", "n", "0.25") + " AS q1, " +
        graft.functions.ExactQuantile.interpSql("cs", "n", "0.75") + " AS q3 " +
        "FROM g) " +
        "SELECT e.event_type, " +
        "FLOOR(ANY_VALUE(q1 - 1.5 * (q3 - q1)) / 100 * 10000 + 0.5) / 10000 AS lo_fence, " +
        "FLOOR(ANY_VALUE(q3 + 1.5 * (q3 - q1)) / 100 * 10000 + 0.5) / 10000 AS hi_fence, " +
        "CAST(SUM(CASE WHEN CAST(ROUND(e.value * 100) AS BIGINT) " +
        "< q1 - 1.5 * (q3 - q1) THEN 1 ELSE 0 END) AS BIGINT) AS n_low, " +
        "CAST(SUM(CASE WHEN CAST(ROUND(e.value * 100) AS BIGINT) " +
        "> q3 + 1.5 * (q3 - q1) THEN 1 ELSE 0 END) AS BIGINT) AS n_high, " +
        "ANY_VALUE(q.n) AS n " +
        "FROM events e JOIN q USING (event_type) " +
        "GROUP BY e.event_type ORDER BY 1")

  // ONE oracle per statistic, shared verbatim by the exact window form
  // and its offsets twin -- the twins are value-identical by design.
  private val giniOracle: String =
    ("WITH r AS (SELECT o_custkey, " +
        "SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS rev_c " +
        "FROM orders GROUP BY 1), " +
        "k AS (SELECT rev_c, ROW_NUMBER() OVER (ORDER BY rev_c, o_custkey) AS i " +
        "FROM r), " +
        "s AS (SELECT SUM(i * rev_c) AS sir, SUM(rev_c) AS sr, " +
        "CAST(COUNT(*) AS BIGINT) AS n FROM k) " +
        "SELECT FLOOR((2.0 * CAST(sir AS DOUBLE) / (n * CAST(sr AS DOUBLE)) - " +
        "(n + 1.0) / n) * 1000000 + 0.5) / 1000000 AS gini, " +
        "n AS n_customers, " +
        "CAST(sr AS DOUBLE) / 100 AS total_revenue FROM s")

  private val rfmOracle: String =
    ("WITH mx AS (SELECT MAX(o_orderdate) AS maxd FROM orders), " +
        "c AS (SELECT o_custkey, " +
        "date_diff('day', MAX(o_orderdate), maxd) AS recency, " +
        "COUNT(*) AS freq, " +
        "SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS cents " +
        "FROM orders, mx GROUP BY 1, maxd), " +
        "s AS (SELECT o_custkey, " +
        "NTILE(5) OVER (ORDER BY recency DESC, o_custkey) AS r, " +
        "NTILE(5) OVER (ORDER BY freq, o_custkey) AS f, " +
        "NTILE(5) OVER (ORDER BY cents, o_custkey) AS m, " +
        "cents FROM c) " +
        "SELECT r || f || m AS segment, CAST(COUNT(*) AS BIGINT) AS n_customers, " +
        "FLOOR(CAST(SUM(cents) AS DOUBLE) / COUNT(*) + 0.5) / 100 AS avg_monetary " +
        "FROM s GROUP BY 1 ORDER BY 1")

  private val mwOracle: String =
    ("WITH s AS (SELECT event_type, value FROM events " +
        "WHERE event_type IN ('view', 'purchase')), " +
        "r AS (SELECT event_type, RANK() OVER (ORDER BY value) + " +
        "(COUNT(*) OVER (PARTITION BY value) - 1) / 2.0 AS ar FROM s), " +
        "agg AS (SELECT " +
        "SUM(CASE WHEN event_type = 'view' THEN ar ELSE 0 END) AS r1, " +
        "CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS DOUBLE) AS n1, " +
        "CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS DOUBLE) AS n2 " +
        "FROM r) " +
        "SELECT ROUND(r1 - n1 * (n1 + 1) / 2, 1) AS u_stat, " +
        "ROUND((r1 - n1 * (n1 + 1) / 2 - n1 * n2 / 2) / " +
        "sqrt(n1 * n2 * (n1 + n2 + 1) / 12), 5) AS z_score, " +
        "CAST(n1 AS BIGINT) AS n_a, CAST(n2 AS BIGINT) AS n_b FROM agg")

  val entries: Seq[Entry] = Seq(
    Entry("delta_sum", deltaSum, Some(
      "WITH d AS (SELECT event_type, value, " +
        "LAG(value) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS prev " +
        "FROM events) " +
        "SELECT event_type, " +
        "ROUND(SUM(CASE WHEN value > prev THEN value - prev ELSE 0 END), 2) AS delta_sum, " +
        "CAST(SUM(CASE WHEN value < prev THEN 1 ELSE 0 END) AS BIGINT) AS n_resets " +
        "FROM d GROUP BY 1 ORDER BY 1")),
    Entry("kendall_tau", kendallTau, Some(
      "WITH e AS (SELECT event_id, event_type, value AS x, epoch(ts) AS y " +
        "FROM events), " +
        "g AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n FROM e GROUP BY 1), " +
        "p AS (SELECT a.event_type, " +
        "SUM(CASE WHEN (a.x - b.x) * (a.y - b.y) > 0 THEN 1 ELSE 0 END) AS c, " +
        "SUM(CASE WHEN (a.x - b.x) * (a.y - b.y) < 0 THEN 1 ELSE 0 END) AS d, " +
        "SUM(CASE WHEN a.x = b.x AND a.y <> b.y THEN 1 ELSE 0 END) AS tx, " +
        "SUM(CASE WHEN a.y = b.y AND a.x <> b.x THEN 1 ELSE 0 END) AS ty " +
        "FROM e a JOIN e b ON a.event_type = b.event_type " +
        "AND a.event_id < b.event_id GROUP BY 1) " +
        "SELECT p.event_type, g.n, " +
        "ROUND((c - d) / SQRT((c + d + tx) * (c + d + ty)), 6) AS tau_b " +
        "FROM p JOIN g ON p.event_type = g.event_type ORDER BY 1")),
    Entry("categorical_iv", categoricalIv, Some(
      "WITH b AS (SELECT o_orderpriority AS cat, " +
        "SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS ev, " +
        "SUM(CASE WHEN o_orderstatus = 'F' THEN 0 ELSE 1 END) AS nev " +
        "FROM orders GROUP BY 1), " +
        "t AS (SELECT SUM(ev) AS tev, SUM(nev) AS tnev FROM b) " +
        "SELECT cat, CAST(ev AS BIGINT) AS n_event, " +
        "CAST(nev AS BIGINT) AS n_nonevent, " +
        "ROUND(LN(((ev + 0.5) / (tev + 0.5)) / ((nev + 0.5) / (tnev + 0.5))), 6) AS woe, " +
        "ROUND(((ev + 0.5) / (tev + 0.5) - (nev + 0.5) / (tnev + 0.5)) * " +
        "LN(((ev + 0.5) / (tev + 0.5)) / ((nev + 0.5) / (tnev + 0.5))), 6) AS iv_term " +
        "FROM b, t ORDER BY 1")),
    Entry("rfm_segments", rfmSegments, Some(rfmOracle),
      note = "exact: three global ntile(5) windows over the customer grain; " +
        "100 TB path = rfm_segments_offsets"),
    Entry("rfm_segments_offsets", rfmSegmentsOffsets, Some(rfmOracle),
      note = "scale twin: three bucketed rank projections + exact NTILE " +
        "arithmetic, value-identical, same oracle; 2.4x under 30x"),
    Entry("sparkbar", sparkbar, Some(
      "WITH rng AS (SELECT event_type, MIN(epoch(ts)) AS mn, " +
        "MAX(epoch(ts)) AS mx FROM events GROUP BY 1), " +
        "bk AS (SELECT e.event_type, LEAST(15, CAST(FLOOR(16 * (epoch(ts) - mn) " +
        "/ (mx - mn + 1)) AS INT)) AS bucket, COUNT(*) AS cnt " +
        "FROM events e JOIN rng USING (event_type) GROUP BY 1, 2), " +
        "mxc AS (SELECT event_type, MAX(cnt) AS mc FROM bk GROUP BY 1), " +
        "grid AS (SELECT r.event_type, g.i AS bucket " +
        "FROM rng r, generate_series(0, 15) AS g(i)), " +
        "lv AS (SELECT grid.event_type, grid.bucket, " +
        "CASE WHEN cnt IS NULL THEN ' ' ELSE chr(CAST(9600 + GREATEST(1, " +
        "CAST(CEIL(8.0 * cnt / mc) AS INT)) AS INT)) END AS ch " +
        "FROM grid LEFT JOIN bk ON grid.event_type = bk.event_type " +
        "AND grid.bucket = bk.bucket " +
        "JOIN mxc ON mxc.event_type = grid.event_type) " +
        "SELECT event_type, string_agg(ch, '' ORDER BY bucket) AS bar " +
        "FROM lv GROUP BY 1 ORDER BY 1")),
    Entry("series_anomaly_mad", seriesAnomalyMad, Some(
      "WITH hourly AS (SELECT event_type, date_trunc('hour', ts) AS h, " +
        "SUM(CAST(ROUND(value * 100) AS BIGINT)) AS vc FROM events GROUP BY 1, 2), " +
        "g AS (SELECT event_type, LIST_SORT(LIST(vc)) AS cs, " +
        "CAST(COUNT(*) AS BIGINT) AS n FROM hourly GROUP BY 1), " +
        "m AS (SELECT event_type, " +
        graft.functions.ExactQuantile.interpSql("cs", "n", "0.5") +
        " AS med_c FROM g), " +
        "gd AS (SELECT hourly.event_type, " +
        "LIST_SORT(LIST(ABS(vc - med_c))) AS ds, CAST(COUNT(*) AS BIGINT) AS n " +
        "FROM hourly JOIN m USING (event_type) GROUP BY 1), " +
        "md AS (SELECT event_type, " +
        graft.functions.ExactQuantile.interpSql("ds", "n", "0.5") +
        " AS mad_c FROM gd) " +
        "SELECT hourly.event_type, h, CAST(vc AS DOUBLE) / 100 AS v, " +
        "FLOOR((vc - med_c) / (1.4826 * mad_c) * 10000 + 0.5) / 10000 AS robust_z " +
        "FROM hourly JOIN m USING (event_type) JOIN md USING (event_type) " +
        "WHERE mad_c > 0 AND ABS((vc - med_c) / (1.4826 * mad_c)) > 3.5 " +
        "ORDER BY 1, 2")),
    Entry("zorder_key", zorderKey, Some(zorderOracle)),
    Entry("attribution_last_touch", attributionLastTouch, Some(
      "WITH t AS (SELECT user_id, ts, event_id, event_type, value, " +
        "LAST_VALUE(CASE WHEN event_type <> 'purchase' THEN event_type END " +
        "IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch " +
        "FROM events) " +
        "SELECT COALESCE(touch, '(none)') AS credited_to, " +
        "CAST(COUNT(*) AS BIGINT) AS n_purchases, " +
        "ROUND(SUM(value), 2) AS revenue " +
        "FROM t WHERE event_type = 'purchase' GROUP BY 1 ORDER BY 1")),
    Entry("audience_overlap", audienceOverlap, Some(
      "WITH ut AS (SELECT DISTINCT event_type, user_id FROM events), " +
        "t AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n FROM ut GROUP BY 1), " +
        "p AS (SELECT a.event_type AS type_a, b.event_type AS type_b, " +
        "CAST(COUNT(*) AS BIGINT) AS n_both FROM ut a JOIN ut b " +
        "ON a.user_id = b.user_id AND a.event_type < b.event_type GROUP BY 1, 2) " +
        "SELECT type_a, type_b, n_both, ta.n AS n_a, tb.n AS n_b, " +
        "ROUND(CAST(n_both AS DOUBLE) / (ta.n + tb.n - n_both), 6) AS jaccard " +
        "FROM p JOIN t ta ON ta.event_type = type_a " +
        "JOIN t tb ON tb.event_type = type_b ORDER BY 1, 2")),
    Entry("gini_revenue", giniRevenue, Some(giniOracle),
      note = "exact global row_number window over the CUSTOMER grain — fine " +
        "at interactive grains; 100 TB path = gini_revenue_offsets"),
    Entry("gini_revenue_offsets", giniRevenueOffsets, Some(giniOracle),
      note = "scale twin on the two-level prefix sum: value-identical, same " +
        "oracle, no single-task sort; 2.5x under 30x at x30"),
    Entry("ip_functions", ipFunctions, Some(
      "WITH ips AS (SELECT 167772160 + (user_id * 2654435761) % 1048576 AS ip " +
        "FROM events), " +
        "o AS (SELECT ip, (ip // 65536) % 256 AS o2, (ip // 256) % 256 AS o3, " +
        "ip % 256 AS o4 FROM ips), " +
        "d AS (SELECT ip, o2, '10.' || CAST(o2 AS VARCHAR) || '.' || " +
        "CAST(o3 AS VARCHAR) || '.' || CAST(o4 AS VARCHAR) AS dotted FROM o) " +
        "SELECT CAST(o2 AS BIGINT) AS subnet16, CAST(COUNT(*) AS BIGINT) AS n_events, " +
        "CAST(COUNT(DISTINCT ip) AS BIGINT) AS n_ips, " +
        "MIN(dotted) AS first_ip, MAX(dotted) AS last_ip " +
        "FROM d GROUP BY 1 ORDER BY 1")),
    Entry("geo_distance", geoDistance, Some(
      "WITH c AS (SELECT event_type, " +
        "(CAST((user_id * 31) % 120 AS DOUBLE) - 60.0 + 0.5) * PI() / 180.0 AS lat, " +
        "(CAST((user_id * 17) % 360 AS DOUBLE) - 180.0 + 0.5) * PI() / 180.0 AS lon " +
        "FROM events), " +
        "h AS (SELECT event_type, 2 * 6371.0 * ASIN(SQRT(" +
        "SIN(lat / 2) * SIN(lat / 2) + " +
        "COS(lat) * SIN(lon / 2) * SIN(lon / 2))) AS dkm FROM c) " +
        "SELECT event_type, ROUND(AVG(dkm), 2) AS avg_km, " +
        "ROUND(MIN(dkm), 2) AS min_km, ROUND(MAX(dkm), 2) AS max_km, " +
        "CAST(COUNT(*) AS BIGINT) AS n FROM h GROUP BY 1 ORDER BY 1")),
    Entry("mutual_info", mutualInfo, Some(
      "WITH cells AS (SELECT event_type AS x, " +
        "dayofweek(CAST(ts AS DATE)) + 1 AS y, CAST(COUNT(*) AS DOUBLE) AS c " +
        "FROM events GROUP BY 1, 2), " +
        "m AS (SELECT x, y, c, SUM(c) OVER () AS n, " +
        "SUM(c) OVER (PARTITION BY x) AS cx, " +
        "SUM(c) OVER (PARTITION BY y) AS cy FROM cells) " +
        "SELECT ROUND(SUM(c / n * LOG2(c * n / (cx * cy))), 6) AS mi_bits, " +
        "ROUND(-SUM(c / n * LOG2(cx / n)), 6) AS h_x, " +
        "ROUND(-SUM(c / n * LOG2(cy / n)), 6) AS h_y, " +
        "ROUND(SUM(c / n * LOG2(c * n / (cx * cy))) / " +
        "LEAST(-SUM(c / n * LOG2(cx / n)), -SUM(c / n * LOG2(cy / n))), 6) AS nmi, " +
        "CAST(COUNT(*) AS BIGINT) AS n_cells FROM m")),
    Entry("url_functions", urlFunctions, Some(
      "WITH u AS (SELECT doc_id, " +
        "(CASE WHEN doc_id % 2 = 0 THEN 'https' ELSE 'http' END) || '://' || " +
        "source || '.example' || " +
        "(CASE doc_id % 3 WHEN 0 THEN '.com' WHEN 1 THEN '.org' ELSE '.net' END) || " +
        "'/docs/' || lang || '/' || CAST(doc_id AS VARCHAR) || " +
        "'?page=' || CAST(doc_id % 7 AS VARCHAR) || '&ref=' || source AS url " +
        "FROM documents), " +
        "p AS (SELECT regexp_extract(url, '^([a-z]+)://', 1) AS protocol, " +
        "regexp_extract(url, '^[a-z]+://([^/?#]+)', 1) AS domain, " +
        "regexp_extract(url, '^[a-z]+://[^/?#]+([^?#]*)', 1) AS path, " +
        "CAST(regexp_extract(url, '[?&]page=([^&]*)', 1) AS BIGINT) AS page " +
        "FROM u), " +
        "t AS (SELECT *, regexp_extract(domain, '\\.([a-z]+)$', 1) AS tld FROM p) " +
        "SELECT protocol, tld, CAST(COUNT(*) AS BIGINT) AS n, " +
        "CAST(COUNT(DISTINCT domain) AS BIGINT) AS n_domains, " +
        "CAST(COUNT(DISTINCT path) AS BIGINT) AS n_paths, " +
        "CAST(SUM(page) AS BIGINT) AS sum_page " +
        "FROM t GROUP BY 1, 2 ORDER BY 1, 2")),
    Entry("event_transitions", eventTransitions, Some(
      "WITH p AS (SELECT event_type AS next_type, " +
        "LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) " +
        "AS prev_type FROM events), " +
        "c AS (SELECT prev_type, next_type, CAST(COUNT(*) AS BIGINT) AS n " +
        "FROM p WHERE prev_type IS NOT NULL GROUP BY 1, 2) " +
        "SELECT prev_type, next_type, n, " +
        "ROUND(CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY prev_type), 6) AS prob " +
        "FROM c ORDER BY 1, 2")),
    Entry("series_acf", seriesAcf, Some(
      "WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS d, " +
        "CAST(COUNT(*) AS DOUBLE) AS y FROM events GROUP BY 1, 2), " +
        "lags AS (SELECT UNNEST(range(1, 8)) AS lg) " +
        "SELECT a.event_type, l.lg, ROUND(CORR(a.y, b.y), 6) AS acf, " +
        "CAST(COUNT(*) AS BIGINT) AS n_pairs " +
        "FROM daily a CROSS JOIN lags l " +
        "JOIN daily b ON b.event_type = a.event_type " +
        "AND b.d = a.d - CAST(l.lg AS INTEGER) " +
        "GROUP BY 1, 2 ORDER BY 1, 2")),
    Entry("series_cusum", seriesCusum, Some(
      "WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS d, " +
        "SUM(CAST(round(value * 100) AS BIGINT)) AS x " +
        "FROM events GROUP BY 1, 2), " +
        "c AS (SELECT event_type, d, " +
        "ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY d) AS t, " +
        "SUM(x) OVER (PARTITION BY event_type ORDER BY d) AS cum, " +
        "SUM(x) OVER (PARTITION BY event_type) AS tot, " +
        "COUNT(*) OVER (PARTITION BY event_type) AS nd FROM daily), " +
        "s AS (SELECT *, nd * cum - t * tot AS s FROM c), " +
        "r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type " +
        "ORDER BY ABS(s) DESC, d) AS rk FROM s) " +
        "SELECT event_type, d AS change_date, " +
        "ROUND(CAST(ABS(s) AS DOUBLE) / (CAST(nd AS DOUBLE) * 100.0), 2) " +
        "AS cusum_stat, CAST(nd AS BIGINT) AS n_days " +
        "FROM r WHERE rk = 1 ORDER BY 1")),
    Entry("series_decompose", seriesDecompose, Some(
      "WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS d, " +
        "CAST(COUNT(*) AS DOUBLE) AS y FROM events GROUP BY 1, 2), " +
        "t AS (SELECT *, AVG(y) OVER (PARTITION BY event_type ORDER BY d " +
        "ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS trend, " +
        "COUNT(*) OVER (PARTITION BY event_type ORDER BY d " +
        "ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS wn FROM daily) " +
        "SELECT event_type, CAST(dayofweek(d) + 1 AS BIGINT) AS dow, " +
        "ROUND(AVG(y - trend), 4) AS seasonal, " +
        "ROUND(STDDEV_SAMP(y - trend), 4) AS detrended_sd, " +
        "CAST(COUNT(*) AS BIGINT) AS n_days " +
        "FROM t WHERE wn = 7 GROUP BY 1, 2 ORDER BY 1, 2")),
    Entry("mad_per_group", madPerGroup, Some(madOracle),
      note = "exact: two per-key sorted arrays (median + deviation median); 100 TB path = " +
        "mad_per_group_offsets"),
    Entry("mad_per_group_offsets", madPerGroupOffsets, Some(madOracle),
      note = "scale twin: two chained keyedQuantiles picks, bit-identical MAD, same oracle"),
    Entry("multi_linreg", multiLinreg, Some(
      "WITH s AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n, " +
        "SUM(l_quantity) AS s1, SUM(l_discount) AS s2, " +
        "SUM(l_extendedprice) AS sy, " +
        "SUM(l_quantity * l_quantity) AS s11, " +
        "SUM(l_discount * l_discount) AS s22, " +
        "SUM(l_quantity * l_discount) AS s12, " +
        "SUM(l_quantity * l_extendedprice) AS s1y, " +
        "SUM(l_discount * l_extendedprice) AS s2y, " +
        "SUM(l_extendedprice * l_extendedprice) AS syy FROM lineitem), " +
        "c AS (SELECT *, s11 - s1 * s1 / n AS c11, s22 - s2 * s2 / n AS c22, " +
        "s12 - s1 * s2 / n AS c12, s1y - s1 * sy / n AS c1y, " +
        "s2y - s2 * sy / n AS c2y, syy - sy * sy / n AS cyy FROM s), " +
        "d AS (SELECT *, c11 * c22 - c12 * c12 AS det FROM c), " +
        "b AS (SELECT *, (c1y * c22 - c2y * c12) / det AS b1, " +
        "(c11 * c2y - c12 * c1y) / det AS b2 FROM d) " +
        "SELECT ROUND((sy - b1 * s1 - b2 * s2) / n, 4) AS b0, " +
        "ROUND(b1, 4) AS b1, ROUND(b2, 4) AS b2, " +
        "ROUND((b1 * c1y + b2 * c2y) / cyy, 6) AS r2, " +
        "CAST(n AS BIGINT) AS n FROM b")),
    Entry("sample_weighted", sampleWeighted, Some(
      "WITH k AS (SELECT doc_id, n_chars, " +
        "LN((CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6) " +
        "AS INTEGER) AS DOUBLE) + 0.5) / 16777216.0) / n_chars AS wkey " +
        "FROM documents), " +
        "top AS (SELECT * FROM k ORDER BY wkey DESC, doc_id LIMIT 100) " +
        "SELECT doc_id, n_chars, ROUND(wkey * 1e6, 4) AS wkey_ppm " +
        "FROM top ORDER BY doc_id")),
    Entry("rank_corr", rankCorr, Some(rankCorrOracle),
      note = "exact: two global avg-rank windows over the per-user grain; 100 TB path = " +
        "rank_corr_offsets"),
    Entry("rank_corr_offsets", rankCorrOffsets, Some(rankCorrOracle),
      note = "scale twin: per-value rank projections joined back, identical rank multisets, same " +
        "oracle; 2.4x under 30x"),
    Entry("theils_u", theilsU, Some(
      "WITH cells AS (SELECT event_type AS x, dayofweek(CAST(ts AS DATE)) + 1 AS y, " +
        "CAST(COUNT(*) AS DOUBLE) AS c FROM events GROUP BY 1, 2), " +
        "tot AS (SELECT x, y, c, SUM(c) OVER () AS n, " +
        "SUM(c) OVER (PARTITION BY x) AS cx, " +
        "SUM(c) OVER (PARTITION BY y) AS cy FROM cells) " +
        "SELECT ROUND(-SUM(c / n * LN(cx / n)), 6) AS h_x, " +
        "ROUND(-SUM(c / n * LN(c / cy)), 6) AS h_x_given_y, " +
        "ROUND((-SUM(c / n * LN(cx / n)) + SUM(c / n * LN(c / cy))) / " +
        "(-SUM(c / n * LN(cx / n))), 6) AS theils_u, " +
        "COUNT(*) AS n_cells FROM tot")),
    Entry("linreg_simple", linregSimple, Some(
      "SELECT event_type, " +
        "ROUND(REGR_SLOPE(value, EPOCH(ts)) * 86400, 6) AS slope_per_day, " +
        "ROUND(AVG(value) + REGR_SLOPE(value, EPOCH(ts)) * " +
        "(1705276800 - AVG(EPOCH(ts))), 4) AS fit_at_ref, " +
        "COUNT(*) AS n " +
        "FROM events GROUP BY 1 ORDER BY 1")),
    Entry("cramers_v", cramersV, Some(
      "WITH cells AS (SELECT event_type, dayofweek(CAST(ts AS DATE)) + 1 AS dow, " +
        "CAST(COUNT(*) AS DOUBLE) AS o FROM events GROUP BY 1, 2), " +
        "tot AS (SELECT event_type, dow, o, " +
        "SUM(o) OVER (PARTITION BY event_type) AS rt, " +
        "SUM(o) OVER (PARTITION BY dow) AS ct, " +
        "SUM(o) OVER () AS n FROM cells), " +
        "chi AS (SELECT SUM(POW(o - rt * ct / n, 2) / (rt * ct / n)) AS chi2, " +
        "ANY_VALUE(n) AS n, " +
        "CAST(COUNT(DISTINCT event_type) AS DOUBLE) AS r, " +
        "CAST(COUNT(DISTINCT dow) AS DOUBLE) AS c FROM tot) " +
        "SELECT ROUND(chi2, 4) AS chi2, " +
        "ROUND(sqrt(chi2 / (n * (LEAST(r, c) - 1))), 6) AS cramers_v, " +
        "ROUND(sqrt(GREATEST(0, chi2 / n - (r - 1) * (c - 1) / (n - 1)) / " +
        "(LEAST(r - POW(r - 1, 2) / (n - 1), c - POW(c - 1, 2) / (n - 1)) - 1)), 6) " +
        "AS cramers_v_bc, " +
        "ROUND(sqrt(chi2 / (chi2 + n)), 6) AS contingency, " +
        "CAST((r - 1) * (c - 1) AS BIGINT) AS dof, CAST(n AS BIGINT) AS n " +
        "FROM chi")),
    Entry("retention_conditions", retentionConditions, Some(
      "WITH per_user AS (SELECT user_id, " +
        "MIN(CASE WHEN event_type = 'signup' THEN ts END) AS t0, " +
        "MAX(CASE WHEN event_type = 'view' THEN ts END) AS tv, " +
        "MAX(CASE WHEN event_type = 'purchase' THEN ts END) AS tp " +
        "FROM events GROUP BY 1) " +
        "SELECT " +
        "CAST(SUM(CASE WHEN t0 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS r1_signup, " +
        "CAST(SUM(CASE WHEN t0 IS NOT NULL AND tv >= t0 THEN 1 ELSE 0 END) AS BIGINT) AS r2_viewed, " +
        "CAST(SUM(CASE WHEN t0 IS NOT NULL AND tp >= t0 THEN 1 ELSE 0 END) AS BIGINT) AS r3_purchased, " +
        "COUNT(*) AS n_users FROM per_user")),
    Entry("corr_matrix", corrMatrix, Some(
      "WITH pairs AS (SELECT " +
        "CORR(l_quantity, l_extendedprice) AS c12, COVAR_SAMP(l_quantity, l_extendedprice) AS v12, " +
        "CORR(l_quantity, l_discount) AS c13, COVAR_SAMP(l_quantity, l_discount) AS v13, " +
        "CORR(l_quantity, l_tax) AS c14, COVAR_SAMP(l_quantity, l_tax) AS v14, " +
        "CORR(l_extendedprice, l_discount) AS c23, COVAR_SAMP(l_extendedprice, l_discount) AS v23, " +
        "CORR(l_extendedprice, l_tax) AS c24, COVAR_SAMP(l_extendedprice, l_tax) AS v24, " +
        "CORR(l_discount, l_tax) AS c34, COVAR_SAMP(l_discount, l_tax) AS v34 " +
        "FROM lineitem) " +
        "SELECT u.col_x, u.col_y, ROUND(u.c, 6) + 0.0 AS corr, ROUND(u.v, 4) + 0.0 AS covar " +
        "FROM pairs, LATERAL (VALUES " +
        "('l_quantity', 'l_extendedprice', c12, v12), " +
        "('l_quantity', 'l_discount', c13, v13), " +
        "('l_quantity', 'l_tax', c14, v14), " +
        "('l_extendedprice', 'l_discount', c23, v23), " +
        "('l_extendedprice', 'l_tax', c24, v24), " +
        "('l_discount', 'l_tax', c34, v34)) AS u(col_x, col_y, c, v) " +
        "ORDER BY 1, 2")),
    Entry("series_period_detect", seriesPeriodDetect, Some(
      "WITH daily AS (SELECT event_type AS series, " +
        "date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS t, " +
        "CAST(COUNT(*) AS DOUBLE) AS x FROM events GROUP BY 1, 2), " +
        "centered AS (SELECT series, t, " +
        "x - AVG(x) OVER (PARTITION BY series) AS xc FROM daily), " +
        "power AS (SELECT series, p.p, " +
        "POW(SUM(xc * COS(2 * PI() * t / p.p)), 2) + " +
        "POW(SUM(xc * SIN(2 * PI() * t / p.p)), 2) AS pw " +
        "FROM centered, (SELECT UNNEST(generate_series(2, 14)) AS p) p " +
        "GROUP BY 1, 2), " +
        "ranked AS (SELECT series, p, pw, " +
        "ROW_NUMBER() OVER (PARTITION BY series ORDER BY pw DESC, p) AS rn " +
        "FROM power) " +
        "SELECT series AS event_type, p AS best_period, ROUND(pw, 1) AS power " +
        "FROM ranked WHERE rn = 1 ORDER BY 1")),
    Entry("roc_auc", rocAuc, Some(rocAucOracle),
      note = "exact: one global rank window (the normalized U); 100 TB path = roc_auc_offsets"),
    Entry("roc_auc_offsets", rocAucOffsets, Some(rocAucOracle),
      note = "scale twin: per-value bucketed prefix sum, bit-identical AUC, same oracle; 1.6x " +
        "under 30x"),
    Entry("series_outliers_tukey", seriesOutliersTukey, Some(tukeyOracle),
      note = "exact: per-key sorted cent array for the quartiles; 100 TB path = " +
        "series_outliers_tukey_offsets"),
    Entry("series_outliers_tukey_offsets", seriesOutliersTukeyOffsets, Some(tukeyOracle),
      note = "scale twin: no-array offsets quartiles + the shared fence tail, same oracle"),
    Entry("ks_test", ksTest, Some(ksOracle),
      note = "exact: RANGE-framed running ECDFs over one global order; 100 TB path = " +
        "ks_test_offsets"),
    Entry("ks_test_offsets", ksTestOffsets, Some(ksOracle),
      note = "scale twin: two bucketed prefix passes, identical gap set and d_stat, same oracle; " +
        "3.1x under 30x"),
    Entry("mann_whitney", mannWhitney, Some(mwOracle),
      note = "exact: one global rank window over the value grain; 100 TB " +
        "path = mann_whitney_offsets"),
    Entry("mann_whitney_offsets", mannWhitneyOffsets, Some(mwOracle),
      note = "scale twin: per-value bucketed prefix sum, bit-identical " +
        "statistic, same oracle; 2.2x under 30x"),
    Entry("welch_ttest", welchTtest, Some(
      "WITH s AS (SELECT event_type, AVG(value) AS m, VAR_SAMP(value) AS v, " +
        "CAST(COUNT(*) AS DOUBLE) AS n FROM events " +
        "WHERE event_type IN ('view', 'purchase') GROUP BY 1), " +
        "a AS (SELECT m, v, n FROM s WHERE event_type = 'view'), " +
        "b AS (SELECT m, v, n FROM s WHERE event_type = 'purchase') " +
        "SELECT ROUND(a.m - b.m, 4) AS mean_diff, " +
        "ROUND((a.m - b.m) / sqrt(a.v / a.n + b.v / b.n), 5) AS t_stat, " +
        "ROUND(POW(a.v / a.n + b.v / b.n, 2) / " +
        "(POW(a.v / a.n, 2) / (a.n - 1) + POW(b.v / b.n, 2) / (b.n - 1)), 2) " +
        "AS df_welch, " +
        "CAST(a.n AS BIGINT) AS n_a, CAST(b.n AS BIGINT) AS n_b FROM a, b")),
    Entry("student_ttest", studentTtest, Some(
      "WITH s AS (SELECT event_type, AVG(value) AS m, VAR_SAMP(value) AS v, " +
        "CAST(COUNT(*) AS DOUBLE) AS n FROM events " +
        "WHERE event_type IN ('view', 'purchase') GROUP BY 1), " +
        "a AS (SELECT m, v, n FROM s WHERE event_type = 'view'), " +
        "b AS (SELECT m, v, n FROM s WHERE event_type = 'purchase'), " +
        "p AS (SELECT a.m AS am, b.m AS bm, a.n AS an, b.n AS bn, " +
        "((a.n - 1) * a.v + (b.n - 1) * b.v) / (a.n + b.n - 2) AS sp2 " +
        "FROM a, b) " +
        "SELECT ROUND(am - bm, 4) AS mean_diff, " +
        "ROUND((am - bm) / sqrt(sp2 * (1.0 / an + 1.0 / bn)), 5) AS t_stat, " +
        "CAST(an + bn - 2 AS BIGINT) AS df, " +
        "ROUND(sqrt(sp2), 4) AS pooled_sd, " +
        "CAST(an AS BIGINT) AS n_a, CAST(bn AS BIGINT) AS n_b FROM p")),
    Entry("anova_oneway", anovaOneway, Some(
      "WITH g AS (SELECT event_type, CAST(COUNT(*) AS DOUBLE) AS n, " +
        "AVG(value) AS m, VAR_SAMP(value) AS v FROM events GROUP BY 1), " +
        "t AS (SELECT CAST(COUNT(*) AS DOUBLE) AS k, SUM(n) AS ntot, " +
        "SUM(n * m) / SUM(n) AS gm, SUM(n * m * m) AS snm2, " +
        "SUM((n - 1) * v) AS ssw FROM g) " +
        "SELECT CAST(k AS BIGINT) AS k_groups, CAST(ntot AS BIGINT) AS n_total, " +
        "ROUND((snm2 - ntot * gm * gm) / (k - 1), 4) AS ms_between, " +
        "ROUND(ssw / (ntot - k), 4) AS ms_within, " +
        "ROUND(((snm2 - ntot * gm * gm) / (k - 1)) / (ssw / (ntot - k)), 5) " +
        "AS f_stat FROM t")),
    Entry("running_concurrency", runningConcurrency, Some(
      "WITH pts AS (" +
        "SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS t, 1 AS d FROM events " +
        "UNION ALL " +
        "SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) + 14400 AS t, -1 AS d " +
        "FROM events), " +
        "c AS (SELECT user_id, t, d, " +
        "SUM(d) OVER (PARTITION BY user_id ORDER BY t, d) AS conc FROM pts) " +
        "SELECT user_id, CAST(MAX(conc) AS BIGINT) AS peak_concurrency, " +
        "CAST(COUNT(*) FILTER (d = 1) AS BIGINT) AS n_intervals " +
        "FROM c GROUP BY user_id ORDER BY user_id")),
    Entry("user_type_mask", userTypeMask, Some(
      "WITH m AS (SELECT user_id, bit_or(CASE event_type " +
        "WHEN 'view' THEN 1 WHEN 'click' THEN 2 WHEN 'purchase' THEN 4 " +
        "WHEN 'signup' THEN 8 WHEN 'error' THEN 16 ELSE 0 END) AS mask " +
        "FROM events WHERE CAST(ts AS DATE) <= DATE '2024-01-02' " +
        "GROUP BY user_id) " +
        "SELECT CAST(mask AS BIGINT) AS type_mask, " +
        "CAST(COUNT(*) AS BIGINT) AS n_users " +
        "FROM m GROUP BY mask ORDER BY mask")),
    Entry("quantile_weighted", quantileWeighted, Some(
      "WITH c AS (SELECT l_returnflag AS flag, l_extendedprice AS v, " +
        "SUM(l_quantity) OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice) AS cw, " +
        "SUM(l_quantity) OVER (PARTITION BY l_returnflag) AS tot FROM lineitem) " +
        "SELECT flag, " +
        "ROUND(MIN(CASE WHEN cw >= 0.25 * tot THEN v END), 2) AS p25_w, " +
        "ROUND(MIN(CASE WHEN cw >= 0.5 * tot THEN v END), 2) AS p50_w, " +
        "ROUND(MIN(CASE WHEN cw >= 0.75 * tot THEN v END), 2) AS p75_w, " +
        "CAST(COUNT(*) AS BIGINT) AS n " +
        "FROM c GROUP BY flag ORDER BY flag")),
    Entry("mode_per_group", modePerGroup, Some(
      "WITH c AS (SELECT user_id, event_type, COUNT(*) AS n " +
        "FROM events GROUP BY 1, 2), " +
        "r AS (SELECT user_id, event_type, n, " +
        "ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY n DESC, event_type) AS rk " +
        "FROM c) " +
        "SELECT user_id, event_type AS modal_type, CAST(n AS BIGINT) AS n_modal " +
        "FROM r WHERE rk = 1 ORDER BY user_id")),
    Entry("interval_length_sum", intervalLengthSum, Some(
      "WITH iv AS (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS s, " +
        "CAST(floor(epoch(ts)) AS BIGINT) + 1800 AS e FROM events), " +
        "m AS (SELECT user_id, s, e, MAX(e) OVER (PARTITION BY user_id " +
        "ORDER BY s, e ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) " +
        "AS prev_max FROM iv), " +
        "isl AS (SELECT user_id, s, e, " +
        "SUM(CASE WHEN prev_max IS NULL OR s > prev_max THEN 1 ELSE 0 END) " +
        "OVER (PARTITION BY user_id ORDER BY s, e) AS island FROM m), " +
        "g AS (SELECT user_id, island, MAX(e) - MIN(s) AS len " +
        "FROM isl GROUP BY 1, 2) " +
        "SELECT user_id, CAST(SUM(len) AS BIGINT) AS active_sec, " +
        "CAST(COUNT(*) AS BIGINT) AS n_islands " +
        "FROM g GROUP BY user_id ORDER BY user_id")),
    Entry("sequence_next_node", sequenceNextNode, Some(
      "WITH ev AS (SELECT user_id, event_type, " +
        "LEAD(event_type) OVER w AS nxt, " +
        "ROW_NUMBER() OVER (PARTITION BY user_id, event_type " +
        "ORDER BY ts, event_id) AS rn_type " +
        "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)) " +
        "SELECT COALESCE(nxt, '(end)') AS next_type, " +
        "CAST(COUNT(*) AS BIGINT) AS n_users " +
        "FROM ev WHERE event_type = 'view' AND rn_type = 1 " +
        "GROUP BY 1 ORDER BY 1")),
    Entry("bounding_ratio", boundingRatio, Some(
      "SELECT event_type, " +
        "ROUND(arg_min(value, event_id), 2) AS first_value, " +
        "ROUND(arg_max(value, event_id), 2) AS last_value, " +
        "ROUND((arg_max(value, event_id) - arg_min(value, event_id)) / " +
        "(MAX(event_id) - MIN(event_id)), 8) AS bounding_ratio, " +
        "CAST(COUNT(*) AS BIGINT) AS n " +
        "FROM events GROUP BY event_type ORDER BY event_type")),
    Entry("minmax_map", minmaxMap, Some(
      "WITH g AS (SELECT user_id, event_type, " +
        "CAST(round(MIN(value) * 100) AS BIGINT) AS mn, " +
        "CAST(round(MAX(value) * 100) AS BIGINT) AS mx " +
        "FROM events WHERE user_id < 20 GROUP BY 1, 2) " +
        "SELECT user_id, array_to_string(list_sort(list(" +
        "event_type || ':' || CAST(mn AS VARCHAR) || ':' || CAST(mx AS VARCHAR)" +
        ")), ',') AS type_minmax, CAST(COUNT(*) AS BIGINT) AS n_types " +
        "FROM g GROUP BY user_id ORDER BY user_id")),
    // mirrors the all-integer-cents interpolation (see seriesInterpolate):
    // no float rounding anywhere, /100.0 only on the final cent value
    Entry("series_interpolate", seriesInterpolate, Some(
      "WITH daily AS (SELECT user_id, CAST(ts AS DATE) AS d, " +
        "SUM(CAST(round(value * 100) AS BIGINT)) AS vc FROM events " +
        "WHERE event_type = 'purchase' AND user_id < 10 GROUP BY 1, 2), " +
        "bounds AS (SELECT user_id, MIN(d) AS lo, MAX(d) AS hi " +
        "FROM daily GROUP BY 1), " +
        "spine AS (SELECT user_id, CAST(lo + CAST(x AS INTEGER) AS DATE) AS d " +
        "FROM bounds, unnest(generate_series(0, CAST(hi - lo AS INTEGER))) t(x)), " +
        "j AS (SELECT s.user_id, s.d, daily.vc FROM spine s " +
        "LEFT JOIN daily ON s.user_id = daily.user_id AND s.d = daily.d), " +
        "w AS (SELECT user_id, d, vc, " +
        "LAST_VALUE(vc IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY d " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv, " +
        "LAST_VALUE(CASE WHEN vc IS NOT NULL THEN d END IGNORE NULLS) " +
        "OVER (PARTITION BY user_id ORDER BY d " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pd, " +
        "FIRST_VALUE(vc IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY d " +
        "ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv, " +
        "FIRST_VALUE(CASE WHEN vc IS NOT NULL THEN d END IGNORE NULLS) " +
        "OVER (PARTITION BY user_id ORDER BY d " +
        "ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd FROM j) " +
        "SELECT user_id, d AS day, " +
        "COALESCE(vc, CASE WHEN pv IS NULL THEN nv WHEN nv IS NULL THEN pv " +
        "ELSE pv + CAST(floor(((nv - pv) * CAST(d - pd AS BIGINT) * 2 + " +
        "CAST(nd - pd AS BIGINT)) / (CAST(nd - pd AS BIGINT) * 2.0)) AS BIGINT) " +
        "END) / 100.0 AS v_filled, " +
        "CAST(CASE WHEN vc IS NULL THEN 1 ELSE 0 END AS INT) AS interpolated " +
        "FROM w ORDER BY user_id, day")),
    Entry("string_functions_ext", stringFunctionsExt, Some(
      "SELECT p_partkey, regexp_extract(p_type, '^([A-Z]+)', 1) AS type_head, " +
        "levenshtein(p_brand, 'Brand#10') AS brand_dist, " +
        "reverse(p_name) AS name_rev, " +
        "repeat(left(p_brand, 2), 2) AS brand_echo, " +
        "CAST(strpos(p_name, 'a') AS INT) AS first_a " +
        "FROM part ORDER BY p_partkey")),
    Entry("pivot_multi_agg", pivotMultiAgg, Some(
      "SELECT CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE) AS month, " +
        Seq("F", "O", "P").map { st =>
          s"""CAST(COUNT(*) FILTER (o_orderstatus = '$st') AS BIGINT) AS "${st}_n", """ +
            s"FLOOR(CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) " +
            s"FILTER (o_orderstatus = '$st') AS DOUBLE) " +
            s"/ COUNT(*) FILTER (o_orderstatus = '$st') / 100 * 100 + 0.5) " +
            s"""/ 100 AS "${st}_avg""""
        }.mkString(", ") +
        " FROM orders GROUP BY 1 ORDER BY 1")),
    Entry("sliding_reach", slidingReach, Some(
      "WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events), " +
        "days AS (SELECT user_id, d + CAST(x AS INTEGER) AS day " +
        "FROM ud, unnest(generate_series(0, 6)) t(x)) " +
        "SELECT day, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS reach_7d " +
        "FROM days GROUP BY day ORDER BY day")),
    Entry("bitwise_agg", bitwiseAgg, Some(
      "SELECT event_type, bit_and(event_id) AS id_bit_and, " +
        "bit_or(event_id) AS id_bit_or, bit_xor(event_id) AS id_bit_xor " +
        "FROM events GROUP BY event_type ORDER BY event_type")),
    Entry("source_entropy", sourceEntropy, Some(
      "WITH c AS (SELECT source, lang, CAST(COUNT(*) AS DOUBLE) AS n " +
        "FROM documents GROUP BY 1, 2), " +
        "t AS (SELECT source, SUM(n) AS tot FROM c GROUP BY 1) " +
        "SELECT c.source, ROUND(-SUM((n / tot) * log2(n / tot)), 6) AS lang_entropy, " +
        "CAST(SUM(n) AS BIGINT) AS n_docs " +
        "FROM c JOIN t ON c.source = t.source GROUP BY c.source ORDER BY c.source")),
    Entry("higher_moments", higherMoments, Some(
      "WITH m AS (SELECT l_returnflag, AVG(l_quantity) AS m1, " +
        "AVG(l_quantity * l_quantity) AS m2r, " +
        "AVG(l_quantity * l_quantity * l_quantity) AS m3r, " +
        "AVG(l_quantity * l_quantity * l_quantity * l_quantity) AS m4r, " +
        "CAST(COUNT(*) AS BIGINT) AS n FROM lineitem GROUP BY 1) " +
        "SELECT l_returnflag, n, " +
        "ROUND((m3r - 3 * m1 * m2r + 2 * m1 * m1 * m1) / " +
        "POW(m2r - m1 * m1, 1.5), 5) AS skew_pop, " +
        "ROUND((m4r - 4 * m1 * m3r + 6 * m1 * m1 * m2r - 3 * m1 * m1 * m1 * m1) / " +
        "POW(m2r - m1 * m1, 2) - 3, 5) AS kurt_excess_pop " +
        "FROM m ORDER BY l_returnflag")),
    Entry("sequence_match", sequenceMatch, Some(
      "WITH paths AS (SELECT user_id, " +
        "string_agg(event_type, '>' ORDER BY ts, event_id) AS path " +
        "FROM events GROUP BY user_id) " +
        "SELECT CAST(regexp_matches(path, 'view(>[^>]+)*>click(>[^>]+)*>purchase') AS INT) AS matched, " +
        "CAST(COUNT(*) AS BIGINT) AS n_users, " +
        "FLOOR(CAST(SUM(length(path)) AS DOUBLE) / COUNT(*) * 100 + 0.5) / 100 " +
        "AS avg_path_len " +
        "FROM paths GROUP BY 1 ORDER BY 1")),
    Entry("funnel_steps_windowed", funnelStepsWindowed, Some(
      "WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events " +
        "WHERE event_type = 'view' GROUP BY user_id), " +
        "s2 AS (SELECT e.user_id, min(e.ts) AS t2, max(s1.t1) AS t1 FROM events e " +
        "JOIN s1 ON e.user_id = s1.user_id WHERE e.event_type = 'click' " +
        "AND e.ts > s1.t1 AND e.ts <= s1.t1 + INTERVAL 3 DAY GROUP BY e.user_id), " +
        "s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e " +
        "JOIN s2 ON e.user_id = s2.user_id WHERE e.event_type = 'purchase' " +
        "AND e.ts > s2.t2 AND e.ts <= s2.t1 + INTERVAL 3 DAY GROUP BY e.user_id) " +
        "SELECT CAST(1 AS BIGINT) AS step, 'view' AS event_type, " +
        "CAST((SELECT COUNT(*) FROM s1) AS BIGINT) AS n_users " +
        "UNION ALL SELECT 2, 'click', CAST((SELECT COUNT(*) FROM s2) AS BIGINT) " +
        "UNION ALL SELECT 3, 'purchase', CAST((SELECT COUNT(*) FROM s3) AS BIGINT) " +
        "ORDER BY step")),
    Entry("retention_days", retentionDays, Some(
      "WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events), " +
        "d0 AS (SELECT user_id, MIN(d) AS d0 FROM ud GROUP BY 1), " +
        "f AS (SELECT ud.user_id, " +
        "MAX(CASE WHEN d = d0 + 1 THEN 1 ELSE 0 END) AS r1, " +
        "MAX(CASE WHEN d = d0 + 3 THEN 1 ELSE 0 END) AS r3, " +
        "MAX(CASE WHEN d = d0 + 7 THEN 1 ELSE 0 END) AS r7 " +
        "FROM ud JOIN d0 USING (user_id) GROUP BY 1) " +
        "SELECT CAST(COUNT(*) AS BIGINT) AS n_users, " +
        "CAST(SUM(r1) AS BIGINT) AS day1, CAST(SUM(r3) AS BIGINT) AS day3, " +
        "CAST(SUM(r7) AS BIGINT) AS day7, " +
        "FLOOR(CAST(SUM(r1) AS DOUBLE) / COUNT(*) * 10000 + 0.5) / 10000 AS day1_rate, " +
        "FLOOR(CAST(SUM(r3) AS DOUBLE) / COUNT(*) * 10000 + 0.5) / 10000 AS day3_rate, " +
        "FLOOR(CAST(SUM(r7) AS DOUBLE) / COUNT(*) * 10000 + 0.5) / 10000 AS day7_rate FROM f")),
    Entry("uniq_upto", uniqUpto, Some(
      "SELECT event_type, " +
        "CAST(LEAST(COUNT(DISTINCT user_id), 11) AS BIGINT) AS users_upto_10, " +
        "CAST(LEAST(COUNT(DISTINCT CAST(ts AS DATE)), 6) AS BIGINT) AS days_upto_5 " +
        "FROM events GROUP BY event_type ORDER BY event_type")),
    // explicit type-7 interpolation over exact cents, mirroring
    // quantilesExact's stated arithmetic (NOT quantile_cont, whose
    // internal association order differs from Spark's percentile by a
    // ulp and flips 2-dp rounds on .005-adjacent values)
    Entry("quantiles_exact", quantilesExact, Some(quantilesExactOracle),
      note = "exact: one sorted array per group (ClickHouse parity); 100 TB path = " +
        "quantiles_exact_offsets"),
    Entry("quantiles_exact_offsets", quantilesExactOffsets, Some(quantilesExactOracle),
      note = "scale twin: keyed bucketed prefix ranks, identical type-7 interpolation, same " +
        "oracle"),
    Entry("sequence_count", sequenceCount, Some(
      "WITH paths AS (SELECT user_id, " +
        "string_agg(event_type, '>' ORDER BY ts, event_id) AS path " +
        "FROM events GROUP BY user_id) " +
        "SELECT CAST(len(regexp_extract_all(path, " +
        "'view(>[^>]+)*?>click(>[^>]+)*?>purchase')) AS INT) AS n_chains, " +
        "CAST(COUNT(*) AS BIGINT) AS n_users FROM paths " +
        "GROUP BY 1 ORDER BY 1")),
    Entry("funnel_conversion_time", funnelConversionTime, Some(
      "WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events " +
        "WHERE event_type = 'view' GROUP BY user_id), " +
        "s2 AS (SELECT e.user_id, min(e.ts) AS t2, max(s1.t1) AS t1 FROM events e " +
        "JOIN s1 ON e.user_id = s1.user_id WHERE e.event_type = 'click' " +
        "AND e.ts > s1.t1 AND e.ts <= s1.t1 + INTERVAL 3 DAY GROUP BY e.user_id), " +
        "s3 AS (SELECT e.user_id, min(e.ts) AS t3, max(s2.t1) AS t1 FROM events e " +
        "JOIN s2 ON e.user_id = s2.user_id WHERE e.event_type = 'purchase' " +
        "AND e.ts > s2.t2 AND e.ts <= s2.t1 + INTERVAL 3 DAY GROUP BY e.user_id) " +
        "SELECT n_converted, " +
        "CASE WHEN n_converted > 0 THEN FLOOR(" +
        graft.functions.ExactQuantile.interpSql("ss", "n_converted", "0.5") +
        " * 100 + 0.5) / 100 END AS p50_sec, " +
        "CASE WHEN n_converted > 0 THEN FLOOR(" +
        graft.functions.ExactQuantile.interpSql("ss", "n_converted", "0.9") +
        " * 100 + 0.5) / 100 END AS p90_sec, " +
        "CASE WHEN n_converted > 0 THEN " +
        "FLOOR(CAST(sec_sum AS DOUBLE) / n_converted * 100 + 0.5) / 100 " +
        "END AS avg_sec " +
        "FROM (SELECT CAST(COUNT(*) AS BIGINT) AS n_converted, " +
        "LIST_SORT(LIST(sec)) AS ss, SUM(sec) AS sec_sum FROM (" +
        "SELECT CAST(floor(epoch(t3)) AS BIGINT) - " +
        "CAST(floor(epoch(t1)) AS BIGINT) AS sec FROM s3))")),
    Entry("funnel_strict_order", funnelStrictOrder, Some(
      "WITH ev AS (SELECT user_id, ts, event_id, event_type, " +
        "LEAD(event_type, 1) OVER w AS nt1, LEAD(ts, 1) OVER w AS ts1, " +
        "LEAD(event_type, 2) OVER w AS nt2, LEAD(ts, 2) OVER w AS ts2 " +
        "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)), " +
        "lv AS (SELECT user_id, " +
        "MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS l1, " +
        "MAX(CASE WHEN event_type = 'view' AND nt1 = 'click' " +
        "AND ts1 <= ts + INTERVAL 3 DAY THEN 1 ELSE 0 END) AS l2, " +
        "MAX(CASE WHEN event_type = 'view' AND nt1 = 'click' AND nt2 = 'purchase' " +
        "AND ts2 <= ts + INTERVAL 3 DAY THEN 1 ELSE 0 END) AS l3 " +
        "FROM ev GROUP BY user_id) " +
        "SELECT CAST(1 AS BIGINT) AS step, 'view' AS event_type, " +
        "CAST(SUM(l1) AS BIGINT) AS n_users FROM lv " +
        "UNION ALL SELECT 2, 'click', CAST(SUM(l2) AS BIGINT) FROM lv " +
        "UNION ALL SELECT 3, 'purchase', CAST(SUM(l3) AS BIGINT) FROM lv " +
        "ORDER BY step")),
    Entry("funnel_strict_dedup", funnelStrictDedup, Some(
      "WITH s1 AS (SELECT user_id, MIN(ts) AS t1 FROM events " +
        "WHERE event_type = 'view' GROUP BY 1), " +
        "c2 AS (SELECT e.user_id, MIN(e.ts) AS t2, MAX(s1.t1) AS t1 FROM events e " +
        "JOIN s1 USING (user_id) WHERE e.event_type = 'click' " +
        "AND e.ts > s1.t1 AND e.ts <= s1.t1 + INTERVAL 3 DAY GROUP BY 1), " +
        "s2 AS (SELECT * FROM c2 WHERE NOT EXISTS (SELECT 1 FROM events v " +
        "WHERE v.user_id = c2.user_id AND v.event_type = 'view' " +
        "AND v.ts > c2.t1 AND v.ts < c2.t2)), " +
        "p3 AS (SELECT e.user_id, MIN(e.ts) AS t3, MAX(s2.t2) AS t2 FROM events e " +
        "JOIN s2 USING (user_id) WHERE e.event_type = 'purchase' " +
        "AND e.ts > s2.t2 AND e.ts <= s2.t1 + INTERVAL 3 DAY GROUP BY 1), " +
        "s3 AS (SELECT * FROM p3 WHERE NOT EXISTS (SELECT 1 FROM events i " +
        "WHERE i.user_id = p3.user_id AND i.event_type IN ('view', 'click') " +
        "AND i.ts > p3.t2 AND i.ts < p3.t3)) " +
        "SELECT CAST(1 AS BIGINT) AS step, 'view' AS event_type, " +
        "CAST((SELECT COUNT(*) FROM s1) AS BIGINT) AS n_users " +
        "UNION ALL SELECT 2, 'click', CAST((SELECT COUNT(*) FROM s2) AS BIGINT) " +
        "UNION ALL SELECT 3, 'purchase', CAST((SELECT COUNT(*) FROM s3) AS BIGINT) " +
        "ORDER BY step")),
    Entry("time_decay_agg", timeDecayAgg, Some(
      "WITH ev AS (SELECT user_id, ts, event_id, value, " +
        "CAST(floor(epoch(ts)) AS DOUBLE) AS tsec, " +
        "CAST(round(value * 100) AS BIGINT) AS cents FROM events), " +
        "e2 AS (SELECT *, (tsec - MIN(tsec) OVER (PARTITION BY user_id)) / 86400.0 " +
        "AS xx FROM ev), " +
        "e3 AS (SELECT user_id, xx, cents, " +
        "SUM(value * POW(2.0, xx)) OVER " +
        "(PARTITION BY user_id ORDER BY ts, event_id) AS wsum, " +
        "cents - COALESCE(LAG(cents) OVER " +
        "(PARTITION BY user_id ORDER BY ts, event_id), cents) AS d, " +
        "ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) " +
        "AS rn FROM e2) " +
        "SELECT user_id, " +
        "ROUND(MAX(CASE WHEN rn = 1 THEN wsum * POW(2.0, -xx) END), 4) AS ema_last, " +
        "ROUND(SUM(CASE WHEN d > 0 THEN d ELSE 0 END) / 100.0, 2) AS delta_sum, " +
        "CAST(COUNT(*) AS BIGINT) AS n_events " +
        "FROM e3 GROUP BY user_id ORDER BY user_id")),
    Entry("lttb_downsample", lttbDownsample, Some(
      "WITH pts AS (SELECT event_type, ts, event_id, " +
        "CAST(floor(epoch(ts)) AS BIGINT) AS xs, " +
        "CAST(round(value * 100) AS BIGINT) AS yc, " +
        "ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY ts, event_id) AS r, " +
        "COUNT(*) OVER (PARTITION BY event_type) AS n, " +
        "MIN(CAST(floor(epoch(ts)) AS BIGINT)) OVER (PARTITION BY event_type) AS x0 " +
        "FROM events), " +
        "p AS (SELECT event_type, ts, event_id, CAST(xs - x0 AS DOUBLE) AS x, " +
        "CAST(yc AS DOUBLE) AS y, " +
        "CASE WHEN r = 1 THEN 0 WHEN r = n THEN 19 " +
        "ELSE CAST(floor((r - 2) * 18 / (n - 2)) AS INT) + 1 END AS bucket FROM pts), " +
        "b AS (SELECT event_type, bucket, AVG(x) AS ax, AVG(y) AS ay " +
        "FROM p GROUP BY 1, 2), " +
        "sc AS (SELECT p.event_type, p.bucket, p.ts, p.event_id, p.x, p.y, " +
        "ABS((l.ax - rg.ax) * (p.y - l.ay) - (l.ax - p.x) * (rg.ay - l.ay)) AS area2 " +
        "FROM p JOIN b l ON l.event_type = p.event_type AND l.bucket = p.bucket - 1 " +
        "JOIN b rg ON rg.event_type = p.event_type AND rg.bucket = p.bucket + 1 " +
        "WHERE p.bucket BETWEEN 1 AND 18), " +
        "sel AS (SELECT event_type, bucket, x, y, " +
        "ROW_NUMBER() OVER (PARTITION BY event_type, bucket " +
        "ORDER BY area2 DESC, ts, event_id) AS rn FROM sc) " +
        "SELECT event_type, CAST(bucket AS INT) AS bucket, CAST(x AS BIGINT) AS x_s, " +
        "ROUND(y / 100, 2) AS value FROM sel WHERE rn = 1 " +
        "UNION ALL SELECT event_type, CAST(bucket AS INT), CAST(x AS BIGINT), " +
        "ROUND(y / 100, 2) FROM p WHERE bucket IN (0, 19) " +
        "ORDER BY event_type, bucket")),
    Entry("text_top_bigrams", textTopBigrams, Some(
      "WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w, " +
        "generate_subscripts(string_split(text, ' '), 1) AS i FROM documents), " +
        "bg AS (SELECT w || ' ' || lead(w) OVER (PARTITION BY doc_id ORDER BY i) AS bigram " +
        "FROM toks) " +
        "SELECT bigram, CAST(COUNT(*) AS BIGINT) AS n FROM bg WHERE bigram IS NOT NULL " +
        "GROUP BY bigram ORDER BY n DESC, bigram LIMIT 10")),
    Entry("sum_map", sumMap, Some(
      "SELECT user_id, string_agg(kv, ',' ORDER BY kv) AS type_sums, " +
        "CAST(COUNT(*) AS BIGINT) AS n_types FROM (" +
        "SELECT user_id, event_type || ':' || " +
        "CAST(CAST(ROUND(SUM(value) * 100) AS BIGINT) AS VARCHAR) AS kv " +
        "FROM events WHERE user_id < 20 GROUP BY user_id, event_type) " +
        "GROUP BY user_id ORDER BY user_id")),
    Entry("arg_minmax", argMinMax, Some(
      "SELECT user_id, arg_min(event_type, event_id) AS first_type, " +
        "arg_max(event_type, event_id) AS last_type, " +
        "max(event_id) AS last_event_id, CAST(COUNT(*) AS BIGINT) AS n_events " +
        "FROM events GROUP BY user_id ORDER BY user_id")),
    Entry("conditional_agg", conditionalAgg, Some(
      "SELECT event_type, CAST(COUNT(*) FILTER (value > 100) AS BIGINT) AS n_big, " +
        "ROUND(SUM(value) FILTER (value > 100), 2) AS sum_big, " +
        "FLOOR(CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) FILTER (NOT value > 100) AS DOUBLE) " +
        "/ COUNT(*) FILTER (NOT value > 100) / 100 * 10000 + 0.5) / 10000 AS avg_small, " +
        "FLOOR(CAST(COUNT(*) FILTER (value > 100) AS DOUBLE) / COUNT(*) * 10000 + 0.5) " +
        "/ 10000 AS big_ratio " +
        "FROM events GROUP BY event_type ORDER BY event_type")),
    Entry("stats_moments", statsMoments, Some(
      "SELECT l_returnflag, ROUND(corr(l_quantity, l_extendedprice), 5) AS corr_qty_price, " +
        "ROUND(covar_samp(l_quantity, l_extendedprice), 3) AS covar_qty_price, " +
        "ROUND(stddev_samp(l_quantity), 5) AS stddev_qty, " +
        "ROUND(var_samp(l_quantity), 4) AS var_qty, " +
        "CAST(COUNT(*) AS BIGINT) AS n " +
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag")),
    Entry("monthly_revenue", monthlyRevenue, Some(
      "SELECT CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE) AS month, " +
        "CAST(COUNT(*) AS BIGINT) AS n_orders, " +
        "CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100 AS revenue, " +
        "FLOOR(CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS DOUBLE) " +
        "/ COUNT(*) / 100 * 1000 + 0.5) / 1000 AS avg_price " +
        "FROM orders GROUP BY 1 ORDER BY 1")),
    Entry("running_diff", runningDiff, Some(
      "SELECT user_id, event_id, ROUND(value, 2) AS value, " +
        "ROUND(value - lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id), 3) AS diff " +
        "FROM events WHERE user_id < 50 ORDER BY user_id, event_id")),
    Entry("group_array", groupArray, Some(
      "SELECT o_custkey, string_agg(o_orderstatus, ',' ORDER BY o_orderstatus) AS statuses, " +
        "CAST(COUNT(*) AS BIGINT) AS n_orders " +
        "FROM orders WHERE o_custkey < 100 GROUP BY o_custkey ORDER BY o_custkey")),
    Entry("histogram_values", histogramValues, Some(
      "SELECT CAST(FLOOR(value / 50) AS BIGINT) AS bucket, CAST(COUNT(*) AS BIGINT) AS n, " +
        "FLOOR(CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE) " +
        "/ COUNT(*) / 100 * 10000 + 0.5) / 10000 AS avg_value, " +
        "ROUND(MIN(value), 2) AS min_value, ROUND(MAX(value), 2) AS max_value " +
        "FROM events GROUP BY 1 ORDER BY 1")),
    Entry("uniq_counts", uniqCounts, Some(
      "SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS uniq_users, " +
        "CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS active_days, " +
        "FLOOR(CAST(COUNT(*) AS DOUBLE) / COUNT(DISTINCT user_id) * 10000 + 0.5) " +
        "/ 10000 AS events_per_user " +
        "FROM events GROUP BY event_type ORDER BY event_type")),
    Entry("embedding_centroid", embeddingCentroid, Some(
      "SELECT label, ROUND(sqrt(SUM(m * m)), 4) AS centroid_norm, " +
        "CAST(COUNT(*) AS BIGINT) AS dims FROM (" +
        "SELECT label, i, AVG(CAST(x AS DOUBLE)) AS m FROM (" +
        "SELECT label, unnest(embedding) AS x, " +
        "generate_subscripts(embedding, 1) - 1 AS i FROM embeddings) " +
        "GROUP BY label, i) GROUP BY label ORDER BY label")),
    Entry("sample_split_md5", sampleSplitMd5, Some(
      "WITH u AS (SELECT n_chars, " +
        "CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6) AS INTEGER) AS DOUBLE) " +
        "/ 16777216.0 AS u FROM documents) " +
        "SELECT CASE WHEN u < 0.8 THEN 'train' WHEN u < 0.9 THEN 'val' ELSE 'test' END AS split, " +
        "CAST(COUNT(*) AS BIGINT) AS n, " +
        "FLOOR(CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) * 100 + 0.5) / 100 AS avg_chars " +
        "FROM u GROUP BY 1 ORDER BY 1"))
  )
}
