package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.series.Bucketize
import graft.sources.Fixtures

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  test("streaming dailyBuckets matches batch bucketize on count and sum") {
    // stage the fixture as a stream source (readStream needs a directory
    // it can list); decode nanos ts like Fixtures does
    val src = tempDir("graftstream")
    val batch = Fixtures.table(spark, sf0001, "events")
    batch.write.mode("overwrite").parquet(s"$src/events")

    val stream = spark.readStream
      .schema(batch.schema)
      .parquet(s"$src/events")
    val q = EventBucketizer.dailyBuckets(stream).writeStream
      .outputMode("append")
      .format("memory")
      .queryName("daily_out")
      .start()
    try {
      q.processAllAvailable()
      // watermark: the final (latest) day stays open in append mode until
      // a later event arrives, so compare the closed windows only
      val got = spark.table("daily_out")
        .select($"date", $"event_count", $"value_sum").collect()
        .map(r => r.getDate(0).toString -> ((r.getLong(1), r.getDouble(2)))).toMap
      val want = Bucketize.events(batch)
        .select($"date", $"event_count", $"value_sum").collect()
        .map(r => r.getDate(0).toString -> ((r.getLong(1), r.getDouble(2)))).toMap
      assert(got.nonEmpty, "stream emitted closed windows")
      got.foreach { case (d, (n, s)) =>
        assert(want(d)._1 == n && math.abs(want(d)._2 - s) < 1e-6, s"day $d")
      }
    } finally q.stop()
  }

  test("streaming session_window count matches the batch lag-window sessionize") {
    val src = tempDir("graftsess")
    val batch = Fixtures.table(spark, sf0001, "events")
    batch.write.mode("overwrite").parquet(s"$src/events")
    val stream = spark.readStream.schema(batch.schema).parquet(s"$src/events")
    val q = EventBucketizer.sessionWindows(stream).writeStream
      .outputMode("append").format("memory").queryName("sess_out").start()
    try {
      q.processAllAvailable()
      val got = spark.table("sess_out")
        .groupBy("user_id").count().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      // batch truth: the sessionize query at the same 30-min gap
      val want = graft.queries.RelationalQueries.sessionize(spark, sf0001)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got.nonEmpty)
      // the last session per user may still be open under the watermark in
      // append mode; closed-session counts must never exceed batch truth
      got.foreach { case (u, n) =>
        assert(n <= want(u), s"user $u: stream $n > batch ${want(u)}")
      }
      val exact = got.count { case (u, n) => n == want(u) }
      assert(exact > got.size / 2, "most users' sessions fully closed")
    } finally q.stop()
  }

  test("streaming dedup emits one row per distinct text, matching batch exact dedup") {
    val src = tempDir("graftdedup")
    // duplicated corpus with event times: dup arrives 1 minute after its
    // original, well inside the watermark
    val docs = Seq(
      (1L, "alpha beta gamma", "2024-01-01 10:00:00"),
      (2L, "alpha beta gamma", "2024-01-01 10:01:00"),
      (3L, "delta epsilon", "2024-01-01 10:02:00"),
      (4L, "zeta eta theta", "2024-01-01 10:03:00"),
      (5L, "delta epsilon", "2024-01-01 10:04:00")
    ).toDF("doc_id", "text", "ts_s")
      .withColumn("ts", to_timestamp($"ts_s")).drop("ts_s")
    docs.write.mode("overwrite").parquet(s"$src/docs")
    val stream = spark.readStream.schema(docs.schema).parquet(s"$src/docs")
    val q = EventBucketizer.streamingDedup(stream).writeStream
      .outputMode("append").format("memory").queryName("dedup_out").start()
    try {
      q.processAllAvailable()
      val got = spark.table("dedup_out").select("text").collect()
        .map(_.getString(0)).toSeq
      // one survivor per distinct text — same multiset as batch exact dedup
      assert(got.sorted == Seq("alpha beta gamma", "delta epsilon", "zeta eta theta"))
      val batchSurvivors = graft.operators.Dedup.exact(docs.select($"doc_id", $"text"))
      assert(got.length == batchSurvivors.count())
    } finally q.stop()
  }

  test("stream-stream interval join emits exactly the batch view-click pairs") {
    val src = tempDir("graftssj")
    val batch = Fixtures.table(spark, sf0001, "events")
    val views = batch.filter($"event_type" === "view")
    val clicks = batch.filter($"event_type" === "click")
    views.write.mode("overwrite").parquet(s"$src/views")
    clicks.write.mode("overwrite").parquet(s"$src/clicks")
    val vs = spark.readStream.schema(views.schema).parquet(s"$src/views")
    val cs = spark.readStream.schema(clicks.schema).parquet(s"$src/clicks")
    val q = EventBucketizer.viewClickPairs(vs, cs).writeStream
      .outputMode("append").format("memory").queryName("ssj_out").start()
    try {
      q.processAllAvailable()
      def pairs(df: org.apache.spark.sql.DataFrame) =
        df.select("view_id", "click_id").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
      val got = pairs(spark.table("ssj_out"))
      // batch truth: the same expression on the static frames
      val want = pairs(EventBucketizer.viewClickPairs(views, clicks))
      assert(want.nonEmpty, "fixture must contain view->click pairs inside the gap")
      // inner interval join: append mode emits matches as both sides
      // arrive; with a finite input every pair is emitted exactly once
      assert(got == want,
        s"stream emitted ${got.size} pairs, batch ${want.size}; " +
          s"missing=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
    } finally q.stop()
  }

  test("outer stream-stream join: matches = inner truth; null-side rows emit only past the watermark") {
    val src = tempDir("graftssjo")
    val batch = Fixtures.table(spark, sf0001, "events")
    val views = batch.filter($"event_type" === "view")
    val clicks = batch.filter($"event_type" === "click")
    views.write.mode("overwrite").parquet(s"$src/views")
    clicks.write.mode("overwrite").parquet(s"$src/clicks")
    val vs = spark.readStream.schema(views.schema).parquet(s"$src/views")
    val cs = spark.readStream.schema(clicks.schema).parquet(s"$src/clicks")
    val q = EventBucketizer.viewClickPairsOuter(vs, cs).writeStream
      .outputMode("append").format("memory").queryName("ssjo_out").start()
    try {
      q.processAllAvailable()
      val out = spark.table("ssjo_out").collect()
      val gotMatched = out.filter(!_.isNullAt(2))
        .map(r => (r.getLong(1), r.getLong(2))).toSet
      val gotUnmatched = out.filter(_.isNullAt(2)).map(_.getLong(1)).toSet
      val truth = EventBucketizer.viewClickPairs(views, clicks)
      val wantMatched = truth.select("view_id", "click_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val wantUnmatched = views.select($"event_id").collect().map(_.getLong(0)).toSet --
        wantMatched.map(_._1)
      // matched pairs are exactly the inner-join truth
      assert(gotMatched == wantMatched)
      // null-side emissions are TRUE non-converters only (no false
      // negatives), and only those the final watermark could prove —
      // the tail of the finite input legitimately stays buffered
      assert(gotUnmatched.subsetOf(wantUnmatched),
        s"false unmatched: ${(gotUnmatched -- wantUnmatched).take(3)}")
      assert(gotUnmatched.nonEmpty,
        "watermark must close and emit early unmatched views")
      // no view emitted both matched and unmatched
      assert((gotUnmatched & gotMatched.map(_._1)).isEmpty)
    } finally q.stop()
  }

  test("stream-static enrichment matches the batch join") {
    val src = tempDir("graftenrich")
    val batch = Fixtures.table(spark, sf0001, "events")
    batch.write.mode("overwrite").parquet(s"$src/events")
    val dim = batch.select($"user_id").distinct()
      .withColumn("tier", when(pmod($"user_id", lit(3)) === 0, "gold").otherwise("std"))
    val stream = spark.readStream.schema(batch.schema).parquet(s"$src/events")
    val q = EventBucketizer.enriched(stream, dim, "user_id").writeStream
      .outputMode("append").format("memory").queryName("enrich_out").start()
    try {
      q.processAllAvailable()
      val got = spark.table("enrich_out")
        .groupBy("tier").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val want = batch.join(dim, Seq("user_id"), "left")
        .groupBy("tier").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got == want && got.keySet == Set("gold", "std"))
    } finally q.stop()
  }

  test("streaming dedup: state evicted past the watermark, so a late dup re-emits") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val mem = MemoryStream[(Long, String, java.sql.Timestamp)]
    val docs = mem.toDF().toDF("doc_id", "text", "ts")
    val q = EventBucketizer.streamingDedup(docs, watermark = "10 minutes").writeStream
      .outputMode("append").format("memory").queryName("dedup_late").start()
    try {
      mem.addData((1L, "alpha", t("2024-01-01 10:00:00")))
      q.processAllAvailable()
      // in-watermark dup: suppressed
      mem.addData((2L, "alpha", t("2024-01-01 10:05:00")))
      q.processAllAvailable()
      // advance the watermark well past alpha's 10:00+10min state horizon
      mem.addData((3L, "beta", t("2024-01-01 12:00:00")))
      q.processAllAvailable()
      // same text again, above the current watermark: its dedup state was
      // evicted, so it re-emits — the state-bounding trade documented on
      // streamingDedup (memory scales with the dup-arrival horizon)
      mem.addData((4L, "alpha", t("2024-01-01 11:59:00")))
      q.processAllAvailable()
      val ids = spark.table("dedup_late").select("doc_id").collect()
        .map(_.getLong(0)).toSet
      assert(ids == Set(1L, 3L, 4L),
        s"expected in-watermark dup suppressed and post-eviction dup re-emitted, got $ids")
    } finally q.stop()
  }

  test("streaming upsert: micro-batches MERGE into the catalog table") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val tmp = tempDir("graftupsert")
    val cat = new graft.catalog.ParquetCatalog(spark, s"$tmp/cat")
    val mem = MemoryStream[(String, Long, String)]
    val updates = mem.toDF().toDF("k", "ver", "payload")
    val q = EventBucketizer.upsertInto(updates, cat, "state",
      keys = Seq("k"), versionCols = Seq("ver"), checkpoint = s"$tmp/ckpt")
    try {
      mem.addData(("a", 1L, "a1"), ("b", 1L, "b1"), ("a", 2L, "a2"))
      q.processAllAvailable()
      def snapshot() = cat.load("state").collect()
        .map(r => r.getString(0) -> r.getString(2)).toMap
      // within one batch, the higher version wins
      assert(snapshot() == Map("a" -> "a2", "b" -> "b1"))
      // a later batch updates existing keys (incoming wins) and inserts new
      mem.addData(("b", 0L, "b-late"), ("c", 1L, "c1"))
      q.processAllAvailable()
      assert(snapshot() == Map("a" -> "a2", "b" -> "b-late", "c" -> "c1"),
        "batch-over-table precedence must apply even for a lower version")
      // key count == distinct keys, not rows seen
      assert(cat.load("state").count() == 3)
    } finally q.stop()
  }

  test("streaming rollup maintenance: the folded table equals the one-shot batch rollup") {
    val src = tempDir("graftroll")
    val batch = Fixtures.table(spark, sf0001, "events")
    // split the fixture into two file-drops so several micro-batches fold
    batch.filter($"event_id" % 2 === 0).write.parquet(s"$src/in")
    val cat = new graft.catalog.ParquetCatalog(spark, s"$src/cat")
    val stream = spark.readStream.schema(batch.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$src/in")
    val q = EventBucketizer.rollupInto(stream, cat, "daily", s"$src/ckpt")
    try {
      q.processAllAvailable()
      batch.filter($"event_id" % 2 === 1).write.mode("append").parquet(s"$src/in")
      q.processAllAvailable()
      def rows(df: org.apache.spark.sql.DataFrame) =
        graft.operators.Rollup.readout(df)
          .select("d", "event_type", "n", "value_sum", "value_min", "value_max")
          .collect().map(_.toSeq).toSet
      assert(rows(cat.load("daily")) == rows(graft.operators.Rollup.daily(batch)),
        "incrementally folded rollup must equal the one-shot batch rollup")
      // sketch survives the fold: estimates within 5% of exact per cell
      val exact = batch.groupBy(to_date($"ts").as("d"), $"event_type")
        .agg(countDistinct($"user_id").as("ex"))
      val bad = graft.operators.Rollup.readout(cat.load("daily"))
        .join(exact, Seq("d", "event_type"))
        .filter(abs($"users_est" - $"ex") > $"ex" * 0.05).count()
      assert(bad == 0, s"$bad cells drifted past 5% after the streaming fold")
    } finally q.stop()
  }

  test("streaming sliding reach tracks the exact batch trailing-window reach") {
    val src = tempDir("graftreach")
    val batch = Fixtures.table(spark, sf0001, "events")
    batch.write.mode("overwrite").parquet(s"$src/events")
    val stream = spark.readStream.schema(batch.schema).parquet(s"$src/events")
    val q = EventBucketizer.slidingReach(stream).writeStream
      .outputMode("append").format("memory").queryName("reach_out").start()
    try {
      q.processAllAvailable()
      val got = spark.table("reach_out").collect()
        .map(r => r.getDate(0).toString -> r.getLong(1)).toMap
      // batch day X counts users over [X-6, X]; the streaming window with
      // end = X+1 (exclusive) covers the same span
      val want = graft.queries.AnalyticsQueries.slidingReach(spark, sf0001)
        .collect().map(r => r.getDate(0).toLocalDate.plusDays(1).toString -> r.getLong(1))
        .toMap
      assert(got.nonEmpty, "stream emitted closed windows")
      got.foreach { case (d, approx) =>
        val exact = want.getOrElse(d, 0L)
        assert(exact > 0, s"window-end $d missing from the batch truth")
        assert(math.abs(approx - exact).toDouble / exact < 0.05,
          s"window-end $d: approx $approx vs exact $exact")
      }
    } finally q.stop()
  }

  test("streaming funnel stages match the batch funnel counts across micro-batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import StreamingFunnel.FunnelEvent
    val steps = Seq("view", "click", "purchase")
    val all = Fixtures.table(spark, sf0001, "events")
      .select($"user_id", $"event_type", $"ts")
      .as[FunnelEvent].collect().sortBy(_.ts.getTime)
    // two TIME-ORDERED micro-batches: no cross-batch late data, so the
    // monotone streaming state must agree with the batch rerun exactly
    val (first, second) = all.splitAt(all.length / 2)
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[FunnelEvent]
    val q = StreamingFunnel.stages(mem.toDS(), steps).writeStream
      .outputMode("update").format("memory").queryName("funnel_out").start()
    try {
      mem.addData(first.toIndexedSeq)
      q.processAllAvailable()
      mem.addData(second.toIndexedSeq)
      q.processAllAvailable()
      // max stage per user -> cumulative user counts per step
      val maxStage = spark.table("funnel_out")
        .groupBy("user_id").agg(max($"stage").as("s")).collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      val got = (1 to steps.size)
        .map(k => k.toLong -> maxStage.values.count(_ >= k).toLong).toMap
      val want = graft.queries.RelationalQueries.funnelSteps(spark, sf0001)
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
      assert(got == want, s"streaming $got vs batch $want")
    } finally q.stop()
  }

  test("streaming funnel state is monotone: a late earlier-stage event cannot regress it") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import StreamingFunnel.FunnelEvent
    def ev(u: Long, t: String, sec: Int) =
      FunnelEvent(u, t, java.sql.Timestamp.valueOf(f"2024-01-01 00:00:$sec%02d"))
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[FunnelEvent]
    val q = StreamingFunnel.stages(mem.toDS(), Seq("view", "click")).writeStream
      .outputMode("update").format("memory").queryName("funnel_mono").start()
    try {
      mem.addData(ev(1, "view", 10), ev(1, "click", 20))
      q.processAllAvailable()
      // late duplicate view + an out-of-order click: both must be no-ops
      mem.addData(ev(1, "view", 5), ev(1, "click", 15))
      q.processAllAvailable()
      val rows = spark.table("funnel_mono")
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
      assert(rows.sorted == Seq((1L, 1), (1L, 2)), rows.toString)
    } finally q.stop()
  }

  test("streaming EMA/deltaSum tracks the batch time_decay_agg across micro-batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import StreamingDecay.ValueEvent
    val ev = Fixtures.table(spark, sf0001, "events")
      .select($"user_id", $"ts", $"event_id", $"value").as[ValueEvent]
      .collect().sortBy(r => (r.ts.getTime, r.event_id))
    val (b1, b2) = ev.splitAt(ev.length / 2)
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[ValueEvent]
    val q = StreamingDecay.emaDeltaSum(mem.toDS()).writeStream
      .outputMode("update").format("memory").queryName("decay_out").start()
    try {
      mem.addData(b1.toSeq)
      q.processAllAvailable()
      mem.addData(b2.toSeq)
      q.processAllAvailable()
      // n_events is monotone per user, so max(struct(n, ...)) = the
      // latest emission
      val got = spark.table("decay_out")
        .groupBy($"user_id")
        .agg(max(struct($"n_events", $"ema_last", $"delta_sum")).as("s"))
        .select($"user_id", $"s.n_events", $"s.ema_last", $"s.delta_sum")
        .collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3))))
        .toMap
      val want = graft.queries.AnalyticsQueries.timeDecayAgg(spark, sf0001)
        .collect()
        .map(r => r.getLong(0) -> ((r.getLong(3), r.getDouble(1), r.getDouble(2))))
        .toMap
      assert(got.keySet == want.keySet, "every user reported")
      want.foreach { case (u, (n, ema, ds)) =>
        val (gn, gema, gds) = got(u)
        assert(gn == n, s"user $u event count")
        assert(gds == ds, s"user $u deltaSum: $gds vs $ds (integer cents — exact)")
        // recurrence vs closed-form cumsum: same algebra, different fp
        // association; batch additionally rounds to 4 decimals
        assert(math.abs(gema - ema) < 1e-3, s"user $u ema: $gema vs $ema")
      }
    } finally q.stop()
  }

  test("streaming top-k: Space-Saving eviction semantics on a known sequence") {
    import StreamingTopK.KeyedItem
    // capacity 2: items 1,1,2 fill/serve; item 3 evicts the min (2, count 1)
    // and inherits its count as error -> est 2, max_error 1
    val seq = Seq(1L, 1L, 2L, 3L).map(KeyedItem("g", _)).toDS()
    val out = StreamingTopK.topK(seq, capacity = 2, k = 2).collect()
      .map(e => e.item -> ((e.est_count, e.max_error))).toMap
    assert(out == Map(1L -> ((2L, 0L)), 3L -> ((2L, 1L))), out.toString)
  }

  test("streaming top-k: heavy items survive across micro-batches within the SS bound") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import StreamingTopK.KeyedItem
    // skewed synthetic stream: heavy items 1, 2, 3 (60/40/20 arrivals),
    // 200 distinct light items (1 each) churning the counter map
    val heavy = Seq.fill(60)(1L) ++ Seq.fill(40)(2L) ++ Seq.fill(20)(3L)
    val light = (100L until 300L).toSeq
    // deterministic interleave, split into two time-ordered batches
    val all = (heavy ++ light).sorted.zipWithIndex
      .sortBy { case (item, idx) => (idx * 7919 + item) % 997 }
      .map(_._1)
    val (b1, b2) = all.splitAt(all.length / 2)
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[KeyedItem]
    val q = StreamingTopK.topK(mem.toDS(), capacity = 50, k = 10).writeStream
      .outputMode("update").format("memory").queryName("topk_out").start()
    try {
      mem.addData(b1.map(KeyedItem("g", _)))
      q.processAllAvailable()
      mem.addData(b2.map(KeyedItem("g", _)))
      q.processAllAvailable()
      // counts are monotone, so max(est) per item = the latest emission
      val latest = spark.table("topk_out")
        .groupBy("item").agg(max($"est_count").as("est"), max($"max_error").as("err"))
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      val n = all.length
      val truth = Map(1L -> 60L, 2L -> 40L, 3L -> 20L)
      truth.foreach { case (item, c) =>
        // every item with true count > n/capacity must be tracked
        assert(c > n / 50, "test setup: items must clear the SS guarantee bar")
        val (est, err) = latest.getOrElse(item, sys.error(s"heavy item $item lost"))
        assert(est >= c && est <= c + err, s"item $item: est $est err $err true $c")
        assert(err <= n.toLong / 50, s"item $item error ${err} above n/capacity")
      }
    } finally q.stop()
  }

  test("runningUserTypeCounts accumulates state per (user, type)") {
    val events = Seq((1L, "click"), (1L, "click"), (1L, "view"), (2L, "click"))
      .toDS()
    val out = EventBucketizer.runningUserTypeCounts(events).collect()
      .map(u => (u.user_id, u.event_type) -> u.n).toMap
    assert(out == Map((1L, "click") -> 2L, (1L, "view") -> 1L, (2L, "click") -> 1L))
  }

  test("streaming PSI drift matches the batch windowed PSI across micro-batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import StreamingDrift.ValuePoint
    val ref = Seq.fill(10)(0.1) // drift measured against uniform
    val pts = Fixtures.table(spark, sf0001, "events")
      .select($"ts", $"value").as[ValuePoint]
      .collect().sortBy(_.ts.getTime)
    val (b1, b2) = pts.splitAt(pts.length / 2)
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[ValuePoint]
    val q = StreamingDrift.psi(mem.toDS(), ref, binWidth = 50.0).writeStream
      .outputMode("update").format("memory").queryName("drift_out").start()
    try {
      mem.addData(b1.toSeq)
      q.processAllAvailable()
      mem.addData(b2.toSeq)
      q.processAllAvailable()
      // update mode re-emits a window whenever it absorbs rows; the final
      // state per window is the emission with the max (monotone) count
      val got = spark.table("drift_out")
        .groupBy($"window_start")
        .agg(max(struct($"n", $"psi")).as("s"))
        .select($"window_start", $"s.n", $"s.psi")
        .collect()
        .map(r => r.getTimestamp(0) -> ((r.getLong(1), r.getDouble(2))))
        .toMap
      // the SAME code path runs in batch (watermark degenerates) — the
      // stream must agree window-for-window once all rows are absorbed
      val want = StreamingDrift.psi(
        spark.createDataset(pts.toIndexedSeq), ref, binWidth = 50.0)
        .collect()
        .map(r => r.getTimestamp(0) -> ((r.getLong(1), r.getDouble(2))))
        .toMap
      assert(got.keySet == want.keySet, s"windows differ: " +
        s"stream-only ${got.keySet -- want.keySet}, batch-only ${want.keySet -- got.keySet}")
      want.foreach { case (w, (n, psi)) =>
        assert(got(w)._1 == n, s"window $w count: ${got(w)._1} vs $n")
        assert(got(w)._2 == psi, s"window $w psi: ${got(w)._2} vs $psi " +
          "(identical expression tree both sides — exact)")
      }
      // sanity: the fixture's value distribution is nowhere near uniform
      // over [0, 500), so drift must actually register
      assert(want.values.exists(_._2 > 0.1), s"expected real drift, got $want")
    } finally q.stop()
  }

}
