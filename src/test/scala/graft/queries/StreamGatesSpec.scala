package graft.queries

import org.apache.spark.sql.functions._

import graft.{SparkEntry, SparkSpec}
import graft.sources.Fixtures

/** The streaming gates' contract is streaming ≡ batch on the same input;
  * each test replays the gate at sf0.001 against the batch computation
  * the DuckDB oracle will run at sf0.01.
  */
class StreamGatesSpec extends SparkSpec {
  import spark.implicits._

  private def canon(df: org.apache.spark.sql.DataFrame): Set[String] = {
    val cols = df.columns.sorted.toIndexedSeq
    df.select(cols.map(col): _*).collect().map(_.toString).toSet
  }

  test("stream_bucketize equals batch daily bucketize") {
    val got = StreamQueries.streamBucketize(spark, sf0001)
    val events = Fixtures.table(spark, sf0001, "events")
    val want = events.groupBy(to_date($"ts").as("date"))
      .agg(count(lit(1)).as("event_count"),
        round(sum($"value"), 2).as("value_sum"))
    assert(got.count() > 0)
    assert(canon(got) == canon(want))
  }

  test("stream_sliding_counts equals the 7x explode expansion") {
    val got = StreamQueries.streamSlidingCounts(spark, sf0001)
    val events = Fixtures.table(spark, sf0001, "events")
    val want = events
      .select(to_date($"ts").as("d"), $"value")
      .withColumn("x", explode(sequence(lit(0), lit(6))))
      .groupBy(expr("date_add(d, x)").as("day"))
      .agg(count(lit(1)).as("n_events"), round(sum($"value"), 2).as("value_sum"))
    assert(canon(got) == canon(want))
  }

  test("stream_user_type_counts equals the batch group-by across 3 micro-batches") {
    val got = StreamQueries.streamUserTypeCounts(spark, sf0001)
    val events = Fixtures.table(spark, sf0001, "events")
    val want = events.groupBy($"user_id", $"event_type")
      .agg(count(lit(1)).as("n"))
    assert(canon(got) == canon(want))
  }

  test("stream_dedup emits exactly the distinct texts") {
    val got = StreamQueries.streamDedup(spark, sf0001)
    val want = Fixtures.table(spark, sf0001, "documents").select($"text").distinct()
    assert(canon(got) == canon(want))
  }

  test("stream_phash_dedup equals the batch fingerprint group-by; variants collapse") {
    val got = StreamQueries.streamPhashDedup(spark, sf0001)
    val media = DataQueries.synthPnmMedia(
      Fixtures.table(spark, sf0001, "documents"))
    val want = graft.multimodal.Multimodal.dHash(media).toDF()
      .groupBy($"dhash")
      .agg(min($"media_id").as("canonical_id"), count(lit(1)).as("n_images"))
      .select($"canonical_id", $"n_images")
    assert(canon(got) == canon(want))
    // brightness variants share their original's fingerprint, so at
    // least one group collapsed more than one image
    assert(got.filter($"n_images" >= 2).count() > 0)
  }

  test("stream_image_admit equals the batch admission classification") {
    val got = StreamQueries.streamImageAdmit(spark, sf0001)
    val want = DataQueries.dedupImageAdmit(spark, sf0001)
    assert(canon(got) == canon(want))
    // the in-stream banded join + complete-mode MIN must surface all
    // three statuses on the fixture split
    val statuses = got.select($"status").collect().map(_.getString(0)).toSet
    assert(statuses == Set("dup_exact", "dup_near", "new"))
  }

  test("stream_video_dedup equals the batch >= 2-of-4 frame pair set") {
    val got = StreamQueries.streamVideoDedup(spark, sf0001)
    val want = SparkEntry.queries("dedup_video_frames")(spark, sf0001)
    assert(canon(got) == canon(want))
  }

  test("stream_audio_admit equals the batch audio admission") {
    val got = StreamQueries.streamAudioAdmit(spark, sf0001)
    val want = DataQueries.dedupAudioAdmit(spark, sf0001)
    assert(canon(got) == canon(want))
  }

  test("stream_video_admit equals the batch video admission") {
    val got = StreamQueries.streamVideoAdmit(spark, sf0001)
    val want = DataQueries.dedupVideoAdmit(spark, sf0001)
    assert(canon(got) == canon(want))
  }

  test("stream_embedding_admit equals the batch embedding admission") {
    val got = StreamQueries.streamEmbeddingAdmit(spark, sf0001)
    val want = DataQueries.dedupEmbeddingAdmit(spark, sf0001)
    assert(canon(got) == canon(want))
  }

  test("streaming embedding admission in the auto-bits >3-bit regime equals " +
      "the batch wide face") {
    import graft.operators.Similarity
    val emb = Fixtures.table(spark, sf0001, "embeddings")
    val corpus = DataQueries.wideAdmitCorpus(emb)
    val bits = Similarity.autoBits(corpus.count())
    assert(bits == 4, "the wide corpus must land in the 4-bit regime")
    val delta = emb.filter($"vec_id" < 500 && pmod($"vec_id", lit(2)) === 1)
      .select($"vec_id", $"embedding")
    val tmp = tempDir("graft_wide_admit")
    delta.repartition(3).write.mode("overwrite").parquet(tmp)
    val stream = spark.readStream.schema(delta.schema)
      .option("maxFilesPerTrigger", "1").parquet(tmp)
    val agg = StreamQueries.embeddingAdmitMatches(corpus, stream, bits)
    val sunk = StreamQueries.drain(agg, "complete", "wideadmit")
    val got = DataQueries.admitStatuses(
      delta.select($"vec_id".as("doc_id")), sunk)
      .withColumnRenamed("media_id", "vec_id")
    val want = DataQueries.dedupEmbeddingAdmitWide(spark, sf0001)
    assert(canon(got) == canon(want))
  }

  test("stream_forecast_snaive: the last refit equals the batch snaive " +
      "face on the two monoid metrics") {
    val got = StreamQueries.streamForecastSnaive(spark, sf0001)
    val want = SparkEntry.queries("forecast_events_snaive")(spark, sf0001)
      .filter($"metric" =!= "active_users")
    assert(got.count() == 14)
    assert(canon(got) == canon(want))
  }

  test("stream_forecast_ridge: the last refit equals the batch ridge " +
    "face on the two monoid metrics") {
    val got = StreamQueries.streamForecastRidge(spark, sf0001)
    val want = SparkEntry.queries("forecast_events_ridge_trend")(spark, sf0001)
      .filter($"metric" =!= "active_users")
    assert(got.count() == 14)
    assert(canon(got) == canon(want))
  }

  test("stream_interval_join equals the batch self-join within 1 hour") {
    val got = StreamQueries.streamIntervalJoin(spark, sf0001)
    val e = Fixtures.table(spark, sf0001, "events")
    val v = e.filter($"event_type" === "view")
      .select($"user_id", $"event_id".as("view_id"), $"ts".as("view_ts"))
    val c = e.filter($"event_type" === "click")
      .select($"user_id".as("cu"), $"event_id".as("click_id"), $"ts".as("click_ts"))
    val want = v.join(c, $"user_id" === $"cu" &&
        $"click_ts" > $"view_ts" &&
        $"click_ts" <= $"view_ts" + expr("INTERVAL 1 hour"))
      .select($"user_id", $"view_id", $"click_id", $"view_ts", $"click_ts")
    assert(got.count() > 0)
    assert(canon(got) == canon(want))
  }

  test("stream_drift_psi matches a driver-side PSI replay per day") {
    val got = StreamQueries.streamDriftPsi(spark, sf0001)
      .collect().map(r => (r.getTimestamp(0).toString, r.getLong(1), r.getDouble(2)))
      .toSeq.sortBy(_._1)
    val events = Fixtures.table(spark, sf0001, "events")
      .select(to_date($"ts").as("d"), $"value").collect()
      .map(r => (r.getDate(0).toString, r.getDouble(1)))
    val want = events.groupBy(_._1).toSeq.sortBy(_._1).map { case (d, rows) =>
      val bins = new Array[Long](10)
      rows.foreach { case (_, v) =>
        bins(math.min(9, math.max(0, math.floor(v / 50.0).toInt))) += 1L
      }
      val n = rows.size.toLong
      val psi = (0 until 10).map { i =>
        val q = (bins(i) + 1.0) / (n + 10.0)
        (q - 0.1) * math.log(q / 0.1)
      }.sum
      (s"$d 00:00:00.0", n, math.rint(psi * 1e6) / 1e6)
    }
    assert(got.size == want.size)
    got.zip(want).foreach { case ((gd, gn, gp), (wd, wn, wp)) =>
      assert(gd == wd && gn == wn, s"day $gd")
      assert(math.abs(gp - wp) < 2e-6, s"psi $gd: $gp vs $wp")
    }
  }
}
