package graft.queries

import org.apache.spark.sql.functions._

import graft.{SparkEntry, SparkSpec}
import graft.operators.Dedup

/** Round-14 additions: the delta-vs-corpus Hamming join behind
  * incremental image admission, the admission statuses themselves, and
  * the Holt face's forecast invariants (its VALUES are driver-hash-
  * checked by the oracle; these pin the semantic shape).
  */
class MediaAdmitAndHoltSpec extends SparkSpec {
  import spark.implicits._

  test("hammingJoin == brute-force delta-vs-corpus join on adversarial fingerprints") {
    // fingerprints straddling chunk boundaries, sign bit, and exact
    // collisions across the two sets
    val corpus = Seq(
      (1L, 0L), (2L, -1L), (3L, 0x00F0000000000000L),
      (4L, 0x0123456789ABCDEFL), (5L, Long.MinValue)
    ).toDF("media_id", "h")
    val delta = Seq(
      (10L, 0L),                    // exact hit on 1
      (11L, 7L),                    // hamming 3 to 1
      (12L, 15L),                   // hamming 4 to 1 — must NOT match
      (13L, -2L),                   // hamming 1 to 2
      (14L, 0x0123456789ABCDEEL),   // hamming 1 to 4
      (15L, Long.MinValue | 3L),    // hamming 2 to 5
      (16L, 0x5555555555555555L)    // far from everything
    ).toDF("media_id", "h")
    val banded = Dedup.hammingJoin(delta, corpus, "media_id", "h", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val brute = delta.as("d").crossJoin(corpus.as("c"))
      .select(col("d.media_id").as("doc_id"), col("c.media_id").as("match_id"),
        bit_count(col("d.h").bitwiseXOR(col("c.h"))).as("hamming"))
      .filter(col("hamming") <= 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(banded == brute, s"banded=$banded brute=$brute")
    assert(!banded.exists(_._1 == 12L))
    assert(banded.exists(t => t._1 == 10L && t._2 == 1L && t._3 == 0))
  }

  test("dedup_image_admit: status and match of EVERY delta image equal the " +
    "brute-force classification; brightness variants of corpus images are exact") {
    val out = DataQueries.dedupImageAdmit(spark, sf0001).collect()
      .map(r => r.getLong(0) -> ((r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2)))).toMap
    val media = DataQueries.synthPnmMedia(
      graft.sources.Fixtures.table(spark, sf0001, "documents"))
    val fps = graft.multimodal.Multimodal.dHash(media).toDF().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val corpusFps = fps.filter { case (id, _) => id < 1000000L && id % 2 == 0 }
    assert(out.keySet == fps.keySet.diff(corpusFps.keySet))
    out.foreach { case (id, (st, m)) =>
      val hs = corpusFps.map { case (cid, h) =>
        cid -> java.lang.Long.bitCount(fps(id) ^ h) }
      val exact = hs.collect { case (cid, 0) => cid }
      val near = hs.collect { case (cid, d) if d >= 1 && d <= 3 => cid }
      val (expSt, expM) =
        if (exact.nonEmpty) ("dup_exact", exact.min)
        else if (near.nonEmpty) ("dup_near", near.min)
        else ("new", -1L)
      assert(st == expSt && m == expM, s"$id: got ($st,$m) want ($expSt,$expM)")
    }
    // dHash is brightness-invariant, so every brightness variant of a
    // CORPUS image must classify exact; and genuinely new images exist
    val brightOfEven = out.keys.filter(id =>
      id >= 1000000L && id < 2000000L && (id - 1000000L) % 2 == 0)
    assert(brightOfEven.nonEmpty)
    brightOfEven.foreach(id => assert(out(id)._1 == "dup_exact"))
    assert(out.values.exists(_._1 == "new"))
    assert(out.values.exists(_._1 == "dup_near"))
  }

  test("dedup_audio_admit: status and match of EVERY delta clip equal the " +
    "brute-force classification; gain variants of corpus clips are exact") {
    val out = DataQueries.dedupAudioAdmit(spark, sf0001).collect()
      .map(r => r.getLong(0) -> ((r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2)))).toMap
    val media = DataQueries.synthWavMedia(
      graft.sources.Fixtures.table(spark, sf0001, "documents"))
    val fps = graft.multimodal.Multimodal.audioFingerprint(media).toDF().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val corpusFps = fps.filter { case (id, _) => id < 3000000L && id % 2 == 0 }
    assert(out.keySet == fps.keySet.diff(corpusFps.keySet))
    out.foreach { case (id, (st, m)) =>
      val hs = corpusFps.map { case (cid, h) =>
        cid -> java.lang.Long.bitCount(fps(id) ^ h) }
      val exact = hs.collect { case (cid, 0) => cid }
      val near = hs.collect { case (cid, d) if d >= 1 && d <= 3 => cid }
      val (expSt, expM) =
        if (exact.nonEmpty) ("dup_exact", exact.min)
        else if (near.nonEmpty) ("dup_near", near.min)
        else ("new", -1L)
      assert(st == expSt && m == expM, s"$id: got ($st,$m) want ($expSt,$expM)")
    }
    // gain halves every frame energy, so gradients — and the print —
    // are identical: every gain variant of a CORPUS clip is exact
    val gainOfEven = out.keys.filter(id =>
      id >= 3000000L && id < 4000000L && (id - 3000000L) % 2 == 0)
    assert(gainOfEven.nonEmpty)
    gainOfEven.foreach(id => assert(out(id)._1 == "dup_exact"))
    assert(out.values.exists(_._1 == "new"))
  }

  test("dedup_video_admit: tiers follow brute-force frame-agreement counts; " +
    "re-encode variants of corpus videos populate the near tier") {
    val out = DataQueries.dedupVideoAdmit(spark, sf0001).collect()
      .map(r => r.getLong(0) -> ((r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2)))).toMap
    val keyed = DataQueries.videoFrameKeys(DataQueries.synthVideoMedia(
      graft.sources.Fixtures.table(spark, sf0001, "documents"))).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val byMedia = keyed.groupBy(_._1).map { case (id, rows) =>
      id -> rows.map(t => (t._2, t._3)).toSet }
    val corpus = byMedia.filter { case (id, _) => id < 5000000L && id % 2 == 1 }
    assert(out.keySet == byMedia.keySet.diff(corpus.keySet))
    out.foreach { case (id, (st, m)) =>
      val counts = corpus.map { case (cid, fr) =>
        cid -> byMedia(id).intersect(fr).size }
      val exact = counts.collect { case (cid, 4) => cid }
      val near = counts.collect { case (cid, n) if n >= 2 && n <= 3 => cid }
      val (expSt, expM) =
        if (exact.nonEmpty) ("dup_exact", exact.min)
        else if (near.nonEmpty) ("dup_near", near.min)
        else ("new", -1L)
      assert(st == expSt && m == expM, s"$id: got ($st,$m) want ($expSt,$expM)")
    }
    // the exact tier (4/4 frames) needs byte-identical sampled windows
    // across the split — absent at sf0.001 (no exact-duplicate texts);
    // its logic is pinned by the brute-force parity loop above. The
    // near tier is the one the re-encode variants exist to exercise.
    assert(out.values.exists(_._1 == "dup_near"))
    assert(out.values.exists(_._1 == "new"))
  }

  test("dedup_embedding_admit: exact tier complete (array equality is not " +
    "LSH-bounded), near tier sound (every match cosine-verified), recall floor") {
    val out = DataQueries.dedupEmbeddingAdmit(spark, sf0001).collect()
      .map(r => r.getLong(0) -> ((r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2)))).toMap
    val vecs = graft.sources.Fixtures.table(spark, sf0001, "embeddings")
      .collect().map(r => r.getLong(0) ->
        r.getSeq[Float](1).toArray).toMap
    val cor = vecs.filter(_._1 % 2 == 0)
    val del = vecs.filter(_._1 % 2 == 1)
    assert(out.keySet == del.keySet)
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        d += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i); i += 1
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    out.foreach { case (id, (st, m)) =>
      val exact = cor.collect {
        case (cid, v) if java.util.Arrays.equals(v, del(id)) => cid }
      if (exact.nonEmpty)
        assert(st == "dup_exact" && m == exact.min, s"$id: ($st,$m)")
      else assert(st != "dup_exact", s"$id claims exact with none: $m")
      if (st == "dup_near")
        assert(cos(del(id), cor(m)) >= 0.45, s"$id near-match unverified")
    }
    // LSH candidate recall vs brute-force cosine truth: bounded below
    val bruteNear = del.keys.filter(id =>
      cor.exists { case (_, v) => cos(del(id), v) >= 0.45 }).toSet
    val gotMatched = out.collect { case (id, (st, _)) if st != "new" => id }.toSet
    assert(bruteNear.nonEmpty)
    val recall = gotMatched.intersect(bruteNear).size.toDouble / bruteNear.size
    assert(recall >= 0.7, s"admission recall $recall below floor")
    assert(out.values.exists(_._1 == "new"))
  }

  test("forecast_events_holt: 3 metrics x 7 strictly-future days, ordered bands, " +
    "deterministic across runs") {
    val df = SparkEntry.queries("forecast_events_holt")(spark, sf0001)
    val rows = df.collect()
    assert(rows.length == 21)
    assert(rows.map(_.getString(0)).distinct.sorted.toSeq ==
      Seq("active_users", "event_count", "value_sum"))
    val maxDs = SparkEntry.queries("max_date")(spark, sf0001).head().getDate(0)
    rows.foreach { r =>
      assert(r.getDate(1).after(maxDs), s"ds ${r.getDate(1)} not future")
      val (lo, y, hi) = (r.getDouble(3), r.getDouble(2), r.getDouble(4))
      assert(lo <= y && y <= hi, s"band disorder: $lo $y $hi")
    }
    val again = SparkEntry.queries("forecast_events_holt")(spark, sf0001).collect()
    assert(rows.map(_.toString).toSeq == again.map(_.toString).toSeq)
  }

  test("forecast_events_holt_damped: shares the linear face's fit; divergence " +
    "from the undamped projection grows with horizon") {
    def byKey(name: String) =
      SparkEntry.queries(name)(spark, sf0001).collect()
        .map(r => (r.getString(0), r.getDate(1).toString) -> r.getDouble(2)).toMap
    val lin = byKey("forecast_events_holt")
    val dmp = byKey("forecast_events_holt_damped")
    assert(lin.keySet == dmp.keySet && lin.size == 21)
    // per metric, |linear - damped| = (h - (1 - 0.5^h)) * |b| / 100 is
    // non-decreasing in h — the damped face flattens the extrapolation
    lin.keys.groupBy(_._1).foreach { case (_, ks) =>
      val diffs = ks.toSeq.sortBy(_._2).map(k => math.abs(lin(k) - dmp(k)))
      diffs.sliding(2).foreach {
        case Seq(a, b) => assert(b >= a - 1e-4, s"divergence shrank: $diffs")
        case _ =>
      }
    }
    val out = SparkEntry.queries("forecast_events_holt_damped")(spark, sf0001)
      .collect()
    out.foreach { r =>
      assert(r.getDouble(3) <= r.getDouble(2) && r.getDouble(2) <= r.getDouble(4))
    }
  }

  test("forecast_events_holt_winters: seasonal state replays against a " +
    "driver-side scalar fold; slots rotate with the horizon") {
    val rows = SparkEntry.queries("forecast_events_holt_winters")(spark, sf0001)
      .collect()
      .map(r => (r.getString(0), r.getDate(1).toString,
        r.getDouble(2), r.getDouble(3), r.getDouble(4)))
    assert(rows.length == 21)
    rows.foreach { case (_, _, y, lo, hi) => assert(lo <= y && y <= hi) }
    // scalar replay of the recurrence per metric from the melted series
    val melted = SparkEntry.queries("series_melt")(spark, sf0001)
    val byMetric = melted.collect()
      .map(r => (r.getString(0), r.getDate(1), r.getDouble(2)))
      .groupBy(_._1)
    byMetric.foreach { case (metric, ms) =>
      val ys = ms.sortBy(_._2.toLocalDate.toEpochDay)
        .map(t => math.rint(t._3 * 100).toLong)
      assert(ys.length >= 14, s"fixture too short for $metric")
      var l = ys.take(7).sum.toDouble / 7.0
      var b = 0.0
      val sa = Array.tabulate(7)(j => ys(j).toDouble - l)
      var se = 0.0
      for (i <- 7 until ys.length) {
        val y = ys(i).toDouble; val k = i % 7
        val e = y - (l + b + sa(k))
        val l1 = 0.5 * (y - sa(k)) + 0.5 * (l + b)
        val b1 = 0.5 * (l1 - l) + 0.5 * b
        val s1 = 0.5 * (y - (l + b)) + 0.5 * sa(k)
        se += e * e; l = l1; b = b1; sa(k) = s1
      }
      val sd = math.sqrt(se / (ys.length - 7).toDouble) / 100.0
      val got = rows.filter(_._1 == metric).sortBy(_._2)
      got.zipWithIndex.foreach { case ((_, _, y, lo, hi), idx) =>
        val h = idx + 1
        val want = (l + h.toDouble * b + sa((ys.length + h - 1) % 7)) / 100.0
        def grain(x: Double) = math.floor(x * 10000 + 0.5) / 10000.0
        assert(y == grain(want), s"$metric h=$h: $y vs ${grain(want)}")
        assert(lo == grain(want - 1.28 * sd) && hi == grain(want + 1.28 * sd))
      }
    }
  }

  test("forecast_events_holt_winters_damped: shares the seasonal fold shape; " +
    "ordered bands and the same calendar as the linear face") {
    def byKey(name: String) =
      SparkEntry.queries(name)(spark, sf0001).collect()
        .map(r => (r.getString(0), r.getDate(1).toString) ->
          (r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    val lin = byKey("forecast_events_holt_winters")
    val dmp = byKey("forecast_events_holt_winters_damped")
    // identical (metric, date) calendar; both faces emit 3 metrics x 7 days
    assert(lin.keySet == dmp.keySet && lin.size == 21)
    dmp.values.foreach { case (y, lo, hi) => assert(lo <= y && y <= hi) }
    // phi < 1 is a genuinely different fit (not just a reprojection):
    // at least one forecast value must differ between the faces
    assert(lin != dmp, "damping must change at least one forecast value")
  }

  test("forecast_events_holt_winters_mul: ratio seasonal state replays " +
    "against a driver-side scalar fold; projection multiplies the slot") {
    val rows = SparkEntry.queries("forecast_events_holt_winters_mul")(spark, sf0001)
      .collect()
      .map(r => (r.getString(0), r.getDate(1).toString,
        r.getDouble(2), r.getDouble(3), r.getDouble(4)))
    assert(rows.length == 21)
    rows.foreach { case (_, _, y, lo, hi) => assert(lo <= y && y <= hi) }
    // scalar replay of the MULTIPLICATIVE recurrence (FPP3 §8.3 ratio
    // form): divide where the additive fold subtracts, error against
    // (l + b)*s_k, projection (l + h*b)*s
    val melted = SparkEntry.queries("series_melt")(spark, sf0001)
    val byMetric = melted.collect()
      .map(r => (r.getString(0), r.getDate(1), r.getDouble(2)))
      .groupBy(_._1)
    byMetric.foreach { case (metric, ms) =>
      val ys = ms.sortBy(_._2.toLocalDate.toEpochDay)
        .map(t => math.rint(t._3 * 100).toLong)
      assert(ys.length >= 14 && ys.forall(_ > 0L),
        s"fixture must satisfy the mul guard for $metric")
      var l = ys.take(7).sum.toDouble / 7.0
      var b = 0.0
      val sa = Array.tabulate(7)(j => ys(j).toDouble / l)
      var se = 0.0
      for (i <- 7 until ys.length) {
        val y = ys(i).toDouble; val k = i % 7
        val e = y - (l + b) * sa(k)
        val l1 = 0.5 * (y / sa(k)) + 0.5 * (l + b)
        val b1 = 0.5 * (l1 - l) + 0.5 * b
        val s1 = 0.5 * (y / (l + b)) + 0.5 * sa(k)
        se += e * e; l = l1; b = b1; sa(k) = s1
      }
      val sd = math.sqrt(se / (ys.length - 7).toDouble) / 100.0
      val got = rows.filter(_._1 == metric).sortBy(_._2)
      got.zipWithIndex.foreach { case ((_, _, y, lo, hi), idx) =>
        val h = idx + 1
        val want = (l + h.toDouble * b) * sa((ys.length + h - 1) % 7) / 100.0
        def grain(x: Double) = math.floor(x * 10000 + 0.5) / 10000.0
        assert(y == grain(want), s"$metric h=$h: $y vs ${grain(want)}")
        assert(lo == grain(want - 1.28 * sd) && hi == grain(want + 1.28 * sd))
      }
    }
    // the ratio state is a genuinely different model from the additive
    // face, not a reparameterization
    val add = SparkEntry.queries("forecast_events_holt_winters")(spark, sf0001)
      .collect().map(r => (r.getString(0), r.getDate(1).toString) -> r.getDouble(2))
      .toMap
    val mulMap = rows.map(t => (t._1, t._2) -> t._3).toMap
    assert(add.keySet == mulMap.keySet, "both faces share the calendar")
    assert(add != mulMap, "mul must change at least one forecast value")
  }

  test("forecast_events_holt_winters_mul_damped: completes the 2x2 " +
    "seasonal taxonomy; damping flattens the multiplicative extrapolation") {
    def byKey(name: String) =
      SparkEntry.queries(name)(spark, sf0001).collect()
        .map(r => (r.getString(0), r.getDate(1).toString) ->
          (r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    val lin = byKey("forecast_events_holt_winters_mul")
    val dmp = byKey("forecast_events_holt_winters_mul_damped")
    assert(lin.keySet == dmp.keySet && lin.size == 21)
    dmp.values.foreach { case (y, lo, hi) => assert(lo <= y && y <= hi) }
    // phi < 1 is a genuinely different fit, and the four faces of the
    // taxonomy are four distinct models
    assert(lin != dmp, "damping must change at least one forecast value")
    val addDmp = byKey("forecast_events_holt_winters_damped")
    assert(addDmp.keySet == dmp.keySet && addDmp != dmp,
      "mul-damped must differ from additive-damped")
  }
}
