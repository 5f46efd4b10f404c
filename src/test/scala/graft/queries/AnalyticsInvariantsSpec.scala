package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.Fixtures

/** Invariants for the round-7 analytics additions, beyond the DuckDB
  * hash checks: structural properties that must hold on ANY input, not
  * just the fixture values.
  */
class AnalyticsInvariantsSpec extends SparkSpec {

  test("funnel_conversion_time: zero-converter input yields one NULL-metric row, no throw") {
    // an empty funnel used to crash Spark-side: the global agg still emits
    // one row with n_converted = 0 and an empty seconds list, and the
    // unguarded percentile interpolation evaluated element_at(ss, 0)
    // (1-based -> error). Build an events table with views but no
    // purchases so the funnel genuinely converts nobody.
    import spark.implicits._
    val dir = tempDir("empty_funnel")
    spark.read.parquet(s"$sf0001/events.parquet")
      .filter(col("event_type") === "view")
      .write.parquet(s"$dir/events.parquet")
    val rows = AnalyticsQueries.funnelConversionTime(spark, dir).collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getLong(r.fieldIndex("n_converted")) == 0L)
    Seq("p50_sec", "p90_sec", "avg_sec").foreach { c =>
      assert(r.isNullAt(r.fieldIndex(c)), s"$c must be NULL for an empty funnel")
    }
  }

  test("lttb: exactly threshold points per series, endpoints kept, all points real") {
    val out = AnalyticsQueries.lttbDownsample(spark, sf001).collect()
    val bySeries = out.groupBy(_.getString(0))
    assert(bySeries.nonEmpty)
    bySeries.foreach { case (et, rows) =>
      assert(rows.length == 20, s"$et: ${rows.length} points, want threshold=20")
      val buckets = rows.map(_.getInt(1)).sorted.toSeq
      assert(buckets == (0 to 19), s"$et buckets: $buckets")
      // endpoints: bucket 0 is the series start (x_s = 0 by normalization)
      assert(rows.find(_.getInt(1) == 0).get.getLong(2) == 0L, s"$et first point")
    }
    // every selected (series, x, value) is a real input point
    val pts = Fixtures.table(spark, sf001, "events")
      .select(col("event_type"),
        (unix_timestamp(col("ts")) -
          min(unix_timestamp(col("ts"))).over(
            org.apache.spark.sql.expressions.Window.partitionBy(col("event_type"))))
          .as("x_s"),
        round(round(col("value") * 100) / 100, 2).as("value"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    out.foreach { r =>
      assert(pts.contains((r.getString(0), r.getLong(2), r.getDouble(3))),
        s"selected point not in input: $r")
    }
  }

  test("time_decay_agg EMA matches a brute-force O(n^2) reference per user") {
    val got = AnalyticsQueries.timeDecayAgg(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val ev = Fixtures.table(spark, sf0001, "events")
      .select(col("user_id"), unix_timestamp(col("ts")).as("sec"),
        col("event_id"), col("value"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .groupBy(_._1)
    assert(got.keySet == ev.keySet)
    ev.foreach { case (u, rows) =>
      val sorted = rows.sortBy(r => (r._2, r._3))
      val tLast = sorted.last._2.toDouble
      val brute = sorted.map { case (_, t, _, y) =>
        y * math.pow(2.0, -(tLast - t) / 86400.0)
      }.sum
      assert(math.abs(got(u) - brute) < 1e-3, s"user $u: ${got(u)} vs brute $brute")
    }
  }

  test("strict funnel step counts are monotone non-increasing and bounded by base l1") {
    def steps(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.collect().sortBy(_.getLong(0)).map(_.getLong(2)).toSeq
    val so = steps(AnalyticsQueries.funnelStrictOrder(spark, sf001))
    val sd = steps(AnalyticsQueries.funnelStrictDedup(spark, sf001))
    assert(so.length == 3 && sd.length == 3)
    assert(so(0) >= so(1) && so(1) >= so(2), s"strict_order not monotone: $so")
    assert(sd(0) >= sd(1) && sd(1) >= sd(2), s"strict_dedup not monotone: $sd")
    // step 1 is "has a view" in every mode — all three funnels agree there
    val base = steps(AnalyticsQueries.funnelStepsWindowed(spark, sf001))
    assert(so(0) == base(0) && sd(0) == base(0))
    // strict_dedup's click stage is the windowed stage minus interrupted
    // chains — never more
    assert(sd(1) <= base(1), s"dedup step2 ${sd(1)} > base ${base(1)}")
  }

  test("retention_conditions: retained counts are subsets of the anchor count") {
    val r = AnalyticsQueries.retentionConditions(spark, sf001).collect().head
    val (r1, r2, r3, n) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    assert(r1 <= n && r2 <= r1 && r3 <= r1, s"not nested: $r1 $r2 $r3 / $n")
    assert(r1 > 0, "fixture has signups")
  }

  test("corr_matrix: bounded correlations, covar sign agrees, symmetric pair count") {
    val rows = AnalyticsQueries.corrMatrix(spark, sf001).collect()
    assert(rows.length == 6, "4 columns -> 6 unordered pairs")
    rows.foreach { r =>
      val (c, v) = (r.getDouble(2), r.getDouble(3))
      assert(c >= -1.0 && c <= 1.0, s"corr out of range: $r")
      assert(c == 0.0 || v == 0.0 || (c > 0) == (v > 0), s"sign mismatch: $r")
    }
  }

  test("periodogram recovers a planted weekly cycle and ignores a flat series") {
    import spark.implicits._
    val days = 0 until 56
    val weekly = days.map(t =>
      ("weekly", t, 100.0 + 40.0 * math.sin(2 * math.Pi * t / 7.0)))
    val fourDay = days.map(t =>
      ("four", t, 100.0 + 40.0 * math.cos(2 * math.Pi * t / 4.0)))
    val flat = days.map(t => ("flat", t, 100.0))
    val daily = (weekly ++ fourDay ++ flat).toDF("series", "t", "x")
    val pw = AnalyticsQueries.periodogram(daily).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    def best(s: String) = pw.filter(_._1 == s).maxBy(_._3)._2
    assert(best("weekly") == 7L, s"weekly series detected as ${best("weekly")}")
    assert(best("four") == 4L, s"4-day series detected as ${best("four")}")
    // a constant series has zero centered power at EVERY period
    assert(pw.filter(_._1 == "flat").forall(_._3 < 1e-6), "flat series must have ~0 power")
  }

  test("roc_auc equals 1 - U_view/(n1 n2): the Mann-Whitney rank identity") {
    val auc = AnalyticsQueries.rocAuc(spark, sf001).collect().head
    val mw = AnalyticsQueries.mannWhitney(spark, sf001).collect().head
    assert(auc.getDouble(0) >= 0.0 && auc.getDouble(0) <= 1.0)
    assert(auc.getLong(1) == mw.getLong(3) && auc.getLong(2) == mw.getLong(2))
    val n1n2 = mw.getLong(2).toDouble * mw.getLong(3)
    assert(math.abs(auc.getDouble(0) - (1.0 - mw.getDouble(0) / n1n2)) < 1e-5,
      s"auc ${auc.getDouble(0)} vs 1 - U/n1n2 ${1.0 - mw.getDouble(0) / n1n2}")
  }

  test("series_outliers_tukey matches a brute-force fence count per type") {
    val got = AnalyticsQueries.seriesOutliersTukey(spark, sf001).collect()
      .map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    val vals = Fixtures.table(spark, sf001, "events")
      .select(col("event_type"), col("value"))
      .collect().map(r => (r.getString(0), r.getDouble(1))).groupBy(_._1)
    assert(got.keySet == vals.keySet)
    vals.foreach { case (et, rows) =>
      val v = rows.map(_._2).sorted
      def quantile(p: Double): Double = { // linear interpolation, R-7
        val h = (v.length - 1) * p
        val l = h.toInt
        if (l + 1 < v.length) v(l) + (h - l) * (v(l + 1) - v(l)) else v(l)
      }
      val (q1, q3) = (quantile(0.25), quantile(0.75))
      val (lo, hi) = (q1 - 1.5 * (q3 - q1), q3 + 1.5 * (q3 - q1))
      val (gLo, gHi, nLow, nHigh, n) = got(et)
      assert(math.abs(gLo - lo) < 1e-3 && math.abs(gHi - hi) < 1e-3, s"$et fences")
      assert(nLow == v.count(_ < lo).toLong, s"$et n_low")
      assert(nHigh == v.count(_ > hi).toLong, s"$et n_high")
      assert(n == v.length.toLong && nLow + nHigh < n)
    }
  }

  test("cramers_v family: all three association measures bounded in [0,1]") {
    val r = AnalyticsQueries.cramersV(spark, sf001).collect().head
    val (v, vbc, cont) = (r.getDouble(1), r.getDouble(2), r.getDouble(3))
    for ((x, nm) <- Seq((v, "cramers_v"), (vbc, "cramers_v_bc"), (cont, "contingency")))
      assert(x >= 0.0 && x <= 1.0, s"$nm out of range: $x")
    // the bias correction shrinks phi2 by its chance expectation — it
    // can only reduce the reported association on this null-ish fixture
    assert(vbc <= v + 1e-9, s"bc $vbc > raw $v")
  }

  test("rank_corr: rho bounded, n_keys = distinct users") {
    val r = AnalyticsQueries.rankCorr(spark, sf001).collect().head
    val rho = r.getDouble(0)
    assert(rho >= -1.0 && rho <= 1.0, s"rho out of range: $rho")
    val users = Fixtures.table(spark, sf001, "events")
      .select(countDistinct(col("user_id"))).collect().head.getLong(0)
    assert(r.getLong(1) == users)
  }

  test("theils_u: bounded by [0,1], conditioning cannot add entropy") {
    val r = AnalyticsQueries.theilsU(spark, sf001).collect().head
    val (hx, hxy, u) = (r.getDouble(0), r.getDouble(1), r.getDouble(2))
    assert(hx > 0 && hxy >= 0)
    assert(hxy <= hx + 1e-9, s"H(X|Y)=$hxy > H(X)=$hx")
    assert(u >= 0.0 && u <= 1.0, s"U out of range: $u")
    assert(math.abs(u - (hx - hxy) / hx) < 1e-5)
  }

  test("linreg_simple matches a brute-force least-squares fit per type") {
    val got = AnalyticsQueries.linregSimple(spark, sf001).collect()
      .map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    val pts = Fixtures.table(spark, sf001, "events")
      .select(col("event_type"), col("ts").cast("double"), col("value"))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
      .groupBy(_._1)
    assert(got.keySet == pts.keySet)
    pts.foreach { case (et, rows) =>
      val n = rows.length.toDouble
      val mx = rows.map(_._2).sum / n
      val my = rows.map(_._3).sum / n
      val slope = rows.map(r => (r._2 - mx) * (r._3 - my)).sum /
        rows.map(r => (r._2 - mx) * (r._2 - mx)).sum
      val (gs, gf) = got(et)
      assert(math.abs(gs - slope * 86400.0) < 1e-4, s"$et slope $gs vs ${slope * 86400}")
      assert(math.abs(gf - (my + slope * (1705276800d - mx))) < 1e-2,
        s"$et fit $gf vs ${my + slope * (1705276800d - mx)}")
    }
  }

  test("doc_chunk: stride-48/window-64 tiling exactly reconstructs every document") {
    val chunks = TextQueries.docChunk(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .groupBy(_._1)
    val docs = Fixtures.table(spark, sf001, "documents")
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("t"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(chunks.keySet == docs.keySet)
    docs.foreach { case (id, toks) =>
      val cs = chunks(id).sortBy(_._2)
      val n = toks.length
      val expect = math.ceil(math.max(n - 64, 0) / 48.0).toLong + 1
      assert(cs.length == expect, s"doc $id: ${cs.length} chunks, want $expect")
      cs.zipWithIndex.foreach { case ((_, idx, nTok, text), i) =>
        assert(idx == i)
        val want = toks.slice(i * 48, i * 48 + 64)
        assert(nTok == want.length, s"doc $id chunk $i size")
        assert(text == want.mkString(" "), s"doc $id chunk $i text")
      }
      // coverage: the union of chunk spans is the whole token list
      assert(cs.init.forall(_._3 == 64) || n <= 64)
      assert((cs.length - 1) * 48 + cs.last._3 == n, s"doc $id tail coverage")
    }
  }

  test("event_transitions: rows sum to 1 per prev, total n = events - users") {
    val rows = AnalyticsQueries.eventTransitions(spark, sf001).collect()
    rows.groupBy(_.getString(0)).foreach { case (prev, rs) =>
      val pSum = rs.map(_.getDouble(3)).sum
      // each prob is rounded to 6, so the row sum is 1 +- 5e-6 per cell
      assert(math.abs(pSum - 1.0) < 5e-6 * rs.length, s"$prev rows sum to $pSum")
    }
    val ev = Fixtures.table(spark, sf001, "events")
    val total = ev.count()
    val users = ev.select("user_id").distinct().count()
    assert(rows.map(_.getLong(2)).sum == total - users,
      "every user's path contributes (len - 1) transitions")
  }

  test("series_acf: bounded, and pair counts shrink by one per lag on contiguous days") {
    val rows = AnalyticsQueries.seriesAcf(spark, sf001).collect()
      .map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) Double.NaN else r.getDouble(2), r.getLong(3)))
    assert(rows.nonEmpty)
    rows.foreach { case (et, lg, acf, _) =>
      assert(acf.isNaN || (acf >= -1.0 && acf <= 1.0), s"$et lag $lg acf $acf")
    }
    // the sf0.01 fixture has every calendar day populated for every type,
    // so lag-k alignment loses exactly k pairs
    rows.groupBy(_._1).foreach { case (et, rs) =>
      val n0 = rs.find(_._2 == 1L).get._4 + 1
      rs.foreach { case (_, lg, _, np) =>
        assert(np == n0 - lg, s"$et lag $lg pairs $np, want ${n0 - lg}")
      }
    }
  }

  test("series_cusum matches a brute-force changepoint scan per type") {
    val got = AnalyticsQueries.seriesCusum(spark, sf0001).collect()
      .map(r => r.getString(0) -> ((r.getDate(1).toString, r.getDouble(2)))).toMap
    val daily = Fixtures.table(spark, sf0001, "events")
      .select(col("event_type"), to_date(col("ts")).as("d"),
        round(col("value") * 100).cast("long").as("c"))
      .collect().map(r => (r.getString(0), r.getDate(1).toString, r.getLong(2)))
      .groupBy(_._1)
    daily.foreach { case (et, rows) =>
      val byDay = rows.groupBy(_._2).view.mapValues(_.map(_._3).sum)
        .toSeq.sortBy(_._1)
      val xs = byDay.map(_._2)
      val (n, tot) = (xs.length.toLong, xs.sum)
      val s = xs.scanLeft(0L)(_ + _).tail.zipWithIndex.map { case (cum, i) =>
        n * cum - (i + 1) * tot
      }
      val best = s.map(math.abs).max
      val bestDay = byDay(s.map(math.abs).indexOf(best))._1
      assert(got(et)._1 == bestDay, s"$et changepoint ${got(et)._1}, want $bestDay")
      assert(math.abs(got(et)._2 - best.toDouble / (n * 100)) < 0.005 + 1e-9,
        s"$et stat ${got(et)._2} vs ${best.toDouble / (n * 100)}")
    }
  }

  test("series_decompose: full-window rows only, sd non-negative") {
    val rows = AnalyticsQueries.seriesDecompose(spark, sf001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(1) >= 1 && r.getLong(1) <= 7, s"dow out of range: $r")
      assert(r.isNullAt(3) || r.getDouble(3) >= 0.0, s"negative sd: $r")
    }
    // trimming 3 days per series edge: per-series day counts sum to nd - 6
    val nd = Fixtures.table(spark, sf001, "events")
      .select(col("event_type"), to_date(col("ts")).as("d")).distinct()
      .groupBy("event_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.groupBy(_.getString(0)).foreach { case (et, rs) =>
      assert(rs.map(_.getLong(4)).sum == nd(et) - 6, s"$et day budget")
    }
  }

  test("mad_per_group matches a brute-force median-of-deviations per type") {
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2)
      else (s(s.length / 2 - 1) + s(s.length / 2)) / 2.0
    }
    val got = AnalyticsQueries.madPerGroup(spark, sf0001).collect()
      .map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    val vals = Fixtures.table(spark, sf0001, "events")
      .select(col("event_type"), col("value")).collect()
      .map(r => (r.getString(0), r.getDouble(1))).groupBy(_._1)
    vals.foreach { case (et, rows) =>
      val xs = rows.map(_._2).toSeq
      val m = median(xs)
      assert(math.abs(got(et)._1 - m) < 1e-4 + 1e-9, s"$et median")
      assert(math.abs(got(et)._2 - median(xs.map(x => math.abs(x - m)))) < 1e-4 + 1e-9,
        s"$et mad")
    }
  }

  test("multi_linreg matches a brute-force normal-equations solve") {
    val r = AnalyticsQueries.multiLinreg(spark, sf0001).collect().head
    val rows = Fixtures.table(spark, sf0001, "lineitem")
      .select(col("l_quantity"), col("l_discount"), col("l_extendedprice"))
      .collect().map(x => (x.getDouble(0), x.getDouble(1), x.getDouble(2)))
    val n = rows.length.toDouble
    def mean(f: ((Double, Double, Double)) => Double) = rows.map(f).sum / n
    val (m1, m2, my) = (mean(_._1), mean(_._2), mean(_._3))
    def c(f: ((Double, Double, Double)) => Double, mf: Double,
        g: ((Double, Double, Double)) => Double, mg: Double) =
      rows.map(t => (f(t) - mf) * (g(t) - mg)).sum
    val (c11, c22, c12) = (c(_._1, m1, _._1, m1), c(_._2, m2, _._2, m2), c(_._1, m1, _._2, m2))
    val (c1y, c2y, cyy) = (c(_._1, m1, _._3, my), c(_._2, m2, _._3, my), c(_._3, my, _._3, my))
    val det = c11 * c22 - c12 * c12
    val b1 = (c1y * c22 - c2y * c12) / det
    val b2 = (c11 * c2y - c12 * c1y) / det
    val b0 = my - b1 * m1 - b2 * m2
    assert(math.abs(r.getDouble(0) - b0) < 1e-3, s"b0 ${r.getDouble(0)} vs $b0")
    assert(math.abs(r.getDouble(1) - b1) < 1e-3, s"b1 ${r.getDouble(1)} vs $b1")
    assert(math.abs(r.getDouble(2) - b2) < 1e-3, s"b2 ${r.getDouble(2)} vs $b2")
    assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0, s"r2 ${r.getDouble(3)}")
    assert(r.getLong(4) == rows.length.toLong)
  }

  test("sample_weighted: exact size, valid members, longer docs overrepresented") {
    val out = AnalyticsQueries.sampleWeighted(spark, sf001).collect()
    assert(out.length == 100)
    assert(out.map(_.getLong(0)).distinct.length == 100, "duplicate doc_ids")
    val docs = Fixtures.table(spark, sf001, "documents")
      .select(col("doc_id"), col("n_chars")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    out.foreach(r => assert(docs(r.getLong(0)) == r.getLong(1), s"forged row $r"))
    // weight-proportional sampling must tilt the sample toward long docs
    val corpusAvg = docs.values.sum.toDouble / docs.size
    val sampleAvg = out.map(_.getLong(1)).sum.toDouble / out.length
    assert(sampleAvg > corpusAvg,
      s"weighted sample avg $sampleAvg not above corpus avg $corpusAvg")
  }

  test("attribution_last_touch: purchases conserved, credits only to real touch types") {
    val rows = AnalyticsQueries.attributionLastTouch(spark, sf001).collect()
    val ev = Fixtures.table(spark, sf001, "events")
    val purchases = ev.filter(col("event_type") === "purchase")
    assert(rows.map(_.getLong(1)).sum == purchases.count(),
      "every purchase credited exactly once")
    val types = ev.select("event_type").distinct().collect()
      .map(_.getString(0)).toSet - "purchase" + "(none)"
    rows.foreach(r => assert(types(r.getString(0)), s"bogus credit target: $r"))
    val totalRev = rows.map(_.getDouble(2)).sum
    val wantRev = purchases.agg(sum("value")).collect().head.getDouble(0)
    assert(math.abs(totalRev - wantRev) < 0.05, "revenue conserved across credits")
  }

  test("audience_overlap: all unordered pairs, intersections bounded, jaccard consistent") {
    val rows = AnalyticsQueries.audienceOverlap(spark, sf001).collect()
    assert(rows.length == 10, "5 event types -> 10 unordered pairs")
    rows.foreach { r =>
      val (both, na, nb, j) =
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))
      assert(r.getString(0) < r.getString(1), s"pair not canonical: $r")
      assert(both <= math.min(na, nb), s"intersection exceeds a side: $r")
      assert(math.abs(j - both.toDouble / (na + nb - both)) < 1e-6, s"jaccard: $r")
    }
  }

  test("gini_revenue: bounded in [0, 1), matches brute force") {
    val r = AnalyticsQueries.giniRevenue(spark, sf0001).collect().head
    val rev = Fixtures.table(spark, sf0001, "orders")
      .groupBy("o_custkey").sum("o_totalprice").collect()
      .map(_.getDouble(1)).sorted
    val n = rev.length.toDouble
    val gini = 2.0 * rev.zipWithIndex.map { case (x, i) => (i + 1) * x }.sum /
      (n * rev.sum) - (n + 1) / n
    assert(math.abs(r.getDouble(0) - gini) < 1e-5, s"${r.getDouble(0)} vs $gini")
    assert(r.getDouble(0) >= 0.0 && r.getDouble(0) < 1.0)
    assert(r.getLong(1) == rev.length.toLong)
  }

  test("ip_functions: subnets partition the events, addresses stay in 10.0.0.0/12") {
    val rows = AnalyticsQueries.ipFunctions(spark, sf001).collect()
    val total = Fixtures.table(spark, sf001, "events").count()
    assert(rows.map(_.getLong(1)).sum == total)
    rows.foreach { r =>
      assert(r.getLong(0) >= 0 && r.getLong(0) <= 15, s"subnet out of /12: $r")
      assert(r.getString(3).startsWith(s"10.${r.getLong(0)}."), s"first_ip: $r")
      assert(r.getString(4).startsWith(s"10.${r.getLong(0)}."), s"last_ip: $r")
      assert(r.getLong(2) <= r.getLong(1), "distinct ips bounded by events")
    }
  }

  test("geo_distance: distances within the sphere's bounds") {
    val rows = AnalyticsQueries.geoDistance(spark, sf001).collect()
    val halfCircumf = math.Pi * 6371.0
    rows.foreach { r =>
      assert(r.getDouble(2) >= 0.0, s"negative min: $r")
      assert(r.getDouble(3) <= halfCircumf + 0.01, s"beyond antipode: $r")
      assert(r.getDouble(1) >= r.getDouble(2) && r.getDouble(1) <= r.getDouble(3),
        s"avg outside [min, max]: $r")
    }
  }

  test("mutual_info: information inequalities hold") {
    val r = AnalyticsQueries.mutualInfo(spark, sf001).collect().head
    val (mi, hx, hy, nmi) =
      (r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getDouble(3))
    assert(mi >= -1e-9, s"MI must be non-negative: $mi")
    assert(mi <= math.min(hx, hy) + 1e-9, s"MI exceeds a marginal entropy: $r")
    assert(nmi >= -1e-9 && nmi <= 1.0 + 1e-9, s"nmi out of [0,1]: $nmi")
    assert(hx > 0 && hy > 0, "fixture has multiple types and days")
  }

  test("dedup_cluster_sizes: sizes weighted by cluster count cover the corpus") {
    val rows = DataQueries.dedupClusterSizes(spark, sf001).collect()
    val total = Fixtures.table(spark, sf001, "documents").count()
    assert(rows.map(r => r.getLong(0) * r.getLong(1)).sum == total,
      "sum(size * clusters) must equal doc count")
    // synthetic corpus with known duplication: 3 copies of A, 2 of B, 1 of C
    import spark.implicits._
    val docs = Seq((1L, "Alpha text!"), (2L, "alpha  TEXT"), (3L, "alpha text"),
      (4L, "beta"), (5L, "BETA."), (6L, "gamma"))
      .toDF("doc_id", "text")
    val dist = graft.operators.Dedup.exactNormalized(docs)
      .groupBy("n_copies").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dist == Map(3L -> 1L, 2L -> 1L, 1L -> 1L), s"got $dist")
  }

  test("offsets twins equal their exact global-sort siblings bit for bit") {
    // the round-12 scale twins restate a total-order statistic on the
    // two-level prefix sum; the defining contract is VALUE IDENTITY
    // with the window form on any input — checked here on the fixture
    // for all three (the driver additionally hash-checks both sides
    // against one shared oracle)
    for ((a, b) <- Seq(
        "gini_revenue" -> "gini_revenue_offsets",
        "rfm_segments" -> "rfm_segments_offsets",
        "mann_whitney" -> "mann_whitney_offsets",
        "roc_auc" -> "roc_auc_offsets",
        "ks_test" -> "ks_test_offsets",
        "rank_corr" -> "rank_corr_offsets",
        "percentiles" -> "percentiles_offsets",
        "quantiles_exact" -> "quantiles_exact_offsets",
        "series_outliers_tukey" -> "series_outliers_tukey_offsets",
        "mad_per_group" -> "mad_per_group_offsets")) {
      val ex = graft.SparkEntry.queries(a)(spark, sf001).collect().toSeq
      val tw = graft.SparkEntry.queries(b)(spark, sf001).collect().toSeq
      graft.operators.CacheScope.release(spark)
      assert(ex == tw, s"$b diverged from $a")
    }
  }

  test("ntile arithmetic: offsets rfm equals window rfm on a remainder-heavy n") {
    // n = 7 customers, k = 5: tile sizes 2,2,1,1,1 — the case where the
    // naive ceil(i*k/n) formula diverges from SQL NTILE; the fixture at
    // sf0.001 already has n % 5 != 0 but pin the arithmetic directly
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val df = (1L to 7L).map(i => (i, i * 10)).toDF("k", "v")
    val win = df.withColumn("t", ntile(5).over(Window.orderBy("v", "k")))
      .select("k", "t").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(win == Map(1L -> 1, 2L -> 1, 3L -> 2, 4L -> 2, 5L -> 3, 6L -> 4, 7L -> 5))
  }

  test("url_functions: partitions the corpus, parses every synthesized shape") {
    val rows = AnalyticsQueries.urlFunctions(spark, sf001).collect()
    val total = Fixtures.table(spark, sf001, "documents").count()
    assert(rows.map(_.getLong(2)).sum == total, "every doc lands in one cell")
    assert(rows.map(_.getString(0)).toSet == Set("http", "https"))
    assert(rows.map(_.getString(1)).toSet == Set("com", "org", "net"))
    // each (source, tld) domain is distinct and each doc's path is unique
    rows.foreach { r =>
      assert(r.getLong(4) == r.getLong(2), s"paths must be per-doc unique: $r")
    }
  }
}
