package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Cross-SF scaling evidence harness (not part of the library surface).
  *
  * `runMain graft.Scaling gen <srcSfDir> <outDir> <copies>` builds a
  * replicated corpus for the data-heavy tables: `documents` texts get
  * every token suffixed with a per-copy tag (cross-copy shingle sets are
  * DISJOINT, so near-dup/contamination structure scales linearly instead
  * of manufacturing clone-family artifacts), ids shift by copy, and the
  * id shifts are multiples of 10 so the `doc_id % 5` decontamination
  * split keeps its per-copy composition. `embeddings` keep their vectors
  * (duplicate vectors across copies are realistic dedup load; the
  * `vec_id < 10` ANN query set stays copy-0 only). `events` shift user
  * and event ids.
  *
  * `runMain graft.Scaling bench <dir1> <dir2> ...` times the data-heavy
  * query family on each dir with Bench's consumption (xxhash64 of every
  * column folded with bit_xor — nothing optimized away) and cache
  * hygiene, re-measuring outliers once like Bench, and writes
  * SCALING.json. The quadratic-by-design `dedup_embedding` oracle query
  * is deliberately absent: its registered scale twin
  * `dedup_embedding_lsh` is the measured path.
  */
object Scaling {

  /** The data-heavy family: every query whose cost is driven by the
    * documents/embeddings/events tables, including all dedup and ANN
    * paths the verdicts track.
    */
  val family: Seq[String] = Seq(
    "dedup_exact", "dedup_exact_hashkeyed", "dedup_ngram_jaccard",
    "dedup_ngram_jaccard_banded",
    "dedup_minhash", "dedup_simhash", "dedup_substring",
    "dedup_substring_hashed", "dedup_canonicalize",
    "dedup_canonicalize_exact", "dedup_canonicalize_df",
    "decontaminate", "decontaminate_bloom", "dedup_embedding_lsh",
    "dedup_exact_normalized", "dedup_keep_best",
    "ann_topk", "ann_topk_lsh", "ann_topk_ivf", "ann_topk_pq",
    "sliding_reach", "time_decay_agg", "lttb_downsample", "pack_batches",
    "interval_length_sum", "running_concurrency", "sample_stratified",
    "merge_cdc",
    // round 7 additions: graph ops, containment/semantic dedup, MMR,
    // layout key, drift. er_sorted_neighborhood was RETIRED from the
    // family in round 15 (3 rounds carried as an accepted-demonstration
    // weak flag, topping every sweep at ~10x): its oracle row and spec
    // stay, and its production twin er_snm_multikey remains measured —
    // the single-pass form is a documented demonstration, not a scale
    // path (QUERIES.md).
    "graph_pagerank", "graph_hits", "graph_triangles",
    "dedup_containment", "semdedup",
    "ann_mmr", "zorder_key", "drift_psi",
    // round 9 additions: quality gates, backtest, sub-daily forecast,
    // md5 split, quantized ANN
    "ann_recall", "ann_topk_int8", "ann_topk_ivf_pq",
    "forecast_backtest", "forecast_events_hourly", "sample_split",
    // round 10 additions: deterministic k-means, bloom gate (runs the
    // bloom AND exact twins), replayable tf-idf, refined IVF
    "cluster_kmeans_det", "decontaminate_bloom_gate", "tfidf_mllib",
    "ann_topk_ivf_refined",
    // round 10 additions: streaming parity gates (events-driven; cost =
    // one staging write + the streaming aggregation itself). The
    // interval join stays linear across copies because Scaling gen
    // shifts user ids per copy — no cross-copy pairs.
    "stream_bucketize", "stream_user_type_counts", "stream_interval_join",
    // round 10 additions: storage-layout contract queries — both are
    // write-dominated (bucketed orders/lineitem rewrite; day-partitioned
    // events rewrite) and linear in input bytes by construction; the
    // pruned read side of partition_prune is constant (always 10 days)
    "join_bucketed", "partition_prune",
    // round 10: multi-pass SNM — the finer-keyed production form whose
    // whole point is taming the single-pass query's superlinear x30
    "er_snm_multikey",
    // round 10: nightly delta-vs-corpus dedup, direct and through the
    // persisted bucketed index (build + query both measured — the
    // production shape amortizes the build over many deltas)
    "dedup_incremental", "dedup_incremental_indexed",
    "dedup_incremental_admit",
    // round 10: training-example assembly — both ride the two-level
    // prefix sum, so the expected shape is linear scan/sort cost with a
    // constant-size single-partition stage (<= nBuckets subtotal rows)
    "pack_sequences", "pack_sequences_shuffled", "corpus_shuffle",
    // round 10: BPE merge-pair induction (+ the applied-merge second
    // round) — corpus-size work only in the word-count agg; the pair
    // explode is vocabulary-bounded. Shard manifest = pack plan + one agg
    "bpe_merge_pairs", "bpe_merge_round2", "bpe_learn", "bpe_compression",
    "pack_shard_manifest",
    // round 10: the composed pretraining path (hash-keyed dedup ->
    // quality gate -> shuffle -> pack -> shard rollup) and the
    // mixture-plan executor (projection-filter Bernoulli by md5 draw)
    "pipeline_pretrain", "mix_execute",
    // round 11: the FULL composed path (adds decontamination + mix +
    // learned-vocab token counts between the gate and the shuffle; stage
    // boundaries are eager localCheckpoints), the BPE encode half, the
    // keyed-prefix-sum token-budget mix, repeat-factor upsampling,
    // curriculum ordering + its packed composition, the streaming
    // gate+mix face, and the value-hash-checked seasonal-naive forecast
    "pipeline_pretrain_full", "bpe_encode", "mix_token_budget",
    "mix_upsample", "curriculum_order", "pack_sequences_curriculum",
    "stream_mix_gate", "forecast_events_snaive",
    // round 12: the budgeted/epoch composed pipeline and the offsets
    // twins of the global-sort analytics — each expected linear with a
    // constant-size single-partition stage (<= nBuckets subtotal rows);
    // the exact siblings (global window forms) are measured alongside
    // so the pairing's scale argument is evidence, not prose
    "pipeline_pretrain_budget",
    "gini_revenue", "gini_revenue_offsets",
    "rfm_segments", "rfm_segments_offsets",
    "mann_whitney", "mann_whitney_offsets",
    "roc_auc", "roc_auc_offsets", "ks_test", "ks_test_offsets",
    "rank_corr", "rank_corr_offsets",
    // round 12: the buffered exact quantiles and their no-array twins
    // (the collect_list forms are the remaining per-group-memory risk;
    // orders/lineitem-driven, so the replicas exercise them directly)
    "percentiles", "percentiles_offsets",
    "quantiles_exact", "quantiles_exact_offsets",
    "series_outliers_tukey", "series_outliers_tukey_offsets",
    "mad_per_group", "mad_per_group_offsets",
    // round 13: the batched parallel-BPE learner measured against the
    // sequential one — same corpus-size word count, same
    // vocabulary-bounded pair aggregates, but k/m = 2 job waves instead
    // of k = 8, so the expected gap vs bpe_learn is the saved per-round
    // scheduling/aggregate latency (the 32k-vocab ceiling in miniature);
    // the image perceptual-hash dedup (per-doc fingerprint + pigeonhole
    // chunk join — the dedup_simhash shape over synthesized rasters);
    // and the second fully value-checked forecast (one (metric, dow)
    // aggregate + 7-row fan-out, expected flat-ish like snaive)
    "bpe_learn_batched", "dedup_image_phash", "forecast_events_smean",
    // round 13 extras: image clusters (phash pairs + min-label CC) and
    // the audio energy-gradient fingerprint (per-media fingerprint +
    // pigeonhole chunk join — the dedup_simhash shape on WAV payloads)
    "dedup_image_clusters", "dedup_audio_fingerprint",
    "dedup_video_frames",
    // round 14: the audio/video cluster job shapes (exact-first
    // fingerprint collapse + frontier CC for audio; the keyed
    // frame-pair set + frontier CC for video), the streaming audio
    // gate (staging write + 4-micro-batch stateless fingerprint +
    // complete-mode aggregate), and the third value-checked forecast
    // (one per-metric exact-long aggregate + 7-row fan-out)
    "dedup_audio_clusters", "dedup_video_clusters", "stream_audio_dedup",
    "forecast_events_lintrend",
    // round 14: incremental media admission (delta fingerprints + the
    // pigeonhole delta-vs-corpus band join — expected the
    // dedup_image_phash shape), the streaming video gate (staging write
    // + 4-micro-batch stateless frame keys + the keyed pair join over
    // the drained ledger), and the fourth value-checked forecast (one
    // shuffle to group metrics + a linear per-metric fold)
    "dedup_image_admit", "dedup_audio_admit", "dedup_video_admit",
    "dedup_embedding_admit",
    "stream_video_dedup", "stream_image_admit", "stream_audio_admit",
    "stream_video_admit", "stream_embedding_admit", "forecast_events_holt",
    "forecast_events_holt_damped",
    // round 15: the seasonal-state recurrence face (same shape as holt —
    // one metric-grouping shuffle + a linear per-metric fold) and the
    // refit-on-arrival streaming forecast gate (state = one row per day;
    // per-trigger refit cost independent of event volume)
    "forecast_events_holt_winters", "forecast_events_holt_winters_damped",
    "stream_forecast_snaive",
    // round 16: the multiplicative seasonal faces (same fold shape as
    // the additive ones), the closed-form ridge family through the real
    // ProphetLike fit (bounded 8-row fits per metric / per cutoff — the
    // events scan dominates), and the production-model refit gate
    "forecast_events_holt_winters_mul",
    "forecast_events_holt_winters_mul_damped",
    "forecast_events_ridge_trend", "forecast_backtest_ridge",
    "forecast_anomalies_ridge", "stream_forecast_ridge",
    // round 17: the orders-table ridge face — the one ridge face whose
    // input TABLE grows with scale factor (the events faces above all
    // scan the fixed 30-day events fixture), so its orders-scan +
    // source-grain cents aggregation is measured directly — and the
    // p = 5 holidays face (events-scan shape, one extra design column)
    "forecast_orders_ridge", "forecast_events_holidays_ridge",
    "forecast_events_logistic_ridge")

  /** Per-copy deterministic sign-flip of the embedding coordinates — a
    * diagonal orthogonal transform. Within a copy EVERY pairwise inner
    * product and norm is preserved EXACTLY (same signs applied to both
    * vectors of a pair), so each copy's true near-dup pair set is
    * identical to copy 0's: the corpus-wide pair count grows LINEARLY in
    * the copy count. Across copies the signs decorrelate
    * (cos(v, s_k ⊙ v) = Σ s_k(i) v_i² / |v|² ≈ 0 for balanced random
    * signs), so replicas of the same base vector are NOT near-dups —
    * unlike the previous identical-copy generator, whose cross-copy
    * identity pairs made the true pair set quadratic and conflated every
    * embedding operator's x30 number with an output-size artifact
    * (round-7 verdict, "Scaling generator artifact"). Copy 0 is the
    * identity, so copy-0-only query sets (`vec_id < 10`) are unchanged.
    */
  def perturbEmbedding(e: org.apache.spark.sql.Column, k: Int): org.apache.spark.sql.Column =
    if (k == 0) e
    else transform(e, (x, i) =>
      when(pmod(xxhash64(lit(k), i), lit(2)) === 0, x).otherwise(-x))

  def gen(spark: SparkSession, src: String, out: String, copies: Int): Unit = {
    import graft.sources.Fixtures
    require(copies >= 1)
    val docs = Fixtures.table(spark, src, "documents")
    val emb = Fixtures.table(spark, src, "embeddings")
    val ev = Fixtures.table(spark, src, "events")
    def replicated(k: Int) = {
      val d = docs
        .withColumn("doc_id", col("doc_id") + lit(k * 10000000L))
        .withColumn("text",
          if (k == 0) col("text")
          else regexp_replace(col("text"), "(\\S+)", s"$$1z$k"))
      d.withColumn("n_chars", length(col("text")))
    }
    (0 until copies).map(replicated).reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
    (0 until copies).map(k => emb
        .withColumn("vec_id", col("vec_id") + lit(k * 10000000L))
        .withColumn("embedding", perturbEmbedding(col("embedding"), k)))
      .reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    (0 until copies).map(k => ev
        .withColumn("event_id", col("event_id") + lit(k * 10000000L))
        .withColumn("user_id", col("user_id") + lit(k * 1000000L)))
      .reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$out/events.parquet")
    // fact tables for the graph/drift family: every key column shifts by
    // k * 10^8, so each copy is a DISJOINT subgraph with identical
    // intra-copy join structure — graph work (edges, wedges, rank rows)
    // grows linearly in the copy count, with no cross-copy edges
    // manufacturing density artifacts
    val li = Fixtures.table(spark, src, "lineitem")
    val ord = Fixtures.table(spark, src, "orders")
    val shift = 100000000L
    (0 until copies).map(k => li
        .withColumn("l_orderkey", col("l_orderkey") + lit(k * shift))
        .withColumn("l_partkey", col("l_partkey") + lit(k * shift))
        .withColumn("l_suppkey", col("l_suppkey") + lit(k * shift)))
      .reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$out/lineitem.parquet")
    (0 until copies).map(k => ord
        .withColumn("o_orderkey", col("o_orderkey") + lit(k * shift))
        .withColumn("o_custkey", col("o_custkey") + lit(k * shift)))
      .reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$out/orders.parquet")
    System.err.println(s"[scaling] wrote ${copies}x replica of $src to $out")
  }

  def main(args: Array[String]): Unit = {
    val spark = Harness.session()
    args.headOption match {
      case Some("gen") =>
        gen(spark, args(1), args(2), args(3).toInt)
      case Some("bench") =>
        val dirs = args.drop(1).toSeq
        // SPARK_GRAFT_ONLY, when set, replaces the family (dev subsets)
        val only = sys.env.get("SPARK_GRAFT_ONLY")
        val fam = if (only.isEmpty) family else Harness.selected(only).keys.toSeq.sorted
        def runOnce(name: String, dir: String): Double = {
          val (_, sec) = Harness.time(Harness.consume(SparkEntry.queries(name)(spark, dir)))
          Harness.release(spark)
          sec
        }
        // INTERLEAVED sweep (round-14 verdict #4): the outer loop is the
        // QUERY, the inner loop the scale dirs, so each query's x1/x10/
        // x30 measurements land seconds apart under the same JVM/page-
        // cache state. The previous dir-major order measured every x30
        // number last, after ~100 queries of heap/page-cache churn, and
        // overstated the worst ratios ~40% vs quiet re-measures
        // (SCALING.md round-14 reconciliation) — ratio noise, not data.
        dirs.foreach { dir =>
          val parts = Tuning.shufflePartitionsFor(dir, Harness.cpus)
          System.err.println(s"[scaling] shuffle.partitions=$parts for $dir")
          spark.read.parquet(s"$dir/documents.parquet").limit(100).count() // warm
        }
        val measured = fam.map { q =>
          q -> dirs.map { dir =>
            // size-adaptive shuffle partitions per corpus dir (see
            // Tuning): a replicated x30 corpus gets ~4x the partitions of
            // x10, the way a real cluster's partition count follows data
            Harness.tune(spark, dir)
            val s1 = runOnce(q, dir)
            // Bench's outlier policy: one re-measure for slow queries, keep min
            val s = if (s1 > 3.0) math.min(s1, runOnce(q, dir)) else s1
            System.err.println(f"[scaling] ${dir.split('/').last}%-14s $q%-26s $s%8.2fs")
            dir -> s
          }
        }
        val results = dirs.map { dir =>
          dir -> measured.map { case (q, byDir) =>
            q -> byDir.collectFirst { case (d, s) if d == dir => s }.get
          }
        }
        val json = results.map { case (dir, qs) =>
          "\"" + dir.split('/').last + "\":{" +
            qs.map { case (q, s) => "\"" + q + "\":" + f"$s%.3f" }.mkString(",") + "}"
        }.mkString("{", ",", "}")
        // dev runs of a query subset write elsewhere so the committed
        // full-family SCALING.json is not clobbered
        val outFile = sys.env.getOrElse("SPARK_GRAFT_SCALING_OUT", "SCALING.json")
        java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
          (json + "\n").getBytes("UTF-8"))
        println(json)
      case _ =>
        System.err.println("usage: Scaling gen <src> <out> <copies> | bench <dir>...")
        sys.exit(2)
    }
    spark.stop()
  }
}
