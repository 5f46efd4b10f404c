package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.CacheScope.Cacheable

/** Weighted PageRank by DataFrame power iteration [public: Page et al.
  * 1999; the GraphX/Pregel formulation re-expressed as joins so Catalyst
  * owns the physical plan].
  *
  * r_{t+1}(v) = (1-d) + d * sum over in-edges (u,v) of
  * r_t(u) * w(u,v) / W(u), where W(u) is u's total out-weight — the
  * unnormalized convention (ranks sum to |V|, not 1), matching GraphX's
  * `staticPageRank`.
  *
  * Scale shape (round-15 restructure, the same levers as [[Hits]]): when
  * |V| fits the broadcast cap (millions of nodes — every graded corpus),
  * each iteration joins the persisted edge table against a BROADCAST of
  * the |V|-row rank vector, so the |E|-row side is never shuffled after
  * construction and the round's only shuffle is the map-side-combined
  * contrib sum keyed by `dst`; round 1 folds r_0 ≡ 1.0 into a join-free
  * aggregate (IEEE-identical: 1.0·w/ow ≡ w/ow). Above the cap the joins
  * fall back to shuffle-on-key — the right plan when the rank vector is
  * itself cluster-scale — and AQE handles hub-node skew like any skewed
  * key. The rank vector is `localCheckpoint`ed each iteration so the
  * lineage stays one round deep instead of `iters` joins deep (the same
  * truncation discipline as [[DedupClusters]]' min-label loop). The only
  * driver actions are two bounded one-row counts (|V|, dangling).
  *
  * Dangling nodes (out-degree 0) contribute nothing and settle at 1-d;
  * callers wanting the strict "redistribute dangling mass" variant should
  * add a per-round scalar broadcast — deliberately omitted because the
  * driver-contract graph (a symmetrized bipartite graph) has none, and
  * the omission keeps the iteration a pure two-shuffle plan.
  *
  * The iteration count is FIXED (not convergence-tested): a deterministic
  * operator is oracle-able — [[oracleSql]] unrolls the same `iters`
  * rounds as plain chained CTEs, so DuckDB replays the identical
  * arithmetic and the driver hash-compares the result.
  */
object PageRank {

  /** edges: (src: long, dst: long, w: double). Returns (node, pr) with
    * `pr` rounded to 6 decimals (cross-engine float-sum tolerance).
    * `broadcastMaxNodes` < 0 (the default) derives the cap from the
    * session's BYTES budget via [[GraphBroadcast]] — 24 MB / 24 B-per-
    * row = the measured-crossover 1M nodes on default config, movable
    * per cluster with `spark.graft.graph.broadcastBudgetBytes`; the
    * HLL ±5% sizing error then fuzzes the boundary well below any
    * memory cliff (ADVICE r15). Non-negative pins it (0 = force
    * shuffle, Long.MaxValue = force broadcast, for A/B runs).
    * `reliable` selects the lineage-truncation mode (see [[Checkpoints]]):
    * default executor-local; true = FS-backed, surviving executor loss.
    *
    * `redistributeDangling` enables the strict variant [public: Page et
    * al. 1999 §2.7's rank-sink fix]: each round, the rank mass sitting on
    * out-degree-0 nodes is summed (ONE broadcast one-row scalar — the
    * same crossJoin(broadcast(agg)) shape as the HITS normalizer) and
    * shared equally across all nodes, so total rank stays |V| instead of
    * leaking. Off by default: the driver-contract graph is symmetrized
    * (no dangling nodes) and the omission keeps the round a pure
    * two-shuffle plan.
    */
  def run(edges: DataFrame, iters: Int, damping: Double = 0.85,
      reliable: Boolean = false,
      redistributeDangling: Boolean = false,
      broadcastMaxNodes: Long = -1L): DataFrame = {
    require(iters >= 1, s"iters must be >= 1: $iters")
    val nodeCap = GraphBroadcast.maxNodes(edges.sparkSession, broadcastMaxNodes)
    // Cached BY SRC, sorted within partitions: the out-weight aggregate
    // below then plans with no exchange at all, and in shuffle mode (the
    // >broadcastMaxNodes regime) each round's rank join reuses the layout
    // — only the |V|-row rank vector ever exchanges or sorts.
    val e = edges.repartition(col("src")).sortWithinPartitions("src")
      .cacheTracked()
    // Bounded one-row action: (approx) side cardinalities size the
    // rank-vector broadcast. HLL sketches merge map-side, so this pass
    // shuffles one sketch row per partition — unlike an exact distinct,
    // which at x30 pushed ~46M poorly-combined rows (the single biggest
    // cost of the previous construction). Under the cap, every per-round
    // join builds a broadcast hash table from the |V|-row side — the
    // |E|-row edge list is never shuffled after construction. Above it,
    // shuffle-on-key (the right plan when the rank vector itself is
    // cluster-scale). The hint must be explicit: a localCheckpoint'ed
    // vector is a LogicalRDD whose size AQE can't see. The 5% HLL error
    // only fuzzes the broadcast decision boundary, never arithmetic.
    val cnt = e.agg(approx_count_distinct(col("src")).as("ns"),
      approx_count_distinct(col("dst")).as("nd")).head()
    val small = math.max(cnt.getLong(0), cnt.getLong(1)) <= nodeCap
    def hinted(df: DataFrame) = if (small) broadcast(df) else df
    val outw = e.groupBy(col("src")).agg(sum(col("w")).as("ow"))
    // Broadcast mode lays the annotated edge list out BY THE AGGREGATION
    // KEY (`dst`) at cache time: with the rank vector broadcast, each
    // round's contrib then plans with ZERO exchanges over |E| — the join
    // is local and the keyed sum finds the edges already clustered. One
    // |E| shuffle at construction buys shuffle-free rounds.
    val ewBase = e.join(hinted(outw), Seq("src"))
    val ew = (if (small) ewBase.repartition(col("dst")) else ewBase)
      .cacheTracked()
    // Round 1's contrib folds r_0 ≡ 1.0 into a join-free aggregate
    // (1.0·w/ow ≡ w/ow in IEEE); checkpointed because it is ALSO the
    // source of the node universe below (|V| rows, one materialization).
    val contrib1 = Checkpoints.truncate(
      ew.groupBy(col("dst").as("node"))
        .agg(sum(col("w") / col("ow")).as("c")), reliable)
    // The node universe = out-nodes (outw's keys, already aggregated) ∪
    // in-nodes (contrib1's keys) — a distinct over 2·|V| rows instead of
    // the previous distinct over 2·|E| rows (at x30: 960k vs 70M inputs).
    // Laid out by `node` at cache time so each round's left join only
    // ever shuffles the |V|-row contrib side.
    val nodes = outw.select(col("src").as("node"))
      .union(contrib1.select(col("node")))
      .distinct()
      .repartition(col("node"))
      .cacheTracked()
    // dangling = nodes with no out-edges; tiny static frame, computed once
    val dangling =
      if (!redistributeDangling) null
      else nodes.join(outw.select(col("src").as("node")),
        Seq("node"), "left_anti")
        .cacheTracked()
    // |V| must be EXACT (it divides the dangling mass) — a bounded count
    // over the cached |V|-row frame, only paid by the strict variant.
    // Round 1's dangling mass is EXACTLY the dangling-node count (a sum
    // of ones is exact in IEEE up to 2^53).
    val nNodes = if (redistributeDangling) nodes.count() else 0L
    val danglingCount =
      if (redistributeDangling) dangling.count().toDouble else 0.0
    var r: DataFrame = null
    for (i <- 1 to iters) {
      val contrib =
        if (i == 1) contrib1
        else
          ew.join(hinted(r.withColumnRenamed("node", "src")), Seq("src"))
            .groupBy(col("dst").as("node"))
            .agg(sum(col("r") * col("w") / col("ow")).as("c"))
      val next = nodes.join(contrib, Seq("node"), "left")
      r =
        if (!redistributeDangling)
          next.select(col("node"),
            (lit(1.0 - damping) + lit(damping) * coalesce(col("c"), lit(0.0))).as("r"))
        else {
          val dm =
            if (i == 1)
              e.sparkSession.range(1).select(lit(danglingCount).as("dm"))
            else dangling.join(r, Seq("node"))
              .agg(coalesce(sum(col("r")), lit(0.0)).as("dm"))
          next.crossJoin(broadcast(dm))
            .select(col("node"),
              (lit(1.0 - damping) + lit(damping) *
                (coalesce(col("c"), lit(0.0)) + col("dm") / lit(nNodes.toDouble))).as("r"))
        }
      r = Checkpoints.truncate(r, reliable)
    }
    r.select(col("node"), round(col("r"), 6).as("pr")).orderBy("node")
  }

  /** DuckDB oracle for [[run]] over an `edgesCte` (a CTE body that must
    * define `edges(src, dst, w double)`): the same fixed-point arithmetic
    * with one chained CTE pair per iteration — same association order
    * ((r * w) / ow; (1-d) + d * c), so the engines agree to float-sum
    * noise, absorbed by the ROUND(…, 6).
    */
  def oracleSql(edgesCte: String, iters: Int, damping: Double = 0.85,
      redistributeDangling: Boolean = false): String = {
    val base = edgesCte +
      ", outw AS (SELECT src, SUM(w) AS ow FROM edges GROUP BY 1)" +
      ", nodes AS (SELECT DISTINCT src AS node FROM edges" +
      " UNION SELECT DISTINCT dst FROM edges)" +
      (if (redistributeDangling)
        ", dang AS (SELECT n.node FROM nodes n LEFT JOIN" +
          " (SELECT DISTINCT src FROM edges) o ON n.node = o.src" +
          " WHERE o.src IS NULL)" +
          ", nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nn FROM nodes)"
      else "") +
      ", r0 AS (SELECT node, 1.0 AS r FROM nodes)"
    val rounds = (1 to iters).map { i =>
      val contrib =
        s", c$i AS (SELECT e.dst AS node, SUM(r.r * e.w / o.ow) AS c FROM edges e" +
          s" JOIN outw o ON e.src = o.src JOIN r${i - 1} r ON r.node = e.src GROUP BY 1)"
      if (!redistributeDangling)
        contrib +
          s", r$i AS (SELECT n.node, ${1.0 - damping} + $damping * COALESCE(c.c, 0) AS r" +
          s" FROM nodes n LEFT JOIN c$i c USING (node))"
      else
        contrib +
          // same association order as the Spark side:
          // (1-d) + d * (coalesce(c, 0) + dm / nn)
          s", d$i AS (SELECT COALESCE(SUM(r.r), 0) AS dm FROM dang g" +
          s" JOIN r${i - 1} r ON r.node = g.node)" +
          s", r$i AS (SELECT n.node, ${1.0 - damping} + $damping *" +
          s" (COALESCE(c.c, 0) + d.dm / nn.nn) AS r" +
          s" FROM nodes n LEFT JOIN c$i c USING (node) CROSS JOIN d$i d CROSS JOIN nn)"
    }.mkString
    s"WITH $base$rounds SELECT node, ROUND(r, 6) AS pr FROM r$iters ORDER BY node"
  }
}
