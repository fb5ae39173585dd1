package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative graph analytics over relational edge frames — the weighted
  * companion of the connected-components machinery in [[graft.ops.Dedup]]
  * (min-label / star contraction): PageRank scores node centrality where CC
  * only answers membership.
  *
  * Execution shape per iteration: one hash join (adjacency ⋈ ranks, both
  * hashed on the source node) + one aggregation (contributions by target).
  * The adjacency (edges + out-degrees) is computed once and persisted; the
  * rank frame — node-count-sized metadata, not corpus-sized — is the only
  * thing that moves between rounds. With the edge table written bucketed on
  * `src` ([[graft.sources.BucketedLayout]], as plan-pinned for CC), every
  * round's join plans exchange-free on the edge side.
  *
  * Iterations are FIXED (not to-convergence): a deterministic round count
  * makes the result oracle-attestable (the t32 oracle unrolls the identical
  * rounds as SQL CTEs) and bounds the job count — at 100 TB you schedule
  * k·2 stages, not an unknown fixpoint chase.
  */
object Graph {

  /** PageRank over an UNDIRECTED graph given as an edge list `(src, dst)`.
    * Self-loops and duplicate edges are dropped; each edge contributes both
    * directions, so the graph has no dangling nodes by construction (every
    * node has out-degree ≥ 1 — the dangling-mass redistribution term of
    * directed PageRank is unnecessary).
    *
    * r_{i+1}(v) = (1-d)/N + d · Σ_{u ∈ Γ(v)} r_i(u) / deg(u)
    */
  /* Shape decision (round-14 verdict #8, measured at ×8 via ScaleBench):
   * the co-partitioned alternative (adjacency `repartition(src).persist()`
   * so each round's join is exchange-free on the edge side) ties the
   * shipped broadcast-per-round shape within noise at BOTH probed scales —
   * ×1: 1.21 vs 1.29 s, ×8: 4.90 vs 5.27 s, time-ratio 4.04 vs 4.10
   * (BENCH_scale.json `graph_*.t32_pagerank{,_copart}`; the round-13
   * fixture probe read the opposite, 11.6 vs 7.3 s warm — the spread IS
   * the noise). Kept as-is: AQE broadcasts the node-sized rank frame from
   * its true runtime size here and re-plans a shuffle at a scale where it
   * no longer fits — at which point the planner's shuffled join against
   * the persisted adjacency is exactly the co-partitioned shape, with no
   * hand-pinned partition count to mis-size.
   */
  def pageRank(edges: DataFrame, iterations: Int = 5,
      damping: Double = 0.85): DataFrame = {
    val raw = edges
      .select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst"))
    // one distinct over the symmetrized stream (instead of distinct-then-
    // distinct): a single wide shuffle canonicalizes duplicates in either
    // orientation
    val sym = raw.union(raw.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
    // (src, dst, deg): the loop-invariant adjacency, persisted once
    val adj = sym
      .join(sym.groupBy(col("src")).agg(count(lit(1)).as("deg")), Seq("src"))
      .persist()
    val n = adj.select(col("src")).distinct().count()
    var ranks = adj.select(col("src").as("node")).distinct()
      .withColumn("rank", lit(1.0 / n))
    for (_ <- 1 to iterations) {
      ranks = adj
        .join(ranks, adj("src") === ranks("node"))
        .select(col("dst").as("node"), (col("rank") / col("deg")).as("c"))
        .groupBy(col("node"))
        .agg((lit((1.0 - damping) / n) + lit(damping) * sum(col("c")))
          .as("rank"))
    }
    ranks
  }

  /** Per-node triangle participation counts over an UNDIRECTED graph given
    * as an edge list `(src, dst)`; self-loops and duplicate edges (either
    * orientation) are dropped; nodes in no triangle are absent from the
    * output.
    *
    * Scale shape: every edge is oriented from its lower-(degree, id)
    * endpoint to its higher one, and wedges are enumerated only at each
    * edge's TAIL. That bounds per-node wedge work by the oriented
    * out-degree — O(α) for graphs of arboricity α, the standard bound that
    * makes triangle listing survive power-law degree skew: a celebrity node
    * of degree 10⁶ generates zero wedges because every incident edge points
    * INTO it. Three shuffles total (degree agg, wedge self-join on the tail,
    * closing-edge join), all hashed on node/edge keys — no global sort, no
    * driver state.
    */
  def triangleCounts(edges: DataFrame): DataFrame = {
    val raw = edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst"))
    val und = raw
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()
    val deg = und.select(col("a").as("node"))
      .unionAll(und.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val withDeg = und
      .join(deg.select(col("node").as("a"), col("deg").as("da")), Seq("a"))
      .join(deg.select(col("node").as("b"), col("deg").as("db")), Seq("b"))
    val aFirst = col("da") < col("db") || (col("da") === col("db") && col("a") < col("b"))
    // (u, v, dv): edge oriented tail→head by (deg, id); dv rides along so
    // wedge endpoints can be ordered without re-joining degrees
    val oriented = withDeg.select(
      when(aFirst, col("a")).otherwise(col("b")).as("u"),
      when(aFirst, col("b")).otherwise(col("a")).as("v"),
      when(aFirst, col("db")).otherwise(col("da")).as("dv"))
      .persist()
    val o1 = oriented.select(col("u"), col("v").as("x"), col("dv").as("dx"))
    val o2 = oriented.select(col("u"), col("v").as("y"), col("dv").as("dy"))
    val wedges = o1.join(o2, Seq("u"))
      .filter(col("dx") < col("dy") || (col("dx") === col("dy") && col("x") < col("y")))
    // the closing edge (x, y) is itself oriented x→y (both exceed u in the
    // (deg, id) order and x precedes y in it) — one equi-join finds it
    val tri = wedges.join(
      oriented.select(col("u").as("x"), col("v").as("y")), Seq("x", "y"))
    tri.select(col("u").as("node"))
      .unionAll(tri.select(col("x").as("node")))
      .unionAll(tri.select(col("y").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("triangles"))
  }

  /** k-core peeling with a FIXED round count — the degeneracy lens on the
    * same edge frames ([[pageRank]] scores centrality, CC answers
    * membership, [[triangleCounts]] measures closure; the k-core is where
    * cohesive subgroups live and where spam rings concentrate). Each round
    * drops every node whose CURRENT degree is < k and the edges touching
    * it; surviving nodes' degrees fall as neighbors leave, so peeling
    * cascades. Fixed `rounds` (not to-fixpoint) for the t32 reason: the
    * result is deterministic and oracle-attestable whether or not the peel
    * has converged, and the job count is scheduled, not chased — each
    * round is one degree aggregation + two semi joins, all hashed on node
    * ids, with `localCheckpoint` truncating lineage per round: round i's
    * plan references round i−1 THREE times (the degree filter twice via
    * both semi joins, the edge frame once), so without truncation the
    * LOGICAL plan grows 3^r — persist caches data but analysis still
    * walks the full tree (the d28 cached-plan lesson, measured here as an
    * OOM building the round-8 plan on a 7-edge graph).
    *
    * Output: (node, degree) of the surviving subgraph after `rounds`
    * peels — degree ≥ k for every row once converged.
    */
  def kCore(edges: DataFrame, k: Int = 3, rounds: Int = 8): DataFrame = {
    val raw = edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst"))
    // LAZY checkpoint chain (rounds 13/14): lineage still truncates per
    // round (the 3^r analysis-blowup protection) and materialization
    // happens in barrier jobs — round blocks are persist-backed and
    // stored at first compute, so the three references per round read
    // stored blocks instead of re-running the chain. The chain's eager
    // barriers (every K rounds + the final round) release every
    // superseded round's corpus-scale edge blocks (round-14 verdict
    // #2/#6) — without them each peel leaves its whole edge frame in the
    // block manager until GC notices.
    val frames = new graft.plans.PlanGuard.CheckpointChain
    var sym = frames.round("kcore_seed",
      raw.union(raw.select(col("dst").as("src"), col("src").as("dst"))).distinct())
    for (r <- 1 to rounds) {
      val alive = sym.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k).select(col("src"))
      val peeled = sym
        .join(alive, Seq("src"), "left_semi")
        .join(alive.select(col("src").as("dst")), Seq("dst"), "left_semi")
      sym = if (r == rounds) frames.last("kcore_round", peeled)
        else frames.round("kcore_round", peeled)
    }
    frames.close(sym.groupBy(col("src")).agg(count(lit(1)).as("degree"))
      .select(col("src").as("node"), col("degree")))
  }

  /** Root-and-depth resolution over a FOREST given as `(node, parent)`
    * rows (parent NULL for roots) — the hierarchy-flattening primitive
    * (category trees, reply chains, BOM roll-ups) the relational surface
    * otherwise walks one level at a time: every node resolves to
    * `(root_key, depth)` in `rounds` self-joins.
    *
    * Scale shape: POINTER DOUBLING. Each round joins the state frame with
    * itself (`state.ptr = state'.node`), composing ancestor links so the
    * chased distance doubles — after r rounds every node ≤ 2^r deep has
    * its exact root and depth. The naive parent-chase is O(depth)
    * sequential shuffle stages; doubling schedules ⌈log₂ depth⌉, the
    * difference between 16 stages and 4 on a deep hierarchy at 100 TB.
    * Roots carry a self-loop of hop-weight 0, so composition is
    * idempotent once converged (further rounds add depth 0) — a fixed
    * round count is safe, not merely attestable. `localCheckpoint`
    * truncates lineage per round: round i references round i−1 twice, so
    * the untruncated logical plan is 2^r scans (the t42/d28 lesson).
    */
  def treePaths(nodes: DataFrame, rounds: Int = 4): DataFrame = {
    // LAZY checkpoint chain (rounds 13/14): the kCore rationale —
    // truncated lineage per round, barrier jobs materialize and release
    // superseded rounds' node-table-scale blocks.
    val frames = new graft.plans.PlanGuard.CheckpointChain
    var st = frames.round("treepaths_seed", nodes.select(col("node"),
      coalesce(col("parent"), col("node")).as("ptr"),
      when(col("parent").isNull, 0L).otherwise(1L).as("depth")))
    for (r <- 1 to rounds) {
      val doubled = st
        .join(st.select(col("node").as("ptr"), col("ptr").as("nxt"),
          col("depth").as("hop")), Seq("ptr"))
        .select(col("node"), col("nxt").as("ptr"),
          (col("depth") + col("hop")).as("depth"))
      st = if (r == rounds) frames.last("treepaths_round", doubled)
        else frames.round("treepaths_round", doubled)
    }
    frames.close(st.select(col("node"), col("ptr").as("root_key"), col("depth")))
  }

  /** Synchronous label propagation (Raghavan et al. 2007) with a FIXED
    * round count — community detection on the same edge frames: CC answers
    * "connected at all?", LPA answers "which dense region?" (a chain of
    * weak bridges is ONE component but many communities). Each node starts
    * as its own label; each round every node adopts the most frequent label
    * among its neighbors, ties to the SMALLEST label — the argmax is the
    * integer encoding `max(cnt·K + (K−1−label))` (no `max_by`, whose
    * tie order is engine-defined), so the update is deterministic and the
    * unrolled-CTE oracle reproduces it bit-for-bit. `labelBound` K must
    * exceed every node id; `cnt·K` stays far under 2⁶³ for any graph whose
    * node count is below K (cnt ≤ n < K ≤ 2³¹ ⇒ product < 2⁶²).
    *
    * Scale shape per round: one hash join (sym ⋈ labels, both hashed on
    * the source node) + two aggregations ((dst, label) counts, then the
    * per-dst argmax) — label frames are node-sized metadata, the persisted
    * adjacency never re-shuffles, and a fixed round count schedules the
    * job graph up front (the t32/t42 discipline). Synchronous update is
    * the distributed-safe variant: asynchronous LPA (update-in-place) is
    * order-dependent and unreproducible across partitionings.
    */
  def labelPropagation(edges: DataFrame, rounds: Int = 4,
      labelBound: Long = 1L << 31): DataFrame = {
    val raw = edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst"))
    // enforce the "K exceeds every node id" contract LOUDLY (the
    // checked-sketch discipline): an id ≥ K (or negative) would silently
    // corrupt the cnt-major argmax encoding `max(cnt·K + (K−1−label))`
    // and return wrong communities. assert_true rides the filter — it is
    // NULL (row kept) in contract and throws out of it; sym carries both
    // orientations, so checking `src` covers every endpoint.
    val sym = raw.union(raw.select(col("dst").as("src"), col("src").as("dst")))
      .filter(assert_true(col("src") >= 0 && col("src") < labelBound,
        lit(s"labelPropagation: node id outside [0, $labelBound) — " +
          "raise labelBound above every node id")).isNull)
      .distinct().persist()
    var lab = sym.select(col("src").as("node")).distinct()
      .withColumn("label", col("node"))
    for (_ <- 1 to rounds) {
      lab = sym
        .join(lab, sym("src") === lab("node"))
        .groupBy(col("dst"), col("label"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("dst"))
        .agg(max(col("cnt") * labelBound + (lit(labelBound - 1) - col("label")))
          .as("s"))
        .select(col("dst").as("node"),
          (lit(labelBound - 1) - col("s") % labelBound).as("label"))
    }
    lab
  }

  /** Multi-source BFS hop distances with a FIXED round count — k-hop
    * reachability over a general graph: every node within `rounds` hops of
    * the seed set resolves to its exact hop distance (blast-radius /
    * influence-sphere queries; [[treePaths]] is the forest special case,
    * this is the general-graph frontier expansion). Nodes farther than
    * `rounds` hops are absent — the fixed horizon IS the query ("within k
    * hops"), so the result is deterministic and oracle-attestable whether
    * or not the full graph is reached.
    *
    * Scale shape per round: one hash join (sym ⋈ dist on the source node)
    * + one min-aggregation over (previous ∪ relaxed) — the dist frame is
    * reached-node-sized metadata, the persisted adjacency never
    * re-shuffles. `localCheckpoint` truncates lineage per round: round i
    * references round i−1 twice (join + union), so the untruncated
    * logical plan is 2^r scans (the t42/t43 lesson). Relaxation is
    * monotone (min of dist+1), so extra rounds past convergence are
    * idempotent — a fixed count is safe, not merely attestable.
    *
    * `seeds`: one column `node`. Output: (node, dist), dist ≤ rounds.
    */
  def bfsDistances(edges: DataFrame, seeds: DataFrame,
      rounds: Int = 4): DataFrame = {
    val raw = edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst"))
    // LAZY checkpoint chain (rounds 13/14): the kCore rationale —
    // barrier jobs materialize and release superseded rounds' blocks.
    val frames = new graft.plans.PlanGuard.CheckpointChain
    val sym = frames.persist(
      raw.union(raw.select(col("dst").as("src"), col("src").as("dst"))).distinct())
    var dist = frames.round("bfs_seed",
      seeds.select(col("node")).distinct().withColumn("dist", lit(0L)))
    for (r <- 1 to rounds) {
      val relaxed = sym
        .join(dist, sym("src") === dist("node"))
        .select(col("dst").as("node"), (col("dist") + 1L).as("dist"))
      val merged = dist.unionAll(relaxed)
        .groupBy(col("node")).agg(min(col("dist")).as("dist"))
      dist = if (r == rounds) frames.last("bfs_round", merged)
        else frames.round("bfs_round", merged)
    }
    frames.close(dist)
  }

  /** Weighted single/multi-source shortest paths with a FIXED round count
    * (Bellman–Ford relaxation) — [[bfsDistances]] counts hops, this
    * weighs them: after r rounds every node reachable by a path of ≤ r
    * edges carries its exact minimum weighted distance over such paths
    * (supply-chain cost radius, tie-strength routing). INTEGER weights by
    * contract, so distances are cross-engine exact — the b28/t48
    * discipline applied to graph metrics. Non-negative weights assumed
    * (min-relaxation is monotone ⇒ extra rounds idempotent once all
    * shortest paths fit the horizon).
    *
    * Scale shape per round: identical to [[bfsDistances]] — one hash join
    * (sym ⋈ dist), one min-aggregation, reached-node-sized state,
    * `localCheckpoint` truncating the 2^r lineage. The symmetrized edge
    * frame keeps the MINIMUM weight per (src, dst) after merging both
    * orientations and duplicates.
    *
    * `edges`: (src, dst, w). `seeds`: one column `node`. Output:
    * (node, dist), reachable-within-horizon nodes only.
    */
  def ssspDistances(edges: DataFrame, seeds: DataFrame,
      rounds: Int = 4): DataFrame = {
    val raw = edges.select(col("src"), col("dst"), col("w"))
      .filter(col("src") =!= col("dst"))
    // LAZY checkpoint chain (rounds 13/14): the kCore rationale —
    // barrier jobs materialize and release superseded rounds' blocks.
    val frames = new graft.plans.PlanGuard.CheckpointChain
    val sym = frames.persist(
      raw.union(raw.select(col("dst").as("src"), col("src").as("dst"), col("w")))
        .groupBy(col("src"), col("dst")).agg(min(col("w")).as("w")))
    var dist = frames.round("sssp_seed",
      seeds.select(col("node")).distinct().withColumn("dist", lit(0L)))
    for (r <- 1 to rounds) {
      val relaxed = sym
        .join(dist, sym("src") === dist("node"))
        .select(col("dst").as("node"), (col("dist") + col("w")).as("dist"))
      val merged = dist.unionAll(relaxed)
        .groupBy(col("node")).agg(min(col("dist")).as("dist"))
      dist = if (r == rounds) frames.last("sssp_round", merged)
        else frames.round("sssp_round", merged)
    }
    frames.close(dist)
  }

  /** The identical computation as DuckDB SQL: `edgesCte` must produce
    * columns `(src, dst)`; rounds are unrolled as chained CTEs (recursive
    * CTEs can't aggregate in the recursive term). Kept textually parallel
    * to [[pageRank]] so the two stay provably in lockstep.
    */
  def pageRankSql(edgesCte: String, iterations: Int = 5,
      damping: Double = 0.85): String = {
    val base =
      s"""WITH e AS (SELECT DISTINCT src, dst FROM ($edgesCte) WHERE src <> dst),
         |sym AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e),
         |deg AS (SELECT src, count(*) AS deg FROM sym GROUP BY src),
         |n AS (SELECT count(*) AS cnt FROM deg),
         |pr0 AS (SELECT src AS node, CAST(1 AS DOUBLE)/(SELECT cnt FROM n) AS rank FROM deg)""".stripMargin
    val rounds = (1 to iterations).map { i =>
      s"""pr$i AS (
         |  SELECT s.dst AS node,
         |         CAST(${1.0 - damping} AS DOUBLE)/(SELECT cnt FROM n)
         |           + ${damping} * sum(p.rank / d.deg) AS rank
         |  FROM sym s JOIN deg d ON s.src = d.src JOIN pr${i - 1} p ON p.node = s.src
         |  GROUP BY s.dst)""".stripMargin
    }
    (base +: rounds).mkString(",\n") +
      s"\nSELECT node, rank FROM pr$iterations"
  }
}
