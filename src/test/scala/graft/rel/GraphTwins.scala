package graft.rel

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge

import graft.rel.Graph._

/** Generic graph twins: the same folds as the declared queries, fed
  * from a raw edge stream instead of the standing bucketed adjacency.
  * No query runs them; `GraphSpec` uses them as the reference each
  * standing path must match bit-exactly, and to pin the folds on
  * hand graphs. */
object GraphTwins {

  /** `iters` rounds of fixed-point PageRank over `edges(src, dst)`,
    * treated as a SET (duplicate edge rows collapse — callers may feed
    * raw pair streams and skip their own distinct). Output: (node,
    * rank) for every vertex, rank in Scale units. */
  def pageRank(edges: DataFrame, iters: Int): DataFrame = {
    val spark = edges.sparkSession
    val p = spark.sessionState.conf.numShufflePartitions
    // eager partitioned checkpoint, not persist(): (a) the stamped
    // LogicalRDD REPORTS its hash(src) partitioning to
    // EnsureRequirements — an InMemoryRelation under AQE does not, and
    // a PLAIN localCheckpoint does not either (AdaptiveSparkPlanExec
    // never overrides outputPartitioning, so Dataset.localCheckpoint
    // stamps UnknownPartitioning; see PlanBridge) — so this deletes the
    // per-iteration adjacency exchange; (b) checkpoint blocks are
    // reclaimed by the ContextCleaner when the frame becomes
    // unreachable, so repeated calls in one session don't accumulate
    // dead cache the way a never-unpersisted relation does. Width =
    // the session SHUFFLE width so it matches every iteration
    // aggregate's exit partitioning.
    val adj = PlanBridge.checkpointHashPartitioned(
      adjacencyOf(edges), Seq("src"), p)
    pageRankFromAdjacency(adj, iters)
  }

  /** Twin of `graph_pagerank`: 5 iterations over the co-purchase
    * graph, top 100 parts by rank (rank desc, part asc — total order). */
  def partPageRank(lineitem: DataFrame, iters: Int = 5, k: Int = 100): DataFrame =
    pageRank(coPurchasePairs(lineitem), iters)
      .select(col("node").as("part"), col("rank"))
      .orderBy(col("rank").desc, col("part"))
      .limit(k)

  /** HITS over a raw (c, s) bipartite edge stream. */
  def hits(edges: DataFrame, iters: Int): DataFrame = {
    val p = edges.sparkSession.sessionState.conf.numShufflePartitions
    val e = edges.select(col("c"), col("s")).distinct()
    val adjC = PlanBridge.checkpointHashPartitioned(
      e.groupBy(col("c")).agg(collect_set(col("s")).as("ss")), Seq("c"), p)
    val adjS = PlanBridge.checkpointHashPartitioned(
      e.groupBy(col("s")).agg(collect_set(col("c")).as("cs")), Seq("s"), p)
    hitsFromAdjacency(adjC, adjS, iters)
  }

  /** Twin of `graph_hits`: 4 rounds over the customer→supplier graph,
    * top 25 authorities + top 25 hubs. */
  def custSupplierHits(orders: DataFrame, lineitem: DataFrame,
      iters: Int = 4): DataFrame =
    hits(
      orders.select(col("o_orderkey").as("ok"), col("o_custkey").as("c"))
        .join(lineitem.select(col("l_orderkey").as("ok"),
          col("l_suppkey").as("s")), Seq("ok"))
        .select(col("c"), col("s")),
      iters)

  /** Personalized PageRank from `seeds` over a raw edge stream. */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame,
      iters: Int): DataFrame = {
    val p = edges.sparkSession.sparkContext.defaultParallelism
    val adj = adjacencyOf(edges)
      .repartition(p, col("src"))
      .localCheckpoint(eager = true)
    pprFromAdjacency(adj, seeds, iters)
  }

  /** Weighted fixed-point PageRank: each neighbor receives mass in
    * proportion to its edge weight — `(rank·85·w) div (100·wsum)` —
    * instead of the uniform 1/outdeg split. The per-edge product runs
    * in DECIMAL(38,0) (the HITS overflow discipline: rank mass can
    * reach |V|·Scale ≈ 2·10¹⁷ at sf1000, and ×85×w would overflow
    * BIGINT silently) and truncates back to BIGINT — order-independent,
    * bit-identical at any parallelism. Same iteration shape as the
    * unweighted op: weighted adjacency lists checkpointed
    * hash-partitioned on src, one dst-aggregate exchange per round. */
  def pageRankWeighted(edges: DataFrame, iters: Int): DataFrame = {
    val spark = edges.sparkSession
    val p = spark.sessionState.conf.numShufflePartitions
    val adj = PlanBridge.checkpointHashPartitioned(
      edges.groupBy(col("src"))
        .agg(collect_list(struct(col("dst"), col("w"))).as("nbrs"),
          sum(col("w")).as("wsum")),
      Seq("src"), p)
    pageRankWeightedFromAdjacency(adj, iters)
  }

  // ------------------------------------------ per-round DataFrame loops

  /* The distributed forms of the in-task `LocalGraph` kernels: one
   * checkpointed superstep and one emptiness or count job per round.
   * `GraphSpec` compares each declared op with its loop here on random
   * digraphs. */

  /** Bounded-depth single-source BFS distances: `maxDepth` rounds of
    * frontier expansion from the smallest node id in the edge set (a
    * deterministic source — no parameter to disagree on). Classic
    * distributed BFS: each round joins ONLY the newest frontier to the
    * adjacency (never the whole visited set), anti-joins out already-
    * visited nodes, and checkpoints the visited relation to cut the
    * iteration's lineage (the PageRank/LPA discipline). Frontier and
    * visited state are O(|V|); each round is one frontier join + one
    * anti join, both partially shuffled on node. First visit = minimum
    * distance, the BFS invariant both engines agree on. */
  def bfsDistances(edges: DataFrame, maxDepth: Int): DataFrame = {
    require(maxDepth >= 1, s"maxDepth must be >= 1, got $maxDepth")
    // materialize the edge set ONCE: every round joins against it, and
    // an unmaterialized lineage (here: the backbone's lineitem
    // self-join) would otherwise recompute per round — measured 5.6 s
    // → 2.6 s at sf0.1 for 4 rounds
    val e = edges.select(col("src"), col("dst")).localCheckpoint(true)
    val src0 = e.agg(min(col("src"))).head().getLong(0)
    var visited = e.sparkSession.range(1)
      .select(lit(src0).as("node"), lit(0).as("dist"))
      .localCheckpoint(true)
    var frontier = visited
    var depth = 0
    while (depth < maxDepth && !frontier.isEmpty) {
      depth += 1
      val next = frontier.join(e, col("node") === col("src"))
        .select(col("dst").as("node")).distinct()
        .join(visited.select(col("node")), Seq("node"), "left_anti")
        .withColumn("dist", lit(depth))
        .localCheckpoint(true)
      visited = visited.unionByName(next).localCheckpoint(true)
      frontier = next
    }
    visited.orderBy(col("node"))
  }

  /** Multi-source landmark BFS shared by the landmark-centrality
    * family (closeness / eccentricity): |L| concurrent frontiers over
    * the same edge relation, returning the visited (lm, node, dist)
    * relation. One place owns the BFS discipline (edge checkpoint,
    * partial-distinct frontier, visited anti-join, depth cap). */
  private def landmarkBfs(edges: DataFrame, nLandmarks: Int,
      maxDepth: Int): DataFrame = {
    val e = edges.select(col("src"), col("dst")).localCheckpoint(true)
    val lms = e.select(col("src")).distinct()
      .orderBy(col("src")).limit(nLandmarks).select(col("src").as("lm"))
    var visited = lms
      .select(col("lm"), col("lm").as("node"), lit(0).as("dist"))
      .localCheckpoint(true)
    var frontier = visited
    var depth = 0
    while (depth < maxDepth && !frontier.isEmpty) {
      depth += 1
      val next = frontier.join(e, col("node") === col("src"))
        .select(col("lm"), col("dst").as("node")).distinct()
        .join(visited.select(col("lm"), col("node")), Seq("lm", "node"),
          "left_anti")
        .withColumn("dist", lit(depth))
        .localCheckpoint(true)
      visited = visited.unionByName(next).localCheckpoint(true)
      frontier = next
    }
    visited
  }

  /** Landmark (harmonic) closeness — the all-pairs-centrality shape cut
    * to what scales: multi-source BFS from the `nLandmarks` smallest
    * node ids (a deterministic landmark set), per-node harmonic sum
    * Σ 12 div dist over reached landmarks (12 = lcm(1..4), so every
    * addend is an exact integer — no float on the comparison surface).
    * True all-pairs closeness is O(V·E); landmark closeness is the
    * standard estimator and is |L| concurrent frontiers over the SAME
    * bucketed adjacency — state ≤ |L|·V pairs, one src-keyed join per
    * round, the bfsDistances loop with (lm, node) keys. */
  def landmarkCloseness(edges: DataFrame, nLandmarks: Int,
      maxDepth: Int): DataFrame = {
    require(maxDepth >= 1 && maxDepth <= 4, "12 = lcm(1..4) covers depth <= 4")
    landmarkBfs(edges, nLandmarks, maxDepth)
      .filter(col("dist") > 0)
      .groupBy(col("node"))
      .agg(count(lit(1)).as("n_reached"),
        sum(expr("12 div dist")).as("closeness12"))
      .orderBy(col("node"))
  }

  /** Landmark eccentricity + diameter lower bound — the third member
    * of the landmark-centrality family (closeness = harmonic sum,
    * betweenness = dependency, eccentricity = MAX distance): for every
    * node, its largest BFS distance to any landmark. By triangle
    * inequality max_L d(v, L) ≤ ecc(v), and the global max over
    * surfaced rows is the standard lower bound on the graph diameter —
    * what "how wide is this graph" dashboards actually run at scale
    * (exact diameter is all-pairs). Same loop, same bucketed adjacency,
    * same |L| concurrent frontiers as `landmarkCloseness`; depth-capped
    * like every landmark op, so unreached (lm, node) pairs simply don't
    * bound that node. */
  def landmarkEccentricity(edges: DataFrame, nLandmarks: Int,
      maxDepth: Int): DataFrame =
    landmarkBfs(edges, nLandmarks, maxDepth)
      .filter(col("dist") > 0)
      .groupBy(col("node"))
      .agg(max(col("dist")).cast("long").as("ecc_lb"),
        count(lit(1)).as("n_landmarks_reached"))
      .orderBy(col("node"))

  /** Landmark-sampled betweenness centrality — Brandes (2001) cut to
    * what scales, the same estimator trade as `landmarkCloseness`:
    * exact single-source dependency accumulation from the `nLandmarks`
    * smallest node ids instead of all V sources (O(V·E) exact
    * betweenness is off the table at corpus scale; landmark sampling
    * is the standard estimator, deterministic here).
    *
    * Forward phase: the multi-source BFS loop with PATH COUNTS — σ of
    * a newly reached node is the SUM of frontier-predecessor σ's
    * (partial-agg per (lm, dst) before the visited anti-join), so each
    * round stays one src-keyed join + one shuffle, state ≤ |L|·V rows.
    * Backward phase: Brandes' recurrence δ(v) = Σ_{succ w} σv·(1 +
    * δw)/σw runs one depth layer at a time (depth−1 … 1), each layer
    * one edge join + partial agg — and in FIXED-POINT integers: the
    * unit dependency is 10^9, each edge term `σv·(SCALE + δw) div σw`
    * truncates on non-negative BIGINTs (order-independent, `div` ≡
    * `//`), so the whole two-phase algorithm sits behind the hash gate
    * where float Brandes never could. The oracle re-derives σ from
    * scratch: walks of length = BFS distance are exactly the shortest
    * paths, so σ = COUNT of minimal-length walks (UNION ALL recursion),
    * and the backward layers unroll as CTEs.
    *
    * Surfaced: Σ over landmarks of δ(lm, v), nodes with positive
    * accumulated dependency — the bridge-vertex ranking. */
  def landmarkBetweenness(edges: DataFrame, nLandmarks: Int,
      maxDepth: Int): DataFrame = {
    val e = edges.select(col("src"), col("dst")).localCheckpoint(true)
    val lms = e.select(col("src")).distinct()
      .orderBy(col("src")).limit(nLandmarks).select(col("src").as("lm"))
    var visited = lms
      .select(col("lm"), col("lm").as("node"), lit(0).as("dist"),
        lit(1L).as("sigma"))
      .localCheckpoint(true)
    val layers = scala.collection.mutable.ArrayBuffer(visited)
    var frontier = visited
    var depth = 0
    while (depth < maxDepth && !frontier.isEmpty) {
      depth += 1
      val next = frontier.join(e, col("node") === col("src"))
        // σ(w) = Σ σ(pred): aggregate BEFORE the anti-join so only one
        // row per (lm, w) carries the full path count
        .groupBy(col("lm"), col("dst"))
        .agg(sum(col("sigma")).as("sigma"))
        .select(col("lm"), col("dst").as("node"), col("sigma"))
        .join(visited.select(col("lm"), col("node")), Seq("lm", "node"),
          "left_anti")
        .withColumn("dist", lit(depth))
        .select(col("lm"), col("node"), col("dist"), col("sigma"))
        .localCheckpoint(true)
      visited = visited.unionByName(next).localCheckpoint(true)
      layers += next
      frontier = next
    }
    // the loop appends `next` before testing it: if it exited on an
    // empty frontier the trailing layer is empty — drop it so the
    // backward pass seeds from the true deepest layer instead of
    // running a redundant join round against an empty frame
    if (layers.length > 1 && layers.last.isEmpty)
      layers.remove(layers.length - 1): Unit
    val reached = layers.length - 1 // deepest non-empty layer index
    // backward: deepest layer has δ = 0; walk layers d = reached−1 … 1
    var deltaNext = layers(reached)
      .select(col("lm"), col("node"), col("sigma"), lit(0L).as("delta"))
      .localCheckpoint(true)
    val deltaLayers = scala.collection.mutable.ArrayBuffer(deltaNext)
    var d = reached - 1
    while (d >= 1) {
      val succs = deltaNext.select(col("lm").as("wlm"),
        col("node").as("wnode"), col("sigma").as("wsigma"),
        col("delta").as("wdelta"))
      val contrib = layers(d).join(e, col("node") === col("src"))
        .join(succs,
          col("lm") === col("wlm") && col("dst") === col("wnode"))
        .withColumn("term",
          expr(s"sigma * ($BetweennessScale + wdelta) div wsigma"))
        .groupBy(col("lm"), col("node"))
        .agg(sum(col("term")).as("delta"))
      deltaNext = layers(d)
        .join(contrib, Seq("lm", "node"), "left")
        .select(col("lm"), col("node"), col("sigma"),
          coalesce(col("delta"), lit(0L)).as("delta"))
        .localCheckpoint(true)
      deltaLayers += deltaNext
      d -= 1
    }
    deltaLayers.map(_.select(col("lm"), col("node"), col("delta")))
      .reduce(_ unionByName _)
      .groupBy(col("node"))
      .agg(sum(col("delta")).as("bc_fp"))
      .filter(col("bc_fp") > 0)
      .orderBy(col("node"))
  }

  /** k-core membership: iteratively peel nodes of in-subgraph degree
    * < k until the fixpoint; survivors with their final core degree.
    * The classic graph-densification cut (stronger than the one-shot
    * support floor: a node's SUPPORT can be high while everything it
    * touches is peripheral). Each round is one partially-aggregated
    * degree count + two semi-joins, lineage cut per round
    * (localCheckpoint — the BFS/CC discipline); rounds are bounded by
    * the peel depth, O(log-ish) on real graphs, and a convergence
    * guard throws rather than return a half-peeled subgraph. */
  def kCore(edges: DataFrame, k: Long = 2L, maxIter: Int = 30): DataFrame = {
    // LAZY checkpoint + count: the convergence count is the round's
    // only driver decision, so it doubles as the checkpoint's
    // materializing action — one job per peel round instead of two
    // (eager checkpoint, then count over the same blocks)
    var e = edges.select(col("src"), col("dst"))
      .localCheckpoint(eager = false)
    var n = e.count()
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val keep = e.groupBy(col("src").as("node"))
        .agg(count(lit(1)).as("d"))
        .filter(col("d") >= k)
        .select(col("node"))
      val ne = e
        .join(keep.select(col("node").as("src")), Seq("src"), "left_semi")
        .join(keep.select(col("node").as("dst")), Seq("dst"), "left_semi")
        .select(col("src"), col("dst"))
        .localCheckpoint(eager = false)
      val nn = ne.count()
      converged = nn == n
      e = ne; n = nn; iter += 1
    }
    if (!converged) throw new IllegalStateException(
      s"k-core peel did not converge within $maxIter rounds")
    e.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("core_degree"))
      .orderBy(col("node"))
  }
}
