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
}
