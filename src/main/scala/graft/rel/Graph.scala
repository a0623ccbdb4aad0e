package graft.rel

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge

import graft.core.{QueryDef, Tables, Width}

/** Iterative graph analytics over a relation-derived graph: fixed-point
  * integer PageRank on the part co-purchase graph. The reference engine
  * has no graph surface; this is [EXT] SURVEY §2.11 territory — the
  * centrality/importance pass a data pipeline runs over a link or
  * citation graph before weighting training documents.
  *
  * Two deliberate design points:
  *
  *   - INTEGER fixed-point arithmetic. Classic PageRank sums doubles,
  *     and float addition is not associative — a distributed engine and
  *     a single-threaded oracle would disagree in the last bits, so the
  *     result could never sit behind a hash-compare gate. Here ranks
  *     are 10^12-scaled BIGINTs; each edge contribution is the exact
  *     integral division `(rank * 85) div (100 * outdeg)` and each sum
  *     is an integer sum — order-independent, so the result is
  *     bit-identical in ANY engine and at ANY parallelism. (Floor-
  *     division rounding loses < 1 unit per edge per iteration —
  *     irrelevant at 10^12 scale and equally present in every engine.)
  *
  *   - FIXED iteration count, not convergence-test looping. The
  *     iteration count is part of the query's semantics (it unrolls
  *     into the oracle's CTE chain); a data-dependent stopping rule
  *     would make the plan depend on a driver-side reduction per step.
  *
  * Scale shape (100 TB): the co-purchase self-join shuffles lineitem
  * once on l_orderkey and its fanout is quadratic only in ORDER size
  * (bounded by construction — the fixture's orders hold ≤ 17 items),
  * never in corpus size. Graph state is an O(|V|) adjacency-list
  * relation, built with one collect_set aggregation, partitioned by src
  * and persisted; each PageRank iteration is then exactly two exchanges
  * — the O(|V|) rank vector shuffle-hash-joins to the cached adjacency
  * (which does NOT move or re-sort), and contributions shuffle on dst
  * for the aggregate with map-side partial aggregation collapsing each
  * node's incoming mass before the wire. Rank state is O(|V|) per
  * iteration; the driver never sees a row.
  */
object Graph {

  /** Rank scale: 1.0 of classic PageRank mass = 10^12 units. Headroom:
    * total mass is |V|·10^12 ≈ 2·10^17 at sf=1000 for this graph; the
    * per-edge multiply by 85 stays far under Long.MaxValue (9.2·10^18)
    * because rank mass concentrates sublinearly. */
  val Scale: Long = 1000000000000L

  /** Damping as an exact rational: d = 85/100. */
  private val DampNum = 85L
  private val DampDen = 100L

  /** Distinct directed co-purchase edges: (src part → dst part) iff the
    * two parts appear in the same order. Symmetric by construction (both
    * directions emitted), so every vertex has outdeg ≥ 1 and the graph
    * has no dangling-mass term. */
  def coPurchaseEdges(lineitem: DataFrame): DataFrame = {
    val a = lineitem.select(col("l_orderkey").as("ok"), col("l_partkey").as("src"))
    val b = lineitem.select(col("l_orderkey").as("ok"), col("l_partkey").as("dst"))
    // dedup HALF the pairs (src < dst) and mirror after: the distinct is
    // the build's one big shuffle, and the mirrored direction is fully
    // determined by the first — shuffling it too would double the wire
    // bytes for zero information
    val half = a.join(b, Seq("ok"))
      .filter(col("src") < col("dst"))
      .select(col("src"), col("dst"))
      .distinct()
    half.unionByName(
      half.select(col("dst").as("src"), col("src").as("dst")))
  }

  /** `iters` rounds of fixed-point PageRank over `edges(src, dst)`,
    * treated as a SET (duplicate edge rows collapse — callers may feed
    * raw pair streams and skip their own distinct). Output: (node,
    * rank) for every vertex, rank in Scale units.
    *
    * State layout: ADJACENCY LISTS, not an edge relation. One
    * `collect_set` aggregation replaces the pair-level distinct + the
    * degree aggregate + the degree join (three exchanges → one), the
    * cached relation shrinks from O(|E|) rows to O(|V|), and each
    * iteration's rank join probes |V| rows instead of |E| — the |E|
    * contribution rows exist only inside the narrow explode feeding the
    * partially-aggregated dst shuffle. Caveat for power-law graphs: a
    * row holds a vertex's whole out-list, so max degree bounds row
    * size; for web-scale hub graphs, split hubs across salted rows (the
    * co-purchase graph's degree is bounded by order size, far below any
    * row limit). */
  /** Adjacency-list relation from a raw (possibly duplicated) edge
    * stream: one collect_set aggregation dedups and packs each vertex's
    * out-list. */
  private def adjacencyOf(edges: DataFrame): DataFrame =
    edges
      .groupBy(col("src"))
      .agg(collect_set(col("dst")).as("dsts"))
      .select(col("src"), col("dsts"),
        size(col("dsts")).cast("long").as("outdeg"))

  /** The iteration fold over a prebuilt adjacency relation. When `adj`
    * arrives hash-partitioned on src with the session's shuffle
    * partition count (a bucketed-table scan, or a checkpointed
    * repartition), each iteration plans exactly ONE exchange — the dst
    * aggregate — because the rank vector exits that aggregate already
    * hash-partitioned on node with the same count, so the next rank
    * join moves NOTHING on either side (pinned in GraphSpec).
    *
    * Two-iterations-per-exchange was evaluated and REJECTED: fusing
    * rounds needs 2-hop messages u→w weighted by
    * floor(r'(v)·d / outdeg(v)) for the intermediate v, and (a) the
    * floor over the COMPLETED per-v sum is not decomposable into
    * per-u terms — the declared integer semantics (each round floors
    * exactly once per contribution) force the v-aggregation barrier —
    * and (b) even under real-valued semantics the fused message volume
    * is the 2-hop path count |A²| ≫ |E|. One partial-aggregated
    * exchange per superstep is the floor for this operator. */
  def pageRankFromAdjacency(adj: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val base = Scale * (DampDen - DampNum) / DampDen // exact: (1-d)·Scale
    val ranks0 = adj.select(col("src").as("node"), lit(Scale).as("rank"))
    (1 to iters).foldLeft(ranks0) { (ranks, _) =>
      adj
        // shuffle-hash, not sort-merge: the adjacency is partitioned by
        // src but NOT sorted — SMJ would re-sort it EVERY iteration;
        // hashing the rank vector (O(|V|/p) per task, the standard
        // PageRank memory shape) skips both sorts, with no
        // broadcast-fits assumption at scale
        .join(ranks.hint("shuffle_hash"), col("src") === col("node"))
        // integral division — floor((rank·85) / (100·outdeg)) computed in
        // BIGINT; a double round-trip would lose integer precision above
        // 2^53 and break the cross-engine bit-equality contract
        .select(explode(col("dsts")).as("dst"),
          expr(s"(rank * $DampNum) div ($DampDen * outdeg)").as("contrib"))
        .groupBy(col("dst"))
        .agg((sum(col("contrib")) + base).as("rank"))
        .select(col("dst").as("node"), col("rank"))
    }
  }

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

  /** Co-purchase pair volume estimate from the lineitem footer count:
    * orders average ~4 items, so ordered pairs ≈ 3·|lineitem|. It sizes
    * both the standing builds and the folds over them:
    *   - a BUILD joins/aggregates this O(|E|) pair stream, so it runs in
    *     a child session provisioned for it (`Width.provision`: never
    *     below the session width); its bucketed WRITE keeps the
    *     caller's width, because bucket count = serving width is the
    *     zero-exchange iteration contract;
    *   - a FOLD's per-superstep message volume is O(|E|), so it runs at
    *     `Width.spread` (capped at the session width) in a session
    *     pinned at that width: its score aggregates then EXIT at
    *     hash(key, p), matching the adjacency checkpointed at p, and
    *     each superstep plans one partial-aggregated score exchange
    *     (the GraphSpec one-exchange-per-iteration pin). Rank
    *     arithmetic is order-independent integer math, so results are
    *     bit-identical at any width. */
  private def coPairVolume(spark: SparkSession, dir: String): Long =
    3L * Width.rows(spark, dir, "lineitem")

  /** Build-once bucketed adjacency for the declared corpus: the graph
    * state a 100 TB deployment materializes ONCE and iterates over many
    * times. Bucket count = the session's shuffle partition count, so
    * the scan's hash(src) partitioning matches every downstream rank
    * vector and the iteration joins plan with zero exchanges on either
    * side. Session-memoized via the catalog (the fixture corpus is
    * immutable); a stale on-disk directory from a dead session is swept
    * before the rewrite. */
  def ensureAdjacency(spark: SparkSession, dir: String): String = synchronized {
    val buckets = spark.sessionState.conf.numShufflePartitions
    val table = ("graft_pr_adj_" +
      dir.replaceAll("[^A-Za-z0-9]", "_") + "_b" + buckets).toLowerCase
    if (!spark.catalog.tableExists(table)) {
      val loc = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"), table)
      val fs = loc.getFileSystem(spark.sessionState.newHadoopConf())
      if (fs.exists(loc)) fs.delete(loc, true): Unit
      val bs = Width.pinned(spark,
        Width.provision(coPairVolume(spark, dir), Width.sessionWidth(spark)))
      graft.core.Bucketing.writeBucketed(
        adjacencyOf(coPurchasePairs(Tables.lineitem(bs, dir))),
        table, "src", buckets)
    }
    table
  }

  /** Declared-query path: 5 iterations over the bucketed co-purchase
    * adjacency, top k parts by rank. The scan is checkpointed ONCE
    * before the fold (the `custSupplierHitsBucketed` discipline):
    * every iteration otherwise re-scans the bucketed parquet and
    * re-decodes the array column — measured ~1/3 of each iteration
    * stage's CPU at sf0.1 — where the checkpointed relation is read
    * back deserialized and reports its hash(src) partitioning. */
  def partPageRankBucketed(spark: SparkSession, dir: String,
      iters: Int = 5, k: Int = 100): DataFrame = {
    // fold width (see coPairVolume): the checkpointed adjacency REPORTS
    // hash(src, p) and the fold is PLANNED at width p, so each round
    // plans exactly one exchange — the partial-aggregated rank sum at
    // p — and the adjacency never moves
    val p = Width.spread(coPairVolume(spark, dir), Width.sessionWidth(spark))
    val adj = PlanBridge.checkpointHashPartitioned(
      Width.pinned(spark, p).table(ensureAdjacency(spark, dir)), Seq("src"), p)
    pageRankFromAdjacency(adj, iters)
      .select(col("node").as("part"), col("rank"))
      .orderBy(col("rank").desc, col("part"))
      .limit(k)
  }

  /** Raw mirrored co-purchase pairs, duplicates kept: `pageRank`'s
    * collect_set dedups them inside the aggregation it already pays, so
    * a separate pair-level distinct exchange would be pure waste. */
  private def coPurchasePairs(lineitem: DataFrame): DataFrame = {
    val a = lineitem.select(col("l_orderkey").as("ok"), col("l_partkey").as("src"))
    val b = lineitem.select(col("l_orderkey").as("ok"), col("l_partkey").as("dst"))
    val half = a.join(b, Seq("ok"))
      .filter(col("src") < col("dst"))
      .select(col("src"), col("dst"))
    half.unionByName(
      half.select(col("dst").as("src"), col("src").as("dst")))
  }

  /** Declared surface: 5 iterations over the co-purchase graph, top 100
    * parts by rank (rank desc, part asc — total order). */
  def partPageRank(lineitem: DataFrame, iters: Int = 5, k: Int = 100): DataFrame =
    pageRank(coPurchasePairs(lineitem), iters)
      .select(col("node").as("part"), col("rank"))
      .orderBy(col("rank").desc, col("part"))
      .limit(k)

  /** Unrolled-CTE oracle: r0..r{iters} chained, one CTE per iteration —
    * the fixed iteration count IS the query, so the oracle spells it
    * out. `//` is DuckDB's integer floor division (≡ Spark's `div` for
    * the all-positive operands here). */
  def partPageRankSql(iters: Int = 5, k: Int = 100): String = {
    val base = Scale * (DampDen - DampNum) / DampDen
    val iterCtes = (1 to iters).map { i =>
      s"""r$i AS (
         |  SELECT e.dst AS node,
         |         CAST(SUM((r.rank * $DampNum) // ($DampDen * d.outdeg)) + $base AS BIGINT) AS rank
         |  FROM r${i - 1} r
         |  JOIN deg d ON d.src = r.node
         |  JOIN e ON e.src = r.node
         |  GROUP BY e.dst)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (
       |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
       |  FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
       |  WHERE a.l_partkey <> b.l_partkey),
       |deg AS (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY src),
       |r0 AS (SELECT src AS node, CAST($Scale AS BIGINT) AS rank FROM deg),
       |$iterCtes
       |SELECT node AS part, rank FROM r$iters
       |ORDER BY rank DESC, part
       |LIMIT $k""".stripMargin
  }

  /** Triangle counting with degree-ordered edge orientation — the
    * classic skew bound (Cohen; GraphX's implementation): orient every
    * undirected edge from its lower-(degree, id) endpoint to the
    * higher, so each triangle is discovered exactly once, at its
    * lowest-degree corner, and a vertex's wedge fanout is bounded by
    * its ORIENTED out-degree ≤ O(√|E|) — a power-law hub stops being a
    * quadratic wedge factory. Wedges close against the undirected
    * id-ordered edge set with a plain equi-join (an OR-disjunction
    * close would degrade to a nested loop — measured in the oracle
    * prototype). Per-node counts: each triangle credits its 3 corners.
    */
  /** Degree-ordered triangle enumeration shared by `triangleCounts`
    * and `clusteringCoefficients`: returns (deg: (node, d), perNode:
    * (node, n_tri)). One place owns the orientation and wedge-close
    * discipline (each triangle found once at its lowest-degree corner,
    * wedge fanout bounded by oriented out-degree). */
  private def triangleCore(edges: DataFrame): (DataFrame, DataFrame) = {
    val e = edges.filter(col("src") < col("dst"))
      .select(col("src").as("u"), col("dst").as("v"))
      .distinct()
      .localCheckpoint(eager = true)
    val deg = e.select(col("u").as("node"))
      .unionByName(e.select(col("v").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("d"))
    val keyed = e
      .join(deg.select(col("node").as("u"), col("d").as("du")), Seq("u"))
      .join(deg.select(col("node").as("v"), col("d").as("dv")), Seq("v"))
    val oriented = keyed.select(
      when(struct(col("du"), col("u")) < struct(col("dv"), col("v")),
        col("u")).otherwise(col("v")).as("s"),
      when(struct(col("du"), col("u")) < struct(col("dv"), col("v")),
        col("v")).otherwise(col("u")).as("t"))
    val o1 = oriented.select(col("s"), col("t").as("t1"))
    val o2 = oriented.select(col("s"), col("t").as("t2"))
    val wedges = o1.join(o2, Seq("s")).filter(col("t1") < col("t2"))
      .select(col("s").as("c"),
        least(col("t1"), col("t2")).as("a"),
        greatest(col("t1"), col("t2")).as("b"))
    val tris = wedges.join(e, col("a") === col("u") && col("b") === col("v"))
      .select(col("c"), col("a"), col("b"))
    val perNode = tris
      .select(explode(array(col("c"), col("a"), col("b"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_tri"))
    (deg, perNode)
  }

  def triangleCounts(edges: DataFrame, k: Int): DataFrame =
    triangleCore(edges)._2
      .orderBy(col("n_tri").desc, col("node"))
      .limit(k)

  /** Clustering-coefficient scale: 1.0 = 10^9 units. */
  val CcScale = 1000000000L

  /** Per-node local clustering coefficient cc(v) = 2·tri(v) /
    * (deg(v)·(deg(v)−1)) — the Watts–Strogatz local density measure,
    * derived from the SAME degree-ordered triangle enumeration as
    * `graph_triangles` (each triangle found once at its lowest-degree
    * corner, wedge fanout ≤ oriented out-degree) plus the degree
    * relation that enumeration already builds. Surfaced in exact
    * fixed-point: cc_fp = 2·tri·10^9 div (d·(d−1)) on BIGINTs —
    * deterministic, hash-gateable. Nodes of degree < 2 have no defined
    * coefficient and are excluded on both sides; triangle-free nodes
    * surface with 0. */
  def clusteringCoefficients(edges: DataFrame): DataFrame = {
    val (deg, perNode) = triangleCore(edges)
    deg.filter(col("d") >= 2)
      .join(perNode, Seq("node"), "left")
      .select(col("node"), col("d"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"))
      .withColumn("cc_fp",
        expr(s"(2 * n_tri * $CcScale) div (d * (d - 1))"))
      .orderBy(col("node"))
  }

  def clusteringCoefficientsSql: String =
    s"""$triangleCoreCtesSql
       |SELECT deg.node, deg.d, COALESCE(pn.n_tri, 0) AS n_tri,
       |  (2 * COALESCE(pn.n_tri, 0) * $CcScale) // (deg.d * (deg.d - 1)) AS cc_fp
       |FROM deg LEFT JOIN pn ON pn.node = deg.node
       |WHERE deg.d >= 2
       |ORDER BY deg.node""".stripMargin

  /** The shared triangle CTE chain (edge set → degrees → orientation →
    * wedge close → per-node counts), concatenated by BOTH triangle SQL
    * builders — no string surgery between them. */
  private def triangleCoreCtesSql: String =
    s"""WITH e AS (
       |  SELECT u, v FROM (
       |    -- support = DISTINCT ORDERS containing the pair (a part twice
       |    -- in one order is still one co-purchase), mirroring the
       |    -- engine's per-order item-SET enumeration
       |    SELECT a.l_partkey AS u, b.l_partkey AS v,
       |           COUNT(DISTINCT a.l_orderkey) AS n
       |    FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
       |    WHERE a.l_partkey < b.l_partkey
       |    GROUP BY a.l_partkey, b.l_partkey)
       |  WHERE n >= 2),
       |deg AS (
       |  SELECT node, COUNT(*) AS d FROM (
       |    SELECT u AS node FROM e UNION ALL SELECT v FROM e) GROUP BY node),
       |o AS (
       |  SELECT CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.u ELSE e.v END AS s,
       |         CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.v ELSE e.u END AS t
       |  FROM e JOIN deg du ON du.node = e.u JOIN deg dv ON dv.node = e.v),
       |w AS (
       |  SELECT o1.s AS c, LEAST(o1.t, o2.t) AS a, GREATEST(o1.t, o2.t) AS b
       |  FROM o o1 JOIN o o2 ON o1.s = o2.s AND o1.t < o2.t),
       |tri AS (
       |  SELECT w.c, w.a, w.b FROM w JOIN e ON e.u = w.a AND e.v = w.b),
       |pn AS (
       |  SELECT node, COUNT(*) AS n_tri FROM (
       |    SELECT c AS node FROM tri
       |    UNION ALL SELECT a FROM tri
       |    UNION ALL SELECT b FROM tri)
       |  GROUP BY node)""".stripMargin

  def triangleCountsSql(k: Int): String =
    s"""$triangleCoreCtesSql
       |SELECT node, n_tri FROM pn
       |ORDER BY n_tri DESC, node LIMIT $k""".stripMargin


  /** Synchronous label propagation (Raghavan/Albert/Kumara 2007,
    * "Near linear time algorithm to detect community structures in
    * large-scale networks") over a symmetric edge set: every node
    * starts as its own label; each round, every node adopts the most
    * frequent label among its neighbors, ties to the SMALLEST label —
    * the deterministic tie rule that makes the classic randomized
    * algorithm a pure function (same reason the winnow selection pins
    * leftmost-min). Fixed iteration count, like PageRank: the unroll
    * IS the query.
    *
    * Scale shape per iteration: the label vector exits its aggregate
    * hash-partitioned on node, so the adjacency join moves nothing
    * (same checkpointed-adjacency discipline as `pageRank`); the
    * neighbor-label stream exists only inside the narrow explode and
    * collapses through TWO partially-aggregated shuffles — (node,
    * label) counts, then the per-node argmax as a map-side-combining
    * `min(struct(-n, label))`. Chosen over the 1-exchange
    * collect-all-labels alternative: partial aggregation collapses a
    * hub's counts before the wire, which is the difference that
    * matters on power-law graphs. */
  def labelPropagation(edges: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val spark = edges.sparkSession
    val p = spark.sparkContext.defaultParallelism
    val adj = adjacencyOf(edges)
      .select(col("src"), col("dsts"))
      .repartition(p, col("src"))
      .localCheckpoint(eager = true)
    val labels0 = adj.select(col("src").as("node"), col("src").as("label"))
    (1 to iters).foldLeft(labels0) { (labels, _) =>
      adj.join(labels.hint("shuffle_hash"), col("src") === col("node"))
        .select(explode(col("dsts")).as("dst"), col("label"))
        .groupBy(col("dst"), col("label"))
        .agg(count(lit(1)).as("n"))
        .groupBy(col("dst"))
        .agg(min(struct((-col("n")).as("neg_n"), col("label").as("label")))
          .as("best"))
        .select(col("dst").as("node"), col("best").getField("label").as("label"))
    }
  }

  /** Declared surface: communities of the support-≥2 co-purchase
    * backbone after 3 synchronous rounds — (community, n_members),
    * largest first. The backbone (not the raw graph) for the same
    * reason as triangles: LPA on a near-clique collapses to one giant
    * label in one round; communities live in the REAL structure. */
  def partCommunities(lineitem: DataFrame, iters: Int = 3,
      k: Int = 50): DataFrame = {
    val half = backboneEdges(lineitem, 2L)
    communitiesFromEdges(half.unionByName(
      half.select(col("dst").as("src"), col("src").as("dst"))), iters, k)
  }

  /** As `partCommunities`, over a prebuilt MIRRORED edge relation (the
    * bucketed backbone table in the declared query). */
  def communitiesFromEdges(edges: DataFrame, iters: Int = 3,
      k: Int = 50): DataFrame =
    labelPropagation(edges, iters)
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_members"))
      .select(col("label").as("community"), col("n_members"))
      .orderBy(col("n_members").desc, col("community"))
      .limit(k)

  /** Unrolled-CTE oracle: one (count, argmax) CTE per round; the
    * window-over-aggregate ROW_NUMBER states the same (n DESC, label)
    * total order as the engine's `min(struct(-n, label))`. */
  def partCommunitiesSql(iters: Int = 3, k: Int = 50): String = {
    val iterCtes = (1 to iters).map { i =>
      s"""l$i AS (
         |  SELECT node, label FROM (
         |    SELECT e.dst AS node, l.label, COUNT(*) AS n,
         |      ROW_NUMBER() OVER (PARTITION BY e.dst
         |        ORDER BY COUNT(*) DESC, l.label) AS rn
         |    FROM e JOIN l${i - 1} l ON e.src = l.node
         |    GROUP BY e.dst, l.label)
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH eh AS (
       |  SELECT u, v FROM (
       |    SELECT a.l_partkey AS u, b.l_partkey AS v,
       |           COUNT(DISTINCT a.l_orderkey) AS n
       |    FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
       |    WHERE a.l_partkey < b.l_partkey
       |    GROUP BY a.l_partkey, b.l_partkey)
       |  WHERE n >= 2),
       |e AS (SELECT u AS src, v AS dst FROM eh
       |      UNION ALL SELECT v, u FROM eh),
       |l0 AS (SELECT DISTINCT src AS node, src AS label FROM e),
       |$iterCtes
       |SELECT label AS community, COUNT(*) AS n_members
       |FROM l$iters GROUP BY label
       |ORDER BY n_members DESC, community LIMIT $k""".stripMargin
  }

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

  def landmarkEccentricitySql(nLandmarks: Int, maxDepth: Int): String =
    s"""WITH RECURSIVE eh AS (
       |  SELECT u, v FROM (
       |    SELECT a.l_partkey AS u, b.l_partkey AS v,
       |           COUNT(DISTINCT a.l_orderkey) AS n
       |    FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
       |    WHERE a.l_partkey < b.l_partkey
       |    GROUP BY a.l_partkey, b.l_partkey)
       |  WHERE n >= 2),
       |e AS (SELECT u AS src, v AS dst FROM eh
       |      UNION ALL SELECT v, u FROM eh),
       |lms AS (SELECT src AS lm FROM e GROUP BY src ORDER BY src LIMIT $nLandmarks),
       |bfs AS (
       |  SELECT lm, lm AS node, 0 AS dist FROM lms
       |  UNION
       |  SELECT bfs.lm, e.dst, bfs.dist + 1
       |  FROM bfs JOIN e ON e.src = bfs.node
       |  WHERE bfs.dist < $maxDepth),
       |d AS (SELECT lm, node, MIN(dist) AS dist FROM bfs GROUP BY lm, node)
       |SELECT node, CAST(MAX(dist) AS BIGINT) AS ecc_lb,
       |       COUNT(*) AS n_landmarks_reached
       |FROM d WHERE dist > 0
       |GROUP BY node ORDER BY node""".stripMargin

  /** Betweenness scale: 1.0 = 10^9 units (one source-target dependency). */
  val BetweennessScale = 1000000000L

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

  /** Oracle for `maxDepth` = 3: σ via minimal-length walk counting
    * (a walk of length = BFS distance is necessarily a shortest path),
    * backward layers unrolled d = 2, 1 with the identical integer
    * truncation per edge term. */
  def landmarkBetweennessSql(nLandmarks: Int): String =
    s"""WITH RECURSIVE eh AS (
       |  SELECT u, v FROM (
       |    SELECT a.l_partkey AS u, b.l_partkey AS v,
       |           COUNT(DISTINCT a.l_orderkey) AS n
       |    FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
       |    WHERE a.l_partkey < b.l_partkey
       |    GROUP BY a.l_partkey, b.l_partkey)
       |  WHERE n >= 2),
       |e AS (SELECT u AS src, v AS dst FROM eh
       |      UNION ALL SELECT v, u FROM eh),
       |lms AS (SELECT src AS lm FROM e GROUP BY src ORDER BY src LIMIT $nLandmarks),
       |walks AS (
       |  SELECT lm, lm AS node, 0 AS d FROM lms
       |  UNION ALL
       |  SELECT w.lm, e.dst, w.d + 1
       |  FROM walks w JOIN e ON e.src = w.node WHERE w.d < 3),
       |dist AS (SELECT lm, node, MIN(d) AS dist FROM walks GROUP BY lm, node),
       |nd AS (
       |  SELECT t.lm, t.node, t.dist, CAST(COUNT(*) AS BIGINT) AS sigma
       |  FROM dist t JOIN walks w
       |    ON w.lm = t.lm AND w.node = t.node AND w.d = t.dist
       |  GROUP BY t.lm, t.node, t.dist),
       |t2 AS (
       |  SELECT p.lm, p.node,
       |    SUM(p.sigma * $BetweennessScale // w.sigma) AS delta
       |  FROM nd p
       |  JOIN e ON e.src = p.node
       |  JOIN nd w ON w.lm = p.lm AND w.node = e.dst AND w.dist = 3
       |  WHERE p.dist = 2 GROUP BY p.lm, p.node),
       |d2 AS (
       |  SELECT p.lm, p.node, p.sigma, COALESCE(t2.delta, 0) AS delta
       |  FROM nd p LEFT JOIN t2 ON t2.lm = p.lm AND t2.node = p.node
       |  WHERE p.dist = 2),
       |t1 AS (
       |  SELECT p.lm, p.node,
       |    SUM(p.sigma * ($BetweennessScale + d2.delta) // d2.sigma) AS delta
       |  FROM nd p
       |  JOIN e ON e.src = p.node
       |  JOIN d2 ON d2.lm = p.lm AND d2.node = e.dst
       |  WHERE p.dist = 1 GROUP BY p.lm, p.node),
       |d1 AS (
       |  SELECT p.lm, p.node, COALESCE(t1.delta, 0) AS delta
       |  FROM nd p LEFT JOIN t1 ON t1.lm = p.lm AND t1.node = p.node
       |  WHERE p.dist = 1),
       |alld AS (
       |  SELECT lm, node, delta FROM d1
       |  UNION ALL SELECT lm, node, delta FROM d2
       |  UNION ALL SELECT lm, node, 0 FROM nd WHERE dist = 3)
       |SELECT node, CAST(SUM(delta) AS BIGINT) AS bc_fp
       |FROM alld GROUP BY node
       |HAVING SUM(delta) > 0 ORDER BY node""".stripMargin

  def landmarkClosenessSql(nLandmarks: Int, maxDepth: Int): String =
    s"""WITH RECURSIVE eh AS (
       |  SELECT u, v FROM (
       |    SELECT a.l_partkey AS u, b.l_partkey AS v,
       |           COUNT(DISTINCT a.l_orderkey) AS n
       |    FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
       |    WHERE a.l_partkey < b.l_partkey
       |    GROUP BY a.l_partkey, b.l_partkey)
       |  WHERE n >= 2),
       |e AS (SELECT u AS src, v AS dst FROM eh
       |      UNION ALL SELECT v, u FROM eh),
       |lms AS (SELECT src AS lm FROM e GROUP BY src ORDER BY src LIMIT $nLandmarks),
       |bfs AS (
       |  SELECT lm, lm AS node, 0 AS dist FROM lms
       |  UNION
       |  SELECT bfs.lm, e.dst, bfs.dist + 1
       |  FROM bfs JOIN e ON e.src = bfs.node
       |  WHERE bfs.dist < $maxDepth),
       |d AS (SELECT lm, node, MIN(dist) AS dist FROM bfs GROUP BY lm, node)
       |SELECT node, COUNT(*) AS n_reached,
       |  CAST(SUM(12 // dist) AS BIGINT) AS closeness12
       |FROM d WHERE dist > 0
       |GROUP BY node ORDER BY node""".stripMargin

  /** Oracle: DuckDB recursive CTE — UNION-dedup on (node, dist) pairs
    * bounded by depth, then MIN(dist) per node ≡ first-visit BFS. */
  def bfsDistancesSql(maxDepth: Int): String =
    s"""WITH RECURSIVE eh AS (
       |  SELECT u, v FROM (
       |    SELECT a.l_partkey AS u, b.l_partkey AS v,
       |           COUNT(DISTINCT a.l_orderkey) AS n
       |    FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
       |    WHERE a.l_partkey < b.l_partkey
       |    GROUP BY a.l_partkey, b.l_partkey)
       |  WHERE n >= 2),
       |e AS (SELECT u AS src, v AS dst FROM eh
       |      UNION ALL SELECT v, u FROM eh),
       |bfs AS (
       |  SELECT (SELECT MIN(src) FROM e) AS node, 0 AS dist
       |  UNION
       |  SELECT e.dst, bfs.dist + 1
       |  FROM bfs JOIN e ON e.src = bfs.node
       |  WHERE bfs.dist < $maxDepth)
       |SELECT node, CAST(MIN(dist) AS INT) AS dist
       |FROM bfs GROUP BY node ORDER BY node""".stripMargin

  /** Build-once MIRRORED co-purchase backbone (support ≥ minSupport),
    * bucketed on src — the `ensureAdjacency` discipline applied to the
    * backbone graph that triangles, communities and BFS all consume:
    * the lineitem self-join + support cut runs ONCE per corpus, and
    * every downstream src-keyed aggregation/join reads pre-partitioned
    * buckets. (PageRank keeps its own adjacency table — it runs on the
    * RAW co-purchase graph, a different relation.) */
  def ensureBackbone(spark: SparkSession, dir: String,
      minSupport: Long = 2L): String = synchronized {
    val buckets = spark.sessionState.conf.numShufflePartitions
    val table = ("graft_bb_" + dir.replaceAll("[^A-Za-z0-9]", "_") +
      "_s" + minSupport + "_b" + buckets).toLowerCase
    if (!spark.catalog.tableExists(table)) {
      val loc = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"), table)
      val fs = loc.getFileSystem(spark.sessionState.newHadoopConf())
      if (fs.exists(loc)) fs.delete(loc, true): Unit
      val bs = Width.pinned(spark,
        Width.provision(coPairVolume(spark, dir), Width.sessionWidth(spark)))
      val half = backboneEdges(Tables.lineitem(bs, dir), minSupport)
      graft.core.Bucketing.writeBucketed(
        half.unionByName(
          half.select(col("dst").as("src"), col("src").as("dst"))),
        table, "src", buckets)
    }
    table
  }

  /** Connected components of the backbone graph: node → min reachable
    * id (the same component contract every clustering op in the engine
    * uses) plus component size. The CC stage is `ext.Corpus
    * .connectedComponents` verbatim — size-guarded driver union-find
    * with the distributed hash-min + pointer-jumping fallback — so the
    * graph family and the dedup family share ONE component
    * implementation (and its convergence guarantees). Input is the
    * bucketed mirrored backbone; the src<dst cut recovers unique half
    * edges without a distinct. */
  def componentSizes(edges: DataFrame): DataFrame = {
    val comp = graft.ext.Corpus.connectedComponents(
      edges.filter(col("src") < col("dst"))
        .select(col("src").as("doc_a"), col("dst").as("doc_b")))
      .select(col("id").as("node"), col("component"))
    val sizes = comp.groupBy(col("component"))
      .agg(count(lit(1)).as("n_nodes"))
    comp.join(sizes, Seq("component"))
      .select(col("node"), col("component"), col("n_nodes"))
      .orderBy(col("node"))
  }

  /** Oracle: reachability as a recursive CTE (UNION-deduped frontier),
    * MIN over reachable ids per node ≡ hash-min fixpoint. */
  def componentSizesSql(): String =
    s"""WITH RECURSIVE eh AS (
       |  SELECT u, v FROM (
       |    SELECT a.l_partkey AS u, b.l_partkey AS v,
       |           COUNT(DISTINCT a.l_orderkey) AS n
       |    FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
       |    WHERE a.l_partkey < b.l_partkey
       |    GROUP BY a.l_partkey, b.l_partkey)
       |  WHERE n >= 2),
       |e AS (SELECT u AS a, v AS b FROM eh
       |      UNION ALL SELECT v, u FROM eh),
       |reach AS (
       |  SELECT a AS id, a AS r FROM e
       |  UNION
       |  SELECT reach.id, e.b FROM reach JOIN e ON e.a = reach.r),
       |comp AS (SELECT id, MIN(r) AS component FROM reach GROUP BY id),
       |sz AS (SELECT component, COUNT(*) AS n_nodes FROM comp GROUP BY component)
       |SELECT c.id AS node, CAST(c.component AS BIGINT) AS component,
       |       CAST(s.n_nodes AS BIGINT) AS n_nodes
       |FROM comp c JOIN sz s USING (component)
       |ORDER BY node""".stripMargin

  // ------------------------------------------------------- directed SCC

  /** Distinct DIRECTED succession edges over part families (partkey div
    * `famDiv`): within each order, consecutive line items (by line
    * number) emit fam(i) → fam(i+1). Cross-level hops are kept only
    * "upward" (`src mod levels <= dst mod levels`), orienting the
    * otherwise-uniform succession graph so its condensation is a
    * non-trivial DAG of level communities — without a cut the random
    * graph collapses into one giant SCC and the operator has nothing to
    * find. A LEVEL cut (id mod k), unlike a band cut (id div k), keeps
    * the number of condensation layers fixed as the corpus grows, so
    * SCC peel depth below is scale-invariant. One self-join on
    * (orderkey, linenumber) + one distinct — both shuffle once on keys
    * that partition evenly. */
  def successionEdges(lineitem: DataFrame, famDiv: Long = 4L,
      levels: Long = 4L): DataFrame = {
    val seq = lineitem.select(col("l_orderkey").as("ok"),
      col("l_linenumber").cast("long").as("ln"),
      expr(s"l_partkey div $famDiv").as("fam"))
    seq.select(col("ok"), col("ln"), col("fam").as("src"))
      .join(seq.select(col("ok"), (col("ln") - 1L).as("ln"),
        col("fam").as("dst")), Seq("ok", "ln"))
      .filter(col("src") =!= col("dst"))
      .filter(col("src") % levels <= col("dst") % levels)
      .select(col("src"), col("dst"))
      .distinct()
  }

  /** FUSED forward/backward min-label fixpoint: per vertex,
    * f(v) = min({v} ∪ {f(u) : u→v}) and b(v) = min({v} ∪ {b(w) : v→w}),
    * both advanced in the SAME superstep (forward messages carry f with
    * a MaxValue b-sentinel, backward messages the reverse; the shared
    * groupBy-min merges them — sentinels never survive because the
    * state rows ride in the union). Halves the superstep count of
    * running two fixpoints back-to-back: iterations = max of the two
    * propagation radii, not their sum. Messaging is DELTA/FRONTIER
    * (only vertices whose label improved last superstep send — exact
    * for min-propagation, see the in-loop comment), and convergence
    * detection is the frontier count: labels are monotone
    * non-increasing, so an empty frontier is an exact fixpoint
    * witness. The state is checkpointed LAZILY and the frontier-count
    * aggregate is the action that materializes it — one job per
    * superstep, no separate checkpoint job. `maxIters` must cover the
    * min-label propagation
    * radius of the largest same-class SCC — data-dependent, growing
    * roughly with graph diameter; callers on deeper graphs should pass
    * a larger budget (the failure mode is a loud require, never a
    * silent wrong answer). */
  private def fbFixpoint(e: DataFrame, verts: DataFrame,
      maxIters: Int): (DataFrame, Long) = {
    val sentinel = Long.MaxValue
    // ONE tagged message relation instead of separate forward/backward
    // joins: a forward message reads f at the edge's source and lands
    // on its destination, a backward message reads b at the destination
    // and lands on the source — tagging halves the per-superstep
    // exchange count (narrow union of two projections, no extra
    // shuffle). The relation is FIXED across the fixpoint, so it is
    // hash-partitioned on the join key ONCE and persisted: the cached
    // InMemoryRelation advertises that partitioning and every
    // superstep's join reuses it — only the O(V) label side exchanges
    // per superstep, never the 2|E| message rows (the r13 tier-2
    // rehearsal measured the re-shuffled form at 20× bytes for 10×
    // data once labels outgrew the broadcast threshold; this caps the
    // per-superstep exchange at state size, the PageRank standing-
    // adjacency discipline applied inside the query).
    val msgs0 = e.select(col("src").as("key"), col("dst").as("out"),
        lit(true).as("isf"))
      .unionByName(e.select(col("dst").as("key"), col("src").as("out"),
        lit(false).as("isf")))
      .repartition(col("key")).persist()
    var lbl = verts.select(col("v"), col("v").as("f"), col("v").as("b"),
        lit(true).as("changed"))
      .localCheckpoint(true)
    // empty vertex set: already converged (guards the empty-relation
    // head() below; callers today pre-filter, but this helper
    // shouldn't mine)
    if (lbl.isEmpty) {
      msgs0.unpersist()
      return (lbl.select(col("v"), col("f"), col("b")), 0L)
    }
    try {
      var iter = 0
      var converged = false
      // DELTA/FRONTIER messaging: only vertices whose (f, b) improved
      // last superstep send. Exact for min-propagation — a vertex's
      // current label persists in `lbl` across supersteps, so a resend
      // of an unchanged label can never improve any receiver's min;
      // the first superstep marks everyone changed, so every initial
      // label is delivered once. Each superstep's groupBy therefore
      // exchanges O(V + 2·E_active) rows instead of O(V + 2|E|), and
      // the frontier decays geometrically once labels stabilize.
      // Convergence detection is the frontier count itself — an empty
      // frontier IS the fixpoint witness (replaces the r13 Σf/Σb
      // DECIMAL checksum pair), and
      // the count is the one materializing action per BLOCK: supersteps
      // run in blocks of 2 between convergence checks. A 2-step unroll
      // was measured SLOWER under full-width messaging (steady 5.40 s
      // vs 4.52 s at sf0.1 — overshoot supersteps cost the whole 2|E|
      // join), but DELTA messaging flips that trade: the one overshoot
      // superstep a block boundary can add runs on an EMPTY frontier
      // (no messages, every label unchanged), so its cost is the V-row
      // agg alone while the block halves driver materializing actions
      // — at cluster scale, half the DAG-scheduler round-trips for the
      // same exchange volume. The survivor count rides the same
      // aggregate (f <> b over the current labels), so the caller's
      // per-peel survivors.count() job disappears too.
      var survivors = -1L
      while (iter < maxIters && !converged) {
        var sub = 0
        while (sub < 2 && iter < maxIters) {
          val active = lbl.filter(col("changed"))
            .select(col("v").as("key"), col("f"), col("b"))
          val msgs = msgs0.join(active, Seq("key"))
            .select(col("out").as("v"),
              when(col("isf"), col("f")).otherwise(sentinel).as("f"),
              when(col("isf"), lit(sentinel)).otherwise(col("b")).as("b"))
          // old rows tagged so the same min-agg yields both the new
          // label and the pre-superstep label — `changed` costs no
          // second join and no second exchange
          lbl = lbl
            .select(col("v"), col("f"), col("b"), lit(true).as("isold"))
            .unionByName(msgs.withColumn("isold", lit(false)))
            .groupBy(col("v"))
            .agg(min(col("f")).as("f"), min(col("b")).as("b"),
              min(when(col("isold"), col("f"))).as("oldf"),
              min(when(col("isold"), col("b"))).as("oldb"))
            .select(col("v"), col("f"), col("b"),
              (col("f") < col("oldf") || col("b") < col("oldb"))
                .as("changed"))
            .localCheckpoint(eager = false)
          sub += 1
          iter += 1
        }
        val r = lbl.agg(
          sum(when(col("changed"), 1L).otherwise(0L)),
          sum(when(col("f") =!= col("b"), 1L).otherwise(0L))).head()
        val nChanged = r.getLong(0)
        survivors = r.getLong(1)
        converged = nChanged == 0L
        if (sys.env.contains("SPARK_GRAFT_SCC_TRACE"))
          println(s"scc block end $iter: frontier=$nChanged " +
            s"survivors=$survivors")
      }
      require(converged, s"FW-BW fixpoint did not converge in $maxIters")
      if (sys.env.contains("SPARK_GRAFT_SCC_TRACE"))
        println(s"scc fixpoint: $iter supersteps")
      (lbl.select(col("v"), col("f"), col("b")), survivors)
    } finally msgs0.unpersist(): Unit
  }

  /** Strongly connected components via forward/backward min-label
    * REFINEMENT (the FW-BW coloring scheme, Orzan 2004 / Fleischer
    * et al. 2000, re-expressed as DataFrame fixpoints): each peel
    * computes F(v) = min vertex reaching v and B(v) = min vertex v
    * reaches, both inside v's current class; vertices with F = B are
    * exactly SCC(F) and retire, survivors refine their class to the
    * (F, B) pair, and edges whose endpoints now disagree on (F, B) are
    * deleted — safe because every cycle through an SCC lies wholly
    * inside one class, so no SCC-internal edge ever crosses classes.
    * All classes refine IN PARALLEL inside the same DataFrames (class
    * membership is data, not driver loop structure), which is what
    * keeps peel count at the REFINEMENT depth (2–3 on the level-chain
    * succession graph, independent of corpus size) instead of the
    * condensation depth that one-SCC-at-a-time FW-BW peeling pays.
    * Driver sees only per-iteration convergence scalars; state is
    * O(|V|) labels + the shrinking O(|E|) edge relation, checkpoint-
    * truncated every step (the BFS/CC lineage discipline). Output: one
    * row per SCC — (scc_id = min member, scc_size, v_min, v_max). */
  def stronglyConnectedComponents(edges: DataFrame, maxPeels: Int = 12,
      maxIters: Int = 64): DataFrame = {
    var e = edges.select(col("src"), col("dst")).localCheckpoint(true)
    var remaining = e.select(col("src").as("v"))
      .unionByName(e.select(col("dst").as("v")))
      .distinct().localCheckpoint(true)
    // Toy-scale wall anatomy, measured so nobody re-chases it: at
    // sf0.1 (5k vertices) a StageProbe run summed all stages to ~1.5 s
    // of a ~9 s wall — the rest is DRIVER coordination (AQE
    // materializing each superstep exchange/broadcast as its own async
    // query stage). Two levers were A/B'd in-window and REJECTED:
    // volume-sizing the fixpoint width down via a child session
    // (steady 5.1→7.6 s — single-partition supersteps serialize
    // execution without cutting the coordination), and disabling AQE
    // in that session (6.5–6.8 s vs 4.9–5.3 baseline — AQE's
    // broadcast/coalesce decisions earn their round-trips even at this
    // size). The remaining per-superstep fixed cost is irreducible
    // without fusing supersteps into one job, which the convergence
    // witness forbids; at corpus scale the wall is data-bound and none
    // of this matters.
    // empty seed fixes both degenerate-input reduce and result schema
    val assigned = scala.collection.mutable.ArrayBuffer[DataFrame](
      edges.sparkSession.range(0)
        .select(col("id").as("v"), col("id").as("scc_id")))
    var peel = 0
    var nRemaining = remaining.count()
    while (peel < maxPeels && nRemaining > 0) {
      // the fixpoint's own convergence action materialized `lab`'s
      // lineage tail AND counted the survivors (f <> b rode the same
      // aggregate) — no per-peel count job
      val (lab, nSurv) = fbFixpoint(e, remaining, maxIters)
      assigned += lab.filter(col("f") === col("b"))
        .select(col("v"), col("f").as("scc_id"))
      nRemaining = nSurv
      if (sys.env.contains("SPARK_GRAFT_SCC_TRACE"))
        println(s"scc peel $peel: survivors=$nRemaining")
      if (nRemaining > 0) {
        remaining = lab.filter(col("f") =!= col("b")).select(col("v"))
        // keep only intra-class edges between SURVIVORS: retired
        // vertices have f = b, so the sf <> sb guard drops their
        // incident edges in the same pass as the class filter
        e = e
          .join(lab.select(col("v").as("src"), col("f").as("sf"),
            col("b").as("sb")), Seq("src"))
          .join(lab.select(col("v").as("dst"), col("f").as("df"),
            col("b").as("db")), Seq("dst"))
          .filter(col("sf") === col("df") && col("sb") === col("db") &&
            col("sf") =!= col("sb"))
          .select(col("src"), col("dst"))
          .localCheckpoint(true)
      }
      peel += 1
    }
    require(nRemaining == 0,
      s"SCC refinement did not converge in $maxPeels peels")
    assigned.reduce(_.unionByName(_))
      .groupBy(col("scc_id"))
      .agg(count(lit(1)).as("scc_size"), min(col("v")).as("v_min"),
        max(col("v")).as("v_max"))
      .orderBy(col("scc_id"))
  }

  /** Oracle: exact transitive closure as a recursive CTE; v ∈ SCC(m)
    * iff m→*v and v→*m, m = the minimum such mutual-reach partner
    * (LEAST with v itself covers singletons). Closure is oracle-side
    * only — the engine never materializes reachability. */
  def sccSql(famDiv: Long = 4L, levels: Long = 4L): String =
    s"""WITH RECURSIVE seq AS (
       |  SELECT l_orderkey AS ok, l_linenumber AS ln,
       |         l_partkey // $famDiv AS fam
       |  FROM lineitem),
       |e AS (
       |  SELECT DISTINCT a.fam AS src, b.fam AS dst
       |  FROM seq a JOIN seq b ON a.ok = b.ok AND b.ln = a.ln + 1
       |  WHERE a.fam <> b.fam AND a.fam % $levels <= b.fam % $levels),
       |reach AS (
       |  SELECT src, dst FROM e
       |  UNION
       |  SELECT reach.src, e.dst FROM reach JOIN e ON e.src = reach.dst),
       |nodes AS (SELECT DISTINCT src AS v FROM e
       |          UNION SELECT DISTINCT dst FROM e),
       |mutual AS (
       |  SELECT r1.dst AS v, r1.src AS u
       |  FROM reach r1 JOIN reach r2 ON r1.src = r2.dst AND r1.dst = r2.src),
       |scc AS (
       |  SELECT n.v, LEAST(n.v, COALESCE(MIN(m.u), n.v)) AS scc_id
       |  FROM nodes n LEFT JOIN mutual m ON m.v = n.v
       |  GROUP BY n.v)
       |SELECT scc_id, CAST(COUNT(*) AS BIGINT) AS scc_size,
       |       MIN(v) AS v_min, MAX(v) AS v_max
       |FROM scc GROUP BY scc_id ORDER BY scc_id""".stripMargin

  /** Common-neighbor Jaccard link prediction: top-k NON-adjacent-or-
    * adjacent node pairs ranked by |N(u)∩N(v)| / |N(u)∪N(v)|, held as
    * fixed-point ×10^6 BIGINT (exact integer counts, one integer
    * division — bit-identical cross-engine, the engine-wide ranking
    * discipline). Wedge enumeration through each common neighbor w
    * counts every (u,v,w) once; fanout is Σ deg(w)² — the support-≥2
    * backbone cut is what bounds it (the same densification argument as
    * triangles/assoc_rules), and the minCommon floor prunes the pair
    * stream before the degree joins. Degrees come from one count over
    * the mirrored edge set; both joins are vocabulary-small and
    * AQE-broadcastable. */
  def jaccardPairs(edges: DataFrame, k: Int,
      minCommon: Long = 2L): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
    val deg = e.groupBy(col("src").as("node")).agg(count(lit(1)).as("d"))
    val wedges = e.select(col("src").as("w"), col("dst").as("u"))
      .join(e.select(col("src").as("w"), col("dst").as("v")), Seq("w"))
      .filter(col("u") < col("v"))
    val common = wedges.groupBy(col("u"), col("v"))
      .agg(count(lit(1)).as("n_common"))
      .filter(col("n_common") >= minCommon)
    common
      .join(deg.select(col("node").as("u"), col("d").as("du")), Seq("u"))
      .join(deg.select(col("node").as("v"), col("d").as("dv")), Seq("v"))
      .select(col("u"), col("v"), col("n_common"),
        expr("(n_common * 1000000L) div (du + dv - n_common)").as("jaccard_fp"))
      .orderBy(col("jaccard_fp").desc, col("u"), col("v"))
      .limit(k)
  }

  def jaccardPairsSql(k: Int, minCommon: Long = 2L): String =
    s"""WITH eh AS (
       |  SELECT u, v FROM (
       |    SELECT a.l_partkey AS u, b.l_partkey AS v,
       |           COUNT(DISTINCT a.l_orderkey) AS n
       |    FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
       |    WHERE a.l_partkey < b.l_partkey
       |    GROUP BY a.l_partkey, b.l_partkey)
       |  WHERE n >= 2),
       |e AS (SELECT u AS src, v AS dst FROM eh
       |      UNION ALL SELECT v, u FROM eh),
       |deg AS (SELECT src AS node, COUNT(*) AS d FROM e GROUP BY src),
       |common AS (
       |  SELECT a.dst AS u, b.dst AS v, COUNT(*) AS n_common
       |  FROM e a JOIN e b ON a.src = b.src AND a.dst < b.dst
       |  GROUP BY a.dst, b.dst
       |  HAVING COUNT(*) >= $minCommon)
       |SELECT c.u, c.v, c.n_common,
       |       (c.n_common * 1000000) // (du.d + dv.d - c.n_common) AS jaccard_fp
       |FROM common c
       |JOIN deg du ON du.node = c.u
       |JOIN deg dv ON dv.node = c.v
       |ORDER BY jaccard_fp DESC, c.u, c.v
       |LIMIT $k""".stripMargin

  /** Global 4-cycle (rectangle) census over the backbone. Every
    * rectangle u–a–w–b has two diagonal pairs (u,w) and (a,b); for a
    * diagonal pair with c common neighbors there are C(c,2) rectangles
    * through it, and summing C(c,2) over all unordered pairs counts
    * each rectangle at both diagonals — so n_rectangles = Σ C(c,2)/2
    * (always even, exact BIGINT division). The wedge stream is the
    * SAME Σ deg(w)² enumeration `jaccardPairs` runs (support-≥2
    * backbone bounds it); everything after is one groupBy and one
    * global fold. Rectangle density (vs the wedge count) is the
    * bipartite-community signal triangle counting is blind to. */
  def rectangleCensus(edges: DataFrame): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
    val wedges = e.select(col("src").as("w"), col("dst").as("u"))
      .join(e.select(col("src").as("w"), col("dst").as("v")), Seq("w"))
      .filter(col("u") < col("v"))
    wedges.groupBy(col("u"), col("v"))
      .agg(count(lit(1)).as("c"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(expr("c * (c - 1) div 2")).as("diag_pairs"),
        max(col("c")).as("max_common"))
      .select(col("n_pairs"), col("diag_pairs"),
        expr("diag_pairs div 2").as("n_rectangles"), col("max_common"))
  }

  def rectangleCensusSql(): String =
    s"""WITH eh AS (
       |  SELECT u, v FROM (
       |    SELECT a.l_partkey AS u, b.l_partkey AS v,
       |           COUNT(DISTINCT a.l_orderkey) AS n
       |    FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
       |    WHERE a.l_partkey < b.l_partkey
       |    GROUP BY a.l_partkey, b.l_partkey)
       |  WHERE n >= 2),
       |e AS (SELECT u AS src, v AS dst FROM eh
       |      UNION ALL SELECT v, u FROM eh),
       |common AS (
       |  SELECT a.dst AS u, b.dst AS v, COUNT(*) AS c
       |  FROM e a JOIN e b ON a.src = b.src AND a.dst < b.dst
       |  GROUP BY a.dst, b.dst)
       |SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
       |  CAST(SUM(c * (c - 1) // 2) AS BIGINT) AS diag_pairs,
       |  CAST(SUM(c * (c - 1) // 2) // 2 AS BIGINT) AS n_rectangles,
       |  CAST(MAX(c) AS BIGINT) AS max_common
       |FROM common""".stripMargin

  /** Resource-Allocation link prediction (Zhou, Lü & Zhang 2009 — the
    * strongest of the degree-penalized common-neighbor indices): for
    * NON-adjacent pairs at distance 2, score = Σ_{w ∈ N(u)∩N(v)}
    * 1/deg(w), each term held as the exact integer 10^6 div deg(w) so
    * the sum is order-independent (the engine-wide fixed-point
    * discipline — float 1/deg sums would disagree across partitionings
    * in the last bits and flip ranks). Same wedge enumeration as
    * `jaccardPairs`/`rectangleCensus`; existing edges leave via one
    * anti join against the half-edge set. */
  def linkPredictionRA(edges: DataFrame, k: Int,
      minCommon: Long = 2L): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
    val deg = e.groupBy(col("src").as("w")).agg(count(lit(1)).as("d"))
    val wedges = e.select(col("src").as("w"), col("dst").as("u"))
      .join(e.select(col("src").as("w"), col("dst").as("v")), Seq("w"))
      .filter(col("u") < col("v"))
    val scored = wedges.join(deg, Seq("w"))
      .groupBy(col("u"), col("v"))
      .agg(count(lit(1)).as("n_common"),
        sum(expr("1000000L div d")).as("ra_fp"))
      .filter(col("n_common") >= minCommon)
    scored
      .join(e.filter(col("src") < col("dst"))
          .select(col("src").as("u"), col("dst").as("v")),
        Seq("u", "v"), "left_anti")
      .orderBy(col("ra_fp").desc, col("u"), col("v"))
      .limit(k)
  }

  def linkPredictionRASql(k: Int, minCommon: Long = 2L): String =
    s"""WITH eh AS (
       |  SELECT u, v FROM (
       |    SELECT a.l_partkey AS u, b.l_partkey AS v,
       |           COUNT(DISTINCT a.l_orderkey) AS n
       |    FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
       |    WHERE a.l_partkey < b.l_partkey
       |    GROUP BY a.l_partkey, b.l_partkey)
       |  WHERE n >= 2),
       |e AS (SELECT u AS src, v AS dst FROM eh
       |      UNION ALL SELECT v, u FROM eh),
       |deg AS (SELECT src AS w, COUNT(*) AS d FROM e GROUP BY src),
       |scored AS (
       |  SELECT a.dst AS u, b.dst AS v,
       |    CAST(COUNT(*) AS BIGINT) AS n_common,
       |    CAST(SUM(1000000 // deg.d) AS BIGINT) AS ra_fp
       |  FROM e a JOIN e b ON a.src = b.src AND a.dst < b.dst
       |  JOIN deg ON deg.w = a.src
       |  GROUP BY a.dst, b.dst
       |  HAVING COUNT(*) >= $minCommon)
       |SELECT u, v, n_common, ra_fp FROM scored s
       |WHERE NOT EXISTS (SELECT 1 FROM eh
       |                  WHERE eh.u = s.u AND eh.v = s.v)
       |ORDER BY ra_fp DESC, u, v
       |LIMIT $k""".stripMargin

  /** Top-k nodes by exact 2-hop reach (ego-network size at radius 2,
    * self excluded): the influence readout degree alone overstates for
    * nodes whose neighbors all know each other — reach counts DISTINCT
    * vertices within two hops, so a clustered hub scores low and a
    * bridge scores high. Candidates = direct neighbors ∪ wedge
    * endpoints (the same Σ deg(w)² stream as `jaccardPairs`); one
    * distinct + one count per node; TakeOrdered cut on (reach DESC,
    * node). */
  def reachTwoHop(edges: DataFrame, k: Int): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
    val twoHop = e.select(col("src").as("w"), col("dst").as("u"))
      .join(e.select(col("src").as("w"), col("dst").as("v")), Seq("w"))
      .filter(col("u") =!= col("v"))
      .select(col("u").as("node"), col("v").as("r"))
    val oneHop = e.select(col("src").as("node"), col("dst").as("r"))
    oneHop.unionByName(twoHop).distinct()
      .groupBy(col("node")).agg(count(lit(1)).as("reach2"))
      .orderBy(col("reach2").desc, col("node"))
      .limit(k)
  }

  def reachTwoHopSql(k: Int): String =
    s"""WITH eh AS (
       |  SELECT u, v FROM (
       |    SELECT a.l_partkey AS u, b.l_partkey AS v,
       |           COUNT(DISTINCT a.l_orderkey) AS n
       |    FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
       |    WHERE a.l_partkey < b.l_partkey
       |    GROUP BY a.l_partkey, b.l_partkey)
       |  WHERE n >= 2),
       |e AS (SELECT u AS src, v AS dst FROM eh
       |      UNION ALL SELECT v, u FROM eh),
       |reach AS (
       |  SELECT src AS node, dst AS r FROM e
       |  UNION
       |  SELECT a.dst AS node, b.dst AS r
       |  FROM e a JOIN e b ON a.src = b.src AND a.dst <> b.dst)
       |SELECT node, COUNT(*) AS reach2
       |FROM reach GROUP BY node
       |ORDER BY reach2 DESC, node
       |LIMIT $k""".stripMargin

  /** Log-binned degree distribution: the first profile anyone draws of
    * a graph (is it power-law? where's the hub tail?) — nodes bucketed
    * by floor(log2(degree)) computed EXACTLY as binary-string length
    * minus one (no float log near power-of-two boundaries, where IEEE
    * log2 can land on 2.9999… and flip the bin); per bin: node count
    * and exact degree extremes/mass. One degree aggregate + one
    * |bins|-row aggregate — nothing data-sized after the first reduce. */
  def degreeHistogram(edges: DataFrame): DataFrame = {
    val deg = edges.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("d"))
    deg
      .groupBy((length(bin(col("d"))) - 1).cast("long").as("bin"))
      .agg(count(lit(1)).as("n_nodes"),
        min(col("d")).as("min_deg"), max(col("d")).as("max_deg"),
        sum(col("d")).as("deg_mass"))
      .orderBy(col("bin"))
  }

  def degreeHistogramSql(): String =
    s"""WITH eh AS (
       |  SELECT u, v FROM (
       |    SELECT a.l_partkey AS u, b.l_partkey AS v,
       |           COUNT(DISTINCT a.l_orderkey) AS n
       |    FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
       |    WHERE a.l_partkey < b.l_partkey
       |    GROUP BY a.l_partkey, b.l_partkey)
       |  WHERE n >= 2),
       |e AS (SELECT u AS src, v AS dst FROM eh
       |      UNION ALL SELECT v, u FROM eh),
       |deg AS (SELECT src AS node, COUNT(*) AS d FROM e GROUP BY src)
       |SELECT CAST(length(printf('%b', d)) - 1 AS BIGINT) AS bin,
       |  COUNT(*) AS n_nodes,
       |  CAST(MIN(d) AS BIGINT) AS min_deg,
       |  CAST(MAX(d) AS BIGINT) AS max_deg,
       |  CAST(SUM(d) AS BIGINT) AS deg_mass
       |FROM deg GROUP BY 1
       |ORDER BY bin""".stripMargin

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

  /** Oracle: the peel unrolled to `unroll` stages — stages past the
    * fixpoint are no-ops, so any unroll ≥ the true peel depth states
    * the same fixpoint (depth ≤ 5 across all fixture SFs; 8 leaves
    * slack). Every stage is AS MATERIALIZED: each e_i is referenced
    * twice downstream, so the default CTE inlining would expand the
    * chain to 2^unroll copies of the base scan (observed as file-handle
    * exhaustion at unroll = 8). */
  def kCoreSql(k: Long = 2L, unroll: Int = 8): String = {
    val base =
      """WITH eh AS MATERIALIZED (
        |  SELECT u, v FROM (
        |    SELECT a.l_partkey AS u, b.l_partkey AS v,
        |           COUNT(DISTINCT a.l_orderkey) AS n
        |    FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
        |    WHERE a.l_partkey < b.l_partkey
        |    GROUP BY a.l_partkey, b.l_partkey)
        |  WHERE n >= 2),
        |e0 AS MATERIALIZED (SELECT u AS src, v AS dst FROM eh
        |       UNION ALL SELECT v, u FROM eh)""".stripMargin
    val stages = (1 to unroll).map { i =>
      s"""k$i AS MATERIALIZED (SELECT src AS node FROM e${i - 1}
         |        GROUP BY src HAVING COUNT(*) >= $k),
         |e$i AS MATERIALIZED (SELECT e.src, e.dst FROM e${i - 1} e
         |        JOIN k$i a ON a.node = e.src
         |        JOIN k$i b ON b.node = e.dst)""".stripMargin
    }.mkString(",\n")
    s"""$base,
       |$stages
       |SELECT src AS node, COUNT(*) AS core_degree
       |FROM e$unroll GROUP BY src ORDER BY node""".stripMargin
  }

  /** HITS (Kleinberg 1999) over the directed customer→supplier purchase
    * graph: hubs are customers whose spend concentrates on authoritative
    * suppliers, authorities are suppliers bought by strong hubs. The
    * mutual-reinforcement loop is the PageRank discipline applied to a
    * BIPARTITE directed relation — two half-iterations per round, each a
    * keyed join + partially-aggregated sum.
    *
    * Integer fixed-point with MAX normalization: classic HITS L2-
    * normalizes each vector (a sqrt per iteration — float, order-
    * sensitive, un-hashable). Normalizing by the vector MAX instead
    * preserves the ranking (any positive rescale does), needs only
    * `(raw * Scale) div max` — exact, order-independent, and the
    * max itself is a one-row aggregate over the round's checkpointed
    * vector, folded in as a literal (bounded driver metadata — the
    * BPE-argmax class; the round already blocks at its checkpoint).
    * Normalization happens once per FULL round, not per
    * half-round: the authority half-vector flows into the hub sum
    * UNNORMALIZED, so each round is ONE superstep barrier instead of
    * two (any positive rescale preserves the power iteration's
    * ranking; measured: 8 eager checkpoints → 5). Headroom: h ≤ 10^6,
    * the unnormalized authority sum ≤ d_in·10^6 and the hub sum ≤
    * d_in·d_out·10^6 — inside BIGINT through degree products of
    * ~9×10^6; the rescale MULTIPLY runs in DECIMAL(38,0) ≡ DuckDB
    * HUGEINT (128-bit exact), so raw·Scale never overflows and the
    * top score is exactly Scale.
    *
    * Scale shape per round: the score vector exits its aggregate hash-
    * partitioned on node; the edge relation is checkpointed once and
    * joined twice per round (on c, then on s) — candidates only, no
    * vertex×vertex anything; the normalizing max is a broadcast scalar. */
  val HitsScale: Long = 1000000L

  /** The raw vector is read TWICE (the 1-row max aggregate and the
    * rescale join) and feeds the next round's join — without an eager
    * checkpoint every reuse re-derives the whole upstream iteration
    * chain, doubling the DAG per half-round (observed: 4 rounds =
    * 2^8 plan blowup, 92 s at sf0.1 vs 2.5 s checkpointed). The
    * checkpointed relation is O(side) rows — bounded state, exactly
    * what an iterative engine materializes between supersteps. */
  private def hitsNormalize(raw0: DataFrame): DataFrame = {
    val raw = raw0.localCheckpoint(eager = true)
    // The normalizing max as a DRIVER LITERAL read off the checkpoint
    // (1 row — the BPE-argmax bounded-metadata class), not a broadcast
    // crossJoin: the checkpoint already blocks the driver each round,
    // so the extra action costs one tiny cached-read job, and in
    // exchange the rescale becomes a PURE PROJECTION over the
    // checkpointed LogicalRDD — it reports hash(node) partitioning to
    // the next round's join (a BroadcastNestedLoopJoin in the middle
    // hid it), and the per-round broadcast-exchange job disappears.
    // head() on an empty/all-null vector (e.g. empty edge input) must
    // short-circuit to an empty score frame, not NPE on getLong.
    val mxRow = raw.agg(max(col("raw"))).head()
    if (mxRow.isNullAt(0)) {
      raw.select(col("node"), lit(0L).as("score")).limit(0)
    } else {
      val mx = mxRow.getLong(0)
      raw.select(col("node"), expr(
        s"CAST((CAST(raw AS DECIMAL(38,0)) * $HitsScale) div ${mx}L AS BIGINT)")
        .as("score"))
    }
  }

  /** The iteration fold over the two adjacency-list orientations:
    * `adjC` = (c, [s...]) partitioned on c, `adjS` = (s, [c...])
    * partitioned on s. Each half-round joins the score vector to the
    * matching orientation — the vector exits its aggregate already
    * hash-partitioned on the NEXT half-round's key, so with bucketed
    * adjacencies the joins move nothing and the only exchange per
    * half-round is the partially-aggregated score sum (the
    * `pageRankFromAdjacency` contract on a bipartite graph). */
  def hitsFromAdjacency(adjC: DataFrame, adjS: DataFrame,
      iters: Int): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val h0 = adjC.select(col("c").as("node"), lit(HitsScale).as("score"))
    val (hN, aRawN) = (1 to iters).foldLeft((h0, h0)) { case ((h, _), _) =>
      val aRaw = adjC
        .join(h.hint("shuffle_hash"), col("c") === col("node"))
        .select(explode(col("ss")).as("node2"), col("score"))
        .groupBy(col("node2").as("node")).agg(sum(col("score")).as("raw"))
      // the authority half-vector flows on UNNORMALIZED: one superstep
      // barrier per round instead of two (the normalize checkpoints)
      val hRaw = adjS
        .join(aRaw.withColumnRenamed("raw", "score").hint("shuffle_hash"),
          col("s") === col("node"))
        .select(explode(col("cs")).as("node2"), col("score"))
        .groupBy(col("node2").as("node")).agg(sum(col("score")).as("raw"))
      (hitsNormalize(hRaw), aRaw)
    }
    val aN = hitsNormalize(aRawN) // output surface normalizes once
    val top = (side: DataFrame, role: String) => side
      .orderBy(col("score").desc, col("node")).limit(25)
      .select(lit(role).as("role"), col("node"), col("score"))
    top(aN, "authority").unionByName(top(hN, "hub"))
      .orderBy(col("role"), col("score").desc, col("node"))
  }

  def hits(edges: DataFrame, iters: Int): DataFrame = {
    val p = edges.sparkSession.sessionState.conf.numShufflePartitions
    val e = edges.select(col("c"), col("s")).distinct()
    val adjC = PlanBridge.checkpointHashPartitioned(
      e.groupBy(col("c")).agg(collect_set(col("s")).as("ss")), Seq("c"), p)
    val adjS = PlanBridge.checkpointHashPartitioned(
      e.groupBy(col("s")).agg(collect_set(col("c")).as("cs")), Seq("s"), p)
    hitsFromAdjacency(adjC, adjS, iters)
  }

  /** Build-once bucketed bipartite adjacency for the HITS corpus — the
    * customer→supplier purchase graph as standing state, both
    * orientations bucketed on their own key so every iteration join is
    * exchange-free (the `ensureAdjacency` discipline; session-memoized
    * via the catalog). */
  def ensureHitsAdjacency(spark: SparkSession, dir: String): (String, String) =
    synchronized {
      val buckets = spark.sessionState.conf.numShufflePartitions
      val stem = ("graft_hits_adj_" +
        dir.replaceAll("[^A-Za-z0-9]", "_") + "_b" + buckets).toLowerCase
      val (tc, ts) = (stem + "_c", stem + "_s")
      if (!spark.catalog.tableExists(tc) || !spark.catalog.tableExists(ts)) {
        // pair volume here is |lineitem| (one (c,s) row per line item)
        val bs = Width.pinned(spark, Width.provision(
          Width.rows(spark, dir, "lineitem"), Width.sessionWidth(spark)))
        val e = Tables.orders(bs, dir)
          .select(col("o_orderkey").as("ok"), col("o_custkey").as("c"))
          .join(Tables.lineitem(bs, dir)
            .select(col("l_orderkey").as("ok"), col("l_suppkey").as("s")), Seq("ok"))
          .select(col("c"), col("s")).distinct()
          .localCheckpoint(eager = true)
        for ((t, df, key) <- Seq(
            (tc, e.groupBy(col("c")).agg(collect_set(col("s")).as("ss")), "c"),
            (ts, e.groupBy(col("s")).agg(collect_set(col("c")).as("cs")), "s"))) {
          val loc = new org.apache.hadoop.fs.Path(
            spark.conf.get("spark.sql.warehouse.dir"), t)
          val fs = loc.getFileSystem(spark.sessionState.newHadoopConf())
          if (fs.exists(loc)) fs.delete(loc, true): Unit
          graft.core.Bucketing.writeBucketed(df, t, key, buckets)
        }
      }
      (tc, ts)
    }

  /** Declared surface: 4 rounds over the customer→supplier graph, top
    * 25 authorities + top 25 hubs. */
  def custSupplierHits(orders: DataFrame, lineitem: DataFrame,
      iters: Int = 4): DataFrame =
    hits(
      orders.select(col("o_orderkey").as("ok"), col("o_custkey").as("c"))
        .join(lineitem.select(col("l_orderkey").as("ok"),
          col("l_suppkey").as("s")), Seq("ok"))
        .select(col("c"), col("s")),
      iters)

  /** Declared-query path: the standing-state form. The expensive part
    * of the build (orders⋈lineitem, distinct, both collect_set
    * aggregations) is prebuilt once per corpus; query time scans the
    * two tables into checkpointed relations (a LogicalRDD reports its
    * partitioning to every iteration join — re-scanning the parquet
    * per round re-sorted it instead, measured slower) and runs the
    * rounds. */
  def custSupplierHitsBucketed(spark: SparkSession, dir: String,
      iters: Int = 4): DataFrame = {
    val (tc, ts) = ensureHitsAdjacency(spark, dir)
    // fold width (see coPairVolume): the bipartite edge volume is
    // |distinct (c, s)| ≤ |lineitem|
    val p = Width.spread(Width.rows(spark, dir, "lineitem"),
      Width.sessionWidth(spark))
    val is = Width.pinned(spark, p)
    val adjC = PlanBridge.checkpointHashPartitioned(
      is.table(tc), Seq("c"), p)
    val adjS = PlanBridge.checkpointHashPartitioned(
      is.table(ts), Seq("s"), p)
    hitsFromAdjacency(adjC, adjS, iters)
  }

  def hitsSql(iters: Int = 4): String = {
    val rounds = (1 to iters).map { i =>
      s"""a${i}r AS MATERIALIZED (
         |  SELECT e.s AS node, SUM(h.score) AS raw
         |  FROM e JOIN h${i - 1} h ON h.node = e.c GROUP BY e.s),
         |h${i}r AS MATERIALIZED (
         |  SELECT e.c AS node, SUM(a.raw) AS raw
         |  FROM e JOIN a${i}r a ON a.node = e.s GROUP BY e.c),
         |h$i AS MATERIALIZED (
         |  SELECT node,
         |         CAST((CAST(raw AS HUGEINT) * $HitsScale)
         |           // (SELECT MAX(raw) FROM h${i}r) AS BIGINT) AS score
         |  FROM h${i}r)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS MATERIALIZED (
       |  SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
       |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
       |h0 AS (
       |  SELECT c AS node, CAST($HitsScale AS BIGINT) AS score
       |  FROM (SELECT DISTINCT c FROM e)),
       |$rounds,
       |a$iters AS (
       |  SELECT node,
       |         CAST((CAST(raw AS HUGEINT) * $HitsScale)
       |           // (SELECT MAX(raw) FROM a${iters}r) AS BIGINT) AS score
       |  FROM a${iters}r)
       |SELECT role, node, score FROM (
       |  (SELECT 'authority' AS role, node, score FROM a$iters
       |   ORDER BY score DESC, node LIMIT 25)
       |  UNION ALL
       |  (SELECT 'hub' AS role, node, score FROM h$iters
       |   ORDER BY score DESC, node LIMIT 25))
       |ORDER BY role, score DESC, node""".stripMargin
  }

  /** Personalized PageRank (the random walk that teleports back to a
    * SEED set instead of everywhere — the "similar nodes" primitive
    * behind related-item recommendation and local community scoring).
    * Same integer fixed-point discipline as `pageRank`, with one
    * structural difference that matters at scale: the rank vector is
    * SPARSE. Only seeds hold mass at round 0, and a node enters the
    * relation only when the walk actually reaches it — the iteration
    * state grows like a BFS frontier from the seeds, not like |V|, so
    * a 10-seed query on a 10^9-node graph shuffles thousands of rows,
    * not billions. The teleport term re-enters as a UNION ALL of the
    * seed base rows into the same dst aggregate (one shuffle per
    * round, map-side combined), never a join against a dense vector. */
  /** The iteration fold over a prebuilt adjacency: seeds are pinned as
    * a checkpointed base relation (read every round), ranks stay a
    * sparse frontier. */
  def pprFromAdjacency(adj: DataFrame, seeds: DataFrame,
      iters: Int): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val teleport = Scale * (DampDen - DampNum) / DampDen // exact (1−d)·Scale
    val seedBase = seeds.select(col("node"), lit(teleport).as("val"))
      .localCheckpoint(eager = true)
    val r0 = seedBase.select(col("node"), lit(Scale).as("rank"))
    (1 to iters).foldLeft(r0) { (ranks, _) =>
      adj.join(ranks.hint("shuffle_hash"), col("src") === col("node"))
        .select(explode(col("dsts")).as("node"),
          expr(s"(rank * $DampNum) div ($DampDen * outdeg)").as("val"))
        .unionByName(seedBase)
        .groupBy(col("node"))
        .agg(sum(col("val")).as("rank"))
    }
  }

  def personalizedPageRank(edges: DataFrame, seeds: DataFrame,
      iters: Int): DataFrame = {
    val p = edges.sparkSession.sparkContext.defaultParallelism
    val adj = adjacencyOf(edges)
      .repartition(p, col("src"))
      .localCheckpoint(eager = true)
    pprFromAdjacency(adj, seeds, iters)
  }

  /** Declared surface: PPR over the BUCKETED co-purchase adjacency
    * (the same standing graph state PageRank iterates over — query
    * time pays zero self-joins) from the deterministic seed set
    * {part | partkey % 97 = 0}, 4 rounds, top 50 by rank. */
  def partPprBucketed(spark: SparkSession, dir: String,
      iters: Int = 4, k: Int = 50): DataFrame = {
    // checkpoint the bucketed scan ONCE before the fold (the
    // partPageRankBucketed discipline): every iteration otherwise
    // re-scans the bucketed parquet and re-decodes the array column,
    // where the checkpointed LogicalRDD is read back deserialized and
    // reports its hash(src) partitioning to each round's join.
    // Fold width and pinned session as in partPageRankBucketed.
    val p = Width.spread(coPairVolume(spark, dir), Width.sessionWidth(spark))
    val adj = PlanBridge.checkpointHashPartitioned(
      Width.pinned(spark, p).table(ensureAdjacency(spark, dir)), Seq("src"), p)
    val seeds = adj.select(col("src").as("node"))
      .filter(col("node") % 97 === 0)
    pprFromAdjacency(adj, seeds, iters)
      .select(col("node").as("part"), col("rank"))
      .orderBy(col("rank").desc, col("part"))
      .limit(k)
  }

  def partPprSql(iters: Int = 4, k: Int = 50): String = {
    val teleport = Scale * (DampDen - DampNum) / DampDen
    val iterCtes = (1 to iters).map { i =>
      s"""r$i AS (
         |  SELECT node, CAST(SUM(val) AS BIGINT) AS rank FROM (
         |    SELECT e.dst AS node,
         |           (r.rank * $DampNum) // ($DampDen * d.outdeg) AS val
         |    FROM r${i - 1} r
         |    JOIN deg d ON d.src = r.node
         |    JOIN e ON e.src = r.node
         |    UNION ALL
         |    SELECT node, $teleport AS val FROM seeds)
         |  GROUP BY node)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS MATERIALIZED (
       |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
       |  FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
       |  WHERE a.l_partkey <> b.l_partkey),
       |deg AS (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY src),
       |seeds AS (SELECT DISTINCT src AS node FROM e WHERE src % 97 = 0),
       |r0 AS (SELECT node, CAST($Scale AS BIGINT) AS rank FROM seeds),
       |$iterCtes
       |SELECT node AS part, rank FROM r$iters
       |ORDER BY rank DESC, part
       |LIMIT $k""".stripMargin
  }

  // ------------------------------------------------- weighted PageRank

  /** Mirrored co-purchase edges WITH multiplicity: w = number of
    * distinct orders containing both parts — the first WEIGHTED graph
    * in the family (every other op treats edges as a set). The
    * (order, part) distinct runs first so per-order line-item
    * duplication can't inflate weights; the count shuffle is the
    * build's one exchange and its fanout is quadratic only in order
    * size (bounded by construction, the coPurchaseEdges argument). */
  def weightedCoPurchaseEdges(lineitem: DataFrame): DataFrame = {
    val op = lineitem
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("p"))
      .distinct()
    val half = op.as("a").join(op.as("b"),
        col("a.ok") === col("b.ok") && col("a.p") < col("b.p"))
      .groupBy(col("a.p").as("src"), col("b.p").as("dst"))
      .agg(count(lit(1)).as("w"))
    half.unionByName(half.select(col("dst").as("src"),
      col("src").as("dst"), col("w")))
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

  /** The weighted iteration fold over a prebuilt (src, nbrs, wsum)
    * adjacency — the shape `pageRankFromAdjacency` has for the
    * unweighted op.
    *
    * The per-edge contribution is guarded long math with a DECIMAL
    * fallback: rank·85·w must be exact (the HITS overflow discipline —
    * it can exceed 2^63 at extreme rank×weight), but BigDecimal per
    * edge per iteration was the one non-long hot-path arithmetic left
    * in the fixpoint tier (~0.4 s of the sf0.1 steady wall). Both
    * branches are exact integer arithmetic over the same operands, and
    * `div` floors identically for these positive values, so the CASE
    * is bit-invariant — the guard (rank ≤ ((2^63−1) div 85) div w and
    * 100·wsum within range) simply picks the representation. */
  def pageRankWeightedFromAdjacency(adj: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val base = Scale * (DampDen - DampNum) / DampDen
    val maxL = Long.MaxValue
    val contrib =
      s"""CASE WHEN rank <= (${maxL}L div $DampNum) div nb.w
         |          AND wsum <= ${maxL / DampDen}L
         |     THEN (rank * $DampNum * nb.w) div ($DampDen * wsum)
         |     ELSE CAST((CAST(rank AS DECIMAL(38,0)) * $DampNum * nb.w)
         |          div ($DampDen * wsum) AS BIGINT)
         |END""".stripMargin
    val ranks0 = adj.select(col("src").as("node"), lit(Scale).as("rank"))
    (1 to iters).foldLeft(ranks0) { (ranks, _) =>
      adj
        .join(ranks.hint("shuffle_hash"), col("src") === col("node"))
        .select(explode(col("nbrs")).as("nb"), col("rank"), col("wsum"))
        .select(col("nb.dst").as("dst"), expr(contrib).as("contrib"))
        .groupBy(col("dst"))
        .agg((sum(col("contrib")) + base).as("rank"))
        .select(col("dst").as("node"), col("rank"))
    }
  }

  /** Build-once bucketed WEIGHTED adjacency — same standing-state
    * treatment as `ensureAdjacency`: the weighted edge build (the
    * distinct + count self-join, the query's data-sized work) runs
    * once per corpus; every ranking sweep then pays only the
    * iteration exchanges. */
  def ensureWeightedAdjacency(spark: SparkSession,
      dir: String): String = synchronized {
    val buckets = spark.sessionState.conf.numShufflePartitions
    val table = ("graft_wpr_adj_" +
      dir.replaceAll("[^A-Za-z0-9]", "_") + "_b" + buckets).toLowerCase
    if (!spark.catalog.tableExists(table)) {
      val loc = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"), table)
      val fs = loc.getFileSystem(spark.sessionState.newHadoopConf())
      if (fs.exists(loc)) fs.delete(loc, true): Unit
      val bs = Width.pinned(spark,
        Width.provision(coPairVolume(spark, dir), Width.sessionWidth(spark)))
      val adj = weightedCoPurchaseEdges(Tables.lineitem(bs, dir))
        .groupBy(col("src"))
        .agg(collect_list(struct(col("dst"), col("w"))).as("nbrs"),
          sum(col("w")).as("wsum"))
      graft.core.Bucketing.writeBucketed(adj, table, "src", buckets)
    }
    table
  }

  /** Declared-query path: 5 weighted iterations over the bucketed
    * standing adjacency, the scan checkpointed once before the fold
    * (see [[partPageRankBucketed]]). */
  def partPageRankWeightedBucketed(spark: SparkSession, dir: String,
      iters: Int = 5, k: Int = 100): DataFrame = {
    // fold width and pinned session as in partPageRankBucketed
    val p = Width.spread(coPairVolume(spark, dir), Width.sessionWidth(spark))
    val adj = PlanBridge.checkpointHashPartitioned(
      Width.pinned(spark, p).table(ensureWeightedAdjacency(spark, dir)),
      Seq("src"), p)
    pageRankWeightedFromAdjacency(adj, iters)
      .select(col("node").as("part"), col("rank"))
      .orderBy(col("rank").desc, col("part"))
      .limit(k)
  }

  /** Ad-hoc surface over raw lineitem (spec path; the declared query
    * uses the bucketed standing state). */
  def partPageRankWeighted(lineitem: DataFrame, iters: Int = 5,
      k: Int = 100): DataFrame =
    pageRankWeighted(weightedCoPurchaseEdges(lineitem), iters)
      .select(col("node").as("part"), col("rank"))
      .orderBy(col("rank").desc, col("part"))
      .limit(k)

  def partPageRankWeightedSql(iters: Int = 5, k: Int = 100): String = {
    val base = Scale * (DampDen - DampNum) / DampDen
    val iterCtes = (1 to iters).map { i =>
      s"""r$i AS (
         |  SELECT e.dst AS node,
         |    CAST(SUM((CAST(r.rank AS HUGEINT) * $DampNum * e.w)
         |      // ($DampDen * d.wsum)) + $base AS BIGINT) AS rank
         |  FROM r${i - 1} r
         |  JOIN wsum d ON d.src = r.node
         |  JOIN e ON e.src = r.node
         |  GROUP BY e.dst)""".stripMargin
    }.mkString(",\n")
    s"""WITH op AS (
       |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem),
       |eh AS (
       |  SELECT a.p AS src, b.p AS dst, COUNT(*) AS w
       |  FROM op a JOIN op b ON a.ok = b.ok AND a.p < b.p
       |  GROUP BY 1, 2),
       |e AS (SELECT src, dst, w FROM eh
       |      UNION ALL SELECT dst, src, w FROM eh),
       |wsum AS (SELECT src, SUM(w) AS wsum FROM e GROUP BY src),
       |r0 AS (SELECT src AS node, CAST($Scale AS BIGINT) AS rank FROM wsum),
       |$iterCtes
       |SELECT node AS part, rank FROM r$iters
       |ORDER BY rank DESC, part
       |LIMIT $k""".stripMargin
  }

  /** Weighted synchronous label propagation: each round a node adopts
    * the label with the LARGEST summed incident edge weight (tie →
    * smallest label) — co-purchase multiplicity decides community
    * pull, not bare neighbor count. Weights are exact BIGINTs so the
    * argmax is integer-deterministic like the unweighted op's count
    * argmax; the support cut (w ≥ 2) IS the backbone rule, since w
    * counts distinct co-orders. Same two partially-aggregated
    * exchanges per round as `labelPropagation`. */
  def labelPropagationWeighted(edges: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val spark = edges.sparkSession
    val p = spark.sparkContext.defaultParallelism
    val adj = edges
      .groupBy(col("src"))
      .agg(collect_list(struct(col("dst"), col("w"))).as("nbrs"))
      .repartition(p, col("src"))
      .localCheckpoint(eager = true)
    val labels0 = adj.select(col("src").as("node"), col("src").as("label"))
    (1 to iters).foldLeft(labels0) { (labels, _) =>
      adj.join(labels.hint("shuffle_hash"), col("src") === col("node"))
        .select(explode(col("nbrs")).as("nb"), col("label"))
        .groupBy(col("nb.dst").as("dst"), col("label"))
        .agg(sum(col("nb.w")).as("wsum"))
        .groupBy(col("dst"))
        .agg(min(struct((-col("wsum")).as("neg_w"), col("label").as("label")))
          .as("best"))
        .select(col("dst").as("node"),
          col("best").getField("label").as("label"))
    }
  }

  /** Declared surface: weighted LPA over the support-≥2 weighted
    * backbone, community sizes, top k. */
  def partCommunitiesWeighted(lineitem: DataFrame, iters: Int = 3,
      k: Int = 50): DataFrame =
    labelPropagationWeighted(
      weightedCoPurchaseEdges(lineitem).filter(col("w") >= 2), iters)
      .groupBy(col("label").as("community"))
      .agg(count(lit(1)).as("n_members"))
      .orderBy(col("n_members").desc, col("community"))
      .limit(k)

  /** Declared-query path: the weighted backbone derives from the
    * standing bucketed adjacency by a NARROW explode + w ≥ 2 filter —
    * no per-query edge rebuild (the ensureBackbone story, shared with
    * weighted PageRank's standing state). */
  def partCommunitiesWeightedBucketed(spark: SparkSession, dir: String,
      iters: Int = 3, k: Int = 50): DataFrame = {
    val adj = spark.table(ensureWeightedAdjacency(spark, dir))
    val edges = adj
      .select(col("src"), explode(col("nbrs")).as("nb"))
      .select(col("src"), col("nb.dst").as("dst"), col("nb.w").as("w"))
      .filter(col("w") >= 2)
    labelPropagationWeighted(edges, iters)
      .groupBy(col("label").as("community"))
      .agg(count(lit(1)).as("n_members"))
      .orderBy(col("n_members").desc, col("community"))
      .limit(k)
  }

  def partCommunitiesWeightedSql(iters: Int = 3, k: Int = 50): String = {
    val iterCtes = (1 to iters).map { i =>
      s"""l$i AS (
         |  SELECT node, label FROM (
         |    SELECT e.dst AS node, l.label, SUM(e.w) AS wsum,
         |      ROW_NUMBER() OVER (PARTITION BY e.dst
         |        ORDER BY SUM(e.w) DESC, l.label) AS rn
         |    FROM e JOIN l${i - 1} l ON e.src = l.node
         |    GROUP BY e.dst, l.label)
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH op AS (
       |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem),
       |eh AS (
       |  SELECT a.p AS u, b.p AS v, COUNT(*) AS w
       |  FROM op a JOIN op b ON a.ok = b.ok AND a.p < b.p
       |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
       |e AS (SELECT u AS src, v AS dst, w FROM eh
       |      UNION ALL SELECT v, u, w FROM eh),
       |l0 AS (SELECT DISTINCT src AS node, src AS label FROM e),
       |$iterCtes
       |SELECT label AS community, COUNT(*) AS n_members
       |FROM l$iters GROUP BY label
       |ORDER BY n_members DESC, community LIMIT $k""".stripMargin
  }

  /** Weighted single-source shortest paths, bounded Bellman–Ford —
    * the weighted answer `bfsDistances` can't give: with edge cost
    * `1 + (1000 div w)` (strong co-purchase ties are CHEAP — w ≥ 1000
    * costs ~1, a singleton tie costs 1001, all integer-exact), the
    * cheapest route can take MORE hops than BFS's fewest, and this op
    * finds it. `rounds` synchronous relaxations from the smallest node
    * id: dᵢ = min(dᵢ₋₁, min over edges (dᵢ₋₁(src) + cost)) — the
    * result is exactly min-cost over paths of ≤ `rounds` edges, the
    * same bounded-horizon truncation as every landmark op (true SSSP
    * converges in |V| rounds; the horizon is what scales). Costs and
    * distances are BIGINTs end to end, so each round — and the whole
    * unrolled oracle — is bit-identical at any parallelism.
    *
    * Scale shape: the frontier relation joins the standing bucketed
    * adjacency on src (co-located), one min-groupBy exchange per
    * round, lineage cut by per-round checkpoint — the `bfsDistances`
    * loop with min-cost in place of first-visit. */
  def ssspWeighted(edges: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val c = edges
      .select(col("src"), col("dst"),
        (lit(1L) + expr("1000 div w")).as("cost"))
      .localCheckpoint(eager = true)
    val src0 = c.agg(min(col("src"))).head().getLong(0)
    val d0 = c.sparkSession.range(1)
      .select(lit(src0).as("node"), lit(0L).as("dist"))
    // LAZY per-round checkpoints: the plan is truncated immediately
    // (each round's two consumers — the relax join and the union —
    // share one LogicalRDD, so lineage never doubles), but nothing
    // blocks the driver until the CALLER's action, which materializes
    // all `rounds` relaxations as one job. Eager checkpoints here cost
    // one driver-blocking job per round for state no driver decision
    // ever reads (the fixed-horizon loop has no convergence check —
    // contrast fbFixpoint, whose frontier count IS a driver decision).
    (1 to rounds).foldLeft(d0) { (d, _) =>
      d.unionByName(
          d.join(c, col("node") === col("src"))
            .select(col("dst").as("node"), (col("dist") + col("cost")).as("dist")))
        .groupBy(col("node"))
        .agg(min(col("dist")).as("dist"))
        .localCheckpoint(eager = false)
    }.select(col("node"), col("dist").as("dist_cost"))
      .orderBy(col("node"))
  }

  /** Declared-query path: relax over the standing bucketed weighted
    * adjacency (narrow explode, no edge rebuild). */
  def ssspWeightedBucketed(spark: SparkSession, dir: String,
      rounds: Int = 3): DataFrame = {
    // fold width (see coPairVolume), relaxation planned at p:
    // the per-round min-groupBy otherwise exchanges the O(V) distance
    // relation at the session width — near-empty tasks at bench scale
    val p = Width.spread(coPairVolume(spark, dir), Width.sessionWidth(spark))
    val adj = Width.pinned(spark, p).table(ensureWeightedAdjacency(spark, dir))
    ssspWeighted(adj
      .select(col("src"), explode(col("nbrs")).as("nb"))
      .select(col("src"), col("nb.dst").as("dst"), col("nb.w").as("w")),
      rounds)
  }

  def ssspWeightedSql(rounds: Int = 3): String = {
    val iterCtes = (1 to rounds).map { i =>
      s"""d$i AS (
         |  SELECT node, MIN(dist) AS dist FROM (
         |    SELECT node, dist FROM d${i - 1}
         |    UNION ALL
         |    SELECT c.dst AS node, d.dist + c.cost AS dist
         |    FROM d${i - 1} d JOIN c ON c.src = d.node)
         |  GROUP BY node)""".stripMargin
    }.mkString(",\n")
    s"""WITH op AS (
       |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem),
       |eh AS (
       |  SELECT a.p AS src, b.p AS dst, COUNT(*) AS w
       |  FROM op a JOIN op b ON a.ok = b.ok AND a.p < b.p
       |  GROUP BY 1, 2),
       |e AS (SELECT src, dst, w FROM eh
       |      UNION ALL SELECT dst, src, w FROM eh),
       |c AS (SELECT src, dst, 1 + (1000 // w) AS cost FROM e),
       |d0 AS (SELECT (SELECT MIN(src) FROM c) AS node,
       |              CAST(0 AS BIGINT) AS dist),
       |$iterCtes
       |SELECT node, CAST(dist AS BIGINT) AS dist_cost
       |FROM d$rounds ORDER BY node""".stripMargin
  }

  /** Deterministic random walks — the node2vec/DeepWalk CORPUS
    * GENERATOR as a relational op: from the `nWalks` smallest node ids
    * (the landmark discipline), `steps` steps where the next hop out
    * of v is `nbrs[md5(walk:step:v) % deg(v)]` over the SORTED
    * neighbor list — md5-derived choice, zero RNG state, so the walk
    * corpus is a pure function of the graph (re-running on another
    * engine, partitioning or day emits byte-identical training data —
    * the property every sampling op here guarantees).
    *
    * Scale shape: per step ONE join of the (walks)-sized frontier
    * against the standing bucketed adjacency + a narrow md5 pick;
    * walk state is (walk_id, node) pairs, never paths; the unioned
    * output streams to the sink. */
  def randomWalks(edges: DataFrame, nWalks: Int, steps: Int): DataFrame = {
    require(nWalks >= 1 && steps >= 1, s"need walks/steps >= 1")
    val adj = edges
      .groupBy(col("src"))
      .agg(sort_array(collect_list(col("dst"))).as("nbrs"))
      .localCheckpoint(true)
    // LAZY per-step checkpoints (the ssspWeighted discipline): each
    // step's two consumers — the next hop's join and the output union —
    // share one LogicalRDD, but no driver-blocking job runs per step;
    // the caller's action materializes all `steps` hops as one job.
    // The fixed-horizon loop reads no per-step state on the driver.
    val seeds = adj.select(col("src")).orderBy(col("src")).limit(nWalks)
      .select(col("src").as("walk_id"), lit(0).as("step"),
        col("src").as("node"))
      .localCheckpoint(eager = false)
    var frontier = seeds
    var acc = seeds
    (1 to steps).foreach { t =>
      val idx = (conv(substring(md5(concat_ws(":",
        col("walk_id"), lit(t), col("node"))), 1, 8), 16, 10).cast("long")
        % size(col("nbrs"))).cast("int") + 1
      val next = frontier.join(adj, col("node") === col("src"))
        .select(col("walk_id"), lit(t).as("step"),
          element_at(col("nbrs"), idx).as("node"))
        .localCheckpoint(eager = false)
      acc = acc.unionByName(next)
      frontier = next
    }
    acc.orderBy(col("walk_id"), col("step"))
  }

  def randomWalksBucketed(spark: SparkSession, dir: String,
      nWalks: Int = 8, steps: Int = 6): DataFrame =
    randomWalks(spark.table(ensureBackbone(spark, dir))
      .select(col("src"), col("dst")), nWalks, steps)

  /** Shared oracle CTE chain for the walk family: backbone → sorted
    * adjacency → seed walks → `steps` md5-pick steps → `allw` union. */
  private def walksCtesSql(nWalks: Int, steps: Int): String = {
    val stepCtes = (1 to steps).map { t =>
      s"""w$t AS (
         |  SELECT walk_id, CAST($t AS INT) AS step,
         |    nbrs[CAST(('0x' || substr(md5(CAST(walk_id AS VARCHAR) ||
         |          ':$t:' || CAST(node AS VARCHAR)), 1, 8))::BIGINT
         |        % len(nbrs) AS INT) + 1] AS node
         |  FROM w${t - 1} JOIN adj ON adj.src = w${t - 1}.node)""".stripMargin
    }.mkString(",\n")
    val unions = (0 to steps)
      .map(t => s"SELECT walk_id, step, node FROM w$t")
      .mkString("\n       UNION ALL\n       ")
    s"""WITH eh AS (
       |  SELECT u, v FROM (
       |    SELECT a.l_partkey AS u, b.l_partkey AS v,
       |           COUNT(DISTINCT a.l_orderkey) AS n
       |    FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
       |    WHERE a.l_partkey < b.l_partkey
       |    GROUP BY a.l_partkey, b.l_partkey)
       |  WHERE n >= 2),
       |e AS (SELECT u AS src, v AS dst FROM eh
       |      UNION ALL SELECT v, u FROM eh),
       |adj AS (SELECT src, list_sort(list(dst)) AS nbrs FROM e GROUP BY src),
       |w0 AS (
       |  SELECT src AS walk_id, CAST(0 AS INT) AS step, src AS node
       |  FROM (SELECT src FROM adj ORDER BY src LIMIT $nWalks)),
       |$stepCtes,
       |allw AS (
       |  $unions)""".stripMargin
  }

  def randomWalksSql(nWalks: Int = 8, steps: Int = 6): String =
    s"""${walksCtesSql(nWalks, steps)}
       |SELECT walk_id, step, node FROM allw
       |ORDER BY walk_id, step""".stripMargin

  /** Skip-gram co-occurrence counts over the walk corpus — the
    * word2vec-style training pairs a node-embedding trainer consumes
    * (walks ARE sentences, nodes ARE words): unordered (u, v) pairs
    * within `window` steps on the same walk, exact counts. The
    * per-walk self-join fans out ≤ window rows per position — linear
    * in total walk length, never node². */
  def skipgramPairs(walks: DataFrame, window: Int): DataFrame = {
    // materialize the walk corpus ONCE before the self-join: with the
    // walk generator's lazy per-step checkpoints, the join's two sides
    // would otherwise race to compute (and transiently double-compute)
    // the step RDDs inside one job.
    // API side effect, by design: CONSTRUCTING this plan runs a Spark
    // job (the eager checkpoint) and pins the walk corpus in
    // non-fault-tolerant executor storage for the frame's lifetime —
    // explain/plan-only callers should compose skipgramPairsOver
    // around their own materialization instead
    val w = walks.localCheckpoint(eager = true)
    skipgramPairsOver(w, window)
  }

  private def skipgramPairsOver(walks: DataFrame, window: Int): DataFrame =
    walks.as("a").join(walks.as("b"),
        col("a.walk_id") === col("b.walk_id") &&
          col("b.step") > col("a.step") &&
          col("b.step") <= col("a.step") + window)
      .select(least(col("a.node"), col("b.node")).as("u"),
        greatest(col("a.node"), col("b.node")).as("v"))
      .groupBy(col("u"), col("v"))
      .agg(count(lit(1)).as("n_cooc"))
      .orderBy(col("u"), col("v"))

  def skipgramPairsSql(nWalks: Int = 8, steps: Int = 6,
      window: Int = 2): String =
    s"""${walksCtesSql(nWalks, steps)}
       |SELECT least(a.node, b.node) AS u, greatest(a.node, b.node) AS v,
       |       COUNT(*) AS n_cooc
       |FROM allw a JOIN allw b
       |  ON a.walk_id = b.walk_id AND b.step > a.step
       | AND b.step <= a.step + $window
       |GROUP BY 1, 2 ORDER BY u, v""".stripMargin

  /** node2vec-biased second-order walks (Grover & Leskovec, KDD 2016)
    * — the return parameter p and in-out parameter q as INTEGER class
    * weights over the previous step's neighborhood: a candidate x from
    * cur is weighted 1 if x = prev (return, 1/p with p = 2), 2 if x is
    * adjacent to prev (BFS-ish), 4 otherwise (DFS-ish, 1/q with
    * q = ½) — the classic "explore outward" setting ×2 to stay
    * integral. The md5 draw r = hash(walk:step:cur) mod Σweights picks
    * the candidate whose weight interval covers r on the dst-sorted
    * cumulative line — zero RNG, byte-identical corpus on any engine,
    * exactly like `randomWalks` but distribution-correct for the
    * second-order bias.
    *
    * Scale shape per step: frontier joins the standing adjacency
    * (candidates = Σ deg(cur), linear in walk count × degree), ONE
    * additional equi-join back against the edge relation flags
    * prev-adjacency, and the cumulative pick is a window partitioned
    * BY WALK — bounded by deg(cur), never global. */
  def node2vecWalks(edges: DataFrame, nWalks: Int, steps: Int): DataFrame = {
    require(nWalks >= 1 && steps >= 1, s"need walks/steps >= 1")
    val e = edges.select(col("src"), col("dst")).localCheckpoint(true)
    val pe = e.select(col("src").as("p_src"), col("dst").as("p_dst"))
    // LAZY per-step checkpoints, as in randomWalks/ssspWeighted: the
    // fixed-horizon loop reads nothing per step on the driver, so one
    // caller action materializes every hop instead of one job per hop
    val seeds = e.select(col("src")).distinct()
      .orderBy(col("src")).limit(nWalks)
      .select(col("src").as("walk_id"), lit(0).as("step"),
        col("src").as("node"), lit(null).cast("long").as("prev"))
      .localCheckpoint(eager = false)
    var frontier = seeds
    var acc = seeds.select(col("walk_id"), col("step"), col("node"))
    (1 to steps).foreach { t =>
      val wWalk = Window.partitionBy(col("walk_id"))
      val cand = frontier.join(e, col("node") === col("src"))
        .select(col("walk_id"), col("node").as("cur"), col("prev"),
          col("dst").as("x"))
        .join(pe, col("prev") === col("p_src") && col("x") === col("p_dst"),
          "left")
        .withColumn("wt",
          when(col("x") === col("prev"), 1L)
            .when(col("p_src").isNotNull, 2L)
            .otherwise(4L))
      val next = cand
        .withColumn("cw", sum(col("wt")).over(wWalk.orderBy(col("x"))))
        .withColumn("tw", sum(col("wt")).over(
          wWalk.rowsBetween(Window.unboundedPreceding,
            Window.unboundedFollowing)))
        .withColumn("r", conv(substring(md5(concat_ws(":",
          col("walk_id"), lit(t), col("cur"))), 1, 8), 16, 10)
          .cast("long") % col("tw"))
        .filter(col("cw") - col("wt") <= col("r") && col("r") < col("cw"))
        .select(col("walk_id"), lit(t).as("step"), col("x").as("node"),
          col("cur").as("prev"))
        .localCheckpoint(eager = false)
      acc = acc.unionByName(next.select(col("walk_id"), col("step"),
        col("node")))
      frontier = next
    }
    acc.orderBy(col("walk_id"), col("step"))
  }

  def node2vecWalksBucketed(spark: SparkSession, dir: String,
      nWalks: Int = 8, steps: Int = 5): DataFrame =
    node2vecWalks(spark.table(ensureBackbone(spark, dir))
      .select(col("src"), col("dst")), nWalks, steps)

  def node2vecWalksSql(nWalks: Int = 8, steps: Int = 5): String = {
    val stepCtes = (1 to steps).map { t =>
      s"""c$t AS (
         |  SELECT w.walk_id, w.node AS cur, w.prev, e.dst AS x,
         |    CASE WHEN e.dst = w.prev THEN 1
         |         WHEN EXISTS (SELECT 1 FROM e e2
         |                      WHERE e2.src = w.prev AND e2.dst = e.dst)
         |           THEN 2
         |         ELSE 4 END AS wt
         |  FROM b${t - 1} w JOIN e ON e.src = w.node),
         |g$t AS (
         |  SELECT walk_id, cur, x,
         |    SUM(wt) OVER (PARTITION BY walk_id ORDER BY x) AS cw, wt,
         |    SUM(wt) OVER (PARTITION BY walk_id) AS tw
         |  FROM c$t),
         |b$t AS (
         |  SELECT walk_id, CAST($t AS INT) AS step, x AS node, cur AS prev
         |  FROM g$t
         |  WHERE cw - wt <= ('0x' || substr(md5(CAST(walk_id AS VARCHAR) ||
         |          ':$t:' || CAST(cur AS VARCHAR)), 1, 8))::BIGINT % tw
         |    AND ('0x' || substr(md5(CAST(walk_id AS VARCHAR) ||
         |          ':$t:' || CAST(cur AS VARCHAR)), 1, 8))::BIGINT % tw < cw)""".stripMargin
    }.mkString(",\n")
    val unions = (0 to steps)
      .map(t => s"SELECT walk_id, step, node FROM b$t")
      .mkString("\n       UNION ALL\n       ")
    s"""WITH eh AS (
       |  SELECT u, v FROM (
       |    SELECT a.l_partkey AS u, b.l_partkey AS v,
       |           COUNT(DISTINCT a.l_orderkey) AS n
       |    FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
       |    WHERE a.l_partkey < b.l_partkey
       |    GROUP BY a.l_partkey, b.l_partkey)
       |  WHERE n >= 2),
       |e AS (SELECT u AS src, v AS dst FROM eh
       |      UNION ALL SELECT v, u FROM eh),
       |b0 AS (
       |  SELECT src AS walk_id, CAST(0 AS INT) AS step, src AS node,
       |         CAST(NULL AS BIGINT) AS prev
       |  FROM (SELECT DISTINCT src FROM e ORDER BY src LIMIT $nWalks)),
       |$stepCtes
       |SELECT walk_id, step, node FROM (
       |  $unions)
       |ORDER BY walk_id, step""".stripMargin
  }

  /** Distributed Borůvka MAXIMUM spanning forest over a weighted
    * half-edge relation (u < v, weight w) — the affinity backbone of
    * the co-purchase graph (max forest keeps the STRONGEST tree
    * connecting each component; min-MST is the same loop with the
    * comparator flipped). Not SQL-expressible, so spec-gated: GraphSpec
    * pins a hand forest and a driver-side Kruskal differential.
    *
    * Scale shape (the textbook distributed-MST algorithm): each round,
    * every component picks its best incident cross edge via ONE
    * partial-agg groupBy over the (still-cross) edge relation — struct
    * max with the total order (w, −u, −v), so ties break to the
    * smallest (u, v) and the forest is unique without requiring unique
    * weights. Picked edges contract via the shared connected-components
    * machinery (`ext.Corpus.connectedComponents`: size-guarded driver
    * union-find with distributed hash-min fallback — pick-pair count is
    * ≤ #components, shrinking geometrically). Component count at least
    * halves per round → ≤ log₂|V| rounds; the edge relation SHRINKS
    * in-place each round (intra-component edges leave the join), and
    * every round's state is eagerly localCheckpoint'ed (the BFS/PageRank
    * lineage discipline). No driver collect anywhere: the driver holds
    * only the loop counter and the empty-check. */
  def maxSpanningForest(halfEdges: DataFrame, maxRounds: Int = 16): DataFrame = {
    val spark = halfEdges.sparkSession
    var edges = halfEdges.select(col("u"), col("v"), col("w"))
      .localCheckpoint(true)
    // vertex → component map; starts as the identity over the vertex set
    var comp = edges
      .select(explode(array(col("u"), col("v"))).as("id")).distinct()
      .withColumn("comp", col("id"))
      .localCheckpoint(true)
    var forest: DataFrame = null
    var round = 0
    var done = false
    while (round < maxRounds && !done) {
      round += 1
      val cu = comp.select(col("id").as("u"), col("comp").as("cu"))
      val cv = comp.select(col("id").as("v"), col("comp").as("cv"))
      val cross = edges.join(cu, Seq("u")).join(cv, Seq("v"))
        .filter(col("cu") =!= col("cv"))
        .localCheckpoint(true)
      if (cross.isEmpty) done = true
      else {
        // per-component best incident edge: lexicographic struct max on
        // (w, −u, −v) — deterministic under weight ties
        val cand = struct(col("w"), (-col("u")).as("nu"), (-col("v")).as("nv"),
          col("u"), col("v"), col("cu"), col("cv")).as("cand")
        val inc = cross.select(col("cu").as("c"), cand)
          .unionByName(cross.select(col("cv").as("c"), cand))
        val best = inc.groupBy(col("c")).agg(max(col("cand")).as("m"))
          .select(col("m.u").as("u"), col("m.v").as("v"),
            col("m.w").as("w"), col("m.cu").as("cu"), col("m.cv").as("cv"))
          .distinct() // both endpoints picking the same edge collapse
          .withColumn("round", lit(round.toLong))
          .localCheckpoint(true)
        forest =
          if (forest == null) best.select(col("u"), col("v"), col("w"), col("round"))
          else forest.unionByName(
            best.select(col("u"), col("v"), col("w"), col("round")))
            .localCheckpoint(true)
        // contract: CC over the picked component pairs relabels merged
        // components to their minimum id; untouched components keep theirs
        val merged = graft.ext.Corpus.connectedComponents(
          best.select(col("cu").as("doc_a"), col("cv").as("doc_b")))
          .select(col("id").as("comp"), col("component").as("newc"))
        comp = comp.join(merged, Seq("comp"), "left")
          .select(col("id"), coalesce(col("newc"), col("comp")).as("comp"))
          .localCheckpoint(true)
        // shrink: drop now-intra-component edges for every later round
        edges = cross.select(col("u"), col("v"), col("w"))
      }
    }
    if (forest == null)
      spark.emptyDataFrame
        .select(lit(0L).as("u"), lit(0L).as("v"), lit(0L).as("w"),
          lit(0L).as("round")).limit(0)
    else forest.orderBy(col("u"), col("v"))
  }

  /** The declared co-purchase backbone: maximum spanning forest over
    * the (u < v, shared-order count) weighted pair relation. */
  def coPurchaseBackbone(lineitem: DataFrame): DataFrame = {
    val a = lineitem.select(col("l_orderkey").as("ok"), col("l_partkey").as("u"))
    val b = lineitem.select(col("l_orderkey").as("ok"), col("l_partkey").as("v"))
    val weighted = a.join(b, Seq("ok"))
      .filter(col("u") < col("v"))
      .groupBy(col("u"), col("v"))
      .agg(count(lit(1)).as("w"))
    maxSpanningForest(weighted)
  }

  /** Full core decomposition: every node's core NUMBER (the largest k
    * whose k-core still contains it) — G13's fixed-k peel promoted to
    * the full hierarchy, the standard "how deep in the dense part"
    * coordinate under community seeding and influence ranking. Runs
    * the G13 peel at k = 1, 2, … until the graph empties: nodes that
    * vanish during the k-peel carry core number k−1. Each level is the
    * proven semi-join peel loop (degree filter + two semi-joins per
    * round, checkpointed); levels are bounded by the max core (tiny on
    * sparse graphs), rounds within a level by the peel depth. Not
    * SQL-expressible (nested loops) — spec-gated against a driver
    * reference peeling on the sf0.001 backbone plus a planted
    * clique-with-tail. */
  def coreDecomposition(edges: DataFrame, maxK: Int = 64): DataFrame = {
    val spark = edges.sparkSession
    var e = edges.select(col("src"), col("dst")).localCheckpoint(true)
    var result: DataFrame = null
    var k = 1L
    var done = e.isEmpty
    while (!done && k <= maxK) {
      // peel to the k-core
      var stable = false
      while (!stable) {
        val keep = e.groupBy(col("src").as("node"))
          .agg(count(lit(1)).as("d"))
          .filter(col("d") >= k)
          .select(col("node"))
        val ne = e
          .join(keep.select(col("node").as("src")), Seq("src"), "left_semi")
          .join(keep.select(col("node").as("dst")), Seq("dst"), "left_semi")
          .select(col("src"), col("dst"))
          .localCheckpoint(true)
        stable = ne.count() == e.count()
        e = ne
      }
      val survivors = e.select(col("src").as("node")).distinct()
        .withColumn("core", lit(k))
        .localCheckpoint(true)
      // survivors of the k-peel have core ≥ k; overwrite each level
      result =
        if (result == null) survivors
        else result.join(survivors.select(col("node")), Seq("node"),
            "left_anti")
          .unionByName(survivors)
          .localCheckpoint(true)
      done = e.isEmpty
      k += 1
    }
    if (result == null)
      spark.emptyDataFrame
        .select(lit(0L).as("node"), lit(0L).as("core")).limit(0)
    else result.orderBy(col("node"))
  }

  /** Rich-club coefficient ladder: among nodes of degree > k, what
    * fraction of possible edges exists — φ(k) = 2·E_k/(N_k·(N_k−1)) in
    * exact ppm, for k ∈ {1, 2, 4, 8}. The "do the hubs talk to each
    * other" readout (assortativity's G8 sibling reads the correlation;
    * this reads the subgraph density). One degree reduce, then per
    * level two broadcast-friendly semi-joins of the half-edge relation
    * against the >k node set — never a node×node product; N_k < 2
    * surfaces NULL. */
  def richClub(lineitem: DataFrame, ks: Seq[Long] = Seq(1L, 2L, 4L, 8L)): DataFrame = {
    val half = backboneEdges(lineitem, 2L)
      .select(col("src").as("u"), col("dst").as("v"))
      .localCheckpoint(true)
    val deg = half.select(col("u").as("id"))
      .unionByName(half.select(col("v").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("deg"))
      .localCheckpoint(true)
    richClubLadder(half, deg, ks)
  }

  /** The declared surface's form: the same ladder fed from the
    * STANDING mirrored backbone (`ensureBackbone`) like every other
    * backbone consumer — the in-query lineitem self-join (the whole
    * basket-pair enumeration, ~16 MB of shuffle at sf0.1) moves to the
    * build-once table; the half relation is the src<dst filter of the
    * mirrored edges and degrees are the src-side reduce over the
    * BUCKETED layout (co-located, no exchange). */
  def richClubFromMirrored(mirrored: DataFrame,
      ks: Seq[Long] = Seq(1L, 2L, 4L, 8L)): DataFrame = {
    val half = mirrored.filter(col("src") < col("dst"))
      .select(col("src").as("u"), col("dst").as("v"))
    val deg = mirrored.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .select(col("src").as("id"), col("deg"))
      .localCheckpoint(true)
    richClubLadder(half, deg, ks)
  }

  private def richClubLadder(half: DataFrame, deg: DataFrame,
      ks: Seq[Long]): DataFrame = {
    ks.map { k =>
      val rich = deg.filter(col("deg") > k).select(col("id"))
      val nk = rich.agg(count(lit(1)).as("n_k"))
      val ek = half
        .join(rich.select(col("id").as("u")), Seq("u"), "left_semi")
        .join(rich.select(col("id").as("v")), Seq("v"), "left_semi")
        .agg(count(lit(1)).as("e_k"))
      nk.crossJoin(ek)
        .select(lit(k).as("k"), col("n_k"), col("e_k"),
          expr("CASE WHEN n_k >= 2 THEN e_k * 2000000L div (n_k * (n_k - 1)) END")
            .as("phi_ppm"))
    }.reduce(_ unionByName _)
      .orderBy(col("k"))
  }

  def richClubSql(ks: Seq[Long] = Seq(1L, 2L, 4L, 8L)): String = {
    val arms = ks.map { k =>
      s"""SELECT $k AS k,
         |  (SELECT COUNT(*) FROM deg WHERE deg > $k) AS n_k,
         |  (SELECT COUNT(*) FROM eh
         |   WHERE u IN (SELECT id FROM deg WHERE deg > $k)
         |     AND v IN (SELECT id FROM deg WHERE deg > $k)) AS e_k""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH eh AS MATERIALIZED (
       |  SELECT u, v FROM (
       |    SELECT a.l_partkey AS u, b.l_partkey AS v,
       |           COUNT(DISTINCT a.l_orderkey) AS n
       |    FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
       |    WHERE a.l_partkey < b.l_partkey
       |    GROUP BY a.l_partkey, b.l_partkey)
       |  WHERE n >= 2),
       |deg AS MATERIALIZED (
       |  SELECT id, COUNT(*) AS deg FROM (
       |    SELECT u AS id FROM eh UNION ALL SELECT v FROM eh)
       |  GROUP BY id),
       |arms AS ($arms)
       |SELECT k, CAST(n_k AS BIGINT) AS n_k, CAST(e_k AS BIGINT) AS e_k,
       |  CASE WHEN n_k >= 2
       |       THEN e_k * 2000000 // (n_k * (n_k - 1)) END AS phi_ppm
       |FROM arms ORDER BY k""".stripMargin
  }

  def queries: Seq[(String, QueryDef)] = Seq(
    "graph_richclub" -> QueryDef(
      (s, d) => richClubFromMirrored(s.table(ensureBackbone(s, d))),
      richClubSql()),
    "graph_walks" -> QueryDef(
      (s, d) => randomWalksBucketed(s, d),
      randomWalksSql()),
    "graph_walks_biased" -> QueryDef(
      (s, d) => node2vecWalksBucketed(s, d),
      node2vecWalksSql()),
    "graph_skipgram" -> QueryDef(
      (s, d) => skipgramPairs(randomWalksBucketed(s, d), window = 2),
      skipgramPairsSql()),
    "graph_sssp" -> QueryDef(
      (s, d) => ssspWeightedBucketed(s, d),
      ssspWeightedSql()),
    "graph_communities_weighted" -> QueryDef(
      (s, d) => partCommunitiesWeightedBucketed(s, d),
      partCommunitiesWeightedSql()),
    "graph_pagerank_weighted" -> QueryDef(
      (s, d) => partPageRankWeightedBucketed(s, d),
      partPageRankWeightedSql()),
    "graph_hits" -> QueryDef(
      (s, d) => custSupplierHitsBucketed(s, d),
      hitsSql()),
    "graph_ppr" -> QueryDef(
      (s, d) => partPprBucketed(s, d),
      partPprSql()),
    "graph_pagerank" -> QueryDef(
      (s, d) => partPageRankBucketed(s, d),
      partPageRankSql()),
    "graph_triangles" -> QueryDef(
      (s, d) => triangleCounts(s.table(ensureBackbone(s, d)), 50),
      triangleCountsSql(50)),
    "graph_communities" -> QueryDef(
      (s, d) => communitiesFromEdges(s.table(ensureBackbone(s, d))),
      partCommunitiesSql()),
    "graph_bfs" -> QueryDef(
      (s, d) => bfsDistances(s.table(ensureBackbone(s, d)), 4),
      bfsDistancesSql(4)),
    "graph_cc" -> QueryDef(
      (s, d) => componentSizes(s.table(ensureBackbone(s, d))),
      componentSizesSql()),
    "graph_scc" -> QueryDef(
      (s, d) => stronglyConnectedComponents(
        successionEdges(Tables.lineitem(s, d))),
      sccSql()),
    "graph_jaccard" -> QueryDef(
      (s, d) => jaccardPairs(s.table(ensureBackbone(s, d)), 50),
      jaccardPairsSql(50)),
    "graph_rectangles" -> QueryDef(
      (s, d) => rectangleCensus(s.table(ensureBackbone(s, d))),
      rectangleCensusSql()),
    "graph_degrees" -> QueryDef(
      (s, d) => degreeHistogram(s.table(ensureBackbone(s, d))),
      degreeHistogramSql()),
    "graph_reach2" -> QueryDef(
      (s, d) => reachTwoHop(s.table(ensureBackbone(s, d)), 50),
      reachTwoHopSql(50)),
    "graph_link_predict" -> QueryDef(
      (s, d) => linkPredictionRA(s.table(ensureBackbone(s, d)), 50),
      linkPredictionRASql(50)),
    "graph_kcore" -> QueryDef(
      (s, d) => kCore(s.table(ensureBackbone(s, d))),
      kCoreSql()),
    "graph_landmark_closeness" -> QueryDef(
      (s, d) => landmarkCloseness(s.table(ensureBackbone(s, d)),
        nLandmarks = 8, maxDepth = 4),
      landmarkClosenessSql(8, 4)),
    "graph_betweenness" -> QueryDef(
      (s, d) => landmarkBetweenness(s.table(ensureBackbone(s, d)),
        nLandmarks = 4, maxDepth = 3),
      landmarkBetweennessSql(4)),
    "graph_clustering_coeff" -> QueryDef(
      (s, d) => clusteringCoefficients(s.table(ensureBackbone(s, d))),
      clusteringCoefficientsSql),
    "graph_eccentricity" -> QueryDef(
      (s, d) => landmarkEccentricity(s.table(ensureBackbone(s, d)),
        nLandmarks = 8, maxDepth = 4),
      landmarkEccentricitySql(8, 4)),
    "graph_modularity" -> QueryDef(
      (s, d) => modularity(s.table(ensureBackbone(s, d))),
      modularitySql()),
    "graph_conductance" -> QueryDef(
      (s, d) => conductance(s.table(ensureBackbone(s, d))),
      conductanceSql()),
    "graph_assortativity" -> QueryDef(
      (s, d) => assortativity(s.table(ensureBackbone(s, d))),
      assortativitySql()))

  /** Degree assortativity (Newman 2002): the Pearson correlation of
    * endpoint degrees over the mirrored edge relation — do hubs attach
    * to hubs? Degrees are one partial agg; each edge then carries the
    * (deg(src), deg(dst)) pair through two keyed joins, and the five
    * correlation moments are EXACT BIGINT sums (degrees ≤ ~1e3 on any
    * realistic support-cut backbone keep Σxy·\|E\| far inside Long) —
    * the `agg_corr_exact` moment discipline on the graph axis, one
    * IEEE sqrt/divide at the surface, bit-identical cross-engine. */
  def assortativity(edges: DataFrame): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
    val deg = e.groupBy(col("src").as("node")).agg(count(lit(1)).as("d"))
    val pairs = e
      .join(deg.select(col("node").as("src"), col("d").as("dx")), Seq("src"))
      .join(deg.select(col("node").as("dst"), col("d").as("dy")), Seq("dst"))
    pairs.agg(count(lit(1)).as("m2"),
        sum(col("dx")).as("sx"), sum(col("dy")).as("sy"),
        sum(col("dx") * col("dx")).as("sxx"),
        sum(col("dy") * col("dy")).as("syy"),
        sum(col("dx") * col("dy")).as("sxy"))
      .select(col("m2"),
        ((col("m2") * col("sxy") - col("sx") * col("sy")).cast("double") /
          (sqrt((col("m2") * col("sxx") - col("sx") * col("sx")).cast("double")) *
            sqrt((col("m2") * col("syy") - col("sy") * col("sy")).cast("double"))))
          .as("assortativity"))
      .orderBy(col("m2"))
  }

  def assortativitySql(): String =
    """WITH eh AS (
      |  SELECT u, v FROM (
      |    SELECT a.l_partkey AS u, b.l_partkey AS v,
      |           COUNT(DISTINCT a.l_orderkey) AS n
      |    FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
      |    WHERE a.l_partkey < b.l_partkey
      |    GROUP BY a.l_partkey, b.l_partkey)
      |  WHERE n >= 2),
      |e AS (SELECT u AS src, v AS dst FROM eh
      |      UNION ALL SELECT v, u FROM eh),
      |deg AS (SELECT src AS node, COUNT(*) AS d FROM e GROUP BY src),
      |p AS (
      |  SELECT dx.d AS dx, dy.d AS dy FROM e
      |  JOIN deg dx ON dx.node = e.src JOIN deg dy ON dy.node = e.dst),
      |m AS (
      |  SELECT COUNT(*) AS m2,
      |    CAST(SUM(dx) AS BIGINT) AS sx, CAST(SUM(dy) AS BIGINT) AS sy,
      |    CAST(SUM(dx * dx) AS BIGINT) AS sxx,
      |    CAST(SUM(dy * dy) AS BIGINT) AS syy,
      |    CAST(SUM(dx * dy) AS BIGINT) AS sxy
      |  FROM p)
      |SELECT m2,
      |  CAST(m2 * sxy - sx * sy AS DOUBLE) /
      |    (sqrt(CAST(m2 * sxx - sx * sx AS DOUBLE)) *
      |     sqrt(CAST(m2 * syy - sy * sy AS DOUBLE))) AS assortativity
      |FROM m ORDER BY m2""".stripMargin

  /** Newman modularity of the label-propagation partition — the
    * clustering-quality metric next to the clustering it scores (the
    * `simsearch_recall` eval-harness theme on the graph axis). With the
    * MIRRORED edge relation (M rows = 2m), Q = Σ_c(M·E_c − D_c²) / M²
    * for intra-mirrored-count E_c and degree-mass D_c — numerator and
    * denominator exact BIGINTs, ONE exactly-rounded IEEE division at
    * the surface. Three keyed partial aggs (intra counts, degrees,
    * label join) + a 1-row total; never node×node. */
  def modularity(edges: DataFrame, iters: Int = 3): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
    // materialize the 3-round LPA chain ONCE: three downstream
    // consumers (two label joins + the degree-mass join) each re-plan
    // the full iteration tree otherwise — stage reuse dedupes the
    // exchanges but every consumer still re-executes the final argmax
    // aggregate, and the plan is 4× the size it needs to be
    val lab = labelPropagation(e, iters).localCheckpoint(true)
    val withLabels = e
      .join(lab.select(col("node").as("src"), col("label").as("la")), Seq("src"))
      .join(lab.select(col("node").as("dst"), col("label").as("lb")), Seq("dst"))
    val intra = withLabels.filter(col("la") === col("lb"))
      .groupBy(col("la").as("community")).agg(count(lit(1)).as("ec2"))
    val deg = e.groupBy(col("src").as("node")).agg(count(lit(1)).as("d"))
    val dc = deg.join(lab, Seq("node"))
      .groupBy(col("label").as("community")).agg(sum(col("d")).as("dc"))
    val tot = e.agg(count(lit(1)).as("m2"))
    dc.join(intra, Seq("community"), "left")
      .select(col("community"), coalesce(col("ec2"), lit(0L)).as("ec2"),
        col("dc"))
      .crossJoin(broadcast(tot)) // 1-row total
      .agg(count(lit(1)).as("n_communities"), max(col("m2")).as("m2"),
        sum(col("m2") * col("ec2") - col("dc") * col("dc")).as("q_num"))
      .select(col("n_communities"), col("m2"), col("q_num"),
        (col("q_num").cast("double") /
          (col("m2") * col("m2")).cast("double")).as("q"))
      .orderBy(col("n_communities"))
  }

  def modularitySql(iters: Int = 3): String = {
    val iterCtes = (1 to iters).map { i =>
      s"""l$i AS (
         |  SELECT node, label FROM (
         |    SELECT e.dst AS node, l.label, COUNT(*) AS n,
         |      ROW_NUMBER() OVER (PARTITION BY e.dst
         |        ORDER BY COUNT(*) DESC, l.label) AS rn
         |    FROM e JOIN l${i - 1} l ON e.src = l.node
         |    GROUP BY e.dst, l.label)
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH eh AS (
       |  SELECT u, v FROM (
       |    SELECT a.l_partkey AS u, b.l_partkey AS v,
       |           COUNT(DISTINCT a.l_orderkey) AS n
       |    FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
       |    WHERE a.l_partkey < b.l_partkey
       |    GROUP BY a.l_partkey, b.l_partkey)
       |  WHERE n >= 2),
       |e AS (SELECT u AS src, v AS dst FROM eh
       |      UNION ALL SELECT v, u FROM eh),
       |l0 AS (SELECT DISTINCT src AS node, src AS label FROM e),
       |$iterCtes,
       |lab AS (SELECT node, label FROM l$iters),
       |wl AS (
       |  SELECT a.label AS la, b.label AS lb FROM e
       |  JOIN lab a ON a.node = e.src JOIN lab b ON b.node = e.dst),
       |m2 AS (SELECT COUNT(*) AS m2 FROM e),
       |intra AS (SELECT la AS community, COUNT(*) AS ec2 FROM wl
       |          WHERE la = lb GROUP BY la),
       |deg AS (SELECT src AS node, COUNT(*) AS d FROM e GROUP BY src),
       |dc AS (SELECT l.label AS community, SUM(d.d) AS dc
       |       FROM deg d JOIN lab l ON l.node = d.node GROUP BY l.label)
       |SELECT CAST(COUNT(*) AS BIGINT) AS n_communities,
       |  CAST(MAX(m2.m2) AS BIGINT) AS m2,
       |  CAST(SUM(m2.m2 * COALESCE(i.ec2, 0) - dc.dc * dc.dc) AS BIGINT) AS q_num,
       |  CAST(SUM(m2.m2 * COALESCE(i.ec2, 0) - dc.dc * dc.dc) AS DOUBLE) /
       |    CAST(MAX(m2.m2) * MAX(m2.m2) AS DOUBLE) AS q
       |FROM dc LEFT JOIN intra i ON i.community = dc.community
       |CROSS JOIN m2
       |ORDER BY n_communities""".stripMargin
  }

  /** Per-community conductance — the CUT-quality readout modularity's
    * single global number hides: for each LPA community S,
    * φ(S) = cut(S) / min(vol(S), vol(V∖S)) with vol = summed degree
    * and cut = vol − intra-edge endpoints, all exact BIGINTs on the
    * mirrored backbone, surfaced as floor basis points via integer
    * `div` (vol ≥ 1 per non-empty community, min > 0 whenever both
    * sides are non-empty; a whole-graph community surfaces NULL — no
    * outside to leak to). The per-community triple (members, cut,
    * φ_bp) is what a partitioner or sampler actually inspects before
    * trusting a community. Same chain as `graph_modularity`: LPA
    * labels + two label joins over the edge relation + one degree
    * aggregate — nothing new touches the corpus. */
  def conductance(edges: DataFrame, iters: Int = 3,
      k: Int = 30): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
    // same one-materialization discipline as `modularity`: FOUR
    // consumers (sizes, the two intra label joins, degree mass) would
    // otherwise each carry the whole LPA iteration subtree
    val lab = labelPropagation(e, iters).localCheckpoint(true)
    val sizes = lab.groupBy(col("label").as("community"))
      .agg(count(lit(1)).as("n_members"))
    val intra = e
      .join(lab.select(col("node").as("src"), col("label").as("la")),
        Seq("src"))
      .join(lab.select(col("node").as("dst"), col("label").as("lb")),
        Seq("dst"))
      .filter(col("la") === col("lb"))
      .groupBy(col("la").as("community")).agg(count(lit(1)).as("ec2"))
    val dc = e.groupBy(col("src").as("node")).agg(count(lit(1)).as("d"))
      .join(lab, Seq("node"))
      .groupBy(col("label").as("community")).agg(sum(col("d")).as("dc"))
    val tot = e.agg(count(lit(1)).as("m2"))
    sizes.join(dc, Seq("community"))
      .join(intra, Seq("community"), "left")
      .crossJoin(broadcast(tot))
      .select(col("community"), col("n_members"),
        (col("dc") - coalesce(col("ec2"), lit(0L))).as("cut"),
        expr("""CASE WHEN least(dc, m2 - dc) > 0
          |THEN ((dc - coalesce(ec2, 0L)) * 10000)
          |     div least(dc, m2 - dc) END""".stripMargin)
          .as("conductance_bp"))
      .orderBy(col("n_members").desc, col("community"))
      .limit(k)
  }

  def conductanceSql(iters: Int = 3, k: Int = 30): String = {
    val iterCtes = (1 to iters).map { i =>
      s"""l$i AS (
         |  SELECT node, label FROM (
         |    SELECT e.dst AS node, l.label, COUNT(*) AS n,
         |      ROW_NUMBER() OVER (PARTITION BY e.dst
         |        ORDER BY COUNT(*) DESC, l.label) AS rn
         |    FROM e JOIN l${i - 1} l ON e.src = l.node
         |    GROUP BY e.dst, l.label)
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH eh AS (
       |  SELECT u, v FROM (
       |    SELECT a.l_partkey AS u, b.l_partkey AS v,
       |           COUNT(DISTINCT a.l_orderkey) AS n
       |    FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
       |    WHERE a.l_partkey < b.l_partkey
       |    GROUP BY a.l_partkey, b.l_partkey)
       |  WHERE n >= 2),
       |e AS (SELECT u AS src, v AS dst FROM eh
       |      UNION ALL SELECT v, u FROM eh),
       |l0 AS (SELECT DISTINCT src AS node, src AS label FROM e),
       |$iterCtes,
       |lab AS (SELECT node, label FROM l$iters),
       |sizes AS (SELECT label AS community, COUNT(*) AS n_members
       |          FROM lab GROUP BY label),
       |intra AS (
       |  SELECT a.label AS community, COUNT(*) AS ec2 FROM e
       |  JOIN lab a ON a.node = e.src JOIN lab b ON b.node = e.dst
       |  WHERE a.label = b.label GROUP BY a.label),
       |dc AS (
       |  SELECT l.label AS community, SUM(d.d) AS dc FROM (
       |    SELECT src AS node, COUNT(*) AS d FROM e GROUP BY src) d
       |  JOIN lab l ON l.node = d.node GROUP BY l.label),
       |m2 AS (SELECT COUNT(*) AS m2 FROM e)
       |SELECT s.community, s.n_members,
       |  CAST(dc.dc - COALESCE(i.ec2, 0) AS BIGINT) AS cut,
       |  CAST(CASE WHEN least(dc.dc, m2.m2 - dc.dc) > 0
       |       THEN ((dc.dc - COALESCE(i.ec2, 0)) * 10000)
       |            // least(dc.dc, m2.m2 - dc.dc) END AS BIGINT)
       |    AS conductance_bp
       |FROM sizes s JOIN dc ON dc.community = s.community
       |LEFT JOIN intra i ON i.community = s.community
       |CROSS JOIN m2
       |ORDER BY s.n_members DESC, s.community LIMIT $k""".stripMargin
  }

  /** Support-filtered co-purchase backbone: only pairs co-purchased in
    * ≥ minSupport orders. Triangle counting is cubic-ish in density and
    * the raw co-purchase graph densifies as orders/catalog grows (every
    * 1-off co-occurrence is an edge); the backbone is the standard
    * noise cut (same idea as assoc_rules' minSupport) and keeps the
    * wedge stream proportional to REAL structure.
    *
    * Pair enumeration is IN-ROW: orders reduce to their sorted distinct
    * item set (one combine-collapsed shuffle, array bounded by order
    * size) and the src<dst combinations explode from each set as a
    * narrow map — measured ~25% faster than the equivalent self-join,
    * which materializes every pair through a hash-probe first. */
  def backboneEdges(lineitem: DataFrame, minSupport: Long): DataFrame =
    lineitem
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("p"))
      .groupBy(col("ok"))
      .agg(sort_array(collect_set(col("p"))).as("ps"))
      .select(explode(expr(
        """flatten(transform(ps, (x, i) ->
          |  transform(slice(ps, i + 2, size(ps) - i - 1),
          |    y -> struct(x as src, y as dst))))""".stripMargin)).as("e"))
      .select(col("e.src"), col("e.dst"))
      .groupBy(col("src"), col("dst"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") >= minSupport)
      .select(col("src"), col("dst"))

  /** Deterministic Luby-style maximal independent set over a HALF-edge
    * relation (src < dst): the conflict-free scheduling primitive
    * (which vertices can run/update/serve simultaneously). Not
    * SQL-expressible (the round recurrence), so spec-gated on its two
    * defining properties — independence and maximality — plus
    * partitioning-invariance.
    *
    * Luby's algorithm with the RANDOM priorities replaced by
    * md5(node) — uniform, engine-reproducible, zero RNG state (the
    * corpus_split derivation): each round, an undecided vertex enters
    * the MIS iff its (priority, id) is strictly smaller than every
    * undecided neighbor's; winners' neighbors become covered; both
    * leave the frontier, the edge relation shrinks to
    * undecided×undecided, and the expected frontier halves per round
    * (Luby's bound holds for any uniform priority draw). Each round is
    * one groupBy over the live edge relation + two broadcast-friendly
    * semi/anti joins; state is eagerly localCheckpoint'ed (the BFS
    * discipline); no driver collects. */
  def maximalIndependentSet(halfEdges: DataFrame, maxRounds: Int = 24): DataFrame = {
    val prio = (n: org.apache.spark.sql.Column) =>
      substring(md5(concat(lit("mis:"), n.cast("string"))), 1, 16)
    var edges = halfEdges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst"))
      .localCheckpoint(true)
    var verts = edges.select(explode(array(col("src"), col("dst"))).as("id"))
      .distinct()
      .select(col("id"), prio(col("id")).as("p"))
      .localCheckpoint(true)
    var mis: DataFrame = null
    var round = 0
    while (round < maxRounds && !verts.isEmpty) {
      round += 1
      // neighbor minimum (priority, id) per live vertex, both directions
      val ep = edges
        .join(verts.select(col("id").as("src"), col("p").as("ps")), Seq("src"))
        .join(verts.select(col("id").as("dst"), col("p").as("pd")), Seq("dst"))
      val nbrMin = ep.select(col("src").as("id"),
          struct(col("pd").as("p"), col("dst").as("n")).as("np"))
        .unionByName(ep.select(col("dst").as("id"),
          struct(col("ps").as("p"), col("src").as("n")).as("np")))
        .groupBy(col("id")).agg(min(col("np")).as("nmin"))
      // isolated live vertices have no live neighbor → always win
      val winners = verts.join(nbrMin, Seq("id"), "left")
        .filter(col("nmin").isNull ||
          struct(col("p").as("p"), col("id").as("n")) < col("nmin"))
        .select(col("id"), lit(round.toLong).as("round"))
        .localCheckpoint(true)
      mis = if (mis == null) winners
        else mis.unionByName(winners).localCheckpoint(true)
      // covered = winners ∪ their neighbors; both leave the frontier
      val covered = winners.select(col("id"))
        .unionByName(edges.join(winners.select(col("id").as("src")), Seq("src"))
          .select(col("dst").as("id")))
        .unionByName(edges.join(winners.select(col("id").as("dst")), Seq("dst"))
          .select(col("src").as("id")))
        .distinct()
      verts = verts.join(covered, Seq("id"), "left_anti")
        .localCheckpoint(true)
      edges = edges
        .join(verts.select(col("id").as("src")), Seq("src"), "left_semi")
        .join(verts.select(col("id").as("dst")), Seq("dst"), "left_semi")
        .select(col("src"), col("dst"))
        .localCheckpoint(true)
    }
    if (mis == null)
      halfEdges.sparkSession.emptyDataFrame
        .select(lit(0L).as("id"), lit(0L).as("round")).limit(0)
    else mis.orderBy(col("id"))
  }
}
