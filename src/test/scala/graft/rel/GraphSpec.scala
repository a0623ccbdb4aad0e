package graft.rel

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Fixed-point integer PageRank (rel/Graph): hand-graph structure,
  * mass conservation under floor rounding, and the property the integer
  * formulation exists to guarantee — bit-identical results at any
  * parallelism. */
class GraphSpec extends SparkSuite {
  import spark.implicits._

  private def edges(pairs: (Long, Long)*) =
    pairs.toDF("src", "dst")

  /** Symmetric 3-path a–b–c: the middle vertex concentrates rank and
    * the symmetric endpoints tie exactly (integer arithmetic — EXACT
    * equality, not tolerance). */
  test("path graph: middle vertex outranks tied endpoints") {
    val e = edges(1L -> 2L, 2L -> 1L, 2L -> 3L, 3L -> 2L)
    val r = GraphTwins.pageRank(e, iters = 5)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r(1) === r(3), "symmetric endpoints must tie bit-exactly")
    assert(r(2) > r(1), "middle vertex must concentrate rank")
  }

  /** No-dangling symmetric graph conserves mass up to floor losses:
    * each edge's integral division discards < 1 unit per iteration, so
    * total ∈ (V·Scale − iters·E, V·Scale]. */
  test("rank mass is conserved within the floor-rounding budget") {
    val e = edges(1L -> 2L, 2L -> 1L, 2L -> 3L, 3L -> 2L, 1L -> 3L, 3L -> 1L)
    val iters = 4
    val total = GraphTwins.pageRank(e, iters)
      .agg(sum(col("rank"))).head().getLong(0)
    val exact = 3L * Graph.Scale
    assert(total <= exact, s"mass grew: $total > $exact")
    assert(total > exact - iters.toLong * 6, s"mass leak beyond floor budget: $total")
  }

  /** The cross-engine contract: identical ranks at 1 and 8 partitions.
    * Float PageRank fails this (addition order varies with the shuffle);
    * the integer formulation must not. */
  test("ranks are bit-identical across partitionings") {
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select("l_orderkey", "l_partkey")
    def run(parts: Int) =
      GraphTwins.partPageRank(li.repartition(parts), iters = 3, k = 50)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(run(1) === run(8))
  }

  /** Co-purchase edge derivation: distinct, symmetric, no self-loops. */
  /** Reference LPA: the same synchronous update — most frequent
    * neighbor label, ties to the smallest — as a driver-side fold. */
  private def refLpa(adj: Map[Long, Seq[Long]], iters: Int): Map[Long, Long] = {
    var labels = adj.keys.map(n => n -> n).toMap
    (1 to iters).foreach { _ =>
      labels = adj.map { case (n, nbrs) =>
        val counts = nbrs.groupBy(labels).map { case (l, xs) => (l, xs.size) }
        n -> counts.toSeq.minBy { case (l, c) => (-c, l) }._1
      }
    }
    labels
  }

  test("label propagation matches the reference fold on a hand graph") {
    // two triangles {1,2,3} and {10,11,12} joined by one bridge 3–10,
    // plus a pendant 13 off 12
    val half = Seq(1L -> 2L, 1L -> 3L, 2L -> 3L,
      10L -> 11L, 10L -> 12L, 11L -> 12L, 3L -> 10L, 12L -> 13L)
    val adj = (half ++ half.map(_.swap))
      .groupBy(_._1).map { case (n, xs) => n -> xs.map(_._2).sorted.toSeq }
    for (iters <- Seq(1, 2, 3, 4)) {
      val sym = half ++ half.map(_.swap)
      val got = Graph.labelPropagation(sym.toDF("src", "dst"), iters)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == refLpa(adj, iters), s"iters=$iters")
    }
  }

  test("label propagation is invariant to edge partitioning") {
    val half = Seq(1L -> 2L, 1L -> 3L, 2L -> 3L, 3L -> 4L, 4L -> 5L)
    val sym = (half ++ half.map(_.swap)).toDF("src", "dst")
    def run(parts: Int) = Graph.labelPropagation(sym.repartition(parts), 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(run(1) == run(7))
  }

  test("bfs distances: hand path+branch graph, depth bound honored") {
    // 1–2–3–4–5 path with a branch 2–10; source = min node = 1
    val half = Seq(1L -> 2L, 2L -> 3L, 3L -> 4L, 4L -> 5L, 2L -> 10L)
    val sym = (half ++ half.map(_.swap)).toDF("src", "dst")
    val got = Graph.bfsDistances(sym, maxDepth = 3)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // node 5 is at distance 4 — beyond the depth bound, absent
    assert(got == Map(1L -> 0, 2L -> 1, 3L -> 2, 10L -> 2, 4L -> 3))
  }

  test("co-purchase edges are distinct, symmetric, self-loop-free") {
    val li = Seq((1L, 10L), (1L, 11L), (1L, 10L), (2L, 10L), (2L, 12L), (3L, 13L))
      .toDF("l_orderkey", "l_partkey")
    val got = Graph.weightedCoPurchaseEdges(li)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // the duplicated (order 1, part 10) line must not inflate w
    assert(got === Set((10L, 11L, 1L), (11L, 10L, 1L), (10L, 12L, 1L),
      (12L, 10L, 1L)))
  }

  /** Components over a mirrored edge set: min-id labels, exact sizes,
    * and the src<dst half-edge cut feeding `Corpus.connectedComponents`
    * must not drop the singleton-free structure. */
  test("connected components: two components, min-id labels, sizes") {
    val half = Seq(1L -> 2L, 2L -> 3L, 10L -> 11L)
    val e = half.flatMap { case (a, b) => Seq((a, b), (b, a)) }
      .toDF("src", "dst")
    val got = Graph.componentSizes(e)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq(
      (1L, 1L, 3L), (2L, 1L, 3L), (3L, 1L, 3L),
      (10L, 10L, 2L), (11L, 10L, 2L)))
  }

  /** Triangle {1,2,3} with a tail 3–4–5: peeling is 2-round (5 falls,
    * then 4), the triangle survives with in-core degree 2. */
  test("k-core: multi-round peel, triangle survives, tail dissolves") {
    val half = Seq(1L -> 2L, 2L -> 3L, 1L -> 3L, 3L -> 4L, 4L -> 5L)
    val e = half.flatMap { case (a, b) => Seq((a, b), (b, a)) }
      .toDF("src", "dst")
    val got = Graph.kCore(e, k = 2L)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == Seq((1L, 2L), (2L, 2L), (3L, 2L)))
  }

  /** Star 1–{2,3,4} plus the 2–3 edge, hand-computed Jaccard:
    * (2,4) and (3,4) share only hub 1 but have tiny unions → 1/2;
    * (2,3) → 1/3; (1,2) and (1,3) → 1/4. */
  test("jaccard pairs: hand-computed fixed-point scores and ordering") {
    val half = Seq(1L -> 2L, 1L -> 3L, 1L -> 4L, 2L -> 3L)
    val e = half.flatMap { case (a, b) => Seq((a, b), (b, a)) }
      .toDF("src", "dst")
    val got = Graph.jaccardPairs(e, k = 10, minCommon = 1L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq(
      (2L, 4L, 1L, 500000L),
      (3L, 4L, 1L, 500000L),
      (2L, 3L, 1L, 333333L),
      (1L, 2L, 1L, 250000L),
      (1L, 3L, 1L, 250000L)))
  }

  /** Path 1–2–3–4–5: the middle vertex reaches 4 nodes within two
    * hops, its neighbors 3, the endpoints 2 — degree alone would call
    * all interior nodes equal. */
  test("two-hop reach: exact ego sizes on a path") {
    val e = Seq(1L -> 2L, 2L -> 3L, 3L -> 4L, 4L -> 5L)
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }.toDF("src", "dst")
    val got = Graph.reachTwoHop(e, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq === Seq(
      (3L, 4L), (2L, 3L), (4L, 3L), (1L, 2L), (5L, 2L)))
  }

  /** Star 1–{2..9}: hub degree 8 lands in bin 3 (floor log2 = 3), the
    * eight leaves in bin 0 — the exact binary-length binning with no
    * float log2 anywhere near the power-of-two boundary. */
  test("degree histogram: exact log2 bins on a star") {
    val e = (2L to 9L).flatMap(l => Seq((1L, l), (l, 1L))).toDF("src", "dst")
    val got = Graph.degreeHistogram(e)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(got.toSeq === Seq((0L, 8L, 1L, 1L, 8L), (3L, 1L, 8L, 8L, 8L)))
  }

  /** Square 1–2–3–4–1: diagonal pairs (1,3) and (2,4) each see 2 common
    * neighbors → ΣC(c,2) = 2, and the one rectangle is counted once
    * after the div-2 (each 4-cycle has two diagonals). K4 check: every
    * one of its 3 rectangles rides two of the C(4,2)=6 pairs, each pair
    * has c=2 → diag_pairs 6, n_rectangles 3. */
  test("rectangle census: square=1, K4=3, hand-counted diagonals") {
    val square = Seq(1L -> 2L, 2L -> 3L, 3L -> 4L, 4L -> 1L)
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }.toDF("src", "dst")
    val sq = Graph.rectangleCensus(square).collect().head
    assert((sq.getLong(0), sq.getLong(1), sq.getLong(2), sq.getLong(3)) ===
      ((2L, 2L, 1L, 2L)))
    val k4 = (for (a <- 1L to 4L; b <- 1L to 4L if a != b) yield (a, b))
      .toDF("src", "dst")
    val kc = Graph.rectangleCensus(k4).collect().head
    assert((kc.getLong(1), kc.getLong(2)) === ((6L, 3L)))
  }

  /** Cycle 2–1–3–4–2: the two non-adjacent pairs (1,4) and (2,3) each
    * see two degree-2 common neighbors → RA = 2·(10^6 div 2) = 10^6.
    * Adding the (2,3) edge must remove it from the prediction list
    * (anti-join on existing edges). */
  test("link prediction: RA scores exact, existing edges excluded") {
    val half = Seq(1L -> 2L, 1L -> 3L, 2L -> 4L, 3L -> 4L)
    val e = half.flatMap { case (a, b) => Seq((a, b), (b, a)) }
      .toDF("src", "dst")
    val got = Graph.linkPredictionRA(e, k = 10, minCommon = 1L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // all four nodes have degree 2: both distance-2 pairs score 2×(10^6/2)
    assert(got.toSeq === Seq((1L, 4L, 2L, 1000000L), (2L, 3L, 2L, 1000000L)))
    val withEdge = (half :+ (2L -> 3L))
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }.toDF("src", "dst")
    val got2 = Graph.linkPredictionRA(withEdge, k = 10, minCommon = 1L)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(!got2.contains((2L, 3L)))
    assert(got2.contains((1L, 4L)))
  }

  /** K4 has 4 triangles, 3 at each corner; the square has none; the
    * mirrored/duplicated input rows must not inflate counts. */
  test("triangle counts: K4 corners get 3 each, squares get none") {
    val k4 = for (a <- 1L to 4L; b <- 1L to 4L if a != b) yield (a, b)
    val square = Seq(10L -> 11L, 11L -> 12L, 12L -> 13L, 13L -> 10L)
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }
    val e = (k4 ++ square ++ k4 /* duplicates */).toDF("src", "dst")
    val got = Graph.triangleCounts(e, k = 50)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  /** The oriented-wedge formulation must agree with the closed form on
    * a clique: C(n,3) triangles, C(n-1,2) per corner. */
  test("triangle counts: K7 closed form") {
    val n = 7L
    val e = (for (a <- 1L to n; b <- 1L to n if a != b) yield (a, b))
      .toDF("src", "dst")
    val got = Graph.triangleCounts(e, k = 50)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size === n)
    assert(got.values.forall(_ === (n - 1) * (n - 2) / 2))
  }

  /** Scale-shape pin: the per-iteration loop must not re-shuffle the
    * adjacency — the checkpointed relation is built once and its
    * hash(src) partitioning is visible to the planner (an AQE-cached
    * persist() is not — observed re-exchange per iteration). */
  test("iteration joins reuse the checkpointed adjacency partitioning") {
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val p = GraphTwins.partPageRank(li, iters = 2, k = 10)
      .queryExecution.executedPlan.toString
    assert(p.contains("Scan ExistingRDD"), s"adjacency not checkpointed:\n$p")
  }

  /** THE bucketed-plan pin (round-5 contract, r16 form): the standing
    * adjacency scan is checkpointed ONCE before the fold (iterations
    * otherwise re-scan the parquet and re-decode the array column
    * every round), so the iteration plan reads a LogicalRDD reporting
    * hash(src) partitioning, and each iteration plans exactly ONE
    * exchange — the dst aggregate. Every hash exchange in the executed
    * plan must be on `dst`; the rank joins ride the checkpointed
    * partitioning + the previous aggregate's with no exchange on
    * either side. */
  test("bucketed pagerank: one exchange per iteration, all on dst") {
    val iters = 5
    val pr = Graph.partPageRankBucketed(spark, sfDir, iters = iters, k = 100)
    pr.collect()
    val plan = pr.queryExecution.executedPlan.toString
    assert(plan.contains("Scan ExistingRDD"),
      s"adjacency not checkpointed once before the fold:\n$plan")
    val exchangeKeys = raw"Exchange hashpartitioning\(([A-Za-z_]+)#".r
      .findAllMatchIn(plan).map(_.group(1)).toSeq
    assert(exchangeKeys.nonEmpty && exchangeKeys.forall(_ == "dst"),
      s"expected only dst-aggregate exchanges, got $exchangeKeys\n$plan")
    // per plan rendering (AQE prints initial+final), exactly `iters`
    // dst exchanges — one per iteration, none for the rank joins
    assert(exchangeKeys.count(_ == "dst") % iters == 0,
      s"exchange count ${exchangeKeys.size} not a multiple of $iters\n$plan")
  }

  /** HITS hand graph: suppliers bought by more/better hubs score
    * higher; the best node on each side holds exactly HitsScale (max
    * normalization), and mutual reinforcement breaks the tie between
    * equal-degree hubs by WHERE they buy. */
  test("betweenness: star center collects all leaf-pair dependencies") {
    // leaves 1..4 are the landmarks; every leaf→leaf shortest path runs
    // through center 5: δ_s(5) = 3·Scale per landmark ⇒ 12·Scale total;
    // leaves are path endpoints only ⇒ no surfaced dependency
    val e = edges(Seq(1L, 2L, 3L, 4L).flatMap(l =>
      Seq(l -> 5L, 5L -> l)): _*)
    val got = Graph.landmarkBetweenness(e, nLandmarks = 4, maxDepth = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(5L -> 12L * Graph.BetweennessScale))
  }

  test("betweenness: path graph hand accumulation, depth bound honored") {
    // 1–2–3–4–5, landmarks 1..4, maxDepth 3 (node 5 unreached from 1):
    // δ totals: node2 = 2S+S+S, node3 = S+2S+2S, node4 = S+S
    val e = edges(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
      .flatMap { case (a, b) => Seq(a -> b, b -> a) }: _*)
    val s = Graph.BetweennessScale
    val got = Graph.landmarkBetweenness(e, nLandmarks = 4, maxDepth = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(2L -> 4L * s, 3L -> 5L * s, 4L -> 2L * s))
  }

  test("betweenness: sigma sums across branching paths — diamond graph") {
    // 1–{2,3}–4 diamond + tail 4–5: two equal shortest 1→4 paths split
    // the dependency; with landmarks {1,2,3,4}:
    //  lm 1: σ(4)=2, δ(2)=δ(3)=1·(S + S/2·…)… hand-solved below
    val e = edges(Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L), (4L, 5L))
      .flatMap { case (a, b) => Seq(a -> b, b -> a) }: _*)
    val s = Graph.BetweennessScale
    val got = Graph.landmarkBetweenness(e, nLandmarks = 4, maxDepth = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // lm=1: layers 1:{2,3 σ1} 2:{4 σ2} 3:{5 σ2}; δ(4)=σ4·(S+0)/σ5 =
    //   2S/2 = S (target 5's paths pass through 4); δ(2)=1·(S+δ4)/σ4 =
    //   2S/2 = S, δ(3)=S
    // lm=2: layers 1:{1,4 σ1} 2:{3 σ2 (via 1 AND 4), 5 σ1};
    //   δ(1)=1·(S+0) div 2 = S/2; δ(4)= S div 2 + S div 1 = 3S/2
    //   (succs 3 and 5); δ(3)=δ(5)=0
    // lm=3 mirrors lm=2 swapping 2↔3: δ(1)=S/2, δ(4)=3S/2
    // lm=4: layers 1:{2,3,5 σ1} 2:{1 σ2}; δ(2)=1·(S+0) div 2=S/2,
    //   δ(3)=S/2, δ(1)=0, δ(5)=0
    // totals: n1 = S/2+S/2 = S; n2 = S + S/2 = 3S/2; n3 = S + S/2;
    //   n4 = S + 3S/2 + 3S/2 = 4S; n5 = 0
    assert(got === Map(
      1L -> s, 2L -> (3L * s / 2), 3L -> (3L * s / 2), 4L -> 4L * s))
  }

  test("property: tree betweenness satisfies the path-interior identity") {
    // On a TREE every (s,t) pair has exactly one path, so σ ≡ 1, every
    // fixed-point division is exact, and Brandes' accumulation obeys
    // Σ_v δ_s(v) = Σ_{t≠s} (d(s,t) − 1) — the interior-vertex count.
    // Random trees, landmarks = 4 smallest ids, depth covers the tree.
    import org.scalacheck.Gen
    val gen = Gen.listOfN(9, Gen.chooseNum(0, 8))
    for (trial <- 1 to 3) {
      val parents = gen.sample.get.zipWithIndex
        .map { case (p, i) => (i + 1).toLong -> (p % (i + 1)).toLong }
      val e = edges(parents.flatMap { case (c, p) => Seq(c -> p, p -> c) }: _*)
      val got = Graph.landmarkBetweenness(e, nLandmarks = 4, maxDepth = 9)
        .collect().map(r => r.getLong(1)).sum
      // reference: BFS distances from the 4 smallest nodes, driver-side
      val adj = parents.flatMap { case (c, p) => Seq(c -> p, p -> c) }
        .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
      def dists(s: Long): Map[Long, Int] = {
        var d = Map(s -> 0); var frontier = List(s)
        while (frontier.nonEmpty) {
          val next = frontier.flatMap(adj(_)).filterNot(d.contains).distinct
          next.foreach { n =>
            d += n -> (d(frontier.find(f => adj(f).contains(n)).get) + 1) }
          frontier = next
        }
        d
      }
      val expected = adj.keys.toSeq.sorted.take(4).map { s =>
        dists(s).collect {
          case (t, dd) if t != s && dd >= 1 => (dd - 1).toLong }.sum
      }.sum * Graph.BetweennessScale
      assert(got === expected, s"trial $trial: tree identity violated")
    }
  }

  test("eccentricity: path graph max-distances, depth cap bounds, " +
      "unreached landmarks don't count") {
    // path 1–2–3–4–5, landmarks = all 5 (≤ 8), depth 4: ecc_lb is the
    // true eccentricity (4,3,2,3,4); each node reaches all 4 others
    val e = edges(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
      .flatMap { case (a, b) => Seq(a -> b, b -> a) }: _*)
    val got = Graph.landmarkEccentricity(e, nLandmarks = 8, maxDepth = 4)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(got === Map(1L -> (4L, 4L), 2L -> (3L, 4L), 3L -> (2L, 4L),
      4L -> (3L, 4L), 5L -> (4L, 4L)))
    // depth 2: distances beyond the cap are unobserved — ecc_lb clamps
    // and the reached count drops at the ends
    val capped = Graph.landmarkEccentricity(e, nLandmarks = 8, maxDepth = 2)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(capped(1L) === ((2L, 2L)), "node 1 sees only 2 and 3 at depth 2")
    assert(capped(3L) === ((2L, 4L)), "the center still reaches everyone")
  }

  test("clustering coefficients: K4 fully dense, path triangle-free, " +
      "triangle-with-tail mixes exactly") {
    val s = Graph.CcScale
    // K4: every node has deg 3 and sits in 3 triangles → cc = 1 exactly
    val k4 = edges((for {
      a <- 1L to 4L; b <- 1L to 4L if a != b
    } yield a -> b): _*)
    val gotK4 = Graph.clusteringCoefficients(k4)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(gotK4 === (1L to 4L).map(_ -> s).toMap)
    // path 1–2–3: middle node deg 2, no triangle → cc 0; endpoints deg 1
    // are excluded (coefficient undefined)
    val path = edges(1L -> 2L, 2L -> 1L, 2L -> 3L, 3L -> 2L)
    val gotP = Graph.clusteringCoefficients(path)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(gotP === Map(2L -> 0L))
    // triangle 1-2-3 plus tail 3-4: node 3 has deg 3, 1 triangle →
    // cc = 2·1·S div (3·2) = S/3 (truncated); 1 and 2 stay at 1.0
    val tri = edges(Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L))
      .flatMap { case (a, b) => Seq(a -> b, b -> a) }: _*)
    val gotT = Graph.clusteringCoefficients(tri)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(gotT === Map(1L -> s, 2L -> s, 3L -> (2L * s / 6L)))
  }

  test("hits: hand bipartite graph ranks authorities and hubs") {
    // hubs 1..3, authorities 10..11; supplier 10 has 3 buyers, 11 has 1
    val e = Seq((1L, 10L), (2L, 10L), (3L, 10L), (1L, 11L)).toDF("c", "s")
    val out = GraphTwins.hits(e, iters = 4)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val auth = out.filter(_._1 == "authority").map(x => x._2 -> x._3).toMap
    val hubs = out.filter(_._1 == "hub").map(x => x._2 -> x._3).toMap
    assert(auth(10L) === Graph.HitsScale, "top authority holds the max score")
    assert(auth(10L) > auth(11L), "3-buyer supplier outranks 1-buyer")
    assert(hubs(1L) === Graph.HitsScale, "the 2-supplier customer is the top hub")
    assert(hubs(1L) > hubs(2L), "breadth of authoritative purchases wins")
    assert(hubs(2L) === hubs(3L), "symmetric hubs tie bit-exactly")
  }

  /** Integer max-normalization exists for exactly this: the scores are
    * a pure function of the graph, not of the physical partitioning. */
  test("hits: bit-identical across partitionings") {
    val o = spark.read.parquet(s"$sfDir/orders.parquet")
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val base = GraphTwins.custSupplierHits(o, li, iters = 3)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val repart = GraphTwins.custSupplierHits(o.repartition(7), li.repartition(13), iters = 3)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(base === repart)
  }

  /** The bucketed standing-state path must not move the answer. */
  test("hits: bucketed and generic paths agree bit-exactly") {
    val o = spark.read.parquet(s"$sfDir/orders.parquet")
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val generic = GraphTwins.custSupplierHits(o, li, iters = 4)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val bucketed = Graph.custSupplierHitsBucketed(spark, sfDir, iters = 4)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(generic === bucketed)
  }

  /** PPR locality: with the teleport pinned to a seed inside one of
    * two disconnected triangles, all mass stays in the seed's
    * component — the other triangle never appears in the (sparse)
    * rank relation at all. */
  test("personalized pagerank: mass localizes to the seed's component") {
    import spark.implicits._
    def tri(a: Long, b: Long, c: Long) =
      Seq(a -> b, b -> a, b -> c, c -> b, a -> c, c -> a)
    val e = (tri(1L, 2L, 3L) ++ tri(10L, 11L, 12L)).toDF("src", "dst")
    val seeds = Seq(Tuple1(1L)).toDF("node")
    val r = GraphTwins.personalizedPageRank(e, seeds, iters = 4)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r.keySet === Set(1L, 2L, 3L),
      s"sparse frontier leaked outside the seed component: ${r.keySet}")
    assert(r(1L) > r(2L) && r(2L) === r(3L),
      "seed outranks its symmetric neighbors, which tie bit-exactly")
  }

  test("personalized pagerank: bucketed path ≡ generic path bit-exactly") {
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val a = li.select(col("l_orderkey").as("ok"), col("l_partkey").as("src"))
    val b = li.select(col("l_orderkey").as("ok"), col("l_partkey").as("dst"))
    val half = a.join(b, Seq("ok")).filter(col("src") < col("dst"))
      .select(col("src"), col("dst"))
    val edges = half.unionByName(
      half.select(col("dst").as("src"), col("src").as("dst")))
    val seeds = edges.select(col("src").as("node")).distinct()
      .filter(col("node") % 97 === 0)
    val generic = GraphTwins.personalizedPageRank(edges.repartition(11), seeds, iters = 4)
      .orderBy(col("rank").desc, col("node")).limit(50)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val bucketed = Graph.partPprBucketed(spark, sfDir, iters = 4, k = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(generic === bucketed)
  }

  /** The bucketed path computes the SAME ranks as the generic one —
    * the physical strategy must not move the answer. */
  test("bucketed and generic pagerank agree bit-exactly") {
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val a = GraphTwins.partPageRank(li, iters = 5, k = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val b = Graph.partPageRankBucketed(spark, sfDir, iters = 5, k = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(a === b)
  }

  test("weighted pagerank: uniform weights reproduce the unweighted op " +
      "bit-for-bit, skewed weights route mass proportionally") {
    import spark.implicits._
    // triangle 1-2-3 plus pendant 4 on 1, mirrored directions
    val half = Seq((1L, 2L), (1L, 3L), (2L, 3L), (1L, 4L))
    val edges = (half ++ half.map(_.swap)).toDF("src", "dst")
    val uni = edges.withColumn("w", lit(1L))
    val a = GraphTwins.pageRank(edges, iters = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val b = GraphTwins.pageRankWeighted(uni, iters = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(a === b, "w = 1 everywhere must equal the uniform split exactly")
    // star: center 1 sends to 2 with weight 9, to 3 with weight 1 —
    // after one round node 2 holds 9x node 3's received mass
    val skewHalf = Seq((1L, 2L, 9L), (1L, 3L, 1L))
    val skew = (skewHalf ++ skewHalf.map { case (s, d, w) => (d, s, w) })
      .toDF("src", "dst", "w")
    val got = GraphTwins.pageRankWeighted(skew, iters = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val base = Graph.Scale * 15L / 100L
    val recv2 = got(2L) - base
    val recv3 = got(3L) - base
    assert(recv2 === 9L * recv3,
      s"mass must split 9:1 by weight, got $recv2 vs $recv3")
  }

  test("weighted LPA: a heavy bridge pulls the boundary node into the " +
      "heavy community where unweighted count-LPA would tie") {
    import spark.implicits._
    // node 5 has one edge into clique {1,2} (weight 10) and one into
    // clique {3,4} (weight 1): counts tie 1-1 (unweighted LPA breaks
    // to the SMALLEST label), weights decide for the heavy side
    val half = Seq(
      (1L, 2L, 5L), (3L, 4L, 5L),
      (2L, 5L, 10L), (4L, 5L, 1L))
    val edges = (half ++ half.map { case (s, d, w) => (d, s, w) })
      .toDF("src", "dst", "w")
    val got = Graph.labelPropagationWeighted(edges, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // synchronous LPA label VALUES can oscillate on a pair; membership
    // by side is the stable claim: 5 carries a heavy-side label, never
    // a light-clique one
    assert(Set(1L, 2L, 5L).contains(got(5L)),
      s"weight-10 bridge must pull node 5 to the heavy side: $got")
    assert(Set(3L, 4L).contains(got(4L)) && Set(3L, 4L).contains(got(3L)),
      s"light clique keeps its own labels: $got")
  }

  test("weighted sssp: the cheap two-hop route beats the direct weak tie, " +
      "and the horizon bounds path length") {
    import spark.implicits._
    // source is node 1 (min id). Direct 1→2 has w=1 (cost 1001);
    // detour 1→3→2 has w=1000 twice (cost 2+2=4). BFS would call 2 one
    // hop away; min-COST must route around.
    val half = Seq((1L, 2L, 1L), (1L, 3L, 1000L), (3L, 2L, 1000L),
      (2L, 4L, 1000L)) // 4 reachable only via 2 → needs 3 relaxations
    val edges = (half ++ half.map { case (s, d, w) => (d, s, w) })
      .toDF("src", "dst", "w")
    val d3 = Graph.ssspWeighted(edges, rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(d3 === Map(1L -> 0L, 3L -> 2L, 2L -> 4L, 4L -> 6L))
    // with a 1-round horizon the detour is invisible: 2 costs 1001
    val d1 = Graph.ssspWeighted(edges, rounds = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(d1(2L) === 1001L && !d1.contains(4L))
  }

  test("random walks: every hop is a real edge, choice matches the " +
      "driver-side md5 emulation, walks are partition-invariant") {
    import spark.implicits._
    val half = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (4L, 5L))
    val e = (half ++ half.map(_.swap)).toDF("src", "dst")
    val adjacency = (half ++ half.map(_.swap))
      .groupBy(_._1).map { case (s, ps) => s -> ps.map(_._2).sorted }
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def emulate(seed: Long, steps: Int): Seq[(Long, Int, Long)] = {
      var node = seed
      (0 to steps).map { t =>
        if (t > 0) {
          val nbrs = adjacency(node)
          val h = java.lang.Long.parseLong(
            md5hex(s"$seed:$t:$node").substring(0, 8), 16)
          node = nbrs((h % nbrs.size).toInt)
        }
        (seed, t, node)
      }
    }
    val want = Seq(1L, 2L).flatMap(emulate(_, 4))
    val got = Graph.randomWalks(e, nWalks = 2, steps = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(got.toSeq === want)
    val again = Graph.randomWalks(e.repartition(7), nWalks = 2, steps = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(again.toSeq === want)
  }

  test("conductance: two cliques with one bridge — hand-counted cut, " +
      "vol, and basis points") {
    import spark.implicits._
    // K3 {1,2,3} + K3 {4,5,6} joined by bridge 3–4. LPA assigns each
    // clique its min label. Community {1,2,3}: vol = 2·3+1 = 7, intra
    // endpoints = 6, cut = 1; other side vol = 7, m2 = 14 →
    // min(7, 14−7) = 7 → φ_bp = 10000·1 div 7 = 1428
    val half = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (4L, 6L),
      (5L, 6L), (3L, 4L))
    val e = (half ++ half.map(_.swap)).toDF("src", "dst")
    val got = Graph.conductance(e, iters = 3)
      .collect().map(r => (r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3)))
    assert(got.toSeq === Seq((3L, 1L, 1428L), (3L, 1L, 1428L)))
    // a connected single-community graph has no outside: NULL phi
    val k3 = Seq((1L, 2L), (1L, 3L), (2L, 3L))
    val e3 = (k3 ++ k3.map(_.swap)).toDF("src", "dst")
    val whole = Graph.conductance(e3, iters = 3).collect()
    assert(whole.length === 1 && whole.head.isNullAt(3))
  }

  test("node2vec walks match a driver-side emulation of the class " +
      "weights (return 1, BFS 2, DFS 4) and the md5 interval pick") {
    import spark.implicits._
    val half = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (4L, 5L), (2L, 5L))
    val e = (half ++ half.map(_.swap)).toDF("src", "dst")
    val adj = (half ++ half.map(_.swap)).groupBy(_._1)
      .map { case (s, ps) => s -> ps.map(_._2).sorted }
    val edgeSet = (half ++ half.map(_.swap)).toSet
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def emulate(seed: Long, steps: Int): Seq[(Long, Int, Long)] = {
      var cur = seed; var prev = -1L
      (0 to steps).map { t =>
        if (t > 0) {
          val cands = adj(cur).map { x =>
            val w = if (x == prev) 1L
              else if (prev >= 0 && edgeSet((prev, x))) 2L else 4L
            (x, w)
          }
          val tw = cands.map(_._2).sum
          val r = java.lang.Long.parseLong(
            md5hex(s"$seed:$t:$cur").substring(0, 8), 16) % tw
          var acc = 0L
          val pick = cands.find { case (_, w) => acc += w; r < acc }.get._1
          prev = cur; cur = pick
        }
        (seed, t, cur)
      }
    }
    val want = Seq(1L, 2L).flatMap(emulate(_, 4))
    val got = Graph.node2vecWalks(e, nWalks = 2, steps = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(got.toSeq === want)
    val again = Graph.node2vecWalks(e.repartition(5), nWalks = 2, steps = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(again.toSeq === want)
  }

  test("skipgram pairs: hand-counted window-2 co-occurrences on a " +
      "fixed walk") {
    import spark.implicits._
    // one walk 1→2→3→1: window 2 pairs by (step, step'): (0,1)=12,
    // (0,2)=13, (1,2)=23, (1,3)=12 via (2,1), (2,3)=13 via (3,1)
    val walks = Seq((9L, 0, 1L), (9L, 1, 2L), (9L, 2, 3L), (9L, 3, 1L))
      .toDF("walk_id", "step", "node")
    val got = Graph.skipgramPairs(walks, window = 2)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(got === Map((1L, 2L) -> 2L, (1L, 3L) -> 2L, (2L, 3L) -> 1L))
  }

  test("weighted sssp is bit-identical across partitionings") {
    import spark.implicits._
    val half = (1 to 60).flatMap(i => Seq(
      (i.toLong, (i % 20 + 1).toLong, (i % 7 + 1).toLong),
      (i.toLong, (i % 13 + 2).toLong, (i % 3 + 1).toLong)))
      .filter { case (s, d, _) => s != d }
    val e = (half ++ half.map { case (s, d, w) => (d, s, w) })
      .toDF("src", "dst", "w")
    def run(parts: Int) =
      Graph.ssspWeighted(e.repartition(parts), rounds = 3)
        .collect().map(_.toSeq).toSeq
    assert(run(2) === run(16))
  }

  test("rich club: hand ladder on a hub triangle with pendants") {
    import spark.implicits._
    // orders plant a triangle 1-2-3 (each pair co-bought twice) plus
    // pendants 4,5 attached to 1 (twice each): deg(1)=4? degrees over
    // the support-2 backbone: 1:{2,3,4,5}=4, 2:{1,3}=2, 3:{1,2}=2,
    // 4:{1}=1, 5:{1}=1
    val orders = Seq(
      Seq(1L, 2L, 3L), Seq(1L, 2L, 3L),
      Seq(1L, 4L), Seq(1L, 4L), Seq(1L, 5L), Seq(1L, 5L))
    val li = orders.zipWithIndex.flatMap { case (ps, ok) =>
      ps.map(p => (ok.toLong, p)) }
      .toDF("l_orderkey", "l_partkey")
    // the declared surface's form over the mirrored support-2
    // backbone: half = src<dst filter, degree = the src-side reduce
    // (each undirected edge appears once per direction)
    val half = Graph.backboneEdges(li, 2L)
    val mirrored = half.unionByName(
      half.select(col("dst").as("src"), col("src").as("dst")))
    val got = Graph.richClubFromMirrored(mirrored).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Long]))).toSeq
    // k=1: nodes {1,2,3} (deg>1), edges among them = 3 → phi = 10^6
    // k=2: only node 1 → NULL; k=4,8: none → NULL
    assert(got === Seq(
      (1L, 3L, 3L, Some(1000000L)),
      (2L, 1L, 0L, None),
      (4L, 0L, 0L, None),
      (8L, 0L, 0L, None)))
  }

  // ------------------------------------------------------- directed SCC

  private def sccMap(e: DataFrame) =
    Graph.stronglyConnectedComponents(e)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap

  /** Two 3-cycles joined by a one-way bridge, plus a dangling tail:
    * the condensation {1,2,3} → {4,5,6} → {7} must come back as three
    * SCCs keyed by their minima. */
  test("scc: two cycles bridged one-way plus a tail") {
    val e = edges(1L -> 2L, 2L -> 3L, 3L -> 1L, 3L -> 4L,
      4L -> 5L, 5L -> 6L, 6L -> 4L, 6L -> 7L)
    assert(sccMap(e) === Map(
      1L -> ((3L, 1L, 3L)), 4L -> ((3L, 4L, 6L)), 7L -> ((1L, 7L, 7L))))
  }

  /** A chord that joins a cycle enlarges the SCC: 1→2→3→1 with 2⇄4
    * makes {1,2,3,4} one component (4 reaches 1 through 2→3→1). */
  test("scc: chord merges into the cycle's component") {
    val e = edges(1L -> 2L, 2L -> 3L, 3L -> 1L, 2L -> 4L, 4L -> 2L)
    assert(sccMap(e) === Map(1L -> ((4L, 1L, 4L))))
  }

  /** Pure DAG: every vertex is its own singleton SCC — every DFS
    * frame closes a component of one. */
  test("scc: path DAG yields all singletons") {
    val e = edges(1L -> 2L, 2L -> 3L, 3L -> 4L)
    assert(sccMap(e) === Map(
      1L -> ((1L, 1L, 1L)), 2L -> ((1L, 2L, 2L)),
      3L -> ((1L, 3L, 3L)), 4L -> ((1L, 4L, 4L))))
  }

  /** The declared query's contract on the fixture: level-oriented
    * succession graph — scc_id is always the component's own minimum,
    * sizes sum to the vertex count, and each SCC is level-pure (every
    * member shares scc_id mod 4, the orientation invariant: upward-only
    * cross-level edges can never close a cross-level cycle). */
  test("scc: succession graph invariants at sf0.001") {
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val e = Graph.successionEdges(li).persist()
    val nVerts = e.select(col("src").as("v"))
      .unionByName(e.select(col("dst").as("v"))).distinct().count()
    val out = Graph.stronglyConnectedComponents(e).collect()
    assert(out.map(_.getLong(1)).sum === nVerts)
    assert(out.forall(r => r.getLong(0) === r.getLong(2)),
      "scc_id must be the component minimum")
    assert(out.forall(r => r.getLong(3) % 4 === r.getLong(0) % 4),
      "SCCs must be level-pure: upward-only cross-level edges cannot " +
        "close a cross-level cycle, so min and max member share a level")
    e.unpersist(): Unit
  }

  /** Bit-identity across partitionings: the one-task Tarjan visits
    * vertices and edges in the row order its single partition receives,
    * which follows the input partitioning, but labels each vertex with
    * its component's minimum — so 1-partition and 8-partition runs must
    * agree row-for-row. */
  test("scc: bit-identical across partitionings") {
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    def run(parts: Int) =
      Graph.stronglyConnectedComponents(
        Graph.successionEdges(li.repartition(parts)))
        .collect().map(r => (r.getLong(0), r.getLong(1),
          r.getLong(2), r.getLong(3))).toSeq
    assert(run(1) === run(8))
  }

  /** Job budget of the declared `graph_scc` query on the fixture: the
    * edge build and checkpoint, the one-task Tarjan and the final
    * aggregate — a fixed handful of jobs, not one per superstep. */
  test("scc: graph_scc submits at most 5 jobs on the fixture") {
    val q = Graph.queries.toMap.apply("graph_scc")
    val (rows, jobs) = jobsOf(q.fn(spark, sfDir).collect())
    assert(rows.nonEmpty)
    assert(jobs <= 5, s"graph_scc took $jobs jobs")
  }

  test("scc: an empty edge set yields no rows") {
    val out = Graph.stronglyConnectedComponents(
      Seq.empty[(Long, Long)].toDF("src", "dst"))
    assert(out.columns.toSeq === Seq("scc_id", "scc_size", "v_min", "v_max"))
    assert(out.isEmpty)
  }

  /** The one-task Tarjan at scale: a 200k-vertex cycle (one giant SCC)
    * and a 200k-vertex path (all singletons), each with self-loops and
    * duplicate edges mixed in. DFS depth is the vertex count on both,
    * so a recursive Tarjan would overflow the thread stack here. */
  test("scc: one-task Tarjan on a 200k-vertex cycle and a 200k-vertex path") {
    val n = 200000L
    def graph(dst: Column, arcs: Long) = {
      val base = spark.range(arcs).select(col("id").as("src"), dst.as("dst"))
      val e = base
        .unionByName(base.filter(col("src") % 7 === 0))
        .unionByName(spark.range(0, n, 1000)
          .select(col("id").as("src"), col("id").as("dst")))
      Graph.stronglyConnectedComponents(e)
    }
    val cycle = graph((col("id") + 1) % n, n).collect().toSeq
    assert(cycle === Seq(Row(0L, n, 0L, n - 1)))
    val path = graph(col("id") + 1, n - 1)
    assert(path.count() === n)
    assert(path.filter(col("scc_size") =!= 1L ||
      col("scc_id") =!= col("v_min") || col("v_min") =!= col("v_max"))
      .isEmpty, "a path's SCCs are its singletons")
  }

  // ------------------------------------------ in-task LocalGraph kernels

  /** An empty edge set: no landmark, no vertex — every op returns no
    * rows and its usual columns (a min over no `src` is null, which the
    * per-round BFS loop read as a source id and threw on). */
  test("in-task graph ops: an empty edge set yields no rows") {
    val e = Seq.empty[(Long, Long)].toDF("src", "dst")
    val ops = Seq(
      Graph.bfsDistances(e, 4) -> Seq("node", "dist"),
      Graph.landmarkCloseness(e, 8, 4) ->
        Seq("node", "n_reached", "closeness12"),
      Graph.landmarkEccentricity(e, 8, 4) ->
        Seq("node", "ecc_lb", "n_landmarks_reached"),
      Graph.landmarkBetweenness(e, 4, 3) -> Seq("node", "bc_fp"),
      Graph.kCore(e) -> Seq("node", "core_degree"),
      Graph.componentSizes(e) -> Seq("node", "component", "n_nodes"))
    ops.foreach { case (out, cols) =>
      assert(out.columns.toSeq === cols)
      assert(out.isEmpty, s"${cols.mkString(",")} is not empty")
    }
  }

  /** Job budgets of the declared in-task graph queries on the fixture:
    * the edge checkpoint and the one-task kernel — a fixed handful of
    * jobs, not a checkpoint and an emptiness or count job per round. The
    * standing backbone is built before counting. */
  Seq("graph_bfs", "graph_landmark_closeness", "graph_eccentricity",
      "graph_betweenness", "graph_kcore").foreach { name =>
    test(s"$name submits at most 5 jobs on the fixture") {
      Graph.ensureBackbone(spark, sfDir)
      val q = Graph.queries.toMap.apply(name)
      val (rows, jobs) = jobsOf(q.fn(spark, sfDir).collect())
      assert(rows.nonEmpty)
      assert(jobs <= 5, s"$name took $jobs jobs")
    }
  }

  /** The kernels at depth: a 200k-vertex one-way path with duplicate
    * edges (every 7th) and self-loops (every 1000th). BFS walks it
    * whole; the 1-core peels the tail beyond the last self-loop, one
    * vertex per synchronous round (so ~1000 rounds for a round loop),
    * in one queue pass; union-find gives the path one label. */
  test("in-task kernels on a 200k-vertex path with duplicates and self-loops") {
    val n = 200000L
    val base = spark.range(n - 1).select(col("id").as("src"),
      (col("id") + 1).as("dst"))
    val e = base
      .unionByName(base.filter(col("src") % 7 === 0))
      .unionByName(spark.range(0, n, 1000)
        .select(col("id").as("src"), col("id").as("dst")))
    val bfs = Graph.bfsDistances(e, Int.MaxValue)
    assert(bfs.count() === n)
    assert(bfs.filter(col("dist") =!= col("node")).isEmpty,
      "every path vertex is at distance = its id from vertex 0")
    val last = n - 1000 // the last self-loop: the tail beyond it peels
    val core = Graph.kCore(e, k = 1L).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toSeq
    assert(core === (0L to last).map { v =>
      v -> ((if (v < last) 1L else 0L) + (if (v < last && v % 7 == 0) 1L else 0L) +
        (if (v % 1000 == 0) 1L else 0L))
    })
    val cc = graft.ext.Corpus.connectedComponents(
      e.select(col("src").as("doc_a"), col("dst").as("doc_b")))
    assert(cc.count() === n)
    assert(cc.filter(col("component") =!= 0L).isEmpty,
      "the whole path is one component labeled 0")
  }

  /** Driver-side references for the kernels with no DataFrame twin: the
    * transitive closure of a small digraph, its SCC minimum labels and
    * its undirected component minimum labels. */
  private def closure(es: Seq[(Long, Long)]): Set[(Long, Long)] = {
    var reach = es.toSet
    var grown = true
    while (grown) {
      val next = reach ++ (for ((a, b) <- reach; (c, d) <- reach if b == c)
        yield (a, d))
      grown = next.size > reach.size
      reach = next
    }
    reach
  }

  /** Every in-task kernel against its reference on seeded random
    * digraphs: one-way edges, duplicate edge rows and self-loops, and
    * nullable id columns like the standing backbone's. The BFS family,
    * betweenness and k-core must match their per-round DataFrame twins
    * (`GraphTwins`) row for row and schema for schema. */
  test("property: in-task kernels match their twins on random digraphs") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val rnd = new scala.util.Random(20261020L)
    val schema = StructType(Seq(StructField("src", LongType),
      StructField("dst", LongType)))
    for (trial <- 1 to 4) {
      val vs = Seq.fill(3 + rnd.nextInt(8))(rnd.nextInt(40).toLong).distinct
      def pick() = vs(rnd.nextInt(vs.size))
      val drawn = Seq.fill(4 + rnd.nextInt(20))(pick() -> pick())
      val es = drawn :+ drawn.head :+ { val v = pick(); v -> v }
      val e = spark.createDataFrame(
        es.map { case (a, b) => Row(a, b) }.asJava, schema)
      def same(op: String, got: DataFrame, want: DataFrame): Unit = {
        assert(got.schema === want.schema, s"trial $trial $op schema")
        assert(got.collect().toSeq === want.collect().toSeq,
          s"trial $trial $op on $es")
      }
      same("bfs", Graph.bfsDistances(e, 3), GraphTwins.bfsDistances(e, 3))
      same("closeness", Graph.landmarkCloseness(e, 3, 4),
        GraphTwins.landmarkCloseness(e, 3, 4))
      same("eccentricity", Graph.landmarkEccentricity(e, 3, 4),
        GraphTwins.landmarkEccentricity(e, 3, 4))
      same("betweenness", Graph.landmarkBetweenness(e, 4, 3),
        GraphTwins.landmarkBetweenness(e, 4, 3))
      same("kcore", Graph.kCore(e, 2L), GraphTwins.kCore(e, 2L))
      same("1-core", Graph.kCore(e, 1L), GraphTwins.kCore(e, 1L))
      val nodes = es.flatMap { case (a, b) => Seq(a, b) }.distinct.sorted
      val reach = closure(es)
      val undirected = closure(es ++ es.map(_.swap))
      def minLabel(linked: (Long, Long) => Boolean) =
        nodes.map(v => v -> nodes.filter(u => u == v || linked(u, v)).min)
      val scc = Graph.stronglyConnectedComponents(e).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toSeq
      val sccWant = minLabel((u, v) => reach((u, v)) && reach((v, u)))
        .groupBy(_._2).map { case (id, vs) => id -> vs.size.toLong }
        .toSeq.sorted
      assert(scc === sccWant, s"trial $trial scc on $es")
      val cc = graft.ext.Corpus.connectedComponents(
        e.select(col("src").as("doc_a"), col("dst").as("doc_b")))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq
      assert(cc === minLabel((u, v) => undirected((u, v))),
        s"trial $trial components on $es")
    }
  }
}
