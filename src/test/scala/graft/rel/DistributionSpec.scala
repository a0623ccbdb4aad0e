package graft.rel

import org.apache.spark.sql.functions.{approx_count_distinct, col, countDistinct}

import graft.SparkSuite
import graft.core.Tables

/** Distributional-shape aggregates (rel/Distribution): hand-computed
  * Gini coefficients and label impurities on planted inputs — the
  * closed-form cases the integer formulas must reproduce exactly — and
  * the accuracy of the A7 approximate distinct count (RelQueries). */
class DistributionSpec extends SparkSuite {
  import spark.implicits._

  test("gini: equal spends → 0; concentrated spends → hand value") {
    val customer = Seq(
      (1L, "EQ"), (2L, "EQ"), (3L, "EQ"), (4L, "EQ"),
      (11L, "SK"), (12L, "SK"), (13L, "SK"), (14L, "SK"))
      .toDF("c_custkey", "c_mktsegment")
    val orders = Seq(
      // EQ: four customers at exactly $100 (one split across two orders)
      (1L, 100.0), (2L, 100.0), (3L, 100.0), (4L, 60.40), (4L, 39.60),
      // SK: spends 1, 1, 1, 97 → Σ(2i−n−1)x = 288, G = 288/400 = 0.72
      (11L, 1.0), (12L, 1.0), (13L, 1.0), (14L, 97.0))
      .toDF("o_custkey", "o_totalprice")
    val got = Distribution.giniBySegment(orders, customer)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got("EQ") === ((4L, 400L, 0L)))
    assert(got("SK") === ((4L, 100L, 7200L)))
  }

  test("gini: invariant to input partitioning") {
    val orders = graft.core.Tables.orders(spark, sfDir)
    val customer = graft.core.Tables.customer(spark, sfDir)
    val a = Distribution.giniBySegment(orders, customer).collect().toSeq
    val b = Distribution.giniBySegment(orders.repartition(7), customer.repartition(3))
      .collect().toSeq
    assert(a === b)
    assert(a.nonEmpty)
  }

  test("label impurity: pure → 0, even 2-way split → 500000 ppm, lexical tie-break") {
    val docs = Seq(
      (1L, "P", "en"), (2L, "P", "en"),
      (3L, "Q", "fr"), (4L, "Q", "en"))
      .toDF("doc_id", "source", "lang")
    val got = Distribution.labelImpurity(docs)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3), r.getLong(4), r.getLong(5)))
      .toMap
    assert(got("P") === ((2L, 1L, "en", 10000L, 0L)))
    assert(got("Q") === ((2L, 2L, "en", 5000L, 500000L)))
  }

  /** Equi-depth histogram with ties: quantities [1,1,1,2,3,3,4,5], n=8,
    * k=8 — each distinct value's rows land in ONE bucket at
    * (rows_below·k) div n, so the tie clump at 1 fills bucket 0 and
    * buckets 1-2 stay empty (the tie-respecting semantics, visible). */
  test("equi-depth histogram: tie-respecting bucket assignment") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_eqd").toString
    Seq(1L, 1L, 1L, 2L, 3L, 3L, 4L, 5L).toDF("l_quantity")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val got = graft.SparkEntry.queries("agg_histogram_eqdepth")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq === Seq(
      (0L, 3L, 1L, 1L),
      (3L, 1L, 2L, 2L),
      (4L, 2L, 3L, 3L),
      (6L, 1L, 4L, 4L),
      (7L, 1L, 5L, 5L)))
  }

  /** Pareto share hand cases: n=5 → m=1, top spender carries 1/3; a tie
    * at the boundary value takes exactly (m − above) of the tied
    * customers, not all of them. */
  test("pareto share: exact top-20% mass incl. boundary ties") {
    import spark.implicits._
    val a = Seq((1L, 1.00), (2L, 2.00), (3L, 3.00), (4L, 4.00), (5L, 5.00))
      .toDF("o_custkey", "o_totalprice")
    val ra = Distribution.paretoShare(a).collect().head
    assert((ra.getLong(0), ra.getLong(1), ra.getLong(2), ra.getLong(3),
      ra.getLong(4)) === ((5L, 1L, 1500L, 500L, 3333L)))
    val b = Seq((1L, 1.00), (2L, 1.00), (3L, 4.00), (4L, 4.00))
      .toDF("o_custkey", "o_totalprice")
    val rb = Distribution.paretoShare(b).collect().head
    assert((rb.getLong(0), rb.getLong(1), rb.getLong(2), rb.getLong(3),
      rb.getLong(4)) === ((4L, 1L, 1000L, 400L, 4000L)))
  }

  /** Property: the Gini coefficient is scale-free — multiplying every
    * spend by a constant must not move a single basis point (the
    * integer numerator and denominator both scale by k, and the
    * floor-division ratio is exact). Randomized spends, exact equality. */
  test("gini: scale invariance property on random spends") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val gen = Gen.listOfN(60, Gen.choose(1L, 2000L))
    for (seed <- 1L to 5L) {
      val spends = gen.apply(Gen.Parameters.default, Seed(seed)).get
      def ordersOf(k: Long) = {
        import spark.implicits._
        spends.zipWithIndex
          .map { case (v, i) => (i.toLong, (v * k).toDouble) }
          .toDF("o_custkey", "o_totalprice")
      }
      import spark.implicits._
      val customer = spends.indices.map(i => (i.toLong, "S"))
        .toDF("c_custkey", "c_mktsegment")
      val base = Distribution.giniBySegment(ordersOf(1L), customer)
        .collect().head
      val scaled = Distribution.giniBySegment(ordersOf(7L), customer)
        .collect().head
      assert(base.getLong(3) === scaled.getLong(3), s"seed $seed: gini moved")
      assert(scaled.getLong(2) === 7L * base.getLong(2), s"seed $seed: total")
      assert(base.getLong(1) === scaled.getLong(1))
    }
  }

  /** Winsorized mean on cents 1..40: p5 rank cut = 2, p95 = 38 — the
    * tails clamp (1→2, 39→38, 40→38) and the robust mean stays at the
    * uncontaminated center. */
  test("winsorized mean: exact rank cuts and clamped mass") {
    import spark.implicits._
    val li = (1 to 40).map(i => i / 100.0).toDF("l_extendedprice")
    val r = Distribution.winsorizedMean(li).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4), r.getLong(5), r.getLong(6)) ===
      ((40L, 2L, 38L, 818L, 820L, 20L, 20L)))
  }

  test("hoover: equal spends → 0; concentrated → hand value") {
    import spark.implicits._
    val customer = Seq(
      (1L, "EQ"), (2L, "EQ"), (3L, "EQ"), (4L, "EQ"),
      (11L, "SK"), (12L, "SK"), (13L, "SK"), (14L, "SK"))
      .toDF("c_custkey", "c_mktsegment")
    val orders = Seq(
      (1L, 100.0), (2L, 100.0), (3L, 100.0), (4L, 100.0),
      // SK: 1, 1, 1, 97 → Σ|4x − 100| = 3·96 + 288 = 576 (dollars)
      // H_bp = 10000·57600¢ div (2·4·10000¢) = 7200
      (11L, 1.0), (12L, 1.0), (13L, 1.0), (14L, 97.0))
      .toDF("o_custkey", "o_totalprice")
    val got = Distribution.hooverBySegment(orders, customer)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got("EQ") === ((4L, 40000L, 0L)))
    assert(got("SK") === ((4L, 10000L, 7200L)))
  }

  test("trimmed mean: partial boundary takes on 1..40, ranks exact") {
    import spark.implicits._
    // n=40: lo = ceil(40/20) = 2 (ranks 1-2 drop), hi = 38 (39-40 drop)
    // kept = values 3..38 → sum = (3+38)·36/2 = 738 cents, mean 20
    val li = (1 to 40).map(i => i / 100.0).toDF("l_extendedprice")
    val r = Distribution.trimmedMean(li).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4), r.getLong(5)) === ((40L, 2L, 38L, 36L, 738L, 20L)))
  }

  test("trimmed mean: tie clump straddling a cut is taken partially") {
    import spark.implicits._
    // 20 copies of 1 cent: n=20, lo=1, hi=19 → kept = 18 ranks of the
    // SAME value (the clump spans both cuts; whole-clump keep/drop
    // would give 20 or 0)
    val li = Seq.fill(20)(0.01).toDF("l_extendedprice")
    val r = Distribution.trimmedMean(li).collect().head
    assert((r.getLong(3), r.getLong(4), r.getLong(5)) === ((18L, 18L, 1L)))
  }

  test("approx_count_distinct within 5% of exact (A7)") {
    val li = Tables.lineitem(spark, sfDir)
    val row = li.agg(
      countDistinct(col("l_orderkey")).as("exact"),
      approx_count_distinct(col("l_orderkey"), 0.01).as("approx")).collect()(0)
    val exact = row.getLong(0).toDouble
    val approx = row.getLong(1).toDouble
    assert(math.abs(approx - exact) / exact < 0.03,
      s"approx $approx vs exact $exact")
  }
}
