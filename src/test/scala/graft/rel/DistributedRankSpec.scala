package graft.rel

import graft.SparkSuite

/** The prefix-sum distribution functions must be BIT-equal to the
  * built-in window operator — same ntile fencepost policy, same
  * integer-ratio divisions — at every scale and partition count. */
class DistributedRankSpec extends SparkSuite {

  test("ntileOf matches NTILE bucket boundaries") {
    // n=10,k=4 → sizes 3,3,2,2
    assert((1L to 10L).map(DistributedRank.ntileOf(_, 10L, 4)) ==
      Seq(1, 1, 1, 2, 2, 2, 3, 3, 4, 4))
    // n < k → one row per bucket, rank = bucket
    assert((1L to 3L).map(DistributedRank.ntileOf(_, 3L, 4)) == Seq(1, 2, 3))
    // n divisible by k
    assert((1L to 8L).map(DistributedRank.ntileOf(_, 8L, 4)) ==
      Seq(1, 1, 2, 2, 3, 3, 4, 4))
  }

  test("prefix-sum formulation ≡ built-in window operator, bit-exact") {
    val builtin = graft.rel.Windows.queries.toMap
      .apply("window_distribution").fn(spark, sfDir).collect()
    val scalable = DistributedRank.distributionScalable(spark, sfDir).collect()
    assert(scalable.length == builtin.length)
    // column order differs only in names; compare full tuples in the
    // shared total order (both end in ORDER BY segment, custkey)
    builtin.zip(scalable).foreach { case (b, s) =>
      assert(b.getString(0) == s.getString(0))
      assert(b.getLong(1) == s.getLong(1))
      assert(b.getDouble(2) == s.getDouble(2))
      assert(b.getInt(3) == s.getInt(3), s"ntile differs at ${b.getLong(1)}")
      // bit-exact, not approx: both sides are the same integer-ratio
      // double divisions
      assert(b.getDouble(4) == s.getDouble(4), s"pct_rank at ${b.getLong(1)}")
      assert(b.getDouble(5) == s.getDouble(5), s"cume at ${b.getLong(1)}")
    }
  }

  test("property: random skew/tie distributions ≡ built-in window, any parts") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    import org.scalacheck.Gen
    import spark.implicits._
    val rows = Gen.listOfN(400, for {
      s <- Gen.oneOf("A", "B", "C", "D", "E")   // skewed few segments
      v <- Gen.oneOf(1.0, 2.0, 2.0, 3.0, 7.5)  // HEAVY value ties
    } yield (s, v))
    for (trial <- 1 to 3) {
      val data = rows.sample.get.zipWithIndex
        .map { case ((s, v), i) => (s, i.toLong, v) }
      val df = data.toDF("seg", "key", "v")
      val w = Window.partitionBy(col("seg"))
        .orderBy(col("v").desc, col("key"))
      val expected = df
        .withColumn("quartile", ntile(4).over(w))
        .withColumn("pct_rank", percent_rank().over(w))
        .withColumn("cume", cume_dist().over(w))
        .orderBy(col("seg"), col("key")).collect().toSeq
      for (parts <- Seq(1, 3, 16)) {
        val got = DistributedRank.distributionOver(df, parts).collect().toSeq
        assert(got == expected, s"trial=$trial parts=$parts")
      }
    }
  }

  test("weighted median: prefix-sum formulation ≡ RANGE-frame window, " +
      "bit-exact, any parts") {
    val builtin = graft.rel.RelQueries.queries.toMap
      .apply("agg_weighted_median").fn(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSeq
    for (parts <- Seq(1, 7, 32)) {
      val got = DistributedRank.weightedMedianScalable(spark, sfDir, parts)
        .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
      assert(got == builtin, s"parts=$parts")
    }
  }

  test("property: weighted median with ties spanning partitions ≡ window") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    import org.scalacheck.Gen
    import spark.implicits._
    val rows = Gen.listOfN(300, for {
      g <- Gen.oneOf("A", "B", "C")
      v <- Gen.oneOf(1.0, 2.0, 2.0, 2.0, 5.0) // heavy ties
      w <- Gen.chooseNum(0L, 50L)             // zero weights included
    } yield (g, v, w))
    for (trial <- 1 to 3) {
      val df = rows.sample.get.toDF("grp", "v", "w")
      val cum = Window.partitionBy(col("grp")).orderBy(col("v"))
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
      val tot = Window.partitionBy(col("grp"))
      val expected = df
        .select(col("grp"), col("v"),
          sum(col("w")).over(cum).as("cumw"), sum(col("w")).over(tot).as("t"))
        .filter(col("cumw") * 2 >= col("t"))
        .groupBy(col("grp")).agg(min(col("v")).as("m"))
        .orderBy(col("grp"))
        .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
      for (parts <- Seq(1, 4, 16)) {
        val got = DistributedRank.weightedMedianOver(df, parts)
          .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
        assert(got == expected, s"trial=$trial parts=$parts")
      }
    }
  }

  test("type-7 quantiles: rank-pick formulation ≡ window version, " +
      "bit-exact, any parts") {
    val builtin = graft.rel.RelQueries.queries.toMap
      .apply("agg_quantile_cont").fn(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
      .toSeq
    for (parts <- Seq(1, 7, 32)) {
      val got = DistributedRank.quantileContScalable(spark, sfDir, parts)
        .collect()
        .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
        .toSeq
      assert(got == builtin, s"parts=$parts")
    }
  }

  test("skyline: prefix-max formulation ≡ window sweep, any parts") {
    val builtin = graft.rel.RelQueries.queries.toMap
      .apply("skyline_pareto").fn(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2), r.getLong(3)))
      .toSeq
    for (parts <- Seq(1, 7, 32)) {
      val got = DistributedRank.skylineScalable(spark, sfDir, parts)
        .collect()
        .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2), r.getLong(3)))
        .toSeq
      assert(got == builtin, s"parts=$parts")
    }
  }

  test("property: skyline frontier with plateaus and duplicates ≡ window") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    import org.scalacheck.Gen
    import spark.implicits._
    val rows = Gen.listOfN(300, for {
      g <- Gen.oneOf("A", "B")
      v <- Gen.chooseNum(1, 20)              // few values → frontier plateaus
      s <- Gen.oneOf(1.0, 2.0, 2.0, 5.0)     // heavy score ties
    } yield (g, v.toDouble, s))
    for (trial <- 1 to 3) {
      val mx = rows.sample.get.toDF("grp", "v", "s")
        .groupBy(col("grp"), col("v")).agg(max(col("s")).as("s"))
      val w = Window.partitionBy(col("grp")).orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val expected = mx.withColumn("prev", max(col("s")).over(w))
        .filter(col("prev").isNull || col("s") > col("prev"))
        .select(col("grp"), col("v"), col("s"))
        .orderBy(col("grp"), col("v"))
        .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
        .toSeq
      for (parts <- Seq(1, 4, 16)) {
        val got = DistributedRank.skylineFrontier(mx, parts)
          .orderBy(col("grp"), col("v"))
          .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
          .toSeq
        assert(got == expected, s"trial=$trial parts=$parts")
      }
    }
  }

  test("exact ranks survive degenerate partition counts") {
    // parts=1 (everything in one range) and parts ≫ rows (mostly-empty
    // partitions) must both reproduce the built-in result
    val builtin = graft.rel.Windows.queries.toMap
      .apply("window_distribution").fn(spark, sfDir).collect()
    for (parts <- Seq(1, 7, 256)) {
      val got = DistributedRank.distributionScalable(spark, sfDir, parts).collect()
      assert(got.length == builtin.length, s"parts=$parts")
      builtin.zip(got).foreach { case (b, s) =>
        assert(b.getLong(1) == s.getLong(1) && b.getInt(3) == s.getInt(3) &&
          b.getDouble(4) == s.getDouble(4) && b.getDouble(5) == s.getDouble(5),
          s"parts=$parts custkey=${b.getLong(1)}")
      }
    }
  }
}
