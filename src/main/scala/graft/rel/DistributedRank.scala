package graft.rel

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{Tables, Width}

/** Scale-safe distribution functions (SURVEY.md §2.9 W1 — the at-scale
  * twin of `window_distribution`).
  *
  * ntile / percent_rank / cume_dist need the exact size of their window
  * partition, so the built-in window operator sorts each PARTITION BY
  * group inside one task — with a low-cardinality key (5 market
  * segments) that is five straggler tasks each sorting 20% of the table,
  * a shape that dies at 100 TB.
  *
  * This module computes the same three functions with a distributed
  * sort and a prefix-sum, the classic parallel ranking algorithm:
  *
  *   1. range-partition + sort by (segment, value DESC, key) — Spark's
  *      `repartitionByRange` samples boundaries, so every partition holds
  *      a contiguous slice of the global order and NO task sorts more
  *      than ~1/parts of the data;
  *   2. per-(partition, segment) row counts — bounded driver metadata
  *      (≤ parts + segments entries, because each partition covers a
  *      contiguous segment range);
  *   3. driver prefix-sum of those counts → the global rank offset of
  *      each partition within its segment, broadcast back;
  *   4. second pass over the SAME cached partitions: global rank =
  *      partition offset + local ordinal, from which ntile(k),
  *      percent_rank = (rank-1)/(n-1) and cume_dist = rank/n follow in
  *      closed form (the ORDER BY ends in a unique key, so rank ≡
  *      row_number and every row is its own peer group — the same
  *      contract the oracle SQL pins).
  *
  * The pass-2 math is exact whatever boundaries the range sampler picks:
  * offsets are computed from the materialized partitioning itself (the
  * DataFrame is persisted between the two passes precisely so both read
  * the same partitions).
  */
object DistributedRank {

  /** Range-partition count for the two-pass prefix-sum skeleton over
    * `table` (see core.Width.spread). The cap is the session width ×4:
    * range tasks are sort-heavy, so oversubscribing cores a little keeps
    * the tail busy. Every result in this module is partition-count
    * invariant (property-pinned in DistributedRankSpec across parts
    * sweeps). */
  private def rangeWidth(spark: SparkSession, dir: String,
      table: String): Int =
    Width.spread(Width.rows(spark, dir, table), 4L * Width.sessionWidth(spark))

  /** Spark/DuckDB NTILE bucket of global rank `rn` among `n` rows in `k`
    * buckets: the first n%k buckets take ⌈n/k⌉ rows, the rest ⌊n/k⌋. */
  def ntileOf(rn: Long, n: Long, k: Int): Int = {
    val q = n / k
    val r = (n % k).toInt
    val big = (q + 1) * r // rows living in the oversized buckets
    if (rn <= big) ((rn - 1) / (q + 1)).toInt + 1
    else r + ((rn - big - 1) / q).toInt + 1
  }

  /** `window_distribution`'s result via the prefix-sum formulation. */
  def distributionScalable(spark: SparkSession, dir: String,
      parts: Int = 0): DataFrame =
    distributionOver(Tables.customer(spark, dir)
      .select(col("c_mktsegment"), col("c_custkey"), col("c_acctbal")),
      if (parts > 0) parts
      else rangeWidth(spark, dir, "customer"))

  /** The algorithm over any (segment STRING, key LONG, value DOUBLE)
    * projection — factored out so property tests can feed arbitrary
    * distributions (ties, skew, empty-partition regimes). */
  def distributionOver(input: DataFrame, parts: Int): DataFrame = {
    val spark = input.sparkSession
    val Seq(seg, key, value) = input.columns.toSeq.map(col)
    val sorted = input
      .repartitionByRange(parts, seg, value.desc, key)
      .sortWithinPartitions(seg, value.desc, key)
      .persist()

    // pass 1 (action — also materializes the cache both passes share):
    // per-(partition, segment) counts, segment-contiguous so ≤ parts +
    // #segments rows of driver metadata at any corpus size
    val counts: Array[(Int, String, Long)] =
      sorted.rdd.mapPartitionsWithIndex { (pid, it) =>
        val m = mutable.LinkedHashMap.empty[String, Long]
        it.foreach { r =>
          val s = r.getString(0); m.update(s, m.getOrElse(s, 0L) + 1L)
        }
        m.iterator.map { case (s, c) => (pid, s, c) }
      }.collect()

    val totals: Map[String, Long] =
      counts.groupBy(_._2).map { case (s, a) => s -> a.map(_._3).sum }
    val offsets: Map[(Int, String), Long] = {
      val run = mutable.Map.empty[String, Long]
      counts.sortBy(_._1).map { case (pid, s, c) =>
        val o = run.getOrElse(s, 0L); run.update(s, o + c); ((pid, s), o)
      }.toMap
    }
    val bTot = spark.sparkContext.broadcast(totals)
    val bOff = spark.sparkContext.broadcast(offsets)

    // pass 2: local ordinal + broadcast offset = exact global rank
    val ranked = sorted.rdd.mapPartitionsWithIndex { (pid, it) =>
      val local = mutable.Map.empty[String, Long]
      it.map { r =>
        val seg = r.getString(0)
        val lr = local.getOrElse(seg, 0L) + 1L; local.update(seg, lr)
        val rn = bOff.value((pid, seg)) + lr
        val n = bTot.value(seg)
        Row(seg, r.getLong(1), r.getDouble(2),
          ntileOf(rn, n, 4),
          if (n == 1L) 0.0 else (rn - 1).toDouble / (n - 1).toDouble,
          rn.toDouble / n.toDouble)
      }
    }
    val names = input.columns
    val schema = StructType(Seq(
      StructField(names(0), StringType),
      StructField(names(1), LongType),
      StructField(names(2), DoubleType),
      StructField("quartile", IntegerType),
      StructField("pct_rank", DoubleType),
      StructField("cume", DoubleType)))
    spark.createDataFrame(ranked, schema).orderBy(seg, key)
  }

  /** `agg_weighted_median`'s result via the same distributed-sort +
    * prefix-sum formulation — the at-scale twin of the RANGE-frame
    * window version, whose per-group cumulative sum sorts each
    * PARTITION BY group inside one task (3 straggler tasks at 100 TB).
    *
    * Same two passes as [[distributionOver]], with WEIGHT SUMS instead
    * of row counts as the prefix-summed quantity: range-partition by
    * (group, value), per-(partition, group) weight subtotals (bounded
    * driver metadata), prefix-sum → each partition's starting
    * cumulative weight, then one forward scan per partition finds the
    * global crossing row 2·cumw ≥ total — at most one per group, since
    * cumulative weight is monotone. Weights are summed as integer
    * CENTS (exact: DECIMAL(12,2)·100 in a Long), so the crossing
    * comparison is integer arithmetic — bit-safe at any parallelism,
    * the same exactness contract as the DECIMAL window sum.
    *
    * Tie groups may span partitions; that is safe because the batch
    * RANGE frame and the running per-row sum first clear the threshold
    * at the same value: the running sum is ≤ the range-frame sum at
    * every row of a tie group and equals it on the group's last row. */
  def weightedMedianScalable(spark: SparkSession, dir: String,
      parts: Int = 0): DataFrame = {
    import graft.core.Exact.money
    weightedMedianOver(
      Tables.lineitem(spark, dir).select(col("l_returnflag"),
        col("l_quantity"),
        (money(col("l_extendedprice")) * 100).cast("long").as("w_cents")),
      if (parts > 0) parts
      else rangeWidth(spark, dir, "lineitem"))
      .toDF("l_returnflag", "wmedian_qty")
  }

  /** The algorithm over any (group STRING, value DOUBLE, weight LONG)
    * projection. */
  def weightedMedianOver(input: DataFrame, parts: Int): DataFrame = {
    val spark = input.sparkSession
    val Seq(grp, value, _) = input.columns.toSeq.map(col)
    val sorted = input
      .repartitionByRange(parts, grp, value)
      .sortWithinPartitions(grp, value)
      .persist()
    try {
      // pass 1: per-(partition, group) weight subtotal — ≤ parts +
      // #groups entries (groups are contiguous under the range sort)
      val sums: Array[(Int, String, Long)] =
        sorted.rdd.mapPartitionsWithIndex { (pid, it) =>
          val m = mutable.LinkedHashMap.empty[String, Long]
          it.foreach { r =>
            val g = r.getString(0); m.update(g, m.getOrElse(g, 0L) + r.getLong(2))
          }
          m.iterator.map { case (g, w) => (pid, g, w) }
        }.collect()
      val totals: Map[String, Long] =
        sums.groupBy(_._2).map { case (g, a) => g -> a.map(_._3).sum }
      val offsets: Map[(Int, String), Long] = {
        val run = mutable.Map.empty[String, Long]
        sums.sortBy(_._1).map { case (pid, g, w) =>
          val o = run.getOrElse(g, 0L); run.update(g, o + w); ((pid, g), o)
        }.toMap
      }
      val bTot = spark.sparkContext.broadcast(totals)
      val bOff = spark.sparkContext.broadcast(offsets)
      // a group's globally-first partition: needed to place the
      // degenerate all-zero-weight crossing (total = 0 ⇒ every prefix
      // "clears" the threshold ⇒ the answer is the group's first value)
      val bFirst = spark.sparkContext.broadcast(
        sums.groupBy(_._2).map { case (g, a) => g -> a.map(_._1).min })
      // pass 2: forward scan; the first row whose running global weight
      // doubles past the group total is the weighted median (emitted
      // exactly once per group across ALL partitions — cumw is monotone,
      // so the strict prev-below/now-at-or-above transition is unique)
      val crossings: Array[(String, Double)] =
        sorted.rdd.mapPartitionsWithIndex { (pid, it) =>
          val cum = mutable.Map.empty[String, Long]
          val emitted = mutable.Set.empty[String]
          it.flatMap { r =>
            val g = r.getString(0)
            val tot = bTot.value(g)
            val prev = cum.getOrElse(g, bOff.value((pid, g)))
            val c = prev + r.getLong(2)
            cum.update(g, c)
            val crosses =
              if (tot > 0L) 2L * prev < tot && 2L * c >= tot
              else pid == bFirst.value(g) && !emitted(g)
            if (crosses) { emitted += g; Some((g, r.getDouble(1))) }
            else None
          }
        }.collect()
      val rows = crossings.sortBy(_._1).map { case (g, v) => Row(g, v) }
      val schema = StructType(Seq(
        StructField(input.columns(0), StringType),
        StructField("wmedian", DoubleType)))
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows.toSeq, 1), schema)
    } finally { sorted.unpersist(); () }
  }

  /** `agg_quantile_cont`'s Type-7 quantiles via the same two-pass
    * skeleton with ROW COUNTS as the prefix-summed quantity: the
    * RANGE-sorted rows at the lo/hi target ranks of each (group, pct)
    * are picked out by one forward scan (global rank = partition offset
    * + local ordinal), and the interpolation lo + (hi − lo)·frac runs
    * once on the driver with the exact two-digit frac — the identical
    * IEEE sequence the window formulation computes, so the twin is
    * bit-equal (pinned in DistributedRankSpec). No per-group single-task
    * sort anywhere. */
  def quantileContScalable(spark: SparkSession, dir: String,
      parts: Int = 0, pcts: Seq[Int] = Seq(25, 50, 75)): DataFrame = {
    val p = if (parts > 0) parts
      else rangeWidth(spark, dir, "lineitem")
    val sorted = Tables.lineitem(spark, dir)
      .select(col("l_returnflag"), col("l_quantity"))
      .repartitionByRange(p, col("l_returnflag"), col("l_quantity"))
      .sortWithinPartitions(col("l_returnflag"), col("l_quantity"))
      .persist()
    try {
      val counts: Array[(Int, String, Long)] =
        sorted.rdd.mapPartitionsWithIndex { (pid, it) =>
          val m = mutable.LinkedHashMap.empty[String, Long]
          it.foreach { r =>
            val g = r.getString(0); m.update(g, m.getOrElse(g, 0L) + 1L)
          }
          m.iterator.map { case (g, c) => (pid, g, c) }
        }.collect()
      val totals: Map[String, Long] =
        counts.groupBy(_._2).map { case (g, a) => g -> a.map(_._3).sum }
      val offsets: Map[(Int, String), Long] = {
        val run = mutable.Map.empty[String, Long]
        counts.sortBy(_._1).map { case (pid, g, c) =>
          val o = run.getOrElse(g, 0L); run.update(g, o + c); ((pid, g), o)
        }.toMap
      }
      // 1-based target ranks per group: lo = ((n−1)·pct) div 100 + 1,
      // hi = min(lo + 1, n) — the Type-7 index convention
      val targets: Map[String, Set[Long]] = totals.map { case (g, n) =>
        g -> pcts.flatMap { p =>
          val lo = (n - 1) * p / 100 + 1
          Seq(lo, math.min(lo + 1, n))
        }.toSet
      }
      val bOff = spark.sparkContext.broadcast(offsets)
      val bTgt = spark.sparkContext.broadcast(targets)
      val picked: Map[(String, Long), Double] =
        sorted.rdd.mapPartitionsWithIndex { (pid, it) =>
          val local = mutable.Map.empty[String, Long]
          it.flatMap { r =>
            val g = r.getString(0)
            val rk = local.getOrElse(g, bOff.value((pid, g))) + 1L
            local.update(g, rk)
            if (bTgt.value(g)(rk)) Some(((g, rk), r.getDouble(1))) else None
          }
        }.collect().toMap
      val rows = totals.keys.toSeq.sorted.map { g =>
        val n = totals(g)
        val qs = pcts.map { p =>
          val loIdx = (n - 1) * p / 100 + 1
          val hiIdx = math.min(loIdx + 1, n)
          val frac = ((n - 1) * p % 100).toDouble / 100.0
          val lo = picked((g, loIdx)); val hi = picked((g, hiIdx))
          lo + (hi - lo) * frac
        }
        Row.fromSeq(g +: qs)
      }
      val schema = StructType(StructField("l_returnflag", StringType) +:
        pcts.map(p => StructField(s"q$p", DoubleType)))
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), schema)
    } finally { sorted.unpersist(); () }
  }

  /** `skyline_pareto`'s frontier via the same two-pass skeleton with
    * MAX as the prefix-folded quantity: range-partition the per-(group,
    * price) maxima by (group, price), per-(partition, group) max →
    * driver prefix-max → broadcast, then one forward scan emits every
    * row whose qty strictly exceeds the running predecessor max. The
    * input is ALREADY collapsed to one row per (group, price) by a
    * partial aggregation, so no price value spans partitions ambiguously
    * and "predecessor" is exactly "strictly cheaper". */
  def skylineScalable(spark: SparkSession, dir: String,
      parts: Int = 0): DataFrame = {
    import graft.core.Exact.money
    val pts = Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"),
        money(col("l_extendedprice")).cast("double").as("price"),
        col("l_quantity").as("qty"))
      .agg(count(lit(1)).as("n"))
    // each (group, price)'s candidate is its max-qty triple — taken as
    // a struct max so the triple's multiplicity RIDES ALONG as frontier
    // payload (qty is unique per (group, price) in `pts` by
    // construction, so the struct max is unambiguous). This removes the
    // former 3-key multiplicity rejoin against a persisted point table
    // — the widest exchange in the query and the reason it trailed the
    // plain window form (r10/r11 verdicts); the frontier scan now needs
    // only its own range exchange plus the final small orderBy.
    val mx = pts.groupBy(col("l_returnflag"), col("price"))
      .agg(max(struct(col("qty"), col("n"))).as("top"))
      .select(col("l_returnflag"), col("price"),
        col("top.qty").as("qty"), col("top.n").as("n"))
    skylineFrontier(mx,
      if (parts > 0) parts
      else rangeWidth(spark, dir, "lineitem"))
      .orderBy(col("l_returnflag"), col("price"))
  }

  /** Frontier scan over any (group STRING, value DOUBLE, score DOUBLE)
    * projection holding one row per (group, value): emit rows whose
    * score strictly exceeds every lower-value row's score. */
  def skylineOver(input: DataFrame, parts: Int): DataFrame = {
    val Seq(grp, value) = input.columns.take(2).toSeq.map(col)
    skylineFrontier(input, parts).orderBy(grp, value)
  }

  /** `skylineOver` without the final total order — for callers that
    * join or re-aggregate the frontier (the composed declared query),
    * where an internal sort is a wasted exchange. The first three
    * columns are (group STRING, value DOUBLE, score DOUBLE); any
    * FURTHER columns are payload and ride through the scan untouched
    * (the multiplicity column of the declared scalable query), so a
    * caller never needs a rejoin to recover per-row attributes. */
  def skylineFrontier(input: DataFrame, parts: Int): DataFrame = {
    val spark = input.sparkSession
    val Seq(grp, value) = input.columns.take(2).toSeq.map(col)
    // Persisted and NOT eagerly released: pass 2 is a LAZY distributed
    // scan over this exact partitioning, so the blocks must outlive this
    // call; they are freed by the session-level catalog.clearCache()
    // between bench/verify queries. (Even on block eviction the lineage
    // is deterministic — RangePartitioner seeds its sample from the RDD
    // id, so a recompute reproduces the same boundaries the offsets were
    // derived from.)
    val sorted = input
      .repartitionByRange(parts, grp, value)
      .sortWithinPartitions(grp, value)
      .persist()
    // pass 1 — bounded METADATA collect (one row per partition × group,
    // never result rows): per-(partition, group) max score. This also
    // materializes `sorted`, so pass 2 reads the same cached blocks.
    val maxes: Array[(Int, String, Double)] =
      sorted.rdd.mapPartitionsWithIndex { (pid, it) =>
        val m = mutable.LinkedHashMap.empty[String, Double]
        it.foreach { r =>
          val g = r.getString(0)
          val s = r.getDouble(2)
          m.update(g, math.max(m.getOrElse(g, Double.NegativeInfinity), s))
        }
        m.iterator.map { case (g, s) => (pid, g, s) }
      }.collect()
    // driver prefix-max: each partition's predecessor frontier height
    val offsets: Map[(Int, String), Double] = {
      val run = mutable.Map.empty[String, Double]
      maxes.sortBy(_._1).map { case (pid, g, s) =>
        val o = run.getOrElse(g, Double.NegativeInfinity)
        run.update(g, math.max(o, s)); ((pid, g), o)
      }.toMap
    }
    val bOff = spark.sparkContext.broadcast(offsets)
    // pass 2 stays DISTRIBUTED: each partition emits its own frontier
    // rows against the broadcast predecessor heights. The frontier of a
    // 100× corpus with a fine value grid is unbounded, so it must never
    // round-trip through the driver; the final total order is a normal
    // distributed sort over the (already small) frontier. Kept rows
    // pass through WHOLE, payload columns included.
    val schema = sorted.schema
    val kept = sorted.rdd.mapPartitionsWithIndex { (pid, it) =>
      val run = mutable.Map.empty[String, Double]
      it.flatMap { r =>
        val g = r.getString(0)
        val s = r.getDouble(2)
        val prev = run.getOrElse(g, bOff.value((pid, g)))
        run.update(g, math.max(prev, s))
        if (s > prev) Some(r) else None
      }
    }
    spark.createDataFrame(kept, schema)
  }
}
