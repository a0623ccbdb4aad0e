package graft.rel

import org.apache.spark.sql.functions._

import graft.core.{Exact, QueryDef, Tables}

/** Core relational surface over the star schema (SURVEY.md §2.2-2.7):
  * scans, filters, equi/semi/anti/cross joins, hash aggregation,
  * distinct, sorts/limits, set ops. Every query is declarative (Catalyst
  * chooses broadcast-vs-shuffle join, partial+final aggregation, AQE) and
  * ends in a total ORDER BY for the oracle hash-compare.
  *
  * Scale notes (100 TB thinking):
  *  - dimension→fact joins put the small side right of a broadcast-able
  *    join (customer/orders vs lineitem); no join key is high-skew in
  *    this schema, AQE skew-split covers the rest.
  *  - aggregations are keyed on low-cardinality columns → partial
  *    (map-side) aggregation collapses almost all rows before the
  *    shuffle.
  */
object RelQueries {
  import Exact._

  private val q: Seq[(String, QueryDef)] = Seq(

    // ---- A1/A6 heavy aggregation (TPC-H Q1 shape) ----------------------
    "q1_pricing_summary" -> QueryDef(
      (s, d) => {
        val l = Tables.lineitem(s, d)
          .filter(col("l_shipdate") <= to_timestamp(lit("1998-09-02")))
        l.groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(
            sum(col("l_quantity")).cast("double").as("sum_qty"),
            dsum(col("l_extendedprice")).as("sum_base_price"),
            sum(money(col("l_extendedprice")) * oneMinus(col("l_discount")))
              .cast("double").as("sum_disc_price"),
            sum(money(col("l_extendedprice")) * oneMinus(col("l_discount"))
              * onePlus(col("l_tax"))).cast("double").as("sum_charge"),
            (sum(col("l_quantity")) / count(col("l_quantity"))).as("avg_qty"),
            davg(col("l_extendedprice")).as("avg_price"),
            (sum(rate(col("l_discount"))).cast("double") / count(col("l_discount")))
              .as("avg_disc"),
            count(lit(1)).as("count_order"))
          .orderBy(col("l_returnflag"), col("l_linestatus"))
      },
      """SELECT l_returnflag, l_linestatus,
        |  CAST(CAST(SUM(l_quantity) AS VARCHAR) AS DOUBLE) AS sum_qty,
        |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sum_base_price,
        |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(3,2))) AS VARCHAR) AS DOUBLE) AS sum_disc_price,
        |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(3,2)) * CAST(1 + CAST(l_tax AS DECIMAL(4,2)) AS DECIMAL(3,2))) AS VARCHAR) AS DOUBLE) AS sum_charge,
        |  CAST(CAST(SUM(l_quantity) AS VARCHAR) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
        |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) / COUNT(l_extendedprice) AS avg_price,
        |  CAST(CAST(SUM(CAST(l_discount AS DECIMAL(4,2))) AS VARCHAR) AS DOUBLE) / COUNT(l_discount) AS avg_disc,
        |  COUNT(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),

    // ---- J2 multi-way join + agg + top-k (TPC-H Q3 shape) --------------
    "q3_shipping_priority" -> QueryDef(
      (s, d) => {
        val cut = to_timestamp(lit("1996-03-15"))
        val c = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
        val o = Tables.orders(s, d).filter(col("o_orderdate") < cut)
        val l = Tables.lineitem(s, d).filter(col("l_shipdate") > cut)
        l.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(c, col("o_custkey") === col("c_custkey"))
          .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
          .agg(sum(money(col("l_extendedprice")) * oneMinus(col("l_discount")))
            .cast("double").as("revenue"))
          .select(col("l_orderkey"), to_date(col("o_orderdate")).as("order_date"),
            col("o_orderpriority"), col("revenue"))
          .orderBy(col("revenue").desc, col("l_orderkey"))
          .limit(10)
      },
      """SELECT l_orderkey, CAST(o_orderdate AS DATE) AS order_date, o_orderpriority,
        |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(3,2))) AS VARCHAR) AS DOUBLE) AS revenue
        |FROM customer, orders, lineitem
        |WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey AND l_orderkey = o_orderkey
        |  AND o_orderdate < TIMESTAMP '1996-03-15' AND l_shipdate > TIMESTAMP '1996-03-15'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, l_orderkey
        |LIMIT 10""".stripMargin),

    // ---- J2 inner equi join ---------------------------------------------
    "join_inner" -> QueryDef(
      (s, d) => Tables.orders(s, d)
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"), col("o_custkey"), col("c_name"),
          col("c_mktsegment"), col("o_totalprice"))
        .orderBy(col("o_orderkey")),
      """SELECT o_orderkey, o_custkey, c_name, c_mktsegment, o_totalprice
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_orderkey""".stripMargin),

    // ---- J2 left outer join + grouped agg (nulls → 0/0) -----------------
    "join_left_agg" -> QueryDef(
      (s, d) => Tables.customer(s, d)
        .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"), col("c_name"))
        .agg(count(col("o_orderkey")).as("n_orders"),
          dsum0(col("o_totalprice")).as("total_spent"))
        .orderBy(col("c_custkey")),
      """SELECT c_custkey, c_name, COUNT(o_orderkey) AS n_orders,
        |  CAST(CAST(COALESCE(SUM(CAST(o_totalprice AS DECIMAL(12,2))), 0) AS VARCHAR) AS DOUBLE) AS total_spent
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey, c_name
        |ORDER BY c_custkey""".stripMargin),

    // ---- J3 semi / anti --------------------------------------------------
    "join_semi" -> QueryDef(
      (s, d) => Tables.customer(s, d)
        .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey")),
      """SELECT c_custkey, c_name FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |ORDER BY c_custkey""".stripMargin),

    "join_anti" -> QueryDef(
      (s, d) => Tables.customer(s, d)
        .join(Tables.orders(s, d).filter(col("o_orderstatus") === "P"),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey")),
      """SELECT c_custkey, c_name FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'P')
        |ORDER BY c_custkey""".stripMargin),

    // ---- J5 cross join (bounded dims only) -------------------------------
    "join_cross" -> QueryDef(
      (s, d) => {
        val r1 = Tables.region(s, d).select(col("r_name").as("region_a"))
        val r2 = Tables.region(s, d).select(col("r_name").as("region_b"))
        r1.crossJoin(r2).orderBy(col("region_a"), col("region_b"))
      },
      """SELECT r1.r_name AS region_a, r2.r_name AS region_b
        |FROM region r1 CROSS JOIN region r2
        |ORDER BY region_a, region_b""".stripMargin),

    // ---- A6 global aggregates -------------------------------------------
    "agg_stats_global" -> QueryDef(
      (s, d) => Tables.lineitem(s, d).agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col("l_orderkey")).as("n_orders"),
        min(col("l_quantity")).as("min_qty"),
        max(col("l_quantity")).as("max_qty"),
        dsum(col("l_extendedprice")).as("sum_price"),
        davg(col("l_extendedprice")).as("avg_price")),
      """SELECT COUNT(*) AS n_rows, COUNT(DISTINCT l_orderkey) AS n_orders,
        |  MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty,
        |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sum_price,
        |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) / COUNT(l_extendedprice) AS avg_price
        |FROM lineitem""".stripMargin),

    // ---- A12 equi-width histogram: buckets derived through exact
    //      DECIMAL cents (double CAST rounds in DuckDB but truncates in
    //      Spark — the cents grid sidesteps the mismatch entirely);
    //      one partial-aggregated groupBy, bucket count bounded by the
    //      value range, not the data --------------------------------------
    "agg_histogram" -> QueryDef(
      (s, d) => {
        Tables.lineitem(s, d)
          .select(expr(
            """cast(cast(l_extendedprice as decimal(12,2)) * 100 as bigint)
              |  div 1000000""".stripMargin).as("bucket"),
            col("l_extendedprice").cast("decimal(12,2)").as("dec"))
          .groupBy(col("bucket"))
          .agg(count(lit(1)).as("n_rows"),
            sum(col("dec")).cast("double").as("sum_price"),
            min(col("dec")).cast("double").as("lo"),
            max(col("dec")).cast("double").as("hi"))
          .orderBy(col("bucket"))
      },
      """SELECT CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)
        |         // 1000000 AS bucket,
        |       COUNT(*) AS n_rows,
        |       CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sum_price,
        |       CAST(MIN(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS lo,
        |       CAST(MAX(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS hi
        |FROM lineitem
        |GROUP BY bucket ORDER BY bucket""".stripMargin),

    // ---- A12b equi-DEPTH histogram (quantile-bucketed, tie-respecting):
    //      bucket(v) = cum_rows_below(v)·k div n on the DISTINCT-value
    //      relation, so all rows of a value share a bucket (the standard
    //      tie rule) and the ranking window runs over |distinct values|
    //      rows — bounded by the quantity domain here; for near-unique
    //      keys the rel/DistributedRank two-pass prefix form is the
    //      documented scale path. Bucket populations are equal up to tie
    //      clumping — exactly what the surface lets a reader verify ----
    "agg_histogram_eqdepth" -> QueryDef(
      (s, d) => {
        val k = 8
        val byValue = Tables.lineitem(s, d)
          .select(col("l_quantity").cast("long").as("v"))
          .groupBy(col("v")).agg(count(lit(1)).as("cnt"))
        val w = org.apache.spark.sql.expressions.Window.orderBy(col("v"))
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
        val tot = byValue.agg(sum(col("cnt")).as("n"))
        byValue
          .withColumn("below", coalesce(sum(col("cnt")).over(w), lit(0L)))
          .crossJoin(broadcast(tot))
          .select(expr(s"(below * $k) div n").as("bucket"),
            col("v"), col("cnt"))
          .groupBy(col("bucket"))
          .agg(sum(col("cnt")).as("n_rows"),
            min(col("v")).as("lo"), max(col("v")).as("hi"))
          .orderBy(col("bucket"))
      },
      """WITH by_value AS (
        |  SELECT CAST(l_quantity AS BIGINT) AS v, COUNT(*) AS cnt
        |  FROM lineitem GROUP BY 1),
        |cum AS (
        |  SELECT v, cnt,
        |    CAST(COALESCE(SUM(cnt) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS below
        |  FROM by_value),
        |t AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM by_value)
        |SELECT (below * 8) // n AS bucket,
        |  CAST(SUM(cnt) AS BIGINT) AS n_rows,
        |  MIN(v) AS lo, MAX(v) AS hi
        |FROM cum CROSS JOIN t
        |GROUP BY 1 ORDER BY bucket""".stripMargin),

    // ---- A4 mode aggregate, pinned min-key tie-break ---------------------
    "agg_mode_year" -> QueryDef(
      (s, d) => Tables.orders(s, d)
        .groupBy(year(col("o_orderdate")).as("y"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("y").asc)
        .limit(1),
      """SELECT CAST(year(o_orderdate) AS INT) AS y, COUNT(*) AS n
        |FROM orders GROUP BY 1 ORDER BY n DESC, y ASC LIMIT 1""".stripMargin),

    // ---- A3 distinct on key subset --------------------------------------
    "distinct_dims" -> QueryDef(
      (s, d) => Tables.customer(s, d)
        .select(col("c_mktsegment").as("mktsegment"), col("c_nationkey").as("nationkey"))
        .dropDuplicates("mktsegment", "nationkey")
        .orderBy(col("mktsegment"), col("nationkey")),
      """SELECT DISTINCT c_mktsegment AS mktsegment, c_nationkey AS nationkey
        |FROM customer ORDER BY mktsegment, nationkey""".stripMargin),

    // ---- O1/O2 global multi-key sort + limit ----------------------------
    "sort_limit" -> QueryDef(
      (s, d) => Tables.lineitem(s, d)
        .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
        .limit(1000)
        .select(col("l_orderkey"), col("l_linenumber"),
          to_date(col("l_shipdate")).as("ship_date"), col("l_quantity")),
      """SELECT l_orderkey, l_linenumber, CAST(l_shipdate AS DATE) AS ship_date, l_quantity
        |FROM lineitem
        |ORDER BY l_shipdate, l_orderkey, l_linenumber
        |LIMIT 1000""".stripMargin),

    // ---- U3 set operations ----------------------------------------------
    "set_intersect" -> QueryDef(
      (s, d) => Tables.customer(s, d).select(col("c_nationkey").as("nationkey"))
        .intersect(Tables.supplier(s, d).select(col("s_nationkey").as("nationkey")))
        .orderBy(col("nationkey")),
      """SELECT c_nationkey AS nationkey FROM customer
        |INTERSECT SELECT s_nationkey FROM supplier
        |ORDER BY nationkey""".stripMargin),

    "set_except" -> QueryDef(
      (s, d) => Tables.customer(s, d)
        .filter(col("c_custkey") <= 100).select(col("c_custkey").as("custkey"))
        .except(Tables.customer(s, d)
          .filter(col("c_mktsegment") === "BUILDING")
          .select(col("c_custkey").as("custkey")))
        .orderBy(col("custkey")),
      """SELECT c_custkey AS custkey FROM customer WHERE c_custkey <= 100
        |EXCEPT SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |ORDER BY custkey""".stripMargin),

    // ---- U3b BAG-semantics set ops: INTERSECT ALL / EXCEPT ALL keep
    //      multiplicities (min / truncated difference of per-value
    //      counts) — the duplicate-aware contract reconciliation and
    //      diff tools need; Catalyst plans both as count-compare
    //      aggregations, one shuffle each, no row-pairing join ----------
    "set_intersect_all" -> QueryDef(
      (s, d) => Tables.orders(s, d).select(col("o_custkey").as("custkey"))
        .intersectAll(Tables.customer(s, d)
          .filter(col("c_custkey") <= 300).select(col("c_custkey").as("custkey")))
        .groupBy(col("custkey")).agg(count(lit(1)).as("n"))
        .orderBy(col("custkey")),
      """SELECT custkey, COUNT(*) AS n FROM (
        |  SELECT o_custkey AS custkey FROM orders
        |  INTERSECT ALL
        |  SELECT c_custkey FROM customer WHERE c_custkey <= 300)
        |GROUP BY custkey ORDER BY custkey""".stripMargin),

    "set_except_all" -> QueryDef(
      (s, d) => Tables.orders(s, d)
        .filter(col("o_custkey") <= 200).select(col("o_custkey").as("custkey"))
        .exceptAll(Tables.orders(s, d)
          .filter(col("o_custkey") <= 200 && col("o_orderstatus") === "F")
          .select(col("o_custkey").as("custkey")))
        .groupBy(col("custkey")).agg(count(lit(1)).as("n"))
        .orderBy(col("custkey")),
      """SELECT custkey, COUNT(*) AS n FROM (
        |  SELECT o_custkey AS custkey FROM orders WHERE o_custkey <= 200
        |  EXCEPT ALL
        |  SELECT o_custkey FROM orders
        |  WHERE o_custkey <= 200 AND o_orderstatus = 'F')
        |GROUP BY custkey ORDER BY custkey""".stripMargin),

    // ---- A6 HAVING (post-aggregation filter) ----------------------------
    "agg_having" -> QueryDef(
      (s, d) => Tables.orders(s, d)
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("total"))
        .filter(col("n_orders") >= 15)
        .orderBy(col("o_custkey")),
      """SELECT o_custkey, COUNT(*) AS n_orders,
        |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS total
        |FROM orders GROUP BY o_custkey HAVING COUNT(*) >= 15
        |ORDER BY o_custkey""".stripMargin),

    // ---- A7 approx_count_distinct (HLL++) beside its exact twin --------
    //      HLL sketches are engine-specific (Spark HLL++ vs DuckDB's), so
    //      the approx VALUE can never hash-match cross-engine. The gate
    //      instead checks what a user actually relies on: the exact twin
    //      bit-matches, and `approx_ok` pins |approx − exact| ≤ 5% × exact
    //      (rsd 0.02 sketch) as a column the oracle expects to be TRUE —
    //      the accuracy contract itself sits behind the hash compare.
    //      Scale: one pass, no shuffle of distinct values for the sketch
    //      (fixed-size registers merge map-side), vs the exact twin's
    //      partial-distinct expansion.
    "agg_approx_distinct" -> QueryDef(
      (s, d) => Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_orderkey")).as("n_exact"),
          approx_count_distinct(col("l_orderkey"), 0.02).as("n_approx"))
        .select(col("l_returnflag"), col("n_exact"),
          (abs(col("n_approx") - col("n_exact")) <=
            col("n_exact") * 0.05).as("approx_ok"))
        .orderBy(col("l_returnflag")),
      """SELECT l_returnflag, COUNT(DISTINCT l_orderkey) AS n_exact,
        |  TRUE AS approx_ok
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin),

    // ---- A14 bitmap-index exact distinct: the third distinct-counting
    //      discipline beside exact expansion (distinct_dims) and the
    //      HLL sketch (agg_approx_distinct) — keys fold into 63-bit
    //      words (word = key div 63, bit = key mod 63 — bit 63 stays
    //      clear because DuckDB range-checks 1<<63), bit_or merges
    //      them map-side (idempotent, order-free), popcounts sum to
    //      the EXACT distinct count. Shuffle is (group × live words)
    //      rows of 8 bytes — for dense key domains far below the
    //      distinct-expansion volume, and unlike HLL the answer is
    //      exact. The roaring-bitmap pattern in plain relational ops.
    "agg_distinct_bitmap" -> QueryDef(
      (s, d) => {
        val words = Tables.lineitem(s, d)
          .select(col("l_returnflag"),
            expr("l_orderkey div 63").as("word_idx"),
            expr("shiftleft(1L, CAST(l_orderkey % 63 AS INT))").as("bit"))
          .groupBy(col("l_returnflag"), col("word_idx"))
          .agg(expr("bit_or(bit)").as("word"))
        words.groupBy(col("l_returnflag"))
          .agg(sum(expr("bit_count(word)")).cast("long").as("n_distinct"),
            count(lit(1)).as("n_words"))
          .orderBy(col("l_returnflag"))
      },
      """WITH w AS (
        |  SELECT l_returnflag, l_orderkey // 63 AS word_idx,
        |         BIT_OR(1::BIGINT << CAST(l_orderkey % 63 AS INT)) AS word
        |  FROM lineitem GROUP BY 1, 2)
        |SELECT l_returnflag, CAST(SUM(bit_count(word)) AS BIGINT) AS n_distinct,
        |       CAST(COUNT(*) AS BIGINT) AS n_words
        |FROM w GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),

    // ---- A11 second-moment statistics, bit-exact: built-in corr()/
    //      covar_samp()/stddev() accumulate doubles (order-dependent —
    //      unhashable cross-engine), so the moments are EXACT DECIMAL
    //      sums (the Exact.scala move applied to Σx², Σxy) and the
    //      textbook formulas run ONCE in IEEE double on identical exact
    //      inputs — every operation correctly rounded, both engines
    //      bit-equal. Also the partitioning-stable way to compute these
    //      at 100 TB: decimal partial aggregates commute. ----------------
    "agg_corr_exact" -> QueryDef(
      (s, d) => {
        val x = money(col("l_quantity"))
        val y = rate(col("l_discount"))
        Tables.lineitem(s, d)
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n"),
            sum(x).cast("double").as("sx"),
            sum(y).cast("double").as("sy"),
            sum(x * x).cast("double").as("sxx"),
            sum(y * y).cast("double").as("syy"),
            sum(x * y).cast("double").as("sxy"))
          .select(col("l_returnflag"), col("n"),
            ((col("n") * col("sxy") - col("sx") * col("sy")) /
              (sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
                sqrt(col("n") * col("syy") - col("sy") * col("sy"))))
              .as("corr_qty_disc"),
            ((col("n") * col("sxy") - col("sx") * col("sy")) /
              (col("n") * (col("n") - 1))).as("covar_samp"),
            sqrt((col("n") * col("sxx") - col("sx") * col("sx")) /
              (col("n") * (col("n") - 1))).as("stddev_qty"))
          .orderBy(col("l_returnflag"))
      },
      """WITH m AS (
        |  SELECT l_returnflag, COUNT(*) AS n,
        |    CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sx,
        |    CAST(CAST(SUM(CAST(l_discount AS DECIMAL(4,2))) AS VARCHAR) AS DOUBLE) AS sy,
        |    CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sxx,
        |    CAST(CAST(SUM(CAST(l_discount AS DECIMAL(4,2)) * CAST(l_discount AS DECIMAL(4,2))) AS VARCHAR) AS DOUBLE) AS syy,
        |    CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(4,2))) AS VARCHAR) AS DOUBLE) AS sxy
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, n,
        |  (n * sxy - sx * sy) /
        |    (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)) AS corr_qty_disc,
        |  (n * sxy - sx * sy) / (n * (n - 1)) AS covar_samp,
        |  sqrt((n * sxx - sx * sx) / (n * (n - 1))) AS stddev_qty
        |FROM m ORDER BY l_returnflag""".stripMargin),

    // ---- A7b percentile family: discrete median (exact cross-engine —
    //      percentile_disc ≡ DuckDB quantile_disc at p = 0.5 for every n;
    //      interpolated/other-p variants differ in index convention, so
    //      the oracle pins the one portable point) + sketched
    //      approx_percentile under an oracle-checked accuracy bound,
    //      mirroring agg_approx_distinct ------------------------------------
    "agg_median_disc" -> QueryDef(
      (s, d) => Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY l_quantity)")
            .as("median_qty"),
          expr("approx_percentile(l_quantity, 0.5)").as("approx_med"))
        .select(col("l_returnflag"), col("median_qty"),
          (abs(col("approx_med") - col("median_qty")) <= 2.0).as("approx_ok"))
        .orderBy(col("l_returnflag")),
      """SELECT l_returnflag, quantile_disc(l_quantity, 0.5) AS median_qty,
        |  TRUE AS approx_ok
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin),

    // ---- A11b simple OLS regression from exact DECIMAL moments — the
    //      agg_corr_exact discipline extended to slope/intercept/R²:
    //      all five moment sums accumulate as DECIMAL (associative-
    //      exact), each output is a short fixed sequence of IEEE ops on
    //      those exact inputs, so the fit is bit-identical cross-engine
    //      (regr_slope/regr_r2 built-ins accumulate in doubles — their
    //      last bits are NOT portable, which is why the moments are
    //      spelled out). One partial-agg shuffle, 3 groups ---------------
    "agg_regression" -> QueryDef(
      (s, d) => {
        val x = money(col("l_quantity"))
        val y = money(col("l_extendedprice"))
        Tables.lineitem(s, d)
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n"),
            sum(x).cast("double").as("sx"),
            sum(y).cast("double").as("sy"),
            sum(x * x).cast("double").as("sxx"),
            sum(y * y).cast("double").as("syy"),
            sum(x * y).cast("double").as("sxy"))
          .select(col("l_returnflag"), col("n"),
            ((col("n") * col("sxy") - col("sx") * col("sy")) /
              (col("n") * col("sxx") - col("sx") * col("sx"))).as("slope"),
            ((col("sy") - ((col("n") * col("sxy") - col("sx") * col("sy")) /
              (col("n") * col("sxx") - col("sx") * col("sx"))) * col("sx")) /
              col("n")).as("intercept"),
            (((col("n") * col("sxy") - col("sx") * col("sy")) *
              (col("n") * col("sxy") - col("sx") * col("sy"))) /
              ((col("n") * col("sxx") - col("sx") * col("sx")) *
                (col("n") * col("syy") - col("sy") * col("sy")))).as("r2"))
          .orderBy(col("l_returnflag"))
      },
      """WITH m AS (
        |  -- decimal→double via VARCHAR: DuckDB's direct decimal CAST can
        |  -- land 1 ULP off correct rounding (int128/10^s in float — two
        |  -- roundings); the string parse is correctly rounded, matching
        |  -- Spark's BigDecimal.doubleValue on rounding-tie sums
        |  SELECT l_returnflag, COUNT(*) AS n,
        |    CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sx,
        |    CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sy,
        |    CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sxx,
        |    CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS syy,
        |    CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sxy
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, n,
        |  (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope,
        |  (sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n AS intercept,
        |  ((n * sxy - sx * sy) * (n * sxy - sx * sy)) /
        |    ((n * sxx - sx * sx) * (n * syy - sy * sy)) AS r2
        |FROM m ORDER BY l_returnflag""".stripMargin),

    // ---- A7c portable interpolated quantile (Type-7, the R/pandas
    //      default): built-in percentile_cont index conventions differ
    //      across engines, so BOTH sides compute the EXPLICIT formula —
    //      rank the group, k = (n−1)·p, result = v[⌊k⌋] + (v[⌊k⌋+1] −
    //      v[⌊k⌋])·frac with frac an exact two-digit decimal, lo/hi
    //      CARRIED values and one multiply+add at the surface ⇒ bit-
    //      identical by construction. The per-group sort is the
    //      window_distribution cost class (3 groups here); at scale the
    //      rank stage is exactly what rel/DistributedRank distributes ---
    "agg_quantile_cont" -> QueryDef(
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("l_returnflag")).orderBy(col("l_quantity"))
        val ranked = Tables.lineitem(s, d)
          .select(col("l_returnflag"), col("l_quantity"))
          .withColumn("rn", row_number().over(w))
          .withColumn("n", count(lit(1)).over(
            org.apache.spark.sql.expressions.Window.partitionBy(col("l_returnflag"))))
        def arm(pct: Int, alias: String) = {
          val loIdx = expr(s"CAST(((n - 1) * $pct) DIV 100 AS BIGINT)")
          val frac = (((col("n") - 1) * pct) % 100).cast("double") / 100.0
          val lo = sum(when(col("rn") === loIdx + 1, col("l_quantity")))
          val hi = sum(when(col("rn") === least(loIdx + 2, col("n")), col("l_quantity")))
          (lo.as(s"lo_$alias"), hi.as(s"hi_$alias"), max(frac).as(s"f_$alias"))
        }
        val (l25, h25, f25) = arm(25, "q25")
        val (l50, h50, f50) = arm(50, "q50")
        val (l75, h75, f75) = arm(75, "q75")
        ranked
          .groupBy(col("l_returnflag"))
          .agg(l25, h25, f25, l50, h50, f50, l75, h75, f75)
          .select(col("l_returnflag"),
            (col("lo_q25") + (col("hi_q25") - col("lo_q25")) * col("f_q25")).as("q25"),
            (col("lo_q50") + (col("hi_q50") - col("lo_q50")) * col("f_q50")).as("q50"),
            (col("lo_q75") + (col("hi_q75") - col("lo_q75")) * col("f_q75")).as("q75"))
          .orderBy(col("l_returnflag"))
      },
      """WITH ranked AS (
        |  SELECT l_returnflag, l_quantity,
        |    ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY l_quantity) AS rn,
        |    COUNT(*) OVER (PARTITION BY l_returnflag) AS n
        |  FROM lineitem),
        |g AS (
        |  SELECT l_returnflag,
        |    SUM(CASE WHEN rn = ((n - 1) * 25) // 100 + 1 THEN l_quantity END) AS lo25,
        |    SUM(CASE WHEN rn = LEAST(((n - 1) * 25) // 100 + 2, n) THEN l_quantity END) AS hi25,
        |    MAX(CAST(((n - 1) * 25) % 100 AS DOUBLE) / 100.0) AS f25,
        |    SUM(CASE WHEN rn = ((n - 1) * 50) // 100 + 1 THEN l_quantity END) AS lo50,
        |    SUM(CASE WHEN rn = LEAST(((n - 1) * 50) // 100 + 2, n) THEN l_quantity END) AS hi50,
        |    MAX(CAST(((n - 1) * 50) % 100 AS DOUBLE) / 100.0) AS f50,
        |    SUM(CASE WHEN rn = ((n - 1) * 75) // 100 + 1 THEN l_quantity END) AS lo75,
        |    SUM(CASE WHEN rn = LEAST(((n - 1) * 75) // 100 + 2, n) THEN l_quantity END) AS hi75,
        |    MAX(CAST(((n - 1) * 75) % 100 AS DOUBLE) / 100.0) AS f75
        |  FROM ranked GROUP BY l_returnflag)
        |SELECT l_returnflag,
        |  lo25 + (hi25 - lo25) * f25 AS q25,
        |  lo50 + (hi50 - lo50) * f50 AS q50,
        |  lo75 + (hi75 - lo75) * f75 AS q75
        |FROM g ORDER BY l_returnflag""".stripMargin),

    // ---- A7c at-scale twin: same Type-7 quantiles, same oracle, by
    //      distributed range-sort + count prefix-sum + targeted rank
    //      pick instead of a per-group window sort (DistributedRank
    //      scaladoc; bit-equality pinned in DistributedRankSpec) --------
    "agg_quantile_cont_scalable" -> QueryDef(
      (s, d) => DistributedRank.quantileContScalable(s, d)
        .orderBy(col("l_returnflag")),
      """WITH ranked AS (
        |  SELECT l_returnflag, l_quantity,
        |    ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY l_quantity) AS rn,
        |    COUNT(*) OVER (PARTITION BY l_returnflag) AS n
        |  FROM lineitem),
        |g AS (
        |  SELECT l_returnflag,
        |    SUM(CASE WHEN rn = ((n - 1) * 25) // 100 + 1 THEN l_quantity END) AS lo25,
        |    SUM(CASE WHEN rn = LEAST(((n - 1) * 25) // 100 + 2, n) THEN l_quantity END) AS hi25,
        |    MAX(CAST(((n - 1) * 25) % 100 AS DOUBLE) / 100.0) AS f25,
        |    SUM(CASE WHEN rn = ((n - 1) * 50) // 100 + 1 THEN l_quantity END) AS lo50,
        |    SUM(CASE WHEN rn = LEAST(((n - 1) * 50) // 100 + 2, n) THEN l_quantity END) AS hi50,
        |    MAX(CAST(((n - 1) * 50) % 100 AS DOUBLE) / 100.0) AS f50,
        |    SUM(CASE WHEN rn = ((n - 1) * 75) // 100 + 1 THEN l_quantity END) AS lo75,
        |    SUM(CASE WHEN rn = LEAST(((n - 1) * 75) // 100 + 2, n) THEN l_quantity END) AS hi75,
        |    MAX(CAST(((n - 1) * 75) % 100 AS DOUBLE) / 100.0) AS f75
        |  FROM ranked GROUP BY l_returnflag)
        |SELECT l_returnflag,
        |  lo25 + (hi25 - lo25) * f25 AS q25,
        |  lo50 + (hi50 - lo50) * f50 AS q50,
        |  lo75 + (hi75 - lo75) * f75 AS q75
        |FROM g ORDER BY l_returnflag""".stripMargin),

    // ---- A7d weighted median (lower): sort by value, exact DECIMAL
    //      cumulative weight over a RANGE frame (cum-through-value ⇒
    //      every row's cumw is tie-order independent, unlike ROWS), pick
    //      the least value whose doubled cumweight clears the total. No
    //      division, no interpolation — the result is an actual data
    //      value selected by exact comparisons, hash-safe by
    //      construction. The weighted twin of agg_quantile_cont; same
    //      per-group-sort cost class, same DistributedRank scale path ----
    "agg_weighted_median" -> QueryDef(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = money(col("l_extendedprice"))
        val cum = Window.partitionBy(col("l_returnflag"))
          .orderBy(col("l_quantity"))
          .rangeBetween(Window.unboundedPreceding, Window.currentRow)
        val tot = Window.partitionBy(col("l_returnflag"))
        Tables.lineitem(s, d)
          .select(col("l_returnflag"), col("l_quantity"),
            sum(w).over(cum).as("cumw"), sum(w).over(tot).as("w"))
          .filter(col("cumw") * 2 >= col("w"))
          .groupBy(col("l_returnflag"))
          .agg(min(col("l_quantity")).as("wmedian_qty"))
          .orderBy(col("l_returnflag"))
      },
      """WITH r AS (
        |  SELECT l_returnflag, l_quantity,
        |    SUM(CAST(l_extendedprice AS DECIMAL(12,2))) OVER (
        |      PARTITION BY l_returnflag ORDER BY l_quantity
        |      RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumw,
        |    SUM(CAST(l_extendedprice AS DECIMAL(12,2))) OVER (
        |      PARTITION BY l_returnflag) AS w
        |  FROM lineitem)
        |SELECT l_returnflag, MIN(l_quantity) AS wmedian_qty
        |FROM r WHERE cumw * 2 >= w
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin),

    // ---- A7d at-scale twin: same weighted median, same oracle, computed
    //      by distributed range-sort + weight prefix-sum instead of a
    //      per-group RANGE-frame sort in one task (the
    //      window_distribution_scalable pattern — see DistributedRank
    //      scaladoc); bit-equality with the window version additionally
    //      pinned in DistributedRankSpec ---------------------------------
    "agg_weighted_median_scalable" -> QueryDef(
      (s, d) => DistributedRank.weightedMedianScalable(s, d)
        .orderBy(col("l_returnflag")),
      """WITH r AS (
        |  SELECT l_returnflag, l_quantity,
        |    SUM(CAST(l_extendedprice AS DECIMAL(12,2))) OVER (
        |      PARTITION BY l_returnflag ORDER BY l_quantity
        |      RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumw,
        |    SUM(CAST(l_extendedprice AS DECIMAL(12,2))) OVER (
        |      PARTITION BY l_returnflag) AS w
        |  FROM lineitem)
        |SELECT l_returnflag, MIN(l_quantity) AS wmedian_qty
        |FROM r WHERE cumw * 2 >= w
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin),

    // ---- A13 Pareto skyline (Börzsönyi, Kossmann & Stocker, "The
    //      Skyline Operator", ICDE 2001 — non-dominated frontier): the cheapest-
    //      price / highest-quantity frontier per return flag — the
    //      multi-objective FILTER a curation pipeline uses to pick
    //      candidates no other candidate beats on both axes. Dominance:
    //      a beats b iff a.price ≤ b.price ∧ a.qty ≥ b.qty with one
    //      strict. Computed as the classic sweep: collapse to one row
    //      per (flag, price) keeping max qty (partial agg — the bulk
    //      reduction), then a point survives iff its qty strictly
    //      exceeds every cheaper point's max (running MAX over the
    //      price order); duplicates of a surviving point rejoin via the
    //      point table with their multiplicity. Exact comparisons on
    //      DECIMAL cents and integral quantities — no epsilon anywhere.
    //      The window's fat key is the 3-value flag: the same cost
    //      class as agg_weighted_median, and the same escape hatch —
    //      skyline_pareto_scalable (DistributedRank.skylineOver) is the
    //      range-partition + prefix-max deploy path ---------------------
    "skyline_pareto" -> QueryDef(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        // persisted: the point table feeds the maxima AND the
        // multiplicity rejoin; join-side pushdown otherwise defeats
        // exchange reuse and the scan + widest shuffle run twice.
        // The cached blocks outlive this call (the returned plan still
        // reads them lazily); they are released by the session-level
        // catalog.clearCache() between bench/verify queries — the
        // documented lifecycle for every per-query persist in this repo
        val pts = Tables.lineitem(s, d)
          .groupBy(col("l_returnflag"),
            money(col("l_extendedprice")).as("price_d"),
            col("l_quantity").as("qty"))
          .agg(count(lit(1)).as("n"))
          .persist()
        val mx = pts.groupBy(col("l_returnflag"), col("price_d"))
          .agg(max(col("qty")).as("qty"))
        val w = Window.partitionBy(col("l_returnflag"))
          .orderBy(col("price_d"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val sky = mx.withColumn("prevq", max(col("qty")).over(w))
          .filter(col("prevq").isNull || col("qty") > col("prevq"))
        sky.join(pts, Seq("l_returnflag", "price_d", "qty"))
          .select(col("l_returnflag"),
            col("price_d").cast("double").as("price"), col("qty"), col("n"))
          .orderBy(col("l_returnflag"), col("price"))
      },
      skylineParetoSql),

    // ---- A13 at-scale twin: same frontier, same oracle, computed by
    //      distributed range-sort + prefix-MAX (the weightedMedian
    //      discipline with MAX as the prefix-folded quantity) ------------
    "skyline_pareto_scalable" -> QueryDef(
      (s, d) => DistributedRank.skylineScalable(s, d),
      skylineParetoSql),

    // ---- scalar subquery (threshold computed exactly → identical
    //      boundary comparisons in both engines; 1.5× avg selects a real
    //      price tail so the oracle hash-compare bites on actual rows) ----
    "scalar_subquery" -> QueryDef(
      (s, d) => {
        Tables.orders(s, d).createOrReplaceTempView("orders_sq")
        // Spark side: the plain decimal→double cast IS correctly rounded
        // (BigDecimal.doubleValue); the STRING roundtrip is only the
        // DuckDB-side idiom (and Spark has no bare VARCHAR type anyway)
        s.sql(
          """SELECT o_orderkey, o_totalprice FROM orders_sq
            |WHERE o_totalprice > 1.5 * (
            |  SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
            |         / COUNT(o_totalprice) FROM orders_sq)
            |ORDER BY o_orderkey""".stripMargin)
      },
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_totalprice > 1.5 * (
        |  SELECT CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE)
        |         / COUNT(o_totalprice) FROM orders)
        |ORDER BY o_orderkey""".stripMargin),

    // ---- U1 union-by-name with conformance ------------------------------
    "union_parties" -> QueryDef(
      (s, d) => {
        val c = Tables.customer(s, d).select(
          col("c_custkey").as("id"), col("c_name").as("name"),
          col("c_nationkey").as("nationkey"), lit("customer").as("kind"),
          col("c_acctbal").as("acctbal"))
        val su = Tables.supplier(s, d).select(
          col("s_suppkey").as("id"), col("s_name").as("name"),
          col("s_nationkey").as("nationkey"), lit("supplier").as("kind"),
          col("s_acctbal").as("acctbal"))
        c.unionByName(su).orderBy(col("kind"), col("id"))
      },
      """SELECT * FROM (
        |  SELECT c_custkey AS id, c_name AS name, c_nationkey AS nationkey,
        |         'customer' AS kind, c_acctbal AS acctbal FROM customer
        |  UNION ALL
        |  SELECT s_suppkey, s_name, s_nationkey, 'supplier', s_acctbal FROM supplier)
        |ORDER BY kind, id""".stripMargin)
  )

  /** Shared oracle for both skyline paths (a `def`: referenced from `q`
    * during object init). Mirrors the sweep: per-(flag, price) max
    * quantity, running strict-predecessor max over the price order,
    * survivors rejoin the point table for their multiplicity. */
  private def skylineParetoSql: String =
    """WITH pts AS (
      |  SELECT l_returnflag, CAST(l_extendedprice AS DECIMAL(12,2)) AS price_d,
      |         l_quantity AS qty, COUNT(*) AS n
      |  FROM lineitem GROUP BY 1, 2, 3),
      |mx AS (
      |  SELECT l_returnflag, price_d, MAX(qty) AS qty FROM pts GROUP BY 1, 2),
      |sw AS (
      |  SELECT l_returnflag, price_d, qty,
      |    MAX(qty) OVER (PARTITION BY l_returnflag ORDER BY price_d
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prevq
      |  FROM mx)
      |SELECT s.l_returnflag, CAST(s.price_d AS DOUBLE) AS price, s.qty, p.n
      |FROM sw s JOIN pts p USING (l_returnflag, price_d, qty)
      |WHERE s.prevq IS NULL OR s.qty > s.prevq
      |ORDER BY l_returnflag, price""".stripMargin

  def queries: Seq[(String, QueryDef)] = q
}
