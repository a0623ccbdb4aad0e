package graft.rel

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{Exact, QueryDef, Tables}

/** Window-function surface (SURVEY.md §2.9 W1-W5 batch twins).
  *
  * Every window spec orders by a unique tie-break key so results are
  * deterministic under any partitioning. Running/moving SUMs go through
  * DECIMAL — DuckDB evaluates windowed aggregates with a segment tree
  * (combine order ≠ Spark's running add), so double accumulation would
  * drift in the last bits; decimal is associative-exact in both.
  *
  * Scale: ranking/analytic/framed windows partition on high-cardinality
  * keys (user_id / o_custkey / p_brand), so per-key partitions stay
  * small at 100 TB and no task sorts a meaningful fraction of the table.
  * Ranked-then-filtered queries additionally rely on Spark's
  * WindowGroupLimit pushdown (asserted in PlanSpec), which bounds every
  * per-key sort to the top k rows before AND after the shuffle. The one
  * deliberate exception is `window_distribution`: ntile/percent_rank/
  * cume_dist need the exact partition size, so the BUILT-IN operator's
  * full per-partition sort is irreducible — that query keys on 5 market
  * segments and demonstrates the built-in surface. Its at-scale twin is
  * `window_distribution_scalable` (rel/DistributedRank.scala): the same
  * three functions over the same oracle, computed with a distributed
  * range-partitioned sort + driver prefix-sum of per-partition counts,
  * so no task ever sorts more than ~1/parts of the table.
  */
object Windows {
  import Exact._

  private val q: Seq[(String, QueryDef)] = Seq(

    // ---- W1 ranking family + O4 top-k per group -------------------------
    //      partitioned on o_custkey (full key cardinality — the shuffle
    //      spreads over every customer, no 5-way straggler partitions);
    //      the rn ≤ 2 filter triggers WindowGroupLimit so each task keeps
    //      a 2-row heap instead of sorting its whole partition ------------
    "window_rank" -> QueryDef(
      (s, d) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        Tables.orders(s, d)
          .withColumn("rn", row_number().over(w))
          .withColumn("rnk", rank().over(w))
          .withColumn("drnk", dense_rank().over(w))
          .filter(col("rn") <= 2)
          .select(col("o_custkey"), col("o_orderkey"),
            col("o_totalprice"), col("rn"), col("rnk"), col("drnk"))
          .orderBy(col("o_custkey"), col("rn"))
      },
      """SELECT o_custkey, o_orderkey, o_totalprice,
        |  CAST(rn AS INT) AS rn, CAST(rnk AS INT) AS rnk, CAST(drnk AS INT) AS drnk
        |FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    ROW_NUMBER() OVER w AS rn, RANK() OVER w AS rnk, DENSE_RANK() OVER w AS drnk
        |  FROM orders
        |  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey))
        |WHERE rn <= 2
        |ORDER BY o_custkey, rn""".stripMargin),

    "topk_per_group" -> QueryDef(
      (s, d) => {
        val w = Window.partitionBy(col("p_brand"))
          .orderBy(col("p_retailprice").desc, col("p_partkey"))
        Tables.part(s, d)
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 2)
          .select(col("p_brand"), col("p_partkey"), col("p_retailprice"), col("rn"))
          .orderBy(col("p_brand"), col("rn"))
      },
      """SELECT p_brand, p_partkey, p_retailprice, CAST(rn AS INT) AS rn FROM (
        |  SELECT p_brand, p_partkey, p_retailprice,
        |    ROW_NUMBER() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey) AS rn
        |  FROM part)
        |WHERE rn <= 2
        |ORDER BY p_brand, rn""".stripMargin),

    // ---- W1 distribution functions: ntile / percent_rank / cume_dist
    //      (all reduce to integer-ratio double divisions → identical
    //      cross-engine). Deliberately keyed on the 5-value mktsegment:
    //      these functions need the exact partition row count, so the
    //      full per-partition sort cannot be bounded — see file header ----
    "window_distribution" -> QueryDef(
      (s, d) => {
        val w = Window.partitionBy(col("c_mktsegment"))
          .orderBy(col("c_acctbal").desc, col("c_custkey"))
        Tables.customer(s, d)
          .withColumn("quartile", ntile(4).over(w))
          .withColumn("pct_rank", percent_rank().over(w))
          .withColumn("cume", cume_dist().over(w))
          .select(col("c_mktsegment"), col("c_custkey"), col("c_acctbal"),
            col("quartile"), col("pct_rank"), col("cume"))
          .orderBy(col("c_mktsegment"), col("c_custkey"))
      },
      """SELECT c_mktsegment, c_custkey, c_acctbal,
        |  CAST(NTILE(4) OVER w AS INT) AS quartile,
        |  PERCENT_RANK() OVER w AS pct_rank,
        |  CUME_DIST() OVER w AS cume
        |FROM customer
        |WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey)
        |ORDER BY c_mktsegment, c_custkey""".stripMargin),

    // ---- W1 at-scale twin: same functions, same oracle, computed by
    //      distributed sort + prefix-sum instead of task-per-segment
    //      (see DistributedRank scaladoc); bit-equality with the
    //      built-in window operator is additionally pinned in
    //      DistributedRankSpec -------------------------------------------
    "window_distribution_scalable" -> QueryDef(
      (s, d) => DistributedRank.distributionScalable(s, d),
      """SELECT c_mktsegment, c_custkey, c_acctbal,
        |  CAST(NTILE(4) OVER w AS INT) AS quartile,
        |  PERCENT_RANK() OVER w AS pct_rank,
        |  CUME_DIST() OVER w AS cume
        |FROM customer
        |WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey)
        |ORDER BY c_mktsegment, c_custkey""".stripMargin),

    // ---- W2 analytic: lag / lead / first / last -------------------------
    "window_lag_lead" -> QueryDef(
      (s, d) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        val wAll = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        Tables.events(s, d)
          .withColumn("prev_id", lag(col("event_id"), 1).over(w))
          .withColumn("next_id", lead(col("event_id"), 1).over(w))
          .withColumn("first_id", first(col("event_id")).over(wAll))
          .withColumn("last_id", last(col("event_id")).over(wAll))
          .select(col("user_id"), col("event_id"), col("prev_id"),
            col("next_id"), col("first_id"), col("last_id"))
          .orderBy(col("user_id"), col("event_id"))
      },
      """SELECT user_id, event_id,
        |  LAG(event_id) OVER w AS prev_id, LEAD(event_id) OVER w AS next_id,
        |  FIRST_VALUE(event_id) OVER wall AS first_id, LAST_VALUE(event_id) OVER wall AS last_id
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id),
        |  wall AS (PARTITION BY user_id ORDER BY ts, event_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY user_id, event_id""".stripMargin),

    // ---- W2c IGNORE NULLS navigation: the sparse-series form of the
    //      W2 family. Sensor/price streams carry nulls for "no reading";
    //      the consumer wants the adjacent OBSERVED values, which plain
    //      lag/lead can't give. Nulls are PLANTED deterministically
    //      (view-typed events report no value) so every arm — null row,
    //      non-null row, leading-null run — fires by construction.
    //      `value` is carried, never re-accumulated, so doubles are
    //      hash-safe; same single user-keyed exchange as window_lag_lead ---
    "window_ignore_nulls" -> QueryDef(
      (s, d) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wAll = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        Tables.events(s, d)
          .withColumn("v",
            when(col("event_type") === "view", lit(null)).otherwise(col("value")))
          .withColumn("prev_obs", lag(col("v"), 1, null, ignoreNulls = true).over(w))
          .withColumn("next_obs", lead(col("v"), 1, null, ignoreNulls = true).over(w))
          .withColumn("carry_obs", last(col("v"), ignoreNulls = true).over(wRun))
          .withColumn("first_obs", first(col("v"), ignoreNulls = true).over(wAll))
          .select(col("user_id"), col("event_id"), col("v"),
            col("prev_obs"), col("next_obs"), col("carry_obs"), col("first_obs"))
          .orderBy(col("user_id"), col("event_id"))
      },
      """WITH e AS (
        |  SELECT user_id, event_id, ts,
        |         CASE WHEN event_type = 'view' THEN NULL ELSE value END AS v
        |  FROM events)
        |SELECT user_id, event_id, v,
        |  LAG(v IGNORE NULLS) OVER w AS prev_obs,
        |  LEAD(v IGNORE NULLS) OVER w AS next_obs,
        |  LAST_VALUE(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS carry_obs,
        |  FIRST_VALUE(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS first_obs
        |FROM e
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY user_id, event_id""".stripMargin),

    // ---- W3 framed aggregates: running + moving -------------------------
    "window_running_sum" -> QueryDef(
      (s, d) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate"), col("o_orderkey"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables.orders(s, d)
          .withColumn("running_spend", sum(money(col("o_totalprice"))).over(w).cast("double"))
          .select(col("o_custkey"), col("o_orderkey"),
            to_date(col("o_orderdate")).as("order_date"),
            col("o_totalprice"), col("running_spend"))
          .orderBy(col("o_custkey"), col("order_date"), col("o_orderkey"))
      },
      """SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS order_date, o_totalprice,
        |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS VARCHAR) AS DOUBLE) AS running_spend
        |FROM orders
        |ORDER BY o_custkey, order_date, o_orderkey""".stripMargin),

    // ---- W3c running DISTINCT count via first-occurrence flags ----------
    //      the scalable form of "distinct types seen so far": the naive
    //      window carries a growing collect_set per row (O(types) state
    //      re-hashed every step — and DISTINCT window aggregates don't
    //      exist in Spark anyway); here occurrence rank 1 marks each
    //      (user, type)'s first row, and a plain running SUM of the
    //      0/1 flag over the user timeline IS the distinct count —
    //      two keyed window passes, O(1) state per row, exact at any
    //      parallelism (the (ts, event_id) total order pins ties) ----
    "window_running_distinct" -> QueryDef(
      (s, d) => {
        val firstW = Window.partitionBy(col("user_id"), col("event_type"))
          .orderBy(col("ts"), col("event_id"))
        val runW = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables.events(s, d)
          .withColumn("f",
            when(row_number().over(firstW) === 1, 1L).otherwise(0L))
          .withColumn("n_types_seen", sum(col("f")).over(runW))
          .select(col("user_id"), col("event_id"), col("event_type"),
            col("n_types_seen"))
          .orderBy(col("user_id"), col("event_id"))
      },
      """SELECT user_id, event_id, event_type,
        |  CAST(SUM(f) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS n_types_seen
        |FROM (
        |  SELECT user_id, event_id, event_type, ts,
        |    CASE WHEN ROW_NUMBER() OVER (PARTITION BY user_id, event_type
        |      ORDER BY ts, event_id) = 1 THEN 1 ELSE 0 END AS f
        |  FROM events)
        |ORDER BY user_id, event_id""".stripMargin),

    "window_moving_avg" -> QueryDef(
      (s, d) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
          .rowsBetween(-2, Window.currentRow)
        Tables.events(s, d)
          .withColumn("moving_avg",
            sum(money(col("value"))).over(w).cast("double") / count(lit(1)).over(w))
          .select(col("user_id"), col("event_id"), col("value"), col("moving_avg"))
          .orderBy(col("user_id"), col("event_id"))
      },
      """SELECT user_id, event_id, value,
        |  CAST(SUM(CAST(value AS DECIMAL(12,2))) OVER w AS DOUBLE) / COUNT(*) OVER w AS moving_avg
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, event_id""".stripMargin),

    // ---- W3b RANGE frame (value-based, not row-based): 30-day trailing
    //      spend. The semantics ROWS can't express: ALL same-day peers
    //      join the frame regardless of tie order — which is also what
    //      makes the query deterministic without a within-day tiebreak.
    //      Ordering key is an integer epoch-day so the frame bound is
    //      exact arithmetic in both engines. -----------------------------
    "window_range_frame" -> QueryDef(
      (s, d) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("day_i"))
          .rangeBetween(-30, Window.currentRow)
        Tables.orders(s, d)
          .withColumn("day_i",
            datediff(to_date(col("o_orderdate")), lit("1970-01-01")))
          .withColumn("spend_30d",
            sum(money(col("o_totalprice"))).over(w).cast("double"))
          .select(col("o_custkey"), col("o_orderkey"), col("day_i"),
            col("o_totalprice"), col("spend_30d"))
          .orderBy(col("o_custkey"), col("day_i"), col("o_orderkey"))
      },
      """SELECT o_custkey, o_orderkey,
        |  CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS INT) AS day_i,
        |  o_totalprice,
        |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) OVER (
        |    PARTITION BY o_custkey
        |    ORDER BY CAST(o_orderdate AS DATE) - DATE '1970-01-01'
        |    RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) AS VARCHAR) AS DOUBLE) AS spend_30d
        |FROM orders
        |ORDER BY o_custkey, day_i, o_orderkey""".stripMargin),

    // ---- W2b frame-boundary value functions: first/nth/last over the
    //      running frame. last_value over the default frame is the
    //      CURRENT row (the frame ends at it) — the classic surprise
    //      this query pins cross-engine ---------------------------------
    "window_nth_value" -> QueryDef(
      (s, d) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate"), col("o_orderkey"))
        Tables.orders(s, d)
          .select(col("o_custkey"), col("o_orderkey"),
            first(col("o_totalprice")).over(w).as("first_spend"),
            nth_value(col("o_totalprice"), 2).over(w).as("second_spend"),
            last(col("o_totalprice")).over(w).as("last_is_current"))
          .orderBy(col("o_custkey"), col("o_orderkey"))
      },
      """SELECT o_custkey, o_orderkey,
        |  first_value(o_totalprice) OVER w AS first_spend,
        |  nth_value(o_totalprice, 2) OVER w AS second_spend,
        |  last_value(o_totalprice) OVER w AS last_is_current
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin),

    // ---- W4 tumbling event-time window (Spark `window()` start ≡
    //      DuckDB time_bucket for 10-minute buckets, both
    //      epoch-aligned) --------------------------------------------------
    "window_tumbling" -> QueryDef(
      (s, d) => Tables.events(s, d)
        .groupBy(window(col("ts"), "10 minutes").getField("start").as("bucket_ts"))
        .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
        .select(date_format(col("bucket_ts"), "yyyy-MM-dd HH:mm:ss").as("bucket"),
          col("n_events"), col("sum_value"))
        .orderBy(col("bucket")),
      """SELECT strftime(time_bucket(INTERVAL '10 minutes', CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:%M:%S') AS bucket,
        |  COUNT(*) AS n_events,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sum_value
        |FROM events
        |GROUP BY 1
        |ORDER BY bucket""".stripMargin),

    // ---- W4b hopping (sliding) windows: 10-min length, 5-min slide —
    //      every event lands in exactly len/slide = 2 windows; the
    //      oracle unrolls that membership explicitly (the two bucket
    //      starts per event), so Spark's window(slide) semantics are
    //      pinned end-to-end, not just the tumbling special case
    "window_hopping" -> QueryDef(
      (s, d) => Tables.events(s, d)
        .groupBy(window(col("ts"), "10 minutes", "5 minutes")
          .getField("start").as("bucket_ts"))
        .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
        .select(date_format(col("bucket_ts"), "yyyy-MM-dd HH:mm:ss").as("bucket"),
          col("n_events"), col("sum_value"))
        .orderBy(col("bucket")),
      """WITH ev AS (
        |  SELECT CAST(ts AS TIMESTAMP) AS ts, value FROM events),
        |hop AS (
        |  SELECT unnest([time_bucket(INTERVAL '5 minutes', ts),
        |                 time_bucket(INTERVAL '5 minutes', ts)
        |                   - INTERVAL '5 minutes']) AS wstart,
        |         value
        |  FROM ev)
        |SELECT strftime(wstart, '%Y-%m-%d %H:%M:%S') AS bucket,
        |  COUNT(*) AS n_events,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sum_value
        |FROM hop GROUP BY 1 ORDER BY bucket""".stripMargin),

    // ---- W5 session windows (30-min inactivity gap), batch twin ---------
    "window_sessionize" -> QueryDef(
      (s, d) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        val prevTs = lag(col("ts"), 1).over(w)
        val isNew = when(prevTs.isNull ||
          unix_micros(col("ts")) - unix_micros(prevTs) > 1800000000L, 1).otherwise(0)
        Tables.events(s, d)
          .withColumn("sess", sum(isNew).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .groupBy(col("user_id"), col("sess"))
          .agg(date_format(min(col("ts")), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("session_start"),
            count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
          .orderBy(col("user_id"), col("sess"))
      },
      """WITH ev AS (
        |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
        |flagged AS (
        |  SELECT user_id, event_id, ts, value,
        |    CASE WHEN LAG(ts) OVER w IS NULL
        |           OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 1800000000
        |         THEN 1 ELSE 0 END AS is_new
        |  FROM ev
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sessions AS (
        |  SELECT user_id, ts, value,
        |    CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess
        |  FROM flagged)
        |SELECT user_id, sess,
        |  strftime(MIN(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
        |  COUNT(*) AS n_events,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sum_value
        |FROM sessions
        |GROUP BY user_id, sess
        |ORDER BY user_id, sess""".stripMargin)
  )

  def queries: Seq[(String, QueryDef)] = q
}
