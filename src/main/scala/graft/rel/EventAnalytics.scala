package graft.rel

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{Exact, QueryDef, Tables}

/** Event-sequence analytics over the `events` fixture: conversion
  * funnels and cohort retention — the two queries every product
  * analytics engine ships (and the reference's pandas could only do
  * with driver-side loops). Both are pure window/agg compositions:
  * no joins of events against events, no per-user collect.
  *
  * Scale shape:
  *   - The funnel is ONE shuffle: both chained windows and the final
  *     per-user aggregate share `user_id` partitioning, so Catalyst
  *     plans a single Exchange (window → window → partial agg reuse
  *     the same distribution; asserted in PlanSpec-style by the spec).
  *   - "First qualifying event strictly after X" is a running
  *     conditional MIN over the ROWS-preceding frame — sequence
  *     matching without a self-join (an events×events join at 100 TB
  *     is the classic funnel anti-pattern).
  *   - Retention is min-date window + distinct + count, all keyed by
  *     user/cohort — partial aggs throughout.
  */
object EventAnalytics {

  /** view → click → purchase conversion funnel, strict ordering per
    * user (a click counts only if some view precedes it; a purchase
    * only if some qualifying click precedes it). Ties on ts break by
    * event_id — the deterministic total order used engine-wide. */
  def funnel(events: DataFrame): DataFrame = {
    val wPrev = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val withFv = events.withColumn("fv",
      min(when(col("event_type") === "view", col("ts"))).over(wPrev))
    val withFqc = withFv.withColumn("fqc",
      min(when(col("event_type") === "click" && col("fv").isNotNull,
        col("ts"))).over(wPrev))
    val perUser = withFqc.groupBy(col("user_id")).agg(
      max(when(col("event_type") === "view", 1).otherwise(0)).as("s1"),
      max(when(col("event_type") === "click" && col("fv").isNotNull, 1)
        .otherwise(0)).as("s2"),
      max(when(col("event_type") === "purchase" && col("fqc").isNotNull, 1)
        .otherwise(0)).as("s3"))
    val totals = perUser.agg(
      sum(col("s1")).cast("long").as("n1"),
      sum(col("s2")).cast("long").as("n2"),
      sum(col("s3")).cast("long").as("n3"))
    totals.select(expr(
      """stack(3,
        |  1L, 'view',                 n1,
        |  2L, 'click_after_view',     n2,
        |  3L, 'purchase_after_click', n3) AS (stage_idx, stage, n_users)
        |""".stripMargin))
      .orderBy(col("stage_idx"))
  }

  val funnelSql: String =
    """WITH w1 AS (
      |  SELECT user_id, event_id, ts, event_type,
      |    MIN(CASE WHEN event_type = 'view' THEN ts END) OVER wp AS fv
      |  FROM events
      |  WINDOW wp AS (PARTITION BY user_id ORDER BY ts, event_id
      |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
      |w2 AS (
      |  SELECT *,
      |    MIN(CASE WHEN event_type = 'click' AND fv IS NOT NULL THEN ts END)
      |      OVER wp AS fqc
      |  FROM w1
      |  WINDOW wp AS (PARTITION BY user_id ORDER BY ts, event_id
      |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
      |u AS (
      |  SELECT user_id,
      |    MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS s1,
      |    MAX(CASE WHEN event_type = 'click' AND fv IS NOT NULL
      |             THEN 1 ELSE 0 END) AS s2,
      |    MAX(CASE WHEN event_type = 'purchase' AND fqc IS NOT NULL
      |             THEN 1 ELSE 0 END) AS s3
      |  FROM w2 GROUP BY user_id)
      |SELECT stage_idx, stage, n_users FROM (
      |  SELECT CAST(1 AS BIGINT) AS stage_idx, 'view' AS stage,
      |         CAST(SUM(s1) AS BIGINT) AS n_users FROM u
      |  UNION ALL
      |  SELECT 2, 'click_after_view', CAST(SUM(s2) AS BIGINT) FROM u
      |  UNION ALL
      |  SELECT 3, 'purchase_after_click', CAST(SUM(s3) AS BIGINT) FROM u)
      |ORDER BY stage_idx""".stripMargin

  /** Cohort retention: users grouped by first-seen date; a cohort/offset
    * cell counts users with any activity `day_offset` days after their
    * first day. */
  def retention(events: DataFrame): DataFrame = {
    val days = events.select(col("user_id"), to_date(col("ts")).as("day"))
    val withCohort = days.withColumn("cohort_day",
      min(col("day")).over(Window.partitionBy(col("user_id"))))
    withCohort
      .select(col("user_id"), col("cohort_day"),
        datediff(col("day"), col("cohort_day")).cast("long").as("day_offset"))
      .distinct()
      .groupBy(col("cohort_day"), col("day_offset"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("cohort_day"), col("day_offset"))
  }

  val retentionSql: String =
    """WITH e AS (
      |  SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day
      |  FROM events),
      |c AS (
      |  SELECT user_id, day,
      |    MIN(day) OVER (PARTITION BY user_id) AS cohort_day
      |  FROM e),
      |d AS (
      |  SELECT DISTINCT user_id, cohort_day,
      |    date_diff('day', cohort_day, day) AS day_offset
      |  FROM c)
      |SELECT cohort_day, day_offset, COUNT(*) AS n_users
      |FROM d GROUP BY cohort_day, day_offset
      |ORDER BY cohort_day, day_offset""".stripMargin

  /** Per-session ordered path strings: one (user_id, session_id,
    * path) row per session of [[topSessionPaths]]. */
  private def sessionPaths(events: DataFrame): DataFrame = {
    val wUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val gapped = events
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      // microsecond integers (the window_sessionize pattern): exact in
      // both engines, where floating epoch seconds would split sessions
      // differently at the boundary
      .withColumn("gap_us",
        unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(wUser)))
      .withColumn("new_s",
        when(col("gap_us").isNull || col("gap_us") > 1800000000L, 1)
          .otherwise(0))
      .withColumn("session_id",
        sum(col("new_s")).over(
          wUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    gapped
      .groupBy(col("user_id"), col("session_id"))
      .agg(concat_ws(">", transform(
        array_sort(collect_list(struct(col("ts"), col("event_id"),
          col("event_type")))),
        s => s.getField("event_type"))).as("path"))
  }

  /** Top-k session paths: sessionize per user (30-minute inactivity
    * gap — the window_sessionize rule), join each session's event
    * types into an ordered path string, count path frequencies. The
    * whole chain is two keyed windows sharing the user_id shuffle, one
    * session-path aggregation, and one count — no per-session collect,
    * no events×events join. Path strings are deterministic: listagg
    * ordered by (ts, event_id), the engine-wide total order. */
  def topSessionPaths(events: DataFrame, k: Int): DataFrame =
    sessionPaths(events)
      .groupBy(col("path"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("path"))
      .limit(k)

  def topSessionPathsSql(k: Int): String =
    s"""WITH g AS (
       |  SELECT user_id, ts, event_id, event_type,
       |    CASE WHEN epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 1800000000
       |      OR LAG(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_s
       |  FROM events
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
       |s AS (
       |  SELECT user_id, event_type, ts, event_id,
       |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
       |      ROWS UNBOUNDED PRECEDING) AS session_id
       |  FROM g),
       |p AS (
       |  SELECT user_id, session_id,
       |    string_agg(event_type, '>' ORDER BY ts, event_id) AS path
       |  FROM s GROUP BY user_id, session_id)
       |SELECT path, COUNT(*) AS n FROM p
       |GROUP BY path ORDER BY n DESC, path LIMIT $k""".stripMargin

  /** Position-based (U-shaped) multi-touch attribution — the standard
    * third model beside last-touch and the Markov removal effect:
    * within each CONVERTING journey (the markov journey split — events
    * before each purchase), the first and last channel touches take
    * 40% each and the interior splits the remaining 20% evenly. All
    * credit is integer BASIS POINTS with the division remainder
    * assigned to the EARLIEST interior touch (an explicit rule, so
    * every journey sums to exactly 10000 and the cross-engine hash
    * holds); single-touch journeys take all 10000, two-touch 5000/5000.
    *
    * Scale shape: the journey build is the markov chain's two
    * user-keyed window passes; credit is a per-row CASE off (rn, n)
    * and the final per-channel rollup is a partial-agg shuffle on
    * |channels| keys. */
  def positionAttribution(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val withJourney = events
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("journey", coalesce(
        sum(when(col("event_type") === "purchase", 1).otherwise(0))
          .over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0)))
    val convJ = withJourney.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("journey")).distinct()
    val jw = Window.partitionBy(col("user_id"), col("journey"))
      .orderBy(col("ts"), col("event_id"))
    val touches = withJourney.filter(col("event_type") =!= "purchase")
      .join(convJ, Seq("user_id", "journey"), "left_semi")
      .withColumn("rn", row_number().over(jw))
      .withColumn("n", count(lit(1)).over(
        Window.partitionBy(col("user_id"), col("journey"))))
    val credit = expr(
      """CASE WHEN n = 1 THEN 10000
        |WHEN n = 2 THEN 5000
        |WHEN rn = 1 OR rn = n THEN 4000
        |WHEN rn = 2 THEN 2000 div (n - 2) + 2000 - (n - 2) * (2000 div (n - 2))
        |ELSE 2000 div (n - 2) END""".stripMargin)
    touches
      .select(col("event_type"), credit.cast("long").as("bp"))
      .groupBy(col("event_type"))
      .agg(sum(col("bp")).as("credit_bp"), count(lit(1)).as("n_touches"))
      .orderBy(col("event_type"))
  }

  val positionAttributionSql: String =
    """WITH e AS (
      |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, event_type
      |  FROM events),
      |j AS (
      |  SELECT *, COALESCE(SUM(CASE WHEN event_type = 'purchase' THEN 1
      |      ELSE 0 END) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS journey
      |  FROM e),
      |conv AS (
      |  SELECT DISTINCT user_id, journey FROM j
      |  WHERE event_type = 'purchase'),
      |t AS (
      |  SELECT j.event_type,
      |    ROW_NUMBER() OVER (PARTITION BY j.user_id, j.journey
      |      ORDER BY j.ts, j.event_id) AS rn,
      |    COUNT(*) OVER (PARTITION BY j.user_id, j.journey) AS n
      |  FROM j SEMI JOIN conv ON conv.user_id = j.user_id
      |    AND conv.journey = j.journey
      |  WHERE j.event_type <> 'purchase'),
      |c AS (
      |  SELECT event_type,
      |    CASE WHEN n = 1 THEN 10000
      |         WHEN n = 2 THEN 5000
      |         WHEN rn = 1 OR rn = n THEN 4000
      |         WHEN rn = 2 THEN 2000 // (n - 2) + 2000 - (n - 2) * (2000 // (n - 2))
      |         ELSE 2000 // (n - 2) END AS bp
      |  FROM t)
      |SELECT event_type, CAST(SUM(bp) AS BIGINT) AS credit_bp,
      |       CAST(COUNT(*) AS BIGINT) AS n_touches
      |FROM c GROUP BY event_type ORDER BY event_type""".stripMargin

  /** The lookback of [[lastTouchAttribution]]: one day. */
  private val AttributionWindowMinutes = 1440

  /** Every (purchase, view) pair of one user with the view inside the
    * purchase's lookback: a range join on `user_id`. */
  private def purchaseAttribution(views: DataFrame,
      purchases: DataFrame): DataFrame = {
    val v = views.select(col("user_id").as("v_user"),
      col("ts").as("view_ts"), col("event_id").as("view_id"))
    val p = purchases.select(col("user_id").as("p_user"),
      col("ts").as("purchase_ts"), col("event_id").as("purchase_id"))
    p.join(v, expr(
      s"""p_user = v_user AND
        |view_ts <= purchase_ts AND
        |view_ts >= purchase_ts - INTERVAL $AttributionWindowMinutes MINUTES"""
        .stripMargin))
      .select(col("p_user").as("user_id"), col("purchase_id"),
        col("view_id"), col("purchase_ts"), col("view_ts"))
  }

  /** Last-touch purchase attribution: each purchase joins the same
    * user's views from the preceding day (`view_ts` in
    * [`purchase_ts` − 1440 min, `purchase_ts`], both ends inclusive),
    * and the LATEST such view wins the credit, ties on `ts` going to
    * the higher `view_id`. A purchase with no qualifying view is absent
    * (inner join); `gap_us` is the exact µs distance. The interval join
    * shuffles both sides on user_id once and the per-purchase argmax
    * plans as WindowGroupLimit. */
  def lastTouchAttribution(events: DataFrame): DataFrame = {
    purchaseAttribution(
      events.filter(col("event_type") === "view"),
      events.filter(col("event_type") === "purchase"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("purchase_id"))
          .orderBy(col("view_ts").desc, col("view_id").desc)))
      .filter(col("rn") === 1)
      .select(col("purchase_id"), col("user_id"),
        col("view_id").as("attributed_view"),
        (unix_micros(col("purchase_ts")) - unix_micros(col("view_ts")))
          .as("gap_us"))
      .orderBy(col("purchase_id"))
  }

  val lastTouchAttributionSql: String =
    """WITH v AS (
      |  SELECT user_id, CAST(ts AS TIMESTAMP) AS view_ts,
      |         event_id AS view_id
      |  FROM events WHERE event_type = 'view'),
      |p AS (
      |  SELECT user_id, CAST(ts AS TIMESTAMP) AS purchase_ts,
      |         event_id AS purchase_id
      |  FROM events WHERE event_type = 'purchase'),
      |j AS (
      |  SELECT p.purchase_id, p.user_id, v.view_id,
      |         p.purchase_ts, v.view_ts,
      |         ROW_NUMBER() OVER (PARTITION BY p.purchase_id
      |           ORDER BY v.view_ts DESC, v.view_id DESC) AS rn
      |  FROM p JOIN v ON v.user_id = p.user_id
      |    AND v.view_ts <= p.purchase_ts
      |    AND v.view_ts >= p.purchase_ts - INTERVAL 1440 MINUTE)
      |SELECT purchase_id, user_id, view_id AS attributed_view,
      |       epoch_us(purchase_ts) - epoch_us(view_ts) AS gap_us
      |FROM j WHERE rn = 1 ORDER BY purchase_id""".stripMargin

  /** MATCH_RECOGNIZE-style sequence matching: `PATTERN (V+ C)` — every
    * MAXIMAL run of consecutive 'view' events immediately followed by a
    * 'click', per user in the engine-wide (ts, event_id) total order.
    * The variable-length `V+` is the gaps-and-islands trick (global
    * row_number minus views-only row_number is constant within a
    * consecutive view run), and the trailing `C` is one equi-join on
    * (user_id, rn = run_end + 1) — sequence regex without an
    * events×events theta join.
    *
    * Scale shape: both row_numbers, the island aggregate and the final
    * join are all keyed by user_id, so the whole match plans in ONE
    * exchange; state per user is a row index, not a buffered sequence. */
  def matchViewRunsThenClick(events: DataFrame): DataFrame = {
    val wOrd = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val numbered = events
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("rn", row_number().over(wOrd))
    val runs = numbered.filter(col("event_type") === "view")
      .withColumn("grp", col("rn") - row_number().over(
        Window.partitionBy(col("user_id")).orderBy(col("rn"))))
      .groupBy(col("user_id"), col("grp"))
      .agg(max(col("rn")).as("end_rn"),
        count(lit(1)).as("n_views"),
        min_by(col("event_id"), col("rn")).as("first_view_id"))
    val clicks = numbered.filter(col("event_type") === "click")
      .select(col("user_id"), col("rn").as("c_rn"),
        col("event_id").as("click_event_id"))
    // explicit aliases: runs and clicks share `numbered`'s lineage, so
    // unqualified user_id === user_id would construct a trivially-true
    // predicate (the Spans.scala self-join discipline)
    runs.as("r").join(clicks.as("c"),
        col("r.user_id") === col("c.user_id") &&
          col("c.c_rn") === col("r.end_rn") + 1)
      .select(col("r.user_id"), col("n_views"),
        col("first_view_id"), col("click_event_id"))
      .orderBy(col("r.user_id"), col("first_view_id"))
  }

  val matchViewRunsThenClickSql: String =
    """WITH numbered AS (
      |  SELECT user_id, event_id, event_type,
      |         ROW_NUMBER() OVER (PARTITION BY user_id
      |           ORDER BY ts, event_id) AS rn
      |  FROM events),
      |runs AS (
      |  SELECT user_id, MAX(rn) AS end_rn, COUNT(*) AS n_views,
      |         arg_min(event_id, rn) AS first_view_id
      |  FROM (SELECT user_id, event_id, rn,
      |          rn - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY rn) AS grp
      |        FROM numbered WHERE event_type = 'view')
      |  GROUP BY user_id, grp)
      |SELECT r.user_id, r.n_views, r.first_view_id,
      |       c.event_id AS click_event_id
      |FROM runs r JOIN numbered c
      |  ON c.user_id = r.user_id AND c.rn = r.end_rn + 1
      |WHERE c.event_type = 'click'
      |ORDER BY r.user_id, r.first_view_id""".stripMargin

  /** RFM segmentation — the classic customer-value quartiling. Per
    * user over purchases: recency (days from last purchase to the
    * corpus' latest purchase — an in-data anchor, no wall clock),
    * frequency (count), monetary (exact DECIMAL sum, cast to double
    * only at the surface — the core/Exact money discipline). Quartile
    * scores are ntile(4) in the engine-wide deterministic total order
    * (metric, then user_id); segment = 100·r + 10·f + m.
    *
    * Scale shape: one user-keyed partial agg collapses the event log;
    * the ntile stage then ranks |users| rows — orders of magnitude
    * smaller than |events|, and the global-window stage is exactly the
    * shape `rel/DistributedRank` distributes when |users| itself is
    * cluster-scale (same escape hatch as `window_distribution_scalable`).
    * The anchor is a 1-row broadcast. */
  def rfmSegments(events: DataFrame): DataFrame = {
    val p = events.filter(col("event_type") === "purchase")
    val perUser = p.groupBy(col("user_id")).agg(
      max(col("ts")).as("last_ts"),
      count(lit(1)).as("frequency"),
      sum(col("value").cast("decimal(12,2)")).as("mon_dec"))
    val anchor = p.agg(max(col("ts")).as("anchor_ts"))
    val w = Window.orderBy(col("last_ts").desc, col("user_id"))
    val wf = Window.orderBy(col("frequency").desc, col("user_id"))
    val wm = Window.orderBy(col("mon_dec").desc, col("user_id"))
    perUser.crossJoin(broadcast(anchor))
      .withColumn("recency_days",
        datediff(to_date(col("anchor_ts")), to_date(col("last_ts"))))
      .withColumn("r", ntile(4).over(w))
      .withColumn("f", ntile(4).over(wf))
      .withColumn("m", ntile(4).over(wm))
      .select(col("user_id"), col("recency_days"),
        col("frequency"), col("mon_dec").cast("double").as("monetary"),
        col("r"), col("f"), col("m"),
        (col("r") * 100 + col("f") * 10 + col("m")).as("segment"))
      .orderBy(col("user_id"))
  }

  val rfmSegmentsSql: String =
    """WITH p AS (SELECT * FROM events WHERE event_type = 'purchase'),
      |u AS (
      |  SELECT user_id, MAX(ts) AS last_ts, COUNT(*) AS frequency,
      |         SUM(CAST(value AS DECIMAL(12,2))) AS mon_dec
      |  FROM p GROUP BY user_id),
      |a AS (SELECT MAX(ts) AS anchor_ts FROM p),
      |s AS (
      |  SELECT u.user_id,
      |         date_diff('day', CAST(u.last_ts AS DATE),
      |                   CAST(a.anchor_ts AS DATE)) AS recency_days,
      |         u.frequency,
      |         CAST(u.mon_dec AS DOUBLE) AS monetary,
      |         NTILE(4) OVER (ORDER BY u.last_ts DESC, u.user_id) AS r,
      |         NTILE(4) OVER (ORDER BY u.frequency DESC, u.user_id) AS f,
      |         NTILE(4) OVER (ORDER BY u.mon_dec DESC, u.user_id) AS m
      |  FROM u CROSS JOIN a)
      |SELECT user_id, CAST(recency_days AS INT) AS recency_days, frequency,
      |       monetary, CAST(r AS INT) AS r, CAST(f AS INT) AS f,
      |       CAST(m AS INT) AS m,
      |       CAST(r * 100 + f * 10 + m AS INT) AS segment
      |FROM s ORDER BY user_id""".stripMargin

  /** Cart-abandonment flags — the time-bounded ABSENCE pattern (the
    * negation the funnel cannot express): for each user's LAST click
    * (max (ts, event_id) — the engine-wide total order), did NO
    * purchase follow within 24 hours? Both arms surface (converted
    * users with abandoned = false), so the oracle exercises presence
    * and absence. The 24 h bound compares microsecond integers —
    * exact cross-engine.
    *
    * Scale shape: clicks collapse to one row per user first (partial
    * agg), so the purchase probe joins |users| × purchases on the
    * user key with the time bound as a residual predicate — a
    * user-keyed equi-join, NOT an events×events theta join; the
    * existence fold is one more partial agg on the same key. */
  def abandonment(events: DataFrame): DataFrame = {
    val lastClick = events.filter(col("event_type") === "click")
      .groupBy(col("user_id"))
      .agg(max(struct(col("ts"), col("event_id"))).as("lc"))
      .select(col("user_id"), col("lc.ts").as("c_ts"),
        col("lc.event_id").as("last_click_id"))
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("p_ts"))
    lastClick
      .join(purchases,
        lastClick("user_id") === purchases("user_id") &&
          unix_micros(col("p_ts")) > unix_micros(col("c_ts")) &&
          unix_micros(col("p_ts")) - unix_micros(col("c_ts")) <= 86400000000L,
        "left")
      .groupBy(lastClick("user_id"), col("last_click_id"))
      .agg(max(col("p_ts").isNotNull).as("converted"))
      .select(lastClick("user_id"), col("last_click_id"),
        (!col("converted")).as("abandoned"))
      .orderBy(lastClick("user_id"))
  }

  val abandonmentSql: String =
    """WITH lc AS (
      |  SELECT user_id, event_id AS last_click_id, ts AS c_ts,
      |         ROW_NUMBER() OVER (PARTITION BY user_id
      |           ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM events WHERE event_type = 'click')
      |SELECT user_id, last_click_id,
      |  NOT EXISTS (
      |    SELECT 1 FROM events p
      |    WHERE p.user_id = lc.user_id AND p.event_type = 'purchase'
      |      AND epoch_us(p.ts) > epoch_us(lc.c_ts)
      |      AND epoch_us(p.ts) - epoch_us(lc.c_ts) <= 86400000000) AS abandoned
      |FROM lc WHERE rn = 1 ORDER BY user_id""".stripMargin

  /** Conversion-probability scale: 1.0 = 10^9 units. */
  val MarkovScale = 1000000000L

  /** Markov removal-effect attribution (Anderl et al. 2014 shape) —
    * the data-driven multi-touch model next to `events_attribution`'s
    * last-touch rule. Journeys are per-user event runs split at each
    * purchase (the purchase converts the journey it closes; a trailing
    * run with no purchase ends in NULL). The first-order chain over
    * channel states is solved for P(conversion | START) by `iters`
    * Jacobi rounds of exact integer fixed-point (p scaled ×10^9, each
    * update `Σ n(s,t)·p(t) div n_out(s)` on non-negative BIGINTs —
    * order-independent, `div` ≡ `//`); a channel's credit is the
    * REMOVAL EFFECT: re-solve with that channel's node deleted
    * (transitions into it re-routed to NULL) and take the drop in
    * P(conv).
    *
    * Scale split: journey construction + transition counting is the
    * data-sized work — two per-user window passes and one partial-agg
    * shuffle. The chain itself is (channels+1)² counts — bounded
    * metadata — so the (channels+1) fixed-point solves run driver-side
    * exactly like the IVF probe-cell ranking, never touching the
    * cluster; the oracle replays the same Jacobi rounds as unrolled
    * CTEs over the count relation. */
  def markovAttribution(events: DataFrame, channels: Seq[String],
      iters: Int = 8): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    // persisted: chans (→ seq0) and convJ both read it — without the
    // cache the events scan + journey window re-derive once per
    // consumer (measured 3 full passes for 1 needed)
    val withJourney = events
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("journey", coalesce(
        sum(when(col("event_type") === "purchase", 1).otherwise(0))
          .over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0)))
      .persist()
    val chans = withJourney.filter(col("event_type") =!= "purchase")
    val convJ = withJourney.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("journey")).distinct()
    // journey is MONOTONE in (ts, event_id) within a user (a running
    // purchase count), so the per-(user, journey) lead/first-row facts
    // come from the SAME hash(user_id) window partitioning the journey
    // column was built under — lead/lag masked by journey equality —
    // instead of a second exchange re-keying the events-sized relation
    // by (user_id, journey) (guide §2.4: window functions keyed by a
    // prefix of an established partitioning need no second shuffle)
    val jw = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val seq0 = chans
      .withColumn("nxt", when(
        lead(col("journey"), 1).over(jw) === col("journey"),
        lead(col("event_type"), 1).over(jw)))
      .withColumn("isFirst",
        coalesce(lag(col("journey"), 1).over(jw) =!= col("journey"),
          lit(true)))
      .persist()
    val steps = seq0.filter(col("nxt").isNotNull)
      .select(col("event_type").as("src"), col("nxt").as("dst"))
    val starts = seq0.filter(col("isFirst"))
      .select(lit("START").as("src"), col("event_type").as("dst"))
    val lasts = seq0.filter(col("nxt").isNull)
      .join(convJ.withColumn("conv", lit(1)), Seq("user_id", "journey"), "left")
      .select(col("event_type").as("src"),
        when(col("conv").isNotNull, "CONV").otherwise("NULL").as("dst"))
    // seq0 holds exactly chans' rows (the windows add columns, drop
    // nothing), so the anti-join's right side reads the persisted seq0
    // instead of re-deriving the channel relation
    val emptyConv = convJ
      .join(seq0.select(col("user_id"), col("journey")).distinct(),
        Seq("user_id", "journey"), "left_anti")
      .select(lit("START").as("src"), lit("CONV").as("dst"))
    // the whole chain is (channels+1)^2 counts: bounded metadata
    val trans = steps.unionByName(starts).unionByName(lasts).unionByName(emptyConv)
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    // the result is built from the collected counts, not from the
    // cached lineage — release both caches eagerly instead of leaning
    // on the caller's clearCache()
    seq0.unpersist(blocking = false): Unit
    withJourney.unpersist(blocking = false): Unit
    def solve(t: Seq[(String, String, Long)]): Long = {
      val bySrc = t.groupBy(_._1)
      val states = bySrc.keySet
      var p = Map.empty[String, Long]
      def pOf(m: Map[String, Long], s: String): Long =
        if (s == "CONV") MarkovScale
        else if (s == "NULL") 0L
        else m.getOrElse(s, 0L)
      (1 to iters).foreach { _ =>
        val prev = p
        p = states.map { s =>
          val rows = bySrc(s)
          s -> rows.map { case (_, d, n) => n * pOf(prev, d) }.sum / rows.map(_._3).sum
        }.toMap
      }
      p.getOrElse("START", 0L)
    }
    val full = solve(trans)
    val rows = channels.sorted.map { c =>
      val removed = trans
        .filter(_._1 != c)
        .map { case (s, d, n) => (s, if (d == c) "NULL" else d, n) }
        .groupBy(t => (t._1, t._2))
        .map { case ((s, d), rs) => (s, d, rs.map(_._3).sum) }
        .toSeq
      val pr = solve(removed)
      (c, full, pr, full - pr)
    }
    rows.toDF("channel", "p_conv_fp", "p_removed_fp", "removal_fp")
      .orderBy(col("channel"))
  }

  def markovAttributionSql(channels: Seq[String], iters: Int = 8): String = {
    def chain(prefix: String, transCte: String): String =
      (1 to iters).map { i =>
        val prev = if (i == 1) s"${prefix}0" else s"$prefix${i - 1}"
        s"""$prefix$i AS (
           |  SELECT t.src AS state,
           |    CAST(SUM(t.n * (CASE WHEN t.dst = 'CONV' THEN $MarkovScale
           |                         WHEN t.dst = 'NULL' THEN 0
           |                         ELSE COALESCE(pp.p, 0) END)) // SUM(t.n)
           |      AS BIGINT) AS p
           |  FROM $transCte t LEFT JOIN $prev pp ON pp.state = t.dst
           |  GROUP BY t.src)""".stripMargin
      }.mkString(",\n")
    def p0(prefix: String, transCte: String): String =
      s"""${prefix}0 AS (
         |  SELECT DISTINCT src AS state, CAST(0 AS BIGINT) AS p
         |  FROM $transCte)""".stripMargin
    val channelArms = channels.sorted.zipWithIndex.map { case (c, i) =>
      s"""tc$i AS MATERIALIZED (
         |  SELECT src, CASE WHEN dst = '$c' THEN 'NULL' ELSE dst END AS dst,
         |         CAST(SUM(n) AS BIGINT) AS n
         |  FROM trans WHERE src <> '$c' GROUP BY 1, 2),
         |${p0(s"c${i}_", s"tc$i")},
         |${chain(s"c${i}_", s"tc$i")}""".stripMargin
    }.mkString(",\n")
    val finalArms = channels.sorted.zipWithIndex.map { case (c, i) =>
      s"""SELECT '$c' AS channel,
         |  (SELECT p FROM f$iters WHERE state = 'START') AS p_conv_fp,
         |  (SELECT p FROM c${i}_$iters WHERE state = 'START') AS p_removed_fp,
         |  (SELECT p FROM f$iters WHERE state = 'START') -
         |    (SELECT p FROM c${i}_$iters WHERE state = 'START') AS removal_fp""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH wj AS (
       |  SELECT user_id, ts, event_id, event_type,
       |    COALESCE(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY user_id ORDER BY ts, event_id
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS journey
       |  FROM events),
       |ch AS MATERIALIZED (
       |  SELECT user_id, journey, event_type,
       |    ROW_NUMBER() OVER jw AS rn,
       |    LEAD(event_type) OVER jw AS nxt
       |  FROM wj WHERE event_type <> 'purchase'
       |  WINDOW jw AS (PARTITION BY user_id, journey ORDER BY ts, event_id)),
       |cj AS MATERIALIZED (
       |  SELECT DISTINCT user_id, journey FROM wj WHERE event_type = 'purchase'),
       |raw AS (
       |  SELECT event_type AS src, nxt AS dst FROM ch WHERE nxt IS NOT NULL
       |  UNION ALL
       |  SELECT 'START', event_type FROM ch WHERE rn = 1
       |  UNION ALL
       |  SELECT c.event_type,
       |    CASE WHEN cj.user_id IS NOT NULL THEN 'CONV' ELSE 'NULL' END
       |  FROM ch c LEFT JOIN cj ON cj.user_id = c.user_id AND cj.journey = c.journey
       |  WHERE c.nxt IS NULL
       |  UNION ALL
       |  SELECT 'START', 'CONV'
       |  FROM cj LEFT JOIN (SELECT DISTINCT user_id, journey FROM ch) h
       |    ON h.user_id = cj.user_id AND h.journey = cj.journey
       |  WHERE h.user_id IS NULL),
       |trans AS MATERIALIZED (
       |  SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS n FROM raw GROUP BY src, dst),
       |${p0("f", "trans")},
       |${chain("f", "trans")},
       |$channelArms
       |SELECT channel, p_conv_fp, p_removed_fp, removal_fp FROM (
       |$finalArms)
       |ORDER BY channel""".stripMargin
  }

  /** Rate-spike detection per event type: hourly counts vs a trailing
    * `w`-hour baseline, flagged when the hour's rate exceeds
    * `num/den`× the trailing MEAN — the on-call "error rate jumped"
    * monitor, run as a batch sweep.
    *
    * Two scale decisions:
    *   - The trailing baseline is a RANGE frame over the integer hour
    *     index, not a ROWS frame over densified rows: gap hours count
    *     as zero automatically (the frame just spans them), so there
    *     is no grid densify / fill-forward stage — the whole query is
    *     one partial-agg shuffle down to (type, hour) and one window
    *     over that already-tiny relation.
    *   - The mean comparison is exact integers: rate > num/den × mean
    *     ⇔ den·n·w > num·Σtrailing on BIGINTs — no division, no
    *     float drift on the comparison surface.
    * Hours whose baseline window is not fully inside the type's
    * observed history are not flaggable: a cold start (empty trailing
    * window) or a partial one (fewer than `w` hours since the type's
    * first event) would inflate the mean's denominator with hours the
    * data doesn't cover — the classic day-one false-positive storm of
    * naive rate monitors. */
  def rateSpikes(events: DataFrame, w: Int = 6,
      num: Int = 5, den: Int = 2): DataFrame = {
    val hourly = events
      .groupBy(col("event_type"),
        expr("unix_micros(ts) div 3600000000").as("hr"))
      .agg(count(lit(1)).as("n"))
    val trail = Window.partitionBy(col("event_type")).orderBy(col("hr"))
      .rangeBetween(-w, -1)
    hourly
      .withColumn("trailing_n", sum(col("n")).over(trail))
      .withColumn("first_hr",
        min(col("hr")).over(Window.partitionBy(col("event_type"))))
      .select(col("event_type"), col("hr"), col("n"),
        coalesce(col("trailing_n"), lit(-1L)).as("trailing_n"),
        (col("trailing_n").isNotNull &&
          col("hr") >= col("first_hr") + w &&
          col("n") * (den * w) > col("trailing_n") * num).as("spike"))
      .orderBy(col("event_type"), col("hr"))
  }

  def rateSpikesSql(w: Int = 6, num: Int = 5, den: Int = 2): String =
    s"""WITH h AS (
       |  SELECT event_type, epoch_us(ts) // 3600000000 AS hr,
       |         CAST(COUNT(*) AS BIGINT) AS n
       |  FROM events GROUP BY 1, 2),
       |t AS (
       |  SELECT event_type, hr, n,
       |         CAST(SUM(n) OVER (PARTITION BY event_type ORDER BY hr
       |           RANGE BETWEEN $w PRECEDING AND 1 PRECEDING) AS BIGINT) AS tn,
       |         MIN(hr) OVER (PARTITION BY event_type) AS fh
       |  FROM h)
       |SELECT event_type, hr, n,
       |       COALESCE(tn, -1) AS trailing_n,
       |       tn IS NOT NULL AND hr >= fh + $w
       |         AND n * ${den * w} > tn * $num AS spike
       |FROM t ORDER BY event_type, hr""".stripMargin

  /** Per-user conversion latency for funnel completers — the question
    * the stage-count funnel can't answer: not HOW MANY converted but
    * HOW LONG each stage took. Anchors are the funnel's own
    * quantities: first view, first QUALIFYING click (some view
    * precedes it — the same running-conditional-MIN chain), first
    * qualifying purchase; only converted users surface. Latencies are
    * exact integer microseconds (`unix_micros` differences — no
    * float), so the whole relation sits behind the hash gate; the
    * plan is the funnel's single user-keyed shuffle (chained windows +
    * the per-user aggregate share partitioning).
    *
    * A negative view→click gap is impossible by construction (the
    * qualifying click has a view strictly before it); stage gaps can
    * legitimately be zero on same-timestamp event bursts. */
  def funnelLatency(events: DataFrame): DataFrame = {
    val wPrev = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val withFv = events.withColumn("fv",
      min(when(col("event_type") === "view", col("ts"))).over(wPrev))
    val withFqc = withFv.withColumn("fqc",
      min(when(col("event_type") === "click" && col("fv").isNotNull,
        col("ts"))).over(wPrev))
    withFqc.groupBy(col("user_id")).agg(
      min(when(col("event_type") === "view", col("ts"))).as("v_ts"),
      min(when(col("event_type") === "click" && col("fv").isNotNull,
        col("ts"))).as("c_ts"),
      min(when(col("event_type") === "purchase" && col("fqc").isNotNull,
        col("ts"))).as("p_ts"))
      .filter(col("p_ts").isNotNull)
      .select(col("user_id"),
        (unix_micros(col("c_ts")) - unix_micros(col("v_ts")))
          .as("view_to_click_us"),
        (unix_micros(col("p_ts")) - unix_micros(col("c_ts")))
          .as("click_to_purchase_us"),
        (unix_micros(col("p_ts")) - unix_micros(col("v_ts")))
          .as("total_us"))
      .orderBy(col("user_id"))
  }

  val funnelLatencySql: String =
    """WITH w1 AS (
      |  SELECT user_id, event_id, ts, event_type,
      |    MIN(CASE WHEN event_type = 'view' THEN ts END) OVER wp AS fv
      |  FROM events
      |  WINDOW wp AS (PARTITION BY user_id ORDER BY ts, event_id
      |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
      |w2 AS (
      |  SELECT *,
      |    MIN(CASE WHEN event_type = 'click' AND fv IS NOT NULL THEN ts END)
      |      OVER wp AS fqc
      |  FROM w1
      |  WINDOW wp AS (PARTITION BY user_id ORDER BY ts, event_id
      |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
      |u AS (
      |  SELECT user_id,
      |    MIN(CASE WHEN event_type = 'view' THEN ts END) AS v_ts,
      |    MIN(CASE WHEN event_type = 'click' AND fv IS NOT NULL
      |             THEN ts END) AS c_ts,
      |    MIN(CASE WHEN event_type = 'purchase' AND fqc IS NOT NULL
      |             THEN ts END) AS p_ts
      |  FROM w2 GROUP BY user_id)
      |SELECT user_id,
      |  epoch_us(c_ts) - epoch_us(v_ts) AS view_to_click_us,
      |  epoch_us(p_ts) - epoch_us(c_ts) AS click_to_purchase_us,
      |  epoch_us(p_ts) - epoch_us(v_ts) AS total_us
      |FROM u WHERE p_ts IS NOT NULL ORDER BY user_id""".stripMargin

  /** Two-variant experiment readout (the A/B dashboard row): users
    * split by the deterministic hash bucket `user_id % 2`, conversion
    * = any HIGH-VALUE purchase (value ≥ the threshold — in the dense
    * fixture every user purchases, so plain purchase-conversion is
    * degenerate C = N), and the two-proportion pooled z² statistic in an
    * EXACT RATIONAL: algebra collapses
    * z² = (p₁−p₂)² / (p̂(1−p̂)(1/n₁+1/n₂)) to
    * z² = (c₁n₂ − c₂n₁)²·N / (n₁n₂C(N−C)) with N=n₁+n₂, C=c₁+c₂ —
    * numerator and denominator are products of exact counts, computed
    * in DECIMAL(38,0) (≡ DuckDB HUGEINT: both 128-bit-exact) and
    * surfaced as a 10⁶-scaled BIGINT fixed-point plus the exact
    * integer significance decision `10⁶·num > 3841459·den`
    * (z² > 3.841459 ⇔ p < 0.05) — no float ever enters a comparison.
    * The per-variant rates are single IEEE divisions of exact counts.
    * Headroom is HONEST, not aspirational: the worst term is
    * num·10⁶ ≤ 2·n⁵·10⁶, inside 10³⁸ through n ≈ 2×10⁶ users per arm;
    * a larger experiment thins counts proportionally first (the
    * statistic is invariant under proportional thinning), it does not
    * widen the integers.
    *
    * One partial-agg shuffle to 2 rows, then ONE conditional pivot to
    * a single row — no cross join, and a single-arm experiment (every
    * user on one parity) still surfaces its row with the degenerate
    * 0/false verdict instead of vanishing. The `%` bucket matches
    * DuckDB's sign semantics exactly (Spark `%` ≡ DuckDB `%`; `pmod`
    * would bucket negative ids differently). */
  def abTest(events: DataFrame, minValue: Double = 200.0): DataFrame = {
    val per = events
      .groupBy(expr("CAST(user_id % 2 AS INT)").as("variant"))
      .agg(countDistinct(col("user_id")).as("n"),
        countDistinct(when(col("event_type") === "purchase"
          && col("value") >= minValue, col("user_id"))).as("c"))
    per.agg(
        coalesce(max(when(col("variant") === 0, col("n"))), lit(0L)).as("n0"),
        coalesce(max(when(col("variant") === 0, col("c"))), lit(0L)).as("c0"),
        coalesce(max(when(col("variant") === 1, col("n"))), lit(0L)).as("n1"),
        coalesce(max(when(col("variant") === 1, col("c"))), lit(0L)).as("c1"))
      .select(col("n0"), col("c0"), col("n1"), col("c1"),
        when(col("n0") > 0, col("c0").cast("double") / col("n0"))
          .as("cvr0"),
        when(col("n1") > 0, col("c1").cast("double") / col("n1"))
          .as("cvr1"),
        expr("""CAST(
            (CAST(c0 AS DECIMAL(38,0)) * n1 - CAST(c1 AS DECIMAL(38,0)) * n0)
          * (CAST(c0 AS DECIMAL(38,0)) * n1 - CAST(c1 AS DECIMAL(38,0)) * n0)
          * (n0 + n1) AS DECIMAL(38,0))""").as("z2num"),
        expr("""CAST(CAST(n0 AS DECIMAL(38,0)) * n1 * (c0 + c1)
          * (n0 + n1 - c0 - c1) AS DECIMAL(38,0))""").as("z2den"))
      .select(col("n0"), col("c0"), col("n1"), col("c1"),
        col("cvr0"), col("cvr1"),
        // degenerate experiment (no converters anywhere, or all
        // converted): the statistic is undefined — report 0 / false
        expr("CAST(CASE WHEN z2den = 0 THEN 0 ELSE (z2num * 1000000) div z2den END AS BIGINT)")
          .as("z2_fp"),
        expr("z2den <> 0 AND z2num * 1000000 > z2den * 3841459")
          .as("significant"))
      // single row; the sort satisfies the engine-wide total-order lint
      .orderBy(col("n0"))
  }

  def abTestSql(minValue: Double = 200.0): String =
    s"""WITH per AS (
      |  SELECT CAST(user_id % 2 AS INT) AS variant,
      |    COUNT(DISTINCT user_id) AS n,
      |    COUNT(DISTINCT CASE WHEN event_type = 'purchase'
      |                         AND value >= $minValue
      |                        THEN user_id END) AS c
      |  FROM events GROUP BY 1),
      |ab AS (
      |  SELECT
      |    COALESCE(MAX(CASE WHEN variant = 0 THEN n END), 0) AS n0,
      |    COALESCE(MAX(CASE WHEN variant = 0 THEN c END), 0) AS c0,
      |    COALESCE(MAX(CASE WHEN variant = 1 THEN n END), 0) AS n1,
      |    COALESCE(MAX(CASE WHEN variant = 1 THEN c END), 0) AS c1
      |  FROM per),
      |z AS (
      |  SELECT n0, c0, n1, c1,
      |    (CAST(c0 AS HUGEINT) * n1 - CAST(c1 AS HUGEINT) * n0)
      |      * (CAST(c0 AS HUGEINT) * n1 - CAST(c1 AS HUGEINT) * n0)
      |      * (n0 + n1) AS z2num,
      |    CAST(n0 AS HUGEINT) * n1 * (c0 + c1) * (n0 + n1 - c0 - c1) AS z2den
      |  FROM ab)
      |SELECT CAST(n0 AS BIGINT) AS n0, CAST(c0 AS BIGINT) AS c0,
      |  CAST(n1 AS BIGINT) AS n1, CAST(c1 AS BIGINT) AS c1,
      |  CASE WHEN n0 > 0 THEN CAST(c0 AS DOUBLE) / n0 END AS cvr0,
      |  CASE WHEN n1 > 0 THEN CAST(c1 AS DOUBLE) / n1 END AS cvr1,
      |  CAST(CASE WHEN z2den = 0 THEN 0
      |       ELSE (z2num * 1000000) // z2den END AS BIGINT) AS z2_fp,
      |  z2den <> 0 AND z2num * 1000000 > z2den * 3841459 AS significant
      |FROM z ORDER BY n0""".stripMargin

  /** Growth accounting (the new/retained/resurrected/churned ledger —
    * the standard product-growth decomposition of DAU): classify every
    * (user, active day) by the user's PREVIOUS active day (none → new,
    * yesterday → retained, earlier → resurrected), and emit one
    * `churned` contribution at day+1 whenever an active day has no
    * successor at day+1 — churn is an ABSENCE event, observed on the
    * day the user failed to return (clamped to the corpus' last day:
    * beyond it, absence is unobservable, not churn). The identity
    * DAU(d) = new + retained + resurrected and the conservation
    * churned(d) = DAU(d−1) − retained(d) both hold by construction.
    *
    * Scale shape: ONE user-keyed window shuffle (lag + lead share the
    * partition), contributions reduce by partial-agg counts per day —
    * no day×day self-join, no per-user collect; the corpus max-day is
    * a 1-row broadcast. */
  def growthAccounting(events: DataFrame): DataFrame = {
    val ud = events
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
    val c = ud
      .withColumn("prev", lag(col("day"), 1).over(w))
      .withColumn("next", lead(col("day"), 1).over(w))
    val maxDay = ud.agg(max(col("day")).as("max_day"))
    val classified = c.select(col("day"),
      when(col("prev").isNull, "new")
        .when(datediff(col("day"), col("prev")) === 1, "retained")
        .otherwise("resurrected").as("kind"))
    val churned = c.crossJoin(broadcast(maxDay))
      .filter(col("day") < col("max_day") &&
        (col("next").isNull || datediff(col("next"), col("day")) > 1))
      .select(date_add(col("day"), 1).as("day"), lit("churned").as("kind"))
    classified.unionByName(churned)
      .groupBy(col("day"))
      .agg(
        sum(when(col("kind") === "new", 1L).otherwise(0L)).as("n_new"),
        sum(when(col("kind") === "retained", 1L).otherwise(0L))
          .as("n_retained"),
        sum(when(col("kind") === "resurrected", 1L).otherwise(0L))
          .as("n_resurrected"),
        sum(when(col("kind") === "churned", 1L).otherwise(0L))
          .as("n_churned"))
      .orderBy(col("day"))
  }

  val growthAccountingSql: String =
    """WITH ud AS (
      |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
      |c AS (
      |  SELECT user_id, day,
      |    LAG(day) OVER (PARTITION BY user_id ORDER BY day) AS prev,
      |    LEAD(day) OVER (PARTITION BY user_id ORDER BY day) AS next
      |  FROM ud),
      |cls AS (
      |  SELECT day,
      |    CASE WHEN prev IS NULL THEN 'new'
      |         WHEN day - prev = 1 THEN 'retained'
      |         ELSE 'resurrected' END AS kind
      |  FROM c
      |  UNION ALL
      |  SELECT day + 1, 'churned' FROM c
      |  WHERE day < (SELECT MAX(day) FROM ud)
      |    AND (next IS NULL OR next - day > 1))
      |SELECT day,
      |  CAST(SUM(CASE WHEN kind = 'new' THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
      |  CAST(SUM(CASE WHEN kind = 'retained' THEN 1 ELSE 0 END) AS BIGINT) AS n_retained,
      |  CAST(SUM(CASE WHEN kind = 'resurrected' THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrected,
      |  CAST(SUM(CASE WHEN kind = 'churned' THEN 1 ELSE 0 END) AS BIGINT) AS n_churned
      |FROM cls GROUP BY day ORDER BY day""".stripMargin

  /** Discrete Kaplan–Meier time-to-conversion table: duration from each
    * user's first `signup` to their first LATER `purchase`, bucketed in
    * 12-hour intervals; users with no conversion are right-censored at
    * the corpus horizon (global max ts). Per bucket k: n_at_risk =
    * users still unconverted and uncensored entering k (a descending
    * cumulative sum over the tiny bucket relation), n_converted =
    * conversions inside k, hazard_bp = 10^4·converted div at_risk —
    * the discrete hazard an LTV/payback model consumes.
    *
    * Scale shape: two partial-agg groupBys over events (first signup,
    * first qualifying purchase — the purchase side pre-filtered before
    * its join), one broadcast of the 1-row horizon, then ALL window
    * work happens on the ≤O(horizon/bucket) bucket relation. Durations
    * are microsecond integers (the sessionize discipline): bucket
    * boundaries land identically in both engines. */
  def survival(events: DataFrame): DataFrame = {
    val bucketUs = 43200000000L // 12 h
    val signup = events.filter(col("event_type") === "signup")
      .groupBy(col("user_id"))
      .agg(min(unix_micros(col("ts"))).as("st"))
    val horizon = events.agg(max(unix_micros(col("ts"))).as("h"))
    val firstPurchase = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_uid"), unix_micros(col("ts")).as("pt"))
    val perUser = signup
      .join(firstPurchase,
        col("user_id") === col("p_uid") && col("pt") > col("st"), "left")
      .groupBy(col("user_id"), col("st"))
      .agg(min(col("pt")).as("pt"))
      .crossJoin(broadcast(horizon))
      .select(
        when(col("pt").isNotNull,
          expr(s"(pt - st) div $bucketUs")).as("conv_bucket"),
        expr(s"(h - st) div $bucketUs").as("censor_bucket"))
      .select(coalesce(col("conv_bucket"), col("censor_bucket")).as("bucket"),
        col("conv_bucket").isNotNull.cast("int").as("converted"))
    val byBucket = perUser.groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_exits"),
        sum(col("converted")).cast("long").as("n_converted"))
    // at-risk entering bucket k = everyone exiting at ≥ k
    val wDesc = Window.orderBy(col("bucket").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byBucket
      .withColumn("n_at_risk", sum(col("n_exits")).over(wDesc))
      .select(col("bucket"), col("n_at_risk"), col("n_converted"),
        expr("n_converted * 10000L div n_at_risk").as("hazard_bp"))
      .orderBy(col("bucket"))
  }

  val survivalSql: String =
    """WITH s AS (
      |  SELECT user_id, MIN(epoch_us(CAST(ts AS TIMESTAMP))) AS st
      |  FROM events WHERE event_type = 'signup' GROUP BY user_id),
      |h AS (SELECT MAX(epoch_us(CAST(ts AS TIMESTAMP))) AS h FROM events),
      |p AS (
      |  SELECT s.user_id, s.st,
      |    MIN(CASE WHEN e.event_type = 'purchase'
      |             AND epoch_us(CAST(e.ts AS TIMESTAMP)) > s.st
      |        THEN epoch_us(CAST(e.ts AS TIMESTAMP)) END) AS pt
      |  FROM s LEFT JOIN events e ON e.user_id = s.user_id
      |  GROUP BY s.user_id, s.st),
      |per_user AS (
      |  SELECT COALESCE((pt - st) // 43200000000,
      |                  (h.h - st) // 43200000000) AS bucket,
      |    CASE WHEN pt IS NOT NULL THEN 1 ELSE 0 END AS converted
      |  FROM p CROSS JOIN h),
      |by_bucket AS (
      |  SELECT bucket, COUNT(*) AS n_exits, SUM(converted) AS n_converted
      |  FROM per_user GROUP BY bucket),
      |risk AS (
      |  SELECT bucket,
      |    CAST(SUM(n_exits) OVER (ORDER BY bucket DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS n_at_risk,
      |    CAST(n_converted AS BIGINT) AS n_converted
      |  FROM by_bucket)
      |SELECT bucket, n_at_risk, n_converted,
      |  n_converted * 10000 // n_at_risk AS hazard_bp
      |FROM risk ORDER BY bucket""".stripMargin

  /** Leaderboard-movement report: top-k revenue users of the window's
    * first half vs its second half, full-outer-joined into the entered /
    * exited / up / down / held story a BI consumer reads. Halves come
    * from the data's own span (the PAA integer grid with 2 segments —
    * no wall clock); revenue is exact DECIMAL cents so ranks are
    * engine-deterministic with (cents DESC, user ASC) tie order. The
    * per-half ranking is rank ≤ k over a per-user AGGREGATE — Spark
    * plans it as WindowGroupLimit (top-k retained per partition before
    * the full sort materializes, the `topk_per_group` contract). */
  def topkMovers(events: DataFrame, k: Int): DataFrame = {
    val daily = events
      .select(col("user_id"), to_date(col("ts")).as("day"),
        (Exact.money(col("value")) * 100).cast("long").as("cents"))
    val bounds = daily.agg(min(col("day")).as("d0"),
      (datediff(max(col("day")), min(col("day"))) + 1).cast("long").as("span"))
    val perHalf = daily
      .crossJoin(broadcast(bounds))
      .withColumn("half",
        expr("(CAST(datediff(day, d0) AS BIGINT) * 2) div span"))
      .groupBy(col("user_id"), col("half"))
      .agg(sum(col("cents")).as("cents"))
    val ranked = perHalf
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("half"))
          .orderBy(col("cents").desc, col("user_id"))))
      .filter(col("rk") <= k)
    val h0 = ranked.filter(col("half") === 0)
      .select(col("user_id"), col("rk").as("rank_prev"),
        col("cents").as("cents_prev"))
    val h1 = ranked.filter(col("half") === 1)
      .select(col("user_id").as("uid1"), col("rk").as("rank_curr"),
        col("cents").as("cents_curr"))
    h0.join(h1, col("user_id") === col("uid1"), "full_outer")
      .select(coalesce(col("user_id"), col("uid1")).as("user_id"),
        col("rank_prev"), col("rank_curr"),
        col("cents_prev"), col("cents_curr"),
        when(col("rank_prev").isNull, "entered")
          .when(col("rank_curr").isNull, "exited")
          .when(col("rank_curr") < col("rank_prev"), "up")
          .when(col("rank_curr") > col("rank_prev"), "down")
          .otherwise("held").as("status"))
      .orderBy(coalesce(col("rank_curr"), lit(999)),
        coalesce(col("rank_prev"), lit(999)), col("user_id"))
  }

  def topkMoversSql(k: Int): String =
    s"""WITH daily AS (
       |  SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
       |    CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
       |  FROM events),
       |b AS (
       |  SELECT MIN(day) AS d0,
       |    CAST(date_diff('day', MIN(day), MAX(day)) + 1 AS BIGINT) AS span
       |  FROM daily),
       |per_half AS (
       |  SELECT user_id,
       |    (CAST(date_diff('day', b.d0, day) AS BIGINT) * 2) // b.span AS half,
       |    SUM(cents) AS cents
       |  FROM daily CROSS JOIN b
       |  GROUP BY 1, 2),
       |ranked AS (
       |  SELECT user_id, half, cents,
       |    ROW_NUMBER() OVER (PARTITION BY half
       |      ORDER BY cents DESC, user_id) AS rk
       |  FROM per_half),
       |h0 AS (SELECT user_id, rk AS rank_prev, cents AS cents_prev
       |       FROM ranked WHERE half = 0 AND rk <= $k),
       |h1 AS (SELECT user_id, rk AS rank_curr, cents AS cents_curr
       |       FROM ranked WHERE half = 1 AND rk <= $k)
       |SELECT COALESCE(h0.user_id, h1.user_id) AS user_id,
       |  CAST(rank_prev AS INT) AS rank_prev,
       |  CAST(rank_curr AS INT) AS rank_curr,
       |  CAST(cents_prev AS BIGINT) AS cents_prev,
       |  CAST(cents_curr AS BIGINT) AS cents_curr,
       |  CASE WHEN rank_prev IS NULL THEN 'entered'
       |       WHEN rank_curr IS NULL THEN 'exited'
       |       WHEN rank_curr < rank_prev THEN 'up'
       |       WHEN rank_curr > rank_prev THEN 'down'
       |       ELSE 'held' END AS status
       |FROM h0 FULL OUTER JOIN h1 ON h0.user_id = h1.user_id
       |ORDER BY COALESCE(rank_curr, 999), COALESCE(rank_prev, 999), user_id""".stripMargin

  /** Peak session concurrency per day: sessionize per user (the
    * 30-minute window_sessionize rule), convert each session to ±1
    * boundary deltas at exact microseconds (−1 at end+1 µs so a
    * touching start/end still counts as overlap at the shared instant),
    * aggregate deltas per distinct boundary timestamp, running-sum to
    * the live-session count, and report each day's maximum with the
    * EARLIEST instant achieving it — the capacity-planning readout
    * (how many concurrent users must we serve?).
    *
    * Scale shape: the per-user sessionize windows are user-keyed; the
    * global running sum runs over the DISTINCT boundary-timestamp
    * relation (≤ 2·sessions rows, duplicates pre-merged by one partial
    * agg) — the rel/DistributedRank prefix form is the documented path
    * when even that relation outgrows one range partition. */
  def sessionConcurrency(events: DataFrame): DataFrame = {
    val wUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val sessions = events
      .select(col("user_id"), col("ts"), col("event_id"))
      .withColumn("gap_us",
        unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(wUser)))
      .withColumn("new_s",
        when(col("gap_us").isNull || col("gap_us") > 1800000000L, 1)
          .otherwise(0))
      .withColumn("session_id",
        sum(col("new_s")).over(
          wUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(min(unix_micros(col("ts"))).as("s"),
        max(unix_micros(col("ts"))).as("e"))
    // both boundary rows of a session emitted by ONE in-row explode —
    // the two-arm union derived the whole sessionize subtree twice
    val deltas = sessions
      .select(explode(array(
        struct(col("s").as("t"), lit(1L).as("d")),
        struct((col("e") + 1).as("t"), lit(-1L).as("d")))).as("x"))
      .select(col("x.t").as("t"), col("x.d").as("d"))
      .groupBy(col("t")).agg(sum(col("d")).as("d"))
    val wT = Window.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val live = deltas
      .withColumn("live", sum(col("d")).over(wT))
      .select(to_date(timestamp_micros(col("t"))).as("day"),
        col("t"), col("live"))
    // per-day peak as a window over the SAME relation instead of a
    // groupBy + self-join that re-derived `live` (and its global
    // running sum) a second time
    live
      .withColumn("peak", max(col("live")).over(
        Window.partitionBy(col("day"))))
      .filter(col("live") === col("peak"))
      .groupBy(col("day"), col("peak"))
      .agg(min(col("t")).as("at_us"))
      .select(col("day"), col("peak"), col("at_us"))
      .orderBy(col("day"))
  }

  val sessionConcurrencySql: String =
    """WITH g AS (
      |  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
      |    CASE WHEN epoch_us(CAST(ts AS TIMESTAMP))
      |           - LAG(epoch_us(CAST(ts AS TIMESTAMP))) OVER w IS NULL
      |         OR epoch_us(CAST(ts AS TIMESTAMP))
      |           - LAG(epoch_us(CAST(ts AS TIMESTAMP))) OVER w > 1800000000
      |         THEN 1 ELSE 0 END AS new_s
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |sess AS (
      |  -- tie-break on event_id like the Spark twin (and the sibling
      |  -- sessionCoverageSql): a ROWS running sum over us alone is
      |  -- engine-arbitrary when a user's events share a timestamp
      |  SELECT user_id, session_id, MIN(us) AS s, MAX(us) AS e FROM (
      |    SELECT user_id, us,
      |      SUM(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      |    FROM g)
      |  GROUP BY user_id, session_id),
      |deltas AS (
      |  SELECT t, CAST(SUM(d) AS BIGINT) AS d FROM (
      |    SELECT s AS t, 1 AS d FROM sess
      |    UNION ALL SELECT e + 1, -1 FROM sess)
      |  GROUP BY t),
      |live AS (
      |  SELECT CAST(make_timestamp(t) AS DATE) AS day, t,
      |    CAST(SUM(d) OVER (ORDER BY t
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS live
      |  FROM deltas),
      |peaks AS (SELECT day, MAX(live) AS peak FROM live GROUP BY day)
      |SELECT l.day, p.peak, MIN(l.t) AS at_us
      |FROM live l JOIN peaks p ON p.day = l.day AND l.live = p.peak
      |GROUP BY l.day, p.peak
      |ORDER BY l.day""".stripMargin

  /** Seasonal-baseline rate anomalies: each (type, day, hour) judged
    * against the SAME HOUR on prior days — the daily-rhythm baseline
    * `events_spike`'s trailing window can't give (9 am is always busier
    * than 4 am; a trailing window flags every morning). Flag when
    * n·n_prior_days > 2·Σ prior same-hour counts (strictly more than
    * 2× the seasonal mean, exact cross-multiplication — no IEEE mean),
    * requiring ≥ 3 prior days so day-one noise can't fire. One
    * partial-agg reduce to (type, day, hour), then windows keyed on
    * (type, hour) over the calendar-bounded daily relation; gap days
    * count as zero via the n_prior_days = days-since-first computation
    * (a silent day IS evidence the hour is normally quiet). */
  def seasonalSpikes(events: DataFrame): DataFrame = {
    val hourly = events
      .groupBy(col("event_type"), to_date(col("ts")).as("day"),
        hour(col("ts")).cast("long").as("hr"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("event_type"), col("hr"))
      .orderBy(col("day"))
    val wSum = w.rowsBetween(Window.unboundedPreceding, -1)
    hourly
      .withColumn("sum_prior", coalesce(sum(col("n")).over(wSum), lit(0L)))
      // prior DAYS, not prior rows: a day with zero events at this hour
      // has no row but still counts in the baseline denominator
      .withColumn("n_prior_days",
        datediff(col("day"), min(col("day")).over(w)).cast("long"))
      .filter(col("n_prior_days") >= 3 &&
        col("n") * col("n_prior_days") > col("sum_prior") * 2)
      .select(col("event_type"), col("day"), col("hr"), col("n"),
        col("n_prior_days"), col("sum_prior"))
      .orderBy(col("event_type"), col("day"), col("hr"))
  }

  val seasonalSpikesSql: String =
    """WITH hourly AS (
      |  SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
      |    CAST(hour(CAST(ts AS TIMESTAMP)) AS BIGINT) AS hr,
      |    COUNT(*) AS n
      |  FROM events GROUP BY 1, 2, 3),
      |j AS (
      |  SELECT event_type, day, hr, n,
      |    CAST(COALESCE(SUM(n) OVER (PARTITION BY event_type, hr
      |      ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
      |      0) AS BIGINT) AS sum_prior,
      |    CAST(date_diff('day',
      |      MIN(day) OVER (PARTITION BY event_type, hr ORDER BY day
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), day)
      |      AS BIGINT) AS n_prior_days
      |  FROM hourly)
      |SELECT event_type, day, hr, CAST(n AS BIGINT) AS n,
      |  n_prior_days, sum_prior
      |FROM j
      |WHERE n_prior_days >= 3 AND n * n_prior_days > sum_prior * 2
      |ORDER BY event_type, day, hr""".stripMargin

  def queries: Seq[(String, QueryDef)] = Seq(
    "events_spike_seasonal" -> QueryDef(
      (s, d) => seasonalSpikes(Tables.events(s, d)), seasonalSpikesSql),
    "events_concurrency" -> QueryDef(
      (s, d) => sessionConcurrency(Tables.events(s, d)),
      sessionConcurrencySql),
    "topk_movers" -> QueryDef(
      (s, d) => topkMovers(Tables.events(s, d), 10), topkMoversSql(10)),
    "events_survival" -> QueryDef(
      (s, d) => survival(Tables.events(s, d)), survivalSql),
    "events_growth" -> QueryDef(
      (s, d) => growthAccounting(Tables.events(s, d)),
      growthAccountingSql),
    "events_funnel_latency" -> QueryDef(
      (s, d) => funnelLatency(Tables.events(s, d)),
      funnelLatencySql),
    "events_ab_test" -> QueryDef(
      (s, d) => abTest(Tables.events(s, d)), abTestSql()),
    "events_spike" -> QueryDef(
      (s, d) => rateSpikes(Tables.events(s, d)), rateSpikesSql()),
    "events_attribution_markov" -> QueryDef(
      (s, d) => markovAttribution(Tables.events(s, d),
        Seq("click", "error", "signup", "view")),
      markovAttributionSql(Seq("click", "error", "signup", "view"))),
    "events_abandonment" -> QueryDef(
      (s, d) => abandonment(Tables.events(s, d)), abandonmentSql),
    "events_rfm" -> QueryDef(
      (s, d) => rfmSegments(Tables.events(s, d)),
      rfmSegmentsSql),
    "events_pattern" -> QueryDef(
      (s, d) => matchViewRunsThenClick(Tables.events(s, d)),
      matchViewRunsThenClickSql),
    "events_attribution" -> QueryDef(
      (s, d) => lastTouchAttribution(Tables.events(s, d)),
      lastTouchAttributionSql),
    "events_attribution_position" -> QueryDef(
      (s, d) => positionAttribution(Tables.events(s, d)),
      positionAttributionSql),
    "events_funnel" -> QueryDef(
      (s, d) => funnel(Tables.events(s, d)), funnelSql),
    "events_retention" -> QueryDef(
      (s, d) => retention(Tables.events(s, d)), retentionSql),
    "events_top_paths" -> QueryDef(
      (s, d) => topSessionPaths(Tables.events(s, d), 20),
      topSessionPathsSql(20)),
    "events_cohort_ltv" -> QueryDef(
      (s, d) => cohortLtv(Tables.events(s, d)), cohortLtvSql),
    "events_active_users" -> QueryDef(
      (s, d) => activeUsers(Tables.events(s, d)), activeUsersSql),
    "events_streaks" -> QueryDef(
      (s, d) => streaks(Tables.events(s, d)), streaksSql))

  /** DAU/WAU — rolling DISTINCT active users, the dashboard headline
    * metric, computed by CONTRIBUTION EXPLODE instead of a windowed
    * self-join: each distinct (user, day) contributes to the ≤ w
    * trailing windows it belongs to (bounded fanout w), a second
    * distinct collapses multi-day activity inside one window, and the
    * counts are plain partial aggs — no day×day join, no rolling
    * count-distinct window (which would hold per-day user sets in
    * state). Only days with activity surface (the fixture log is
    * dense), and WAU counts users active in [day − w + 1, day]. */
  def activeUsers(events: DataFrame, w: Int = 7): DataFrame = {
    val userDays = events
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    val dau = userDays.groupBy(col("day")).agg(count(lit(1)).as("dau"))
    val contrib = userDays.select(col("user_id"),
        explode(expr(s"sequence(day, date_add(day, ${w - 1}))")).as("win_day"))
      .distinct()
    val wau = contrib.groupBy(col("win_day").as("day"))
      .agg(count(lit(1)).as("wau"))
    dau.join(wau, Seq("day"))
      .select(col("day"), col("dau"), col("wau"))
      .orderBy(col("day"))
  }

  val activeUsersSql: String =
    """WITH ud AS (
      |  SELECT DISTINCT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day
      |  FROM events),
      |dau AS (SELECT day, COUNT(*) AS dau FROM ud GROUP BY day),
      |contrib AS (
      |  SELECT DISTINCT user_id,
      |    CAST(unnest(generate_series(day, day + INTERVAL 6 DAY,
      |      INTERVAL 1 DAY)) AS DATE) AS win_day
      |  FROM ud),
      |wau AS (SELECT win_day AS day, COUNT(*) AS wau
      |        FROM contrib GROUP BY win_day)
      |SELECT d.day, d.dau, w.wau
      |FROM dau d JOIN wau w ON w.day = d.day
      |ORDER BY d.day""".stripMargin

  /** Longest consecutive-day activity streak per user — the classic
    * gaps-and-islands engagement metric (habit strength, the "don't
    * break the chain" counter every consumer product ships). A day run
    * is an island of the difference `epoch_day − row_number` over each
    * user's sorted distinct active days: consecutive days share the
    * difference, any gap shifts it — no self-join, no day×day window.
    *
    * Scale shape: one distinct on (user, day), then two windows
    * partitioned BY USER (per-partition work is that user's active-day
    * count, bounded by the calendar — never a fat key), and a final
    * per-user aggregate. The tie rule is part of the semantics: among
    * equal-length best streaks the EARLIEST start day surfaces. */
  def streaks(events: DataFrame): DataFrame = {
    val userDays = events
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
    val runs = userDays
      .withColumn("island",
        datediff(col("day"), lit(java.sql.Date.valueOf("1970-01-01")))
          - row_number().over(w))
      .groupBy(col("user_id"), col("island"))
      .agg(count(lit(1)).as("len"), min(col("day")).as("start_day"))
    val wmax = Window.partitionBy(col("user_id"))
    runs.withColumn("best", max(col("len")).over(wmax))
      .groupBy(col("user_id"))
      .agg(sum(col("len")).cast("long").as("n_active_days"),
        count(lit(1)).as("n_streaks"),
        max(col("len")).as("best_streak"),
        min(when(col("len") === col("best"), col("start_day")))
          .as("best_start"))
      .orderBy(col("user_id"))
  }

  val streaksSql: String =
    """WITH ud AS (
      |  SELECT DISTINCT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day
      |  FROM events),
      |isl AS (
      |  SELECT user_id, day,
      |    date_diff('day', DATE '1970-01-01', day)
      |      - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) AS island
      |  FROM ud),
      |runs AS (
      |  SELECT user_id, island, COUNT(*) AS len, MIN(day) AS start_day
      |  FROM isl GROUP BY user_id, island),
      |b AS (SELECT *, MAX(len) OVER (PARTITION BY user_id) AS best FROM runs)
      |SELECT user_id, CAST(SUM(len) AS BIGINT) AS n_active_days,
      |  CAST(COUNT(*) AS BIGINT) AS n_streaks,
      |  CAST(MAX(len) AS BIGINT) AS best_streak,
      |  MIN(CASE WHEN len = best THEN start_day END) AS best_start
      |FROM b GROUP BY user_id
      |ORDER BY user_id""".stripMargin

  /** Cohort LTV triangle — the MONETARY axis of `retention`: per
    * (cohort_day, day_offset), purchase count and exact-DECIMAL
    * purchase value, plus the running cumulative value per cohort (the
    * LTV curve product teams actually read). The cohort anchor reuses
    * retention's per-user min-day window; money follows the Exact
    * DECIMAL discipline end to end, and the running cumulative is a
    * window over the already-tiny (cohort × offset) aggregate — never
    * over raw events. */
  def cohortLtv(events: DataFrame): DataFrame = {
    import graft.core.Exact.money
    val days = events.select(col("user_id"), to_date(col("ts")).as("day"),
      col("event_type"), money(col("value")).as("v"))
    val withCohort = days.withColumn("cohort_day",
      min(col("day")).over(Window.partitionBy(col("user_id"))))
    val cell = withCohort.filter(col("event_type") === "purchase")
      .groupBy(col("cohort_day"),
        datediff(col("day"), col("cohort_day")).cast("long").as("day_offset"))
      .agg(count(lit(1)).as("n_purchases"), sum(col("v")).as("val_dec"))
    val cum = Window.partitionBy(col("cohort_day")).orderBy(col("day_offset"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cell.select(col("cohort_day"), col("day_offset"), col("n_purchases"),
        col("val_dec").cast("double").as("value"),
        sum(col("val_dec")).over(cum).cast("double").as("cum_value"))
      .orderBy(col("cohort_day"), col("day_offset"))
  }

  val cohortLtvSql: String =
    """WITH e AS (
      |  SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
      |         event_type, CAST(value AS DECIMAL(12,2)) AS v
      |  FROM events),
      |c AS (
      |  SELECT user_id, day, event_type, v,
      |    MIN(day) OVER (PARTITION BY user_id) AS cohort_day
      |  FROM e),
      |cell AS (
      |  SELECT cohort_day, date_diff('day', cohort_day, day) AS day_offset,
      |         COUNT(*) AS n_purchases, SUM(v) AS val_dec
      |  FROM c WHERE event_type = 'purchase'
      |  GROUP BY cohort_day, date_diff('day', cohort_day, day))
      |SELECT cohort_day, day_offset, n_purchases,
      |  CAST(CAST(val_dec AS VARCHAR) AS DOUBLE) AS value,
      |  CAST(CAST(SUM(val_dec) OVER (PARTITION BY cohort_day ORDER BY day_offset
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS VARCHAR) AS DOUBLE)
      |    AS cum_value
      |FROM cell
      |ORDER BY cohort_day, day_offset""".stripMargin
}
