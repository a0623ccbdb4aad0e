package graft.rel

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{Exact, QueryDef, Tables}

/** Time-series regularization over the event stream: calendar
  * densification with forward fill, and first-order transition counts.
  * The reference engine aggregates by period label only (`fianl2.py:195`
  * — periods that exist in the data); a time-series consumer needs the
  * OPPOSITE contract — every period in the span present, gaps filled
  * with the last observation. Both ops are [EXT] SURVEY §2.11 adjuncts
  * to the windowing family (§2.9).
  *
  * Scale shape:
  *   - The daily reduction is a partial-aggregated groupBy, so raw
  *     events collapse per map task before the one shuffle on
  *     (user, day). The calendar explode generates rows from each
  *     user's OWN span — a narrow map off the per-user extent
  *     aggregate, never a global calendar crossJoin.
  *   - The fill is a per-user running `last(ignoreNulls)` window — the
  *     same single-shuffle shape as window_running_sum; state per task
  *     is one value per user, not the history.
  *   - Transition counting is lag + groupBy: the per-user window and
  *     the count shuffle are both keyed on user/state, with map-side
  *     combine collapsing repeated transitions before the wire.
  *
  * Determinism: ties inside a (user, day) are broken by event_id
  * (unique in the fixture, monotone within a day's load order), so the
  * "last observation" is defined data, not plan luck; filled values are
  * CARRIED doubles — never re-accumulated — so cross-engine hash
  * equality holds without decimal casts.
  */
object TimeSeries {

  /** Per-user daily series densified to every day in the user's
    * [first, last] event-day span; days with no events carry the most
    * recent prior day's value. Output: (user_id, day, value). */
  def fillForwardDaily(events: DataFrame): DataFrame = {
    val daily = events
      .select(col("user_id"), to_date(col("ts")).as("day"),
        col("value"), col("event_id"))
      .groupBy(col("user_id"), col("day"))
      .agg(max_by(col("value"), col("event_id")).as("v"))
    val cal = daily
      .groupBy(col("user_id"))
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(col("user_id"),
        explode(sequence(col("d0"), col("d1"))).as("day"))
    cal.join(daily, Seq("user_id", "day"), "left")
      .select(col("user_id"), col("day"),
        last(col("v"), ignoreNulls = true).over(
          Window.partitionBy(col("user_id")).orderBy(col("day")))
          .as("value"))
      .orderBy(col("user_id"), col("day"))
  }

  val fillForwardDailySql: String =
    """WITH daily AS (
      |  SELECT user_id, CAST(ts AS DATE) AS day,
      |         arg_max(value, event_id) AS v
      |  FROM events GROUP BY user_id, CAST(ts AS DATE)),
      |span AS (
      |  SELECT user_id, MIN(day) AS d0, MAX(day) AS d1
      |  FROM daily GROUP BY user_id),
      |cal AS (
      |  SELECT user_id, CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
      |  FROM span)
      |SELECT c.user_id, c.day,
      |       last_value(d.v IGNORE NULLS) OVER (
      |         PARTITION BY c.user_id ORDER BY c.day) AS value
      |FROM cal c LEFT JOIN daily d
      |  ON d.user_id = c.user_id AND d.day = c.day
      |ORDER BY c.user_id, c.day""".stripMargin

  /** Linear interpolation of gap days — the reconstruction counterpart
    * of `fillForwardDaily`: a missing day takes the straight line
    * between its nearest observed neighbors instead of carrying the
    * stale value. All arithmetic is EXACT integer cents: the daily
    * value rounds once through DECIMAL(12,2) (HALF_UP in both engines),
    * and the interpolation `prev + (Δ·offset) div gap` is a BIGINT
    * division sign-split so Spark's truncate-toward-zero `div` and
    * DuckDB's floor `//` agree on falling segments (negative Δ) — the
    * Clustering.pcaPower discipline on the time axis. Span ends are
    * observed by construction, so no boundary nulls.
    *
    * Scale shape: same as fill-forward — one partial-aggregated daily
    * reduction, a narrow per-user calendar explode (never a global
    * calendar cross join), and ONE per-user window sort shared by all
    * four neighbor lookups (two frames over the same ordering). */
  def interpolateDaily(events: DataFrame): DataFrame = {
    val daily = events
      .select(col("user_id"), to_date(col("ts")).as("day"),
        col("value"), col("event_id"))
      .groupBy(col("user_id"), col("day"))
      .agg(max_by(col("value"), col("event_id")).as("v"))
      .select(col("user_id"), col("day"),
        (col("v").cast("decimal(12,2)") * 100).cast("long").as("c"))
    val cal = daily
      .groupBy(col("user_id"))
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(col("user_id"),
        explode(sequence(col("d0"), col("d1"))).as("day"))
    val wPrev = Window.partitionBy(col("user_id")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wNext = Window.partitionBy(col("user_id")).orderBy(col("day"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    cal.join(daily, Seq("user_id", "day"), "left")
      .select(col("user_id"), col("day"), col("c"),
        last(when(col("c").isNotNull, col("day")), ignoreNulls = true)
          .over(wPrev).as("pd"),
        last(col("c"), ignoreNulls = true).over(wPrev).as("pc"),
        first(when(col("c").isNotNull, col("day")), ignoreNulls = true)
          .over(wNext).as("nd"),
        first(col("c"), ignoreNulls = true).over(wNext).as("nc"))
      .withColumn("numer", (col("nc") - col("pc")) *
        datediff(col("day"), col("pd")).cast("long"))
      .withColumn("denom", datediff(col("nd"), col("pd")).cast("long"))
      .select(col("user_id"), col("day"),
        col("c").isNotNull.as("observed"),
        when(col("c").isNotNull, col("c")).otherwise(
          col("pc") + expr(
            "CASE WHEN numer >= 0 THEN numer div denom ELSE -((-numer) div denom) END"))
          .as("value_cents"))
      .orderBy(col("user_id"), col("day"))
  }

  val interpolateDailySql: String =
    """WITH daily AS (
      |  SELECT user_id, CAST(ts AS DATE) AS day,
      |         CAST(CAST(arg_max(value, event_id) AS DECIMAL(12,2)) * 100 AS BIGINT) AS c
      |  FROM events GROUP BY user_id, CAST(ts AS DATE)),
      |span AS (
      |  SELECT user_id, MIN(day) AS d0, MAX(day) AS d1
      |  FROM daily GROUP BY user_id),
      |cal AS (
      |  SELECT user_id, CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
      |  FROM span),
      |g AS (
      |  SELECT cal.user_id, cal.day, d.c,
      |    last_value(d.day IGNORE NULLS) OVER wp AS pd,
      |    last_value(d.c IGNORE NULLS) OVER wp AS pc,
      |    first_value(d.day IGNORE NULLS) OVER wn AS nd,
      |    first_value(d.c IGNORE NULLS) OVER wn AS nc
      |  FROM cal LEFT JOIN daily d
      |    ON d.user_id = cal.user_id AND d.day = cal.day
      |  WINDOW wp AS (PARTITION BY cal.user_id ORDER BY cal.day
      |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
      |         wn AS (PARTITION BY cal.user_id ORDER BY cal.day
      |                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
      |SELECT user_id, day, (c IS NOT NULL) AS observed,
      |  CASE WHEN c IS NOT NULL THEN c
      |       ELSE pc + (CASE WHEN (nc - pc) * (day - pd) >= 0
      |                       THEN ((nc - pc) * (day - pd)) // (nd - pd)
      |                       ELSE -((-((nc - pc) * (day - pd))) // (nd - pd)) END)
      |  END AS value_cents
      |FROM g ORDER BY user_id, day""".stripMargin

  /** Seasonal-naive forecast backtest — the baseline every real
    * forecasting deployment must beat, run as a query: forecast(d) =
    * actual(d−7) (weekly-seasonal arm) vs forecast(d) = actual(d−1)
    * (persistence arm), scored per event type over every day both the
    * actual and the lag exist. All money flows as exact DECIMAL-derived
    * cents; the error totals are BIGINT sums and the MAEs one
    * truncating division each (operands non-negative ⇒ `div` ≡ `//`).
    * The two lag joins are calendar self-joins on (type, day−k) — no
    * window over a dense calendar needed, missing days simply drop out
    * of that arm's backtest (stated semantics, mirrored in the oracle).
    *
    * Scale shape: one partial-aggregated daily reduction, then two
    * self-joins of the tiny (type, day) relation — the backtest costs
    * O(types × days) regardless of event volume. */
  def forecastEval(events: DataFrame): DataFrame = {
    val daily = events
      .select(col("event_type"), to_date(col("ts")).as("day"), col("value"))
      .groupBy(col("event_type"), col("day"))
      .agg(sum(col("value").cast("decimal(12,2)")).as("v"))
      .select(col("event_type"), col("day"),
        (col("v") * 100).cast("long").as("c"))
      // four consumers (both sides of both arms); the relation is
      // O(types × days) — materialize once instead of scanning the
      // event stream per consumer
      .localCheckpoint(eager = true)
    def arm(lagDays: Int, tag: String) = daily.as("a")
      .join(daily.select(col("event_type"),
          date_add(col("day"), lagDays).as("day"), col("c").as("f")),
        Seq("event_type", "day"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as(s"n_$tag"),
        sum(abs(col("c") - col("f"))).as(s"abs_$tag"))
    arm(7, "w").join(arm(1, "d"), Seq("event_type"))
      .select(col("event_type"),
        col("n_w"), col("abs_w"),
        expr("abs_w div n_w").as("mae_weekly_cents"),
        col("n_d"), col("abs_d"),
        expr("abs_d div n_d").as("mae_daily_cents"))
      .orderBy(col("event_type"))
  }

  val forecastEvalSql: String =
    """WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day,
      |         CAST(SUM(CAST(value AS DECIMAL(12,2))) * 100 AS BIGINT) AS c
      |  FROM events GROUP BY event_type, CAST(ts AS DATE)),
      |w AS (
      |  SELECT a.event_type, COUNT(*) AS n_w, SUM(ABS(a.c - f.c)) AS abs_w
      |  FROM daily a JOIN daily f
      |    ON f.event_type = a.event_type AND f.day = a.day - 7
      |  GROUP BY a.event_type),
      |d AS (
      |  SELECT a.event_type, COUNT(*) AS n_d, SUM(ABS(a.c - f.c)) AS abs_d
      |  FROM daily a JOIN daily f
      |    ON f.event_type = a.event_type AND f.day = a.day - 1
      |  GROUP BY a.event_type)
      |SELECT w.event_type,
      |  CAST(n_w AS BIGINT) AS n_w, CAST(abs_w AS BIGINT) AS abs_w,
      |  CAST(abs_w // n_w AS BIGINT) AS mae_weekly_cents,
      |  CAST(n_d AS BIGINT) AS n_d, CAST(abs_d AS BIGINT) AS abs_d,
      |  CAST(abs_d // n_d AS BIGINT) AS mae_daily_cents
      |FROM w JOIN d ON d.event_type = w.event_type
      |ORDER BY w.event_type""".stripMargin

  /** First-order event-type transition matrix: count of (prev → curr)
    * steps across all per-user event sequences ordered by (ts,
    * event_id). Output: (prev_type, event_type, n). */
  def eventTransitions(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    events
      .select(col("user_id"), col("event_type"),
        lag(col("event_type"), 1).over(w).as("prev_type"))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("prev_type"), col("event_type"))
  }

  val eventTransitionsSql: String =
    """WITH s AS (
      |  SELECT user_id, event_type,
      |         LAG(event_type) OVER (
      |           PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
      |  FROM events)
      |SELECT prev_type, event_type, COUNT(*) AS n
      |FROM s WHERE prev_type IS NOT NULL
      |GROUP BY prev_type, event_type
      |ORDER BY prev_type, event_type""".stripMargin

  /** Robust (Tukey-fence) outlier detection: events whose value falls
    * outside [q1 − 1.5·IQR, q3 + 1.5·IQR] of their event type. The
    * quartiles are DISCRETE (actual data values, `percentile_disc`) and
    * the fences single IEEE operations on them — no accumulated float
    * state, so the flags are bit-identical cross-engine. Per-group
    * stats reduce via one aggregate and join back on the group key;
    * the (tiny here, possibly huge at scale) stats side is left to AQE
    * rather than force-broadcast. */
  def iqrOutliers(events: DataFrame): DataFrame = {
    val fences = events
      .groupBy(col("event_type"))
      .agg(
        expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY value)").as("q1"),
        expr("percentile_disc(0.75) WITHIN GROUP (ORDER BY value)").as("q3"))
      .select(col("event_type"),
        (col("q1") - lit(1.5) * (col("q3") - col("q1"))).as("lo"),
        (col("q3") + lit(1.5) * (col("q3") - col("q1"))).as("hi"))
    events.join(fences, Seq("event_type"))
      .filter(col("value") < col("lo") || col("value") > col("hi"))
      .select(col("event_id"), col("event_type"), col("value"),
        col("lo"), col("hi"))
      .orderBy(col("event_id"))
  }

  val iqrOutliersSql: String =
    """WITH f AS (
      |  SELECT event_type,
      |         quantile_disc(value, 0.25) AS q1,
      |         quantile_disc(value, 0.75) AS q3
      |  FROM events GROUP BY event_type)
      |SELECT e.event_id, e.event_type, e.value,
      |       f.q1 - 1.5 * (f.q3 - f.q1) AS lo,
      |       f.q3 + 1.5 * (f.q3 - f.q1) AS hi
      |FROM events e JOIN f USING (event_type)
      |WHERE e.value < f.q1 - 1.5 * (f.q3 - f.q1)
      |   OR e.value > f.q3 + 1.5 * (f.q3 - f.q1)
      |ORDER BY e.event_id""".stripMargin

  /** Hour-of-day seasonality profile — the detrending table a capacity
    * or anomaly model consumes: per clock hour, event volume, exact
    * value mass, and the seasonal index (hour mean ÷ global mean).
    *
    * Exactness discipline: value mass accumulates as DECIMAL(12,2)
    * (order-independent integer arithmetic underneath) through BOTH
    * aggregation levels — hour and global — and doubles appear only in
    * the final divisions: each mean is ONE exactly-rounded IEEE divide
    * of exact inputs and the index ONE divide of those two, so every
    * engine computes bit-identical indexes (the `agg_corr_exact`
    * moment discipline applied to seasonality). One shuffle (24
    * groups); the global level folds the 24-row hourly table, never
    * re-scans events. */
  def hourlySeasonality(events: DataFrame): DataFrame = {
    val hourly = events
      .groupBy(hour(col("ts")).as("hour"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(12,2)")).as("sum_dec"))
    val global = hourly.agg(
      sum(col("sum_dec")).as("gsum"), sum(col("n_events")).as("gn"))
    hourly.crossJoin(global) // 1-row global side
      .select(col("hour"), col("n_events"),
        col("sum_dec").cast("double").as("sum_value"),
        ((col("sum_dec").cast("double") / col("n_events")) /
          (col("gsum").cast("double") / col("gn"))).as("seasonal_index"))
      .orderBy(col("hour"))
  }

  val hourlySeasonalitySql: String =
    """WITH h AS (
      |  SELECT hour(CAST(ts AS TIMESTAMP)) AS hour,
      |         COUNT(*) AS n_events,
      |         SUM(CAST(value AS DECIMAL(12,2))) AS sum_dec
      |  FROM events GROUP BY 1),
      |g AS (SELECT SUM(sum_dec) AS gsum, SUM(n_events) AS gn FROM h)
      |SELECT CAST(h.hour AS INT) AS hour, h.n_events,
      |       CAST(h.sum_dec AS DOUBLE) AS sum_value,
      |       (CAST(h.sum_dec AS DOUBLE) / h.n_events) /
      |         (CAST(g.gsum AS DOUBLE) / g.gn) AS seasonal_index
      |FROM h CROSS JOIN g
      |ORDER BY hour""".stripMargin

  /** Lagged autocorrelation of the daily event-count series — the
    * seasonality detector run before choosing a forecast window. Daily
    * counts are exact BIGINTs, so ALL five moment sums and both
    * Pearson-numerator/denominator terms stay exact integers; doubles
    * appear only in the final sqrt/division — single exactly-rounded
    * IEEE ops on exact inputs, bit-identical cross-engine (one step
    * stricter than `agg_corr_exact`, whose inputs are DECIMAL money).
    * Lag pairing is a calendar equi-join (day + lag), immune to gaps
    * in the series.
    *
    * Scale shape: the event log collapses to a |days|-sized series in
    * one partial-aggregated groupBy; everything after runs on that
    * tiny relation (per-lag join + 1-row fold). */
  def autocorr(events: DataFrame, lags: Seq[Int] = Seq(1, 7)): DataFrame = {
    val daily = events
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("x"))
    lags.map { l =>
      val pairs = daily.as("a").join(daily.as("b"),
          col("b.day") === date_add(col("a.day"), l))
        .select(col("a.x").as("x"), col("b.x").as("y"))
      pairs
        .agg(count(lit(1)).as("n"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"),
          sum(col("x") * col("y")).as("sxy"))
        .select(lit(l).as("lag"), col("n").as("n_pairs"),
          ((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
            (sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double")) *
              sqrt((col("n") * col("syy") - col("sy") * col("sy")).cast("double"))))
            .as("autocorr"))
    }.reduce(_ unionByName _).orderBy(col("lag"))
  }

  def autocorrSql(lags: Seq[Int] = Seq(1, 7)): String = {
    val arms = lags.map { l =>
      s"""(SELECT $l AS lag, n AS n_pairs,
         |  CAST(n * sxy - sx * sy AS DOUBLE) /
         |    (sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) *
         |     sqrt(CAST(n * syy - sy * sy AS DOUBLE))) AS autocorr
         | FROM (
         |  SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
         |         SUM(x * x) AS sxx, SUM(y * y) AS syy, SUM(x * y) AS sxy
         |  FROM (SELECT a.x AS x, b.x AS y
         |        FROM d a JOIN d b ON b.day = a.day + INTERVAL $l DAY)))"""
        .stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH d AS (
       |  SELECT CAST(ts AS DATE) AS day, COUNT(*) AS x
       |  FROM events GROUP BY day)
       |$arms
       |ORDER BY lag""".stripMargin
  }

  /** OHLC downsampling — the candle/bar resampling every metrics or
    * market pipeline runs before charting or modeling: per (event_type,
    * day), the first and last observed value plus extrema and exact
    * volume. First/last are arg-min/arg-max on event_id (unique,
    * load-ordered — the `fillForwardDaily` tie discipline), so "open"
    * and "close" are defined data, not plan luck; volume accumulates as
    * DECIMAL and surfaces as double (core/Exact money discipline), and
    * open/high/low/close are CARRIED doubles — never re-accumulated —
    * so the whole candle is hash-exact cross-engine.
    *
    * Scale shape: ONE partially-aggregated groupBy — min_by/max_by/
    * min/max/count/sum all combine map-side, so the shuffle carries one
    * candle per (type, day) per map task, never raw events. At 100 TB
    * the output is |types|×|days| rows: this is the canonical
    * raw-to-rollup reduction that makes downstream stages cheap. */
  def ohlcDaily(events: DataFrame): DataFrame =
    events
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(
        min_by(col("value"), col("event_id")).as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max_by(col("value"), col("event_id")).as("close"),
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(12,2)")).as("vol_dec"))
      .select(col("event_type"), col("day"), col("open"), col("high"),
        col("low"), col("close"), col("n_events"),
        col("vol_dec").cast("double").as("volume"))
      .orderBy(col("event_type"), col("day"))

  val ohlcDailySql: String =
    """SELECT event_type, CAST(ts AS DATE) AS day,
      |       arg_min(value, event_id) AS open,
      |       MAX(value) AS high,
      |       MIN(value) AS low,
      |       arg_max(value, event_id) AS close,
      |       COUNT(*) AS n_events,
      |       CAST(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS volume
      |FROM events
      |GROUP BY event_type, CAST(ts AS DATE)
      |ORDER BY event_type, day""".stripMargin

  /** Bounded-window EWMA over the per-type daily count series — the
    * smoothing pass run before alerting on volume anomalies. The
    * textbook EWMA is a sequential recursion (unbounded state, the
    * anti-scale shape); the deployed form truncates to a K-day lookback
    * where the dropped tail's weight is (1−α)^K of the total — here
    * α = 1/4, K = 7, tail < 13.4% and every kept weight exact. Weights
    * are exact integers 3^lag · 4^(K−lag) (= (3/4)^lag scaled by 4^K),
    * daily counts exact BIGINTs, so numerator and denominator are exact
    * integer sums; the single IEEE divide at the surface makes the
    * smoothed series bit-identical cross-engine — the `ts_autocorr`
    * moment discipline applied to smoothing. Missing calendar days drop
    * out of BOTH sums (gap-adaptive renormalization, the
    * pandas-`ewm(ignore_na=True)` semantics — weights follow calendar
    * distance, not observation index).
    *
    * Scale shape: the event log collapses to a |types|×|days| series in
    * one partial-aggregated groupBy; the lag pairing is a calendar
    * equi-join of that tiny relation against itself (≤ K+1 rows per
    * target), then one more partial agg — nothing downstream of the
    * first reduction touches raw events. */
  def ewmaDailyCounts(events: DataFrame, k: Int = 7): DataFrame = {
    val daily = events
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("x"))
    val lagged = daily.as("a").join(daily.as("b"),
        col("a.event_type") === col("b.event_type") &&
        col("b.day").between(date_sub(col("a.day"), k), col("a.day")))
      .select(col("a.event_type").as("event_type"), col("a.day").as("day"),
        col("a.x").as("x"),
        datediff(col("a.day"), col("b.day")).as("lag"), col("b.x").as("bx"))
    val w3 = (0 to k).map(l => math.pow(3, l).toLong)
    val w4 = (0 to k).map(l => math.pow(4, k - l).toLong)
    val weight = (1 to k).foldLeft(when(col("lag") === 0, lit(w3(0) * w4(0)))) {
      (c, l) => c.when(col("lag") === l, lit(w3(l) * w4(l)))
    }
    lagged
      .withColumn("w", weight)
      .groupBy(col("event_type"), col("day"))
      .agg(max(col("x")).as("n_events"), // x is constant per group
        sum(col("w") * col("bx")).as("num"),
        sum(col("w")).as("den"))
      .select(col("event_type"), col("day"), col("n_events"),
        (col("num").cast("double") / col("den").cast("double")).as("ewma"))
      .orderBy(col("event_type"), col("day"))
  }

  def ewmaDailyCountsSql(k: Int = 7): String = {
    val arms = (0 to k).map { l =>
      val w = math.pow(3, l).toLong * math.pow(4, k - l).toLong
      s"WHEN $l THEN $w"
    }.mkString(" ")
    s"""WITH d AS (
       |  SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS x
       |  FROM events GROUP BY event_type, CAST(ts AS DATE)),
       |lagged AS (
       |  SELECT a.event_type, a.day, a.x,
       |         datediff('day', b.day, a.day) AS lag, b.x AS bx
       |  FROM d a JOIN d b ON a.event_type = b.event_type
       |   AND b.day BETWEEN a.day - INTERVAL $k DAY AND a.day)
       |SELECT event_type, day, MAX(x) AS n_events,
       |       CAST(CAST(SUM((CASE lag $arms END) * bx) AS VARCHAR) AS DOUBLE) /
       |         CAST(CAST(SUM(CASE lag $arms END) AS VARCHAR) AS DOUBLE) AS ewma
       |FROM lagged
       |GROUP BY event_type, day
       |ORDER BY event_type, day""".stripMargin
  }

  /** MAD (median-absolute-deviation) outliers — the robust-statistics
    * twin of `iqrOutliers` for heavy-tailed streams where quartile
    * fences over-flag: med = discrete median per type, mad = discrete
    * median of \|value − med\|, flag \|value − med\| > 3·mad. Both
    * medians are percentile_disc (actual data values, portable at
    * p = 0.5); the deviation, the 3·mad product and the comparison are
    * single IEEE ops on exact inputs — no accumulated float state, so
    * flags are bit-identical cross-engine.
    *
    * Scale shape: two keyed reductions over events (med, then mad over
    * the derived deviations) + one stats join back — the stats side is
    * \|types\| rows, AQE-broadcastable; no window over raw events. */
  def madOutliers(events: DataFrame): DataFrame = {
    val med = events
      .groupBy(col("event_type"))
      .agg(expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY value)").as("med"))
    val mad = events.join(med, Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(max(col("med")).as("med"), // constant per group
        expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY abs(value - med))")
          .as("mad"))
    events.join(mad, Seq("event_type"))
      .filter(abs(col("value") - col("med")) > lit(3.0) * col("mad"))
      .select(col("event_id"), col("event_type"), col("value"),
        col("med"), col("mad"))
      .orderBy(col("event_id"))
  }

  val madOutliersSql: String =
    """WITH s AS (
      |  SELECT event_type, quantile_disc(value, 0.5) AS med
      |  FROM events GROUP BY event_type),
      |m AS (
      |  SELECT e.event_type, MAX(s.med) AS med,
      |         quantile_disc(abs(e.value - s.med), 0.5) AS mad
      |  FROM events e JOIN s USING (event_type)
      |  GROUP BY e.event_type)
      |SELECT e.event_id, e.event_type, e.value, m.med, m.mad
      |FROM events e JOIN m USING (event_type)
      |WHERE abs(e.value - m.med) > 3.0 * m.mad
      |ORDER BY e.event_id""".stripMargin

  /** Theil–Sen robust trend per event type: the MEDIAN of all pairwise
    * slopes of the daily value series — the estimator a single outlier
    * day cannot move (OLS `agg_regression`'s robust twin). The median
    * pair is picked by a TOTAL deterministic order — slope as ONE IEEE
    * division of exact integers (identical both engines), ties broken
    * by the exact (num, den, d1, d2) tuple — and the surfaced slope is
    * that pair's EXACT RATIONAL (cents numerator, day denominator), so
    * nothing float-accumulated crosses the hash gate.
    *
    * Scale shape: the O(days²) pair join is per TYPE over the already
    * day-aggregated series — bounded by the calendar, not event volume
    * (365 days → 66 k pairs per type); the daily reduce is the only
    * data-sized pass. */
  def theilSen(events: DataFrame): DataFrame = {
    import graft.core.Exact._
    val daily = events
      .groupBy(col("event_type"),
        datediff(to_date(col("ts")), lit("1970-01-01").cast("date")).as("d"))
      .agg((sum(money(col("value"))) * 100).cast("long").as("cents"))
    val a = daily.select(col("event_type"), col("d").as("d1"),
      col("cents").as("c1"))
    val b = daily.select(col("event_type"), col("d").as("d2"),
      col("cents").as("c2"))
    val pairs = a.join(b, Seq("event_type"))
      .filter(col("d1") < col("d2"))
      .select(col("event_type"),
        (col("c2") - col("c1")).as("num"),
        (col("d2") - col("d1")).cast("long").as("den"),
        col("d1"), col("d2"))
      .withColumn("slope", col("num").cast("double") / col("den"))
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("slope"), col("num"), col("den"), col("d1"), col("d2"))
    pairs
      .withColumn("rn", row_number().over(w))
      .withColumn("n",
        count(lit(1)).over(Window.partitionBy(col("event_type"))))
      .filter(col("rn") === expr("(n + 1) div 2")) // lower median
      .select(col("event_type"), col("num").as("slope_num_cents"),
        col("den").as("slope_den_days"), col("n").as("n_pairs"))
      .orderBy(col("event_type"))
  }

  val theilSenSql: String =
    """WITH daily AS (
      |  SELECT event_type,
      |    date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d,
      |    CAST(SUM(CAST(value AS DECIMAL(12,2))) * 100 AS BIGINT) AS cents
      |  FROM events GROUP BY 1, 2),
      |pairs AS (
      |  SELECT a.event_type,
      |    b.cents - a.cents AS num,
      |    CAST(b.d - a.d AS BIGINT) AS den,
      |    a.d AS d1, b.d AS d2,
      |    CAST(b.cents - a.cents AS DOUBLE) / (b.d - a.d) AS slope
      |  FROM daily a JOIN daily b
      |    ON a.event_type = b.event_type AND a.d < b.d),
      |r AS (
      |  SELECT event_type, num, den,
      |    ROW_NUMBER() OVER (PARTITION BY event_type
      |      ORDER BY slope, num, den, d1, d2) AS rn,
      |    COUNT(*) OVER (PARTITION BY event_type) AS n
      |  FROM pairs)
      |SELECT event_type, num AS slope_num_cents, den AS slope_den_days,
      |       n AS n_pairs
      |FROM r WHERE rn = (n + 1) // 2
      |ORDER BY event_type""".stripMargin

  /** Hampel filter (rolling-window robust outlier flags) over the
    * daily per-type value series — `anomaly_mad`'s LOCAL twin: the
    * global MAD gate calls a level shift "normal" forever after, while
    * the Hampel window judges each day against only its ±k-day
    * neighborhood, the form actually used to despike sensor/revenue
    * feeds before modeling.
    *
    * Exactness discipline: the series is exact cents (one DECIMAL sum,
    * then BIGINT); medians avoid the half-integer by SCALING — med2 =
    * 2·median and mad4 = 4·MAD are integer combinations of sorted
    * window elements, so the flag `2·|2x − med2| > 3·mad4` (⇔
    * |x − med| > 3·MAD) is an all-integer comparison, hash-identical
    * cross-engine with no quantile interpolation on the surface.
    *
    * Scale shape: the data-sized pass is the daily reduce (map-side
    * combine, one shuffle on (type, day)); the window runs over the
    * calendar-bounded daily relation partitioned by type, holding ≤
    * 2k+1 values per row — never raw events. */
  def hampelOutliers(events: DataFrame, k: Int = 3): DataFrame = {
    import graft.core.Exact.money
    val daily = events
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg((sum(money(col("value"))) * 100).cast("long").as("v_cents"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(-k, k)
    daily
      .withColumn("win", sort_array(collect_list(col("v_cents")).over(w)))
      .withColumn("n", size(col("win")))
      .withColumn("med2", expr(
        """CASE WHEN n % 2 = 1 THEN 2 * element_at(win, CAST((n + 1) div 2 AS INT))
          |ELSE element_at(win, CAST(n div 2 AS INT)) + element_at(win, CAST(n div 2 + 1 AS INT))
          |END""".stripMargin))
      .withColumn("devs",
        sort_array(transform(col("win"), x => abs(x * 2 - col("med2")))))
      .withColumn("mad4", expr(
        """CASE WHEN n % 2 = 1 THEN 2 * element_at(devs, CAST((n + 1) div 2 AS INT))
          |ELSE element_at(devs, CAST(n div 2 AS INT)) + element_at(devs, CAST(n div 2 + 1 AS INT))
          |END""".stripMargin))
      .withColumn("dev2", abs(col("v_cents") * 2 - col("med2")))
      .select(col("event_type"), col("day"), col("v_cents"), col("med2"),
        col("mad4"), col("dev2"),
        (col("dev2") * 2 > col("mad4") * 3).as("is_outlier"))
      .orderBy(col("event_type"), col("day"))
  }

  def hampelOutliersSql(k: Int = 3): String =
    s"""WITH d AS (
       |  SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
       |    CAST(SUM(CAST(value AS DECIMAL(12,2))) * 100 AS BIGINT) AS v_cents
       |  FROM events GROUP BY 1, 2),
       |w AS (
       |  SELECT event_type, day, v_cents,
       |    list_sort(list(v_cents) OVER (PARTITION BY event_type ORDER BY day
       |      ROWS BETWEEN $k PRECEDING AND $k FOLLOWING)) AS win
       |  FROM d),
       |m AS (
       |  SELECT *, len(win) AS n,
       |    CASE WHEN len(win) % 2 = 1 THEN 2 * win[(len(win)+1)//2]
       |         ELSE win[len(win)//2] + win[len(win)//2 + 1] END AS med2
       |  FROM w),
       |dv AS (
       |  SELECT *, list_sort(list_transform(win, x -> abs(2*x - med2))) AS devs
       |  FROM m),
       |f AS (
       |  SELECT event_type, day, v_cents, med2,
       |    CASE WHEN n % 2 = 1 THEN 2 * devs[(n+1)//2]
       |         ELSE devs[n//2] + devs[n//2+1] END AS mad4,
       |    abs(2*v_cents - med2) AS dev2
       |  FROM dv)
       |SELECT event_type, day, v_cents, med2, mad4, dev2,
       |  2*dev2 > 3*mad4 AS is_outlier
       |FROM f ORDER BY event_type, day""".stripMargin

  /** STL-lite additive decomposition of the daily per-type value
    * series: trend = centered 7-day moving average (interior rows
    * only), seasonal = day-of-week mean of the detrended series,
    * remainder = what's left — the first-look diagnostic before any
    * forecasting. Everything stays INTEGER by scaling instead of
    * dividing: `trend_sum7` is the window sum (7× the trend),
    * `det7 = 7·x − trend_sum7` (7× the detrended value), the seasonal
    * arm surfaces its exact (sum, count) pair, and
    * `resid7c = det7·seas_cnt − seas_num` is 7·count× the remainder —
    * every column an exact BIGINT, NULL only at the trend edges where
    * a centered window is undefined. dow is ISO (1 = Monday), the one
    * numbering Spark's weekday()+1 and DuckDB's isodow agree on.
    *
    * Scale shape: daily reduce (map-side combine) is the data-sized
    * pass; the window and the dow aggregate both run over the
    * calendar-bounded daily relation, and the seasonal join-back is
    * |types|×7 rows — broadcast metadata. */
  def decomposeDaily(events: DataFrame): DataFrame = {
    import graft.core.Exact.money
    val daily = events
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg((sum(money(col("value"))) * 100).cast("long").as("v_cents"))
    val w7 = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(-3, 3)
    val det = daily
      .withColumn("n7", count(lit(1)).over(w7))
      .withColumn("trend_sum7",
        when(col("n7") === 7, sum(col("v_cents")).over(w7)))
      .withColumn("det7", col("v_cents") * 7 - col("trend_sum7"))
      .withColumn("dow", (weekday(col("day")) + 1).cast("int"))
    val seas = det.groupBy(col("event_type"), col("dow"))
      .agg(coalesce(sum(col("det7")), lit(0L)).as("seas_num"),
        count(col("det7")).as("seas_cnt"))
    det.join(seas, Seq("event_type", "dow"))
      .select(col("event_type"), col("day"), col("dow"), col("v_cents"),
        col("trend_sum7"), col("det7"), col("seas_num"), col("seas_cnt"),
        (col("det7") * col("seas_cnt") - col("seas_num")).as("resid7c"))
      .orderBy(col("event_type"), col("day"))
  }

  val decomposeDailySql: String =
    """WITH d AS (
      |  SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
      |    CAST(SUM(CAST(value AS DECIMAL(12,2))) * 100 AS BIGINT) AS v_cents
      |  FROM events GROUP BY 1, 2),
      |t AS (
      |  SELECT event_type, day, v_cents,
      |    COUNT(*) OVER w7 AS n7,
      |    -- CAST back: windowed SUM(BIGINT) widens to HUGEINT, which
      |    -- would surface (lossily, above 2^53) as float64
      |    CAST(CASE WHEN COUNT(*) OVER w7 = 7
      |         THEN SUM(v_cents) OVER w7 END AS BIGINT) AS trend_sum7,
      |    CAST(date_part('isodow', day) AS INT) AS dow
      |  FROM d
      |  WINDOW w7 AS (PARTITION BY event_type ORDER BY day
      |                ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
      |dt AS (
      |  SELECT *, v_cents * 7 - trend_sum7 AS det7 FROM t),
      |s AS (
      |  SELECT event_type, dow,
      |    CAST(COALESCE(SUM(det7), 0) AS BIGINT) AS seas_num,
      |    CAST(COUNT(det7) AS BIGINT) AS seas_cnt
      |  FROM dt GROUP BY event_type, dow)
      |SELECT dt.event_type, dt.day, dt.dow, dt.v_cents, dt.trend_sum7,
      |  dt.det7, s.seas_num, s.seas_cnt,
      |  dt.det7 * s.seas_cnt - s.seas_num AS resid7c
      |FROM dt JOIN s USING (event_type, dow)
      |ORDER BY dt.event_type, dt.day""".stripMargin

  /** Holt double-exponential smoothing (level + linear trend, Holt
    * 1957) of the daily event-count series — the forecasting step up
    * from `ewmaDailyCounts` when the series drifts: with α = β = ½,
    *   l_t = (x_t·256 + l_{t−1} + b_{t−1}) div 2
    *   b_t = (l_t − l_{t−1} + b_{t−1}) div 2
    * in 256-scaled integer fixed point with TRUNCATING integer `div`
    * at every step (the `ts_ewma` truncated-integer discipline applied
    * to a genuinely recursive filter — both engines' integer division
    * truncates toward zero, verified for negative trends), initialized
    * l_0 = x_0·256, b_0 = 0. No IEEE arithmetic anywhere, so the whole
    * state trajectory — and the one-step-ahead forecast l + b — is
    * bit-identical cross-engine and replays in a recursive-CTE oracle.
    *
    * Scale shape: the recursion runs AFTER the event log collapses to
    * the |types|×|days| daily relation (one partial-aggregated
    * groupBy) — per-type series are calendar-bounded metadata, folded
    * sequentially by one codegen'd `aggregate` HOF over the sorted
    * day array; nothing sequential ever touches raw events. */
  def holtDailyCounts(events: DataFrame): DataFrame = {
    val daily = events
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("x"))
    daily
      .groupBy(col("event_type"))
      .agg(sort_array(collect_list(struct(col("day"), col("x")))).as("sr"))
      .select(col("event_type"), explode(expr(
        """aggregate(
          |  slice(sr, 2, size(sr) - 1),
          |  named_struct(
          |    'l', sr[0].x * 256, 'b', 0L,
          |    'out', array(named_struct('day', sr[0].day, 'x', sr[0].x,
          |                              'lvl', sr[0].x * 256, 'tr', 0L))),
          |  (acc, e) -> named_struct(
          |    'l', (e.x * 256 + acc.l + acc.b) div 2,
          |    'b', ((e.x * 256 + acc.l + acc.b) div 2 - acc.l + acc.b) div 2,
          |    'out', concat(acc.out, array(named_struct(
          |      'day', e.day, 'x', e.x,
          |      'lvl', (e.x * 256 + acc.l + acc.b) div 2,
          |      'tr', ((e.x * 256 + acc.l + acc.b) div 2 - acc.l + acc.b)
          |              div 2)))),
          |  acc -> acc.out)""".stripMargin)).as("s"))
      .select(col("event_type"), col("s.day").as("day"),
        col("s.x").as("n_events"),
        col("s.lvl").as("level_fp256"), col("s.tr").as("trend_fp256"),
        (col("s.lvl") + col("s.tr")).as("forecast_fp256"))
      .orderBy(col("event_type"), col("day"))
  }

  val holtDailyCountsSql: String =
    """WITH RECURSIVE d AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS x
      |  FROM events GROUP BY 1, 2),
      |r AS (
      |  SELECT event_type, day, x,
      |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS rn
      |  FROM d),
      |h AS (
      |  SELECT event_type, day, x, rn, x * 256 AS lvl, CAST(0 AS BIGINT) AS tr
      |  FROM r WHERE rn = 1
      |  UNION ALL
      |  SELECT r.event_type, r.day, r.x, r.rn,
      |    (r.x * 256 + h.lvl + h.tr) // 2,
      |    ((r.x * 256 + h.lvl + h.tr) // 2 - h.lvl + h.tr) // 2
      |  FROM h JOIN r ON r.event_type = h.event_type AND r.rn = h.rn + 1)
      |SELECT event_type, day, x AS n_events,
      |  CAST(lvl AS BIGINT) AS level_fp256,
      |  CAST(tr AS BIGINT) AS trend_fp256,
      |  CAST(lvl + tr AS BIGINT) AS forecast_fp256
      |FROM h ORDER BY event_type, day""".stripMargin

  /** At-most-one-changepoint (AMOC) detection per series — WHERE did
    * the level shift, the question `ts_cusum`'s alarm threshold doesn't
    * answer: over the daily value series, the classic CUSUM location
    * statistic D_k = |P_k − (k/n)·T| maximized over candidate split
    * days k, held EXACT by cross-multiplication — stat_k = |n·P_k −
    * k·T| on integer cents, so the argmax (ties → earliest day) is
    * bit-identical cross-engine with zero IEEE anywhere. Split days
    * exclude the last row (a split needs both sides non-empty).
    *
    * Scale shape: events collapse to the calendar-bounded daily
    * relation in one partial agg; prefix sums and the argmax fold run
    * per type over ≤ \|days\| rows. */
  def changepoint(events: DataFrame): DataFrame = {
    import graft.core.Exact.money
    val daily = events
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg((sum(money(col("value"))) * 100).cast("long").as("v_cents"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val tot = Window.partitionBy(col("event_type"))
    daily
      .withColumn("k", row_number().over(w).cast("long"))
      .withColumn("pk", sum(col("v_cents")).over(
        w.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("n", count(lit(1)).over(tot))
      .withColumn("t", sum(col("v_cents")).over(tot))
      .filter(col("k") < col("n"))
      .withColumn("stat", abs(col("n") * col("pk") - col("k") * col("t")))
      .groupBy(col("event_type"))
      .agg(max(col("n")).as("n_days"),
        max(struct(col("stat"), (-col("k")).as("nk"), col("day").as("day")))
          .as("best"))
      .select(col("event_type"), col("n_days"),
        col("best.day").as("change_day"), col("best.stat").as("stat_xn"))
      .orderBy(col("event_type"))
  }

  val changepointSql: String =
    """WITH d AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day,
      |    CAST(SUM(CAST(value AS DECIMAL(12,2))) * 100 AS BIGINT) AS v_cents
      |  FROM events GROUP BY 1, 2),
      |p AS (
      |  SELECT event_type, day,
      |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS k,
      |    SUM(v_cents) OVER (PARTITION BY event_type ORDER BY day) AS pk,
      |    COUNT(*) OVER (PARTITION BY event_type) AS n,
      |    SUM(v_cents) OVER (PARTITION BY event_type) AS t
      |  FROM d),
      |s AS (
      |  SELECT event_type, day, n, abs(n * pk - k * t) AS stat,
      |    ROW_NUMBER() OVER (PARTITION BY event_type
      |      ORDER BY abs(n * pk - k * t) DESC, k) AS rn
      |  FROM p WHERE k < n)
      |SELECT event_type, CAST(n AS BIGINT) AS n_days, day AS change_day,
      |  CAST(stat AS BIGINT) AS stat_xn
      |FROM s WHERE rn = 1 ORDER BY event_type""".stripMargin

  /** Piecewise Aggregate Approximation (Keogh et al. 2001): compress
    * each event type's daily-revenue series into `nSeg` equal-width
    * segments, each summarized by its exact mean — the dimensionality
    * reduction under SAX/similarity indexing of long series. Segment
    * assignment is the standard integer grid seg = (idx·nSeg) div n
    * (exact, engine-identical, handles n not divisible by nSeg);
    * means surface as exact cents numerator/denominator plus the
    * floor-divided mean, so the whole sketch is BIGINT end to end.
    * Scale shape: one partial-agg groupBy to days, a broadcast of the
    * per-type (first day, length) bounds, one groupBy to segments —
    * the per-type window never touches row-level data. */
  def paaDailyValue(events: DataFrame, nSeg: Int): DataFrame = {
    val daily = events
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum((Exact.money(col("value")) * 100).cast("long")).as("cents"))
    val bounds = daily.groupBy(col("event_type").as("et"))
      .agg(min(col("day")).as("d0"),
        (datediff(max(col("day")), min(col("day"))) + 1).cast("long")
          .as("n_days"))
    daily
      .join(bounds, col("event_type") === col("et"))
      .withColumn("seg",
        expr(s"(CAST(datediff(day, d0) AS BIGINT) * $nSeg) div n_days"))
      .groupBy(col("event_type"), col("seg"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))
      .select(col("event_type"), col("seg"), col("n"), col("sum_cents"),
        expr("sum_cents div n").as("mean_cents"))
      .orderBy(col("event_type"), col("seg"))
  }

  def paaDailyValueSql(nSeg: Int): String =
    s"""WITH daily AS (
       |  SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
       |    SUM(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)) AS cents
       |  FROM events GROUP BY 1, 2),
       |bounds AS (
       |  SELECT event_type, MIN(day) AS d0,
       |    CAST(date_diff('day', MIN(day), MAX(day)) + 1 AS BIGINT) AS n_days
       |  FROM daily GROUP BY 1)
       |SELECT d.event_type,
       |  (CAST(date_diff('day', b.d0, d.day) AS BIGINT) * $nSeg) // b.n_days
       |    AS seg,
       |  CAST(COUNT(*) AS BIGINT) AS n,
       |  CAST(SUM(d.cents) AS BIGINT) AS sum_cents,
       |  CAST(SUM(d.cents) AS BIGINT) // COUNT(*) AS mean_cents
       |FROM daily d JOIN bounds b USING (event_type)
       |GROUP BY d.event_type, seg
       |ORDER BY d.event_type, seg""".stripMargin

  /** Moving-average crossover detector (the golden/death-cross signal):
    * per event type, the 3-day revenue SMA against the 7-day SMA, a
    * signal on every day where the relation FLIPS. Exactness: the SMAs
    * never materialize — the compare is the cross-multiplication
    * 7·sum3 > 3·sum7 on exact cents, both sums RANGE-framed over the
    * integer day index so calendar gaps count as zero revenue instead
    * of silently shrinking the window; days before both windows (and
    * the previous day's) fill are excluded. One daily reduce + three
    * same-ordering windows per type — calendar-bounded. */
  def smaCrossover(events: DataFrame): DataFrame = {
    val daily = events
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum((Exact.money(col("value")) * 100).cast("long")).as("cents"))
    val d0 = daily.agg(min(col("day")).as("d0"))
    val idx = daily.crossJoin(broadcast(d0))
      .withColumn("didx", datediff(col("day"), col("d0")).cast("long"))
    val byType = Window.partitionBy(col("event_type")).orderBy(col("didx"))
    val f3 = byType.rangeBetween(-2, 0)
    val s7 = byType.rangeBetween(-6, 0)
    idx
      .select(col("event_type"), col("day"), col("didx"), col("cents"),
        sum(col("cents")).over(f3).as("sum3"),
        sum(col("cents")).over(s7).as("sum7"),
        min(col("didx")).over(byType
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .as("first_idx"))
      .withColumn("above", (col("sum3") * 7 > col("sum7") * 3).cast("int"))
      .withColumn("prev_above", lag(col("above"), 1).over(byType))
      .filter(col("didx") >= col("first_idx") + 7 &&
        col("prev_above").isNotNull && col("above") =!= col("prev_above"))
      .select(col("event_type"), col("day"),
        col("sum3").as("sum3_cents"), col("sum7").as("sum7_cents"),
        when(col("above") === 1, "golden").otherwise("death").as("signal"))
      .orderBy(col("event_type"), col("day"))
  }

  val smaCrossoverSql: String =
    """WITH daily AS (
      |  SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
      |    SUM(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)) AS cents
      |  FROM events GROUP BY 1, 2),
      |d0 AS (SELECT MIN(day) AS d0 FROM daily),
      |idx AS (
      |  SELECT event_type, day,
      |    CAST(date_diff('day', d0.d0, day) AS BIGINT) AS didx, cents
      |  FROM daily CROSS JOIN d0),
      |wins AS (
      |  SELECT event_type, day, didx,
      |    CAST(SUM(cents) OVER (PARTITION BY event_type ORDER BY didx
      |      RANGE BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT) AS sum3,
      |    CAST(SUM(cents) OVER (PARTITION BY event_type ORDER BY didx
      |      RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS sum7,
      |    MIN(didx) OVER (PARTITION BY event_type ORDER BY didx
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_idx
      |  FROM idx),
      |flags AS (
      |  SELECT event_type, day, didx, first_idx, sum3, sum7,
      |    CASE WHEN sum3 * 7 > sum7 * 3 THEN 1 ELSE 0 END AS above,
      |    LAG(CASE WHEN sum3 * 7 > sum7 * 3 THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY event_type ORDER BY didx) AS prev_above
      |  FROM wins)
      |SELECT event_type, day, sum3 AS sum3_cents, sum7 AS sum7_cents,
      |  CASE WHEN above = 1 THEN 'golden' ELSE 'death' END AS signal
      |FROM flags
      |WHERE didx >= first_idx + 7 AND prev_above IS NOT NULL
      |  AND above <> prev_above
      |ORDER BY event_type, day""".stripMargin

  /** SAX symbolization (Lin et al. 2003 shape, empirical breakpoints):
    * each type's daily-revenue value becomes one of four letters by its
    * position against the type's own quartile cuts — the alphabet
    * reduction under motif discovery and series indexing, downstream of
    * TS15's PAA. Breakpoints are EMPIRICAL rank cuts (the A17 winsorize
    * rule: cut_p = smallest value whose cumulative count reaches
    * ceil(p·n)) found on the distinct-value cumulative per type — the
    * Gaussian-table breakpoints of the paper assume z-normalized input,
    * which would mean IEEE mean/std on the comparison surface; rank cuts
    * keep the whole operator in exact cents and are the standard
    * equi-depth variant. Windows run over the per-type DISTINCT-value
    * relation (calendar-bounded), symbols assigned by integer compare. */
  def saxDaily(events: DataFrame): DataFrame = {
    val daily = events
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum((Exact.money(col("value")) * 100).cast("long")).as("cents"))
    val byValue = daily.groupBy(col("event_type"), col("cents"))
      .agg(count(lit(1)).as("c"))
    val wv = Window.partitionBy(col("event_type")).orderBy(col("cents"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = byValue
      .withColumn("cum", sum(col("c")).over(wv))
      .withColumn("n", sum(col("c")).over(Window.partitionBy(col("event_type"))))
    val cuts = cum.groupBy(col("event_type"))
      .agg(min(when(col("cum") >= expr("(n + 3) div 4"), col("cents")))
          .as("q1"),
        min(when(col("cum") >= expr("(n + 1) div 2"), col("cents"))).as("q2"),
        min(when(col("cum") >= expr("(3 * n + 3) div 4"), col("cents")))
          .as("q3"))
    daily.join(broadcast(cuts), Seq("event_type"))
      .select(col("event_type"), col("day"), col("cents"),
        when(col("cents") < col("q1"), "a")
          .when(col("cents") < col("q2"), "b")
          .when(col("cents") < col("q3"), "c")
          .otherwise("d").as("sym"))
      .orderBy(col("event_type"), col("day"))
  }

  val saxDailySql: String =
    """WITH daily AS (
      |  SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
      |    CAST(SUM(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT))
      |      AS BIGINT) AS cents
      |  FROM events GROUP BY 1, 2),
      |bv AS (
      |  SELECT event_type, cents, COUNT(*) AS c FROM daily GROUP BY 1, 2),
      |cum AS (
      |  SELECT event_type, cents, c,
      |    SUM(c) OVER (PARTITION BY event_type ORDER BY cents
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |    SUM(c) OVER (PARTITION BY event_type) AS n
      |  FROM bv),
      |cuts AS (
      |  SELECT event_type,
      |    MIN(CASE WHEN cum >= (n + 3) // 4 THEN cents END) AS q1,
      |    MIN(CASE WHEN cum >= (n + 1) // 2 THEN cents END) AS q2,
      |    MIN(CASE WHEN cum >= (3 * n + 3) // 4 THEN cents END) AS q3
      |  FROM cum GROUP BY event_type)
      |SELECT d.event_type, d.day, d.cents,
      |  CASE WHEN d.cents < c.q1 THEN 'a'
      |       WHEN d.cents < c.q2 THEN 'b'
      |       WHEN d.cents < c.q3 THEN 'c'
      |       ELSE 'd' END AS sym
      |FROM daily d JOIN cuts c ON c.event_type = d.event_type
      |ORDER BY d.event_type, d.day""".stripMargin

  /** Bollinger band breakout detector over each type's daily revenue:
    * a day breaks out when its value leaves mean ± 2σ of the trailing
    * 7-row window — held EXACT by cross-multiplication, n·c vs
    * s ± 2·isqrt(n·s2 − s²) (σ·n = √(n·s2−s²); floor(√) on a correctly
    * rounded IEEE sqrt is integer-deterministic below 2^52 — the L5q
    * argument; 7-day cent variances sit orders below that, and the
    * documented path beyond is the 38-digit decimal isqrt). Band
    * surfaces in milli-cents are floor divisions of the same integers.
    * Warm-up (< 7 trailing rows) is excluded; the window runs over the
    * per-type DAILY relation, never raw events. */
  def bollingerDaily(events: DataFrame): DataFrame = {
    val daily = events
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum((Exact.money(col("value")) * 100).cast("long")).as("cents"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(-7, -1)
    daily
      .withColumn("n_w", count(col("cents")).over(w))
      .withColumn("s", sum(col("cents")).over(w))
      .withColumn("s2", sum(col("cents") * col("cents")).over(w))
      .filter(col("n_w") === 7)
      .withColumn("sig_n",
        floor(sqrt((col("n_w") * col("s2") - col("s") * col("s"))
          .cast("double"))).cast("long"))
      .select(col("event_type"), col("day"), col("cents"),
        expr("s * 1000L div n_w").as("mid_milli"),
        expr("(s + 2 * sig_n) * 1000L div n_w").as("upper_milli"),
        expr("(s - 2 * sig_n) * 1000L div n_w").as("lower_milli"),
        (col("cents") * col("n_w") > col("s") + lit(2) * col("sig_n"))
          .as("break_up"),
        (col("cents") * col("n_w") < col("s") - lit(2) * col("sig_n"))
          .as("break_down"))
      .orderBy(col("event_type"), col("day"))
  }

  val bollingerDailySql: String =
    """WITH daily AS (
      |  SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
      |    CAST(SUM(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT))
      |      AS BIGINT) AS cents
      |  FROM events GROUP BY 1, 2),
      |w AS (
      |  SELECT event_type, day, cents,
      |    COUNT(cents) OVER tw AS n_w,
      |    SUM(cents) OVER tw AS s,
      |    SUM(cents * cents) OVER tw AS s2
      |  FROM daily
      |  WINDOW tw AS (PARTITION BY event_type ORDER BY day
      |    ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)),
      |f AS (
      |  SELECT *, CAST(FLOOR(SQRT(CAST(n_w * s2 - s * s AS DOUBLE)))
      |    AS BIGINT) AS sig_n
      |  FROM w WHERE n_w = 7)
      |SELECT event_type, day, cents,
      |  CAST(s * 1000 // n_w AS BIGINT) AS mid_milli,
      |  CAST((s + 2 * sig_n) * 1000 // n_w AS BIGINT) AS upper_milli,
      |  CAST((s - 2 * sig_n) * 1000 // n_w AS BIGINT) AS lower_milli,
      |  cents * n_w > s + 2 * sig_n AS break_up,
      |  cents * n_w < s - 2 * sig_n AS break_down
      |FROM f ORDER BY event_type, day""".stripMargin

  /** Record-breaking days: each day that sets a new all-time high for
    * its type's daily revenue, with the record it broke and the days it
    * stood. Strict compare (ties do NOT break a record), the first day
    * of a type is its first record by convention (no prior → broke
    * nothing). One daily reduce + two same-ordering type-keyed windows
    * over the calendar-bounded daily relation; record rows are a
    * monotone subsequence, so the output is tiny at any scale. */
  def recordDays(events: DataFrame): DataFrame = {
    val daily = events
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum((Exact.money(col("value")) * 100).cast("long")).as("cents"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
    daily
      .withColumn("prev_max", max(col("cents")).over(
        w.rowsBetween(Window.unboundedPreceding, -1)))
      .filter(col("prev_max").isNull || col("cents") > col("prev_max"))
      .withColumn("prev_record_day", lag(col("day"), 1).over(
        Window.partitionBy(col("event_type")).orderBy(col("day"))))
      .select(col("event_type"), col("day"), col("cents"),
        col("prev_max").as("broke_cents"),
        datediff(col("day"), col("prev_record_day")).cast("long")
          .as("stood_days"))
      .orderBy(col("event_type"), col("day"))
  }

  val recordDaysSql: String =
    """WITH daily AS (
      |  SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
      |    CAST(SUM(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT))
      |      AS BIGINT) AS cents
      |  FROM events GROUP BY 1, 2),
      |r AS (
      |  SELECT event_type, day, cents,
      |    MAX(cents) OVER (PARTITION BY event_type ORDER BY day
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
      |  FROM daily),
      |rec AS (SELECT * FROM r WHERE prev_max IS NULL OR cents > prev_max)
      |SELECT event_type, day, cents, prev_max AS broke_cents,
      |  CAST(date_diff('day',
      |    LAG(day) OVER (PARTITION BY event_type ORDER BY day), day)
      |    AS BIGINT) AS stood_days
      |FROM rec ORDER BY event_type, day""".stripMargin

  /** Segmented trend: the CUSUM changepoint (TS10's exact argmax)
    * splits each type's daily series in two, and each side gets its own
    * OLS slope — the "before vs after the regime change" readout that a
    * level-shift alone understates. Moments Σk, Σv, Σk², Σkv are exact
    * BIGINTs per segment (k = the per-type day rank, v = exact cents);
    * slopes evaluate ONCE in IEEE double from those integers (the
    * agg_corr_exact discipline), degenerate segments (< 2 points or a
    * constant day index) surface NULL; segment means stay integer
    * milli-cents. Three same-ordering windows + two partial-agg
    * groupBys, everything over the calendar-bounded daily relation. */
  def segmentedTrend(events: DataFrame): DataFrame = {
    import graft.core.Exact.money
    val daily = events
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg((sum(money(col("value"))) * 100).cast("long").as("v"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val tot = Window.partitionBy(col("event_type"))
    val ranked = daily
      .withColumn("k", row_number().over(w).cast("long"))
      .withColumn("pk", sum(col("v")).over(
        w.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("n", count(lit(1)).over(tot))
      .withColumn("t", sum(col("v")).over(tot))
    val cp = ranked.filter(col("k") < col("n"))
      .withColumn("stat", abs(col("n") * col("pk") - col("k") * col("t")))
      .groupBy(col("event_type"))
      .agg(max(struct(col("stat"), (-col("k")).as("nk"), col("k").as("k"),
        col("day").as("day"))).as("best"))
      .select(col("event_type"), col("best.k").as("ck"),
        col("best.day").as("change_day"))
    val mom = ranked.join(cp, Seq("event_type"))
      .withColumn("seg", (col("k") > col("ck")).cast("int"))
      .groupBy(col("event_type"), col("seg"))
      .agg(count(lit(1)).as("m"), sum(col("k")).as("sx"),
        sum(col("v")).as("sy"), sum(col("k") * col("k")).as("sxx"),
        sum(col("k") * col("v")).as("sxy"))
      .withColumn("slope",
        when(col("m") >= 2 &&
            col("m") * col("sxx") - col("sx") * col("sx") =!= 0,
          (col("m").cast("double") * col("sxy").cast("double") -
            col("sx").cast("double") * col("sy").cast("double")) /
          (col("m").cast("double") * col("sxx").cast("double") -
            col("sx").cast("double") * col("sx").cast("double"))))
      .withColumn("mean_milli", expr("sy * 1000L div m"))
    mom.groupBy(col("event_type"))
      .agg(
        max(when(col("seg") === 0, col("m"))).as("n1"),
        max(when(col("seg") === 0, col("mean_milli"))).as("mean1_milli"),
        max(when(col("seg") === 0, col("slope"))).as("slope1"),
        max(when(col("seg") === 1, col("m"))).as("n2"),
        max(when(col("seg") === 1, col("mean_milli"))).as("mean2_milli"),
        max(when(col("seg") === 1, col("slope"))).as("slope2"))
      .join(cp.select(col("event_type"), col("change_day")), Seq("event_type"))
      .select(col("event_type"), col("change_day"), col("n1"),
        col("mean1_milli"), col("slope1"), col("n2"), col("mean2_milli"),
        col("slope2"))
      .orderBy(col("event_type"))
  }

  val segmentedTrendSql: String =
    """WITH d AS (
      |  SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
      |    CAST(SUM(CAST(value AS DECIMAL(12,2))) * 100 AS BIGINT) AS v
      |  FROM events GROUP BY 1, 2),
      |p AS (
      |  SELECT event_type, day, v,
      |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS k,
      |    SUM(v) OVER (PARTITION BY event_type ORDER BY day) AS pk,
      |    COUNT(*) OVER (PARTITION BY event_type) AS n,
      |    SUM(v) OVER (PARTITION BY event_type) AS t
      |  FROM d),
      |cp AS (
      |  SELECT event_type, k AS ck, day AS change_day FROM (
      |    SELECT event_type, k, day,
      |      ROW_NUMBER() OVER (PARTITION BY event_type
      |        ORDER BY abs(n * pk - k * t) DESC, k) AS rn
      |    FROM p WHERE k < n) WHERE rn = 1),
      |mom AS (
      |  SELECT p.event_type,
      |    CASE WHEN p.k > cp.ck THEN 1 ELSE 0 END AS seg,
      |    COUNT(*) AS m,
      |    CAST(SUM(p.k) AS BIGINT) AS sx, CAST(SUM(p.v) AS BIGINT) AS sy,
      |    CAST(SUM(p.k * p.k) AS BIGINT) AS sxx,
      |    CAST(SUM(p.k * p.v) AS BIGINT) AS sxy
      |  FROM p JOIN cp ON cp.event_type = p.event_type
      |  GROUP BY 1, 2),
      |sl AS (
      |  SELECT *,
      |    CASE WHEN m >= 2 AND m * sxx - sx * sx <> 0 THEN
      |      (CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE)
      |        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |      / (CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE)
      |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) END AS slope,
      |    sy * 1000 // m AS mean_milli
      |  FROM mom)
      |SELECT sl.event_type, cp.change_day,
      |  MAX(CASE WHEN seg = 0 THEN m END) AS n1,
      |  CAST(MAX(CASE WHEN seg = 0 THEN mean_milli END) AS BIGINT)
      |    AS mean1_milli,
      |  MAX(CASE WHEN seg = 0 THEN slope END) AS slope1,
      |  MAX(CASE WHEN seg = 1 THEN m END) AS n2,
      |  CAST(MAX(CASE WHEN seg = 1 THEN mean_milli END) AS BIGINT)
      |    AS mean2_milli,
      |  MAX(CASE WHEN seg = 1 THEN slope END) AS slope2
      |FROM sl JOIN cp ON cp.event_type = sl.event_type
      |GROUP BY sl.event_type, cp.change_day
      |ORDER BY sl.event_type""".stripMargin

  /** Index-100 rebasing: every type's daily revenue as basis points of
    * its own first day — the "all series start at 100" overlay chart
    * that makes differently-sized series comparable. base = the
    * FIRST day's cents via one min-day self-join per type (broadcast,
    * |types| rows — not a first_value window over the fact stream);
    * index exact floor bp; zero-base days surface NULL rather than a
    * division blowup. */
  def rebaseDaily(events: DataFrame): DataFrame = {
    val daily = events
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum((Exact.money(col("value")) * 100).cast("long")).as("cents"))
    // min_by is unambiguous here: the daily relation has one row per
    // (type, day), so the minimum day is unique
    val base = daily
      .groupBy(col("event_type"))
      .agg(expr("min_by(cents, day)").as("base_cents"))
    daily.join(broadcast(base), Seq("event_type"))
      .select(col("event_type"), col("day"), col("cents"), col("base_cents"),
        expr("CASE WHEN base_cents > 0 THEN cents * 10000L div base_cents END")
          .as("index_bp"))
      .orderBy(col("event_type"), col("day"))
  }

  val rebaseDailySql: String =
    """WITH daily AS (
      |  SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
      |    CAST(SUM(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT))
      |      AS BIGINT) AS cents
      |  FROM events GROUP BY 1, 2),
      |base AS (
      |  SELECT event_type, CAST(arg_min(cents, day) AS BIGINT) AS base_cents
      |  FROM daily GROUP BY event_type)
      |SELECT d.event_type, d.day, d.cents, base.base_cents,
      |  CASE WHEN base.base_cents > 0
      |       THEN d.cents * 10000 // base.base_cents END AS index_bp
      |FROM daily d JOIN base ON base.event_type = d.event_type
      |ORDER BY d.event_type, d.day""".stripMargin

  /** Week-over-week same-weekday comparison: each day's revenue against
    * exactly seven days earlier (the seasonality-free growth compare —
    * day-over-day mixes weekday effects, E28 flags anomalies; this is
    * the plain BI readout). The lag is a RANGE lookup on the integer
    * day index (didx − 7 exactly — a missing calendar day yields NULL,
    * never "7 rows back"); delta in exact floor bp, zero baselines
    * surface NULL. One daily reduce + one type-keyed range window. */
  def weekOverWeek(events: DataFrame): DataFrame = {
    val daily = events
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum((Exact.money(col("value")) * 100).cast("long")).as("cents"))
    val d0 = daily.agg(min(col("day")).as("d0"))
    val idx = daily.crossJoin(broadcast(d0))
      .withColumn("didx", datediff(col("day"), col("d0")).cast("long"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("didx"))
      .rangeBetween(-7, -7)
    idx
      .withColumn("prev_cents", max(col("cents")).over(w))
      .select(col("event_type"), col("day"), col("cents"), col("prev_cents"),
        expr("""CASE WHEN prev_cents > 0 THEN
             |  CASE WHEN cents >= prev_cents
             |       THEN (cents - prev_cents) * 10000L div prev_cents
             |       ELSE -((prev_cents - cents) * 10000L div prev_cents)
             |  END END""".stripMargin).as("wow_bp"))
      .orderBy(col("event_type"), col("day"))
  }

  val weekOverWeekSql: String =
    """WITH daily AS (
      |  SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
      |    CAST(SUM(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT))
      |      AS BIGINT) AS cents
      |  FROM events GROUP BY 1, 2),
      |d0 AS (SELECT MIN(day) AS d0 FROM daily),
      |idx AS (
      |  SELECT event_type, day, cents,
      |    CAST(date_diff('day', d0.d0, day) AS BIGINT) AS didx
      |  FROM daily CROSS JOIN d0),
      |l AS (
      |  SELECT event_type, day, cents,
      |    MAX(cents) OVER (PARTITION BY event_type ORDER BY didx
      |      RANGE BETWEEN 7 PRECEDING AND 7 PRECEDING) AS prev_cents
      |  FROM idx)
      |SELECT event_type, day, cents, prev_cents,
      |  CASE WHEN prev_cents > 0 THEN
      |    CASE WHEN cents >= prev_cents
      |         THEN (cents - prev_cents) * 10000 // prev_cents
      |         ELSE -((prev_cents - cents) * 10000 // prev_cents) END
      |  END AS wow_bp
      |FROM l ORDER BY event_type, day""".stripMargin

  def queries: Seq[(String, QueryDef)] = Seq(
    "ts_wow" -> QueryDef(
      (s, d) => weekOverWeek(Tables.events(s, d)), weekOverWeekSql),
    "ts_rebase" -> QueryDef(
      (s, d) => rebaseDaily(Tables.events(s, d)), rebaseDailySql),
    "ts_segmented_trend" -> QueryDef(
      (s, d) => segmentedTrend(Tables.events(s, d)), segmentedTrendSql),
    "ts_records" -> QueryDef(
      (s, d) => recordDays(Tables.events(s, d)), recordDaysSql),
    "ts_sax" -> QueryDef(
      (s, d) => saxDaily(Tables.events(s, d)), saxDailySql),
    "ts_bollinger" -> QueryDef(
      (s, d) => bollingerDaily(Tables.events(s, d)), bollingerDailySql),
    "ts_crossover" -> QueryDef(
      (s, d) => smaCrossover(Tables.events(s, d)), smaCrossoverSql),
    "ts_paa" -> QueryDef(
      (s, d) => paaDailyValue(Tables.events(s, d), 6), paaDailyValueSql(6)),
    "ts_changepoint" -> QueryDef(
      (s, d) => changepoint(Tables.events(s, d)), changepointSql),
    "ts_holt" -> QueryDef(
      (s, d) => holtDailyCounts(Tables.events(s, d)), holtDailyCountsSql),
    "ts_decompose" -> QueryDef(
      (s, d) => decomposeDaily(Tables.events(s, d)), decomposeDailySql),
    "ts_hampel" -> QueryDef(
      (s, d) => hampelOutliers(Tables.events(s, d)), hampelOutliersSql()),
    "ts_theil_sen" -> QueryDef(
      (s, d) => theilSen(Tables.events(s, d)), theilSenSql),
    "anomaly_mad" -> QueryDef(
      (s, d) => madOutliers(Tables.events(s, d)), madOutliersSql),
    "ts_downsample" -> QueryDef(
      (s, d) => ohlcDaily(Tables.events(s, d)), ohlcDailySql),
    "ts_ewma" -> QueryDef(
      (s, d) => ewmaDailyCounts(Tables.events(s, d)), ewmaDailyCountsSql()),
    "ts_autocorr" -> QueryDef(
      (s, d) => autocorr(Tables.events(s, d)), autocorrSql()),
    "ts_fill_forward" -> QueryDef(
      (s, d) => fillForwardDaily(Tables.events(s, d)), fillForwardDailySql),
    "ts_interpolate" -> QueryDef(
      (s, d) => interpolateDaily(Tables.events(s, d)), interpolateDailySql),
    "ts_forecast_eval" -> QueryDef(
      (s, d) => forecastEval(Tables.events(s, d)), forecastEvalSql),
    "events_transitions" -> QueryDef(
      (s, d) => eventTransitions(Tables.events(s, d)), eventTransitionsSql),
    "anomaly_iqr" -> QueryDef(
      (s, d) => iqrOutliers(Tables.events(s, d)), iqrOutliersSql),
    "ts_seasonality" -> QueryDef(
      (s, d) => hourlySeasonality(Tables.events(s, d)), hourlySeasonalitySql),
    "ts_cusum" -> QueryDef(
      (s, d) => cusumAlarms(Tables.events(s, d)), cusumAlarmsSql))

  /** One-sided CUSUM change detection (Page, Biometrika 1954) per user
    * series — the classic
    * drift detector, in its DRAWDOWN form: S_i = P_i − min_{1≤j≤i} P_j
    * for the plain prefix sum P (the rise from the running minimum),
    * which turns the sequential max(0, S+dev) fold into two stacked
    * window passes (running sum, then running min) — fully relational,
    * one shuffle on user_id, no per-row recursion anywhere. The pinned
    * min is over OBSERVED rows (no virtual zero prefix), which differs
    * from the clamped textbook recursion only while every prefix sum
    * is still positive. Deviations accumulate in exact DECIMAL, so the
    * threshold crossing (and therefore the alarm row) is bit-identical
    * cross-engine; the FIRST alarm per user is picked by rank in the
    * engine-wide (ts, event_id) order. */
  def cusumAlarms(events: DataFrame, target: Double = 50.0,
      h: Double = 500.0): DataFrame = {
    import graft.core.Exact.money
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val c = events
      .select(col("user_id"), col("ts"), col("event_id"),
        (money(col("value")) - money(lit(target))).as("dev"))
      .withColumn("p", sum(col("dev")).over(w))
      .withColumn("cusum", col("p") - min(col("p")).over(w))
    val alarms = c.filter(col("cusum") >= money(lit(h)))
      .withColumn("rn", row_number().over(Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_id").as("alarm_event_id"))
    c.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        max(col("cusum")).cast("double").as("max_cusum"))
      .join(alarms, Seq("user_id"), "left")
      .orderBy(col("user_id"))
  }

  private def cusumAlarmsSql: String =
    """WITH base AS (
      |  SELECT user_id, ts, event_id,
      |    CAST(value AS DECIMAL(12,2)) - CAST(50.0 AS DECIMAL(12,2)) AS dev
      |  FROM events),
      |pp AS (
      |  SELECT user_id, ts, event_id,
      |    SUM(dev) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p
      |  FROM base),
      |c AS (
      |  SELECT user_id, ts, event_id,
      |    p - MIN(p) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cusum
      |  FROM pp),
      |al AS (
      |  SELECT user_id, event_id FROM (
      |    SELECT user_id, event_id,
      |      ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      |    FROM c WHERE cusum >= CAST(500.0 AS DECIMAL(12,2))) WHERE rn = 1),
      |st AS (
      |  SELECT user_id, COUNT(*) AS n_events,
      |    CAST(MAX(cusum) AS DOUBLE) AS max_cusum
      |  FROM c GROUP BY user_id)
      |SELECT st.user_id, st.n_events, st.max_cusum,
      |       al.event_id AS alarm_event_id
      |FROM st LEFT JOIN al ON al.user_id = st.user_id
      |ORDER BY st.user_id""".stripMargin
}
