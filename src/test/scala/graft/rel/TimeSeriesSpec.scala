package graft.rel

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Calendar densify + forward fill and transition counts (rel/TimeSeries):
  * hand-fixture semantics the oracle also pins at sf0.01, plus the gap
  * edge cases a 30-day synthetic stream may not exercise. */
class TimeSeriesSpec extends SparkSuite {
  import spark.implicits._

  private def ev(rows: (Long, String, Long, String, Double)*) =
    rows.toDF("event_id", "tss", "user_id", "event_type", "value")
      .select(col("event_id"), to_timestamp(col("tss")).as("ts"),
        col("user_id"), col("event_type"), col("value"))

  test("gaps fill with the last observation; span is per-user") {
    val e = ev(
      (1L, "2024-01-01 10:00:00", 7L, "view", 1.0),
      (2L, "2024-01-01 11:00:00", 7L, "click", 2.0), // later event wins the day
      (3L, "2024-01-04 09:00:00", 7L, "view", 9.0),  // 2-day gap before this
      (4L, "2024-02-10 00:00:00", 8L, "view", 5.0))  // disjoint single-day user
    val got = TimeSeries.fillForwardDaily(e)
      .collect().map(r => (r.getLong(0), r.getDate(1).toString, r.getDouble(2)))
    assert(got.toSeq === Seq(
      (7L, "2024-01-01", 2.0), // max event_id of the day, not first
      (7L, "2024-01-02", 2.0), // filled
      (7L, "2024-01-03", 2.0), // filled
      (7L, "2024-01-04", 9.0),
      (8L, "2024-02-10", 5.0)))
  }

  test("interpolation: rising and falling gaps, exact integer cents") {
    val e = ev(
      (1L, "2024-01-01 10:00:00", 7L, "view", 1.00),
      (2L, "2024-01-04 09:00:00", 7L, "view", 2.50),  // rising: 150 cents over 3 days
      (3L, "2024-01-07 09:00:00", 7L, "view", 0.10),  // falling: -240 over 3 (sign-split div)
      (4L, "2024-02-10 00:00:00", 8L, "view", 5.0))
    val got = TimeSeries.interpolateDaily(e)
      .collect()
      .map(r => (r.getLong(0), r.getDate(1).toString, r.getBoolean(2), r.getLong(3)))
    assert(got.toSeq === Seq(
      (7L, "2024-01-01", true, 100L),
      (7L, "2024-01-02", false, 150L), // 100 + (150·1) div 3
      (7L, "2024-01-03", false, 200L),
      (7L, "2024-01-04", true, 250L),
      (7L, "2024-01-05", false, 170L), // 250 + trunc(-240·1/3) = 250 − 80
      (7L, "2024-01-06", false, 90L),  // 250 + trunc(-240·2/3) = 250 − 160
      (7L, "2024-01-07", true, 10L),
      (8L, "2024-02-10", true, 500L)))
  }

  test("forecast backtest: a perfectly weekly series zeroes the seasonal arm only") {
    // value cycles with period 7 → actual(d) == actual(d−7) exactly,
    // while consecutive days differ → persistence arm has error
    val rows = (0 until 21).map { i =>
      val day = f"2024-01-${i + 1}%02d"
      ((i + 1).toLong, s"$day 12:00:00", 1L, "view", 10.0 + (i % 7))
    }
    val out = TimeSeries.forecastEval(ev(rows: _*)).collect()
    assert(out.length == 1)
    val r = out(0)
    assert(r.getString(0) == "view")
    assert(r.getLong(1) == 14L, "weekly arm: 21 days minus 7-day warmup")
    assert(r.getLong(3) == 0L, "seasonal-naive MAE must be exactly zero")
    assert(r.getLong(4) == 20L, "daily arm: 20 consecutive-day pairs")
    assert(r.getLong(6) > 0L, "persistence MAE nonzero on a varying series")
  }

  test("autocorr: a period-2 series is perfectly anti-correlated at odd lags") {
    // days 1..10 alternate 1-event / 2-event days → y = 3 − x exactly, so
    // lag-1 and lag-7 (both odd) must give −1 up to one sqrt rounding
    val rows = (1 to 10).flatMap { d =>
      val day = f"2024-01-$d%02d"
      val n = if (d % 2 == 1) 1 else 2
      (0 until n).map(i => (d * 10L + i, s"$day 10:0$i:00", 1L, "view", 1.0))
    }
    val got = TimeSeries.autocorr(ev(rows: _*)).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    assert(got.map(_._1).toSeq == Seq(1, 7))
    assert(got(0)._2 == 9L && got(1)._2 == 3L, "pair counts follow the lag")
    got.foreach { case (lag, _, ac) =>
      assert(math.abs(ac + 1.0) < 1e-12, s"lag $lag expected −1, got $ac")
    }
  }

  test("transitions count per-user consecutive pairs only") {
    val e = ev(
      (1L, "2024-01-01 10:00:00", 1L, "view", 0.0),
      (2L, "2024-01-01 10:01:00", 1L, "click", 0.0),
      (3L, "2024-01-01 10:02:00", 1L, "view", 0.0),
      (4L, "2024-01-01 10:00:30", 2L, "view", 0.0),
      (5L, "2024-01-01 10:01:30", 2L, "click", 0.0))
    val got = TimeSeries.eventTransitions(e)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    // user 2's view→click stacks with user 1's; no cross-user pair
    // (user 1's trailing view never chains into user 2's leading view)
    assert(got.toSeq === Seq(
      ("click", "view", 1L),
      ("view", "click", 2L)))
  }

  test("IQR outliers: planted extremes flagged, bulk passes") {
    val e = (1 to 20).map(i => (i.toLong, s"2024-01-01 10:${i % 60}:00", 1L, "view", i.toDouble)) ++
      Seq((21L, "2024-01-02 10:00:00", 1L, "view", 1000.0),   // far outlier
        (22L, "2024-01-02 11:00:00", 1L, "click", 5.0))       // lone value: IQR=0, self-fenced in
    val got = TimeSeries.iqrOutliers(ev(e: _*))
      .collect().map(_.getLong(0))
    assert(got.toSeq === Seq(21L))
  }

  test("OHLC: open/close follow event_id load order, extrema and volume exact") {
    val e = ev(
      (3L, "2024-01-01 09:00:00", 1L, "trade", 50.0), // earliest ts but NOT open:
      (1L, "2024-01-01 10:00:00", 1L, "trade", 10.0), // min event_id = open
      (2L, "2024-01-01 11:00:00", 1L, "trade", 99.0), // high
      (4L, "2024-01-01 12:00:00", 1L, "trade", 7.0),  // low + max event_id = close
      (5L, "2024-01-02 10:00:00", 1L, "trade", 1.0))  // next candle
    val got = TimeSeries.ohlcDaily(e).collect()
      .map(r => (r.getString(0), r.getDate(1).toString, r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getLong(6), r.getDouble(7)))
    assert(got.toSeq === Seq(
      ("trade", "2024-01-01", 10.0, 99.0, 7.0, 7.0, 4L, 166.0),
      ("trade", "2024-01-02", 1.0, 1.0, 1.0, 1.0, 1L, 1.0)))
  }

  test("EWMA: constant series is a fixed point; gaps renormalize the window") {
    // type A: constant 2 events/day for 10 days → ewma ≡ 2.0 exactly
    val a = (1 to 10).flatMap { d =>
      Seq((d * 2L, f"2024-01-$d%02d 10:00:00", 1L, "A", 1.0),
        (d * 2 + 1L, f"2024-01-$d%02d 11:00:00", 2L, "A", 1.0))
    }
    // type B: day 1 has 4 events, day 9 has 1 (7-day gap: day 1 falls
    // OUT of day 9's K=7 lookback → ewma(day 9) = 1 exactly)
    val b = Seq((100L, "2024-01-01 10:00:00", 3L, "B", 1.0),
      (101L, "2024-01-01 11:00:00", 3L, "B", 1.0),
      (102L, "2024-01-01 12:00:00", 3L, "B", 1.0),
      (103L, "2024-01-01 13:00:00", 3L, "B", 1.0),
      (104L, "2024-01-09 10:00:00", 3L, "B", 1.0))
    val got = TimeSeries.ewmaDailyCounts(ev(a ++ b: _*))
      .collect().map(r => (r.getString(0), r.getDate(1).toString, r.getDouble(3)))
    val aRows = got.filter(_._1 == "A")
    assert(aRows.length === 10 && aRows.forall(_._3 == 2.0))
    val b9 = got.filter(r => r._1 == "B" && r._2 == "2024-01-09")
    assert(b9.toSeq === Seq(("B", "2024-01-09", 1.0)))
    // day 2 of B (absent) produces no row: EWMA is over observed days
    assert(!got.exists(r => r._1 == "B" && r._2 == "2024-01-02"))
    // day 1 of B: only itself in window → 4.0 exactly
    assert(got.filter(r => r._1 == "B" && r._2 == "2024-01-01").head._3 === 4.0)
  }

  test("fill output is dense: every user spans first..last with no holes") {
    val got = TimeSeries.fillForwardDaily(
      graft.core.Tables.events(spark, sfDir))
    val holes = got.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"),
        (datediff(max(col("day")), min(col("day"))) + 1).as("span"),
        count(col("value")).as("nonnull"))
      .filter(col("n") =!= col("span") || col("nonnull") =!= col("n"))
    assert(holes.count() === 0, "densified series must have one row per day, all filled")
  }

  test("theil-sen: median pairwise slope is outlier-immune and exact") {
    import java.sql.Timestamp
    import spark.implicits._
    // days 1..5, values 10,20,30,40,1000 (one wild outlier): slopes of
    // the 6 outlier-free pairs are all exactly 10/day; 4 outlier pairs
    // are huge → lower median (rank 5 of 10) is still an exact 10/day
    // pair. OLS would be dragged far above 10.
    val rows = Seq(1 -> 10.0, 2 -> 20.0, 3 -> 30.0, 4 -> 40.0, 5 -> 1000.0)
      .map { case (day, v) =>
        (day.toLong, 1L, Timestamp.valueOf(f"2024-01-0$day 10:00:00"),
          "buy", v)
      }.toDF("event_id", "user_id", "ts", "event_type", "value")
    val r = TimeSeries.theilSen(rows).collect()(0)
    assert(r.getString(0) === "buy")
    val (num, den, n) = (r.getLong(1), r.getLong(2), r.getLong(3))
    assert(n === 10L)
    assert(num === den * 1000L,
      s"median slope must be exactly 10.00/day in cents: $num/$den")
  }

  test("hampel: planted spike flags against its local window, level " +
      "shift does NOT flag once the window re-centers, edges use " +
      "shorter even windows exactly") {
    // 11 flat days at 10.00, day 6 spikes to 99.00
    val spike = (1 to 11).map { d =>
      val v = if (d == 6) 99.0 else 10.0
      (d.toLong, f"2024-01-$d%02d 09:00:00", 1L, "buy", v)
    }
    val got = TimeSeries.hampelOutliers(ev(spike: _*)).collect()
      .map(r => r.getDate(1).toString ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getBoolean(6))).toMap
    // interior flat day: window is 7×1000 cents → med2=2000, mad4=0
    assert(got("2024-01-03") === ((1000L, 2000L, 0L, false)))
    // the spike day: |x−med| = 8900 cents > 3·MAD = 0 → flagged
    assert(got("2024-01-06")._4 === true)
    assert(got("2024-01-06")._1 === 9900L)
    // flat days sharing the spike's window stay unflagged (dev 0)
    assert((3 to 9).filter(_ != 6).forall { d =>
      !got(f"2024-01-$d%02d")._4
    }, "median absorbs one spike in a 7-window")
    // edge day 1: window = days 1..4 (even n=4), med2 = 1000+1000
    assert(got("2024-01-01") === ((1000L, 2000L, 0L, false)))

    // level shift: 5 days at 10.00 then 6 days at 50.00 — the boundary
    // days see mixed windows but the shifted REGIME must not all flag
    val shift = (1 to 11).map { d =>
      val v = if (d <= 5) 10.0 else 50.0
      (d.toLong, f"2024-02-$d%02d 09:00:00", 1L, "buy", v)
    }
    val g2 = TimeSeries.hampelOutliers(ev(shift: _*)).collect()
      .map(r => r.getDate(1).toString -> r.getBoolean(6)).toMap
    assert(g2("2024-02-10") === false && g2("2024-02-11") === false,
      "re-centered window must accept the new level (global MAD would not)")
  }

  test("holt: hand recursion incl. negative trend truncation; constant " +
      "series is a fixed point") {
    // one type, counts 4, 2, 1 (declining → negative trend exercises
    // truncate-toward-zero on a negative numerator)
    val e = ev(
      (1L, "2024-01-01 10:00:00", 1L, "view", 0.0),
      (2L, "2024-01-01 11:00:00", 1L, "view", 0.0),
      (3L, "2024-01-01 12:00:00", 2L, "view", 0.0),
      (4L, "2024-01-01 13:00:00", 2L, "view", 0.0),
      (5L, "2024-01-02 10:00:00", 1L, "view", 0.0),
      (6L, "2024-01-02 11:00:00", 2L, "view", 0.0),
      (7L, "2024-01-03 10:00:00", 1L, "view", 0.0))
    val got = TimeSeries.holtDailyCounts(e)
      .collect().map(r => (r.getDate(1).toString, r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    // day1: l=4·256=1024, b=0
    // day2: l=(512+1024+0) div 2 = 768; b=(768−1024+0) div 2 = −128
    // day3: l=(256+768−128) div 2 = 448; b=(448−768−128) div 2 = −224
    assert(got.toSeq === Seq(
      ("2024-01-01", 4L, 1024L, 0L, 1024L),
      ("2024-01-02", 2L, 768L, -128L, 640L),
      ("2024-01-03", 1L, 448L, -224L, 224L)))
    // constant series: level pins at x·256, trend at 0
    val c = ev((1 to 5).map(i =>
      (i.toLong, s"2024-03-0$i 10:00:00", 1L, "buy", 0.0)): _*)
    val cg = TimeSeries.holtDailyCounts(c)
      .collect().map(r => (r.getLong(3), r.getLong(4)))
    assert(cg.forall(_ == (256L, 0L)))
  }

  test("changepoint: a planted level shift is located exactly; flat " +
      "series ties break to the earliest split") {
    // type A: 10.00/day for 4 days then 50.00/day for 3 — the shift
    // is after day 4; CUSUM argmax lands on the last low day
    val shift = (1 to 4).map(i =>
      (i.toLong, s"2024-01-0$i 10:00:00", 1L, "A", 10.0)) ++
      (5 to 7).map(i => (i.toLong, s"2024-01-0$i 10:00:00", 1L, "A", 50.0))
    // type B: perfectly flat — every stat is 0, earliest day wins
    val flat = (1 to 4).map(i =>
      ((10 + i).toLong, s"2024-02-0$i 10:00:00", 1L, "B", 7.0))
    val got = TimeSeries.changepoint(ev((shift ++ flat): _*))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDate(2).toString, r.getLong(3))).toMap
    // A: n=7, T=19000 cents; k=4: P=4000 → |7·4000−4·19000| = 48000
    assert(got("A") === ((7L, "2024-01-04", 48000L)))
    assert(got("B") === ((4L, "2024-02-01", 0L)))
  }

  test("holt is bit-identical across partitionings") {
    val e = graft.core.Tables.events(spark, sfDir)
    def run(parts: Int) =
      TimeSeries.holtDailyCounts(e.repartition(parts))
        .collect().map(_.toSeq).toSeq
    assert(run(2) === run(16))
  }

  test("decompose: constant series has zero detrend and remainder, " +
      "edges carry NULL trend, dow is ISO, scaled identities hold") {
    // 14 flat days at 10.00 starting Mon 2024-01-01
    val flat = (1 to 14).map(d =>
      (d.toLong, f"2024-01-$d%02d 09:00:00", 1L, "buy", 10.0))
    val rows = TimeSeries.decomposeDaily(ev(flat: _*)).collect()
    val byDay = rows.map(r => r.getDate(1).toString -> r).toMap
    // 2024-01-01 is a Monday → ISO dow 1
    assert(byDay("2024-01-01").getInt(2) === 1)
    assert(byDay("2024-01-07").getInt(2) === 7, "Sunday is ISO 7")
    // edges (first/last 3 days): trend undefined
    Seq("2024-01-01", "2024-01-02", "2024-01-03",
        "2024-01-12", "2024-01-13", "2024-01-14").foreach { d =>
      assert(byDay(d).isNullAt(4), s"$d must have NULL trend_sum7")
    }
    // interior of a constant series: trend_sum7 = 7000, det7 = 0
    (4 to 11).foreach { d =>
      val r = byDay(f"2024-01-$d%02d")
      assert(r.getLong(4) === 7000L && r.getLong(5) === 0L)
      assert(r.getLong(8) === 0L, "constant series has zero remainder")
    }
    // per-row identity: resid7c = det7*seas_cnt - seas_num wherever defined
    rows.filter(r => !r.isNullAt(5)).foreach { r =>
      assert(r.getLong(8) === r.getLong(5) * r.getLong(7) - r.getLong(6))
    }
  }

  /** PAA on a hand series: 4 contiguous days in 2 segments (2 days
    * each, exact cent means), and a gapped 3-day-span series whose
    * integer grid maps day offsets 0→seg 0, 2→seg 1. */
  test("ts_paa: exact segment grid and cent means, gap days included by span") {
    import java.sql.Timestamp
    import spark.implicits._
    val e = Seq(
      (1L, "X", "2024-01-01 10:00:00", 10.00),
      (2L, "X", "2024-01-02 10:00:00", 20.00),
      (3L, "X", "2024-01-03 10:00:00", 30.50),
      (4L, "X", "2024-01-04 10:00:00", 40.50),
      (5L, "Y", "2024-01-01 10:00:00", 5.00),
      (6L, "Y", "2024-01-03 10:00:00", 7.00))
      .map { case (id, ty, t, v) => (id, ty, Timestamp.valueOf(t), v) }
      .toDF("event_id", "event_type", "ts", "value")
    val got = TimeSeries.paaDailyValue(e, nSeg = 2)
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got(("X", 0L)) === ((2L, 3000L, 1500L)))
    assert(got(("X", 1L)) === ((2L, 7100L, 3550L)))
    assert(got(("Y", 0L)) === ((1L, 500L, 500L)))
    assert(got(("Y", 1L)) === ((1L, 700L, 700L)))
  }

  /** Crossover: eight flat days arm the windows (3/3 vs 7/7 average is
    * EQUAL — strict compare stays below), the day-9 burst flips the
    * fast SMA above the slow one exactly once; the settling day does
    * not flip back. */
  test("ts_crossover: single golden cross, warm-up days excluded") {
    import java.sql.Timestamp
    import spark.implicits._
    val cents = Seq.fill(8)(100L) ++ Seq(1000L, 1L)
    val e = cents.zipWithIndex.map { case (c, i) =>
      (i.toLong, "X", Timestamp.valueOf(f"2024-01-${i + 1}%02d 12:00:00"),
        c / 100.0)
    }.toDF("event_id", "event_type", "ts", "value")
    val got = TimeSeries.smaCrossover(e)
      .collect().map(r => (r.getString(0), r.getDate(1).toString,
        r.getLong(2), r.getLong(3), r.getString(4)))
    assert(got.toSeq === Seq(("X", "2024-01-09", 1200L, 1600L, "golden")))
  }

  /** SAX: 8 distinct daily values → empirical quartile cuts at ranks
    * 2/4/6 (ceil rules), so the alphabet splits 1|2-3|4-5|6-8. */
  test("ts_sax: empirical quartile cuts, hand alphabet") {
    import java.sql.Timestamp
    import spark.implicits._
    val e = (1 to 8).map { i =>
      (i.toLong, "X", Timestamp.valueOf(f"2024-01-$i%02d 12:00:00"), i * 1.0)
    }.toDF("event_id", "event_type", "ts", "value")
    val got = TimeSeries.saxDaily(e)
      .collect().map(r => (r.getDate(1).toString.takeRight(2), r.getString(3)))
    assert(got.map(_._2).mkString === "abbccddd")
  }

  /** Bollinger: 7 flat warm-up days (zero variance → bands collapse to
    * the mean), day 8 spikes → break_up; warm-up days never emit. */
  test("ts_bollinger: flat window collapses bands; spike breaks out") {
    import java.sql.Timestamp
    import spark.implicits._
    val cents = Seq.fill(7)(100L) ++ Seq(1000L)
    val e = cents.zipWithIndex.map { case (c, i) =>
      (i.toLong, "X", Timestamp.valueOf(f"2024-01-${i + 1}%02d 12:00:00"),
        c / 100.0)
    }.toDF("event_id", "event_type", "ts", "value")
    val got = TimeSeries.bollingerDaily(e).collect()
    assert(got.length === 1)
    val r = got.head
    assert(r.getDate(1).toString === "2024-01-08")
    assert(r.getLong(2) === 1000L)
    assert(r.getLong(3) === 100000L)     // mid = upper = lower (σ = 0)
    assert(r.getLong(4) === 100000L)
    assert(r.getLong(5) === 100000L)
    assert(r.getBoolean(6) && !r.getBoolean(7))
  }

  test("ts_records: strict records only, ties do not break, stood days") {
    import java.sql.Timestamp
    import spark.implicits._
    val cents = Seq(100L, 50L, 200L, 200L, 300L)
    val e = cents.zipWithIndex.map { case (c, i) =>
      (i.toLong, "X", Timestamp.valueOf(f"2024-01-${i + 1}%02d 12:00:00"),
        c / 100.0)
    }.toDF("event_id", "event_type", "ts", "value")
    val got = TimeSeries.recordDays(e).collect()
      .map(r => (r.getDate(1).toString, r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Long]),
        Option(r.get(4)).map(_.asInstanceOf[Long])))
    assert(got.toSeq === Seq(
      ("2024-01-01", 100L, None, None),
      ("2024-01-03", 200L, Some(100L), Some(2L)),
      ("2024-01-05", 300L, Some(200L), Some(2L))))
  }

  test("segmented trend: clean level shift, flat slopes both sides") {
    import java.sql.Timestamp
    import spark.implicits._
    val cents = Seq(100L, 100L, 100L, 500L, 500L, 500L)
    val e = cents.zipWithIndex.map { case (c, i) =>
      (i.toLong, "X", Timestamp.valueOf(f"2024-01-${i + 1}%02d 12:00:00"),
        c / 100.0)
    }.toDF("event_id", "event_type", "ts", "value")
    val r = TimeSeries.segmentedTrend(e).collect().head
    assert(r.getDate(1).toString === "2024-01-03") // CUSUM break at day 3
    assert((r.getLong(2), r.getLong(3)) === ((3L, 100000L)))
    assert((r.getLong(5), r.getLong(6)) === ((3L, 500000L)))
    assert(r.getDouble(4) === 0.0 && r.getDouble(7) === 0.0)
  }

  test("ts_rebase: index anchored at the first day, zero base → NULL") {
    import java.sql.Timestamp
    import spark.implicits._
    val e = Seq(
      (1L, "X", Timestamp.valueOf("2024-01-01 12:00:00"), 2.00),
      (2L, "X", Timestamp.valueOf("2024-01-02 12:00:00"), 3.00),
      (3L, "Z", Timestamp.valueOf("2024-01-01 12:00:00"), 0.00),
      (4L, "Z", Timestamp.valueOf("2024-01-02 12:00:00"), 9.00))
      .toDF("event_id", "event_type", "ts", "value")
    val got = TimeSeries.rebaseDaily(e).collect()
      .map(r => (r.getString(0), r.getDate(1).toString,
        Option(r.get(4)).map(_.asInstanceOf[Long])))
    assert(got.toSeq === Seq(
      ("X", "2024-01-01", Some(10000L)),
      ("X", "2024-01-02", Some(15000L)),
      ("Z", "2024-01-01", None),   // zero base never divides
      ("Z", "2024-01-02", None)))
  }

  test("ts_wow: exact same-weekday lookup, gaps yield NULL, sign split") {
    import java.sql.Timestamp
    import spark.implicits._
    val e = Seq(
      (1L, "X", Timestamp.valueOf("2024-01-01 12:00:00"), 2.00),
      (2L, "X", Timestamp.valueOf("2024-01-08 12:00:00"), 3.00),  // +50%
      (3L, "X", Timestamp.valueOf("2024-01-15 12:00:00"), 1.50),  // −50%
      (4L, "X", Timestamp.valueOf("2024-01-21 12:00:00"), 9.00))  // 6 days: gap
      .toDF("event_id", "event_type", "ts", "value")
    val got = TimeSeries.weekOverWeek(e).collect()
      .map(r => (r.getDate(1).toString,
        Option(r.get(4)).map(_.asInstanceOf[Long])))
    assert(got.toSeq === Seq(
      ("2024-01-01", None),
      ("2024-01-08", Some(5000L)),
      ("2024-01-15", Some(-5000L)),
      ("2024-01-21", None)))   // 6-day gap: no same-weekday baseline
  }
}
