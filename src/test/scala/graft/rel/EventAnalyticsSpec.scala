package graft.rel

import java.sql.Timestamp

import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

import graft.SparkSuite

/** Funnel, retention and attribution (rel/EventAnalytics): hand-computed
  * sequences and the single-shuffle plan contract. */
class EventAnalyticsSpec extends SparkSuite {

  private def ev(rows: Seq[(Long, Long, String, String)]) = {
    import spark.implicits._
    rows.map { case (id, uid, t, ty) =>
      (id, uid, Timestamp.valueOf(t), ty)
    }.toDF("event_id", "user_id", "ts", "event_type")
  }

  test("markov attribution: hand-solvable chain, removal effects exact, " +
      "absent channel credits zero") {
    // u1: view→click→CONV; u2: view→NULL; u3: signup→CONV; u4: view→CONV
    // p(click)=S, p(signup)=S, p(view)=(S+S)/3, p(START)=(3·p(view)+S)/4
    val e = ev(Seq(
      (1L, 1L, "2024-01-01 10:00:00", "view"),
      (2L, 1L, "2024-01-01 10:01:00", "click"),
      (3L, 1L, "2024-01-01 10:02:00", "purchase"),
      (4L, 2L, "2024-01-01 11:00:00", "view"),
      (5L, 3L, "2024-01-01 12:00:00", "signup"),
      (6L, 3L, "2024-01-01 12:01:00", "purchase"),
      (7L, 4L, "2024-01-01 13:00:00", "view"),
      (8L, 4L, "2024-01-01 13:01:00", "purchase")))
    val out = EventAnalytics.markovAttribution(
        e, Seq("click", "error", "signup", "view"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val full = 749999999L // (3·666666666 + 1000000000) div 4
    assert(out("view") === ((full, 250000000L, 499999999L)),
      s"view removal wrong: ${out("view")}")
    assert(out("click") === ((full, 499999999L, 250000000L)))
    assert(out("signup") === ((full, 499999999L, 250000000L)))
    assert(out("error") === ((full, full, 0L)),
      "a channel with no traffic must credit exactly zero")
  }

  test("last-touch attribution: inclusive 1440-min lookback, latest view " +
      "wins with view_id tie-break, same user only, exact gap") {
    val d = ev(Seq(
      // purchase 100: a view exactly 1440 min back counts; 1 µs
      // earlier does not
      (10L, 1L, "2024-01-01 10:00:00", "view"),
      (11L, 1L, "2024-01-01 09:59:59.999999", "view"),
      (100L, 1L, "2024-01-02 10:00:00", "purchase"),
      // purchase 200: a view at purchase_ts counts; 1 µs after does not
      (20L, 2L, "2024-01-01 12:00:00", "view"),
      (21L, 2L, "2024-01-01 12:00:00.000001", "view"),
      (200L, 2L, "2024-01-01 12:00:00", "purchase"),
      // purchase 300: the latest view wins over a higher-id earlier
      // one; on equal ts the higher view_id wins
      (39L, 3L, "2024-01-01 14:00:00", "view"),
      (31L, 3L, "2024-01-01 14:30:00", "view"),
      (32L, 3L, "2024-01-01 14:30:00", "view"),
      (300L, 3L, "2024-01-01 15:00:00", "purchase"),
      // purchase 400: user 3's later view is not user 4's
      (40L, 3L, "2024-01-01 15:59:00", "view"),
      (41L, 4L, "2024-01-01 10:00:00", "view"),
      (400L, 4L, "2024-01-01 16:00:00", "purchase"),
      // purchase 500: no qualifying view (too old, too late, a click)
      (50L, 5L, "2024-01-01 09:00:00", "view"),
      (51L, 5L, "2024-01-02 09:30:00", "click"),
      (52L, 5L, "2024-01-02 10:00:01", "view"),
      (500L, 5L, "2024-01-02 10:00:00", "purchase")))
    val out = EventAnalytics.lastTouchAttribution(d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq === Seq(
      (100L, 1L, 10L, 86400000000L),
      (200L, 2L, 20L, 0L),
      (300L, 3L, 32L, 1800000000L),
      (400L, 4L, 41L, 21600000000L)))
  }

  test("funnel: strict ordering — events before the prior stage don't count") {
    val d = ev(Seq(
      // user 1: full ordered chain
      (1L, 1L, "2024-01-01 10:00:00", "view"),
      (2L, 1L, "2024-01-01 10:01:00", "click"),
      (3L, 1L, "2024-01-01 10:02:00", "purchase"),
      // user 2: click BEFORE any view → stage 2 not reached
      (4L, 2L, "2024-01-01 09:00:00", "click"),
      (5L, 2L, "2024-01-01 09:30:00", "view"),
      // user 3: purchase precedes the qualifying click → reaches
      // stage 2 (the 08:20 click does follow a view) but not stage 3
      (6L, 3L, "2024-01-01 08:00:00", "view"),
      (7L, 3L, "2024-01-01 08:10:00", "purchase"),
      (8L, 3L, "2024-01-01 08:20:00", "click"),
      // user 4: never views
      (9L, 4L, "2024-01-01 07:00:00", "purchase")))
    val out = EventAnalytics.funnel(d).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(out.toSeq == Seq(
      (1L, "view", 3L),                  // users 1, 2, 3
      (2L, "click_after_view", 2L),      // users 1 and 3
      (3L, "purchase_after_click", 1L))) // user 1 only
  }

  test("funnel: same-timestamp stage break by event_id, later click still qualifies") {
    val d = ev(Seq(
      // view and click share a timestamp: event_id 1 < 2 ⇒ click is
      // strictly after the view in the engine's total order
      (1L, 1L, "2024-01-01 10:00:00", "view"),
      (2L, 1L, "2024-01-01 10:00:00", "click"),
      // user 2: a pre-view click does NOT consume the funnel — the
      // SECOND click (post-view) qualifies
      (3L, 2L, "2024-01-01 10:00:00", "click"),
      (4L, 2L, "2024-01-01 10:01:00", "view"),
      (5L, 2L, "2024-01-01 10:02:00", "click"),
      (6L, 2L, "2024-01-01 10:03:00", "purchase")))
    val out = EventAnalytics.funnel(d).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    assert(out.toSeq == Seq((1L, 2L), (2L, 2L), (3L, 1L)))
  }

  test("funnel: one shuffle total — windows and per-user agg share partitioning") {
    val d = ev(Seq((1L, 1L, "2024-01-01 10:00:00", "view")))
    val plan = EventAnalytics.funnel(d).queryExecution.executedPlan
    val exchanges = plan.collect { case e: ShuffleExchangeExec => e }
    // one Exchange for user_id (window+agg), one for the final
    // single-row stack/sort stage at most
    assert(exchanges.count(_.outputPartitioning.numPartitions > 1) <= 1,
      s"expected at most one data shuffle, got:\n$plan")
  }

  test("pattern V+ C: maximal view runs, interruption resets, back-to-back runs") {
    val d = ev(Seq(
      // user 1: view,view,click → ONE match with n_views = 2
      (1L, 1L, "2024-01-01 10:00:00", "view"),
      (2L, 1L, "2024-01-01 10:01:00", "view"),
      (3L, 1L, "2024-01-01 10:02:00", "click"),
      // user 2: view,purchase,click → run broken before the click, no match
      (4L, 2L, "2024-01-01 10:00:00", "view"),
      (5L, 2L, "2024-01-01 10:01:00", "purchase"),
      (6L, 2L, "2024-01-01 10:02:00", "click"),
      // user 3: two separate matches — (view)click then (view,view)click
      (7L, 3L, "2024-01-01 09:00:00", "view"),
      (8L, 3L, "2024-01-01 09:01:00", "click"),
      (9L, 3L, "2024-01-01 09:02:00", "view"),
      (10L, 3L, "2024-01-01 09:03:00", "view"),
      (11L, 3L, "2024-01-01 09:04:00", "click"),
      // user 4: trailing view run with no click after it
      (12L, 4L, "2024-01-01 08:00:00", "view")))
    val out = EventAnalytics.matchViewRunsThenClick(d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq(
      (1L, 2L, 1L, 3L),
      (3L, 1L, 7L, 8L),
      (3L, 2L, 9L, 11L)))
  }

  test("pattern match: single exchange — all stages share user_id keying") {
    // AQE off so executedPlan is the static plan (AdaptiveSparkPlanExec
    // hides children from collect); exchange REUSE stays on — the
    // numbered relation appears in both join subtrees and must plan as
    // one shuffle + one ReusedExchange, never two shuffles
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val d = ev(Seq(
        (1L, 1L, "2024-01-01 10:00:00", "view"),
        (2L, 1L, "2024-01-01 10:01:00", "click")))
        .repartition(4)
      // hash exchanges only: the input repartition (round-robin) and the
      // presentation orderBy (range) are not the claim under test
      val n = EventAnalytics.matchViewRunsThenClick(d)
        .queryExecution.executedPlan.collect {
          case e: ShuffleExchangeExec
            if e.outputPartitioning
              .isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.HashPartitioning] => e
        }.size
      assert(n == 1, s"expected 1 hash exchange (user_id reused throughout), got $n")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("rfm: quartile scores in the deterministic total order, views ignored") {
    import spark.implicits._
    val d = Seq(
      (1L, 1L, "2024-01-10 10:00:00", "purchase", 40.0),
      (2L, 1L, "2024-01-09 10:00:00", "purchase", 30.0),
      (3L, 1L, "2024-01-08 10:00:00", "purchase", 20.0),
      (4L, 2L, "2024-01-07 10:00:00", "purchase", 50.0),
      (5L, 2L, "2024-01-06 10:00:00", "purchase", 10.0),
      (6L, 3L, "2024-01-05 10:00:00", "purchase", 25.0),
      (7L, 4L, "2024-01-02 10:00:00", "purchase", 5.0),
      (8L, 4L, "2024-01-11 10:00:00", "view", 999.0)) // never counts
      .map { case (id, uid, t, ty, v) =>
        (id, uid, Timestamp.valueOf(t), ty, v)
      }.toDF("event_id", "user_id", "ts", "event_type", "value")
    val got = EventAnalytics.rfmSegments(d).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3),
        r.getInt(7)))
    assert(got.toSeq == Seq(
      (1L, 0, 3L, 90.0, 111),
      (2L, 3, 2L, 60.0, 222),
      (3L, 5, 1L, 25.0, 333),
      (4L, 8, 1L, 5.0, 444)))
  }

  test("abandonment: 24h bound is exclusive-then-inclusive, only the LAST click counts") {
    val d = ev(Seq(
      // user 1: purchase 1s inside the bound → converted
      (1L, 1L, "2024-01-01 10:00:00", "click"),
      (2L, 1L, "2024-01-02 09:59:59", "purchase"),
      // user 2: purchase exactly 24h later → inclusive bound, converted
      (3L, 2L, "2024-01-01 10:00:00", "click"),
      (4L, 2L, "2024-01-02 10:00:00", "purchase"),
      // user 3: purchase 24h + 1s later → abandoned
      (5L, 3L, "2024-01-01 10:00:00", "click"),
      (6L, 3L, "2024-01-02 10:00:01", "purchase"),
      // user 4: purchase BEFORE the last click → abandoned (strictly after)
      (7L, 4L, "2024-01-01 09:00:00", "purchase"),
      (8L, 4L, "2024-01-01 10:00:00", "click"),
      // user 5: earlier click converted, but the LAST click was not
      (9L, 5L, "2024-01-01 08:00:00", "click"),
      (10L, 5L, "2024-01-01 08:30:00", "purchase"),
      (11L, 5L, "2024-01-03 10:00:00", "click")))
    val got = EventAnalytics.abandonment(d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(got.toSeq == Seq(
      (1L, 1L, false),
      (2L, 3L, false),
      (3L, 5L, true),
      (4L, 8L, true),
      (5L, 11L, true)))
  }

  test("retention: cohort assignment and day offsets, multi-visit dedup") {
    val d = ev(Seq(
      (1L, 1L, "2024-01-01 10:00:00", "view"),
      (2L, 1L, "2024-01-01 23:00:00", "click"),  // same day: one cell
      (3L, 1L, "2024-01-03 10:00:00", "view"),   // offset 2
      (4L, 2L, "2024-01-02 10:00:00", "view"),   // cohort Jan 2
      (5L, 2L, "2024-01-05 10:00:00", "view")))  // offset 3
    val out = EventAnalytics.retention(d).collect()
      .map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq(
      ("2024-01-01", 0L, 1L), ("2024-01-01", 2L, 1L),
      ("2024-01-02", 0L, 1L), ("2024-01-02", 3L, 1L)))
  }

  test("fixture: funnel is monotone non-increasing and retention covers day 0") {
    val e = graft.core.Tables.events(spark, sfDir)
    val f = EventAnalytics.funnel(e).collect().map(_.getLong(2))
    assert(f.length == 3 && f(0) >= f(1) && f(1) >= f(2) && f(0) > 0)
    val r = EventAnalytics.retention(e)
    import org.apache.spark.sql.functions._
    // every user's cohort day has an offset-0 cell by construction
    val day0 = r.filter(col("day_offset") === 0)
      .agg(sum(col("n_users"))).collect().head.getLong(0)
    assert(day0 == e.select("user_id").distinct().count())
  }

  test("session paths: gap splits sessions, order inside a path is (ts, id)") {
    import java.sql.Timestamp
    import spark.implicits._
    def at(hm: String) = Timestamp.valueOf(s"2024-01-01 $hm:00")
    val e = Seq(
      // user 1, one session: view > click (order by ts)
      (1L, at("10:00"), 1L, "view"), (1L, at("10:05"), 2L, "click"),
      // 31-minute gap → new session: purchase alone
      (1L, at("10:40"), 3L, "purchase"),
      // user 2: same view > click shape, stacks with user 1's
      (2L, at("11:00"), 4L, "view"), (2L, at("11:10"), 5L, "click"),
      // same-ts pair: event_id breaks the tie inside the path
      (3L, at("12:00"), 7L, "b_second"), (3L, at("12:00"), 6L, "a_first"))
      .toDF("user_id", "ts", "event_id", "event_type")
    val got = EventAnalytics.topSessionPaths(e, 10)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got === Seq(
      ("view>click", 2L), ("a_first>b_second", 1L), ("purchase", 1L)))
  }

  test("funnel latency: anchors are first view / first QUALIFYING click " +
      "and purchase; non-converters and unqualified paths don't surface") {
    val e = ev(Seq(
      // u1 converts: view@10:00, stray click@09:00 (no prior view — not
      // qualifying), qualifying click@10:05, purchase@10:20
      (1L, 1L, "2024-01-01 09:00:00", "click"),
      (2L, 1L, "2024-01-01 10:00:00", "view"),
      (3L, 1L, "2024-01-01 10:05:00", "click"),
      (4L, 1L, "2024-01-01 10:20:00", "purchase"),
      // u2: purchase before any qualifying click — no conversion
      (5L, 2L, "2024-01-01 11:00:00", "view"),
      (6L, 2L, "2024-01-01 11:01:00", "purchase"),
      // u3: full chain, later second purchase ignored (first qualifies)
      (7L, 3L, "2024-01-01 12:00:00", "view"),
      (8L, 3L, "2024-01-01 12:01:00", "click"),
      (9L, 3L, "2024-01-01 12:02:00", "purchase"),
      (10L, 3L, "2024-01-01 13:00:00", "purchase")))
    val got = EventAnalytics.funnelLatency(e)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(got.keySet === Set(1L, 3L))
    assert(got(1L) === ((300000000L, 900000000L, 1200000000L)),
      "5 min view→click, 15 min click→purchase, 20 min total")
    assert(got(3L) === ((60000000L, 60000000L, 120000000L)))
  }

  test("property: growth ledger obeys the DAU decomposition and the " +
      "churn conservation identity on random activity sets") {
    import org.scalacheck.Gen
    val gen = Gen.listOfN(60, for {
      u <- Gen.chooseNum(1, 6)
      d <- Gen.chooseNum(1, 9)
    } yield (u.toLong, d))
    for (trial <- 1 to 3) {
      val activity = gen.sample.get.distinct
      val e = ev(activity.zipWithIndex.map { case ((u, d), i) =>
        (i.toLong, u, f"2024-01-0$d 10:00:00", "view") })
      val ledger = EventAnalytics.growthAccounting(e)
        .collect()
        .map(r => r.getDate(0).toString.takeRight(2).toInt ->
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .toMap
      val dau = activity.groupBy(_._2).map { case (d, us) =>
        d -> us.map(_._1).distinct.size.toLong }
      // DAU(d) = new + retained + resurrected, every active day
      dau.foreach { case (d, n) =>
        val (nw, rt, rs, _) = ledger(d)
        assert(nw + rt + rs === n, s"trial $trial day $d: DAU decomposition")
      }
      // churned(d) = DAU(d−1) − retained(d) for every surfaced day
      ledger.foreach { case (d, (_, rt, _, ch)) =>
        assert(ch === dau.getOrElse(d - 1, 0L) - rt,
          s"trial $trial day $d: churn conservation")
      }
    }
  }

  test("ab test: exact rational z², parity split, degenerate guard") {
    import spark.implicits._
    def frame(rows: Seq[(Long, Long, String, Double)]) =
      rows.map { case (id, uid, ty, v) =>
        (id, uid, Timestamp.valueOf("2024-01-01 10:00:00"), ty, v)
      }.toDF("event_id", "user_id", "ts", "event_type", "value")
    // variants by parity: {0,2} vs {1,3}; only u0 converts (value ≥ 200)
    // z²num = (c0·n1 − c1·n0)²·N = (1·2)²·4 = 16
    // z²den = n0·n1·C·(N−C) = 2·2·1·3 = 12 → z2_fp = 16e6 div 12
    val e = frame(Seq(
      (1L, 0L, "purchase", 250.0), (2L, 1L, "purchase", 50.0),
      (3L, 2L, "view", 0.0), (4L, 3L, "purchase", 199.99)))
    val r = EventAnalytics.abTest(e).collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ===
      ((2L, 1L, 2L, 0L)))
    assert(r.getLong(6) === 16000000L / 12L, "exact rational fixed point")
    assert(!r.getBoolean(7), "1-of-2 vs 0-of-2 is not significant")
    // degenerate: nobody converts → statistic undefined, reported 0
    val none = frame(Seq(
      (1L, 0L, "view", 0.0), (2L, 1L, "view", 0.0)))
    val r0 = EventAnalytics.abTest(none).collect()(0)
    assert(r0.getLong(6) === 0L && !r0.getBoolean(7),
      "zero denominator must not error or flag")
  }

  test("growth accounting: new/retained/resurrected classification, " +
      "churn lands on the missed day, corpus-end absence is not churn") {
    // u1: d1, d2, d5  → new@1, retained@2, churned@3, resurrected@5
    // u2: d2          → new@2, churned@3
    // u3: d5          → new@5 (corpus ends d5: no churn emitted)
    val e = ev(Seq(
      (1L, 1L, "2024-01-01 10:00:00", "view"),
      (2L, 1L, "2024-01-02 10:00:00", "view"),
      (3L, 1L, "2024-01-02 11:00:00", "view"), // same day dedups
      (4L, 1L, "2024-01-05 10:00:00", "view"),
      (5L, 2L, "2024-01-02 10:00:00", "view"),
      (6L, 3L, "2024-01-05 10:00:00", "view")))
    val got = EventAnalytics.growthAccounting(e)
      .collect()
      .map(r => r.getDate(0).toString ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    assert(got("2024-01-01") === ((1L, 0L, 0L, 0L)))
    assert(got("2024-01-02") === ((1L, 1L, 0L, 0L)), "u1 retained, u2 new")
    assert(got("2024-01-03") === ((0L, 0L, 0L, 2L)),
      "u1 and u2 both failed to return on day 3")
    assert(got("2024-01-05") === ((1L, 0L, 1L, 0L)),
      "u1 resurrects, u3 is new")
    assert(!got.contains("2024-01-06"),
      "absence beyond the corpus' last day is unobservable, not churn")
  }

  test("rate spikes: burst over trailing mean fires, cold start and " +
      "beyond-window history don't, in-window gaps count as zero") {
    // type X, hours 0..6: six quiet hours then a 12-event burst
    val x = (0 to 5).map(h => (h.toLong, 1L,
        f"2024-01-01 $h%02d:15:00", "X")) ++
      (0 until 12).map(i => (100L + i, 1L, "2024-01-01 06:20:00", "X"))
    // type Y: a burst at hr 0, then nothing until hr 10 — the old burst
    // is OUTSIDE the 6h window, so hr 10 is a cold start, not a spike
    val y = (0 until 10).map(i => (200L + i, 1L, "2024-01-01 00:30:00", "Y")) ++
      Seq((300L, 1L, "2024-01-01 10:00:00", "Y"))
    // type Z: hr 2 then hr 8 — the empty hours 3-7 are INSIDE the
    // window and must count as zero (mean 1/hr, not 6/hr)
    val z = (0 until 6).map(i => (400L + i, 1L, "2024-01-01 02:45:00", "Z")) ++
      (0 until 6).map(i => (500L + i, 1L, "2024-01-01 08:45:00", "Z"))
    val out = EventAnalytics.rateSpikes(
        ev((x ++ y ++ z).map { case (id, u, t, ty) => (id, u, t, ty) }))
      .collect()
      .map(r => (r.getString(0), r.getLong(1) % 24, r.getLong(2),
        r.getLong(3), r.getBoolean(4)))
    def row(ty: String, hr: Long) =
      out.find(r => r._1 == ty && r._2 == hr).get
    assert(row("X", 6L) === (("X", 6L, 12L, 6L, true)),
      "12 events vs trailing mean 1/hr must spike")
    assert(row("X", 0L)._4 === -1L && !row("X", 0L)._5,
      "cold start: no trailing window, never a spike")
    assert(row("X", 1L) === (("X", 1L, 1L, 1L, false)),
      "partial baseline (1h of history, 6h window) must not flag")
    assert(row("Y", 10L)._4 === -1L && !row("Y", 10L)._5,
      "history beyond the 6h window must not feed the baseline")
    assert(row("Z", 8L) === (("Z", 8L, 6L, 6L, true)),
      "gap hours inside the window count as zero: mean is 1/hr")
  }

  test("position attribution: U-shape on a hand journey, remainder to " +
      "the earliest interior touch, only converting journeys credit") {
    val e = ev(Seq(
      // user 1 journey: v,c,v,c,v (n=5) then purchase
      (1L, 1L, "2024-01-01 10:00:00", "view"),
      (2L, 1L, "2024-01-01 10:01:00", "click"),
      (3L, 1L, "2024-01-01 10:02:00", "view"),
      (4L, 1L, "2024-01-01 10:03:00", "click"),
      (5L, 1L, "2024-01-01 10:04:00", "view"),
      (6L, 1L, "2024-01-01 10:05:00", "purchase"),
      // user 2: touches but NO purchase → zero credit
      (7L, 2L, "2024-01-01 11:00:00", "view"),
      (8L, 2L, "2024-01-01 11:01:00", "click")))
    val got = EventAnalytics.positionAttribution(e).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // n=5: rn1 view 4000, rn2 click 666+2, rn3 view 666, rn4 click 666,
    // rn5 view 4000 → view 8666+666=... view: 4000+666+4000=8666;
    // click: 668+666=1334; total 10000
    assert(got("view") === ((8666L, 3L)))
    assert(got("click") === ((1334L, 2L)))
    assert(got.values.map(_._1).sum === 10000L,
      "every converting journey sums to exactly 10000 bp")
    assert(!got.contains("signup") && got.size === 2,
      "non-converting journeys contribute nothing")
  }

  test("streaks: gap splits runs, same-day repeats collapse, equal best " +
      "streaks surface the earliest start") {
    val e = ev(Seq(
      // user 1: days 1,2,3 then gap, then 5,6 → best 3 starting day 1
      (1L, 1L, "2024-03-01 09:00:00", "view"),
      (2L, 1L, "2024-03-02 09:00:00", "view"),
      (3L, 1L, "2024-03-02 17:00:00", "click"), // same-day repeat
      (4L, 1L, "2024-03-03 09:00:00", "view"),
      (5L, 1L, "2024-03-05 09:00:00", "view"),
      (6L, 1L, "2024-03-06 09:00:00", "view"),
      // user 2: two 2-day runs (1-2, 9-10) → tie, earliest start wins
      (7L, 2L, "2024-03-01 09:00:00", "view"),
      (8L, 2L, "2024-03-02 09:00:00", "view"),
      (9L, 2L, "2024-03-09 09:00:00", "view"),
      (10L, 2L, "2024-03-10 09:00:00", "view"),
      // user 3: a single day
      (11L, 3L, "2024-03-04 12:00:00", "purchase")))
    val got = EventAnalytics.streaks(e).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDate(4).toString))
      .toMap
    assert(got(1L) === ((5L, 2L, 3L, "2024-03-01")))
    assert(got(2L) === ((4L, 2L, 2L, "2024-03-01")),
      "tied best streaks must surface the earliest start")
    assert(got(3L) === ((1L, 1L, 1L, "2024-03-04")))
  }

  /** Hand-built Kaplan–Meier table (12 h buckets): u1 converts in
    * bucket 0, u2 in bucket 1, u3 never (censored at the horizon), u4's
    * only purchase PRECEDES its signup (must not count as conversion).
    * Horizon = t0+25h → censor bucket 2. */
  test("survival: hand K-M table, pre-signup purchases ignored") {
    val e = ev(Seq(
      (1L, 1L, "2024-01-01 00:00:00", "signup"),
      (2L, 1L, "2024-01-01 01:00:00", "purchase"),   // bucket 0
      (3L, 2L, "2024-01-01 00:00:00", "signup"),
      (4L, 2L, "2024-01-01 13:00:00", "purchase"),   // bucket 1
      (5L, 3L, "2024-01-01 00:00:00", "signup"),     // never converts
      (6L, 4L, "2023-12-31 23:00:00", "purchase"),   // before signup
      (7L, 4L, "2024-01-01 00:00:00", "signup"),
      (8L, 1L, "2024-01-02 01:00:00", "view")))      // horizon t0+25h
    val got = EventAnalytics.survival(e)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq === Seq(
      (0L, 4L, 1L, 2500L),
      (1L, 3L, 1L, 3333L),
      (2L, 2L, 0L, 0L)))
  }

  /** Two-day window (halves = single days), five users exercising every
    * status arm: swap at the top (up/down), a newcomer, a dropout, and
    * a held rank-4. */
  test("topk movers: every status arm fires with exact ranks and cents") {
    import spark.implicits._
    import java.sql.Timestamp
    val rows = Seq(
      (1L, 1L, "2024-01-01 10:00:00", 100.00), // A h0 rank 1
      (2L, 1L, "2024-01-02 10:00:00", 50.00),  // A h1 rank 2 -> down
      (3L, 2L, "2024-01-01 10:00:00", 50.00),  // B h0 rank 2
      (4L, 2L, "2024-01-02 10:00:00", 100.00), // B h1 rank 1 -> up
      (5L, 3L, "2024-01-01 10:00:00", 20.00),  // C h0 rank 3 -> exited
      (6L, 4L, "2024-01-02 10:00:00", 20.00),  // D h1 rank 3 -> entered
      (7L, 5L, "2024-01-01 10:00:00", 10.00),  // E rank 4 both -> held
      (8L, 5L, "2024-01-02 10:00:00", 10.00))
      .map { case (id, uid, t, v) => (id, uid, Timestamp.valueOf(t), v) }
      .toDF("event_id", "user_id", "ts", "value")
    val got = EventAnalytics.topkMovers(rows, k = 10)
      .collect().map(r => (r.getLong(0), r.getString(5)))
    assert(got.toSeq === Seq(
      (2L, "up"), (1L, "down"), (4L, "entered"), (5L, "held"), (3L, "exited")))
  }

  /** Two overlapping sessions peak at 2 the instant the second starts;
    * a session ENDING exactly when another begins still overlaps at the
    * shared instant (the −1 lands at end+1 µs). */
  test("session concurrency: overlap peaks, touching boundaries count") {
    val e = ev(Seq(
      (1L, 1L, "2024-01-01 00:00:00", "view"),
      (2L, 1L, "2024-01-01 00:10:00", "view"),   // u1: [00:00, 00:10]
      (3L, 2L, "2024-01-01 00:05:00", "view"),
      (4L, 2L, "2024-01-01 00:20:00", "view"),   // u2: [00:05, 00:20]
      (5L, 4L, "2024-01-01 01:00:00", "view"),
      (6L, 4L, "2024-01-01 01:30:00", "view"),   // u4: [01:00, 01:30]
      (7L, 5L, "2024-01-01 01:30:00", "view")))  // u5 starts at u4's end
    val got = EventAnalytics.sessionConcurrency(e)
      .collect().map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2)))
    val t0005 = java.sql.Timestamp.valueOf("2024-01-01 00:05:00").getTime * 1000L
    assert(got.toSeq === Seq(("2024-01-01", 2L, t0005)))
  }

  /** Seasonal spikes: a 10×-burst on day 5 fires against the same-hour
    * baseline; steady days do not; gap days count as quiet evidence in
    * the denominator; fewer than 3 prior days never fires. */
  test("seasonal spikes: burst fires, steady and day-one do not, gaps count") {
    val rows = (0 to 4).map(d =>
      (d.toLong + 1, 100L + d, f"2024-01-0${d + 1}%d 09:00:00", "view")) ++ // X-ish steady user noise
      Seq.tabulate(5)(i => (50L + i, 200L, "2024-01-05 09:01:00", "view")) ++  // burst extra
      Seq((90L, 300L, "2024-01-01 10:00:00", "click"),
        (91L, 301L, "2024-01-05 10:00:00", "click"),
        (92L, 302L, "2024-01-05 10:01:00", "click"))
    val e = ev(rows)
    val got = EventAnalytics.seasonalSpikes(e)
      .collect().map(r => (r.getString(0), r.getDate(1).toString, r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    // view@09: days 1-4 have 1 event each, day 5 has 1+5 = 6:
    //   6·4 = 24 > 2·4 = 8 → fires with sum_prior 4
    // click@10: day 1 has 1, day 5 has 2: n_prior_days 4 (gap days
    //   count), 2·4 = 8 > 2·1 = 2 → fires with sum_prior 1
    assert(got === Seq(
      ("click", "2024-01-05", 10L, 2L, 4L, 1L),
      ("view", "2024-01-05", 9L, 6L, 4L, 4L)))
  }
}
