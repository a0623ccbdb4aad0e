package graft.ext.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured-Streaming surface (SURVEY.md §2.9 W4/W5).
  *
  * The transforms are written against an input DataFrame, so the SAME
  * code runs in batch (the oracle-checked `window_tumbling` /
  * `window_sessionize` twins apply equivalent logic) and on a stream
  * (`readStream`/`MemoryStream` in StreamingSpec). Watermarks bound
  * state: at 100 TB/day the tumbling aggregation state is
  * O(windows × keys), not O(events), and late events beyond the
  * watermark are dropped deterministically.
  */
object Streams {

  /** Full-precision epoch micros of a Timestamp. `getTime` truncates to
    * millis, and the fixture carries sub-millisecond micros — ordering
    * or gap math on millis would drift from the batch operators' exact
    * (µs ts, event_id) total order. */
  private[streaming] def tsMicros(t: java.sql.Timestamp): Long =
    Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000

  /** Inverse of [[tsMicros]]: a Timestamp carrying the full µs value. */
  private[streaming] def microsTs(us: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  /** W4 — tumbling 10-minute event-time windows with a 10-minute
    * watermark. Works on streaming or batch input with schema
    * (ts TIMESTAMP, event_type STRING, value DOUBLE, …). */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "10 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("bucket_ts"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** W4b — hopping 10-minute event-time windows sliding every 5
    * minutes: each event lands in exactly length/slide = 2 windows
    * (the streaming twin of the oracle-checked `window_hopping`).
    * The watermark still bounds state to O(open windows × keys): a
    * hopping window holds 2× the tumbling window count open, not 2×
    * the events. */
  def hoppingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "10 minutes", "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("bucket_ts"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** TS5 streaming twin — live OHLC candle building over tumbling
    * 1-day event-time windows: the same open/high/low/close/volume
    * contract as `rel/TimeSeries.ohlcDaily` (open/close = arg-min/max
    * on event_id, volume exact DECIMAL), maintained incrementally as
    * events arrive. min_by/max_by/sum are all declarative aggregates,
    * so state per open (day, type) window is ONE candle — counts and
    * partial extrema, not buffered events — and the 1-day watermark
    * closes state deterministically. Day key = the window start cast
    * to date (UTC session timezone ⇒ identical to `to_date(ts)` in the
    * batch twin, differential-pinned in StreamingSpec). */
  def ohlcStream(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 day")
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(min_by(col("value"), col("event_id")).as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max_by(col("value"), col("event_id")).as("close"),
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(12,2)")).as("vol_dec"))
      .select(col("window.start").cast("date").as("day"), col("event_type"),
        col("open"), col("high"), col("low"), col("close"),
        col("n_events"), col("vol_dec").cast("double").as("volume"))

  /** W5 — session windows via the built-in session_window (30-minute
    * inactivity gap). */
  def sessionWindows(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "30 minutes")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("session_window.start").as("session_start"),
        col("user_id"), col("n_events"))

  /** W5 — stateful dedup on event_id within the watermark. */
  def dedupStream(events: DataFrame): DataFrame =
    events.withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")

  /** W6 — stream-stream inner join with an event-time interval
    * condition: each purchase joins the same user's views from the
    * preceding 10 minutes (last-touch attribution). BOTH sides carry
    * watermarks and the join condition bounds event-time distance, so
    * each side's join state is finite: Spark evicts buffered rows once
    * the other side's watermark passes `purchase_ts − 10 min`. Without
    * the interval bound a stream-stream join must buffer forever — the
    * difference between O(window) and O(stream) state at 100 TB/day. */
  def purchaseAttribution(views: DataFrame, purchases: DataFrame,
      windowMinutes: Int = 10): DataFrame = {
    // watermark delay scales with the lookback: join state must hold a
    // view until the other side's watermark passes purchase − window
    val wm = s"${windowMinutes * 2} minutes"
    val v = views.select(col("user_id").as("v_user"),
        col("ts").as("view_ts"), col("event_id").as("view_id"))
      .withWatermark("view_ts", wm)
    val p = purchases.select(col("user_id").as("p_user"),
        col("ts").as("purchase_ts"), col("event_id").as("purchase_id"))
      .withWatermark("purchase_ts", wm)
    p.join(v, expr(
      s"""p_user = v_user AND
        |view_ts <= purchase_ts AND
        |view_ts >= purchase_ts - INTERVAL $windowMinutes MINUTES""".stripMargin))
      .select(col("p_user").as("user_id"), col("purchase_id"),
        col("view_id"), col("purchase_ts"), col("view_ts"))
  }

  /** W6b — the LEFT OUTER stream-stream interval join: purchases with
    * no qualifying view must still be emitted (with null view columns),
    * but only once the view-side watermark has passed the end of their
    * lookback window — before that, a matching view could still
    * arrive. Same bounded state as the inner join; the extra semantics
    * are the deferred null-emission, which StreamingSpec exercises by
    * advancing the watermark with a later batch and only then observing
    * the unmatched purchase. */
  def purchaseAttributionOuter(views: DataFrame, purchases: DataFrame,
      windowMinutes: Int = 10): DataFrame = {
    val wm = s"${windowMinutes * 2} minutes"
    val v = views.select(col("user_id").as("v_user"),
        col("ts").as("view_ts"), col("event_id").as("view_id"))
      .withWatermark("view_ts", wm)
    val p = purchases.select(col("user_id").as("p_user"),
        col("ts").as("purchase_ts"), col("event_id").as("purchase_id"))
      .withWatermark("purchase_ts", wm)
    p.join(v, expr(
      s"""p_user = v_user AND
        |view_ts <= purchase_ts AND
        |view_ts >= purchase_ts - INTERVAL $windowMinutes MINUTES""".stripMargin),
      "left_outer")
      .select(col("p_user").as("user_id"), col("purchase_id"),
        col("view_id"), col("purchase_ts"), col("view_ts"))
  }

  case class SessionInput(user_id: Long, ts: java.sql.Timestamp)
  case class SessionUpdate(user_id: Long, n_events: Long, closed: Boolean)

  /** Custom state-machine sessionization with mapGroupsWithState — the
    * escape hatch when session semantics outgrow session_window (e.g.
    * cross-field close conditions). Processing-time timeout closes idle
    * sessions. */
  def statefulSessionize(events: Dataset[SessionInput]): Dataset[SessionUpdate] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .mapGroupsWithState[Long, SessionUpdate](GroupStateTimeout.ProcessingTimeTimeout) {
        (userId: Long, rows: Iterator[SessionInput], state: GroupState[Long]) =>
          if (state.hasTimedOut) {
            val n = state.getOption.getOrElse(0L)
            state.remove()
            SessionUpdate(userId, n, closed = true)
          } else {
            val n = state.getOption.getOrElse(0L) + rows.size
            state.update(n)
            state.setTimeoutDuration("30 minutes")
            SessionUpdate(userId, n, closed = false)
          }
      }
  }

  /** OutputMode used by the spec's MemoryStream sink for the tumbling
    * aggregation. */
  val tumblingOutputMode: OutputMode = OutputMode.Update()

  case class FunnelEvent(user_id: Long, ts: java.sql.Timestamp,
      event_id: Long, event_type: String)
  case class StageAdvance(user_id: Long, stage: Int, stage_name: String,
      ts: java.sql.Timestamp)

  /** Streaming conversion funnel — the stateful twin of
    * `rel.EventAnalytics.funnel`. Per-user state is ONE Int (the
    * highest stage reached); each micro-batch replays its events in the
    * engine-wide (ts, event_id) total order and emits a StageAdvance
    * whenever the next stage's event type arrives. Equivalence with the
    * batch funnel (users reaching stage k = batch's stage-k count) holds
    * whenever per-user arrival order respects event time across
    * micro-batches — within a batch, order is restored by the sort.
    *
    * State expires `horizonMs` past the user's last activity (event-time
    * timeout against the watermark): an unbounded feed keeps
    * O(active users × 4 bytes), and an expired funnel resets — the
    * "convert within N days" semantics every real funnel carries. */
  def funnelAdvances(events: Dataset[FunnelEvent], stages: Seq[String],
      watermarkDelay: String = "10 minutes",
      horizonMs: Long = 24L * 3600 * 1000): Dataset[StageAdvance] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[Int, StageAdvance](
        OutputMode.Update(), GroupStateTimeout.EventTimeTimeout) {
        (userId, rows, state) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            var stage = state.getOption.getOrElse(0)
            val batch = rows.toVector.sortBy(r => (tsMicros(r.ts), r.event_id))
            val out = Vector.newBuilder[StageAdvance]
            batch.foreach { r =>
              if (stage < stages.length && r.event_type == stages(stage)) {
                stage += 1
                out += StageAdvance(userId, stage, stages(stage - 1), r.ts)
              }
            }
            if (stage > 0) {
              state.update(stage)
              state.setTimeoutTimestamp( // clamp: a small horizon could land ≤ watermark and crash
              math.max(batch.map(_.ts.getTime).max + horizonMs,
                state.getCurrentWatermarkMs() + 1))
            }
            out.result().iterator
          }
      }
  }

  /** The default stage chain, matching the batch `events_funnel`. */
  val FunnelStages: Seq[String] = Seq("view", "click", "purchase")

  case class BandedDoc(doc_id: Long, band: Int, bkey: Long, ts: java.sql.Timestamp)
  case class DupFlag(doc_id: Long, band: Int, dup_of: Option[Long])

  /** Streaming MinHash-LSH near-dup — the batch `Dedup` banding run as a
    * stateful stream, for ingest-time dedup of a document feed.
    *
    * Same sketch as the batch path (native `WordShingles` +
    * `MinHashSig`, B band keys per doc — all stateless codegen'd
    * expressions, so the narrow prefix streams through unchanged). The
    * bucket self-join of the batch pipeline becomes per-bucket state:
    * group by (band, bkey) and keep ONE long per bucket — the first
    * doc_id seen, the canonical. Every later doc landing in the bucket
    * is flagged `dup_of` that canonical, across batches. Exactly like
    * the batch LSH, a flag is a CANDIDATE (jaccard-verify downstream if
    * exactness matters); an exact duplicate collides in all B bands by
    * construction.
    *
    * State is O(active buckets × 8 bytes), not O(docs): the event-time
    * timeout drops a bucket once no doc has landed in it for
    * `stateHorizon` past the watermark — dedup-within-horizon, the only
    * sound contract for an unbounded feed. Streaming-only (the batch
    * twin is `Dedup.minhashPairsUnordered`); emitted per (doc, band) in Update
    * mode, B rows per doc.
    */
  def nearDupFlags(
      docs: DataFrame,
      watermarkDelay: String = "10 minutes",
      stateHorizonMs: Long = 10L * 60 * 1000): Dataset[DupFlag] = {
    import docs.sparkSession.implicits._
    import graft.ext.Dedup
    val rowsPerBand = Dedup.NumHashes / Dedup.NumBands
    docs
      .select(col("doc_id"), col("ts"),
        Dedup.bind(graft.functions.WordShingles.word_shingles(col("text"), 3)) { sh =>
          Dedup.bind(Dedup.minhashSignature(sh)) { sig =>
            transform(sequence(lit(0), lit(Dedup.NumBands - 1)), b =>
              struct(b.as("band"),
                xxhash64(slice(sig, b * rowsPerBand + 1, lit(rowsPerBand)))
                  .as("bkey")))
          }
        }.as("bands"))
      .select(col("doc_id"), col("ts"), explode(col("bands")).as("b"))
      .select(col("doc_id"), col("b.band").as("band"),
        col("b.bkey").as("bkey"), col("ts"))
      .withWatermark("ts", watermarkDelay)
      .as[BandedDoc]
      .groupByKey(r => (r.band, r.bkey))
      .flatMapGroupsWithState[Long, DupFlag](
        OutputMode.Update(), GroupStateTimeout.EventTimeTimeout) {
        case (_, rows, state) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            // doc_id order within the micro-batch pins which doc becomes
            // canonical when a batch introduces a bucket with several docs
            val batch = rows.toVector.sortBy(_.doc_id)
            var canonical = state.getOption
            val out = batch.map { r =>
              canonical match {
                case Some(c) if c != r.doc_id => DupFlag(r.doc_id, r.band, Some(c))
                case Some(_)                  => DupFlag(r.doc_id, r.band, None)
                case None =>
                  canonical = Some(r.doc_id); DupFlag(r.doc_id, r.band, None)
              }
            }
            state.update(canonical.get)
            state.setTimeoutTimestamp(
              batch.map(_.ts.getTime).max + stateHorizonMs)
            out.iterator
          }
      }
  }

  case class DailyPoint(user_id: Long, day: java.sql.Date, value: Double)

  /** Streaming calendar densify + forward fill — the stateful twin of
    * `rel.TimeSeries.fillForwardDaily`. Per-user state is (last emitted
    * day, last value); an arriving batch replays its (day, value)
    * points in day order and, before each, emits the GAP days carrying
    * the previous value — so the output stream, keyed by (user, day),
    * is exactly the batch operator's densified series up to each
    * user's latest event.
    *
    * Per-user daily reduction happens INSIDE the batch replay (last
    * event of the day wins by (ts, event_id), as in batch); state is
    * two scalars per user; the event-time timeout drops users idle past
    * the horizon — an unbounded feed holds O(active users) state and a
    * returning user restarts a fresh (un-bridged) series, the streaming
    * session-cut contract. */
  def fillForwardStream(events: Dataset[TransitionEvent2],
      watermarkDelay: String = "10 minutes",
      horizonMs: Long = 40L * 24 * 3600 * 1000): Dataset[DailyPoint] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[(Long, Double), DailyPoint](
        OutputMode.Update(), GroupStateTimeout.EventTimeTimeout) {
        (userId, rows, state) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val batch = rows.toVector.sortBy(r => (tsMicros(r.ts), r.event_id))
            // per-day last value within this batch; UTC epoch-day from
            // millis (NOT Timestamp→LocalDate, which reads the JVM
            // default zone and would drift from the batch op's
            // to_date-under-UTC-session days)
            val byDay = batch
              .groupBy(r => Math.floorDiv(r.ts.getTime, 86400000L))
              .toVector.sortBy(_._1)
              .map { case (d, rs) => (d, rs.last.value) }
            var (lastDay, lastVal) = state.getOption.getOrElse((Long.MinValue, 0.0))
            val out = Vector.newBuilder[DailyPoint]
            byDay.foreach { case (d, v) =>
              if (lastDay != Long.MinValue) {
                var g = lastDay + 1
                while (g < d) { // gap days carry the previous value
                  out += DailyPoint(userId, java.sql.Date.valueOf(
                    java.time.LocalDate.ofEpochDay(g)), lastVal)
                  g += 1
                }
              }
              out += DailyPoint(userId, java.sql.Date.valueOf(
                java.time.LocalDate.ofEpochDay(d)), v)
              lastDay = d; lastVal = v
            }
            if (lastDay != Long.MinValue) {
              state.update((lastDay, lastVal))
              state.setTimeoutTimestamp( // clamp: a small horizon could land ≤ watermark and crash
              math.max(batch.map(_.ts.getTime).max + horizonMs,
                state.getCurrentWatermarkMs() + 1))
            }
            out.result().iterator
          }
      }
  }

  case class PathEvent(user_id: Long, ts: java.sql.Timestamp,
      event_id: Long, event_type: String)
  case class SessionPath(user_id: Long, path: String, n_events: Long,
      last_ts: java.sql.Timestamp)

  /** Streaming session paths — the stateful twin of
    * `rel.EventAnalytics.topSessionPaths`' sessionize + path-join stage
    * (`sessionPathsBatch`). Per-user state is (last event time, the
    * current session's reversed type list); each micro-batch replays
    * its events in the engine-wide (ts, event_id) order, emitting a
    * completed SessionPath whenever the 30-minute inactivity gap is
    * crossed IN-BATCH, and the event-time timeout — set to exactly
    * lastTs + gap — emits the final open session once the watermark
    * passes the gap boundary, with no need for the user to ever return
    * (the session-gap timeout: a session closes when its gap elapses,
    * not when the next event happens to arrive).
    *
    * Downstream, `groupBy(path).count()` over the emitted stream is the
    * live top-paths board; each session is emitted exactly once, so the
    * counts match the batch operator's (differentially pinned in
    * StreamingSpec). State is O(active sessions × current-path bytes) —
    * watermark-bounded, never O(events). */
  def sessionPaths(events: Dataset[PathEvent],
      gapMs: Long = 30L * 60 * 1000,
      watermarkDelay: String = "10 minutes"): Dataset[SessionPath] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[(Long, List[String]), SessionPath](
        OutputMode.Update(), GroupStateTimeout.EventTimeTimeout) {
        (userId, rows, state) =>
          if (state.hasTimedOut) {
            val (lastUs, revPath) = state.get
            state.remove()
            Iterator.single(SessionPath(userId,
              revPath.reverse.mkString(">"), revPath.length.toLong,
              microsTs(lastUs)))
          } else {
            val batch = rows.toVector.sortBy(r => (tsMicros(r.ts), r.event_id))
            var (lastUs, revPath) =
              state.getOption.getOrElse((Long.MinValue, List.empty[String]))
            val out = Vector.newBuilder[SessionPath]
            batch.foreach { r =>
              val t = tsMicros(r.ts)
              // strict > gap starts a new session — the batch operator's
              // exact boundary rule (gap_us > 1800000000), in µs
              if (lastUs != Long.MinValue && t - lastUs > gapMs * 1000L) {
                out += SessionPath(userId, revPath.reverse.mkString(">"),
                  revPath.length.toLong, microsTs(lastUs))
                revPath = Nil
              }
              revPath = r.event_type :: revPath
              lastUs = t
            }
            if (lastUs != Long.MinValue) {
              state.update((lastUs, revPath))
              // a timeout must sit ahead of the current watermark; if
              // the gap boundary is already behind it (late stragglers),
              // close at the next batch instead of throwing. Ceil µs→ms
              // so the timer never fires before the µs gap elapses.
              state.setTimeoutTimestamp(
                math.max(Math.floorDiv(lastUs + 999, 1000) + gapMs,
                  state.getCurrentWatermarkMs() + 1))
            }
            out.result().iterator
          }
      }
  }

  case class PatternMatch(user_id: Long, n_views: Long,
      first_view_id: Long, click_event_id: Long)

  /** Streaming sequence matching — the stateful twin of
    * `rel.EventAnalytics.matchViewRunsThenClick` (`PATTERN (V+ C)`).
    * Per-user state is the OPEN view run as (count, first view id) —
    * two longs, O(1) per active user, never a buffered sequence (the
    * streaming form of the batch operator's "state is a row index"
    * claim). Each micro-batch replays its events in the engine-wide
    * (ts, event_id) order: a view extends (or starts) the run, a click
    * landing on a non-empty run emits the completed match, anything
    * else resets — matches stream out the moment their closing click
    * arrives, and a run open at a batch boundary continues seamlessly
    * in the next batch.
    *
    * State expires `horizonMs` past the user's last activity (the
    * transitionSteps discipline): unbounded feeds keep O(active users),
    * and a run cannot span the horizon — the documented streaming cut
    * that batch, with its total view of history, does not need. */
  def patternMatches(events: Dataset[TransitionEvent],
      watermarkDelay: String = "10 minutes",
      horizonMs: Long = 24L * 3600 * 1000): Dataset[PatternMatch] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[(Long, Long), PatternMatch](
        OutputMode.Update(), GroupStateTimeout.EventTimeTimeout) {
        (userId, rows, state) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val batch = rows.toVector.sortBy(r => (tsMicros(r.ts), r.event_id))
            var run = state.getOption.getOrElse((0L, 0L))
            val out = Vector.newBuilder[PatternMatch]
            batch.foreach { r =>
              r.event_type match {
                case "view" =>
                  run = if (run._1 == 0L) (1L, r.event_id)
                        else (run._1 + 1, run._2)
                case "click" if run._1 > 0L =>
                  out += PatternMatch(userId, run._1, run._2, r.event_id)
                  run = (0L, 0L)
                case _ =>
                  run = (0L, 0L)
              }
            }
            state.update(run)
            state.setTimeoutTimestamp( // clamp: a small horizon could land ≤ watermark and crash
              math.max(batch.map(_.ts.getTime).max + horizonMs,
                state.getCurrentWatermarkMs() + 1))
            out.result().iterator
          }
      }
  }

  case class TransitionEvent2(event_id: Long, user_id: Long,
      value: Double, ts: java.sql.Timestamp)

  case class RetentionInc(user_id: Long, cohort_day: java.sql.Date,
      day_offset: Long)

  /** Streaming cohort-retention increments — the stateful twin of
    * `rel.EventAnalytics.retention`: each user's FIRST processed
    * activity day anchors their cohort, and every newly seen activity
    * day emits one (cohort_day, day_offset) increment, so
    * `count(*) GROUP BY cohort_day, day_offset` over the emissions IS
    * the batch retention triangle (differential in StreamingSpec).
    * State per user is the cohort day plus the distinct active-day set
    * — O(days active within the horizon), the honest cost of EXACT
    * distinct-day retention (the sketch alternative is an HLL per
    * cell); the event-time horizon expires dormant users. Cohort
    * anchoring is exact when per-user arrival respects event-time
    * order across micro-batches (the repo-wide twin contract); UTC
    * epoch-day arithmetic matches the batch `to_date` under the UTC
    * session. */
  def retentionStream(events: Dataset[SessionInput],
      watermarkDelay: String = "10 minutes",
      horizonMs: Long = 365L * 24 * 3600 * 1000): Dataset[RetentionInc] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[(Long, List[Long]), RetentionInc](
        OutputMode.Update(), GroupStateTimeout.EventTimeTimeout) {
        (userId, rows, state) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val batch = rows.toVector.sortBy(r => tsMicros(r.ts))
            var (cohort, seen) =
              state.getOption.getOrElse((Long.MaxValue, List.empty[Long]))
            val out = Vector.newBuilder[RetentionInc]
            batch.foreach { r =>
              val day = Math.floorDiv(tsMicros(r.ts), 86400000000L)
              if (cohort == Long.MaxValue) cohort = day
              if (!seen.contains(day)) {
                seen = day :: seen
                out += RetentionInc(userId,
                  java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(cohort)),
                  day - cohort)
              }
            }
            state.update((cohort, seen))
            state.setTimeoutTimestamp( // clamp: a small horizon could land ≤ watermark and crash
              math.max(batch.map(_.ts.getTime).max + horizonMs,
                state.getCurrentWatermarkMs() + 1))
            out.result().iterator
          }
      }
  }

  case class ActiveUserInc(user_id: Long, day: java.sql.Date, kind: String)

  /** Streaming DAU/WAU increments — the stateful twin of
    * `rel.EventAnalytics.activeUsers`: for every FIRST event of a user
    * on a new activity day, emit one "dau" row for that day plus "wau"
    * rows for each trailing window the day newly contributes to, so
    * `count(*) GROUP BY day` over the "dau" (resp. "wau") emissions IS
    * the batch DAU (resp. WAU) series (differential in StreamingSpec).
    *
    * State per user is TWO scalars, not the distinct-day set: under the
    * repo-wide twin contract (per-user arrival respects event-time
    * order across micro-batches) activity days arrive non-decreasing,
    * so "is this (user, day) new?" collapses to `day > lastDay`, and
    * the already-emitted window contributions [day, day + w − 1] form a
    * contiguous suffix tracked by its upper end `maxWin` — the sliding
    * distinct-day window folded into (lastDay, maxWin). The batch
    * contribution-explode's dedup (`distinct` over (user, win_day))
    * becomes the `max(day, maxWin + 1)` lower bound here. Dormant
    * users expire on the event-time horizon like every other twin. */
  def activeUserStream(events: Dataset[SessionInput], w: Int = 7,
      watermarkDelay: String = "10 minutes",
      horizonMs: Long = 365L * 24 * 3600 * 1000): Dataset[ActiveUserInc] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[(Long, Long), ActiveUserInc](
        OutputMode.Update(), GroupStateTimeout.EventTimeTimeout) {
        (userId, rows, state) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val batch = rows.toVector.sortBy(r => tsMicros(r.ts))
            var (lastDay, maxWin) =
              state.getOption.getOrElse((Long.MinValue, Long.MinValue))
            def date(d: Long) =
              java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(d))
            val out = Vector.newBuilder[ActiveUserInc]
            batch.foreach { r =>
              val d = Math.floorDiv(tsMicros(r.ts), 86400000000L)
              if (d > lastDay) {
                out += ActiveUserInc(userId, date(d), "dau")
                var win = if (maxWin == Long.MinValue) d else math.max(d, maxWin + 1)
                while (win <= d + w - 1) {
                  out += ActiveUserInc(userId, date(win), "wau"); win += 1
                }
                lastDay = d; maxWin = d + w - 1
              }
            }
            state.update((lastDay, maxWin))
            state.setTimeoutTimestamp( // clamp: a small horizon could land ≤ watermark and crash
              math.max(batch.map(_.ts.getTime).max + horizonMs,
                state.getCurrentWatermarkMs() + 1))
            out.result().iterator
          }
      }
  }

  case class StreakUpdate(user_id: Long, n_active_days: Long,
      n_streaks: Long, best_streak: Long, best_start: java.sql.Date)

  /** Streaming consecutive-day streak counter — the stateful twin of
    * `rel.EventAnalytics.streaks`. State per user is five scalars
    * (lastDay, curLen, bestLen, bestStartDay, nStreaks); under the
    * repo-wide twin contract (per-user arrival respects event-time
    * order across micro-batches) a new activity day is just
    * `day > lastDay`, extending the run iff `day == lastDay + 1`. The
    * batch tie rule (equal best streaks keep the EARLIEST start) falls
    * out of the strict `curLen > bestLen` replacement, because runs
    * are visited in time order. Emits the user's full summary row
    * whenever it changes; the row with the max n_active_days per user
    * IS the batch row (differential in StreamingSpec). Dormant users
    * expire on the event-time horizon like every other twin. */
  def streakStream(events: Dataset[SessionInput],
      watermarkDelay: String = "10 minutes",
      horizonMs: Long = 365L * 24 * 3600 * 1000): Dataset[StreakUpdate] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[(Long, Long, Long, Long, Long, Long),
          StreakUpdate](
        OutputMode.Update(), GroupStateTimeout.EventTimeTimeout) {
        (userId, rows, state) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val batch = rows.toVector.sortBy(r => tsMicros(r.ts))
            var (lastDay, curLen, bestLen, bestStart, nStreaks, nActive) =
              state.getOption.getOrElse(
                (Long.MinValue, 0L, 0L, Long.MinValue, 0L, 0L))
            var changed = false
            batch.foreach { r =>
              val d = Math.floorDiv(tsMicros(r.ts), 86400000000L)
              if (d > lastDay) {
                nActive += 1
                if (lastDay != Long.MinValue && d == lastDay + 1) curLen += 1
                else { curLen = 1; nStreaks += 1 }
                lastDay = d
                if (curLen > bestLen) {
                  bestLen = curLen; bestStart = d - curLen + 1
                }
                changed = true
              }
            }
            state.update((lastDay, curLen, bestLen, bestStart, nStreaks,
              nActive))
            state.setTimeoutTimestamp(
              math.max(batch.map(_.ts.getTime).max + horizonMs,
                state.getCurrentWatermarkMs() + 1))
            if (changed)
              Iterator.single(StreakUpdate(userId, nActive, nStreaks, bestLen,
                java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(bestStart))))
            else Iterator.empty
          }
      }
  }

  case class CusumAlarm(user_id: Long, alarm_event_id: Long,
      cusum_cents: Long)

  /** Streaming one-sided CUSUM — the stateful twin of
    * `rel.TimeSeries.cusumAlarms`, and the inverse trade: the batch
    * operator needed the drawdown identity (prefix sum − running min
    * over OBSERVED rows) to avoid per-row recursion; streaming state
    * maintains that pair directly — (p, minp, alarmed), three scalars
    * of integer cents per user. Emits the FIRST threshold crossing per
    * user (the batch alarm row) and then arms a one-shot flag so later
    * crossings stay silent; state expires on the event-time horizon
    * like every other twin. Integer cents make the crossing
    * bit-identical to the batch DECIMAL comparison. */
  def cusumAlarmStream(events: Dataset[TransitionEvent2],
      targetCents: Long = 5000L, hCents: Long = 50000L,
      watermarkDelay: String = "10 minutes",
      horizonMs: Long = 365L * 24 * 3600 * 1000): Dataset[CusumAlarm] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[(Long, Long, Boolean), CusumAlarm](
        OutputMode.Update(), GroupStateTimeout.EventTimeTimeout) {
        (userId, rows, state) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val batch = rows.toVector.sortBy(r => (tsMicros(r.ts), r.event_id))
            var (p, minp, alarmed) =
              state.getOption.getOrElse((0L, Long.MaxValue, false))
            val out = Vector.newBuilder[CusumAlarm]
            batch.foreach { r =>
              // exact cents matching the batch DECIMAL(12,2) cast's
              // HALF_UP (= half AWAY from zero) — math.round would round
              // half toward +infinity, diverging on negative .xx5 values
              val cents = java.math.BigDecimal.valueOf(r.value)
                .setScale(2, java.math.RoundingMode.HALF_UP)
                .unscaledValue().longValueExact()
              p += cents - targetCents
              minp = math.min(minp, p) // running min over OBSERVED rows
              val cusum = p - minp
              if (!alarmed && cusum >= hCents) {
                alarmed = true
                out += CusumAlarm(userId, r.event_id, cusum)
              }
            }
            state.update((p, minp, alarmed))
            state.setTimeoutTimestamp( // clamp: a small horizon could land ≤ watermark and crash
              math.max(batch.map(_.ts.getTime).max + horizonMs,
                state.getCurrentWatermarkMs() + 1))
            out.result().iterator
          }
      }
  }

  case class TypedValueEvent(event_id: Long, event_type: String,
      ts: java.sql.Timestamp, value: Double)
  case class ForecastErr(event_type: String, day: java.sql.Date,
      abs_err_weekly: Option[Long], abs_err_daily: Option[Long])

  /** Streaming forecast-error accounting — the stateful twin of
    * `rel.TimeSeries.forecastEval`'s two arms. State per event type is
    * (open day, open day's running cents, closed-day totals for the
    * trailing 7 days); a day is FINALIZED when a later day's first
    * event arrives, at which point its seasonal-naive (d−7) and
    * persistence (d−1) absolute errors emit if the lag day is on
    * record. Cents per event round exactly like the batch
    * DECIMAL(12,2) cast (HALF_UP — half away from zero), day totals
    * are exact BIGINT sums, so streamed errors ≡ the batch arms on
    * every day the stream has closed (the fill-forward "up to each
    * key's latest event" contract; the trailing-map prune keeps
    * exactly the 7 days the next close can reference). State is ≤ 9
    * longs per event type — O(active types), horizon-expired. */
  def forecastErrorStream(events: Dataset[TypedValueEvent],
      watermarkDelay: String = "10 minutes",
      horizonMs: Long = 365L * 24 * 3600 * 1000): Dataset[ForecastErr] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[(Long, Long, Map[Long, Long]), ForecastErr](
        OutputMode.Update(), GroupStateTimeout.EventTimeTimeout) {
        (etype, rows, state) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val batch = rows.toVector.sortBy(r => (tsMicros(r.ts), r.event_id))
            def cents(v: Double) = java.math.BigDecimal.valueOf(v)
              .setScale(2, java.math.RoundingMode.HALF_UP)
              .unscaledValue().longValueExact()
            val byDay = batch
              .groupBy(r => Math.floorDiv(r.ts.getTime, 86400000L))
              .toVector.sortBy(_._1)
              .map { case (d, rs) => (d, rs.map(r => cents(r.value)).sum) }
            var (openDay, openCents, closed) =
              state.getOption.getOrElse((Long.MinValue, 0L, Map.empty[Long, Long]))
            val out = Vector.newBuilder[ForecastErr]
            byDay.foreach { case (d, c) =>
              if (openDay == Long.MinValue) { openDay = d; openCents = c }
              else if (d == openDay) openCents += c
              else {
                val w = closed.get(openDay - 7).map(f => math.abs(openCents - f))
                val p = closed.get(openDay - 1).map(f => math.abs(openCents - f))
                if (w.isDefined || p.isDefined)
                  out += ForecastErr(etype, java.sql.Date.valueOf(
                    java.time.LocalDate.ofEpochDay(openDay)), w, p)
                // retain exactly what the NEXT close (day ≥ d) can cite
                closed = (closed + (openDay -> openCents)).filter(_._1 >= d - 7)
                openDay = d; openCents = c
              }
            }
            state.update((openDay, openCents, closed))
            state.setTimeoutTimestamp( // clamp: a small horizon could land ≤ watermark and crash
              math.max(batch.map(_.ts.getTime).max + horizonMs,
                state.getCurrentWatermarkMs() + 1))
            out.result().iterator
          }
      }
  }

  case class StaleAlarm(event_type: String, last_us: Long)

  /** Streaming feed-staleness alarms — the absence-detection twin of
    * `rel.Quality.freshness`, and the second pure EVENT-TIME-TIMER op
    * beside cart abandonment: a dead upstream topic emits NOTHING, so
    * only a timer can observe it. Per-type state is one scalar (the
    * last event-time micros); every event re-arms the timer at
    * last + maxLag, and the timer firing IS the alarm — the watermark
    * has proven the topic silent for the full bound. Alarmed types
    * drop state; a later event resumes tracking fresh, so one alarm
    * row marks each maximal silence episode (its `last_us` is the
    * episode's silence start — the batch report's last-seen column for
    * the terminal episode, the differential key in StreamingSpec). */
  def freshnessStream(events: Dataset[TypedValueEvent],
      watermarkDelay: String = "10 minutes",
      maxLagMs: Long = 48L * 3600 * 1000): Dataset[StaleAlarm] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[Long, StaleAlarm](
        OutputMode.Update(), GroupStateTimeout.EventTimeTimeout) {
        (etype, rows, state) =>
          if (state.hasTimedOut) {
            val lastUs = state.get
            state.remove()
            Iterator.single(StaleAlarm(etype, lastUs))
          } else {
            val lastUs = (rows.map(r => tsMicros(r.ts)) ++
              state.getOption.iterator).max
            state.update(lastUs)
            state.setTimeoutTimestamp(
              math.max(lastUs / 1000 + maxLagMs,
                state.getCurrentWatermarkMs() + 1))
            Iterator.empty
          }
      }
  }

  case class AbandonVerdict(user_id: Long, last_click_id: Long,
      click_ts: java.sql.Timestamp, abandoned: Boolean)

  /** Streaming cart-abandonment — the stateful twin of
    * `rel.EventAnalytics.abandonment`, and the canonical EVENT-TIME-TIMER
    * use case: the interesting output (abandoned = true) is triggered by
    * the ABSENCE of an event, which only a timer can observe. Per-user
    * state is ONE pending episode (last click id + its event-time
    * micros): a newer click supersedes it silently (batch semantics —
    * only the LAST click is ever reported), a purchase inside
    * (click, click+bound] emits a converted verdict and clears it, and
    * the event-time timer at click+bound fires exactly when the
    * watermark proves no purchase can still arrive in bound — emitting
    * the abandoned verdict with no event at all. O(active users × one
    * pair) state; every state entry carries a timer, so state is
    * self-expiring even for users who never return.
    *
    * Each emission is one episode's FINAL verdict, so replaying a finite
    * log and keeping each user's verdict for the max (click_ts, click_id)
    * — the engine-wide total order the batch operator keys on — must
    * reproduce `abandonment` row-for-row (differential in StreamingSpec). */
  def abandonmentVerdicts(events: Dataset[TransitionEvent],
      watermarkDelay: String = "10 minutes",
      boundMs: Long = 24L * 3600 * 1000): Dataset[AbandonVerdict] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[(Long, Long), AbandonVerdict](
        OutputMode.Update(), GroupStateTimeout.EventTimeTimeout) {
        (userId, rows, state) =>
          if (state.hasTimedOut) {
            // the timer IS the verdict: bound passed, no purchase came
            val (clickId, clickUs) = state.get
            state.remove()
            Iterator.single(AbandonVerdict(userId, clickId,
              microsTs(clickUs), abandoned = true))
          } else {
            val batch = rows.toVector.sortBy(r => (tsMicros(r.ts), r.event_id))
            var pending = state.getOption // (last_click_id, click_us)
            val out = Vector.newBuilder[AbandonVerdict]
            batch.foreach { r =>
              r.event_type match {
                case "click" =>
                  pending = Some((r.event_id, tsMicros(r.ts)))
                case "purchase" =>
                  pending.foreach { case (clickId, clickUs) =>
                    val pUs = tsMicros(r.ts)
                    // exclusive-then-inclusive, the batch operator's
                    // exact µs bound
                    if (pUs > clickUs && pUs - clickUs <= boundMs * 1000L) {
                      out += AbandonVerdict(userId, clickId,
                        microsTs(clickUs), abandoned = false)
                      pending = None
                    }
                  }
                case _ => ()
              }
            }
            pending match {
              case Some((clickId, clickUs)) =>
                state.update((clickId, clickUs))
                // ceil µs→ms: the timer must not fire before the µs
                // bound has fully elapsed
                state.setTimeoutTimestamp(
                  Math.floorDiv(clickUs + 999, 1000) + boundMs)
              case None => state.remove()
            }
            out.result().iterator
          }
      }
  }

  case class TransitionEvent(event_id: Long, user_id: Long,
      event_type: String, ts: java.sql.Timestamp)
  case class Transition(user_id: Long, prev_type: String,
      event_type: String, ts: java.sql.Timestamp)

  case class AbEvent(event_id: Long, user_id: Long, event_type: String,
      value: Double, ts: java.sql.Timestamp)
  case class AbInc(user_id: Long, variant: Int, kind: String)

  /** Streaming experiment enrolment/conversion increments — the
    * stateful twin of `rel.EventAnalytics.abTest`, because a live
    * experiment IS a stream: the dashboard wants the running n/c per
    * arm, not the next batch sweep. State per user is TWO booleans
    * (enrolled, converted): the first event emits one "user" increment
    * for the user's parity arm, the first qualifying high-value
    * purchase emits one "conv" increment; counting increments per
    * (variant, kind) reproduces the batch readout's exact n₀/c₀/n₁/c₁
    * — and therefore its exact-rational z² — at any point in the
    * stream. Variant is `user_id % 2` with the batch's sign semantics.
    * Horizon-expired like every twin. */
  def abTestStream(events: Dataset[AbEvent], minValue: Double = 200.0,
      watermarkDelay: String = "10 minutes",
      horizonMs: Long = 365L * 24 * 3600 * 1000): Dataset[AbInc] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[(Boolean, Boolean), AbInc](
        OutputMode.Update(), GroupStateTimeout.EventTimeTimeout) {
        (userId, rows, state) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val batch = rows.toVector.sortBy(r => (tsMicros(r.ts), r.event_id))
            var (enrolled, converted) =
              state.getOption.getOrElse((false, false))
            val variant = (userId % 2).toInt
            val out = Vector.newBuilder[AbInc]
            batch.foreach { r =>
              if (!enrolled) {
                out += AbInc(userId, variant, "user"); enrolled = true
              }
              if (!converted && r.event_type == "purchase"
                  && r.value >= minValue) {
                out += AbInc(userId, variant, "conv"); converted = true
              }
            }
            state.update((enrolled, converted))
            state.setTimeoutTimestamp(
              math.max(batch.map(_.ts.getTime).max + horizonMs,
                state.getCurrentWatermarkMs() + 1))
            out.result().iterator
          }
      }
  }

  case class FunnelLatency(user_id: Long, view_to_click_us: Long,
      click_to_purchase_us: Long, total_us: Long)

  /** Streaming conversion-latency verdicts — the stateful twin of
    * `rel.EventAnalytics.funnelLatency`: per-user state is THREE
    * scalars (first view µs, first qualifying click µs, emitted flag).
    * Under ordered per-user arrival the batch's running-conditional-MIN
    * anchors collapse to first-arrival assignments: the first view
    * sets the anchor, the first click AFTER a view qualifies, the
    * first purchase AFTER a qualifying click emits the latency row —
    * once, the moment the user converts (the batch row, but at event
    * time instead of at the next batch sweep). Horizon-expired like
    * every twin. */
  def funnelLatencyStream(events: Dataset[TransitionEvent],
      watermarkDelay: String = "10 minutes",
      horizonMs: Long = 365L * 24 * 3600 * 1000): Dataset[FunnelLatency] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[(Long, Long, Boolean), FunnelLatency](
        OutputMode.Update(), GroupStateTimeout.EventTimeTimeout) {
        (userId, rows, state) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val batch = rows.toVector.sortBy(r => (tsMicros(r.ts), r.event_id))
            var (v, c, done) =
              state.getOption.getOrElse((Long.MinValue, Long.MinValue, false))
            val out = Vector.newBuilder[FunnelLatency]
            batch.foreach { r =>
              val us = tsMicros(r.ts)
              r.event_type match {
                case "view" if v == Long.MinValue => v = us
                case "click" if v != Long.MinValue && c == Long.MinValue =>
                  c = us
                case "purchase" if c != Long.MinValue && !done =>
                  out += FunnelLatency(userId, c - v, us - c, us - v)
                  done = true
                case _ => ()
              }
            }
            // no view yet ⇒ (MinValue, MinValue, false) is
            // indistinguishable from absent state — don't create an
            // entry per user ever seen (the funnelAdvances stage-0
            // guard; an unbounded feed keeps O(users in the funnel))
            if (v != Long.MinValue) {
              state.update((v, c, done))
              state.setTimeoutTimestamp(
                math.max(batch.map(_.ts.getTime).max + horizonMs,
                  state.getCurrentWatermarkMs() + 1))
            }
            out.result().iterator
          }
      }
  }

  case class GrowthInc(user_id: Long, day: java.sql.Date, kind: String)

  /** Streaming growth-accounting increments — the stateful twin of
    * `rel.EventAnalytics.growthAccounting`. Per-user state is TWO
    * scalars (lastDay, churnEmitted): under ordered per-user arrival,
    * today's classification needs only the previous active day (none →
    * new, yesterday → retained, earlier → resurrected), and the gap
    * that proves a churn is observed EITHER by the next event (the
    * user returns after skipping days — emit the churned(lastDay+1)
    * the batch op derives from lead()) OR by the event-time timer when
    * the watermark passes the end of lastDay+1 with no return — churn
    * as an absence event, the abandonment-timer pattern. The flag
    * stops the two observers from double-emitting the same churn.
    * Aggregating increments by (day, kind) reproduces the batch ledger
    * on its observable window (the batch clamps churn at the corpus'
    * last day; a live stream keeps observing). */
  def growthStream(events: Dataset[SessionInput],
      watermarkDelay: String = "10 minutes",
      horizonMs: Long = 365L * 24 * 3600 * 1000): Dataset[GrowthInc] = {
    import events.sparkSession.implicits._
    def date(d: Long) =
      java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(d))
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[(Long, Boolean), GrowthInc](
        OutputMode.Update(), GroupStateTimeout.EventTimeTimeout) {
        (userId, rows, state) =>
          if (state.hasTimedOut) {
            val (lastDay, churned) = state.get
            if (churned) { // horizon expiry: the churn was already
              state.remove() // observed — a gone user holds no state
              Iterator.empty
            } else {
              val out = Iterator.single(
                GrowthInc(userId, date(lastDay + 1), "churned"))
              state.update((lastDay, true))
              state.setTimeoutTimestamp( // horizon expiry for a gone user
                state.getCurrentWatermarkMs() + horizonMs)
              out
            }
          } else {
            val batch = rows.toVector.sortBy(r => tsMicros(r.ts))
            var (lastDay, churned) = state.getOption.getOrElse((Long.MinValue, true))
            val out = Vector.newBuilder[GrowthInc]
            batch.foreach { r =>
              val d = Math.floorDiv(tsMicros(r.ts), 86400000000L)
              if (lastDay == Long.MinValue) {
                out += GrowthInc(userId, date(d), "new")
                lastDay = d; churned = false
              } else if (d > lastDay) {
                if (d == lastDay + 1) out += GrowthInc(userId, date(d), "retained")
                else {
                  // the gap itself proves the missed day — emit the
                  // churn the timer hasn't already observed
                  if (!churned)
                    out += GrowthInc(userId, date(lastDay + 1), "churned")
                  out += GrowthInc(userId, date(d), "resurrected")
                }
                lastDay = d; churned = false
              }
            }
            state.update((lastDay, churned))
            state.setTimeoutTimestamp( // fire when lastDay+1 ends with
              // no return; clamp like every other twin
              math.max((lastDay + 2) * 86400000L,
                state.getCurrentWatermarkMs() + 1))
            out.result().iterator
          }
      }
  }

  case class SpikeVerdict(event_type: String, hr: Long, n: Long,
      trailing_n: Long, spike: Boolean)

  /** Per-type spike state: the OPEN hour's running count plus the last
    * ≤ w CLOSED (hour, count) pairs — exactly the trailing baseline the
    * batch RANGE frame reads, as two parallel Seqs (encoder-friendly).
    * `curHr == Long.MinValue` means no hour is open. */
  case class SpikeState(firstHr: Long, curHr: Long, curN: Long,
      hrs: Seq[Long], ns: Seq[Long])

  /** Streaming rate-spike verdicts — the stateful twin of
    * `rel.EventAnalytics.rateSpikes`, and the op whose natural home IS
    * the stream: the on-call monitor wants the verdict when the hour
    * closes, not at the next batch sweep. Keyed by event_type; an
    * hour's verdict is emitted the moment it can no longer change —
    * when a later-hour event arrives for the type (per-key event-time
    * ordering is the repo-wide twin contract) or when the watermark
    * passes the hour's end (the event-time timer, for a type that goes
    * quiet). Gap hours emit nothing, exactly like the batch relation;
    * the trailing baseline spans them by HOUR INDEX, so the state is
    * the last ≤ w observed (hour, count) pairs + the open hour's count
    * — bounded scalars per type, never an event buffer. The spike
    * decision replays the batch integers: `den·n·w > num·Σtrail`,
    * unflaggable until the baseline window sits fully inside the
    * type's history (`hr ≥ firstHr + w`). Once an idle type's open
    * hour is timer-closed, the next timeout (horizon) removes the
    * state. */
  def spikeStream(events: Dataset[TransitionEvent], w: Int = 6,
      num: Int = 5, den: Int = 2,
      watermarkDelay: String = "10 minutes",
      horizonMs: Long = 365L * 24 * 3600 * 1000): Dataset[SpikeVerdict] = {
    import events.sparkSession.implicits._
    def verdict(etype: String, s: SpikeState): SpikeVerdict = {
      val inWin = s.hrs.zip(s.ns)
        .filter { case (h, _) => h >= s.curHr - w && h <= s.curHr - 1 }
      val trail = if (inWin.isEmpty) -1L else inWin.map(_._2).sum
      SpikeVerdict(etype, s.curHr, s.curN, trail,
        inWin.nonEmpty && s.curHr >= s.firstHr + w &&
          s.curN * (den.toLong * w) > trail * num)
    }
    def close(s: SpikeState, nextLowestHr: Long): SpikeState = {
      // retain only closed hours a FUTURE verdict (hour ≥ nextLowestHr)
      // can still read: hr ≥ nextLowestHr − w
      val kept = (s.hrs.zip(s.ns) :+ (s.curHr, s.curN))
        .filter { case (h, _) => h >= nextLowestHr - w }
      SpikeState(s.firstHr, Long.MinValue, 0L, kept.map(_._1), kept.map(_._2))
    }
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[SpikeState, SpikeVerdict](
        OutputMode.Update(), GroupStateTimeout.EventTimeTimeout) {
        (etype, rows, state) =>
          if (state.hasTimedOut) {
            val s = state.get
            if (s.curHr == Long.MinValue) { state.remove(); Iterator.empty }
            else {
              // watermark passed the open hour's end: it is final
              val out = verdict(etype, s)
              state.update(close(s, s.curHr + 1))
              state.setTimeoutTimestamp( // horizon expiry for an idle type
                state.getCurrentWatermarkMs() + horizonMs)
              Iterator.single(out)
            }
          } else {
            val batch = rows.toVector.sortBy(r => tsMicros(r.ts))
            var s = state.getOption.getOrElse(
              SpikeState(Long.MinValue, Long.MinValue, 0L, Nil, Nil))
            val out = Vector.newBuilder[SpikeVerdict]
            batch.foreach { r =>
              val h = Math.floorDiv(tsMicros(r.ts), 3600000000L)
              if (s.curHr == Long.MinValue)
                s = SpikeState(
                  if (s.firstHr == Long.MinValue) h else s.firstHr,
                  h, 1L, s.hrs, s.ns)
              else if (h == s.curHr) s = s.copy(curN = s.curN + 1)
              else { // h > curHr under ordered per-key arrival
                out += verdict(etype, s)
                s = close(s, h).copy(curHr = h, curN = 1L)
              }
            }
            state.update(s)
            state.setTimeoutTimestamp( // close the open hour when the
              // watermark passes its end; clamp like every other twin
              math.max((s.curHr + 1) * 3600000L,
                state.getCurrentWatermarkMs() + 1))
            out.result().iterator
          }
      }
  }

  /** Streaming event-type transitions — the stateful twin of
    * `rel.TimeSeries.eventTransitions`. Per-user state is ONE string
    * (the last event type seen); each arriving event emits its
    * (prev → curr) step and advances the state, with micro-batch
    * replays ordered by (ts, event_id) — the batch operator's exact
    * window order. Aggregating the emitted steps by (prev, curr)
    * reproduces the batch transition matrix whenever per-user event
    * time respects batch boundaries (differentially pinned in
    * StreamingSpec).
    *
    * State expires `horizonMs` past the user's last activity: unbounded
    * feeds keep O(active users × one tag), and a user returning after
    * the horizon starts a fresh chain — no cross-horizon transition,
    * the streaming analogue of a session cut. */
  def transitionSteps(events: Dataset[TransitionEvent],
      watermarkDelay: String = "10 minutes",
      horizonMs: Long = 24L * 3600 * 1000): Dataset[Transition] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[String, Transition](
        OutputMode.Update(), GroupStateTimeout.EventTimeTimeout) {
        (userId, rows, state) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val batch = rows.toVector.sortBy(r => (tsMicros(r.ts), r.event_id))
            var prev = state.getOption
            val out = Vector.newBuilder[Transition]
            batch.foreach { r =>
              prev.foreach(p => out += Transition(userId, p, r.event_type, r.ts))
              prev = Some(r.event_type)
            }
            prev.foreach { p =>
              state.update(p)
              state.setTimeoutTimestamp( // clamp: a small horizon could land ≤ watermark and crash
              math.max(batch.map(_.ts.getTime).max + horizonMs,
                state.getCurrentWatermarkMs() + 1))
            }
            out.result().iterator
          }
      }
  }

  case class PitEvent(event_id: Long, user_id: Long, event_type: String,
      value: Double, ts: java.sql.Timestamp)
  case class PitFeature(event_id: Long, user_id: Long,
      f_last_view_value: Option[Double], f_last_click_value: Option[Double],
      f_signed_up: Boolean, f_errors_30m: Long)

  /** Streaming point-in-time feature enrichment — the stateful twin of
    * `rel.AdvancedJoins.pitFeatures`, because feature serving IS a
    * stream: the label event wants its feature vector the moment it
    * arrives, not at the next batch sweep. State per user is the
    * feature state itself: last view value, last click value,
    * signup-seen flag, plus the error timestamps still inside the
    * 30-minute trailing window (pruned each batch — O(errors in 30
    * min), never unbounded history). Each micro-batch replays in the
    * engine-wide (ts, event_id) order; a purchase reads view/click/
    * signup from the STRICTLY-PRIOR walk (the batch op's equal-ts
    * smaller-id rule falls out of the sort) while the error count
    * scans all errors with ets ∈ [ts − 30 min, ts] — including
    * equal-ts later-id errors, exactly the batch RANGE frame. Exact
    * under the repo-wide twin contract (per-user event-time order
    * across micro-batches). Unlike the episodic twins, feature state
    * is LONG-LIVED by design (a feature store's user profile), so the
    * horizon defaults to 90 days and only GCs truly dormant users —
    * expiry resets their vector, the documented cut vs batch. */
  def pitFeatureStream(events: Dataset[PitEvent],
      watermarkDelay: String = "10 minutes",
      horizonMs: Long = 90L * 24 * 3600 * 1000): Dataset[PitFeature] = {
    import events.sparkSession.implicits._
    val windowUs = 1800000000L
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[
        (Option[Double], Option[Double], Boolean, List[Long]), PitFeature](
        OutputMode.Update(), GroupStateTimeout.EventTimeTimeout) {
        (userId, rows, state) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val batch = rows.toVector.sortBy(r => (tsMicros(r.ts), r.event_id))
            var (lastView, lastClick, signedUp, errs) =
              state.getOption.getOrElse(
                (None: Option[Double], None: Option[Double], false,
                  Nil: List[Long]))
            // the RANGE frame sees every error with ets <= purchase ts,
            // equal-ts later-id included: collect the batch's errors up
            // front, filter per purchase
            val allErrs = errs ++ batch
              .filter(_.event_type == "error").map(r => tsMicros(r.ts))
            val out = Vector.newBuilder[PitFeature]
            batch.foreach { r =>
              r.event_type match {
                case "purchase" =>
                  val ts = tsMicros(r.ts)
                  out += PitFeature(r.event_id, userId, lastView, lastClick,
                    signedUp,
                    allErrs.count(e => e >= ts - windowUs && e <= ts).toLong)
                case _ => ()
              }
              r.event_type match {
                case "view"   => lastView = Some(r.value)
                case "click"  => lastClick = Some(r.value)
                case "signup" => signedUp = true
                case _        => ()
              }
            }
            val maxUs = tsMicros(batch.last.ts)
            state.update((lastView, lastClick, signedUp,
              allErrs.filter(_ > maxUs - windowUs)))
            state.setTimeoutTimestamp( // clamp: a small horizon could land ≤ watermark and crash
              math.max(batch.map(_.ts.getTime).max + horizonMs,
                state.getCurrentWatermarkMs() + 1))
            out.result().iterator
          }
      }
  }

  case class LatenessInc(event_type: String, late_us: Long)

  /** Streaming lateness increments — the stateful twin of
    * `rel.Quality.latenessAudit`, and the one op that is MORE natural
    * streamed than batched: the batch side must reconstruct ingest
    * order from event_id, while a stream observes it. State per type is
    * ONE scalar (the event-time high-water mark); every event emits its
    * exact lateness against it (0 when on time). Aggregating increments
    * per type (count, count>0, max, sum) reproduces the batch audit —
    * the differential pins it — and the same aggregate windowed by
    * processing time is the live lateness dashboard that tunes
    * `withWatermark`. */
  def latenessStream(events: Dataset[PathEvent]): Dataset[LatenessInc] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[Long, LatenessInc](
        OutputMode.Update(), GroupStateTimeout.NoTimeout) {
        (etype, rows, state) =>
          // ingest order within the micro-batch = event_id (the log's
          // arrival sequence — the batch op's ordering contract)
          val batch = rows.toVector.sortBy(_.event_id)
          var hwm = state.getOption.getOrElse(Long.MinValue)
          val out = batch.map { r =>
            val us = tsMicros(r.ts)
            val late = if (hwm == Long.MinValue) 0L else math.max(hwm - us, 0L)
            if (us > hwm) hwm = us
            LatenessInc(etype, late)
          }
          state.update(hwm)
          out.iterator
      }
  }

  case class SeasonalSpike(event_type: String, day: java.sql.Date,
      hr: Long, n: Long, n_prior_days: Long, sum_prior: Long)

  /** Streaming seasonal-baseline anomalies — the stateful twin of
    * `rel.EventAnalytics.seasonalSpikes`. Keyed by (type, hour); state
    * is FOUR scalars (first day, Σ prior closed-day counts, open day,
    * open count). A day closes when a later day's event arrives for the
    * key (ordered per-key arrival) or when the event-time timer passes
    * the open day's end — the verdict n·n_prior_days > 2·sum_prior
    * evaluates ON CLOSE with the calendar-distance denominator, exactly
    * the batch rule, then the day folds into the baseline. Gap days
    * need no rows on either side: the calendar distance carries them. */
  def seasonalSpikeStream(events: Dataset[PathEvent],
      watermarkDelay: String = "10 minutes"): Dataset[SeasonalSpike] = {
    import events.sparkSession.implicits._
    def dayOf(us: Long): Long = Math.floorDiv(us, 86400000000L)
    def hourOf(us: Long): Long = Math.floorDiv(us, 3600000000L) % 24
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(e => (e.event_type, hourOf(tsMicros(e.ts))))
      .flatMapGroupsWithState[(Long, Long, Long, Long), SeasonalSpike](
        OutputMode.Update(), GroupStateTimeout.EventTimeTimeout) {
        case ((etype, hr), rows, state) =>
          def verdict(firstDay: Long, sumPrior: Long, day: Long,
              cnt: Long): Option[SeasonalSpike] = {
            val nPrior = day - firstDay
            if (nPrior >= 3 && cnt * nPrior > sumPrior * 2)
              Some(SeasonalSpike(etype,
                new java.sql.Date(day * 86400000L), hr, cnt, nPrior, sumPrior))
            else None
          }
          if (state.hasTimedOut) {
            // close the open day but KEEP the key's baseline — the
            // watermark passing a quiet day must not reset first-day
            // history (gap days are evidence, not amnesia)
            val (firstDay, sumPrior, curDay, curCount) = state.get
            if (curDay == Long.MinValue) Iterator.empty
            else {
              val v = verdict(firstDay, sumPrior, curDay, curCount)
              state.update((firstDay, sumPrior + curCount, Long.MinValue, 0L))
              v.iterator
            }
          } else {
            val batch = rows.toVector.sortBy(r => (tsMicros(r.ts), r.event_id))
            var (firstDay, sumPrior, curDay, curCount) =
              state.getOption.getOrElse((Long.MinValue, 0L, Long.MinValue, 0L))
            val out = Vector.newBuilder[SeasonalSpike]
            batch.foreach { r =>
              val day = dayOf(tsMicros(r.ts))
              if (firstDay == Long.MinValue) {
                firstDay = day; curDay = day; curCount = 1L
              } else if (curDay == Long.MinValue) {
                // timer already folded the previous open day
                curDay = day; curCount = 1L
              } else if (day == curDay) {
                curCount += 1L
              } else {
                out ++= verdict(firstDay, sumPrior, curDay, curCount)
                sumPrior += curCount
                curDay = day; curCount = 1L
              }
            }
            state.update((firstDay, sumPrior, curDay, curCount))
            if (curDay != Long.MinValue)
              // close the open day once the watermark passes its end
              state.setTimeoutTimestamp(
                math.max((curDay + 1) * 86400000L,
                  state.getCurrentWatermarkMs() + 1))
            out.result().iterator
          }
      }
  }

  case class SessionSpan(user_id: Long, start_us: Long, end_us: Long)

  /** Streaming session spans — the sessionize stage of
    * `rel.EventAnalytics.sessionConcurrency` as a live feed: per-user
    * state is TWO scalars (first µs, last µs of the open session); an
    * in-batch gap > 30 min closes the span immediately, the event-time
    * timer at exactly lastTs + gap closes the final open one when the
    * watermark passes (the `sessionPaths` gap-timeout rule minus the
    * path buffer — state is two longs regardless of session length).
    * Downstream, the ±1 boundary-delta running count over emitted spans
    * IS the live concurrency gauge; each span emits exactly once, so
    * the differential pins streamed spans ≡ the batch session relation
    * and therefore the whole concurrency table. */
  def sessionSpans(events: Dataset[PathEvent],
      gapMs: Long = 30L * 60 * 1000,
      watermarkDelay: String = "10 minutes"): Dataset[SessionSpan] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[(Long, Long), SessionSpan](
        OutputMode.Update(), GroupStateTimeout.EventTimeTimeout) {
        (userId, rows, state) =>
          if (state.hasTimedOut) {
            val (firstUs, lastUs) = state.get
            state.remove()
            Iterator.single(SessionSpan(userId, firstUs, lastUs))
          } else {
            val batch = rows.toVector.sortBy(r => (tsMicros(r.ts), r.event_id))
            var (firstUs, lastUs) =
              state.getOption.getOrElse((Long.MinValue, Long.MinValue))
            val out = Vector.newBuilder[SessionSpan]
            batch.foreach { r =>
              val t = tsMicros(r.ts)
              if (lastUs != Long.MinValue && t - lastUs > gapMs * 1000L) {
                out += SessionSpan(userId, firstUs, lastUs)
                firstUs = Long.MinValue
              }
              if (firstUs == Long.MinValue) firstUs = t
              lastUs = t
            }
            if (lastUs != Long.MinValue) {
              state.update((firstUs, lastUs))
              state.setTimeoutTimestamp(
                math.max(Math.floorDiv(lastUs + 999, 1000) + gapMs,
                  state.getCurrentWatermarkMs() + 1))
            }
            out.result().iterator
          }
      }
  }

  case class SurvivalExit(user_id: Long, bucket: Long, converted: Boolean)

  /** Streaming survival exits — the stateful twin of
    * `rel.EventAnalytics.survival`'s per-user stage. State is TWO
    * scalars (signup µs, converted flag): under ordered per-user
    * arrival the batch's MIN-qualifying-purchase collapses to the first
    * purchase after the stored signup, which emits the CONVERTED exit
    * row at event time with its duration bucket; a user still
    * unconverted when the event-time timer passes the deployment's
    * censoring horizon emits the CENSORED exit at the horizon bucket
    * and drops its state. The batch table is the (bucket, converted)
    * aggregation of exactly these exits plus the descending cumulative
    * — which is how the differential pins streamed ≡ batch. The horizon
    * is a parameter (a live feed censors against its retention window;
    * the batch op uses the corpus' own max ts — the differential feeds
    * that value). */
  def survivalExitStream(events: Dataset[TransitionEvent],
      horizonUs: Long,
      bucketUs: Long = 43200000000L,
      watermarkDelay: String = "10 minutes"): Dataset[SurvivalExit] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[(Long, Boolean), SurvivalExit](
        OutputMode.Update(), GroupStateTimeout.EventTimeTimeout) {
        (userId, rows, state) =>
          if (state.hasTimedOut) {
            val (st, converted) = state.get
            state.remove()
            if (!converted) Iterator.single(
              SurvivalExit(userId, (horizonUs - st) / bucketUs, false))
            else Iterator.empty
          } else {
            val batch = rows.toVector.sortBy(r => (tsMicros(r.ts), r.event_id))
            var (st, converted) =
              state.getOption.getOrElse((Long.MinValue, false))
            val out = Vector.newBuilder[SurvivalExit]
            batch.foreach { r =>
              val us = tsMicros(r.ts)
              r.event_type match {
                case "signup" if st == Long.MinValue => st = us
                case "purchase" if st != Long.MinValue && us > st &&
                    !converted =>
                  out += SurvivalExit(userId, (us - st) / bucketUs, true)
                  converted = true
                case _ => ()
              }
            }
            // no signup yet ⇒ no state entry (the funnel stage-0 guard)
            if (st != Long.MinValue) {
              state.update((st, converted))
              // censor timer at the horizon itself, clamped above the
              // current watermark (the engine rejects a timer ≤ it)
              state.setTimeoutTimestamp(
                math.max(horizonUs / 1000L + 1,
                  state.getCurrentWatermarkMs() + 1))
            }
            out.result().iterator
          }
      }
  }

  case class GapInc(user_id: Long, gap_us: Long)

  /** Streaming inter-arrival gaps — the stateful twin of
    * `rel.Experiments.interarrival`. Per-user state is ONE scalar (the
    * last event's exact µs); each micro-batch replays its events in the
    * engine-wide (ts, event_id) order and emits one exact gap per
    * event after the user's first. Aggregating the emitted stream
    * (count/min/max/sum) rebuilds the batch profile exactly — pinned
    * differentially in StreamingSpec. State is O(users), never
    * O(events); the fraud/liveness monitors that consume gap streams
    * (bot cadence, session heartbeat) read increments, not tables. */
  def interarrivalStream(events: Dataset[PathEvent]): Dataset[GapInc] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[Long, GapInc](
        OutputMode.Update(), GroupStateTimeout.NoTimeout) {
        (userId, rows, state) =>
          val batch = rows.toVector.sortBy(r => (tsMicros(r.ts), r.event_id))
          var last = state.getOption.getOrElse(Long.MinValue)
          val out = Vector.newBuilder[GapInc]
          batch.foreach { r =>
            val us = tsMicros(r.ts)
            if (last != Long.MinValue) out += GapInc(userId, us - last)
            last = us
          }
          state.update(last)
          out.result().iterator
      }
  }

  case class RecordDay(event_type: String, day: java.sql.Date, cents: Long,
      broke_cents: Option[Long], stood_days: Option[Long])

  /** Streaming record-breaking days — the stateful twin of
    * `rel.TimeSeries.recordDays`. Per-type state is FOUR scalars (open
    * day, open cents, record cents, record day); a day is judged
    * against the record only once it CLOSES (the next day's first
    * event arrives — daily revenue isn't knowable mid-day), emitting
    * the same strict-record row the batch op derives, including the
    * days the old record stood. The caller closes the final day with a
    * far-future sentinel (the volumeStream convention — the sentinel's
    * own day never emits). The "new all-time high" pager alert, as an
    * increment stream. */
  def recordStream(events: Dataset[TypedValueEvent]): Dataset[RecordDay] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[(Long, Long, Long, Long), RecordDay](
        OutputMode.Update(), GroupStateTimeout.NoTimeout) {
        (etype, rows, state) =>
          def cents(v: Double) = java.math.BigDecimal.valueOf(v)
            .setScale(2, java.math.RoundingMode.HALF_UP)
            .unscaledValue().longValueExact()
          val batch = rows.toVector
            .map(r => (Math.floorDiv(tsMicros(r.ts), 86400000000L),
              cents(r.value)))
            .sortBy(_._1)
          // (openDay, openCents, recordCents, recordDay); MinValue = none
          var (od, oc, rc, rd) = state.getOption
            .getOrElse((Long.MinValue, 0L, Long.MinValue, Long.MinValue))
          val out = Vector.newBuilder[RecordDay]
          def close(): Unit = if (od != Long.MinValue) {
            if (rc == Long.MinValue || oc > rc) {
              out += RecordDay(etype,
                java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(od)), oc,
                if (rc == Long.MinValue) None else Some(rc),
                if (rd == Long.MinValue) None else Some(od - rd))
              rc = oc; rd = od
            }
          }
          batch.foreach { case (d, cents) =>
            if (d != od) { close(); od = d; oc = 0L }
            oc += cents
          }
          state.update((od, oc, rc, rd))
          out.result().iterator
      }
  }

  case class UserDayFirst(user_id: Long, day: java.sql.Date)

  /** Streaming (user, day) first-activity increments — the stateful
    * feed under `rel.Experiments.stickiness` (and E13's DAU/WAU): each
    * user's state is the SET of epoch days already seen (bounded by
    * the calendar, not by events), and every micro-batch emits exactly
    * the new (user, day) pairs. Aggregating the emitted stream through
    * the same contribution expansion rebuilds the batch DAU/MAU table
    * bit-for-bit (pinned in StreamingSpec) — the live engagement board
    * consumes increments, never a re-scan. */
  def userDayFirsts(events: Dataset[PathEvent]): Dataset[UserDayFirst] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[List[Long], UserDayFirst](
        OutputMode.Update(), GroupStateTimeout.NoTimeout) {
        (userId, rows, state) =>
          var seen = state.getOption.getOrElse(Nil).toSet
          val out = Vector.newBuilder[UserDayFirst]
          rows.foreach { r =>
            val d = Math.floorDiv(tsMicros(r.ts), 86400000000L)
            if (!seen(d)) {
              seen += d
              out += UserDayFirst(userId,
                java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(d)))
            }
          }
          state.update(seen.toList)
          out.result().iterator
      }
  }

  case class VolumeDay(day: java.sql.Date, cnt: Long, n_prev: Long,
      z2_milli: Option[Long], flag: Boolean)

  /** Streaming ingest-volume monitor — the stateful twin of
    * `rel.Experiments.volumeAnomaly`. Single global key (volume is a
    * per-corpus gauge; the daily relation is one row per day at ANY
    * data scale, so one key with O(8) scalars of state — open-day count
    * plus the ≤7 most recent closed-day counts — is the honest
    * distribution story, not a bottleneck). Days close when a later
    * day's first event arrives; each close emits the day with the same
    * integer z² = (n·c−s)²/(n·s2−s²) compare as the batch op. The
    * caller closes the final day with a far-future sentinel (the
    * forecastErrorStream convention); the sentinel's own day stays
    * open and never emits. */
  def volumeStream(events: Dataset[PathEvent],
      zThresh: Int = 3): Dataset[VolumeDay] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_ => 0)
      .flatMapGroupsWithState[(Long, Long, List[Long]), VolumeDay](
        OutputMode.Update(), GroupStateTimeout.NoTimeout) {
        (_, rows, state) =>
          val batch = rows.toVector
            .map(r => Math.floorDiv(tsMicros(r.ts), 86400000000L))
            .sorted
          var (openDay, openCnt, prev) =
            state.getOption.getOrElse((Long.MinValue, 0L, List.empty[Long]))
          val out = Vector.newBuilder[VolumeDay]
          def close(): Unit = if (openDay != Long.MinValue) {
            val w = prev.take(7)
            val n = w.size.toLong
            val s = w.sum
            val s2 = w.map(c => c * c).sum
            val z2 =
              if (n == 7 && n * s2 - s * s != 0)
                Some((n * openCnt - s) * (n * openCnt - s) * 1000L /
                  (n * s2 - s * s))
              else None
            out += VolumeDay(
              java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(openDay)),
              openCnt, n, z2,
              z2.exists(_ > zThresh.toLong * zThresh * 1000L))
            prev = openCnt :: prev
          }
          batch.foreach { d =>
            if (d != openDay) {
              close(); openDay = d; openCnt = 0L
            }
            openCnt += 1L
          }
          state.update((openDay, openCnt, prev.take(7)))
          out.result().iterator
      }
  }

  /** L5t streaming twin — the stream-STATIC enrichment join, the
    * canonical "arriving data × standing dimension" Structured
    * Streaming shape: each ARRIVING embedding checks against the
    * STATIC benchmark set (broadcast — eval sets are bounded by
    * construction) and emits one hit row per (vec_id, bench_id) whose
    * native-codegen cosine clears `thr`. Stateless append — no
    * watermark, no state store: flag verdicts stream out as vectors
    * arrive, and the per-doc rollup is exactly the batch twin's
    * aggregate (`Corpus.semanticContaminationOn`; StreamingSpec pins
    * streamed hits ≡ batch verdicts). At 100 TB/day the per-arrival
    * cost is |bench| cosines — constant, the batch twin's own
    * per-row cost. */
  def semanticContaminationHitsStream(arrivals: DataFrame,
      bench: DataFrame, thr: Double = 0.40): DataFrame = {
    val b = broadcast(bench.select(col("vec_id").as("bench_id"),
      transform(col("embedding"), x => x.cast("double")).as("bv")))
    arrivals
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      .crossJoin(b)
      .filter(graft.ext.Similarity.cosine(col("v"), col("bv")) >= lit(thr))
      .select(col("vec_id"), col("bench_id"))
  }
}
