package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, ListState,
  MapState, OutputMode, StatefulProcessor, StatefulProcessorWithInitialState,
  TTLConfig, TimeMode, TimerValues, ValueState}

/** Structured Streaming operators (SURVEY.md §2.E3-E4). The same
  * declarative plans run in batch and streaming; specs assert the
  * streaming results equal the batch gate queries — that equivalence
  * IS the correctness contract.
  */
object StreamingOps {

  /** E1/E3 — tumbling-window aggregate; add a watermark upstream when
    * streaming (`withWatermark("ts", "1 hour")`). Works unchanged on
    * batch DataFrames.
    */
  def tumblingCounts(events: DataFrame, windowLen: String = "1 hour"): DataFrame =
    events.groupBy(window(col("ts"), windowLen).as("win"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))
      .select(col("win.start").as("win_start"), col("event_type"), col("n"), col("total_value"))

  /** E24 — hopping (sliding) window aggregate: each event lands in
    * windowLen/slide overlapping windows. Same plan shape batch and
    * streaming; the row multiplication is the fixed windowLen/slide
    * factor (2 here), applied BEFORE the shuffle as a generated
    * window list — at 100 TB the exchange carries (win, type) keyed
    * partial aggregates, not the replicated rows.
    */
  def hoppingCounts(events: DataFrame, windowLen: String = "1 hour",
      slide: String = "30 minutes"): DataFrame =
    events.groupBy(window(col("ts"), windowLen, slide).as("win"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))
      .select(col("win.start").as("win_start"), col("event_type"), col("n"), col("total_value"))

  /** E46 — NATIVE session_window aggregation, the built-in gap
    * sessionizer (vs the hand-rolled mapGroupsWithState E4): merges
    * events whose gap is ≤ the duration (exact-gap events MERGE —
    * probed, see the batch q_session_window gate), state is the
    * engine's own session store, sessions emit in Append mode once
    * the watermark passes their end. Works unchanged on batch
    * DataFrames — same operator both ways is the whole point.
    */
  def sessionWindowAgg(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events.groupBy(col("user_id"), session_window(col("ts"), gap).as("w"))
      .agg(min(unix_micros(col("ts"))).as("start_us"),
        max(unix_micros(col("ts"))).as("last_us"),
        count(lit(1)).as("n_events"))
      .select("user_id", "start_us", "last_us", "n_events")

  /** E47 — CHAINED stateful aggregations in ONE streaming query
    * (Spark 4 multiple-stateful-operators): hourly per-type counts
    * (first windowed agg) roll up into daily per-type stats (second
    * windowed agg keyed on `window_time` of the first window) without
    * landing the intermediate anywhere. Pre-4.x this took two queries
    * with a sink between them — at scale that's a full materialization
    * plus a second read of every hourly row. The daily row emits once
    * the watermark passes the day.
    */
  def chainedWindowAgg(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour").as("hw"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .groupBy(window(window_time(col("hw")), "1 day").as("dw"), col("event_type"))
      .agg(sum(col("n")).as("total"), max(col("n")).as("max_hourly"),
        count(lit(1)).as("active_hours"))
      .select(col("dw.start").as("day_start"), col("event_type"),
        col("total"), col("max_hourly"), col("active_hours"))

  /** E49 — streaming distinct-cardinality monitor: per tumbling
    * event-time window, the approximate distinct-user count
    * (HLL++ partials held in the state store and MERGED across
    * micro-batches — the sketch form of streaming aggregation state),
    * emitted once the watermark closes the window. Exact
    * COUNT(DISTINCT) is unsupported in streaming precisely because
    * its state is unbounded; the sketch is the scale answer, and the
    * gate pins it inside its error contract against the exact batch
    * count (the q_approx_distinct pattern).
    */
  def distinctMonitorStream(events: DataFrame, rsd: Double = 0.02): DataFrame =
    events.groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(approx_count_distinct(col("user_id"), rsd).as("approx_users"))
      .select(col("w.start").as("win_start"), col("approx_users"))

  final case class SessionEvent(user_id: Long, ts_us: Long)
  final case class SessionState(lastTs: Long, nSessions: Long, nEvents: Long)
  final case class SessionUpdate(user_id: Long, n_sessions: Long, n_events: Long)

  /** E4 — stateful sessionizer: a new session starts when the gap to
    * the user's previous event exceeds `gapSeconds`. Emits the running
    * per-user totals each trigger (Update mode); the final row per
    * user equals the batch Sessionize.userSessions result. State is
    * one small record per user — at scale this shards by user_id
    * across executors with RocksDB-backed state.
    */
  def sessionize(events: Dataset[SessionEvent], gapSeconds: Long): Dataset[SessionUpdate] = {
    import events.sparkSession.implicits._
    val gapUs = gapSeconds * 1000000L
    events.groupByKey(_.user_id)
      .mapGroupsWithState[SessionState, SessionUpdate](GroupStateTimeout.NoTimeout) {
        case (userId, evs, state: GroupState[SessionState]) =>
          val sorted = evs.toSeq.sortBy(_.ts_us)
          var st = state.getOption.getOrElse(SessionState(Long.MinValue, 0L, 0L))
          sorted.foreach { e =>
            val newSession = st.lastTs == Long.MinValue || e.ts_us - st.lastTs > gapUs
            st = SessionState(e.ts_us,
              st.nSessions + (if (newSession) 1 else 0), st.nEvents + 1)
          }
          state.update(st)
          SessionUpdate(userId, st.nSessions, st.nEvents)
      }
  }

  final case class AnomEvent(event_id: Long, event_type: String, t_us: Long, x: Long)
  final case class AnomState(xs: List[Long])
  final case class AnomHit(event_id: Long, event_type: String, x: Long, n_window: Long)

  // ts rides along solely to keep the watermark column visible to the
  // stateful operator (EventTimeTimeout requires it in the child plan)
  final case class DriftEvent(event_type: String, w_start_us: Long, ts: java.sql.Timestamp)
  final case class DriftCounts(counts: Map[String, Long])
  final case class DriftRow(w_start_us: Long, n_events: Long, l1_ppm: Long)

  final case class FunnelEvent(user_id: Long, event_type: String, t_us: Long, event_id: Long)
  final case class FunnelState(tView: Long, tClick: Long, tPurchase: Long,
    maxTs: Long = Long.MinValue)
  final case class FunnelAdvance(user_id: Long, stage: String, t_us: Long, t_view_us: Long)

  final case class CusumEvent(event_id: Long, event_type: String, t_us: Long, x_micro: Long)
  final case class CusumState(s: Long, maxTs: Long = Long.MinValue)
  final case class CusumHit(event_type: String, t_us: Long, event_id: Long,
    x_micro: Long, cusum_micro: Long)

  /** E26 — STREAMING rolling z-score anomaly detection: the E25
    * float-free flag ((n·x−S)² > k²·(n·Q−S²) over the `lookback`
    * preceding same-group values, integer cents) evaluated
    * incrementally with flatMapGroupsWithState. State per group is the
    * ring of the last `lookback` x values — fixed-width, RocksDB-
    * shardable; each event is judged against the ring BEFORE being
    * pushed, exactly the batch window's "PRECEDING only" frame, so a
    * drained stream equals the batch operator row-for-row (the E4
    * sessionizer's equivalence contract). Within a micro-batch events
    * sort by (t_us, event_id); across batches arrival order is stream
    * order — the same in-order-source discipline as sessionize.
    */
  def anomalyStream(events: Dataset[AnomEvent], lookback: Int = 20,
      minN: Int = 10, k: Int = 3): Dataset[AnomHit] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.event_type)
      .flatMapGroupsWithState[AnomState, AnomHit](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        case (tpe, evs, state: GroupState[AnomState]) =>
          var ring = state.getOption.map(_.xs).getOrElse(Nil)
          val out = Seq.newBuilder[AnomHit]
          evs.toSeq.sortBy(e => (e.t_us, e.event_id)).foreach { e =>
            val n = ring.size.toLong
            if (n >= minN) {
              val s = ring.sum
              val q = ring.iterator.map(v => v * v).sum
              val d = n * e.x - s
              if (d * d > k.toLong * k * (n * q - s * s))
                out += AnomHit(e.event_id, tpe, e.x, n)
            }
            ring = (ring :+ e.x).takeRight(lookback)
          }
          state.update(AnomState(ring))
          out.result().iterator
      }
  }

  /** E39 (stream twin) — online one-sided CUSUM: per group, the exact
    * recursion S = max(0, S + x − target − slack), one Long of state,
    * alarm rows emitted in Append mode the moment S crosses the
    * threshold — the form CUSUM was designed for (sequential detection
    * is an ONLINE procedure; the batch operator's window identity
    * exists to replay it at rest). `targets` is model state computed
    * offline (the warm-start pattern, q_stream_warmstart precedent):
    * an in-control mean is a property of history, not of the stream.
    * Per-batch sort by (t_us, event_id) gives the same total order as
    * the batch operator; state carries S across micro-batches.
    *
    * The in-order-arrival contract is ENFORCED observably, not just
    * documented: state carries the max event time seen, and a batch
    * containing events strictly BEFORE it (a cross-batch time
    * regression — the recursion already consumed later values, so the
    * drained stream may diverge from the batch replay) additionally
    * emits one counter row per (type, batch) marked `cusum_micro =
    * -1`, with `x_micro` = late-event count and `t_us` = the earliest
    * late timestamp. Monitors alert on the marker; in-order sources
    * (file replay, compacted logs) never produce one, so
    * batch-equivalence stays bit-exact there.
    */
  val LATE_MARKER: Long = -1L

  def cusumStream(events: Dataset[CusumEvent], targets: Map[String, Long],
      slackMicro: Long, thresholdMicro: Long): Dataset[CusumHit] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.event_type)
      .flatMapGroupsWithState[CusumState, CusumHit](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        case (tpe, evs, state: GroupState[CusumState]) =>
          val ref = targets.getOrElse(tpe, 0L) + slackMicro
          val st0 = state.getOption.getOrElse(CusumState(0L))
          var s = st0.s
          val out = Seq.newBuilder[CusumHit]
          val sorted = evs.toSeq.sortBy(e => (e.t_us, e.event_id))
          val late = sorted.filter(_.t_us < st0.maxTs)
          if (late.nonEmpty)
            out += CusumHit(tpe, late.head.t_us, -late.size.toLong,
              late.size.toLong, LATE_MARKER)
          sorted.foreach { e =>
            s = math.max(0L, s + e.x_micro - ref)
            if (s > thresholdMicro)
              out += CusumHit(tpe, e.t_us, e.event_id, e.x_micro, s)
          }
          val maxTs = if (sorted.isEmpty) st0.maxTs
            else math.max(st0.maxTs, sorted.last.t_us)
          state.update(CusumState(s, maxTs))
          out.result().iterator
      }
  }

  /** E41 — STREAMING distribution-drift monitor, the online twin of
    * the batch token/mixture-drift audit (D56): per tumbling
    * event-time window, the event-type mix is compared against an
    * offline reference profile (ppm per type, integral div — model
    * state, the warm-start pattern) and ONE row per window emits the
    * L1 gap in ppm the moment the watermark closes the window — the
    * scraper-regression/source-flood alarm that fires before loss
    * curves move. State per open window is one count per type
    * (vocabulary-bounded, not corpus-bounded); EventTimeTimeout emits
    * and frees it exactly once.
    */
  def driftStream(events: Dataset[DriftEvent], refPpm: Map[String, Long],
      windowUs: Long): Dataset[DriftRow] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.w_start_us)
      .flatMapGroupsWithState[DriftCounts, DriftRow](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout) {
        case (wStart, evs, state: GroupState[DriftCounts]) =>
          if (state.hasTimedOut) {
            val counts = state.getOption.map(_.counts).getOrElse(Map.empty[String, Long])
            state.remove()
            val n = counts.valuesIterator.sum
            // both directions of the gap: reference types (|obs − ref|,
            // absent-in-window types contribute their full ref ppm) AND
            // observed types absent from the reference — a brand-new
            // source type is the loudest flood signal and must count
            // its full observed ppm, not just dilute the others
            val l1 = refPpm.iterator.map { case (t, r) =>
              math.abs(counts.getOrElse(t, 0L) * 1000000L / n - r)
            }.sum + counts.iterator.collect {
              case (t, c) if !refPpm.contains(t) => c * 1000000L / n
            }.sum
            Iterator.single(DriftRow(wStart, n, l1))
          } else {
            val cur = state.getOption.map(_.counts).getOrElse(Map.empty[String, Long])
            val upd = evs.foldLeft(cur) { (m, e) =>
              m.updated(e.event_type, m.getOrElse(e.event_type, 0L) + 1L)
            }
            state.update(DriftCounts(upd))
            // fire when the watermark passes the window end
            state.setTimeoutTimestamp((wStart + windowUs) / 1000L)
            Iterator.empty
          }
      }
  }

  /** E42 — STREAMING funnel: the batch funnel's per-user stage
    * derivation (first view → first click at/after it → first
    * purchase at/after that) as an ONLINE state machine — marketing/
    * conversion monitors want the advance the moment it happens, not
    * at the nightly re-aggregation. One 3-Long state per user (the
    * three stage timestamps); a stage-advance row emits in Append
    * mode as each stage is first reached, carrying t_view so the
    * purchase row prices the user's full latency with no join back.
    * Per batch, events process in (ts, id) order and the pass loops
    * to fixpoint (≤3 rounds — stages only advance three times), so
    * equal-timestamp chains (click at exactly t_view) resolve exactly
    * as the batch MIN-filter semantics do.
    *
    * CONTRACT — in-order arrival across batches: skipped candidate
    * events are NOT buffered in state, so batch-equivalence holds only
    * when micro-batches arrive in event-time order (a click landing in
    * batch 1 that qualifies only after its view arrives in batch 2 is
    * missed; the batch MIN-filter would count it). File-replay and
    * log-compacted sources satisfy this; for out-of-order transports,
    * front it with a watermark-sorted buffer stage before this
    * operator. cusumStream carries the same assumption.
    *
    * ENFORCED observably: state carries the user's max seen event
    * time, and a batch holding events strictly before it emits one
    * `stage = "late_arrival"` row per (user, batch) — `t_us` = late
    * count, `t_view_us` = earliest late timestamp — so divergence
    * from the batch oracle is visible in the output stream instead of
    * silent. In-order sources never emit one.
    */
  def funnelStream(events: Dataset[FunnelEvent]): Dataset[FunnelAdvance] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, FunnelAdvance](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        case (uid, evs, state: GroupState[FunnelState]) =>
          var st = state.getOption.getOrElse(FunnelState(-1L, -1L, -1L))
          val sorted = evs.toSeq.sortBy(e => (e.t_us, e.event_id))
          val out = Seq.newBuilder[FunnelAdvance]
          val late = sorted.filter(_.t_us < st.maxTs)
          if (late.nonEmpty)
            out += FunnelAdvance(uid, "late_arrival", late.size.toLong, late.head.t_us)
          if (sorted.nonEmpty)
            st = st.copy(maxTs = math.max(st.maxTs, sorted.last.t_us))
          var changed = true
          while (changed) {
            changed = false
            sorted.foreach { e =>
              if (st.tView < 0L && e.event_type == "view") {
                st = st.copy(tView = e.t_us); changed = true
                out += FunnelAdvance(uid, "view", e.t_us, e.t_us)
              } else if (st.tView >= 0L && st.tClick < 0L &&
                  e.event_type == "click" && e.t_us >= st.tView) {
                st = st.copy(tClick = e.t_us); changed = true
                out += FunnelAdvance(uid, "click", e.t_us, st.tView)
              } else if (st.tClick >= 0L && st.tPurchase < 0L &&
                  e.event_type == "purchase" && e.t_us >= st.tClick) {
                st = st.copy(tPurchase = e.t_us); changed = true
                out += FunnelAdvance(uid, "purchase", e.t_us, st.tView)
              }
            }
          }
          state.update(st)
          out.result().iterator
      }
  }

  final case class EwmaEvent(user_id: Long, t_us: Long, tie: Long, x_micro: Long)
  final case class EwmaState(y: Long, any: Boolean, maxTs: Long = Long.MinValue)
  final case class EwmaRow(user_id: Long, t_us: Long, tie: Long,
    x_micro: Long, ewma_micro: Long, is_late_marker: Boolean = false)

  /** E52 — STREAMING EWMA, the online twin of the batch fold (E28):
    * y_t = (α·x_t + (100−α)·y_{t−1}) div 100 in integer micros, ONE
    * Long + a seen-flag of state per key (the recursion's whole
    * memory), a smoothed row per event in Append mode. Same in-order
    * contract and enforcement as cusumStream: a cross-batch time
    * regression emits one marker row per (key, batch) with
    * `is_late_marker` = true, `tie` = −(late count), `x_micro` = late
    * count, `ewma_micro` = LATE_MARKER. The FLAG is the marker's
    * identity — unlike funnel's string stage and cusum's s>threshold
    * invariant, a legitimate EWMA of −1 is attainable whenever
    * x_micro can go negative, so a value convention alone would
    * misclassify real data. In-order sources never see a marker and
    * the drained stream equals the batch fold bit-for-bit.
    */
  def ewmaStream(events: Dataset[EwmaEvent], alphaPct: Int): Dataset[EwmaRow] = {
    require(alphaPct >= 1 && alphaPct <= 99, s"invalid alphaPct $alphaPct")
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[EwmaState, EwmaRow](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        case (uid, evs, state: GroupState[EwmaState]) =>
          var st = state.getOption.getOrElse(EwmaState(0L, any = false))
          val sorted = evs.toSeq.sortBy(e => (e.t_us, e.tie))
          val out = Seq.newBuilder[EwmaRow]
          val late = sorted.filter(_.t_us < st.maxTs)
          if (late.nonEmpty)
            out += EwmaRow(uid, late.head.t_us, -late.size.toLong,
              late.size.toLong, LATE_MARKER, is_late_marker = true)
          sorted.foreach { e =>
            val y = if (!st.any) e.x_micro
              else (alphaPct * e.x_micro + (100 - alphaPct) * st.y) / 100
            st = EwmaState(y, any = true, math.max(st.maxTs, e.t_us))
            out += EwmaRow(uid, e.t_us, e.tie, e.x_micro, y)
          }
          state.update(st)
          out.result().iterator
      }
  }

  final case class HoltState(l: Long, b: Long, any: Boolean,
    maxTs: Long = Long.MinValue)
  final case class HoltRow(user_id: Long, t_us: Long, tie: Long, x_micro: Long,
    level_micro: Long, trend_micro: Long, forecast_micro: Long,
    is_late_marker: Boolean = false)

  /** E59 — STREAMING Holt double exponential smoothing, the online
    * twin of the batch fold (E58): level + trend per key — TWO Longs
    * + a seen-flag of state (the recursion's whole memory), a smoothed
    * row with the one-step forecast per event in Append mode. Same
    * in-order contract as ewmaStream, with the STRUCTURAL marker
    * discipline from the start: a cross-batch time regression emits
    * one row per (key, batch) with `is_late_marker` = true (`tie` =
    * −count, `x_micro` = count, smoothed fields = LATE_MARKER — a
    * legitimate level/trend of −1 is attainable, so only the flag is
    * the marker's identity). In-order sources never see one and the
    * drained stream equals the batch fold bit-for-bit.
    */
  def holtStream(events: Dataset[EwmaEvent], alphaPct: Int,
      betaPct: Int): Dataset[HoltRow] = {
    require(alphaPct >= 1 && alphaPct <= 99, s"invalid alphaPct $alphaPct")
    require(betaPct >= 1 && betaPct <= 99, s"invalid betaPct $betaPct")
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[HoltState, HoltRow](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        case (uid, evs, state: GroupState[HoltState]) =>
          var st = state.getOption.getOrElse(HoltState(0L, 0L, any = false))
          val sorted = evs.toSeq.sortBy(e => (e.t_us, e.tie))
          val out = Seq.newBuilder[HoltRow]
          val late = sorted.filter(_.t_us < st.maxTs)
          if (late.nonEmpty)
            out += HoltRow(uid, late.head.t_us, -late.size.toLong,
              late.size.toLong, LATE_MARKER, LATE_MARKER, LATE_MARKER,
              is_late_marker = true)
          sorted.foreach { e =>
            val (l, b) =
              if (!st.any) (e.x_micro, 0L)
              else {
                val l1 = (alphaPct * e.x_micro + (100 - alphaPct) * (st.l + st.b)) / 100
                (l1, (betaPct * (l1 - st.l) + (100 - betaPct) * st.b) / 100)
              }
            st = HoltState(l, b, any = true, math.max(st.maxTs, e.t_us))
            out += HoltRow(uid, e.t_us, e.tie, e.x_micro, l, b, l + b)
          }
          state.update(st)
          out.result().iterator
      }
  }

  final case class SeqEvent(user_id: Long, t_us: Long, tie: Long, seq: Long)
  final case class SeqAuditState(maxSeq: Long, any: Boolean, seen: Long,
    missing: Long, regress: Long, maxTs: Long = Long.MinValue)
  final case class SeqAuditRow(user_id: Long, t_us: Long, tie: Long, seq: Long,
    n_seen: Long, missing_total: Long, n_regress: Long,
    is_late_marker: Boolean = false)

  /** E61 — STREAMING sequence-integrity audit, the online twin of the
    * batch windows (E60): per key, the running max sequence + three
    * counters of state; each event emits the running census row in
    * Append mode — the at-source health signal a CDC/offset consumer
    * watches live (gaps = lost deliveries ahead of the high-water
    * mark, regressions = duplicates or out-of-order arrivals). Same
    * in-order/event-time contract as the family, structural
    * `is_late_marker` flag from the start.
    */
  def seqAuditStream(events: Dataset[SeqEvent]): Dataset[SeqAuditRow] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SeqAuditState, SeqAuditRow](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        case (uid, evs, state: GroupState[SeqAuditState]) =>
          var st = state.getOption.getOrElse(
            SeqAuditState(0L, any = false, 0L, 0L, 0L))
          val sorted = evs.toSeq.sortBy(e => (e.t_us, e.tie))
          val out = Seq.newBuilder[SeqAuditRow]
          val late = sorted.filter(_.t_us < st.maxTs)
          if (late.nonEmpty)
            out += SeqAuditRow(uid, late.head.t_us, -late.size.toLong,
              late.size.toLong, LATE_MARKER, LATE_MARKER, LATE_MARKER,
              is_late_marker = true)
          sorted.foreach { e =>
            val regress = st.any && e.seq <= st.maxSeq
            val gap = if (!st.any || regress) 0L else e.seq - st.maxSeq - 1L
            st = SeqAuditState(
              maxSeq = if (!st.any) e.seq else math.max(st.maxSeq, e.seq),
              any = true, seen = st.seen + 1, missing = st.missing + gap,
              regress = st.regress + (if (regress) 1L else 0L),
              maxTs = math.max(st.maxTs, e.t_us))
            out += SeqAuditRow(uid, e.t_us, e.tie, e.seq,
              st.seen, st.missing, st.regress)
          }
          state.update(st)
          out.result().iterator
      }
  }

  final case class AsofEvent(user_id: Long, is_right: Boolean, t_us: Long,
    event_id: Long, value: Double)
  final case class AsofState(rTs: Long, rVal: Double, any: Boolean,
    maxTs: Long = Long.MinValue)
  final case class AsofRow(event_id: Long, user_id: Long, ts_us: Long,
    asof_value: Option[Double], asof_ts_us: Option[Long])

  /** E53 — STREAM-STREAM as-of enrichment: each left event paired with
    * the same key's LATEST right event at or before it, online.
    * Spark's stream-stream joins buffer a time interval of BOTH sides
    * and cannot express "latest at-or-before" (unbounded lookback);
    * the scale-correct online form is this one: both sides ride ONE
    * keyed stream (tagged union — the batch E5 operator's exact
    * shape), state per key is the latest right (ts, value) — two
    * scalars, NOT a buffer — and each left event emits its enrichment
    * the moment it arrives. Within a batch, events process in
    * (ts, right-before-left, id) order, so an equal-timestamp right
    * enriches an equal-timestamp left exactly as the batch inclusive
    * join does. In-order contract enforced as everywhere: cross-batch
    * regressions emit a marker row with `event_id` = −(late count)
    * and null enrichment fields.
    */
  def asofStream(events: Dataset[AsofEvent]): Dataset[AsofRow] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[AsofState, AsofRow](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        case (uid, evs, state: GroupState[AsofState]) =>
          var st = state.getOption.getOrElse(AsofState(0L, 0.0, any = false))
          // rights sort before lefts at equal ts -> inclusive match
          val sorted = evs.toSeq.sortBy(e => (e.t_us, !e.is_right, e.event_id))
          val out = Seq.newBuilder[AsofRow]
          val late = sorted.filter(_.t_us < st.maxTs)
          if (late.nonEmpty)
            out += AsofRow(-late.size.toLong, uid, late.head.t_us, None, None)
          sorted.foreach { e =>
            if (e.is_right)
              st = st.copy(rTs = e.t_us, rVal = e.value, any = true,
                maxTs = math.max(st.maxTs, e.t_us))
            else {
              out += AsofRow(e.event_id, uid, e.t_us,
                if (st.any) Some(st.rVal) else None,
                if (st.any) Some(st.rTs) else None)
              st = st.copy(maxTs = math.max(st.maxTs, e.t_us))
            }
          }
          state.update(st)
          out.result().iterator
      }
  }

  final case class HighEvent(user_id: Long, t_us: Long, event_id: Long, v_micro: Long)
  final case class HighState(hi: Long, any: Boolean, maxTs: Long = Long.MinValue)
  final case class HighRow(user_id: Long, t_us: Long, event_id: Long,
    v_micro: Long, prev_hi: Option[Long])

  /** E55 — streaming RECORD-HIGH monitor: per key, a row the moment a
    * value strictly exceeds every prior value (new all-time high —
    * the alerting primitive behind "biggest order ever from this
    * account" / "latency ceiling broken"), carrying the previous high
    * (null on a key's first event). ONE Long + a seen-flag of state.
    * A drained in-order stream equals the batch PRECEDING-frame
    * running max; cross-batch regressions emit the family's marker
    * row (event_id = −late count, null prev_hi).
    */
  def recordHighStream(events: Dataset[HighEvent]): Dataset[HighRow] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[HighState, HighRow](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        case (uid, evs, state: GroupState[HighState]) =>
          var st = state.getOption.getOrElse(HighState(0L, any = false))
          val sorted = evs.toSeq.sortBy(e => (e.t_us, e.event_id))
          val out = Seq.newBuilder[HighRow]
          val late = sorted.filter(_.t_us < st.maxTs)
          if (late.nonEmpty)
            out += HighRow(uid, late.head.t_us, -late.size.toLong,
              late.size.toLong, None)
          sorted.foreach { e =>
            if (!st.any || e.v_micro > st.hi) {
              out += HighRow(uid, e.t_us, e.event_id, e.v_micro,
                if (st.any) Some(st.hi) else None)
              st = HighState(e.v_micro, any = true, math.max(st.maxTs, e.t_us))
            } else st = st.copy(maxTs = math.max(st.maxTs, e.t_us))
          }
          state.update(st)
          out.result().iterator
      }
  }

  final case class CdcEvent(user_id: Long, t_us: Long, event_id: Long, v_micro: Long)
  final case class CdcState(v: Long, any: Boolean, maxTs: Long = Long.MinValue)
  final case class CdcRow(op: String, user_id: Long, t_us: Long,
    event_id: Long, v_micro: Long)

  /** E56 — streaming CHANGELOG DERIVATION (the capture side of CDC,
    * the online twin of D79's snapshot diff): per key, the first
    * observation emits 'I', a value CHANGE emits 'U', an unchanged
    * re-observation emits nothing — turning a raw observation stream
    * into minimal change rows (what a poller in front of a
    * merge-into sink should forward; E21 is the apply side). ONE
    * value + seen-flag of state per key. In-order contract enforced
    * with the family's marker row (op = 'L', event_id = −late count).
    */
  def changelogStream(events: Dataset[CdcEvent]): Dataset[CdcRow] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[CdcState, CdcRow](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        case (uid, evs, state: GroupState[CdcState]) =>
          var st = state.getOption.getOrElse(CdcState(0L, any = false))
          val sorted = evs.toSeq.sortBy(e => (e.t_us, e.event_id))
          val out = Seq.newBuilder[CdcRow]
          val late = sorted.filter(_.t_us < st.maxTs)
          if (late.nonEmpty)
            out += CdcRow("L", uid, late.head.t_us, -late.size.toLong,
              late.size.toLong)
          sorted.foreach { e =>
            if (!st.any) {
              out += CdcRow("I", uid, e.t_us, e.event_id, e.v_micro)
              st = CdcState(e.v_micro, any = true, math.max(st.maxTs, e.t_us))
            } else if (e.v_micro != st.v) {
              out += CdcRow("U", uid, e.t_us, e.event_id, e.v_micro)
              st = CdcState(e.v_micro, any = true, math.max(st.maxTs, e.t_us))
            } else st = st.copy(maxTs = math.max(st.maxTs, e.t_us))
          }
          state.update(st)
          out.result().iterator
      }
  }

  final case class DebounceEvent(user_id: Long, t_us: Long, event_id: Long)
  final case class DebounceState(lastEmit: Long, any: Boolean,
    suppressedCarry: Long = 0L, maxTs: Long = Long.MinValue)
  final case class DebounceRow(user_id: Long, t_us: Long, event_id: Long,
    suppressed_since: Long)

  /** E57 — streaming DEBOUNCE (per-key rate limiter): at most one
    * emission per key per `cooldownUs` of EVENT time — the alert-storm
    * damper in front of every paging/notification sink. An event
    * emits iff it is the key's first or its event time is ≥ lastEmit +
    * cooldown; emitted rows carry how many events the cooldown
    * swallowed since the previous emission (the storm's size — what
    * the on-call wants to see). Inherently sequential per key (each
    * decision depends on the previous EMITTED time, not the previous
    * event), which is exactly what one Long of state expresses and a
    * recursive oracle replays. Family late-arrival marker on
    * cross-batch regressions (event_id = −late count).
    */
  def debounceStream(events: Dataset[DebounceEvent],
      cooldownUs: Long): Dataset[DebounceRow] = {
    require(cooldownUs > 0, s"invalid cooldownUs $cooldownUs")
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[DebounceState, DebounceRow](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        case (uid, evs, state: GroupState[DebounceState]) =>
          var st = state.getOption.getOrElse(DebounceState(0L, any = false))
          val sorted = evs.toSeq.sortBy(e => (e.t_us, e.event_id))
          val out = Seq.newBuilder[DebounceRow]
          val late = sorted.filter(_.t_us < st.maxTs)
          if (late.nonEmpty)
            out += DebounceRow(uid, late.head.t_us, -late.size.toLong,
              late.size.toLong)
          var supCount = st.suppressedCarry
          sorted.foreach { e =>
            if (!st.any || e.t_us >= st.lastEmit + cooldownUs) {
              out += DebounceRow(uid, e.t_us, e.event_id, supCount)
              supCount = 0L
              st = DebounceState(e.t_us, any = true,
                maxTs = math.max(st.maxTs, e.t_us))
            } else {
              supCount += 1L
              st = st.copy(maxTs = math.max(st.maxTs, e.t_us))
            }
          }
          state.update(st.copy(suppressedCarry = supCount))
          out.result().iterator
      }
  }

  final case class TopkCounts(counts: Map[String, Long])
  final case class TopkRow(w_start_us: Long, rank: Int, event_type: String, n: Long)

  /** E54 — STREAMING windowed top-k monitor (the online twin of the
    * per-window heavy-hitter question D31 answers at rest): per
    * tumbling event-time window, the k most frequent event types with
    * deterministic ties (count desc, then type), ONE emission per
    * window the moment the watermark closes it. State per open window
    * is one count per type — vocabulary-bounded like driftStream, not
    * event-bounded — and EventTimeTimeout frees it exactly once. The
    * dashboard shape behind "what dominated the last hour" that a
    * Complete-mode aggregation would re-emit wholesale every batch.
    */
  def topkStream(events: Dataset[DriftEvent], k: Int, windowUs: Long): Dataset[TopkRow] = {
    require(k > 0, s"invalid k $k")
    require(windowUs > 0, s"invalid windowUs $windowUs")
    import events.sparkSession.implicits._
    events.groupByKey(_.w_start_us)
      .flatMapGroupsWithState[TopkCounts, TopkRow](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout) {
        case (wStart, evs, state: GroupState[TopkCounts]) =>
          if (state.hasTimedOut) {
            val counts = state.getOption.map(_.counts).getOrElse(Map.empty[String, Long])
            state.remove()
            counts.toSeq.sortBy { case (t, c) => (-c, t) }.take(k).zipWithIndex
              .map { case ((t, c), i) => TopkRow(wStart, i + 1, t, c) }.iterator
          } else {
            val cur = state.getOption.map(_.counts).getOrElse(Map.empty[String, Long])
            val upd = evs.foldLeft(cur) { (m, e) =>
              m.updated(e.event_type, m.getOrElse(e.event_type, 0L) + 1L)
            }
            state.update(TopkCounts(upd))
            // fire when the watermark passes the window end
            state.setTimeoutTimestamp((wStart + windowUs) / 1000L)
            Iterator.empty
          }
      }
  }
  def dedupStream(events: DataFrame, idCol: String, tsCol: String,
      horizon: String): DataFrame =
    events.withWatermark(tsCol, horizon)
      .dropDuplicatesWithinWatermark(idCol)

  /** E8 — stream-stream interval join: each click paired with the same
    * user's error events in the `lookbackMinutes` before it. The
    * interval condition + watermarks bound both join-state buffers;
    * without them a stream-stream join would buffer forever.
    */
  def clickErrorJoin(clicks: DataFrame, errors: DataFrame,
      lookbackMinutes: Int): DataFrame = {
    val c = clicks.withWatermark("ts", "1 hour").alias("c")
    val e = errors.withWatermark("ts", "2 hours").alias("e")
    c.join(e, expr(
      s"""c.user_id = e.user_id AND
         |e.ts >= c.ts - INTERVAL $lookbackMinutes MINUTES AND
         |e.ts <= c.ts""".stripMargin))
      .select(col("c.event_id").as("click_id"), col("c.user_id").as("user_id"),
        col("c.ts").as("click_ts"), col("e.event_id").as("error_id"),
        col("e.ts").as("error_ts"))
  }

  /** E17 — stream-stream LEFT OUTER interval join: like [[clickErrorJoin]]
    * but clicks with NO error in the lookback window still emit (with
    * null error columns) once BOTH watermarks pass the click's
    * interval — the semantics a funnel/attribution pipeline needs to
    * distinguish "no preceding error" from "error not arrived yet".
    * State stays bounded exactly as in the inner variant; the outer
    * rows are emitted by the no-data micro-batch after the watermark
    * advances past them.
    */
  def clickErrorLeftJoin(clicks: DataFrame, errors: DataFrame,
      lookbackMinutes: Int): DataFrame = {
    val c = clicks.withWatermark("ts", "1 hour").alias("c")
    val e = errors.withWatermark("ts", "2 hours").alias("e")
    c.join(e, expr(
      s"""c.user_id = e.user_id AND
         |e.ts >= c.ts - INTERVAL $lookbackMinutes MINUTES AND
         |e.ts <= c.ts""".stripMargin), "left_outer")
      .select(col("c.event_id").as("click_id"), col("c.user_id").as("user_id"),
        col("c.ts").as("click_ts"), col("e.event_id").as("error_id"),
        col("e.ts").as("error_ts"))
  }

  /** E12 — stream-static enrichment join: each streaming row picks up
    * dimension columns from a BATCH table. Spark re-plans the static
    * side per micro-batch (so a dim refresh is picked up) and needs no
    * state or watermark for it; with a broadcastable dim the join adds
    * zero shuffle to the stream — the canonical shape for attaching
    * user/account attributes to an event stream at scale.
    */
  def enrichStream(stream: DataFrame, dim: DataFrame,
      streamKey: String, dimKey: String): DataFrame =
    stream.join(broadcast(dim), col(streamKey) === col(dimKey), "left")

  /** Convenience: run a streaming tumbling-count over a parquet
    * directory source into a memory sink; returns the query name.
    */
  def fileStreamToMemory(spark: org.apache.spark.sql.SparkSession,
      srcDir: String, schema: org.apache.spark.sql.types.StructType,
      sinkName: String): org.apache.spark.sql.streaming.StreamingQuery = {
    val src = spark.readStream.schema(schema).parquet(srcDir)
      .withWatermark("ts", "1 hour")
    tumblingCounts(src)
      .writeStream.format("memory").queryName(sinkName)
      .outputMode(OutputMode.Complete()).start()
  }

  /** E14 — checkpointed parquet file sink: Append-mode rows land in
    * `outDir` exactly once across query restarts. The file sink's
    * manifest (`_spark_metadata`) plus the checkpoint's committed
    * offsets are what make a restarted query resume AFTER its last
    * committed batch instead of reprocessing it — the property the
    * `q_stream_sink` gate proves end-to-end by restarting the query
    * between micro-batches and hash-matching the final directory
    * against a batch oracle.
    */
  def sinkExactlyOnce(stream: DataFrame, outDir: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream.format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append())
      .start()

  /** E48 — incremental-batch run (`Trigger.AvailableNow`): the query
    * processes everything available, commits, and STOPS ITSELF — the
    * operational mode that turns a streaming pipeline into a nightly/
    * hourly scheduled job with streaming's exactly-once bookkeeping
    * (offsets + sink manifest) instead of hand-rolled high-water
    * marks. Each scheduled invocation resumes after the previous
    * run's committed batches; at 100 TB this is how backfill and
    * steady-state share ONE query definition. Caller awaits
    * termination — the trigger ends the query when caught up.
    */
  def sinkAvailableNow(stream: DataFrame, outDir: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream.format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append())
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()

  /** E51 — stream-static TEMPORAL enrichment: each event picks the
    * dimension VERSION valid at ITS event time (SCD2 validity
    * intervals, valid_to = −1 for the open tail) — point-in-time
    * correctness, where the plain stream-static equi-join (E12)
    * silently applies TODAY's dimension row to yesterday's event.
    * Stateless per micro-batch (the static side re-plans per batch,
    * broadcast when small); the interval predicate rides the join, so
    * no watermark or state is involved.
    */
  def temporalEnrichStream(stream: DataFrame, dim: DataFrame,
      keyCol: String = "user_id"): DataFrame = {
    val d = dim.select(col(keyCol).as("__dk"), col("version"),
      col("status"), col("valid_from_us"), col("valid_to_us"))
    stream
      .withColumn("__t_us", unix_micros(col("ts")))
      .join(d,
        col(keyCol) === col("__dk") &&
          col("__t_us") >= col("valid_from_us") &&
          (col("valid_to_us") === -1L || col("__t_us") < col("valid_to_us")),
        "left")
      .select(col("event_id"), col(keyCol), col("__t_us").as("ts_us"),
        col("version").as("dim_version"), col("status").as("dim_status"))
  }

  /** E50 — PARTITIONED exactly-once streaming file sink: rows land
    * under `partCol=value/` directories (the landing-zone layout
    * every downstream batch reader partition-prunes on) with the same
    * manifest + offset bookkeeping as [[sinkExactlyOnce]]. At 100 TB
    * the partition column is the difference between a consumer
    * scanning one event type's directory and scanning the firehose.
    */
  def sinkPartitioned(stream: DataFrame, outDir: String,
      checkpointDir: String, partCol: String): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream.format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .partitionBy(partCol)
      .outputMode(OutputMode.Append())
      .start()

  /** The identity of a stream, stamped into the names of the per-batch
    * directories and commit markers its sinks write: the first 12 hex
    * digits of the MD5 of its checkpoint directory. Batch ids are only
    * unique WITHIN a checkpoint, so a restarted query (same checkpoint)
    * replays onto its own names idempotently, while a NEW query over
    * the same output gets its own id space instead of colliding with
    * batch 0.
    */
  def streamId(checkpointDir: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(checkpointDir.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(12)

  /** E43 — INGEST-TIME decontamination guard: the D20 benchmark-
    * overlap check running as a stream-static pass at arrival, so an
    * eval doc never enters the training corpus in the first place
    * (cheaper and safer than scrubbing after the fact). Per-doc
    * overlap depends only on the doc and the static benchmark shingle
    * set — stateless across docs — so each micro-batch runs the exact
    * batch operator (broadcast bench set, zero corpus shuffle) and
    * the streamed union of flags equals the batch answer bit-for-bit.
    * Idempotent sink: flags land under a per-batch directory keyed by
    * (checkpoint digest, batchId), so a replayed batch overwrites its
    * own output instead of double-appending.
    */
  def decontaminateStream(docs: DataFrame, bench: DataFrame, idCol: String,
      textCol: String, shingleN: Int, outDir: String, checkpointDir: String):
      org.apache.spark.sql.streaming.StreamingQuery = {
    val streamId = StreamingOps.streamId(checkpointDir)
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.operators.Decontaminate
          .overlap(batch, bench, idCol, textCol, shingleN)
          .write.mode("overwrite")
          .parquet(s"$outDir/flagged/batch_${streamId}_$batchId")
        ()
      }
      .start()
  }

  /** The epoch directories a sketch stream has landed so far, as
    * CONCRETE paths for a batch read. Reading `"$dir/epoch_*"` as one
    * glob string instead makes FileStreamSink.hasMetadata
    * getFileStatus the literal glob path, log a full (benign)
    * FileNotFoundException trace, and "assume no metadata" — the
    * unexplained stack trace in the round-14 bench tail.
    */
  def epochDirs(spark: org.apache.spark.sql.SparkSession,
      sketchDir: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(sketchDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("epoch_"))
      .map(_.getPath.toString).sorted.toSeq
  }

  /** E44 — streaming quantile monitor: each micro-batch reduces to
    * its (shard, bin, cnt) histogram rows (the D65 sketch algebra)
    * and lands them as ONE per-epoch shard directory beside the
    * persisted sketch — so a live p50/p95/p99 dashboard reads a tiny
    * fixed-width table, never the stream's history, and the answer
    * after any prefix of batches is EXACTLY the batch sketch over
    * those batches' rows (bin counts are merge-associative; nothing
    * is approximate at bin resolution). Replay-safe: the epoch
    * directory is overwritten idempotently, so a re-delivered batch
    * re-lands the same rows instead of double-counting (the
    * curateStream stream-id discipline). Query side:
    * `Sketches.quantilesFromSketchDirs(spark, epochDirs(spark, dir), ...)`.
    */
  def histogramSketchStream(docs: DataFrame, valueCol: String,
      shardCol: String, sketchDir: String, binWidth: Long,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery = {
    val streamId = StreamingOps.streamId(checkpointDir)
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.operators.Sketches
          .histogramShardRows(batch, valueCol, shardCol, binWidth)
          .write.mode("overwrite")
          .parquet(s"$sketchDir/epoch_${streamId}_$batchId")
        ()
      }
      .start()
  }

  /** E63 — the D134 KMV distinct sketch running ONLINE: each
    * micro-batch lands its own per-group bottom-k rows in an
    * epoch-stamped directory (idempotent on replay — a redelivered
    * batch overwrites its own epoch), and the final estimate merges
    * every epoch's rows through the same bottom-k-of-union identity
    * that makes the shard table exact — so the streamed estimate
    * EQUALS the one-shot batch sketch, gate-pinned. The live
    * distinct-users dashboard at 100 TB: per-batch cost is the
    * batch's (group, hash) distinct, never a corpus rescan.
    */
  def kmvSketchStream(docs: DataFrame, groupCol: String, valueCol: String,
      k: Int, sketchDir: String, checkpointDir: String):
      org.apache.spark.sql.streaming.StreamingQuery = {
    val streamId = StreamingOps.streamId(checkpointDir)
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.operators.Sketches.kmvSketch(batch, groupCol, valueCol, k)
          .write.mode("overwrite")
          .parquet(s"$sketchDir/epoch_${streamId}_$batchId")
        ()
      }
      .start()
  }

  /** E64 — the D135 CountSketch running ONLINE: each micro-batch
    * lands its own signed counter grid in an epoch-stamped directory
    * (idempotent on replay — a redelivered batch overwrites its own
    * epoch), and the final estimate merges every epoch by CELLWISE
    * SUM — exact because the grid is a linear function of the
    * frequency vector, so the merged grid EQUALS the one-shot batch
    * grid (the additive twin of E63's bottom-k-of-union identity).
    * Per-batch cost is the batch's token explode + a grid-sized
    * aggregate, never a corpus rescan.
    */
  def countSketchStream(docs: DataFrame, valueCol: String, width: Int,
      depth: Int, sketchDir: String, checkpointDir: String):
      org.apache.spark.sql.streaming.StreamingQuery = {
    val streamId = StreamingOps.streamId(checkpointDir)
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.operators.Sketches.countSketchGrid(batch, valueCol, width, depth)
          .write.mode("overwrite")
          .parquet(s"$sketchDir/epoch_${streamId}_$batchId")
        ()
      }
      .start()
  }

  /** E65 — D135c's heavy-hitter TOP-K extraction ONLINE: each
    * micro-batch lands its own signed grid (under `grid/`) AND its
    * own exact token-count partial (under `counts/`), both
    * epoch-stamped and replay-idempotent (a redelivered batch
    * overwrites its own epoch). Final extraction
    * ([[graft.operators.Sketches.countSketchTopKFrom]]) merges the
    * grids cellwise (linearity) and the count partials by plain sum,
    * so the streamed top-k EQUALS the one-shot batch extraction over
    * the concatenated stream — gate-pinned against the SAME oracle as
    * the batch gate. Per-batch cost: the batch's token explode plus
    * one grid-sized and one batch-vocabulary-sized aggregate; the
    * corpus is never rescanned.
    */
  def countSketchTopKStream(docs: DataFrame, valueCol: String, width: Int,
      depth: Int, sketchDir: String, checkpointDir: String):
      org.apache.spark.sql.streaming.StreamingQuery = {
    import org.apache.spark.sql.functions.{col, count, lit}
    val streamId = StreamingOps.streamId(checkpointDir)
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.operators.Sketches.countSketchGrid(batch, valueCol, width, depth)
          .write.mode("overwrite")
          .parquet(s"$sketchDir/grid/epoch_${streamId}_$batchId")
        batch.groupBy(col(valueCol).cast("string").as("token"))
          .agg(count(lit(1)).as("true_count"))
          .write.mode("overwrite")
          .parquet(s"$sketchDir/counts/epoch_${streamId}_$batchId")
        ()
      }
      .start()
  }

  /** E66 — the centroid-REFRESH loop of the E35 semantic router
    * running ONLINE (mini-batch k-means in the Sculley WWW'10 shape,
    * exact): each micro-batch assigns its vectors to the FIXED
    * current centroids and lands one kilobyte-sized per-cluster
    * sufficient-statistic partial (cluster, n, Σ components) in an
    * epoch-stamped directory (idempotent on replay — a redelivered
    * batch overwrites its own epoch). Assignment frozen at the seed
    * makes the Lloyd update LINEAR in the data, so partials merge by
    * plain sums and the refreshed centroids EQUAL the one-shot batch
    * refinement over the concatenated stream — the additive identity
    * of E63/E64, applied to the router's update side. Per-batch cost:
    * the batch's assignment projection + one k-row aggregate; the
    * corpus is never rescanned and no vector is retained.
    */
  def centroidStatsStream(docs: DataFrame, idCol: String, vecCol: String,
      centroids: Array[Array[Long]], dim: Int, statsDir: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery = {
    val streamId = StreamingOps.streamId(checkpointDir)
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.operators.Clustering
          .centroidStatsPartial(batch, idCol, vecCol, centroids, dim)
          .write.mode("overwrite")
          .parquet(s"$statsDir/epoch_${streamId}_$batchId")
        ()
      }
      .start()
  }

  /** E45 — the D113 duplicated-span guard running ONLINE: every
    * micro-batch (1) probes the persisted gram index and lands its
    * span report, then (2) appends its own NOVEL grams — so batch 2
    * is checked against corpus ∪ batch 1, exactly the ingest-time
    * loop (a span duplicated only between two in-flight batches IS
    * caught, at one batch of latency). Report directories are
    * stamped with the stream id + batch id (the curateStream
    * discipline) so a replayed batch overwrites its own report
    * idempotently; the append side is naturally idempotent (anti-join
    * adds nothing on re-delivery).
    */
  def spanGuardStream(docs: DataFrame, idCol: String, textCol: String,
      indexDir: String, outDir: String, checkpointDir: String):
      org.apache.spark.sql.streaming.StreamingQuery = {
    val streamId = StreamingOps.streamId(checkpointDir)
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        graft.operators.Dedup
          .incrementalDuplicatedSpans(spark, indexDir, batch, idCol, textCol)
          .write.mode("overwrite")
          .parquet(s"$outDir/spans/batch_${streamId}_$batchId")
        graft.operators.Dedup
          .appendGramIndex(spark, indexDir, batch, idCol, textCol)
        ()
      }
      .start()
  }

  /** E15 — continuous corpus curation: each micro-batch is exact-
    * deduped against the corpus's hash index ([[graft.operators.Dedup.incremental]])
    * and its survivors are appended under `corpusDir`:
    *  - `docs/`, the survivors, partitioned by (stream_id, batch_id);
    *  - `hashes/`, the hash index: parquet with the fixed schema
    *    (content_hash string, stream_id string, batch_id long). It is
    *    read with that schema, so no batch runs an inference job; a
    *    missing directory is an empty index.
    *
    * A batch's hashes append lands last, so it is the batch's commit
    * marker: a batch whose (stream_id, batch_id) is already in the
    * index was committed before a restart and is skipped. Only the
    * first batch a query run executes checks (the flag lives in the
    * `foreachBatch` closure, which runs on the driver, one batch at a
    * time): on restart Spark re-runs at most one batch, the last one in
    * the offset log with no commit-log entry, and that is always the
    * run's first batch; inside a run a failing batch stops the query.
    */
  def curateStream(docs: DataFrame, idCol: String, textCol: String,
      corpusDir: String, checkpointDir: String):
      org.apache.spark.sql.streaming.StreamingQuery = {
    val streamId = StreamingOps.streamId(checkpointDir)
    var firstOfRun = true
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val hashesDir = s"$corpusDir/hashes"
        import spark.implicits._
        val hp = new org.apache.hadoop.fs.Path(hashesDir)
        val index =
          if (hp.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(hp))
            Some(spark.read.schema("content_hash STRING, stream_id STRING, batch_id BIGINT")
              .parquet(hashesDir))
          else None
        val replay = firstOfRun && index.exists(h =>
          !h.filter(col("batch_id") === batchId && col("stream_id") === streamId).isEmpty)
        firstOfRun = false
        if (!replay) {
          val known = index.map(_.select("content_hash"))
            .getOrElse(Seq.empty[String].toDF("content_hash"))
          // localCheckpoint: `fresh` feeds two writes and must not
          // re-read the hash index mid-append
          val fresh = graft.operators.Dedup
            .incremental(batch, known, idCol, textCol)
            .localCheckpoint()
          // batch-stamped dynamic partition overwrite: a replayed
          // batch REPLACES its own docs partition instead of
          // double-appending (crash between the two writes is the
          // dangerous window; this makes the docs write idempotent)
          fresh.drop("content_hash")
            .withColumn("stream_id", lit(streamId))
            .withColumn("batch_id", lit(batchId))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("stream_id", "batch_id")
            .parquet(s"$corpusDir/docs")
          fresh.select(col("content_hash"), lit(streamId).as("stream_id"),
              lit(batchId).as("batch_id"))
            .write.mode("append").parquet(hashesDir)
        }
      }
      .start()
  }

  /** E21 — streaming CDC apply: each micro-batch of change rows
    * MERGEs into the shard-partitioned corpus table
    * (MergeUpsert.upsertPartitioned — replace-by-key ∪ insert,
    * partition-pruned rewrite). Exactly-once needs no commit marker
    * here, unlike the append-mode curateStream above: replaying a
    * batch re-upserts the same rows into the same keys, so the
    * post-state is identical — the merge is idempotent by
    * construction. Batches apply sequentially (micro-batch
    * semantics), so last-write-wins ordering across batches is the
    * stream order.
    */
  def upsertStream(changes: DataFrame, tablePath: String, keyCol: String,
      partCol: String, checkpointDir: String):
      org.apache.spark.sql.streaming.StreamingQuery =
    changes.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty)
          graft.operators.MergeUpsert.upsertPartitioned(
            batch.sparkSession, tablePath, batch, keyCol, partCol)
      }
      .start()

  /** E37 — streaming materialized-view maintenance: each micro-batch
    * MERGEs into the keyed table AND incrementally updates its
    * (group, n_rows, sum_val) rollup — the table's dashboards never
    * wait for a full re-aggregation. Per-batch cost is bounded by the
    * batch's partition spread (retraction rows read behind the same
    * directory pruning as the merge); the rollup rewrite is
    * dimension-sized. Replay-safe: the delta application is guarded
    * by a per-epoch marker (MergeUpsert.upsertWithMaintainedAgg), so
    * a batch re-delivered after a restart re-runs only the idempotent
    * merge, never a double retraction.
    */
  def maintainedUpsertStream(changes: DataFrame, tablePath: String,
      aggPath: String, keyCol: String, partCol: String, groupCol: String,
      valCol: String, checkpointDir: String):
      org.apache.spark.sql.streaming.StreamingQuery =
    changes.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty)
          graft.operators.MergeUpsert.upsertWithMaintainedAgg(
            batch.sparkSession, tablePath, aggPath, batch, keyCol, partCol,
            groupCol, valCol, batchId)
      }
      .start()

  final case class CounterEvent(user_id: Long, v_micro: Long)
  final case class CounterTotals(n: Long, sum_micro: Long)
  final case class CounterUpdate(user_id: Long, n: Long, sum_micro: Long)

  /** E29 — arbitrary stateful processing v2 (`transformWithState`,
    * the Spark 4 StatefulProcessor API that replaces
    * mapGroupsWithState for new work): a per-user running (count,
    * integer-micro sum) held in typed `ValueState`, emitting the
    * updated totals once per key per micro-batch. Integer sums are
    * fold-order-exact, so the emitted totals are deterministic
    * whatever the per-batch row order — after the final batch the
    * last row per user equals the batch groupBy, which is the gate's
    * oracle contract. Requires the RocksDB state store provider
    * (transformWithState's backing store); state is one fixed-width
    * record per user, sharded by key across executors.
    */
  final class RunningCounter
      extends StatefulProcessor[Long, CounterEvent, CounterUpdate] {
    @transient private var totals: ValueState[CounterTotals] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      totals = getHandle.getValueState[CounterTotals](
        "totals", Encoders.product[CounterTotals], TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[CounterEvent],
        timerValues: TimerValues): Iterator[CounterUpdate] = {
      var st = if (totals.exists()) totals.get() else CounterTotals(0L, 0L)
      rows.foreach(e => st = CounterTotals(st.n + 1, st.sum_micro + e.v_micro))
      totals.update(st)
      Iterator.single(CounterUpdate(key, st.n, st.sum_micro))
    }
  }

  /** Keyed wiring for [[RunningCounter]]; expects (user_id, v_micro). */
  def runningCounts(events: Dataset[CounterEvent]): Dataset[CounterUpdate] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new RunningCounter, TimeMode.None(), OutputMode.Update())
  }

  final case class CounterSnapshot(user_id: Long, n: Long, sum_micro: Long)

  /** E32 — warm-started stateful processing
    * (`StatefulProcessorWithInitialState`): state bootstraps from a
    * BATCH snapshot table before the first micro-batch — the
    * migration/recovery shape that lets a new streaming job pick up
    * exactly where a batch backfill (or a decommissioned job's
    * exported state) left off, instead of replaying history.
    * `handleInitialState` seeds each key's ValueState; subsequent
    * batches fold on top, so final totals must equal
    * snapshot ⊕ streamed — the gate's oracle states that over the
    * union.
    */
  final class WarmStartCounter
      extends StatefulProcessorWithInitialState[
        Long, CounterEvent, CounterUpdate, CounterSnapshot] {
    @transient private var totals: ValueState[CounterTotals] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      totals = getHandle.getValueState[CounterTotals](
        "totals", Encoders.product[CounterTotals], TTLConfig.NONE)

    override def handleInitialState(key: Long, initialState: CounterSnapshot,
        timerValues: TimerValues): Unit =
      totals.update(CounterTotals(initialState.n, initialState.sum_micro))

    override def handleInputRows(key: Long, rows: Iterator[CounterEvent],
        timerValues: TimerValues): Iterator[CounterUpdate] = {
      var st = if (totals.exists()) totals.get() else CounterTotals(0L, 0L)
      rows.foreach(e => st = CounterTotals(st.n + 1, st.sum_micro + e.v_micro))
      totals.update(st)
      Iterator.single(CounterUpdate(key, st.n, st.sum_micro))
    }
  }

  /** Keyed wiring for [[WarmStartCounter]]: `snapshot` is the batch
    * state table the stream resumes from.
    */
  def warmStartCounts(events: Dataset[CounterEvent],
      snapshot: Dataset[CounterSnapshot]): Dataset[CounterUpdate] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new WarmStartCounter, TimeMode.None(),
        OutputMode.Update(), snapshot.groupByKey(_.user_id))
  }

  final case class TypedEvent(user_id: Long, event_type: String)
  final case class TypeCount(user_id: Long, event_type: String, n: Long)

  /** E31 — `MapState` in transformWithState: a per-key MAP of
    * sub-keys to values (here: per-user counts per event type), the
    * state primitive that avoids the read-modify-write of a whole
    * serialized map per update — RocksDB stores each (key, mapKey)
    * entry separately, so touching one event type never rewrites the
    * user's other counters. Emits the updated (type, n) entries each
    * batch; integer counts make emissions deterministic under any
    * per-batch row order.
    */
  final class TypeCounter extends StatefulProcessor[Long, TypedEvent, TypeCount] {
    @transient private var counts: MapState[String, Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      counts = getHandle.getMapState[String, Long](
        "counts", Encoders.STRING, Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[TypedEvent],
        timerValues: TimerValues): Iterator[TypeCount] = {
      val touched = scala.collection.mutable.LinkedHashSet.empty[String]
      rows.foreach { e =>
        val cur = if (counts.containsKey(e.event_type)) counts.getValue(e.event_type) else 0L
        counts.updateValue(e.event_type, cur + 1L)
        touched += e.event_type
      }
      touched.iterator.map(t => TypeCount(key, t, counts.getValue(t)))
    }
  }

  /** Keyed wiring for [[TypeCounter]]. */
  def typeCounts(events: Dataset[TypedEvent]): Dataset[TypeCount] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new TypeCounter, TimeMode.None(), OutputMode.Update())
  }

  final case class RecentInput(user_id: Long, ts_us: Long, event_id: Long,
      v_micro: Long)
  final case class RecentEvent(ts_us: Long, event_id: Long, v_micro: Long)
  final case class RecentBuffer(user_id: Long, last_ts_us: Long,
      n_recent: Long, recent_sum_micro: Long)

  /** E33 — `ListState` in transformWithState: a per-key ORDERED
    * buffer (here: each user's K most recent events by (ts, id)),
    * the sliding-context primitive feature stores and recent-history
    * models need. Entries append/rewrite as a list, not a serialized
    * blob inside one value. Emits the buffer summary each batch;
    * `last_ts_us` is monotonic across batches, so the final buffer is
    * the arg-max emission whatever the batch split.
    */
  final class RecentKeeper(k: Int)
      extends StatefulProcessor[Long, RecentInput, RecentBuffer] {
    @transient private var buf: ListState[RecentEvent] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      buf = getHandle.getListState[RecentEvent](
        "recent", Encoders.product[RecentEvent], TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[RecentInput],
        timerValues: TimerValues): Iterator[RecentBuffer] = {
      val merged = (buf.get().toSeq ++
          rows.map(e => RecentEvent(e.ts_us, e.event_id, e.v_micro)))
        .sortBy(e => (-e.ts_us, -e.event_id))
        .take(k)
      buf.put(merged.toArray)
      Iterator.single(RecentBuffer(key, merged.head.ts_us,
        merged.length.toLong, merged.map(_.v_micro).sum))
    }
  }

  /** Keyed wiring for [[RecentKeeper]]. */
  def recentBuffers(events: Dataset[RecentInput], k: Int): Dataset[RecentBuffer] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new RecentKeeper(k), TimeMode.None(), OutputMode.Update())
  }

  final case class TimedEvent(user_id: Long, ts: java.time.Instant)
  final case class SessionAcc(sessionId: Long, startUs: Long, lastUs: Long,
      n: Long, timerMs: Long)
  final case class ClosedSession(user_id: Long, session_id: Long,
      n_events: Long, start_us: Long, end_us: Long)

  /** E30 — transformWithState with EVENT-TIME TIMERS: sessions close
    * either in-batch (a later event arrives past the gap) or — the
    * part mapGroupsWithState timeouts did crudely and timers do
    * precisely — when the WATERMARK passes lastEvent+gap, via
    * `registerTimer`/`handleExpiredTimer`. Exactly one timer lives
    * per key (the previous one is deleted on every update, its expiry
    * tracked in state), and a stale-timer guard re-checks the session
    * is really idle before closing, so a timer racing a same-batch
    * extension can never truncate a live session. Emitted sessions
    * carry ordinals, so the complete output equals the batch
    * lag/cumsum sessionization row-for-row.
    */
  final class SessionCloser(gapUs: Long)
      extends StatefulProcessor[Long, TimedEvent, ClosedSession] {
    @transient private var acc: ValueState[SessionAcc] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      acc = getHandle.getValueState[SessionAcc](
        "acc", Encoders.product[SessionAcc], TTLConfig.NONE)

    private def us(t: java.time.Instant): Long =
      t.getEpochSecond * 1000000L + t.getNano / 1000L

    override def handleInputRows(key: Long, rows: Iterator[TimedEvent],
        timerValues: TimerValues): Iterator[ClosedSession] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[ClosedSession]
      // sort within the batch: arrival order inside a micro-batch is
      // partition-dependent, event-time order is the contract
      val sorted = rows.map(e => us(e.ts)).toSeq.sorted
      var st = if (acc.exists()) acc.get() else null
      sorted.foreach { t =>
        if (st == null) st = SessionAcc(1L, t, t, 1L, 0L)
        else if (t - st.lastUs > gapUs) {
          out += ClosedSession(key, st.sessionId, st.n, st.startUs, st.lastUs)
          st = SessionAcc(st.sessionId + 1, t, t, 1L, st.timerMs)
        } else st = SessionAcc(st.sessionId, st.startUs, t, st.n + 1, st.timerMs)
      }
      if (st != null) {
        if (st.timerMs > 0) getHandle.deleteTimer(st.timerMs)
        val expiry = st.lastUs / 1000L + gapUs / 1000L + 1L
        getHandle.registerTimer(expiry)
        acc.update(SessionAcc(st.sessionId, st.startUs, st.lastUs, st.n, expiry))
      }
      out.iterator
    }

    override def handleExpiredTimer(key: Long, timerValues: TimerValues,
        expiredTimerInfo: org.apache.spark.sql.streaming.ExpiredTimerInfo):
        Iterator[ClosedSession] = {
      if (!acc.exists()) Iterator.empty
      else {
        val st = acc.get()
        // stale-timer guard: only close if the session is idle past
        // the gap at this expiry
        if (expiredTimerInfo.getExpiryTimeInMs >= st.lastUs / 1000L + gapUs / 1000L) {
          acc.clear()
          Iterator.single(ClosedSession(key, st.sessionId, st.n, st.startUs, st.lastUs))
        } else Iterator.empty
      }
    }
  }

  /** Keyed wiring for [[SessionCloser]]: the input must carry a
    * WATERMARK on `ts` (event-time timers fire against it).
    */
  def timerSessions(events: Dataset[TimedEvent], gapSeconds: Long):
      Dataset[ClosedSession] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new SessionCloser(gapSeconds * 1000000L),
        TimeMode.EventTime(), OutputMode.Append())
  }
}
