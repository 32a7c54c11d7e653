package graft.streaming

import graft.functions.GraftFunctions.textDedupKey
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** A typed event row — mirrors the `events` table schema (TESTDATA.md). */
final case class Event(
    event_id: Long, ts: java.sql.Timestamp, user_id: Long,
    event_type: String, value: Double)

final case class SessionState(
    sessionSeq: Long, lastUs: Long, nEvents: Long, firstEvent: Long)

final case class SessionUpdate(
    user_id: Long, session_seq: Long, n_events: Long, first_event: Long,
    session_id: String)

object SessionUpdate {
  /** The PRIMARY session key for sinks. With state eviction a returning
    * user restarts `session_seq` at 1 per state era, so
    * (user_id, session_seq) is NOT globally unique — a latest-wins sink
    * keyed that way would overwrite an old session's totals. Only
    * (user_id, first_event) is stable across eras and replays (the batch
    * twin's `min(event_id)`), so that pair IS the session identity. */
  def of(userId: Long, sessionSeq: Long, nEvents: Long,
         firstEvent: Long): SessionUpdate =
    SessionUpdate(userId, sessionSeq, nEvents, firstEvent,
      s"$userId:$firstEvent")
}

final case class HotleadAlert(user_id: Long, event_id: Long, value: Double)

final case class StateChangeMemo(lastState: String, lastUs: Long)

final case class StateChange(
    user_id: Long, state: String, from_us: Long, event_id: Long)

final case class LatestRow(
    user_id: Long, us: Long, last_event: Long, last_type: String,
    last_value: Double)

final case class FunnelProgress(times: Seq[Long])

final case class FunnelAdvance(
    user_id: Long, stage_idx: Int, stage: String, us: Long)

/** Windowed-funnel DP state: `com`/`acc` are the latest chain-start per
  * depth strictly-before / up-to `curTs` (Long.MinValue = none);
  * `emitted` counts depths already announced. */
final case class WindowedFunnelProgress(
    curTs: Long, com: Seq[Long], acc: Seq[Long], emitted: Int)

final case class TouchAttribution(
    user_id: Long, first_touch: String, event_id: Long, value: Double)

/** Multi-touch accumulator: the user's pre-conversion touch profile —
  * first/last channel, touch count, per-channel counts — plus a
  * converted tombstone so events after the first purchase are ignored.
  * O(channels) per user, independent of stream length. */
final case class MultiTouchMemo(firstCh: String, lastCh: String,
    n: Long, counts: Map[String, Long], converted: Boolean)

final case class TouchCredit(user_id: Long, channel: String,
    credit: Double, attributed: Double)

/** Decay-attribution accumulator: per-channel sums of 2^((us−base)/τ),
  * REBASED to the newest touch so the exponent never overflows — at
  * conversion the common 2^((base−p_us)/τ) factor cancels in the
  * normalization, so per-channel sums are all the state needed
  * (O(channels), never the touch list). */
final case class DecayTouchMemo(baseUs: Long, sums: Map[String, Double],
    converted: Boolean)

/** EWMA ring state: the last ≤ window+1 values (oldest first) + the
  * running row number — O(window) per key, independent of stream length. */
final case class EwmaMemo(recent: Seq[Double], rn: Long)

/** Rolling-window state for the streaming z-score monitor: the last
  * ≤ window values per key — O(window), independent of stream length. */
final case class RollMemo(recent: Seq[Double])

final case class ZscoreAlert(user_id: Long, event_id: Long, value: Double,
    z: Double)

/** CUSUM state: the rebased prefix sum, its running min (floored at 0),
  * and the row counter — O(1) per user regardless of stream length (the
  * payoff of the rebasing identity over the max(0,·) recurrence). */
final case class CusumMemo(s: Double, mn: Double, rn: Long)

final case class CusumAlert(user_id: Long, rn: Long, event_id: Long,
    cusum: Double)

/** One live count-min counter: sketch row id, bucket, running count. */
final case class CmsCell(row: Int, bucket: Long, cnt: Long)

final case class SoftDedupWeight(text_hash: String, n_copies: Long,
                                 weight: Double)

/** One live HyperLogLog register: group, register index, max ρ so far. */
final case class HllRegister(group: String, bucket: Long, rho: Int)

/** Rolling drift emission: one tumbling event-time window's PSI against
  * the fixed baseline histogram, re-emitted as the window's counts grow. */
final case class PsiUpdate(window_start_us: Long, n: Long, psi: Double)

final case class KmvEstimate(group: String, n_kept: Int, est: Double)

final case class BloomBit(bit: Long)

/** Reservoir state: the k rows with the smallest (md5 coin, id) keys seen
  * so far for one group, plus an emission counter — O(k) per group. */
final case class ReservoirMemo(
    coins: Seq[String], ids: Seq[Long], values: Seq[Double], seq: Long)

final case class ReservoirRow(
    event_type: String, seq: Long, rnk: Int, event_id: Long, value: Double)

final case class EwmaPoint(user_id: Long, rn: Long, event_id: Long,
    ewma: Double)

/** Structured-Streaming twins of the batch operators: the same logical
  * semantics expressed over an unbounded source (`readStream` → transform →
  * `writeStream`), with state bounded by watermarks where the operator
  * allows it.
  *
  * The reference is batch-only (SURVEY §1 "No streams"); these exist
  * because a 100 TB training-data pipeline ingests continuously — the same
  * dedup/session/count operators must run on the live stream and the
  * backfill batch with one semantics. Each op here is paired with its batch
  * twin (Relational.sessionize, LlmData.dedupExact, groupBy aggs).
  */
object StreamOps {

  /** Exact event-time MICROS from a Timestamp. `getTime` truncates to
    * milliseconds; the batch twins compare full-precision timestamps
    * (the events table is nanosecond parquet), so sub-ms ordering — two
    * events inside the same millisecond — would silently diverge
    * between the stream and the batch without the getNanos term. */
  private def micros(ts: java.sql.Timestamp): Long =
    Math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000L


  /** Tumbling-window event counts with a watermark. State is bounded: late
    * rows beyond `watermark` are dropped, closed windows are evicted.
    * Batch twin: `events.groupBy(window(ts), event_type).count`. */
  def windowedEventCounts(events: DataFrame, watermark: String = "1 hour",
                          windowLen: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"))

  /** Gap-based sessionization over a keyed stream via
    * `flatMapGroupsWithState` — the streaming twin of
    * `Relational.sessionize` (12h gap ⇒ same session content on the same
    * data). Emits the running totals of every session touched in the
    * batch; per-user state is one small struct (seq, last-seen, counters).
    *
    * State is EVICTED: a user idle past the gap can never extend their
    * open session (the input is watermarked, so every surviving future
    * event sits strictly past `lastUs + gapUs` once the watermark does),
    * so each user's state carries an event-time timeout at last-seen +
    * gap; when the watermark passes it the user emits one final
    * idempotent [[SessionUpdate]] (same totals as the last emission —
    * latest-wins consumers see no change) and the key is removed. A
    * returning user starts a fresh state era, so `session_seq` restarts
    * at 1 per era; sessions are globally identified by
    * (user_id, first_event) — the batch twin emits the same
    * `min(event_id)` — so every update also carries that identity
    * pre-joined as the `session_id` column ([[SessionUpdate.of]]): sinks
    * key on it, never on the era-scoped `session_seq`. On replay the
    * emitted (user_id, first_event, n_events) set equals the batch
    * twin's. */
  def sessionize(events: Dataset[Event],
                 gapUs: Long = 12L * 3600 * 1000000,
                 watermarkDelay: String = "1 hour"): Dataset[SessionUpdate] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, evs: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            // idle past the gap: the open session is final — emit it one
            // last time (idempotent) and drop the user's state entirely
            val st = state.get
            state.remove()
            if (st.nEvents > 0)
              Iterator.single(
                SessionUpdate.of(uid, st.sessionSeq, st.nEvents, st.firstEvent))
            else Iterator.empty
          } else {
            val sorted = evs.toSeq.sortBy(e => (micros(e.ts), e.event_id))
            var st = state.getOption
              .getOrElse(SessionState(0L, Long.MinValue, 0L, 0L))
            val touched = Seq.newBuilder[SessionUpdate]
            sorted.foreach { e =>
              val us = micros(e.ts)
              st =
                if (st.lastUs == Long.MinValue || us - st.lastUs > gapUs) {
                  if (st.nEvents > 0)
                    touched += SessionUpdate.of(uid, st.sessionSeq, st.nEvents, st.firstEvent)
                  SessionState(st.sessionSeq + 1, us, 1L, e.event_id)
                } else st.copy(lastUs = us, nEvents = st.nEvents + 1)
            }
            if (st.nEvents > 0)
              touched += SessionUpdate.of(uid, st.sessionSeq, st.nEvents, st.firstEvent)
            state.update(st)
            // evict once the watermark passes last-seen + gap. Ceil to ms
            // (timeouts are ms, event times µs) so an event EXACTLY at the
            // gap boundary — same session under the batch `> gap` rule —
            // still arrives before the timeout can fire; and keep the
            // timestamp strictly ahead of the current watermark (Spark
            // rejects a timeout at/behind it).
            val gapEndMs = Math.floorDiv(st.lastUs + gapUs, 1000L) + 1
            state.setTimeoutTimestamp(
              math.max(gapEndMs, state.getCurrentWatermarkMs() + 1))
            touched.result().iterator
          }
      }
  }

  /** First-qualifying-event alert per user — the streaming twin of the
    * hotlead rule (publish/HotleadTransformer; WebCustomMetrics first-
    * hotlead-page attribution: `groupBy(visitors).agg(min(page))`). Each
    * user alerts AT MOST ONCE across the whole stream: per-user state is a
    * single boolean, flipped on the first event with `value >= threshold`.
    * Later qualifying events emit nothing — exactly the batch `min(page)`
    * semantics, without retaining per-event state. */
  def hotleadAlerts(events: Dataset[Event],
                    threshold: Double): Dataset[HotleadAlert] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (uid: Long, evs: Iterator[Event], state: GroupState[Boolean]) =>
          if (state.getOption.contains(true)) Iterator.empty
          else {
            val hit = evs.toSeq.sortBy(e => (micros(e.ts), e.event_id))
              .find(_.value >= threshold)
            hit match {
              case Some(e) =>
                state.update(true)
                Iterator.single(HotleadAlert(uid, e.event_id, e.value))
              case None => Iterator.empty
            }
          }
      }
  }

  /** Latest-wins key compaction over a stream — the CDC/upsert
    * materialization: each micro-batch emits the new latest row for every
    * key it touched (Update mode sinks overwrite by key). Ordering matches
    * the batch twin `EventOpsPack.latestByKey` exactly: lexicographic on
    * (event-time micros, event_id), so replaying the stream and running the
    * batch compaction produce identical tables. Per-key state is ONE row. */
  def latestByKey(events: Dataset[Event]): Dataset[LatestRow] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (uid: Long, evs: Iterator[Event], state: GroupState[LatestRow]) =>
          val incoming = evs.map(e => LatestRow(uid, micros(e.ts),
            e.event_id, e.event_type, e.value))
          val best = (state.getOption.iterator ++ incoming)
            .maxBy(r => (r.us, r.last_event))
          state.update(best)
          best
      }
  }

  /** Streaming state-change compression — the live twin of
    * `EventOpsPack.scd2Intervals`' first stage: per user, emit only events
    * whose event_type differs from the last seen state, collapsing runs of
    * identical states as they arrive. Per-user state is ONE small struct
    * (last state + last-seen order key), so state size is |users|, not
    * |events|; an SCD2 sink closes the previous validity interval on each
    * emitted change. Ordering matches the batch twin: (event-time micros,
    * event_id). */
  def stateChanges(events: Dataset[Event]): Dataset[StateChange] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, evs: Iterator[Event], state: GroupState[StateChangeMemo]) =>
          val sorted = evs.toSeq.sortBy(e => (micros(e.ts), e.event_id))
          var memo = state.getOption.getOrElse(StateChangeMemo("", Long.MinValue))
          val out = Seq.newBuilder[StateChange]
          sorted.foreach { e =>
            val us = micros(e.ts)
            if (memo.lastUs == Long.MinValue || e.event_type != memo.lastState) {
              out += StateChange(uid, e.event_type, us, e.event_id)
              memo = StateChangeMemo(e.event_type, us)
            } else memo = memo.copy(lastUs = us)
          }
          state.update(memo)
          out.result().iterator
      }
  }

  /** Streaming funnel progress — the live twin of
    * `EventOpsPack.funnelStepsOf`: per user, a stage qualifies only
    * STRICTLY AFTER the user's qualifying previous-stage event (the same
    * strict event order as the batch min-agg chain). Emits one
    * [[FunnelAdvance]] the moment a user first reaches each stage, so
    * `count(*) GROUP BY stage_idx` over the emitted stream IS the batch
    * funnel's n_<stage> column on an in-order replay (StreamOpsSpec
    * proves the equality). Per-user state is |stages| longs — a
    * config-sized array, never event-sized. */
  def funnelAdvances(events: Dataset[Event],
                     stages: Seq[String]): Dataset[FunnelAdvance] = {
    require(stages.size >= 2,
      s"funnel needs >= 2 ordered stages, got ${stages.size}")
    require(stages.distinct.size == stages.size,
      s"funnel stages must be distinct, got ${stages.mkString(",")}")
    import events.sparkSession.implicits._
    val idx = stages.zipWithIndex.toMap
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, evs: Iterator[Event], state: GroupState[FunnelProgress]) =>
          val sorted = evs.toSeq.sortBy(e => (micros(e.ts), e.event_id))
          val times = state.getOption.map(_.times.toArray)
            .getOrElse(Array.fill(stages.size)(Long.MinValue))
          val out = Seq.newBuilder[FunnelAdvance]
          sorted.foreach { e =>
            idx.get(e.event_type).foreach { k =>
              val us = micros(e.ts)
              val prevOk = k == 0 ||
                (times(k - 1) != Long.MinValue && us > times(k - 1))
              if (times(k) == Long.MinValue && prevOk) {
                times(k) = us
                out += FunnelAdvance(uid, k, stages(k), us)
              }
            }
          }
          state.update(FunnelProgress(times.toSeq))
          out.result().iterator
      }
  }

  /** Streaming TIME-BOUNDED funnel — the live twin of
    * `EventOpsPack.funnelWindowedOf`: a user advances to stage k only if
    * some strictly-ordered stage chain fits inside `windowUs` (last −
    * first). The batch side's chain DP carries over VERBATIM: per user,
    * the latest chain-start per depth (`acc`), double-buffered against a
    * strictly-earlier copy (`com`) so same-timestamp events never chain —
    * the state is 2·|stages| longs plus a watermark-free cursor, persisted
    * across micro-batches, so the incremental scan IS the batch scan cut
    * at batch boundaries. Emits one [[FunnelAdvance]] the first time each
    * depth is reached; `count(*) GROUP BY stage_idx` over the emitted
    * stream equals the batch funnel's n_<stage> on an in-order replay
    * (StreamOpsSpec proves the equality, late re-anchor case included).
    * Cross-batch LATE events (older than the user's cursor) are DROPPED:
    * folding one into newer state could chain it onto a chain whose last
    * event happened after it — a false advance append mode can never
    * retract — so lateness may under-count (like any unretractable
    * append stream) but never over-counts. */
  def windowedFunnelAdvances(events: Dataset[Event], stages: Seq[String],
                             windowUs: Long,
                             watermarkDelay: String = "1 hour"): Dataset[FunnelAdvance] = {
    require(stages.size >= 2,
      s"funnel needs >= 2 ordered stages, got ${stages.size}")
    require(stages.distinct.size == stages.size,
      s"funnel stages must be distinct, got ${stages.mkString(",")}")
    require(windowUs > 0, s"funnel window must be positive, got $windowUs")
    import events.sparkSession.implicits._
    val idx = stages.zipWithIndex.toMap
    val k = stages.size
    val none = Long.MinValue // sentinel: no chain at this depth yet
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, evs: Iterator[Event], state: GroupState[WindowedFunnelProgress]) =>
          if (state.hasTimedOut) {
            // the watermark passed curTs + window: every stored chain
            // start is ≤ curTs and every surviving future event is past
            // curTs + window, so no cursor can seed a chain again. A user
            // who never advanced is indistinguishable from a fresh one —
            // drop the key. An advanced user must keep `emitted` forever
            // (append mode can never retract a duplicate advance) but
            // sheds the lapsed cursor arrays to the empty compact form.
            val st = state.get
            if (st.emitted == 0) state.remove()
            else state.update(WindowedFunnelProgress(
              st.curTs, Seq.empty, Seq.empty, st.emitted))
            Iterator.empty
          } else {
            val sorted = evs.toSeq.sortBy(e => (micros(e.ts), e.event_id))
            val st = state.getOption.getOrElse(WindowedFunnelProgress(
              none, Seq.fill(k)(none), Seq.fill(k)(none), 0))
            var curTs = st.curTs
            // a timeout-compacted state stores empty cursors (all chains
            // lapsed) — expand back to the all-`none` form on read
            var com = if (st.com.isEmpty) Array.fill(k)(none)
              else st.com.toArray // best starts at ts < curTs (readable)
            val acc = if (st.acc.isEmpty) Array.fill(k)(none)
              else st.acc.toArray // best starts at ts <= curTs (writable)
            var emitted = st.emitted
            var sawStage = false
            val out = Seq.newBuilder[FunnelAdvance]
            sorted.foreach { e =>
              idx.get(e.event_type).foreach { d => // 0-based depth
                val t = micros(e.ts)
                sawStage = true
                // DROP cross-batch late events (t < curTs): folding one into
                // the ≥curTs state could chain it onto a stored chain whose
                // last event happened AFTER it — emitting a FALSE advance
                // that append mode can never retract. Skipping can only
                // under-count (the acknowledged late-data mode), never over.
                if (t >= curTs) {
                  if (t > curTs) { com = acc.clone(); curTs = t }
                  val cand =
                    if (d == 0) t
                    else {
                      val p = com(d - 1)
                      if (p != none && t - p <= windowUs) p else none
                    }
                  if (cand != none && cand > acc(d)) acc(d) = cand
                  while (emitted < k && acc(emitted) != none) {
                    out += FunnelAdvance(uid, emitted, stages(emitted), t)
                    emitted += 1
                  }
                }
              }
            }
            // a user with no funnel-stage events never creates state —
            // without this guard every keyed user leaks a fresh struct
            if (sawStage || state.exists) {
              state.update(WindowedFunnelProgress(
                curTs, com.toSeq, acc.toSeq, emitted))
              // all cursors lapse once the watermark passes curTs + window
              val lapseMs = Math.floorDiv(curTs + windowUs, 1000L) + 1
              state.setTimeoutTimestamp(
                math.max(lapseMs, state.getCurrentWatermarkMs() + 1))
            }
            out.result().iterator
          }
      }
  }

  /** Streaming first-touch attribution — the live twin of
    * `EventOpsPack.firstTouchAttribution`: per-user state is ONE string
    * (the first event type ever seen, set once, exactly the batch
    * rn=1 window row); every purchase emits its revenue credited to that
    * first touch. `GROUP BY first_touch: count, sum(value)` over the
    * emitted stream equals the batch attribution on an in-order replay
    * (StreamOpsSpec proves it). */
  def firstTouchAttributions(events: Dataset[Event],
                             purchaseType: String = "purchase")
      : Dataset[TouchAttribution] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, evs: Iterator[Event], state: GroupState[String]) =>
          val sorted = evs.toSeq.sortBy(e => (micros(e.ts), e.event_id))
          var first = state.getOption.orNull
          val out = Seq.newBuilder[TouchAttribution]
          sorted.foreach { e =>
            if (first == null) { first = e.event_type; state.update(first) }
            if (e.event_type == purchaseType)
              out += TouchAttribution(uid, first, e.event_id, e.value)
          }
          out.result().iterator
      }
  }

  /** Streaming bounded-window EWMA — the live twin of
    * `AnalyticsPack.ewmaSmooth` (α = 1/2 over the last `window`+1 events
    * per user). Per-key state is a ring of ≤ window+1 doubles plus one
    * counter — O(window) regardless of stream length, the property that
    * lets a smoothing score ride a year-long stream. Weights are exact
    * powers of two, and the term order is fixed (oldest→newest), so the
    * emitted points equal the batch twin's rows on any replay split. */
  def ewmaSmooth(events: Dataset[Event], window: Int = 9): Dataset[EwmaPoint] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, evs: Iterator[Event], state: GroupState[EwmaMemo]) =>
          val sorted = evs.toSeq.sortBy(e => (micros(e.ts), e.event_id))
          var memo = state.getOption.getOrElse(EwmaMemo(Vector.empty, 0L))
          val out = Seq.newBuilder[EwmaPoint]
          sorted.foreach { e =>
            val recent = (memo.recent :+ e.value).takeRight(window + 1)
            val rn = memo.rn + 1
            val n = recent.length
            var num = 0.0; var den = 0.0
            var i = 0
            while (i < n) {
              val w = java.lang.Math.pow(0.5, (n - 1 - i).toDouble)
              num += w * recent(i); den += w; i += 1
            }
            // match the batch twin's round(…, 6) exactly (HALF_UP, like
            // Spark's Round expression — rint would round half-even)
            out += EwmaPoint(uid, rn, e.event_id,
              BigDecimal(num / den)
                .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
            memo = EwmaMemo(recent, rn)
          }
          state.update(memo)
          out.result().iterator
      }
  }

  /** Streaming U-shaped multi-touch attribution — the live twin of
    * `EventOpsPack.multiTouchAttribution`: per-user per-channel credit
    * rows emitted the moment the user's FIRST purchase arrives,
    * distributing its value 40% first / 40% last / 20% across middle
    * touches (1 touch → 100%, 2 → 50/50). The profile state is
    * O(channels) — first/last channel + per-channel counts — never the
    * touch list, and a converted tombstone drops everything after the
    * conversion, so state is bounded on an unbounded stream. The batch
    * op aggregated per channel equals the sum of these credit rows. */
  def multiTouchCredits(events: Dataset[Event],
                        purchaseType: String = "purchase")
      : Dataset[TouchCredit] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, evs: Iterator[Event], state: GroupState[MultiTouchMemo]) =>
          val sorted = evs.toSeq.sortBy(e => (micros(e.ts), e.event_id))
          var m = state.getOption
            .getOrElse(MultiTouchMemo(null, null, 0L, Map.empty, false))
          val out = Seq.newBuilder[TouchCredit]
          sorted.foreach { e =>
            if (!m.converted) {
              if (e.event_type == purchaseType) {
                m.counts.toSeq.sortBy(_._1).foreach { case (ch, c) =>
                  val mid = c - (if (ch == m.firstCh) 1L else 0L) -
                    (if (ch == m.lastCh) 1L else 0L)
                  val cr =
                    if (m.n == 1) { if (ch == m.firstCh) 1.0 else 0.0 }
                    else if (m.n == 2)
                      (if (ch == m.firstCh) 0.5 else 0.0) +
                        (if (ch == m.lastCh) 0.5 else 0.0)
                    else
                      (if (ch == m.firstCh) 0.4 else 0.0) +
                        (if (ch == m.lastCh) 0.4 else 0.0) +
                        0.2 / (m.n - 2) * mid
                  if (cr > 0) out += TouchCredit(uid, ch, cr, cr * e.value)
                }
                m = m.copy(converted = true)
              } else {
                val f = if (m.firstCh == null) e.event_type else m.firstCh
                m = MultiTouchMemo(f, e.event_type, m.n + 1,
                  m.counts.updated(e.event_type,
                    m.counts.getOrElse(e.event_type, 0L) + 1L), false)
              }
            }
          }
          state.update(m)
          out.result().iterator
      }
  }

  /** Streaming time-decay attribution — the live twin of
    * `EventOpsPack.decayTouchAttribution`: per-channel credit rows at
    * the user's first purchase, each touch weighted 2^(−Δt/halflife)
    * and normalized per user. The naive state is the touch list
    * (unbounded); instead each channel keeps ONE running sum of
    * 2^((us−base)/τ), rebased to the newest touch so the exponent
    * stays ≤ 0 (no overflow, factors < 1 are numerically stable) —
    * at conversion the common 2^((base−p_us)/τ) rebase factor cancels
    * in credit = S_ch / S_total, so the O(channels) sums are
    * mathematically EXACT, not an approximation of the batch weights. */
  def decayTouchCredits(events: Dataset[Event],
                        halflifeDays: Double = 7.0,
                        purchaseType: String = "purchase")
      : Dataset[TouchCredit] = {
    import events.sparkSession.implicits._
    val tauUs = halflifeDays * 86400000000L
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, evs: Iterator[Event], state: GroupState[DecayTouchMemo]) =>
          val sorted = evs.toSeq.sortBy(e => (micros(e.ts), e.event_id))
          var m = state.getOption
            .getOrElse(DecayTouchMemo(Long.MinValue, Map.empty, false))
          val out = Seq.newBuilder[TouchCredit]
          sorted.foreach { e =>
            if (!m.converted) {
              val us = micros(e.ts)
              if (e.event_type == purchaseType) {
                val total = m.sums.values.sum
                if (total > 0) m.sums.toSeq.sortBy(_._1).foreach {
                  case (ch, sc) =>
                    val cr = sc / total
                    out += TouchCredit(uid, ch, cr, cr * e.value)
                }
                m = m.copy(converted = true)
              } else {
                val (base, sums) =
                  if (m.baseUs == Long.MinValue) (us, m.sums)
                  else if (us > m.baseUs) {
                    val f = math.pow(2.0, (m.baseUs - us) / tauUs)
                    (us, m.sums.map { case (k, v) => k -> v * f })
                  } else (m.baseUs, m.sums)
                val w = math.pow(2.0, (us - base) / tauUs)
                m = DecayTouchMemo(base,
                  sums.updated(e.event_type,
                    sums.getOrElse(e.event_type, 0.0) + w), false)
              }
            }
          }
          state.update(m)
          out.result().iterator
      }
  }

  /** Streaming rolling z-score monitor — the live twin of
    * `EventOpsPack.rollingZscore`: each event scored against its user's
    * trailing-20 mean/sample-std, alerting at |z| > 3 as the event
    * arrives (the batch op is the backfill of exactly this monitor).
    * Per-key state is the ≤20-value ring. The mean/std are computed
    * two-pass over the ring in fixed order, so stream and batch agree to
    * float-sum-order noise. */
  def rollingZscore(events: Dataset[Event], window: Int = 20,
                    threshold: Double = 3.0): Dataset[ZscoreAlert] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, evs: Iterator[Event], state: GroupState[RollMemo]) =>
          val sorted = evs.toSeq.sortBy(e => (micros(e.ts), e.event_id))
          var recent = state.getOption.map(_.recent).getOrElse(Vector.empty)
          val out = Seq.newBuilder[ZscoreAlert]
          sorted.foreach { e =>
            recent = (recent :+ e.value).takeRight(window)
            val n = recent.length
            if (n >= 2) {
              val mu = recent.sum / n
              val sd = math.sqrt(
                recent.map(v => (v - mu) * (v - mu)).sum / (n - 1))
              if (sd > 0) {
                val z = (e.value - mu) / sd
                if (math.abs(z) > threshold)
                  out += ZscoreAlert(uid, e.event_id,
                    BigDecimal(e.value).setScale(4,
                      BigDecimal.RoundingMode.HALF_UP).toDouble,
                    BigDecimal(z).setScale(4,
                      BigDecimal.RoundingMode.HALF_UP).toDouble)
              }
            }
          }
          state.update(RollMemo(recent))
          out.result().iterator
      }
  }

  /** Streaming CUSUM changepoint monitor — the live twin of
    * `AnalyticsPack.cusumAlerts`. Control parameters come from a reference
    * period, as a production CUSUM chart's would: `driftGate` is the
    * single 6-dp-rounded μ + k·σ constant (folded exactly like the batch
    * op folds it — see its rounding note) and `sd` the 6-dp σ for the
    * alert threshold. State per user is O(1): the rebased prefix sum S and
    * min(0, min prefix S) — the same identity the batch op uses as two
    * windows, kept incrementally. The per-user additions happen in the
    * identical event order, so the alert stream is bit-equal to the batch
    * alert set on any replay split. */
  def cusumAlerts(events: Dataset[Event], driftGate: Double, sd: Double,
                  threshSd: Double = 5.0): Dataset[CusumAlert] = {
    import events.sparkSession.implicits._
    val h = threshSd * sd
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, evs: Iterator[Event], state: GroupState[CusumMemo]) =>
          val sorted = evs.toSeq.sortBy(e => (micros(e.ts), e.event_id))
          var memo = state.getOption.getOrElse(CusumMemo(0.0, 0.0, 0L))
          val out = Seq.newBuilder[CusumAlert]
          sorted.foreach { e =>
            val s = memo.s + (e.value - driftGate)
            val mn = math.min(memo.mn, s)
            memo = CusumMemo(s, mn, memo.rn + 1)
            val c = s - mn
            if (c > h)
              out += CusumAlert(uid, memo.rn, e.event_id,
                BigDecimal(c).setScale(6,
                  BigDecimal.RoundingMode.HALF_UP).toDouble)
          }
          state.update(memo)
          out.result().iterator
      }
  }

  /** Live count-min sketch — the streaming twin of
    * `AnalyticsPack.cmsEstErr`'s sketch build, keyed on the stream's
    * user_id. The sketch is a pure partial aggregate, so the streaming
    * form is just keyed counters: state per (row, bucket) cell is ONE
    * long, total state is bounded by d·w cells regardless of stream
    * length or key cardinality — the property that makes CMS the
    * frequency summary you can afford on an unbounded stream. Counters
    * use the same integer universal hashes as the batch op, so a replay
    * of the same events converges to the identical grid. */
  def cmsCounters(events: Dataset[Event],
                  width: Int = 1024): Dataset[CmsCell] = {
    import events.sparkSession.implicits._
    val hashes = Seq((1103515245L, 12345L), (214013L, 2531011L),
      (22695477L, 1L), (1664525L, 1013904223L))
    events
      // key reduced mod p BEFORE the multiply — same overflow guard as the
      // batch op: a·(k mod p) stays inside int64 where a raw a·k wraps
      // negative once keys pass ~8.4e9; identical buckets for small keys
      .flatMap(e => hashes.zipWithIndex.map { case ((a, b), i) =>
        (i, ((a * (e.user_id % 2147483647L) % 2147483647L + b)
          % 2147483647L) % width)
      })
      .groupByKey(identity)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (key: (Int, Long), rows: Iterator[(Int, Long)],
         state: GroupState[Long]) =>
          val c = state.getOption.getOrElse(0L) + rows.size
          state.update(c)
          CmsCell(key._1, key._2, c)
      }
  }

  /** Live HyperLogLog registers per event type — the streaming twin of
    * `AnalyticsPack.hllEstErr`'s sketch build. A register is max(ρ) over
    * hashes, and max is idempotent + commutative, so the streaming state
    * is ONE int per live (group, register) — bounded by groups·m forever,
    * and redelivery-safe by construction (re-processing an event cannot
    * move a max). Uses the identical murmur-style int64 mixer as the
    * batch op, so a replay converges to the exact batch register grid. */
  def hllRegisters(events: Dataset[Event],
                   m: Int = 256): Dataset[HllRegister] = {
    import events.sparkSession.implicits._
    require(m > 0 && (m & (m - 1)) == 0, s"m must be a power of two, got $m")
    // the hash is 31-bit; after the bucket takes log2(m) bits the word is
    // (31 − log2 m) bits wide, so ρ ∈ [1, 32 − log2 m] (= [1, 24] at the
    // batch op's m=256)
    val base = 32 - Integer.numberOfTrailingZeros(m)
    def mix(k: Long): Long = {
      var h = ((k % 2147483648L) * 2654435761L) % 2147483648L
      h = h ^ (h / 65536)
      h = (h * 40503) % 2147483648L
      h ^ (h / 8192)
    }
    events
      .map { e =>
        val h = mix(e.user_id)
        val w = h / m
        val rho =
          if (w == 0) base else base - java.lang.Long.toBinaryString(w).length
        (e.event_type, h % m, rho)
      }
      .groupByKey(r => (r._1, r._2))
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (key: (String, Long), rows: Iterator[(String, Long, Int)],
         state: GroupState[Int]) =>
          val best = math.max(state.getOption.getOrElse(0),
            rows.map(_._3).max)
          state.update(best)
          HllRegister(key._1, key._2, best)
      }
  }

  /** Live Bloom membership filter — the streaming twin of
    * `AnalyticsPack.bloomFilter`'s bit-set build: each member key sets
    * its d bits (same CMS-family integer hashes, same key-reduction
    * overflow guard), keyed state is ONE boolean per live bit — bounded
    * by m forever — and setting a bit is idempotent, so redelivery is
    * harmless and a replay converges to the exact batch bit set. Stream
    * twin use: the live side of a runtime filter — the sink's distinct
    * bit set IS the broadcastable probe structure. */
  def bloomBits(events: Dataset[Event], m: Int = 8192): Dataset[BloomBit] = {
    import events.sparkSession.implicits._
    require(m > 0, s"bloom: m must be positive, got $m")
    val hashes = Seq((2654435761L, 1013904223L), (22695477L, 12345L))
    events
      .flatMap(e => hashes.map { case (a, b) =>
        ((a * (e.user_id % 2147483647L) % 2147483647L + b)
          % 2147483647L) % m
      })
      .groupByKey(identity)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (bit: Long, _: Iterator[Long], state: GroupState[Boolean]) =>
          state.update(true)
          BloomBit(bit)
      }
  }

  /** Live KMV distinct-count sketch — the streaming twin of
    * `AnalyticsPack.kmvEstErr`: per group, keep the k smallest DISTINCT
    * member hashes seen so far and estimate (k−1)/h₍k₎ (exact count below
    * k). The hash is the repo's standard md5 coin — a pure function of
    * the member — so the sketch is redelivery-safe (a duplicate can only
    * collide with itself) and a replay converges to the exact batch
    * sketch. State is O(k) (coin, member) pairs per group, forever.
    *
    * State keeps the PAIR, not just the coin: the batch sketch ranks
    * distinct (group, user) rows by (h, k), so two distinct users whose
    * 32-bit coins collide occupy two bottom-k slots there — deduping on
    * the coin alone would collapse them here and break replay-equals-
    * batch under coin collisions. */
  def kmvDistinct(events: Dataset[Event], k: Int = 64): Dataset[KmvEstimate] = {
    import events.sparkSession.implicits._
    require(k >= 2, s"kmv: k must be >= 2, got $k")
    def coinOf(id: Long): Double = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      java.lang.Long.parseLong(
        d.take(4).map("%02x".format(_)).mkString, 16) / 4294967296.0
    }
    events
      .groupByKey(_.event_type)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (etype: String, evs: Iterator[Event],
         state: GroupState[Seq[(Double, Long)]]) =>
          val merged = (state.getOption.getOrElse(Nil) ++
            evs.map(e => (coinOf(e.user_id), e.user_id)))
            .distinct.sorted.take(k) // pair order = batch (h, k) rank
          state.update(merged)
          val est =
            if (merged.size < k) merged.size.toDouble
            else (k - 1).toDouble / merged.last._1
          KmvEstimate(etype, merged.size,
            BigDecimal(est).setScale(4,
              BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
  }

  /** Live PSI drift monitor — the streaming face of
    * [[graft.metrics.ModelHealth]]'s population-stability index: each
    * tumbling event-time window's value distribution is scored against a
    * FIXED baseline histogram (binned on the baseline's [mn, mx] with the
    * same clamp rule as the batch op), emitting the window's PSI as its
    * counts grow. State per window is the O(buckets) count vector —
    * independent of event volume — and PSI itself is recomputed from
    * those counts each emission, so a replay converges to exactly the
    * batch per-window PSI. Bucket pairs where either side is empty are
    * skipped, matching the batch op's inner-join semantics.
    *
    * State is EVICTED: window keys otherwise accumulate one per window
    * forever on a continuous stream (a slow leak even at O(buckets) per
    * window). The input is watermarked on event time and each window's
    * state carries an event-time timeout at window-end + `watermarkDelay`;
    * when the watermark passes it the window emits one final PsiUpdate
    * (same counts as its last emission — idempotent for downstream
    * latest-wins consumers) and its state is removed. Same pattern as
    * `nearDupProbe`'s watermark-bounded band index. */
  def windowedPsi(events: Dataset[Event], baseP: Seq[Double],
                  mn: Double, mx: Double,
                  windowUs: Long = 86400000000L,
                  watermarkDelay: String = "1 hour"): Dataset[PsiUpdate] = {
    import events.sparkSession.implicits._
    val buckets = baseP.length
    val width = (mx - mn) / buckets
    def psiOf(counts: Array[Long]): PsiUpdate = {
      val n = counts.sum
      val psi = baseP.indices.map { i =>
        val q = counts(i).toDouble / n
        if (baseP(i) > 0 && q > 0)
          (baseP(i) - q) * math.log(baseP(i) / q) * 100
        else 0.0
      }.sum
      PsiUpdate(0L, n,
        BigDecimal(psi).setScale(6, BigDecimal.RoundingMode.HALF_UP)
          .toDouble)
    }
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(e => micros(e.ts) / windowUs * windowUs)
      .mapGroupsWithState(GroupStateTimeout.EventTimeTimeout) {
        (win: Long, evs: Iterator[Event], state: GroupState[Seq[Long]]) =>
          if (state.hasTimedOut) {
            // window closed by the watermark: final emission, state gone
            val counts = state.get.toArray
            state.remove()
            psiOf(counts).copy(window_start_us = win)
          } else {
            val counts = state.getOption
              .map(_.toArray).getOrElse(Array.fill(buckets)(0L))
            evs.foreach { e =>
              val b = math.min(buckets - 1,
                math.max(0, math.floor((e.value - mn) / width).toInt))
              counts(b) += 1
            }
            state.update(counts.toSeq)
            // keep the window's state until the watermark passes its end
            // (the timeout must sit strictly ahead of the current
            // watermark — late-but-in-watermark rows still land here)
            val winEndMs = (win + windowUs) / 1000
            state.setTimeoutTimestamp(
              math.max(winEndMs, state.getCurrentWatermarkMs() + 1))
            psiOf(counts).copy(window_start_us = win)
          }
      }
  }

  /** Streaming deterministic reservoir — the live twin of
    * `AnalyticsPack.groupSample`: per group, keep the k rows with the
    * smallest (md5 coin, id) order keys seen so far. Because the coin is
    * a pure function of the row, the reservoir CONVERGES to exactly the
    * batch sample on any replay split — the determinism `rand()`-based
    * reservoirs cannot give. State is O(k) per group; each micro-batch
    * re-emits a group's current sample tagged with an emission sequence
    * (Update-mode semantics: latest emission per group wins). */
  def reservoirSample(events: Dataset[Event], k: Int = 3): Dataset[ReservoirRow] = {
    import events.sparkSession.implicits._
    def coinOf(id: Long): String = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      d.map("%02x".format(_)).mkString
    }
    events
      .groupByKey(_.event_type)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (etype: String, evs: Iterator[Event], state: GroupState[ReservoirMemo]) =>
          val memo = state.getOption.getOrElse(ReservoirMemo(Nil, Nil, Nil, 0L))
          val existing = memo.coins.lazyZip(memo.ids).lazyZip(memo.values)
            .map { case (c, i, v) => (c, i, v) }
          // distinctBy makes redelivery harmless (at-least-once sources):
          // a row's coin is deterministic, so a duplicate can only ever
          // collide with itself
          val merged = (existing ++ evs.map(e =>
              (coinOf(e.event_id), e.event_id, e.value)))
            .distinctBy(_._2).sortBy(t => (t._1, t._2)).take(k)
          val next = ReservoirMemo(merged.map(_._1), merged.map(_._2),
            merged.map(_._3), memo.seq + 1)
          state.update(next)
          merged.iterator.zipWithIndex.map { case ((_, id, v), i) =>
            ReservoirRow(etype, next.seq, i + 1, id, v)
          }
      }
  }

  /** Stream-static enrichment: join the unbounded stream against a bounded
    * dimension snapshot (user → segment, doc → source metadata). The static
    * side re-resolves per micro-batch, so a dim refresh is picked up
    * without restarting the query.
    *
    * Scale note: `broadcast` on the static side keeps every micro-batch
    * shuffle-free (stream-static joins cannot shuffle the stream side into
    * a stateful join anyway — broadcast is the only plan that doesn't
    * re-scan the dim per partition). A dim too big to broadcast belongs in
    * a keyed state store (`flatMapGroupsWithState`), not this operator. */
  def enrichWithDim(stream: DataFrame, dim: DataFrame,
                    key: String): DataFrame =
    stream.join(broadcast(dim), Seq(key), "left")

  /** Stream-stream interval join — click→purchase attribution: each
    * purchase picks up the same user's clicks from the preceding
    * `horizon`. Both sides carry watermarks and the join predicate bounds
    * the event-time range, so Spark can evict state on BOTH sides (an
    * unbounded stream-stream join would otherwise retain every row
    * forever). Batch twin: `plans.RangeJoin` / the as-of join family. */
  def clickAttribution(clicks: DataFrame, purchases: DataFrame,
                       watermark: String = "1 hour",
                       horizonMinutes: Int = 10): DataFrame =
    clicks.withWatermark("ts", watermark).alias("c")
      .join(purchases.withWatermark("ts", watermark).alias("p"),
        expr(s"""c.user_id = p.user_id
                | AND p.ts >= c.ts
                | AND p.ts <= c.ts + interval $horizonMinutes minutes""".stripMargin))
      .select(col("p.event_id").as("purchase_id"),
        col("c.event_id").as("click_id"),
        col("p.user_id").as("user_id"))

  /** Streaming exact dedup: first occurrence per content hash wins.
    * With `eventTimeCol` set the state is watermark-bounded (dedup within
    * the lateness horizon — the standard unbounded-stream tradeoff);
    * without it Spark keeps all hashes (exact global dedup, batch parity
    * with `LlmData.dedupExact`). */
  def dedupByContent(docs: DataFrame, textCol: String,
                     eventTimeCol: Option[String] = None,
                     watermark: String = "1 hour"): DataFrame = {
    val hashed = docs.withColumn("text_hash", textDedupKey(col(textCol)))
    eventTimeCol match {
      case Some(tc) => hashed.withWatermark(tc, watermark)
        .dropDuplicates("text_hash", tc)
      case None => hashed.dropDuplicates("text_hash")
    }
  }

  /** Declarative gap sessionization: `session_window` merges each key's
    * events into sessions separated by more than `gap`, entirely inside
    * Spark's windowing state store — no user state-management code, and
    * unlike the [[sessionize]] twin the state is WATERMARK-BOUNDED:
    * sessions whose end falls behind the watermark are finalized, emitted
    * once (Append mode), and evicted. Prefer this when per-session
    * aggregates suffice and the stream is unbounded; reach for
    * `flatMapGroupsWithState` only when session state needs custom shape
    * (running emission, cross-session counters). Batch twin:
    * `Relational.sessionize` (same gap rule). */
  def sessionWindowStats(events: DataFrame, gap: String = "10 minutes",
                         watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_events"), sum("value").as("sum_value"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"), col("sum_value"))

  /** Streaming dedup with bounded state: `dropDuplicatesWithinWatermark`
    * dedups on the content hash ALONE and evicts each hash's state once
    * the watermark passes its first-seen event time + delay. Unlike the
    * `dropDuplicates("hash", ts)` variant above, a re-send with a NEW
    * timestamp inside the horizon is still recognized as a duplicate —
    * the semantics an ingest pipeline actually wants. State is bounded by
    * the watermark horizon (events/hour × delay), not corpus size, which
    * is what makes continuous dedup viable on an unbounded 100 TB/day
    * stream; the batch twin for full-corpus exactness stays
    * [[graft.queries.LlmData.dedupExact]]. */
  def dedupWithinWatermark(docs: DataFrame, textCol: String,
                           eventTimeCol: String,
                           watermark: String = "1 hour"): DataFrame =
    docs.withColumn("text_hash", textDedupKey(col(textCol)))
      .withWatermark(eventTimeCol, watermark)
      .dropDuplicatesWithinWatermark("text_hash")

  /** Live SlimPajama soft-dedup accounting — the streaming twin of the
    * `soft_dedup` corpus step: per content hash, the running copy count
    * and its 1/n_copies weight (same HALF_UP 6-dp rounding as the batch
    * step), emitted as Update-mode rows a latest-wins sink compacts into
    * the current weight table the trainer's sampler joins against.
    * State is one long per DISTINCT text — it IS the dedup table, the
    * same semantically-unbounded shape as `latestByKey` (bound it
    * upstream with [[dedupWithinWatermark]]-style horizons if the corpus
    * is truly unbounded). Copy counts are delivery counts: an
    * at-least-once source should dedup exact re-sends upstream first. */
  def softDedupWeights(docs: DataFrame, textCol: String)
      : Dataset[SoftDedupWeight] = {
    import docs.sparkSession.implicits._
    docs.select(textDedupKey(col(textCol)).as("text_hash"))
      .as[String]
      .groupByKey(identity)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (h: String, rows: Iterator[String], state: GroupState[Long]) =>
          val n = state.getOption.getOrElse(0L) + rows.size
          state.update(n)
          SoftDedupWeight(h, n,
            BigDecimal(1.0 / n).setScale(6,
              BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
  }

  /** The static side of the streaming near-dup probe: the existing
    * corpus's LSH band index — (band, sig) → old doc id + its distinct
    * shingle array (kept so the probe can verify exactly without touching
    * the corpus again; at 100 TB this is the classic index-size-for-probe
    * -cost trade, and the column is prunable when only collision counts
    * are wanted). Built once per corpus version, then broadcast/joined
    * against every micro-batch. */
  def nearDupIndex(oldDocs: DataFrame, idCol: String,
                   textCol: String): DataFrame =
    graft.queries.LlmData.rowLocalBands(oldDocs, idCol, textCol)
      .select(col("band"), col("sig"),
        col("doc_id").as("old_id"), col("shingles").as("old_sh"))

  /** Streaming near-dup dedup against an EXISTING corpus — the continuous
    * twin of [[graft.queries.LlmData.dedupMinhashIncr]]: each micro-batch
    * doc computes its MinHash band signatures ROW-LOCALLY (array_min over
    * the shingle array — no aggregation state, see `LlmData.rowLocalBands`),
    * meets the static index in a stateless stream-static equi-join on
    * (band, sig), and band collisions are exact-verified row-locally via
    * `array_intersect` on the shingle arrays. The only stateful op is the
    * final per-pair dedup, whose state is the VERIFIED collision set —
    * orders of magnitude below the stream volume. Emits every new doc
    * that near-duplicates an old doc, with the verified Jaccard.
    *
    * State lifecycle: with `eventTimeCol` set (the continuous-ingest
    * path) the pair-dedup state is bounded — the event-time column is
    * watermarked by `watermarkDelay` and deduped with
    * `dropDuplicatesWithinWatermark`, so pair state older than the
    * watermark is evicted instead of accumulating for the life of the
    * stream. Without it the plain `dropDuplicates` state grows with the
    * distinct verified-pair count — safe ONLY for bounded replays
    * (`Trigger.AvailableNow` / memory-stream tests), not for an unbounded
    * continuous stream. */
  def nearDupProbe(newDocs: DataFrame, index: DataFrame, idCol: String,
                   textCol: String, threshold: Double = 0.7,
                   eventTimeCol: Option[String] = None,
                   watermarkDelay: String = "10 minutes"): DataFrame = {
    val banded = graft.queries.LlmData
      .rowLocalBands(newDocs, idCol, textCol, eventTimeCol.toSeq)
    val timed = eventTimeCol match {
      case Some(tc) => banded.withWatermark(tc, watermarkDelay)
      case None     => banded
    }
    val verified = timed
      .withColumnRenamed("doc_id", "new_id")
      .withColumnRenamed("shingles", "new_sh")
      .join(index, Seq("band", "sig")) // stream-static: stateless
      .withColumn("ni",
        size(array_intersect(col("new_sh"), col("old_sh"))).cast("long"))
      .withColumn("jac", round(
        col("ni") / (size(col("new_sh")) + size(col("old_sh")) - col("ni")), 6))
      .filter(col("jac") >= threshold)
    val deduped = eventTimeCol match {
      case Some(_) => verified.dropDuplicatesWithinWatermark("new_id", "old_id")
      case None    => verified.dropDuplicates("new_id", "old_id")
    }
    deduped.select("new_id", "old_id", "jac")
  }
}
