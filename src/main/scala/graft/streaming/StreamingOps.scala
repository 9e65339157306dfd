package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** One event for the custom-state sessionizer. */
case class SessionEvent(user_id: Long, ts: Timestamp, value: Double)

/** One open/closed session interval; times in epoch MICROS while in
  * state (cheap to serialize, no timezone ambiguity in the store, and
  * the same precision as Spark event time — millis would truncate
  * `session_end`). `total` accumulates as EXACT decimal so the session
  * sum is independent of event arrival/merge order — a double fold
  * would drift by an ulp under reordered micro-batches. Both matter for
  * the q91 hash gate (the stateful mirror of QH.decSum). */
case class SessionIv(start: Long, end: Long, n: Long, total: BigDecimal)

/** Per-user state: every session not yet closed by the watermark. */
case class UserSessions(sessions: List[SessionIv])

/** One emitted (watermark-closed) session. `session_end` is the last
  * event time + gap — the same half-open convention as
  * `session_window`, so the two sessionizers are directly comparable. */
case class SessionRow(user_id: Long, session_start: Timestamp,
                      session_end: Timestamp, n_events: Long,
                      total_value: Double)

/** The sessionizer core shared by BOTH custom-state forms
  * (flatMapGroupsWithState in [[StreamingOps.statefulSessions]],
  * transformWithState in
  * [[StreamingOps.sessionsViaTransformWithState]]) — q87/q91/q251
  * assert the two are semantics-identical to `session_window`, and
  * that parity must hold by SHARED CODE, not by keeping two hand
  * copies of the merge fold and the ceil-div timer arithmetic in sync.
  * The micros/ts converters are also the file's single copy (the rate
  * limiter uses them too). */
private[streaming] object SessionCore {
  def microsOf(t: Timestamp): Long =
    Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L

  def tsOf(us: Long): Timestamp = {
    val t = new Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  /** One event as a unit interval. decimal(…,6) conversion mirrors the
    * oracle's CAST(value AS DECIMAL(28,6)) so sums stay bit-comparable.
    * Non-finite values contribute 0, mirroring how the declarative
    * path's decimal cast NULLs them out of the SUM (the residual
    * divergence — an all-non-finite session sums to 0 here vs NULL
    * there — beats crashing the state function on the first NaN). */
  def toIv(e: SessionEvent): SessionIv = {
    val v =
      if (java.lang.Double.isFinite(e.value))
        BigDecimal.decimal(e.value)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP)
      else BigDecimal(0)
    SessionIv(microsOf(e.ts), microsOf(e.ts), 1L, v)
  }

  /** Interval merge over the given sessions, sorted: two sessions fuse
    * when the later one starts inside [start, end + gap] — INCLUSIVE
    * of the endpoint, matching session_window's adjacent-merge rule. */
  def merge(gapUs: Long)(ivs: List[SessionIv]): List[SessionIv] =
    ivs.sortBy(s => (s.start, s.end))
      .foldLeft(List.empty[SessionIv]) {
        case (h :: t, s) if s.start <= h.end + gapUs =>
          SessionIv(h.start, math.max(h.end, s.end), h.n + s.n,
            h.total + s.total) :: t
        case (acc, s) => s :: acc
      }.reverse

  /** First millisecond at which the earliest open session becomes
    * evictable. Timer APIs are millisecond-granular while event time is
    * micros — the CEILING div arms one ms before the first millisecond
    * at which the micros close time is evictable; a floor-div would
    * fire one ms too early for sub-ms close times, fail the eviction
    * check, and re-arm into the wm+1 clamp, widening the stranding
    * corner documented at the call sites. */
  def firstEvictableMs(open: List[SessionIv], gapUs: Long): Long =
    Math.floorDiv(open.map(_.end).min + gapUs + 999L, 1000L)

  def toRow(gapUs: Long)(user: Long, s: SessionIv): SessionRow =
    SessionRow(user, tsOf(s.start), tsOf(s.end + gapUs), s.n,
      s.total.toDouble)
}

/** One event for the streaming rate limiter. */
case class RateEvent(user_id: Long, ts: Timestamp, event_id: Long)

/** One buffered (not yet watermark-finalized) event. */
case class PendEv(us: Long, id: Long)

/** Per-user limiter state: the event-time-sorted pending buffer plus
  * the bucket registers. `tok` is in MICROSECOND-UNITS (1 unit of
  * token accrues per µs of event time), so the whole recursion is
  * exact 64-bit integer arithmetic — bit-identical to the oracle's
  * recursive CTE. */
case class BucketState(pending: List[PendEv], tok: Long, lastUs: Long,
                       started: Boolean)

/** One finalized admission decision. */
case class DecisionRow(user_id: Long, event_id: Long, admitted: Boolean)

/** One valued event for the streaming pattern matcher. */
case class RateEvent2(user_id: Long, ts: Timestamp, event_id: Long,
                      value: Double)

/** One buffered valued event for the streaming pattern matcher. */
case class PendVal(us: Long, id: Long, v: Double)

/** One maximal direction run (dir ∈ {-1, 0, 1}; values are the run's
  * true endpoints — vFirst is the value BEFORE its first delta). */
case class RunIv(dir: Int, vFirst: Double, vLast: Double)

/** Per-key CEP state: the event-time sorter plus the run automaton's
  * registers — previous closed run, current open run, last value. */
case class PatternState(pending: List[PendVal], haveLast: Boolean,
                        lastVal: Double, prevRun: Option[RunIv],
                        curRun: Option[RunIv])

/** One emitted V-shape match. */
case class VMatch(user_id: Long, drop: Double, rise: Double)

/** Streaming re-expressions of the reference's incremental semantics
  * (SURVEY.md §2.11). The batch transforms in [[graft.ops.Relational]] and
  * [[graft.queries]] are plan-identical in streaming mode — the reference
  * itself flips tables between `dlt.read` and `dlt.read_stream`; these
  * helpers cover the constructs that differ under incremental execution.
  */
object StreamingOps {

  /** Streaming CDC upsert (DLT `apply_changes`, zetaflex-pipeline.py:
    * 138–151): keep the max-(seq, tieBreak) row per key. Declarative
    * `max_by` aggregation → state is one row per key in the state store,
    * updates emitted in update output mode; scales linearly with key
    * cardinality, not stream length. Works identically on a batch frame
    * (where it equals [[graft.ops.Relational.applyChanges]]).
    */
  def applyChangesStream(keys: Seq[String], seq: Column, tieBreak: Seq[Column] = Nil)(
      df: DataFrame): DataFrame = {
    val ord = struct((seq +: tieBreak): _*)
    val payload = struct(df.columns.toIndexedSeq.map(col): _*)
    df.groupBy(keys.map(col): _*)
      .agg(max_by(payload, ord).as("__row"))
      .select(col("__row.*"))
  }

  /** Streaming dedup bounded by watermark (zetaflex-pipeline.py:86–88;
    * the un-watermarked variant was the reference's "super RAM intensive"
    * cliff, transactions:354 — the watermark bounds state). */
  def streamDedup(ts: String, watermark: String, keys: Seq[String])(
      df: DataFrame): DataFrame =
    df.withWatermark(ts, watermark)
      .dropDuplicatesWithinWatermark(keys)

  /** Gap-based sessionization with CUSTOM per-key state
    * (`flatMapGroupsWithState` + event-time timeout) — the seam for
    * session payloads the declarative `session_window` aggregation
    * (q87) cannot express: arbitrary session state machines, capped
    * session length, first/last event payloads, per-session sketches.
    * For plain count/sum sessions prefer q87's `session_window` — it
    * stays whole-stage-codegen'd and needs no bespoke state code.
    *
    * Semantics (identical to `session_window`, verified in
    * StreamingSpec): a session spans `[first_ts, last_ts+gap)`, and
    * ADJACENT windows merge — an event at exactly `last_ts+gap`
    * extends the session (a new one opens only when the silence
    * STRICTLY exceeds the gap). A session is EMITTED only once the
    * watermark passes its end. Out-of-order
    * events above the watermark merge into any open session, including
    * bridging two open sessions into one (interval merge, not
    * append-to-latest); events BELOW the watermark never reach the
    * state function — Spark filters stateful-operator input at the
    * watermark — so `lateness` is the disorder budget. State per user
    * is the open-session list, bounded by the watermark horizon rather
    * than stream length: sessions are flushed and dropped on the
    * event-time timeout, so a key holds only sessions overlapping the
    * last `gap + lateness` of event time.
    */
  def statefulSessions(gapMinutes: Int, lateness: String = "5 minutes")(
      events: Dataset[SessionEvent]): Dataset[SessionRow] = {
    val sp = events.sparkSession
    import sp.implicits._
    val gapUs = gapMinutes * 60000000L

    def update(user: Long, batch: Iterator[SessionEvent],
               state: GroupState[UserSessions]): Iterator[SessionRow] = {
      val existing = state.getOption.map(_.sessions).getOrElse(Nil)
      // event→interval conversion and the interval merge are the
      // SHARED sessionizer core (SessionCore — also the TWS form's):
      // decimal-exact totals, non-finite→0, inclusive adjacent-merge
      val incoming = batch.map(SessionCore.toIv).toList
      val merged = SessionCore.merge(gapUs)(existing ++ incoming)
      // the engine watermark is millisecond-granular; event time is
      // micros — scale up for the eviction compare, exactly as Spark's
      // own stateful operators do
      val wm = state.getCurrentWatermarkMs()
      val wmUs = wm * 1000L
      val (closed, open) = merged.partition(_.end + gapUs <= wmUs)
      if (open.isEmpty) state.remove()
      else {
        state.update(UserSessions(open))
        // Wake when the earliest open session can close. The timeout only
        // fires once the watermark STRICTLY exceeds the timestamp, while
        // eviction is `end + gap <= wm` — arming at exactly end+gap would
        // strand a session whose end+gap EQUALS the final watermark (no
        // later event ever pushes wm past it). Arming one tick EARLY
        // (end+gap−1) makes wm == end+gap fire the timeout, and the
        // eviction predicate re-checks, so an early wake is never an
        // early emit. Clamped to wm+1: Spark rejects timeouts at or
        // below the current watermark. Residual corner the timer API
        // cannot close: when the clamp engages (end+gap == wm+1 at
        // arming time) AND the watermark then advances exactly one
        // millisecond and never moves again, the strict-exceed rule
        // keeps that session open where session_window would emit it —
        // a 1 ms-measure coincidence, noted for honesty. (Timer API is
        // millisecond-granular; the CEILING-div arms one ms before the
        // first millisecond at which the micros close time is evictable
        // — a floor-div would fire one ms too early for sub-ms close
        // times, fail the eviction check, and re-arm into the clamp,
        // widening the stranding corner.)
        state.setTimeoutTimestamp(math.max(wm + 1L,
          SessionCore.firstEvictableMs(open, gapUs) - 1L))
      }
      closed.iterator.map(SessionCore.toRow(gapUs)(user, _))
    }

    events
      .withWatermark("ts", lateness)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[UserSessions, SessionRow](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(update)
  }

  /** The [[statefulSessions]] semantics re-expressed on Spark 4's
    * `transformWithState` — the arbitrary-stateful API that supersedes
    * flatMapGroupsWithState: typed named state variables through a
    * handle (instead of one opaque state blob), first-class MULTIPLE
    * event-time timers with an expiry callback separated from input
    * handling, and TTL support. It requires the RocksDB state store
    * (multiple column families back the named-state/timer layout), so
    * the caller sets the provider (q251 does; see q243 for why that is
    * a deploy-time decision). Session semantics — inclusive interval
    * merge, decimal-exact totals, `end + gap <= watermark` eviction —
    * are identical to the fMGWS form BY SHARED CODE ([[SessionCore]]
    * holds the merge fold, event conversion, and the ceil-div timer
    * arithmetic; both forms call it, so the q87/q91/q251 three-way
    * parity cannot drift through a one-sided fix). Timer discipline:
    * one live timer per key (re-armed at the earliest open close time,
    * the arm-one-early device statefulSessions documents); expiry
    * re-checks the eviction predicate so an early fire is never an
    * early emit. */
  def sessionsViaTransformWithState(
      gapMinutes: Int, lateness: String = "5 minutes")(
      events: Dataset[SessionEvent]): Dataset[SessionRow] = {
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}
    import org.apache.spark.sql.{Encoder, Encoders}
    val sp = events.sparkSession
    import sp.implicits._
    val gapUs = gapMinutes * 60000000L

    class SessionProcessor
        extends StatefulProcessor[Long, SessionEvent, SessionRow] {
      @transient private var sessions: ValueState[UserSessions] = _

      override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
        sessions = getHandle.getValueState[UserSessions](
          "sessions", Encoders.product[UserSessions], TTLConfig.NONE)

      /** Emit watermark-closed sessions, persist the rest, keep exactly
        * one live timer at the earliest open close time. */
      private def evictAndArm(key: Long, merged: List[SessionIv],
                              wmMs: Long): Iterator[SessionRow] = {
        val wmUs = wmMs * 1000L
        val (closed, open) = merged.partition(_.end + gapUs <= wmUs)
        // one-timer discipline: clear stale timers before re-arming
        getHandle.listTimers().foreach(getHandle.deleteTimer)
        if (open.isEmpty) sessions.clear()
        else {
          sessions.update(UserSessions(open))
          getHandle.registerTimer(math.max(wmMs + 1L,
            SessionCore.firstEvictableMs(open, gapUs) - 1L))
        }
        closed.iterator.map(SessionCore.toRow(gapUs)(key, _))
      }

      override def handleInputRows(key: Long, rows: Iterator[SessionEvent],
                                   timerValues: TimerValues)
          : Iterator[SessionRow] = {
        val incoming = rows.map(SessionCore.toIv).toList
        val existing =
          if (sessions.exists()) sessions.get().sessions else Nil
        evictAndArm(key, SessionCore.merge(gapUs)(existing ++ incoming),
          timerValues.getCurrentWatermarkInMs())
      }

      override def handleExpiredTimer(key: Long, timerValues: TimerValues,
                                      expiredTimerInfo: ExpiredTimerInfo)
          : Iterator[SessionRow] =
        if (!sessions.exists()) Iterator.empty // spurious late timer
        else evictAndArm(key, sessions.get().sessions,
          timerValues.getCurrentWatermarkInMs())
    }

    events
      .withWatermark("ts", lateness)
      .groupByKey(_.user_id)
      .transformWithState(new SessionProcessor,
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** Streaming per-key token-bucket rate limiter — the admission-control
    * operator in front of a serving/ingest tier (the reference's KV
    * throughput knobs are the static cousin): each user's bucket holds
    * up to `capUnits` and refills 1 unit per MICROSECOND of event time;
    * an event is admitted iff the refilled level covers `costUnits`.
    *
    * Unlike sessionization (whose interval merge is ORDER-INSENSITIVE,
    * so state can fold events as they arrive), admission is order-
    * SENSITIVE: deciding event n requires every earlier event first.
    * The state is therefore a BUFFERING SORTER — events accumulate in
    * the per-user buffer across micro-batches and are folded through
    * the bucket registers in (event-time, event_id) order only once
    * the watermark guarantees nothing earlier can still arrive
    * (`us < watermark`, strict). Decisions for the final lateness
    * window are never emitted — mirrored by the oracle's watermark
    * cutoff, exactly like the q91 session contract. Per-user state is
    * the O(disorder-window) buffer plus three registers. */
  def rateLimit(capUnits: Long, costUnits: Long, lateness: String)(
      events: Dataset[RateEvent]): Dataset[DecisionRow] = {
    val sp = events.sparkSession
    import sp.implicits._

    import SessionCore.microsOf

    def update(user: Long, batch: Iterator[RateEvent],
               state: GroupState[BucketState]): Iterator[DecisionRow] = {
      val prev = state.getOption.getOrElse(
        BucketState(Nil, 0L, 0L, started = false))
      // prev.pending is stored sorted (it is the hold remainder of the
      // last invocation) — sort only the new batch and MERGE, instead
      // of re-sorting the whole buffer every micro-batch
      val incoming = batch.map(e => PendEv(microsOf(e.ts), e.event_id))
        .toList.sortBy(p => (p.us, p.id))
      val pending = {
        val out = List.newBuilder[PendEv]
        var a = prev.pending; var b = incoming
        while (a.nonEmpty && b.nonEmpty) {
          val aFirst =
            if (a.head.us != b.head.us) a.head.us < b.head.us
            else a.head.id <= b.head.id
          if (aFirst) { out += a.head; a = a.tail }
          else { out += b.head; b = b.tail }
        }
        out ++= a; out ++= b
        out.result()
      }
      val wmUs = state.getCurrentWatermarkMs() * 1000L
      val (ripe, hold) = pending.partition(_.us < wmUs)
      var tok = prev.tok; var lastUs = prev.lastUs
      var started = prev.started
      val out = ripe.map { p =>
        if (!started) { started = true; tok = capUnits; lastUs = p.us }
        tok = math.min(capUnits, tok + (p.us - lastUs)); lastUs = p.us
        val admit = tok >= costUnits
        if (admit) tok -= costUnits
        DecisionRow(user, p.id, admit)
      }
      state.update(BucketState(hold, tok, lastUs, started))
      // wake on the next watermark advance while events are buffered;
      // the registers outlive the buffer (the bucket has memory), so
      // the state itself is never removed mid-stream
      if (hold.nonEmpty)
        state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + 1L)
      out.iterator
    }

    events
      .withWatermark("ts", lateness)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[BucketState, DecisionRow](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(update)
  }

  /** Streaming row-pattern matching (CEP — the live form of q232's
    * MATCH_RECOGNIZE lowering, Flink-CEP territory): detect DOWN+ UP+
    * V-shapes per key on the feed. The state is the q229 buffering
    * SORTER feeding a RUN AUTOMATON — three registers (last value,
    * current open run, previous closed run) process each watermark-
    * finalized event in (ts, id) order: a direction change closes the
    * open run, and a closing UP run whose predecessor was a DOWN run
    * with drop ≥ `minDrop` emits a match. A V is therefore emitted
    * exactly when its up-run is CLOSED BY EVIDENCE (the first later
    * delta) — the batch mirror is q232's adjacency with the additional
    * "a successor run exists" condition, and the oracle applies the
    * same watermark cutoff. Per-key state is the disorder-window
    * buffer plus three registers — O(1) beyond the sorter. */
  def streamingVshape(minDrop: Double, lateness: String)(
      events: Dataset[RateEvent2]): Dataset[VMatch] = {
    val sp = events.sparkSession
    import sp.implicits._

    import SessionCore.microsOf

    def update(user: Long, batch: Iterator[RateEvent2],
               state: GroupState[PatternState]): Iterator[VMatch] = {
      val prev = state.getOption.getOrElse(
        PatternState(Nil, haveLast = false, 0.0, None, None))
      val incoming = batch.map(e =>
        PendVal(microsOf(e.ts), e.event_id, e.value))
        .toList.sortBy(p => (p.us, p.id))
      val pending = {
        val out = List.newBuilder[PendVal]
        var a = prev.pending; var b = incoming
        while (a.nonEmpty && b.nonEmpty) {
          val aFirst =
            if (a.head.us != b.head.us) a.head.us < b.head.us
            else a.head.id <= b.head.id
          if (aFirst) { out += a.head; a = a.tail }
          else { out += b.head; b = b.tail }
        }
        out ++= a; out ++= b
        out.result()
      }
      val wmUs = state.getCurrentWatermarkMs() * 1000L
      val (ripe, hold) = pending.partition(_.us < wmUs)
      var haveLast = prev.haveLast; var lastVal = prev.lastVal
      var prevRun = prev.prevRun; var curRun = prev.curRun
      val out = List.newBuilder[VMatch]
      ripe.foreach { p =>
        if (!haveLast) { haveLast = true; lastVal = p.v }
        else {
          val d = math.signum(p.v - lastVal).toInt
          curRun match {
            case Some(r) if r.dir == d =>
              curRun = Some(r.copy(vLast = p.v))
            case Some(r) =>
              // run closes: an UP run after a deep-enough DOWN run IS
              // the pattern
              prevRun match {
                case Some(dn) if dn.dir == -1 && r.dir == 1 &&
                  dn.vFirst - dn.vLast >= minDrop =>
                  out += VMatch(user, dn.vFirst - dn.vLast,
                    r.vLast - dn.vLast)
                case _ => ()
              }
              prevRun = Some(r)
              curRun = Some(RunIv(d, lastVal, p.v))
            case None =>
              curRun = Some(RunIv(d, lastVal, p.v))
          }
          lastVal = p.v
        }
      }
      state.update(PatternState(hold, haveLast, lastVal, prevRun, curRun))
      if (hold.nonEmpty)
        state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + 1L)
      out.result().iterator
    }

    events
      .withWatermark("ts", lateness)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[PatternState, VMatch](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(update)
  }
}
