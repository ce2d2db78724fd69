package graft.streaming

import graft.streaming.StreamSource.Event
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming semi/anti join and count windows — the remaining stateful
  * operators SURVEY.md §2 lists with no Spark built-in.
  *
  * Reference analogs:
  *  - semi/anti → operators/join/stream/StreamingSemiAntiJoinOperator.java:36
  *    (IN / EXISTS / NOT EXISTS on streams, retraction on late build rows)
  *  - count windows → flink-streaming-java windowing/assigners
  *    CountTumblingWindowAssigner (purging count trigger)
  *
  * Semi join is append-only: a probe row is emitted exactly once, as soon
  * as a build row for its key exists (probes arriving first are buffered).
  * Anti join is a changelog: +I when a probe currently has no build match,
  * -D retracting it if a build row arrives later — the reference emits the
  * same retraction; consumers fold the changelog (see
  * StreamQueries.antiJoin). State per key: one boolean once a build row has
  * been seen; the probe buffer only holds probes that precede the first
  * build row.
  */
object StreamJoins {

  case class SemiOut(user_id: Long, p_id: Long)
  case class AntiOut(user_id: Long, p_id: Long, rowkind: String)
  case class SemiState(buildSeen: Boolean, pendingProbes: List[Long])

  /** probe ∈ events[event_type=probeType], build ∈ events[buildType]. */
  def semiJoin(ds: Dataset[Event], probeType: String, buildType: String): Dataset[SemiOut] =
    KeyedStep[SemiState, SemiOut]({ (key, rows, state) =>
      var st = state.getOption.getOrElse(SemiState(false, Nil))
      val out = scala.collection.mutable.ArrayBuffer.empty[SemiOut]
      rows.foreach { e =>
        if (e.event_type == buildType) {
          if (!st.buildSeen) {
            st.pendingProbes.reverse.foreach(p => out += SemiOut(key, p))
            st = SemiState(buildSeen = true, Nil)
          }
        } else { // probe
          if (st.buildSeen) out += SemiOut(key, e.event_id)
          else st = st.copy(pendingProbes = e.event_id :: st.pendingProbes)
        }
      }
      state.update(st)
      out.iterator
    }, keep = Some(either(probeType, buildType))).run(ds)

  /** Rows of either event type. */
  private def either(a: String, b: String): Event => Boolean =
    e => e.event_type == a || e.event_type == b

  case class AntiState(buildSeen: Boolean, emitted: List[Long])

  /** Anti join changelog: +I per probe with no build match so far, -D
    * retractions when a build row invalidates earlier emissions. */
  def antiJoin(ds: Dataset[Event], probeType: String, buildType: String): Dataset[AntiOut] =
    KeyedStep[AntiState, AntiOut]({ (key, rows, state) =>
      var st = state.getOption.getOrElse(AntiState(false, Nil))
      val out = scala.collection.mutable.ArrayBuffer.empty[AntiOut]
      rows.foreach { e =>
        if (e.event_type == buildType) {
          if (!st.buildSeen) {
            st.emitted.reverse.foreach(p => out += AntiOut(key, p, "-D"))
            st = AntiState(buildSeen = true, Nil)
          }
        } else if (!st.buildSeen) {
          out += AntiOut(key, e.event_id, "+I")
          st = st.copy(emitted = e.event_id :: st.emitted)
        }
      }
      state.update(st)
      out.iterator
    }, keep = Some(either(probeType, buildType))).run(ds, OutputMode.Update())

  case class ConnOut(user_id: Long, p_id: Long, e_id: Option[Long], rowkind: String)
  case class ConnState(pending: List[(Long, Long)])

  /** connect / CoProcessFunction (SURVEY §2.9: `DataStream.connect` +
    * `CoProcessFunction`, ref flink-streaming-java ConnectedStreams.java /
    * CoProcessOperator.java): two typed streams keyed the same way flow
    * into ONE stateful operator that holds per-key state across both —
    * here the classic reconciliation shape (Flink training's "order +
    * payment" CoProcess): match each `probeType` row to the FIRST
    * `matchType` row of the same user strictly after it within
    * `windowSec`, null-padding probes that never match.
    *
    * Spark mapping: union of tagged streams into one
    * flatMapGroupsWithState (the two `processElement1/2` branches become a
    * tag dispatch on event_type). Changelog output like [[antiJoin]]: a
    * probe emits +I (p, NULL) immediately; the first qualifying match row
    * retracts it (-D) and re-emits +I (p, e). Consumers fold net>0.
    *
    * State is BOUNDED without timers: rows are processed in event-time
    * order (run it in the watermark sorter's operator,
    * [[StatefulOps.sortedThen]], under disorder, as the _ooo queries do), so an arriving match row's timestamp is a watermark —
    * pending probes whose window it passes can never match and are
    * dropped; already-seen match rows can never match a FUTURE probe
    * (their time is in its past) so they are not retained at all. A
    * production variant would add EventTimeTimeout GC for keys whose
    * match stream goes silent — the reference arms the same cleanup timer
    * (CoProcessOperator + state TTL). */
  def connectMatch(ds: Dataset[Event], probeType: String, matchType: String,
                   windowSec: Long = 3600): Dataset[ConnOut] =
    connectStep(probeType, matchType, windowSec).run(ds, OutputMode.Update())

  /** [[connectMatch]] as a [[KeyedStep]] reading only probe and match rows.
    * The +I/-D rows are immutable change facts (consumers fold net>0), so
    * Append is sound; it is what running inside the watermark sorter's
    * operator ([[StatefulOps.sortedThen]]) needs. */
  def connectStep(probeType: String, matchType: String,
                  windowSec: Long = 3600): KeyedStep[ConnState, ConnOut] = {
    val winUs = windowSec * 1000000L
    KeyedStep[ConnState, ConnOut]({ (key, rows, state) =>
      var pending = state.getOption.map(_.pending).getOrElse(Nil)
      val out = scala.collection.mutable.ArrayBuffer.empty[ConnOut]
      // within a micro-batch the file replay preserves event order for a
      // key; sort defensively on (ts, id) so ties are deterministic, at
      // full microsecond precision: getTime alone truncates to millis,
      // which would blur the strict `error after purchase` comparison
      rows.toSeq.sortBy(StatefulOps.ord).foreach { e =>
        val tUs = StatefulOps.micros(e.ts)
        // every in-order event's time bounds the past: expired probes
        // keep their null row and leave state — pruning on BOTH branches
        // keeps state window-dense even for keys whose match stream is
        // silent (a probe-only key would otherwise accumulate forever)
        pending = pending.filterNot { case (_, pUs) => pUs + winUs < tUs }
        if (e.event_type == probeType) {
          out += ConnOut(key, e.event_id, None, "+I")
          pending = (e.event_id, tUs) :: pending
        } else {
          val (matched, rest) = pending.partition {
            case (_, pUs) => pUs < tUs && tUs <= pUs + winUs
          }
          matched.sortBy(_._1).foreach { case (pId, _) =>
            out += ConnOut(key, pId, None, "-D")
            out += ConnOut(key, pId, Some(e.event_id), "+I")
          }
          pending = rest
        }
      }
      state.update(ConnState(pending))
      out.iterator
    }, keep = Some(either(probeType, matchType)))
  }

  case class OuterOut(user_id: Long, p_id: Long, v_id: Option[Long], rowkind: String)
  case class OuterState(builds: List[Long], probes: List[Long])

  /** Streaming LEFT OUTER join with null-padding revision (ref
    * operators/join/stream/StreamingJoinOperator.java:38 outer paths): a
    * probe with no build match emits +I (p, NULL) immediately; the FIRST
    * build row for the key retracts every null-padded probe (-D) and
    * re-emits them paired (+I); later rows pair eagerly. Consumers fold
    * net>0 per (key, p_id, v_id) — the folded table equals the batch LEFT
    * JOIN. State = all build+probe ids per key, the same unbounded bound
    * as Spark's own un-watermarked stream-stream join (production bounds
    * it with the event-time interval variant, q_stream_interval_join). */
  /** `stateTtlMs`: state retention mirroring the reference's
    * StreamingJoinOperator minRetentionTime (table.exec.state.ttl) — a
    * key idle past the TTL (event time, measured from the watermark) has
    * BOTH side buffers dropped. As in the reference, results after an
    * expiry are approximate: a late row re-joins against an empty buffer
    * and may null-pad again. None (default) = keep state forever, the
    * un-watermarked stream-join bound. */
  def leftOuterJoin(ds: Dataset[Event], probeType: String,
                    buildType: String,
                    stateTtlMs: Option[Long] = None): Dataset[OuterOut] =
    KeyedStep[OuterState, OuterOut]({ (key, rows, state) =>
      if (state.hasTimedOut) {
        // retention cleanup drops the key silently (the reference's
        // onTimer state.clear() — no retractions are emitted)
        state.remove()
        Iterator.empty
      } else {
        var st = state.getOption.getOrElse(OuterState(Nil, Nil))
        val out = scala.collection.mutable.ArrayBuffer.empty[OuterOut]
        var lastMs = 0L // key's last activity in event time — the TTL anchor
        rows.foreach { e =>
          lastMs = math.max(lastMs, StatefulOps.micros(e.ts) / 1000L)
          if (e.event_type == buildType) {
            if (st.builds.isEmpty)
              st.probes.foreach(p => out += OuterOut(key, p, None, "-D"))
            st.probes.foreach(p => out += OuterOut(key, p, Some(e.event_id), "+I"))
            st = st.copy(builds = e.event_id :: st.builds)
          } else {
            if (st.builds.isEmpty) out += OuterOut(key, e.event_id, None, "+I")
            else st.builds.foreach(b => out += OuterOut(key, e.event_id, Some(b), "+I"))
            st = st.copy(probes = e.event_id :: st.probes)
          }
        }
        state.update(st)
        armTtl(state, lastMs, stateTtlMs)
        out.iterator
      }
    }, keep = Some(either(probeType, buildType)), timeout = ttlTimeout(stateTtlMs))
      .run(ds, OutputMode.Update())

  private def ttlTimeout(stateTtlMs: Option[Long]): GroupStateTimeout =
    if (stateTtlMs.isDefined) GroupStateTimeout.EventTimeTimeout()
    else GroupStateTimeout.NoTimeout()

  /** Expires the key `ttl` past its last event-time activity; the max()
    * keeps the timer legal (strictly ahead of the watermark). */
  private def armTtl(state: GroupState[_], lastMs: Long, stateTtlMs: Option[Long]): Unit =
    stateTtlMs.foreach { ttl =>
      try state.setTimeoutTimestamp(
        math.max(lastMs, state.getCurrentWatermarkMs() + 1) + ttl)
      catch { case _: UnsupportedOperationException => () } // batch: no timers
    }

  case class FullOuterOut(user_id: Long, l_id: Option[Long], r_id: Option[Long],
                          rowkind: String)
  case class TwoSideState(lefts: List[Long], rights: List[Long])

  /** Streaming RIGHT / FULL outer join with retraction — the two outer
    * types the reference's StreamingJoinOperator.java:38 handles beyond
    * LEFT (leftOuterJoin above). `padLeft` emits +I (l, NULL) for a left
    * row with no right match yet (LEFT and FULL); `padRight` emits
    * +I (NULL, r) for an unmatched right row (RIGHT and FULL). The FIRST
    * row arriving on one side retracts (-D) every null-padded row of the
    * other side and the eager pairing re-emits them matched — exactly the
    * reference's associated-record-count transition from 0 to 1. Consumers
    * fold net>0 per (key, l_id, r_id); the folded table equals the batch
    * outer join. State = both sides' ids per key (the same unbounded bound
    * as Spark's own un-watermarked stream-stream join; production bounds
    * it with the interval variant). */
  def outerJoinChangelog(ds: Dataset[Event],
                         leftPred: Event => Boolean, rightPred: Event => Boolean,
                         padLeft: Boolean, padRight: Boolean,
                         stateTtlMs: Option[Long] = None): Dataset[FullOuterOut] =
    KeyedStep[TwoSideState, FullOuterOut]({ (key, rows, state) =>
      if (state.hasTimedOut) { state.remove(); Iterator.empty } else {
        var st = state.getOption.getOrElse(TwoSideState(Nil, Nil))
        val out = scala.collection.mutable.ArrayBuffer.empty[FullOuterOut]
        var lastMs = 0L
        rows.foreach { e =>
          lastMs = math.max(lastMs, StatefulOps.micros(e.ts) / 1000L)
          if (leftPred(e)) {
            if (st.rights.isEmpty) {
              if (padLeft) out += FullOuterOut(key, Some(e.event_id), None, "+I")
            } else {
              if (st.lefts.isEmpty && padRight)
                st.rights.foreach(r => out += FullOuterOut(key, None, Some(r), "-D"))
              st.rights.foreach(r => out += FullOuterOut(key, Some(e.event_id), Some(r), "+I"))
            }
            st = st.copy(lefts = e.event_id :: st.lefts)
          } else {
            if (st.lefts.isEmpty) {
              if (padRight) out += FullOuterOut(key, None, Some(e.event_id), "+I")
            } else {
              if (st.rights.isEmpty && padLeft)
                st.lefts.foreach(l => out += FullOuterOut(key, Some(l), None, "-D"))
              st.lefts.foreach(l => out += FullOuterOut(key, Some(l), Some(e.event_id), "+I"))
            }
            st = st.copy(rights = e.event_id :: st.rights)
          }
        }
        state.update(st)
        armTtl(state, lastMs, stateTtlMs)
        out.iterator
      }
    }, keep = Some(e => leftPred(e) || rightPred(e)), timeout = ttlTimeout(stateTtlMs))
      .run(ds, OutputMode.Update())

  case class CountWin(user_id: Long, win_id: Long, cnt: Long, sum_value: Double)
  case class CountWinState(winId: Long, cnt: Long, sum: Double)

  /** Tumbling COUNT window: per key, every `n` rows (event-time order
    * within batch) form a window; fires exactly when full — incomplete
    * windows never fire (reference purging count-trigger semantics). */
  def countTumbling(ds: Dataset[Event], n: Int): Dataset[CountWin] =
    KeyedStep[CountWinState, CountWin] { (key, rows, state) =>
      var st = state.getOption.getOrElse(CountWinState(0L, 0L, 0.0))
      val out = scala.collection.mutable.ArrayBuffer.empty[CountWin]
      rows.toSeq.sortBy(StatefulOps.ord).foreach { e =>
        st = CountWinState(st.winId, st.cnt + 1, st.sum + e.value)
        if (st.cnt == n) {
          out += CountWin(key, st.winId, st.cnt, st.sum)
          st = CountWinState(st.winId + 1, 0L, 0.0)
        }
      }
      state.update(st)
      out.iterator
    }.run(ds)
}
