package graft.streaming

import graft.streaming.StreamSource.Event
import org.apache.spark.sql.Dataset
import graft.streaming.StatefulOps.{micros, ord, tsOfMicros}
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}

/** Window-layer extras SURVEY.md §2.5 lists beyond the Spark built-ins:
  * count-sliding windows, allowed lateness with a late-data side output,
  * and evictors.
  *
  * Reference analogs:
  *  - count sliding  → flink-table-runtime-blink window/assigners/
  *    CountSlidingWindowAssigner.java (+ count trigger)
  *  - allowed lateness / late side output → flink-streaming-java
  *    WindowedStream.java:112 (allowedLateness), :128 (sideOutputLateData),
  *    WindowOperator.java:98 (cleanup timer at end + lateness)
  *  - evictor → windowing/evictors/CountEvictor.java (keep the last N
  *    elements of the window before the aggregate fires)
  *
  * All three are event-time-ordered keyed operators (in-order contract of
  * StatefulOps; compose a watermark sorter upstream for out-of-order
  * feeds), each one a [[KeyedOp]] step body.
  * Firing is watermark-driven through EventTimeTimeout — state per key is
  * bounded by the open windows (plus lateness horizon), exactly the
  * reference's cleanup-timer bound.
  */
object WindowExtras {

  case class CountWin(user_id: Long, win_id: Long, cnt: Long, sum_value: Double)
  case class SlideState(nSeen: Long, recent: Seq[Double])

  /** Sliding COUNT window (size n, slide s): a window starts every s rows
    * per key; fires exactly when its n rows are complete. State: the last
    * n-1 values + one counter — O(n), not O(open windows). */
  def countSliding(ds: Dataset[Event], n: Int, s: Int): Dataset[CountWin] =
    KeyedStep[SlideState, CountWin] { (key, rows, state) =>
      var st = state.getOption.getOrElse(SlideState(0L, Vector.empty))
      val out = scala.collection.mutable.ArrayBuffer.empty[CountWin]
      rows.toSeq.sortBy(ord).foreach { e =>
        val recent = (st.recent :+ e.value).takeRight(n)
        val seen = st.nSeen + 1
        // the window ending at this row starts at seen-n and must be
        // aligned to the slide
        if (seen >= n && (seen - n) % s == 0)
          out += CountWin(key, (seen - n) / s, n.toLong, recent.sum)
        st = SlideState(seen, recent)
      }
      state.update(st)
      out.iterator
    }.run(ds)

  case class LateWinOut(w_start: java.sql.Timestamp, event_type: String,
                        cnt: Long, sum_value: Double, kind: String)
  case class WinAgg(cnt: Long, sum: Double, fired: Boolean, dirty: Boolean)
  case class LateState(keyMaxMicros: Long, wins: Map[Long, WinAgg])

  /** Tumbling event-time window per event_type with ALLOWED LATENESS and a
    * late-data side output, as one changelog stream:
    *  - kind="fire":   first emission when the key's event time passes
    *                   window end
    *  - kind="refire": updated result after a late row within the lateness
    *  - kind="late":   a row beyond end+lateness (one record per dropped
    *                   row — the side output; downstream splits on `kind`,
    *                   the single-pass fan-out of StreamingSemanticsSpec)
    *
    * Firing is driven by a PER-KEY event-time watermark (the key's max
    * seen timestamp, exact under the in-order contract) — the global Spark
    * watermark can't be used directly because FlatMapGroupsWithStateExec
    * drops input older than it, which is exactly the late data this
    * operator exists to see. Callers therefore set the upstream watermark
    * DELAY to lateness + slack: rows later than the lateness but within
    * the slack still reach the side output; rows beyond the delay are
    * dropped by the engine itself (the same bound production Spark
    * imposes). The global watermark serves only as the end-of-stream
    * flush trigger (EventTimeTimeout). Window state purges at
    * end + lateness (the reference's cleanup timer). */
  def tumbleLateness(ds: Dataset[Event], sizeMicros: Long,
                     latenessMicros: Long): Dataset[LateWinOut] =
    KeyedOp[String, Event, LateState, LateWinOut](
        _.event_type, GroupStateTimeout.EventTimeTimeout()) { (key, rows, state) =>
      val st0 = state.getOption.getOrElse(LateState(Long.MinValue, Map.empty))
      var keyMax = st0.keyMaxMicros
      var wins = st0.wins
      val out = scala.collection.mutable.ArrayBuffer.empty[LateWinOut]
      def fireReady(atEnd: Boolean): Unit =
        wins.toSeq.sortBy(_._1).foreach { case (ws, agg) =>
          if (atEnd || ws + sizeMicros <= keyMax) {
            if (!agg.fired) out += LateWinOut(tsOfMicros(ws), key, agg.cnt, agg.sum, "fire")
            else if (agg.dirty) out += LateWinOut(tsOfMicros(ws), key, agg.cnt, agg.sum, "refire")
            if (atEnd || ws + sizeMicros + latenessMicros <= keyMax) wins -= ws
            else wins += ws -> agg.copy(fired = true, dirty = false)
          }
        }
      if (state.hasTimedOut) {
        fireReady(atEnd = true) // end of stream: flush everything
        state.remove()
      } else {
        rows.toSeq.sortBy(ord).foreach { e =>
          val m = micros(e.ts)
          val ws = Math.floorDiv(m, sizeMicros) * sizeMicros
          if (ws + sizeMicros + latenessMicros <= keyMax) {
            // beyond the lateness horizon: side output, never the window
            out += LateWinOut(tsOfMicros(ws), key, 1L, e.value, "late")
          } else {
            val cur = wins.getOrElse(ws, WinAgg(0L, 0.0, fired = false, dirty = false))
            wins += ws -> WinAgg(cur.cnt + 1, cur.sum + e.value, cur.fired, cur.fired)
          }
          if (m > keyMax) keyMax = m
        }
        fireReady(atEnd = false)
        state.update(LateState(keyMax, wins))
        state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + 1)
      }
      out.iterator
    }.run(ds, OutputMode.Update())

  case class EvictWinOut(w_start: java.sql.Timestamp, user_id: Long,
                         cnt: Long, sum_value: Double)
  case class EvictState(wins: Map[Long, Seq[(Long, Double)]])

  /** A tumbling event-time window per user whose pane keeps the (event
    * time, value) rows its evictor lets through: `insert` adds an on-time
    * row to its window's pane, and `fire` turns the pane into (count, sum)
    * once the watermark passes the window's end. */
  private def evictingTumble(ds: Dataset[Event], sizeMicros: Long)(
      insert: (Seq[(Long, Double)], (Long, Double)) => Seq[(Long, Double)])(
      fire: Seq[(Long, Double)] => (Long, Double)): Dataset[EvictWinOut] =
    KeyedStep[EvictState, EvictWinOut]({ (key, rows, state) =>
      val wm = state.getCurrentWatermarkMs() * 1000L
      var wins = state.getOption.map(_.wins).getOrElse(Map.empty[Long, Seq[(Long, Double)]])
      val out = scala.collection.mutable.ArrayBuffer.empty[EvictWinOut]
      rows.toSeq.sortBy(ord).foreach { e =>
        val m = micros(e.ts)
        val ws = Math.floorDiv(m, sizeMicros) * sizeMicros
        if (ws + sizeMicros > wm) // on-time only (no lateness here)
          wins += ws -> insert(wins.getOrElse(ws, Vector.empty), (m, e.value))
      }
      wins.toSeq.sortBy(_._1).foreach { case (ws, pane) =>
        if (ws + sizeMicros <= wm) {
          val (cnt, sum) = fire(pane)
          out += EvictWinOut(tsOfMicros(ws), key, cnt, sum)
          wins -= ws
        }
      }
      if (wins.nonEmpty) {
        state.update(EvictState(wins))
        state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + 1)
      } else state.remove()
      out.iterator
    }, timeout = GroupStateTimeout.EventTimeTimeout()).run(ds, OutputMode.Update())

  /** Tumbling event-time window per user with a TIME EVICTOR: only rows
    * within `keepMicros` of the window's max event time survive to the
    * aggregate (ref windowing/evictors/TimeEvictor.java — evict elements
    * older than max - windowSize before the function fires). Pruned
    * incrementally on insert under the in-order contract. */
  def tumbleTimeEvictor(ds: Dataset[Event], sizeMicros: Long,
                        keepMicros: Long): Dataset[EvictWinOut] =
    evictingTumble(ds, sizeMicros)((pane, row) =>
      (pane :+ row).dropWhile(_._1 <= row._1 - keepMicros))(
      kept => (kept.length.toLong, kept.foldLeft(0.0)(_ + _._2)))

  /** Tumbling event-time window per user with a DELTA EVICTOR (ref
    * windowing/evictors/DeltaEvictor.java + functions/DeltaFunction): at
    * fire time, every buffered row whose delta against the window's LAST
    * element reaches `threshold` is evicted before the aggregate runs —
    * delta here = |value - lastValue|. Unlike the count/time evictors the
    * reference point is the newest element, which keeps moving, so the
    * window buffers all rows until it fires (the reference buffers the
    * same; its DeltaTrigger pairs with this to fire early on a big jump). */
  def tumbleDeltaEvictor(ds: Dataset[Event], sizeMicros: Long,
                         threshold: Double): Dataset[EvictWinOut] =
    evictingTumble(ds, sizeMicros)(_ :+ _) { pane =>
      val last = pane.last._2
      val kept = pane.map(_._2).filter(v => math.abs(v - last) < threshold)
      (kept.length.toLong, kept.sum)
    }

  case class FireOut(w_start: java.sql.Timestamp, user_id: Long, fire: String,
                     cnt: Long, sum_value: Double)
  case class TriggerState(wins: Map[Long, Seq[(Long, Double)]],
                          fired: Map[Long, Int])

  /** ContinuousEventTimeTrigger (+ optional PurgingTrigger wrapper) on a
    * tumbling event-time window — ref flink-streaming-java windowing/
    * triggers/ContinuousEventTimeTrigger.java (a timer every `interval`
    * of event time FIREs the window early; window content stays) and
    * PurgingTrigger.java (FIRE_AND_PURGE: each fire drains the pane, so
    * later fires see only newer rows). The third member of the
    * reference's trigger family, ProcessingTimeTrigger, maps to Spark's
    * own `Trigger.ProcessingTime` on the query (wall-clock micro-batch
    * cadence — orthogonal to this event-time algebra).
    *
    * Emission contract (oracle-checked):
    *  - partial fire k (kind `p<k>`) at boundary b_k = w_start + k·interval,
    *    k in 1..(size/interval - 1), once the watermark passes b_k; content
    *    = window rows with ts < b_k (half-open, like every window here) —
    *    minus already-purged rows when `purging`;
    *  - final fire (kind `final`) when the watermark passes window end,
    *    with the full (or post-purge remaining) content;
    *  - an empty pane never emits (the reference skips the window function
    *    on empty contents).
    * State per key: open windows' (ts, value) rows — the same bound as the
    * evictors; purging additionally shrinks panes as they fire. */
  def tumbleContinuousTrigger(ds: Dataset[Event], sizeMicros: Long,
                              intervalMicros: Long,
                              purging: Boolean): Dataset[FireOut] = {
    require(sizeMicros % intervalMicros == 0)
    val nFires = (sizeMicros / intervalMicros).toInt // last one is `final`
    KeyedStep[TriggerState, FireOut]({ (key, rows, state) =>
      val wm = state.getCurrentWatermarkMs() * 1000L
      var st = state.getOption.getOrElse(TriggerState(Map.empty, Map.empty))
      val out = scala.collection.mutable.ArrayBuffer.empty[FireOut]
      rows.toSeq.sortBy(ord).foreach { e =>
        val m = micros(e.ts)
        val ws = Math.floorDiv(m, sizeMicros) * sizeMicros
        if (ws + sizeMicros > wm)
          st = st.copy(wins =
            st.wins + (ws -> (st.wins.getOrElse(ws, Vector.empty) :+ (m, e.value))))
      }
      st.wins.toSeq.sortBy(_._1).foreach { case (ws, rows0) =>
        var pane = rows0
        var k = st.fired.getOrElse(ws, 0) + 1
        // fire every boundary the watermark has passed, in order
        while (k <= nFires &&
               (if (k == nFires) ws + sizeMicros <= wm
                else ws + k * intervalMicros <= wm)) {
          val isFinal = k == nFires
          val content =
            if (isFinal) pane
            else pane.filter(_._1 < ws + k * intervalMicros)
          if (content.nonEmpty)
            out += FireOut(tsOfMicros(ws), key,
              if (isFinal) "final" else s"p$k",
              content.length.toLong,
              BigDecimal(content.map(_._2).sum)
                .setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble)
          if (purging) pane = pane.filterNot(content.contains)
          k += 1
        }
        if (k > nFires) st = st.copy(wins = st.wins - ws, fired = st.fired - ws)
        else st = st.copy(wins = st.wins + (ws -> pane),
          fired = st.fired + (ws -> (k - 1)))
      }
      if (st.wins.nonEmpty) {
        state.update(st)
        state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + 1)
      } else state.remove()
      out.iterator
    }, timeout = GroupStateTimeout.EventTimeTimeout()).run(ds, OutputMode.Update())
  }

  /** Tumbling event-time window per user with a COUNT EVICTOR: only the
    * LAST `keep` rows (event-time order) of each window survive to the
    * aggregate, evicted incrementally on insert (O(keep) state per open
    * window, not the full window). Fires once at watermark passage. */
  def tumbleCountEvictor(ds: Dataset[Event], sizeMicros: Long,
                         keep: Int): Dataset[EvictWinOut] =
    evictingTumble(ds, sizeMicros)((pane, row) => (pane :+ row).takeRight(keep))(
      kept => (kept.length.toLong, kept.map(_._2).sum))
}
