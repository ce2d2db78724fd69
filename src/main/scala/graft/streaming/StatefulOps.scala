package graft.streaming

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8

import graft.streaming.StreamSource.Event
import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Custom stateful streaming operators (SURVEY.md §7.1 "custom stateful
  * operators" — the capabilities Spark lacks as built-ins). Each one is only
  * a step body, a [[KeyedOp]] (a [[KeyedStep]] when keyed by user_id); a
  * state with collections is held as codec bytes, and `KeyedOp.run` and
  * [[sortedThen]] are the only places that call `flatMapGroupsWithState`.
  *
  * Reference analogs:
  *  - keepLast       → operators/deduplicate/ProcTimeDeduplicateKeepLastRowFunction.java
  *  - topN           → operators/rank/AppendOnlyTopNFunction.java:48 (+Updatable)
  *  - runningAgg     → operators/over/RowTimeRowsUnboundedPrecedingFunction (over-window on stream)
  *  - changelogNormalize → StreamExecChangelogNormalize.scala + RowKind.java:35-58
  *
  * Ordering contract: rows are processed in event-time order WITHIN each
  * micro-batch (we sort the group iterator); cross-batch order relies on the
  * source replaying in order, which holds for file replay and ordered test
  * feeds. Full out-of-order safety buffers rows until the watermark passes
  * them (EventTimeTimeout + state buffer), at the cost of latency: that
  * is [[sortedThen]], which runs the watermark sorter and a user_id-keyed
  * step as ONE stateful operator, with one shuffle and one state store per
  * partition. Only the operators keyed by event_type (topNVersioned,
  * topNChangelog) still run as a second operator after `sortedEvents`,
  * behind a second shuffle.
  *
  * Scale: state per key is O(1) (keepLast, runningAgg), O(N) (topN) or
  * O(unflushed window) (the sorter) — all bounded; keys shard across
  * executors by groupByKey hash, the same keyed-state sharding the
  * reference uses.
  */
object StatefulOps {

  /** Event-time sort key in MICROseconds — Timestamp.getTime is millis-only
    * and would mis-order same-millisecond events vs the oracle's full-
    * precision ORDER BY ts. */
  private[streaming] def micros(t: java.sql.Timestamp): Long =
    (t.getTime / 1000L) * 1000000L + t.getNanos / 1000L

  /** The Timestamp of an event time in microseconds; inverse of [[micros]]. */
  private[streaming] def tsOfMicros(m: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(m / 1000L)
    t.setNanos(((m % 1000000L) * 1000L).toInt)
    t
  }

  /** A row's (event time, event_id) order. */
  private[streaming] def ord(e: Event): (Long, Long) = (micros(e.ts), e.event_id)

  /** Keep-last-row-per-key dedup. Emits the new latest row for a key
    * whenever it changes — each emission is an immutable "the latest
    * advanced to X" fact, monotone in (ts, event_id) per key, so the
    * operator is declared APPEND. Single-batch replays emit once per key;
    * multi-batch consumers fold argmax(ts, event_id) per key. */
  val keepLastStep: KeyedStep[Event, Event] = KeyedStep[Event, Event] {
    (_, rows, state) =>
      val latestIn = rows.maxBy(ord)
      val cur = state.getOption
      if (cur.isEmpty || Ordering[(Long, Long)].gt(ord(latestIn), ord(cur.get))) {
        state.update(latestIn)
        Iterator.single(latestIn)
      } else Iterator.empty
  }

  def keepLast(ds: Dataset[Event]): Dataset[Event] = keepLastStep.run(ds)

  /** Keep-last dedup with IDLE-STATE RETENTION (ref StateTtlConfig /
    * table.exec.state.ttl, docs/dev/table/streaming/query_configuration.md):
    * a key's state is dropped once event time passes its last row by
    * `ttlMs`, so unbounded key spaces (session ids, request ids) don't
    * grow state forever — the price is the documented TTL semantics: a
    * row arriving after its key expired is treated as new, even if an
    * older version preceded it. At 100 TB of keys this bound is what
    * keeps the state store finite. */
  def keepLastWithTtl(ds: Dataset[Event], ttlMs: Long): Dataset[Event] =
    KeyedStep[Event, Event]({ (key, rows, state) =>
      if (state.hasTimedOut) {
        // idle horizon passed: forget the key entirely
        state.remove()
        Iterator.empty
      } else {
        val out = keepLastStep.fn(key, rows, state)
        val lastMs = micros(state.get.ts) / 1000L
        state.setTimeoutTimestamp(math.max(lastMs + ttlMs, state.getCurrentWatermarkMs() + 1))
        out
      }
    }, timeout = GroupStateTimeout.EventTimeTimeout()).run(ds, OutputMode.Update())

  case class Ranked(event_type: String, rank: Int, event_id: Long,
                    user_id: Long, value: Double)

  /** Continuously-maintained per-key Top-N by (value desc, event_id asc).
    * Each batch emits the key's full current top-N (update semantics: the
    * sink's last emission per key is the answer; the reference's retract
    * variant maps to changelogNormalize-style -U/+U emission). */
  def topN(ds: Dataset[Event], n: Int): Dataset[Ranked] = topNRange(ds, 1, n)

  /** The top `n` of a key's held and new rows by (value desc, event_id). */
  private def top(held: List[Event], rows: Iterator[Event], n: Int): List[Event] =
    (held ++ rows).sortBy(e => (-e.value, e.event_id)).take(n)

  /** Top-N with a rank RANGE — `WHERE rn BETWEEN rankStart AND rankEnd`
    * (ref operators/rank/AbstractTopNFunction.java: the reference plans any
    * constant RankRange(rankStart, rankEnd), not just 1..N; "page 2 of the
    * leaderboard" queries). State keeps the key's top rankEnd rows — the
    * prefix is required to know which rows occupy ranks < rankStart — but
    * only ranks inside the range emit. Update semantics like [[topN]]. */
  def topNRange(ds: Dataset[Event], rankStart: Int, rankEnd: Int): Dataset[Ranked] = {
    require(1 <= rankStart && rankStart <= rankEnd,
      s"invalid rank range [$rankStart, $rankEnd]")
    KeyedOp[String, Event, List[Event], Ranked](_.event_type) { (key, rows, state) =>
      val merged = top(state.getOption.getOrElse(Nil), rows, rankEnd)
      state.update(merged)
      merged.iterator.zipWithIndex.collect {
        case (e, i) if i + 1 >= rankStart =>
          Ranked(key, i + 1, e.event_id, e.user_id, e.value)
      }
    }.run(ds, OutputMode.Update())
  }

  case class RankedVer(event_type: String, rank: Int, event_id: Long,
                       user_id: Long, value: Double, ver: Long)
  case class TopNVerState(rows: List[Event], ver: Long)

  /** Top-N in APPEND mode: each batch with input for a key emits the key's
    * refreshed full top-N tagged with a monotone generation number —
    * a versioned changelog rather than in-place updates, so the operator
    * can chain after sortedEvents (all-append rule). The consumer keeps
    * each key's max-ver generation (the same upsert fold the update-mode
    * topN delegates to the memory sink). */
  def topNVersioned(ds: Dataset[Event], n: Int): Dataset[RankedVer] =
    KeyedOp[String, Event, TopNVerState, RankedVer](_.event_type) { (key, rows, state) =>
      val st = state.getOption.getOrElse(TopNVerState(Nil, 0L))
      val merged = top(st.rows, rows, n)
      val ver = st.ver + 1
      state.update(TopNVerState(merged, ver))
      merged.iterator.zipWithIndex.map { case (e, i) =>
        RankedVer(key, i + 1, e.event_id, e.user_id, e.value, ver)
      }
    }.run(ds)

  case class RankedChange(event_type: String, rank: Int, event_id: Long,
                          user_id: Long, value: Double, rowkind: String)

  /** Retracting Top-N (ref operators/rank/RetractableTopNFunction.java:53):
    * per batch, the OLD ranking is diffed against the NEW one and only the
    * changed ranks emit — -U/+U for a replaced entry, +I for a newly
    * occupied rank, -D for a vacated one. Consumers fold the changelog
    * (net > 0 per (key, rank, event_id)) to the current ranking; a sink
    * keyed on (key, rank) can apply it as upserts/deletes directly. */
  def topNChangelog(ds: Dataset[Event], n: Int): Dataset[RankedChange] =
    // -U/+U/-D/+I rows are immutable change facts (the consumer folds
    // net>0) — APPEND mode, chainable after sortedEvents
    KeyedOp[String, Event, List[Event], RankedChange](_.event_type) { (key, rows, state) =>
      val old = state.getOption.getOrElse(Nil)
      val cur = top(old, rows, n)
      state.update(cur)
      val out = scala.collection.mutable.ArrayBuffer.empty[RankedChange]
      def chg(e: Event, r: Int, kind: String): RankedChange =
        RankedChange(key, r + 1, e.event_id, e.user_id, e.value, kind)
      (0 until math.max(old.size, cur.size)).foreach { r =>
        (old.lift(r), cur.lift(r)) match {
          case (Some(o), Some(nw)) if o.event_id == nw.event_id => ()
          case (Some(o), Some(nw)) => out += chg(o, r, "-U") += chg(nw, r, "+U")
          case (None, Some(nw))    => out += chg(nw, r, "+I")
          case (Some(o), None)     => out += chg(o, r, "-D")
          case _ => ()
        }
      }
      out.iterator
    }.run(ds)

  case class Running(user_id: Long, event_id: Long, run_cnt: Long, run_sum: Double)
  case class AggState(cnt: Long, sum: Double)

  /** Streaming OVER aggregate: per-key running count/sum in event-time
    * order (ROWS UNBOUNDED PRECEDING). One emission per input row. */
  // append mode: every input row emits exactly one output row, never revised
  val runningAggStep: KeyedStep[AggState, Running] = KeyedStep[AggState, Running] {
    (key, rows, state) =>
      var st = state.getOption.getOrElse(AggState(0L, 0.0))
      val out = rows.toSeq.sortBy(ord).map { e =>
        st = AggState(st.cnt + 1, st.sum + e.value)
        Running(key, e.event_id, st.cnt, st.sum)
      }
      state.update(st)
      out.iterator
  }

  def runningAgg(ds: Dataset[Event]): Dataset[Running] = runningAggStep.run(ds)

  case class BoundedAgg(user_id: Long, event_id: Long, w_cnt: Long, w_sum: Double)
  case class RowsBuf(vals: Seq[Double])
  case class RangeBuf(rows: Seq[(Long, Double)])

  /** Streaming bounded OVER aggregate, `ROWS BETWEEN n PRECEDING AND
    * CURRENT ROW`: per-key ring buffer of the previous n values — O(n)
    * state, one emission per row (ref operators/over/
    * RowTimeRowsBoundedPrecedingFunction.java:68, which keeps the same
    * retract-from-left buffer). The window sum is recomputed left-to-right
    * over the (short) buffer instead of add/retract accumulation so float
    * results are order-stable against the batch oracle. */
  def boundedRowsStep(nPreceding: Int): KeyedStep[RowsBuf, BoundedAgg] =
    KeyedStep[RowsBuf, BoundedAgg] { (key, rows, state) =>
      var buf = state.getOption.map(_.vals.toVector).getOrElse(Vector.empty)
      val out = rows.toSeq.sortBy(ord).map { e =>
        val win = (buf :+ e.value).takeRight(nPreceding + 1)
        buf = win
        BoundedAgg(key, e.event_id, win.length.toLong, win.sum)
      }
      state.update(RowsBuf(buf.takeRight(nPreceding)))
      out.iterator
    }

  def boundedRowsAgg(ds: Dataset[Event], nPreceding: Int): Dataset[BoundedAgg] =
    boundedRowsStep(nPreceding).run(ds)

  /** Streaming bounded OVER aggregate, `RANGE BETWEEN interval PRECEDING
    * AND CURRENT ROW`: per-key buffer of (event-time, value) pruned below
    * the sliding horizon — state bounded by the interval's row capacity
    * (ref operators/over/RowTimeRangeBoundedPrecedingFunction.java:61).
    * The frame is the processed-prefix order (ties included only up to the
    * current (ts, event_id)), matching the interval-join oracle. */
  def boundedRangeStep(precedingMicros: Long): KeyedStep[RangeBuf, BoundedAgg] =
    KeyedStep[RangeBuf, BoundedAgg] { (key, rows, state) =>
      var buf = state.getOption.map(_.rows.toVector).getOrElse(Vector.empty)
      val out = rows.toSeq.sortBy(ord).map { e =>
        val m = micros(e.ts)
        buf = (buf :+ (m, e.value)).dropWhile(_._1 < m - precedingMicros)
        BoundedAgg(key, e.event_id, buf.length.toLong,
          buf.foldLeft(0.0)(_ + _._2))
      }
      state.update(RangeBuf(buf))
      out.iterator
    }

  def boundedRangeAgg(ds: Dataset[Event], precedingMicros: Long): Dataset[BoundedAgg] =
    boundedRangeStep(precedingMicros).run(ds)

  /** `seq` is the change's event-time in micros: downstream keyed sinks use
    * (seq, event_id) for an executor-side last-writer-wins merge instead of
    * replaying rows in emission order on the driver. */
  case class Change(user_id: Long, event_id: Long, rowkind: String, seq: Long = 0L)
  case class LastRow(ts: Long, event_id: Long)

  /** Changelog-normalize: interpret the keyed stream as upserts and emit a
    * +I / -U / +U changelog (the reference's RowKind flow made explicit as
    * a column — the `__rowkind` convention from SURVEY.md §7.1). Change
    * facts are immutable once emitted — APPEND mode. */
  val changelogStep: KeyedStep[LastRow, Change] = KeyedStep[LastRow, Change] {
    (key, rows, state) =>
      val out = scala.collection.mutable.ArrayBuffer.empty[Change]
      var cur = state.getOption
      rows.toSeq.sortBy(ord).foreach { e =>
        val m = micros(e.ts)
        cur match {
          case None =>
            out += Change(key, e.event_id, "+I", m)
          case Some(prev) =>
            out += Change(key, prev.event_id, "-U", prev.ts)
            out += Change(key, e.event_id, "+U", m)
        }
        cur = Some(LastRow(m, e.event_id))
      }
      cur.foreach(state.update)
      out.iterator
  }

  def changelogNormalize(ds: Dataset[Event]): Dataset[Change] = changelogStep.run(ds)

  // ---------------------------------------------------------------------
  // Processing-time operator variants (ref ProcTimeDeduplicateKeepFirstRow
  // Function.java, ProcTimeRowsUnboundedPrecedingFunction,
  // TemporalProcessTimeJoinOperator.java): no event-time sort, no
  // watermark — rows take effect in ARRIVAL order and state is consulted
  // "as of now". On the ordered file replay (events.parquet is (ts,
  // event_id)-sorted, single split) arrival order is deterministic, which
  // is what makes these oracle-checkable; the genuinely proc-time behavior
  // (first ARRIVAL wins even when a smaller event-time row arrives later)
  // is pinned by StreamingSemanticsSpec on shuffled MemoryStream input.
  // ---------------------------------------------------------------------

  /** Proc-time dedup keep-FIRST: one emission per key, the first row to
    * ARRIVE; later rows are dropped without inspecting event time. */
  def procTimeDedupKeepFirst(ds: Dataset[Event]): Dataset[Event] =
    KeyedStep[Boolean, Event] { (_, rows, state) =>
      if (state.getOption.contains(true) || !rows.hasNext) Iterator.empty
      else { state.update(true); Iterator.single(rows.next()) }
    }.run(ds)

  /** Proc-time unbounded OVER: running count/sum in arrival order (no
    * per-batch event-time sort — contrast runningAgg above). */
  def procTimeRunningAgg(ds: Dataset[Event]): Dataset[Running] =
    KeyedStep[AggState, Running] { (key, rows, state) =>
      var st = state.getOption.getOrElse(AggState(0L, 0.0))
      val out = rows.map { e =>
        st = AggState(st.cnt + 1, st.sum + e.value)
        Running(key, e.event_id, st.cnt, st.sum)
      }.toList
      state.update(st)
      out.iterator
    }.run(ds)

  case class ProcJoinOut(user_id: Long, p_id: Long, v_id: Option[Long])

  /** Proc-time temporal join: each probe row pairs with the build side's
    * CURRENT latest version at the moment the probe ARRIVES (null-padded
    * when none yet) — the "join against the table as of now" semantics of
    * the reference's processing-time temporal join; no versioned history
    * is kept, so a probe can never see a build row that arrives later
    * even if its event time is earlier. State per key: one build row. */
  def procTimeTemporalJoin(ds: Dataset[Event], probeType: String,
                           buildType: String): Dataset[ProcJoinOut] =
    KeyedStep[Long, ProcJoinOut]({ (key, rows, state) =>
      val out = scala.collection.mutable.ArrayBuffer.empty[ProcJoinOut]
      var cur = state.getOption
      rows.foreach { e =>
        if (e.event_type == buildType) cur = Some(e.event_id)
        else out += ProcJoinOut(key, e.event_id, cur)
      }
      cur.foreach(state.update)
      out.iterator
    }, keep = Some(e => e.event_type == probeType || e.event_type == buildType)).run(ds)

  case class ValChange(user_id: Long, event_id: Long, event_type: String,
                       value: Double, rowkind: String, seq: Long)
  case class LastVal(ts: Long, event_id: Long, event_type: String, value: Double)

  /** Value-carrying changelog normalize in APPEND mode: each keyed upsert
    * emits immutable change facts (+I first row, -U old / +U new after),
    * carrying the retracted/inserted VALUE so a downstream aggregate can
    * consume the changelog (ref StreamExecChangelogNormalize emitting
    * RowKind-tagged full rows, not just keys). Append output is what lets
    * the retractable aggregate chain after it in one query. */
  def valueChangelog(ds: Dataset[Event]): Dataset[ValChange] =
    KeyedStep[LastVal, ValChange] { (key, rows, state) =>
      val out = scala.collection.mutable.ArrayBuffer.empty[ValChange]
      var cur = state.getOption
      rows.toSeq.sortBy(ord).foreach { e =>
        val m = micros(e.ts)
        cur match {
          case None =>
            out += ValChange(key, e.event_id, e.event_type, e.value, "+I", m)
          case Some(p) =>
            out += ValChange(key, p.event_id, p.event_type, p.value, "-U", p.ts)
            out += ValChange(key, e.event_id, e.event_type, e.value, "+U", m)
        }
        cur = Some(LastVal(m, e.event_id, e.event_type, e.value))
      }
      cur.foreach(state.update)
      out.iterator
    }.run(ds)

  case class RetractAggOut(event_type: String, cnt: Long, sum_value: Double,
                           min_value: Double, max_value: Double, ver: Long)
  case class RetractAggState(cnt: Long, sum: Double,
                             counts: Map[Double, Long], changes: Long)

  /** Retractable group aggregate: consumes a -U/+U changelog and maintains
    * count/sum/min/max correctly under retraction (ref GroupAggFunction.java
    * :45 processing RowKind rows; min/max recover through a value→count
    * multiset exactly like MinWithRetractAggFunction's MapState — when the
    * current minimum is retracted the next-smallest surviving value takes
    * over, which no subtract-only accumulator can do). Count/sum fold
    * commutatively (+ for accumulate rows, - for retract rows), so
    * cross-user arrival order inside a batch cannot change the result.
    * Emits the group's refreshed aggregate once per batch tagged with a
    * monotone change version; the consumer keeps each group's max-version
    * row (upsert fold). State per group: one entry per DISTINCT live value. */
  def retractableAgg(changes: Dataset[ValChange]): Dataset[RetractAggOut] =
    KeyedOp[String, ValChange, RetractAggState, RetractAggOut](_.event_type) {
      (key, rows, state) =>
        var st = state.getOption.getOrElse(RetractAggState(0L, 0.0, Map.empty, 0L))
        rows.foreach { c =>
          val retract = c.rowkind == "-U" || c.rowkind == "-D"
          val d = if (retract) -1L else 1L
          val nc = st.counts.getOrElse(c.value, 0L) + d
          val counts = if (nc == 0L) st.counts - c.value
                       else st.counts + (c.value -> nc)
          st = RetractAggState(st.cnt + d,
            if (retract) st.sum - c.value else st.sum + c.value,
            counts, st.changes + 1)
        }
        state.update(st)
        if (st.cnt > 0) {
          val live = st.counts.collect { case (v, n) if n > 0 => v }
          Iterator.single(RetractAggOut(key, st.cnt, st.sum,
            live.min, live.max, st.changes))
        } else Iterator.empty
    }.run(changes)

  case class SessOut(user_id: Long, w_start: java.sql.Timestamp, cnt: Long, sum_value: Double)
  case class SessState(startMicros: Long, endMicros: Long, cnt: Long, sum: Double)

  /** Session windows with a PER-EVENT gap (ref: dynamic-gap session
    * assigner, SessionWindowTimeGapExtractor): each event extends its
    * session's end to max(end, ts + gap(event)); an event beyond the
    * current end closes the session and opens a new one. Completed
    * sessions emit once final; the open session re-emits per batch with
    * its current aggregate (update semantics — the sink keeps the row
    * with the highest cnt per (key, w_start)). */
  // append-mode snapshot emissions (the sink fold keeps each session's
  // max-cnt row)
  def dynamicSessionStep(gapMicros: Event => Long): KeyedStep[SessState, SessOut] =
    KeyedStep[SessState, SessOut] { (key, rows, state) =>
      var cur = state.getOption
      val out = scala.collection.mutable.ArrayBuffer.empty[SessOut]
      rows.toSeq.sortBy(ord).foreach { e =>
        val m = micros(e.ts)
        cur match {
          case Some(s) if m <= s.endMicros =>
            cur = Some(SessState(s.startMicros,
              math.max(s.endMicros, m + gapMicros(e)), s.cnt + 1, s.sum + e.value))
          case other =>
            other.foreach(s =>
              out += SessOut(key, tsOfMicros(s.startMicros), s.cnt, s.sum))
            cur = Some(SessState(m, m + gapMicros(e), 1L, e.value))
        }
      }
      cur.foreach { s =>
        state.update(s)
        out += SessOut(key, tsOfMicros(s.startMicros), s.cnt, s.sum)
      }
      out.iterator
    }

  def dynamicSession(ds: Dataset[Event], gapMicros: Event => Long): Dataset[SessOut] =
    dynamicSessionStep(gapMicros).run(ds)

  /** The watermark sorter's held rows for one key (r17, guide §2.3's
    * narrower-types lever applied to STATE): parallel primitive arrays,
    * event_type dictionary-coded in a tiny per-key dict, and no `user_id`,
    * which is the group key. A `List[Event]` state paid a full per-element
    * encoder round trip (a Gregorian↔Julian rebase per Timestamp, a
    * UTF8String↔String conversion per event_type) for every held row on
    * every micro-batch. Stored packed into one byte array. */
  private[streaming] final class HeldRows(val ids: Array[Long], val tsMicros: Array[Long],
                                          val values: Array[Double], val codes: Array[Int],
                                          val dict: Array[String]) {
    def pack: Array[Byte] = {
      val n = ids.length
      val strs = dict.map(_.getBytes(UTF_8))
      val bb = ByteBuffer.allocate(8 + 28 * n + strs.map(4 + _.length).sum)
      bb.putInt(n).putInt(strs.length)
      var i = 0
      while (i < n) {
        bb.putLong(ids(i)).putLong(tsMicros(i)).putDouble(values(i)).putInt(codes(i))
        i += 1
      }
      strs.foreach(b => bb.putInt(b.length).put(b))
      bb.array
    }
  }

  private[streaming] object HeldRows {
    private val none = new HeldRows(Array.emptyLongArray, Array.emptyLongArray,
      Array.emptyDoubleArray, Array.emptyIntArray, Array.empty[String])

    /** The rows packed in `b`; none when `b` is null. */
    def unpack(b: Array[Byte]): HeldRows = if (b == null) none else {
      val bb = ByteBuffer.wrap(b)
      val n = bb.getInt
      val ids = new Array[Long](n); val tsM = new Array[Long](n)
      val vals = new Array[Double](n); val codes = new Array[Int](n)
      val dict = new Array[String](bb.getInt)
      var i = 0
      while (i < n) {
        ids(i) = bb.getLong; tsM(i) = bb.getLong; vals(i) = bb.getDouble; codes(i) = bb.getInt
        i += 1
      }
      for (d <- dict.indices) {
        val s = new Array[Byte](bb.getInt)
        bb.get(s)
        dict(d) = new String(s, UTF_8)
      }
      new HeldRows(ids, tsM, vals, codes, dict)
    }
  }

  /** One key's state in [[sortedThen]]: the sorter's held rows and the
    * step's state, each as bytes, null when that half is empty. Binary
    * fields keep Spark's state deserializer free of `MapObjects`: Spark
    * resolves the state encoder again for every micro-batch, a
    * `MapObjects` lambda variable takes a new id each time, and the
    * generated deserializer then misses the codegen cache and recompiles
    * once per batch (the former `EventBuf` state, with its `Array[String]`
    * dict, did exactly that). */
  case class SortedState(held: Array[Byte], step: Array[Byte])

  /** The watermark sorter and a user_id-keyed step as ONE stateful
    * operator. Rows are buffered per key and released in (event time,
    * event_id) order once the watermark passes them (ref
    * RowTimeSortOperator buffering before order-sensitive operators); the
    * step then runs on that key's released rows in the same call, the way
    * the reference chains forward-partitioned operators into one task
    * (StreamingJobGraphGenerator.isChainable). The output equals
    * `step.run(sortedEvents(ds))` batch for batch, with one shuffle and one
    * set of state stores instead of two:
    *  - the timeout is set at the earliest held row's time;
    *  - the step runs only when a released row passes its `keep`, and it
    *    never sees a timeout or the watermark (its [[StepState]] refuses
    *    both, and a step declared with a timeout is rejected up front);
    *  - a key's state is removed only when it holds no rows and the step
    *    holds no state.
    * Being the query's only stateful operator, it also passes Spark's
    * global-watermark correctness check, which the two-operator form trips
    * (the sorter emits rows older than the watermark by design). */
  def sortedThen[S, O](ds: Dataset[Event], delay: String)(step: KeyedStep[S, O]): Dataset[O] = {
    require(step.timeout == GroupStateTimeout.NoTimeout(),
      "a step chained after the watermark sorter runs without timeouts")
    val fn = step.fn
    val keep = step.keep
    val codec = new StateCodec(step.stateEnc)
    ds.withWatermark("ts", delay)
      .groupByKey(_.user_id)(Encoders.scalaLong)
      .flatMapGroupsWithState[SortedState, O](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (key: Long, rows: Iterator[Event], state: GroupState[SortedState]) =>
          val wm = state.getCurrentWatermarkMs()
          val prev = state.getOption.orNull
          val newRows = rows.toArray
          val prevHeld = HeldRows.unpack(if (prev == null) null else prev.held)
          val nPrev = prevHeld.ids.length
          val n = nPrev + newRows.length
          val ids = new Array[Long](n); val tsM = new Array[Long](n)
          val vals = new Array[Double](n); val codes = new Array[Int](n)
          val dictB = scala.collection.mutable.ArrayBuffer.empty[String]
          val dictIdx = scala.collection.mutable.HashMap.empty[String, Int]
          System.arraycopy(prevHeld.ids, 0, ids, 0, nPrev)
          System.arraycopy(prevHeld.tsMicros, 0, tsM, 0, nPrev)
          System.arraycopy(prevHeld.values, 0, vals, 0, nPrev)
          System.arraycopy(prevHeld.codes, 0, codes, 0, nPrev)
          prevHeld.dict.foreach { s => dictIdx(s) = dictB.length; dictB += s }
          var i = 0
          while (i < newRows.length) {
            val e = newRows(i)
            ids(nPrev + i) = e.event_id
            tsM(nPrev + i) = micros(e.ts)
            vals(nPrev + i) = e.value
            codes(nPrev + i) = dictIdx.getOrElseUpdate(e.event_type,
              { dictB += e.event_type; dictB.length - 1 })
            i += 1
          }
          // ripe/hold split on event-time MILLIS vs the watermark — the
          // exact spelling of the List[Event] version's `ts.getTime <= wm`
          // (tsMicros / 1000 == Timestamp.getTime for post-epoch rows)
          def isRipe(j: Int): Boolean = tsM(j) / 1000L <= wm
          var nHold = 0
          var j = 0
          while (j < n) { if (!isRipe(j)) nHold += 1; j += 1 }
          var held: Array[Byte] = null
          var minHoldMs = Long.MaxValue
          if (nHold > 0) {
            val hIds = new Array[Long](nHold); val hTs = new Array[Long](nHold)
            val hVals = new Array[Double](nHold); val hCodes = new Array[Int](nHold)
            var k = 0
            j = 0
            while (j < n) {
              if (!isRipe(j)) {
                hIds(k) = ids(j); hTs(k) = tsM(j)
                hVals(k) = vals(j); hCodes(k) = codes(j)
                minHoldMs = math.min(minHoldMs, tsM(j) / 1000L)
                k += 1
              }
              j += 1
            }
            held = new HeldRows(hIds, hTs, hVals, hCodes, dictB.toArray).pack
          }
          // release ripe rows in (event time, event_id) order — a unique
          // total order, so sort stability is immaterial
          val ripeIdx = (0 until n).filter(isRipe).toArray
          val released = ripeIdx.sortBy(j => (tsM(j), ids(j))).iterator.map(j =>
            Event(ids(j), tsOfMicros(tsM(j)), key, dictB(codes(j)), vals(j)))
          val input = keep.fold(released)(k => released.filter(k))
          var stepState = if (prev == null) null else prev.step
          val out =
            if (!input.hasNext) Vector.empty[O]
            else {
              val st = new StepState(codec, Option(stepState), state, chained = true)
              // drain the output before reading the step's state back: a
              // step may update its state lazily, as its output is consumed
              val o = fn(key, input, st).toVector
              stepState = st.stored.orNull
              o
            }
          if (held == null && stepState == null) state.remove()
          else {
            state.update(SortedState(held, stepState))
            if (held != null) state.setTimeoutTimestamp(minHoldMs)
          }
          out.iterator
      }(ExpressionEncoder[SortedState](), step.outEnc)
  }

  /** The watermark sorter on its own: [[sortedThen]] with a step that emits
    * the released rows unchanged. A stateful operator keyed by anything but
    * user_id (the topN family, keyed by event_type) still follows it as a
    * second operator, behind a second shuffle, run by
    * `StreamSource.runToTableChained`; one keyed by user_id belongs in the
    * sorter's own operator, through sortedThen. */
  def sortedEvents(ds: Dataset[Event], delay: String = "10 minutes"): Dataset[Event] =
    sortedThen(ds, delay)(KeyedStep.passThrough)

  case class SortedOut(user_id: Long, event_id: Long, ts: java.sql.Timestamp)

  /** Temporal sort (ref StreamExecTemporalSort): buffer out-of-order rows
    * per key and emit them in event-time order once the watermark passes —
    * the watermark sorter with a 10-minute delay and a step that keeps the
    * row's millisecond event time. The production-grade ordering pattern
    * the eager operators above trade away for latency. Rows at or beyond
    * the final watermark stay buffered (correct for unbounded semantics;
    * tests advance the watermark with a sentinel to drain). */
  def temporalSort(ds: Dataset[Event]): Dataset[SortedOut] =
    sortedThen(ds, "10 minutes")(KeyedStep[Long, SortedOut]((key, rows, _) =>
      rows.map(e => SortedOut(key, e.event_id, new java.sql.Timestamp(e.ts.getTime)))))
}
