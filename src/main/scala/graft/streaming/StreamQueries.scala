package graft.streaming

import graft.Query
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver-contract adapters: run each custom stateful streaming operator
  * over the events file as a REAL Structured Streaming query (file source →
  * flatMapGroupsWithState → memory sink) and return the drained result for
  * the DuckDB-oracle compare. Update-mode operators emit once per key per
  * micro-batch; the bounded replay arrives as one batch, so the drained
  * sink equals the operator's final answer. */
object StreamQueries {

  def dedupLast(s: SparkSession, dir: String): DataFrame = {
    val out = StatefulOps.keepLast(StreamSource.eventsTyped(s, dir)).toDF()
    StreamSource.runToTable(s, out, "stream_dedup_last", "append")
      .select(col("user_id"), col("event_id"), col("event_type"))
      .orderBy("user_id")
  }

  def topN(s: SparkSession, dir: String): DataFrame = {
    val out = StatefulOps.topN(StreamSource.eventsTyped(s, dir), 3).toDF()
    StreamSource.runToTable(s, out, "stream_topn", "update")
      .select(col("event_type"), col("rank"), col("event_id"),
        col("user_id"), round(col("value"), 2).as("value"))
      .orderBy("event_type", "rank")
  }

  /** Rank-range Top-N: ranks 2..4 only (the reference's RankRange —
    * "page 2 of the leaderboard"). */
  def topNRange(s: SparkSession, dir: String): DataFrame = {
    val out = StatefulOps.topNRange(StreamSource.eventsTyped(s, dir), 2, 4).toDF()
    StreamSource.runToTable(s, out, "stream_topn_range", "update")
      .select(col("event_type"), col("rank"), col("event_id"),
        col("user_id"), round(col("value"), 2).as("value"))
      .orderBy("event_type", "rank")
  }

  /** connect/CoProcess reconciliation: each purchase matched to the first
    * error of the same user within 1h (null if none); fold net>0 over the
    * +I/-D changelog. */
  def connect(s: SparkSession, dir: String): DataFrame = {
    val out = StreamJoins.connectMatch(
      StreamSource.eventsTyped(s, dir), "purchase", "error", 3600).toDF()
    StreamSource.runToTable(s, out, "stream_connect", "update")
      .groupBy(col("user_id"), col("p_id"), col("e_id"))
      .agg(sum(when(col("rowkind") === "+I", 1).otherwise(-1)).as("net"))
      .where(col("net") > 0)
      .select(col("user_id"), col("p_id"), col("e_id"))
      .orderBy("user_id", "p_id")
  }

  /** connect/CoProcess on the shuffled replay: the sorter re-establishes
    * the in-order kill/expire contract; same oracle as q_stream_connect. */
  def connectOoo(s: SparkSession, dir: String): DataFrame = {
    val (raw, delaySec) = OooReplay.stream(s, dir)
    val src = raw.filter(_.event_type != OooReplay.FlushType)
    val out = StatefulOps.sortedThen(src, s"$delaySec seconds")(
      StreamJoins.connectStep("purchase", "error", 3600)).toDF()
    StreamSource.runToTable(s, out, "stream_connect_ooo", "append")
      .groupBy(col("user_id"), col("p_id"), col("e_id"))
      .agg(sum(when(col("rowkind") === "+I", 1).otherwise(-1)).as("net"))
      .where(col("net") > 0)
      .select(col("user_id"), col("p_id"), col("e_id"))
      .orderBy("user_id", "p_id")
  }

  /** Retracting Top-N: fold the -U/+U/-D/+I changelog to the current
    * ranking (net > 0 per (key, rank, event_id)). */
  def topNRetract(s: SparkSession, dir: String): DataFrame = {
    val out = StatefulOps.topNChangelog(StreamSource.eventsTyped(s, dir), 3).toDF()
    StreamSource.runToTable(s, out, "stream_topn_retract", "append")
      .groupBy(col("event_type"), col("rank"), col("event_id"),
        col("user_id"), col("value"))
      .agg(sum(when(col("rowkind").isin("+I", "+U"), 1).otherwise(-1)).as("net"))
      .where(col("net") > 0)
      .select(col("event_type"), col("rank"), col("event_id"),
        col("user_id"), round(col("value"), 2).as("value"))
      .orderBy("event_type", "rank")
  }

  /** Retractable Top-N on the shuffled replay: the -U/+U/-D/+I diffs
    * differ per micro-batch boundary, but the net>0 fold converges to
    * the ordered run's final ranking — the changelog-consumer contract
    * under disorder. Same oracle as q_stream_topn_retract. */
  def topNRetractOoo(s: SparkSession, dir: String): DataFrame = {
    val (raw, delaySec) = OooReplay.stream(s, dir)
    val src = raw.filter(_.event_type != OooReplay.FlushType)
    val ordered = StatefulOps.sortedEvents(src, s"$delaySec seconds")
    val out = StatefulOps.topNChangelog(ordered, 3).toDF()
    StreamSource.runToTableChained(s, out, "stream_topn_retract_ooo", "append")
      .groupBy(col("event_type"), col("rank"), col("event_id"),
        col("user_id"), col("value"))
      .agg(sum(when(col("rowkind").isin("+I", "+U"), 1).otherwise(-1)).as("net"))
      .where(col("net") > 0)
      .select(col("event_type"), col("rank"), col("event_id"),
        col("user_id"), round(col("value"), 2).as("value"))
      .orderBy("event_type", "rank")
  }

  def over(s: SparkSession, dir: String): DataFrame = {
    val out = StatefulOps.runningAgg(StreamSource.eventsTyped(s, dir)).toDF()
    StreamSource.runToTable(s, out, "stream_over", "append")
      .select(col("user_id"), col("event_id"), col("run_cnt"),
        round(col("run_sum"), 4).as("run_sum"))
      .orderBy("user_id", "event_id")
  }

  /** Bounded streaming OVER: ROWS BETWEEN 2 PRECEDING AND CURRENT ROW. */
  def overRowsBounded(s: SparkSession, dir: String): DataFrame = {
    val out = StatefulOps.boundedRowsAgg(StreamSource.eventsTyped(s, dir), 2).toDF()
    StreamSource.runToTable(s, out, "stream_over_rows_b", "append")
      .select(col("user_id"), col("event_id"), col("w_cnt"),
        round(col("w_sum"), 4).as("w_sum"))
      .orderBy("user_id", "event_id")
  }

  /** Bounded streaming OVER: RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND
    * CURRENT ROW (frame = processed prefix, ties up to (ts, event_id)). */
  def overRangeBounded(s: SparkSession, dir: String): DataFrame = {
    val out = StatefulOps.boundedRangeAgg(StreamSource.eventsTyped(s, dir),
      3600L * 1000000).toDF()
    StreamSource.runToTable(s, out, "stream_over_range_b", "append")
      .select(col("user_id"), col("event_id"), col("w_cnt"),
        round(col("w_sum"), 4).as("w_sum"))
      .orderBy("user_id", "event_id")
  }

  def changelog(s: SparkSession, dir: String): DataFrame = {
    val out = StatefulOps.changelogNormalize(StreamSource.eventsTyped(s, dir)).toDF()
    StreamSource.runToTable(s, out, "stream_changelog", "append")
      .select(col("user_id"), col("event_id"), col("rowkind"))
      .orderBy("user_id", "event_id", "rowkind")
  }

  /** Drop UPDATE_BEFORE (§2.9 row 73; ref DropUpdateBeforeFunction): for
    * sinks that key on the PK, the -U half of each update pair is
    * redundant — filter it out of the changelog. */
  def dropUpdateBefore(s: SparkSession, dir: String): DataFrame = {
    val out = StatefulOps.changelogNormalize(StreamSource.eventsTyped(s, dir)).toDF()
      .where(col("rowkind") =!= "-U")
    StreamSource.runToTable(s, out, "stream_drop_before", "append")
      .select(col("user_id"), col("event_id"), col("rowkind"))
      .orderBy("user_id", "event_id", "rowkind")
  }

  def cep(s: SparkSession, dir: String): DataFrame = {
    import StreamSource.Event
    val pattern: Seq[Event => Boolean] = Seq(
      _.event_type == "view", _.event_type == "click", _.event_type == "purchase")
    val out = Cep.matchPattern(StreamSource.eventsTyped(s, dir), pattern).toDF()
    StreamSource.runToTable(s, out, "stream_cep", "append")
      .select(col("user_id"),
        col("ids").getItem(0).as("a_id"),
        col("ids").getItem(1).as("b_id"),
        col("ids").getItem(2).as("c_id"))
      .orderBy("user_id", "a_id")
  }

  /** Dynamic-gap sessions: 30 min after an error event, 60 min otherwise.
    * Fold the update-mode emissions to the final state per session. */
  def dynamicSession(s: SparkSession, dir: String): DataFrame = {
    import StreamSource.Event
    val gap: Event => Long =
      e => if (e.event_type == "error") 30L * 60 * 1000000 else 60L * 60 * 1000000
    val out = StatefulOps.dynamicSession(StreamSource.eventsTyped(s, dir), gap).toDF()
    StreamSource.runToTable(s, out, "stream_dyn_session", "append")
      .groupBy(col("user_id"), col("w_start"))
      .agg(max(struct(col("cnt"), col("sum_value"))).as("fin"))
      .select(col("user_id"), col("w_start"), col("fin.cnt").as("cnt"),
        round(col("fin.sum_value"), 2).as("sum_value"))
      .orderBy("user_id", "w_start")
  }

  /** Changelog → foreachBatch upsert sink: the materialized target equals
    * keep-last per key (M5 terminal operator). */
  def upsert(s: SparkSession, dir: String): DataFrame = {
    val changelog = StatefulOps.changelogNormalize(StreamSource.eventsTyped(s, dir)).toDF()
    UpsertSink.runUpsert(s, changelog, "stream_upsert")
  }

  /** PATTERN (A+ B) greedy, AFTER MATCH SKIP TO NEXT ROW: A = any
    * non-error event, B = purchase (B implies A, so the greedy quantifier
    * concedes repetitions until the LAST purchase inside the A-run). */
  def cepPlus(s: SparkSession, dir: String): DataFrame = {
    import StreamSource.Event
    val a: Event => Boolean = e => e.event_type != "error" && e.event_type != "__sentinel"
    val b: Event => Boolean = _.event_type == "purchase"
    val out = Cep.matchRecognize(StreamSource.eventsTypedWithSentinel(s, dir),
      Seq(Cep.QStep.oneOrMore(a), Cep.QStep.once(b)), skipPastLastRow = false).toDF()
    StreamSource.runToTable(s, out, "stream_cep_plus", "append")
      .select(col("user_id"), expr("ids[0]").as("a_id"),
        expr("element_at(ids, -1)").as("b_id"), (size(col("ids")) - 1).as("n_a"))
      .orderBy("user_id", "a_id")
  }

  /** PATTERN (A+? B) — the RELUCTANT quantifier stops at the FIRST
    * purchase inside the A-run (contrast with cepPlus). */
  def cepPlusReluctant(s: SparkSession, dir: String): DataFrame = {
    import StreamSource.Event
    val a: Event => Boolean = e => e.event_type != "error" && e.event_type != "__sentinel"
    val b: Event => Boolean = _.event_type == "purchase"
    val out = Cep.matchRecognize(StreamSource.eventsTypedWithSentinel(s, dir),
      Seq(Cep.QStep.oneOrMore(a, greedy = false), Cep.QStep.once(b)),
      skipPastLastRow = false).toDF()
    StreamSource.runToTable(s, out, "stream_cep_plus_rel", "append")
      .select(col("user_id"), expr("ids[0]").as("a_id"),
        expr("element_at(ids, -1)").as("b_id"), (size(col("ids")) - 1).as("n_a"))
      .orderBy("user_id", "a_id")
  }

  /** PATTERN (A+ until(signup) B) — the reference's stop condition for
    * looping patterns (Pattern#until, docs/dev/libs/cep.md:449-456): a
    * signup is never accepted into the A-run, so the loop ends there and
    * the purchase must close the match before it. Identical to cepPlus
    * except the island additionally splits at signups — the until row
    * itself is not consumed (the next step is tried AT it). Also the
    * reference's state-cleanup knob: an unbounded A+ with until keeps
    * per-key state bounded by the stop event's cadence. */
  def cepUntil(s: SparkSession, dir: String): DataFrame = {
    import StreamSource.Event
    val a: Event => Boolean = e => e.event_type != "error" && e.event_type != "__sentinel"
    val stop: Event => Boolean = _.event_type == "signup"
    val b: Event => Boolean = _.event_type == "purchase"
    val out = Cep.matchRecognize(StreamSource.eventsTypedWithSentinel(s, dir),
      Seq(Cep.QStep.oneOrMore(a).copy(until = Some(stop)), Cep.QStep.once(b)),
      skipPastLastRow = false).toDF()
    StreamSource.runToTable(s, out, "stream_cep_until", "append")
      .select(col("user_id"), expr("ids[0]").as("a_id"),
        expr("element_at(ids, -1)").as("b_id"), (size(col("ids")) - 1).as("n_a"))
      .orderBy("user_id", "a_id")
  }

  /** PATTERN (view view) AFTER MATCH SKIP PAST LAST ROW: consecutive
    * view pairs, non-overlapping — within a run of k views the matcher
    * pairs rows (1,2), (3,4), ... (skip-to-next-row would emit k-1
    * overlapping pairs instead). */
  def cepSkipPast(s: SparkSession, dir: String): DataFrame = {
    import StreamSource.Event
    val v: Event => Boolean = _.event_type == "view"
    val out = Cep.matchRecognize(StreamSource.eventsTypedWithSentinel(s, dir),
      Seq(Cep.QStep.once(v), Cep.QStep.once(v)), skipPastLastRow = true).toDF()
    StreamSource.runToTable(s, out, "stream_cep_skip_past", "append")
      .select(col("user_id"), expr("ids[0]").as("a_id"), expr("ids[1]").as("b_id"))
      .orderBy("user_id", "a_id")
  }

  def cepRelaxed(s: SparkSession, dir: String): DataFrame = {
    import StreamSource.Event
    val pattern: Seq[Event => Boolean] = Seq(
      _.event_type == "view", _.event_type == "click", _.event_type == "purchase")
    val out = Cep.matchRelaxed(StreamSource.eventsTyped(s, dir), pattern,
      withinMs = 7L * 24 * 3600 * 1000).toDF()
    StreamSource.runToTable(s, out, "stream_cep_relaxed", "update")
      .select(col("user_id"),
        col("ids").getItem(0).as("a_id"),
        col("ids").getItem(1).as("b_id"),
        col("ids").getItem(2).as("c_id"))
      .orderBy("user_id", "a_id")
  }

  /** notFollowedBy: purchase followed by view with NO error in between
    * (within 7 days). The error arm is the NFA stop state. */
  def cepNot(s: SparkSession, dir: String): DataFrame = {
    import StreamSource.Event
    val pattern: Seq[Event => Boolean] = Seq(
      _.event_type == "purchase", _.event_type == "view")
    val out = Cep.matchRelaxed(StreamSource.eventsTyped(s, dir), pattern,
      withinMs = 7L * 24 * 3600 * 1000,
      nots = Map(1 -> ((e: Event) => e.event_type == "error"))).toDF()
    StreamSource.runToTable(s, out, "stream_cep_not", "update")
      .select(col("user_id"),
        col("ids").getItem(0).as("p_id"),
        col("ids").getItem(1).as("v_id"))
      .orderBy("user_id", "p_id")
  }

  /** notNext: purchase whose IMMEDIATELY-following event (any type) is not
    * an error, then the first view within 7 days. Contrast cepNot: there
    * ANY intervening error kills; here only the adjacent one does. */
  def cepNotNext(s: SparkSession, dir: String): DataFrame = {
    import StreamSource.Event
    val pattern: Seq[Event => Boolean] = Seq(
      _.event_type == "purchase", _.event_type == "view")
    val out = Cep.matchRelaxed(StreamSource.eventsTyped(s, dir), pattern,
      withinMs = 7L * 24 * 3600 * 1000,
      nexts = Map(1 -> ((e: Event) => e.event_type == "error"))).toDF()
    StreamSource.runToTable(s, out, "stream_cep_notnext", "update")
      .select(col("user_id"),
        col("ids").getItem(0).as("p_id"),
        col("ids").getItem(1).as("v_id"))
      .orderBy("user_id", "p_id")
  }

  /** q_stream_cep_timeout — timed-out partial matches surfaced as a
    * first-class output (ref TimedOutPartialMatchHandler,
    * docs/dev/libs/cep.md:1524-1598): every view whose purchase does NOT
    * arrive within 7 days is reported once with its deadline — the
    * abandoned-funnel feed the reference routes to a side output. The
    * oracle is the declarative twin: views with no same-key purchase in
    * (t, t + 7d]. */
  def cepTimedOut(s: SparkSession, dir: String): DataFrame = {
    import StreamSource.Event
    val pattern: Seq[Event => Boolean] = Seq(
      _.event_type == "view", _.event_type == "purchase")
    val out = Cep.matchRelaxedTimedOut(
      StreamSource.eventsTypedWithSentinel(s, dir), pattern,
      withinMs = 7L * 24 * 3600 * 1000).toDF()
    StreamSource.runToTable(s, out, "stream_cep_timeout", "append")
      .select(col("user_id"),
        col("ids").getItem(0).as("v_id"),
        timestamp_micros(col("lastTsMicros")).as("deadline"))
      .orderBy("user_id", "v_id")
  }

  /** followedByAny: ALL view→click→purchase combinations (increasing event
    * time) within 2 days, not just the earliest continuation. */
  def cepAny(s: SparkSession, dir: String): DataFrame = {
    import StreamSource.Event
    val pattern: Seq[Event => Boolean] = Seq(
      _.event_type == "view", _.event_type == "click", _.event_type == "purchase")
    val out = Cep.matchRelaxed(StreamSource.eventsTyped(s, dir), pattern,
      withinMs = 2L * 24 * 3600 * 1000, any = true).toDF()
    StreamSource.runToTable(s, out, "stream_cep_any", "update")
      .select(col("user_id"),
        col("ids").getItem(0).as("a_id"),
        col("ids").getItem(1).as("b_id"),
        col("ids").getItem(2).as("c_id"))
      .orderBy("user_id", "a_id", "b_id", "c_id")
  }

  /** notFollowedBy on the shuffled replay: watermark sorter in front, same
    * oracle as q_stream_cep_not — negative patterns are only correct under
    * disorder if the kill decision sees events in time order. */
  def cepNotOoo(s: SparkSession, dir: String): DataFrame = {
    import StreamSource.Event
    val (raw, delaySec) = OooReplay.stream(s, dir)
    val src = raw.filter(_.event_type != OooReplay.FlushType)
    val pattern: Seq[Event => Boolean] = Seq(
      _.event_type == "purchase", _.event_type == "view")
    val out = StatefulOps.sortedThen(src, s"$delaySec seconds")(
      Cep.relaxedStep(pattern, withinMs = 7L * 24 * 3600 * 1000,
        nots = Map(1 -> ((e: Event) => e.event_type == "error")))).toDF()
    StreamSource.runToTable(s, out, "stream_cep_not_ooo", "append")
      .select(col("user_id"),
        col("ids").getItem(0).as("p_id"),
        col("ids").getItem(1).as("v_id"))
      .orderBy("user_id", "p_id")
  }

  /** followedByAny on the shuffled replay, same oracle as q_stream_cep_any. */
  def cepAnyOoo(s: SparkSession, dir: String): DataFrame = {
    import StreamSource.Event
    val (raw, delaySec) = OooReplay.stream(s, dir)
    val src = raw.filter(_.event_type != OooReplay.FlushType)
    val pattern: Seq[Event => Boolean] = Seq(
      _.event_type == "view", _.event_type == "click", _.event_type == "purchase")
    val out = StatefulOps.sortedThen(src, s"$delaySec seconds")(
      Cep.relaxedStep(pattern, withinMs = 2L * 24 * 3600 * 1000, any = true)).toDF()
    StreamSource.runToTable(s, out, "stream_cep_any_ooo", "append")
      .select(col("user_id"),
        col("ids").getItem(0).as("a_id"),
        col("ids").getItem(1).as("b_id"),
        col("ids").getItem(2).as("c_id"))
      .orderBy("user_id", "a_id", "b_id", "c_id")
  }

  def semiJoin(s: SparkSession, dir: String): DataFrame = {
    val out = StreamJoins.semiJoin(StreamSource.eventsTyped(s, dir), "purchase", "view").toDF()
    StreamSource.runToTable(s, out, "stream_semi_join", "append")
      .orderBy("user_id", "p_id")
  }

  /** Anti join: fold the changelog (+I minus -D) to the final row set. */
  def antiJoin(s: SparkSession, dir: String): DataFrame = {
    val out = StreamJoins.antiJoin(StreamSource.eventsTyped(s, dir), "purchase", "view").toDF()
    StreamSource.runToTable(s, out, "stream_anti_join", "update")
      .groupBy(col("user_id"), col("p_id"))
      .agg(sum(when(col("rowkind") === "+I", 1).otherwise(-1)).as("net"))
      .where(col("net") > 0)
      .select(col("user_id"), col("p_id"))
      .orderBy("user_id", "p_id")
  }

  /** Count-SLIDING window (size 4, slide 2). */
  def countSlideWindow(s: SparkSession, dir: String): DataFrame = {
    val out = WindowExtras.countSliding(StreamSource.eventsTyped(s, dir), 4, 2).toDF()
    StreamSource.runToTable(s, out, "stream_count_slide", "append")
      .select(col("user_id"), col("win_id"), col("cnt"),
        round(col("sum_value"), 2).as("sum_value"))
      .orderBy("user_id", "win_id")
  }

  /** Daily tumble with allowed lateness 1h + late side output; the bounded
    * replay is all on-time, so the primary firings equal the plain tumble
    * (lateness/refire/side-output semantics are pinned by the
    * WindowExtrasSpec multi-batch tests). */
  def tumbleLate(s: SparkSession, dir: String): DataFrame = {
    // watermark delay = lateness + slack so late rows reach the operator
    // (see WindowExtras.tumbleLateness scaladoc)
    val out = WindowExtras.tumbleLateness(
      StreamSource.eventsTypedWithSentinel(s, dir, "2 hours"),
      86400L * 1000000, 3600L * 1000000).toDF()
    StreamSource.runToTable(s, out, "stream_tumble_late", "update")
      .where(col("kind") === "fire" && col("event_type") =!= "__sentinel")
      .select(col("w_start"), col("event_type"), col("cnt"),
        round(col("sum_value"), 2).as("sum_value"))
      .orderBy("w_start", "event_type")
  }

  /** Daily tumble per user with a count evictor keeping the last 3 rows. */
  def tumbleEvictor(s: SparkSession, dir: String): DataFrame = {
    val out = WindowExtras.tumbleCountEvictor(StreamSource.eventsTypedWithSentinel(s, dir),
      86400L * 1000000, 3).toDF()
    StreamSource.runToTable(s, out, "stream_evictor", "update")
      .where(col("user_id") =!= -1L)
      .select(col("w_start"), col("user_id"), col("cnt"),
        round(col("sum_value"), 2).as("sum_value"))
      .orderBy("user_id", "w_start")
  }

  /** Daily tumble with a 6-hour ContinuousEventTimeTrigger: early partial
    * fires at each boundary plus the final fire at close. */
  def triggerContinuous(s: SparkSession, dir: String): DataFrame = {
    val out = WindowExtras.tumbleContinuousTrigger(
      StreamSource.eventsTypedWithSentinel(s, dir),
      86400L * 1000000, 21600L * 1000000, purging = false).toDF()
    StreamSource.runToTable(s, out, "stream_trigger_cont", "update")
      .where(col("user_id") =!= -1L)
      .select(col("w_start"), col("user_id"), col("fire"), col("cnt"),
        round(col("sum_value"), 2).as("sum_value"))
      .orderBy("user_id", "w_start", "fire")
  }

  /** The same trigger wrapped in PurgingTrigger: each fire drains the
    * pane, so fires carry per-interval deltas. */
  def triggerPurging(s: SparkSession, dir: String): DataFrame = {
    val out = WindowExtras.tumbleContinuousTrigger(
      StreamSource.eventsTypedWithSentinel(s, dir),
      86400L * 1000000, 21600L * 1000000, purging = true).toDF()
    StreamSource.runToTable(s, out, "stream_trigger_purge", "update")
      .where(col("user_id") =!= -1L)
      .select(col("w_start"), col("user_id"), col("fire"), col("cnt"),
        round(col("sum_value"), 2).as("sum_value"))
      .orderBy("user_id", "w_start", "fire")
  }

  /** Left outer join changelog folded to the final row set (net>0). */
  def outerJoin(s: SparkSession, dir: String): DataFrame = {
    val out = StreamJoins.leftOuterJoin(StreamSource.eventsTyped(s, dir),
      "purchase", "view").toDF()
    StreamSource.runToTable(s, out, "stream_outer_join", "update")
      .groupBy(col("user_id"), col("p_id"), col("v_id"))
      .agg(sum(when(col("rowkind") === "+I", 1).otherwise(-1)).as("net"))
      .where(col("net") > 0)
      .select(col("user_id"), col("p_id"), col("v_id"))
      .orderBy("user_id", "p_id", "v_id")
  }

  /** Proc-time dedup keep-first — on the (ts, event_id)-sorted single-split
    * replay, first arrival == event-time first, so the event-time oracle
    * applies; arrival-order-wins behavior is spec-pinned. */
  def procTimeDedup(s: SparkSession, dir: String): DataFrame = {
    val out = StatefulOps.procTimeDedupKeepFirst(StreamSource.eventsTyped(s, dir)).toDF()
    StreamSource.runToTable(s, out, "stream_proctime_dedup", "append")
      .select(col("user_id"), col("event_id"), col("event_type"))
      .orderBy("user_id")
  }

  /** Proc-time unbounded OVER in arrival order (== event-time order on the
    * sorted replay). */
  def procTimeOver(s: SparkSession, dir: String): DataFrame = {
    val out = StatefulOps.procTimeRunningAgg(StreamSource.eventsTyped(s, dir)).toDF()
    StreamSource.runToTable(s, out, "stream_proctime_over", "append")
      .select(col("user_id"), col("event_id"), col("run_cnt"),
        round(col("run_sum"), 4).as("run_sum"))
      .orderBy("user_id", "event_id")
  }

  /** Proc-time temporal join: purchases probe the latest view AS OF their
    * arrival — on the sorted replay, "latest arrived" = latest by
    * (ts, event_id) strictly before the probe in file order. */
  def procTimeTemporal(s: SparkSession, dir: String): DataFrame = {
    val out = StatefulOps.procTimeTemporalJoin(StreamSource.eventsTyped(s, dir),
      "purchase", "view").toDF()
    StreamSource.runToTable(s, out, "stream_proctime_temporal", "append")
      .select(col("user_id"), col("p_id"), col("v_id"))
      .orderBy("user_id", "p_id")
  }

  /** Retractable group aggregate over a changelog: per event_type, the
    * count/sum/min/max of each user's LATEST event value. A user whose
    * latest event changes type retracts (-U) their value from the old
    * type's aggregate and inserts (+U) into the new — min/max recover
    * through the multiset state. Two chained stateful stages (normalize →
    * aggregate) in one append-mode query, same-key-free so it starts
    * through runToTableChained. Final answer = each group's max-version
    * emission. */
  def retractAgg(s: SparkSession, dir: String): DataFrame = {
    val out = StatefulOps.retractableAgg(
      StatefulOps.valueChangelog(StreamSource.eventsTyped(s, dir))).toDF()
    val t = StreamSource.runToTableChained(s, out, "stream_retract_agg", "append")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type").orderBy(col("ver").desc)
    t.withColumn("rn", row_number().over(w)).where(col("rn") === 1)
      .select(col("event_type"), col("cnt"),
        round(col("sum_value"), 2).as("sum_value"),
        round(col("min_value"), 2).as("min_value"),
        round(col("max_value"), 2).as("max_value"))
      .orderBy("event_type")
  }

  /** FULL outer: both sides thinned by value >= 90 so unmatched-left,
    * unmatched-right and the retract-repair transition all occur (14
    * purchase-only users, 22 click-only at sf0.01). Changelog folded
    * net>0 per (user, l, r) = the batch FULL JOIN. */
  def fullOuterJoin(s: SparkSession, dir: String): DataFrame = {
    import StreamSource.Event
    val out = StreamJoins.outerJoinChangelog(StreamSource.eventsTyped(s, dir),
      e => e.event_type == "purchase" && e.value >= 90,
      e => e.event_type == "click" && e.value >= 90,
      padLeft = true, padRight = true).toDF()
    StreamSource.runToTable(s, out, "stream_full_outer_join", "update")
      .groupBy(col("user_id"), col("l_id"), col("r_id"))
      .agg(sum(when(col("rowkind") === "+I", 1).otherwise(-1)).as("net"))
      .where(col("net") > 0)
      .select(col("user_id"), col("l_id").as("p_id"), col("r_id").as("c_id"))
      .orderBy("user_id", "p_id", "c_id")
  }

  /** RIGHT outer over the same thinned sides: only right rows null-pad. */
  def rightOuterJoin(s: SparkSession, dir: String): DataFrame = {
    import StreamSource.Event
    val out = StreamJoins.outerJoinChangelog(StreamSource.eventsTyped(s, dir),
      e => e.event_type == "purchase" && e.value >= 90,
      e => e.event_type == "click" && e.value >= 90,
      padLeft = false, padRight = true).toDF()
    StreamSource.runToTable(s, out, "stream_right_outer_join", "update")
      .groupBy(col("user_id"), col("l_id"), col("r_id"))
      .agg(sum(when(col("rowkind") === "+I", 1).otherwise(-1)).as("net"))
      .where(col("net") > 0)
      .select(col("user_id"), col("l_id").as("p_id"), col("r_id").as("c_id"))
      .orderBy("user_id", "p_id", "c_id")
  }

  /** Temporal sort drained through the watermark: every (real) row is
    * released exactly once when the watermark passes it — the oracle pins
    * completeness/no-dupes; emission ORDER is pinned by the
    * StreamingSpec/StreamingSemanticsSpec multi-batch tests. */
  def temporalSortQuery(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ds = StreamSource.eventsWithSentinel(s, dir)
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[StreamSource.Event]
    val out = StatefulOps.temporalSort(ds).toDF()
    StreamSource.runToTable(s, out, "stream_temporal_sort", "append")
      .where(col("user_id") =!= -1L)
      .select(col("user_id"), col("event_id"))
      .orderBy("user_id", "event_id")
  }

  // ----------------------------------------------------- out-of-order

  /** Out-of-order hardening (round-5 verdict #1): the same stateful
    * operators, fed the OooReplay multi-segment stream whose micro-batches
    * arrive OUT of event-time order, with the watermark sorter composed in
    * FRONT — the temporalSort pattern upgrading the in-order operators to
    * full out-of-order safety (ref RowTimeSortOperator.java buffering by
    * watermark before order-sensitive operators). An operator keyed by
    * user_id runs inside the sorter's own stateful operator
    * (StatefulOps.sortedThen); the topN twins, keyed by event_type, chain
    * a second stateful operator after StatefulOps.sortedEvents. The oracle
    * is the SAME SQL as the ordered twin — a hash match proves
    * order-independence of the final answer. */
  def dedupLastOoo(s: SparkSession, dir: String): DataFrame = {
    val (raw, delaySec) = OooReplay.stream(s, dir)
    val src = raw.filter(_.event_type != OooReplay.FlushType)
    val out = StatefulOps.sortedThen(src, s"$delaySec seconds")(
      StatefulOps.keepLastStep).toDF()
    // multi-batch append emissions: fold to the final latest per key
    StreamSource.runToTable(s, out, "stream_dedup_last_ooo", "append")
      .where(col("user_id") >= 0)
      .withColumn("__rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("user_id")
          .orderBy(col("ts").desc, col("event_id").desc)))
      .where(col("__rn") === 1)
      .select(col("user_id"), col("event_id"), col("event_type"))
      .orderBy("user_id")
  }

  def overOoo(s: SparkSession, dir: String): DataFrame = {
    val (raw, delaySec) = OooReplay.stream(s, dir)
    val src = raw.filter(_.event_type != OooReplay.FlushType)
    val out = StatefulOps.sortedThen(src, s"$delaySec seconds")(
      StatefulOps.runningAggStep).toDF()
    StreamSource.runToTable(s, out, "stream_over_ooo", "append")
      .where(col("user_id") >= 0)
      .select(col("user_id"), col("event_id"), col("run_cnt"),
        round(col("run_sum"), 4).as("run_sum"))
      .orderBy("user_id", "event_id")
  }

  def topNOoo(s: SparkSession, dir: String): DataFrame = {
    val (raw, delaySec) = OooReplay.stream(s, dir)
    val src = raw.filter(_.event_type != OooReplay.FlushType)
    val ordered = StatefulOps.sortedEvents(src, s"$delaySec seconds")
    val out = StatefulOps.topNVersioned(ordered, 3).toDF()
    val drained = StreamSource.runToTableChained(s, out, "stream_topn_ooo", "append")
    // keep each key's newest generation (upsert fold of the versioned log)
    drained.withColumn("__mx", max(col("ver")).over(
        org.apache.spark.sql.expressions.Window.partitionBy("event_type")))
      .where(col("ver") === col("__mx"))
      .select(col("event_type"), col("rank"), col("event_id"),
        col("user_id"), round(col("value"), 2).as("value"))
      .orderBy("event_type", "rank")
  }

  /** QUANTIFIED pattern (A+ B greedy) on the shuffled replay — the
    * hardest order-independence case: partial matches PARK (NeedMore)
    * when a scan reaches buffered-input end and must survive across
    * micro-batches until later segments extend or resolve them. The
    * replay's per-key flush row (a pattern breaker after the last real
    * event, released once the far sentinel drives the watermark past it)
    * resolves every park at true end-of-data — no event-time timer,
    * which Spark disallows downstream of another stateful operator.
    * Oracle: identical SQL to q_stream_cep_plus. */
  def cepPlusOoo(s: SparkSession, dir: String): DataFrame = {
    import StreamSource.Event
    val (src, delaySec) = OooReplay.stream(s, dir)
    // the replay's per-key FLUSH row (kept here, filtered by the other
    // adapters) breaks the pattern after the last real event, so the
    // NoTimeout ordered matcher resolves every parked attempt without an
    // event-time timer (a step after the sorter never sees a timeout)
    val a: Event => Boolean = e =>
      e.event_type != "error" && e.event_type != "__sentinel" &&
        e.event_type != OooReplay.FlushType
    val b: Event => Boolean = _.event_type == "purchase"
    val out = StatefulOps.sortedThen(src, s"$delaySec seconds")(
      Cep.orderedSkipStep(Seq(Cep.QStep.oneOrMore(a), Cep.QStep.once(b)),
        Cep.SkipToNextRow)).toDF()
    StreamSource.runToTable(s, out, "stream_cep_plus_ooo", "append")
      .select(col("user_id"), expr("ids[0]").as("a_id"),
        expr("element_at(ids, -1)").as("b_id"), (size(col("ids")) - 1).as("n_a"))
      .orderBy("user_id", "a_id")
  }

  /** Changelog family + session + bounded OVER on the shuffled replay —
    * same sortedThen composition, same oracles as the ordered twins. */
  def changelogOoo(s: SparkSession, dir: String): DataFrame = {
    val (raw, delaySec) = OooReplay.stream(s, dir)
    val src = raw.filter(_.event_type != OooReplay.FlushType)
    val out = StatefulOps.sortedThen(src, s"$delaySec seconds")(
      StatefulOps.changelogStep).toDF()
    StreamSource.runToTable(s, out, "stream_changelog_ooo", "append")
      .where(col("user_id") >= 0)
      .select(col("user_id"), col("event_id"), col("rowkind"))
      .orderBy("user_id", "event_id", "rowkind")
  }

  def dynSessionOoo(s: SparkSession, dir: String): DataFrame = {
    import StreamSource.Event
    val (raw, delaySec) = OooReplay.stream(s, dir)
    val src = raw.filter(_.event_type != OooReplay.FlushType)
    val gap: Event => Long =
      e => if (e.event_type == "error") 30L * 60 * 1000000 else 60L * 60 * 1000000
    val out = StatefulOps.sortedThen(src, s"$delaySec seconds")(
      StatefulOps.dynamicSessionStep(gap)).toDF()
    StreamSource.runToTable(s, out, "stream_dyn_session_ooo", "append")
      .where(col("user_id") >= 0)
      .groupBy(col("user_id"), col("w_start"))
      .agg(max(struct(col("cnt"), col("sum_value"))).as("fin"))
      .select(col("user_id"), col("w_start"), col("fin.cnt").as("cnt"),
        round(col("fin.sum_value"), 2).as("sum_value"))
      .orderBy("user_id", "w_start")
  }

  def overRowsBoundedOoo(s: SparkSession, dir: String): DataFrame = {
    val (raw, delaySec) = OooReplay.stream(s, dir)
    val src = raw.filter(_.event_type != OooReplay.FlushType)
    val out = StatefulOps.sortedThen(src, s"$delaySec seconds")(
      StatefulOps.boundedRowsStep(2)).toDF()
    StreamSource.runToTable(s, out, "stream_over_rows_b_ooo", "append")
      .where(col("user_id") >= 0)
      .select(col("user_id"), col("event_id"), col("w_cnt"),
        round(col("w_sum"), 4).as("w_sum"))
      .orderBy("user_id", "event_id")
  }

  def overRangeBoundedOoo(s: SparkSession, dir: String): DataFrame = {
    val (raw, delaySec) = OooReplay.stream(s, dir)
    val src = raw.filter(_.event_type != OooReplay.FlushType)
    val out = StatefulOps.sortedThen(src, s"$delaySec seconds")(
      StatefulOps.boundedRangeStep(3600L * 1000000)).toDF()
    StreamSource.runToTable(s, out, "stream_over_range_b_ooo", "append")
      .where(col("user_id") >= 0)
      .select(col("user_id"), col("event_id"), col("w_cnt"),
        round(col("w_sum"), 4).as("w_sum"))
      .orderBy("user_id", "event_id")
  }

  def cepOoo(s: SparkSession, dir: String): DataFrame = {
    import StreamSource.Event
    val (raw, delaySec) = OooReplay.stream(s, dir)
    val src = raw.filter(_.event_type != OooReplay.FlushType)
    val pattern: Seq[Event => Boolean] = Seq(
      _.event_type == "view", _.event_type == "click", _.event_type == "purchase")
    val out = StatefulOps.sortedThen(src, s"$delaySec seconds")(
      Cep.patternStep(pattern)).toDF()
    StreamSource.runToTable(s, out, "stream_cep_ooo", "append")
      .select(col("user_id"),
        col("ids").getItem(0).as("a_id"),
        col("ids").getItem(1).as("b_id"),
        col("ids").getItem(2).as("c_id"))
      .orderBy("user_id", "a_id")
  }

  /** Daily tumble per user with a time evictor keeping the last 6 hours. */
  def tumbleTimeEvictor(s: SparkSession, dir: String): DataFrame = {
    val out = WindowExtras.tumbleTimeEvictor(StreamSource.eventsTypedWithSentinel(s, dir),
      86400L * 1000000, 6L * 3600 * 1000000).toDF()
    StreamSource.runToTable(s, out, "stream_evictor_time", "update")
      .where(col("user_id") =!= -1L)
      .select(col("w_start"), col("user_id"), col("cnt"),
        round(col("sum_value"), 2).as("sum_value"))
      .orderBy("user_id", "w_start")
  }

  /** Daily tumble per user with a delta evictor: rows whose value differs
    * from the window's last value by >= 50 are evicted before the sum. */
  def tumbleDeltaEvictor(s: SparkSession, dir: String): DataFrame = {
    val out = WindowExtras.tumbleDeltaEvictor(StreamSource.eventsTypedWithSentinel(s, dir),
      86400L * 1000000, 50.0).toDF()
    StreamSource.runToTable(s, out, "stream_evictor_delta", "update")
      .where(col("user_id") =!= -1L)
      .select(col("w_start"), col("user_id"), col("cnt"),
        round(col("sum_value"), 2).as("sum_value"))
      .orderBy("user_id", "w_start")
  }

  def countWindow(s: SparkSession, dir: String): DataFrame = {
    val out = StreamJoins.countTumbling(StreamSource.eventsTyped(s, dir), 5).toDF()
    StreamSource.runToTable(s, out, "stream_count_win", "append")
      .select(col("user_id"), col("win_id"), col("cnt"),
        round(col("sum_value"), 2).as("sum_value"))
      .orderBy("user_id", "win_id")
  }

  /** Windowed streaming HLL — "daily unique users per event type", the
    * canonical production sketch query: event-time tumbling windows with a
    * watermark, registers as the per-(window, type) aggregation state, so
    * each closed day emits 256 small ints per type exactly once (append
    * mode) and an unbounded run holds O(open windows × types × 256) state
    * with NO user-id retention. Finalization to estimates happens
    * batch-side on the drained registers; exact per-day distinct counts
    * join in for the error report. */
  def streamHllWindow(s: SparkSession, dir: String): DataFrame = {
    val regs = StreamSource.eventsWithSentinel(s, dir)
      .withWatermark("ts", "1 hour")
      .select(col("ts"), col("event_type"),
        expr("cast(conv(substring(md5(concat('u:', cast(user_id as string))),1,15),16,10) as bigint)").as("h"))
      .select(col("ts"), col("event_type"), expr("h & 255").as("bucket"),
        expr("CASE WHEN shiftright(h, 8) = 0 THEN 53 " +
          "ELSE cast(round(log2(shiftright(h, 8) & -shiftright(h, 8))) as int) + 1 END").as("rho"))
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"), col("bucket"))
      .agg(max(col("rho")).as("r"))
      .select(col("w.start").as("w_start"), col("event_type"), col("bucket"), col("r"))
    val drained = StreamSource.runToTable(s, regs, "stream_hll_window", "append")
      .where(col("event_type") =!= "__sentinel")
    val agg = drained.groupBy(col("w_start"), col("event_type"))
      .agg(count(lit(1)).as("c"),
        sum(expr("shiftleft(cast(1 as bigint), 54 - r)")).as("s_present"))
      .withColumn("zero_regs", expr("cast(256 - c as int)"))
      .withColumn("e_raw", expr(
        "(0.7213/(1.0 + 1.079/256.0)) * 65536.0 * 18014398509481984.0 " +
          "/ (s_present + cast(zero_regs as bigint) * shiftleft(cast(1 as bigint), 54))"))
      .withColumn("e", expr(
        "CASE WHEN zero_regs > 0 AND e_raw <= 640.0 " +
          "THEN 256.0 * log(256.0 / zero_regs) ELSE e_raw END"))
    val exact = graft.Tables(s, dir, "events")
      .groupBy(date_trunc("day", col("ts")).as("w_start"), col("event_type"))
      .agg(countDistinct(col("user_id")).as("exact_distinct"))
    agg.join(exact, Seq("w_start", "event_type"))
      .select(col("w_start"), col("event_type"), col("zero_regs"),
        expr("cast(round(e) as bigint)").as("est_distinct"),
        col("exact_distinct"),
        round(expr("abs(e - exact_distinct) / exact_distinct * 100"), 2).as("err_pct"))
      .orderBy("w_start", "event_type")
  }

  /** Streaming HLL: continuous distinct-user estimate per event type with
    * O(m=256) state per key — the register table (group max of the
    * trailing-zero rank, operators.Sketches' hashing) IS the streaming
    * aggregation state, so an unbounded run never stores user ids, only
    * 256 small ints per event type. Update mode emits refreshed registers
    * each batch; the drained final registers are folded into the estimate
    * batch-side and compared against the exact per-type distinct count
    * (max is order- and batching-independent, which is what makes the
    * streaming sketch replayable by a batch oracle). */
  def streamHll(s: SparkSession, dir: String): DataFrame = {
    val regs = StreamSource.events(s, dir)
      .select(col("event_type"),
        expr("cast(conv(substring(md5(concat('u:', cast(user_id as string))),1,15),16,10) as bigint)").as("h"))
      .select(col("event_type"), expr("h & 255").as("bucket"),
        expr("CASE WHEN shiftright(h, 8) = 0 THEN 53 " +
          "ELSE cast(round(log2(shiftright(h, 8) & -shiftright(h, 8))) as int) + 1 END").as("rho"))
      .groupBy(col("event_type"), col("bucket"))
      .agg(max(col("rho")).as("r"))
    val drained = StreamSource.runToTable(s, regs, "stream_hll", "update")
      // update mode re-emits a (event_type, bucket) row per batch that
      // touched it — keep the last (= max, registers only grow)
      .groupBy(col("event_type"), col("bucket")).agg(max(col("r")).as("r"))
    val agg = drained.groupBy(col("event_type"))
      .agg(count(lit(1)).as("c"),
        sum(expr("shiftleft(cast(1 as bigint), 54 - r)")).as("s_present"))
      .withColumn("zero_regs", expr("cast(256 - c as int)"))
      .withColumn("e_raw", expr(
        "(0.7213/(1.0 + 1.079/256.0)) * 65536.0 * 18014398509481984.0 " +
          "/ (s_present + cast(zero_regs as bigint) * shiftleft(cast(1 as bigint), 54))"))
      .withColumn("e", expr(
        "CASE WHEN zero_regs > 0 AND e_raw <= 640.0 " +
          "THEN 256.0 * log(256.0 / zero_regs) ELSE e_raw END"))
    val exact = graft.Tables(s, dir, "events").groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("exact_distinct"))
    agg.join(exact, Seq("event_type"))
      .select(col("event_type"), col("zero_regs"),
        expr("cast(round(e) as bigint)").as("est_distinct"),
        col("exact_distinct"),
        round(expr("abs(e - exact_distinct) / exact_distinct * 100"), 2).as("err_pct"))
      .orderBy("event_type")
  }

  /** Streaming HDR-histogram quantiles — the live latency/size-percentile
    * dashboard every stream platform runs: per event type, the ≤16·64-cell
    * log₂ bucket grid (operators.Sketches.quantileSketch's pure-integer
    * math) IS the streaming aggregation state, so an unbounded run keeps
    * O(cells) per key and never stores raw values. Update mode re-emits a
    * bucket's count each batch it grows; the drained final counts are the
    * max per (type, bucket) — counts only grow, the same
    * order/batching-independence argument as [[streamHll]]'s registers.
    * Quantile extraction (q ∈ {0.5, 0.9, 0.99}) folds the final histogram
    * batch-side and reports the bucket lower bound vs the true order
    * statistic, ≤1/16 relative error by construction. */
  def streamQuantile(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hist = StreamSource.events(s, dir)
      .select(col("event_type"), expr("cast(round(value * 100) as bigint)").as("v"))
      .select(col("event_type"), expr("length(bin(v)) - 1").as("e"), col("v"))
      .select(col("event_type"),
        expr("e * 16 + (shiftright(v, greatest(e - 4, 0)) & 15)").as("bucket"))
      .groupBy(col("event_type"), col("bucket")).agg(count(lit(1)).as("cnt"))
    val drained = StreamSource.runToTable(s, hist, "stream_quantile", "update")
      .groupBy(col("event_type"), col("bucket")).agg(max(col("cnt")).as("cnt"))
      // ≤16·64 cells per type; the checkpoint breaks the memory-sink
      // lineage the downstream self-join (cum × n) would otherwise carry
      // twice (conflicting-attribute resolution failure on MemoryPlan)
      .localCheckpoint(true)
    val w = Window.partitionBy(col("event_type")).orderBy("bucket")
    val cum = drained.withColumn("cum", sum(col("cnt")).over(w))
    val n = drained.groupBy(col("event_type")).agg(sum(col("cnt")).as("n"))
    val qs = s.range(1).select(explode(array(lit(0.5), lit(0.9), lit(0.99))).as("q"))
    val picked = qs.crossJoin(broadcast(n))
      .withColumn("target", expr("cast(ceil(q * n) as bigint)"))
      .join(broadcast(cum), Seq("event_type"))
      .where(col("cum") >= col("target"))
      .groupBy(col("event_type"), col("q"), col("target"))
      .agg(min(col("bucket")).as("bucket"))
      // exponent < 4 stored v itself in the low nibble — recover it exactly
      // (the same branch as Sketches.quantileSketch; without it small values
      // overstate and the <=1/16 relative-error claim breaks below v=32)
      .withColumn("est_value", expr(
        "CASE WHEN shiftright(bucket, 4) < 4 THEN cast(bucket & 15 AS bigint) " +
          "ELSE shiftleft(cast(16 + (bucket & 15) as bigint), shiftright(bucket, 4) - 4) END"))
    val cents = graft.Tables(s, dir, "events")
      .select(col("event_type"), expr("cast(round(value * 100) as bigint)").as("v"))
    val exact = cents
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("event_type")).orderBy("v")))
      .join(picked.select(col("event_type").as("et"), col("q").as("eq"), col("target")),
        col("event_type") === col("et") && col("rn") === col("target"))
      .select(col("et"), col("eq"), col("v").as("exact_value"))
    picked.join(exact, col("event_type") === col("et") && col("q") === col("eq"))
      .select(col("event_type"), col("q"), col("est_value"), col("exact_value"),
        round(expr("abs(est_value - exact_value) / exact_value * 100"), 2).as("rel_err_pct"))
      .orderBy("event_type", "q")
  }

  /** Streaming PSI drift — [[graft.operators.DataQuality.driftPsi]] kept
    * LIVE as documents arrive in micro-batches: the per-(source, bucket)
    * count grid IS the streaming aggregation state — ≤16·64 fixed-width
    * cells per source however large the corpus grows (the streamHll /
    * streamQuantile / streamBloom state argument, fourth use). Update
    * mode re-emits a cell each batch it grows; counts are monotone, so
    * the drained max per cell equals the batch scan's count and the PSI
    * arithmetic over them is bit-identical — the oracle is the batch
    * q_drift_psi SQL verbatim. A production job would publish refreshed
    * PSI per source every batch from exactly these emissions. */
  def streamDriftPsi(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val segDir = StreamDedup.prepare(s, dir, withSource = true)
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType), StructField("source", StringType)))
    val docs = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .option("pathGlobFilter", "seg-*.parquet")
      .parquet(segDir)
    val counts = docs
      .select(col("source"),
        expr(graft.operators.DataQuality.lenBucketExpr).as("bucket"))
      .groupBy(col("source"), col("bucket")).agg(count(lit(1)).as("c"))
    val drained = StreamSource.runToTable(s, counts, "stream_psi", "update")
      .groupBy(col("source"), col("bucket")).agg(max(col("c")).as("c"))
      // tiny (≤16·64 cells/source); the checkpoint breaks the memory-sink
      // lineage psiOf's multiple branches would otherwise carry twice
      .localCheckpoint(true)
    val refc = drained.where(col("source") === "src0")
      .select(col("bucket"), col("c").as("cr"))
    val curc = drained.where(col("source") =!= "src0")
      .select(col("source"), col("bucket"), col("c").as("cc"))
    graft.operators.DataQuality.psiOf(refc, curc)
  }

  /** q_stream_entropy — per-source character-distribution entropy kept
    * LIVE (the corpus-health dashboard number next to streaming PSI: a
    * source whose char entropy drifts is emitting gibberish or
    * boilerplate). State is the (source, char) count grid — ≤ |alphabet|
    * cells per source regardless of corpus size, the streamHll register
    * argument; counts are monotone so the drained max per cell is the
    * final grid, and the entropy (micro-nat terms, the charEntropy
    * quantization) is batch arithmetic over that drained grid. Oracle =
    * the same per-source batch SQL. */
  def streamEntropy(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val segDir = StreamDedup.prepare(s, dir, withSource = true)
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType), StructField("source", StringType)))
    val docs = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .option("pathGlobFilter", "seg-*.parquet")
      .parquet(segDir)
    val counts = docs
      .select(col("source"), explode(split(col("text"), "")).as("ch"))
      .where(length(col("ch")) > 0)
      .groupBy(col("source"), col("ch")).agg(count(lit(1)).as("c"))
    val grid = StreamSource.runToTable(s, counts, "stream_entropy", "update")
      .groupBy(col("source"), col("ch")).agg(max(col("c")).as("c"))
      .localCheckpoint(true)
    val n = grid.groupBy("source").agg(sum("c").as("n"))
    grid.join(n, "source")
      .withColumn("term_u",
        expr("c * cast(round(ln(n / cast(c AS DOUBLE)) * 1e6) AS BIGINT)"))
      .groupBy("source")
      .agg(max("n").as("n_chars"), sum("term_u").as("ent_u"))
      .orderBy("source")
  }

  /** Streaming OLS — the sufficient-statistics regression
    * (operators.MlPipeline.ols) kept LIVE: per event type, the six exact
    * integer moments (n, Σx, Σy, Σxy, Σx², Σy²) ARE the streaming
    * aggregation state (fixed-width per key, raw rows never stored), and
    * the model — value-drift over day-of-year — is closed-form arithmetic
    * over the drained final moments. n grows monotonically, so the final
    * state per key is its max-n emission (the streamHll/streamQuantile
    * argument); a production job would publish refreshed coefficients
    * every batch from exactly these emissions. */
  /** q_stream_sample_weighted — the Efraimidis–Spirakis weighted sample
    * kept LIVE (the algorithm's selling point: a weighted reservoir is a
    * bounded mergeable summary, so ingestion can maintain it forever).
    * Each shard's state is its top-100 (key_u, doc_id, w) triples plus a
    * monotone seen-counter — fixed width regardless of corpus size, the
    * streamHll register argument. The drain takes each shard's max-n
    * emission and merges the 8 shard reservoirs into the global top-100 —
    * EXACTLY the batch q_sample_weighted answer (same oracle SQL
    * verbatim), because per-shard top-k then global top-k is lossless for
    * a total order. */
  def streamWeightedSample(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // w = n_chars, the SAME weight column as the batch twin and the
    // oracle (r14 ADVICE fix: length(text) only coincides on ASCII)
    val docs = StreamDedup.docStream(s, dir, 1,
      "n_chars" -> org.apache.spark.sql.types.LongType)
    val keyed = docs
      .select(col("doc_id"), col("n_chars").as("w"))
      .withColumn("u9",
        expr("conv(substring(md5(concat('ws:', cast(doc_id AS STRING))), 1, 15), 16, 10)")
          .cast("long") % 1000000000L + 1L)
      .withColumn("lnu_u", expr("cast(round(ln(u9 / 1.0e9) * 1e6) AS BIGINT)"))
      .withColumn("key_u", expr("cast(round(lnu_u * 1000.0 / w) AS BIGINT)"))
      .select(expr("cast(doc_id % 8 AS INT)").as("shard"),
        col("doc_id"), col("w"), col("key_u"))
      .as[(Int, Long, Long, Long)]
    val perShard = KeyedOp[Int, (Int, Long, Long, Long), (Long, Seq[(Long, Long, Long)]),
        (Int, Long, Seq[Long], Seq[Long], Seq[Long])](_._1) { (shard, rows, st) =>
      val (seen0, top0) = st.getOption.getOrElse((0L, Seq.empty))
      var seen = seen0
      val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
      buf ++= top0
      rows.foreach { r => seen += 1; buf += ((r._4, r._2, r._3)) } // (key_u, doc_id, w)
      val top = buf.sortBy { case (k, id, _) => (-k, id) }.take(100).toSeq
      st.update((seen, top))
      Iterator.single((shard, seen,
        top.map(_._1), top.map(_._2), top.map(_._3)))
    }.run(keyed, org.apache.spark.sql.streaming.OutputMode.Update())
      .toDF("shard", "n_seen", "keys", "ids", "ws")
    val drained = StreamSource.runToTable(s, perShard, "stream_wsample", "update")
      .groupBy("shard")
      .agg(max_by(struct(col("keys"), col("ids"), col("ws")), col("n_seen")).as("m"))
      .select(explode(arrays_zip(col("m.keys"), col("m.ids"), col("m.ws"))).as("z"))
      .select(col("z.ids").as("doc_id"), col("z.ws").as("w"), col("z.keys").as("key_u"))
    drained.orderBy(col("key_u").desc, col("doc_id")).limit(100)
      .orderBy("doc_id")
  }

  def streamOls(s: SparkSession, dir: String): DataFrame = {
    val st = StreamSource.events(s, dir)
      .select(col("event_type"),
        expr("cast(dayofyear(ts) AS bigint)").as("x"),
        expr("cast(round(value * 100) AS bigint)").as("y"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
        sum(expr("x * y")).as("sxy"), sum(expr("x * x")).as("sxx"),
        sum(expr("y * y")).as("syy"))
    val drained = StreamSource.runToTable(s, st, "stream_ols", "update")
      .groupBy("event_type")
      .agg(max_by(struct(col("n"), col("sx"), col("sy"), col("sxy"),
        col("sxx"), col("syy")), col("n")).as("m"))
      .select(col("event_type"), col("m.n").as("n"), col("m.sx").as("sx"),
        col("m.sy").as("sy"), col("m.sxy").as("sxy"), col("m.sxx").as("sxx"),
        col("m.syy").as("syy"))
    drained.withColumn("slope", expr(
        "round(cast(n * sxy - sx * sy AS double) / cast(n * sxx - sx * sx AS double), 6)"))
      .withColumn("intercept", expr(
        "round((cast(sy AS double) - slope * cast(sx AS double)) / n, 4)"))
      .select(col("event_type"), col("n"), col("slope"), col("intercept"))
      .orderBy("event_type")
  }

  /** The last row of each user by (ts, event_id): keep-last dedup. */
  val dedupLastOracle: String =
    """SELECT user_id, event_id, event_type FROM (
        | SELECT user_id, event_id, event_type,
        |  row_number() OVER (PARTITION BY user_id
        |    ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
        | FROM events) WHERE rn = 1 ORDER BY user_id""".stripMargin

  /** Running count and sum per user in (ts, event_id) order. */
  val overOracle: String =
    """SELECT user_id, event_id,
        | count(*) OVER w AS run_cnt,
        | round(sum(value) OVER w, 4) AS run_sum
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, event_id""".stripMargin

  /** Strict view, click, purchase runs per user. */
  val cepStrictOracle: String =
    """WITH o AS (SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS t
        |           FROM events),
        |sq AS (SELECT user_id, event_id AS a_id, event_type AS et0,
        |  lead(event_type, 1) OVER w AS et1, lead(event_id, 1) OVER w AS b_id,
        |  lead(event_type, 2) OVER w AS et2, lead(event_id, 2) OVER w AS c_id
        | FROM o WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id))
        |SELECT user_id, a_id, b_id, c_id FROM sq
        |WHERE et0 = 'view' AND et1 = 'click' AND et2 = 'purchase'
        |ORDER BY user_id, a_id""".stripMargin

  /** A+ B matches per user. */
  val cepPlusOracle: String =
    """WITH e AS (SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS t FROM events),
        |o AS (SELECT user_id, event_id, event_type,
        |        row_number() OVER (PARTITION BY user_id ORDER BY t, event_id) AS rn,
        |        CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS is_err
        |      FROM e),
        |g AS (SELECT *, sum(is_err) OVER (PARTITION BY user_id ORDER BY rn) AS grp FROM o),
        |a AS (SELECT * FROM g WHERE is_err = 0),
        |s AS (SELECT user_id, grp, rn, event_id,
        |        max(CASE WHEN event_type = 'purchase' THEN rn END) OVER
        |          (PARTITION BY user_id, grp ORDER BY rn
        |           ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS j_rn
        |      FROM a)
        |SELECT s.user_id, s.event_id AS a_id, b.event_id AS b_id,
        |       CAST(s.j_rn - s.rn AS INT) AS n_a
        |FROM s JOIN a b ON b.user_id = s.user_id AND b.rn = s.j_rn
        |WHERE s.j_rn IS NOT NULL
        |ORDER BY s.user_id, a_id""".stripMargin

  /** The +I/-U/+U changelog of each user's rows. */
  val changelogOracle: String =
    """WITH o AS (SELECT user_id, event_id,
        |  row_number() OVER w AS rn, count(*) OVER (PARTITION BY user_id) AS mx
        | FROM events
        | WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id))
        |SELECT user_id, event_id, rowkind FROM (
        | SELECT user_id, event_id, '+I' AS rowkind FROM o WHERE rn = 1
        | UNION ALL SELECT user_id, event_id, '+U' FROM o WHERE rn > 1
        | UNION ALL SELECT user_id, event_id, '-U' FROM o WHERE rn < mx)
        |ORDER BY user_id, event_id, rowkind""".stripMargin

  /** Sessions per user with a per-event gap. */
  val dynSessionOracle: String =
    """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS t, value,
        |  CASE WHEN event_type = 'error' THEN INTERVAL 30 MINUTE
        |       ELSE INTERVAL 60 MINUTE END AS gap FROM events),
        |m AS (SELECT *, max(t + gap) OVER (PARTITION BY user_id ORDER BY t
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end FROM e),
        |br AS (SELECT *, CASE WHEN prev_end IS NULL OR t > prev_end
        |  THEN 1 ELSE 0 END AS brk FROM m),
        |g AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY t
        |  ROWS UNBOUNDED PRECEDING) AS sid FROM br)
        |SELECT user_id, min(t) AS w_start, count(*) AS cnt,
        | round(sum(value), 2) AS sum_value
        |FROM g GROUP BY user_id, sid ORDER BY user_id, w_start""".stripMargin

  /** Count and sum over each row's 20-minute RANGE frame. */
  val overRangeBoundedOracle: String =
    """WITH e AS (SELECT user_id, event_id, value, CAST(ts AS TIMESTAMP) AS t FROM events)
        |SELECT e.user_id, e.event_id, count(*) AS w_cnt, round(sum(x.value), 4) AS w_sum
        |FROM e JOIN e x ON x.user_id = e.user_id
        |  AND x.t >= e.t - INTERVAL 1 HOUR
        |  AND (x.t < e.t OR (x.t = e.t AND x.event_id <= e.event_id))
        |GROUP BY e.user_id, e.event_id
        |ORDER BY e.user_id, e.event_id""".stripMargin

  /** Count and sum over each row's 2-preceding ROWS frame. */
  val overRowsBoundedOracle: String =
    """SELECT user_id, event_id,
        | count(*) OVER w AS w_cnt,
        | round(sum(value) OVER w, 4) AS w_sum
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
        |  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, event_id""".stripMargin

  /** The top 3 rows by value per event_type. */
  val topNOracle: String =
    """SELECT event_type, CAST(rn AS INT) AS rank, event_id, user_id,
        | round(value, 2) AS value
        |FROM (SELECT event_type, event_id, user_id, value,
        |  row_number() OVER (PARTITION BY event_type
        |    ORDER BY value DESC, event_id) AS rn FROM events)
        |WHERE rn <= 3 ORDER BY event_type, rn""".stripMargin

  /** DuckDB oracles — batch-SQL statements equivalent to each streaming
    * operator's final drained output. */
  private val baseQueries: Seq[Query] = Seq(
    // the batch weighted-sample oracle VERBATIM: per-shard reservoirs
    // merged at drain must equal the one-pass batch answer exactly
    Query("q_stream_sample_weighted", streamWeightedSample,
      Query.oracleOf(graft.LlmOracles.queries, "q_sample_weighted")),
    // per-source char entropy: the drained (source, char) grid replayed
    // by one batch pass (monotone counts → max ≡ final)
    Query("q_stream_entropy", streamEntropy,
      """WITH ch AS (SELECT source, unnest(string_split(text, '')) AS ch FROM documents),
        |c AS (SELECT source, ch, count(*) AS c FROM ch WHERE length(ch) > 0 GROUP BY 1, 2),
        |n AS (SELECT source, CAST(sum(c) AS BIGINT) AS n FROM c GROUP BY 1),
        |t AS (SELECT c.source, n.n,
        |        c.c * CAST(round(ln(n.n / CAST(c.c AS DOUBLE)) * 1e6) AS BIGINT) AS term_u
        |      FROM c JOIN n ON n.source = c.source)
        |SELECT source, max(n) AS n_chars, CAST(sum(term_u) AS BIGINT) AS ent_u
        |FROM t GROUP BY source ORDER BY source""".stripMargin),
    Query("q_stream_ols", streamOls,
      """WITH b AS (SELECT event_type,
        |    CAST(dayofyear(CAST(ts AS TIMESTAMP)) AS BIGINT) AS x,
        |    CAST(round(value * 100) AS BIGINT) AS y FROM events),
        |st AS (SELECT event_type, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
        |    sum(x*y) AS sxy, sum(x*x) AS sxx, sum(y*y) AS syy
        |  FROM b GROUP BY event_type),
        |m AS (SELECT event_type, CAST(n AS BIGINT) AS n,
        |   round(CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE), 6) AS slope,
        |   CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd
        |  FROM st)
        |SELECT event_type, n, slope,
        |  round((syd - slope * sxd) / n, 4) AS intercept
        |FROM m ORDER BY event_type""".stripMargin),
    Query("q_stream_quantile", streamQuantile,
      """WITH cents AS (SELECT event_type,
        |  CAST(round(value * 100) AS BIGINT) AS v FROM events),
        |bk AS (SELECT event_type, (length(bin(v)) - 1) * 16 +
        |   ((v >> greatest(length(bin(v)) - 1 - 4, 0)) & 15) AS bucket FROM cents),
        |hist AS (SELECT event_type, bucket, count(*) AS cnt FROM bk
        |  GROUP BY event_type, bucket),
        |cum AS (SELECT event_type, bucket,
        |   sum(cnt) OVER (PARTITION BY event_type ORDER BY bucket) AS cum FROM hist),
        |nn AS (SELECT event_type, count(*) AS n FROM cents GROUP BY event_type),
        |qs AS (SELECT unnest([0.5, 0.9, 0.99]) AS q),
        |picked AS (SELECT event_type, q, target, min(bucket) AS bucket FROM (
        |   SELECT nn.event_type, qs.q, CAST(ceil(qs.q * nn.n) AS BIGINT) AS target, c.bucket
        |   FROM qs, nn JOIN cum c USING (event_type)
        |   WHERE c.cum >= CAST(ceil(qs.q * nn.n) AS BIGINT))
        |  GROUP BY event_type, q, target),
        |est AS (SELECT event_type, q, target,
        |   CASE WHEN (bucket >> 4) < 4 THEN (bucket & 15)::BIGINT
        |        ELSE (16 + (bucket & 15))::BIGINT << ((bucket >> 4) - 4) END AS est_value
        |  FROM picked),
        |sorted AS (SELECT event_type, v,
        |   row_number() OVER (PARTITION BY event_type ORDER BY v) AS rn FROM cents),
        |ex AS (SELECT e.event_type, e.q, e.est_value, s.v AS exact_value
        |  FROM est e JOIN sorted s ON s.event_type = e.event_type AND s.rn = e.target)
        |SELECT event_type, q, est_value, exact_value,
        |  round(abs(est_value - exact_value) / exact_value * 100, 2) AS rel_err_pct
        |FROM ex ORDER BY event_type, q""".stripMargin),
    Query("q_stream_drop_before", dropUpdateBefore,
      """WITH o AS (SELECT user_id, event_id, row_number() OVER w AS rn FROM events
        | WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id))
        |SELECT user_id, event_id, rowkind FROM (
        | SELECT user_id, event_id, '+I' AS rowkind FROM o WHERE rn = 1
        | UNION ALL SELECT user_id, event_id, '+U' FROM o WHERE rn > 1)
        |ORDER BY user_id, event_id, rowkind""".stripMargin),
    Query("q_stream_outer_join", outerJoin,
      """SELECT p.user_id, p.event_id AS p_id, v.event_id AS v_id
        |FROM (SELECT user_id, event_id FROM events WHERE event_type = 'purchase') p
        |LEFT JOIN (SELECT user_id, event_id FROM events WHERE event_type = 'view') v
        |  ON v.user_id = p.user_id
        |ORDER BY p.user_id, p_id, v_id NULLS FIRST""".stripMargin),
    Query("q_stream_evictor_delta", tumbleDeltaEvictor,
      """WITH e AS (SELECT user_id, value, event_id, CAST(ts AS TIMESTAMP) AS t,
        |  date_trunc('day', CAST(ts AS TIMESTAMP)) AS day FROM events),
        |l AS (SELECT user_id, day, value AS lastv FROM (
        |  SELECT *, row_number() OVER (PARTITION BY user_id, day
        |    ORDER BY t DESC, event_id DESC) AS rn FROM e) WHERE rn = 1)
        |SELECT e.day AS w_start, e.user_id, count(*) AS cnt,
        | round(sum(e.value), 2) AS sum_value
        |FROM e JOIN l ON l.user_id = e.user_id AND l.day = e.day
        |WHERE abs(e.value - l.lastv) < 50
        |GROUP BY e.day, e.user_id
        |ORDER BY e.user_id, w_start""".stripMargin),
    Query("q_proctime_dedup", procTimeDedup,
      """SELECT user_id, event_id, event_type FROM (
        | SELECT user_id, event_id, event_type,
        |  row_number() OVER (PARTITION BY user_id
        |    ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rn
        | FROM events) WHERE rn = 1 ORDER BY user_id""".stripMargin),
    Query("q_proctime_over", procTimeOver,
      overOracle),
    Query("q_proctime_temporal", procTimeTemporal,
      """WITH p AS (SELECT user_id, event_id AS p_id, CAST(ts AS TIMESTAMP) AS p_t
        |           FROM events WHERE event_type = 'purchase'),
        |v AS (SELECT user_id, event_id AS v_id, CAST(ts AS TIMESTAMP) AS v_t
        |      FROM events WHERE event_type = 'view')
        |SELECT user_id, p_id, v_id FROM (
        | SELECT p.user_id, p.p_id, v.v_id,
        |  row_number() OVER (PARTITION BY p.p_id ORDER BY v.v_t DESC, v.v_id DESC) AS rn
        | FROM p LEFT JOIN v ON v.user_id = p.user_id
        |  AND (v.v_t < p.p_t OR (v.v_t = p.p_t AND v.v_id < p.p_id))
        |) WHERE rn = 1 ORDER BY user_id, p_id""".stripMargin),
    Query("q_stream_retract_agg", retractAgg,
      """WITH last AS (
        | SELECT user_id, event_type, value FROM (
        |  SELECT user_id, event_type, value,
        |   row_number() OVER (PARTITION BY user_id
        |     ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
        |  FROM events) WHERE rn = 1)
        |SELECT event_type, count(*) AS cnt,
        | round(sum(value), 2) AS sum_value,
        | round(min(value), 2) AS min_value,
        | round(max(value), 2) AS max_value
        |FROM last GROUP BY event_type ORDER BY event_type""".stripMargin),
    Query("q_stream_full_outer_join", fullOuterJoin,
      """SELECT coalesce(p.user_id, c.user_id) AS user_id,
        | p.event_id AS p_id, c.event_id AS c_id
        |FROM (SELECT user_id, event_id FROM events
        |      WHERE event_type = 'purchase' AND value >= 90) p
        |FULL JOIN (SELECT user_id, event_id FROM events
        |      WHERE event_type = 'click' AND value >= 90) c
        |  ON c.user_id = p.user_id
        |ORDER BY user_id, p_id NULLS FIRST, c_id NULLS FIRST""".stripMargin),
    Query("q_stream_right_outer_join", rightOuterJoin,
      """SELECT c.user_id, p.event_id AS p_id, c.event_id AS c_id
        |FROM (SELECT user_id, event_id FROM events
        |      WHERE event_type = 'purchase' AND value >= 90) p
        |RIGHT JOIN (SELECT user_id, event_id FROM events
        |      WHERE event_type = 'click' AND value >= 90) c
        |  ON c.user_id = p.user_id
        |ORDER BY c.user_id, p_id NULLS FIRST, c_id""".stripMargin),
    Query("q_stream_count_slide", countSlideWindow,
      """WITH o AS (SELECT user_id, value,
        |  row_number() OVER (PARTITION BY user_id
        |    ORDER BY CAST(ts AS TIMESTAMP), event_id) - 1 AS rn FROM events),
        |x AS (SELECT user_id, value,
        |  unnest(range(greatest(CAST(ceil((rn - 3) / 2.0) AS BIGINT), 0), rn // 2 + 1)) AS win_id
        | FROM o)
        |SELECT user_id, win_id, count(*) AS cnt, round(sum(value), 2) AS sum_value
        |FROM x GROUP BY user_id, win_id HAVING count(*) = 4
        |ORDER BY user_id, win_id""".stripMargin),
    Query("q_stream_tumble_late", tumbleLate,
      graft.WindowOracles.tumbleOracle),
    Query("q_stream_temporal_sort", temporalSortQuery,
      """SELECT user_id, event_id FROM events
        |ORDER BY user_id, event_id""".stripMargin),
    Query("q_stream_evictor_time", tumbleTimeEvictor,
      """WITH e AS (SELECT user_id, value, CAST(ts AS TIMESTAMP) AS t,
        |  date_trunc('day', CAST(ts AS TIMESTAMP)) AS day FROM events),
        |mx AS (SELECT user_id, day, max(t) AS mt FROM e GROUP BY user_id, day)
        |SELECT e.day AS w_start, e.user_id, count(*) AS cnt, round(sum(value), 2) AS sum_value
        |FROM e JOIN mx ON mx.user_id = e.user_id AND mx.day = e.day
        |WHERE e.t > mt - INTERVAL 6 HOUR
        |GROUP BY e.day, e.user_id
        |ORDER BY e.user_id, w_start""".stripMargin),
    Query("q_stream_evictor", tumbleEvictor,
      """WITH e AS (SELECT user_id, value, event_id, CAST(ts AS TIMESTAMP) AS t,
        |  date_trunc('day', CAST(ts AS TIMESTAMP)) AS day FROM events),
        |r AS (SELECT *, row_number() OVER (PARTITION BY user_id, day
        |        ORDER BY t DESC, event_id DESC) AS rk FROM e)
        |SELECT day AS w_start, user_id, count(*) AS cnt, round(sum(value), 2) AS sum_value
        |FROM r WHERE rk <= 3 GROUP BY day, user_id
        |ORDER BY user_id, w_start""".stripMargin),
    Query("q_stream_trigger_cont", triggerContinuous,
      """WITH e AS (SELECT user_id, value, CAST(ts AS TIMESTAMP) AS t,
        |  date_trunc('day', CAST(ts AS TIMESTAMP)) AS day FROM events),
        |k AS (SELECT unnest([1, 2, 3, 4]) AS k)
        |SELECT day AS w_start, user_id,
        |  CASE WHEN k = 4 THEN 'final' ELSE 'p' || CAST(k AS VARCHAR) END AS fire,
        |  count(*) AS cnt, round(sum(value), 2) AS sum_value
        |FROM e, k
        |WHERE k = 4 OR t < day + k * (INTERVAL 6 HOUR)
        |GROUP BY day, user_id, k
        |ORDER BY user_id, w_start, fire""".stripMargin),
    Query("q_stream_trigger_purge", triggerPurging,
      """WITH e AS (SELECT user_id, value, CAST(ts AS TIMESTAMP) AS t,
        |  date_trunc('day', CAST(ts AS TIMESTAMP)) AS day FROM events),
        |c AS (SELECT *, least(CAST(floor(epoch_us(t - day) / 21600000000) AS INT) + 1, 4) AS k
        |      FROM e)
        |SELECT day AS w_start, user_id,
        |  CASE WHEN k = 4 THEN 'final' ELSE 'p' || CAST(k AS VARCHAR) END AS fire,
        |  count(*) AS cnt, round(sum(value), 2) AS sum_value
        |FROM c
        |GROUP BY day, user_id, k
        |ORDER BY user_id, w_start, fire""".stripMargin),
    Query("q_stream_over_rows_b", overRowsBounded,
      overRowsBoundedOracle),
    Query("q_stream_over_range_b", overRangeBounded,
      overRangeBoundedOracle),
    Query("q_stream_cep_plus", cepPlus,
      cepPlusOracle),
    // until(signup): same islands derivation as q_stream_cep_plus with the
    // island additionally split at the stop event (signup never enters the
    // loop, so no A-run or its closing purchase crosses one)
    Query("q_stream_cep_until", cepUntil,
      """WITH e AS (SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS t FROM events),
        |o AS (SELECT user_id, event_id, event_type,
        |        row_number() OVER (PARTITION BY user_id ORDER BY t, event_id) AS rn,
        |        CASE WHEN event_type IN ('error', 'signup') THEN 1 ELSE 0 END AS brk
        |      FROM e),
        |g AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY rn) AS grp FROM o),
        |a AS (SELECT * FROM g WHERE brk = 0),
        |s AS (SELECT user_id, grp, rn, event_id,
        |        max(CASE WHEN event_type = 'purchase' THEN rn END) OVER
        |          (PARTITION BY user_id, grp ORDER BY rn
        |           ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS j_rn
        |      FROM a)
        |SELECT s.user_id, s.event_id AS a_id, b.event_id AS b_id,
        |       CAST(s.j_rn - s.rn AS INT) AS n_a
        |FROM s JOIN a b ON b.user_id = s.user_id AND b.rn = s.j_rn
        |WHERE s.j_rn IS NOT NULL
        |ORDER BY s.user_id, a_id""".stripMargin),
    // shuffled-replay twin of q_stream_cep_plus: same oracle — parked
    // quantified matches must resolve identically across micro-batches
    Query("q_stream_cep_plus_ooo", cepPlusOoo,
      cepPlusOracle),
    Query("q_stream_cep_plus_rel", cepPlusReluctant,
      """WITH e AS (SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS t FROM events),
        |o AS (SELECT user_id, event_id, event_type,
        |        row_number() OVER (PARTITION BY user_id ORDER BY t, event_id) AS rn,
        |        CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS is_err
        |      FROM e),
        |g AS (SELECT *, sum(is_err) OVER (PARTITION BY user_id ORDER BY rn) AS grp FROM o),
        |a AS (SELECT * FROM g WHERE is_err = 0),
        |s AS (SELECT user_id, grp, rn, event_id,
        |        min(CASE WHEN event_type = 'purchase' THEN rn END) OVER
        |          (PARTITION BY user_id, grp ORDER BY rn
        |           ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS j_rn
        |      FROM a)
        |SELECT s.user_id, s.event_id AS a_id, b.event_id AS b_id,
        |       CAST(s.j_rn - s.rn AS INT) AS n_a
        |FROM s JOIN a b ON b.user_id = s.user_id AND b.rn = s.j_rn
        |WHERE s.j_rn IS NOT NULL
        |ORDER BY s.user_id, a_id""".stripMargin),
    Query("q_stream_cep_skip_past", cepSkipPast,
      """WITH e AS (SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS t FROM events),
        |o AS (SELECT user_id, event_id,
        |        row_number() OVER (PARTITION BY user_id ORDER BY t, event_id) AS rn,
        |        CASE WHEN event_type = 'view' THEN 0 ELSE 1 END AS not_v
        |      FROM e),
        |g AS (SELECT *, sum(not_v) OVER (PARTITION BY user_id ORDER BY rn) AS grp FROM o),
        |v AS (SELECT user_id, grp, rn, event_id,
        |        row_number() OVER (PARTITION BY user_id, grp ORDER BY rn) AS k
        |      FROM g WHERE not_v = 0)
        |SELECT a.user_id, a.event_id AS a_id, b.event_id AS b_id
        |FROM v a JOIN v b ON b.user_id = a.user_id AND b.grp = a.grp AND b.k = a.k + 1
        |WHERE a.k % 2 = 1
        |ORDER BY a.user_id, a_id""".stripMargin),
    Query("q_stream_hop", StreamWindowAggs.hop,
      graft.WindowOracles.hopOracle),
    Query("q_stream_cumulate", StreamWindowAggs.cumulate,
      graft.WindowOracles.cumulateOracle),
    Query("q_stream_dyn_session", dynamicSession,
      dynSessionOracle),
    Query("q_stream_upsert", upsert,
      """SELECT user_id, event_id FROM (
        | SELECT user_id, event_id,
        |  row_number() OVER (PARTITION BY user_id
        |    ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
        | FROM events) WHERE rn = 1 ORDER BY user_id""".stripMargin),
    Query("q_stream_cep_any", cepAny,
      """WITH a AS (SELECT user_id, event_id AS a_id, CAST(ts AS TIMESTAMP) AS at
        |           FROM events WHERE event_type = 'view'),
        |b AS (SELECT user_id, event_id AS b_id, CAST(ts AS TIMESTAMP) AS bt
        |      FROM events WHERE event_type = 'click'),
        |c AS (SELECT user_id, event_id AS c_id, CAST(ts AS TIMESTAMP) AS ct
        |      FROM events WHERE event_type = 'purchase')
        |SELECT a.user_id, a.a_id, b.b_id, c.c_id
        |FROM a
        |JOIN b ON b.user_id = a.user_id AND b.bt > a.at
        |      AND b.bt <= a.at + INTERVAL 2 DAY
        |JOIN c ON c.user_id = a.user_id AND c.ct > b.bt
        |      AND c.ct <= a.at + INTERVAL 2 DAY
        |ORDER BY a.user_id, a.a_id, b.b_id, c.c_id""".stripMargin),
    Query("q_stream_cep_notnext", cepNotNext,
      """WITH p AS (SELECT user_id, event_id AS p_id, CAST(ts AS TIMESTAMP) AS pt
        |           FROM events WHERE event_type = 'purchase'),
        |e AS (SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS t
        |      FROM events),
        |nxt AS (SELECT p.user_id, p.p_id, e.event_type AS kind,
        |         row_number() OVER (PARTITION BY p.user_id, p.p_id
        |           ORDER BY e.t, e.event_id) AS rn
        |        FROM p JOIN e ON e.user_id = p.user_id
        |         AND e.t > p.pt AND e.t <= p.pt + INTERVAL 7 DAY),
        |c AS (SELECT p.user_id, p.p_id, e.event_id AS v_id,
        |       row_number() OVER (PARTITION BY p.user_id, p.p_id
        |         ORDER BY e.t, e.event_id) AS rn
        |      FROM p JOIN e ON e.user_id = p.user_id AND e.event_type = 'view'
        |       AND e.t > p.pt AND e.t <= p.pt + INTERVAL 7 DAY)
        |SELECT c.user_id, c.p_id, c.v_id
        |FROM c JOIN nxt ON nxt.user_id = c.user_id AND nxt.p_id = c.p_id
        | AND nxt.rn = 1 AND nxt.kind <> 'error'
        |WHERE c.rn = 1
        |ORDER BY c.user_id, c.p_id""".stripMargin),
    // timed-out partials: the declarative twin — views with no same-key
    // purchase strictly after them within the 7-day window (boundary
    // INCLUSIVE: a purchase AT the deadline completes, per the matcher's
    // strict > expiry); deadline = view time + 7 days
    Query("q_stream_cep_timeout", cepTimedOut,
      """WITH o AS (SELECT user_id, event_id, event_type,
        |            CAST(ts AS TIMESTAMP) AS t FROM events)
        |SELECT v.user_id, v.event_id AS v_id,
        |       v.t + INTERVAL 7 DAY AS deadline
        |FROM o v
        |WHERE v.event_type = 'view'
        |  AND NOT EXISTS (SELECT 1 FROM o p
        |    WHERE p.user_id = v.user_id AND p.event_type = 'purchase'
        |      AND p.t > v.t AND p.t <= v.t + INTERVAL 7 DAY)
        |ORDER BY v.user_id, v_id""".stripMargin),
    Query("q_stream_cep_not", cepNot,
      """WITH p AS (SELECT user_id, event_id AS p_id, CAST(ts AS TIMESTAMP) AS pt
        |           FROM events WHERE event_type = 'purchase'),
        |x AS (SELECT user_id, event_id AS x_id, event_type AS kind,
        |             CAST(ts AS TIMESTAMP) AS t
        |      FROM events WHERE event_type IN ('view', 'error')),
        |c AS (SELECT p.user_id, p.p_id, x.kind, x.x_id,
        |       row_number() OVER (PARTITION BY p.user_id, p.p_id
        |         ORDER BY x.t, x.x_id) AS rn
        |      FROM p JOIN x ON x.user_id = p.user_id
        |       AND x.t > p.pt AND x.t <= p.pt + INTERVAL 7 DAY)
        |SELECT user_id, p_id, x_id AS v_id
        |FROM c WHERE rn = 1 AND kind = 'view'
        |ORDER BY user_id, p_id""".stripMargin),
    Query("q_stream_cep_relaxed", cepRelaxed,
      """WITH e AS (SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS t
        |           FROM events),
        |a AS (SELECT user_id, event_id AS a_id, t AS a_t FROM e WHERE event_type = 'view'),
        |ab AS (SELECT a.*, (SELECT min(t) FROM e x WHERE x.user_id = a.user_id
        |        AND x.event_type = 'click' AND x.t > a.a_t
        |        AND x.t <= a.a_t + INTERVAL 7 DAY) AS b_t FROM a),
        |abc AS (SELECT ab.*, (SELECT min(t) FROM e x WHERE x.user_id = ab.user_id
        |        AND x.event_type = 'purchase' AND x.t > ab.b_t
        |        AND x.t <= ab.a_t + INTERVAL 7 DAY) AS c_t
        |        FROM ab WHERE b_t IS NOT NULL)
        |SELECT abc.user_id, a_id,
        | (SELECT min(event_id) FROM e b WHERE b.user_id = abc.user_id
        |   AND b.event_type = 'click' AND b.t = abc.b_t) AS b_id,
        | (SELECT min(event_id) FROM e c WHERE c.user_id = abc.user_id
        |   AND c.event_type = 'purchase' AND c.t = abc.c_t) AS c_id
        |FROM abc
        |WHERE c_t IS NOT NULL ORDER BY abc.user_id, a_id""".stripMargin),
    Query("q_stream_semi_join", semiJoin,
      """SELECT user_id, event_id AS p_id FROM events e
        |WHERE event_type = 'purchase' AND EXISTS (
        |  SELECT 1 FROM events v WHERE v.event_type = 'view' AND v.user_id = e.user_id)
        |ORDER BY user_id, p_id""".stripMargin),
    Query("q_stream_anti_join", antiJoin,
      """SELECT user_id, event_id AS p_id FROM events e
        |WHERE event_type = 'purchase' AND NOT EXISTS (
        |  SELECT 1 FROM events v WHERE v.event_type = 'view' AND v.user_id = e.user_id)
        |ORDER BY user_id, p_id""".stripMargin),
    Query("q_stream_count_win", countWindow,
      """WITH o AS (SELECT user_id, value,
        |  row_number() OVER (PARTITION BY user_id
        |    ORDER BY CAST(ts AS TIMESTAMP), event_id) - 1 AS rn FROM events)
        |SELECT user_id, rn // 5 AS win_id, count(*) AS cnt,
        |  round(sum(value), 2) AS sum_value
        |FROM o GROUP BY user_id, rn // 5 HAVING count(*) = 5
        |ORDER BY user_id, win_id""".stripMargin),
    Query("q_stream_tumble", StreamWindowAggs.tumble,
      graft.WindowOracles.tumbleOracle),
    Query("q_stream_cascade", StreamWindowAggs.cascade,
      """WITH h AS (SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hs,
        |  count(*) AS cnt, sum(value) AS sv FROM events GROUP BY 1)
        |SELECT date_trunc('day', hs) AS d_start, CAST(sum(cnt) AS BIGINT) AS cnt,
        | round(sum(sv), 2) AS sum_value
        |FROM h GROUP BY 1 ORDER BY 1""".stripMargin),
    Query("q_stream_tumble_all", StreamWindowAggs.tumbleAll,
      """SELECT date_trunc('day', CAST(ts AS TIMESTAMP)) AS w_start,
        | count(*) AS cnt, round(sum(value), 2) AS sum_value,
        | round(min(value), 2) AS min_value, round(max(value), 2) AS max_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),
    Query("q_stream_session", StreamWindowAggs.session,
      graft.WindowOracles.sessionOracle),
    Query("q_stream_interval_join", StreamWindowAggs.intervalJoin,
      graft.WindowOracles.intervalJoinOracle),
    Query("q_stream_dedup_last", dedupLast,
      dedupLastOracle),
    // the _ooo twins run the shuffled multi-batch replay; same oracle as
    // the ordered run — the hash match IS the order-independence proof
    Query("q_stream_changelog_ooo", changelogOoo,
      changelogOracle),
    Query("q_stream_dyn_session_ooo", dynSessionOoo,
      dynSessionOracle),
    Query("q_stream_over_rows_b_ooo", overRowsBoundedOoo,
      overRowsBoundedOracle),
    Query("q_stream_over_range_b_ooo", overRangeBoundedOoo,
      overRangeBoundedOracle),
    Query("q_stream_topn_retract_ooo", topNRetractOoo,
      topNOracle),
    Query("q_stream_dedup_last_ooo", dedupLastOoo,
      dedupLastOracle),
    Query("q_stream_topn_ooo", topNOoo,
      topNOracle),
    Query("q_stream_over_ooo", overOoo,
      overOracle),
    Query("q_stream_cep_ooo", cepOoo,
      cepStrictOracle),
    Query("q_stream_topn_retract", topNRetract,
      topNOracle),
    Query("q_stream_topn", topN,
      topNOracle),
    Query("q_stream_topn_range", topNRange,
      """SELECT event_type, CAST(rn AS INT) AS rank, event_id, user_id,
        | round(value, 2) AS value
        |FROM (SELECT event_type, event_id, user_id, value,
        |  row_number() OVER (PARTITION BY event_type
        |    ORDER BY value DESC, event_id) AS rn FROM events)
        |WHERE rn BETWEEN 2 AND 4 ORDER BY event_type, rn""".stripMargin),
    Query("q_stream_connect", connect,
      """WITH p AS (SELECT user_id, event_id AS p_id, CAST(ts AS TIMESTAMP) AS pt
        |           FROM events WHERE event_type = 'purchase'),
        | e AS (SELECT user_id, event_id AS e_id, CAST(ts AS TIMESTAMP) AS et
        |       FROM events WHERE event_type = 'error'),
        | c AS (SELECT p.user_id, p.p_id, e.e_id,
        |        row_number() OVER (PARTITION BY p.user_id, p.p_id
        |          ORDER BY e.et, e.e_id) AS rn
        |       FROM p JOIN e ON p.user_id = e.user_id
        |        AND e.et > p.pt AND e.et <= p.pt + INTERVAL 1 HOUR)
        |SELECT p.user_id, p.p_id, c.e_id
        |FROM p LEFT JOIN c ON c.user_id = p.user_id AND c.p_id = p.p_id AND c.rn = 1
        |ORDER BY p.user_id, p.p_id""".stripMargin),
    Query("q_stream_over", over,
      overOracle),
    Query("q_stream_changelog", changelog,
      changelogOracle),
    Query("q_stream_cep", cep,
      cepStrictOracle),
  )

  /** ooo replays converge to the ordered run's answer — same oracles. */
  val queries: Seq[Query] = baseQueries ++ Seq(
    Query("q_stream_cep_not_ooo", cepNotOoo, Query.oracleOf(baseQueries, "q_stream_cep_not")),
    Query("q_stream_cep_any_ooo", cepAnyOoo, Query.oracleOf(baseQueries, "q_stream_cep_any")),
    Query("q_stream_connect_ooo", connectOoo, Query.oracleOf(baseQueries, "q_stream_connect")),
    Query("q_stream_hll", streamHll,
      """WITH hh AS (SELECT event_type,
        |   ('0x'||substr(md5('u:'||user_id::VARCHAR),1,15))::UBIGINT::BIGINT AS h FROM events),
        |rr AS (SELECT event_type, h & 255 AS bucket,
        |   CASE WHEN (h >> 8) = 0 THEN 53
        |        ELSE CAST(round(log2((h >> 8) & (-(h >> 8)))) AS INT) + 1 END AS rho
        |  FROM hh),
        |regs AS (SELECT event_type, bucket, max(rho) AS r FROM rr GROUP BY event_type, bucket),
        |agg AS (SELECT event_type, CAST(256 - count(*) AS INT) AS zero_regs,
        |   sum(1::BIGINT << (54 - r)) AS s_present FROM regs GROUP BY event_type),
        |ex AS (SELECT event_type, count(DISTINCT user_id) AS exact_distinct
        |  FROM events GROUP BY event_type),
        |est AS (SELECT event_type, zero_regs,
        |   CASE WHEN zero_regs > 0 AND
        |     (0.7213/(1.0 + 1.079/256.0)) * 65536.0 * 18014398509481984.0
        |       / (s_present + zero_regs::BIGINT * (1::BIGINT << 54)) <= 640.0
        |   THEN 256.0 * ln(256.0 / zero_regs)
        |   ELSE (0.7213/(1.0 + 1.079/256.0)) * 65536.0 * 18014398509481984.0
        |       / (s_present + zero_regs::BIGINT * (1::BIGINT << 54)) END AS e
        |  FROM agg)
        |SELECT event_type, zero_regs, CAST(round(e) AS BIGINT) AS est_distinct,
        |  exact_distinct,
        |  round(abs(e - exact_distinct) / exact_distinct * 100, 2) AS err_pct
        |FROM est JOIN ex USING (event_type) ORDER BY event_type""".stripMargin),
    Query("q_stream_hll_window", streamHllWindow,
      """WITH hh AS (SELECT date_trunc('day', CAST(ts AS TIMESTAMP)) AS w_start, event_type,
        |   ('0x'||substr(md5('u:'||user_id::VARCHAR),1,15))::UBIGINT::BIGINT AS h FROM events),
        |rr AS (SELECT w_start, event_type, h & 255 AS bucket,
        |   CASE WHEN (h >> 8) = 0 THEN 53
        |        ELSE CAST(round(log2((h >> 8) & (-(h >> 8)))) AS INT) + 1 END AS rho
        |  FROM hh),
        |regs AS (SELECT w_start, event_type, bucket, max(rho) AS r
        |  FROM rr GROUP BY w_start, event_type, bucket),
        |agg AS (SELECT w_start, event_type, CAST(256 - count(*) AS INT) AS zero_regs,
        |   sum(1::BIGINT << (54 - r)) AS s_present FROM regs GROUP BY w_start, event_type),
        |ex AS (SELECT date_trunc('day', CAST(ts AS TIMESTAMP)) AS w_start, event_type,
        |   count(DISTINCT user_id) AS exact_distinct FROM events GROUP BY 1, 2),
        |est AS (SELECT w_start, event_type, zero_regs,
        |   CASE WHEN zero_regs > 0 AND
        |     (0.7213/(1.0 + 1.079/256.0)) * 65536.0 * 18014398509481984.0
        |       / (s_present + zero_regs::BIGINT * (1::BIGINT << 54)) <= 640.0
        |   THEN 256.0 * ln(256.0 / zero_regs)
        |   ELSE (0.7213/(1.0 + 1.079/256.0)) * 65536.0 * 18014398509481984.0
        |       / (s_present + zero_regs::BIGINT * (1::BIGINT << 54)) END AS e
        |  FROM agg)
        |SELECT w_start, event_type, zero_regs, CAST(round(e) AS BIGINT) AS est_distinct,
        |  exact_distinct,
        |  round(abs(e - exact_distinct) / exact_distinct * 100, 2) AS err_pct
        |FROM est JOIN ex USING (w_start, event_type)
        |ORDER BY w_start, event_type""".stripMargin))
}
