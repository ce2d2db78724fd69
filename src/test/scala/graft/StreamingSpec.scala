package graft

import java.sql.Timestamp

import graft.streaming.StreamSource.Event
import graft.streaming.{Cep, StatefulOps}
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

/** Incremental-semantics tests for the custom stateful operators: feed
  * MemoryStream batches, drain after each, assert per-batch emissions —
  * the Spark analog of the reference's operator harness tests
  * (GroupAggregateHarnessTest etc., SURVEY.md §5.3). */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(min: Int): Timestamp = new Timestamp(1700000000000L + min * 60000L)
  private def ev(id: Long, min: Int, user: Long, typ: String, v: Double): Event =
    Event(id, ts(min), user, typ, v)

  /** Run op over a MemoryStream; returns (feed, drain, stop) handles. */
  private def harness[T](op: Dataset[Event] => Dataset[T], name: String,
      mode: String = "update")(
      implicit enc: org.apache.spark.sql.Encoder[T])
      : (Seq[Event] => Unit, () => Seq[T], () => Unit) = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q: StreamingQuery = op(input.toDS()).writeStream
      .format("memory").queryName(name).outputMode(mode)
      .option("checkpointLocation", checkpointPath(s"test-$name"))
      .start()
    var seen = 0L
    val feed = (rows: Seq[Event]) => { input.addData(rows); () }
    val drain = () => {
      q.processAllAvailable()
      val all = spark.table(name).as[T].collect().toSeq
      val fresh = all.drop(seen.toInt)
      seen = all.size
      fresh
    }
    val stop = () => q.stop()
    (feed, drain, stop)
  }

  test("keepLast emits only when a newer row arrives for the key") {
    val (feed, drain, stop) = harness(StatefulOps.keepLast, "t_keeplast", mode = "append")
    feed(Seq(ev(1, 10, 7, "view", 1.0), ev(2, 20, 7, "click", 2.0)))
    assert(drain().map(_.event_id) === Seq(2)) // only latest of batch 1
    feed(Seq(ev(3, 15, 7, "view", 3.0))) // older than current state
    assert(drain().isEmpty)
    feed(Seq(ev(4, 30, 7, "purchase", 4.0)))
    assert(drain().map(_.event_id) === Seq(4))
    stop()
  }

  test("topN re-emits updated ranking as better rows arrive") {
    val (feed, drain, stop) = harness(StatefulOps.topN(_, 2), "t_topn")
    feed(Seq(ev(1, 1, 1, "view", 10.0), ev(2, 2, 2, "view", 20.0)))
    val b1 = drain()
    assert(b1.map(r => (r.rank, r.event_id)) === Seq((1, 2), (2, 1)))
    feed(Seq(ev(3, 3, 3, "view", 15.0))) // displaces event 1 from rank 2
    val b2 = drain()
    assert(b2.map(r => (r.rank, r.event_id)) === Seq((1, 2), (2, 3)))
    stop()
  }

  test("retracting topN emits -U/+U only for changed ranks, -D for vacated") {
    val (feed, drain, stop) = harness(StatefulOps.topNChangelog(_, 2), "t_topn_re", mode = "append")
    feed(Seq(ev(1, 1, 1, "view", 10.0)))
    assert(drain().map(c => (c.rank, c.event_id, c.rowkind)) === Seq((1, 1L, "+I")))
    feed(Seq(ev(2, 2, 2, "view", 20.0))) // takes rank 1, pushes event 1 to rank 2
    assert(drain().map(c => (c.rank, c.event_id, c.rowkind)) ===
      Seq((1, 1L, "-U"), (1, 2L, "+U"), (2, 1L, "+I")))
    feed(Seq(ev(3, 3, 3, "view", 5.0))) // below top-2 → no emission
    assert(drain().isEmpty)
    feed(Seq(ev(4, 4, 4, "view", 15.0))) // replaces event 1 at rank 2
    assert(drain().map(c => (c.rank, c.event_id, c.rowkind)) ===
      Seq((2, 1L, "-U"), (2, 4L, "+U")))
    stop()
  }

  test("runningAgg accumulates across batches in event-time order") {
    val (feed, drain, stop) = harness(StatefulOps.runningAgg, "t_runagg", "append")
    feed(Seq(ev(2, 20, 5, "view", 2.0), ev(1, 10, 5, "view", 1.0)))
    // within-batch sort: event 1 first despite arrival order
    assert(drain().map(r => (r.event_id, r.run_cnt, r.run_sum)) ===
      Seq((1L, 1L, 1.0), (2L, 2L, 3.0)))
    feed(Seq(ev(3, 30, 5, "view", 4.0)))
    assert(drain().map(r => (r.event_id, r.run_cnt, r.run_sum)) === Seq((3L, 3L, 7.0)))
    stop()
  }

  test("changelogNormalize emits +I then -U/+U pairs") {
    val (feed, drain, stop) =
      harness(StatefulOps.changelogNormalize, "t_chlog", mode = "append")
    feed(Seq(ev(1, 10, 9, "view", 1.0)))
    assert(drain().map(c => (c.event_id, c.rowkind)) === Seq((1L, "+I")))
    feed(Seq(ev(2, 20, 9, "view", 2.0)))
    assert(drain().map(c => (c.event_id, c.rowkind)) === Seq((1L, "-U"), (2L, "+U")))
    stop()
  }

  test("cep matches strict-contiguity pattern across batch boundary") {
    val pat: Seq[Event => Boolean] = Seq(
      _.event_type == "view", _.event_type == "click", _.event_type == "purchase")
    val (feed, drain, stop) = harness(Cep.matchPattern(_, pat), "t_cep", mode = "append")
    feed(Seq(ev(1, 10, 3, "view", 0), ev(2, 20, 3, "click", 0)))
    assert(drain().isEmpty) // partial match held in state
    feed(Seq(ev(3, 30, 3, "purchase", 0)))
    assert(drain().map(_.ids) === Seq(Seq(1L, 2L, 3L)))
    feed(Seq(ev(4, 40, 3, "view", 0))) // no new match
    assert(drain().isEmpty)
    stop()
  }

  test("relaxed CEP skips non-matching events and expires partials by within-window") {
    val pat: Seq[Event => Boolean] = Seq(
      _.event_type == "view", _.event_type == "click", _.event_type == "purchase")
    val (feed, drain, stop) = harness(
      Cep.matchRelaxed(_, pat, withinMs = 60L * 60000), "t_cep_rel") // within 60 min
    // view .. (error skipped) .. click in batch 1; purchase in batch 2
    feed(Seq(ev(1, 0, 4, "view", 0), ev(2, 5, 4, "error", 0), ev(3, 10, 4, "click", 0)))
    assert(drain().isEmpty)
    feed(Seq(ev(4, 20, 4, "purchase", 0)))
    assert(drain().map(_.ids) === Seq(Seq(1L, 3L, 4L)))
    // a new view whose window expires before the purchase arrives
    feed(Seq(ev(5, 30, 4, "view", 0), ev(6, 40, 4, "click", 0)))
    assert(drain().isEmpty)
    feed(Seq(ev(7, 100, 4, "purchase", 0))) // 70 min after view 5 → expired
    assert(drain().isEmpty)
    stop()
  }

  test("semi join emits buffered probes once the build side appears") {
    import graft.streaming.StreamJoins
    val (feed, drain, stop) = harness(StreamJoins.semiJoin(_, "purchase", "view"), "t_semi", "append")
    feed(Seq(ev(1, 10, 5, "purchase", 0))) // probe before any build
    assert(drain().isEmpty)
    feed(Seq(ev(2, 20, 5, "view", 0))) // build arrives → flush buffered probe
    assert(drain().map(_.p_id) === Seq(1))
    feed(Seq(ev(3, 30, 5, "purchase", 0))) // probe after build → immediate
    assert(drain().map(_.p_id) === Seq(3))
    stop()
  }

  test("anti join retracts earlier emissions when a build row arrives") {
    import graft.streaming.StreamJoins
    val (feed, drain, stop) = harness(StreamJoins.antiJoin(_, "purchase", "view"), "t_anti")
    feed(Seq(ev(1, 10, 6, "purchase", 0)))
    assert(drain().map(a => (a.p_id, a.rowkind)) === Seq((1L, "+I")))
    feed(Seq(ev(2, 20, 6, "view", 0))) // invalidates the earlier emission
    assert(drain().map(a => (a.p_id, a.rowkind)) === Seq((1L, "-D")))
    feed(Seq(ev(3, 30, 6, "purchase", 0))) // build already seen → nothing
    assert(drain().isEmpty)
    stop()
  }

  test("count window fires exactly on the n-th row, never partially") {
    import graft.streaming.StreamJoins
    val (feed, drain, stop) = harness(StreamJoins.countTumbling(_, 3), "t_cntwin", "append")
    feed(Seq(ev(1, 10, 8, "view", 1.0), ev(2, 20, 8, "view", 2.0)))
    assert(drain().isEmpty) // 2 of 3 buffered
    feed(Seq(ev(3, 30, 8, "view", 3.0), ev(4, 40, 8, "view", 4.0)))
    val wins = drain()
    assert(wins.map(w => (w.win_id, w.cnt, w.sum_value)) === Seq((0L, 3L, 6.0)))
    stop()
  }

  test("matchRecognize quantifiers: greedy takes the last B in the run, reluctant the first") {
    val a: Event => Boolean = _.event_type != "error"
    val b: Event => Boolean = _.event_type == "purchase"
    for ((greedy, name, expectB) <- Seq((true, "t_mr_greedy", 5L), (false, "t_mr_rel", 3L))) {
      val (feed, drain, stop) = harness[Cep.Match](ds =>
        Cep.matchRecognize(ds.withWatermark("ts", "0 seconds"),
          Seq(Cep.QStep.oneOrMore(a, greedy), Cep.QStep.once(b)),
          skipPastLastRow = false, quiesceMs = 60L * 60000), name, "append")
      // batch 1 ends mid-run: A+ could still extend, nothing may emit yet
      feed(Seq(ev(1, 10, 5, "view", 0), ev(2, 11, 5, "view", 0), ev(3, 12, 5, "purchase", 0)))
      assert(drain().isEmpty, s"$name emitted before the run was decided")
      // batch 2 closes the run with an error; matches decide without timeout
      feed(Seq(ev(4, 13, 5, "click", 0), ev(5, 14, 5, "purchase", 0), ev(6, 15, 5, "error", 0)))
      val m = drain().sortBy(_.ids.head)
      // starts 1..4 all match; greedy binds B to the LAST purchase (5),
      // reluctant to the FIRST reachable one (3 for starts 1-2, 5 after)
      assert(m.map(_.ids.head) === Seq(1L, 2L, 3L, 4L), s"$name starts: $m")
      assert(m.head.ids.last === expectB, s"$name bound B to ${m.head.ids.last}")
      if (greedy) assert(m.map(_.ids) === Seq(
        Seq(1L, 2L, 3L, 4L, 5L), Seq(2L, 3L, 4L, 5L), Seq(3L, 4L, 5L), Seq(4L, 5L)))
      else assert(m.map(_.ids) === Seq(
        Seq(1L, 2L, 3L), Seq(2L, 3L), Seq(3L, 4L, 5L), Seq(4L, 5L)))
      stop()
    }
  }

  test("matchRecognize skip-past-last-row pairs a view run without overlap; quiesce flushes the tail") {
    val v: Event => Boolean = _.event_type == "view"
    val (feed, drain, stop) = harness[Cep.Match](ds =>
      Cep.matchRecognize(ds.withWatermark("ts", "0 seconds"),
        Seq(Cep.QStep.once(v), Cep.QStep.once(v)), skipPastLastRow = true,
        quiesceMs = 60L * 60000), "t_mr_skip", "append")
    // run of 5 views: non-overlapping pairs (1,2) and (3,4); 5 stays pending
    feed(Seq(ev(1, 10, 5, "view", 0), ev(2, 11, 5, "view", 0), ev(3, 12, 5, "view", 0),
      ev(4, 13, 5, "view", 0), ev(5, 14, 5, "view", 0)))
    assert(drain().map(_.ids) === Seq(Seq(1L, 2L), Seq(3L, 4L)))
    // another user's far-future event drives the watermark past key 5's
    // quiesce horizon -> its pending single view finalizes to no-match
    feed(Seq(ev(99, 10000, 9, "view", 0)))
    assert(drain().isEmpty)
    // a fresh pair for user 5 after the flush starts a clean buffer
    feed(Seq(ev(6, 10001, 5, "view", 0), ev(7, 10002, 5, "view", 0), ev(8, 10003, 5, "error", 0)))
    assert(drain().map(_.ids) === Seq(Seq(6L, 7L)))
    stop()
  }

  test("upsert sink applies +I/+U and -D across batches") {
    import graft.streaming.{StatefulOps, UpsertSink}
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[StatefulOps.Change]
    // batch 1: insert keys 1, 2
    input.addData(Seq(StatefulOps.Change(1, 10, "+I"), StatefulOps.Change(2, 20, "+I")))
    // run to completion in two phases using the same target name is not
    // supported by runUpsert (it drains fully); feed everything, including
    // an update and a delete, and assert the final merged table
    input.addData(Seq(
      StatefulOps.Change(1, 10, "-U"), StatefulOps.Change(1, 11, "+U"),
      StatefulOps.Change(2, 20, "-D")))
    val out = UpsertSink.runUpsert(spark, input.toDS().toDF(), "t_upsert")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(1L -> 11L)) // key 1 updated to 11, key 2 deleted
  }

  test("left outer join pads, retracts on first build, pairs eagerly after") {
    import graft.streaming.StreamJoins
    val (feed, drain, stop) = harness(
      StreamJoins.leftOuterJoin(_, "purchase", "view"), "t_outer")
    feed(Seq(ev(1, 10, 7, "purchase", 0)))
    assert(drain().map(o => (o.p_id, o.v_id, o.rowkind)) === Seq((1L, None, "+I")))
    feed(Seq(ev(2, 20, 7, "view", 0))) // retract the pad, emit the pair
    assert(drain().map(o => (o.p_id, o.v_id, o.rowkind)) ===
      Seq((1L, None, "-D"), (1L, Some(2L), "+I")))
    feed(Seq(ev(3, 30, 7, "purchase", 0))) // pairs directly, no pad
    assert(drain().map(o => (o.p_id, o.v_id, o.rowkind)) === Seq((3L, Some(2L), "+I")))
    stop()
  }

  test("sortedEvents upgrades runningAgg to out-of-order safety (flagged composition)") {
    // Chained stateful operators trip Spark's global-watermark correctness
    // heuristic (the sorter intentionally emits rows AT the watermark).
    // The downstream op is watermark-agnostic (NoTimeout, no event-time
    // filter), so the sanctioned escape hatch is safe here.
    // out-of-order multi-batch feed: batch 2 delivers an EARLIER row than
    // batch 1's within the sort delay; the composed pipeline must produce
    // the same running sums as an in-order feed
    val composed: Dataset[Event] => Dataset[StatefulOps.Running] =
      ds => StatefulOps.runningAgg(StatefulOps.sortedEvents(ds, "10 minutes"))
    val (feed, drain, stop) = GraftSession.withConf(spark, "spark.sql.streaming.statefulOperator.checkCorrectness.enabled" -> "false") {
      harness(composed, "t_ooo_run", "append")
    }
    feed(Seq(ev(2, 12, 7, "view", 2.0)))
    feed(Seq(ev(1, 10, 7, "view", 1.0))) // earlier than event 2, later batch
    assert(drain().isEmpty) // watermark (12:00-10min) passed neither row
    // advance the watermark beyond both rows (other key, far future)
    feed(Seq(ev(99, 100, 9, "view", 0.0)))
    val out = drain().filter(_.user_id == 7L)
    // event-time order restored: event 1 first (sum 1), then event 2 (sum 3)
    assert(out.map(r => (r.event_id, r.run_cnt, r.run_sum)) ===
      Seq((1L, 1L, 1.0), (2L, 2L, 3.0)))
    stop()
  }

  test("sortedEvents + matchRecognize matches an out-of-order-fed pattern in event-time order") {
    import graft.streaming.Cep
    val v: Event => Boolean = _.event_type == "view"
    val p: Event => Boolean = _.event_type == "purchase"
    // the Ordered variant: no re-watermark after the sorter (re-tagging ts
    // would make the engine drop the sorter's releases as late rows)
    val composed: Dataset[Event] => Dataset[Cep.Match] = ds =>
      Cep.matchRecognizeOrdered(
        StatefulOps.sortedEvents(ds, "10 minutes"),
        Seq(Cep.QStep.once(v), Cep.QStep.once(p)), skipPastLastRow = false)
    val (feed, drain, stop) = GraftSession.withConf(spark, "spark.sql.streaming.statefulOperator.checkCorrectness.enabled" -> "false") {
      harness(composed, "t_ooo_cep", "append")
    }
    // arrival order purchase-then-view; event-time order view(1) purchase(2)
    feed(Seq(ev(2, 12, 7, "purchase", 0)))
    feed(Seq(ev(1, 10, 7, "view", 0)))
    feed(Seq(ev(99, 100, 9, "view", 0.0))) // watermark past both + quiesce
    val m = drain().filter(_.user_id == 7L)
    assert(m.map(_.ids) === Seq(Seq(1L, 2L)))
    stop()
  }

  test("keepLastWithTtl drops idle keys' state after the retention horizon") {
    // The observable is STATE SIZE: once the watermark passes a key's
    // idle horizon its state row is removed (numRowsTotal shrinks). For
    // non-late input this never changes results — rows older than the
    // horizon are engine-dropped anyway, which is exactly why idle-state
    // retention is safe (ref StateTtlConfig semantics).
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = StatefulOps.keepLastWithTtl(
        input.toDS().withWatermark("ts", "0 seconds"), ttlMs = 10L * 60000)
      .writeStream.format("memory").queryName("t_ttl").outputMode("update")
      .option("checkpointLocation", checkpointPath("test-ttl"))
      .start()
    def stateRows: Long = {
      val p = q.lastProgress
      if (p == null) 0L else p.stateOperators(0).numRowsTotal
    }
    input.addData(Seq(ev(1, 100, 5, "view", 1.0), ev(2, 100, 9, "view", 2.0)))
    q.processAllAvailable()
    assert(stateRows === 2L)
    // within TTL: an older row for key 5 is suppressed, state intact
    input.addData(Seq(ev(3, 95, 5, "view", 3.0)))
    q.processAllAvailable()
    assert(stateRows === 2L)
    // key 9's far-future row pushes the watermark past key 5's idle
    // horizon (100 + 10min): key 5's state must be dropped, key 9 stays
    input.addData(Seq(ev(99, 1000, 9, "view", 0.0)))
    q.processAllAvailable()
    input.addData(Seq(ev(100, 1001, 9, "view", 0.0))) // nudge a batch for the timeout
    q.processAllAvailable()
    assert(stateRows === 1L, "idle key's state not dropped after TTL")
    q.stop()
  }

  test("temporalSort holds rows until watermark passes, then emits in order") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = StatefulOps.temporalSort(input.toDS()).writeStream
      .format("memory").queryName("t_tsort").outputMode("append")
      .option("checkpointLocation", checkpointPath("test-tsort"))
      .start()
    // out-of-order batch; watermark still at -inf → everything buffered
    input.addData(Seq(ev(2, 20, 1, "view", 0), ev(1, 10, 1, "view", 0)))
    q.processAllAvailable()
    assert(spark.table("t_tsort").count() === 0)
    // sentinel far in the future advances watermark past both rows
    input.addData(Seq(ev(99, 600, 1, "view", 0)))
    q.processAllAvailable()
    input.addData(Seq(ev(100, 601, 1, "view", 0))) // trigger timeout processing
    q.processAllAvailable()
    val got = spark.table("t_tsort").as[StatefulOps.SortedOut]
      .collect().toSeq.filter(_.event_id < 99)
    assert(got.map(_.event_id) === Seq(1L, 2L)) // emitted in event-time order
    q.stop()
  }
}
