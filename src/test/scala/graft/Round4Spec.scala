package graft

import java.sql.Timestamp

import graft.streaming.{StatefulOps, StreamJoins, WindowExtras}
import graft.streaming.StreamSource.Event
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Multi-batch semantics of the round-4 operators — the behaviors the
  * sf0.01 oracle queries can't isolate: min/max recovery under retraction,
  * the full-outer null-pad retract/repair transition, proc-time
  * first-ARRIVAL-wins on out-of-order input, and delta eviction at fire
  * time. */
class Round4Spec extends SparkSpec {
  import spark.implicits._

  private def ts(min: Int): Timestamp = new Timestamp(1700000000000L + min * 60000L)
  private def ev(id: Long, min: Int, user: Long, typ: String, v: Double): Event =
    Event(id, ts(min), user, typ, v)

  test("retractableAgg: min/max recover when the current extreme is retracted") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val out = StatefulOps.retractableAgg(StatefulOps.valueChangelog(input.toDS()))
    val q = GraftSession.withConf(spark, "spark.sql.streaming.statefulOperator.checkCorrectness.enabled" -> "false") {
      out.toDF().writeStream.format("memory").queryName("t_retract_agg")
        .outputMode("append")
        .option("checkpointLocation", checkpointPath("t-ragg"))
        .start()
    }
    // user 1 latest = 5.0 (A, the group min), user 2 latest = 7.0 (A)
    input.addData(Seq(ev(1, 10, 1, "A", 5.0), ev(3, 10, 2, "A", 7.0)))
    q.processAllAvailable()
    // user 1's latest becomes 9.0: -U retracts the CURRENT MIN (5.0);
    // min must recover to 7.0 through the multiset, not stick at 5.0
    input.addData(Seq(ev(2, 20, 1, "A", 9.0)))
    q.processAllAvailable()
    // user 1 moves to group B: A loses 9.0 entirely (cnt 2 -> 1)
    input.addData(Seq(ev(4, 30, 1, "B", 1.0)))
    q.processAllAvailable()
    val rows = spark.table("t_retract_agg").as[StatefulOps.RetractAggOut].collect()
    val last = rows.groupBy(_.event_type).map { case (k, v) => k -> v.maxBy(_.ver) }
    assert(last("A").cnt === 1L)
    assert(last("A").sum_value === 7.0)
    assert(last("A").min_value === 7.0)
    assert(last("A").max_value === 7.0)
    assert(last("B") .cnt === 1L)
    assert(last("B").min_value === 1.0)
    // and the intermediate batch-2 state saw the min recover 5.0 -> 7.0
    val aAfterB2 = rows.filter(r => r.event_type == "A" && r.cnt == 2).maxBy(_.ver)
    assert(aAfterB2.min_value === 7.0 && aAfterB2.max_value === 9.0)
    q.stop()
  }

  test("outerJoinChangelog FULL: both sides null-pad, first opposite row retracts") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val out = StreamJoins.outerJoinChangelog(input.toDS(),
      _.event_type == "P", _.event_type == "V", padLeft = true, padRight = true)
    val q = out.toDF().writeStream.format("memory").queryName("t_full_outer")
      .outputMode("update")
      .option("checkpointLocation", checkpointPath("t-fo"))
      .start()
    // unmatched left (user 1) and unmatched right (user 2) both emit padded
    input.addData(Seq(ev(1, 10, 1, "P", 0), ev(2, 10, 2, "V", 0)))
    q.processAllAvailable()
    // first right row for user 1: retract (1, NULL), emit (1, 3)
    input.addData(Seq(ev(3, 20, 1, "V", 0)))
    q.processAllAvailable()
    val rows = spark.table("t_full_outer").as[StreamJoins.FullOuterOut].collect().toSeq
    assert(rows.contains(StreamJoins.FullOuterOut(1L, Some(1L), None, "+I")))
    assert(rows.contains(StreamJoins.FullOuterOut(2L, None, Some(2L), "+I")))
    assert(rows.contains(StreamJoins.FullOuterOut(1L, Some(1L), None, "-D")))
    assert(rows.contains(StreamJoins.FullOuterOut(1L, Some(1L), Some(3L), "+I")))
    // folded: exactly the batch FULL JOIN
    val net = rows.groupBy(r => (r.user_id, r.l_id, r.r_id))
      .map { case (k, v) => k -> (v.count(_.rowkind == "+I") - v.count(_.rowkind == "-D")) }
      .filter(_._2 > 0).keys.toSet
    assert(net === Set((1L, Some(1L), Some(3L)), (2L, None, Some(2L))))
    q.stop()
  }

  test("procTimeDedupKeepFirst: first ARRIVAL wins over earlier event time") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = StatefulOps.procTimeDedupKeepFirst(input.toDS())
      .toDF().writeStream.format("memory").queryName("t_pt_dedup")
      .outputMode("append")
      .option("checkpointLocation", checkpointPath("t-ptd"))
      .start()
    input.addData(Seq(ev(5, 50, 1, "view", 0)))
    q.processAllAvailable()
    // arrives later but has an EARLIER event time: event-time keep-first
    // would pick it; proc-time must keep id 5
    input.addData(Seq(ev(3, 10, 1, "view", 0)))
    q.processAllAvailable()
    val got = spark.table("t_pt_dedup").as[Event].collect().map(_.event_id).toSeq
    assert(got === Seq(5L))
    q.stop()
  }

  test("tumbleDeltaEvictor: rows far from the window's last value are evicted") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val out = WindowExtras.tumbleDeltaEvictor(
      input.toDS().withWatermark("ts", "1 minute"), 86400L * 1000000, 40.0)
    val q = out.toDF().writeStream.format("memory").queryName("t_delta_ev")
      .outputMode("update")
      .option("checkpointLocation", checkpointPath("t-dev"))
      .start()
    // one day-window for user 7; last value 55 → |10-55|=45 and |100-55|=45
    // are >= 40 (evicted), 60 and 55 survive
    input.addData(Seq(ev(1, 10, 7, "view", 10.0), ev(2, 20, 7, "view", 100.0),
      ev(3, 30, 7, "view", 60.0), ev(4, 40, 7, "view", 55.0)))
    q.processAllAvailable()
    // push the watermark two days ahead so the window fires
    input.addData(Seq(ev(9, 3000, 8, "view", 0.0)))
    q.processAllAvailable()
    input.addData(Seq(ev(10, 3001, 8, "view", 0.0)))
    q.processAllAvailable()
    val rows = spark.table("t_delta_ev").as[WindowExtras.EvictWinOut]
      .collect().filter(_.user_id == 7L)
    assert(rows.length === 1)
    assert(rows.head.cnt === 2L)
    assert(rows.head.sum_value === 115.0)
    q.stop()
  }
}
