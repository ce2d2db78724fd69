package graft

import java.sql.Timestamp

import graft.streaming.StatefulOps
import graft.streaming.StreamSource.Event
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Event-time semantics of the BUILT-IN streaming operators the engine
  * relies on (SURVEY.md M3 late-data policy; §2.5 early firing; §1.4 state
  * backends / exactly-once): watermark-driven late-data dropping, per-batch
  * early emission in update mode, the RocksDB state store provider, and
  * state recovery from a checkpoint after query restart. */
class StreamingSemanticsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(min: Int): Timestamp = new Timestamp(1700000000000L + min * 60000L)
  private def ev(id: Long, min: Int, user: Long, typ: String, v: Double): Event =
    Event(id, ts(min), user, typ, v)

  test("watermarked window agg drops data later than the watermark delay") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val agg = input.toDS().toDF()
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("w.start").as("w_start"), col("cnt"))
    val q = agg.writeStream.format("memory").queryName("t_late")
      .outputMode("append")
      .option("checkpointLocation", checkpointPath("t-late"))
      .start()
    input.addData(Seq(ev(1, 5, 1, "view", 0), ev(2, 25, 1, "view", 0)))
    q.processAllAvailable() // watermark → 25 - 10 = 15
    input.addData(Seq(ev(3, 100, 1, "view", 0)))
    q.processAllAvailable() // watermark → 90; window [0,30) closes and emits
    // this row belongs to window [0,30) which is already finalized → dropped
    input.addData(Seq(ev(4, 8, 1, "view", 0)))
    q.processAllAvailable()
    input.addData(Seq(ev(5, 200, 1, "view", 0)))
    q.processAllAvailable()
    val counts = spark.table("t_late").collect()
      .map(r => r.getTimestamp(0).getTime -> r.getLong(1)).toMap
    // event 4 (min 8) falls in the same epoch-aligned window as event 1
    // (min 5), but that window was finalized before it arrived — append
    // mode emitted cnt=1 and the late row was dropped, never re-emitted
    val w0 = ts(5).getTime / 1800000L * 1800000L
    assert(ts(8).getTime / 1800000L * 1800000L === w0) // same window
    assert(counts(w0) === 1L)
    q.stop()
  }

  test("update-mode window agg fires early, then refines (early-fire trigger)") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val agg = input.toDS().toDF()
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "60 minutes").as("w"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("w.start").as("w_start"), col("cnt"))
    val q = agg.writeStream.format("memory").queryName("t_early")
      .outputMode("update")
      .option("checkpointLocation", checkpointPath("t-early"))
      .start()
    input.addData(Seq(ev(1, 5, 1, "view", 0)))
    q.processAllAvailable()
    input.addData(Seq(ev(2, 15, 1, "view", 0)))
    q.processAllAvailable()
    val emissions = spark.table("t_early").collect().map(_.getLong(1)).toSeq
    // same window emitted twice: partial cnt=1 then refined cnt=2
    assert(emissions === Seq(1L, 2L))
    q.stop()
  }

  test("stateful op runs on the RocksDB state store provider") {
    GraftSession.withConf(spark, "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
      implicit val sqlCtx = spark.sqlContext
      val input = MemoryStream[Event]
      val q = StatefulOps.keepLast(input.toDS()).writeStream
        .format("memory").queryName("t_rocks").outputMode("append")
        .option("checkpointLocation", checkpointPath("t-rocks"))
        .start()
      input.addData(Seq(ev(1, 10, 3, "view", 1.0), ev(2, 20, 3, "click", 2.0)))
      q.processAllAvailable()
      input.addData(Seq(ev(3, 30, 3, "purchase", 3.0)))
      q.processAllAvailable()
      val got = spark.table("t_rocks").as[Event].collect().map(_.event_id).toSeq
      assert(got === Seq(2L, 3L)) // state carried across batches under RocksDB
      q.stop()
    }
  }

  test("sortedEvents packed state round-trips every field across batches " +
      "(ids/micros/values/dict arrays — the r17 state repack)") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val out = StatefulOps.sortedEvents(input.toDS(), "10 minutes")
    val q = out.writeStream.format("memory").queryName("t_sorted_pack")
      .outputMode("append")
      .option("checkpointLocation", checkpointPath("t-pack"))
      .start()
    // same-MILLISECOND events differing only in micros: the packed state
    // stores event time as long micros and must keep full precision (the
    // old List[Event] state kept the Timestamp object)
    def tsMicros(min: Int, micro: Int): Timestamp = {
      val t = new Timestamp(1700000000000L + min * 60000L)
      t.setNanos(micro * 1000)
      t
    }
    // batch 1: late-buffered rows for two keys, three event types (the
    // per-key dict must rebuild identical strings across batches)
    input.addData(Seq(
      Event(11L, tsMicros(30, 500), 1L, "view", 1.5),
      Event(12L, tsMicros(30, 200), 1L, "click", 2.5),
      Event(21L, tsMicros(31, 0), 2L, "purchase", 3.25)))
    q.processAllAvailable() // watermark still behind: everything held
    // batch 2: more rows, one new type; still held
    input.addData(Seq(Event(13L, tsMicros(32, 0), 1L, "error", -1.0)))
    q.processAllAvailable()
    // batch 3: far-future row advances the watermark past all held rows
    input.addData(Seq(Event(99L, tsMicros(600, 0), 1L, "view", 0.0)))
    q.processAllAvailable()
    input.addData(Seq(Event(100L, tsMicros(601, 0), 1L, "view", 0.0)))
    q.processAllAvailable()
    val got = spark.table("t_sorted_pack").as[Event].collect()
      .filter(_.event_id < 99)
    // key 1 in (micros, id) order: 12 (…200µs) BEFORE 11 (…500µs) despite
    // 11 arriving first and both sharing the millisecond
    def mic(t: Timestamp): Long = (t.getTime / 1000L) * 1000000L + t.getNanos / 1000L
    val k1 = got.filter(_.user_id == 1L).map(e =>
      (e.event_id, mic(e.ts), e.event_type, e.value)).toSeq
    assert(k1 === Seq(
      (12L, 1700000000000000L + 30 * 60000000L + 200L, "click", 2.5),
      (11L, 1700000000000000L + 30 * 60000000L + 500L, "view", 1.5),
      (13L, 1700000000000000L + 32 * 60000000L, "error", -1.0)))
    val k2 = got.filter(_.user_id == 2L).map(e =>
      (e.event_id, e.event_type, e.value)).toSeq
    assert(k2 === Seq((21L, "purchase", 3.25)))
    q.stop()
  }

  test("sortedEvents + runningAgg: out-of-order input, correct event-time totals") {
    implicit val sqlCtx = spark.sqlContext
    // the reorderer intentionally emits rows older than the global
    // watermark (they were buffered); the downstream fMGWS is
    // watermark-agnostic (NoTimeout), so Spark's conservative
    // cross-operator check is a false positive here — documented override
    val input = MemoryStream[Event]
    // two chained stateful operators in one query: reorder, then aggregate
    val out = StatefulOps.runningAgg(StatefulOps.sortedEvents(input.toDS()))
    val q = GraftSession.withConf(spark, "spark.sql.streaming.statefulOperator.checkCorrectness.enabled" -> "false") {
      out.writeStream.format("memory").queryName("t_sorted_agg")
        .outputMode("append")
        .option("checkpointLocation", checkpointPath("t-sorted"))
        .start()
    }
    // event 2 arrives a batch BEFORE event 1 (cross-batch disorder that
    // plain runningAgg would mis-order)
    input.addData(Seq(ev(2, 20, 1, "view", 2.0)))
    q.processAllAvailable() // watermark → 10; event 1 must stay ABOVE it
    input.addData(Seq(ev(1, 15, 1, "view", 1.0)))
    q.processAllAvailable()
    // advance watermark past both, then trigger timeout processing
    input.addData(Seq(ev(99, 600, 1, "view", 0.0)))
    q.processAllAvailable()
    input.addData(Seq(ev(100, 601, 1, "view", 0.0)))
    q.processAllAvailable()
    val got = spark.table("t_sorted_agg").as[StatefulOps.Running]
      .collect().filter(_.event_id < 99).sortBy(_.run_cnt)
    // event 1 (t=15) counted before event 2 (t=20) despite arrival order
    assert(got.map(r => (r.event_id, r.run_cnt, r.run_sum)).toSeq ===
      Seq((1L, 1L, 1.0), (2L, 2L, 3.0)))
    q.stop()
  }

  test("an idle source does not stall the watermark (no idleness markers needed)") {
    // Flink's watermark is the MIN across source partitions, so one idle
    // partition stalls every downstream timer unless WatermarksWithIdleness
    // marks it idle (flink-core/.../eventtime/WatermarksWithIdleness.java).
    // Spark's watermark is global max-event-time-seen minus delay, so an
    // idle source in a union CANNOT hold the query back — the semantic
    // difference SURVEY §1.4 accepts, pinned here: windows close on the
    // active source's progress alone.
    implicit val sqlCtx = spark.sqlContext
    val active = MemoryStream[Event]
    val idle = MemoryStream[Event] // never receives a row
    val agg = active.toDS().union(idle.toDS()).toDF()
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("w.start").as("w_start"), col("cnt"))
    val q = agg.writeStream.format("memory").queryName("t_idle")
      .outputMode("append")
      .option("checkpointLocation", checkpointPath("t-idle"))
      .start()
    active.addData(Seq(ev(1, 5, 1, "view", 0), ev(2, 25, 1, "view", 0)))
    q.processAllAvailable()
    active.addData(Seq(ev(3, 100, 1, "view", 0))) // watermark → min 90
    q.processAllAvailable()
    // the early windows closed and emitted despite the idle source (the
    // two events straddle an epoch-aligned 30-min boundary → two windows)
    val closed = spark.table("t_idle").collect().map(r => r.getLong(1)).toSeq
    assert(closed.sum === 2L && closed.nonEmpty,
      s"idle source stalled the watermark: $closed")
    q.stop()
  }

  test("side outputs: one pass fans out to main and error sinks via foreachBatch") {
    implicit val sqlCtx = spark.sqlContext
    val main = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val side = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val input = MemoryStream[Event]
    // the OutputTag pattern: ONE streaming pass, the batch is split inside
    // foreachBatch (persist avoids a double source scan in production)
    val q = input.toDS().writeStream
      .option("checkpointLocation", checkpointPath("t-side"))
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Event], _: Long) =>
        batch.persist()
        batch.filter(_.event_type != "error").collect().foreach(e => main.add(e.event_id))
        batch.filter(_.event_type == "error").collect().foreach(e => side.add(e.event_id))
        batch.unpersist()
        ()
      }.start()
    input.addData(Seq(ev(1, 1, 1, "view", 0), ev(2, 2, 1, "error", 0), ev(3, 3, 1, "click", 0)))
    q.processAllAvailable()
    assert(main.toArray.toSeq.map(_.asInstanceOf[Long]).sorted === Seq(1L, 3L))
    assert(side.toArray.toSeq.map(_.asInstanceOf[Long]) === Seq(2L))
    q.stop()
  }

  test("broadcast state pattern: rule updates are visible to subsequent batches") {
    // ref DataStream.broadcast(MapStateDescriptor) + BroadcastProcessFunction:
    // a low-volume rules stream replicated to every task, matched against
    // the event stream with the rules CURRENT at processing time. Spark
    // mapping (SURVEY §2.9): re-read + broadcast the rules table inside
    // foreachBatch — each micro-batch joins against the rules as of that
    // batch, so a rule update between batches changes subsequent matches
    // only (exactly the reference's processBroadcastElement ordering).
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.broadcast
    @volatile var rules: Seq[(String, Double)] = Seq("click" -> 1.0)
    val matched = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Double)]()
    val input = MemoryStream[Event]
    val q = input.toDS().writeStream
      .option("checkpointLocation", checkpointPath("t-bcast"))
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Event], _: Long) =>
        val r = spark.createDataFrame(rules).toDF("event_type", "w")
        batch.toDF().join(broadcast(r), "event_type")
          .select("event_id", "w").collect()
          .foreach(row => matched.add((row.getLong(0), row.getDouble(1))))
        ()
      }.start()
    input.addData(Seq(ev(1, 1, 1, "click", 0), ev(2, 2, 1, "view", 0)))
    q.processAllAvailable()
    rules = Seq("click" -> 2.0, "view" -> 5.0) // broadcast-side update
    input.addData(Seq(ev(3, 3, 1, "click", 0), ev(4, 4, 1, "view", 0)))
    q.processAllAvailable()
    q.stop()
    val got = matched.toArray.map(_.asInstanceOf[(Long, Double)]).toSeq.sorted
    assert(got === Seq((1L, 1.0), (3L, 2.0), (4L, 5.0)),
      s"batch-1 must see old rules, batch-2 the update: $got")
  }

  test("state survives query restart from the same checkpoint (exactly-once recovery)") {
    implicit val sqlCtx = spark.sqlContext
    val ckpt = checkpointPath("t-recover")
    val emitted = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    def start(input: MemoryStream[Event]) =
      StatefulOps.keepLast(input.toDS()).writeStream
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[Event], _: Long) =>
          batch.collect().foreach(e => emitted.add(e.event_id)); ()
        }
        .start()
    val input = MemoryStream[Event]
    val q1 = start(input)
    input.addData(Seq(ev(1, 50, 9, "view", 1.0)))
    q1.processAllAvailable()
    q1.stop()
    assert(emitted.toArray.toSeq === Seq(1L))
    // restart against the SAME checkpoint and source; feed an OLDER row —
    // recovered state (event 1 @ min 50) must still win
    val q2 = start(input)
    input.addData(Seq(ev(2, 40, 9, "view", 2.0)))
    q2.processAllAvailable()
    assert(!emitted.contains(2L),
      "older row should be suppressed by state recovered from checkpoint")
    input.addData(Seq(ev(3, 60, 9, "view", 3.0)))
    q2.processAllAvailable()
    assert(emitted.contains(3L))
    q2.stop()
  }

  test("streaming iterate: feedback edge loops each element its own number of supersteps") {
    // DataStream.iterate() semantics: element with n steps left re-enters
    // the operator n times, then takes the exit branch; the loop ends when
    // the feedback stream runs dry (StreamIterate scaladoc).
    import spark.implicits._
    val seed = Seq((10L, 1L), (11L, 4L), (12L, 7L)).toDF("id", "steps_left")
    val out = graft.streaming.StreamIterate
      .iterate(spark, seed, s"/tmp/graft-iterate/spec-${System.nanoTime()}")
      .select("id", "steps_left", "steps_done")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    // every element exits exactly once, at zero, having done its own count
    assert(out === Seq((10L, 0L, 1L), (11L, 0L, 4L), (12L, 0L, 7L)))
  }
}
