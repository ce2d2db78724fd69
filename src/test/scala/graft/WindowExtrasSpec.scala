package graft

import java.sql.Timestamp

import graft.streaming.StreamSource.Event
import graft.streaming.WindowExtras
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

/** Multi-batch semantics of the window extras: allowed-lateness refire +
  * late side output, count evictor, count-sliding windows (the behaviors a
  * single-batch drain cannot exercise; Flink analog
  * WindowOperatorTest/EvictingWindowOperatorTest). */
class WindowExtrasSpec extends SparkSpec {
  import spark.implicits._

  private val HourUs = 3600L * 1000000
  private def ts(min: Int): Timestamp = new Timestamp(min * 60000L)
  private def ev(id: Long, min: Int, user: Long, typ: String, v: Double): Event =
    Event(id, ts(min), user, typ, v)

  private def harness[T](op: Dataset[Event] => Dataset[T], name: String,
      delay: String = "0 seconds", mode: String = "update")(
      implicit enc: org.apache.spark.sql.Encoder[T])
      : (Seq[Event] => Unit, () => Seq[T], () => Unit) = {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q: StreamingQuery = op(input.toDS().withWatermark("ts", delay))
      .writeStream.format("memory").queryName(name).outputMode(mode)
      .option("checkpointLocation", checkpointPath(s"test-$name"))
      .start()
    var seen = 0
    ( (rows: Seq[Event]) => { input.addData(rows); () },
      () => { q.processAllAvailable()
        val all = spark.table(name).as[T].collect().toSeq
        val fresh = all.drop(seen); seen = all.size; fresh },
      () => q.stop() )
  }

  test("allowed lateness: fire at watermark, refire on late row, side-output beyond horizon") {
    // watermark delay 5h = lateness 1h + slack: rows later than the
    // lateness but within the slack still reach the side output
    val (feed, drain, stop) = harness(
      WindowExtras.tumbleLateness(_, HourUs, HourUs), "t_late", delay = "5 hours")
    // window [00:00, 01:00): two on-time rows; watermark still behind end
    feed(Seq(ev(1, 10, 7, "view", 1.0), ev(2, 20, 7, "view", 2.0)))
    assert(drain().isEmpty)
    // row at 01:30 pushes the watermark past 01:00 -> primary firing
    feed(Seq(ev(3, 90, 7, "view", 8.0)))
    assert(drain().map(o => (o.kind, o.cnt, o.sum_value)) === Seq(("fire", 2L, 3.0)))
    // late row at 00:50 is within end+lateness (02:00) -> refire updated
    feed(Seq(ev(4, 50, 7, "view", 3.0)))
    assert(drain().map(o => (o.kind, o.cnt, o.sum_value)) === Seq(("refire", 3L, 6.0)))
    // advance the watermark far past the lateness horizon
    feed(Seq(ev(5, 300, 7, "view", 0.5)))
    val fires = drain()
    // window [01:00,02:00) (row 3) fires; window 0's state purged silently
    assert(fires.map(o => (o.kind, o.cnt, o.sum_value)) === Seq(("fire", 1L, 8.0)))
    // now a very late row for window 0 -> side output record, no refire
    feed(Seq(ev(6, 55, 7, "view", 9.0)))
    assert(drain().map(o => (o.kind, o.cnt, o.sum_value)) === Seq(("late", 1L, 9.0)))
    stop()
  }

  test("count evictor keeps only the last N rows of the window") {
    val (feed, drain, stop) = harness(
      WindowExtras.tumbleCountEvictor(_, HourUs, 2), "t_evict")
    feed(Seq(ev(1, 5, 7, "view", 1.0), ev(2, 10, 7, "view", 2.0), ev(3, 15, 7, "view", 4.0)))
    assert(drain().isEmpty) // window still open
    feed(Seq(ev(9, 200, 9, "view", 0.0))) // other key advances the watermark
    val out = drain().filter(_.user_id == 7L)
    assert(out.map(o => (o.cnt, o.sum_value)) === Seq((2L, 6.0))) // rows 2+4 kept
    stop()
  }

  test("count-sliding windows fire on every slide boundary with the last n rows") {
    val (feed, drain, stop) = harness(
      WindowExtras.countSliding(_, 4, 2), "t_cntslide", mode = "append")
    feed(Seq(ev(1, 1, 7, "view", 1.0), ev(2, 2, 7, "view", 2.0),
      ev(3, 3, 7, "view", 4.0), ev(4, 4, 7, "view", 8.0), ev(5, 5, 7, "view", 16.0)))
    // rows 1-4 complete window 0; window 1 (rows 3-6) still needs row 6
    assert(drain().map(w => (w.win_id, w.cnt, w.sum_value)) === Seq((0L, 4L, 15.0)))
    feed(Seq(ev(6, 6, 7, "view", 32.0)))
    assert(drain().map(w => (w.win_id, w.cnt, w.sum_value)) === Seq((1L, 4L, 60.0)))
    stop()
  }
}
