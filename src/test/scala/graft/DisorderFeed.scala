package graft

import java.sql.Timestamp

import graft.streaming.StreamSource.Event

/** A scripted out-of-order feed for stateful-operator specs, one `Seq` per
  * micro-batch. Under a 10-minute watermark delay it has:
  *  - disorder across batches, inside the delay;
  *  - batches that carry no input, in which only event-time timeouts fire
  *    and release rows;
  *  - keys whose held rows all drain while a chained step keeps state, and
  *    which receive rows again later.
  */
object DisorderFeed {
  def ev(id: Long, min: Int, user: Long, typ: String, v: Double): Event =
    Event(id, new Timestamp(1700000000000L + min * 60000L), user, typ, v)

  // watermark = max event time seen in earlier batches - 10 minutes
  val batches: Seq[Seq[Event]] = Seq(
    // everything held (no watermark yet); after: watermark 10
    Seq(ev(1, 20, 1, "purchase", 1.0), ev(2, 15, 1, "view", 2.0),
      ev(3, 17, 1, "click", 3.0), ev(4, 18, 2, "purchase", 4.0),
      ev(5, 16, 2, "view", 5.0), ev(6, 14, 3, "purchase", 6.0)),
    // rows earlier than batch 1's, still above the watermark; after: 20,
    // so a no-data batch fires the timeouts of keys 1, 2 and 3: key 3's
    // held rows all drain and only its step state is left
    Seq(ev(7, 12, 1, "purchase", 7.0), ev(8, 21, 1, "view", 8.0),
      ev(9, 30, 2, "error", 9.0), ev(10, 13, 3, "view", 10.0),
      ev(11, 19, 3, "error", 11.0)),
    // another key only; after: 50, and a no-data batch drains keys 1, 2
    Seq(ev(12, 60, 4, "view", 12.0)),
    // key 3 again, after its buffer emptied
    Seq(ev(13, 52, 3, "click", 13.0), ev(14, 55, 3, "view", 14.0)),
    Seq(ev(15, 53, 1, "click", 15.0), ev(16, 51, 3, "purchase", 16.0),
      ev(17, 54, 2, "purchase", 17.0)),
    // far future: the last no-data batch releases everything but key 9
    Seq(ev(18, 300, 9, "view", 0.0)))
}
