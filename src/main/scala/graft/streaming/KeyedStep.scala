package graft.streaming

import scala.reflect.runtime.universe.TypeTag

import graft.streaming.StreamSource.Event
import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** One stateful step over a single user_id's rows: the body of a NoTimeout
  * `flatMapGroupsWithState` keyed by user_id. It runs in one of two ways:
  *  - `run` makes it an operator of its own, fed by a `groupByKey` shuffle;
  *  - [[StatefulOps.sortedThen]] runs it inside the watermark sorter's
  *    operator, on the rows the sorter releases, with no second shuffle or
  *    state store (the reference's operator chaining,
  *    StreamingJobGraphGenerator.isChainable).
  *
  * `keep` selects the rows the step reads; rows it rejects never reach `fn`.
  */
final class KeyedStep[S, O] private (
    val fn: (Long, Iterator[Event], GroupState[S]) => Iterator[O],
    val keep: Option[Event => Boolean])(
    implicit val stateEnc: ExpressionEncoder[S], val outEnc: ExpressionEncoder[O])
    extends Serializable {

  def run(ds: Dataset[Event], mode: OutputMode = OutputMode.Append()): Dataset[O] =
    keep.fold(ds)(k => ds.filter(k))
      .groupByKey(_.user_id)(Encoders.scalaLong)
      .flatMapGroupsWithState[S, O](mode, GroupStateTimeout.NoTimeout())(fn)
}

object KeyedStep {
  def apply[S: TypeTag, O: TypeTag](fn: (Long, Iterator[Event], GroupState[S]) => Iterator[O],
                                    keep: Option[Event => Boolean] = None): KeyedStep[S, O] =
    new KeyedStep(fn, keep)(ExpressionEncoder[S](), ExpressionEncoder[O]())

  /** Emits the rows it is given and keeps no state. */
  val passThrough: KeyedStep[Long, Event] = KeyedStep[Long, Event]((_, rows, _) => rows)
}

/** A state value as the bytes of the UnsafeRow its own encoder writes. The
  * encoder is resolved once, when the query is built, so every batch and
  * task generates the same projection code and hits Spark's codegen cache;
  * a state type stored through Spark's own state encoder is re-resolved per
  * batch, and one with collections recompiles its deserializer each time.
  * The projections are built on first use in the task that holds this copy.
  */
private[streaming] final class StateCodec[S](enc: ExpressionEncoder[S]) extends Serializable {
  private val bound = enc.resolveAndBind()
  private val width = bound.schema.length
  @transient private lazy val ser = bound.createSerializer()
  @transient private lazy val de = bound.createDeserializer()

  def encode(v: S): Array[Byte] = ser(v).asInstanceOf[UnsafeRow].copy().getBytes

  def decode(b: Array[Byte]): S = {
    val row = new UnsafeRow(width)
    row.pointTo(b, b.length)
    de(row)
  }
}

/** The step's half of a fused state, seen through the step's own
  * GroupState: NoTimeout, never timed out, no watermark (the step reads
  * rows released by the sorter, as a chained operator would). The value is
  * decoded on first read; `bytes` gives the half to store after the call,
  * null once the step has removed it. */
private[streaming] final class StepState[S](codec: StateCodec[S], stored: Array[Byte],
                                            outer: GroupState[_]) extends GroupState[S] {
  private var value: Option[S] = null // null until decoded
  private var changed = false

  def exists: Boolean = if (value == null) stored != null else value.isDefined
  def getOption: Option[S] = {
    if (value == null) value = Option(stored).map(codec.decode)
    value
  }
  def get: S = getOption.getOrElse(
    throw new NoSuchElementException("State is either not defined or has already been removed"))
  def update(newState: S): Unit = {
    if (newState == null)
      throw new IllegalArgumentException("'null' is not a valid state value")
    value = Some(newState); changed = true
  }
  def remove(): Unit = { value = None; changed = true }
  def hasTimedOut: Boolean = false

  private def noTimeout: Nothing = throw new UnsupportedOperationException(
    "a step chained after the watermark sorter runs without timeouts")
  def setTimeoutDuration(durationMs: Long): Unit = noTimeout
  def setTimeoutDuration(duration: String): Unit = noTimeout
  def setTimeoutTimestamp(timestampMs: Long): Unit = noTimeout
  def setTimeoutTimestamp(timestampMs: Long, additionalDuration: String): Unit = noTimeout
  def setTimeoutTimestamp(timestamp: java.sql.Date): Unit = noTimeout
  def setTimeoutTimestamp(timestamp: java.sql.Date, additionalDuration: String): Unit = noTimeout
  def getCurrentWatermarkMs(): Long = throw new UnsupportedOperationException(
    "a step chained after the watermark sorter reads no watermark")
  def getCurrentProcessingTimeMs(): Long = outer.getCurrentProcessingTimeMs()

  def bytes: Array[Byte] = if (!changed) stored else value.map(codec.encode).orNull
}
