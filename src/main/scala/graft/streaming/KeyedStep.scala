package graft.streaming

import scala.reflect.runtime.universe.TypeTag

import graft.streaming.StreamSource.Event
import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.catalyst.expressions.objects.LambdaVariable
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** One keyed stateful operator, given only as its step body: `fn` runs on
  * one key's rows with that key's state, the way the reference's
  * KeyedProcessFunction supplies only processElement/onTimer. It runs in
  * one of two ways:
  *  - `run` makes it an operator of its own, fed by a `groupByKey(key)`
  *    shuffle;
  *  - [[StatefulOps.sortedThen]] runs a [[KeyedStep]] (keyed by user_id,
  *    over events, without timeouts) inside the watermark sorter's
  *    operator, on the rows the sorter releases, with no second shuffle or
  *    state store (the reference's operator chaining,
  *    StreamingJobGraphGenerator.isChainable).
  *
  * Either way the step sees its state through a [[StepState]]. A state
  * whose deserializer holds a lambda variable (one with a collection) is
  * held as the bytes of a [[StateCodec]], resolved once when the query is
  * built; any other state is held as itself (see [[HeldState]]). `keep`
  * selects the rows the step reads; rows it rejects never reach `fn`.
  * `timeout` is the operator's GroupStateTimeout.
  */
final class KeyedOp[K, I, S, O] private[streaming] (
    val key: I => K,
    val fn: (K, Iterator[I], GroupState[S]) => Iterator[O],
    val keep: Option[I => Boolean],
    val timeout: GroupStateTimeout)(
    implicit val keyEnc: ExpressionEncoder[K], val stateEnc: ExpressionEncoder[S],
    val outEnc: ExpressionEncoder[O])
    extends Serializable {

  def run(ds: Dataset[I], mode: OutputMode = OutputMode.Append()): Dataset[O] =
    if (StateCodec.needed(stateEnc)) runHolding(ds, mode, new StateCodec(stateEnc), Encoders.BINARY)
    else runHolding(ds, mode, new AsItself[S], stateEnc)

  private def runHolding[X](ds: Dataset[I], mode: OutputMode, held: HeldState[S, X],
                            heldEnc: Encoder[X]): Dataset[O] = {
    val fn = this.fn
    keep.fold(ds)(k => ds.filter(k))
      .groupByKey(key)(keyEnc)
      .flatMapGroupsWithState[X, O](mode, timeout) {
        (k: K, rows: Iterator[I], state: GroupState[X]) =>
          val st = new StepState(held, state.getOption, state, chained = false)
          // drain the output before reading the state back: a step may
          // update its state lazily, as its output is consumed
          val out = fn(k, rows, st).toVector
          if (st.changed) st.stored.fold(state.remove())(state.update)
          out.iterator
      }(heldEnc, outEnc)
  }
}

object KeyedOp {
  def apply[K: TypeTag, I, S: TypeTag, O: TypeTag](
      key: I => K, timeout: GroupStateTimeout = GroupStateTimeout.NoTimeout(),
      keep: Option[I => Boolean] = None)(
      fn: (K, Iterator[I], GroupState[S]) => Iterator[O]): KeyedOp[K, I, S, O] =
    new KeyedOp(key, fn, keep, timeout)(
      ExpressionEncoder[K](), ExpressionEncoder[S](), ExpressionEncoder[O]())
}

object KeyedStep {
  /** A step over events keyed by user_id. */
  def apply[S: TypeTag, O: TypeTag](fn: (Long, Iterator[Event], GroupState[S]) => Iterator[O],
                                    keep: Option[Event => Boolean] = None,
                                    timeout: GroupStateTimeout = GroupStateTimeout.NoTimeout())
      : KeyedStep[S, O] =
    KeyedOp[Long, Event, S, O](_.user_id, timeout, keep)(fn)

  /** Emits the rows it is given and keeps no state. */
  val passThrough: KeyedStep[Long, Event] = KeyedStep[Long, Event]((_, rows, _) => rows)
}

/** How a step's state value of type S is held in Spark's state store, as
  * an X. */
private[streaming] sealed trait HeldState[S, X] extends Serializable {
  def encode(v: S): X
  def decode(x: X): S
}

/** The value as itself, through Spark's own state encoder: for a state
  * whose deserializer has no lambda variable, so Spark generates the same
  * code for it every batch, and the statestore reader (StateRead) can
  * decode it field by field. */
private[streaming] final class AsItself[S] extends HeldState[S, S] {
  def encode(v: S): S = v
  def decode(x: S): S = x
}

/** A state value as the bytes of the UnsafeRow its own encoder writes. The
  * encoder is resolved once, when the query is built, so every batch and
  * task generates the same projection code and hits Spark's codegen cache;
  * a state type stored through Spark's own state encoder is re-resolved per
  * batch, and one with collections recompiles its deserializer each time.
  * The projections are built on first use in the task that holds this copy.
  */
private[streaming] final class StateCodec[S](enc: ExpressionEncoder[S])
    extends HeldState[S, Array[Byte]] {
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

private[streaming] object StateCodec {
  /** Whether a state of this encoder must be held as bytes: its resolved
    * deserializer holds a `MapObjects` lambda variable, which takes a new
    * id each time Spark resolves the state encoder (every micro-batch), so
    * the generated code would miss the codegen cache and compile again. */
  def needed(enc: ExpressionEncoder[_]): Boolean =
    enc.resolveAndBind().deserializer.find(_.isInstanceOf[LambdaVariable]).isDefined
}

/** A step's state, seen through its own GroupState. The value is decoded
  * on first read; `stored` gives the held value to store after the call,
  * None once the step has removed it, and `changed` says whether to store
  * it.
  *
  * Run as an operator of its own (`chained = false`), timeouts and the
  * watermark are Spark's, read and set through `outer`. Chained after the
  * watermark sorter (`chained = true`) the step runs without them: it reads
  * rows the sorter released, as a chained operator would, and never times
  * out. */
private[streaming] final class StepState[S, X](held: HeldState[S, X], prior: Option[X],
                                               outer: GroupState[_], chained: Boolean)
    extends GroupState[S] {
  private var value: Option[S] = null // null until decoded
  private var updated = false

  def exists: Boolean = if (value == null) prior.isDefined else value.isDefined
  def getOption: Option[S] = {
    if (value == null) value = prior.map(held.decode)
    value
  }
  def get: S = getOption.getOrElse(
    throw new NoSuchElementException("State is either not defined or has already been removed"))
  def update(newState: S): Unit = {
    if (newState == null)
      throw new IllegalArgumentException("'null' is not a valid state value")
    value = Some(newState); updated = true
  }
  def remove(): Unit = { value = None; updated = true }
  def hasTimedOut: Boolean = !chained && outer.hasTimedOut

  private def timers: GroupState[_] =
    if (chained) throw new UnsupportedOperationException(
      "a step chained after the watermark sorter runs without timeouts")
    else outer
  def setTimeoutDuration(durationMs: Long): Unit = timers.setTimeoutDuration(durationMs)
  def setTimeoutDuration(duration: String): Unit = timers.setTimeoutDuration(duration)
  def setTimeoutTimestamp(timestampMs: Long): Unit = timers.setTimeoutTimestamp(timestampMs)
  def setTimeoutTimestamp(timestampMs: Long, additionalDuration: String): Unit =
    timers.setTimeoutTimestamp(timestampMs, additionalDuration)
  def setTimeoutTimestamp(timestamp: java.sql.Date): Unit = timers.setTimeoutTimestamp(timestamp)
  def setTimeoutTimestamp(timestamp: java.sql.Date, additionalDuration: String): Unit =
    timers.setTimeoutTimestamp(timestamp, additionalDuration)
  def getCurrentWatermarkMs(): Long =
    if (chained) throw new UnsupportedOperationException(
      "a step chained after the watermark sorter reads no watermark")
    else outer.getCurrentWatermarkMs()
  def getCurrentProcessingTimeMs(): Long = outer.getCurrentProcessingTimeMs()

  def changed: Boolean = updated
  def stored: Option[X] = if (!updated) prior else value.map(held.encode)
}
