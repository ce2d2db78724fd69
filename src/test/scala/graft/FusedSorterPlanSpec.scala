package graft

import scala.jdk.CollectionConverters._

import graft.streaming.{Cep, StatefulOps}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.objects.LambdaVariable
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** Pins the shape the `_ooo` queries run in. An operator keyed by user_id
  * runs inside the watermark sorter's own stateful operator
  * (`StatefulOps.sortedThen`): one `FlatMapGroupsWithStateExec` behind one
  * shuffle per micro-batch. The topN twins, keyed by event_type, keep a
  * second operator and a second shuffle. The fused state holds only binary
  * fields, so its deserializer has no `MapObjects` lambda variable, whose
  * fresh id per micro-batch would recompile it every batch. */
class FusedSorterPlanSpec extends SparkSpec {

  private val fused = Seq("dedup_last", "over", "over_rows_b", "over_range_b",
    "changelog", "dyn_session", "cep", "cep_plus", "cep_not", "cep_any", "connect")
  private val chained = Seq("topn", "topn_retract")

  /** The last micro-batch plan of the one streaming query `q` runs. */
  private def batchPlan(q: String): SparkPlan = {
    val started = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQuery]()
    // QueryStartedEvent reaches listeners synchronously, on the stream
    // thread, while the query is still active
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit =
        Option(spark.streams.get(e.id)).foreach(started.add)
      override def onQueryProgress(e: QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    try SparkEntry.queries(q)(spark, sf)
    finally spark.streams.removeListener(listener)
    val qs = started.asScala.toList
    assert(qs.size === 1, s"$q started ${qs.size} streaming queries")
    qs.head.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.executedPlan
  }

  /** (stateful operators, shuffle exchanges) in a micro-batch plan. */
  private def shape(plan: SparkPlan): (Int, Int) = (
    plan.collect { case p if p.getClass.getSimpleName == "FlatMapGroupsWithStateExec" => p }.size,
    plan.collect { case p: ShuffleExchangeExec => p }.size)

  for (name <- fused)
    test(s"q_stream_${name}_ooo: one stateful operator behind one shuffle") {
      assert(shape(batchPlan(s"q_stream_${name}_ooo")) === ((1, 1)))
    }

  for (name <- chained)
    test(s"q_stream_${name}_ooo (keyed by event_type): two stateful operators, two shuffles") {
      assert(shape(batchPlan(s"q_stream_${name}_ooo")) === ((2, 2)))
    }

  private def hasLambda(enc: ExpressionEncoder[_]): Boolean =
    enc.resolveAndBind().deserializer.find(_.isInstanceOf[LambdaVariable]).isDefined

  test("the fused state's deserializer has no lambda variable") {
    assert(!hasLambda(ExpressionEncoder[StatefulOps.SortedState]()))
    // the check bites: a collection-typed state deserializes through one
    assert(hasLambda(ExpressionEncoder[Cep.NfaState]()))
  }
}
