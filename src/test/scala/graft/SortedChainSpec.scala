package graft

import scala.jdk.CollectionConverters._

import graft.streaming.{Cep, KeyedStep, OooReplay, StatefulOps, StreamJoins, StreamSource}
import graft.streaming.StreamSource.Event
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** The fused watermark sorter (`StatefulOps.sortedThen`) against the
  * two-operator form it replaces, `step.run(sortedEvents(ds))`, for each
  * of the 11 user_id-keyed steps the `_ooo` queries run. Both read the
  * scripted [[DisorderFeed]] and must emit the same rows in every
  * micro-batch.
  */
class SortedChainSpec extends SparkSpec {
  import spark.implicits._

  private val delay = "10 minutes"
  private val feed = DisorderFeed.batches

  /** Per batch id, the sorted rows `build` emitted, and the ids of the
    * batches that read no input rows. */
  private def run(name: String, build: Dataset[Event] => DataFrame,
                  chained: Boolean): (Map[Long, Seq[String]], Set[Long]) = {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val out = new java.util.concurrent.ConcurrentHashMap[Long, Seq[String]]()
    val ckpt = s"${StreamSource.ckptRoot}/chain-$name-${System.nanoTime()}"
    // the two-operator form trips Spark's global-watermark check (the
    // sorter emits rows older than the watermark); the fused one must not
    val check = if (chained)
      Seq("spark.sql.streaming.statefulOperator.checkCorrectness.enabled" -> "false") else Nil
    val q = GraftSession.withConf(spark, check: _*) {
      build(input.toDS()).writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: DataFrame, id: Long) =>
          out.put(id, b.collect().map(_.toString).sorted.toSeq); ()
        }.start()
    }
    try feed.foreach { rows => input.addData(rows); q.processAllAvailable() }
    finally {
      q.stop()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
    }
    val idle = q.recentProgress.filter(_.numInputRows == 0).map(_.batchId).toSet
    (out.asScala.toMap, idle)
  }

  private def sameAsChained[S, O](name: String, step: KeyedStep[S, O]): Map[Long, Seq[String]] = {
    val (fused, idle) = run(name, ds => StatefulOps.sortedThen(ds, delay)(step).toDF(),
      chained = false)
    val (chained, _) = run(name,
      ds => step.run(StatefulOps.sortedEvents(ds, delay)).toDF(), chained = true)
    assert(fused.values.exists(_.nonEmpty), s"$name emitted nothing")
    assert(idle.exists(id => fused(id).nonEmpty),
      s"$name: no batch without input released rows through a timeout")
    assert(fused === chained)
    fused
  }

  test("fused runningAgg == chained; step state outlives an empty sorter buffer") {
    val out = sameAsChained("over", StatefulOps.runningAggStep).values.flatten
    // key 3: rows 13', 14', 19' drain in the first timeout batch, leaving
    // only step state; rows 51', 52', 55' continue its count from 3
    assert(out.count(_.startsWith("[3,")) === 6)
    assert(out.exists(_ == "[3,14,6,70.0]"))
  }

  test("fused keepLast == chained") {
    sameAsChained("dedup_last", StatefulOps.keepLastStep)
  }

  test("fused bounded ROWS over == chained") {
    sameAsChained("over_rows_b", StatefulOps.boundedRowsStep(2))
  }

  test("fused bounded RANGE over == chained") {
    sameAsChained("over_range_b", StatefulOps.boundedRangeStep(20L * 60 * 1000000))
  }

  test("fused changelog normalize == chained") {
    sameAsChained("changelog", StatefulOps.changelogStep)
  }

  test("fused dynamic-gap session == chained") {
    val gap: Event => Long =
      e => if (e.event_type == "error") 5L * 60 * 1000000 else 10L * 60 * 1000000
    sameAsChained("dyn_session", StatefulOps.dynamicSessionStep(gap))
  }

  test("fused strict CEP == chained") {
    val pattern: Seq[Event => Boolean] = Seq(
      _.event_type == "view", _.event_type == "click", _.event_type == "purchase")
    sameAsChained("cep", Cep.patternStep(pattern))
  }

  test("fused quantified CEP (A+ B) == chained") {
    val a: Event => Boolean = e =>
      e.event_type != "error" && e.event_type != OooReplay.FlushType
    sameAsChained("cep_plus", Cep.orderedSkipStep(
      Seq(Cep.QStep.oneOrMore(a), Cep.QStep.once(_.event_type == "purchase")),
      Cep.SkipToNextRow))
  }

  test("fused notFollowedBy CEP == chained") {
    val pattern: Seq[Event => Boolean] = Seq(
      _.event_type == "purchase", _.event_type == "view")
    sameAsChained("cep_not", Cep.relaxedStep(pattern, withinMs = 60L * 60000,
      nots = Map(1 -> ((e: Event) => e.event_type == "error"))))
  }

  test("fused followedByAny CEP == chained") {
    val pattern: Seq[Event => Boolean] = Seq(
      _.event_type == "view", _.event_type == "click", _.event_type == "purchase")
    sameAsChained("cep_any", Cep.relaxedStep(pattern, withinMs = 60L * 60000, any = true))
  }

  test("fused connect (keep-filtered step) == chained") {
    // the step reads purchase and error rows only: a key's released rows
    // can all be filtered out, and the step must then not run at all
    val out = sameAsChained("connect", StreamJoins.connectStep("purchase", "error", 3600))
    assert(out.values.flatten.exists(_.split(",")(2) != "null"),
      "no purchase matched an error")
  }

  test("a step chained after the sorter can neither declare nor set a timeout") {
    val declared = KeyedStep[Long, Event]((_, rows, _) => rows,
      timeout = org.apache.spark.sql.streaming.GroupStateTimeout.EventTimeTimeout())
    intercept[IllegalArgumentException] {
      StatefulOps.sortedThen(spark.emptyDataset[Event], delay)(declared)
    }
    val setter = KeyedStep[Long, Event] { (_, rows, state) =>
      state.setTimeoutTimestamp(0L)
      rows
    }
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      run("timer", ds => StatefulOps.sortedThen(ds, delay)(setter).toDF(), chained = false)
    }
    val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toList
    assert(causes.exists(_.toString.contains("runs without timeouts")), e.toString)
  }

  test("sortedEvents alone is the sorter with a pass-through step") {
    val (out, _) = run("sorted", ds => StatefulOps.sortedEvents(ds, delay).toDF(),
      chained = false)
    assert(out.values.map(_.size).sum === feed.map(_.size).sum - 1) // key 9 held
  }
}
