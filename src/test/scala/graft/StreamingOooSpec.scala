package graft

import graft.streaming.{OooReplay, StreamQueries}
import org.apache.spark.sql.functions._

/** Out-of-order hardening proof (round-5 verdict #1).
  *
  * Pins two things the oracle compare alone cannot:
  *  1. the OooReplay fixture is genuinely adversarial — multiple
  *     micro-batch segments with cross-SEGMENT event-time inversions
  *     (a later-arriving segment holds earlier timestamps than an
  *     already-delivered one), and a lateness bound covered by the
  *     advertised watermark delay;
  *  2. all 13 sorter-composed `_ooo` operators produce byte-identical
  *     final answers on the shuffled replay and on the ordered replay
  *     (order-independence, spark-vs-spark — the DuckDB oracle re-proves
  *     it against SQL per round).
  */
class StreamingOooSpec extends SparkSpec {

  test("ooo replay: multi-segment with cross-batch event-time inversions within the delay bound") {
    val (replayDir, delaySec) = OooReplay.prepare(spark, sf)
    val segs = new java.io.File(replayDir).listFiles()
      .filter(_.getName.matches("seg-\\d+\\.parquet")).sortBy(_.getName)
    assert(segs.length >= OooReplay.Blocks, "replay must be multi-segment")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val stats = segs.dropRight(1).map { f => // last segment = sentinel
      val r = spark.read.parquet(f.getPath).agg(min("ts"), max("ts")).head
      (r.getLong(0), r.getLong(1))
    }
    var runMax = Long.MinValue
    var inversions = 0
    var worstLateNanos = 0L
    stats.foreach { case (mn, mx) =>
      if (runMax != Long.MinValue && mn < runMax) {
        inversions += 1
        worstLateNanos = math.max(worstLateNanos, runMax - mn)
      }
      runMax = math.max(runMax, mx)
    }
    assert(inversions >= OooReplay.Blocks / 2 - 1,
      s"expected pair-swap inversions, got $inversions")
    assert(worstLateNanos > 0, "fixture must contain genuinely late rows")
    assert(worstLateNanos <= delaySec * 1000000000L,
      "advertised watermark delay must cover the manufactured disorder")
  }

  test("dedup keep-last is order-independent: shuffled replay == ordered replay") {
    val a = StreamQueries.dedupLast(spark, sf).collect().toSeq
    val b = StreamQueries.dedupLastOoo(spark, sf).collect().toSeq
    assert(a == b)
  }

  test("streaming OVER is order-independent: shuffled replay == ordered replay") {
    val a = StreamQueries.over(spark, sf).collect().toSeq
    val b = StreamQueries.overOoo(spark, sf).collect().toSeq
    assert(a == b)
  }

  test("streaming top-n is order-independent: shuffled replay == ordered replay") {
    val a = StreamQueries.topN(spark, sf).collect().toSeq
    val b = StreamQueries.topNOoo(spark, sf).collect().toSeq
    assert(a == b)
  }

  test("CEP strict pattern is order-independent: shuffled replay == ordered replay") {
    val a = StreamQueries.cep(spark, sf).collect().toSeq
    val b = StreamQueries.cepOoo(spark, sf).collect().toSeq
    assert(a == b)
  }

  test("CEP quantified pattern (parked partials across batches) is order-independent") {
    val a = StreamQueries.cepPlus(spark, sf).collect().toSeq
    val b = StreamQueries.cepPlusOoo(spark, sf).collect().toSeq
    assert(a == b)
  }

  test("bounded ROWS over is order-independent: shuffled replay == ordered replay") {
    val a = StreamQueries.overRowsBounded(spark, sf).collect().toSeq
    val b = StreamQueries.overRowsBoundedOoo(spark, sf).collect().toSeq
    assert(a == b)
  }

  test("bounded RANGE over is order-independent: shuffled replay == ordered replay") {
    val a = StreamQueries.overRangeBounded(spark, sf).collect().toSeq
    val b = StreamQueries.overRangeBoundedOoo(spark, sf).collect().toSeq
    assert(a == b)
  }

  test("changelog normalize is order-independent: shuffled replay == ordered replay") {
    val a = StreamQueries.changelog(spark, sf).collect().toSeq
    val b = StreamQueries.changelogOoo(spark, sf).collect().toSeq
    assert(a == b)
  }

  test("dynamic-gap session is order-independent: shuffled replay == ordered replay") {
    val a = StreamQueries.dynamicSession(spark, sf).collect().toSeq
    val b = StreamQueries.dynSessionOoo(spark, sf).collect().toSeq
    assert(a == b)
  }

  test("retracting top-n is order-independent: shuffled replay == ordered replay") {
    val a = StreamQueries.topNRetract(spark, sf).collect().toSeq
    val b = StreamQueries.topNRetractOoo(spark, sf).collect().toSeq
    assert(a == b)
  }

  test("CEP notFollowedBy is order-independent: shuffled replay == ordered replay") {
    val a = StreamQueries.cepNot(spark, sf).collect().toSeq
    val b = StreamQueries.cepNotOoo(spark, sf).collect().toSeq
    assert(a == b)
  }

  test("CEP followedByAny is order-independent: shuffled replay == ordered replay") {
    val a = StreamQueries.cepAny(spark, sf).collect().toSeq
    val b = StreamQueries.cepAnyOoo(spark, sf).collect().toSeq
    assert(a == b)
  }

  test("connect/CoProcess is order-independent: shuffled replay == ordered replay") {
    val a = StreamQueries.connect(spark, sf).collect().toSeq
    val b = StreamQueries.connectOoo(spark, sf).collect().toSeq
    assert(a == b)
  }
}
