package graft

import java.sql.Timestamp

import graft.plans.AsOfJoin
import org.apache.spark.sql.functions._

/** Specs for the custom as-of join operator (LogicalPlan + SparkStrategy +
  * sort-merge SparkPlan). */
class AsOfJoinSpec extends SparkSpec {
  import spark.implicits._

  private def ts(min: Int) = new Timestamp(1700000000000L + min * 60000L)

  test("matches newest build row at-or-before probe time, null when none") {
    val probe = Seq((1L, 10L, ts(30)), (1L, 11L, ts(5)), (2L, 20L, ts(10)))
      .toDF("k", "p_id", "p_ts")
    val build = Seq((1L, 100L, ts(10)), (1L, 101L, ts(20)), (1L, 102L, ts(30)), (3L, 300L, ts(1)))
      .toDF("bk", "b_id", "b_ts")
    val got = AsOfJoin(probe, build, "k", "bk", "p_ts", "b_ts")
      .select("k", "p_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), if (r.isNullAt(2)) -1L else r.getLong(2)))
      .toSet
    // probe(1,30) → build 102 (time == probe time counts); probe(1,5) → none;
    // probe(2,10) → no build for key 2
    assert(got === Set((1L, 10L, 102L), (1L, 11L, -1L), (2L, 20L, -1L)))
  }

  test("agrees with the window-trick implementation on the events table") {
    val a = operators.WindowAggs.asOfJoin(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
    val b = operators.WindowAggs.asOfJoinCustom(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
    assert(a === b)
  }

  private def probeBuild = {
    val e = Tables(spark, sf, "events")
    val probe = e.where(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("p_id"), col("ts").as("p_ts"))
    val build = e.where(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("event_id").as("v_id"), col("ts").as("v_ts"))
    (probe, build)
  }

  test("small build side takes the broadcast path: probe side never shuffles") {
    val (probe, build) = probeBuild
    val df = AsOfJoin(probe, build, "user_id", "v_user", "p_ts", "v_ts")
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("AsOfJoinBroadcast"), s"plan:\n$p")
    assert(!p.contains("hashpartitioning"), s"probe side shuffled:\n$p")
  }

  test("large build side: co-partitioned sort-merge, and both paths agree") {
    val merge = GraftSession.withConf(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val (probe, build) = probeBuild
      val df = AsOfJoin(probe, build, "user_id", "v_user", "p_ts", "v_ts")
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("AsOfJoin") && !p.contains("AsOfJoinBroadcast"), s"plan:\n$p")
      assert(p.split("hashpartitioning").length >= 3, s"expected co-partitioning exchanges:\n$p")
      df.select("p_id", "v_id").collect()
        .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1))).toSet
    }
    val bcast = AsOfJoin(probeBuild._1, probeBuild._2, "user_id", "v_user", "p_ts", "v_ts")
      .select("p_id", "v_id").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1))).toSet
    assert(merge === bcast)
  }
}
