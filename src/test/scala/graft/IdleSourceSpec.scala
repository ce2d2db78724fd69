package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Idle-source watermark semantics — the reference's WatermarksWithIdleness
  * (`flink-core/src/main/java/org/apache/flink/api/common/eventtime/
  * WatermarksWithIdleness.java`): a source partition that stops emitting
  * would hold the job's watermark back forever, so the reference marks it
  * idle and excludes it from the min-combine until it speaks again.
  *
  * Spark's global watermark is the MIN across watermarked inputs by
  * default — an idle input stalls it exactly the same way — and the
  * engine-level escape hatch is `spark.sql.streaming.multipleWatermarkPolicy
  * = max`: advance on the fastest input instead, accepting that rows a
  * revived slow input sends may be late (precisely the trade
  * WatermarksWithIdleness makes after its timeout). This spec pins BOTH
  * behaviors, upgrading the round-6 documented residual ("Spark has no
  * per-partition idleness markers") to a demonstrated mapping: the
  * policy knob IS the idleness contract, minus the per-partition timeout
  * granularity the SQL surface doesn't need. */
class IdleSourceSpec extends SparkSpec {
  import spark.implicits._

  /** Two watermarked streams, unioned, windowed: `live` advances through
    * t=95s; `idle` says t=5s once and never again. Returns closed-window
    * rows the sink saw. */
  private def run(policy: String): Long =
    GraftSession.withConf(spark, "spark.sql.streaming.multipleWatermarkPolicy" -> policy) {
      implicit val sqlCtx = spark.sqlContext
      val live = MemoryStream[Long]
      val idle = MemoryStream[Long]
      def shaped(m: MemoryStream[Long]) = m.toDF()
        .select(timestamp_seconds(col("value")).as("ts"), lit(1L).as("v"))
        .withWatermark("ts", "1 second")
      val agg = shaped(live).union(shaped(idle))
        .groupBy(window(col("ts"), "10 seconds")).agg(count(lit(1)).as("n"))
      val name = s"idle_${policy}_${System.nanoTime()}"
      val ckpt = s"${graft.streaming.StreamSource.ckptRoot}/idle-${System.nanoTime()}"
      val q = agg.writeStream.format("memory").queryName(name)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .start()
      try {
        idle.addData(5L) // one early row, then silence forever
        live.addData(5L, 15L)
        q.processAllAvailable()
        live.addData(50L, 95L) // watermark recomputes from prior batch max
        q.processAllAvailable()
        live.addData(96L) // one more batch so 50/95's watermark applies
        q.processAllAvailable()
      } finally {
        q.stop()
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
      }
      spark.table(name).count()
    }

  test("min policy: one idle input stalls the global watermark — no window ever closes") {
    assert(run("min") === 0L)
  }

  test("max policy (WatermarksWithIdleness analog): the live input drives window closure") {
    assert(run("max") >= 2L) // windows [0,10) and [10,20) are past wm≈94s
  }
}
