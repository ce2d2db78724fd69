package graft.tools

import graft.streaming.{StreamSource, StreamWindowAggs}
import org.apache.spark.sql.functions._

/** One-off profiling main for streaming-query overhead (usage: <sfDir>). */
object StreamProf {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val spark = graft.GraftSession.local("streamprof")

    def time[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"$label: ${(System.nanoTime() - t0) / 1e9}%.2f s"); r
    }

    // batch equivalent of the tumble agg
    time("batch tumble agg") {
      graft.Tables(spark, dir, "events")
        .groupBy(window(col("ts"), "1 day"), col("event_type"))
        .agg(count(lit(1)), sum("value")).collect().length
    }
    time("schema fetch") { StreamSource.events(spark, dir).schema }
    // streaming run with progress breakdown
    val agg = StreamSource.events(spark, dir)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
    val q = time("start+drain") {
      StreamSource.checkpointDir(spark, "prof")
        .drain(agg.writeStream.format("memory").queryName("prof").outputMode("complete"))
    }
    q.recentProgress.foreach { p =>
      println(s"batch ${p.batchId}: rows=${p.numInputRows} durationMs=${p.durationMs}")
    }
    spark.stop()
  }
}
