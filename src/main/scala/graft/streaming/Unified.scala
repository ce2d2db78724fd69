package graft.streaming

import graft.{Query, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Unified batch/stream execution (ref FLIP-140, the headline of the
  * reference's release: one DataStream program runs in BATCH or STREAMING
  * execution mode via `env.setRuntimeMode(RuntimeExecutionMode.BATCH)` —
  * flink-streaming-java .../environment/StreamExecutionEnvironment.java,
  * api/common/RuntimeExecutionMode.java).
  *
  * Spark-first this is not a feature to build but a property the engine
  * already has: the SAME DataFrame-typed function is the program, and the
  * execution mode is picked by the INPUT — `spark.read` makes it a batch
  * job, `spark.readStream` an incremental one. `withWatermark` is the one
  * stream-only construct in the shared text, and Catalyst's
  * EliminateEventTimeWatermark strips it on bounded input — exactly
  * FLIP-140's "watermarks are ignored in batch mode; time-based operations
  * see the whole input" semantics.
  *
  * [[pipeline]] is written ONCE; q_unified_pipeline executes it in batch
  * mode against the parquet events, UnifiedSpec executes the same function
  * object as a micro-batch stream and asserts row-identical output (the
  * FLIP's correctness promise), and both match the one DuckDB oracle. */
object Unified {

  /** The shared program: daily per-type event rollup with a 1-hour
    * watermark. Deliberately contains the stream-only construct. */
  def pipeline(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), round(sum("value"), 2).as("sum_value"))
      .select(col("w.start").as("w_start"), col("event_type"),
        col("cnt"), col("sum_value"))

  /** q_unified_pipeline: BATCH execution of [[pipeline]]. */
  def batchRun(s: SparkSession, dir: String): DataFrame =
    pipeline(Tables(s, dir, "events"))
      .orderBy("w_start", "event_type")

  /** STREAMING execution of the same function object (spec-driven): replay
    * the events through the file stream source, run to completion, drop the
    * replay sentinel. */
  def streamRun(s: SparkSession, dir: String): DataFrame =
    StreamSource.runToTable(s,
        pipeline(StreamSource.eventsWithSentinel(s, dir)),
        "unified_pipeline", "append")
      .where(col("event_type") =!= "__sentinel")
      .orderBy("w_start", "event_type")

  val queries: Seq[Query] = Seq(
    Query("q_unified_pipeline", batchRun,
      graft.WindowOracles.tumbleOracle),
  )
}
