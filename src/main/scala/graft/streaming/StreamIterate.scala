package graft.streaming

import graft.Query
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Streaming iterations (ref flink-streaming-java DataStream.java:538
  * `iterate()` + IterativeStream.java `closeWith()`): the reference adds a
  * FEEDBACK EDGE to the dataflow — operator output re-enters the operator's
  * input until each element takes the exit branch.
  *
  * Spark-first mapping: a Structured Streaming DAG cannot contain cycles,
  * but the file source turns the feedback edge into data: `foreachBatch`
  * splits every micro-batch into exit rows (appended to the result) and
  * feedback rows (written back INTO the source directory, which schedules
  * the next micro-batch). `processAllAvailable()` is the loop's natural
  * termination — it returns exactly when an iteration produces no feedback,
  * the reference's "feedback stream runs dry" condition.
  *
  * At scale the feedback edge is a distributed parquet write + scan per
  * superstep (the same durability trade Flink's blocking iteration makes
  * with its spillable feedback channel); state never concentrates on the
  * driver and each superstep is a normal batch plan. */
object StreamIterate {

  private val loopSchema = StructType(Seq(
    StructField("id", LongType), StructField("steps_left", LongType),
    StructField("steps_done", LongType)))

  /** Run `steps_left` down to zero through the feedback loop; returns one
    * exit row (id, steps_done) per seed row. */
  def iterate(s: SparkSession, seed: DataFrame, workDir: String): DataFrame = {
    val src = s"$workDir/loop"
    val exitDir = s"$workDir/exit"
    new java.io.File(src).mkdirs()
    seed.select(col("id"), col("steps_left"), lit(0L).as("steps_done"))
      .write.mode("append").parquet(src)
    // the exit dir must exist with the right schema even if some batch has
    // no finished rows
    s.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), loopSchema)
      .write.mode("overwrite").parquet(exitDir)
    val stepped = s.readStream.schema(loopSchema).parquet(src)
      .select(col("id"), (col("steps_left") - 1).as("steps_left"),
        (col("steps_done") + 1).as("steps_done"))
    val sink = stepped.writeStream
      .foreachBatch { (b: DataFrame, _: Long) =>
        val batch = b.persist()
        try {
          batch.where(col("steps_left") <= 0)
            .write.mode("append").parquet(exitDir)
          val fb = batch.where(col("steps_left") > 0)
          // writing into the SOURCE dir is the closeWith() feedback edge;
          // an empty write would still schedule (and never finish) another
          // batch, so the loop only feeds back when rows remain
          if (fb.limit(1).count() > 0) fb.write.mode("append").parquet(src)
        } finally { batch.unpersist(); () }
      }
    StreamSource.checkpointDir(s, "iterate").drain(sink)
    s.read.parquet(exitDir)
  }

  /** q_stream_iterate: every user enters the loop with user_id%5+1 steps
    * and exits having done exactly that many supersteps — closed-form
    * oracle over the raw table. */
  def userCountdown(s: SparkSession, dir: String): DataFrame = {
    val seed = graft.Tables(s, dir, "events")
      .select(col("user_id").as("id")).distinct()
      .select(col("id"), (col("id") % 5 + 1).as("steps_left"))
    val work = s"/tmp/graft-iterate/${System.nanoTime()}"
    iterate(s, seed, work)
      .select(col("id").as("user_id"), col("steps_done").as("steps"))
      .orderBy("user_id")
  }

  val queries: Seq[Query] = Seq(
    Query("q_stream_iterate", userCountdown,
      """SELECT DISTINCT user_id, user_id % 5 + 1 AS steps FROM events
        |ORDER BY user_id""".stripMargin))
}
