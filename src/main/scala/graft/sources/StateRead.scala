package graft.sources

import graft.Query
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** State Processor API (reference
  * `flink-libraries/flink-state-processing-api/src/main/java/org/apache/
  * flink/state/api/SavepointReader.java`, `ExistingSavepoint.java`): read a
  * streaming job's checkpointed operator state as a batch table, keyed by
  * the operator's key columns.
  *
  * Spark-first mapping: Structured Streaming checkpoints ARE the savepoint
  * — `spark.read.format("statestore").load(ckpt)` surfaces each stateful
  * operator's store as (key struct, value struct, partition_id) rows, and
  * `format("state-metadata")` lists the operators, their store names and
  * batch ranges (the reference's `SavepointMetadata`). Reading is a normal
  * distributed parquet-backed scan of the HDFS state store — per-partition
  * files, no driver materialization — so auditing a 1000-executor job's
  * state at 100 TB is just another batch query. The reference's bootstrap
  * direction (writing state) maps to running the backfill query through the
  * engine with the same checkpoint dir before attaching the live source —
  * state is always produced by the operator itself, which keeps the store
  * layout private (CheckpointRecoverySpec proves the resume path).
  *
  * Each query below runs a real streaming job to completion, then audits
  * its state store and returns the STATE contents (not the sink) — the
  * oracle recomputes what the final state must be from the raw table. The
  * returned frame is a lazy `statestore` scan of the checkpoint, so the
  * checkpoint dir must outlive the call: it is deleted when the
  * SparkContext ends ([[graft.streaming.StreamSource.Checkpoint.kept]]).
  */
object StateRead {

  /** q_state_agg_read: the final aggregation state of a streaming
    * groupBy(user_id).agg(count,sum) — one (count,sum) buffer row per key,
    * exactly the RocksDB contents SavepointReader.aggregate() would yield. */
  def aggStateRead(s: SparkSession, dir: String): DataFrame = {
    val ckpt = graft.streaming.StreamSource.checkpointDir(s, "stateread-agg").kept()
    val agg = graft.streaming.StreamSource.eventsWithSentinel(s, dir)
      .groupBy("user_id")
      .agg(count(lit(1)).as("cnt"), sum("value").as("sum_value"))
    ckpt.run(agg.writeStream.format("memory")
      .queryName(s"state_agg_${System.nanoTime()}")
      .outputMode("update"))
    s.read.format("statestore").load(ckpt.path)
      .select(col("key.user_id").as("user_id"),
        col("value.count").as("cnt"),
        round(col("value.sum"), 2).as("sum_value"))
      .where(col("user_id") >= 0) // drop the replay sentinel's state row
      .orderBy("user_id")
  }

  /** q_state_dedup_read: the key set of a streaming dropDuplicates state —
    * the seen-keys store, aggregated per user. */
  def dedupStateRead(s: SparkSession, dir: String): DataFrame = {
    val ckpt = graft.streaming.StreamSource.checkpointDir(s, "stateread-dedup").kept()
    val dd = graft.streaming.StreamSource.eventsWithSentinel(s, dir)
      .select("user_id", "event_type")
      .dropDuplicates("user_id", "event_type")
    ckpt.run(dd.writeStream.format("memory")
      .queryName(s"state_dedup_${System.nanoTime()}")
      .outputMode("append"))
    s.read.format("statestore").load(ckpt.path)
      .select(col("key.user_id").as("user_id"),
        col("key.event_type").as("event_type"))
      .where(col("user_id") >= 0)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_types"),
        min("event_type").as("first_type"), max("event_type").as("last_type"))
      .orderBy("user_id")
  }

  val queries: Seq[Query] = Seq(
    Query("q_state_agg_read", aggStateRead,
      """SELECT user_id, count(*) AS cnt, round(sum(value), 2) AS sum_value
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin),
    Query("q_state_dedup_read", dedupStateRead,
      """SELECT user_id, CAST(count(DISTINCT event_type) AS BIGINT) AS n_types,
        | min(event_type) AS first_type, max(event_type) AS last_type
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin),
  )
}
