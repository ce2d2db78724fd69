package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Upsert / retracting sink via `foreachBatch` (SURVEY.md §7.1 item M5:
  * the changelog layer's terminal operator; ref FileSystemTableSink +
  * upsert Kafka/JDBC sinks, exactly-once contract of
  * FlinkKafkaProducer.java:101 — idempotent per-batch-id merge).
  *
  * Each micro-batch's changelog is merged into a keyed parquet target
  * ENTIRELY executor-side — no `collect()` of batch data:
  *   1. per key, reduce the batch to its last action by (seq, event_id)
  *      (`max_by`, a map-side-combinable aggregate);
  *   2. copy-on-write merge: untouched target rows (left-anti join on the
  *      key) union the batch's surviving upserts, written to a new version
  *      directory `v<batchId>` — the same rewrite shape a Delta/Iceberg
  *      MERGE INTO performs, so the plan scales with cluster size.
  * Version directories keyed by batch id keep the merge idempotent under
  * micro-batch replay (a replayed batch re-derives v<N> from v<N-1>);
  * production would persist the current-version pointer transactionally
  * alongside the sink commit log. */
object UpsertSink {

  /** Run a changelog stream (user_id, event_id, rowkind[, seq]) to
    * completion, merging every batch into the keyed parquet target;
    * returns the final table as (user_id, event_id). */
  def runUpsert(s: SparkSession, changelog: DataFrame, name: String): DataFrame = {
    val root = s"/tmp/graft-upsert/$name-${System.nanoTime()}"
    @volatile var current: Option[String] = None
    val sink = changelog.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val sess = batch.sparkSession
        val seqCol = if (batch.columns.contains("seq")) col("seq") else lit(0L)
        // -U rows reference the previous image (a +U with the new image
        // follows); the net per-key action is the max-(seq, event_id)
        // insert/update/delete
        val acts = batch.where(col("rowkind").isin("+I", "+U", "-D"))
          .groupBy(col("user_id"))
          .agg(max_by(struct(col("event_id"), col("rowkind")),
            struct(seqCol.as("seq"), col("event_id"))).as("w"))
          .select(col("user_id"), col("w.event_id").as("event_id"),
            col("w.rowkind").as("rowkind"))
        if (!acts.isEmpty) {
          val upserts = acts.where(col("rowkind") =!= "-D")
            .select(col("user_id"), col("event_id"))
          val merged = current match {
            case None => upserts
            case Some(prev) =>
              sess.read.parquet(prev)
                .join(acts.select("user_id"), Seq("user_id"), "left_anti")
                .unionByName(upserts)
          }
          val path = s"$root/v$batchId"
          merged.write.mode("overwrite").parquet(path)
          current = Some(path)
        }
        ()
      }
    StreamSource.checkpointDir(s, name).drain(sink)
    import s.implicits._
    current.map(p => s.read.parquet(p))
      .getOrElse(Seq.empty[(Long, Long)].toDF("user_id", "event_id"))
      .orderBy("user_id")
  }
}
