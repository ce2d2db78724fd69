package graft.streaming

import graft.Query
import graft.sources.CdcFormats
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Streaming CDC ingestion end-to-end (the reference's flagship CDC
  * pipeline: debezium-json source → ChangelogNormalize → upsert sink,
  * `docs/dev/table/connectors/formats/debezium.md`): a Debezium event log
  * arrives as a file STREAM, each micro-batch's events are parsed by the
  * same expression-only CdcFormats.debeziumChangelog, and a copy-on-write
  * merge maintains the current table state across batches.
  *
  * The merge is offset-ordered, not arrival-ordered: the target keeps
  * (key, offset, alive, payload) and a key's row is replaced only by an
  * event with a HIGHER offset, with deletes retained as tombstones — so
  * events split across micro-batches in any order (a rebalanced Kafka
  * source delivers exactly that) still converge to the log's final state.
  * Everything is executor-side joins/aggregates; per batch: one max_by
  * shuffle of the batch's events + one key-join against the target — the
  * same shape a Delta/Iceberg MERGE INTO runs at 100 TB.
  */
object CdcStream {

  /** q_cdc_stream: stream the fixture log in ≤4-file micro-batches, merge
    * per batch, return the final materialized state aggregated per status. */
  def debeziumStream(s: SparkSession, dir: String): DataFrame = {
    val path = CdcFormats.writeDebeziumFixture(s, dir, "dbz-stream")
    val root = s"/tmp/graft-cdc-stream/${System.nanoTime()}"
    val raw = s.readStream
      .schema(StructType(Seq(StructField("value", StringType))))
      .option("maxFilesPerTrigger", 4) // force several cross-key batches
      .text(path)
      .withColumn("offset", get_json_object(col("value"), "$.ts_ms").cast(LongType))
    val changelog = CdcFormats.debeziumChangelog(raw, CdcFormats.payload)

    @volatile var current: Option[String] = None
    val sink = changelog.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val sess = batch.sparkSession
        // net action per key within the batch: the max-offset event
        // (-U never wins: its paired +U shares the offset and sorts above
        // it via the kind rank, mirroring emission order)
        val acts = batch
          .groupBy(col("o_orderkey"))
          .agg(max_by(
            struct(col("offset"), col("kind"), col("o_custkey"),
              col("o_orderstatus"), col("o_totalprice")),
            struct(col("offset"), (col("kind") === "+U").cast("int").as("r")))
            .as("w"))
          .select(col("o_orderkey"), col("w.offset").as("offset"),
            col("w.kind").as("kind"), col("w.o_custkey").as("o_custkey"),
            col("w.o_orderstatus").as("o_orderstatus"),
            col("w.o_totalprice").as("o_totalprice"))
          .withColumn("alive", col("kind") =!= "-D")
          .drop("kind")
        if (!acts.isEmpty) {
          val merged = current match {
            case None => acts
            case Some(prev) =>
              val target = sess.read.parquet(prev)
              // offset-ordered last-writer-wins between target and batch
              target.unionByName(acts)
                .groupBy(col("o_orderkey"))
                .agg(max_by(struct(col("offset"), col("alive"),
                  col("o_custkey"), col("o_orderstatus"), col("o_totalprice")),
                  col("offset")).as("w"))
                .select(col("o_orderkey"), col("w.offset").as("offset"),
                  col("w.alive").as("alive"), col("w.o_custkey").as("o_custkey"),
                  col("w.o_orderstatus").as("o_orderstatus"),
                  col("w.o_totalprice").as("o_totalprice"))
          }
          val out = s"$root/v$batchId"
          merged.write.mode("overwrite").parquet(out)
          current = Some(out)
        }
        ()
      }
    StreamSource.checkpointDir(s, "cdc").drain(sink, StreamSource.StreamShuffle)

    val fin = current.map(p => s.read.parquet(p))
      .getOrElse(s.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
        StructType(Seq())))
    fin.where(col("alive"))
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("cnt"), round(sum("o_totalprice"), 2).as("total"))
      .orderBy("o_orderstatus")
  }

  val queries: Seq[Query] = Seq(
    Query("q_cdc_stream", debeziumStream,
      Query.oracleOf(graft.sources.CdcFormats.queries, "q_cdc_materialize")),
  )
}
