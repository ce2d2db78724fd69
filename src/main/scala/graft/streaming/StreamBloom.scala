package graft.streaming

import graft.operators.Dedup
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}

/** Streaming Bloom-filter maintenance — the Dolma exact-dedup structure
  * kept LIVE: lake documents arrive as micro-batches and fold into the
  * bitmap through a streaming AGGREGATION (word-index → bit_or of masks,
  * ≤4096 keys of fixed-width state however large the lake grows — keyed
  * state that provably does NOT grow with the corpus, unlike
  * [[StreamDedup]]'s per-band buckets). When the shard lands, the bitmap
  * is read back from the aggregation's state store — the checkpoint IS
  * the published structure, the same savepoint-as-artifact reading
  * StateRead established — and probed map-side by the batch verdict.
  *
  * Reference anchors: the keyed-agg-state pattern is the reference's
  * WindowOperator/AggregatingState; the read-back is the State Processor
  * API consuming an operator's state as a table. The oracle is the SAME
  * SQL as q_dedup_bloom: a bitmap built by 4-batch streaming fold must be
  * bit-identical to the batch build (bit_or is commutative/associative —
  * exactly why a Bloom filter CAN be maintained incrementally). */
object StreamBloom {

  def bloomStreamDedup(s: SparkSession, dir: String): DataFrame = {
    val segDir = StreamDedup.prepare(s, dir)
    val schema = StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    val docs = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .option("pathGlobFilter", "seg-*.parquet")
      .parquet(segDir)
    val base = docs
      .withColumn("fp", md5(regexp_replace(lower(col("text")), "\\s+", " ")))
      .select(col("doc_id"), col("fp"))
    val words = Dedup.bloomWordBits(Dedup.bloomLake(base))
      .groupBy("w").agg(expr("bit_or(m)").as("bits"))
    val ckpt = StreamSource.checkpointDir(s, "bloom")
    val name = s"stream_bloom_${System.nanoTime()}"
    // the checkpoint is the artifact: read the final agg state as the
    // bitmap (value field name is the internal aggregate's — discover it),
    // then delete it. An empty corpus commits no batch and writes no store
    // — the bitmap is legitimately all-zero then.
    val bm = Array.fill(Dedup.BloomBits / 64)(0L)
    try {
      ckpt.run(words.writeStream.format("memory").queryName(name).outputMode("update"),
        StreamSource.StreamShuffle)
      if (new java.io.File(s"${ckpt.path}/state").isDirectory) {
        val st = s.read.format("statestore").load(ckpt.path)
        // the bit_or aggregate's buffer is the single long in the state value
        // struct; if a Spark upgrade ever adds another long bookkeeping field
        // this would silently read the wrong column — fail loudly instead
        val longFields = st.schema("value").dataType.asInstanceOf[StructType]
          .fields.filter(_.dataType == LongType)
        require(longFields.length == 1,
          s"expected exactly one LongType field in the agg state value struct " +
            s"(the bit_or buffer), found ${longFields.map(_.name).mkString(", ")}")
        val vField = longFields.head.name
        st.select(col("key.w").as("w"), col(s"value.$vField").as("bits"))
          .collect().foreach(r => bm(r.getInt(0)) = r.getLong(1))
      }
    } finally ckpt.delete()
    Dedup.bloomVerdict(s, dir, bm)
  }
}
