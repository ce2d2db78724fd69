package graft

import graft.streaming.{StateEvolution, StreamSource}
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TimeMode}

/** VERDICT r9 task 9 (stretch): schema-evolve a live checkpoint — add a
  * field to the state case class, resume from the OLD checkpoint, and
  * prove the counts continue (the reference's TypeSerializerSnapshot
  * compatible-after-migration contract). Runs on RocksDB + Avro state
  * encoding — the evolvable pairing; see StateEvolution's scaladoc. */
class StateEvolutionSpec extends SparkSpec {

  private def ev(id: Long, sec: Int, uid: Long, v: Double) =
    StreamSource.Event(id, new java.sql.Timestamp(sec * 1000L), uid, "e", v)

  test("old checkpoint resumes after the state class gains a field; counts continue") {
    import spark.implicits._
    val root = tempDir("graft-evolve")
    val src = s"$root/src"
    val ckpt = s"$root/ckpt"
    val schema = Encoders.product[StreamSource.Event].schema

    GraftSession.withConf(spark,
        "spark.sql.streaming.stateStore.providerClass" ->
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        "spark.sql.streaming.stateStore.encodingFormat" -> "avro") {
      def runOnce(proc: StatefulProcessor[Long, StreamSource.Event,
          StateEvolution.KeyCount]): Map[Long, (Long, Double)] = {
        val live = spark.readStream.schema(schema).parquet(src)
          .as[StreamSource.Event]
        val out = live.groupByKey(_.user_id)
          .transformWithState(proc, TimeMode.None(), OutputMode.Update())
        // memory sink can't recover from a checkpoint; foreachBatch can —
        // capture emitted rows driver-side, last batch wins per key
        val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
        val q = out.toDF().writeStream
          .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
            buf.synchronized {
              buf ++= df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
            }
            ()
          }
          .outputMode("update").option("checkpointLocation", ckpt).start()
        try q.processAllAvailable() finally q.stop()
        buf.synchronized { buf.map(t => t._1 -> (t._2, t._3)).toMap }
      }

      // generation 1: V1 state (cnt only)
      spark.createDataset(Seq(ev(1, 1, 1L, 10.0), ev(2, 2, 1L, 20.0), ev(3, 3, 2L, 5.0)))
        .toDF().coalesce(1).write.mode("append").parquet(src)
      val g1 = runOnce(new StateEvolution.ProcV1)
      assert(g1(1L)._1 === 2L && g1(2L)._1 === 1L, g1.toString)

      // generation 2: V2 state (cnt + Option[Double]) resumes the SAME
      // checkpoint — Avro schema resolution fills the new field with null
      // on old rows, and the counts CONTINUE from the evolved state
      spark.createDataset(Seq(ev(4, 4, 1L, 7.5), ev(5, 5, 3L, 1.25)))
        .toDF().coalesce(1).write.mode("append").parquet(src)
      val g2 = runOnce(new StateEvolution.ProcV2)
      assert(g2(1L) === ((3L, 7.5)), g2.toString)   // 2 (V1 rows) + 1, last from new row
      assert(g2(3L) === ((1L, 1.25)), g2.toString)  // fresh key under V2
      assert(!g2.contains(2L) || g2(2L)._1 === 1L, g2.toString)
    }
  }
}
