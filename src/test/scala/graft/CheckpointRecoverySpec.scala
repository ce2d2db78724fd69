package graft

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import graft.streaming.{LocalCheckpointFileManager, StatefulOps, StreamSource}
import graft.streaming.StreamSource.Event
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, HDFSMetadataLog}
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
import org.apache.spark.sql.functions.{col, count, lit, sum}
import org.apache.spark.sql.sources.StreamSourceProvider
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Checkpoint/recovery for the custom stateful operators: stop a query
  * mid-stream and restart it from the SAME checkpoint — keyed state,
  * source offsets and sink commit log must all be restored (ref:
  * RocksDBKeyedStateBackend snapshots + checkpoint restore; Spark:
  * HDFSBackedStateStoreProvider versioned state under the checkpoint
  * dir). Recovery-capable sinks only: file sink for append, foreachBatch
  * for update (the memory sink is a test double and refuses recovery).
  * This is the guarantee a 1000-executor job leans on after any
  * executor/driver loss. */
class CheckpointRecoverySpec extends SparkSpec {
  import spark.implicits._

  private def ts(min: Int): Timestamp = new Timestamp(1700000000000L + min * 60000L)
  private def ev(id: Long, min: Int, user: Long, typ: String, v: Double): Event =
    Event(id, ts(min), user, typ, v)

  test("runningAgg state, offsets and file-sink commits survive restart") {
    implicit val sqlCtx = spark.sqlContext
    val base = checkpointPath("test-recovery")
    val input = MemoryStream[Event]

    def start() =
      StatefulOps.runningAgg(input.toDS()).toDF().writeStream
        .format("parquet").option("path", s"$base/out")
        .option("checkpointLocation", s"$base/ckpt")
        .outputMode("append")
        .start()

    // phase 1: two events for user 7 build running state (cnt 1, 2)
    val q1 = start()
    input.addData(Seq(ev(1, 10, 7, "view", 10.0), ev(2, 20, 7, "click", 5.0)))
    q1.processAllAvailable()
    q1.stop()

    // phase 2: restart from the same checkpoint; the new batch must
    // CONTINUE the key's state (cnt 3, sum 10+5+1) and the committed
    // batch must appear exactly once in the sink
    val q2 = start()
    input.addData(Seq(ev(3, 30, 7, "purchase", 1.0)))
    q2.processAllAvailable()
    q2.stop()

    val out = spark.read.parquet(s"$base/out")
      .as[(Long, Long, Long, Double)].collect().sortBy(_._2)
    assert(out.map(r => (r._2, r._3)).toSeq === Seq((1L, 1L), (2L, 2L), (3L, 3L)),
      s"state or exactly-once lost across restart: ${out.toSeq}")
    assert(out.last._4 === 16.0, "running sum lost checkpointed state")
  }

  test("keepLast dedup state survives restart via foreachBatch (stale row still rejected)") {
    implicit val sqlCtx = spark.sqlContext
    val ckpt = checkpointPath("test-recovery2")
    val input = MemoryStream[Event]

    def start() =
      StatefulOps.keepLast(input.toDS()).toDF().writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          val rows = df.select("event_id").collect().map(_.getLong(0))
          CheckpointRecoverySpec.sink.synchronized {
            CheckpointRecoverySpec.sink ++= rows
          }
          ()
        }
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .start()

    CheckpointRecoverySpec.sink.synchronized { CheckpointRecoverySpec.sink.clear() }
    val q1 = start()
    input.addData(Seq(ev(10, 50, 9, "view", 1.0)))
    q1.processAllAvailable()
    q1.stop()
    val afterPhase1 = CheckpointRecoverySpec.sink.synchronized {
      CheckpointRecoverySpec.sink.toList }
    assert(afterPhase1 === List(10L))

    val q2 = start()
    // older than the checkpointed latest (min 50) → must NOT emit;
    // newer row → must emit. Both decisions need the restored state.
    input.addData(Seq(ev(11, 40, 9, "view", 2.0), ev(12, 60, 9, "click", 3.0)))
    q2.processAllAvailable()
    q2.stop()
    val afterPhase2 = CheckpointRecoverySpec.sink.synchronized {
      CheckpointRecoverySpec.sink.toList }
    assert(afterPhase2 === List(10L, 12L),
      s"restored keep-last state not honored: $afterPhase2")
  }

  /** Three restarts of one keyed aggregation on one checkpoint, phase i
    * started through graft's manager when `viaGraft(i)`, else through
    * Spark's stock one. Returns every emitted (user, cnt, sum) row in batch
    * order, and the final state as `format("statestore")` reads it. */
  private def aggAcrossRestarts(viaGraft: Seq[Boolean]):
      (Seq[(Long, Long, Double)], Seq[(Long, Long, Double)]) = {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val ck = StreamSource.checkpointDir(spark, "test-interop")
    try {
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
      val feeds = Seq(
        Seq(ev(1, 10, 7, "view", 10.0), ev(2, 11, 8, "view", 1.0)),
        Seq(ev(3, 20, 7, "click", 5.0)),
        Seq(ev(4, 30, 7, "purchase", 1.0), ev(5, 31, 8, "click", 2.0)))
      for ((graftMgr, feed) <- viaGraft.zip(feeds)) {
        val w = input.toDF().groupBy("user_id")
          .agg(count(lit(1)).as("cnt"), sum("value").as("sum"))
          .writeStream.outputMode("update")
          .foreachBatch { (df: DataFrame, _: Long) =>
            val rows = df.as[(Long, Long, Double)].collect().sortBy(_._1)
            out.synchronized { out ++= rows }
            ()
          }
        val q = if (graftMgr) ck.start(w)
          else w.option("checkpointLocation", ck.path).start()
        input.addData(feed)
        try q.processAllAvailable() finally q.stop()
      }
      val state = spark.read.format("statestore").load(ck.path)
        .select(col("key.user_id"), col("value.count"), col("value.sum"))
        .as[(Long, Long, Double)].collect().sortBy(_._1).toSeq
      (out.synchronized(out.toList), state)
    } finally ck.delete()
  }

  test("a checkpoint moves between graft's manager and Spark's stock one, both ways") {
    val expectOut = Seq((7L, 1L, 10.0), (8L, 1L, 1.0), (7L, 2L, 15.0), (7L, 3L, 16.0), (8L, 2L, 3.0))
    val expectState = Seq((7L, 3L, 16.0), (8L, 2L, 3.0))
    for (order <- Seq(Seq(true, false, true), Seq(false, true, false))) {
      val (emitted, state) = aggAcrossRestarts(order)
      assert(emitted === expectOut, s"restored state lost across managers $order")
      assert(state === expectState, s"statestore read of the $order checkpoint")
    }
  }

  test("checkpointDir starts the query on graft's manager and restores the session conf") {
    val key = StreamSource.FileManagerKey
    assert(spark.conf.getOption(key).isEmpty)
    val ck = StreamSource.checkpointDir(spark, "test-manager")
    val names = try {
      val q = ck.start(spark.readStream.format(classOf[SlowLogSource].getName).load()
        .writeStream.format("memory").queryName(s"mgr_${System.nanoTime()}"))
      try {
        assert(spark.conf.getOption(key).isEmpty, "the caller's session keeps no new flag")
        q.processAllAvailable()
        // the stream's cloned session (a protected member, hence reflection)
        val exec = q.asInstanceOf[StreamingQueryWrapper].streamingQuery
        val streamConf = exec.getClass.getMethod("sparkSessionForStream").invoke(exec)
          .asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState.newHadoopConf()
        assert(CheckpointFileManager.create(new Path(ck.path), streamConf)
          .isInstanceOf[LocalCheckpointFileManager])
      } finally q.stop()
      val walk = Files.walk(Paths.get(ck.path))
      try walk.iterator().asScala.map(p => Paths.get(ck.path).relativize(p).toString).toList
      finally walk.close()
    } finally ck.delete()
    // the stock manager leaves a Hadoop `.<name>.crc` sidecar beside every
    // file it writes; this one none (`<name>.crc` is Spark's own checksum)
    assert(names.contains("sources/0/0"))
    val sidecars = names.filter(n => n.split('/').last.startsWith(".") && n.endsWith(".crc"))
    assert(sidecars.isEmpty, s"files written through Hadoop's stock local filesystem: $sidecars")
  }

  test("runToTable leaves no checkpoint dir behind, and its result stays readable") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    input.addData(Seq(ev(1, 10, 7, "view", 1.0), ev(2, 20, 7, "view", 2.0)))
    val name = s"ckpt_lifecycle_${System.nanoTime()}"
    def dirs(): Seq[String] =
      Option(new java.io.File(StreamSource.ckptRoot).listFiles()).toSeq.flatten
        .map(_.getName).filter(_.startsWith(s"$name-"))
    var during = Seq.empty[String]
    val out = StreamSource.runToTable(spark, StatefulOps.runningAgg(input.toDS()).toDF(),
      name, "append", onDrained = _ => during = dirs())
    assert(during.size === 1, "the query ran on its own checkpoint dir")
    assert(dirs().isEmpty, s"checkpoint dirs left: ${dirs()}")
    assert(out.select("run_cnt").as[Long].collect().sorted.toSeq === Seq(1L, 2L))
  }

  test("runUpsert and StreamBloom leave no checkpoint dir behind") {
    import graft.streaming.{StreamBloom, UpsertSink}
    implicit val sqlCtx = spark.sqlContext
    def dirs(prefix: String): Set[String] =
      Option(new java.io.File(StreamSource.ckptRoot).listFiles()).toSeq.flatten
        .map(_.getName).filter(_.startsWith(s"$prefix-")).toSet
    val input = MemoryStream[StatefulOps.Change]
    input.addData(Seq(StatefulOps.Change(1, 10, "+I"), StatefulOps.Change(2, 20, "+I")))
    val name = s"ckpt_upsert_${System.nanoTime()}"
    val upserted = UpsertSink.runUpsert(spark, input.toDS().toDF(), name)
    assert(upserted.count() === 2)
    assert(dirs(name).isEmpty, s"checkpoint dirs left: ${dirs(name)}")
    val bloomBefore = dirs("bloom")
    assert(StreamBloom.bloomStreamDedup(spark, sf).count() > 0)
    assert(dirs("bloom") === bloomBefore, s"checkpoint dirs left: ${dirs("bloom") -- bloomBefore}")
  }
}

/** A V1 source that, like the file source, keeps a metadata log under its
  * checkpoint path, built from the reading session on the stream thread.
  * It takes a moment to build: unless `Checkpoint.start` waits for the
  * query to initialize, the caller's session conf is restored before this
  * log exists. It never has data. */
class SlowLogSource extends StreamSourceProvider {
  private val schema = StructType(Seq(StructField("v", LongType)))
  override def sourceSchema(sqlContext: SQLContext, schema: Option[StructType],
      providerName: String, parameters: Map[String, String]): (String, StructType) =
    ("slow-log", this.schema)
  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source = {
    Thread.sleep(300)
    new HDFSMetadataLog[String](sqlContext.sparkSession, metadataPath).add(0, "built")
    val s = this.schema
    new Source {
      override def schema: StructType = s
      override def getOffset: Option[Offset] = None
      override def getBatch(start: Option[Offset], end: Offset): DataFrame =
        throw new IllegalStateException("no data")
      override def stop(): Unit = ()
    }
  }
}

object CheckpointRecoverySpec {
  /** Cross-restart collector for the foreachBatch sink (same JVM). */
  val sink: scala.collection.mutable.ListBuffer[Long] =
    scala.collection.mutable.ListBuffer.empty[Long]
}
