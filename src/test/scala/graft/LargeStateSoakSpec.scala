package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Large-state soak (round-5 verdict #5; ref RocksDBKeyedStateBackend
  * .java:108 — keyed state far beyond executor heap): one MILLION
  * distinct keys of flatMapGroupsWithState state on the RocksDB state
  * store provider, updated incrementally, then restored across a query
  * restart from the same checkpoint. Pins that:
  *  - state rows scale to 10^6 keys per executor without heap pressure
  *    (RocksDB keeps them off-heap/on-disk; numRowsTotal reported);
  *  - an incremental batch touches only its keys (update semantics);
  *  - a restarted query resumes the SAME state from the checkpoint
  *    (count continues, not resets) — the recovery contract at soak
  *    scale rather than the toy sizes of CheckpointRecoverySpec. */
class LargeStateSoakSpec extends SparkSpec {
  import spark.implicits._

  private val N = 1000000

  /** `body` on a fresh checkpoint path `$prefix-$nanoTime` with the RocksDB
    * state store provider and `conf` set; the dir is deleted afterwards,
    * also when `body` throws. */
  private def onRocksDb(prefix: String, conf: (String, String)*)(body: String => Unit): Unit = {
    val ckpt = s"$prefix-${System.nanoTime()}"
    try GraftSession.withConf(spark, ("spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") +: conf: _*) {
      body(ckpt)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
  }

  test(s"$N-key state on RocksDB: build, incremental update, restart+restore") {
    onRocksDb("/tmp/graft-ckpt/soak") { ckpt =>
      implicit val sqlCtx = spark.sqlContext
      val input = MemoryStream[(Long, Long)]
      val op = input.toDS().groupByKey(_._1)
        .flatMapGroupsWithState[Long, (Long, Long)](
          OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
          (k: Long, rows: Iterator[(Long, Long)], st: GroupState[Long]) =>
            val c = st.getOption.getOrElse(0L) + rows.size
            st.update(c)
            Iterator.single((k, c))
        }
      // foreachBatch sink: the memory sink refuses checkpoint recovery,
      // and the restart leg is the point of this spec
      val emitted = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
      def start() = op.toDF("k", "cnt").writeStream
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          // persist before multiple actions: re-executing a stateful
          // batch plan would re-apply state updates (collect only the
          // sparse batches — bounded driver memory)
          b.persist()
          try {
            if (b.count() <= N / 100)
              b.collect().foreach(r => emitted.add((r.getLong(0), r.getLong(1))))
          } finally b.unpersist()
          ()
        }
        .start()

      // batch 0: a million distinct keys
      val q1 = start()
      input.addData((0 until N).map(i => (i.toLong, 1L)))
      q1.processAllAvailable()
      val sop = q1.lastProgress.stateOperators(0)
      assert(sop.numRowsTotal === N.toLong, "all keys must hold state")
      info(s"state rows=${sop.numRowsTotal} memoryUsedBytes=${sop.memoryUsedBytes}")

      // batch 1: touch every 1000th key; only those re-emit, at count 2
      input.addData((0 until N by 1000).map(i => (i.toLong, 1L)))
      q1.processAllAvailable()
      import scala.jdk.CollectionConverters._
      assert(emitted.asScala.count(_._2 == 2L) === N / 1000)
      assert(q1.lastProgress.stateOperators(0).numRowsTotal === N.toLong)
      q1.stop()

      // restart from the same checkpoint: key 123's count must CONTINUE
      emitted.clear()
      val q2 = start()
      input.addData(Seq((123L, 1L)))
      q2.processAllAvailable()
      val restored = emitted.asScala.toSet
      assert(restored.contains((123L, 2L)),
        s"state not restored across restart: $restored")
      q2.stop()
    }
  }

  test(s"connect/CoProcess soak: $N pending probes on RocksDB, cross-batch match, restart") {
    // connectMatch buffers unmatched probes per key; at soak scale the
    // buffer must live in the state store (not heap), survive a restart,
    // and a match row arriving BATCHES later must still retract the null
    // pad and emit the pair.
    import graft.streaming.{StreamJoins, StreamSource}
    import graft.streaming.StreamSource.Event
    onRocksDb("/tmp/graft-ckpt/conn-soak") { ckpt =>
      implicit val sqlCtx = spark.sqlContext
      val t0 = 1700000000000L
      def ev(id: Long, tsMs: Long, user: Long, tpe: String) =
        Event(id, new java.sql.Timestamp(tsMs), user, tpe, 1.0)
      val input = MemoryStream[Event]
      val out = StreamJoins.connectMatch(input.toDS(),
        probeType = "purchase", matchType = "error", windowSec = 3600)
      val emitted =
        new java.util.concurrent.ConcurrentLinkedQueue[(Long, Option[Long], String)]()
      def start() = out.toDF().writeStream
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.persist()
          try {
            if (b.count() <= N / 100)
              b.collect().foreach(r => emitted.add((r.getLong(1), // p_id
                if (r.isNullAt(2)) None else Some(r.getLong(2)), r.getString(3))))
          } finally b.unpersist()
          ()
        }
        .start()

      // batch 0: a million purchases, one per user — every key buffers one
      // pending probe and emits its +I null pad
      val q1 = start()
      input.addData((0 until N).map(i => ev(i.toLong, t0, i.toLong, "purchase")))
      q1.processAllAvailable()
      assert(q1.lastProgress.stateOperators(0).numRowsTotal === N.toLong,
        "every probe key must hold buffered state")
      // batch 1: errors for every 1000th user inside the window → each
      // retracts its null pad and emits the matched pair
      input.addData((0 until N by 1000).map(i =>
        ev(2000000L + i, t0 + 60 * 1000L, i.toLong, "error")))
      q1.processAllAvailable()
      import scala.jdk.CollectionConverters._
      val matched = emitted.asScala.filter(_._3 == "+I").flatMap(_._2).toSet
      assert(matched.size === N / 1000,
        s"expected ${N / 1000} cross-batch matches, got ${matched.size}")
      assert(emitted.asScala.count(e => e._3 == "-D" && e._2.isEmpty) === N / 1000,
        "each match must retract its null pad")
      q1.stop()

      // restart: a late error for user 123 must match the probe buffered
      // two batches and one restart ago
      emitted.clear()
      val q2 = start()
      input.addData(Seq(ev(3000123L, t0 + 90 * 1000L, 123L, "error")))
      q2.processAllAvailable()
      assert(emitted.asScala.toSet.contains((123L, Some(3000123L), "+I")),
        s"state not restored across restart: ${emitted.asScala.toSet}")
      q2.stop()
    }
  }

  test(s"outer-join TTL soak: $N keys on RocksDB, restart, watermark-driven state cleanup") {
    // r8 verdict task 7: leftOuterJoin kept both sides in state forever;
    // the stateTtlMs knob (mirroring the reference StreamingJoinOperator's
    // state retention) must bound state once the watermark passes the TTL,
    // and the bound must hold across a checkpoint restart at soak scale.
    import graft.streaming.{StreamJoins, StreamSource}
    import graft.streaming.StreamSource.Event
    onRocksDb("/tmp/graft-ckpt/ttl-soak") { ckpt =>
      implicit val sqlCtx = spark.sqlContext
      val t0 = 1700000000000L
      def ev(id: Long, tsMs: Long, user: Long, tpe: String) =
        Event(id, new java.sql.Timestamp(tsMs), user, tpe, 1.0)
      val input = MemoryStream[Event]
      val joined = StreamJoins.leftOuterJoin(
        input.toDS().withWatermark("ts", "10 minutes"),
        probeType = "probe", buildType = "build",
        stateTtlMs = Some(60L * 1000)) // 1 minute of event time
      val emitted =
        new java.util.concurrent.ConcurrentLinkedQueue[(Long, Option[Long], String)]()
      def start() = joined.toDF().writeStream
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.persist()
          try {
            if (b.count() <= N / 100)
              b.collect().foreach(r => emitted.add((r.getLong(1), // p_id
                if (r.isNullAt(2)) None else Some(r.getLong(2)), r.getString(3))))
          } finally b.unpersist()
          ()
        }
        .start()

      // batch 0: a million distinct probe keys, no build side → every key
      // holds a null-padded probe in state
      val q1 = start()
      input.addData((0 until N).map(i => ev(i.toLong, t0, i.toLong, "probe")))
      q1.processAllAvailable()
      assert(q1.lastProgress.stateOperators(0).numRowsTotal === N.toLong,
        "every probe key must hold state")
      q1.stop()

      // restart: the million-key state is restored from the checkpoint.
      // The first event stays INSIDE the TTL horizon (watermark after it is
      // still below t0) so restoration is observable before any cleanup.
      val q2 = start()
      input.addData(Seq(ev(-1L, t0 + 30 * 1000L, -1L, "probe")))
      q2.processAllAvailable()
      assert(q2.lastProgress.stateOperators(0).numRowsTotal === N.toLong + 1,
        "state must be restored across restart")
      // jump event time 2h ahead: the watermark passes every key's
      // t0+1min timeout and the timer batches drop the expired buffers
      input.addData(Seq(ev(-2L, t0 + 7200 * 1000L, -2L, "probe")))
      q2.processAllAvailable()
      val after = q2.lastProgress.stateOperators(0).numRowsTotal
      assert(after <= 2L,
        s"TTL must bound post-watermark state: $after rows still held")

      // approximate-rejoin semantics after expiry (the reference's
      // documented TTL trade-off): an expired key's probe null-pads again
      emitted.clear()
      input.addData(Seq(ev(9999123L, t0 + 7200 * 1000L + 1, 123L, "probe")))
      q2.processAllAvailable()
      import scala.jdk.CollectionConverters._
      assert(emitted.asScala.toSet.contains((9999123L, None, "+I")),
        s"expired key must rejoin fresh: ${emitted.asScala.toSet}")
      q2.stop()
    }
  }

  test(s"OOO sorter soak: $N buffered keys on RocksDB, restart mid-stream, ordered drain into chained topN") {
    // r6 verdict task 5: prove the watermark-buffered sorter carries to
    // large state — 10^6 keys, each holding a full Event row, survive a
    // checkpoint restart and drain (in event-time order) into the chained
    // append-mode topN exactly once.
    import graft.streaming.StatefulOps
    import graft.streaming.StreamSource.Event
    // sorter→topN: no late-row predicate downstream
    onRocksDb("/tmp/graft-ckpt/ooo-soak",
        "spark.sql.streaming.statefulOperator.checkCorrectness.enabled" -> "false") { ckpt =>
      implicit val sqlCtx = spark.sqlContext
      val t0 = 1700000000000L // fixed epoch millis; ts arithmetic below in ms
      def ev(id: Long, tsMs: Long, user: Long, tpe: String, v: Double) =
        Event(id, new java.sql.Timestamp(tsMs), user, tpe, v)
      val input = MemoryStream[Event]
      val chained = StatefulOps.topNVersioned(
        StatefulOps.sortedEvents(input.toDS(), delay = "10 minutes"), 3)
      val emitted =
        new java.util.concurrent.ConcurrentLinkedQueue[StatefulOps.RankedVer]()
      def start() = chained.toDF().writeStream
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.persist()
          try b.as[StatefulOps.RankedVer](org.apache.spark.sql.Encoders.product)
            .collect().foreach(emitted.add) // ≤ types×3 rows per generation
          finally b.unpersist()
          ()
        }
        .start()

      val types = 100
      // batch 0: one row per key, all AHEAD of the watermark → every key
      // buffers its row in sorter state
      val q1 = start()
      input.addData((0 until N).map { i =>
        ev(i.toLong, t0 + (i % 600) * 1000L, i.toLong, s"t${i % types}", (i % 997).toDouble)
      })
      q1.processAllAvailable()
      val sortOp = q1.lastProgress.stateOperators
        .maxBy(_.numRowsTotal) // sorter holds the 10^6 rows; topN ≤ types
      assert(sortOp.numRowsTotal === N.toLong,
        s"every key must hold a buffered row: ${sortOp.numRowsTotal}")
      info(s"sorter state rows=${sortOp.numRowsTotal} " +
        s"memoryUsedBytes=${sortOp.memoryUsedBytes}")
      assert(emitted.isEmpty, "nothing may drain before the watermark moves")
      q1.stop()

      // restart from the checkpoint: the million buffered rows must be
      // restored, then drained by watermark passage — not recomputed
      val q2 = start()
      // advances max event time to t0+1h; watermark during THIS batch is
      // still behind t0, so everything stays buffered
      input.addData(Seq(ev(-2L, t0 + 3600 * 1000L, -2L, "__sent", -1.0)))
      q2.processAllAvailable()
      // during this batch the watermark is t0+50min → all N rows ripe
      input.addData(Seq(ev(-3L, t0 + 7200 * 1000L, -3L, "__sent", -1.0)))
      q2.processAllAvailable()
      val drained = q2.lastProgress.stateOperators.maxBy(_.numRowsTotal)
      assert(drained.numRowsTotal < N.toLong / 100,
        s"sorter must have drained: ${drained.numRowsTotal} rows still held")
      q2.stop()

      // the chained topN saw the drain: per event_type keep the newest
      // generation and check it equals the true top-3 by (value desc, id)
      import scala.jdk.CollectionConverters._
      val byType = emitted.asScala.filterNot(_.event_type == "__sent")
        .groupBy(_.event_type)
      assert(byType.size === types, s"expected $types types, got ${byType.size}")
      (0 until types).foreach { t =>
        val tpe = s"t$t"
        val rows = byType(tpe)
        val lastVer = rows.map(_.ver).max
        val got = rows.filter(_.ver == lastVer).toSeq.sortBy(_.rank)
          .map(r => (r.event_id, r.value))
        val want = (0 until N).filter(_ % types == t)
          .map(i => (i.toLong, (i % 997).toDouble))
          .sortBy { case (id, v) => (-v, id) }.take(3)
        assert(got === want, s"topN mismatch for $tpe")
      }
    }
  }

  test(s"bootstrap soak: $N batch-seeded initialState keys on RocksDB, live tail continues") {
    // r10 (VERDICT r9 task 3 at scale): the State Processor WRITE path must
    // seed a MILLION keys from a batch dataset without the driver in the
    // data path — initialState is a keyed Dataset co-shuffled with the
    // stream, so the savepoint write is just a batch job. Pins that every
    // seeded key lands in the store (numRowsTotal), the live tail CONTINUES
    // seeded accumulators (seed + live count, not live-only), and untouched
    // seeded keys survive to a restarted query.
    onRocksDb(s"${graft.streaming.StreamSource.ckptRoot}/bootsoak") { ckpt =>
      implicit val sqlCtx = spark.sqlContext
      // seed value = k % 97, computed distributed (range → keyed mapValues)
      val initial = spark.range(N.toLong).as[Long]
        .groupByKey(identity).mapValues(_ % 97)
      val input = MemoryStream[(Long, Long)]
      val op = input.toDS().groupByKey(_._1)
        .flatMapGroupsWithState[Long, (Long, Long)](
          OutputMode.Update(), GroupStateTimeout.NoTimeout(), initial) {
          (k: Long, rows: Iterator[(Long, Long)], st: GroupState[Long]) =>
            val add = rows.size
            if (add == 0) Iterator.empty // initial-state-only invocation
            else {
              val c = st.getOption.getOrElse(0L) + add
              st.update(c)
              Iterator.single((k, c))
            }
        }
      val emitted = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
      def start() = op.toDF("k", "cnt").writeStream
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.collect().foreach(r => emitted.add((r.getLong(0), r.getLong(1))))
          ()
        }
        .start()

      // batch 0: touch 3 keys; the OTHER 999,997 seeds must also land
      val touched = Seq(0L, 123456L, (N - 1).toLong)
      val q1 = start()
      input.addData(touched.map(k => (k, 1L)))
      q1.processAllAvailable()
      import scala.jdk.CollectionConverters._
      val got = emitted.asScala.toMap
      touched.foreach { k =>
        assert(got.get(k).contains(k % 97 + 1),
          s"key $k: expected seed ${k % 97} + 1, got ${got.get(k)}")
      }
      val sop = q1.lastProgress.stateOperators(0)
      assert(sop.numRowsTotal === N.toLong,
        s"all $N seeded keys must be in the store, got ${sop.numRowsTotal}")
      info(s"seeded state rows=${sop.numRowsTotal} memoryUsedBytes=${sop.memoryUsedBytes}")
      q1.stop()

      // restart: an untouched seeded key continues from its SEED value
      emitted.clear()
      val q2 = start()
      input.addData(Seq((777777L, 1L)))
      q2.processAllAvailable()
      val restored = emitted.asScala.toSet
      assert(restored.contains((777777L, 777777L % 97 + 1)),
        s"untouched seed not restored across restart: $restored")
      q2.stop()
    }
  }
}
