package graft.tools


/** Streaming-PPJoin deployment-dial rehearsal (r15, VERDICT r14 #1): the
  * k× inflated corpus run under state-store provider × trigger-size
  * combinations, so the NOTES table can say which dial actually moves the
  * per-batch whole-bucket state rewrite the r14 ledger named as the
  * operator's honest cost.
  *
  *  - provider: the default HDFS map store serializes each TOUCHED
  *    bucket's full posting list per micro-batch; RocksDB swaps that for
  *    LSM point writes (the production provider for large state).
  *  - maxFilesPerTrigger: fewer, larger micro-batches = each bucket is
  *    rewritten fewer times (4 → 2 → 1 state commits across the replay),
  *    trading candidate latency — the arriving-shard framing.
  *
  * Row count is printed per cell: every cell must agree (the operator is
  * exact-recall whatever the batching — in-batch pairs meet in the
  * handler's accumulation buffer instead of through state).
  *
  * Usage: tools/run.sh graft.tools.StreamPpjoinBench [k]   (default 10;
  * reuses /tmp/graft-llm$k, building it if absent). */
object StreamPpjoinBench {
  def main(args: Array[String]): Unit = {
    val k = args.headOption.map(_.toInt).getOrElse(10)
    val src = "/root/testdata/sf0.1"
    val out = s"/tmp/graft-llm$k"
    val spark = graft.GraftSession.local("ppjoinbench")
    ScaleBench.inflateLlm(spark, src, out, k)
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val providers = Seq(
      "hdfs" -> "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider",
      "rocksdb" -> "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val triggers = Seq(1, 2, 4)
    val results =
      for ((pname, pclass) <- providers; mft <- triggers)
        yield graft.GraftSession.withConf(spark, provKey -> pclass) {
          spark.catalog.clearCache()
          // Spark-INTERNAL API (r15 ADVICE): forces the loaded provider
          // instances to unload so the next cell's providerClass conf is
          // honored. Stable on the pinned Spark 4.1.x; on an upgrade,
          // replace with one SparkSession per cell (tool-only blast
          // radius — no product path calls this).
          org.apache.spark.sql.execution.streaming.state.StateStore.stop()
          val t0 = System.nanoTime()
          val n = graft.streaming.StreamDedup.ppjoinStream(spark, out, mft).count()
          val dt = (System.nanoTime() - t0) / 1e9
          System.err.println(
            f"[ppjoin-bench] provider=$pname%-8s mft=$mft $dt%7.2fs rows=$n")
          (s"${pname}_mft$mft", dt, n)
        }
    val total = results.map(_._2).sum
    println(f"""{"metric":"stream_ppjoin_bench","value":$total%.2f,"unit":"sec","k":$k,"queries":{${
      results.map { case (n, t, rows) => f""""$n":[$t%.2f,$rows]""" }.mkString(",")}}}""")
    spark.stop()
  }
}
