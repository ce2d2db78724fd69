package graft.tools

import graft.SparkEntry

/** Isolated re-timing of named queries under the same session config as
  * graft.Bench (usage: BenchOne <sfDir> <q1,q2,...> [reps]) — the tool for
  * root-causing a bench-median move: same master/shuffle settings, but no
  * 300-query session history, so a reproducible delta here is intrinsic to
  * the query + data, while a delta that vanishes here is session-state
  * contamination (heap/GC/state-store accumulation) in the long run. */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",").toSeq
    val reps = if (args.length > 2) args(2).toInt else 3
    val spark = graft.GraftSession.local("benchone")
    names.foreach { n =>
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        SparkEntry.queries(n)(spark, sfDir).count()
        val dt = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        org.apache.spark.sql.execution.streaming.state.StateStore.stop()
        dt
      }
      val rt = Runtime.getRuntime
      println(f"[benchone] $n%-28s ${times.map(t => f"$t%.2f").mkString(" ")}  min=${times.min}%.2f heapUsed=${(rt.totalMemory - rt.freeMemory) / (1 << 20)}%dMiB")
    }
    spark.stop()
  }
}
