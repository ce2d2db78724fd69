package graft.tools

import graft.SparkEntry

/** Measurement aid (guide §1): splits a query invocation into
  *   build  — fixture ensure() + DataFrame construction + analysis,
  *   plan   — optimization + physical planning (executedPlan force),
  *   exec   — the timed action (count(), as Bench times it).
  * Usage: PhaseTime <sfDir> <q1,q2,...> [reps]. Session config mirrors
  * Bench/BenchOne so the split is attributable to the same plans. */
object PhaseTime {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",").toSeq
    val reps = if (args.length > 2) args(2).toInt else 3
    val spark = graft.GraftSession.local("phasetime")
    names.foreach { n =>
      (1 to reps).foreach { i =>
        val t0 = System.nanoTime()
        val df = SparkEntry.queries(n)(spark, sfDir)
        val t1 = System.nanoTime()
        df.queryExecution.executedPlan // force optimize + physical plan
        val t2 = System.nanoTime()
        df.count()
        val t3 = System.nanoTime()
        println(f"[phase] $n%-24s rep=$i build=${(t1 - t0) / 1e9}%.3f " +
          f"plan=${(t2 - t1) / 1e9}%.3f exec=${(t3 - t2) / 1e9}%.3f " +
          f"total=${(t3 - t0) / 1e9}%.3f")
        spark.catalog.clearCache()
      }
    }
    spark.stop()
  }
}
