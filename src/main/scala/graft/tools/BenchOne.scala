package graft.tools

import graft.SparkEntry
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Isolated re-timing of named queries under the same session config as
  * graft.Bench (usage: BenchOne <sfDir> <q1,q2,...> [reps]) — the tool for
  * root-causing a bench-median move: same master/shuffle settings, but no
  * 300-query session history, so a reproducible delta here is intrinsic to
  * the query + data, while a delta that vanishes here is session-state
  * contamination (heap/GC/state-store accumulation) in the long run.
  *
  * Each rep also reports its codegen compiles as `count/ms`: the change in
  * the count of `CodegenMetrics.METRIC_COMPILATION_TIME` and in
  * `CodeGenerator.compileTime`. Spark caches generated classes per JVM, so
  * a warm rep that compiles anything has missed that cache. */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",").toSeq
    val reps = if (args.length > 2) args(2).toInt else 3
    val spark = graft.GraftSession.local("benchone")
    names.foreach { n =>
      val runs = (1 to reps).map { _ =>
        val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        val ns0 = CodeGenerator.compileTime
        val t0 = System.nanoTime()
        SparkEntry.queries(n)(spark, sfDir).count()
        val dt = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        org.apache.spark.sql.execution.streaming.state.StateStore.stop()
        (dt, CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0,
          (CodeGenerator.compileTime - ns0) / 1000000)
      }
      val times = runs.map(_._1)
      val rt = Runtime.getRuntime
      println(f"[benchone] $n%-28s ${times.map(t => f"$t%.2f").mkString(" ")}  min=${times.min}%.2f heapUsed=${(rt.totalMemory - rt.freeMemory) / (1 << 20)}%dMiB")
      println(f"[benchone] $n%-28s compiles ${runs.map(r => s"${r._2}/${r._3}ms").mkString(" ")}")
    }
    spark.stop()
  }
}
