package graft.tools

import org.apache.spark.sql.functions._

/** A/B timing of the span-strip rewrite variants (naive exists-over-starts
  * vs merged-interval probe) on an arbitrary corpus dir — used to separate
  * host drift from real regressions in the ScaleBench span_strip row.
  * Usage: tools/run.sh graft.tools.SpanStripBench <dir> [reps] */
object SpanStripBench {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val reps = args.lift(1).map(_.toInt).getOrElse(2)
    val spark = graft.GraftSession.local("spanstrip")
    for (r <- 1 to reps; naive <- Seq(true, false)) {
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      val out = graft.operators.Dedup
        .spanStripRewrite(graft.Tables(spark, dir, "documents"), naive)
        .agg(sum(col("n_removed")), count(lit(1))).head()
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"[spanstrip] rep=$r naive=$naive%-5s $dt%8.2fs rows=${out.getLong(1)}")
    }
    spark.stop()
  }
}
