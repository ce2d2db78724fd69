package graft.tools


/** Measurement aid: cost of TpcdsData.ensure() (24-view re-registration)
  * alone, repeated. Usage: EnsureTime <sfDir> [reps]. */
object EnsureTime {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val reps = if (args.length > 1) args(1).toInt else 10
    val spark = graft.GraftSession.local("ensuretime")
    graft.tpcds.TpcdsData.ensure(spark, sfDir) // generation, if any, paid here
    (1 to reps).foreach { i =>
      val t0 = System.nanoTime()
      graft.tpcds.TpcdsData.ensure(spark, sfDir)
      val t1 = System.nanoTime()
      println(f"[ensure] rep=$i sec=${(t1 - t0) / 1e9}%.4f")
    }
    spark.stop()
  }
}
