package graft.tools

import graft.SparkEntry

/** Plan-inspection aid: prints the formatted physical plan of the named
  * queries (usage: Explain <sfDir> <q1,q2,...>). */
object Explain {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, names) = args
    val spark = graft.GraftSession.local("explain")
    spark.sparkContext.setLogLevel("ERROR")
    names.split(",").foreach { n =>
      println(s"===== $n =====")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
