package graft.tools

import graft.SparkEntry
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}

/** Job/stage-count audit for the mid-tier sweep (r17, guide §1): counts
  * Spark jobs and completed stages per declared query under the bench's
  * session config. A query whose plan is "1-3 real shuffles" should show a
  * correspondingly small job count; a surprise (internal .count(), two-pass
  * write, uncached multi-action operator) shows up as extra jobs that the
  * per-query seconds alone cannot attribute.
  *
  * Usage: JobCount <sfDir> <q1,q2,...> */
object JobCount {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",").toSeq
    val spark = graft.GraftSession.local("jobcount")
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val stages = new java.util.concurrent.atomic.AtomicInteger(0)
    val tasks = new java.util.concurrent.atomic.AtomicInteger(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        tasks.addAndGet(sc.stageInfo.numTasks)
      }
    })
    names.foreach { n =>
      val t0 = System.nanoTime()
      jobs.set(0); stages.set(0); tasks.set(0)
      try {
        SparkEntry.queries(n)(spark, sfDir).count()
        val dt = (System.nanoTime() - t0) / 1e9
        // listener bus is async: give the tail events a moment to land
        Thread.sleep(150)
        println(f"[jobcount] $n%-28s $dt%7.2fs jobs=${jobs.get}%-4d stages=${stages.get}%-4d tasks=${tasks.get}")
      } catch { case e: Throwable =>
        println(s"[jobcount] $n FAILED ${e.getClass.getSimpleName}")
      }
      spark.catalog.clearCache()
      org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    }
    spark.stop()
  }
}
