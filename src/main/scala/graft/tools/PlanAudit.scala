package graft.tools

import graft.SparkEntry

/** Bulk plan dump for the optimization rounds (guide §1/§7.2): writes each
  * declared query's `explain("formatted")` text to <outDir>/<name>.txt plus
  * one summary line per query (Exchange count, join operators, scans with
  * empty PushedFilters) to <outDir>/_summary.tsv, so plan regressions and
  * optimization targets can be diffed/grepped without the Spark UI.
  *
  * Streaming-harness entries (their DataFrame is a drained memory sink —
  * the interesting plan ran inside the stream) are skipped by default;
  * pass a comma-list of names as arg 3 to force specific queries.
  *
  * Usage: PlanAudit <sfDir> <outDir> [names-csv|all]
  */
object PlanAudit {
  private val StreamPrefixes = Seq(
    "q_stream_", "q_sql_stream_", "q_sql_tvf_stream_", "q_cdc_stream",
    "q_state_", "q_topic_exactly_once", "q_proctime_")

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val only: Option[Set[String]] =
      if (args.length > 2 && args(2) != "all") Some(args(2).split(",").toSet)
      else None
    val spark = graft.GraftSession.local("planaudit")
    spark.sparkContext.setLogLevel("ERROR")
    val dir = new java.io.File(outDir)
    dir.mkdirs()
    val summary = new java.io.PrintWriter(new java.io.File(dir, "_summary.tsv"))
    summary.println("query\tbuild_sec\texchanges\treused_exchg\tbhj\tsmj\tshj\tbnlj\tcartesian\tscans_nofilter\twsc_spans\terr")
    val names = SparkEntry.queries.keys.toSeq.sorted.filter { n =>
      only.map(_.contains(n)).getOrElse(!StreamPrefixes.exists(n.startsWith))
    }
    names.foreach { n =>
      val t0 = System.nanoTime()
      try {
        val df = SparkEntry.queries(n)(spark, sfDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        val dt = (System.nanoTime() - t0) / 1e9
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(outDir, s"$n.txt"), txt)
        def cnt(p: String) = p.r.findAllMatchIn(txt).length
        // formatted mode: operators appear as "(N) OpName" in the numbered
        // tree. `Exchange` counts SHUFFLE exchanges only (the formatted
        // node name); broadcast exchanges appear as BroadcastExchange and
        // are counted into the same column (ADVICE r16: the former count
        // missed them)
        def op(name: String) = cnt(s"\\(\\d+\\) $name")
        val exchanges = op("Exchange") + op("BroadcastExchange")
        val scansNoFilter = "PushedFilters: \\[\\]".r.findAllMatchIn(txt).length
        summary.println(s"$n\t${f"$dt%.2f"}\t$exchanges\t${op("ReusedExchange")}\t" +
          s"${op("BroadcastHashJoin")}\t${op("SortMergeJoin")}\t${op("ShuffledHashJoin")}\t" +
          s"${op("BroadcastNestedLoopJoin")}\t${op("CartesianProduct")}\t" +
          s"$scansNoFilter\t${op("WholeStageCodegen")}\t")
      } catch { case e: Throwable =>
        val dt = (System.nanoTime() - t0) / 1e9
        summary.println(s"$n\t${f"$dt%.2f"}\t-\t-\t-\t-\t-\t-\t-\t-\t-\terr=${e.getClass.getSimpleName}")
      }
      summary.flush()
      spark.catalog.clearCache()
    }
    summary.close()
    spark.stop()
  }
}
