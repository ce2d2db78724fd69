package graft.tools

import graft.SparkEntry

/** TPC-DS flagship rehearsal at the reference's own gate scale (r14,
  * VERDICT r13 #6): the reference's test_tpcds.sh runs dsdgen at SF=1;
  * this tool runs all 103 q_tpcdsr_* once at a chosen generator scale tag
  * ("sf1" → scale 100 = 10× the per-round bench's sf0.1 data) and prints
  * per-query wall seconds plus the FINAL adaptive plan's join-operator
  * counts (SortMergeJoin vs BroadcastHashJoin) so scale-driven AQE plan
  * flips are visible next to the timings.
  *
  * Usage: TpcdsScaleBench [sfTag] [q48,q64,...]   (default "sf1", all
  * queries; "sf0.1" re-times the bench scale with the same plan
  * instrumentation for the diff table; the optional second arg restricts
  * to named queries — the r15 heavyweight audit's handle).
  *
  * Conf-override knobs for the audit (r15, VERDICT r14 #6): set
  * GRAFT_TPCDS_BROADCAST (bytes, e.g. 67108864) to raise
  * autoBroadcastJoinThreshold — tests whether the SF=1 SMJ flips on
  * q48/q64/q72/q75 are CBO caution (dim sides still broadcastable) or the
  * genuinely right plan; GRAFT_TPCDS_PARTITIONS overrides
  * spark.sql.shuffle.partitions. */
object TpcdsScaleBench {
  def main(args: Array[String]): Unit = {
    val tag = args.headOption.getOrElse("sf1")
    val only: Option[Set[String]] = args.lift(1)
      .map(_.split(",").map(q => s"q_tpcdsr_${q.trim.stripPrefix("q_tpcdsr_")}").toSet)
    val spark = graft.GraftSession.local("tpcdsscale")
    val overrides =
      sys.env.get("GRAFT_TPCDS_BROADCAST").toSeq.flatMap(b => Seq(
        "spark.sql.autoBroadcastJoinThreshold" -> b,
        "spark.sql.adaptive.autoBroadcastJoinThreshold" -> b)) ++
      sys.env.get("GRAFT_TPCDS_PARTITIONS").map("spark.sql.shuffle.partitions" -> _)
    overrides.foreach { case (k, v) => System.err.println(s"[tpcds-scale] $k=$v") }
    graft.GraftSession.withConf(spark, overrides: _*) {
      val t0 = System.nanoTime()
      graft.tpcds.TpcdsData.ensure(spark, tag)
      val genSec = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[tpcds-scale] generate+register $tag: $genSec%.1fs")
      val names = graft.tpcds.TpcdsReal.queries.map(_.name).sorted
        .filter(n => only.forall(_.contains(n)))
      val results = names.map { n =>
        spark.catalog.clearCache()
        val q0 = System.nanoTime()
        val df = SparkEntry.queries(n)(spark, tag)
        val rows = df.count()
        val dt = (System.nanoTime() - q0) / 1e9
        // final (post-AQE) physical plan: join-operator census
        val plan = df.queryExecution.executedPlan.toString
        val smj = "SortMergeJoin".r.findAllIn(plan).size
        val bhj = "BroadcastHashJoin".r.findAllIn(plan).size
        System.err.println(f"[tpcds-scale] $n%-16s $dt%7.2fs rows=$rows%-8d smj=$smj bhj=$bhj")
        (n, dt, rows, smj, bhj)
      }
      val total = results.map(_._2).sum
      println(f"""{"metric":"tpcds_scale_bench","value":$total%.2f,"unit":"sec","tag":"$tag","gen_sec":$genSec%.1f,"queries":{${
        results.map { case (n, t, r, smj, bhj) =>
          f""""$n":[$t%.2f,$r,$smj,$bhj]""" }.mkString(",")}}}""")
    }
    spark.stop()
  }
}
