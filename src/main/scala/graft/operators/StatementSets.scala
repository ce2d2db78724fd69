package graft.operators

import graft.{Query, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Statement sets (reference `flink-table/flink-table-api-java/src/main/
  * java/org/apache/flink/table/api/StatementSet.java`; planner dedup in
  * `PlannerBase.translate` → common-subgraph reuse): several INSERT INTO
  * statements planned and executed as ONE job, with the shared upstream
  * subplan computed once and fanned out to every sink.
  *
  * Spark-first shape: the shared subplan is `persist()`ed and each sink is a
  * normal write — the cache is the common-subgraph reuse (each sink's plan
  * scans InMemoryRelation instead of recomputing the join/agg; at scale the
  * cache spills per-partition, stays distributed, and is freed at the end of
  * the set). For streams the same fan-out is `foreachBatch` with a per-batch
  * persist — Spark's documented multi-sink idiom.
  */
object StatementSets {

  private def outDir(which: String, dir: String): String =
    s"/tmp/graft-stmtset/$which-${dir.replaceAll("[^a-zA-Z0-9.]", "_")}"

  /** The two sink plans over one shared subplan, exposed for the plan spec. */
  def sinkPlans(s: SparkSession, dir: String): (DataFrame, DataFrame, DataFrame) = {
    val li = Tables(s, dir, "lineitem")
    // shared expensive subplan: filtered scan + per-(suppkey, returnflag) agg
    val shared = li.where(col("l_quantity") < 30)
      .groupBy(col("l_suppkey"), col("l_returnflag"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("rev"))
      .persist()
    val byFlag = shared.groupBy(col("l_returnflag"))
      .agg(sum("cnt").as("cnt"), round(sum("rev"), 2).as("total"))
      .select(col("l_returnflag").as("k"), col("cnt"), col("total"))
    val topSupp = shared.groupBy(col("l_suppkey"))
      .agg(sum("cnt").as("cnt"), round(sum("rev"), 2).as("total"))
      .orderBy(col("total").desc, col("l_suppkey"))
      .limit(10)
      .select(col("l_suppkey").cast("string").as("k"), col("cnt"), col("total"))
    (shared, byFlag, topSupp)
  }

  /** q_stmt_multi_sink: execute the statement set — two INSERTs into two
    * parquet sinks from one shared subplan — then read both sinks back,
    * tagged, as one result the oracle can recompute. */
  def multiSink(s: SparkSession, dir: String): DataFrame = {
    val (shared, byFlag, topSupp) = sinkPlans(s, dir)
    val p1 = outDir("by-flag", dir)
    val p2 = outDir("top-supp", dir)
    try {
      byFlag.write.mode("overwrite").parquet(p1)
      topSupp.write.mode("overwrite").parquet(p2)
    } finally shared.unpersist()
    s.read.parquet(p1).withColumn("sink", lit("by_flag"))
      .unionAll(s.read.parquet(p2).withColumn("sink", lit("top_supp")))
      .select("sink", "k", "cnt", "total")
      .orderBy("sink", "k")
  }

  val queries: Seq[Query] = Seq(
    Query("q_stmt_multi_sink", multiSink,
      """WITH shared AS (
        | SELECT l_suppkey, l_returnflag, count(*) AS cnt,
        |        sum(l_extendedprice * (1 - l_discount)) AS rev
        | FROM lineitem WHERE l_quantity < 30
        | GROUP BY l_suppkey, l_returnflag)
        |SELECT 'by_flag' AS sink, l_returnflag AS k,
        |  CAST(sum(cnt) AS BIGINT) AS cnt, round(sum(rev), 2) AS total
        |FROM shared GROUP BY l_returnflag
        |UNION ALL
        |SELECT 'top_supp', k, cnt, total FROM (
        | SELECT l_suppkey::VARCHAR AS k, CAST(sum(cnt) AS BIGINT) AS cnt,
        |        round(sum(rev), 2) AS total
        | FROM shared GROUP BY l_suppkey
        | ORDER BY round(sum(rev), 2) DESC, l_suppkey LIMIT 10)
        |ORDER BY sink, k""".stripMargin),
  )
}
