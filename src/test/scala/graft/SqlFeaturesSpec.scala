package graft

import graft.operators.{Formats, SqlSurface}
import org.apache.spark.sql.functions._

/** FLIP-113 (query hints) and FLIP-107 (metadata columns) analogs — the
  * oracle proves result parity; these pin that the hint actually reached
  * the planner and that `_metadata` carries real per-file facts. */
class SqlFeaturesSpec extends SparkSpec {

  test("MERGE hint forces SortMergeJoin where size stats would broadcast") {
    val hinted = SqlSurface.sqlHints(spark, sf)
    val plan = hinted.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), plan.take(800))
    // the same query hinted BROADCAST flips back — the hint, not the data,
    // picks the strategy
    val b = spark.sql(SqlSurface.hintSql.replace("MERGE(n)", "BROADCAST(n)"))
    assert(b.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"))
    // identical results either way
    assert(hinted.collect().toSeq == b.collect().toSeq)
  }

  test("_metadata columns expose per-file path, size, and dense row_index") {
    val perFile = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("_metadata.file_path").as("p"),
        col("_metadata.file_name").as("fn"),
        col("_metadata.file_size").as("sz"),
        col("_metadata.row_index").as("ri"))
      .groupBy("p", "fn")
      .agg(count(lit(1)).as("n"), min("ri").as("lo"), max("ri").as("hi"),
        countDistinct("ri").as("nri"), min("sz").as("s1"), max("sz").as("s2"))
      .collect()
    assert(perFile.nonEmpty)
    perFile.foreach { r =>
      assert(r.getAs[String]("fn").endsWith(".parquet"))
      assert(r.getAs[String]("p").endsWith(r.getAs[String]("fn")))
      // row_index is dense 0..n-1 within each file
      assert(r.getAs[Long]("lo") === 0L)
      assert(r.getAs[Long]("hi") === r.getAs[Long]("n") - 1)
      assert(r.getAs[Long]("nri") === r.getAs[Long]("n"))
      // file_size is a per-file constant
      assert(r.getAs[Long]("s1") === r.getAs[Long]("s2") && r.getAs[Long]("s1") > 0L)
    }
    // metadata columns prune like data columns: a file_name filter reaches
    // the scan without reading data columns
    val cnt = spark.read.parquet(s"$sf/documents.parquet")
      .where(col("_metadata.file_name").endsWith(".parquet")).count()
    assert(cnt === Tables(spark, sf, "documents").count())
  }

  test("ANALYZE TABLE statistics drive cost-based planning (Blink stats analog)") {
    // the reference's Blink planner costs plans from catalog statistics
    // (CatalogTableStatistics via FlinkRelMdRowCount); Spark's counterpart
    // is ANALYZE TABLE + spark.sql.cbo. Pin the full chain: stats land in
    // the catalog, propagate into optimizer estimates, and flip a join
    // strategy that file-size estimation alone gets wrong.
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_stats")
    Tables(spark, sf, "customer").write.mode("overwrite")
      .saveAsTable("graft_stats.customer_s")
    Tables(spark, sf, "orders").write.mode("overwrite")
      .saveAsTable("graft_stats.orders_s")
    spark.sql("ANALYZE TABLE graft_stats.customer_s COMPUTE STATISTICS FOR ALL COLUMNS")
    spark.sql("ANALYZE TABLE graft_stats.orders_s COMPUTE STATISTICS")
    val expected = Tables(spark, sf, "customer").count()
    // the catalog's exact table size: the threshold goes just UNDER it, so
    // plain size propagation (filter keeps the full sizeInBytes) cannot
    // broadcast, while CBO's selectivity-scaled estimate (~1/5 of rows for
    // the segment filter) lands far below
    val tableBytes = spark.table("graft_stats.customer_s")
      .queryExecution.optimizedPlan.stats.sizeInBytes
    GraftSession.withConf(spark, "spark.sql.cbo.enabled" -> "true",
        "spark.sql.cbo.joinReorder.enabled" -> "true",
        "spark.sql.autoBroadcastJoinThreshold" -> s"${tableBytes - 1}",
        "spark.sql.adaptive.enabled" -> "false") {
      // (a) exact row count lands in the optimizer's estimate (rowCount is
      // only surfaced by the CBO stats visitor)
      val est = spark.table("graft_stats.customer_s")
        .queryExecution.optimizedPlan.stats.rowCount
      assert(est.contains(BigInt(expected)),
        s"optimizer rowCount $est != analyzed $expected")
      val q = """SELECT o.o_orderpriority, count(*) AS n
                |FROM graft_stats.orders_s o
                |JOIN graft_stats.customer_s c ON o.o_custkey = c.c_custkey
                |WHERE c.c_mktsegment = 'BUILDING'
                |GROUP BY o.o_orderpriority""".stripMargin
      val withCbo = spark.sql(q).queryExecution.executedPlan.toString
      // (b) column stats price the filtered build side under the threshold
      assert(withCbo.contains("BroadcastHashJoin"),
        s"CBO + column stats should broadcast the filtered side:\n${withCbo.take(1200)}")
      // (c) the estimates themselves: with CBO the segment filter's
      // selectivity (1/5 from column stats) shrinks both rowCount and
      // sizeInBytes; size-only propagation cannot know the selectivity
      val filtered = spark.table("graft_stats.customer_s")
        .filter(col("c_mktsegment") === "BUILDING")
      val cboStats = filtered.queryExecution.optimizedPlan.stats
      assert(cboStats.rowCount.exists(rc => rc > 0 && rc < expected / 2),
        s"CBO filtered rowCount ${cboStats.rowCount} should be ~1/5 of $expected")
      spark.conf.set("spark.sql.cbo.enabled", "false")
      val plainStats = spark.table("graft_stats.customer_s")
        .filter(col("c_mktsegment") === "BUILDING")
        .queryExecution.optimizedPlan.stats
      assert(cboStats.sizeInBytes < plainStats.sizeInBytes,
        s"CBO size ${cboStats.sizeInBytes} should undercut size-only " +
          s"propagation ${plainStats.sizeInBytes}")
    }
  }
}
