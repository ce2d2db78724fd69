package graft.operators

import graft.{Query, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-technique operators: partitioned writes with pruning, salted skew
  * joins, stream-static broadcast enrichment, and the native SUM0 agg.
  *
  * These exist to keep the 100 TB mechanics first-class and oracle-checked:
  * partition pruning (SURVEY.md §2.1 partitioned filesystem source/sink),
  * salting (the skew mitigation the build contract calls out), and the
  * broadcast-state pattern (§2.9) as a streaming query.
  */
object ScaleOps {

  /** Hive-style partitioned write + pruned read-back: orders written
    * partitionBy(o_orderstatus); the read filters one partition — at scale
    * the scan lists only that directory (PartitionFilters, not data
    * filters; asserted in PlanSpec). */
  def partitionedWrite(s: SparkSession, dir: String): DataFrame = {
    val path = s"/tmp/graft-fmt/part-orders-${dir.replaceAll("[^a-zA-Z0-9.]", "_")}"
    val orders = Tables(s, dir, "orders")
    orders.write.mode("overwrite").partitionBy("o_orderstatus").parquet(path)
    // explicit schema: an empty source writes zero part files and inference
    // would fail; pruning is unaffected (PartitionFilters pinned in PlanSpec)
    s.read.schema(orders.schema).parquet(path)
      .where(col("o_orderstatus") === "F")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("cnt"), round(sum("o_totalprice"), 2).as("total"))
      .orderBy("o_orderpriority")
  }

  /** Salted join: replicate the (small) build side `salt` ways and spread
    * each probe key across salt buckets, so one hot key occupies `salt`
    * reducers instead of one. Result is identical to the plain join —
    * the oracle proves it. */
  def saltedJoin(s: SparkSession, dir: String, salt: Int = 8): DataFrame = {
    val orders = Tables(s, dir, "orders")
      .withColumn("salt", pmod(col("o_orderkey"), lit(salt)).cast("int"))
    val customer = Tables(s, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"))
      .withColumn("salt", explode(expr(s"sequence(0, ${salt - 1})")))
    orders.join(customer,
        col("o_custkey") === col("c_custkey") && orders("salt") === customer("salt"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("cnt"), round(sum("o_totalprice"), 2).as("total"))
      .orderBy("c_mktsegment")
  }

  /** AQE skew-join rehearsal (ref SplitAggregateRule / skew handling,
    * SURVEY §2.4): a deliberately skewed fact — ~30% of lineitem rows
    * remapped onto ONE hot orderkey — shuffle-joined to orders with the
    * runtime skew-split enabled and thresholds scaled to the test data.
    * AQE detects the hot reducer partition and splits it across tasks
    * (SortMergeJoin(skew=true), asserted in PlanSpec); at 100 TB the same
    * plan splits a hot key's hundreds of GB instead. Result is identical
    * to the plain join — the oracle proves it. */
  def skewJoin(s: SparkSession, dir: String): DataFrame = {
    val confs = Seq(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "32KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16KB",
      // keep the hot path a genuine shuffle join: no broadcast, and no
      // coalescing pass hiding the split
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    graft.GraftSession.withConf(s, confs: _*) {
      skewJoinPlan(s, dir).localCheckpoint(true) // materialize under the scoped confs
    }
  }

  /** The skewed plan itself (shared with the PlanSpec skew assert).
    * AQE splits a skewed reduce partition into MAPPER-chunk ranges, so it
    * needs >1 mapper to split across; a 100 TB fact has thousands of
    * input splits, but the single-file fixture parquet has one — the
    * round-robin repartition stands in for those splits. */
  def skewJoinPlan(s: SparkSession, dir: String): DataFrame = {
    val li = Tables(s, dir, "lineitem")
      .repartition(16)
      .withColumn("jk",
        when(pmod(col("l_partkey"), lit(10)) < 3, lit(1L))
          .otherwise(col("l_orderkey")))
    li.join(Tables(s, dir, "orders"), col("jk") === col("o_orderkey"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("cnt"), round(sum("o_totalprice"), 2).as("total"))
      .orderBy("l_returnflag")
  }

  /** Stream-static join (§2.9 broadcast-state pattern): the events stream
    * enriched against the static customer dimension, aggregated per
    * segment. The static side is broadcast into every micro-batch. */
  def streamStaticJoin(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.StreamSource
    val dim = broadcast(Tables(s, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment")))
    val joined = StreamSource.events(s, dir)
      .join(dim, col("user_id") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("cnt"), round(sum("value"), 2).as("sum_value"))
    StreamSource.runToTable(s, joined, "stream_static_join", "complete")
      .orderBy("c_mktsegment")
  }

  /** Native SUM0 DeclarativeAggregate over a sparse join (empty groups → 0,
    * codegen'd partial+final like a built-in). */
  def sum0Native(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Sum0.sum0
    val big = Tables(s, dir, "orders").where(col("o_totalprice") > 450000)
    Tables(s, dir, "customer")
      .join(big, col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_mktsegment"))
      .agg(round(sum0(col("o_totalprice")), 2).as("sum0_total"),
        count(col("o_orderkey")).as("cnt"))
      .orderBy("c_mktsegment")
  }

  val queries: Seq[Query] = Seq(
    Query("q_part_prune", partitionedWrite,
      """SELECT o_orderpriority, count(*) AS cnt, round(sum(o_totalprice), 2) AS total
        |FROM orders WHERE o_orderstatus = 'F'
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),
    Query("q_join_skew", skewJoin,
      """SELECT l_returnflag, count(*) AS cnt, round(sum(o_totalprice), 2) AS total
        |FROM (SELECT CASE WHEN l_partkey % 10 < 3 THEN 1 ELSE l_orderkey END AS jk,
        |             l_returnflag FROM lineitem) l
        |JOIN orders ON jk = o_orderkey
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
    Query("q_join_salted", saltedJoin(_, _),
      """SELECT c_mktsegment, count(*) AS cnt, round(sum(o_totalprice), 2) AS total
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),
    Query("q_stream_static_join", streamStaticJoin,
      """SELECT c_mktsegment, count(*) AS cnt, round(sum(value), 2) AS sum_value
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),
    Query("q_agg_sum0_native", sum0Native,
      """SELECT c_mktsegment, round(coalesce(sum(o_totalprice), 0), 2) AS sum0_total,
        | count(o_orderkey) AS cnt
        |FROM customer LEFT JOIN (SELECT * FROM orders WHERE o_totalprice > 450000) o
        | ON c_custkey = o_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),
  )
}
