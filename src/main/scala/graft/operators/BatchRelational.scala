package graft.operators

import graft.{Query, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Batch relational operators (SURVEY.md §2.2–§2.7), expressed as declarative
  * DataFrame plans so Catalyst picks the physical strategy.
  *
  * Scale notes (100 TB):
  *  - Aggregations are two-phase (partial + final HashAggregate) automatically.
  *  - Dimension joins (region/nation/supplier/part ≪ fact tables) broadcast —
  *    `broadcast()` is explicit where the dim side is provably small so the
  *    plan never degrades to a shuffled join when stats are missing.
  *  - Doubles that flow to the correctness oracle are rounded at the END of
  *    each aggregation chain (never mid-plan), so plans stay fully pushed-down.
  */
object BatchRelational {

  private def t(s: SparkSession, dir: String, n: String) = Tables(s, dir, n)

  /** TPC-H Q1 shape: pushdown filter + 2-phase hash agg + sort.
    * Ref: flink-table-planner-blink BatchExecHashAggregate / BatchExecSort. */
  def q1Agg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .where(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum("l_quantity"), 2).as("sum_qty"),
        round(sum("l_extendedprice"), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
        round(avg("l_quantity"), 6).as("avg_qty"),
        round(avg("l_discount"), 6).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  /** Inner join chain over the star schema with dimension broadcast.
    * Ref: HashJoinOperator.java:58 / BatchExecHashJoin.scala:53. */
  def joinInner(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(round(sum("o_totalprice"), 2).as("revenue"), count(lit(1)).as("n_orders"))
      .orderBy("r_name", "n_name")

  /** Left outer join keeping customers with no orders.
    * Ref: SortMergeJoinOperator.java:62 (all join types). */
  def joinLeft(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey"), col("c_name"))
      .agg(count(col("o_orderkey")).as("n_orders"),
           round(coalesce(sum("o_totalprice"), lit(0.0)), 2).as("total"))
      .orderBy("c_custkey")

  /** Full outer join on aggregated sides (exercises null-padding both ways). */
  def joinFull(s: SparkSession, dir: String): DataFrame = {
    val bySupp = t(s, dir, "lineitem").groupBy(col("l_suppkey").as("k"))
      .agg(count(lit(1)).as("li_cnt"))
    val supp = t(s, dir, "supplier").select(col("s_suppkey").as("k2"), col("s_acctbal"))
    bySupp.join(supp, col("k") === col("k2"), "full")
      .select(coalesce(col("k"), col("k2")).as("suppkey"),
              coalesce(col("li_cnt"), lit(0L)).as("li_cnt"),
              round(coalesce(col("s_acctbal"), lit(0.0)), 2).as("acctbal"))
      .orderBy("suppkey")
  }

  /** Left-semi join = SQL EXISTS. Ref: HashJoinOperator semi mode. */
  def joinSemi(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .join(t(s, dir, "orders").where(col("o_totalprice") > 100000),
            col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"))
      .orderBy("c_custkey")

  /** Left-anti join = SQL NOT EXISTS. Ref: HashJoinOperator anti mode. */
  def joinAnti(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .join(t(s, dir, "orders").where(col("o_totalprice") > 400000),
            col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
      .orderBy("c_custkey")

  /** Cartesian product (tiny × tiny). Ref: BatchExecNestedLoopJoin.scala:45. */
  def joinCross(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "region").crossJoin(t(s, dir, "nation"))
      .select(col("r_name"), col("n_name"))
      .orderBy("r_name", "n_name")

  /** Theta (non-equi) join → broadcast nested loop.
    * Ref: NestedLoopJoinCodeGenerator.scala. */
  def joinTheta(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "supplier")
      .join(broadcast(t(s, dir, "nation")), col("s_nationkey") < col("n_nationkey"))
      .groupBy(col("s_suppkey"))
      .agg(count(lit(1)).as("n_gt"))
      .orderBy("s_suppkey")

  /** Aggregate with DISTINCT (Expand-based rewrite).
    * Ref: SplitAggregateRule.scala / distinct-agg decomposition. */
  def aggDistinct(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_suppkey")).as("n_supp"),
           countDistinct(col("l_partkey")).as("n_part"),
           count(lit(1)).as("n_rows"))
      .orderBy("l_returnflag")

  /** Statistical aggregates. Ref: aggfunctions + WindowAggregateReduceFunctionsRule. */
  def aggStats(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_linestatus"))
      .agg(
        round(stddev_pop(col("l_quantity")), 6).as("sd_pop"),
        round(stddev_samp(col("l_quantity")), 6).as("sd_samp"),
        round(var_pop(col("l_quantity")), 6).as("v_pop"),
        round(var_samp(col("l_quantity")), 6).as("v_samp"),
        round(min(col("l_quantity")), 2).as("min_q"),
        round(max(col("l_quantity")), 2).as("max_q"))
      .orderBy("l_linestatus")

  /** GROUPING SETS via rollup + grouping_id.
    * Ref: DecomposeGroupingSetsRule.scala:205. */
  def aggRollup(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(round(sum("l_quantity"), 2).as("sum_qty"),
           count(lit(1)).as("cnt"),
           grouping_id().cast("int").as("gid"))
      .orderBy(col("gid"), col("l_returnflag"), col("l_linestatus"))

  /** CUBE. Ref: same decomposition family. */
  def aggCube(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("cnt"),
           round(sum("o_totalprice"), 2).as("total"),
           grouping_id().cast("int").as("gid"))
      .orderBy(col("gid"), col("o_orderstatus"), col("o_orderpriority"))

  /** LISTAGG with deterministic element order.
    * Ref: aggfunctions/ListAggFunction. Spark: sort_array(collect_list). */
  def aggListagg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "nation")
      .groupBy(col("n_regionkey"))
      .agg(array_join(sort_array(collect_list(col("n_name"))), ",").as("nations"))
      .orderBy("n_regionkey")

  /** Exact percentiles (linear interpolation over the sorted values — the
    * same definition as DuckDB quantile_cont, so the oracle is exact). */
  def aggPercentile(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        round(expr("percentile(l_quantity, 0.5)"), 6).as("p50"),
        round(expr("percentile(l_quantity, 0.9)"), 6).as("p90"),
        round(expr("percentile(l_extendedprice, 0.25)"), 6).as("price_p25"))
      .orderBy("l_returnflag")

  /** COLLECT / MULTISET aggregation: the value multiset per group,
    * canonicalized by sorting (ref: aggfunctions CollectAggFunction). */
  def aggCollect(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "supplier")
      .groupBy(col("s_nationkey"))
      .agg(
        // serialized to a comma-joined string: the driver's pandas hash
        // compare can't sort array cells, and bigint→string is format-stable
        // across Spark and DuckDB
        array_join(sort_array(collect_list(col("s_suppkey"))).cast("array<string>"), ",").as("supps"),
        array_join(sort_array(collect_set(col("s_nationkey"))).cast("array<string>"), ",").as("nk_set"))
      .orderBy("s_nationkey")

  /** SUM0 semantics (empty group → 0 not NULL): coalesce(sum, 0).
    * Ref: aggfunctions/Sum0AggFunction. */
  def aggSum0(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .join(t(s, dir, "orders").where(col("o_totalprice") > 450000),
            col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_mktsegment"))
      .agg(round(coalesce(sum("o_totalprice"), lit(0.0)), 2).as("sum0_total"),
           count(col("o_orderkey")).as("cnt"))
      .orderBy("c_mktsegment")

  // ---- Set operations (§2.7) -------------------------------------------

  private def custKeys(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "orders").where(col("o_orderstatus") === "F")
      .select(col("o_custkey").as("k"))
  private def custKeys2(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "orders").where(col("o_totalprice") > 200000)
      .select(col("o_custkey").as("k"))

  def setUnionAll(s: SparkSession, dir: String): DataFrame =
    custKeys(s, dir).union(custKeys2(s, dir))
      .groupBy(col("k")).agg(count(lit(1)).as("cnt")).orderBy("k")

  def setUnion(s: SparkSession, dir: String): DataFrame =
    custKeys(s, dir).union(custKeys2(s, dir)).distinct().orderBy("k")

  def setIntersect(s: SparkSession, dir: String): DataFrame =
    custKeys(s, dir).intersect(custKeys2(s, dir)).orderBy("k")

  def setIntersectAll(s: SparkSession, dir: String): DataFrame =
    custKeys(s, dir).intersectAll(custKeys2(s, dir))
      .groupBy(col("k")).agg(count(lit(1)).as("cnt")).orderBy("k")

  def setExcept(s: SparkSession, dir: String): DataFrame =
    custKeys(s, dir).except(custKeys2(s, dir)).orderBy("k")

  def setExceptAll(s: SparkSession, dir: String): DataFrame =
    custKeys(s, dir).exceptAll(custKeys2(s, dir))
      .groupBy(col("k")).agg(count(lit(1)).as("cnt")).orderBy("k")

  // ---- Sort / limit / Top-N / dedup (§2.6) -----------------------------

  /** ORDER BY + LIMIT → TakeOrderedAndProject (no full sort at scale).
    * Ref: SortLimitOperator.java:39. */
  def sortLimit(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(25)
      .select(col("o_orderkey"), round(col("o_totalprice"), 2).as("o_totalprice"))

  /** Top-N per group: ROW_NUMBER + filter (WindowGroupLimit pushdown in Spark 3.5+).
    * Ref: rank/AppendOnlyTopNFunction.java:48 (batch analog BatchExecRank). */
  def topNPerGroup(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    t(s, dir, "orders")
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= 3)
      .select(col("o_orderpriority"), col("rn"), col("o_orderkey"),
              round(col("o_totalprice"), 2).as("o_totalprice"))
      .orderBy("o_orderpriority", "rn")
  }

  /** Keep-first dedup per key ordered by (time, id).
    * Ref: deduplicate/RowTimeDeduplicateFunction.java:33. */
  def dedupFirst(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    t(s, dir, "events")
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col("user_id"), col("event_id"), col("event_type"))
      .orderBy("user_id")
  }

  /** Keep-last dedup per key (ROW_NUMBER over ts DESC). */
  def dedupLast(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    t(s, dir, "events")
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col("user_id"), col("event_id"), col("event_type"))
      .orderBy("user_id")
  }

  // ---- Over windows, batch (§2.5) --------------------------------------

  /** ROWS BETWEEN n PRECEDING AND CURRENT ROW running aggregates.
    * Ref: BatchExecOverAggregate.scala:59 + over/frame classes. */
  def overRows(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    t(s, dir, "events")
      .select(col("user_id"), col("event_id"),
        round(sum("value").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)), 4).as("run_sum"),
        round(avg("value").over(w.rowsBetween(-2, 0)), 6).as("mavg3"),
        count(lit(1)).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)).as("run_cnt"))
      .orderBy("user_id", "event_id")
  }

  /** RANK / DENSE_RANK / NTILE / PERCENT_RANK family. */
  def overRank(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("c_mktsegment")).orderBy(col("c_acctbal").desc, col("c_custkey"))
    t(s, dir, "customer")
      .select(col("c_mktsegment"), col("c_custkey"),
        rank().over(w).as("rnk"),
        dense_rank().over(w).as("drnk"),
        row_number().over(w).as("rn"))
      .orderBy("c_mktsegment", "rn")
  }

  /** LEAD / LAG with defaults. Ref: aggfunctions LeadLag. */
  def overLeadLag(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    t(s, dir, "events")
      .select(col("user_id"), col("event_id"),
        lag(col("event_id"), 1, -1L).over(w).as("prev_id"),
        lead(col("event_id"), 1, -1L).over(w).as("next_id"))
      .orderBy("user_id", "event_id")
  }

  /** RANGE BETWEEN frame on a numeric ordering column. */
  def overRange(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("p_brand")).orderBy(col("p_size"))
      .rangeBetween(-2, 0)
    t(s, dir, "part")
      .select(col("p_brand"), col("p_partkey"), col("p_size"),
        count(lit(1)).over(w).as("n_close"))
      .orderBy("p_brand", "p_partkey")
  }

  // ---- Correlate / UNNEST (§2.2) ---------------------------------------

  /** UNNEST(split(...)) — lateral explode. Ref: LogicalUnnestRule.scala:41,
    * CorrelateCodeGenerator.scala. */
  def unnestWords(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "part")
      .select(explode(split(col("p_name"), " ")).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      .orderBy("word")

  /** VALUES literal rows. Ref: ValuesCodeGenerator.scala. */
  def valuesScan(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "tag").orderBy("id")
  }

  /** Typed coGroup (§2.3 row 19; ref DataStream.coGroup / CoGroupFunction):
    * both sides' rows for a key arrive as two iterators in one function —
    * here customers × their orders, emitting per-customer order stats that
    * need BOTH iterators at once (count above the customer's own balance).
    * Physically one co-partitioned shuffle per side, like the reference's
    * CoGroupOperator. */
  def coGroup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    case class CustRow(c_custkey: Long, c_acctbal: Double)
    case class OrdRow(o_custkey: Long, o_totalprice: Double)
    val cust = t(s, dir, "customer")
      .select(col("c_custkey"), col("c_acctbal")).as[(Long, Double)]
    val ords = t(s, dir, "orders")
      .select(col("o_custkey"), col("o_totalprice")).as[(Long, Double)]
    cust.groupByKey(_._1).cogroup(ords.groupByKey(_._1)) {
      (key, cs, os) =>
        val c = cs.toSeq
        if (c.isEmpty) Iterator.empty // orders with no customer: drop
        else {
          val bal = c.head._2
          val prices = os.map(_._2).toSeq
          Iterator.single((key, prices.length.toLong,
            prices.count(_ > bal * 50).toLong,
            math.rint(prices.sum * 100) / 100))
        }
    }.toDF("c_custkey", "n_orders", "n_above", "total")
      .orderBy("c_custkey")
  }

  val queries: Seq[Query] = Seq(
    Query("q1_agg", q1Agg,
      """SELECT l_returnflag, l_linestatus,
        | round(sum(l_quantity),2) AS sum_qty,
        | round(sum(l_extendedprice),2) AS sum_base_price,
        | round(sum(l_extendedprice*(1-l_discount)),2) AS sum_disc_price,
        | round(avg(l_quantity),6) AS avg_qty,
        | round(avg(l_discount),6) AS avg_disc,
        | count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),
    Query("q_join_inner", joinInner,
      """SELECT r_name, n_name, round(sum(o_totalprice),2) AS revenue, count(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey=c_custkey
        |JOIN nation ON c_nationkey=n_nationkey
        |JOIN region ON n_regionkey=r_regionkey
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin),
    Query("q_join_left", joinLeft,
      """SELECT c_custkey, c_name, count(o_orderkey) AS n_orders,
        | round(coalesce(sum(o_totalprice),0),2) AS total
        |FROM customer LEFT JOIN orders ON c_custkey=o_custkey
        |GROUP BY c_custkey, c_name ORDER BY c_custkey""".stripMargin),
    Query("q_join_full", joinFull,
      """SELECT coalesce(k, k2) AS suppkey, coalesce(li_cnt, 0) AS li_cnt,
        | round(coalesce(s_acctbal, 0),2) AS acctbal
        |FROM (SELECT l_suppkey AS k, count(*) AS li_cnt FROM lineitem GROUP BY l_suppkey) a
        |FULL JOIN (SELECT s_suppkey AS k2, s_acctbal FROM supplier) b ON k=k2
        |ORDER BY suppkey""".stripMargin),
    Query("q_join_semi", joinSemi,
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey=c_custkey AND o_totalprice>100000)
        |ORDER BY c_custkey""".stripMargin),
    Query("q_join_anti", joinAnti,
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey=c_custkey AND o_totalprice>400000)
        |ORDER BY c_custkey""".stripMargin),
    Query("q_join_cross", joinCross,
      """SELECT r_name, n_name FROM region CROSS JOIN nation
        |ORDER BY r_name, n_name""".stripMargin),
    Query("q_join_theta", joinTheta,
      """SELECT s_suppkey, count(*) AS n_gt
        |FROM supplier JOIN nation ON s_nationkey < n_nationkey
        |GROUP BY s_suppkey ORDER BY s_suppkey""".stripMargin),
    Query("q_agg_distinct", aggDistinct,
      """SELECT l_returnflag, count(DISTINCT l_suppkey) AS n_supp,
        | count(DISTINCT l_partkey) AS n_part, count(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
    Query("q_agg_stats", aggStats,
      """SELECT l_linestatus,
        | round(stddev_pop(l_quantity),6) AS sd_pop,
        | round(stddev_samp(l_quantity),6) AS sd_samp,
        | round(var_pop(l_quantity),6) AS v_pop,
        | round(var_samp(l_quantity),6) AS v_samp,
        | round(min(l_quantity),2) AS min_q,
        | round(max(l_quantity),2) AS max_q
        |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin),
    Query("q_agg_rollup", aggRollup,
      """SELECT l_returnflag, l_linestatus, round(sum(l_quantity),2) AS sum_qty,
        | count(*) AS cnt, CAST(grouping(l_returnflag, l_linestatus) AS INT) AS gid
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin),
    Query("q_agg_cube", aggCube,
      """SELECT o_orderstatus, o_orderpriority, count(*) AS cnt,
        | round(sum(o_totalprice),2) AS total,
        | CAST(grouping(o_orderstatus, o_orderpriority) AS INT) AS gid
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY gid, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin),
    Query("q_agg_listagg", aggListagg,
      """SELECT n_regionkey, string_agg(n_name, ',' ORDER BY n_name) AS nations
        |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin),
    Query("q_agg_sum0", aggSum0,
      """SELECT c_mktsegment, round(coalesce(sum(o_totalprice),0),2) AS sum0_total,
        | count(o_orderkey) AS cnt
        |FROM customer LEFT JOIN (SELECT * FROM orders WHERE o_totalprice>450000) o
        | ON c_custkey=o_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),
    Query("q_agg_percentile", aggPercentile,
      """SELECT l_returnflag,
        | round(quantile_cont(l_quantity, 0.5), 6) AS p50,
        | round(quantile_cont(l_quantity, 0.9), 6) AS p90,
        | round(quantile_cont(l_extendedprice, 0.25), 6) AS price_p25
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
    Query("q_agg_collect", aggCollect,
      """SELECT s_nationkey,
        | array_to_string(list_sort(list(s_suppkey)), ',') AS supps,
        | array_to_string(list_sort(list_distinct(list(s_nationkey))), ',') AS nk_set
        |FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin),
    Query("q_set_union_all", setUnionAll,
      """SELECT k, count(*) AS cnt FROM (
        | SELECT o_custkey AS k FROM orders WHERE o_orderstatus='F'
        | UNION ALL SELECT o_custkey AS k FROM orders WHERE o_totalprice>200000
        |) GROUP BY k ORDER BY k""".stripMargin),
    Query("q_set_union", setUnion,
      """SELECT o_custkey AS k FROM orders WHERE o_orderstatus='F'
        |UNION SELECT o_custkey AS k FROM orders WHERE o_totalprice>200000
        |ORDER BY k""".stripMargin),
    Query("q_set_intersect", setIntersect,
      """SELECT o_custkey AS k FROM orders WHERE o_orderstatus='F'
        |INTERSECT SELECT o_custkey AS k FROM orders WHERE o_totalprice>200000
        |ORDER BY k""".stripMargin),
    Query("q_set_intersect_all", setIntersectAll,
      """SELECT k, count(*) AS cnt FROM (
        | SELECT o_custkey AS k FROM orders WHERE o_orderstatus='F'
        | INTERSECT ALL SELECT o_custkey AS k FROM orders WHERE o_totalprice>200000
        |) GROUP BY k ORDER BY k""".stripMargin),
    Query("q_set_except", setExcept,
      """SELECT o_custkey AS k FROM orders WHERE o_orderstatus='F'
        |EXCEPT SELECT o_custkey AS k FROM orders WHERE o_totalprice>200000
        |ORDER BY k""".stripMargin),
    Query("q_set_except_all", setExceptAll,
      """SELECT k, count(*) AS cnt FROM (
        | SELECT o_custkey AS k FROM orders WHERE o_orderstatus='F'
        | EXCEPT ALL SELECT o_custkey AS k FROM orders WHERE o_totalprice>200000
        |) GROUP BY k ORDER BY k""".stripMargin),
    Query("q_sort_limit", sortLimit,
      """SELECT o_orderkey, round(o_totalprice,2) AS o_totalprice
        |FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 25""".stripMargin),
    Query("q_topn_group", topNPerGroup,
      """SELECT o_orderpriority, rn, o_orderkey, round(o_totalprice,2) AS o_totalprice
        |FROM (SELECT o_orderpriority, o_orderkey, o_totalprice,
        |  row_number() OVER (PARTITION BY o_orderpriority
        |    ORDER BY o_totalprice DESC, o_orderkey) AS rn FROM orders)
        |WHERE rn <= 3 ORDER BY o_orderpriority, rn""".stripMargin),
    Query("q_dedup_first", dedupFirst,
      """SELECT user_id, event_id, event_type FROM (
        | SELECT user_id, event_id, event_type,
        |  row_number() OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rn
        | FROM events) WHERE rn=1 ORDER BY user_id""".stripMargin),
    Query("q_dedup_last", dedupLast,
      """SELECT user_id, event_id, event_type FROM (
        | SELECT user_id, event_id, event_type,
        |  row_number() OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
        | FROM events) WHERE rn=1 ORDER BY user_id""".stripMargin),
    Query("q_over_rows", overRows,
      """SELECT user_id, event_id,
        | round(sum(value) OVER w_unb, 4) AS run_sum,
        | round(avg(value) OVER w3, 6) AS mavg3,
        | count(*) OVER w_unb AS run_cnt
        |FROM events
        |WINDOW w_unb AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        | w3 AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
        |   ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, event_id""".stripMargin),
    Query("q_over_rank", overRank,
      """SELECT c_mktsegment, c_custkey,
        | rank() OVER w AS rnk, dense_rank() OVER w AS drnk, row_number() OVER w AS rn
        |FROM customer
        |WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey)
        |ORDER BY c_mktsegment, rn""".stripMargin),
    Query("q_over_leadlag", overLeadLag,
      """SELECT user_id, event_id,
        | lag(event_id, 1, -1) OVER w AS prev_id,
        | lead(event_id, 1, -1) OVER w AS next_id
        |FROM events WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
        |ORDER BY user_id, event_id""".stripMargin),
    Query("q_over_range", overRange,
      """SELECT p_brand, p_partkey, p_size, count(*) OVER w AS n_close
        |FROM part
        |WINDOW w AS (PARTITION BY p_brand ORDER BY p_size
        |  RANGE BETWEEN 2 PRECEDING AND CURRENT ROW)
        |ORDER BY p_brand, p_partkey""".stripMargin),
    Query("q_unnest_words", unnestWords,
      """SELECT word, count(*) AS cnt
        |FROM (SELECT unnest(string_split(p_name, ' ')) AS word FROM part)
        |GROUP BY word ORDER BY word""".stripMargin),
    Query("q_values", valuesScan,
      """SELECT * FROM (VALUES (1,'a'),(2,'b'),(3,'c')) AS t(id, tag) ORDER BY id"""),
    Query("q_cogroup", coGroup,
      """SELECT c_custkey, count(o_orderkey) AS n_orders,
        | CAST(coalesce(sum(CASE WHEN o_totalprice > c_acctbal * 50 THEN 1 END), 0) AS BIGINT) AS n_above,
        | round(coalesce(sum(o_totalprice), 0), 2) AS total
        |FROM customer LEFT JOIN orders ON o_custkey = c_custkey
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin),
  )
}
