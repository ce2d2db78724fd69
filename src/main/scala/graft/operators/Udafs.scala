package graft.operators

import graft.{Query, Tables}
import org.apache.spark.sql.{DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** User-defined aggregate surface (SURVEY.md §2.10 `AggregateFunction` /
  * `TableAggregateFunction`, §2.4 FirstValue/LastValue/SingleValue agg
  * functions).
  *
  * FIRST_VALUE/LAST_VALUE-by-time map to Spark's `min_by`/`max_by` (free);
  * SINGLE_VALUE (ref aggfunctions/SingleValueAggFunction.java: error on >1
  * row per group) and the table aggregate (ref TableAggregateFunction.java,
  * e.g. Top2: one group in, N rows out) have no built-in and are typed
  * `Aggregator`s — merged partial-first like every Spark UDAF, so they
  * two-phase correctly at scale. The table aggregate emits an array that is
  * exploded back to rows: group → rows is exactly the reference's
  * `TableAggregateFunction#emitValue` contract.
  */
object Udafs {

  /** SINGLE_VALUE: exactly one input row per group or the query fails. */
  object SingleValueAgg extends Aggregator[Double, (Double, Long), Double] {
    def zero: (Double, Long) = (0.0, 0L)
    def reduce(b: (Double, Long), v: Double): (Double, Long) = {
      require(b._2 == 0L, "SINGLE_VALUE: more than one row in group")
      (v, 1L)
    }
    def merge(a: (Double, Long), b: (Double, Long)): (Double, Long) = {
      require(a._2 + b._2 <= 1L, "SINGLE_VALUE: more than one row in group")
      if (a._2 == 1L) a else b
    }
    def finish(r: (Double, Long)): Double = {
      require(r._2 == 1L, "SINGLE_VALUE: empty group")
      r._1
    }
    def bufferEncoder: Encoder[(Double, Long)] = Encoders.tuple(Encoders.scalaDouble, Encoders.scalaLong)
    def outputEncoder: Encoder[Double] = Encoders.scalaDouble
  }

  /** Table aggregate Top2: per group, emit up to 2 (rank, event_id, value)
    * rows ordered by (value desc, event_id). */
  object Top2TableAgg extends Aggregator[(String, Long, Double), List[(Long, Double)], Seq[(Long, Double)]] {
    private def top(xs: List[(Long, Double)]): List[(Long, Double)] =
      xs.sortBy { case (id, v) => (-v, id) }.take(2)
    def zero: List[(Long, Double)] = Nil
    def reduce(b: List[(Long, Double)], v: (String, Long, Double)): List[(Long, Double)] =
      top((v._2, v._3) :: b)
    def merge(a: List[(Long, Double)], b: List[(Long, Double)]): List[(Long, Double)] = top(a ++ b)
    def finish(r: List[(Long, Double)]): Seq[(Long, Double)] = r
    def bufferEncoder: Encoder[List[(Long, Double)]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[List[(Long, Double)]]()
    def outputEncoder: Encoder[Seq[(Long, Double)]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[(Long, Double)]]()
  }

  /** FIRST_VALUE / LAST_VALUE by event time via min_by/max_by. */
  def firstLast(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "events")
      .groupBy(col("user_id"))
      .agg(
        min_by(col("event_type"), col("ts")).as("first_type"),
        max_by(col("event_type"), col("ts")).as("last_type"),
        round(min_by(col("value"), col("ts")), 2).as("first_value"),
        round(max_by(col("value"), col("ts")), 2).as("last_value"))
      .orderBy("user_id")

  /** SINGLE_VALUE over a key that is unique by construction (orderkey). */
  def singleValue(s: SparkSession, dir: String): DataFrame = {
    val sv = udaf(SingleValueAgg)
    Tables(s, dir, "orders")
      .where(col("o_orderkey") < 100)
      .groupBy(col("o_orderkey"))
      .agg(round(sv(col("o_totalprice")), 2).as("price"))
      .orderBy("o_orderkey")
  }

  /** Table aggregate: top-2 events per type, exploded back to rows. */
  def tableAggTop2(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir, "events")
      .select(col("event_type"), col("event_id"), col("value"))
      .as[(String, Long, Double)]
      .groupByKey(_._1)
      .agg(Top2TableAgg.toColumn.name("top2"))
      .toDF("event_type", "top2")
      .select(col("event_type"), posexplode(col("top2")).as(Seq("pos", "r")))
      .select(col("event_type"), (col("pos") + 1).as("rank"),
        col("r._1").as("event_id"), round(col("r._2"), 2).as("value"))
      .orderBy("event_type", "rank")
  }

  val queries: Seq[Query] = Seq(
    Query("q_agg_firstlast", firstLast,
      """SELECT user_id,
        | arg_min(event_type, CAST(ts AS TIMESTAMP)) AS first_type,
        | arg_max(event_type, CAST(ts AS TIMESTAMP)) AS last_type,
        | round(arg_min(value, CAST(ts AS TIMESTAMP)), 2) AS first_value,
        | round(arg_max(value, CAST(ts AS TIMESTAMP)), 2) AS last_value
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin),
    Query("q_agg_single_value", singleValue,
      """SELECT o_orderkey, round(min(o_totalprice), 2) AS price
        |FROM orders WHERE o_orderkey < 100
        |GROUP BY o_orderkey ORDER BY o_orderkey""".stripMargin),
    Query("q_tableagg_top2", tableAggTop2,
      """SELECT event_type, CAST(rn AS INT) AS rank, event_id, round(value, 2) AS value
        |FROM (SELECT event_type, event_id, value,
        |  row_number() OVER (PARTITION BY event_type ORDER BY value DESC, event_id) AS rn
        | FROM events) WHERE rn <= 2 ORDER BY event_type, rn""".stripMargin),
  )
}
