package graft.operators

import graft.Query
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** `FOR SYSTEM_TIME AS OF` temporal-join SQL (reference: the 1.12 temporal
  * table join syntax — parser production in flink-sql-parser, planner
  * `StreamExecTemporalJoin.scala`, runtime `TemporalRowTimeJoinOperator
  * .java:77`; docs/dev/table/streaming/joins.md "Event Time Temporal
  * Join"): each probe row joins the version of the build table valid at
  * the probe's event time — the latest build row whose rowtime is at or
  * before it.
  *
  * Spark has no SYSTEM_TIME production, so this is a dialect adapter in
  * the same mold as GroupWindowSql: the canonical
  * `FROM <probe> [AS] p JOIN <build> FOR SYSTEM_TIME AS OF p.<ts> [AS] b
  * ON p.<k> = b.<k>` statement is parsed and lowered onto the engine's
  * first-class AsOfJoin planner operator (graft.plans.AsOfJoin — the
  * co-partitioned merge / broadcast version-index physical plans), after
  * which SELECT and ORDER BY apply as ordinary column expressions. The
  * build side's version time is its declared rowtime column, supplied by
  * the table registry exactly as the reference reads it from the build
  * table's WATERMARK declaration. */
object SystemTimeSql {

  private val re = (
    "(?is)^\\s*SELECT\\s+(.*?)\\s+FROM\\s+(\\w+)\\s+(?:AS\\s+)?(\\w+)\\s+" +
      "JOIN\\s+(\\w+)\\s+FOR\\s+SYSTEM_TIME\\s+AS\\s+OF\\s+(\\w+)\\.(\\w+)\\s+(?:AS\\s+)?(\\w+)\\s+" +
      "ON\\s+(\\w+)\\.(\\w+)\\s*=\\s*(\\w+)\\.(\\w+)\\s*" +
      "(?:ORDER\\s+BY\\s+(.+?))?\\s*$").r

  /** Tables available to the FROM clause: name → (frame, rowtime column). */
  def run(sql: String, tables: Map[String, (DataFrame, String)]): DataFrame = {
    val m = re.findFirstMatchIn(sql).getOrElse(throw new IllegalArgumentException(
      s"not a FOR SYSTEM_TIME AS OF join statement: $sql"))
    val (selectList, probeName, probeAlias, buildName) =
      (m.group(1), m.group(2), m.group(3), m.group(4))
    val (tsAlias, tsCol, buildAlias) = (m.group(5), m.group(6), m.group(7))
    val (lAlias, lKey, rAlias, rKey) = (m.group(8), m.group(9), m.group(10), m.group(11))
    val orderBy = Option(m.group(12))
    require(tsAlias == probeAlias,
      s"SYSTEM_TIME AS OF must reference the probe side's time ($tsAlias.$tsCol)")
    val (probeKey, buildKey) =
      if (lAlias == probeAlias && rAlias == buildAlias) (lKey, rKey)
      else if (lAlias == buildAlias && rAlias == probeAlias) (rKey, lKey)
      else throw new IllegalArgumentException(
        s"ON clause aliases $lAlias/$rAlias do not match $probeAlias/$buildAlias")
    val (probe, _) = tables.getOrElse(probeName,
      throw new IllegalArgumentException(s"unknown table $probeName"))
    val (build, buildRowtime) = tables.getOrElse(buildName,
      throw new IllegalArgumentException(s"unknown table $buildName"))
    val joined = graft.plans.AsOfJoin(
      probe, build, probeKey, buildKey, tsCol, buildRowtime)
    // SELECT / ORDER BY apply over the joined frame; alias qualifiers drop
    // (the join output carries both sides' uniquely-named columns)
    val strip = (s: String) =>
      s.replaceAll(s"\\b(?:$probeAlias|$buildAlias)\\.", "")
    val selected = joined.selectExpr(
      strip(selectList).split(",").map(_.trim).filter(_.nonEmpty): _*)
    orderBy.map(o => selected.orderBy(
      strip(o).split(",").map(c => col(c.trim)): _*)).getOrElse(selected)
  }

  /** q_sql_system_time: the reference's canonical temporal-join statement
    * over the purchase/view event streams, lowered onto AsOfJoin. */
  def systemTimeJoin(s: SparkSession, dir: String): DataFrame = {
    val e = graft.Tables(s, dir, "events")
    val purchases = e.where(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("p_id"), col("ts").as("p_ts"))
    val views = e.where(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("event_id").as("v_id"),
        col("ts").as("v_ts"))
    run(
      """SELECT p.user_id, p.p_id, v.v_id
        |FROM purchases AS p
        |JOIN views FOR SYSTEM_TIME AS OF p.p_ts AS v
        |ON p.user_id = v.v_user
        |ORDER BY p.user_id, p.p_id""".stripMargin,
      Map("purchases" -> (purchases, "p_ts"), "views" -> (views, "v_ts")))
  }

  /** The 1.12 temporal table FUNCTION — the OLDER of the reference's two
    * temporal-join syntaxes (docs/dev/table/streaming/temporal_tables.md
    * "Temporal Table Function"; `TableEnvironment.registerFunction` over
    * `Table.createTemporalTableFunction(timeAttr, primaryKey)`; planner
    * `LogicalCorrelateToJoinFromTemporalTableFunctionRule.scala`): the
    * versioned history table is registered as a one-argument table function
    * and applied with `LATERAL TABLE (fn(probe.ts))`, the join key coming
    * from an ordinary WHERE equality. Semantics are INNER — a probe row
    * with no valid version is dropped (contrast `FOR SYSTEM_TIME AS OF`,
    * which the reference added in 1.12 as the successor syntax).
    *
    * Same lowering as [[SystemTimeSql.run]]: the correlate is rewritten
    * onto the engine's first-class AsOfJoin operator (never a
    * correlated-subquery re-execution), then the null-padded probes are
    * filtered for the inner semantics. */
  case class TemporalTableFunction(history: DataFrame, timeCol: String, keyCol: String)

  private val latRe = (
    "(?is)^\\s*SELECT\\s+(.*?)\\s+FROM\\s+(\\w+)\\s+(?:AS\\s+)?(\\w+)\\s*,\\s*" +
      "LATERAL\\s+TABLE\\s*\\(\\s*(\\w+)\\s*\\(\\s*(\\w+)\\.(\\w+)\\s*\\)\\s*\\)\\s+(?:AS\\s+)?(\\w+)\\s+" +
      "WHERE\\s+(\\w+)\\.(\\w+)\\s*=\\s*(\\w+)\\.(\\w+)\\s*" +
      "(?:ORDER\\s+BY\\s+(.+?))?\\s*$").r

  def runTemporalFunc(sql: String, tables: Map[String, DataFrame],
                      funcs: Map[String, TemporalTableFunction]): DataFrame = {
    val m = latRe.findFirstMatchIn(sql).getOrElse(throw new IllegalArgumentException(
      s"not a LATERAL TABLE temporal-function statement: $sql"))
    val (selectList, probeName, probeAlias) = (m.group(1), m.group(2), m.group(3))
    val (fnName, tsAlias, tsCol, fnAlias) = (m.group(4), m.group(5), m.group(6), m.group(7))
    val (lAlias, lKey, rAlias, rKey) = (m.group(8), m.group(9), m.group(10), m.group(11))
    val orderBy = Option(m.group(12))
    require(tsAlias == probeAlias,
      s"the temporal function argument must be the probe side's time ($tsAlias.$tsCol)")
    val probe = tables.getOrElse(probeName,
      throw new IllegalArgumentException(s"unknown table $probeName"))
    val fn = funcs.getOrElse(fnName,
      throw new IllegalArgumentException(s"unknown temporal table function $fnName"))
    val (probeKey, buildKey) =
      if (lAlias == probeAlias && rAlias == fnAlias) (lKey, rKey)
      else if (lAlias == fnAlias && rAlias == probeAlias) (rKey, lKey)
      else throw new IllegalArgumentException(
        s"WHERE aliases $lAlias/$rAlias do not match $probeAlias/$fnAlias")
    require(buildKey == fn.keyCol,
      s"WHERE equality must use the function's primary key ${fn.keyCol}, got $buildKey")
    val joined = graft.plans.AsOfJoin(
        probe, fn.history, probeKey, buildKey, tsCol, fn.timeCol)
      .where(col(fn.timeCol).isNotNull) // INNER: drop version-less probes
    val strip = (s: String) =>
      s.replaceAll(s"\\b(?:$probeAlias|$fnAlias)\\.", "")
    val selected = joined.selectExpr(
      strip(selectList).split(",").map(_.trim).filter(_.nonEmpty): _*)
    orderBy.map(o => selected.orderBy(
      strip(o).split(",").map(c => col(c.trim)): _*)).getOrElse(selected)
  }

  /** q_sql_temporal_func: the reference's canonical temporal-table-function
    * statement (rates-style lookup of each purchase's latest prior view),
    * lowered onto AsOfJoin with inner semantics. */
  def temporalFuncJoin(s: SparkSession, dir: String): DataFrame = {
    val e = graft.Tables(s, dir, "events")
    val purchases = e.where(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("p_id"), col("ts").as("p_ts"))
    val views = e.where(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("event_id").as("v_id"),
        col("ts").as("v_ts"))
    runTemporalFunc(
      """SELECT o.user_id, o.p_id, r.v_id
        |FROM purchases AS o,
        |LATERAL TABLE (latest_view(o.p_ts)) AS r
        |WHERE o.user_id = r.v_user
        |ORDER BY o.user_id, o.p_id""".stripMargin,
      Map("purchases" -> purchases),
      Map("latest_view" -> TemporalTableFunction(views, "v_ts", "v_user")))
  }

  val queries: Seq[Query] = Seq(
    Query("q_sql_temporal_func", temporalFuncJoin,
      """SELECT p.user_id, p.event_id AS p_id, v.event_id AS v_id
        |FROM (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS t FROM events
        |      WHERE event_type = 'purchase') p
        |ASOF JOIN (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS t FROM events
        |      WHERE event_type = 'view') v
        |  ON p.user_id = v.user_id AND v.t <= p.t
        |ORDER BY p.user_id, p_id""".stripMargin),
    Query("q_sql_system_time", systemTimeJoin,
      graft.WindowOracles.asOfOracle),
  )
}
