package graft.operators

import graft.{Query, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** MULTISET type lattice row (SURVEY §1.2): the reference's MULTISET<T>
  * (ref `flink-table/flink-table-common/src/main/java/org/apache/flink/
  * table/types/logical/LogicalTypeRoot.java:52-175`, produced by the
  * `COLLECT(col)` aggregate — ref `flink-table-planner-blink/.../
  * aggfunctions/CollectAggFunction.java`: accumulator IS a value→count
  * map) maps to Spark `MapType[T, Long]` with the count as the
  * multiplicity.
  *
  * The operator exercises the full multiset verb set on that encoding:
  *  - COLLECT            → two-phase `groupBy(value).count` +
  *    `map_from_entries(collect_list(...))` — the inner groupBy does the
  *    map-side partial combine, so the collected list is one entry per
  *    DISTINCT value (≤5 priorities here), never one per row: the 100 TB
  *    shape, no unbounded `collect_list` of raw rows anywhere;
  *  - MULTISET UNION ALL → `map_zip_with(a, b, (k,x,y) → x+y)` (counts
  *    add, per SQL standard bag union);
  *  - CARDINALITY        → `aggregate(map_values(m), 0L, _+_)` — counts
  *    WITH multiplicity (standard), `size(m)` gives the distinct card;
  *  - element access     → `element_at(m, v)` = multiplicity of v.
  *
  * Output is exploded to scalar columns so the cross-engine gate compares
  * plain sortable values; the map-typed multiset lives inside the plan.
  */
object MultisetOps {

  def multisetLattice(s: SparkSession, dir: String): DataFrame = {
    val o = Tables(s, dir, "orders")
      .join(Tables(s, dir, "customer"),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment").as("segment"),
        col("o_orderpriority").as("pri"),
        (col("o_orderdate") < to_timestamp(lit("1995-01-01"))).as("early"))

    // COLLECT per (segment, half): distinct-value counts first (partial
    // agg), then fold the tiny per-group entry list into the multiset map
    val counts = o.groupBy(col("segment"), col("early"), col("pri"))
      .agg(count(lit(1)).as("cnt"))
    val halves = counts.groupBy(col("segment"), col("early"))
      .agg(map_from_entries(array_sort(
        collect_list(struct(col("pri"), col("cnt"))))).as("ms"))
    val empty = map().cast("map<string,bigint>")
    val two = halves.groupBy(col("segment")).agg(
      coalesce(first(when(col("early"), col("ms")), ignoreNulls = true), empty).as("ms_a"),
      coalesce(first(when(!col("early"), col("ms")), ignoreNulls = true), empty).as("ms_b"))

    val u = two.withColumn("ms_u",
        expr("map_zip_with(ms_a, ms_b, (k, x, y) -> coalesce(x, 0L) + coalesce(y, 0L))"))
      .withColumn("card", expr("aggregate(map_values(ms_u), 0L, (a, x) -> a + x)"))
      .withColumn("card_distinct", size(col("ms_u")).cast("long"))
      .withColumn("urgent_cnt",
        coalesce(element_at(col("ms_u"), lit("1-URGENT")), lit(0L)))

    u.select(col("segment"), explode(col("ms_u")).as(Seq("pri", "cnt_union")),
        col("ms_a"), col("ms_b"), col("card"), col("card_distinct"), col("urgent_cnt"))
      .select(col("segment"), col("pri"),
        coalesce(element_at(col("ms_a"), col("pri")), lit(0L)).as("cnt_a"),
        coalesce(element_at(col("ms_b"), col("pri")), lit(0L)).as("cnt_b"),
        col("cnt_union"), col("card"), col("card_distinct"), col("urgent_cnt"))
      .orderBy("segment", "pri")
  }

  val queries: Seq[Query] = Seq(
    Query("q_type_multiset", multisetLattice,
      """WITH o AS (
        | SELECT c_mktsegment AS segment, o_orderpriority AS pri,
        |        o_orderdate < TIMESTAMP '1995-01-01' AS early
        | FROM orders JOIN customer ON o_custkey = c_custkey),
        |cnt AS (
        | SELECT segment, pri,
        |   CAST(sum(CASE WHEN early THEN 1 ELSE 0 END) AS BIGINT) AS cnt_a,
        |   CAST(sum(CASE WHEN NOT early THEN 1 ELSE 0 END) AS BIGINT) AS cnt_b
        | FROM o GROUP BY 1, 2),
        |tot AS (
        | SELECT segment,
        |   CAST(sum(cnt_a + cnt_b) AS BIGINT) AS card,
        |   CAST(count(*) AS BIGINT) AS card_distinct,
        |   CAST(sum(CASE WHEN pri = '1-URGENT' THEN cnt_a + cnt_b ELSE 0 END) AS BIGINT) AS urgent_cnt
        | FROM cnt GROUP BY 1)
        |SELECT segment, pri, cnt_a, cnt_b, cnt_a + cnt_b AS cnt_union,
        |       card, card_distinct, urgent_cnt
        |FROM cnt JOIN tot USING (segment)
        |ORDER BY segment, pri""".stripMargin))
}
