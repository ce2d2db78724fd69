package graft.operators

import graft.{Query, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** TPC-DS-shaped SQL breadth (SURVEY.md §2.11; the reference's correctness
  * flagship is 103/103 TPC-DS queries vs golden answers —
  * flink-end-to-end-tests/flink-tpcds-test/tpcds-tool/query/query1.sql ff.,
  * test-scripts/test_tpcds.sh:22,47). The TPC-DS schema isn't in the test
  * fixtures, so each query transplants a canonical TPC-DS *shape* — rollup
  * hierarchy ranking, window-average deviation, cumulative-channel compare,
  * best/worst double ranking, multi-CTE semijoin reduction, year-over-year
  * self-join, CASE-heavy channel splits, correlated decorrelation — onto the
  * TPC-H-ish tables.
  *
  * Dialect-shared text: the IDENTICAL string is the DuckDB oracle, so the
  * parser/planner path is pinned end-to-end. Conventions for cross-engine
  * hash equality: every double is rounded before output, every ORDER BY
  * carries a total tiebreak, nullable sort keys say NULLS FIRST/LAST
  * explicitly (Spark ASC defaults nulls-first, DuckDB nulls-last), int
  * aggregates are CAST (DuckDB sum(int) is HUGEINT), and extract functions
  * are CAST AS INT (DuckDB returns BIGINT). Only single-column grouping()
  * is used (Spark has no multi-arg grouping()).
  */
object TpcDsSurface {

  private val texts: Map[String, String] = Map(
    // q3 shape: fact×date×item star agg by year and brand for one type
    "q_tpcds_q3_brand" ->
      """SELECT CAST(year(o_orderdate) AS INT) AS d_year, p_brand,
        | round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_agg
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN part ON l_partkey = p_partkey
        |WHERE p_type = 'PROMO' AND CAST(month(o_orderdate) AS INT) = 11
        |GROUP BY d_year, p_brand
        |ORDER BY d_year, sum_agg DESC, p_brand""".stripMargin,
    // q36 shape: gross-margin ROLLUP hierarchy with rank inside each
    // grouping level (lochierarchy = grouping(type)+grouping(brand))
    "q_tpcds_q36_rollup" ->
      """SELECT CAST(grouping(p_type) + grouping(p_brand) AS INT) AS lochierarchy,
        | p_type, p_brand,
        | round(sum(l_extendedprice * (1 - l_discount)) / sum(l_quantity), 4) AS margin,
        | CAST(rank() OVER (
        |   PARTITION BY grouping(p_type) + grouping(p_brand),
        |     CASE WHEN grouping(p_brand) = 0 THEN p_type END
        |   ORDER BY round(sum(l_extendedprice * (1 - l_discount)) / sum(l_quantity), 4) DESC,
        |     p_brand NULLS FIRST) AS INT) AS rank_within_parent
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY ROLLUP (p_type, p_brand)
        |ORDER BY lochierarchy DESC, p_type NULLS FIRST, rank_within_parent, p_brand NULLS FIRST""".stripMargin,
    // q89 shape: monthly volume vs the type's yearly average — window avg
    // over the grouped result, deviation filter in the outer block
    "q_tpcds_q89_mavg" ->
      """SELECT * FROM (
        | SELECT p_type, CAST(month(o_orderdate) AS INT) AS m,
        |  round(sum(l_quantity), 2) AS qty,
        |  round(avg(sum(l_quantity)) OVER (PARTITION BY p_type), 4) AS avg_qty
        | FROM lineitem
        | JOIN orders ON l_orderkey = o_orderkey
        | JOIN part ON l_partkey = p_partkey
        | GROUP BY p_type, m) t
        |WHERE abs(qty - avg_qty) > avg_qty * 0.05
        |ORDER BY p_type, m""".stripMargin,
    // q53/q63 shape: CASE-split channel revenue per brand-quarter vs the
    // brand's average quarter (window over grouped rows)
    "q_tpcds_q53_case" ->
      """SELECT * FROM (
        | SELECT p_brand, CAST(year(o_orderdate) AS INT) AS y,
        |  CAST(quarter(o_orderdate) AS INT) AS qoy,
        |  round(sum(CASE WHEN p_type IN ('PROMO', 'ECONOMY')
        |    THEN l_extendedprice * (1 - l_discount) ELSE 0 END), 4) AS promo_rev,
        |  round(sum(l_extendedprice * (1 - l_discount)), 4) AS total_rev,
        |  round(avg(sum(l_extendedprice * (1 - l_discount)))
        |    OVER (PARTITION BY p_brand), 4) AS brand_avg
        | FROM lineitem
        | JOIN orders ON l_orderkey = o_orderkey
        | JOIN part ON l_partkey = p_partkey
        | GROUP BY p_brand, y, qoy) t
        |WHERE total_rev > brand_avg * 1.1
        |ORDER BY p_brand, y, qoy""".stripMargin,
    // q44 shape: best and worst performers via two opposite rankings
    // joined on rank position
    "q_tpcds_q44_bestworst" ->
      """WITH perf AS (
        | SELECT l_partkey, round(sum(l_extendedprice * (1 - l_discount)), 4) AS total_rev
        | FROM lineitem GROUP BY l_partkey),
        |asc_r AS (SELECT l_partkey, row_number() OVER (ORDER BY total_rev, l_partkey) AS rnk
        |          FROM perf),
        |desc_r AS (SELECT l_partkey, row_number() OVER (ORDER BY total_rev DESC, l_partkey DESC) AS rnk
        |           FROM perf)
        |SELECT CAST(a.rnk AS INT) AS rnk, pb.p_name AS best_performing,
        | pw.p_name AS worst_performing
        |FROM asc_r a JOIN desc_r d ON a.rnk = d.rnk
        |JOIN part pb ON pb.p_partkey = d.l_partkey
        |JOIN part pw ON pw.p_partkey = a.l_partkey
        |WHERE a.rnk <= 10 ORDER BY rnk""".stripMargin,
    // q51 shape: two channels' cumulative monthly revenue, FULL JOIN on
    // month, report where one cumulative series leads the other
    "q_tpcds_q51_cum" ->
      """WITH auto AS (
        | SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS mon,
        |  sum(o_totalprice) AS rev
        | FROM orders JOIN customer ON o_custkey = c_custkey
        | WHERE c_mktsegment = 'AUTOMOBILE' GROUP BY mon),
        |bld AS (
        | SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS mon,
        |  sum(o_totalprice) AS rev
        | FROM orders JOIN customer ON o_custkey = c_custkey
        | WHERE c_mktsegment = 'BUILDING' GROUP BY mon),
        |j AS (SELECT coalesce(a.mon, b.mon) AS mon, a.rev AS auto_rev, b.rev AS bld_rev
        |      FROM auto a FULL JOIN bld b ON a.mon = b.mon),
        |c AS (SELECT mon,
        |  round(sum(coalesce(auto_rev, 0)) OVER (ORDER BY mon
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS auto_cum,
        |  round(sum(coalesce(bld_rev, 0)) OVER (ORDER BY mon
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS bld_cum
        | FROM j)
        |SELECT mon, auto_cum, bld_cum FROM c
        |WHERE auto_cum > bld_cum ORDER BY mon""".stripMargin,
    // q47/q57 shape: brand-month series vs yearly average plus lag/lead
    // neighbors, deviation filter outside the windows
    "q_tpcds_q47_lag" ->
      """WITH v AS (
        | SELECT p_brand, CAST(year(o_orderdate) AS INT) AS y,
        |  CAST(month(o_orderdate) AS INT) AS m, round(sum(l_quantity), 2) AS qty
        | FROM lineitem
        | JOIN orders ON l_orderkey = o_orderkey
        | JOIN part ON l_partkey = p_partkey
        | GROUP BY p_brand, y, m),
        |w AS (
        | SELECT p_brand, y, m, qty,
        |  round(avg(qty) OVER (PARTITION BY p_brand, y), 4) AS avg_year,
        |  lag(qty) OVER (PARTITION BY p_brand ORDER BY y, m) AS prev_qty,
        |  lead(qty) OVER (PARTITION BY p_brand ORDER BY y, m) AS next_qty
        | FROM v)
        |SELECT p_brand, y, m, qty, avg_year, prev_qty, next_qty
        |FROM w
        |WHERE avg_year > 0 AND abs(qty - avg_year) / avg_year > 0.2
        | AND prev_qty IS NOT NULL AND next_qty IS NOT NULL
        |ORDER BY p_brand, y, m""".stripMargin,
    // q1 shape: per-customer return totals vs 1.2x the nation average —
    // correlated scalar subquery over a CTE (decorrelation path)
    "q_tpcds_q1_corr" ->
      """WITH ctr AS (
        | SELECT c_custkey AS ctr_cust, c_nationkey AS ctr_nation, c_name,
        |  sum(l_extendedprice * (1 - l_discount)) AS ctr_total
        | FROM lineitem
        | JOIN orders ON l_orderkey = o_orderkey
        | JOIN customer ON o_custkey = c_custkey
        | WHERE l_returnflag = 'R'
        | GROUP BY c_custkey, c_nationkey, c_name)
        |SELECT c_name, round(ctr_total, 4) AS returns_total
        |FROM ctr c1
        |WHERE ctr_total > (SELECT avg(ctr_total) * 1.2 FROM ctr c2
        |                   WHERE c2.ctr_nation = c1.ctr_nation)
        |ORDER BY c_name""".stripMargin,
    // q35/q10 shape: demographic profile of customers passing EXISTS
    // activity gates, CASE-heavy counts per group
    "q_tpcds_q35_exists" ->
      """SELECT c_mktsegment, CAST(c_nationkey AS INT) AS nk, count(*) AS cnt,
        | CAST(sum(CASE WHEN c_acctbal > 5000 THEN 1 ELSE 0 END) AS BIGINT) AS n_rich,
        | round(avg(c_acctbal), 7) AS avg_bal,
        | round(min(c_acctbal), 2) AS min_bal,
        | round(max(c_acctbal), 2) AS max_bal
        |FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey
        |                AND CAST(year(o_orderdate) AS INT) = 1996)
        |  AND EXISTS (SELECT 1 FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        |              WHERE o_custkey = c_custkey AND l_returnflag = 'R')
        |GROUP BY c_mktsegment, c_nationkey
        |ORDER BY c_mktsegment, nk""".stripMargin,
    // q23 shape: multi-CTE reduction — frequent items × best customers,
    // final monthly sales restricted by both IN-subquery semijoins
    "q_tpcds_q23_cte" ->
      """WITH frequent_parts AS (
        | SELECT l_partkey FROM lineitem GROUP BY l_partkey HAVING count(*) > 8),
        |spend AS (
        | SELECT o_custkey, sum(o_totalprice) AS total FROM orders GROUP BY o_custkey),
        |best_customers AS (
        | SELECT o_custkey FROM spend
        | WHERE total > (SELECT avg(total) * 1.5 FROM spend))
        |SELECT CAST(year(o_orderdate) AS INT) AS d_year,
        | CAST(month(o_orderdate) AS INT) AS d_month,
        | round(sum(l_extendedprice * (1 - l_discount)), 4) AS sales
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_partkey IN (SELECT l_partkey FROM frequent_parts)
        |  AND o_custkey IN (SELECT o_custkey FROM best_customers)
        |GROUP BY d_year, d_month
        |ORDER BY d_year, d_month""".stripMargin,
    // q59 shape: year-over-year monthly revenue ratio via self-join of the
    // same grouped CTE at two year offsets
    "q_tpcds_q59_yoy" ->
      """WITH m AS (
        | SELECT c_mktsegment AS seg, CAST(year(o_orderdate) AS INT) AS y,
        |  CAST(month(o_orderdate) AS INT) AS mon, sum(o_totalprice) AS rev
        | FROM orders JOIN customer ON o_custkey = c_custkey
        | GROUP BY seg, y, mon)
        |SELECT a.seg, a.mon, round(a.rev, 2) AS rev_1996, round(b.rev, 2) AS rev_1997,
        | round(b.rev / a.rev, 6) AS ratio
        |FROM m a JOIN m b ON a.seg = b.seg AND a.mon = b.mon
        |WHERE a.y = 1996 AND b.y = 1997
        |ORDER BY a.seg, a.mon""".stripMargin,
    // q14 shape: cross-channel INTERSECT feeding a semijoin aggregate
    "q_tpcds_q14_intersect" ->
      """WITH both_channels AS (
        | SELECT l_partkey FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        | WHERE o_orderstatus = 'F'
        | INTERSECT
        | SELECT l_partkey FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        | WHERE o_orderstatus = 'P')
        |SELECT p_type, count(*) AS n_parts, round(avg(p_retailprice), 6) AS avg_price
        |FROM part
        |WHERE p_partkey IN (SELECT l_partkey FROM both_channels)
        |GROUP BY p_type ORDER BY p_type""".stripMargin,
    // q88 shape: one row assembled from independent scalar-subquery counts
    // (time-band slices), planned as a chain of single-row cross joins
    "q_tpcds_q88_multi" ->
      """SELECT * FROM
        | (SELECT count(*) AS q1_cnt FROM orders
        |  WHERE CAST(year(o_orderdate) AS INT) = 1996 AND CAST(quarter(o_orderdate) AS INT) = 1) a,
        | (SELECT count(*) AS q2_cnt FROM orders
        |  WHERE CAST(year(o_orderdate) AS INT) = 1996 AND CAST(quarter(o_orderdate) AS INT) = 2) b,
        | (SELECT count(*) AS q3_cnt FROM orders
        |  WHERE CAST(year(o_orderdate) AS INT) = 1996 AND CAST(quarter(o_orderdate) AS INT) = 3) c,
        | (SELECT count(*) AS q4_cnt FROM orders
        |  WHERE CAST(year(o_orderdate) AS INT) = 1996 AND CAST(quarter(o_orderdate) AS INT) = 4) d""".stripMargin,
    // q34/q73 shape: order-count frequency band per customer (HAVING
    // BETWEEN), joined back to the customer dimension
    "q_tpcds_q73_band" ->
      """WITH oc AS (
        | SELECT o_custkey, count(*) AS cnt FROM orders
        | GROUP BY o_custkey HAVING count(*) BETWEEN 12 AND 15)
        |SELECT c_custkey, c_name, cnt
        |FROM oc JOIN customer ON c_custkey = o_custkey
        |ORDER BY cnt DESC, c_custkey""".stripMargin,
    // q4/q11 shape: year-over-year per-customer growth ratio from a
    // self-joined yearly-spend CTE, ratio-gated
    "q_tpcds_q11_growth" ->
      """WITH y AS (
        | SELECT o_custkey, CAST(year(o_orderdate) AS INT) AS y,
        |  sum(o_totalprice) AS total
        | FROM orders GROUP BY o_custkey, y)
        |SELECT a.o_custkey AS custkey, round(a.total, 2) AS t96,
        | round(b.total, 2) AS t97, round(b.total / a.total, 6) AS ratio
        |FROM y a JOIN y b ON a.o_custkey = b.o_custkey
        |WHERE a.y = 1996 AND b.y = 1997 AND round(b.total / a.total, 6) > 1.5
        |ORDER BY custkey""".stripMargin,
    // q93 shape: per-order net quantity after netting out returned lines
    // (CASE inside the aggregate), top-N report
    "q_tpcds_q93_returns" ->
      """SELECT o_orderkey,
        | round(sum(CASE WHEN l_returnflag = 'R' THEN -l_quantity
        |               ELSE l_quantity END), 2) AS net_qty
        |FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        |GROUP BY o_orderkey
        |ORDER BY net_qty DESC, o_orderkey LIMIT 25""".stripMargin,
    // q67 shape: ROLLUP hierarchy + rank within each nation, top slice kept
    "q_tpcds_q67_toprollup" ->
      """SELECT * FROM (
        | SELECT n_name, c_mktsegment, round(sum(o_totalprice), 2) AS rev,
        |  CAST(rank() OVER (PARTITION BY n_name
        |    ORDER BY sum(o_totalprice) DESC, c_mktsegment NULLS FIRST) AS INT) AS rk
        | FROM orders
        | JOIN customer ON o_custkey = c_custkey
        | JOIN nation ON c_nationkey = n_nationkey
        | GROUP BY ROLLUP (n_name, c_mktsegment)) t
        |WHERE rk <= 3
        |ORDER BY n_name NULLS FIRST, rk, c_mktsegment NULLS FIRST""".stripMargin,
    // q95/TPC-H q21 shape: correlated EXISTS against sibling lines of the
    // same order (multi-supplier orders with returned lines)
    "q_tpcds_q95_exists" ->
      """SELECT s_suppkey, s_name, count(DISTINCT l1.l_orderkey) AS n_orders
        |FROM supplier JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
        |WHERE l1.l_returnflag = 'R'
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |GROUP BY s_suppkey, s_name
        |ORDER BY s_suppkey""".stripMargin,
    // q49 shape: per-channel return-ratio ranking over a UNION ALL of
    // channel aggregates, rank-gated in the outer block
    "q_tpcds_q49_rank" ->
      """WITH r AS (
        | SELECT 'F' AS channel, l_partkey,
        |  sum(CASE WHEN l_returnflag = 'R' THEN l_quantity ELSE 0 END) AS ret,
        |  sum(l_quantity) AS qty
        | FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        | WHERE o_orderstatus = 'F' GROUP BY l_partkey
        | UNION ALL
        | SELECT 'O' AS channel, l_partkey,
        |  sum(CASE WHEN l_returnflag = 'R' THEN l_quantity ELSE 0 END) AS ret,
        |  sum(l_quantity) AS qty
        | FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        | WHERE o_orderstatus = 'O' GROUP BY l_partkey)
        |SELECT channel, l_partkey, ratio, rnk FROM (
        | SELECT channel, l_partkey, round(ret / qty, 6) AS ratio,
        |  CAST(dense_rank() OVER (PARTITION BY channel
        |    ORDER BY round(ret / qty, 6) DESC, l_partkey) AS INT) AS rnk
        | FROM r WHERE qty > 0 AND ret > 0) t
        |WHERE rnk <= 10
        |ORDER BY channel, rnk, l_partkey""".stripMargin,
    // q15 shape: per-nation return revenue above the all-nation average
    // (aggregate CTE referenced both as rows and as a scalar subquery)
    "q_tpcds_q15_top" ->
      """WITH nr AS (
        | SELECT n_name, sum(l_extendedprice * (1 - l_discount)) AS ret_rev
        | FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        | JOIN customer ON o_custkey = c_custkey
        | JOIN nation ON c_nationkey = n_nationkey
        | WHERE l_returnflag = 'R' GROUP BY n_name)
        |SELECT n_name, round(ret_rev, 4) AS ret_rev FROM nr
        |WHERE ret_rev > (SELECT avg(ret_rev) FROM nr)
        |ORDER BY n_name""".stripMargin,
    // q65 shape: the lowest-revenue brand within each type (min-per-group
    // CTE joined back on the aggregate value)
    "q_tpcds_q65_minbrand" ->
      """WITH br AS (
        | SELECT p_type, p_brand, sum(l_extendedprice) AS rev
        | FROM lineitem JOIN part ON l_partkey = p_partkey
        | GROUP BY p_type, p_brand),
        |mn AS (SELECT p_type, min(rev) AS min_rev FROM br GROUP BY p_type)
        |SELECT br.p_type, p_brand, round(rev, 4) AS rev
        |FROM br JOIN mn ON br.p_type = mn.p_type AND br.rev = mn.min_rev
        |ORDER BY br.p_type, p_brand""".stripMargin,
    // q31 shape: consecutive-quarter growth per segment via offset self-join
    "q_tpcds_q31_growth" ->
      """WITH q AS (
        | SELECT c_mktsegment AS seg, CAST(quarter(o_orderdate) AS INT) AS qq,
        |  sum(o_totalprice) AS rev
        | FROM orders JOIN customer ON o_custkey = c_custkey
        | WHERE CAST(year(o_orderdate) AS INT) = 1996
        | GROUP BY seg, qq)
        |SELECT a.seg, a.qq AS q_from, round(b.rev / a.rev, 6) AS growth
        |FROM q a JOIN q b ON a.seg = b.seg AND b.qq = a.qq + 1
        |ORDER BY a.seg, q_from""".stripMargin,
    // q41 shape: DISTINCT names under an OR-of-ANDs predicate nest
    "q_tpcds_q41_or" ->
      """SELECT DISTINCT p_name FROM part
        |WHERE (p_brand = 'Brand#1' AND ((p_size BETWEEN 1 AND 10 AND p_type = 'PROMO')
        |    OR (p_size BETWEEN 20 AND 30 AND p_type = 'STANDARD')))
        |   OR (p_brand = 'Brand#2' AND ((p_size BETWEEN 5 AND 15 AND p_type = 'ECONOMY')
        |    OR (p_size BETWEEN 25 AND 35 AND p_type = 'PROMO')))
        |ORDER BY p_name""".stripMargin,
    // q54 shape: customers clearing a spend threshold in consecutive months
    // (lag window over a grouped CTE)
    "q_tpcds_q54_consec" ->
      """WITH m AS (
        | SELECT o_custkey, CAST(month(o_orderdate) AS INT) AS mon,
        |  sum(o_totalprice) AS rev
        | FROM orders WHERE CAST(year(o_orderdate) AS INT) = 1996
        | GROUP BY o_custkey, mon)
        |SELECT o_custkey, mon, round(rev, 2) AS rev FROM (
        | SELECT o_custkey, mon, rev,
        |  lag(rev) OVER (PARTITION BY o_custkey ORDER BY mon) AS prev
        | FROM m) t
        |WHERE rev > 100000 AND prev > 100000
        |ORDER BY o_custkey, mon""".stripMargin,
    // q90 shape: ratio of two time-band counts assembled from single-row
    // subqueries (day-of-month bands; the fixture's dates carry no
    // intraday time)
    "q_tpcds_q90_ratio" ->
      """SELECT round(CAST(early.cnt AS DOUBLE) / late.cnt, 6) AS band_ratio FROM
        | (SELECT count(*) AS cnt FROM orders
        |  WHERE CAST(day(o_orderdate) AS INT) BETWEEN 1 AND 10) early,
        | (SELECT count(*) AS cnt FROM orders
        |  WHERE CAST(day(o_orderdate) AS INT) BETWEEN 21 AND 28) late""".stripMargin,
    // q98 shape: revenue share of each part within its type (window sum
    // over a grouped CTE)
    "q_tpcds_q98_share" ->
      """SELECT p_type, p_partkey, round(rev, 4) AS rev,
        | round(rev * 100.0 / sum(rev) OVER (PARTITION BY p_type), 6) AS revshare
        |FROM (SELECT p_type, p_partkey,
        |       sum(l_extendedprice * (1 - l_discount)) AS rev
        |      FROM lineitem JOIN part ON l_partkey = p_partkey
        |      GROUP BY p_type, p_partkey) t
        |ORDER BY p_type, p_partkey""".stripMargin,
    // q75 shape: year-over-year quantity decline per brand
    "q_tpcds_q75_decline" ->
      """WITH y AS (
        | SELECT p_brand, CAST(year(o_orderdate) AS INT) AS y, sum(l_quantity) AS qty
        | FROM lineitem
        | JOIN orders ON l_orderkey = o_orderkey
        | JOIN part ON l_partkey = p_partkey
        | GROUP BY p_brand, y)
        |SELECT a.p_brand, round(a.qty, 2) AS qty96, round(b.qty, 2) AS qty97
        |FROM y a JOIN y b ON a.p_brand = b.p_brand
        |WHERE a.y = 1996 AND b.y = 1997 AND b.qty < a.qty
        |ORDER BY a.p_brand""".stripMargin,
    // q39 shape: coefficient-of-variation gate over monthly quantities
    "q_tpcds_q39_cov" ->
      """WITH m AS (
        | SELECT p_brand, CAST(month(o_orderdate) AS INT) AS mon, sum(l_quantity) AS qty
        | FROM lineitem
        | JOIN orders ON l_orderkey = o_orderkey
        | JOIN part ON l_partkey = p_partkey
        | GROUP BY p_brand, mon)
        |SELECT p_brand, round(avg(qty), 6) AS mean_qty,
        | round(stddev_samp(qty), 6) AS sd_qty,
        | round(stddev_samp(qty) / avg(qty), 6) AS cov
        |FROM m GROUP BY p_brand
        |HAVING round(stddev_samp(qty) / avg(qty), 6) > 0.1
        |ORDER BY p_brand""".stripMargin,
    // q61 shape: promotional share of total revenue from two scalar
    // aggregates
    "q_tpcds_q61_promo" ->
      """SELECT round(100.0 * promo.rev / total.rev, 6) AS promo_pct FROM
        | (SELECT sum(l_extendedprice * (1 - l_discount)) AS rev
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_type = 'PROMO') promo,
        | (SELECT sum(l_extendedprice * (1 - l_discount)) AS rev
        |  FROM lineitem) total""".stripMargin,
    // q27/q77 shape: GROUPING SETS report with per-column grouping flags
    // and a HAVING gate
    "q_tpcds_gsets" ->
      """SELECT c_mktsegment, n_name, count(*) AS cnt,
        | round(sum(o_totalprice), 2) AS rev,
        | CAST(grouping(c_mktsegment) AS INT) AS g_seg,
        | CAST(grouping(n_name) AS INT) AS g_nat
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY GROUPING SETS ((c_mktsegment, n_name), (c_mktsegment), (n_name), ())
        |HAVING count(*) > 50
        |ORDER BY g_seg, g_nat, c_mktsegment NULLS FIRST, n_name NULLS FIRST""".stripMargin,
  )

  /** Each text runs on Spark as written and is its own DuckDB oracle. */
  val queries: Seq[Query] = texts.toSeq.map { case (n, text) => Query(n, run(text), text) }

  private def run(text: String)(s: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(s, dir)
    s.sql(text)
  }
}
