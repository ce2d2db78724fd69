package graft.tpcds

import graft.Query
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The reference's correctness flagship, re-created: real TPC-DS query
  * texts on the real 24-table TPC-DS schema (ref
  * flink-end-to-end-tests/flink-tpcds-test/tpcds-tool/query/query1.sql ff.
  * — 103 published queries; TpcdsTestProgram.java:125-126 runs them on the
  * Blink batch planner). Each entry here is the published query shape —
  * same joins, predicates, grouping, windowing, ordering — executed by
  * `spark.sql` over the generated tables and oracle-checked by DuckDB over
  * the SAME parquet.
  *
  * Documented adaptations (applied identically to both engines — one text,
  * two executors):
  *  - aggregate outputs are wrapped `round(CAST(x AS DOUBLE), 2)` and
  *    count outputs `CAST(count AS BIGINT)` — the repo-wide cross-engine
  *    numeric convention (Spark decimal/long vs DuckDB decimal/hugeint
  *    would otherwise differ in pandas dtype, not value);
  *  - ORDER BY lists are extended to cover every output column so LIMIT
  *    cutoffs are deterministic under ties;
  *  - substitution parameters (the spec's per-run constants: months,
  *    manufact ids, categories…) are chosen for the lite distributions,
  *    exactly as dsqgen would substitute them for a scale factor;
  *  - date arithmetic like `('2000-03-22' + 90 days)` is pre-computed to a
  *    literal (the one construct the two parsers spell differently);
  *  - decimal averages are emitted as
  *    `round(CAST(sum(x)*100 AS DOUBLE) / count(x)) / 100`: rounding at
  *    integer cents, where a .5 tie is exactly representable in binary, is
  *    the one formulation whose ties both engines break identically
  *    (Spark's round(double, n) goes through BigDecimal.valueOf — the
  *    SHORTEST decimal repr — while DuckDB rounds the binary value, so
  *    `round(76.115, 2)` is 76.12 in Spark and 76.11 in DuckDB).
  */
object TpcdsReal {

  /** queryN -> shared SQL text (run verbatim by Spark and, behind the
    * parquet-CTE prelude, by DuckDB). Batch 2 lives in TpcdsReal2. */
  def texts: Map[String, String] = texts1 ++ TpcdsReal2.texts ++ TpcdsReal3.texts ++ TpcdsReal4.texts ++ TpcdsReal5.texts ++ TpcdsReal6.texts ++ TpcdsReal7.texts

  private val texts1: Map[String, String] = Map(

    "q1" -> """
      |WITH customer_total_return AS (
      |  SELECT sr_customer_sk AS ctr_customer_sk, sr_store_sk AS ctr_store_sk,
      |         round(CAST(sum(sr_return_amt) AS DOUBLE), 2) AS ctr_total_return
      |  FROM store_returns, date_dim
      |  WHERE sr_returned_date_sk = d_date_sk AND d_year = 2000
      |  GROUP BY sr_customer_sk, sr_store_sk)
      |SELECT c_customer_id
      |FROM customer_total_return ctr1, store, customer
      |WHERE ctr1.ctr_total_return > (SELECT avg(ctr_total_return) * 1.2
      |                               FROM customer_total_return ctr2
      |                               WHERE ctr1.ctr_store_sk = ctr2.ctr_store_sk)
      |  AND s_store_sk = ctr1.ctr_store_sk
      |  AND s_state = 'TN'
      |  AND ctr1.ctr_customer_sk = c_customer_sk
      |ORDER BY c_customer_id
      |LIMIT 100""".stripMargin,

    "q3" -> """
      |SELECT dt.d_year, item.i_brand_id AS brand_id, item.i_brand AS brand,
      |       round(CAST(sum(ss_ext_sales_price) AS DOUBLE), 2) AS sum_agg
      |FROM date_dim dt, store_sales, item
      |WHERE dt.d_date_sk = store_sales.ss_sold_date_sk
      |  AND store_sales.ss_item_sk = item.i_item_sk
      |  AND item.i_manufact_id = 128
      |  AND dt.d_moy = 11
      |GROUP BY dt.d_year, item.i_brand_id, item.i_brand
      |ORDER BY dt.d_year, sum_agg DESC, brand_id
      |LIMIT 100""".stripMargin,

    "q6" -> """
      |SELECT a.ca_state AS state, CAST(count(*) AS BIGINT) AS cnt
      |FROM customer_address a, customer c, store_sales s, date_dim d, item i
      |WHERE a.ca_address_sk = c.c_current_addr_sk
      |  AND c.c_customer_sk = s.ss_customer_sk
      |  AND s.ss_sold_date_sk = d.d_date_sk
      |  AND s.ss_item_sk = i.i_item_sk
      |  AND d.d_month_seq = (SELECT DISTINCT d_month_seq FROM date_dim
      |                       WHERE d_year = 2001 AND d_moy = 1)
      |  AND i.i_current_price > 1.2 * (SELECT avg(j.i_current_price) FROM item j
      |                                 WHERE j.i_category = i.i_category)
      |GROUP BY a.ca_state
      |HAVING count(*) >= 10
      |ORDER BY cnt, state
      |LIMIT 100""".stripMargin,

    "q7" -> """
      |SELECT i_item_id,
      |       round(avg(ss_quantity), 2) AS agg1,
      |       round(CAST(sum(ss_list_price) * 100 AS DOUBLE) / count(ss_list_price)) / 100 AS agg2,
      |       round(CAST(sum(ss_coupon_amt) * 100 AS DOUBLE) / count(ss_coupon_amt)) / 100 AS agg3,
      |       round(CAST(sum(ss_sales_price) * 100 AS DOUBLE) / count(ss_sales_price)) / 100 AS agg4
      |FROM store_sales, customer_demographics, date_dim, item, promotion
      |WHERE ss_sold_date_sk = d_date_sk AND ss_item_sk = i_item_sk
      |  AND ss_cdemo_sk = cd_demo_sk AND ss_promo_sk = p_promo_sk
      |  AND cd_gender = 'M' AND cd_marital_status = 'S'
      |  AND cd_education_status = 'College'
      |  AND (p_channel_email = 'N' OR p_channel_event = 'N')
      |  AND d_year = 2000
      |GROUP BY i_item_id
      |ORDER BY i_item_id
      |LIMIT 100""".stripMargin,

    "q15" -> """
      |SELECT ca_zip, round(CAST(sum(cs_sales_price) AS DOUBLE), 2) AS sum_sales
      |FROM catalog_sales, customer, customer_address, date_dim
      |WHERE cs_bill_customer_sk = c_customer_sk
      |  AND c_current_addr_sk = ca_address_sk
      |  AND (substr(ca_zip, 1, 5) IN ('85669','86197','88274','83405','86475',
      |                                '85392','85460','80348','81792')
      |       OR ca_state IN ('CA','WA','GA')
      |       OR cs_sales_price > 500)
      |  AND cs_sold_date_sk = d_date_sk AND d_qoy = 2 AND d_year = 2001
      |GROUP BY ca_zip
      |ORDER BY ca_zip
      |LIMIT 100""".stripMargin,

    "q19" -> """
      |SELECT i_brand_id AS brand_id, i_brand AS brand, i_manufact_id, i_manufact,
      |       round(CAST(sum(ss_ext_sales_price) AS DOUBLE), 2) AS ext_price
      |FROM date_dim, store_sales, item, customer, customer_address, store
      |WHERE d_date_sk = ss_sold_date_sk AND ss_item_sk = i_item_sk
      |  AND i_manager_id = 8 AND d_moy = 11 AND d_year = 1998
      |  AND ss_customer_sk = c_customer_sk AND c_current_addr_sk = ca_address_sk
      |  AND substr(ca_zip, 1, 5) <> substr(s_zip, 1, 5)
      |  AND ss_store_sk = s_store_sk
      |GROUP BY i_brand_id, i_brand, i_manufact_id, i_manufact
      |ORDER BY ext_price DESC, brand_id, i_manufact_id
      |LIMIT 100""".stripMargin,

    "q25" -> """
      |SELECT i_item_id, i_item_desc, s_store_id, s_store_name,
      |       round(CAST(sum(ss_net_profit) AS DOUBLE), 2) AS store_sales_profit,
      |       round(CAST(sum(sr_net_loss) AS DOUBLE), 2) AS store_returns_loss,
      |       round(CAST(sum(cs_net_profit) AS DOUBLE), 2) AS catalog_sales_profit
      |FROM store_sales, store_returns, catalog_sales, date_dim d1, date_dim d2,
      |     date_dim d3, store, item
      |WHERE d1.d_moy = 4 AND d1.d_year = 2001 AND d1.d_date_sk = ss_sold_date_sk
      |  AND i_item_sk = ss_item_sk AND s_store_sk = ss_store_sk
      |  AND ss_customer_sk = sr_customer_sk AND ss_item_sk = sr_item_sk
      |  AND ss_ticket_number = sr_ticket_number
      |  AND sr_returned_date_sk = d2.d_date_sk
      |  AND d2.d_moy BETWEEN 4 AND 10 AND d2.d_year = 2001
      |  AND sr_customer_sk = cs_bill_customer_sk AND sr_item_sk = cs_item_sk
      |  AND cs_sold_date_sk = d3.d_date_sk
      |  AND d3.d_moy BETWEEN 4 AND 10 AND d3.d_year = 2001
      |GROUP BY i_item_id, i_item_desc, s_store_id, s_store_name
      |ORDER BY i_item_id, i_item_desc, s_store_id, s_store_name
      |LIMIT 100""".stripMargin,

    "q26" -> """
      |SELECT i_item_id,
      |       round(avg(cs_quantity), 2) AS agg1,
      |       round(CAST(sum(cs_list_price) * 100 AS DOUBLE) / count(cs_list_price)) / 100 AS agg2,
      |       round(CAST(sum(cs_coupon_amt) * 100 AS DOUBLE) / count(cs_coupon_amt)) / 100 AS agg3,
      |       round(CAST(sum(cs_sales_price) * 100 AS DOUBLE) / count(cs_sales_price)) / 100 AS agg4
      |FROM catalog_sales, customer_demographics, date_dim, item, promotion
      |WHERE cs_sold_date_sk = d_date_sk AND cs_item_sk = i_item_sk
      |  AND cs_bill_cdemo_sk = cd_demo_sk AND cs_promo_sk = p_promo_sk
      |  AND cd_gender = 'M' AND cd_marital_status = 'S'
      |  AND cd_education_status = 'College'
      |  AND (p_channel_email = 'N' OR p_channel_event = 'N')
      |  AND d_year = 2000
      |GROUP BY i_item_id
      |ORDER BY i_item_id
      |LIMIT 100""".stripMargin,

    "q32" -> """
      |SELECT round(CAST(sum(cs_ext_discount_amt) AS DOUBLE), 2) AS excess_discount_amount
      |FROM catalog_sales, item, date_dim
      |WHERE i_manufact_id = 77 AND i_item_sk = cs_item_sk
      |  AND d_date BETWEEN CAST('2000-03-22' AS DATE) AND CAST('2000-06-20' AS DATE)
      |  AND d_date_sk = cs_sold_date_sk
      |  AND cs_ext_discount_amt > (SELECT 1.3 * avg(cs_ext_discount_amt)
      |      FROM catalog_sales, date_dim
      |      WHERE cs_item_sk = i_item_sk
      |        AND d_date BETWEEN CAST('2000-03-22' AS DATE) AND CAST('2000-06-20' AS DATE)
      |        AND d_date_sk = cs_sold_date_sk)
      |LIMIT 100""".stripMargin,

    "q37" -> """
      |SELECT i_item_id, i_item_desc,
      |       round(CAST(i_current_price AS DOUBLE), 2) AS i_current_price
      |FROM item, inventory, date_dim, catalog_sales
      |WHERE i_current_price BETWEEN 20 AND 50
      |  AND inv_item_sk = i_item_sk
      |  AND d_date_sk = inv_date_sk
      |  AND d_date BETWEEN CAST('2000-02-01' AS DATE) AND CAST('2000-04-01' AS DATE)
      |  AND i_manufact_id IN (7, 28, 59, 96)
      |  AND inv_quantity_on_hand BETWEEN 100 AND 500
      |  AND cs_item_sk = i_item_sk
      |GROUP BY i_item_id, i_item_desc, i_current_price
      |ORDER BY i_item_id, i_item_desc, i_current_price
      |LIMIT 100""".stripMargin,

    "q42" -> """
      |SELECT dt.d_year, item.i_category_id, item.i_category,
      |       round(CAST(sum(ss_ext_sales_price) AS DOUBLE), 2) AS sum_sales
      |FROM date_dim dt, store_sales, item
      |WHERE dt.d_date_sk = store_sales.ss_sold_date_sk
      |  AND store_sales.ss_item_sk = item.i_item_sk
      |  AND item.i_manager_id = 1 AND dt.d_moy = 11 AND dt.d_year = 2000
      |GROUP BY dt.d_year, item.i_category_id, item.i_category
      |ORDER BY sum_sales DESC, dt.d_year, item.i_category_id, item.i_category
      |LIMIT 100""".stripMargin,

    "q43" -> """
      |SELECT s_store_name, s_store_id,
      |       round(CAST(sum(CASE WHEN d_day_name = 'Sunday' THEN ss_sales_price ELSE NULL END) AS DOUBLE), 2) AS sun_sales,
      |       round(CAST(sum(CASE WHEN d_day_name = 'Monday' THEN ss_sales_price ELSE NULL END) AS DOUBLE), 2) AS mon_sales,
      |       round(CAST(sum(CASE WHEN d_day_name = 'Tuesday' THEN ss_sales_price ELSE NULL END) AS DOUBLE), 2) AS tue_sales,
      |       round(CAST(sum(CASE WHEN d_day_name = 'Wednesday' THEN ss_sales_price ELSE NULL END) AS DOUBLE), 2) AS wed_sales,
      |       round(CAST(sum(CASE WHEN d_day_name = 'Thursday' THEN ss_sales_price ELSE NULL END) AS DOUBLE), 2) AS thu_sales,
      |       round(CAST(sum(CASE WHEN d_day_name = 'Friday' THEN ss_sales_price ELSE NULL END) AS DOUBLE), 2) AS fri_sales,
      |       round(CAST(sum(CASE WHEN d_day_name = 'Saturday' THEN ss_sales_price ELSE NULL END) AS DOUBLE), 2) AS sat_sales
      |FROM date_dim, store_sales, store
      |WHERE d_date_sk = ss_sold_date_sk AND s_store_sk = ss_store_sk
      |  AND s_gmt_offset = -5 AND d_year = 2000
      |GROUP BY s_store_name, s_store_id
      |ORDER BY s_store_name, s_store_id, sun_sales, mon_sales, tue_sales,
      |         wed_sales, thu_sales, fri_sales, sat_sales
      |LIMIT 100""".stripMargin,

    "q50" -> """
      |SELECT s_store_name, s_company_id, s_street_number, s_street_name,
      |       s_street_type, s_suite_number, s_city, s_county, s_state, s_zip,
      |       CAST(sum(CASE WHEN (sr_returned_date_sk - ss_sold_date_sk <= 30) THEN 1 ELSE 0 END) AS BIGINT) AS days_30,
      |       CAST(sum(CASE WHEN (sr_returned_date_sk - ss_sold_date_sk > 30) AND (sr_returned_date_sk - ss_sold_date_sk <= 60) THEN 1 ELSE 0 END) AS BIGINT) AS days_31_60,
      |       CAST(sum(CASE WHEN (sr_returned_date_sk - ss_sold_date_sk > 60) AND (sr_returned_date_sk - ss_sold_date_sk <= 90) THEN 1 ELSE 0 END) AS BIGINT) AS days_61_90,
      |       CAST(sum(CASE WHEN (sr_returned_date_sk - ss_sold_date_sk > 90) AND (sr_returned_date_sk - ss_sold_date_sk <= 120) THEN 1 ELSE 0 END) AS BIGINT) AS days_91_120,
      |       CAST(sum(CASE WHEN (sr_returned_date_sk - ss_sold_date_sk > 120) THEN 1 ELSE 0 END) AS BIGINT) AS days_over_120
      |FROM store_sales, store_returns, store, date_dim d1, date_dim d2
      |WHERE d2.d_year = 2001 AND d2.d_moy = 8
      |  AND ss_ticket_number = sr_ticket_number AND ss_item_sk = sr_item_sk
      |  AND ss_customer_sk = sr_customer_sk
      |  AND ss_sold_date_sk = d1.d_date_sk AND sr_returned_date_sk = d2.d_date_sk
      |  AND ss_store_sk = s_store_sk
      |GROUP BY s_store_name, s_company_id, s_street_number, s_street_name,
      |         s_street_type, s_suite_number, s_city, s_county, s_state, s_zip
      |ORDER BY s_store_name, s_company_id, s_street_number, s_street_name,
      |         s_street_type, s_suite_number, s_city, s_county, s_state, s_zip,
      |         days_30, days_31_60, days_61_90, days_91_120, days_over_120
      |LIMIT 100""".stripMargin,

    "q52" -> """
      |SELECT dt.d_year, item.i_brand_id AS brand_id, item.i_brand AS brand,
      |       round(CAST(sum(ss_ext_sales_price) AS DOUBLE), 2) AS ext_price
      |FROM date_dim dt, store_sales, item
      |WHERE dt.d_date_sk = store_sales.ss_sold_date_sk
      |  AND store_sales.ss_item_sk = item.i_item_sk
      |  AND item.i_manager_id = 1 AND dt.d_moy = 11 AND dt.d_year = 2000
      |GROUP BY dt.d_year, item.i_brand_id, item.i_brand
      |ORDER BY dt.d_year, ext_price DESC, brand_id
      |LIMIT 100""".stripMargin,

    "q55" -> """
      |SELECT i_brand_id AS brand_id, i_brand AS brand,
      |       round(CAST(sum(ss_ext_sales_price) AS DOUBLE), 2) AS ext_price
      |FROM date_dim, store_sales, item
      |WHERE d_date_sk = ss_sold_date_sk AND ss_item_sk = i_item_sk
      |  AND i_manager_id = 28 AND d_moy = 11 AND d_year = 1999
      |GROUP BY i_brand_id, i_brand
      |ORDER BY ext_price DESC, brand_id
      |LIMIT 100""".stripMargin,

    "q61" -> """
      |SELECT round(CAST(promotions AS DOUBLE), 2) AS promotions,
      |       round(CAST(total AS DOUBLE), 2) AS total,
      |       round(CAST(promotions AS DOUBLE) / CAST(total AS DOUBLE) * 100, 4) AS ratio
      |FROM (SELECT sum(ss_ext_sales_price) AS promotions
      |      FROM store_sales, store, promotion, date_dim, customer,
      |           customer_address, item
      |      WHERE ss_sold_date_sk = d_date_sk AND ss_store_sk = s_store_sk
      |        AND ss_promo_sk = p_promo_sk AND ss_customer_sk = c_customer_sk
      |        AND ca_address_sk = c_current_addr_sk AND ss_item_sk = i_item_sk
      |        AND ca_gmt_offset = -5 AND i_category = 'Jewelry'
      |        AND (p_channel_dmail = 'Y' OR p_channel_email = 'Y' OR p_channel_tv = 'Y')
      |        AND s_gmt_offset = -5 AND d_year = 1998 AND d_moy = 11) promotional_sales,
      |     (SELECT sum(ss_ext_sales_price) AS total
      |      FROM store_sales, store, date_dim, customer, customer_address, item
      |      WHERE ss_sold_date_sk = d_date_sk AND ss_store_sk = s_store_sk
      |        AND ss_customer_sk = c_customer_sk
      |        AND ca_address_sk = c_current_addr_sk AND ss_item_sk = i_item_sk
      |        AND ca_gmt_offset = -5 AND i_category = 'Jewelry'
      |        AND s_gmt_offset = -5 AND d_year = 1998 AND d_moy = 11) all_sales
      |ORDER BY promotions, total
      |LIMIT 100""".stripMargin,

    "q62" -> """
      |SELECT substr(w_warehouse_name, 1, 20) AS wh, sm_type, web_name,
      |       CAST(sum(CASE WHEN (ws_ship_date_sk - ws_sold_date_sk <= 30) THEN 1 ELSE 0 END) AS BIGINT) AS days_30,
      |       CAST(sum(CASE WHEN (ws_ship_date_sk - ws_sold_date_sk > 30) AND (ws_ship_date_sk - ws_sold_date_sk <= 60) THEN 1 ELSE 0 END) AS BIGINT) AS days_31_60,
      |       CAST(sum(CASE WHEN (ws_ship_date_sk - ws_sold_date_sk > 60) AND (ws_ship_date_sk - ws_sold_date_sk <= 90) THEN 1 ELSE 0 END) AS BIGINT) AS days_61_90,
      |       CAST(sum(CASE WHEN (ws_ship_date_sk - ws_sold_date_sk > 90) AND (ws_ship_date_sk - ws_sold_date_sk <= 120) THEN 1 ELSE 0 END) AS BIGINT) AS days_91_120,
      |       CAST(sum(CASE WHEN (ws_ship_date_sk - ws_sold_date_sk > 120) THEN 1 ELSE 0 END) AS BIGINT) AS days_over_120
      |FROM web_sales, warehouse, ship_mode, web_site, date_dim
      |WHERE d_month_seq BETWEEN 1200 AND 1211
      |  AND ws_ship_date_sk = d_date_sk
      |  AND ws_warehouse_sk = w_warehouse_sk
      |  AND ws_ship_mode_sk = sm_ship_mode_sk
      |  AND ws_web_site_sk = web_site_sk
      |GROUP BY substr(w_warehouse_name, 1, 20), sm_type, web_name
      |ORDER BY wh, sm_type, web_name, days_30, days_31_60, days_61_90,
      |         days_91_120, days_over_120
      |LIMIT 100""".stripMargin,

    "q65" -> """
      |SELECT s_store_name, i_item_desc,
      |       round(CAST(sc.revenue AS DOUBLE), 2) AS revenue,
      |       round(CAST(i_current_price AS DOUBLE), 2) AS i_current_price,
      |       round(CAST(i_wholesale_cost AS DOUBLE), 2) AS i_wholesale_cost,
      |       i_brand
      |FROM store, item,
      |     (SELECT ss_store_sk, avg(revenue) AS ave
      |      FROM (SELECT ss_store_sk, ss_item_sk, sum(ss_sales_price) AS revenue
      |            FROM store_sales, date_dim
      |            WHERE ss_sold_date_sk = d_date_sk AND d_month_seq BETWEEN 1176 AND 1187
      |            GROUP BY ss_store_sk, ss_item_sk) sa
      |      GROUP BY ss_store_sk) sb,
      |     (SELECT ss_store_sk, ss_item_sk, sum(ss_sales_price) AS revenue
      |      FROM store_sales, date_dim
      |      WHERE ss_sold_date_sk = d_date_sk AND d_month_seq BETWEEN 1176 AND 1187
      |      GROUP BY ss_store_sk, ss_item_sk) sc
      |WHERE sb.ss_store_sk = sc.ss_store_sk
      |  AND sc.revenue <= 0.1 * sb.ave
      |  AND s_store_sk = sc.ss_store_sk
      |  AND i_item_sk = sc.ss_item_sk
      |ORDER BY s_store_name, i_item_desc, revenue, i_current_price,
      |         i_wholesale_cost, i_brand
      |LIMIT 100""".stripMargin,

    "q68" -> """
      |SELECT c_last_name, c_first_name, ca_city, bought_city, ss_ticket_number,
      |       round(CAST(extended_price AS DOUBLE), 2) AS extended_price,
      |       round(CAST(extended_tax AS DOUBLE), 2) AS extended_tax,
      |       round(CAST(list_price AS DOUBLE), 2) AS list_price
      |FROM (SELECT ss_ticket_number, ss_customer_sk, ca_city AS bought_city,
      |             sum(ss_ext_sales_price) AS extended_price,
      |             sum(ss_ext_list_price) AS list_price,
      |             sum(ss_ext_tax) AS extended_tax
      |      FROM store_sales, date_dim, store, household_demographics,
      |           customer_address
      |      WHERE ss_sold_date_sk = d_date_sk AND ss_store_sk = s_store_sk
      |        AND ss_hdemo_sk = hd_demo_sk AND ss_addr_sk = ca_address_sk
      |        AND d_dom BETWEEN 1 AND 2
      |        AND (hd_dep_count = 4 OR hd_vehicle_count = 3)
      |        AND d_year IN (1999, 2000, 2001)
      |        AND s_city IN ('Midway', 'Fairview')
      |      GROUP BY ss_ticket_number, ss_customer_sk, ss_addr_sk, ca_city) dn,
      |     customer, customer_address current_addr
      |WHERE ss_customer_sk = c_customer_sk
      |  AND customer.c_current_addr_sk = current_addr.ca_address_sk
      |  AND current_addr.ca_city <> bought_city
      |ORDER BY c_last_name, ss_ticket_number, c_first_name, ca_city, bought_city,
      |         extended_price, extended_tax, list_price
      |LIMIT 100""".stripMargin,

    "q73" -> """
      |SELECT c_last_name, c_first_name, c_salutation, c_preferred_cust_flag,
      |       ss_ticket_number, cnt
      |FROM (SELECT ss_ticket_number, ss_customer_sk, CAST(count(*) AS BIGINT) AS cnt
      |      FROM store_sales, date_dim, store, household_demographics
      |      WHERE store_sales.ss_sold_date_sk = date_dim.d_date_sk
      |        AND store_sales.ss_store_sk = store.s_store_sk
      |        AND store_sales.ss_hdemo_sk = household_demographics.hd_demo_sk
      |        AND date_dim.d_dom BETWEEN 1 AND 2
      |        AND (household_demographics.hd_buy_potential = '>10000'
      |             OR household_demographics.hd_buy_potential = 'Unknown')
      |        AND household_demographics.hd_vehicle_count > 0
      |        AND CASE WHEN household_demographics.hd_vehicle_count > 0
      |                 THEN household_demographics.hd_dep_count / household_demographics.hd_vehicle_count
      |                 ELSE NULL END > 1
      |        AND date_dim.d_year IN (1999, 2000, 2001)
      |        AND store.s_county IN ('Williamson County', 'Walker County',
      |                               'Ziebach County', 'Luce County')
      |      GROUP BY ss_ticket_number, ss_customer_sk) dj, customer
      |WHERE ss_customer_sk = c_customer_sk AND cnt BETWEEN 1 AND 5
      |ORDER BY cnt DESC, c_last_name ASC, c_first_name, c_salutation,
      |         c_preferred_cust_flag, ss_ticket_number
      |LIMIT 100""".stripMargin,

    "q84" -> """
      |SELECT c_customer_id AS customer_id,
      |       c_last_name || ', ' || c_first_name AS customername
      |FROM customer, customer_address, customer_demographics,
      |     household_demographics, income_band, store_returns
      |WHERE ca_city = 'Edgewood'
      |  AND c_current_addr_sk = ca_address_sk
      |  AND ib_lower_bound >= 38128 AND ib_upper_bound <= 88128
      |  AND ib_income_band_sk = hd_income_band_sk
      |  AND cd_demo_sk = c_current_cdemo_sk
      |  AND hd_demo_sk = c_current_hdemo_sk
      |  AND sr_cdemo_sk = cd_demo_sk
      |ORDER BY c_customer_id, customername
      |LIMIT 100""".stripMargin,

    "q88" -> """
      |SELECT CAST(h8_30_to_9 AS BIGINT) AS h8_30_to_9,
      |       CAST(h9_to_9_30 AS BIGINT) AS h9_to_9_30,
      |       CAST(h9_30_to_10 AS BIGINT) AS h9_30_to_10,
      |       CAST(h10_to_10_30 AS BIGINT) AS h10_to_10_30,
      |       CAST(h10_30_to_11 AS BIGINT) AS h10_30_to_11,
      |       CAST(h11_to_11_30 AS BIGINT) AS h11_to_11_30,
      |       CAST(h11_30_to_12 AS BIGINT) AS h11_30_to_12,
      |       CAST(h12_to_12_30 AS BIGINT) AS h12_to_12_30
      |FROM
      | (SELECT count(*) AS h8_30_to_9 FROM store_sales, household_demographics, time_dim, store
      |  WHERE ss_sold_time_sk = time_dim.t_time_sk AND ss_hdemo_sk = household_demographics.hd_demo_sk
      |    AND ss_store_sk = s_store_sk AND time_dim.t_hour = 8 AND time_dim.t_minute >= 30
      |    AND ((household_demographics.hd_dep_count = 4 AND household_demographics.hd_vehicle_count <= 6)
      |         OR (household_demographics.hd_dep_count = 2 AND household_demographics.hd_vehicle_count <= 4)
      |         OR (household_demographics.hd_dep_count = 0 AND household_demographics.hd_vehicle_count <= 2))
      |    AND store.s_store_name = 'ese') s1,
      | (SELECT count(*) AS h9_to_9_30 FROM store_sales, household_demographics, time_dim, store
      |  WHERE ss_sold_time_sk = time_dim.t_time_sk AND ss_hdemo_sk = household_demographics.hd_demo_sk
      |    AND ss_store_sk = s_store_sk AND time_dim.t_hour = 9 AND time_dim.t_minute < 30
      |    AND ((household_demographics.hd_dep_count = 4 AND household_demographics.hd_vehicle_count <= 6)
      |         OR (household_demographics.hd_dep_count = 2 AND household_demographics.hd_vehicle_count <= 4)
      |         OR (household_demographics.hd_dep_count = 0 AND household_demographics.hd_vehicle_count <= 2))
      |    AND store.s_store_name = 'ese') s2,
      | (SELECT count(*) AS h9_30_to_10 FROM store_sales, household_demographics, time_dim, store
      |  WHERE ss_sold_time_sk = time_dim.t_time_sk AND ss_hdemo_sk = household_demographics.hd_demo_sk
      |    AND ss_store_sk = s_store_sk AND time_dim.t_hour = 9 AND time_dim.t_minute >= 30
      |    AND ((household_demographics.hd_dep_count = 4 AND household_demographics.hd_vehicle_count <= 6)
      |         OR (household_demographics.hd_dep_count = 2 AND household_demographics.hd_vehicle_count <= 4)
      |         OR (household_demographics.hd_dep_count = 0 AND household_demographics.hd_vehicle_count <= 2))
      |    AND store.s_store_name = 'ese') s3,
      | (SELECT count(*) AS h10_to_10_30 FROM store_sales, household_demographics, time_dim, store
      |  WHERE ss_sold_time_sk = time_dim.t_time_sk AND ss_hdemo_sk = household_demographics.hd_demo_sk
      |    AND ss_store_sk = s_store_sk AND time_dim.t_hour = 10 AND time_dim.t_minute < 30
      |    AND ((household_demographics.hd_dep_count = 4 AND household_demographics.hd_vehicle_count <= 6)
      |         OR (household_demographics.hd_dep_count = 2 AND household_demographics.hd_vehicle_count <= 4)
      |         OR (household_demographics.hd_dep_count = 0 AND household_demographics.hd_vehicle_count <= 2))
      |    AND store.s_store_name = 'ese') s4,
      | (SELECT count(*) AS h10_30_to_11 FROM store_sales, household_demographics, time_dim, store
      |  WHERE ss_sold_time_sk = time_dim.t_time_sk AND ss_hdemo_sk = household_demographics.hd_demo_sk
      |    AND ss_store_sk = s_store_sk AND time_dim.t_hour = 10 AND time_dim.t_minute >= 30
      |    AND ((household_demographics.hd_dep_count = 4 AND household_demographics.hd_vehicle_count <= 6)
      |         OR (household_demographics.hd_dep_count = 2 AND household_demographics.hd_vehicle_count <= 4)
      |         OR (household_demographics.hd_dep_count = 0 AND household_demographics.hd_vehicle_count <= 2))
      |    AND store.s_store_name = 'ese') s5,
      | (SELECT count(*) AS h11_to_11_30 FROM store_sales, household_demographics, time_dim, store
      |  WHERE ss_sold_time_sk = time_dim.t_time_sk AND ss_hdemo_sk = household_demographics.hd_demo_sk
      |    AND ss_store_sk = s_store_sk AND time_dim.t_hour = 11 AND time_dim.t_minute < 30
      |    AND ((household_demographics.hd_dep_count = 4 AND household_demographics.hd_vehicle_count <= 6)
      |         OR (household_demographics.hd_dep_count = 2 AND household_demographics.hd_vehicle_count <= 4)
      |         OR (household_demographics.hd_dep_count = 0 AND household_demographics.hd_vehicle_count <= 2))
      |    AND store.s_store_name = 'ese') s6,
      | (SELECT count(*) AS h11_30_to_12 FROM store_sales, household_demographics, time_dim, store
      |  WHERE ss_sold_time_sk = time_dim.t_time_sk AND ss_hdemo_sk = household_demographics.hd_demo_sk
      |    AND ss_store_sk = s_store_sk AND time_dim.t_hour = 11 AND time_dim.t_minute >= 30
      |    AND ((household_demographics.hd_dep_count = 4 AND household_demographics.hd_vehicle_count <= 6)
      |         OR (household_demographics.hd_dep_count = 2 AND household_demographics.hd_vehicle_count <= 4)
      |         OR (household_demographics.hd_dep_count = 0 AND household_demographics.hd_vehicle_count <= 2))
      |    AND store.s_store_name = 'ese') s7,
      | (SELECT count(*) AS h12_to_12_30 FROM store_sales, household_demographics, time_dim, store
      |  WHERE ss_sold_time_sk = time_dim.t_time_sk AND ss_hdemo_sk = household_demographics.hd_demo_sk
      |    AND ss_store_sk = s_store_sk AND time_dim.t_hour = 12 AND time_dim.t_minute < 30
      |    AND ((household_demographics.hd_dep_count = 4 AND household_demographics.hd_vehicle_count <= 6)
      |         OR (household_demographics.hd_dep_count = 2 AND household_demographics.hd_vehicle_count <= 4)
      |         OR (household_demographics.hd_dep_count = 0 AND household_demographics.hd_vehicle_count <= 2))
      |    AND store.s_store_name = 'ese') s8""".stripMargin,

    "q90" -> """
      |SELECT round(CAST(amc AS DOUBLE) / CAST(pmc AS DOUBLE), 4) AS am_pm_ratio
      |FROM (SELECT count(*) AS amc
      |      FROM web_sales, household_demographics, time_dim, web_page
      |      WHERE ws_sold_time_sk = time_dim.t_time_sk
      |        AND ws_ship_hdemo_sk = household_demographics.hd_demo_sk
      |        AND ws_web_page_sk = web_page.wp_web_page_sk
      |        AND time_dim.t_hour BETWEEN 8 AND 9
      |        AND household_demographics.hd_dep_count = 6
      |        AND web_page.wp_char_count BETWEEN 4000 AND 6000) amt,
      |     (SELECT count(*) AS pmc
      |      FROM web_sales, household_demographics, time_dim, web_page
      |      WHERE ws_sold_time_sk = time_dim.t_time_sk
      |        AND ws_ship_hdemo_sk = household_demographics.hd_demo_sk
      |        AND ws_web_page_sk = web_page.wp_web_page_sk
      |        AND time_dim.t_hour BETWEEN 19 AND 20
      |        AND household_demographics.hd_dep_count = 6
      |        AND web_page.wp_char_count BETWEEN 4000 AND 6000) pmt
      |ORDER BY am_pm_ratio
      |LIMIT 100""".stripMargin,

    "q91" -> """
      |SELECT cc_call_center_id AS call_center, cc_name AS call_center_name,
      |       cc_manager AS manager,
      |       round(CAST(sum(cr_net_loss) AS DOUBLE), 2) AS returns_loss
      |FROM call_center, catalog_returns, date_dim, customer,
      |     customer_demographics, household_demographics
      |WHERE cr_call_center_sk = cc_call_center_sk
      |  AND cr_returned_date_sk = d_date_sk
      |  AND cr_returning_customer_sk = c_customer_sk
      |  AND cd_demo_sk = c_current_cdemo_sk
      |  AND hd_demo_sk = c_current_hdemo_sk
      |  AND d_year = 1998 AND d_moy = 11
      |  AND ((cd_marital_status = 'M' AND cd_education_status = 'Unknown')
      |       OR (cd_marital_status = 'W' AND cd_education_status = 'Advanced Degree'))
      |  AND hd_buy_potential LIKE 'Unknown%'
      |GROUP BY cc_call_center_id, cc_name, cc_manager, cd_marital_status,
      |         cd_education_status
      |ORDER BY returns_loss DESC, call_center, call_center_name, manager
      |LIMIT 100""".stripMargin,

    "q92" -> """
      |SELECT round(CAST(sum(ws_ext_discount_amt) AS DOUBLE), 2) AS excess_discount_amount
      |FROM web_sales, item, date_dim
      |WHERE i_manufact_id = 56 AND i_item_sk = ws_item_sk
      |  AND d_date BETWEEN CAST('2001-03-12' AS DATE) AND CAST('2001-06-10' AS DATE)
      |  AND d_date_sk = ws_sold_date_sk
      |  AND ws_ext_discount_amt > (SELECT 1.3 * avg(ws_ext_discount_amt)
      |      FROM web_sales, date_dim
      |      WHERE ws_item_sk = i_item_sk
      |        AND d_date BETWEEN CAST('2001-03-12' AS DATE) AND CAST('2001-06-10' AS DATE)
      |        AND d_date_sk = ws_sold_date_sk)
      |LIMIT 100""".stripMargin,

    "q93" -> """
      |SELECT ss_customer_sk, round(CAST(sum(act_sales) AS DOUBLE), 2) AS sumsales
      |FROM (SELECT ss_item_sk, ss_ticket_number, ss_customer_sk,
      |             CASE WHEN sr_return_quantity IS NOT NULL
      |                  THEN (ss_quantity - sr_return_quantity) * ss_sales_price
      |                  ELSE ss_quantity * ss_sales_price END AS act_sales
      |      FROM store_sales LEFT OUTER JOIN store_returns
      |        ON (sr_item_sk = ss_item_sk AND sr_ticket_number = ss_ticket_number),
      |        reason
      |      WHERE sr_reason_sk = r_reason_sk AND r_reason_desc = 'reason 28') t
      |GROUP BY ss_customer_sk
      |ORDER BY sumsales, ss_customer_sk
      |LIMIT 100""".stripMargin,

    "q96" -> """
      |SELECT CAST(count(*) AS BIGINT) AS cnt
      |FROM store_sales, household_demographics, time_dim, store
      |WHERE ss_sold_time_sk = time_dim.t_time_sk
      |  AND ss_hdemo_sk = household_demographics.hd_demo_sk
      |  AND ss_store_sk = s_store_sk
      |  AND time_dim.t_hour = 20 AND time_dim.t_minute >= 30
      |  AND household_demographics.hd_dep_count = 7
      |  AND store.s_store_name = 'ese'
      |ORDER BY cnt
      |LIMIT 100""".stripMargin,

    "q98" -> """
      |SELECT i_item_id, i_item_desc, i_category, i_class,
      |       round(CAST(i_current_price AS DOUBLE), 2) AS i_current_price,
      |       round(CAST(itemrevenue AS DOUBLE), 2) AS itemrevenue,
      |       round(revenueratio, 4) AS revenueratio
      |FROM (SELECT i_item_id, i_item_desc, i_category, i_class, i_current_price,
      |             sum(ss_ext_sales_price) AS itemrevenue,
      |             CAST(sum(ss_ext_sales_price) * 100 AS DOUBLE) /
      |               CAST(sum(sum(ss_ext_sales_price)) OVER (PARTITION BY i_class) AS DOUBLE) AS revenueratio
      |      FROM store_sales, item, date_dim
      |      WHERE ss_item_sk = i_item_sk
      |        AND i_category IN ('Sports', 'Books', 'Home')
      |        AND ss_sold_date_sk = d_date_sk
      |        AND d_date BETWEEN CAST('1999-02-22' AS DATE) AND CAST('1999-03-24' AS DATE)
      |      GROUP BY i_item_id, i_item_desc, i_category, i_class, i_current_price) x
      |ORDER BY i_category, i_class, i_item_id, i_item_desc, revenueratio""".stripMargin,

    "q99" -> """
      |SELECT substr(w_warehouse_name, 1, 20) AS wh, sm_type, cc_name,
      |       CAST(sum(CASE WHEN (cs_ship_date_sk - cs_sold_date_sk <= 30) THEN 1 ELSE 0 END) AS BIGINT) AS days_30,
      |       CAST(sum(CASE WHEN (cs_ship_date_sk - cs_sold_date_sk > 30) AND (cs_ship_date_sk - cs_sold_date_sk <= 60) THEN 1 ELSE 0 END) AS BIGINT) AS days_31_60,
      |       CAST(sum(CASE WHEN (cs_ship_date_sk - cs_sold_date_sk > 60) AND (cs_ship_date_sk - cs_sold_date_sk <= 90) THEN 1 ELSE 0 END) AS BIGINT) AS days_61_90,
      |       CAST(sum(CASE WHEN (cs_ship_date_sk - cs_sold_date_sk > 90) AND (cs_ship_date_sk - cs_sold_date_sk <= 120) THEN 1 ELSE 0 END) AS BIGINT) AS days_91_120,
      |       CAST(sum(CASE WHEN (cs_ship_date_sk - cs_sold_date_sk > 120) THEN 1 ELSE 0 END) AS BIGINT) AS days_over_120
      |FROM catalog_sales, warehouse, ship_mode, call_center, date_dim
      |WHERE d_month_seq BETWEEN 1200 AND 1211
      |  AND cs_ship_date_sk = d_date_sk
      |  AND cs_warehouse_sk = w_warehouse_sk
      |  AND cs_ship_mode_sk = sm_ship_mode_sk
      |  AND cs_call_center_sk = cc_call_center_sk
      |GROUP BY substr(w_warehouse_name, 1, 20), sm_type, cc_name
      |ORDER BY wh, sm_type, cc_name, days_30, days_31_60, days_61_90,
      |         days_91_120, days_over_120
      |LIMIT 100""".stripMargin)

  /** Run one query: generate/register the TPC-DS tables, then hand the
    * text to Catalyst untouched. */
  def run(s: SparkSession, sfDir: String, name: String): DataFrame = {
    TpcdsData.ensure(s, sfDir)
    s.sql(texts(name))
  }

  /** DuckDB twin: the same text behind a prelude binding all 24 table
    * names to the generated parquet (unused CTEs cost nothing). */
  def duck(name: String): String = {
    val prelude = TpcdsData.duckPrelude(TpcdsData.tableNames)
    val t = texts(name).trim
    if (t.toUpperCase.startsWith("WITH "))
      s"WITH $prelude, ${t.drop(5).trim}"
    else
      s"WITH $prelude $t"
  }

  /** The catalog's q_tpcdsr_<n> queries: Catalyst runs each text as
    * written, DuckDB runs it behind the prelude. */
  val queries: Seq[Query] =
    texts.keys.toSeq.map(n => Query(s"q_tpcdsr_$n", run(_, _, n), duck(n)))
}
