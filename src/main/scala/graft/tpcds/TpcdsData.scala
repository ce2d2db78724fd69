package graft.tpcds

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Deterministic TPC-DS-lite data generator — the full 24-table TPC-DS
  * schema (ref flagship: flink-end-to-end-tests/flink-tpcds-test/
  * TpcdsTestProgram.java:50-56 registers these 24 tables;
  * tpcds-tool/query/ holds the 103 query texts run against them).
  *
  * Design:
  *  - Pure Spark-declarative generation: every table is
  *    `spark.range(n).selectExpr(...)` with xxhash64-seeded mixing — no
  *    driver-side loops, no RDD randoms; at 100 TB the same code is a
  *    shuffle-free embarrassingly-parallel scan (dsdgen's own design:
  *    deterministic per-row streams).
  *  - Deterministic: xxhash64 is a fixed pure function of (row id, seed),
  *    so every run of every JVM produces byte-identical tables. The
  *    DuckDB oracle reads the parquet Spark wrote, so engine/oracle see
  *    one dataset by construction.
  *  - Correlated facts: returns are derived from the sale rows they
  *    refund (same row-id mixing re-applied at `sid = id*7`), and a
  *    slice of catalog/web sales re-buys previously-returned items —
  *    dsdgen plants the same correlations, and without them the
  *    multi-fact queries (q25/q29/q50/q84…) are vacuously empty at lite
  *    scale.
  *  - Surrogate keys and domains follow the spec's shapes: date_dim is
  *    the real 73049-row 1900→2100 calendar keyed by Julian day number,
  *    customer_demographics is the categorical cross, item carries the
  *    brand/class/category hierarchy, store names come from dsdgen's
  *    number-word list ('ought','able',…,'ese'), etc., so the published
  *    query predicates (d_moy = 11, s_store_name = 'ese',
  *    cd_education_status = 'College', …) select non-empty slices.
  *
  * Tables land once per (generator version, scale) under
  * /tmp/graft-tpcds/; a _SUCCESS marker makes regeneration idempotent
  * across queries, sessions and rounds. */
object TpcdsData {

  /** Bump when generator logic changes — keys the materialization path so
    * stale /tmp data from an older generator can never feed a new oracle. */
  val GenVersion = 10

  /** Julian day number of 1900-01-01, the spec's date_dim origin
    * (2451545 = 2000-01-01 minus 36524 days). */
  val JD0 = 2415021L
  /** Fact event horizon: sold dates span 1998-01-01 .. 2002-12-31. */
  val JD98 = 2450815L
  val Days5y = 1826L

  /** sf0.1 → 10, sf1 → 100 (the r14 SF=1 rehearsal — the reference's own
    * flagship gate runs dsdgen at scale factor 1, test_tpcds.sh:22),
    * anything else (the sf0.01 correctness path) → 1. */
  def scaleOf(sfDir: String): Int =
    // exact tag-token match (r15 ADVICE fix): substring contains() would
    // classify a future sf10/sf1.5 tag as scale 100 and silently depended
    // on check order; the extracted token disambiguates for free
    "sf(\\d+(?:\\.\\d+)?)".r.findFirstMatchIn(sfDir).map(_.group(1)) match {
      case Some("0.1") => 10
      case Some("1")   => 100
      case _           => 1
    }

  def rootFor(sfDir: String): String = {
    val tag = scaleOf(sfDir) match {
      case 100 => "1"
      case 10  => "0.1"
      case _   => "0.01"
    }
    s"/tmp/graft-tpcds/v$GenVersion-sf$tag"
  }

  /** The constant path the static DuckDB oracle SQL reads: correctness
    * always runs at sf0.01 (TESTDATA.md driver contract). */
  val OraclePath: String = s"/tmp/graft-tpcds/v$GenVersion-sf0.01"

  val tableNames: Seq[String] = Seq(
    "store_sales", "store_returns", "catalog_sales", "catalog_returns",
    "web_sales", "web_returns", "inventory", "date_dim", "time_dim", "item",
    "customer", "customer_address", "customer_demographics",
    "household_demographics", "income_band", "promotion", "reason",
    "ship_mode", "store", "warehouse", "web_page", "web_site", "call_center",
    "catalog_page")

  // ------------------------------------------------------------ mixing DSL

  /** Uniform value in [0, n) as a deterministic function of (idc, seed). */
  private def u(idc: String, seed: Int, n: Long): String =
    s"pmod(xxhash64($idc, $seed), ${n}L)"

  /** Surrogate FK in [1, card], NULL on `nullPm` per-mille of rows.
    * dsdgen drives per-column null percentages from tpcds.idx; those exact
    * weights aren't reproducible offline, so the generator encodes the
    * spec's SHAPE instead (v10 fidelity pass): demographic/address FKs on
    * facts null more often than operational FKs, returns null their
    * demographics most (anonymous returns), ship-side columns null more
    * than bill-side (gift orders), and core item/ticket keys never null —
    * so per-column `IS NULL` selectivity and null-aware join planning
    * differentiate the way they do on dsdgen output rather than being one
    * uniform 2%. */
  private def fk(name: String, idc: String, seed: Int, card: Long,
                 nullPm: Int = 20): String =
    s"CASE WHEN ${u(idc, seed + 7919, 1000)} < $nullPm THEN CAST(NULL AS BIGINT) " +
      s"ELSE 1 + ${u(idc, seed, card)} END AS $name"

  private def fkNN(name: String, idc: String, seed: Int, card: Long): String =
    s"1 + ${u(idc, seed, card)} AS $name"

  /** dsdgen-shaped sold-date skew (round-6 fidelity pass): dsdgen's
    * calendar distribution concentrates retail sales in the holiday
    * quarter (Oct–Dec carries ~40% of volume, December the peak) and
    * grows volume year over year; a UNIFORM date makes every
    * (d_year, d_moy) predicate equally selective and skews plan-shape
    * conclusions. Deterministic inverse-CDF over (row id, seed):
    * year weights 16/18/20/22/24%, month weights
    * 6/5/6/6/7/7/7/8/8/10/14/16% (Jan..Dec), day drawn in [0,31) and
    * folded into the month's real length (v9: days 29–31 now occur; the
    * fold gives the first (31−len) days of a short month weight 2/31
    * instead of 1/31 — documented in NOTES). Leap-day drift (365-day year
    * arithmetic over a span containing 2000) shifts post-Feb-2000 picks
    * by ≤1 day — every (year, month) slice the published predicates touch
    * stays non-empty; remaining deltas vs dsdgen are documented in NOTES.
    * Seed offsets +5/6/7×10^5 keep the three draws clear of every other
    * column seed. */
  private def soldJd(idc: String, seed: Int): String = {
    val uy = u(idc, seed + 500000, 100)
    val um = u(idc, seed + 600000, 100)
    val ud = u(idc, seed + 700000, 31)
    val year =
      s"(CASE WHEN $uy < 16 THEN 0 WHEN $uy < 34 THEN 1 WHEN $uy < 54 THEN 2 " +
        s"WHEN $uy < 76 THEN 3 ELSE 4 END)"
    // cumulative month weights → first day-of-year of the chosen month
    val monthStart =
      s"(CASE WHEN $um < 6 THEN 0 WHEN $um < 11 THEN 31 WHEN $um < 17 THEN 59 " +
        s"WHEN $um < 23 THEN 90 WHEN $um < 30 THEN 120 WHEN $um < 37 THEN 151 " +
        s"WHEN $um < 44 THEN 181 WHEN $um < 52 THEN 212 WHEN $um < 60 THEN 243 " +
        s"WHEN $um < 70 THEN 273 WHEN $um < 84 THEN 304 ELSE 334 END)"
    val monthLen =
      s"(CASE WHEN $um < 6 THEN 31 WHEN $um < 11 THEN 28 WHEN $um < 17 THEN 31 " +
        s"WHEN $um < 23 THEN 30 WHEN $um < 30 THEN 31 WHEN $um < 37 THEN 30 " +
        s"WHEN $um < 44 THEN 31 WHEN $um < 52 THEN 31 WHEN $um < 60 THEN 30 " +
        s"WHEN $um < 70 THEN 31 WHEN $um < 84 THEN 30 ELSE 31 END)"
    s"($JD98 + $year * 365 + $monthStart + ($ud % $monthLen))"
  }

  /** Categorical pick from a fixed list. */
  private def pick(name: String, idc: String, seed: Int, vals: Seq[String]): String =
    s"element_at(array(${vals.map(v => s"'$v'").mkString(",")}), " +
      s"CAST(${u(idc, seed, vals.length)} AS INT) + 1) AS $name"

  /** DECIMAL(7,2) uniform in [lo, hi) (cents granularity). */
  private def dec(name: String, idc: String, seed: Int, lo: Int, hi: Int): String =
    s"CAST((${lo * 100} + ${u(idc, seed, (hi - lo) * 100L)}) / 100.0 AS DECIMAL(7,2)) AS $name"

  private def intIn(name: String, idc: String, seed: Int, lo: Int, hi: Int): String =
    s"CAST($lo + ${u(idc, seed, hi - lo + 1L)} AS INT) AS $name"

  // ------------------------------------------------------- the dimensions

  private val cities = Seq("Midway", "Fairview", "Oak Grove", "Five Points",
    "Pleasant Hill", "Centerville", "Liberty", "Salem", "Edgewood", "Riverside",
    "Union", "Greenville", "Franklin", "Springfield", "Clinton", "Georgetown",
    "Marion", "Ashland", "Oakland", "Jackson", "Bethel", "Clifton", "Concord",
    "Crossroads", "Ellsworth", "Farmington", "Glendale", "Harmony", "Lakeview",
    "Mount Zion")
  private val counties = Seq("Williamson County", "Walker County", "Ziebach County",
    "Luce County", "Furnas County", "Richland County", "Huron County",
    "Bronx County", "Orange County", "Jackson County")
  private val states = Seq("TN", "GA", "CA", "WA", "NY", "TX", "OH", "IL", "SD", "MI")
  private val streetTypes = Seq("Street", "Avenue", "Boulevard", "Drive", "Lane",
    "Road", "Court", "Circle", "Way", "Parkway")
  private val streetNames = Seq("Main", "Oak", "Park", "First", "Second", "Maple",
    "Cedar", "Pine", "Elm", "Washington", "Lake", "Hill", "College", "Church",
    "Spring", "Mill", "River", "Sunset", "Highland", "Center")
  /** Store zip pool = leading entries of q8's published zip list, cycled
    * across stores; a fifth of customer addresses draw from the same pool
    * so zip-equality joins (q8/q24) are live at lite scale. */
  private val storeZips = Seq("24128", "76232", "65084", "87816", "83926",
    "77556", "20548", "26231", "43848", "15126", "91137", "61265")

  /** dsdgen's number-word store/warehouse names — q88/q96 filter on 'ese'. */
  private val numberWords = Seq("ought", "able", "pri", "ese", "anti", "cally",
    "ation", "eing")
  private val categories = Seq("Books", "Children", "Electronics", "Home",
    "Jewelry", "Men", "Music", "Shoes", "Sports", "Women")
  private val education = Seq("Primary", "Secondary", "College", "2 yr Degree",
    "4 yr Degree", "Advanced Degree", "Unknown")
  private val marital = Seq("S", "M", "D", "W", "U")
  private val creditRating = Seq("Low Risk", "Good", "High Risk", "Unknown")
  private val buyPotential = Seq("0-500", "501-1000", "1001-5000", "5001-10000",
    ">10000", "Unknown")
  private val firstNames = Seq("James", "Mary", "John", "Patricia", "Robert",
    "Jennifer", "Michael", "Linda", "William", "Elizabeth", "David", "Barbara",
    "Richard", "Susan", "Joseph", "Jessica", "Thomas", "Sarah", "Charles", "Karen")
  private val lastNames = Seq("Smith", "Johnson", "Williams", "Brown", "Jones",
    "Garcia", "Miller", "Davis", "Rodriguez", "Martinez", "Hernandez", "Lopez",
    "Gonzalez", "Wilson", "Anderson", "Taylor", "Moore", "Jackson", "Martin", "Lee")

  // row counts at scale 1 (sf0.01-lite); facts scale linearly
  val nItem = 2000L
  val nCustomer = 10000L
  val nAddress = 5000L
  val nCdemo = 20000L
  val nHdemo = 7200L
  val nStore = 12L
  val nWarehouse = 5L
  val nPromo = 300L
  val nWebPage = 60L
  val nWebSite = 30L
  val nCallCenter = 6L
  val nCatalogPage = 1000L
  val nReason = 35L
  val nShipMode = 20L
  val nIncomeBand = 20L

  private def nSS(scale: Int) = 120000L * scale
  private def nCS(scale: Int) = 60000L * scale
  private def nWS(scale: Int) = 30000L * scale
  private def nSR(scale: Int) = nSS(scale) / 10
  private def nCR(scale: Int) = nCS(scale) / 10
  private def nWR(scale: Int) = nWS(scale) / 10

  // --------------------------------------------------- store_sales columns

  /** Ticket-level attributes are functions of the ticket id (a basket is
    * one visit: one date/time/customer/store per ticket, ~3 items). */
  private def ssTicketCols(tid: String): Seq[String] = Seq(
    s"CASE WHEN ${u(tid, 1007, 50)} = 0 THEN CAST(NULL AS BIGINT) ELSE ${soldJd(tid, 1001)} END AS ss_sold_date_sk",
    s"CASE WHEN ${u(tid, 1008, 50)} = 0 THEN CAST(NULL AS BIGINT) ELSE ${u(tid, 1002, 86400)} END AS ss_sold_time_sk",
    fk("ss_customer_sk", tid, 1003, nCustomer, nullPm = 35),
    fk("ss_cdemo_sk", tid, 1004, nCdemo, nullPm = 35),
    fk("ss_hdemo_sk", tid, 1005, nHdemo, nullPm = 35),
    fk("ss_addr_sk", tid, 1006, nAddress, nullPm = 35),
    fk("ss_store_sk", tid, 1009, nStore, nullPm = 10),
    s"$tid AS ss_ticket_number")

  private def ssItemCols(idc: String): Seq[String] = Seq(
    fkNN("ss_item_sk", idc, 1101, nItem),
    fk("ss_promo_sk", idc, 1102, nPromo, nullPm = 20),
    intIn("ss_quantity", idc, 1103, 1, 100),
    dec("ss_wholesale_cost", idc, 1104, 1, 80),
    dec("ss_list_price", idc, 1105, 10, 200),
    dec("ss_sales_price", idc, 1106, 1, 190))

  private val ssDerived = Seq(
    "CAST(ss_quantity * ss_sales_price AS DECIMAL(7,2)) AS ss_ext_sales_price",
    "CAST(ss_quantity * ss_wholesale_cost AS DECIMAL(7,2)) AS ss_ext_wholesale_cost",
    "CAST(ss_quantity * ss_list_price AS DECIMAL(7,2)) AS ss_ext_list_price",
    "CAST(ss_quantity * (ss_list_price - ss_sales_price) AS DECIMAL(7,2)) AS ss_ext_discount_amt",
    "CAST(round(ss_quantity * ss_sales_price * 0.08, 2) AS DECIMAL(7,2)) AS ss_ext_tax",
    "CAST(0.00 AS DECIMAL(7,2)) AS ss_coupon_amt",
    "CAST(ss_quantity * ss_sales_price AS DECIMAL(7,2)) AS ss_net_paid",
    "CAST(round(ss_quantity * ss_sales_price * 1.08, 2) AS DECIMAL(7,2)) AS ss_net_paid_inc_tax",
    "CAST(ss_quantity * (ss_sales_price - ss_wholesale_cost) AS DECIMAL(7,2)) AS ss_net_profit")

  private def storeSales(s: SparkSession, scale: Int): DataFrame =
    s.range(nSS(scale))
      .selectExpr((Seq("id", "id div 3 AS tid")): _*)
      .selectExpr((ssTicketCols("tid") ++ ssItemCols("id")): _*)
      .selectExpr(("*" +: ssDerived): _*)

  /** store_returns row j refunds store_sales row sid = j*7 (stride keeps
    * the refunded rows spread over the fact table); the refunded sale's
    * columns are recomputed from sid with the identical mixing exprs. */
  private def storeReturns(s: SparkSession, scale: Int): DataFrame =
    s.range(nSR(scale))
      .selectExpr("id", "id * 7 AS sid", "(id * 7) div 3 AS tid")
      .selectExpr("id", "sid", "tid",
        s"${soldJd("tid", 1001)} AS sold_date",
        s"1 + ${u("sid", 1101, nItem)} AS sold_item",
        // 90%: returned by the buying customer (fk formula w/o null branch)
        s"CASE WHEN ${u("id", 2001, 10)} < 9 THEN 1 + ${u("tid", 1003, nCustomer)} " +
          s"ELSE 1 + ${u("id", 2002, nCustomer)} END AS ret_cust",
        s"CAST((100 + ${u("sid", 1106, 18900)}) / 100.0 AS DECIMAL(7,2)) AS sold_price",
        s"CAST(1 + ${u("id", 2003, 100)} AS INT) AS qty_sold")
      .selectExpr(
        s"sold_date + 1 + ${u("id", 2004, 90)} AS sr_returned_date_sk",
        s"${u("id", 2005, 86400)} AS sr_return_time_sk",
        "sold_item AS sr_item_sk",
        "ret_cust AS sr_customer_sk",
        fk("sr_cdemo_sk", "id", 2006, nCdemo, nullPm = 50),
        fk("sr_hdemo_sk", "id", 2007, nHdemo, nullPm = 50),
        fk("sr_addr_sk", "id", 2008, nAddress, nullPm = 50),
        s"1 + ${u("tid", 1009, nStore)} AS sr_store_sk",
        fk("sr_reason_sk", "id", 2009, nReason, nullPm = 20),
        "tid AS sr_ticket_number",
        s"CAST(1 + ${u("id", 2010, 4)} AS INT) AS sr_return_quantity",
        "CAST(round((1 + pmod(xxhash64(id, 2010), 4)) * sold_price, 2) AS DECIMAL(7,2)) AS sr_return_amt")
      .selectExpr("*",
        "CAST(round(sr_return_amt * 0.08, 2) AS DECIMAL(7,2)) AS sr_return_tax",
        "CAST(round(sr_return_amt * 1.08, 2) AS DECIMAL(7,2)) AS sr_return_amt_inc_tax",
        "CAST(5.00 AS DECIMAL(7,2)) AS sr_fee",
        "CAST(round(sr_return_amt * 0.1, 2) AS DECIMAL(7,2)) AS sr_return_ship_cost",
        "CAST(round(sr_return_amt * 0.7, 2) AS DECIMAL(7,2)) AS sr_refunded_cash",
        "CAST(round(sr_return_amt * 0.2, 2) AS DECIMAL(7,2)) AS sr_reversed_charge",
        "CAST(round(sr_return_amt * 0.1, 2) AS DECIMAL(7,2)) AS sr_store_credit",
        "CAST(round(sr_return_amt * 0.5 + 5.0, 2) AS DECIMAL(7,2)) AS sr_net_loss")
      .drop("sold_date", "sold_item", "ret_cust", "sold_price", "qty_sold", "id", "sid", "tid")

  // ------------------------------------------------------ catalog & web

  /** Shared column template for catalog_sales / web_sales: order-level
    * attributes keyed on oid = id div 2, item-level on id. A tenth of the
    * rows re-buy a (customer, item) pair previously returned in store
    * (`rebuyCard` = store_returns row count) — the cross-channel
    * correlation q25/q29-class queries depend on. */
  private def channelSales(s: SparkSession, n: Long, p: String,
                           rebuyCard: Long): DataFrame = {
    val custCol = if (p == "cs") "cs_bill_customer_sk" else "ws_bill_customer_sk"
    val itemCol = if (p == "cs") "cs_item_sk" else "ws_item_sk"
    val base = s.range(n)
      .selectExpr("id", "id div 2 AS oid",
        // j indexes the store_returns row this row re-buys (its refunded
        // store sale is ss row j*7, ticket (j*7) div 3)
        s"pmod(xxhash64(id, 3001), $rebuyCard) AS j")
      .selectExpr("id", "oid",
        s"CASE WHEN pmod(id, 10) = 0 THEN 1 + ${u("(j * 7) div 3", 1003, nCustomer)} " +
          s"ELSE 1 + ${u("oid", 3003, nCustomer)} END AS bill_cust",
        s"CASE WHEN pmod(id, 10) = 0 THEN 1 + ${u("j * 7", 1101, nItem)} " +
          s"ELSE 1 + ${u("id", 3101, nItem)} END AS item_sk",
        s"${soldJd("oid", 3002)} AS sold_date")
    val cols = Seq(
      s"CASE WHEN ${u("oid", 3007, 50)} = 0 THEN CAST(NULL AS BIGINT) ELSE sold_date END AS ${p}_sold_date_sk",
      s"${u("oid", 3008, 86400)} AS ${p}_sold_time_sk",
      s"sold_date + 1 + ${u("oid", 3009, 120)} AS ${p}_ship_date_sk",
      s"bill_cust AS $custCol",
      fk(s"${p}_bill_cdemo_sk", "oid", 3010, nCdemo, nullPm = 25),
      fk(s"${p}_bill_hdemo_sk", "oid", 3011, nHdemo, nullPm = 25),
      fk(s"${p}_bill_addr_sk", "oid", 3012, nAddress, nullPm = 25),
      s"CASE WHEN ${u("oid", 3013, 5)} = 0 THEN 1 + ${u("oid", 3014, nCustomer)} ELSE bill_cust END AS ${p}_ship_customer_sk",
      fk(s"${p}_ship_cdemo_sk", "oid", 3015, nCdemo, nullPm = 40),
      fk(s"${p}_ship_hdemo_sk", "oid", 3016, nHdemo, nullPm = 40),
      fk(s"${p}_ship_addr_sk", "oid", 3017, nAddress, nullPm = 40),
      fkNN(s"${p}_ship_mode_sk", "oid", 3018, nShipMode),
      fkNN(s"${p}_warehouse_sk", "id", 3019, nWarehouse),
      s"item_sk AS $itemCol",
      fk(s"${p}_promo_sk", "id", 3020, nPromo, nullPm = 20),
      s"oid AS ${p}_order_number",
      intIn(s"${p}_quantity", "id", 3021, 1, 100),
      dec(s"${p}_wholesale_cost", "id", 3022, 1, 80),
      dec(s"${p}_list_price", "id", 3023, 10, 200),
      dec(s"${p}_sales_price", "id", 3024, 1, 190)) ++ (
      if (p == "cs") Seq(
        fkNN("cs_call_center_sk", "oid", 3025, nCallCenter),
        fkNN("cs_catalog_page_sk", "id", 3026, nCatalogPage))
      else Seq(
        fkNN("ws_web_page_sk", "oid", 3027, nWebPage),
        fkNN("ws_web_site_sk", "oid", 3028, nWebSite)))
    val derived = Seq(
      s"CAST(${p}_quantity * ${p}_sales_price AS DECIMAL(7,2)) AS ${p}_ext_sales_price",
      s"CAST(${p}_quantity * ${p}_wholesale_cost AS DECIMAL(7,2)) AS ${p}_ext_wholesale_cost",
      s"CAST(${p}_quantity * ${p}_list_price AS DECIMAL(7,2)) AS ${p}_ext_list_price",
      s"CAST(${p}_quantity * (${p}_list_price - ${p}_sales_price) AS DECIMAL(7,2)) AS ${p}_ext_discount_amt",
      s"CAST(round(${p}_quantity * ${p}_sales_price * 0.08, 2) AS DECIMAL(7,2)) AS ${p}_ext_tax",
      s"CAST(0.00 AS DECIMAL(7,2)) AS ${p}_coupon_amt",
      s"CAST(round(${p}_quantity * ${p}_sales_price * 0.05, 2) AS DECIMAL(7,2)) AS ${p}_ext_ship_cost",
      s"CAST(${p}_quantity * ${p}_sales_price AS DECIMAL(7,2)) AS ${p}_net_paid",
      s"CAST(round(${p}_quantity * ${p}_sales_price * 1.08, 2) AS DECIMAL(7,2)) AS ${p}_net_paid_inc_tax",
      s"CAST(round(${p}_quantity * ${p}_sales_price * 1.05, 2) AS DECIMAL(7,2)) AS ${p}_net_paid_inc_ship",
      s"CAST(round(${p}_quantity * ${p}_sales_price * 1.13, 2) AS DECIMAL(7,2)) AS ${p}_net_paid_inc_ship_tax",
      s"CAST(${p}_quantity * (${p}_sales_price - ${p}_wholesale_cost) AS DECIMAL(7,2)) AS ${p}_net_profit")
    base.selectExpr(cols: _*).selectExpr(("*" +: derived): _*)
  }

  /** catalog/web_returns row j refunds the channel-sales row sid = j*7;
    * `rebuyCard` must equal the value channelSales was built with so the
    * refunded row's customer/item are recomputed identically. */
  private def channelReturns(s: SparkSession, n: Long, p: String,
                             orderCol: String,
                             rebuyCard: Long): DataFrame = {
    val pageCol =
      if (p == "cr") Seq(fkNN("cr_catalog_page_sk", "id", 4007, nCatalogPage),
        fkNN("cr_call_center_sk", "id", 4012, nCallCenter),
        fkNN("cr_ship_mode_sk", "id", 4013, nShipMode),
        fkNN("cr_warehouse_sk", "id", 4014, nWarehouse),
        s"${u("id", 4015, 86400)} AS cr_returned_time_sk")
      else Seq(fkNN("wr_web_page_sk", "id", 4008, nWebPage),
        s"${u("id", 4016, 86400)} AS wr_returned_time_sk")
    val amtName = if (p == "cr") "cr_return_amount" else "wr_return_amt"
    val lastCol = if (p == "cr") "cr_store_credit" else "wr_account_credit"
    s.range(n)
      .selectExpr("id", "id * 7 AS sid", "(id * 7) div 2 AS oid")
      .selectExpr("id", "oid",
        s"${soldJd("oid", 3002)} AS sold_date",
        s"CASE WHEN pmod(sid, 10) = 0 THEN 1 + ${u(s"(pmod(xxhash64(sid, 3001), $rebuyCard) * 7) div 3", 1003, nCustomer)} " +
          s"ELSE 1 + ${u("oid", 3003, nCustomer)} END AS ret_cust",
        s"CASE WHEN pmod(sid, 10) = 0 THEN 1 + ${u(s"pmod(xxhash64(sid, 3001), $rebuyCard) * 7", 1101, nItem)} " +
          s"ELSE 1 + ${u("sid", 3101, nItem)} END AS ret_item",
        s"CAST((100 + ${u("sid", 3024, 18900)}) / 100.0 AS DECIMAL(7,2)) AS sold_price")
      .selectExpr(
        "id",
        s"sold_date + 1 + ${u("id", 4001, 90)} AS ${p}_returned_date_sk",
        "ret_item AS " + (if (p == "cr") "cr_item_sk" else "wr_item_sk"),
        s"ret_cust AS ${p}_refunded_customer_sk",
        fk(s"${p}_refunded_cdemo_sk", "id", 4002, nCdemo, nullPm = 50),
        fk(s"${p}_refunded_hdemo_sk", "id", 4003, nHdemo, nullPm = 50),
        fk(s"${p}_refunded_addr_sk", "id", 4004, nAddress, nullPm = 50),
        s"ret_cust AS ${p}_returning_customer_sk",
        fk(s"${p}_returning_cdemo_sk", "id", 4002, nCdemo, nullPm = 50), // == refunded cdemo
        fk(s"${p}_returning_hdemo_sk", "id", 4006, nHdemo, nullPm = 50),
        fk(s"${p}_returning_addr_sk", "id", 4009, nAddress, nullPm = 50),
        fk(s"${p}_reason_sk", "id", 4010, nReason, nullPm = 20),
        s"oid AS $orderCol",
        s"CAST(1 + ${u("id", 4011, 4)} AS INT) AS ${p}_return_quantity",
        s"CAST(round((1 + pmod(xxhash64(id, 4011), 4)) * sold_price, 2) AS DECIMAL(7,2)) AS $amtName")
      .selectExpr(Seq("*",
        s"CAST(round($amtName * 0.08, 2) AS DECIMAL(7,2)) AS ${p}_return_tax",
        s"CAST(round($amtName * 1.08, 2) AS DECIMAL(7,2)) AS ${p}_return_amt_inc_tax",
        s"CAST(5.00 AS DECIMAL(7,2)) AS ${p}_fee",
        s"CAST(round($amtName * 0.1, 2) AS DECIMAL(7,2)) AS ${p}_return_ship_cost",
        s"CAST(round($amtName * 0.7, 2) AS DECIMAL(7,2)) AS ${p}_refunded_cash",
        s"CAST(round($amtName * 0.2, 2) AS DECIMAL(7,2)) AS ${p}_reversed_charge",
        s"CAST(round($amtName * 0.1, 2) AS DECIMAL(7,2)) AS $lastCol",
        s"CAST(round($amtName * 0.5 + 5.0, 2) AS DECIMAL(7,2)) AS ${p}_net_loss") ++ pageCol: _*)
      .drop("sold_date", "ret_cust", "ret_item", "sold_price", "id", "oid")
  }

  // ----------------------------------------------------------- dimensions

  private def dateDim(s: SparkSession): DataFrame =
    s.range(73049)
      .selectExpr(s"id + $JD0 AS d_date_sk",
        "date_add(DATE'1900-01-01', CAST(id AS INT)) AS d_date", "id")
      .selectExpr("d_date_sk",
        "concat('D', lpad(CAST(d_date_sk AS STRING), 16, '0')) AS d_date_id",
        "d_date",
        "(year(d_date) - 1900) * 12 + month(d_date) - 1 AS d_month_seq",
        "CAST(id div 7 + 1 AS BIGINT) AS d_week_seq",
        "(year(d_date) - 1900) * 4 + quarter(d_date) - 1 AS d_quarter_seq",
        "year(d_date) AS d_year",
        "dayofweek(d_date) - 1 AS d_dow",
        "month(d_date) AS d_moy",
        "day(d_date) AS d_dom",
        "quarter(d_date) AS d_qoy",
        "year(d_date) AS d_fy_year",
        "(year(d_date) - 1900) * 4 + quarter(d_date) - 1 AS d_fy_quarter_seq",
        "CAST(id div 7 + 1 AS BIGINT) AS d_fy_week_seq",
        "date_format(d_date, 'EEEE') AS d_day_name",
        "concat(CAST(year(d_date) AS STRING), 'Q', CAST(quarter(d_date) AS STRING)) AS d_quarter_name",
        "CASE WHEN (month(d_date) = 12 AND day(d_date) = 25) OR (month(d_date) = 7 AND day(d_date) = 4) OR (month(d_date) = 1 AND day(d_date) = 1) THEN 'Y' ELSE 'N' END AS d_holiday",
        "CASE WHEN dayofweek(d_date) IN (1, 7) THEN 'Y' ELSE 'N' END AS d_weekend",
        "CASE WHEN (month(d_date) = 12 AND day(d_date) = 26) OR (month(d_date) = 7 AND day(d_date) = 5) OR (month(d_date) = 1 AND day(d_date) = 2) THEN 'Y' ELSE 'N' END AS d_following_holiday",
        "d_date_sk - day(d_date) + 1 AS d_first_dom",
        "d_date_sk - day(d_date) + CAST(day(last_day(d_date)) AS BIGINT) AS d_last_dom",
        "d_date_sk - 365 AS d_same_day_ly",
        "d_date_sk - 91 AS d_same_day_lq",
        "'N' AS d_current_day", "'N' AS d_current_week",
        "'N' AS d_current_month", "'N' AS d_current_quarter",
        "'N' AS d_current_year")

  private def timeDim(s: SparkSession): DataFrame =
    s.range(86400)
      .selectExpr("id AS t_time_sk",
        "concat('T', lpad(CAST(id AS STRING), 16, '0')) AS t_time_id",
        "id AS t_time",
        "CAST(id div 3600 AS INT) AS t_hour",
        "CAST(pmod(id div 60, 60) AS INT) AS t_minute",
        "CAST(pmod(id, 60) AS INT) AS t_second",
        "CASE WHEN id < 43200 THEN 'AM' ELSE 'PM' END AS t_am_pm",
        "CASE WHEN id div 3600 BETWEEN 6 AND 13 THEN 'first' WHEN id div 3600 BETWEEN 14 AND 21 THEN 'second' ELSE 'third' END AS t_shift",
        "CASE WHEN id div 3600 BETWEEN 6 AND 9 THEN 'morning' WHEN id div 3600 BETWEEN 10 AND 13 THEN 'noon' WHEN id div 3600 BETWEEN 14 AND 17 THEN 'afternoon' ELSE 'evening' END AS t_sub_shift",
        "CASE WHEN id div 3600 BETWEEN 6 AND 8 THEN 'breakfast' WHEN id div 3600 BETWEEN 11 AND 13 THEN 'lunch' WHEN id div 3600 BETWEEN 17 AND 19 THEN 'dinner' ELSE NULL END AS t_meal_time")

  private def item(s: SparkSession): DataFrame =
    s.range(nItem)
      .selectExpr("id + 1 AS i_item_sk", "id")
      .selectExpr("i_item_sk",
        "concat('I', lpad(CAST(i_item_sk AS STRING), 16, '0')) AS i_item_id",
        "DATE'1997-10-27' AS i_rec_start_date",
        "CAST(NULL AS DATE) AS i_rec_end_date",
        s"concat('item description ', CAST(${u("id", 5001, 1000)} AS STRING)) AS i_item_desc",
        dec("i_current_price", "id", 5002, 1, 100),
        dec("i_wholesale_cost", "id", 5003, 1, 70),
        s"CAST(1 + ${u("id", 5004, 200)} AS INT) * 100 + CAST(1 + ${u("id", 5005, 9)} AS INT) AS i_brand_id",
        s"concat('brand#', CAST((1 + ${u("id", 5004, 200)}) * 100 + 1 + ${u("id", 5005, 9)} AS STRING)) AS i_brand",
        s"CAST(1 + ${u("id", 5006, 16)} AS INT) AS i_class_id",
        s"concat('class', lpad(CAST(1 + ${u("id", 5006, 16)} AS STRING), 2, '0')) AS i_class",
        s"CAST(1 + pmod(id, ${categories.length}) AS INT) AS i_category_id",
        s"element_at(array(${categories.map(c => s"'$c'").mkString(",")}), CAST(pmod(id, ${categories.length}) AS INT) + 1) AS i_category",
        s"CAST(1 + ${u("id", 5004, 200)} AS INT) AS i_manufact_id",
        s"concat('manufact#', CAST(1 + ${u("id", 5004, 200)} AS STRING)) AS i_manufact",
        pick("i_size", "id", 5008, Seq("small", "medium", "large", "extra large", "petite", "N/A")),
        s"concat('formulation ', CAST(${u("id", 5009, 100)} AS STRING)) AS i_formulation",
        pick("i_color", "id", 5010, Seq("red", "blue", "green", "yellow", "black",
          "white", "purple", "orange", "pink", "brown", "navy", "olive")),
        pick("i_units", "id", 5011, Seq("Each", "Dozen", "Case", "Pallet", "Gross")),
        pick("i_container", "id", 5012, Seq("Unknown", "Box", "Carton")),
        s"CAST(1 + ${u("id", 5013, 100)} AS INT) AS i_manager_id",
        s"concat('product', CAST(i_item_sk AS STRING)) AS i_product_name")

  private def customer(s: SparkSession): DataFrame =
    s.range(nCustomer)
      .selectExpr("id + 1 AS c_customer_sk", "id")
      .selectExpr("c_customer_sk",
        "concat('C', lpad(CAST(c_customer_sk AS STRING), 15, '0')) AS c_customer_id",
        fk("c_current_cdemo_sk", "id", 6001, nCdemo, nullPm = 15),
        fk("c_current_hdemo_sk", "id", 6002, nHdemo, nullPm = 15),
        fkNN("c_current_addr_sk", "id", 6003, nAddress),
        s"$JD98 - 1000 + ${u("id", 6004, 1000)} AS c_first_shipto_date_sk",
        s"$JD98 - 2000 + ${u("id", 6005, 1000)} AS c_first_sales_date_sk",
        pick("c_salutation", "id", 6006, Seq("Mr.", "Mrs.", "Ms.", "Dr.", "Miss", "Sir")),
        pick("c_first_name", "id", 6007, firstNames),
        pick("c_last_name", "id", 6008, lastNames),
        s"CASE WHEN ${u("id", 6009, 2)} = 0 THEN 'Y' ELSE 'N' END AS c_preferred_cust_flag",
        intIn("c_birth_day", "id", 6010, 1, 28),
        intIn("c_birth_month", "id", 6011, 1, 12),
        intIn("c_birth_year", "id", 6012, 1930, 1992),
        pick("c_birth_country", "id", 6013, Seq("UNITED STATES", "CANADA",
          "MEXICO", "GERMANY", "FRANCE", "JAPAN", "BRAZIL", "INDIA")),
        "CAST(NULL AS STRING) AS c_login",
        "concat('customer', CAST(c_customer_sk AS STRING), '@example.com') AS c_email_address",
        s"$JD98 + ${u("id", 6014, Days5y)} AS c_last_review_date_sk")

  private def customerAddress(s: SparkSession): DataFrame =
    s.range(nAddress)
      .selectExpr("id + 1 AS ca_address_sk", "id")
      .selectExpr("ca_address_sk",
        "concat('A', lpad(CAST(ca_address_sk AS STRING), 15, '0')) AS ca_address_id",
        s"CAST(1 + ${u("id", 7001, 999)} AS STRING) AS ca_street_number",
        pick("ca_street_name", "id", 7002, streetNames),
        pick("ca_street_type", "id", 7003, streetTypes),
        s"concat('Suite ', CAST(${u("id", 7004, 400)} AS STRING)) AS ca_suite_number",
        pick("ca_city", "id", 7005, cities),
        pick("ca_county", "id", 7006, counties),
        pick("ca_state", "id", 7007, states),
        s"CASE WHEN ${u("id", 7011, 5)} = 0 THEN element_at(array(${storeZips.map(z => s"'$z'").mkString(",")}), CAST(${u("id", 7012, storeZips.length)} AS INT) + 1) " +
          s"ELSE lpad(CAST(10000 + ${u("id", 7008, 89999)} AS STRING), 5, '0') END AS ca_zip",
        "'United States' AS ca_country",
        s"CAST(-8 + ${u("id", 7009, 4)} AS DECIMAL(5,2)) AS ca_gmt_offset",
        pick("ca_location_type", "id", 7010, Seq("apartment", "condo", "single family")))

  private def customerDemographics(s: SparkSession): DataFrame =
    s.range(nCdemo)
      .selectExpr("id + 1 AS cd_demo_sk", "id")
      .selectExpr("cd_demo_sk",
        "CASE WHEN pmod(id, 2) = 0 THEN 'M' ELSE 'F' END AS cd_gender",
        s"element_at(array(${marital.map(m => s"'$m'").mkString(",")}), CAST(pmod(id div 2, ${marital.length}) AS INT) + 1) AS cd_marital_status",
        s"element_at(array(${education.map(e => s"'$e'").mkString(",")}), CAST(pmod(id div 10, ${education.length}) AS INT) + 1) AS cd_education_status",
        s"CAST(500 * (1 + ${u("id", 8001, 20)}) AS INT) AS cd_purchase_estimate",
        s"element_at(array(${creditRating.map(c => s"'$c'").mkString(",")}), CAST(pmod(id div 70, ${creditRating.length}) AS INT) + 1) AS cd_credit_rating",
        s"CAST(pmod(id div 280, 7) AS INT) AS cd_dep_count",
        s"CAST(pmod(id div 1960, 7) AS INT) AS cd_dep_employed_count",
        s"CAST(pmod(id div 13720, 7) AS INT) AS cd_dep_college_count")

  private def householdDemographics(s: SparkSession): DataFrame =
    s.range(nHdemo)
      .selectExpr("id + 1 AS hd_demo_sk", "id")
      .selectExpr("hd_demo_sk",
        s"1 + pmod(id, $nIncomeBand) AS hd_income_band_sk",
        s"element_at(array(${buyPotential.map(b => s"'$b'").mkString(",")}), CAST(pmod(id div 20, ${buyPotential.length}) AS INT) + 1) AS hd_buy_potential",
        "CAST(pmod(id div 120, 10) AS INT) AS hd_dep_count",
        "CAST(pmod(id div 1200, 6) - 1 AS INT) AS hd_vehicle_count")

  private def incomeBand(s: SparkSession): DataFrame =
    s.range(nIncomeBand)
      .selectExpr("id + 1 AS ib_income_band_sk",
        "CAST(id * 10000 AS INT) AS ib_lower_bound",
        "CAST(id * 10000 + 10000 AS INT) AS ib_upper_bound")

  private def promotion(s: SparkSession): DataFrame =
    s.range(nPromo)
      .selectExpr("id + 1 AS p_promo_sk", "id")
      .selectExpr("p_promo_sk",
        "concat('P', lpad(CAST(p_promo_sk AS STRING), 15, '0')) AS p_promo_id",
        s"$JD98 + ${u("id", 9001, Days5y - 100)} AS p_start_date_sk",
        s"$JD98 + 100 + ${u("id", 9002, Days5y - 100)} AS p_end_date_sk",
        fk("p_item_sk", "id", 9003, nItem, nullPm = 10),
        dec("p_cost", "id", 9004, 500, 2000),
        "CAST(1 AS INT) AS p_response_target",
        s"concat('promo#', CAST(p_promo_sk AS STRING)) AS p_promo_name",
        s"CASE WHEN ${u("id", 9005, 2)} = 0 THEN 'Y' ELSE 'N' END AS p_channel_dmail",
        s"CASE WHEN ${u("id", 9006, 2)} = 0 THEN 'Y' ELSE 'N' END AS p_channel_email",
        s"CASE WHEN ${u("id", 9007, 2)} = 0 THEN 'Y' ELSE 'N' END AS p_channel_catalog",
        s"CASE WHEN ${u("id", 9008, 2)} = 0 THEN 'Y' ELSE 'N' END AS p_channel_tv",
        s"CASE WHEN ${u("id", 9009, 2)} = 0 THEN 'Y' ELSE 'N' END AS p_channel_radio",
        s"CASE WHEN ${u("id", 9010, 2)} = 0 THEN 'Y' ELSE 'N' END AS p_channel_press",
        s"CASE WHEN ${u("id", 9011, 2)} = 0 THEN 'Y' ELSE 'N' END AS p_channel_event",
        s"CASE WHEN ${u("id", 9012, 2)} = 0 THEN 'Y' ELSE 'N' END AS p_channel_demo",
        "'channel details' AS p_channel_details",
        pick("p_purpose", "id", 9013, Seq("Unknown", "sale", "promotion")),
        s"CASE WHEN ${u("id", 9014, 2)} = 0 THEN 'Y' ELSE 'N' END AS p_discount_active")

  private def reason(s: SparkSession): DataFrame =
    s.range(nReason)
      .selectExpr("id + 1 AS r_reason_sk",
        "concat('R', lpad(CAST(id + 1 AS STRING), 15, '0')) AS r_reason_id",
        "concat('reason ', CAST(id + 1 AS STRING)) AS r_reason_desc")

  private def shipMode(s: SparkSession): DataFrame =
    s.range(nShipMode)
      .selectExpr("id + 1 AS sm_ship_mode_sk", "id")
      .selectExpr("sm_ship_mode_sk",
        "concat('SM', lpad(CAST(sm_ship_mode_sk AS STRING), 14, '0')) AS sm_ship_mode_id",
        s"element_at(array('EXPRESS','NEXT DAY','OVERNIGHT','REGULAR','TWO DAY','LIBRARY'), CAST(pmod(id, 6) AS INT) + 1) AS sm_type",
        s"element_at(array('AIR','SURFACE','SEA'), CAST(pmod(id div 6, 3) AS INT) + 1) AS sm_code",
        pick("sm_carrier", "id", 10001, Seq("UPS", "FEDEX", "AIRBORNE", "USPS",
          "DHL", "TBS", "ZHOU", "LATVIAN", "MSC", "ORIENTAL")),
        s"concat('contract', CAST(${u("id", 10002, 100)} AS STRING)) AS sm_contract")

  private def store(s: SparkSession): DataFrame =
    s.range(nStore)
      .selectExpr("id + 1 AS s_store_sk", "id")
      .selectExpr("s_store_sk",
        "concat('S', lpad(CAST(s_store_sk AS STRING), 15, '0')) AS s_store_id",
        "DATE'1997-03-13' AS s_rec_start_date",
        "CAST(NULL AS DATE) AS s_rec_end_date",
        "CAST(NULL AS BIGINT) AS s_closed_date_sk",
        s"element_at(array(${numberWords.map(w => s"'$w'").mkString(",")}), CAST(pmod(id, ${numberWords.length}) AS INT) + 1) AS s_store_name",
        intIn("s_number_employees", "id", 11001, 200, 300),
        intIn("s_floor_space", "id", 11002, 5000000, 9000000),
        "'8AM-10PM' AS s_hours",
        pick("s_manager", "id", 11003, firstNames),
        "CAST(1 + pmod(id, 10) AS INT) AS s_market_id",
        "'Unknown' AS s_geography_class",
        "'market description' AS s_market_desc",
        pick("s_market_manager", "id", 11005, lastNames),
        s"CAST(1 + ${u("id", 11006, 2)} AS INT) AS s_division_id",
        "'Unknown' AS s_division_name",
        s"CAST(1 + ${u("id", 11007, 2)} AS INT) AS s_company_id",
        "'Unknown' AS s_company_name",
        s"CAST(1 + ${u("id", 11008, 999)} AS STRING) AS s_street_number",
        pick("s_street_name", "id", 11009, streetNames),
        pick("s_street_type", "id", 11010, streetTypes),
        s"concat('Suite ', CAST(${u("id", 11011, 400)} AS STRING)) AS s_suite_number",
        // city/county/state/gmt cycle (not hash) so every published query
        // constant ('TN', 'Midway', -5, …) is present among only 12 stores
        s"element_at(array(${cities.map(c => s"'$c'").mkString(",")}), CAST(pmod(id, ${cities.length}) AS INT) + 1) AS s_city",
        s"element_at(array(${counties.map(c => s"'$c'").mkString(",")}), CAST(pmod(id, ${counties.length}) AS INT) + 1) AS s_county",
        s"element_at(array(${states.map(c => s"'$c'").mkString(",")}), CAST(pmod(id, ${states.length}) AS INT) + 1) AS s_state",
        s"element_at(array(${storeZips.map(z => s"'$z'").mkString(",")}), CAST(pmod(id, ${storeZips.length}) AS INT) + 1) AS s_zip",
        "'United States' AS s_country",
        "CAST(-8 + pmod(id, 4) AS DECIMAL(5,2)) AS s_gmt_offset",
        "CAST(0.03 AS DECIMAL(5,2)) AS s_tax_precentage")

  private def warehouse(s: SparkSession): DataFrame =
    s.range(nWarehouse)
      .selectExpr("id + 1 AS w_warehouse_sk", "id")
      .selectExpr("w_warehouse_sk",
        "concat('W', lpad(CAST(w_warehouse_sk AS STRING), 15, '0')) AS w_warehouse_id",
        s"element_at(array(${numberWords.map(w => s"'$w'").mkString(",")}), CAST(pmod(id, ${numberWords.length}) AS INT) + 1) AS w_warehouse_name",
        intIn("w_warehouse_sq_ft", "id", 12001, 50000, 1000000),
        s"CAST(1 + ${u("id", 12002, 999)} AS STRING) AS w_street_number",
        pick("w_street_name", "id", 12003, streetNames),
        pick("w_street_type", "id", 12004, streetTypes),
        s"concat('Suite ', CAST(${u("id", 12005, 400)} AS STRING)) AS w_suite_number",
        pick("w_city", "id", 12006, cities),
        pick("w_county", "id", 12007, counties),
        pick("w_state", "id", 12008, states),
        s"lpad(CAST(10000 + ${u("id", 12009, 89999)} AS STRING), 5, '0') AS w_zip",
        "'United States' AS w_country",
        s"CAST(-8 + ${u("id", 12010, 4)} AS DECIMAL(5,2)) AS w_gmt_offset")

  private def webPage(s: SparkSession): DataFrame =
    s.range(nWebPage)
      .selectExpr("id + 1 AS wp_web_page_sk", "id")
      .selectExpr("wp_web_page_sk",
        "concat('WP', lpad(CAST(wp_web_page_sk AS STRING), 14, '0')) AS wp_web_page_id",
        "DATE'1997-09-03' AS wp_rec_start_date",
        "CAST(NULL AS DATE) AS wp_rec_end_date",
        s"$JD98 - 500 + ${u("id", 13001, 500)} AS wp_creation_date_sk",
        s"$JD98 + ${u("id", 13002, Days5y)} AS wp_access_date_sk",
        s"CASE WHEN ${u("id", 13003, 2)} = 0 THEN 'Y' ELSE 'N' END AS wp_autogen_flag",
        fk("wp_customer_sk", "id", 13004, nCustomer, nullPm = 50),
        "concat('http://www.example.com/page', CAST(wp_web_page_sk AS STRING)) AS wp_url",
        pick("wp_type", "id", 13005, Seq("welcome", "order", "dynamic", "general",
          "feedback", "ad", "protected")),
        intIn("wp_char_count", "id", 13006, 3000, 7000),
        intIn("wp_link_count", "id", 13007, 2, 25),
        intIn("wp_image_count", "id", 13008, 1, 7),
        intIn("wp_max_ad_count", "id", 13009, 0, 4))

  private def webSite(s: SparkSession): DataFrame =
    s.range(nWebSite)
      .selectExpr("id + 1 AS web_site_sk", "id")
      .selectExpr("web_site_sk",
        "concat('WEB', lpad(CAST(web_site_sk AS STRING), 13, '0')) AS web_site_id",
        "DATE'1997-08-16' AS web_rec_start_date",
        "CAST(NULL AS DATE) AS web_rec_end_date",
        "concat('site_', CAST(pmod(id, 10) AS STRING)) AS web_name",
        s"$JD98 - 500 + ${u("id", 14001, 500)} AS web_open_date_sk",
        "CAST(NULL AS BIGINT) AS web_close_date_sk",
        "'Unknown' AS web_class",
        pick("web_manager", "id", 14002, firstNames),
        s"CAST(1 + ${u("id", 14003, 6)} AS INT) AS web_mkt_id",
        "'Unknown' AS web_mkt_class",
        "'market description' AS web_mkt_desc",
        pick("web_market_manager", "id", 14004, lastNames),
        s"CAST(1 + ${u("id", 14005, 2)} AS INT) AS web_company_id",
        pick("web_company_name", "id", 14006, numberWords.take(6)),
        s"CAST(1 + ${u("id", 14007, 999)} AS STRING) AS web_street_number",
        pick("web_street_name", "id", 14008, streetNames),
        pick("web_street_type", "id", 14009, streetTypes),
        s"concat('Suite ', CAST(${u("id", 14010, 400)} AS STRING)) AS web_suite_number",
        pick("web_city", "id", 14011, cities),
        pick("web_county", "id", 14012, counties),
        pick("web_state", "id", 14013, states),
        s"lpad(CAST(10000 + ${u("id", 14014, 89999)} AS STRING), 5, '0') AS web_zip",
        "'United States' AS web_country",
        s"CAST(-8 + ${u("id", 14015, 4)} AS DECIMAL(5,2)) AS web_gmt_offset",
        "CAST(0.02 AS DECIMAL(5,2)) AS web_tax_percentage")

  private def callCenter(s: SparkSession): DataFrame =
    s.range(nCallCenter)
      .selectExpr("id + 1 AS cc_call_center_sk", "id")
      .selectExpr("cc_call_center_sk",
        "concat('CC', lpad(CAST(cc_call_center_sk AS STRING), 14, '0')) AS cc_call_center_id",
        "DATE'1998-01-01' AS cc_rec_start_date",
        "CAST(NULL AS DATE) AS cc_rec_end_date",
        "CAST(NULL AS BIGINT) AS cc_closed_date_sk",
        s"$JD98 - 200 + ${u("id", 15001, 200)} AS cc_open_date_sk",
        s"element_at(array('NY Metro','Mid Atlantic','Pacific Northwest','North Midwest','California','Hawaii/Alaska'), CAST(pmod(id, 6) AS INT) + 1) AS cc_name",
        pick("cc_class", "id", 15002, Seq("small", "medium", "large")),
        intIn("cc_employees", "id", 15003, 50, 500),
        intIn("cc_sq_ft", "id", 15004, 10000, 500000),
        "'8AM-8PM' AS cc_hours",
        pick("cc_manager", "id", 15005, firstNames),
        s"CAST(1 + ${u("id", 15006, 6)} AS INT) AS cc_mkt_id",
        "'Unknown' AS cc_mkt_class",
        "'market description' AS cc_mkt_desc",
        pick("cc_market_manager", "id", 15007, lastNames),
        s"CAST(1 + ${u("id", 15008, 2)} AS INT) AS cc_division",
        "'Unknown' AS cc_division_name",
        s"CAST(1 + ${u("id", 15009, 2)} AS INT) AS cc_company",
        pick("cc_company_name", "id", 15010, numberWords.take(6)),
        s"CAST(1 + ${u("id", 15011, 999)} AS STRING) AS cc_street_number",
        pick("cc_street_name", "id", 15012, streetNames),
        pick("cc_street_type", "id", 15013, streetTypes),
        s"concat('Suite ', CAST(${u("id", 15014, 400)} AS STRING)) AS cc_suite_number",
        pick("cc_city", "id", 15015, cities),
        pick("cc_county", "id", 15016, counties),
        pick("cc_state", "id", 15017, states),
        s"lpad(CAST(10000 + ${u("id", 15018, 89999)} AS STRING), 5, '0') AS cc_zip",
        "'United States' AS cc_country",
        s"CAST(-8 + ${u("id", 15019, 4)} AS DECIMAL(5,2)) AS cc_gmt_offset",
        "CAST(0.05 AS DECIMAL(5,2)) AS cc_tax_percentage")

  private def catalogPage(s: SparkSession): DataFrame =
    s.range(nCatalogPage)
      .selectExpr("id + 1 AS cp_catalog_page_sk", "id")
      .selectExpr("cp_catalog_page_sk",
        "concat('CP', lpad(CAST(cp_catalog_page_sk AS STRING), 14, '0')) AS cp_catalog_page_id",
        s"$JD98 + ${u("id", 16001, Days5y - 100)} AS cp_start_date_sk",
        s"$JD98 + 100 + ${u("id", 16002, Days5y - 100)} AS cp_end_date_sk",
        pick("cp_department", "id", 16003, Seq("DEPARTMENT")),
        s"CAST(1 + id div 100 AS INT) AS cp_catalog_number",
        s"CAST(1 + pmod(id, 100) AS INT) AS cp_catalog_page_number",
        "concat('page description ', CAST(cp_catalog_page_sk AS STRING)) AS cp_description",
        pick("cp_type", "id", 16004, Seq("bi-annual", "quarterly", "monthly")))

  /** 15-day snapshots × all items × 2 warehouses (inventory is the
    * spec's largest table; held scale-invariant here like dsdgen's
    * week-granularity snapshots are date- not sales-scaled; two
    * snapshots per month give q39's per-month stdev a defined value). */
  private def inventory(s: SparkSession): DataFrame = {
    val periods = 120L
    s.range(periods * nItem * 2)
      .selectExpr(
        s"$JD98 + (id div ${nItem * 2}) * 15 AS inv_date_sk",
        s"1 + pmod(id, $nItem) AS inv_item_sk",
        s"1 + pmod(id div $nItem, 2) AS inv_warehouse_sk",
        s"CASE WHEN ${u("id", 17001, 100)} = 0 THEN CAST(NULL AS INT) " +
          s"ELSE CAST(${u("id", 17002, 1000)} AS INT) END AS inv_quantity_on_hand")
  }

  // ------------------------------------------------------------ lifecycle

  private def generators(s: SparkSession, scale: Int): Seq[(String, () => DataFrame, Int)] = Seq(
    ("date_dim", () => dateDim(s), 1),
    ("time_dim", () => timeDim(s), 1),
    ("item", () => item(s), 1),
    ("customer", () => customer(s), 1),
    ("customer_address", () => customerAddress(s), 1),
    ("customer_demographics", () => customerDemographics(s), 1),
    ("household_demographics", () => householdDemographics(s), 1),
    ("income_band", () => incomeBand(s), 1),
    ("promotion", () => promotion(s), 1),
    ("reason", () => reason(s), 1),
    ("ship_mode", () => shipMode(s), 1),
    ("store", () => store(s), 1),
    ("warehouse", () => warehouse(s), 1),
    ("web_page", () => webPage(s), 1),
    ("web_site", () => webSite(s), 1),
    ("call_center", () => callCenter(s), 1),
    ("catalog_page", () => catalogPage(s), 1),
    ("store_sales", () => storeSales(s, scale), 4 * scale),
    ("store_returns", () => storeReturns(s, scale), 2 * scale),
    ("catalog_sales", () => channelSales(s, nCS(scale), "cs", nSR(scale)), 4 * scale),
    ("catalog_returns", () => channelReturns(s, nCR(scale), "cr", "cr_order_number", nSR(scale)), 2 * scale),
    ("web_sales", () => channelSales(s, nWS(scale), "ws", nSR(scale)), 2 * scale),
    ("web_returns", () => channelReturns(s, nWR(scale), "wr", "wr_order_number", nSR(scale)), 1),
    ("inventory", () => inventory(s), 4))

  /** Generate (once) and register all 24 tables as temp views. Returns the
    * materialization root. Generation is cross-process idempotent via the
    * _SUCCESS marker, and runs once per (JVM, root).
    *
    * r16 optimization (guide §1 — measured): ensure() runs for EVERY
    * q_tpcdsr_* invocation, and the 24 per-table `read.parquet` schema
    * inferences (footer reads) cost ~1.5 s per query BEFORE execution —
    * ~150 s across the 103-query family per bench run. The parquet under
    * `root` is write-once (the _SUCCESS marker), so the inferred schemas
    * are cached per path in [[graft.Tables.cachedSchema]], the relations
    * per session in [[graft.Tables.cachedRead]], and a view is registered
    * again only when another family rebound its name
    * ([[graft.Tables.bindView]]: `customer` is also a TPC-H fixture view).
    * The steady-state cost is 24 map lookups. */
  def ensure(s: SparkSession, sfDir: String): String = {
    graft.GraftSession.sizeCodegenCache()
    val root = rootFor(sfDir)
    generated(root) {
      val marker = new java.io.File(s"$root/_SUCCESS")
      if (!marker.exists()) {
        generators(s, scaleOf(sfDir)).foreach { case (name, gen, parts) =>
          gen().repartition(parts).write.mode("overwrite").parquet(s"$root/$name")
        }
        marker.getParentFile.mkdirs()
        java.nio.file.Files.writeString(marker.toPath, "ok")
      }
    }
    tableNames.foreach { t =>
      graft.Tables.bindView(s, root, t)(graft.Tables.cachedRead(s, s"$root/$t"))
    }
    root
  }

  private val generated = new graft.Once[String, Unit]

  /** DuckDB oracle prelude: CTEs binding each referenced table to the
    * parquet the generator wrote (correctness scale path — fixed because
    * a catalog oracle is plain text, not a function of the testdata dir). */
  def duckPrelude(tables: Seq[String]): String =
    tables.map(t => s"$t AS (SELECT * FROM read_parquet('$OraclePath/$t/*.parquet'))")
      .mkString(", ")
}
