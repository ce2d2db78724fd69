package graft.operators

import graft.{Query, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Scalar function parity layer (SURVEY.md §2.8).
  *
  * The reference declares ~250 SQL operators (FlinkSqlOperatorTable.java,
  * BuiltInFunctionDefinitions.java:78+); nearly all map 1:1 onto Spark
  * built-ins, which stay inside whole-stage codegen. These queries exercise
  * the mapping wide (one query per category) so the oracle pins down
  * semantics, not just availability — 1-based substring/instr, '' on
  * regexp miss, HALF_UP rounding, Sunday=1 dayofweek, etc.
  *
  * All expressions here are Catalyst built-ins — no UDFs — so at 100 TB the
  * whole projection fuses into one WholeStageCodegen span over the scan.
  */
object ScalarFuncs {

  /** String functions: ref SqlFunctionUtils.java / SqlLikeUtils.java.
    * SPLIT_INDEX → element_at(split(...)); LEFT/RIGHT/OVERLAY native. */
  def strings(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "part").selectExpr(
      "p_partkey",
      "upper(p_name) AS up",
      "lower(p_brand) AS lo",
      "substring(p_name, 2, 5) AS sub",
      "left(p_name, 4) AS l4",
      "right(p_name, 3) AS r3",
      "length(p_name) AS len",
      "concat(p_brand, '-', p_type) AS cat",
      "concat_ws('|', p_brand, p_type) AS catws",
      "lpad(p_brand, 12, '*') AS lp",
      "rpad(p_brand, 12, '#') AS rp",
      "trim(BOTH '*' FROM lpad(p_brand, 12, '*')) AS tr",
      "replace(p_type, 'a', '@') AS rep",
      "reverse(p_name) AS rev",
      "repeat(p_brand, 2) AS rep2",
      "instr(p_name, 'a') AS pos_a",
      "ascii(p_name) AS asc1",
      "chr(65 + pmod(p_size, 26)) AS ch",
      "element_at(split(p_name, ' '), 1) AS tok1",
      "regexp_extract(p_name, '([a-z]+)', 1) AS rex",
      "regexp_replace(p_name, '[aeiou]', '_') AS rrep",
      "translate(p_name, 'abc', 'xyz') AS trn",
      "md5(p_name) AS h_md5",
      "sha2(p_name, 256) AS h_sha",
      "base64(cast(p_brand AS BINARY)) AS b64",
      "p_name LIKE '%a%' AS has_a",
      "p_name RLIKE '[0-9]' AS has_digit"
    ).orderBy("p_partkey")

  /** The §2.8 string tail the first strings query left unexercised
    * (VERDICT r8 missing #1): OVERLAY, PARSE_URL, STR_TO_MAP, SPLIT_INDEX,
    * INITCAP, POSITION, LOCATE, ENCODE/DECODE, FROM_BASE64, HEX-of-string.
    * SPLIT_INDEX is the one with no Spark built-in (Flink is 0-based and
    * NULL on out-of-range where Spark's element_at is 1-based and throws) —
    * a native codegen expr in graft.functions.FlinkScalars. */
  def strings2(s: SparkSession, dir: String): DataFrame = {
    graft.GraftSession.install(s)
    Tables(s, dir, "part").selectExpr(
      "p_partkey",
      "overlay(p_name PLACING '###' FROM 3 FOR 2) AS ovl",
      "parse_url(concat('http://example.com/x?k=', p_size), 'HOST') AS host",
      "parse_url(concat('http://example.com/x?k=', p_size), 'QUERY', 'k') AS qk",
      "str_to_map(concat('a=', p_size, '&b=', p_brand), '&', '=')['a'] AS m_a",
      "str_to_map(concat('a=', p_size, '&b=', p_brand), '&', '=')['b'] AS m_b",
      "split_index(p_name, ' ', 0) AS si0",
      "split_index(p_name, ' ', 1) AS si1",
      "split_index(p_name, ' ', 9) AS si_oob",   // NULL, not error
      "split_index(p_name, ' ', -1) AS si_neg",  // NULL, not error
      "initcap(p_name) AS ic",
      "CAST(position('a' IN p_name) AS INT) AS pos",
      "CAST(locate('an', p_name) AS INT) AS loc",
      "decode(encode(p_name, 'UTF-8'), 'UTF-8') AS enc_rt",
      "CAST(unbase64(base64(CAST(p_name AS BINARY))) AS STRING) AS b64_rt",
      "hex(p_name) AS hx"
    ).orderBy("p_partkey")
  }

  /** Math functions: ref FlinkSqlOperatorTable math ops. Rounded to kill
    * cross-libm last-ulp drift. */
  def math(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "part").selectExpr(
      "p_partkey",
      "round(abs(-p_retailprice), 2) AS v_abs",
      "ceil(p_retailprice) AS v_ceil",
      "floor(p_retailprice) AS v_floor",
      "round(exp(p_size / 50.0), 6) AS v_exp",
      "round(ln(p_retailprice), 6) AS v_ln",
      "round(log10(p_retailprice), 6) AS v_log10",
      "round(log2(cast(p_size AS DOUBLE) + 1), 6) AS v_log2",
      "round(sqrt(p_retailprice), 6) AS v_sqrt",
      "round(power(cast(p_size AS DOUBLE), 2), 2) AS v_pow",
      "pmod(p_size, 7) AS v_mod",
      "cast(signum(p_retailprice - 1000) AS INT) AS v_sign",
      "round(sin(cast(p_size AS DOUBLE)), 6) AS v_sin",
      "round(cos(cast(p_size AS DOUBLE)), 6) AS v_cos",
      "round(atan2(cast(p_size AS DOUBLE), 3.0), 6) AS v_atan2",
      "round(cot(cast(p_size AS DOUBLE) + 0.5), 6) AS v_cot",
      "round(degrees(1.0), 6) AS v_deg",
      "round(radians(180.0), 6) AS v_rad",
      "greatest(p_size, 25) AS v_great",
      "least(p_size, 25) AS v_least",
      "bin(p_size) AS v_bin",
      "hex(p_size) AS v_hex"
    ).orderBy("p_partkey")

  /** TRUNCATE (ref SqlFunctionUtils.truncate — toward ZERO, unlike ROUND's
    * HALF_UP; negative n truncates left of the decimal point). Native
    * codegen expr truncate_num; the oracle emulates with trunc(x*10^n)/10^n
    * (identical IEEE multiply/floor/divide on both engines). */
  def math2(s: SparkSession, dir: String): DataFrame = {
    graft.GraftSession.install(s)
    Tables(s, dir, "part").selectExpr(
      "p_partkey",
      "truncate_num(p_retailprice, 2) AS t2",
      "truncate_num(p_retailprice - 1000.0D, 0) AS t0",
      "truncate_num(p_retailprice, -2) AS tm2",
      "truncate_num(-p_retailprice, 2) AS tn2",
      "truncate_num(1000.0D - p_retailprice, 1) AS tmix"
    ).orderBy("p_partkey")
  }

  /** Temporal functions: ref SqlDateTimeUtils.java. dayofweek aligned to
    * Spark's Sunday=1 convention (oracle adds +1 to DuckDB's Sunday=0). */
  def datetime(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "orders").selectExpr(
      "o_orderkey",
      "year(o_orderdate) AS y",
      "quarter(o_orderdate) AS q",
      "month(o_orderdate) AS m",
      "day(o_orderdate) AS d",
      "hour(o_orderdate) AS h",
      "minute(o_orderdate) AS mi",
      "second(o_orderdate) AS sec",
      "dayofweek(o_orderdate) AS dow",
      "weekofyear(o_orderdate) AS woy",
      "dayofyear(o_orderdate) AS doy",
      "date_trunc('month', o_orderdate) AS mon_start",
      "datediff(o_orderdate, DATE '2024-01-01') AS days_since",
      "cast(date_add(cast(o_orderdate AS DATE), 30) AS STRING) AS plus30",
      "unix_timestamp(o_orderdate) AS epoch_s",
      "date_format(o_orderdate, 'yyyy-MM-dd') AS fmt",
      "o_orderdate + INTERVAL 5 HOUR AS plus5h"
    ).orderBy("o_orderkey")

  /** The §2.8 temporal tail (VERDICT r8 missing #1): CONVERT_TZ (as
    * from_utc_timestamp — same shift semantics over a fixed-offset zone),
    * TIMESTAMPADD, TIMESTAMPDIFF, TEMPORAL_OVERLAPS (native codegen expr,
    * Calcite's normalize-then-inclusive-compare expansion — ref
    * CustomizedConvertRule.java:169). TIMESTAMPDIFF args are midnight-aligned
    * via date_trunc because Spark counts COMPLETE units while DuckDB's
    * date_diff counts boundary crossings — aligned inputs make them agree. */
  def datetime2(s: SparkSession, dir: String): DataFrame = {
    graft.GraftSession.install(s)
    Tables(s, dir, "orders").selectExpr(
      "o_orderkey",
      "date_format(from_utc_timestamp(o_orderdate, '+09:00'), 'yyyy-MM-dd HH:mm:ss') AS cvt",
      "date_format(timestampadd(HOUR, 3, o_orderdate), 'yyyy-MM-dd HH:mm:ss') AS ta_h",
      "date_format(timestampadd(MONTH, 2, o_orderdate), 'yyyy-MM-dd HH:mm:ss') AS ta_mo",
      "CAST(timestampdiff(DAY, date_trunc('DAY', o_orderdate), TIMESTAMP '2025-06-01 00:00:00') AS BIGINT) AS td_d",
      "CAST(timestampdiff(HOUR, date_trunc('DAY', o_orderdate), TIMESTAMP '2025-06-01 00:00:00') AS BIGINT) AS td_h",
      "CAST(timestampdiff(MONTH, date_trunc('MONTH', o_orderdate), TIMESTAMP '2025-06-01 00:00:00') AS BIGINT) AS td_mo",
      // mixed true/false: right period starts o%4 hours in, left ends at +2h;
      // o%4 == 3 is the only non-overlap, o%4 == 2 hits the INCLUSIVE endpoint
      "temporal_overlaps(o_orderdate, o_orderdate + INTERVAL 2 HOUR, " +
        "o_orderdate + make_interval(0,0,0,0,CAST(o_orderkey % 4 AS INT)), " +
        "o_orderdate + make_interval(0,0,0,0,CAST(o_orderkey % 4 AS INT) + 1)) AS ovl",
      // reversed endpoints exercise the normalization branch
      "temporal_overlaps(o_orderdate + INTERVAL 2 HOUR, o_orderdate, " +
        "o_orderdate + make_interval(0,0,0,0,CAST(o_orderkey % 4 AS INT) + 1), " +
        "o_orderdate + make_interval(0,0,0,0,CAST(o_orderkey % 4 AS INT))) AS ovl_rev"
    ).orderBy("o_orderkey")
  }

  /** SQL `SIMILAR TO` (ref FlinkSqlOperatorTable SIMILAR_TO →
    * SqlLikeUtils.similar) and `LIKE ... ESCAPE`. The engine translates the
    * SQL:2016 pattern language at plan time (FlinkScalarsUtil.similarToRegex)
    * and lowers onto codegen'd RLike: `%`→`.*`, `_`→`.`, SIMILAR TO
    * metacharacters `| * + ? ( ) { } [...]` kept, regex-only specials
    * (`.` etc.) made literal, ESCAPE char honored, whole-string anchored.
    * The oracle spells the EXPECTED translated regex via DuckDB's
    * regexp_full_match (DuckDB's own SIMILAR TO skips the %/_ translation,
    * so it can't serve as the oracle directly). sim_esc/sim_dot are the
    * discriminating rows: an engine that forgot escape handling or dot
    * literalization flips them to true. */
  def similar(s: SparkSession, dir: String): DataFrame = {
    graft.GraftSession.install(s)
    Tables(s, dir, "part").selectExpr(
      "p_partkey",
      "similar_to(p_name, '%(bolt|rod)%') AS sim_alt",
      "similar_to(p_name, '(cold|small)_%') AS sim_us",
      "similar_to(p_brand, 'Brand#[0-9]+') AS sim_cls",
      "similar_to(p_brand, 'Brand#1[0-9]?') AS sim_q",
      "similar_to(p_name, '[a-z]{4} %') AS sim_rep",
      "similar_to(p_name, '%!_%', '!') AS sim_esc",
      "similar_to(p_name, 'c%.') AS sim_dot",
      "p_name LIKE '%!_%' ESCAPE '!' AS like_esc",
      "p_name LIKE 'c%t' AS like_ct"
    ).orderBy("p_partkey")
  }

  /** Conditional / comparison: CASE, NULLIF, COALESCE, IF, BETWEEN, IN,
    * IS [NOT] DISTINCT FROM (ref FlinkSqlOperatorTable comparison ops). */
  def conditional(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "customer").selectExpr(
      "c_custkey",
      "CASE WHEN c_acctbal > 5000 THEN 'high' WHEN c_acctbal > 1000 THEN 'mid' ELSE 'low' END AS tier",
      "coalesce(nullif(c_mktsegment, 'AUTOMOBILE'), 'OTHER') AS seg",
      "if(c_acctbal > 0, 'pos', 'nonpos') AS sgn",
      "c_acctbal IS NULL AS isn",
      "c_acctbal BETWEEN 100 AND 2000 AS in_range",
      "c_mktsegment IN ('AUTOMOBILE', 'MACHINERY') AS seg_in",
      "NOT (c_mktsegment <=> 'BUILDING') AS is_distinct",
      "nvl(c_name, '?') AS nm",
      "round(greatest(c_acctbal, 0.0), 2) AS bal_pos"
    ).orderBy("c_custkey")

  /** Array / map / struct constructors and access (ref ARRAY[]/MAP[]/ROW(),
    * CARDINALITY, ITEM, ELEMENT). */
  def complexTypes(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "nation").selectExpr(
      "n_nationkey",
      // arrays serialized to comma-joined strings for the oracle compare
      // (driver's pandas hash can't sort array cells)
      "array_join(cast(array(n_nationkey, n_regionkey) AS array<string>), ',') AS arr",
      "size(array(n_nationkey, n_regionkey)) AS card",
      "element_at(array(n_name, 'x'), 1) AS elem1",
      "map('k', n_name)['k'] AS mval",
      "named_struct('a', n_nationkey, 'b', n_name).b AS fld",
      "array_join(cast(sort_array(array(n_regionkey, n_nationkey)) AS array<string>), ',') AS sorted_arr",
      "array_contains(array(n_nationkey, n_regionkey), 0) AS has0"
    ).orderBy("n_nationkey")

  /** Reference-only scalar functions with no Spark built-in, implemented as
    * native codegen expressions (graft.functions.StringClassify): IS_DECIMAL,
    * IS_DIGIT, IS_ALPHA, HASH_CODE (ref SqlFunctionUtils, SURVEY.md §2.8). */
  def classify(s: SparkSession, dir: String): DataFrame = {
    graft.GraftSession.install(s)
    Tables(s, dir, "part").selectExpr(
      "p_partkey",
      "is_decimal(cast(p_size AS STRING)) AS dec_int",
      "is_decimal(cast(p_retailprice AS STRING)) AS dec_frac",
      "is_decimal(p_brand) AS dec_brand",
      "is_digit(cast(p_partkey AS STRING)) AS dig_key",
      "is_digit(p_type) AS dig_type",
      "is_alpha(split_part(p_name, ' ', 1)) AS alpha_tok",
      "is_alpha(p_brand) AS alpha_brand",
      "hash_code(p_brand) AS hc_brand",
      "hash_code(p_name) AS hc_name"
    ).orderBy("p_partkey")
  }

  val queries: Seq[Query] = Seq(
    Query("q_fn_string", strings,
      """SELECT p_partkey,
        | upper(p_name) AS up, lower(p_brand) AS lo,
        | substring(p_name, 2, 5) AS sub,
        | left(p_name, 4) AS l4, right(p_name, 3) AS r3,
        | CAST(length(p_name) AS INT) AS len,
        | concat(p_brand, '-', p_type) AS cat,
        | concat_ws('|', p_brand, p_type) AS catws,
        | lpad(p_brand, 12, '*') AS lp, rpad(p_brand, 12, '#') AS rp,
        | trim(lpad(p_brand, 12, '*'), '*') AS tr,
        | replace(p_type, 'a', '@') AS rep,
        | reverse(p_name) AS rev,
        | repeat(p_brand, 2) AS rep2,
        | CAST(instr(p_name, 'a') AS INT) AS pos_a,
        | CAST(ascii(p_name) AS INT) AS asc1,
        | chr(65 + (p_size % 26)) AS ch,
        | split_part(p_name, ' ', 1) AS tok1,
        | regexp_extract(p_name, '([a-z]+)', 1) AS rex,
        | regexp_replace(p_name, '[aeiou]', '_', 'g') AS rrep,
        | translate(p_name, 'abc', 'xyz') AS trn,
        | md5(p_name) AS h_md5, sha256(p_name) AS h_sha,
        | to_base64(encode(p_brand)) AS b64,
        | p_name LIKE '%a%' AS has_a,
        | regexp_matches(p_name, '[0-9]') AS has_digit
        |FROM part ORDER BY p_partkey""".stripMargin),
    Query("q_fn_string2", strings2,
      """SELECT p_partkey,
        | substr(p_name, 1, 2) || '###' || substr(p_name, 5) AS ovl,
        | 'example.com' AS host,
        | CAST(p_size AS VARCHAR) AS qk,
        | CAST(p_size AS VARCHAR) AS m_a,
        | p_brand AS m_b,
        | string_split(p_name, ' ')[1] AS si0,
        | CASE WHEN len(string_split(p_name, ' ')) > 1 THEN string_split(p_name, ' ')[2] END AS si1,
        | CAST(NULL AS VARCHAR) AS si_oob,
        | CAST(NULL AS VARCHAR) AS si_neg,
        | array_to_string(list_transform(string_split(p_name, ' '), x -> upper(x[1:1]) || lower(x[2:])), ' ') AS ic,
        | CAST(position('a' IN p_name) AS INT) AS pos,
        | CAST(instr(p_name, 'an') AS INT) AS loc,
        | p_name AS enc_rt,
        | p_name AS b64_rt,
        | hex(encode(p_name)) AS hx
        |FROM part ORDER BY p_partkey""".stripMargin),
    Query("q_fn_math2", math2,
      """SELECT p_partkey,
        | trunc(p_retailprice * 100) / 100 AS t2,
        | trunc(p_retailprice - 1000.0) AS t0,
        | trunc(p_retailprice * 0.01) / 0.01 AS tm2,
        | trunc(-p_retailprice * 100) / 100 AS tn2,
        | trunc((1000.0 - p_retailprice) * 10) / 10 AS tmix
        |FROM part ORDER BY p_partkey""".stripMargin),
    Query("q_fn_similar", similar,
      """SELECT p_partkey,
        | regexp_full_match(p_name, '.*(bolt|rod).*') AS sim_alt,
        | regexp_full_match(p_name, '(cold|small)..*') AS sim_us,
        | regexp_full_match(p_brand, 'Brand#[0-9]+') AS sim_cls,
        | regexp_full_match(p_brand, 'Brand#1[0-9]?') AS sim_q,
        | regexp_full_match(p_name, '[a-z]{4} .*') AS sim_rep,
        | regexp_full_match(p_name, '.*_.*') AS sim_esc,
        | regexp_full_match(p_name, 'c.*\.') AS sim_dot,
        | p_name LIKE '%!_%' ESCAPE '!' AS like_esc,
        | p_name LIKE 'c%t' AS like_ct
        |FROM part ORDER BY p_partkey""".stripMargin),
    Query("q_fn_datetime2", datetime2,
      """SELECT o_orderkey,
        | strftime(o_orderdate + to_hours(9), '%Y-%m-%d %H:%M:%S') AS cvt,
        | strftime(o_orderdate + to_hours(3), '%Y-%m-%d %H:%M:%S') AS ta_h,
        | strftime(o_orderdate + INTERVAL 2 MONTH, '%Y-%m-%d %H:%M:%S') AS ta_mo,
        | date_diff('day', date_trunc('day', o_orderdate), TIMESTAMP '2025-06-01') AS td_d,
        | date_diff('hour', date_trunc('day', o_orderdate), TIMESTAMP '2025-06-01') AS td_h,
        | date_diff('month', date_trunc('month', o_orderdate), TIMESTAMP '2025-06-01') AS td_mo,
        | (greatest(o_orderdate, o_orderdate + to_hours(2))
        |    >= least(o_orderdate + to_hours(CAST(o_orderkey % 4 AS INT)),
        |             o_orderdate + to_hours(CAST(o_orderkey % 4 AS INT) + 1))
        |  AND greatest(o_orderdate + to_hours(CAST(o_orderkey % 4 AS INT)),
        |               o_orderdate + to_hours(CAST(o_orderkey % 4 AS INT) + 1))
        |    >= least(o_orderdate, o_orderdate + to_hours(2))) AS ovl,
        | (greatest(o_orderdate, o_orderdate + to_hours(2))
        |    >= least(o_orderdate + to_hours(CAST(o_orderkey % 4 AS INT)),
        |             o_orderdate + to_hours(CAST(o_orderkey % 4 AS INT) + 1))
        |  AND greatest(o_orderdate + to_hours(CAST(o_orderkey % 4 AS INT)),
        |               o_orderdate + to_hours(CAST(o_orderkey % 4 AS INT) + 1))
        |    >= least(o_orderdate, o_orderdate + to_hours(2))) AS ovl_rev
        |FROM orders ORDER BY o_orderkey""".stripMargin),
    Query("q_fn_math", math,
      """SELECT p_partkey,
        | round(abs(-p_retailprice), 2) AS v_abs,
        | CAST(ceil(p_retailprice) AS BIGINT) AS v_ceil,
        | CAST(floor(p_retailprice) AS BIGINT) AS v_floor,
        | round(exp(p_size / 50.0), 6) AS v_exp,
        | round(ln(p_retailprice), 6) AS v_ln,
        | round(log10(p_retailprice), 6) AS v_log10,
        | round(log2(CAST(p_size AS DOUBLE) + 1), 6) AS v_log2,
        | round(sqrt(p_retailprice), 6) AS v_sqrt,
        | round(power(CAST(p_size AS DOUBLE), 2), 2) AS v_pow,
        | p_size % 7 AS v_mod,
        | CAST(sign(p_retailprice - 1000) AS INT) AS v_sign,
        | round(sin(CAST(p_size AS DOUBLE)), 6) AS v_sin,
        | round(cos(CAST(p_size AS DOUBLE)), 6) AS v_cos,
        | round(atan2(CAST(p_size AS DOUBLE), 3.0), 6) AS v_atan2,
        | round(cot(CAST(p_size AS DOUBLE) + 0.5), 6) AS v_cot,
        | round(degrees(1.0), 6) AS v_deg,
        | round(radians(180.0), 6) AS v_rad,
        | greatest(p_size, 25) AS v_great,
        | least(p_size, 25) AS v_least,
        | bin(p_size) AS v_bin,
        | hex(p_size) AS v_hex
        |FROM part ORDER BY p_partkey""".stripMargin),
    Query("q_fn_datetime", datetime,
      """SELECT o_orderkey,
        | CAST(year(o_orderdate) AS INT) AS y,
        | CAST(quarter(o_orderdate) AS INT) AS q,
        | CAST(month(o_orderdate) AS INT) AS m,
        | CAST(day(o_orderdate) AS INT) AS d,
        | CAST(hour(o_orderdate) AS INT) AS h,
        | CAST(minute(o_orderdate) AS INT) AS mi,
        | CAST(second(o_orderdate) AS INT) AS sec,
        | CAST(dayofweek(o_orderdate) + 1 AS INT) AS dow,
        | CAST(weekofyear(o_orderdate) AS INT) AS woy,
        | CAST(dayofyear(o_orderdate) AS INT) AS doy,
        | CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS mon_start,
        | CAST(datediff('day', DATE '2024-01-01', CAST(o_orderdate AS DATE)) AS INT) AS days_since,
        | strftime(date_add(CAST(o_orderdate AS DATE), 30), '%Y-%m-%d') AS plus30,
        | CAST(epoch(o_orderdate) AS BIGINT) AS epoch_s,
        | strftime(o_orderdate, '%Y-%m-%d') AS fmt,
        | o_orderdate + INTERVAL 5 HOUR AS plus5h
        |FROM orders ORDER BY o_orderkey""".stripMargin),
    Query("q_fn_conditional", conditional,
      """SELECT c_custkey,
        | CASE WHEN c_acctbal > 5000 THEN 'high' WHEN c_acctbal > 1000 THEN 'mid' ELSE 'low' END AS tier,
        | coalesce(nullif(c_mktsegment, 'AUTOMOBILE'), 'OTHER') AS seg,
        | if(c_acctbal > 0, 'pos', 'nonpos') AS sgn,
        | c_acctbal IS NULL AS isn,
        | c_acctbal BETWEEN 100 AND 2000 AS in_range,
        | c_mktsegment IN ('AUTOMOBILE', 'MACHINERY') AS seg_in,
        | c_mktsegment IS DISTINCT FROM 'BUILDING' AS is_distinct,
        | coalesce(c_name, '?') AS nm,
        | round(greatest(c_acctbal, 0.0), 2) AS bal_pos
        |FROM customer ORDER BY c_custkey""".stripMargin),
    Query("q_fn_complex", complexTypes,
      """SELECT n_nationkey,
        | array_to_string([n_nationkey, n_regionkey], ',') AS arr,
        | CAST(len([n_nationkey, n_regionkey]) AS INT) AS card,
        | [n_name, 'x'][1] AS elem1,
        | map(['k'], [n_name])['k'][1] AS mval,
        | struct_pack(a := n_nationkey, b := n_name).b AS fld,
        | array_to_string(list_sort([n_regionkey, n_nationkey]), ',') AS sorted_arr,
        | list_contains([n_nationkey, n_regionkey], 0) AS has0
        |FROM nation ORDER BY n_nationkey""".stripMargin),
    Query("q_fn_classify", classify,
      """SELECT p_partkey,
        | regexp_full_match(CAST(p_size AS VARCHAR), '[+-]?([0-9]+\.?[0-9]*|\.[0-9]+)([eE][+-]?[0-9]+)?') AS dec_int,
        | regexp_full_match(CAST(p_retailprice AS VARCHAR), '[+-]?([0-9]+\.?[0-9]*|\.[0-9]+)([eE][+-]?[0-9]+)?') AS dec_frac,
        | regexp_full_match(p_brand, '[+-]?([0-9]+\.?[0-9]*|\.[0-9]+)([eE][+-]?[0-9]+)?') AS dec_brand,
        | regexp_full_match(CAST(p_partkey AS VARCHAR), '[0-9]+') AS dig_key,
        | regexp_full_match(p_type, '[0-9]+') AS dig_type,
        | regexp_full_match(split_part(p_name, ' ', 1), '[A-Za-z]+') AS alpha_tok,
        | regexp_full_match(p_brand, '[A-Za-z]+') AS alpha_brand,
        | CAST(((list_reduce(list_prepend(0::BIGINT,
        |    list_transform(range(1, length(p_brand)+1), i -> ascii(p_brand[i])::BIGINT)),
        |    (a, c) -> (a * 31 + c) % 4294967296) + 2147483648) % 4294967296) - 2147483648 AS INT) AS hc_brand,
        | CAST(((list_reduce(list_prepend(0::BIGINT,
        |    list_transform(range(1, length(p_name)+1), i -> ascii(p_name[i])::BIGINT)),
        |    (a, c) -> (a * 31 + c) % 4294967296) + 2147483648) % 4294967296) - 2147483648 AS INT) AS hc_name
        |FROM part ORDER BY p_partkey""".stripMargin),
  )
}
