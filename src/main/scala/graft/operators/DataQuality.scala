package graft.operators

import graft.streaming.StreamQueries
import graft.{Query, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Declarative data-quality validation — the constraint report a 100 TB
  * lake runs nightly before anything downstream trusts the data
  * (deequ/dbt-test shape; the reference has no analog — its closest is
  * per-job assertions in user code). Each check is one aggregate or one
  * anti-join over the table it guards:
  *
  *   - primary-key uniqueness: rows − distinct(key) (two-phase count
  *     distinct, one shuffle of the key columns only)
  *   - referential integrity: left-anti join child→parent (broadcast when
  *     the parent's key set is dimension-sized, as here)
  *   - non-null fraction, accepted-values set, numeric range: codegen
  *     conditional counts, zero shuffles, all fused into one scan per
  *     table
  *
  * The report is one row per check with the violation count, so a
  * scheduler gates on `violations > 0` — and the checks compose into a
  * single job whose cost is a handful of scans regardless of how many
  * expression-level rules run (they share the scan via one aggregate).
  *
  * The suite fires on REAL data here: the synthetic lineitem does not
  * honor the classic TPC-H (l_orderkey, l_linenumber) primary key (14,168
  * duplicate pairs at sf0.01), so lineitem_pk_unique reports pass=false
  * while the other eight constraints hold — exactly the mixed report a
  * production lake produces. */
object DataQuality {

  /** Population Stability Index drift monitor — the standard production
    * gate between a reference corpus snapshot and a new ingest (credit-
    * scoring lineage, now the default data-drift alarm in ML pipelines):
    * PSI = Σ_b (p_b − q_b)·ln(p_b/q_b) over a binned feature, with
    * PSI > 0.2 conventionally "major drift". Here the feature is document
    * length in tokens on the HDR log₂ grid (16 mantissa cells per octave
    * — the quantile sketch's bucket math reused), the reference is the
    * src0 slice and every other source is scored against it, add-one
    * smoothed over each pair's joint bucket set.
    *
    * Determinism: p and q are exact integer ratios in double (exactly
    * rounded), the single ln is quantized to integer MICRO units per
    * bucket before the per-source sum (the repo-wide micro discipline —
    * r13 moved off nano, whose boundary sat ~2e-9 from a last-ulp
    * Math.log/libm divergence). Shape at
    * 100 TB: one expression-only binning pass + two bucket-count
    * aggregates (≤ ~16·64 cells/source — metadata scale), then
    * broadcast-size arithmetic. */
  /** The HDR length-bucket expression shared by the batch and streaming
    * PSI variants. */
  private[graft] val lenBucketExpr: String =
    "(length(bin(greatest(size(split(lower(text), ' ')), 1))) - 1) * 16 " +
      "+ (shiftright(greatest(size(split(lower(text), ' ')), 1), " +
      "greatest(length(bin(greatest(size(split(lower(text), ' ')), 1))) - 5, 0)) & 15)"

  def driftPsi(s: SparkSession, dir: String): DataFrame = {
    val d = Tables(s, dir, "documents")
      .select(col("source"), expr(lenBucketExpr).as("bucket"))
    val refc = d.where(col("source") === "src0")
      .groupBy("bucket").agg(count(lit(1)).as("cr"))
    val curc = d.where(col("source") =!= "src0")
      .groupBy("source", "bucket").agg(count(lit(1)).as("cc"))
    psiOf(refc, curc)
  }

  /** The PSI arithmetic over bucket-count tables — shared by the batch
    * scan and the streaming fold (whose drained state must produce the
    * bit-identical report; counts are the only stream-derived input). */
  private[graft] def psiOf(refc: DataFrame, curc: DataFrame): DataFrame = {
    val nref = refc.agg(coalesce(sum(col("cr")), lit(0L))).head().getLong(0)
    // joint bucket set per source: every reference bucket plus the
    // source's own
    val pairs = curc.select(col("source")).distinct()
      .crossJoin(refc.select(col("bucket")))
      .union(curc.select(col("source"), col("bucket"))).distinct()
    val bs = pairs.join(curc, Seq("source", "bucket"), "left")
      .groupBy("source").agg(count(lit(1)).as("b"),
        coalesce(sum(col("cc")), lit(0L)).as("ncur"))
    val contrib = pairs
      .join(refc, Seq("bucket"), "left")
      .join(curc, Seq("source", "bucket"), "left")
      .join(bs, "source")
      .withColumn("p", expr(s"cast(coalesce(cr, 0) + 1 AS double) / cast(${nref}L + b AS double)"))
      .withColumn("q", expr("cast(coalesce(cc, 0) + 1 AS double) / cast(ncur + b AS double)"))
      // MICRO quantization (r13, ADVICE r12): nano units put the rounding
      // boundary ~2e-9 from a last-ulp Math.log-vs-libm divergence; micro
      // is the repo-wide oracle discipline and widens that margin 1000x
      // while still resolving per-bucket contributions (~1e2-1e4 micro)
      .withColumn("contrib_micro", expr("cast(round((p - q) * ln(p / q) * 1e6) AS bigint)"))
    contrib.groupBy("source")
      .agg(count(lit(1)).as("n_buckets"),
        sum(col("contrib_micro")).as("psi_micro"),
        max(col("contrib_micro")).as("max_contrib_micro"))
      .withColumn("drifted", col("psi_micro") > 200000L)
      .orderBy("source")
  }

  def checks(s: SparkSession, dir: String): DataFrame = {
    val li = Tables(s, dir, "lineitem")
    val ord = Tables(s, dir, "orders")
    val cust = Tables(s, dir, "customer")

    def report(name: String, violations: DataFrame): DataFrame =
      violations.select(lit(name).as("check_name"),
        col("violations").cast("bigint").as("violations"),
        col("total").cast("bigint").as("total"),
        (col("violations") === 0).as("pass"))

    // expression-only rules fused into ONE scan-aggregate per table
    val liExpr = li.agg(
      count(lit(1)).as("total"),
      sum(when(col("l_quantity").isNull, 1).otherwise(0)).as("v_null_qty"),
      sum(when(col("l_discount") < 0 || col("l_discount") > 0.2, 1).otherwise(0)).as("v_disc"),
      sum(when(col("l_extendedprice") <= 0, 1).otherwise(0)).as("v_price"))
    liExpr.persist()
    val ordExpr = ord.agg(
      count(lit(1)).as("total"),
      sum(when(!col("o_orderstatus").isin("O", "F", "P"), 1).otherwise(0)).as("v_status"),
      sum(when(col("o_orderdate") < to_timestamp(lit("1992-01-01")) ||
        col("o_orderdate") >= to_timestamp(lit("2002-01-01")), 1).otherwise(0)).as("v_date"))
    ordExpr.persist()
    try {
    val liPk = li.agg(count(lit(1)).as("total"),
      (count(lit(1)) - countDistinct(col("l_orderkey"), col("l_linenumber"))).as("violations"))
    val ordPk = ord.agg(count(lit(1)).as("total"),
      (count(lit(1)) - countDistinct(col("o_orderkey"))).as("violations"))
    val liFk = li.join(ord.select(col("o_orderkey").as("l_orderkey")).distinct(),
        Seq("l_orderkey"), "left_anti")
      .agg(count(lit(1)).as("violations"))
      .crossJoin(liExpr.select(col("total")))
    val ordFk = ord.join(cust.select(col("c_custkey").as("o_custkey")).distinct(),
        Seq("o_custkey"), "left_anti")
      .agg(count(lit(1)).as("violations"))
      .crossJoin(ordExpr.select(col("total")))

    // the report is 9 rows — materialize it so the two cached 1-row
    // aggregates can be released instead of leaking into the session
    val out = report("lineitem_pk_unique", liPk)
      .unionByName(report("orders_pk_unique", ordPk))
      .unionByName(report("lineitem_fk_orders", liFk))
      .unionByName(report("orders_fk_customer", ordFk))
      .unionByName(report("lineitem_quantity_nonnull",
        liExpr.select(col("v_null_qty").as("violations"), col("total"))))
      .unionByName(report("lineitem_discount_range",
        liExpr.select(col("v_disc").as("violations"), col("total"))))
      .unionByName(report("lineitem_price_positive",
        liExpr.select(col("v_price").as("violations"), col("total"))))
      .unionByName(report("orders_status_accepted",
        ordExpr.select(col("v_status").as("violations"), col("total"))))
      .unionByName(report("orders_date_bounds",
        ordExpr.select(col("v_date").as("violations"), col("total"))))
      .orderBy("check_name")
    val rows = out.collect().toSeq
    s.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](
      scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), out.schema)
    } finally {
      liExpr.unpersist(blocking = false)
      ordExpr.unpersist(blocking = false)
    }
  }

  /** Shared by the batch query and its streaming twin: the incremental
    * fold must produce the bit-identical report (monotone counts, drained
    * max per cell == batch count). */
  private val driftPsiSql: String =
      """WITH d AS (SELECT source,
        |  (length(bin(greatest(len(string_split(lower(text), ' ')), 1))) - 1) * 16
        |  + ((greatest(len(string_split(lower(text), ' ')), 1)
        |      >> greatest(length(bin(greatest(len(string_split(lower(text), ' ')), 1))) - 5, 0)) & 15) AS bucket
        | FROM documents),
        |refc AS (SELECT bucket, count(*) AS cr FROM d WHERE source = 'src0' GROUP BY bucket),
        |curc AS (SELECT source, bucket, count(*) AS cc FROM d
        |  WHERE source <> 'src0' GROUP BY source, bucket),
        |nref AS (SELECT coalesce(CAST(sum(cr) AS BIGINT), 0) AS nr FROM refc),
        |pairs AS (SELECT DISTINCT source, bucket FROM
        |  (SELECT s.source, r.bucket FROM (SELECT DISTINCT source FROM curc) s, refc r
        |   UNION ALL SELECT source, bucket FROM curc)),
        |bs AS (SELECT p.source, count(*) AS b,
        |   coalesce(CAST(sum(c.cc) AS BIGINT), 0) AS ncur
        |  FROM pairs p LEFT JOIN curc c USING (source, bucket) GROUP BY p.source),
        |ctr AS (SELECT p.source,
        |   CAST(round((CAST(coalesce(r.cr, 0) + 1 AS DOUBLE) / ((SELECT nr FROM nref) + bs.b)
        |     - CAST(coalesce(c.cc, 0) + 1 AS DOUBLE) / (bs.ncur + bs.b))
        |     * ln((CAST(coalesce(r.cr, 0) + 1 AS DOUBLE) / ((SELECT nr FROM nref) + bs.b))
        |        / (CAST(coalesce(c.cc, 0) + 1 AS DOUBLE) / (bs.ncur + bs.b))) * 1e6) AS BIGINT) AS contrib
        |  FROM pairs p LEFT JOIN refc r USING (bucket)
        |    LEFT JOIN curc c USING (source, bucket)
        |    JOIN bs ON bs.source = p.source)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_buckets,
        |  CAST(sum(contrib) AS BIGINT) AS psi_micro,
        |  CAST(max(contrib) AS BIGINT) AS max_contrib_micro,
        |  CAST(sum(contrib) AS BIGINT) > 200000 AS drifted
        |FROM ctr GROUP BY source ORDER BY source""".stripMargin

  val queries: Seq[Query] = Seq(
    // PSI drift: same HDR bucket math, exact integer ratios, ln quantized
    // to micro units per bucket before the per-source sum; the streaming
    // twin shares the text verbatim (incremental fold ≡ batch build)
    Query("q_drift_psi", driftPsi, driftPsiSql),
    Query("q_stream_drift_psi", StreamQueries.streamDriftPsi, driftPsiSql),
    Query("q_dq_checks", checks,
      """WITH li AS (SELECT count(*) AS total,
        |   CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v_null_qty,
        |   CAST(sum(CASE WHEN l_discount < 0 OR l_discount > 0.2 THEN 1 ELSE 0 END) AS BIGINT) AS v_disc,
        |   CAST(sum(CASE WHEN l_extendedprice <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS v_price
        |  FROM lineitem),
        |oo AS (SELECT count(*) AS total,
        |   CAST(sum(CASE WHEN o_orderstatus NOT IN ('O','F','P') THEN 1 ELSE 0 END) AS BIGINT) AS v_status,
        |   CAST(sum(CASE WHEN CAST(o_orderdate AS TIMESTAMP) < TIMESTAMP '1992-01-01'
        |     OR CAST(o_orderdate AS TIMESTAMP) >= TIMESTAMP '2002-01-01' THEN 1 ELSE 0 END) AS BIGINT) AS v_date
        |  FROM orders),
        |rows_ AS (
        | SELECT 'lineitem_pk_unique' AS check_name, count(*) - count(DISTINCT (l_orderkey, l_linenumber)) AS violations, count(*) AS total FROM lineitem
        | UNION ALL SELECT 'orders_pk_unique', count(*) - count(DISTINCT o_orderkey), count(*) FROM orders
        | UNION ALL SELECT 'lineitem_fk_orders',
        |   (SELECT count(*) FROM lineitem l WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)),
        |   (SELECT total FROM li)
        | UNION ALL SELECT 'orders_fk_customer',
        |   (SELECT count(*) FROM orders o WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)),
        |   (SELECT total FROM oo)
        | UNION ALL SELECT 'lineitem_quantity_nonnull', (SELECT v_null_qty FROM li), (SELECT total FROM li)
        | UNION ALL SELECT 'lineitem_discount_range', (SELECT v_disc FROM li), (SELECT total FROM li)
        | UNION ALL SELECT 'lineitem_price_positive', (SELECT v_price FROM li), (SELECT total FROM li)
        | UNION ALL SELECT 'orders_status_accepted', (SELECT v_status FROM oo), (SELECT total FROM oo)
        | UNION ALL SELECT 'orders_date_bounds', (SELECT v_date FROM oo), (SELECT total FROM oo))
        |SELECT check_name, CAST(violations AS BIGINT) AS violations,
        |  CAST(total AS BIGINT) AS total, violations = 0 AS pass
        |FROM rows_ ORDER BY check_name""".stripMargin),
  )
}
