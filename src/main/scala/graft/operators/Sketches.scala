package graft.operators

import graft.{Query, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Probabilistic corpus-statistics sketches for 100 TB pipeline planning
  * (driver-mandated LLM-pipeline extension family; the brief's "novel
  * sketch" bullet). A training-data pipeline sizes its dedup / vocab /
  * sampling stages from corpus cardinalities it cannot afford to compute
  * exactly — these operators answer those questions in one linear
  * pass with FIXED-SIZE, MERGEABLE state:
  *
  *   - [[hllDistinct]]   distinct-count via HyperLogLog-style registers
  *                       (Flajolet et al. 2007). Shuffle volume: ≤ m=256
  *                       rows per (lang, partition) regardless of corpus
  *                       size — Catalyst's partial max() IS the sketch
  *                       merge, so 1000 executors each ship one register
  *                       array, not their token stream.
  *   - [[kmvDistinct]]   k-minimum-values estimator (Bar-Yossef et al.
  *                       2002) over distinct 3-shingles. The rank-filter plan compiles to Spark's
  *                       WindowGroupLimit, which takes per-partition
  *                       top-k BEFORE the shuffle — k rows per partition
  *                       on the wire.
  *   - [[cmsHeavyHitters]] count-min sketch (Cormode & Muthukrishnan
  *                       2005): a d×w counter matrix; per-token
  *                       estimate = min over rows; never undercounts.
  *                       The counter table is d·w rows → broadcast at
  *                       any corpus size (w=64 here, sized to the
  *                       fixture's vocabulary so collisions are actually
  *                       exercised; production w≈1e6 is ~4 MB).
  *   - [[reservoirSample]] fixed-size uniform sample via deterministic
  *                       md5 rank (the distributed stand-in for Vitter's
  *                       reservoir): TakeOrderedAndProject keeps k rows
  *                       per partition, merges on the driver — no full
  *                       sort, no shuffle.
  *   - [[quantileSketch]] HDR-histogram quantiles: a ≤16·64-cell log₂
  *                       grid with a 1/16 relative-error guarantee,
  *                       pure-integer bucket math (msb via bin()), no
  *                       full sort.
  *
  * Every hash is md5-derived (TextHashes convention: Spark
  * `conv(substring(md5(s),1,15),16,10)` == DuckDB
  * `('0x'||substr(md5(s),1,15))::UBIGINT`), so the DuckDB oracle replays
  * the sketch BIT-FOR-BIT: estimates are exact-integer register math (the
  * harmonic sum is computed as Σ 2^(54−M_j), an exact BIGINT) followed by
  * one double expression identical on both engines. ρ (trailing-zero rank)
  * avoids engine-specific log2-of-non-power error by isolating the lowest
  * set bit (v & −v, exactly 2^t) first — round(log2(2^t)) is exact even
  * through JVM's ln-based log2.
  *
  * The reference has no sketch library; the nearest analog is its
  * accumulator framework (flink-core/.../accumulators/Histogram.java),
  * which is driver-merged and exact. These operators are what that
  * framework cannot do at 100 TB.
  */
object Sketches {

  /** 60-bit md5 hash as a SQL fragment (column expr over `tok`). */
  private def h60(sqlExpr: String): String =
    s"cast(conv(substring(md5($sqlExpr),1,15),16,10) as bigint)"

  /** Per-language word 3-shingle stream (non-distinct — the sketch's max
    * registers absorb duplicates by construction). Shingle cardinality is
    * the number a dedup pipeline must estimate BEFORE building its
    * inverted index / LSH band tables, which is exactly the sketches'
    * production use. */
  private def shinglesByLang(s: SparkSession, dir: String): DataFrame =
    // r17 (guide §4.1): fused GramsNExpr replaces the interpreted
    // per-position lambda chain (Round17Spec equivalence pin)
    Tables(s, dir, "documents")
      .withColumn("toks", split(lower(col("text")), " "))
      .select(col("lang"), explode(Dedup.gramsAll(col("toks"), 3)).as("tok"))

  private def tokensByLang(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .select(col("lang"), explode(split(lower(col("text")), " ")).as("tok"))

  /** The HLL m=256 sketch pass alone (no exact comparison column) — what
    * production runs, and what ScaleBench times against the exact
    * countDistinct it replaces. Registers use the trailing-zero rank of
    * the 52 bits above the bucket byte: ρ = t+1 where 2^t = v & −v
    * (ρ = 53 when v = 0) — a Flajolet-Martin-style rank with identical
    * uniformity to the leading-zero original, chosen because it is exactly
    * reproducible in portable SQL. Small-range correction (linear counting
    * m·ln(m/V)) applies below E ≤ 2.5m exactly as in the paper. */
  private[graft] def hllEstimateOnly(s: SparkSession, dir: String): DataFrame = {
    val regs = shinglesByLang(s, dir)
      .withColumn("h", expr(h60("tok")))
      .withColumn("bucket", expr("h & 255"))
      .withColumn("v", expr("shiftright(h, 8)"))
      .withColumn("rho",
        expr("CASE WHEN v = 0 THEN 53 ELSE cast(round(log2(v & -v)) as int) + 1 END"))
      .groupBy(col("lang"), col("bucket"))
      .agg(max(col("rho")).as("r"))
    regs.groupBy(col("lang"))
      .agg(count(lit(1)).as("c"),
        sum(expr("shiftleft(cast(1 as bigint), 54 - r)")).as("s_present"))
      .withColumn("zero_regs", expr("cast(256 - c as int)"))
      // α_m·m²·2^54 / S with S = Σ_present 2^(54−M_j) + V·2^54 (exact BIGINT)
      .withColumn("e_raw", expr(
        "(0.7213/(1.0 + 1.079/256.0)) * 65536.0 * 18014398509481984.0 " +
          "/ (s_present + cast(zero_regs as bigint) * shiftleft(cast(1 as bigint), 54))"))
      .withColumn("e", expr(
        "CASE WHEN zero_regs > 0 AND e_raw <= 640.0 " +
          "THEN 256.0 * log(256.0 / zero_regs) ELSE e_raw END"))
  }

  /** Exact distinct-shingle count alone — ScaleBench's baseline for the
    * sketch comparison (the full-width shuffle the sketch avoids). */
  private[graft] def exactDistinctOnly(s: SparkSession, dir: String): DataFrame =
    shinglesByLang(s, dir).groupBy(col("lang"))
      .agg(countDistinct(col("tok")).as("exact_distinct"))

  /** The production HLL pass: same register algebra, but hashed with
    * Spark's codegen xxhash64 instead of the md5-hex chain the
    * oracle-checked [[hllEstimateOnly]] uses for cross-engine replay.
    * md5's string round-trip (hex → substring → conv) costs ~10× the
    * sketch's own aggregation at local scale — measured in ScaleBench,
    * which times both variants so the hash cost and the register cost are
    * visible separately. xxhash64 can go negative; the register math only
    * needs the low 60 bits, so mask first. */
  private[graft] def hllEstimateFast(s: SparkSession, dir: String): DataFrame = {
    val regs = shinglesByLang(s, dir)
      .withColumn("h", expr("xxhash64(tok) & 1152921504606846975"))
      .withColumn("bucket", expr("h & 255"))
      .withColumn("v", expr("shiftright(h, 8)"))
      .withColumn("rho",
        expr("CASE WHEN v = 0 THEN 53 ELSE cast(round(log2(v & -v)) as int) + 1 END"))
      .groupBy(col("lang"), col("bucket"))
      .agg(max(col("rho")).as("r"))
    regs.groupBy(col("lang"))
      .agg(count(lit(1)).as("c"),
        sum(expr("shiftleft(cast(1 as bigint), 54 - r)")).as("s_present"))
      .withColumn("zero_regs", expr("cast(256 - c as int)"))
      .withColumn("e_raw", expr(
        "(0.7213/(1.0 + 1.079/256.0)) * 65536.0 * 18014398509481984.0 " +
          "/ (s_present + cast(zero_regs as bigint) * shiftleft(cast(1 as bigint), 54))"))
      .withColumn("e", expr(
        "CASE WHEN zero_regs > 0 AND e_raw <= 640.0 " +
          "THEN 256.0 * log(256.0 / zero_regs) ELSE e_raw END"))
  }

  /** [[hllEstimateOnly]] joined with the exact distinct count per language
    * — the oracle-checked report form (est, exact, err%). */
  def hllDistinct(s: SparkSession, dir: String): DataFrame = {
    val agg = hllEstimateOnly(s, dir)
    val exact = exactDistinctOnly(s, dir)
    agg.join(exact, Seq("lang"))
      .select(col("lang"), col("zero_regs"),
        expr("cast(round(e) as bigint)").as("est_distinct"),
        col("exact_distinct"),
        round(expr("abs(e - exact_distinct) / exact_distinct * 100"), 2).as("err_pct"))
      .orderBy("lang")
  }

  /** KMV (k=64 minimum hash values) distinct-3-shingle estimate per language:
    * est = (k−1)·2^60 / h_(k) over the distinct 60-bit hash space. The
    * rank-≤-k filter is a WindowGroupLimit plan: each partition forwards
    * only its k smallest hashes. Languages with fewer than k distinct
    * shingles fall back to the exact count (the sketch IS exact there). */
  def kmvDistinct(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // NOTE (r17 session 3): materializing the shared shingle table once
    // (sketch + exact branches) was A/B'd and measured a deep-warm WASH /
    // slight loss — the md5-hex h60 chain dominates, not the synthesis.
    val dh = shinglesByLang(s, dir)
      .select(col("lang"), expr(h60("concat('kmv:', tok)")).as("h"))
      .distinct()
    val w = Window.partitionBy(col("lang")).orderBy(col("h"))
    val top = dh.withColumn("rn", row_number().over(w)).filter(col("rn") <= 64)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_mins"), max(col("h")).as("kth_hash"))
    val exact = shinglesByLang(s, dir).groupBy(col("lang"))
      .agg(countDistinct(col("tok")).as("exact_distinct"))
    top.join(exact, Seq("lang"))
      .withColumn("e", expr(
        "CASE WHEN n_mins < 64 THEN cast(exact_distinct as double) " +
          "ELSE 63.0 * 1152921504606846976.0 / kth_hash END"))
      .select(col("lang"), col("n_mins"), col("kth_hash"),
        expr("cast(round(e) as bigint)").as("est_distinct"),
        col("exact_distinct"),
        round(expr("abs(e - exact_distinct) / exact_distinct * 100"), 2).as("err_pct"))
      .orderBy("lang")
  }

  /** Count-min-sketch heavy hitters over the whole corpus: d=4 rows,
    * w=64 buckets, est(tok) = min_i counter[i][h_i(tok)], reported for
    * tokens whose ESTIMATE clears total/150 (the sketch's own decision,
    * as a real pipeline would gate on it), alongside the exact count.
    * CMS never undercounts, so est_cnt ≥ exact_cnt on every row.
    *
    * Scale shape: the (tok → count) collapse is the one vocab-scale
    * shuffle (shared with the exact column); the counter matrix is 2048
    * rows — broadcast-joined back, so the estimate pass adds no shuffle. */
  def cmsHeavyHitters(s: SparkSession, dir: String): DataFrame = {
    val tf = Tables(s, dir, "documents")
      .select(explode(split(lower(col("text")), " ")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
      .withColumn("bs", expr(
        s"transform(sequence(0, 3), i -> ${h60("concat(cast(i as string), ':', tok)")} & 63)"))
    tf.persist()
    try {
      val counters = tf.select(posexplode(col("bs")).as(Seq("i", "b")), col("cnt"))
        .groupBy(col("i"), col("b")).agg(sum(col("cnt")).as("c"))
      val thr = tf.agg(expr("cast(floor(sum(cnt) / 150.0) as bigint)").as("thr"))
      val est = tf.select(col("tok"), col("cnt"), posexplode(col("bs")).as(Seq("i", "b")))
        .join(broadcast(counters), Seq("i", "b"))
        .groupBy(col("tok")).agg(min(col("c")).as("est_cnt"), min(col("cnt")).as("exact_cnt"))
      val out = est.crossJoin(broadcast(thr))
        .filter(col("est_cnt") >= col("thr"))
        .select(col("tok"), col("est_cnt"), col("exact_cnt"))
        .orderBy(col("est_cnt").desc, col("tok"))
      // The heavy-hitter list is tiny (threshold = 1/150 of mass ⇒ ≤150
      // rows); materialize it so the vocab-scale cache can be released
      // here instead of leaking blocks into a long-lived session.
      localized(s, out)
    } finally tf.unpersist(blocking = false)
  }

  /** Collect a small final result into a LocalRelation so intermediate
    * persist() blocks can be released before returning (callers only see
    * the finished rows; the gate sorts rows, so order is preserved-enough). */
  private def localized(s: SparkSession, df: DataFrame): DataFrame = {
    val rows = df.collect().toSeq
    s.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](
      scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), df.schema)
  }

  /** Fixed-size uniform corpus sample (k=100) by deterministic md5 rank —
    * the distributed reservoir: TakeOrderedAndProject keeps 100 rows per
    * partition and merges on the driver, so the full corpus is scanned
    * once and never sorted or shuffled. */
  def reservoirSample(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("source"),
        expr(h60("concat('rsv:', cast(doc_id as string))")).as("h"))
      .orderBy(col("h"))
      .limit(100)
      .select(col("doc_id"), col("lang"), col("source"))
      .orderBy(col("doc_id"))

  /** HDR-histogram quantile sketch over l_extendedprice (in cents): bucket
    * id = 16·msb(v) + next-4-mantissa-bits — a log₂ grid with 16 sub-cells
    * per octave, giving a ≤ 1/16 relative-error guarantee by construction
    * (the HdrHistogram / DDSketch idea on pure-integer math, so both
    * engines replay it bit-for-bit; no ulp-sensitive log-of-arbitrary-value
    * anywhere — msb comes from `length(bin(v))`). Estimates for
    * q ∈ {0.5, 0.9, 0.99} are the qualifying bucket's LOWER bound,
    * compared against the true order statistic.
    *
    * Scale shape: the histogram is ≤ 16·64 cells whatever the data volume
    * (partial aggregation ships one cell array per partition — same
    * mergeable-state story as the HLL registers); only the exact
    * comparison column pays a full sort, which is exactly the cost the
    * sketch exists to avoid at 100 TB. */
  def quantileSketch(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cents = Tables(s, dir, "lineitem")
      .select(expr("cast(round(l_extendedprice * 100) as bigint)").as("v"))
    val hist = cents
      .select(expr("length(bin(v)) - 1").as("e"), col("v"))
      .select(expr("e * 16 + (shiftright(v, greatest(e - 4, 0)) & 15)").as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("cnt"))
    val cum = hist.withColumn("cum", sum(col("cnt")).over(Window.orderBy("bucket")))
    val n = cents.groupBy().agg(count(lit(1)).as("n"))
    val qs = s.range(1).select(explode(array(lit(0.5), lit(0.9), lit(0.99))).as("q"))
    val picked = qs.crossJoin(broadcast(n))
      .withColumn("target", expr("cast(ceil(q * n) as bigint)"))
      .join(broadcast(cum), col("cum") >= col("target"))
      .groupBy(col("q"), col("target")).agg(min(col("bucket")).as("bucket"))
      // bucket lower bound: for exponent e >= 4 the cell is (16+mantissa)<<(e-4);
      // for e < 4 the bucket stored v itself (bucket = 16e + v, v < 16), so the
      // low nibble recovers v EXACTLY — without the branch, small values would
      // overstate (v=5 -> 21) and the <=1/16 relative-error claim would not hold
      .withColumn("est_value", expr(
        "CASE WHEN shiftright(bucket, 4) < 4 THEN cast(bucket & 15 AS bigint) " +
          "ELSE shiftleft(cast(16 + (bucket & 15) as bigint), shiftright(bucket, 4) - 4) END"))
    val exact = cents
      .withColumn("rn", row_number().over(Window.orderBy("v")))
      .join(picked.select(col("q").as("eq"), col("target")), col("rn") === col("target"))
      .select(col("eq"), col("v").as("exact_value"))
    picked.join(exact, col("q") === col("eq"))
      .select(col("q"), col("est_value"), col("exact_value"),
        round(expr("abs(est_value - exact_value) / exact_value * 100"), 2).as("rel_err_pct"))
      .orderBy("q")
  }

  /** Pairwise source-overlap estimation from KMV signatures — the question
    * asked before merging two crawls into one training mix: "how much of
    * corpus B is already in corpus A?". Each source keeps its k=256
    * smallest distinct-shingle hashes; for a pair, the k smallest of the
    * signature union are a valid KMV of the set union (closure property),
    * and the fraction of them present in BOTH signatures estimates the
    * Jaccard (Bar-Yossef et al. 2002 / Beyer et al. 2007). Reported
    * against the exact shingle Jaccard per pair.
    *
    * Scale shape: the corpus is touched ONCE to build the per-source
    * signatures (k rows per source after the WindowGroupLimit rank
    * filter); the |S|² pair matrix then works entirely on signature rows
    * — 20 sources × 256 hashes here, metadata-scale at any corpus size.
    * The exact column pays the full shingle self-join, which is the cost
    * the sketch answer avoids. */
  def sourceOverlap(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // r17 (guide §4.1): fused GramsNExpr replaces the interpreted
    // per-position lambda chain (Round17Spec equivalence pin)
    val sh = Tables(s, dir, "documents")
      .withColumn("toks", split(lower(col("text")), " "))
      .select(col("source"), explode(Dedup.gramsAll(col("toks"), 3)).as("tok"))
    // r16 optimization (guide §2.4): dh feeds FOUR consumers (the KMV
    // signature, both sides of the exact self-join, and the per-source
    // sizes); unmaterialized, each re-runs the corpus-wide shingle explode
    // + distinct past the reused exchange. One eager checkpoint runs it once.
    val dh = graft.Tables.materializeShared(
      sh.select(col("source"), expr(h60("concat('ovl:', tok)")).as("h")).distinct())
    val sig = dh
      .withColumn("rn", row_number().over(Window.partitionBy("source").orderBy("h")))
      .filter(col("rn") <= 256).select(col("source"), col("h"))
    sig.persist()
    try {
    val srcs = sig.select(col("source")).distinct()
    val pairs = srcs.select(col("source").as("sa"))
      .crossJoin(srcs.select(col("source").as("sb")))
      .filter(col("sa") < col("sb"))
    // every signature row of either side, deduped per (pair, hash) with
    // membership flags, re-ranked to the union's k smallest
    val u = pairs.join(broadcast(sig),
        col("source") === col("sa") || col("source") === col("sb"))
      .groupBy(col("sa"), col("sb"), col("h"))
      .agg(max(when(col("source") === col("sa"), 1).otherwise(0)).as("in_a"),
        max(when(col("source") === col("sb"), 1).otherwise(0)).as("in_b"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("sa", "sb").orderBy("h")))
      .filter(col("rn") <= 256)
      .groupBy(col("sa"), col("sb"))
      .agg(count(lit(1)).as("k_union"),
        sum(expr("in_a * in_b")).as("matched"))
      .withColumn("jac_est", round(expr("matched / cast(k_union as double)"), 4))
    val exact = dh.select(col("source").as("ea"), col("h"))
      .join(dh.select(col("source").as("eb"), col("h")), Seq("h"))
      .filter(col("ea") < col("eb"))
      .groupBy(col("ea"), col("eb")).agg(count(lit(1)).as("inter"))
    val sizes = dh.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val exactJ = exact
      .join(sizes.select(col("source").as("ea"), col("n").as("na")), Seq("ea"))
      .join(sizes.select(col("source").as("eb"), col("n").as("nb")), Seq("eb"))
      .select(col("ea"), col("eb"),
        round(expr("inter / cast(na + nb - inter as double)"), 4).as("jac_exact"))
    // 190 pair rows — materialize so the signature cache is released now
    localized(s,
      u.join(exactJ, col("sa") === col("ea") && col("sb") === col("eb"), "left")
        .select(col("sa"), col("sb"), col("k_union"), col("matched"),
          col("jac_est"), coalesce(col("jac_exact"), lit(0.0)).as("jac_exact"))
        .orderBy("sa", "sb"))
    } finally sig.unpersist(blocking = false)
  }

  val queries: Seq[Query] = Seq(
    Query("q_sketch_overlap", sourceOverlap,
      """WITH tks AS (SELECT source, string_split(lower(text), ' ') AS t FROM documents),
        |tk AS (SELECT source, unnest(CASE WHEN len(t) < 3 THEN [] ELSE
        |   [t[i]||' '||t[i+1]||' '||t[i+2] FOR i IN range(1, len(t)-1)] END) AS tok FROM tks),
        |dh AS (SELECT DISTINCT source,
        |   ('0x'||substr(md5('ovl:'||tok),1,15))::UBIGINT::BIGINT AS h FROM tk),
        |sig AS (SELECT source, h FROM (
        |   SELECT source, h, row_number() OVER (PARTITION BY source ORDER BY h) AS rn
        |   FROM dh) WHERE rn <= 256),
        |prs AS (SELECT a.source AS sa, b.source AS sb
        |  FROM (SELECT DISTINCT source FROM sig) a, (SELECT DISTINCT source FROM sig) b
        |  WHERE a.source < b.source),
        |uh AS (SELECT p.sa, p.sb, g.h,
        |   max(CASE WHEN g.source = p.sa THEN 1 ELSE 0 END) AS in_a,
        |   max(CASE WHEN g.source = p.sb THEN 1 ELSE 0 END) AS in_b
        |  FROM prs p JOIN sig g ON g.source = p.sa OR g.source = p.sb
        |  GROUP BY p.sa, p.sb, g.h),
        |uk AS (SELECT sa, sb, h, in_a, in_b,
        |   row_number() OVER (PARTITION BY sa, sb ORDER BY h) AS rn FROM uh),
        |est AS (SELECT sa, sb, CAST(count(*) AS BIGINT) AS k_union,
        |   CAST(sum(in_a * in_b) AS BIGINT) AS matched
        |  FROM uk WHERE rn <= 256 GROUP BY sa, sb),
        |inter AS (SELECT a.source AS ea, b.source AS eb, count(*) AS i
        |  FROM dh a JOIN dh b ON a.h = b.h AND a.source < b.source GROUP BY 1, 2),
        |nn AS (SELECT source, count(*) AS n FROM dh GROUP BY source),
        |exj AS (SELECT ea, eb, round(i / CAST(na.n + nb.n - i AS DOUBLE), 4) AS jac_exact
        |  FROM inter JOIN nn na ON na.source = ea JOIN nn nb ON nb.source = eb)
        |SELECT sa, sb, k_union, matched,
        |  round(matched / CAST(k_union AS DOUBLE), 4) AS jac_est,
        |  coalesce(jac_exact, 0.0) AS jac_exact
        |FROM est LEFT JOIN exj ON ea = sa AND eb = sb
        |ORDER BY sa, sb""".stripMargin),
    Query("q_sketch_quantile", quantileSketch,
      """WITH cents AS (SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS v FROM lineitem),
        |bk AS (SELECT (length(bin(v)) - 1) * 16 +
        |   ((v >> greatest(length(bin(v)) - 1 - 4, 0)) & 15) AS bucket FROM cents),
        |hist AS (SELECT bucket, count(*) AS cnt FROM bk GROUP BY bucket),
        |cum AS (SELECT bucket, sum(cnt) OVER (ORDER BY bucket) AS cum FROM hist),
        |nn AS (SELECT count(*) AS n FROM cents),
        |qs AS (SELECT unnest([0.5, 0.9, 0.99]) AS q),
        |picked AS (SELECT q, target, min(bucket) AS bucket FROM (
        |   SELECT qs.q, CAST(ceil(qs.q * nn.n) AS BIGINT) AS target, c.bucket
        |   FROM qs, nn, cum c WHERE c.cum >= CAST(ceil(qs.q * nn.n) AS BIGINT))
        |  GROUP BY q, target),
        |est AS (SELECT q, target,
        |   CASE WHEN (bucket >> 4) < 4 THEN (bucket & 15)::BIGINT
        |        ELSE (16 + (bucket & 15))::BIGINT << ((bucket >> 4) - 4) END AS est_value
        |  FROM picked),
        |sorted AS (SELECT v, row_number() OVER (ORDER BY v) AS rn FROM cents),
        |ex AS (SELECT e.q, e.est_value, s.v AS exact_value
        |  FROM est e JOIN sorted s ON s.rn = e.target)
        |SELECT q, est_value, exact_value,
        |  round(abs(est_value - exact_value) / exact_value * 100, 2) AS rel_err_pct
        |FROM ex ORDER BY q""".stripMargin),
    Query("q_sketch_hll", hllDistinct,
      """WITH tks AS (SELECT lang, string_split(lower(text), ' ') AS t FROM documents),
        |tk AS (SELECT lang, unnest(CASE WHEN len(t) < 3 THEN [] ELSE
        |   [t[i]||' '||t[i+1]||' '||t[i+2] FOR i IN range(1, len(t)-1)] END) AS tok FROM tks),
        |hh AS (SELECT lang, ('0x'||substr(md5(tok),1,15))::UBIGINT::BIGINT AS h FROM tk),
        |rr AS (SELECT lang, h & 255 AS bucket,
        |   CASE WHEN (h >> 8) = 0 THEN 53
        |        ELSE CAST(round(log2((h >> 8) & (-(h >> 8)))) AS INT) + 1 END AS rho
        |  FROM hh),
        |regs AS (SELECT lang, bucket, max(rho) AS r FROM rr GROUP BY lang, bucket),
        |agg AS (SELECT lang, CAST(256 - count(*) AS INT) AS zero_regs,
        |   sum(1::BIGINT << (54 - r)) AS s_present FROM regs GROUP BY lang),
        |ex AS (SELECT lang, count(DISTINCT tok) AS exact_distinct FROM tk GROUP BY lang),
        |est AS (SELECT lang, zero_regs,
        |   CASE WHEN zero_regs > 0 AND
        |     (0.7213/(1.0 + 1.079/256.0)) * 65536.0 * 18014398509481984.0
        |       / (s_present + zero_regs::BIGINT * (1::BIGINT << 54)) <= 640.0
        |   THEN 256.0 * ln(256.0 / zero_regs)
        |   ELSE (0.7213/(1.0 + 1.079/256.0)) * 65536.0 * 18014398509481984.0
        |       / (s_present + zero_regs::BIGINT * (1::BIGINT << 54)) END AS e
        |  FROM agg)
        |SELECT lang, zero_regs, CAST(round(e) AS BIGINT) AS est_distinct, exact_distinct,
        |  round(abs(e - exact_distinct) / exact_distinct * 100, 2) AS err_pct
        |FROM est JOIN ex USING (lang) ORDER BY lang""".stripMargin),
    Query("q_sketch_kmv", kmvDistinct,
      """WITH tks AS (SELECT lang, string_split(lower(text), ' ') AS t FROM documents),
        |tk AS (SELECT lang, unnest(CASE WHEN len(t) < 3 THEN [] ELSE
        |   [t[i]||' '||t[i+1]||' '||t[i+2] FOR i IN range(1, len(t)-1)] END) AS tok FROM tks),
        |dh AS (SELECT DISTINCT lang,
        |   ('0x'||substr(md5('kmv:'||tok),1,15))::UBIGINT::BIGINT AS h FROM tk),
        |rk AS (SELECT lang, h, row_number() OVER (PARTITION BY lang ORDER BY h) AS rn FROM dh),
        |top AS (SELECT lang, count(*) AS n_mins, max(h) AS kth_hash
        |  FROM rk WHERE rn <= 64 GROUP BY lang),
        |ex AS (SELECT lang, count(DISTINCT tok) AS exact_distinct FROM tk GROUP BY lang),
        |est AS (SELECT lang, n_mins, kth_hash, exact_distinct,
        |   CASE WHEN n_mins < 64 THEN exact_distinct::DOUBLE
        |        ELSE 63.0 * 1152921504606846976.0 / kth_hash END AS e
        |  FROM top JOIN ex USING (lang))
        |SELECT lang, n_mins, kth_hash, CAST(round(e) AS BIGINT) AS est_distinct,
        |  exact_distinct,
        |  round(abs(e - exact_distinct) / exact_distinct * 100, 2) AS err_pct
        |FROM est ORDER BY lang""".stripMargin),
    Query("q_sketch_cms", cmsHeavyHitters,
      """WITH tk AS (SELECT unnest(string_split(lower(text), ' ')) AS tok FROM documents),
        |tf AS (SELECT tok, count(*) AS cnt FROM tk GROUP BY tok),
        |tb AS (SELECT tok, cnt, i,
        |   ('0x'||substr(md5(i::VARCHAR||':'||tok),1,15))::UBIGINT::BIGINT & 63 AS b
        |  FROM tf, range(0, 4) t(i)),
        |counters AS (SELECT i, b, sum(cnt) AS c FROM tb GROUP BY i, b),
        |thr AS (SELECT CAST(floor(sum(cnt) / 150.0) AS BIGINT) AS thr FROM tf),
        |est AS (SELECT tok, CAST(min(c) AS BIGINT) AS est_cnt, CAST(min(cnt) AS BIGINT) AS exact_cnt
        |  FROM tb JOIN counters USING (i, b) GROUP BY tok)
        |SELECT tok, est_cnt, exact_cnt FROM est, thr
        |WHERE est_cnt >= thr ORDER BY est_cnt DESC, tok""".stripMargin),
    Query("q_sample_reservoir", reservoirSample,
      """SELECT doc_id, lang, source FROM (
        |  SELECT doc_id, lang, source, row_number() OVER (ORDER BY
        |    ('0x'||substr(md5('rsv:'||doc_id::VARCHAR),1,15))::UBIGINT) AS rn
        |  FROM documents) WHERE rn <= 100 ORDER BY doc_id""".stripMargin),
  )
}
