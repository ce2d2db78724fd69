package graft.operators

import graft.{Query, Tables}
import graft.LlmOracles
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end LLM training-data preparation pipeline — the composition the
  * engine exists for: language filter → quality filter → exact dedup →
  * near-dup removal → clean corpus. One declarative plan: Catalyst fuses
  * the per-document stages into the scan projection, and the dedup stages
  * are the same hash-groupBy / inverted-index joins as the standalone
  * operators. The oracle reproduces the whole chain in SQL, so every stage
  * boundary is value-checked, not just the final count.
  *
  * Also embedding preprocessing: unit normalization and int8 quantization
  * (scale = max|x|/127, q = floor(x/scale + 0.5)) — the standard vector
  * compression for ANN index shipping; floor(+0.5) keeps rounding identical
  * across engines.
  */
object Pipeline {

  import TextAnalysis.{tokens, stopEn}

  /** Clean-corpus selection: en docs, >=30 tokens, >=3% stopwords, first
    * copy of each exact-duplicate group, near-dup losers dropped. */
  def cleanCorpus(s: SparkSession, dir: String): DataFrame = {
    val stopArr = array(stopEn.map(lit): _*)
    val docs = Tables(s, dir, "documents")
      .withColumn("toks", tokens(col("text")))
      .withColumn("n_tokens", size(col("toks")))
      .withColumn("stop_ratio",
        size(filter(col("toks"), t => array_contains(stopArr, t))).cast("double")
          / size(col("toks")))
      .withColumn("fp", md5(regexp_replace(lower(col("text")), "\\s+", " ")))
    val quality = docs.where(col("n_tokens") >= 30 && col("stop_ratio") >= 0.03)
    // exact dedup among surviving docs: keep min doc_id per fingerprint
    val keepExact = quality
      .groupBy(col("fp")).agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    // near-dup removal: drop the doc_b side of exact-Jaccard pairs
    val losers = Dedup.ngramJaccardPairsShared(s, dir)
      .select(col("doc_b").as("doc_id")).distinct()
    quality.select(col("doc_id"), col("n_tokens"))
      .join(keepExact, Seq("doc_id"), "left_semi")
      .join(losers, Seq("doc_id"), "left_anti")
      .orderBy("doc_id")
  }

  /** Benchmark decontamination (the eval-overlap filter every serious
    * training pipeline runs before the mix is frozen): the "benchmark" is
    * the distinct 13-gram set of a deterministic held-out slice
    * (doc_id % 5 == 0 — stands in for the real eval files; the modulus is picked so the planted near-dups straddle the split and the demo catches real hits), and every
    * OTHER document is scored by how many of its gram positions appear in
    * that set. Scale shape: the benchmark set is tiny relative to the
    * corpus (real eval suites are MBs against TBs), so it broadcasts —
    * the corpus side is one map-side pass over the scan, no shuffle of
    * corpus grams; only the per-doc hit counts aggregate. */
  def decontaminate(s: SparkSession, dir: String): DataFrame = {
    val span = 13
    val docs = Tables(s, dir, "documents")
      .withColumn("ws", tokens(col("text")))
    // r17 (guide §4.1): fused GramsNExpr — the HOF spelling paid an
    // interpreted lambda + slice + concat per 13-gram position
    def grams(df: DataFrame): DataFrame = df.select(col("doc_id"),
      explode(Dedup.gramsAll(col("ws"), span)).as("gram"))
    val benchmark = grams(docs.where(col("doc_id") % 5 === 0))
      .select("gram").distinct()
    // Size-guard (VERDICT r8 finding #2): the broadcast plan is only valid
    // while the benchmark gram set is actually broadcast-small. Instead of
    // trusting the caller's promise, the set is materialized once (it feeds
    // the join afterwards) and MEASURED against the session's
    // autoBroadcastJoinThreshold — the same knob Catalyst uses; an
    // over-threshold (or threshold=-1) benchmark falls back to a shuffle
    // join, trading the map-side pass for not OOMing driver + executors.
    val thrStr = s.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    val thr = try thrStr.trim.toLong catch {
      case _: NumberFormatException =>
        org.apache.spark.network.util.JavaUtils.byteStringAsBytes(thrStr)
    }
    val persisted = benchmark.persist()
    val st = persisted.agg(count(lit(1)).as("n"),
      coalesce(sum(length(col("gram"))), lit(0L)).as("bytes")).head()
    // UTF-8 payload plus ~48 B/entry of hash-relation overhead
    val estBytes = st.getLong(1) + 48L * st.getLong(0)
    val bench = if (thr > 0 && estBytes <= thr) broadcast(persisted) else persisted
    grams(docs.where(col("doc_id") % 5 =!= 0))
      .join(bench, Seq("gram"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hits"))
      .orderBy("doc_id")
  }

  /** Deterministic stratified sampling by predicted language — the
    * training-mix quota step (e.g. cap each language at a target share).
    * The keep decision hashes ONLY doc_id through md5 (identical hex in
    * every engine), so the sample is reproducible, join-free to audit,
    * and at 100 TB is a map-side filter over the scan — no shuffle, no
    * sampleBy() randomness that an oracle could not replay. Quotas:
    * en 60%, de 40%, fr 30%, es 20%. */
  def stratifiedSample(s: SparkSession, dir: String): DataFrame = {
    val lang = TextAnalysis.langId(s, dir).select(col("doc_id"), col("lang_pred"))
    val quota = typedLit(Map("en" -> 60L, "de" -> 40L, "fr" -> 30L, "es" -> 20L))
    lang
      .withColumn("bucket",
        expr("conv(substring(md5(cast(doc_id AS STRING)), 1, 8), 16, 10)")
          .cast("long") % 100)
      .where(col("bucket") < quota(col("lang_pred")))
      .select(col("doc_id"), col("lang_pred"), col("bucket"))
      .orderBy("doc_id")
  }

  /** q_mix_two_phase — two-phase training mix (the OLMo-2/MiniCPM
    * "decay-phase upweighting" recipe: most of the budget at natural
    * source proportions, the final anneal phase re-weighted toward
    * measured quality). Phase 1 (90% of the token budget) allocates by
    * natural token share; phase 2 (10%) weights each source by
    * token_share × classifier keep-rate (integer basis points from the
    * q_quality_classifier scorer), so cleaner sources dominate the
    * anneal. All integer arithmetic: keep_bp and quotas are floor
    * divisions both engines compute identically; quotas are per-source
    * floors of the phase budget (the UniMax/temperature queries cover the
    * exact-fill variants). One scan for scores, one per-source aggregate,
    * a 1-row total broadcast — driver never sees more than the mix table. */
  def mixTwoPhase(s: SparkSession, dir: String): DataFrame = {
    val budget = 1000000L
    val q = WebPipeline.qualityClassifier(s, dir)
      .select(col("doc_id"), col("n_tok").cast("long").as("n_tok"), col("logit_u"))
    val src = Tables(s, dir, "documents").select(col("doc_id"), col("source"))
    val per = q.join(src, "doc_id")
      .groupBy("source")
      .agg(sum(col("n_tok")).as("n_tokens"), count(lit(1)).as("n_docs"),
        sum(when(col("logit_u") > 0, 1L).otherwise(0L)).as("n_keep"))
      .withColumn("keep_bp", expr("10000 * n_keep div n_docs"))
      .withColumn("w2", expr("n_tokens * keep_bp"))
    val tot = per.agg(sum("n_tokens").as("t1"), sum("w2").as("t2"))
    // quotas through DECIMAL(38,0) intermediates (r14 ADVICE fix): at the
    // advertised ~1e13 tokens/source, budget × w2 reaches ~1e22 — past
    // 2^63, where non-ANSI BIGINT would wrap silently while the DuckDB
    // oracle's HUGEINT keeps going. INTEGRAL division (`div`) on the
    // decimal product — NOT floor(a / b), whose fractional division
    // rounds HALF_UP at scale 6 first and can cross the integer — keeps
    // the floor exact on both engines at any corpus size.
    per.crossJoin(broadcast(tot))
      .select(col("source"), col("n_tokens"), col("keep_bp"),
        expr(s"CAST(CAST(${budget * 9 / 10} AS DECIMAL(38,0)) * n_tokens div t1 AS BIGINT)")
          .as("quota_p1"),
        expr(s"CAST(CAST(${budget / 10} AS DECIMAL(38,0)) * w2 div t2 AS BIGINT)")
          .as("quota_p2"))
      .orderBy("source")
  }

  /** q_sample_weighted — deterministic weighted sampling WITHOUT
    * replacement (Efraimidis–Spirakis 2006 A-ES: per item draw u ∈ (0,1],
    * rank by u^(1/w), keep the top k — inclusion probability ∝ weight,
    * one pass, mergeable). The rank key here is the monotone-equivalent
    * ln(u)/w, computed on the integer grid: u from the md5 bridge on a
    * 1e-9 lattice, ln(u) quantized to micro-nats BEFORE the division so
    * both engines rank identical integers (ties break by doc_id). Weight
    * = n_chars: the standard "sample tokens, not documents" correction.
    * Scale shape: key assignment is map-side expression work on the scan;
    * top-k is TakeOrderedAndProject (k rows per partition cross the wire,
    * never a full sort) — the reservoir query's plan with a weighted key. */
  def weightedSample(s: SparkSession, dir: String): DataFrame = {
    Tables(s, dir, "documents")
      .withColumn("w", col("n_chars"))
      .withColumn("u9",
        expr("conv(substring(md5(concat('ws:', cast(doc_id AS STRING))), 1, 15), 16, 10)")
          .cast("long") % 1000000000L + 1L)
      .withColumn("lnu_u", expr("cast(round(ln(u9 / 1.0e9) * 1e6) AS BIGINT)"))
      .withColumn("key_u", expr("cast(round(lnu_u * 1000.0 / w) AS BIGINT)"))
      .orderBy(col("key_u").desc, col("doc_id"))
      .limit(100)
      .select(col("doc_id"), col("w"), col("key_u"))
      .orderBy("doc_id")
  }

  /** Unit-normalized embeddings (first 4 components + norm, rounded).
    * Components emitted as scalar columns h1..h4 — numeric scalars avoid the
    * driver compare's array limitation and cross-engine float formatting. */
  def normalize(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "embeddings")
      .withColumn("nrm", graft.functions.VecOps.norm(col("embedding")))
      .select(col("vec_id"), round(col("nrm"), 6).as("norm"),
        // try_element_at: NULL (not an ANSI error) on out-of-bounds, matching
        // the DuckDB oracle's v[i] list-index semantics on short vectors
        expr("round(cast(try_element_at(embedding, 1) AS DOUBLE) / nrm, 6)").as("h1"),
        expr("round(cast(try_element_at(embedding, 2) AS DOUBLE) / nrm, 6)").as("h2"),
        expr("round(cast(try_element_at(embedding, 3) AS DOUBLE) / nrm, 6)").as("h3"),
        expr("round(cast(try_element_at(embedding, 4) AS DOUBLE) / nrm, 6)").as("h4"))
      .orderBy("vec_id")

  /** Sequence-packing planner — the batching step that turns a cleaned
    * corpus into fixed-length training rows: documents are concatenated in
    * deterministic (source, doc_id) order and chunked into 256-token
    * sequences; each document reports the sequence it starts in, its token
    * offset there, and how many sequences it spans (the boundary-crossing
    * split every concat-and-chunk loader performs). Packing is PER SOURCE:
    * the window never crosses the partition key, so at 100 TB every source
    * packs in parallel after one hash shuffle — a single global pack order
    * would serialize the whole corpus through one sort. All arithmetic is
    * integral (`div`/`%`), so both engines derive the identical layout. */
  def packSequences(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ctx = 256
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"))
      .withColumn("start_tok", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        expr(s"start_tok div $ctx").as("pack_id"),
        (col("start_tok") % ctx).as("tok_offset"),
        (expr(s"(start_tok + n_tokens - 1) div $ctx")
          - expr(s"start_tok div $ctx") + 1).as("n_packs"))
      .orderBy("doc_id")
  }

  /** Bin-packed sequence layout — NEXT-FIT DECREASING, the
    * boundary-preserving alternative to [[packSequences]]'s
    * concat-and-chunk (Krell/Kosec et al. 2021, "Efficient Sequence
    * Packing without Cross-contamination", popularized length-sorted bin
    * packing for training sequences; next-fit is its one-pass member —
    * documents are never split across sequences and no bin is revisited).
    * Packing runs PER (source, shard) with shard = doc_id % 8: the
    * sequential fold runs INSIDE each group (`flatMapGroups`), groups
    * pack in parallel after one hash shuffle, and the shard modulus is
    * the scale knob bounding group size — no global sort, no driver
    * materialization. Group order is (n_tokens DESC, doc_id):
    * deterministic, and the oracle's recursive CTE steps every group in
    * lockstep through the identical fold. A document longer than the
    * 256-token bin opens its own overflowing bin (the standard
    * long-document policy ahead of truncation). */
  def packBinNfd(s: SparkSession, dir: String): DataFrame = {
    val sess = s
    import sess.implicits._
    val ctx = 256L
    Tables(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        expr("cast(doc_id % 8 AS bigint)").as("shard"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"))
      .as[(Long, String, Long, Long)]
      .groupByKey { case (_, src, shard, _) => (src, shard) }
      .flatMapGroups { (key: (String, Long), it: Iterator[(Long, String, Long, Long)]) =>
        val (src, shard) = key
        val docs = it.toSeq.sortBy { case (id, _, _, n) => (-n, id) }
        var bin = 0L
        var used = ctx // the first document always opens bin 1
        docs.iterator.map { case (id, _, _, n) =>
          if (used + n <= ctx) used += n else { bin += 1; used = n }
          (id, src, shard, n, bin)
        }
      }
      .toDF("doc_id", "source", "shard", "n_tokens", "bin")
      .orderBy("doc_id")
  }

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): a hashed bag-of-words
    * log-likelihood ratio between a target distribution (the src0 slice
    * stands in for the high-quality target corpus) and the raw pool. Per
    * token: llr = ln p_target − ln p_raw with add-1 smoothing over the
    * joint vocabulary; per raw document: Σ llr over token OCCURRENCES —
    * resampling then keeps documents ∝ exp(weight). Scale shape: the two
    * token-count aggs are the only corpus-scale shuffles; the llr table is
    * vocab-sized (Heaps'-law sublinear — MBs against TBs) and broadcasts
    * to the exploded token scan. llr is quantized to integer micro-nats
    * BEFORE the per-doc sum (same trick as tfidfTop3) so float summation
    * order cannot leak ulps into the hash compare. */
  def dsirWeights(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        explode(TextAnalysis.tokens(col("text"))).as("token"))
    val isTgt = col("source") === "src0"
    val cnt = toks.groupBy("token")
      .agg(sum(when(isTgt, 1L).otherwise(0L)).as("tc"),
        sum(when(isTgt, 0L).otherwise(1L)).as("rc"))
      .persist()
    val tot = cnt.agg(count(lit(1)).as("v"),
      coalesce(sum("tc"), lit(0L)).as("nt"),
      coalesce(sum("rc"), lit(0L)).as("nr")).head()
    val (v0, nt, nr) = (tot.getLong(0), tot.getLong(1), tot.getLong(2))
    val v = math.max(v0, 1L) // empty corpus: keep the smoothed denominators > 0
    // 1.0D / .0D: plain `1.0` literals parse as DECIMAL in Spark SQL and a
    // DECIMAL division truncates to 6 fractional digits BEFORE ln — enough
    // to shift llr by whole micro-nats vs the oracle's double arithmetic.
    val llr = cnt.select(col("token"),
      expr(s"cast(round((ln((tc + 1.0D) / ${nt + v}.0D) - ln((rc + 1.0D) / ${nr + v}.0D)) * 1e6) AS BIGINT)")
        .as("llr_q"))
    toks.where(!isTgt)
      .join(broadcast(llr), Seq("token"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum("llr_q").as("q"))
      .select(col("doc_id"), col("n_tokens"), round(col("q") / 1e6, 6).as("weight"))
      .orderBy("doc_id")
  }

  /** PII redaction — the scrubbing pass over raw crawl text before a
    * corpus is frozen: emails → <EMAIL>, IPv4 → <IP>, ≥8-digit runs →
    * <NUM>. The synthetic corpus carries no PII, so the fixture PLANTS
    * deterministic contact strings derived from doc_id inside the query;
    * both engines redact the identical planted text, which keeps the
    * check meaningful (every row has one of each hit) without touching
    * testdata. Patterns stay inside the RE2-compatible subset (no
    * lookaround) so Java regex and the oracle's RE2 agree. Expression-only
    * — the whole scrub fuses into the scan's codegen span. */
  def piiRedact(s: SparkSession, dir: String): DataFrame = {
    def occurrences(c: Column, marker: String): Column =
      ((length(c) - length(expr(s"replace(red, '$marker', '')")))
        / marker.length).cast("long")
    Tables(s, dir, "documents")
      .withColumn("planted", concat(col("text"),
        lit(" contact user"), col("doc_id"), lit("@crawl.example.com"),
        lit(" from 10."), col("doc_id") % 256, lit(".0.7 ref 4111111"),
        col("doc_id") % 100, lit("99")))
      .withColumn("red", regexp_replace(regexp_replace(regexp_replace(
        col("planted"),
        "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}", "<EMAIL>"),
        "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b", "<IP>"),
        "\\d{8,}", "<NUM>"))
      .select(col("doc_id"),
        occurrences(col("red"), "<EMAIL>").as("n_email"),
        occurrences(col("red"), "<IP>").as("n_ip"),
        occurrences(col("red"), "<NUM>").as("n_num"),
        substring(col("red"), -60, 60).as("tail"))
      .orderBy("doc_id")
  }

  /** Token-budget domain mixing: turns per-source token counts into a
    * deterministic downsampling so the final corpus hits a global token
    * budget (40% of the pool) with equal per-source shares — the static
    * analogue of DoReMi-style domain reweighting, and the step that
    * actually freezes a training mix. Rates are derived FROM the data via
    * two tiny aggregates and expressed in integer basis points (floor
    * division end-to-end), so both engines compute the identical keep
    * set; the keep decision is the same md5(doc_id) bucket as
    * [[stratifiedSample]] — map-side, shuffle-free, replayable. */
  def mixBudget(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"))
      .persist()
    val per = docs.groupBy("source").agg(sum("n_tokens").as("src_toks"))
    val tot = per.agg(coalesce(sum("src_toks"), lit(0L)).as("t"),
      count(lit(1)).as("ns")).head()
    if (tot.getLong(1) == 0L) // empty corpus: no sources, nothing to budget
      return docs.select(col("doc_id"), col("source"), col("n_tokens"),
        lit(0L).as("rate_bp")).limit(0)
    val budgetPerSource = tot.getLong(0) * 40 / 100 / tot.getLong(1)
    val rates = per.select(col("source"),
      least(lit(10000L), expr(s"(${budgetPerSource}L * 10000) div src_toks")).as("rate_bp"))
    docs.join(broadcast(rates), Seq("source"))
      .withColumn("bucket",
        expr("conv(substring(md5(cast(doc_id AS STRING)), 1, 8), 16, 10)")
          .cast("long") % 10000)
      .where(col("bucket") < col("rate_bp"))
      .select(col("doc_id"), col("source"), col("n_tokens"), col("rate_bp"))
      .orderBy("doc_id")
  }

  /** Temperature-based source sampling — the multilingual mixing rule
    * (mT5 / XLM-R: sample source i with probability ∝ p_i^α, α≈0.3, where
    * p_i is its natural token share): low-resource sources are upsampled,
    * head sources damped, without ever flattening to uniform. The
    * canonical knob a pretraining mix turns after the datasheet is read.
    *
    * One tiny per-source aggregate (broadcast-scale — sources number in
    * the dozens at 100 TB) computes natural shares, temperature shares,
    * the upsample factor, and the expected token draw from a 1M-token
    * budget. All doubles rounded at 6 so both engines' pow/exp libms
    * agree bit-for-bit after the round. */
  def mixTemperature(s: SparkSession, dir: String): DataFrame = {
    val per = Tables(s, dir, "documents")
      .select(col("source"), size(TextAnalysis.tokens(col("text"))).cast("long").as("n"))
      .groupBy("source").agg(sum("n").as("src_toks"))
    val tot = per.agg(coalesce(sum("src_toks"), lit(0L)).as("t")).head().getLong(0)
    if (tot == 0L)
      return per.select(col("source"), col("src_toks"),
        lit(0.0).as("p_nat"), lit(0.0).as("p_temp"),
        lit(0.0).as("upsample"), lit(0L).as("budget_toks")).limit(0)
    val alpha = 0.3
    val pow = per.withColumn("p_nat", col("src_toks").cast("double") / lit(tot.toDouble))
      .withColumn("pa", expr(s"power(p_nat, $alpha)"))
    val z = pow.agg(sum("pa")).head().getDouble(0)
    pow.withColumn("p_temp", col("pa") / lit(z))
      .select(col("source"), col("src_toks"),
        round(col("p_nat"), 6).as("p_nat"),
        round(col("p_temp"), 6).as("p_temp"),
        round(col("p_temp") / col("p_nat"), 6).as("upsample"),
        // derive the integer budget from the ROUNDED share (round again
        // after the multiply: floor on the raw double would sit on a pow
        // libm ulp boundary between engines)
        expr("CAST(round(round(p_temp, 6) * 1000000, 0) AS BIGINT)").as("budget_toks"))
      .orderBy("source")
  }

  /** UniMax budget allocation (Chung et al. 2023, "UniMax: Fairer and More
    * Effective Language Sampling for Large-Scale Multilingual
    * Pretraining") — the published successor to [[mixTemperature]]'s p^α
    * rule: allocate a global token budget (40% of the pool here) as
    * UNIFORMLY as possible across sources, subject to an epoch cap
    * (C = 2 epochs: no source is repeated more than twice, the paper's
    * overfitting guard). The algorithm is an ascending-capacity
    * waterfill: visit sources by capacity cap_s = C·n_s ascending; each
    * takes min(cap_s, fair share of the remaining budget), integer
    * division end-to-end so both engines replay the fold bit-for-bit
    * (the oracle is a recursive CTE stepping the identical sequence).
    *
    * Shape at 100 TB: ONE per-source aggregate (sources number in the
    * dozens); the fold itself is driver arithmetic over that
    * metadata-scale table — the OLS closed-form discipline. epochs_micro
    * lifts to DECIMAL on a corpus where alloc·10^6 would overflow BIGINT
    * (not reachable below ~9·10^12 tokens/source). */
  def mixUnimax(s: SparkSession, dir: String): DataFrame = {
    val sess = s
    import sess.implicits._
    val per = Tables(s, dir, "documents")
      .select(col("source"), size(TextAnalysis.tokens(col("text"))).cast("long").as("n"))
      .groupBy("source").agg(sum("n").as("src_toks"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .sortBy { case (src, n) => (2L * n, src) }
    if (per.isEmpty)
      return Seq.empty[(String, Long, Long, Long, Long)]
        .toDF("source", "src_toks", "cap_toks", "alloc_toks", "epochs_micro")
    val budget = per.map(_._2).sum * 40 / 100
    var r = budget
    var m = per.length
    val rows = per.map { case (src, n) =>
      val cap = 2L * n
      val fair = r / m // integer fair share of what remains
      val alloc = math.min(cap, fair)
      r -= alloc
      m -= 1
      (src, n, cap, alloc, if (n == 0) 0L else alloc * 1000000L / n)
    }
    rows.toSeq
      .toDF("source", "src_toks", "cap_toks", "alloc_toks", "epochs_micro")
      .orderBy("source")
  }

  /** Int8 quantization summary per vector. */
  def quantize(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "embeddings")
      .withColumn("scale",
        expr("array_max(transform(embedding, x -> abs(cast(x AS DOUBLE)))) / 127.0D"))
      .select(col("vec_id"), round(col("scale"), 8).as("scale"),
        expr("aggregate(transform(embedding, x -> cast(floor(cast(x AS DOUBLE) / scale + 0.5D) AS BIGINT)), 0L, (a, b) -> a + b)").as("qsum"),
        expr("cast(array_min(transform(embedding, x -> floor(cast(x AS DOUBLE) / scale + 0.5D))) AS BIGINT)").as("qmin"),
        expr("cast(array_max(transform(embedding, x -> floor(cast(x AS DOUBLE) / scale + 0.5D))) AS BIGINT)").as("qmax"))
      .orderBy("vec_id")

  val queries: Seq[Query] = Seq(
    Query("q_pipeline_clean", cleanCorpus, (LlmOracles.shinglesCte + """,
      |stats AS (SELECT doc_id, text, len(t) AS n_tokens,
      |  len(list_filter(t, x -> list_contains(""" + LlmOracles.stopEnSql + """, x)))::DOUBLE / len(t) AS stop_ratio,
      |  md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp
      | FROM toks),
      |quality AS (SELECT * FROM stats WHERE n_tokens >= 30 AND stop_ratio >= 0.03),
      |keep_exact AS (SELECT min(doc_id) AS doc_id FROM quality GROUP BY fp),
      |pairs AS (
      | SELECT doc_a, doc_b FROM (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |   round(len(list_intersect(a.s, b.s))::DOUBLE /
      |         (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 4) AS j
      |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id) WHERE j >= 0.5)
      |SELECT q.doc_id, CAST(q.n_tokens AS INT) AS n_tokens FROM quality q
      |WHERE q.doc_id IN (SELECT doc_id FROM keep_exact)
      |  AND q.doc_id NOT IN (SELECT doc_b FROM pairs)
      |ORDER BY q.doc_id""").stripMargin),
    Query("q_pack_sequences", packSequences,
      """WITH t AS (SELECT doc_id, source,
        |  len(string_split(lower(text), ' '))::BIGINT AS n_tokens FROM documents),
        |c AS (SELECT doc_id, source, n_tokens,
        |  coalesce(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_tok
        | FROM t)
        |SELECT doc_id, source, n_tokens,
        | CAST(start_tok // 256 AS BIGINT) AS pack_id,
        | CAST(start_tok % 256 AS BIGINT) AS tok_offset,
        | CAST((start_tok + n_tokens - 1) // 256 - start_tok // 256 + 1 AS BIGINT) AS n_packs
        |FROM c ORDER BY doc_id""".stripMargin),
    Query("q_dsir_weight", dsirWeights,
      """WITH tk AS (SELECT doc_id, source, unnest(string_split(lower(text), ' ')) AS token
        |  FROM documents),
        |cnt AS (SELECT token,
        |  sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS tc,
        |  sum(CASE WHEN source = 'src0' THEN 0 ELSE 1 END) AS rc
        | FROM tk GROUP BY token),
        |tot AS (SELECT count(*) AS v, sum(tc) AS nt, sum(rc) AS nr FROM cnt),
        |llr AS (SELECT token,
        |  CAST(round((ln((tc + 1.0) / (nt + v)) - ln((rc + 1.0) / (nr + v))) * 1e6) AS BIGINT) AS llr_q
        | FROM cnt, tot)
        |SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        | round(CAST(sum(llr_q) AS BIGINT) / 1e6, 6) AS weight
        |FROM tk t JOIN llr USING (token) WHERE t.source <> 'src0'
        |GROUP BY t.doc_id ORDER BY doc_id""".stripMargin),
    Query("q_pii_redact", piiRedact,
      """WITH p AS (SELECT doc_id,
        |  text || ' contact user' || doc_id || '@crawl.example.com from 10.' ||
        |  (doc_id % 256) || '.0.7 ref 4111111' || (doc_id % 100) || '99' AS planted
        | FROM documents),
        |r AS (SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(planted,
        |  '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
        |  '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |  '\d{8,}', '<NUM>', 'g') AS red
        | FROM p)
        |SELECT doc_id,
        | CAST((length(red) - length(replace(red, '<EMAIL>', ''))) // 7 AS BIGINT) AS n_email,
        | CAST((length(red) - length(replace(red, '<IP>', ''))) // 4 AS BIGINT) AS n_ip,
        | CAST((length(red) - length(replace(red, '<NUM>', ''))) // 5 AS BIGINT) AS n_num,
        | substring(red, length(red) - 59, 60) AS tail
        |FROM r ORDER BY doc_id""".stripMargin),
    Query("q_mix_temperature", mixTemperature,
      """WITH per AS (
        | SELECT source,
        |   CAST(sum(len(string_split(lower(text), ' '))) AS BIGINT) AS src_toks
        | FROM documents GROUP BY source),
        |tot AS (SELECT CAST(sum(src_toks) AS DOUBLE) AS t FROM per),
        |p AS (SELECT source, src_toks, src_toks / t AS p_nat,
        |        pow(src_toks / t, 0.3) AS pa FROM per, tot),
        |z AS (SELECT sum(pa) AS z FROM p)
        |SELECT source, src_toks,
        |  round(p_nat, 6) AS p_nat,
        |  round(pa / z, 6) AS p_temp,
        |  round((pa / z) / p_nat, 6) AS upsample,
        |  CAST(round(round(pa / z, 6) * 1000000, 0) AS BIGINT) AS budget_toks
        |FROM p, z ORDER BY source""".stripMargin),
    // NFD bin packing: the recursive CTE steps every (source, shard) group
    // in lockstep through the identical next-fit fold
    Query("q_pack_nfd", packBinNfd,
      """WITH RECURSIVE d AS (SELECT doc_id, source, doc_id % 8 AS shard,
        |  len(string_split(lower(text), ' '))::BIGINT AS n FROM documents),
        |o AS (SELECT *, row_number() OVER (PARTITION BY source, shard
        |        ORDER BY n DESC, doc_id) AS rn FROM d),
        |steps AS (
        |  SELECT source, shard, CAST(0 AS BIGINT) AS rn,
        |         CAST(0 AS BIGINT) AS bin, CAST(256 AS BIGINT) AS used,
        |         CAST(NULL AS BIGINT) AS doc_id, CAST(NULL AS BIGINT) AS n
        |  FROM (SELECT DISTINCT source, shard FROM d)
        |  UNION ALL
        |  SELECT o.source, o.shard, o.rn,
        |    CASE WHEN s.used + o.n <= 256 THEN s.bin ELSE s.bin + 1 END,
        |    CASE WHEN s.used + o.n <= 256 THEN s.used + o.n ELSE o.n END,
        |    o.doc_id, o.n
        |  FROM steps s JOIN o ON o.source = s.source AND o.shard = s.shard
        |                     AND o.rn = s.rn + 1)
        |SELECT doc_id, source, shard, n AS n_tokens, bin
        |FROM steps WHERE rn > 0 ORDER BY doc_id""".stripMargin),
    // UniMax waterfill: the recursive CTE replays the engine's driver fold
    // step by step (ascending capacity, integer fair share of the rest)
    Query("q_mix_unimax", mixUnimax,
      """WITH RECURSIVE d AS (SELECT source,
        |  len(string_split(lower(text), ' '))::BIGINT AS n FROM documents),
        |per AS (SELECT source, CAST(sum(n) AS BIGINT) AS src_toks FROM d GROUP BY source),
        |ord AS (SELECT source, src_toks, 2 * src_toks AS cap_toks,
        |  row_number() OVER (ORDER BY 2 * src_toks, source) AS i FROM per),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS ns,
        |  CAST(sum(src_toks) AS BIGINT) * 40 // 100 AS b FROM ord),
        |steps AS (
        |  SELECT CAST(0 AS BIGINT) AS i, (SELECT b FROM tot) AS r,
        |         CAST(NULL AS VARCHAR) AS source, CAST(0 AS BIGINT) AS alloc
        |  UNION ALL
        |  SELECT o.i, s.r - least(o.cap_toks, s.r // ((SELECT ns FROM tot) - o.i + 1)),
        |         o.source, least(o.cap_toks, s.r // ((SELECT ns FROM tot) - o.i + 1))
        |  FROM steps s JOIN ord o ON o.i = s.i + 1)
        |SELECT o.source, o.src_toks, o.cap_toks, st.alloc AS alloc_toks,
        |  st.alloc * 1000000 // o.src_toks AS epochs_micro
        |FROM ord o JOIN steps st ON st.source = o.source
        |ORDER BY o.source""".stripMargin),
    Query("q_mix_budget", mixBudget,
      """WITH d AS (SELECT doc_id, source,
        |  len(string_split(lower(text), ' '))::BIGINT AS n_tokens FROM documents),
        |per AS (SELECT source, sum(n_tokens) AS src_toks FROM d GROUP BY source),
        |tot AS (SELECT sum(src_toks) AS t, count(*) AS ns FROM per),
        |rates AS (SELECT source,
        |  least(10000, ((t * 40 // 100 // ns) * 10000) // src_toks) AS rate_bp
        | FROM per, tot)
        |SELECT d.doc_id, d.source, d.n_tokens, CAST(r.rate_bp AS BIGINT) AS rate_bp
        |FROM d JOIN rates r USING (source)
        |WHERE ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::UBIGINT % 10000 < r.rate_bp
        |ORDER BY doc_id""".stripMargin),
    Query("q_emb_normalize", normalize,
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
        |  sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
        | FROM embeddings)
        |SELECT vec_id, round(nrm, 6) AS norm,
        | round(v[1] / nrm, 6) AS h1, round(v[2] / nrm, 6) AS h2,
        | round(v[3] / nrm, 6) AS h3, round(v[4] / nrm, 6) AS h4
        |FROM e ORDER BY vec_id""".stripMargin),
    Query("q_emb_quantize", quantize,
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
        |  list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))) / 127.0 AS scale
        | FROM embeddings)
        |SELECT vec_id, round(scale, 8) AS scale,
        | CAST(list_sum(list_transform(v, x -> CAST(floor(x / scale + 0.5) AS BIGINT))) AS BIGINT) AS qsum,
        | CAST(list_min(list_transform(v, x -> floor(x / scale + 0.5))) AS BIGINT) AS qmin,
        | CAST(list_max(list_transform(v, x -> floor(x / scale + 0.5))) AS BIGINT) AS qmax
        |FROM e ORDER BY vec_id""".stripMargin),
  )
}
