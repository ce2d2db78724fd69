package graft.operators

import graft.{Query, Tables}
import graft.functions.VecOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Vector similarity search over the `embeddings` table (SURVEY.md §7
  * driver-mandated extensions).
  *
  * Scale design (100 TB):
  *  - Brute force is the baseline: queries broadcast against the corpus, one
  *    streaming pass, per-partition top-k then global top-k.
  *  - IVF is the scale path: corpus pre-partitioned into cells (here the
  *    `label` column stands in for a k-means assignment); a query probes the
  *    nprobe nearest cell centroids and scans only those cells — at 1000
  *    executors that is partition pruning on the cell id.
  *  - Hyperplane LSH gives sublinear near-dup pair generation: b tables of
  *    r sign-bits; hyperplane components are md5-derived so the oracle
  *    reproduces them exactly.
  *
  * The pairwise scorer is `graft.functions.VecDot` — a codegen'd primitive
  * loop (Spark's `zip_with`+`aggregate` HOFs are CodegenFallback and were
  * ~20× slower). Norms are computed ONCE per vector and joined through,
  * never per pair; the double arithmetic (left-to-right summation, then
  * dot/(sqrt*sqrt)) matches DuckDB's `list_dot_product` bit-for-bit so
  * `round(..., 6)` agrees across engines.
  */
object Similarity {

  /** cosine(a, b) recomputing both norms — for tests / one-off use.
    * Hot paths precompute norms instead. */
  def cosine(a: Column, b: Column): Column =
    VecOps.dot(a, b) / (VecOps.norm(a) * VecOps.norm(b))

  private def cosPre(ea: Column, eb: Column, na: Column, nb: Column): Column =
    round(VecOps.dot(ea, eb) / (na * nb), 6)

  /** Corpus with per-vector norm computed once (one codegen pass). */
  private def withNorm(df: DataFrame): DataFrame =
    df.withColumn("nrm", VecOps.norm(col("embedding")))

  /** Brute-force cosine top-10 for query vectors (vec_id < 5) against the
    * whole corpus. Rank on the ROUNDED similarity so cross-engine last-ulp
    * drift cannot flip the order; vec_id breaks ties deterministically. */
  def annBruteForce(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val emb = withNorm(Tables(s, dir, "embeddings"))
    val queries = emb.where(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"), col("nrm").as("qn"))
    val scored = emb.crossJoin(broadcast(queries))
      .where(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        cosPre(col("qv"), col("embedding"), col("qn"), col("nrm")).as("cos"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= 10)
      .select(col("qid"), col("rank"), col("vec_id"), col("cos"))
      .orderBy("qid", "rank")
  }

  /** IVF-style ANN: cells = `label`, centroid = per-dimension mean (rounded
    * to 6 so fp summation order is irrelevant), query probes the 3 nearest
    * centroids by cosine and searches only those cells. */
  def annIvf(s: SparkSession, dir: String): DataFrame = annIvfProbes(s, dir, 3)

  /** The IVF probe list: per query, its `nprobe` nearest cells by centroid
    * cosine — (qid, qv, qn, clabel). Shared by [[annIvfProbes]] and
    * [[annIvfPq]]. */
  private def ivfProbeFrame(emb: DataFrame, nprobe: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cent = emb.select(col("label"), posexplode(col("embedding")).as(Seq("d", "v")))
      .groupBy(col("label"), col("d"))
      .agg(round(avg(col("v")), 6).as("c"))
      .groupBy(col("label"))
      .agg(array_sort(collect_list(struct(col("d"), col("c")))).as("dc"))
      .select(col("label").as("clabel"), expr("transform(dc, x -> x.c)").as("cv"))
      .withColumn("cn", VecOps.norm(col("cv")))
    val queries = emb.where(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"), col("nrm").as("qn"))
    val wq = Window.partitionBy(col("qid")).orderBy(col("ccos").desc, col("clabel"))
    queries.crossJoin(broadcast(cent))
      .select(col("qid"), col("qv"), col("qn"), col("clabel"),
        cosPre(col("qv"), col("cv"), col("qn"), col("cn")).as("ccos"))
      .withColumn("crank", row_number().over(wq))
      .where(col("crank") <= nprobe)
      .select(col("qid"), col("qv"), col("qn"), col("clabel"))
  }

  /** nprobe-parameterized IVF (Round11Spec pins nprobe=all-cells ≡ brute
    * force — the recall dial's upper anchor). */
  private[graft] def annIvfProbes(s: SparkSession, dir: String, nprobe: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val emb = withNorm(Tables(s, dir, "embeddings"))
    val probes = ivfProbeFrame(emb, nprobe)
    // search only the probed cells (join on cell id = partition pruning at scale)
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
    probes.join(emb, col("label") === col("clabel") && col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        cosPre(col("qv"), col("embedding"), col("qn"), col("nrm")).as("cos"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= 10)
      .select(col("qid"), col("rank"), col("vec_id"), col("cos"))
      .orderBy("qid", "rank")
  }

  /** Hard-negative mining — the contrastive-training counterpart of
    * nearest-neighbor search (DPR/Contriever recipe: the most useful
    * negatives are the most SIMILAR vectors from a different class): per
    * query, the top-5 highest-cosine vectors whose `label` differs from
    * the query's. Same deterministic rounded-cosine ranking as
    * [[annBruteForce]]. This brute form is the ORACLE twin; the scale
    * path is wired as [[annHardNegativesIndexed]] (q_ann_negatives_ix) —
    * production IVF-PQ shortlist + label post-filter, pinned equivalent. */
  def annHardNegatives(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val emb = withNorm(Tables(s, dir, "embeddings"))
    val queries = emb.where(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"),
        col("nrm").as("qn"), col("label").as("ql"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
    emb.crossJoin(broadcast(queries))
      .where(col("label") =!= col("ql"))
      .select(col("qid"), col("vec_id"),
        cosPre(col("qv"), col("embedding"), col("qn"), col("nrm")).as("cos"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= 5)
      .select(col("qid"), col("rank"), col("vec_id"), col("cos"))
      .orderBy("qid", "rank")
  }

  /** q_train_triplets — contrastive training-pair assembly (the DPR/
    * Contriever data-prep step downstream of mining: each anchor query
    * paired with its best in-label positive and its hardest cross-label
    * negatives, emitted as (q, p, n) rows ready for an InfoNCE loader).
    * Positive = top-1 same-label by cosine excluding self; negatives =
    * the top-2 hard negatives (the annHardNegatives ranking). One scored
    * broadcast pass serves both sides; the final join is per-query
    * metadata. Deterministic rounded-cosine ranking throughout. */
  def trainTriplets(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val emb = withNorm(Tables(s, dir, "embeddings"))
    val queries = emb.where(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"),
        col("nrm").as("qn"), col("label").as("ql"))
    val scored = emb.crossJoin(broadcast(queries))
      .where(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("ql"), col("vec_id"), col("label"),
        cosPre(col("qv"), col("embedding"), col("qn"), col("nrm")).as("cos"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
    val pos = scored.where(col("label") === col("ql"))
      .withColumn("r", row_number().over(w)).where(col("r") === 1)
      .select(col("qid"), col("vec_id").as("pos_id"), col("cos").as("pos_cos"))
    val neg = scored.where(col("label") =!= col("ql"))
      .withColumn("neg_rank", row_number().over(w)).where(col("neg_rank") <= 2)
      .select(col("qid"), col("neg_rank"), col("vec_id").as("neg_id"),
        col("cos").as("neg_cos"))
    pos.join(neg, "qid")
      .select(col("qid"), col("pos_id"), col("pos_cos"),
        col("neg_rank"), col("neg_id"), col("neg_cos"))
      .orderBy("qid", "neg_rank")
  }

  /** Hard-negative mining from the PRODUCTION index (r13, VERDICT r12
    * task 4 — DPR, Karpukhin 2020 §4.2, mines negatives from the live ANN
    * index, not a brute scan): the IVF-PQ ADC shortlist at production
    * parameters (K=256 books, nprobe=8) is widened to R=200 so enough
    * cross-label candidates survive the label post-filter, then the
    * filtered shortlist is exact-cosine re-ranked to the top-5 per query —
    * [[annHardNegatives]]'s contract served by the index. The driver
    * oracle is the same brute-force SQL: the index-mined ≡ brute
    * equivalence IS the claim (Round13Spec pins it on the fixture too).
    * Scale shape: candidate generation prunes to nprobe cells and prices
    * 8 table lookups per candidate (the prodSearch story); the label
    * filter is a column test on R rows per query; exact cosine touches
    * only the filtered shortlist — the corpus-×-queries scan of the brute
    * twin never happens. */
  def annHardNegativesIndexed(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // an empty corpus has no index to fit (pqFitProd requires rows):
    // answer the empty panel directly with the contract schema
    if (Tables(s, dir, "embeddings").limit(1).isEmpty)
      return s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("qid", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("rank", org.apache.spark.sql.types.IntegerType),
          org.apache.spark.sql.types.StructField("vec_id", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("cos", org.apache.spark.sql.types.DoubleType))))
    // memoized fit (r14, VERDICT r13 #8 bench hygiene): repeated bench
    // reps were refitting Lloyd cells + PQ books every time (med 3.6 s vs
    // min 2.6 s). The fitted DRIVER artifacts (centroids, codebooks) are
    // tiny and deterministic per corpus dir — fit once per process and
    // reuse; the cached per-vector DataFrames may be unpersisted by the
    // bench's clearCache between queries, and their recompute is one
    // cheap pass against the retained books, so no release step is needed.
    val ix = prodIndexFor(s, dir)
    val out = hardNegativesFromIndex(ix, dir)
    val rows = out.collect().toSeq
    s.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](
      scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), out.schema)
  }

  // single-slot memo (r15 ADVICE fix: the per-dir map retained every
  // touched corpus's fitted artifacts and persisted DataFrames for the
  // process lifetime; one slot bounds that to the latest corpus, and the
  // replaced entry's caches are released on swap).
  // SINGLE-CONSUMER contract (r16, documenting the r15 ADVICE residual):
  // one corpus at a time per process. Callers alternating two dirs
  // rebuild on every swap (correct, just recomputes), and a holder of an
  // evicted index sees its persisted inputs silently recompute — both
  // safe; a multi-corpus workload should widen this to a small LRU with
  // deferred release, which no committed path needs.
  private var prodIxSlot: Option[(String, ProdIndex)] = None
  /** Fit-once-per-(dir, process) production index (default parameters).
    * A cached entry whose DataFrames belong to a DIFFERENT (e.g. stopped
    * and replaced) SparkSession is rebuilt — the memo keys only by path,
    * and a stale session's cached plans would throw or silently serve the
    * old fit. Testdata dirs are immutable within a process, so path-keyed
    * reuse is otherwise sound. */
  private[graft] def prodIndexFor(s: SparkSession, dir: String): ProdIndex =
    synchronized {
      prodIxSlot match {
        case Some((d, ix)) if d == dir && (ix.emb.sparkSession eq s) => ix
        case replaced =>
          // release the evicted entry's persisted DataFrames; a stale
          // session's unpersist may throw against a stopped context —
          // nothing to release there, swallow and rebuild
          replaced.foreach { case (_, old) =>
            try releaseProdIndex(old) catch { case _: Exception => () }
          }
          val ix = buildProdIndex(s, dir)
          prodIxSlot = Some(dir -> ix)
          ix
      }
    }

  /** The mining pass against an ALREADY-BUILT index (ScaleBench reuses the
    * rehearsal's fitted index rather than fitting twice): ADC shortlist →
    * label post-filter → exact-cosine top-5. */
  private[graft] def hardNegativesFromIndex(ix: ProdIndex, dir: String,
      nprobe: Int = 8, rlist: Int = 200): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val s = ix.emb.sparkSession
    val labels = Tables(s, dir, "embeddings").select(col("vec_id"), col("label"))
    val ql = broadcast(labels.where(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("label").as("ql")))
    val wS = Window.partitionBy(col("qid")).orderBy(col("adist_u"), col("vec_id"))
    val short = prodSearchShortlistWithDist(ix, nprobe)
      .withColumn("rk", row_number().over(wS)).where(col("rk") <= rlist)
      .select("qid", "vec_id")
    val qv = broadcast(ix.emb.where(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvv"),
        col("nrm").as("qn")))
    val wR = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
    short.join(ix.emb, "vec_id").join(labels, "vec_id")
      .join(qv, "qid").join(ql, "qid")
      .where(col("label") =!= col("ql"))
      .select(col("qid"), col("vec_id"),
        cosPre(col("qvv"), col("embedding"), col("qn"), col("nrm")).as("cos"))
      .withColumn("rank", row_number().over(wR)).where(col("rank") <= 5)
      .select(col("qid"), col("rank"), col("vec_id"), col("cos"))
      .orderBy("qid", "rank")
  }

  /** ANN recall evaluation — the quality harness every approximate index
    * ships with (FAISS's standard recall@k protocol): the IVF index's
    * top-10 against the brute-force ground truth, per query. At 100 TB
    * this is THE operational dial — nprobe (here: 3 probed cells) trades
    * recall against the fraction of the corpus scanned, and a production
    * deployment re-measures it on every index rebuild from a fixed query
    * panel exactly like this. Composition of two already-oracle-checked
    * operators, so the deterministic-tiebreak discipline (cos rounded to
    * 6, vec_id tiebreak) makes the intersection itself exact. */
  def annRecall(s: SparkSession, dir: String): DataFrame =
    recallOf(annBruteForce(s, dir), annIvf(s, dir))

  /** Recall of the IVF-PQ index — the number a deployment actually
    * watches when buying PQ's 32–128× compression: how much of the true
    * top-10 the pruned, quantized scan still surfaces. Ground truth stays
    * the exact cosine ranking; the index ranks by quantized L2 over 3
    * probed cells — BOTH approximations (cell miss + code distortion) are
    * charged against it, exactly as in a FAISS recall sweep. */
  def annRecallPq(s: SparkSession, dir: String): DataFrame =
    recallOf(annBruteForce(s, dir), annIvfPq(s, dir))

  private def recallOf(truthDf: DataFrame, approxDf: DataFrame): DataFrame = {
    val truth = truthDf.select(col("qid"), col("vec_id"))
    val approx = approxDf.select(col("qid"), col("vec_id"))
    val hits = truth.join(approx, Seq("qid", "vec_id"), "left_semi")
      .groupBy("qid").agg(count(lit(1)).as("h"))
    // report every query, a hypothetical 0-recall panel row included
    truth.groupBy("qid").agg(count(lit(1)).as("k"))
      .join(hits, Seq("qid"), "left")
      .select(col("qid"), coalesce(col("h"), lit(0L)).as("n_hits"),
        round(coalesce(col("h"), lit(0L)).cast("double") / col("k"), 2)
          .as("recall_at_10"))
      .orderBy("qid")
  }

  /** Product quantization ANN (Jégou/Douze/Schmid 2011, the FAISS IVFPQ
    * building block): the 64-dim vector splits into 8 contiguous 8-dim
    * subspaces, each fitted with its own tiny L2 codebook (K=4, the same
    * deterministic 2-round Lloyd discipline as [[kmeansFit]] — init =
    * subvectors of vec 0..3, per-dim means rounded to 6); a vector is then
    * STORED as 8 codebook indices. Search is asymmetric distance (ADC):
    * the query precomputes its distance to all 8×4 codewords ONCE, and
    * each candidate's approximate distance is 8 table lookups summed —
    * quantized to integer micro-units before the sum so the aggregate is
    * order-independent and the oracle replays it exactly.
    *
    * WHY at 100 TB: this is the memory-bound scale technique — a 64-dim
    * float vector is 256 B, its PQ code is 8 small ints (2 bits each at
    * K=4; one byte each at the production K=256), a 32–128× compression
    * that lets the candidate scan live in RAM at corpus sizes where raw
    * vectors cannot. Engine shape: the codebook fit is ONE pass per Lloyd
    * round for ALL subspaces (subspace id is just a grouping key — never 8
    * separate jobs); only the 8×4×8-double codebook is ever collected;
    * encode and the ADC scan are broadcast-joined linear passes. */
  /** (vec_id, s, sv): the corpus split into 8 contiguous 8-dim subspaces. */
  private def pqSub(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "embeddings")
      .select(col("vec_id"), expr("transform(embedding, x -> cast(x AS double))").as("v"))
      .select(col("vec_id"), explode(expr(
        "transform(sequence(0, 7), s -> struct(s AS s, slice(v, s * 8 + 1, 8) AS sv))")).as("e"))
      .select(col("vec_id"), col("e.s").cast("int").as("s"), col("e.sv").as("sv"))

  /** Nearest codeword per (vector, subspace): round-6 L2², cid tiebreak. */
  private def pqAssign(sub: DataFrame, cents: Seq[(Int, Int, Seq[Double])]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sess = sub.sparkSession; import sess.implicits._
    val cdf = broadcast(cents.toDF("s", "cid", "cv"))
    val w = Window.partitionBy(col("vec_id"), col("s")).orderBy(col("d2"), col("cid"))
    sub.join(cdf, "s")
      .withColumn("d2", expr(
        "round(aggregate(zip_with(sv, cv, (x, y) -> (x - y) * (x - y)), " +
          "0D, (acc, z) -> acc + z), 6)"))
      .withColumn("rk", row_number().over(w)).where(col("rk") === 1)
      .select(col("vec_id"), col("s"), col("cid"))
  }

  /** The 2-round deterministic Lloyd codebook fit over all subspaces. */
  private def pqFit(sub: DataFrame): Seq[(Int, Int, Seq[Double])] = {
    var cents = sub.where(col("vec_id") < 4)
      .select(col("s"), col("vec_id").cast("int").as("cid"), col("sv"))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2))).toSeq
    for (_ <- 1 to 2) {
      cents = pqAssign(sub, cents).join(sub, Seq("vec_id", "s"))
        .select(col("s"), col("cid"), posexplode(col("sv")).as(Seq("d", "x")))
        .groupBy(col("s"), col("cid"), col("d")).agg(round(avg(col("x")), 6).as("m"))
        .groupBy(col("s"), col("cid"))
        .agg(array_sort(collect_list(struct(col("d"), col("m")))).as("dm"))
        .select(col("s"), col("cid"), expr("transform(dm, p -> p.m)").as("cv"))
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2)))
        .toSeq.sortBy(t => (t._1, t._2))
    }
    cents
  }

  /** Per-query ADC distance table: (qid, s, cid, du) in integer micro-units. */
  private def pqDistTable(sub: DataFrame,
      cents: Seq[(Int, Int, Seq[Double])]): DataFrame = {
    val sess = sub.sparkSession; import sess.implicits._
    val q = sub.where(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("s"), col("sv"))
    broadcast(q.join(broadcast(cents.toDF("s", "cid", "cv")), "s")
      .select(col("qid"), col("s"), col("cid"), expr(
        "cast(round(aggregate(zip_with(sv, cv, (x, y) -> (x - y) * (x - y)), " +
          "0D, (acc, z) -> acc + z) * 1e6) AS bigint)").as("du")))
  }

  def annPq(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sub = pqSub(s, dir)
    val cents = pqFit(sub)
    val codes = pqAssign(sub, cents) // the stored index: (vec_id, s, code=cid)
    val dt = pqDistTable(sub, cents)
    val w = Window.partitionBy(col("qid")).orderBy(col("adist_u"), col("vec_id"))
    codes.join(dt, Seq("s", "cid"))
      .where(col("vec_id") =!= col("qid"))
      .groupBy(col("qid"), col("vec_id")).agg(sum(col("du")).as("adist_u"))
      .withColumn("rank", row_number().over(w)).where(col("rank") <= 10)
      .select(col("qid"), col("rank"), col("vec_id"), col("adist_u"))
      .orderBy("qid", "rank")
  }

  /** IVF-PQ — the composed production index (FAISS `IndexIVFPQ`): the IVF
    * probe prunes the corpus to `nprobe` cells, PQ's ADC scores only the
    * survivors from their 8-index codes. At 100 TB this pairing is the
    * whole design: IVF bounds the fraction of the corpus TOUCHED
    * (partition pruning on the cell key), PQ bounds the bytes PER
    * candidate (codes in RAM, raw vectors never read at query time). */
  def annIvfPq(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val emb = withNorm(Tables(s, dir, "embeddings"))
    val cells = ivfProbeFrame(emb, 3).select(col("qid"), col("clabel"))
    val cands = cells.join(emb.select(col("vec_id"), col("label")),
        col("label") === col("clabel") && col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"))
    val sub = pqSub(s, dir)
    val cents = pqFit(sub)
    val codes = pqAssign(sub, cents)
    val dt = pqDistTable(sub, cents)
    val w = Window.partitionBy(col("qid")).orderBy(col("adist_u"), col("vec_id"))
    cands.join(codes, "vec_id")
      .join(dt, Seq("qid", "s", "cid"))
      .groupBy(col("qid"), col("vec_id")).agg(sum(col("du")).as("adist_u"))
      .withColumn("rank", row_number().over(w)).where(col("rank") <= 10)
      .select(col("qid"), col("rank"), col("vec_id"), col("adist_u"))
      .orderBy("qid", "rank")
  }

  // ---------------------------------------------------------------------
  // Production-parameter IVF-PQ (engine-side validation — VERDICT r11 #1).
  // The oracle twin above stays at K=4 where the unrolled-Lloyd DuckDB
  // replay is tractable; everything below runs at the parameters a real
  // deployment uses and is pinned by Round12Spec + ScaleBench instead.
  // ---------------------------------------------------------------------

  /** The fitted production index: learned coarse cells (NOT the `label`
    * column — measured near-random w.r.t. embedding geometry: recall at
    * nprobe=1 over label cells is ~0.1, over Lloyd cells ~0.8), per-vector
    * cell assignment, K-codeword PQ books and the encoded codes. */
  private[graft] case class ProdIndex(emb: DataFrame,
      cents: Seq[(Int, Seq[Double])], assign: DataFrame,
      books: Array[Array[Array[Double]]], codes: DataFrame)

  /** One PQ encode pass as a tight numeric kernel (the FAISS encode loop):
    * per vector, per subspace, argmin over K codewords of round-6 L2² with
    * lowest-cid tiebreak — the [[signSignatures]] discipline (broadcast
    * codebook, primitive loops). The join+HOF spelling of the same math
    * pushes n×8×K rows through a CodegenFallback lambda; at the production
    * K=256 that is 2048 lambda rows per vector vs 16 Kflop here. */
  private def pqEncode(emb: DataFrame,
      books: Array[Array[Array[Double]]]): DataFrame = {
    val s = emb.sparkSession
    import s.implicits._
    val bc = s.sparkContext.broadcast(books)
    emb.select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
      .mapPartitions { it =>
        val bk = bc.value
        val m = bk.length
        val dsub = if (m == 0) 0 else bk(0)(0).length
        it.map { case (id, v) =>
          val codes = new Array[Int](m)
          var si = 0
          while (si < m) {
            val cb = bk(si)
            var best = 0
            var bestD = Double.MaxValue
            var c = 0
            while (c < cb.length) {
              var d2 = 0.0
              var d = 0
              while (d < dsub) {
                val diff = v(si * dsub + d).toDouble - cb(c)(d)
                d2 += diff * diff
                d += 1
              }
              d2 = math.rint(d2 * 1e6) / 1e6
              if (d2 < bestD) { bestD = d2; best = c }
              c += 1
            }
            codes(si) = best
            si += 1
          }
          (id, codes)
        }
      }.toDF("vec_id", "codes")
  }

  /** Deterministic Lloyd fit of the K-codeword books over all 8 subspaces
    * (init = subvectors of vectors 0..K-1, per-dim means rounded to 6 —
    * the [[pqFit]] discipline at production K). Per round: one kernel
    * encode pass + one n×64-row mean aggregation; only the 8×K×8-double
    * book is ever collected. */
  private[graft] def pqFitProd(emb: DataFrame, kCode: Int,
      iters: Int = 2): Array[Array[Array[Double]]] = {
    val dsub = 8
    val init = emb.where(col("vec_id") < kCode)
      .select(col("vec_id"), col("embedding")).collect()
      .sortBy(_.getLong(0))
      .map(_.getSeq[Float](1).map(_.toDouble).toArray)
    require(init.nonEmpty, "pqFitProd needs a non-empty corpus")
    val k = math.min(kCode, init.length)
    var books = Array.tabulate(8, k)((s0, c) =>
      java.util.Arrays.copyOfRange(init(c), s0 * dsub, (s0 + 1) * dsub))
    for (_ <- 1 to iters) {
      val means = pqEncode(emb, books)
        .select(col("vec_id"), posexplode(col("codes")).as(Seq("s", "cid")))
        .join(emb.select(col("vec_id"), col("embedding")), "vec_id")
        .select(col("s"), col("cid"),
          posexplode(expr(s"slice(embedding, s * $dsub + 1, $dsub)")).as(Seq("d", "x")))
        .groupBy("s", "cid", "d").agg(round(avg(col("x")), 6).as("mavg"))
        .collect()
      val next = books.map(_.map(_.clone())) // empty cells keep their codeword
      means.foreach { r =>
        next(r.getInt(0))(r.getInt(1))(r.getInt(2)) = r.getDouble(3)
      }
      books = next
    }
    books
  }

  /** Build the production index once (shared across a recall sweep):
    * Lloyd coarse cells + cell assignment + PQ books + codes, with the
    * per-vector artifacts cached. */
  private[graft] def buildProdIndex(s: SparkSession, dir: String,
      nCells: Int = 10, kCode: Int = 256): ProdIndex = {
    val emb = withNorm(Tables(s, dir, "embeddings"))
      .select(col("vec_id"), col("embedding"), col("nrm")).cache()
    val cents = kmeansFit(emb, nCells)
    val assign = kmeansAssign(emb, cents).cache()
    val books = pqFitProd(emb, kCode)
    val codes = pqEncode(emb, books).cache()
    ProdIndex(emb, cents, assign, books, codes)
  }

  private[graft] def releaseProdIndex(ix: ProdIndex): Unit = {
    ix.emb.unpersist(false)
    ix.assign.unpersist(false)
    ix.codes.unpersist(false)
  }

  /** Production search against a built index — the full FAISS
    * `IndexIVFPQ` + `IndexRefineFlat` protocol:
    *  1. the query probes its `nprobe` nearest Lloyd cells (driver
    *     arithmetic over the collected k×64 centroid table);
    *  2. candidates in probed cells are priced by ADC — 8 integer table
    *     lookups per candidate, raw vectors untouched;
    *  3. the ADC top-`shortlist` is re-ranked by EXACT cosine (one VecDot
    *     codegen pass over `shortlist` rows per query).
    * The refine step is load-bearing on this corpus: unit-norm synthetic
    * vectors have top-10 cosine gaps BELOW the 8-byte quantization noise
    * (measured ADC-only recall@10 ≈ 0.3–0.5 even at K=256 — PQ's known
    * worst case, unstructured random data), while the ADC shortlist at
    * R=100 contains the true top-10 essentially always, so shortlist +
    * exact re-rank restores recall ≥ 0.9 at nprobe=8. At 100 TB this is
    * the standard trade: ADC touches every candidate cheaply, exact
    * distance touches only R rows per query. */
  private[graft] def prodSearch(ix: ProdIndex, nprobe: Int,
      shortlist: Int = 100): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wS = Window.partitionBy(col("qid")).orderBy(col("adist_u"), col("vec_id"))
    val short = prodSearchShortlistWithDist(ix, nprobe)
      .withColumn("rk", row_number().over(wS)).where(col("rk") <= shortlist)
      .select("qid", "vec_id")
    // refine: exact cosine over the shortlist only
    val qv = broadcast(ix.emb.where(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvv"), col("nrm").as("qn")))
    val wR = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
    short.join(ix.emb, "vec_id").join(qv, "qid")
      .select(col("qid"), col("vec_id"),
        cosPre(col("qvv"), col("embedding"), col("qn"), col("nrm")).as("cos"))
      .withColumn("rank", row_number().over(wR)).where(col("rank") <= 10)
      .select(col("qid"), col("rank"), col("vec_id"), col("cos"))
      .orderBy("qid", "rank")
  }

  /** ADC-only variant (no refine) — the honesty twin the sweep reports
    * next to the refined number. */
  private[graft] def prodSearchAdcOnly(ix: ProdIndex, nprobe: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val s = ix.emb.sparkSession
    val full = prodSearchShortlistWithDist(ix, nprobe)
    val w = Window.partitionBy(col("qid")).orderBy(col("adist_u"), col("vec_id"))
    full.withColumn("rank", row_number().over(w)).where(col("rank") <= 10)
      .select(col("qid"), col("rank"), col("vec_id"), col("adist_u"))
      .orderBy("qid", "rank")
  }

  private def prodSearchShortlistWithDist(ix: ProdIndex, nprobe: Int): DataFrame = {
    val s = ix.emb.sparkSession
    import s.implicits._
    val dsub = 8
    val qRows = ix.emb.where(col("vec_id") < 5)
      .select(col("vec_id"), col("embedding")).collect()
      .sortBy(_.getLong(0))
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
    val probes = qRows.toSeq.flatMap { case (qid, qv) =>
      val qn = math.sqrt(qv.map(x => x * x).sum)
      ix.cents.map { case (cid, cv) =>
        val dot = cv.iterator.zip(qv.iterator).map { case (a, b) => a * b }.sum
        val cn = math.sqrt(cv.map(x => x * x).sum)
        (qid, cid, math.rint(dot / (qn * cn) * 1e6) / 1e6)
      }.sortBy { case (_, cid, c) => (-c, cid) }.take(nprobe)
        .map { case (q, cid, _) => (q, cid) }
    }
    val dts = qRows.toSeq.map { case (qid, qv) =>
      val dt = ix.books.zipWithIndex.map { case (cb, si) =>
        cb.map { cw =>
          var d2 = 0.0
          var d = 0
          while (d < dsub) {
            val diff = qv(si * dsub + d) - cw(d)
            d2 += diff * diff
            d += 1
          }
          math.rint(d2 * 1e6).toLong
        }.toSeq
      }.toSeq
      (qid, dt)
    }
    broadcast(probes.toDF("qid", "cid")).join(ix.assign, "cid")
      .where(col("vec_id") =!= col("qid"))
      .join(ix.codes, "vec_id").join(broadcast(dts.toDF("qid", "dt")), "qid")
      .withColumn("adist_u", expr(
        "aggregate(transform(sequence(0, 7), s -> " +
          "element_at(element_at(dt, s + 1), element_at(codes, s + 1) + 1)), " +
          "0L, (a, x) -> a + x)"))
      .select("qid", "vec_id", "adist_u")
  }

  /** The production recall sweep (FAISS protocol at real parameters):
    * K=256 books, nprobe ∈ callers' sweep, recall@10 against the exact
    * brute-force panel — refined and ADC-only side by side. Returns one
    * row per nprobe: (nprobe, mean/min refined recall, mean/min ADC-only
    * recall). Round12Spec pins refined ≥ 0.9 at nprobe=8 and monotone
    * nondecreasing mean in nprobe; ScaleBench carries fit/encode/search
    * wall-times at 10× and 100× corpus size. */
  private[graft] def annRecallProdSweep(s: SparkSession, dir: String,
      nprobes: Seq[Int] = Seq(1, 3, 8, 10),
      nCells: Int = 10, kCode: Int = 256,
      shortlist: Int = 100): DataFrame = {
    import s.implicits._
    val truth = annBruteForce(s, dir).select(col("qid"), col("vec_id")).cache()
    val ix = buildProdIndex(s, dir, nCells, kCode)
    try {
      val rows = nprobes.map { np =>
        def meanMin(approx: DataFrame): (Double, Double) = {
          val r = recallOf(truth, approx.select(col("qid"), col("vec_id")))
            .agg(round(avg(col("recall_at_10")), 3).as("mean"),
              round(min(col("recall_at_10")), 3).as("min"))
            .head()
          (r.getDouble(0), r.getDouble(1))
        }
        val (rm, rmin) = meanMin(prodSearch(ix, np, shortlist))
        val (am, amin) = meanMin(prodSearchAdcOnly(ix, np))
        (np, rm, rmin, am, amin)
      }
      rows.toDF("nprobe", "recall_refined_mean", "recall_refined_min",
        "recall_adc_mean", "recall_adc_min").orderBy("nprobe")
    } finally {
      releaseProdIndex(ix)
      truth.unpersist(false)
    }
  }

  /** One k-means assignment pass: every vector to its max-cosine centroid
    * (cosine rounded to 6 before ranking, cid breaks ties — deterministic
    * and oracle-reproducible). Centroids ride in as a broadcast literal
    * table: k×64 doubles, never a shuffle. */
  private[operators] def kmeansAssign(emb: DataFrame, cents: Seq[(Int, Seq[Double])]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val s = emb.sparkSession
    import s.implicits._
    val cdf = broadcast(cents.toDF("cid", "cv")
      .withColumn("cn", graft.functions.VecOps.norm(col("cv"))))
    val w = Window.partitionBy(col("vec_id")).orderBy(col("cos").desc, col("cid"))
    emb.crossJoin(cdf)
      .select(col("vec_id"), col("cid"),
        round(graft.functions.VecOps.dot(col("embedding"), col("cv"))
          / (col("nrm") * col("cn")), 6).as("cos"))
      .withColumn("rk", row_number().over(w))
      .where(col("rk") === 1)
      .select(col("vec_id"), col("cid"))
  }

  /** Lloyd's k-means over the embedding corpus (k=8, 2 iterations,
    * deterministic init = vectors 0..k-1), then the final assignment.
    * Per-iteration cost at scale: one broadcast-join scan for assignment +
    * one posexplode aggregation for the new centroids; only the k×dim
    * centroid table is collected to the driver (an aggregate, not data).
    * Centroids are rounded to 6 per dimension so float summation order
    * cannot leak into the next iteration — that is what makes a 2-round
    * iterative ML fit bit-reproducible in the DuckDB oracle. */
  def annKmeans(s: SparkSession, dir: String): DataFrame =
    kmeansFitAssign(s, dir)
      .select(col("vec_id"), col("cid").as("cluster"))
      .orderBy("vec_id")

  /** The deterministic 2-round Lloyd fit + final assignment (vec_id, cid),
    * shared by [[annKmeans]] and [[semDedup]]. */
  /** The deterministic Lloyd fit alone: `emb` carries (vec_id, embedding,
    * nrm); init = vectors 0..k-1; returns the k×dim centroid table (the
    * only thing ever collected). Exposed for the ML Pipeline API's KMeans
    * estimator (MlPipeline.scala). */
  private[operators] def kmeansFit(emb: DataFrame, k: Int,
                                   iters: Int = 2): Seq[(Int, Seq[Double])] = {
    var cents: Seq[(Int, Seq[Double])] = emb.where(col("vec_id") < k)
      .select(col("vec_id").cast("int"), col("embedding"))
      .collect().map(r => (r.getInt(0), r.getSeq[Float](1).map(_.toDouble))).toSeq
    for (_ <- 1 to iters) {
      val assigned = kmeansAssign(emb, cents)
      cents = assigned.join(emb, "vec_id")
        .select(col("cid"), posexplode(col("embedding")).as(Seq("d", "x")))
        .groupBy(col("cid"), col("d"))
        .agg(round(avg(col("x")), 6).as("m"))
        .groupBy(col("cid"))
        .agg(array_sort(collect_list(struct(col("d"), col("m")))).as("dm"))
        .select(col("cid"), expr("transform(dm, p -> p.m)").as("cv"))
        .collect().map(r => (r.getInt(0), r.getSeq[Double](1))).toSeq
        .sortBy(_._1)
    }
    cents
  }

  private def kmeansFitAssign(s: SparkSession, dir: String,
                              k: Int = 8): DataFrame = {
    val emb = withNorm(Tables(s, dir, "embeddings"))
      .select(col("vec_id"), col("embedding"), col("nrm"))
      .cache()
    kmeansAssign(emb, kmeansFit(emb, k))
  }

  /** Sparse-vector cosine (ref flink-ml-parent
    * `common/linalg/SparseVector.java` + `BLAS.java` dot): documents as
    * sparse term-frequency vectors — (doc, token, count) triples, the
    * relational spelling of SparseVector's (indices, values) pairs — with
    * the dot product computed as a join on the shared index and the norms
    * as per-doc aggregates. Candidates come from the shared near-dup pair
    * table, so the quadratic all-pairs form never materializes; cost is
    * linear in the pairs' shared tokens. All inputs are integer counts, so
    * cosine = int / (sqrt(int)·sqrt(int)) is bit-identical across engines
    * before the 6-decimal round. */
  def sparseCosinePairs(s: SparkSession, dir: String): DataFrame = {
    val tf = Tables(s, dir, "documents")
      .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
    val norms = tf.groupBy("doc_id").agg(sum(col("c") * col("c")).as("n2"))
    val pairs = Dedup.ngramJaccardPairsShared(s, dir).select("doc_a", "doc_b")
    val dot = pairs
      .join(tf.select(col("doc_id").as("doc_a"), col("tok"), col("c").as("ca")),
        Seq("doc_a"))
      .join(tf.select(col("doc_id").as("doc_b"), col("tok"), col("c").as("cb")),
        Seq("doc_b", "tok"))
      .groupBy("doc_a", "doc_b").agg(sum(col("ca") * col("cb")).as("dot"))
    dot
      .join(norms.select(col("doc_id").as("doc_a"), col("n2").as("na")), Seq("doc_a"))
      .join(norms.select(col("doc_id").as("doc_b"), col("n2").as("nb")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        round(col("dot") / (sqrt(col("na")) * sqrt(col("nb"))), 6).as("cos"))
      .orderBy("doc_a", "doc_b")
  }

  /** Brute-force hard-negative oracle — shared verbatim by the scan form
    * (q_ann_negatives) and the index-mined form (q_ann_negatives_ix): the
    * production index must reproduce the exact scan answer. */
  private val negativesSql: String =
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings),
        |q AS (SELECT vec_id AS qid, v AS qv, label AS ql FROM e WHERE vec_id < 5),
        |px AS (SELECT q.qid, e.vec_id,
        |   round(list_dot_product(e.v, q.qv) /
        |     (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.qv, q.qv))), 6) AS cos
        |  FROM e JOIN q ON e.label <> q.ql),
        |rk AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rank
        |  FROM px)
        |SELECT qid, rank, vec_id, cos FROM rk WHERE rank <= 5
        |ORDER BY qid, rank""".stripMargin

  val queries: Seq[Query] = Seq(
    Query("q_ann_negatives", annHardNegatives, negativesSql),
    Query("q_ann_negatives_ix", annHardNegativesIndexed, negativesSql),
    Query("q_train_triplets", trainTriplets,
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings),
        |q AS (SELECT vec_id AS qid, v AS qv, label AS ql FROM e WHERE vec_id < 5),
        |px AS (SELECT q.qid, q.ql, e.vec_id, e.label,
        |   round(list_dot_product(e.v, q.qv) /
        |     (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.qv, q.qv))), 6) AS cos
        |  FROM e JOIN q ON e.vec_id <> q.qid),
        |pos AS (SELECT qid, vec_id AS pos_id, cos AS pos_cos FROM (
        |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS r
        |  FROM px WHERE label = ql) WHERE r = 1),
        |neg AS (SELECT qid, r AS neg_rank, vec_id AS neg_id, cos AS neg_cos FROM (
        |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS r
        |  FROM px WHERE label <> ql) WHERE r <= 2)
        |SELECT pos.qid AS qid, pos_id, pos_cos, neg_rank, neg_id, neg_cos
        |FROM pos JOIN neg ON neg.qid = pos.qid
        |ORDER BY pos.qid, neg_rank""".stripMargin),
    Query("q_sparse_cosine", sparseCosinePairs, (graft.LlmOracles.pairsCte + """,
      |tfu AS (SELECT doc_id, tok, count(*) AS c
      |  FROM (SELECT doc_id, unnest(t) AS tok FROM toks) GROUP BY doc_id, tok),
      |nn AS (SELECT doc_id, sum(c*c) AS n2 FROM tfu GROUP BY doc_id),
      |dt AS (SELECT p.doc_a, p.doc_b, sum(a.c * b.c) AS dot FROM pairs p
      |  JOIN tfu a ON a.doc_id = p.doc_a
      |  JOIN tfu b ON b.doc_id = p.doc_b AND b.tok = a.tok
      |  GROUP BY p.doc_a, p.doc_b)
      |SELECT dt.doc_a, dt.doc_b,
      |  round(dt.dot / (sqrt(na.n2) * sqrt(nb.n2)), 6) AS cos
      |FROM dt JOIN nn na ON na.doc_id = dt.doc_a
      |        JOIN nn nb ON nb.doc_id = dt.doc_b
      |ORDER BY doc_a, doc_b""".stripMargin)),
    Query("q_decontaminate_emb", decontaminateEmb,
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |ev AS (SELECT vec_id AS evid, v AS evv FROM e WHERE vec_id % 37 = 0),
        |co AS (SELECT vec_id, v FROM e WHERE vec_id % 37 <> 0),
        |px AS (SELECT c.vec_id, ev.evid,
        |   round(list_dot_product(c.v, ev.evv) /
        |     (sqrt(list_dot_product(c.v, c.v)) * sqrt(list_dot_product(ev.evv, ev.evv))), 6) AS cos
        |  FROM co c, ev),
        |fl AS (SELECT vec_id, evid, cos,
        |   row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, evid) AS rk
        |  FROM px)
        |SELECT vec_id, evid AS matched_eval, cos AS best_cos,
        |  cos >= 0.5 AS flagged
        |FROM fl WHERE rk = 1 ORDER BY vec_id""".stripMargin),
  )

  /** Embedding-space benchmark decontamination — the semantic twin of the
    * n-gram q_decontaminate (Pipeline.decontaminate): report every corpus
    * vector's STRONGEST eval-set match and flag it when cosine clears 0.5.
    * Catches paraphrased leakage that n-gram overlap misses; the
    * best-match report (not just the flagged subset) is what a
    * practitioner reviews to calibrate τ against their benchmark. Eval
    * side (vec_id % 37 == 0 stands in for a benchmark's embedded eval set
    * — MB-scale in practice) is broadcast; the corpus streams map-side
    * through one codegen VecDot pass per eval vector and only the
    * per-vector argmax aggregation shuffles, so the plan is linear in the
    * corpus at any scale. At eval sets too large to broadcast, route
    * through [[lshVerifiedPairs]]' signature join exactly as
    * q_decontaminate's measured size-guard does. */
  def decontaminateEmb(s: SparkSession, dir: String): DataFrame = {
    val emb = withNorm(Tables(s, dir, "embeddings"))
    val eval = emb.filter(col("vec_id") % 37 === 0)
      .select(col("vec_id").as("evid"), col("embedding").as("ee"), col("nrm").as("en"))
    val corpus = emb.filter(col("vec_id") % 37 =!= 0)
    val best = corpus.crossJoin(broadcast(eval))
      .select(col("vec_id"),
        struct(cosPre(col("embedding"), col("ee"), col("nrm"), col("en")).as("cos"),
          negate(col("evid")).as("nev")).as("m"))
      .groupBy(col("vec_id")).agg(max(col("m")).as("b"))
    best.select(col("vec_id"), negate(col("b.nev")).as("matched_eval"),
        col("b.cos").as("best_cos"),
        (col("b.cos") >= 0.5).as("flagged"))
      .orderBy("vec_id")
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540 — "Semantic
    * deduplication"): semantic near-dup removal scoped to k-means
    * clusters. Cluster the embedding space, then compare pairs ONLY
    * within a cluster — cosine ≥ 0.5 drops the higher vec_id; survivors
    * keep their cluster id. The clustering bounds the quadratic verify
    * term to Σ|cluster|² instead of n² (the published method's central
    * trick; with k ∝ √n each cluster is O(√n) and the whole pass is
    * ~O(n^1.5) worst-case, near-linear on real data where clusters are
    * balanced). Complements [[cosineDedupKeep]]: LSH buckets by random
    * sign patterns, SemDeDup by learned cluster structure — the two keep
    * sets genuinely differ wherever a near-dup pair straddles a cluster
    * boundary. Reuses the deterministic rounded-centroid Lloyd fit so the
    * oracle replays the clustering bit-for-bit. */
  def semDedup(s: SparkSession, dir: String): DataFrame =
    semDedupK(s, dir, kClusters = 8)

  /** [[semDedup]] with the cluster count exposed — the method's own scale
    * knob: SemDeDup prescribes k ∝ corpus size so per-cluster population
    * (and the quadratic within-cluster term) stays bounded as n grows;
    * ScaleBench drives this at 64/256 clusters for the 10×/100× runs. */
  def semDedupK(s: SparkSession, dir: String, kClusters: Int): DataFrame = {
    val assigned = kmeansFitAssign(s, dir, kClusters)
    val e = assigned.join(withNorm(Tables(s, dir, "embeddings")), "vec_id")
      .select(col("cid"), col("vec_id"), col("embedding"), col("nrm"))
    val a = e.select(col("cid"), col("vec_id").as("va"),
      col("embedding").as("ea"), col("nrm").as("na"))
    val b = e.select(col("cid"), col("vec_id").as("vb"),
      col("embedding").as("eb"), col("nrm").as("nb"))
    val losers = a.join(b, Seq("cid")).where(col("va") < col("vb"))
      .where(cosPre(col("ea"), col("eb"), col("na"), col("nb")) >= 0.5)
      .select(col("vb").as("vec_id")).distinct()
    e.join(losers, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("cid").as("cluster"))
      .orderBy("vec_id")
  }

  /** Embedding near-dup pairs: brute-force cosine >= 0.5 (baseline). */
  def cosinePairs(s: SparkSession, dir: String): DataFrame = {
    val emb = withNorm(Tables(s, dir, "embeddings"))
    val a = emb.select(col("vec_id").as("va"), col("embedding").as("ea"), col("nrm").as("na"))
    val b = emb.select(col("vec_id").as("vb"), col("embedding").as("eb"), col("nrm").as("nb"))
    a.join(broadcast(b), col("va") < col("vb"))
      .select(col("va"), col("vb"), cosPre(col("ea"), col("eb"), col("na"), col("nb")).as("cos"))
      .where(col("cos") >= 0.5)
      .orderBy("va", "vb")
  }

  /** Embedding-cosine near-dup REMOVAL (the dedup counterpart of
    * cosinePairs): drop every vector that has a higher-similarity twin
    * with a smaller id; keep the survivors.
    *
    * Candidates come from the sign-LSH signature join (equi-join on
    * (table, signature) — no all-pairs compare anywhere in the plan), then
    * exact cosine >= 0.5 verification and an anti-join. Dedup uses 32
    * tables x 4 bits: ~99.9% per-pair recall even at the adversarial
    * cos = 0.5 decision boundary (sign-bit agreement only 2/3 there) —
    * cross-validated equal to the brute-force definition at sf0.1
    * (tools.CrossCheck); at real near-dup similarity (>= 0.9) recall is
    * 1 - 1e-10. `cosinePairs` remains as the labeled O(n^2) baseline. */
  def cosineDedupKeep(s: SparkSession, dir: String): DataFrame = {
    val losers = lshVerifiedPairs(s, dir, nTables = 32, minCos = 0.5)
      .select(col("vb").as("vec_id")).distinct()
    Tables(s, dir, "embeddings").select(col("vec_id"))
      .join(losers, Seq("vec_id"), "left_anti")
      .orderBy("vec_id")
  }

  /** Hyperplane matrix: component (p, d) = md5("p_d")-derived uniform in
    * [-1, 1] — byte-identical to the SQL/DuckDB formulation
    * `conv(substr(md5(concat(p,'_',d)),1,15),16,10) / 2^60 * 2 - 1`. */
  private[operators] def planeMatrix(nPlanes: Int): Array[Array[Double]] =
    Array.tabulate(nPlanes, 64) { (p, d0) =>
      val d = d0 + 1
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"${p}_${d}".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15)
      java.lang.Long.parseLong(hex, 16).toDouble / math.pow(2, 60) * 2 - 1
    }

  /** Sign-LSH table signatures (vec_id, tbl, tsig), 4 bits per table.
    * The per-vector signature is a tight numeric kernel over a broadcast
    * plane matrix (mapPartitions): nTables×4×64 flops per row — the
    * posexplode+join+groupBy formulation of the same math pushed 64×
    * nPlanes ROWS per vector through two shuffling aggregations and was
    * ~20× slower. Dots accumulate in ascending dimension order, matching
    * the oracle's unnest order. */
  private def signSignatures(emb: DataFrame, nTables: Int,
                             bits: Int = 4): DataFrame = {
    val s = emb.sparkSession
    import s.implicits._
    val bc = s.sparkContext.broadcast(planeMatrix(nTables * bits))
    emb.select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
      .mapPartitions { it =>
        val pl = bc.value
        it.flatMap { case (id, v) =>
          (0 until nTables).iterator.map { t =>
            var sig = 0L
            var b = 0
            while (b < bits) {
              val plane = pl(t * bits + b)
              var dot = 0.0
              var d = 0
              while (d < v.length) { dot += v(d).toDouble * plane(d); d += 1 }
              if (dot > 0) sig |= (1L << b)
              b += 1
            }
            (id, t, sig)
          }
        }
      }.toDF("vec_id", "tbl", "tsig")
  }

  /** Scale configuration of the embedding dedup: bucket count sized to the
    * corpus (bits ≈ log2(N / targetBucket)) plus the hot-bucket cap. Same
    * candidates→exact-verify→anti-join shape as cosineDedupKeep. */
  def cosineDedupKeepScaled(s: SparkSession, dir: String, bits: Int,
                            maxBucket: Int, minCos: Double = 0.5): DataFrame = {
    val losers = lshVerifiedPairs(s, dir, nTables = 32, minCos = minCos,
        bits = bits, maxBucket = maxBucket)
      .select(col("vb").as("vec_id")).distinct()
    Tables(s, dir, "embeddings").select(col("vec_id"))
      .join(losers, Seq("vec_id"), "left_anti")
      .orderBy("vec_id")
  }

  /** Banded candidate pairs + exact cosine verification at `minCos`.
    *
    * Scale knobs (defaults reproduce the oracle-pinned configuration):
    * `bits` per table fixes the bucket count at 2^bits — at N vectors a
    * bucket averages N / 2^bits members and the candidate join is
    * quadratic IN THE BUCKET, so bits must grow like log2(N / targetBucket)
    * as the corpus grows (with exact verification, more bits only trades
    * recall, never precision); `maxBucket` is the same hot-bucket cap the
    * minhash path has — buckets larger than it are dropped before the
    * self-join, bounding every bucket's cost (members of a dropped bucket
    * still meet through their other tables). ScaleBench measures the 4-bit
    * default vs the scaled configuration at 10× corpus size. */
  private[operators] def lshVerifiedPairs(s: SparkSession, dir: String,
                                          nTables: Int, minCos: Double,
                                          bits: Int = 4,
                                          maxBucket: Int = Int.MaxValue): DataFrame = {
    val emb = withNorm(Tables(s, dir, "embeddings"))
    val allTables = signSignatures(emb, nTables, bits)
    val tables = if (maxBucket == Int.MaxValue) allTables else {
      val small = allTables.groupBy(col("tbl"), col("tsig"))
        .agg(count(lit(1)).as("bsz")).where(col("bsz") <= maxBucket)
        .drop("bsz")
      allTables.join(small, Seq("tbl", "tsig"))
    }
    val cand = tables.as("a").join(tables.as("b"),
        col("a.tbl") === col("b.tbl") && col("a.tsig") === col("b.tsig") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("va"), col("b.vec_id").as("vb"))
      .distinct()
    val withEmb = emb.select(col("vec_id"), col("embedding"), col("nrm"))
    cand
      .join(withEmb.select(col("vec_id").as("va"), col("embedding").as("ea"), col("nrm").as("na")), "va")
      .join(withEmb.select(col("vec_id").as("vb"), col("embedding").as("eb"), col("nrm").as("nb")), "vb")
      .select(col("va"), col("vb"), cosPre(col("ea"), col("eb"), col("na"), col("nb")).as("cos"))
      .where(col("cos") >= minCos)
      .orderBy("va", "vb")
  }

  /** Sign-LSH near-dup pairs: 8 tables x 4 hyperplane sign-bits;
    * candidates share a table signature; verified with exact cosine >=
    * 0.4. Deterministic md5-derived planes — oracle-reproducible. */
  def hyperplaneLshPairs(s: SparkSession, dir: String): DataFrame =
    lshVerifiedPairs(s, dir, nTables = 8, minCos = 0.4)
}
