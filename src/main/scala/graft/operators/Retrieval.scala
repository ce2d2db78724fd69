package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Query, Tables}

/** Sparse + hybrid retrieval over the documents corpus — the query side of
  * an LLM data/RAG pipeline (the reference covers the analytics half; a
  * training-data engine also serves retrieval: BM25 for lexical matching,
  * dense ANN for semantic, reciprocal-rank fusion to combine them).
  *
  * Scale shape (100 TB): the query set is tiny and BROADCAST; BM25 scoring
  * is an inverted-index token join (two linear shuffles building tf/df —
  * the tfidfTop3 plan — then one broadcast-joined scoring pass); nothing is
  * all-pairs. The dense list here reuses the labeled brute-force baseline
  * (annBruteForce) because the fixture is 500 vectors; at corpus scale the
  * dense side swaps to the IVF-PQ path (annIvfPq) with the SAME (qid, rank,
  * vec_id) output contract, leaving the fusion untouched. RRF itself is a
  * rank-space full-outer join over two k-bounded lists — k·|queries| rows,
  * driver-free.
  *
  * Determinism discipline (cross-engine): every per-term BM25 contribution
  * is quantized to integer micro-units BEFORE the per-document sum (the
  * tfidfTop3 / perplexity convention — double summation order differs
  * between engines, integer sums cannot), ranking keys are the integer
  * sums with doc_id tiebreak, and RRF contributions 1e6 div (60 + rank)
  * are exact integer division on both engines. avgdl is embedded as the
  * ratio of the two exact corpus integers so both engines perform the one
  * identical IEEE division.
  *
  * Ref analog: the reference ships no retrieval operator — this extends the
  * LLM-pipeline family (SURVEY §2.16-2.18) on the documents/embeddings
  * fixtures. BM25 constants k1=1.2, b=0.75 (Robertson et al.; the Lucene
  * ln(1 + (N - df + 0.5)/(df + 0.5)) idf variant, always positive). */
object Retrieval {

  /** q_retrieval_bm25 — top-10 BM25(k1=1.2, b=0.75) documents per query;
    * queries are documents doc_id < 5 (the annBruteForce vec_id < 5
    * convention), self-matches excluded, ties break by doc_id. */
  def bm25(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables(s, dir, "documents")
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("t"))
    // two corpus scalars (metadata-scale driver action, the tfidfTop3
    // pattern): N and total token count; avgdl = tot/N is ONE IEEE
    // division of the same two integers in both engines
    val stats = docs.agg(count(lit(1)).as("n"),
      coalesce(sum(size(col("t"))), lit(0L)).as("tot")).head()
    val n = stats.getLong(0)
    val tot = stats.getLong(1)
    // empty corpus: no rows ever reach the scoring expression, but ANSI
    // constant folding still evaluates the embedded avgdl subtree — keep
    // its divisor positive (value irrelevant when n = 0)
    val nDiv = math.max(n, 1L)
    val tf = docs.select(col("doc_id"), explode(col("t")).as("token"))
      .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
    val dl = docs.select(col("doc_id"), size(col("t")).cast("long").as("dl"))
    val dfreq = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val qterms = tf.where(col("doc_id") < 5)
      .select(col("doc_id").as("qid"), col("token"))
    val scored = tf.join(broadcast(qterms), Seq("token"))
      .where(col("doc_id") =!= col("qid"))
      .join(dfreq, Seq("token"))
      .join(dl, Seq("doc_id"))
      // per-term contribution quantized to integer micro-units before the
      // sum; expression text kept identical to the oracle's so both
      // engines evaluate the same IEEE operation tree
      .withColumn("skey", expr(
        s"cast(round(ln(1 + ($n - df + 0.5) / (df + 0.5)) * (tf * 2.2) / " +
        s"(tf + 1.2 * (0.25 + 0.75 * dl / (cast($tot as double) / $nDiv))) * 1e6) as bigint)"))
      .groupBy(col("qid"), col("doc_id"))
      .agg(sum(col("skey")).as("sk"))
    val w = Window.partitionBy(col("qid")).orderBy(col("sk").desc, col("doc_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= 10)
      .select(col("qid"), col("rank"), col("doc_id"),
        round(col("sk").cast("double") / 1e6, 4).as("score"))
      .orderBy("qid", "rank")
  }

  /** q_retrieval_rrf — hybrid retrieval: the BM25 top-10 (lexical) fused
    * with the dense cosine top-10 (annBruteForce; embeddings.vec_id is the
    * dense index id of documents.doc_id — the fixtures are 1:1 aligned)
    * by reciprocal-rank fusion, score = Σ 1e6 div (60 + rank) over the
    * lists a document appears in (Cormack et al.'s k=60). Integer
    * arithmetic end-to-end — both engines agree exactly. */
  def hybridRrf(s: SparkSession, dir: String): DataFrame =
    fuse(bm25(s, dir),
      Similarity.annBruteForce(s, dir)
        .select(col("qid"), col("vec_id").as("doc_id"), col("rank").as("rd")))

  /** The one fusion implementation both hybrids share: RRF over a sparse
    * (qid, doc_id, rank) list and a dense (qid, doc_id, rd) list. */
  private def fuse(sparseList: DataFrame, dense: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sparse = sparseList.select(col("qid"), col("doc_id"), col("rank").as("rs"))
    val fused = sparse.join(dense, Seq("qid", "doc_id"), "full_outer")
      .withColumn("rrf", expr(
        "coalesce(1000000 div (60 + rs), 0) + coalesce(1000000 div (60 + rd), 0)"))
    val w = Window.partitionBy(col("qid")).orderBy(col("rrf").desc, col("doc_id").asc)
    fused.withColumn("rank", row_number().over(w))
      .where(col("rank") <= 10)
      .select(col("qid"), col("rank"), col("doc_id"), col("rrf"))
      .orderBy("qid", "rank")
  }

  /** q_retrieval_rrf_ivf — the SCALE PATH made concrete: the same RRF
    * fusion with the dense list swapped from the brute baseline to the
    * IVF-PQ index (annIvfPq — 3-cell probe + 8-codeword ADC; candidate
    * generation prunes to the probed cells, raw vectors never read at
    * query time). The fusion code is IDENTICAL — only the list provider
    * changes, which is the whole point of the (qid, rank, id) contract.
    * IVF-PQ ranks by quantized distance ascending (adist_u); rank is all
    * RRF consumes, so approximation error surfaces only as list
    * membership/order, priced by q_ann_recall_pq. */
  def hybridRrfIvf(s: SparkSession, dir: String): DataFrame =
    fuse(bm25(s, dir),
      Similarity.annIvfPq(s, dir)
        .select(col("qid"), col("vec_id").as("doc_id"), col("rank").as("rd")))

  /** The BM25 CTE chain ending in `sparse(qid, doc_id, rs)` — shared by
    * both fusion oracles; `bq` (not `q`) names the query-term CTE so the
    * chain composes with pqCtes (whose `q` is the PQ query subvectors). */
  private val bm25SparseCtes: String =
    """tok AS (SELECT doc_id, unnest(t) AS token FROM toks),
      |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY doc_id, token),
      |dfq AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
      |dl AS (SELECT doc_id, len(t) AS dl FROM toks),
      |st AS (SELECT count(*) AS n, sum(len(t))::DOUBLE / count(*) AS avgdl FROM toks),
      |bq AS (SELECT doc_id AS qid, token FROM tf WHERE doc_id < 5),
      |bsc AS (SELECT bq.qid, tf.doc_id,
      |  CAST(round(ln(1 + (st.n - df + 0.5) / (df + 0.5)) * (tf * 2.2) /
      |    (tf + 1.2 * (0.25 + 0.75 * dl / st.avgdl)) * 1e6) AS BIGINT) AS skey
      | FROM tf JOIN bq USING (token) JOIN dfq USING (token)
      |  JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN st
      | WHERE tf.doc_id <> bq.qid),
      |bagg AS (SELECT qid, doc_id, CAST(sum(skey) AS BIGINT) AS sk
      |        FROM bsc GROUP BY qid, doc_id),
      |sparse AS (SELECT qid, doc_id, CAST(row_number() OVER
      |  (PARTITION BY qid ORDER BY sk DESC, doc_id) AS INT) AS rs FROM bagg
      |  QUALIFY rs <= 10)""".stripMargin

  /** RRF fusion tail over `sparse` + `dense` CTEs. */
  private val rrfTail: String =
    """fused AS (SELECT coalesce(s.qid, d.qid) AS qid,
      |  coalesce(s.doc_id, d.doc_id) AS doc_id,
      |  CAST(coalesce(1000000 // (60 + rs), 0) +
      |       coalesce(1000000 // (60 + rd), 0) AS BIGINT) AS rrf
      | FROM sparse s FULL OUTER JOIN dense d
      |  ON s.qid = d.qid AND s.doc_id = d.doc_id)
      |SELECT qid, CAST(row_number() OVER
      |  (PARTITION BY qid ORDER BY rrf DESC, doc_id) AS INT) AS rank,
      | doc_id, rrf
      |FROM fused QUALIFY rank <= 10 ORDER BY qid, rank""".stripMargin

  val queries: Seq[Query] = Seq(
    Query("q_retrieval_bm25", bm25,
      (graft.LlmOracles.toksCte + """,
        |tok AS (SELECT doc_id, unnest(t) AS token FROM toks),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY doc_id, token),
        |dfq AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
        |dl AS (SELECT doc_id, len(t) AS dl FROM toks),
        |st AS (SELECT count(*) AS n, sum(len(t))::DOUBLE / count(*) AS avgdl FROM toks),
        |q AS (SELECT doc_id AS qid, token FROM tf WHERE doc_id < 5),
        |sc AS (SELECT q.qid, tf.doc_id,
        |  CAST(round(ln(1 + (st.n - df + 0.5) / (df + 0.5)) * (tf * 2.2) /
        |    (tf + 1.2 * (0.25 + 0.75 * dl / st.avgdl)) * 1e6) AS BIGINT) AS skey
        | FROM tf JOIN q USING (token) JOIN dfq USING (token)
        |  JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN st
        | WHERE tf.doc_id <> q.qid),
        |agg AS (SELECT qid, doc_id, CAST(sum(skey) AS BIGINT) AS sk
        |        FROM sc GROUP BY qid, doc_id),
        |r AS (SELECT qid, doc_id, sk, CAST(row_number() OVER
        |  (PARTITION BY qid ORDER BY sk DESC, doc_id) AS INT) AS rank FROM agg)
        |SELECT qid, rank, doc_id, round(sk / 1000000.0, 4) AS score
        |FROM r WHERE rank <= 10 ORDER BY qid, rank""").stripMargin),
    Query("q_retrieval_rrf", hybridRrf,
      (graft.LlmOracles.toksCte + ",\n" + bm25SparseCtes + """,
        |dq AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
        |       FROM embeddings WHERE vec_id < 5),
        |dsc AS (SELECT qid, e.vec_id AS doc_id,
        |  round(list_dot_product(qv, CAST(e.embedding AS DOUBLE[])) /
        |   (sqrt(list_dot_product(qv, qv)) *
        |    sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
        |                          CAST(e.embedding AS DOUBLE[])))), 6) AS cos
        | FROM embeddings e, dq WHERE e.vec_id <> qid),
        |dense AS (SELECT qid, doc_id, CAST(row_number() OVER
        |  (PARTITION BY qid ORDER BY cos DESC, doc_id) AS INT) AS rd FROM dsc
        |  QUALIFY rd <= 10),""".stripMargin + "\n" + rrfTail)),
    Query("q_retrieval_rrf_ivf", hybridRrfIvf,
      (graft.LlmOracles.pqCtes + """,
        |cent AS (
        | SELECT label, i.i AS d, round(avg(embedding[i.i]), 6) AS c
        | FROM embeddings, range(1, 65) i(i) GROUP BY label, i.i),
        |centv AS (SELECT label AS clabel, list(c ORDER BY d) AS cv FROM cent GROUP BY label),
        |qf AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
        |       FROM embeddings WHERE vec_id < 5),
        |probes AS (
        | SELECT qid, clabel,
        |  CAST(row_number() OVER (PARTITION BY qid ORDER BY ccos DESC, clabel) AS INT) AS crank
        | FROM (SELECT qid, clabel,
        |   round(list_dot_product(qv, cv) /
        |    (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))), 6) AS ccos
        |  FROM qf, centv)),
        |sel AS (SELECT qid, clabel FROM probes WHERE crank <= 3),
        |cands AS (SELECT sel.qid, v.vec_id
        |  FROM sel JOIN (SELECT vec_id, label FROM embeddings) v
        |    ON v.label = sel.clabel AND v.vec_id <> sel.qid),
        |ad AS (SELECT c.qid, c.vec_id, CAST(sum(du) AS BIGINT) AS adist_u
        |  FROM cands c JOIN enc e USING (vec_id)
        |  JOIN dt ON dt.qid = c.qid AND dt.s = e.s AND dt.cid = e.cid
        |  GROUP BY c.qid, c.vec_id),
        |dense AS (SELECT qid, vec_id AS doc_id, CAST(row_number() OVER
        |  (PARTITION BY qid ORDER BY adist_u, vec_id) AS INT) AS rd FROM ad
        |  QUALIFY rd <= 10),""".stripMargin + "\n" +
        graft.LlmOracles.toksCte.replaceFirst("WITH ", "") + ",\n" +
        bm25SparseCtes + ",\n" + rrfTail)))
}
