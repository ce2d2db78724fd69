package graft

import graft.operators.{Dedup, Multimodal, Pipeline, Similarity, TextAnalysis, WebPipeline}
import graft.streaming.StreamBloom

/** The LLM-pipeline queries (text analysis, dedup, similarity,
  * multimodal): each builder with its DuckDB oracle SQL.
  *
  * Hash-dependent operators (minhash/simhash/hyperplane LSH) are fully
  * reproducible here because every hash is md5-derived:
  * `('0x'||substr(md5(s),1,15))::UBIGINT` == Spark's
  * `conv(substr(md5(s),1,15),16,10)` == graft.functions.TextHashes.md5hex60.
  */
object LlmOracles {

  val stopEnSql = "['the','a','of','to','and','in','is','it','that','as']"

  private val bloomSql: String =
    """WITH fps AS (SELECT doc_id,
        |  md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp FROM documents),
        |lake AS (SELECT doc_id, fp FROM fps WHERE doc_id % 3 = 0),
        |off AS (SELECT CAST(pow(10, length(CAST(max(doc_id) AS VARCHAR))) AS BIGINT) AS o FROM fps),
        |shard AS (SELECT doc_id, fp FROM fps WHERE doc_id % 3 <> 0
        |  UNION ALL SELECT doc_id + (SELECT o FROM off), fp FROM lake WHERE doc_id % 2 = 0),
        |lpos AS (SELECT DISTINCT
        |    ((b & 1073741823) + i.range * (b >> 30)) % 262144 AS p
        |  FROM (SELECT ('0x'||substr(fp, 1, 15))::UBIGINT AS b FROM lake), range(4) i),
        |spos AS (SELECT doc_id,
        |    ((b & 1073741823) + i.range * (b >> 30)) % 262144 AS p
        |  FROM (SELECT doc_id, ('0x'||substr(fp, 1, 15))::UBIGINT AS b FROM shard),
        |       range(4) i),
        |flag AS (SELECT s.doc_id, count(l.p) = 4 AS bloom_dup
        |  FROM spos s LEFT JOIN lpos l USING (p) GROUP BY s.doc_id)
        |SELECT d.doc_id, f.bloom_dup,
        |  (d.fp IN (SELECT fp FROM lake)) AS exact_dup
        |FROM shard d JOIN flag f USING (doc_id) ORDER BY d.doc_id""".stripMargin

  /** PQ chain through `enc` (codes) and `dt` (per-query ADC tables) —
    * shared by q_ann_pq and q_ann_ivfpq. */
  private[graft] val pqCtes: String =
    """WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |sub AS (SELECT vec_id, CAST(s.range AS INT) AS s,
        |  v[s.range*8+1 : s.range*8+8] AS sv FROM emb, range(8) s),
        |c0 AS (SELECT s, CAST(vec_id AS INT) AS cid, sv AS cv FROM sub WHERE vec_id < 4),
        |a1 AS (SELECT vec_id, s, cid FROM (
        |  SELECT b.vec_id, b.s, c.cid, row_number() OVER (PARTITION BY b.vec_id, b.s
        |    ORDER BY round(list_sum(list_transform(range(1, 9),
        |      i -> (b.sv[i] - c.cv[i]) * (b.sv[i] - c.cv[i]))), 6), c.cid) AS rk
        |  FROM sub b JOIN c0 c USING (s)) WHERE rk = 1),
        |c1d AS (SELECT a.s, a.cid, i.i AS d, round(avg(b.sv[i.i]), 6) AS m
        |  FROM a1 a JOIN sub b USING (vec_id, s), range(1, 9) i(i)
        |  GROUP BY a.s, a.cid, i.i),
        |c1 AS (SELECT s, cid, list(m ORDER BY d) AS cv FROM c1d GROUP BY s, cid),
        |a2 AS (SELECT vec_id, s, cid FROM (
        |  SELECT b.vec_id, b.s, c.cid, row_number() OVER (PARTITION BY b.vec_id, b.s
        |    ORDER BY round(list_sum(list_transform(range(1, 9),
        |      i -> (b.sv[i] - c.cv[i]) * (b.sv[i] - c.cv[i]))), 6), c.cid) AS rk
        |  FROM sub b JOIN c1 c USING (s)) WHERE rk = 1),
        |c2d AS (SELECT a.s, a.cid, i.i AS d, round(avg(b.sv[i.i]), 6) AS m
        |  FROM a2 a JOIN sub b USING (vec_id, s), range(1, 9) i(i)
        |  GROUP BY a.s, a.cid, i.i),
        |c2 AS (SELECT s, cid, list(m ORDER BY d) AS cv FROM c2d GROUP BY s, cid),
        |enc AS (SELECT vec_id, s, cid FROM (
        |  SELECT b.vec_id, b.s, c.cid, row_number() OVER (PARTITION BY b.vec_id, b.s
        |    ORDER BY round(list_sum(list_transform(range(1, 9),
        |      i -> (b.sv[i] - c.cv[i]) * (b.sv[i] - c.cv[i]))), 6), c.cid) AS rk
        |  FROM sub b JOIN c2 c USING (s)) WHERE rk = 1),
        |q AS (SELECT vec_id AS qid, s, sv FROM sub WHERE vec_id < 5),
        |dt AS (SELECT q.qid, q.s, c.cid,
        |  CAST(round(list_sum(list_transform(range(1, 9),
        |    i -> (q.sv[i] - c.cv[i]) * (q.sv[i] - c.cv[i]))) * 1e6) AS BIGINT) AS du
        |  FROM q JOIN c2 c USING (s))""".stripMargin

  val toksCte =
    "WITH toks AS (SELECT doc_id, text, string_split(lower(text), ' ') AS t FROM documents)"
  val shinglesCte =
    toksCte + """,
      |sh AS (SELECT doc_id, CASE WHEN len(t) < 3 THEN [] ELSE
      |  list_distinct([t[i]||' '||t[i+1]||' '||t[i+2] FOR i IN range(1, len(t)-1)]) END AS s
      |  FROM toks)""".stripMargin

  /** MinHash(32 seeds) + 16×2 LSH banding + exact-Jaccard verification as a
    * CTE chain ending in `vpairs(doc_a, doc_b, j)` — shared by the pair
    * listing and the transitive-closure cluster keep. */
  val minhashPairCtes =
    (shinglesCte + """,
      |seeds AS (
      | SELECT r.range AS seed,
      |  ('0x'||substr(md5('mh:a:'||r.range), 1, 15))::UBIGINT % 1073741823 + 1 AS ak,
      |  ('0x'||substr(md5('mh:b:'||r.range), 1, 15))::UBIGINT % 1073741823 + 1 AS ck,
      |  ('0x'||substr(md5('mh:c:'||r.range), 1, 15))::UBIGINT % 2305843009213693951 AS dk
      | FROM range(32) r),
      |tokh AS (
      | SELECT doc_id, b >> 30 AS hi, b & 1073741823 AS lo FROM
      |  (SELECT doc_id, ('0x'||substr(md5(sg), 1, 15))::UBIGINT AS b
      |   FROM (SELECT doc_id, unnest(s) AS sg FROM sh))),
      |mh AS (
      | SELECT doc_id, seed,
      |   min((ak * hi + ck * lo + dk) % 2305843009213693951) AS h
      | FROM tokh, seeds GROUP BY doc_id, seed),
      |bands AS (
      | SELECT m1.doc_id, m1.seed // 2 AS band, m1.h AS h1, m2.h AS h2
      | FROM mh m1 JOIN mh m2 ON m1.doc_id = m2.doc_id AND m2.seed = m1.seed + 1
      | WHERE m1.seed % 2 = 0),
      |cand AS (
      | SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      | FROM bands a JOIN bands b
      |   ON a.band = b.band AND a.h1 = b.h1 AND a.h2 = b.h2 AND a.doc_id < b.doc_id),
      |vpairs AS (
      | SELECT doc_a, doc_b, j FROM (
      |  SELECT doc_a, doc_b,
      |   round(len(list_intersect(sa.s, sb.s))::DOUBLE /
      |         (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s))), 4) AS j
      |  FROM cand JOIN sh sa ON sa.doc_id = doc_a JOIN sh sb ON sb.doc_id = doc_b)
      | WHERE j >= 0.5)""").stripMargin

  /** The exact n-gram-Jaccard near-dup pair table (j ≥ 0.5 on 3-shingles)
    * — the oracle twin of Dedup.ngramJaccardPairsShared, shared by the
    * graph suite and the sparse-cosine query. */
  val pairsCte: String = shinglesCte + """,
    |pairs AS (
    | SELECT doc_a, doc_b FROM (
    |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
    |   round(len(list_intersect(a.s, b.s))::DOUBLE /
    |         (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 4) AS j
    |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id) WHERE j >= 0.5)""".stripMargin

  /** Winnowing fingerprint chain (k=5 grams, w=4 windows, 31-polynomial
    * hash) shared by q_fingerprint_winnow and q_dedup_winnow_pairs. */
  val winnowCtes: String =
    toksCte + """,
      |g AS (SELECT doc_id,
      |  CASE WHEN len(t) < 5 THEN []::VARCHAR[]
      |       ELSE list_transform(range(1, len(t) - 3), i -> array_to_string(t[i:i+4], ' ')) END AS g5
      | FROM toks),
      |h AS (SELECT doc_id, g5, list_transform(g5, gr ->
      |   list_reduce(list_prepend(0::BIGINT,
      |     list_transform(range(1, length(gr) + 1), i -> ascii(gr[i])::BIGINT)),
      |     (acc, c) -> (acc * 31 + c) % 1000000007)) AS hs
      | FROM g),
      |sel AS (SELECT doc_id, g5,
      |  CASE WHEN len(hs) = 0 THEN []::BIGINT[]
      |       ELSE list_transform(range(1, greatest(len(hs) - 3, 1) + 1),
      |              j -> list_min(hs[j:j+3])) END AS s
      | FROM h)""".stripMargin

  /** Planted web-line fixture (WebPipeline.linesDf's oracle twin): 8-token
    * chunk lines decorated per (doc, line) md5 draw, page-level lorem-ipsum
    * / curly-brace poison lines — shared by q_c4_filter and q_dedup_lines. */
  val webLinesCtes: String =
    """WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS t,
      |  greatest(CAST(ceil(len(string_split(lower(text), ' ')) / 8.0) AS INT), 1) AS nl
      | FROM documents),
      |l1 AS (SELECT doc_id,
      |  list_transform(range(0, nl), i ->
      |    CASE ('0x'||substr(md5('ln:'||doc_id||':'||i), 1, 15))::UBIGINT % 20
      |      WHEN 0 THEN 'subscribe to our newsletter for the latest updates'
      |      WHEN 1 THEN 'please enable javascript to view this site.'
      |      WHEN 2 THEN array_to_string(t[i*8+1:i*8+8], ' ')
      |      WHEN 3 THEN array_to_string(t[i*8+1:i*8+2], ' ') || '.'
      |      ELSE array_to_string(t[i*8+1:i*8+8], ' ') || '.'
      |    END) AS lines0,
      |  ('0x'||substr(md5('doc:'||doc_id), 1, 15))::UBIGINT % 25 AS pg
      | FROM d),
      |lns AS (SELECT doc_id,
      |  CASE WHEN pg = 0 THEN list_append(lines0, 'lorem ipsum dolor sit amet.')
      |       WHEN pg = 1 THEN list_append(lines0, 'function() { return 0; }')
      |       ELSE lines0 END AS lines
      | FROM l1)""".stripMargin

  /** The deterministic 2-round Lloyd fit (k=8, init = vec_id<8, centroids
    * rounded to 6 per dim) ending in the final assignment CTE `asg` —
    * shared by q_ann_kmeans and q_semdedup. */
  private val kmeansCtes: String = kmeansCtesOn(
    "SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings")

  /** The same Lloyd unrolling over an arbitrary (vec_id, v) source — the
    * ML-pipeline oracle plugs the int8-quantized vectors in here. */
  def kmeansCtesOn(embSelect: String): String =
    s"""WITH emb AS ($embSelect),""".stripMargin + """
      |c0 AS (SELECT CAST(vec_id AS INT) AS cid, v AS cv FROM emb WHERE vec_id < 8),
      |a1 AS (SELECT vec_id, cid FROM (
      |  SELECT e.vec_id, c.cid, row_number() OVER (PARTITION BY e.vec_id ORDER BY
      |    round(list_dot_product(e.v, c.cv) /
      |      (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))), 6) DESC,
      |    c.cid) AS rk
      |  FROM emb e, c0 c) WHERE rk = 1),
      |c1d AS (SELECT a1.cid, i.i AS d, round(avg(e.v[i.i]), 6) AS m
      |  FROM a1 JOIN emb e USING (vec_id), range(1, 65) i(i) GROUP BY a1.cid, i.i),
      |c1 AS (SELECT cid, list(m ORDER BY d) AS cv FROM c1d GROUP BY cid),
      |a2 AS (SELECT vec_id, cid FROM (
      |  SELECT e.vec_id, c.cid, row_number() OVER (PARTITION BY e.vec_id ORDER BY
      |    round(list_dot_product(e.v, c.cv) /
      |      (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))), 6) DESC,
      |    c.cid) AS rk
      |  FROM emb e, c1 c) WHERE rk = 1),
      |c2d AS (SELECT a2.cid, i.i AS d, round(avg(e.v[i.i]), 6) AS m
      |  FROM a2 JOIN emb e USING (vec_id), range(1, 65) i(i) GROUP BY a2.cid, i.i),
      |c2 AS (SELECT cid, list(m ORDER BY d) AS cv FROM c2d GROUP BY cid),
      |asg AS (SELECT vec_id, cid FROM (
      |  SELECT e.vec_id, c.cid, row_number() OVER (PARTITION BY e.vec_id ORDER BY
      |    round(list_dot_product(e.v, c.cv) /
      |      (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))), 6) DESC,
      |    c.cid) AS rk
      |  FROM emb e, c2 c) WHERE rk = 1)""".stripMargin

  /** aHash-60 over the media universe (docs + planted re-encode variants)
    * as a CTE chain ending in `ph(doc_a, doc_b)` — the verified Hamming ≤ 3
    * perceptual pair set, shared by the pair listing and the keep-set. */
  private val phashPairCtes: String =
    """WITH d0 AS (SELECT doc_id, text FROM documents),
      |mu AS (SELECT doc_id, text FROM d0
      |      UNION ALL SELECT doc_id + 3000000, 'xxxxxxxx' || substr(text, 9)
      |      FROM d0 WHERE ('0x'||substr(md5('mv:'||doc_id),1,15))::UBIGINT % 5 = 0),
      |b AS (SELECT doc_id, [ascii(c) FOR c IN string_split(text, '')] AS by,
      |        length(text) AS n FROM mu),
      |px AS (SELECT doc_id, [CASE WHEN ((i+1)*n)//60 > (i*n)//60
      |         THEN list_sum(by[(i*n)//60 + 1 : ((i+1)*n)//60]) // (((i+1)*n)//60 - (i*n)//60)
      |         ELSE 0 END FOR i IN range(0, 60)] AS px FROM b),
      |h AS (SELECT doc_id, list_sum([CASE WHEN px[i+1] > list_sum(px)//60
      |        THEN 1::BIGINT << i ELSE 0::BIGINT END FOR i IN range(0, 60)]) AS ah
      |      FROM px),
      |ph AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |        CAST(bit_count(xor(a.ah, b.ah)) AS INT) AS hamming
      |       FROM h a JOIN h b ON a.doc_id < b.doc_id
      |       WHERE bit_count(xor(a.ah, b.ah)) <= 3)""".stripMargin

  val queries: Seq[Query] = Seq(
    Query("q_corpus_datasheet", TextAnalysis.corpusDatasheet,
      """WITH d AS (SELECT source, lang, n_chars,
        |  len(string_split(lower(text), ' ')) AS n_toks FROM documents)
        |SELECT source, lang,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_toks) AS BIGINT) AS n_tokens,
        |  round(avg(n_toks), 2) AS avg_tokens,
        |  CAST(sum(n_chars) AS BIGINT) AS n_chars,
        |  CAST(sum(CASE WHEN n_toks < 60 THEN 1 ELSE 0 END) AS BIGINT) AS n_short,
        |  CAST(GROUPING(source, lang) AS BIGINT) AS gid
        |FROM d GROUP BY ROLLUP (source, lang)
        |ORDER BY gid, source NULLS FIRST, lang NULLS FIRST""".stripMargin),
    Query("q_text_stats", TextAnalysis.stats,
      (toksCte + """
        |SELECT doc_id,
        | CAST(len(t) AS INT) AS n_tokens,
        | CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS INT) AS n_tokens_re,
        | CAST(length(text) AS INT) AS n_chars_m,
        | round(list_sum(list_transform(t, x -> length(x)))::DOUBLE / len(t), 6) AS avg_tok_len,
        | round(len(list_filter(t, x -> list_contains(""" + stopEnSql + """, x)))::DOUBLE / len(t), 6) AS stop_ratio,
        | round((length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))::DOUBLE / length(text), 6) AS punct_ratio,
        | md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp_md5,
        | list_reduce(list_prepend(0::BIGINT,
        |   list_transform(range(1, length(text)+1), i -> ascii(text[i])::BIGINT)),
        |   (acc, c) -> (acc * 31 + c) % 1000000007) AS fp_roll
        |FROM toks ORDER BY doc_id""").stripMargin),
    Query("q_text_langid", TextAnalysis.langId,
      (toksCte + """,
        |sc AS (SELECT doc_id,
        | CAST(len(list_intersect(list_distinct(t), """ + stopEnSql + """)) AS INT) AS s_en,
        | CAST(len(list_intersect(list_distinct(t), ['der','die','das','und','ist','nicht','mit','ein','zu','den'])) AS INT) AS s_de,
        | CAST(len(list_intersect(list_distinct(t), ['le','la','les','et','est','un','une','dans','que','pour'])) AS INT) AS s_fr,
        | CAST(len(list_intersect(list_distinct(t), ['el','los','y','es','en','una','lo','como','mas','por'])) AS INT) AS s_es
        | FROM toks)
        |SELECT doc_id, s_en, s_de, s_fr, s_es,
        | CASE WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
        |      WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
        |      WHEN s_fr >= s_es THEN 'fr' ELSE 'es' END AS lang_pred
        |FROM sc ORDER BY doc_id""").stripMargin),
    Query("q_dedup_exact", Dedup.exact,
      """SELECT keep_id, n_copies FROM (
        | SELECT md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp,
        |        min(doc_id) AS keep_id, count(*) AS n_copies
        | FROM (SELECT doc_id, text FROM documents
        |       UNION ALL SELECT doc_id + 1000000, text FROM documents)
        | GROUP BY fp) ORDER BY keep_id""".stripMargin),
    // Bloom probe replay: identical md5-derived Kirsch–Mitzenmacher
    // positions; membership of all 4 probe positions in the lake's set-bit
    // SET is exactly the bitmap test (false positives reproduce too).
    // q_stream_bloom shares the text verbatim: the streaming bit_or fold
    // must produce the bit-identical bitmap (commutative/associative OR)
    Query("q_dedup_bloom", Dedup.bloomDedup, bloomSql),
    Query("q_stream_bloom", StreamBloom.bloomStreamDedup, bloomSql),
    // sketch-sized bloom: the HLL measurement, the next-pow2 sizing
    // decision (integer bit length) and every filter bit replay exactly
    Query("q_dedup_bloom_sized", Dedup.bloomSizedDedup,
      """WITH fps AS (SELECT doc_id,
        |  md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp FROM documents),
        |lake AS (SELECT doc_id, fp FROM fps WHERE doc_id % 3 = 0),
        |off AS (SELECT CAST(pow(10, length(CAST(max(doc_id) AS VARCHAR))) AS BIGINT) AS o FROM fps),
        |shard AS (SELECT doc_id, fp FROM fps WHERE doc_id % 3 <> 0
        |  UNION ALL SELECT doc_id + (SELECT o FROM off), fp FROM lake WHERE doc_id % 2 = 0),
        |hh AS (SELECT ('0x'||substr(md5('bf:'||fp),1,15))::UBIGINT::BIGINT AS h FROM lake),
        |rr AS (SELECT h & 255 AS bucket,
        |   CASE WHEN (h >> 8) = 0 THEN 53
        |        ELSE CAST(round(log2((h >> 8) & (-(h >> 8)))) AS INT) + 1 END AS rho
        |  FROM hh),
        |regs AS (SELECT bucket, max(rho) AS r FROM rr GROUP BY bucket),
        |agg AS (SELECT CAST(256 - count(*) AS INT) AS zero_regs,
        |   coalesce(sum(1::BIGINT << (54 - r)), 0) AS sp FROM regs),
        |est AS (SELECT CAST(round(CASE WHEN zero_regs > 0 AND
        |     (0.7213/(1.0 + 1.079/256.0)) * 65536.0 * 18014398509481984.0
        |       / (sp + zero_regs::BIGINT * (1::BIGINT << 54)) <= 640.0
        |   THEN 256.0 * ln(256.0 / zero_regs)
        |   ELSE (0.7213/(1.0 + 1.079/256.0)) * 65536.0 * 18014398509481984.0
        |       / (sp + zero_regs::BIGINT * (1::BIGINT << 54)) END) AS BIGINT) AS e
        |  FROM agg),
        |mm AS (SELECT 1::BIGINT << len(bin(greatest(16*e, 1024) - 1)) AS m FROM est),
        |lpos AS (SELECT DISTINCT
        |    ((b & 1073741823) + i.range * (b >> 30)) % (SELECT m FROM mm) AS p
        |  FROM (SELECT ('0x'||substr(fp, 1, 15))::UBIGINT AS b FROM lake), range(4) i),
        |spos AS (SELECT doc_id,
        |    ((b & 1073741823) + i.range * (b >> 30)) % (SELECT m FROM mm) AS p
        |  FROM (SELECT doc_id, ('0x'||substr(fp, 1, 15))::UBIGINT AS b FROM shard),
        |       range(4) i),
        |flag AS (SELECT s.doc_id, count(l.p) = 4 AS bloom_dup
        |  FROM spos s LEFT JOIN lpos l USING (p) GROUP BY s.doc_id)
        |SELECT d.doc_id, f.bloom_dup,
        |  (d.fp IN (SELECT fp FROM lake)) AS exact_dup,
        |  (SELECT m FROM mm) AS m_bits
        |FROM shard d JOIN flag f USING (doc_id) ORDER BY d.doc_id""".stripMargin),
    Query("q_text_repetition", TextAnalysis.repetition,
      (toksCte + """,
        |g AS (SELECT doc_id, len(t) AS n_tokens,
        |  CASE WHEN len(t) < 2 THEN []::VARCHAR[]
        |       ELSE list_transform(range(1, len(t)), i -> array_to_string(t[i:i+1], ' ')) END AS g2,
        |  CASE WHEN len(t) < 3 THEN []::VARCHAR[]
        |       ELSE list_transform(range(1, len(t)-1), i -> array_to_string(t[i:i+2], ' ')) END AS g3
        |FROM toks)
        |SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens,
        | CASE WHEN len(g2) = 0 THEN 0.0
        |      ELSE round(1.0 - len(list_distinct(g2))::DOUBLE / len(g2), 6) END AS dup2_frac,
        | CASE WHEN len(g3) = 0 THEN 0.0
        |      ELSE round(1.0 - len(list_distinct(g3))::DOUBLE / len(g3), 6) END AS dup3_frac
        |FROM g ORDER BY doc_id""").stripMargin),
    Query("q_quality_gopher", TextAnalysis.gopherQuality,
      (toksCte + """,
        |g AS (SELECT doc_id,
        |  list_transform(range(1, len(t) + 1), j ->
        |    CASE WHEN ('0x'||substr(md5('gs:'||doc_id||':'||j),1,15))::UBIGINT % 40 = 0
        |         THEN '####' ELSE t[j] END) AS t2,
        |  greatest(CAST(ceil(len(t) / 8.0) AS INT), 1) AS nl
        | FROM toks),
        |m AS (SELECT doc_id, len(t2) AS n_words,
        |  round(list_sum(list_transform(t2, x -> len(x)))::DOUBLE / len(t2), 6) AS mean_word_len,
        |  round(len(list_filter(t2, x -> regexp_matches(x, '[a-z]')))::DOUBLE / len(t2), 6) AS alpha_frac,
        |  round(len(list_filter(t2, x -> x = '####'))::DOUBLE / len(t2), 6) AS sym_ratio,
        |  round(len(list_filter(range(0, nl), i ->
        |    ('0x'||substr(md5('gl:'||doc_id||':'||i),1,15))::UBIGINT % 10 = 0))::DOUBLE / nl, 6) AS frac_bullet,
        |  round(len(list_filter(range(0, nl), i ->
        |    ('0x'||substr(md5('gl:'||doc_id||':'||i),1,15))::UBIGINT % 10 = 1))::DOUBLE / nl, 6) AS frac_ellipsis,
        |  len(list_intersect(list_distinct(t2),
        |    ['the','a','of','to','and','in','is','it','that','as'])) AS n_stop
        | FROM g)
        |SELECT doc_id, CAST(n_words AS INT) AS n_words, mean_word_len, alpha_frac,
        |  sym_ratio, frac_bullet, frac_ellipsis, CAST(n_stop AS INT) AS n_stop,
        |  (n_words BETWEEN 50 AND 100000 AND mean_word_len BETWEEN 3.0 AND 10.0
        |   AND sym_ratio <= 0.1 AND frac_bullet <= 0.9 AND frac_ellipsis <= 0.3
        |   AND alpha_frac >= 0.8 AND n_stop >= 2) AS keep
        |FROM m ORDER BY doc_id""").stripMargin),
    Query("q_quality_perplexity", TextAnalysis.perplexity,
      (toksCte + """,
        |tok AS (SELECT doc_id, unnest(t) AS tok FROM toks),
        |cnt AS (SELECT tok, count(*) AS c FROM tok GROUP BY tok),
        |mdl AS (SELECT (SELECT CAST(sum(c) AS BIGINT) FROM cnt)
        |             + (SELECT count(*) FROM cnt) AS nv),
        |cost AS (SELECT tok,
        |  CAST(round(-ln((c + 1) / (SELECT nv FROM mdl)::DOUBLE) * 1e6) AS BIGINT) AS u
        | FROM cnt),
        |d AS (SELECT t.doc_id, count(*) AS n_tok, sum(u) AS su
        |  FROM tok t JOIN cost USING (tok) GROUP BY t.doc_id)
        |SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok,
        | CAST(su // n_tok AS BIGINT) AS nats_u,
        | (su // n_tok) <= 3405000 AS keep
        |FROM d ORDER BY doc_id""").stripMargin),
    // CCNet head/middle/tail: per-language perplexity terciles over the
    // same micro-nat column; ntile over (nats_u, doc_id) is deterministic
    Query("q_quality_ccnet_buckets", TextAnalysis.ccnetBuckets,
      (toksCte + """,
        |tok AS (SELECT doc_id, unnest(t) AS tok FROM toks),
        |cnt AS (SELECT tok, count(*) AS c FROM tok GROUP BY tok),
        |mdl AS (SELECT (SELECT CAST(sum(c) AS BIGINT) FROM cnt)
        |             + (SELECT count(*) FROM cnt) AS nv),
        |cost AS (SELECT tok,
        |  CAST(round(-ln((c + 1) / (SELECT nv FROM mdl)::DOUBLE) * 1e6) AS BIGINT) AS u
        | FROM cnt),
        |d AS (SELECT t.doc_id, CAST(sum(u) // count(*) AS BIGINT) AS nats_u
        |  FROM tok t JOIN cost USING (tok) GROUP BY t.doc_id)
        |SELECT d.doc_id, l.lang, d.nats_u,
        |  CASE ntile(3) OVER (PARTITION BY l.lang ORDER BY d.nats_u, d.doc_id)
        |    WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket
        |FROM d JOIN (SELECT doc_id, lang FROM documents) l USING (doc_id)
        |ORDER BY doc_id""").stripMargin),
    // sketch-threshold tercile twin (r13): the same nats_u per document,
    // split by HDR-cell thresholds instead of ntile — pure integer cell
    // math, bit-replayable on both engines
    Query("q_quality_ccnet_sketch", TextAnalysis.ccnetBucketsSketch,
      (toksCte + """,
        |tok AS (SELECT doc_id, unnest(t) AS tok FROM toks),
        |cnt AS (SELECT tok, count(*) AS c FROM tok GROUP BY tok),
        |mdl AS (SELECT (SELECT CAST(sum(c) AS BIGINT) FROM cnt)
        |             + (SELECT count(*) FROM cnt) AS nv),
        |cost AS (SELECT tok,
        |  CAST(round(-ln((c + 1) / (SELECT nv FROM mdl)::DOUBLE) * 1e6) AS BIGINT) AS u
        | FROM cnt),
        |d AS (SELECT t.doc_id, CAST(sum(u) // count(*) AS BIGINT) AS nats_u
        |  FROM tok t JOIN cost USING (tok) GROUP BY t.doc_id),
        |dl AS (SELECT d.doc_id, l.lang, d.nats_u,
        |  (length(bin(d.nats_u)) - 1) * 16384
        |  + ((d.nats_u >> greatest(length(bin(d.nats_u)) - 15, 0)) & 16383) AS cell
        | FROM d JOIN (SELECT doc_id, lang FROM documents) l USING (doc_id)),
        |h AS (SELECT lang, cell, count(*) AS cnt2 FROM dl GROUP BY lang, cell),
        |c2 AS (SELECT lang, cell, sum(cnt2) OVER (PARTITION BY lang ORDER BY cell) AS cum FROM h),
        |nn AS (SELECT lang, count(*) AS n FROM dl GROUP BY lang),
        |thr AS (SELECT c2.lang,
        |   min(CASE WHEN c2.cum >= CAST(ceil(nn.n / 3.0) AS BIGINT) THEN c2.cell END) AS b1,
        |   min(CASE WHEN c2.cum >= CAST(ceil(2 * nn.n / 3.0) AS BIGINT) THEN c2.cell END) AS b2
        |  FROM c2 JOIN nn USING (lang) GROUP BY c2.lang)
        |SELECT dl.doc_id, dl.lang, dl.nats_u,
        |  CASE WHEN dl.cell <= thr.b1 THEN 'head'
        |       WHEN dl.cell <= thr.b2 THEN 'middle' ELSE 'tail' END AS bucket
        |FROM dl JOIN thr USING (lang)
        |ORDER BY dl.doc_id""").stripMargin),
    // conditional bigram LM: same micro-nat quantization discipline, cost
    // −ln((c(w1,w2)+1)/(c(w1)+V)) per bigram event
    Query("q_quality_bigram_lm", TextAnalysis.bigramPerplexity,
      (toksCte + """,
        |docs AS (SELECT doc_id, t FROM toks WHERE len(t) >= 2),
        |bi AS (SELECT doc_id,
        |  unnest([t[i] FOR i IN range(1, len(t))]) AS w1,
        |  unnest([t[i+1] FOR i IN range(1, len(t))]) AS w2 FROM docs),
        |uni AS (SELECT w1, count(*) AS cprev
        |  FROM (SELECT unnest(t) AS w1 FROM docs) GROUP BY w1),
        |vv AS (SELECT greatest(count(*), 1) AS v FROM uni),
        |mdl AS (SELECT w1, w2,
        |  CAST(round(-ln((cb + 1) / (cprev + (SELECT v FROM vv))::DOUBLE) * 1e6)
        |       AS BIGINT) AS u
        |  FROM (SELECT w1, w2, count(*) AS cb FROM bi GROUP BY w1, w2)
        |  JOIN uni USING (w1)),
        |d AS (SELECT b.doc_id, count(*) AS n_big, sum(u) AS su
        |  FROM bi b JOIN mdl USING (w1, w2) GROUP BY b.doc_id)
        |SELECT doc_id, CAST(n_big AS BIGINT) AS n_big,
        | CAST(su // n_big AS BIGINT) AS nats_u,
        | (su // n_big) <= 3422000 AS keep
        |FROM d ORDER BY doc_id""").stripMargin),
    Query("q_fingerprint_winnow", TextAnalysis.winnowFingerprint,
      (winnowCtes + """
        |SELECT doc_id, CAST(len(g5) AS INT) AS n_grams,
        | CAST(len(list_distinct(s)) AS INT) AS n_fp,
        | array_to_string(list_sort(list_distinct(s)), ',') AS fp
        |FROM sel ORDER BY doc_id""").stripMargin),
    Query("q_dedup_winnow_pairs", TextAnalysis.winnowDupPairs,
      (winnowCtes + """,
        |sets AS (SELECT doc_id, list_sort(list_distinct(s)) AS fps FROM sel),
        |post AS (SELECT doc_id, unnest(fps) AS hsh FROM sets),
        |freq AS (SELECT hsh, count(*) AS df FROM post GROUP BY hsh),
        |cap AS (SELECT p.doc_id, p.hsh FROM post p
        |  JOIN freq f ON f.hsh = p.hsh AND f.df <= 64),
        |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM cap a JOIN cap b ON a.hsh = b.hsh AND a.doc_id < b.doc_id)
        |SELECT doc_a, doc_b, j FROM (
        | SELECT doc_a, doc_b,
        |  round(len(list_intersect(x.fps, y.fps))::DOUBLE /
        |    (len(x.fps) + len(y.fps) - len(list_intersect(x.fps, y.fps))), 4) AS j
        | FROM cand JOIN sets x ON x.doc_id = doc_a JOIN sets y ON y.doc_id = doc_b)
        |WHERE j >= 0.5 ORDER BY doc_a, doc_b""").stripMargin),
    Query("q_tfidf_top3", TextAnalysis.tfidfTop3,
      (toksCte + """,
        |tok AS (SELECT doc_id, unnest(t) AS token FROM toks),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY doc_id, token),
        |dfq AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
        |n AS (SELECT count(*) AS n FROM documents),
        |sc AS (SELECT doc_id, token,
        |  CAST(tf * round(ln(n.n / dfq.df::DOUBLE) * 1e6) AS BIGINT) AS skey
        | FROM tf JOIN dfq USING(token) CROSS JOIN n),
        |r AS (SELECT *, row_number() OVER
        |  (PARTITION BY doc_id ORDER BY skey DESC, token) AS rnk FROM sc)
        |SELECT doc_id, CAST(rnk AS INT) AS rnk, token,
        | round(skey / 1000000.0, 4) AS score
        |FROM r WHERE rnk <= 3 ORDER BY doc_id, rnk""").stripMargin),
    Query("q_decontaminate", Pipeline.decontaminate,
      """WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents),
        |g AS (SELECT doc_id, array_to_string(ws[i:i+12], ' ') AS gram
        |      FROM w, unnest(range(1, greatest(len(ws) - 11, 1))) t(i)),
        |b AS (SELECT DISTINCT gram FROM g WHERE doc_id % 5 = 0)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits
        |FROM g WHERE doc_id % 5 <> 0 AND gram IN (SELECT gram FROM b)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    Query("q_sample_stratified", Pipeline.stratifiedSample,
      (toksCte + """,
        |sc AS (SELECT doc_id,
        | CAST(len(list_intersect(list_distinct(t), """ + stopEnSql + """)) AS INT) AS s_en,
        | CAST(len(list_intersect(list_distinct(t), ['der','die','das','und','ist','nicht','mit','ein','zu','den'])) AS INT) AS s_de,
        | CAST(len(list_intersect(list_distinct(t), ['le','la','les','et','est','un','une','dans','que','pour'])) AS INT) AS s_fr,
        | CAST(len(list_intersect(list_distinct(t), ['el','los','y','es','en','una','lo','como','mas','por'])) AS INT) AS s_es
        | FROM toks),
        |lang AS (SELECT doc_id,
        | CASE WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
        |      WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
        |      WHEN s_fr >= s_es THEN 'fr' ELSE 'es' END AS lang_pred
        | FROM sc)
        |SELECT doc_id, lang_pred, bucket FROM (
        | SELECT doc_id, lang_pred,
        |  CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT % 100 AS BIGINT) AS bucket
        | FROM lang)
        |WHERE bucket < CASE lang_pred WHEN 'en' THEN 60 WHEN 'de' THEN 40
        |                              WHEN 'fr' THEN 30 ELSE 20 END
        |ORDER BY doc_id""").stripMargin),
    Query("q_dedup_span", Dedup.spanDupCoverage,
      """WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents),
        |g AS (SELECT doc_id, array_to_string(ws[i:i+12], ' ') AS gram
        |      FROM w, unnest(range(1, greatest(len(ws) - 11, 1))) t(i)),
        |d AS (SELECT gram FROM (
        |        SELECT gram, count(DISTINCT doc_id) AS dd FROM g GROUP BY gram)
        |      WHERE dd >= 2)
        |SELECT doc_id,
        | CAST(count(*) AS BIGINT) AS total_ngrams,
        | CAST(coalesce(sum(CASE WHEN gram IN (SELECT gram FROM d) THEN 1 ELSE 0 END), 0) AS BIGINT) AS dup_ngrams,
        | round(coalesce(sum(CASE WHEN gram IN (SELECT gram FROM d) THEN 1 ELSE 0 END), 0)::DOUBLE / count(*), 4) AS dup_frac
        |FROM g GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    // exact-substring removal: same gram index; token j survives iff no
    // duplicate 13-gram window [i, i+12] covers it; fingerprint of the
    // kept sequence proves the EDIT matches, not just the counts
    Query("q_dedup_span_strip", Dedup.spanStrip,
      """WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents),
        |g AS (SELECT doc_id, i, array_to_string(ws[i:i+12], ' ') AS gram
        |      FROM w, unnest(range(1, greatest(len(ws) - 11, 1))) t(i)),
        |d AS (SELECT gram FROM (
        |        SELECT gram, count(DISTINCT doc_id) AS dd FROM g GROUP BY gram)
        |      WHERE dd >= 2),
        |st AS (SELECT doc_id, i FROM g WHERE gram IN (SELECT gram FROM d)),
        |pos AS (SELECT doc_id, ws, unnest(range(1, len(ws) + 1)) AS j FROM w),
        |k AS (SELECT p.doc_id, p.j, p.ws[p.j] AS tok FROM pos p
        |      WHERE NOT EXISTS (SELECT 1 FROM st
        |        WHERE st.doc_id = p.doc_id
        |          AND p.j BETWEEN st.i AND st.i + 12)),
        |r AS (SELECT doc_id, count(*) AS n_kept,
        |        md5(string_agg(tok, ' ' ORDER BY j)) AS fp FROM k GROUP BY doc_id)
        |SELECT w.doc_id, CAST(len(w.ws) AS INT) AS n_tok,
        | CAST(len(w.ws) - coalesce(r.n_kept, 0) AS INT) AS n_removed,
        | r.fp AS fp_kept
        |FROM w LEFT JOIN r USING (doc_id) ORDER BY w.doc_id""".stripMargin),
    Query("q_dedup_ngram_pairs", Dedup.ngramJaccardPairsSorted,
      (shinglesCte + """
        |SELECT doc_a, doc_b, j FROM (
        | SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  round(len(list_intersect(a.s, b.s))::DOUBLE /
        |        (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 4) AS j
        | FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
        |WHERE j >= 0.5 ORDER BY doc_a, doc_b""").stripMargin),
    Query("q_dedup_ngram_keep", Dedup.ngramDedupKeep,
      (shinglesCte + """,
        |pairs AS (
        | SELECT doc_a, doc_b FROM (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |   round(len(list_intersect(a.s, b.s))::DOUBLE /
        |         (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 4) AS j
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id) WHERE j >= 0.5)
        |SELECT doc_id FROM documents
        |WHERE doc_id NOT IN (SELECT doc_b FROM pairs)
        |ORDER BY doc_id""").stripMargin),
    Query("q_dedup_minhash_lsh", Dedup.minhashLshPairs,
      (minhashPairCtes + "\nSELECT doc_a, doc_b, j FROM vpairs ORDER BY doc_a, doc_b")),
    // transitive closure over the SAME verified pair set: recursive
    // reachability (the pair graph is tiny — closure cost is per-cluster
    // quadratic in near-dup cluster size, not corpus size), then keep every
    // doc that no smaller doc_id can reach
    Query("q_dedup_cluster_keep", Dedup.minhashClusterKeep,
      (minhashPairCtes.replaceFirst("WITH ", "WITH RECURSIVE ") + """,
        |edges AS (SELECT doc_a AS u, doc_b AS v FROM vpairs
        |          UNION SELECT doc_b, doc_a FROM vpairs),
        |reach AS (SELECT u, v FROM edges
        |          UNION SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
        |lbl AS (SELECT u, min(v) AS mv FROM reach GROUP BY u)
        |SELECT doc_id FROM documents
        |WHERE doc_id NOT IN (SELECT u FROM lbl WHERE mv < u)
        |ORDER BY doc_id""").stripMargin),
    // leakage-safe split: rep = component minimum (same reach derivation),
    // split key = md5(rep) bucket — clusters move together
    Query("q_split_leakage", Dedup.leakageSafeSplit,
      (minhashPairCtes.replaceFirst("WITH ", "WITH RECURSIVE ") + """,
        |edges AS (SELECT doc_a AS u, doc_b AS v FROM vpairs
        |          UNION SELECT doc_b, doc_a FROM vpairs),
        |reach AS (SELECT u, v FROM edges
        |          UNION SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
        |lbl AS (SELECT u, min(v) AS mv FROM reach GROUP BY u),
        |rep AS (SELECT d.doc_id,
        |   least(d.doc_id, coalesce(l.mv, d.doc_id)) AS rep
        |  FROM documents d LEFT JOIN lbl l ON l.u = d.doc_id),
        |sp AS (SELECT doc_id, rep,
        |   ('0x' || substr(md5(rep::VARCHAR), 1, 8))::UBIGINT % 10 AS b FROM rep)
        |SELECT doc_id, rep,
        |  CASE WHEN b <= 7 THEN 'train' WHEN b = 8 THEN 'val' ELSE 'test' END AS split
        |FROM sp ORDER BY doc_id""").stripMargin),
    Query("q_dedup_simhash", Dedup.simhashPairs,
      (toksCte + """,
        |th AS (SELECT doc_id, ('0x'||substr(md5(tok), 1, 15))::UBIGINT AS h
        |       FROM (SELECT doc_id, unnest(t) AS tok FROM toks)),
        |bits AS (
        | SELECT doc_id, b.b AS bit,
        |   sum(CASE WHEN (h >> b.b) & 1 = 1 THEN 1 ELSE -1 END) AS cnt
        | FROM th, range(60) b(b) GROUP BY doc_id, b.b),
        |sims AS (SELECT doc_id,
        |   CAST(sum(CASE WHEN cnt > 0 THEN (1::UBIGINT << bit) ELSE 0 END) AS BIGINT) AS sim
        | FROM bits GROUP BY doc_id),
        |chunks AS (SELECT doc_id, sim, c.c AS chunk, (sim >> (15 * c.c)) & 32767 AS cv
        | FROM sims, range(4) c(c)),
        |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |   CAST(bit_count(xor(a.sim, b.sim)) AS INT) AS hamming
        | FROM chunks a JOIN chunks b
        |   ON a.chunk = b.chunk AND a.cv = b.cv AND a.doc_id < b.doc_id)
        |SELECT doc_a, doc_b, hamming FROM cand WHERE hamming <= 12
        |ORDER BY doc_a, doc_b""").stripMargin),
    Query("q_ann_brute", Similarity.annBruteForce,
      """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id < 5),
        |scored AS (
        | SELECT qid, e.vec_id,
        |  round(list_dot_product(qv, CAST(e.embedding AS DOUBLE[])) /
        |   (sqrt(list_dot_product(qv, qv)) *
        |    sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))), 6) AS cos
        | FROM embeddings e, q WHERE e.vec_id <> qid),
        |r AS (SELECT qid, vec_id, cos,
        |  CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS INT) AS rank
        | FROM scored)
        |SELECT qid, rank, vec_id, cos FROM r WHERE rank <= 10 ORDER BY qid, rank""".stripMargin),
    Query("q_ann_ivf", Similarity.annIvf,
      """WITH cent AS (
        | SELECT label, i.i AS d, round(avg(embedding[i.i]), 6) AS c
        | FROM embeddings, range(1, 65) i(i) GROUP BY label, i.i),
        |centv AS (SELECT label AS clabel, list(c ORDER BY d) AS cv FROM cent GROUP BY label),
        |q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
        |      FROM embeddings WHERE vec_id < 5),
        |probes AS (
        | SELECT qid, qv, clabel,
        |  CAST(row_number() OVER (PARTITION BY qid ORDER BY ccos DESC, clabel) AS INT) AS crank
        | FROM (SELECT qid, qv, clabel,
        |   round(list_dot_product(qv, cv) /
        |    (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))), 6) AS ccos
        |  FROM q, centv)),
        |sel AS (SELECT qid, qv, clabel FROM probes WHERE crank <= 3),
        |scored AS (
        | SELECT qid, e.vec_id,
        |  round(list_dot_product(qv, CAST(e.embedding AS DOUBLE[])) /
        |   (sqrt(list_dot_product(qv, qv)) *
        |    sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))), 6) AS cos
        | FROM sel JOIN embeddings e ON e.label = sel.clabel AND e.vec_id <> sel.qid),
        |r AS (SELECT qid, vec_id, cos,
        |  CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS INT) AS rank
        | FROM scored)
        |SELECT qid, rank, vec_id, cos FROM r WHERE rank <= 10 ORDER BY qid, rank""".stripMargin),
    // recall@10 of the IVF index vs brute-force ground truth: both CTE
    // chains verbatim from their own oracles, intersected per query
    Query("q_ann_recall", Similarity.annRecall,
      """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id < 5),
        |bscored AS (
        | SELECT qid, e.vec_id,
        |  round(list_dot_product(qv, CAST(e.embedding AS DOUBLE[])) /
        |   (sqrt(list_dot_product(qv, qv)) *
        |    sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))), 6) AS cos
        | FROM embeddings e, q WHERE e.vec_id <> qid),
        |br AS (SELECT qid, vec_id FROM (SELECT qid, vec_id,
        |  row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rank
        | FROM bscored) WHERE rank <= 10),
        |cent AS (
        | SELECT label, i.i AS d, round(avg(embedding[i.i]), 6) AS c
        | FROM embeddings, range(1, 65) i(i) GROUP BY label, i.i),
        |centv AS (SELECT label AS clabel, list(c ORDER BY d) AS cv FROM cent GROUP BY label),
        |probes AS (
        | SELECT qid, qv, clabel,
        |  CAST(row_number() OVER (PARTITION BY qid ORDER BY ccos DESC, clabel) AS INT) AS crank
        | FROM (SELECT qid, qv, clabel,
        |   round(list_dot_product(qv, cv) /
        |    (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))), 6) AS ccos
        |  FROM q, centv)),
        |sel AS (SELECT qid, qv, clabel FROM probes WHERE crank <= 3),
        |iscored AS (
        | SELECT qid, e.vec_id,
        |  round(list_dot_product(qv, CAST(e.embedding AS DOUBLE[])) /
        |   (sqrt(list_dot_product(qv, qv)) *
        |    sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))), 6) AS cos
        | FROM sel JOIN embeddings e ON e.label = sel.clabel AND e.vec_id <> sel.qid),
        |ir AS (SELECT qid, vec_id FROM (SELECT qid, vec_id,
        |  row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rank
        | FROM iscored) WHERE rank <= 10)
        |SELECT b.qid, CAST(count(i.vec_id) AS BIGINT) AS n_hits,
        | round(count(i.vec_id) / CAST(count(*) AS DOUBLE), 2) AS recall_at_10
        |FROM br b LEFT JOIN ir i USING (qid, vec_id)
        |GROUP BY b.qid ORDER BY b.qid""".stripMargin),
    // product quantization: per-subspace L2 codebooks (K=4, 2 Lloyd rounds
    // under the same round-6 discipline as kmeansCtes), encode, then ADC
    // top-10 with integer micro-unit distance sums
    Query("q_ann_pq", Similarity.annPq,
      (pqCtes + """,
        |ad AS (SELECT dt.qid, e.vec_id, CAST(sum(du) AS BIGINT) AS adist_u
        |  FROM enc e JOIN dt ON dt.s = e.s AND dt.cid = e.cid
        |  WHERE e.vec_id <> dt.qid GROUP BY dt.qid, e.vec_id)
        |SELECT qid, CAST(rank AS INT) AS rank, vec_id, adist_u FROM (
        |  SELECT qid, vec_id, adist_u,
        |    row_number() OVER (PARTITION BY qid ORDER BY adist_u, vec_id) AS rank
        |  FROM ad) WHERE rank <= 10 ORDER BY qid, rank""".stripMargin)),
    // IVF-PQ: the probe CTEs from q_ann_ivf prune candidates to 3 cells,
    // the ADC sum scores only the survivors from their codes
    Query("q_ann_ivfpq", Similarity.annIvfPq,
      (pqCtes + """,
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
        |  GROUP BY c.qid, c.vec_id)
        |SELECT qid, CAST(rank AS INT) AS rank, vec_id, adist_u FROM (
        |  SELECT qid, vec_id, adist_u,
        |    row_number() OVER (PARTITION BY qid ORDER BY adist_u, vec_id) AS rank
        |  FROM ad) WHERE rank <= 10 ORDER BY qid, rank""".stripMargin)),
    // recall@10 of the composed IVF-PQ index vs the exact-cosine truth:
    // both the cell miss and the code distortion are charged against it
    Query("q_ann_recall_pq", Similarity.annRecallPq,
      (pqCtes + """,
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
        |ir AS (SELECT qid, vec_id FROM (
        |  SELECT qid, vec_id,
        |    row_number() OVER (PARTITION BY qid ORDER BY adist_u, vec_id) AS rank
        |  FROM ad) WHERE rank <= 10),
        |bscored AS (
        | SELECT qf.qid, e.vec_id,
        |  round(list_dot_product(qv, CAST(e.embedding AS DOUBLE[])) /
        |   (sqrt(list_dot_product(qv, qv)) *
        |    sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))), 6) AS cos
        | FROM embeddings e, qf WHERE e.vec_id <> qf.qid),
        |br AS (SELECT qid, vec_id FROM (SELECT qid, vec_id,
        |  row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rank
        | FROM bscored) WHERE rank <= 10)
        |SELECT b.qid, CAST(count(i.vec_id) AS BIGINT) AS n_hits,
        | round(count(i.vec_id) / CAST(count(*) AS DOUBLE), 2) AS recall_at_10
        |FROM br b LEFT JOIN ir i USING (qid, vec_id)
        |GROUP BY b.qid ORDER BY b.qid""".stripMargin)),
    Query("q_ann_kmeans", Similarity.annKmeans,
      (kmeansCtes + """
        |SELECT vec_id, cid AS cluster FROM asg ORDER BY vec_id""".stripMargin)),
    Query("q_semdedup", Similarity.semDedup,
      (kmeansCtes + """,
        |sd_pairs AS (SELECT a.vec_id AS va, b.vec_id AS vb
        | FROM asg a JOIN asg b ON a.cid = b.cid AND a.vec_id < b.vec_id
        | JOIN emb ea ON ea.vec_id = a.vec_id
        | JOIN emb eb ON eb.vec_id = b.vec_id
        | WHERE round(list_dot_product(ea.v, eb.v) /
        |   (sqrt(list_dot_product(ea.v, ea.v)) *
        |    sqrt(list_dot_product(eb.v, eb.v))), 6) >= 0.5)
        |SELECT vec_id, cid AS cluster FROM asg
        |WHERE vec_id NOT IN (SELECT vb FROM sd_pairs)
        |ORDER BY vec_id""".stripMargin)),
    Query("q_emb_dedup_keep", Similarity.cosineDedupKeep,
      """WITH pairs AS (
        | SELECT a.vec_id AS va, b.vec_id AS vb,
        |  round(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) /
        |   (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[]))) *
        |    sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))), 6) AS cos
        | FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
        |SELECT vec_id FROM embeddings
        |WHERE vec_id NOT IN (SELECT vb FROM pairs WHERE cos >= 0.5)
        |ORDER BY vec_id""".stripMargin),
    Query("q_ann_cos_pairs", Similarity.cosinePairs,
      """SELECT va, vb, cos FROM (
        | SELECT a.vec_id AS va, b.vec_id AS vb,
        |  round(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) /
        |   (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[]))) *
        |    sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))), 6) AS cos
        | FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
        |WHERE cos >= 0.5 ORDER BY va, vb""".stripMargin),
    Query("q_ann_hyperplane_lsh", Similarity.hyperplaneLshPairs,
      """WITH planes AS (
        | SELECT p.p AS p, d.d AS d,
        |  (('0x'||substr(md5(p.p::VARCHAR||'_'||d.d::VARCHAR), 1, 15))::UBIGINT::DOUBLE
        |    / 1152921504606846976.0) * 2 - 1 AS h
        | FROM range(32) p(p), range(1, 65) d(d)),
        |sig AS (
        | SELECT e.vec_id, pl.p,
        |  CASE WHEN sum(e.embedding[pl.d]::DOUBLE * pl.h) > 0 THEN 1 ELSE 0 END AS bit
        | FROM embeddings e, planes pl GROUP BY e.vec_id, pl.p),
        |tabs AS (SELECT vec_id, p // 4 AS tbl,
        |  CAST(sum(bit * power(2, p % 4)) AS BIGINT) AS tsig
        | FROM sig GROUP BY vec_id, p // 4),
        |cand AS (SELECT DISTINCT a.vec_id AS va, b.vec_id AS vb
        | FROM tabs a JOIN tabs b
        |  ON a.tbl = b.tbl AND a.tsig = b.tsig AND a.vec_id < b.vec_id)
        |SELECT va, vb, cos FROM (
        | SELECT va, vb,
        |  round(list_dot_product(CAST(ea.embedding AS DOUBLE[]), CAST(eb.embedding AS DOUBLE[])) /
        |   (sqrt(list_dot_product(CAST(ea.embedding AS DOUBLE[]), CAST(ea.embedding AS DOUBLE[]))) *
        |    sqrt(list_dot_product(CAST(eb.embedding AS DOUBLE[]), CAST(eb.embedding AS DOUBLE[])))), 6) AS cos
        | FROM cand JOIN embeddings ea ON ea.vec_id = va JOIN embeddings eb ON eb.vec_id = vb)
        |WHERE cos >= 0.4 ORDER BY va, vb""".stripMargin),
    Query("q_mm_resize", Multimodal.resizeStub,
      """WITH m AS (SELECT doc_id, octet_length(encode(text)) AS n FROM documents),
        |d AS (SELECT doc_id, CAST(64 + n % 577 AS INT) AS width,
        |       CAST(64 + (n * 31) % 421 AS INT) AS height FROM m)
        |SELECT doc_id, width, height,
        | CAST(width * 224 // greatest(width, height) AS INT) AS out_w,
        | CAST(height * 224 // greatest(width, height) AS INT) AS out_h
        |FROM d ORDER BY doc_id""".stripMargin),
    Query("q_mm_features", Multimodal.featureStub,
      """WITH x AS (SELECT doc_id, b.b AS band,
        |  len(list_filter(range(1, length(text) + 1), i -> ascii(text[i]) % 8 = b.b)) AS cnt
        | FROM documents, range(8) b(b))
        |SELECT doc_id, array_to_string(list(CAST(cnt AS BIGINT) ORDER BY band), ',') AS features
        |FROM x GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    // perceptual near-dup pairs: brute Hamming replay — completeness proof
    // for the 4x15 banding at threshold 3 (pigeonhole)
    Query("q_mm_phash", Multimodal.phashPairs,
      (phashPairCtes +
        "\nSELECT doc_a, doc_b, hamming FROM ph ORDER BY doc_a, doc_b")),
    // keep-set over the SAME verified perceptual pair set: recursive
    // reachability (the q_dedup_cluster_keep derivation), keep every media
    // doc no smaller doc_id can reach
    Query("q_mm_phash_keep", Multimodal.phashKeep,
      (phashPairCtes.replaceFirst("WITH ", "WITH RECURSIVE ") + """,
        |edges AS (SELECT doc_a AS u, doc_b AS w FROM ph
        |          UNION SELECT doc_b, doc_a FROM ph),
        |reach AS (SELECT u, w FROM edges
        |          UNION SELECT r.u, e.w FROM reach r JOIN edges e ON r.w = e.u),
        |lbl AS (SELECT u, min(w) AS mw FROM reach GROUP BY u)
        |SELECT doc_id FROM mu
        |WHERE doc_id NOT IN (SELECT u FROM lbl WHERE mw < u)
        |ORDER BY doc_id""").stripMargin),
    Query("q_mm_decode", Multimodal.decodeStub,
      """SELECT doc_id,
        | CAST(octet_length(encode(text)) AS INT) AS n_bytes,
        | CAST(64 + octet_length(encode(text)) % 577 AS INT) AS width,
        | CAST(64 + (octet_length(encode(text)) * 31) % 421 AS INT) AS height,
        | CAST(1 + octet_length(encode(text)) % 7 AS INT) AS n_frames
        |FROM documents ORDER BY doc_id""".stripMargin),
    Query("q_mm_frames", Multimodal.frameSample,
      """SELECT doc_id, CAST(f.f AS INT) AS frame_idx,
        | md5(doc_id::VARCHAR||':'||f.f::VARCHAR) AS frame_key
        |FROM (SELECT doc_id, 1 + octet_length(encode(text)) % 7 AS n_frames FROM documents) d,
        |     range(7) f(f)
        |WHERE f.f < n_frames ORDER BY doc_id, frame_idx""".stripMargin),
    Query("q_dedup_incremental", Dedup.incrementalDedup,
      (toksCte + """,
        |s0 AS (SELECT doc_id,
        |  md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp,
        |  CASE WHEN len(t) < 3 THEN [] ELSE
        |    list_distinct([t[i]||' '||t[i+1]||' '||t[i+2] FOR i IN range(1, len(t)-1)]) END AS s
        | FROM toks),
        |inc AS (SELECT doc_id, fp, s FROM s0 WHERE doc_id % 5 = 0
        |  UNION ALL SELECT doc_id + 1000000, fp, s FROM s0 WHERE doc_id % 7 = 1),
        |idx AS (SELECT doc_id, fp, s FROM s0 WHERE doc_id % 5 <> 0),
        |ex AS (SELECT i.doc_id, min(x.doc_id) AS exact_m
        |  FROM inc i JOIN idx x USING (fp) GROUP BY i.doc_id),
        |post AS (SELECT doc_id AS m, unnest(s) AS shingle FROM idx),
        |freq AS (SELECT shingle, count(*) AS df FROM post GROUP BY shingle),
        |postc AS (SELECT m, shingle FROM post JOIN freq USING (shingle) WHERE df <= 128),
        |cand AS (SELECT DISTINCT i.doc_id, p.m FROM
        |  (SELECT doc_id, unnest(s) AS shingle FROM inc) i JOIN postc p USING (shingle)),
        |nr AS (SELECT c.doc_id, min(c.m) AS near_m FROM cand c
        |  JOIN inc a ON a.doc_id = c.doc_id
        |  JOIN idx b ON b.doc_id = c.m
        |  WHERE round(len(list_intersect(a.s, b.s))::DOUBLE /
        |    (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 4) >= 0.5
        |  GROUP BY c.doc_id)
        |SELECT i.doc_id,
        | CASE WHEN e.exact_m IS NOT NULL THEN 'exact_dup'
        |      WHEN n.near_m IS NOT NULL THEN 'near_dup' ELSE 'new' END AS verdict,
        | coalesce(e.exact_m, n.near_m) AS matched
        |FROM inc i LEFT JOIN ex e ON e.doc_id = i.doc_id
        |LEFT JOIN nr n ON n.doc_id = i.doc_id
        |ORDER BY i.doc_id""").stripMargin),
    Query("q_c4_filter", WebPipeline.c4Filter,
      (webLinesCtes + """,
        |k AS (SELECT doc_id, lines,
        |  list_filter(lines, l -> l LIKE '%.' AND len(string_split(l, ' ')) >= 3
        |    AND NOT (l LIKE '%javascript%')) AS kept,
        |  array_to_string(lines, ' ') AS page
        | FROM lns)
        |SELECT doc_id, CAST(len(lines) AS INT) AS n_lines,
        | CAST(len(kept) AS INT) AS n_kept,
        | (len(kept) >= 5 AND NOT page LIKE '%lorem ipsum%'
        |   AND NOT page LIKE '%{%') AS keep_doc,
        | coalesce(array_to_string(kept, ' '), '') AS cleaned
        |FROM k ORDER BY doc_id""").stripMargin),
    Query("q_dedup_lines", WebPipeline.lineDedup,
      (webLinesCtes + """,
        |ex0 AS (SELECT doc_id, unnest(list_transform(range(1, len(lines) + 1),
        |  i -> {'idx': i, 'line': lines[i]})) AS u FROM lns),
        |ex AS (SELECT doc_id, u.idx AS idx, u.line AS line FROM ex0),
        |f AS (SELECT line, count(distinct doc_id) AS nd, min(doc_id) AS first_doc
        |  FROM ex GROUP BY line),
        |j AS (SELECT ex.doc_id, ex.idx, ex.line,
        |  (f.nd = 1 OR ex.doc_id = f.first_doc) AS kept
        | FROM ex JOIN f USING (line))
        |SELECT doc_id, count(*) AS n_lines,
        | CAST(sum(CASE WHEN kept THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped,
        | coalesce(string_agg(CASE WHEN kept THEN line END, ' ' ORDER BY idx), '') AS cleaned
        |FROM j GROUP BY doc_id ORDER BY doc_id""").stripMargin),
    Query("q_dedup_url", WebPipeline.urlDedup,
      """WITH u AS (SELECT doc_id,
        |  ['https://','HTTPS://','Https://'][CAST(('0x'||substr(md5('sc:'||doc_id),1,15))::UBIGINT % 3 AS INT) + 1] ||
        |  ['','www.','WWW.'][CAST(('0x'||substr(md5('w:'||doc_id),1,15))::UBIGINT % 3 AS INT) + 1] ||
        |  'site' || (doc_id % 7) || '.Example.COM' ||
        |  CASE WHEN ('0x'||substr(md5('p:'||doc_id),1,15))::UBIGINT % 4 = 0 THEN ':443' ELSE '' END ||
        |  '/Articles/item' || (doc_id % 53) ||
        |  ['','/','?utm_source=feed','?utm_medium=email&utm_source=feed','?id=9&utm_campaign=x'][CAST(('0x'||substr(md5('q:'||doc_id),1,15))::UBIGINT % 5 AS INT) + 1] ||
        |  CASE WHEN ('0x'||substr(md5('f:'||doc_id),1,15))::UBIGINT % 4 = 0 THEN '#Section-2' ELSE '' END AS url
        | FROM documents),
        |c1 AS (SELECT doc_id, regexp_replace(url, '#.*$', '', 'g') AS u1 FROM u),
        |c2 AS (SELECT doc_id, u1, regexp_extract(u1, '^[a-zA-Z]+://[^/?]*') AS pre FROM c1),
        |c3 AS (SELECT doc_id,
        |  replace(regexp_replace(lower(pre), ':443$', ''), 'https://www.', 'https://') AS pre2,
        |  substr(u1, length(pre) + 1) AS rest FROM c2),
        |c4 AS (SELECT doc_id, pre2,
        |  replace(regexp_replace(regexp_replace(rest, 'utm_[a-z]+=[^&#]*', '', 'g'),
        |    '[?&]+$', ''), '?&', '?') AS r3 FROM c3),
        |c5 AS (SELECT doc_id, pre2 || regexp_replace(r3, '/$', '') AS canon FROM c4)
        |SELECT canon, min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM c5 GROUP BY canon ORDER BY canon""".stripMargin),
    Query("q_quality_classifier", WebPipeline.qualityClassifier,
      (toksCte + """,
        |w AS (SELECT doc_id, CAST(len(t) AS INT) AS n_tok,
        |  coalesce(CAST(list_sum(list_transform(t, tk ->
        |    CAST(('0x'||substr(md5('w:' || CAST(('0x'||substr(md5('b:'||tk),1,15))::UBIGINT % 4096 AS VARCHAR)),1,15))::UBIGINT % 2000001 AS BIGINT) - 1000000
        |  )) AS BIGINT), 0) AS su
        | FROM toks)
        |SELECT doc_id, n_tok, su AS logit_u, su > 0 AS keep
        |FROM w ORDER BY doc_id""").stripMargin),
    // mixed-language halves: planted German second half, per-half langid
    Query("q_text_mixed_lang", TextAnalysis.mixedLang,
      """WITH base AS (SELECT doc_id, text, string_split(lower(text), ' ') AS t0 FROM documents),
        |t2 AS (SELECT doc_id,
        |  CASE WHEN ('0x'||substr(md5('ml:'||doc_id),1,15))::UBIGINT % 6 = 0 THEN
        |    array_to_string(t0[1:(len(t0)+1)//2], ' ') || ' ' ||
        |    array_to_string(
        |      string_split(repeat('der die das und ist nicht mit ein zu den ',
        |        CAST(len(t0)//10 AS INT) + 1), ' ')[1 : len(t0) - (len(t0)+1)//2], ' ')
        |  ELSE text END AS text2 FROM base),
        |tk AS (SELECT doc_id, string_split(lower(text2), ' ') AS t FROM t2),
        |h AS (SELECT doc_id, t[1:(len(t)+1)//2] AS h1,
        |        t[(len(t)+1)//2 + 1 : len(t)] AS h2 FROM tk),
        |sc AS (SELECT doc_id,
        | len(list_intersect(list_distinct(h1), ['the','a','of','to','and','in','is','it','that','as'])) AS a_en,
        | len(list_intersect(list_distinct(h1), ['der','die','das','und','ist','nicht','mit','ein','zu','den'])) AS a_de,
        | len(list_intersect(list_distinct(h1), ['le','la','les','et','est','un','une','dans','que','pour'])) AS a_fr,
        | len(list_intersect(list_distinct(h1), ['el','los','y','es','en','una','lo','como','mas','por'])) AS a_es,
        | len(list_intersect(list_distinct(h2), ['the','a','of','to','and','in','is','it','that','as'])) AS b_en,
        | len(list_intersect(list_distinct(h2), ['der','die','das','und','ist','nicht','mit','ein','zu','den'])) AS b_de,
        | len(list_intersect(list_distinct(h2), ['le','la','les','et','est','un','une','dans','que','pour'])) AS b_fr,
        | len(list_intersect(list_distinct(h2), ['el','los','y','es','en','una','lo','como','mas','por'])) AS b_es
        | FROM h),
        |v AS (SELECT doc_id,
        | CASE WHEN a_en >= a_de AND a_en >= a_fr AND a_en >= a_es THEN 'en'
        |      WHEN a_de >= a_fr AND a_de >= a_es THEN 'de'
        |      WHEN a_fr >= a_es THEN 'fr' ELSE 'es' END AS lang_a,
        | CASE WHEN b_en >= b_de AND b_en >= b_fr AND b_en >= b_es THEN 'en'
        |      WHEN b_de >= b_fr AND b_de >= b_es THEN 'de'
        |      WHEN b_fr >= b_es THEN 'fr' ELSE 'es' END AS lang_b
        | FROM sc)
        |SELECT doc_id, lang_a, lang_b, lang_a <> lang_b AS mixed
        |FROM v ORDER BY doc_id""".stripMargin),
    // two-phase mix: natural shares then quality-upweighted anneal
    Query("q_mix_two_phase", Pipeline.mixTwoPhase,
      (toksCte + """,
        |w AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tok,
        |  coalesce(CAST(list_sum(list_transform(t, tk ->
        |    CAST(('0x'||substr(md5('w:' || CAST(('0x'||substr(md5('b:'||tk),1,15))::UBIGINT % 4096 AS VARCHAR)),1,15))::UBIGINT % 2000001 AS BIGINT) - 1000000
        |  )) AS BIGINT), 0) AS su
        | FROM toks),
        |per AS (SELECT d.source, CAST(sum(w.n_tok) AS BIGINT) AS n_tokens,
        |    count(*) AS n_docs,
        |    CAST(sum(CASE WHEN w.su > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_keep
        |  FROM w JOIN documents d ON d.doc_id = w.doc_id GROUP BY d.source),
        |k AS (SELECT source, n_tokens, 10000 * n_keep // n_docs AS keep_bp,
        |    n_tokens * (10000 * n_keep // n_docs) AS w2 FROM per),
        |t AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS t1,
        |    CAST(sum(w2) AS BIGINT) AS t2 FROM k)
        |SELECT source, n_tokens, keep_bp,
        |  CAST(900000 * n_tokens // t1 AS BIGINT) AS quota_p1,
        |  CAST(100000 * w2 // t2 AS BIGINT) AS quota_p2
        |FROM k, t ORDER BY source""").stripMargin),
    // classifier calibration: decile sweep of the quality logits
    Query("q_quality_calibration", WebPipeline.qualityCalibration,
      (toksCte + """,
        |w AS (SELECT doc_id,
        |  coalesce(CAST(list_sum(list_transform(t, tk ->
        |    CAST(('0x'||substr(md5('w:' || CAST(('0x'||substr(md5('b:'||tk),1,15))::UBIGINT % 4096 AS VARCHAR)),1,15))::UBIGINT % 2000001 AS BIGINT) - 1000000
        |  )) AS BIGINT), 0) AS su
        | FROM toks),
        |d AS (SELECT doc_id, su,
        |        ntile(10) OVER (ORDER BY su, doc_id) AS decile FROM w)
        |SELECT decile, CAST(count(*) AS BIGINT) AS n_docs,
        |  min(su) AS lo, max(su) AS hi,
        |  CAST(sum(CASE WHEN su > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_keep
        |FROM d GROUP BY decile ORDER BY decile""").stripMargin),
    // character-distribution entropy gate: micro-nat terms summed as ints
    Query("q_text_entropy", TextAnalysis.charEntropy,
      """WITH ch AS (SELECT doc_id, unnest(string_split(text, '')) AS ch FROM documents),
        |c AS (SELECT doc_id, ch, count(*) AS c FROM ch WHERE length(ch) > 0 GROUP BY 1, 2),
        |n AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n FROM c GROUP BY 1),
        |t AS (SELECT c.doc_id, n.n,
        |        c.c * CAST(round(ln(n.n / CAST(c.c AS DOUBLE)) * 1e6) AS BIGINT) AS term_u
        |      FROM c JOIN n ON n.doc_id = c.doc_id)
        |SELECT doc_id, max(n) AS n_chars, CAST(sum(term_u) AS BIGINT) AS ent_u,
        |       CAST(sum(term_u) AS BIGINT) >= 2500000 * max(n) AS keep
        |FROM t GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    // normalization-keyed exact dedup over planted recrawl variants
    Query("q_dedup_norm", Dedup.normalizedDedup,
      """WITH d AS (SELECT doc_id, text FROM documents),
        |v AS (SELECT doc_id + 2000000 AS vid,
        |        CASE ('0x'||substr(md5('nk:'||doc_id),1,15))::UBIGINT % 3
        |          WHEN 0 THEN upper(text)
        |          WHEN 1 THEN translate(text, 'aeiou', 'áéíóú')
        |          ELSE replace(text, ' ', ' , ') || '  '
        |        END AS vtext
        |      FROM d WHERE ('0x'||substr(md5('nv:'||doc_id),1,15))::UBIGINT % 4 = 0),
        |u AS (SELECT doc_id, text FROM d
        |      UNION ALL SELECT vid, vtext FROM v),
        |nrm AS (SELECT doc_id, text,
        |        trim(regexp_replace(regexp_replace(
        |          translate(lower(text), 'áéíóú', 'aeiou'),
        |          '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS norm
        |      FROM u)
        |SELECT min(doc_id) AS keep_id, CAST(count(*) AS BIGINT) AS n_copies,
        |       CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_raw
        |FROM nrm GROUP BY md5(norm) ORDER BY keep_id""".stripMargin),
    // PPJoin prefix-filtered pairs: the oracle is the BRUTE all-pairs scan,
    // so the hash compare is itself the completeness proof for the prefix
    // filter (no false negatives at J >= 0.5)
    Query("q_dedup_ppjoin", Dedup.ppjoinPairs,
      (shinglesCte + """
        |SELECT doc_a, doc_b, j FROM (
        | SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  round(len(list_intersect(a.s, b.s))::DOUBLE /
        |        (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 4) AS j
        | FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        | WHERE len(a.s) > 0 AND len(b.s) > 0)
        |WHERE j >= 0.5 ORDER BY doc_a, doc_b""").stripMargin),
    // Efraimidis–Spirakis weighted sample: integer-grid rank key, top-100
    Query("q_sample_weighted", Pipeline.weightedSample,
      """WITH d AS (SELECT doc_id, n_chars AS w,
        |    ('0x'||substr(md5('ws:'||doc_id),1,15))::UBIGINT % 1000000000 + 1 AS u9
        |  FROM documents),
        |k AS (SELECT doc_id, w,
        |    CAST(round(CAST(round(ln(u9 / 1.0e9) * 1e6) AS BIGINT) * 1000.0 / w) AS BIGINT) AS key_u
        |  FROM d),
        |top AS (SELECT * FROM k ORDER BY key_u DESC, doc_id LIMIT 100)
        |SELECT doc_id, w, key_u FROM top ORDER BY doc_id""".stripMargin),
    // LSH calibration: candidates + verified TPs vs exact ground truth
    Query("q_dedup_minhash_eval", Dedup.minhashEval,
      (minhashPairCtes + """,
        |truth AS (SELECT doc_a, doc_b FROM (
        |   SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    round(len(list_intersect(a.s, b.s))::DOUBLE /
        |          (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 4) AS j
        |   FROM sh a JOIN sh b ON a.doc_id < b.doc_id) WHERE j >= 0.5),
        |m AS (SELECT
        |  (SELECT count(*) FROM truth) AS n_truth,
        |  (SELECT count(*) FROM cand) AS n_cand,
        |  (SELECT count(*) FROM vpairs) AS n_tp,
        |  (SELECT count(*) FROM truth t JOIN cand c
        |     ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b) AS n_hit)
        |SELECT CAST(n_truth AS BIGINT) AS n_truth, CAST(n_cand AS BIGINT) AS n_cand,
        |  CAST(n_tp AS BIGINT) AS n_tp,
        |  CAST(CASE WHEN n_cand = 0 THEN 0 ELSE 10000 * n_tp // n_cand END AS BIGINT) AS precision_bp,
        |  CAST(CASE WHEN n_truth = 0 THEN 0 ELSE 10000 * n_hit // n_truth END AS BIGINT) AS recall_bp
        |FROM m""").stripMargin),
    // UT1-style registrable-domain blocklist filter
    Query("q_url_blocklist", WebPipeline.urlBlocklist,
      """WITH h AS (SELECT doc_id,
        |  ['','www.','cdn.','news.'][CAST(('0x'||substr(md5('sub:'||doc_id),1,15))::UBIGINT % 4 AS INT) + 1] ||
        |  'site' || (doc_id % 7) || '.' ||
        |  ['example.com','sample.org','tracker-hub.net','web-mall.io','fast-ads.dev'][CAST(doc_id % 5 AS INT) + 1] AS host
        | FROM documents),
        |r AS (SELECT doc_id, host,
        |        regexp_extract(host, '[^.]+\.[^.]+$') AS registrable FROM h),
        |b AS (SELECT DISTINCT registrable FROM r
        |      WHERE ('0x'||substr(md5('blk:'||registrable),1,15))::UBIGINT % 3 = 0)
        |SELECT r.registrable, (b.registrable IS NOT NULL) AS blocked,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(DISTINCT r.host) AS BIGINT) AS n_hosts,
        |  min(r.doc_id) AS first_doc
        |FROM r LEFT JOIN b ON b.registrable = r.registrable
        |GROUP BY 1, 2 ORDER BY 1""".stripMargin),
  )
}
