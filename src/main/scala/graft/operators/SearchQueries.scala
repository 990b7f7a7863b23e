package graft.operators

import graft.QueryDef
import graft.util.Tables._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Keyword retrieval over the `documents` corpus — the search side of a
  * training-data pipeline (eval-set leak hunting, targeted corpus
  * inspection, nearest-duplicate triage by content rather than sketch).
  *
  * Scale posture: the only corpus-scale stages are per-row projections
  * and ONE map-side-combinable (doc, token) aggregate that is pruned to
  * the broadcast query vocabulary BEFORE the shuffle — document
  * frequencies, scores, and ranking all run on the matched sliver. The
  * query set is EXPLICITLY bounded (`doc_id < 10000` on top of the
  * eval-set residue class): a search workload is a user-supplied list of
  * queries, not a corpus-scale slice, and the bound is what licenses the
  * broadcast of the query-term table — an unbounded "1% of the corpus"
  * query side would eventually hit broadcast limits.
  *
  * Amortization: [[SignatureStore.ensureBm25]] persists the postings
  * ((doc_id, token, tf, dl), denormalized doc length) plus the per-doc
  * length table, so repeated searches never re-tokenize the corpus —
  * `bm25_search_stored` is held to the same oracle as the live query.
  *
  * Cross-engine exactness (the reason the scoring looks the way it
  * does): every scalar is built from +, −, ×, ÷, floor on doubles —
  * correctly-rounded IEEE ops with identical expression trees on both
  * engines — then per-term contributions are scaled to integers BEFORE
  * the summation, so float sum ORDER can never flip a rank. The idf is
  * the log-free rational surrogate (N − df + ½)/(df + ½) (the argument
  * of the canonical BM25 log): `ln` is a libm call whose last ULP is
  * not contractual across engines, and a monotone weight serves the
  * same purpose for ranking.
  */
object SearchQueries {

  /** k1 = 1.2, b = 0.75 — the standard BM25 constants. */
  private val K1 = 1.2
  private val B = 0.75

  /** Corpus-wide term frequencies (doc_id, token, tf, dl) — the postings
    * build: one token explode + one map-side-combinable aggregate, the
    * doc length riding with each token row into `first()` so no
    * corpus-wide join denormalizes it later. This is the store's build
    * cost; searches read the artifact. */
  def postingsOf(docs: DataFrame): DataFrame =
    TextQueries.spread(docs)
      .withColumn("tk", graft.functions.WsTokens.ws_tokens(col("text")))
      .select(col("doc_id"), size(col("tk")).cast("long").as("dl"),
        explode(col("tk")).as("token"))
      .groupBy("doc_id", "token")
      .agg(count(lit(1)).as("tf"), first("dl").as("dl"))

  /** Per-document token counts (doc_id, dl) — the BM25 length norm and
    * the corpus stats (n, avgdl) source. */
  def doclensOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      graft.functions.WsTokenCount.ws_token_count(col("text")).cast("long").as("dl"))

  /** Score + rank stage shared by the live and stored paths: `tf` is the
    * vocabulary-pruned postings sliver (doc_id, token, tf, dl), `stats`
    * one row (n, total), `qt` the bounded (qid, token) query terms.
    * `tf` feeds BOTH the document-frequency aggregate and the
    * contribution join, so it is pinned with `localCheckpoint` here —
    * without it the whole postings stage runs twice (measured: the two
    * consumers doubled bm25_search's cost in round 4). */
  def bm25Rank(tfIn: DataFrame, stats: DataFrame, qt: DataFrame, k: Int): DataFrame = {
    val tf = tfIn.localCheckpoint()
    val df = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val idf = (col("n").cast("double") - col("df").cast("double") + lit(0.5)) /
      (col("df").cast("double") + lit(0.5))
    val tfPart = (col("tf").cast("double") * lit(K1 + 1.0)) /
      (col("tf").cast("double") + lit(K1) * (lit(1.0 - B) + lit(B) *
        (col("dl").cast("double") / (col("total").cast("double") / col("n").cast("double")))))
    // Score each (doc, token) ONCE, before the query join: the floored
    // contribution depends only on (tf, dl, df, stats), so evaluating it
    // on the tf table and joining the precomputed integer saves the
    // double math × (queries sharing the term) — on a degenerate
    // small-vocabulary corpus (every query term in every doc) that
    // factor is the whole query count. Bit-identical results: the same
    // per-row value is summed, only earlier.
    val scored = tf.join(broadcast(df), Seq("token"))
      .crossJoin(broadcast(stats))
      .select(col("token"), col("doc_id"),
        floor(lit(1000000.0) * idf * tfPart).cast("long").as("c"))
    val contrib = broadcast(qt).join(scored, Seq("token"))
      .select(col("qid"), col("doc_id"), col("c"))
    val topRn = Window.partitionBy(col("qid"))
      .orderBy(col("score").desc, col("doc_id"))
    contrib.groupBy("qid", "doc_id").agg(sum("c").as("score"))
      .withColumn("rn", row_number().over(topRn))
      .filter(col("rn") <= k)
      .select("qid", "doc_id", "score")
      .orderBy("qid", "doc_id")
  }

  /** The ranked-results build: BM25 top-10 per eval query
    * (qid, doc_id, rank, score) from the persisted postings store —
    * the build stage of [[SignatureStore.ensureBm25TopK]] (the
    * 22nd store face). One retrieval pass materializes what every eval
    * consumer (snippets, RBO, RRF fusion, PRF round 1, hard negatives,
    * context packing) previously recomputed live: those queries now
    * read ≤10×queries rank rows and pay presentation cost only. Any
    * k ≤ 10 face is a rank filter (row_number order is identical for
    * every prefix). BM25 scores depend on corpus-wide stats, so the
    * face is a SNAPSHOT of the postings store — rebuilt at seal time
    * ([[SignatureStore.refreshBm25TopK]]), not incrementally patched
    * (a new document shifts every df/avgdl — there is no exact
    * incremental top-k under BM25). */
  def bm25TopKOf(s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val (postings, doclens) = SignatureStore.ensureBm25(s, d)
    val qt = queryTerms(docs)
    val corpusLens = doclens.filter(col("doc_id") % 97 =!= 0)
    val stats = corpusLens.agg(
      count(lit(1)).as("n"), sum("dl").cast("long").as("total"))
    val tf = postings.filter(col("doc_id") % 97 =!= 0)
      .join(broadcast(qt.select("token").distinct()), Seq("token"), "left_semi")
      .select("doc_id", "token", "tf", "dl")
    val rn = Window.partitionBy(col("qid")).orderBy(col("score").desc, col("doc_id"))
    bm25Rank(tf, stats, qt, k = 10)
      .withColumn("rank", row_number().over(rn).cast("long"))
      .select("qid", "doc_id", "rank", "score")
  }

  /** Per-document DISTINCT adjacent bigrams (doc_id, bigram) — one
    * map-side positional pass, deduped per doc before any shuffle; the
    * build stage of the phrase-bigram store and the live side of
    * `phrase_search`. */
  def bigramsOf(docs: DataFrame): DataFrame =
    TextQueries.spread(docs)
      .select(col("doc_id"), graft.functions.WsTokens.ws_tokens(col("text")).as("tk"))
      .filter(size(col("tk")) >= 2)
      .select(col("doc_id"), explode(expr(
        "array_distinct(transform(sequence(1, size(tk)-1), " +
          "i -> concat(tk[i-1], ' ', tk[i])))")).as("bigram"))

  /** Phrase probe shared by the live and stored paths: `bg` is the
    * per-doc distinct bigram table (live pass or store read), `phrases`
    * the bounded broadcast query set. */
  def phraseRank(bg: DataFrame, phrases: DataFrame, k: Int): DataFrame = {
    val rn = Window.partitionBy(col("qid")).orderBy(col("doc_id"))
    bg.join(broadcast(phrases), Seq("bigram"))
      .select("qid", "doc_id")
      .withColumn("rn", row_number().over(rn))
      .filter(col("rn") <= k)
      .select("qid", "doc_id")
      .orderBy("qid", "doc_id")
  }

  /** The bounded phrase table (qid, bigram): each eval query's first
    * two tokens. */
  private def queryPhrases(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id") % 97 === 0 && col("doc_id") < 10000)
      .select(col("doc_id").as("qid"), graft.functions.WsTokens.ws_tokens(col("text")).as("tk"))
      .filter(size(col("tk")) >= 2)
      .select(col("qid"),
        concat_ws(" ", element_at(col("tk"), 1), element_at(col("tk"), 2)).as("bigram"))

  /** The bounded query-term table (qid, token): distinct tokens of the
    * eval docs under the explicit id bound. */
  private def queryTerms(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id") % 97 === 0 && col("doc_id") < 10000)
      .select(col("doc_id").as("qid"),
        explode(graft.functions.WsTokens.ws_tokens(col("text"))).as("token"))
      .distinct()

  /** The BM25 CTE chain (through `score`), shared by the BM25 oracle
    * and the hybrid-fusion oracle. */
  private val Bm25CteChain: String =
    s"""WITH corpus AS (
       |  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS tk
       |  FROM documents WHERE doc_id % 97 <> 0),
       |qd AS (
       |  SELECT doc_id AS qid, string_split_regex(trim(lower(text)), '\\s+') AS tk
       |  FROM documents WHERE doc_id % 97 = 0 AND doc_id < 10000),
       |qt AS (SELECT DISTINCT qid, unnest(tk) AS token FROM qd),
       |ct AS (SELECT doc_id, unnest(tk) AS token FROM corpus),
       |dl AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS dl FROM corpus),
       |stats AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(len(tk)) AS BIGINT) AS total
       |  FROM corpus),
       |tf AS (
       |  SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf FROM ct
       |  WHERE token IN (SELECT token FROM qt) GROUP BY doc_id, token),
       |df AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY token),
       |contrib AS (
       |  SELECT q.qid, t.doc_id,
       |    CAST(floor(1000000.0 *
       |      ((CAST(s.n AS DOUBLE) - CAST(f.df AS DOUBLE) + 0.5) / (CAST(f.df AS DOUBLE) + 0.5)) *
       |      ((CAST(t.tf AS DOUBLE) * ${K1 + 1.0}) /
       |       (CAST(t.tf AS DOUBLE) + $K1 * (${1.0 - B} + $B *
       |        (CAST(l.dl AS DOUBLE) / (CAST(s.total AS DOUBLE) / CAST(s.n AS DOUBLE))))))
       |    ) AS BIGINT) AS c
       |  FROM qt q
       |  JOIN tf t ON t.token = q.token
       |  JOIN df f ON f.token = q.token
       |  JOIN dl l ON l.doc_id = t.doc_id, stats s),
       |score AS (
       |  SELECT qid, doc_id, CAST(sum(c) AS BIGINT) AS score
       |  FROM contrib GROUP BY qid, doc_id)""".stripMargin

  /** The BM25 oracle, shared verbatim by the live and stored queries. */
  private val Bm25OracleSql: String =
    s"""$Bm25CteChain
       |SELECT qid, doc_id, score FROM score
       |QUALIFY row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) <= 5
       |ORDER BY qid, doc_id""".stripMargin

  /** Dirichlet query-likelihood oracle — the exact ppb product form (no
    * transcendentals; see the `search_query_likelihood` scaladoc). */
  private val QlOracleSql: String =
    """WITH corpus AS (
      |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS tk
      |  FROM documents WHERE doc_id % 97 <> 0),
      |qd AS (
      |  SELECT doc_id AS qid, string_split_regex(trim(lower(text)), '\s+') AS tk
      |  FROM documents WHERE doc_id % 97 = 0 AND doc_id < 10000),
      |qp0 AS (
      |  SELECT qid, i - 1 AS pos, tk[i] AS token
      |  FROM qd CROSS JOIN generate_series(1, 4) AS g(i) WHERE len(tk) >= 4),
      |dl AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS dl FROM corpus),
      |stats AS (SELECT CAST(sum(len(tk)) AS BIGINT) AS total FROM corpus),
      |tf AS (
      |  SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
      |  FROM (SELECT doc_id, unnest(tk) AS token FROM corpus) ct
      |  WHERE token IN (SELECT DISTINCT token FROM qp0)
      |  GROUP BY 1, 2),
      |cf AS (SELECT token, CAST(sum(tf) AS BIGINT) AS cf FROM tf GROUP BY token),
      |qp AS (SELECT qp0.qid, qp0.pos, qp0.token, cf.cf
      |       FROM qp0 JOIN cf ON cf.token = qp0.token),
      |cand AS (SELECT DISTINCT qp.qid, tf.doc_id FROM tf JOIN qp ON qp.token = tf.token),
      |p AS (
      |  SELECT c.qid, c.doc_id, q.pos,
      |    CAST((CAST(1000000000 AS HUGEINT) * (coalesce(t.tf, 0) * s.total + 500 * q.cf)) //
      |      ((d.dl + 500) * CAST(s.total AS HUGEINT)) AS BIGINT) AS p_ppb
      |  FROM cand c
      |  JOIN qp q ON q.qid = c.qid
      |  LEFT JOIN tf t ON t.doc_id = c.doc_id AND t.token = q.token
      |  JOIN dl d ON d.doc_id = c.doc_id
      |  CROSS JOIN stats s),
      |sc AS (
      |  SELECT qid, doc_id, CAST(count(*) AS BIGINT) AS n_terms,
      |    CAST(coalesce(max(CASE WHEN pos = 0 THEN p_ppb END), 1) AS HUGEINT)
      |      * coalesce(max(CASE WHEN pos = 1 THEN p_ppb END), 1)
      |      * coalesce(max(CASE WHEN pos = 2 THEN p_ppb END), 1)
      |      * coalesce(max(CASE WHEN pos = 3 THEN p_ppb END), 1) AS prod
      |  FROM p GROUP BY qid, doc_id)
      |SELECT qid, doc_id, rn, n_terms,
      |  CAST(prod // CAST('1000000000000000000000000000' AS HUGEINT) AS BIGINT) AS ql_x1e9
      |FROM (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY prod DESC, doc_id) AS rn
      |      FROM sc)
      |WHERE rn <= 5 ORDER BY qid, doc_id""".stripMargin

  /** Snippet oracle: BM25 top-1 per query, then the densest 10-token
    * window by prefix-summed query-term hits (ties to the earliest
    * position), with the exact token slice. */
  private val SnippetOracleSql: String =
    s"""$Bm25CteChain,
       |top AS (
       |  SELECT qid, doc_id FROM (
       |    SELECT qid, doc_id,
       |      row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS r
       |    FROM score) WHERE r = 1),
       |dt AS (
       |  SELECT c.doc_id, c.tk, CAST(len(c.tk) AS BIGINT) AS dl
       |  FROM corpus c JOIN (SELECT DISTINCT doc_id FROM top) t ON t.doc_id = c.doc_id),
       |pt AS (
       |  SELECT doc_id, dl, u.i AS p, u.tok AS token
       |  FROM (SELECT doc_id, dl,
       |          unnest([{'i': CAST(i AS BIGINT), 'tok': tk[i]}
       |                  for i in generate_series(1, len(tk))]) AS u
       |        FROM dt)),
       |h AS (
       |  SELECT top.qid, pt.doc_id, pt.dl, pt.p,
       |    CAST(CASE WHEN q2.token IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS hit
       |  FROM top JOIN pt ON pt.doc_id = top.doc_id
       |  LEFT JOIN qt q2 ON q2.qid = top.qid AND q2.token = pt.token),
       |cumt AS (SELECT *,
       |    CAST(sum(hit) OVER (PARTITION BY qid, doc_id ORDER BY p) AS BIGINT) AS cum
       |  FROM h),
       |sc2 AS (
       |  SELECT a.qid, a.doc_id, a.p, b.cum - a.cum + a.hit AS w_hits
       |  FROM cumt a JOIN cumt b
       |    ON b.qid = a.qid AND b.doc_id = a.doc_id AND b.p = a.p + 9
       |  WHERE a.p <= a.dl - 9),
       |best AS (
       |  SELECT qid, doc_id, p, w_hits FROM (
       |    SELECT *, row_number() OVER (PARTITION BY qid, doc_id
       |      ORDER BY w_hits DESC, p) AS rn
       |    FROM sc2) WHERE rn = 1)
       |SELECT best.qid, best.doc_id, best.p AS best_pos, best.w_hits,
       |  array_to_string(dt.tk[best.p : best.p + 9], ' ') AS snippet
       |FROM best JOIN dt ON dt.doc_id = best.doc_id
       |ORDER BY best.qid, best.doc_id""".stripMargin

  /** Hard-negative oracle: vector-similar docs (top-10) minus the
    * keyword-relevant set (BM25 top-5), top-3 survivors per query. */
  private val HardNegOracleSql: String =
    s"""$Bm25CteChain,
       |btop AS (
       |  SELECT qid, doc_id FROM (
       |    SELECT qid, doc_id,
       |      row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS r
       |    FROM score) WHERE r <= 5),
       |qv AS (
       |  SELECT e.vec_id AS qid, e.embedding::DOUBLE[] AS qv
       |  FROM embeddings e JOIN (SELECT DISTINCT qid FROM qt) q ON q.qid = e.vec_id),
       |cvv AS (
       |  SELECT e.vec_id AS doc_id, e.embedding::DOUBLE[] AS cv
       |  FROM embeddings e JOIN dl ON dl.doc_id = e.vec_id),
       |vtop AS (
       |  SELECT qid, doc_id, vscore FROM (
       |    SELECT q.qid, c.doc_id,
       |      round(list_cosine_similarity(q.qv, c.cv), 6) AS vscore,
       |      row_number() OVER (PARTITION BY q.qid
       |        ORDER BY round(list_cosine_similarity(q.qv, c.cv), 6) DESC, c.doc_id) AS r
       |    FROM qv q, cvv c) WHERE r <= 10),
       |neg AS (
       |  SELECT v.qid, v.doc_id, v.vscore FROM vtop v
       |  LEFT JOIN btop b ON b.qid = v.qid AND b.doc_id = v.doc_id
       |  WHERE b.doc_id IS NULL)
       |SELECT qid, doc_id, vscore FROM neg
       |QUALIFY row_number() OVER (PARTITION BY qid ORDER BY vscore DESC, doc_id) <= 3
       |ORDER BY qid, doc_id""".stripMargin

  /** The hybrid RRF oracle: the BM25 chain plus a vector leg over the
    * embeddings of the same doc-id space, fused 1/(60+rank). */
  private val HybridOracleSql: String =
    s"""$Bm25CteChain,
       |btop AS (
       |  SELECT qid, doc_id, r FROM (
       |    SELECT qid, doc_id,
       |      row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS r
       |    FROM score) WHERE r <= 5),
       |qv AS (
       |  SELECT e.vec_id AS qid, e.embedding::DOUBLE[] AS qv
       |  FROM embeddings e JOIN (SELECT DISTINCT qid FROM qt) q ON q.qid = e.vec_id),
       |cvv AS (
       |  SELECT e.vec_id AS doc_id, e.embedding::DOUBLE[] AS cv
       |  FROM embeddings e JOIN dl ON dl.doc_id = e.vec_id),
       |vtop AS (
       |  SELECT qid, doc_id, r FROM (
       |    SELECT q.qid, c.doc_id,
       |      row_number() OVER (PARTITION BY q.qid
       |        ORDER BY round(list_cosine_similarity(q.qv, c.cv), 6) DESC, c.doc_id) AS r
       |    FROM qv q, cvv c) WHERE r <= 5),
       |fused AS (
       |  SELECT coalesce(b.qid, v.qid) AS qid,
       |    coalesce(b.doc_id, v.doc_id) AS doc_id,
       |    coalesce(1000000 // (60 + b.r), 0) +
       |      coalesce(1000000 // (60 + v.r), 0) AS rrf_x1e6
       |  FROM btop b FULL OUTER JOIN vtop v
       |    ON b.qid = v.qid AND b.doc_id = v.doc_id)
       |SELECT qid, doc_id, rrf_x1e6 FROM fused
       |QUALIFY row_number() OVER (PARTITION BY qid ORDER BY rrf_x1e6 DESC, doc_id) <= 5
       |ORDER BY qid, doc_id""".stripMargin

  /** Context budget (tokens) for `rag_context_pack`. */
  val RagBudget = 128

  /** The RAG packing oracle: the hybrid chain, the fused top-5 with doc
    * lengths, and the greedy-fit scan replayed as a RECURSIVE CTE
    * stepping rank 1→5 with the running budget. */
  private lazy val RagPackSql: String =
    s"""${Bm25CteChain.replaceFirst("WITH ", "WITH RECURSIVE ")},
       |btop AS (
       |  SELECT qid, doc_id, r FROM (
       |    SELECT qid, doc_id,
       |      row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS r
       |    FROM score) WHERE r <= 5),
       |qv AS (
       |  SELECT e.vec_id AS qid, e.embedding::DOUBLE[] AS qv
       |  FROM embeddings e JOIN (SELECT DISTINCT qid FROM qt) q ON q.qid = e.vec_id),
       |cvv AS (
       |  SELECT e.vec_id AS doc_id, e.embedding::DOUBLE[] AS cv
       |  FROM embeddings e JOIN dl ON dl.doc_id = e.vec_id),
       |vtop AS (
       |  SELECT qid, doc_id, r FROM (
       |    SELECT q.qid, c.doc_id,
       |      row_number() OVER (PARTITION BY q.qid
       |        ORDER BY round(list_cosine_similarity(q.qv, c.cv), 6) DESC, c.doc_id) AS r
       |    FROM qv q, cvv c) WHERE r <= 5),
       |fused0 AS (
       |  SELECT coalesce(b.qid, v.qid) AS qid,
       |    coalesce(b.doc_id, v.doc_id) AS doc_id,
       |    coalesce(1000000 // (60 + b.r), 0) +
       |      coalesce(1000000 // (60 + v.r), 0) AS rrf_x1e6
       |  FROM btop b FULL OUTER JOIN vtop v
       |    ON b.qid = v.qid AND b.doc_id = v.doc_id),
       |fusedr AS (
       |  SELECT qid, doc_id, rrf_x1e6, rnk FROM (
       |    SELECT qid, doc_id, rrf_x1e6,
       |      CAST(row_number() OVER (PARTITION BY qid
       |        ORDER BY rrf_x1e6 DESC, doc_id) AS BIGINT) AS rnk
       |    FROM fused0) WHERE rnk <= 5),
       |fusedl AS (
       |  SELECT f.qid, f.doc_id, f.rrf_x1e6, f.rnk, l.dl AS n_tokens
       |  FROM fusedr f JOIN dl l ON l.doc_id = f.doc_id),
       |ql AS (SELECT DISTINCT qid FROM fusedl),
       |pack AS (
       |  SELECT qid, CAST(0 AS BIGINT) AS r, CAST(0 AS BIGINT) AS cum FROM ql
       |  UNION ALL
       |  SELECT p.qid, p.r + 1,
       |    p.cum + CASE WHEN f.n_tokens IS NOT NULL
       |        AND p.cum + f.n_tokens <= $RagBudget THEN f.n_tokens ELSE 0 END
       |  FROM pack p LEFT JOIN fusedl f ON f.qid = p.qid AND f.rnk = p.r + 1
       |  WHERE p.r < 5)
       |SELECT f.qid, f.rnk AS rank, f.doc_id, f.rrf_x1e6, f.n_tokens,
       |  p.cum + f.n_tokens AS cum_tokens
       |FROM fusedl f JOIN pack p ON p.qid = f.qid AND p.r = f.rnk - 1
       |WHERE p.cum + f.n_tokens <= $RagBudget
       |ORDER BY f.qid, rank""".stripMargin

  /** RBO@10 per-shared-doc suffix weights, round(1e6·Σ_{e=d..10}
    * 0.9^e/(9e)) — fixed ppm constants shared by the Spark side and
    * the oracle; ΣT = 651319 is the identical-ranking normalizer. */
  val RboSuffixPpm: Seq[Long] = Seq(235416L, 135416L, 90416L, 63416L,
    45191L, 32069L, 22228L, 14636L, 8657L, 3874L)

  private lazy val RboOracleSql: String = {
    val twVals = RboSuffixPpm.zipWithIndex
      .map { case (w, i) => s"(${i + 1}, $w)" }.mkString(", ")
    s"""$Bm25CteChain,
       |btop AS (
       |  SELECT qid, doc_id, r AS ra FROM (
       |    SELECT qid, doc_id,
       |      row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS r
       |    FROM score) WHERE r <= 10),
       |qv AS (
       |  SELECT e.vec_id AS qid, e.embedding::DOUBLE[] AS qv
       |  FROM embeddings e JOIN (SELECT DISTINCT qid FROM qt) q ON q.qid = e.vec_id),
       |cvv AS (
       |  SELECT e.vec_id AS doc_id, e.embedding::DOUBLE[] AS cv
       |  FROM embeddings e JOIN dl ON dl.doc_id = e.vec_id),
       |vtop AS (
       |  SELECT qid, doc_id, r AS rb FROM (
       |    SELECT q.qid, c.doc_id,
       |      row_number() OVER (PARTITION BY q.qid
       |        ORDER BY round(list_cosine_similarity(q.qv, c.cv), 6) DESC, c.doc_id) AS r
       |    FROM qv q, cvv c) WHERE r <= 10),
       |tw AS (SELECT CAST(m AS BIGINT) AS m, CAST(w AS BIGINT) AS w
       |       FROM (VALUES $twVals) AS v(m, w)),
       |per AS (
       |  SELECT s.qid, CAST(count(*) AS BIGINT) AS n_shared,
       |    CAST(sum(t.w) AS BIGINT) AS rbo
       |  FROM (SELECT b.qid, greatest(b.ra, v.rb) AS m
       |        FROM btop b JOIN vtop v ON v.qid = b.qid AND v.doc_id = b.doc_id) s
       |  JOIN tw t ON t.m = s.m GROUP BY s.qid),
       |ql AS (SELECT DISTINCT qid FROM qt)
       |SELECT q.qid, coalesce(p.n_shared, 0) AS n_shared,
       |  coalesce(p.rbo, 0) AS rbo_ppm,
       |  CAST((1000000 * coalesce(p.rbo, 0)) // ${RboSuffixPpm.sum} AS BIGINT)
       |    AS rbo_norm_ppm
       |FROM ql q LEFT JOIN per p ON p.qid = q.qid
       |ORDER BY q.qid""".stripMargin
  }

  /** PRF oracle: the round-1 chain, feedback-term selection, and a
    * second scoring pass over the expanded vocabulary (same contrib
    * formula with the round-2 tables substituted). */
  private val PrfOracleSql: String =
    s"""$Bm25CteChain,
       |btop AS (
       |  SELECT qid, doc_id FROM (
       |    SELECT qid, doc_id,
       |      row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS r
       |    FROM score) WHERE r <= 5),
       |fbd AS (
       |  SELECT b.qid, c.token, CAST(count(DISTINCT c.doc_id) AS BIGINT) AS nfb
       |  FROM btop b JOIN ct c ON c.doc_id = b.doc_id
       |  GROUP BY b.qid, c.token),
       |cand AS (
       |  SELECT f.qid, f.token, f.nfb FROM fbd f
       |  LEFT JOIN qt q ON q.qid = f.qid AND q.token = f.token
       |  WHERE q.token IS NULL),
       |gdf AS (
       |  SELECT token, CAST(count(DISTINCT doc_id) AS BIGINT) AS gdf FROM ct
       |  WHERE token IN (SELECT DISTINCT token FROM cand) GROUP BY token),
       |expn AS (
       |  SELECT qid, token FROM (
       |    SELECT c.qid, c.token,
       |      row_number() OVER (PARTITION BY c.qid
       |        ORDER BY c.nfb DESC, g.gdf ASC, c.token) AS r
       |    FROM cand c JOIN gdf g ON g.token = c.token) WHERE r <= 2),
       |qt2 AS (SELECT qid, token FROM qt UNION ALL SELECT qid, token FROM expn),
       |tf2 AS (
       |  SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf FROM ct
       |  WHERE token IN (SELECT DISTINCT token FROM qt2) GROUP BY doc_id, token),
       |df2 AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf2 GROUP BY token),
       |contrib2 AS (
       |  SELECT q.qid, t.doc_id,
       |    CAST(floor(1000000.0 *
       |      ((CAST(s.n AS DOUBLE) - CAST(f.df AS DOUBLE) + 0.5) / (CAST(f.df AS DOUBLE) + 0.5)) *
       |      ((CAST(t.tf AS DOUBLE) * ${K1 + 1.0}) /
       |       (CAST(t.tf AS DOUBLE) + $K1 * (${1.0 - B} + $B *
       |        (CAST(l.dl AS DOUBLE) / (CAST(s.total AS DOUBLE) / CAST(s.n AS DOUBLE))))))
       |    ) AS BIGINT) AS c
       |  FROM qt2 q
       |  JOIN tf2 t ON t.token = q.token
       |  JOIN df2 f ON f.token = q.token
       |  JOIN dl l ON l.doc_id = t.doc_id, stats s),
       |score2 AS (
       |  SELECT qid, doc_id, CAST(sum(c) AS BIGINT) AS score
       |  FROM contrib2 GROUP BY qid, doc_id)
       |SELECT qid, doc_id, score FROM score2
       |QUALIFY row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) <= 5
       |ORDER BY qid, doc_id""".stripMargin

  /** The phrase-search oracle, shared verbatim by the live and stored
    * queries. */
  private val PhraseOracleSql: String =
    """WITH qd AS (
      |  SELECT doc_id AS qid, string_split_regex(trim(lower(text)), '\s+') AS tk
      |  FROM documents WHERE doc_id % 97 = 0 AND doc_id < 10000),
      |ph AS (
      |  SELECT qid, tk[1] || ' ' || tk[2] AS phrase FROM qd WHERE len(tk) >= 2),
      |corpus AS (
      |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS tk
      |  FROM documents WHERE doc_id % 97 <> 0),
      |bg0 AS (
      |  SELECT doc_id,
      |    unnest([tk[i] || ' ' || tk[i+1] for i in generate_series(1, len(tk)-1)]) AS bigram
      |  FROM corpus WHERE len(tk) >= 2),
      |bg AS (SELECT DISTINCT doc_id, bigram FROM bg0)
      |SELECT qid, doc_id FROM (
      |  SELECT p.qid, b.doc_id,
      |    row_number() OVER (PARTITION BY p.qid ORDER BY b.doc_id) AS rn
      |  FROM ph p JOIN bg b ON b.bigram = p.phrase) WHERE rn <= 10
      |ORDER BY qid, doc_id""".stripMargin

  /** The conjunctive-search oracle, shared by the live and stored
    * queries: per-(qid, doc) distinct-match counts vs the query's term
    * count. */
  private val BoolOracleSql: String =
    """WITH corpus AS (
      |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS tk
      |  FROM documents WHERE doc_id % 97 <> 0),
      |qd AS (
      |  SELECT doc_id AS qid, string_split_regex(trim(lower(text)), '\s+') AS tk
      |  FROM documents WHERE doc_id % 97 = 0 AND doc_id < 10000),
      |qt AS (SELECT DISTINCT qid, unnest(tk) AS token FROM qd),
      |qs AS (SELECT qid, CAST(count(*) AS BIGINT) AS m FROM qt GROUP BY 1),
      |ct AS (SELECT DISTINCT doc_id, unnest(tk) AS token FROM corpus),
      |hit AS (
      |  SELECT q.qid, c.doc_id, CAST(count(*) AS BIGINT) AS nm
      |  FROM qt q JOIN ct c ON c.token = q.token GROUP BY 1, 2)
      |SELECT qid, doc_id FROM hit JOIN qs USING (qid)
      |WHERE nm = m
      |QUALIFY row_number() OVER (PARTITION BY qid ORDER BY doc_id) <= 10
      |ORDER BY qid, doc_id""".stripMargin

  /** More-like-this oracle: seed tf·idf vectors against the corpus
    * postings, per-term contributions floored to integers pre-sum. */
  private val MltOracleSql: String =
    """WITH corpus AS (
      |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS tk
      |  FROM documents WHERE doc_id % 97 <> 0),
      |qd AS (
      |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS tk
      |  FROM documents WHERE doc_id % 97 = 0 AND doc_id < 10000),
      |seeds AS (
      |  SELECT doc_id AS qid, token, CAST(count(*) AS BIGINT) AS tfq
      |  FROM (SELECT doc_id, unnest(tk) AS token FROM qd) GROUP BY 1, 2),
      |n1 AS (SELECT CAST(count(*) AS BIGINT) AS n FROM corpus),
      |tf AS (
      |  SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
      |  FROM (SELECT doc_id, unnest(tk) AS token FROM corpus)
      |  WHERE token IN (SELECT DISTINCT token FROM seeds) GROUP BY 1, 2),
      |df AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
      |contrib AS (
      |  SELECT s.qid, t.doc_id,
      |    CAST(floor((CAST(s.tfq AS DOUBLE) * (CAST(t.tf AS DOUBLE) *
      |      ((CAST(n.n AS DOUBLE) - CAST(f.df AS DOUBLE) + 0.5) /
      |       (CAST(f.df AS DOUBLE) + 0.5)))) * 1000.0) AS BIGINT) AS c
      |  FROM seeds s
      |  JOIN tf t ON t.token = s.token
      |  JOIN df f ON f.token = s.token, n1 n),
      |score AS (
      |  SELECT qid, doc_id, CAST(sum(c) AS BIGINT) AS score
      |  FROM contrib GROUP BY 1, 2)
      |SELECT qid, doc_id, score FROM score
      |QUALIFY row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) <= 5
      |ORDER BY qid, doc_id""".stripMargin

  val defs: Map[String, QueryDef] = Map(

    // ----- BM25 top-k: eval-set queries against the train corpus -----
    // Query docs are the decontamination eval set (doc_id % 97 = 0, the
    // same convention as decontaminate_ngram) under the explicit query
    // bound; each query's terms are its distinct tokens, the corpus is
    // everything else, and the result is the k=5 highest-scoring
    // documents per query. This LIVE path re-tokenizes the corpus (the
    // postings build is what it times); the `_stored` twin reads the
    // persisted artifact.
    "bm25_search" -> QueryDef.sql(Bm25OracleSql) { (s, d) =>
      val docs = documents(s, d)
      val corpus = TextQueries.spread(docs.filter(col("doc_id") % 97 =!= 0))
        .withColumn("tk", graft.functions.WsTokens.ws_tokens(col("text")))
        .select("doc_id", "tk")
      val qt = queryTerms(docs)
      // Doc length rides WITH each token row into the tf aggregate
      // (first() per group) — no separate corpus-wide doclen join later.
      val ct = corpus.select(col("doc_id"), size(col("tk")).cast("long").as("dl"),
        explode(col("tk")).as("token"))
      val stats = corpus.agg(
        count(lit(1)).as("n"), sum(size(col("tk"))).cast("long").as("total"))
      // Prune corpus tokens to the (broadcast, bounded) query vocabulary
      // BEFORE aggregating: the (doc, token) shuffle carries only terms
      // some query mentions, not the corpus vocabulary.
      val tf = ct.join(broadcast(qt.select("token").distinct()), Seq("token"), "left_semi")
        .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"), first("dl").as("dl"))
      bm25Rank(tf, stats, qt, k = 5)
    },

    // ----- BM25F: fielded retrieval (Robertson–Zaragoza 2009) -----
    // The scoring family's structured-document face (BM25 → TF-IDF →
    // query-likelihood → BM25F): the first 8 tokens act as the TITLE
    // field (the headline/lead convention), the rest as BODY, and the
    // per-field term frequencies fold into ONE soft frequency
    // tf̃ = Σ_f w_f · tf_f / B_f (title weight 2, per-field length
    // norms) BEFORE the k1 saturation — the published insight that
    // weighting FREQUENCIES then saturating once beats mixing two
    // saturated scores. Exactness: the log-free rational idf surrogate
    // and ONE floor(1e6·…) per (doc, term) with identical IEEE
    // expression trees on both engines (the bm25Rank discipline); the
    // fixed 2-field fold is an expression, not a float SUM, so order
    // can never flip a rank. Plan shape: one positional explode, two
    // bounded per-field stat rows, query-vocabulary pruning before the
    // (doc, token, field) aggregate shuffles.
    "search_bm25f_fielded" -> QueryDef.sql(
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS tk
        |  FROM documents),
        |x AS (
        |  SELECT doc_id, tk[i] AS token,
        |    CASE WHEN i <= 8 THEN 't' ELSE 'b' END AS fld
        |  FROM t, LATERAL (SELECT unnest(generate_series(1, len(tk))) AS i) i),
        |ftf AS (SELECT doc_id, token, fld, CAST(count(*) AS BIGINT) AS tf
        |        FROM x GROUP BY 1, 2, 3),
        |fdl AS (SELECT doc_id, fld, CAST(count(*) AS BIGINT) AS dl
        |        FROM x GROUP BY 1, 2),
        |favg AS (SELECT fld, CAST(sum(dl) AS BIGINT) AS total,
        |                CAST(count(*) AS BIGINT) AS nd
        |         FROM fdl GROUP BY 1),
        |bf AS (
        |  SELECT fdl.doc_id, fdl.fld,
        |    0.25 + 0.75 * (CAST(fdl.dl AS DOUBLE)
        |      / (CAST(favg.total AS DOUBLE) / CAST(favg.nd AS DOUBLE))) AS b
        |  FROM fdl JOIN favg ON favg.fld = fdl.fld),
        |wtf AS (
        |  SELECT f.doc_id, f.token,
        |    coalesce(sum(CASE WHEN f.fld = 't'
        |      THEN 2.0 * CAST(f.tf AS DOUBLE) / bf.b END), 0)
        |    + coalesce(sum(CASE WHEN f.fld = 'b'
        |      THEN 1.0 * CAST(f.tf AS DOUBLE) / bf.b END), 0) AS wtf
        |  FROM ftf f JOIN bf ON bf.doc_id = f.doc_id AND bf.fld = f.fld
        |  GROUP BY 1, 2),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM t),
        |df AS (SELECT token, CAST(count(*) AS BIGINT) AS df
        |       FROM (SELECT DISTINCT doc_id, token FROM ftf) GROUP BY 1),
        |qt AS (SELECT * FROM (VALUES (0, 'merge'), (0, 'slow'),
        |       (1, 'batch'), (1, 'stream'), (2, 'spark'), (2, 'window')) v(qid, token)),
        |co AS (
        |  SELECT qt.qid, w.doc_id,
        |    CAST(floor(1000000.0
        |      * ((CAST(n.n AS DOUBLE) - CAST(df.df AS DOUBLE) + 0.5)
        |         / (CAST(df.df AS DOUBLE) + 0.5))
        |      * (w.wtf / (1.2 + w.wtf))) AS BIGINT) AS c
        |  FROM qt JOIN wtf w ON w.token = qt.token
        |  JOIN df ON df.token = qt.token CROSS JOIN n),
        |sc AS (SELECT qid, doc_id, CAST(sum(c) AS BIGINT) AS score
        |       FROM co GROUP BY 1, 2),
        |rk AS (SELECT qid, doc_id, score,
        |         row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS rn
        |       FROM sc)
        |SELECT CAST(qid AS BIGINT) AS qid, doc_id, score
        |FROM rk WHERE rn <= 5 ORDER BY qid, doc_id""".stripMargin) { (s, d) =>
      import s.implicits._
      val docs = TextQueries.spread(documents(s, d))
        .withColumn("tk", graft.functions.WsTokens.ws_tokens(col("text")))
        .select("doc_id", "tk")
      val x = docs.select(col("doc_id"), posexplode(col("tk")).as(Seq("p", "token")))
        .select(col("doc_id"), col("token"),
          when(col("p") < 8, "t").otherwise("b").as("fld"))
      val qt = Seq((0L, "merge"), (0L, "slow"), (1L, "batch"),
        (1L, "stream"), (2L, "spark"), (2L, "window")).toDF("qid", "token")
      // ONE corpus pass: the (doc, token, field) frequencies are pinned
      // and every other statistic folds from them — field lengths are
      // Σtf per (doc, field), doc count and df are distinct counts over
      // the pinned sliver. Three corpus scans collapsed to one.
      val ftf = x.groupBy("doc_id", "token", "fld").agg(count(lit(1)).as("tf"))
        .localCheckpoint()
      val fdl = ftf.groupBy("doc_id", "fld").agg(sum("tf").cast("long").as("dl"))
      val favg = fdl.groupBy("fld")
        .agg(sum("dl").cast("long").as("total"), count(lit(1)).as("nd"))
      val bf = fdl.join(broadcast(favg), Seq("fld"))
        .select(col("doc_id"), col("fld"),
          (lit(0.25) + lit(0.75) * (col("dl").cast("double") /
            (col("total").cast("double") / col("nd").cast("double")))).as("b"))
      val wtf = ftf.join(bf, Seq("doc_id", "fld"))
        .groupBy("doc_id", "token")
        .agg((coalesce(sum(when(col("fld") === "t",
            lit(2.0) * col("tf").cast("double") / col("b"))), lit(0.0))
          + coalesce(sum(when(col("fld") === "b",
            lit(1.0) * col("tf").cast("double") / col("b"))), lit(0.0))).as("wtf"))
      // n counts ALL documents (a null-text doc drops out of the token
      // path on both engines but still counts toward idf's N) — a
      // doc_id-only scan, column-pruned to parquet metadata cost
      val n = docs.agg(count(lit(1)).as("n"))
      val df = ftf.select("doc_id", "token").distinct()
        .groupBy("token").agg(count(lit(1)).as("df"))
      val idf = (col("n").cast("double") - col("df").cast("double") + lit(0.5)) /
        (col("df").cast("double") + lit(0.5))
      val co = broadcast(qt).join(wtf, Seq("token"))
        .join(broadcast(df), Seq("token")).crossJoin(broadcast(n))
        .select(col("qid"), col("doc_id"),
          floor(lit(1000000.0) * idf *
            (col("wtf") / (lit(1.2) + col("wtf")))).cast("long").as("c"))
      val rn = Window.partitionBy(col("qid"))
        .orderBy(col("score").desc, col("doc_id"))
      co.groupBy("qid", "doc_id").agg(sum("c").cast("long").as("score"))
        .withColumn("rn", row_number().over(rn))
        .filter(col("rn") <= 5)
        .select("qid", "doc_id", "score")
        .orderBy("qid", "doc_id")
    },

    // ----- query spell correction (SymSpell, asymmetric) -----
    // The query-understanding step in front of every retrieval query:
    // misspelled terms map to the closest corpus token within edit
    // distance 1, ranked by exactness then corpus frequency. The
    // er_fuzzy_name_join machinery applied ASYMMETRICALLY — the bounded
    // query side's deletion neighborhood (word + every 1-deletion,
    // identity included) broadcast-joins the vocabulary's, which covers
    // every distance-1 edit class (delete/insert/substitute) with zero
    // quadratic pairing; levenshtein verifies candidates before the
    // per-query top-1. Unknown-but-uncorrectable terms survive as NULL
    // suggestions (the left join) — the signal to pass the term through
    // unchanged rather than silently drop it. At 100 TB the vocabulary
    // key table is Heaps-sublinear and amortizable; the per-query work
    // is neighborhood-sized.
    "search_spell_correct" -> QueryDef.sql(
      """WITH v AS (
        |  SELECT t, CAST(count(*) AS BIGINT) AS freq
        |  FROM (SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS t
        |        FROM documents) GROUP BY 1),
        |q AS (SELECT unnest(['batch', 'merg', 'spqrk', 'windoq', 'xyzzq']) AS q),
        |vk AS (SELECT DISTINCT t, substr(t, 1, i - 1) || substr(t, i + 1) AS k
        |       FROM v, LATERAL (SELECT unnest(range(1, len(t) + 2)) AS i) i),
        |qk AS (SELECT DISTINCT q, substr(q, 1, i - 1) || substr(q, i + 1) AS k
        |       FROM q, LATERAL (SELECT unnest(range(1, len(q) + 2)) AS i) i),
        |cand AS (SELECT DISTINCT qk.q, vk.t FROM qk JOIN vk ON vk.k = qk.k),
        |ok AS (SELECT c.q, c.t, v.freq, levenshtein(c.q, c.t) AS dist
        |       FROM cand c JOIN v ON v.t = c.t
        |       WHERE levenshtein(c.q, c.t) <= 1),
        |best AS (SELECT q, t, freq, dist,
        |           row_number() OVER (PARTITION BY q ORDER BY dist, freq DESC, t) AS rn
        |         FROM ok)
        |SELECT qq.q AS query, b.t AS suggestion,
        |  CAST(b.dist AS BIGINT) AS dist, b.freq
        |FROM q qq LEFT JOIN best b ON b.q = qq.q AND b.rn = 1
        |ORDER BY qq.q""".stripMargin) { (s, d) =>
      import s.implicits._
      val v = SketchQueries.tokenVocab(TextQueries.spread(documents(s, d)))
        .withColumnRenamed("cnt", "freq")
        .localCheckpoint() // feeds the key table AND the freq join
      def keysOf(df: DataFrame, cn: String) = df
        .select(col(cn), explode(sequence(lit(1), length(col(cn)) + 1)).as("i"))
        .select(col(cn),
          expr(s"concat(substring($cn, 1, i - 1), substring($cn, i + 1, 1000000))")
            .as("k"))
        .distinct()
      val q = Seq("batch", "merg", "spqrk", "windoq", "xyzzq").toDF("q")
      val cand = broadcast(keysOf(q, "q"))
        .join(keysOf(v.select("t"), "t"), Seq("k"))
        .select("q", "t").distinct()
      val ok = cand.join(v, Seq("t"))
        .filter(levenshtein(col("q"), col("t")) <= 1)
        .select(col("q"), col("t"), col("freq"),
          levenshtein(col("q"), col("t")).cast("long").as("dist"))
      val best = ok.withColumn("rn", row_number().over(
          Window.partitionBy("q").orderBy(col("dist"), col("freq").desc, col("t"))))
        .filter(col("rn") === 1)
      q.join(best, Seq("q"), "left")
        .select(col("q").as("query"), col("t").as("suggestion"),
          col("dist"), col("freq"))
        .orderBy("query")
    },

    // ----- BM25 from the PERSISTED postings store -----
    // The search-family amortization twin of dedup_minhash_lsh_stored:
    // the postings build (token explode + corpus-wide (doc, token)
    // aggregate) is the expensive stage and changes only when documents
    // change, so it is computed once and persisted; every search run
    // prunes the parquet artifact to the query vocabulary and scores the
    // sliver — corpus text is never re-tokenized. Same oracle as the
    // live query: stored must be bit-identical.
    "bm25_search_stored" -> QueryDef.sql(Bm25OracleSql) { (s, d) =>
      val docs = documents(s, d)
      val (postings, doclens) = SignatureStore.ensureBm25(s, d)
      val qt = queryTerms(docs)
      val corpusLens = doclens.filter(col("doc_id") % 97 =!= 0)
      val stats = corpusLens.agg(
        count(lit(1)).as("n"), sum("dl").cast("long").as("total"))
      val tf = postings.filter(col("doc_id") % 97 =!= 0)
        .join(broadcast(qt.select("token").distinct()), Seq("token"), "left_semi")
        .select("doc_id", "token", "tf", "dl")
      bm25Rank(tf, stats, qt, k = 5)
    },

    // ----- exact phrase search: positional adjacency match -----
    // The inverted-index phrase query (the `"..."` operator of every
    // search engine): each eval query's first two tokens form a phrase,
    // and a corpus document matches iff the two tokens occur ADJACENT in
    // order — bag-of-words search cannot express this. Scale shape: the
    // corpus side makes ONE positional pass (bigrams derive map-side
    // from the token array, deduped per doc before any join); the
    // bounded phrase set broadcasts, so matching is a broadcast
    // equi-join on the bigram string — never a corpus×queries product,
    // and the per-query result caps at a top-10 window. The fused
    // bigram key IS the positional index at phrase length 2: adjacency
    // persists in the key, so no (doc, pos+1) self-join runs at query
    // time (the `_stored` twin probes the persisted registry).
    "phrase_search" -> QueryDef.sql(PhraseOracleSql) { (s, d) =>
      val docs = documents(s, d)
      phraseRank(bigramsOf(docs.filter(col("doc_id") % 97 =!= 0)),
        queryPhrases(docs), k = 10)
    },

    // ----- phrase search from the persisted bigram registry -----
    // The amortization twin: the corpus positional pass runs once
    // ([[SignatureStore.ensurePhraseBigrams]], over ALL docs — the
    // artifact is corpus-neutral) and every phrase query probes the
    // (doc_id, bigram) parquet with a broadcast equi-join — text is
    // never re-tokenized. The store also takes streaming appends
    // (`EventStream.maintainPhraseBigrams`, latest-wins per doc), so
    // stream-ingested documents become phrase-searchable without a
    // batch rebuild. Same oracle as live: stored must be bit-identical.
    "phrase_search_stored" -> QueryDef.sql(PhraseOracleSql) { (s, d) =>
      val docs = documents(s, d)
      val bg = SignatureStore.ensurePhraseBigrams(s, d)
        .filter(col("doc_id") % 97 =!= 0)
      phraseRank(bg, queryPhrases(docs), k = 10)
    },

    // ----- hybrid search: BM25 ⊕ embedding cosine via RRF fusion -----
    // The modern retrieval composition: keyword and vector legs each
    // produce a top-5 per query, fused by reciprocal-rank fusion
    // (Cormack et al. 2009: Σ 1/(60+rank)) — the standard way to merge
    // rankings whose raw scores are incommensurable. Both legs read
    // PERSISTED artifacts (BM25 postings store; embeddings by id
    // equi-join against the bounded corpus doc set) and the fusion
    // operates on 2×5×queries rank rows — nothing corpus-scale happens
    // after the legs. Cross-engine exactness: ranks are integers and the
    // fused score is the exact integer Σ floor(1e6/(60+rank)) — no float
    // op anywhere in the emitted value; ties break on doc_id.
    "hybrid_search_rrf" -> QueryDef.sql(HybridOracleSql) { (s, d) =>
      val docs = documents(s, d)
      val (_, doclens) = SignatureStore.ensureBm25(s, d)
      val corpusLens = doclens.filter(col("doc_id") % 97 =!= 0)
      // lexical leg from the ranked-results store face (k=5 prefix)
      val btop = SignatureStore.ensureBm25TopK(s, d)
        .filter(col("rank") <= 5)
        .select(col("qid"), col("doc_id"), col("rank").as("r_b"))

      val e = embeddings(s, d).select(col("vec_id"), col("embedding"))
      val evalIds = docs.filter(col("doc_id") % 97 === 0 && col("doc_id") < 10000)
        .select("doc_id")
      val qv = e.join(broadcast(evalIds), e("vec_id") === col("doc_id"))
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      val cv = e.join(corpusLens.select("doc_id"), e("vec_id") === col("doc_id"), "left_semi")
        .select(col("vec_id").as("doc_id"), col("embedding").as("cv"))
      import graft.functions.DotF32.dot_f32
      val cos = round(dot_f32(col("qv"), col("cv")) /
        (sqrt(dot_f32(col("qv"), col("qv"))) * sqrt(dot_f32(col("cv"), col("cv")))), 6)
      val vRn = Window.partitionBy(col("qid")).orderBy(col("vscore").desc, col("doc_id"))
      val vtop = cv.crossJoin(broadcast(qv))
        .select(col("qid"), col("doc_id"), cos.as("vscore"))
        .withColumn("r_v", row_number().over(vRn))
        .filter(col("r_v") <= 5).select("qid", "doc_id", "r_v")

      val fuseRn = Window.partitionBy(col("qid")).orderBy(col("rrf_x1e6").desc, col("doc_id"))
      btop.join(vtop, Seq("qid", "doc_id"), "full_outer")
        .select(col("qid"), col("doc_id"),
          (coalesce(expr("1000000L div (60 + r_b)"), lit(0L)) +
            coalesce(expr("1000000L div (60 + r_v)"), lit(0L))).as("rrf_x1e6"))
        .withColumn("rn", row_number().over(fuseRn))
        .filter(col("rn") <= 5)
        .select("qid", "doc_id", "rrf_x1e6")
        .orderBy("qid", "doc_id")
    },

    // ----- RAG context packing: hybrid retrieval under a token budget -----
    // The serving-side capstone that composes three families the suite
    // already proves separately: RRF-fused hybrid retrieval (lexical ⊕
    // vector), per-doc token lengths from the postings store's doclen
    // table (text never re-tokenized), and greedy budget packing (the
    // pack_sequences discipline applied to a context window). Per
    // query, the fused top-5 fills a 128-token context in score order;
    // a doc that would overflow the budget is SKIPPED and the scan
    // continues (greedy-fit, not first-overflow-stops — the variant
    // that actually fills windows). The skip rule is expressed with an
    // integer prefix-max trick (a doc is kept iff its greedy running
    // total fits), replayed identically in the oracle: ≤5 rows per
    // query, so the per-query fold is a bounded sort in both engines.
    // Emits the packed docs with their running totals; order is the
    // serving order.
    "rag_context_pack" -> QueryDef.sql(RagPackSql) { (s, d) =>
      val docs = documents(s, d)
      val (_, doclens) = SignatureStore.ensureBm25(s, d)
      val corpusLens = doclens.filter(col("doc_id") % 97 =!= 0)
      // lexical leg from the ranked-results store face (k=5 prefix)
      val btop = SignatureStore.ensureBm25TopK(s, d)
        .filter(col("rank") <= 5)
        .select(col("qid"), col("doc_id"), col("rank").as("r_b"))
      val e = embeddings(s, d).select(col("vec_id"), col("embedding"))
      val evalIds = docs.filter(col("doc_id") % 97 === 0 && col("doc_id") < 10000)
        .select("doc_id")
      val qv = e.join(broadcast(evalIds), e("vec_id") === col("doc_id"))
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      val cv = e.join(corpusLens.select("doc_id"), e("vec_id") === col("doc_id"), "left_semi")
        .select(col("vec_id").as("doc_id"), col("embedding").as("cv"))
      import graft.functions.DotF32.dot_f32
      val cos = round(dot_f32(col("qv"), col("cv")) /
        (sqrt(dot_f32(col("qv"), col("qv"))) * sqrt(dot_f32(col("cv"), col("cv")))), 6)
      val vRn = Window.partitionBy(col("qid")).orderBy(col("vscore").desc, col("doc_id"))
      val vtop = cv.crossJoin(broadcast(qv))
        .select(col("qid"), col("doc_id"), cos.as("vscore"))
        .withColumn("r_v", row_number().over(vRn))
        .filter(col("r_v") <= 5).select("qid", "doc_id", "r_v")
      val fuseRn = Window.partitionBy(col("qid")).orderBy(col("rrf_x1e6").desc, col("doc_id"))
      val fused = btop.join(vtop, Seq("qid", "doc_id"), "full_outer")
        .select(col("qid"), col("doc_id"),
          (coalesce(expr("1000000L div (60 + r_b)"), lit(0L)) +
            coalesce(expr("1000000L div (60 + r_v)"), lit(0L))).as("rrf_x1e6"))
        .withColumn("rank", row_number().over(fuseRn).cast("long"))
        .filter(col("rank") <= 5)
        .join(corpusLens.select(col("doc_id"), col("dl").as("n_tokens")), Seq("doc_id"))
      // greedy-fit packing over ≤5 rows per query: collect the ranked
      // candidate list per query (bounded), fold it with the running
      // budget, and re-explode the kept rows — the per-group state is
      // the classic greedy accumulator, bounded by construction
      val packed = fused
        .groupBy("qid")
        .agg(array_sort(collect_list(struct(col("rank"), col("doc_id"),
          col("rrf_x1e6"), col("n_tokens")))).as("cand"))
        .select(col("qid"), explode(expr(
          s"""aggregate(cand,
             |  struct(CAST(0 AS BIGINT) AS cum, CAST(array() AS ARRAY<STRUCT<
             |    rank: BIGINT, doc_id: BIGINT, rrf_x1e6: BIGINT,
             |    n_tokens: BIGINT, cum_tokens: BIGINT>>) AS kept),
             |  (acc, x) -> IF(acc.cum + x.n_tokens <= $RagBudget,
             |    struct(acc.cum + x.n_tokens AS cum,
             |      array_append(acc.kept, struct(x.rank AS rank,
             |        x.doc_id AS doc_id, x.rrf_x1e6 AS rrf_x1e6,
             |        x.n_tokens AS n_tokens,
             |        acc.cum + x.n_tokens AS cum_tokens)) AS kept),
             |    acc),
             |  acc -> acc.kept)""".stripMargin)).as("p"))
        .select(col("qid"), col("p.rank").as("rank"), col("p.doc_id").as("doc_id"),
          col("p.rrf_x1e6").as("rrf_x1e6"), col("p.n_tokens").as("n_tokens"),
          col("p.cum_tokens").as("cum_tokens"))
      packed.orderBy("qid", "rank")
    },

    // ----- Rank-biased overlap between the lexical and semantic legs -----
    // The system-comparison readout that MOTIVATES hybrid fusion
    // (Webber et al., TOIS 2010): RBO@10 with persistence p = 0.9
    // scores how much the BM25 and vector top-10s agree, top-weighted —
    // agreement at rank 1 counts ~60× rank 10. Near-zero RBO is the
    // empirical case FOR fusing the legs (they surface different
    // docs); high RBO says one leg is redundant. Exactness: the
    // per-depth p^d/(9d) weights collapse to a per-shared-doc lookup
    // T[max(ra, rb)] (the suffix-sum trick — each shared doc counts in
    // every depth from its later rank on), and T enters as the fixed
    // ppm table below, so the score is an integer sum; the normalizer
    // is the TABLE's own identical-ranking total (ΣT = 651319), making
    // self-comparison exactly 1e6 by construction. Both legs read
    // persisted artifacts; everything after is 10×queries rank rows.
    "search_rank_overlap_rbo" -> QueryDef.sql(RboOracleSql) { (s, d) =>
      val docs = documents(s, d)
      val (_, doclens) = SignatureStore.ensureBm25(s, d)
      val qt = queryTerms(docs)
      val corpusLens = doclens.filter(col("doc_id") % 97 =!= 0)
      // lexical leg: the ranked-results store face — no live retrieval
      val btop = SignatureStore.ensureBm25TopK(s, d)
        .select(col("qid"), col("doc_id"), col("rank").as("ra"))
      val e = embeddings(s, d).select(col("vec_id"), col("embedding"))
      val evalIds = docs.filter(col("doc_id") % 97 === 0 && col("doc_id") < 10000)
        .select("doc_id")
      val qv = e.join(broadcast(evalIds), e("vec_id") === col("doc_id"))
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      val cv = e.join(corpusLens.select("doc_id"), e("vec_id") === col("doc_id"), "left_semi")
        .select(col("vec_id").as("doc_id"), col("embedding").as("cv"))
      import graft.functions.DotF32.dot_f32
      val cos = round(dot_f32(col("qv"), col("cv")) /
        (sqrt(dot_f32(col("qv"), col("qv"))) * sqrt(dot_f32(col("cv"), col("cv")))), 6)
      val vRn = Window.partitionBy(col("qid")).orderBy(col("vscore").desc, col("doc_id"))
      val vtop = cv.crossJoin(broadcast(qv))
        .select(col("qid"), col("doc_id"), cos.as("vscore"))
        .withColumn("rb", row_number().over(vRn).cast("long"))
        .filter(col("rb") <= 10).select("qid", "doc_id", "rb")
      import s.implicits._
      val tw = broadcast(RboSuffixPpm.zipWithIndex
        .map { case (w, i) => (i + 1L, w) }.toDF("m", "w"))
      val per = btop.join(vtop, Seq("qid", "doc_id"))
        .select(col("qid"), greatest(col("ra"), col("rb")).as("m"))
        .join(tw, Seq("m"))
        .groupBy("qid")
        .agg(count(lit(1)).as("n_shared"), sum("w").as("rbo"))
      qt.select("qid").distinct()
        .join(per, Seq("qid"), "left")
        .select(col("qid"),
          coalesce(col("n_shared"), lit(0L)).as("n_shared"),
          coalesce(col("rbo"), lit(0L)).as("rbo_ppm"),
          expr(s"CAST((1000000L * coalesce(rbo, 0L)) div ${RboSuffixPpm.sum} AS BIGINT)")
            .as("rbo_norm_ppm"))
        .orderBy("qid")
    },

    // ----- hard-negative mining for retrieval-model training -----
    // The contrastive-training data op (DPR/Contriever recipe):
    // embedding-SIMILAR documents that are NOT keyword-relevant make
    // the hardest negatives — semantically close enough to confuse the
    // model, lexically unrelated to the query. Vector top-10 per query
    // anti-joined against the BM25 top-5 (the positives/near-positives),
    // top-3 survivors emitted with their cosine. Both legs read
    // persisted artifacts; the anti-join runs on 10×queries rank rows.
    "mine_hard_negatives" -> QueryDef.sql(HardNegOracleSql) { (s, d) =>
      val docs = documents(s, d)
      val (_, doclens) = SignatureStore.ensureBm25(s, d)
      val corpusLens = doclens.filter(col("doc_id") % 97 =!= 0)
      // positives/near-positives from the ranked-results store face
      val btop = SignatureStore.ensureBm25TopK(s, d)
        .filter(col("rank") <= 5).select("qid", "doc_id")

      val e = embeddings(s, d).select(col("vec_id"), col("embedding"))
      val evalIds = docs.filter(col("doc_id") % 97 === 0 && col("doc_id") < 10000)
        .select("doc_id")
      val qv = e.join(broadcast(evalIds), e("vec_id") === col("doc_id"))
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      val cv = e.join(corpusLens.select("doc_id"), e("vec_id") === col("doc_id"), "left_semi")
        .select(col("vec_id").as("doc_id"), col("embedding").as("cv"))
      import graft.functions.DotF32.dot_f32
      val cos = round(dot_f32(col("qv"), col("cv")) /
        (sqrt(dot_f32(col("qv"), col("qv"))) * sqrt(dot_f32(col("cv"), col("cv")))), 6)
      val vRn = Window.partitionBy(col("qid")).orderBy(col("vscore").desc, col("doc_id"))
      val vtop = cv.crossJoin(broadcast(qv))
        .select(col("qid"), col("doc_id"), cos.as("vscore"))
        .withColumn("r", row_number().over(vRn))
        .filter(col("r") <= 10).select("qid", "doc_id", "vscore")

      val negRn = Window.partitionBy(col("qid")).orderBy(col("vscore").desc, col("doc_id"))
      vtop.join(btop, Seq("qid", "doc_id"), "left_anti")
        .withColumn("rn", row_number().over(negRn))
        .filter(col("rn") <= 3)
        .select("qid", "doc_id", "vscore")
        .orderBy("qid", "doc_id")
    },

    // ----- pseudo-relevance-feedback query expansion (two-round BM25) -----
    // Rocchio-style PRF: round 1 retrieves each query's top-5, the
    // feedback docs nominate expansion terms (ranked by how many
    // feedback docs contain the term, rarer-globally first, original
    // query terms excluded), the top-2 join the query, and round 2
    // re-ranks with the expanded vocabulary — the classic fix for
    // vocabulary mismatch between query and corpus. Scale shape: BOTH
    // rounds read the persisted postings store pruned to their (still
    // bounded) vocabulary — corpus text is never touched; the feedback
    // term extraction probes the store by the ≤5·queries feedback doc
    // ids; candidate/global-df tables are vocabulary-bounded. Term
    // selection is all-integer with full tie-breaks, so the expanded
    // query set — and therefore every round-2 score — is deterministic
    // cross-engine.
    "bm25_prf_expansion" -> QueryDef.sql(PrfOracleSql) { (s, d) =>
      val docs = documents(s, d)
      val (postings, doclens) = SignatureStore.ensureBm25(s, d)
      // the bounded query-term table feeds FOUR consumers (round-1
      // vocab prune + rank, candidate anti-join, round-2 union) — pin
      // it once so the eval slice of documents is scanned exactly once
      val qt = queryTerms(docs).localCheckpoint()
      val corpusLens = doclens.filter(col("doc_id") % 97 =!= 0)
      val stats = corpusLens.agg(
        count(lit(1)).as("n"), sum("dl").cast("long").as("total"))
      val corpusPostings = postings.filter(col("doc_id") % 97 =!= 0)

      // round-1 feedback docs from the ranked-results store face — the
      // first retrieval is exactly the persisted top-5
      val btop = SignatureStore.ensureBm25TopK(s, d)
        .filter(col("rank") <= 5).select("qid", "doc_id")

      // feedback-doc term profile: postings rows of the ≤5·queries docs
      val fbd = corpusPostings.select("doc_id", "token")
        .join(broadcast(btop), Seq("doc_id"))
        .groupBy("qid", "token")
        .agg(countDistinct(col("doc_id")).as("nfb"))
      val cand = fbd.join(qt, Seq("qid", "token"), "left_anti")
      val gdf = corpusPostings
        .join(broadcast(cand.select("token").distinct()), Seq("token"), "left_semi")
        .groupBy("token").agg(count(lit(1)).as("gdf"))
      val expRn = Window.partitionBy(col("qid"))
        .orderBy(col("nfb").desc, col("gdf").asc, col("token"))
      val expansion = cand.join(gdf, Seq("token"))
        .withColumn("r", row_number().over(expRn))
        .filter(col("r") <= 2)
        .select("qid", "token")
      // pinning the expanded query set severs round 2's plan from the
      // whole round-1 retrieval subtree (round 2 re-executes nothing)
      val qt2 = qt.unionByName(expansion).localCheckpoint()

      val tf2 = corpusPostings
        .join(broadcast(qt2.select("token").distinct()), Seq("token"), "left_semi")
        .select("doc_id", "token", "tf", "dl")
      bm25Rank(tf2, stats, qt2, k = 5)
    },

    // ----- boolean conjunctive search (AND of all query terms) -----
    // The third retrieval mode beside ranked (BM25) and positional
    // (phrase): a document qualifies iff it contains EVERY query term —
    // the inverted-index intersection. Relational form: the postings
    // sliver pruned to the broadcast query vocabulary, counted per
    // (qid, doc), and matched against each query's term count m — the
    // COUNT(*) = m group filter IS the k-way list intersection, and it
    // runs as one map-side-combinable aggregate over the pruned sliver
    // (never an m-way self-join). Top-10 doc ids per query cap the
    // output. The `_stored` twin intersects the persisted postings
    // without re-tokenizing; both share one oracle.
    "bool_search_and" -> QueryDef.sql(BoolOracleSql) { (s, d) =>
      val docs = documents(s, d)
      val qt = queryTerms(docs)
      val ct = TextQueries.spread(docs.filter(col("doc_id") % 97 =!= 0))
        .select(col("doc_id"),
          explode(array_distinct(graft.functions.WsTokens.ws_tokens(col("text")))).as("token"))
      boolRank(ct, qt, k = 10)
    },
    "bool_search_and_stored" -> QueryDef.sql(BoolOracleSql) { (s, d) =>
      val docs = documents(s, d)
      val (postings, _) = SignatureStore.ensureBm25(s, d)
      boolRank(postings.filter(col("doc_id") % 97 =!= 0)
        .select("doc_id", "token"), queryTerms(docs), k = 10)
    },

    // ----- keyword extraction: top TF-IDF terms per document -----
    // The tagging/labeling face of the postings artifact: each
    // document's 3 most characteristic terms (tf·idf, the log-free
    // rational surrogate; ties to the lexicographically smaller token),
    // as integer-floored weights both engines reproduce. Everything is
    // served by the store — one token-keyed df aggregate, one broadcast
    // stats row, one doc-keyed top-3 window; text is never
    // re-tokenized. The per-doc keyword table is the input of faceted
    // browse, topic drill-down, and weak-label construction.
    "text_keywords" -> QueryDef.sql(
      """WITH corpus AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS tk
        |  FROM documents),
        |n1 AS (SELECT CAST(count(*) AS BIGINT) AS n FROM corpus),
        |tf AS (
        |  SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
        |  FROM (SELECT doc_id, unnest(tk) AS token FROM corpus) GROUP BY 1, 2),
        |df AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        |w AS (
        |  SELECT t.doc_id, t.token,
        |    CAST(floor((CAST(t.tf AS DOUBLE) *
        |      ((CAST(n.n AS DOUBLE) - CAST(f.df AS DOUBLE) + 0.5) /
        |       (CAST(f.df AS DOUBLE) + 0.5))) * 1000.0) AS BIGINT) AS weight
        |  FROM tf t JOIN df f ON f.token = t.token, n1 n)
        |SELECT doc_id, token, weight FROM w
        |QUALIFY row_number() OVER (PARTITION BY doc_id
        |  ORDER BY weight DESC, token) <= 3
        |ORDER BY doc_id, token""".stripMargin) { (s, d) =>
      val (postings, doclens) = SignatureStore.ensureBm25(s, d)
      val n1 = doclens.agg(count(lit(1)).as("n"))
      val tf = postings.select("doc_id", "token", "tf").localCheckpoint()
      val df = tf.groupBy("token").agg(count(lit(1)).as("df"))
      val idf = (col("n").cast("double") - col("df").cast("double") + lit(0.5)) /
        (col("df").cast("double") + lit(0.5))
      val rn = Window.partitionBy(col("doc_id"))
        .orderBy(col("weight").desc, col("token"))
      tf.join(broadcast(df), Seq("token"))
        .crossJoin(broadcast(n1))
        .select(col("doc_id"), col("token"),
          floor(col("tf").cast("double") * idf * lit(1000.0)).cast("long")
            .as("weight"))
        .withColumn("rn", row_number().over(rn))
        .filter(col("rn") <= 3)
        .select("doc_id", "token", "weight")
        .orderBy("doc_id", "token")
    },

    // ----- more-like-this: TF-IDF doc-to-doc retrieval from seeds -----
    // The fourth retrieval mode: the QUERY is a whole document (its
    // tf·idf term vector), not a term list — content-based "find
    // similar" for dup triage and corpus expansion. Both the seed
    // vectors and the corpus sliver come from the persisted postings
    // store (zero re-tokenization); the seed side is bounded and
    // broadcasts, the corpus postings prune to the seed vocabulary
    // before the join, and per-term contributions floor to integers
    // before summation (the BM25 exactness idiom: one double expression
    // tree, identical on both engines, then order-free integer sums).
    // idf is the log-free rational surrogate shared with BM25.
    "more_like_this" -> QueryDef.sql(MltOracleSql) { (s, d) =>
      val (postings, doclens) = SignatureStore.ensureBm25(s, d)
      val seeds = postings.filter(col("doc_id") % 97 === 0 && col("doc_id") < 10000)
        .select(col("doc_id").as("qid"), col("token"), col("tf").as("tfq"))
      val corpusLens = doclens.filter(col("doc_id") % 97 =!= 0)
      val n1 = corpusLens.agg(count(lit(1)).as("n"))
      val tf = postings.filter(col("doc_id") % 97 =!= 0)
        .join(broadcast(seeds.select("token").distinct()), Seq("token"), "left_semi")
        .select("doc_id", "token", "tf")
        .localCheckpoint() // feeds df AND the contribution join
      val df = tf.groupBy("token").agg(count(lit(1)).as("df"))
      val idf = (col("n").cast("double") - col("df").cast("double") + lit(0.5)) /
        (col("df").cast("double") + lit(0.5))
      val scored = tf.join(broadcast(df), Seq("token"))
        .crossJoin(broadcast(n1))
        .select(col("token"), col("doc_id"),
          (col("tf").cast("double") * idf).as("wd"))
      val contrib = broadcast(seeds).join(scored, Seq("token"))
        .select(col("qid"), col("doc_id"),
          floor(col("tfq").cast("double") * col("wd") * lit(1000.0)).cast("long").as("c"))
      val rn = Window.partitionBy(col("qid")).orderBy(col("score").desc, col("doc_id"))
      contrib.groupBy("qid", "doc_id").agg(sum("c").as("score"))
        .withColumn("rn", row_number().over(rn))
        .filter(col("rn") <= 5)
        .select("qid", "doc_id", "score")
        .orderBy("qid", "doc_id")
    },

    // ----- Dirichlet-smoothed query likelihood (Zhai & Lafferty 2001) -----
    // The language-modeling scorer beside BM25 and TF-IDF — the third
    // classical retrieval family, ranked here in the EXACT PRODUCT form
    // so no transcendental ever runs: each query position contributes
    // the smoothed probability p(t|d) = (tf + µ·cf/total)/(dl + µ) as a
    // floored ppb integer (one cross-multiplied div, µ = 500), and the
    // document score is the exact integer product of the ≤4 position
    // probabilities (the query is each eval doc's first 4 tokens, so
    // the product is bounded by (1e9)^4 = 1e36 < DECIMAL(38) at ANY
    // corpus size — log-space scoring would need a per-row ln whose
    // last ulp is not contractual across engines). Repeated query terms
    // square their probability, which is exactly QL's query-tf
    // exponent. Out-of-vocabulary terms are dropped (their smoothed
    // probability is literally 0 — every document would score 0 — so
    // they carry no ranking signal; the standard LM treatment).
    // Scale shape: reads the persisted BM25 postings store (corpus text
    // is never re-tokenized), prunes it to the broadcast ≤4-token-per-
    // query vocabulary BEFORE anything corpus-wide, candidates are docs
    // matching ≥1 term, and the position pivot is a 4-way conditional
    // max — one hash aggregate, never a per-doc list. The ppb numerator
    // is widened to DECIMAL(38,0) because tf·total reaches ~1e13·30 at
    // 100 TB — past BIGINT once multiplied by the 1e9 scale.
    "search_query_likelihood" -> QueryDef.sql(QlOracleSql) { (s, d) =>
      val docs = documents(s, d)
      val (postings, doclens) = SignatureStore.ensureBm25(s, d)
      val qp0 = docs.filter(col("doc_id") % 97 === 0 && col("doc_id") < 10000)
        .select(col("doc_id").as("qid"), graft.functions.WsTokens.ws_tokens(col("text")).as("tk"))
        .filter(size(col("tk")) >= 4)
        .select(col("qid"), posexplode(expr("slice(tk, 1, 4)")))
        .withColumnRenamed("col", "token")
      val corpusLens = doclens.filter(col("doc_id") % 97 =!= 0)
      val stats = corpusLens.agg(sum("dl").cast("long").as("total"))
      val tf = postings.filter(col("doc_id") % 97 =!= 0)
        .join(broadcast(qp0.select("token").distinct()), Seq("token"), "left_semi")
        .select("doc_id", "token", "tf")
        .localCheckpoint() // feeds cf, candidates, and the tf join
      val cf = tf.groupBy("token").agg(sum("tf").cast("long").as("cf"))
      // drop OOV query terms (cf = 0 ⇒ p ≡ 0 for every doc)
      val qp = qp0.join(broadcast(cf), Seq("token"))
      val cand = tf.join(broadcast(qp.select("qid", "token").distinct()), Seq("token"))
        .select("qid", "doc_id").distinct()
      val p = cand.join(broadcast(qp), Seq("qid"))
        .join(tf, Seq("doc_id", "token"), "left")
        .join(corpusLens, Seq("doc_id"))
        .crossJoin(broadcast(stats))
        .select(col("qid"), col("doc_id"), col("pos"),
          expr("""CAST((CAST(1000000000 AS DECIMAL(38,0)) *
                 |  (coalesce(tf, 0L) * total + 500L * cf)) div
                 |  ((dl + 500L) * CAST(total AS DECIMAL(38,0))) AS BIGINT)""".stripMargin)
            .as("p_ppb"))
      val sc = p.groupBy("qid", "doc_id").agg(
        count(lit(1)).as("n_terms"),
        expr("""CAST(coalesce(max(CASE WHEN pos = 0 THEN p_ppb END), 1L) AS DECIMAL(38,0))
               |  * coalesce(max(CASE WHEN pos = 1 THEN p_ppb END), 1L)
               |  * coalesce(max(CASE WHEN pos = 2 THEN p_ppb END), 1L)
               |  * coalesce(max(CASE WHEN pos = 3 THEN p_ppb END), 1L)""".stripMargin)
          .as("prod"))
      val rn = Window.partitionBy(col("qid")).orderBy(col("prod").desc, col("doc_id"))
      sc.withColumn("rn", row_number().over(rn).cast("long"))
        .filter(col("rn") <= 5)
        .select(col("qid"), col("doc_id"), col("rn"), col("n_terms"),
          expr("CAST(prod div CAST('1000000000000000000000000000' AS DECIMAL(38,0)) AS BIGINT)")
            .as("ql_x1e9"))
        .orderBy("qid", "doc_id")
    },

    // ----- RAKE keyword extraction (Rose et al. 2010) -----
    // The phrase-level companion of text_keywords (TF-IDF ranks WORDS;
    // RAKE ranks stopword-delimited PHRASES): candidate phrases are
    // maximal stopword-free token runs (capped at 4 tokens — applied
    // consistently to both the candidate set and the word statistics),
    // each word scores deg/freq where deg sums the lengths of the
    // phrases containing it (co-occurrence degree) and freq counts its
    // occurrences, and a phrase scores the sum of its words' scores —
    // favoring longer domain phrases over frequent single words, with
    // zero model state. Exactness: word scores are floored ppm
    // integers (deg·1e6 widened to DECIMAL because corpus-wide word
    // degrees pass 1e13 at 100 TB), phrase scores exact BIGINT sums,
    // global top-20 with a phrase tiebreak. Scale shape: one token
    // explode, a doc-keyed position window for run-splitting (never
    // global), vocabulary-cardinality word stats broadcast back to the
    // phrase members, phrase-cardinality aggregates after.
    "text_keywords_rake" -> QueryDef.sql(
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS tk
        |  FROM documents WHERE text IS NOT NULL),
        |tok AS (
        |  SELECT doc_id, u.i AS i, u.tok AS token,
        |    CASE WHEN u.tok IN ('the','a','an','of','to','and','in','is')
        |      THEN 1 ELSE 0 END AS stop
        |  FROM (SELECT doc_id,
        |          unnest([{'i': i, 'tok': tk[i]} for i in generate_series(1, len(tk))]) AS u
        |        FROM t)),
        |runs AS (
        |  SELECT doc_id, i, token, stop,
        |    sum(stop) OVER (PARTITION BY doc_id ORDER BY i) AS run_id
        |  FROM tok),
        |member AS (SELECT doc_id, run_id, i, token FROM runs WHERE stop = 0),
        |ph AS (
        |  SELECT doc_id, run_id, string_agg(token, ' ' ORDER BY i) AS phrase,
        |    CAST(count(*) AS BIGINT) AS plen
        |  FROM member GROUP BY 1, 2),
        |phv AS (SELECT * FROM ph WHERE plen <= 4),
        |wsc AS (
        |  SELECT m.token, CAST(count(*) AS BIGINT) AS freq,
        |    CAST(sum(p.plen) AS BIGINT) AS deg,
        |    CAST((CAST(1000000 AS HUGEINT) * CAST(sum(p.plen) AS BIGINT)) //
        |      count(*) AS BIGINT) AS w_ppm
        |  FROM member m JOIN phv p ON p.doc_id = m.doc_id AND p.run_id = m.run_id
        |  GROUP BY 1),
        |psc AS (
        |  SELECT p.phrase, p.doc_id, p.run_id, CAST(sum(w.w_ppm) AS BIGINT) AS score_ppm
        |  FROM phv p JOIN member m ON m.doc_id = p.doc_id AND m.run_id = p.run_id
        |  JOIN wsc w ON w.token = m.token
        |  GROUP BY 1, 2, 3),
        |agg AS (SELECT phrase, CAST(count(*) AS BIGINT) AS n_occ,
        |          min(score_ppm) AS score_ppm
        |        FROM psc GROUP BY 1)
        |SELECT phrase, n_occ, score_ppm,
        |  CAST(row_number() OVER (ORDER BY score_ppm DESC, phrase) AS BIGINT) AS rank
        |FROM agg QUALIFY rank <= 20 ORDER BY rank""".stripMargin) { (s, d) =>
      val member = TextQueries.spread(documents(s, d).filter(col("text").isNotNull))
        .withColumn("tk", expr(TextQueries.toksExpr))
        .select(col("doc_id"), posexplode(col("tk")))
        .select(col("doc_id"), (col("pos") + 1).as("i"), col("col").as("token"),
          expr("CASE WHEN col IN ('the','a','an','of','to','and','in','is') " +
            "THEN 1 ELSE 0 END").as("stop"))
        .withColumn("run_id", sum("stop").over(
          Window.partitionBy("doc_id").orderBy("i")))
        .filter(col("stop") === 0)
        .select("doc_id", "run_id", "i", "token")
        .localCheckpoint() // feeds phrases, word stats, and the score join
      val phv = member.groupBy("doc_id", "run_id")
        .agg(expr("array_join(transform(array_sort(collect_list(struct(i, token))), " +
          "s -> s.token), ' ')").as("phrase"),
          count(lit(1)).as("plen"))
        .filter(col("plen") <= 4)
        .localCheckpoint() // feeds wsc and psc
      val wsc = member.join(phv.select("doc_id", "run_id", "plen"),
          Seq("doc_id", "run_id"))
        .groupBy("token")
        .agg(count(lit(1)).as("freq"), sum("plen").as("deg"))
        .select(col("token"),
          expr("CAST((CAST(1000000 AS DECIMAL(38,0)) * deg) div freq AS BIGINT)")
            .as("w_ppm"))
      val psc = phv.join(member, Seq("doc_id", "run_id"))
        .join(broadcast(wsc), Seq("token"))
        .groupBy("phrase", "doc_id", "run_id")
        .agg(sum("w_ppm").as("score_ppm"))
      // distributed top-k (TakeOrderedAndProject), THEN the rank window
      // over the surviving 20 rows — never a single-partition window on
      // the full phrase table
      val rn = Window.orderBy(col("score_ppm").desc, col("phrase"))
      psc.groupBy("phrase")
        .agg(count(lit(1)).as("n_occ"), min("score_ppm").as("score_ppm"))
        .orderBy(col("score_ppm").desc, col("phrase")).limit(20)
        .withColumn("rank", row_number().over(rn).cast("long"))
        .select("phrase", "n_occ", "score_ppm", "rank")
        .orderBy("rank")
    },

    // ----- snippet extraction: the best 10-token window per hit -----
    // The result-presentation stage every search stack runs after
    // ranking: for each query's BM25 top-1 document, the contiguous
    // 10-token window containing the most query-term occurrences (ties
    // to the earliest position) plus its text. Exact and bounded:
    // only the top documents re-tokenize (result-set cardinality, not
    // corpus), hit counts prefix-sum over a doc-keyed position window,
    // and window scoring is ONE rank-offset equi-join (pos+9 — the
    // er_sorted_neighborhood pattern; windows that would overrun the
    // document are excluded, so docs under 10 tokens emit nothing,
    // documented). The snippet itself is an exact token slice — both
    // engines join the array back and cut [best_pos, 10].
    "search_snippet_window" -> QueryDef.sql(SnippetOracleSql) { (s, d) =>
      val docs = documents(s, d)
      val qt = queryTerms(docs)
      // top-1 docs from the ranked-results store face: the query is
      // pure presentation cost (re-tokenize ≤1 doc per query)
      val top = SignatureStore.ensureBm25TopK(s, d)
        .filter(col("rank") === 1).select("qid", "doc_id")
      // bounded: the top documents only — re-tokenize just those
      val docTk = docs.join(top.select("doc_id").distinct(), Seq("doc_id"), "left_semi")
        .select(col("doc_id"), graft.functions.WsTokens.ws_tokens(col("text")).as("tk"))
        .localCheckpoint() // positions + the final snippet slice share it
      val posTok = docTk
        .select(col("doc_id"), size(col("tk")).cast("long").as("dl"),
          posexplode(col("tk")))
        .select(col("doc_id"), col("dl"), (col("pos") + 1).cast("long").as("p"),
          col("col").as("token"))
      val hits = broadcast(top).join(posTok, Seq("doc_id"))
        .join(broadcast(qt.withColumn("hit", lit(1L))), Seq("qid", "token"), "left")
        .select(col("qid"), col("doc_id"), col("dl"), col("p"),
          coalesce(col("hit"), lit(0L)).as("hit"))
      val cum = hits.withColumn("cum", sum("hit").over(
          Window.partitionBy("qid", "doc_id").orderBy("p")))
        .localCheckpoint() // both sides of the window join
      val a = cum.filter(col("p") <= col("dl") - 9)
        .select(col("qid"), col("doc_id"), col("p"), col("hit"), col("cum").as("ca"))
      val b = cum.select(col("qid"), col("doc_id"), (col("p") - 9).as("p"),
        col("cum").as("cb"))
      val scored = a.join(b, Seq("qid", "doc_id", "p"))
        .select(col("qid"), col("doc_id"), col("p"),
          (col("cb") - col("ca") + col("hit")).as("w_hits"))
      val rnW = Window.partitionBy("qid", "doc_id")
        .orderBy(col("w_hits").desc, col("p"))
      scored.withColumn("rn", row_number().over(rnW))
        .filter(col("rn") === 1)
        .join(docTk, Seq("doc_id"))
        .select(col("qid"), col("doc_id"), col("p").as("best_pos"), col("w_hits"),
          expr("array_join(slice(tk, CAST(p AS INT), 10), ' ')").as("snippet"))
        .orderBy("qid", "doc_id")
    },
  )

  /** Conjunctive-match stage shared by the live and stored paths: `ct`
    * is the DISTINCT (doc_id, token) table (live explode or postings
    * read — postings rows are distinct per (doc, token) by
    * construction), `qt` the bounded (qid, token) query-term table. */
  private def boolRank(ct: DataFrame, qt: DataFrame, k: Int): DataFrame = {
    val qtP = qt.localCheckpoint() // feeds both m and the match join
    val m = qtP.groupBy("qid").agg(count(lit(1)).as("m"))
    val rn = Window.partitionBy(col("qid")).orderBy(col("doc_id"))
    broadcast(qtP).join(ct, Seq("token"))
      .groupBy("qid", "doc_id").agg(count(lit(1)).as("nm"))
      .join(broadcast(m), Seq("qid"))
      .filter(col("nm") === col("m"))
      .withColumn("rn", row_number().over(rn))
      .filter(col("rn") <= k)
      .select("qid", "doc_id")
      .orderBy("qid", "doc_id")
  }
}
