package graft.operators

import graft.QueryDef
import graft.util.Tables._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Diversity-aware re-ranking — maximal marginal relevance (MMR,
  * Carbonell & Goldstein, SIGIR 1998) over an ANN shortlist.
  *
  * The retrieval-augmentation serving step after any of the ANN tiers:
  * a plain top-k returns near-duplicate neighbors (by construction —
  * that's what similarity search optimizes), while the context window
  * wants COVERAGE. MMR greedily picks argmax λ·rel(c) − (1−λ)·max
  * sim(c, selected), trading relevance against redundancy.
  *
  * Determinism: relevance and pairwise similarity enter the greedy loop
  * as exact scaled integers (`round(cos, 6) · 10⁶` — the rounded cosine
  * is the same double on both engines, and ×10⁶ of a 6-decimal value
  * re-rounds to an exact integer with no realizable tie). λ = 0.7
  * becomes the integer objective `7·rel − 3·maxsim`, so every greedy
  * step is a BIGINT argmax with an id tie-break — the DuckDB oracle
  * unrolls the K steps as CTEs and reproduces the selection bit-for-bit.
  *
  * Scale shape: the only corpus-cardinality stage is shortlist
  * generation (the brute/IVF/PQ searches — here the broadcast-query
  * brute pass, the same plan as ann_topk_bruteforce). Everything after
  * operates on queries×N rows (the shortlist) and queries×N² rows (its
  * pairwise similarities) — bounded by the query-set contract, eagerly
  * localCheckpoint'ed so the K-step loop cannot nest plans.
  */
object RerankQueries {

  val NQueries = 20   // vec_id < 20 — the re-rank demo query set
  val N = 20          // shortlist size per query
  val K = 5           // results kept per query
  // λ = 0.7 as exact integer weights: obj = 7·rel − 3·maxsim
  val WRel = 7L
  val WDiv = 3L

  /** Exact scaled-integer cosine: round(cos, 6) · 10⁶ as BIGINT. */
  private def scaledScore(a: String, b: String): Column =
    round(VectorQueries.score(a, b) * lit(1000000.0)).cast("long")

  /** Shortlist generation — the only corpus-cardinality stage: the
    * corpus streams, the bounded query set broadcasts (never the
    * reverse; pinned by PlanAssertSpec). */
  def bruteShortlist(e: DataFrame, queries: DataFrame): DataFrame = {
    val relW = Window.partitionBy(col("qid")).orderBy(col("ri").desc, col("cid"))
    e.select(col("vec_id").as("cid"), col("embedding").as("cv"))
      .crossJoin(broadcast(queries))
      .filter(col("cid") =!= col("qid"))
      .select(col("qid"), col("cid"), scaledScore("qv", "cv").as("ri"))
      .withColumn("rn", row_number().over(relW)).filter(col("rn") <= N)
      .select("qid", "cid", "ri")
  }

  /** Pairwise scaled sims among shortlist members (vectors attach by id
    * equi-join so the score evaluates in a codegen stage). */
  def pairSims(e: DataFrame, cand: DataFrame): DataFrame = {
    val cv1 = e.select(col("vec_id").as("ca"), col("embedding").as("va"))
    val cv2 = e.select(col("vec_id").as("cb"), col("embedding").as("vb"))
    cand.select(col("qid"), col("cid").as("ca"))
      .join(cand.select(col("qid"), col("cid").as("cb")), Seq("qid"))
      .filter(col("ca") =!= col("cb"))
      .join(cv1, Seq("ca")).join(cv2, Seq("cb"))
      .select(col("qid"), col("ca"), col("cb"), scaledScore("va", "vb").as("si"))
  }

  /** Greedy MMR over a bounded (qid, cid, ri) shortlist with pairwise
    * scaled sims attached; returns (qid, cid, rnk, obj). */
  def mmrSelect(cand: DataFrame, pair: DataFrame, k: Int): DataFrame = {
    val relW = Window.partitionBy(col("qid")).orderBy(col("ri").desc, col("cid"))
    val objW = Window.partitionBy(col("qid")).orderBy(col("obj").desc, col("cid"))
    // step 1 is pure relevance (max sim over the empty set is 0)
    var selected = cand.withColumn("rn", row_number().over(relW))
      .filter(col("rn") === 1)
      .select(col("qid"), col("cid"), lit(1).as("rnk"),
        (lit(WRel) * col("ri")).as("obj"))
      .localCheckpoint()
    for (step <- 2 to k) {
      val remaining = cand.join(selected.select("qid", "cid"), Seq("qid", "cid"), "left_anti")
      val next = remaining
        .join(pair.withColumnRenamed("ca", "cid"), Seq("qid", "cid"))
        .join(selected.select(col("qid"), col("cid").as("cb")), Seq("qid", "cb"))
        .groupBy(col("qid"), col("cid"), col("ri"))
        .agg(max(col("si")).as("ms"))
        .select(col("qid"), col("cid"),
          (lit(WRel) * col("ri") - lit(WDiv) * col("ms")).as("obj"))
        .withColumn("rn", row_number().over(objW))
        .filter(col("rn") === 1)
        .select(col("qid"), col("cid"), lit(step).as("rnk"), col("obj"))
      selected = selected.unionByName(next).localCheckpoint()
    }
    selected
  }

  private lazy val MmrOracleSql: String = {
    val steps = (2 to K).map { k =>
      s"""ms$k AS (
         |  SELECT t.qid, t.cid, t.ri, max(p.si) AS ms
         |  FROM cand t
         |  JOIN pair p ON p.qid = t.qid AND p.ca = t.cid
         |  JOIN selu${k - 1} s ON s.qid = p.qid AND s.cid = p.cb
         |  WHERE NOT EXISTS (SELECT 1 FROM selu${k - 1} z
         |                    WHERE z.qid = t.qid AND z.cid = t.cid)
         |  GROUP BY t.qid, t.cid, t.ri),
         |sel$k AS (
         |  SELECT qid, cid, CAST($k AS INT) AS rnk, $WRel*ri - $WDiv*ms AS obj
         |  FROM ms$k
         |  QUALIFY row_number() OVER (PARTITION BY qid ORDER BY $WRel*ri - $WDiv*ms DESC, cid) = 1),
         |selu$k AS (SELECT * FROM selu${k - 1} UNION ALL SELECT * FROM sel$k)""".stripMargin
    }
    s"""WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
       |           FROM embeddings WHERE vec_id < $NQueries),
       |c AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS cv FROM embeddings),
       |sc AS (SELECT qid, cid,
       |         CAST(round(round(list_cosine_similarity(qv, cv), 6)*1000000) AS BIGINT) AS ri
       |       FROM q, c WHERE qid <> cid),
       |cand AS (SELECT qid, cid, ri FROM sc
       |         QUALIFY row_number() OVER (PARTITION BY qid ORDER BY ri DESC, cid) <= $N),
       |pair AS (SELECT a.qid, a.cid AS ca, b.cid AS cb,
       |           CAST(round(round(list_cosine_similarity(x.cv, y.cv), 6)*1000000) AS BIGINT) AS si
       |         FROM cand a JOIN cand b ON a.qid = b.qid AND a.cid <> b.cid
       |         JOIN c x ON x.cid = a.cid JOIN c y ON y.cid = b.cid),
       |selu1 AS (SELECT qid, cid, CAST(1 AS INT) AS rnk, $WRel*ri AS obj FROM cand
       |          QUALIFY row_number() OVER (PARTITION BY qid ORDER BY ri DESC, cid) = 1),
       |${steps.mkString(",\n")}
       |SELECT qid, rnk, cid, obj FROM selu$K ORDER BY qid, rnk""".stripMargin
  }

  def defs: Map[String, QueryDef] = Map(

    // ----- MMR diversity re-rank of an ANN shortlist -----
    // Shortlist by broadcast-query brute cosine (the ann_topk_bruteforce
    // plan — swap in the IVF/PQ searches at scale); greedy λ=0.7 MMR in
    // exact scaled-integer arithmetic down to K per query. The oracle
    // unrolls all K greedy steps and hash-checks every (rank, pick,
    // objective) cell.
    "mmr_rerank" -> QueryDef.sql(MmrOracleSql) { (s, d) =>
      val e = embeddings(s, d).select(col("vec_id"), col("embedding"))
      val queries = e.filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      val cand = bruteShortlist(e, queries).localCheckpoint() // bounded: queries × N
      val pair = pairSims(e, cand).localCheckpoint() // bounded: queries × N × (N−1)
      mmrSelect(cand, pair, K)
        .select("qid", "rnk", "cid", "obj")
        .orderBy("qid", "rnk")
    },
  )
}
