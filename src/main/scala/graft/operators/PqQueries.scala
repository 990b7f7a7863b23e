package graft.operators

import graft.QueryDef
import graft.util.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product quantization (PQ) — the fourth tier of the stored-vector
  * search path (brute → LSH → IVF → int8 → PQ), after Jégou et al.,
  * "Product Quantization for Nearest Neighbor Search" (TPAMI 2011).
  *
  * The 64-dim embedding splits into M=8 subvectors of 8 dims; each
  * subspace learns K=16 codewords by Lloyd iterations, and a vector is
  * stored as 8 one-byte codes — 32× smaller than the float vector (the
  * int8 store is only 4×). Search is asymmetric distance computation
  * (ADC): a query computes one 8×16 distance table against the codebook,
  * candidates are ranked by summing 8 table entries per vector, and only
  * the per-query shortlist touches full floats for the exact final top-k.
  *
  * Determinism (the whole pipeline is oracle-exact, no float k-means):
  *   - coordinates enter training as `floor(x · 1024)` scaled BIGINTs —
  *     ×2^10 is exponent arithmetic on the float→double value, so the
  *     product is exact and floor of an exact double is engine-independent;
  *   - assignment is integer squared-L2 argmin (tie → smaller code);
  *   - the centroid update is exact integer floor division
  *     (`(sx - ((sx % n + n) % n)) / n` — sign-safe in both engines,
  *     unlike bare integer division on negative sums);
  *   - ADC distances are BIGINT sums; the only float op is the exact
  *     rescore of the shortlist, the same rounded cosine every other ANN
  *     query emits.
  *
  * Scale shape: training shuffles only (m, code, sp) aggregates (8·16·8
  * = 1024 rows); the codebook broadcasts everywhere (fixed 1024 rows);
  * the candidate stage reads ONLY the packed code table — one byte per
  * subspace per vector — and full floats attach to shortlist×queries
  * rows, never to the candidate stream. The query-side distance table
  * (queries × 128 rows) is bounded by the same contract that bounds
  * ivfSearch's probe table.
  *
  * Reference anchor: the reference's similarity tooling stops at exact
  * search (icecube has no ANN); this family is part of the
  * beyond-reference training-data-pipeline surface, sharing conventions
  * with [[VectorQueries]] (same seed rule as the IVF centroids, same
  * query split, same rescore emission).
  */
object PqQueries {

  val M = 8            // subspaces
  val SubDim = 8       // dims per subspace
  val K = 16           // codewords per subspace
  val Iters = 2        // Lloyd iterations
  val Shortlist = 32   // ADC candidates kept per query for exact rescore
  val TopK = 5

  /** Exploded scaled-integer subvectors: (vec_id, m, sp, xi) with
    * xi = floor(x·1024) — exact on both engines (see object doc). */
  def scaledSub(e: DataFrame): DataFrame =
    e.select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos0", "x")))
      .select(col("vec_id"),
        expr(s"pos0 div $SubDim").as("m"), (col("pos0") % SubDim).as("sp"),
        floor(col("x").cast("double") * lit(1024.0)).cast("long").as("xi"))

  /** Init codewords from the K smallest vec_ids (the same seed rule the
    * IVF centroids use), code = 1..K in vec_id order. The window is over
    * the 16-row LIMIT result — bounded, not a corpus-wide sort. */
  def initCodebook(e: DataFrame, sub: DataFrame): DataFrame = {
    val seeds = e.select("vec_id").orderBy("vec_id").limit(K)
      .withColumn("code", row_number().over(Window.orderBy("vec_id")))
    sub.join(broadcast(seeds), Seq("vec_id"))
      .select(col("m"), col("code"), col("sp"), col("xi").as("ci"))
  }

  /** Per-(vector, subspace) argmin codeword by integer squared L2.
    * Same aggregate shape as [[VectorQueries.ivfAssign]]: broadcast the
    * 1024-row codebook, partial-aggregate the K×-amplified stream before
    * any shuffle, tie-break to the smaller code. Doubles as the PQ
    * ENCODER when called with the trained codebook. */
  def pqAssign(sub: DataFrame, cb: DataFrame): DataFrame =
    sub.join(broadcast(cb), Seq("m", "sp"))
      .groupBy(col("vec_id"), col("m"), col("code"))
      .agg(sum((col("xi") - col("ci")) * (col("xi") - col("ci"))).as("dist"))
      .groupBy(col("vec_id"), col("m"))
      .agg(min_by(col("code"), struct(col("dist"), col("code"))).as("code"))

  /** Lloyd update in scaled-int space: new coordinate = floor(mean) via
    * sign-safe exact integer floor division; a codeword that lost all
    * members keeps its previous coordinates (left join + coalesce), so
    * the codebook never shrinks. */
  def pqUpdate(sub: DataFrame, assign: DataFrame, prev: DataFrame): DataFrame = {
    val upd = sub.join(assign, Seq("vec_id", "m"))
      .groupBy(col("m"), col("code"), col("sp"))
      .agg(sum(col("xi")).as("sx"), count(lit(1)).as("n"))
      .select(col("m"), col("code"), col("sp"),
        expr("(sx - (((sx % n) + n) % n)) div n").as("ci2"))
    prev.join(upd, Seq("m", "code", "sp"), "left")
      .select(col("m"), col("code"), col("sp"),
        coalesce(col("ci2"), col("ci")).as("ci"))
  }

  /** Driver-loop trainer (the kmeans_iterate / BPE pattern): each
    * iteration's 1024-row codebook is eagerly localCheckpoint'ed so the
    * plan doesn't grow with iterations; the exploded subvector view is
    * re-derived from the scan each pass (a stateless projection — not
    * worth materializing corpus×64 rows). */
  def trainCodebook(e: DataFrame): DataFrame = trainCodebookOn(e, scaledSub(e))

  /** Train over an arbitrary scaled subvector table — the flat path
    * passes `scaledSub(e)`, the residual path passes IVF residuals
    * ([[residualSub]]); the Lloyd kernels are input-agnostic. */
  def trainCodebookOn(e: DataFrame, sub: DataFrame): DataFrame = {
    var cb = initCodebook(e, sub).localCheckpoint()
    for (_ <- 1 to Iters)
      cb = pqUpdate(sub, pqAssign(sub, cb), cb).localCheckpoint()
    cb
  }

  /** Centroid scaled subvectors (cent_id, m, sp, cci) — the re-centering
    * table both the residual encoder and the per-cell query tables join
    * against (nlist×64 rows, broadcast everywhere). */
  def centroidSub(centroids: DataFrame): DataFrame =
    scaledSub(centroids.select(col("cent_id").as("vec_id"), col("cv").as("embedding")))
      .select(col("vec_id").as("cent_id"), col("m"), col("sp"), col("xi").as("cci"))

  /** Residual subvectors: each vector's scaled coords minus its IVF
    * cell centroid's — integer subtraction of two exactly-scaled values,
    * so the residual space is as engine-deterministic as the flat one.
    * Keeps the `xi` column name so every Lloyd/assign kernel runs on
    * residuals verbatim. The assign join co-partitions on vec_id (both
    * sides derive from the embedding scan); csub broadcasts. */
  def residualSub(sub: DataFrame, assign: DataFrame, csub: DataFrame): DataFrame =
    sub.join(assign, Seq("vec_id"))
      .join(broadcast(csub), Seq("cent_id", "m", "sp"))
      .select(col("vec_id"), col("m"), col("sp"), (col("xi") - col("cci")).as("xi"))

  /** Pack long-form codes to one `array<tinyint>` per vector (m-ordered)
    * — the stored artifact: 8 bytes per vector, 32× under the floats. */
  def packCodes(codes: DataFrame): DataFrame =
    codes.groupBy("vec_id")
      .agg(expr("transform(array_sort(collect_list(struct(m, code))), " +
        "s -> CAST(s.code AS TINYINT))").as("codes"))

  /** Unpack a stored code array back to (vec_id, m, code) long form —
    * the element position IS the subspace (arrays packed m-ordered). */
  def unpackCodes(packed: DataFrame): DataFrame =
    packed.select(col("vec_id"), posexplode(col("codes")).as(Seq("m", "code")))
      .select(col("vec_id"), col("m").cast("long").as("m"),
        col("code").cast("int").as("code"))

  /** ADC search: per-query distance table (queries×M×K rows, broadcast —
    * bounded by the query-set contract) joins the code table on
    * (m, code); the candidate stage therefore moves one byte of code per
    * subspace per corpus vector and ZERO float data. Shortlist by exact
    * BIGINT ADC distance (tie → smaller cid), then the usual exact
    * rounded-cosine rescore over shortlist×queries rows only. */
  def adcSearch(codes: DataFrame, e: DataFrame, cb: DataFrame,
      queries: DataFrame, shortlist: Int, k: Int): DataFrame = {
    val qsub = scaledSub(queries.select(col("qid").as("vec_id"), col("qv").as("embedding")))
      .withColumnRenamed("vec_id", "qid")
    val dt = qsub.join(broadcast(cb), Seq("m", "sp"))
      .groupBy(col("qid"), col("m"), col("code"))
      .agg(sum((col("xi") - col("ci")) * (col("xi") - col("ci"))).as("dt"))
    val adc = codes.join(broadcast(dt), Seq("m", "code"))
      .filter(col("vec_id") =!= col("qid"))
      .groupBy(col("qid"), col("vec_id"))
      .agg(sum(col("dt")).as("adist"))
    val shortRn = Window.partitionBy(col("qid")).orderBy(col("adist"), col("vec_id"))
    val short = adc.withColumn("rn", row_number().over(shortRn))
      .filter(col("rn") <= shortlist)
      .select(col("qid"), col("vec_id").as("cid"))
    val qv = queries.select(col("qid"), col("qv"))
    val cv = e.select(col("vec_id").as("cid"), col("embedding").as("cve"))
    val topRn = Window.partitionBy(col("qid")).orderBy(col("score").desc, col("cid"))
    short.join(qv, Seq("qid")).join(cv, Seq("cid"))
      .select(col("qid"), col("cid"), VectorQueries.score("qv", "cve").as("score"))
      .withColumn("rn", row_number().over(topRn))
      .filter(col("rn") <= k)
      .select("qid", "cid", "score")
  }

  /** IVF-PQ search — the combined index (the FAISS `IVFx,PQy` shape and
    * the architecture behind every billion-scale ANN deployment): the
    * IVF assignment store prunes the search space to `nprobe` cells,
    * the PQ code store ranks ONLY those cells' members by ADC, and the
    * exact rescore touches shortlist×queries float rows. Per-query work
    * drops from N·M table adds (flat ADC) to (N/nlist)·nprobe·M, and
    * the candidate stage reads one byte per subspace per probed vector.
    * Both component artifacts already have batch/stored/streaming
    * maintenance — this search composes the two stores, it builds
    * nothing. */
  def ivfPqSearch(assign: DataFrame, codes: DataFrame, e: DataFrame,
      cb: DataFrame, centroids: DataFrame, queries: DataFrame,
      nprobe: Int, shortlist: Int, k: Int): DataFrame = {
    val probeRn = Window.partitionBy(col("qid"))
      .orderBy(VectorQueries.score("qv", "cv").desc, col("cent_id"))
    val probes = queries.crossJoin(broadcast(centroids))
      .withColumn("rn", row_number().over(probeRn))
      .filter(col("rn") <= nprobe)
      .select("qid", "cent_id")
    val cand = probes.join(assign, Seq("cent_id"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("cid"))
    val qsub = scaledSub(queries.select(col("qid").as("vec_id"), col("qv").as("embedding")))
      .withColumnRenamed("vec_id", "qid")
    val dt = qsub.join(broadcast(cb), Seq("m", "sp"))
      .groupBy(col("qid"), col("m"), col("code"))
      .agg(sum((col("xi") - col("ci")) * (col("xi") - col("ci"))).as("dt"))
    val adc = cand.join(codes.withColumnRenamed("vec_id", "cid"), Seq("cid"))
      .join(broadcast(dt), Seq("qid", "m", "code"))
      .groupBy(col("qid"), col("cid"))
      .agg(sum(col("dt")).as("adist"))
    val shortRn = Window.partitionBy(col("qid")).orderBy(col("adist"), col("cid"))
    val short = adc.withColumn("rn", row_number().over(shortRn))
      .filter(col("rn") <= shortlist)
      .select("qid", "cid")
    val qv = queries.select(col("qid"), col("qv"))
    val cv = e.select(col("vec_id").as("cid"), col("embedding").as("cve"))
    val topRn = Window.partitionBy(col("qid")).orderBy(col("score").desc, col("cid"))
    short.join(qv, Seq("qid")).join(cv, Seq("cid"))
      .select(col("qid"), col("cid"), VectorQueries.score("qv", "cve").as("score"))
      .withColumn("rn", row_number().over(topRn))
      .filter(col("rn") <= k)
      .select("qid", "cid", "score")
  }

  /** Residual IVF-PQ search (true IVFADC, Jégou et al. §IV): identical
    * pruning to [[ivfPqSearch]], but codes quantize RESIDUALS, so the
    * query must re-center once per probed cell — the distance table is
    * keyed (qid, cent_id, m, code), not (qid, m, code). That per-cell
    * table is the price of residual coding (nprobe× more table rows,
    * still queries-bounded and broadcast) and the reason it recalls
    * better: codewords only span the residual radius of a cell, not the
    * whole space. Candidate-side cost is unchanged — one byte per
    * subspace per probed vector, floats on the shortlist only. */
  def ivfPqResidualSearch(assign: DataFrame, codes: DataFrame, e: DataFrame,
      cb: DataFrame, csub: DataFrame, centroids: DataFrame, queries: DataFrame,
      nprobe: Int, shortlist: Int, k: Int): DataFrame = {
    val probeRn = Window.partitionBy(col("qid"))
      .orderBy(VectorQueries.score("qv", "cv").desc, col("cent_id"))
    val probes = queries.crossJoin(broadcast(centroids))
      .withColumn("rn", row_number().over(probeRn))
      .filter(col("rn") <= nprobe)
      .select("qid", "cent_id")
    val qsub = scaledSub(queries.select(col("qid").as("vec_id"), col("qv").as("embedding")))
      .withColumnRenamed("vec_id", "qid")
    val dt = qsub.join(broadcast(probes), Seq("qid"))
      .join(broadcast(csub), Seq("cent_id", "m", "sp"))
      .select(col("qid"), col("cent_id"), col("m"), col("sp"),
        (col("xi") - col("cci")).as("xr"))
      .join(broadcast(cb), Seq("m", "sp"))
      .groupBy(col("qid"), col("cent_id"), col("m"), col("code"))
      .agg(sum((col("xr") - col("ci")) * (col("xr") - col("ci"))).as("dt"))
    val cand = probes.join(assign, Seq("cent_id"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("cent_id"), col("vec_id").as("cid"))
    val adc = cand.join(codes.withColumnRenamed("vec_id", "cid"), Seq("cid"))
      .join(broadcast(dt), Seq("qid", "cent_id", "m", "code"))
      .groupBy(col("qid"), col("cid"))
      .agg(sum(col("dt")).as("adist"))
    val shortRn = Window.partitionBy(col("qid")).orderBy(col("adist"), col("cid"))
    val short = adc.withColumn("rn", row_number().over(shortRn))
      .filter(col("rn") <= shortlist)
      .select("qid", "cid")
    val qv = queries.select(col("qid"), col("qv"))
    val cv = e.select(col("vec_id").as("cid"), col("embedding").as("cve"))
    val topRn = Window.partitionBy(col("qid")).orderBy(col("score").desc, col("cid"))
    short.join(qv, Seq("qid")).join(cv, Seq("cid"))
      .select(col("qid"), col("cid"), VectorQueries.score("qv", "cve").as("score"))
      .withColumn("rn", row_number().over(topRn))
      .filter(col("rn") <= k)
      .select("qid", "cid", "score")
  }

  // ---------------------------------------------------------------- oracle

  /** Shared training CTE chain, mirrored 1:1 from the Spark helpers:
    * scaled subvectors → seed codebook → Iters × (assign, update). */
  private def assignCte(name: String, cb: String, sub: String = "sub"): String =
    s"""$name AS (
       |  SELECT vec_id, m, code FROM (
       |    SELECT t.vec_id, t.m, t.code,
       |      row_number() OVER (PARTITION BY t.vec_id, t.m ORDER BY t.dist, t.code) AS rn
       |    FROM (SELECT s.vec_id, s.m, c.code, sum((s.xi-c.ci)*(s.xi-c.ci)) AS dist
       |          FROM $sub s JOIN $cb c ON c.m = s.m AND c.sp = s.sp
       |          GROUP BY s.vec_id, s.m, c.code) t) WHERE rn = 1)""".stripMargin

  private def updateCte(uname: String, cname: String, assign: String, prev: String,
      sub: String = "sub"): String =
    s"""$uname AS (
       |  SELECT a.m, a.code, s.sp, sum(s.xi) AS sx, count(*) AS n
       |  FROM $assign a JOIN $sub s ON s.vec_id = a.vec_id AND s.m = a.m
       |  GROUP BY a.m, a.code, s.sp),
       |$cname AS (
       |  SELECT p.m, p.code, p.sp,
       |    COALESCE((u.sx - (((u.sx % u.n) + u.n) % u.n)) // u.n, p.ci) AS ci
       |  FROM $prev p LEFT JOIN $uname u
       |    ON u.m = p.m AND u.code = p.code AND u.sp = p.sp)""".stripMargin

  /** Residual-space extension of [[TrainCtes]] (assumes e/sub/seeds are
    * in scope; DuckDB prunes the flat chain's unreferenced CTEs):
    * centroids → scaled centroid subvectors → IVF assignment → residual
    * subvectors → seeded residual codebook → Iters × Lloyd on rsub. */
  private lazy val ResidualExtCtes: String = {
    val base =
      s"""c AS (SELECT vec_id AS cent_id, embedding::DOUBLE[] AS cv
         |      FROM embeddings ORDER BY vec_id LIMIT 16),
         |csub AS (
         |  SELECT c.cent_id, (p.pos-1)//$SubDim AS m, (p.pos-1)%$SubDim AS sp,
         |    CAST(floor(c.cv[p.pos]*1024.0) AS BIGINT) AS cci
         |  FROM c CROSS JOIN (SELECT unnest(generate_series(1,${M * SubDim})) AS pos) p),
         |ivfassign AS (
         |  SELECT vec_id, cent_id FROM (
         |    SELECT e.vec_id, c.cent_id,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY round(list_cosine_similarity(e.v, c.cv), 6) DESC, c.cent_id) AS rn
         |    FROM e, c) WHERE rn = 1),
         |rsub AS (
         |  SELECT s.vec_id, s.m, s.sp, s.xi - cs.cci AS xi
         |  FROM sub s JOIN ivfassign a ON a.vec_id = s.vec_id
         |  JOIN csub cs ON cs.cent_id = a.cent_id AND cs.m = s.m AND cs.sp = s.sp),
         |rcb0 AS (SELECT r.m, d.code, r.sp, r.xi AS ci
         |         FROM rsub r JOIN seeds d ON d.vec_id = r.vec_id)""".stripMargin
    val iters = (1 to Iters).map { i =>
      assignCte(s"ra$i", s"rcb${i - 1}", "rsub") + ",\n" +
        updateCte(s"ru$i", s"rcb$i", s"ra$i", s"rcb${i - 1}", "rsub")
    }
    (base +: iters).mkString(",\n")
  }

  /** Residual IVF-PQ oracle: the IVF probe chain, a PER-PROBED-CELL
    * query residual table, ADC against residual codes, exact rescore —
    * nprobe=2, shortlist=16, k=3 like the flat composition. */
  private lazy val IvfPqResidualOracleSql: String =
    s"""WITH $TrainCtes,
       |$ResidualExtCtes,
       |${assignCte("rcodes", s"rcb$Iters", "rsub")},
       |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 100),
       |probes AS (
       |  SELECT qid, cent_id FROM (
       |    SELECT q.qid, c.cent_id,
       |      row_number() OVER (PARTITION BY q.qid
       |        ORDER BY round(list_cosine_similarity(q.qv, c.cv), 6) DESC, c.cent_id) AS rn
       |    FROM q, c) WHERE rn <= 2),
       |qr AS (
       |  SELECT s.vec_id AS qid, p.cent_id, s.m, s.sp, s.xi - cs.cci AS xr
       |  FROM sub s JOIN probes p ON p.qid = s.vec_id
       |  JOIN csub cs ON cs.cent_id = p.cent_id AND cs.m = s.m AND cs.sp = s.sp),
       |qd AS (
       |  SELECT qr.qid, qr.cent_id, qr.m, cc.code,
       |    sum((qr.xr-cc.ci)*(qr.xr-cc.ci)) AS dt
       |  FROM qr JOIN rcb$Iters cc ON cc.m = qr.m AND cc.sp = qr.sp
       |  GROUP BY 1, 2, 3, 4),
       |cand AS (
       |  SELECT p.qid, p.cent_id, a.vec_id AS cid
       |  FROM probes p JOIN ivfassign a ON a.cent_id = p.cent_id
       |  WHERE a.vec_id <> p.qid),
       |adc AS (
       |  SELECT t.qid, t.cid, sum(d.dt) AS adist
       |  FROM cand t JOIN rcodes k ON k.vec_id = t.cid
       |  JOIN qd d ON d.qid = t.qid AND d.cent_id = t.cent_id
       |    AND d.m = k.m AND d.code = k.code
       |  GROUP BY 1, 2),
       |short AS (
       |  SELECT qid, cid FROM (
       |    SELECT qid, cid, row_number() OVER (PARTITION BY qid ORDER BY adist, cid) AS rn
       |    FROM adc) WHERE rn <= 16),
       |resc AS (
       |  SELECT s.qid, s.cid, round(list_cosine_similarity(qe.v, ce.v), 6) AS score
       |  FROM short s JOIN e qe ON qe.vec_id = s.qid JOIN e ce ON ce.vec_id = s.cid)
       |SELECT qid, cid, score FROM (
       |  SELECT qid, cid, score, row_number() OVER (PARTITION BY qid ORDER BY score DESC, cid) AS rn
       |  FROM resc) WHERE rn <= 3
       |ORDER BY qid, cid""".stripMargin

  private lazy val TrainCtes: String = {
    val base =
      s"""e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |sub AS (
         |  SELECT vec_id, (p.pos-1)//$SubDim AS m, (p.pos-1)%$SubDim AS sp,
         |    CAST(floor(v[p.pos]*1024.0) AS BIGINT) AS xi
         |  FROM e CROSS JOIN (SELECT unnest(generate_series(1,${M * SubDim})) AS pos) p),
         |seeds AS (
         |  SELECT vec_id, CAST(row_number() OVER (ORDER BY vec_id) AS INT) AS code
         |  FROM (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT $K)),
         |cb0 AS (SELECT s.m, d.code, s.sp, s.xi AS ci
         |        FROM sub s JOIN seeds d ON d.vec_id = s.vec_id)""".stripMargin
    val iters = (1 to Iters).map { i =>
      assignCte(s"a$i", s"cb${i - 1}") + ",\n" + updateCte(s"u$i", s"cb$i", s"a$i", s"cb${i - 1}")
    }
    (base +: iters).mkString(",\n")
  }

  private lazy val CodebookOracleSql: String =
    s"""WITH $TrainCtes
       |SELECT CAST(m AS INT) AS m, code, CAST(sp AS INT) AS sp, CAST(ci AS BIGINT) AS ci
       |FROM cb$Iters ORDER BY m, code, sp""".stripMargin

  /** The ADC retrieval chain through `resc` (training, code assignment,
    * per-query distance tables, shortlist, exact rescore) — shared by
    * the two search oracles and the recall report. */
  private lazy val AdcChain: String =
    s"""WITH $TrainCtes,
       |${assignCte("codes", s"cb$Iters")},
       |qd AS (
       |  SELECT s.vec_id AS qid, s.m, c.code, sum((s.xi-c.ci)*(s.xi-c.ci)) AS dt
       |  FROM sub s JOIN cb$Iters c ON c.m = s.m AND c.sp = s.sp
       |  WHERE s.vec_id < 100
       |  GROUP BY s.vec_id, s.m, c.code),
       |adc AS (
       |  SELECT q.qid, k.vec_id AS cid, sum(q.dt) AS adist
       |  FROM codes k JOIN qd q ON q.m = k.m AND q.code = k.code
       |  WHERE k.vec_id <> q.qid
       |  GROUP BY q.qid, k.vec_id),
       |short AS (
       |  SELECT qid, cid FROM (
       |    SELECT qid, cid, row_number() OVER (PARTITION BY qid ORDER BY adist, cid) AS rn
       |    FROM adc) WHERE rn <= $Shortlist),
       |resc AS (
       |  SELECT s.qid, s.cid, round(list_cosine_similarity(qe.v, ce.v), 6) AS score
       |  FROM short s JOIN e qe ON qe.vec_id = s.qid JOIN e ce ON ce.vec_id = s.cid)"""
      .stripMargin

  /** Shared by ann_pq_adc and ann_pq_stored — the stored path must be
    * bit-identical to the live one. */
  private lazy val AdcOracleSql: String =
    s"""$AdcChain
       |SELECT qid, cid, score FROM (
       |  SELECT qid, cid, score, row_number() OVER (PARTITION BY qid ORDER BY score DESC, cid) AS rn
       |  FROM resc) WHERE rn <= $TopK
       |ORDER BY qid, cid""".stripMargin

  /** PQ recall vs brute-force ground truth at the same k. */
  private lazy val PqRecallOracleSql: String =
    s"""$AdcChain,
       |pqtop AS (
       |  SELECT qid, cid FROM (
       |    SELECT qid, cid, row_number() OVER (PARTITION BY qid ORDER BY score DESC, cid) AS rn
       |    FROM resc) WHERE rn <= $TopK),
       |brute AS (
       |  SELECT qid, cid FROM (
       |    SELECT q.vec_id AS qid, c.vec_id AS cid,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY round(list_cosine_similarity(q.v, c.v), 6) DESC, c.vec_id) AS rn
       |    FROM e q, e c WHERE q.vec_id < 100 AND c.vec_id <> q.vec_id)
       |  WHERE rn <= $TopK)
       |SELECT b.qid, CAST(count(p.cid) AS BIGINT) AS n_hits,
       |  CAST((1000000 * count(p.cid)) // $TopK AS BIGINT) AS recall_ppm
       |FROM brute b LEFT JOIN pqtop p ON p.qid = b.qid AND p.cid = b.cid
       |GROUP BY b.qid ORDER BY b.qid""".stripMargin

  /** Flat-vs-residual IVF-PQ recall oracle: both compositions replayed
    * against the same probes and budget, graded per query against brute
    * ground truth. */
  private lazy val IvfPqRecallOracleSql: String =
    s"""WITH $TrainCtes,
       |${assignCte("codes", s"cb$Iters")},
       |$ResidualExtCtes,
       |${assignCte("rcodes", s"rcb$Iters", "rsub")},
       |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 100),
       |probes AS (
       |  SELECT qid, cent_id FROM (
       |    SELECT q.qid, c.cent_id,
       |      row_number() OVER (PARTITION BY q.qid
       |        ORDER BY round(list_cosine_similarity(q.qv, c.cv), 6) DESC, c.cent_id) AS rn
       |    FROM q, c) WHERE rn <= 2),
       |cand AS (
       |  SELECT p.qid, p.cent_id, a.vec_id AS cid
       |  FROM probes p JOIN ivfassign a ON a.cent_id = p.cent_id
       |  WHERE a.vec_id <> p.qid),
       |fqd AS (
       |  SELECT s.vec_id AS qid, s.m, c.code, sum((s.xi-c.ci)*(s.xi-c.ci)) AS dt
       |  FROM sub s JOIN cb$Iters c ON c.m = s.m AND c.sp = s.sp
       |  WHERE s.vec_id < 100 GROUP BY 1, 2, 3),
       |fadc AS (
       |  SELECT t.qid, t.cid, sum(d.dt) AS adist
       |  FROM cand t JOIN codes k ON k.vec_id = t.cid
       |  JOIN fqd d ON d.qid = t.qid AND d.m = k.m AND d.code = k.code
       |  GROUP BY 1, 2),
       |fshort AS (
       |  SELECT qid, cid FROM (
       |    SELECT qid, cid, row_number() OVER (PARTITION BY qid ORDER BY adist, cid) AS rn
       |    FROM fadc) WHERE rn <= 16),
       |fresc AS (
       |  SELECT s.qid, s.cid, round(list_cosine_similarity(qe.v, ce.v), 6) AS score
       |  FROM fshort s JOIN e qe ON qe.vec_id = s.qid JOIN e ce ON ce.vec_id = s.cid),
       |ftop AS (
       |  SELECT qid, cid FROM (
       |    SELECT qid, cid, row_number() OVER (PARTITION BY qid ORDER BY score DESC, cid) AS rn
       |    FROM fresc) WHERE rn <= 3),
       |rqd AS (
       |  SELECT s.vec_id AS qid, p.cent_id, s.m, cc.code,
       |    sum(((s.xi - cs.cci) - cc.ci) * ((s.xi - cs.cci) - cc.ci)) AS dt
       |  FROM sub s JOIN probes p ON p.qid = s.vec_id
       |  JOIN csub cs ON cs.cent_id = p.cent_id AND cs.m = s.m AND cs.sp = s.sp
       |  JOIN rcb$Iters cc ON cc.m = s.m AND cc.sp = s.sp
       |  GROUP BY 1, 2, 3, 4),
       |radc AS (
       |  SELECT t.qid, t.cid, sum(d.dt) AS adist
       |  FROM cand t JOIN rcodes k ON k.vec_id = t.cid
       |  JOIN rqd d ON d.qid = t.qid AND d.cent_id = t.cent_id
       |    AND d.m = k.m AND d.code = k.code
       |  GROUP BY 1, 2),
       |rshort AS (
       |  SELECT qid, cid FROM (
       |    SELECT qid, cid, row_number() OVER (PARTITION BY qid ORDER BY adist, cid) AS rn
       |    FROM radc) WHERE rn <= 16),
       |rresc AS (
       |  SELECT s.qid, s.cid, round(list_cosine_similarity(qe.v, ce.v), 6) AS score
       |  FROM rshort s JOIN e qe ON qe.vec_id = s.qid JOIN e ce ON ce.vec_id = s.cid),
       |rtop AS (
       |  SELECT qid, cid FROM (
       |    SELECT qid, cid, row_number() OVER (PARTITION BY qid ORDER BY score DESC, cid) AS rn
       |    FROM rresc) WHERE rn <= 3),
       |brute AS (
       |  SELECT qid, cid FROM (
       |    SELECT q.qid, c2.vec_id AS cid,
       |      row_number() OVER (PARTITION BY q.qid
       |        ORDER BY round(list_cosine_similarity(q.qv, c2.v), 6) DESC, c2.vec_id) AS rn
       |    FROM q, e c2 WHERE c2.vec_id <> q.qid) WHERE rn <= 3)
       |SELECT b.qid,
       |  CAST(count(f.cid) AS BIGINT) AS n_hits_flat,
       |  CAST(count(r.cid) AS BIGINT) AS n_hits_res,
       |  CAST((1000000 * count(f.cid)) // 3 AS BIGINT) AS recall_flat_ppm,
       |  CAST((1000000 * count(r.cid)) // 3 AS BIGINT) AS recall_res_ppm
       |FROM brute b LEFT JOIN ftop f ON f.qid = b.qid AND f.cid = b.cid
       |LEFT JOIN rtop r ON r.qid = b.qid AND r.cid = b.cid
       |GROUP BY b.qid ORDER BY b.qid""".stripMargin

  /** IVF-PQ oracle: the IVF probe/candidate chain (verbatim from the
    * ann_ivf oracle) composed with the PQ training CTEs and the ADC
    * ranking restricted to the probed cells. nprobe=2, shortlist=16,
    * k=3 — the same probe/k conventions as the other IVF queries. */
  private lazy val IvfPqOracleSql: String =
    s"""WITH $TrainCtes,
       |${assignCte("codes", s"cb$Iters")},
       |c AS (SELECT vec_id AS cent_id, embedding::DOUBLE[] AS cv
       |      FROM embeddings ORDER BY vec_id LIMIT 16),
       |ivfassign AS (
       |  SELECT vec_id, cent_id FROM (
       |    SELECT e.vec_id, c.cent_id,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY round(list_cosine_similarity(e.v, c.cv), 6) DESC, c.cent_id) AS rn
       |    FROM e, c) WHERE rn = 1),
       |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 100),
       |probes AS (
       |  SELECT qid, cent_id FROM (
       |    SELECT q.qid, c.cent_id,
       |      row_number() OVER (PARTITION BY q.qid
       |        ORDER BY round(list_cosine_similarity(q.qv, c.cv), 6) DESC, c.cent_id) AS rn
       |    FROM q, c) WHERE rn <= 2),
       |cand AS (
       |  SELECT p.qid, a.vec_id AS cid
       |  FROM probes p JOIN ivfassign a ON a.cent_id = p.cent_id
       |  WHERE a.vec_id <> p.qid),
       |qd AS (
       |  SELECT s.vec_id AS qid, s.m, c.code, sum((s.xi-c.ci)*(s.xi-c.ci)) AS dt
       |  FROM sub s JOIN cb$Iters c ON c.m = s.m AND c.sp = s.sp
       |  WHERE s.vec_id < 100
       |  GROUP BY s.vec_id, s.m, c.code),
       |adc AS (
       |  SELECT t.qid, t.cid, sum(d.dt) AS adist
       |  FROM cand t JOIN codes k ON k.vec_id = t.cid
       |  JOIN qd d ON d.qid = t.qid AND d.m = k.m AND d.code = k.code
       |  GROUP BY t.qid, t.cid),
       |short AS (
       |  SELECT qid, cid FROM (
       |    SELECT qid, cid, row_number() OVER (PARTITION BY qid ORDER BY adist, cid) AS rn
       |    FROM adc) WHERE rn <= 16),
       |resc AS (
       |  SELECT s.qid, s.cid, round(list_cosine_similarity(qe.v, ce.v), 6) AS score
       |  FROM short s JOIN e qe ON qe.vec_id = s.qid JOIN e ce ON ce.vec_id = s.cid)
       |SELECT qid, cid, score FROM (
       |  SELECT qid, cid, score, row_number() OVER (PARTITION BY qid ORDER BY score DESC, cid) AS rn
       |  FROM resc) WHERE rn <= 3
       |ORDER BY qid, cid""".stripMargin

  // ---------------------------------------------------------------- queries

  def defs: Map[String, QueryDef] = Map(

    // ----- PQ codebook training: M×K codewords by integer Lloyd -----
    // The train step of the 32×-compressed vector store. Output is the
    // full trained codebook (1024 rows); the oracle replays both Lloyd
    // iterations in unrolled SQL over the same scaled integers, so every
    // coordinate is hash-checked exactly.
    "pq_codebook" -> QueryDef.sql(CodebookOracleSql) { (s, d) =>
      trainCodebook(embeddings(s, d).select("vec_id", "embedding"))
        .select(col("m").cast("int").as("m"), col("code"),
          col("sp").cast("int").as("sp"), col("ci"))
        .orderBy("m", "code", "sp")
    },

    // ----- PQ ADC search: 8-byte codes + table lookups + exact rescore -----
    // The search half: candidates rank by summed BIGINT table entries
    // (no float touches the corpus-cardinality stream), shortlist gets
    // the exact rounded-cosine rescore. Recall vs brute force is pinned
    // by PqRecallSpec; exactness of every emitted cell by this oracle.
    "ann_pq_adc" -> QueryDef.sql(AdcOracleSql) { (s, d) =>
      val e = embeddings(s, d).select("vec_id", "embedding")
      val queries = e.filter(col("vec_id") < 100)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      val cb = trainCodebook(e)
      adcSearch(pqAssign(scaledSub(e), cb), e, cb, queries, Shortlist, TopK)
        .orderBy("qid", "cid")
    },

    // ----- PQ search from the persisted codebook + packed-code store -----
    // The amortized path: training and encoding run once
    // ([[graft.operators.SignatureStore.ensurePqStore]]); every search
    // reads the 8-byte-per-vector packed artifact and the 1024-row
    // codebook — no Lloyd pass, no corpus-wide float read. Same oracle:
    // stored must be bit-identical to live.
    "ann_pq_stored" -> QueryDef.sql(AdcOracleSql) { (s, d) =>
      val e = embeddings(s, d).select("vec_id", "embedding")
      val queries = e.filter(col("vec_id") < 100)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      val (cb, codes) = SignatureStore.ensurePqStore(s, d,
        () => trainCodebook(e),
        cbStored => packCodes(pqAssign(scaledSub(e), cbStored)))
      adcSearch(codes, e, cb, queries, Shortlist, TopK)
        .orderBy("qid", "cid")
    },

    // ----- PQ recall report: the measurement behind PqRecallSpec -----
    // Per-query recall@k of the stored PQ tier against brute-force
    // ground truth, as an oracle-checked deliverable (the IVF tier has
    // ann_recall_report / ann_mrr_report; this closes the eval story
    // for the compressed tier). Both legs are existing chains — the
    // stored ADC search and the broadcast brute top-k — and the
    // comparison is a k×queries-row join; emissions are count/`//`
    // only.
    "ann_pq_recall" -> QueryDef.sql(PqRecallOracleSql) { (s, d) =>
      val e = embeddings(s, d).select("vec_id", "embedding")
      val queries = e.filter(col("vec_id") < 100)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      val (cb, codes) = SignatureStore.ensurePqStore(s, d,
        () => trainCodebook(e),
        cbStored => packCodes(pqAssign(scaledSub(e), cbStored)))
      val pqtop = adcSearch(codes, e, cb, queries, Shortlist, TopK)
        .select(col("qid"), col("cid"), lit(1L).as("hit"))
      val topRn = Window.partitionBy(col("qid"))
        .orderBy(col("score").desc, col("cid"))
      val brute = e.select(col("vec_id").as("cid"), col("embedding").as("cv"))
        .crossJoin(broadcast(queries))
        .filter(col("cid") =!= col("qid"))
        .select(col("qid"), col("cid"),
          VectorQueries.score("qv", "cv").as("score"))
        .withColumn("rn", row_number().over(topRn))
        .filter(col("rn") <= TopK)
        .select("qid", "cid")
      brute.join(pqtop.select("qid", "cid", "hit"), Seq("qid", "cid"), "left")
        .groupBy("qid")
        .agg(count(col("hit")).as("n_hits"))
        .select(col("qid"), col("n_hits"),
          expr(s"CAST((1000000 * n_hits) div $TopK AS BIGINT)").as("recall_ppm"))
        .orderBy("qid")
    },

    // ----- IVF-PQ: cell pruning × code compression, both from stores -----
    // The production-shape search: the IVF assignment artifact answers
    // WHICH cells, the PQ code artifact ranks those cells' members at
    // one byte per subspace, and full floats attach only to the
    // per-query shortlist. Composes the two persisted indexes without
    // building anything; both have streaming maintenance twins.
    "ann_ivfpq" -> QueryDef.sql(IvfPqOracleSql) { (s, d) =>
      val e = embeddings(s, d).select(col("vec_id"), col("embedding"))
      val centroids = e.orderBy("vec_id").limit(16)
        .select(col("vec_id").as("cent_id"), col("embedding").as("cv"))
      val queries = e.filter(col("vec_id") < 100)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      val assign = SignatureStore.ensureIvfAssignments(
        s, d, () => VectorQueries.ivfAssign(e, centroids))
      val (cb, codes) = SignatureStore.ensurePqStore(s, d,
        () => trainCodebook(e),
        cbStored => packCodes(pqAssign(scaledSub(e), cbStored)))
      ivfPqSearch(assign, codes, e, cb, centroids, queries,
        nprobe = 2, shortlist = 16, k = 3)
        .orderBy("qid", "cid")
    },

    // ----- residual IVF-PQ: the true IVFADC (Jégou et al. §IV) -----
    // The billion-scale production shape: PQ quantizes RESIDUALS
    // (x − centroid of x's cell) instead of raw vectors, so each cell's
    // codewords only need to span its residual radius — the same code
    // budget buys finer quantization under L2, which is why FAISS's
    // IVFx,PQy defaults to residual coding (whether it helps under THIS
    // family's cosine ground truth is what ann_ivfpq_recall measures —
    // it does not, at this budget; see that query's comment). Costs
    // surface exactly where theory says: the encoder re-centers each
    // vector once (an integer
    // subtraction against the broadcast centroid table), and the query
    // builds one distance table PER PROBED CELL (nprobe× more table
    // rows, still queries-bounded). Candidate-side bytes are unchanged.
    // The residual space stays integer-exact (scaled coords subtract
    // exactly), so the full train→encode→search chain hash-matches the
    // unrolled oracle like the flat tier does. Residuals materialize
    // once before the Lloyd loop — the FAISS build does the same; at
    // scale they'd persist beside the codes.
    "ann_ivfpq_residual" -> QueryDef.sql(IvfPqResidualOracleSql) { (s, d) =>
      val e = embeddings(s, d).select(col("vec_id"), col("embedding"))
      val centroids = e.orderBy("vec_id").limit(16)
        .select(col("vec_id").as("cent_id"), col("embedding").as("cv"))
      val queries = e.filter(col("vec_id") < 100)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      val assign = SignatureStore.ensureIvfAssignments(
        s, d, () => VectorQueries.ivfAssign(e, centroids))
      val csub = centroidSub(centroids).localCheckpoint()
      val rsub = residualSub(scaledSub(e), assign, csub).localCheckpoint()
      val cb = trainCodebookOn(e, rsub)
      val codes = pqAssign(rsub, cb)
      ivfPqResidualSearch(assign, codes, e, cb, csub, centroids, queries,
        nprobe = 2, shortlist = 16, k = 3)
        .orderBy("qid", "cid")
    },

    // Stored twin of the residual tier: training (residual Lloyd) and
    // encoding run once ([[SignatureStore.ensureResidualPqStore]]);
    // every search composes THREE persisted artifacts — IVF assignments
    // (which cells), residual codes (how to rank them), residual
    // codebook (the ranking table) — and builds nothing. Same oracle as
    // the live build: stored must be bit-identical. With this, every
    // trained tier ships a stored path (pq → ann_pq_stored, ivf+pq →
    // ann_ivfpq, residual → here).
    "ann_ivfpq_residual_stored" -> QueryDef.sql(IvfPqResidualOracleSql) { (s, d) =>
      val e = embeddings(s, d).select(col("vec_id"), col("embedding"))
      val centroids = e.orderBy("vec_id").limit(16)
        .select(col("vec_id").as("cent_id"), col("embedding").as("cv"))
      val queries = e.filter(col("vec_id") < 100)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      val assign = SignatureStore.ensureIvfAssignments(
        s, d, () => VectorQueries.ivfAssign(e, centroids))
      val csub = centroidSub(centroids).localCheckpoint()
      val (cb, codes) = SignatureStore.ensureResidualPqStore(s, d,
        () => trainCodebookOn(e, residualSub(scaledSub(e), assign, csub)),
        cbStored => packCodes(pqAssign(residualSub(scaledSub(e), assign, csub), cbStored)))
      ivfPqResidualSearch(assign, codes, e, cb, csub, centroids, queries,
        nprobe = 2, shortlist = 16, k = 3)
        .orderBy("qid", "cid")
    },

    // ----- IVF-PQ recall: flat vs residual, same probes, same budget -----
    // Both compositions run with identical nprobe/shortlist/k and are
    // graded per query against brute-force ground truth side by side,
    // and because both legs and the grader are oracle-replayed, the
    // comparison is a hash-checked fact, not a benchmark anecdote. The
    // measured verdict CONTRADICTS the folklore at this configuration:
    // flat wins (sf0.01: 99 vs 62 of 300 hits; sf0.001: 96 vs 71) —
    // residual coding's advantage is an L2 story (codewords span a
    // cell's residual radius when centroids are L2 means), while this
    // family's ground truth and cell assignment are COSINE, where
    // re-centering un-normalizes the geometry the codes must span.
    // Exactly the kind of deployment decision the eval exists to make
    // empirical; completes the per-tier eval symmetry for the composed
    // tier (ivf/pq/q8 already ship theirs).
    "ann_ivfpq_recall" -> QueryDef.sql(IvfPqRecallOracleSql) { (s, d) =>
      val e = embeddings(s, d).select(col("vec_id"), col("embedding"))
      val centroids = e.orderBy("vec_id").limit(16)
        .select(col("vec_id").as("cent_id"), col("embedding").as("cv"))
      val queries = e.filter(col("vec_id") < 100)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      val assign = SignatureStore.ensureIvfAssignments(
        s, d, () => VectorQueries.ivfAssign(e, centroids))
      val (cbF, codesF) = SignatureStore.ensurePqStore(s, d,
        () => trainCodebook(e),
        cbStored => packCodes(pqAssign(scaledSub(e), cbStored)))
      val flat = ivfPqSearch(assign, codesF, e, cbF, centroids, queries,
        nprobe = 2, shortlist = 16, k = 3)
        .select(col("qid"), col("cid"), lit(1L).as("hf"))
      // residual leg from the persisted artifacts (the Lloyd loop is
      // timed live by ann_ivfpq_residual; this query GRADES the two
      // finished tiers — bit-identity of store vs live is pinned by
      // ann_ivfpq_residual_stored's shared oracle)
      val csub = centroidSub(centroids).localCheckpoint()
      val (cbR, codesR) = SignatureStore.ensureResidualPqStore(s, d,
        () => trainCodebookOn(e, residualSub(scaledSub(e), assign, csub)),
        cbStored => packCodes(pqAssign(
          residualSub(scaledSub(e), assign, csub), cbStored)))
      val res = ivfPqResidualSearch(assign, codesR, e, cbR, csub, centroids,
        queries, nprobe = 2, shortlist = 16, k = 3)
        .select(col("qid"), col("cid"), lit(1L).as("hr"))
      val topRn = Window.partitionBy(col("qid"))
        .orderBy(col("score").desc, col("cid"))
      val brute = e.select(col("vec_id").as("cid"), col("embedding").as("cv"))
        .crossJoin(broadcast(queries))
        .filter(col("cid") =!= col("qid"))
        .select(col("qid"), col("cid"),
          VectorQueries.score("qv", "cv").as("score"))
        .withColumn("rn", row_number().over(topRn))
        .filter(col("rn") <= 3)
        .select("qid", "cid")
      brute.join(flat, Seq("qid", "cid"), "left")
        .join(res, Seq("qid", "cid"), "left")
        .groupBy("qid")
        .agg(count(col("hf")).as("n_hits_flat"), count(col("hr")).as("n_hits_res"))
        .select(col("qid"), col("n_hits_flat"), col("n_hits_res"),
          expr("CAST((1000000 * n_hits_flat) div 3 AS BIGINT)").as("recall_flat_ppm"),
          expr("CAST((1000000 * n_hits_res) div 3 AS BIGINT)").as("recall_res_ppm"))
        .orderBy("qid")
    },
  )
}
