package graft.operators

import graft.QueryDef
import graft.util.Tables._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distribution-shape audits: per-source drift against the corpus and
  * per-key skew on the event stream.
  *
  * Both are the observability half of the scale posture: drift tells a
  * mixture/curation run that a source's length profile has wandered from
  * the corpus (the trigger for re-weighting); skew is the number every
  * shuffle-sizing decision (salting, AQE skew-join thresholds) actually
  * depends on — measured, not guessed.
  *
  * All emissions are exact integers (floor-division ppm over BIGINT
  * counts), so both engines hash-match bit-for-bit.
  */
object DriftQueries {

  /** Oracle for `ts_holt_winters_seasonal`: the recursive CTE carries
    * the 7 seasonal slots as columns (standard SQL recursion cannot
    * carry arrays mutably); only the active slot's CASE arm rewrites
    * per step, mirroring the driver fold's single-slot update. */
  private lazy val HwSeasonalSql: String = {
    def sel(prefix: String, ix: String): String =
      s"(CASE CAST(($ix) % 7 AS INT) WHEN 0 THEN ${prefix}s0 WHEN 1 THEN ${prefix}s1" +
        s" WHEN 2 THEN ${prefix}s2 WHEN 3 THEN ${prefix}s3 WHEN 4 THEN ${prefix}s4" +
        s" WHEN 5 THEN ${prefix}s5 ELSE ${prefix}s6 END)"
    val sj = sel("rec.", "g.rk - 1")
    val newL = s"((g.y * 1048576 - $sj + (rec.l + rec.b)) // 2)"
    def sUpd(k: Int): String =
      s"CASE WHEN (g.rk - 1) % 7 = $k THEN ((g.y * 1048576 - $newL) + rec.s$k) // 2 ELSE rec.s$k END"
    s"""WITH RECURSIVE d AS (
       |  SELECT epoch_us(ts) // 86400000000 AS day,
       |    CAST(count(*) AS BIGINT) AS y
       |  FROM events GROUP BY 1),
       |g AS (SELECT day, y, CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS rk
       |  FROM d),
       |rec AS (
       |  SELECT rk, day, y, y * 1048576 AS l, CAST(0 AS BIGINT) AS b,
       |    CAST(0 AS BIGINT) AS s0, CAST(0 AS BIGINT) AS s1,
       |    CAST(0 AS BIGINT) AS s2, CAST(0 AS BIGINT) AS s3,
       |    CAST(0 AS BIGINT) AS s4, CAST(0 AS BIGINT) AS s5,
       |    CAST(0 AS BIGINT) AS s6, CAST(NULL AS BIGINT) AS err_s
       |  FROM g WHERE rk = 1
       |  UNION ALL
       |  SELECT g.rk, g.day, g.y,
       |    $newL AS l,
       |    (($newL - rec.l) + rec.b) // 2 AS b,
       |    ${sUpd(0)}, ${sUpd(1)}, ${sUpd(2)}, ${sUpd(3)}, ${sUpd(4)},
       |    ${sUpd(5)}, ${sUpd(6)},
       |    g.y * 1048576 - (rec.l + rec.b + $sj) AS err_s
       |  FROM rec JOIN g ON g.rk = rec.rk + 1),
       |lastr AS (SELECT * FROM rec ORDER BY rk DESC LIMIT 1),
       |fc AS (
       |  SELECT 'forecast' AS role, lastr.day + h.h AS day,
       |    CAST(NULL AS BIGINT) AS y, CAST(NULL AS BIGINT) AS level_s,
       |    CAST(NULL AS BIGINT) AS trend_s, CAST(NULL AS BIGINT) AS season_s,
       |    CAST(NULL AS BIGINT) AS err_s,
       |    lastr.l + h.h * lastr.b
       |      + ${sel("lastr.", "lastr.rk - 1 + h.h")} AS forecast_s
       |  FROM lastr CROSS JOIN
       |    (SELECT CAST(unnest(generate_series(1, 7)) AS BIGINT) AS h) h)
       |SELECT 'fit' AS role, day, y, l AS level_s, b AS trend_s,
       |  ${sel("", "rk - 1")} AS season_s, err_s,
       |  l + b + ${sel("", "rk")} AS forecast_s
       |FROM rec
       |UNION ALL SELECT * FROM fc
       |ORDER BY day""".stripMargin
  }

  def defs: Map[String, QueryDef] = Map(

    // ----- two-segment OLS structural break (Chow 1960), exact -----
    // CUSUM (below) finds LEVEL shifts; this finds TREND breaks — the
    // drift class a mean-based detector is blind to. A slope change is
    // planted into the daily order-count series (y += max(0, x − 1200),
    // engine-identical arithmetic), then every 90-day grid point c is
    // scored as a candidate split: fit OLS left and right, total
    // SSE(c) = SSE_l + SSE_r, best split = argmin. Exactness discipline:
    // per segment, n·den·SSE = den·syyc − num² (den = n·Σx²−(Σx)²,
    // num = n·Σxy−ΣxΣy, syyc = n·Σy²−(Σy)²) is an exact integer;
    // ONE floored division per (candidate, side) scales it to micro
    // units (the ppm-floors-before-compare precedent), after which
    // argmin and the gain-vs-no-split ratio are pure BIGINT. The
    // no-split model rides as candidate −1, so its SSE shares the same
    // fold. Candidate count is calendar-bounded (~25 quarters) — the
    // cross join is |days|×|candidates|, never corpus-scale — and the
    // moments fold map-side. The emitted verdict: the argmin lands on
    // the 1170/1260 grid points bracketing the planted break, left
    // slope ≈ 0, right slope ≈ 1e6 ppm/day, gain > 90%.
    "ts_changepoint_segmented" -> QueryDef.sql(
      """WITH mn AS (SELECT min(o_orderdate) AS d0 FROM orders),
        |d AS (
        |  SELECT CAST(date_diff('day', mn.d0, o_orderdate) AS BIGINT) AS x,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM orders CROSS JOIN mn GROUP BY 1),
        |s AS (SELECT x, n + greatest(0, x - 1200) AS y FROM d),
        |mx AS (SELECT max(x) AS xmax FROM s),
        |cand AS (
        |  SELECT c FROM (SELECT DISTINCT (x // 90) * 90 AS c FROM s) q
        |  CROSS JOIN mx WHERE c >= 2 AND c <= mx.xmax - 1
        |  UNION ALL SELECT CAST(-1 AS BIGINT)),
        |seg AS (
        |  SELECT c.c,
        |    CASE WHEN c.c < 0 THEN 0 WHEN s.x < c.c THEN 0 ELSE 1 END AS side,
        |    CAST(count(*) AS HUGEINT) AS nn,
        |    CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
        |    CAST(sum(x * x) AS HUGEINT) AS sxx,
        |    CAST(sum(x * y) AS HUGEINT) AS sxy,
        |    CAST(sum(y * y) AS HUGEINT) AS syy
        |  FROM s CROSS JOIN cand c GROUP BY 1, 2),
        |m AS (
        |  SELECT c, side, nn,
        |    nn * sxx - sx * sx AS den, nn * sxy - sx * sy AS num,
        |    nn * syy - sy * sy AS syyc
        |  FROM seg),
        |e AS (
        |  SELECT c, side,
        |    (1000000 * (den * syyc - num * num)) // (nn * den) AS sse_micro,
        |    (1000000 * num) // den AS slope_ppm
        |  FROM m),
        |t AS (
        |  SELECT c, CAST(sum(sse_micro) AS BIGINT) AS sse_total_micro,
        |    CAST(sum(CASE WHEN side = 0 THEN slope_ppm END) AS BIGINT) AS slope_l_ppm,
        |    CAST(sum(CASE WHEN side = 1 THEN slope_ppm END) AS BIGINT) AS slope_r_ppm
        |  FROM e GROUP BY 1),
        |f AS (SELECT sse_total_micro AS sse_full_micro FROM t WHERE c = -1),
        |b AS (SELECT min(sse_total_micro) AS best FROM t WHERE c >= 0)
        |SELECT CAST(t.c AS BIGINT) AS split_x, t.sse_total_micro,
        |  t.slope_l_ppm, t.slope_r_ppm, f.sse_full_micro,
        |  CAST((1000000 * CAST(f.sse_full_micro - t.sse_total_micro AS HUGEINT))
        |    // f.sse_full_micro AS BIGINT) AS gain_ppm,
        |  CAST(t.sse_total_micro = b.best AS BIGINT) AS is_best
        |FROM t CROSS JOIN f CROSS JOIN b
        |WHERE t.c >= 0 ORDER BY split_x""".stripMargin) { (s, d) =>
      orders(s, d).createOrReplaceTempView("graft_cp_orders")
      s.sql(
        """WITH mn AS (SELECT min(o_orderdate) AS d0 FROM graft_cp_orders),
          |d AS (
          |  SELECT CAST(datediff(o_orderdate, mn.d0) AS BIGINT) AS x,
          |    CAST(count(*) AS BIGINT) AS n
          |  FROM graft_cp_orders CROSS JOIN mn GROUP BY 1),
          |s AS (SELECT x, n + greatest(CAST(0 AS BIGINT), x - 1200) AS y FROM d),
          |mx AS (SELECT max(x) AS xmax FROM s),
          |cand AS (
          |  SELECT c FROM (SELECT DISTINCT (x div 90) * 90 AS c FROM s) q
          |  CROSS JOIN mx WHERE c >= 2 AND c <= mx.xmax - 1
          |  UNION ALL SELECT CAST(-1 AS BIGINT)),
          |seg AS (
          |  SELECT c.c,
          |    CASE WHEN c.c < 0 THEN 0 WHEN s.x < c.c THEN 0 ELSE 1 END AS side,
          |    CAST(count(*) AS DECIMAL(38,0)) AS nn,
          |    CAST(sum(x) AS DECIMAL(38,0)) AS sx,
          |    CAST(sum(y) AS DECIMAL(38,0)) AS sy,
          |    CAST(sum(x * x) AS DECIMAL(38,0)) AS sxx,
          |    CAST(sum(x * y) AS DECIMAL(38,0)) AS sxy,
          |    CAST(sum(y * y) AS DECIMAL(38,0)) AS syy
          |  FROM s CROSS JOIN cand c GROUP BY 1, 2),
          |m AS (
          |  SELECT c, side, nn,
          |    nn * sxx - sx * sx AS den, nn * sxy - sx * sy AS num,
          |    nn * syy - sy * sy AS syyc
          |  FROM seg),
          |e AS (
          |  SELECT c, side,
          |    (CAST(1000000 AS DECIMAL(38,0)) * (den * syyc - num * num))
          |      div (nn * den) AS sse_micro,
          |    (CAST(1000000 AS DECIMAL(38,0)) * num) div den AS slope_ppm
          |  FROM m),
          |t AS (
          |  SELECT c, CAST(sum(sse_micro) AS BIGINT) AS sse_total_micro,
          |    CAST(sum(CASE WHEN side = 0 THEN slope_ppm END) AS BIGINT) AS slope_l_ppm,
          |    CAST(sum(CASE WHEN side = 1 THEN slope_ppm END) AS BIGINT) AS slope_r_ppm
          |  FROM e GROUP BY 1),
          |f AS (SELECT sse_total_micro AS sse_full_micro FROM t WHERE c = -1),
          |b AS (SELECT min(sse_total_micro) AS best FROM t WHERE c >= 0)
          |SELECT CAST(t.c AS BIGINT) AS split_x, t.sse_total_micro,
          |  t.slope_l_ppm, t.slope_r_ppm, f.sse_full_micro,
          |  CAST((CAST(1000000 AS DECIMAL(38,0))
          |      * (f.sse_full_micro - t.sse_total_micro))
          |    div f.sse_full_micro AS BIGINT) AS gain_ppm,
          |  CAST(t.sse_total_micro = b.best AS BIGINT) AS is_best
          |FROM t CROSS JOIN f CROSS JOIN b
          |WHERE t.c >= 0 ORDER BY split_x""".stripMargin)
    },

    // ----- periodogram at chosen periods: the spectral seasonality face -----
    // forecast_acf_lags sees the weekly cycle in the LAG domain
    // (acf(7) ≫ acf(1)); this is the FREQUENCY-domain witness: spectral
    // power P(p) = (Σ ỹ·cos(2πt/p))² + (Σ ỹ·sin(2πt/p))² at candidate
    // periods p ∈ {3,5,7,14,30}, with the mean removed by the integer
    // CUSUM trick (ỹ = n·y − total — no division anywhere). Exactness
    // discipline: ONE cos and ONE sin per (day, period) row — the
    // calendar-bounded transcendental budget — each 6dp-rounded then
    // micro-scaled (the round-ln precedent applied to trig; pi() is the
    // same nearest double on both engines and the argument trees are
    // identical), after which a, b and the power are pure integer
    // arithmetic. The emitted verdict: the peak lands on period 7 — the
    // same weekly structure the seasonal-naive baseline and
    // Holt-Winters already exploit, now located rather than assumed.
    "ts_periodogram" -> QueryDef.sql(
      """WITH d AS (
        |  SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
        |    CAST(count(*) AS BIGINT) AS y
        |  FROM events GROUP BY 1),
        |m0 AS (SELECT min(day) AS d0 FROM d),
        |g AS (SELECT day - m0.d0 AS t, y FROM d CROSS JOIN m0),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS tot
        |      FROM g),
        |ps AS (SELECT unnest([3, 5, 7, 14, 30]) AS p),
        |terms AS (
        |  SELECT ps.p,
        |    (n.n * g.y - n.tot) AS yc,
        |    CAST(round(1000000 * round(cos(2 * pi() * g.t / ps.p), 6)) AS BIGINT) AS c,
        |    CAST(round(1000000 * round(sin(2 * pi() * g.t / ps.p), 6)) AS BIGINT) AS s
        |  FROM g CROSS JOIN ps CROSS JOIN n),
        |ab AS (SELECT p, CAST(sum(yc * c) AS BIGINT) AS a,
        |         CAST(sum(yc * s) AS BIGINT) AS b
        |       FROM terms GROUP BY 1),
        |pw AS (SELECT p,
        |         CAST((CAST(a AS HUGEINT) * a + CAST(b AS HUGEINT) * b)
        |           // 1000000000000 AS BIGINT) AS power_u
        |       FROM ab),
        |mx AS (SELECT max(power_u) AS m FROM pw)
        |SELECT CAST(pw.p AS BIGINT) AS period, pw.power_u,
        |  CAST(pw.power_u = mx.m AS BIGINT) AS is_peak
        |FROM pw CROSS JOIN mx ORDER BY period""".stripMargin) { (s, d) =>
      import s.implicits._
      val dd = events(s, d)
        .select(expr(s"(${graft.util.Tables.epochUsFloorSql}) div 86400000000").as("day"))
        .groupBy("day").agg(count(lit(1)).as("y"))
      val m0 = dd.agg(min("day").as("d0"))
      val g = dd.crossJoin(broadcast(m0))
        .select((col("day") - col("d0")).as("t"), col("y"))
      val n = g.agg(count(lit(1)).as("n"), sum("y").cast("long").as("tot"))
      val ps = Seq(3L, 5L, 7L, 14L, 30L).toDF("p")
      val terms = g.crossJoin(broadcast(ps)).crossJoin(broadcast(n))
        .select(col("p"),
          expr("n * y - tot").as("yc"),
          expr("CAST(round(1000000 * round(cos(2 * pi() * t / p), 6)) AS BIGINT)").as("c"),
          expr("CAST(round(1000000 * round(sin(2 * pi() * t / p), 6)) AS BIGINT)").as("s"))
      val ab = terms.groupBy("p")
        .agg(sum(expr("yc * c")).cast("long").as("a"),
          sum(expr("yc * s")).cast("long").as("b"))
      val pw = ab.select(col("p"),
        expr("""CAST((CAST(a AS DECIMAL(38,0)) * a + CAST(b AS DECIMAL(38,0)) * b)
               |  div 1000000000000 AS BIGINT)""".stripMargin).as("power_u"))
        .localCheckpoint() // 5 rows; feeds the max AND the output
      val mx = pw.agg(max("power_u").as("m"))
      pw.crossJoin(broadcast(mx))
        .select(col("p").as("period"), col("power_u"),
          (col("power_u") === col("m")).cast("long").as("is_peak"))
        .orderBy("period")
    },

    // ----- Ljung–Box portmanteau test: is the daily series white noise? -----
    // forecast_acf_lags reads two lags by eye; this is the TEST over
    // lags 1..7 (Ljung & Box 1978): Q = n(n+2)·Σ_k r_k²/(n−k) against
    // the fixed χ²₇ 5% critical value 14.067140 (a 6dp literal — the
    // z-constant precedent). Each r_k is the integer-CUSUM-scaled
    // autocorrelation the ACF query already defines (one ppm floor per
    // lag); r² terms and the Q fold are pure BIGINT after that. The
    // emitted verdict at fixture scale: Q stays under the bar — a
    // 30-day window of a weekly signal this size is NOT yet
    // distinguishable from white noise by a portmanteau test, which is
    // precisely the sample-size honesty the spectral/ACF readings need
    // beside them.
    "ts_ljung_box" -> QueryDef.sql(
      """WITH d AS (
        |  SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day FROM events),
        |c AS (SELECT day, CAST(count(*) AS BIGINT) AS c FROM d GROUP BY day),
        |st AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(c) AS BIGINT) AS t FROM c),
        |y AS (SELECT day, n * c - t AS y FROM c CROSS JOIN st),
        |den AS (SELECT CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS d2 FROM y),
        |lags AS (SELECT CAST(unnest(generate_series(1, 7)) AS BIGINT) AS lag),
        |num AS (
        |  SELECT l.lag, CAST(sum(CAST(a.y AS HUGEINT) * b.y) AS HUGEINT) AS nk
        |  FROM lags l JOIN y a ON TRUE JOIN y b ON b.day = a.day + l.lag
        |  GROUP BY l.lag),
        |r AS (
        |  SELECT n.lag, CAST((1000000 * n.nk) // d.d2 AS BIGINT) AS acf_ppm
        |  FROM num n CROSS JOIN den d),
        |terms AS (
        |  SELECT r.lag, r.acf_ppm,
        |    (r.acf_ppm * r.acf_ppm) // (st.n - r.lag) AS term
        |  FROM r CROSS JOIN st),
        |q AS (
        |  SELECT CAST((st.n * (st.n + 2) * sum(terms.term)) // 1000000 AS BIGINT)
        |    AS q_micro
        |  FROM terms CROSS JOIN st GROUP BY st.n)
        |SELECT t.lag, t.acf_ppm, CAST(t.term AS BIGINT) AS term,
        |  q.q_micro, CAST(14067140 AS BIGINT) AS crit_micro,
        |  CAST(q.q_micro > 14067140 AS BIGINT) AS reject_white_noise
        |FROM terms t CROSS JOIN q ORDER BY t.lag""".stripMargin) { (s, d) =>
      import s.implicits._
      val dd = events(s, d)
        .select(expr(s"(${graft.util.Tables.epochUsFloorSql}) div 86400000000").as("day"))
        .groupBy("day").agg(count(lit(1)).as("c"))
      val st = dd.agg(count(lit(1)).as("n"), sum("c").cast("long").as("t"))
      val y = dd.crossJoin(broadcast(st))
        .select(col("day"), (col("n") * col("c") - col("t")).as("y"), col("n"))
        .localCheckpoint() // bounded calendar rows; self-joined per lag
      val den = y.agg(expr("CAST(sum(CAST(y AS DECIMAL(38,0)) * y) AS DECIMAL(38,0))").as("d2"))
      val lags = (1L to 7L).toDF("lag")
      val num = lags.crossJoin(y.select(col("day"), col("y").as("ya")))
        .join(y.select((col("day")).as("bday"), col("y").as("yb")),
          col("bday") === col("day") + col("lag"))
        .groupBy("lag")
        .agg(expr("CAST(sum(CAST(ya AS DECIMAL(38,0)) * yb) AS DECIMAL(38,0))").as("nk"))
      val r = num.crossJoin(broadcast(den))
        .select(col("lag"),
          expr("CAST((1000000 * nk) div d2 AS BIGINT)").as("acf_ppm"))
      val terms = r.crossJoin(broadcast(st))
        .select(col("lag"), col("acf_ppm"),
          expr("(acf_ppm * acf_ppm) div (n - lag)").as("term"))
        .localCheckpoint() // 7 rows; feeds Q AND the output
      val q = terms.crossJoin(broadcast(st))
        .groupBy("n")
        .agg(expr("CAST((n * (n + 2) * sum(term)) div 1000000 AS BIGINT)").as("q_micro"))
        .select("q_micro")
      terms.crossJoin(broadcast(q))
        .select(col("lag"), col("acf_ppm"), col("term").cast("long").as("term"),
          col("q_micro"), lit(14067140L).as("crit_micro"),
          (col("q_micro") > 14067140L).cast("long").as("reject_white_noise"))
        .orderBy("lag")
    },

    // ----- Wilcoxon signed-rank test (paired, nonparametric) -----
    // Completes the paired-test family (McNemar = paired binary,
    // Mann–Whitney AUC = unpaired ranks; this is paired MAGNITUDES):
    // per day, d = views − clicks, zero differences dropped, |d| ranked
    // with AVERAGE ranks for ties — kept exact by working in DOUBLED
    // ranks, where the tie-group average 2·r̄ = 2·(count below) +
    // (group size + 1) is an integer. W₂⁺/W₂⁻ and the signed sum are
    // exact BIGINTs; the normal approximation z = S/√Var with the
    // standard tie correction Σ(t³−t) takes ONE IEEE-chain sqrt over an
    // identically-composed double (the DeLong/Wilson precedent) and
    // floors once. Verdict column at the fixed 5% z — and the measured
    // verdict is a genuine null: the daily view/click counts are
    // near-symmetric (z = −0.24 at sf0.01), which is what a
    // uniform-mixture event generator SHOULD read, and exactly the
    // case a rank test must not false-positive on.
    "stats_wilcoxon_signed_rank" -> QueryDef.sql(
      """WITH d AS (
        |  SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
        |    CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT)
        |      - CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS diff
        |  FROM events GROUP BY 1),
        |nz AS (SELECT day, diff, abs(diff) AS ad FROM d WHERE diff <> 0),
        |grp AS (SELECT ad, CAST(count(*) AS BIGINT) AS t FROM nz GROUP BY 1),
        |rk AS (
        |  SELECT ad, t,
        |    2 * (CAST(sum(t) OVER (ORDER BY ad) AS BIGINT) - t) + t + 1 AS rank2
        |  FROM grp),
        |j AS (SELECT nz.diff, rk.rank2 FROM nz JOIN rk ON rk.ad = nz.ad),
        |agg AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN diff > 0 THEN rank2 ELSE 0 END) AS BIGINT) AS w2p,
        |    CAST(sum(CASE WHEN diff < 0 THEN rank2 ELSE 0 END) AS BIGINT) AS w2m
        |  FROM j),
        |tt AS (SELECT CAST(sum(t * t * t - t) AS BIGINT) AS tie FROM grp)
        |SELECT agg.n, agg.w2p, agg.w2m, tt.tie,
        |  CAST(floor(1000000 * (agg.w2p - agg.w2m) / sqrt(
        |    (2.0 * agg.n * (agg.n + 1) * (2 * agg.n + 1) - tt.tie) / 3.0))
        |    AS BIGINT) AS z_micro,
        |  CAST(abs(floor(1000000 * (agg.w2p - agg.w2m) / sqrt(
        |    (2.0 * agg.n * (agg.n + 1) * (2 * agg.n + 1) - tt.tie) / 3.0)))
        |    >= 1959964 AS BIGINT) AS significant_5pct
        |FROM agg CROSS JOIN tt""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val dd = events(s, d)
        .select(expr(s"(${graft.util.Tables.epochUsFloorSql}) div 86400000000").as("day"),
          col("event_type"))
        .groupBy("day")
        .agg((sum(when(col("event_type") === "view", 1L).otherwise(0L))
          - sum(when(col("event_type") === "click", 1L).otherwise(0L)))
          .cast("long").as("diff"))
      val nz = dd.filter(col("diff") =!= 0L)
        .select(col("diff"), abs(col("diff")).as("ad"))
        .localCheckpoint() // bounded calendar rows; ranked + joined
      val grp = nz.groupBy("ad").agg(count(lit(1)).as("t"))
      val rk = grp.withColumn("rank2",
        lit(2) * (sum("t").over(Window.orderBy("ad")) - col("t")) + col("t") + 1)
      val j = nz.join(broadcast(rk), Seq("ad"))
      val agg = j.agg(count(lit(1)).as("n"),
        sum(when(col("diff") > 0, col("rank2")).otherwise(0L)).cast("long").as("w2p"),
        sum(when(col("diff") < 0, col("rank2")).otherwise(0L)).cast("long").as("w2m"))
      val tt = grp.agg(expr("CAST(sum(t * t * t - t) AS BIGINT)").as("tie"))
      agg.crossJoin(broadcast(tt))
        .select(col("n"), col("w2p"), col("w2m"), col("tie"),
          expr("""CAST(floor(1000000 * (w2p - w2m) / sqrt(
                 |  (2.0 * n * (n + 1) * (2 * n + 1) - tie) / 3.0)) AS BIGINT)""".stripMargin)
            .as("z_micro"),
          expr("""CAST(abs(floor(1000000 * (w2p - w2m) / sqrt(
                 |  (2.0 * n * (n + 1) * (2 * n + 1) - tie) / 3.0)))
                 |  >= 1959964 AS BIGINT)""".stripMargin).as("significant_5pct"))
    },

    // ----- forecast prediction intervals + out-of-sample coverage -----
    // The forecast ladder emits point forecasts and backtest MAEs; this
    // is the UNCERTAINTY face: empirical 80% intervals from the
    // seasonal-naive model's TRAIN residuals (exact integer order
    // statistics at the ((q·(n−1))//100)+1 ranks — no distributional
    // assumption), then the fraction of TEST days the interval actually
    // covers, in ppm beside the 800000 it claims. Chronological 80/20
    // split (the only honest one for time series); residuals are
    // integer day-count differences end to end. The coverage gap IS the
    // deliverable — a calibrated interval reads ≈ 800000, and a model
    // whose errors grow over time under-covers, visibly.
    "forecast_interval_coverage" -> QueryDef.sql(
      """WITH d AS (
        |  SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
        |    CAST(count(*) AS BIGINT) AS y
        |  FROM events GROUP BY 1),
        |g AS (SELECT day, y, row_number() OVER (ORDER BY day) AS rk,
        |        count(*) OVER () AS nn
        |      FROM d),
        |p AS (
        |  SELECT a.rk, a.day, a.y, b.y AS yhat, a.nn,
        |    CASE WHEN 5 * a.rk <= 4 * a.nn THEN 1 ELSE 0 END AS is_train
        |  FROM g a JOIN g b ON b.rk = a.rk - 7),
        |res AS (SELECT y - yhat AS r FROM p WHERE is_train = 1),
        |nr AS (SELECT CAST(count(*) AS BIGINT) AS n FROM res),
        |o AS (SELECT r, row_number() OVER (ORDER BY r) AS rr FROM res),
        |q AS (
        |  SELECT
        |    max(CASE WHEN rr = (10 * (nr.n - 1)) // 100 + 1 THEN r END) AS q10,
        |    max(CASE WHEN rr = (90 * (nr.n - 1)) // 100 + 1 THEN r END) AS q90
        |  FROM o CROSS JOIN nr),
        |cov AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_test,
        |    CAST(sum(CASE WHEN p.y BETWEEN p.yhat + q.q10 AND p.yhat + q.q90
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_in
        |  FROM p CROSS JOIN q WHERE p.is_train = 0)
        |SELECT q.q10, q.q90, cov.n_test, cov.n_in,
        |  CAST((1000000 * cov.n_in) // cov.n_test AS BIGINT) AS coverage_ppm,
        |  CAST(800000 AS BIGINT) AS nominal_ppm
        |FROM q CROSS JOIN cov""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val dd = events(s, d)
        .select(expr(s"(${graft.util.Tables.epochUsFloorSql}) div 86400000000").as("day"))
        .groupBy("day").agg(count(lit(1)).as("y"))
      val g = dd
        .withColumn("rk", row_number().over(Window.orderBy("day")))
        .withColumn("nn", count(lit(1)).over(Window.partitionBy()))
        .localCheckpoint() // bounded calendar rows; self-joined
      val p = g.as("a").join(g.select(col("rk").as("brk"), col("y").as("yhat")),
          col("brk") === col("rk") - 7)
        .select(col("rk"), col("day"), col("y"), col("yhat"), col("nn"),
          when(lit(5) * col("rk") <= lit(4) * col("nn"), 1L).otherwise(0L)
            .as("is_train"))
        .localCheckpoint()
      val res = p.filter(col("is_train") === 1).select((col("y") - col("yhat")).as("r"))
      val nr = res.agg(count(lit(1)).as("n"))
      val o = res.withColumn("rr", row_number().over(Window.orderBy("r")))
      val q = o.crossJoin(broadcast(nr)).agg(
        max(when(col("rr") === expr("(10 * (n - 1)) div 100 + 1"), col("r"))).as("q10"),
        max(when(col("rr") === expr("(90 * (n - 1)) div 100 + 1"), col("r"))).as("q90"))
      val cov = p.filter(col("is_train") === 0).crossJoin(broadcast(q))
        .agg(count(lit(1)).as("n_test"),
          sum(when(col("y").between(col("yhat") + col("q10"),
            col("yhat") + col("q90")), 1L).otherwise(0L)).cast("long").as("n_in"))
      q.crossJoin(cov)
        .select(col("q10"), col("q90"), col("n_test"), col("n_in"),
          expr("CAST((1000000 * n_in) div n_test AS BIGINT)").as("coverage_ppm"),
          lit(800000L).as("nominal_ppm"))
    },

    // ----- DeLong confidence interval for the ROC AUC -----
    // eval_roc_auc emits the point estimate; this is its sampling
    // uncertainty (DeLong, DeLong & Clarke-Pearson 1988) — the number
    // that says whether 0.73 beats 0.70 or the test set is just small.
    // Structural components fold over the BOUNDED score alphabet: every
    // positive at score s shares the placement v(s) = 2·(negs below) +
    // (negs tied) (the Mann–Whitney convention eval_roc_auc already
    // uses), so Σv and Σv² are two passes over alphabet-cardinality
    // rows and the component variances are exact HUGEINT rationals.
    // The single sqrt rides the IEEE-chain discipline (one
    // correctly-rounded sqrt inside an identical literal tree on both
    // engines — the Wilson/Neyman precedent) with z as the same fixed
    // 6dp constant the power analysis uses; one floor at the end.
    "eval_auc_delong_ci" -> QueryDef.sql(
      """WITH lab AS (
        |  SELECT o.o_orderkey,
        |    CAST(max(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS pos,
        |    CAST(count(*) AS BIGINT) AS score
        |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |  GROUP BY 1),
        |g AS (
        |  SELECT score, CAST(sum(pos) AS BIGINT) AS pos_s,
        |    CAST(count(*) - sum(pos) AS BIGINT) AS neg_s
        |  FROM lab GROUP BY 1),
        |c AS (
        |  SELECT score, pos_s, neg_s,
        |    CAST(sum(neg_s) OVER (ORDER BY score) - neg_s AS BIGINT) AS cnb,
        |    CAST(sum(pos_s) OVER (ORDER BY score DESC) - pos_s AS BIGINT) AS cpa
        |  FROM g),
        |v AS (
        |  SELECT CAST(sum(pos_s) AS BIGINT) AS m, CAST(sum(neg_s) AS BIGINT) AS n,
        |    CAST(sum(pos_s * (2 * cnb + neg_s)) AS BIGINT) AS sv,
        |    CAST(sum(pos_s * CAST(2 * cnb + neg_s AS HUGEINT)
        |      * (2 * cnb + neg_s)) AS HUGEINT) AS sv2,
        |    CAST(sum(neg_s * (2 * cpa + pos_s)) AS BIGINT) AS sw,
        |    CAST(sum(neg_s * CAST(2 * cpa + pos_s AS HUGEINT)
        |      * (2 * cpa + pos_s)) AS HUGEINT) AS sw2
        |  FROM c),
        |r AS (
        |  SELECT m, n,
        |    CAST((CAST(1000000 AS HUGEINT) * sv) // (2 * CAST(m AS HUGEINT) * n)
        |      AS BIGINT) AS auc_ppm,
        |    CAST(floor(1000000 * 1.959964 * sqrt(
        |      CAST(CAST(m AS HUGEINT) * sv2 - CAST(sv AS HUGEINT) * sv AS DOUBLE)
        |        / (CAST(m AS DOUBLE) * m * (m - 1) * 4 * n * n)
        |      + CAST(CAST(n AS HUGEINT) * sw2 - CAST(sw AS HUGEINT) * sw AS DOUBLE)
        |        / (CAST(n AS DOUBLE) * n * (n - 1) * 4 * m * m))) AS BIGINT) AS hw_ppm
        |  FROM v)
        |SELECT m AS n_pos, n AS n_neg, auc_ppm, hw_ppm,
        |  CAST(auc_ppm - hw_ppm AS BIGINT) AS ci_lo_ppm,
        |  CAST(auc_ppm + hw_ppm AS BIGINT) AS ci_hi_ppm
        |FROM r""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val lab = orders(s, d).join(lineitem(s, d),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderkey")
        .agg(max(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("pos"),
          count(lit(1)).as("score"))
      val g = lab.groupBy("score")
        .agg(sum("pos").cast("long").as("pos_s"),
          expr("CAST(count(*) - sum(pos) AS BIGINT)").as("neg_s"))
      val c = g
        .withColumn("cnb", sum("neg_s").over(Window.orderBy("score")) - col("neg_s"))
        .withColumn("cpa",
          sum("pos_s").over(Window.orderBy(col("score").desc)) - col("pos_s"))
      val v = c.agg(
        sum("pos_s").cast("long").as("m"), sum("neg_s").cast("long").as("n"),
        expr("CAST(sum(pos_s * (2 * cnb + neg_s)) AS BIGINT)").as("sv"),
        expr("""CAST(sum(pos_s * CAST(2 * cnb + neg_s AS DECIMAL(38,0))
               |  * (2 * cnb + neg_s)) AS DECIMAL(38,0))""".stripMargin).as("sv2"),
        expr("CAST(sum(neg_s * (2 * cpa + pos_s)) AS BIGINT)").as("sw"),
        expr("""CAST(sum(neg_s * CAST(2 * cpa + pos_s AS DECIMAL(38,0))
               |  * (2 * cpa + pos_s)) AS DECIMAL(38,0))""".stripMargin).as("sw2"))
      v.select(col("m"), col("n"),
          expr("""CAST((CAST(1000000 AS DECIMAL(38,0)) * sv)
                 |  div (2 * CAST(m AS DECIMAL(38,0)) * n) AS BIGINT)""".stripMargin)
            .as("auc_ppm"),
          expr("""CAST(floor(1000000 * 1.959964 * sqrt(
                 |  CAST(CAST(m AS DECIMAL(38,0)) * sv2 - CAST(sv AS DECIMAL(38,0)) * sv AS DOUBLE)
                 |    / (CAST(m AS DOUBLE) * m * (m - 1) * 4 * n * n)
                 |  + CAST(CAST(n AS DECIMAL(38,0)) * sw2 - CAST(sw AS DECIMAL(38,0)) * sw AS DOUBLE)
                 |    / (CAST(n AS DOUBLE) * n * (n - 1) * 4 * m * m))) AS BIGINT)""".stripMargin)
            .as("hw_ppm"))
        .select(col("m").as("n_pos"), col("n").as("n_neg"),
          col("auc_ppm"), col("hw_ppm"),
          (col("auc_ppm") - col("hw_ppm")).as("ci_lo_ppm"),
          (col("auc_ppm") + col("hw_ppm")).as("ci_hi_ppm"))
    },

    // ----- CART decision stump: exact Gini split search -----
    // The tree-learning primitive (Breiman et al. 1984) the supervised
    // face lacked beside Naive Bayes: every (feature, threshold) split
    // of the returns label is scored by weighted child PURITY
    // Σ_c (pos_c² + neg_c²)/(n_c·T) — maximizing it is minimizing
    // weighted Gini, and per-candidate the quantity is one floored
    // micro division over exact BIGINT squares (the floors-before-
    // compare contract; ties break to the first feature/threshold).
    // Candidate grid: ordered thresholds over the three BOUNDED
    // features (line count 1..7, 50k price bands, priority rank) — the
    // per-(feature, threshold) class counts fold from ONE bounded
    // contingency table, so the corpus is read once no matter how many
    // candidates. The measured verdict: line count splits best (the
    // same signal the Brier/fairness classifiers use), price is noise.
    "ml_stump_split" -> QueryDef.sql(
      """WITH lab AS (
        |  SELECT o.o_orderkey,
        |    least(CAST(count(*) AS BIGINT), 7) AS f_lines,
        |    least(CAST(floor(o.o_totalprice / 50000) AS BIGINT), 7) AS f_price,
        |    CAST(substr(o.o_orderpriority, 1, 1) AS BIGINT) AS f_prio,
        |    CAST(max(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS pos
        |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |  GROUP BY 1, 3, 4),
        |longf AS (
        |  SELECT 'lines' AS feature, f_lines AS v, pos FROM lab
        |  UNION ALL SELECT 'price', f_price, pos FROM lab
        |  UNION ALL SELECT 'prio', f_prio, pos FROM lab),
        |ct AS (SELECT feature, v, CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(pos) AS BIGINT) AS p
        |       FROM longf GROUP BY 1, 2),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS tn, CAST(sum(p) AS BIGINT) AS tp
        |        FROM ct WHERE feature = 'lines'),
        |cand AS (
        |  SELECT c.feature, c.v AS thr,
        |    CAST(sum(CASE WHEN x.v <= c.v THEN x.n ELSE 0 END) AS BIGINT) AS nl,
        |    CAST(sum(CASE WHEN x.v <= c.v THEN x.p ELSE 0 END) AS BIGINT) AS pl
        |  FROM ct c JOIN ct x ON x.feature = c.feature
        |  GROUP BY 1, 2),
        |sc AS (
        |  SELECT cand.feature, cand.thr, nl, tot.tn - nl AS nr,
        |    CASE WHEN nl > 0 AND tot.tn - nl > 0 THEN
        |      CAST((1000000 * (pl * pl + (nl - pl) * (nl - pl))) // (nl * tot.tn)
        |        + (1000000 * ((tot.tp - pl) * (tot.tp - pl)
        |            + ((tot.tn - nl) - (tot.tp - pl)) * ((tot.tn - nl) - (tot.tp - pl))))
        |          // ((tot.tn - nl) * tot.tn) AS BIGINT)
        |    ELSE NULL END AS purity_micro
        |  FROM cand CROSS JOIN tot),
        |b AS (SELECT max(purity_micro) AS best FROM sc)
        |SELECT sc.feature, CAST(sc.thr AS BIGINT) AS thr, sc.nl, sc.nr,
        |  sc.purity_micro,
        |  CAST(coalesce(sc.purity_micro = b.best, FALSE) AS BIGINT) AS is_best
        |FROM sc CROSS JOIN b
        |ORDER BY sc.feature, thr""".stripMargin) { (s, d) =>
      val lab = orders(s, d).join(lineitem(s, d),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderkey"),
          expr("least(CAST(floor(o_totalprice / 50000) AS BIGINT), 7)").as("f_price"),
          expr("CAST(substr(o_orderpriority, 1, 1) AS BIGINT)").as("f_prio"))
        .agg(least(count(lit(1)), lit(7L)).as("f_lines"),
          max(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("pos"))
      val longf = lab.select(lit("lines").as("feature"), col("f_lines").as("v"), col("pos"))
        .unionByName(lab.select(lit("price").as("feature"), col("f_price").as("v"), col("pos")))
        .unionByName(lab.select(lit("prio").as("feature"), col("f_prio").as("v"), col("pos")))
      val ct = longf.groupBy("feature", "v")
        .agg(count(lit(1)).as("n"), sum("pos").cast("long").as("p"))
        .localCheckpoint() // bounded contingency table, 3 consumers
      val tot = ct.filter(col("feature") === "lines")
        .agg(sum("n").cast("long").as("tn"), sum("p").cast("long").as("tp"))
      val cand = ct.select(col("feature"), col("v").as("thr"))
        .join(ct.select(col("feature"), col("v"), col("n"), col("p")), Seq("feature"))
        .groupBy("feature", "thr")
        .agg(sum(when(col("v") <= col("thr"), col("n")).otherwise(0L))
            .cast("long").as("nl"),
          sum(when(col("v") <= col("thr"), col("p")).otherwise(0L))
            .cast("long").as("pl"))
      val sc = cand.crossJoin(broadcast(tot))
        .select(col("feature"), col("thr"), col("nl"), (col("tn") - col("nl")).as("nr"),
          expr("""CASE WHEN nl > 0 AND tn - nl > 0 THEN
                 |  CAST((1000000 * (pl * pl + (nl - pl) * (nl - pl))) div (nl * tn)
                 |    + (1000000 * ((tp - pl) * (tp - pl)
                 |        + ((tn - nl) - (tp - pl)) * ((tn - nl) - (tp - pl))))
                 |      div ((tn - nl) * tn) AS BIGINT)
                 |ELSE NULL END""".stripMargin).as("purity_micro"))
        .localCheckpoint()
      val b = sc.agg(max("purity_micro").as("best"))
      sc.crossJoin(broadcast(b))
        .select(col("feature"), col("thr").cast("long").as("thr"),
          col("nl"), col("nr"), col("purity_micro"),
          coalesce(col("purity_micro") === col("best"), lit(false))
            .cast("long").as("is_best"))
        .orderBy("feature", "thr")
    },

    // ----- A/B power analysis: required n per arm, exact -----
    // The planning face the experimentation family lacked (χ², CUPED,
    // SPRT, group-sequential, bootstrap all ANALYZE a finished test;
    // this sizes the next one): two-proportion normal approximation
    // n = (z_{α/2}+z_β)²·(p₀(1−p₀)+p₁(1−p₁))/δ² at α=5%, power=80%.
    // The two normal quantiles are FIXED 6dp constants (1.959964,
    // 0.841621 — the SPRT micro-log-constant precedent), so the whole
    // computation is one cross-multiplied ceiling division per δ row:
    // n = ⌈Z²_µ·V / (10¹²·D²)⌉ with V = P(1e6−P)+P₁(1e6−P₁) in ppm².
    // Base rate = heavy-purchaser share (purchases ≥ 20% of the user's
    // events — the plain any-purchase rate saturates at 100% on this
    // fixture, a degenerate p the power formula rightly explodes on);
    // the verdict column says
    // whether a 50/50 split of TODAY'S users could detect each δ — and
    // the honest answer at fixture scale is "only the big ones", which
    // is exactly what a power table is for.
    "ab_power_analysis" -> QueryDef.sql(
      """WITH u AS (
        |  SELECT user_id,
        |    CAST(CASE WHEN 5 * sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      >= count(*) THEN 1 ELSE 0 END AS BIGINT) AS conv
        |  FROM events GROUP BY 1),
        |base AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |           (1000000 * CAST(sum(conv) AS BIGINT)) // count(*) AS p
        |         FROM u),
        |ds AS (SELECT unnest([10000, 20000, 50000, 100000]) AS d),
        |calc AS (
        |  SELECT CAST(ds.d AS BIGINT) AS delta_ppm, base.p AS p_base_ppm,
        |    base.n // 2 AS n_have,
        |    (base.p * (1000000 - base.p)
        |      + (base.p + ds.d) * (1000000 - base.p - ds.d)) AS v
        |  FROM ds CROSS JOIN base),
        |req AS (
        |  SELECT delta_ppm, p_base_ppm, n_have,
        |    (2801585 * CAST(2801585 AS HUGEINT) * v
        |      + (CAST(1000000000000 AS HUGEINT) * delta_ppm * delta_ppm - 1))
        |      // (CAST(1000000000000 AS HUGEINT) * delta_ppm * delta_ppm)
        |      AS n_required
        |  FROM calc)
        |SELECT delta_ppm, p_base_ppm, CAST(n_required AS BIGINT) AS n_required,
        |  CAST(n_have AS BIGINT) AS n_have,
        |  CAST(n_have >= n_required AS BIGINT) AS powered
        |FROM req ORDER BY delta_ppm""".stripMargin) { (s, d) =>
      import s.implicits._
      val u = events(s, d).groupBy("user_id")
        .agg(expr("""CAST(CASE WHEN 5 * sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  |  >= count(*) THEN 1 ELSE 0 END AS BIGINT)""".stripMargin).as("conv"))
      val base = u.agg(count(lit(1)).as("n"),
        expr("(1000000 * CAST(sum(conv) AS BIGINT)) div count(*)").as("p"))
      val ds = Seq(10000L, 20000L, 50000L, 100000L).toDF("d")
      ds.crossJoin(broadcast(base))
        .select(col("d").as("delta_ppm"), col("p").as("p_base_ppm"),
          expr("n div 2").as("n_have"),
          expr("p * (1000000 - p) + (p + d) * (1000000 - p - d)").as("v"))
        .select(col("delta_ppm"), col("p_base_ppm"),
          expr("""CAST((2801585 * CAST(2801585 AS DECIMAL(38,0)) * v
                 |  + (CAST(1000000000000 AS DECIMAL(38,0)) * delta_ppm * delta_ppm - 1))
                 |  div (CAST(1000000000000 AS DECIMAL(38,0)) * delta_ppm * delta_ppm)
                 |  AS BIGINT)""".stripMargin).as("n_required"),
          col("n_have"))
        .select(col("delta_ppm"), col("p_base_ppm"), col("n_required"),
          col("n_have").cast("long").as("n_have"),
          (col("n_have") >= col("n_required")).cast("long").as("powered"))
        .orderBy("delta_ppm")
    },

    // ----- Brier score decomposition (Murphy 1973), exact -----
    // The proper-scoring-rule companion of knn_calibration_ece: the
    // returns classifier's binned forecasts (train-split base rate per
    // line-count bin, floored ppm) scored on the test split and split
    // into BS = REL − RES + UNC — reliability (are the probabilities
    // honest), resolution (do the bins separate outcomes), uncertainty
    // (the irreducible base-rate floor). Every term is an exact
    // cross-multiplied integer: REL_k = (p_k·n_k − 1e6·pos_k)²/n_k,
    // RES_k = 1e12(pos_k·N − P·n_k)²/(n_k·N²), UNC = 1e12·P(N−P)/N²,
    // BS from the expanded square — one floor per emission, and the
    // identity residual BS − (REL − RES + UNC) rides as its own column
    // (bounded by the floors, ≤ a few µ² — the Theil-residual
    // convention). Decomposition identity requires bin-constant
    // forecasts, which binned base rates are by construction.
    "eval_brier_decomposition" -> QueryDef.sql(
      """WITH lab AS (
        |  SELECT o.o_orderkey, least(CAST(count(*) AS BIGINT), 7) AS bin,
        |    CAST(max(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS pos,
        |    CASE WHEN o.o_orderkey % 10 < 8 THEN 1 ELSE 0 END AS is_train
        |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |  GROUP BY 1, 4),
        |tr AS (SELECT bin, (1000000 * CAST(sum(pos) AS BIGINT)) // count(*) AS p
        |       FROM lab WHERE is_train = 1 GROUP BY 1),
        |te AS (SELECT bin, CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(pos) AS BIGINT) AS pos
        |       FROM lab WHERE is_train = 0 GROUP BY 1),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn, CAST(sum(pos) AS BIGINT) AS pp
        |        FROM te JOIN tr USING (bin)),
        |terms AS (
        |  SELECT te.bin, te.n, te.pos, tr.p AS p_train_ppm,
        |    (1000000 * te.pos) // te.n AS o_test_ppm,
        |    ((tr.p * te.n - 1000000 * te.pos)
        |      * CAST(tr.p * te.n - 1000000 * te.pos AS HUGEINT)) // te.n AS rel_k,
        |    (CAST(1000000000000 AS HUGEINT)
        |      * (te.pos * tot.nn - tot.pp * te.n)
        |      * (te.pos * tot.nn - tot.pp * te.n))
        |      // (te.n * CAST(tot.nn AS HUGEINT) * tot.nn) AS res_k,
        |    te.n * CAST(tr.p AS HUGEINT) * tr.p
        |      - 2 * CAST(tr.p AS HUGEINT) * 1000000 * te.pos
        |      + CAST(1000000000000 AS HUGEINT) * te.pos AS bs_k
        |  FROM te JOIN tr USING (bin) CROSS JOIN tot),
        |g AS (
        |  SELECT CAST(sum(rel_k) // max(tot.nn) AS BIGINT) AS rel_ppm2,
        |    CAST(sum(res_k) // max(tot.nn) AS BIGINT) AS res_ppm2,
        |    CAST(sum(bs_k) // max(tot.nn) AS BIGINT) AS bs_ppm2,
        |    CAST((CAST(1000000000000 AS HUGEINT) * max(tot.pp)
        |      * (max(tot.nn) - max(tot.pp)))
        |      // (max(tot.nn) * CAST(max(tot.nn) AS HUGEINT)) AS BIGINT) AS unc_ppm2
        |  FROM terms CROSS JOIN tot)
        |SELECT t.bin, t.n, t.p_train_ppm, CAST(t.o_test_ppm AS BIGINT) AS o_test_ppm,
        |  CAST(t.rel_k AS BIGINT) AS rel_k, CAST(t.res_k AS BIGINT) AS res_k,
        |  g.bs_ppm2, g.rel_ppm2, g.res_ppm2, g.unc_ppm2,
        |  CAST(g.bs_ppm2 - (g.rel_ppm2 - g.res_ppm2 + g.unc_ppm2) AS BIGINT)
        |    AS identity_residual
        |FROM terms t CROSS JOIN g ORDER BY t.bin""".stripMargin) { (s, d) =>
      val lab = orders(s, d).join(lineitem(s, d),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderkey"),
          expr("CASE WHEN o_orderkey % 10 < 8 THEN 1 ELSE 0 END").as("is_train"))
        .agg(least(count(lit(1)), lit(7L)).as("bin"),
          max(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("pos"))
      val tr = lab.filter(col("is_train") === 1).groupBy("bin")
        .agg(expr("(1000000 * CAST(sum(pos) AS BIGINT)) div count(*)").as("p"))
      val te = lab.filter(col("is_train") === 0).groupBy("bin")
        .agg(count(lit(1)).as("n"), sum("pos").cast("long").as("pos"))
      val joined = te.join(tr, Seq("bin")).localCheckpoint() // bounded bins
      val tot = joined.agg(sum("n").cast("long").as("nn"),
        sum("pos").cast("long").as("pp"))
      val terms = joined.crossJoin(broadcast(tot))
        .select(col("bin"), col("n"), col("pos"), col("p").as("p_train_ppm"),
          expr("(1000000 * pos) div n").as("o_test_ppm"),
          expr("""((p * n - 1000000 * pos)
                 |  * CAST(p * n - 1000000 * pos AS DECIMAL(38,0))) div n""".stripMargin)
            .as("rel_k"),
          expr("""(CAST(1000000000000 AS DECIMAL(38,0))
                 |  * (pos * nn - pp * n) * (pos * nn - pp * n))
                 |  div (n * CAST(nn AS DECIMAL(38,0)) * nn)""".stripMargin).as("res_k"),
          expr("""n * CAST(p AS DECIMAL(38,0)) * p
                 |  - 2 * CAST(p AS DECIMAL(38,0)) * 1000000 * pos
                 |  + CAST(1000000000000 AS DECIMAL(38,0)) * pos""".stripMargin).as("bs_k"))
        .localCheckpoint()
      val g = terms.crossJoin(broadcast(tot))
        .agg(expr("CAST(sum(rel_k) div max(nn) AS BIGINT)").as("rel_ppm2"),
          expr("CAST(sum(res_k) div max(nn) AS BIGINT)").as("res_ppm2"),
          expr("CAST(sum(bs_k) div max(nn) AS BIGINT)").as("bs_ppm2"),
          expr("""CAST((CAST(1000000000000 AS DECIMAL(38,0)) * max(pp)
                 |  * (max(nn) - max(pp)))
                 |  div (max(nn) * CAST(max(nn) AS DECIMAL(38,0))) AS BIGINT)""".stripMargin)
            .as("unc_ppm2"))
      terms.crossJoin(broadcast(g))
        .select(col("bin"), col("n"), col("p_train_ppm"),
          expr("CAST(o_test_ppm AS BIGINT)").as("o_test_ppm"),
          expr("CAST(rel_k AS BIGINT)").as("rel_k"),
          expr("CAST(res_k AS BIGINT)").as("res_k"),
          col("bs_ppm2"), col("rel_ppm2"), col("res_ppm2"), col("unc_ppm2"),
          expr("CAST(bs_ppm2 - (rel_ppm2 - res_ppm2 + unc_ppm2) AS BIGINT)")
            .as("identity_residual"))
        .orderBy("bin")
    },

    // ----- closed-form ridge regression (Cramer-exact normal equations) -----
    // The multivariate face of the regression ladder (price elasticity
    // = one log-log slope, Theil–Sen = one robust slope; this = trend +
    // weekend effect JOINTLY, the smallest model where "controlling
    // for" means anything). β = (X'X + λ·diag(0,1,1))⁻¹ X'y over the
    // daily event counts with x₁ = day index, x₂ = weekend indicator
    // ((day+4)%7 ∈ {0,6} — the ts_dow_profile convention), intercept
    // unpenalized, λ = 1024 dyadic. Everything is Cramer's rule on the
    // nine integer moments: three 3×3 determinants in DECIMAL(38) (the
    // moments are calendar-bounded; products stay < 1e30), ONE floored
    // ppm division per coefficient at the very end. The measured
    // verdict is itself the point: the weekend coefficient is NEAR ZERO
    // (−0.036 events/day at sf0.01 against a 334 level) — the weekly
    // power the periodogram locates lives in event MIX, not daily
    // volume — and a controlled regression is how that claim gets made
    // honestly rather than read off a dow profile.
    "fe_ridge_closed_form" -> QueryDef.sql(
      """WITH d AS (
        |  SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
        |    CAST(count(*) AS BIGINT) AS y
        |  FROM events GROUP BY 1),
        |m0 AS (SELECT min(day) AS d0 FROM d),
        |g AS (SELECT day - m0.d0 AS x,
        |        CASE WHEN (day + 4) % 7 IN (0, 6) THEN 1 ELSE 0 END AS w, y
        |      FROM d CROSS JOIN m0),
        |m AS (
        |  SELECT CAST(count(*) AS HUGEINT) AS a,
        |    CAST(sum(x) AS HUGEINT) AS b, CAST(sum(w) AS HUGEINT) AS c,
        |    CAST(sum(x * x) AS HUGEINT) + 1024 AS dd,
        |    CAST(sum(x * w) AS HUGEINT) AS e,
        |    CAST(sum(w * w) AS HUGEINT) + 1024 AS f,
        |    CAST(sum(y) AS HUGEINT) AS sy,
        |    CAST(sum(x * y) AS HUGEINT) AS sxy,
        |    CAST(sum(w * y) AS HUGEINT) AS swy
        |  FROM g),
        |dets AS (
        |  SELECT
        |    a * (dd * f - e * e) - b * (b * f - c * e) + c * (b * e - c * dd) AS det,
        |    sy * (dd * f - e * e) - b * (sxy * f - e * swy)
        |      + c * (sxy * e - dd * swy) AS det0,
        |    a * (sxy * f - swy * e) - sy * (b * f - c * e)
        |      + c * (b * swy - c * sxy) AS det1,
        |    a * (dd * swy - e * sxy) - b * (b * swy - c * sxy)
        |      + sy * (b * e - c * dd) AS det2
        |  FROM m)
        |SELECT CAST((1000000 * det0) // det AS BIGINT) AS beta0_ppm,
        |  CAST((1000000 * det1) // det AS BIGINT) AS beta1_ppm,
        |  CAST((1000000 * det2) // det AS BIGINT) AS beta2_ppm,
        |  CAST(det2 < 0 AS BIGINT) AS weekend_negative
        |FROM dets""".stripMargin) { (s, d) =>
      val dd = events(s, d)
        .select(expr(s"(${graft.util.Tables.epochUsFloorSql}) div 86400000000").as("day"))
        .groupBy("day").agg(count(lit(1)).as("y"))
      val m0 = dd.agg(min("day").as("d0"))
      val g = dd.crossJoin(broadcast(m0))
        .select((col("day") - col("d0")).as("x"),
          expr("CASE WHEN (day + 4) % 7 IN (0, 6) THEN 1L ELSE 0L END").as("w"),
          col("y"))
      g.agg(
        expr("CAST(count(*) AS DECIMAL(38,0))").as("a"),
        expr("CAST(sum(x) AS DECIMAL(38,0))").as("b"),
        expr("CAST(sum(w) AS DECIMAL(38,0))").as("c"),
        expr("CAST(sum(x * x) AS DECIMAL(38,0)) + 1024").as("dd"),
        expr("CAST(sum(x * w) AS DECIMAL(38,0))").as("e"),
        expr("CAST(sum(w * w) AS DECIMAL(38,0)) + 1024").as("f"),
        expr("CAST(sum(y) AS DECIMAL(38,0))").as("sy"),
        expr("CAST(sum(x * y) AS DECIMAL(38,0))").as("sxy"),
        expr("CAST(sum(w * y) AS DECIMAL(38,0))").as("swy"))
        .select(
          expr("a * (dd * f - e * e) - b * (b * f - c * e) + c * (b * e - c * dd)").as("det"),
          expr("sy * (dd * f - e * e) - b * (sxy * f - e * swy) + c * (sxy * e - dd * swy)").as("det0"),
          expr("a * (sxy * f - swy * e) - sy * (b * f - c * e) + c * (b * swy - c * sxy)").as("det1"),
          expr("a * (dd * swy - e * sxy) - b * (b * swy - c * sxy) + sy * (b * e - c * dd)").as("det2"))
        .select(
          expr("CAST((1000000 * det0) div det AS BIGINT)").as("beta0_ppm"),
          expr("CAST((1000000 * det1) div det AS BIGINT)").as("beta1_ppm"),
          expr("CAST((1000000 * det2) div det AS BIGINT)").as("beta2_ppm"),
          (col("det2") < 0).cast("long").as("weekend_negative"))
    },

    // ----- weight of evidence + information value (feature selection) -----
    // The supervised sibling of drift_psi_bins, same exactness
    // discipline: per o_orderpriority bin, WoE = ln((pos_b/posT) /
    // (neg_b/negT)) as a 6dp-rounded micro-nat on the BOUNDED bin
    // alphabet (≤5 bins — one transcendental each, cross-multiplied
    // argument), and IV = Σ (pos_share − neg_share)·WoE with the share
    // difference cross-multiplied into the floor so corpus-scale counts
    // never meet a float. Target: the order carries a returned line.
    // The emitted table is the credit-scoring feature-selection ledger
    // (IV < 0.02 = useless — the honest verdict for priority here,
    // since TPC-H returns are independent of priority by construction).
    "fe_woe_iv" -> QueryDef.sql(
      """WITH lab AS (
        |  SELECT o.o_orderkey, o.o_orderpriority AS bin,
        |    CAST(max(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS pos
        |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |  GROUP BY 1, 2),
        |b AS (SELECT bin, CAST(sum(pos) AS BIGINT) AS n_p,
        |        CAST(sum(1 - pos) AS BIGINT) AS n_n
        |      FROM lab GROUP BY 1),
        |tot AS (SELECT CAST(sum(n_p) AS BIGINT) AS np,
        |          CAST(sum(n_n) AS BIGINT) AS nn FROM b),
        |terms AS (
        |  SELECT b.bin, b.n_p, b.n_n,
        |    CASE WHEN b.n_p > 0 AND b.n_n > 0 THEN
        |      CAST(round(1000000 * round(ln(
        |        (CAST(b.n_p AS DOUBLE) * tot.nn) / (CAST(b.n_n AS DOUBLE) * tot.np)), 6))
        |        AS BIGINT)
        |    ELSE NULL END AS woe_micronat,
        |    CASE WHEN b.n_p > 0 AND b.n_n > 0 THEN
        |      CAST(((b.n_p * CAST(tot.nn AS HUGEINT) - b.n_n * CAST(tot.np AS HUGEINT))
        |        * CAST(round(1000000 * round(ln(
        |            (CAST(b.n_p AS DOUBLE) * tot.nn) / (CAST(b.n_n AS DOUBLE) * tot.np)), 6))
        |          AS BIGINT))
        |        // (CAST(tot.np AS HUGEINT) * tot.nn) AS BIGINT)
        |    ELSE NULL END AS iv_term_micro
        |  FROM b CROSS JOIN tot),
        |g AS (SELECT CAST(sum(iv_term_micro) AS BIGINT) AS iv_micro,
        |        CAST(count(CASE WHEN iv_term_micro IS NULL THEN 1 END) AS BIGINT) AS n_skipped
        |      FROM terms)
        |SELECT t.bin, t.n_p, t.n_n, t.woe_micronat, t.iv_term_micro,
        |  g.iv_micro, g.n_skipped
        |FROM terms t CROSS JOIN g ORDER BY t.bin""".stripMargin) { (s, d) =>
      val lab = orders(s, d).join(lineitem(s, d),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderkey"), col("o_orderpriority").as("bin"))
        .agg(max(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("pos"))
      val b = lab.groupBy("bin")
        .agg(sum("pos").cast("long").as("n_p"),
          sum(expr("1 - pos")).cast("long").as("n_n"))
        .localCheckpoint() // bounded bins; feeds terms AND the total
      val tot = b.agg(sum("n_p").cast("long").as("np"),
        sum("n_n").cast("long").as("nn"))
      val terms = b.crossJoin(broadcast(tot))
        .select(col("bin"), col("n_p"), col("n_n"),
          expr("""CASE WHEN n_p > 0 AND n_n > 0 THEN
                 |  CAST(round(1000000 * round(ln(
                 |    (CAST(n_p AS DOUBLE) * nn) / (CAST(n_n AS DOUBLE) * np)), 6))
                 |    AS BIGINT)
                 |ELSE NULL END""".stripMargin).as("woe_micronat"),
          expr("""CASE WHEN n_p > 0 AND n_n > 0 THEN
                 |  CAST(((n_p * CAST(nn AS DECIMAL(38,0)) - n_n * CAST(np AS DECIMAL(38,0)))
                 |    * CAST(round(1000000 * round(ln(
                 |        (CAST(n_p AS DOUBLE) * nn) / (CAST(n_n AS DOUBLE) * np)), 6))
                 |      AS BIGINT))
                 |    div (CAST(np AS DECIMAL(38,0)) * nn) AS BIGINT)
                 |ELSE NULL END""".stripMargin).as("iv_term_micro"))
        .localCheckpoint()
      val g = terms.agg(sum("iv_term_micro").cast("long").as("iv_micro"),
        count(when(col("iv_term_micro").isNull, 1)).cast("long").as("n_skipped"))
      terms.crossJoin(broadcast(g))
        .select("bin", "n_p", "n_n", "woe_micronat", "iv_term_micro",
          "iv_micro", "n_skipped")
        .orderBy("bin")
    },

    // ----- CUSUM changepoint per event type (Page 1954), exact -----
    // The drift detector that answers WHEN, not just whether: per type,
    // daily counts over the GLOBAL day grid (absent days count 0 — a
    // type going quiet IS its changepoint signal), and the cumulative
    // sum of deviations from the type's own mean peaks at the most
    // likely level-shift point. Scaled by n to stay integer-exact:
    // S_k = n·Σ_{i≤k}c_i − k·total is n× the textbook CUSUM, and argmax
    // |S_k| is invariant under positive scaling — so the detector is
    // hash-exact with no mean division anywhere. One grid join + one
    // per-type prefix sum; ties break to the earliest day.
    "changepoint_cusum" -> QueryDef.sql(
      """WITH d AS (
        |  SELECT event_type, CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day
        |  FROM events),
        |grid AS (SELECT DISTINCT day FROM d),
        |types AS (SELECT DISTINCT event_type FROM d),
        |c AS (
        |  SELECT t.event_type, g.day, CAST(coalesce(x.c, 0) AS BIGINT) AS c
        |  FROM types t CROSS JOIN grid g
        |  LEFT JOIN (SELECT event_type, day, count(*) AS c FROM d GROUP BY 1, 2) x
        |    ON x.event_type = t.event_type AND x.day = g.day),
        |s AS (
        |  SELECT event_type, day, c,
        |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n,
        |    CAST(sum(c) OVER (PARTITION BY event_type) AS BIGINT) AS total,
        |    CAST(sum(c) OVER (PARTITION BY event_type ORDER BY day) AS BIGINT) AS cum,
        |    CAST(row_number() OVER (PARTITION BY event_type ORDER BY day) AS BIGINT) AS k
        |  FROM c),
        |cz AS (
        |  SELECT event_type, day, n, total, n * cum - k * total AS s_scaled,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY abs(n * cum - k * total) DESC, day) AS rn
        |  FROM s)
        |SELECT event_type, day AS cp_day, abs(s_scaled) AS cusum_abs_scaled,
        |  n AS n_days, total
        |FROM cz WHERE rn = 1 ORDER BY event_type""".stripMargin) { (s, d) =>
      val dd = events(s, d).select(col("event_type"),
        expr(s"(${graft.util.Tables.epochUsFloorSql}) div 86400000000").as("day"))
      val grid = dd.select("day").distinct()
      val types = dd.select("event_type").distinct()
      val x = dd.groupBy("event_type", "day").agg(count(lit(1)).as("c"))
      val c = types.crossJoin(broadcast(grid))
        .join(x, Seq("event_type", "day"), "left")
        .select(col("event_type"), col("day"), coalesce(col("c"), lit(0L)).as("c"))
      val p = Window.partitionBy(col("event_type"))
      val po = p.orderBy(col("day"))
      val sdf = c.select(col("event_type"), col("day"), col("c"),
        count(lit(1)).over(p).as("n"), sum("c").over(p).as("total"),
        sum("c").over(po.rowsBetween(Window.unboundedPreceding, Window.currentRow)).as("cum"),
        row_number().over(po).cast("long").as("k"))
      sdf.select(col("event_type"), col("day"), col("n"), col("total"),
          (col("n") * col("cum") - col("k") * col("total")).as("s_scaled"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("event_type"))
            .orderBy(abs(col("s_scaled")).desc, col("day"))))
        .filter(col("rn") === 1)
        .select(col("event_type"), col("day").as("cp_day"),
          abs(col("s_scaled")).as("cusum_abs_scaled"),
          col("n").as("n_days"), col("total"))
        .orderBy("event_type")
    },

    // ----- daily co-movement matrix across event types, exact -----
    // Which metrics move TOGETHER day to day — the correlation question
    // asked without the sqrt that would make it engine-libm-dependent:
    // per type pair the query emits n²·cov = n·Σxy − Σx·Σy beside each
    // type's n²·var, all exact BIGINTs over the same 0-filled day grid
    // as the changepoint detector (a missing day is a real 0, not a
    // dropped row). The caller divides cov/√(varx·vary) if it wants
    // Pearson; sign and relative magnitude — the screening decisions —
    // need no division at all. One grid join, one pair join over the
    // taxonomy-bounded type list.
    "type_comovement_matrix" -> QueryDef.sql(
      """WITH d AS (
        |  SELECT event_type, CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day
        |  FROM events),
        |grid AS (SELECT DISTINCT day FROM d),
        |types AS (SELECT DISTINCT event_type FROM d),
        |c AS (
        |  SELECT t.event_type, g.day, CAST(coalesce(x.c, 0) AS BIGINT) AS c
        |  FROM types t CROSS JOIN grid g
        |  LEFT JOIN (SELECT event_type, day, count(*) AS c FROM d GROUP BY 1, 2) x
        |    ON x.event_type = t.event_type AND x.day = g.day),
        |stats AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n, CAST(sum(c) AS BIGINT) AS sx,
        |    CAST(sum(c * c) AS BIGINT) AS sxx
        |  FROM c GROUP BY 1),
        |pairs AS (
        |  SELECT a.event_type AS t1, b.event_type AS t2, a.day,
        |    a.c AS ca, b.c AS cb
        |  FROM c a JOIN c b ON b.day = a.day AND a.event_type < b.event_type),
        |agg AS (
        |  SELECT t1, t2, CAST(count(*) AS BIGINT) AS n, CAST(sum(ca) AS BIGINT) AS sx,
        |    CAST(sum(cb) AS BIGINT) AS sy, CAST(sum(ca * cb) AS BIGINT) AS sxy
        |  FROM pairs GROUP BY 1, 2)
        |SELECT g.t1, g.t2, g.n AS n_days,
        |  g.n * g.sxy - g.sx * g.sy AS cov_n2,
        |  s1.n * s1.sxx - s1.sx * s1.sx AS var1_n2,
        |  s2.n * s2.sxx - s2.sx * s2.sx AS var2_n2
        |FROM agg g JOIN stats s1 ON s1.event_type = g.t1
        |JOIN stats s2 ON s2.event_type = g.t2
        |ORDER BY g.t1, g.t2""".stripMargin) { (s, d) =>
      val dd = events(s, d).select(col("event_type"),
        expr(s"(${graft.util.Tables.epochUsFloorSql}) div 86400000000").as("day"))
      val grid = dd.select("day").distinct()
      val types = dd.select("event_type").distinct()
      val x = dd.groupBy("event_type", "day").agg(count(lit(1)).as("c"))
      val c = types.crossJoin(broadcast(grid))
        .join(x, Seq("event_type", "day"), "left")
        .select(col("event_type"), col("day"), coalesce(col("c"), lit(0L)).as("c"))
        .localCheckpoint()
      val stats = c.groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("c").as("sx"), sum(col("c") * col("c")).as("sxx"))
      val a = c.toDF("t1", "day", "ca")
      val b = c.toDF("t2", "day", "cb")
      val agg = a.join(b, Seq("day")).filter(col("t1") < col("t2"))
        .groupBy("t1", "t2")
        .agg(count(lit(1)).as("n"), sum("ca").as("sx"), sum("cb").as("sy"),
          sum(col("ca") * col("cb")).as("sxy"))
      val s1 = stats.select(col("event_type").as("t1"),
        (col("n") * col("sxx") - col("sx") * col("sx")).as("var1_n2"))
      val s2 = stats.select(col("event_type").as("t2"),
        (col("n") * col("sxx") - col("sx") * col("sx")).as("var2_n2"))
      agg.join(broadcast(s1), Seq("t1")).join(broadcast(s2), Seq("t2"))
        .select(col("t1"), col("t2"), col("n").as("n_days"),
          (col("n") * col("sxy") - col("sx") * col("sy")).as("cov_n2"),
          col("var1_n2"), col("var2_n2"))
        .orderBy("t1", "t2")
    },

    // ----- per-source token-length drift vs the corpus profile -----
    // Total-variation distance between each source's log2-bucketed
    // token-length distribution and the corpus-wide one, in ppm
    // (tv2_ppm = Σ|p_s − p| ≈ 2·TV). Buckets are length(bin(n)) — the
    // same pure-integer log2 tokens_histogram uses; probabilities are
    // floor-division ppm, so the whole statistic is integer-exact.
    // Scale shape: ONE map-side-combinable aggregate over a stateless
    // projection produces the (source × bucket) table; everything after
    // is taxonomy×~40-bucket bounded (the localCheckpoint'ed occupancy
    // grid), never corpus-cardinality.
    "source_length_drift" -> QueryDef.sql(
      """WITH b AS (
        |  SELECT source,
        |    CAST(length(bin(CAST(len(string_split_regex(trim(lower(text)), '\s+')) AS BIGINT))) AS BIGINT) AS bucket
        |  FROM documents),
        |o AS (SELECT source, bucket, CAST(count(*) AS BIGINT) AS o FROM b GROUP BY 1, 2),
        |r AS (SELECT source, CAST(sum(o) AS BIGINT) AS r FROM o GROUP BY 1),
        |cb AS (SELECT bucket, CAST(sum(o) AS BIGINT) AS c FROM o GROUP BY 1),
        |tot AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM o),
        |d AS (
        |  SELECT g.source, g.r,
        |    abs((1000000 * COALESCE(o.o, 0)) // g.r - (1000000 * g.c) // g.n) AS dv
        |  FROM (SELECT r.source, r.r, cb.bucket, cb.c, tot.n
        |        FROM r CROSS JOIN cb CROSS JOIN tot) g
        |  LEFT JOIN o ON o.source = g.source AND o.bucket = g.bucket)
        |SELECT source, min(r) AS n_docs, CAST(sum(dv) AS BIGINT) AS tv2_ppm
        |FROM d GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
      val o = documents(s, d)
        .select(col("source"),
          length(bin(size(expr(TextQueries.toksExpr)).cast("long"))).cast("long").as("bucket"))
        .groupBy("source", "bucket").agg(count(lit(1)).as("o"))
        .localCheckpoint() // taxonomy × ~40 buckets
      val r = o.groupBy("source").agg(sum("o").as("r"))
      val c = o.groupBy("bucket").agg(sum("o").as("c"))
      val tot = o.agg(sum("o").as("n"))
      r.crossJoin(c).crossJoin(broadcast(tot))
        .join(o, Seq("source", "bucket"), "left")
        .select(col("source"), col("r"),
          abs(expr("(1000000 * coalesce(o, 0L)) div r")
            - expr("(1000000 * c) div n")).as("dv"))
        .groupBy("source")
        .agg(min("r").as("n_docs"), sum("dv").as("tv2_ppm"))
        .orderBy("source")
    },

    // ----- robust hourly anomaly detection: median ± k·MAD -----
    // The monitoring gate over the event stream: per event type, hourly
    // counts compared against the type's MEDIAN hour with the median
    // absolute deviation as the scale — robust statistics, because a
    // traffic spike inflates a mean/stddev gate enough to hide itself
    // but moves a median/MAD gate almost not at all. Both medians are
    // lower-medians picked by rank (pure integer — no interpolation, no
    // engine-defined quantile), windows are event_type-keyed over
    // hour-cardinality rows (bounded by stream duration, never event
    // rows); flagged hours are |c − med| > 3·MAD. Output is the anomaly
    // list a pager would receive.
    "event_anomaly_mad" -> QueryDef.sql(
      """WITH hc AS (
        |  SELECT event_type, CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS hr,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |r AS (SELECT event_type, hr, c,
        |        row_number() OVER (PARTITION BY event_type ORDER BY c, hr) AS rn,
        |        count(*) OVER (PARTITION BY event_type) AS n
        |      FROM hc),
        |med AS (SELECT event_type, c AS med FROM r WHERE rn = (n + 1) // 2),
        |dev AS (SELECT h.event_type, h.hr, h.c, m.med, abs(h.c - m.med) AS ad
        |        FROM hc h JOIN med m ON m.event_type = h.event_type),
        |r2 AS (SELECT event_type, hr, c, med, ad,
        |         row_number() OVER (PARTITION BY event_type ORDER BY ad, hr) AS rn,
        |         count(*) OVER (PARTITION BY event_type) AS n
        |       FROM dev),
        |mad AS (SELECT event_type, ad AS mad FROM r2 WHERE rn = (n + 1) // 2)
        |SELECT d.event_type, d.hr AS hour_bucket, d.c AS n_events, d.med, md.mad,
        |  d.ad AS deviation
        |FROM dev d JOIN mad md ON md.event_type = d.event_type
        |WHERE d.ad > 3 * md.mad
        |ORDER BY d.event_type, hour_bucket""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val hc = events(s, d)
        // hour bucket derived from FLOORED µs then truncating div —
        // exactly the oracle's epoch_us(ts) // 3600000000 for every
        // sign and precision (duck `//` truncates like Spark `div`,
        // verified −7//3 = −2; only the ns→µs step floors, which
        // epochUsFloorSql reproduces). A pmod-floor on the HOUR div
        // here would instead diverge from the oracle below the epoch.
        .select(col("event_type"),
          expr(s"(${graft.util.Tables.epochUsFloorSql}) div 3600000000").as("hr"))
        .groupBy("event_type", "hr").agg(count(lit(1)).as("c"))
        .localCheckpoint() // hour-cardinality, consumed four times
      val w = Window.partitionBy("event_type")
      def lowerMedian(df: org.apache.spark.sql.DataFrame, valueCol: String,
          outCol: String): org.apache.spark.sql.DataFrame =
        df.withColumn("rn", row_number().over(w.orderBy(col(valueCol), col("hr"))))
          .withColumn("n", count(lit(1)).over(w))
          .filter(col("rn") === expr("(n + 1) div 2"))
          .select(col("event_type"), col(valueCol).as(outCol))
      val med = lowerMedian(hc, "c", "med")
      val dev = hc.join(med, Seq("event_type"))
        .withColumn("ad", abs(col("c") - col("med")))
      val mad = lowerMedian(dev.select("event_type", "hr", "ad"), "ad", "mad")
      dev.join(mad, Seq("event_type"))
        .filter(col("ad") > lit(3) * col("mad"))
        .select(col("event_type"), col("hr").as("hour_bucket"),
          col("c").as("n_events"), col("med"), col("mad"), col("ad").as("deviation"))
        .orderBy("event_type", "hour_bucket")
    },

    // ----- near-dup leakage across the train/val/test boundary -----
    // The integrity audit a split ships with: a held-out document whose
    // near-duplicate sits in train is evaluation leakage the exact-match
    // decontaminator cannot see (the texts differ, the content doesn't).
    // Exactly the split rule split_train_val emits, joined against the
    // PERSISTED cluster store (the CC fixpoint is never recomputed);
    // one cluster-keyed aggregate counts train members, one equi-join
    // attaches them to held-out docs. Output is bounded by the held-out
    // split size.
    "split_leakage_audit" -> QueryDef.sql(
      s"""WITH ${TextQueries.MinhashBandsCte},
         |cand AS (
         |  ${TextQueries.BandedPairsSelect}),
         |undirected AS (
         |  SELECT doc_a AS a, doc_b AS b FROM cand
         |  UNION ALL SELECT doc_b, doc_a FROM cand),
         |reach AS (
         |  SELECT doc_id AS id, doc_id AS r FROM documents
         |  UNION
         |  SELECT u.b AS id, reach.r FROM reach JOIN undirected u ON u.a = reach.id),
         |clusters AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id),
         |sp AS (
         |  SELECT doc_id,
         |    CASE WHEN ${CurationQueries.LcgSql} % 100 < 98 THEN 'train'
         |         WHEN ${CurationQueries.LcgSql} % 100 < 99 THEN 'val' ELSE 'test' END AS split
         |  FROM documents),
         |j AS (SELECT c.doc_id, s.split, c.cluster_id
         |      FROM clusters c JOIN sp s ON s.doc_id = c.doc_id),
         |tr AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_train
         |       FROM j WHERE split = 'train' GROUP BY cluster_id)
         |SELECT j.doc_id, j.split, j.cluster_id, tr.n_train AS n_train_mates
         |FROM j JOIN tr ON tr.cluster_id = j.cluster_id
         |WHERE j.split <> 'train'
         |ORDER BY j.doc_id""".stripMargin.replaceFirst("WITH ", "WITH RECURSIVE ")) { (s, d) =>
      import CurationQueries.LcgSql
      val sp = documents(s, d).select(col("doc_id"),
        when(expr(s"$LcgSql % 100") < 98, "train")
          .when(expr(s"$LcgSql % 100") < 99, "val")
          .otherwise("test").as("split"))
      val j = SignatureStore.ensureClusters(s, d).select("doc_id", "cluster_id")
        .join(sp, Seq("doc_id"))
      val tr = j.filter(col("split") === "train")
        .groupBy("cluster_id").agg(count(lit(1)).as("n_train"))
      j.filter(col("split") =!= "train")
        .join(tr, Seq("cluster_id"))
        .select(col("doc_id"), col("split"), col("cluster_id"),
          col("n_train").as("n_train_mates"))
        .orderBy("doc_id")
    },

    // ----- per-event-type key skew: the salting/AQE decision input -----
    // For each event type: how concentrated is the per-user key
    // distribution that every user-keyed shuffle (sessionize, funnel,
    // transitions) hashes on? top_share_ppm is the hottest key's share;
    // skew_x1e6 is max/mean (1e6 = perfectly uniform) — the multiplier
    // a skew-aware planner compares against its split threshold. ONE
    // user-keyed map-side-combinable aggregate, then a taxonomy-bounded
    // rollup; all-integer emissions.
    "key_skew_report" -> QueryDef.sql(
      """WITH uc AS (
        |  SELECT event_type, user_id, CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2)
        |SELECT event_type, CAST(sum(n) AS BIGINT) AS total,
        |  CAST(count(*) AS BIGINT) AS n_users,
        |  CAST(max(n) AS BIGINT) AS max_user_events,
        |  CAST((1000000 * max(n)) // sum(n) AS BIGINT) AS top_share_ppm,
        |  CAST((CAST(1000000 AS HUGEINT) * max(n) * count(*)) // sum(n) AS BIGINT) AS skew_x1e6
        |FROM uc GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
      events(s, d)
        .groupBy("event_type", "user_id").agg(count(lit(1)).as("n"))
        .groupBy("event_type")
        .agg(sum("n").as("total"), count(lit(1)).as("n_users"),
          max("n").as("max_user_events"))
        .select(col("event_type"), col("total"), col("n_users"), col("max_user_events"),
          expr("(1000000 * max_user_events) div total").as("top_share_ppm"),
          // 1e6·max·users can pass int64 at production cardinalities —
          // widen the product to DECIMAL(38,0) (≡ DuckDB HUGEINT), then
          // the truncated quotient fits BIGINT again by construction.
          expr("CAST((CAST(1000000 AS DECIMAL(38,0)) * max_user_events * n_users) div total AS BIGINT)")
            .as("skew_x1e6"))
        .orderBy("event_type")
    },

    // ----- seasonal-naive forecast baseline + holdout error -----
    // The monitoring yardstick every traffic model is judged against:
    // the first half of the corpus's day range profiles each
    // (event_type, hour-of-day) as an average daily count, the second
    // half scores it — per-cell forecast and mean absolute error, all
    // in exact ×1e6 integers (numerators BIGINT-bounded: 1e6 · per-cell
    // counts). Two map-side-combinable aggregates over one stateless
    // projection; the half-boundary derives from the data's own
    // (min, max) day so both engines split identically. Output is the
    // bounded types × 24 grid.
    "forecast_seasonal_baseline" -> QueryDef.sql(
      """WITH ev AS (
        |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |    (epoch_us(ts) // 3600000000) % 24 AS hod
        |  FROM events),
        |mm AS (SELECT min(day) AS d0, max(day) AS d1 FROM ev),
        |sp AS (SELECT d0, d1, (d0 + d1) // 2 AS mid,
        |         (d0 + d1) // 2 - d0 + 1 AS n1, d1 - (d0 + d1) // 2 AS n2
        |       FROM mm),
        |h1 AS (
        |  SELECT event_type, hod, CAST(count(*) AS BIGINT) AS c1
        |  FROM ev, sp WHERE day <= sp.mid GROUP BY 1, 2),
        |h2d AS (
        |  SELECT event_type, hod, day, CAST(count(*) AS BIGINT) AS c
        |  FROM ev, sp WHERE day > sp.mid GROUP BY 1, 2, 3),
        |f AS (
        |  SELECT h1.event_type, h1.hod,
        |    CAST(1000000 * h1.c1 // sp.n1 AS BIGINT) AS forecast_x1e6
        |  FROM h1, sp),
        |err AS (
        |  SELECT f.event_type, f.hod, f.forecast_x1e6,
        |    sum(CAST(abs(1000000 * h.c - f.forecast_x1e6) AS HUGEINT)) AS tot_ae,
        |    CAST(count(*) AS BIGINT) AS nd
        |  FROM f JOIN h2d h ON h.event_type = f.event_type AND h.hod = f.hod
        |  GROUP BY 1, 2, 3)
        |SELECT event_type, hod, forecast_x1e6,
        |  CAST(tot_ae // nd AS BIGINT) AS mae_x1e6
        |FROM err ORDER BY event_type, hod""".stripMargin) { (s, d) =>
      val us = graft.util.Tables.epochUsFloorSql
      val ev = events(s, d)
        .select(col("event_type"),
          expr(s"($us) div 86400000000").as("day"),
          expr(s"(($us) div 3600000000) % 24").as("hod"))
      val mm = ev.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      val sp = mm.select(expr("(d0 + d1) div 2").as("mid"),
        expr("(d0 + d1) div 2 - d0 + 1").as("n1"))
      val h1 = ev.crossJoin(broadcast(sp))
        .filter(col("day") <= col("mid"))
        .groupBy("event_type", "hod")
        .agg(count(lit(1)).as("c1"), first("n1").as("n1"))
      val f = h1.select(col("event_type"), col("hod"),
        expr("1000000 * c1 div n1").as("forecast_x1e6"))
      val h2d = ev.crossJoin(broadcast(sp))
        .filter(col("day") > col("mid"))
        .groupBy("event_type", "hod", "day")
        .agg(count(lit(1)).as("c"))
      f.join(h2d, Seq("event_type", "hod"))
        .groupBy("event_type", "hod", "forecast_x1e6")
        // corpus-scale numerator (1e6 · per-cell daily counts summed over
        // days) widens through DECIMAL(38,0) / HUGEINT per the
        // production-overflow sweep; the quotient refits BIGINT
        .agg(sum(expr("CAST(abs(1000000 * c - forecast_x1e6) AS DECIMAL(38,0))"))
          .as("tot_ae"), count(lit(1)).as("nd"))
        .select(col("event_type"), col("hod"), col("forecast_x1e6"),
          expr("CAST(tot_ae div nd AS BIGINT)").as("mae_x1e6"))
        .orderBy("event_type", "hod")
    },

    // ----- market-basket association: event-type pairs per user-day -----
    // Co-occurrence mining on the event stream (the Apriori first
    // stage, at taxonomy scale): a basket is a user-day's DISTINCT
    // event types, and every type pair gets support and lift in exact
    // ppm — lift > 1e6 means the pair co-occurs more than independent
    // baskets would. Baskets aggregate map-side; the pair explode is
    // per-basket bounded (≤ C(5,2) here, ≤ C(|taxonomy|,2) ever); the
    // output is taxonomy-pair bounded. The production sibling of
    // bigram_lift, over behavior instead of text.
    "basket_type_lift" -> QueryDef.sql(
      """WITH b AS (
        |  SELECT user_id, epoch_us(ts) // 86400000000 AS day, event_type
        |  FROM events GROUP BY 1, 2, 3),
        |nb AS (SELECT CAST(count(DISTINCT (user_id, day)) AS BIGINT) AS n
        |       FROM b),
        |tc AS (SELECT event_type, CAST(count(*) AS BIGINT) AS c FROM b GROUP BY 1),
        |pr AS (
        |  SELECT x.user_id, x.day, x.event_type AS ta, y.event_type AS tb
        |  FROM b x JOIN b y ON y.user_id = x.user_id AND y.day = x.day
        |    AND x.event_type < y.event_type),
        |pc AS (SELECT ta, tb, CAST(count(*) AS BIGINT) AS cp FROM pr GROUP BY 1, 2)
        |SELECT p.ta, p.tb, p.cp,
        |  CAST(1000000 * p.cp // nb.n AS BIGINT) AS support_ppm,
        |  CAST((CAST(1000000 AS HUGEINT) * p.cp * nb.n) // (ca.c * cb.c) AS BIGINT) AS lift_ppm
        |FROM pc p
        |JOIN tc ca ON ca.event_type = p.ta
        |JOIN tc cb ON cb.event_type = p.tb, nb
        |ORDER BY ta, tb""".stripMargin) { (s, d) =>
      val us = graft.util.Tables.epochUsFloorSql
      val b = events(s, d)
        .select(col("user_id"), expr(s"($us) div 86400000000").as("day"),
          col("event_type"))
        .distinct()
        .localCheckpoint() // basket-cardinality; feeds nb, tc, and the pair join
      val nb = b.select("user_id", "day").distinct().agg(count(lit(1)).as("n"))
      val tc = b.groupBy("event_type").agg(count(lit(1)).as("c"))
      val pairs = b.select(col("user_id"), col("day"), col("event_type").as("ta"))
        .join(b.select(col("user_id"), col("day"), col("event_type").as("tb")),
          Seq("user_id", "day"))
        .filter(col("ta") < col("tb"))
        .groupBy("ta", "tb").agg(count(lit(1)).as("cp"))
      pairs
        .join(broadcast(tc.select(col("event_type").as("ta"), col("c").as("ca"))), Seq("ta"))
        .join(broadcast(tc.select(col("event_type").as("tb"), col("c").as("cb"))), Seq("tb"))
        .crossJoin(broadcast(nb))
        .select(col("ta"), col("tb"), col("cp"),
          expr("CAST(1000000 * cp div n AS BIGINT)").as("support_ppm"),
          expr("CAST((CAST(1000000 AS DECIMAL(38,0)) * cp * n) div (ca * cb) AS BIGINT)")
            .as("lift_ppm"))
        .orderBy("ta", "tb")
    },

    // ----- trailing self-baseline deviation (rolling monitor) -----
    // The third monitoring shape beside the global-median MAD and the
    // split-half forecast: each (event_type, day) is judged against its
    // OWN trailing week — a RANGE frame over the day value (not rows:
    // gap days must not stretch the window), flagged when the count
    // departs ±15% from the trailing mean (20·c·nw vs 23·sw / 17·sw),
    // compared cross-multiplied so no division ever rounds. Warm-up days
    // (< 3 trailing points) are excluded; output is bounded by
    // flagged (type, day) cells.
    "o14_rolling_baseline" -> QueryDef.sql(
      """WITH dc AS (
        |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |w AS (
        |  SELECT event_type, day, c,
        |    CAST(coalesce(sum(c) OVER (PARTITION BY event_type ORDER BY day
        |      RANGE BETWEEN 7 PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS sw,
        |    CAST(count(c) OVER (PARTITION BY event_type ORDER BY day
        |      RANGE BETWEEN 7 PRECEDING AND 1 PRECEDING) AS BIGINT) AS nw
        |  FROM dc)
        |SELECT event_type, day, c, sw, nw,
        |  CAST(CASE WHEN 20 * c * nw > 23 * sw THEN 1 ELSE -1 END AS BIGINT) AS direction
        |FROM w WHERE nw >= 3 AND (20 * c * nw > 23 * sw OR 20 * c * nw < 17 * sw)
        |ORDER BY event_type, day""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val us = graft.util.Tables.epochUsFloorSql
      val dc = events(s, d)
        .select(col("event_type"), expr(s"($us) div 86400000000").as("day"))
        .groupBy("event_type", "day").agg(count(lit(1)).as("c"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
        .rangeBetween(-7, -1)
      dc.withColumn("sw", coalesce(sum(col("c")).over(w), lit(0L)))
        .withColumn("nw", count(col("c")).over(w))
        .filter(col("nw") >= 3 &&
          (lit(20) * col("c") * col("nw") > lit(23) * col("sw") ||
            lit(20) * col("c") * col("nw") < lit(17) * col("sw")))
        .select(col("event_type"), col("day"), col("c"), col("sw"), col("nw"),
          when(lit(20) * col("c") * col("nw") > lit(23) * col("sw"), 1L)
            .otherwise(-1L).as("direction"))
        .orderBy("event_type", "day")
    },

    // ----- hierarchical rollup (GROUPING SETS surface) -----
    // The one aggregation shape the registry hadn't shown: a single
    // pass emitting EVERY level of the (event_type, day-of-week)
    // hierarchy — leaf cells, per-type subtotals, and the grand total —
    // via ROLLUP, with grouping() flags disambiguating a real NULL
    // group from a subtotal row (the classic reporting-cube trap).
    // One shuffle for all levels (Catalyst expands the grouping sets
    // map-side); exact DECIMAL value mass.
    "a13_rollup_activity" -> QueryDef.sql(
      """WITH ev AS (
        |  SELECT event_type,
        |    (epoch_us(ts) // 86400000000 + 4) % 7 AS dow,
        |    CAST(value AS DECIMAL(18,4)) AS val
        |  FROM events)
        |SELECT coalesce(event_type, '(all)') AS event_type,
        |  CAST(coalesce(dow, -1) AS BIGINT) AS dow,
        |  CAST(grouping(event_type) * 2 + grouping(dow) AS BIGINT) AS gid,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(val) AS DOUBLE) AS total_value
        |FROM ev GROUP BY ROLLUP (event_type, dow)
        |ORDER BY gid, event_type, dow""".stripMargin) { (s, d) =>
      val us = graft.util.Tables.epochUsFloorSql
      events(s, d)
        .select(col("event_type"),
          expr(s"((($us) div 86400000000) + 4) % 7").as("dow"),
          col("value").cast("decimal(18,4)").as("val"))
        .rollup("event_type", "dow")
        .agg(count(lit(1)).as("n_events"),
          sum(col("val")).cast("double").as("total_value"),
          (grouping(col("event_type")) * 2 + grouping(col("dow")))
            .cast("long").as("gid"))
        .select(coalesce(col("event_type"), lit("(all)")).as("event_type"),
          coalesce(col("dow"), lit(-1L)).cast("long").as("dow"),
          col("gid"), col("n_events"), col("total_value"))
        .orderBy("gid", "event_type", "dow")
    },

    // ----- A14: CUBE — the cross-dimension slice ROLLUP cannot emit -----
    // a13's ROLLUP drills one hierarchy (type → type×dow → total); CUBE
    // materializes ALL 2² groupings in one pass, adding the (·, dow)
    // slice — "Mondays across every event type" — that a dashboard
    // would otherwise pay a second aggregate for. Spark expands CUBE
    // into a single Expand+HashAggregate (rows ×4 before the partial
    // aggregate, shuffled once), which is the scale contract: one scan,
    // one shuffle, all slices. gid disambiguates the NULL-vs-"(all)"
    // ambiguity exactly as in a13; DECIMAL sum keeps the double exact.
    "a14_cube_grouping" -> QueryDef.sql(
      """WITH ev AS (
        |  SELECT event_type,
        |    (epoch_us(ts) // 86400000000 + 4) % 7 AS dow,
        |    CAST(value AS DECIMAL(18,4)) AS val
        |  FROM events)
        |SELECT coalesce(event_type, '(all)') AS event_type,
        |  CAST(coalesce(dow, -1) AS BIGINT) AS dow,
        |  CAST(grouping(event_type) * 2 + grouping(dow) AS BIGINT) AS gid,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(val) AS DOUBLE) AS total_value
        |FROM ev GROUP BY CUBE (event_type, dow)
        |ORDER BY gid, event_type, dow""".stripMargin) { (s, d) =>
      val us = graft.util.Tables.epochUsFloorSql
      events(s, d)
        .select(col("event_type"),
          expr(s"((($us) div 86400000000) + 4) % 7").as("dow"),
          col("value").cast("decimal(18,4)").as("val"))
        .cube("event_type", "dow")
        .agg(count(lit(1)).as("n_events"),
          sum(col("val")).cast("double").as("total_value"),
          (grouping(col("event_type")) * 2 + grouping(col("dow")))
            .cast("long").as("gid"))
        .select(coalesce(col("event_type"), lit("(all)")).as("event_type"),
          coalesce(col("dow"), lit(-1L)).cast("long").as("dow"),
          col("gid"), col("n_events"), col("total_value"))
        .orderBy("gid", "event_type", "dow")
    },

    // ----- A17: GROUPING SETS — the marginals-only slice set -----
    // Completes the multi-grouping trio: a13 ROLLUP drills one
    // hierarchy, a14 CUBE pays for every cross, and GROUPING SETS
    // names EXACTLY the groupings wanted — here the two one-dimension
    // marginals plus the grand total, WITHOUT the type×dow cross a
    // dashboard of independent widgets never reads. That skipped cross
    // is the scale point: Expand emits 3 replicas per row instead of
    // CUBE's 4, and the partial aggregate's key space is the SUM of
    // the marginal cardinalities, not their product — on a
    // high-cardinality pair that product is the difference between a
    // combinable map-side fold and a shuffle explosion. Same gid /
    // NULL-disambiguation discipline as a13/a14.
    "a17_grouping_sets" -> QueryDef.sql(
      """WITH ev AS (
        |  SELECT event_type,
        |    (epoch_us(ts) // 86400000000 + 4) % 7 AS dow,
        |    CAST(value AS DECIMAL(18,4)) AS val
        |  FROM events)
        |SELECT coalesce(event_type, '(all)') AS event_type,
        |  CAST(coalesce(dow, -1) AS BIGINT) AS dow,
        |  CAST(grouping(event_type) * 2 + grouping(dow) AS BIGINT) AS gid,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(val) AS DOUBLE) AS total_value
        |FROM ev GROUP BY GROUPING SETS ((event_type), (dow), ())
        |ORDER BY gid, event_type, dow""".stripMargin) { (s, d) =>
      val us = graft.util.Tables.epochUsFloorSql
      events(s, d)
        .select(col("event_type"),
          expr(s"((($us) div 86400000000) + 4) % 7").as("dow"),
          col("value").cast("decimal(18,4)").as("val"))
        .groupingSets(
          Seq(Seq(col("event_type")), Seq(col("dow")), Seq.empty[org.apache.spark.sql.Column]),
          col("event_type"), col("dow"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("val")).cast("double").as("total_value"),
          (grouping(col("event_type")) * 2 + grouping(col("dow")))
            .cast("long").as("gid"))
        .select(coalesce(col("event_type"), lit("(all)")).as("event_type"),
          coalesce(col("dow"), lit(-1L)).cast("long").as("dow"),
          col("gid"), col("n_events"), col("total_value"))
        .orderBy("gid", "event_type", "dow")
    },

    // ----- Autocorrelation of the daily event series at lags 1 and 7 -----
    // The seasonality EVIDENCE the forecast baseline assumes: acf(7)
    // high and acf(1) modest says "weekly structure, seasonal-naive is
    // right"; both near zero says the per-dow baseline is fitting
    // noise. Exact integer form: deviations enter n-scaled
    // (y_t = n·c_t − Σc — the CUSUM/comovement discipline, so no mean
    // division ever happens), the lag pairing is an equi-join on the
    // dense day grid (day+lag — never a window offset over a sparse
    // axis), and acf = Σ y_t·y_{t+k} / Σ y_t² lands in ppm with one
    // DECIMAL/HUGEINT //. Day-grid cardinality throughout after one
    // counting fold.
    "forecast_acf_lags" -> QueryDef.sql(
      """WITH d AS (
        |  SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day FROM events),
        |c AS (SELECT day, CAST(count(*) AS BIGINT) AS c FROM d GROUP BY day),
        |st AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(c) AS BIGINT) AS t FROM c),
        |y AS (SELECT day, n * c - t AS y FROM c CROSS JOIN st),
        |den AS (SELECT CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS d2 FROM y),
        |lags AS (SELECT CAST(lag AS BIGINT) AS lag FROM (VALUES (1), (7)) AS v(lag)),
        |num AS (
        |  SELECT l.lag, CAST(sum(CAST(a.y AS HUGEINT) * b.y) AS HUGEINT) AS nk,
        |    CAST(count(*) AS BIGINT) AS n_pairs
        |  FROM lags l JOIN y a ON TRUE JOIN y b ON b.day = a.day + l.lag
        |  GROUP BY l.lag)
        |SELECT n.lag, n.n_pairs,
        |  CAST((1000000 * n.nk) // d.d2 AS BIGINT) AS acf_ppm
        |FROM num n CROSS JOIN den d ORDER BY n.lag""".stripMargin) { (s, d) =>
      import s.implicits._
      val us = graft.util.Tables.epochUsFloorSql
      val c = events(s, d)
        .select(expr(s"(($us) div 86400000000)").as("day"))
        .groupBy("day").agg(count(lit(1)).as("c"))
        .localCheckpoint()
      val st = c.agg(count(lit(1)).as("n"), sum("c").as("t"))
      val y = c.crossJoin(broadcast(st))
        .select(col("day"), (col("n") * col("c") - col("t")).as("y"))
        .localCheckpoint()
      val den = y.agg(sum(expr("CAST(y AS DECIMAL(38,0)) * y")).as("d2"))
      val lags = Seq(1L, 7L).toDF("lag")
      val num = broadcast(lags).crossJoin(y.select(col("day"), col("y").as("ya")))
        .join(y.select(col("day").as("db"), col("y").as("yb")),
          col("db") === col("day") + col("lag"))
        .groupBy("lag")
        .agg(sum(expr("CAST(ya AS DECIMAL(38,0)) * yb")).as("nk"),
          count(lit(1)).as("n_pairs"))
      num.crossJoin(broadcast(den))
        .select(col("lag"), col("n_pairs"),
          expr("CAST((1000000L * nk) div d2 AS BIGINT)").as("acf_ppm"))
        .orderBy("lag")
    },

    // ----- Power-law tail of the dup-candidate degree distribution -----
    // The graph-shape audit (Clauset, Shalizi & Newman 2009): mirror
    // farms and template spam give the candidate graph a heavy-tailed
    // degree distribution, and the Hill/CSN maximum-likelihood α̂ =
    // 1 + n/Σ ln(dᵢ/(d_min−½)) quantifies how heavy — α near 2 is
    // scale-free territory, large α means the tail dies fast (this
    // fixture's bounded-bucket graph, honestly reported). The ln runs
    // once per DISTINCT degree (a bounded table), weighted by its node
    // count, under the rounded-libm integer discipline; everything
    // else is one degree fold over pinned edges. d_min = 2.
    "graph_degree_powerlaw" -> QueryDef.sql(
      s"""WITH ${graft.operators.TextQueries.MinhashBandsCte},
         |pairs AS (${graft.operators.TextQueries.BandedPairsSelect}),
         |e AS (SELECT doc_a AS a FROM pairs UNION ALL SELECT doc_b AS a FROM pairs),
         |deg AS (SELECT a, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY a),
         |dd AS (SELECT deg, CAST(count(*) AS BIGINT) AS cnt FROM deg
         |       WHERE deg >= 2 GROUP BY deg),
         |agg AS (
         |  SELECT CAST(sum(cnt) AS BIGINT) AS n_tail,
         |    CAST(max(deg) AS BIGINT) AS d_max,
         |    CAST(sum(cnt * CAST(round(1000000 * round(ln(CAST(deg AS DOUBLE) / 1.5), 6))
         |      AS BIGINT)) AS BIGINT) AS s
         |  FROM dd)
         |SELECT n_tail, d_max,
         |  CAST(1000 + (1000000000 * n_tail) // s AS BIGINT) AS alpha_milli
         |FROM agg""".stripMargin) { (s, d) =>
      val pairs = SignatureStore.ensureK8Pairs(s, d)
      val deg = pairs.select(col("doc_a").as("a"))
        .unionByName(pairs.select(col("doc_b").as("a")))
        .groupBy("a").agg(count(lit(1)).as("deg"))
      deg.filter(col("deg") >= 2)
        .groupBy("deg").agg(count(lit(1)).as("cnt"))
        .agg(sum("cnt").as("n_tail"), max("deg").as("d_max"),
          sum(col("cnt") *
            expr("CAST(round(1000000 * round(ln(CAST(deg AS DOUBLE) / 1.5), 6)) AS BIGINT)"))
            .as("s"))
        .select(col("n_tail"), col("d_max"),
          expr("CAST(1000L + (1000000000L * n_tail) div s AS BIGINT)").as("alpha_milli"))
    },

    // ----- Per-source KL divergence from the global token mix -----
    // The information-theoretic drift audit beside the count-based
    // ones (source_length_drift, dup_source_matrix): D(p_s ‖ q) =
    // Σ pᵢ·ln(pᵢ/qᵢ) says in nats how far a source's token
    // distribution sits from the corpus mix — the screen that catches
    // a source drifting into template spam while its lengths still
    // look normal. Exactness discipline: every probability is an exact
    // BIGINT ratio; the ONE transcendental per (source, token) —
    // ln((n_si·N)/(n_i·N_s)) — enters as a 6-dp-rounded double
    // converted once to integer micro-nats (the HLL linear-counting
    // treatment), after which the pᵢ-weighted sum is pure integer //
    // arithmetic, order-free. Terms with n_si = 0 contribute 0 by
    // definition and never appear (inner join). Plan: two
    // vocabulary-cardinality folds and a broadcast of the global side;
    // the output is taxonomy-bounded.
    "source_kl_divergence" -> QueryDef.sql(
      """WITH tok AS (
        |  SELECT source, unnest(string_split_regex(trim(lower(text)), '\s+')) AS t
        |  FROM documents WHERE source IS NOT NULL),
        |st AS (SELECT source, t, CAST(count(*) AS BIGINT) AS n_si FROM tok GROUP BY 1, 2),
        |ns AS (SELECT source, CAST(sum(n_si) AS BIGINT) AS n_s FROM st GROUP BY 1),
        |g AS (SELECT t, CAST(count(*) AS BIGINT) AS n_i FROM tok GROUP BY 1),
        |nn AS (SELECT CAST(sum(n_i) AS BIGINT) AS n FROM g),
        |terms AS (
        |  SELECT st.source,
        |    (st.n_si * CAST(round(1000000 * round(ln(
        |      CAST(st.n_si * nn.n AS DOUBLE) / (g.n_i * ns.n_s)), 6)) AS BIGINT))
        |      // ns.n_s AS term_micro
        |  FROM st JOIN g ON g.t = st.t JOIN ns ON ns.source = st.source CROSS JOIN nn)
        |SELECT source, CAST(sum(term_micro) AS BIGINT) AS kl_micro_nats
        |FROM terms GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
      val tok = documents(s, d).filter(col("source").isNotNull)
        .select(col("source"),
          explode(expr(graft.operators.TextQueries.toksExpr)).as("t"))
      val st = tok.groupBy("source", "t").agg(count(lit(1)).as("n_si"))
        .localCheckpoint()
      val ns = st.groupBy("source").agg(sum("n_si").as("n_s"))
      val g = st.groupBy("t").agg(sum("n_si").as("n_i"))
      val nn = g.agg(sum("n_i").as("n"))
      st.join(broadcast(g), Seq("t")).join(broadcast(ns), Seq("source"))
        .crossJoin(broadcast(nn))
        .select(col("source"),
          expr("""(n_si * CAST(round(1000000 * round(ln(
                 |  CAST(n_si * n AS DOUBLE) / (n_i * n_s)), 6)) AS BIGINT))
                 |  div n_s""".stripMargin).as("term_micro"))
        .groupBy("source")
        .agg(sum("term_micro").as("kl_micro_nats"))
        .orderBy("source")
    },

    // ----- A18: CUPED variance reduction (Deng et al., WSDM 2013) -----
    // The experimentation companion of a15: before reading a test, a
    // mature platform regresses the post-period metric on the
    // pre-period covariate (Y′ = Y − θ(X − X̄)) and runs the test on
    // the residual — same mean, variance shrunk by ρ², which is the
    // sample-size multiplier CUPED is deployed for. This query emits
    // the adjustment itself: θ and the variance-reduction fraction ρ²,
    // both as exact ratios of the n²-scaled integer moments
    // (nΣxy − ΣxΣy over nΣx² − (Σx)² — the type_comovement_matrix
    // discipline, value in WHOLE currency units so cov² stays inside
    // DECIMAL(38)). Pre/post split at the corpus's own mid-day, the
    // fe_churn_labels point-in-time boundary. One per-user conditional
    // fold, one 5-moment fold, one row — nothing corpus-scale after
    // the first aggregate.
    "a18_cuped_adjustment" -> QueryDef.sql(
      """WITH ev AS (
        |  SELECT user_id, event_type, CAST(floor(value) AS BIGINT) AS v,
        |    epoch_us(ts) // 86400000000 AS day
        |  FROM events),
        |mm AS (SELECT (min(day) + max(day)) // 2 AS mid FROM ev),
        |u AS (
        |  SELECT user_id,
        |    CAST(sum(CASE WHEN event_type = 'purchase' AND day <= mid THEN v ELSE 0 END) AS BIGINT) AS x,
        |    CAST(sum(CASE WHEN event_type = 'purchase' AND day > mid THEN v ELSE 0 END) AS BIGINT) AS y
        |  FROM ev CROSS JOIN mm GROUP BY user_id),
        |mo AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx,
        |    CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
        |    CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy,
        |    CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy
        |  FROM u),
        |sc AS (
        |  SELECT n, sx, sy,
        |    n * sxy - CAST(sx AS HUGEINT) * sy AS cov2,
        |    n * sxx - CAST(sx AS HUGEINT) * sx AS varx2,
        |    n * syy - CAST(sy AS HUGEINT) * sy AS vary2
        |  FROM mo)
        |SELECT n,
        |  CAST(sx // n AS BIGINT) AS mean_x, CAST(sy // n AS BIGINT) AS mean_y,
        |  CAST((1000000 * cov2) // varx2 AS BIGINT) AS theta_ppm,
        |  CAST((1000000 * cov2 * cov2) // (varx2 * vary2) AS BIGINT) AS var_reduction_ppm
        |FROM sc""".stripMargin) { (s, d) =>
      val us = graft.util.Tables.epochUsFloorSql
      val ev = events(s, d)
        .select(col("user_id"), col("event_type"),
          floor(col("value")).cast("long").as("v"),
          expr(s"(($us) div 86400000000)").as("day"))
      val mm = ev.agg(expr("(min(day) + max(day)) div 2").as("mid"))
      val u = ev.crossJoin(broadcast(mm))
        .groupBy("user_id")
        .agg(
          sum(when(col("event_type") === "purchase" && col("day") <= col("mid"),
            col("v")).otherwise(0L)).as("x"),
          sum(when(col("event_type") === "purchase" && col("day") > col("mid"),
            col("v")).otherwise(0L)).as("y"))
      u.agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
          sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("sxx"),
          sum(expr("CAST(y AS DECIMAL(38,0)) * y")).as("syy"),
          sum(expr("CAST(x AS DECIMAL(38,0)) * y")).as("sxy"))
        .select(col("n"), col("sx"), col("sy"),
          expr("n * sxy - CAST(sx AS DECIMAL(38,0)) * sy").as("cov2"),
          expr("n * sxx - CAST(sx AS DECIMAL(38,0)) * sx").as("varx2"),
          expr("n * syy - CAST(sy AS DECIMAL(38,0)) * sy").as("vary2"))
        .select(col("n"),
          expr("CAST(sx div n AS BIGINT)").as("mean_x"),
          expr("CAST(sy div n AS BIGINT)").as("mean_y"),
          expr("CAST((1000000L * cov2) div varx2 AS BIGINT)").as("theta_ppm"),
          expr("CAST((1000000L * cov2 * cov2) div (varx2 * vary2) AS BIGINT)")
            .as("var_reduction_ppm"))
    },

    // ----- A20: group-sequential monitoring (O'Brien–Fleming, 4 looks) -----
    // The last face of the experimentation family: peeking at a test
    // repeatedly inflates false positives, so interim looks must clear
    // an alpha-spending boundary — O'Brien–Fleming's z_k = z_K·√(K/k)
    // (conservative early, nominal at the end; the standard for
    // clinical and large-platform monitoring). Four equally-spaced
    // day-quartile looks at the a15 test (parity arms, above-running-
    // mean outcome — the mean recomputed WITHIN each look, as a real
    // interim analysis would); each look emits its cumulative χ², the
    // fixed boundary z_k² in micro-units (published constants for
    // K = 4, α = .05 two-sided: z_4 = 2.024), and the crossed flag.
    // Degenerate margins NULL via the a15 guard. Plan: ONE pass builds
    // per-(user, arm, look) counts (looks explode against the bounded
    // user table, not events), then look-bounded folds.
    "a20_group_sequential" -> QueryDef.sql(
      """WITH ev AS (
        |  SELECT user_id, user_id % 2 AS arm, event_type,
        |    epoch_us(ts) // 86400000000 AS day
        |  FROM events),
        |mm AS (SELECT min(day) AS d0, max(day) AS d1 FROM ev),
        |looks AS (
        |  SELECT k, d0 + (k * (d1 - d0)) // 4 AS cut
        |  FROM (SELECT unnest(generate_series(1, 4)) AS k) g, mm),
        |ud AS (
        |  SELECT user_id, arm, day, CAST(count(*) AS BIGINT) AS np
        |  FROM ev WHERE event_type = 'purchase' GROUP BY 1, 2, 3),
        |uk AS (
        |  SELECT l.k, l.cut, u.user_id, u.arm,
        |    CAST(sum(CASE WHEN u.day <= l.cut THEN u.np ELSE 0 END) AS BIGINT) AS np
        |  FROM looks l CROSS JOIN ud u GROUP BY 1, 2, 3, 4),
        |mt AS (SELECT k, CAST(count(*) AS BIGINT) AS nu, CAST(sum(np) AS BIGINT) AS tp
        |       FROM uk GROUP BY k),
        |u AS (
        |  SELECT uk.k, uk.cut, uk.arm,
        |    CASE WHEN uk.np * m.nu > m.tp THEN 1 ELSE 0 END AS conv
        |  FROM uk JOIN mt m ON m.k = uk.k),
        |cm AS (
        |  SELECT k, cut, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN arm = 1 AND conv = 1 THEN 1 ELSE 0 END) AS BIGINT) AS a,
        |    CAST(sum(CASE WHEN arm = 1 AND conv = 0 THEN 1 ELSE 0 END) AS BIGINT) AS b,
        |    CAST(sum(CASE WHEN arm = 0 AND conv = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c,
        |    CAST(sum(CASE WHEN arm = 0 AND conv = 0 THEN 1 ELSE 0 END) AS BIGINT) AS d
        |  FROM u GROUP BY 1, 2),
        |bounds AS (
        |  SELECT CAST(k AS BIGINT) AS k, CAST(b AS BIGINT) AS bound_micro
        |  FROM (VALUES (1, 16386304), (2, 8193152), (3, 5462101), (4, 4096576)) AS v(k, b)),
        |chi AS (
        |  SELECT k, cut, n,
        |    CASE WHEN (a + b) * (c + d) * (a + c) * (b + d) = 0 THEN NULL
        |         ELSE CAST((CAST(1000000 AS HUGEINT) * n * (a * d - b * c) * (a * d - b * c))
        |           // (CAST(a + b AS HUGEINT) * (c + d) * (a + c) * (b + d)) AS BIGINT)
        |    END AS chi2_micro
        |  FROM cm)
        |SELECT c.k AS look, c.cut AS day_cut, c.n AS n_users, c.chi2_micro,
        |  b.bound_micro,
        |  CAST(CASE WHEN c.chi2_micro > b.bound_micro THEN 1 ELSE 0 END AS BIGINT)
        |    AS crossed
        |FROM chi c JOIN bounds b ON b.k = c.k
        |ORDER BY look""".stripMargin) { (s, d) =>
      val us = graft.util.Tables.epochUsFloorSql
      val ev = events(s, d)
        .select(col("user_id"), (col("user_id") % 2).as("arm"), col("event_type"),
          expr(s"(($us) div 86400000000)").as("day"))
      val mm = ev.agg(min("day").as("d0"), max("day").as("d1"))
      val looks = mm.select(explode(sequence(lit(1L), lit(4L))).as("k"),
          col("d0"), col("d1"))
        .select(col("k"), expr("d0 + (k * (d1 - d0)) div 4").as("cut"))
      val ud = ev.filter(col("event_type") === "purchase")
        .groupBy("user_id", "arm", "day").agg(count(lit(1)).as("np"))
      val uk = broadcast(looks).crossJoin(ud)
        .groupBy("k", "cut", "user_id", "arm")
        .agg(sum(when(col("day") <= col("cut"), col("np")).otherwise(0L)).as("np"))
        .localCheckpoint()
      val mt = uk.groupBy("k").agg(count(lit(1)).as("nu"), sum("np").as("tp"))
      val cm = uk.join(broadcast(mt), Seq("k"))
        .select(col("k"), col("cut"), col("arm"),
          when(col("np") * col("nu") > col("tp"), 1L).otherwise(0L).as("conv"))
        .groupBy("k", "cut")
        .agg(count(lit(1)).as("n"),
          sum(when(col("arm") === 1 && col("conv") === 1, 1L).otherwise(0L)).as("a"),
          sum(when(col("arm") === 1 && col("conv") === 0, 1L).otherwise(0L)).as("b"),
          sum(when(col("arm") === 0 && col("conv") === 1, 1L).otherwise(0L)).as("c"),
          sum(when(col("arm") === 0 && col("conv") === 0, 1L).otherwise(0L)).as("d"))
      import s.implicits._
      val bounds = broadcast(Seq((1L, 16386304L), (2L, 8193152L), (3L, 5462101L),
        (4L, 4096576L)).toDF("k", "bound_micro"))
      cm.join(bounds, Seq("k"))
        .select(col("k").as("look"), col("cut").as("day_cut"), col("n").as("n_users"),
          expr("""CASE WHEN (a + b) * (c + d) * (a + c) * (b + d) = 0 THEN NULL
                 |     ELSE CAST((CAST(1000000 AS DECIMAL(38,0)) * n * (a * d - b * c) * (a * d - b * c))
                 |       div (CAST(a + b AS DECIMAL(38,0)) * (c + d) * (a + c) * (b + d)) AS BIGINT)
                 |END""".stripMargin).as("chi2_micro"),
          col("bound_micro"))
        .withColumn("crossed",
          when(col("chi2_micro") > col("bound_micro"), 1L).otherwise(0L))
        .orderBy("look")
    },

    // ----- A19: difference-in-differences readout -----
    // Completes the experimentation trio (a15 tests, a18 reduces
    // variance, DiD estimates under parallel trends when assignment
    // wasn't randomized): the effect estimate is (Ȳ_t,post − Ȳ_t,pre) −
    // (Ȳ_c,post − Ȳ_c,pre) over per-user purchase totals, arms by id
    // parity, periods split at the corpus mid-day. Every group mean is
    // an exact floor-divided ratio of value-micros sums (the floor
    // semantics is the documented contract — sub-micro mean residue is
    // below the metric's resolution), so the estimate is pure BIGINT.
    // All four cell means and both deltas are emitted beside it: the
    // parallel-trends eyeball IS the pre-column comparison. One
    // per-(user, period) fold, one 4-cell fold, one row.
    "a19_diff_in_diff" -> QueryDef.sql(
      """WITH ev AS (
        |  SELECT user_id, user_id % 2 AS arm, event_type,
        |    CAST(floor(value * 1000000) AS BIGINT) AS vus,
        |    epoch_us(ts) // 86400000000 AS day
        |  FROM events),
        |mm AS (SELECT (min(day) + max(day)) // 2 AS mid FROM ev),
        |u AS (
        |  SELECT user_id, arm,
        |    CAST(sum(CASE WHEN event_type = 'purchase' AND day <= mid THEN vus ELSE 0 END) AS BIGINT) AS pre,
        |    CAST(sum(CASE WHEN event_type = 'purchase' AND day > mid THEN vus ELSE 0 END) AS BIGINT) AS post
        |  FROM ev CROSS JOIN mm GROUP BY 1, 2),
        |cells AS (
        |  SELECT
        |    CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
        |    CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_c,
        |    CAST(sum(CASE WHEN arm = 1 THEN pre ELSE 0 END) AS BIGINT) AS st_pre,
        |    CAST(sum(CASE WHEN arm = 1 THEN post ELSE 0 END) AS BIGINT) AS st_post,
        |    CAST(sum(CASE WHEN arm = 0 THEN pre ELSE 0 END) AS BIGINT) AS sc_pre,
        |    CAST(sum(CASE WHEN arm = 0 THEN post ELSE 0 END) AS BIGINT) AS sc_post
        |  FROM u)
        |SELECT n_t, n_c,
        |  CAST(st_pre // n_t AS BIGINT) AS mean_t_pre_us,
        |  CAST(st_post // n_t AS BIGINT) AS mean_t_post_us,
        |  CAST(sc_pre // n_c AS BIGINT) AS mean_c_pre_us,
        |  CAST(sc_post // n_c AS BIGINT) AS mean_c_post_us,
        |  CAST((st_post // n_t - st_pre // n_t)
        |    - (sc_post // n_c - sc_pre // n_c) AS BIGINT) AS did_us
        |FROM cells""".stripMargin) { (s, d) =>
      val us = graft.util.Tables.epochUsFloorSql
      val ev = events(s, d)
        .select(col("user_id"), (col("user_id") % 2).as("arm"), col("event_type"),
          floor(col("value") * 1000000).cast("long").as("vus"),
          expr(s"(($us) div 86400000000)").as("day"))
      val mm = ev.agg(expr("(min(day) + max(day)) div 2").as("mid"))
      ev.crossJoin(broadcast(mm))
        .groupBy("user_id", "arm")
        .agg(
          sum(when(col("event_type") === "purchase" && col("day") <= col("mid"),
            col("vus")).otherwise(0L)).as("pre"),
          sum(when(col("event_type") === "purchase" && col("day") > col("mid"),
            col("vus")).otherwise(0L)).as("post"))
        .agg(
          sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n_t"),
          sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n_c"),
          sum(when(col("arm") === 1, col("pre")).otherwise(0L)).as("st_pre"),
          sum(when(col("arm") === 1, col("post")).otherwise(0L)).as("st_post"),
          sum(when(col("arm") === 0, col("pre")).otherwise(0L)).as("sc_pre"),
          sum(when(col("arm") === 0, col("post")).otherwise(0L)).as("sc_post"))
        .select(col("n_t"), col("n_c"),
          expr("CAST(st_pre div n_t AS BIGINT)").as("mean_t_pre_us"),
          expr("CAST(st_post div n_t AS BIGINT)").as("mean_t_post_us"),
          expr("CAST(sc_pre div n_c AS BIGINT)").as("mean_c_pre_us"),
          expr("CAST(sc_post div n_c AS BIGINT)").as("mean_c_post_us"),
          expr("""CAST((st_post div n_t - st_pre div n_t)
                 |  - (sc_post div n_c - sc_pre div n_c) AS BIGINT)""".stripMargin)
            .as("did_us"))
    },

    // ----- churn training-set construction (point-in-time features) -----
    // The supervised-learning counterpart of the forecast baseline:
    // users active in the first half of the day range get features
    // computed ONLY from that half (activity counts, distinct active
    // days, exact DECIMAL spend, recency-at-cutoff) and a label from
    // the second half (churned = zero later events) — the
    // point-in-time discipline that prevents label leakage, enforced
    // here by conditional aggregation inside ONE user-keyed pass rather
    // than a second scan. Output is one labeled feature row per
    // qualifying user.
    "fe_churn_labels" -> QueryDef.sql(
      """WITH ev AS (
        |  SELECT user_id, event_type, CAST(value AS DECIMAL(18,4)) AS val,
        |    epoch_us(ts) // 86400000000 AS day
        |  FROM events),
        |mm AS (SELECT (min(day) + max(day)) // 2 AS mid FROM ev),
        |u AS (
        |  SELECT user_id,
        |    CAST(sum(CASE WHEN day <= mid THEN 1 ELSE 0 END) AS BIGINT) AS n_events,
        |    CAST(sum(CASE WHEN day <= mid AND event_type = 'purchase'
        |             THEN 1 ELSE 0 END) AS BIGINT) AS n_purchases,
        |    CAST(count(DISTINCT CASE WHEN day <= mid THEN day END) AS BIGINT)
        |      AS n_active_days,
        |    CAST(sum(CASE WHEN day <= mid THEN val
        |             ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) AS total_value,
        |    CAST(mid - max(CASE WHEN day <= mid THEN day END) AS BIGINT) AS recency,
        |    CAST(CASE WHEN sum(CASE WHEN day > mid THEN 1 ELSE 0 END) = 0
        |         THEN 1 ELSE 0 END AS BIGINT) AS churned
        |  FROM ev, mm GROUP BY user_id, mid)
        |SELECT * FROM u WHERE n_events > 0 ORDER BY user_id""".stripMargin) { (s, d) =>
      val us = graft.util.Tables.epochUsFloorSql
      val ev = events(s, d)
        .select(col("user_id"), col("event_type"),
          col("value").cast("decimal(18,4)").as("val"),
          expr(s"($us) div 86400000000").as("day"))
      val mm = ev.agg(expr("(min(day) + max(day)) div 2").as("mid"))
      ev.crossJoin(broadcast(mm))
        .groupBy("user_id")
        .agg(
          sum(when(col("day") <= col("mid"), 1L).otherwise(0L)).as("n_events"),
          sum(when(col("day") <= col("mid") && col("event_type") === "purchase",
            1L).otherwise(0L)).as("n_purchases"),
          countDistinct(when(col("day") <= col("mid"), col("day")))
            .as("n_active_days"),
          sum(when(col("day") <= col("mid"), col("val"))
            .otherwise(lit(0).cast("decimal(18,4)"))).cast("double")
            .as("total_value"),
          (first(col("mid")) - max(when(col("day") <= col("mid"), col("day"))))
            .as("recency"),
          when(sum(when(col("day") > col("mid"), 1L).otherwise(0L)) === 0, 1L)
            .otherwise(0L).as("churned"))
        .filter(col("n_events") > 0)
        .orderBy("user_id")
    },

    // ----- DQ: referential-integrity audit over a corrupted staging feed -----
    // The pre-merge gate a warehouse runs on INCOMING data: every FK edge
    // of the star schema is checked for orphans (child keys with no
    // parent) and dead parents (never referenced). Clean fixtures would
    // make this a wall of zeros, so the audit runs against a STAGED feed
    // with deterministic corruption planted (FK := −1 on a fixed modulus
    // of the child's own key — the corruption IS part of the query, so
    // both engines stage identical feeds). Scale shape: each edge is one
    // key-only join — dim parents broadcast, the one fact-fact edge
    // (lineitem→orders) shuffles once on the key; no row payloads move,
    // and the 7 one-row edge reports union on the driver side of a
    // 7-row table. The nation→region edge is left clean as the
    // all-zeros control row.
    "dq_referential_integrity" -> QueryDef.sql(
      """WITH ls AS (
        |  SELECT CASE WHEN (l_orderkey * 10 + l_linenumber) % 499 = 0
        |    THEN -1 ELSE l_orderkey END AS fk_ord,
        |    CASE WHEN (l_orderkey * 10 + l_linenumber) % 503 = 0
        |    THEN -1 ELSE l_partkey END AS fk_part,
        |    CASE WHEN (l_orderkey * 10 + l_linenumber) % 509 = 0
        |    THEN -1 ELSE l_suppkey END AS fk_supp
        |  FROM lineitem),
        |os AS (SELECT o_orderkey,
        |  CASE WHEN o_orderkey % 499 = 0 THEN -1 ELSE o_custkey END AS fk_cust
        |  FROM orders),
        |cs AS (SELECT c_custkey,
        |  CASE WHEN c_custkey % 499 = 0 THEN -1 ELSE c_nationkey END AS fk_nat
        |  FROM customer),
        |ss AS (SELECT s_suppkey,
        |  CASE WHEN s_suppkey % 97 = 0 THEN -1 ELSE s_nationkey END AS fk_nat
        |  FROM supplier),
        |edge AS (
        |  SELECT 'customer->nation' AS edge,
        |    (SELECT count(*) FROM cs) AS n_child,
        |    (SELECT count(*) FROM cs WHERE fk_nat < 0) AS n_corrupt,
        |    (SELECT count(*) FROM cs WHERE NOT EXISTS
        |      (SELECT 1 FROM nation n WHERE n.n_nationkey = cs.fk_nat)) AS n_orphan,
        |    (SELECT count(*) FROM nation) AS n_parent,
        |    (SELECT count(*) FROM nation n WHERE NOT EXISTS
        |      (SELECT 1 FROM cs WHERE cs.fk_nat = n.n_nationkey)) AS n_unref_parent
        |  UNION ALL SELECT 'lineitem->orders',
        |    (SELECT count(*) FROM ls), (SELECT count(*) FROM ls WHERE fk_ord < 0),
        |    (SELECT count(*) FROM ls WHERE NOT EXISTS
        |      (SELECT 1 FROM orders o WHERE o.o_orderkey = ls.fk_ord)),
        |    (SELECT count(*) FROM orders),
        |    (SELECT count(*) FROM orders o WHERE NOT EXISTS
        |      (SELECT 1 FROM ls WHERE ls.fk_ord = o.o_orderkey))
        |  UNION ALL SELECT 'lineitem->part',
        |    (SELECT count(*) FROM ls), (SELECT count(*) FROM ls WHERE fk_part < 0),
        |    (SELECT count(*) FROM ls WHERE NOT EXISTS
        |      (SELECT 1 FROM part p WHERE p.p_partkey = ls.fk_part)),
        |    (SELECT count(*) FROM part),
        |    (SELECT count(*) FROM part p WHERE NOT EXISTS
        |      (SELECT 1 FROM ls WHERE ls.fk_part = p.p_partkey))
        |  UNION ALL SELECT 'lineitem->supplier',
        |    (SELECT count(*) FROM ls), (SELECT count(*) FROM ls WHERE fk_supp < 0),
        |    (SELECT count(*) FROM ls WHERE NOT EXISTS
        |      (SELECT 1 FROM supplier s WHERE s.s_suppkey = ls.fk_supp)),
        |    (SELECT count(*) FROM supplier),
        |    (SELECT count(*) FROM supplier s WHERE NOT EXISTS
        |      (SELECT 1 FROM ls WHERE ls.fk_supp = s.s_suppkey))
        |  UNION ALL SELECT 'nation->region',
        |    (SELECT count(*) FROM nation), 0,
        |    (SELECT count(*) FROM nation n WHERE NOT EXISTS
        |      (SELECT 1 FROM region r WHERE r.r_regionkey = n.n_regionkey)),
        |    (SELECT count(*) FROM region),
        |    (SELECT count(*) FROM region r WHERE NOT EXISTS
        |      (SELECT 1 FROM nation n WHERE n.n_regionkey = r.r_regionkey))
        |  UNION ALL SELECT 'orders->customer',
        |    (SELECT count(*) FROM os), (SELECT count(*) FROM os WHERE fk_cust < 0),
        |    (SELECT count(*) FROM os WHERE NOT EXISTS
        |      (SELECT 1 FROM customer c WHERE c.c_custkey = os.fk_cust)),
        |    (SELECT count(*) FROM customer),
        |    (SELECT count(*) FROM customer c WHERE NOT EXISTS
        |      (SELECT 1 FROM os WHERE os.fk_cust = c.c_custkey))
        |  UNION ALL SELECT 'supplier->nation',
        |    (SELECT count(*) FROM ss), (SELECT count(*) FROM ss WHERE fk_nat < 0),
        |    (SELECT count(*) FROM ss WHERE NOT EXISTS
        |      (SELECT 1 FROM nation n WHERE n.n_nationkey = ss.fk_nat)),
        |    (SELECT count(*) FROM nation),
        |    (SELECT count(*) FROM nation n WHERE NOT EXISTS
        |      (SELECT 1 FROM ss WHERE ss.fk_nat = n.n_nationkey)))
        |SELECT edge, CAST(n_child AS BIGINT) AS n_child,
        |  CAST(n_corrupt AS BIGINT) AS n_corrupt,
        |  CAST(n_orphan AS BIGINT) AS n_orphan,
        |  CAST(n_parent AS BIGINT) AS n_parent,
        |  CAST(n_unref_parent AS BIGINT) AS n_unref_parent
        |FROM edge ORDER BY edge""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.DataFrame
      def edgeReport(name: String, child: DataFrame, fk: String,
          parent: DataFrame, pk: String, bcast: Boolean): DataFrame = {
        val pkeys0 = parent.select(col(pk).as("_pk")).distinct()
        val pkeys = if (bcast) broadcast(pkeys0) else pkeys0
        val c = child.join(pkeys, col(fk) === col("_pk"), "left")
          .agg(count(lit(1)).as("n_child"),
            sum(when(col(fk) < 0, 1L).otherwise(0L)).as("n_corrupt"),
            sum(when(col("_pk").isNull, 1L).otherwise(0L)).as("n_orphan"))
        // dead-parent check: build side is the DISTINCT child key set —
        // broadcastable for dim edges; the fact-fact edge shuffles on the key
        val fks0 = child.select(col(fk).as("_fk")).distinct()
        val fks = if (bcast) broadcast(fks0) else fks0
        val p = parent.join(fks, col(pk) === col("_fk"), "left")
          .agg(count(lit(1)).as("n_parent"),
            sum(when(col("_fk").isNull, 1L).otherwise(0L)).as("n_unref_parent"))
        c.crossJoin(p).select(lit(name).as("edge"), col("n_child"),
          col("n_corrupt"), col("n_orphan"), col("n_parent"),
          col("n_unref_parent"))
      }
      val li = lineitem(s, d).select(
        when((col("l_orderkey") * 10 + col("l_linenumber")) % 499 === 0, -1L)
          .otherwise(col("l_orderkey")).as("fk_ord"),
        when((col("l_orderkey") * 10 + col("l_linenumber")) % 503 === 0, -1L)
          .otherwise(col("l_partkey")).as("fk_part"),
        when((col("l_orderkey") * 10 + col("l_linenumber")) % 509 === 0, -1L)
          .otherwise(col("l_suppkey")).as("fk_supp"))
        .localCheckpoint()
      val os = orders(s, d).select(col("o_orderkey"),
        when(col("o_orderkey") % 499 === 0, -1L).otherwise(col("o_custkey"))
          .as("fk_cust"))
      val cs = customer(s, d).select(col("c_custkey"),
        when(col("c_custkey") % 499 === 0, -1)
          .otherwise(col("c_nationkey")).as("fk_nat"))
      val ss = supplier(s, d).select(col("s_suppkey"),
        when(col("s_suppkey") % 97 === 0, -1)
          .otherwise(col("s_nationkey")).as("fk_nat"))
      edgeReport("customer->nation", cs, "fk_nat", nation(s, d), "n_nationkey", bcast = true)
        .unionByName(edgeReport("lineitem->orders", li, "fk_ord", orders(s, d), "o_orderkey", bcast = false))
        .unionByName(edgeReport("lineitem->part", li, "fk_part", part(s, d), "p_partkey", bcast = true))
        .unionByName(edgeReport("lineitem->supplier", li, "fk_supp", supplier(s, d), "s_suppkey", bcast = true))
        .unionByName(edgeReport("nation->region", nation(s, d)
          .select(col("n_nationkey"), col("n_regionkey").as("fk_reg")), "fk_reg",
          region(s, d), "r_regionkey", bcast = true)
          .withColumn("n_corrupt", lit(0L)))
        .unionByName(edgeReport("orders->customer", os, "fk_cust", customer(s, d), "c_custkey", bcast = true))
        .unionByName(edgeReport("supplier->nation", ss, "fk_nat", nation(s, d), "n_nationkey", bcast = true))
        .orderBy("edge")
    },

    // ----- DQ: declarative expectation suite (Great-Expectations-shaped) -----
    // One row per (table, check): row count, violation count, pass flag.
    // Each table is scanned ONCE — all its checks fold into a single
    // conditional aggregate (one hash-agg, no shuffle beyond the 1-row
    // partial merge), then the per-table rows stack into the report. The
    // checks are real contracts on this data, and one has genuine teeth:
    // lineitem's (l_orderkey, l_linenumber) is NOT unique in the fixture
    // (14k+ duplicate rows at sf0.01) — exactly what the gate exists to
    // catch. Uniqueness is the one check that must shuffle (count per
    // key); it rides a distinct-sized aggregate, not a row-payload sort.
    "dq_expectation_suite" -> QueryDef.sql(
      """WITH lidup AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(count(*) - count(DISTINCT (l_orderkey, l_linenumber)) AS BIGINT) AS dups
        |  FROM lineitem),
        |li AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN l_discount BETWEEN 0 AND 0.5 THEN 0 ELSE 1 END) AS BIGINT) AS disc,
        |    CAST(sum(CASE WHEN l_quantity >= 1 AND l_quantity <= 50 THEN 0 ELSE 1 END) AS BIGINT) AS qty,
        |    CAST(sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS shipnull
        |  FROM lineitem),
        |oo AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN o_orderstatus IN ('O','F','P') THEN 0 ELSE 1 END) AS BIGINT) AS status,
        |    CAST(sum(CASE WHEN o_totalprice > 0 AND o_totalprice < 1000000 THEN 0 ELSE 1 END) AS BIGINT) AS price,
        |    CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS custnull
        |  FROM orders),
        |ee AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN value >= 0 THEN 0 ELSE 1 END) AS BIGINT) AS val,
        |    CAST(sum(CASE WHEN event_type IN ('click','view','purchase','signup','error')
        |      THEN 0 ELSE 1 END) AS BIGINT) AS etype
        |  FROM events),
        |dd AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN n_chars = length(text) THEN 0 ELSE 1 END) AS BIGINT) AS chars,
        |    CAST(sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS langnull
        |  FROM documents),
        |cu AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(count(*) - count(DISTINCT c_custkey) AS BIGINT) AS dups
        |  FROM customer),
        |rep AS (
        |  SELECT 'customer' AS table_name, 'pk_unique' AS check_name, n, dups AS n_violations FROM cu
        |  UNION ALL SELECT 'documents', 'lang_not_null', n, langnull FROM dd
        |  UNION ALL SELECT 'documents', 'n_chars_consistent', n, chars FROM dd
        |  UNION ALL SELECT 'events', 'type_accepted', n, etype FROM ee
        |  UNION ALL SELECT 'events', 'value_nonnegative', n, val FROM ee
        |  UNION ALL SELECT 'lineitem', 'discount_in_range', n, disc FROM li
        |  UNION ALL SELECT 'lineitem', 'pk_unique', n, dups FROM lidup
        |  UNION ALL SELECT 'lineitem', 'quantity_in_range', n, qty FROM li
        |  UNION ALL SELECT 'lineitem', 'shipdate_not_null', n, shipnull FROM li
        |  UNION ALL SELECT 'orders', 'custkey_not_null', n, custnull FROM oo
        |  UNION ALL SELECT 'orders', 'price_in_range', n, price FROM oo
        |  UNION ALL SELECT 'orders', 'status_accepted', n, status FROM oo)
        |SELECT table_name, check_name, n AS n_rows, n_violations,
        |  CAST(n_violations = 0 AS BIGINT) AS pass
        |FROM rep ORDER BY table_name, check_name""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.DataFrame
      def rows(table: String, agged: DataFrame, checks: (String, String)*): DataFrame =
        checks.map { case (check, vcol) =>
          agged.select(lit(table).as("table_name"), lit(check).as("check_name"),
            col("n").as("n_rows"), col(vcol).as("n_violations"))
        }.reduce(_.unionByName(_))
      val lidup = lineitem(s, d)
        .agg(count(lit(1)).as("n"),
          (count(lit(1)) - countDistinct(col("l_orderkey"), col("l_linenumber")))
            .as("dups"))
      val li = lineitem(s, d).agg(count(lit(1)).as("n"),
        sum(when(col("l_discount").between(0, 0.5), 0L).otherwise(1L)).as("disc"),
        sum(when(col("l_quantity") >= 1 && col("l_quantity") <= 50, 0L)
          .otherwise(1L)).as("qty"),
        sum(when(col("l_shipdate").isNull, 1L).otherwise(0L)).as("shipnull"))
      val oo = orders(s, d).agg(count(lit(1)).as("n"),
        sum(when(col("o_orderstatus").isin("O", "F", "P"), 0L).otherwise(1L))
          .as("status"),
        sum(when(col("o_totalprice") > 0 && col("o_totalprice") < 1000000, 0L)
          .otherwise(1L)).as("price"),
        sum(when(col("o_custkey").isNull, 1L).otherwise(0L)).as("custnull"))
      val ee = events(s, d).agg(count(lit(1)).as("n"),
        sum(when(col("value") >= 0, 0L).otherwise(1L)).as("val"),
        sum(when(col("event_type").isin("click", "view", "purchase", "signup",
          "error"), 0L).otherwise(1L)).as("etype"))
      val dd = documents(s, d).agg(count(lit(1)).as("n"),
        sum(when(col("n_chars") === length(col("text")), 0L).otherwise(1L))
          .as("chars"),
        sum(when(col("lang").isNull, 1L).otherwise(0L)).as("langnull"))
      val cu = customer(s, d).agg(count(lit(1)).as("n"),
        (count(lit(1)) - countDistinct(col("c_custkey"))).as("dups"))
      rows("customer", cu, "pk_unique" -> "dups")
        .unionByName(rows("documents", dd, "lang_not_null" -> "langnull",
          "n_chars_consistent" -> "chars"))
        .unionByName(rows("events", ee, "type_accepted" -> "etype",
          "value_nonnegative" -> "val"))
        .unionByName(rows("lineitem", li, "discount_in_range" -> "disc",
          "quantity_in_range" -> "qty", "shipdate_not_null" -> "shipnull"))
        .unionByName(rows("lineitem", lidup, "pk_unique" -> "dups"))
        .unionByName(rows("orders", oo, "custkey_not_null" -> "custnull",
          "price_in_range" -> "price", "status_accepted" -> "status"))
        .select(col("table_name"), col("check_name"), col("n_rows"),
          col("n_violations"),
          (col("n_violations") === 0).cast("long").as("pass"))
        .orderBy("table_name", "check_name")
    },

    // ----- Mutual information between lang and source (doc counts) -----
    // KL (above) audits one marginal against the corpus; MI audits the
    // JOINT — how much knowing the source tells you about the language,
    // the number a mixture designer checks before treating lang and
    // source weights as independently tunable. Same fixed-transcendental
    // discipline as KL: ln enters once per (lang, source) CELL (bounded
    // taxonomy², not corpus), round(,6) then micro-integer, after which
    // every emission is BIGINT. Scale shape: one corpus-pass hash agg to
    // cells, marginals fold from the cells (no second scan), everything
    // after is broadcast algebra over ≤|langs|·|sources| rows.
    "mi_lang_source" -> QueryDef.sql(
      """WITH c AS (
        |  SELECT lang, source, CAST(count(*) AS BIGINT) AS n_ij
        |  FROM documents WHERE lang IS NOT NULL AND source IS NOT NULL
        |  GROUP BY 1, 2),
        |ml AS (SELECT lang, CAST(sum(n_ij) AS BIGINT) AS n_i FROM c GROUP BY 1),
        |ms AS (SELECT source, CAST(sum(n_ij) AS BIGINT) AS n_j FROM c GROUP BY 1),
        |nn AS (SELECT CAST(sum(n_ij) AS BIGINT) AS n FROM c),
        |cell AS (
        |  SELECT c.lang, c.source, c.n_ij,
        |    CAST(round(1000000 * round(ln(
        |      CAST(c.n_ij * nn.n AS DOUBLE) / (ml.n_i * ms.n_j)), 6)) AS BIGINT)
        |      AS pmi_micro,
        |    (c.n_ij * CAST(round(1000000 * round(ln(
        |      CAST(c.n_ij * nn.n AS DOUBLE) / (ml.n_i * ms.n_j)), 6)) AS BIGINT))
        |      // nn.n AS term_micro
        |  FROM c JOIN ml ON ml.lang = c.lang JOIN ms ON ms.source = c.source
        |  CROSS JOIN nn),
        |tot AS (SELECT CAST(sum(term_micro) AS BIGINT) AS mi_micro FROM cell)
        |SELECT cell.lang, cell.source, cell.n_ij, cell.pmi_micro,
        |  cell.term_micro, tot.mi_micro AS mi_total_micro
        |FROM cell CROSS JOIN tot ORDER BY lang, source""".stripMargin) { (s, d) =>
      val c = documents(s, d)
        .filter(col("lang").isNotNull && col("source").isNotNull)
        .groupBy("lang", "source").agg(count(lit(1)).as("n_ij"))
        .localCheckpoint()
      val ml = c.groupBy("lang").agg(sum("n_ij").as("n_i"))
      val ms = c.groupBy("source").agg(sum("n_ij").as("n_j"))
      val nn = c.agg(sum("n_ij").as("n"))
      val cell = c.join(broadcast(ml), Seq("lang"))
        .join(broadcast(ms), Seq("source"))
        .crossJoin(broadcast(nn))
        .withColumn("pmi_micro",
          expr("""CAST(round(1000000 * round(ln(
                 |  CAST(n_ij * n AS DOUBLE) / (n_i * n_j)), 6)) AS BIGINT)""".stripMargin))
        .withColumn("term_micro", expr("(n_ij * pmi_micro) div n"))
        .localCheckpoint()
      val tot = cell.agg(sum("term_micro").as("mi_total_micro"))
      cell.crossJoin(broadcast(tot))
        .select(col("lang"), col("source"), col("n_ij"), col("pmi_micro"),
          col("term_micro"), col("mi_total_micro"))
        .orderBy("lang", "source")
    },

    // ----- Robust location: trimmed + winsorized means per event type -----
    // The outlier-resistant siblings of the plain mean the anomaly
    // pipeline (event_anomaly_mad) flags against: drop the exact top and
    // bottom 5% by rank (trimmed) or clamp them to the 5th/95th rank
    // values (winsorized). Exact-rank form — ranks come from ONE window
    // pass per type ordered by (value_micro, event_id) so ties are
    // deterministic, then a single conditional aggregate folds all three
    // means; the winsorized sum is closed-form from the trimmed sum plus
    // k copies of each boundary (the clamped rows ARE the boundary
    // values). Integer micro-units end to end. Scale: the per-type sort
    // is the audit cost (5 types ⇒ 5 reducers at 100 TB — the
    // quantile-bin store is the streaming-scale path; this is the exact
    // face run on samples or backfills).
    "robust_trimmed_stats" -> QueryDef.sql(
      """WITH v AS (
        |  SELECT event_type, event_id,
        |    CAST(round(1000000 * round(value, 6)) AS BIGINT) AS micro
        |  FROM events),
        |r AS (
        |  SELECT event_type, micro,
        |    row_number() OVER (PARTITION BY event_type ORDER BY micro, event_id) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM v),
        |k AS (SELECT event_type, micro, rn, n, (n * 5) // 100 AS kt FROM r)
        |SELECT event_type, CAST(n AS BIGINT) AS n, CAST(kt AS BIGINT) AS k_trim,
        |  CAST(sum(micro) // n AS BIGINT) AS mean_micro,
        |  CAST(sum(CASE WHEN rn > kt AND rn <= n - kt THEN micro ELSE 0 END)
        |    // (n - 2 * kt) AS BIGINT) AS trimmed_mean_micro,
        |  CAST((sum(CASE WHEN rn > kt AND rn <= n - kt THEN micro ELSE 0 END)
        |    + kt * max(CASE WHEN rn = kt + 1 THEN micro END)
        |    + kt * max(CASE WHEN rn = n - kt THEN micro END)) // n AS BIGINT)
        |    AS winsor_mean_micro
        |FROM k GROUP BY event_type, n, kt ORDER BY event_type""".stripMargin) { (s, d) =>
      val v = events(s, d).select(col("event_type"), col("event_id"),
        expr("CAST(round(1000000 * round(value, 6)) AS BIGINT)").as("micro"))
      val w = Window.partitionBy("event_type").orderBy("micro", "event_id")
      val wn = Window.partitionBy("event_type")
      val r = v.withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(wn))
        .withColumn("kt", expr("(n * 5) div 100"))
      r.groupBy("event_type", "n", "kt")
        .agg(
          sum(col("micro")).as("tot"),
          sum(when(col("rn") > col("kt") && col("rn") <= col("n") - col("kt"),
            col("micro")).otherwise(0L)).as("trim_sum"),
          max(when(col("rn") === col("kt") + 1, col("micro"))).as("lo"),
          max(when(col("rn") === col("n") - col("kt"), col("micro"))).as("hi"))
        .select(col("event_type"), col("n").cast("long").as("n"),
          col("kt").cast("long").as("k_trim"),
          expr("tot div n").as("mean_micro"),
          expr("trim_sum div (n - 2 * kt)").as("trimmed_mean_micro"),
          expr("(trim_sum + kt * lo + kt * hi) div n").as("winsor_mean_micro"))
        .orderBy("event_type")
    },

    // ----- Entropy rate of the behavior Markov chain -----
    // One number for "how predictable is user behavior": the entropy
    // rate Σ_i π_i·H(row_i) of the o6 transition matrix, where H(row)
    // is the Shannon entropy of a state's outgoing distribution and
    // π is the empirical state weight. High-entropy states are where
    // next-step prediction (o16's Markov accuracy) must do worst —
    // the two queries are a matched pair: this bounds what that one
    // can achieve. Fixed-transcendental discipline: ln enters once per
    // (src, dst) CELL (taxonomy², bounded), round(,6)-then-micro; the
    // rate keeps cross-multiplied integer weights with one floor at
    // the end. Scale shape: corpus → per-user lead window (the o6
    // exchange) → taxonomy²-bounded algebra.
    "transition_entropy_rate" -> QueryDef.sql(
      """WITH t AS (SELECT user_id, event_id, event_type, epoch_ns(ts) AS ns
        |           FROM events),
        |pr AS (
        |  SELECT event_type AS src,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ns, event_id) AS dst
        |  FROM t),
        |c AS (SELECT src, dst, CAST(count(*) AS BIGINT) AS n FROM pr
        |      WHERE dst IS NOT NULL GROUP BY 1, 2),
        |rt AS (SELECT src, CAST(sum(n) AS BIGINT) AS n_src FROM c GROUP BY 1),
        |nn AS (SELECT CAST(sum(n) AS BIGINT) AS n FROM c),
        |cell AS (
        |  SELECT c.src, (c.n * CAST(round(1000000 * round(
        |      ln(CAST(rt.n_src AS DOUBLE) / c.n), 6)) AS BIGINT)) // rt.n_src
        |    AS term_micro
        |  FROM c JOIN rt ON rt.src = c.src),
        |h AS (
        |  SELECT cell.src, rt.n_src,
        |    CAST(sum(cell.term_micro) AS BIGINT) AS h_micro_nats
        |  FROM cell JOIN rt ON rt.src = cell.src GROUP BY 1, 2),
        |rate AS (
        |  SELECT CAST(sum(h.h_micro_nats * h.n_src) // max(nn.n) AS BIGINT)
        |    AS rate_micro_nats
        |  FROM h CROSS JOIN nn)
        |SELECT h.src, h.n_src, CAST((1000000 * h.n_src) // nn.n AS BIGINT)
        |    AS weight_ppm,
        |  h.h_micro_nats, rate.rate_micro_nats
        |FROM h CROSS JOIN nn CROSS JOIN rate ORDER BY src""".stripMargin) { (s, d) =>
      val w = Window.partitionBy(col("user_id")).orderBy(col("ns"), col("event_id"))
      val c = events(s, d)
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("ts_ns").as("ns"))
        .select(col("event_type").as("src"),
          lead(col("event_type"), 1).over(w).as("dst"))
        .filter(col("dst").isNotNull)
        .groupBy("src", "dst").agg(count(lit(1)).as("n"))
        .localCheckpoint()
      val rt = c.groupBy("src").agg(sum("n").as("n_src"))
      val nn = c.agg(sum("n").as("n"))
      val h = c.join(broadcast(rt), Seq("src"))
        .select(col("src"), col("n_src"),
          expr("""(n * CAST(round(1000000 * round(
                 |  ln(CAST(n_src AS DOUBLE) / n), 6)) AS BIGINT)) div n_src"""
            .stripMargin).as("term_micro"))
        .groupBy("src", "n_src")
        .agg(sum("term_micro").as("h_micro_nats"))
        .localCheckpoint()
      // micro-nats × event-scale counts: DECIMAL(38,0) intermediate like
      // o6's ppm spelling, BIGINT quotient
      val rate = h.crossJoin(broadcast(nn))
        .agg(expr("""CAST(sum(CAST(h_micro_nats AS DECIMAL(38,0)) * n_src)
                    |  div max(n) AS BIGINT)""".stripMargin)
          .as("rate_micro_nats"))
      h.crossJoin(broadcast(nn)).crossJoin(broadcast(rate))
        .select(col("src"), col("n_src"),
          expr("CAST((1000000 * n_src) div n AS BIGINT)").as("weight_ppm"),
          col("h_micro_nats"), col("rate_micro_nats"))
        .orderBy("src")
    },

    // ----- Survival analysis: the per-day churn hazard table -----
    // The life-table face of churn (the discrete-time input every
    // Kaplan-Meier curve folds from, kept as exact per-day hazards
    // instead of a chained product so everything stays integer): for
    // each activity day, how many users were AT RISK (first-active ≤
    // day ≤ last-active) and how many of them were never seen again
    // (churned that day). At-risk counts come from two prefix sums over
    // the bounded day grid — started-by(d) minus ended-before(d) — so
    // no per-(user, day) expansion ever materializes; the corpus folds
    // to one row per user, then one row per day. The final grid day is
    // flagged: every user still active there is censored, not churned,
    // and its 10⁶ ppm "hazard" is the censoring artifact, which is
    // exactly why real survival pipelines carry the flag.
    "churn_hazard_table" -> QueryDef.sql(
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
        |u AS (SELECT user_id, min(day) AS fd, max(day) AS ld FROM e GROUP BY 1),
        |grid AS (SELECT DISTINCT day FROM e),
        |st AS (SELECT fd AS day, CAST(count(*) AS BIGINT) AS c FROM u GROUP BY 1),
        |en AS (SELECT ld AS day, CAST(count(*) AS BIGINT) AS c FROM u GROUP BY 1),
        |g AS (
        |  SELECT grid.day, coalesce(st.c, 0) AS s, coalesce(en.c, 0) AS x
        |  FROM grid LEFT JOIN st USING (day) LEFT JOIN en USING (day)),
        |r AS (
        |  SELECT day, x,
        |    sum(s) OVER (ORDER BY day) AS cs,
        |    sum(x) OVER (ORDER BY day) AS cx
        |  FROM g),
        |mx AS (SELECT max(day) AS md FROM grid)
        |SELECT day, CAST(cs - (cx - x) AS BIGINT) AS n_at_risk,
        |  CAST(x AS BIGINT) AS n_churned,
        |  CAST((1000000 * x) // (cs - (cx - x)) AS BIGINT) AS hazard_ppm,
        |  CAST(day = mx.md AS BIGINT) AS is_censoring_boundary
        |FROM r CROSS JOIN mx ORDER BY day""".stripMargin) { (s, d) =>
      val us = graft.util.Tables.epochUsFloorSql
      val e = events(s, d)
        .select(col("user_id"), expr(s"($us) div 86400000000").as("day"))
      val u = e.groupBy("user_id")
        .agg(min("day").as("fd"), max("day").as("ld"))
        .localCheckpoint()
      val grid = e.select("day").distinct()
      val st = u.groupBy(col("fd").as("day")).agg(count(lit(1)).as("c"))
      val en = u.groupBy(col("ld").as("day")).agg(count(lit(1)).as("c2"))
      val g = grid.join(broadcast(st), Seq("day"), "left")
        .join(broadcast(en), Seq("day"), "left")
        .select(col("day"), coalesce(col("c"), lit(0L)).as("s"),
          coalesce(col("c2"), lit(0L)).as("x"))
      // bounded table (calendar rows): the ordered window is safe here
      val w = Window.orderBy("day")
      val r = g.withColumn("cs", sum("s").over(w))
        .withColumn("cx", sum("x").over(w))
      val mx = grid.agg(max("day").as("md"))
      r.crossJoin(broadcast(mx))
        .select(col("day"), (col("cs") - (col("cx") - col("x"))).as("n_at_risk"),
          col("x").as("n_churned"),
          expr("(1000000 * x) div (cs - (cx - x))").as("hazard_ppm"),
          (col("day") === col("md")).cast("long").as("is_censoring_boundary"))
        .orderBy("day")
    },

    // ----- Kaplan–Meier survival curve from the hazard table -----
    // The chained product S(d) = Π_{i≤d} (1 − h_i) over
    // churn_hazard_table's per-day hazards (Kaplan & Meier 1958),
    // kept exact by FLOORED ppm chaining: S_d = (S_{d−1}·(r_d−c_d))
    // div r_d — a left fold whose floor points are part of the
    // definition, so both engines replay the identical integer
    // sequence (DuckDB as a recursive CTE walking the day rank, Spark
    // as a driver fold over the COLLECTED hazard rows — bounded
    // calendar cardinality, the same bounded-collect precedent as the
    // BPE trainer's per-iteration argmax; the corpus-sized work all
    // happened in the one hash agg that built the life table). The
    // final-day collapse to 0 is the censoring artifact, flagged.
    "km_survival_curve" -> QueryDef.sql(
      """WITH RECURSIVE e AS (
        |  SELECT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
        |u AS (SELECT user_id, min(day) AS fd, max(day) AS ld FROM e GROUP BY 1),
        |grid AS (SELECT DISTINCT day FROM e),
        |st AS (SELECT fd AS day, CAST(count(*) AS BIGINT) AS c FROM u GROUP BY 1),
        |en AS (SELECT ld AS day, CAST(count(*) AS BIGINT) AS c FROM u GROUP BY 1),
        |g AS (
        |  SELECT grid.day, coalesce(st.c, 0) AS s, coalesce(en.c, 0) AS x
        |  FROM grid LEFT JOIN st USING (day) LEFT JOIN en USING (day)),
        |h AS (
        |  SELECT day, CAST(sum(s) OVER (ORDER BY day)
        |      - (sum(x) OVER (ORDER BY day) - x) AS BIGINT) AS r,
        |    CAST(x AS BIGINT) AS x,
        |    row_number() OVER (ORDER BY day) AS rk
        |  FROM g),
        |k AS (
        |  SELECT rk, day, r, x, (1000000 * (r - x)) // r AS sppm
        |  FROM h WHERE rk = 1
        |  UNION ALL
        |  SELECT h.rk, h.day, h.r, h.x, (k.sppm * (h.r - h.x)) // h.r
        |  FROM k JOIN h ON h.rk = k.rk + 1),
        |mx AS (SELECT max(day) AS md FROM grid)
        |SELECT day, r AS n_at_risk, x AS n_churned,
        |  CAST(sppm AS BIGINT) AS survival_ppm,
        |  CAST(day = mx.md AS BIGINT) AS is_censoring_boundary
        |FROM k CROSS JOIN mx ORDER BY day""".stripMargin) { (s, d) =>
      val us = graft.util.Tables.epochUsFloorSql
      val e = events(s, d)
        .select(col("user_id"), expr(s"($us) div 86400000000").as("day"))
      val u = e.groupBy("user_id")
        .agg(min("day").as("fd"), max("day").as("ld"))
        .localCheckpoint()
      val grid = e.select("day").distinct()
      val st = u.groupBy(col("fd").as("day")).agg(count(lit(1)).as("c"))
      val en = u.groupBy(col("ld").as("day")).agg(count(lit(1)).as("c2"))
      val w = Window.orderBy("day") // bounded calendar rows
      val hz = grid.join(broadcast(st), Seq("day"), "left")
        .join(broadcast(en), Seq("day"), "left")
        .select(col("day"), coalesce(col("c"), lit(0L)).as("s"),
          coalesce(col("c2"), lit(0L)).as("x"))
        .withColumn("cs", sum("s").over(w))
        .withColumn("cx", sum("x").over(w))
        .select(col("day"), (col("cs") - (col("cx") - col("x"))).as("r"),
          col("x"))
        .orderBy("day")
        .collect() // bounded: one row per calendar day
      val md = hz.map(_.getLong(0)).max
      var sppm = 1000000L
      val rows = hz.map { row =>
        val (day, r, x) = (row.getLong(0), row.getLong(1), row.getLong(2))
        sppm = (sppm * (r - x)) / r
        (day, r, x, sppm, if (day == md) 1L else 0L)
      }.toSeq
      import s.implicits._
      rows.toDF("day", "n_at_risk", "n_churned", "survival_ppm",
          "is_censoring_boundary")
        .orderBy("day")
    },

    // ----- restricted mean survival time from the KM curve -----
    // The scalar the KM curve exists to produce (Royston & Parmar's
    // RMST argument: medians need the curve to CROSS 50%, hazard ratios
    // need proportionality — the area under the curve needs neither):
    // RMST(τ) = Σ S(tᵢ)·(tᵢ₊₁ − tᵢ) up to the censoring boundary, in
    // exact ppm·days off the same started-minus-churned risk-set fold
    // as km_survival_curve (one bounded calendar pass; the product fold
    // is a driver fold on Spark and a recursive CTE in DuckDB, the KM
    // precedent). Median survival rides along (first day S ≤ 50%, NULL
    // when the curve never crosses — at fixture scale it does, late).
    "churn_survival_rmst" -> QueryDef.sql(
      """WITH RECURSIVE e AS (
        |  SELECT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
        |u AS (SELECT user_id, min(day) AS fd, max(day) AS ld FROM e GROUP BY 1),
        |grid AS (SELECT DISTINCT day FROM e),
        |st AS (SELECT fd AS day, CAST(count(*) AS BIGINT) AS c FROM u GROUP BY 1),
        |en AS (SELECT ld AS day, CAST(count(*) AS BIGINT) AS c FROM u GROUP BY 1),
        |g AS (
        |  SELECT grid.day, coalesce(st.c, 0) AS s, coalesce(en.c, 0) AS x
        |  FROM grid LEFT JOIN st USING (day) LEFT JOIN en USING (day)),
        |h AS (
        |  SELECT day, CAST(sum(s) OVER (ORDER BY day)
        |      - (sum(x) OVER (ORDER BY day) - x) AS BIGINT) AS r,
        |    CAST(x AS BIGINT) AS x,
        |    row_number() OVER (ORDER BY day) AS rk
        |  FROM g),
        |k AS (
        |  SELECT rk, day, r, x, (1000000 * (r - x)) // r AS sppm
        |  FROM h WHERE rk = 1
        |  UNION ALL
        |  SELECT h.rk, h.day, h.r, h.x, (k.sppm * (h.r - h.x)) // h.r
        |  FROM k JOIN h ON h.rk = k.rk + 1),
        |l AS (SELECT day, sppm, lead(day) OVER (ORDER BY day) AS nd FROM k),
        |b AS (SELECT min(day) AS d0, max(day) AS md FROM k),
        |r AS (SELECT CAST(sum(sppm * (nd - day)) AS BIGINT) AS rmst
        |      FROM l WHERE nd IS NOT NULL),
        |med AS (SELECT min(day) AS mday FROM k WHERE sppm <= 500000)
        |SELECT CAST(b.md - b.d0 AS BIGINT) AS tau_days, r.rmst AS rmst_ppm_days,
        |  CAST(r.rmst // (b.md - b.d0) AS BIGINT) AS rmst_mean_ppm,
        |  CAST(med.mday - b.d0 AS BIGINT) AS median_survival_day
        |FROM b CROSS JOIN r CROSS JOIN med""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val e = events(s, d)
        .select(col("user_id"),
          expr(s"(${graft.util.Tables.epochUsFloorSql}) div 86400000000").as("day"))
      val u = e.groupBy("user_id").agg(min("day").as("fd"), max("day").as("ld"))
      val grid = e.select("day").distinct()
      val st = u.groupBy(col("fd").as("day")).agg(count(lit(1)).as("c"))
      val en = u.groupBy(col("ld").as("day")).agg(count(lit(1)).as("c2"))
      val w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
      val hz = grid
        .join(broadcast(st), Seq("day"), "left")
        .join(broadcast(en), Seq("day"), "left")
        .select(col("day"), coalesce(col("c"), lit(0L)).as("s"),
          coalesce(col("c2"), lit(0L)).as("x"))
        .withColumn("cs", sum("s").over(w))
        .withColumn("cx", sum("x").over(w))
        .select(col("day"), (col("cs") - (col("cx") - col("x"))).as("r"),
          col("x"))
        .orderBy("day")
        .collect() // bounded: one row per calendar day
      var sppm = 1000000L
      val curve = hz.map { row =>
        val (day, r, x) = (row.getLong(0), row.getLong(1), row.getLong(2))
        sppm = (sppm * (r - x)) / r
        (day, sppm)
      }.toSeq
      val d0 = curve.head._1
      val md = curve.last._1
      val rmst = curve.sliding(2).collect {
        case Seq((day, sp), (nd, _)) => sp * (nd - day)
      }.sum
      val median = curve.find(_._2 <= 500000L).map(_._1 - d0)
      import s.implicits._
      Seq((md - d0, rmst, rmst / (md - d0), median))
        .toDF("tau_days", "rmst_ppm_days", "rmst_mean_ppm", "median_survival_day")
    },

    // ----- Log-rank test between the two user-parity survival cohorts -----
    // The hypothesis-test companion of `km_survival_curve` (Mantel 1966;
    // public survival-analysis literature): at every churn day t the
    // observed group-1 churners d1(t) are compared against the
    // hypergeometric expectation d(t)·n1(t)/n(t) of the pooled risk set,
    // and the χ² statistic (O1−E1)²/V accumulates the per-day variance
    // V(t) = d·(n1/n)·(n2/n)·(n−d)/(n−1). Groups are user-id parity — a
    // deliberate null split, so the emitted χ² is itself the honest
    // verdict (≈1, nowhere near the 3.84 the 5% level needs). Exactness:
    // every emission is a nested floor-division over BIGINT counts at
    // micro scale — both engines compute the identical integer tree, so
    // exactness-to-truth is bounded (ppm per day) and cross-engine
    // equality is bit-for-bit. The censoring convention mirrors the KM
    // query: users whose last day is the global max day are censored,
    // and that boundary day is excluded from the event sum. Risk sets
    // come from the same started-minus-churned-before prefix construction
    // over the bounded calendar grid (windows partition by group —
    // 2×days rows, never corpus-cardinality). Magnitudes: the deepest
    // product 1e6·d·n1/n·n2·(n−d) stays ≤ ~1e15 through sf0.1 (bounds in
    // the expression comments), BIGINT-safe on both engines.
    "km_logrank_test" -> QueryDef.sql(
      """WITH e AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
        |u AS (SELECT user_id, user_id % 2 AS grp, min(day) AS fd, max(day) AS ld
        |  FROM e GROUP BY 1),
        |mx AS (SELECT max(day) AS md FROM e),
        |grid AS (SELECT DISTINCT day FROM e),
        |st AS (SELECT grp, fd AS day, CAST(count(*) AS BIGINT) AS c FROM u GROUP BY 1,2),
        |en AS (SELECT grp, ld AS day, CAST(count(*) AS BIGINT) AS c FROM u GROUP BY 1,2),
        |gg AS (SELECT g.day, s.grp FROM grid g CROSS JOIN (SELECT DISTINCT grp FROM u) s),
        |h AS (
        |  SELECT gg.day, gg.grp,
        |    CAST(sum(coalesce(st.c,0)) OVER (PARTITION BY gg.grp ORDER BY gg.day)
        |      - (sum(coalesce(en.c,0)) OVER (PARTITION BY gg.grp ORDER BY gg.day)
        |         - coalesce(en.c,0)) AS BIGINT) AS r,
        |    CAST(coalesce(en.c,0) AS BIGINT) AS x
        |  FROM gg LEFT JOIN st ON st.grp = gg.grp AND st.day = gg.day
        |          LEFT JOIN en ON en.grp = gg.grp AND en.day = gg.day),
        |p AS (
        |  SELECT day,
        |    CAST(sum(CASE WHEN grp = 0 THEN r ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(sum(CASE WHEN grp = 1 THEN r ELSE 0 END) AS BIGINT) AS n2,
        |    CAST(sum(CASE WHEN grp = 0 THEN x ELSE 0 END) AS BIGINT) AS d1,
        |    CAST(sum(x) AS BIGINT) AS d
        |  FROM h GROUP BY 1),
        |t AS (
        |  SELECT day, n1, n2, d1, d, n1 + n2 AS n FROM p, mx
        |  WHERE day < mx.md AND d > 0),
        |c AS (
        |  SELECT CAST(coalesce(sum(d1), 0) AS BIGINT) AS o1,
        |    CAST(coalesce(sum((1000000 * d * n1) // n), 0) AS BIGINT) AS e1_micro,
        |    CAST(coalesce(sum(d - d1), 0) AS BIGINT) AS o2,
        |    CAST(coalesce(sum((1000000 * d * n2) // n), 0) AS BIGINT) AS e2_micro,
        |    CAST(coalesce(sum(CASE WHEN n > 1 THEN
        |      (((1000000 * d * n1) // n) * n2 * (n - d)) // (n * (n - 1))
        |      ELSE 0 END), 0) AS BIGINT) AS v_micro,
        |    CAST(count(*) AS BIGINT) AS n_event_days
        |  FROM t)
        |SELECT o1, e1_micro, o2, e2_micro, v_micro,
        |  CASE WHEN v_micro = 0 THEN NULL
        |       ELSE CAST((1000 * (1000 * o1 - e1_micro // 1000)
        |                       * (1000 * o1 - e1_micro // 1000)) // v_micro AS BIGINT)
        |  END AS chi2_milli,
        |  n_event_days
        |FROM c""".stripMargin) { (s, d) =>
      val us = graft.util.Tables.epochUsFloorSql
      val e = events(s, d)
        .select(col("user_id"), expr(s"($us) div 86400000000").as("day"))
      val u = e.groupBy("user_id")
        .agg(min("day").as("fd"), max("day").as("ld"))
        .withColumn("grp", pmod(col("user_id"), lit(2L)))
        .localCheckpoint() // user-cardinality, feeds three aggregates
      val grid = e.select("day").distinct()
      val gg = grid.crossJoin(u.select("grp").distinct())
      val st = u.groupBy(col("grp"), col("fd").as("day")).agg(count(lit(1)).as("c"))
      val en = u.groupBy(col("grp"), col("ld").as("day")).agg(count(lit(1)).as("c2"))
      // bounded grid: 2 groups × calendar days — the window never sees
      // corpus-cardinality rows
      val w = Window.partitionBy("grp").orderBy("day")
      val h = gg.join(broadcast(st), Seq("grp", "day"), "left")
        .join(broadcast(en), Seq("grp", "day"), "left")
        .select(col("day"), col("grp"),
          coalesce(col("c"), lit(0L)).as("sc"),
          coalesce(col("c2"), lit(0L)).as("x"))
        .withColumn("r", sum("sc").over(w) - (sum("x").over(w) - col("x")))
      val p = h.groupBy("day").agg(
        sum(when(col("grp") === 0, col("r")).otherwise(0L)).as("n1"),
        sum(when(col("grp") === 1, col("r")).otherwise(0L)).as("n2"),
        sum(when(col("grp") === 0, col("x")).otherwise(0L)).as("d1"),
        sum(col("x")).as("d"))
      val mx = e.agg(max("day").as("md"))
      val t = p.crossJoin(broadcast(mx))
        .where(col("day") < col("md") && col("d") > 0)
        .withColumn("n", col("n1") + col("n2"))
      // bounds at sf0.1 (n≈1500 users, d≤~200/day): 1e6·d·n1 ≤ 1.5e11;
      // the V numerator ((1e6·d·n1)//n)·n2·(n−d) ≤ ~2.3e14 — BIGINT-safe
      val c = t.agg(
        coalesce(sum("d1"), lit(0L)).as("o1"),
        coalesce(sum(expr("(1000000 * d * n1) div n")), lit(0L)).as("e1_micro"),
        coalesce(sum(col("d") - col("d1")), lit(0L)).as("o2"),
        coalesce(sum(expr("(1000000 * d * n2) div n")), lit(0L)).as("e2_micro"),
        coalesce(sum(expr(
          "CASE WHEN n > 1 THEN (((1000000 * d * n1) div n) * n2 * (n - d)) div (n * (n - 1)) ELSE 0 END")),
          lit(0L)).as("v_micro"),
        count(lit(1)).as("n_event_days"))
      c.select(col("o1"), col("e1_micro"), col("o2"), col("e2_micro"),
        col("v_micro"),
        when(col("v_micro") === 0, lit(null).cast("long"))
          .otherwise(expr(
            "(1000 * (1000 * o1 - e1_micro div 1000) * (1000 * o1 - e1_micro div 1000)) div v_micro"))
          .as("chi2_milli"),
        col("n_event_days"))
    },

    // ----- UCB1 bandit replay over the event-day stream -----
    // The experimentation family's SEQUENTIAL face (Auer, Cesa-Bianchi &
    // Fischer 2002): replay the event stream day by day as an off-policy
    // bandit log — arms are event types, a "success" is value ≥ 100 —
    // and emit, for every decision day, the arm UCB1 would pull given
    // ONLY the data strictly before that day (mean + sqrt(2·ln N / n)).
    // Day 1 exercises the play-each-arm-once init rule (all arms unseen
    // → alphabetically-first zero arm, n_prior = 0, NULL score). The
    // emitted sequence shows the algorithm's signature: early small-n
    // arms win on the exploration bonus, later days settle on the
    // best-mean arm. Exactness: the one transcendental per decision day
    // (ln N, day-bounded) enters under round(,6); everything after —
    // s/n, 2r/n, sqrt, the sum, the 1e6 floor — is correctly-rounded
    // IEEE arithmetic over identical inputs, so both engines pick the
    // same arm and emit the same floored micro-score (the sqrt-chain
    // discipline of rating_wilson_rank). Scale: daily per-arm partials
    // aggregate map-side; the windows run over the bounded day×arm grid.
    "ab_ucb1_replay" -> QueryDef.sql(
      """WITH e AS (
        |  SELECT epoch_us(ts) // 86400000000 AS day, event_type AS arm,
        |    CASE WHEN value >= 100 THEN 1 ELSE 0 END AS succ
        |  FROM events),
        |d AS (SELECT day, arm, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(succ) AS BIGINT) AS s
        |  FROM e GROUP BY 1,2),
        |grid AS (SELECT g.day, a.arm FROM (SELECT DISTINCT day FROM e) g
        |         CROSS JOIN (SELECT DISTINCT arm FROM e) a),
        |cum AS (
        |  SELECT day, arm,
        |    CAST(sum(coalesce(n,0)) OVER (PARTITION BY arm ORDER BY day)
        |      - coalesce(n,0) AS BIGINT) AS np,
        |    CAST(sum(coalesce(s,0)) OVER (PARTITION BY arm ORDER BY day)
        |      - coalesce(s,0) AS BIGINT) AS sp
        |  FROM grid LEFT JOIN d USING (day, arm)),
        |tot AS (SELECT day, arm, np, sp,
        |    CAST(sum(np) OVER (PARTITION BY day) AS BIGINT) AS bigN FROM cum),
        |u AS (
        |  SELECT day, arm, np, sp,
        |    CASE WHEN np = 0 THEN NULL
        |         ELSE CAST(sp AS DOUBLE) / CAST(np AS DOUBLE)
        |              + sqrt(2 * round(ln(CAST(bigN AS DOUBLE)), 6)
        |                     / CAST(np AS DOUBLE)) END AS ucb
        |  FROM tot),
        |pick AS (
        |  SELECT day, arm, np, sp, ucb,
        |    row_number() OVER (PARTITION BY day
        |      ORDER BY CASE WHEN np = 0 THEN 0 ELSE 1 END,
        |               ucb DESC NULLS LAST, arm) AS pr
        |  FROM u)
        |SELECT day, arm AS picked_arm, np AS n_prior,
        |  CASE WHEN np = 0 THEN NULL
        |       ELSE CAST((1000000 * sp) // np AS BIGINT) END AS mean_ppm,
        |  CASE WHEN np = 0 THEN NULL
        |       ELSE CAST(floor(1000000 * ucb) AS BIGINT) END AS ucb_micro
        |FROM pick WHERE pr = 1 ORDER BY day""".stripMargin) { (s, d) =>
      val us = graft.util.Tables.epochUsFloorSql
      val e = events(s, d).select(
        expr(s"($us) div 86400000000").as("day"),
        col("event_type").as("arm"),
        when(col("value") >= 100, 1L).otherwise(0L).as("succ"))
      val daily = e.groupBy("day", "arm")
        .agg(count(lit(1)).as("n"), sum("succ").as("sx"))
      val grid = e.select("day").distinct()
        .crossJoin(e.select("arm").distinct())
      val warm = Window.partitionBy("arm").orderBy("day")
      val cum = grid.join(daily, Seq("day", "arm"), "left")
        .select(col("day"), col("arm"),
          coalesce(col("n"), lit(0L)).as("n"),
          coalesce(col("sx"), lit(0L)).as("sc"))
        .withColumn("np", sum("n").over(warm) - col("n"))
        .withColumn("sp", sum("sc").over(warm) - col("sc"))
      val tot = cum.withColumn("bigN",
        sum("np").over(Window.partitionBy("day")))
      val u = tot.withColumn("ucb",
        when(col("np") === 0, lit(null).cast("double"))
          .otherwise(expr(
            "cast(sp as double) / cast(np as double) + sqrt(2 * round(ln(cast(bigN as double)), 6) / cast(np as double))")))
      u.withColumn("pr", row_number().over(
          Window.partitionBy("day").orderBy(
            when(col("np") === 0, 0).otherwise(1),
            col("ucb").desc_nulls_last, col("arm"))))
        .where(col("pr") === 1)
        .select(col("day"), col("arm").as("picked_arm"),
          col("np").as("n_prior"),
          when(col("np") === 0, lit(null).cast("long"))
            .otherwise(expr("(1000000 * sp) div np")).as("mean_ppm"),
          when(col("np") === 0, lit(null).cast("long"))
            .otherwise(floor(lit(1000000) * col("ucb"))).as("ucb_micro"))
        .orderBy("day")
    },

    // ----- IPS / SNIPS off-policy evaluation of the uniform policy -----
    // The OTHER half of the bandit story beside ab_ucb1_replay: estimate
    // a TARGET policy's value from a log collected under a DIFFERENT
    // policy (Horvitz–Thompson importance weighting; SNIPS per
    // Swaminathan & Joachims 2015). The biased log is planted: 'click'
    // events are logged at ~1/10 rate (event_id % 10), so the log's
    // composition misrepresents the corpus. The naive pooled mean of
    // the log is then biased for the uniform-policy value; IPS reweights
    // each arm by π(a)/b̂(a) = n_log/(K·n_a) and lands near the
    // full-data truth that rides alongside as the audit; SNIPS divides
    // by the realized weight mass instead of n. Kish effective sample
    // size (Σw)²/Σw² prices the correction — ESS ≪ n_log IS the
    // variance cost of off-policy reuse, and at sf0.001 that variance
    // honestly exceeds the naive bias (the verdict flips in IPS's favor
    // once n grows at sf0.01). Exactness: weights are per-ARM constants
    // (milli-scale floors), so every sum collapses to arm-level BIGINT
    // arithmetic — no per-row floats, both engines bit-identical.
    "ab_ips_offpolicy" -> QueryDef.sql(
      """WITH e AS (
        |  SELECT event_id, event_type AS arm,
        |    CASE WHEN value >= 100 THEN 1 ELSE 0 END AS r
        |  FROM events),
        |lg AS (SELECT arm, r FROM e WHERE arm <> 'click' OR event_id % 10 = 0),
        |nl AS (SELECT CAST(count(*) AS BIGINT) AS n_log,
        |    CAST(sum(r) AS BIGINT) AS s_log FROM lg),
        |a AS (SELECT arm, CAST(count(*) AS BIGINT) AS na,
        |    CAST(sum(r) AS BIGINT) AS sa FROM lg GROUP BY 1),
        |k AS (SELECT CAST(count(*) AS BIGINT) AS nk FROM a),
        |w AS (SELECT arm, na, sa, (1000 * n_log) // (nk * na) AS w_milli
        |      FROM a CROSS JOIN nl CROSS JOIN k),
        |agg AS (SELECT
        |    CAST(sum(sa * w_milli) AS BIGINT) AS num,
        |    CAST(sum(na * w_milli) AS BIGINT) AS den,
        |    CAST(sum(na * w_milli * w_milli) AS BIGINT) AS den2
        |  FROM w),
        |tru AS (
        |  SELECT CAST(sum((1000000 * sf) // nf) // count(*) AS BIGINT) AS truth_ppm,
        |         CAST(sum(nf) AS BIGINT) AS n_full
        |  FROM (SELECT CAST(count(*) AS BIGINT) AS nf,
        |          CAST(sum(r) AS BIGINT) AS sf FROM e GROUP BY arm))
        |SELECT
        |  CAST((1000000 * s_log) // n_log AS BIGINT) AS naive_ppm,
        |  CAST((1000 * num) // n_log AS BIGINT) AS v_ips_ppm,
        |  CAST((1000000 * num) // den AS BIGINT) AS v_snips_ppm,
        |  truth_ppm,
        |  CAST((den * den) // den2 AS BIGINT) AS ess_rows,
        |  n_log, n_full
        |FROM agg CROSS JOIN nl CROSS JOIN tru""".stripMargin) { (s, d) =>
      val e = events(s, d).select(col("event_id"),
        col("event_type").as("arm"),
        when(col("value") >= 100, 1L).otherwise(0L).as("r"))
      val lg = e.where(col("arm") =!= "click" || col("event_id") % 10 === 0)
        .localCheckpoint() // log-cardinality; feeds nl + per-arm legs
      val nl = lg.agg(count(lit(1)).as("n_log"), sum("r").as("s_log"))
      val a = lg.groupBy("arm").agg(count(lit(1)).as("na"), sum("r").as("sa"))
      val k = a.agg(count(lit(1)).as("nk"))
      val w = a.crossJoin(broadcast(nl)).crossJoin(broadcast(k))
        .withColumn("w_milli", expr("(1000 * n_log) div (nk * na)"))
      val agg = w.agg(
        sum(expr("sa * w_milli")).as("num"),
        sum(expr("na * w_milli")).as("den"),
        sum(expr("na * w_milli * w_milli")).as("den2"))
      val tru = e.groupBy("arm")
        .agg(count(lit(1)).as("nf"), sum("r").as("sf"))
        .agg(expr("sum((1000000 * sf) div nf) div count(1)").as("truth_ppm"),
          sum("nf").as("n_full"))
      agg.crossJoin(broadcast(nl)).crossJoin(broadcast(tru))
        .select(
          expr("(1000000 * s_log) div n_log").as("naive_ppm"),
          expr("(1000 * num) div n_log").as("v_ips_ppm"),
          expr("(1000000 * num) div den").as("v_snips_ppm"),
          col("truth_ppm"),
          expr("(den * den) div den2").as("ess_rows"),
          col("n_log"), col("n_full"))
    },

    // ----- Market-basket association rules over order baskets -----
    // The Apriori output shape (Agrawal & Srikant 1994) on the TPC-H
    // side: which part pairs co-occur in orders beyond chance, with
    // both directional confidences and the lift that basket_type_lift
    // computes for the (bounded) event-type alphabet — here over an
    // UNBOUNDED item alphabet, which is what changes the plan: pair
    // candidates explode per order (bounded by basket size², ~6 pairs
    // for a 4-line order, never corpus²), the support floor prunes
    // BEFORE the per-item tables join in, and the item-support table
    // is a broadcastable dim. All ppm integers; ties ordered by the
    // full key so the artifact is stable.
    "basket_part_rules" -> QueryDef.sql(
      """WITH b AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |no AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders FROM b),
        |na AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS n FROM b GROUP BY 1),
        |p AS (
        |  SELECT x.l_partkey AS pa, y.l_partkey AS pb, CAST(count(*) AS BIGINT) AS n_ab
        |  FROM b x JOIN b y
        |    ON y.l_orderkey = x.l_orderkey AND x.l_partkey < y.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 3)
        |SELECT p.pa, p.pb, p.n_ab, a.n AS n_a, c.n AS n_b,
        |  CAST((1000000 * p.n_ab) // a.n AS BIGINT) AS conf_a2b_ppm,
        |  CAST((1000000 * p.n_ab) // c.n AS BIGINT) AS conf_b2a_ppm,
        |  CAST((1000000 * p.n_ab * no.n_orders) // (a.n * c.n) AS BIGINT)
        |    AS lift_ppm
        |FROM p JOIN na a ON a.l_partkey = p.pa JOIN na c ON c.l_partkey = p.pb
        |CROSS JOIN no
        |ORDER BY lift_ppm DESC, pa, pb""".stripMargin) { (s, d) =>
      val b = lineitem(s, d).select("l_orderkey", "l_partkey").distinct()
        .localCheckpoint()
      val no = b.agg(countDistinct("l_orderkey").as("n_orders"))
      val na = b.groupBy("l_partkey").agg(count(lit(1)).as("n"))
      val p = b.select(col("l_orderkey"), col("l_partkey").as("pa"))
        .join(b.select(col("l_orderkey"), col("l_partkey").as("pb")),
          Seq("l_orderkey"))
        .filter(col("pa") < col("pb"))
        .groupBy("pa", "pb").agg(count(lit(1)).as("n_ab"))
        .filter(col("n_ab") >= 3)
      p.join(broadcast(na.select(col("l_partkey").as("pa"), col("n").as("n_a"))),
          Seq("pa"))
        .join(broadcast(na.select(col("l_partkey").as("pb"), col("n").as("n_b"))),
          Seq("pb"))
        .crossJoin(broadcast(no))
        .select(col("pa"), col("pb"), col("n_ab"), col("n_a"), col("n_b"),
          expr("(1000000 * n_ab) div n_a").as("conf_a2b_ppm"),
          expr("(1000000 * n_ab) div n_b").as("conf_b2a_ppm"),
          expr("(1000000 * n_ab * n_orders) div (n_a * n_b)").as("lift_ppm"))
        .orderBy(col("lift_ppm").desc, col("pa"), col("pb"))
    },

    // ----- Audience overlap: exact Jaccard matrix between event types -----
    // The exact-counting face of what kmv_jaccard_sources estimates
    // with sketches: pairwise Jaccard between the USER AUDIENCES of
    // each event type. The intersection never materializes user sets
    // against each other — each user contributes their own bounded
    // type-pair list (≤ C(5,2) rows) and the matrix falls out of one
    // hash agg, so the plan is corpus-scan + per-user pair explode +
    // bounded aggregation; audience sizes join in as a broadcast dim.
    // The sketch face wins once the type alphabet is unbounded; this
    // exact face is the ground truth it is graded against.
    "audience_overlap_matrix" -> QueryDef.sql(
      """WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
        |sz AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM ut GROUP BY 1),
        |p AS (
        |  SELECT a.event_type AS type_a, b.event_type AS type_b,
        |    CAST(count(*) AS BIGINT) AS n_both
        |  FROM ut a JOIN ut b
        |    ON b.user_id = a.user_id AND a.event_type < b.event_type
        |  GROUP BY 1, 2)
        |SELECT p.type_a, p.type_b, x.n AS n_a, y.n AS n_b, p.n_both,
        |  CAST((1000000 * p.n_both) // (x.n + y.n - p.n_both) AS BIGINT)
        |    AS jaccard_ppm
        |FROM p JOIN sz x ON x.event_type = p.type_a
        |JOIN sz y ON y.event_type = p.type_b
        |ORDER BY type_a, type_b""".stripMargin) { (s, d) =>
      val ut = events(s, d).select("user_id", "event_type").distinct()
        .localCheckpoint()
      val sz = ut.groupBy("event_type").agg(count(lit(1)).as("n"))
      val p = ut.select(col("user_id"), col("event_type").as("type_a"))
        .join(ut.select(col("user_id"), col("event_type").as("type_b")),
          Seq("user_id"))
        .filter(col("type_a") < col("type_b"))
        .groupBy("type_a", "type_b").agg(count(lit(1)).as("n_both"))
      p.join(broadcast(sz.select(col("event_type").as("type_a"),
          col("n").as("n_a"))), Seq("type_a"))
        .join(broadcast(sz.select(col("event_type").as("type_b"),
          col("n").as("n_b"))), Seq("type_b"))
        .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"),
          col("n_both"),
          expr("(1000000 * n_both) div (n_a + n_b - n_both)").as("jaccard_ppm"))
        .orderBy("type_a", "type_b")
    },

    // ----- Day-of-week seasonal profile (multiplicative index) -----
    // The seasonal shape the lag-7 baseline (forecast_seasonal_baseline)
    // and the ACF evidence (forecast_acf_lags: acf(7) ≫ acf(1)) both
    // point at, made explicit: per weekday, the event RATE as a ppm
    // index against the all-days rate — the multiplicative profile a
    // seasonal-naive forecaster multiplies into its level. Weekday is
    // pure integer arithmetic on the epoch-day number ((day+4) mod 7,
    // 0=Sunday — 1970-01-01 was a Thursday), rates never materialize:
    // the index cross-multiplies raw totals (T_d·N vs N_d·T) with one
    // floor division at the end. Scale: one hash agg to the bounded
    // daily table; everything after runs on ≤ 7×calendar rows.
    "ts_dow_profile" -> QueryDef.sql(
      """WITH e AS (
        |  SELECT epoch_us(ts) // 86400000000 AS day FROM events),
        |dc AS (SELECT day, CAST(count(*) AS BIGINT) AS c FROM e GROUP BY 1),
        |dw AS (SELECT (day + 4) % 7 AS dow, c FROM dc),
        |agg AS (SELECT dow, CAST(sum(c) AS BIGINT) AS t_d,
        |        CAST(count(*) AS BIGINT) AS n_d FROM dw GROUP BY 1),
        |tot AS (SELECT CAST(sum(t_d) AS BIGINT) AS t,
        |        CAST(sum(n_d) AS BIGINT) AS n FROM agg)
        |SELECT agg.dow, agg.n_d AS n_days, agg.t_d AS n_events,
        |  CAST((1000000 * agg.t_d * tot.n) // (agg.n_d * tot.t) AS BIGINT)
        |    AS index_ppm
        |FROM agg CROSS JOIN tot ORDER BY dow""".stripMargin) { (s, d) =>
      val us = graft.util.Tables.epochUsFloorSql
      val dc = events(s, d)
        .select(expr(s"($us) div 86400000000").as("day"))
        .groupBy("day").agg(count(lit(1)).as("c"))
      val agg = dc.select(expr("(day + 4) % 7").as("dow"), col("c"))
        .groupBy("dow")
        .agg(sum("c").as("t_d"), count(lit(1)).as("n_d"))
        .localCheckpoint()
      val tot = agg.agg(sum("t_d").as("t"), sum("n_d").as("n"))
      agg.crossJoin(broadcast(tot))
        .select(col("dow"), col("n_d").as("n_days"), col("t_d").as("n_events"),
          expr("CAST((1000000 * t_d * n) div (n_d * t) AS BIGINT)")
            .as("index_ppm"))
        .orderBy("dow")
    },

    // ----- Theil–Sen robust trend of the daily event series -----
    // The median-of-pairwise-slopes estimator (Theil 1950, Sen 1968):
    // up to ~29% of the daily points can be corrupted before the trend
    // moves, where the OLS slope (emitted beside it) chases every
    // outlier day. Days are rebased to min-day so magnitudes stay small,
    // slopes are ppm integers (trunc division — both engines truncate
    // toward zero on negatives, verified), and the median is the LOWER
    // median by (slope, day-pair) rank — fully deterministic. Scale
    // shape: the corpus collapses to the bounded daily-count table in
    // one hash agg; the O(days²) pair join and its rank run on
    // calendar-cardinality rows (435 pairs for a month, ~66k for a
    // year), never on the corpus.
    "ts_theilsen_trend" -> QueryDef.sql(
      """WITH e AS (
        |  SELECT epoch_us(ts) // 86400000000 AS day FROM events),
        |c0 AS (SELECT day, CAST(count(*) AS BIGINT) AS c FROM e GROUP BY 1),
        |mn AS (SELECT min(day) AS d0 FROM c0),
        |c AS (SELECT CAST(day - d0 AS BIGINT) AS d, c FROM c0 CROSS JOIN mn),
        |p AS (
        |  SELECT a.d AS di, b.d AS dj,
        |    (1000000 * (b.c - a.c)) // (b.d - a.d) AS slope_ppm
        |  FROM c a JOIN c b ON b.d > a.d),
        |med AS (
        |  SELECT slope_ppm AS theilsen_slope_ppm FROM (
        |    SELECT slope_ppm,
        |      row_number() OVER (ORDER BY slope_ppm, di, dj) AS rn,
        |      count(*) OVER () AS np
        |    FROM p) WHERE rn = (np + 1) // 2),
        |ols AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_days,
        |    (1000000 * (count(*) * sum(d * c) - sum(d) * sum(c)))
        |      // (count(*) * sum(d * d) - sum(d) * sum(d)) AS ols_slope_ppm
        |  FROM c),
        |np AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs FROM p)
        |SELECT ols.n_days, np.n_pairs, med.theilsen_slope_ppm,
        |  CAST(ols.ols_slope_ppm AS BIGINT) AS ols_slope_ppm
        |FROM ols CROSS JOIN np CROSS JOIN med""".stripMargin) { (s, d) =>
      val us = graft.util.Tables.epochUsFloorSql
      val c0 = events(s, d)
        .select(expr(s"($us) div 86400000000").as("day"))
        .groupBy("day").agg(count(lit(1)).as("c"))
      val mn = c0.agg(min("day").as("d0"))
      val c = c0.crossJoin(broadcast(mn))
        .select((col("day") - col("d0")).as("d"), col("c"))
        .localCheckpoint()
      val a = c.select(col("d").as("di"), col("c").as("ci"))
      val b = c.select(col("d").as("dj"), col("c").as("cj"))
      val p = a.join(b, col("dj") > col("di"))
        .select(col("di"), col("dj"),
          expr("(1000000 * (cj - ci)) div (dj - di)").as("slope_ppm"))
        .localCheckpoint()
      // bounded table (calendar² rows): the global rank window is safe here
      val med = p
        .withColumn("rn", row_number().over(
          Window.orderBy("slope_ppm", "di", "dj")))
        .withColumn("np", count(lit(1)).over(
          Window.partitionBy(lit(1))))
        .filter(expr("rn = (np + 1) div 2"))
        .select(col("slope_ppm").as("theilsen_slope_ppm"))
      val ols = c.agg(count(lit(1)).as("n_days"),
        expr("""(1000000 * (count(1) * sum(d * c) - sum(d) * sum(c)))
               |  div (count(1) * sum(d * d) - sum(d) * sum(d))""".stripMargin)
          .as("ols_slope_ppm"))
      val np = p.agg(count(lit(1)).as("n_pairs"))
      ols.crossJoin(np).crossJoin(med)
        .select(col("n_days"), col("n_pairs"), col("theilsen_slope_ppm"),
          col("ols_slope_ppm"))
    },

    // ----- Exact ROC AUC by feature (Mann–Whitney with ties) -----
    // Feature screening the way a label-quality pass actually ranks
    // candidate signals: AUC of each per-order feature predicting
    // "order contains a returned line" (l_returnflag = 'R'), computed
    // exactly as the tie-adjusted Mann–Whitney statistic. Per distinct
    // score s the positives at s beat every negative strictly below and
    // half-tie with the negatives at s, so 2U = Σ_s pos_s·(2·cnb_s +
    // neg_s) is an exact BIGINT — no trapezoid, no float ranks. The
    // prefix sums run on the DISTINCT-score table through the two-pass
    // ranged scaffold ([[graft.util.Scale.rangedOffsets]]), so no
    // single-task global window touches order-cardinality rows. The
    // measured result is the point: line count (0.73) and quantity
    // (0.70) predict returns, price (0.48) is noise — the decision the
    // eval exists to make. u2 products are corpus²-magnitude, so the
    // final ratio widens to DECIMAL(38,0)/HUGEINT before the one floor
    // division back to ppm.
    "eval_roc_auc" -> QueryDef.sql(
      """WITH lab AS (
        |  SELECT o.o_orderkey,
        |    CAST(max(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS pos,
        |    CAST(floor(min(o.o_totalprice) * 100) AS BIGINT) AS f_price,
        |    CAST(count(*) AS BIGINT) AS f_lines,
        |    CAST(sum(CAST(floor(l.l_quantity) AS BIGINT)) AS BIGINT) AS f_qty
        |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |  GROUP BY 1),
        |f AS (
        |  SELECT 'price' AS feature, f_price AS score, pos FROM lab
        |  UNION ALL SELECT 'lines', f_lines, pos FROM lab
        |  UNION ALL SELECT 'qty', f_qty, pos FROM lab),
        |g AS (
        |  SELECT feature, score,
        |    CAST(sum(pos) AS BIGINT) AS pos_s,
        |    CAST(count(*) - sum(pos) AS BIGINT) AS neg_s
        |  FROM f GROUP BY 1, 2),
        |c AS (
        |  SELECT feature, pos_s, neg_s,
        |    CAST(sum(neg_s) OVER (PARTITION BY feature ORDER BY score)
        |      - neg_s AS BIGINT) AS cnb
        |  FROM g)
        |SELECT feature,
        |  CAST(sum(pos_s) AS BIGINT) AS n_pos,
        |  CAST(sum(neg_s) AS BIGINT) AS n_neg,
        |  CAST(sum(pos_s * (2 * cnb + neg_s)) AS BIGINT) AS u2,
        |  CAST((CAST(1000000 AS HUGEINT) * sum(pos_s * (2 * cnb + neg_s)))
        |    // (2 * CAST(sum(pos_s) AS HUGEINT) * sum(neg_s)) AS BIGINT)
        |    AS auc_ppm
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val lab = orders(s, d)
        .join(lineitem(s, d), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderkey")
        .agg(
          max(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("pos"),
          floor(min("o_totalprice") * 100).cast("long").as("f_price"),
          count(lit(1)).as("f_lines"),
          sum(floor(col("l_quantity")).cast("long")).as("f_qty"))
        .localCheckpoint() // three feature legs share the one fact join
      // ONE ranged prefix-sum pass over the unioned (feature, score)
      // frame instead of three independent rangedOffsets legs (r15
      // optimization): the per-leg shape paid 3× (range-sample +
      // checkpoint + offsets collect) driver rounds — 2.1 s of the
      // query's 2.8 s wall was eager build. The per-feature running
      // neg_s is the GLOBAL running sum over (feature, score) order
      // minus the total neg_s of lexically earlier features (features
      // are contiguous under the range partitioning), so one offsets
      // collect serves all three features; the 3-row prior table rides
      // a broadcast join. Identical u2/auc per feature (oracle-gated).
      val f = Seq("price" -> "f_price", "lines" -> "f_lines", "qty" -> "f_qty")
        .map { case (n, c) =>
          lab.select(lit(n).as("feature"), col(c).as("score"), col("pos"))
        }.reduce(_ unionByName _)
      val g = f.groupBy("feature", "score")
        .agg(sum("pos").as("pos_s"),
          (count(lit(1)) - sum("pos")).as("neg_s"))
      val (ranged, offsets, _) = graft.util.Scale.rangedOffsets(
        g, Seq(col("feature"), col("score")), col("neg_s"))
      val w = Window.partitionBy("_pid").orderBy("feature", "score")
      val featTotals = ranged.groupBy("feature").agg(sum("neg_s").as("fneg"))
      val prior = featTotals.as("a")
        .join(featTotals.as("b"), col("b.feature") < col("a.feature"), "left")
        .groupBy(col("a.feature").as("feature"))
        .agg(coalesce(sum(col("b.fneg")), lit(0L)).as("prior"))
      ranged
        .withColumn("cum", sum("neg_s").over(w) - col("neg_s") +
          coalesce(element_at(typedlit(offsets), col("_pid")), lit(0L)))
        .join(broadcast(prior), Seq("feature"))
        .withColumn("cnb", col("cum") - col("prior"))
        .groupBy("feature")
        .agg(sum("pos_s").as("n_pos"), sum("neg_s").as("n_neg"),
          sum(col("pos_s") * (lit(2L) * col("cnb") + col("neg_s"))).as("u2"))
        .select(col("feature"), col("n_pos"), col("n_neg"), col("u2"),
          expr("""CAST((CAST(1000000 AS DECIMAL(38,0)) * u2)
                 |  div (2 * CAST(n_pos AS DECIMAL(38,0)) * n_neg)
                 |  AS BIGINT)""".stripMargin).as("auc_ppm"))
        .orderBy("feature")
    },

    // ----- Croston's method: intermittent-demand forecasting -----
    // The forecast ladder's SPARSE face (Croston 1972): Holt/HW treat a
    // mostly-zero series as crashing to zero between spikes; Croston
    // separately smooths the nonzero DEMAND SIZES (z) and the INTERVALS
    // between them (p), forecasting the per-period rate z/p. Series:
    // daily 1-URGENT order counts — genuinely intermittent at fixture
    // scale (~260 demand days over ~2400 calendar days at sf0.001).
    // Same exactness machinery as ts_holt_winters: α = ½ makes every
    // update add-and-halve in 2^20 fixed point, the bounded driver fold
    // replays the DuckDB recursive CTE bit-for-bit, and the emitted
    // rate is one floor division per step. The demand-day table is
    // calendar-bounded (the km_survival collect contract) — the fold
    // never sees order-cardinality rows.
    "forecast_croston" -> QueryDef.sql(
      """WITH RECURSIVE d AS (
        |  SELECT CAST(epoch_us(o_orderdate) // 86400000000 AS BIGINT) AS day,
        |    CAST(count(*) AS BIGINT) AS y
        |  FROM orders WHERE o_orderpriority = '1-URGENT' GROUP BY 1),
        |g AS (SELECT day, y, CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS rk,
        |    CAST(day - lag(day) OVER (ORDER BY day) AS BIGINT) AS gap
        |  FROM d),
        |rec AS (
        |  SELECT rk, day, y, y * 1048576 AS z, CAST(1048576 AS BIGINT) AS p
        |  FROM g WHERE rk = 1
        |  UNION ALL
        |  SELECT g.rk, g.day, g.y,
        |    (g.y * 1048576 + rec.z) // 2 AS z,
        |    (g.gap * 1048576 + rec.p) // 2 AS p
        |  FROM rec JOIN g ON g.rk = rec.rk + 1)
        |SELECT rk, day, y AS demand, z AS z_s, p AS p_s,
        |  CAST((1000000 * z) // p AS BIGINT) AS forecast_ppm
        |FROM rec ORDER BY rk""".stripMargin) { (s, d) =>
      val rows = orders(s, d)
        .where(col("o_orderpriority") === "1-URGENT")
        .groupBy(expr(
          "unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000")
          .as("day"))
        .agg(count(lit(1)).as("y"))
        .orderBy("day")
        .collect() // demand-DAY cardinality (calendar-bounded)
        .map(r => (r.getLong(0), r.getLong(1)))
      var z = rows.head._2 * 1048576L
      var p = 1048576L
      var prevDay = rows.head._1
      val out = rows.zipWithIndex.map { case ((day, y), ix) =>
        if (ix > 0) {
          z = (y * 1048576L + z) / 2
          p = ((day - prevDay) * 1048576L + p) / 2
        }
        prevDay = day
        (ix + 1L, day, y, z, p, (1000000L * z) / p)
      }.toSeq
      import s.implicits._
      out.toDF("rk", "day", "demand", "z_s", "p_s", "forecast_ppm")
        .orderBy("rk")
    },

    // ----- Deterministic bootstrap CI for the daily-event mean -----
    // The nonparametric uncertainty face the closed-form tests (Wilson,
    // χ², SPRT) can't give: a 95% basic-percentile bootstrap on the
    // mean daily event count, with the B×n resample index grid drawn
    // from the sampling family's LCG — reproducible, so both engines
    // materialize the IDENTICAL 400 resample means and pick the same
    // rank-10/rank-390 order statistics (total tiebreak on (mean, b)).
    // Every stage is bounded: the day table is calendar-cardinality,
    // the grid is 400×30, the rank window runs over 400 rows. Means are
    // exact micro floors — no float accumulates anywhere.
    "ab_bootstrap_ci" -> QueryDef.sql(
      """WITH d AS (
        |  SELECT epoch_us(ts) // 86400000000 AS day, CAST(count(*) AS BIGINT) AS y
        |  FROM events GROUP BY 1),
        |ix AS (SELECT day, y, CAST(row_number() OVER (ORDER BY day) AS BIGINT) - 1 AS i,
        |    CAST((SELECT count(*) FROM d) AS BIGINT) AS nd FROM d),
        |grid AS (
        |  SELECT b.b, s.i AS slot FROM
        |    (SELECT CAST(unnest(generate_series(0, 399)) AS BIGINT) AS b) b
        |  CROSS JOIN (SELECT CAST(unnest(generate_series(0, 29)) AS BIGINT) AS i) s),
        |pick AS (
        |  SELECT g.b, ((g.b * 31 + g.slot) * 1103515245 + 12345) % 2147483648 % ix.nd AS pi
        |  FROM grid g CROSS JOIN (SELECT DISTINCT nd FROM ix) ix),
        |res AS (
        |  SELECT p.b, CAST((1000000 * sum(ix.y)) // 30 AS BIGINT) AS mean_micro
        |  FROM pick p JOIN ix ON ix.i = p.pi GROUP BY 1),
        |rk AS (SELECT mean_micro, row_number() OVER (ORDER BY mean_micro, b) AS r FROM res),
        |pt AS (SELECT CAST((1000000 * sum(y)) // count(*) AS BIGINT) AS point_micro,
        |    CAST(count(*) AS BIGINT) AS n_days FROM d)
        |SELECT pt.point_micro, pt.n_days,
        |  (SELECT mean_micro FROM rk WHERE r = 10) AS lo_micro,
        |  (SELECT mean_micro FROM rk WHERE r = 390) AS hi_micro,
        |  CAST(400 AS BIGINT) AS n_resamples
        |FROM pt""".stripMargin) { (s, d) =>
      val us = graft.util.Tables.epochUsFloorSql
      val day = events(s, d)
        .groupBy(expr(s"($us) div 86400000000").as("day"))
        .agg(count(lit(1)).as("y"))
        .localCheckpoint() // calendar-bounded
      // bounded calendar window (the km_survival contract)
      val ix = day
        .withColumn("i",
          row_number().over(Window.orderBy("day")).cast("long") - 1)
        .crossJoin(broadcast(day.agg(count(lit(1)).as("nd"))))
      val grid = s.range(400).select(col("id").as("b"))
        .crossJoin(s.range(30).select(col("id").as("slot")))
      val pick = grid.crossJoin(
          broadcast(ix.select("nd").distinct()))
        .select(col("b"),
          expr("((b * 31 + slot) * 1103515245 + 12345) % 2147483648 % nd")
            .as("pi"))
      val res = pick.join(ix, col("i") === col("pi"))
        .groupBy("b")
        .agg(expr("(1000000 * sum(y)) div 30").as("mean_micro"))
      val rk = res
        .withColumn("r",
          row_number().over(Window.orderBy("mean_micro", "b")).cast("long"))
        .localCheckpoint() // 400 rows
      val pt = day.agg(expr("(1000000 * sum(y)) div count(1)").as("point_micro"),
        count(lit(1)).as("n_days"))
      pt.crossJoin(broadcast(
          rk.where(col("r") === 10).select(col("mean_micro").as("lo_micro"))))
        .crossJoin(broadcast(
          rk.where(col("r") === 390).select(col("mean_micro").as("hi_micro"))))
        .select(col("point_micro"), col("n_days"), col("lo_micro"),
          col("hi_micro"), lit(400L).as("n_resamples"))
    },

    // ----- Isotonic calibration (PAV) of the returns classifier -----
    // The calibration REPAIR beside knn_calibration_ece's diagnosis:
    // fit the monotone-non-decreasing step function mapping line count
    // to return rate. Instead of iterating pool-adjacent-violators, the
    // fit uses the CLOSED-FORM minimax characterization (Ayer et al.
    // 1955; Robertson–Wright–Dykstra's standard identity):
    // ŷ_k = max_{i≤k} min_{j≥k} rate(i..j) over pooled windows — which
    // is PAVA's unique solution with zero iteration, and becomes pure
    // bounded relational algebra here because the score alphabet (order
    // line count, ≤ ~7 values) bounds the window triangle at ~30 rows.
    // Window rates floor to ppm BEFORE the minimax, so both engines
    // run the identical integer lattice (the fit matches exact-rational
    // PAVA to 1 ppm — documented, not hidden). Emitted per bin: raw vs
    // isotonic rate and the pooled flag; bins the raw curve already
    // orders correctly pass through untouched, violations pool — the
    // monotone result is the production calibration table a scorer
    // would range-join against. Scale: one fact join + hash aggregate
    // to the bounded bin table; everything after is alphabet-bounded.
    "calibration_isotonic" -> QueryDef.sql(
      """WITH lab AS (
        |  SELECT o.o_orderkey, CAST(count(*) AS BIGINT) AS score,
        |    CAST(max(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS pos
        |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |  GROUP BY 1),
        |b AS (SELECT score, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(pos) AS BIGINT) AS s
        |  FROM lab GROUP BY 1),
        |pairs AS (
        |  SELECT bi.score AS i, bj.score AS j,
        |    CAST((1000000 * sum(bk.s)) // sum(bk.n) AS BIGINT) AS ppm
        |  FROM b bi JOIN b bj ON bi.score <= bj.score
        |  JOIN b bk ON bk.score BETWEEN bi.score AND bj.score
        |  GROUP BY 1, 2),
        |im AS (
        |  SELECT k.score AS score, p.i, CAST(min(p.ppm) AS BIGINT) AS mn
        |  FROM b k JOIN pairs p ON p.i <= k.score AND p.j >= k.score
        |  GROUP BY 1, 2),
        |fit AS (SELECT score, CAST(max(mn) AS BIGINT) AS iso_ppm FROM im GROUP BY 1)
        |SELECT b.score AS n_lines, b.n AS n_orders, b.s AS n_returned,
        |  CAST((1000000 * b.s) // b.n AS BIGINT) AS raw_ppm,
        |  fit.iso_ppm,
        |  CAST(fit.iso_ppm <> (1000000 * b.s) // b.n AS BIGINT) AS pooled
        |FROM b JOIN fit ON fit.score = b.score
        |ORDER BY n_lines""".stripMargin) { (s, d) =>
      val b = orders(s, d)
        .join(lineitem(s, d), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderkey")
        .agg(count(lit(1)).as("score"),
          max(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("pos"))
        .groupBy("score")
        .agg(count(lit(1)).as("n"), sum("pos").as("s"))
        .localCheckpoint() // alphabet-bounded; feeds triangle + output
      val pairs = b.select(col("score").as("i"))
        .crossJoin(b.select(col("score").as("j")))
        .where(col("i") <= col("j"))
        .join(b.select(col("score").as("k"), col("n").as("nk"),
          col("s").as("sk")), col("k").between(col("i"), col("j")))
        .groupBy("i", "j")
        .agg(expr("(1000000 * sum(sk)) div sum(nk)").as("ppm"))
      val im = b.select(col("score"))
        .join(pairs, col("i") <= col("score") && col("j") >= col("score"))
        .groupBy("score", "i").agg(min("ppm").as("mn"))
      val fit = im.groupBy("score").agg(max("mn").as("iso_ppm"))
      b.join(fit, Seq("score"))
        .select(col("score").as("n_lines"), col("n").as("n_orders"),
          col("s").as("n_returned"),
          expr("(1000000 * s) div n").as("raw_ppm"),
          col("iso_ppm"),
          (col("iso_ppm") =!= expr("(1000000 * s) div n")).cast("long")
            .as("pooled"))
        .orderBy("n_lines")
    },

    // ----- Gains/lift table for the returns classifier -----
    // The business-facing readout of eval_roc_auc's winning feature:
    // rank orders by line count (descending, orderkey tiebreak — a
    // TOTAL order, so decile membership is deterministic), cut into 10
    // exact-arithmetic deciles via ((i−1)·10)//n (no engine-defined
    // NTILE remainders), and report per-decile lift and cumulative
    // gains in ppm. The global rank comes from the two-pass ranged
    // scaffold — no single-task window at order cardinality — and the
    // decile/cumulative stage runs on 10 rows. Top decile lifts 1.27×,
    // bottom 0.50×: the curve a targeting budget is allocated from.
    "eval_gains_deciles" -> QueryDef.sql(
      """WITH lab AS (
        |  SELECT o.o_orderkey,
        |    CAST(max(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS pos,
        |    CAST(count(*) AS BIGINT) AS score
        |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |  GROUP BY 1),
        |r AS (
        |  SELECT pos,
        |    CAST(row_number() OVER (ORDER BY score DESC, o_orderkey)
        |      AS BIGINT) AS i,
        |    CAST(count(*) OVER () AS BIGINT) AS n,
        |    CAST(sum(pos) OVER () AS BIGINT) AS np
        |  FROM lab),
        |d AS (
        |  SELECT ((i - 1) * 10) // n AS decile,
        |    CAST(count(*) AS BIGINT) AS n_orders,
        |    CAST(sum(pos) AS BIGINT) AS pos_d,
        |    min(n) AS n, min(np) AS np
        |  FROM r GROUP BY 1),
        |c AS (
        |  SELECT decile, n_orders, pos_d, n, np,
        |    CAST(sum(pos_d) OVER (ORDER BY decile) AS BIGINT) AS cum_pos
        |  FROM d)
        |SELECT decile, n_orders, pos_d, cum_pos,
        |  CAST((CAST(1000000 AS HUGEINT) * pos_d * n)
        |    // (CAST(n_orders AS HUGEINT) * np) AS BIGINT) AS lift_ppm,
        |  CAST((1000000 * cum_pos) // np AS BIGINT) AS cum_gain_ppm
        |FROM c ORDER BY decile""".stripMargin) { (s, d) =>
      val lab = orders(s, d)
        .join(lineitem(s, d), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderkey")
        .agg(
          max(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("pos"),
          count(lit(1)).as("score"))
      val (ranked, total) = graft.util.Scale.globalRowNumber(
        lab, Seq(col("score").desc, col("o_orderkey")), "i")
      val np = ranked.agg(sum("pos").as("np"))
      val dd = ranked
        .groupBy((((col("i") - 1) * 10) / lit(total)).cast("long").as("decile"))
        .agg(count(lit(1)).as("n_orders"), sum("pos").as("pos_d"))
      val w = Window.orderBy("decile") // 10 rows
      dd.crossJoin(broadcast(np))
        .withColumn("cum_pos", sum("pos_d").over(w))
        .select(col("decile"), col("n_orders"), col("pos_d"), col("cum_pos"),
          expr(s"""CAST((CAST(1000000 AS DECIMAL(38,0)) * pos_d * ${total}L)
                  |  div (CAST(n_orders AS DECIMAL(38,0)) * np)
                  |  AS BIGINT)""".stripMargin).as("lift_ppm"),
          expr("CAST((1000000 * cum_pos) div np AS BIGINT)")
            .as("cum_gain_ppm"))
        .orderBy("decile")
    },

    // ----- Exact-discipline average precision (PR-AUC) -----
    // The precision-recall complement to eval_roc_auc, made hash-exact
    // the same way nDCG was: each positive at global rank k contributes
    // precision@k = cum_pos/k, floored ONCE per row at 10¹² scale —
    // integer division in both engines — so the sum is a deterministic
    // BIGINT, not a float whose summation order differs. The total
    // ranking order (score desc, orderkey) makes every k well-defined;
    // rank and running positive count both come from one ranged
    // repartition with two broadcast offset maps (count and
    // positive-weight prefixes from the same per-partition totals pass)
    // — no global window. ap_ppm = 875k vs AUC's 730k: the gap is the
    // class-imbalance information PR adds.
    "eval_pr_auc" -> QueryDef.sql(
      """WITH lab AS (
        |  SELECT o.o_orderkey,
        |    CAST(max(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS pos,
        |    CAST(count(*) AS BIGINT) AS score
        |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |  GROUP BY 1),
        |r AS (
        |  SELECT pos,
        |    CAST(row_number() OVER (ORDER BY score DESC, o_orderkey)
        |      AS BIGINT) AS k,
        |    CAST(sum(pos) OVER (ORDER BY score DESC, o_orderkey)
        |      AS BIGINT) AS cum_pos
        |  FROM lab)
        |SELECT CAST(count(*) AS BIGINT) AS n_pos,
        |  CAST(sum((1000000000000 * cum_pos) // k) AS BIGINT) AS ap_e12_sum,
        |  CAST(CAST(sum((1000000000000 * cum_pos) // k) AS HUGEINT)
        |    // (CAST(count(*) AS HUGEINT) * 1000000) AS BIGINT) AS ap_ppm
        |FROM r WHERE pos = 1""".stripMargin) { (s, d) =>
      val lab = orders(s, d)
        .join(lineitem(s, d), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderkey")
        .agg(
          max(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("pos"),
          count(lit(1)).as("score"))
      // one ranged pass, two exclusive-prefix maps (row count + positives)
      val parts = s.sparkContext.defaultParallelism
      val sort = Seq(col("score").desc, col("o_orderkey").asc)
      val ranged = lab.repartitionByRange(parts, sort: _*)
        .withColumn("_pid", spark_partition_id())
        .localCheckpoint(eager = false)
      val tots = ranged.groupBy("_pid")
        .agg(count(lit(1)).as("_c"), coalesce(sum("pos"), lit(0L)).as("_p"))
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._1)
      var (ac, ap) = (0L, 0L)
      val cOff = scala.collection.mutable.Map.empty[Int, Long]
      val pOff = scala.collection.mutable.Map.empty[Int, Long]
      tots.foreach { case (pid, c, p) =>
        cOff(pid) = ac; pOff(pid) = ap; ac += c; ap += p
      }
      val w = Window.partitionBy("_pid").orderBy(sort: _*)
      ranged
        .withColumn("k", row_number().over(w).cast("long") +
          coalesce(element_at(typedlit(cOff.toMap), col("_pid")), lit(0L)))
        .withColumn("cum_pos", sum("pos").over(w) +
          coalesce(element_at(typedlit(pOff.toMap), col("_pid")), lit(0L)))
        .filter(col("pos") === 1L)
        .agg(count(lit(1)).as("n_pos"),
          sum(expr("(1000000000000 * cum_pos) div k")).as("ap_e12_sum"))
        .select(col("n_pos"), col("ap_e12_sum"),
          expr("""CAST(CAST(ap_e12_sum AS DECIMAL(38,0))
                 |  div (CAST(n_pos AS DECIMAL(38,0)) * 1000000)
                 |  AS BIGINT)""".stripMargin).as("ap_ppm"))
    },

    // ----- Two-sample Kolmogorov–Smirnov over all source pairs -----
    // The distribution-drift test source_length_drift's PSI bins can't
    // give: the exact KS statistic D = max_t |F_a(t) − F_b(t)| for every
    // source pair, cross-multiplied so no ECDF division ever happens —
    // d_num = max |cum_a·n_b − cum_b·n_a| is an exact BIGINT and d_ppm
    // its one floor division. The ECDFs live on the shared grid of
    // DISTINCT n_chars values (the length alphabet — bounded by document
    // size, never corpus cardinality), cumulated per source in parallel
    // partitions; the pair join is (sources² × alphabet), both factors
    // bounded. at_value (the earliest argmax) localizes WHERE the two
    // distributions part. Totals ride in by broadcast.
    "drift_ks_test" -> QueryDef.sql(
      """WITH cnts AS (
        |  SELECT source, n_chars AS v, CAST(count(*) AS BIGINT) AS c
        |  FROM documents GROUP BY 1, 2),
        |tot AS (SELECT source, CAST(sum(c) AS BIGINT) AS n FROM cnts GROUP BY 1),
        |grid AS (SELECT DISTINCT v FROM cnts),
        |srcs AS (SELECT DISTINCT source FROM cnts),
        |cum AS (
        |  SELECT s.source, g.v,
        |    CAST(sum(coalesce(c.c, 0)) OVER (PARTITION BY s.source ORDER BY g.v)
        |      AS BIGINT) AS cum
        |  FROM srcs s CROSS JOIN grid g
        |  LEFT JOIN cnts c ON c.source = s.source AND c.v = g.v),
        |pairs AS (
        |  SELECT a.source AS source_a, b.source AS source_b, a.v,
        |    abs(a.cum * tb.n - b.cum * ta.n) AS d_num, ta.n AS n_a, tb.n AS n_b
        |  FROM cum a JOIN cum b ON a.v = b.v AND a.source < b.source
        |  JOIN tot ta ON ta.source = a.source
        |  JOIN tot tb ON tb.source = b.source),
        |mx AS (
        |  SELECT source_a, source_b, n_a, n_b,
        |    max(d_num) AS d_num,
        |    min(CASE WHEN d_num = max_d THEN v END) AS at_value
        |  FROM (SELECT *, max(d_num) OVER (PARTITION BY source_a, source_b)
        |          AS max_d FROM pairs)
        |  GROUP BY 1, 2, 3, 4)
        |SELECT source_a, source_b, n_a, n_b, d_num,
        |  CAST((1000000 * d_num) // (n_a * n_b) AS BIGINT) AS d_ppm, at_value
        |FROM mx ORDER BY source_a, source_b""".stripMargin) { (s, d) =>
      val cnts = documents(s, d)
        .groupBy(col("source"), col("n_chars").as("v"))
        .agg(count(lit(1)).as("c"))
        .localCheckpoint() // grid/srcs/tot/cum all read this one fold
      val tot = cnts.groupBy("source").agg(sum("c").as("n"))
      val grid = cnts.select("v").distinct()
      val srcs = cnts.select("source").distinct()
      val w = Window.partitionBy("source").orderBy("v")
      val cum = srcs.crossJoin(grid)
        .join(cnts, Seq("source", "v"), "left")
        .select(col("source"), col("v"), coalesce(col("c"), lit(0L)).as("c"))
        .withColumn("cum", sum("c").over(w))
        .select("source", "v", "cum")
      val a = cum.toDF("source_a", "v", "cum_a")
      val b = cum.toDF("source_b", "v", "cum_b")
      val pairs = a.join(b, Seq("v"))
        .filter(col("source_a") < col("source_b"))
        .join(broadcast(tot.toDF("source_a", "n_a")), Seq("source_a"))
        .join(broadcast(tot.toDF("source_b", "n_b")), Seq("source_b"))
        .select(col("source_a"), col("source_b"), col("n_a"), col("n_b"),
          col("v"),
          abs(col("cum_a") * col("n_b") - col("cum_b") * col("n_a"))
            .as("d_num"))
      val wm = Window.partitionBy("source_a", "source_b")
      pairs.withColumn("max_d", max("d_num").over(wm))
        .groupBy("source_a", "source_b", "n_a", "n_b")
        .agg(max("d_num").as("d_num"),
          min(when(col("d_num") === col("max_d"), col("v"))).as("at_value"))
        .select(col("source_a"), col("source_b"), col("n_a"), col("n_b"),
          col("d_num"),
          expr("CAST((1000000 * d_num) div (n_a * n_b) AS BIGINT)")
            .as("d_ppm"),
          col("at_value"))
        .orderBy("source_a", "source_b")
    },

    // ----- Holt's linear exponential smoothing, hash-exact -----
    // The level+trend forecaster between the seasonal-naive baseline
    // (forecast_seasonal_baseline) and anything stateful: α = β = ½, so
    // every update is one add and one halving. State is 2^20 fixed-point
    // BIGINT and each halving is integer division — truncation toward
    // zero in BOTH engines (verified in Tables.epochUsFloorSql's note),
    // so the recursion is bit-identical with signed trends. The corpus
    // collapses to the bounded daily-count table in one hash agg; the
    // inherently sequential fold runs on calendar-cardinality rows on
    // the driver (the km_survival_curve precedent), while DuckDB walks
    // the same recurrence as a recursive CTE. err_s is the one-step-ahead
    // residual (y·S − (l+b) BEFORE the update) — the honest accuracy
    // ledger — and the 7 forecast rows extrapolate the final state.
    "ts_holt_winters" -> QueryDef.sql(
      """WITH RECURSIVE d AS (
        |  SELECT epoch_us(ts) // 86400000000 AS day,
        |    CAST(count(*) AS BIGINT) AS y
        |  FROM events GROUP BY 1),
        |g AS (
        |  SELECT day, y, CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS rk
        |  FROM d),
        |rec AS (
        |  SELECT rk, day, y, y * 1048576 AS level_s, CAST(0 AS BIGINT) AS trend_s,
        |    CAST(NULL AS BIGINT) AS err_s
        |  FROM g WHERE rk = 1
        |  UNION ALL
        |  SELECT g.rk, g.day, g.y,
        |    (g.y * 1048576 + rec.level_s + rec.trend_s) // 2,
        |    (((g.y * 1048576 + rec.level_s + rec.trend_s) // 2 - rec.level_s)
        |      + rec.trend_s) // 2,
        |    g.y * 1048576 - (rec.level_s + rec.trend_s)
        |  FROM rec JOIN g ON g.rk = rec.rk + 1),
        |lastr AS (SELECT * FROM rec ORDER BY rk DESC LIMIT 1),
        |fc AS (
        |  SELECT 'forecast' AS role, lastr.day + h.h AS day,
        |    CAST(NULL AS BIGINT) AS y, CAST(NULL AS BIGINT) AS level_s,
        |    CAST(NULL AS BIGINT) AS trend_s, CAST(NULL AS BIGINT) AS err_s,
        |    lastr.level_s + h.h * lastr.trend_s AS forecast_s
        |  FROM lastr CROSS JOIN
        |    (SELECT CAST(unnest(generate_series(1, 7)) AS BIGINT) AS h) h)
        |SELECT 'fit' AS role, day, y, level_s, trend_s, err_s,
        |  level_s + trend_s AS forecast_s FROM rec
        |UNION ALL SELECT * FROM fc
        |ORDER BY day""".stripMargin) { (s, d) =>
      val us = graft.util.Tables.epochUsFloorSql
      val daily = events(s, d)
        .select(expr(s"($us) div 86400000000").as("day"))
        .groupBy("day").agg(count(lit(1)).as("y"))
        .orderBy("day")
        .collect() // bounded: one row per calendar day
      val S = 1048576L
      val out = scala.collection.mutable.ArrayBuffer
        .empty[(String, Long, Option[Long], Option[Long], Option[Long], Option[Long], Long)]
      var l = daily.head.getLong(1) * S
      var b = 0L
      out += (("fit", daily.head.getLong(0), Some(daily.head.getLong(1)),
        Some(l), Some(0L), None, l + 0L))
      daily.drop(1).foreach { r =>
        val (day, y) = (r.getLong(0), r.getLong(1))
        val p = l + b
        val err = y * S - p
        val nl = (y * S + p) / 2 // Long / truncates toward zero = DuckDB //
        b = ((nl - l) + b) / 2
        l = nl
        out += (("fit", day, Some(y), Some(l), Some(b), Some(err), l + b))
      }
      val lastDay = daily.last.getLong(0)
      (1L to 7L).foreach { h =>
        out += (("forecast", lastDay + h, None, None, None, None, l + h * b))
      }
      import s.implicits._
      out.toSeq
        .toDF("role", "day", "y", "level_s", "trend_s", "err_s", "forecast_s")
        .orderBy("day")
    },

    // ----- Holt–Winters with additive weekly seasonality -----
    // The seasonal completion of ts_holt_winters: α=β=γ=½ keeps every
    // update one add and one halving, state is (level, trend, 7
    // seasonal slots) in 2^20 fixed point, and only the active slot
    // updates per day — so the recursion stays bit-identical between
    // the bounded driver fold and DuckDB's recursive CTE carrying
    // s0..s6 as columns. Simple zero-init seasonals (no warm-up season
    // subtracted — documented variant); err_s is the pre-update
    // one-step residual against level+trend+season, and fit rows carry
    // the POST-update next-day forecast like the non-seasonal twin.
    "ts_holt_winters_seasonal" -> QueryDef.sql(HwSeasonalSql) { (s, d) =>
      val us = graft.util.Tables.epochUsFloorSql
      val daily = events(s, d)
        .select(expr(s"($us) div 86400000000").as("day"))
        .groupBy("day").agg(count(lit(1)).as("y"))
        .orderBy("day")
        .collect() // bounded: one row per calendar day
      val S = 1048576L
      val ys = daily.map(_.getLong(1))
      val days = daily.map(_.getLong(0))
      var l = ys.head * S
      var b = 0L
      val se = Array.fill(7)(0L)
      val out = scala.collection.mutable.ArrayBuffer
        .empty[(String, Long, Option[Long], Option[Long], Option[Long], Option[Long], Option[Long], Long)]
      out += (("fit", days.head, Some(ys.head), Some(l), Some(0L), Some(0L),
        None, l + b + se(1 % 7)))
      (1 until ys.length).foreach { i =>
        val rk = i + 1
        val j = ((rk - 1) % 7).toInt
        val y = ys(i)
        val err = y * S - (l + b + se(j))
        val nl = (y * S - se(j) + l + b) / 2 // Long / == DuckDB // trunc
        b = ((nl - l) + b) / 2
        se(j) = ((y * S - nl) + se(j)) / 2
        l = nl
        out += (("fit", days(i), Some(y), Some(l), Some(b), Some(se(j)),
          Some(err), l + b + se(rk % 7)))
      }
      val nrk = ys.length.toLong
      (1L to 7L).foreach { h =>
        out += (("forecast", days.last + h, None, None, None, None, None,
          l + h * b + se(((nrk - 1 + h) % 7).toInt)))
      }
      import s.implicits._
      out.toSeq.toDF("role", "day", "y", "level_s", "trend_s", "season_s",
          "err_s", "forecast_s")
        .orderBy("day")
    },

    // ----- Classical additive seasonal decomposition (x7-scaled) -----
    // STL's moving-average ancestor, exact: trend is the CENTERED 7-day
    // sum (trend·7 — multiplying through by 7 removes the division),
    // the detrended series is 7y − t7, the day-of-week seasonal is the
    // truncating per-dow mean of the detrended values (one // — same
    // trunc-toward-zero in both engines, negatives included), and the
    // residual closes the identity det_x7 = seas_x7 + resid_x7 row by
    // row. Only full-window days emit (rk ∈ [4, n−3]) — no edge
    // padding pretending to be data. Corpus → bounded day grid first.
    "ts_seasonal_decompose" -> QueryDef.sql(
      """WITH d AS (
        |  SELECT epoch_us(ts) // 86400000000 AS day,
        |    CAST(count(*) AS BIGINT) AS y
        |  FROM events GROUP BY 1),
        |g AS (
        |  SELECT day, y, CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS rk,
        |    CAST(count(*) OVER () AS BIGINT) AS n,
        |    CAST(sum(y) OVER (ORDER BY day
        |      ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS BIGINT) AS t7
        |  FROM d),
        |f AS (
        |  SELECT day, y, t7, day % 7 AS dow, 7 * y - t7 AS det_x7
        |  FROM g WHERE rk >= 4 AND rk <= n - 3),
        |se AS (
        |  SELECT dow, CAST(sum(det_x7) AS BIGINT) AS sd,
        |    CAST(count(*) AS BIGINT) AS nd
        |  FROM f GROUP BY 1),
        |sf AS (SELECT dow, sd // nd AS seas_x7 FROM se)
        |SELECT f.day, f.y, f.t7 AS trend_x7, f.dow, sf.seas_x7,
        |  f.det_x7 - sf.seas_x7 AS resid_x7
        |FROM f JOIN sf ON sf.dow = f.dow ORDER BY f.day""".stripMargin) { (s, d) =>
      val us = graft.util.Tables.epochUsFloorSql
      val dd = events(s, d)
        .select(expr(s"($us) div 86400000000").as("day"))
        .groupBy("day").agg(count(lit(1)).as("y"))
      val w = Window.orderBy("day") // bounded calendar rows
      val g = dd.select(col("day"), col("y"),
        row_number().over(w).cast("long").as("rk"),
        count(lit(1)).over(Window.partitionBy(lit(1))).as("n"),
        sum("y").over(w.rowsBetween(-3, 3)).as("t7"))
      val f = g.filter(col("rk") >= 4 && col("rk") <= col("n") - 3)
        .select(col("day"), col("y"), col("t7"),
          (col("day") % 7).as("dow"),
          (lit(7L) * col("y") - col("t7")).as("det_x7"))
        .localCheckpoint() // dow means + the final join share it
      val sf = f.groupBy("dow")
        .agg(sum("det_x7").as("sd"), count(lit(1)).as("nd"))
        .select(col("dow"), expr("sd div nd").as("seas_x7"))
      f.join(broadcast(sf), Seq("dow"))
        .select(col("day"), col("y"), col("t7").as("trend_x7"), col("dow"),
          col("seas_x7"), (col("det_x7") - col("seas_x7")).as("resid_x7"))
        .orderBy("day")
    },

    // ----- seasonal/trend STRENGTH of the daily series -----
    // The one-number summary of ts_seasonal_decompose (Hyndman's STL
    // strength measures): F_seasonal = max(0, 1 − Var(R)/Var(S+R)) and
    // F_trend = max(0, 1 − Var(R)/Var(T+R)) — how much of the
    // non-trend (resp. non-seasonal) variation the seasonal (trend)
    // component explains, the scalar that justifies (or retires) the
    // per-dow forecast baseline without eyeballing the decomposition.
    // Components are EXACTLY the decompose query's (×7-scaled centered
    // MA trend, per-dow floored means, full-window days only);
    // variances are n-scaled integers (n·Σv² − (Σv)², the comovement
    // discipline), DECIMAL-widened because ×7 daily counts squared
    // pass BIGINT at 100 TB; the ratios land in ppm with one div each.
    "ts_stl_strength" -> QueryDef.sql(
      """WITH d AS (
        |  SELECT epoch_us(ts) // 86400000000 AS day,
        |    CAST(count(*) AS BIGINT) AS y
        |  FROM events GROUP BY 1),
        |g AS (
        |  SELECT day, y, CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS rk,
        |    CAST(count(*) OVER () AS BIGINT) AS n,
        |    CAST(sum(y) OVER (ORDER BY day
        |      ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS BIGINT) AS t7
        |  FROM d),
        |f AS (
        |  SELECT day, y, t7, day % 7 AS dow, 7 * y - t7 AS det_x7
        |  FROM g WHERE rk >= 4 AND rk <= n - 3),
        |se AS (SELECT dow, CAST(sum(det_x7) AS BIGINT) AS sd,
        |         CAST(count(*) AS BIGINT) AS nd
        |       FROM f GROUP BY 1),
        |sf AS (SELECT dow, sd // nd AS seas_x7 FROM se),
        |r AS (
        |  SELECT f.det_x7, f.det_x7 - sf.seas_x7 AS resid,
        |    f.t7 + (f.det_x7 - sf.seas_x7) AS deseas
        |  FROM f JOIN sf ON sf.dow = f.dow),
        |v AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    sum(CAST(resid AS HUGEINT) * resid) AS srr, sum(CAST(resid AS HUGEINT)) AS sr,
        |    sum(CAST(det_x7 AS HUGEINT) * det_x7) AS sdd, sum(CAST(det_x7 AS HUGEINT)) AS sd,
        |    sum(CAST(deseas AS HUGEINT) * deseas) AS stt, sum(CAST(deseas AS HUGEINT)) AS st
        |  FROM r)
        |SELECT n AS n_days,
        |  CASE WHEN n * sdd - sd * sd > 0 THEN
        |    greatest(0, 1000000 - CAST((1000000 * (n * srr - sr * sr))
        |      // (n * sdd - sd * sd) AS BIGINT))
        |  ELSE NULL END AS f_seasonal_ppm,
        |  CASE WHEN n * stt - st * st > 0 THEN
        |    greatest(0, 1000000 - CAST((1000000 * (n * srr - sr * sr))
        |      // (n * stt - st * st) AS BIGINT))
        |  ELSE NULL END AS f_trend_ppm
        |FROM v""".stripMargin) { (s, d) =>
      val us = graft.util.Tables.epochUsFloorSql
      val dd = events(s, d)
        .select(expr(s"($us) div 86400000000").as("day"))
        .groupBy("day").agg(count(lit(1)).as("y"))
      val w = Window.orderBy("day") // bounded calendar rows
      val g = dd.select(col("day"), col("y"),
        row_number().over(w).cast("long").as("rk"),
        count(lit(1)).over(Window.partitionBy(lit(1))).as("n"),
        sum("y").over(w.rowsBetween(-3, 3)).as("t7"))
      val f = g.filter(col("rk") >= 4 && col("rk") <= col("n") - 3)
        .select(col("day"), col("t7"), (col("day") % 7).as("dow"),
          (lit(7L) * col("y") - col("t7")).as("det_x7"))
        .localCheckpoint()
      val sf = f.groupBy("dow")
        .agg(sum("det_x7").as("sd"), count(lit(1)).as("nd"))
        .select(col("dow"), expr("sd div nd").as("seas_x7"))
      val r = f.join(broadcast(sf), Seq("dow"))
        .select(col("det_x7"), (col("det_x7") - col("seas_x7")).as("resid"),
          (col("t7") + col("det_x7") - col("seas_x7")).as("deseas"))
      val v = r.agg(count(lit(1)).as("n"),
        sum(expr("CAST(resid AS DECIMAL(38,0)) * resid")).as("srr"),
        sum(expr("CAST(resid AS DECIMAL(38,0))")).as("sr"),
        sum(expr("CAST(det_x7 AS DECIMAL(38,0)) * det_x7")).as("sdd"),
        sum(expr("CAST(det_x7 AS DECIMAL(38,0))")).as("sd"),
        sum(expr("CAST(deseas AS DECIMAL(38,0)) * deseas")).as("stt"),
        sum(expr("CAST(deseas AS DECIMAL(38,0))")).as("st"))
      v.select(col("n").as("n_days"),
        expr("""CASE WHEN n * sdd - sd * sd > 0 THEN
               |  greatest(0L, 1000000L - CAST((1000000 * (n * srr - sr * sr))
               |    div (n * sdd - sd * sd) AS BIGINT))
               |ELSE NULL END""".stripMargin).as("f_seasonal_ppm"),
        expr("""CASE WHEN n * stt - st * st > 0 THEN
               |  greatest(0L, 1000000L - CAST((1000000 * (n * srr - sr * sr))
               |    div (n * stt - st * st) AS BIGINT))
               |ELSE NULL END""".stripMargin).as("f_trend_ppm"))
    },

    // ----- damped-trend Holt: the smoothing family's closer -----
    // Gardner–McKenzie damping (φ = ¾, exactly 3·b // 4 in the 2^20
    // fixed point — one multiply and one truncating division, identical
    // on both engines): an undamped linear trend extrapolates forever
    // and overshoots any horizon past a few steps, so production
    // forecasters damp it — the h-step forecast adds φ+φ²+…+φʰ trend
    // increments and flattens toward a finite asymptote. Same
    // α = β = ½ dyadic recursion, driver fold = recursive CTE
    // bit-for-bit (the ts_holt_winters contract); the forecast rows
    // carry their own 7-step damped accumulation (a second tiny
    // recursion); err_s is the one-step residual against the DAMPED
    // prediction. Reading ts_holt_winters beside this query shows the
    // deployment difference at h = 7: linear keeps climbing, damped
    // saturates.
    "forecast_ets_damped" -> QueryDef.sql(
      """WITH RECURSIVE d AS (
        |  SELECT epoch_us(ts) // 86400000000 AS day,
        |    CAST(count(*) AS BIGINT) AS y
        |  FROM events GROUP BY 1),
        |g AS (
        |  SELECT day, y, CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS rk
        |  FROM d),
        |rec AS (
        |  SELECT rk, day, y, y * 1048576 AS level_s, CAST(0 AS BIGINT) AS trend_s,
        |    CAST(NULL AS BIGINT) AS err_s
        |  FROM g WHERE rk = 1
        |  UNION ALL
        |  SELECT g.rk, g.day, g.y,
        |    (g.y * 1048576 + rec.level_s + (3 * rec.trend_s) // 4) // 2,
        |    (((g.y * 1048576 + rec.level_s + (3 * rec.trend_s) // 4) // 2 - rec.level_s)
        |      + (3 * rec.trend_s) // 4) // 2,
        |    g.y * 1048576 - (rec.level_s + (3 * rec.trend_s) // 4)
        |  FROM rec JOIN g ON g.rk = rec.rk + 1),
        |lastr AS (SELECT * FROM rec ORDER BY rk DESC LIMIT 1),
        |fcr AS (
        |  SELECT CAST(1 AS BIGINT) AS h, lastr.day + 1 AS day,
        |    (3 * lastr.trend_s) // 4 AS bh,
        |    lastr.level_s + (3 * lastr.trend_s) // 4 AS f
        |  FROM lastr
        |  UNION ALL
        |  SELECT h + 1, day + 1, (3 * bh) // 4, f + (3 * bh) // 4
        |  FROM fcr WHERE h < 7)
        |SELECT 'fit' AS role, day, y, level_s, trend_s, err_s,
        |  level_s + (3 * trend_s) // 4 AS forecast_s FROM rec
        |UNION ALL
        |SELECT 'forecast', day, CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
        |  CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), f FROM fcr
        |ORDER BY day""".stripMargin) { (s, d) =>
      val us = graft.util.Tables.epochUsFloorSql
      val daily = events(s, d)
        .select(expr(s"($us) div 86400000000").as("day"))
        .groupBy("day").agg(count(lit(1)).as("y"))
        .orderBy("day")
        .collect() // bounded: one row per calendar day
      val S = 1048576L
      def damp(b: Long): Long = (3 * b) / 4 // Long / truncates = DuckDB //
      val out = scala.collection.mutable.ArrayBuffer
        .empty[(String, Long, Option[Long], Option[Long], Option[Long], Option[Long], Long)]
      var l = daily.head.getLong(1) * S
      var b = 0L
      out += (("fit", daily.head.getLong(0), Some(daily.head.getLong(1)),
        Some(l), Some(0L), None, l + damp(0L)))
      daily.drop(1).foreach { r =>
        val (day, y) = (r.getLong(0), r.getLong(1))
        val p = l + damp(b)
        val err = y * S - p
        val nl = (y * S + p) / 2
        b = ((nl - l) + damp(b)) / 2
        l = nl
        out += (("fit", day, Some(y), Some(l), Some(b), Some(err), l + damp(b)))
      }
      val lastDay = daily.last.getLong(0)
      var bh = damp(b)
      var f = l + bh
      out += (("forecast", lastDay + 1, None, None, None, None, f))
      (2L to 7L).foreach { h =>
        bh = damp(bh); f += bh
        out += (("forecast", lastDay + h, None, None, None, None, f))
      }
      import s.implicits._
      out.toSeq
        .toDF("role", "day", "y", "level_s", "trend_s", "err_s", "forecast_s")
        .orderBy("day")
    },

    // ----- content-integrity manifest per source partition -----
    // The tamper-evidence artifact a curated release ships beside the
    // dataset card: per source, an order-free 61-bit content checksum
    // (the sum over documents of md5-head60(doc_id ‖ text), reduced
    // mod 2^61 — commutative, so partition order and parallelism can
    // never change it) plus the row count and byte totals. Re-running
    // the manifest after any copy/compaction/migration and diffing it
    // is the cheapest whole-corpus equality check that exists — one
    // stateless hash projection and one map-side-combinable aggregate;
    // no shuffle wider than the source taxonomy. A checksum, not a
    // MAC: it detects corruption and accidental mutation, and the
    // scaladoc says so rather than implying cryptographic tamper
    // resistance.
    "dq_integrity_manifest" -> QueryDef.sql(
      """WITH h AS (
        |  SELECT source,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || coalesce(text, '')), 1, 15))::BIGINT AS h60,
        |    coalesce(length(text), 0) AS nb
        |  FROM documents WHERE source IS NOT NULL)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(nb) AS BIGINT) AS n_chars,
        |  CAST(CAST(sum(CAST(h60 AS HUGEINT)) AS HUGEINT) % 2305843009213693952 AS BIGINT)
        |    AS checksum61
        |FROM h GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
      documents(s, d).filter(col("source").isNotNull)
        .select(col("source"),
          expr("md5_head60(concat(CAST(doc_id AS STRING), ':', coalesce(text, '')))")
            .as("h60"),
          expr("coalesce(length(text), 0L)").as("nb"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("nb").cast("long").as("n_chars"),
          expr("CAST(sum(CAST(h60 AS DECIMAL(38,0))) % 2305843009213693952 AS BIGINT)")
            .as("checksum61"))
        .orderBy("source")
    },

    // ----- jackknife standard error of the return rate -----
    // The second resampling face beside ab_bootstrap_ci, with the
    // opposite tradeoff: delete-one-STRATUM jackknife needs exactly g
    // (= customer nations, bounded) recomputations instead of 400
    // resamples, and every one is closed-form here — the leave-nation-
    // out rate is (A − aᵢ)/(N − nᵢ) straight from the per-stratum
    // counts, exact ppm. SE = sqrt((g−1)/g · Σ(θᵢ − θ̄)²) through the
    // IEEE-sqrt chain (the jackknife mean θ̄ enters ONCE-floored in
    // ppm, so the deviations are pure BIGINT). The min/max
    // leave-one-out rates ride as the influence diagnostic: which
    // single nation moves the global rate most.
    "stats_jackknife_se" -> QueryDef.sql(
      """WITH lab AS (
        |  SELECT o.o_orderkey, c.c_nationkey,
        |    CAST(max(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS pos
        |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |  JOIN customer c ON c.c_custkey = o.o_custkey
        |  GROUP BY 1, 2),
        |st AS (SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(pos) AS BIGINT) AS a
        |       FROM lab GROUP BY 1),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS nn, CAST(sum(a) AS BIGINT) AS aa,
        |        CAST(count(*) AS BIGINT) AS g FROM st),
        |loo AS (
        |  SELECT st.c_nationkey,
        |    CAST((1000000 * (t.aa - st.a)) // (t.nn - st.n) AS BIGINT) AS theta_ppm
        |  FROM st CROSS JOIN t),
        |jm AS (SELECT CAST(sum(theta_ppm) // count(*) AS BIGINT) AS jbar FROM loo),
        |sq AS (
        |  SELECT CAST(sum((theta_ppm - jm.jbar) * (theta_ppm - jm.jbar)) AS BIGINT) AS ss,
        |    min(theta_ppm) AS loo_min_ppm, max(theta_ppm) AS loo_max_ppm
        |  FROM loo CROSS JOIN jm)
        |SELECT t.g, CAST((1000000 * t.aa) // t.nn AS BIGINT) AS theta_ppm,
        |  sq.loo_min_ppm, sq.loo_max_ppm,
        |  CAST(floor(sqrt(CAST(t.g - 1 AS DOUBLE) * sq.ss / t.g)) AS BIGINT)
        |    AS se_jackknife_ppm
        |FROM t CROSS JOIN sq""".stripMargin) { (s, d) =>
      val lab = orders(s, d)
        .join(lineitem(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(customer(s, d)), col("c_custkey") === col("o_custkey"))
        .groupBy("o_orderkey", "c_nationkey")
        .agg(expr("CAST(max(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT)")
          .as("pos"))
      val st = lab.groupBy("c_nationkey")
        .agg(count(lit(1)).as("n"), sum("pos").cast("long").as("a"))
        .localCheckpoint() // ≤25 rows; feeds the total and the LOO fold
      val t = st.agg(sum("n").cast("long").as("nn"), sum("a").cast("long").as("aa"),
        count(lit(1)).as("g"))
      val loo = st.crossJoin(broadcast(t))
        .select(col("c_nationkey"),
          expr("CAST((1000000 * (aa - a)) div (nn - n) AS BIGINT)").as("theta_ppm"))
      val jm = loo.agg(expr("CAST(sum(theta_ppm) div count(*) AS BIGINT)").as("jbar"))
      val sq = loo.crossJoin(broadcast(jm))
        .agg(sum(expr("(theta_ppm - jbar) * (theta_ppm - jbar)")).cast("long").as("ss"),
          min("theta_ppm").as("loo_min_ppm"), max("theta_ppm").as("loo_max_ppm"))
      t.crossJoin(sq)
        .select(col("g"),
          expr("CAST((1000000 * aa) div nn AS BIGINT)").as("theta_ppm"),
          col("loo_min_ppm"), col("loo_max_ppm"),
          expr("CAST(floor(sqrt(CAST(g - 1 AS DOUBLE) * ss / g)) AS BIGINT)")
            .as("se_jackknife_ppm"))
    },

    // ----- Log-log price elasticity of demand (OLS) -----
    // The economics classic: elasticity = d ln(qty)/d ln(price),
    // estimated as the OLS slope over PART-grain points — aggregation
    // first makes the ln table bounded (one round(,6) micro-log pair
    // per part, never per line), then the slope is the cross-multiplied
    // integer form shared with ts_theilsen_trend. avg_price follows the
    // kmeans IEEE chain (exact DECIMAL sum → one double divide) so both
    // engines feed ln identical doubles. The measured −0.17 says
    // quantity barely responds to price in this fixture — TPC-H draws
    // them independently, and the estimator is allowed to discover
    // that.
    "price_elasticity_ols" -> QueryDef.sql(
      """WITH pp AS (
        |  SELECT l_partkey,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)
        |      / CAST(count(*) AS DOUBLE) AS avg_price,
        |    CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS qty
        |  FROM lineitem GROUP BY 1),
        |xy AS (
        |  SELECT l_partkey,
        |    CAST(round(1000000 * round(ln(avg_price), 6)) AS BIGINT) AS x,
        |    CAST(round(1000000 * round(ln(CAST(qty AS DOUBLE)), 6)) AS BIGINT) AS y
        |  FROM pp WHERE qty > 0),
        |agg AS (
        |  SELECT CAST(count(*) AS BIGINT) AS k,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
        |    CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx
        |  FROM xy)
        |SELECT k AS n_parts,
        |  CAST((1000000 * (k * sxy - CAST(sx AS HUGEINT) * sy))
        |    // (k * sxx - CAST(sx AS HUGEINT) * sx) AS BIGINT)
        |    AS elasticity_ppm
        |FROM agg""".stripMargin) { (s, d) =>
      val pp = lineitem(s, d)
        .groupBy("l_partkey")
        .agg(
          (sum(col("l_extendedprice").cast("decimal(18,6)")).cast("double") /
            count(lit(1)).cast("double")).as("avg_price"),
          sum(floor(col("l_quantity")).cast("long")).as("qty"))
      val xy = pp.filter(col("qty") > 0)
        .select(
          expr("CAST(round(1000000 * round(ln(avg_price), 6)) AS BIGINT)")
            .as("x"),
          expr("CAST(round(1000000 * round(ln(CAST(qty AS DOUBLE)), 6)) AS BIGINT)")
            .as("y"))
      xy.agg(count(lit(1)).as("k"), sum("x").as("sx"), sum("y").as("sy"),
          sum(expr("CAST(x AS DECIMAL(38,0)) * y")).as("sxy"),
          sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("sxx"))
        .select(col("k").as("n_parts"),
          expr("""CAST((1000000 * (k * sxy - CAST(sx AS DECIMAL(38,0)) * sy))
                 |  div (k * sxx - CAST(sx AS DECIMAL(38,0)) * sx) AS BIGINT)"""
            .stripMargin).as("elasticity_ppm"))
    },

    // ----- SPRT conversion monitor (Wald 1945) -----
    // The always-valid sibling of a20's group-sequential boundaries:
    // the purchase-share likelihood-ratio walk for H₀ p=0.18 vs H₁
    // p=0.22 at α=β=0.05. The walk is Σ successes·ln(p₁/p₀) +
    // failures·ln(q₁/q₀) — TWO micro-log constants and a bound ln(19),
    // entered once via round(,6), after which the entire monitor is
    // BIGINT prefix sums over the day grid. At sf0.001 every day reads
    // 'continue' (the fixture's true rate ≈0.20 sits between the
    // hypotheses — the honest inconclusive); more data drifts the walk
    // across a boundary. One hash agg + one bounded-grid cumulative.
    "ab_sprt_monitor" -> QueryDef.sql(
      """WITH c AS (
        |  SELECT CAST(round(1000000 * round(ln(0.22 / 0.18), 6)) AS BIGINT) AS ws,
        |    CAST(round(1000000 * round(ln(0.78 / 0.82), 6)) AS BIGINT) AS wf,
        |    CAST(round(1000000 * round(ln(19.0), 6)) AS BIGINT) AS bound),
        |e AS (
        |  SELECT epoch_us(ts) // 86400000000 AS day,
        |    CAST(count(*) AS BIGINT) AS n_total,
        |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_succ
        |  FROM events GROUP BY 1),
        |w AS (
        |  SELECT day, n_total, n_succ,
        |    CAST(sum(n_succ * c.ws + (n_total - n_succ) * c.wf)
        |      OVER (ORDER BY day) AS BIGINT) AS llr_micro,
        |    c.bound
        |  FROM e CROSS JOIN c)
        |SELECT day, n_total, n_succ, llr_micro,
        |  CASE WHEN llr_micro >= bound THEN 'accept_h1'
        |       WHEN llr_micro <= -bound THEN 'accept_h0'
        |       ELSE 'continue' END AS decision
        |FROM w ORDER BY day""".stripMargin) { (s, d) =>
      val us = graft.util.Tables.epochUsFloorSql
      val c = events(s, d).sparkSession.range(1)
        .select(
          expr("CAST(round(1000000 * round(ln(0.22 / 0.18), 6)) AS BIGINT)")
            .as("ws"),
          expr("CAST(round(1000000 * round(ln(0.78 / 0.82), 6)) AS BIGINT)")
            .as("wf"),
          expr("CAST(round(1000000 * round(ln(19.0), 6)) AS BIGINT)")
            .as("bound"))
      val e = events(s, d)
        .select(expr(s"($us) div 86400000000").as("day"), col("event_type"))
        .groupBy("day")
        .agg(count(lit(1)).as("n_total"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("n_succ"))
      val w = Window.orderBy("day") // bounded calendar rows
      e.crossJoin(broadcast(c))
        .withColumn("llr_micro",
          sum(col("n_succ") * col("ws") +
            (col("n_total") - col("n_succ")) * col("wf")).over(w))
        .select(col("day"), col("n_total"), col("n_succ"), col("llr_micro"),
          when(col("llr_micro") >= col("bound"), "accept_h1")
            .when(col("llr_micro") <= -col("bound"), "accept_h0")
            .otherwise("continue").as("decision"))
        .orderBy("day")
    },

    // ----- Empirical-Bayes shrinkage of per-part return rates -----
    // The batting-average classic (Efron–Morris; Robinson's beta-
    // binomial recipe): moment-match a beta prior from the ppm rate
    // distribution — prior pseudo-count m = μ(10⁶−μ)/σ² − 1 — and
    // report each part's raw vs shrunk rate (x·10⁶ + μ·m)/((n+m)·10⁶)
    // scaled back to ppm. Every moment is an exact BIGINT over the
    // already-floored ppm rates, each division floors once, and a
    // degenerate prior (σ² ≤ 0 or m ≤ 0) sets m = 0, which makes shrunk
    // ≡ raw EXACTLY — the fallback is the identity, not an
    // approximation. The reranking is the point: a 12/19 part drops
    // below a 17/30 part once the prior weighs in. Scale: one hash agg
    // to part grain, a 1-row prior, broadcast back.
    "eb_shrunk_rates" -> QueryDef.sql(
      """WITH pr AS (
        |  SELECT l_partkey, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS x
        |  FROM lineitem GROUP BY 1),
        |mom AS (
        |  SELECT CAST(count(*) AS BIGINT) AS k,
        |    CAST(sum((1000000 * x) // n) AS BIGINT) AS srate,
        |    CAST(sum(((1000000 * x) // n) * ((1000000 * x) // n)) AS BIGINT)
        |      AS srate2
        |  FROM pr),
        |prior AS (
        |  SELECT srate // k AS mu,
        |    (srate2 // k) - (srate // k) * (srate // k) AS var2
        |  FROM mom),
        |pm AS (
        |  SELECT mu, var2,
        |    CASE WHEN var2 > 0 AND (mu * (1000000 - mu)) // var2 - 1 > 0
        |         THEN (mu * (1000000 - mu)) // var2 - 1 ELSE 0 END AS m
        |  FROM prior)
        |SELECT p.l_partkey, p.n, p.x,
        |  CAST((1000000 * p.x) // p.n AS BIGINT) AS raw_ppm,
        |  CAST((1000000 * (1000000 * p.x + pm.mu * pm.m))
        |    // ((p.n + pm.m) * 1000000) AS BIGINT) AS shrunk_ppm,
        |  CAST(pm.mu AS BIGINT) AS prior_mu_ppm, CAST(pm.m AS BIGINT) AS prior_n
        |FROM pr p CROSS JOIN pm
        |ORDER BY shrunk_ppm DESC, p.l_partkey""".stripMargin) { (s, d) =>
      val pr = lineitem(s, d)
        .groupBy("l_partkey")
        .agg(count(lit(1)).as("n"),
          sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("x"))
        .localCheckpoint() // moments + the shrunk report share it
      val pm = pr
        .agg(count(lit(1)).as("k"),
          sum(expr("(1000000 * x) div n")).as("srate"),
          sum(expr("((1000000 * x) div n) * ((1000000 * x) div n)"))
            .as("srate2"))
        .select(expr("srate div k").as("mu"),
          expr("(srate2 div k) - (srate div k) * (srate div k)").as("var2"))
        .select(col("mu"), col("var2"),
          expr("""CASE WHEN var2 > 0 AND (mu * (1000000 - mu)) div var2 - 1 > 0
                 |     THEN (mu * (1000000 - mu)) div var2 - 1 ELSE 0 END"""
            .stripMargin).as("m"))
      pr.crossJoin(broadcast(pm))
        .select(col("l_partkey"), col("n"), col("x"),
          expr("CAST((1000000 * x) div n AS BIGINT)").as("raw_ppm"),
          expr("""CAST((1000000 * (1000000 * x + mu * m))
                 |  div ((n + m) * 1000000) AS BIGINT)""".stripMargin)
            .as("shrunk_ppm"),
          col("mu").cast("long").as("prior_mu_ppm"),
          col("m").cast("long").as("prior_n"))
        .orderBy(col("shrunk_ppm").desc, col("l_partkey"))
    },

    // ----- One-step-ahead forecast backtest: Holt vs naive baselines -----
    // The eval that keeps ts_holt_winters honest: score its one-step
    // residuals against the two no-model baselines every forecasting
    // textbook demands (drift/persistence ŷ_t = y_{t−1}, seasonal
    // naive ŷ_t = y_{t−7}) on the SAME scored window (rk ≥ 8, where
    // all three are defined). All errors live at the 2^20 fixed-point
    // scale, so the comparison is exact; the measured verdict —
    // persistence narrowly beats Holt beats seasonal-naive on this
    // series — is the backtest's point: a fancier model must EARN its
    // keep, and here the day-level noise says it doesn't.
    "forecast_backtest" -> QueryDef.sql(
      """WITH RECURSIVE d AS (
        |  SELECT epoch_us(ts) // 86400000000 AS day,
        |    CAST(count(*) AS BIGINT) AS y
        |  FROM events GROUP BY 1),
        |g AS (
        |  SELECT day, y, CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS rk
        |  FROM d),
        |rec AS (
        |  SELECT rk, day, y, y * 1048576 AS level_s, CAST(0 AS BIGINT) AS trend_s,
        |    CAST(NULL AS BIGINT) AS err_s
        |  FROM g WHERE rk = 1
        |  UNION ALL
        |  SELECT g.rk, g.day, g.y,
        |    (g.y * 1048576 + rec.level_s + rec.trend_s) // 2,
        |    (((g.y * 1048576 + rec.level_s + rec.trend_s) // 2 - rec.level_s)
        |      + rec.trend_s) // 2,
        |    g.y * 1048576 - (rec.level_s + rec.trend_s)
        |  FROM rec JOIN g ON g.rk = rec.rk + 1),
        |naive AS (
        |  SELECT g.rk, abs(g.y - g7.y) * 1048576 AS ae
        |  FROM g JOIN g g7 ON g7.rk = g.rk - 7),
        |drift AS (
        |  SELECT g.rk, abs(g.y - g1.y) * 1048576 AS ae
        |  FROM g JOIN g g1 ON g1.rk = g.rk - 1),
        |holt AS (SELECT rk, abs(err_s) AS ae FROM rec WHERE err_s IS NOT NULL)
        |SELECT * FROM (
        |  SELECT 'holt' AS model, CAST(count(*) AS BIGINT) AS n_scored,
        |    CAST(sum(ae) AS BIGINT) AS sae_s,
        |    CAST(sum(ae) // count(*) AS BIGINT) AS mae_s
        |  FROM holt WHERE rk >= 8
        |  UNION ALL
        |  SELECT 'seasonal_naive', CAST(count(*) AS BIGINT),
        |    CAST(sum(ae) AS BIGINT), CAST(sum(ae) // count(*) AS BIGINT)
        |  FROM naive WHERE rk >= 8
        |  UNION ALL
        |  SELECT 'drift', CAST(count(*) AS BIGINT), CAST(sum(ae) AS BIGINT),
        |    CAST(sum(ae) // count(*) AS BIGINT)
        |  FROM drift WHERE rk >= 8)
        |ORDER BY model""".stripMargin) { (s, d) =>
      val us = graft.util.Tables.epochUsFloorSql
      val daily = events(s, d)
        .select(expr(s"($us) div 86400000000").as("day"))
        .groupBy("day").agg(count(lit(1)).as("y"))
        .orderBy("day")
        .collect() // bounded: one row per calendar day
      val S = 1048576L
      val ys = daily.map(_.getLong(1))
      var l = ys.head * S
      var b = 0L
      val holtAe = scala.collection.mutable.ArrayBuffer.empty[(Int, Long)]
      ys.zipWithIndex.drop(1).foreach { case (y, idx) =>
        val p = l + b
        holtAe += ((idx + 1, math.abs(y * S - p))) // rk is 1-based
        val nl = (y * S + p) / 2
        b = ((nl - l) + b) / 2
        l = nl
      }
      def leg(name: String, aes: Seq[Long]): (String, Long, Long, Long) =
        (name, aes.size.toLong, aes.sum, aes.sum / aes.size)
      val rows = Seq(
        leg("holt", holtAe.collect { case (rk, ae) if rk >= 8 => ae }.toSeq),
        leg("seasonal_naive",
          (7 until ys.length).filter(_ + 1 >= 8)
            .map(i => math.abs(ys(i) - ys(i - 7)) * S)),
        leg("drift",
          (1 until ys.length).filter(_ + 1 >= 8)
            .map(i => math.abs(ys(i) - ys(i - 1)) * S)))
      import s.implicits._
      rows.toDF("model", "n_scored", "sae_s", "mae_s").orderBy("model")
    },

    // ----- Moving-average crossover signals on the daily series -----
    // The classic trend signal (golden/death cross), division-free: the
    // 3-day and 10-day trailing means compare as 10·s3 vs 3·s10, so
    // sign and crossover detection are pure BIGINT. Signals only fire
    // once both windows are full (rk ≥ 10), and a tied comparison emits
    // sign 0 (no false cross through equality). The corpus collapses to
    // the bounded day grid first; every window after that is
    // calendar-cardinality.
    "ts_ma_crossover" -> QueryDef.sql(
      """WITH d AS (
        |  SELECT epoch_us(ts) // 86400000000 AS day,
        |    CAST(count(*) AS BIGINT) AS y
        |  FROM events GROUP BY 1),
        |g AS (
        |  SELECT day, y,
        |    CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS rk,
        |    CAST(sum(y) OVER (ORDER BY day
        |      ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT) AS s3,
        |    CAST(sum(y) OVER (ORDER BY day
        |      ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS BIGINT) AS s10
        |  FROM d),
        |sg AS (
        |  SELECT day, s3, s10,
        |    CASE WHEN 10 * s3 > 3 * s10 THEN 1
        |         WHEN 10 * s3 < 3 * s10 THEN -1 ELSE 0 END AS sig
        |  FROM g WHERE rk >= 10),
        |x AS (
        |  SELECT day, s3, s10, sig, lag(sig) OVER (ORDER BY day) AS prev_sig
        |  FROM sg)
        |SELECT day, s3, s10,
        |  CASE WHEN sig > prev_sig THEN 'golden' ELSE 'death' END AS crossover
        |FROM x WHERE prev_sig IS NOT NULL AND sig <> prev_sig AND sig <> 0
        |ORDER BY day""".stripMargin) { (s, d) =>
      val us = graft.util.Tables.epochUsFloorSql
      val dd = events(s, d)
        .select(expr(s"($us) div 86400000000").as("day"))
        .groupBy("day").agg(count(lit(1)).as("y"))
      val w = Window.orderBy("day") // bounded calendar rows
      val g = dd.select(col("day"), col("y"),
        row_number().over(w).cast("long").as("rk"),
        sum("y").over(w.rowsBetween(-2, 0)).as("s3"),
        sum("y").over(w.rowsBetween(-9, 0)).as("s10"))
      val sg = g.filter(col("rk") >= 10)
        .select(col("day"), col("s3"), col("s10"),
          when(lit(10) * col("s3") > lit(3) * col("s10"), 1)
            .when(lit(10) * col("s3") < lit(3) * col("s10"), -1)
            .otherwise(0).as("sig"))
      sg.withColumn("prev_sig", lag("sig", 1).over(Window.orderBy("day")))
        .filter(col("prev_sig").isNotNull && col("sig") =!= col("prev_sig") &&
          col("sig") =!= 0)
        .select(col("day"), col("s3"), col("s10"),
          when(col("sig") > col("prev_sig"), "golden").otherwise("death")
            .as("crossover"))
        .orderBy("day")
    },

    // ----- Item-item collaborative filtering (co-occurrence kNN) -----
    // The serving shape basket_part_rules doesn't emit: a per-item
    // neighbor LIST — "customers whose basket had A also took B" —
    // ranked by cosine²(A,B) = cooc²/(n_A·n_B) in exact ppm (squaring
    // kills the sqrt that would make cosine libm-dependent; it is
    // order-equivalent). The pair explode is a self-join per order —
    // bounded by basket size², never corpus² — the support floor (cooc
    // ≥ 2) prunes before the per-item count table (a broadcastable part
    // dim) joins in, and the top-3 window partitions by item, so no
    // global sort anywhere. This is Amazon's item-item CF (Linden 2003)
    // reduced to its exact-integer core.
    "cf_item_item" -> QueryDef.sql(
      """WITH it AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p
        |  FROM lineitem),
        |cnt AS (SELECT p, CAST(count(*) AS BIGINT) AS n FROM it GROUP BY 1),
        |pr AS (
        |  SELECT a.p AS pa, b.p AS pb, CAST(count(*) AS BIGINT) AS cooc
        |  FROM it a JOIN it b ON a.ok = b.ok AND a.p <> b.p
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |sc AS (
        |  SELECT pr.pa, pr.pb, pr.cooc,
        |    CAST((1000000 * pr.cooc * pr.cooc) // (ca.n * cb.n) AS BIGINT)
        |      AS cos2_ppm
        |  FROM pr JOIN cnt ca ON ca.p = pr.pa JOIN cnt cb ON cb.p = pr.pb),
        |rk AS (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY pa
        |    ORDER BY cos2_ppm DESC, cooc DESC, pb) AS BIGINT) AS rank
        |  FROM sc)
        |SELECT pa AS part_id, pb AS neighbor_id, cooc, cos2_ppm, rank
        |FROM rk WHERE rank <= 3 ORDER BY part_id, rank""".stripMargin) { (s, d) =>
      val it = lineitem(s, d)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("p"))
        .distinct()
        .localCheckpoint() // the pair join and both count legs share it
      val cnt = it.groupBy("p").agg(count(lit(1)).as("n"))
      val pr = it.toDF("ok", "pa").join(it.toDF("ok", "pb"), Seq("ok"))
        .filter(col("pa") =!= col("pb"))
        .groupBy("pa", "pb").agg(count(lit(1)).as("cooc"))
        .filter(col("cooc") >= 2)
      val sc = pr
        .join(broadcast(cnt.toDF("pa", "na")), Seq("pa"))
        .join(broadcast(cnt.toDF("pb", "nb")), Seq("pb"))
        .select(col("pa"), col("pb"), col("cooc"),
          expr("CAST((1000000 * cooc * cooc) div (na * nb) AS BIGINT)")
            .as("cos2_ppm"))
      sc.withColumn("rank", row_number().over(
          Window.partitionBy("pa")
            .orderBy(col("cos2_ppm").desc, col("cooc").desc, col("pb")))
          .cast("long"))
        .filter(col("rank") <= 3)
        .select(col("pa").as("part_id"), col("pb").as("neighbor_id"),
          col("cooc"), col("cos2_ppm"), col("rank"))
        .orderBy("part_id", "rank")
    },

    // ----- Kendall tau-b between the daily revenue and order-count series -----
    // The rank-correlation companion of length_quality_spearman for the
    // TIME axis: does higher daily order volume travel with higher daily
    // revenue, measured without any linearity assumption and robust to
    // both series' heavy tails? Tau-b (tie-corrected) from EXACT pair
    // counting: every day pair is classified concordant / discordant /
    // x-tied / y-tied / both-tied with pure BIGINT comparisons (revenue
    // enters as whole currency units, the a18_cuped floor discipline),
    // and tau-b's denominator runs through the IEEE-sqrt chain — one
    // correctly-rounded sqrt inside an identical literal tree on both
    // engines (the rating_wilson_rank precedent), floored once at 1e6.
    // Scale shape: the pair classification is a self-join on the DAILY
    // aggregate, whose cardinality is CALENDAR-bounded (~2.4k days at
    // any corpus size — ~3M pairs forever), so the O(n²) step never
    // grows with data volume; the only corpus-scale stage is the one
    // map-side-combinable day fold. The (rev diff)·(count diff) product
    // is bounded by (daily rev span)·(daily count span) ≈ 1e11·1e6 at
    // 100 TB — inside BIGINT.
    "ts_kendall_tau" -> QueryDef.sql(
      """WITH o AS (
        |  SELECT epoch_us(o_orderdate) // 86400000000 AS day,
        |    CAST(floor(o_totalprice) AS BIGINT) AS v
        |  FROM orders),
        |dly AS (SELECT day, CAST(count(*) AS BIGINT) AS n_orders,
        |          CAST(sum(v) AS BIGINT) AS rev
        |        FROM o GROUP BY day),
        |pr AS (
        |  SELECT
        |    CASE WHEN (a.rev - b.rev) * (a.n_orders - b.n_orders) > 0 THEN 1 ELSE 0 END AS conc,
        |    CASE WHEN (a.rev - b.rev) * (a.n_orders - b.n_orders) < 0 THEN 1 ELSE 0 END AS disc,
        |    CASE WHEN a.rev = b.rev AND a.n_orders <> b.n_orders THEN 1 ELSE 0 END AS tx,
        |    CASE WHEN a.rev <> b.rev AND a.n_orders = b.n_orders THEN 1 ELSE 0 END AS ty,
        |    CASE WHEN a.rev = b.rev AND a.n_orders = b.n_orders THEN 1 ELSE 0 END AS txy
        |  FROM dly a JOIN dly b ON a.day < b.day),
        |agg AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n0, CAST(sum(conc) AS BIGINT) AS c,
        |    CAST(sum(disc) AS BIGINT) AS dd, CAST(sum(tx) AS BIGINT) AS tx,
        |    CAST(sum(ty) AS BIGINT) AS ty, CAST(sum(txy) AS BIGINT) AS txy
        |  FROM pr)
        |SELECT n0, c AS concordant, dd AS discordant, tx AS ties_x, ty AS ties_y,
        |  txy AS ties_xy,
        |  CAST(floor((1000000.0 * (c - dd)) / sqrt(
        |    CAST(n0 - tx - txy AS DOUBLE) * CAST(n0 - ty - txy AS DOUBLE))) AS BIGINT)
        |    AS tau_b_x1e6
        |FROM agg""".stripMargin) { (s, d) =>
      val dly = orders(s, d)
        .select(expr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000").as("day"),
          expr("CAST(floor(o_totalprice) AS BIGINT)").as("v"))
        .groupBy("day")
        .agg(count(lit(1)).as("n_orders"), sum("v").cast("long").as("rev"))
      val a = dly.select(col("day").as("day_a"), col("rev").as("rev_a"),
        col("n_orders").as("n_a"))
      val b = dly.select(col("day").as("day_b"), col("rev").as("rev_b"),
        col("n_orders").as("n_b"))
      a.join(b, col("day_a") < col("day_b"))
        .select(
          expr("CASE WHEN (rev_a - rev_b) * (n_a - n_b) > 0 THEN 1 ELSE 0 END").as("conc"),
          expr("CASE WHEN (rev_a - rev_b) * (n_a - n_b) < 0 THEN 1 ELSE 0 END").as("disc"),
          expr("CASE WHEN rev_a = rev_b AND n_a <> n_b THEN 1 ELSE 0 END").as("tx"),
          expr("CASE WHEN rev_a <> rev_b AND n_a = n_b THEN 1 ELSE 0 END").as("ty"),
          expr("CASE WHEN rev_a = rev_b AND n_a = n_b THEN 1 ELSE 0 END").as("txy"))
        .agg(count(lit(1)).as("n0"), sum("conc").cast("long").as("c"),
          sum("disc").cast("long").as("dd"), sum("tx").cast("long").as("tx"),
          sum("ty").cast("long").as("ty"), sum("txy").cast("long").as("txy"))
        .select(col("n0"), col("c").as("concordant"), col("dd").as("discordant"),
          col("tx").as("ties_x"), col("ty").as("ties_y"), col("txy").as("ties_xy"),
          expr("""CAST(floor((1000000.0D * (c - dd)) / sqrt(
                 |  CAST(n0 - tx - txy AS DOUBLE) * CAST(n0 - ty - txy AS DOUBLE))) AS BIGINT)"""
            .stripMargin).as("tau_b_x1e6"))
    },

    // ----- leave-one-out target encoding (per-row, leak-free) -----
    // The feature-engineering staple for high-cardinality categoricals:
    // encode a customer's nation by the mean order value of the nation —
    // but LEAVE THE ROW ITSELF OUT ((S_g − v_i)/(n_g − 1)), because the
    // naive mean leaks each row's own target into its feature and a
    // downstream model memorizes instead of generalizing. Two encodings
    // ride per row, both exact floored micro-units: pure LOO (singleton
    // groups fall back to the global mean — the 0/0 row has no
    // leak-free in-group signal) and the m=10 smoothed blend
    // ((S−v) + m·μ)/(n−1+m) that shrinks thin groups toward the global
    // mean (the deployed form; μ enters as the ONCE-floored global
    // micro-mean, so the arithmetic is engine-identical). The 1e6
    // numerators widen to DECIMAL because nation-level value sums pass
    // 2e14 at 100 TB. Scale shape: one group fold, a broadcast of the
    // ≤25-row group table back onto the fact rows, zero windows.
    "fe_target_encoding_loo" -> QueryDef.sql(
      """WITH base AS (
        |  SELECT o.o_orderkey, c.c_nationkey, CAST(floor(o.o_totalprice) AS BIGINT) AS v
        |  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey),
        |g AS (SELECT c_nationkey, CAST(sum(v) AS BIGINT) AS sg,
        |        CAST(count(*) AS BIGINT) AS ng FROM base GROUP BY 1),
        |t AS (SELECT CAST((CAST(1000000 AS HUGEINT) * sum(sg)) // sum(ng) AS BIGINT)
        |        AS gmean_micro FROM g)
        |SELECT b.o_orderkey, b.c_nationkey, b.v, g.ng,
        |  CASE WHEN g.ng > 1
        |    THEN CAST((CAST(1000000 AS HUGEINT) * (g.sg - b.v)) // (g.ng - 1) AS BIGINT)
        |    ELSE t.gmean_micro END AS enc_loo_micro,
        |  CAST((CAST(1000000 AS HUGEINT) * (g.sg - b.v) + 10 * CAST(t.gmean_micro AS HUGEINT))
        |    // (g.ng - 1 + 10) AS BIGINT) AS enc_smooth_micro
        |FROM base b JOIN g USING (c_nationkey) CROSS JOIN t
        |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      val base = orders(s, d)
        .join(customer(s, d), col("c_custkey") === col("o_custkey"))
        .select(col("o_orderkey"), col("c_nationkey"),
          expr("CAST(floor(o_totalprice) AS BIGINT)").as("v"))
      val g = base.groupBy("c_nationkey")
        .agg(sum("v").cast("long").as("sg"), count(lit(1)).as("ng"))
      val t = g.agg(expr(
        "CAST((CAST(1000000 AS DECIMAL(38,0)) * sum(sg)) div sum(ng) AS BIGINT)")
        .as("gmean_micro"))
      base.join(broadcast(g), Seq("c_nationkey")).crossJoin(broadcast(t))
        .select(col("o_orderkey"), col("c_nationkey"), col("v"), col("ng"),
          expr("""CASE WHEN ng > 1
                 |  THEN CAST((CAST(1000000 AS DECIMAL(38,0)) * (sg - v)) div (ng - 1) AS BIGINT)
                 |  ELSE gmean_micro END""".stripMargin).as("enc_loo_micro"),
          expr("""CAST((CAST(1000000 AS DECIMAL(38,0)) * (sg - v)
                 |  + 10 * CAST(gmean_micro AS DECIMAL(38,0)))
                 |  div (ng - 1 + 10) AS BIGINT)""".stripMargin).as("enc_smooth_micro"))
        .orderBy("o_orderkey")
    },

    // ----- PSI between the train and validation length profiles -----
    // The population-stability index — industry's standard drift gate
    // (banking model-risk practice; same family as the KL audit but
    // SYMMETRIZED by construction: Σ(p−q)·ln(p/q) ≥ 0 with both
    // directions penalized). Here it audits a deterministic doc_id-mod
    // 80/20 train/val split on the log2 token-length histogram (the
    // tokens_histogram bucket — pure integer bucketing, no boundary
    // float): a sound split should read PSI ≈ 0 (< 0.1 in the classic
    // traffic-light rule; 0.1–0.25 amber). Exactness: the ONE
    // transcendental per BOUNDED bucket row enters as 6-dp-rounded
    // micro-nats; (p−q) stays the exact cross-multiplied rational, so
    // each term is ((n_tb·N_v − n_vb·N_t)·L) // (N_t·N_v), DECIMAL-
    // widened (n·N passes 9e18 at 100 TB). A bucket empty on either
    // side has no finite ln — emitted with term NULL and excluded from
    // the total (the standard ε-free treatment), visibly rather than
    // silently. The grand total rides every row from the bounded-bin
    // fold; one corpus pass total.
    "drift_psi_bins" -> QueryDef.sql(
      """WITH d AS (
        |  SELECT doc_id,
        |    CAST(length(bin(CAST(len(string_split_regex(trim(lower(text)), '\s+'))
        |      AS BIGINT))) AS BIGINT) AS bucket,
        |    CASE WHEN doc_id % 10 < 8 THEN 1 ELSE 0 END AS is_train
        |  FROM documents WHERE text IS NOT NULL),
        |b AS (SELECT bucket,
        |        CAST(sum(is_train) AS BIGINT) AS n_t,
        |        CAST(sum(1 - is_train) AS BIGINT) AS n_v
        |      FROM d GROUP BY 1),
        |tot AS (SELECT CAST(sum(n_t) AS BIGINT) AS nt, CAST(sum(n_v) AS BIGINT) AS nv FROM b),
        |terms AS (
        |  SELECT b.bucket, b.n_t, b.n_v,
        |    CASE WHEN b.n_t > 0 AND b.n_v > 0 THEN
        |      CAST(((b.n_t * CAST(tot.nv AS HUGEINT) - b.n_v * CAST(tot.nt AS HUGEINT))
        |        * CAST(round(1000000 * round(ln(
        |            (CAST(b.n_t AS DOUBLE) * tot.nv) / (CAST(b.n_v AS DOUBLE) * tot.nt)), 6))
        |          AS BIGINT))
        |        // (CAST(tot.nt AS HUGEINT) * tot.nv) AS BIGINT)
        |    ELSE NULL END AS term_micro
        |  FROM b CROSS JOIN tot),
        |g AS (SELECT CAST(sum(term_micro) AS BIGINT) AS psi_micro,
        |        CAST(count(CASE WHEN term_micro IS NULL THEN 1 END) AS BIGINT) AS n_skipped
        |      FROM terms)
        |SELECT t.bucket, t.n_t, t.n_v, t.term_micro, g.psi_micro, g.n_skipped
        |FROM terms t CROSS JOIN g
        |ORDER BY t.bucket""".stripMargin) { (s, d) =>
      val dd = documents(s, d).filter(col("text").isNotNull)
        .select(col("doc_id"),
          length(bin(size(expr(graft.operators.TextQueries.toksExpr)).cast("long")))
            .cast("long").as("bucket"),
          expr("CASE WHEN doc_id % 10 < 8 THEN 1 ELSE 0 END").as("is_train"))
      val b = dd.groupBy("bucket")
        .agg(sum("is_train").cast("long").as("n_t"),
          sum(expr("1 - is_train")).cast("long").as("n_v"))
        .localCheckpoint() // bounded bins; feeds terms AND the total
      val tot = b.agg(sum("n_t").cast("long").as("nt"), sum("n_v").cast("long").as("nv"))
      val terms = b.crossJoin(broadcast(tot))
        .select(col("bucket"), col("n_t"), col("n_v"),
          expr("""CASE WHEN n_t > 0 AND n_v > 0 THEN
                 |  CAST(((n_t * CAST(nv AS DECIMAL(38,0)) - n_v * CAST(nt AS DECIMAL(38,0)))
                 |    * CAST(round(1000000 * round(ln(
                 |        (CAST(n_t AS DOUBLE) * nv) / (CAST(n_v AS DOUBLE) * nt)), 6))
                 |      AS BIGINT))
                 |    div (CAST(nt AS DECIMAL(38,0)) * nv) AS BIGINT)
                 |ELSE NULL END""".stripMargin).as("term_micro"))
        .localCheckpoint()
      val g = terms.agg(sum("term_micro").cast("long").as("psi_micro"),
        count(when(col("term_micro").isNull, 1)).as("n_skipped"))
      terms.crossJoin(broadcast(g))
        .select("bucket", "n_t", "n_v", "term_micro", "psi_micro", "n_skipped")
        .orderBy("bucket")
    },

    // ----- Cochran–Mantel–Haenszel pooled odds ratio across nations -----
    // The stratified-confounding companion of a15_ab_chi_square and
    // a19_diff_in_diff: the crude exposure→outcome odds ratio (order
    // has ≥4 lines → any returned line) can be Simpson-reversed by a
    // nation mix shift, so CMH pools the per-nation 2×2 tables into one
    // confounder-adjusted OR_MH = Σ(aᵢdᵢ/nᵢ) / Σ(bᵢcᵢ/nᵢ) plus the CMH
    // χ² (continuity-free form). Exactness: every per-stratum rational
    // enters as ONE floored micro-unit term (ad·1e6 // n — the floor
    // order is part of the spec, identical on both engines), the
    // variance term is STAGED division (((a+b)(c+d)·1e6 // n)·(a+c)(b+d)
    // // (n·(n−1))) so no intermediate passes DECIMAL(38) even at 1e9
    // orders per nation, and χ² = (1e6·Σa − ΣE_micro)² // (1e6·ΣV_micro)
    // lands in micro-units. Crude OR rides beside OR_MH — the
    // Simpson's-paradox audit IS their comparison. One fact fold, ≤25
    // stratum rows, everything after broadcast-scale.
    "ab_cmh_pooled_or" -> QueryDef.sql(
      """WITH lab AS (
        |  SELECT o.o_orderkey, c.c_nationkey,
        |    CAST(CASE WHEN count(*) >= 4 THEN 1 ELSE 0 END AS BIGINT) AS exp,
        |    CAST(max(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS pos
        |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |  JOIN customer c ON c.c_custkey = o.o_custkey
        |  GROUP BY 1, 2),
        |st AS (
        |  SELECT c_nationkey,
        |    CAST(sum(exp * pos) AS BIGINT) AS a,
        |    CAST(sum(exp * (1 - pos)) AS BIGINT) AS b,
        |    CAST(sum((1 - exp) * pos) AS BIGINT) AS c,
        |    CAST(sum((1 - exp) * (1 - pos)) AS BIGINT) AS d
        |  FROM lab GROUP BY 1),
        |t AS (
        |  SELECT c_nationkey, a, b, c, d, a + b + c + d AS n,
        |    CAST((CAST(1000000 AS HUGEINT) * a * d) // (a + b + c + d) AS BIGINT) AS ad_micro,
        |    CAST((CAST(1000000 AS HUGEINT) * b * c) // (a + b + c + d) AS BIGINT) AS bc_micro,
        |    CAST((CAST(1000000 AS HUGEINT) * (a + b) * (a + c)) // (a + b + c + d) AS BIGINT) AS e_micro,
        |    CASE WHEN a + b + c + d > 1 THEN
        |      CAST((((CAST(1000000 AS HUGEINT) * (a + b) * (c + d)) // (a + b + c + d))
        |        * ((a + c) * (b + d)))
        |        // (CAST(a + b + c + d AS HUGEINT) * (a + b + c + d - 1)) AS BIGINT)
        |    ELSE 0 END AS v_micro
        |  FROM st),
        |g AS (
        |  SELECT CAST(sum(a) AS BIGINT) AS sa, CAST(sum(ad_micro) AS BIGINT) AS sad,
        |    CAST(sum(bc_micro) AS BIGINT) AS sbc, CAST(sum(e_micro) AS BIGINT) AS se,
        |    CAST(sum(v_micro) AS BIGINT) AS sv,
        |    CAST(sum(a) AS BIGINT) * CAST(sum(d) AS BIGINT) AS cad,
        |    CAST(sum(b) AS BIGINT) * CAST(sum(c) AS BIGINT) AS cbc
        |  FROM t)
        |SELECT t.c_nationkey, t.a, t.b, t.c, t.d, t.ad_micro, t.bc_micro,
        |  CASE WHEN g.sbc > 0
        |    THEN CAST((CAST(1000000 AS HUGEINT) * g.sad) // g.sbc AS BIGINT)
        |    ELSE NULL END AS or_mh_ppm,
        |  CASE WHEN g.cbc > 0
        |    THEN CAST((CAST(1000000 AS HUGEINT) * g.cad) // g.cbc AS BIGINT)
        |    ELSE NULL END AS or_crude_ppm,
        |  CASE WHEN g.sv > 0 THEN
        |    CAST(((CAST(1000000 AS HUGEINT) * g.sa - g.se)
        |      * (CAST(1000000 AS HUGEINT) * g.sa - g.se)) // (CAST(1000000 AS HUGEINT) * g.sv)
        |      AS BIGINT)
        |  ELSE NULL END AS cmh_chi2_micro
        |FROM t CROSS JOIN g ORDER BY t.c_nationkey""".stripMargin) { (s, d) =>
      val lab = orders(s, d)
        .join(lineitem(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(customer(s, d)), col("c_custkey") === col("o_custkey"))
        .groupBy("o_orderkey", "c_nationkey")
        .agg(expr("CAST(CASE WHEN count(*) >= 4 THEN 1 ELSE 0 END AS BIGINT)").as("exp"),
          expr("CAST(max(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT)")
            .as("pos"))
      val st = lab.groupBy("c_nationkey")
        .agg(sum(expr("exp * pos")).cast("long").as("a"),
          sum(expr("exp * (1 - pos)")).cast("long").as("b"),
          sum(expr("(1 - exp) * pos")).cast("long").as("c"),
          sum(expr("(1 - exp) * (1 - pos)")).cast("long").as("d"))
      val t = st.select(col("c_nationkey"), col("a"), col("b"), col("c"), col("d"),
          expr("a + b + c + d").as("n"),
          expr("CAST((CAST(1000000 AS DECIMAL(38,0)) * a * d) div (a + b + c + d) AS BIGINT)")
            .as("ad_micro"),
          expr("CAST((CAST(1000000 AS DECIMAL(38,0)) * b * c) div (a + b + c + d) AS BIGINT)")
            .as("bc_micro"),
          expr("CAST((CAST(1000000 AS DECIMAL(38,0)) * (a + b) * (a + c)) div (a + b + c + d) AS BIGINT)")
            .as("e_micro"),
          expr("""CASE WHEN a + b + c + d > 1 THEN
                 |  CAST((((CAST(1000000 AS DECIMAL(38,0)) * (a + b) * (c + d)) div (a + b + c + d))
                 |    * ((a + c) * (b + d)))
                 |    div (CAST(a + b + c + d AS DECIMAL(38,0)) * (a + b + c + d - 1)) AS BIGINT)
                 |ELSE 0L END""".stripMargin).as("v_micro"))
        .localCheckpoint() // ≤25 rows; feeds output AND the pooled fold
      val g = t.agg(sum("a").cast("long").as("sa"),
        sum("ad_micro").cast("long").as("sad"),
        sum("bc_micro").cast("long").as("sbc"),
        sum("e_micro").cast("long").as("se"),
        sum("v_micro").cast("long").as("sv"),
        (sum("a").cast("long") * sum("d").cast("long")).as("cad"),
        (sum("b").cast("long") * sum("c").cast("long")).as("cbc"))
      t.crossJoin(broadcast(g))
        .select(col("c_nationkey"), col("a"), col("b"), col("c"), col("d"),
          col("ad_micro"), col("bc_micro"),
          expr("""CASE WHEN sbc > 0
                 |  THEN CAST((CAST(1000000 AS DECIMAL(38,0)) * sad) div sbc AS BIGINT)
                 |  ELSE NULL END""".stripMargin).as("or_mh_ppm"),
          expr("""CASE WHEN cbc > 0
                 |  THEN CAST((CAST(1000000 AS DECIMAL(38,0)) * cad) div cbc AS BIGINT)
                 |  ELSE NULL END""".stripMargin).as("or_crude_ppm"),
          expr("""CASE WHEN sv > 0 THEN
                 |  CAST(((CAST(1000000 AS DECIMAL(38,0)) * sa - se)
                 |    * (CAST(1000000 AS DECIMAL(38,0)) * sa - se))
                 |    div (CAST(1000000 AS DECIMAL(38,0)) * sv) AS BIGINT)
                 |ELSE NULL END""".stripMargin).as("cmh_chi2_micro"))
        .orderBy("c_nationkey")
    },

    // ----- pairwise token-mix cosine between sources -----
    // The drift family's SIMILARITY matrix (source_kl_divergence
    // measures distance from the global mix; this measures every
    // source against every OTHER source): cosine between unigram count
    // vectors, computed from three vocabulary-cardinality folds — the
    // dot products Σ nₐ·n_b via ONE equi-join on token over the
    // per-source count table, the norms as per-source Σn². The scalar
    // runs through the IEEE-sqrt chain (exact BIGINTs cast to double,
    // one correctly-rounded sqrt inside an identical literal tree,
    // floored once at 1e6) because cos² would need Σab² ≈ 1e50 at
    // 100 TB — past any integer type. Output is source-pair-bounded
    // (≤45 rows); shared_vocab rides as the support count.
    "source_token_cosine" -> QueryDef.sql(
      """WITH tok AS (
        |  SELECT source, unnest(string_split_regex(trim(lower(text)), '\s+')) AS t
        |  FROM documents WHERE source IS NOT NULL),
        |st AS (SELECT source, t, CAST(count(*) AS BIGINT) AS n FROM tok GROUP BY 1, 2),
        |nrm AS (SELECT source, CAST(sum(n * n) AS BIGINT) AS n2 FROM st GROUP BY 1),
        |dp AS (
        |  SELECT a.source AS source_a, b.source AS source_b,
        |    CAST(sum(a.n * b.n) AS BIGINT) AS sab,
        |    CAST(count(*) AS BIGINT) AS shared_vocab
        |  FROM st a JOIN st b ON a.t = b.t AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT dp.source_a, dp.source_b, dp.shared_vocab,
        |  CAST(floor((1000000.0 * sab) / sqrt(
        |    CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE))) AS BIGINT) AS cos_x1e6
        |FROM dp JOIN nrm na ON na.source = dp.source_a
        |JOIN nrm nb ON nb.source = dp.source_b
        |ORDER BY source_a, source_b""".stripMargin) { (s, d) =>
      val st = documents(s, d).filter(col("source").isNotNull)
        .select(col("source"),
          explode(expr(graft.operators.TextQueries.toksExpr)).as("t"))
        .groupBy("source", "t").agg(count(lit(1)).as("n"))
        .localCheckpoint() // vocab-cardinality; feeds norms + both join sides
      val nrm = st.groupBy("source")
        .agg(sum(expr("n * n")).cast("long").as("n2"))
      val a = st.select(col("source").as("source_a"), col("t"), col("n").as("na"))
      val b = st.select(col("source").as("source_b"), col("t"), col("n").as("nb"))
      a.join(b, Seq("t")).filter(col("source_a") < col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(sum(expr("na * nb")).cast("long").as("sab"),
          count(lit(1)).as("shared_vocab"))
        .join(broadcast(nrm.toDF("source_a", "n2a")), Seq("source_a"))
        .join(broadcast(nrm.toDF("source_b", "n2b")), Seq("source_b"))
        .select(col("source_a"), col("source_b"), col("shared_vocab"),
          expr("""CAST(floor((1000000.0D * sab) / sqrt(
                 |  CAST(n2a AS DOUBLE) * CAST(n2b AS DOUBLE))) AS BIGINT)""".stripMargin)
            .as("cos_x1e6"))
        .orderBy("source_a", "source_b")
    },

    // ----- Fano factor: burstiness of the daily arrival series -----
    // The dispersion audit under every anomaly detector's Poisson
    // assumption: F = Var/Mean of daily counts per event type — F ≈ 1
    // is Poisson (event_anomaly_mad's thresholds are honest), F ≫ 1 is
    // bursty/clustered (campaign-driven types need wider bands), F < 1
    // is regular. Exact integer spelling: the n-scaled variance
    // (n·Σc² − (Σc)², the comovement discipline — no mean division
    // ever) over n·Σc gives F in ppm with ONE DECIMAL-widened //
    // (daily counts reach 1e9 at 100 TB; their squares times 1e6 pass
    // BIGINT). Day-grid cardinality after one counting fold.
    "ts_fano_burstiness" -> QueryDef.sql(
      """WITH d AS (
        |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |g AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
        |    CAST(sum(c) AS BIGINT) AS sc, CAST(sum(c * c) AS BIGINT) AS sc2
        |  FROM d GROUP BY 1)
        |SELECT event_type, n_days, sc AS n_events,
        |  CAST((CAST(1000000 AS HUGEINT) * (n_days * sc2 - sc * sc))
        |    // (CAST(n_days AS HUGEINT) * sc) AS BIGINT) AS fano_ppm
        |FROM g WHERE sc > 0 ORDER BY event_type""".stripMargin) { (s, d) =>
      val us = graft.util.Tables.epochUsFloorSql
      events(s, d)
        .groupBy(col("event_type"), expr(s"($us) div 86400000000").as("day"))
        .agg(count(lit(1)).as("c"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_days"), sum("c").cast("long").as("sc"),
          sum(expr("c * c")).cast("long").as("sc2"))
        .filter(col("sc") > 0)
        .select(col("event_type"), col("n_days"), col("sc").as("n_events"),
          expr("""CAST((CAST(1000000 AS DECIMAL(38,0)) * (n_days * sc2 - sc * sc))
                 |  div (CAST(n_days AS DECIMAL(38,0)) * sc) AS BIGINT)""".stripMargin)
            .as("fano_ppm"))
        .orderBy("event_type")
    },

    // ----- risk ratio with the Katz log-scale confidence interval -----
    // The effect-size face the odds-ratio family lacks: RR = risk in
    // the exposed (≥4-line orders) over risk in the unexposed, per
    // customer nation, with the Katz 95% CI reported ON THE LOG SCALE
    // in micro-nats — exp() never runs, so the only transcendentals
    // are ONE 6dp-rounded ln (the point estimate) and ONE IEEE-chain
    // sqrt (the standard error b/(a(a+b)) + d/(c(c+d)), two correctly-
    // rounded divisions summed inside an identical literal tree) per
    // BOUNDED nation row. The z multiplier enters as the integer
    // 196/100 AFTER the micro conversion, so the bound arithmetic is
    // pure BIGINT. rr_ppm rides as the exact cross-multiplied rational;
    // degenerate cells (a = 0 or c = 0: RR undefined / se infinite)
    // report NULL honestly. A CI whose log-interval excludes 0 is the
    // per-nation significance readout.
    "ab_risk_ratio_ci" -> QueryDef.sql(
      """WITH lab AS (
        |  SELECT o.o_orderkey, c.c_nationkey,
        |    CAST(CASE WHEN count(*) >= 4 THEN 1 ELSE 0 END AS BIGINT) AS exp,
        |    CAST(max(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS pos
        |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |  JOIN customer c ON c.c_custkey = o.o_custkey
        |  GROUP BY 1, 2),
        |st AS (
        |  SELECT c_nationkey,
        |    CAST(sum(exp * pos) AS BIGINT) AS a,
        |    CAST(sum(exp * (1 - pos)) AS BIGINT) AS b,
        |    CAST(sum((1 - exp) * pos) AS BIGINT) AS c,
        |    CAST(sum((1 - exp) * (1 - pos)) AS BIGINT) AS d
        |  FROM lab GROUP BY 1),
        |e AS (
        |  SELECT c_nationkey, a, b, c, d,
        |    CASE WHEN a > 0 AND c > 0 THEN
        |      CAST((CAST(1000000 AS HUGEINT) * a * (c + d)) // (CAST(c AS HUGEINT) * (a + b)) AS BIGINT)
        |    ELSE NULL END AS rr_ppm,
        |    CASE WHEN a > 0 AND c > 0 THEN
        |      CAST(round(1000000 * round(ln(
        |        (CAST(a AS DOUBLE) * (c + d)) / (CAST(c AS DOUBLE) * (a + b))), 6)) AS BIGINT)
        |    ELSE NULL END AS ln_rr_micro,
        |    CASE WHEN a > 0 AND c > 0 THEN
        |      CAST(round(1000000 * round(sqrt(
        |        CAST(b AS DOUBLE) / (CAST(a AS DOUBLE) * (a + b)) +
        |        CAST(d AS DOUBLE) / (CAST(c AS DOUBLE) * (c + d))), 6)) AS BIGINT)
        |    ELSE NULL END AS se_micro
        |  FROM st)
        |SELECT c_nationkey, a, b, c, d, rr_ppm, ln_rr_micro, se_micro,
        |  ln_rr_micro - (196 * se_micro) // 100 AS ci_lo_micro,
        |  ln_rr_micro + (196 * se_micro) // 100 AS ci_hi_micro,
  CAST(CASE WHEN se_micro IS NULL THEN NULL
        |       WHEN ln_rr_micro - (196 * se_micro) // 100 > 0
        |         OR ln_rr_micro + (196 * se_micro) // 100 < 0 THEN 1 ELSE 0 END
        |    AS BIGINT) AS significant
        |FROM e ORDER BY c_nationkey""".stripMargin) { (s, d) =>
      val lab = orders(s, d)
        .join(lineitem(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(customer(s, d)), col("c_custkey") === col("o_custkey"))
        .groupBy("o_orderkey", "c_nationkey")
        .agg(expr("CAST(CASE WHEN count(*) >= 4 THEN 1 ELSE 0 END AS BIGINT)").as("exp"),
          expr("CAST(max(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT)")
            .as("pos"))
      val st = lab.groupBy("c_nationkey")
        .agg(sum(expr("exp * pos")).cast("long").as("a"),
          sum(expr("exp * (1 - pos)")).cast("long").as("b"),
          sum(expr("(1 - exp) * pos")).cast("long").as("c"),
          sum(expr("(1 - exp) * (1 - pos)")).cast("long").as("d"))
      st.select(col("c_nationkey"), col("a"), col("b"), col("c"), col("d"),
          expr("""CASE WHEN a > 0 AND c > 0 THEN
                 |  CAST((CAST(1000000 AS DECIMAL(38,0)) * a * (c + d))
                 |    div (CAST(c AS DECIMAL(38,0)) * (a + b)) AS BIGINT)
                 |ELSE NULL END""".stripMargin).as("rr_ppm"),
          expr("""CASE WHEN a > 0 AND c > 0 THEN
                 |  CAST(round(1000000 * round(ln(
                 |    (CAST(a AS DOUBLE) * (c + d)) / (CAST(c AS DOUBLE) * (a + b))), 6)) AS BIGINT)
                 |ELSE NULL END""".stripMargin).as("ln_rr_micro"),
          expr("""CASE WHEN a > 0 AND c > 0 THEN
                 |  CAST(round(1000000 * round(sqrt(
                 |    CAST(b AS DOUBLE) / (CAST(a AS DOUBLE) * (a + b)) +
                 |    CAST(d AS DOUBLE) / (CAST(c AS DOUBLE) * (c + d))), 6)) AS BIGINT)
                 |ELSE NULL END""".stripMargin).as("se_micro"))
        .select(col("c_nationkey"), col("a"), col("b"), col("c"), col("d"),
          col("rr_ppm"), col("ln_rr_micro"), col("se_micro"),
          expr("ln_rr_micro - (196 * se_micro) div 100").as("ci_lo_micro"),
          expr("ln_rr_micro + (196 * se_micro) div 100").as("ci_hi_micro"),
          expr("""CASE WHEN se_micro IS NULL THEN NULL
                 |     WHEN ln_rr_micro - (196 * se_micro) div 100 > 0
                 |       OR ln_rr_micro + (196 * se_micro) div 100 < 0 THEN 1 ELSE 0 END"""
            .stripMargin).cast("long").as("significant"))
        .orderBy("c_nationkey")
    },

    // ----- McNemar's test: PAIRED classifier comparison -----
    // The correct way to compare two classifiers evaluated on the SAME
    // examples (a two-proportion z-test ignores the pairing and throws
    // away power): only the DISCORDANT pairs carry information —
    // b = (model A right, model B wrong), c = (A wrong, B right) —
    // and χ² = (b−c)²/(b+c). Models: the ≥4-line-count rule vs the
    // above-median-value rule, both predicting order returns; the
    // median enters as the exact value at the cross-multiplied rank
    // (2·rank > N — no float percentile), computed with a
    // calendar-free global TakeOrdered-free two-fold (count, then rank
    // filter via global row number on value). Pure integer end to end:
    // χ² in micro = (1e6·(b−c)²) // (b+c); both marginal accuracies
    // ride for the verdict. b + c = 0 (identical models) reports NULL.
    "eval_mcnemar" -> QueryDef.sql(
      """WITH lab AS (
        |  SELECT o.o_orderkey, CAST(floor(o.o_totalprice) AS BIGINT) AS v,
        |    CAST(CASE WHEN count(*) >= 4 THEN 1 ELSE 0 END AS BIGINT) AS y1,
        |    CAST(max(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS pos
        |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |  GROUP BY 1, 2),
        |mm AS (
        |  SELECT v AS med FROM (
        |    SELECT v, row_number() OVER (ORDER BY v, o_orderkey) AS rk,
        |      count(*) OVER () AS nn
        |    FROM lab) WHERE 2 * rk > nn ORDER BY rk LIMIT 1),
        |p AS (
        |  SELECT lab.o_orderkey, lab.pos, lab.y1,
        |    CAST(CASE WHEN lab.v > mm.med THEN 1 ELSE 0 END AS BIGINT) AS y2
        |  FROM lab CROSS JOIN mm),
        |g AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN y1 = pos AND y2 <> pos THEN 1 ELSE 0 END) AS BIGINT) AS b,
        |    CAST(sum(CASE WHEN y1 <> pos AND y2 = pos THEN 1 ELSE 0 END) AS BIGINT) AS c,
        |    CAST(sum(CASE WHEN y1 = pos THEN 1 ELSE 0 END) AS BIGINT) AS acc1_n,
        |    CAST(sum(CASE WHEN y2 = pos THEN 1 ELSE 0 END) AS BIGINT) AS acc2_n
        |  FROM p)
        |SELECT n, b, c,
        |  CAST((1000000 * acc1_n) // n AS BIGINT) AS acc1_ppm,
        |  CAST((1000000 * acc2_n) // n AS BIGINT) AS acc2_ppm,
        |  CASE WHEN b + c > 0
        |    THEN CAST((CAST(1000000 AS HUGEINT) * (b - c) * (b - c)) // (b + c) AS BIGINT)
        |    ELSE NULL END AS mcnemar_chi2_micro
        |FROM g""".stripMargin) { (s, d) =>
      val lab = orders(s, d)
        .join(lineitem(s, d), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderkey"), expr("CAST(floor(o_totalprice) AS BIGINT)").as("v"))
        .agg(expr("CAST(CASE WHEN count(*) >= 4 THEN 1 ELSE 0 END AS BIGINT)").as("y1"),
          expr("CAST(max(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT)")
            .as("pos"))
        .localCheckpoint() // feeds the median rank scan AND the pairing
      val (ranked, _) = graft.util.Scale.globalRowNumber(
        lab, Seq(col("v"), col("o_orderkey")), "rk")
      val nn = lab.agg(count(lit(1)).as("nn"))
      val mm = ranked.crossJoin(broadcast(nn))
        .filter(expr("2 * rk > nn")).orderBy("rk").limit(1)
        .select(col("v").as("med"))
      val g = lab.crossJoin(broadcast(mm))
        .select(col("pos"), col("y1"),
          expr("CAST(CASE WHEN v > med THEN 1 ELSE 0 END AS BIGINT)").as("y2"))
        .agg(count(lit(1)).as("n"),
          sum(expr("CASE WHEN y1 = pos AND y2 <> pos THEN 1 ELSE 0 END"))
            .cast("long").as("b"),
          sum(expr("CASE WHEN y1 <> pos AND y2 = pos THEN 1 ELSE 0 END"))
            .cast("long").as("c"),
          sum(expr("CASE WHEN y1 = pos THEN 1 ELSE 0 END")).cast("long").as("acc1_n"),
          sum(expr("CASE WHEN y2 = pos THEN 1 ELSE 0 END")).cast("long").as("acc2_n"))
      g.select(col("n"), col("b"), col("c"),
        expr("CAST((1000000 * acc1_n) div n AS BIGINT)").as("acc1_ppm"),
        expr("CAST((1000000 * acc2_n) div n AS BIGINT)").as("acc2_ppm"),
        expr("""CASE WHEN b + c > 0
               |  THEN CAST((CAST(1000000 AS DECIMAL(38,0)) * (b - c) * (b - c))
               |    div (b + c) AS BIGINT)
               |  ELSE NULL END""".stripMargin).as("mcnemar_chi2_micro"))
    },

    // ----- Brown–Forsythe: variance-equality across order priorities -----
    // The precondition check behind every pooled-variance comparison
    // the experimentation family runs: are order-value spreads even
    // COMPARABLE across the 5 priority classes? Brown–Forsythe is
    // Levene's test on deviations from the group MEDIAN (robust to the
    // heavy tails that invalidate the mean version). Exactness: group
    // medians are exact order statistics at the cross-multiplied rank
    // (2·rank > n_g, priority-keyed window — never global); absolute
    // deviations are BIGINTs; group means of deviations enter as
    // ONCE-floored micro values, so the between/within sums are pure
    // integer arithmetic (documented estimator variant — both engines
    // floor identically), DECIMAL-widened where n_g·Σz² passes BIGINT.
    // Between/within accumulate in WHOLE squared units inside DECIMAL
    // (micro-scaling a variance-magnitude sum passes BIGINT at sf0.01
    // already — found as a live ANSI overflow); the emitted components
    // are thousandths, W lands in micro with the (N−k)/(k−1) scaling.
    "ab_brown_forsythe" -> QueryDef.sql(
      """WITH x AS (
        |  SELECT o_orderpriority AS grp, CAST(floor(o_totalprice) AS BIGINT) AS v,
        |    o_orderkey
        |  FROM orders),
        |r AS (SELECT grp, v,
        |        row_number() OVER (PARTITION BY grp ORDER BY v, o_orderkey) AS rk,
        |        count(*) OVER (PARTITION BY grp) AS ng
        |      FROM x),
        |med AS (
        |  SELECT grp, min(v) AS med FROM r WHERE 2 * rk > ng GROUP BY grp),
        |z AS (
        |  SELECT x.grp, abs(x.v - med.med) AS z
        |  FROM x JOIN med ON med.grp = x.grp),
        |g AS (
        |  SELECT grp, CAST(count(*) AS BIGINT) AS ng, CAST(sum(z) AS BIGINT) AS sz,
        |    CAST(sum(z * z) AS BIGINT) AS sz2,
        |    CAST((1000000 * CAST(sum(z) AS HUGEINT)) // count(*) AS BIGINT) AS zbar_micro
        |  FROM z GROUP BY 1),
        |t AS (
        |  SELECT CAST(sum(ng) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS k,
        |    CAST((1000000 * CAST(sum(sz) AS HUGEINT)) // sum(ng) AS BIGINT) AS zbar_all_micro
        |  FROM g),
        |parts AS (
        |  SELECT
        |    sum(CAST(g.ng AS HUGEINT) * (g.zbar_micro - t.zbar_all_micro)
        |      * (g.zbar_micro - t.zbar_all_micro) // 1000000000000) AS between_w,
        |    sum((CAST(g.ng AS HUGEINT) * g.sz2 - CAST(g.sz AS HUGEINT) * g.sz) // g.ng)
        |      AS within_w,
        |    max(t.n) AS n, max(t.k) AS k
        |  FROM g CROSS JOIN t)
        |SELECT n, k,
        |  CAST(between_w // 1000 AS BIGINT) AS between_k,
        |  CAST(within_w // 1000 AS BIGINT) AS within_k,
        |  CASE WHEN within_w > 0 THEN
        |    CAST((CAST(n - k AS HUGEINT) * 1000000 * between_w)
        |      // (CAST(k - 1 AS HUGEINT) * within_w) AS BIGINT)
        |  ELSE NULL END AS bf_w_micro
        |FROM parts""".stripMargin) { (s, d) =>
      val x = orders(s, d).select(col("o_orderpriority").as("grp"),
        expr("CAST(floor(o_totalprice) AS BIGINT)").as("v"), col("o_orderkey"))
        .localCheckpoint() // feeds the rank scan and the deviation join
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("grp").orderBy("v", "o_orderkey")
      val med = x.select(col("grp"), col("v"),
          row_number().over(w).as("rk"),
          count(lit(1)).over(org.apache.spark.sql.expressions.Window
            .partitionBy("grp")).as("ng"))
        .filter(expr("2 * rk > ng")).groupBy("grp").agg(min("v").as("med"))
      val z = x.join(broadcast(med), Seq("grp"))
        .select(col("grp"), abs(col("v") - col("med")).as("z"))
      val g = z.groupBy("grp")
        .agg(count(lit(1)).as("ng"), sum("z").cast("long").as("sz"),
          sum(expr("z * z")).cast("long").as("sz2"))
        .select(col("grp"), col("ng"), col("sz"), col("sz2"),
          expr("CAST((1000000 * CAST(sz AS DECIMAL(38,0))) div ng AS BIGINT)")
            .as("zbar_micro"))
        .localCheckpoint() // ≤5 rows; feeds the total and the parts fold
      val t = g.agg(sum("ng").cast("long").as("n"), count(lit(1)).as("k"),
        expr("CAST((1000000 * CAST(sum(sz) AS DECIMAL(38,0))) div sum(ng) AS BIGINT)")
          .as("zbar_all_micro"))
      val parts = g.crossJoin(broadcast(t))
        .agg(
          sum(expr("""CAST(ng AS DECIMAL(38,0)) * (zbar_micro - zbar_all_micro)
                     |  * (zbar_micro - zbar_all_micro) div 1000000000000"""
            .stripMargin)).as("between_w"),
          sum(expr("""(CAST(ng AS DECIMAL(38,0)) * sz2 - CAST(sz AS DECIMAL(38,0)) * sz)
                     |  div ng""".stripMargin)).as("within_w"),
          max("n").as("n"), max("k").as("k"))
      parts.select(col("n"), col("k"),
        expr("CAST(between_w div 1000 AS BIGINT)").as("between_k"),
        expr("CAST(within_w div 1000 AS BIGINT)").as("within_k"),
        expr("""CASE WHEN within_w > 0 THEN
               |  CAST((CAST(n - k AS DECIMAL(38,0)) * 1000000 * between_w)
               |    div (CAST(k - 1 AS DECIMAL(38,0)) * within_w) AS BIGINT)
               |ELSE NULL END""".stripMargin).as("bf_w_micro"))
    },
  )
}
