package graft.operators

import graft.QueryDef
import graft.util.Tables._
import org.apache.spark.sql.functions._

/** Storage-layout optimization: Z-order (Morton) clustering of the
  * event stream on (time, user) — the multi-dimensional generalization
  * of the band-partitioned / bucketed layouts the cube store already
  * uses, and the layout trick behind Delta/Iceberg `ZORDER BY`.
  *
  * A single-column sort prunes scans on ONE predicate dimension; bit
  * interleaving the two bucket coordinates puts rows close in (t, u)
  * space close in file order, so min/max file statistics prune scans on
  * EITHER dimension. The query emits, per Z-bucket, exactly those
  * file-level statistics (count + min/max of both coordinates) — the
  * artifact a writer would hand to `repartitionByRange(z)` and a reader
  * would prune with. All-integer (bucket, shift, mask) arithmetic,
  * hash-exact on both engines.
  */
object LayoutQueries {

  private val Bits = 4 // 16×16 grid → 256 Z-buckets

  private def zSpark: String =
    (0 until Bits).map(i =>
      s"shiftleft(shiftright(x, $i) & 1, ${2 * i}) + shiftleft(shiftright(y, $i) & 1, ${2 * i + 1})")
      .mkString(" + ")

  private def zDuck: String =
    (0 until Bits).map(i =>
      s"(((x >> $i) & 1) << ${2 * i}) + (((y >> $i) & 1) << ${2 * i + 1})")
      .mkString(" + ")

  /** Add column `h` = Hilbert index of (`x`, `y`) on the 16×16 grid —
    * the standard xy2d bit loop (4 unrolled reflect-rotate stages; the
    * 15−coord reflection is a bitwise NOT, so using the full-grid
    * constant at every stage is exact). Carries `x`/`y` through
    * untouched; the rotation runs on scratch columns. Exposed for the
    * adjacency/bijectivity spec. */
  def withHilbert(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    var cur = df.withColumn("_hx", col("x")).withColumn("_hy", col("y"))
      .withColumn("h", lit(0L))
    for (s <- Seq(8L, 4L, 2L, 1L)) {
      val rx = when(col("_hx").bitwiseAND(lit(s)) > 0, 1L).otherwise(0L)
      val ry = when(col("_hy").bitwiseAND(lit(s)) > 0, 1L).otherwise(0L)
      cur = cur.select(
        col("*"),
        rx.as("_rx"), ry.as("_ry"),
      ).select(
        df.columns.map(col) :+
          (col("h") + lit(s * s) * (lit(3L) * col("_rx")).bitwiseXOR(col("_ry"))).as("_h2") :+
          when(col("_ry") === 0,
            when(col("_rx") === 1, lit(15L) - col("_hy")).otherwise(col("_hy")))
            .otherwise(col("_hx")).as("_hx2") :+
          when(col("_ry") === 0,
            when(col("_rx") === 1, lit(15L) - col("_hx")).otherwise(col("_hx")))
            .otherwise(col("_hy")).as("_hy2"): _*)
        .withColumnRenamed("_h2", "h")
        .withColumnRenamed("_hx2", "_hx")
        .withColumnRenamed("_hy2", "_hy")
    }
    cur.drop("_hx", "_hy")
  }

  /** The same 4 xy2d stages as DuckDB CTEs over table `xy` (x, y):
    * produces `hcte` with (x, y, h) — original coords preserved, the
    * rotation on scratch columns hx/hy. */
  private def hilbertDuckCtes: String = {
    val base = "g0 AS (SELECT x, y, x AS hx, y AS hy, 0 AS dd FROM xy)"
    val stages = Seq(8, 4, 2, 1).zipWithIndex.map { case (s, i) =>
      s"""g${i + 1} AS (
         |  SELECT x, y,
         |    CASE WHEN (hy & $s) = 0 THEN
         |      (CASE WHEN (hx & $s) > 0 THEN 15 - hy ELSE hy END)
         |    ELSE hx END AS hx,
         |    CASE WHEN (hy & $s) = 0 THEN
         |      (CASE WHEN (hx & $s) > 0 THEN 15 - hx ELSE hx END)
         |    ELSE hy END AS hy,
         |    dd + ${s * s} * xor(3 * (CASE WHEN (hx & $s) > 0 THEN 1 ELSE 0 END),
         |                        (CASE WHEN (hy & $s) > 0 THEN 1 ELSE 0 END)) AS dd
         |  FROM g$i)""".stripMargin
    }
    (base +: stages :+ "hcte AS (SELECT x, y, CAST(dd AS BIGINT) AS h FROM g4)").mkString(",\n")
  }

  def defs: Map[String, QueryDef] = Map(

    // ----- length-curriculum training order -----
    // The Shortformer-style sequence-length curriculum: training reads
    // documents in phase order (short sequences first — phases are
    // 64-token-wide length bands, capped at 3) with a deterministic LCG
    // shuffle INSIDE each phase, so early optimization sees cheap short
    // batches while order within a phase stays unbiased. The global
    // position is the two-pass distributed prefix-sum row number
    // (`Scale.globalRowNumber`) — never a single-partition window —
    // over (phase, shuffle key, doc_id); the same infrastructure as
    // shuffle_order, composed with curriculum semantics.
    "curriculum_order" -> QueryDef.sql(
      s"""WITH k AS (
         |  SELECT doc_id,
         |    least(CAST(len(string_split_regex(trim(lower(text)), '\\s+')) AS BIGINT) // 64, 3) AS phase,
         |    ${CurationQueries.LcgSql} AS k
         |  FROM documents)
         |SELECT doc_id, phase,
         |  CAST(row_number() OVER (ORDER BY phase, k, doc_id) AS BIGINT) AS position
         |FROM k ORDER BY doc_id""".stripMargin) { (s, d) =>
      val keyed = documents(s, d).select(col("doc_id"),
        least(expr(s"CAST(size(${TextQueries.toksExpr}) AS BIGINT) div 64"), lit(3L)).as("phase"),
        expr(CurationQueries.LcgSql).as("k"))
      val (ranked, _) = graft.util.Scale.globalRowNumber(
        keyed, Seq(col("phase"), col("k"), col("doc_id")), "position")
      ranked.select("doc_id", "phase", "position").orderBy("doc_id")
    },

    // ----- Column-encoding advisor: DICT/RLE stats per layout -----
    // The writer-side twin of the scan-side skipping report: for each
    // candidate lineitem column, the exact statistics a columnar writer
    // picks encodings from — NDV (dictionary viability) and RUN COUNT
    // under two physical layouts: the natural (l_orderkey, linenumber)
    // insertion order and a (returnflag, linestatus) sort. The verdict
    // is the point: sorting collapses the two low-cardinality columns
    // from ~N/2 runs to single-digit runs (RLE gold, ~2e6 milli avg run
    // length) while leaving the high-NDV columns untouched — exactly
    // the measured evidence a `ZORDER/sortWithinPartitions` decision
    // needs, not a cardinality guess. Scale shape: global positions
    // come from Scale.globalRowNumber (ranged, no single-partition
    // window) and adjacent-pair run counting is a rank-offset
    // EQUI-join (the er_sorted_neighborhood pattern) — every stage
    // hash-partitions. Determinism: doubles quantize to exact integers
    // BEFORE the varchar union (quantity is integral, discount is
    // hundredths), so value equality never touches engine float
    // formatting; ranks are total (unique tiebreak), so run counts are
    // layout facts, not tie accidents.
    "layout_encoding_advisor" -> QueryDef.sql(
      """WITH l AS (
        |  SELECT l_orderkey, l_linenumber, l_returnflag, l_linestatus,
        |    l_returnflag AS c_returnflag,
        |    l_linestatus AS c_linestatus,
        |    CAST(CAST(l_quantity AS BIGINT) AS VARCHAR) AS c_quantity,
        |    CAST(CAST(round(l_discount * 100) AS BIGINT) AS VARCHAR) AS c_discount,
        |    CAST(l_partkey AS VARCHAR) AS c_partkey
        |  FROM lineitem),
        |r AS (SELECT *,
        |    row_number() OVER (ORDER BY l_orderkey, l_linenumber, c_partkey,
        |      c_quantity, c_discount, c_returnflag, c_linestatus) AS rkn,
        |    row_number() OVER (ORDER BY l_returnflag, l_linestatus, l_orderkey,
        |      l_linenumber, c_partkey, c_quantity, c_discount) AS rks
        |  FROM l),
        |cols AS (
        |  SELECT 'l_returnflag' AS col, c_returnflag AS v, rkn, rks FROM r
        |  UNION ALL SELECT 'l_linestatus', c_linestatus, rkn, rks FROM r
        |  UNION ALL SELECT 'l_quantity', c_quantity, rkn, rks FROM r
        |  UNION ALL SELECT 'l_discount', c_discount, rkn, rks FROM r
        |  UNION ALL SELECT 'l_partkey', c_partkey, rkn, rks FROM r),
        |rn AS (
        |  SELECT a.col, CAST(sum(CASE WHEN a.v <> b.v THEN 1 ELSE 0 END) AS BIGINT) AS chg
        |  FROM cols a JOIN cols b ON a.col = b.col AND b.rkn = a.rkn + 1 GROUP BY 1),
        |rs AS (
        |  SELECT a.col, CAST(sum(CASE WHEN a.v <> b.v THEN 1 ELSE 0 END) AS BIGINT) AS chg
        |  FROM cols a JOIN cols b ON a.col = b.col AND b.rks = a.rks + 1 GROUP BY 1),
        |nd AS (
        |  SELECT col, CAST(count(*) AS BIGINT) AS n, CAST(count(DISTINCT v) AS BIGINT) AS ndv
        |  FROM cols GROUP BY 1)
        |SELECT nd.col, nd.n, nd.ndv,
        |  rn.chg + 1 AS runs_natural, rs.chg + 1 AS runs_sorted,
        |  CAST((1000 * nd.n) // (rs.chg + 1) AS BIGINT) AS avg_sorted_run_milli,
        |  CASE WHEN nd.ndv <= 64 AND (1000 * nd.n) // (rs.chg + 1) >= 4000 THEN 'SORT_RLE_DICT'
        |       WHEN nd.ndv <= 4096 THEN 'DICT'
        |       ELSE 'PLAIN' END AS advice
        |FROM nd JOIN rn ON nd.col = rn.col JOIN rs ON nd.col = rs.col
        |ORDER BY nd.col""".stripMargin) { (s, d) =>
      val l = lineitem(s, d).select(
        col("l_orderkey"), col("l_linenumber"),
        col("l_returnflag"), col("l_linestatus"),
        col("l_returnflag").as("c_returnflag"),
        col("l_linestatus").as("c_linestatus"),
        col("l_quantity").cast("long").cast("string").as("c_quantity"),
        round(col("l_discount") * 100).cast("long").cast("string").as("c_discount"),
        col("l_partkey").cast("string").as("c_partkey"))
      // (l_orderkey, l_linenumber) is NOT unique in this testdata, so
      // both orders extend through every advised column: any remaining
      // tie is a row identical in all of them, making run counts
      // permutation-invariant (a layout fact, not a tie accident)
      val (rn0, _) = graft.util.Scale.globalRowNumber(
        l, Seq(col("l_orderkey"), col("l_linenumber"), col("c_partkey"),
          col("c_quantity"), col("c_discount"), col("c_returnflag"),
          col("c_linestatus")), "rkn")
      val (r, _) = graft.util.Scale.globalRowNumber(
        rn0, Seq(col("l_returnflag"), col("l_linestatus"),
          col("l_orderkey"), col("l_linenumber"), col("c_partkey"),
          col("c_quantity"), col("c_discount")), "rks")
      // ONE adjacency join per layout carrying all five value columns
      // on a LONG rank key, then five conditional sums — the first
      // generation unioned the table ×5 into (col, v) STRING-keyed rows
      // and self-joined THAT (30M rows through each exchange at sf0.1;
      // 9.8 s). Same run counts, one 6M long-keyed join per layout.
      val vcols = Seq("c_returnflag", "c_linestatus", "c_quantity",
        "c_discount", "c_partkey")
      val labels = Seq("l_returnflag", "l_linestatus", "l_quantity",
        "l_discount", "l_partkey")
      val rr = r.localCheckpoint() // 3 consumers: two run joins + NDV agg
      def runChanges(rk: String, out: String) = {
        val a = rr.select((col(rk) + 1).as("rj") +:
          vcols.map(c => col(c).as(s"a_$c")): _*)
        val b = rr.select(col(rk).as("rj") +: vcols.map(c => col(c).as(s"b_$c")): _*)
        val sums = vcols.zipWithIndex.map { case (c, i) =>
          sum(when(col(s"a_$c") =!= col(s"b_$c"), 1L).otherwise(0L)).as(s"chg_$i")
        }
        val agg = a.join(b, Seq("rj")).agg(sums.head, sums.tail: _*)
        agg.selectExpr("stack(5, " +
          labels.zipWithIndex.map { case (lb, i) => s"'$lb', chg_$i" }
            .mkString(", ") + s") AS (col, $out)")
      }
      val rn = runChanges("rkn", "chgn")
      val rs = runChanges("rks", "chgs")
      val nd = rr.agg(count(lit(1)).as("n"),
          vcols.zipWithIndex.map { case (c, i) =>
            countDistinct(col(c)).as(s"ndv_$i") }: _*)
        .selectExpr("stack(5, " +
          labels.zipWithIndex.map { case (lb, i) => s"'$lb', n, ndv_$i" }
            .mkString(", ") + ") AS (col, n, ndv)")
      nd.join(broadcast(rn), Seq("col")).join(broadcast(rs), Seq("col"))
        .select(col("col"), col("n"), col("ndv"),
          (col("chgn") + 1).as("runs_natural"),
          (col("chgs") + 1).as("runs_sorted"),
          expr("(1000 * n) div (chgs + 1)").as("avg_sorted_run_milli"),
          when(col("ndv") <= 64 &&
              expr("(1000 * n) div (chgs + 1)") >= 4000, "SORT_RLE_DICT")
            .when(col("ndv") <= 4096, "DICT")
            .otherwise("PLAIN").as("advice"))
        .orderBy("col")
    },

    // ----- Z-order bucket layout + its pruning statistics -----
    // x = stream hour offset (capped at 15), y = user shard (mod 16);
    // z interleaves their bits. The min/max spans in the output are
    // tight in BOTH dimensions per bucket — the property that makes
    // file skipping work for time-range AND user-equality predicates at
    // once. One stateless projection (the 1-row min-hour aggregate
    // broadcasts) + one 256-bucket aggregate.
    "zorder_layout" -> QueryDef.sql(
      s"""WITH e AS (SELECT epoch_us(ts) // 3600000000 AS hr, user_id FROM events),
         |m AS (SELECT min(hr) AS h0 FROM e),
         |xy AS (SELECT least(hr - m.h0, 15) AS x, ((user_id % 16) + 16) % 16 AS y
         |       FROM e CROSS JOIN m),
         |zb AS (SELECT ($zDuck) AS z, x, y FROM xy)
         |SELECT z, CAST(count(*) AS BIGINT) AS n_events,
         |  min(x) AS min_x, max(x) AS max_x, min(y) AS min_y, max(y) AS max_y
         |FROM zb GROUP BY z ORDER BY z""".stripMargin) { (s, d) =>
      // hour from floored µs + truncating div ≡ the oracle's
      // epoch_us(ts) // 3600000000 for every sign/precision (see
      // event_anomaly_mad); pmod on the Spark side ≡ the oracle's
      // ((user_id % 16) + 16) % 16 for all signs.
      val e = events(s, d).select(
        expr(s"(${graft.util.Tables.epochUsFloorSql}) div 3600000000").as("hr"),
        col("user_id"))
      val m = e.agg(min("hr").as("h0"))
      e.crossJoin(broadcast(m))
        .select(least(col("hr") - col("h0"), lit(15L)).as("x"),
          pmod(col("user_id"), lit(16L)).as("y"))
        .select(expr(zSpark).as("z"), col("x"), col("y"))
        .groupBy("z")
        .agg(count(lit(1)).as("n_events"),
          min("x").as("min_x"), max("x").as("max_x"),
          min("y").as("min_y"), max("y").as("max_y"))
        .orderBy("z")
    },

    // ----- Hilbert-curve layout: Morton's better-locality sibling -----
    // Same 16×16 (hour, user) grid as zorder_layout, ordered by the
    // Hilbert index instead of the Morton code. Both curves fill 4×4
    // tiles per 16-code block (so per-file min/max stats — and the
    // skipping report's numbers — are identical); the difference is
    // JUMP locality, and it is a theorem, not a tendency: consecutive
    // Hilbert codes are ALWAYS Manhattan-distance-1 neighbors
    // (spec-proven over the full grid), while consecutive Morton codes
    // jump up to 15 cells at tile boundaries. That is what makes
    // Hilbert the better range-scan order: a reader sweeping codes
    // crosses file boundaries into ADJACENT regions, keeping range
    // predicates' working sets contiguous. Emitted artifact mirrors
    // zorder_layout: per-bucket counts + coordinate spans.
    "hilbert_layout" -> QueryDef.sql(
      s"""WITH e AS (SELECT epoch_us(ts) // 3600000000 AS hr, user_id FROM events),
         |m AS (SELECT min(hr) AS h0 FROM e),
         |xy AS (SELECT least(hr - m.h0, 15) AS x, ((user_id % 16) + 16) % 16 AS y
         |       FROM e CROSS JOIN m),
         |$hilbertDuckCtes
         |SELECT h, CAST(count(*) AS BIGINT) AS n_events,
         |  min(x) AS min_x, max(x) AS max_x, min(y) AS min_y, max(y) AS max_y
         |FROM hcte GROUP BY h ORDER BY h""".stripMargin) { (s, d) =>
      val e = events(s, d).select(
        expr(s"(${graft.util.Tables.epochUsFloorSql}) div 3600000000").as("hr"),
        col("user_id"))
      val m = e.agg(min("hr").as("h0"))
      val xy = e.crossJoin(broadcast(m))
        .select(least(col("hr") - col("h0"), lit(15L)).as("x"),
          pmod(col("user_id"), lit(16L)).as("y"))
      withHilbert(xy)
        .groupBy("h")
        .agg(count(lit(1)).as("n_events"),
          min("x").as("min_x"), max("x").as("max_x"),
          min("y").as("min_y"), max("y").as("max_y"))
        .orderBy("h")
    },

    // ----- data-skipping effectiveness: Z-order vs single-dim sort -----
    // The report that decides WHETHER to Z-order, with numbers instead
    // of folklore: the same (x, y) rows are laid into 16 files two ways
    // — hour-sorted (file = x) and Z-ordered (file = 16 consecutive
    // Morton codes = one 4×4 tile) — and each file's min/max stats are
    // probed with every single-dimension point predicate, the way a
    // reader actually prunes. The emitted matrix is the tradeoff
    // itself: the sorted layout answers x-probes with ~1 file but
    // y-probes with ALL files (y stats span everything in every file);
    // the Z layout pays ~4 files on BOTH dimensions. Multi-dim probe
    // workloads buy Z-order exactly when sum-over-dims beats the
    // worst-dim blowup — this query prices that, per corpus, from the
    // same stats a writer would persist. All-integer; avg in milli.
    "layout_skipping_report" -> QueryDef.sql(
      s"""WITH e AS (SELECT epoch_us(ts) // 3600000000 AS hr, user_id FROM events),
         |m AS (SELECT min(hr) AS h0 FROM e),
         |xy AS (SELECT least(hr - m.h0, 15) AS x, ((user_id % 16) + 16) % 16 AS y
         |       FROM e CROSS JOIN m),
         |zb AS (SELECT ($zDuck) AS z, x, y FROM xy),
         |files AS (
         |  SELECT 'hour_sorted' AS layout, x AS f, min(x) AS min_x, max(x) AS max_x,
         |    min(y) AS min_y, max(y) AS max_y
         |  FROM zb GROUP BY x
         |  UNION ALL
         |  SELECT 'zorder', z // 16, min(x), max(x), min(y), max(y)
         |  FROM zb GROUP BY z // 16),
         |probes AS (SELECT unnest(generate_series(0, 15)) AS p),
         |scans AS (
         |  SELECT f.layout, 'x' AS probe_dim, p.p,
         |    CAST(count(CASE WHEN p.p BETWEEN f.min_x AND f.max_x THEN 1 END) AS BIGINT) AS nf
         |  FROM probes p CROSS JOIN files f GROUP BY 1, 2, 3
         |  UNION ALL
         |  SELECT f.layout, 'y', p.p,
         |    CAST(count(CASE WHEN p.p BETWEEN f.min_y AND f.max_y THEN 1 END) AS BIGINT)
         |  FROM probes p CROSS JOIN files f GROUP BY 1, 2, 3)
         |SELECT layout, probe_dim,
         |  CAST((SELECT count(*) FROM files ff WHERE ff.layout = scans.layout) AS BIGINT) AS n_files,
         |  CAST(sum(nf) AS BIGINT) AS files_scanned_total,
         |  CAST((1000 * sum(nf)) // count(*) AS BIGINT) AS avg_files_milli
         |FROM scans GROUP BY layout, probe_dim
         |ORDER BY layout, probe_dim""".stripMargin) { (s, d) =>
      import s.implicits._
      val e = events(s, d).select(
        expr(s"(${graft.util.Tables.epochUsFloorSql}) div 3600000000").as("hr"),
        col("user_id"))
      val m = e.agg(min("hr").as("h0"))
      val zb = e.crossJoin(broadcast(m))
        .select(least(col("hr") - col("h0"), lit(15L)).as("x"),
          pmod(col("user_id"), lit(16L)).as("y"))
        .select(expr(zSpark).as("z"), col("x"), col("y"))
      def stats(layout: String, fileKey: org.apache.spark.sql.Column) =
        zb.groupBy(fileKey.as("f"))
          .agg(min("x").as("min_x"), max("x").as("max_x"),
            min("y").as("min_y"), max("y").as("max_y"))
          .select(lit(layout).as("layout"), col("f"),
            col("min_x"), col("max_x"), col("min_y"), col("max_y"))
      val files = stats("hour_sorted", col("x"))
        .unionByName(stats("zorder", expr("z div 16")))
        .localCheckpoint()
      val probes = (0L to 15L).toDF("p")
      def scansOf(dim: String, lo: String, hi: String) =
        probes.crossJoin(files)
          .groupBy(col("layout"), lit(dim).as("probe_dim"), col("p"))
          .agg(count(when(col("p").between(col(lo), col(hi)), 1)).as("nf"))
      val nFiles = files.groupBy("layout").agg(count(lit(1)).as("n_files"))
      scansOf("x", "min_x", "max_x").unionByName(scansOf("y", "min_y", "max_y"))
        .groupBy("layout", "probe_dim")
        .agg(sum("nf").as("files_scanned_total"), count(lit(1)).as("np"))
        .join(broadcast(nFiles), Seq("layout"))
        .select(col("layout"), col("probe_dim"), col("n_files"),
          col("files_scanned_total"),
          expr("(1000 * files_scanned_total) div np").as("avg_files_milli"))
        .orderBy("layout", "probe_dim")
    },

    // ----- V-optimal histogram vs equi-depth (Jagadish et al., VLDB'98) -----
    // The histogram a cost-based optimizer actually wants: k=8 buckets
    // over the l_quantity value alphabet placed to MINIMIZE total
    // within-bucket frequency variance (the V-optimal criterion), built
    // by exact dynamic programming over the BOUNDED alphabet (≤50
    // distinct quantities at any corpus size — the DP is O(B²k) on ~50
    // values, driver-side, the ipfWeights/attribution_markov bounded-
    // fold precedent), then compared against the equi-depth cut a naive
    // writer would use. Exactness at any scale: frequencies enter as
    // ONCE-floored ppm shares (counts are corpus-scale; their squares
    // are not emittable), cost(a,b) = len·Σg² − (Σg)² ≤ 2.5e15 stays in
    // BIGINT forever, the DP tie-breaks to the SMALLEST split point via
    // the pick = (e·64 + m) encoding (m ≤ 50 < 64), and equi-depth cuts
    // at cross-multiplied thresholds (cum·8 ≥ j·N — no division). The
    // oracle replays the identical DP as 8 MATERIALIZED levels plus an
    // 8-step backtrack. The emitted verdict: the V-optimal total cost
    // is ≤ equi-depth's by construction — the measured gap is what the
    // layout buys.
    "layout_voptimal_histogram" -> QueryDef.sql(VoptOracleSql) { (s, d) =>
      val fr = lineitem(s, d)
        .select(expr("CAST(floor(l_quantity) AS BIGINT)").as("v"))
        .groupBy("v").agg(count(lit(1)).as("f"))
        .collect() // bounded: the l_quantity alphabet (≤50 values)
        .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
      val n = fr.map(_._2).sum
      val bCnt = fr.length
      val g = fr.map { case (_, f) => ((BigInt(1000000) * f) / n).toLong }
      val sg = g.scanLeft(0L)(_ + _) // sg(i) = Σ g(0..i-1)
      val sg2 = g.scanLeft(0L)((a, x) => a + x * x)
      val cf = fr.map(_._2).scanLeft(0L)(_ + _)
      // cost over 1-based inclusive [a, b]
      def cost(a: Int, b: Int): Long =
        (b - a + 1).toLong * (sg2(b) - sg2(a - 1)) -
          (sg(b) - sg(a - 1)) * (sg(b) - sg(a - 1))
      val K = 8
      // e(j)(i) = best cost of covering values 1..i with j buckets;
      // m(j)(i) = the chosen previous boundary (smallest on ties)
      val e = Array.fill(K + 1, bCnt + 1)(Long.MaxValue / 4)
      val m = Array.fill(K + 1, bCnt + 1)(0)
      for (i <- 1 to bCnt) { e(1)(i) = cost(1, i); m(1)(i) = 0 }
      for (j <- 2 to K; i <- j to bCnt) {
        var best = Long.MaxValue / 4
        var bm = 0
        for (mm <- (j - 1) to (i - 1)) {
          val pick = (e(j - 1)(mm) + cost(mm + 1, i)) * 64 + mm
          if (pick < best) { best = pick; bm = mm }
        }
        e(j)(i) = best / 64; m(j)(i) = bm
      }
      // backtrack the 8 v-optimal buckets (1-based index ranges)
      val vb = new Array[(Int, Int)](K)
      var hi = bCnt
      for (j <- K to 1 by -1) { val lo = m(j)(hi) + 1; vb(j - 1) = (lo, hi); hi = lo - 1 }
      // equi-depth: bd(j) = smallest i with cum·8 ≥ j·n
      val bd = (1 to K).map(j => (1 to bCnt).find(i => cf(i) * 8 >= j * n).get)
      val eb = (1 to K).flatMap { j =>
        val lo = (if (j == 1) 0 else bd(j - 2)) + 1
        if (lo <= bd(j - 1)) Some((j, lo, bd(j - 1))) else None
      }
      def row(method: String, id: Long, lo: Int, h: Int) =
        (method, id, fr(lo - 1)._1, fr(h - 1)._1, (h - lo + 1).toLong, cost(lo, h))
      val vrows = vb.zipWithIndex.map { case ((lo, h), i) =>
        row("voptimal", (i + 1).toLong, lo, h)
      }.toSeq
      val erows = eb.map { case (j, lo, h) => row("equidepth", j.toLong, lo, h) }
      val totals = Seq(
        ("voptimal_total", 0L, fr.head._1, fr.last._1, bCnt.toLong,
          vrows.map(_._6).sum),
        ("equidepth_total", 0L, fr.head._1, fr.last._1, bCnt.toLong,
          erows.map(_._6).sum))
      import s.implicits._
      (vrows ++ erows ++ totals)
        .toDF("method", "bucket_id", "lo_v", "hi_v", "n_vals", "cost")
        .orderBy("method", "bucket_id")
    },
  )

  /** The v-optimal DP replayed relationally: 8 MATERIALIZED levels
    * (pick = (e_prev + cost)·64 + m — min picks smallest cost then
    * smallest split), an 8-step backtrack, the equi-depth cut, and the
    * bucket/total rows. */
  private val VoptOracleSql: String = {
    val levels = (2 to 8).map { j =>
      s"""e$j AS MATERIALIZED (
         |  SELECT c.b AS i,
         |    CAST(min((p.e + c.cost) * 64 + p.i) // 64 AS BIGINT) AS e,
         |    CAST(min((p.e + c.cost) * 64 + p.i) % 64 AS BIGINT) AS m
         |  FROM e${j - 1} p JOIN c ON c.a = p.i + 1 GROUP BY c.b)""".stripMargin
    }.mkString(",\n")
    val track = (7 to 1 by -1).map { j =>
      s"""t$j AS MATERIALIZED (
         |  SELECT e.i AS hi, e.m AS lo_m FROM e$j e JOIN t${j + 1} t ON e.i = t.lo_m)"""
        .stripMargin
    }.mkString(",\n")
    val vbRows = (1 to 8).map(j =>
      s"SELECT $j AS bucket_id, t$j.lo_m + 1 AS lo, t$j.hi AS hi FROM t$j")
      .mkString("\n  UNION ALL ")
    s"""WITH q AS (SELECT CAST(floor(l_quantity) AS BIGINT) AS v FROM lineitem),
       |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM q),
       |f AS (SELECT v, CAST(count(*) AS BIGINT) AS f FROM q GROUP BY v),
       |r AS (SELECT v, f, CAST(row_number() OVER (ORDER BY v) AS BIGINT) AS i,
       |        CAST((CAST(1000000 AS HUGEINT) * f) // nn.n AS BIGINT) AS g
       |      FROM f CROSS JOIN nn),
       |ps AS (SELECT i, v, f, g,
       |        CAST(sum(g) OVER (ORDER BY i) AS BIGINT) AS sg,
       |        CAST(sum(g * g) OVER (ORDER BY i) AS BIGINT) AS sg2,
       |        CAST(sum(f) OVER (ORDER BY i) AS BIGINT) AS cf
       |      FROM r),
       |c AS MATERIALIZED (
       |  SELECT a.i AS a, b.i AS b,
       |    (b.i - a.i + 1) * (b.sg2 - coalesce(a0.sg2, 0)) -
       |      (b.sg - coalesce(a0.sg, 0)) * (b.sg - coalesce(a0.sg, 0)) AS cost
       |  FROM ps a JOIN ps b ON b.i >= a.i
       |  LEFT JOIN ps a0 ON a0.i = a.i - 1),
       |e1 AS MATERIALIZED (
       |  SELECT b AS i, cost AS e, CAST(0 AS BIGINT) AS m FROM c WHERE a = 1),
       |$levels,
       |bb AS (SELECT max(i) AS bi FROM ps),
       |t8 AS MATERIALIZED (
       |  SELECT e.i AS hi, e.m AS lo_m FROM e8 e JOIN bb ON e.i = bb.bi),
       |$track,
       |vb AS ($vbRows),
       |vrows AS (
       |  SELECT 'voptimal' AS method, CAST(vb.bucket_id AS BIGINT) AS bucket_id,
       |    lo_ps.v AS lo_v, hi_ps.v AS hi_v,
       |    CAST(vb.hi - vb.lo + 1 AS BIGINT) AS n_vals, c.cost
       |  FROM vb JOIN ps lo_ps ON lo_ps.i = vb.lo
       |  JOIN ps hi_ps ON hi_ps.i = vb.hi
       |  JOIN c ON c.a = vb.lo AND c.b = vb.hi),
       |edb AS (
       |  SELECT g.j, min(ps.i) AS bd
       |  FROM generate_series(1, 8) g(j), ps, nn
       |  WHERE ps.cf * 8 >= g.j * nn.n GROUP BY g.j),
       |edp AS (
       |  SELECT e.j, coalesce(p.bd, 0) + 1 AS lo, e.bd AS hi
       |  FROM edb e LEFT JOIN edb p ON p.j = e.j - 1),
       |erows AS (
       |  SELECT 'equidepth' AS method, CAST(edp.j AS BIGINT) AS bucket_id,
       |    lo_ps.v AS lo_v, hi_ps.v AS hi_v,
       |    CAST(edp.hi - edp.lo + 1 AS BIGINT) AS n_vals, c.cost
       |  FROM edp JOIN ps lo_ps ON lo_ps.i = edp.lo
       |  JOIN ps hi_ps ON hi_ps.i = edp.hi
       |  JOIN c ON c.a = edp.lo AND c.b = edp.hi
       |  WHERE edp.lo <= edp.hi),
       |mxmn AS (SELECT min(v) AS mnv, max(v) AS mxv, max(i) AS b FROM ps),
       |tot AS (
       |  SELECT 'voptimal_total' AS method, CAST(0 AS BIGINT) AS bucket_id,
       |    mxmn.mnv AS lo_v, mxmn.mxv AS hi_v, mxmn.b AS n_vals,
       |    (SELECT CAST(sum(cost) AS BIGINT) FROM vrows) AS cost
       |  FROM mxmn
       |  UNION ALL
       |  SELECT 'equidepth_total', 0, mxmn.mnv, mxmn.mxv, mxmn.b,
       |    (SELECT CAST(sum(cost) AS BIGINT) FROM erows)
       |  FROM mxmn)
       |SELECT * FROM (
       |  SELECT * FROM vrows UNION ALL SELECT * FROM erows
       |  UNION ALL SELECT * FROM tot)
       |ORDER BY method, bucket_id""".stripMargin
  }
}
