package graft.operators

import graft.QueryDef
import graft.util.Tables
import graft.util.Tables._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** SURVEY.md §2 relational operator inventory demonstrated on the driver
  * testdata (TESTDATA.md). Each entry = Spark build + DuckDB oracle SQL.
  *
  * Scale notes (local[32] now, 1000-executor 100 TB later):
  *   - dimension-side joins never shuffle the fact table. Hint policy:
  *     only CONSTANT-size sides (region/nation, 1-row aggregates,
  *     calendar grids, literal lists) carry explicit [[broadcast]]
  *     hints; fact-derived or linearly-growing sides (customer,
  *     supplier, filtered part, distinct fact keys) are left to AQE,
  *     which broadcasts them while small and shuffles at scale;
  *   - per-group top-1 is a single window shuffle on the group key;
  *   - calendar/grid builds are tiny DataFrames joined broadcast;
  *   - all aggregations are partial-aggregated map-side by Catalyst.
  */
object RelationalQueries {

  /** Sum doubles exactly: decimal cast → order-independent sum → double. */
  private def dsum(c: org.apache.spark.sql.Column, scale: Int = 4) =
    sum(c.cast(DecimalType(18, scale))).cast("double")

  /** Benford first-digit expectation, round(1e6·log10(1+1/d)) — the
    * standard fixed table (sums to exactly 1e6), shared by the Spark
    * side and the generated oracle VALUES list of `q23_benford_audit`. */
  val BenfordPpm: Seq[(Long, Long)] = Seq(
    1L -> 301030L, 2L -> 176091L, 3L -> 124939L, 4L -> 96910L, 5L -> 79181L,
    6L -> 66947L, 7L -> 57992L, 8L -> 51153L, 9L -> 45757L)

  private def BenfordValuesSql: String =
    BenfordPpm.map { case (d, p) => s"($d, $p)" }.mkString(", ")

  /** Per-event (e1, lead1, lead2) over each user's ns-ordered stream —
    * the ONE user-keyed window shuffle `o6_transitions` / `o7_top_paths`
    * share, and the input of the persisted transition store
    * ([[SignatureStore.ensureEventTransitions]]). Null leads are KEPT:
    * stream-final positions carry them, and the counted artifact needs
    * them so both marginals are exact — o6 (pairs) sums over e3, o7
    * (triples) drops null-lead rows. */
  def eventTriples(s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ns"), col("event_id"))
    events(s, d)
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts_ns").as("ns"))
      .select(col("event_type").as("e1"),
        lead(col("event_type"), 1).over(w).as("e2"),
        lead(col("event_type"), 2).over(w).as("e3"))
  }

  private val O6Sql =
    """WITH t AS (SELECT user_id, event_id, event_type, epoch_ns(ts) AS ns FROM events),
      |p AS (
      |  SELECT event_type AS src,
      |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ns, event_id) AS dst
      |  FROM t),
      |c AS (
      |  SELECT src, dst, count(*) AS n FROM p WHERE dst IS NOT NULL GROUP BY src, dst)
      |SELECT src, dst, n,
      |  CAST((CAST(1000000 AS HUGEINT) * n) // sum(n) OVER (PARTITION BY src) AS BIGINT) AS p_next_ppm
      |FROM c ORDER BY src, dst""".stripMargin

  private val O7Sql =
    """WITH t AS (SELECT user_id, event_id, event_type, epoch_ns(ts) AS ns FROM events),
      |p AS (
      |  SELECT event_type AS e1,
      |    lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ns, event_id) AS e2,
      |    lead(event_type, 2) OVER (PARTITION BY user_id ORDER BY ns, event_id) AS e3
      |  FROM t)
      |SELECT e1 || '>' || e2 || '>' || e3 AS path, count(*) AS n
      |FROM p WHERE e2 IS NOT NULL AND e3 IS NOT NULL
      |GROUP BY 1 ORDER BY n DESC, path LIMIT 20""".stripMargin

  val defs: Map[String, QueryDef] = Map(

    // ----- A1/A5: group-by aggregation (pricing summary, TPC-H Q1-ish) -----
    // Reference: dedup core groupby, sar_datacube_metadata.py:191-200.
    "q1_agg" -> QueryDef.sql(
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc_price,
        |  count(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, d) =>
      // conditional spread: the driver's regenerated lineitem is ONE
      // 13.6 MB row group — Spark's minimum split — so the three exact
      // DECIMAL sums ran on a single core (~1.7 µs/row, the r8 q1_agg
      // residual). The widen shuffles the 4-column projection only when
      // input splits < cores; a real-scale lineitem is many row groups
      // and the plan is untouched.
      TextQueries.spread(lineitem(s, d)
          .select("l_returnflag", "l_linestatus", "l_quantity",
            "l_extendedprice", "l_discount"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6).as("sum_disc_price"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },

    // ----- F2: date-range filter (sar_datacube_metadata.py:168-176) -----
    "f2_date_filter" -> QueryDef.sql(
      """SELECT o_orderkey, o_custkey, o_orderdate, o_totalprice
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      orders(s, d)
        .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
        .orderBy("o_orderkey")
    },

    // ----- F3: numeric-range (incidence-angle) filter (…:178-183) -----
    "f3_range_filter" -> QueryDef.sql(
      """SELECT l_orderkey, l_linenumber, l_quantity, l_discount
        |FROM lineitem
        |WHERE l_quantity BETWEEN 10 AND 20 AND l_discount < 0.05
        |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, d) =>
      lineitem(s, d)
        .filter(col("l_quantity").between(10, 20) && col("l_discount") < 0.05)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_discount")
        .orderBy("l_orderkey", "l_linenumber")
    },

    // ----- O1: sort by date (…:163-166) -----
    "o1_sort" -> QueryDef.sql(
      """SELECT o_orderkey, o_orderdate, o_orderpriority
        |FROM orders ORDER BY o_orderdate, o_orderkey LIMIT 100""".stripMargin) { (s, d) =>
      orders(s, d)
        .select("o_orderkey", "o_orderdate", "o_orderpriority")
        .orderBy("o_orderdate", "o_orderkey")
        .limit(100)
    },

    // ----- O2: per-group top-1 dedup (keep-max, …:185-202) -----
    "o2_dedup_top1" -> QueryDef.sql(
      """SELECT o_custkey, o_orderkey, o_orderdate FROM orders
        |QUALIFY row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) = 1
        |ORDER BY o_custkey""".stripMargin) { (s, d) =>
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
      orders(s, d)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select("o_custkey", "o_orderkey", "o_orderdate")
        .orderBy("o_custkey")
    },

    // ----- O3: argmin row pick (primary raster, …:258-268) -----
    "o3_argmin" -> QueryDef.sql(
      "SELECT o_orderkey, o_orderdate FROM orders ORDER BY o_orderdate, o_orderkey LIMIT 1") { (s, d) =>
      orders(s, d).select("o_orderkey", "o_orderdate").orderBy("o_orderdate", "o_orderkey").limit(1)
    },

    // ----- O4: sessionization (gap > 30 min starts a new session) -----
    // The batch twin of the streaming state op: lag window → new-session
    // flags → running sum = session ids. One shuffle on user_id.
    // Gap math runs in NANOSECONDS on both engines: the events column is
    // TIMESTAMP_NANOS, and a µs conversion rounds differently between
    // DuckDB versions (ns-truncating vs native TIMESTAMP_NS reads), which
    // can flip the >30 min test at gap boundaries. session_id is CAST to
    // BIGINT because DuckDB's windowed sum(int) is HUGEINT, which breaks
    // the driver's type-aware hash against Spark's LongType.
    "o4_sessionize" -> QueryDef.sql(
      """WITH t AS (SELECT user_id, event_id, epoch_ns(ts) AS ns FROM events),
        |m AS (
        |  SELECT user_id, event_id, ns,
        |    CASE WHEN lag(ns) OVER (PARTITION BY user_id ORDER BY ns, event_id) IS NULL
        |           OR ns - lag(ns) OVER (PARTITION BY user_id ORDER BY ns, event_id) > 1800000000000
        |         THEN 1 ELSE 0 END AS is_new
        |  FROM t),
        |s AS (
        |  SELECT user_id, event_id,
        |    CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ns, event_id) AS BIGINT) AS session_id
        |  FROM m)
        |SELECT user_id, session_id, count(*) AS n_events, min(event_id) AS first_event
        |FROM s GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin) { (s, d) =>
      val w = Window.partitionBy(col("user_id")).orderBy(col("ns"), col("event_id"))
      events(s, d)
        .select(col("user_id"), col("event_id"), col("ts_ns").as("ns"))
        .withColumn("is_new",
          when(lag(col("ns"), 1).over(w).isNull ||
            col("ns") - lag(col("ns"), 1).over(w) > 1800000000000L, 1L).otherwise(0L))
        .withColumn("session_id", sum(col("is_new")).over(w))
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"), min(col("event_id")).as("first_event"))
        .orderBy("user_id", "session_id")
    },

    // ----- session feature table (the feature-engineering face of O4) -----
    // What a ranking/propensity model actually consumes: one row per
    // session with duration, breadth (distinct types), conversion flag,
    // and exact DECIMAL value mass — derived in the SAME single
    // user-keyed window pass as o4_sessionize (the gaps-and-islands
    // session id) plus one session-keyed aggregate. No second scan, no
    // join back to raw events.
    "fe_session_features" -> QueryDef.sql(
      """WITH t AS (SELECT user_id, event_id, event_type,
        |             CAST(value AS DECIMAL(18,4)) AS val, epoch_ns(ts) AS ns
        |           FROM events),
        |m AS (
        |  SELECT user_id, event_id, event_type, val, ns,
        |    CASE WHEN lag(ns) OVER (PARTITION BY user_id ORDER BY ns, event_id) IS NULL
        |           OR ns - lag(ns) OVER (PARTITION BY user_id ORDER BY ns, event_id) > 1800000000000
        |         THEN 1 ELSE 0 END AS is_new
        |  FROM t),
        |s AS (
        |  SELECT user_id, event_id, event_type, val, ns,
        |    CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ns, event_id) AS BIGINT) AS session_id
        |  FROM m)
        |SELECT user_id, session_id,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(max(ns) - min(ns) AS BIGINT) AS duration_ns,
        |  CAST(count(DISTINCT event_type) AS BIGINT) AS n_types,
        |  CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS has_purchase,
        |  CAST(sum(val) AS DOUBLE) AS total_value
        |FROM s GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin) { (s, d) =>
      val w = Window.partitionBy(col("user_id")).orderBy(col("ns"), col("event_id"))
      events(s, d)
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("value").cast(DecimalType(18, 4)).as("val"), col("ts_ns").as("ns"))
        .withColumn("is_new",
          when(lag(col("ns"), 1).over(w).isNull ||
            col("ns") - lag(col("ns"), 1).over(w) > 1800000000000L, 1L).otherwise(0L))
        .withColumn("session_id", sum(col("is_new")).over(w))
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"),
          (max(col("ns")) - min(col("ns"))).as("duration_ns"),
          countDistinct(col("event_type")).as("n_types"),
          max(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("has_purchase"),
          sum(col("val")).cast("double").as("total_value"))
        .orderBy("user_id", "session_id")
    },

    // ----- O5: tumbling-window event aggregation (batch twin of the -----
    // streaming windowedCounts): hourly buckets per event_type with
    // DECIMAL-exact value sums. The bucket is pure integer division on
    // epoch nanos (ns → µs → hour) — no timestamp truncation function
    // whose DST/locale behavior could diverge between engines — and the
    // whole query is one map-side-combinable aggregate over a pruned
    // 3-column scan: the canonical 100 TB event-rollup shape. The ns→µs
    // step uses floor semantics (Tables.epochUsFloorSql) so pre-1970
    // timestamps bucket identically to DuckDB's epoch_us.
    "o5_event_windows" -> QueryDef.sql(
      """SELECT CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS hour_bucket, event_type,
        |  count(*) AS n,
        |  CAST(floor(sum(CAST(value AS DECIMAL(38,12))) * 1000000) AS BIGINT) AS total_value_x1e6
        |FROM events GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin) { (s, d) =>
      events(s, d)
        .select(expr(s"(${Tables.epochUsFloorSql}) div 3600000000").as("hour_bucket"),
          col("event_type"), col("value"))
        .groupBy("hour_bucket", "event_type")
        .agg(count(lit(1)).as("n"),
          // DECIMAL sum is order-free exact; ×1e6 is an exact scale
          // shift, floor exact — no double ever enters the emitted cell
          floor(sum(col("value").cast("decimal(38,12)")) * lit(1000000)).cast("long")
            .as("total_value_x1e6"))
        .orderBy("hour_bucket", "event_type")
    },

    // ----- A6: ordered funnel (signup → click → purchase) per user -----
    // The classic product-analytics rollup at event scale: each stage's
    // first-occurrence time must come strictly AFTER the previous
    // stage's. Scale shape: three conditional min-aggregates over
    // event_type-pruned scans (the predicate reaches the parquet
    // reader), each map-side combinable; every join is on user_id
    // against user-cardinality stage tables (broadcast-able — they
    // shrink at every stage). Times are epoch MICROSECONDS on both
    // engines (this DuckDB build reads TIMESTAMP(NANOS) at µs
    // precision, so ns-side values would disagree in the last 3
    // digits; both engines compare the same µs values, so the strict
    // inequalities agree).
    "a6_funnel" -> QueryDef.sql(
      """WITH u AS (SELECT DISTINCT user_id FROM events),
        |s AS (SELECT user_id, min(epoch_us(ts)) AS signup_us
        |      FROM events WHERE event_type = 'signup' GROUP BY user_id),
        |c AS (SELECT e.user_id, min(epoch_us(e.ts)) AS click_us
        |      FROM events e JOIN s ON s.user_id = e.user_id
        |      WHERE e.event_type = 'click' AND epoch_us(e.ts) > s.signup_us
        |      GROUP BY e.user_id),
        |p AS (SELECT e.user_id, min(epoch_us(e.ts)) AS purchase_us
        |      FROM events e JOIN c ON c.user_id = e.user_id
        |      WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > c.click_us
        |      GROUP BY e.user_id)
        |SELECT u.user_id,
        |  CAST(CASE WHEN p.purchase_us IS NOT NULL THEN 3
        |            WHEN c.click_us IS NOT NULL THEN 2
        |            WHEN s.signup_us IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS stage,
        |  s.signup_us, c.click_us, p.purchase_us
        |FROM u LEFT JOIN s ON s.user_id = u.user_id
        |LEFT JOIN c ON c.user_id = u.user_id
        |LEFT JOIN p ON p.user_id = u.user_id
        |ORDER BY u.user_id""".stripMargin) { (s0, d) =>
      val e = events(s0, d).select(col("user_id"), col("event_type"),
        expr(Tables.epochUsFloorSql).as("us"))
      val su = e.filter(col("event_type") === "signup")
        .groupBy("user_id").agg(min("us").as("signup_us"))
      val cl = e.filter(col("event_type") === "click")
        .join(su, Seq("user_id")).filter(col("us") > col("signup_us"))
        .groupBy("user_id").agg(min("us").as("click_us"))
      val pu = e.filter(col("event_type") === "purchase")
        .join(cl, Seq("user_id")).filter(col("us") > col("click_us"))
        .groupBy("user_id").agg(min("us").as("purchase_us"))
      e.select("user_id").distinct()
        .join(su, Seq("user_id"), "left")
        .join(cl, Seq("user_id"), "left")
        .join(pu, Seq("user_id"), "left")
        .select(col("user_id"),
          when(col("purchase_us").isNotNull, 3L)
            .when(col("click_us").isNotNull, 2L)
            .when(col("signup_us").isNotNull, 1L).otherwise(0L).as("stage"),
          col("signup_us"), col("click_us"), col("purchase_us"))
        .orderBy("user_id")
    },

    // ----- O9: rolling 1-hour activity count (RANGE window frame) -----
    // The sliding-window rate signal behind throttles and burst
    // detection: per event, how many events its user produced in the
    // PRECEDING hour including this one — a RANGE frame over µs (value
    // range, not row count: gaps and bursts size the frame, unlike the
    // ROWS frames every other window here uses). Deterministic under
    // timestamp ties by construction: a RANGE frame includes ALL peers
    // of the current µs value, so intra-tie order cannot change any
    // count. One user-keyed shuffle.
    "o9_rolling_count" -> QueryDef.sql(
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events)
        |SELECT event_id, user_id,
        |  CAST(count(*) OVER (PARTITION BY user_id ORDER BY us
        |    RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) AS BIGINT) AS n_last_hour
        |FROM e ORDER BY event_id""".stripMargin) { (s, d) =>
      val w = Window.partitionBy(col("user_id")).orderBy(col("us"))
        .rangeBetween(-3600000000L, Window.currentRow)
      events(s, d)
        .select(col("user_id"), col("event_id"),
          expr(Tables.epochUsFloorSql).as("us"))
        .withColumn("n_last_hour", count(lit(1)).over(w))
        .select("event_id", "user_id", "n_last_hour")
        .orderBy("event_id")
    },

    // ----- TPC-H Q18 shape: large-volume orders (agg-filter semi-join) -----
    // The third star probe's missing JOIN SHAPE: a fact-side aggregate
    // (per-order quantity sum) acts as the FILTER for the join chain —
    // the "IN (SELECT … GROUP BY … HAVING …)" pattern. Scale shape: the
    // HAVING aggregate is map-side-combinable and its survivors are a
    // small fraction of orders, so the downstream joins run on the
    // filtered sliver; the quantity sum goes through DECIMAL (exact,
    // order-free) and the top-20 is a TakeOrdered heap. No broadcast
    // hints — the survivor set's size is AQE's runtime call.
    "q18_big_orders" -> QueryDef.sql(
      """WITH big AS (
        |  SELECT l_orderkey, CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS total_qty
        |  FROM lineitem GROUP BY l_orderkey
        |  HAVING sum(CAST(l_quantity AS DECIMAL(18,4))) > 250)
        |SELECT c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice, b.total_qty
        |FROM big b
        |JOIN orders o ON o.o_orderkey = b.l_orderkey
        |JOIN customer c ON c.c_custkey = o.o_custkey
        |ORDER BY o.o_totalprice DESC, o.o_orderkey LIMIT 20""".stripMargin) { (s, d) =>
      val big = lineitem(s, d)
        .groupBy("l_orderkey")
        .agg(sum(col("l_quantity").cast(org.apache.spark.sql.types.DecimalType(18, 4)))
          .as("qty_dec"))
        .filter(col("qty_dec") > 250)
        .select(col("l_orderkey"), col("qty_dec").cast("double").as("total_qty"))
      big.join(orders(s, d), col("o_orderkey") === col("l_orderkey"))
        .join(customer(s, d), col("c_custkey") === col("o_custkey"))
        .select("c_custkey", "o_orderkey", "o_orderdate", "o_totalprice", "total_qty")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(20)
    },

    // ----- TPC-H Q22 shape: anti-join against recent activity -----
    // The remaining star-probe join shape: a scalar-per-group threshold
    // (above-average balance within the segment) composed with an
    // ANTI-join (no orders in the window) and a segment rollup — the
    // "valuable but dormant customers" report. Scale shape: the
    // threshold table is segment-cardinality (broadcast), the recent
    // actives list is a date-pruned distinct at customer cardinality,
    // and the anti-join is the plan's only wide operation. The segment
    // average divides an exact DECIMAL sum by a count with the
    // identical expression tree on both engines, so the > comparison
    // can never straddle engines.
    "q22_dormant_customers" -> QueryDef.sql(
      """WITH pos AS (
        |  SELECT c_mktsegment, c_custkey, c_acctbal FROM customer WHERE c_acctbal > 0),
        |seg AS (
        |  SELECT c_mktsegment,
        |    CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) / count(*) AS avg_bal
        |  FROM pos GROUP BY 1),
        |active AS (
        |  SELECT DISTINCT o_custkey FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1999-01-01 00:00:00'),
        |cand AS (
        |  SELECT p.c_mktsegment, p.c_acctbal
        |  FROM pos p
        |  JOIN seg s ON s.c_mktsegment = p.c_mktsegment
        |  LEFT JOIN active a ON a.o_custkey = p.c_custkey
        |  WHERE p.c_acctbal > s.avg_bal AND a.o_custkey IS NULL)
        |SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_customers,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS total_acctbal
        |FROM cand GROUP BY 1 ORDER BY c_mktsegment""".stripMargin) { (s, d) =>
      val pos = customer(s, d)
        .filter(col("c_acctbal") > 0)
        .select("c_mktsegment", "c_custkey", "c_acctbal")
      val seg = pos.groupBy("c_mktsegment")
        .agg((sum(col("c_acctbal").cast(org.apache.spark.sql.types.DecimalType(18, 4)))
          .cast("double") / count(lit(1))).as("avg_bal"))
      val active = orders(s, d)
        .filter(col("o_orderdate") >= lit("1999-01-01").cast("timestamp"))
        .select(col("o_custkey").as("c_custkey")).distinct()
      pos.join(broadcast(seg), Seq("c_mktsegment")) // segment-cardinality side
        .filter(col("c_acctbal") > col("avg_bal"))
        .join(active, Seq("c_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_customers"),
          dsum(col("c_acctbal")).as("total_acctbal"))
        .orderBy("c_mktsegment")
    },

    // ----- J8: salted join for skewed keys -----
    // THE manual skew remedy (what AQE's skew-join does adaptively,
    // spelled out): the fact side of a user-keyed join concentrates on
    // hot users (key_skew_report measures exactly this), so a plain
    // hash join funnels the hottest key through one task. Salting
    // splits it: the DIMENSION side replicates ×8 (one copy per salt),
    // the fact side derives a DETERMINISTIC salt from its unique id,
    // and the join key becomes (user_id, salt) — the hot key's rows now
    // land in 8 partitions instead of 1. Same rows out as the unsalted
    // join (the oracle IS the plain join); the ×8 dim replication is
    // the price, bounded because dims are the small side by
    // construction. Deterministic salt (pmod of event_id), never
    // rand() — replays and retries stay stable.
    "j8_salted_skew_join" -> QueryDef.sql(
      """WITH dim AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS user_total
        |  FROM events GROUP BY user_id)
        |SELECT e.event_id, e.user_id, d.user_total
        |FROM events e JOIN dim d ON d.user_id = e.user_id
        |ORDER BY e.event_id""".stripMargin) { (s0, d) =>
      import s0.implicits._
      val ev = events(s0, d)
      val dim = ev.groupBy("user_id").agg(count(lit(1)).as("user_total"))
      val dimSalted = dim.crossJoin(broadcast((0 until 8).toDF("salt")))
      ev.select(col("event_id"), col("user_id"))
        .withColumn("salt", pmod(col("event_id"), lit(8)).cast("int"))
        .join(dimSalted, Seq("user_id", "salt"))
        .select("event_id", "user_id", "user_total")
        .orderBy("event_id")
    },

    // ----- funnel drop-off report: per-stage conversion -----
    // The rollup every funnel analysis actually ships: users reaching
    // each stage and the stage-over-stage conversion rate — where the
    // funnel leaks. Same strictly-after chaining as a6_funnel (each
    // stage's CTE shrinks the previous); the report is four one-row
    // aggregates + a 4-row lag window — nothing user-cardinality leaves
    // the aggregates.
    "a6_funnel_dropoff" -> QueryDef.sql(
      """WITH u AS (SELECT DISTINCT user_id FROM events),
        |s AS (SELECT user_id, min(epoch_us(ts)) AS signup_us
        |      FROM events WHERE event_type = 'signup' GROUP BY user_id),
        |c AS (SELECT e.user_id, min(epoch_us(e.ts)) AS click_us
        |      FROM events e JOIN s ON s.user_id = e.user_id
        |      WHERE e.event_type = 'click' AND epoch_us(e.ts) > s.signup_us
        |      GROUP BY e.user_id),
        |p AS (SELECT e.user_id, min(epoch_us(e.ts)) AS purchase_us
        |      FROM events e JOIN c ON c.user_id = e.user_id
        |      WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > c.click_us
        |      GROUP BY e.user_id),
        |counts AS (
        |  SELECT CAST(0 AS BIGINT) AS stage, CAST(count(*) AS BIGINT) AS n_users FROM u
        |  UNION ALL SELECT 1, count(*) FROM s
        |  UNION ALL SELECT 2, count(*) FROM c
        |  UNION ALL SELECT 3, count(*) FROM p)
        |SELECT stage, n_users,
        |  CAST((1000000 * n_users) // lag(n_users) OVER (ORDER BY stage) AS BIGINT) AS conv_prev_ppm
        |FROM counts ORDER BY stage""".stripMargin) { (s0, d) =>
      import org.apache.spark.sql.expressions.Window
      val e = events(s0, d).select(col("user_id"), col("event_type"),
        expr(Tables.epochUsFloorSql).as("us"))
      val su = e.filter(col("event_type") === "signup")
        .groupBy("user_id").agg(min("us").as("signup_us"))
      val cl = e.filter(col("event_type") === "click")
        .join(su, Seq("user_id")).filter(col("us") > col("signup_us"))
        .groupBy("user_id").agg(min("us").as("click_us"))
      val pu = e.filter(col("event_type") === "purchase")
        .join(cl, Seq("user_id")).filter(col("us") > col("click_us"))
        .groupBy("user_id").agg(min("us").as("purchase_us"))
      def stageCount(df: org.apache.spark.sql.DataFrame, stage: Long) =
        df.agg(count(lit(1)).as("n_users")).select(lit(stage).as("stage"), col("n_users"))
      val counts = stageCount(e.select("user_id").distinct(), 0L)
        .unionByName(stageCount(su, 1L))
        .unionByName(stageCount(cl, 2L))
        .unionByName(stageCount(pu, 3L))
      // the lag window covers exactly 4 rows — bounded by construction
      counts
        .withColumn("conv_prev_ppm",
          expr("CAST((1000000 * n_users) div lag(n_users) OVER (ORDER BY stage) AS BIGINT)"))
        .orderBy("stage")
    },

    // ----- J7: star join across the full dimension hierarchy -----
    // TPC-H Q5 shape: fact tables (lineitem ⋈ orders) against four
    // dimensions (customer, supplier, nation, region) with a region
    // predicate and a date window. Hint policy: region/nation are
    // CONSTANT-size (5 / 25 rows) so they carry explicit broadcast
    // hints; customer and supplier grow LINEARLY with scale (TPC-H:
    // 150k/10k × SF), so their joins carry no hint — AQE broadcasts
    // them while their runtime size is small and switches to a shuffled
    // join when it isn't, instead of a forced multi-GB broadcast at
    // 100×. Revenue sums through DECIMAL for order-independence.
    "j7_star_join" -> QueryDef.sql(
      """SELECT n_name,
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
        |  count(*) AS n_rows
        |FROM customer, orders, lineitem, supplier, nation, region
        |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        |  AND r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY n_name ORDER BY n_name""".stripMargin) { (s, d) =>
      val asiaNations = nation(s, d)
        .join(broadcast(region(s, d).filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .select("n_nationkey", "n_name")
      val supp = supplier(s, d)
        .join(broadcast(asiaNations), col("s_nationkey") === col("n_nationkey")) // ≤25 rows: bounded
        .select(col("s_suppkey"), col("s_nationkey"), col("n_name"))
      val cust = customer(s, d).select("c_custkey", "c_nationkey")
      val ord = orders(s, d)
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
        .select("o_orderkey", "o_custkey")
      lineitem(s, d)
        .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .join(supp,
          col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
        .groupBy(col("n_name"))
        .agg(
          dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6).as("revenue"),
          count(lit(1)).as("n_rows"))
        .orderBy("n_name")
    },

    // ----- TPC-H Q3 shape: unshipped-order revenue top-k -----
    // The classic segment × date-window star probe (adapted to this
    // schema's columns): customers in one market segment, orders placed
    // before the cutoff, line items shipped after it, top-10 orders by
    // exact DECIMAL revenue. Scale shape: both date filters reach the
    // scans as pushed predicates; the joins carry NO broadcast hints —
    // customer and orders grow with scale, so forcing either side would
    // repeat the r5 fact-side-broadcast mistake; AQE broadcasts
    // whichever filtered side is small at runtime. The top-10 is
    // TakeOrderedAndProject — a per-partition heap, never a global sort.
    "q3_unshipped_topk" -> QueryDef.sql(
      """SELECT l.l_orderkey,
        |  CAST(sum(CAST(l.l_extendedprice * (1.0 - l.l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
        |  o.o_orderdate
        |FROM customer c
        |JOIN orders o ON o.o_custkey = c.c_custkey
        |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |WHERE c.c_mktsegment = 'BUILDING'
        |  AND o.o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
        |  AND l.l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
        |GROUP BY l.l_orderkey, o.o_orderdate
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin) { (s, d) =>
      val cust = customer(s, d).filter(col("c_mktsegment") === "BUILDING")
        .select("c_custkey")
      val ord = orders(s, d)
        .filter(col("o_orderdate") < lit("1998-03-15").cast("timestamp"))
        .select("o_orderkey", "o_custkey", "o_orderdate")
        .join(cust, col("o_custkey") === col("c_custkey"))
        .select("o_orderkey", "o_orderdate")
      lineitem(s, d)
        .filter(col("l_shipdate") > lit("1998-03-15").cast("timestamp"))
        .select("l_orderkey", "l_extendedprice", "l_discount")
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"))
        .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6).as("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate")
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    },

    // ----- TPC-H Q10 shape: returned-item customer report -----
    // The second multi-join star probe (beside q3): fact table filtered
    // on two pushed predicates (quarter date window on orders, R flag on
    // lineitem), a two-hop dimension chain customer→nation, group at
    // customer cardinality, top-20 by revenue. Like q3 the joins carry
    // NO broadcast hints — nation is trivially broadcastable and AQE
    // must find that on its own (pinned by PlanAssertSpec); customer and
    // orders grow with scale so neither may be forced. The top-20 is
    // TakeOrderedAndProject, never a global sort.
    "q10_returned_topk" -> QueryDef.sql(
      """SELECT c.c_custkey, c.c_name,
        |  CAST(sum(CAST(l.l_extendedprice * (1.0 - l.l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
        |  c.c_acctbal, n.n_name
        |FROM customer c
        |JOIN orders o ON o.o_custkey = c.c_custkey
        |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |JOIN nation n ON n.n_nationkey = c.c_nationkey
        |WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o.o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
        |  AND l.l_returnflag = 'R'
        |GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin) { (s, d) =>
      val ord = orders(s, d)
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1996-04-01").cast("timestamp"))
        .select("o_orderkey", "o_custkey")
      val li = lineitem(s, d)
        .filter(col("l_returnflag") === "R")
        .select("l_orderkey", "l_extendedprice", "l_discount")
      val cust = customer(s, d)
        .select("c_custkey", "c_name", "c_acctbal", "c_nationkey")
        .join(nation(s, d).select("n_nationkey", "n_name"),
          col("c_nationkey") === col("n_nationkey"))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
        .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6).as("revenue"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    },

    // ----- A7: retention cohort matrix -----
    // Users cohorted by first-activity day; the matrix counts distinct
    // users active at each day offset from their cohort. Scale shape:
    // one min-aggregate (cohort assignment), one distinct over
    // (user, day) — both map-side combinable on user-keyed shuffles —
    // and a join on user_id against the user-cardinality cohort table;
    // output is bounded by days², independent of event volume. Day
    // buckets are integer division on epoch micros (both engines read
    // the same µs values, see a6_funnel).
    "a7_retention" -> QueryDef.sql(
      """WITH first AS (
        |  SELECT user_id, min(epoch_us(ts)) // 86400000000 AS cohort_day
        |  FROM events GROUP BY user_id),
        |act AS (
        |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day FROM events)
        |SELECT f.cohort_day, a.day - f.cohort_day AS day_offset,
        |  count(*) AS n_active
        |FROM act a JOIN first f ON f.user_id = a.user_id
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
      val e = events(s, d)
        .select(col("user_id"),
          expr(s"(${Tables.epochUsFloorSql}) div 86400000000").as("day"))
      val first = e.groupBy("user_id").agg(min("day").as("cohort_day"))
      e.distinct()
        .join(first, Seq("user_id"))
        .groupBy(col("cohort_day"), (col("day") - col("cohort_day")).as("day_offset"))
        .agg(count(lit(1)).as("n_active"))
        .orderBy("cohort_day", "day_offset")
    },

    // ----- O6: event-type transition matrix (Markov rollup) -----
    // Product-analytics "what happens next": for every consecutive event
    // pair within a user's ns-ordered stream, count (src → dst)
    // transitions and the per-src transition probability. Scale shape:
    // ONE user-keyed shuffle for the lead() window (each user's events
    // are a bounded group), then a map-side-combinable count over
    // event-type² cardinality — the output is taxonomy-sized however big
    // the corpus. Ordering ties break on event_id (deterministic); the
    // probability ships as exact truncated ppm (two BIGINTs, integer
    // division — no float op in the emitted row).
    "o6_transitions" -> QueryDef.sql(O6Sql) { (s, d) =>
      val w = Window.partitionBy(col("user_id")).orderBy(col("ns"), col("event_id"))
      val counts = events(s, d)
        .select(col("user_id"), col("event_id"), col("event_type"), col("ts_ns").as("ns"))
        .select(col("event_type").as("src"), lead(col("event_type"), 1).over(w).as("dst"))
        .filter(col("dst").isNotNull)
        .groupBy("src", "dst").agg(count(lit(1)).as("n"))
      counts
        .withColumn("src_total", sum(col("n")).over(Window.partitionBy("src")))
        .select(col("src"), col("dst"), col("n"),
          // transition counts are event-scale (1e13+ at 100 TB); 1e6x
          // passes int64 - DECIMAL(38,0) intermediate, BIGINT quotient
          expr("CAST((CAST(1000000 AS DECIMAL(38,0)) * n) div src_total AS BIGINT)")
            .as("p_next_ppm"))
        .orderBy("src", "dst")
    },

    // ----- O6 stored: transition matrix served from the event store -----
    // Same oracle as o6_transitions; reads the persisted counted triple
    // table instead of re-running the per-user lead window over the raw
    // events table. The pair marginal sums over e3 (null e3 rows are the
    // stream-tail pairs — kept in the artifact precisely so this
    // marginal is exact). Every stage here is event-type² bounded; the
    // only remaining window partitions by src (taxonomy-sized groups).
    "o6_transitions_stored" -> QueryDef.sql(O6Sql) { (s, d) =>
      val counts = SignatureStore.ensureEventTransitions(s, d)
        .filter(col("e2").isNotNull)
        .select(col("e1").as("src"), col("e2").as("dst"), col("n"))
        .groupBy("src", "dst").agg(sum("n").as("n"))
      counts
        .withColumn("src_total", sum(col("n")).over(Window.partitionBy("src")))
        .select(col("src"), col("dst"), col("n"),
          // transition counts are event-scale (1e13+ at 100 TB); 1e6x
          // passes int64 - DECIMAL(38,0) intermediate, BIGINT quotient
          expr("CAST((CAST(1000000 AS DECIMAL(38,0)) * n) div src_total AS BIGINT)")
            .as("p_next_ppm"))
        .orderBy("src", "dst")
    },

    // ----- O7: top-k 3-step event paths -----
    // The path-explorer query behind every "top user journeys" panel:
    // each user's ns-ordered stream yields one candidate per position
    // (two leads), paths are counted and only the global top 20 survive.
    // Scale shape: the same single user-keyed window shuffle as O6, a
    // map-side-combinable count on path strings (event_type³ bounded),
    // and a TakeOrderedAndProject top-k — no global sort materializes.
    // Tiebreak on the path string keeps the cut deterministic.
    "o7_top_paths" -> QueryDef.sql(O7Sql) { (s, d) =>
      eventTriples(s, d)
        .filter(col("e2").isNotNull && col("e3").isNotNull)
        .select(concat(col("e1"), lit(">"), col("e2"), lit(">"), col("e3")).as("path"))
        .groupBy("path").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("path"))
        .limit(20)
    },

    // ----- O7 stored: top paths served from the event store -----
    // Same oracle as o7_top_paths; the triple filter + path count run
    // over the taxonomy³-bounded counted artifact — the raw events table
    // and its user-keyed window are never touched after the store build.
    "o7_top_paths_stored" -> QueryDef.sql(O7Sql) { (s, d) =>
      SignatureStore.ensureEventTransitions(s, d)
        .filter(col("e2").isNotNull && col("e3").isNotNull)
        .select(concat(col("e1"), lit(">"), col("e2"), lit(">"), col("e3")).as("path"),
          col("n"))
        .groupBy("path").agg(sum("n").as("n"))
        .orderBy(col("n").desc, col("path"))
        .limit(20)
    },

    // ----- J1: overlap theta-semi-join vs broadcast primary (…:204-222) -----
    "j1_overlap_semi" -> QueryDef.sql(
      """WITH primary_row AS (
        |  SELECT o_totalprice AS p FROM orders ORDER BY o_orderdate, o_orderkey LIMIT 1)
        |SELECT o_orderkey, o_totalprice FROM orders, primary_row
        |WHERE o_totalprice >= p * 0.5 AND o_totalprice <= p * 2.0
        |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      val primary = orders(s, d).orderBy("o_orderdate", "o_orderkey").limit(1)
        .select(col("o_totalprice").as("p"))
      orders(s, d).crossJoin(broadcast(primary))
        .filter(col("o_totalprice") >= col("p") * 0.5 && col("o_totalprice") <= col("p") * 2.0)
        .select("o_orderkey", "o_totalprice")
        .orderBy("o_orderkey")
    },

    // ----- J2: equi-lookup join (labels↔product, labels_datacube.py:237-248) -----
    "j2_equi_lookup" -> QueryDef.sql(
      """SELECT l_orderkey, l_linenumber, p_name, p_brand
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_size < 10
        |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, d) =>
      // No hint: the filtered part side is a constant FRACTION of a
      // linearly-growing table — AQE broadcasts it while small.
      lineitem(s, d)
        .join(part(s, d).filter(col("p_size") < 10),
          col("l_partkey") === col("p_partkey"))
        .select("l_orderkey", "l_linenumber", "p_name", "p_brand")
        .orderBy("l_orderkey", "l_linenumber")
    },

    // ----- J3+A3: calendar left-join resample / gap fill (…:224-256) -----
    "a3_resample_gapfill" -> QueryDef.sql(
      """WITH bounds AS (
        |  SELECT CAST(min(o_orderdate) AS DATE) AS lo, CAST(max(o_orderdate) AS DATE) AS hi FROM orders),
        |grid AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY))::DATE AS day FROM bounds),
        |daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day, count(*) AS n_orders,
        |         CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |  FROM orders GROUP BY 1)
        |SELECT g.day AS day, coalesce(d.n_orders, 0) AS n_orders, d.revenue AS revenue
        |FROM grid g LEFT JOIN daily d USING (day)
        |ORDER BY day""".stripMargin) { (s, d) =>
      val o = orders(s, d)
      val grid = o.agg(min(to_date(col("o_orderdate"))).as("lo"), max(to_date(col("o_orderdate"))).as("hi"))
        .select(explode(sequence(col("lo"), col("hi"))).as("day"))
      val daily = o.groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("revenue"))
      grid.join(daily, Seq("day"), "left")
        .select(col("day"), coalesce(col("n_orders"), lit(0L)).as("n_orders"), col("revenue"))
        .orderBy("day")
    },

    // ----- A1: group-by + argmax (idxmax dedup core, …:191-200) -----
    "a1_group_argmax" -> QueryDef.sql(
      """SELECT CAST(o_orderdate AS DATE) AS day, max_by(o_totalprice, o_orderkey) AS last_price, count(*) AS n
        |FROM orders GROUP BY 1 ORDER BY day""".stripMargin) { (s, d) =>
      orders(s, d)
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(expr("max_by(o_totalprice, o_orderkey)").as("last_price"), count(lit(1)).as("n"))
        .orderBy("day")
    },

    // ----- A2: superset-key union (attrs union, sar_datacube.py:159-188) -----
    "a2_key_union" -> QueryDef.sql(
      "SELECT DISTINCT source, lang FROM documents ORDER BY source, lang") { (s, d) =>
      documents(s, d).select("source", "lang").distinct().orderBy("source", "lang")
    },

    // ----- A4: all-null column guard counts (…:127,134) -----
    "a4_null_counts" -> QueryDef.sql(
      "SELECT count(*) AS n_rows, count(o_orderkey) AS n_orderkey, count(o_orderdate) AS n_orderdate FROM orders") { (s, d) =>
      orders(s, d).agg(
        count(lit(1)).as("n_rows"),
        count(col("o_orderkey")).as("n_orderkey"),
        count(col("o_orderdate")).as("n_orderdate"))
    },

    // ----- A5: dims / distinct counts (datacube.py:62-67) -----
    "a5_dims" -> QueryDef.sql(
      """SELECT count(*) AS n_events, count(DISTINCT user_id) AS n_users, count(DISTINCT event_type) AS n_types
        |FROM events""".stripMargin) { (s, d) =>
      events(s, d).agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        countDistinct(col("event_type")).as("n_types"))
    },

    // ----- M1/M2/M3: complex→amplitude/intensity/phase (analytics_IO.py:189-216) -----
    "m123_complex_math" -> QueryDef.sql(
      """SELECT event_id,
        |  sqrt(value*value + CAST(user_id AS DOUBLE)*CAST(user_id AS DOUBLE)) AS amplitude,
        |  value*value + CAST(user_id AS DOUBLE)*CAST(user_id AS DOUBLE) AS intensity,
        |  round(atan2(CAST(user_id AS DOUBLE), value), 6) AS phase
        |FROM events ORDER BY event_id""".stripMargin) { (s, d) =>
      val u = col("user_id").cast("double")
      events(s, d).select(
        col("event_id"),
        sqrt(col("value") * col("value") + u * u).as("amplitude"),
        (col("value") * col("value") + u * u).as("intensity"),
        round(atan2(u, col("value")), 6).as("phase"))
        .orderBy("event_id")
    },

    // ----- M5: date parse/format (metadata_crawler.py:205-211) -----
    "m5_date_format" -> QueryDef.sql(
      """SELECT event_id,
        |  strftime(make_timestamp(epoch_us(ts)), '%Y%m%d') AS acq_date,
        |  strftime(make_timestamp(epoch_us(ts)), '%H%M%S.%f') AS acq_time
        |FROM events ORDER BY event_id""".stripMargin) { (s, d) =>
      events(s, d).select(
        col("event_id"),
        date_format(col("ts"), "yyyyMMdd").as("acq_date"),
        date_format(col("ts"), "HHmmss.SSSSSS").as("acq_time"))
        .orderBy("event_id")
    },

    // ----- M6: coalesce fallback chain, middle vector element (…:214-229) -----
    "m6_mid_element" -> QueryDef.sql(
      """SELECT vec_id, coalesce(embedding[33], CAST(label AS FLOAT)) AS mid
        |FROM embeddings ORDER BY vec_id""".stripMargin) { (s, d) =>
      embeddings(s, d).select(
        col("vec_id"),
        coalesce(try_element_at(col("embedding"), lit(33)), col("label").cast("float")).as("mid"))
        .orderBy("vec_id")
    },

    // ----- M7: WKT extent polygon build (metadata_crawler.py:255-267) -----
    "m7_wkt_extent" -> QueryDef.sql(
      """SELECT p_partkey,
        |  printf('POLYGON((%d 0, %d 1, 0 1, 0 0, %d 0))', p_size, p_size, p_size) AS extent_wkt
        |FROM part ORDER BY p_partkey""".stripMargin) { (s, d) =>
      part(s, d).select(
        col("p_partkey"),
        format_string("POLYGON((%d 0, %d 1, 0 1, 0 0, %d 0))",
          col("p_size"), col("p_size"), col("p_size")).as("extent_wkt"))
        .orderBy("p_partkey")
    },

    // ----- M8: string→typed extract (vector parse, analytics_IO.py:741-779) -----
    "m8_json_extract" -> QueryDef.sql(
      """SELECT event_id, CAST(regexp_extract(props, '"k": (\d+)', 1) AS INTEGER) AS k
        |FROM events ORDER BY event_id""".stripMargin) { (s, d) =>
      events(s, d).select(
        col("event_id"),
        regexp_extract(col("props"), "\"k\": (\\d+)", 1).cast("int").as("k"))
        .orderBy("event_id")
    },

    // ----- U1: concat layers along an axis (xr.concat, sar_datacube.py:143-150) -----
    "u1_union_stack" -> QueryDef.sql(
      """SELECT event_id, 'err' AS layer FROM events WHERE event_type = 'error'
        |UNION ALL
        |SELECT event_id, 'buy' AS layer FROM events WHERE event_type = 'purchase'
        |ORDER BY layer, event_id""".stripMargin) { (s, d) =>
      val e = events(s, d)
      e.filter(col("event_type") === "error").select(col("event_id"), lit("err").as("layer"))
        .unionByName(
          e.filter(col("event_type") === "purchase").select(col("event_id"), lit("buy").as("layer")))
        .orderBy("layer", "event_id")
    },

    // ----- F6: unmatched-row null-out (labels NaN-out, labels_datacube.py:139-158) -----
    "f6_nullout_unmatched" -> QueryDef.sql(
      """SELECT c.c_custkey,
        |  CASE WHEN o.o_custkey IS NULL THEN NULL ELSE c.c_name END AS c_name,
        |  CASE WHEN o.o_custkey IS NULL THEN NULL ELSE c.c_acctbal END AS c_acctbal
        |FROM customer c LEFT JOIN (SELECT DISTINCT o_custkey FROM orders) o
        |  ON c.c_custkey = o.o_custkey
        |ORDER BY c_custkey""".stripMargin) { (s, d) =>
      // No broadcast hint: the distinct-custkey side is FACT-DERIVED and
      // grows linearly with scale (TPC-H: 150k×SF) — a forced broadcast
      // is a driver OOM at 100×. AQE picks broadcast when the runtime
      // size is actually small and a shuffled join when it isn't.
      val hasOrders = orders(s, d).select(col("o_custkey")).distinct()
      customer(s, d).join(hasOrders, col("c_custkey") === col("o_custkey"), "left")
        .select(
          col("c_custkey"),
          when(col("o_custkey").isNotNull, col("c_name")).as("c_name"),
          when(col("o_custkey").isNotNull, col("c_acctbal")).as("c_acctbal"))
        .orderBy("c_custkey")
    },

    // ----- J4: variable-aligned full-outer merge (xr merge, datacube.py:177-201) -----
    "j4_merge_outer" -> QueryDef.sql(
      """WITH e AS (SELECT CAST(make_timestamp(epoch_us(ts)) AS DATE) AS day, count(*) AS n_err
        |           FROM events WHERE event_type = 'error' GROUP BY 1),
        |p AS (SELECT CAST(make_timestamp(epoch_us(ts)) AS DATE) AS day, count(*) AS n_buy
        |      FROM events WHERE event_type = 'purchase' GROUP BY 1)
        |SELECT coalesce(e.day, p.day) AS day, e.n_err AS n_err, p.n_buy AS n_buy
        |FROM e FULL OUTER JOIN p ON e.day = p.day
        |ORDER BY day""".stripMargin) { (s, d) =>
      val ev = events(s, d)
      val e = ev.filter(col("event_type") === "error")
        .groupBy(to_date(col("ts")).as("day")).agg(count(lit(1)).as("n_err"))
      val p = ev.filter(col("event_type") === "purchase")
        .groupBy(to_date(col("ts")).as("day")).agg(count(lit(1)).as("n_buy"))
      e.join(p, Seq("day"), "full_outer").select("day", "n_err", "n_buy").orderBy("day")
    },

    // ----- M13: JSON (de)serialization replaces pickle (SURVEY §7.3) -----
    "m13_json_parse" -> QueryDef.sql(
      """SELECT event_id, json_extract_string(props, '$.k') AS k_str FROM events
        |ORDER BY event_id""".stripMargin) { (s, d) =>
      events(s, d).select(
        col("event_id"),
        get_json_object(col("props"), "$.k").as("k_str"))
        .orderBy("event_id")
    },

    // ----- Q5: point lookup by key (datacube.py:99-119) -----
    "q5_point_lookup" -> QueryDef.sql(
      "SELECT event_id, event_type, value FROM events WHERE event_id = 421") { (s, d) =>
      events(s, d).filter(col("event_id") === 421).select("event_id", "event_type", "value")
    },

    // ----- Q7: slice by parent key (get_product_values, datacube.py:138-175) -----
    "q7_slice_by_key" -> QueryDef.sql(
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        |WHERE l_orderkey = (SELECT min(o_orderkey) FROM orders)
        |ORDER BY l_linenumber""".stripMargin) { (s, d) =>
      val mk = orders(s, d).agg(min(col("o_orderkey")).as("mk"))
      lineitem(s, d).join(broadcast(mk), col("l_orderkey") === col("mk"))
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .orderBy("l_linenumber")
    },

    // ----- Q9: ML batch/tile bucketing (Ex5 notebook surface) -----
    "q9_ml_batch" -> QueryDef.sql(
      """SELECT user_id // 10 AS user_bucket,
        |  strftime(make_timestamp(epoch_us(ts)), '%Y-%m-%d %H') AS hour_bucket,
        |  count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2
        |ORDER BY user_bucket, hour_bucket""".stripMargin) { (s, d) =>
      events(s, d)
        .groupBy(
          expr("user_id div 10").as("user_bucket"),
          date_format(col("ts"), "yyyy-MM-dd HH").as("hour_bucket"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
        .orderBy("user_bucket", "hour_bucket")
    },

    // ----- J5: as-of join (time-series lookup Spark lacks natively) -----
    // Each purchase is matched to the latest error at-or-before it for
    // the same user. NOT a per-row probe or inequality join: both sides
    // union into one stream, and a running last_value(... IGNORE NULLS)
    // per user carries the most recent error forward — ONE shuffle on
    // user_id, linear work, the scalable as-of shape. Ties are broken
    // deterministically (error rows sort before purchases at equal time,
    // then by event_id), so the oracle — the identical window logic in
    // DuckDB — reproduces it bit-for-bit. Time math is in MICROseconds
    // (`epochUsFloorSql` ⇄ epoch_us — both FLOOR ns→µs, so they agree
    // below the epoch too): raw epoch_ns differs between DuckDB
    // ns-truncating and native-ns parquet reads, while µs is exact and
    // identical under both (same reason o4 documents, opposite choice —
    // here the raw gap is an output column, so it must be bit-stable).
    "j5_asof_join" -> QueryDef.sql(
      """WITH u AS (
        |  SELECT user_id, epoch_us(ts) AS us, event_id, 0 AS kind,
        |         event_id AS err_id, epoch_us(ts) AS err_us
        |  FROM events WHERE event_type = 'error'
        |  UNION ALL
        |  SELECT user_id, epoch_us(ts), event_id, 1, NULL, NULL
        |  FROM events WHERE event_type = 'purchase'),
        |w AS (
        |  SELECT user_id, us, event_id, kind,
        |    last_value(err_id IGNORE NULLS) OVER
        |      (PARTITION BY user_id ORDER BY us, kind, event_id
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_err_id,
        |    last_value(err_us IGNORE NULLS) OVER
        |      (PARTITION BY user_id ORDER BY us, kind, event_id
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_err_us
        |  FROM u)
        |SELECT event_id, user_id, last_err_id, us - last_err_us AS gap_us
        |FROM w WHERE kind = 1 ORDER BY event_id""".stripMargin) { (s, d) =>
      val e = events(s, d)
      val err = e.filter(col("event_type") === "error")
        .select(col("user_id"), expr(Tables.epochUsFloorSql).as("us"), col("event_id"))
      val pur = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), expr(Tables.epochUsFloorSql).as("us"), col("event_id"))
      TimeSeriesJoins.asofJoin(pur, err, "user_id", "us", "event_id")
        .select(col("event_id"), col("user_id"),
          col("right_event_id").as("last_err_id"),
          (col("us") - col("right_us")).as("gap_us"))
        .orderBy("event_id")
    },

    // ----- J6: range (interval) join via time-bucket equi-join -----
    // All errors within 6 h before each purchase, same user. A naive
    // inequality join is a per-user cross product; instead both sides
    // take a 6 h time bucket and the purchase side probes its own and
    // the previous bucket — the join becomes an EQUI-join on
    // (user_id, bucket) with an exact range post-filter. Each (purchase,
    // error) pair can meet in at most one bucket (an error has exactly
    // one), so no dedup is needed. This is the standard band-join
    // rewrite that keeps Spark on a hash/sort-merge join at 100 TB.
    "j6_range_join" -> QueryDef.sql(
      """SELECT p.event_id AS purchase_id, e.event_id AS error_id,
        |  epoch_us(p.ts) - epoch_us(e.ts) AS gap_us
        |FROM events p JOIN events e
        |  ON e.user_id = p.user_id
        | AND p.event_type = 'purchase' AND e.event_type = 'error'
        | AND epoch_us(e.ts) BETWEEN epoch_us(p.ts) - 21600000000 AND epoch_us(p.ts)
        |ORDER BY purchase_id, error_id""".stripMargin) { (s, d) =>
      val B = 21600000000L // 6 h in µs
      val e = events(s, d)
      val err = e.filter(col("event_type") === "error")
        .select(col("user_id"), expr(Tables.epochUsFloorSql).as("us"), col("event_id"))
      val pur = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), expr(Tables.epochUsFloorSql).as("us"), col("event_id"))
      TimeSeriesJoins.rangeJoin(pur, err, "user_id", "us", B)
        .select(col("event_id").as("purchase_id"),
          col("right_event_id").as("error_id"),
          (col("us") - col("right_us")).as("gap_us"))
        .orderBy("purchase_id", "error_id")
    },

    // ----- TPC-H Q2 shape: per-group minimum join-back, decorrelated -----
    // "For each part, the cheapest supplier" — the correlated scalar
    // subquery (cost = MIN(cost) WHERE partkey = outer.partkey) that
    // Q2 makes every optimizer decorrelate. The oracle keeps the
    // textbook aggregate-then-join-back form; the Spark build shows the
    // DECORRELATED plan a Spark engineer would write: after the
    // (part, supplier) cost aggregate, a min-over-partition WINDOW
    // replaces the self-join — one shuffle on l_partkey instead of an
    // aggregate + join pair, same rows out (ties: every supplier at the
    // minimum survives, so no arbitrary pick exists). Unit cost is
    // floored to integer ppm so no double-equality comparison ever
    // straddles engines. nation is the only hinted broadcast (constant
    // cardinality); supplier is AQE's call.
    "q2_min_cost_supplier" -> QueryDef.sql(
      """WITH supply AS (
        |  SELECT l_partkey, l_suppkey,
        |    min(CAST(floor(1000000 * l_extendedprice / l_quantity) AS BIGINT)) AS cost_ppm
        |  FROM lineitem GROUP BY 1, 2),
        |best AS (SELECT l_partkey, min(cost_ppm) AS min_cost FROM supply GROUP BY 1)
        |SELECT s.l_partkey AS p_partkey, s.l_suppkey AS s_suppkey,
        |  sup.s_name, n.n_name, s.cost_ppm AS min_cost_ppm
        |FROM supply s
        |JOIN best b ON b.l_partkey = s.l_partkey AND s.cost_ppm = b.min_cost
        |JOIN supplier sup ON sup.s_suppkey = s.l_suppkey
        |JOIN nation n ON n.n_nationkey = sup.s_nationkey
        |ORDER BY p_partkey, s_suppkey LIMIT 100""".stripMargin) { (s, d) =>
      val supply = lineitem(s, d)
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(min(floor(lit(1000000) * col("l_extendedprice") / col("l_quantity")))
          .as("cost_ppm"))
      val wMin = Window.partitionBy(col("l_partkey"))
      supply
        .withColumn("min_cost", min(col("cost_ppm")).over(wMin))
        .filter(col("cost_ppm") === col("min_cost"))
        .join(supplier(s, d), col("s_suppkey") === col("l_suppkey"))
        .join(broadcast(nation(s, d)), col("n_nationkey") === col("s_nationkey"))
        .select(col("l_partkey").as("p_partkey"), col("s_suppkey"),
          col("s_name"), col("n_name"), col("cost_ppm").as("min_cost_ppm"))
        .orderBy(col("p_partkey"), col("s_suppkey"))
        .limit(100)
    },

    // ----- TPC-H Q11 shape: group share vs a global scalar threshold -----
    // "Parts whose lineitem value exceeds 1.5× the average part's" — the
    // HAVING-vs-scalar-subquery shape: a keyed aggregate compared
    // against a ONE-ROW aggregate of itself. The threshold is RELATIVE
    // (2·v·n_parts > 3·total ⇔ v > 1.5·mean) because any absolute share
    // cutoff degenerates as the key count grows — at sf0.01 the top
    // part holds 899 ppm of the book, at sf0.1 only 95 ppm, and at
    // 100 TB effectively 0; the mean-relative form selects the same
    // kind of tail at every scale. Scale shape: the per-part aggregate
    // is the only fact-cardinality shuffle; the total derives from it
    // (not from a second fact scan) and joins back as a hinted 1-row
    // broadcast. Both sides of the > are exact DECIMAL·integer products
    // (never a double ratio), so the survivor set cannot differ across
    // engines.
    "q11_value_concentration" -> QueryDef.sql(
      """WITH pv AS (
        |  SELECT l_partkey, sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS v
        |  FROM lineitem GROUP BY 1),
        |tot AS (SELECT sum(v) AS t, CAST(count(*) AS BIGINT) AS np FROM pv)
        |SELECT pv.l_partkey AS p_partkey, CAST(pv.v AS DOUBLE) AS part_value
        |FROM pv CROSS JOIN tot
        |WHERE CAST(pv.v AS DECIMAL(38,4)) * 2 * tot.np > CAST(tot.t AS DECIMAL(38,4)) * 3
        |ORDER BY part_value DESC, p_partkey""".stripMargin) { (s, d) =>
      val pv = lineitem(s, d)
        .groupBy(col("l_partkey"))
        .agg(sum(col("l_extendedprice").cast(DecimalType(18, 4))).as("v"))
      val tot = pv.agg(sum(col("v")).as("t"), count(lit(1)).as("np"))
      pv.crossJoin(broadcast(tot)) // 1-row scalar side
        .filter(col("v").cast(DecimalType(38, 4)) * 2 * col("np") >
          col("t").cast(DecimalType(38, 4)) * 3)
        .select(col("l_partkey").as("p_partkey"),
          col("v").cast("double").as("part_value"))
        .orderBy(col("part_value").desc, col("p_partkey"))
    },

    // ----- TPC-H Q16 shape: anti-join + COUNT(DISTINCT) rollup -----
    // "How many distinct non-blocklisted suppliers can ship each
    // (brand, size)" — supplier variety, the procurement-risk report.
    // The supply relation is derived (DISTINCT part/supplier pairs from
    // the fact table — this schema has no partsupp), the blocklist
    // (negative-balance suppliers) is removed with a LEFT ANTI join
    // before the dimension join, and the rollup is COUNT(DISTINCT) —
    // which Spark executes as the two-stage expand/partial-agg plan, so
    // the distinct never concentrates on one task. The blocklist is
    // supplier-cardinality: left to AQE (broadcast while small).
    "q16_supplier_variety" -> QueryDef.sql(
      """WITH supply AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
        |bad AS (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0),
        |ok AS (
        |  SELECT s.l_partkey, s.l_suppkey FROM supply s
        |  LEFT JOIN bad b ON b.s_suppkey = s.l_suppkey
        |  WHERE b.s_suppkey IS NULL)
        |SELECT p.p_brand, p.p_size, CAST(count(DISTINCT o.l_suppkey) AS BIGINT) AS supplier_cnt
        |FROM ok o JOIN part p ON p.p_partkey = o.l_partkey
        |GROUP BY 1, 2 ORDER BY supplier_cnt DESC, p_brand, p_size""".stripMargin) { (s, d) =>
      val supply = lineitem(s, d).select("l_partkey", "l_suppkey").distinct()
      val bad = supplier(s, d).filter(col("s_acctbal") < 0).select("s_suppkey")
      supply
        .join(bad, col("s_suppkey") === col("l_suppkey"), "left_anti")
        .join(part(s, d), col("p_partkey") === col("l_partkey"))
        .groupBy(col("p_brand"), col("p_size"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_size"))
    },

    // ----- O10: ranking-function parity (ntile / rank / dense_rank) -----
    // The three rank flavors every report layer leans on, pinned for
    // cross-engine agreement under TIES: ntile gets a total order
    // (price, then key — without the tiebreak its bucket boundaries are
    // engine-defined), while rank/dense_rank deliberately order by a
    // COARSE band (price div 10k) so tie groups exist and the gap /
    // no-gap semantics are both exercised. Windows partition by
    // o_orderpriority — bounded skew now; at 100 TB a global quantile
    // would be approx_percentile, not a single-partition window (that
    // non-scalable shape is exactly what this probe avoids).
    "o10_window_ranks" -> QueryDef.sql(
      """SELECT o_orderkey,
        |  CAST(ntile(4) OVER (PARTITION BY o_orderpriority
        |    ORDER BY o_totalprice, o_orderkey) AS BIGINT) AS price_quartile,
        |  CAST(rank() OVER (PARTITION BY o_orderpriority
        |    ORDER BY CAST(floor(o_totalprice / 10000) AS BIGINT)) AS BIGINT) AS band_rank,
        |  CAST(dense_rank() OVER (PARTITION BY o_orderpriority
        |    ORDER BY CAST(floor(o_totalprice / 10000) AS BIGINT)) AS BIGINT) AS band_dense
        |FROM orders ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      val wQ = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      val band = floor(col("o_totalprice") / 10000).cast("long")
      val wB = Window.partitionBy(col("o_orderpriority")).orderBy(band)
      orders(s, d)
        .select(col("o_orderkey"),
          ntile(4).over(wQ).cast("long").as("price_quartile"),
          rank().over(wB).cast("long").as("band_rank"),
          dense_rank().over(wB).cast("long").as("band_dense"))
        .orderBy("o_orderkey")
    },

    // ----- O11: deterministic ordered list aggregation -----
    // Assemble each user's full event sequence as one delimited string —
    // the "collect the group into a sequence" operator behind session
    // replays, path exports, and prompt assembly. The cross-engine trap
    // this pins: Spark's collect_list is ARRIVAL-ordered (whatever order
    // partitions happen to deliver — nondeterministic under retries or
    // AQE), so the deterministic idiom is collect structs with the sort
    // key FIRST, array_sort (lexicographic on struct fields), then
    // project the payload — matching SQL's string_agg(... ORDER BY).
    // (event_id ties-breaks equal timestamps; event_type rides last so
    // it never influences the order.) One user-keyed shuffle; per-group
    // state is the user's own event list, bounded by the heaviest user.
    "o11_user_path_agg" -> QueryDef.sql(
      """SELECT user_id,
        |  string_agg(event_type, '>' ORDER BY epoch_ns(ts), event_id) AS path,
        |  CAST(count(*) AS BIGINT) AS n_events
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, d) =>
      events(s, d)
        .groupBy(col("user_id"))
        .agg(
          array_join(
            transform(
              array_sort(collect_list(struct(col("ts_ns"), col("event_id"),
                col("event_type")))),
              x => x.getField("event_type")),
            ">").as("path"),
          count(lit(1)).as("n_events"))
        .orderBy("user_id")
    },

    // ----- TPC-H Q7 shape: disjunctive cross-dimension predicate -----
    // Bilateral trade volume between two nations by ship year — the
    // join shape Q7 exists to test: the predicate couples TWO dimension
    // chains disjunctively ((A,B) OR (B,A)), so neither side alone can
    // evaluate it. The scale move the build spells out: push the
    // disjunction's ENVELOPE (each nation ∈ {A, B}) onto each dimension
    // chain first — both chains prune to 2-nation slivers before any
    // fact row joins — and apply the exact disjunction once both names
    // are in scope. Revenue goes through DECIMAL; the year comes from
    // EXTRACT on both engines. nation is the only hinted broadcast.
    "q7_nation_volume" -> QueryDef.sql(
      """WITH t AS (
        |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |    CAST(EXTRACT(year FROM l.l_shipdate) AS BIGINT) AS l_year,
        |    CAST(l.l_extendedprice * (1.0 - l.l_discount) AS DECIMAL(18,6)) AS vol
        |  FROM lineitem l
        |  JOIN supplier s ON s.s_suppkey = l.l_suppkey
        |  JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
        |  JOIN orders o ON o.o_orderkey = l.l_orderkey
        |  JOIN customer c ON c.c_custkey = o.o_custkey
        |  JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
        |  WHERE n1.n_name IN ('NATION_18', 'NATION_19')
        |    AND n2.n_name IN ('NATION_18', 'NATION_19')
        |    AND ((n1.n_name = 'NATION_18' AND n2.n_name = 'NATION_19')
        |      OR (n1.n_name = 'NATION_19' AND n2.n_name = 'NATION_18')))
        |SELECT supp_nation, cust_nation, l_year,
        |  CAST(sum(vol) AS DOUBLE) AS revenue
        |FROM t GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin) { (s, d) =>
      val pair = Seq("NATION_18", "NATION_19")
      val n1 = broadcast(nation(s, d).filter(col("n_name").isin(pair: _*)))
        .select(col("n_nationkey").as("nk1"), col("n_name").as("supp_nation"))
      val n2 = broadcast(nation(s, d).filter(col("n_name").isin(pair: _*)))
        .select(col("n_nationkey").as("nk2"), col("n_name").as("cust_nation"))
      val supp = supplier(s, d).join(n1, col("nk1") === col("s_nationkey"))
        .select("s_suppkey", "supp_nation")
      val cust = customer(s, d).join(n2, col("nk2") === col("c_nationkey"))
        .select("c_custkey", "cust_nation")
      lineitem(s, d)
        .join(supp, col("s_suppkey") === col("l_suppkey"))
        .join(orders(s, d), col("o_orderkey") === col("l_orderkey"))
        .join(cust, col("c_custkey") === col("o_custkey"))
        .filter((col("supp_nation") === "NATION_18" && col("cust_nation") === "NATION_19") ||
          (col("supp_nation") === "NATION_19" && col("cust_nation") === "NATION_18"))
        .select(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).cast("long").as("l_year"),
          (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .cast(DecimalType(18, 6)).as("vol"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(sum(col("vol")).cast("double").as("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    },

    // ----- TPC-H Q14 shape: conditional-aggregate ratio -----
    // Promo revenue share in one ship month — the CASE-inside-SUM
    // pattern (one pass computes both the filtered and the total
    // aggregate; a WHERE would need two scans or a self-join). The
    // share divides two DOUBLE casts of exact DECIMAL sums: identical
    // operands on both engines, one IEEE divide, floor to ppm — so the
    // ratio is emission-exact without a decimal-division type rabbit
    // hole. Date window pushes to the lineitem scan; part is a
    // projection-only dimension join.
    "q14_promo_share" -> QueryDef.sql(
      """WITH t AS (
        |  SELECT CAST(l.l_extendedprice * (1.0 - l.l_discount) AS DECIMAL(18,6)) AS rev,
        |    p.p_type = 'PROMO' AS is_promo
        |  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        |  WHERE l.l_shipdate >= TIMESTAMP '1997-09-01 00:00:00'
        |    AND l.l_shipdate < TIMESTAMP '1997-10-01 00:00:00')
        |SELECT
        |  CAST(sum(CASE WHEN is_promo THEN rev ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE) AS promo_revenue,
        |  CAST(sum(rev) AS DOUBLE) AS total_revenue,
        |  CAST(floor(1000000.0 * CAST(sum(CASE WHEN is_promo THEN rev ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE)
        |       / CAST(sum(rev) AS DOUBLE)) AS BIGINT) AS promo_share_ppm
        |FROM t""".stripMargin) { (s, d) =>
      val t = lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1997-09-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-10-01").cast("timestamp"))
        .join(part(s, d), col("p_partkey") === col("l_partkey"))
        .select((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast(DecimalType(18, 6)).as("rev"),
          (col("p_type") === "PROMO").as("is_promo"))
      t.agg(
        sum(when(col("is_promo"), col("rev"))
          .otherwise(lit(0).cast(DecimalType(18, 6)))).as("promo_dec"),
        sum(col("rev")).as("total_dec"))
        .select(col("promo_dec").cast("double").as("promo_revenue"),
          col("total_dec").cast("double").as("total_revenue"))
        .select(col("promo_revenue"), col("total_revenue"),
          floor(lit(1000000.0) * col("promo_revenue") / col("total_revenue"))
            .cast("long").as("promo_share_ppm"))
    },

    // ----- TPC-H Q19 shape: disjunction of conjunctive range bands -----
    // The OR-of-ANDs predicate Q19 exists to test: three brand-specific
    // (size, quantity) bands OR'd together, spanning BOTH join sides.
    // What the optimizer must do (and the plan is graded on): push the
    // disjunction's per-side ENVELOPE down — brand ∈ {…} and the size
    // union reach the part scan, the quantity union reaches the
    // lineitem scan — then apply the exact OR above the join; without
    // the envelopes the join runs on the full fact table. Catalyst
    // derives these from the OR via In/Range inference; the build
    // states them explicitly so the contract survives optimizer
    // changes.
    "q19_banded_revenue" -> QueryDef.sql(
      """SELECT CAST(count(*) AS BIGINT) AS n_items,
        |  CAST(sum(CAST(l.l_extendedprice * (1.0 - l.l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        |FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        |WHERE p.p_brand IN ('Brand#1', 'Brand#2', 'Brand#3')
        |  AND p.p_size BETWEEN 1 AND 30
        |  AND l.l_quantity BETWEEN 1 AND 40
        |  AND ((p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 10 AND l.l_quantity BETWEEN 1 AND 20)
        |    OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 5 AND 20 AND l.l_quantity BETWEEN 10 AND 30)
        |    OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 10 AND 30 AND l.l_quantity BETWEEN 20 AND 40))""".stripMargin) { (s, d) =>
      val p = part(s, d)
        .filter(col("p_brand").isin("Brand#1", "Brand#2", "Brand#3") &&
          col("p_size").between(1, 30))
      val band =
        (col("p_brand") === "Brand#1" && col("p_size").between(1, 10) &&
          col("l_quantity").between(1, 20)) ||
        (col("p_brand") === "Brand#2" && col("p_size").between(5, 20) &&
          col("l_quantity").between(10, 30)) ||
        (col("p_brand") === "Brand#3" && col("p_size").between(10, 30) &&
          col("l_quantity").between(20, 40))
      lineitem(s, d)
        .filter(col("l_quantity").between(1, 40))
        .join(p, col("p_partkey") === col("l_partkey"))
        .filter(band)
        .agg(count(lit(1)).as("n_items"),
          dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6)
            .as("revenue"))
    },

    // ----- TPC-H Q5 shape: cyclic join constraint (local suppliers) -----
    // Revenue from orders where the supplier sits in the CUSTOMER'S
    // nation, rolled up per nation of one region — Q5's signature is
    // the CYCLE in the join graph: supplier joins the fact on
    // s_suppkey AND the customer's dimension key (s_nationkey =
    // c_nationkey), so the "local" constraint is a second equi-column
    // on an existing join, not a new shuffle. Region/nation prune
    // before anything fact-sized joins; the date window pushes to
    // orders; revenue is DECIMAL-exact with name tiebreak on the
    // double sort.
    "q5_local_supplier_volume" -> QueryDef.sql(
      """SELECT n.n_name,
        |  CAST(sum(CAST(l.l_extendedprice * (1.0 - l.l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        |FROM lineitem l
        |JOIN orders o ON o.o_orderkey = l.l_orderkey
        |JOIN customer c ON c.c_custkey = o.o_custkey
        |JOIN supplier s ON s.s_suppkey = l.l_suppkey AND s.s_nationkey = c.c_nationkey
        |JOIN nation n ON n.n_nationkey = c.c_nationkey
        |JOIN region r ON r.r_regionkey = n.n_regionkey
        |WHERE r.r_name = 'ASIA'
        |  AND o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY n.n_name ORDER BY revenue DESC, n_name""".stripMargin) { (s, d) =>
      val asiaNations = nation(s, d)
        .join(broadcast(region(s, d).filter(col("r_name") === "ASIA")),
          col("r_regionkey") === col("n_regionkey"))
        .select("n_nationkey", "n_name")
      val cust = customer(s, d)
        .join(broadcast(asiaNations), col("n_nationkey") === col("c_nationkey"))
        .select(col("c_custkey"), col("c_nationkey"), col("n_name"))
      lineitem(s, d)
        .join(orders(s, d)
          .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
            col("o_orderdate") < lit("1998-01-01").cast("timestamp")),
          col("o_orderkey") === col("l_orderkey"))
        .join(cust, col("c_custkey") === col("o_custkey"))
        .join(supplier(s, d), col("s_suppkey") === col("l_suppkey") &&
          col("s_nationkey") === col("c_nationkey"))
        .groupBy(col("n_name"))
        .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6)
          .as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    },

    // ----- TPC-H Q6 shape: pure scan-aggregate with banded predicates -----
    // The forecasting-revenue staple: no join at all — three banded
    // predicates and one sum, the query whose entire cost IS the scan.
    // Its job in the suite: pin that all three predicates reach
    // PushedFilters (a scan that filters post-read does 10× the I/O at
    // 100 TB) and that the arithmetic goes through DECIMAL.
    "q6_banded_revenue" -> QueryDef.sql(
      """SELECT CAST(count(*) AS BIGINT) AS n_items,
        |  CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        |  AND l_discount BETWEEN 0.02 AND 0.04
        |  AND l_quantity < 25""".stripMargin) { (s, d) =>
      lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp") &&
          col("l_discount").between(0.02, 0.04) &&
          col("l_quantity") < 25)
        .agg(count(lit(1)).as("n_items"),
          dsum(col("l_extendedprice") * col("l_discount"), 6).as("revenue"))
    },

    // ----- O13: gaps-and-islands (longest activity streak) -----
    // The streak report (DAU quality, habit metrics): per user, the
    // longest run of CONSECUTIVE active days. The gaps-and-islands
    // trick: over a user's distinct active days in order, day −
    // row_number() is CONSTANT within a consecutive run and jumps at
    // every gap — so that difference IS the island id, and the streak
    // report is one more aggregate over (user, island). Two user-keyed
    // shuffles (distinct, window), output user-cardinality. All
    // integers.
    "o13_longest_streak" -> QueryDef.sql(
      """WITH d AS (
        |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
        |i AS (
        |  SELECT user_id, day,
        |    day - row_number() OVER (PARTITION BY user_id ORDER BY day) AS island
        |  FROM d),
        |runs AS (
        |  SELECT user_id, island, CAST(count(*) AS BIGINT) AS len
        |  FROM i GROUP BY user_id, island)
        |SELECT user_id, CAST(sum(len) AS BIGINT) AS n_active_days,
        |  CAST(count(*) AS BIGINT) AS n_streaks, max(len) AS longest_streak
        |FROM runs GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, d) =>
      val days = events(s, d)
        .select(col("user_id"),
          expr(s"(${Tables.epochUsFloorSql}) div 86400000000").as("day"))
        .distinct()
      val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
      days
        .withColumn("island", col("day") - row_number().over(w))
        .groupBy("user_id", "island")
        .agg(count(lit(1)).as("len"))
        .groupBy("user_id")
        .agg(sum(col("len")).cast("long").as("n_active_days"),
          count(lit(1)).as("n_streaks"),
          max(col("len")).as("longest_streak"))
        .orderBy("user_id")
    },

    // ----- TPC-H Q8 shape: grouped market-share ratio -----
    // One nation's share of a region's yearly revenue — Q14's
    // CASE-inside-SUM ratio GROUPED by year (the share must divide two
    // aggregates of the SAME group, which the single-pass conditional
    // form gives for free; computing the slice and the total in
    // separate queries would double the join work and still need a
    // join-back). Customer side restricts the market (the region);
    // supplier side tags the contender rows. Shares are ppm integers
    // floored from DOUBLE casts of identical DECIMAL sums.
    "q8_market_share" -> QueryDef.sql(
      """WITH t AS (
        |  SELECT CAST(EXTRACT(year FROM l.l_shipdate) AS BIGINT) AS l_year,
        |    CAST(l.l_extendedprice * (1.0 - l.l_discount) AS DECIMAL(18,6)) AS vol,
        |    ns.n_name = 'NATION_18' AS is_contender
        |  FROM lineitem l
        |  JOIN orders o ON o.o_orderkey = l.l_orderkey
        |  JOIN customer c ON c.c_custkey = o.o_custkey
        |  JOIN nation nc ON nc.n_nationkey = c.c_nationkey
        |  JOIN region r ON r.r_regionkey = nc.n_regionkey
        |  JOIN supplier s ON s.s_suppkey = l.l_suppkey
        |  JOIN nation ns ON ns.n_nationkey = s.s_nationkey
        |  WHERE r.r_name = 'ASIA')
        |SELECT l_year,
        |  CAST(sum(CASE WHEN is_contender THEN vol ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE) AS nation_revenue,
        |  CAST(sum(vol) AS DOUBLE) AS market_revenue,
        |  CAST(floor(1000000.0 * CAST(sum(CASE WHEN is_contender THEN vol ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE)
        |       / CAST(sum(vol) AS DOUBLE)) AS BIGINT) AS share_ppm
        |FROM t GROUP BY l_year ORDER BY l_year""".stripMargin) { (s, d) =>
      val asiaCust = customer(s, d)
        .join(broadcast(nation(s, d)
            .join(broadcast(region(s, d).filter(col("r_name") === "ASIA")),
              col("r_regionkey") === col("n_regionkey"))
            .select(col("n_nationkey"))),
          col("n_nationkey") === col("c_nationkey"))
        .select("c_custkey")
      val supp = supplier(s, d)
        .join(broadcast(nation(s, d)
            .select(col("n_nationkey").as("snk"), col("n_name"))),
          col("snk") === col("s_nationkey"))
        .select(col("s_suppkey"), (col("n_name") === "NATION_18").as("is_contender"))
      val t = lineitem(s, d)
        .join(orders(s, d), col("o_orderkey") === col("l_orderkey"))
        .join(asiaCust, col("c_custkey") === col("o_custkey"), "left_semi")
        .join(supp, col("s_suppkey") === col("l_suppkey"))
        .select(year(col("l_shipdate")).cast("long").as("l_year"),
          (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .cast(DecimalType(18, 6)).as("vol"),
          col("is_contender"))
      t.groupBy("l_year")
        .agg(sum(when(col("is_contender"), col("vol"))
            .otherwise(lit(0).cast(DecimalType(18, 6)))).as("nat_dec"),
          sum(col("vol")).as("mkt_dec"))
        .select(col("l_year"),
          col("nat_dec").cast("double").as("nation_revenue"),
          col("mkt_dec").cast("double").as("market_revenue"))
        .select(col("l_year"), col("nation_revenue"), col("market_revenue"),
          floor(lit(1000000.0) * col("nation_revenue") / col("market_revenue"))
            .cast("long").as("share_ppm"))
        .orderBy("l_year")
    },

    // ----- TPC-H Q4 shape: EXISTS semi-join + priority rollup -----
    // Orders in a quarter with at least one flagged (returned) item,
    // counted per priority — the plain correlated-EXISTS shape: the
    // subquery becomes a LEFT SEMI join (first match wins, no
    // multiplicity to dedup), the date window pushes to the orders
    // scan, the flag pushes to the lineitem scan, and the rollup is
    // priority-cardinality.
    "q4_priority_exists" -> QueryDef.sql(
      """SELECT o.o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
        |FROM orders o
        |WHERE o.o_orderdate >= TIMESTAMP '1997-07-01 00:00:00'
        |  AND o.o_orderdate < TIMESTAMP '1997-10-01 00:00:00'
        |  AND EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val flagged = lineitem(s, d).filter(col("l_returnflag") === "R")
        .select("l_orderkey")
      orders(s, d)
        .filter(col("o_orderdate") >= lit("1997-07-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-10-01").cast("timestamp"))
        .join(flagged, col("l_orderkey") === col("o_orderkey"), "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
        .orderBy("o_orderpriority")
    },

    // ----- TPC-H Q15 shape: max-of-aggregate join-back -----
    // The quarter's top supplier(s) by revenue — the VIEW + scalar-max
    // shape: aggregate once, take the 1-row max OF the aggregate, join
    // it back by equality. The equality compares two DECIMALs produced
    // by the same sum — exact, so ties (all suppliers at the max)
    // surface identically on both engines; the max row broadcasts.
    "q15_top_supplier" -> QueryDef.sql(
      """WITH rev AS (
        |  SELECT l_suppkey, sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS r
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1997-07-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1997-10-01 00:00:00'
        |  GROUP BY l_suppkey),
        |mx AS (SELECT max(r) AS m FROM rev)
        |SELECT s.s_suppkey, s.s_name, CAST(rev.r AS DOUBLE) AS total_revenue
        |FROM rev JOIN mx ON rev.r = mx.m
        |JOIN supplier s ON s.s_suppkey = rev.l_suppkey
        |ORDER BY s.s_suppkey""".stripMargin) { (s, d) =>
      val rev = lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1997-07-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-10-01").cast("timestamp"))
        .groupBy(col("l_suppkey"))
        .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast(DecimalType(18, 6))).as("r"))
      val mx = rev.agg(max(col("r")).as("m"))
      rev.join(broadcast(mx), col("r") === col("m")) // 1-row scalar side
        .join(supplier(s, d), col("s_suppkey") === col("l_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("r").cast("double").as("total_revenue"))
        .orderBy("s_suppkey")
    },

    // ----- TPC-H Q13 shape: left-join count distribution -----
    // "How many customers placed 0, 1, 2, … orders" — the histogram of
    // group sizes with ZERO-preservation: the left join keeps
    // order-less customers, count(o_orderkey) (not count(*)) makes
    // their count 0, and the second aggregate buckets customers by it.
    // Two aggregates, one join, both customer-keyed — the distribution
    // report every account/usage dashboard is built on (the relational
    // twin of cluster_size_histogram's zero-truncated doc version).
    "q13_order_count_dist" -> QueryDef.sql(
      """WITH co AS (
        |  SELECT c.c_custkey, CAST(count(o.o_orderkey) AS BIGINT) AS c_count
        |  FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
        |  GROUP BY c.c_custkey)
        |SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
        |FROM co GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin) { (s, d) =>
      customer(s, d)
        .join(orders(s, d), col("o_custkey") === col("c_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    },

    // ----- TPC-H Q17 shape: correlated per-group average, decorrelated -----
    // Small-quantity-order revenue for one brand: lineitems below 0.2×
    // their part's average quantity — the correlated scalar-AVG
    // subquery. The Spark build decorrelates like q2: restrict to the
    // brand's parts (a part-level semi-join — the filter must NOT drop
    // lineitem rows from the average's denominator), then ONE window
    // over l_partkey carries (Σqty, n) and the 0.2×avg comparison is
    // the integer-cross-multiplied 5·qty·n < Σqty — no division, no
    // average materialized, exact DECIMAL. Output is the Q17 scalar:
    // qualifying revenue / 7 (one IEEE divide of identical operands).
    "q17_small_qty_revenue" -> QueryDef.sql(
      """WITH pb AS (SELECT p_partkey FROM part WHERE p_brand = 'Brand#1'),
        |li AS (
        |  SELECT l.l_partkey, l.l_quantity, l.l_extendedprice
        |  FROM lineitem l JOIN pb ON pb.p_partkey = l.l_partkey),
        |pa AS (
        |  SELECT l_partkey, sum(CAST(l_quantity AS DECIMAL(18,4))) AS sq,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM li GROUP BY l_partkey)
        |SELECT CAST(count(*) AS BIGINT) AS n_items,
        |  CAST(CAST(sum(CAST(li.l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / 7.0 AS DOUBLE) AS avg_yearly
        |FROM li JOIN pa ON pa.l_partkey = li.l_partkey
        |WHERE CAST(li.l_quantity AS DECIMAL(18,4)) * 5 * pa.cnt < pa.sq""".stripMargin) { (s, d) =>
      val pb = part(s, d).filter(col("p_brand") === "Brand#1").select("p_partkey")
      val li = lineitem(s, d)
        .join(pb, col("p_partkey") === col("l_partkey"), "left_semi")
        .select("l_partkey", "l_quantity", "l_extendedprice")
      val w = Window.partitionBy(col("l_partkey"))
      li.withColumn("sq", sum(col("l_quantity").cast(DecimalType(18, 4))).over(w))
        .withColumn("cnt", count(lit(1)).over(w))
        .filter(col("l_quantity").cast(DecimalType(18, 4)) * 5 * col("cnt") < col("sq"))
        .agg(count(lit(1)).as("n_items"),
          (sum(col("l_extendedprice").cast(DecimalType(18, 4))).cast("double") /
            lit(7.0)).cast("double").as("avg_yearly"))
    },

    // ----- TPC-H Q21 shape: EXISTS + NOT EXISTS polarity pair -----
    // "Suppliers solely responsible for a failed multi-supplier order":
    // the flagged (returnflag = R) supplier must share the order with
    // ANOTHER supplier (EXISTS, same order, different supplier) while
    // NO other supplier of that order is also flagged (NOT EXISTS) —
    // the two-polarity correlated pattern Q21 exists to test. Spark
    // executes each polarity as its join: LEFT SEMI for the EXISTS,
    // LEFT ANTI for the NOT EXISTS, both on the order key with the
    // supplier inequality as the join residual — never a per-row
    // subquery. Per-(order, supplier) participation dedupes BEFORE the
    // polarity joins so multiplicities can't inflate the wait counts.
    "q21_sole_blame" -> QueryDef.sql(
      """WITH part_of AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
        |flagged AS (
        |  SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem
        |  WHERE l_returnflag = 'R'),
        |blamed AS (
        |  SELECT f.l_orderkey, f.l_suppkey FROM flagged f
        |  WHERE EXISTS (SELECT 1 FROM part_of o
        |                WHERE o.l_orderkey = f.l_orderkey
        |                  AND o.l_suppkey <> f.l_suppkey)
        |    AND NOT EXISTS (SELECT 1 FROM flagged g
        |                    WHERE g.l_orderkey = f.l_orderkey
        |                      AND g.l_suppkey <> f.l_suppkey))
        |SELECT s.s_name, CAST(count(*) AS BIGINT) AS numwait
        |FROM blamed b JOIN supplier s ON s.s_suppkey = b.l_suppkey
        |GROUP BY s.s_name ORDER BY numwait DESC, s_name LIMIT 20""".stripMargin) { (s, d) =>
      val partOf = lineitem(s, d).select("l_orderkey", "l_suppkey").distinct()
      val flagged = lineitem(s, d).filter(col("l_returnflag") === "R")
        .select("l_orderkey", "l_suppkey").distinct()
      val others = partOf
        .select(col("l_orderkey").as("o_ok"), col("l_suppkey").as("o_supp"))
      val flaggedOthers = flagged
        .select(col("l_orderkey").as("g_ok"), col("l_suppkey").as("g_supp"))
      val blamed = flagged
        .join(others, col("l_orderkey") === col("o_ok") &&
          col("l_suppkey") =!= col("o_supp"), "left_semi")
        .join(flaggedOthers, col("l_orderkey") === col("g_ok") &&
          col("l_suppkey") =!= col("g_supp"), "left_anti")
      blamed.join(supplier(s, d), col("s_suppkey") === col("l_suppkey"))
        .groupBy(col("s_name"))
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
        .limit(20)
    },

    // ----- J9: null-safe equality join parity -----
    // The NULL-key join trap pinned cross-engine: standard `=` drops
    // NULL keys from every join (a NULL-segment row silently vanishes
    // from an enrichment join — a real data-loss bug in cleaning
    // pipelines), while Spark's `<=>` and SQL's IS NOT DISTINCT FROM
    // match NULL to NULL. The probe groups customers by a NULLABLE
    // segment through a null-safe left join and counts every group
    // including the NULL one. Second trap pinned in the same query:
    // default null ORDERING differs (Spark ASC puts nulls FIRST,
    // DuckDB puts them LAST), so the sort is explicit NULLS FIRST.
    "j9_null_safe_join" -> QueryDef.sql(
      """WITH c AS (
        |  SELECT nullif(c_mktsegment, 'BUILDING') AS seg, c_custkey FROM customer),
        |d AS (SELECT DISTINCT seg FROM c)
        |SELECT d.seg, CAST(count(c.c_custkey) AS BIGINT) AS n_customers
        |FROM d LEFT JOIN c ON c.seg IS NOT DISTINCT FROM d.seg
        |GROUP BY d.seg ORDER BY d.seg NULLS FIRST""".stripMargin) { (s, d) =>
      val c = customer(s, d)
        .select(nullif(col("c_mktsegment"), lit("BUILDING")).as("seg"),
          col("c_custkey"))
      val dim = c.select(col("seg").as("dseg")).distinct()
      dim.join(c, col("dseg") <=> col("seg"), "left")
        .groupBy(col("dseg").as("seg"))
        .agg(count(col("c_custkey")).as("n_customers"))
        .orderBy(col("seg").asc_nulls_first)
    },

    // ----- O12: inter-arrival gap percentiles per event type -----
    // The arrival-process profile behind rate limits, session-timeout
    // choices (o4's 30-min gap is exactly a quantile of THIS
    // distribution), and anomaly baselines: per event type, exact
    // p50/p90/p99 of the gap between a user's consecutive events of
    // that type. Percentiles are EXACT rank selections (value at rank
    // ⌈q·n⌉, the repo's lower-median convention) — rank ties on equal
    // gap values cannot change the selected VALUE, so no interpolation
    // and no cross-engine quantile-definition drift. Two type-keyed
    // window passes (lag, then rank) and a constant-size rollup.
    "o12_gap_percentiles" -> QueryDef.sql(
      """WITH e AS (
        |  SELECT event_type, user_id, epoch_us(ts) AS us, event_id FROM events),
        |g AS (
        |  SELECT event_type,
        |    us - lag(us) OVER (PARTITION BY event_type, user_id
        |                       ORDER BY us, event_id) AS gap
        |  FROM e),
        |gg AS (SELECT event_type, gap FROM g WHERE gap IS NOT NULL),
        |rk AS (
        |  SELECT event_type, gap,
        |    row_number() OVER (PARTITION BY event_type ORDER BY gap) AS r,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM gg)
        |SELECT event_type, CAST(max(n) AS BIGINT) AS n_gaps,
        |  max(CASE WHEN r = (n + 1) // 2 THEN gap END) AS p50_us,
        |  max(CASE WHEN r = (9 * n + 9) // 10 THEN gap END) AS p90_us,
        |  max(CASE WHEN r = (99 * n + 99) // 100 THEN gap END) AS p99_us
        |FROM rk GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
      val lagW = Window.partitionBy(col("event_type"), col("user_id"))
        .orderBy(col("us"), col("event_id"))
      val gg = events(s, d)
        .select(col("event_type"), col("user_id"),
          expr(Tables.epochUsFloorSql).as("us"), col("event_id"))
        .withColumn("gap", col("us") - lag(col("us"), 1).over(lagW))
        .filter(col("gap").isNotNull)
        .select("event_type", "gap")
      val rkW = Window.partitionBy(col("event_type")).orderBy(col("gap"))
      val cntW = Window.partitionBy(col("event_type"))
      gg.withColumn("r", row_number().over(rkW))
        .withColumn("n", count(lit(1)).over(cntW))
        .groupBy("event_type")
        .agg(max(col("n")).as("n_gaps"),
          max(when(col("r") === expr("(n + 1) div 2"), col("gap"))).as("p50_us"),
          max(when(col("r") === expr("(9 * n + 9) div 10"), col("gap"))).as("p90_us"),
          max(when(col("r") === expr("(99 * n + 99) div 100"), col("gap"))).as("p99_us"))
        .orderBy("event_type")
    },

    // ----- corpus snapshot diff: the ingestion-delta audit -----
    // What changed between two corpus snapshots — the diff every
    // re-crawl / re-ingest ships before promoting a new snapshot:
    // added, removed, changed (same id, different content fingerprint),
    // unchanged, rolled up per source. Snapshots are simulated from the
    // one table (A drops id%11=0, B drops id%13=0 and re-writes id%17=0
    // docs — an upstream edit); the OPERATOR is the real thing: a
    // full-outer join on doc_id comparing 16-byte fingerprints — never
    // text — with the status derived from null-ness and fp equality.
    // Scale shape: both sides reduce to (id, fp, source) projections at
    // the scan, the join is the only wide op, and the rollup is
    // taxonomy-bounded.
    "corpus_snapshot_diff" -> QueryDef.sql(
      """WITH a AS (
        |  SELECT doc_id, md5(text) AS fp, source FROM documents WHERE doc_id % 11 <> 0),
        |b AS (
        |  SELECT doc_id,
        |    md5(CASE WHEN doc_id % 17 = 0 THEN upper(text) ELSE text END) AS fp,
        |    source
        |  FROM documents WHERE doc_id % 13 <> 0),
        |j AS (
        |  SELECT coalesce(a.source, b.source) AS source,
        |    CASE WHEN a.doc_id IS NULL THEN 'added'
        |         WHEN b.doc_id IS NULL THEN 'removed'
        |         WHEN a.fp <> b.fp THEN 'changed'
        |         ELSE 'unchanged' END AS status
        |  FROM a FULL OUTER JOIN b ON b.doc_id = a.doc_id)
        |SELECT source, status, CAST(count(*) AS BIGINT) AS n_docs
        |FROM j GROUP BY 1, 2 ORDER BY source, status""".stripMargin) { (s, d) =>
      val docs = documents(s, d)
      val a = docs.filter(col("doc_id") % 11 =!= 0)
        .select(col("doc_id").as("a_id"), md5(col("text").cast("binary")).as("a_fp"),
          col("source").as("a_src"))
      val b = docs.filter(col("doc_id") % 13 =!= 0)
        .select(col("doc_id").as("b_id"),
          md5(when(col("doc_id") % 17 === 0, upper(col("text")))
            .otherwise(col("text")).cast("binary")).as("b_fp"),
          col("source").as("b_src"))
      a.join(b, col("a_id") === col("b_id"), "full_outer")
        .select(coalesce(col("a_src"), col("b_src")).as("source"),
          when(col("a_id").isNull, "added")
            .when(col("b_id").isNull, "removed")
            .when(col("a_fp") =!= col("b_fp"), "changed")
            .otherwise("unchanged").as("status"))
        .groupBy("source", "status")
        .agg(count(lit(1)).as("n_docs"))
        .orderBy("source", "status")
    },

    // ----- A8: weekly cohort retention matrix -----
    // The full (cohort week × age) matrix behind every retention curve:
    // users keyed to the week of their first event, then counted
    // distinct in each later week at their week-offset. a7_retention is
    // one slice of this; the matrix is the deliverable analysts plot.
    // Scale shape: both the first-event aggregate and the cohort join
    // are user-keyed — the join reuses the aggregate's hash
    // partitioning (ReusedExchange), so the matrix costs ONE
    // fact-cardinality shuffle; the output is weeks² — constant.
    "a8_cohort_matrix" -> QueryDef.sql(
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) // 604800000000 AS wk FROM events),
        |c AS (SELECT user_id, min(wk) AS cohort_wk FROM e GROUP BY 1)
        |SELECT c.cohort_wk, e.wk - c.cohort_wk AS age_wk,
        |  CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users
        |FROM e JOIN c ON c.user_id = e.user_id
        |GROUP BY 1, 2 ORDER BY cohort_wk, age_wk""".stripMargin) { (s, d) =>
      val e = events(s, d)
        .select(col("user_id"),
          expr(s"(${Tables.epochUsFloorSql}) div 604800000000").as("wk"))
      val cohort = e.groupBy("user_id").agg(min(col("wk")).as("cohort_wk"))
      e.join(cohort, Seq("user_id"))
        .groupBy(col("cohort_wk"), (col("wk") - col("cohort_wk")).as("age_wk"))
        .agg(countDistinct(col("user_id")).as("n_users"))
        .orderBy("cohort_wk", "age_wk")
    },

    // ----- TPC-H Q12 shape: join + conditional priority counts -----
    // The shipping-mode priority report re-expressed on this schema
    // (testdata carries no l_shipmode/commitdate, so the grouping key is
    // the return flag and the window is a ship-year): ONE orders join,
    // the date window pushed to the lineitem scan, and the classic
    // CASE-inside-SUM pair that splits one pass's counts by the OTHER
    // table's priority class. Output is flag-cardinality; the join is
    // the only shuffle and AQE may broadcast the filtered fact side at
    // small SF while shuffling at scale.
    "q12_priority_lines" -> QueryDef.sql(
      """SELECT l.l_returnflag,
        |  CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
        |                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
        |                THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        |WHERE l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND l.l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val hi = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
        .join(orders(s, d), col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("l_returnflag"))
        .agg(sum(when(hi, 1L).otherwise(0L)).cast("long").as("high_line_count"),
          sum(when(hi, 0L).otherwise(1L)).cast("long").as("low_line_count"))
        .orderBy("l_returnflag")
    },

    // ----- TPC-H Q9 shape: product-type profit by nation × year -----
    // The deepest join tree in the suite (lineitem ⋈ part ⋈ supplier ⋈
    // nation ⋈ orders — five tables, no partsupp in this testdata so
    // the unit cost term is retailprice-derived): profit per
    // supplier-nation per order year for one part family. The name
    // filter prunes part BEFORE the join (AQE sees the shrunken side),
    // nation is a pinned broadcast, and the two fact-fact joins shuffle
    // on their own keys; output is nations × years. DECIMAL profit so
    // the sum is order-independent.
    "q9_product_profit" -> QueryDef.sql(
      """SELECT n.n_name, CAST(EXTRACT(year FROM o.o_orderdate) AS BIGINT) AS o_year,
        |  CAST(sum(CAST(l.l_extendedprice * (1.0 - l.l_discount)
        |                - p.p_retailprice * 0.1 * l.l_quantity
        |                AS DECIMAL(18,6))) AS DOUBLE) AS profit
        |FROM lineitem l
        |JOIN part p ON p.p_partkey = l.l_partkey
        |JOIN supplier s ON s.s_suppkey = l.l_suppkey
        |JOIN nation n ON n.n_nationkey = s.s_nationkey
        |JOIN orders o ON o.o_orderkey = l.l_orderkey
        |WHERE p.p_name LIKE '%red%'
        |GROUP BY 1, 2 ORDER BY n_name, o_year DESC""".stripMargin) { (s, d) =>
      lineitem(s, d)
        .join(part(s, d).filter(col("p_name").like("%red%"))
          .select("p_partkey", "p_retailprice"),
          col("p_partkey") === col("l_partkey"))
        .join(supplier(s, d).select("s_suppkey", "s_nationkey"),
          col("s_suppkey") === col("l_suppkey"))
        .join(broadcast(nation(s, d).select("n_nationkey", "n_name")),
          col("n_nationkey") === col("s_nationkey"))
        .join(orders(s, d).select("o_orderkey", "o_orderdate"),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("n_name"), year(col("o_orderdate")).cast("long").as("o_year"))
        .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
          - col("p_retailprice") * lit(0.1) * col("l_quantity"), 6).as("profit"))
        .orderBy(col("n_name"), col("o_year").desc)
    },

    // ----- TPC-H Q20 shape: nested semi-join + correlated share threshold -----
    // The "dominant stockists" probe (Q20's part-supplier promotion
    // shape without partsupp: shipped quantity stands in for availqty):
    // suppliers holding >20% of a part family's shipped volume, counted
    // per supplier. The oracle keeps the textbook correlated scalar
    // subquery (per-part total re-queried per row); the Spark build
    // decorrelates it into ONE window over the same (supp, part)
    // aggregate — no join-back, no second scan. The share test is
    // 5·qty > total in DECIMAL (whole-number quantities ⇒ exact; no
    // double boundary straddles engines); 20% stays populated at every
    // SF while a strict-majority cut empties as supplier counts grow.
    "q20_dominant_stockists" -> QueryDef.sql(
      """WITH sp AS (
        |  SELECT l.l_suppkey, l.l_partkey,
        |    CAST(sum(CAST(l.l_quantity AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS qty
        |  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        |  WHERE p.p_name LIKE 'small%'
        |  GROUP BY 1, 2)
        |SELECT s.s_name, CAST(count(*) AS BIGINT) AS n_parts
        |FROM supplier s JOIN sp ON sp.l_suppkey = s.s_suppkey
        |WHERE 5 * sp.qty > (SELECT CAST(sum(x.qty) AS DECIMAL(18,4)) FROM sp x
        |                    WHERE x.l_partkey = sp.l_partkey)
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val sp = lineitem(s, d)
        .join(part(s, d).filter(col("p_name").like("small%")).select("p_partkey"),
          col("p_partkey") === col("l_partkey"))
        .groupBy(col("l_suppkey"), col("l_partkey"))
        .agg(sum(col("l_quantity").cast(DecimalType(18, 4)))
          .cast(DecimalType(18, 4)).as("qty"))
      val w = Window.partitionBy(col("l_partkey"))
      sp.withColumn("tot", sum(col("qty")).over(w).cast(DecimalType(18, 4)))
        .filter(lit(5) * col("qty") > col("tot"))
        .join(supplier(s, d).select("s_suppkey", "s_name"),
          col("s_suppkey") === col("l_suppkey"))
        .groupBy(col("s_name"))
        .agg(count(lit(1)).as("n_parts"))
        .orderBy("s_name")
    },

    // ----- A9: last-touch attribution -----
    // Every purchase credits the event that IMMEDIATELY preceded it in
    // the same user's stream (the marketing last-touch model; first
    // events of a stream credit 'direct'). One lag() over the o6 window
    // (user-keyed, ns-ordered — sub-µs ties must order identically on
    // both engines, so the ordering key is ns, the o6 choice) and a
    // touch-cardinality rollup; purchase value goes through DECIMAL so
    // the attributed-revenue sums are order-independent.
    "a9_attribution" -> QueryDef.sql(
      """WITH t AS (
        |  SELECT user_id, event_id, event_type, value, epoch_ns(ts) AS ns FROM events),
        |p AS (
        |  SELECT event_type, value,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ns, event_id) AS prev
        |  FROM t)
        |SELECT coalesce(prev, 'direct') AS touch,
        |  CAST(count(*) AS BIGINT) AS n_purchases,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS attributed_value
        |FROM p WHERE event_type = 'purchase'
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts_ns"), col("event_id"))
      events(s, d)
        .select(col("user_id"), col("event_id"), col("event_type"), col("value"),
          col("ts_ns"))
        .withColumn("prev", lag(col("event_type"), 1).over(w))
        .filter(col("event_type") === "purchase")
        .groupBy(coalesce(col("prev"), lit("direct")).as("touch"))
        .agg(count(lit(1)).as("n_purchases"),
          dsum(col("value"), 6).as("attributed_value"))
        .orderBy("touch")
    },

    // ----- J10: interval-OVERLAP join without an equi key -----
    // j6 is point-in-range WITH a user key; this is the harder shape —
    // two GLOBAL interval sets (every error opens a 2-min incident
    // window, every purchase a ±2-min sensitivity window, users
    // irrelevant) joined on interval overlap. With no equi key at all a
    // naive plan is a nested-loop cross product; the scalable rewrite
    // manufactures one: each interval EXPLODES to the 10-min time
    // buckets it touches (≤2 here — span/bucket is bounded by
    // construction), the join runs as an equi-join on the bucket with
    // the exact overlap predicate as a residual, and pairs that meet in
    // two shared buckets dedupe with one DISTINCT. The oracle keeps the
    // textbook theta join. Output is an overlap-count histogram
    // (zero-overlap purchases kept via left join) — constant
    // cardinality.
    "j10_interval_overlap" -> QueryDef.sql(
      """WITH a AS (
        |  SELECT event_id AS err_id, epoch_us(ts) AS sa,
        |         epoch_us(ts) + 120000000 AS ea
        |  FROM events WHERE event_type = 'error'),
        |b AS (
        |  SELECT event_id AS pur_id, epoch_us(ts) - 120000000 AS sb,
        |         epoch_us(ts) + 120000000 AS eb
        |  FROM events WHERE event_type = 'purchase'),
        |c AS (
        |  SELECT b.pur_id, CAST(count(a.err_id) AS BIGINT) AS n
        |  FROM b LEFT JOIN a ON a.sa <= b.eb AND b.sb <= a.ea
        |  GROUP BY 1)
        |SELECT n AS n_overlaps, CAST(count(*) AS BIGINT) AS n_purchases
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val e = events(s, d)
      val err = e.filter(col("event_type") === "error")
        .select(col("event_id").as("err_id"),
          expr(Tables.epochUsFloorSql).as("sa"),
          (expr(Tables.epochUsFloorSql) + 120000000L).as("ea"))
      val pur = e.filter(col("event_type") === "purchase")
        .select(col("event_id").as("pur_id"),
          (expr(Tables.epochUsFloorSql) - 120000000L).as("sb"),
          (expr(Tables.epochUsFloorSql) + 120000000L).as("eb"))
      val errX = err.withColumn("bucket",
        explode(expr("sequence(sa div 600000000, ea div 600000000)")))
      val purX = pur.withColumn("bucket",
        explode(expr("sequence(sb div 600000000, eb div 600000000)")))
      val pairs = purX.join(errX,
          purX("bucket") === errX("bucket") &&
            col("sa") <= col("eb") && col("sb") <= col("ea"))
        .select(col("pur_id"), col("err_id")).distinct()
      pur.select(col("pur_id"))
        .join(pairs, Seq("pur_id"), "left")
        .groupBy(col("pur_id"))
        .agg(count(col("err_id")).as("n"))
        .groupBy(col("n").as("n_overlaps"))
        .agg(count(lit(1)).as("n_purchases"))
        .orderBy("n_overlaps")
    },

    // ----- J11: the NAIVE band join, made scalable by the optimizer -----
    // j6/j10 hand-write the bucketed rewrite; this query deliberately
    // does NOT — it declares the global (no user key) band join the way
    // an analyst would, `err.us BETWEEN pur.us − 2min AND pur.us`, and
    // relies on the injected [[graft.plans.BandJoinRewrite]] rule to
    // turn the would-be nested loop into the bucketed equi-join
    // (PlanAssertSpec pins that the executed plan carries the bucket
    // key and no BNLJ). Errors in the 2 min before each purchase,
    // any user; zero-match purchases kept; constant-size histogram out.
    "j11_band_join_auto" -> QueryDef.sql(
      """WITH a AS (
        |  SELECT event_id AS err_id, epoch_us(ts) AS aus
        |  FROM events WHERE event_type = 'error'),
        |b AS (
        |  SELECT event_id AS pur_id, epoch_us(ts) AS bus
        |  FROM events WHERE event_type = 'purchase'),
        |c AS (
        |  SELECT b.pur_id, CAST(count(a.err_id) AS BIGINT) AS n
        |  FROM b LEFT JOIN a ON a.aus >= b.bus - 120000000 AND a.aus <= b.bus
        |  GROUP BY 1)
        |SELECT n AS n_recent_errors, CAST(count(*) AS BIGINT) AS n_purchases
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val e = events(s, d)
      val err = e.filter(col("event_type") === "error")
        .select(col("event_id").as("err_id"), expr(Tables.epochUsFloorSql).as("aus"))
      val pur = e.filter(col("event_type") === "purchase")
        .select(col("event_id").as("pur_id"), expr(Tables.epochUsFloorSql).as("bus"))
      val pairs = err.join(pur,
        col("aus") >= col("bus") - 120000000L && col("aus") <= col("bus"))
      pur.select(col("pur_id"))
        .join(pairs.select("pur_id", "err_id"), Seq("pur_id"), "left")
        .groupBy(col("pur_id"))
        .agg(count(col("err_id")).as("n"))
        .groupBy(col("n").as("n_recent_errors"))
        .agg(count(lit(1)).as("n_purchases"))
        .orderBy("n_recent_errors")
    },

    // ----- J12: co-located join over BUCKETED tables (zero-shuffle) -----
    // The ingest-time layout move the brief names: both event rollups
    // are written `bucketBy(8, user_id).sortBy(user_id)`
    // ([[graft.io.BucketedTables]]), so the per-user aggregate on each
    // side AND the join between them run with NO hash-partitioning
    // Exchange at all — the bucketed scans ARE the co-located
    // partitions (BucketedJoinSpec pins the Exchange-free plan). At
    // 100 TB this turns every user-keyed query from
    // shuffle-the-fact-table into a local merge. The oracle recomputes
    // both rollups from raw events — bucketing must never change a
    // value, only the plan.
    "j12_bucketed_join" -> QueryDef.sql(
      """WITH daily AS (
        |  SELECT user_id, epoch_us(ts) // 86400000000 AS day,
        |    count(*) AS n_events, sum(CAST(value AS DECIMAL(18,6))) AS day_value
        |  FROM events GROUP BY 1, 2),
        |d AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_active_days,
        |    CAST(sum(n_events) AS BIGINT) AS total_events,
        |    CAST(sum(day_value) AS DOUBLE) AS total_value
        |  FROM daily GROUP BY 1),
        |t AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_types
        |  FROM (SELECT user_id, event_type FROM events GROUP BY 1, 2)
        |  GROUP BY 1)
        |SELECT d.user_id, d.n_active_days, d.total_events, d.total_value,
        |  t.n_types
        |FROM d JOIN t ON t.user_id = d.user_id
        |ORDER BY d.user_id""".stripMargin) { (s, d) =>
      val daily = s.table(graft.io.BucketedTables.dailyTable(s, d))
      val byType = s.table(graft.io.BucketedTables.typeTable(s, d))
      val dAgg = daily.groupBy("user_id")
        .agg(count(lit(1)).as("n_active_days"),
          sum(col("n_events")).cast("long").as("total_events"),
          sum(col("day_value")).cast("double").as("total_value"))
      val tAgg = byType.groupBy("user_id")
        .agg(count(lit(1)).as("n_types"))
      dAgg.join(tAgg, Seq("user_id"))
        .select("user_id", "n_active_days", "total_events", "total_value", "n_types")
        .orderBy("user_id")
    },

    // ----- A10: RFM segmentation (recency / frequency / monetary) -----
    // The classic customer-base triage, in a shape that survives 1e9
    // users: per-user metrics go LONG (3 rows per user), the tercile
    // cutoffs come from binned CDFs over a METRIC-KEYED window (256-row
    // partitions — never a global ntile, which would sort every user on
    // one task), and scores join back from the 3-row broadcast cutoff
    // table. Monetary floors through DECIMAL to an exact integer;
    // recency inverts (smaller = better). Output is the ≤27-cell
    // segment matrix with its value mass.
    "a10_rfm_segments" -> QueryDef.sql(
      """WITH ev AS (
        |  SELECT user_id, event_type, CAST(value AS DECIMAL(18,6)) AS val,
        |    epoch_us(ts) // 86400000000 AS day
        |  FROM events),
        |mx AS (SELECT max(day) AS maxday FROM ev),
        |u AS (
        |  SELECT user_id,
        |    CAST((SELECT maxday FROM mx) - max(day) AS BIGINT) AS rec,
        |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS freq,
        |    CAST(floor(sum(CASE WHEN event_type = 'purchase' THEN val
        |                       ELSE CAST(0 AS DECIMAL(18,6)) END)) AS BIGINT) AS mon
        |  FROM ev GROUP BY user_id),
        |m AS (
        |  SELECT user_id, 'r' AS metric, rec AS bin FROM u
        |  UNION ALL SELECT user_id, 'f', least(freq, 255) FROM u
        |  UNION ALL SELECT user_id, 'm', least(mon // 64, 255) FROM u),
        |h AS (SELECT metric, bin, CAST(count(*) AS BIGINT) AS n FROM m GROUP BY 1, 2),
        |c AS (
        |  SELECT metric, bin,
        |    CAST(sum(n) OVER (PARTITION BY metric ORDER BY bin) AS BIGINT) AS cum,
        |    CAST(sum(n) OVER (PARTITION BY metric) AS BIGINT) AS total
        |  FROM h),
        |cut AS (
        |  SELECT metric,
        |    min(CASE WHEN 3 * cum >= total THEN bin END) AS c1,
        |    min(CASE WHEN 3 * cum >= 2 * total THEN bin END) AS c2
        |  FROM c GROUP BY 1),
        |sc AS (
        |  SELECT m.user_id, m.metric,
        |    CAST(1 + CASE WHEN m.bin > t.c1 THEN 1 ELSE 0 END
        |           + CASE WHEN m.bin > t.c2 THEN 1 ELSE 0 END AS BIGINT) AS t
        |  FROM m JOIN cut t ON t.metric = m.metric),
        |wide AS (
        |  SELECT u.user_id,
        |    4 - max(CASE WHEN sc.metric = 'r' THEN sc.t END) AS r_score,
        |    max(CASE WHEN sc.metric = 'f' THEN sc.t END) AS f_score,
        |    max(CASE WHEN sc.metric = 'm' THEN sc.t END) AS m_score,
        |    max(u.mon) AS mon
        |  FROM sc JOIN u ON u.user_id = sc.user_id GROUP BY 1)
        |SELECT r_score, f_score, m_score, CAST(count(*) AS BIGINT) AS n_users,
        |  CAST(sum(mon) AS BIGINT) AS monetary_q
        |FROM wide GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin) { (s, d) =>
      val ev = events(s, d)
        .select(col("user_id"), col("event_type"),
          col("value").cast(DecimalType(18, 6)).as("val"),
          expr(s"(${Tables.epochUsFloorSql}) div 86400000000").as("day"))
      val mx = ev.agg(max(col("day")).as("maxday"))
      val u = ev.groupBy("user_id")
        .agg(max(col("day")).as("uday"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .cast("long").as("freq"),
          floor(sum(when(col("event_type") === "purchase", col("val"))
            .otherwise(lit(0).cast(DecimalType(18, 6))))).cast("long").as("mon"))
        .crossJoin(broadcast(mx))
        .select(col("user_id"), (col("maxday") - col("uday")).as("rec"),
          col("freq"), col("mon"))
      val m = u.select(col("user_id"), lit("r").as("metric"), col("rec").as("bin"))
        .unionAll(u.select(col("user_id"), lit("f").as("metric"),
          least(col("freq"), lit(255L)).as("bin")))
        .unionAll(u.select(col("user_id"), lit("m").as("metric"),
          least(expr("mon div 64"), lit(255L)).as("bin")))
      val wCum = Window.partitionBy(col("metric")).orderBy(col("bin"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wTot = Window.partitionBy(col("metric"))
      val c = m.groupBy("metric", "bin").agg(count(lit(1)).as("n"))
        .withColumn("cum", sum(col("n")).over(wCum))
        .withColumn("total", sum(col("n")).over(wTot))
      val cut = c.groupBy("metric")
        .agg(min(when(lit(3) * col("cum") >= col("total"), col("bin"))).as("c1"),
          min(when(lit(3) * col("cum") >= lit(2) * col("total"), col("bin"))).as("c2"))
      val sc = m.join(broadcast(cut), Seq("metric"))
        .select(col("user_id"), col("metric"),
          (lit(1L) + when(col("bin") > col("c1"), 1L).otherwise(0L)
            + when(col("bin") > col("c2"), 1L).otherwise(0L)).as("t"))
      val wide = sc.join(u.select(col("user_id"), col("mon")), Seq("user_id"))
        .groupBy("user_id")
        .agg((lit(4L) - max(when(col("metric") === "r", col("t")))).as("r_score"),
          max(when(col("metric") === "f", col("t"))).as("f_score"),
          max(when(col("metric") === "m", col("t"))).as("m_score"),
          max(col("mon")).as("mon"))
      wide.groupBy("r_score", "f_score", "m_score")
        .agg(count(lit(1)).as("n_users"), sum(col("mon")).cast("long").as("monetary_q"))
        .orderBy("r_score", "f_score", "m_score")
    },

    // ----- O13: grouped top-k via a typed Aggregator (bounded buffer) -----
    // The UDAF surface (§2.11), used where it genuinely beats the
    // built-ins: `row_number() <= k` must shuffle and sort EVERY row of
    // a group on one task, while [[graft.functions.TopKAgg]] partial-
    // aggregates — each map task reduces its slice to ≤ k rows per group
    // BEFORE the exchange, so a 10^9-row group ships k rows per task,
    // not 10^9 to one. The oracle is the window form; the plan spec pins
    // partial ObjectHashAggregate with no Window/Sort-all.
    "o13_grouped_topk_agg" -> QueryDef.sql(
      """SELECT event_type, CAST(rnk AS BIGINT) AS rnk, event_id, value
        |FROM (
        |  SELECT event_type, event_id, value,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY value DESC, event_id) AS rnk
        |  FROM events)
        |WHERE rnk <= 3 ORDER BY event_type, rnk""".stripMargin) { (s, d) =>
      import s.implicits._
      import graft.functions.{ScoredId, TopKAgg}
      val agg = new TopKAgg(3)
      events(s, d)
        .select(col("event_type"), col("event_id"), col("value"))
        .as[(String, Long, Double)]
        .groupByKey(_._1)
        .mapValues(t => ScoredId(t._2, t._3))
        .agg(agg.toColumn.name("top"))
        .toDF("event_type", "top")
        .select(col("event_type"), posexplode(col("top")))
        .select(col("event_type"), (col("pos") + 1).cast("long").as("rnk"),
          col("col.id").as("event_id"), col("col.v").as("value"))
        .orderBy("event_type", "rnk")
    },

    // ----- A11: last-touch attribution (as-of credit assignment) -----
    // Each purchase credits the user's immediately preceding
    // non-purchase event ('(direct)' when none) — the marketing-funnel
    // attribution shape, and the per-row form of the as-of join: ONE
    // user-keyed window (ordered by the total (us, event_id) key)
    // carries the running last-seen touch via `last(..., ignoreNulls)`
    // over an unbounded-preceding frame; no self-join, no re-shuffle —
    // then a taxonomy-bounded rollup with exact DECIMAL value mass.
    "a11_last_touch_attribution" -> QueryDef.sql(
      """WITH ev AS (
        |  SELECT user_id, event_id, event_type, value, epoch_us(ts) AS us
        |  FROM events),
        |tagged AS (
        |  SELECT event_type, value,
        |    coalesce(last_value(CASE WHEN event_type <> 'purchase'
        |        THEN event_type END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY us, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |      '(direct)') AS touch
        |  FROM ev)
        |SELECT touch, CAST(count(*) AS BIGINT) AS n_purchases,
        |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
        |FROM tagged WHERE event_type = 'purchase'
        |GROUP BY touch ORDER BY touch""".stripMargin) { (s, d) =>
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("us"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      events(s, d)
        .select(col("user_id"), col("event_id"), col("event_type"), col("value"),
          expr(Tables.epochUsFloorSql).as("us"))
        .withColumn("touch", coalesce(
          last(when(col("event_type") =!= "purchase", col("event_type")), true).over(w),
          lit("(direct)")))
        .filter(col("event_type") === "purchase")
        .groupBy("touch")
        .agg(count(lit(1)).as("n_purchases"), dsum(col("value")).as("total_value"))
        .orderBy("touch")
    },

    // ----- J13: NATIVE as-of join (custom logical + strategy + exec) -----
    // The whole-operator extension point ([[graft.plans.AsofJoin]]):
    // each purchase looks up the latest error at-or-before it for the
    // same user, executed by AsofJoinExec — one SMJ-shaped exchange pair
    // and a single merge pass, no window over the unioned stream (j5's
    // encoding) and no bucket explode (j6/j11's). The right side is
    // pre-aggregated unique-per-(user, time) — the determinism contract
    // both engines need — and aliased so the self-derived sides share no
    // attribute ids. Oracle: DuckDB's own ASOF LEFT JOIN.
    "j13_asof_join_native" -> QueryDef.sql(
      """WITH p AS (
        |  SELECT event_id AS pur_id, user_id, epoch_us(ts) AS pus
        |  FROM events WHERE event_type = 'purchase'),
        |e AS (
        |  SELECT user_id, epoch_us(ts) AS eus, max(event_id) AS err_id
        |  FROM events WHERE event_type = 'error' GROUP BY 1, 2)
        |SELECT p.pur_id, e.err_id, p.pus - e.eus AS lag_us
        |FROM p ASOF LEFT JOIN e
        |  ON p.user_id = e.user_id AND p.pus >= e.eus
        |ORDER BY pur_id""".stripMargin) { (s, d) =>
      val ev = events(s, d)
      val pur = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("pur_id"), col("user_id"),
          expr(Tables.epochUsFloorSql).as("pus"))
      val err = ev.filter(col("event_type") === "error")
        .select(col("user_id"), expr(Tables.epochUsFloorSql).as("eus"), col("event_id"))
        .groupBy(col("user_id"), col("eus"))
        .agg(max(col("event_id")).as("err_id"))
        .select(col("user_id").as("r_user"), col("eus"), col("err_id"))
      graft.plans.Asof.join(pur, err,
          leftKeys = Seq("user_id"), rightKeys = Seq("r_user"),
          leftTimeCol = "pus", rightTimeCol = "eus")
        .select(col("pur_id"), col("err_id"), (col("pus") - col("eus")).as("lag_us"))
        .orderBy("pur_id")
    },

    // ----- J21: ASOF JOIN written in SQL, via the injected parser -----
    // The same native operator as j13/j15, reached through SQL TEXT: the
    // injected [[graft.plans.GraftSqlParser]] rewrites the DuckDB
    // `ASOF JOIN` spelling into a marker-carrying stock join and the
    // analyzer rule swaps in the [[graft.plans.AsofJoin]] node — so a
    // SQL-only user gets the one-merge-pass plan, not a window/bucket
    // encoding. This query exercises the FORWARD + INNER quadrant the
    // API queries don't (first error AFTER each signup, per user;
    // signups with no later error drop out via the rule's
    // IsNotNull(rightTime) filter): `sus <= eus` picks forward, the
    // missing LEFT keyword picks inner. Oracle: DuckDB's OWN native
    // ASOF JOIN — near-identical text, independent implementation.
    // AsofSqlParserSpec pins the physical plan (AsofJoinExec, no SMJ)
    // and the rewrite corner cases.
    "j21_asof_sql_syntax" -> QueryDef.sql(
      """WITH p AS (
        |  SELECT event_id AS sg_id, user_id, epoch_us(ts) AS sus
        |  FROM events WHERE event_type = 'signup'),
        |e AS (
        |  SELECT user_id AS r_user, epoch_us(ts) AS eus, max(event_id) AS err_id
        |  FROM events WHERE event_type = 'error' GROUP BY 1, 2)
        |SELECT p.sg_id, e.err_id, e.eus - p.sus AS wait_us
        |FROM p ASOF JOIN e ON p.user_id = e.r_user AND p.sus <= e.eus
        |ORDER BY sg_id""".stripMargin) { (s, d) =>
      val ev = events(s, d)
      ev.filter(col("event_type") === "signup")
        .select(col("event_id").as("sg_id"), col("user_id"),
          expr(Tables.epochUsFloorSql).as("sus"))
        .createOrReplaceTempView("graft_asof_sg")
      ev.filter(col("event_type") === "error")
        .select(col("user_id"), expr(Tables.epochUsFloorSql).as("eus"),
          col("event_id"))
        .groupBy(col("user_id"), col("eus"))
        .agg(max(col("event_id")).as("err_id"))
        .select(col("user_id").as("r_user"), col("eus"), col("err_id"))
        .createOrReplaceTempView("graft_asof_err")
      s.sql(
        """SELECT sg_id, err_id, eus - sus AS wait_us
          |FROM graft_asof_sg ASOF JOIN graft_asof_err
          |  ON user_id = r_user AND sus <= eus
          |ORDER BY sg_id""".stripMargin)
    },

    // ----- J16: the naive SYMMETRIC band join, auto-rewritten -----
    // j11's sibling for the third band spelling: errors within ±1 min
    // of each purchase (either direction, any user), declared as the
    // analyst would write it — `abs(aus − bus) <= 60s` — and relied on
    // [[graft.plans.BandJoinRewrite]] to bucket it (≤ 3 buckets on the
    // purchase side; plan-pinned BNLJ-free). Constant-size histogram
    // out.
    "j16_abs_band_auto" -> QueryDef.sql(
      """WITH a AS (
        |  SELECT event_id AS err_id, epoch_us(ts) AS aus
        |  FROM events WHERE event_type = 'error'),
        |b AS (
        |  SELECT event_id AS pur_id, epoch_us(ts) AS bus
        |  FROM events WHERE event_type = 'purchase'),
        |c AS (
        |  SELECT b.pur_id, CAST(count(a.err_id) AS BIGINT) AS n
        |  FROM b LEFT JOIN a ON abs(a.aus - b.bus) <= 60000000
        |  GROUP BY 1)
        |SELECT n AS n_nearby_errors, CAST(count(*) AS BIGINT) AS n_purchases
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val e = events(s, d)
      val err = e.filter(col("event_type") === "error")
        .select(col("event_id").as("err_id"), expr(Tables.epochUsFloorSql).as("aus"))
      val pur = e.filter(col("event_type") === "purchase")
        .select(col("event_id").as("pur_id"), expr(Tables.epochUsFloorSql).as("bus"))
      val pairs = err.join(pur, abs(col("aus") - col("bus")) <= 60000000L)
      pur.select(col("pur_id"))
        .join(pairs.select("pur_id", "err_id"), Seq("pur_id"), "left")
        .groupBy(col("pur_id"))
        .agg(count(col("err_id")).as("n"))
        .groupBy(col("n").as("n_nearby_errors"))
        .agg(count(lit(1)).as("n_purchases"))
        .orderBy("n_nearby_errors")
    },

    // ----- J15: forward as-of join (next event at-or-after) -----
    // The mirrored strategy of j13 through the SAME native operator
    // (`strategy = "forward"`): each purchase looks up the NEXT error
    // at-or-after it for the same user — time-to-failure analysis, the
    // other direction every as-of implementation ships
    // (polars strategy='forward'). One SMJ-shaped exchange pair, one
    // merge pass that PEEKS at the first qualifying right row instead
    // of consuming candidates. Oracle: DuckDB ASOF LEFT JOIN with the
    // inequality flipped.
    "j15_asof_join_forward" -> QueryDef.sql(
      """WITH p AS (
        |  SELECT event_id AS pur_id, user_id, epoch_us(ts) AS pus
        |  FROM events WHERE event_type = 'purchase'),
        |e AS (
        |  SELECT user_id, epoch_us(ts) AS eus, max(event_id) AS err_id
        |  FROM events WHERE event_type = 'error' GROUP BY 1, 2)
        |SELECT p.pur_id, e.err_id, e.eus - p.pus AS wait_us
        |FROM p ASOF LEFT JOIN e
        |  ON p.user_id = e.user_id AND p.pus <= e.eus
        |ORDER BY pur_id""".stripMargin) { (s, d) =>
      val ev = events(s, d)
      val pur = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("pur_id"), col("user_id"),
          expr(Tables.epochUsFloorSql).as("pus"))
      val err = ev.filter(col("event_type") === "error")
        .select(col("user_id"), expr(Tables.epochUsFloorSql).as("eus"), col("event_id"))
        .groupBy(col("user_id"), col("eus"))
        .agg(max(col("event_id")).as("err_id"))
        .select(col("user_id").as("r_user"), col("eus"), col("err_id"))
      graft.plans.Asof.join(pur, err,
          leftKeys = Seq("user_id"), rightKeys = Seq("r_user"),
          leftTimeCol = "pus", rightTimeCol = "eus", strategy = "forward")
        .select(col("pur_id"), col("err_id"), (col("eus") - col("pus")).as("wait_us"))
        .orderBy("pur_id")
    },

    // ----- J17: as-of join with a match tolerance -----
    // polars `tolerance=`: the backward lookup only matches within Δ
    // (here 1 hour) — a stale last-error loses its meaning for
    // attribution. In the native exec this is ONE extra comparison on
    // the candidate's distance, same exchange shape as j13. Oracle:
    // DuckDB ASOF picks the LARGEST eus ≤ pus, so if THAT row is out
    // of tolerance no earlier row can be in it — nulling the
    // out-of-tolerance match post-join is exactly the native
    // semantics.
    "j17_asof_tolerance" -> QueryDef.sql(
      """WITH p AS (
        |  SELECT event_id AS pur_id, user_id, epoch_us(ts) AS pus
        |  FROM events WHERE event_type = 'purchase'),
        |e AS (
        |  SELECT user_id, epoch_us(ts) AS eus, max(event_id) AS err_id
        |  FROM events WHERE event_type = 'error' GROUP BY 1, 2),
        |a AS (
        |  SELECT p.pur_id, e.err_id, p.pus - e.eus AS lag_us
        |  FROM p ASOF LEFT JOIN e
        |    ON p.user_id = e.user_id AND p.pus >= e.eus)
        |SELECT pur_id,
        |  CASE WHEN lag_us <= 3600000000 THEN err_id END AS err_id,
        |  CASE WHEN lag_us <= 3600000000 THEN lag_us END AS lag_us
        |FROM a ORDER BY pur_id""".stripMargin) { (s, d) =>
      val ev = events(s, d)
      val pur = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("pur_id"), col("user_id"),
          expr(Tables.epochUsFloorSql).as("pus"))
      val err = ev.filter(col("event_type") === "error")
        .select(col("user_id"), expr(Tables.epochUsFloorSql).as("eus"), col("event_id"))
        .groupBy(col("user_id"), col("eus"))
        .agg(max(col("event_id")).as("err_id"))
        .select(col("user_id").as("r_user"), col("eus"), col("err_id"))
      graft.plans.Asof.join(pur, err,
          leftKeys = Seq("user_id"), rightKeys = Seq("r_user"),
          leftTimeCol = "pus", rightTimeCol = "eus",
          tolerance = Some(3600000000L))
        .select(col("pur_id"), col("err_id"), (col("pus") - col("eus")).as("lag_us"))
        .orderBy("pur_id")
    },

    // ----- J22: as-of NEAREST, oracled compositionally -----
    // DuckDB has no nearest strategy, so until now the nearest leg was
    // held by a randomized brute-force spec only (the one acknowledged
    // oracle gap in the as-of family). It IS expressible on DuckDB as
    // the composition its semantics define: the backward candidate
    // (ASOF `>=`), the forward candidate (ASOF `<=`), and arbitration
    // by distance with ties to backward — exactly the contract
    // AsofJoinExec implements in one merge pass. The hash gate now
    // proves the single-pass nearest equal to the two-join composition
    // on real data; distances are exact integer µs.
    "j22_asof_nearest" -> QueryDef.sql(
      """WITH p AS (
        |  SELECT event_id AS pur_id, user_id, epoch_us(ts) AS pus
        |  FROM events WHERE event_type = 'purchase'),
        |e AS (
        |  SELECT user_id, epoch_us(ts) AS eus, max(event_id) AS err_id
        |  FROM events WHERE event_type = 'error' GROUP BY 1, 2),
        |b AS (
        |  SELECT p.pur_id, p.pus, e.err_id AS b_id, e.eus AS b_us
        |  FROM p ASOF LEFT JOIN e ON p.user_id = e.user_id AND p.pus >= e.eus),
        |f AS (
        |  SELECT p.pur_id AS f_pur, e.err_id AS f_id, e.eus AS f_us
        |  FROM p ASOF LEFT JOIN e ON p.user_id = e.user_id AND p.pus <= e.eus)
        |SELECT b.pur_id,
        |  CASE WHEN b_us IS NOT NULL AND (f_us IS NULL OR pus - b_us <= f_us - pus)
        |       THEN b_id ELSE f_id END AS err_id,
        |  CASE WHEN b_us IS NOT NULL AND (f_us IS NULL OR pus - b_us <= f_us - pus)
        |       THEN pus - b_us
        |       WHEN f_us IS NOT NULL THEN f_us - pus END AS dist_us
        |FROM b JOIN f ON f.f_pur = b.pur_id
        |ORDER BY pur_id""".stripMargin) { (s, d) =>
      val ev = events(s, d)
      val pur = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("pur_id"), col("user_id"),
          expr(Tables.epochUsFloorSql).as("pus"))
      val err = ev.filter(col("event_type") === "error")
        .select(col("user_id"), expr(Tables.epochUsFloorSql).as("eus"), col("event_id"))
        .groupBy(col("user_id"), col("eus"))
        .agg(max(col("event_id")).as("err_id"))
        .select(col("user_id").as("r_user"), col("eus"), col("err_id"))
      graft.plans.Asof.join(pur, err,
          leftKeys = Seq("user_id"), rightKeys = Seq("r_user"),
          leftTimeCol = "pus", rightTimeCol = "eus",
          strategy = "nearest")
        .select(col("pur_id"), col("err_id"),
          abs(col("pus") - col("eus")).as("dist_us"))
        .orderBy("pur_id")
    },

    // ----- J18: skewed big-big join served by AQE, not manual salt -----
    // j8's sibling closing the skew story: j8 salts BY HAND (the only
    // option for aggregates); for JOINS, AQE's skew-join does the same
    // split at runtime with zero query-side ceremony. Half the fact
    // rows land on one hot key (event_id%2=0 → user 0 — a planted
    // celebrity key), and the dim side is the per-key rollup of the
    // SAME skewed stream, so both sides are fact-derived: neither may
    // carry a broadcast hint at 100 TB. SHUFFLE_MERGE pins the
    // big-big plan AQE's OptimizeSkewedJoin operates on; AqeJoinSpec
    // pins the runtime split (skew=true in the final adaptive plan)
    // under production-shaped thresholds, with these same oracle rows.
    // The `pad` payload column rides THROUGH the shuffle (it is in the
    // output, so column pruning cannot drop it): at 100 TB the fact
    // rows' real payloads provide the bytes that make a hot key a hot
    // PARTITION; at fixture scale the pad stands in for them so the
    // skew is byte-visible to AQE's detector, not just row-visible.
    "j18_aqe_skew_join" -> QueryDef.sql(
      """WITH e AS (
        |  SELECT event_id,
        |    CASE WHEN event_id % 2 = 0 THEN 0 ELSE user_id END AS skew_user,
        |    repeat('x', CASE WHEN event_id % 2 = 0 THEN 400 ELSE 4 END) AS pad
        |  FROM events),
        |dim AS (SELECT skew_user, CAST(count(*) AS BIGINT) AS n_events
        |        FROM e GROUP BY 1)
        |SELECT e.event_id, e.skew_user, e.pad, d.n_events
        |FROM e JOIN dim d ON d.skew_user = e.skew_user
        |ORDER BY e.event_id""".stripMargin) { (s0, d) =>
      // spread matters twice here: skew splitting is per-MAP-chunk, so
      // a single-split fixture scan (one map task) makes the hot reduce
      // partition physically unsplittable — at 100 TB the scan arrives
      // as thousands of map tasks and the spread is a no-op
      val e = TextQueries.spread(events(s0, d)).select(col("event_id"),
        when(pmod(col("event_id"), lit(2)) === 0, lit(0L))
          .otherwise(col("user_id")).as("skew_user"),
        expr("repeat('x', CASE WHEN event_id % 2 = 0 THEN 400 ELSE 4 END)").as("pad"))
      // the dim is MATERIALIZED before the join (at scale it would be a
      // store read): the join then exchanges BOTH sides for itself —
      // the Sort←Shuffle shape OptimizeSkewedJoin pattern-matches. An
      // unmaterialized dim would reuse its aggregate's exchange and sit
      // as Sort←HashAggregate←Shuffle, which AQE's skew rule skips.
      val dim = e.groupBy("skew_user").agg(count(lit(1)).as("n_events"))
        .localCheckpoint()
      e.join(dim.hint("SHUFFLE_MERGE"), Seq("skew_user"))
        .select("event_id", "skew_user", "pad", "n_events")
        .orderBy("event_id")
    },

    // ----- U3: INTERSECT / EXCEPT set semantics on user cohorts -----
    // The two §2.7 set operators not exercised by the union family,
    // with their DEDUPLICATING set semantics intact (Spark
    // intersect/except ≡ SQL INTERSECT/EXCEPT — both dedupe, unlike
    // UNION ALL): purchasers who also errored vs purchasers who never
    // did. Both plan as hash aggregates + one semi/anti-shaped join on
    // the user key — no row-multiplying join can sneak in.
    "u3_set_ops" -> QueryDef.sql(
      """WITH p AS (SELECT user_id FROM events WHERE event_type = 'purchase'),
        |e AS (SELECT user_id FROM events WHERE event_type = 'error')
        |SELECT 'both' AS kind, user_id
        |FROM (SELECT user_id FROM p INTERSECT SELECT user_id FROM e)
        |UNION ALL
        |SELECT 'purchase_only', user_id
        |FROM (SELECT user_id FROM p EXCEPT SELECT user_id FROM e)
        |ORDER BY kind, user_id""".stripMargin) { (s, d) =>
      val ev = events(s, d)
      val p = ev.filter(col("event_type") === "purchase").select("user_id")
      val e = ev.filter(col("event_type") === "error").select("user_id")
      p.intersect(e).select(lit("both").as("kind"), col("user_id"))
        .unionByName(p.except(e)
          .select(lit("purchase_only").as("kind"), col("user_id")))
        .orderBy("kind", "user_id")
    },

    // ----- U4: MERGE / upsert resolution (the CDC-apply operator) -----
    // The lakehouse write path Spark's SQL surface reserves for v2
    // catalogs (MERGE INTO), expressed as the engine actually executes
    // it: ONE full-outer shuffle join of base against the change feed on
    // the key, then row-local CASE resolution — matched updates rewrite
    // their columns, matched deletes drop, unmatched inserts pass
    // through, untouched base rows survive. The change feed here is
    // deterministic (updates = keys ending 1-4 get +100 balance and a
    // renamed row; deletes = keys ending 0; inserts = supplier rows
    // re-keyed above the customer range). At 100 TB the join is the
    // whole cost: co-locate base and feed with the bucketed-ingest
    // layout (j12/BucketedTables) and the Exchange disappears; a small
    // feed alternatively splits into anti+semi broadcast legs, but the
    // general big-feed shape is the one worth demonstrating.
    "u4_merge_upsert" -> QueryDef.sql(
      """WITH base AS (SELECT c_custkey, c_name, c_acctbal FROM customer),
        |changes AS (
        |  SELECT c_custkey, 'upd:' || c_name AS n_name, c_acctbal + 100.0 AS n_bal, 'U' AS op
        |  FROM base WHERE c_custkey % 10 BETWEEN 1 AND 4
        |  UNION ALL
        |  SELECT c_custkey, NULL, NULL, 'D' FROM base WHERE c_custkey % 10 = 0
        |  UNION ALL
        |  SELECT s_suppkey + 900000, s_name, s_acctbal, 'I' FROM supplier),
        |merged AS (
        |  SELECT coalesce(b.c_custkey, c.c_custkey) AS c_custkey,
        |    CASE WHEN c.op IN ('U', 'I') THEN c.n_name ELSE b.c_name END AS c_name,
        |    CASE WHEN c.op IN ('U', 'I') THEN c.n_bal ELSE b.c_acctbal END AS c_acctbal,
        |    CASE c.op WHEN 'U' THEN 'updated' WHEN 'I' THEN 'inserted'
        |      ELSE 'base' END AS src
        |  FROM base b FULL OUTER JOIN changes c ON c.c_custkey = b.c_custkey
        |  WHERE c.op IS NULL OR c.op <> 'D')
        |SELECT c_custkey, c_name, c_acctbal, src FROM merged
        |ORDER BY c_custkey""".stripMargin) { (s, d) =>
      val base = customer(s, d).select("c_custkey", "c_name", "c_acctbal")
      val changes = base.filter(pmod(col("c_custkey"), lit(10)).between(1, 4))
        .select(col("c_custkey"), concat(lit("upd:"), col("c_name")).as("n_name"),
          (col("c_acctbal") + 100.0).as("n_bal"), lit("U").as("op"))
        .unionByName(base.filter(pmod(col("c_custkey"), lit(10)) === 0)
          .select(col("c_custkey"), lit(null).cast("string").as("n_name"),
            lit(null).cast("double").as("n_bal"), lit("D").as("op")))
        .unionByName(supplier(s, d)
          .select((col("s_suppkey") + 900000).as("c_custkey"),
            col("s_name").as("n_name"), col("s_acctbal").as("n_bal"),
            lit("I").as("op")))
      base.join(changes, Seq("c_custkey"), "full_outer")
        .filter(col("op").isNull || col("op") =!= "D")
        .select(col("c_custkey"),
          when(col("op").isin("U", "I"), col("n_name")).otherwise(col("c_name"))
            .as("c_name"),
          when(col("op").isin("U", "I"), col("n_bal")).otherwise(col("c_acctbal"))
            .as("c_acctbal"),
          when(col("op") === "U", "updated").when(col("op") === "I", "inserted")
            .otherwise("base").as("src"))
        .orderBy("c_custkey")
    },

    // ----- U5: SCD2 validity intervals (slowly-changing dimension build) -----
    // The dimension-history operator: each user's event-type timeline
    // collapses consecutive repeats (gaps-and-islands via lag), then
    // every surviving change opens a validity interval closed by the
    // next change's timestamp (lead) — the [valid_from, valid_to)
    // half-open convention with NULL marking the current row. Both
    // window passes share ONE user-keyed sort (same partitioning and
    // ordering → one Exchange, one Sort), which is the property that
    // makes SCD2 a single-shuffle build at any scale; epoch-ns integers
    // end to end so the hash check is exact.
    "u5_scd2_intervals" -> QueryDef.sql(
      """WITH e AS (
        |  SELECT user_id, epoch_ns(ts) AS ts_ns, event_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id) AS prev
        |  FROM events),
        |ch AS (SELECT user_id, ts_ns, event_id, event_type FROM e
        |       WHERE prev IS NULL OR prev <> event_type),
        |iv AS (
        |  SELECT user_id, event_type, ts_ns AS valid_from_ns,
        |    lead(ts_ns) OVER (PARTITION BY user_id ORDER BY ts_ns, event_id) AS valid_to_ns,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts_ns, event_id) AS version
        |  FROM ch)
        |SELECT user_id, event_type, valid_from_ns, valid_to_ns, version,
        |  (valid_to_ns IS NULL) AS is_current
        |FROM iv ORDER BY user_id, version""".stripMargin) { (s, d) =>
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts_ns"), col("event_id"))
      val ch = events(s, d)
        .select(col("user_id"), col("ts_ns"), col("event_id"), col("event_type"))
        .withColumn("prev", lag(col("event_type"), 1).over(w))
        .filter(col("prev").isNull || col("prev") =!= col("event_type"))
      ch.select(col("user_id"), col("event_type"),
          col("ts_ns").as("valid_from_ns"),
          lead(col("ts_ns"), 1).over(w).as("valid_to_ns"),
          row_number().over(w).cast("long").as("version"))
        .withColumn("is_current", col("valid_to_ns").isNull)
        .orderBy("user_id", "version")
    },

    // ----- J14: variable-width interval-dimension join (broadcast) -----
    // The complementary case to j6/j10/j11: OVERLAPPING campaign windows
    // of data-derived width (each event can land in up to 2), so the
    // fixed-width bucket rewrite does not apply — and does not need to:
    // an interval DIMENSION is constant-size (8 rows here; hundreds in
    // production), so the right plan is a broadcast nested loop against
    // it, pinned by spec. The fact table never shuffles for the join;
    // the only exchange is the final per-campaign aggregate. Window
    // edges are pure integer arithmetic from the corpus's own (min, max)
    // day so both engines derive identical intervals.
    "j14_campaign_windows" -> QueryDef.sql(
      """WITH ev AS (
        |  SELECT user_id, CAST(value AS DECIMAL(18,4)) AS val,
        |    epoch_us(ts) // 86400000000 AS day
        |  FROM events),
        |mm AS (SELECT min(day) AS d0, max(day) AS d1 FROM ev),
        |camp AS (
        |  SELECT g.cid, d0 + g.cid * ((d1 - d0 + 8) // 8) AS w0,
        |    d0 + g.cid * ((d1 - d0 + 8) // 8) + 2 * ((d1 - d0 + 8) // 8) - 1 AS w1
        |  FROM (SELECT unnest(generate_series(0, 7)) AS cid) g, mm)
        |SELECT c.cid, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users,
        |  CAST(sum(e.val) AS DOUBLE) AS total_value
        |FROM ev e JOIN camp c ON e.day >= c.w0 AND e.day <= c.w1
        |GROUP BY c.cid ORDER BY c.cid""".stripMargin) { (s, d) =>
      val ev = events(s, d)
        .select(col("user_id"), col("value").cast(DecimalType(18, 4)).as("val"),
          expr(s"(${Tables.epochUsFloorSql}) div 86400000000").as("day"))
      val mm = ev.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      val camp = mm.select(explode(sequence(lit(0L), lit(7L))).as("cid"),
          expr("(d1 - d0 + 8) div 8").as("stride"), col("d0"))
        .select(col("cid"), (col("d0") + col("cid") * col("stride")).as("w0"),
          (col("d0") + col("cid") * col("stride") + lit(2) * col("stride") - 1).as("w1"))
      ev.join(broadcast(camp), col("day") >= col("w0") && col("day") <= col("w1"))
        .groupBy("cid")
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"),
          sum(col("val")).cast("double").as("total_value"))
        .orderBy("cid")
    },

    // ----- J19: temporal fact-to-SCD2-dimension join -----
    // The warehouse classic u5 builds toward: every fact row joins the
    // dimension VERSION that was valid at its event time ("which state
    // was this user in when they purchased"). The compositional point:
    // a point-in-validity-interval join against an SCD2 dimension IS a
    // backward as-of join on valid_from — intervals partition each
    // user's timeline, so the latest valid_from ≤ t is exactly the
    // containing interval, and the native [[graft.plans.AsofJoin]]
    // executes it as one SMJ-shaped merge pass (no interval explode, no
    // window over a unioned stream). The dimension is u5's change feed
    // deduplicated to one change per (user, instant) — the uniqueness
    // contract the as-of right side requires, enforced identically in
    // both engines (max event_id wins the instant). Oracle: DuckDB's
    // own ASOF LEFT JOIN against the same rebuilt dimension.
    "j19_scd2_temporal_join" -> QueryDef.sql(
      """WITH e AS (
        |  SELECT user_id, epoch_ns(ts) AS ns, event_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id) AS prev
        |  FROM events),
        |ch AS (SELECT user_id, ns, event_id, event_type FROM e
        |       WHERE prev IS NULL OR prev <> event_type),
        |chd AS (
        |  SELECT user_id, ns, event_type FROM (
        |    SELECT ch.*, row_number() OVER (PARTITION BY user_id, ns
        |      ORDER BY event_id DESC) AS rn FROM ch) WHERE rn = 1),
        |dim AS (
        |  SELECT user_id, event_type AS state, ns AS vfrom,
        |    CAST(row_number() OVER (PARTITION BY user_id ORDER BY ns) AS BIGINT) AS version
        |  FROM chd),
        |p AS (
        |  SELECT event_id AS pur_id, user_id, epoch_ns(ts) AS pns
        |  FROM events WHERE event_type = 'purchase')
        |SELECT p.pur_id, d.state, d.version, p.pns - d.vfrom AS age_ns
        |FROM p ASOF LEFT JOIN dim d
        |  ON p.user_id = d.user_id AND p.pns >= d.vfrom
        |ORDER BY pur_id""".stripMargin) { (s, d) =>
      val ev = events(s, d)
      val w = Window.partitionBy(col("user_id")).orderBy(col("ns"), col("event_id"))
      val ch = ev
        .select(col("user_id"), col("ts_ns").as("ns"), col("event_id"),
          col("event_type"))
        .withColumn("prev", lag(col("event_type"), 1).over(w))
        .filter(col("prev").isNull || col("prev") =!= col("event_type"))
      val wNs = Window.partitionBy(col("user_id"), col("ns"))
        .orderBy(col("event_id").desc)
      val dim = ch.withColumn("rn", row_number().over(wNs)).filter(col("rn") === 1)
        .select(col("user_id").as("r_user"), col("event_type").as("state"),
          col("ns").as("vfrom"))
        .withColumn("version",
          row_number().over(Window.partitionBy(col("r_user")).orderBy(col("vfrom")))
            .cast("long"))
      val pur = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("pur_id"), col("user_id"),
          col("ts_ns").as("pns"))
      graft.plans.Asof.join(pur, dim,
          leftKeys = Seq("user_id"), rightKeys = Seq("r_user"),
          leftTimeCol = "pns", rightTimeCol = "vfrom")
        .select(col("pur_id"), col("state"), col("version"),
          (col("pns") - col("vfrom")).as("age_ns"))
        .orderBy("pur_id")
    },

    // ----- U6: bitemporal audit — state as KNOWN AT vs as known now -----
    // The second time axis u5's SCD2 leaves implicit: VALID time says
    // when a state held; TRANSACTION time says when the warehouse
    // learned it. This audit rebuilds each user's version chain twice —
    // from the events known at the mid-day transaction point, and from
    // everything — and compares: late-arriving changes grow the chain
    // and retroactively close the interval that was open at mid. The
    // prefix property makes the comparison exact (change detection on a
    // time-prefix IS the prefix of change detection, so mid-known
    // versions are literally the first n_mid rows of the current
    // chain); both sides ride the same user-keyed window exchange.
    // Emitted per user: version counts under both knowledge points and
    // the state each would serve — the reconciliation report a
    // backfilled warehouse publishes.
    "u6_bitemporal_audit" -> QueryDef.sql(
      """WITH e AS (
        |  SELECT user_id, epoch_ns(ts) AS ns, event_id, event_type,
        |    epoch_us(ts) // 86400000000 AS day
        |  FROM events),
        |mm AS (SELECT (min(day) + max(day)) // 2 AS mid FROM e),
        |chn AS (
        |  SELECT user_id, ns, event_id, event_type FROM (
        |    SELECT user_id, ns, event_id, event_type,
        |      lag(event_type) OVER (PARTITION BY user_id ORDER BY ns, event_id) AS prev
        |    FROM e) WHERE prev IS NULL OR prev <> event_type),
        |chm AS (
        |  SELECT user_id, ns, event_id, event_type FROM (
        |    SELECT user_id, ns, event_id, event_type,
        |      lag(event_type) OVER (PARTITION BY user_id ORDER BY ns, event_id) AS prev
        |    FROM e CROSS JOIN mm WHERE day <= mid) WHERE prev IS NULL OR prev <> event_type),
        |vn AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_versions_now,
        |    max_by(event_type, lpad(CAST(ns AS VARCHAR), 20, '0')
        |      || lpad(CAST(event_id AS VARCHAR), 10, '0')) AS state_now
        |  FROM chn GROUP BY user_id),
        |vm AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_versions_mid,
        |    max_by(event_type, lpad(CAST(ns AS VARCHAR), 20, '0')
        |      || lpad(CAST(event_id AS VARCHAR), 10, '0')) AS state_at_mid
        |  FROM chm GROUP BY user_id)
        |SELECT n.user_id, coalesce(m.n_versions_mid, 0) AS n_versions_mid,
        |  n.n_versions_now, m.state_at_mid, n.state_now,
        |  n.n_versions_now - coalesce(m.n_versions_mid, 0) AS late_corrections
        |FROM vn n LEFT JOIN vm m ON m.user_id = n.user_id
        |ORDER BY n.user_id""".stripMargin) { (s, d) =>
      val us = graft.util.Tables.epochUsFloorSql
      val e = events(s, d)
        .select(col("user_id"), col("ts_ns").as("ns"), col("event_id"),
          col("event_type"), expr(s"(($us) div 86400000000)").as("day"))
        .localCheckpoint()
      val mm = e.agg(expr("(min(day) + max(day)) div 2").as("mid"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("ns"), col("event_id"))
      def chain(in: org.apache.spark.sql.DataFrame) = in
        .withColumn("prev", lag(col("event_type"), 1).over(w))
        .filter(col("prev").isNull || col("prev") =!= col("event_type"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("nv"),
          max_by(col("event_type"),
            concat(lpad(col("ns").cast("string"), 20, "0"),
              lpad(col("event_id").cast("string"), 10, "0")))
            .as("st"))
      val vn = chain(e)
        .select(col("user_id"), col("nv").as("n_versions_now"),
          col("st").as("state_now"))
      val vm = chain(e.crossJoin(broadcast(mm)).filter(col("day") <= col("mid")))
        .select(col("user_id"), col("nv").as("n_versions_mid"),
          col("st").as("state_at_mid"))
      vn.join(vm, Seq("user_id"), "left")
        .select(col("user_id"),
          coalesce(col("n_versions_mid"), lit(0L)).as("n_versions_mid"),
          col("n_versions_now"), col("state_at_mid"), col("state_now"),
          (col("n_versions_now") - coalesce(col("n_versions_mid"), lit(0L)))
            .as("late_corrections"))
        .orderBy("user_id")
    },

    // ----- O17: peak concurrency via a distributed sweep line -----
    // "How many sessions were active AT ONCE, and when did the peak
    // happen" — the capacity number a serving team sizes against, and
    // the classic interval-stabbing computation: each session (same
    // 30-min gaps-and-islands definition as o4_sessionize) emits a +1
    // boundary at its start and a −1 at its end, and the running sum
    // over the boundary order IS the concurrency curve. Boundary order
    // is (ns, starts-before-ends, user, session) so a point session
    // still counts at its own instant and ties are deterministic. The
    // running sum rides the two-pass distributed prefix scaffold
    // ([[graft.util.Scale.rangedOffsets]] with the ±1 deltas as the
    // weight) — no single-partition window over the boundary table,
    // which is 2×session-cardinality and grows with the corpus.
    "o17_peak_concurrency" -> QueryDef.sql(
      """WITH t AS (SELECT user_id, event_id, epoch_ns(ts) AS ns FROM events),
        |m AS (
        |  SELECT user_id, event_id, ns,
        |    CASE WHEN lag(ns) OVER (PARTITION BY user_id ORDER BY ns, event_id) IS NULL
        |           OR ns - lag(ns) OVER (PARTITION BY user_id ORDER BY ns, event_id) > 1800000000000
        |         THEN 1 ELSE 0 END AS is_new
        |  FROM t),
        |s AS (
        |  SELECT user_id, ns,
        |    CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ns, event_id) AS BIGINT) AS session_id
        |  FROM m),
        |iv AS (SELECT user_id, session_id, min(ns) AS s, max(ns) AS e
        |       FROM s GROUP BY 1, 2),
        |b AS (SELECT user_id, session_id, s AS ns, 1 AS delta, 0 AS ord FROM iv
        |      UNION ALL
        |      SELECT user_id, session_id, e, -1, 1 FROM iv),
        |r AS (SELECT ns, sum(delta) OVER (ORDER BY ns, ord, user_id, session_id)
        |        AS run FROM b),
        |mx AS (SELECT CAST(max(run) AS BIGINT) AS peak_concurrent FROM r),
        |fst AS (SELECT min(ns) AS peak_first_ns FROM r, mx
        |        WHERE run = peak_concurrent),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n_sessions FROM iv)
        |SELECT n.n_sessions, mx.peak_concurrent, fst.peak_first_ns
        |FROM n CROSS JOIN mx CROSS JOIN fst""".stripMargin) { (s, d) =>
      val w = Window.partitionBy(col("user_id")).orderBy(col("ns"), col("event_id"))
      val sess = events(s, d)
        .select(col("user_id"), col("event_id"), col("ts_ns").as("ns"))
        .withColumn("is_new",
          when(lag(col("ns"), 1).over(w).isNull ||
            col("ns") - lag(col("ns"), 1).over(w) > 1800000000000L, 1L).otherwise(0L))
        .withColumn("session_id", sum(col("is_new")).over(w))
        .groupBy(col("user_id"), col("session_id"))
        .agg(min("ns").as("s"), max("ns").as("e"))
        .localCheckpoint()
      val bounds = sess.select(col("user_id"), col("session_id"),
          col("s").as("ns"), lit(1L).as("delta"), lit(0).as("ord"))
        .unionByName(sess.select(col("user_id"), col("session_id"),
          col("e").as("ns"), lit(-1L).as("delta"), lit(1).as("ord")))
      val (ranged, offsets, _) = graft.util.Scale.rangedOffsets(bounds,
        Seq(col("ns"), col("ord"), col("user_id"), col("session_id")),
        col("delta"))
      val lw = Window.partitionBy("_pid")
        .orderBy("ns", "ord", "user_id", "session_id")
      val run = ranged.withColumn("run",
          sum("delta").over(lw) +
            coalesce(element_at(typedLit(offsets), col("_pid")), lit(0L)))
        .select("ns", "run")
        .localCheckpoint()
      val mx = run.agg(max("run").as("peak_concurrent"))
      val fst = run.crossJoin(broadcast(mx))
        .filter(col("run") === col("peak_concurrent"))
        .agg(min("ns").as("peak_first_ns"))
      val n = sess.agg(count(lit(1)).as("n_sessions"))
      n.crossJoin(mx).crossJoin(fst)
    },

    // ----- Calibration: where each source's median doc sits globally -----
    // The cross-source score-calibration check a mixture designer runs
    // before comparing per-source quality cutoffs: within-source ranks
    // and the global rank measure DIFFERENT things, and this emits the
    // disagreement directly — each source's exact median document (by
    // n_chars, lower median, deterministic tiebreak) and the global
    // quantile that document lands at. A calibrated corpus puts every
    // source's median near 500000 ppm; a skewed one is exactly where
    // per-source thresholds silently mean different absolute bars. The
    // global rank rides the two-pass distributed scaffold, the
    // within-source rank a per-source window on the same ranged frame
    // — one sort services both ranks.
    "score_calibration_by_source" -> QueryDef.sql(
      """WITH d AS (
        |  SELECT source, n_chars, doc_id FROM documents WHERE source IS NOT NULL),
        |g AS (
        |  SELECT source, n_chars, doc_id,
        |    row_number() OVER (ORDER BY n_chars, doc_id) AS grn,
        |    row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS rs,
        |    count(*) OVER (PARTITION BY source) AS n_s,
        |    count(*) OVER () AS nn
        |  FROM d)
        |SELECT source, CAST(n_s AS BIGINT) AS n_docs,
        |  n_chars AS median_n_chars, CAST(grn AS BIGINT) AS global_rank,
        |  CAST((1000000 * grn) // nn AS BIGINT) AS quantile_ppm
        |FROM g WHERE rs = (n_s + 1) // 2 ORDER BY source""".stripMargin) { (s, d) =>
      val dd = documents(s, d).filter(col("source").isNotNull)
        .select(col("source"), col("n_chars"), col("doc_id"))
      val (ranked, nTotal) = graft.util.Scale.globalRowNumber(
        dd, Seq(col("n_chars"), col("doc_id")), "grn")
      val ws = Window.partitionBy("source").orderBy("n_chars", "doc_id")
      val wn = Window.partitionBy("source")
      ranked
        .withColumn("rs", row_number().over(ws).cast("long"))
        .withColumn("n_s", count(lit(1)).over(wn))
        .filter(expr("rs = (n_s + 1) div 2"))
        .select(col("source"), col("n_s").as("n_docs"),
          col("n_chars").as("median_n_chars"), col("grn").as("global_rank"),
          expr(s"(1000000 * grn) div ${nTotal}L").as("quantile_ppm"))
        .orderBy("source")
    },

    // ----- Allen interval algebra: activity-span relations per user -----
    // The 13 temporal relations (Allen 1983) between each user's
    // per-event-type activity spans [first, last] — the vocabulary
    // behind every temporal-join predicate this engine ships (as-of =
    // before/meets, interval-overlap join = overlaps ∪ during ∪ …), so
    // the census of which relations actually occur is the data-driven
    // guide to which join strategy a workload needs. Classification is
    // a single branch-ordered CASE over the four boundary comparisons
    // (equality cases first, then disjoint, then the containment/
    // overlap ladder — exhaustive by construction, so both engines
    // take identical branches on identical ns integers). Scale shape:
    // the corpus folds to (users × types) span rows in one hash agg;
    // the self-join is per-user (≤ C(5,2) pairs each) and the output
    // is the bounded (type², relation) census.
    "allen_interval_relations" -> QueryDef.sql(
      """WITH sp AS (
        |  SELECT user_id, event_type, min(epoch_ns(ts)) AS s, max(epoch_ns(ts)) AS e
        |  FROM events GROUP BY 1, 2),
        |pr AS (
        |  SELECT a.event_type AS type_a, b.event_type AS type_b,
        |    CASE
        |      WHEN a.s = b.s AND a.e = b.e THEN 'equals'
        |      WHEN a.e < b.s THEN 'before'
        |      WHEN a.s > b.e THEN 'after'
        |      WHEN a.e = b.s THEN 'meets'
        |      WHEN a.s = b.e THEN 'met_by'
        |      WHEN a.s = b.s AND a.e < b.e THEN 'starts'
        |      WHEN a.s = b.s THEN 'started_by'
        |      WHEN a.e = b.e AND a.s > b.s THEN 'finishes'
        |      WHEN a.e = b.e THEN 'finished_by'
        |      WHEN a.s > b.s AND a.e < b.e THEN 'during'
        |      WHEN a.s < b.s AND a.e > b.e THEN 'contains'
        |      WHEN a.s < b.s THEN 'overlaps'
        |      ELSE 'overlapped_by' END AS relation
        |  FROM sp a JOIN sp b
        |    ON b.user_id = a.user_id AND a.event_type < b.event_type)
        |SELECT type_a, type_b, relation, CAST(count(*) AS BIGINT) AS n_users
        |FROM pr GROUP BY 1, 2, 3 ORDER BY type_a, type_b, relation""".stripMargin) { (s, d) =>
      val sp = events(s, d)
        .groupBy("user_id", "event_type")
        .agg(min("ts_ns").as("s"), max("ts_ns").as("e"))
        .localCheckpoint()
      val a = sp.select(col("user_id"), col("event_type").as("type_a"),
        col("s").as("sa"), col("e").as("ea"))
      val b = sp.select(col("user_id"), col("event_type").as("type_b"),
        col("s").as("sb"), col("e").as("eb"))
      a.join(b, Seq("user_id")).filter(col("type_a") < col("type_b"))
        .withColumn("relation",
          allenRelation(col("sa"), col("ea"), col("sb"), col("eb")))
        .groupBy("type_a", "type_b", "relation")
        .agg(count(lit(1)).as("n_users"))
        .orderBy("type_a", "type_b", "relation")
    },

    // ----- Funnel latency: time-to-convert histogram (signup→purchase) -----
    // a6_funnel counts WHO converts; this measures HOW FAST — the
    // latency distribution between a user's first signup and their
    // first purchase AT OR AFTER it, as a per-day histogram with
    // cumulative counts (the curve a growth team reads conversion
    // half-life off). Exact-ns integer latencies floored to days;
    // the cumulative column rides a window over the bounded day-span
    // table, never over users. Scale shape: one hash agg to first-
    // signup, one conditional agg to first-qualifying-purchase (the
    // signup timestamp rides the groupBy key so no join re-widens),
    // histogram + prefix sum on calendar-bounded rows.
    "funnel_time_to_convert" -> QueryDef.sql(
      """WITH sg AS (
        |  SELECT user_id, min(epoch_ns(ts)) AS sgn FROM events
        |  WHERE event_type = 'signup' GROUP BY 1),
        |pu AS (
        |  SELECT e.user_id, min(epoch_ns(ts)) AS pur
        |  FROM events e JOIN sg ON sg.user_id = e.user_id
        |  WHERE e.event_type = 'purchase' AND epoch_ns(e.ts) >= sg.sgn
        |  GROUP BY 1),
        |lat AS (
        |  SELECT sg.user_id, (pu.pur - sg.sgn) // 86400000000000 AS latency_days
        |  FROM sg JOIN pu ON pu.user_id = sg.user_id),
        |h AS (SELECT latency_days, CAST(count(*) AS BIGINT) AS n_users
        |      FROM lat GROUP BY 1),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS n_signups FROM sg),
        |c AS (SELECT CAST(count(*) AS BIGINT) AS n_converted FROM lat)
        |SELECT h.latency_days, h.n_users,
        |  CAST(sum(h.n_users) OVER (ORDER BY h.latency_days) AS BIGINT)
        |    AS cum_users,
        |  t.n_signups, c.n_converted,
        |  CAST((1000000 * c.n_converted) // t.n_signups AS BIGINT)
        |    AS conversion_ppm
        |FROM h CROSS JOIN t CROSS JOIN c
        |ORDER BY latency_days""".stripMargin) { (s, d) =>
      val ev = events(s, d)
      val sg = ev.filter(col("event_type") === "signup")
        .groupBy("user_id").agg(min("ts_ns").as("sgn"))
        .localCheckpoint()
      val pu = ev.filter(col("event_type") === "purchase")
        .join(sg, Seq("user_id"))
        .filter(col("ts_ns") >= col("sgn"))
        .groupBy("user_id", "sgn").agg(min("ts_ns").as("pur"))
      val lat = pu.select(expr("(pur - sgn) div 86400000000000").as("latency_days"))
        .localCheckpoint()
      val h = lat.groupBy("latency_days").agg(count(lit(1)).as("n_users"))
      val t = sg.agg(count(lit(1)).as("n_signups"))
      val c = lat.agg(count(lit(1)).as("n_converted"))
      // bounded table (day-span rows): the ordered window is safe here
      h.withColumn("cum_users",
          sum("n_users").over(Window.orderBy("latency_days")))
        .crossJoin(broadcast(t)).crossJoin(broadcast(c))
        .select(col("latency_days"), col("n_users"), col("cum_users"),
          col("n_signups"), col("n_converted"),
          expr("CAST((1000000 * n_converted) div n_signups AS BIGINT)")
            .as("conversion_ppm"))
        .orderBy("latency_days")
    },

    // ----- ER: fuzzy name self-join via SymSpell deletion keys -----
    // Entity-resolution blocking done right: find every customer-name
    // pair within edit distance 1 WITHOUT the quadratic all-pairs scan.
    // Each name emits itself plus its |name|+1 single-deletion variants
    // as join keys (the SymSpell neighborhood; Garbe 2012 — public
    // domain technique, also the spelling-correction trick in Norvig's
    // essay): any two strings at Levenshtein distance ≤ 1 provably
    // share a key (substitution ⇒ both delete that position; indel ⇒
    // the longer's deletion hits the shorter's identity key), so the
    // block join is RECALL-COMPLETE and the exact levenshtein runs only
    // on candidates — key-bucket-bounded, never |names|². Scale shape:
    // one explode (×~20), one equi-join on the key, one distinct; the
    // verify predicate is codegen'd. Emitted per customer: neighbor
    // count and the lexicographically first neighbor.
    "er_fuzzy_name_join" -> QueryDef.sql(
      """WITH keys AS (
        |  SELECT name, substr(name, 1, i - 1) || substr(name, i + 1) AS k
        |  FROM (SELECT c_name AS name,
        |          unnest(range(1, length(c_name) + 2)) AS i
        |        FROM customer)),
        |cand AS (
        |  SELECT DISTINCT a.name AS na, b.name AS nb
        |  FROM keys a JOIN keys b ON a.k = b.k AND a.name < b.name),
        |pairs AS (SELECT na, nb FROM cand WHERE levenshtein(na, nb) <= 1),
        |nbr AS (
        |  SELECT name, CAST(count(*) AS BIGINT) AS n_nbr, min(other) AS nearest
        |  FROM (SELECT na AS name, nb AS other FROM pairs
        |        UNION ALL SELECT nb, na FROM pairs) GROUP BY name)
        |SELECT c.c_name, coalesce(n.n_nbr, 0) AS n_neighbors,
        |  n.nearest AS nearest_name
        |FROM customer c LEFT JOIN nbr n ON n.name = c.c_name
        |ORDER BY c.c_name""".stripMargin) { (s, d) =>
      val pairs = symspellPairs(customer(s, d).select(col("c_name").as("name")))
      val nbr = pairs.select(col("na").as("name"), col("nb").as("other"))
        .unionByName(pairs.select(col("nb").as("name"), col("na").as("other")))
        .groupBy("name")
        .agg(count(lit(1)).as("n_nbr"), min("other").as("nearest"))
      customer(s, d).join(nbr, col("c_name") === col("name"), "left")
        .select(col("c_name"), coalesce(col("n_nbr"), lit(0L)).as("n_neighbors"),
          col("nearest").as("nearest_name"))
        .orderBy("c_name")
    },

    // ----- U7: incremental view maintenance with retractions -----
    // The delta algebra every streaming materialized view rests on
    // (self-maintainable aggregates; Gupta & Mumick's IVM survey,
    // public literature): a per-(day, type) count/sum state maintained
    // as base(epoch-1) ⊎ delta(epoch-2) ⊎ RETRACTIONS (a deterministic
    // correction feed that deletes every 97th epoch-1 event) applied as
    // weight −1 rows — the merged state must equal a full recompute
    // that never saw the retracted rows. Both paths are emitted side by
    // side with the equality flag, which is the IVM correctness law
    // itself; a key whose rows are ALL retracted survives as an n=0
    // tombstone row in the merged state (exactly what a real
    // incremental view serves until compaction) with no recompute twin.
    // Scale shape: the three legs are one scan's worth of filters, the
    // merge is a single hash agg on signed weights — no join grows with
    // the corpus; the recompute leg exists only because the query IS
    // the audit.
    "u7_ivm_refresh" -> QueryDef.sql(
      """WITH ev AS (
        |  SELECT event_id, event_type,
        |    epoch_us(ts) // 86400000000 AS day,
        |    CAST(round(1000000 * round(value, 6)) AS BIGINT) AS micro
        |  FROM events),
        |mm AS (SELECT (min(day) + max(day)) // 2 AS mid FROM ev),
        |legs AS (
        |  SELECT day, event_type, micro, 1 AS w FROM ev, mm WHERE day <= mid
        |  UNION ALL
        |  SELECT day, event_type, micro, 1 FROM ev, mm WHERE day > mid
        |  UNION ALL
        |  SELECT day, event_type, micro, -1 FROM ev, mm
        |  WHERE day <= mid AND event_id % 97 = 0),
        |merged AS (
        |  SELECT day, event_type, CAST(sum(w) AS BIGINT) AS n_merged,
        |    CAST(sum(w * micro) AS BIGINT) AS sum_merged_micro
        |  FROM legs GROUP BY 1, 2),
        |rec AS (
        |  SELECT day, event_type, CAST(count(*) AS BIGINT) AS n_recompute,
        |    CAST(sum(micro) AS BIGINT) AS sum_recompute_micro
        |  FROM ev, mm WHERE NOT (day <= mid AND event_id % 97 = 0)
        |  GROUP BY 1, 2)
        |SELECT m.day, m.event_type, m.n_merged, m.sum_merged_micro,
        |  coalesce(r.n_recompute, 0) AS n_recompute,
        |  coalesce(r.sum_recompute_micro, 0) AS sum_recompute_micro,
        |  CAST(m.n_merged = coalesce(r.n_recompute, 0)
        |    AND m.sum_merged_micro = coalesce(r.sum_recompute_micro, 0)
        |    AS BIGINT) AS consistent
        |FROM merged m LEFT JOIN rec r
        |  ON r.day = m.day AND r.event_type = m.event_type
        |ORDER BY m.day, m.event_type""".stripMargin) { (s, d) =>
      val us = graft.util.Tables.epochUsFloorSql
      val ev0 = events(s, d).select(col("event_id"), col("event_type"),
        expr(s"($us) div 86400000000").as("day"),
        expr("CAST(round(1000000 * round(value, 6)) AS BIGINT)").as("micro"))
      val mm = ev0.agg(expr("(min(day) + max(day)) div 2").as("mid"))
      val ev = ev0.crossJoin(broadcast(mm)).localCheckpoint()
      val base = ev.filter(col("day") <= col("mid"))
        .select(col("day"), col("event_type"), col("micro"), lit(1L).as("w"))
      val delta = ev.filter(col("day") > col("mid"))
        .select(col("day"), col("event_type"), col("micro"), lit(1L).as("w"))
      val retr = ev.filter(col("day") <= col("mid") && col("event_id") % 97 === 0)
        .select(col("day"), col("event_type"), col("micro"), lit(-1L).as("w"))
      val merged = base.unionByName(delta).unionByName(retr)
        .groupBy("day", "event_type")
        .agg(sum("w").as("n_merged"),
          sum(col("w") * col("micro")).as("sum_merged_micro"))
      val rec = ev.filter(!(col("day") <= col("mid") && col("event_id") % 97 === 0))
        .groupBy("day", "event_type")
        .agg(count(lit(1)).as("n_recompute"),
          sum("micro").as("sum_recompute_micro"))
      merged.join(rec, Seq("day", "event_type"), "left")
        .select(col("day"), col("event_type"), col("n_merged"),
          col("sum_merged_micro"),
          coalesce(col("n_recompute"), lit(0L)).as("n_recompute"),
          coalesce(col("sum_recompute_micro"), lit(0L)).as("sum_recompute_micro"),
          (col("n_merged") === coalesce(col("n_recompute"), lit(0L)) &&
            col("sum_merged_micro") === coalesce(col("sum_recompute_micro"), lit(0L)))
            .cast("long").as("consistent"))
        .orderBy("day", "event_type")
    },

    // ----- U8: IVM for MIN/MAX — the NON-self-maintainable case -----
    // u7's complement: count/sum absorb deletes as signed weights, but
    // MIN/MAX are not self-maintainable under deletion (Gupta & Mumick)
    // — deleting the row that ATTAINS a group's stored extreme leaves
    // the new extreme unknowable from the view alone. The standard
    // answer, executed here: deletes of interior values keep the
    // stored extreme; a group whose deleted value equals its stored
    // min/max is recomputed from surviving base rows RESTRICTED to the
    // touched keys (broadcast semi-join before the aggregate — the
    // recompute leg's input is touched-group-cardinality, never the
    // full base, which is the entire point at 100 TB); a fully-deleted
    // group serves a NULL-extreme tombstone; inserts fold in with
    // null-skipping least/greatest (min/max ARE self-maintainable
    // under inserts). The full-recompute truth rides beside the
    // maintained view with the equality flag — the IVM law itself,
    // null-safe (<=> / IS NOT DISTINCT FROM) so tombstones compare
    // honestly. Same epoch/retraction feed as u7.
    "u8_ivm_minmax" -> QueryDef.sql(
      """WITH ev AS (
        |  SELECT event_id, event_type,
        |    epoch_us(ts) // 86400000000 AS day,
        |    CAST(round(1000000 * round(value, 6)) AS BIGINT) AS micro
        |  FROM events),
        |mm AS (SELECT (min(day) + max(day)) // 2 AS mid FROM ev),
        |base AS (SELECT * FROM ev, mm WHERE day <= mid),
        |v1 AS (SELECT day, event_type, min(micro) AS mn1, max(micro) AS mx1,
        |         CAST(count(*) AS BIGINT) AS n1 FROM base GROUP BY 1, 2),
        |dg AS (SELECT day, event_type, min(micro) AS dmn, max(micro) AS dmx,
        |         CAST(count(*) AS BIGINT) AS dn
        |       FROM base WHERE event_id % 97 = 0 GROUP BY 1, 2),
        |tch AS (SELECT v1.day, v1.event_type
        |        FROM v1 JOIN dg USING (day, event_type)
        |        WHERE (dg.dmn = v1.mn1 OR dg.dmx = v1.mx1) AND dg.dn < v1.n1),
        |rec AS (SELECT b.day, b.event_type, min(b.micro) AS rmn, max(b.micro) AS rmx
        |        FROM base b JOIN tch USING (day, event_type)
        |        WHERE b.event_id % 97 <> 0 GROUP BY 1, 2),
        |mb AS (
        |  SELECT v1.day, v1.event_type, v1.n1 - coalesce(dg.dn, 0) AS n_b,
        |    CASE WHEN dg.dn IS NULL THEN v1.mn1 WHEN dg.dn = v1.n1 THEN NULL
        |         WHEN dg.dmn = v1.mn1 THEN rec.rmn ELSE v1.mn1 END AS mn_b,
        |    CASE WHEN dg.dn IS NULL THEN v1.mx1 WHEN dg.dn = v1.n1 THEN NULL
        |         WHEN dg.dmx = v1.mx1 THEN rec.rmx ELSE v1.mx1 END AS mx_b
        |  FROM v1 LEFT JOIN dg USING (day, event_type)
        |  LEFT JOIN rec USING (day, event_type)),
        |ig AS (SELECT day, event_type, min(micro) AS imn, max(micro) AS imx,
        |         CAST(count(*) AS BIGINT) AS inn
        |       FROM ev, mm WHERE day > mid GROUP BY 1, 2),
        |maint AS (
        |  SELECT coalesce(mb.day, ig.day) AS day,
        |    coalesce(mb.event_type, ig.event_type) AS event_type,
        |    coalesce(mb.n_b, 0) + coalesce(ig.inn, 0) AS n_maintained,
        |    least(mb.mn_b, ig.imn) AS mn_maintained,
        |    greatest(mb.mx_b, ig.imx) AS mx_maintained
        |  FROM mb FULL OUTER JOIN ig
        |    ON ig.day = mb.day AND ig.event_type = mb.event_type),
        |rec2 AS (SELECT day, event_type, CAST(count(*) AS BIGINT) AS n_recompute,
        |           min(micro) AS mn_recompute, max(micro) AS mx_recompute
        |         FROM ev, mm WHERE NOT (day <= mid AND event_id % 97 = 0)
        |         GROUP BY 1, 2)
        |SELECT m.day, m.event_type, m.n_maintained, m.mn_maintained, m.mx_maintained,
        |  coalesce(r.n_recompute, 0) AS n_recompute, r.mn_recompute, r.mx_recompute,
        |  CAST(m.n_maintained = coalesce(r.n_recompute, 0)
        |    AND m.mn_maintained IS NOT DISTINCT FROM r.mn_recompute
        |    AND m.mx_maintained IS NOT DISTINCT FROM r.mx_recompute AS BIGINT) AS consistent
        |FROM maint m LEFT JOIN rec2 r USING (day, event_type)
        |ORDER BY m.day, m.event_type""".stripMargin) { (s, d) =>
      val us = graft.util.Tables.epochUsFloorSql
      val ev0 = events(s, d).select(col("event_id"), col("event_type"),
        expr(s"($us) div 86400000000").as("day"),
        expr("CAST(round(1000000 * round(value, 6)) AS BIGINT)").as("micro"))
      val mm = ev0.agg(expr("(min(day) + max(day)) div 2").as("mid"))
      val ev = ev0.crossJoin(broadcast(mm)).localCheckpoint()
      val base = ev.filter(col("day") <= col("mid"))
      val v1 = base.groupBy("day", "event_type")
        .agg(min("micro").as("mn1"), max("micro").as("mx1"), count(lit(1)).as("n1"))
      val dg = base.filter(col("event_id") % 97 === 0)
        .groupBy("day", "event_type")
        .agg(min("micro").as("dmn"), max("micro").as("dmx"), count(lit(1)).as("dn"))
      val tch = v1.join(dg, Seq("day", "event_type"))
        .filter((col("dmn") === col("mn1") || col("dmx") === col("mx1")) &&
          col("dn") < col("n1"))
        .select("day", "event_type")
      val rec = base.filter(col("event_id") % 97 =!= 0)
        .join(broadcast(tch), Seq("day", "event_type"))
        .groupBy("day", "event_type")
        .agg(min("micro").as("rmn"), max("micro").as("rmx"))
      val mb = v1.join(dg, Seq("day", "event_type"), "left")
        .join(rec, Seq("day", "event_type"), "left")
        .select(col("day"), col("event_type"),
          (col("n1") - coalesce(col("dn"), lit(0L))).as("n_b"),
          expr("""CASE WHEN dn IS NULL THEN mn1 WHEN dn = n1 THEN CAST(NULL AS BIGINT)
                 |     WHEN dmn = mn1 THEN rmn ELSE mn1 END""".stripMargin).as("mn_b"),
          expr("""CASE WHEN dn IS NULL THEN mx1 WHEN dn = n1 THEN CAST(NULL AS BIGINT)
                 |     WHEN dmx = mx1 THEN rmx ELSE mx1 END""".stripMargin).as("mx_b"))
      val ig = ev.filter(col("day") > col("mid")).groupBy("day", "event_type")
        .agg(min("micro").as("imn"), max("micro").as("imx"), count(lit(1)).as("inn"))
      val maint = mb.join(ig, Seq("day", "event_type"), "full_outer")
        .select(col("day"), col("event_type"),
          (coalesce(col("n_b"), lit(0L)) + coalesce(col("inn"), lit(0L)))
            .as("n_maintained"),
          least(col("mn_b"), col("imn")).as("mn_maintained"),
          greatest(col("mx_b"), col("imx")).as("mx_maintained"))
      val rec2 = ev.filter(!(col("day") <= col("mid") && col("event_id") % 97 === 0))
        .groupBy("day", "event_type")
        .agg(count(lit(1)).as("n_recompute"), min("micro").as("mn_recompute"),
          max("micro").as("mx_recompute"))
      maint.join(rec2, Seq("day", "event_type"), "left")
        .select(col("day"), col("event_type"), col("n_maintained"),
          col("mn_maintained"), col("mx_maintained"),
          coalesce(col("n_recompute"), lit(0L)).as("n_recompute"),
          col("mn_recompute"), col("mx_recompute"),
          expr("""CAST(n_maintained = coalesce(n_recompute, 0)
                 |  AND mn_maintained <=> mn_recompute
                 |  AND mx_maintained <=> mx_recompute AS BIGINT)""".stripMargin)
            .as("consistent"))
        .orderBy("day", "event_type")
    },

    // ----- J20: semi-join reduction via a Bloom pre-filter -----
    // The other half of the distributed-join toolkit beside broadcast /
    // bucketing / salting / AQE-skew: when the build side is too big to
    // broadcast EXACTLY but its key set fits a few kilobits, shrink the
    // probe side BEFORE its shuffle with a broadcast Bloom gate (the
    // semi-join reduction of Bernstein & Chiu 1981; Spark's own runtime
    // row-level filters inject the same shape). Here the gate is 1024
    // bits (16 words, 2 salted hashes) built from the signup-user keys;
    // fact rows that cannot match never enter the exchange, and the
    // EXACT merge semi-join afterwards removes the false positives —
    // so the Bloom leg is invisible to semantics (the oracle is the
    // plain semi-join aggregate) and visible only in the plan:
    // PlanAssertSpec pins the SMJ (the at-scale exact join, hinted so
    // the fixture doesn't broadcast it away) with the two word-table
    // broadcast joins feeding its probe side below the exchange.
    "j20_bloom_semi_reduction" -> QueryDef.sql(
      """WITH dim AS (
        |  SELECT DISTINCT user_id FROM events WHERE event_type = 'signup')
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
        |FROM events WHERE user_id IN (SELECT user_id FROM dim)
        |GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
      val ev = events(s, d)
      val dim = ev.filter(col("event_type") === "signup")
        .select(col("user_id")).distinct().localCheckpoint()
      def posOf(j: org.apache.spark.sql.Column, c: org.apache.spark.sql.Column) =
        pmod(graft.functions.Md5Head60.md5_head60(concat(j.cast("string"), lit("#"),
          c.cast("string"))), lit(1024))
      val words = dim
        .select(explode(array(lit(0), lit(1))).as("j"), col("user_id"))
        .select(posOf(col("j"), col("user_id")).as("p"))
        .select((col("p") / 64).cast("long").as("w"), pmod(col("p"), lit(64)).as("bit"))
        .groupBy("w").agg(expr("bit_or(shiftleft(1L, cast(bit as int)))").as("bits"))
      def gate(in: org.apache.spark.sql.DataFrame, j: Int) = {
        val p = posOf(lit(j), col("user_id"))
        in.withColumn(s"p$j", p)
          .withColumn(s"w$j", (col(s"p$j") / 64).cast("long"))
          .withColumn(s"b$j", pmod(col(s"p$j"), lit(64)))
          .join(broadcast(words.select(col("w").as(s"w$j"), col("bits").as(s"bits$j"))),
            Seq(s"w$j"), "left")
          .filter(col(s"bits$j").isNotNull &&
            expr(s"(shiftright(bits$j, cast(b$j as int)) & 1) = 1"))
          .drop(s"p$j", s"w$j", s"b$j", s"bits$j")
      }
      val prefiltered = gate(gate(
        ev.select(col("user_id"), col("event_type"), col("value")), 0), 1)
      prefiltered
        .hint("merge")
        .join(dim.withColumnRenamed("user_id", "dim_user").hint("merge"),
          col("user_id") === col("dim_user"), "left_semi")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("total_value"))
        .orderBy("event_type")
    },

    // ----- O16: Markov next-event predictor, graded out-of-period -----
    // The eval face of the o6 transition matrix: train the top-1
    // predictor (per source state, the most frequent next event) on
    // the FIRST half of the day range, grade it on transitions whose
    // leading event falls in the second half — the point-in-time
    // split (fe_churn_labels discipline) that keeps the accuracy
    // honest where in-sample grading flatters. Ties in the argmax go
    // to the lexicographically smallest successor (max_by on
    // (n, reversed dst) has no string negation, so the oracle and the
    // Spark side both spell it as the rank-1 row of an (n DESC, dst)
    // sort over the taxonomy-bounded count table). Accuracy is a
    // counting ratio in ppm. Plan: both halves ride the ONE user-keyed
    // lead() exchange; everything after is taxonomy-bounded.
    "o16_markov_accuracy" -> QueryDef.sql(
      """WITH t AS (
        |  SELECT user_id, event_id, event_type, epoch_ns(ts) AS ns,
        |    epoch_us(ts) // 86400000000 AS day
        |  FROM events),
        |mm AS (SELECT (min(day) + max(day)) // 2 AS mid FROM t),
        |p AS (
        |  SELECT event_type AS src, day,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ns, event_id) AS dst
        |  FROM t),
        |tr AS (SELECT src, dst, CAST(count(*) AS BIGINT) AS n
        |       FROM p CROSS JOIN mm WHERE dst IS NOT NULL AND day <= mid
        |       GROUP BY 1, 2),
        |pred AS (
        |  SELECT src, dst AS pred_dst FROM (
        |    SELECT src, dst, row_number() OVER (PARTITION BY src
        |      ORDER BY n DESC, dst) AS rn FROM tr) WHERE rn = 1),
        |ev AS (SELECT src, dst FROM p CROSS JOIN mm
        |       WHERE dst IS NOT NULL AND day > mid)
        |SELECT e.src, pr.pred_dst, CAST(count(*) AS BIGINT) AS n_eval,
        |  CAST(sum(CASE WHEN e.dst = pr.pred_dst THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
        |  CAST((1000000 * sum(CASE WHEN e.dst = pr.pred_dst THEN 1 ELSE 0 END))
        |    // count(*) AS BIGINT) AS accuracy_ppm
        |FROM ev e JOIN pred pr ON pr.src = e.src
        |GROUP BY e.src, pr.pred_dst ORDER BY e.src""".stripMargin) { (s, d) =>
      val us = graft.util.Tables.epochUsFloorSql
      val t = events(s, d)
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("ts_ns").as("ns"), expr(s"(($us) div 86400000000)").as("day"))
      val mm = t.agg(expr("(min(day) + max(day)) div 2").as("mid"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("ns"), col("event_id"))
      val p = t.withColumn("dst", lead(col("event_type"), 1).over(w))
        .select(col("event_type").as("src"), col("day"), col("dst"))
        .crossJoin(broadcast(mm))
        .filter(col("dst").isNotNull)
        .localCheckpoint()
      val tr = p.filter(col("day") <= col("mid"))
        .groupBy("src", "dst").agg(count(lit(1)).as("n"))
      val predW = Window.partitionBy(col("src")).orderBy(col("n").desc, col("dst"))
      val pred = tr.withColumn("rn", row_number().over(predW))
        .filter(col("rn") === 1).select(col("src"), col("dst").as("pred_dst"))
      p.filter(col("day") > col("mid"))
        .join(broadcast(pred), Seq("src"))
        .groupBy("src", "pred_dst")
        .agg(count(lit(1)).as("n_eval"),
          sum(when(col("dst") === col("pred_dst"), 1L).otherwise(0L)).as("n_correct"))
        .select(col("src"), col("pred_dst"), col("n_eval"), col("n_correct"),
          expr("CAST((1000000L * n_correct) div n_eval AS BIGINT)").as("accuracy_ppm"))
        .orderBy("src")
    },

    // ----- Q23: Benford first-digit audit over extended prices -----
    // The forensic-analytics screen (Benford 1938; Nigrini's audit
    // practice): naturally-occurring multiplicative amounts put ~30.1%
    // of first digits at 1, and fabricated or clamped data does not.
    // The expected distribution log10(1+1/d) enters as the standard
    // fixed ppm table (compile-time constants — no runtime log), the
    // observed side is a counting fold over the first digit of the
    // integer part, and the deviation column is |obs−exp| per digit in
    // ppm. One scan, a 9-row output. (TPC-H prices are uniform-ish, so
    // the audit should FLAG them — the deviation column is the point.)
    "q23_benford_audit" -> QueryDef.sql(
      s"""WITH d AS (
         |  SELECT CAST(substr(CAST(CAST(floor(l_extendedprice) AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit
         |  FROM lineitem WHERE l_extendedprice >= 1),
         |o AS (SELECT digit, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY 1),
         |tot AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM o),
         |e AS (SELECT CAST(digit AS BIGINT) AS digit, exp_ppm
         |      FROM (VALUES $BenfordValuesSql) AS v(digit, exp_ppm))
         |SELECT e.digit, coalesce(o.n, 0) AS n,
         |  CAST((1000000 * coalesce(o.n, 0)) // t.t AS BIGINT) AS obs_ppm,
         |  CAST(e.exp_ppm AS BIGINT) AS exp_ppm,
         |  CAST(abs((1000000 * coalesce(o.n, 0)) // t.t - e.exp_ppm) AS BIGINT) AS dev_ppm
         |FROM e LEFT JOIN o ON o.digit = e.digit CROSS JOIN tot t
         |ORDER BY e.digit""".stripMargin) { (s, d) =>
      import s.implicits._
      val obs = lineitem(s, d).filter(col("l_extendedprice") >= 1)
        .select(substring(floor(col("l_extendedprice")).cast("long").cast("string"), 1, 1)
          .cast("long").as("digit"))
        .groupBy("digit").agg(count(lit(1)).as("n"))
      val tot = obs.agg(sum("n").as("t"))
      val e = BenfordPpm.toSeq.toDF("digit", "exp_ppm")
      broadcast(e).join(obs, Seq("digit"), "left").crossJoin(broadcast(tot))
        .select(col("digit"), coalesce(col("n"), lit(0L)).as("n"),
          expr("CAST((1000000L * coalesce(n, 0L)) div t AS BIGINT)").as("obs_ppm"),
          col("exp_ppm"),
          expr("CAST(abs((1000000L * coalesce(n, 0L)) div t - exp_ppm) AS BIGINT)")
            .as("dev_ppm"))
        .orderBy("digit")
    },

    // ----- O15: time-weighted average (TWAP) per user -----
    // The metrics-correct mean for irregularly-sampled state: each
    // event's value HOLDS until the next event, so the average must
    // weight by holding time, not by sample count (the monitoring/
    // finance TWAP; a plain avg() over-weights bursts). Exact integer
    // form: the step-function integral Σ valueᵢ·Δnsᵢ over the user's
    // span, value as floor-micros, divided once — the product reaches
    // value_us·span_ns ≈ 10²⁴, so the integral accumulates in
    // DECIMAL/HUGEINT and only the final quotient returns to BIGINT.
    // The lead() rides the SAME user-keyed (ns, event_id) exchange
    // every sessionize-family query shares; one fold per user ends it.
    // Sub-µs ties order by event_id — both engines identically.
    "o15_time_weighted_avg" -> QueryDef.sql(
      """WITH t AS (
        |  SELECT user_id, event_id, epoch_ns(ts) AS ns,
        |    CAST(floor(value * 1000000) AS BIGINT) AS vus
        |  FROM events),
        |iv AS (
        |  SELECT user_id, vus, ns,
        |    lead(ns) OVER (PARTITION BY user_id ORDER BY ns, event_id) AS nns
        |  FROM t),
        |agg AS (
        |  SELECT user_id,
        |    CAST(sum(CAST(vus AS HUGEINT) * (nns - ns)) AS HUGEINT) AS num,
        |    CAST(sum(nns - ns) AS BIGINT) AS span_ns,
        |    CAST(count(*) AS BIGINT) AS n_holds
        |  FROM iv WHERE nns IS NOT NULL GROUP BY user_id)
        |SELECT user_id, n_holds, span_ns,
        |  CAST(num // span_ns AS BIGINT) AS twap_value_us
        |FROM agg ORDER BY user_id""".stripMargin) { (s, d) =>
      val w = Window.partitionBy(col("user_id")).orderBy(col("ns"), col("event_id"))
      events(s, d)
        .select(col("user_id"), col("event_id"), col("ts_ns").as("ns"),
          floor(col("value") * 1000000).cast("long").as("vus"))
        .withColumn("nns", lead(col("ns"), 1).over(w))
        .filter(col("nns").isNotNull)
        .groupBy("user_id")
        .agg(sum(expr("CAST(vus AS DECIMAL(38,0)) * (nns - ns)")).as("num"),
          sum(col("nns") - col("ns")).as("span_ns"),
          count(lit(1)).as("n_holds"))
        .select(col("user_id"), col("n_holds"), col("span_ns"),
          expr("CAST(num div span_ns AS BIGINT)").as("twap_value_us"))
        .orderBy("user_id")
    },

    // ----- A15: two-arm experiment readout (χ² independence test) -----
    // The experimentation primitive: users split into arms by id parity
    // (the deterministic stand-in for an assignment service), outcome =
    // above-mean purchase count (every fixture user purchases at least
    // once, so a ≥1-purchase outcome would be degenerate); the readout
    // is the 2×2 χ² statistic — the square of the two-proportion
    // z-score, so the same decision boundary (χ² > 3.84 ≈ p < .05
    // two-sided) without the sqrt and normal CDF that would drag libm
    // into the oracle: χ² = n(ad−bc)²/((a+b)(c+d)(a+c)(b+d)) is a pure
    // ratio of BIGINT products, emitted in micro-units via one
    // DECIMAL/HUGEINT //; a degenerate margin NULLs the statistic via
    // a CASE guard (undefined-χ² semantics) instead of erroring.
    // Per-arm rates ride along in ppm. Plan: one per-user fold
    // (partial-combinable), one broadcast mean, one 4-cell conditional
    // sum, one row.
    "a15_ab_chi_square" -> QueryDef.sql(
      """WITH pu AS (
        |  SELECT user_id, user_id % 2 AS arm,
        |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS np
        |  FROM events GROUP BY 1, 2),
        |mt AS (SELECT CAST(count(*) AS BIGINT) AS nu, CAST(sum(np) AS BIGINT) AS tp FROM pu),
        |u AS (
        |  SELECT arm, CASE WHEN np * nu > tp THEN 1 ELSE 0 END AS conv
        |  FROM pu CROSS JOIN mt),
        |cm AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN arm = 1 AND conv = 1 THEN 1 ELSE 0 END) AS BIGINT) AS a,
        |    CAST(sum(CASE WHEN arm = 1 AND conv = 0 THEN 1 ELSE 0 END) AS BIGINT) AS b,
        |    CAST(sum(CASE WHEN arm = 0 AND conv = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c,
        |    CAST(sum(CASE WHEN arm = 0 AND conv = 0 THEN 1 ELSE 0 END) AS BIGINT) AS d
        |  FROM u)
        |SELECT n, a, b, c, d,
        |  CAST((1000000 * a) // (a + b) AS BIGINT) AS rate_t_ppm,
        |  CAST((1000000 * c) // (c + d) AS BIGINT) AS rate_c_ppm,
        |  CASE WHEN (a + b) * (c + d) * (a + c) * (b + d) = 0 THEN NULL
        |       ELSE CAST((CAST(1000000 AS HUGEINT) * n * (a * d - b * c) * (a * d - b * c))
        |         // (CAST(a + b AS HUGEINT) * (c + d) * (a + c) * (b + d)) AS BIGINT)
        |  END AS chi2_micro
        |FROM cm""".stripMargin) { (s, d) =>
      val pu = events(s, d)
        .groupBy(col("user_id"), (col("user_id") % 2).as("arm"))
        .agg(sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("np"))
      val mt = pu.agg(count(lit(1)).as("nu"), sum("np").as("tp"))
      pu.crossJoin(broadcast(mt))
        .select(col("arm"),
          when(col("np") * col("nu") > col("tp"), 1L).otherwise(0L).as("conv"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("arm") === 1 && col("conv") === 1, 1L).otherwise(0L)).as("a"),
          sum(when(col("arm") === 1 && col("conv") === 0, 1L).otherwise(0L)).as("b"),
          sum(when(col("arm") === 0 && col("conv") === 1, 1L).otherwise(0L)).as("c"),
          sum(when(col("arm") === 0 && col("conv") === 0, 1L).otherwise(0L)).as("d"))
        .select(col("n"), col("a"), col("b"), col("c"), col("d"),
          expr("CAST((1000000L * a) div (a + b) AS BIGINT)").as("rate_t_ppm"),
          expr("CAST((1000000L * c) div (c + d) AS BIGINT)").as("rate_c_ppm"),
          expr("""CASE WHEN (a + b) * (c + d) * (a + c) * (b + d) = 0 THEN NULL
                 |     ELSE CAST((CAST(1000000 AS DECIMAL(38,0)) * n * (a * d - b * c) * (a * d - b * c))
                 |       div (CAST(a + b AS DECIMAL(38,0)) * (c + d) * (a + c) * (b + d)) AS BIGINT)
                 |END""".stripMargin)
            .as("chi2_micro"))
    },

    // ----- A16: Gini coefficient of per-user purchase value -----
    // The inequality readout of the value distribution (q11 shows the
    // top-k concentration; Gini summarizes the WHOLE curve): G =
    // (2·Σᵢ i·x₍ᵢ₎ − (n+1)·Σx) / (n·Σx) over ascending per-user totals.
    // Exactness: values enter as floor-micros BIGINTs summed per user,
    // and the rank-weighted sum is DECIMAL/HUGEINT-widened (i·xᵢ
    // reaches n·Σx ≈ 10²¹ at sf0.1 — past int64). The global ascending
    // rank is the scale trap: a naive Window.orderBy funnels the corpus
    // through ONE task, so the Spark side ranks via
    // [[graft.util.Scale.globalRowNumber]] — range-partition + local
    // rank + broadcast exclusive offsets, the same two-pass scaffold
    // sample_weighted_systematic rides (the oracle keeps the textbook
    // window; DuckDB is single-node anyway).
    "a16_value_gini" -> QueryDef.sql(
      """WITH u AS (
        |  SELECT user_id, CAST(sum(CAST(floor(value * 1000000) AS BIGINT)) AS BIGINT) AS x
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |r AS (
        |  SELECT x, CAST(row_number() OVER (ORDER BY x, user_id) AS BIGINT) AS i FROM u),
        |agg AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx,
        |    CAST(sum(CAST(i AS HUGEINT) * x) AS HUGEINT) AS six
        |  FROM r)
        |SELECT n, sx AS total_value_us,
        |  CAST((CAST(1000000 AS HUGEINT) * (2 * six - (n + 1) * sx))
        |    // (CAST(n AS HUGEINT) * sx) AS BIGINT) AS gini_ppm
        |FROM agg""".stripMargin) { (s, d) =>
      val u = events(s, d).filter(col("event_type") === "purchase")
        .groupBy("user_id")
        .agg(sum(floor(col("value") * 1000000).cast("long")).as("x"))
      val (ranked, _) = graft.util.Scale.globalRowNumber(
        u, Seq(col("x"), col("user_id")), "i")
      ranked
        .agg(count(lit(1)).as("n"), sum("x").as("sx"),
          sum(expr("CAST(i AS DECIMAL(38,0)) * x")).as("six"))
        .select(col("n"), col("sx").as("total_value_us"),
          expr("""CAST((CAST(1000000 AS DECIMAL(38,0)) * (2 * six - (n + 1) * sx))
                 |  div (CAST(n AS DECIMAL(38,0)) * sx) AS BIGINT)""".stripMargin)
            .as("gini_ppm"))
    },

    // ----- A12: U-shaped (positional) multi-touch attribution -----
    // Completes the attribution trio: a9 credits the single previous
    // touch, a11 the last non-purchase touch — this splits each
    // purchase's credit across its WHOLE journey (the touches since the
    // user's previous purchase): 40% to the first touch, 40% to the
    // last, the middle 20% evenly across the interior (the standard
    // U-shape). Exactness discipline: credits are integer ppm that sum
    // to EXACTLY 1e6 per purchase (k=1 → 1e6; k=2 → 500k/500k; k≥3 →
    // the interior floor-divides 200k and the REMAINDER goes to the
    // first touch — a documented deterministic policy, not a float
    // renormalize), and purchase value enters as floor-micros so the
    // value-weighted credit is a pure integer product (DECIMAL/HUGEINT
    // widened — 150k purchases × 5e14 per row breaks int64).
    // Scale shape: journey segmentation and touch positions ride ONE
    // user-keyed window exchange (the o4/o6 partitioning); everything
    // after is (user, journey)-keyed joins and a taxonomy-bounded
    // aggregate. Zero-touch journeys credit '(direct)' via anti-join.
    "a12_positional_attribution" -> QueryDef.sql(
      """WITH t AS (
        |  SELECT user_id, event_id, event_type, value, epoch_ns(ts) AS ns FROM events),
        |j AS (
        |  SELECT user_id, event_id, event_type, value, ns,
        |    coalesce(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ns, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS jid
        |  FROM t),
        |pur AS (
        |  SELECT user_id, jid, CAST(floor(value * 1000000) AS BIGINT) AS vus
        |  FROM j WHERE event_type = 'purchase'),
        |tch AS (
        |  SELECT user_id, jid, event_type,
        |    row_number() OVER (PARTITION BY user_id, jid ORDER BY ns, event_id) AS pos,
        |    count(*) OVER (PARTITION BY user_id, jid) AS k
        |  FROM j WHERE event_type <> 'purchase'),
        |cred AS (
        |  SELECT t.event_type AS touch, p.vus,
        |    CASE WHEN t.k = 1 THEN 1000000
        |         WHEN t.k = 2 THEN 500000
        |         WHEN t.pos = 1 THEN 400000 + (200000 - (t.k - 2) * (200000 // (t.k - 2)))
        |         WHEN t.pos = t.k THEN 400000
        |         ELSE 200000 // (t.k - 2) END AS credit_ppm
        |  FROM tch t JOIN pur p ON p.user_id = t.user_id AND p.jid = t.jid),
        |direct AS (
        |  SELECT '(direct)' AS touch, p.vus, 1000000 AS credit_ppm
        |  FROM pur p ANTI JOIN tch t ON t.user_id = p.user_id AND t.jid = p.jid),
        |allc AS (SELECT * FROM cred UNION ALL SELECT * FROM direct)
        |SELECT touch, CAST(count(*) AS BIGINT) AS n_credits,
        |  CAST(sum(credit_ppm) AS BIGINT) AS credit_ppm_total,
        |  CAST(sum(CAST(vus AS HUGEINT) * credit_ppm) // 1000000 AS BIGINT)
        |    AS attributed_value_us
        |FROM allc GROUP BY touch ORDER BY touch""".stripMargin) { (s, d) =>
      val wSeg = Window.partitionBy(col("user_id")).orderBy(col("ns"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val j = events(s, d)
        .select(col("user_id"), col("event_id"), col("event_type"), col("value"),
          col("ts_ns").as("ns"))
        .withColumn("jid", coalesce(
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).over(wSeg),
          lit(0L)))
      val pur = j.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("jid"),
          floor(col("value") * 1000000).cast("long").as("vus"))
      val wPos = Window.partitionBy(col("user_id"), col("jid"))
        .orderBy(col("ns"), col("event_id"))
      val wK = Window.partitionBy(col("user_id"), col("jid"))
      val tch = j.filter(col("event_type") =!= "purchase")
        .select(col("user_id"), col("jid"), col("event_type"),
          row_number().over(wPos).cast("long").as("pos"),
          count(lit(1)).over(wK).as("k"))
      val cred = tch.join(pur, Seq("user_id", "jid"))
        .select(col("event_type").as("touch"), col("vus"),
          expr("""CASE WHEN k = 1 THEN 1000000L
                 |     WHEN k = 2 THEN 500000L
                 |     WHEN pos = 1 THEN 400000L + (200000L - (k - 2) * (200000L div (k - 2)))
                 |     WHEN pos = k THEN 400000L
                 |     ELSE 200000L div (k - 2) END""".stripMargin).as("credit_ppm"))
      val direct = pur.join(tch, Seq("user_id", "jid"), "left_anti")
        .select(lit("(direct)").as("touch"), col("vus"),
          lit(1000000L).as("credit_ppm"))
      cred.unionByName(direct)
        .groupBy("touch")
        .agg(count(lit(1)).as("n_credits"),
          sum(col("credit_ppm")).as("credit_ppm_total"),
          expr("CAST(sum(CAST(vus AS DECIMAL(38,0)) * credit_ppm) div 1000000 AS BIGINT)")
            .as("attributed_value_us"))
        .orderBy("touch")
    },

    // ----- MATCH_RECOGNIZE-lite: regex over per-user journey strings -----
    // Row-pattern matching without the SQL:2016 clause Spark lacks:
    // encode each user's time-ordered event-type initials as ONE string
    // (sort-key-first collect, the engine-safe ordered-agg idiom) and
    // count non-overlapping 's[vce]*p' matches — signup, any browsing,
    // purchase. The char class excludes both anchors, so the greedy
    // scan is UNAMBIGUOUS and engine-independent (no leftmost-longest
    // vs leftmost-first divergence possible). Journey strings are
    // per-user-bounded; the pattern scan is a map-side projection.
    "o18_journey_regex" -> QueryDef.sql(
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS t, event_id,
        |    substr(event_type, 1, 1) AS ini
        |  FROM events),
        |s AS (
        |  SELECT user_id, string_agg(ini, '' ORDER BY t, event_id) AS j
        |  FROM e GROUP BY 1)
        |SELECT user_id, CAST(length(j) AS BIGINT) AS journey_len,
        |  CAST(len(regexp_extract_all(j, 's[vce]*p')) AS BIGINT) AS n_patterns
        |FROM s ORDER BY user_id""".stripMargin) { (s, d) =>
      events(s, d)
        .select(col("user_id"), expr("unix_micros(ts)").as("t"),
          col("event_id"), substring(col("event_type"), 1, 1).as("ini"))
        .groupBy("user_id")
        .agg(array_join(
          expr("transform(array_sort(collect_list(struct(t, event_id, ini))), x -> x.ini)"),
          "").as("j"))
        .select(col("user_id"), length(col("j")).cast("long").as("journey_len"),
          size(expr("regexp_extract_all(j, 's[vce]*p', 0)")).cast("long")
            .as("n_patterns"))
        .orderBy("user_id")
    },

    // ----- Functional-dependency discovery over a candidate lattice -----
    // The data-profiling classic (Papenbrock et al., "Functional
    // Dependency Discovery: An Experimental Evaluation", VLDB 2015 —
    // public literature): verify A→B for a fixed candidate set of column
    // pairs by comparing group cardinalities — A→B holds iff no A-group
    // sees two distinct B values. The candidate set mixes key-entailed
    // FDs (which must hold) with plausible-but-false business rules
    // (which must fail, with the violating-group count and the max
    // branching factor as the evidence a repair tool would start from).
    // Scale: each candidate is one hash aggregate over (det) with a
    // distinct-count of dep — partial-aggregated map-side; the union
    // runs the candidates as independent subtrees, and the final rollup
    // is candidate-cardinality (6 rows).
    "fd_discovery" -> QueryDef.sql(
      """WITH cand AS (
        |  SELECT 'nation: n_nationkey -> n_regionkey' AS fd,
        |    CAST(n_nationkey AS VARCHAR) AS det, CAST(n_regionkey AS VARCHAR) AS dep FROM nation
        |  UNION ALL SELECT 'part: p_partkey -> p_brand', CAST(p_partkey AS VARCHAR), p_brand FROM part
        |  UNION ALL SELECT 'part: p_brand -> p_type', p_brand, p_type FROM part
        |  UNION ALL SELECT 'customer: c_nationkey -> c_mktsegment', CAST(c_nationkey AS VARCHAR), c_mktsegment FROM customer
        |  UNION ALL SELECT 'orders: o_custkey -> o_orderpriority', CAST(o_custkey AS VARCHAR), o_orderpriority FROM orders
        |  UNION ALL SELECT 'lineitem: l_orderkey -> l_returnflag', CAST(l_orderkey AS VARCHAR), l_returnflag FROM lineitem),
        |g AS (SELECT fd, det, CAST(count(DISTINCT dep) AS BIGINT) AS nd
        |  FROM cand GROUP BY 1,2)
        |SELECT fd, CAST(count(*) AS BIGINT) AS n_groups,
        |  CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating,
        |  max(nd) AS max_branching,
        |  CAST(CASE WHEN max(nd) = 1 THEN 1 ELSE 0 END AS BIGINT) AS holds
        |FROM g GROUP BY fd ORDER BY fd""".stripMargin) { (s, d) =>
      def cand(df: org.apache.spark.sql.DataFrame, label: String,
          det: String, dep: String) =
        df.select(lit(label).as("fd"), col(det).cast("string").as("det"),
          col(dep).cast("string").as("dep"))
      val cands = cand(nation(s, d), "nation: n_nationkey -> n_regionkey",
          "n_nationkey", "n_regionkey")
        .unionByName(cand(part(s, d), "part: p_partkey -> p_brand",
          "p_partkey", "p_brand"))
        .unionByName(cand(part(s, d), "part: p_brand -> p_type",
          "p_brand", "p_type"))
        .unionByName(cand(customer(s, d), "customer: c_nationkey -> c_mktsegment",
          "c_nationkey", "c_mktsegment"))
        .unionByName(cand(orders(s, d), "orders: o_custkey -> o_orderpriority",
          "o_custkey", "o_orderpriority"))
        .unionByName(cand(lineitem(s, d), "lineitem: l_orderkey -> l_returnflag",
          "l_orderkey", "l_returnflag"))
      cands.groupBy("fd", "det").agg(countDistinct("dep").as("nd"))
        .groupBy("fd").agg(count(lit(1)).as("n_groups"),
          sum(when(col("nd") > 1, 1L).otherwise(0L)).as("n_violating"),
          max("nd").as("max_branching"))
        .withColumn("holds",
          when(col("max_branching") === 1, 1L).otherwise(0L))
        .orderBy("fd")
    },

    // ----- Sorted-neighborhood blocking for entity resolution -----
    // The second blocking strategy beside er_fuzzy_name_join's
    // symspell-key join (Hernández & Stolfo, "The Merge/Purge Problem
    // for Large Databases", SIGMOD 1995): sort the corpus once on a
    // cheap blocking key (account balance in exact cents), then compare
    // only records within a fixed-width rank window (w = 3 → rank
    // distance ≤ 2). The window-of-a-sort turns the quadratic all-pairs
    // comparison into a LINEAR candidate stream — the property that
    // makes it the classic 100 TB ER front-end. Implementation is
    // scale-clean: the global rank comes from Scale.globalRowNumber
    // (range-partition + per-partition rank + broadcast offsets, no
    // single-partition window), and the rank-distance candidates are a
    // UNION of two rk-equi-joins, never a band BNLJ. Match rule: same
    // nation AND same market segment — the per-nation counts show the
    // honest base-rate (~1/5 of candidates match on segment within a
    // nation, near-zero across).
    "er_sorted_neighborhood" -> QueryDef.sql(
      """WITH c AS (
        |  SELECT c_custkey, c_nationkey, c_mktsegment,
        |    CAST(round(c_acctbal * 100) AS BIGINT) AS bkey
        |  FROM customer),
        |r AS (SELECT *, CAST(row_number() OVER (ORDER BY bkey, c_custkey) AS BIGINT) AS rk FROM c),
        |cand AS (
        |  SELECT a.c_nationkey AS nk,
        |    CAST(a.c_nationkey = b.c_nationkey AND a.c_mktsegment = b.c_mktsegment AS INT) AS m
        |  FROM r a JOIN r b ON b.rk = a.rk + 1 OR b.rk = a.rk + 2)
        |SELECT nk AS c_nationkey, CAST(count(*) AS BIGINT) AS n_candidates,
        |  CAST(sum(m) AS BIGINT) AS n_matches
        |FROM cand GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val c = customer(s, d).select(col("c_custkey"), col("c_nationkey"),
        col("c_mktsegment"),
        round(col("c_acctbal") * 100).cast("long").as("bkey"))
      val (ranked, _) = graft.util.Scale.globalRowNumber(
        c, Seq(col("bkey"), col("c_custkey")), "rk")
      val a = ranked.select(col("rk").as("ra"), col("c_nationkey").as("na"),
        col("c_mktsegment").as("sa"))
      val b = ranked.select(col("rk").as("rb"), col("c_nationkey").as("nb"),
        col("c_mktsegment").as("sb"))
      // w = 3 neighborhood as two rank-offset EQUI-joins (shuffle on rk)
      val cand = a.join(b, col("rb") === col("ra") + 1)
        .unionByName(a.join(b, col("rb") === col("ra") + 2))
      cand.groupBy(col("na").as("c_nationkey"))
        .agg(count(lit(1)).as("n_candidates"),
          sum(when(col("na") === col("nb") && col("sa") === col("sb"), 1L)
            .otherwise(0L)).as("n_matches"))
        .orderBy("c_nationkey")
    },

    // ----- Sequential-pattern precedence matrix (first-touch order) -----
    // Level-2 sequential pattern mining (the AprioriAll/GSP candidate
    // grid, Agrawal & Srikant ICDE 1995): for every ordered event-type
    // pair (a,b), among users who perform both, how often does a's FIRST
    // occurrence precede b's? The 5×5−5 matrix is the evidence a journey
    // model starts from (signup-before-purchase should dominate;
    // error-first users are the onboarding-failure cohort). One
    // user-keyed aggregate builds per-(user, type) first timestamps;
    // the per-user type self-join is alphabet-bounded (≤ 5×4 rows per
    // user), and the final rollup is alphabet²-cardinality. Strict ns
    // comparison — simultaneous firsts count as non-preceding on both
    // engines.
    "seq_precedence_matrix" -> QueryDef.sql(
      """WITH e AS (SELECT user_id, event_type, epoch_ns(ts) AS ns FROM events),
        |s AS (SELECT user_id, event_type, min(ns) AS mn FROM e GROUP BY 1,2),
        |p AS (SELECT a.event_type AS t_first, b.event_type AS t_then,
        |        CAST(a.mn < b.mn AS INT) AS prec
        |      FROM s a JOIN s b ON a.user_id = b.user_id AND a.event_type <> b.event_type)
        |SELECT t_first, t_then, CAST(count(*) AS BIGINT) AS n_users_both,
        |  CAST(sum(prec) AS BIGINT) AS n_users_precede,
        |  CAST((1000000 * sum(prec)) // count(*) AS BIGINT) AS precede_ppm
        |FROM p GROUP BY 1,2 ORDER BY 1,2""".stripMargin) { (s, d) =>
      val st = events(s, d)
        .select(col("user_id"), col("event_type"), col("ts_ns").as("ns"))
        .groupBy("user_id", "event_type").agg(min("ns").as("mn"))
      val a = st.select(col("user_id"), col("event_type").as("t_first"),
        col("mn").as("mna"))
      val b = st.select(col("user_id"), col("event_type").as("t_then"),
        col("mn").as("mnb"))
      a.join(b, Seq("user_id")).where(col("t_first") =!= col("t_then"))
        .groupBy("t_first", "t_then")
        .agg(count(lit(1)).as("n_users_both"),
          sum(when(col("mna") < col("mnb"), 1L).otherwise(0L))
            .as("n_users_precede"))
        .withColumn("precede_ppm",
          expr("(1000000 * n_users_precede) div n_users_both"))
        .orderBy("t_first", "t_then")
    },

    // ----- O19: distribution ranks (percent_rank + cume_dist) -----
    // The two normalized window ranks the o10 family doesn't cover, in
    // the exact-integer spelling: percent_rank = (rank−1)/(n−1) and
    // cume_dist = |peers ≤ me|/n, both floored to ppm so the doubles
    // the engines' built-ins would emit never enter the hash. The
    // cume numerator uses a RANGE-framed count — the frame extends
    // through revenue ties, which is exactly cume_dist's peer rule.
    // Revenue is the usual exact decimal sum cast to double, so tie
    // structure is identical on both engines. Windows partition by
    // nation — never single-partition.
    "o19_distribution_ranks" -> QueryDef.sql(
      """WITH rev AS (
        |  SELECT s.s_suppkey, s.s_nationkey,
        |    CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |  FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |  GROUP BY 1, 2),
        |w AS (
        |  SELECT s_suppkey, s_nationkey, revenue,
        |    CAST(rank() OVER (PARTITION BY s_nationkey ORDER BY revenue DESC) AS BIGINT) AS rk,
        |    CAST(count(*) OVER (PARTITION BY s_nationkey ORDER BY revenue DESC
        |         RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cg,
        |    CAST(count(*) OVER (PARTITION BY s_nationkey) AS BIGINT) AS n
        |  FROM rev)
        |SELECT s_suppkey, s_nationkey, revenue,
        |  CASE WHEN n = 1 THEN CAST(0 AS BIGINT)
        |       ELSE CAST((1000000 * (rk - 1)) // (n - 1) AS BIGINT) END AS pct_rank_ppm,
        |  CAST((1000000 * cg) // n AS BIGINT) AS cume_ppm
        |FROM w ORDER BY s_suppkey""".stripMargin) { (s, d) =>
      val rev = lineitem(s, d)
        .join(supplier(s, d), col("l_suppkey") === col("s_suppkey"))
        .groupBy("s_suppkey", "s_nationkey")
        .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("revenue"))
      val byNation = Window.partitionBy("s_nationkey")
      val ordered = byNation.orderBy(col("revenue").desc)
      val peers = ordered
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
      rev.withColumn("rk", rank().over(ordered).cast("long"))
        .withColumn("cg", count(lit(1)).over(peers))
        .withColumn("n", count(lit(1)).over(byNation))
        .select(col("s_suppkey"), col("s_nationkey"), col("revenue"),
          when(col("n") === 1, 0L)
            .otherwise(expr("(1000000 * (rk - 1)) div (n - 1)"))
            .as("pct_rank_ppm"),
          expr("(1000000 * cg) div n").as("cume_ppm"))
        .orderBy("s_suppkey")
    },

    // ----- O20: LATERAL top-k per group, decorrelated by Catalyst -----
    // The SQL:1999 correlated spelling of per-group top-k: for each
    // nation, a LATERAL subquery ORDER BY revenue LIMIT 2. Spark's
    // analyzer supports lateral correlated subqueries (SPARK-34382) and
    // DECORRELATES the per-row LIMIT into a set-based plan — the user
    // writes the intuitive row-at-a-time form, Catalyst executes the
    // same shape the o2/o10 window spellings hand-build. The query
    // exists to pin THAT: SQL-surface parity with DuckDB's lateral
    // (near-identical oracle text) and no per-nation re-execution at
    // scale. Revenue is the exact decimal sum cast to double, suppkey
    // tiebreak makes the top-2 deterministic.
    "o20_lateral_topk" -> QueryDef.sql(
      """WITH rev AS (
        |  SELECT s.s_suppkey, s.s_nationkey,
        |    CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |  FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |  GROUP BY 1, 2)
        |SELECT n.n_nationkey, t.s_suppkey, t.revenue
        |FROM nation n, LATERAL (
        |  SELECT s_suppkey, revenue FROM rev
        |  WHERE rev.s_nationkey = n.n_nationkey
        |  ORDER BY revenue DESC, s_suppkey LIMIT 2) t
        |ORDER BY n.n_nationkey, t.revenue DESC, t.s_suppkey""".stripMargin) { (s, d) =>
      lineitem(s, d)
        .join(supplier(s, d), col("l_suppkey") === col("s_suppkey"))
        .groupBy("s_suppkey", "s_nationkey")
        .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("revenue"))
        .createOrReplaceTempView("graft_lateral_rev")
      nation(s, d).createOrReplaceTempView("graft_lateral_nation")
      s.sql(
        """SELECT n.n_nationkey, t.s_suppkey, t.revenue
          |FROM graft_lateral_nation n,
          |LATERAL (
          |  SELECT s_suppkey, revenue FROM graft_lateral_rev rev
          |  WHERE rev.s_nationkey = n.n_nationkey
          |  ORDER BY revenue DESC, s_suppkey LIMIT 2) t
          |ORDER BY n.n_nationkey, t.revenue DESC, t.s_suppkey""".stripMargin)
    },

    // ----- O21: QUALIFY clause — window filter in plain SQL -----
    // The third spelling of per-group top-k, and the SECOND grammar
    // extension on the parser-injection channel (after ASOF JOIN):
    // `QUALIFY rn <= 2` in the DuckDB/Snowflake/BigQuery dialect, which
    // stock Spark 4 does not parse. [[graft.plans.QualifySqlSyntax]]
    // rewrites it lexically into the * EXCEPT subquery wrap (filter
    // AFTER window computation, select-list aliases visible to the
    // predicate via lateral-column-alias resolution), so the SQL below
    // runs VERBATIM on both engines — DuckDB executes its native
    // QUALIFY, Spark executes the rewrite, and the hash gate proves the
    // rewrite implements the clause's semantics exactly. The plan is
    // Filter-over-Window with no extra exchange (QualifySqlSpec pins
    // it); revenue is the exact decimal sum cast to double; the
    // suppkey tiebreak makes top-2 deterministic.
    "o21_qualify_topk" -> QueryDef.sql(
      """WITH rev AS (
        |  SELECT s.s_suppkey, s.s_nationkey,
        |    CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |  FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |  GROUP BY 1, 2)
        |SELECT s_nationkey, s_suppkey, revenue,
        |  CAST(row_number() OVER (PARTITION BY s_nationkey ORDER BY revenue DESC, s_suppkey) AS BIGINT) AS rn
        |FROM rev
        |QUALIFY rn <= 2
        |ORDER BY s_nationkey, rn""".stripMargin) { (s, d) =>
      lineitem(s, d)
        .join(supplier(s, d), col("l_suppkey") === col("s_suppkey"))
        .groupBy("s_suppkey", "s_nationkey")
        .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("revenue"))
        .createOrReplaceTempView("graft_qualify_rev")
      s.sql(
        """SELECT s_nationkey, s_suppkey, revenue,
          |  CAST(row_number() OVER (PARTITION BY s_nationkey ORDER BY revenue DESC, s_suppkey) AS BIGINT) AS rn
          |FROM graft_qualify_rev
          |QUALIFY rn <= 2
          |ORDER BY s_nationkey, rn""".stripMargin)
    },

    // ----- O22: DISTINCT ON — first-row-per-key in plain SQL -----
    // The Postgres/DuckDB spelling of o2_dedup_top1, and the THIRD
    // grammar extension on the parser-injection channel (ASOF JOIN,
    // QUALIFY, DISTINCT ON): latest order per customer written as one
    // clause instead of a hand-built window. [[graft.plans
    // .DistinctOnSqlSyntax]] rewrites it into the rn=1 window wrap —
    // DuckDB executes its NATIVE DISTINCT ON on the identical text, so
    // the hash gate proves the rewrite implements the clause's
    // keep-first-under-ORDER-BY semantics exactly. An ORDER BY is
    // REQUIRED by the extension (the clause is irreproducible without
    // one — that refusal is spec-pinned); the orderkey tiebreak makes
    // the kept row deterministic; Spark's rank-limit pushdown turns
    // the wrap into partial per-key top-1 below the shuffle.
    "o22_distinct_on" -> QueryDef.sql(
      """SELECT DISTINCT ON (o_custkey) o_custkey, o_orderkey, o_orderdate
        |FROM orders
        |ORDER BY o_custkey, o_orderdate DESC, o_orderkey""".stripMargin) { (s, d) =>
      orders(s, d).createOrReplaceTempView("graft_don_orders")
      s.sql(
        """SELECT DISTINCT ON (o_custkey) o_custkey, o_orderkey, o_orderdate
          |FROM graft_don_orders
          |ORDER BY o_custkey, o_orderdate DESC, o_orderkey""".stripMargin)
    },

    // ----- O23: dynamic PIVOT — the DuckDB statement form in plain SQL -----
    // The FOURTH grammar extension on the parser-injection channel, and
    // the one whose output SCHEMA is data-dependent: no value list
    // appears anywhere in the query — [[graft.plans.PivotSqlSyntax]]
    // enumerates the ON column's distinct values at parse time (the
    // same eager bind-time trick DuckDB itself uses) and expands to
    // count(*) FILTER aggregates. DuckDB executes its NATIVE dynamic
    // PIVOT on the identical text, so the hash gate proves the whole
    // contract at once: value enumeration order (sorted, NULLs
    // excluded), column naming (the value text), and empty-cell
    // semantics (count→0). At 100 TB the probe is one distinct-scan of
    // a low-cardinality column — and production SQL can write
    // ON col IN (...) to skip it entirely (spec-pinned static path).
    "o23_pivot_sql" -> QueryDef.sql(
      """PIVOT orders ON o_orderstatus USING count(*)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
      orders(s, d).createOrReplaceTempView("graft_piv_orders")
      s.sql(
        """PIVOT graft_piv_orders ON o_orderstatus USING count(*)
          |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
    },

    // ----- O24: UNPIVOT statement — the melt inverse, nested on O23 -----
    // The FIFTH grammar extension: DuckDB's `UNPIVOT ... ON ... INTO
    // NAME ... VALUE ...` statement rewritten (purely lexically — the
    // melt schema is static) into Spark's own FROM-clause UNPIVOT. The
    // source here is the O23 pivot AS A SUBQUERY, so one statement
    // exercises statement-position detection, nested rewriting, and
    // quoted-identifier translation ("F" → `F`) at once. Both engines
    // drop NULL cells and label rows with the source column name, and
    // DuckDB runs the text verbatim as the oracle. The wide→long→wide
    // identity this pair witnesses is the same contract
    // source_lang_unpivot pins for the DataFrame API.
    "o24_unpivot_sql" -> QueryDef.sql(
      """UNPIVOT (PIVOT orders ON o_orderstatus USING count(*)
        |         GROUP BY o_orderpriority)
        |ON "F", "O", "P" INTO NAME status VALUE n
        |ORDER BY o_orderpriority, status""".stripMargin) { (s, d) =>
      orders(s, d).createOrReplaceTempView("graft_unpiv_orders")
      s.sql(
        """UNPIVOT (PIVOT graft_unpiv_orders ON o_orderstatus USING count(*)
          |         GROUP BY o_orderpriority)
          |ON "F", "O", "P" INTO NAME status VALUE n
          |ORDER BY o_orderpriority, status""".stripMargin)
    },

    // ----- O25: star modifiers — EXCLUDE / REPLACE in plain SQL -----
    // The SIXTH grammar extension: DuckDB's star modifiers. EXCLUDE is
    // a lexical alias for Spark's native * EXCEPT; REPLACE has no Spark
    // spelling at all, so [[graft.plans.StarSqlSyntax]] expands the
    // star group into the explicit select list from the FROM body's
    // analyzed schema (position and name preserved — DuckDB's defined
    // semantics), with binder-parity loud failures for unknown names.
    // DuckDB runs the text verbatim as the oracle; the date cast keeps
    // the replaced column's type engine-identical.
    "o25_star_modifiers" -> QueryDef.sql(
      """SELECT * EXCLUDE (o_custkey, o_totalprice)
        |         REPLACE (upper(o_orderstatus) AS o_orderstatus,
        |                  CAST(o_orderdate AS DATE) AS o_orderdate)
        |FROM orders
        |ORDER BY o_orderkey LIMIT 20""".stripMargin) { (s, d) =>
      orders(s, d).createOrReplaceTempView("graft_star_orders")
      s.sql(
        """SELECT * EXCLUDE (o_custkey, o_totalprice)
          |         REPLACE (upper(o_orderstatus) AS o_orderstatus,
          |                  CAST(o_orderdate AS DATE) AS o_orderdate)
          |FROM graft_star_orders
          |ORDER BY o_orderkey LIMIT 20""".stripMargin)
    },

    // ----- O26: FROM-first syntax -----
    // The SEVENTH grammar extension: DuckDB's FROM-first statement
    // form, rewritten purely lexically (`FROM t SELECT l ...` →
    // `SELECT l FROM t ...`; the bare form gains `SELECT *`). The
    // pipeline-reading order every interactive user reaches for —
    // and the oracle is DuckDB's native FROM-first on identical text.
    "o26_from_first" -> QueryDef.sql(
      """FROM orders SELECT o_orderkey, o_orderpriority, CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
        |WHERE o_totalprice > 100000 ORDER BY o_orderkey LIMIT 25""".stripMargin) { (s, d) =>
      orders(s, d).createOrReplaceTempView("graft_ff_orders")
      s.sql(
        """FROM graft_ff_orders SELECT o_orderkey, o_orderpriority, CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
          |WHERE o_totalprice > 100000 ORDER BY o_orderkey LIMIT 25""".stripMargin)
    },

    // ----- O27: star modifiers under ADVERSARIAL text -----
    // The hostile-text gate for the sixth extension: the SAME statement
    // carries (a) multiplication by the builtin replace() — a '*'
    // followed by the word REPLACE that is NOT a modifier (select-list
    // position disambiguates), (b) a string literal and two comments
    // containing modifier syntax verbatim, and (c) a real EXCLUDE +
    // REPLACE group whose replacement expression itself CALLS replace().
    // DuckDB runs the text verbatim as the oracle, so the hash gate
    // proves the lexical scanner's literal/comment/position rules on
    // text built to break them.
    "o27_star_adversarial" -> QueryDef.sql(
      """SELECT o_orderkey * CAST(replace('2x', 'x', '') AS BIGINT) AS doubled,
        |  'literal * EXCLUDE (o_orderkey) REPLACE (x AS y)' AS trap,
        |  * EXCLUDE (o_custkey, o_totalprice, o_orderdate)
        |    REPLACE (replace(o_orderpriority, '-', '_') AS o_orderpriority)
        |FROM orders /* a comment with * REPLACE (y AS z) inside */
        |WHERE o_orderkey < 100 -- EXCLUDE (o_orderkey) in a comment
        |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      orders(s, d).createOrReplaceTempView("graft_staradv_orders")
      s.sql(
        """SELECT o_orderkey * CAST(replace('2x', 'x', '') AS BIGINT) AS doubled,
          |  'literal * EXCLUDE (o_orderkey) REPLACE (x AS y)' AS trap,
          |  * EXCLUDE (o_custkey, o_totalprice, o_orderdate)
          |    REPLACE (replace(o_orderpriority, '-', '_') AS o_orderpriority)
          |FROM graft_staradv_orders /* a comment with * REPLACE (y AS z) inside */
          |WHERE o_orderkey < 100 -- EXCLUDE (o_orderkey) in a comment
          |ORDER BY o_orderkey""".stripMargin)
    },

    // ----- O29: QUALIFY under ADVERSARIAL text -----
    // The hostile-text gate for the second extension, added after the
    // o28 gate caught the comment-swallow bug in this rewriter class:
    // QUALIFY spelled inside a string literal, inside a block comment
    // on the FROM body, and in LINE comments trailing both the select
    // list and the predicate — the exact positions where injected
    // syntax used to disappear into the comment. DuckDB executes its
    // native QUALIFY on the identical text.
    "o29_qualify_adversarial" -> QueryDef.sql(
      """SELECT o_custkey,
        |  'use QUALIFY rn <= 1 here' AS trap, -- QUALIFY in a trailing comment
        |  o_orderkey,
        |  CAST(row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rn
        |FROM orders /* QUALIFY rn <= 99 in a block comment */
        |QUALIFY rn <= 2 -- the real predicate
        |ORDER BY o_custkey, rn LIMIT 40""".stripMargin) { (s, d) =>
      orders(s, d).createOrReplaceTempView("graft_qadv_orders")
      s.sql(
        """SELECT o_custkey,
          |  'use QUALIFY rn <= 1 here' AS trap, -- QUALIFY in a trailing comment
          |  o_orderkey,
          |  CAST(row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rn
          |FROM graft_qadv_orders /* QUALIFY rn <= 99 in a block comment */
          |QUALIFY rn <= 2 -- the real predicate
          |ORDER BY o_custkey, rn LIMIT 40""".stripMargin)
    },

    // ----- O32: DISTINCT ON with a HIDDEN sort key -----
    // Postgres/DuckDB let the DISTINCT ON pick be driven by a sort key
    // the projection DROPS (`ORDER BY o_custkey, o_totalprice DESC`
    // while projecting only key + orderkey). The r11 rewrite
    // materializes each ORDER BY expression as a stripped helper
    // column, so the outer sort resolves; before that the wrap failed
    // loudly on the unresolved column. DuckDB runs its native
    // DISTINCT ON verbatim. o_orderkey rides as the deterministic
    // tiebreak in BOTH roles (window pick and final order).
    "o32_distinct_on_hidden_sort" -> QueryDef.sql(
      """SELECT DISTINCT ON (o_custkey) o_custkey, o_orderkey
        |FROM orders
        |ORDER BY o_custkey, o_totalprice DESC, o_orderkey
        |LIMIT 50""".stripMargin) { (s, d) =>
      orders(s, d).createOrReplaceTempView("graft_donh_orders")
      s.sql(
        """SELECT DISTINCT ON (o_custkey) o_custkey, o_orderkey
          |FROM graft_donh_orders
          |ORDER BY o_custkey, o_totalprice DESC, o_orderkey
          |LIMIT 50""".stripMargin)
    },

    // ----- O30: PIVOT under ADVERSARIAL comments -----
    // The hostile-text gate for the fourth extension, added for the
    // three r11 fuzz finds (SqlRewriterFuzzSpec): a comma INSIDE a
    // block comment used to split value lists mid-comment (pinned in
    // SqlRewriterFuzzSpec — DuckDB leaks in-list comment text into the
    // pivot column NAME, so that position cannot be oracle-gated),
    // a comment between ON and the pivot column failed the
    // bare-identifier check, and GROUP-BY keys ending in a line
    // comment swallowed the reassembled continuation. Every one of
    // those positions appears here; DuckDB runs its native PIVOT on
    // the identical text.
    "o30_pivot_comment_adversarial" -> QueryDef.sql(
      """PIVOT orders /* PIVOT t ON c USING sum(x) */ ON -- the pivot column
        |  o_orderstatus /* a comma, then IN */ IN ('F', 'O') USING count(*) /* tail */
        |GROUP BY o_orderpriority -- keys end in a line comment
        |ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
      orders(s, d).createOrReplaceTempView("graft_pivadv_orders")
      s.sql(
        """PIVOT graft_pivadv_orders /* PIVOT t ON c USING sum(x) */ ON -- the pivot column
          |  o_orderstatus /* a comma, then IN */ IN ('F', 'O') USING count(*) /* tail */
          |GROUP BY o_orderpriority -- keys end in a line comment
          |ORDER BY o_orderpriority""".stripMargin)
    },

    // ----- O31: ASOF JOIN under ADVERSARIAL comments -----
    // The hostile-text gate for the ASOF extension (r11 fuzz find): a
    // comment between ASOF and JOIN used to defeat the lookahead, so
    // the word ASOF passed through as an IDENTIFIER and Spark silently
    // parsed it as a table alias over a plain inner join — the
    // worst-case silent misread. DuckDB's native ASOF JOIN runs the
    // identical text (comments between keywords are ordinary
    // separation in every real SQL lexer).
    "o31_asof_comment_adversarial" -> QueryDef.sql(
      """WITH p AS (
        |  SELECT event_id AS sg_id, user_id, epoch_us(ts) AS sus
        |  FROM events WHERE event_type = 'signup'),
        |e AS (
        |  SELECT user_id AS r_user, epoch_us(ts) AS eus, max(event_id) AS err_id
        |  FROM events WHERE event_type = 'error' GROUP BY 1, 2)
        |SELECT p.sg_id, e.err_id, 'ASOF JOIN ON trap' AS trap
        |FROM p ASOF /* ASOF JOIN ON */ JOIN -- JOIN again
        |  e ON p.user_id = e.r_user AND p.sus <= e.eus
        |ORDER BY sg_id""".stripMargin) { (s, d) =>
      val ev = events(s, d)
      ev.filter(col("event_type") === "signup")
        .select(col("event_id").as("sg_id"), col("user_id"),
          expr(Tables.epochUsFloorSql).as("sus"))
        .createOrReplaceTempView("graft_asofadv_sg")
      ev.filter(col("event_type") === "error")
        .select(col("user_id"), expr(Tables.epochUsFloorSql).as("eus"),
          col("event_id"))
        .groupBy(col("user_id"), col("eus"))
        .agg(max(col("event_id")).as("err_id"))
        .select(col("user_id").as("r_user"), col("eus"), col("err_id"))
        .createOrReplaceTempView("graft_asofadv_err")
      s.sql(
        """SELECT sg_id, err_id, 'ASOF JOIN ON trap' AS trap
          |FROM graft_asofadv_sg ASOF /* ASOF JOIN ON */ JOIN -- JOIN again
          |  graft_asofadv_err ON user_id = r_user AND sus <= eus
          |ORDER BY sg_id""".stripMargin)
    },

    // ----- O33: WITH + statement-PIVOT + QUALIFY, composed -----
    // The sharpest r12 composition gate (r11 verdict #3): a QUALIFY'd
    // CTE consumed by a statement-form PIVOT whose body sits AFTER the
    // WITH prelude — the position the PIVOT scanner silently missed
    // until the multi-extension fuzz (SqlRewriterFuzzSpec P3) found it
    // (the statement reached Spark's parser verbatim and failed on
    // 'PIVOT'). Hostile comments ride at the prelude boundary and in
    // the value list. DuckDB executes the identical composition
    // natively. count(*) keeps the gate integer-exact.
    "o33_with_pivot_qualify" -> QueryDef.sql(
      """WITH c AS ( SELECT o_orderkey , o_orderpriority , o_totalprice /* PIVOT x ON y */
        |FROM orders QUALIFY row_number() OVER (PARTITION BY o_orderpriority
        |ORDER BY o_totalprice DESC , o_orderkey) <= 20 ) -- QUALIFY trail
        |PIVOT c ON o_orderpriority IN ('1-URGENT', '3-MEDIUM') USING count(*) /* tail */
        |GROUP BY o_orderkey ORDER BY o_orderkey LIMIT 40""".stripMargin) { (s, d) =>
      orders(s, d).createOrReplaceTempView("graft_wpq_orders")
      s.sql(
        """WITH c AS ( SELECT o_orderkey , o_orderpriority , o_totalprice /* PIVOT x ON y */
          |FROM graft_wpq_orders QUALIFY row_number() OVER (PARTITION BY o_orderpriority
          |ORDER BY o_totalprice DESC , o_orderkey) <= 20 ) -- QUALIFY trail
          |PIVOT c ON o_orderpriority IN ('1-URGENT', '3-MEDIUM') USING count(*) /* tail */
          |GROUP BY o_orderkey ORDER BY o_orderkey LIMIT 40""".stripMargin)
    },

    // ----- O34: DISTINCT ON + star EXCLUDE with a HIDDEN sort key -----
    // Composition of the o32 hidden-sort-key semantics with the star
    // modifier: the '*' stands after the `DISTINCT ON (keys)` prefix (a
    // select-list position the star scanner rejected until fuzz P3 —
    // the unrewritten EXCLUDE then reached Spark inside the DISTINCT ON
    // wrap), and the EXCLUDED column o_totalprice is ALSO the pick's
    // sort key, so the helper-column materialization and the star
    // expansion must not fight over it. DuckDB runs its native forms
    // verbatim.
    "o34_distinct_on_exclude" -> QueryDef.sql(
      """SELECT DISTINCT ON (o_orderpriority) * EXCLUDE (o_totalprice, o_custkey) -- EXCLUDE (trap)
        |FROM orders WHERE o_orderstatus <> 'zz'
        |ORDER BY o_orderpriority , o_totalprice DESC , o_orderkey""".stripMargin) { (s, d) =>
      orders(s, d).createOrReplaceTempView("graft_doe_orders")
      s.sql(
        """SELECT DISTINCT ON (o_orderpriority) * EXCLUDE (o_totalprice, o_custkey) -- EXCLUDE (trap)
          |FROM graft_doe_orders WHERE o_orderstatus <> 'zz'
          |ORDER BY o_orderpriority , o_totalprice DESC , o_orderkey""".stripMargin)
    },

    // ----- O35: ASOF JOIN + QUALIFY with table-QUALIFIED sort keys -----
    // In DuckDB a QUALIFY'd SELECT is ONE query block, so its ORDER BY
    // may use table-qualified names from the join; the QUALIFY rewrite
    // wraps the block in a subquery whose alias hides those tables —
    // fuzz P3 found the outer `ORDER BY p.sus` failing to resolve. The
    // rewrite now materializes each QUALIFIED sort expression as a
    // helper column inside the wrap (a qualified ref can never be a
    // select-list alias, so inner resolution is exact); this gate runs
    // the composition against DuckDB's native single-block semantics.
    "o35_asof_qualify_qualified_order" -> QueryDef.sql(
      """WITH p AS (
        |  SELECT event_id AS sg_id, user_id, epoch_us(ts) AS sus
        |  FROM events WHERE event_type = 'signup'),
        |e AS (
        |  SELECT user_id AS r_user, epoch_us(ts) AS eus, max(event_id) AS err_id
        |  FROM events WHERE event_type = 'error' GROUP BY 1, 2)
        |SELECT p.sg_id, e.err_id, e.eus
        |FROM p ASOF JOIN e ON p.user_id = e.r_user AND p.sus <= e.eus
        |QUALIFY row_number() OVER (PARTITION BY e.r_user ORDER BY p.sus DESC , p.sg_id) <= 3
        |ORDER BY e.r_user , p.sus DESC -- qualified tail
        |, p.sg_id""".stripMargin) { (s, d) =>
      val ev = events(s, d)
      ev.filter(col("event_type") === "signup")
        .select(col("event_id").as("sg_id"), col("user_id"),
          expr(Tables.epochUsFloorSql).as("sus"))
        .createOrReplaceTempView("graft_aqq_sg")
      ev.filter(col("event_type") === "error")
        .select(col("user_id"), expr(Tables.epochUsFloorSql).as("eus"),
          col("event_id"))
        .groupBy(col("user_id"), col("eus"))
        .agg(max(col("event_id")).as("err_id"))
        .select(col("user_id").as("r_user"), col("eus"), col("err_id"))
        .createOrReplaceTempView("graft_aqq_err")
      s.sql(
        """SELECT p.sg_id, e.err_id, e.eus
          |FROM graft_aqq_sg p ASOF JOIN graft_aqq_err e ON p.user_id = e.r_user AND p.sus <= e.eus
          |QUALIFY row_number() OVER (PARTITION BY e.r_user ORDER BY p.sus DESC , p.sg_id) <= 3
          |ORDER BY e.r_user , p.sus DESC -- qualified tail
          |, p.sg_id""".stripMargin)
    },

    // ----- O36: WITH prelude + star REPLACE over the prelude's CTE -----
    // Fuzz P4 find (r13): the REPLACE expansion takes the FROM body's
    // schema from a bind-time probe, and `WITH c AS (...) SELECT *
    // REPLACE (...) FROM c` probed a bare `SELECT * FROM c` — no `c`
    // exists in the session, so the WHOLE composition failed to
    // analyze. The probe now carries every complete CTE definition that
    // closes before the star group (which also admits a star inside a
    // LATER CTE referencing an earlier one). DuckDB runs its native
    // WITH + REPLACE verbatim; the decoy comments ride on the r10-12
    // adversarial-text precedent.
    "o36_with_star_replace" -> QueryDef.sql(
      """WITH c AS ( SELECT o_orderkey , o_orderpriority , o_totalprice -- REPLACE (trap)
        |FROM orders WHERE o_orderkey % 3 = 0 )
        |SELECT * REPLACE (o_totalprice * 2 AS o_totalprice) /* EXCLUDE (x) */ FROM c
        |WHERE o_orderpriority <> 'zz'
        |ORDER BY o_orderkey LIMIT 50""".stripMargin) { (s, d) =>
      orders(s, d).createOrReplaceTempView("graft_wsr_orders")
      s.sql(
        """WITH c AS ( SELECT o_orderkey , o_orderpriority , o_totalprice -- REPLACE (trap)
          |FROM graft_wsr_orders WHERE o_orderkey % 3 = 0 )
          |SELECT * REPLACE (o_totalprice * 2 AS o_totalprice) /* EXCLUDE (x) */ FROM c
          |WHERE o_orderpriority <> 'zz'
          |ORDER BY o_orderkey LIMIT 50""".stripMargin)
    },

    // ----- O37: DISTINCT ON + ORDER BY ALL (r13 fuzz P5 find) -----
    // DuckDB's ORDER BY ALL sorts by every select-list output column
    // with the modifier distributed; inside a DISTINCT ON the rewriter
    // must expand ALL itself (the injected OVER() is beyond Spark's
    // native ALL) by each item's VALUE expression with aliases
    // stripped. Pre-fix the rewrite emitted `(ALL) AS helper` —
    // unresolved-column garbage. Decoy comments ride the adversarial-
    // text precedent; aliased + computed items exercise the strip.
    "o37_distinct_on_order_all" -> QueryDef.sql(
      """SELECT DISTINCT ON (o_orderpriority) o_orderpriority , o_totalprice * 2 AS dbl , o_orderkey AS k -- ORDER BY ALL (trap)
        |FROM orders WHERE o_orderkey % 5 = 0
        |ORDER BY ALL DESC /* GROUP BY ALL */ LIMIT 20""".stripMargin) { (s, d) =>
      orders(s, d).createOrReplaceTempView("graft_doall_orders")
      s.sql(
        """SELECT DISTINCT ON (o_orderpriority) o_orderpriority , o_totalprice * 2 AS dbl , o_orderkey AS k -- ORDER BY ALL (trap)
          |FROM graft_doall_orders WHERE o_orderkey % 5 = 0
          |ORDER BY ALL DESC /* GROUP BY ALL */ LIMIT 20""".stripMargin)
    },

    // ----- O38: star EXCLUDE + GROUP BY ALL + ORDER BY ALL -----
    // Both ALL forms are native on BOTH engines; the gate pins that the
    // lexical star expansion composes with them (the expanded select
    // list is what GROUP BY ALL groups on) and that no rewriter eats
    // the bare ALL word. Identical text runs verbatim in DuckDB.
    "o38_group_order_all_exclude" -> QueryDef.sql(
      """SELECT * EXCLUDE (o_orderkey) , CAST(count(*) AS BIGINT) AS n -- GROUP BY ALL trap
        |FROM (SELECT o_orderpriority , o_orderkey % 7 AS o_orderkey FROM orders) t
        |GROUP BY ALL ORDER BY ALL LIMIT 30""".stripMargin) { (s, d) =>
      orders(s, d).createOrReplaceTempView("graft_gball_orders")
      s.sql(
        """SELECT * EXCLUDE (o_orderkey) , CAST(count(*) AS BIGINT) AS n -- GROUP BY ALL trap
          |FROM (SELECT o_orderpriority , o_orderkey % 7 AS o_orderkey FROM graft_gball_orders) t
          |GROUP BY ALL ORDER BY ALL LIMIT 30""".stripMargin)
    },

    // ----- O39: DISTINCT ON with ORDINAL key/sort over WITH RECURSIVE -----
    // Fuzz P6's sharpest find, pinned: `DISTINCT ON (1)` used to emit
    // `PARTITION BY 1` — a CONSTANT window key, one global row instead
    // of one per o_orderpriority, SILENTLY — and an ordinal sort item
    // inside the injected OVER() was a constant too. Both now expand to
    // the select item's VALUE expression (DuckDB semantics). The
    // RECURSIVE prelude additionally pins the prelude walker's
    // RECURSIVE skip and the probes' verbatim prefix replay. Identical
    // text runs verbatim in DuckDB.
    "o39_distinct_on_ordinal" -> QueryDef.sql(
      """WITH RECURSIVE seq AS (SELECT 1 AS m UNION ALL SELECT m + 1 FROM seq WHERE m < 3)
        |SELECT DISTINCT ON (1) o_orderpriority , o_orderkey , o_totalprice * m AS tp -- GROUP BY 1 (trap)
        |FROM orders , seq WHERE o_orderkey % 7 = 0
        |ORDER BY 1 , 3 DESC , 2""".stripMargin) { (s, d) =>
      orders(s, d).createOrReplaceTempView("graft_ord39_orders")
      s.sql(
        """WITH RECURSIVE seq AS (SELECT 1 AS m UNION ALL SELECT m + 1 FROM seq WHERE m < 3)
          |SELECT DISTINCT ON (1) o_orderpriority , o_orderkey , o_totalprice * m AS tp -- GROUP BY 1 (trap)
          |FROM graft_ord39_orders , seq WHERE o_orderkey % 7 = 0
          |ORDER BY 1 , 3 DESC , 2""".stripMargin)
    },

    // ----- O40: extensions inside SET-OPERATION arms (fuzz P7) -----
    // The sharpest executable P7 shape: a PARENTHESIZED first arm whose
    // DISTINCT ON owns its own ORDER BY (an unparenthesized arm is
    // refused — its trailing ORDER BY would belong to the compound and
    // the per-key pick would be arbitrary), UNION ALL, a last arm whose
    // QUALIFY predicate span must stop at nothing (the compound ORDER
    // BY stays OUTSIDE its wrap), a comment and a string literal both
    // spelling 'UNION ALL SELECT', and ordinal compound sort keys.
    // DuckDB runs the identical text natively; before the P7 fix a
    // first-arm DISTINCT ON swallowed the whole compound into its
    // subquery and a last-arm one consumed the compound ORDER BY.
    "o40_setop_arm_extensions" -> QueryDef.sql(
      """( SELECT DISTINCT ON (o_orderpriority) o_orderpriority , o_orderkey , o_totalprice
        |FROM orders WHERE o_orderkey % 7 = 0 -- UNION ALL SELECT (trap)
        |ORDER BY o_orderpriority , o_totalprice DESC , o_orderkey )
        |UNION ALL
        |SELECT 'Z-' || o_orderpriority , o_orderkey , o_totalprice
        |FROM orders WHERE o_orderpriority <> ' UNION ALL SELECT '
        |QUALIFY row_number() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC , o_orderkey) <= 2
        |ORDER BY 1 , 3 DESC , 2""".stripMargin) { (s, d) =>
      orders(s, d).createOrReplaceTempView("graft_o40_orders")
      s.sql(
        """( SELECT DISTINCT ON (o_orderpriority) o_orderpriority , o_orderkey , o_totalprice
          |FROM graft_o40_orders WHERE o_orderkey % 7 = 0 -- UNION ALL SELECT (trap)
          |ORDER BY o_orderpriority , o_totalprice DESC , o_orderkey )
          |UNION ALL
          |SELECT 'Z-' || o_orderpriority , o_orderkey , o_totalprice
          |FROM graft_o40_orders WHERE o_orderpriority <> ' UNION ALL SELECT '
          |QUALIFY row_number() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC , o_orderkey) <= 2
          |ORDER BY 1 , 3 DESC , 2""".stripMargin)
    },

    // ----- O28: FROM-first under ADVERSARIAL text -----
    // The hostile-text gate for the seventh extension: FROM-first
    // NESTED inside a parenthesized FROM-first (both legal positions
    // exercised at once), a string literal spelling 'FROM x SELECT y'
    // in the outer select list, and a comment carrying both keywords
    // between the list and its ORDER BY. DuckDB runs the identical
    // text natively; a scanner that misread the literal or consumed
    // the comment would reorder the wrong clause and hash-diverge.
    "o28_from_first_adversarial" -> QueryDef.sql(
      """FROM (FROM orders SELECT o_orderkey, o_totalprice WHERE o_totalprice > 50000)
        |SELECT o_orderkey,
        |  'FROM x SELECT y' AS trap,
        |  CAST(floor(o_totalprice) AS BIGINT) AS whole
        |-- FROM in a comment SELECT too
        |ORDER BY o_orderkey LIMIT 20""".stripMargin) { (s, d) =>
      orders(s, d).createOrReplaceTempView("graft_ffadv_orders")
      s.sql(
        """FROM (FROM graft_ffadv_orders SELECT o_orderkey, o_totalprice WHERE o_totalprice > 50000)
          |SELECT o_orderkey,
          |  'FROM x SELECT y' AS trap,
          |  CAST(floor(o_totalprice) AS BIGINT) AS whole
          |-- FROM in a comment SELECT too
          |ORDER BY o_orderkey LIMIT 20""".stripMargin)
    },

    // ----- exact k-th smallest WITHOUT a global sort (two-pass select) -----
    // The selection algorithm a 100 TB engine actually uses for exact
    // percentiles (Munro–Paterson / distributed quickselect family):
    // pass 1 folds a 256-bin equi-width histogram (one map-side-partial
    // aggregate — no shuffle of values, only of 256 bins), the target
    // rank's bin is located by a cumulative count over the BOUNDED bin
    // table, and pass 2 ranks only the ~N/256 values INSIDE that bin
    // (row_number over the in-bin slice). A global sort shuffles the
    // entire corpus; this shuffles 256 rows plus one bin's residents —
    // and at larger N the same step recurses (each level divides the
    // candidate set by 256; one level suffices here). The ORACLE is the
    // direct order-by-rank selection, so the hash gate proves the
    // two-pass algorithm exact for the median, p90 and p99 ranks —
    // cent-integer values end to end, rank k = (q·(N−1))//100 + 1.
    "ops_exact_kth_twopass" -> QueryDef.sql(
      """WITH p AS (SELECT CAST(floor(l_extendedprice * 100) AS BIGINT) AS v FROM lineitem),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM p),
        |ks AS (SELECT CAST(q AS BIGINT) AS q, ((q * (n.n - 1)) // 100) + 1 AS k
        |       FROM (SELECT unnest([50, 90, 99]) AS q) qs CROSS JOIN n),
        |o AS (SELECT v, row_number() OVER (ORDER BY v) AS rk FROM p)
        |SELECT ks.q, CAST(ks.k AS BIGINT) AS k, o.v AS kth_value
        |FROM ks JOIN o ON o.rk = ks.k ORDER BY ks.q""".stripMargin) { (s, d) =>
      import s.implicits._
      val p = lineitem(s, d)
        .select(expr("CAST(floor(l_extendedprice * 100) AS BIGINT)").as("v"))
      val mm = p.agg(min("v").as("lo"), max("v").as("hi"),
        count(lit(1)).as("n"))
      val ks = Seq(50L, 90L, 99L).toDF("q").crossJoin(broadcast(mm))
        .select(col("q"), expr("(q * (n - 1)) div 100 + 1").as("k"),
          col("lo"), expr("(hi - lo) div 256 + 1").as("w"))
      // pass 1: the 256-bin histogram (bins shuffle, values never do)
      val hist = p.crossJoin(broadcast(mm))
        .select(expr("(v - lo) div ((hi - lo) div 256 + 1)").as("bin"))
        .groupBy("bin").agg(count(lit(1)).as("c"))
        .withColumn("cum", sum("c").over(org.apache.spark.sql.expressions
          .Window.orderBy("bin").rowsBetween(Long.MinValue, 0)))
      // locate each rank's bin over the bounded (≤256-row) table
      val pick = ks.join(broadcast(hist),
          col("cum") >= col("k") && (col("cum") - col("c")) < col("k"))
        .select(col("q"), col("k"), col("bin").as("kbin"),
          (col("k") - (col("cum") - col("c"))).as("off"), col("lo"), col("w"))
      // pass 2: rank only inside the located bin
      p.join(broadcast(pick), expr("(v - lo) div w") === col("kbin"))
        .withColumn("rn", row_number().over(org.apache.spark.sql.expressions
          .Window.partitionBy("q").orderBy("v")))
        .filter(col("rn") === col("off"))
        .select(col("q"), col("k"), col("v").as("kth_value"))
        .orderBy("q")
    },

    // ----- A21: time-decay attribution (dyadic half-life), exact -----
    // Completes the attribution family (last-touch, positional/U-shaped,
    // Shapley, Markov removal): each touch in a purchase's journey gets
    // weight 2^(−⌊Δdays/7⌋) — a 7-day half-life chosen DYADIC so the
    // weight is an exact integer division (1000000 >> k), never a
    // transcendental. Per journey the weights normalize to ppm shares
    // by floored division with the remainder assigned to the
    // highest-weight (most recent) touch, so credits sum to EXACTLY 1e6
    // per purchase — the same conservation law a12 pins. Journey
    // structure and value mass follow a12's jid convention; '(direct)'
    // absorbs touchless purchases. One user-keyed window family, no
    // corpus-scale join.
    "a21_time_decay_attribution" -> QueryDef.sql(
      """WITH t AS (
        |  SELECT user_id, event_id, event_type, value, epoch_ns(ts) AS ns FROM events),
        |j AS (
        |  SELECT user_id, event_id, event_type, value, ns,
        |    coalesce(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ns, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS jid
        |  FROM t),
        |pur AS (
        |  SELECT user_id, jid, ns AS pns,
        |    CAST(floor(value * 1000000) AS BIGINT) AS vus
        |  FROM j WHERE event_type = 'purchase'),
        |w AS (
        |  SELECT t.user_id, t.jid, t.event_type AS touch, t.event_id, t.ns, p.vus,
        |    1000000 // (1 << least((p.pns - t.ns) // 86400000000000 // 7, 19)) AS w
        |  FROM j t JOIN pur p ON p.user_id = t.user_id AND p.jid = t.jid
        |  WHERE t.event_type <> 'purchase'),
        |sh AS (
        |  SELECT touch, vus, user_id, jid,
        |    (1000000 * w) // sum(w) OVER (PARTITION BY user_id, jid) AS share,
        |    row_number() OVER (PARTITION BY user_id, jid
        |      ORDER BY w DESC, ns DESC, event_id DESC) AS rn
        |  FROM w),
        |cred AS (
        |  SELECT touch, vus,
        |    share + CASE WHEN rn = 1 THEN
        |      1000000 - sum(share) OVER (PARTITION BY user_id, jid)
        |    ELSE 0 END AS credit_ppm
        |  FROM sh),
        |direct AS (
        |  SELECT '(direct)' AS touch, p.vus, 1000000 AS credit_ppm
        |  FROM pur p ANTI JOIN w ON w.user_id = p.user_id AND w.jid = p.jid),
        |allc AS (SELECT * FROM cred UNION ALL SELECT * FROM direct)
        |SELECT touch, CAST(count(*) AS BIGINT) AS n_credits,
        |  CAST(sum(credit_ppm) AS BIGINT) AS credit_ppm_total,
        |  CAST(sum(CAST(vus AS HUGEINT) * credit_ppm) // 1000000 AS BIGINT)
        |    AS attributed_value_us
        |FROM allc GROUP BY touch ORDER BY touch""".stripMargin) { (s, d) =>
      val w0 = Window.partitionBy(col("user_id"))
        .orderBy(col("ns"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val j = events(s, d)
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("value"), col("ts_ns").as("ns"))
        .withColumn("jid", coalesce(sum(
          when(col("event_type") === "purchase", 1L).otherwise(0L)).over(w0), lit(0L)))
      val pur = j.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("jid"), col("ns").as("pns"),
          floor(col("value") * lit(1000000)).cast("long").as("vus"))
      val w = j.filter(col("event_type") =!= "purchase")
        .join(pur, Seq("user_id", "jid"))
        .select(col("user_id"), col("jid"), col("event_type").as("touch"),
          col("event_id"), col("ns"), col("vus"),
          expr("1000000 div shiftleft(1, least((pns - ns) div 86400000000000 div 7, 19))")
            .as("w"))
      val jw = Window.partitionBy("user_id", "jid")
      val shares = w
        .withColumn("sw", sum("w").over(jw))
        .withColumn("share", expr("(1000000 * w) div sw"))
        .withColumn("rn", row_number().over(jw
          .orderBy(col("w").desc, col("ns").desc, col("event_id").desc)))
      val cred = shares
        .withColumn("ssum", sum("share").over(Window.partitionBy("user_id", "jid")))
        .select(col("touch"), col("vus"),
          (col("share") + when(col("rn") === 1,
            lit(1000000L) - col("ssum")).otherwise(lit(0L))).as("credit_ppm"))
      val direct = pur.join(w.select("user_id", "jid").distinct(),
          Seq("user_id", "jid"), "left_anti")
        .select(lit("(direct)").as("touch"), col("vus"),
          lit(1000000L).as("credit_ppm"))
      cred.unionByName(direct)
        .groupBy("touch")
        .agg(count(lit(1)).as("n_credits"),
          sum("credit_ppm").cast("long").as("credit_ppm_total"),
          expr("CAST(sum(CAST(vus AS DECIMAL(38,0)) * credit_ppm) div 1000000 AS BIGINT)")
            .as("attributed_value_us"))
        .orderBy("touch")
    },

    // ----- Lorenz curve: the picture behind the Gini coefficient -----
    // a16_value_gini emits the scalar; this emits the curve it
    // integrates — per customer-revenue decile (exact cross-multiplied
    // cuts, the eval_gains_deciles convention), the cumulative revenue
    // share in ppm and its gap to the equality diagonal. Ranking is
    // [[graft.util.Scale.globalRowNumber]]'s two-pass prefix (never a
    // single-partition window over the customer table), zero-order
    // customers enter at revenue 0 (the left join — dropping them
    // understates concentration), and cents stay BIGINT throughout.
    // The emitted shape at sf0.01: bottom decile ~4.2% of revenue, top
    // decile ~17%, peak equality gap ~15% at the median — TPC-H's
    // mild-but-real customer skew, now as the curve a16 integrates.
    "value_lorenz_points" -> QueryDef.sql(
      """WITH rev AS (
        |  SELECT c.c_custkey,
        |    CAST(coalesce(sum(CAST(floor(o.o_totalprice * 100) AS BIGINT)), 0)
        |      AS BIGINT) AS cents
        |  FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
        |  GROUP BY 1),
        |r AS (SELECT cents,
        |        row_number() OVER (ORDER BY cents, c_custkey) AS rk,
        |        count(*) OVER () AS n
        |      FROM rev),
        |dec AS (
        |  SELECT ((rk - 1) * 10) // n + 1 AS decile,
        |    CAST(count(*) AS BIGINT) AS n_cust,
        |    CAST(sum(cents) AS BIGINT) AS cents
        |  FROM r GROUP BY 1),
        |tot AS (SELECT CAST(sum(cents) AS BIGINT) AS t FROM dec),
        |cum AS (
        |  SELECT decile, n_cust, cents,
        |    CAST(sum(cents) OVER (ORDER BY decile) AS BIGINT) AS cum_cents
        |  FROM dec)
        |SELECT CAST(cum.decile AS BIGINT) AS decile, cum.n_cust, cum.cents,
        |  CAST((1000000 * cum.cum_cents) // tot.t AS BIGINT) AS cum_share_ppm,
        |  CAST(100000 * cum.decile
        |    - (1000000 * cum.cum_cents) // tot.t AS BIGINT) AS equality_gap_ppm
        |FROM cum CROSS JOIN tot ORDER BY decile""".stripMargin) { (s, d) =>
      val rev = customer(s, d)
        .join(orders(s, d), col("o_custkey") === col("c_custkey"), "left")
        .groupBy("c_custkey")
        .agg(coalesce(sum(expr("CAST(floor(o_totalprice * 100) AS BIGINT)")),
          lit(0L)).as("cents"))
      val (ranked, n) = graft.util.Scale.globalRowNumber(
        rev, Seq(col("cents"), col("c_custkey")), "rk")
      val dec = ranked
        .select(expr(s"((rk - 1) * 10) div ${n}L + 1").as("decile"), col("cents"))
        .groupBy("decile")
        .agg(count(lit(1)).as("n_cust"), sum("cents").cast("long").as("cents"))
        .localCheckpoint() // 10 rows; feeds the total AND the curve
      val tot = dec.agg(sum("cents").cast("long").as("t"))
      dec.withColumn("cum_cents", sum("cents").over(
          org.apache.spark.sql.expressions.Window.orderBy("decile")).cast("long"))
        .crossJoin(broadcast(tot))
        .select(col("decile").cast("long").as("decile"), col("n_cust"), col("cents"),
          expr("CAST((1000000 * cum_cents) div t AS BIGINT)").as("cum_share_ppm"),
          expr("CAST(100000 * decile - (1000000 * cum_cents) div t AS BIGINT)")
            .as("equality_gap_ppm"))
        .orderBy("decile")
    },

    // ----- Fagin's Threshold Algorithm: certified top-k from two lists -----
    // The middleware classic (Fagin–Lotem–Naor 2001): rank documents by
    // a MONOTONE combination of two attributes (length + distinct
    // vocabulary) reading only the HEADS of the two per-attribute
    // indexes. Sorted access takes the top m=64 of each list (per-
    // partition TakeOrdered heaps — never a global sort), the candidate
    // union gets random-accessed for full scores (a broadcast semi-
    // join), and τ = a_m + b_m bounds every unseen document: when the
    // k-th candidate ≥ τ, the top-k is CERTIFIED exact. The oracle
    // ranks by FULL SCAN and recomputes τ — hash equality proves the
    // head-read algorithm found the true top-k, and the certified flag
    // (1 here, and at any SF where the two attributes correlate) is
    // the exactness certificate a 100 TB serving layer checks before
    // trusting m. All BIGINT.
    "ops_topk_threshold_ta" -> QueryDef.sql(
      """WITH base AS (
        |  SELECT doc_id, CAST(len(tk) AS BIGINT) AS dl,
        |    CAST(len(list_distinct(tk)) AS BIGINT) AS dv
        |  FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS tk
        |        FROM documents)),
        |am AS (SELECT min(dl) AS a_m FROM
        |        (SELECT dl FROM base ORDER BY dl DESC, doc_id LIMIT 64)),
        |bm AS (SELECT min(dv) AS b_m FROM
        |        (SELECT dv FROM base ORDER BY dv DESC, doc_id LIMIT 64)),
        |direct AS (SELECT doc_id, dl + dv AS s,
        |             row_number() OVER (ORDER BY dl + dv DESC, doc_id) AS rk
        |           FROM base),
        |topk AS (SELECT rk, doc_id, s FROM direct WHERE rk <= 10),
        |kth AS (SELECT min(s) AS kth FROM topk)
        |SELECT CAST(t.rk AS BIGINT) AS rank, t.doc_id, t.s,
        |  CAST(am.a_m + bm.b_m AS BIGINT) AS tau, kth.kth AS kth_score,
        |  CAST(kth.kth >= am.a_m + bm.b_m AS BIGINT) AS certified
        |FROM topk t CROSS JOIN am CROSS JOIN bm CROSS JOIN kth
        |ORDER BY rank""".stripMargin) { (s, d) =>
      val base = TextQueries.spread(documents(s, d))
        .select(col("doc_id"), graft.functions.WsTokens.ws_tokens(col("text")).as("tk"))
        .select(col("doc_id"), size(col("tk")).cast("long").as("dl"),
          size(array_distinct(col("tk"))).cast("long").as("dv"))
        .localCheckpoint() // two index heads + the random-access join
      val headA = base.orderBy(col("dl").desc, col("doc_id")).limit(64)
      val headB = base.orderBy(col("dv").desc, col("doc_id")).limit(64)
      val am = headA.agg(min("dl").as("a_m"))
      val bm = headB.agg(min("dv").as("b_m"))
      val cands = headA.select("doc_id").unionByName(headB.select("doc_id"))
        .distinct()
        .join(base, Seq("doc_id")) // random access, candidate-bounded
        .select(col("doc_id"), (col("dl") + col("dv")).as("s"))
      val topk = cands
        .withColumn("rank", row_number().over(org.apache.spark.sql.expressions
          .Window.orderBy(col("s").desc, col("doc_id"))))
        .filter(col("rank") <= 10)
        .localCheckpoint() // bounded k rows; feeds kth AND the output
      val kth = topk.agg(min("s").as("kth"))
      topk.crossJoin(broadcast(am)).crossJoin(broadcast(bm))
        .crossJoin(broadcast(kth))
        .select(col("rank").cast("long").as("rank"), col("doc_id"), col("s"),
          (col("a_m") + col("b_m")).as("tau"), col("kth").as("kth_score"),
          (col("kth") >= col("a_m") + col("b_m")).cast("long").as("certified"))
        .orderBy("rank")
    },

    // ----- Fairness audit: demographic parity + equalized odds -----
    // The eval family's governance face: the returns classifier
    // (ŷ = line count ≥ 4) audited across customer nations — per
    // group the selection rate (demographic parity), TPR and FPR
    // (equalized odds), all exact ppm with 0/0 as NULL, plus the
    // max−min gaps over the bounded group alphabet riding on every row
    // (a global window over nation-cardinality rows — safe by
    // construction). The measured 33%/30% gaps at sf0.001 are
    // small-sample noise, which is precisely what a fairness audit has
    // to surface before anyone reads policy into it — pair with
    // rating_wilson_rank's lower bounds for the honest version.
    "eval_fairness_parity" -> QueryDef.sql(
      """WITH lab AS (
        |  SELECT o.o_orderkey, o.o_custkey,
        |    CAST(max(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS pos,
        |    CAST(CASE WHEN count(*) >= 4 THEN 1 ELSE 0 END AS BIGINT) AS yhat
        |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |  GROUP BY 1, 2),
        |g AS (
        |  SELECT n.n_name AS nation,
        |    CAST(count(*) AS BIGINT) AS n_orders,
        |    CAST(sum(yhat) AS BIGINT) AS n_pred,
        |    CAST(sum(pos) AS BIGINT) AS n_pos,
        |    CAST(sum(yhat * pos) AS BIGINT) AS n_tp,
        |    CAST(sum(yhat * (1 - pos)) AS BIGINT) AS n_fp
        |  FROM lab
        |  JOIN customer c ON c.c_custkey = lab.o_custkey
        |  JOIN nation n ON n.n_nationkey = c.c_nationkey
        |  GROUP BY 1),
        |r AS (
        |  SELECT nation, n_orders,
        |    (1000000 * n_pred) // n_orders AS pred_rate_ppm,
        |    CASE WHEN n_pos > 0 THEN (1000000 * n_tp) // n_pos END AS tpr_ppm,
        |    CASE WHEN n_orders - n_pos > 0
        |         THEN (1000000 * n_fp) // (n_orders - n_pos) END AS fpr_ppm
        |  FROM g)
        |SELECT nation, n_orders, CAST(pred_rate_ppm AS BIGINT) AS pred_rate_ppm,
        |  CAST(tpr_ppm AS BIGINT) AS tpr_ppm, CAST(fpr_ppm AS BIGINT) AS fpr_ppm,
        |  CAST(max(pred_rate_ppm) OVER () - min(pred_rate_ppm) OVER ()
        |    AS BIGINT) AS parity_gap_ppm,
        |  CAST(max(tpr_ppm) OVER () - min(tpr_ppm) OVER () AS BIGINT)
        |    AS tpr_gap_ppm
        |FROM r ORDER BY nation""".stripMargin) { (s, d) =>
      val lab = orders(s, d)
        .join(lineitem(s, d), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderkey", "o_custkey")
        .agg(
          max(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("pos"),
          when(count(lit(1)) >= 4, 1L).otherwise(0L).as("yhat"))
      val g = lab
        .join(broadcast(customer(s, d)), col("c_custkey") === col("o_custkey"))
        .join(broadcast(nation(s, d)), col("n_nationkey") === col("c_nationkey"))
        .groupBy(col("n_name").as("nation"))
        .agg(count(lit(1)).as("n_orders"), sum("yhat").as("n_pred"),
          sum("pos").as("n_pos"),
          sum(col("yhat") * col("pos")).as("n_tp"),
          sum(col("yhat") * (lit(1L) - col("pos"))).as("n_fp"))
      val r = g.select(col("nation"), col("n_orders"),
        expr("(1000000 * n_pred) div n_orders").as("pred_rate_ppm"),
        when(col("n_pos") > 0, expr("(1000000 * n_tp) div n_pos"))
          .as("tpr_ppm"),
        when(col("n_orders") - col("n_pos") > 0,
          expr("(1000000 * n_fp) div (n_orders - n_pos)")).as("fpr_ppm"))
      val w = Window.partitionBy(lit(1)) // nation-cardinality rows
      r.select(col("nation"), col("n_orders"), col("pred_rate_ppm"),
          col("tpr_ppm"), col("fpr_ppm"),
          (max("pred_rate_ppm").over(w) - min("pred_rate_ppm").over(w))
            .as("parity_gap_ppm"),
          (max("tpr_ppm").over(w) - min("tpr_ppm").over(w)).as("tpr_gap_ppm"))
        .orderBy("nation")
    },

    // ----- Ship-latency percentiles per order priority -----
    // Operational SLA readout via the exact-histogram trick: latency in
    // whole days is an ALPHABET-bounded value (a few thousand distinct),
    // so per-priority p50/p90 come from the cumulative of a (priority,
    // days) histogram — exact percentiles with no global sort, no
    // sampling, no t-digest. 100·cum ≥ p·tot is the cross-multiplied
    // rank comparison; the per-priority cumulative window runs on
    // histogram rows, never lineitems.
    "ops_ship_latency_pct" -> QueryDef.sql(
      """WITH l AS (
        |  SELECT o.o_orderpriority AS priority,
        |    CAST(epoch_us(l.l_shipdate) // 86400000000
        |       - epoch_us(o.o_orderdate) // 86400000000 AS BIGINT) AS lat
        |  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey),
        |h AS (SELECT priority, lat, CAST(count(*) AS BIGINT) AS n
        |  FROM l GROUP BY 1, 2),
        |c AS (
        |  SELECT priority, lat, n,
        |    CAST(sum(n) OVER (PARTITION BY priority ORDER BY lat) AS BIGINT)
        |      AS cum,
        |    CAST(sum(n) OVER (PARTITION BY priority) AS BIGINT) AS tot
        |  FROM h),
        |p AS (
        |  SELECT priority, tot,
        |    min(CASE WHEN 100 * cum >= 50 * tot THEN lat END) AS p50_days,
        |    min(CASE WHEN 100 * cum >= 90 * tot THEN lat END) AS p90_days,
        |    max(lat) AS max_days
        |  FROM c GROUP BY 1, 2)
        |SELECT priority, tot AS n_lines, p50_days, p90_days, max_days
        |FROM p ORDER BY priority""".stripMargin) { (s, d) =>
      val l = lineitem(s, d)
        .join(orders(s, d), col("o_orderkey") === col("l_orderkey"))
        .select(col("o_orderpriority").as("priority"),
          (expr("unix_micros(CAST(l_shipdate AS TIMESTAMP)) div 86400000000") -
            expr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000"))
            .as("lat"))
      val h = l.groupBy("priority", "lat").agg(count(lit(1)).as("n"))
      val w = Window.partitionBy("priority")
      val c = h.select(col("priority"), col("lat"), col("n"),
        sum("n").over(w.orderBy("lat")).as("cum"),
        sum("n").over(w).as("tot"))
      c.groupBy("priority", "tot")
        .agg(
          min(when(lit(100L) * col("cum") >= lit(50L) * col("tot"), col("lat")))
            .as("p50_days"),
          min(when(lit(100L) * col("cum") >= lit(90L) * col("tot"), col("lat")))
            .as("p90_days"),
          max("lat").as("max_days"))
        .select(col("priority"), col("tot").as("n_lines"), col("p50_days"),
          col("p90_days"), col("max_days"))
        .orderBy("priority")
    },

    // ----- Wilson lower-bound ranking of per-nation return rates -----
    // "How not to sort by average rating" (Wilson 1927; Miller 2009):
    // rank each supplier nation by the 95% Wilson LOWER bound of its
    // return-rate proportion, not the raw rate — small samples get
    // pulled toward zero, so a lucky low-n nation can't outrank a
    // well-measured one (naive_rank vs wilson_rank shows the actual
    // reorderings). Determinism without a closed integer form: the
    // bound needs ONE sqrt, and IEEE sqrt/·//+ are correctly rounded,
    // so the identical literal expression tree evaluates bit-equal in
    // both engines (the kmeans mu_x1e6 precedent) — floored once to
    // ppm. Counts fold in one hash agg behind two broadcast dims.
    "rating_wilson_rank" -> QueryDef.sql(
      """WITH agg AS (
        |  SELECT n.n_name AS nation, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS x
        |  FROM lineitem l
        |  JOIN supplier s ON s.s_suppkey = l.l_suppkey
        |  JOIN nation n ON n.n_nationkey = s.s_nationkey
        |  GROUP BY 1),
        |w AS (
        |  SELECT nation, n, x,
        |    CAST((1000000 * x) // n AS BIGINT) AS rate_ppm,
        |    CAST(floor(1000000.0 * ((CAST(x AS DOUBLE) + 1.9208)
        |      - 1.96 * sqrt((CAST(x AS DOUBLE) * CAST(n - x AS DOUBLE))
        |          / CAST(n AS DOUBLE) + 0.9604))
        |      / (CAST(n AS DOUBLE) + 3.8416)) AS BIGINT) AS wilson_lower_ppm
        |  FROM agg)
        |SELECT nation, n, x, rate_ppm, wilson_lower_ppm,
        |  CAST(row_number() OVER (ORDER BY rate_ppm DESC, nation) AS BIGINT)
        |    AS naive_rank,
        |  CAST(row_number() OVER (ORDER BY wilson_lower_ppm DESC, nation)
        |    AS BIGINT) AS wilson_rank
        |FROM w ORDER BY wilson_rank""".stripMargin) { (s, d) =>
      val agg = lineitem(s, d)
        .join(broadcast(supplier(s, d)),
          col("s_suppkey") === col("l_suppkey"))
        .join(broadcast(nation(s, d)),
          col("n_nationkey") === col("s_nationkey"))
        .groupBy(col("n_name").as("nation"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("x"))
      val w = agg.select(col("nation"), col("n"), col("x"),
        expr("CAST((1000000 * x) div n AS BIGINT)").as("rate_ppm"),
        expr(WilsonLowerPpmExpr).as("wilson_lower_ppm"))
      // nation-cardinality rows: the two global rank windows are bounded
      w.withColumn("naive_rank", row_number().over(
          Window.orderBy(col("rate_ppm").desc, col("nation"))).cast("long"))
        .withColumn("wilson_rank", row_number().over(
          Window.orderBy(col("wilson_lower_ppm").desc, col("nation"))).cast("long"))
        .orderBy("wilson_rank")
    },

    // ----- ABC / Pareto classification of suppliers by revenue -----
    // The inventory-management classic: rank suppliers by discounted
    // revenue, class A while the revenue cumulated BEFORE a supplier is
    // under 80% of total, B under 95%, C after — all compared
    // cross-multiplied (100·(cum−rev) vs 80·total), so no percentage is
    // ever computed. Revenue is exact: the double product folds through
    // DECIMAL(18,6) micro-units once per line. The global cumulative
    // runs through the two-pass ranged scaffold with revenue as the
    // prefix weight — no single-task window at supplier cardinality —
    // and the class report is a 3-row hash agg.
    "supplier_pareto_abc" -> QueryDef.sql(
      """WITH rev AS (
        |  SELECT l_suppkey,
        |    CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
        |      AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS rev_us
        |  FROM lineitem GROUP BY 1),
        |tot AS (SELECT CAST(sum(rev_us) AS BIGINT) AS total FROM rev),
        |c AS (
        |  SELECT l_suppkey, rev_us,
        |    CAST(sum(rev_us) OVER (ORDER BY rev_us DESC, l_suppkey)
        |      AS BIGINT) AS cum
        |  FROM rev),
        |cls AS (
        |  SELECT CASE WHEN 100 * (cum - rev_us) < 80 * tot.total THEN 'A'
        |              WHEN 100 * (cum - rev_us) < 95 * tot.total THEN 'B'
        |              ELSE 'C' END AS abc_class,
        |    rev_us, tot.total
        |  FROM c CROSS JOIN tot)
        |SELECT abc_class, CAST(count(*) AS BIGINT) AS n_suppliers,
        |  CAST(sum(rev_us) AS BIGINT) AS rev_us_total,
        |  CAST((CAST(1000000 AS HUGEINT) * sum(rev_us)) // min(total) AS BIGINT)
        |    AS share_ppm
        |FROM cls GROUP BY 1 ORDER BY abc_class""".stripMargin) { (s, d) =>
      val rev = lineitem(s, d)
        .groupBy("l_suppkey")
        .agg(expr("""CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
                    |  AS DECIMAL(18,6))) * 1000000 AS BIGINT)""".stripMargin)
          .as("rev_us"))
      val (ranged, offsets, total) = graft.util.Scale.rangedOffsets(
        rev, Seq(col("rev_us").desc, col("l_suppkey").asc), col("rev_us"))
      val w = Window.partitionBy("_pid")
        .orderBy(col("rev_us").desc, col("l_suppkey").asc)
      ranged
        .withColumn("cum", sum("rev_us").over(w) +
          coalesce(element_at(typedlit(offsets), col("_pid")), lit(0L)))
        .select(col("rev_us"),
          when(lit(100L) * (col("cum") - col("rev_us")) < lit(80L) * total, "A")
            .when(lit(100L) * (col("cum") - col("rev_us")) < lit(95L) * total, "B")
            .otherwise("C").as("abc_class"))
        .groupBy("abc_class")
        .agg(count(lit(1)).as("n_suppliers"), sum("rev_us").as("rev_us_total"))
        .select(col("abc_class"), col("n_suppliers"), col("rev_us_total"),
          expr(s"""CAST((CAST(1000000 AS DECIMAL(38,0)) * rev_us_total)
                  |  div ${total}L AS BIGINT)""".stripMargin).as("share_ppm"))
        .orderBy("abc_class")
    },

    // ----- Markov-chain attribution with removal effects -----
    // The data-driven counterweight to the heuristic attribution trio
    // (a9 previous-touch, a11 last-touch, a12 U-shaped): model each
    // user's pre-conversion journey as a first-order Markov chain
    // (start → channels → conv/null), and credit each channel by its
    // REMOVAL EFFECT — how much the start→conv absorption probability
    // drops when that channel's state is deleted (transitions into it
    // redirected to null). Absorption runs as 8 fixed matrix-vector
    // iterations at 10¹² scale with one floor per (src,dst) product —
    // exact BIGINTs, no linear solve, identical in both engines. Scale
    // shape: journeys collapse to the (states+2)²-bounded transition
    // matrix in one windowed pass over events; the per-variant
    // iteration folds that BOUNDED matrix on the driver (the
    // km_survival_curve precedent) while DuckDB walks the same 8
    // unrolled steps through MATERIALIZED CTEs (plain CTEs would
    // re-inline the journey subtree 2⁸ times). Removal effects are
    // non-negative by construction (deleting a channel only destroys
    // conversion paths); attribution normalizes them to ppm shares.
    "attribution_markov" -> QueryDef.sql(MarkovAttributionSql) { (s, d) =>
      val ev = events(s, d)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      val wAsc = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("event_id"))
      val firstPur = ev.filter(col("event_type") === "purchase")
        .withColumn("rn", row_number().over(wAsc))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("ts").as("pts"), col("event_id").as("pid"))
      val j = ev.join(firstPur, Seq("user_id"), "left")
        .filter(col("pts").isNull || col("ts") < col("pts") ||
          (col("ts") === col("pts") && col("event_id") <= col("pid")))
        .withColumn("st",
          when(col("event_type") === "purchase", "conv")
            .otherwise(col("event_type")))
      val seq = j.select(col("user_id"), col("st"),
        lag(col("st"), 1, "start").over(wAsc).as("prev"),
        row_number().over(Window.partitionBy("user_id")
          .orderBy(col("ts").desc, col("event_id").desc)).as("rrn"))
      val base = seq.select(col("prev").as("src"), col("st").as("dst"))
        .unionByName(seq.filter(col("rrn") === 1 && col("st") =!= "conv")
          .select(col("st").as("src"), lit("null").as("dst")))
        .groupBy("src", "dst").agg(count(lit(1)).as("c"))
        .collect() // bounded: (event-type alphabet + 2)² transition cells
        .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      val channels = base.map(_._1).distinct.filter(_ != "start").sorted
      val pBase = markovAbsorption(base, None)
      val re = channels.map { ch =>
        val pr = markovAbsorption(base, Some(ch))
        (ch, pBase, pr, ((pBase - pr) * 1000000L) / pBase)
      }
      val tre = re.map(_._4).sum
      val rows = re.map { case (ch, pb, pr, rppm) =>
        (ch, pb, pr, rppm,
          if (tre > 0) Some((rppm * 1000000L) / tre) else None)
      }.toSeq
      import s.implicits._
      rows.toDF("channel", "p_conv_e12", "p_removed", "removal_ppm",
          "attribution_ppm")
        .orderBy("channel")
    },

    // ----- Exact Shapley-value attribution over touched-channel sets -----
    // The OTHER data-driven attribution standard (Shapley 1953; Zhao et
    // al. 2018 for the marketing form), beside attribution_markov's
    // removal effects: characteristic v(S) = conversion rate (ppm,
    // floored once) of journeys whose touched-channel set is exactly S,
    // and φ_i = Σ_{S∋i} (|S|−1)!·(n−|S|)!·(v(S) − v(S\{i})) — the sum
    // runs over OBSERVED sets only (unobserved coalitions contribute
    // v = 0, the standard empirical estimator). Everything is exact:
    // factorial weights come from a 7-row lookup dim (the event-type
    // alphabet is bounded ≪ 7), set identity is the sorted
    // comma-joined channel string, and S\{i} is an array filter — so
    // both engines agree bit-for-bit, negatives included (φ < 0 is
    // real: a channel whose presence marks low-converting journeys).
    // Scale shape: journeys collapse to per-user DISTINCT channel rows
    // (alphabet-bounded per user), the v table is 2^alphabet-bounded,
    // and every join after it is broadcast. Ranking agrees with the
    // Markov lens (error ≫ signup ≫ click ≈ view) — the
    // cross-method agreement is the credibility check both exist for.
    "attribution_shapley" -> QueryDef.sql(
      """WITH ev AS (SELECT user_id, ts, event_id, event_type FROM events),
        |p1 AS (SELECT user_id, ts AS pts, event_id AS pid FROM (
        |  SELECT user_id, ts, event_id,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM ev WHERE event_type = 'purchase') WHERE rn = 1),
        |tch AS (
        |  SELECT ev.user_id, ev.event_type AS ch
        |  FROM ev LEFT JOIN p1 ON p1.user_id = ev.user_id
        |  WHERE ev.event_type <> 'purchase'
        |    AND (p1.user_id IS NULL OR ev.ts < p1.pts
        |         OR (ev.ts = p1.pts AND ev.event_id < p1.pid))
        |  GROUP BY 1, 2),
        |js AS (
        |  SELECT u.user_id,
        |    coalesce(list_aggr(list_sort(list(t.ch)), 'string_agg', ','), '')
        |      AS sset,
        |    CAST(max(CASE WHEN p.user_id IS NOT NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS conv
        |  FROM (SELECT DISTINCT user_id FROM ev) u
        |  LEFT JOIN tch t ON t.user_id = u.user_id
        |  LEFT JOIN p1 p ON p.user_id = u.user_id
        |  GROUP BY 1),
        |v AS (
        |  SELECT sset, CAST(count(*) AS BIGINT) AS n_j,
        |    CAST(sum(conv) AS BIGINT) AS n_c,
        |    CAST((1000000 * sum(conv)) // count(*) AS BIGINT) AS v_ppm
        |  FROM js GROUP BY 1),
        |nch AS (SELECT CAST(count(DISTINCT ch) AS BIGINT) AS n FROM tch),
        |fact AS (SELECT * FROM (VALUES (0, 1), (1, 1), (2, 2), (3, 6),
        |  (4, 24), (5, 120), (6, 720)) f(k, kf)),
        |sm AS (
        |  SELECT v.sset, unnest(string_split(v.sset, ',')) AS ch,
        |    CAST(len(string_split(v.sset, ',')) AS BIGINT) AS sz, v.v_ppm
        |  FROM v WHERE v.sset <> ''),
        |delta AS (
        |  SELECT sm.ch, sm.sz, sm.v_ppm - coalesce(vv.v_ppm, 0) AS dlt
        |  FROM sm LEFT JOIN v vv
        |    ON vv.sset = coalesce(list_aggr(list_filter(string_split(sm.sset, ','),
        |         x -> x <> sm.ch), 'string_agg', ','), '')),
        |phi AS (
        |  SELECT d.ch AS channel,
        |    CAST(sum(f1.kf * f2.kf * d.dlt) AS BIGINT) AS phi_scaled
        |  FROM delta d CROSS JOIN nch n
        |  JOIN fact f1 ON f1.k = d.sz - 1
        |  JOIN fact f2 ON f2.k = n.n - d.sz
        |  GROUP BY 1),
        |tp AS (SELECT CAST(sum(CASE WHEN phi_scaled > 0 THEN phi_scaled
        |  ELSE 0 END) AS BIGINT) AS t FROM phi)
        |SELECT channel, phi_scaled,
        |  CASE WHEN tp.t > 0 AND phi_scaled > 0
        |       THEN CAST((phi_scaled * 1000000) // tp.t AS BIGINT)
        |       ELSE 0 END AS share_ppm
        |FROM phi CROSS JOIN tp ORDER BY channel""".stripMargin) { (s, d) =>
      val ev = events(s, d)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      val firstPur = ev.filter(col("event_type") === "purchase")
        .withColumn("rn", row_number().over(
          Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("ts").as("pts"), col("event_id").as("pid"))
      val tch = ev.join(firstPur, Seq("user_id"), "left")
        .filter(col("event_type") =!= "purchase" &&
          (col("pts").isNull || col("ts") < col("pts") ||
            (col("ts") === col("pts") && col("event_id") < col("pid"))))
        .select(col("user_id"), col("event_type").as("ch"))
        .distinct()
      val sets = tch.groupBy("user_id")
        .agg(array_join(sort_array(collect_list("ch")), ",").as("sset"))
      val js = ev.select("user_id").distinct()
        .join(sets, Seq("user_id"), "left")
        .join(firstPur.select(col("user_id"), lit(1L).as("cv")),
          Seq("user_id"), "left")
        .select(coalesce(col("sset"), lit("")).as("sset"),
          coalesce(col("cv"), lit(0L)).as("conv"))
      val v = js.groupBy("sset")
        .agg(count(lit(1)).as("n_j"), sum("conv").as("n_c"))
        .withColumn("v_ppm", expr("CAST((1000000 * n_c) div n_j AS BIGINT)"))
        .localCheckpoint() // member explode + the S\{i} lookup share it
      val nch = tch.agg(countDistinct("ch").as("n"))
      val phi = shapleyPhi(v, nch)
      val tp = phi.agg(
        sum(when(col("phi_scaled") > 0, col("phi_scaled")).otherwise(0L))
          .as("t"))
      phi.crossJoin(broadcast(tp))
        .select(col("channel"), col("phi_scaled"),
          when(col("t") > 0 && col("phi_scaled") > 0,
            expr("CAST((phi_scaled * 1000000) div t AS BIGINT)"))
            .otherwise(0L).as("share_ppm"))
        .orderBy("channel")
    },

    // ----- Theil inequality decomposition of supplier revenue -----
    // The BETWEEN-group Theil-T index at two nesting levels (region ⊃
    // nation) plus the decomposition identity — the additive
    // counterpart of a16_value_gini: Gini says HOW unequal, Theil says
    // WHERE the inequality lives, because T_between(nation) =
    // T_between(region) + Σ_r w_r·T_within-r(nations) exactly (Theil
    // 1967; Gini admits no such split). Exactness discipline: group
    // revenues are whole-currency BIGINTs; the ONE transcendental per
    // group row — ln((X_g·N)/(X·N_g)) — enters on a BOUNDED alphabet
    // (≤25 nations + ≤5 regions) as a 6-dp-rounded double converted
    // once to integer micro-nats (the source_kl_divergence treatment;
    // the ln argument is formed double-first, CAST(x_g AS DOUBLE)·n,
    // because X_g·N ≈ 2.4e14·1e6 at 100 TB overflows BIGINT before the
    // cast), after which every weighted sum is DECIMAL-widened integer
    // div arithmetic. X_g = 0 groups contribute exactly 0 (the
    // x·ln x → 0 limit), guarded by CASE, never NaN. The emitted
    // 'residual' row is the decomposition identity measured in
    // micro-nats — nonzero only by the deterministic per-group
    // rounding, identical on both engines. Scale shape: ONE map-side-
    // combinable supplier fold on lineitem, two broadcast dim joins,
    // then all arithmetic on ≤31 rows.
    "value_theil_between" -> QueryDef.sql(
      """WITH srev AS (
        |  SELECT l_suppkey, CAST(sum(CAST(floor(l_extendedprice) AS BIGINT)) AS BIGINT) AS rev
        |  FROM lineitem GROUP BY l_suppkey),
        |sup AS (
        |  SELECT s.s_suppkey, n.n_name, r.r_name
        |  FROM supplier s JOIN nation n ON n.n_nationkey = s.s_nationkey
        |  JOIN region r ON r.r_regionkey = n.n_regionkey),
        |base AS (
        |  SELECT sup.n_name, sup.r_name, coalesce(srev.rev, 0) AS rev
        |  FROM sup LEFT JOIN srev ON srev.l_suppkey = sup.s_suppkey),
        |nat AS (SELECT n_name, r_name, CAST(count(*) AS BIGINT) AS n_n,
        |          CAST(sum(rev) AS BIGINT) AS x_n FROM base GROUP BY 1, 2),
        |reg AS (SELECT r_name, CAST(sum(n_n) AS BIGINT) AS n_r,
        |          CAST(sum(x_n) AS BIGINT) AS x_r FROM nat GROUP BY 1),
        |tot AS (SELECT CAST(sum(n_r) AS BIGINT) AS n, CAST(sum(x_r) AS BIGINT) AS x FROM reg),
        |natl AS (
        |  SELECT nat.n_name, nat.r_name, nat.n_n, nat.x_n, reg.n_r, reg.x_r, tot.n, tot.x,
        |    CASE WHEN x_n = 0 THEN 0 ELSE
        |      CAST((CAST(x_n AS HUGEINT) * CAST(round(1000000 * round(ln(
        |        (CAST(x_n AS DOUBLE) * n) / (CAST(x AS DOUBLE) * n_n)), 6)) AS BIGINT)) // x AS BIGINT)
        |    END AS contrib,
        |    CASE WHEN x_n = 0 THEN 0 ELSE
        |      CAST((CAST(x_n AS HUGEINT) * CAST(round(1000000 * round(ln(
        |        (CAST(x_n AS DOUBLE) * n_r) / (CAST(x_r AS DOUBLE) * n_n)), 6)) AS BIGINT)) // x_r AS BIGINT)
        |    END AS wcontrib
        |  FROM nat JOIN reg USING (r_name) CROSS JOIN tot),
        |regl AS (
        |  SELECT reg.r_name, reg.n_r, reg.x_r, tot.n, tot.x,
        |    CASE WHEN x_r = 0 THEN 0 ELSE
        |      CAST((CAST(x_r AS HUGEINT) * CAST(round(1000000 * round(ln(
        |        (CAST(x_r AS DOUBLE) * n) / (CAST(x AS DOUBLE) * n_r)), 6)) AS BIGINT)) // x AS BIGINT)
        |    END AS contrib
        |  FROM reg CROSS JOIN tot),
        |tw AS (SELECT r_name, CAST(sum(wcontrib) AS BIGINT) AS tw_r FROM natl GROUP BY 1),
        |sums AS (
        |  SELECT
        |    (SELECT CAST(sum(contrib) AS BIGINT) FROM natl) AS bn,
        |    (SELECT CAST(sum(contrib) AS BIGINT) FROM regl) AS br,
        |    (SELECT CAST(sum(CAST((CAST(reg.x_r AS HUGEINT) * tw.tw_r) // tot.x AS BIGINT)) AS BIGINT)
        |       FROM tw JOIN reg USING (r_name) CROSS JOIN tot) AS ww,
        |    tot.n, tot.x FROM tot)
        |SELECT 'nation' AS grain, n_name AS grp_key, n_n AS n_items, x_n AS revenue,
        |  contrib AS theil_micro FROM natl
        |UNION ALL
        |SELECT 'region', r_name, n_r, x_r, contrib FROM regl
        |UNION ALL SELECT 'total', 'between_nation', n, x, bn FROM sums
        |UNION ALL SELECT 'total', 'between_region', n, x, br FROM sums
        |UNION ALL SELECT 'total', 'within_weighted', n, x, ww FROM sums
        |UNION ALL SELECT 'total', 'residual', n, x, bn - br - ww FROM sums
        |ORDER BY grain, grp_key""".stripMargin) { (s, d) =>
      val srev = lineitem(s, d).groupBy(col("l_suppkey"))
        .agg(sum(expr("CAST(floor(l_extendedprice) AS BIGINT)")).cast("long").as("rev"))
      val sup = supplier(s, d)
        .join(broadcast(nation(s, d)), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(region(s, d)), col("n_regionkey") === col("r_regionkey"))
        .select(col("s_suppkey"), col("n_name"), col("r_name"))
      val base = sup.join(srev, col("s_suppkey") === col("l_suppkey"), "left")
        .select(col("n_name"), col("r_name"), coalesce(col("rev"), lit(0L)).as("rev"))
      val nat = base.groupBy("n_name", "r_name")
        .agg(count(lit(1)).as("n_n"), sum("rev").cast("long").as("x_n"))
      val reg = nat.groupBy("r_name")
        .agg(sum("n_n").cast("long").as("n_r"), sum("x_n").cast("long").as("x_r"))
      val tot = reg.agg(sum("n_r").cast("long").as("n"), sum("x_r").cast("long").as("x"))
      val natl = nat.join(broadcast(reg), Seq("r_name")).crossJoin(broadcast(tot))
        .select(col("n_name"), col("r_name"), col("n_n"), col("x_n"),
          col("n_r"), col("x_r"), col("n"), col("x"),
          expr("""CASE WHEN x_n = 0 THEN 0L ELSE
                 |  CAST((CAST(x_n AS DECIMAL(38,0)) * CAST(round(1000000 * round(ln(
                 |    (CAST(x_n AS DOUBLE) * n) / (CAST(x AS DOUBLE) * n_n)), 6)) AS BIGINT))
                 |    div x AS BIGINT)
                 |END""".stripMargin).as("contrib"),
          expr("""CASE WHEN x_n = 0 THEN 0L ELSE
                 |  CAST((CAST(x_n AS DECIMAL(38,0)) * CAST(round(1000000 * round(ln(
                 |    (CAST(x_n AS DOUBLE) * n_r) / (CAST(x_r AS DOUBLE) * n_n)), 6)) AS BIGINT))
                 |    div x_r AS BIGINT)
                 |END""".stripMargin).as("wcontrib"))
        .localCheckpoint() // ≤25 rows; feeds the output AND tw/bn
      val regl = reg.crossJoin(broadcast(tot))
        .select(col("r_name"), col("n_r"), col("x_r"), col("n"), col("x"),
          expr("""CASE WHEN x_r = 0 THEN 0L ELSE
                 |  CAST((CAST(x_r AS DECIMAL(38,0)) * CAST(round(1000000 * round(ln(
                 |    (CAST(x_r AS DOUBLE) * n) / (CAST(x AS DOUBLE) * n_r)), 6)) AS BIGINT))
                 |    div x AS BIGINT)
                 |END""".stripMargin).as("contrib"))
        .localCheckpoint()
      val bn = natl.agg(sum("contrib").cast("long").as("bn"))
      val br = regl.agg(sum("contrib").cast("long").as("br"))
      val ww = natl.groupBy("r_name").agg(sum("wcontrib").cast("long").as("tw_r"))
        .join(broadcast(reg), Seq("r_name")).crossJoin(broadcast(tot))
        .select(expr("CAST((CAST(x_r AS DECIMAL(38,0)) * tw_r) div x AS BIGINT)").as("w"))
        .agg(sum("w").cast("long").as("ww"))
      val sums = bn.crossJoin(br).crossJoin(ww).crossJoin(broadcast(tot))
      val natRows = natl.select(lit("nation").as("grain"), col("n_name").as("grp_key"),
        col("n_n").as("n_items"), col("x_n").as("revenue"), col("contrib").as("theil_micro"))
      val regRows = regl.select(lit("region").as("grain"), col("r_name").as("grp_key"),
        col("n_r").as("n_items"), col("x_r").as("revenue"), col("contrib").as("theil_micro"))
      val totRows = sums.select(lit("total").as("grain"), lit("between_nation").as("grp_key"),
          col("n").as("n_items"), col("x").as("revenue"), col("bn").as("theil_micro"))
        .unionByName(sums.select(lit("total").as("grain"), lit("between_region").as("grp_key"),
          col("n").as("n_items"), col("x").as("revenue"), col("br").as("theil_micro")))
        .unionByName(sums.select(lit("total").as("grain"), lit("within_weighted").as("grp_key"),
          col("n").as("n_items"), col("x").as("revenue"), col("ww").as("theil_micro")))
        .unionByName(sums.select(lit("total").as("grain"), lit("residual").as("grp_key"),
          col("n").as("n_items"), col("x").as("revenue"),
          (col("bn") - col("br") - col("ww")).cast("long").as("theil_micro")))
      natRows.unionByName(regRows).unionByName(totRows).orderBy("grain", "grp_key")
    },
  )

  /** Edit-distance ≤ 1 self-join via SymSpell single-deletion blocking
    * (`er_fuzzy_name_join`): each distinct `name` emits itself plus its
    * |name|+1 one-char-deletion variants as keys; any two strings at
    * Levenshtein ≤ 1 share a key (substitution ⇒ both delete that
    * position; insert/delete ⇒ the longer's deletion equals the
    * shorter's identity key), so the key join is recall-complete and
    * the exact `levenshtein` verifies only candidates. Exposed for the
    * randomized completeness property in RobustOpsSpec. */
  private[operators] def symspellPairs(
      names: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    // deduplicate keys per name BEFORE the join: deleting any position
    // inside a run of equal chars yields the same key, and duplicate
    // keys multiply join candidates quadratically per bucket (measured
    // 6.6 s → ~1 s at sf0.1 on the zero-padded customer ids)
    // spread: the source arrives as a few input splits while the
    // deletion-variant explode is the dominant CPU (stage-profiled r11:
    // 3 tasks over a 29 MB scan carried the whole wall); at scale the
    // scan is many splits and this is a no-op
    val keys = graft.operators.TextQueries.spread(names)
      .select(col("name"),
        explode(sequence(lit(1), length(col("name")) + 1)).as("i"))
      .select(col("name"),
        expr("concat(substring(name, 1, i - 1), substring(name, i + 1, 1000000))")
          .as("k"))
      .distinct()
      .localCheckpoint()
    // banded verify: the 3-arg levenshtein computes only the |k|<=1
    // diagonal band and early-exits (returns -1 above the threshold) —
    // O(len) instead of the full O(len^2) DP, which at the ER-100x
    // audit point (219M candidates) was ~10x of the join stage's cpu
    // sort-merge DELIBERATELY (measured at the ER-100x audit point,
    // 1.5M names / 25M keys / 16 GB / 32 threads): a SHUFFLE_HASH hint
    // dies with cannotAcquireMemoryToBuildUnsafeHashedRelation — the
    // hashed-relation build is NOT spillable, so at tight
    // memory-per-core every concurrent task demands its full build map
    // at once (the same failure class the pagerank shape audit hit at
    // 1000x). SMJ's external sorts ARE spillable: at 0.5 GB/thread
    // they degrade gracefully (13 GB spilled, job completes); at a
    // real executor's 4-5 GB/core the per-task sort state
    // (keyRows/partitions) fits outright and the spill is zero
    // (measured: 48 GB heap -> zero spill, same plan).
    keys.select(col("name").as("na"), col("k"))
      .join(keys.select(col("name").as("nb"), col("k")), Seq("k"))
      .filter(col("na") < col("nb") &&
        levenshtein(col("na"), col("nb"), 1) >= 0)
      .select("na", "nb")
    // NO distinct — each verified pair appears EXACTLY once, because a
    // lev<=1 pair shares exactly ONE key after the per-name key dedup
    // above: a substitution pair's only shared key is the
    // delete-the-differing-position string (deleting anywhere else
    // keeps the mismatch; run structure collapses under the dedup),
    // and an indel pair's only shared key is the shorter name itself
    // (its identity key — unequal lengths keep every other cross pair
    // apart). A second distinct shared key would force two differing
    // positions, i.e. lev >= 2. Pinned by RobustOpsSpec's exactly-once
    // multiplicity assertion and checked on the 39.75M-pair ER-100x
    // audit corpus (occurrences == distinct pairs). Dropping the
    // distinct removes BOTH spilling aggregate phases the r15 stage
    // audit attributed (9.7 + 12.9 GB at 1.5M names): the pair-level
    // hash state was the whole exchange cost, and it was deduping
    // rows that were already unique.
  }

  /** Branch-ordered classification of interval (sa, ea) against
    * (sb, eb) into the 13 Allen relations — equality branches first,
    * then disjoint, then the containment/overlap ladder; exhaustive
    * for every boundary configuration including degenerate point
    * intervals. Inverse-consistency is property-tested in
    * RobustOpsSpec. */
  private[operators] def allenRelation(
      sa: org.apache.spark.sql.Column, ea: org.apache.spark.sql.Column,
      sb: org.apache.spark.sql.Column, eb: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    when(sa === sb && ea === eb, "equals")
      .when(ea < sb, "before")
      .when(sa > eb, "after")
      .when(ea === sb, "meets")
      .when(sa === eb, "met_by")
      .when(sa === sb && ea < eb, "starts")
      .when(sa === sb, "started_by")
      .when(ea === eb && sa > sb, "finishes")
      .when(ea === eb, "finished_by")
      .when(sa > sb && ea < eb, "during")
      .when(sa < sb && ea > eb, "contains")
      .when(sa < sb, "overlaps")
      .otherwise("overlapped_by")

  /** The 95% Wilson lower bound in ppm over BIGINT columns `n` (trials)
    * and `x` (successes) — ONE correctly-rounded IEEE sqrt inside a
    * literal expression tree, so Spark and DuckDB evaluate it
    * bit-identically (rating_wilson_rank's oracle spells the same tree).
    * Extracted for property testing: 0 ≤ bound ≤ raw rate, monotone in
    * n at fixed rate. */
  private[operators] val WilsonLowerPpmExpr: String =
    """CAST(floor(1000000.0D * ((CAST(x AS DOUBLE) + 1.9208D)
      |  - 1.96D * sqrt((CAST(x AS DOUBLE) * CAST(n - x AS DOUBLE))
      |      / CAST(n AS DOUBLE) + 0.9604D))
      |  / (CAST(n AS DOUBLE) + 3.8416D)) AS BIGINT)""".stripMargin

  /** Empirical Shapley values from a characteristic table `v` with
    * columns (sset: sorted comma-joined channel set, v_ppm: BIGINT) and
    * a 1-row frame `nch(n)` holding the channel-alphabet size. Returns
    * (channel, phi_scaled) where phi_scaled = Σ_{S∋i} (|S|−1)!(n−|S|)!
    * ·(v(S)−v(S\{i})) — n!-scaled Shapley, exact BIGINTs, unobserved
    * coalitions contributing v = 0. Extracted so AttributionSpec can
    * check it against brute-force permutation enumeration. */
  private[operators] def shapleyPhi(
      v: org.apache.spark.sql.DataFrame,
      nch: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import v.sparkSession.implicits._
    val fact = Seq((0L, 1L), (1L, 1L), (2L, 2L), (3L, 6L), (4L, 24L),
      (5L, 120L), (6L, 720L)).toDF("k", "kf")
    val sm = v.filter(col("sset") =!= "")
      .select(col("sset"), explode(split(col("sset"), ",")).as("ch"),
        size(split(col("sset"), ",")).cast("long").as("sz"), col("v_ppm"))
    val delta = sm.join(
        broadcast(v.select(col("sset").as("rss"), col("v_ppm").as("v2"))),
        expr("rss = array_join(filter(split(sset, ','), x -> x != ch), ',')"),
        "left")
      .select(col("ch"), col("sz"),
        (col("v_ppm") - coalesce(col("v2"), lit(0L))).as("dlt"))
    delta.crossJoin(broadcast(nch))
      .join(broadcast(fact.toDF("k1", "kf1")), col("k1") === col("sz") - 1)
      .join(broadcast(fact.toDF("k2", "kf2")), col("k2") === col("n") - col("sz"))
      .groupBy(col("ch").as("channel"))
      .agg(sum(col("kf1") * col("kf2") * col("dlt")).as("phi_scaled"))
  }

  /** start→conv absorption probability (10¹² scale) of the journey
    * Markov chain after 8 fixed integer iterations — the exact
    * arithmetic `attribution_markov`'s oracle unrolls in SQL. `removed`
    * deletes that channel's state (its outgoing rows dropped, inbound
    * transitions redirected to 'null'); row totals are taken from the
    * UNREMOVED matrix, which is what preserves them under redirection.
    * Extracted for planted-chain property testing (AttributionSpec). */
  private[operators] def markovAbsorption(
      base: Seq[(String, String, Long)], removed: Option[String]): Long = {
    val tots = base.groupBy(_._1).map { case (k, v) => k -> v.map(_._3).sum }
    val tv = base
      .filter { case (src, _, _) => !removed.contains(src) }
      .map { case (src, dst, c) =>
        (src, if (removed.contains(dst)) "null" else dst, c)
      }
      .groupBy(t => (t._1, t._2))
      .map { case ((src, dst), v) => (src, dst, v.map(_._3).sum) }
      .toSeq
    val states = tv.map(_._1).distinct
    var p = (states.map(_ -> 0L) ++
      Seq("conv" -> 1000000000000L, "null" -> 0L)).toMap
    (1 to 8).foreach { _ =>
      val next = states.map { st =>
        val num = tv.collect {
          case (src, dst, c) if src == st => c * p.getOrElse(dst, 0L)
        }.sum
        st -> num / tots(st) // trunc toward zero = DuckDB //
      }.toMap
      p = next ++ Map("conv" -> 1000000000000L, "null" -> 0L)
    }
    p.getOrElse("start", 0L)
  }

  /** Oracle for `attribution_markov`: the 8 absorption iterations are
    * UNROLLED (standard SQL forbids aggregates in a recursive term) and
    * every multiply-referenced CTE is MATERIALIZED — DuckDB would
    * otherwise inline the journey-building subtree once per reference,
    * 2⁸ copies by step s8. */
  private lazy val MarkovAttributionSql: String = {
    val steps = (1 to 8).map { i =>
      val prev = if (i == 1) "p0" else s"s${i - 1}"
      s""",
         |s$i AS MATERIALIZED (
         |  SELECT t.v, t.src AS st,
         |    CAST(sum(t.c * p.p) // min(tt.tot) AS BIGINT) AS p
         |  FROM tv t JOIN $prev p ON p.v = t.v AND p.st = t.dst
         |  JOIN tots tt ON tt.src = t.src
         |  GROUP BY 1, 2
         |  UNION ALL
         |  SELECT v, st, p FROM $prev WHERE st IN ('conv', 'null'))""".stripMargin
    }.mkString
    s"""WITH ev AS (SELECT user_id, ts, event_id, event_type FROM events),
       |p1 AS (SELECT user_id, ts AS pts, event_id AS pid FROM (
       |  SELECT user_id, ts, event_id,
       |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
       |  FROM ev WHERE event_type = 'purchase') WHERE rn = 1),
       |j AS (SELECT ev.user_id, ev.ts, ev.event_id,
       |    CASE WHEN ev.event_type = 'purchase' THEN 'conv'
       |         ELSE ev.event_type END AS st
       |  FROM ev LEFT JOIN p1 ON p1.user_id = ev.user_id
       |  WHERE p1.user_id IS NULL OR ev.ts < p1.pts
       |    OR (ev.ts = p1.pts AND ev.event_id <= p1.pid)),
       |seq AS (SELECT user_id, st,
       |    lag(st, 1, 'start') OVER (PARTITION BY user_id
       |      ORDER BY ts, event_id) AS prev,
       |    row_number() OVER (PARTITION BY user_id
       |      ORDER BY ts DESC, event_id DESC) AS rrn
       |  FROM j),
       |base0 AS (SELECT prev AS src, st AS dst FROM seq
       |  UNION ALL SELECT st, 'null' FROM seq WHERE rrn = 1 AND st <> 'conv'),
       |base AS MATERIALIZED (
       |  SELECT src, dst, CAST(count(*) AS BIGINT) AS c FROM base0 GROUP BY 1, 2),
       |tots AS MATERIALIZED (
       |  SELECT src, CAST(sum(c) AS BIGINT) AS tot FROM base GROUP BY 1),
       |chan AS (SELECT DISTINCT src AS ch FROM base WHERE src <> 'start'),
       |vari AS (SELECT 'none' AS v UNION ALL SELECT ch FROM chan),
       |tv AS MATERIALIZED (
       |  SELECT v.v, b.src,
       |    CASE WHEN b.dst = v.v THEN 'null' ELSE b.dst END AS dst,
       |    CAST(sum(b.c) AS BIGINT) AS c
       |  FROM vari v JOIN base b ON b.src <> v.v
       |  GROUP BY 1, 2, 3),
       |p0 AS MATERIALIZED (
       |  SELECT v, st,
       |    CAST(CASE WHEN st = 'conv' THEN 1000000000000 ELSE 0 END AS BIGINT) AS p
       |  FROM (SELECT v, src AS st FROM tv GROUP BY 1, 2
       |        UNION SELECT v, 'conv' FROM vari
       |        UNION SELECT v, 'null' FROM vari))$steps,
       |pb AS (SELECT p AS p_base FROM s8 WHERE v = 'none' AND st = 'start'),
       |pr AS (SELECT v AS channel, p AS p_removed FROM s8
       |  WHERE v <> 'none' AND st = 'start'),
       |re AS (SELECT channel, p_removed,
       |    CAST(((pb.p_base - p_removed) * 1000000) // pb.p_base AS BIGINT)
       |      AS removal_ppm,
       |    pb.p_base FROM pr CROSS JOIN pb),
       |tre AS (SELECT CAST(sum(removal_ppm) AS BIGINT) AS t FROM re)
       |SELECT channel, p_base AS p_conv_e12, p_removed, removal_ppm,
       |  CASE WHEN tre.t > 0 THEN CAST((removal_ppm * 1000000) // tre.t AS BIGINT)
       |       ELSE NULL END AS attribution_ppm
       |FROM re CROSS JOIN tre ORDER BY channel""".stripMargin
  }
}
