package graft.operators

import graft.QueryDef
import org.apache.spark.sql.functions._

/** Iterative graph analytics over the near-duplicate candidate graph —
  * the second graph algorithm family next to the connected-components
  * fixpoint (`dedup_clusters`): PageRank centrality across the LSH
  * candidate edges.
  *
  * Why a pipeline wants it: connected components answer "which docs
  * form one duplication family"; PageRank answers "which member is the
  * family's CENTER" — the template a boilerplate family mutated from,
  * the canonical page a mirror farm copied. High-centrality nodes are
  * better keep-best canonicals than longest-doc heuristics when the
  * family is a hub-and-spoke (one origin, many light edits), and
  * extreme-centrality nodes flag machine-generated template farms.
  *
  * Determinism: the whole computation is scaled-integer — p₀ = 10¹²//n,
  * damping 0.85 as `(85·p)//100`, per-edge contribution floored by the
  * out-degree — so three unrolled iterations hash-match the DuckDB
  * oracle exactly (the engine-defined float summation order that makes
  * textbook PageRank irreproducible never appears).
  *
  * Scale shape: the edge table derives from the persisted minhash band
  * store (never a text re-hash), is pre-hash-partitioned on the probe
  * key and pinned once (the [[TextQueries.clusterAssignments]] trick —
  * each iteration re-shuffles only the node-cardinality rank table,
  * the edges never move); every node of the undirected graph has
  * deg ≥ 1, so there is no dangling-mass term to redistribute.
  */
object GraphQueries {

  val Iters = 3

  /** Minimum surviving degree for [[defs `graph_kcore`]]. */
  val KcoreK = 3

  /** Unrolled peel rounds for `graph_kcore` — enough to reach the
    * fixpoint at fixture scale (KcoreSpec asserts a fifth peel removes
    * nothing); extra rounds past the fixpoint are exact no-ops, so the
    * unroll count is a latency knob, never a correctness one. */
  val KcoreRounds = 4

  /** Nodes above this candidate-graph degree are excluded from triangle
    * enumeration — they are boilerplate-shaped hubs (the substring
    * family's territory), and the cap is what bounds the wedge join. */
  val TriDegreeCap = 24

  private lazy val PageRankOracleSql: String = {
    val iters = (1 to Iters).map { k =>
      s"""p$k AS (
         |  SELECT e.b AS v, CAST((150000000000 // nn.n) + sum(((85 * p.p) // 100) // d.deg) AS BIGINT) AS p
         |  FROM edges e JOIN p${k - 1} p ON p.v = e.a JOIN deg d ON d.a = e.a
         |  CROSS JOIN nn
         |  GROUP BY e.b, nn.n)""".stripMargin
    }
    s"""WITH ${TextQueries.MinhashBandsCte},
       |pairs AS (${TextQueries.BandedPairsSelect}),
       |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
       |          UNION ALL SELECT doc_b AS a, doc_a AS b FROM pairs),
       |deg AS (SELECT a, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY a),
       |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM deg),
       |p0 AS (SELECT deg.a AS v, 1000000000000 // nn.n AS p FROM deg CROSS JOIN nn),
       |${iters.mkString(",\n")}
       |SELECT d.a AS doc_id, d.deg, p.p AS pr_x1e12
       |FROM deg d JOIN p$Iters p ON p.v = d.a
       |ORDER BY doc_id""".stripMargin
  }

  def defs: Map[String, QueryDef] = Map(

    // ----- PageRank centrality over the near-dup candidate graph -----
    // Three damped iterations in exact scaled-integer arithmetic over
    // the band-store edges (both directions of every LSH candidate
    // pair); isolated docs are excluded — their rank is the uniform
    // constant and would only pad the output. The oracle recomputes the
    // same edges from text and unrolls the iterations.
    "dup_graph_pagerank" -> QueryDef.sql(PageRankOracleSql) { (s, d) =>
      val pairs = SignatureStore.ensureK8Pairs(s, d)
      val edges = pairs.select(col("doc_a").as("a"), col("doc_b").as("b"))
        .unionByName(pairs.select(col("doc_b").as("a"), col("doc_a").as("b")))
        .repartition(col("a"))
        .localCheckpoint()
      val deg = edges.groupBy("a").agg(count(lit(1)).as("deg")).localCheckpoint()
      val nRow = deg.agg(count(lit(1)).as("n"))
      var p = deg.crossJoin(broadcast(nRow))
        .select(col("a").as("v"), expr("1000000000000L div n").as("p"))
        .localCheckpoint()
      for (_ <- 1 to Iters) {
        // shape audited at the 1000× scale point (500k nodes / 161M
        // edges, r11): this two-broadcast chain over pinned blocks is
        // both the fastest AND the only memory-stable variant on one
        // box. Rejected with measurements: SHUFFLE_HASH hints on the
        // node tables (−18% wall at 1000× but execution-memory OOM at
        // larger heaps), pre-sorting the pinned edges (sorted blocks +
        // shuffle data exceed storage, crashes), and folding deg into
        // the rank table before the edge join (extra per-iteration
        // broadcast chain: +40% at 100×, OOM at 1000×). Past the
        // broadcast threshold the rank join falls to SMJ and per-edge
        // cpu grows ~4× — single-node memory physics documented in
        // SCALING.md; a cluster keeps nodes/partition cache-sized.
        p = edges.join(p, edges("a") === p("v")).join(deg, Seq("a"))
          .select(col("b"), expr("((85 * p) div 100) div deg").as("c"))
          .groupBy(col("b")).agg(sum("c").as("contrib"))
          .crossJoin(broadcast(nRow))
          .select(col("b").as("v"),
            expr("(150000000000L div n) + contrib").as("p"))
          .localCheckpoint()
      }
      p.join(deg, p("v") === deg("a"))
        .select(col("v").as("doc_id"), col("deg"), col("p").as("pr_x1e12"))
        .orderBy("doc_id")
    },

    // ----- Triangle count + local clustering coefficient -----
    // The third graph lens on the dup-candidate graph: CC says which
    // docs form a family, PageRank says who its center is, triangles
    // say how DENSE the family is — a high clustering coefficient
    // separates a true mirror clique (everything matches everything)
    // from a hub-and-spoke chain of borderline matches, which decides
    // whether a cluster can be collapsed to one canonical or needs
    // pairwise review. Enumeration is the oriented edge-iterator join
    // (a<b<c, each triangle counted exactly once); the DEGREE CAP is
    // what makes it production-viable: per-node fanout of the e1⋈e2
    // wedge join is bounded by the cap, so the join stays ≤ cap·|E|
    // rows even on the power-law graphs where uncapped triangle
    // counting is quadratic — the same guard philosophy as the
    // oversized-bucket anti-join (hub nodes are boilerplate-shaped
    // and get excised by the substring family instead). Edges are
    // pinned once; everything downstream is id-arithmetic.
    "dup_graph_triangles" -> QueryDef.sql(TriangleOracleSql) { (s, d) =>
      val pairs = SignatureStore.ensureK8Pairs(s, d)
      triangleStats(pairs).orderBy("doc_id")
    },

    // ----- Label-propagation communities (Raghavan et al. 2007) -----
    // The fourth graph lens: CC says which docs are TRANSITIVELY
    // connected, LPA says which docs CLUSTER — a chain of borderline
    // matches that CC fuses into one family splits into communities
    // where the mutual-match density actually lives, which is the
    // granularity keep-best canonicalization wants. The textbook
    // algorithm is irreproducible (random order, random tie-breaks);
    // this is the DETERMINISTIC synchronous form: every node
    // simultaneously adopts its neighbors' most frequent label, ties to
    // the SMALLEST label, three rounds unrolled — same fixed-iteration
    // discipline as PageRank, and the oracle replays it exactly.
    // Scale shape: edges pin once partitioned on the neighbor key, so
    // each round shuffles only the node-cardinality label table.
    "dup_graph_communities" -> QueryDef.sql(LabelPropOracleSql) { (s, d) =>
      val pairs = SignatureStore.ensureK8Pairs(s, d)
      val edges = pairs.select(col("doc_a").as("a"), col("doc_b").as("b"))
        .unionByName(pairs.select(col("doc_b").as("a"), col("doc_a").as("b")))
        .repartition(col("b"))
        .localCheckpoint()
      val lab = lpaLabels(edges)
      val sz = lab.groupBy("lab").agg(count(lit(1)).as("community_size"))
      lab.join(sz, Seq("lab"))
        .select(col("v").as("doc_id"), col("lab").as("community"),
          col("community_size"))
        .orderBy("doc_id")
    },

    // ----- k-core decomposition (Seidman 1983; Batagelj–Zaveršnik) -----
    // The fifth graph lens: triangles measure LOCAL density around one
    // node; the k-core is the GLOBAL cohesion criterion — the maximal
    // subgraph where every member keeps ≥ k neighbors after everyone
    // outside is removed. On the dup-candidate graph the 3-core is the
    // mirror-farm detector: a chain of borderline matches (deg 2 each)
    // peels away entirely, while a true template clique survives with
    // its interior degree intact — the set worth bulk-collapsing rather
    // than pairwise-reviewing. The sequential peel (repeatedly delete
    // min-degree nodes) is inherently serial; the distributed form is
    // the SYNCHRONOUS peel — each round deletes EVERY node under k at
    // once — which provably reaches the same fixpoint (deleting a
    // sub-k node never resurrects another node's degree). Rounds are
    // unrolled like PageRank/LPA so the oracle replays them exactly;
    // past the fixpoint a round is the identity, so the unroll count
    // only prices latency. Scale shape: each round shuffles only the
    // SHRINKING edge table (two semi-joins against the bounded
    // survivor set), never the corpus, and the per-round degree fold
    // is a partial-combinable hash aggregate.
    "graph_kcore" -> QueryDef.sql(KcoreOracleSql) { (s, d) =>
      val pairs = SignatureStore.ensureK8Pairs(s, d)
      kcoreStats(pairs).orderBy("doc_id")
    },

    // ----- Personalized PageRank from a seed set (Haveliwala 2002) -----
    // The SERVING shape of graph centrality: global PageRank ranks the
    // whole corpus once; personalized PageRank answers "what is related
    // to THESE docs" — teleport mass returns only to the seed set, so
    // rank concentrates in the seeds' neighborhood and decays with
    // graph distance. On the dup-candidate graph this is the
    // provenance probe: seed the docs of one suspect batch and the
    // stationary mass ranks everything that shares duplication
    // ancestry with them, direct or transitive. Same exact
    // scaled-integer discipline as `dup_graph_pagerank` (floored
    // per-edge contributions, damping 85/100, three unrolled rounds —
    // both engines replay identically); the restart mass enters as a
    // UNION ALL leg of the same per-round fold, so each iteration is
    // still ONE hash aggregate. Scale shape: edges pinned once
    // (partitioned on the contribution key); each round shuffles only
    // the REACHED-node rank table, which starts seed-sized and grows
    // one hop per round — strictly cheaper than the global walk.
    "ppr_related_docs" -> QueryDef.sql(PprOracleSql) { (s, d) =>
      val pairs = SignatureStore.ensureK8Pairs(s, d)
      val edges = pairs.select(col("doc_a").as("a"), col("doc_b").as("b"))
        .unionByName(pairs.select(col("doc_b").as("a"), col("doc_a").as("b")))
        .repartition(col("a"))
        .localCheckpoint()
      val deg = edges.groupBy("a").agg(count(lit(1)).as("deg")).localCheckpoint()
      val seeds = deg.filter(col("a") < PprSeedMax).select("a").localCheckpoint()
      val nRow = seeds.agg(count(lit(1)).as("n"))
      var p = seeds.crossJoin(broadcast(nRow))
        .select(col("a").as("v"), expr("1000000000000L div n").as("p"))
        .localCheckpoint()
      val restart = seeds.crossJoin(broadcast(nRow))
        .select(col("a").as("v"), expr("150000000000L div n").as("x"))
        .localCheckpoint()
      for (_ <- 1 to Iters) {
        p = edges.join(p, edges("a") === p("v")).join(deg, Seq("a"))
          .select(col("b").as("v"), expr("((85 * p) div 100) div deg").as("x"))
          .unionByName(restart)
          .groupBy("v").agg(sum("x").as("p"))
          .localCheckpoint()
      }
      p.filter(col("p") > 0)
        .select(col("v").as("doc_id"), col("p").as("ppr_x1e12"))
        .orderBy("doc_id")
    },

    // ----- BFS hop layers from the seed set: reachability distance -----
    // The ninth graph lens, and the one PPR's stationary mass hides:
    // EXACT hop distance. Four unrolled synchronous BFS rounds
    // (frontier = min-distance label propagation, the classic
    // Bellman-Ford specialization to unit weights) from the same seed
    // set PPR uses, emitting the layer profile |{v : dist = h}| plus
    // the unreached count as hop −1. That profile is the duplication-
    // ancestry reach curve: hop 1 = direct near-dups of the suspect
    // batch, hop ≥ 2 = transitive contamination a pair-level audit
    // misses, unreached = provably independent docs. Exactness is
    // trivial (integer min-fold — no damping, no division); what the
    // oracle pins is the TOPOLOGY agreeing edge-for-edge through both
    // engines' independent minhash pipelines. The unrolled-CTE oracle
    // MATERIALIZEs every round (the attribution_markov lesson: plain
    // CTEs re-inline the d_{k-1} subtree once per UNION leg — 2^k
    // copies of the band join by round k). Scale shape: edges pinned
    // once, partitioned on the probe key; each round shuffles only the
    // reached-node distance table, which starts seed-sized and grows
    // one hop ring per round.
    "graph_bfs_hops" -> QueryDef.sql(BfsOracleSql) { (s, d) =>
      val pairs = SignatureStore.ensureK8Pairs(s, d)
      val edges = pairs.select(col("doc_a").as("a"), col("doc_b").as("b"))
        .unionByName(pairs.select(col("doc_b").as("a"), col("doc_a").as("b")))
        .repartition(col("a"))
        .localCheckpoint()
      val nodes = edges.select("a").distinct().localCheckpoint()
      var dist = nodes.filter(col("a") < PprSeedMax)
        .select(col("a").as("v"), lit(0L).as("dist"))
        .localCheckpoint()
      for (_ <- 1 to BfsHops) {
        dist = edges.join(dist, edges("a") === dist("v"))
          .select(col("b").as("v"), (col("dist") + 1).as("dist"))
          .unionByName(dist)
          .groupBy("v").agg(min("dist").as("dist"))
          .localCheckpoint()
      }
      val layers = dist.groupBy(col("dist").as("hop"))
        .agg(count(lit(1)).as("n_docs"))
      val unreached = nodes.agg(count(lit(1)).as("nn"))
        .crossJoin(dist.agg(count(lit(1)).as("nr")))
        .select(lit(-1L).as("hop"), (col("nn") - col("nr")).as("n_docs"))
      layers.unionByName(unreached).orderBy("hop")
    },

    // ----- Modularity: grading the LPA communities (Newman 2004) -----
    // The lens that grades a lens: Q = Σ_c (e_in/m − (D_c/2m)²)
    // measures how much denser the discovered communities are than a
    // degree-preserving random graph — the standard accept/reject
    // number for a community structure before canonicalizing by it
    // (Q ≈ 0: the "communities" are noise; Q ≳ 0.3: real structure).
    // Exact to the ppm: every per-community term keeps the common
    // denominator (2m)² — numerators are e_in·2m − D_c² in BIGINT — so
    // the global Q is the sum of numerators with ONE floor division,
    // not a sum of floored terms. Scale shape: the LPA label table is
    // the per-round shuffle (shared [[lpaLabels]] engine), then three
    // node-cardinality joins and a bounded per-community aggregate.
    "graph_modularity" -> QueryDef.sql(ModularityOracleSql) { (s, d) =>
      val pairs = SignatureStore.ensureK8Pairs(s, d)
      modularityStats(pairs).orderBy("community")
    },

    // ----- Link prediction: Adamic–Adar over the candidate graph -----
    // The eighth graph lens answers "which NON-edges should exist":
    // two docs that share many low-degree neighbors are near-certain
    // family members the banded LSH pass happened to miss (signature
    // collision is probabilistic — recall < 1 by design), and the
    // Adamic–Adar weight 1/ln(deg) discounts hub neighbors exactly
    // where common-neighbor counting over-scores boilerplate centers
    // (Adamic & Adar 2003; Liben-Nowell & Kleinberg 2007). Feeding the
    // top predictions back as extra candidate pairs is the standard
    // recall-repair loop for LSH dedup. Determinism: 1/ln enters once
    // per DISTINCT DEGREE (bounded by the cap), round(,6)-then-micro,
    // after which scores are BIGINT sums. Scale shape: same
    // degree-capped wedge join that bounds the triangle count — hubs
    // above the cap are the substring family's territory — and the
    // existing-edge exclusion is an anti-join against the canonical
    // pair table, never a quadratic scan.
    "graph_link_adamic_adar" -> QueryDef.sql(AdamicAdarOracleSql) { (s, d) =>
      val pairs = SignatureStore.ensureK8Pairs(s, d)
        .localCheckpoint()
      val deg0 = pairs.select(col("doc_a").as("v"))
        .unionByName(pairs.select(col("doc_b").as("v")))
        .groupBy("v").agg(count(lit(1)).as("d"))
      val keep = deg0.filter(col("d") <= TriDegreeCap).select("v")
      val ec = pairs
        .join(keep.withColumnRenamed("v", "doc_a"), Seq("doc_a"), "left_semi")
        .join(keep.withColumnRenamed("v", "doc_b"), Seq("doc_b"), "left_semi")
        .select(col("doc_a").as("a"), col("doc_b").as("b"))
        .localCheckpoint()
      val eu = ec.select(col("a").as("src"), col("b").as("dst"))
        .unionByName(ec.select(col("b").as("src"), col("a").as("dst")))
        .localCheckpoint()
      // wedge centers have ≥ 2 distinct neighbors by construction, so
      // ln(deg) is never 0 in a term that survives the join below
      val inv = eu.groupBy(col("src").as("v")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= 2) // deg-1 nodes can't be centers; keeps ln(deg) > 0
        .withColumn("invln",
          expr("CAST(round(1000000 * round(1.0 / ln(CAST(deg AS DOUBLE)), 6)) AS BIGINT)"))
      val x = eu.select(col("src").as("wa"), col("dst").as("ctr"))
      val y = eu.select(col("src").as("ctr"), col("dst").as("wc"))
      val cand = x.join(y, Seq("ctr")).filter(col("wa") < col("wc"))
        .join(ec, col("wa") === col("a") && col("wc") === col("b"), "left_anti")
      cand.join(inv, col("ctr") === col("v"))
        .groupBy(col("wa").as("doc_a"), col("wc").as("doc_b"))
        .agg(count(lit(1)).as("n_common"), sum("invln").as("aa_micro"))
        .orderBy(col("aa_micro").desc, col("doc_a"), col("doc_b"))
    },

    // ----- Degree assortativity of the candidate graph -----
    // Newman's r (2002): do high-degree docs attach to high-degree docs?
    // For the dedup graph the sign is diagnostic — assortative hubs mean
    // template FAMILIES cross-linking (boilerplate farms), disassortative
    // means hub-and-spoke (one canonical, many light edits) — and it
    // prices the wedge-join degree cap the triangle counter relies on.
    // Exactness: r is the Pearson correlation of degrees across edge
    // endpoints; with both directions counted, x and y are exchangeable,
    // so r = cov/var exactly — emitted as the cross-multiplied BIGINTs
    // cov2 = m·Σxy − Σx², var2 = m·Σxx − Σx² and their one ppm floor
    // division, no sqrt anywhere. One pass computes all sums via the
    // symmetric closed forms (m = 2|E|, Σxy = 2Σd_a·d_b, …). The edge
    // list reads the persisted band store; degrees are one hash agg.
    "graph_assortativity" -> QueryDef.sql(
      s"""WITH ${TextQueries.MinhashBandsCte},
         |pairs AS (${TextQueries.BandedPairsSelect}),
         |deg AS (
         |  SELECT v, CAST(count(*) AS BIGINT) AS d FROM (
         |    SELECT doc_a AS v FROM pairs
         |    UNION ALL SELECT doc_b AS v FROM pairs) GROUP BY 1),
         |agg AS (
         |  SELECT CAST(2 * count(*) AS BIGINT) AS m,
         |    CAST(sum(da.d + db.d) AS BIGINT) AS sx,
         |    CAST(2 * sum(CAST(da.d AS HUGEINT) * db.d) AS HUGEINT) AS sxy,
         |    CAST(sum(CAST(da.d AS HUGEINT) * da.d
         |      + CAST(db.d AS HUGEINT) * db.d) AS HUGEINT) AS sxx
         |  FROM pairs p
         |  JOIN deg da ON da.v = p.doc_a
         |  JOIN deg db ON db.v = p.doc_b)
         |SELECT m AS n_endpoints, sx AS sum_deg,
         |  CAST(m * sxy - CAST(sx AS HUGEINT) * sx AS BIGINT) AS cov2,
         |  CAST(m * sxx - CAST(sx AS HUGEINT) * sx AS BIGINT) AS var2,
         |  CAST((1000000 * (m * sxy - CAST(sx AS HUGEINT) * sx))
         |    // (m * sxx - CAST(sx AS HUGEINT) * sx) AS BIGINT) AS r_ppm
         |FROM agg""".stripMargin) { (s, d) =>
      val pairs = SignatureStore.ensureK8Pairs(s, d)
        .localCheckpoint() // degree fold + endpoint join share it
      val deg = pairs.select(col("doc_a").as("v"))
        .unionByName(pairs.select(col("doc_b").as("v")))
        .groupBy("v").agg(count(lit(1)).as("d"))
      pairs
        .join(deg.toDF("doc_a", "da"), Seq("doc_a"))
        .join(deg.toDF("doc_b", "db"), Seq("doc_b"))
        .agg((lit(2L) * count(lit(1))).as("m"),
          sum(col("da") + col("db")).as("sx"),
          (lit(2L) * sum(expr("CAST(da AS DECIMAL(38,0)) * db"))).as("sxy"),
          sum(expr("""CAST(da AS DECIMAL(38,0)) * da
                     |  + CAST(db AS DECIMAL(38,0)) * db""".stripMargin))
            .as("sxx"))
        .select(col("m").as("n_endpoints"), col("sx").as("sum_deg"),
          expr("CAST(m * sxy - CAST(sx AS DECIMAL(38,0)) * sx AS BIGINT)")
            .as("cov2"),
          expr("CAST(m * sxx - CAST(sx AS DECIMAL(38,0)) * sx AS BIGINT)")
            .as("var2"),
          expr("""CAST((1000000 * (m * sxy - CAST(sx AS DECIMAL(38,0)) * sx))
                 |  div (m * sxx - CAST(sx AS DECIMAL(38,0)) * sx) AS BIGINT)"""
            .stripMargin).as("r_ppm"))
    },

    // ----- HITS hubs/authorities on the customer→supplier graph -----
    // The eighth graph lens, and the first on a DIRECTED bipartite
    // graph: customers are hubs (good buyers touch many good
    // suppliers), suppliers are authorities (good suppliers are touched
    // by good buyers) — Kleinberg's mutual recursion h = A·a, a = Aᵀ·h.
    // Two unrolled iterations from a₀ = 1 stay exact BIGINTs with NO
    // normalization: rankings are scale-invariant, and the magnitudes
    // are bounded by Δ_cust·Δ_supp·|E| (≲ 10¹⁰ at sf1; a 100 TB run
    // would floor-divide by a fixed 2²⁰ between iterations — the
    // ts_holt_winters discipline — before BIGINT pressure appears).
    // Plan shape: the distinct edge list is pinned once; each half-step
    // is one join + one hash agg shuffling node-cardinality rows; the
    // top-20 cut is TakeOrderedAndProject, and the rank window runs on
    // the 20 surviving rows only.
    "graph_hits" -> QueryDef.sql(
      """WITH e AS (
        |  SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
        |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
        |h1 AS (SELECT c, CAST(count(*) AS BIGINT) AS h FROM e GROUP BY 1),
        |a1 AS (SELECT e.s, CAST(sum(h1.h) AS BIGINT) AS a
        |  FROM e JOIN h1 ON h1.c = e.c GROUP BY 1),
        |h2 AS (SELECT e.c, CAST(sum(a1.a) AS BIGINT) AS h
        |  FROM e JOIN a1 ON a1.s = e.s GROUP BY 1),
        |a2 AS (SELECT e.s, CAST(sum(h2.h) AS BIGINT) AS a
        |  FROM e JOIN h2 ON h2.c = e.c GROUP BY 1),
        |ta AS (SELECT 'authority' AS role, s AS node_key, a AS score,
        |    CAST(row_number() OVER (ORDER BY a DESC, s) AS BIGINT) AS rank
        |  FROM a2 ORDER BY a DESC, s LIMIT 20),
        |th AS (SELECT 'hub' AS role, c AS node_key, h AS score,
        |    CAST(row_number() OVER (ORDER BY h DESC, c) AS BIGINT) AS rank
        |  FROM h2 ORDER BY h DESC, c LIMIT 20)
        |SELECT * FROM ta UNION ALL SELECT * FROM th
        |ORDER BY role, rank""".stripMargin) { (s, d) =>
      import graft.util.Tables.{lineitem, orders}
      val e = orders(s, d).select("o_orderkey", "o_custkey")
        .join(lineitem(s, d).select("l_orderkey", "l_suppkey"),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("c"), col("l_suppkey").as("s"))
        .distinct()
        .localCheckpoint() // all four half-steps re-read the edges
      val h1 = e.groupBy("c").agg(count(lit(1)).as("h"))
      val a1 = e.join(h1, Seq("c")).groupBy("s").agg(sum("h").as("a"))
      val h2 = e.join(a1, Seq("s")).groupBy("c").agg(sum("a").as("h"))
      val a2 = e.join(h2, Seq("c")).groupBy("s").agg(sum("h").as("a"))
      def top20(df: org.apache.spark.sql.DataFrame, role: String,
          key: String, score: String) = {
        val lim = df.orderBy(col(score).desc, col(key)).limit(20)
        lim.withColumn("rank",
            row_number().over(org.apache.spark.sql.expressions.Window
              .orderBy(col(score).desc, col(key))).cast("long"))
          .select(lit(role).as("role"), col(key).cast("long").as("node_key"),
            col(score).as("score"), col("rank"))
      }
      top20(a2, "authority", "s", "a")
        .unionByName(top20(h2, "hub", "c", "h"))
        .orderBy("role", "rank")
    },
  )

  private lazy val AdamicAdarOracleSql: String =
    s"""WITH ${TextQueries.MinhashBandsCte},
       |pairs AS (${TextQueries.BandedPairsSelect}),
       |deg0 AS (
       |  SELECT v, count(*) AS d FROM (
       |    SELECT doc_a AS v FROM pairs UNION ALL SELECT doc_b AS v FROM pairs)
       |  GROUP BY v),
       |keep AS (SELECT v FROM deg0 WHERE d <= $TriDegreeCap),
       |ec AS (
       |  SELECT p.doc_a AS a, p.doc_b AS b FROM pairs p
       |  JOIN keep k1 ON k1.v = p.doc_a JOIN keep k2 ON k2.v = p.doc_b),
       |eu AS (SELECT a AS src, b AS dst FROM ec
       |       UNION ALL SELECT b AS src, a AS dst FROM ec),
       |inv AS (
       |  SELECT src AS v, CAST(round(1000000 * round(
       |    1.0 / ln(CAST(count(*) AS DOUBLE)), 6)) AS BIGINT) AS invln
       |  FROM eu GROUP BY src HAVING count(*) >= 2),
       |cand AS (
       |  SELECT x.src AS wa, x.dst AS ctr, y.dst AS wc
       |  FROM eu x JOIN eu y ON y.src = x.dst AND x.src < y.dst
       |  WHERE NOT EXISTS (SELECT 1 FROM ec WHERE ec.a = x.src AND ec.b = y.dst))
       |SELECT cand.wa AS doc_a, cand.wc AS doc_b,
       |  CAST(count(*) AS BIGINT) AS n_common,
       |  CAST(sum(inv.invln) AS BIGINT) AS aa_micro
       |FROM cand JOIN inv ON inv.v = cand.ctr
       |GROUP BY cand.wa, cand.wc
       |ORDER BY aa_micro DESC, doc_a, doc_b""".stripMargin

  /** Seed set for `ppr_related_docs`: graph nodes with doc_id below this. */
  val PprSeedMax = 50

  /** Unrolled BFS rounds for `graph_bfs_hops`; rounds past the graph's
    * eccentricity from the seed set are exact no-ops (min-fold). */
  val BfsHops = 4

  private lazy val BfsOracleSql: String = {
    val rounds = (1 to BfsHops).map { k =>
      s"""d$k AS MATERIALIZED (
         |  SELECT v, CAST(min(dist) AS BIGINT) AS dist FROM (
         |    SELECT v, dist FROM d${k - 1}
         |    UNION ALL
         |    SELECT e.b AS v, d.dist + 1 FROM edges e JOIN d${k - 1} d ON d.v = e.a)
         |  GROUP BY v)""".stripMargin
    }
    s"""WITH ${TextQueries.MinhashBandsCte},
       |pairs AS (${TextQueries.BandedPairsSelect}),
       |edges AS MATERIALIZED (
       |  SELECT doc_a AS a, doc_b AS b FROM pairs
       |  UNION ALL SELECT doc_b AS a, doc_a AS b FROM pairs),
       |nodes AS (SELECT DISTINCT a FROM edges),
       |d0 AS MATERIALIZED (
       |  SELECT a AS v, CAST(0 AS BIGINT) AS dist FROM nodes WHERE a < $PprSeedMax),
       |${rounds.mkString(",\n")},
       |lay AS (SELECT dist AS hop, CAST(count(*) AS BIGINT) AS n_docs
       |        FROM d$BfsHops GROUP BY 1),
       |un AS (SELECT CAST(-1 AS BIGINT) AS hop,
       |        CAST((SELECT count(*) FROM nodes)
       |             - (SELECT count(*) FROM d$BfsHops) AS BIGINT) AS n_docs)
       |SELECT hop, n_docs FROM lay
       |UNION ALL SELECT hop, n_docs FROM un
       |ORDER BY hop""".stripMargin
  }

  private lazy val PprOracleSql: String = {
    val iters = (1 to Iters).map { k =>
      s"""p$k AS (
         |  SELECT v, CAST(sum(x) AS BIGINT) AS p FROM (
         |    SELECT e.b AS v, ((85 * p.p) // 100) // d.deg AS x
         |    FROM edges e JOIN p${k - 1} p ON p.v = e.a JOIN deg d ON d.a = e.a
         |    UNION ALL
         |    SELECT s.a AS v, 150000000000 // ns.n AS x FROM seeds s CROSS JOIN ns)
         |  GROUP BY v)""".stripMargin
    }
    s"""WITH ${TextQueries.MinhashBandsCte},
       |pairs AS (${TextQueries.BandedPairsSelect}),
       |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
       |          UNION ALL SELECT doc_b AS a, doc_a AS b FROM pairs),
       |deg AS (SELECT a, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY a),
       |seeds AS (SELECT a FROM deg WHERE a < $PprSeedMax),
       |ns AS (SELECT CAST(count(*) AS BIGINT) AS n FROM seeds),
       |p0 AS (SELECT a AS v, 1000000000000 // n AS p FROM seeds CROSS JOIN ns),
       |${iters.mkString(",\n")}
       |SELECT v AS doc_id, p AS ppr_x1e12 FROM p$Iters
       |WHERE p > 0 ORDER BY doc_id""".stripMargin
  }

  /** Synchronous k-core peel over an oriented distinct (doc_a < doc_b)
    * pair table; exposed for the fixpoint/planted-graph spec. Returns
    * (doc_id, deg0, core_deg) for nodes surviving `rounds` peels at
    * threshold `k`. */
  def kcoreStats(pairs0: org.apache.spark.sql.DataFrame,
      k: Int = KcoreK, rounds: Int = KcoreRounds): org.apache.spark.sql.DataFrame = {
    val edges0 = pairs0.select(col("doc_a").as("a"), col("doc_b").as("b"))
      .unionByName(pairs0.select(col("doc_b").as("a"), col("doc_a").as("b")))
      .repartition(col("a"))
      .localCheckpoint()
    val deg0 = edges0.groupBy("a").agg(count(lit(1)).as("deg0"))
    var edges = edges0
    for (_ <- 1 to rounds) {
      val surv = edges.groupBy("a").agg(count(lit(1)).as("dg"))
        .filter(col("dg") >= k).select("a")
        .localCheckpoint()
      edges = edges
        .join(surv, Seq("a"), "left_semi")
        .join(surv.withColumnRenamed("a", "b"), Seq("b"), "left_semi")
        .localCheckpoint()
    }
    edges.groupBy("a").agg(count(lit(1)).as("core_deg"))
      .join(deg0, Seq("a"))
      .select(col("a").as("doc_id"), col("deg0"), col("core_deg"))
  }

  private lazy val KcoreOracleSql: String = {
    val rounds = (1 to KcoreRounds).map { r =>
      s"""s$r AS (SELECT a FROM e${r - 1} GROUP BY a HAVING count(*) >= $KcoreK),
         |e$r AS (
         |  SELECT e.a, e.b FROM e${r - 1} e
         |  JOIN s$r x ON x.a = e.a JOIN s$r y ON y.a = e.b)""".stripMargin
    }
    s"""WITH ${TextQueries.MinhashBandsCte},
       |pairs AS (${TextQueries.BandedPairsSelect}),
       |e0 AS (SELECT doc_a AS a, doc_b AS b FROM pairs
       |       UNION ALL SELECT doc_b AS a, doc_a AS b FROM pairs),
       |deg0 AS (SELECT a, CAST(count(*) AS BIGINT) AS deg0 FROM e0 GROUP BY a),
       |${rounds.mkString(",\n")},
       |core AS (SELECT a, CAST(count(*) AS BIGINT) AS core_deg
       |         FROM e$KcoreRounds GROUP BY a)
       |SELECT c.a AS doc_id, d.deg0, c.core_deg
       |FROM core c JOIN deg0 d ON d.a = c.a
       |ORDER BY doc_id""".stripMargin
  }

  /** Shared CTE prefix: candidate edges + the [[Iters]]-round LPA
    * unroll, ending at `l$Iters` — the SQL twin of [[lpaLabels]]. */
  private lazy val LpaCtes: String = {
    val iters = (1 to Iters).map { k =>
      s"""l$k AS (
         |  SELECT v, lab FROM (
         |    SELECT e.a AS v, l.lab, count(*) AS n,
         |      row_number() OVER (PARTITION BY e.a ORDER BY count(*) DESC, l.lab) AS rn
         |    FROM edges e JOIN l${k - 1} l ON l.v = e.b
         |    GROUP BY e.a, l.lab) WHERE rn = 1)""".stripMargin
    }
    s"""${TextQueries.MinhashBandsCte},
       |pairs AS (${TextQueries.BandedPairsSelect}),
       |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
       |          UNION ALL SELECT doc_b AS a, doc_a AS b FROM pairs),
       |l0 AS (SELECT DISTINCT a AS v, a AS lab FROM edges),
       |${iters.mkString(",\n")}""".stripMargin
  }

  private lazy val LabelPropOracleSql: String =
    s"""WITH $LpaCtes,
       |sz AS (SELECT lab, CAST(count(*) AS BIGINT) AS community_size
       |       FROM l$Iters GROUP BY lab)
       |SELECT l.v AS doc_id, l.lab AS community, s.community_size
       |FROM l$Iters l JOIN sz s ON s.lab = l.lab
       |ORDER BY doc_id""".stripMargin

  private lazy val ModularityOracleSql: String =
    s"""WITH $LpaCtes,
       |deg AS (SELECT a AS v, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY a),
       |m2 AS (SELECT CAST(count(*) AS BIGINT) AS m2 FROM edges),
       |lab AS (SELECT v, lab FROM l$Iters),
       |ein AS (
       |  SELECT la.lab, CAST(count(*) AS BIGINT) AS e_in
       |  FROM edges e JOIN lab la ON la.v = e.a JOIN lab lb ON lb.v = e.b
       |  WHERE la.lab = lb.lab GROUP BY la.lab),
       |dsum AS (
       |  SELECT la.lab, CAST(count(*) AS BIGINT) AS n_nodes,
       |    CAST(sum(d.deg) AS BIGINT) AS deg_sum
       |  FROM lab la JOIN deg d ON d.v = la.v GROUP BY la.lab),
       |terms AS (
       |  SELECT ds.lab AS community, ds.n_nodes,
       |    CAST(coalesce(e.e_in, 0) AS BIGINT) AS e_in, ds.deg_sum,
       |    coalesce(e.e_in, 0) * m2.m2 - ds.deg_sum * ds.deg_sum AS num
       |  FROM dsum ds LEFT JOIN ein e ON e.lab = ds.lab CROSS JOIN m2),
       |tot AS (SELECT CAST(sum(num) AS BIGINT) AS tn FROM terms)
       |SELECT t.community, t.n_nodes, t.e_in, t.deg_sum,
       |  CAST((1000000 * t.num) // (m2.m2 * m2.m2) AS BIGINT) AS q_term_ppm,
       |  CAST((1000000 * tot.tn) // (m2.m2 * m2.m2) AS BIGINT) AS modularity_ppm
       |FROM terms t CROSS JOIN m2 CROSS JOIN tot
       |ORDER BY community""".stripMargin

  /** Deterministic synchronous label propagation ([[Iters]] rounds,
    * ties to the smallest label) over a directed edge table (a, b) —
    * the shared engine behind `dup_graph_communities` and
    * `graph_modularity`. Argmax by (count, smallest label) via max_by
    * over (n, −lab): both stages stay partial-combinable hash
    * aggregates, where the window-rank spelling would pay a full
    * per-round SORT of the (node, label) table on top of its exchange.
    * Each round shuffles only the node-cardinality label table; the
    * edges never move. */
  private[operators] def lpaLabels(
      edges: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    var lab = edges.select(col("a").as("v")).distinct()
      .select(col("v"), col("v").as("lab"))
      .localCheckpoint()
    for (_ <- 1 to Iters) {
      lab = edges.join(lab, edges("b") === lab("v"))
        .groupBy(col("a"), col("lab")).agg(count(lit(1)).as("n"))
        .groupBy(col("a"))
        .agg(max_by(col("lab"), struct(col("n"), -col("lab"))).as("lab"))
        .select(col("a").as("v"), col("lab"))
        .localCheckpoint()
    }
    lab
  }

  /** Per-community modularity terms + the global Q over an oriented
    * (doc_a < doc_b) pair table, with communities from [[lpaLabels]];
    * exposed for planted-graph property tests. Every per-community
    * numerator keeps the common (2m)² denominator so the global Q is
    * one floor division over the summed numerators. */
  def modularityStats(pairs0: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val edges = pairs0.select(col("doc_a").as("a"), col("doc_b").as("b"))
      .unionByName(pairs0.select(col("doc_b").as("a"), col("doc_a").as("b")))
      .repartition(col("b"))
      .localCheckpoint()
    val lab = lpaLabels(edges).localCheckpoint()
    val deg = edges.groupBy(col("a").as("v")).agg(count(lit(1)).as("deg"))
    val m2 = edges.agg(count(lit(1)).as("m2"))
    val ein = edges
      .join(lab.select(col("v").as("a"), col("lab").as("la")), Seq("a"))
      .join(lab.select(col("v").as("b"), col("lab").as("lb")), Seq("b"))
      .filter(col("la") === col("lb"))
      .groupBy(col("la").as("lab")).agg(count(lit(1)).as("e_in"))
    val dsum = lab.join(deg, Seq("v"))
      .groupBy("lab")
      .agg(count(lit(1)).as("n_nodes"), sum("deg").as("deg_sum"))
    val terms = dsum.join(ein, Seq("lab"), "left")
      .crossJoin(broadcast(m2))
      .select(col("lab").as("community"), col("n_nodes"),
        coalesce(col("e_in"), lit(0L)).as("e_in"), col("deg_sum"),
        (coalesce(col("e_in"), lit(0L)) * col("m2") -
          col("deg_sum") * col("deg_sum")).as("num"),
        col("m2"))
      .localCheckpoint()
    val tot = terms.agg(sum("num").as("tn"))
    terms.crossJoin(broadcast(tot))
      .select(col("community"), col("n_nodes"), col("e_in"), col("deg_sum"),
        expr("(1000000 * num) div (m2 * m2)").as("q_term_ppm"),
        expr("(1000000 * tn) div (m2 * m2)").as("modularity_ppm"))
  }

  /** Per-node triangle count + clustering coefficient over an oriented
    * (doc_a < doc_b) distinct pair table, degree-capped (see
    * [[TriDegreeCap]]); exposed for property tests on planted graphs. */
  def triangleStats(pairs0: org.apache.spark.sql.DataFrame,
      cap: Int = TriDegreeCap): org.apache.spark.sql.DataFrame = {
    val pairs = pairs0.localCheckpoint()
    val deg0 = pairs.select(col("doc_a").as("v"))
      .unionByName(pairs.select(col("doc_b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("d"))
    val keep = deg0.filter(col("d") <= cap).select("v")
    val e = pairs
      .join(keep.withColumnRenamed("v", "doc_a"), Seq("doc_a"), "left_semi")
      .join(keep.withColumnRenamed("v", "doc_b"), Seq("doc_b"), "left_semi")
      .select(col("doc_a").as("a"), col("doc_b").as("b"))
      .localCheckpoint()
    val degc = e.select(col("a").as("v"))
      .unionByName(e.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("deg"))
    val wedges = e.join(e.select(col("a").as("b"), col("b").as("c")), Seq("b"))
    val tri = wedges.join(
      e.select(col("a"), col("b").as("c")), Seq("a", "c"), "left_semi")
    val pern = tri.select(explode(array(col("a"), col("b"), col("c"))).as("v"))
      .groupBy("v").agg(count(lit(1)).as("n_tri"))
    degc.join(pern, Seq("v"), "left")
      .filter(col("deg") >= 2)
      .select(col("v").as("doc_id"), col("deg"),
        coalesce(col("n_tri"), lit(0L)).as("n_triangles"))
      .withColumn("clustering_ppm",
        expr("CAST((2000000L * n_triangles) div (deg * (deg - 1)) AS BIGINT)"))
  }

  private lazy val TriangleOracleSql: String = (
      s"""WITH ${TextQueries.MinhashBandsCte},
         |pairs AS (${TextQueries.BandedPairsSelect}),
         |deg0 AS (
         |  SELECT v, count(*) AS d FROM (
         |    SELECT doc_a AS v FROM pairs UNION ALL SELECT doc_b AS v FROM pairs)
         |  GROUP BY v),
         |keep AS (SELECT v FROM deg0 WHERE d <= $TriDegreeCap),
         |e AS (
         |  SELECT p.doc_a AS a, p.doc_b AS b FROM pairs p
         |  JOIN keep k1 ON k1.v = p.doc_a JOIN keep k2 ON k2.v = p.doc_b),
         |degc AS (
         |  SELECT v, CAST(count(*) AS BIGINT) AS deg FROM (
         |    SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e) GROUP BY v),
         |tri AS (
         |  SELECT e1.a, e1.b, e2.b AS c FROM e e1
         |  JOIN e e2 ON e2.a = e1.b
         |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
         |pern AS (
         |  SELECT v, CAST(count(*) AS BIGINT) AS n_tri FROM (
         |    SELECT a AS v FROM tri UNION ALL SELECT b AS v FROM tri
         |    UNION ALL SELECT c AS v FROM tri) GROUP BY v)
         |SELECT d.v AS doc_id, d.deg,
         |  COALESCE(p.n_tri, 0) AS n_triangles,
         |  CAST((2000000 * COALESCE(p.n_tri, 0)) // (d.deg * (d.deg - 1)) AS BIGINT)
         |    AS clustering_ppm
         |FROM degc d LEFT JOIN pern p ON p.v = d.v
         |WHERE d.deg >= 2 ORDER BY doc_id""".stripMargin)
}
