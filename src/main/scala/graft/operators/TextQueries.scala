package graft.operators

import graft.QueryDef
import graft.util.Tables._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Large-scale training-data-pipeline text operators over `documents`:
  * exact + near dedup (minhash / simhash), token stats, quality scoring,
  * language-ID heuristic, fingerprinting.
  *
  * Scale posture: every operator is a groupBy / equi-join on a derived
  * key (hash, signature band) — shuffles are on small keys, never on full
  * text; candidate generation is LSH-style (band bucket equi-join), so the
  * quadratic all-pairs compare never materializes at 100 TB.
  */
object TextQueries {

  /** Lower-cased whitespace tokens (Spark-side builder) — the native
    * [[graft.functions.WsTokens]] byte-scan, exactly
    * `split(trim(lower(text)), '\\s+')` (WsTokensSpec pins the
    * equivalence; the DuckDB oracles keep their string_split_regex). */
  private[operators] val toksExpr = "ws_tokens(text)"

  /** Spread a small-file scan across all cores BEFORE row-exploding
    * work: a few-MB documents table arrives as ONE input split, which
    * serializes the entire shingle+md5 stage onto one task (measured: the
    * sketch queries ran no faster on 32 cores than 8). The few-MB
    * pre-explode shuffle is free by comparison.
    *
    * CONDITIONAL: a 100 TB scan already arrives as thousands of splits —
    * repartitioning there would inject a pointless corpus-wide exchange
    * of raw text ahead of every sketch stage. The widen only fires when
    * UNDER HALF the slots would be busy (SpreadSpec pins the
    * no-Exchange plan for the many-split case): a 16-partition scan on
    * 32 slots already saturates the machine within 2×, and the
    * repartition costs a full row-serialized exchange of the input —
    * measured r11 on `bm25_search_stored`, whose 16-file postings store
    * paid a 38 MB shuffle (7.7 of its 10.5 task-CPU-seconds) to go
    * 16-wide → 32-wide. A 1-split fixture-scale store still widens.
    * `.rdd.getNumPartitions` only plans the query — no job runs. */
  private[operators] def spread(df: org.apache.spark.sql.DataFrame) = {
    val slots = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions * 2 < slots) df.repartition(slots) else df
  }

  /** [[spread]] with a HASH key instead of round-robin — for serving
    * boundaries whose consumers aggregate by `keys`: round-robin
    * scatters one key's rows across every partition, so downstream
    * partial aggregation cannot collapse them and the exchange carries
    * one partial row per (key, partition) — measured r11 on
    * `bm25_search_stored`, where the round-robin widen inflated the
    * (qid, doc_id) contribution exchange to 38.5 MB (7 of its 10
    * task-CPU-seconds). Hash-spreading by doc_id keeps each document's
    * postings together: the partial agg emits each key once. */
  private[operators] def spreadBy(df: org.apache.spark.sql.DataFrame,
      keys: org.apache.spark.sql.Column*) = {
    val slots = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions * 2 < slots) df.repartition(slots, keys: _*) else df
  }

  /** Whitespace-normalized md5 content fingerprint — the ONE definition
    * shared by the batch `text_fingerprint` query and the streaming exact
    * dedup ([[graft.streaming.EventStream.dedupExactStream]]), so a
    * normalization tweak can never desynchronize cross-path dedup. */
  def fingerprintCol(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    md5(regexp_replace(trim(lower(c)), "\\s+", " ").cast("binary"))

  /** Max bigram count of a token-array column, computed PER ROW by the
    * native codegen expression [[graft.functions.MaxBigramRun]]. Replaces
    * the explode → groupBy(doc, bigram) → groupBy(doc) shape, whose two
    * shuffles carry every distinct bigram of the corpus — this is a
    * stateless projection pipelined into the scan (per-row cost
    * O(k log k) in document tokens). An earlier higher-order-function
    * formulation of the same sorted-run idea was CodegenFallback —
    * interpreted lambda dispatch per element, ~500× slower per row. */
  private[graft] def maxBigramRun(tk: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    graft.functions.MaxBigramRun.max_bigram_run(tk)

  private val MinhashP = 1000000007L

  /** Minhash LSH band table (k=8 affine hashes over one md5 per shingle,
    * 4 bands of 2): (doc_id, band, key). The signature computation shared
    * by the live query and the persisted [[SignatureStore]].
    *
    * The signature is the native codegen
    * [[graft.functions.MinhashSigs]] expression — one per-row loop over
    * the shingles, pipelined into the scan. The former
    * explode → md5 → groupBy(8-way min) shape amplified the corpus to
    * one row per CHARACTER and hash-aggregated it back; same md5/affine
    * arithmetic (and the same DuckDB oracle), zero row amplification. */
  def minhashBandsOf(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val p = MinhashP
    // null text has no shingles ⇒ no bands (the pre-native explode shape
    // dropped such docs; keeping them would plant null-key rows in the
    // persisted band store and diverge from the oracle's unnest).
    spread(docs.filter(col("text").isNotNull))
      .select(col("doc_id"),
        graft.functions.MinhashSigs.minhash_sigs(col("text")).as("hs"))
      .select(
        col("doc_id"),
        expr(s"posexplode(array(hs[0] * ${p}L + hs[1], hs[2] * ${p}L + hs[3], " +
          s"hs[4] * ${p}L + hs[5], hs[6] * ${p}L + hs[7])) AS (band, key)"))
      .select("doc_id", "band", "key")
  }

  /** One-permutation-hashing band table (doc_id, band, key) — the
    * 8×-cheaper signature: ONE md5 pass per shingle, bin-min per
    * `v % 8`, Shrivastava–Li rotation densification (slot = v·8 +
    * offset), 4 bands of 2 slots. The whole signature is the native
    * codegen [[graft.functions.OphSlots]] expression — its first
    * generation composed `shingle_hashes` with higher-order functions
    * and re-scanned the hash array 8× per document (measured 6.3 s at
    * sf0.1 where the 8-affine path took 1.4 s, inverting OPH's
    * premise); the one-pass kernel restores the k-fold hash-evaluation
    * saving OPH exists for. Shared by the live `dedup_minhash_oph`
    * path, the persisted store, and the streaming maintainer — stored
    * and live must stay bit-identical (the `_stored` twin is held to
    * the same oracle). The band keys fold the two slot values mod p
    * (4 array ops per document — negligible). */
  def ophBandsOf(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    spread(docs.filter(col("text").isNotNull))
      .select(col("doc_id"), graft.functions.OphSlots.oph_slots(col("text")).as("sv"))
      .select(col("doc_id"),
        posexplode(expr(
          """transform(sequence(0, 3), b ->
            |  (element_at(sv, 2 * CAST(b AS INT) + 1) % 1000000007L) * 1000000007L
            |    + (element_at(sv, 2 * CAST(b AS INT) + 2) % 1000000007L))""".stripMargin)))
      .select(col("doc_id"), col("pos").cast("long").as("band"), col("col").as("key"))

  /** 60-bit simhash signatures over md5-hashed distinct tokens:
    * (doc_id, sig). Shared by the live query and [[SignatureStore]].
    *
    * The signature is the native codegen
    * [[graft.functions.SimhashSig]] expression — tokens dedupe and vote
    * inside one per-row loop pipelined into the scan. This replaces two
    * earlier generations of the aggregate shape (explode(distinct
    * tokens) → 61 vote sums, then the 21-packed-column variant built to
    * tame janino compile times): same signatures, same oracle, but no
    * per-token row amplification, no wide hash-aggregate, and no packed
    * 2^20-tokens-per-field capacity caveat. */
  def simhashSigsOf(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    // null text ⇒ no tokens ⇒ no signature row (matches the pre-native
    // explode(distinct tokens) shape, which emitted nothing for nulls).
    spread(docs.filter(col("text").isNotNull))
      .select(col("doc_id"),
        graft.functions.SimhashSig.simhash_sig(expr(toksExpr)).as("sig"))

  /** Banded hamming-join candidates from a (doc_id, sig) simhash table —
    * 4 bands × 15 bits, pairs colliding in ≥1 band kept when full-width
    * hamming ≤ 3. Shared by the live query and the persisted-store
    * variant so the two paths cannot diverge. */
  def simhashPairs(sig: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val bands = sig.select(
      col("doc_id"), col("sig"),
      expr("posexplode(transform(sequence(0, 3), b -> shiftright(sig, b * 15) & 32767L)) AS (band, key)"))
      .select("doc_id", "sig", "band", "key")
      // localCheckpoint: the banded self-join consumes `bands` twice — on
      // the live path that would re-run the whole vote aggregation per side.
      .localCheckpoint()
    val a = bands.select(col("doc_id").as("doc_a"), col("sig").as("sig_a"), col("band"), col("key"))
    val b = bands.select(col("doc_id").as("doc_b"), col("sig").as("sig_b"), col("band"), col("key"))
    a.join(b, Seq("band", "key")).filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        expr("bit_count(sig_a ^ sig_b)").cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= 3)
  }

  /** The simhash oracle, shared verbatim by the live and stored queries. */
  private def SimhashOracleSql(duckVotes: String, duckSig: String, duckBands: String): String =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(list_distinct(string_split_regex(trim(lower(text)), '\\s+'))) AS t
       |  FROM documents),
       |h AS (SELECT doc_id, ('0x' || substr(md5(t), 1, 15))::BIGINT AS h FROM toks),
       |votes AS (
       |  SELECT doc_id,
       |    $duckVotes
       |  FROM h GROUP BY doc_id),
       |sig AS (SELECT doc_id, $duckSig AS sig FROM votes),
       |bands AS (
       |  $duckBands)
       |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
       |FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.sig, b.sig)) <= 3
       |ORDER BY doc_a, doc_b""".stripMargin

  /** (doc_id, line_idx, line): fixed 10-token "lines" of a document —
    * the RefinedWeb/CCNet line-dedup unit. Pure map stage (explode is
    * per-row bounded by document size); shared by the live
    * `dedup_lines` query, the persisted line registry
    * ([[SignatureStore.ensureLineRegistry]]), and the streaming
    * maintenance path so none of them can diverge. */
  def linesOf(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    spread(docs)
      .withColumn("toks", expr(toksExpr))
      .select(col("doc_id"), col("toks"), size(col("toks")).cast("long").as("n"))
      .select(col("doc_id"), col("toks"), col("n"),
        explode(sequence(lit(0L), expr("(n - 1) div 10"))).as("k"))
      .select(col("doc_id"), col("k").as("line_idx"),
        concat_ws(" ", slice(col("toks"),
          (lit(1) + lit(10) * col("k")).cast("int"),
          (least(col("k") * 10 + 10, col("n")) - col("k") * 10).cast("int"))).as("line"))

  /** First-occurrence line registry from a (doc_id, line_idx, line)
    * table: (line_fp, first_doc, first_idx) — one row per distinct line,
    * owner = lowest (doc_id, line_idx). The window partitions by line
    * fingerprint (hash shuffle, no global sort); only the md5 is stored,
    * never the text. */
  def lineRegistryOf(lines: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    lines
      .select(md5(col("line").cast("binary")).as("line_fp"),
        col("doc_id"), col("line_idx"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("line_fp").orderBy("doc_id", "line_idx")))
      .filter(col("rn") === 1)
      .select(col("line_fp"), col("doc_id").as("first_doc"),
        col("line_idx").as("first_idx"))

  /** Per-document reassembly over kept-flagged lines — the tail of both
    * dedup_lines paths: counts + the fingerprint of the surviving text
    * restored to line order. collect_list skips the nulls `when` leaves
    * on dropped lines; array_sort on (line_idx, line) structs restores
    * text order. */
  private[operators] def reassembleKeptLines(
      flagged: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    flagged.groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_lines"),
        count(when(col("kept"), 1)).as("n_kept"),
        md5(concat_ws(" ",
          transform(
            array_sort(collect_list(when(col("kept"),
              struct(col("line_idx"), col("line"))))),
            x => x.getField("line"))).cast("binary")).as("clean_fp"))
      .select(col("doc_id"), col("n_lines"), col("n_kept"),
        (col("n_lines") - col("n_kept")).as("n_dropped"), col("clean_fp"))
      .orderBy("doc_id")

  /** Degenerate-bucket cap for LSH self-joins: a single hot bucket of n
    * members emits n(n−1)/2 pairs, so ONE boilerplate signature shared by
    * 10⁶ near-empty documents would make the band join quadratic. Buckets
    * above the cap are dropped from candidate generation (standard
    * production guard — such buckets are noise signatures, not near-dup
    * evidence) and surfaced via [[oversizedBuckets]] for accounting.
    * The cap is far above any bucket the test corpora produce (sf0.1 max
    * observed: 335), so oracle results are unchanged on normal data. */
  val DefaultMaxBucket = 5000

  /** Accounting view: the (band, key, n) buckets the cap would drop. */
  def oversizedBuckets(bands: org.apache.spark.sql.DataFrame,
      maxBucket: Int = DefaultMaxBucket): org.apache.spark.sql.DataFrame =
    bands.groupBy("band", "key").agg(count(lit(1)).as("n"))
      .filter(col("n") > maxBucket)

  /** Distinct colliding (doc_a < doc_b) pairs from a (doc_id, sig)
    * single-signature table (the k=1 minhash candidate join). Guarded
    * like [[bandedPairs]]: one boilerplate signature shared by 10⁶
    * near-empty documents would make the self-join quadratic, so
    * signatures with more than `maxBucket` members are dropped from
    * candidate generation via a broadcast anti-join on the (tiny,
    * map-side-combined) per-signature counts. The cap is far above any
    * signature bucket the test corpora produce, so oracle results are
    * unchanged on normal data; MegaBucketSpec plants a degenerate one. */
  def sigSelfJoinPairs(sig: org.apache.spark.sql.DataFrame,
      maxBucket: Int = DefaultMaxBucket): org.apache.spark.sql.DataFrame = {
    val hot = sig.groupBy("sig").agg(count(lit(1)).as("n"))
      .filter(col("n") > maxBucket).select("sig")
    val guarded = sig.join(broadcast(hot), Seq("sig"), "left_anti")
    val a = guarded.select(col("doc_id").as("doc_a"), col("sig"))
    val b = guarded.select(col("doc_id").as("doc_b"), col("sig"))
    a.join(b, Seq("sig")).filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
  }

  /** Distinct colliding (doc_a < doc_b) pairs from a (doc_id, band, key)
    * table — the LSH candidate join, shared by live and stored paths.
    * Guarded against degenerate buckets: the map-side-combinable bucket
    * count is tiny after aggregation, so the guard is a broadcast
    * anti-join — no extra shuffle of the band table. */
  def bandedPairs(bands: org.apache.spark.sql.DataFrame,
      maxBucket: Int = DefaultMaxBucket): org.apache.spark.sql.DataFrame = {
    val guarded = bands.join(
      broadcast(oversizedBuckets(bands, maxBucket).select("band", "key")),
      Seq("band", "key"), "left_anti")
    val a = guarded.select(col("doc_id").as("doc_a"), col("band"), col("key"))
    val b = guarded.select(col("doc_id").as("doc_b"), col("band"), col("key"))
    a.join(b, Seq("band", "key")).filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
  }

  /** Incremental candidate-pair enumeration: the distinct pairs that
    * TOUCH a delta of new band rows — `delta × all` on (band, key),
    * normalized to (doc_a < doc_b) — which is exactly the set of rows a
    * full [[bandedPairs]] over `all` gains when `delta ⊆ all` arrives.
    * This is the maintenance path of the candidate-pair STORE: the
    * full self-join runs once at build (and at each compaction seal);
    * each micro-batch then pays only delta-cardinality × bucket width.
    * The degenerate-bucket guard counts over `all` (the post-append
    * state), so a bucket pushed over the cap by this delta contributes
    * no pairs — same cap semantics as the full rebuild. */
  def deltaPairs(deltaBands: org.apache.spark.sql.DataFrame,
      allBands: org.apache.spark.sql.DataFrame,
      maxBucket: Int = DefaultMaxBucket): org.apache.spark.sql.DataFrame = {
    val hot = broadcast(oversizedBuckets(allBands, maxBucket).select("band", "key"))
    val d = deltaBands.join(hot, Seq("band", "key"), "left_anti")
      .select(col("doc_id").as("x"), col("band"), col("key"))
    val a = allBands.join(hot, Seq("band", "key"), "left_anti")
      .select(col("doc_id").as("y"), col("band"), col("key"))
    d.join(a, Seq("band", "key")).filter(col("x") =!= col("y"))
      .select(least(col("x"), col("y")).as("doc_a"),
        greatest(col("x"), col("y")).as("doc_b"))
      .distinct()
  }

  /** (doc_id, cluster_id) for every document: connected components over
    * the LSH candidate graph via iterative min-label propagation.
    * Candidate edges come from the persisted [[SignatureStore]]; only
    * edge-connected vertices enter the loop (isolated docs — the vast
    * majority of a deduped corpus — keep label = self); one checkpointed
    * pass per round carries the previous label so the convergence check
    * needs no extra join. Shared by dedup_clusters and corpus_curation. */
  def clusterAssignments(s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame =
    clusterAssignmentsOf(documents(s, d).select("doc_id"),
      SignatureStore.ensureK8Pairs(s, d))

  /** The fixpoint itself, parameterized by the corpus doc set and the
    * candidate-pair table — shared by the batch path above and the
    * incremental-maintenance equality spec (the incremental store must
    * equal THIS function over the union of everything ingested). */
  def clusterAssignmentsOf(docsIn: org.apache.spark.sql.DataFrame,
      pairs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val docs = docsIn.select("doc_id")
    // Pre-hash-partition the edge table on the probe key BEFORE pinning
    // it: localCheckpoint preserves the partitioning in the logical
    // plan, so every fixpoint round's join re-shuffles only the (much
    // smaller) labels side — the edge table never moves again.
    val edges = pairs.select(col("doc_a").as("a"), col("doc_b").as("b"))
      .unionByName(pairs.select(col("doc_b").as("a"), col("doc_a").as("b")))
      .repartition(col("a"))
      .localCheckpoint()
    var labels = edges.select(col("a").as("doc_id")).distinct()
      .withColumn("cluster_id", col("doc_id")).localCheckpoint()
    var changed = 1L
    while (changed > 0) {
      val propagated = edges.join(labels, edges("a") === labels("doc_id"))
        .select(col("b").as("doc_id"), col("cluster_id").as("cand"),
          lit(null).cast("long").as("prev"))
      // Pointer jumping: also adopt the label OF my current label
      // (labels ⋈ labels on cluster_id = doc_id). Pure edge propagation
      // converges in O(component diameter) rounds — a chained near-dup
      // family (SEO boilerplate mutating one shingle per page) can be
      // thousands of hops; the jump halves the remaining distance each
      // round, so the fixpoint closes in O(log diameter). The extra
      // join is labels-cardinality (edge-connected docs only) — tiny
      // next to the edge join it saves rounds of. The fixpoint (min
      // label per component) is schedule-invariant, so the oracle's
      // transitive closure is unchanged.
      val jumped = labels.select(col("doc_id"), col("cluster_id").as("via"))
        .join(labels.select(col("doc_id").as("via"), col("cluster_id").as("cand")),
          Seq("via"))
        .select(col("doc_id"), col("cand"), lit(null).cast("long").as("prev"))
      val merged = labels
        .select(col("doc_id"), col("cluster_id").as("cand"), col("cluster_id").as("prev"))
        .unionByName(propagated)
        .unionByName(jumped)
        .groupBy("doc_id").agg(min("cand").as("cluster_id"), min("prev").as("prev"))
        .localCheckpoint(eager = false)
      changed = merged.filter(col("cluster_id") < col("prev")).count()
      labels = merged.drop("prev")
    }
    // Re-anchor each cluster label to its minimum CORPUS member: the
    // signature store may hold stream-appended docs absent from
    // `documents` (see SignatureStore.streamMinhashDir), and a min-label
    // pointing at such a node would make the canonical filter
    // (cluster_id = doc_id) silently drop the whole cluster. Isolated
    // docs (the vast majority) bypass the remap entirely; the remap
    // itself runs on the edge-connected sliver, where both the labels
    // join side and the anchor table are broadcast-sized.
    val connected = docs.join(labels, Seq("doc_id"))
    val anchors = connected.groupBy(col("cluster_id").as("raw"))
      .agg(min("doc_id").as("cluster_id"))
    val isolated = docs.join(labels.select("doc_id"), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("doc_id").as("cluster_id"))
    connected.select(col("doc_id"), col("cluster_id").as("raw"))
      .join(anchors, Seq("raw"))
      .select("doc_id", "cluster_id")
      .unionByName(isolated)
  }

  /** Positioned 8-gram fingerprints (doc_id, pos, gram-md5) — the text
    * scan stage of substring dedup, and the artifact the span store's
    * STREAMING twin persists (md5 only, never text). One row per token
    * position; a pure map stage pipelined into the scan. */
  def positionedGrams8(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    spread(docs)
      .withColumn("toks", expr(toksExpr))
      .filter(size(col("toks")) >= 8)
      .select(col("doc_id"), explode(expr("sequence(1, size(toks) - 7)")).as("pos"), col("toks"))
      .select(col("doc_id"), col("pos"),
        md5(concat_ws(" ", slice(col("toks"), col("pos"), lit(8))).cast("binary")).as("gram"))

  /** Span assembly over a [[positionedGrams8]]-shaped table: grams seen
    * in >1 distinct doc mark their [pos, pos+7] coverage, and
    * overlapping/adjacent coverage merges into maximal spans
    * (gaps-and-islands over doc-partitioned windows). Every stage is
    * keyed (gram hash or doc_id) — no global funnel. */
  def spansFromGrams(g: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val dup = g.select("gram", "doc_id").distinct()
      .groupBy("gram").agg(count(lit(1)).as("nd"))
      .filter(col("nd") > 1).select("gram")
    val p = g.join(dup, Seq("gram"), "left_semi").select("doc_id", "pos")
    val wPrev = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wRun = Window.partitionBy("doc_id").orderBy("pos")
    p.withColumn("prev_end", max(col("pos") + 7).over(wPrev))
      .withColumn("island",
        sum(when(col("prev_end").isNull || col("pos") > col("prev_end") + 1, 1L)
          .otherwise(0L)).over(wRun))
      .groupBy(col("doc_id"), col("island"))
      .agg(min("pos").cast("long").as("span_start"),
        (max(col("pos")) + 7).cast("long").as("span_end"),
        count(lit(1)).as("n_grams"))
      .select("doc_id", "span_start", "span_end", "n_grams")
  }

  /** Maximal duplicated-token-8-gram spans per document (Lee et al.
    * 2022 substring dedup): [[positionedGrams8]] → [[spansFromGrams]].
    * Shared by the span-report query and the excision query. Scale
    * shape: the gram table is corpus-token cardinality but every stage
    * is keyed — no global funnel; it is localCheckpoint'ed because the
    * duplicate-gram aggregate and the flagging semi-join both consume
    * it. */
  def substringSpans(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    spansFromGrams(positionedGrams8(docs).localCheckpoint())

  /** Excision of [[substringSpans]]-shaped spans from `docs`: keep only
    * tokens outside every span, report (n_kept, n_removed, md5 of the
    * cleaned text) per affected document. Shared by the live and
    * stored removal queries so the two paths cannot diverge. */
  def substringExcision(docs: org.apache.spark.sql.DataFrame,
      spans: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val spansAgg = spans
      .groupBy("doc_id")
      .agg(collect_list(struct(col("span_start"), col("span_end"))).as("spans"))
    spread(docs)
      .withColumn("toks", expr(toksExpr))
      .join(spansAgg, Seq("doc_id"))
      .withColumn("cleaned", expr(
        """filter(toks, (t, i) ->
          |  NOT exists(spans, sp -> i + 1 >= sp.span_start AND i + 1 <= sp.span_end))""".stripMargin))
      .filter(size(col("cleaned")) > 0)
      .select(col("doc_id"),
        size(col("cleaned")).cast("long").as("n_kept"),
        (size(col("toks")) - size(col("cleaned"))).cast("long").as("n_removed"),
        md5(concat_ws(" ", col("cleaned")).cast("binary")).as("cleaned_fp"))
      .orderBy("doc_id")
  }

  /** DuckDB CTE text computing the duplicated-8-gram spans over
    * `documents` — the oracle twin of [[substringSpans]] / the persisted
    * span store, shared by the removal oracles and the composed pipeline
    * oracle. Defines CTEs `t` (doc_id, toks), and `spans`
    * (doc_id, span_start, span_end). */
  private[operators] val SubstringSpanCtes: String =
    """t AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents),
      |g AS (SELECT doc_id, i AS pos, md5(array_to_string(toks[i:i+7], ' ')) AS gram
      |      FROM t, LATERAL (SELECT unnest(generate_series(1, len(toks)-7)) AS i)
      |      WHERE len(toks) >= 8),
      |d AS (SELECT gram FROM (SELECT DISTINCT gram, doc_id FROM g) GROUP BY gram HAVING count(*) > 1),
      |p AS (SELECT g.doc_id, g.pos FROM g JOIN d USING (gram)),
      |m AS (SELECT doc_id, pos,
      |        max(pos + 7) OVER (PARTITION BY doc_id ORDER BY pos
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
      |      FROM p),
      |isl AS (SELECT doc_id, pos,
      |        CAST(sum(CASE WHEN prev_end IS NULL OR pos > prev_end + 1 THEN 1 ELSE 0 END)
      |          OVER (PARTITION BY doc_id ORDER BY pos) AS BIGINT) AS island
      |      FROM m),
      |spans AS (SELECT doc_id, min(pos) AS span_start, max(pos) + 7 AS span_end
      |          FROM isl GROUP BY doc_id, island)""".stripMargin

  /** The substring-excision oracle, shared verbatim by the live and
    * stored removal queries. */
  private val SubstringRemovalOracleSql: String =
    s"""WITH $SubstringSpanCtes,
      |cov AS (SELECT DISTINCT s.doc_id, p.pos
      |        FROM spans s, LATERAL (SELECT unnest(generate_series(s.span_start, s.span_end)) AS pos) p),
      |toksPos AS (
      |  SELECT t.doc_id, i.i, t.toks[i.i] AS tok
      |  FROM t JOIN (SELECT DISTINCT doc_id FROM spans) sd USING (doc_id),
      |       LATERAL (SELECT unnest(generate_series(1, len(t.toks))) AS i) i),
      |kept AS (
      |  SELECT tp.doc_id, tp.i, tp.tok
      |  FROM toksPos tp LEFT JOIN cov c ON c.doc_id = tp.doc_id AND c.pos = tp.i
      |  WHERE c.pos IS NULL)
      |SELECT k.doc_id,
      |  CAST(count(*) AS BIGINT) AS n_kept,
      |  CAST(any_value(len(t.toks)) - count(*) AS BIGINT) AS n_removed,
      |  md5(string_agg(k.tok, ' ' ORDER BY k.i)) AS cleaned_fp
      |FROM kept k JOIN t ON t.doc_id = k.doc_id
      |GROUP BY k.doc_id ORDER BY k.doc_id""".stripMargin

  /** Distributed prefix sum over (doc_id, n_tokens) — the two-pass
    * pattern that replaces a global `Window.orderBy` (which funnels every
    * row through ONE task: the classic 100 TB scale-killer).
    *
    * Pass 1: range-partition by doc_id (partition p holds a contiguous
    * doc_id range, ranges ascend with partition id), compute per-partition
    * token totals — partition-count cardinality, collected to the driver.
    * Pass 2: broadcast the exclusive per-partition offsets back as a map
    * literal; each partition computes its local running sum (a window
    * PARTITIONED by pid — no single-partition WindowExec anywhere) and
    * adds its offset. `localCheckpoint` pins the partitioning so both
    * passes see identical pids AND the upstream pipeline (clustering +
    * quality gate) runs once, not twice. */
  def cumulativeTokens(keep: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val (ranged, offsets, _) = graft.util.Scale.rangedOffsets(
      keep, Seq(col("doc_id")), col("n_tokens"))
    val local = Window.partitionBy("_pid").orderBy("doc_id")
    ranged
      .withColumn("cum_tokens",
        sum(col("n_tokens")).over(local) +
          coalesce(element_at(typedlit(offsets), col("_pid")), lit(0L)))
      .drop("_pid")
  }

  /** DuckDB CTE text for the minhash band table — shared by every oracle
    * that starts from LSH candidates (live, stored, clustering). */
  private[operators] val MinhashBandsCte: String =
    """sh AS (
      |  SELECT doc_id,
      |    unnest([('0x' || substr(md5(substr(text, i, 5)), 1, 15))::BIGINT
      |            for i in generate_series(1, greatest(length(text)-4, 1))]) AS h
      |  FROM documents),
      |sig AS (
      |  SELECT doc_id,
      |    min(((h % 1000000007) * 3 + 0) % 1000000007) AS h0,
      |    min(((h % 1000000007) * 5 + 31) % 1000000007) AS h1,
      |    min(((h % 1000000007) * 7 + 62) % 1000000007) AS h2,
      |    min(((h % 1000000007) * 9 + 93) % 1000000007) AS h3,
      |    min(((h % 1000000007) * 11 + 124) % 1000000007) AS h4,
      |    min(((h % 1000000007) * 13 + 155) % 1000000007) AS h5,
      |    min(((h % 1000000007) * 15 + 186) % 1000000007) AS h6,
      |    min(((h % 1000000007) * 17 + 217) % 1000000007) AS h7
      |  FROM sh GROUP BY doc_id),
      |bands AS (
      |  SELECT doc_id, 0 AS band, h0 * 1000000007 + h1 AS key FROM sig
      |  UNION ALL SELECT doc_id, 1, h2 * 1000000007 + h3 FROM sig
      |  UNION ALL SELECT doc_id, 2, h4 * 1000000007 + h5 FROM sig
      |  UNION ALL SELECT doc_id, 3, h6 * 1000000007 + h7 FROM sig)""".stripMargin

  private[operators] val BandedPairsSelect: String =
    """SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id""".stripMargin

  /** The OPH + k8 candidate-pair CTE chain (through `flags`, the
    * full-outer membership table) — shared by the agreement twins and
    * the capture–recapture estimate. */
  private val OphFlagsCtes: String =
    s"""WITH $MinhashBandsCte,
       |k8p AS ($BandedPairsSelect),
       |oph AS (SELECT doc_id, h % 1000000007 AS v FROM sh),
       |mins AS (SELECT doc_id, v % 8 AS bin, min(v) AS v FROM oph GROUP BY 1, 2),
       |slots AS (
       |  SELECT g.doc_id, s.slot,
       |    min(((m.bin - s.slot + 8) % 8) * 2000000000 + m.v) AS pick
       |  FROM (SELECT DISTINCT doc_id FROM mins) g
       |  CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS slot) s
       |  JOIN mins m ON m.doc_id = g.doc_id
       |  GROUP BY 1, 2),
       |sv AS (SELECT doc_id, slot,
       |         (pick % 2000000000) * 8 + (pick // 2000000000) AS sv FROM slots),
       |obands AS (
       |  SELECT a.doc_id, CAST(a.slot // 2 AS BIGINT) AS band,
       |    (a.sv % 1000000007) * 1000000007 + (b.sv % 1000000007) AS key
       |  FROM sv a JOIN sv b
       |    ON a.doc_id = b.doc_id AND b.slot = a.slot + 1 AND a.slot % 2 = 0),
       |ophp AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM obands a JOIN obands b
       |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
       |flags AS (
       |  SELECT coalesce(o.doc_a, k.doc_a) AS doc_a,
       |    coalesce(o.doc_b, k.doc_b) AS doc_b,
       |    CAST(CASE WHEN o.doc_a IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS in_oph,
       |    CAST(CASE WHEN k.doc_a IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS in_k8
       |  FROM ophp o FULL OUTER JOIN k8p k
       |    ON k.doc_a = o.doc_a AND k.doc_b = o.doc_b)""".stripMargin

  /** OPH-vs-k8 candidate agreement oracle — shared by the live and
    * stored `dedup_minhash_oph*` twins (the store must be bit-identical
    * to a fresh build, so one oracle gates both). */
  private val OphAgreementOracleSql: String =
    s"""$OphFlagsCtes
       |SELECT doc_a, doc_b, in_oph, in_k8 FROM flags
       |ORDER BY doc_a, doc_b""".stripMargin

  /** The OPH agreement audit over two CANDIDATE-PAIR tables (live-
    * enumerated or read from the 21st store family): OPH candidates
    * FULL-OUTER the standard k8 candidates with membership flags.
    * Unordered — the oracle-facing twins add the total ORDER BY,
    * aggregate-only consumers (capture–recapture) skip the dead sort. */
  private def ophAgreement(ophPairs: org.apache.spark.sql.DataFrame,
      k8Pairs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    // set-union + ONE range exchange, NOT a full-outer join: both pair
    // stores are distinct sets, so the outer-join flags are max() over
    // a flagged union — same rows bit-for-bit. The single
    // repartitionByRange serves BOTH downstream requirements: range
    // partitioning on (doc_a, doc_b) satisfies the aggregate's
    // clustered distribution (same key → same partition) AND the
    // consumers' total ORDER BY, so the plan runs union → one exchange
    // → aggregate → in-partition sort, where the SortMergeJoin shape
    // paid two side sorts plus a second global-sort exchange with its
    // sampling pass (stage-profiled r11 on dedup_minhash_oph_stored).
    ophPairs.select(col("doc_a"), col("doc_b"),
        lit(1L).as("in_oph"), lit(0L).as("in_k8"))
      .unionByName(k8Pairs.select(col("doc_a"), col("doc_b"),
        lit(0L).as("in_oph"), lit(1L).as("in_k8")))
      .repartitionByRange(col("doc_a"), col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(max("in_oph").as("in_oph"), max("in_k8").as("in_k8"))

  /** Connected-components oracle (recursive transitive closure) —
    * shared by the live fixpoint (`dedup_clusters`) and the persisted
    * store twin (`dedup_clusters_stored`): store must be bit-identical
    * to a fresh fixpoint. */
  private lazy val DedupClustersOracleSql: String =
    s"""WITH $MinhashBandsCte,
       |cand AS (
       |  $BandedPairsSelect),
       |undirected AS (
       |  SELECT doc_a AS a, doc_b AS b FROM cand
       |  UNION ALL SELECT doc_b, doc_a FROM cand),
       |reach AS (
       |  SELECT doc_id AS id, doc_id AS r FROM documents
       |  UNION
       |  SELECT u.b AS id, reach.r FROM reach JOIN undirected u ON u.a = reach.id)
       |SELECT id AS doc_id, min(r) AS cluster_id,
       |  CAST(min(r) = id AS BIGINT) AS is_canonical
       |FROM reach GROUP BY id
       |ORDER BY doc_id""".stripMargin.replaceFirst("WITH ", "WITH RECURSIVE ")

  /** The exact-Jaccard-over-candidates statement (12-gram sets, 2-hash
    * candidate key), shared by `dedup_ngram_jaccard` (raw pairs) and
    * `lsh_jaccard_calibration` (the precision histogram over the same
    * pairs). */
  private val NgramJaccardBase: String =
    """WITH sh0 AS (
      |  SELECT doc_id,
      |    unnest([substr(text, i, 12) for i in generate_series(1, greatest(length(text)-11, 1))]) AS shingle
      |  FROM documents),
      |sh AS (SELECT DISTINCT doc_id, shingle FROM sh0),
      |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |sig AS (SELECT doc_id, min(md5(shingle)) AS s1, min(md5('x' || shingle)) AS s2
      |        FROM sh GROUP BY doc_id),
      |cand AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM sig a JOIN sig b ON a.s1 = b.s1 AND a.s2 = b.s2 AND a.doc_id < b.doc_id),
      |inter AS (
      |  SELECT c.doc_a, c.doc_b, count(*) AS i
      |  FROM cand c
      |  JOIN sh a ON a.doc_id = c.doc_a
      |  JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
      |  GROUP BY c.doc_a, c.doc_b)
      |SELECT i.doc_a, i.doc_b,
      |  (1000000 * i.i) // (sa.n + sb.n - i.i) AS jaccard_ppm
      |FROM inter i
      |JOIN sizes sa ON sa.doc_id = i.doc_a
      |JOIN sizes sb ON sb.doc_id = i.doc_b""".stripMargin

  /** Containment oracle: same candidate/intersection CTEs, but the
    * emission is Broder's asymmetric containment |A∩B|/|smaller| next
    * to the symmetric Jaccard. */
  private val NgramContainmentSql: String =
    NgramJaccardBase.replace(
      """|SELECT i.doc_a, i.doc_b,
         |  (1000000 * i.i) // (sa.n + sb.n - i.i) AS jaccard_ppm""".stripMargin,
      """|SELECT i.doc_a, i.doc_b,
         |  (1000000 * i.i) // (sa.n + sb.n - i.i) AS jaccard_ppm,
         |  (1000000 * i.i) // least(sa.n, sb.n) AS cont_ppm,
         |  CAST(least(sa.n, sb.n) AS BIGINT) AS n_small""".stripMargin) +
      "\nWHERE (1000000 * i.i) // least(sa.n, sb.n) >= 800000"

  /** Spark side of the [[NgramJaccardBase]] candidate chain:
    * (doc_a, doc_b, i, na, nb) — exact intersection and set sizes per
    * candidate pair, shared by the Jaccard and containment emissions. */
  private def ngramPairStats(s: org.apache.spark.sql.SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
    // 12-gram shingles + a 2-hash band key: with a narrow synthetic
    // vocabulary, single 5-gram minhash buckets are enormous (1.3M
    // pairs at sf0.1); 12-gram × 2 hashes yields ~2k real candidates.
    // The per-doc shingle SET (sorted array) and the 2-hash band key
    // are pure functions of `text`, so ONE per-row kernel pass
    // ([[graft.functions.NgramSetStats]]) produces them with NO row
    // amplification, NO exchange and NO aggregate — replacing the
    // former explode(one row per corpus CHARACTER) → collect_set +
    // min(md5 per OCCURRENCE) aggregation, whose allocation rate was
    // the bench's dominant GC source at local[32] (task-cpu ×7 vs 8
    // cores on this family). Exact |A∩B| then runs as array_intersect
    // on candidate pairs only; the candidate join is broadcast-sized.
    // Set payloads are bounded by document size, so the shape holds at
    // 100 TB.
    // localCheckpoint: docSets feeds FOUR consumers (both candidate
    // join sides, both set-attach joins); without it the corpus-wide
    // kernel pass re-runs per consumer.
    val docSets = spread(documents(s, d))
      .select(col("doc_id"),
        graft.functions.NgramSetStats.ngram_set_stats(col("text")).as("st"))
      .select(col("doc_id"), col("st.shs").as("shs"),
        col("st.s1").as("s1"), col("st.s2").as("s2"))
      .localCheckpoint()
    val cand = docSets.select(col("doc_id").as("doc_a"), col("s1"), col("s2"))
      .join(docSets.select(col("doc_id").as("doc_b"), col("s1"), col("s2")), Seq("s1", "s2"))
      .filter(col("doc_a") < col("doc_b")).select("doc_a", "doc_b")
    cand
      .join(docSets.select(col("doc_id").as("doc_a"), col("shs").as("shs_a")), Seq("doc_a"))
      .join(docSets.select(col("doc_id").as("doc_b"), col("shs").as("shs_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("shs_a"), col("shs_b"))).cast("long").as("i"),
        size(col("shs_a")).cast("long").as("na"), size(col("shs_b")).cast("long").as("nb"))
  }

  private def ngramJaccardPairs(s: org.apache.spark.sql.SparkSession, d: String)
      : org.apache.spark.sql.DataFrame =
    ngramPairStats(s, d)
      .select(col("doc_a"), col("doc_b"),
        expr("(1000000L * i) div (na + nb - i)").as("jaccard_ppm"))

  /** The line-dedup oracle, shared verbatim by the live and stored
    * queries — the stored path must be bit-identical to the live window
    * semantics this SQL defines. */
  private val DedupLinesOracle: String =
    """WITH t AS (
      |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents),
      |n AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n FROM t),
      |x AS (
      |  SELECT doc_id, toks, n, unnest(generate_series(0, (n - 1) // 10)) AS k FROM n),
      |lines AS (
      |  SELECT doc_id, k AS line_idx,
      |    array_to_string(toks[CAST(1 + 10 * k AS INT):CAST(least(10 * k + 10, n) AS INT)], ' ') AS line
      |  FROM x),
      |keep AS (
      |  SELECT doc_id, line_idx, line,
      |    row_number() OVER (PARTITION BY line ORDER BY doc_id, line_idx) AS rn
      |  FROM lines)
      |SELECT doc_id,
      |  count(*) AS n_lines,
      |  count(*) FILTER (WHERE rn = 1) AS n_kept,
      |  count(*) - count(*) FILTER (WHERE rn = 1) AS n_dropped,
      |  md5(coalesce(string_agg(line, ' ' ORDER BY line_idx) FILTER (WHERE rn = 1), '')) AS clean_fp
      |FROM keep GROUP BY doc_id ORDER BY doc_id""".stripMargin

  val defs: Map[String, QueryDef] = Map(

    // ----- exact dedup: hash-groupBy, keep lowest doc_id per text hash -----
    "dedup_exact" -> QueryDef.sql(
      """SELECT min(doc_id) AS doc_id, count(*) AS n_copies
        |FROM documents GROUP BY md5(text)
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      documents(s, d)
        .groupBy(md5(col("text").cast("binary")))
        .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
        .select("doc_id", "n_copies")
        .orderBy("doc_id")
    },

    // ----- line-level dedup with document reassembly (RefinedWeb-style) -----
    // CCNet/RefinedWeb drop duplicated LINES (boilerplate headers, nav
    // bars) while keeping the documents: split each doc into 10-token
    // lines, keep only the globally FIRST occurrence of each distinct
    // line (first = lowest (doc_id, line_idx) — deterministic, no
    // sampling), and reassemble what survives per document. Scale shape:
    // two hash shuffles (32-byte line FINGERPRINT for the first-
    // occurrence window — the stored registry's key, so the shuffle
    // never carries the corpus text; doc_id for reassembly); the window
    // partitions by line_fp so no task sees more than one line-group —
    // never a global sort. Identical lines hash identically, so md5
    // partitioning groups exactly like raw-line partitioning (the
    // oracle partitions by the string and agrees). Reassembly hashes
    // the surviving text so the artifact stays narrow.
    "dedup_lines" -> QueryDef.sql(DedupLinesOracle) { (s, d) =>
      val lines = linesOf(documents(s, d))
      val flagged = lines
        .withColumn("line_fp", md5(col("line").cast("binary")))
        .withColumn("rn", row_number().over(
          Window.partitionBy("line_fp").orderBy("doc_id", "line_idx")))
        .withColumn("kept", col("rn") === 1)
      reassembleKeptLines(flagged)
    },

    // ----- line dedup from the persisted registry -----
    // The store twin: the first-occurrence registry
    // ([[SignatureStore.ensureLineRegistry]] — (line_fp, first_doc,
    // first_idx), md5 only, never text) is computed once per corpus
    // version; dedup runs re-split their documents (a pure map stage)
    // and equi-join the registry on the fingerprint — NO window over
    // the corpus-wide line table ever re-runs. Same oracle as the live
    // query: the two paths are bit-identical by construction (the
    // registry is built by the same lineRegistryOf the live window
    // semantics define). Registry side is distinct-line cardinality —
    // corpus-growing, deliberately not broadcast.
    "dedup_lines_stored" -> QueryDef.sql(DedupLinesOracle) { (s, d) =>
      val reg = SignatureStore.ensureLineRegistry(s, d)
      val flagged = linesOf(documents(s, d))
        .withColumn("line_fp", md5(col("line").cast("binary")))
        .join(reg, Seq("line_fp"))
        .withColumn("kept",
          col("doc_id") === col("first_doc") && col("line_idx") === col("first_idx"))
      reassembleKeptLines(flagged)
    },

    // ----- boilerplate line report: corpus-recurring lines, per source -----
    // The CCNet/RefinedWeb boilerplate audit: a line occurring in ≥3
    // DISTINCT documents corpus-wide is template text (nav bars, footers,
    // license blurbs), not content — dedup_lines removes the copies, this
    // query measures how much of each source IS template before deciding
    // to strip. Boilerplate is defined corpus-wide (site templates cross
    // the source partition) and attributed per source. Scale shape: the
    // same linesOf map stage as the dedup family (recomputed, not
    // checkpointed — a stateless projection is cheaper than materializing
    // a corpus-sized line table twice), one fp-keyed count shuffle, and
    // an fp equi-join of the occurrence scan against the threshold-
    // filtered fp set — the duplicated-lines sliver, corpus-growing, so
    // deliberately NOT broadcast. Only md5 fingerprints shuffle.
    "boilerplate_report" -> QueryDef.sql(
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents),
        |n AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n FROM t),
        |x AS (SELECT doc_id, toks, n, unnest(generate_series(0, (n - 1) // 10)) AS k FROM n),
        |lines AS (
        |  SELECT doc_id, k AS line_idx,
        |    array_to_string(toks[CAST(1 + 10 * k AS INT):CAST(least(10 * k + 10, n) AS INT)], ' ') AS line
        |  FROM x),
        |lf AS (SELECT doc_id, md5(line) AS fp FROM lines),
        |c AS (SELECT fp, count(*) AS n_docs FROM (SELECT DISTINCT doc_id, fp FROM lf) GROUP BY fp),
        |b AS (SELECT fp FROM c WHERE n_docs >= 3),
        |occ AS (SELECT s.source, lf.doc_id, lf.fp, (lf.fp IN (SELECT fp FROM b)) AS is_b
        |        FROM lf JOIN documents s USING (doc_id))
        |SELECT source,
        |  CAST(count(*) AS BIGINT) AS n_line_occurrences,
        |  CAST(count(*) FILTER (WHERE is_b) AS BIGINT) AS n_boilerplate_hits,
        |  CAST(count(DISTINCT doc_id) FILTER (WHERE is_b) AS BIGINT) AS docs_affected,
        |  CAST((CAST(1000000 AS HUGEINT) * count(*) FILTER (WHERE is_b)) // count(*) AS BIGINT) AS boilerplate_ppm
        |FROM occ GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
      val docs = documents(s, d)
      val lineFps = linesOf(docs)
        .select(col("doc_id"), md5(col("line").cast("binary")).as("fp"))
      val boiler = lineFps.distinct()
        .groupBy("fp").agg(count(lit(1)).as("n_docs"))
        .filter(col("n_docs") >= 3)
        .select(col("fp"), lit(true).as("is_b"))
      lineFps
        .join(docs.select("doc_id", "source"), Seq("doc_id"))
        .join(boiler, Seq("fp"), "left")
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_line_occurrences"),
          count(when(col("is_b"), 1)).as("n_boilerplate_hits"),
          count_distinct(when(col("is_b"), col("doc_id"))).as("docs_affected"))
        .select(col("source"), col("n_line_occurrences"), col("n_boilerplate_hits"),
          col("docs_affected"),
          // corpus-wide line-occurrence counts — widen (see alpha_ppm)
          expr("CAST((CAST(1000000 AS DECIMAL(38,0)) * n_boilerplate_hits) " +
            "div n_line_occurrences AS BIGINT)").as("boilerplate_ppm"))
        .orderBy("source")
    },

    // ----- minhash (k=1) near-dup candidates: min 5-gram hash signature -----
    "dedup_minhash_candidates" -> QueryDef.sql(
      """WITH sig AS (
        |  SELECT doc_id,
        |    list_min([md5(substr(text, i, 5)) for i in generate_series(1, greatest(length(text)-4, 1))]) AS sig
        |  FROM documents)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |FROM sig a JOIN sig b ON a.sig = b.sig AND a.doc_id < b.doc_id
        |ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
      // Per-row native signature (min_shingle_md5) — a stateless
      // projection, no shingle explode/aggregate. localCheckpoint:
      // sigSelfJoinPairs consumes sig three times (the guard count and
      // both join sides); without it the corpus-wide md5 loop runs once
      // per consumer.
      val sig = spread(documents(s, d).filter(col("text").isNotNull))
        .select(col("doc_id"),
          graft.functions.MinShingleMd5.min_shingle_md5(col("text")).as("sig"))
        .localCheckpoint()
      sigSelfJoinPairs(sig).orderBy("doc_a", "doc_b")
    },

    // ----- minhash LSH (k=8 hashes, 4 bands of 2): banded candidates -----
    // One md5 per shingle → 60-bit int → 8 affine hash functions
    // ((h%p)*(2k+3) + 31k) % p — 8× fewer md5s than hashing per-k, same
    // minhash guarantees. Identical integer arithmetic on both engines.
    "dedup_minhash_lsh" -> QueryDef.sql(
      s"WITH $MinhashBandsCte\n$BandedPairsSelect\nORDER BY doc_a, doc_b") { (s, d) =>
      // localCheckpoint: bandedPairs consumes its input multiply (bucket
      // agg, anti-join, both join sides), and this path derives the bands
      // from a full text re-hash — materialize that once. The stored
      // variant reads parquet instead and needs no checkpoint.
      bandedPairs(minhashBandsOf(documents(s, d)).localCheckpoint())
        .orderBy("doc_a", "doc_b")
    },

    // ----- incremental dedup: a new batch against the EXISTING store -----
    // THE continuous-ingestion dedup query: which incoming documents are
    // near-dups of the corpus already ingested? The existing corpus
    // never re-signs (its bands come straight from the persisted
    // SignatureStore) and old×old pairs are never formed — the banded
    // join is new×old only, so per-ingest cost is proportional to the
    // BATCH, not the corpus. The oracle splits documents 10%/90% to
    // model batch vs store; the degenerate-bucket guard is computed over
    // the union so a hot bucket on either side is capped.
    "dedup_incremental" -> QueryDef.sql(
      s"""WITH $MinhashBandsCte,
         |newb AS (SELECT * FROM bands WHERE doc_id % 10 = 0),
         |oldb AS (SELECT * FROM bands WHERE doc_id % 10 <> 0)
         |SELECT DISTINCT n.doc_id AS new_doc, o.doc_id AS old_doc
         |FROM newb n JOIN oldb o ON n.band = o.band AND n.key = o.key
         |ORDER BY new_doc, old_doc""".stripMargin) { (s, d) =>
      val stored = SignatureStore.ensureMinhashBands(s, d)
      val oldb = stored.filter(col("doc_id") % 10 =!= 0)
      val newb = minhashBandsOf(documents(s, d).filter(col("doc_id") % 10 === 0))
      // Guard on the STORE side only: corpus bucket sizes dominate at
      // scale, and a union-wide count would re-sign the batch text once
      // per guard consumer (the plan pin asserts the batch scans once).
      // A batch-side hot bucket is bounded by cap × batch size.
      val guard = broadcast(oversizedBuckets(oldb).select("band", "key"))
      newb.join(guard, Seq("band", "key"), "left_anti")
        .select(col("doc_id").as("new_doc"), col("band"), col("key"))
        .join(
          oldb.join(guard, Seq("band", "key"), "left_anti")
            .select(col("doc_id").as("old_doc"), col("band"), col("key")),
          Seq("band", "key"))
        .select("new_doc", "old_doc").distinct()
        .orderBy("new_doc", "old_doc")
    },

    // ----- one-permutation minhash (OPH) with rotation densification -----
    // The SCALE-PATH variant of dedup_minhash_lsh: Li/Owen/Zhang 2012
    // one-permutation hashing computes the whole k=8 signature from ONE
    // hash pass (bin = v % 8, min per bin) instead of k affine
    // rehashes, and Shrivastava & Li 2014 densification fills empty
    // bins by borrowing from the nearest non-empty bin to the right
    // (circular), offset-stamped (slot value = v·8 + t) so borrowed
    // slots collide only with equally-borrowed slots — the fix for
    // short documents whose few shingles leave most bins empty. At
    // 100 TB the difference is 8× fewer hash-function evaluations per
    // shingle on the corpus-scale stage; the banded candidate join is
    // unchanged (4 bands of 2 slots). This query emits the OPH and
    // standard-k8 candidate sets FULL-OUTER joined with membership
    // flags — the agreement audit that licenses switching family at
    // scale (both estimate the same Jaccard; candidates differ only by
    // each scheme's sampling variance). The k8 side reads the
    // persisted band store; densification is in-row higher-order-
    // function arithmetic (no explode — array ops pipeline into the
    // scan); every value is exact integer arithmetic identical on both
    // engines (pick = t·2e9 + v encodes the (offset, value) argmin;
    // the band key folds the two slot values mod p, deterministic on
    // both engines).
    "dedup_minhash_oph" -> QueryDef.sql(OphAgreementOracleSql) { (s, d) =>
      // live leg: the OPH signature pass + pair enumeration is what this
      // query times; the k8 comparison side reads the pair store
      ophAgreement(
        bandedPairs(ophBandsOf(documents(s, d)).localCheckpoint()),
        SignatureStore.ensureK8Pairs(s, d))
        .orderBy("doc_a", "doc_b")
    },

    // ----- OPH from the PERSISTED band store -----
    // The amortization twin, held to the SAME oracle as the live query:
    // the one-hash-pass signature is still a full text scan, so the
    // store computes it once ([[SignatureStore.ensureOphBands]]) and
    // every agreement audit / candidate join reads the parquet bands —
    // with streaming appends ([[graft.streaming.EventStream
    // .maintainOph]]) and compaction, the same lifecycle as the k8
    // family it is the scale path FOR.
    "dedup_minhash_oph_stored" -> QueryDef.sql(OphAgreementOracleSql) { (s, d) =>
      // both legs read the candidate-pair store: the full agreement
      // audit is two 2-column parquet reads + one equi-join
      ophAgreement(SignatureStore.ensureOphPairs(s, d),
        SignatureStore.ensureK8Pairs(s, d))
        .orderBy("doc_a", "doc_b")
    },

    // ----- capture–recapture estimate of the near-dup population -----
    // Two imperfect detectors over the SAME population license the
    // ecologist's mark-and-recapture estimate (Lincoln–Petersen;
    // Chapman's bias-corrected form): treat the k8 candidate set as
    // the first capture, the OPH set as the second, their overlap as
    // the recapture — N̂ = n1·n2/m estimates how many near-dup pairs
    // EXIST, including the ones BOTH sketches missed, under the
    // independence-of-captures assumption (the two schemes sample
    // bands from independent hash randomness, which is as close as a
    // dedup stack gets). Per-detector coverage (n/N̂) is the number a
    // 100 TB dedup run actually wants: "what fraction of the near-dup
    // mass does my detector see?" Exact integer throughout (Chapman is
    // integer-valued by construction; products DECIMAL-widened because
    // candidate-pair counts are corpus-scale); m = 0 reports NULL
    // honestly. Both captures read their persisted band stores.
    "dedup_capture_recapture" -> QueryDef.sql(
      s"""$OphFlagsCtes,
         |n AS (SELECT CAST(sum(in_k8) AS BIGINT) AS n_k8,
         |        CAST(sum(in_oph) AS BIGINT) AS n_oph,
         |        CAST(sum(in_oph * in_k8) AS BIGINT) AS n_both
         |      FROM flags),
         |e AS (SELECT n_k8, n_oph, n_both,
         |        CASE WHEN n_both > 0
         |          THEN CAST((CAST(n_oph AS HUGEINT) * n_k8) // n_both AS BIGINT)
         |          ELSE NULL END AS lincoln_petersen,
         |        CAST((CAST(n_oph + 1 AS HUGEINT) * (n_k8 + 1)) // (n_both + 1) - 1
         |          AS BIGINT) AS chapman
         |      FROM n)
         |SELECT n_k8, n_oph, n_both, lincoln_petersen, chapman,
         |  CASE WHEN chapman > 0
         |    THEN CAST((CAST(1000000 AS HUGEINT) * n_k8) // chapman AS BIGINT)
         |    ELSE NULL END AS k8_coverage_ppm,
         |  CASE WHEN chapman > 0
         |    THEN CAST((CAST(1000000 AS HUGEINT) * n_oph) // chapman AS BIGINT)
         |    ELSE NULL END AS oph_coverage_ppm
         |FROM e""".stripMargin) { (s, d) =>
      val n = ophAgreement(SignatureStore.ensureOphPairs(s, d),
          SignatureStore.ensureK8Pairs(s, d))
        .agg(sum("in_k8").cast("long").as("n_k8"),
          sum("in_oph").cast("long").as("n_oph"),
          sum(col("in_oph") * col("in_k8")).cast("long").as("n_both"))
      n.select(col("n_k8"), col("n_oph"), col("n_both"),
          expr("""CASE WHEN n_both > 0
                 |  THEN CAST((CAST(n_oph AS DECIMAL(38,0)) * n_k8) div n_both AS BIGINT)
                 |  ELSE NULL END""".stripMargin).as("lincoln_petersen"),
          expr("""CAST((CAST(n_oph + 1 AS DECIMAL(38,0)) * (n_k8 + 1)) div (n_both + 1) - 1
                 |  AS BIGINT)""".stripMargin).as("chapman"))
        .select(col("n_k8"), col("n_oph"), col("n_both"),
          col("lincoln_petersen"), col("chapman"),
          expr("""CASE WHEN chapman > 0
                 |  THEN CAST((CAST(1000000 AS DECIMAL(38,0)) * n_k8) div chapman AS BIGINT)
                 |  ELSE NULL END""".stripMargin).as("k8_coverage_ppm"),
          expr("""CASE WHEN chapman > 0
                 |  THEN CAST((CAST(1000000 AS DECIMAL(38,0)) * n_oph) div chapman AS BIGINT)
                 |  ELSE NULL END""".stripMargin).as("oph_coverage_ppm"))
    },

    // ----- token-length histogram: log2-bucketed corpus shape report -----
    // The budgeting/outlier view a packing run consults: documents per
    // power-of-two length bucket with per-bucket token totals. The
    // bucket is length(bin(n)) = floor(log2 n)+1 — pure INTEGER
    // arithmetic, bit-identical across engines (a float log2 could
    // waver at bucket boundaries). One map-side-combinable aggregate
    // over a stateless projection; output is ~40 rows at any scale.
    "tokens_histogram" -> QueryDef.sql(
      """WITH toks AS (
        |  SELECT CAST(len(string_split_regex(trim(lower(text)), '\s+')) AS BIGINT) AS n
        |  FROM documents)
        |SELECT CAST(length(bin(n)) AS BIGINT) AS bucket,
        |  count(*) AS n_docs, CAST(sum(n) AS BIGINT) AS total_tokens,
        |  min(n) AS min_tokens, max(n) AS max_tokens
        |FROM toks GROUP BY bucket ORDER BY bucket""".stripMargin) { (s, d) =>
      documents(s, d)
        .select(size(expr(toksExpr)).cast("long").as("n"))
        .select(length(bin(col("n"))).cast("long").as("bucket"), col("n"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_docs"), sum("n").as("total_tokens"),
          min("n").as("min_tokens"), max("n").as("max_tokens"))
        .orderBy("bucket")
    },

    // ----- vocabulary-growth curve (Heaps' law profile) -----
    // How fast does the type vocabulary grow as the corpus is ingested
    // in doc_id order? Per ingestion decile: BIGRAM types whose FIRST
    // occurrence falls in that decile, plus the cumulative vocabulary —
    // the curve that sizes tokenizer vocabularies and predicts how much
    // new text still adds new types (bigram types, because Heaps'
    // sublinearity only shows above the base-vocabulary saturation
    // point; unigrams saturate in the first slice of any real corpus).
    // First occurrence is a min-aggregate per type (map-side combinable,
    // vocab-cardinality output); the decile histogram and its running
    // sum act on ≤10 rows — that window is bounded by construction,
    // never corpus-cardinality.
    "vocab_growth" -> QueryDef.sql(
      """WITH t AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents),
        |bg AS (SELECT doc_id, unnest([toks[i] || ' ' || toks[i+1] for i in generate_series(1, len(toks)-1)]) AS g
        |       FROM t WHERE len(toks) >= 2),
        |f AS (SELECT g, min(doc_id) AS first_doc FROM bg GROUP BY g),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |d AS (SELECT (10 * first_doc) // n_docs AS decile FROM f CROSS JOIN n),
        |h AS (SELECT decile, CAST(count(*) AS BIGINT) AS new_types FROM d GROUP BY decile)
        |SELECT CAST(decile AS BIGINT) AS decile, new_types,
        |  CAST(sum(new_types) OVER (ORDER BY decile) AS BIGINT) AS cum_vocab
        |FROM h ORDER BY decile""".stripMargin) { (s, d) =>
      val bg = spread(documents(s, d))
        .withColumn("toks", expr(toksExpr))
        .filter(size(col("toks")) >= 2)
        .select(col("doc_id"),
          explode(expr("transform(sequence(0, size(toks)-2), i -> concat(toks[i], ' ', toks[i+1]))")).as("g"))
      val first = bg.groupBy("g").agg(min("doc_id").as("first_doc"))
      val nDocs = documents(s, d).select(count(lit(1)).as("n_docs"))
      val hist = first.crossJoin(broadcast(nDocs))
        .select(expr("(10 * first_doc) div n_docs").as("decile"))
        .groupBy("decile").agg(count(lit(1)).as("new_types"))
      // ≤10 rows from here on: the unpartitioned running sum is bounded
      // by construction, not corpus-dependent.
      hist
        .withColumn("cum_vocab",
          sum("new_types").over(Window.orderBy("decile")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select(col("decile").cast("long").as("decile"), col("new_types"),
          col("cum_vocab").cast("long").as("cum_vocab"))
        .orderBy("decile")
    },

    // ----- per-source length quantiles: the corpus profiling report -----
    // What a mixture designer reads before setting rates: exact
    // p50/p90/p99 token-count quantiles per source. Exactness is
    // affordable at any scale because Spark's `percentile` aggregates a
    // (value → count) map per group — the buffer is bounded by DISTINCT
    // token counts (≤ max doc length), not rows, and it is map-side
    // combinable. Both engines use linear interpolation (percentile ≡
    // quantile_cont), rounded to 6 decimals. Null-source docs are out of
    // scope of a source report (same convention as mix_temperature).
    "text_length_quantiles" -> QueryDef.sql(
      """WITH t AS (
        |  SELECT source, CAST(len(string_split_regex(trim(lower(text)), '\s+')) AS BIGINT) AS n
        |  FROM documents WHERE source IS NOT NULL)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  round(quantile_cont(n, 0.5), 6) AS p50,
        |  round(quantile_cont(n, 0.9), 6) AS p90,
        |  round(quantile_cont(n, 0.99), 6) AS p99,
        |  min(n) AS min_tokens, max(n) AS max_tokens
        |FROM t GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
      documents(s, d).filter(col("source").isNotNull)
        .select(col("source"), size(expr(toksExpr)).cast("long").as("n"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          round(expr("percentile(n, 0.5)"), 6).as("p50"),
          round(expr("percentile(n, 0.9)"), 6).as("p90"),
          round(expr("percentile(n, 0.99)"), 6).as("p99"),
          min("n").as("min_tokens"), max("n").as("max_tokens"))
        .orderBy("source")
    },

    // ----- minhash LSH candidates from the persisted signature store -----
    // The 100 TB amortization: signatures are computed ONCE (a full text
    // scan + md5) and persisted band-partitioned; every subsequent dedup
    // run is a band-pruned parquet self-join over the tiny (doc_id, band,
    // key) table — no re-hash of the corpus. Same oracle as the live
    // query: the stored path must reproduce it bit-for-bit.
    "dedup_minhash_lsh_stored" -> QueryDef.sql(
      s"WITH $MinhashBandsCte\n$BandedPairsSelect\nORDER BY doc_a, doc_b") { (s, d) =>
      SignatureStore.ensureK8Pairs(s, d).orderBy("doc_a", "doc_b")
    },

    // ----- near-dup cluster assignment: connected components over the -----
    // LSH candidate graph. THE dedup deliverable for a training corpus:
    // every doc gets a cluster_id (= min doc_id in its component); keep
    // one doc per cluster_id to dedup. Spark side is iterative min-label
    // propagation (each round one broadcast-able edge join + a min-agg;
    // rounds = component diameter, which is tiny for near-dup cliques;
    // localCheckpoint truncates the growing lineage). The oracle computes
    // the same fixpoint as a recursive transitive closure in DuckDB.
    "dedup_clusters" -> QueryDef.sql(DedupClustersOracleSql) { (s, d) =>
      clusterAssignments(s, d)
        .select(col("doc_id"), col("cluster_id"),
          (col("cluster_id") === col("doc_id")).cast("long").as("is_canonical"))
        .orderBy("doc_id")
    },

    // ----- cluster assignments from the PERSISTED store -----
    // The amortization twin held to the SAME recursive-CTE oracle: the
    // fixpoint runs once ([[SignatureStore.ensureClusters]]), every
    // curation/selection consumer reads the (doc_id, cluster_id)
    // parquet — and with [[graft.streaming.EventStream
    // .maintainClusters]] the store stays current under continuous
    // ingest without ever re-running the fixpoint over history.
    "dedup_clusters_stored" -> QueryDef.sql(DedupClustersOracleSql) { (s, d) =>
      SignatureStore.ensureClusters(s, d)
        .select(col("doc_id"), col("cluster_id"),
          (col("cluster_id") === col("doc_id")).cast("long").as("is_canonical"))
        .orderBy("doc_id")
    },

    // ----- Adjusted Rand Index: exact-dup vs LSH-cluster partitions -----
    // The dedup_family_venn upset table says WHICH docs the detectors
    // disagree on; this compresses the disagreement into the standard
    // clustering-agreement scalar (Hubert & Arabie 1985): ARI between
    // the exact-hash partition (md5(text) groups) and the minhash-LSH
    // connected-component partition, over all documents (isolated docs
    // are singletons in both). All pair-counting is closed-form from
    // the contingency table — C(n_ij,2) sums in BIGINT with ONE common
    // denominator, so the emitted milli-ARI is a single floor division
    // (no floored-term accumulation). Chance-corrected: ARI = 0 for
    // independent partitions, 1 for identical; the Rand index rides
    // along for contrast (it sits near 1 whenever singletons dominate —
    // exactly why ARI is the right scalar for dedup grading). The
    // expected verdict — ARI well below 1 with pairs_lsh ≫ pairs_exact
    // — is the quantitative form of "LSH finds near-dups hashing can't".
    // Scale: the contingency table is cluster-cardinality, every sum a
    // hash aggregate; the LSH side reads the persisted band store.
    "dedup_cluster_ari" -> QueryDef.sql(
      s"""WITH RECURSIVE ${TextQueries.MinhashBandsCte},
         |cand AS (
         |  ${TextQueries.BandedPairsSelect}),
         |undirected AS (
         |  SELECT doc_a AS a, doc_b AS b FROM cand
         |  UNION ALL SELECT doc_b, doc_a FROM cand),
         |reach AS (
         |  SELECT doc_id AS id, doc_id AS r FROM documents
         |  UNION
         |  SELECT u.b AS id, reach.r FROM reach JOIN undirected u ON u.a = reach.id),
         |lsh AS (SELECT id AS doc_id, min(r) AS v FROM reach GROUP BY id),
         |ex AS (SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS u
         |       FROM documents),
         |cell AS (
         |  SELECT ex.u, lsh.v, CAST(count(*) AS BIGINT) AS nij
         |  FROM ex JOIN lsh ON ex.doc_id = lsh.doc_id GROUP BY 1, 2),
         |sums AS (
         |  SELECT CAST(sum(nij) AS BIGINT) AS n,
         |    CAST(sum(nij * (nij - 1)) // 2 AS BIGINT) AS p_both
         |  FROM cell),
         |pa AS (SELECT CAST(sum(na * (na - 1)) // 2 AS BIGINT) AS p_ex FROM (
         |  SELECT CAST(sum(nij) AS BIGINT) AS na FROM cell GROUP BY u)),
         |pb AS (SELECT CAST(sum(nb * (nb - 1)) // 2 AS BIGINT) AS p_lsh FROM (
         |  SELECT CAST(sum(nij) AS BIGINT) AS nb FROM cell GROUP BY v)),
         |c AS (SELECT n, (n * (n - 1)) // 2 AS cn2, p_both, p_ex, p_lsh
         |      FROM sums CROSS JOIN pa CROSS JOIN pb)
         |SELECT n AS n_docs, p_ex AS pairs_exact, p_lsh AS pairs_lsh,
         |  p_both AS pairs_both,
         |  CASE WHEN cn2 * (p_ex + p_lsh) - 2 * p_ex * p_lsh = 0 THEN NULL
         |       ELSE CAST((1000 * (2 * cn2 * p_both - 2 * p_ex * p_lsh))
         |            // (cn2 * (p_ex + p_lsh) - 2 * p_ex * p_lsh) AS BIGINT)
         |  END AS ari_milli,
         |  CAST((1000 * (cn2 + 2 * p_both - p_ex - p_lsh)) // cn2 AS BIGINT)
         |    AS rand_milli
         |FROM c""".stripMargin) { (s, d) =>
      // the LSH partition comes from the cluster-assignment STORE (the
      // fixpoint is timed live by dedup_clusters; this query is the
      // agreement audit between two finished partitions)
      val lsh = SignatureStore.ensureClusters(s, d)
        .select(col("doc_id"), col("cluster_id").as("v"))
      val ex = documents(s, d)
        .select(col("doc_id"), md5(col("text").cast("binary")).as("fp"))
      val exLabel = ex.groupBy("fp").agg(min("doc_id").as("u"))
      val labeled = ex.join(exLabel, Seq("fp"))
        .select(col("doc_id"), col("u"))
        .join(lsh, Seq("doc_id"))
      val cell = labeled.groupBy("u", "v").agg(count(lit(1)).as("nij"))
        .localCheckpoint() // cluster-cardinality; feeds three sums
      val sums = cell.agg(sum("nij").as("n"),
        expr("sum(nij * (nij - 1)) div 2").as("p_both"))
      val pa = cell.groupBy("u").agg(sum("nij").as("na"))
        .agg(expr("sum(na * (na - 1)) div 2").as("p_ex"))
      val pb = cell.groupBy("v").agg(sum("nij").as("nb"))
        .agg(expr("sum(nb * (nb - 1)) div 2").as("p_lsh"))
      sums.crossJoin(broadcast(pa)).crossJoin(broadcast(pb))
        .withColumn("cn2", expr("(n * (n - 1)) div 2"))
        .select(col("n").as("n_docs"), col("p_ex").as("pairs_exact"),
          col("p_lsh").as("pairs_lsh"), col("p_both").as("pairs_both"),
          when(expr("cn2 * (p_ex + p_lsh) - 2 * p_ex * p_lsh") === 0,
            lit(null).cast("long"))
            .otherwise(expr(
              "(1000 * (2 * cn2 * p_both - 2 * p_ex * p_lsh)) div (cn2 * (p_ex + p_lsh) - 2 * p_ex * p_lsh)"))
            .as("ari_milli"),
          expr("(1000 * (cn2 + 2 * p_both - p_ex - p_lsh)) div cn2")
            .as("rand_milli"))
    },

    // ----- contrastive training-pair construction from the clusters -----
    // The dataset an embedding model trains on: (anchor, positive) from
    // each multi-member near-dup cluster (the two smallest ids — true
    // semantic pairs the sketch already found), and a DETERMINISTIC
    // negative via an LCG probe into the id domain, kept only when it
    // lands on an existing doc in a DIFFERENT cluster (collisions drop;
    // no retry loop — a scan-resistant rule beats a per-row lookup
    // chain). Every join is an equi-join: clusters read from the
    // persisted store, the negative resolves by one id join, nothing
    // pairwise ever materializes beyond the cluster pairs themselves.
    "contrastive_pairs" -> QueryDef.sql(
      s"""WITH $MinhashBandsCte,
         |cand AS (
         |  $BandedPairsSelect),
         |undirected AS (
         |  SELECT doc_a AS a, doc_b AS b FROM cand
         |  UNION ALL SELECT doc_b, doc_a FROM cand),
         |reach AS (
         |  SELECT doc_id AS id, doc_id AS r FROM documents
         |  UNION
         |  SELECT u.b AS id, reach.r FROM reach JOIN undirected u ON u.a = reach.id),
         |clusters AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id),
         |rr AS (
         |  SELECT doc_id, cluster_id,
         |    row_number() OVER (PARTITION BY cluster_id ORDER BY doc_id) AS rn
         |  FROM clusters),
         |p AS (
         |  SELECT a.cluster_id, a.doc_id AS anchor, b.doc_id AS positive
         |  FROM rr a JOIN rr b ON b.cluster_id = a.cluster_id
         |    AND b.rn = a.rn + 1),
         |mx AS (SELECT max(doc_id) + 1 AS m FROM documents),
         |n0 AS (SELECT p.*, (p.anchor * 48271 + 7) % mx.m AS cand_id FROM p, mx)
         |SELECT n0.anchor, n0.positive, c.doc_id AS negative, n0.cluster_id
         |FROM n0 JOIN clusters c
         |  ON c.doc_id = n0.cand_id AND c.cluster_id <> n0.cluster_id
         |ORDER BY anchor""".stripMargin.replaceFirst("WITH ", "WITH RECURSIVE ")) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val clusters = SignatureStore.ensureClusters(s, d)
        .select("doc_id", "cluster_id")
      val rn = Window.partitionBy(col("cluster_id")).orderBy(col("doc_id"))
      val ranked = clusters.withColumn("rn", row_number().over(rn))
      val pairs = ranked
        .select(col("cluster_id"), col("rn"), col("doc_id").as("anchor"))
        .join(ranked.select(col("cluster_id"), (col("rn") - 1).as("rn"),
          col("doc_id").as("positive")), Seq("cluster_id", "rn"))
        .select("cluster_id", "anchor", "positive")
      val mx = documents(s, d).agg((max(col("doc_id")) + 1).as("m"))
      pairs.crossJoin(broadcast(mx))
        .withColumn("cand_id", (col("anchor") * 48271L + 7L) % col("m"))
        .join(clusters.select(col("doc_id").as("cand_id"),
          col("cluster_id").as("neg_cluster")), Seq("cand_id"))
        .filter(col("neg_cluster") =!= col("cluster_id"))
        .select(col("anchor"), col("positive"), col("cand_id").as("negative"),
          col("cluster_id"))
        .orderBy("anchor")
    },

    // ----- quality-aware canonical selection per near-dup cluster -----
    // The refinement every production dedup ships after min-id
    // canonicalization (Lee et al. 2022 keep one-per-cluster): keep the
    // BEST document of each cluster — here longest-by-tokens, doc_id
    // tiebreak — not the arbitrary smallest id. Cluster assignments come
    // from the persisted store ([[SignatureStore.ensureClusters]], the
    // fixpoint is never recomputed); the pick is a keyed window
    // (cluster-cardinality partitions — bounded clique sizes, never a
    // global sort), so the whole query is one store read + one
    // token-count scan + one keyed shuffle.
    "dedup_keep_best" -> QueryDef.sql(
      s"""WITH $MinhashBandsCte,
         |cand AS (
         |  $BandedPairsSelect),
         |undirected AS (
         |  SELECT doc_a AS a, doc_b AS b FROM cand
         |  UNION ALL SELECT doc_b, doc_a FROM cand),
         |reach AS (
         |  SELECT doc_id AS id, doc_id AS r FROM documents
         |  UNION
         |  SELECT u.b AS id, reach.r FROM reach JOIN undirected u ON u.a = reach.id),
         |clusters AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id),
         |toks AS (SELECT doc_id, CAST(len(string_split_regex(trim(lower(text)), '\\s+')) AS BIGINT) AS n_tokens
         |         FROM documents),
         |pick AS (
         |  SELECT c.cluster_id, c.doc_id, t.n_tokens,
         |    row_number() OVER (PARTITION BY c.cluster_id ORDER BY t.n_tokens DESC, c.doc_id) AS rn,
         |    CAST(count(*) OVER (PARTITION BY c.cluster_id) AS BIGINT) AS cluster_size
         |  FROM clusters c JOIN toks t ON t.doc_id = c.doc_id)
         |SELECT cluster_id, doc_id AS kept_doc_id, n_tokens AS kept_n_tokens, cluster_size
         |FROM pick WHERE rn = 1
         |ORDER BY cluster_id""".stripMargin.replaceFirst("WITH ", "WITH RECURSIVE ")) { (s, d) =>
      val toks = documents(s, d)
        .select(col("doc_id"), size(expr(toksExpr)).cast("long").as("n_tokens"))
      val w = Window.partitionBy("cluster_id")
      val assigned = graft.operators.SignatureStore.ensureClusters(s, d)
        .join(toks, Seq("doc_id"))
      assigned
        .withColumn("rn", row_number().over(w.orderBy(col("n_tokens").desc, col("doc_id"))))
        .withColumn("cluster_size", count(lit(1)).over(w).cast("long"))
        .filter(col("rn") === 1)
        .select(col("cluster_id"), col("doc_id").as("kept_doc_id"),
          col("n_tokens").as("kept_n_tokens"), col("cluster_size"))
        .orderBy("cluster_id")
    },

    // ----- end-to-end corpus curation: the pipeline composition -----
    // What a training-data run actually executes: keep only canonical
    // near-dup survivors (CC over the LSH graph), apply a quality gate
    // (n_tokens ≥ 10), then take documents in id order until a token
    // budget is filled. The budget prefix-sum is the two-pass distributed
    // [[cumulativeTokens]] (per-partition totals broadcast as offsets) —
    // NOT a global Window.orderBy, which would move the whole post-filter
    // table (per-document cardinality at 100 TB) through one task.
    // Cluster assignments come from the persisted store
    // ([[SignatureStore.ensureClusters]]): the CC fixpoint is computed
    // once per corpus version (timed live by dedup_clusters), and every
    // curation/selection run reads the artifact — the same amortization
    // contract as dedup_minhash_lsh_stored, held to the same oracle.
    "corpus_curation" -> QueryDef.sql(
      s"""WITH $MinhashBandsCte,
         |cand AS (
         |  $BandedPairsSelect),
         |undirected AS (
         |  SELECT doc_a AS a, doc_b AS b FROM cand
         |  UNION ALL SELECT doc_b, doc_a FROM cand),
         |reach AS (
         |  SELECT doc_id AS id, doc_id AS r FROM documents
         |  UNION
         |  SELECT u.b AS id, reach.r FROM reach JOIN undirected u ON u.a = reach.id),
         |clusters AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id),
         |toks AS (SELECT doc_id, len(string_split_regex(trim(lower(text)), '\\s+')) AS n_tokens
         |         FROM documents),
         |keep AS (
         |  SELECT c.doc_id, t.n_tokens
         |  FROM clusters c JOIN toks t ON t.doc_id = c.doc_id
         |  WHERE c.cluster_id = c.doc_id AND t.n_tokens >= 10),
         |budg AS (
         |  SELECT doc_id, n_tokens,
         |    CAST(sum(n_tokens) OVER (ORDER BY doc_id) AS BIGINT) AS cum_tokens
         |  FROM keep)
         |SELECT doc_id, n_tokens, cum_tokens FROM budg
         |WHERE cum_tokens <= 20000
         |ORDER BY doc_id""".stripMargin.replaceFirst("WITH ", "WITH RECURSIVE ")) { (s, d) =>
      val canonical = SignatureStore.ensureClusters(s, d)
        .filter(col("cluster_id") === col("doc_id")).select("doc_id")
      val toks = documents(s, d)
        .select(col("doc_id"), size(expr(toksExpr)).cast("long").as("n_tokens"))
      val keep = canonical.join(toks, Seq("doc_id")).filter(col("n_tokens") >= 10)
      cumulativeTokens(keep)
        .filter(col("cum_tokens") <= 20000)
        .select("doc_id", "n_tokens", "cum_tokens")
        .orderBy("doc_id")
    },

    // ----- n-gram Jaccard similarity over minhash candidate pairs -----
    // Exact |A∩B| / |A∪B| on distinct 5-gram sets, but only for pairs
    // that already collide on the minhash signature — candidate
    // generation stays sub-quadratic, the quadratic exact compare never
    // touches non-candidates (the LSH pattern end-to-end).
    "dedup_ngram_jaccard" -> QueryDef.sql(
      s"$NgramJaccardBase\nORDER BY doc_a, doc_b") { (s, d) =>
      ngramJaccardPairs(s, d).orderBy("doc_a", "doc_b")
    },

    // ----- asymmetric containment dedup (Broder 1997's second measure) -----
    // The case symmetric Jaccard structurally misses: a short document
    // wholly CONTAINED in a much longer one (a quoted article inside a
    // mirror page, a README pasted into a bundle) scores
    // jaccard ≈ |small|/|large| — arbitrarily low — while containment
    // |A∩B|/|smaller| is ≈ 1. Emitted per candidate pair at the ≥ 0.8
    // gate a curation run would excise at, beside the Jaccard so the
    // asymmetry is visible. Same candidate chain and set table as the
    // Jaccard query (ONE compacted per-doc set shuffle, candidate join
    // broadcast-sized), so the extra signal costs one projection.
    "dedup_containment" -> QueryDef.sql(
      s"$NgramContainmentSql\nORDER BY doc_a, doc_b") { (s, d) =>
      ngramPairStats(s, d)
        .select(col("doc_a"), col("doc_b"),
          expr("(1000000L * i) div (na + nb - i)").as("jaccard_ppm"),
          expr("(1000000L * i) div least(na, nb)").as("cont_ppm"),
          least(col("na"), col("nb")).as("n_small"))
        .filter(col("cont_ppm") >= 800000)
        .orderBy("doc_a", "doc_b")
    },

    // ----- LSH precision calibration: exact-Jaccard histogram -----
    // The dedup-QA companion of cluster_size_histogram: over the SAME
    // candidate pairs the sketch emits, how similar are the documents
    // REALLY? Decile histogram of exact 12-gram Jaccard (ppm) — a
    // left-heavy histogram means the banding scheme wastes exact-compare
    // work on dissimilar pairs (add hashes / widen bands); a right-heavy
    // one means it is safe to tighten. Output is ≤ 11 rows whatever the
    // corpus; all arithmetic is the shared integer-ppm chain.
    "lsh_jaccard_calibration" -> QueryDef.sql(
      s"""WITH j AS (
         |$NgramJaccardBase)
         |SELECT jaccard_ppm // 100000 AS decile, CAST(count(*) AS BIGINT) AS n_pairs,
         |  CAST(min(jaccard_ppm) AS BIGINT) AS min_ppm, CAST(max(jaccard_ppm) AS BIGINT) AS max_ppm
         |FROM j GROUP BY 1 ORDER BY decile""".stripMargin) { (s, d) =>
      ngramJaccardPairs(s, d)
        .select(expr("jaccard_ppm div 100000L").as("decile"), col("jaccard_ppm"))
        .groupBy("decile")
        .agg(count(lit(1)).as("n_pairs"),
          min("jaccard_ppm").as("min_ppm"), max("jaccard_ppm").as("max_ppm"))
        .orderBy("decile")
    },

    // ----- simhash near-dup (60-bit, 4×15 bands, hamming ≤ 3) -----
    // Explode distinct tokens → one md5-derived 60-bit hash per token
    // (the same '0x'||hex ⇄ conv() parity trick as the minhash family, so
    // DuckDB reproduces the signatures bit-for-bit) → 60 per-bit vote
    // sums (all codegen'd, map-side combined) → signature assembly →
    // banded hamming join.
    "dedup_simhash" -> {
      val duckVotes = (0 until 60).map(j =>
        s"sum(CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS v$j").mkString(",\n    ")
      val duckSig = (0 until 60).map(j =>
        s"(CASE WHEN v$j > 0 THEN (1::BIGINT << $j) ELSE 0 END)").mkString(" + ")
      val duckBands = (0 until 4).map(b =>
        s"SELECT doc_id, sig, $b AS band, (sig >> ${b * 15}) & 32767 AS key FROM sig")
        .mkString("\n  UNION ALL ")
      QueryDef.sql(SimhashOracleSql(duckVotes, duckSig, duckBands)) { (s, d) =>
        simhashPairs(simhashSigsOf(documents(s, d))).orderBy("doc_a", "doc_b")
      }
    },

    // ----- simhash candidates from the persisted signature store -----
    // The simhash twin of dedup_minhash_lsh_stored: 60-bit signatures are
    // computed once (SignatureStore.write persists both sketch families)
    // and any banding scheme re-derives from `sig` without touching
    // text. Same oracle as the live query — stored must be bit-identical.
    "dedup_simhash_stored" -> {
      val duckVotes = (0 until 60).map(j =>
        s"sum(CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS v$j").mkString(",\n    ")
      val duckSig = (0 until 60).map(j =>
        s"(CASE WHEN v$j > 0 THEN (1::BIGINT << $j) ELSE 0 END)").mkString(" + ")
      val duckBands = (0 until 4).map(b =>
        s"SELECT doc_id, sig, $b AS band, (sig >> ${b * 15}) & 32767 AS key FROM sig")
        .mkString("\n  UNION ALL ")
      QueryDef.sql(SimhashOracleSql(duckVotes, duckSig, duckBands)) { (s, d) =>
        simhashPairs(SignatureStore.ensureSimhash(s, d)).orderBy("doc_a", "doc_b")
      }
    },

    // ----- substring-level dedup: duplicated token-8-gram spans -----
    // The sequence-level pass document-level dedup misses ("Deduplicating
    // Training Data Makes Language Models Better", Lee et al. 2022):
    // boilerplate shared ACROSS otherwise-distinct documents. Every token
    // 8-gram is hashed with its position; grams seen in >1 distinct doc
    // mark their token coverage [pos, pos+7] as duplicated, and
    // overlapping/adjacent coverage merges into maximal spans
    // (gaps-and-islands over a doc-partitioned window). Scale shape: the
    // gram table is corpus-token cardinality but every stage is keyed —
    // distinct + count partial-aggregate on the gram hash, the flagging
    // join is a semi-join on the same key, and the island windows
    // partition by doc_id — no global funnel anywhere. Downstream can cut
    // the spans out of each doc or drop heavy-overlap docs entirely.
    "dedup_substring_spans" -> QueryDef.sql(
      """WITH t AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents),
        |g AS (SELECT doc_id, i AS pos, md5(array_to_string(toks[i:i+7], ' ')) AS gram
        |      FROM t, LATERAL (SELECT unnest(generate_series(1, len(toks)-7)) AS i)
        |      WHERE len(toks) >= 8),
        |d AS (SELECT gram FROM (SELECT DISTINCT gram, doc_id FROM g) GROUP BY gram HAVING count(*) > 1),
        |p AS (SELECT g.doc_id, g.pos FROM g JOIN d USING (gram)),
        |m AS (SELECT doc_id, pos,
        |        max(pos + 7) OVER (PARTITION BY doc_id ORDER BY pos
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
        |      FROM p),
        |isl AS (SELECT doc_id, pos,
        |        CAST(sum(CASE WHEN prev_end IS NULL OR pos > prev_end + 1 THEN 1 ELSE 0 END)
        |          OVER (PARTITION BY doc_id ORDER BY pos) AS BIGINT) AS island
        |      FROM m)
        |SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
        |  CAST(max(pos) + 7 AS BIGINT) AS span_end,
        |  CAST(count(*) AS BIGINT) AS n_grams
        |FROM isl GROUP BY doc_id, island ORDER BY doc_id, span_start""".stripMargin) { (s, d) =>
      substringSpans(documents(s, d)).orderBy("doc_id", "span_start")
    },

    // ----- substring excision: cut the duplicated spans back OUT -----
    // The second half of the Lee et al. 2022 loop: given the maximal
    // duplicated-8-gram spans, produce the CLEANED corpus — each
    // affected document keeps only tokens outside every span, and the
    // result is reported as (kept count, removed count, fingerprint of
    // the cleaned text) so the oracle can hash-check the actual excision
    // not just the span arithmetic. Scale shape: spans are the flagged
    // sliver (per-doc cardinality only for affected docs); they
    // aggregate to one array per doc and attach with a single equi-join
    // on doc_id; the excision itself is a per-row array filter. Docs
    // whose every token is removed vanish from the output (nothing left
    // to train on) — both engines agree by construction.
    "dedup_substring_removal" -> QueryDef.sql(SubstringRemovalOracleSql) { (s, d) =>
      substringExcision(documents(s, d), substringSpans(documents(s, d)))
    },

    // ----- substring excision from the PERSISTED span store -----
    // The substring-family amortization twin of dedup_minhash_lsh_stored:
    // span detection is the most expensive scan in the family (one
    // positioned 8-gram hash per corpus token) and spans change only
    // when documents change — so excision runs read the persisted
    // (doc_id, span_start, span_end) artifact and never re-hash text.
    // Same oracle as the live query: stored must be bit-identical.
    "dedup_substring_removal_stored" -> QueryDef.sql(SubstringRemovalOracleSql) { (s, d) =>
      substringExcision(documents(s, d), SignatureStore.ensureSpans(s, d))
    },

    // ----- duplicated-span length histogram -----
    // The Lee et al. 2022 analysis figure: how LONG are the duplicated
    // substrings (log₂ buckets of span token length)? Short spans near
    // the 8-token detection floor are idioms and quotes; a fat long-span
    // tail is wholesale page duplication that exact-doc dedup missed —
    // the distribution decides whether excision or whole-doc dropping is
    // the right remedy. Reads the PERSISTED span store (the per-corpus-
    // token 8-gram scan never re-runs); one map-side-combinable
    // aggregate over the flagged sliver; output bounded by
    // log₂(longest doc), all arithmetic integer.
    "span_length_histogram" -> QueryDef.sql(
      """WITH t AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents),
        |g AS (SELECT doc_id, i AS pos, md5(array_to_string(toks[i:i+7], ' ')) AS gram
        |      FROM t, LATERAL (SELECT unnest(generate_series(1, len(toks)-7)) AS i)
        |      WHERE len(toks) >= 8),
        |d AS (SELECT gram FROM (SELECT DISTINCT gram, doc_id FROM g) GROUP BY gram HAVING count(*) > 1),
        |p AS (SELECT g.doc_id, g.pos FROM g JOIN d USING (gram)),
        |m AS (SELECT doc_id, pos,
        |        max(pos + 7) OVER (PARTITION BY doc_id ORDER BY pos
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
        |      FROM p),
        |isl AS (SELECT doc_id, pos,
        |        CAST(sum(CASE WHEN prev_end IS NULL OR pos > prev_end + 1 THEN 1 ELSE 0 END)
        |          OVER (PARTITION BY doc_id ORDER BY pos) AS BIGINT) AS island
        |      FROM m),
        |sp AS (SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
        |         CAST(max(pos) + 7 AS BIGINT) AS span_end
        |       FROM isl GROUP BY doc_id, island)
        |SELECT CAST(length(bin(span_end - span_start + 1)) AS BIGINT) AS bucket,
        |  CAST(count(*) AS BIGINT) AS n_spans,
        |  CAST(sum(span_end - span_start + 1) AS BIGINT) AS tokens_covered,
        |  CAST(min(span_end - span_start + 1) AS BIGINT) AS min_len,
        |  CAST(max(span_end - span_start + 1) AS BIGINT) AS max_len
        |FROM sp GROUP BY bucket ORDER BY bucket""".stripMargin) { (s, d) =>
      SignatureStore.ensureSpans(s, d)
        .select((col("span_end") - col("span_start") + 1).as("len"))
        .groupBy(length(bin(col("len"))).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n_spans"), sum("len").as("tokens_covered"),
          min("len").as("min_len"), max("len").as("max_len"))
        .orderBy("bucket")
    },

    // ----- token counting -----
    "text_tokens" -> QueryDef.sql(
      """SELECT doc_id, len(string_split_regex(trim(text), '\s+')) AS n_tokens, length(text) AS n_chars_actual
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      documents(s, d).select(
        col("doc_id"),
        graft.functions.WsTokenCount.ws_token_count(col("text")).cast("long").as("n_tokens"),
        length(col("text")).cast("long").as("n_chars_actual"))
        .orderBy("doc_id")
    },

    // ----- BPE-ish token counting: letter runs / digit runs / symbols -----
    // The second tokenizer the brief calls for beside whitespace
    // splitting: a GPT-2-flavored pre-tokenization where letter runs,
    // digit runs, and individual non-alphanumeric symbols each count as
    // one token — the unit BPE merges start from, and the count a token
    // budget should be estimated in (whitespace undercounts punctuated
    // text). The whitespace class is spelled out ([ \t\n\r\f]) instead of
    // \s because the engines' shorthands disagree on one character: Java
    // counts \x0B (vertical tab) as \s, RE2 (DuckDB) does not — with the
    // explicit class both engines tokenize a vertical tab as a symbol.
    // Stateless projection, zero shuffle.
    "text_tokens_bpe" -> QueryDef.sql(
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 \t\n\r\f]')) AS BIGINT) AS n_bpe_tokens,
        |  CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_ws_tokens
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      documents(s, d).select(
        col("doc_id"),
        regexp_count(lower(col("text")), lit("[a-z]+|[0-9]+|[^a-z0-9 \\t\\n\\r\\f]"))
          .cast("long").as("n_bpe_tokens"),
        graft.functions.WsTokenCount.ws_token_count(col("text")).cast("long").as("n_ws_tokens"))
        .orderBy("doc_id")
    },

    // ----- tokenizer fertility by language -----
    // The tokenizer-fairness audit (Rust et al. 2021 "fertility"):
    // BPE-ish tokens per whitespace word, per language — a language
    // whose fertility runs high pays more sequence length for the same
    // content, which skews both training mixture and inference cost.
    // Ratio emitted as integer ppm over per-lang BIGINT sums (no double
    // divide); stateless projection + lang-cardinality aggregate.
    "tokenizer_fertility" -> QueryDef.sql(
      """WITH t AS (
        |  SELECT lang,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS ws,
        |    CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 \t\n\r\f]')) AS BIGINT) AS bpe
        |  FROM documents WHERE lang IS NOT NULL)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(ws) AS BIGINT) AS ws_tokens, CAST(sum(bpe) AS BIGINT) AS bpe_tokens,
        |  CAST((1000000 * sum(bpe)) // sum(ws) AS BIGINT) AS fertility_ppm
        |FROM t GROUP BY lang ORDER BY lang""".stripMargin) { (s, d) =>
      documents(s, d)
        .filter(col("lang").isNotNull)
        .select(col("lang"),
          graft.functions.WsTokenCount.ws_token_count(col("text")).cast("long").as("ws"),
          regexp_count(lower(col("text")), lit("[a-z]+|[0-9]+|[^a-z0-9 \\t\\n\\r\\f]"))
            .cast("long").as("bpe"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("ws").as("ws_tokens"), sum("bpe").as("bpe_tokens"))
        .select(col("lang"), col("n_docs"), col("ws_tokens"), col("bpe_tokens"),
          // per-lang token sums reach 1e13+ at 100 TB — widen (see
          // charset_report alpha_ppm)
          expr("CAST((CAST(1000000 AS DECIMAL(38,0)) * bpe_tokens) div ws_tokens AS BIGINT)")
            .as("fertility_ppm"))
        .orderBy("lang")
    },

    // ----- quality scoring: token stats + stopword ratio -----
    "text_quality" -> QueryDef.sql(
      """WITH t AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents)
        |SELECT doc_id,
        |  len(toks) AS n_tokens,
        |  CAST(list_aggregate(list_transform(toks, x -> length(x)), 'sum') AS DOUBLE) / len(toks) AS avg_token_len,
        |  CAST(len(list_filter(toks, x -> x IN ('the', 'a', 'an', 'of', 'to', 'and', 'in', 'is'))) AS DOUBLE) / len(toks) AS stopword_ratio
        |FROM t ORDER BY doc_id""".stripMargin) { (s, d) =>
      documents(s, d)
        .withColumn("toks", expr(toksExpr))
        .select(
          col("doc_id"),
          size(col("toks")).cast("long").as("n_tokens"),
          (expr("aggregate(transform(toks, x -> length(x)), 0, (acc, x) -> acc + x)").cast("double")
            / size(col("toks"))).as("avg_token_len"),
          (expr("size(filter(toks, x -> x IN ('the', 'a', 'an', 'of', 'to', 'and', 'in', 'is')))").cast("double")
            / size(col("toks"))).as("stopword_ratio"))
        .orderBy("doc_id")
    },

    // ----- length↔quality rank correlation (Spearman, per source) -----
    // The confound check run before trusting any quality classifier: if
    // the quality signal is mostly a length proxy (|ρ| high), filtering
    // on it silently reshapes the length distribution. Spearman over
    // deterministic ranks: both rank assignments are row_number with a
    // doc_id tie-break (not average ranks — engine-identical by
    // construction), so Σd² is an exact integer and
    // ρ = 1 − 6Σd²/(n(n²−1)) ships as an exact truncated scaled integer
    // via the bigram_lift DECIMAL(38,0)/HUGEINT chain — zero float ops.
    // Scale shape: one stateless quality projection, two source-keyed
    // rank windows (hash-partitioned, never global), one
    // source-cardinality aggregate; Σd² accumulates in DECIMAL so a
    // billion-doc source cannot overflow the sum.
    "length_quality_spearman" -> QueryDef.sql(
      """WITH t AS (
        |  SELECT source, doc_id, n_chars,
        |    (1000000 * CAST(len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |       x -> x IN ('the','a','an','of','to','and','in','is'))) AS BIGINT))
        |      // CAST(len(string_split_regex(trim(lower(text)), '\s+')) AS BIGINT) AS q_ppm
        |  FROM documents WHERE text IS NOT NULL),
        |r AS (
        |  SELECT source, doc_id,
        |    row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS r_len,
        |    row_number() OVER (PARTITION BY source ORDER BY q_ppm, doc_id) AS r_q
        |  FROM t),
        |a AS (SELECT source, CAST(count(*) AS BIGINT) AS n,
        |        sum((r_len - r_q) * (r_len - r_q)) AS sum_d2
        |      FROM r GROUP BY source)
        |SELECT source, n,
        |  1000000 - CAST((CAST(6000000 AS HUGEINT) * sum_d2) //
        |    (CAST(n AS HUGEINT) * (CAST(n AS HUGEINT) * n - 1)) AS BIGINT) AS rho_x1e6
        |FROM a WHERE n > 1 ORDER BY source""".stripMargin) { (s, d) =>
      val t = documents(s, d)
        .filter(col("text").isNotNull)
        .withColumn("toks", expr(toksExpr))
        .select(col("source"), col("doc_id"), col("n_chars"),
          expr("(1000000L * size(filter(toks, x -> x IN " +
            "('the','a','an','of','to','and','in','is')))) div size(toks)").as("q_ppm"))
      t.select(col("source"), col("doc_id"),
          row_number().over(
            Window.partitionBy("source").orderBy("n_chars", "doc_id")).as("r_len"),
          row_number().over(
            Window.partitionBy("source").orderBy("q_ppm", "doc_id")).as("r_q"))
        .groupBy("source")
        .agg(count(lit(1)).as("n"),
          sum(expr("CAST((CAST(r_len AS BIGINT) - r_q) * (CAST(r_len AS BIGINT) - r_q) " +
            "AS DECIMAL(38,0))")).as("sum_d2"))
        .filter(col("n") > 1)
        .select(col("source"), col("n"),
          expr("1000000L - CAST((CAST(6000000 AS DECIMAL(38,0)) * sum_d2) div " +
            "(CAST(n AS DECIMAL(38,0)) * (CAST(n AS DECIMAL(38,0)) * n - 1)) AS BIGINT)")
            .as("rho_x1e6"))
        .orderBy("source")
    },

    // ----- Gopher rule battery: the full document-quality gate -----
    // The Rae et al. 2021 (Gopher, §A1.1) quality-filter rule set as ONE
    // per-document projection: word count in range, mean word length in
    // [3,10], ≥2 stopwords, ≥80% alphabetic tokens, top-bigram share
    // ≤20% — each rule an INTEGER comparison (3·n ≤ Σlen, 5·alpha ≥ 4·n,
    // 5·max_rep ≤ n_bigrams), so no ratio is ever emitted or compared in
    // double and no engine-defined rounding tie can exist. Spark computes
    // the repetition member per row with the native codegen
    // max_bigram_run (the oracle's explode→groupBy is DuckDB-only): the
    // whole battery is a stateless map-only stage — at 100 TB the gate
    // runs in the scan, nothing shuffles.
    "gopher_rules" -> QueryDef.sql(
      """WITH t AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents),
        |st AS (SELECT doc_id,
        |  CAST(len(toks) AS BIGINT) AS n_tokens,
        |  CAST(list_aggregate(list_transform(toks, x -> length(x)), 'sum') AS BIGINT) AS sum_token_len,
        |  CAST(len(list_filter(toks, x -> x IN ('the', 'a', 'an', 'of', 'to', 'and', 'in', 'is'))) AS BIGINT) AS n_stop,
        |  CAST(len(list_filter(toks, x -> regexp_full_match(x, '[a-z]+'))) AS BIGINT) AS n_alpha
        |FROM t),
        |bg AS (SELECT doc_id, unnest([toks[i] || ' ' || toks[i+1] for i in generate_series(1, len(toks)-1)]) AS bigram
        |       FROM t WHERE len(toks) >= 2),
        |mx AS (SELECT doc_id, CAST(max(c) AS BIGINT) AS max_rep
        |       FROM (SELECT doc_id, bigram, count(*) AS c FROM bg GROUP BY 1, 2) GROUP BY doc_id),
        |r AS (SELECT s.doc_id, s.n_tokens, s.sum_token_len, s.n_stop, s.n_alpha,
        |  coalesce(m.max_rep, 0) AS max_rep,
        |  CAST(s.n_tokens BETWEEN 20 AND 80 AS BIGINT) AS r_wordcount,
        |  CAST(3 * s.n_tokens <= s.sum_token_len AND s.sum_token_len <= 10 * s.n_tokens AS BIGINT) AS r_meanlen,
        |  CAST(s.n_stop >= 2 AS BIGINT) AS r_stopwords,
        |  CAST(5 * s.n_alpha >= 4 * s.n_tokens AS BIGINT) AS r_alpha,
        |  CAST(s.n_tokens < 2 OR 5 * coalesce(m.max_rep, 0) <= s.n_tokens - 1 AS BIGINT) AS r_repetition
        |FROM st s LEFT JOIN mx m USING (doc_id))
        |SELECT doc_id, n_tokens, sum_token_len, n_stop, n_alpha, max_rep,
        |  r_wordcount, r_meanlen, r_stopwords, r_alpha, r_repetition,
        |  r_wordcount * r_meanlen * r_stopwords * r_alpha * r_repetition AS keep
        |FROM r ORDER BY doc_id""".stripMargin) { (s, d) =>
      spread(documents(s, d))
        .withColumn("toks", expr(toksExpr))
        .select(
          col("doc_id"),
          size(col("toks")).cast("long").as("n_tokens"),
          expr("aggregate(transform(toks, x -> length(x)), 0L, (acc, x) -> acc + x)")
            .as("sum_token_len"),
          expr("size(filter(toks, x -> x IN ('the', 'a', 'an', 'of', 'to', 'and', 'in', 'is')))")
            .cast("long").as("n_stop"),
          expr("size(filter(toks, x -> x rlike '^[a-z]+$'))").cast("long").as("n_alpha"),
          when(size(col("toks")) >= 2, maxBigramRun(col("toks"))).otherwise(0L).as("max_rep"))
        .select(
          col("doc_id"), col("n_tokens"), col("sum_token_len"), col("n_stop"),
          col("n_alpha"), col("max_rep"),
          (col("n_tokens") >= 20 && col("n_tokens") <= 80).cast("long").as("r_wordcount"),
          (lit(3) * col("n_tokens") <= col("sum_token_len") &&
            col("sum_token_len") <= lit(10) * col("n_tokens")).cast("long").as("r_meanlen"),
          (col("n_stop") >= 2).cast("long").as("r_stopwords"),
          (lit(5) * col("n_alpha") >= lit(4) * col("n_tokens")).cast("long").as("r_alpha"),
          (col("n_tokens") < 2 ||
            lit(5) * col("max_rep") <= col("n_tokens") - 1).cast("long").as("r_repetition"))
        .withColumn("keep",
          col("r_wordcount") * col("r_meanlen") * col("r_stopwords") *
            col("r_alpha") * col("r_repetition"))
        .orderBy("doc_id")
    },

    // ----- language-ID heuristic: marker-token scores, argmax w/ fixed ties -----
    "text_lang_id" -> QueryDef.sql(
      """WITH t AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents),
        |s AS (SELECT doc_id,
        |  len(list_filter(toks, x -> x IN ('the', 'a', 'of'))) AS s_en,
        |  len(list_filter(toks, x -> x IN ('data', 'table', 'row'))) AS s_dt,
        |  len(list_filter(toks, x -> x IN ('spark', 'query', 'join'))) AS s_qy
        |FROM t)
        |SELECT doc_id,
        |  CASE WHEN s_en >= s_dt AND s_en >= s_qy THEN 'en'
        |       WHEN s_dt >= s_qy THEN 'dt' ELSE 'qy' END AS predicted_lang,
        |  s_en, s_dt, s_qy
        |FROM s ORDER BY doc_id""".stripMargin) { (s, d) =>
      documents(s, d)
        .withColumn("toks", expr(toksExpr))
        .select(
          col("doc_id"),
          expr("size(filter(toks, x -> x IN ('the', 'a', 'of')))").cast("long").as("s_en"),
          expr("size(filter(toks, x -> x IN ('data', 'table', 'row')))").cast("long").as("s_dt"),
          expr("size(filter(toks, x -> x IN ('spark', 'query', 'join')))").cast("long").as("s_qy"))
        .select(
          col("doc_id"),
          when(col("s_en") >= col("s_dt") && col("s_en") >= col("s_qy"), "en")
            .when(col("s_dt") >= col("s_qy"), "dt").otherwise("qy").as("predicted_lang"),
          col("s_en"), col("s_dt"), col("s_qy"))
        .orderBy("doc_id")
    },

    // ----- language-ID confusion matrix vs the labeled column -----
    // The audit any classifier gate ships with: predicted × true label
    // counts (the full confusion matrix, taxonomy-bounded output) —
    // before a language filter reshapes a corpus, this table says WHICH
    // languages it silently eats. Same stateless scoring projection as
    // text_lang_id; one bounded-cardinality aggregate.
    "langid_confusion" -> QueryDef.sql(
      """WITH t AS (SELECT doc_id, lang, string_split_regex(trim(lower(text)), '\s+') AS toks
        |           FROM documents WHERE lang IS NOT NULL),
        |s AS (SELECT doc_id, lang,
        |  len(list_filter(toks, x -> x IN ('the', 'a', 'of'))) AS s_en,
        |  len(list_filter(toks, x -> x IN ('data', 'table', 'row'))) AS s_dt,
        |  len(list_filter(toks, x -> x IN ('spark', 'query', 'join'))) AS s_qy
        |FROM t)
        |SELECT lang,
        |  CASE WHEN s_en >= s_dt AND s_en >= s_qy THEN 'en'
        |       WHEN s_dt >= s_qy THEN 'dt' ELSE 'qy' END AS predicted_lang,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM s GROUP BY 1, 2 ORDER BY lang, predicted_lang""".stripMargin) { (s, d) =>
      documents(s, d)
        .filter(col("lang").isNotNull)
        .withColumn("toks", expr(toksExpr))
        .select(
          col("lang"),
          expr("size(filter(toks, x -> x IN ('the', 'a', 'of')))").cast("long").as("s_en"),
          expr("size(filter(toks, x -> x IN ('data', 'table', 'row')))").cast("long").as("s_dt"),
          expr("size(filter(toks, x -> x IN ('spark', 'query', 'join')))").cast("long").as("s_qy"))
        .select(
          col("lang"),
          when(col("s_en") >= col("s_dt") && col("s_en") >= col("s_qy"), "en")
            .when(col("s_dt") >= col("s_qy"), "dt").otherwise("qy").as("predicted_lang"))
        .groupBy("lang", "predicted_lang")
        .agg(count(lit(1)).as("n"))
        .orderBy("lang", "predicted_lang")
    },

    // ----- mixed-language segmentation: per-line langid spans -----
    // Document-level language ID hides code-switching; this runs the
    // SAME scoring heuristic per 10-token line and collapses contiguous
    // same-prediction runs into spans (gaps-and-islands: line_idx minus
    // the per-(doc, lang) dense rank is the island key), emitting only
    // documents with ≥ 2 spans — the mixed-language docs a monolingual
    // filter would silently mangle. Line slices come straight off the
    // token array (no re-tokenization per line); both windows ride one
    // doc-keyed shuffle.
    "langid_line_spans" -> QueryDef.sql(
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks
        |  FROM documents),
        |ln AS (
        |  SELECT doc_id, unnest(generate_series(0, (len(toks) - 1) // 10)) AS k, toks
        |  FROM t),
        |sl AS (
        |  SELECT doc_id, k,
        |    list_slice(toks, k * 10 + 1, least(k * 10 + 10, len(toks))) AS lt
        |  FROM ln),
        |sc AS (
        |  SELECT doc_id, k,
        |    len(list_filter(lt, x -> x IN ('the', 'a', 'of'))) AS s_en,
        |    len(list_filter(lt, x -> x IN ('data', 'table', 'row'))) AS s_dt,
        |    len(list_filter(lt, x -> x IN ('spark', 'query', 'join'))) AS s_qy
        |  FROM sl),
        |pr AS (
        |  SELECT doc_id, k,
        |    CASE WHEN s_en >= s_dt AND s_en >= s_qy THEN 'en'
        |         WHEN s_dt >= s_qy THEN 'dt' ELSE 'qy' END AS lang
        |  FROM sc),
        |g AS (
        |  SELECT doc_id, k, lang,
        |    k - (row_number() OVER (PARTITION BY doc_id, lang ORDER BY k) - 1) AS grp
        |  FROM pr),
        |sp AS (
        |  SELECT doc_id, lang, grp, CAST(min(k) AS BIGINT) AS span_start,
        |    CAST(count(*) AS BIGINT) AS n_lines
        |  FROM g GROUP BY 1, 2, 3),
        |ns AS (SELECT *, count(*) OVER (PARTITION BY doc_id) AS nspans FROM sp)
        |SELECT doc_id, span_start, lang, n_lines FROM ns WHERE nspans >= 2
        |ORDER BY doc_id, span_start""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val lines = documents(s, d)
        .withColumn("toks", expr(toksExpr))
        .select(col("doc_id"), col("toks"), size(col("toks")).cast("long").as("n"))
        .select(col("doc_id"), col("toks"), col("n"),
          explode(sequence(lit(0L), expr("(n - 1) div 10"))).as("k"))
        .select(col("doc_id"), col("k"),
          slice(col("toks"), (lit(1) + lit(10) * col("k")).cast("int"),
            (least(col("k") * 10 + 10, col("n")) - col("k") * 10).cast("int")).as("lt"))
      val pred = lines.select(col("doc_id"), col("k"),
          expr("size(filter(lt, x -> x IN ('the', 'a', 'of')))").as("s_en"),
          expr("size(filter(lt, x -> x IN ('data', 'table', 'row')))").as("s_dt"),
          expr("size(filter(lt, x -> x IN ('spark', 'query', 'join')))").as("s_qy"))
        .select(col("doc_id"), col("k"),
          when(col("s_en") >= col("s_dt") && col("s_en") >= col("s_qy"), "en")
            .when(col("s_dt") >= col("s_qy"), "dt").otherwise("qy").as("lang"))
      val wIsl = Window.partitionBy(col("doc_id"), col("lang")).orderBy(col("k"))
      val wDoc = Window.partitionBy(col("doc_id"))
      pred
        .withColumn("grp", col("k") - (row_number().over(wIsl) - 1))
        .groupBy("doc_id", "lang", "grp")
        .agg(min(col("k")).as("span_start"), count(lit(1)).as("n_lines"))
        .withColumn("nspans", count(lit(1)).over(wDoc))
        .filter(col("nspans") >= 2)
        .select("doc_id", "span_start", "lang", "n_lines")
        .orderBy("doc_id", "span_start")
    },

    // ----- document fingerprint: whitespace-normalized content hash -----
    "text_fingerprint" -> QueryDef.sql(
      """SELECT doc_id, md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fingerprint
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      documents(s, d).select(
        col("doc_id"),
        fingerprintCol(col("text")).as("fingerprint"))
        .orderBy("doc_id")
    },

    // ----- rolling-hash fingerprint: the Rabin–Karp polynomial hash -----
    // The incremental-fingerprint primitive beside the md5 content hash
    // (content-defined chunking, delta detection, cheap equality
    // pre-filter): h = fold(h·257 + codepoint mod 2³¹−1) over the
    // normalized text, as the native codegen `rolling_hash` expression —
    // a stateless projection. The oracle folds the same recurrence with
    // list_reduce; B·M bounds keep every intermediate in int64 on both
    // engines.
    "text_rolling_fingerprint" -> QueryDef.sql(
      """WITH t AS (
        |  SELECT doc_id, regexp_replace(trim(lower(text)), '\s+', ' ', 'g') AS s
        |  FROM documents)
        |SELECT doc_id,
        |  CASE WHEN length(s) = 0 THEN 0
        |       ELSE list_reduce([CAST(unicode(s[i]) AS BIGINT)
        |                         for i in generate_series(1, length(s))],
        |                        (acc, x) -> (acc * 257 + x) % 2147483647)
        |  END AS rolling_fp,
        |  CAST(length(s) AS BIGINT) AS n_chars
        |FROM t ORDER BY doc_id""".stripMargin) { (s, d) =>
      documents(s, d)
        .withColumn("s", regexp_replace(trim(lower(col("text"))), "\\s+", " "))
        .select(col("doc_id"),
          graft.functions.RollingHash.rolling_hash(col("s")).as("rolling_fp"),
          length(col("s")).cast("long").as("n_chars"))
        .orderBy("doc_id")
    },

    // ----- winnowing fingerprints (MOSS): the copy-detection selector -----
    // Schleimer, Wilkerson & Aiken (SIGMOD 2003): hash every 5-gram,
    // slide a 4-gram window, keep each window's rightmost minimum — the
    // selection with the LOCALITY GUARANTEE rolling_fp (whole-doc) and
    // minhash (set-sample) both lack: any ≥ 8-char shared substring
    // leaves a shared selected fingerprint, so plagiarized spans can't
    // hide, yet storage is ~2/(w+1) of the grams. The entire selection
    // runs IN-ROW via the native codegen [[graft.functions.
    // WinnowFingerprints]] expression (one generated-code pass per doc,
    // unboxed long[] out) — never the explode-per-character → per-doc
    // window sort the relational spelling would cost at 100 TB. The
    // emitted density sits between the guaranteed floor 1/w (250000
    // ppm) and ~2/(w+1) expected (400000 ppm) — the bound rides as a
    // hash-checked fact per document; fp_min/fp_max anchor the actual
    // selected hash VALUES cross-engine (md5-head60, the corpus-wide
    // shingle convention).
    "text_winnowing" -> QueryDef.sql(
      """WITH t AS (
        |  SELECT doc_id, regexp_replace(trim(lower(text)), '\s+', ' ', 'g') AS s
        |  FROM documents),
        |g AS (SELECT doc_id, greatest(length(s) - 4, 1) AS ng, s FROM t),
        |h AS (SELECT doc_id, ng,
        |   [('0x' || substr(md5(substr(s, i, 5)), 1, 15))::BIGINT
        |    for i in generate_series(1, ng)] AS ghs
        |  FROM g),
        |w AS (SELECT doc_id, ng, greatest(ng - 3, 1) AS nw, ghs FROM h),
        |sel AS (SELECT doc_id, ng, nw, ghs,
        |   [j + len(ghs[j:least(j+3, ng)])
        |      - list_indexof(list_reverse(ghs[j:least(j+3, ng)]),
        |                     list_min(ghs[j:least(j+3, ng)]))
        |    for j in generate_series(1, nw)] AS pos
        |  FROM w),
        |d AS (SELECT doc_id, ng, nw,
        |   [ghs[p] for p in list_distinct(pos)] AS fps
        |  FROM sel)
        |SELECT doc_id, CAST(ng AS BIGINT) AS n_grams,
        |  CAST(nw AS BIGINT) AS n_windows,
        |  CAST(len(fps) AS BIGINT) AS n_selected,
        |  CAST((1000000 * len(fps)) // nw AS BIGINT) AS density_ppm,
        |  CAST(list_min(fps) AS BIGINT) AS fp_min,
        |  CAST(list_max(fps) AS BIGINT) AS fp_max,
        |  CAST(len(fps) * 4 >= nw AS BIGINT) AS within_floor
        |FROM d ORDER BY doc_id""".stripMargin) { (s, d) =>
      import graft.functions.WinnowFingerprints.winnow_fingerprints
      spread(documents(s, d))
        .withColumn("s", regexp_replace(trim(lower(col("text"))), "\\s+", " "))
        .select(col("doc_id"),
          greatest(length(col("s")) - 4, lit(1)).cast("long").as("ng"),
          winnow_fingerprints(col("s"), lit(5), lit(4)).as("fps"))
        .select(col("doc_id"), col("ng"),
          greatest(col("ng") - 3, lit(1)).as("nw"),
          size(col("fps")).cast("long").as("n_selected"),
          array_min(col("fps")).as("fp_min"),
          array_max(col("fps")).as("fp_max"))
        .select(col("doc_id"), col("ng").as("n_grams"),
          col("nw").as("n_windows"), col("n_selected"),
          expr("(1000000 * n_selected) div nw").as("density_ppm"),
          col("fp_min"), col("fp_max"),
          (col("n_selected") * 4 >= col("nw")).cast("long").as("within_floor"))
        .orderBy("doc_id")
    },

    // ----- repetition quality filter (Gopher-style): top-bigram ratio -----
    // The "repeated boilerplate" signal LLM pipelines gate on: the share
    // of a document's bigrams taken by its single most frequent bigram.
    // Computed PER ROW (sorted-bigram longest-run, see maxBigramRunSql):
    // a stateless projection pipelined into the scan — no bigram ever
    // reaches a shuffle, vs the explode → groupBy(doc, bigram) →
    // groupBy(doc) shape that shuffles every distinct bigram of the
    // corpus twice. At 100 TB that is the difference between a map-only
    // stage and the widest shuffle in the pipeline.
    "text_repetition" -> QueryDef.sql(
      """WITH t AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents),
        |bg AS (SELECT doc_id, unnest([toks[i] || ' ' || toks[i+1] for i in generate_series(1, len(toks)-1)]) AS bigram
        |       FROM t WHERE len(toks) >= 2),
        |c AS (SELECT doc_id, bigram, count(*) AS c FROM bg GROUP BY 1, 2)
        |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams, CAST(max(c) AS BIGINT) AS max_rep,
        |  CAST((1000000 * max(c)) // sum(c) AS BIGINT) AS rep_ppm
        |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      spread(documents(s, d))
        .withColumn("toks", expr(toksExpr))
        .filter(size(col("toks")) >= 2)
        .select(
          col("doc_id"),
          (size(col("toks")) - 1).cast("long").as("n_bigrams"),
          maxBigramRun(col("toks")).as("max_rep"))
        .withColumn("rep_ppm",
          expr("(1000000L * max_rep) div n_bigrams"))
        .orderBy("doc_id")
    },

    // ----- Gopher repetition battery: top-2/3/4-gram fractions -----
    // The full Rae et al. 2021 repetition signal set (text_repetition is
    // the bigram member): for each n in {2,3,4}, the share of the
    // document's n-grams taken by its single most frequent n-gram. All
    // three run through the native codegen max_ngram_run expression in
    // ONE stateless projection — no n-gram ever reaches a shuffle, three
    // signals for one pass over the tokens.
    "text_repetition_ngrams" -> QueryDef.sql(
      """WITH t AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents),
        |r AS (SELECT doc_id, toks, len(toks) AS n_toks FROM t WHERE len(toks) >= 4),
        |g2 AS (SELECT doc_id, unnest([array_to_string(toks[i:i+1], ' ') for i in generate_series(1, len(toks)-1)]) AS g FROM r),
        |g3 AS (SELECT doc_id, unnest([array_to_string(toks[i:i+2], ' ') for i in generate_series(1, len(toks)-2)]) AS g FROM r),
        |g4 AS (SELECT doc_id, unnest([array_to_string(toks[i:i+3], ' ') for i in generate_series(1, len(toks)-3)]) AS g FROM r),
        |m2 AS (SELECT doc_id, max(c) AS m FROM (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY 1,2) GROUP BY doc_id),
        |m3 AS (SELECT doc_id, max(c) AS m FROM (SELECT doc_id, g, count(*) AS c FROM g3 GROUP BY 1,2) GROUP BY doc_id),
        |m4 AS (SELECT doc_id, max(c) AS m FROM (SELECT doc_id, g, count(*) AS c FROM g4 GROUP BY 1,2) GROUP BY doc_id)
        |SELECT r.doc_id, CAST(r.n_toks AS BIGINT) AS n_tokens,
        |  (1000000 * m2.m) // (r.n_toks - 1) AS rep2_ppm,
        |  (1000000 * m3.m) // (r.n_toks - 2) AS rep3_ppm,
        |  (1000000 * m4.m) // (r.n_toks - 3) AS rep4_ppm
        |FROM r JOIN m2 ON m2.doc_id = r.doc_id
        |JOIN m3 ON m3.doc_id = r.doc_id JOIN m4 ON m4.doc_id = r.doc_id
        |ORDER BY r.doc_id""".stripMargin) { (s, d) =>
      import graft.functions.MaxNgramRun.max_ngram_run
      spread(documents(s, d))
        .withColumn("toks", expr(toksExpr))
        .filter(size(col("toks")) >= 4)
        .select(
          col("doc_id"),
          size(col("toks")).cast("long").as("n_tokens"),
          max_ngram_run(col("toks"), lit(2)).as("m2"),
          max_ngram_run(col("toks"), lit(3)).as("m3"),
          max_ngram_run(col("toks"), lit(4)).as("m4"))
        .select(col("doc_id"), col("n_tokens"),
          expr("(1000000L * m2) div (n_tokens - 1)").as("rep2_ppm"),
          expr("(1000000L * m3) div (n_tokens - 2)").as("rep3_ppm"),
          expr("(1000000L * m4) div (n_tokens - 3)").as("rep4_ppm"))
        .orderBy("doc_id")
    },

    // ----- blocklist filter: broadcast anti-join on the source domain -----
    // The domain/URL blocklist step of a crawl pipeline. Blocklists are
    // small (≤ millions of rows) next to the corpus, so the anti-join
    // broadcasts and the corpus never shuffles. NULL semantics are
    // explicit on BOTH engines: an unknown source is NOT blocklisted
    // (kept) — a bare SQL `NOT IN` would silently drop nulls while the
    // anti-join keeps them, so the oracle spells the null case out.
    // ----- collocation mining: top-k bigrams by lift -----
    // The tokenizer-eval / phrase-mining statistic: how much more often
    // do adjacent words co-occur than independence predicts. Lift
    // p(ab)/(p(a)p(b)) = n_ab·N²/(M·n_a·n_b) ships as the exact
    // truncated ppm integer (HUGEINT / DECIMAL(38,0) — four BIGINT
    // counts, zero float ops, so no rounding tie can diverge; NO log:
    // PMI's ln() is libm-dependent; ranking by lift ranks identically).
    // Scale shape:
    // the bigram explode is per-row bounded and its count map-side
    // combines to vocab² (Heaps-law sublinear); unigram lookups are
    // equi-joins on the vocab-cardinality side (AQE decides — not a
    // forced broadcast, vocab grows with the corpus); one-row totals
    // broadcast legitimately; min-count ≥ 5 then TakeOrderedAndProject
    // top-20 with (w1, w2) tiebreak.
    "bigram_lift" -> QueryDef.sql(
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents),
        |n AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n FROM t),
        |bg AS (
        |  SELECT toks[CAST(k AS INT)] AS w1, toks[CAST(k + 1 AS INT)] AS w2
        |  FROM (SELECT doc_id, toks, n, unnest(generate_series(1, n - 1)) AS k FROM n WHERE n > 1)),
        |uni AS (
        |  SELECT w, count(*) AS c FROM (
        |    SELECT unnest(toks) AS w FROM t) GROUP BY w),
        |tot AS (SELECT CAST(sum(c) AS BIGINT) AS nn FROM uni),
        |bgc AS (SELECT w1, w2, count(*) AS c_ab FROM bg GROUP BY w1, w2),
        |btot AS (SELECT CAST(sum(c_ab) AS BIGINT) AS mm FROM bgc)
        |SELECT b.w1, b.w2, b.c_ab,
        |  CAST((CAST(1000000 AS HUGEINT) * b.c_ab * tot.nn * tot.nn) //
        |    (CAST(btot.mm AS HUGEINT) * u1.c * u2.c) AS BIGINT) AS lift_ppm
        |FROM bgc b
        |JOIN uni u1 ON u1.w = b.w1 JOIN uni u2 ON u2.w = b.w2, tot, btot
        |WHERE b.c_ab >= 5
        |ORDER BY lift_ppm DESC, w1, w2 LIMIT 20""".stripMargin) { (s, d) =>
      val t = spread(documents(s, d))
        .withColumn("toks", expr(toksExpr))
        .localCheckpoint() // two consumers: bigram and unigram counts
      val uni = t.select(explode(col("toks")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("c"))
        .localCheckpoint() // three consumers: two join sides + the total
      val tot = uni.agg(sum("c").cast("long").as("nn"))
      val bgc = t
        .select(col("toks"), size(col("toks")).cast("long").as("n"))
        .filter(col("n") > 1)
        .select(col("toks"), explode(sequence(lit(1L), col("n") - 1)).as("k"))
        .select(element_at(col("toks"), col("k").cast("int")).as("w1"),
          element_at(col("toks"), (col("k") + 1).cast("int")).as("w2"))
        .groupBy("w1", "w2").agg(count(lit(1)).as("c_ab"))
        .filter(col("c_ab") >= 5)
      // btot must sum over ALL bigrams (pre-filter would change p(ab))…
      val btot = t
        .select((size(col("toks")) - 1).cast("long").as("m"))
        .filter(col("m") > 0)
        .agg(sum("m").as("mm"))
      bgc
        .join(uni.select(col("w").as("w1"), col("c").as("c1")), Seq("w1"))
        .join(uni.select(col("w").as("w2"), col("c").as("c2")), Seq("w2"))
        .crossJoin(broadcast(tot)).crossJoin(broadcast(btot))
        .select(col("w1"), col("w2"), col("c_ab"),
          // exact integer lift: c_ab·nn²·1e6 / (mm·c1·c2) in DECIMAL(38,0)
          // (≡ DuckDB HUGEINT at these magnitudes), truncated — no double
          // enters the emitted value
          expr("CAST((CAST(1000000 AS DECIMAL(38,0)) * c_ab * nn * nn) div " +
            "(CAST(mm AS DECIMAL(38,0)) * c1 * c2) AS BIGINT)").as("lift_ppm"))
        .orderBy(col("lift_ppm").desc, col("w1"), col("w2"))
        .limit(20)
    },

    // ----- near-dup cluster-size histogram -----
    // The dedup QA chart: how big do near-dup clusters get (a fat tail
    // means boilerplate or a crawler loop). Cluster assignments come
    // from the persisted store ([[SignatureStore.ensureClusters]] — the
    // CC fixpoint never recomputes); sizes are one map-side-combinable
    // count, buckets are log2 via length(bin(sz)) — pure integer
    // arithmetic, engine-exact at boundaries (same trick as
    // tokens_histogram); output is ~log₂(max cluster) rows.
    "cluster_size_histogram" -> QueryDef.sql(
      s"""WITH $MinhashBandsCte,
         |cand AS (
         |  $BandedPairsSelect),
         |undirected AS (
         |  SELECT doc_a AS a, doc_b AS b FROM cand
         |  UNION ALL SELECT doc_b, doc_a FROM cand),
         |reach AS (
         |  SELECT doc_id AS id, doc_id AS r FROM documents
         |  UNION
         |  SELECT u.b AS id, reach.r FROM reach JOIN undirected u ON u.a = reach.id),
         |cl AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id),
         |sz AS (SELECT cluster_id, count(*) AS sz FROM cl GROUP BY cluster_id)
         |SELECT CAST(length(bin(sz)) AS BIGINT) AS bucket, count(*) AS n_clusters,
         |  CAST(sum(sz) AS BIGINT) AS n_docs, min(sz) AS min_sz, max(sz) AS max_sz
         |FROM sz GROUP BY 1
         |ORDER BY 1""".stripMargin.replaceFirst("WITH ", "WITH RECURSIVE ")) { (s, d) =>
      SignatureStore.ensureClusters(s, d)
        .groupBy("cluster_id").agg(count(lit(1)).as("sz"))
        .groupBy(length(bin(col("sz"))).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n_clusters"), sum("sz").as("n_docs"),
          min("sz").as("min_sz"), max("sz").as("max_sz"))
        .orderBy("bucket")
    },

    // ----- cross-source duplication matrix -----
    // WHERE near-duplication comes from: LSH candidate pairs rolled up
    // by normalized (source, source) — the report that catches a mirror
    // site or a double-crawled dump before training. Scale shape: pairs
    // come from the persisted band store (no text re-hash, guarded
    // banded join — never quadratic); the two doc_id → source lookups
    // are id-equi-joins against a corpus-growing side, deliberately NOT
    // broadcast (AQE decides); the rollup is map-side combinable at
    // source² cardinality. least/greatest normalizes the pair so the
    // matrix is upper-triangular regardless of doc-id order.
    "dup_source_matrix" -> QueryDef.sql(
      s"""WITH $MinhashBandsCte,
         |p AS (
         |$BandedPairsSelect)
         |SELECT least(coalesce(da.source, '(none)'), coalesce(db.source, '(none)')) AS source_a,
         |  greatest(coalesce(da.source, '(none)'), coalesce(db.source, '(none)')) AS source_b,
         |  count(*) AS n_pairs
         |FROM p JOIN documents da ON da.doc_id = p.doc_a
         |       JOIN documents db ON db.doc_id = p.doc_b
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
      val pairs = SignatureStore.ensureK8Pairs(s, d)
      val src = documents(s, d)
        .select(col("doc_id"), coalesce(col("source"), lit("(none)")).as("src"))
      pairs
        .join(src.select(col("doc_id").as("doc_a"), col("src").as("sa")), Seq("doc_a"))
        .join(src.select(col("doc_id").as("doc_b"), col("src").as("sb")), Seq("doc_b"))
        .select(least(col("sa"), col("sb")).as("source_a"),
          greatest(col("sa"), col("sb")).as("source_b"))
        .groupBy("source_a", "source_b")
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy("source_a", "source_b")
    },

    // ----- corpus charset report: per-(lang, source) char-class mix -----
    // The QA table a corpus build checks before tokenizer training:
    // which strata carry markup junk, digit-heavy boilerplate, or
    // unexpected scripts. Char-class counts come from length deltas
    // around a global regexp_replace — the classes are explicit ASCII
    // ranges ([A-Za-z], [0-9], [ \t\n\r\f]) on which Java regex and RE2
    // agree (\s and \w would NOT: they disagree on \x0B and unicode
    // word chars). Scale shape: stateless per-row projection, one
    // map-side-combinable aggregate at stratum cardinality — the classic
    // 100 TB profiling scan; every output cell is an exact BIGINT — the
    // ratio ships as floor(1e6 * alpha / chars) parts-per-million so no
    // engine's double-rounding tie-break can enter the hash.
    "charset_report" -> QueryDef.sql(
      """WITH c AS (
        |  SELECT lang, source,
        |    CAST(length(text) AS BIGINT) AS n_chars,
        |    CAST(length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')) AS BIGINT) AS n_alpha,
        |    CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT) AS n_digit,
        |    CAST(length(text) - length(regexp_replace(text, '[ \t\n\r\f]', '', 'g')) AS BIGINT) AS n_space
        |  FROM documents)
        |SELECT lang, source, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS n_chars, CAST(sum(n_alpha) AS BIGINT) AS n_alpha,
        |  CAST(sum(n_digit) AS BIGINT) AS n_digit, CAST(sum(n_space) AS BIGINT) AS n_space,
        |  CAST(sum(n_chars) - sum(n_alpha) - sum(n_digit) - sum(n_space) AS BIGINT) AS n_other,
        |  CAST((1000000 * sum(n_alpha)) // sum(n_chars) AS BIGINT) AS alpha_ppm
        |FROM c GROUP BY lang, source
        |ORDER BY lang, source""".stripMargin) { (s, d) =>
      documents(s, d)
        .select(col("lang"), col("source"),
          length(col("text")).cast("long").as("n_chars"),
          (length(col("text")) -
            length(regexp_replace(col("text"), "[A-Za-z]", ""))).cast("long").as("n_alpha"),
          (length(col("text")) -
            length(regexp_replace(col("text"), "[0-9]", ""))).cast("long").as("n_digit"),
          (length(col("text")) -
            length(regexp_replace(col("text"), "[ \t\n\r\f]", ""))).cast("long").as("n_space"))
        .groupBy("lang", "source")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_chars").as("n_chars"), sum("n_alpha").as("n_alpha"),
          sum("n_digit").as("n_digit"), sum("n_space").as("n_space"))
        .select(col("lang"), col("source"), col("n_docs"), col("n_chars"),
          col("n_alpha"), col("n_digit"), col("n_space"),
          (col("n_chars") - col("n_alpha") - col("n_digit") - col("n_space")).as("n_other"),
          // 1e6 × a corpus-scale char sum passes int64 at ~9.2e12 chars
          // — far below a 100 TB corpus. DECIMAL(38,0) ≡ the oracle's
          // HUGEINT intermediate; the truncated ppm refits BIGINT.
          expr("CAST((CAST(1000000 AS DECIMAL(38,0)) * n_alpha) div n_chars AS BIGINT)")
            .as("alpha_ppm"))
        .orderBy("lang", "source")
    },

    "filter_blocklist" -> QueryDef.sql(
      """SELECT doc_id, source FROM documents
        |WHERE source IS NULL OR source NOT IN ('src3', 'src7', 'src11')
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      import s.implicits._
      val blocklist = Seq("src3", "src7", "src11").toDF("source")
      documents(s, d)
        .join(broadcast(blocklist), Seq("source"), "left_anti")
        .select("doc_id", "source")
        .orderBy("doc_id")
    },

    // ----- feature-hashing (hashing trick) collision audit -----
    // Before a pipeline hashes its vocabulary into a fixed-width
    // feature vector (Weinberger et al. 2009), this table prices the
    // damage per candidate width: tokens sharing a bucket, the ppm of
    // vocabulary TYPES colliding, and — the number that actually moves
    // models — the ppm of occurrence MASS landing in shared buckets
    // (frequent features colliding hurt; rare ones do not). BIGRAM
    // features (the unigram vocabulary here is 31 types — collision-free
    // at any sane width, a vacuous audit); one bigram-vocab
    // fold, one md5 bucket per (feature, width) over the bounded width
    // grid, all-integer ppm. The measured table IS the sizing decision:
    // type collisions fall ~geometrically with width while the mass
    // column shows when the survivors stop mattering.
    "fe_hashing_trick_audit" -> QueryDef.sql(
      """WITH t0 AS (
        |  SELECT string_split_regex(trim(lower(text)), '\s+') AS tk FROM documents),
        |bg AS (
        |  SELECT tk[i] || ' ' || tk[i + 1] AS t
        |  FROM t0, LATERAL (SELECT unnest(generate_series(1, len(tk) - 1)) AS i) i),
        |v AS (SELECT t, CAST(count(*) AS BIGINT) AS freq FROM bg GROUP BY 1),
        |ds AS (SELECT unnest([256, 1024, 4096, 16384]) AS m),
        |h AS (SELECT ds.m, ('0x' || substr(md5(t), 1, 15))::BIGINT % ds.m AS b,
        |        freq
        |      FROM v CROSS JOIN ds),
        |bk AS (SELECT m, b, CAST(count(*) AS BIGINT) AS k,
        |         CAST(sum(freq) AS BIGINT) AS f
        |       FROM h GROUP BY 1, 2),
        |g AS (
        |  SELECT m, CAST(sum(k) AS BIGINT) AS n_vocab,
        |    CAST(count(*) AS BIGINT) AS n_buckets_used,
        |    CAST(sum(CASE WHEN k > 1 THEN k ELSE 0 END) AS BIGINT) AS n_colliding,
        |    CAST(sum(f) AS BIGINT) AS mass,
        |    CAST(sum(CASE WHEN k > 1 THEN f ELSE 0 END) AS BIGINT) AS mass_colliding
        |  FROM bk GROUP BY 1)
        |SELECT CAST(m AS BIGINT) AS dim, n_vocab, n_buckets_used, n_colliding,
        |  CAST((1000000 * n_colliding) // n_vocab AS BIGINT) AS type_collision_ppm,
        |  CAST((1000000 * mass_colliding) // mass AS BIGINT) AS mass_collision_ppm
        |FROM g ORDER BY dim""".stripMargin) { (s, d) =>
      import s.implicits._
      val v = spread(documents(s, d))
        .select(graft.functions.WsTokens.ws_tokens(col("text")).as("tk"))
        .filter(size(col("tk")) >= 2)
        .select(explode(expr(
          "transform(sequence(1, size(tk) - 1), i -> concat(tk[i-1], ' ', tk[i]))"))
          .as("t"))
        .groupBy("t").agg(count(lit(1)).as("cnt"))
      val ds = Seq(256L, 1024L, 4096L, 16384L).toDF("m")
      val h = v.crossJoin(broadcast(ds))
        .select(col("m"),
          pmod(graft.functions.Md5Head60.md5_head60(col("t")), col("m")).as("b"),
          col("cnt").as("freq"))
      val bk = h.groupBy("m", "b")
        .agg(count(lit(1)).as("k"), sum("freq").cast("long").as("f"))
      bk.groupBy("m")
        .agg(sum("k").cast("long").as("n_vocab"),
          count(lit(1)).as("n_buckets_used"),
          sum(when(col("k") > 1, col("k")).otherwise(0L)).cast("long").as("n_colliding"),
          sum("f").cast("long").as("mass"),
          sum(when(col("k") > 1, col("f")).otherwise(0L)).cast("long").as("mass_colliding"))
        .select(col("m").as("dim"), col("n_vocab"), col("n_buckets_used"),
          col("n_colliding"),
          expr("CAST((1000000 * n_colliding) div n_vocab AS BIGINT)")
            .as("type_collision_ppm"),
          expr("CAST((1000000 * mass_colliding) div mass AS BIGINT)")
            .as("mass_collision_ppm"))
        .orderBy("dim")
    },

    // ----- phrase blocklist: one automaton pass, not a containment join -----
    // filter_blocklist drops whole SOURCES; this is the harder face —
    // fixed PHRASES anywhere in the text. The declarative spelling is a
    // theta-join (documents × phrases ON contains), which is |corpus|
    // × |phrases| substring scans at any engine; the native
    // [[graft.functions.AcMatches]] expression compiles the list into
    // one Aho–Corasick automaton and reads each document's bytes ONCE,
    // inside whole-stage codegen — the only shape that survives a 10k-
    // phrase blocklist over 100 TB. The oracle IS the quadratic
    // containment join, so the hash gate proves automaton ≡ contains()
    // per phrase — including the nested pair ('slow' inside 'merge
    // slow', exercising the dictionary-suffix closure) and a zero-hit
    // phrase kept by the left join.
    "blocklist_phrase_scan" -> QueryDef.sql(
      """WITH p AS (SELECT * FROM (VALUES
        |    (0, 'batch batch'), (1, 'hash scan'), (2, 'merge slow'),
        |    (3, 'quantum leap'), (4, 'slow'), (5, 'table scan merge')) v(pid, phrase))
        |SELECT p.pid, p.phrase, CAST(count(d.doc_id) AS BIGINT) AS n_docs
        |FROM p LEFT JOIN documents d ON contains(lower(d.text), p.phrase)
        |GROUP BY 1, 2 ORDER BY p.pid""".stripMargin) { (s, d) =>
      import graft.functions.AcMatches.ac_matches
      import s.implicits._
      val phrases = Seq("batch batch", "hash scan", "merge slow",
        "quantum leap", "slow", "table scan merge")
      val pdf = phrases.zipWithIndex.map { case (p, i) => (i, p) }.toDF("pid", "phrase")
      val hits = spread(documents(s, d))
        .select(explode(ac_matches(lower(col("text")),
          array(phrases.map(lit): _*))).as("pid"))
        .groupBy("pid").agg(count(lit(1)).as("n_docs"))
      broadcast(pdf).join(hits, Seq("pid"), "left")
        .select(col("pid"), col("phrase"), coalesce(col("n_docs"), lit(0L)).as("n_docs"))
        .orderBy("pid")
    },

    // ----- multimodal plumbing: opaque binary payload + typed metadata -----
    // Metadata derivation over the opaque payload only — real pixel
    // decode (ImageIO) lives in mm_decode_pipeline / Multimodal.scala.
    "mm_binary_meta" -> QueryDef.sql(
      """SELECT doc_id, octet_length(CAST(text AS BLOB)) AS n_bytes,
        |  octet_length(CAST(text AS BLOB)) % 64 AS fake_width,
        |  octet_length(CAST(text AS BLOB)) // 64 AS fake_height
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      documents(s, d)
        .select(col("doc_id"), length(col("text").cast("binary")).cast("long").as("n_bytes"))
        .select(
          col("doc_id"), col("n_bytes"),
          (col("n_bytes") % 64).as("fake_width"),
          expr("n_bytes div 64").as("fake_height"))
        .orderBy("doc_id")
    },

    // ----- content-defined chunking (CDC over tokens) -----
    // chunk_documents cuts at FIXED offsets, so one inserted token
    // shifts every later boundary and breaks chunk-level dedup. CDC
    // cuts where the CONTENT says to — a token whose 60-bit hash ≡ 0
    // (mod 8) closes its chunk — so boundaries re-synchronize right
    // after any edit and shared regions re-produce identical chunks
    // wherever they sit (the rsync/LBFS law; expected chunk length 8
    // tokens here). One positional explode + one doc-keyed window (the
    // boundary-count prefix sum IS the chunk id) + one chunk-level
    // aggregate; the deliverable is the chunk-length × dedup histogram
    // — n_distinct < n_chunks is chunk-granular duplication the
    // doc-level families can't see. Chunk fingerprints use the o11
    // sort-key-first ordered-agg trick so both engines agg in pos
    // order.
    "chunk_cdc" -> QueryDef.sql(
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents),
        |x AS (
        |  SELECT doc_id, i AS pos, toks[i] AS tok
        |  FROM t, LATERAL (SELECT unnest(generate_series(1, len(toks))) AS i) i),
        |h AS (
        |  SELECT doc_id, pos, tok,
        |    CASE WHEN ('0x' || substr(md5(tok), 1, 15))::BIGINT % 8 = 0
        |         THEN 1 ELSE 0 END AS bnd
        |  FROM x),
        |c AS (
        |  SELECT doc_id, pos, tok,
        |    CAST(coalesce(sum(bnd) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS chunk
        |  FROM h),
        |ch AS (
        |  SELECT doc_id, chunk, CAST(count(*) AS BIGINT) AS len,
        |    md5(string_agg(tok, ' ' ORDER BY pos)) AS fp
        |  FROM c GROUP BY 1, 2)
        |SELECT len, CAST(count(*) AS BIGINT) AS n_chunks,
        |  CAST(count(DISTINCT fp) AS BIGINT) AS n_distinct_chunks
        |FROM ch GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val toks = documents(s, d)
        .select(col("doc_id"), posexplode(expr(toksExpr)).as(Seq("pos0", "tok")))
        .select(col("doc_id"), (col("pos0") + 1).as("pos"), col("tok"),
          graft.functions.Md5Head60.md5_head60(col("tok")).as("h"))
      val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val chunks = toks
        .withColumn("bnd", when(col("h") % 8 === 0, 1L).otherwise(0L))
        .withColumn("chunk", coalesce(sum(col("bnd")).over(w), lit(0L)))
        .groupBy(col("doc_id"), col("chunk"))
        .agg(count(lit(1)).as("len"),
          md5(array_join(
            transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
              x => x.getField("tok")),
            " ").cast("binary")).as("fp"))
      chunks.groupBy("len")
        .agg(count(lit(1)).as("n_chunks"),
          countDistinct(col("fp")).as("n_distinct_chunks"))
        .orderBy("len")
    },

    // ----- Zipf rank-frequency fit over the corpus vocabulary -----
    // The corpus-statistics audit: natural language puts the
    // rank-frequency curve near freq ∝ rank^(−1), so the least-squares
    // slope of ln(freq) on ln(rank) — with its r² — says whether a
    // corpus behaves like language (slope ≈ −1, r² high), like
    // template spam (truncated head, shallow slope), or like
    // synthetic noise (this fixture: near-uniform 31-token vocabulary,
    // slope ≈ 0 — which the audit correctly reports). Exactness: ranks
    // come from the (freq DESC, token) total order; each ln enters
    // once as a 6-dp-rounded double fixed to integer MILLI-nats (the
    // scale that keeps the r² numerator, a 4th-order product, inside
    // DECIMAL(38)/HUGEINT), and the regression is the n-scaled
    // integer-moment form (the a18/comovement discipline). Vocabulary
    // cardinality throughout — the corpus is touched once.
    "vocab_zipf_slope" -> QueryDef.sql(
      """WITH tok AS (
        |  SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS t
        |  FROM documents),
        |c AS (SELECT t, CAST(count(*) AS BIGINT) AS n FROM tok GROUP BY t),
        |r AS (
        |  SELECT CAST(round(1000 * round(ln(CAST(row_number()
        |      OVER (ORDER BY n DESC, t) AS DOUBLE)), 6)) AS BIGINT) AS x,
        |    CAST(round(1000 * round(ln(CAST(n AS DOUBLE)), 6)) AS BIGINT) AS y
        |  FROM c),
        |mo AS (
        |  SELECT CAST(count(*) AS BIGINT) AS v,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
        |    CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy,
        |    CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy
        |  FROM r),
        |sc AS (
        |  SELECT v,
        |    v * sxy - CAST(sx AS HUGEINT) * sy AS cov2,
        |    v * sxx - CAST(sx AS HUGEINT) * sx AS varx2,
        |    v * syy - CAST(sy AS HUGEINT) * sy AS vary2
        |  FROM mo)
        |SELECT v AS n_types,
        |  CAST((1000 * cov2) // varx2 AS BIGINT) AS slope_milli,
        |  CAST((1000000 * cov2 * cov2) // (varx2 * vary2) AS BIGINT) AS r2_ppm
        |FROM sc""".stripMargin) { (s, d) =>
      val c = spread(documents(s, d))
        .select(explode(expr(toksExpr)).as("t"))
        .groupBy("t").agg(count(lit(1)).as("n"))
      // vocabulary-cardinality total order: fine as a window here (the
      // 31-row fixture), and still bounded by |vocab| at 100 TB — but
      // the same rank is available shuffle-free via Scale.globalRowNumber
      // if a vocabulary ever outgrows one task
      val rkW = Window.orderBy(col("n").desc, col("t"))
      val r = c.withColumn("rk", row_number().over(rkW).cast("double"))
        .select(
          expr("CAST(round(1000 * round(ln(rk), 6)) AS BIGINT)").as("x"),
          expr("CAST(round(1000 * round(ln(CAST(n AS DOUBLE)), 6)) AS BIGINT)").as("y"))
      r.agg(count(lit(1)).as("v"), sum("x").as("sx"), sum("y").as("sy"),
          sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("sxx"),
          sum(expr("CAST(y AS DECIMAL(38,0)) * y")).as("syy"),
          sum(expr("CAST(x AS DECIMAL(38,0)) * y")).as("sxy"))
        .select(col("v"),
          expr("v * sxy - CAST(sx AS DECIMAL(38,0)) * sy").as("cov2"),
          expr("v * sxx - CAST(sx AS DECIMAL(38,0)) * sx").as("varx2"),
          expr("v * syy - CAST(sy AS DECIMAL(38,0)) * sy").as("vary2"))
        .select(col("v").as("n_types"),
          expr("CAST((1000L * cov2) div varx2 AS BIGINT)").as("slope_milli"),
          expr("CAST((1000000L * cov2 * cov2) div (varx2 * vary2) AS BIGINT)")
            .as("r2_ppm"))
    },

    // ----- Dedup-family Venn: which docs does each detector flag? -----
    // The audit that tells a curation run how its three document-level
    // detectors RELATE: exact (md5 groups >1), minhash-LSH (member of
    // any banded candidate pair), simhash (member of a hamming≤3
    // pair). One row per membership combination — the 2³ upset plot as
    // a table. Exact ⊆ near-dup families is the expected containment;
    // docs caught by exactly one near-dup family are where the two
    // sketches genuinely disagree (shingle-level vs token-set-level
    // similarity), and that asymmetry is the basis for choosing one at
    // 100 TB. Both sketch legs read the persisted signature stores
    // (live-equality is each stored twin's own oracle), so the audit
    // re-hashes no text.
    "dedup_family_venn" -> QueryDef.sql(DedupVennSql) { (s, d) =>
      val docs = documents(s, d)
      val exact = docs
        .withColumn("c", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(md5(col("text").cast("binary")))))
        .filter(col("c") > 1).select("doc_id").distinct()
        .withColumn("e", lit(1L))
      val mp = SignatureStore.ensureK8Pairs(s, d)
      val mdocs = mp.select(col("doc_a").as("doc_id"))
        .unionByName(mp.select(col("doc_b").as("doc_id")))
        .distinct().withColumn("m", lit(1L))
      val sp = simhashPairs(SignatureStore.ensureSimhash(s, d))
      val sdocs = sp.select(col("doc_a").as("doc_id"))
        .unionByName(sp.select(col("doc_b").as("doc_id")))
        .distinct().withColumn("sh", lit(1L))
      docs.select("doc_id")
        .join(broadcast(exact), Seq("doc_id"), "left")
        .join(broadcast(mdocs), Seq("doc_id"), "left")
        .join(broadcast(sdocs), Seq("doc_id"), "left")
        .select(coalesce(col("e"), lit(0L)).as("exact_dup"),
          coalesce(col("m"), lit(0L)).as("minhash_dup"),
          coalesce(col("sh"), lit(0L)).as("simhash_dup"))
        .groupBy("exact_dup", "minhash_dup", "simhash_dup")
        .agg(count(lit(1)).as("n_docs"))
        .orderBy("exact_dup", "minhash_dup", "simhash_dup")
    },

    // ----- Per-source character-level Shannon entropy -----
    // The compressibility proxy quality filters actually use (low
    // char entropy ⇒ repetitive/templated text; gzip-ratio's exact
    // cousin): H = ln N − (Σ c·ln c)/N per source, with ln entering
    // once per BOUNDED (source × charset) cell and once per source
    // total — round(,6) micro-nats, everything after pure integer, one
    // truncating division per source. bits/char divides by the ln 2
    // constant 693147 LAST, so both emissions share one rounding
    // point. Scale: the char explode is corpus-sized but feeds a
    // map-side-combining hash agg to charset-bounded cells; nothing
    // downstream touches corpus cardinality. The DECIMAL widening on
    // Σ n·ln c keeps the product exact past 10¹⁴ chars.
    "text_char_entropy" -> QueryDef.sql(
      """WITH ch AS (
        |  SELECT source, unnest(string_split_regex(text, '')) AS c
        |  FROM documents),
        |cc AS (
        |  SELECT source, c, CAST(count(*) AS BIGINT) AS n
        |  FROM ch WHERE c <> '' GROUP BY 1, 2),
        |ns AS (SELECT source, CAST(sum(n) AS BIGINT) AS nt FROM cc GROUP BY 1),
        |lg AS (
        |  SELECT cc.source, cc.n,
        |    CAST(round(1000000 * round(ln(CAST(cc.n AS DOUBLE)), 6)) AS BIGINT)
        |      AS lnc
        |  FROM cc),
        |hs AS (
        |  SELECT l.source,
        |    CAST(sum(CAST(l.n AS HUGEINT) * l.lnc) AS HUGEINT) AS s_nlnc, ns.nt,
        |    CAST(round(1000000 * round(ln(CAST(ns.nt AS DOUBLE)), 6)) AS BIGINT)
        |      AS lnn
        |  FROM lg l JOIN ns ON ns.source = l.source
        |  GROUP BY 1, 3, 4)
        |SELECT source, nt AS n_chars,
        |  CAST(lnn - s_nlnc // nt AS BIGINT) AS entropy_micronats,
        |  CAST((1000000 * (lnn - s_nlnc // nt)) // 693147 AS BIGINT)
        |    AS bits_per_char_micro
        |FROM hs ORDER BY source""".stripMargin) { (s, d) =>
      // aggregate-before-shuffle (r15, guide §2.3): the former
      // explode(split(text, '')) shape shuffled one row per corpus
      // CHARACTER into the (source, c) aggregate; char_counts emits one
      // (char, n) entry per DISTINCT char per document and the sum of
      // those n's is exactly the per-char count(*) (CharCounts scaladoc
      // has the split('') equivalence argument; oracle unchanged).
      val cc = spread(documents(s, d))
        .select(col("source"),
          explode(graft.functions.CharCounts.char_counts(col("text"))))
        .groupBy(col("source"), col("key").as("c")).agg(sum("value").as("n"))
        .localCheckpoint() // totals + log cells share the fold
      val ns = cc.groupBy("source").agg(sum("n").as("nt"))
      val lg = cc.select(col("source"), col("n"),
        expr("CAST(round(1000000 * round(ln(CAST(n AS DOUBLE)), 6)) AS BIGINT)")
          .as("lnc"))
      lg.join(broadcast(ns), Seq("source"))
        .withColumn("lnn",
          expr("CAST(round(1000000 * round(ln(CAST(nt AS DOUBLE)), 6)) AS BIGINT)"))
        .groupBy("source", "nt", "lnn")
        .agg(sum(expr("CAST(n AS DECIMAL(38,0)) * lnc")).as("s_nlnc"))
        .select(col("source"), col("nt").as("n_chars"),
          expr("CAST(lnn - s_nlnc div nt AS BIGINT)").as("entropy_micronats"),
          expr("CAST((1000000 * (lnn - s_nlnc div nt)) div 693147 AS BIGINT)")
            .as("bits_per_char_micro"))
        .orderBy("source")
    },

    // ----- Multinomial Naive Bayes: train/test language classifier -----
    // The first SUPERVISED learner in the suite — the model every text
    // pipeline reaches for before transformers (McCallum & Nigam 1998).
    // Train on the 80% doc_id-mod split, Laplace-1 smoothing, score the
    // held-out 20%, emit the confusion matrix. Hash-exactness follows
    // the fixed-transcendental discipline: ln enters once per BOUNDED
    // row — (lang × vocab-type) likelihood cells, per-lang unseen-token
    // defaults, per-lang priors — as round(,6)-then-micro integers;
    // scoring is then pure BIGINT addition, and argmax ties break to
    // the lexicographically first language. Scale shape: the cell
    // table is vocab-cardinality (Heaps-sublinear) and the test-side
    // explode joins it on (lang, token) — a broadcastable dim at any
    // realistic vocab; nothing quadratic, no global window. The
    // measured 35% / 5-class accuracy is itself the finding: this
    // corpus's lang labels are nearly token-independent (shared
    // synthetic vocabulary), which is exactly what a confusion matrix
    // is for.
    "nb_lang_classifier" -> QueryDef.sql(
      s"""WITH $NbCoreCtes
         |SELECT true_lang, hyp AS pred_lang, CAST(count(*) AS BIGINT) AS n
         |FROM fin WHERE rn = 1 GROUP BY 1, 2
         |ORDER BY 1, 2""".stripMargin) { (s, d) =>
      nbConfusion(documents(s, d))
    },

    // ----- Per-class precision / recall / F1 from the NB confusion -----
    // The summary a model card actually prints: per language, exact
    // precision = tp/(tp+fp) and recall = tp/(tp+fn) in ppm (one floor
    // each), F1 as the harmonic mean of the TWO PPM VALUES — (2·p·r)
    // // (p+r) stays in ppm with no further rounding source. Classes
    // never predicted get NULL precision (0/0), and F1 is NULL when
    // p+r = 0 — absence reported as absence, not as a fake zero. Runs
    // entirely on the langs²-bounded confusion matrix.
    "nb_eval_summary" -> QueryDef.sql(
      s"""WITH $NbCoreCtes,
         |cm AS (
         |  SELECT true_lang, hyp AS pred_lang, CAST(count(*) AS BIGINT) AS n
         |  FROM fin WHERE rn = 1 GROUP BY 1, 2),
         |rowt AS (SELECT true_lang AS lang, CAST(sum(n) AS BIGINT) AS t
         |  FROM cm GROUP BY 1),
         |colp AS (SELECT pred_lang AS lang, CAST(sum(n) AS BIGINT) AS p
         |  FROM cm GROUP BY 1),
         |diag AS (SELECT true_lang AS lang, CAST(sum(n) AS BIGINT) AS tp
         |  FROM cm WHERE true_lang = pred_lang GROUP BY 1),
         |langs AS (SELECT lang FROM rowt UNION SELECT lang FROM colp),
         |per AS (
         |  SELECT l.lang, coalesce(d.tp, 0) AS tp,
         |    coalesce(r.t, 0) AS n_true, coalesce(c.p, 0) AS n_pred
         |  FROM langs l LEFT JOIN diag d ON d.lang = l.lang
         |  LEFT JOIN rowt r ON r.lang = l.lang
         |  LEFT JOIN colp c ON c.lang = l.lang),
         |pr AS (
         |  SELECT lang, tp, n_true, n_pred,
         |    CASE WHEN n_pred > 0 THEN (1000000 * tp) // n_pred END AS pp,
         |    CASE WHEN n_true > 0 THEN (1000000 * tp) // n_true END AS rr
         |  FROM per)
         |SELECT lang, tp, n_true, n_pred,
         |  CAST(pp AS BIGINT) AS precision_ppm, CAST(rr AS BIGINT) AS recall_ppm,
         |  CAST(CASE WHEN coalesce(pp, 0) + coalesce(rr, 0) > 0
         |    THEN (2 * coalesce(pp, 0) * coalesce(rr, 0))
         |      // (coalesce(pp, 0) + coalesce(rr, 0)) END AS BIGINT) AS f1_ppm
         |FROM pr ORDER BY lang""".stripMargin) { (s, d) =>
      val cm = nbConfusion(documents(s, d))
        .localCheckpoint() // bounded langs² rows feed three margins
      val rowt = cm.groupBy(col("true_lang").as("lang"))
        .agg(sum("n").as("t"))
      val colp = cm.groupBy(col("pred_lang").as("lang"))
        .agg(sum("n").as("p"))
      val diag = cm.filter(col("true_lang") === col("pred_lang"))
        .groupBy(col("true_lang").as("lang")).agg(sum("n").as("tp"))
      val langs = rowt.select("lang").union(colp.select("lang")).distinct()
      langs
        .join(diag, Seq("lang"), "left")
        .join(rowt, Seq("lang"), "left")
        .join(colp, Seq("lang"), "left")
        .select(col("lang"), coalesce(col("tp"), lit(0L)).as("tp"),
          coalesce(col("t"), lit(0L)).as("n_true"),
          coalesce(col("p"), lit(0L)).as("n_pred"))
        .withColumn("pp",
          when(col("n_pred") > 0, expr("(1000000 * tp) div n_pred")))
        .withColumn("rr",
          when(col("n_true") > 0, expr("(1000000 * tp) div n_true")))
        .select(col("lang"), col("tp"), col("n_true"), col("n_pred"),
          col("pp").as("precision_ppm"), col("rr").as("recall_ppm"),
          when(coalesce(col("pp"), lit(0L)) + coalesce(col("rr"), lit(0L)) > 0,
            expr("""(2 * coalesce(pp, 0L) * coalesce(rr, 0L))
                   |  div (coalesce(pp, 0L) + coalesce(rr, 0L))""".stripMargin))
            .as("f1_ppm"))
        .orderBy("lang")
    },
  )

  /** Oracle for `dedup_family_venn`: the minhash chain reuses
    * [[MinhashBandsCte]] verbatim; the simhash chain is inlined under
    * x-prefixed CTE names (both define `sig`/`bands` otherwise). */
  private lazy val DedupVennSql: String = {
    val xVotes = (0 until 60).map(j =>
      s"sum(CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS v$j")
      .mkString(",\n    ")
    val xSig = (0 until 60).map(j =>
      s"(CASE WHEN v$j > 0 THEN (1::BIGINT << $j) ELSE 0 END)").mkString(" + ")
    val xBands = (0 until 4).map(b =>
      s"SELECT doc_id, xsig AS sig2, $b AS band, (xsig >> ${b * 15}) & 32767 AS key FROM xsig_t")
      .mkString("\n  UNION ALL ")
    s"""WITH ${MinhashBandsCte},
       |mpairs AS ($BandedPairsSelect),
       |mdocs AS (SELECT doc_a AS doc_id FROM mpairs
       |  UNION SELECT doc_b FROM mpairs),
       |xtoks AS (
       |  SELECT doc_id, unnest(list_distinct(string_split_regex(trim(lower(text)), '\\s+'))) AS t
       |  FROM documents),
       |xh AS (SELECT doc_id, ('0x' || substr(md5(t), 1, 15))::BIGINT AS h FROM xtoks),
       |xvotes AS (
       |  SELECT doc_id,
       |    $xVotes
       |  FROM xh GROUP BY doc_id),
       |xsig_t AS (SELECT doc_id, $xSig AS xsig FROM xvotes),
       |xbands AS (
       |  $xBands),
       |xpairs AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM xbands a JOIN xbands b ON a.band = b.band AND a.key = b.key
       |    AND a.doc_id < b.doc_id
       |  WHERE bit_count(xor(a.sig2, b.sig2)) <= 3),
       |sdocs AS (SELECT doc_a AS doc_id FROM xpairs
       |  UNION SELECT doc_b FROM xpairs),
       |edocs AS (
       |  SELECT doc_id FROM (
       |    SELECT doc_id, count(*) OVER (PARTITION BY md5(text)) AS c
       |    FROM documents) WHERE c > 1)
       |SELECT
       |  CAST(CASE WHEN e.doc_id IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
       |    AS exact_dup,
       |  CAST(CASE WHEN m.doc_id IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
       |    AS minhash_dup,
       |  CAST(CASE WHEN s.doc_id IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
       |    AS simhash_dup,
       |  CAST(count(*) AS BIGINT) AS n_docs
       |FROM documents d
       |LEFT JOIN edocs e ON e.doc_id = d.doc_id
       |LEFT JOIN mdocs m ON m.doc_id = d.doc_id
       |LEFT JOIN sdocs s ON s.doc_id = d.doc_id
       |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin
  }

  /** Shared CTE chain for the NB classifier oracles: tokenize, 80/20
    * doc_id-mod split, Laplace-1 likelihood cells / defaults / priors as
    * round(,6) micro integers, per-(test doc, hypothesis) BIGINT scores,
    * and the argmax rank `fin` — `nb_lang_classifier` reads the
    * confusion off it, `nb_eval_summary` the per-class margins. */
  private lazy val NbCoreCtes: String =
    """tok AS (
      |  SELECT doc_id, lang,
      |    unnest(string_split_regex(trim(lower(text)), '\s+')) AS t
      |  FROM documents),
      |tr AS (SELECT * FROM tok WHERE doc_id % 10 < 8),
      |te AS (SELECT * FROM tok WHERE doc_id % 10 >= 8),
      |cell AS (SELECT lang, t, CAST(count(*) AS BIGINT) AS c
      |  FROM tr GROUP BY 1, 2),
      |tl AS (SELECT lang, CAST(sum(c) AS BIGINT) AS total FROM cell GROUP BY 1),
      |v AS (SELECT CAST(count(DISTINCT t) AS BIGINT) AS vsz FROM tr),
      |mll AS (
      |  SELECT cell.lang, cell.t,
      |    CAST(round(1000000 * round(ln((cell.c + 1.0) / (tl.total + v.vsz)), 6))
      |      AS BIGINT) AS w
      |  FROM cell JOIN tl USING (lang) CROSS JOIN v),
      |dflt AS (
      |  SELECT tl.lang,
      |    CAST(round(1000000 * round(ln(1.0 / (tl.total + v.vsz)), 6))
      |      AS BIGINT) AS w0
      |  FROM tl CROSS JOIN v),
      |prior AS (
      |  SELECT lang,
      |    CAST(round(1000000 * round(ln(CAST(count(*) AS DOUBLE)
      |      / (SELECT count(*) FROM documents WHERE doc_id % 10 < 8)), 6))
      |      AS BIGINT) AS pw
      |  FROM documents WHERE doc_id % 10 < 8 GROUP BY 1),
      |sc AS (
      |  SELECT te.doc_id, te.lang AS true_lang, d.lang AS hyp,
      |    CAST(sum(coalesce(mll.w, d.w0)) AS BIGINT) AS tok_sum
      |  FROM te CROSS JOIN dflt d
      |  LEFT JOIN mll ON mll.lang = d.lang AND mll.t = te.t
      |  GROUP BY 1, 2, 3),
      |fin AS (
      |  SELECT sc.doc_id, sc.true_lang, sc.hyp,
      |    row_number() OVER (PARTITION BY sc.doc_id
      |      ORDER BY sc.tok_sum + p.pw DESC, sc.hyp) AS rn
      |  FROM sc JOIN prior p ON p.lang = sc.hyp)""".stripMargin

  /** Multinomial-NB confusion matrix over any (doc_id, lang, text)
    * frame — the `nb_lang_classifier` body, extracted so NbSpec can
    * plant a perfectly separable corpus (disjoint per-lang vocabularies
    * must classify diagonally) and a vocabulary-free one (priors must
    * dominate). 80/20 split on doc_id % 10; Laplace-1 smoothing; all
    * log weights are round(,6) micro integers per bounded cell. */
  private[operators] def nbConfusion(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      val tok = spread(docs)
        .select(col("doc_id"), col("lang"), explode(expr(toksExpr)).as("t"))
      val tr = tok.filter(col("doc_id") % 10 < 8)
      val te = tok.filter(col("doc_id") % 10 >= 8)
      val cell = tr.groupBy("lang", "t").agg(count(lit(1)).as("c"))
        .localCheckpoint() // likelihoods + per-lang totals share it
      val tl = cell.groupBy("lang").agg(sum("c").as("total"))
      val vsz = tr.agg(countDistinct("t").as("vsz"))
      val mll = cell.join(broadcast(tl), Seq("lang"))
        .crossJoin(broadcast(vsz))
        .select(col("lang"), col("t"),
          expr("""CAST(round(1000000 * round(ln((c + 1.0) / (total + vsz)), 6))
                 |  AS BIGINT)""".stripMargin).as("w"))
      val dflt = tl.crossJoin(broadcast(vsz))
        .select(col("lang"),
          expr("""CAST(round(1000000 * round(ln(1.0 / (total + vsz)), 6))
                 |  AS BIGINT)""".stripMargin).as("w0"))
      val trd = docs.filter(col("doc_id") % 10 < 8)
      val prior = trd.groupBy("lang").agg(count(lit(1)).as("nd"))
        .crossJoin(broadcast(trd.agg(count(lit(1)).as("ndt"))))
        .select(col("lang").as("hyp"),
          expr("""CAST(round(1000000 * round(ln(CAST(nd AS DOUBLE) / ndt), 6))
                 |  AS BIGINT)""".stripMargin).as("pw"))
      // Aggregate-before-amplify (r15, guide §2.3): the scorer used to
      // fan every test-token OCCURRENCE out ×n_langs before summing;
      // per-document (t, count) collapses the repeats first — the
      // synthetic corpus has ~31 distinct tokens, so the ×langs
      // amplification now runs over ~token-type rows instead of every
      // occurrence. tok_sum = Σ_occurrences w ≡ Σ_types c·w exactly
      // (integer products of the same micro-log weights; oracle
      // unchanged), and the (doc, lang, t) count partial-aggregates
      // map-side before its tiny exchange.
      val ted = te.groupBy("doc_id", "lang", "t").agg(count(lit(1)).as("tc"))
      val sc = ted
        .crossJoin(broadcast(dflt.toDF("hyp", "w0")))
        .join(broadcast(mll.toDF("hyp", "t", "w")), Seq("hyp", "t"), "left")
        .groupBy(col("doc_id"), col("lang").as("true_lang"), col("hyp"))
        .agg(sum(col("tc") * coalesce(col("w"), col("w0"))).as("tok_sum"))
      sc.join(broadcast(prior), Seq("hyp"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("doc_id")
            .orderBy((col("tok_sum") + col("pw")).desc, col("hyp"))))
        .filter(col("rn") === 1)
        .groupBy(col("true_lang"), col("hyp").as("pred_lang"))
        .agg(count(lit(1)).as("n"))
        .orderBy("true_lang", "pred_lang")
  }
}
