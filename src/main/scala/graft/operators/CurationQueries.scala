package graft.operators

import graft.QueryDef
import graft.operators.TextQueries.{BandedPairsSelect, MinhashBandsCte}
import graft.util.Tables._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-corpus curation operators — the steps between "deduped
  * documents" and "tokens on a training cluster": benchmark
  * decontamination, PII redaction, stratified sampling, sequence
  * packing, and shard assignment.
  *
  * Scale posture: decontamination broadcasts the (always tiny) eval-set
  * shingles against the streamed train corpus; sampling and sharding are
  * stateless per-row hash arithmetic (no shuffle at all before the
  * report aggregation); packing reuses the two-pass distributed prefix
  * sum ([[TextQueries.cumulativeTokens]]) — no global-window funnel
  * anywhere in the family.
  *
  * Determinism: sampling/sharding use an explicit LCG hash
  * (`(doc_id * 1103515245 + 12345) mod 2^31`) rather than engine hash
  * functions, so DuckDB reproduces every decision bit-for-bit. A
  * production deployment would swap in `xxhash64` — the plan shape is
  * identical (still a stateless projection).
  */
object CurationQueries {

  /** Deterministic per-document sample/shuffle key, identical arithmetic
    * on both engines. Values stay < 2^31 so ANSI-mode Spark can never
    * overflow (doc_id bounded by 2^21 at the largest test SF; see class
    * doc for the production variant). */
  private[operators] val LcgSql = "((doc_id * 1103515245 + 12345) % 2147483648)"

  /** Distinct 12-gram hashes per document, via the native
    * [[graft.functions.ShingleHashes]] expression (the decontamination
    * unit — the same 12-gram granularity the jaccard verifier uses).
    * The expression dedupes IN-ROW, so the output is already
    * (doc_id, h)-distinct with no aggregate. */
  def shingles12(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    df.select(col("doc_id"),
      explode(graft.functions.ShingleHashes.shingle_hashes(col("text"), lit(12))).as("h"))

  /** (train_doc, eval_doc, n_shared) pairs with ≥ `minShared` distinct
    * shared 12-gram hashes. Eval sets are tiny relative to a training
    * corpus, so the eval hashes BROADCAST — which makes a bounded
    * `evalDocs` a CONTRACT, not an assumption: callers must pass a
    * fixed-size eval side (decontaminate_ngram bounds its modeled one
    * with an explicit id cap) or the broadcast grows with the corpus.
    * Shared by the batch query and the streaming ingest gate.
    *
    * Both sides hash per-row through the codegen'd `shingle_hashes`
    * (distinct sorted 60-bit hashes — no 12-char string is ever
    * allocated, and the former post-join `distinct()` disappears
    * because in-row dedup makes each (doc, h) unique by construction).
    * The pair count therefore partial-aggregates map-side and the only
    * shuffle carries (train_doc, eval_doc, partial count) — bounded by
    * real overlapping pairs, never the exploded corpus. This replaced
    * the explode→substring→join→distinct shape whose matched sliver at
    * a boilerplate-heavy ~78% shingle match rate WAS most of the
    * corpus: 17 task-CPU s → ~4 s at sf0.1 (and the r6 artifact's 60 s
    * reading was that cost further amplified by driver-heap GC, see
    * NOTES_r7).
    *
    * The train side is widened to full parallelism BEFORE the shingle
    * explode when it arrives under-split ([[TextQueries.spread]] — a
    * conditional no-op on many-split inputs): a corpus that arrives as
    * few input splits — or, as in `corpus_pipeline_full`, reaches here
    * through only broadcast joins and filters — would otherwise
    * serialize the entire explode+join onto those few tasks. */
  def decontaminate(train: org.apache.spark.sql.DataFrame,
      evalDocs: org.apache.spark.sql.DataFrame, minShared: Long): org.apache.spark.sql.DataFrame = {
    val esh = shingles12(evalDocs).withColumnRenamed("doc_id", "eval_doc")
    val tsh = shingles12(TextQueries.spread(train))
      .withColumnRenamed("doc_id", "train_doc")
    tsh.join(broadcast(esh), Seq("h"))
      .groupBy(col("train_doc"), col("eval_doc"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Production stratified sampling: keep each row iff
    * `xxhash64(key, salt) mod 1000 < rates(stratum)` (permille). Same
    * zero-shuffle plan shape as the `sample_stratified` oracle query,
    * with a full-width engine hash instead of the LCG the DuckDB oracle
    * can reproduce. Deterministic for a fixed salt; change the salt to
    * draw an independent sample. Unlisted strata are dropped. */
  def sampleStratified(df: org.apache.spark.sql.DataFrame, keyCol: String,
      strataCol: String, ratesPermille: Map[String, Int], salt: Long = 0L)
      : org.apache.spark.sql.DataFrame = {
    val rate = ratesPermille.foldLeft(lit(0)) { case (acc, (s, r)) =>
      when(col(strataCol) === s, lit(r)).otherwise(acc)
    }
    df.filter(pmod(xxhash64(col(keyCol), lit(salt)), lit(1000)) < rate)
  }

  /** Production shard assignment: stable `xxhash64(key, salt) mod n`
    * shard ids (membership survives corpus appends, unlike round-robin).
    * Write with `.repartition(col("shard_id")).sortWithinPartitions(...)`
    * for one output file per shard. */
  def shardAssign(df: org.apache.spark.sql.DataFrame, keyCol: String,
      nShards: Int, salt: Long = 0L): org.apache.spark.sql.DataFrame = {
    // pmod(x, 0) is DIVIDE_BY_ZERO under ANSI (a runtime task failure
    // deep in the write job) and silent all-null shards otherwise.
    require(nShards > 0, "nShards must be positive")
    df.withColumn("shard_id", pmod(xxhash64(col(keyCol), lit(salt)), lit(nShards)))
  }

  /** Lee et al. 2022 substring excision composed into the packing tail
    * of the curation pipeline: cut the persisted duplicated-span
    * artifact out of each surviving document, drop documents the
    * excision guts entirely, then pack the CLEANED token stream into
    * fixed training sequences. `keep` carries (doc_id, lang, tk,
    * n_tokens); `spans` is [[SignatureStore.ensureSpans]]-shaped.
    * Scale shape: the span join is an equi-join on doc_id against the
    * post-gate sliver, the excision a per-row array filter, and the
    * running offset the two-pass [[TextQueries.cumulativeTokens]] —
    * nothing corpus-wide moves. The cleaned fingerprint rides into the
    * output so the oracle hash-checks the actual excised text, not just
    * counts. The cutting branch is pinned by ExcisePackSpec on planted
    * spans (the synthetic corpus' only boilerplate cluster dissolves at
    * the doc-level dedup stage, so live data exercises the
    * spans-absent branch). */
  def excisePack(keep: org.apache.spark.sql.DataFrame,
      spans: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val spansAgg = spans.groupBy("doc_id")
      .agg(collect_list(struct(col("span_start"), col("span_end"))).as("spans"))
    val cleaned = keep.join(spansAgg, Seq("doc_id"), "left")
      .withColumn("cleaned",
        when(col("spans").isNull, col("tk")).otherwise(expr(
          """filter(tk, (t, i) ->
            |  NOT exists(spans, sp -> i + 1 >= sp.span_start AND i + 1 <= sp.span_end))""".stripMargin)))
      .filter(size(col("cleaned")) > 0)
      .select(col("doc_id"), col("lang"),
        size(col("cleaned")).cast("long").as("n_tokens"),
        (col("n_tokens") - size(col("cleaned"))).cast("long").as("n_removed"),
        md5(concat_ws(" ", col("cleaned")).cast("binary")).as("cleaned_fp"))
    TextQueries.cumulativeTokens(cleaned)
      .withColumn("tok_start", col("cum_tokens") - col("n_tokens"))
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("n_removed"),
        expr("tok_start div 512").as("seq_id"),
        (col("tok_start") % 512).as("seq_offset"),
        col("cleaned_fp"))
  }

  val EmailRe = "[a-z0-9]+@[a-z0-9]+\\.[a-z]+"
  val PhoneRe = "555-[0-9]{4}"
  val IpRe    = "10\\.0\\.[0-9]{1,3}\\.[0-9]{1,3}"

  /** Codegen'd PII redaction — emails, then IPs, then phone numbers. */
  def redactPii(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    regexp_replace(regexp_replace(regexp_replace(c,
      EmailRe, "<EMAIL>"), IpRe, "<IP>"), PhoneRe, "<PHONE>")


  /** PII-bearing text, derived deterministically from doc_id on BOTH
    * engines (the synthetic corpus carries no natural PII, so the
    * redactor would otherwise be vacuously green): every 3rd doc gains
    * an email, every 5th a phone, every 7th an IP. */
  // single line: interpolated into stripMargin SQL, where a leading `||`
  // would be eaten as a margin character
  private val EnrichedSql =
    "text || CASE WHEN doc_id % 3 = 0 THEN ' contact u' || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END" +
      " || CASE WHEN doc_id % 5 = 0 THEN ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END" +
      " || CASE WHEN doc_id % 7 = 0 THEN ' host 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.' || CAST((doc_id * 3) % 256 AS VARCHAR) ELSE '' END"

  private def enrichedCol = concat(
    col("text"),
    when(col("doc_id") % 3 === 0,
      concat(lit(" contact u"), col("doc_id").cast("string"), lit("@example.com"))).otherwise(""),
    when(col("doc_id") % 5 === 0,
      concat(lit(" call 555-"), lpad((col("doc_id") % 10000).cast("string"), 4, "0"))).otherwise(""),
    when(col("doc_id") % 7 === 0,
      concat(lit(" host 10.0."), (col("doc_id") % 256).cast("string"),
        lit("."), ((col("doc_id") * 3) % 256).cast("string"))).otherwise(""))

  /** The unigram-LM bucket chain shared by `text_lm_score` and
    * `split_ccnet_terciles`: every token scored by its corpus-frequency
    * bucket (floor(log2 n)+1 over a broadcast top-20 vocabulary, 0 =
    * OOV). Ends at CTE `s` = (doc_id, bucket) per token. */
  private val LmBucketsCte: String =
    """tok AS (
      |  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS token FROM documents),
      |c AS (SELECT token, CAST(count(*) AS BIGINT) AS n FROM tok GROUP BY token),
      |v AS (SELECT token, CAST(length(bin(n)) AS BIGINT) AS bucket FROM c
      |      QUALIFY row_number() OVER (ORDER BY n DESC, token) <= 20),
      |s AS (SELECT t.doc_id, coalesce(v.bucket, 0) AS bucket
      |      FROM tok t LEFT JOIN v USING (token))""".stripMargin

  /** Spark twin of [[LmBucketsCte]]: per-token (doc_id, bucket). */
  private def tokenBuckets(s: org.apache.spark.sql.SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
    val tok = TextQueries.spread(documents(s, d))
      .select(col("doc_id"),
        explode(graft.functions.WsTokens.ws_tokens(col("text"))).as("token"))
    val vocab = tok.groupBy("token").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token")).limit(20)
      .select(col("token"), length(bin(col("n"))).cast("long").as("bucket"))
    tok.join(broadcast(vocab), Seq("token"), "left")
      .select(col("doc_id"), coalesce(col("bucket"), lit(0L)).as("bucket"))
  }

  /** The K=3 BPE training iterations as DuckDB CTEs (shared by
    * `bpe_train_k3` and `bpe_encode`): wc0 is the length≥2 word
    * vocabulary; each iteration k picks the argmax adjacent-symbol pair
    * (tk) over the current segmentation and sentinel-replaces it
    * (chr(k)) to produce the next (wck). */
  private val BpeTrainCtes: String =
    """w AS (
      |  SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS word FROM documents),
      |wc0 AS (SELECT word AS sw, count(*) AS n FROM w WHERE length(word) >= 2 GROUP BY word),
      |a1 AS (
      |  SELECT pair, CAST(sum(n) AS BIGINT) AS n_pair FROM (
      |    SELECT unnest([substr(sw, i, 2) for i in generate_series(1, length(sw)-1)]) AS pair, n
      |    FROM wc0 WHERE length(sw) >= 2) GROUP BY pair),
      |t1 AS (SELECT pair AS mp, n_pair FROM a1 ORDER BY n_pair DESC, pair LIMIT 1),
      |wc1 AS (SELECT replace(sw, (SELECT mp FROM t1), chr(1)) AS sw, n FROM wc0),
      |a2 AS (
      |  SELECT pair, CAST(sum(n) AS BIGINT) AS n_pair FROM (
      |    SELECT unnest([substr(sw, i, 2) for i in generate_series(1, length(sw)-1)]) AS pair, n
      |    FROM wc1 WHERE length(sw) >= 2) GROUP BY pair),
      |t2 AS (SELECT pair AS mp, n_pair FROM a2 ORDER BY n_pair DESC, pair LIMIT 1),
      |wc2 AS (SELECT replace(sw, (SELECT mp FROM t2), chr(2)) AS sw, n FROM wc1),
      |a3 AS (
      |  SELECT pair, CAST(sum(n) AS BIGINT) AS n_pair FROM (
      |    SELECT unnest([substr(sw, i, 2) for i in generate_series(1, length(sw)-1)]) AS pair, n
      |    FROM wc2 WHERE length(sw) >= 2) GROUP BY pair),
      |t3 AS (SELECT pair AS mp, n_pair FROM a3 ORDER BY n_pair DESC, pair LIMIT 1)""".stripMargin

  /** The K-merge BPE training driver loop shared by `bpe_train_k3` and
    * `bpe_encode`: each iteration's argmax pair is a 1-ROW collect (the
    * only driver traffic), and the re-segmented vocab is
    * localCheckpoint'ed so iteration k+1 reads a materialized artifact
    * instead of k stacked replaces over the lineage. Returns
    * (rank, raw merge pair — may contain earlier chr(k) sentinels,
    * pick-time count). */
  def bpeTrainMerges(s: org.apache.spark.sql.SparkSession, d: String, kMax: Int)
      : Seq[(Long, String, Long)] = {
    var vocab = documents(s, d)
      .select(explode(graft.functions.WsTokens.ws_tokens(col("text"))).as("sw"))
      .filter(length(col("sw")) >= 2)
      .groupBy("sw").agg(count(lit(1)).as("n"))
      .localCheckpoint()
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Long)]
    for (k <- 1 to kMax) {
      val top = vocab.filter(length(col("sw")) >= 2)
        .select(
          explode(expr("transform(sequence(1, length(sw)-1), i -> substring(sw, i, 2))")).as("pair"),
          col("n"))
        .groupBy("pair").agg(sum("n").as("n_pair"))
        .orderBy(col("n_pair").desc, col("pair")).limit(1)
        .collect()(0)
      merges += ((k.toLong, top.getString(0), top.getLong(1)))
      if (k < kMax)
        // replace() is exactly BPE's greedy left-to-right
        // non-overlapping application on both engines
        vocab = vocab
          .select(
            org.apache.spark.sql.functions.replace(
              col("sw"), lit(merges.last._2), lit(k.toChar.toString)).as("sw"),
            col("n"))
          .localCheckpoint()
    }
    merges.toSeq
  }

  val defs: Map[String, QueryDef] = Map(

    // ----- benchmark decontamination: exact n-gram overlap vs an eval set -----
    // The GPT-3-style exact-substring check: any training document sharing
    // >= 20 distinct 12-grams with an eval/benchmark document is flagged
    // (with the overlap count, so downstream can drop or quarantine).
    // Overlap is counted on md5-head-60-bit shingle HASHES (the minhash
    // family's convention) computed identically on both engines — a
    // collision is part of the spec, and at 2^-60 per pair it never
    // fires at any real corpus size. Eval sets are tiny relative to a
    // 100 TB corpus (10^3..10^6 docs), so the eval hash table BROADCASTS
    // and the train corpus streams through a map-side hash join +
    // partial-agg count — no shuffle of exploded train shingles, and the
    // output is bounded by real overlaps.
    "decontaminate_ngram" -> QueryDef.sql(
      """WITH evald AS (SELECT doc_id, text FROM documents WHERE doc_id % 97 = 0 AND doc_id < 10000),
        |train AS (SELECT doc_id, text FROM documents WHERE doc_id % 97 <> 0),
        |esh AS (SELECT DISTINCT doc_id, h FROM (
        |  SELECT doc_id, unnest([('0x' || substr(md5(substr(text, i, 12)), 1, 15))::BIGINT
        |    for i in generate_series(1, greatest(length(text)-11, 1))]) AS h
        |  FROM evald)),
        |tsh AS (SELECT DISTINCT doc_id, h FROM (
        |  SELECT doc_id, unnest([('0x' || substr(md5(substr(text, i, 12)), 1, 15))::BIGINT
        |    for i in generate_series(1, greatest(length(text)-11, 1))]) AS h
        |  FROM train))
        |SELECT t.doc_id AS train_doc, e.doc_id AS eval_doc, count(*) AS n_shared
        |FROM tsh t JOIN esh e ON t.h = e.h
        |GROUP BY 1, 2 HAVING count(*) >= 20
        |ORDER BY train_doc, eval_doc""".stripMargin) { (s, d) =>
      // The modeled eval set carries an explicit id bound (like bm25's
      // query set, SearchQueries.queryTerms): real eval/benchmark sets
      // are FIXED-size, so the modeled one must not grow with the
      // corpus — the bound is what keeps decontaminate's eval-shingle
      // broadcast legitimate at 100 TB. No-op at test scale (all
      // doc_ids < 10000), so the oracle rows are unchanged.
      val docs = documents(s, d)
      decontaminate(
        docs.filter(col("doc_id") % 97 =!= 0),
        docs.filter(col("doc_id") % 97 === 0 && col("doc_id") < 10000),
        minShared = 20)
        .orderBy("train_doc", "eval_doc")
    },

    // ----- multi-granularity corpus rollup (GROUPING SETS) -----
    // The dataset-card table at every granularity in ONE pass: per
    // (lang, source), per lang, and the grand total, via ROLLUP — the
    // engine computes all three levels from one scan with map-side
    // partial aggregation instead of three queries (at 100 TB, one scan
    // vs three is the whole cost). grouping() flags disambiguate a REAL
    // null lang/source from a rolled-up level — the classic rollup trap
    // (this corpus HAS null-lang docs, so coalesce-to-'ALL' would merge
    // them with the rollup rows and double-count). NULLS FIRST pinned
    // on both engines (their default null sort orders differ).
    "corpus_rollup" -> QueryDef.sql(
      """SELECT lang, source,
        |  CAST(grouping(lang) AS BIGINT) AS g_lang,
        |  CAST(grouping(source) AS BIGINT) AS g_src,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(length(text)) AS BIGINT) AS n_chars
        |FROM documents
        |GROUP BY ROLLUP(lang, source)
        |ORDER BY g_lang, g_src, lang NULLS FIRST, source NULLS FIRST""".stripMargin) { (s, d) =>
      documents(s, d)
        .select(col("lang"), col("source"), length(col("text")).cast("long").as("len"))
        .rollup("lang", "source")
        .agg(grouping(col("lang")).cast("long").as("g_lang"),
          grouping(col("source")).cast("long").as("g_src"),
          count(lit(1)).as("n_docs"),
          sum("len").as("n_chars"))
        .select("lang", "source", "g_lang", "g_src", "n_docs", "n_chars")
        .orderBy(col("g_lang"), col("g_src"),
          col("lang").asc_nulls_first, col("source").asc_nulls_first)
    },

    // ----- source × language pivot (wide-format mixture table) -----
    // The human-facing twin of the long-format mixture reports: one row
    // per source, one column per language — the table a data card
    // actually prints. Spark side uses the native `pivot` API with an
    // EXPLICIT value list (an implicit list would add a distinct-scan
    // job AND make the schema data-dependent — a silently breaking
    // contract at 100 TB when a new lang appears); the oracle is the
    // equivalent conditional aggregation. coalesce-to-0 because pivot
    // emits null for empty cells while count-CASE emits 0; null-lang
    // docs fall outside every listed column by design (they are the
    // `other` residual).
    "source_lang_pivot" -> QueryDef.sql(
      """SELECT source,
        |  count(CASE WHEN lang = 'de' THEN 1 END) AS de,
        |  count(CASE WHEN lang = 'en' THEN 1 END) AS en,
        |  count(CASE WHEN lang = 'es' THEN 1 END) AS es,
        |  count(CASE WHEN lang = 'fr' THEN 1 END) AS fr,
        |  count(CASE WHEN lang = 'zh' THEN 1 END) AS zh,
        |  count(CASE WHEN lang IS NULL THEN 1 END) AS other
        |FROM documents WHERE source IS NOT NULL
        |GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
      val langs = Seq("de", "en", "es", "fr", "zh")
      val counts = documents(s, d)
        .filter(col("source").isNotNull)
        .groupBy("source")
        .pivot("lang", langs ++ Seq(null))
        .agg(count(lit(1)))
      val renamed = counts.withColumnRenamed("null", "other")
      renamed.select(col("source") +:
        (langs :+ "other").map(c => coalesce(col(c), lit(0L)).as(c)): _*)
        .orderBy("source")
    },

    // ----- UNPIVOT / melt: the wide→long inverse of the pivot above -----
    // Round-trips source_lang_pivot's wide matrix back to tidy
    // (source, lang, n) rows with `stack` — one generator expression,
    // no shuffle beyond the pivot's own aggregate (the melt itself is a
    // stateless row explosion). Zero cells SURVIVE the round trip
    // (absent (source, lang) combos emit n=0), which is the property
    // that makes the long form safe to join against a full taxonomy —
    // and what a bare GROUP BY would silently lose. Oracle builds the
    // same dense grid by cross-joining sources with the taxonomy.
    "source_lang_unpivot" -> QueryDef.sql(
      """WITH src AS (SELECT DISTINCT source FROM documents WHERE source IS NOT NULL),
        |taxo AS (SELECT unnest(['de', 'en', 'es', 'fr', 'other', 'zh']) AS lang),
        |cnt AS (
        |  SELECT source, coalesce(lang, 'other') AS lang, CAST(count(*) AS BIGINT) AS n
        |  FROM documents
        |  WHERE source IS NOT NULL AND (lang IN ('de','en','es','fr','zh') OR lang IS NULL)
        |  GROUP BY 1, 2)
        |SELECT s.source, t.lang, coalesce(c.n, 0) AS n
        |FROM src s CROSS JOIN taxo t
        |LEFT JOIN cnt c ON c.source = s.source AND c.lang = t.lang
        |ORDER BY s.source, t.lang""".stripMargin) { (s, d) =>
      val langs = Seq("de", "en", "es", "fr", "zh")
      val wide = documents(s, d)
        .filter(col("source").isNotNull)
        .groupBy("source")
        .pivot("lang", langs ++ Seq(null))
        .agg(count(lit(1)))
        .withColumnRenamed("null", "other")
      val dense = wide.select(col("source") +:
        (langs :+ "other").map(c => coalesce(col(c), lit(0L)).as(c)): _*)
      val stackArgs = (langs :+ "other").map(c => s"'$c', $c").mkString(", ")
      dense.select(col("source"),
          expr(s"stack(${langs.size + 1}, $stackArgs) AS (lang, n)"))
        .orderBy("source", "lang")
    },

    // ----- k-anonymity audit over the release's quasi-identifiers -----
    // The privacy report a corpus release ships beside the PII pass:
    // documents grouped by their quasi-identifier tuple (lang, source,
    // length bucket — the attributes an adversary can match against
    // external data); the release's k-anonymity IS the smallest group
    // size, and every document in a group under the k=5 threshold is a
    // re-identification risk the release either generalizes or drops.
    // One map-side-combinable aggregate to quasi-identifier cardinality,
    // then a one-row rollup; all-integer emissions.
    "pii_k_anonymity" -> QueryDef.sql(
      """WITH q AS (
        |  SELECT lang, source, length(text) // 100 AS len_bucket
        |  FROM documents WHERE lang IS NOT NULL AND source IS NOT NULL),
        |g AS (SELECT lang, source, len_bucket, CAST(count(*) AS BIGINT) AS n
        |      FROM q GROUP BY 1, 2, 3)
        |SELECT CAST(min(n) AS BIGINT) AS k_anonymity,
        |  CAST(count(*) AS BIGINT) AS n_groups,
        |  CAST(sum(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT) AS small_groups,
        |  CAST(sum(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT) AS at_risk_docs,
        |  CAST((1000000 * sum(CASE WHEN n < 5 THEN n ELSE 0 END)) // sum(n) AS BIGINT) AS at_risk_ppm
        |FROM g""".stripMargin) { (s, d) =>
      documents(s, d)
        .filter(col("lang").isNotNull && col("source").isNotNull)
        .select(col("lang"), col("source"),
          expr("length(text) div 100").as("len_bucket"))
        .groupBy("lang", "source", "len_bucket")
        .agg(count(lit(1)).as("n"))
        .agg(min("n").as("k_anonymity"),
          count(lit(1)).as("n_groups"),
          sum(when(col("n") < 5, 1L).otherwise(0L)).as("small_groups"),
          sum(when(col("n") < 5, col("n")).otherwise(0L)).as("at_risk_docs"),
          expr("CAST((CAST(1000000 AS DECIMAL(38,0)) * sum(CASE WHEN n < 5 THEN n ELSE 0 END)) " +
            "div sum(n) AS BIGINT)").as("at_risk_ppm"))
    },

    // ----- k-anonymity SUPPRESSION: the action the audit demands -----
    // pii_k_anonymity reports the risk; this executes the fix — the
    // Samarati/Sweeney generalization ladder: documents whose full
    // quasi-identifier group (lang, source, len-bucket) clears k = 5
    // release at level 0; the REMAINDER re-groups under the
    // generalized QI (lang, source) and releases what now clears k;
    // the rest generalizes to (source) alone; whatever still sits in a
    // group under k is SUPPRESSED. Group sizes at each level are
    // computed over the remaining docs only (the iterative refinement
    // — releasing a level never un-releases an earlier one), windows
    // are QI-keyed (taxonomy-bounded partitions, never global), and
    // the per-level report (docs, groups, min surviving group size)
    // plus the suppressed tail is the release manifest's privacy page.
    // Verdict shape at any scale: level-0 carries almost everything,
    // the ladder tail measures how much utility the k guarantee costs.
    "pii_k_suppression" -> QueryDef.sql(
      """WITH q AS (
        |  SELECT doc_id, lang, source, length(text) // 100 AS len_bucket
        |  FROM documents WHERE lang IS NOT NULL AND source IS NOT NULL),
        |g0 AS (SELECT *, count(*) OVER (PARTITION BY lang, source, len_bucket) AS n0 FROM q),
        |r0 AS (SELECT * FROM g0 WHERE n0 < 5),
        |g1 AS (SELECT *, count(*) OVER (PARTITION BY lang, source) AS n1 FROM r0),
        |r1 AS (SELECT * FROM g1 WHERE n1 < 5),
        |g2 AS (SELECT *, count(*) OVER (PARTITION BY source) AS n2 FROM r1),
        |lv AS (
        |  SELECT CAST(0 AS BIGINT) AS level, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(count(DISTINCT (lang, source, len_bucket)) AS BIGINT) AS n_groups,
        |    CAST(min(n0) AS BIGINT) AS min_k
        |  FROM g0 WHERE n0 >= 5
        |  UNION ALL
        |  SELECT 1, CAST(count(*) AS BIGINT),
        |    CAST(count(DISTINCT (lang, source)) AS BIGINT), CAST(min(n1) AS BIGINT)
        |  FROM g1 WHERE n1 >= 5
        |  UNION ALL
        |  SELECT 2, CAST(count(*) AS BIGINT),
        |    CAST(count(DISTINCT source) AS BIGINT), CAST(min(n2) AS BIGINT)
        |  FROM g2 WHERE n2 >= 5
        |  UNION ALL
        |  SELECT 3, CAST(count(*) AS BIGINT),
        |    CAST(count(DISTINCT source) AS BIGINT), CAST(min(n2) AS BIGINT)
        |  FROM g2 WHERE n2 < 5)
        |SELECT level, coalesce(n_docs, 0) AS n_docs, coalesce(n_groups, 0) AS n_groups,
        |  min_k
        |FROM lv ORDER BY level""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val q = documents(s, d)
        .filter(col("lang").isNotNull && col("source").isNotNull)
        .select(col("doc_id"), col("lang"), col("source"),
          expr("length(text) div 100").as("len_bucket"))
      val g0 = q.withColumn("n0",
        count(lit(1)).over(Window.partitionBy("lang", "source", "len_bucket")))
        .localCheckpoint() // level-0 report + the remainder both read it
      val r0 = g0.filter(col("n0") < 5)
      val g1 = r0.withColumn("n1",
        count(lit(1)).over(Window.partitionBy("lang", "source")))
        .localCheckpoint()
      val r1 = g1.filter(col("n1") < 5)
      val g2 = r1.withColumn("n2",
        count(lit(1)).over(Window.partitionBy("source")))
        .localCheckpoint()
      def lv(df: org.apache.spark.sql.DataFrame, level: Int,
          grpExpr: String, nCol: String, kept: Boolean) =
        df.filter(if (kept) col(nCol) >= 5 else col(nCol) < 5)
          .agg(count(lit(1)).as("n_docs"),
            expr(s"count(DISTINCT $grpExpr)").as("n_groups"),
            min(nCol).cast("long").as("min_k"))
          .select(lit(level.toLong).as("level"),
            coalesce(col("n_docs"), lit(0L)).as("n_docs"),
            coalesce(col("n_groups"), lit(0L)).as("n_groups"), col("min_k"))
      lv(g0, 0, "struct(lang, source, len_bucket)", "n0", kept = true)
        .unionByName(lv(g1, 1, "struct(lang, source)", "n1", kept = true))
        .unionByName(lv(g2, 2, "source", "n2", kept = true))
        .unionByName(lv(g2, 3, "source", "n2", kept = false))
        .orderBy("level")
    },

    // ----- l-diversity audit: the companion invariant to k-anonymity -----
    // k-anonymity bounds GROUP SIZE; l-diversity bounds what a group
    // LEAKS: a quasi-identifier group where every member shares one
    // sensitive value discloses that value even at k ≥ 5 (the classic
    // homogeneity attack k-anonymity misses). QI = (lang, source),
    // sensitive = the 256-char length bucket; per group the audit emits
    // the member count, the distinct-sensitive count l, and the l < 3
    // flag. Taxonomy-bounded output (|lang|×|source| rows), one hash
    // aggregate — the same zero-risk plan shape as pii_k_anonymity.
    "pii_l_diversity" -> QueryDef.sql(
      """WITH q AS (
        |  SELECT lang, source, n_chars // 256 AS sens
        |  FROM documents WHERE lang IS NOT NULL AND source IS NOT NULL)
        |SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(DISTINCT sens) AS BIGINT) AS l_distinct,
        |  CAST(count(DISTINCT sens) < 3 AS BIGINT) AS homogeneity_risk
        |FROM q GROUP BY 1, 2 ORDER BY lang, source""".stripMargin) { (s, d) =>
      documents(s, d)
        .filter(col("lang").isNotNull && col("source").isNotNull)
        .select(col("lang"), col("source"), expr("n_chars div 256").as("sens"))
        .groupBy("lang", "source")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("sens")).as("l_distinct"))
        .select(col("lang"), col("source"), col("n_docs"), col("l_distinct"),
          (col("l_distinct") < 3).cast("long").as("homogeneity_risk"))
        .orderBy("lang", "source")
    },

    // ----- t-closeness audit: ordered EMD per QI group (Li et al. 2007) -----
    // The third rung of the privacy ladder: k-anonymity bounds group
    // SIZE, l-diversity bounds sensitive-value VARIETY, t-closeness
    // bounds the DISTANCE between a group's sensitive distribution and
    // the corpus's — the skewness attack the first two miss (a group
    // can be large and varied yet still 90% one decile). Sensitive
    // attribute = global n_chars decile (ordered), distance = the
    // ordered-attribute Earth Mover's Distance, which for deciles is
    // the mean |ΔCDF| over the 9 interior cuts. Everything is exact
    // integer: deciles come from the two-pass distributed global rank
    // (no single-partition window), and the EMD numerator cross-
    // multiplies raw cumulative counts (|cum_g·N − cum_G·n_g|) so no
    // division happens until the final ppm floor. Scale shape: one
    // global rank pass over the corpus, then pure broadcast algebra on
    // the bounded (groups × deciles) grid.
    "pii_t_closeness" -> QueryDef.sql(
      """WITH d AS (
        |  SELECT lang, source, n_chars, doc_id FROM documents
        |  WHERE lang IS NOT NULL AND source IS NOT NULL),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d),
        |b AS (
        |  SELECT lang, source,
        |    ((row_number() OVER (ORDER BY n_chars, doc_id) - 1) * 10) // nn.n + 1
        |      AS bucket
        |  FROM d CROSS JOIN nn),
        |gb AS (SELECT lang, source, bucket, CAST(count(*) AS BIGINT) AS cnt
        |       FROM b GROUP BY 1, 2, 3),
        |gall AS (SELECT bucket, CAST(count(*) AS BIGINT) AS cnt FROM b GROUP BY 1),
        |grp AS (SELECT lang, source, CAST(sum(cnt) AS BIGINT) AS n_g FROM gb GROUP BY 1, 2),
        |grid AS (SELECT g.lang, g.source, g.n_g, r.k
        |         FROM grp g CROSS JOIN (SELECT unnest(range(1, 10)) AS k) r),
        |cumg AS (
        |  SELECT gr.lang, gr.source, gr.n_g, gr.k,
        |    coalesce(sum(gb.cnt), 0) AS cg
        |  FROM grid gr LEFT JOIN gb
        |    ON gb.lang = gr.lang AND gb.source = gr.source AND gb.bucket <= gr.k
        |  GROUP BY 1, 2, 3, 4),
        |cumt AS (
        |  SELECT r.k, sum(CASE WHEN gall.bucket <= r.k THEN gall.cnt ELSE 0 END) AS cum_glob
        |  FROM (SELECT unnest(range(1, 10)) AS k) r CROSS JOIN gall GROUP BY 1),
        |emd AS (
        |  SELECT c.lang, c.source, c.n_g,
        |    CAST((1000000 * sum(abs(c.cg * nn.n - g.cum_glob * c.n_g)))
        |      // (nn.n * c.n_g * 9) AS BIGINT) AS emd_ppm
        |  FROM cumg c JOIN cumt g ON g.k = c.k CROSS JOIN nn
        |  GROUP BY 1, 2, 3, nn.n)
        |SELECT lang, source, n_g AS n_docs, emd_ppm,
        |  CAST(emd_ppm > 200000 AS BIGINT) AS violates_t02
        |FROM emd ORDER BY lang, source""".stripMargin) { (s, d) =>
      val dd = documents(s, d)
        .filter(col("lang").isNotNull && col("source").isNotNull)
        .select(col("lang"), col("source"), col("n_chars"), col("doc_id"))
      val (ranked, n) = graft.util.Scale.globalRowNumber(
        dd, Seq(col("n_chars"), col("doc_id")), "rn")
      val b = ranked
        .select(col("lang"), col("source"),
          expr(s"((rn - 1) * 10) div ${n}L + 1").as("bucket"))
      val gb = b.groupBy("lang", "source", "bucket").agg(count(lit(1)).as("cnt"))
        .localCheckpoint()
      val glob = gb.groupBy("bucket").agg(sum("cnt").as("cnt"))
      val grp = gb.groupBy("lang", "source").agg(sum("cnt").as("n_g"))
      val ks = s.range(1, 10).select(col("id").as("k"))
      val grid = grp.crossJoin(broadcast(ks))
      val gbr = gb.select(col("lang").as("gl"), col("source").as("gs"),
        col("bucket"), col("cnt"))
      val cumg = grid.join(broadcast(gbr),
          col("gl") === col("lang") && col("gs") === col("source") &&
            col("bucket") <= col("k"), "left")
        .groupBy(col("lang"), col("source"), col("n_g"), col("k"))
        .agg(coalesce(sum("cnt"), lit(0L)).as("cg"))
      val cumG = ks.crossJoin(broadcast(glob))
        .groupBy("k")
        .agg(sum(when(col("bucket") <= col("k"), col("cnt")).otherwise(0L))
          .as("cum_glob"))
      cumg.join(broadcast(cumG), Seq("k"))
        .groupBy("lang", "source", "n_g")
        .agg(sum(abs(col("cg") * lit(n) - col("cum_glob") * col("n_g"))).as("num"))
        .select(col("lang"), col("source"), col("n_g").as("n_docs"),
          expr(s"(1000000 * num) div (${n}L * n_g * 9)").as("emd_ppm"))
        .withColumn("violates_t02", (col("emd_ppm") > 200000).cast("long"))
        .orderBy("lang", "source")
    },

    // ----- PII detection + redaction: stateless codegen'd regex pass -----
    // Counts and redacts emails / phone numbers / IPs in one projection —
    // no shuffle, no UDF; at 100 TB this is a pure map stage pipelined
    // into the scan. The redacted fingerprint proves the replacement text
    // itself matches the oracle, not just the counts.
    "pii_redact" -> QueryDef.sql(
      s"""WITH enriched AS (
         |  SELECT doc_id, $EnrichedSql AS t FROM documents)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(t, '$EmailRe')) AS BIGINT) AS n_emails,
         |  CAST(len(regexp_extract_all(t, '$PhoneRe')) AS BIGINT) AS n_phones,
         |  CAST(len(regexp_extract_all(t, '$IpRe')) AS BIGINT) AS n_ips,
         |  md5(regexp_replace(regexp_replace(regexp_replace(t,
         |    '$EmailRe', '<EMAIL>', 'g'), '$IpRe', '<IP>', 'g'), '$PhoneRe', '<PHONE>', 'g')) AS redacted_fp
         |FROM enriched ORDER BY doc_id""".stripMargin) { (s, d) =>
      documents(s, d)
        .withColumn("t", enrichedCol)
        .select(
          col("doc_id"),
          regexp_count(col("t"), lit(EmailRe)).cast("long").as("n_emails"),
          regexp_count(col("t"), lit(PhoneRe)).cast("long").as("n_phones"),
          regexp_count(col("t"), lit(IpRe)).cast("long").as("n_ips"),
          md5(redactPii(col("t")).cast("binary")).as("redacted_fp"))
        .orderBy("doc_id")
    },

    // ----- stratified sampling: per-language rates, hash-deterministic -----
    // The corpus-mixing primitive (e.g. upsample low-resource languages):
    // keep a document iff its LCG key mod 1000 falls under its stratum's
    // permille rate. Stateless projection + filter — pushed to the scan,
    // zero shuffle, reproducible across runs and engines (no RNG state).
    "sample_stratified" -> QueryDef.sql(
      s"""SELECT doc_id, lang, source
         |FROM documents
         |WHERE $LcgSql % 1000 <
         |  CASE lang WHEN 'en' THEN 150 WHEN 'de' THEN 500 WHEN 'es' THEN 800
         |            WHEN 'fr' THEN 250 WHEN 'zh' THEN 1000 ELSE 0 END
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      documents(s, d)
        .filter(expr(s"$LcgSql % 1000") <
          when(col("lang") === "en", 150).when(col("lang") === "de", 500)
            .when(col("lang") === "es", 800).when(col("lang") === "fr", 250)
            .when(col("lang") === "zh", 1000).otherwise(0))
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    },

    // ----- weighted sampling without randomness: systematic selection -----
    // Weight-proportional sampling (select ~64 docs with probability ∝
    // n_chars) via SYSTEMATIC selection over the weight prefix sum: lay
    // all documents on the cumulative-weight axis, drop k evenly-spaced
    // probes (stride = total/k, first at stride/2), and a doc is picked
    // once per probe inside its weight interval — a heavy doc can take
    // several probes (`picks` carries the multiplicity), Σpicks = k
    // exactly. Exponential-key A-ES would need ln() whose last-ulp
    // differences across engines could flip selections; the systematic
    // spelling is INTEGER-EXACT end to end, and the prefix sum is the
    // two-pass distributed scaffold (no global window), so the plan
    // holds at 100 TB.
    "sample_weighted_systematic" -> QueryDef.sql(
      """WITH w AS (SELECT doc_id, n_chars AS w FROM documents),
        |t AS (SELECT CAST(sum(w) AS BIGINT) AS total FROM w),
        |p AS (SELECT total // 64 AS stride, (total // 64) // 2 AS off0 FROM t),
        |c AS (SELECT doc_id, w, CAST(sum(w) OVER (ORDER BY doc_id) AS BIGINT) AS cum FROM w)
        |SELECT c.doc_id, c.w,
        |  ((c.cum - p.off0 + p.stride) // p.stride)
        |    - ((c.cum - c.w - p.off0 + p.stride) // p.stride) AS picks
        |FROM c, p
        |WHERE ((c.cum - p.off0 + p.stride) // p.stride)
        |    - ((c.cum - c.w - p.off0 + p.stride) // p.stride) > 0
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = documents(s, d).select(col("doc_id"), col("n_chars").as("w"))
      val (ranged, offsets, total) = graft.util.Scale.rangedOffsets(
        docs, Seq(col("doc_id")), col("w"))
      val k = 64L
      val stride = total / k
      require(stride >= 1, s"corpus weight $total smaller than sample size $k")
      val off0 = stride / 2
      val local = Window.partitionBy("_pid").orderBy("doc_id")
      // + stride keeps both floordiv operands strictly positive (off0 <
      // stride ≤ cum+stride): Spark's div truncates toward zero while
      // DuckDB's // floors — they only agree on non-negative operands
      ranged
        .withColumn("cum", sum(col("w")).over(local) +
          coalesce(element_at(typedlit(offsets), col("_pid")), lit(0L)))
        .drop("_pid")
        .withColumn("picks",
          expr(s"((cum - $off0 + $stride) div $stride) - ((cum - w - $off0 + $stride) div $stride)"))
        .filter(col("picks") > 0)
        .select(col("doc_id"), col("w"), col("picks"))
        .orderBy("doc_id")
    },

    // ----- sequence packing: concat-and-chunk into fixed token blocks -----
    // The pretraining layout step: documents concatenated in doc_id order
    // and sliced into 512-token training sequences; each document learns
    // its starting sequence, offset within it, and how many sequences it
    // spans. The running token offset is [[TextQueries.cumulativeTokens]]
    // — the two-pass distributed prefix sum, NOT a global window (the
    // plan-shape test pins corpus_curation's identical scaffold).
    "pack_sequences" -> QueryDef.sql(
      """WITH toks AS (
        |  SELECT doc_id, CAST(len(string_split_regex(trim(lower(text)), '\s+')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, n_tokens,
        |    CAST(sum(n_tokens) OVER (ORDER BY doc_id) - n_tokens AS BIGINT) AS tok_start
        |  FROM toks)
        |SELECT doc_id, n_tokens,
        |  tok_start // 512 AS seq_id,
        |  tok_start % 512 AS seq_offset,
        |  ((tok_start + n_tokens - 1) // 512) - (tok_start // 512) + 1 AS n_seqs_spanned
        |FROM c ORDER BY doc_id""".stripMargin) { (s, d) =>
      val toks = documents(s, d).select(col("doc_id"),
        graft.functions.WsTokenCount.ws_token_count(col("text")).cast("long").as("n_tokens"))
      TextQueries.cumulativeTokens(toks)
        .withColumn("tok_start", col("cum_tokens") - col("n_tokens"))
        .select(
          col("doc_id"), col("n_tokens"),
          expr("tok_start div 512").as("seq_id"),
          (col("tok_start") % 512).as("seq_offset"),
          (expr("(tok_start + n_tokens - 1) div 512") - expr("tok_start div 512") + 1)
            .as("n_seqs_spanned"))
        .orderBy("doc_id")
    },

    // ----- unigram LM quality score: CCNet-flavored frequency scoring -----
    // The perplexity-filter stand-in that stays bit-exact across engines:
    // instead of a trained LM's log-probs (libm `ln` is not contractual
    // cross-engine), each token scores the INTEGER frequency bucket
    // floor(log2 n)+1 of its corpus count (= length(bin(n)) — pure bit
    // arithmetic), with tokens outside the top-K vocabulary scoring 0
    // (OOV). A document's mean bucket is high when it is made of common,
    // in-vocabulary tokens — the same signal a perplexity gate thresholds
    // on — and the OOV ratio is the classic garbage detector. Scale
    // shape: one map-side-combinable vocab aggregate, TakeOrdered top-K
    // (bounded → broadcast licensed), then a stateless broadcast join +
    // one (doc_id) aggregate; the corpus token explode runs twice but
    // both passes are map-only projections — cheaper at 100 TB than
    // materializing the exploded token table between them.
    "text_lm_score" -> QueryDef.sql(
      s"""WITH $LmBucketsCte
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST((1000000 * sum(bucket)) // count(*) AS BIGINT) AS mean_bucket_ppm,
        |  CAST((1000000 * sum(CASE WHEN bucket = 0 THEN 1 ELSE 0 END)) // count(*) AS BIGINT) AS oov_ppm
        |FROM s GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      tokenBuckets(s, d)
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          sum("bucket").as("sb"),
          sum(when(col("bucket") === 0, 1L).otherwise(0L)).as("so"))
        .select(col("doc_id"), col("n_tokens"),
          expr("(1000000L * sb) div n_tokens").as("mean_bucket_ppm"),
          expr("(1000000L * so) div n_tokens").as("oov_ppm"))
        .orderBy("doc_id")
    },

    // ----- CCNet head/middle/tail split by per-source LM-score terciles -----
    // The CCNet curation move (Wenzek et al. 2019): within each source,
    // rank documents by LM quality and split into thirds — train on
    // head+middle, inspect/drop the tail. Cutoffs are per-source
    // interpolated terciles via the percentile AGGREGATE (Spark
    // `percentile` ≡ DuckDB `quantile_cont`, identical interpolation):
    // an aggregate, not a per-source global sort — at 100 TB a sort
    // within 10 source partitions would funnel the corpus through 10
    // tasks, while the agg buffer is bounded by DISTINCT score values
    // and combines map-side. Scores are exact ppm BIGINTs (same integer
    // division as text_lm_score); cutoffs stay UNROUNDED: both engines
    // derive identical doubles from identical integer inputs, so the
    // tercile comparisons agree exactly. */
    "split_ccnet_terciles" -> QueryDef.sql(
      s"""WITH $LmBucketsCte,
        |lm AS (
        |  SELECT doc_id, CAST((1000000 * sum(bucket)) // count(*) AS BIGINT) AS lm_score
        |  FROM s GROUP BY doc_id),
        |scored AS (
        |  SELECT d.doc_id, d.source, lm.lm_score
        |  FROM documents d JOIN lm ON lm.doc_id = d.doc_id
        |  WHERE d.source IS NOT NULL),
        |cut AS (
        |  SELECT source, quantile_cont(lm_score, 1.0/3) AS p33,
        |    quantile_cont(lm_score, 2.0/3) AS p66
        |  FROM scored GROUP BY source)
        |SELECT sc.doc_id, sc.source, sc.lm_score,
        |  CASE WHEN sc.lm_score > c.p66 THEN 'head'
        |       WHEN sc.lm_score > c.p33 THEN 'middle'
        |       ELSE 'tail' END AS bucket_label
        |FROM scored sc JOIN cut c ON c.source = sc.source
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val lm = tokenBuckets(s, d)
        .groupBy("doc_id")
        .agg(sum("bucket").as("sb"), count(lit(1)).as("nt"))
        .select(col("doc_id"), expr("(1000000L * sb) div nt").as("lm_score"))
      val scored = documents(s, d).filter(col("source").isNotNull)
        .select("doc_id", "source")
        .join(lm, Seq("doc_id"))
      val cut = scored.groupBy("source").agg(
        expr("percentile(lm_score, 1.0D/3)").as("p33"),
        expr("percentile(lm_score, 2.0D/3)").as("p66"))
      scored.join(broadcast(cut), Seq("source")) // stratum-cardinality side
        .select(col("doc_id"), col("source"), col("lm_score"),
          when(col("lm_score") > col("p66"), "head")
            .when(col("lm_score") > col("p33"), "middle")
            .otherwise("tail").as("bucket_label"))
        .orderBy("doc_id")
    },

    // ----- RAG chunking: overlapping token windows per document -----
    // The embedding-pipeline precursor (chunk → embed → index): 64-token
    // windows at stride 48 (16-token overlap so no boundary sentence is
    // lost), each chunk fingerprinted so the downstream embedding store
    // can key on content. Stateless per-row explode bounded by document
    // size — a pure map stage at any scale; all window arithmetic is
    // integer, and the fingerprint hashes the space-joined token slice
    // identically on both engines.
    "chunk_documents" -> QueryDef.sql(
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents),
        |n AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n FROM t),
        |x AS (
        |  SELECT doc_id, toks, n,
        |    unnest(generate_series(0, (greatest(n - 64, 0) + 47) // 48)) AS k
        |  FROM n)
        |SELECT doc_id, k AS chunk_id,
        |  1 + 48 * k AS tok_start,
        |  least(48 * k + 64, n) - 48 * k AS n_chunk_tokens,
        |  md5(array_to_string(toks[CAST(1 + 48 * k AS INT):CAST(least(48 * k + 64, n) AS INT)], ' ')) AS chunk_fp
        |FROM x WHERE 48 * k < n
        |ORDER BY doc_id, chunk_id""".stripMargin) { (s, d) =>
      documents(s, d)
        .withColumn("toks", expr(TextQueries.toksExpr))
        .select(col("doc_id"), col("toks"), size(col("toks")).cast("long").as("n"))
        .select(col("doc_id"), col("toks"), col("n"),
          explode(sequence(lit(0L),
            expr("(greatest(n - 64, 0L) + 47) div 48"))).as("k"))
        .filter(col("k") * 48 < col("n"))
        .select(col("doc_id"), col("k").as("chunk_id"),
          (lit(1) + lit(48) * col("k")).as("tok_start"),
          (least(col("k") * 48 + 64, col("n")) - col("k") * 48).as("n_chunk_tokens"),
          md5(concat_ws(" ",
            slice(col("toks"), (lit(1) + lit(48) * col("k")).cast("int"),
              (least(col("k") * 48 + 64, col("n")) - col("k") * 48).cast("int")))
            .cast("binary")).as("chunk_fp"))
        .orderBy("doc_id", "chunk_id")
    },

    // ----- packing manifest: the per-sequence dataloader view -----
    // pack_sequences answers "where does my document land"; a training
    // dataloader needs the inverse: for each 512-token sequence, which
    // document SEGMENTS compose it (doc, offset into the doc, offset
    // into the sequence, segment length). One row per (sequence, doc)
    // incidence, derived from the same two-pass distributed prefix sum —
    // the explode is per-doc bounded (a doc spans ⌈n/512⌉+1 sequences)
    // and every value is integer arithmetic, bit-identical across
    // engines. Segments of one sequence sum to 512 (except the tail),
    // which the dataloader can assert at load time.
    "pack_manifest" -> QueryDef.sql(
      """WITH toks AS (
        |  SELECT doc_id, CAST(len(string_split_regex(trim(lower(text)), '\s+')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, n_tokens,
        |    CAST(sum(n_tokens) OVER (ORDER BY doc_id) - n_tokens AS BIGINT) AS tok_start
        |  FROM toks),
        |x AS (
        |  SELECT doc_id, n_tokens, tok_start,
        |    unnest(generate_series(tok_start // 512, (tok_start + n_tokens - 1) // 512)) AS seq_id
        |  FROM c)
        |SELECT seq_id, doc_id,
        |  CASE WHEN seq_id = tok_start // 512 THEN 0 ELSE seq_id * 512 - tok_start END AS doc_offset,
        |  CASE WHEN seq_id = tok_start // 512 THEN tok_start % 512 ELSE 0 END AS seq_offset,
        |  least((seq_id + 1) * 512, tok_start + n_tokens) - greatest(seq_id * 512, tok_start) AS n_seg_tokens
        |FROM x ORDER BY seq_id, doc_id""".stripMargin) { (s, d) =>
      val toks = documents(s, d).select(col("doc_id"),
        graft.functions.WsTokenCount.ws_token_count(col("text")).cast("long").as("n_tokens"))
      val c = TextQueries.cumulativeTokens(toks)
        .withColumn("tok_start", col("cum_tokens") - col("n_tokens"))
      c.select(col("doc_id"), col("n_tokens"), col("tok_start"),
        explode(sequence(expr("tok_start div 512"),
          expr("(tok_start + n_tokens - 1) div 512"))).as("seq_id"))
        .select(col("seq_id"), col("doc_id"),
          when(col("seq_id") === expr("tok_start div 512"), lit(0L))
            .otherwise(col("seq_id") * 512 - col("tok_start")).as("doc_offset"),
          when(col("seq_id") === expr("tok_start div 512"), col("tok_start") % 512)
            .otherwise(lit(0L)).as("seq_offset"),
          (least((col("seq_id") + 1) * 512, col("tok_start") + col("n_tokens"))
            - greatest(col("seq_id") * 512, col("tok_start"))).as("n_seg_tokens"))
        .orderBy("seq_id", "doc_id")
    },

    // ----- the capstone: full curation pipeline as ONE verified query -----
    // blocklist → quality gates (length + Gopher repetition) → benchmark
    // decontamination → canonical near-dup survivors → stratified
    // sampling → substring excision (Lee et al. 2022, from the persisted
    // span store) → sequence packing over the CLEANED token stream: the
    // complete documents-to-training-sequences DAG, every stage the same
    // code the standalone queries run, hash-checked end-to-end against
    // one composed DuckDB oracle (the cleaned fingerprint in the output
    // pins the excised text itself). Cluster canonicals are chosen
    // corpus-wide (the persisted assignment artifact); a cluster whose
    // canonical is excluded drops entirely — conservative, since such
    // clusters overlap eval or blocked content. Scale shape: every stage
    // is a broadcast join, stateless filter, per-row array surgery, or
    // map-side-combinable aggregate; the one ordered computation
    // (packing) is the two-pass distributed prefix sum. No global
    // window, no nested loop, no corpus-side shuffle of anything wider
    // than (doc_id, tokens).
    "corpus_pipeline_full" -> QueryDef.sql(
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
         |corpus AS (
         |  SELECT doc_id, text, lang FROM documents
         |  WHERE (source IS NULL OR source NOT IN ('src3', 'src7', 'src11'))
         |    AND doc_id % 97 <> 0),
         |toks AS (
         |  SELECT doc_id, CAST(len(string_split_regex(trim(lower(text)), '\\s+')) AS BIGINT) AS n_tokens
         |  FROM corpus),
         |bg AS (
         |  SELECT doc_id, unnest([tk[i] || ' ' || tk[i+1] for i in generate_series(1, len(tk)-1)]) AS bigram
         |  FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS tk FROM corpus)
         |  WHERE len(tk) >= 2),
         |rep AS (
         |  SELECT doc_id, CAST(max(c) AS BIGINT) AS max_rep, CAST(sum(c) AS BIGINT) AS n_bg
         |  FROM (SELECT doc_id, bigram, count(*) AS c FROM bg GROUP BY 1, 2)
         |  GROUP BY doc_id),
         |evald AS (SELECT doc_id, text FROM documents WHERE doc_id % 97 = 0),
         |esh AS (SELECT DISTINCT doc_id, h FROM (
         |  SELECT doc_id, unnest([('0x' || substr(md5(substr(text, i, 12)), 1, 15))::BIGINT
         |    for i in generate_series(1, greatest(length(text)-11, 1))]) AS h
         |  FROM evald)),
         |tsh AS (SELECT DISTINCT doc_id, h FROM (
         |  SELECT doc_id, unnest([('0x' || substr(md5(substr(text, i, 12)), 1, 15))::BIGINT
         |    for i in generate_series(1, greatest(length(text)-11, 1))]) AS h
         |  FROM corpus)),
         |contaminated AS (
         |  SELECT DISTINCT train_doc AS doc_id FROM (
         |    SELECT t.doc_id AS train_doc, e.doc_id AS eval_doc
         |    FROM tsh t JOIN esh e ON t.h = e.h
         |    GROUP BY 1, 2 HAVING count(*) >= 20)),
         |keep AS (
         |  SELECT c.doc_id, c.lang, t.n_tokens
         |  FROM corpus c
         |  JOIN toks t ON t.doc_id = c.doc_id
         |  JOIN rep r ON r.doc_id = c.doc_id
         |  JOIN clusters cl ON cl.doc_id = c.doc_id
         |  WHERE t.n_tokens >= 10 AND 5 * r.max_rep <= r.n_bg
         |    AND cl.cluster_id = c.doc_id
         |    AND c.doc_id NOT IN (SELECT doc_id FROM contaminated)
         |    AND ((c.doc_id * 1103515245 + 12345) % 2147483648) % 1000 <
         |      CASE c.lang WHEN 'en' THEN 150 WHEN 'de' THEN 500 WHEN 'es' THEN 800
         |                  WHEN 'fr' THEN 250 WHEN 'zh' THEN 1000 ELSE 0 END),
         |${TextQueries.SubstringSpanCtes},
         |cov AS (SELECT DISTINCT s.doc_id, pp.pos
         |        FROM spans s JOIN keep k ON k.doc_id = s.doc_id,
         |             LATERAL (SELECT unnest(generate_series(s.span_start, s.span_end)) AS pos) pp),
         |kt AS (SELECT k.doc_id, i.i, t.toks[i.i] AS tok
         |       FROM keep k JOIN t ON t.doc_id = k.doc_id,
         |            LATERAL (SELECT unnest(generate_series(1, len(t.toks))) AS i) i),
         |keptToks AS (SELECT kt.doc_id, kt.i, kt.tok
         |             FROM kt LEFT JOIN cov c ON c.doc_id = kt.doc_id AND c.pos = kt.i
         |             WHERE c.pos IS NULL),
         |cleaned AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_clean,
         |              md5(string_agg(tok, ' ' ORDER BY i)) AS cleaned_fp
         |            FROM keptToks GROUP BY doc_id),
         |keep2 AS (SELECT k.doc_id, k.lang, c.n_clean AS n_tokens,
         |            k.n_tokens - c.n_clean AS n_removed, c.cleaned_fp
         |          FROM keep k JOIN cleaned c USING (doc_id)),
         |budg AS (
         |  SELECT doc_id, lang, n_tokens, n_removed, cleaned_fp,
         |    CAST(sum(n_tokens) OVER (ORDER BY doc_id) - n_tokens AS BIGINT) AS tok_start
         |  FROM keep2)
         |SELECT doc_id, lang, n_tokens, n_removed,
         |  tok_start // 512 AS seq_id, tok_start % 512 AS seq_offset, cleaned_fp
         |FROM budg ORDER BY doc_id""".stripMargin.replaceFirst("WITH ", "WITH RECURSIVE ")) { (s, d) =>
      import s.implicits._
      val docs = documents(s, d)
      val blocklist = Seq("src3", "src7", "src11").toDF("source")
      // localCheckpoint doubles as an optimizer barrier: without it,
      // predicate pushdown moves the per-row gates (incl. the interpreted
      // bigram HOF) back below the spread exchange onto the single input
      // split — the exact serialization spread() exists to break. It also
      // lets the corpus scan feed both the gates and decontamination once.
      val corpus = TextQueries.spread(
        docs.join(broadcast(blocklist), Seq("source"), "left_anti")
          .filter(col("doc_id") % 97 =!= 0)
          .select("doc_id", "text", "lang"))
        .localCheckpoint()
      val contaminated = decontaminate(
        corpus, docs.filter(col("doc_id") % 97 === 0), minShared = 20)
        .select(col("train_doc").as("doc_id")).distinct()
      val canon = SignatureStore.ensureClusters(s, d)
        .filter(col("cluster_id") === col("doc_id")).select("doc_id")
      // All per-row gates run in ONE spread projection — NOT as
      // doc_id self-joins of per-column branches. The joined shape
      // re-scanned the (single-split) table per branch and re-evaluated
      // the CodegenFallback bigram HOF inside pushed-down join filters,
      // all serialized on one task (measured ~7 s of the query's 27 s at
      // local[32]). Row-wise filters commute, so ordering cheap →
      // expensive also means the HOF only ever runs on rows that survive
      // the arithmetic-only sampling gate and token floor.
      val keep = corpus
        .filter(expr(s"$LcgSql % 1000") <
          when(col("lang") === "en", 150).when(col("lang") === "de", 500)
            .when(col("lang") === "es", 800).when(col("lang") === "fr", 250)
            .when(col("lang") === "zh", 1000).otherwise(0))
        .withColumn("tk", graft.functions.WsTokens.ws_tokens(col("text")))
        .withColumn("n_tokens", size(col("tk")).cast("long"))
        .filter(col("n_tokens") >= 10)
        // pure-integer repetition gate (max/n ≤ 1/5 ⟺ 5·max ≤ n):
        // no rounded double ever enters a membership decision
        .filter(lit(5L) * TextQueries.maxBigramRun(col("tk"))
          <= (size(col("tk")) - 1).cast("long"))
        .join(canon, Seq("doc_id"), "left_semi")
        .join(contaminated, Seq("doc_id"), "left_anti")
        .select("doc_id", "lang", "n_tokens", "tk")
      excisePack(keep, SignatureStore.ensureSpans(s, d))
        .orderBy("doc_id")
    },

    // ----- fixed-n stratified sampling: exactly n docs per stratum -----
    // The budget-capped twin of sample_stratified (rates give you a
    // FRACTION; eval-set construction and ablations want an exact COUNT
    // per language). Deterministic: per-stratum rank over the LCG key.
    // Scale shape: the rank filter sits directly on the window, so
    // Spark's InferWindowGroupLimit inserts a map-side per-group top-n
    // (WindowGroupLimitExec) BELOW the shuffle — each task forwards at
    // most n rows per stratum and the shuffle carries O(tasks × strata
    // × n), not the corpus. Few-strata skew therefore cannot funnel the
    // corpus through one task (pinned by PlanAssertSpec).
    "sample_fixed_stratum" -> QueryDef.sql(
      s"""SELECT doc_id, lang FROM (
         |  SELECT doc_id, lang,
         |    row_number() OVER (PARTITION BY lang
         |      ORDER BY $LcgSql, doc_id) AS rn
         |  FROM documents) WHERE rn <= 50
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      documents(s, d)
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("lang")).orderBy(expr(LcgSql), col("doc_id"))))
        .filter(col("rn") <= 50)
        .select("doc_id", "lang")
        .orderBy("doc_id")
    },

    // ----- vocabulary build: top-K tokens by corpus frequency -----
    // The tokenizer-training precursor: corpus-wide token counts, keep
    // the K most frequent, assign dense ids by rank. The count is a
    // map-side-combinable hash aggregate over exploded tokens (the only
    // corpus-scale stage); top-K runs as TakeOrderedAndProject (heap
    // per partition, never a full sort), and the rank window orders the
    // already-bounded K-row result — a constant-size single partition
    // regardless of corpus size, which is the one place a global window
    // is legitimate.
    "vocab_topk" -> QueryDef.sql(
      """WITH tok AS (
        |  SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS token FROM documents),
        |c AS (SELECT token, CAST(count(*) AS BIGINT) AS n FROM tok GROUP BY token)
        |SELECT token, n,
        |  CAST(row_number() OVER (ORDER BY n DESC, token) AS BIGINT) AS token_id
        |FROM c QUALIFY token_id <= 1000 ORDER BY token_id""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val top = documents(s, d)
        .select(explode(graft.functions.WsTokens.ws_tokens(col("text"))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token")).limit(1000)
      // Rank WITHOUT a window: limit(K) already lands the bounded result
      // in one partition, so a partition-local sort + row offset IS
      // row_number() over (n DESC, token) — and no WindowExec means no
      // "No Partition Defined" WARN for plan audits to trip on (the one
      // here would be K-bounded, but a warning that must be explained
      // away every round is worse than a plan that doesn't need it).
      top.coalesce(1)
        .sortWithinPartitions(col("n").desc, col("token"))
        .withColumn("token_id", (monotonically_increasing_id() + 1).cast("long"))
        .orderBy("token_id")
    },

    // ----- vocabulary-size sweep: coverage per candidate K -----
    // The audit run before fixing a tokenizer's vocab size: what share
    // of corpus token OCCURRENCES the top-K types cover, for a sweep of
    // K — the elbow of this curve is where vocab growth stops paying.
    // Scale shape: the corpus collapses to its vocabulary first
    // (map-side-combinable count, Heaps-sublinear), the rank runs on
    // the vocab-cardinality table, and the sweep is a broadcast cross
    // join against 4 constant rows. All-integer ppm emissions.
    "bpe_vocab_coverage" -> QueryDef.sql(
      """WITH tok AS (
        |  SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS token FROM documents),
        |c AS (SELECT token, CAST(count(*) AS BIGINT) AS n FROM tok GROUP BY token),
        |r AS (SELECT token, n, row_number() OVER (ORDER BY n DESC, token) AS rk FROM c),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM c),
        |k AS (SELECT CAST(unnest([4, 8, 16, 32]) AS BIGINT) AS vocab_k)
        |SELECT k.vocab_k,
        |  CAST(sum(CASE WHEN r.rk <= k.vocab_k THEN r.n ELSE 0 END) AS BIGINT) AS covered,
        |  t.total,
        |  CAST((1000000 * sum(CASE WHEN r.rk <= k.vocab_k THEN r.n ELSE 0 END)) // t.total AS BIGINT) AS coverage_ppm
        |FROM k, r, t GROUP BY k.vocab_k, t.total
        |ORDER BY vocab_k""".stripMargin) { (s, d) =>
      import s.implicits._
      val c = documents(s, d)
        .select(explode(graft.functions.WsTokens.ws_tokens(col("text"))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("n"))
      // rank without a WindowExec: the vocab table is Heaps-bounded, so
      // the one-partition sort + row offset is the vocab_topk trick
      val r = c.coalesce(1).sortWithinPartitions(col("n").desc, col("token"))
        .withColumn("rk", (monotonically_increasing_id() + 1).cast("long"))
      val t = c.agg(sum("n").as("total"))
      val ks = Seq(4L, 8L, 16L, 32L).toDF("vocab_k")
      r.crossJoin(broadcast(ks)).crossJoin(broadcast(t))
        .groupBy("vocab_k", "total")
        .agg(sum(when(col("rk") <= col("vocab_k"), col("n")).otherwise(0L)).as("covered"))
        .select(col("vocab_k"), col("covered"), col("total"),
          // corpus token occurrences reach 1e13+ at 100 TB; 1e6× passes
          // int64 — DECIMAL(38,0) intermediate, BIGINT quotient
          expr("CAST((CAST(1000000 AS DECIMAL(38,0)) * covered) div total AS BIGINT)")
            .as("coverage_ppm"))
        .orderBy("vocab_k")
    },

    // ----- BPE merge-candidate pair counts (tokenizer-training step) -----
    // The other tokenizer-training precursor beside vocab_topk: the
    // weighted adjacent-character-pair frequencies over the word
    // vocabulary — exactly the statistic the first BPE merge maximizes
    // (Sennrich et al. 2016). Scale shape: the corpus collapses to its
    // WORD VOCABULARY first (map-side-combinable count — vocab grows
    // sublinearly in corpus size, Heaps' law), the pair explode is
    // vocab-cardinality × word length, and the top-20 merge candidates
    // come off a TakeOrderedAndProject heap — no global sort, nothing
    // corpus-cardinality past the first aggregate. Iterating merges
    // re-runs this over the re-segmented vocab (driver loop, vocab-sized
    // — not modeled here; the per-iteration statistic is the operator).
    "bpe_pair_counts" -> QueryDef.sql(
      """WITH w AS (
        |  SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS word FROM documents),
        |wc AS (SELECT word, count(*) AS n FROM w WHERE length(word) >= 2 GROUP BY word),
        |p AS (
        |  SELECT unnest([substr(word, i, 2) for i in generate_series(1, length(word)-1)]) AS pair, n
        |  FROM wc),
        |agg AS (SELECT pair, CAST(sum(n) AS BIGINT) AS n_pair FROM p GROUP BY pair)
        |SELECT pair, n_pair FROM agg
        |ORDER BY n_pair DESC, pair LIMIT 20""".stripMargin) { (s, d) =>
      documents(s, d)
        .select(explode(graft.functions.WsTokens.ws_tokens(col("text"))).as("word"))
        .filter(length(col("word")) >= 2)
        .groupBy("word").agg(count(lit(1)).as("n"))
        .select(
          explode(expr("transform(sequence(1, length(word)-1), i -> substring(word, i, 2))")).as("pair"),
          col("n"))
        .groupBy("pair").agg(sum("n").as("n_pair"))
        .orderBy(col("n_pair").desc, col("pair")).limit(20)
    },

    // ----- BPE: apply the top merge, emit the next iteration's counts -----
    // One FULL BPE training iteration on top of bpe_pair_counts: pick
    // the argmax pair, apply it greedily left-to-right across the word
    // vocabulary (replace() has exactly BPE's non-overlapping greedy
    // semantics on both engines), and recount symbol pairs over the
    // re-segmented vocab — the statistic the SECOND merge maximizes.
    // Merged symbols are single sentinel chars internally (chr(1) —
    // absent from lowercased text) and spelled back out in the output
    // ("pair+symbol"). Scale shape: everything after the corpus→vocab
    // collapse is vocab-cardinality; the top merge is a 1-row broadcast.
    // Full BPE training is K repetitions of exactly this step over the
    // (small) persisted segmented-vocab artifact — a driver loop like
    // kmeans_iterate's, not a new operator shape.
    "bpe_apply_top_merge" -> QueryDef.sql(
      """WITH w AS (
        |  SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS word FROM documents),
        |wc AS (SELECT word, count(*) AS n FROM w WHERE length(word) >= 2 GROUP BY word),
        |p AS (
        |  SELECT unnest([substr(word, i, 2) for i in generate_series(1, length(word)-1)]) AS pair, n
        |  FROM wc),
        |agg AS (SELECT pair, CAST(sum(n) AS BIGINT) AS n_pair FROM p GROUP BY pair),
        |top AS (SELECT pair AS mp FROM agg ORDER BY n_pair DESC, pair LIMIT 1),
        |seg AS (SELECT replace(word, (SELECT mp FROM top), chr(1)) AS sw, n FROM wc),
        |p2 AS (
        |  SELECT unnest([substr(sw, i, 2) for i in generate_series(1, length(sw)-1)]) AS rp, n
        |  FROM seg WHERE length(sw) >= 2),
        |ex AS (
        |  SELECT concat(
        |    CASE WHEN substr(rp, 1, 1) = chr(1) THEN (SELECT mp FROM top) ELSE substr(rp, 1, 1) END,
        |    '+',
        |    CASE WHEN substr(rp, 2, 1) = chr(1) THEN (SELECT mp FROM top) ELSE substr(rp, 2, 1) END) AS pair,
        |    n
        |  FROM p2)
        |SELECT pair, CAST(sum(n) AS BIGINT) AS n_pair FROM ex GROUP BY pair
        |ORDER BY n_pair DESC, pair LIMIT 20""".stripMargin) { (s, d) =>
      val words = documents(s, d)
        .select(explode(graft.functions.WsTokens.ws_tokens(col("text"))).as("word"))
        .filter(length(col("word")) >= 2)
        .groupBy("word").agg(count(lit(1)).as("n"))
      val top = words
        .select(
          explode(expr("transform(sequence(1, length(word)-1), i -> substring(word, i, 2))")).as("pair"),
          col("n"))
        .groupBy("pair").agg(sum("n").as("n_pair"))
        .orderBy(col("n_pair").desc, col("pair")).limit(1)
        .select(col("pair").as("mp"))
      words.crossJoin(broadcast(top))
        .select(expr("replace(word, mp, char(1))").as("sw"), col("n"), col("mp"))
        .filter(length(col("sw")) >= 2)
        .select(
          explode(expr("transform(sequence(1, length(sw)-1), i -> substring(sw, i, 2))")).as("rp"),
          col("n"), col("mp"))
        .select(
          concat(
            expr("CASE WHEN substring(rp, 1, 1) = char(1) THEN mp ELSE substring(rp, 1, 1) END"),
            lit("+"),
            expr("CASE WHEN substring(rp, 2, 1) = char(1) THEN mp ELSE substring(rp, 2, 1) END")).as("pair"),
          col("n"))
        .groupBy("pair").agg(sum("n").as("n_pair"))
        .orderBy(col("n_pair").desc, col("pair")).limit(20)
    },

    // ----- BPE: full K=3 training driver loop -----
    // K repetitions of bpe_apply_top_merge's step, as its comment
    // promises: each iteration picks the argmax symbol pair over the
    // CURRENT segmented word vocabulary, replaces it with a fresh
    // sentinel char (chr(k) — absent from lowercased text), and
    // re-counts. Output is the learned merge table: rank, the merge
    // spelled back out to base characters, and its count at pick time.
    // Scale shape: the corpus collapses to its word vocabulary ONCE
    // (Heaps'-law sublinear, map-side-combinable count); each iteration
    // is a vocab-cardinality pair count whose argmax is a 1-ROW driver
    // collect (the only driver traffic — same bounded pattern as
    // kmeans_iterate's 16-row centroid side), and the re-segmented
    // vocab is localCheckpoint'ed so iteration k+1 reads a materialized
    // artifact instead of re-running k stacked replaces over the
    // lineage. K is a constant; nothing corpus-cardinality ever leaves
    // the executors after the first aggregate.
    "bpe_train_k3" -> QueryDef.sql(
      s"""WITH $BpeTrainCtes,
        |m AS (
        |  SELECT 1 AS merge_rank, (SELECT mp FROM t1) AS raw, (SELECT n_pair FROM t1) AS n_pair
        |  UNION ALL
        |  SELECT 2, (SELECT mp FROM t2), (SELECT n_pair FROM t2)
        |  UNION ALL
        |  SELECT 3, (SELECT mp FROM t3), (SELECT n_pair FROM t3))
        |SELECT CAST(merge_rank AS BIGINT) AS merge_rank,
        |  concat(
        |    CASE substr(raw, 1, 1)
        |      WHEN chr(2) THEN replace((SELECT mp FROM t2), chr(1), (SELECT mp FROM t1))
        |      WHEN chr(1) THEN (SELECT mp FROM t1)
        |      ELSE substr(raw, 1, 1) END,
        |    '+',
        |    CASE substr(raw, 2, 1)
        |      WHEN chr(2) THEN replace((SELECT mp FROM t2), chr(1), (SELECT mp FROM t1))
        |      WHEN chr(1) THEN (SELECT mp FROM t1)
        |      ELSE substr(raw, 2, 1) END) AS pair,
        |  n_pair
        |FROM m ORDER BY merge_rank""".stripMargin) { (s, d) =>
      import s.implicits._
      val merges = bpeTrainMerges(s, d, 3)
      // spell the learned merges back to base characters (driver-side:
      // three 2-char strings). chr(2)'s expansion may itself contain
      // chr(1); chr(1)'s never contains a sentinel (picked first).
      val mp1 = merges(0)._2
      val mp2Spelled = merges(1)._2.replace("\u0001", mp1)
      def spell(c: Char): String = c match {
        case '\u0001' => mp1
        case '\u0002' => mp2Spelled
        case other    => other.toString
      }
      merges
        .map { case (k, mp, np) => (k, spell(mp(0)) + "+" + spell(mp(1)), np) }
        .toDF("merge_rank", "pair", "n_pair")
        .orderBy("merge_rank")
    },

    // ----- BPE: encode documents with the learned merges -----
    // The tokenizer APPLY step: re-train the K=3 merge table (same
    // driver loop as bpe_train_k3), apply the merges in learned order
    // to each document's normalized text, and report per-document
    // symbol counts before/after — the compression statistic a
    // tokenizer run is judged by. Applying replace() to the WHOLE
    // normalized text is exact: merge pairs never contain whitespace,
    // so no match can span a word boundary, and later merges may
    // contain earlier sentinels exactly as in vocab space. Scale
    // shape: training traffic is the loop's three 1-row collects;
    // encoding is a stateless per-row projection (three literal
    // replaces + two lengths) pipelined into the scan.
    "bpe_encode" -> QueryDef.sql(
      s"""WITH $BpeTrainCtes,
        |enc AS (
        |  SELECT doc_id, trim(lower(text)) AS t,
        |    replace(replace(replace(trim(lower(text)),
        |      (SELECT mp FROM t1), chr(1)),
        |      (SELECT mp FROM t2), chr(2)),
        |      (SELECT mp FROM t3), chr(3)) AS seg
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(length(regexp_replace(t, '\\s+', '', 'g')) AS BIGINT) AS n_chars,
        |  CAST(length(regexp_replace(seg, '\\s+', '', 'g')) AS BIGINT) AS n_symbols
        |FROM enc ORDER BY doc_id""".stripMargin) { (s, d) =>
      val merges = bpeTrainMerges(s, d, 3)
      val t = trim(lower(col("text")))
      val seg = merges.foldLeft(t) { case (c, (k, mp, _)) =>
        org.apache.spark.sql.functions.replace(c, lit(mp), lit(k.toInt.toChar.toString))
      }
      documents(s, d)
        .select(col("doc_id"), t.as("t"), seg.as("seg"))
        .select(col("doc_id"),
          length(regexp_replace(col("t"), "\\s+", "")).cast("long").as("n_chars"),
          length(regexp_replace(col("seg"), "\\s+", "")).cast("long").as("n_symbols"))
        .orderBy("doc_id")
    },

    // ----- fuzzy decontamination: minhash bands vs the eval set -----
    // The sketch-based sibling of decontaminate_ngram: exact 12-gram
    // overlap misses PARAPHRASED contamination (token swaps, light
    // rewording), while a banded minhash collision flags near-duplicate
    // eval docs at far lower cost than shingle intersection. Scale
    // shape: the train side reads the PERSISTED signature store (no
    // text re-hash — the same artifact every dedup query amortizes);
    // the eval side is id-bounded (same cap as decontaminate_ngram /
    // bm25), so its bands BROADCAST and the join is map-side; output is
    // bounded by real collisions. A degenerate train bucket multiplies
    // only into the bounded eval side (linear, never quadratic), so the
    // self-join bucket guard is not needed here.
    "decontaminate_fuzzy" -> QueryDef.sql(
      s"""WITH ${graft.operators.TextQueries.MinhashBandsCte}
         |SELECT DISTINCT t.doc_id AS train_doc, e.doc_id AS eval_doc
         |FROM bands t JOIN bands e ON t.band = e.band AND t.key = e.key
         |WHERE t.doc_id % 97 <> 0 AND e.doc_id % 97 = 0 AND e.doc_id < 10000
         |ORDER BY train_doc, eval_doc""".stripMargin) { (s, d) =>
      val bands = graft.operators.SignatureStore.ensureMinhashBands(s, d)
      val evalB = bands
        .filter(col("doc_id") % 97 === 0 && col("doc_id") < 10000)
        .select(col("doc_id").as("eval_doc"), col("band"), col("key"))
      val trainB = bands.filter(col("doc_id") % 97 =!= 0)
        .select(col("doc_id").as("train_doc"), col("band"), col("key"))
      trainB.join(broadcast(evalB), Seq("band", "key"))
        .select("train_doc", "eval_doc").distinct()
        .orderBy("train_doc", "eval_doc")
    },

    // ----- EXACT-threshold set-similarity decontamination -----
    // The guarantee the minhash gate cannot give: `decontaminate_fuzzy`
    // is probabilistic (an unlucky 0.8-Jaccard pair can miss every
    // band), while prefix filtering (AllPairs / PPJoin, Bayardo et al.
    // 2007) finds EVERY train doc with token-set Jaccard ≥ 0.8 against
    // an eval doc — zero false negatives, which is the property a
    // benchmark-leak audit actually wants. The trick: order each train
    // doc's tokens by GLOBAL rarity and index only its first
    // n − ⌈0.8n⌉ + 1 (the prefix); any pair at J ≥ 0.8 that also
    // passes the length filter (5·min ≥ 4·max — below it J < 0.8 is
    // impossible) MUST share a token inside the train doc's prefix
    // (> ⌈0.8n⌉ − 1 common tokens cannot all hide in a suffix that
    // small), so probing the prefix index with the full eval token
    // sets is exhaustive. Exact Jaccard then verifies candidates only.
    // Scale shape: the index carries ~the rarest fifth of each train
    // doc's distinct tokens; the probe side is the bounded eval set;
    // verification is candidate-cardinality. On a Zipfian vocabulary
    // the rare-token prefixes scatter into tiny buckets (the filter's
    // whole point); THIS 31-token corpus is its worst case and the
    // probe-side bound is what keeps it linear here. Top-20 per eval
    // doc by similarity caps the output.
    "decontaminate_setsim" -> QueryDef.sql(
      """WITH toks AS (
        |  SELECT doc_id, unnest(list_distinct(string_split_regex(trim(lower(text)), '\s+'))) AS t
        |  FROM documents),
        |qt AS (SELECT doc_id AS qid, t FROM toks WHERE doc_id % 97 = 0 AND doc_id < 10000),
        |ct AS (SELECT doc_id, t FROM toks WHERE doc_id % 97 <> 0),
        |df AS (SELECT t, CAST(count(*) AS BIGINT) AS df FROM ct GROUP BY t),
        |sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM toks GROUP BY doc_id),
        |rk AS (
        |  SELECT c.doc_id, c.t, s.n,
        |    row_number() OVER (PARTITION BY c.doc_id ORDER BY d.df, c.t) AS r
        |  FROM ct c JOIN df d ON d.t = c.t JOIN sz s ON s.doc_id = c.doc_id),
        |pre AS (SELECT doc_id, t, n FROM rk WHERE r <= n - ((4 * n + 4) // 5) + 1),
        |cand AS (
        |  SELECT DISTINCT q.qid, p.doc_id
        |  FROM qt q JOIN pre p ON p.t = q.t
        |  JOIN sz sq ON sq.doc_id = q.qid
        |  WHERE 5 * LEAST(sq.n, p.n) >= 4 * GREATEST(sq.n, p.n)),
        |inter AS (
        |  SELECT c.qid, c.doc_id, CAST(count(*) AS BIGINT) AS ni
        |  FROM cand c
        |  JOIN qt a ON a.qid = c.qid
        |  JOIN ct b ON b.doc_id = c.doc_id AND b.t = a.t
        |  GROUP BY c.qid, c.doc_id),
        |j AS (
        |  SELECT i.qid, i.doc_id, i.ni, sa.n + sb.n - i.ni AS nu
        |  FROM inter i JOIN sz sa ON sa.doc_id = i.qid JOIN sz sb ON sb.doc_id = i.doc_id)
        |SELECT qid, doc_id, CAST((1000000 * ni) // nu AS BIGINT) AS jacc_ppm
        |FROM j WHERE 5 * ni >= 4 * nu
        |QUALIFY row_number() OVER (PARTITION BY qid
        |  ORDER BY (1000000 * ni) // nu DESC, doc_id) <= 20
        |ORDER BY qid, doc_id""".stripMargin) { (s, d) =>
      val toks = documents(s, d)
        .select(col("doc_id"),
          explode(array_distinct(expr(graft.operators.TextQueries.toksExpr))).as("t"))
      val qt = toks.filter(col("doc_id") % 97 === 0 && col("doc_id") < 10000)
        .select(col("doc_id").as("qid"), col("t"))
        .localCheckpoint() // bounded probe side, used by cand AND verify
      val ct = toks.filter(col("doc_id") % 97 =!= 0)
      val df = ct.groupBy("t").agg(count(lit(1)).as("df"))
      val sz = toks.groupBy("doc_id").agg(count(lit(1)).as("n"))
      val rkW = Window.partitionBy(col("doc_id")).orderBy(col("df"), col("t"))
      val pre = ct.join(df, Seq("t")).join(sz, Seq("doc_id"))
        .withColumn("r", row_number().over(rkW))
        .filter(col("r") <= col("n") - expr("(4 * n + 4) div 5") + 1)
        .select(col("doc_id"), col("t"), col("n"))
      val szq = sz.select(col("doc_id").as("qid"), col("n").as("nq"))
      val cand = qt.join(pre, Seq("t"))
        .join(broadcast(szq), Seq("qid"))
        .filter(least(col("nq"), col("n")) * 5 >= greatest(col("nq"), col("n")) * 4)
        .select("qid", "doc_id").distinct()
      val inter = cand
        .join(qt.select(col("qid"), col("t")), Seq("qid"))
        .join(ct.select(col("doc_id"), col("t")), Seq("doc_id", "t"))
        .groupBy("qid", "doc_id").agg(count(lit(1)).as("ni"))
      val topW = Window.partitionBy(col("qid"))
        .orderBy(col("jacc_ppm").desc, col("doc_id"))
      inter
        .join(broadcast(szq), Seq("qid"))
        .join(sz, Seq("doc_id"))
        .select(col("qid"), col("doc_id"), col("ni"),
          (col("nq") + col("n") - col("ni")).as("nu"))
        .filter(col("ni") * 5 >= col("nu") * 4)
        .withColumn("jacc_ppm", expr("CAST((1000000L * ni) div nu AS BIGINT)"))
        .withColumn("rn", row_number().over(topW))
        .filter(col("rn") <= 20)
        .select("qid", "doc_id", "jacc_ppm")
        .orderBy("qid", "doc_id")
    },

    // ----- decontamination report: per-source contamination rates -----
    // The audit a release ships next to its decontamination pass: per
    // source, how many train documents the exact 12-gram check and the
    // fuzzy minhash check each flag, as counts and ppm rates — the view
    // that localizes a leaking crawl source (one source spiking means a
    // mirrored benchmark dump, corpus-wide rates mean template overlap).
    // Both flag sets are exactly the gate queries' semantics (shared
    // `decontaminate` helper; band store, never a text re-hash); the
    // flags attach by doc_id equi-join and the rollup is
    // source-cardinality. Rates are integer ppm — no double divide.
    "decontamination_report" -> QueryDef.sql(
      s"""WITH ${graft.operators.TextQueries.MinhashBandsCte},
         |evald AS (SELECT doc_id, text FROM documents WHERE doc_id % 97 = 0 AND doc_id < 10000),
         |trn AS (SELECT doc_id, text FROM documents WHERE doc_id % 97 <> 0),
         |esh AS (SELECT DISTINCT doc_id, h FROM (
         |  SELECT doc_id, unnest([('0x' || substr(md5(substr(text, i, 12)), 1, 15))::BIGINT
         |    for i in generate_series(1, greatest(length(text)-11, 1))]) AS h
         |  FROM evald)),
         |tsh AS (SELECT DISTINCT doc_id, h FROM (
         |  SELECT doc_id, unnest([('0x' || substr(md5(substr(text, i, 12)), 1, 15))::BIGINT
         |    for i in generate_series(1, greatest(length(text)-11, 1))]) AS h
         |  FROM trn)),
         |ex AS (SELECT DISTINCT train_doc FROM (
         |  SELECT t.doc_id AS train_doc, e.doc_id AS eval_doc
         |  FROM tsh t JOIN esh e ON t.h = e.h
         |  GROUP BY 1, 2 HAVING count(*) >= 20)),
         |fz AS (SELECT DISTINCT t.doc_id AS train_doc
         |  FROM bands t JOIN bands e ON t.band = e.band AND t.key = e.key
         |  WHERE t.doc_id % 97 <> 0 AND e.doc_id % 97 = 0 AND e.doc_id < 10000),
         |base AS (SELECT doc_id, source FROM documents
         |         WHERE doc_id % 97 <> 0 AND source IS NOT NULL)
         |SELECT b.source,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN ex.train_doc IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
         |  CAST(sum(CASE WHEN fz.train_doc IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_fuzzy,
         |  CAST((1000000 * sum(CASE WHEN ex.train_doc IS NOT NULL THEN 1 ELSE 0 END)) // count(*) AS BIGINT) AS exact_ppm,
         |  CAST((1000000 * sum(CASE WHEN fz.train_doc IS NOT NULL THEN 1 ELSE 0 END)) // count(*) AS BIGINT) AS fuzzy_ppm
         |FROM base b
         |LEFT JOIN ex ON ex.train_doc = b.doc_id
         |LEFT JOIN fz ON fz.train_doc = b.doc_id
         |GROUP BY b.source ORDER BY b.source""".stripMargin) { (s, d) =>
      val docs = documents(s, d)
      val evalD = docs.filter(col("doc_id") % 97 === 0 && col("doc_id") < 10000)
      val train = docs.filter(col("doc_id") % 97 =!= 0)
      val exact = decontaminate(train, evalD, minShared = 20)
        .select(col("train_doc")).distinct()
      val bands = graft.operators.SignatureStore.ensureMinhashBands(s, d)
      // eval band side is bounded by the FIXED eval set → broadcast
      val evalB = bands.filter(col("doc_id") % 97 === 0 && col("doc_id") < 10000)
        .select(col("band"), col("key"))
      val fuzzy = bands.filter(col("doc_id") % 97 =!= 0)
        .select(col("doc_id").as("train_doc"), col("band"), col("key"))
        .join(broadcast(evalB), Seq("band", "key"))
        .select("train_doc").distinct()
      train.filter(col("source").isNotNull).select(col("doc_id"), col("source"))
        .join(exact.withColumnRenamed("train_doc", "doc_id")
          .withColumn("is_ex", lit(1L)), Seq("doc_id"), "left")
        .join(fuzzy.withColumnRenamed("train_doc", "doc_id")
          .withColumn("is_fz", lit(1L)), Seq("doc_id"), "left")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(coalesce(col("is_ex"), lit(0L))).as("n_exact"),
          sum(coalesce(col("is_fz"), lit(0L))).as("n_fuzzy"))
        .select(col("source"), col("n_docs"), col("n_exact"), col("n_fuzzy"),
          expr("(1000000L * n_exact) div n_docs").as("exact_ppm"),
          expr("(1000000L * n_fuzzy) div n_docs").as("fuzzy_ppm"))
        .orderBy("source")
    },

    // ----- decontamination triage: the most-leaked eval documents -----
    // The companion view to the per-source decontamination_report: rank
    // EVAL documents by how many train documents the exact 12-gram
    // check flags against them. The top of this list localizes a leak —
    // one eval doc matched by hundreds of train docs is a benchmark
    // mirrored into the crawl; the overlap magnitude (max_shared) tells
    // template overlap from verbatim dumps. Same shingle chain and
    // broadcast-eval join as the gate query; rollup is eval-cardinality
    // and the top-10 is a TakeOrdered heap.
    "decontamination_top_eval" -> QueryDef.sql(
      """WITH evald AS (SELECT doc_id, text FROM documents WHERE doc_id % 97 = 0 AND doc_id < 10000),
        |trn AS (SELECT doc_id, text FROM documents WHERE doc_id % 97 <> 0),
        |esh AS (SELECT DISTINCT doc_id, h FROM (
        |  SELECT doc_id, unnest([('0x' || substr(md5(substr(text, i, 12)), 1, 15))::BIGINT
        |    for i in generate_series(1, greatest(length(text)-11, 1))]) AS h
        |  FROM evald)),
        |tsh AS (SELECT DISTINCT doc_id, h FROM (
        |  SELECT doc_id, unnest([('0x' || substr(md5(substr(text, i, 12)), 1, 15))::BIGINT
        |    for i in generate_series(1, greatest(length(text)-11, 1))]) AS h
        |  FROM trn)),
        |pr AS (
        |  SELECT t.doc_id AS train_doc, e.doc_id AS eval_doc, count(*) AS n_shared
        |  FROM tsh t JOIN esh e ON t.h = e.h
        |  GROUP BY 1, 2 HAVING count(*) >= 20)
        |SELECT eval_doc, CAST(count(*) AS BIGINT) AS n_train_flagged,
        |  CAST(max(n_shared) AS BIGINT) AS max_shared
        |FROM pr GROUP BY eval_doc
        |ORDER BY n_train_flagged DESC, eval_doc LIMIT 10""".stripMargin) { (s, d) =>
      val docs = documents(s, d)
      val evalD = docs.filter(col("doc_id") % 97 === 0 && col("doc_id") < 10000)
      val train = docs.filter(col("doc_id") % 97 =!= 0)
      decontaminate(train, evalD, minShared = 20)
        .groupBy("eval_doc")
        .agg(count(lit(1)).as("n_train_flagged"), max("n_shared").as("max_shared"))
        .orderBy(col("n_train_flagged").desc, col("eval_doc"))
        .limit(10)
    },

    // ----- length-bucketed batching report (padding efficiency) -----
    // The alternative to concat-packing (pack_sequences): batch docs of
    // similar length together and pad to the bucket cap — simpler
    // dataloaders, but the padding is wasted compute, and THIS report
    // (docs / tokens / capacity / padding fraction per power-of-two
    // bucket) is what decides whether the waste is acceptable. Bucket
    // caps are exact integer arithmetic on both engines
    // (2^length(bin(n-1)) = next power of two, clamped to ≥ 64); the
    // whole query is one stateless projection + a map-side-combinable
    // aggregate over ≤ log₂(max_len) output rows.
    "pack_length_buckets" -> QueryDef.sql(
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(len(string_split_regex(trim(lower(text)), '\s+')) AS BIGINT) AS n
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, n,
        |    greatest(64, CAST(power(2, length(bin(n - 1))) AS BIGINT)) AS bucket
        |  FROM t)
        |SELECT bucket, count(*) AS n_docs, CAST(sum(n) AS BIGINT) AS n_tokens,
        |  count(*) * bucket AS capacity,
        |  CAST((CAST(1000000 AS HUGEINT) * (CAST(count(*) AS HUGEINT) * bucket - sum(n)))
        |       // (CAST(count(*) AS HUGEINT) * bucket) AS BIGINT) AS padding_ppm
        |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin) { (s, d) =>
      documents(s, d)
        .select(col("doc_id"),
          graft.functions.WsTokenCount.ws_token_count(col("text")).cast("long").as("n"))
        .withColumn("bucket",
          greatest(lit(64L), pow(lit(2.0), length(bin(col("n") - 1))).cast("long")))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_docs"), sum("n").as("n_tokens"))
        .select(col("bucket"), col("n_docs"), col("n_tokens"),
          (col("n_docs") * col("bucket")).as("capacity"),
          // bucket capacity (docs×cap) is token-scale — widen as above
          expr("CAST((CAST(1000000 AS DECIMAL(38,0)) * (CAST(n_docs AS DECIMAL(38,0)) * bucket - n_tokens)) " +
            "div (CAST(n_docs AS DECIMAL(38,0)) * bucket) AS BIGINT)")
            .as("padding_ppm"))
        .orderBy("bucket")
    },

    // ----- seeded global training-order shuffle -----
    // The epoch-shuffle every training run needs: a DETERMINISTIC
    // pseudo-random permutation of the corpus (LCG key — reproducible
    // across engines and re-runs; reshuffle = new seed) materialized as
    // an explicit (doc_id, position) table a dataloader can range-read.
    // Scale shape: the rank is the two-pass distributed global
    // row_number (`Scale.globalRowNumber` — range-partition on the key,
    // rank locally, add broadcast prefix offsets), NEVER a
    // single-partition Window.orderBy: at 100 TB a global-sort window
    // funnels every row through one task, while this plan's widest
    // stage is an ordinary range exchange.
    "shuffle_order" -> QueryDef.sql(
      s"""WITH k AS (SELECT doc_id, $LcgSql AS k FROM documents)
         |SELECT doc_id, CAST(row_number() OVER (ORDER BY k, doc_id) AS BIGINT) AS position
         |FROM k ORDER BY doc_id""".stripMargin) { (s, d) =>
      val keyed = documents(s, d).select(col("doc_id"), expr(LcgSql).as("k"))
      val (ranked, _) = graft.util.Scale.globalRowNumber(
        keyed, Seq(col("k"), col("doc_id")), "position")
      ranked.select("doc_id", "position").orderBy("doc_id")
    },

    // ----- training-shard assignment + balance report -----
    // Deterministic global shuffle into 16 shards (hash, not round-robin,
    // so shard membership is stable under corpus appends) and the
    // balance report a training run checks before launch. The write path
    // this models is `repartition(shard).sortWithinPartitions(key)` —
    // per-doc work is a stateless projection; only the 16-row report
    // aggregates (map-side combined).
    "shard_shuffle" -> QueryDef.sql(
      s"""WITH assign AS (
         |  SELECT doc_id, $LcgSql % 16 AS shard_id,
         |    CAST(len(string_split_regex(trim(lower(text)), '\\s+')) AS BIGINT) AS n_tokens
         |  FROM documents)
         |SELECT shard_id, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
         |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
         |FROM assign GROUP BY shard_id
         |ORDER BY shard_id""".stripMargin) { (s, d) =>
      documents(s, d)
        .select(col("doc_id"), expr(s"$LcgSql % 16").as("shard_id"),
          graft.functions.WsTokenCount.ws_token_count(col("text")).cast("long").as("n_tokens"))
        .groupBy("shard_id")
        .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("total_tokens"),
          min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
        .orderBy("shard_id")
    },

    // ----- mixture re-weighting: temperature-style source sampling -----
    // The Pile/LLaMA-style mixture step: small sources are up-weighted
    // relative to the largest by sampling source s at rate
    // sqrt(tokens_s / tokens_max) (temperature T=2 on the token share),
    // so the biggest source keeps everything and a 1% source keeps 10%
    // relative head-room. Scale shape: the per-source token sums are one
    // map-side-combinable aggregate (source-count cardinality), the rate
    // table broadcasts — legitimately: its cardinality is the mixture's
    // stratum taxonomy (sources/domains being weighted), a curated list
    // that does not grow with corpus rows — and the keep decision is stateless per-row LCG
    // arithmetic — the corpus never shuffles. Cross-engine exactness:
    // the rate chain is max/sqrt/divide/floor only (no pow, no log, no
    // float SUM), every step a correctly-rounded IEEE op with an
    // identical expression tree on both engines. Null-source docs are
    // out of scope of a source mixture and excluded.
    "mix_temperature" -> QueryDef.sql(
      s"""WITH t AS (
         |  SELECT source,
         |    CAST(sum(len(string_split_regex(trim(lower(text)), '\\s+'))) AS BIGINT) AS toks
         |  FROM documents WHERE source IS NOT NULL GROUP BY source),
         |m AS (SELECT max(toks) AS mx FROM t),
         |r AS (
         |  SELECT source,
         |    CAST(floor(1000.0 * sqrt(CAST(toks AS DOUBLE) / CAST(mx AS DOUBLE))) AS BIGINT) AS permille
         |  FROM t, m)
         |SELECT d.doc_id, d.source, r.permille
         |FROM documents d JOIN r ON r.source = d.source
         |WHERE $LcgSql % 1000 < r.permille
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = documents(s, d)
      val bySource = docs.filter(col("source").isNotNull)
        .select(col("source"),
          graft.functions.WsTokenCount.ws_token_count(col("text")).cast("long").as("n"))
        .groupBy("source").agg(sum("n").as("toks"))
      val mx = bySource.agg(max("toks").as("mx"))
      val rates = bySource.crossJoin(broadcast(mx))
        .select(col("source"),
          floor(lit(1000.0) * sqrt(col("toks").cast("double") / col("mx").cast("double")))
            .cast("long").as("permille"))
      docs.join(broadcast(rates), Seq("source"))
        .filter(expr(s"$LcgSql % 1000") < col("permille"))
        .select("doc_id", "source", "permille")
        .orderBy("doc_id")
    },

    // ----- token-budget apportionment: exact largest-remainder quotas -----
    // The planning step between mixture design and the dataloader: split
    // a fixed training budget (1M tokens here; the constant is the knob)
    // across sources proportionally WITHOUT rounding drift — quotas sum
    // to the budget exactly, guaranteed by Hamilton's largest-remainder
    // method: base = floor(B·t/T) per source, then the B−Σbase leftover
    // units (< n_sources by construction) go to the largest remainders.
    // Every step is exact integer arithmetic (DECIMAL(38,0) ≡ HUGEINT
    // products, div/mod — no float anywhere, no tie surface; remainder
    // ranks tie-break by source). Scale shape: one map-side-combined
    // token sum, then everything acts on the source-cardinality table —
    // the ranking window is bounded by the source taxonomy, never the
    // corpus.
    // ----- DP release: Laplace mechanism beside the clamp -----
    // The mechanism half of the differential-privacy story
    // (dp_bounded_contribution is the sensitivity half): release
    // per-type distinct-user counts with Laplace(1/ε) noise at ε = 1
    // per statistic, the noise drawn by inverse-CDF from the SAME
    // deterministic LCG the sampling family uses (no RNG state — the
    // point is a reproducible demonstration of the mechanism, and the
    // determinism caveat is exactly what the scaladoc of a real
    // deployment would flip to a seeded SecureRandom). The single ln
    // enters per bounded type row through the round(,6) discipline; the
    // CDF argument (M − |2u−M|)/M is an exact rational pushed through
    // one IEEE division, so both engines draw the identical noise.
    "dp_laplace_release" -> QueryDef.sql(
      """WITH ut AS (SELECT DISTINCT event_type, user_id FROM events),
        |g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS true_users
        |  FROM ut GROUP BY 1),
        |rk AS (SELECT event_type, true_users,
        |  CAST(row_number() OVER (ORDER BY event_type) AS BIGINT) AS r FROM g),
        |u AS (SELECT event_type, true_users,
        |  (r * 1103515245 + 12345) % 2147483648 AS ur FROM rk),
        |n AS (SELECT event_type, true_users,
        |  CASE WHEN 2 * ur >= 2147483648 THEN 1 ELSE -1 END AS sgn,
        |  CAST(round(1000000 * round(
        |    -ln(CAST(2147483648 - abs(2 * ur - 2147483648) AS DOUBLE)
        |      / 2147483648.0), 6)) AS BIGINT) AS mag
        |  FROM u)
        |SELECT event_type, true_users, sgn * mag AS noise_micro,
        |  true_users * 1000000 + sgn * mag AS released_micro
        |FROM n ORDER BY event_type""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val g = graft.util.Tables.events(s, d)
        .select("event_type", "user_id").distinct()
        .groupBy("event_type").agg(count(lit(1)).as("true_users"))
      // type-alphabet-bounded rank window
      g.withColumn("r", row_number().over(Window.orderBy("event_type"))
          .cast("long"))
        .withColumn("ur", expr("(r * 1103515245 + 12345) % 2147483648"))
        .select(col("event_type"), col("true_users"),
          expr("CASE WHEN 2 * ur >= 2147483648 THEN 1 ELSE -1 END").as("sgn"),
          expr("""CAST(round(1000000 * round(
                 |  -ln(CAST(2147483648 - abs(2 * ur - 2147483648) AS DOUBLE)
                 |    / 2147483648.0D), 6)) AS BIGINT)""".stripMargin).as("mag"))
        .select(col("event_type"), col("true_users"),
          (col("sgn") * col("mag")).as("noise_micro"),
          (col("true_users") * lit(1000000L) + col("sgn") * col("mag"))
            .as("released_micro"))
        .orderBy("event_type")
    },

    // ----- Randomized response: the LOCAL-DP mechanism -----
    // Warner (1965), the third face of the DP story: dp_bounded_
    // contribution clamps sensitivity, dp_laplace_release adds central
    // noise — this is the LOCAL model, where each row lies about its
    // own bit before aggregation ever sees it. Each event's success bit
    // (value ≥ 100) is flipped with probability 1/4 (ε = ln 3), the
    // flip drawn from the same deterministic LCG as the sampling
    // family, keyed by event_id so the demonstration reproduces. The
    // debiasing identity π̂ = 2·p̂_reported − 1/2 recovers the rate, and
    // the emitted per-type |error| IS the privacy-variance tradeoff:
    // ~50k ppm at n≈200 (sf0.001) shrinking to ~14k at n≈2000 (sf0.01)
    // — the 1/√n law a deployment sizes cohorts by. Pure integer
    // arithmetic end to end; taxonomy-bounded output.
    "dp_randomized_response" -> QueryDef.sql(
      """WITH e AS (
        |  SELECT event_id, event_type,
        |    CASE WHEN value >= 100 THEN 1 ELSE 0 END AS x,
        |    CASE WHEN (event_id * 1103515245 + 12345) % 2147483648 < 536870912
        |         THEN 1 ELSE 0 END AS flip
        |  FROM events),
        |g AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x) AS BIGINT) AS s_true,
        |    CAST(sum(CASE WHEN flip = 1 THEN 1 - x ELSE x END) AS BIGINT) AS s_rep
        |  FROM e GROUP BY 1)
        |SELECT event_type, n,
        |  CAST((1000000 * s_true) // n AS BIGINT) AS true_ppm,
        |  CAST((1000000 * s_rep) // n AS BIGINT) AS reported_ppm,
        |  CAST(2 * ((1000000 * s_rep) // n) - 500000 AS BIGINT) AS debiased_ppm,
        |  CAST(abs(2 * ((1000000 * s_rep) // n) - 500000
        |           - (1000000 * s_true) // n) AS BIGINT) AS abs_err_ppm
        |FROM g ORDER BY event_type""".stripMargin) { (s, d) =>
      graft.util.Tables.events(s, d)
        .select(col("event_id"), col("event_type"),
          when(col("value") >= 100, 1L).otherwise(0L).as("x"),
          when(expr("(event_id * 1103515245 + 12345) % 2147483648") < 536870912L,
            1L).otherwise(0L).as("flip"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("x").as("s_true"),
          sum(when(col("flip") === 1, lit(1L) - col("x")).otherwise(col("x")))
            .as("s_rep"))
        .select(col("event_type"), col("n"),
          expr("(1000000 * s_true) div n").as("true_ppm"),
          expr("(1000000 * s_rep) div n").as("reported_ppm"),
          expr("2 * ((1000000 * s_rep) div n) - 500000").as("debiased_ppm"),
          expr("abs(2 * ((1000000 * s_rep) div n) - 500000 - (1000000 * s_true) div n)")
            .as("abs_err_ppm"))
        .orderBy("event_type")
    },

    // ----- IPF raking: rebalance the lang×source mixture -----
    // Iterative proportional fitting (Deming & Stephan 1940) — the
    // survey-weighting classic as a MIXTURE tool: find per-cell ppm
    // weights that pull the lang×source doc-count table to uniform
    // language AND source margins simultaneously (the 2-margin problem
    // token_budget_apportion's single split can't solve). Four
    // row+column double-sweeps at ppm fixed point, every rescale one
    // floored division — the bounded cell table folds on the driver
    // (markov precedent) while DuckDB walks the same 8 MATERIALIZED
    // steps; achieved margins land within ~300 ppb of target at the
    // fixture. Weighted counts widen through BigInt/HUGEINT — cell
    // counts are corpus-magnitude even though the table is bounded.
    "mix_raking_ipf" -> QueryDef.sql(IpfRakingSql) { (s, d) =>
      val cells = documents(s, d)
        .groupBy("lang", "source").agg(count(lit(1)).as("n"))
        .collect() // bounded: lang × source taxonomy cells
        .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      val rows = ipfWeights(cells)
      import s.implicits._
      rows.toDF("lang", "source", "n", "w_ppm").orderBy("lang", "source")
    },

    // ----- Neyman-optimal stratified sample allocation -----
    // Sampling theory's answer to "how many docs per source": allocate
    // ∝ N_h·S_h (Neyman 1934), so high-variance strata get more budget
    // than proportional allocation would give. With full-census strata
    // N_h·S_h = √(n·Σx² − (Σx)²) exactly, so ONE correctly-rounded IEEE
    // sqrt per source (the rating_wilson_rank precedent) makes the
    // weights deterministic BIGINTs; the 1000-unit budget then
    // apportions by largest remainder (the token_budget_apportion
    // kernel), so Σ alloc = 1000 exactly, never 999 or 1001. A
    // zero-variance stratum weighs 0 — structurally excluded rather
    // than rounded away.
    "sample_neyman_allocation" -> QueryDef.sql(
      """WITH t AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(n_chars) AS BIGINT) AS sx,
        |    CAST(sum(n_chars * n_chars) AS BIGINT) AS sxx
        |  FROM documents GROUP BY 1),
        |w AS (
        |  SELECT source, n,
        |    CAST(floor(sqrt(CAST(n * sxx - sx * sx AS DOUBLE))) AS BIGINT) AS wt
        |  FROM t),
        |tot AS (SELECT CAST(sum(wt) AS BIGINT) AS tw FROM w),
        |q AS (SELECT source, n, wt,
        |    CAST((1000 * wt) // tot.tw AS BIGINT) AS base,
        |    CAST((1000 * wt) % tot.tw AS BIGINT) AS rem
        |  FROM w, tot),
        |s AS (SELECT CAST(1000 - sum(base) AS BIGINT) AS leftover FROM q),
        |r AS (SELECT q.*, row_number() OVER (ORDER BY rem DESC, source) AS rk
        |  FROM q)
        |SELECT source, n AS n_docs, wt AS ns_scaled,
        |  base + CASE WHEN rk <= s.leftover THEN 1 ELSE 0 END AS alloc
        |FROM r, s ORDER BY source""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val t = documents(s, d)
        .groupBy("source")
        .agg(count(lit(1)).as("n"), sum("n_chars").as("sx"),
          sum(expr("n_chars * n_chars")).as("sxx"))
      val w = t.select(col("source"), col("n"),
          expr("CAST(floor(sqrt(CAST(n * sxx - sx * sx AS DOUBLE))) AS BIGINT)")
            .as("wt"))
        .localCheckpoint() // the total and the quota rows both read it
      val tot = w.agg(sum("wt").cast("long").as("tw"))
      val q = w.crossJoin(broadcast(tot))
        .select(col("source"), col("n"), col("wt"),
          expr("CAST((1000 * wt) div tw AS BIGINT)").as("base"),
          expr("CAST((1000 * wt) % tw AS BIGINT)").as("rem"))
        .localCheckpoint() // leftover sum + ranking share it
      val leftover = q.agg((lit(1000L) - sum("base")).as("leftover"))
      // source-taxonomy-bounded window — a global ORDER BY is safe here
      q.withColumn("rk", row_number().over(
          Window.orderBy(col("rem").desc, col("source"))))
        .crossJoin(broadcast(leftover))
        .select(col("source"), col("n").as("n_docs"), col("wt").as("ns_scaled"),
          (col("base") + when(col("rk") <= col("leftover"), 1L).otherwise(0L))
            .as("alloc"))
        .orderBy("source")
    },

    "token_budget_apportion" -> QueryDef.sql(
      """WITH t AS (
        |  SELECT source,
        |    CAST(sum(len(string_split_regex(trim(lower(text)), '\s+'))) AS BIGINT) AS tokens
        |  FROM documents WHERE source IS NOT NULL AND text IS NOT NULL GROUP BY source),
        |tot AS (SELECT CAST(sum(tokens) AS BIGINT) AS tt FROM t),
        |q AS (SELECT source, tokens,
        |    CAST((CAST(1000000 AS HUGEINT) * tokens) // tot.tt AS BIGINT) AS base,
        |    CAST((CAST(1000000 AS HUGEINT) * tokens) % tot.tt AS BIGINT) AS rem
        |  FROM t, tot),
        |s AS (SELECT CAST(1000000 - sum(base) AS BIGINT) AS leftover FROM q),
        |r AS (SELECT q.*, row_number() OVER (ORDER BY rem DESC, source) AS rk FROM q)
        |SELECT source, tokens,
        |  base + CASE WHEN rk <= s.leftover THEN 1 ELSE 0 END AS quota
        |FROM r, s ORDER BY source""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val t = documents(s, d)
        .filter(col("source").isNotNull && col("text").isNotNull)
        .select(col("source"),
          graft.functions.WsTokenCount.ws_token_count(col("text")).cast("long").as("n"))
        .groupBy("source").agg(sum("n").as("tokens"))
        .localCheckpoint() // two consumers: the total and the quota rows
      val tot = t.agg(sum("tokens").cast("long").as("tt"))
      val q = t.crossJoin(broadcast(tot))
        .select(col("source"), col("tokens"),
          expr("CAST((CAST(1000000 AS DECIMAL(38,0)) * tokens) div tt AS BIGINT)").as("base"),
          expr("CAST((CAST(1000000 AS DECIMAL(38,0)) * tokens) % tt AS BIGINT)").as("rem"))
        .localCheckpoint() // two consumers: the leftover sum and the ranking
      val leftover = q.agg((lit(1000000L) - sum("base")).as("leftover"))
      // source-taxonomy-bounded window (≤ thousands of rows at any
      // corpus size) — a global ORDER BY here is safe by construction
      q.withColumn("rk", row_number().over(
          Window.orderBy(col("rem").desc, col("source"))))
        .crossJoin(broadcast(leftover))
        .select(col("source"), col("tokens"),
          (col("base") + when(col("rk") <= col("leftover"), 1L).otherwise(0L)).as("quota"))
        .orderBy("source")
    },

    // ----- mixture re-weighting: fractional-epoch UPSAMPLING -----
    // The other half of mixture design (mix_temperature keeps a subset;
    // this one REPEATS): small high-value sources are repeated
    // sqrt(tokens_max / tokens_s) epochs, capped at 4 (past ~4 epochs
    // repetition stops helping — Muennighoff et al. 2023), so the largest
    // source runs exactly once and a 1% source about 4 times. Fractional
    // epochs are materialized deterministically: every doc gets
    // floor(epochs) copies plus one more iff its LCG draw lands under
    // the fractional part — reproducible across engines/re-runs, no
    // sampling. Scale shape: the epoch table is stratum-cardinality
    // (broadcast legitimately); the explode is per-row bounded by the
    // epoch cap (≤4 copies), a stateless map stage — the corpus never
    // shuffles. The rate chain is max/sqrt/divide/floor only — every
    // step correctly rounded IEEE with identical trees on both engines.
    "upsample_epochs" -> QueryDef.sql(
      s"""WITH t AS (
         |  SELECT source,
         |    CAST(sum(len(string_split_regex(trim(lower(text)), '\\s+'))) AS BIGINT) AS toks
         |  FROM documents WHERE source IS NOT NULL GROUP BY source),
         |m AS (SELECT max(toks) AS mx FROM t),
         |r AS (
         |  SELECT source,
         |    CAST(floor(1000.0 * least(sqrt(CAST(mx AS DOUBLE) / CAST(toks AS DOUBLE)), 4.0)) AS BIGINT) AS permille
         |  FROM t, m),
         |c AS (
         |  SELECT d.doc_id, d.source, r.permille,
         |    r.permille // 1000 +
         |      CASE WHEN $LcgSql % 1000 < r.permille % 1000 THEN 1 ELSE 0 END AS n_copies
         |  FROM documents d JOIN r ON r.source = d.source)
         |SELECT doc_id, CAST(unnest(generate_series(0, n_copies - 1)) AS BIGINT) AS copy_idx,
         |  source, permille
         |FROM c ORDER BY doc_id, copy_idx""".stripMargin) { (s, d) =>
      val docs = documents(s, d)
      val bySource = docs.filter(col("source").isNotNull)
        .select(col("source"),
          graft.functions.WsTokenCount.ws_token_count(col("text")).cast("long").as("n"))
        .groupBy("source").agg(sum("n").as("toks"))
      val mx = bySource.agg(max("toks").as("mx"))
      val rates = bySource.crossJoin(broadcast(mx))
        .select(col("source"),
          floor(lit(1000.0) *
            least(sqrt(col("mx").cast("double") / col("toks").cast("double")), lit(4.0)))
            .cast("long").as("permille"))
      docs.join(broadcast(rates), Seq("source"))
        .select(col("doc_id"), col("source"), col("permille"),
          (expr("permille div 1000") +
            when(expr(s"$LcgSql % 1000") < col("permille") % 1000, 1L).otherwise(0L))
            .as("n_copies"))
        // permille >= 1000 (the largest source is exactly 1.0 epochs), so
        // n_copies >= 1 and the sequence can never descend.
        .select(col("doc_id"),
          explode(sequence(lit(0L), col("n_copies") - 1)).as("copy_idx"),
          col("source"), col("permille"))
        .orderBy("doc_id", "copy_idx")
    },

    // ----- balanced K-way batch assembly (LPT round-robin) -----
    // Variable-length batching without packing: rank docs by descending
    // token count and deal them round-robin into K=32 bins (the
    // longest-processing-time greedy heuristic's cheap cousin — within
    // ~1 max-doc of perfectly balanced), then report per-bin load so the
    // training launcher can assert balance. Scale shape: the rank is the
    // two-pass distributed global row_number (`Scale.globalRowNumber` —
    // a range exchange, never a single-partition Window.orderBy), the
    // report is one map-side-combinable aggregate at K cardinality.
    "pack_balanced_bins" -> QueryDef.sql(
      """WITH t AS (
        |  SELECT doc_id, CAST(len(string_split_regex(trim(lower(text)), '\s+')) AS BIGINT) AS n
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, n, row_number() OVER (ORDER BY n DESC, doc_id) AS rk FROM t)
        |SELECT CAST((rk - 1) % 32 AS BIGINT) AS bin_id, count(*) AS n_docs,
        |  CAST(sum(n) AS BIGINT) AS n_tokens, min(n) AS min_doc, max(n) AS max_doc
        |FROM r GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val t = documents(s, d).select(col("doc_id"),
        graft.functions.WsTokenCount.ws_token_count(col("text")).cast("long").as("n"))
      val (ranked, _) = graft.util.Scale.globalRowNumber(
        t, Seq(col("n").desc, col("doc_id")), "rk")
      ranked.select(((col("rk") - 1) % 32).as("bin_id"), col("n"))
        .groupBy("bin_id")
        .agg(count(lit(1)).as("n_docs"), sum("n").as("n_tokens"),
          min("n").as("min_doc"), max("n").as("max_doc"))
        .orderBy("bin_id")
    },

    // ----- deterministic train/val/test split -----
    // The 98/1/1 holdout every training corpus ships with, keyed on the
    // same LCG family as the samplers: membership is a pure function of
    // doc_id (reproducible across engines, runs, and corpus re-orders —
    // appending docs never moves an existing doc between splits). The
    // report carries count/token/min/max/sum-of-ids per split as the
    // membership checksum — NO per-split id concatenation, which would
    // funnel each split's entire membership through one reducer at
    // 100 TB. Stateless projection + one stratum-cardinality aggregate.
    "split_train_val" -> QueryDef.sql(
      s"""WITH a AS (
         |  SELECT doc_id,
         |    CASE WHEN $LcgSql % 100 < 98 THEN 'train'
         |         WHEN $LcgSql % 100 < 99 THEN 'val' ELSE 'test' END AS split,
         |    CAST(len(string_split_regex(trim(lower(text)), '\\s+')) AS BIGINT) AS n
         |  FROM documents)
         |SELECT split, count(*) AS n_docs, CAST(sum(n) AS BIGINT) AS n_tokens,
         |  min(doc_id) AS first_doc, max(doc_id) AS last_doc,
         |  CAST(sum(doc_id) AS BIGINT) AS id_sum
         |FROM a GROUP BY split ORDER BY split""".stripMargin) { (s, d) =>
      documents(s, d)
        .select(col("doc_id"),
          when(expr(s"$LcgSql % 100") < 98, "train")
            .when(expr(s"$LcgSql % 100") < 99, "val")
            .otherwise("test").as("split"),
          graft.functions.WsTokenCount.ws_token_count(col("text")).cast("long").as("n"))
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"), sum("n").as("n_tokens"),
          min("doc_id").as("first_doc"), max("doc_id").as("last_doc"),
          sum("doc_id").as("id_sum"))
        .orderBy("split")
    },

    // ----- DSIR-style hashed importance weights for targeted sampling -----
    // Data Selection via Importance Resampling (Xie et al. 2023) adapted
    // to integer arithmetic: score every raw document by how much its
    // token distribution resembles a TARGET slice (here lang='en'),
    // using hashed features — each token is bucketed by md5 into a FIXED
    // 1024-slot table (the same '0x'||hex ⇄ conv() parity trick as the
    // minhash family), and per-bucket target/raw frequencies are
    // compressed to integer log₂ buckets (length(bin(n)) =
    // ⌊log₂ n⌋ + 1, the text_lm_score discipline). A document's weight
    // is Σ_tokens (bucket_target − bucket_raw) — the log-likelihood
    // ratio of DSIR at log₂ granularity, exact in int64, order-free,
    // no engine-defined rounding anywhere. Scale shape: both frequency
    // tables are EXACTLY ≤1024 rows by construction (broadcast is
    // unconditionally safe — bounded by the hash range, not the
    // corpus); the token stream joins them map-side and the only
    // shuffle is the per-document partial-aggregated sum.
    "importance_weights" -> QueryDef.sql(
      """WITH tok AS (
        |  SELECT doc_id, lang, unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
        |  FROM documents),
        |tb AS (SELECT doc_id, lang,
        |         ('0x' || substr(md5(token), 1, 15))::BIGINT % 1024 AS b FROM tok),
        |rc AS (SELECT b, CAST(length(bin(count(*))) AS BIGINT) AS b_raw FROM tb GROUP BY b),
        |tc AS (SELECT b, CAST(length(bin(count(*))) AS BIGINT) AS b_tgt
        |       FROM tb WHERE lang = 'en' GROUP BY b),
        |sc AS (SELECT t.doc_id, coalesce(tc.b_tgt, 0) - rc.b_raw AS s
        |       FROM tb t JOIN rc USING (b) LEFT JOIN tc USING (b))
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(sum(s) AS BIGINT) AS dsir_weight
        |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      // localCheckpoint: the bucketed token stream feeds both frequency
      // tables and the scoring join — materialize the explode+md5 once.
      val tb = TextQueries.spread(documents(s, d))
        .select(col("doc_id"), col("lang"),
          explode(graft.functions.WsTokens.ws_tokens(col("text"))).as("token"))
        .select(col("doc_id"), col("lang"),
          (graft.functions.Md5Head60.md5_head60(col("token")) % 1024).as("b"))
        .localCheckpoint()
      val rc = tb.groupBy("b").agg(length(bin(count(lit(1)))).cast("long").as("b_raw"))
      val tc = tb.filter(col("lang") === "en")
        .groupBy("b").agg(length(bin(count(lit(1)))).cast("long").as("b_tgt"))
      tb.join(broadcast(rc), Seq("b"))
        .join(broadcast(tc), Seq("b"), "left")
        .select(col("doc_id"), (coalesce(col("b_tgt"), lit(0L)) - col("b_raw")).as("s"))
        .groupBy("doc_id")
        .agg(count(lit(1)).cast("long").as("n_tokens"), sum("s").cast("long").as("dsir_weight"))
        .orderBy("doc_id")
    },

    // ----- dataset card: the one-row release-audit summary -----
    // What goes in the dataset card every corpus release publishes:
    // volume, exact-dup rate, stratum counts, and a language-diversity
    // index. Diversity is GINI impurity (1 − Σ pᵢ²), not entropy — the
    // p² sum is exact integer arithmetic (Σ cᵢ²/n²) shipped as truncated
    // ppm (no float op anywhere in the row), while entropy's ln() is
    // libm-dependent and not correctly rounded across engines. Scale
    // shape: exact global
    // distincts are the point of a release audit (each is a partial-
    // aggregated hash shuffle); everything else is one pass, output is
    // one row.
    "dataset_card" -> QueryDef.sql(
      """WITH tok AS (
        |  SELECT doc_id, lang, source, md5(text) AS fp,
        |    CAST(len(string_split_regex(trim(lower(text)), '\s+')) AS BIGINT) AS n
        |  FROM documents),
        |tot AS (
        |  SELECT count(*) AS n_docs, CAST(sum(n) AS BIGINT) AS n_tokens,
        |    count(DISTINCT fp) AS n_distinct, count(DISTINCT source) AS n_sources,
        |    count(DISTINCT lang) AS n_langs
        |  FROM tok),
        |lg AS (SELECT lang, count(*) AS c FROM tok GROUP BY lang),
        |g AS (SELECT CAST(sum(c * c) AS BIGINT) AS ss FROM lg)
        |SELECT n_docs, n_tokens, n_distinct,
        |  (1000000 * (n_docs - n_distinct)) // n_docs AS dup_rate_ppm,
        |  n_sources, n_langs,
        |  (1000 * n_tokens) // n_docs AS mean_tokens_milli,
        |  CAST((CAST(1000000 AS HUGEINT) * (CAST(n_docs AS HUGEINT) * n_docs - ss)) //
        |    (CAST(n_docs AS HUGEINT) * n_docs) AS BIGINT) AS lang_gini_ppm
        |FROM tot, g""".stripMargin) { (s, d) =>
      val tok = documents(s, d).select(
        col("lang"), col("source"),
        md5(col("text").cast("binary")).as("fp"),
        graft.functions.WsTokenCount.ws_token_count(col("text")).cast("long").as("n"))
      val tot = tok.agg(
        count(lit(1)).as("n_docs"), sum("n").as("n_tokens"),
        countDistinct(col("fp")).as("n_distinct"),
        countDistinct(col("source")).as("n_sources"),
        countDistinct(col("lang")).as("n_langs"))
      val g = tok.groupBy("lang").agg(count(lit(1)).as("c"))
        .agg(sum(col("c") * col("c")).as("ss"))
      tot.crossJoin(g)
        .select(col("n_docs"), col("n_tokens"), col("n_distinct"),
          expr("(1000000L * (n_docs - n_distinct)) div n_docs").as("dup_rate_ppm"),
          col("n_sources"), col("n_langs"),
          expr("(1000L * n_tokens) div n_docs").as("mean_tokens_milli"),
          // DECIMAL(38,0) ≡ DuckDB HUGEINT at these magnitudes (n_docs²·1e6
          // stays exact below ~3e9 docs; widen the decimal before that)
          expr("CAST((CAST(1000000 AS DECIMAL(38,0)) * (CAST(n_docs AS DECIMAL(38,0)) * n_docs - ss)) div " +
            "(CAST(n_docs AS DECIMAL(38,0)) * n_docs) AS BIGINT)").as("lang_gini_ppm"))
    },

    // ----- T5-style span-corruption masks (Raffel et al. 2020 §3.1.4) -----
    // The noising plan a span-corruption pretraining objective needs:
    // per document, ~15% of token POSITIONS are marked by a stateless
    // per-(doc, position) hash (no RNG state, so any shard can rebuild
    // any doc's mask independently — the property that lets the mask
    // live in the PLAN instead of on disk), adjacent marks merge into
    // spans (gaps-and-islands), and each span gets its sentinel ordinal.
    // Only (doc_id, n_tokens) leaves the scan — token TEXT never enters
    // the mask computation, so the explode is a position range, not a
    // string stream. Both windows share one doc-keyed sort. Emitted
    // per-doc mask fraction makes the 15% target auditable row by row.
    "span_corruption_masks" -> QueryDef.sql(
      """WITH nt AS (
        |  SELECT doc_id, length(string_split_regex(trim(lower(text)), '\s+')) AS n
        |  FROM documents WHERE doc_id < 3000),
        |pos AS (
        |  SELECT doc_id, n, unnest(generate_series(0, n - 1)) AS p FROM nt),
        |hit AS (
        |  SELECT doc_id, n, p FROM pos
        |  WHERE ('0x' || substr(md5(doc_id::VARCHAR || '#' || p::VARCHAR), 1, 15))::BIGINT % 1000 < 150),
        |isl AS (
        |  SELECT doc_id, n, p,
        |    p - row_number() OVER (PARTITION BY doc_id ORDER BY p) AS grp
        |  FROM hit),
        |spans AS (
        |  SELECT doc_id, max(n) AS n, grp, CAST(min(p) AS BIGINT) AS start_tok,
        |    CAST(count(*) AS BIGINT) AS n_toks
        |  FROM isl GROUP BY doc_id, grp)
        |SELECT doc_id,
        |  CAST(row_number() OVER (PARTITION BY doc_id ORDER BY start_tok) - 1 AS BIGINT)
        |    AS sentinel_id,
        |  start_tok, n_toks,
        |  CAST((1000000 * sum(n_toks) OVER (PARTITION BY doc_id)) // max(n) OVER (PARTITION BY doc_id) AS BIGINT)
        |    AS masked_ppm
        |FROM spans ORDER BY doc_id, sentinel_id""".stripMargin) { (s, d) =>
      val w = Window.partitionBy(col("doc_id")).orderBy(col("p"))
      val hit = documents(s, d).filter(col("doc_id") < 3000)
        .select(col("doc_id"),
          graft.functions.WsTokenCount.ws_token_count(col("text")).cast("long").as("n"))
        .select(col("doc_id"), col("n"), explode(sequence(lit(0L), col("n") - 1)).as("p"))
        .filter(pmod(graft.functions.Md5Head60.md5_head60(concat(col("doc_id").cast("string"), lit("#"),
          col("p").cast("string"))),
          lit(1000L)) < 150)
      val spans = hit
        .withColumn("grp", col("p") - row_number().over(w))
        .groupBy(col("doc_id"), col("grp"))
        .agg(max("n").as("n"), min("p").as("start_tok"), count(lit(1)).as("n_toks"))
      val sw = Window.partitionBy(col("doc_id")).orderBy(col("start_tok"))
      val dw = Window.partitionBy(col("doc_id"))
      spans
        .select(col("doc_id"),
          (row_number().over(sw) - 1).cast("long").as("sentinel_id"),
          col("start_tok"), col("n_toks"),
          sum(col("n_toks")).over(dw).as("stot"),
          max(col("n")).over(dw).as("ntot"))
        .withColumn("masked_ppm", expr("(1000000L * stot) div ntot"))
        .select("doc_id", "sentinel_id", "start_tok", "n_toks", "masked_ppm")
        .orderBy("doc_id", "sentinel_id")
    },

    // ----- Bounded-contribution aggregation (DP sensitivity clamp) -----
    // The preprocessing step every differentially-private release
    // starts with (Dwork & Roth §2; Wilson et al., "Differentially
    // Private SQL", VLDB 2020): cap each user's contribution to a
    // per-type count at C=3 BEFORE aggregating, so one user can move
    // the released count by at most C — the bounded sensitivity the
    // noise calibration needs. (The noise draw itself is out of scope
    // for a deterministic oracle; the clamp is the part that touches
    // the data at scale.) Emitted per type: raw vs clamped count, the
    // suppressed mass, and the largest single-user share of the clamped
    // count — the re-identification pressure metric. Plan: per
    // (type, user) counts first (partial-combinable hash aggregate — at
    // 100 TB the map side collapses each user's events before any
    // shuffle), then LEAST(c, 3) folds into the taxonomy-bounded type
    // rollup; no window, no second pass over events.
    "dp_bounded_contribution" -> QueryDef.sql(
      """WITH cu AS (
        |  SELECT event_type, user_id, CAST(count(*) AS BIGINT) AS c
        |  FROM events GROUP BY event_type, user_id),
        |agg AS (
        |  SELECT event_type, CAST(sum(c) AS BIGINT) AS n_raw,
        |    CAST(sum(least(c, 3)) AS BIGINT) AS n_clamped,
        |    CAST(count(*) AS BIGINT) AS n_users,
        |    CAST(max(least(c, 3)) AS BIGINT) AS max_user_clamped
        |  FROM cu GROUP BY event_type)
        |SELECT event_type, n_raw, n_clamped, n_users,
        |  CAST((1000000 * (n_raw - n_clamped)) // n_raw AS BIGINT) AS suppressed_ppm,
        |  CAST((1000000 * max_user_clamped) // n_clamped AS BIGINT) AS max_user_share_ppm
        |FROM agg ORDER BY event_type""".stripMargin) { (s, d) =>
      events(s, d)
        .groupBy(col("event_type"), col("user_id"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("event_type"))
        .agg(sum(col("c")).as("n_raw"),
          sum(least(col("c"), lit(3L))).as("n_clamped"),
          count(lit(1)).as("n_users"),
          max(least(col("c"), lit(3L))).as("max_user_clamped"))
        .select(col("event_type"), col("n_raw"), col("n_clamped"), col("n_users"),
          expr("CAST((1000000L * (n_raw - n_clamped)) div n_raw AS BIGINT)")
            .as("suppressed_ppm"),
          expr("CAST((1000000L * max_user_clamped) div n_clamped AS BIGINT)")
            .as("max_user_share_ppm"))
        .orderBy("event_type")
    },

    // ----- Inter-rater agreement: Cohen's κ in exact ppm -----
    // The label-quality audit before any labels train a filter model
    // (Cohen 1960; Artstein & Poesio 2008 for the corpus-annotation
    // framing): two independent binary raters over the same documents —
    // here the two cheap quality heuristics a curation pipeline
    // actually runs, a length gate (n_chars ≥ 180) and a token-shape
    // gate (≥ 30 whitespace tokens) — and the chance-corrected
    // agreement between them. Raw agreement p_o flatters raters that
    // both say "yes" to everything; κ subtracts the agreement their
    // marginals would produce by chance. All-integer derivation from
    // the 2×2 confusion counts: κ = (n·(a+d) − Σ marginal products) /
    // (n² − Σ marginal products), emitted in ppm with one // — no
    // float probabilities anywhere, so the oracle matches exactly.
    // Plan: one corpus pass → four counts → one row; the confusion
    // fold is a partial-combinable conditional-sum aggregate.
    "label_kappa" -> QueryDef.sql(
      """WITH r AS (
        |  SELECT CASE WHEN n_chars >= 180 THEN 1 ELSE 0 END AS ra,
        |    CASE WHEN len(string_split_regex(trim(lower(text)), '\s+')) >= 30
        |         THEN 1 ELSE 0 END AS rb
        |  FROM documents),
        |cm AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN ra = 1 AND rb = 1 THEN 1 ELSE 0 END) AS BIGINT) AS a,
        |    CAST(sum(CASE WHEN ra = 1 AND rb = 0 THEN 1 ELSE 0 END) AS BIGINT) AS b,
        |    CAST(sum(CASE WHEN ra = 0 AND rb = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c,
        |    CAST(sum(CASE WHEN ra = 0 AND rb = 0 THEN 1 ELSE 0 END) AS BIGINT) AS d
        |  FROM r)
        |SELECT n, a, b, c, d,
        |  CAST((1000000 * (a + d)) // n AS BIGINT) AS po_ppm,
        |  CAST((1000000 * ((a + b) * (a + c) + (c + d) * (b + d))) // (n * n) AS BIGINT)
        |    AS pe_ppm,
        |  CAST((1000000 * (n * (a + d) - ((a + b) * (a + c) + (c + d) * (b + d))))
        |    // (n * n - ((a + b) * (a + c) + (c + d) * (b + d))) AS BIGINT) AS kappa_ppm
        |FROM cm""".stripMargin) { (s, d) =>
      documents(s, d)
        .select(
          when(col("n_chars") >= 180, 1L).otherwise(0L).as("ra"),
          when(size(expr(TextQueries.toksExpr)) >= 30, 1L).otherwise(0L).as("rb"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("ra") === 1 && col("rb") === 1, 1L).otherwise(0L)).as("a"),
          sum(when(col("ra") === 1 && col("rb") === 0, 1L).otherwise(0L)).as("b"),
          sum(when(col("ra") === 0 && col("rb") === 1, 1L).otherwise(0L)).as("c"),
          sum(when(col("ra") === 0 && col("rb") === 0, 1L).otherwise(0L)).as("d"))
        .select(col("n"), col("a"), col("b"), col("c"), col("d"),
          expr("CAST((1000000L * (a + d)) div n AS BIGINT)").as("po_ppm"),
          expr("CAST((1000000L * ((a + b) * (a + c) + (c + d) * (b + d))) div (n * n) AS BIGINT)")
            .as("pe_ppm"),
          expr("""CAST((1000000L * (n * (a + d) - ((a + b) * (a + c) + (c + d) * (b + d))))
                 |  div (n * n - ((a + b) * (a + c) + (c + d) * (b + d))) AS BIGINT)""".stripMargin)
            .as("kappa_ppm"))
    },

    // ----- Unigram^0.75 negative-sampling table (Mikolov et al. 2013) -----
    // The sampling table contrastive training draws negatives from:
    // raw unigram frequency oversamples stopwords, uniform ignores
    // frequency entirely — count^(3/4) is the published compromise. The
    // one transcendental (pow 0.75) enters per token TYPE under the
    // round(…,6)-then-fix discipline; everything after — normalization,
    // the cumulative axis, and the k=1000 SYSTEMATIC pick counts — is
    // exact integer arithmetic. The picks use the closed-form stride
    // count (#{j < k : (jW)//k ∈ [cw₋₁, cw)} = min(k,⌈k·cw/W⌉) −
    // min(k,⌈k·cw₋₁/W⌉)), the same integer-exact selection
    // sample_weighted_systematic rides, so Σ picks = k exactly — no
    // RNG, no alias table, reproducible across engines and runs.
    // Vocabulary-cardinality throughout; the cumulative window runs
    // over the bounded vocab table.
    "negative_sampling_unigram" -> QueryDef.sql(
      """WITH tok AS (
        |  SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS t
        |  FROM documents),
        |v AS (SELECT t, CAST(count(*) AS BIGINT) AS cnt FROM tok GROUP BY t),
        |w AS (
        |  SELECT t, cnt,
        |    CAST(round(1000000 * round(pow(CAST(cnt AS DOUBLE), 0.75), 6)) AS BIGINT) AS wt
        |  FROM v),
        |cw AS (
        |  SELECT t, cnt, wt,
        |    sum(wt) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
        |  FROM w),
        |tot AS (SELECT CAST(sum(wt) AS BIGINT) AS tw FROM w)
        |SELECT t AS token, cnt, wt AS weight,
        |  CAST((1000000 * wt) // tw AS BIGINT) AS p_ppm,
        |  CAST(least(1000, (1000 * c + tw - 1) // tw)
        |    - least(1000, (1000 * (c - wt) + tw - 1) // tw) AS BIGINT) AS n_picks
        |FROM cw CROSS JOIN tot ORDER BY token""".stripMargin) { (s, d) =>
      val v = TextQueries.spread(documents(s, d))
        .select(explode(expr(TextQueries.toksExpr)).as("t"))
        .groupBy("t").agg(count(lit(1)).as("cnt"))
      val w = v.withColumn("wt",
        expr("CAST(round(1000000 * round(pow(CAST(cnt AS DOUBLE), 0.75), 6)) AS BIGINT)"))
      val cwW = Window.orderBy(col("t"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cw = w.withColumn("c", sum(col("wt")).over(cwW))
      val tot = w.agg(sum("wt").as("tw"))
      cw.crossJoin(broadcast(tot))
        .select(col("t").as("token"), col("cnt"), col("wt").as("weight"),
          expr("CAST((1000000L * wt) div tw AS BIGINT)").as("p_ppm"),
          expr("""CAST(least(1000L, (1000L * c + tw - 1) div tw)
                 |  - least(1000L, (1000L * (c - wt) + tw - 1) div tw) AS BIGINT)""".stripMargin)
            .as("n_picks"))
        .orderBy("token")
    },

    // ----- Skyline / Pareto frontier (Börzsönyi et al., ICDE 2001) -----
    // The multi-criteria selection operator: documents not dominated on
    // (length, vocabulary richness) — no other doc is ≥ on both and >
    // on one. The textbook block-nested-loop skyline is quadratic; the
    // scale-clean form used here exploits 2D structure: fold max(y)
    // per distinct x (a BOUNDED table — doc lengths span a fixed
    // range), take the strict-suffix max over that table (a window
    // over ≤|range| rows, never the corpus), broadcast it back, and
    // keep docs with y = their x's max AND y above every strictly-
    // longer length's best — one corpus pass, one bounded window, one
    // broadcast filter join. Ties on both axes are mutually
    // non-dominating and both survive (strictness honored).
    "skyline_docs" -> QueryDef.sql(
      """WITH t AS (
        |  SELECT doc_id, CAST(n_chars AS BIGINT) AS x,
        |    CAST(len(list_distinct(string_split_regex(trim(lower(text)), '\s+'))) AS BIGINT) AS y
        |  FROM documents),
        |px AS (SELECT x, max(y) AS my FROM t GROUP BY x),
        |thr AS (
        |  SELECT x, my,
        |    max(my) OVER (ORDER BY x RANGE BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS mgt
        |  FROM px)
        |SELECT t.doc_id, t.x AS n_chars, t.y AS n_types
        |FROM t JOIN thr ON thr.x = t.x
        |WHERE t.y = thr.my AND (thr.mgt IS NULL OR thr.mgt < t.y)
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val t = documents(s, d)
        .select(col("doc_id"), col("n_chars").cast("long").as("x"),
          size(array_distinct(expr(TextQueries.toksExpr))).cast("long").as("y"))
        .localCheckpoint()
      val px = t.groupBy("x").agg(max(col("y")).as("my"))
      val thrW = Window.orderBy(col("x"))
        .rangeBetween(1, Window.unboundedFollowing)
      val thr = px.withColumn("mgt", max(col("my")).over(thrW))
      t.join(broadcast(thr), Seq("x"))
        .filter(col("y") === col("my") &&
          (col("mgt").isNull || col("mgt") < col("y")))
        .select(col("doc_id"), col("x").as("n_chars"), col("y").as("n_types"))
        .orderBy("doc_id")
    },

    // ----- Split-conformal calibration (Vovk; Angelopoulos & Bates 2022) -----
    // The distribution-free coverage guarantee a filtering model ships
    // with: on a calibration split, take the ⌈0.9(n+1)⌉-th smallest
    // nonconformity score as the threshold; then P(test score ≤
    // threshold) ≥ 90% holds with NO assumption on the score — the
    // audit column verifies it empirically per language. The k-th order
    // statistic is an exact integer selection (rank by (score, doc_id)
    // — the tiebreak makes the threshold deterministic), ⌈·⌉ is the
    // (9(n+1)+9)//10 integer form, and coverage is a counting ratio in
    // ppm — nothing to round. Scores here are n_chars (any
    // deterministic score conformalizes; the method is the point).
    // Groups are language-bounded, so the rank windows are per-group
    // and never a global sort; a q_idx beyond the calibration size
    // clamps to the max score (finite-sample corner, documented).
    "conformal_coverage" -> QueryDef.sql(
      """WITH cal AS (
        |  SELECT lang, n_chars AS score, doc_id FROM documents WHERE doc_id % 2 = 0),
        |nc AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_cal FROM cal GROUP BY 1),
        |qi AS (
        |  SELECT lang, n_cal, (9 * (n_cal + 1) + 9) // 10 AS q_idx FROM nc),
        |rk AS (
        |  SELECT lang, score,
        |    row_number() OVER (PARTITION BY lang ORDER BY score, doc_id) AS rn
        |  FROM cal),
        |th AS (
        |  SELECT q.lang, q.n_cal, q.q_idx, r.score AS threshold
        |  FROM qi q JOIN rk r ON r.lang = q.lang
        |    AND r.rn = CASE WHEN q.q_idx > q.n_cal THEN q.n_cal ELSE q.q_idx END),
        |tst AS (
        |  SELECT lang, CAST(count(*) AS BIGINT) AS n_test FROM documents
        |  WHERE doc_id % 2 = 1 GROUP BY 1),
        |cov AS (
        |  SELECT d.lang, CAST(count(*) AS BIGINT) AS n_cov
        |  FROM documents d JOIN th ON th.lang = d.lang
        |  WHERE d.doc_id % 2 = 1 AND d.n_chars <= th.threshold GROUP BY 1)
        |SELECT t.lang, t.n_cal, t.q_idx, CAST(t.threshold AS BIGINT) AS threshold,
        |  s.n_test,
        |  CAST((1000000 * coalesce(c.n_cov, 0)) // s.n_test AS BIGINT) AS coverage_ppm
        |FROM th t JOIN tst s ON s.lang = t.lang
        |LEFT JOIN cov c ON c.lang = t.lang
        |ORDER BY t.lang""".stripMargin) { (s, d) =>
      val docs = documents(s, d).localCheckpoint()
      val cal = docs.filter(col("doc_id") % 2 === 0)
        .select(col("lang"), col("n_chars").as("score"), col("doc_id"))
      val qi = cal.groupBy("lang").agg(count(lit(1)).as("n_cal"))
        .withColumn("q_idx", expr("(9L * (n_cal + 1) + 9) div 10"))
      val rkW = Window.partitionBy(col("lang")).orderBy(col("score"), col("doc_id"))
      val rk = cal.withColumn("rn", row_number().over(rkW).cast("long"))
      val th = qi.join(rk, Seq("lang"))
        .filter(col("rn") === when(col("q_idx") > col("n_cal"), col("n_cal"))
          .otherwise(col("q_idx")))
        .select(col("lang"), col("n_cal"), col("q_idx"),
          col("score").cast("long").as("threshold"))
      val tst = docs.filter(col("doc_id") % 2 === 1)
        .groupBy("lang").agg(count(lit(1)).as("n_test"))
      val cov = docs.filter(col("doc_id") % 2 === 1)
        .join(broadcast(th.select(col("lang"), col("threshold"))), Seq("lang"))
        .filter(col("n_chars") <= col("threshold"))
        .groupBy("lang").agg(count(lit(1)).as("n_cov"))
      th.join(tst, Seq("lang")).join(cov, Seq("lang"), "left")
        .select(col("lang"), col("n_cal"), col("q_idx"), col("threshold"),
          col("n_test"),
          expr("CAST((1000000L * coalesce(n_cov, 0L)) div n_test AS BIGINT)")
            .as("coverage_ppm"))
        .orderBy("lang")
    },

    // ----- Simpson diversity of the per-source token distribution -----
    // The diversity audit beside the drift family: Simpson's λ =
    // Σ n_t(n_t−1)/(N(N−1)) — the probability two tokens drawn without
    // replacement from a source are the same type — is the
    // concentration index that needs NO logarithm (Shannon does), so it
    // is exact in ppm by construction. 1−λ is the diversity; its
    // reciprocal is the Hill number of order 2 ("effective vocabulary
    // size" — how many equally-common types would look this diverse),
    // emitted in milli-units. A template-spam source scores high λ /
    // low effective vocabulary long before exact dedup can prove
    // anything. Plan: one token fold per (source, type)
    // (vocabulary-cardinality), one per-source fold — both
    // partial-combinable hash aggregates.
    "source_diversity_simpson" -> QueryDef.sql(
      """WITH tok AS (
        |  SELECT source, unnest(string_split_regex(trim(lower(text)), '\s+')) AS t
        |  FROM documents WHERE source IS NOT NULL),
        |c AS (SELECT source, t, CAST(count(*) AS BIGINT) AS n FROM tok GROUP BY 1, 2),
        |agg AS (
        |  SELECT source, CAST(sum(n) AS BIGINT) AS nn,
        |    CAST(sum(n * (n - 1)) AS BIGINT) AS ss,
        |    CAST(count(*) AS BIGINT) AS n_types
        |  FROM c GROUP BY 1)
        |SELECT source, nn AS n_tokens, n_types,
        |  CAST((1000000 * ss) // (nn * (nn - 1)) AS BIGINT) AS lambda_ppm,
        |  CAST(1000000 - (1000000 * ss) // (nn * (nn - 1)) AS BIGINT) AS diversity_ppm,
        |  CAST((1000 * nn * (nn - 1)) // ss AS BIGINT) AS eff_types_milli
        |FROM agg ORDER BY source""".stripMargin) { (s, d) =>
      documents(s, d).filter(col("source").isNotNull)
        .select(col("source"), explode(expr(TextQueries.toksExpr)).as("t"))
        .groupBy("source", "t").agg(count(lit(1)).as("n"))
        .groupBy("source")
        .agg(sum("n").as("nn"), sum(expr("n * (n - 1)")).as("ss"),
          count(lit(1)).as("n_types"))
        .select(col("source"), col("nn").as("n_tokens"), col("n_types"),
          expr("CAST((1000000L * ss) div (nn * (nn - 1)) AS BIGINT)").as("lambda_ppm"),
          expr("CAST(1000000L - (1000000L * ss) div (nn * (nn - 1)) AS BIGINT)")
            .as("diversity_ppm"),
          expr("CAST((1000L * nn * (nn - 1)) div ss AS BIGINT)").as("eff_types_milli"))
        .orderBy("source")
    },

    // ----- Stupid Backoff bigram LM scoring (Brants et al., EMNLP 2007) -----
    // The LM-quality ladder's second rung: text_lm_score buckets tokens
    // by unigram frequency; this scores each held-out document under a
    // BIGRAM model with the backoff large-scale LMs actually shipped —
    // score(w|w₋₁) = count(w₋₁w)/count(w₋₁) when the bigram was seen in
    // training, else α·count(w)/N with α = 0.4 (no normalization — the
    // paper's point is that at corpus scale the unnormalized ratio
    // ranks as well as Kneser-Ney at a fraction of the cost). Train =
    // the 90% doc split, score = the held-out 10%, so backoff REALLY
    // fires (same-corpus scoring would find every bigram). α = 0.4
    // enters as the exact rational 400000/1e6 — one integer // per
    // token, never a float. Scale shape: the model tables are
    // vocabulary-/bigram-cardinality (Heaps-sublinear) equi-join sides
    // keyed on the token strings — shuffle joins by design (a bigram
    // table outgrows broadcast long before 100 TB); the scored stream
    // is held-out-sized; one (doc_id) fold ends it.
    "text_lm_backoff" -> QueryDef.sql(
      """WITH tk AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS tk
        |  FROM documents),
        |ttoks AS (SELECT unnest(tk) AS t FROM tk WHERE doc_id % 10 <> 0),
        |uni AS (SELECT t, CAST(count(*) AS BIGINT) AS n FROM ttoks GROUP BY t),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM ttoks),
        |tbg AS (
        |  SELECT unnest([tk[i-1] || ' ' || tk[i] for i in generate_series(2, len(tk))]) AS b
        |  FROM tk WHERE doc_id % 10 <> 0 AND len(tk) >= 2),
        |bgc AS (SELECT b, CAST(count(*) AS BIGINT) AS n FROM tbg GROUP BY b),
        |sg AS (
        |  SELECT doc_id,
        |    unnest([tk[i-1] || ' ' || tk[i] for i in generate_series(2, len(tk))]) AS b
        |  FROM tk WHERE doc_id % 10 = 0 AND len(tk) >= 2),
        |sc AS (
        |  SELECT g.doc_id,
        |    CASE WHEN c.n IS NOT NULL THEN (1000000 * c.n) // up.n
        |         ELSE (400000 * coalesce(uc.n, 0)) // nn.n END AS p_ppm,
        |    CASE WHEN c.n IS NULL THEN 1 ELSE 0 END AS backed
        |  FROM sg g
        |  LEFT JOIN bgc c ON c.b = g.b
        |  LEFT JOIN uni up ON up.t = split_part(g.b, ' ', 1)
        |  LEFT JOIN uni uc ON uc.t = split_part(g.b, ' ', 2)
        |  CROSS JOIN nn)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |  CAST(sum(p_ppm) // count(*) AS BIGINT) AS mean_p_ppm,
        |  CAST((1000000 * sum(backed)) // count(*) AS BIGINT) AS backoff_ppm
        |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      val tk = TextQueries.spread(documents(s, d))
        .select(col("doc_id"), expr(TextQueries.toksExpr).as("tk"))
        .localCheckpoint()
      val train = tk.filter(col("doc_id") % 10 =!= 0)
      val ttoks = train.select(explode(col("tk")).as("t"))
      val uni = ttoks.groupBy("t").agg(count(lit(1)).as("n"))
      val nn = ttoks.agg(count(lit(1)).as("nt"))
      def bigrams(in: org.apache.spark.sql.DataFrame) =
        in.filter(size(col("tk")) >= 2)
          .select(col("doc_id"), explode(expr(
            "transform(sequence(2, size(tk)), i -> " +
              "concat(element_at(tk, i - 1), ' ', element_at(tk, i)))")).as("b"))
      val bgc = bigrams(train).groupBy("b").agg(count(lit(1)).as("bn"))
      val sg = bigrams(tk.filter(col("doc_id") % 10 === 0))
      sg.join(bgc, Seq("b"), "left")
        .join(uni.select(col("t"), col("n").as("upn")),
          expr("t = split_part(b, ' ', 1)"), "left")
        .drop("t")
        .join(uni.select(col("t"), col("n").as("ucn")),
          expr("t = split_part(b, ' ', 2)"), "left")
        .drop("t")
        .crossJoin(broadcast(nn))
        .select(col("doc_id"),
          expr("CASE WHEN bn IS NOT NULL THEN (1000000L * bn) div upn " +
            "ELSE (400000L * coalesce(ucn, 0L)) div nt END").as("p_ppm"),
          when(col("bn").isNull, 1L).otherwise(0L).as("backed"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"), sum("p_ppm").as("sp"),
          sum("backed").as("sb"))
        .select(col("doc_id"), col("n_bigrams"),
          expr("CAST(sp div n_bigrams AS BIGINT)").as("mean_p_ppm"),
          expr("CAST((1000000L * sb) div n_bigrams AS BIGINT)").as("backoff_ppm"))
        .orderBy("doc_id")
    },

    // ----- Fellegi–Sunter linkage: the agreement-pattern weight table -----
    // Probabilistic record linkage (Fellegi & Sunter, JASA 1969) over
    // the LSH-blocked candidate pairs: each pair's (lang, source,
    // length-band) agreement pattern gets the likelihood ratio
    // Π_i m_i/u_i (agree) · (1−m_i)/(1−u_i) (disagree) — the score that
    // decides link / possible / non-link. The m-probabilities are
    // estimated from the candidate set itself (the blocked pairs are
    // the tentative-match sample — the standard bootstrap before EM);
    // the u-probabilities are the random-agreement rates Σf_v²/N², pure
    // value-concentration counts. Exactness: every m and u is a ratio
    // of BIGINT counts; each factor is materialized in ppm with one //,
    // and the pattern score is the HUGEINT/DECIMAL product of the three
    // factors re-scaled — logs (the textbook spelling) never execute,
    // so the oracle matches bit-for-bit. Output is the 2³-pattern
    // weight table with pair counts — constant cardinality.
    // Scale shape: blocking IS the LSH band store (never all-pairs);
    // the m/u scalars are one aggregate each over bounded tables; the
    // pattern fold is a 3-bit hash aggregate over candidate pairs.
    "linkage_fs_patterns" -> QueryDef.sql(
      s"""WITH ${MinhashBandsCte},
         |pairs AS ($BandedPairsSelect),
         |dd AS (SELECT doc_id, lang, source, n_chars // 100 AS band FROM documents),
         |fl AS (
         |  SELECT CASE WHEN a.lang = b.lang THEN 1 ELSE 0 END AS agree_lang,
         |    CASE WHEN a.source = b.source THEN 1 ELSE 0 END AS agree_source,
         |    CASE WHEN a.band = b.band THEN 1 ELSE 0 END AS agree_band
         |  FROM pairs p JOIN dd a ON a.doc_id = p.doc_a JOIN dd b ON b.doc_id = p.doc_b),
         |mm AS (
         |  SELECT CAST(count(*) AS BIGINT) AS nm,
         |    CAST(sum(agree_lang) AS BIGINT) AS am1,
         |    CAST(sum(agree_source) AS BIGINT) AS am2,
         |    CAST(sum(agree_band) AS BIGINT) AS am3
         |  FROM fl),
         |uu AS (
         |  SELECT (SELECT CAST(count(*) AS BIGINT) FROM dd) AS nn,
         |    (SELECT CAST(sum(n * n) AS BIGINT) FROM
         |      (SELECT count(*) AS n FROM dd GROUP BY lang)) AS au1,
         |    (SELECT CAST(sum(n * n) AS BIGINT) FROM
         |      (SELECT count(*) AS n FROM dd GROUP BY source)) AS au2,
         |    (SELECT CAST(sum(n * n) AS BIGINT) FROM
         |      (SELECT count(*) AS n FROM dd GROUP BY band)) AS au3),
         |sc AS (
         |  SELECT nm,
         |    CAST((1000000 * am1 * nn * nn) // (nm * au1) AS BIGINT) AS r1,
         |    CAST((1000000 * am2 * nn * nn) // (nm * au2) AS BIGINT) AS r2,
         |    CAST((1000000 * am3 * nn * nn) // (nm * au3) AS BIGINT) AS r3,
         |    CAST((1000000 * (nm - am1) * nn * nn) // (nm * (nn * nn - au1)) AS BIGINT) AS rb1,
         |    CAST((1000000 * (nm - am2) * nn * nn) // (nm * (nn * nn - au2)) AS BIGINT) AS rb2,
         |    CAST((1000000 * (nm - am3) * nn * nn) // (nm * (nn * nn - au3)) AS BIGINT) AS rb3
         |  FROM mm CROSS JOIN uu),
         |pat AS (
         |  SELECT agree_lang, agree_source, agree_band,
         |    CAST(count(*) AS BIGINT) AS n_pairs
         |  FROM fl GROUP BY 1, 2, 3)
         |SELECT CAST(p.agree_lang AS BIGINT) AS agree_lang,
         |  CAST(p.agree_source AS BIGINT) AS agree_source,
         |  CAST(p.agree_band AS BIGINT) AS agree_band, p.n_pairs,
         |  CAST((CAST(CASE WHEN p.agree_lang = 1 THEN s.r1 ELSE s.rb1 END AS HUGEINT)
         |    * (CASE WHEN p.agree_source = 1 THEN s.r2 ELSE s.rb2 END)
         |    * (CASE WHEN p.agree_band = 1 THEN s.r3 ELSE s.rb3 END))
         |    // 1000000000000 AS BIGINT) AS score_ppm
         |FROM pat p CROSS JOIN sc s
         |ORDER BY agree_lang, agree_source, agree_band""".stripMargin) { (s, d) =>
      val pairs = SignatureStore.ensureK8Pairs(s, d)
      val dd = documents(s, d)
        .select(col("doc_id"), col("lang"), col("source"),
          expr("n_chars div 100").as("band"))
        .localCheckpoint()
      val fl = pairs
        .join(dd.select(col("doc_id").as("doc_a"), col("lang").as("la"),
          col("source").as("sa"), col("band").as("ba")), Seq("doc_a"))
        .join(dd.select(col("doc_id").as("doc_b"), col("lang").as("lb"),
          col("source").as("sb"), col("band").as("bb")), Seq("doc_b"))
        .select(
          when(col("la") === col("lb"), 1L).otherwise(0L).as("agree_lang"),
          when(col("sa") === col("sb"), 1L).otherwise(0L).as("agree_source"),
          when(col("ba") === col("bb"), 1L).otherwise(0L).as("agree_band"))
        .localCheckpoint()
      val mm = fl.agg(count(lit(1)).as("nm"), sum("agree_lang").as("am1"),
        sum("agree_source").as("am2"), sum("agree_band").as("am3"))
      def auOf(field: String, out: String) =
        dd.groupBy(field).agg(count(lit(1)).as("n"))
          .agg(sum(col("n") * col("n")).as(out))
      val uu = dd.agg(count(lit(1)).as("nn"))
        .crossJoin(auOf("lang", "au1")).crossJoin(auOf("source", "au2"))
        .crossJoin(auOf("band", "au3"))
      val sc = mm.crossJoin(uu).select(col("nm"),
        expr("CAST((1000000L * am1 * nn * nn) div (nm * au1) AS BIGINT)").as("r1"),
        expr("CAST((1000000L * am2 * nn * nn) div (nm * au2) AS BIGINT)").as("r2"),
        expr("CAST((1000000L * am3 * nn * nn) div (nm * au3) AS BIGINT)").as("r3"),
        expr("CAST((1000000L * (nm - am1) * nn * nn) div (nm * (nn * nn - au1)) AS BIGINT)").as("rb1"),
        expr("CAST((1000000L * (nm - am2) * nn * nn) div (nm * (nn * nn - au2)) AS BIGINT)").as("rb2"),
        expr("CAST((1000000L * (nm - am3) * nn * nn) div (nm * (nn * nn - au3)) AS BIGINT)").as("rb3"))
      fl.groupBy("agree_lang", "agree_source", "agree_band")
        .agg(count(lit(1)).as("n_pairs"))
        .crossJoin(broadcast(sc))
        .select(col("agree_lang"), col("agree_source"), col("agree_band"),
          col("n_pairs"),
          expr("""CAST((CAST(CASE WHEN agree_lang = 1 THEN r1 ELSE rb1 END AS DECIMAL(38,0))
                 |  * (CASE WHEN agree_source = 1 THEN r2 ELSE rb2 END)
                 |  * (CASE WHEN agree_band = 1 THEN r3 ELSE rb3 END))
                 |  div 1000000000000L AS BIGINT)""".stripMargin).as("score_ppm"))
        .orderBy("agree_lang", "agree_source", "agree_band")
    },
  )

  /** The IPF fold `mix_raking_ipf` runs on its bounded cell table:
    * 4 row+column double-sweeps toward uniform row/column margins at
    * ppm fixed point, truncating division per rescale (matching the
    * oracle's `//`). Extracted for planted-table property testing
    * (margin convergence, mass preservation). */
  private[operators] def ipfWeights(
      cells: Seq[(String, String, Long)]): Seq[(String, String, Long, Long)] = {
    val m = cells.map(_._3).sum
    val nl = cells.map(_._1).distinct.length
    val ns = cells.map(_._2).distinct.length
    val trow = BigInt(1000000L) * m / nl
    val tcol = BigInt(1000000L) * m / ns
    var w = cells.map { case (l, sr, n) => ((l, sr), (n, BigInt(1000000))) }.toMap
    (1 to 4).foreach { _ =>
      val rowCur = w.groupBy(_._1._1).map { case (l, v) =>
        l -> v.map { case (_, (n, wi)) => BigInt(n) * wi }.sum
      }
      w = w.map { case ((l, sr), (n, wi)) =>
        ((l, sr), (n, wi * trow / rowCur(l)))
      }
      val colCur = w.groupBy(_._1._2).map { case (sr, v) =>
        sr -> v.map { case (_, (n, wi)) => BigInt(n) * wi }.sum
      }
      w = w.map { case ((l, sr), (n, wi)) =>
        ((l, sr), (n, wi * tcol / colCur(sr)))
      }
    }
    w.toSeq.map { case ((l, sr), (n, wi)) => (l, sr, n, wi.toLong) }
      .sortBy(t => (t._1, t._2))
  }

  /** Oracle for `mix_raking_ipf`: 4 row+column IPF double-sweeps
    * unrolled as MATERIALIZED CTEs (the attribution_markov lesson —
    * plain CTEs re-inline the upstream tree per reference). */
  private lazy val IpfRakingSql: String = {
    val steps = (1 to 4).map { i =>
      val prev = if (i == 1) "w0" else s"c${i - 1}"
      s""",
         |r$i AS MATERIALIZED (
         |  SELECT w.lang, w.source, w.n,
         |    CAST((CAST(w.w AS HUGEINT) * t.trow) // cur.c AS BIGINT) AS w
         |  FROM $prev w
         |  JOIN (SELECT lang, CAST(sum(n * w) AS HUGEINT) AS c FROM $prev
         |        GROUP BY 1) cur ON cur.lang = w.lang
         |  CROSS JOIN tgt t),
         |c$i AS MATERIALIZED (
         |  SELECT w.lang, w.source, w.n,
         |    CAST((CAST(w.w AS HUGEINT) * t.tcol) // cur.c AS BIGINT) AS w
         |  FROM r$i w
         |  JOIN (SELECT source, CAST(sum(n * w) AS HUGEINT) AS c FROM r$i
         |        GROUP BY 1) cur ON cur.source = w.source
         |  CROSS JOIN tgt t)""".stripMargin
    }.mkString
    s"""WITH cells AS MATERIALIZED (
       |  SELECT lang, source, CAST(count(*) AS BIGINT) AS n
       |  FROM documents GROUP BY 1, 2),
       |dims AS (
       |  SELECT CAST(sum(n) AS BIGINT) AS m,
       |    CAST(count(DISTINCT lang) AS BIGINT) AS nl,
       |    CAST(count(DISTINCT source) AS BIGINT) AS ns
       |  FROM cells),
       |tgt AS (SELECT (1000000 * m) // nl AS trow, (1000000 * m) // ns AS tcol
       |  FROM dims),
       |w0 AS (SELECT lang, source, n, CAST(1000000 AS BIGINT) AS w
       |  FROM cells)$steps
       |SELECT lang, source, n, w AS w_ppm FROM c4
       |ORDER BY lang, source""".stripMargin
  }
}
