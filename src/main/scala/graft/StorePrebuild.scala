package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import graft.operators.SignatureStore._

/** One-time store builds shared by [[Bench]] (untimed prebuild, so the
  * *_stored queries measure the amortized READ path) and [[Verify]]
  * (serial prebuild BEFORE the parallel query dumps — the ensure*
  * builders are check-then-write and two concurrent queries racing the
  * same build would double-write the store directory). Every public
  * `SignatureStore.ensure*` family a query reads is built here, so after
  * `all` returns each store access is a read. */
object StorePrebuild {

  /** Read each store once through the noop sink (the build itself ran in
    * the ensure* call that produced the frame). */
  private def read(dfs: DataFrame*): Unit =
    dfs.foreach(_.write.format("noop").mode("overwrite").save())

  def all(spark: SparkSession, sfDir: String): Unit = {
    // dedup_minhash_lsh_stored measures the amortized read path (the
    // signature computation itself is timed live via dedup_minhash_lsh)
    read(ensureMinhashBands(spark, sfDir))
    // likewise the cluster-assignment artifact corpus_curation consumes
    // (the fixpoint itself is timed live by dedup_clusters)
    read(ensureClusters(spark, sfDir))
    // and the simhash / span / IVF artifacts behind the other stored
    // paths (their live builds are timed by dedup_simhash /
    // dedup_substring_removal / ann_ivf)
    read(ensureSimhash(spark, sfDir))
    // candidate-pair store (21st family): the banded self-join is timed
    // live by dedup_minhash_lsh / dedup_minhash_oph; every other
    // consumer (clusters, graph family, source matrix, Venn,
    // capture–recapture) measures the amortized store-read path
    read(ensureK8Pairs(spark, sfDir))
    read(ensureOphPairs(spark, sfDir))
    read(ensureSpans(spark, sfDir))
    // line registry behind dedup_lines_stored (live build timed by
    // dedup_lines) and the counted-triple artifact behind
    // o6_transitions_stored / o7_top_paths_stored (the user-keyed
    // window is timed live by o6/o7)
    read(ensureLineRegistry(spark, sfDir))
    read(ensureEventTransitions(spark, sfDir))
    // phrase-bigram registry behind phrase_search_stored (the live
    // positional pass is timed by phrase_search)
    read(ensurePhraseBigrams(spark, sfDir))
    // tokenizer artifacts behind bpe_encode_docs_stored /
    // unigram_encode_docs_stored (training is timed live by
    // bpe_train_merges / unigram_train_vocab)
    read(ensureBpeMerges(spark, sfDir))
    read(ensureUnigramModel(spark, sfDir))
    // image fingerprints behind mm_image_phash_stored (the live
    // decode+hash is timed by mm_image_phash)
    read(ensureImagePhash(spark, sfDir))
    // sketch stores (per-day KMV, count-min, HLL, quantile bins, Bloom,
    // Misra–Gries) and the frame-diff store behind the shot-boundary and
    // keyframe reports: queries reach them only through ensure*, so
    // unbuilt they would be first built by whichever query runs first
    read(ensureDailyKmv(spark, sfDir))
    read(ensureCountMin(spark, sfDir))
    read(ensureHll(spark, sfDir))
    read(ensureQuantileBins(spark, sfDir))
    read(ensureBloom(spark, sfDir))
    val (counters, lambdas) = ensureHeavyHitters(spark, sfDir)
    read(counters, lambdas)
    read(ensureFrameDiffs(spark, sfDir))
    // bm25 postings artifact behind bm25_search_stored (the live build is
    // timed by bm25_search)
    val (postings, doclens) = ensureBm25(spark, sfDir)
    read(postings, doclens)
    // ranked-results face (22nd): retrieval is timed live by
    // bm25_search and from the postings store by bm25_search_stored;
    // the eval consumers (snippets, RBO, fusion, PRF, hard negatives,
    // packing) measure presentation cost over the persisted top-10
    read(ensureBm25TopK(spark, sfDir))

    val e = graft.util.Tables.embeddings(spark, sfDir).select("vec_id", "embedding")
    val centroids = e.orderBy("vec_id").limit(16)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cv"))
    val assign = ensureIvfAssignments(spark, sfDir,
      () => operators.VectorQueries.ivfAssign(e, centroids))
    read(assign)
    // LSH bucket artifact behind ann_lsh_bucketed_stored (the live
    // sign projection is timed by ann_lsh_bucketed)
    read(ensureLshBuckets(spark, sfDir, () => operators.LshPlanes.bandsOf(e)))
    // int8 artifact behind ann_ivf_q8, so the query times the
    // quantized SEARCH path, not the one-time quantization build
    read(ensureQuantizedVectors(spark, sfDir,
      () => operators.VectorQueries.quantizeInt8(e)))
    // PQ codebook/code artifacts (flat + residual): training is timed
    // live by ann_pq_adc / ann_ivfpq_residual; the stored twins and
    // the recall grader time the read-and-search path
    import operators.PqQueries._
    val (cb, codes) = ensurePqStore(spark, sfDir,
      () => trainCodebook(e),
      cbStored => packCodes(pqAssign(scaledSub(e), cbStored)))
    read(cb, codes)
    val csub = centroidSub(centroids).localCheckpoint()
    val (rcb, rcodes) = ensureResidualPqStore(spark, sfDir,
      () => trainCodebookOn(e, residualSub(scaledSub(e), assign, csub)),
      cbStored => packCodes(pqAssign(
        residualSub(scaledSub(e), assign, csub), cbStored)))
    read(rcb, rcodes)
  }
}
