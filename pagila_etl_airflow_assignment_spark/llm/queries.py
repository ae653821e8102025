"""Registered llm.* queries: each a `queries()` entry with a DuckDB oracle
where SQL-expressible (rows-only otherwise, per the driver contract)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..sources.parquet import load_table, spread
from . import corpus_stats, curation, dedup, multimodal, novelty, packing, sampling, similarity, text, udtf_ops
from . import embeddings as embeddings_mod
from . import vectorized

ANN_QUERY_IDS = [0, 1, 2, 3, 4]


# --- text analysis ------------------------------------------------------------


@register("text_token_counts", oracle=text.TOKEN_COUNTS_SQL)
def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace and BPE-ish regex token counts per document."""
    return text.token_counts(load_table(spark, sf_dir, "documents"))


@register("text_quality_scores", oracle=text.QUALITY_SCORES_SQL)
def q_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length / punctuation / stopword quality features + composite keep flag."""
    return text.quality_scores(load_table(spark, sf_dir, "documents"))


@register("text_lang_id", oracle=text.LANG_ID_SQL)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language ID via stopword-lexicon and CJK character-class heuristics."""
    return text.lang_id(load_table(spark, sf_dir, "documents"))


@register("text_fingerprints", oracle=text.FINGERPRINTS_SQL)
def q_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-document md5 + Karp-Rabin rolling-hash fingerprints."""
    return text.fingerprints(load_table(spark, sf_dir, "documents"))


@register("text_winnowing", oracle=text.winnowing_fingerprints_sql())
def q_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash winnowing fingerprint set per document."""
    return text.winnowing_fingerprints(spread(load_table(spark, sf_dir, "documents")))


@register("text_chunking", oracle=text.chunk_documents_sql())
def q_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping 64-token/32-stride pretraining chunks per document (narrow
    array pipeline + posexplode; zero data shuffles)."""
    return text.chunk_documents(load_table(spark, sf_dir, "documents"))


@register("text_repetition_signals", oracle=corpus_stats.repetition_signals_sql())
def q_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filters: top-word fraction, duplicate 2-/3-gram
    fractions per document (all shuffles keyed by doc_id)."""
    return corpus_stats.repetition_signals(spread(load_table(spark, sf_dir, "documents")))


@register("vocab_top_ngrams", oracle=corpus_stats.vocab_top_ngrams_sql())
def q_vocab_top_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary: top-25 unigrams/bigrams via distributed top-k
    (TakeOrderedAndProject — no global sort of the term dictionary)."""
    return corpus_stats.vocab_top_ngrams(spread(load_table(spark, sf_dir, "documents")))


@register("text_decontaminate", oracle=corpus_stats.benchmark_overlap_sql())
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: corpus docs sharing a word 5-gram with the
    held-out benchmark split (broadcast bench side, max_df-capped corpus)."""
    return corpus_stats.benchmark_overlap(spread(load_table(spark, sf_dir, "documents")))


@register("text_curation_pipeline", oracle=curation.curation_decisions_sql())
def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation decision: keep/reject + first-failing-filter
    lineage per document (dedup -> quality -> lang -> repetition), one plan."""
    return curation.curation_decisions(spread(load_table(spark, sf_dir, "documents")))


@register("text_tfidf_topk", oracle=corpus_stats.tfidf_topk_sql())
def q_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF keywords per document (df computed on the aggregated
    posting relation; corpus size broadcast, never collected)."""
    return corpus_stats.tfidf_topk(spread(load_table(spark, sf_dir, "documents")))


@register("text_unigram_logprob", oracle=corpus_stats.unigram_logprob_sql())
def q_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style fluency proxy: per-doc mean -ln p(word) under the corpus's
    own unigram LM (term-keyed join back to the gram stream)."""
    return corpus_stats.unigram_logprob(spread(load_table(spark, sf_dir, "documents")))


# --- dedup --------------------------------------------------------------------


@register("dedup_exact", oracle=dedup.DEDUP_EXACT_SQL)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate groups by md5 fingerprint of normalized text (one hash shuffle)."""
    return dedup.dedup_exact(load_table(spark, sf_dir, "documents"))


@register("dedup_incremental_new_docs", oracle=dedup.incremental_new_docs_sql())
def q_incremental_new_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """New-batch-vs-corpus ingest dedup: LEFT ANTI join on content
    fingerprint + in-batch min-id dedup."""
    return dedup.incremental_new_docs(load_table(spark, sf_dir, "documents"))


@register("dedup_incremental_bloom", oracle=dedup.incremental_new_docs_sql())
def q_incremental_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-pre-filtered ingest dedup: broadcast bitmap drops definitely-new
    docs before the exact anti join. Same oracle as the exact form — the Bloom
    path is pinned RESULT-identical; only the plan differs (candidates-only
    anti join)."""
    return dedup.incremental_new_docs_bloom(load_table(spark, sf_dir, "documents"))


@register(
    "dedup_incremental_minhash", oracle=dedup.incremental_minhash_new_docs_sql()
)
def q_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAR-dup ingest dedup: batch docs kept only if no corpus doc shares an
    LSH band and verifies >= threshold exact Jaccard (batch-vs-corpus bucket
    join, hot corpus buckets capped, candidates-only verification)."""
    return dedup.incremental_minhash_new_docs(load_table(spark, sf_dir, "documents"))


@register("dedup_common_substrings", oracle=dedup.common_substring_spans_sql())
def q_common_substrings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level dedup: shared-passage spans between doc pairs via
    positioned winnowing fingerprints aligned on a constant offset delta."""
    return dedup.common_substring_spans(spread(load_table(spark, sf_dir, "documents")))


@register("text_repeated_span_coverage", oracle=dedup.repeated_span_coverage_sql())
def q_repeated_span_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc merged coverage of cross-doc repeated passages (island-merge
    over common_substring_spans) — the quantity substring-dedup policies
    threshold on."""
    return dedup.repeated_span_coverage(spread(load_table(spark, sf_dir, "documents")))


@register("dedup_ngram_jaccard", oracle=dedup.ngram_jaccard_pairs_sql())
def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All near-dup pairs by word-shingle Jaccard via posting lists (df=1 early drop, max_df cap)."""
    return dedup.ngram_jaccard_pairs(spread(load_table(spark, sf_dir, "documents")))


@register("dedup_minhash_signatures", oracle=dedup.minhash_signatures_sql())
def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-permutation MinHash signature per document (explode + k min aggregates)."""
    return dedup.minhash_signatures(load_table(spark, sf_dir, "documents"))


@register("dedup_minhash_lsh", oracle=dedup.minhash_lsh_pairs_sql())
def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH is recall-approximate vs exact all-pairs, but DETERMINISTIC given
    the md5-derived hash family — so the full pipeline (banding, bucket join,
    exact-Jaccard verify) has an exact DuckDB oracle; the recall property is
    pinned separately in tests/test_llm.py."""
    return dedup.minhash_lsh_pairs(spread(load_table(spark, sf_dir, "documents")))


@register("dedup_simhash_signatures", oracle=dedup.simhash_signatures_sql())
def q_simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """48-bit SimHash signature per document (per-token hash votes, one groupBy)."""
    return dedup.simhash_signatures(load_table(spark, sf_dir, "documents"))


@register("dedup_simhash_pairs", oracle=dedup.simhash_near_pairs_sql(max_hamming=3))
def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-pairs within Hamming radius 3 via 12-bit chunk banding."""
    # radius 3 (not the default 6): the templated fixture text clusters tightly
    # in simhash space — radius 6 emits ~4.8M pairs at sf0.1, radius 3 keeps
    # the output a near-dup candidate set rather than a cross product.
    # Banding is deterministic integer arithmetic → exact DuckDB oracle.
    return dedup.simhash_near_pairs(load_table(spark, sf_dir, "documents"), max_hamming=3)


# threshold 0.35 is calibrated to the synthetic fixtures: non-trivial matches
# at every sf (14 pairs @ sf0.001, 26 @ sf0.01) where 0.5 returns zero rows.
@register("dedup_embedding_cosine", oracle=dedup.embedding_near_pairs_sql(0.35))
def q_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-blocked embedding near-duplicate pairs above a cosine threshold."""
    return dedup.embedding_near_pairs(spread(load_table(spark, sf_dir, "embeddings")), 0.35)


@register(
    "dedup_clusters",
    oracle=dedup.dedup_clusters_sql(dedup.ngram_jaccard_pairs_sql(threshold=0.1)),
)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs resolved to connected-component clusters (min-doc_id
    canonical label per component; iterative label propagation vs the
    oracle's recursive-CTE transitive closure). Threshold 0.1 yields
    multi-edge components on the fixtures, exercising transitivity."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.1)
    return dedup.dedup_clusters(docs, pairs)


@register(
    "dedup_clusters_star",
    oracle=dedup.dedup_clusters_sql(dedup.ngram_jaccard_pairs_sql(threshold=0.1)),
)
def q_dedup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same clusters via the alternating large-star/small-star algorithm —
    O(log n) rounds regardless of component diameter (the adversarial-
    topology path beside dedup_clusters' diameter-round propagation); both
    pinned to the identical recursive-CTE oracle."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.1)
    return dedup.dedup_clusters_twostar(docs, pairs)


@register("sampling_split_assign", oracle=sampling.split_assign_sql())
def q_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-stable 80/10/10 train/val/test assignment by md5 bucket."""
    return sampling.split_assign(load_table(spark, sf_dir, "documents"))


@register("sampling_stratified", oracle=sampling.stratified_sample_sql())
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 10% stratified sample per `source` stratum."""
    return sampling.stratified_sample(load_table(spark, sf_dir, "documents"))


@register("sampling_mixture_weighted", oracle=sampling.mixture_weighted_sample_sql())
def q_mixture_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest deterministic subsample hitting a 50/30/20 target domain
    mixture (integer quota arithmetic, md5-ordered within domain)."""
    return sampling.mixture_weighted_sample(load_table(spark, sf_dir, "documents"))


@register("text_pii_scrub", oracle=text.PII_SCRUB_SQL)
def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Email/phone redaction with injected synthetic PII (h12-style)."""
    return text.pii_scrub(load_table(spark, sf_dir, "documents"))


# --- similarity search --------------------------------------------------------


@register("ann_bruteforce_topk", oracle=similarity.brute_force_topk_sql(ANN_QUERY_IDS))
def q_ann_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k per query vector (broadcast query set, per-query rank window)."""
    return similarity.brute_force_topk(
        load_table(spark, sf_dir, "embeddings"), ANN_QUERY_IDS
    )


@register("ann_lsh_topk", oracle=similarity.lsh_bucket_topk_sql(ANN_QUERY_IDS))
def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate in recall, deterministic in output: md5-derived hyperplanes
    are embedded as identical float literals in both engines, so the full
    bucket→candidate→score pipeline has an exact DuckDB oracle; recall vs
    brute force is additionally pinned by tests/test_llm.py."""
    return similarity.lsh_bucket_topk(
        spread(load_table(spark, sf_dir, "embeddings")), ANN_QUERY_IDS
    )


@register("ann_ivf_topk", oracle=similarity.ivf_topk_sql(ANN_QUERY_IDS))
def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic IVF (md5-ordered centroid sample, argmax assignment) →
    exact DuckDB oracle; recall pinned by tests/test_llm.py."""
    return similarity.ivf_topk(load_table(spark, sf_dir, "embeddings"), ANN_QUERY_IDS)


# --- multimodal ---------------------------------------------------------------


@register(
    "multimodal_features",
    oracle="""
        WITH h AS (
            SELECT doc_id, hex(encode(text)) AS hx,
                   octet_length(encode(text)) AS n
            FROM documents
        )
        SELECT doc_id AS media_id,
               n AS n_bytes,
               CAST(list_sum([('0x' || substr(hx, 2*i-1, 2))::BIGINT
                              FOR i IN generate_series(1, n)])
                    // greatest(n, 1) AS BIGINT) AS byte_mean,
               lower(substr(hx, 1, 8)) AS header_hex
        FROM h
    """,
)
def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-level feature extraction over binary blobs (Arrow-batched mapInPandas)."""
    media = multimodal.media_from_documents(load_table(spark, sf_dir, "documents"))
    return multimodal.extract_features(media)


@register(
    "multimodal_frame_sample",
    oracle="""
        WITH v AS (
            SELECT doc_id AS media_id, encode(text) AS payload,
                   CAST(n_chars * 40 AS INT) AS dur
            FROM documents WHERE doc_id % 3 = 2
        ),
        f AS (
            SELECT media_id, payload, dur,
                   unnest(generate_series(0, greatest(dur // 1000, 1) - 1)) AS i
            FROM v
        )
        SELECT media_id,
               CAST(i AS INT) AS frame_idx,
               CAST(i * 1000 AS INT) AS ts_ms,
               lower(substr(hex(payload),
                   2 * CAST(octet_length(payload) * (i * 1000) // greatest(dur, 1)
                            AS INT) + 1, 32)) AS frame_hex
        FROM f
    """,
)
def q_multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame sampling (1->N mapInPandas fan-out); payload hex-encoded so
    the cross-engine value-hash compares text, not engine-specific bytes."""
    media = multimodal.media_from_documents(load_table(spark, sf_dir, "documents"))
    return multimodal.sample_frames(media, every_ms=1000).select(
        "media_id", "frame_idx", "ts_ms", F.hex("frame_payload").alias("frame_hex")
    ).withColumn("frame_hex", F.lower("frame_hex"))


@register(
    "multimodal_resize",
    # The deterministic fake scales payload length by the pixel-count ratio —
    # pure integer arithmetic, so the registered output (id, dims, byte count)
    # has an exact SQL oracle even though the payload itself is a fake.
    oracle="""
        WITH img AS (
            SELECT doc_id AS media_id,
                   CAST(octet_length(encode(text)) AS BIGINT) AS src_len,
                   CASE WHEN doc_id % 1920 = 0 THEN 1 ELSE doc_id % 1920 END AS w,
                   CASE WHEN doc_id % 1080 = 0 THEN 1 ELSE doc_id % 1080 END AS h
            FROM documents WHERE doc_id % 3 = 0
        )
        SELECT media_id,
               CAST(224 AS INT) AS width,
               CAST(224 AS INT) AS height,
               CAST(greatest(1, src_len * 50176 // greatest(w * h, 1)) AS INT)
                 AS n_bytes
        FROM img
    """,
)
def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image resize plumbing over binary blobs (codec-gated fake, real schema/batching)."""
    media = multimodal.media_from_documents(load_table(spark, sf_dir, "documents"))
    return multimodal.resize_images(media, 224, 224).select(
        "media_id", "width", "height", F.length("payload").alias("n_bytes")
    )


@register("text_sequence_packing", oracle=packing.pack_chunks_sql())
def q_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-offset sequence packing of non-overlapping chunks into
    fixed-capacity context windows, sharded per (lang, doc-bucket) so the
    running sum never serializes on one partition."""
    return packing.pack_chunks(spread(load_table(spark, sf_dir, "documents")))


@register("embedding_centroid_outliers", oracle=embeddings_mod.centroid_outliers_sql())
def q_embedding_centroid_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid (posexplode + one (label,pos) aggregate, broadcast
    back) and top-k distance-to-centroid outliers per label."""
    return embeddings_mod.centroid_outliers(load_table(spark, sf_dir, "embeddings"))


@register("text_quality_quantile", oracle=text.quality_quantile_filter_sql())
def q_quality_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language quantile cut on fluency (stopword ratio): keep the top
    half within each language — the mixture-preserving curation filter."""
    return text.quality_quantile_filter(load_table(spark, sf_dir, "documents"))


@register(
    "dedup_cluster_representatives",
    oracle=dedup.cluster_representatives_sql(
        dedup.dedup_clusters_sql(dedup.ngram_jaccard_pairs_sql(threshold=0.1))
    ),
)
def q_cluster_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-best selection per near-dup cluster: the longest member wins
    (ties to smallest doc_id) — the retention policy applied after cluster
    resolution."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    labels = dedup.dedup_clusters(docs, dedup.ngram_jaccard_pairs(docs, threshold=0.1))
    return dedup.cluster_representatives(docs, labels)


@register("embedding_kmeans_step", oracle=embeddings_mod.kmeans_step_sql())
def q_kmeans_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Lloyd refinement iteration over the md5-seeded IVF centroids:
    broadcast assignment pass + (centroid,pos)-keyed mean, long-form output."""
    return embeddings_mod.kmeans_step(load_table(spark, sf_dir, "embeddings"))


@register("events_median_value_udaf", oracle=vectorized.MEDIAN_VALUE_BY_TYPE_SQL)
def q_median_value_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type median via a GROUPED_AGG pandas_udf (Arrow UDAF) — the
    custom-aggregate extension point, parity-pinned to the built-in
    percentile semantics by the oracle."""
    return vectorized.median_value_by_type(load_table(spark, sf_dir, "events"))


@register("embedding_vector_norms", oracle=vectorized.VECTOR_NORMS_SQL)
def q_vector_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding L2 norms via the Arrow-batched pandas_udf scalar path (the
    sanctioned when-Python-is-unavoidable pattern, parity-tested against the
    JVM fold)."""
    return vectorized.vector_norms(load_table(spark, sf_dir, "embeddings"))


@register("text_shingle_novelty", oracle=novelty.shingle_novelty_sql())
def q_shingle_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-occurrence shingle novelty per document (corpus-growth
    diagnostic): one shingle-keyed MIN window + one doc_id aggregate."""
    return novelty.shingle_novelty(spread(load_table(spark, sf_dir, "documents")))


@register("vocab_zipf_slope", oracle=corpus_stats.zipf_slope_sql())
def q_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law exponent of the unigram distribution (closed-form OLS over
    the top-1000 terms; rank window runs on k rows only)."""
    return corpus_stats.zipf_slope(spread(load_table(spark, sf_dir, "documents")))


@register("embedding_quantize_int8", oracle=embeddings_mod.QUANTIZE_INT8_SQL)
def q_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization (4x ANN storage cut), all-JVM
    array expressions with double-widened rounding on both engines."""
    return embeddings_mod.quantize_int8(load_table(spark, sf_dir, "embeddings"))


@register("sampling_weighted_wor", oracle=sampling.weighted_sample_wor_sql())
def q_weighted_sample_wor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sample without replacement via deterministic exponential sort
    keys (Efraimidis-Spirakis A-Res); distributed top-k, no global sort."""
    return sampling.weighted_sample_wor(load_table(spark, sf_dir, "documents"))


@register("text_sentence_split_udtf", oracle=udtf_ops.SENTENCE_SPLIT_SQL)
def q_sentence_split_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF boundary (Spark 4 table function via LATERAL): sentence
    splitting, relational output pinned identical to the DuckDB regexp
    formulation."""
    return udtf_ops.sentence_split(load_table(spark, sf_dir, "documents"))


@register("text_feature_hashing", oracle=text.feature_hash_vectors_sql())
def q_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick bag-of-words: fixed 32-dim signed-count vectors with no
    vocabulary build — md5 bucket + independent md5 sign bit, all integers."""
    return text.feature_hash_vectors(load_table(spark, sf_dir, "documents"))


@register("dedup_prefix_filter_pairs", oracle=dedup.prefix_filter_pairs_sql())
def q_prefix_filter_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-filtered all-pairs Jaccard join (PPJoin-lite): only each doc's
    rarest |s|−⌈τ|s|⌉+1 shingles index candidates; verification on candidates
    only. Oracle is brute force — the filter must lose nothing."""
    return dedup.prefix_filter_pairs(load_table(spark, sf_dir, "documents"))


@register("embedding_random_projection", oracle=embeddings_mod.random_projection_sql())
def q_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss ±1 random projection 64→16: fixed md5-derived
    sign matrix, zero-shuffle JVM folds, bit-identical to the SQL oracle."""
    return embeddings_mod.random_projection(load_table(spark, sf_dir, "embeddings"))


@register("text_readability", oracle=text.READABILITY_SCORES_SQL)
def q_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch-style readability features: vowel-group syllables, terminal-
    punctuation sentences — zero-shuffle regexp arithmetic."""
    return text.readability_scores(load_table(spark, sf_dir, "documents"))


@register(
    "embedding_product_quantization",
    oracle=embeddings_mod.product_quantization_sql(),
)
def q_product_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization: 64 floats → 8 four-bit codes via md5-sampled
    per-subspace codebooks; rounded-distance argmin keeps codes
    engine-identical; the 64× index-compression step under billion-vector ANN."""
    return embeddings_mod.product_quantization(load_table(spark, sf_dir, "embeddings"))


@register("text_bigram_backoff", oracle=corpus_stats.bigram_backoff_logprob_sql())
def q_bigram_backoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram LM with Stupid Backoff trained on the even-doc half: held-out
    bigrams exercise the α·c(w)/N backoff branch; all model relations are
    term-keyed aggregates, no driver model object."""
    return corpus_stats.bigram_backoff_logprob(load_table(spark, sf_dir, "documents"))


@register(
    "embedding_similarity_profile",
    oracle=embeddings_mod.similarity_profile_sql(),
)
def q_similarity_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space health histogram: cosine over md5-paired disjoint
    vector pairs, 20 fixed bins — encoder-collapse detection with zero
    sampling randomness."""
    return embeddings_mod.similarity_profile(load_table(spark, sf_dir, "embeddings"))


@register("dedup_hybrid_pairs", oracle=dedup.hybrid_near_pairs_sql())
def q_hybrid_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical ∪ semantic near-dup pairs with provenance flags (SemDeDup
    recipe): Jaccard catches boilerplate, cosine catches paraphrase; the
    merge runs on the two pair relations only."""
    return dedup.hybrid_near_pairs(
        spread(load_table(spark, sf_dir, "documents")),
        spread(load_table(spark, sf_dir, "embeddings")),
    )


@register("dedup_cross_source_matrix", oracle=dedup.cross_source_dup_matrix_sql())
def q_cross_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-dup leakage between sources: per source pair, fingerprint-group
    pair counts — governance view of feed mirroring; never a doc×doc join."""
    return dedup.cross_source_dup_matrix(load_table(spark, sf_dir, "documents"))


@register("text_token_fertility", oracle=text.TOKEN_FERTILITY_SQL)
def q_token_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language chars-per-token and tokens-per-doc — the tokenizer cost
    model per corpus slice."""
    return text.token_fertility(load_table(spark, sf_dir, "documents"))


@register("text_char_entropy", oracle=text.CHAR_ENTROPY_SQL)
def q_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-bigram Shannon entropy per doc — mojibake/base64/key-mash
    detector via the c·ln c entropy identity on (doc, pair) counts."""
    return text.char_entropy(spread(load_table(spark, sf_dir, "documents")))


@register(
    "ann_lsh_recall", oracle=similarity.lsh_recall_at_k_sql(ANN_QUERY_IDS)
)
def q_ann_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of LSH vs brute force per query — the ANN index-quality
    gate, composed from the two existing deterministic top-k pipelines."""
    return similarity.lsh_recall_at_k(
        load_table(spark, sf_dir, "embeddings"), ANN_QUERY_IDS
    )


@register("text_langid_confusion", oracle=text.LANGID_CONFUSION_SQL)
def q_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of heuristic lang-ID vs labeled lang — in-warehouse
    offline eval on a ≤|langs|² grid."""
    return text.langid_confusion(spread(load_table(spark, sf_dir, "documents")))


@register(
    "ann_hard_negatives", oracle=similarity.hard_negatives_topk_sql(ANN_QUERY_IDS)
)
def q_ann_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: top-k most-similar
    OTHER-label vectors per query (broadcast queries, per-query rank window)."""
    return similarity.hard_negatives_topk(
        load_table(spark, sf_dir, "embeddings"), ANN_QUERY_IDS
    )


@register("dedup_semantic_clusters", oracle=embeddings_mod.semantic_dedup_sql())
def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup: coarse centroid clustering + within-cluster cosine pruning —
    keep the most-central member of every semantic near-dup group."""
    return embeddings_mod.semantic_dedup(load_table(spark, sf_dir, "embeddings"))


@register("sampling_importance_dsir", oracle=sampling.importance_weights_dsir_sql())
def q_importance_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights: hashed-unigram target-vs-raw log-likelihood
    ratio per raw document, exact integer micro-nats end to end."""
    return sampling.importance_weights_dsir(load_table(spark, sf_dir, "documents"))


@register("embedding_dimension_stats", oracle=embeddings_mod.DIMENSION_STATS_SQL)
def q_dimension_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension mean/variance in exact micro-units — the whitening /
    dead-dimension diagnostic over the embedding corpus."""
    return embeddings_mod.dimension_stats(load_table(spark, sf_dir, "embeddings"))


@register("dedup_lsh_calibration", oracle=dedup.lsh_band_calibration_sql())
def q_lsh_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding calibration: band-collision count vs exact Jaccard per
    candidate pair, aggregated to the <=bands-row quality table."""
    return dedup.lsh_band_calibration(load_table(spark, sf_dir, "documents"))


@register("embedding_matryoshka_quality", oracle=embeddings_mod.matryoshka_quality_sql())
def q_matryoshka_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncation-quality table for Matryoshka dimensionality cuts: per
    width, cosine error vs full-width and retained energy over the
    deterministic disjoint pairing."""
    return embeddings_mod.matryoshka_quality(load_table(spark, sf_dir, "embeddings"))


@register("text_code_detection", oracle=text.CODE_DETECTION_SQL)
def q_code_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-vs-prose heuristic per document: symbol/digit ratios, code-keyword
    hits, statement line endings — zero-shuffle regexp arithmetic."""
    return text.code_detection_scores(load_table(spark, sf_dir, "documents"))


@register("text_lm_score_mix", oracle=corpus_stats.lm_score_mix_sql())
def q_lm_score_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus composition by unigram-LM fluency quartile x source — the
    quality-mix diagnostic before weighted sampling; exact micro-nats."""
    return corpus_stats.lm_score_mix(load_table(spark, sf_dir, "documents"))


@register("embedding_kmeans_lloyd", oracle=embeddings_mod.kmeans_lloyd_sql())
def q_kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three chained Lloyd iterations from md5 seeds — the converging
    refinement loop as one declarative plan; centroids in exact integer
    micro-units so every iteration is bit-stable cross-engine."""
    return embeddings_mod.kmeans_lloyd(load_table(spark, sf_dir, "embeddings"))


@register("text_gopher_rules", oracle=text.GOPHER_RULES_SQL)
def q_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher quality rules (word count/length windows, symbol ratio,
    alpha-word fraction, stopword minimum) as independent flags + keep."""
    return text.gopher_rules(load_table(spark, sf_dir, "documents"))


@register("sampling_temperature_mixture", oracle=sampling.temperature_mixture_sample_sql())
def q_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-flattened source mixture (quota ∝ √n, the multilingual
    rebalancer): exact micro-unit shares, integer largest-share quotas."""
    return sampling.temperature_mixture_sample(load_table(spark, sf_dir, "documents"))


@register(
    "ann_ivf_recall_curve", oracle=similarity.ivf_recall_curve_sql(ANN_QUERY_IDS)
)
def q_ivf_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k vs nprobe tuning curve for the IVF index — the
    latency/recall trade-off table, composed from the deterministic
    brute-force and IVF pipelines."""
    return similarity.ivf_recall_curve(
        load_table(spark, sf_dir, "embeddings"), ANN_QUERY_IDS
    )


@register("dedup_containment_pairs", oracle=dedup.ngram_containment_pairs_sql())
def q_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric near-containment pairs (|A∩B|/min(|A|,|B|)): catches
    quotes/excerpts/doc-in-doc that symmetric Jaccard dedup misses."""
    return dedup.ngram_containment_pairs(spread(load_table(spark, sf_dir, "documents")))


@register("text_boilerplate_filter", oracle=text.boilerplate_filter_sql())
def q_boilerplate_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style corpus-frequency boilerplate removal at the 8-token
    segment grain: per-doc retained tokens + boilerplate share."""
    return text.boilerplate_filter(load_table(spark, sf_dir, "documents"))


@register("text_ngram_diversity", oracle=corpus_stats.ngram_diversity_sql())
def q_ngram_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-n diversity (distinct/total n-grams, n=1..3) per source —
    the corpus self-repetition / memorization-risk signal."""
    return corpus_stats.ngram_diversity(load_table(spark, sf_dir, "documents"))


@register("embedding_kcenter_coreset", oracle=embeddings_mod.kcenter_coreset_sql())
def q_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Farthest-point (greedy k-center) coreset selection over embeddings:
    5 rounds of exact integer max-min-distance argmax."""
    return embeddings_mod.kcenter_coreset(load_table(spark, sf_dir, "embeddings"))


@register("text_classifier_score", oracle=text.CLASSIFIER_SCORES_SQL)
def q_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed hashed-weight linear quality classifier (fineweb/DCLM shape):
    exact integer milli logit + keep flag per document."""
    return text.classifier_scores(load_table(spark, sf_dir, "documents"))


@register("text_k_anonymity", oracle=text.k_anonymity_sql())
def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over (lang, source) with one generalization level —
    the release-governance gate."""
    return text.k_anonymity(load_table(spark, sf_dir, "documents"))


@register("text_first_occurrence_dedup", oracle=text.first_occurrence_dedup_sql())
def q_first_occurrence_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style span dedup: keep only the first (doc_id, position) occurrence
    of every 8-token segment; per-doc retention stats."""
    return text.first_occurrence_dedup(load_table(spark, sf_dir, "documents"))


@register("vocab_bpe_merge_step", oracle=corpus_stats.bpe_merge_step_sql())
def q_bpe_merge_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One BPE training iteration: corpus-frequency-weighted adjacent char
    pair counts on the distinct-word relation; top-20 merge candidates."""
    return corpus_stats.bpe_merge_step(load_table(spark, sf_dir, "documents"))


@register("text_filter_agreement", oracle=text.FILTER_AGREEMENT_SQL)
def q_filter_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa + 2x2 agreement between the Gopher rule filter and the
    linear classifier — filter calibration, exact milli."""
    return text.filter_agreement(load_table(spark, sf_dir, "documents"))


@register("multimodal_payload_dedup", oracle=multimodal.PAYLOAD_DEDUP_STATS_SQL)
def q_payload_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact binary-payload dedup stats per modality (md5 over raw bytes,
    codec-free) — the first multimodal dedup pass."""
    return multimodal.payload_dedup_stats(
        multimodal.media_from_documents(load_table(spark, sf_dir, "documents"))
    )


@register("sampling_doremi_step", oracle=sampling.doremi_step_sql())
def q_doremi_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linearized DoReMi domain-reweighting step: per-source proxy score ->
    excess-over-average -> normalized micro weights, all exact integers."""
    return sampling.doremi_step(load_table(spark, sf_dir, "documents"))


@register("ann_mmr_rerank", oracle=similarity.mmr_rerank_sql(ANN_QUERY_IDS[0]))
def q_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-marginal-relevance re-rank of the exact top-20 pool (λ=0.7,
    5 greedy rounds) — diversity-aware retrieval selection."""
    return similarity.mmr_rerank(
        load_table(spark, sf_dir, "embeddings"), ANN_QUERY_IDS[0]
    )


@register("embedding_cluster_silhouette", oracle=embeddings_mod.CLUSTER_SILHOUETTE_SQL)
def q_cluster_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centroid-silhouette clustering eval per label: mean own-vs-nearest-
    foreign cosine margin + misclustered count, exact micro arithmetic."""
    return embeddings_mod.cluster_silhouette(load_table(spark, sf_dir, "embeddings"))


@register("text_stopword_discovery", oracle=corpus_stats.stopword_discovery_sql())
def q_stopword_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus-derived stopword lexicon (df >= 60% of the
    language's documents) — the CCNet resource-bootstrap step."""
    return corpus_stats.stopword_discovery(load_table(spark, sf_dir, "documents"))


@register("embedding_pca_power_iteration", oracle=embeddings_mod.pca_power_iteration_sql())
def q_pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction via matrix-free power iteration (3 rounds,
    integer-micro direction, order-free integer contribution sums)."""
    return embeddings_mod.pca_power_iteration(load_table(spark, sf_dir, "embeddings"))


@register("text_bm25_topk", oracle=corpus_stats.bm25_topk_sql())
def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-20 retrieval for the corpus-derived 3-term query — the
    lexical ranking baseline; exact integer-micro contributions."""
    return corpus_stats.bm25_topk(load_table(spark, sf_dir, "documents"))


@register("text_l_diversity", oracle=text.l_diversity_sql())
def q_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit over (lang, source) with the length class as the
    sensitive attribute — the k-anonymity companion gate."""
    return text.l_diversity(load_table(spark, sf_dir, "documents"))


@register("dedup_pipeline_funnel", oracle=dedup.dedup_pipeline_funnel_sql())
def q_dedup_pipeline_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation attrition funnel: raw -> exact dedup -> near-dup dominance ->
    Gopher gate, one row per stage with removed counts."""
    return dedup.dedup_pipeline_funnel(spread(load_table(spark, sf_dir, "documents")))


@register("vocab_oov_rate", oracle=corpus_stats.vocab_oov_rate_sql())
def q_vocab_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc OOV rate vs the corpus top-200 unigram vocabulary — the
    tokenizer-coverage evaluation; integer-mill rates."""
    return corpus_stats.vocab_oov_rate(load_table(spark, sf_dir, "documents"))


@register("source_scorecard", oracle=curation.source_scorecard_sql())
def q_source_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-level curation scorecard: per-source keep/dup rates and
    dominant language — the CCNet-style domain filtering input."""
    return curation.source_scorecard(spread(load_table(spark, sf_dir, "documents")))


@register("split_leakage_audit", oracle=curation.split_leakage_audit_sql())
def q_split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs crossing the train/val/test split boundary — the
    eval-contamination audit composing LSH dedup with md5 split assignment."""
    return curation.split_leakage_audit(load_table(spark, sf_dir, "documents"))


@register(
    "dedup_cluster_size_hist",
    oracle=dedup.cluster_size_hist_sql(dedup.ngram_jaccard_pairs_sql(threshold=0.1)),
)
def q_dedup_cluster_size_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster size distribution over the resolved near-dup
    clusters — the dedup-savings histogram (n_docs - n_clusters = removable)."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    return dedup.cluster_size_hist(
        docs, dedup.ngram_jaccard_pairs(docs, threshold=0.1)
    )


@register("multimodal_shard_manifest", oracle=packing.shard_manifest_sql())
def q_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebDataset-style fixed-budget shard manifest per source — greedy
    linear fill over the source-partitioned cumulative byte window."""
    return packing.shard_manifest(load_table(spark, sf_dir, "documents"))


@register("text_js_divergence_sources", oracle=corpus_stats.js_divergence_sources_sql())
def q_js_divergence_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Jensen-Shannon divergence between source unigram mixes on
    the bounded vocab+rest support — the corpus-drift matrix, micro-nats."""
    return corpus_stats.js_divergence_sources(load_table(spark, sf_dir, "documents"))


@register("embedding_hamming_pairs", oracle=similarity.embedding_hamming_pairs_sql())
def q_embedding_hamming_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash-for-embeddings: banded 24-bit sign projections, pigeonhole
    candidate recall, exact Hamming verify with cosine reporting."""
    return similarity.embedding_hamming_pairs(spread(load_table(spark, sf_dir, "embeddings")))


@register("embedding_centroid_drift", oracle=embeddings_mod.centroid_drift_sql())
def q_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid drift between content-stable corpus halves —
    micro-quantized components so the centroids are exact integers."""
    return embeddings_mod.centroid_drift(load_table(spark, sf_dir, "embeddings"))


@register("dedup_bbit_minhash", oracle=dedup.bbit_minhash_estimates_sql())
def q_bbit_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """b-bit MinHash estimates vs exact Jaccard on the LSH pair set — the
    calibration table for storage-optimal dedup signatures."""
    return dedup.bbit_minhash_estimates(load_table(spark, sf_dir, "documents"))


@register("sampling_group_kfold", oracle=sampling.group_kfold_sql())
def q_group_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-integrity k-fold assignment (whole sources per fold) — the
    leakage-safe eval split for near-dup corpora."""
    return sampling.group_kfold(load_table(spark, sf_dir, "documents"))


@register("text_rake_keywords", oracle=corpus_stats.rake_keywords_sql())
def q_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyphrase extraction: stopword-free runs scored by summed
    degree/freq word scores in exact milli — the multi-word complement to
    TF-IDF."""
    return corpus_stats.rake_keywords(load_table(spark, sf_dir, "documents"))


@register(
    "sampling_negative_table", oracle=sampling.negative_sampling_table_sql()
)
def q_negative_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """word2vec-style count^0.75 negative-sampling table with exact integer
    normalization and cumulative inversion column."""
    return sampling.negative_sampling_table(spread(load_table(spark, sf_dir, "documents")))


@register(
    "ann_multiprobe_topk",
    oracle=similarity.multiprobe_lsh_topk_sql(ANN_QUERY_IDS),
)
def q_multiprobe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiprobe hyperplane LSH top-k: queries probe their bucket plus all
    one-bit-flip neighbors — single-table memory, multi-table recall."""
    return similarity.multiprobe_lsh_topk(
        spread(load_table(spark, sf_dir, "embeddings")), ANN_QUERY_IDS
    )


@register(
    "ann_pq_adc_topk",
    oracle=similarity.pq_adc_topk_sql(ANN_QUERY_IDS),
)
def q_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ asymmetric-distance top-k: corpus seen only through 4-bit codes,
    queries through broadcast distance lookup tables — the RAM-resident
    billion-vector search layout, with exact-top-k membership flags."""
    return similarity.pq_adc_topk(
        load_table(spark, sf_dir, "embeddings"), ANN_QUERY_IDS
    )


@register("text_collocations_pmi", oracle=corpus_stats.collocations_pmi_sql())
def q_collocations_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top bigram collocations by PMI with a min-count floor — micro-nat
    quantized lns over exact counts, distributed top-k."""
    return corpus_stats.collocations_pmi(load_table(spark, sf_dir, "documents"))


@register("text_t_closeness", oracle=text.t_closeness_sql())
def q_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness release audit: per-source total-variation distance of the
    sensitive lang mix vs the corpus, cross-multiplied exact integers."""
    return text.t_closeness(load_table(spark, sf_dir, "documents"))


@register("multimodal_phash_pairs", oracle=multimodal.phash_pairs_sql())
def q_phash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual average-hash near-dup pairs over media payloads: 64-bit
    aHash, SimHash-style banded candidates, exact Hamming verify."""
    return multimodal.phash_pairs(load_table(spark, sf_dir, "documents"))


@register("multimodal_energy_segments", oracle=multimodal.energy_segments_sql())
def q_energy_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VAD-style activity segmentation of payload energy envelopes:
    cross-multiplied threshold, gaps-and-islands runs, per-payload panel."""
    return multimodal.energy_segments(load_table(spark, sf_dir, "documents"))


@register(
    "text_classifier_calibration", oracle=text.classifier_calibration_sql()
)
def q_classifier_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram + ECE for the linear quality classifier —
    exact-integer milli bins, the deploy gate for learned filters."""
    return text.classifier_calibration(load_table(spark, sf_dir, "documents"))


@register("ann_ndcg_eval", oracle=similarity.ndcg_eval_sql(ANN_QUERY_IDS))
def q_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@k of the LSH ranking vs exact cosine — graded ranking quality
    with precomputed integer discount weights, no runtime logs."""
    return similarity.ndcg_eval(
        spread(load_table(spark, sf_dir, "embeddings")), ANN_QUERY_IDS
    )


@register(
    "dedup_bcubed_eval",
    oracle=dedup.bcubed_eval_sql(dedup.ngram_jaccard_pairs_sql(threshold=0.1)),
)
def q_bcubed_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B-cubed precision/recall/F1 of the resolved clustering vs the
    prefix-replica gold standard — per-element clustering quality."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.1)
    return dedup.bcubed_eval(docs, pairs)


@register(
    "embedding_triplet_mining",
    oracle=similarity.triplet_mining_sql(ANN_QUERY_IDS),
)
def q_triplet_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-triplet mining (hardest same-label positive, hardest other-label
    negative, semi-hard margin test) for metric-learning training data."""
    return similarity.triplet_mining(
        load_table(spark, sf_dir, "embeddings"), ANN_QUERY_IDS
    )


@register("embedding_k_selection_elbow", oracle=embeddings_mod.k_selection_elbow_sql())
def q_k_selection_elbow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WCSS elbow sweep over k in {4,8,16} deterministic codebooks — the
    model-selection table for the clustering family, exact nano sums."""
    return embeddings_mod.k_selection_elbow(
        load_table(spark, sf_dir, "embeddings")
    )


@register(
    "dedup_soft_weights",
    oracle=dedup.soft_dedup_weights_sql(dedup.ngram_jaccard_pairs_sql(threshold=0.1)),
)
def q_soft_dedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft dedup: 1/cluster-size sampling weights instead of drops, with
    the canonical flag hard dedup would have kept."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.1)
    return dedup.soft_dedup_weights(docs, pairs)


@register("vocab_budget_curve", oracle=corpus_stats.vocab_budget_curve_sql())
def q_vocab_budget_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer budget curve: corpus token cost under top-k vocabularies
    with char fallback — the cost model that sizes the vocab."""
    return corpus_stats.vocab_budget_curve(load_table(spark, sf_dir, "documents"))


@register("ann_mips_reduction", oracle=similarity.mips_reduction_sql(ANN_QUERY_IDS))
def q_mips_reduction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MIPS-to-L2 reduction: augmented-coordinate transform with the
    top-1 agreement certificate — L2 indexes answering inner-product."""
    return similarity.mips_reduction(
        load_table(spark, sf_dir, "embeddings"), ANN_QUERY_IDS
    )


@register("embedding_isotropy", oracle=embeddings_mod.ISOTROPY_SCORE_SQL)
def q_isotropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotropy panel: |mean vector|^2 over mean |x|^2 in once-quantized
    micro integers — the collapsed-encoder one-number diagnostic."""
    return embeddings_mod.isotropy_score(load_table(spark, sf_dir, "embeddings"))


@register("text_textrank_keywords", oracle=corpus_stats.textrank_keywords_sql())
def q_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keywords: damped PageRank over the word co-occurrence
    graph, fixed unrolled rounds — the centrality extractor beside RAKE."""
    return corpus_stats.textrank_keywords(load_table(spark, sf_dir, "documents"))


@register("sampling_pps_systematic", oracle=sampling.pps_systematic_sql())
def q_pps_systematic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PPS systematic sampling: cumulative-size thresholds in pure integer
    arithmetic — inclusion probability proportional to size, no RNG."""
    return sampling.pps_systematic(load_table(spark, sf_dir, "documents"))


@register("multimodal_bitrate_outliers", oracle=multimodal.bitrate_outliers_sql())
def q_bitrate_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitrate sanity audit: integer kbps vs declared duration, p99
    rank-selected threshold — the pre-decode codec-misconfig catch."""
    return multimodal.bitrate_outliers(load_table(spark, sf_dir, "documents"))


@register("vocab_term_burstiness", oracle=corpus_stats.term_burstiness_sql())
def q_term_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Church-Gale burstiness (cf/df) for the top corpus terms — the
    stopword-vs-topical separator raw frequency conflates."""
    return corpus_stats.term_burstiness(load_table(spark, sf_dir, "documents"))


@register(
    "embedding_centroid_confusion", oracle=embeddings_mod.CENTROID_CONFUSION_SQL
)
def q_centroid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid label confusion matrix — the linear-separability
    probe in once-quantized micro integers."""
    return embeddings_mod.centroid_confusion(load_table(spark, sf_dir, "embeddings"))


@register("dedup_transitivity_audit", oracle=dedup.transitivity_audit_sql())
def q_transitivity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wedge-closure census of the SimHash near-pair graph — how safe
    connected-component dedup is from transitive over-merging."""
    return dedup.transitivity_audit(load_table(spark, sf_dir, "documents"))


@register("vocab_heaps_law", oracle=corpus_stats.HEAPS_LAW_SQL)
def q_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary-growth curve at power-of-two doc-id
    prefixes — cumulative docs/tokens/terms, all exact BIGINTs."""
    return corpus_stats.heaps_law(load_table(spark, sf_dir, "documents"))


@register("embedding_knn_hubness", oracle=similarity.knn_hubness_sql())
def q_knn_hubness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-degree histogram of the exact k-NN graph over the mod-sampled
    half-corpus — the hubness / antihub health check."""
    return similarity.knn_hubness(spread(load_table(spark, sf_dir, "embeddings")))


@register("multimodal_aspect_buckets", oracle=multimodal.aspect_buckets_sql())
def q_aspect_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aspect-ratio ladder bucketing for resolution-bucketed training
    batches — metadata-only, exact integer milli."""
    return multimodal.aspect_buckets(load_table(spark, sf_dir, "documents"))


@register("sampling_hash_calibration", oracle=sampling.hash_calibration_sql())
def q_hash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration audit of the md5-bucket sampler: measured vs nominal
    keep-rate per source at three rates, exact milli."""
    return sampling.hash_calibration(load_table(spark, sf_dir, "documents"))


@register("embedding_knn_purity", oracle=similarity.knn_purity_sql())
def q_knn_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label purity of the exact k-NN graph over the adaptive
    mod-sample — the classifier-free label-noise audit."""
    return similarity.knn_purity(spread(load_table(spark, sf_dir, "embeddings")))


@register("dedup_mixture_shift", oracle=dedup.MIXTURE_SHIFT_SQL)
def q_mixture_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup bias audit: source-mixture shares before vs after the
    first-occurrence exact-dedup keep rule."""
    return dedup.mixture_shift(load_table(spark, sf_dir, "documents"))


@register("ann_ivf_balance", oracle=similarity.ivf_balance_sql())
def q_ivf_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF inverted-list balance audit: per-list load vs perfect
    balance in exact milli."""
    return similarity.ivf_balance(load_table(spark, sf_dir, "embeddings"))


@register("sampling_class_balance", oracle=sampling.class_balance_sql())
def q_class_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balanced downsampling plan: md5-rank keeps exactly the
    minority-class count per label, content-stable."""
    return sampling.class_balance(load_table(spark, sf_dir, "embeddings"))


@register("dedup_length_profile", oracle=dedup.LENGTH_PROFILE_SQL)
def q_length_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate rate per length decile — deciles from the length-value
    histogram, no global row window."""
    return dedup.length_profile(load_table(spark, sf_dir, "documents"))


@register("dedup_threshold_sweep", oracle=dedup.threshold_sweep_sql())
def q_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard-threshold tuning curve: pair volume + affected docs per
    cutoff, pure-integer comparisons, one posting pass."""
    return dedup.threshold_sweep(spread(load_table(spark, sf_dir, "documents")))


@register("sampling_training_manifest", oracle=sampling.training_manifest_sql())
def q_training_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation manifest: keep flag, soft weight and split
    per document from one fingerprint window."""
    return sampling.training_manifest(load_table(spark, sf_dir, "documents"))


@register("vocab_token_yield", oracle=corpus_stats.TOKEN_YIELD_SQL)
def q_token_yield(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Effective token yield per source after exact dedup — what
    mixture budgeting actually spends."""
    return corpus_stats.token_yield(load_table(spark, sf_dir, "documents"))


@register(
    "dedup_normalization_impact", oracle=dedup.NORMALIZATION_IMPACT_SQL
)
def q_normalization_impact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw-hash vs normalized-hash duplicate counts per source — the
    normalizer's measured uplift."""
    return dedup.normalization_impact(load_table(spark, sf_dir, "documents"))


@register(
    "embedding_intrinsic_dimension", oracle=similarity.intrinsic_dimension_sql()
)
def q_intrinsic_dimension(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TwoNN intrinsic-dimension estimate over the adaptive mod-sample
    — micro-nat quantized ratios, one integer division."""
    return similarity.intrinsic_dimension(spread(load_table(spark, sf_dir, "embeddings")))


@register("text_encoding_profile", oracle=text.ENCODING_PROFILE_SQL)
def q_encoding_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UTF-8 bytes-per-char and multibyte density per language — the
    mojibake / mislabeled-language ingest audit."""
    return text.encoding_profile(load_table(spark, sf_dir, "documents"))


@register("multimodal_phash_sweep", oracle=multimodal.phash_sweep_sql())
def q_phash_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamming-radius tuning curve for perceptual-hash dedup."""
    return multimodal.phash_sweep(spread(load_table(spark, sf_dir, "documents")))


@register("vocab_lang_overlap", oracle=corpus_stats.LANG_OVERLAP_SQL)
def q_lang_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-language vocabulary Jaccard — the lang-ID error and
    boilerplate-leak detector."""
    return corpus_stats.lang_overlap(load_table(spark, sf_dir, "documents"))


@register("dedup_simhash_balance", oracle=dedup.simhash_balance_sql())
def q_simhash_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-bit SimHash balance audit — degenerate bits shrink the
    effective signature and inflate band collisions."""
    return dedup.simhash_balance(load_table(spark, sf_dir, "documents"))


@register("vocab_hapax_profile", oracle=corpus_stats.HAPAX_PROFILE_SQL)
def q_hapax_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hapax share and type-token ratio per source — OCR-noise and
    template-spam detectors."""
    return corpus_stats.hapax_profile(load_table(spark, sf_dir, "documents"))


@register("dedup_key_policy", oracle=dedup.KEY_POLICY_SQL)
def q_key_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup key-policy audit: dup mass under global vs per-lang vs
    per-source fingerprint scopes."""
    return dedup.key_policy(load_table(spark, sf_dir, "documents"))


@register("text_predictability", oracle=corpus_stats.PREDICTABILITY_SQL)
def q_predictability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional bigram entropy per source in exact micro-nats — the
    template/boilerplate predictability signal."""
    return corpus_stats.predictability(load_table(spark, sf_dir, "documents"))


@register("sampling_temporal_split", oracle=sampling.TEMPORAL_SPLIT_SQL)
def q_temporal_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal train/test split audit with the entity-leakage rate —
    hash splits can't leak the future; time splits leak entities."""
    return sampling.temporal_split(load_table(spark, sf_dir, "events"))


@register("dedup_survivor_audit", oracle=dedup.SURVIVOR_AUDIT_SQL)
def q_survivor_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Does min-id dedup keep the best raw variant? Kept-vs-dropped
    length audit over normalized dup groups."""
    return dedup.survivor_audit(load_table(spark, sf_dir, "documents"))


@register(
    "multimodal_payload_percentiles", oracle=multimodal.PAYLOAD_PERCENTILES_SQL
)
def q_payload_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact payload-size order statistics per media kind — the
    shard/buffer sizing tail."""
    return multimodal.payload_percentiles(load_table(spark, sf_dir, "documents"))


@register("dedup_df_spectrum", oracle=dedup.df_spectrum_sql())
def q_df_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle document-frequency spectrum with pair-work shares — the
    evidence behind the max_df cap."""
    return dedup.df_spectrum(spread(load_table(spark, sf_dir, "documents")))


@register(
    "embedding_assignment_margin", oracle=similarity.assignment_margin_sql()
)
def q_assignment_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best-vs-second centroid cosine margin distribution — the
    cluster-assignment confidence audit."""
    return similarity.assignment_margin(load_table(spark, sf_dir, "embeddings"))


@register("dedup_edit_distance", oracle=dedup.edit_distance_pairs_sql())
def q_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-blocked exact Levenshtein near-dup pairs — character-level
    verification (banded thresholded DP) on MinHash candidates."""
    return dedup.edit_distance_pairs(load_table(spark, sf_dir, "documents"))


@register("sampling_dedup_epochs", oracle=sampling.dedup_aware_epochs_sql())
def q_dedup_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplication-neutralizing epoch weights per source — each unique
    content trains ~target epochs regardless of copy count."""
    return sampling.dedup_aware_epochs(load_table(spark, sf_dir, "documents"))


@register("embedding_knn_reciprocity", oracle=similarity.knn_reciprocity_sql())
def q_knn_reciprocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-rank mutual-edge share of the exact k-NN graph — the
    mutual-kNN filter yield / hubness companion."""
    return similarity.knn_reciprocity(spread(load_table(spark, sf_dir, "embeddings")))


@register("text_dp_noisy_counts", oracle=text.dp_noisy_counts_sql())
def q_dp_noisy_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laplace-mechanism release of per-(lang, source) doc counts —
    deterministic hash-uniform inverse-CDF noise (testable stand-in)."""
    return text.dp_noisy_counts(load_table(spark, sf_dir, "documents"))


@register("sampling_purged_kfold", oracle=sampling.purged_kfold_sql())
def q_purged_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purged k-fold CV plan with embargo over the time-ordered event
    stream — contiguous day folds, leakage buffer audit."""
    return sampling.purged_kfold(load_table(spark, sf_dir, "events"))


@register(
    "embedding_norm_clip_threshold",
    oracle=embeddings_mod.norm_clip_threshold_sql(),
)
def q_norm_clip_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact p99.5 norm order statistic (ranks.kth_smallest device) + the
    clipping impact — pre-index embedding hygiene."""
    return embeddings_mod.norm_clip_threshold(load_table(spark, sf_dir, "embeddings"))


@register("sampling_ht_estimate", oracle=sampling.ht_estimate_sql())
def q_ht_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Horvitz-Thompson total-words estimate from the PPS systematic
    sample, with multiplicity weights and the exact-truth error readout."""
    return sampling.ht_estimate(load_table(spark, sf_dir, "documents"))


@register("vocab_yule_k", oracle=corpus_stats.yule_k_sql())
def q_yule_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Yule's K lexical-richness characteristic per source from the exact
    integer frequency spectrum — the single-number repetition summary."""
    return corpus_stats.yule_k(load_table(spark, sf_dir, "documents"))


@register("sampling_kish_neff", oracle=sampling.kish_neff_sql())
def q_kish_neff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kish effective sample size + design effect of the PPS design's HT
    weights — how many equivalent SRS units the weighted draw is worth."""
    return sampling.kish_neff(load_table(spark, sf_dir, "documents"))


@register("text_burrows_delta", oracle=corpus_stats.burrows_delta_sql())
def q_burrows_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burrows' delta stylometric distance between source pairs over the
    corpus top-30 words (integer micro rates, z-scored per word)."""
    return corpus_stats.burrows_delta(load_table(spark, sf_dir, "documents"))


@register("vocab_keyness_g2", oracle=corpus_stats.keyness_g2_sql())
def q_keyness_g2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dunning G2 keyness: the 10 most source-distinctive terms vs the
    rest of the corpus, exact-integer inputs to one ln chain."""
    return corpus_stats.keyness_g2(load_table(spark, sf_dir, "documents"))


@register("dedup_lsh_pr_scorecard", oracle=dedup.lsh_pr_scorecard_sql())
def q_lsh_pr_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured precision/recall of the MinHash-LSH candidate stage
    against the exact n-gram-Jaccard ground truth — the operating point
    every banding change must be priced on."""
    return dedup.lsh_pr_scorecard(spread(load_table(spark, sf_dir, "documents")))


# --- round 10 ---------------------------------------------------------------------------


@register("ann_map_eval", oracle=similarity.map_eval_sql(ANN_QUERY_IDS))
def q_map_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAP@k of the LSH ranking vs exact cosine — order-sensitive binary
    ranking quality with lcm-cleared precision denominators, exact
    integer throughout."""
    return similarity.map_eval(
        load_table(spark, sf_dir, "embeddings"), ANN_QUERY_IDS
    )


@register("text_brier_decomposition", oracle=text.brier_decomposition_sql())
def q_brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Murphy decomposition of the quality classifier's Brier score —
    reliability/resolution/uncertainty over the calibration bins with the
    within-bin residual reported, not assumed zero."""
    return text.brier_decomposition(load_table(spark, sf_dir, "documents"))


@register("text_classifier_auc", oracle=text.classifier_auc_sql())
def q_classifier_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC AUC of the quality classifier via the rank-sum identity on the
    bounded score grid — discrimination, the deploy question calibration
    does not answer."""
    return text.classifier_auc(load_table(spark, sf_dir, "documents"))


@register("vocab_good_turing", oracle=corpus_stats.good_turing_smoothing_sql())
def q_good_turing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Good-Turing smoothed counts on the frequency-of-frequencies table —
    discounted r* and the reserved unseen mass P0 = N1/N, the classical
    base of Katz backoff."""
    return corpus_stats.good_turing_smoothing(load_table(spark, sf_dir, "documents"))


@register("text_kneser_ney_bigrams", oracle=corpus_stats.kneser_ney_bigrams_sql())
def q_kneser_ney_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney probabilities for the top corpus bigrams —
    absolute discounting with continuation-count backoff mass."""
    return corpus_stats.kneser_ney_bigrams(load_table(spark, sf_dir, "documents"))


@register("text_msttr", oracle=corpus_stats.msttr_by_lang_sql())
def q_msttr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean segmental type-token ratio per language — length-controlled
    lexical diversity over complete 50-token segments."""
    return corpus_stats.msttr_by_lang(load_table(spark, sf_dir, "documents"))


@register("text_beta_binomial", oracle=corpus_stats.beta_binomial_source_rates_sql())
def q_beta_binomial(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beta-binomial empirical-Bayes shrinkage of per-source long-document
    rates — method-of-moments prior, posterior-mean stabilized ranking."""
    return corpus_stats.beta_binomial_source_rates(
        load_table(spark, sf_dir, "documents")
    )


@register("sampling_raking_ipf", oracle=sampling.raking_ipf_sql())
def q_raking_ipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raking / IPF: reweight the long-document subsample so both its
    lang and source margins match the full corpus."""
    return sampling.raking_ipf(load_table(spark, sf_dir, "documents"))


@register(
    "sampling_jackknife_ratio", oracle=sampling.jackknife_ratio_daily_sql()
)
def q_jackknife_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete-one-day jackknife SE of the purchase/click ratio — the
    design-based variance for cluster-correlated day totals."""
    return sampling.jackknife_ratio_daily(load_table(spark, sf_dir, "events"))


@register("text_ocr_garbage", oracle=text.ocr_garbage_scores_sql())
def q_ocr_garbage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OCR-junk screening per source: consonant smears, mid-word case
    flips, symbol debris — routes cleanup, not quality cuts."""
    return text.ocr_garbage_scores(load_table(spark, sf_dir, "documents"))


@register("text_classifier_pr_auc", oracle=text.classifier_pr_auc_sql())
def q_classifier_pr_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average precision (PR-AUC) of the quality classifier — the
    imbalance-honest companion to ROC AUC."""
    return text.classifier_pr_auc(load_table(spark, sf_dir, "documents"))


@register(
    "ann_filtered_recall",
    oracle=similarity.filtered_ann_recall_sql(ANN_QUERY_IDS),
)
def q_ann_filtered_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-filtered IVF search vs the filtered exact truth — prices the
    attribute-filter recall loss vector indexes silently pay."""
    return similarity.filtered_ann_recall(
        load_table(spark, sf_dir, "embeddings"), ANN_QUERY_IDS
    )


@register(
    "text_krippendorff_alpha",
    oracle=corpus_stats.krippendorff_alpha_filters_sql(),
)
def q_krippendorff_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Krippendorff's alpha across three binary curation judges — the
    multi-rater generalization of the pairwise kappa device."""
    return corpus_stats.krippendorff_alpha_filters(
        load_table(spark, sf_dir, "documents")
    )


@register(
    "text_naive_bayes_confusion", oracle=text.naive_bayes_confusion_sql()
)
def q_naive_bayes_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial Naive Bayes trained on the even-md5 half, confusion
    matrix on the held-out half — classifier training as two relational
    aggregates."""
    return text.naive_bayes_confusion(load_table(spark, sf_dir, "documents"))


@register(
    "text_heldout_perplexity", oracle=text.heldout_bigram_perplexity_sql()
)
def q_heldout_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out bigram perplexity per language — THE LM number, trained
    on the even-md5 half, measured on the odd half."""
    return text.heldout_bigram_perplexity(load_table(spark, sf_dir, "documents"))


@register("embedding_davies_bouldin", oracle=embeddings_mod.davies_bouldin_sql())
def q_davies_bouldin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Davies-Bouldin cluster-validity index of the stored labels — the
    lower-is-better separation score read before committing a clustering."""
    return embeddings_mod.davies_bouldin(load_table(spark, sf_dir, "embeddings"))


@register(
    "embedding_calinski_harabasz",
    oracle=embeddings_mod.calinski_harabasz_sql(),
)
def q_calinski_harabasz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calinski-Harabasz variance-ratio score — between/within dispersion
    per degree of freedom, exact-integer within sum."""
    return embeddings_mod.calinski_harabasz(
        load_table(spark, sf_dir, "embeddings")
    )


@register("embedding_ari_kmeans", oracle=embeddings_mod.ari_vs_kmeans_sql())
def q_ari_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjusted Rand Index of stored labels vs the deterministic one-step
    k-means assignment — chance-corrected pair-counting agreement, all
    integer until the final division."""
    return embeddings_mod.ari_vs_kmeans(load_table(spark, sf_dir, "embeddings"))


@register("embedding_knn_shapley", oracle=similarity.knn_shapley_sql())
def q_knn_shapley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact KNN-Shapley data valuation of every training vector against
    the md5-sampled test set — the closed-form suffix recursion as a
    per-test window sum in exact nano units."""
    return similarity.knn_shapley(load_table(spark, sf_dir, "embeddings"))


@register("ann_rrf_fusion", oracle=similarity.rrf_fusion_sql(ANN_QUERY_IDS))
def q_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion of the cosine and inner-product rankings —
    the score-free hybrid-search combiner, fused order engine-exact in
    micro units."""
    return similarity.rrf_fusion(
        load_table(spark, sf_dir, "embeddings"), ANN_QUERY_IDS
    )


@register("text_fairness_audit", oracle=text.fairness_audit_sql())
def q_fairness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-fairness audit of the quality classifier across sources:
    demographic-parity and equalized-odds gaps vs the Gopher-rule truth."""
    return text.fairness_audit(load_table(spark, sf_dir, "documents"))


@register("text_label_noise", oracle=text.label_noise_estimate_sql())
def q_label_noise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confident-learning label-noise matrix: per-class confidence
    thresholds gate the (stored lang, predicted lang) joint — the
    estimated mislabel census of the corpus."""
    return text.label_noise_estimate(spread(load_table(spark, sf_dir, "documents")))


@register(
    "text_query_likelihood", oracle=corpus_stats.query_likelihood_topk_sql()
)
def q_query_likelihood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dirichlet-smoothed query-likelihood top-20 for the corpus query —
    the LM retrieval scorer beside BM25, micro-nat exact."""
    return corpus_stats.query_likelihood_topk(
        load_table(spark, sf_dir, "documents")
    )


@register("text_bradley_terry", oracle=corpus_stats.bradley_terry_sql())
def q_bradley_terry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bradley-Terry preference strengths per source from deterministic
    adjacent-doc matches — MM rounds in exact micro units, the RLHF
    reward-model likelihood as relational algebra."""
    return corpus_stats.bradley_terry(spread(load_table(spark, sf_dir, "documents")))


@register("sampling_unimax", oracle=sampling.unimax_allocation_sql())
def q_unimax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniMax multilingual budget allocation: exact integer water-filling
    across languages with an epoch cap — the post-temperature-sampling
    mixture rule."""
    return sampling.unimax_allocation(load_table(spark, sf_dir, "documents"))


@register(
    "embedding_facility_location",
    oracle=embeddings_mod.facility_location_sql(),
)
def q_facility_location(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy facility-location subset selection against the md5-sampled
    witness set — submodular coverage curation, exact-integer argmax."""
    return embeddings_mod.facility_location(
        load_table(spark, sf_dir, "embeddings")
    )


@register(
    "multimodal_shot_boundaries", oracle=multimodal.shot_boundaries_sql()
)
def q_shot_boundaries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash shot-boundary detection over the byte-stream
    stand-in: per-frame bit signatures, adjacent-frame hamming cuts,
    shots-per-video report."""
    return multimodal.shot_boundaries(load_table(spark, sf_dir, "documents"))


@register("embedding_lof_outliers", oracle=embeddings_mod.lof_outliers_sql())
def q_lof_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local Outlier Factor over the md5-sampled witness set —
    density-relative anomaly scores the centroid audit cannot see."""
    return embeddings_mod.lof_outliers(load_table(spark, sf_dir, "embeddings"))


@register("text_temperature_scaling", oracle=text.temperature_scaling_sql())
def q_temperature_scaling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaling grid search: the NLL curve of
    sigmoid(logit/T) vs the Gopher truth with the argmin flagged —
    post-hoc calibration for the deployed quality filter."""
    return text.temperature_scaling(load_table(spark, sf_dir, "documents"))


@register(
    "embedding_quantile_normalize",
    oracle=embeddings_mod.quantile_normalize_sql(),
)
def q_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension quantile normalization onto the shared average
    order-statistic marginal — identical after-sums per dimension by
    construction, self-certifying."""
    return embeddings_mod.quantile_normalize(
        load_table(spark, sf_dir, "embeddings")
    )


@register("text_padding_waste", oracle=packing.padding_waste_curve_sql())
def q_padding_waste(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketing padding-waste curve from the length histogram —
    the batching-efficiency planning number, exact rank-interval algebra."""
    return packing.padding_waste_curve(load_table(spark, sf_dir, "documents"))
