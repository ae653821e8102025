"""Property tests for the approximate llm.* operators (the ones without SQL
oracles): recall vs exact baselines, stub gating, Arrow plumbing shape."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pagila_etl_airflow_assignment_spark.llm import dedup, multimodal, similarity
from pagila_etl_airflow_assignment_spark.sources.parquet import load_table

from conftest import SF_SMALL


@pytest.fixture(scope="module")
def docs(spark):
    # unpersist after the module: a cached scan serves every later read of
    # the same file from memory, so later plan tests would see no file scan
    df = load_table(spark, SF_SMALL, "documents").cache()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def emb(spark):
    df = load_table(spark, SF_SMALL, "embeddings").cache()
    yield df
    df.unpersist()


def test_minhash_lsh_verified_subset_of_exact(spark, docs):
    """LSH output must be a subset of the exact-Jaccard pairs at the same
    threshold (verification removes false positives), with decent recall."""
    exact = {
        (r.doc_a, r.doc_b)
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.2).collect()
    }
    lsh = {
        (r.doc_a, r.doc_b)
        for r in dedup.minhash_lsh_pairs(docs, verify_threshold=0.2).collect()
    }
    assert lsh <= exact
    if exact:
        recall = len(lsh) / len(exact)
        assert recall >= 0.3, f"LSH recall collapsed: {recall:.2f} of {len(exact)}"


def test_simhash_pairs_have_low_hamming(spark, docs):
    pairs = dedup.simhash_near_pairs(docs, max_hamming=6).collect()
    assert all(r.hamming <= 6 for r in pairs)


def test_ann_lsh_recall_vs_bruteforce(spark, emb):
    """LSH top-k hits a reasonable fraction of the exact top-k."""
    qids = [0, 1, 2, 3, 4]
    exact = {
        (r.query_id, r.vec_id)
        for r in similarity.brute_force_topk(emb, qids, k=5).collect()
    }
    approx = {
        (r.query_id, r.vec_id)
        for r in similarity.lsh_bucket_topk(emb, qids, k=5).collect()
    }
    assert len(approx) > 0
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.3, f"ANN-LSH recall collapsed: {recall:.2f}"


def test_ann_ivf_recall_vs_bruteforce(spark, emb):
    """IVF top-k hits a reasonable fraction of the exact top-k, and every
    probed-list result is a true corpus vector (no fabricated candidates)."""
    qids = [0, 1, 2, 3, 4]
    exact = {
        (r.query_id, r.vec_id)
        for r in similarity.brute_force_topk(emb, qids, k=5).collect()
    }
    approx = {
        (r.query_id, r.vec_id)
        for r in similarity.ivf_topk(emb, qids, k=5).collect()
    }
    assert len(approx) > 0
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.3, f"ANN-IVF recall collapsed: {recall:.2f}"


def test_ann_topk_is_exactly_k_rows_per_query(spark, emb):
    out = similarity.brute_force_topk(emb, [0, 1, 2], k=5)
    counts = {r.query_id: r.n for r in out.groupBy("query_id").agg(F.count("*").alias("n")).collect()}
    assert counts == {0: 5, 1: 5, 2: 5}


def test_media_decode_stub_is_gated():
    with pytest.raises(NotImplementedError):
        multimodal.require_codecs()


def test_resize_images_shape(spark, docs):
    media = multimodal.media_from_documents(docs)
    out = multimodal.resize_images(media, 224, 224)
    assert out.schema == multimodal.RESIZED_SCHEMA
    rows = out.collect()
    n_images = media.where(F.col("kind") == "image").count()
    assert len(rows) == n_images
    assert all(r.width == 224 and r.height == 224 and len(r.payload) > 0 for r in rows)


def test_sample_frames_fanout(spark, docs):
    media = multimodal.media_from_documents(docs)
    out = multimodal.sample_frames(media, every_ms=1000)
    assert out.schema == multimodal.FRAME_SCHEMA
    frames = out.groupBy("media_id").agg(F.count("*").alias("n"), F.max("ts_ms").alias("mx"))
    joined = {r.media_id: (r.n, r.mx) for r in frames.collect()}
    for r in media.where(F.col("kind") == "video").collect():
        n, mx = joined[r.media_id]
        assert n == max(r.duration_ms // 1000, 1)
        assert mx == (n - 1) * 1000


def test_media_plumbing_schema_and_batches(spark, docs):
    media = multimodal.media_from_documents(docs)
    assert [f.name for f in media.schema.fields] == [
        "media_id", "kind", "mime", "payload", "width", "height", "duration_ms",
    ]
    feats = multimodal.extract_features(media)
    assert feats.schema == multimodal.FEATURE_SCHEMA
    row = feats.where(F.col("media_id") == 0).first()
    assert row.n_bytes > 0 and 0 <= row.byte_mean <= 255 and len(row.header_hex) == 8


def test_filtered_ann_recall_invariants(spark):
    """Post-filtered IVF recall: counts are consistent, recall is the exact
    milli division, and the truth side never exceeds k per query."""
    from pagila_etl_airflow_assignment_spark.llm.similarity import (
        DEFAULT_K,
        filtered_ann_recall,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    row = filtered_ann_recall(emb, [0, 1, 2, 3, 4]).collect()[0]
    assert row["n_queries"] >= 1
    assert 0 <= row["n_hit"] <= row["n_true"]
    assert row["n_true"] <= DEFAULT_K * row["n_queries"]
    assert row["recall_milli"] == round(
        1000.0 * row["n_hit"] / row["n_true"]
    )
