"""Empty-input robustness: every pipeline operator must handle a
zero-row corpus without crashing (empty partitions are routine at scale —
a filter that matches nothing, a new partition, a cold start)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sql_query_engine_spark.catalog import load_table
from sql_query_engine_spark.functions import chunking, dedup, similarity, text
from sql_query_engine_spark.streaming import events as EV
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def empty_docs(spark):
    return load_table(spark, SF_DIR, "documents").filter(F.col("doc_id") < 0)


@pytest.fixture(scope="module")
def empty_emb(spark):
    return load_table(spark, SF_DIR, "embeddings").filter(F.col("vec_id") < 0)


@pytest.fixture(scope="module")
def empty_events(spark):
    return load_table(spark, SF_DIR, "events").filter(F.col("event_id") < 0)


def test_dedup_ops_on_empty(spark, empty_docs):
    assert dedup.exact_dedup(empty_docs).count() == 0
    assert dedup.minhash_lsh_pairs(empty_docs).count() == 0
    assert dedup.ngram_jaccard_pairs(empty_docs).count() == 0
    assert dedup.simhash_fingerprints(empty_docs).count() == 0
    pairs = dedup.minhash_lsh_pairs(empty_docs)
    assert dedup.dedup_clusters(empty_docs, pairs).count() == 0


def test_similarity_on_empty(spark, empty_emb):
    from sql_query_engine_spark.functions import pq

    for topk in (
        similarity.cosine_topk,
        similarity.lsh_bucket_topk,
        similarity.int8_topk,
        similarity.ivf_int8_topk,
        similarity.ivf_float_topk,
        similarity.hamming_prefilter_topk,
        similarity.ann_topk,
        pq.pq_pinned_topk,
        pq.ivfpq_pinned_topk,
    ):
        assert topk(empty_emb).count() == 0, topk.__name__


def test_text_ops_on_empty(spark, empty_docs):
    assert text.with_lang_id(empty_docs).count() == 0
    assert text.with_quality(empty_docs).count() == 0
    assert text.with_fingerprint(empty_docs).count() == 0
    assert chunking.chunk_documents_sql(empty_docs).count() == 0
    assert chunking.chunk_documents_udtf(spark, empty_docs).count() == 0


def test_streaming_ops_on_empty(spark, empty_events):
    assert EV.tumbling_counts(empty_events).count() == 0
    assert EV.session_stats(empty_events).count() == 0
    from sql_query_engine_spark.streaming import stateful

    assert stateful.profile_batch(empty_events).count() == 0


def test_multimodal_decode_on_empty(spark, empty_docs):
    from sql_query_engine_spark.functions import multimodal

    media = multimodal.synthesize_media(empty_docs)
    assert multimodal.decode_media(media).count() == 0


def test_multiprobe_on_empty(spark, empty_emb):
    assert (
        similarity.lsh_bucket_topk(empty_emb, k=5, n_queries=8, n_probes=3).count()
        == 0
    )


def test_pq_on_empty_or_tiny(spark, empty_emb):
    """PQ on an empty corpus must not crash training (codebooks fall back
    to whatever init rows exist); with zero rows there is no init, so
    training raises a clean error rather than producing garbage."""
    from sql_query_engine_spark.functions import pq

    try:
        pq.train_codebooks(empty_emb)
        raised = False
    except (IndexError, ValueError):
        raised = True
    assert raised


def test_bloom_on_empty_sides(spark, empty_docs):
    """Empty dim → empty bitmap rejects everything; empty fact → empty
    result; both without crashing."""
    from sql_query_engine_spark.operators.bloom import (
        bloom_bitmap,
        bloom_probe,
        bloom_semi_join,
    )

    li = load_table(spark, SF_DIR, "lineitem")
    empty_part = load_table(spark, SF_DIR, "part").filter(F.col("p_partkey") < 0)
    bm = bloom_bitmap(empty_part.select("p_partkey"), "p_partkey")
    assert all(w == 0 for w in bm)
    assert bloom_probe(li, "l_partkey", bm).count() == 0
    assert bloom_semi_join(li, empty_part, "l_partkey", "p_partkey").count() == 0
    empty_li = li.filter(F.col("l_orderkey") < 0)
    part = load_table(spark, SF_DIR, "part")
    assert bloom_semi_join(empty_li, part, "l_partkey", "p_partkey").count() == 0


def test_quota_batch_on_empty(spark, empty_docs):
    from sql_query_engine_spark.streaming import quota

    assert quota.quota_batch(empty_docs, cap=10).count() == 0


def test_audio_decode_on_empty(spark, empty_docs):
    from sql_query_engine_spark.functions import multimodal

    audio = multimodal.synthesize_audio(empty_docs)
    assert multimodal.decode_audio(audio).count() == 0


def test_union_find_on_empty_edges(spark, empty_docs):
    """The driver fast path with zero edges must return an empty label
    frame (createDataFrame([], ddl) path)."""
    from sql_query_engine_spark.functions.dedup import _driver_union_find

    empty_edges = spark.createDataFrame([], "src long, dst long")
    assert _driver_union_find(spark, empty_edges).count() == 0


def test_pca_on_empty_raises_cleanly(spark, empty_emb):
    import pytest as _pytest

    from sql_query_engine_spark.functions.pca import principal_components

    with _pytest.raises(ValueError, match="non-empty"):
        principal_components(empty_emb, dim=64)


def test_round3_additions_on_empty(spark, empty_docs, empty_emb, empty_events):
    from sql_query_engine_spark.functions import bpe
    from sql_query_engine_spark.functions.similarity import random_projection
    from sql_query_engine_spark.streaming.cdc import cdc_batch

    assert dedup.ngram_containment_pairs(empty_docs).count() == 0
    assert random_projection(empty_emb).count() == 0
    assert bpe.encode_counts(empty_docs).count() == 0
    assert cdc_batch(empty_events).count() == 0


def test_pagerank_on_edgeless_graph_is_uniform(spark):
    """Every-node-dangling degenerate case: with no cross-source pairs the
    fixpoint is exactly uniform 1/N (mass recirculates through the
    dangling term) — pin it on a one-doc-per-source corpus, which can
    have no near-dup pairs at all."""
    import sys

    from sql_query_engine_spark.queries import pipeline_source_authority

    # six docs with fully DISJOINT vocabularies: no shared shingle can
    # exist, so the LSH candidate set — and the source graph — is empty
    rows = [
        (i, " ".join(f"s{i}w{j} t{i}x{j} u{i}y{j}" for j in range(12)),
         "en", f"solo{i}", 100)
        for i in range(6)
    ]
    one_per_source = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )

    # drive the same builder against the reduced corpus via a
    # monkeypatched loader (the builder only consumes `documents`).
    # NB: the package __init__ re-exports a `queries` FUNCTION, which
    # shadows the module on attribute access — go through sys.modules.
    qmod = sys.modules["sql_query_engine_spark.queries"]

    orig = qmod._t
    try:
        qmod._t = lambda spark, sf_dir, name: (
            one_per_source if name == "documents" else orig(spark, sf_dir, name)
        )
        out = {r.source: r.authority
               for r in pipeline_source_authority(spark, SF_DIR).collect()}
    finally:
        qmod._t = orig
    n = len(out)
    assert n > 0
    for v, a in out.items():
        assert abs(a - 1.0 / n) < 1e-9, (v, a)


def test_round4_ops_on_empty(spark, empty_docs):
    """Round-4 additions on a zero-row corpus: substring spans, the
    media synthesize→decode chains, and the registry queries behind
    them must all yield empty results, not errors."""
    from sql_query_engine_spark.functions import multimodal as mm

    assert dedup.substring_span_pairs(empty_docs).count() == 0
    assert mm.jpeg_pixel_stats(mm.synthesize_jpeg_pixels(empty_docs)).count() == 0
    assert mm.flac_sample_stats(mm.synthesize_flac_samples(empty_docs)).count() == 0
