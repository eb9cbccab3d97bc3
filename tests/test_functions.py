"""Unit tests for the text / dedup / similarity / multimodal libraries.

These complement the oracle checks (tools/check_oracle.py runs the full
engine-vs-DuckDB comparison); here we pin *semantic properties* that an
oracle can't express — dedup actually finds the planted near-dups,
LSH recall vs the exact top-k, multimodal batch plumbing, stub behavior.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sql_query_engine_spark.catalog import load_table
from sql_query_engine_spark.functions import dedup, multimodal, similarity, text
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def docs(spark):
    return load_table(spark, SF_DIR, "documents")


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF_DIR, "embeddings")


# ---------------------------------------------------------------- dedup --

def test_minhash_lsh_finds_exact_jaccard_dups(spark, docs):
    """LSH candidates + verification must find exactly the pairs the
    exact quadratic method finds at the same threshold (recall 1.0 here —
    near-dups at J≈0.97 collide in some band with near certainty)."""
    lsh = {(r.doc_a, r.doc_b) for r in dedup.minhash_lsh_pairs(docs).collect()}
    exact = {(r.doc_a, r.doc_b) for r in dedup.ngram_jaccard_pairs(docs).collect()}
    assert lsh == exact
    assert len(exact) > 0  # the corpus has planted near-dups


def test_minhash_arraymin_sigs_match_aggregate_form(spark, docs):
    """The map-only array_min band table (minhash_bands) must carry the
    same (doc_id, band, bsig) rows as bands assembled from the explode +
    groupBy(doc_id) min-aggregate reference (minhash_signatures) — same
    (a*x+b) % P arithmetic, same min, per permutation."""
    from sql_query_engine_spark.functions.dedup import (
        N_BANDS,
        ROWS_PER_BAND,
        minhash_bands,
        minhash_signatures,
    )

    ref = {
        (r.doc_id, j, "-".join(
            str(r[f"mh{j * ROWS_PER_BAND + k}"]) for k in range(ROWS_PER_BAND)
        ))
        for r in minhash_signatures(docs).collect()
        for j in range(N_BANDS)
    }
    got = {
        tuple(r)
        for r in minhash_bands(docs).select("doc_id", "band", "bsig").collect()
    }
    assert got == ref and len(got) > 0


def test_ngram_postings_expansion_matches_self_join(spark, docs):
    """The r16 sorted-postings in-row pair expansion must produce the
    same (pair, intersection-count) multiset as the inverted-index
    self-join it replaced."""
    from pyspark.sql import Window

    from sql_query_engine_spark.functions.dedup import (
        NGRAM_DF_CAP,
        shingled_docs,
    )

    ex = shingled_docs(docs).select("doc_id", F.explode("sh").alias("s"))
    kept = (
        ex.withColumn("df", F.count("*").over(Window.partitionBy("s")))
        .filter(F.col("df") <= NGRAM_DF_CAP)
        .drop("df")
    )
    a, b = kept.alias("a"), kept.alias("b")
    ref = {
        (r.doc_a, r.doc_b): r.i
        for r in a.join(b, "s")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("i"))
        .collect()
    }
    ids = (
        ex.groupBy("s")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .filter(F.size("ids") <= NGRAM_DF_CAP)
    )
    got = {
        (r.doc_a, r.doc_b): r.i
        for r in ids.filter(F.size("ids") >= 2)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(ids, (x, i) -> "
                    "transform(slice(ids, i + 2, size(ids) - i - 1), "
                    "y -> struct(x as doc_a, y as doc_b))))"
                )
            ).alias("p")
        )
        .select("p.doc_a", "p.doc_b")
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("i"))
        .collect()
    }
    assert got == ref and len(got) > 0


def test_ngram_jaccard_duplicated_doc_id_has_no_self_pairs(spark):
    """A corpus holding a doc_id twice puts that id twice in a sorted
    postings list; the in-row pair expansion must not turn it into a
    doc_a == doc_b self-pair — the rows equal the DuckDB twin's
    a.doc_id < b.doc_id self-join exactly (ADVICE r16)."""
    import duckdb
    import pandas as pd

    base = " ".join(f"word{i}" for i in range(30))
    rows = [
        (1, base),
        (1, base),  # the duplicated doc_id
        (2, base + " tail extra"),
        (3, "nothing shared with the others at all here"),
    ]
    got = sorted(
        tuple(r) for r in dedup.ngram_jaccard_pairs(
            spark.createDataFrame(rows, "doc_id long, text string")
        ).collect()
    )
    assert got and all(a < b for a, b, _j in got)
    con = duckdb.connect()
    con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text"]))
    want = sorted(
        tuple(r) for r in con.execute(
            dedup.ngram_jaccard_pairs_oracle()).fetchall()
    )
    assert got == want


def test_exact_dedup_partitions_corpus(spark, docs):
    total = docs.count()
    dd = dedup.exact_dedup(docs)
    agg = dd.agg(F.sum("n_copies").alias("s"), F.count("*").alias("groups")).collect()[0]
    assert agg.s == total
    assert agg.groups <= total


def test_simhash_near_dups_have_small_hamming(spark, docs):
    """Jaccard near-dup pairs must land at tiny Hamming distance; the
    overall pair population must not (fingerprints are discriminative)."""
    jac = {(r.doc_a, r.doc_b) for r in dedup.ngram_jaccard_pairs(docs).collect()}
    ham = {
        (r.doc_a, r.doc_b): r.hamming
        for r in dedup.simhash_pairs(docs, max_hamming=48).collect()
    }
    for pair in jac:
        assert ham[pair] <= 8, f"near-dup {pair} at hamming {ham[pair]}"
    # random pairs concentrate near 24/48 — the median must be far from 0
    import statistics

    assert statistics.median(ham.values()) > 12


def test_simhash_lsh_equals_allpairs(spark, docs):
    """Banded LSH must reproduce the all-pairs result EXACTLY at the same
    threshold: hamming ≤ 3 < 4 bands ⇒ pigeonhole guarantees a band
    collision, verification removes false positives."""
    lsh = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in dedup.simhash_lsh_pairs(docs, max_hamming=3).collect()
    }
    allp = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in dedup.simhash_pairs(docs, max_hamming=3).collect()
    }
    assert lsh == allp
    with pytest.raises(ValueError):
        dedup.simhash_lsh_pairs(docs, max_hamming=4)  # beyond the guarantee


def test_simhash_uses_all_48_bits(spark, docs):
    """Round-1 defect regression: votes fed from x % MERSENNE_P zeroed
    bits 33-47. The high 15 bits must carry signal now."""
    fps = [r.simhash for r in dedup.simhash_fingerprints(docs).collect()]
    assert any(fp >> 33 for fp in fps)


def test_embedding_neardup_threshold(spark, emb):
    pairs = dedup.embedding_neardup_pairs(emb, threshold=0.45).collect()
    for r in pairs:
        assert r.cos >= 0.45


# ----------------------------------------------------------- similarity --

def test_lsh_ann_results_subset_of_exact_topk(spark, emb):
    """Every ANN hit must appear in the exact scoring order: for a given
    query, the ANN ranking restricted to its bucket preserves the exact
    cosine ordering."""
    exact = {
        (r.query_id, r.neighbor_id): r.cos
        for r in similarity.cosine_topk(emb, k=500, n_queries=8).collect()
    }
    ann = similarity.lsh_bucket_topk(emb, k=5, n_queries=8).collect()
    assert len(ann) > 0
    for r in ann:
        assert (r.query_id, r.neighbor_id) in exact
        assert abs(exact[(r.query_id, r.neighbor_id)] - r.cos) < 1e-9


def test_cosine_topk_ranks_descending(spark, emb):
    rows = similarity.cosine_topk(emb, k=10, n_queries=4).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append((r.rank, r.cos))
    for q, rs in by_q.items():
        rs.sort()
        coss = [c for _, c in rs]
        assert coss == sorted(coss, reverse=True)
        assert [r for r, _ in rs] == list(range(1, len(rs) + 1))


# ----------------------------------------------------------------- text --

def test_text_quality_bounded(spark, docs):
    rows = text.with_quality(docs).select("quality").collect()
    assert all(0.0 <= r.quality <= 1.0 for r in rows)


def test_token_counts_positive(spark, docs):
    rows = text.with_token_counts(docs).collect()
    assert all(r.n_tokens > 0 and r.n_ws_tokens > 0 for r in rows)


def test_fingerprint_deterministic_and_content_sensitive(spark, docs):
    a = {r.doc_id: r.fp for r in text.with_fingerprint(docs).select("doc_id", "fp").collect()}
    b = {r.doc_id: r.fp for r in text.with_fingerprint(docs).select("doc_id", "fp").collect()}
    assert a == b
    # distinct texts ⇒ overwhelmingly distinct fingerprints
    assert len(set(a.values())) > 0.95 * len(a)


def test_lang_id_known_values(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat sat on the mat and the dog is here"),
            (2, "el gato y la casa que el perro"),
            (3, "le chat et les maisons est grande"),
            (4, "der hund und die katze und der vogel"),
            (5, "zzz qqq xxx"),
        ],
        "doc_id int, text string",
    )
    got = {r.doc_id: r.lang_id for r in text.with_lang_id(df).collect()}
    assert got == {1: "en", 2: "es", 3: "fr", 4: "de", 5: "und"}


# ------------------------------------------------------------- chunking --

def test_chunk_udtf_equals_sql_twin(spark, docs):
    """The Python UDTF and the JVM sequence/slice formulation must emit
    identical chunk rows."""
    from sql_query_engine_spark.functions import chunking

    a = {
        (r.doc_id, r.chunk_idx): (r.chunk, r.n_tokens)
        for r in chunking.chunk_documents_udtf(spark, docs).collect()
    }
    b = {
        (r.doc_id, r.chunk_idx): (r.chunk, r.n_tokens)
        for r in chunking.chunk_documents_sql(docs).collect()
    }
    assert a == b
    assert len(a) > len(docs.collect())  # long docs produce several chunks


def test_two_phase_packing_equals_global_window(spark, docs):
    """The shard-parallel two-phase prefix sum (functions/packing.py)
    must be bit-identical to the naive single-partition global window:
    the shard key doc_id DIV width is monotone in doc_id, so the
    composite order is the same total order."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from sql_query_engine_spark.functions import chunking, packing

    chunks = chunking.chunk_documents_sql(docs)
    w = Window.orderBy("doc_id", "chunk_idx").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    naive = {
        (r.doc_id, r.chunk_idx): r.cum
        for r in chunks.select(
            "doc_id", "chunk_idx", F.sum("n_tokens").over(w).alias("cum")
        ).collect()
    }
    # width=2 forces many shards even on the tiny fixture
    two_phase = {
        (r.doc_id, r.chunk_idx): r.cum_tokens
        for r in packing.cumulative_tokens(chunks, shard_width=2).collect()
    }
    assert naive == two_phase and len(naive) > 0


def test_chunk_overlap_property(spark):
    from sql_query_engine_spark.functions import chunking

    df = spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(100)))], "doc_id long, text string"
    )
    rows = sorted(
        chunking.chunk_documents_udtf(spark, df, size=40, stride=30).collect(),
        key=lambda r: r.chunk_idx,
    )
    assert [r.chunk_idx for r in rows] == [0, 1, 2]
    c0, c1 = rows[0].chunk.split(), rows[1].chunk.split()
    assert c0[30:] == c1[:10]  # 10-token overlap
    assert rows[2].n_tokens == 40


# ------------------------------------------------------------- clusters --

def test_dedup_clusters_properties(spark, docs):
    """Cluster map: total cover, pair-connectedness, min-id canonicals."""
    from pyspark.sql import functions as PF

    pairs = dedup.minhash_lsh_pairs(docs)
    clusters = dedup.dedup_clusters(docs, pairs)
    cmap = {r.doc_id: r.cluster_id for r in clusters.collect()}
    assert len(cmap) == docs.count()
    # every pair ends up in one cluster
    for r in pairs.collect():
        assert cmap[r.doc_a] == cmap[r.doc_b]
    # canonical id is the min member id of its cluster
    members: dict[int, list[int]] = {}
    for d, c in cmap.items():
        members.setdefault(c, []).append(d)
    for c, ds in members.items():
        assert c == min(ds)
    # there is at least one non-singleton cluster (planted dups)
    assert any(len(ds) > 1 for ds in members.values())


def test_dedup_clusters_reliable_checkpoint(spark, docs, tmp_path):
    """checkpoint_dir switches lineage truncation to reliable
    checkpoint(): same cluster map, and checkpoint files actually land
    in the directory (what survives executor loss on a real cluster)."""
    import os

    pairs = dedup.minhash_lsh_pairs(docs)
    base = {r.doc_id: r.cluster_id for r in dedup.dedup_clusters(docs, pairs).collect()}
    ckdir = str(tmp_path / "ck")
    rel = {
        r.doc_id: r.cluster_id
        for r in dedup.dedup_clusters(
            docs, pairs, checkpoint_dir=ckdir, driver_threshold=0
        ).collect()
    }
    assert rel == base
    found = [f for _, _, fs in os.walk(ckdir) for f in fs]
    assert found, "reliable checkpoint wrote no files"


def test_dedup_clusters_sparse_convergence_probe(spark, docs):
    """check_every=2 halves the per-round count() driver actions (the
    100 TB knob) and must reach the identical fixpoint; a longer chain
    (path graph of 6 nodes) exercises multi-round propagation under the
    sparse probe schedule."""
    from pyspark.sql import functions as PF

    pairs = dedup.minhash_lsh_pairs(docs)
    base = {r.doc_id: r.cluster_id for r in dedup.dedup_clusters(docs, pairs).collect()}
    stats: dict = {}
    sparse = {
        r.doc_id: r.cluster_id
        for r in dedup.dedup_clusters(
            docs, pairs, stats=stats, check_every=2, driver_threshold=0
        ).collect()
    }
    assert sparse == base
    assert stats["rounds"] % 2 == 0  # probes only fire on even rounds

    chain_docs = spark.range(6).select(PF.col("id").alias("doc_id"))
    chain_pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(5)], "doc_a long, doc_b long"
    )
    got = {
        r.doc_id: r.cluster_id
        for r in dedup.dedup_clusters(
            chain_docs, chain_pairs, check_every=3, driver_threshold=0
        ).collect()
    }
    assert got == {i: 0 for i in range(6)}


def test_dedup_clusters_driver_path_equals_distributed(spark, docs):
    """Hybrid execution: the driver union-find fast path (edge list below
    driver_threshold) must produce the bit-identical cluster map to the
    distributed propagation — on the real LSH pair graph AND on a random
    multi-component graph with longer chains."""
    import random

    from pyspark.sql import functions as PF

    pairs = dedup.minhash_lsh_pairs(docs)
    st_d, st_p = {}, {}
    fast = {
        r.doc_id: r.cluster_id
        for r in dedup.dedup_clusters(docs, pairs, stats=st_d).collect()
    }
    dist = {
        r.doc_id: r.cluster_id
        for r in dedup.dedup_clusters(
            docs, pairs, stats=st_p, driver_threshold=0
        ).collect()
    }
    assert st_d["path"] == "driver-union-find"
    assert st_p["path"] == "distributed-propagation"
    assert fast == dist

    rng = random.Random(7)
    n = 400
    redges = [
        (rng.randrange(n), rng.randrange(n)) for _ in range(300)
    ]
    rdocs = spark.range(n).select(PF.col("id").alias("doc_id"))
    rpairs = spark.createDataFrame(
        [(a, b) for a, b in redges if a != b], "doc_a long, doc_b long"
    )
    fast_r = {
        r.doc_id: r.cluster_id
        for r in dedup.dedup_clusters(rdocs, rpairs).collect()
    }
    dist_r = {
        r.doc_id: r.cluster_id
        for r in dedup.dedup_clusters(
            rdocs, rpairs, driver_threshold=0, max_iter=50
        ).collect()
    }
    assert fast_r == dist_r


def test_dedup_clusters_empty_pairs_both_paths(spark, docs):
    """No pairs → everyone is their own cluster, on both paths."""
    empty = spark.createDataFrame([], "doc_a long, doc_b long")
    for thr in (5_000_000, 0):
        got = dedup.dedup_clusters(docs, empty, driver_threshold=thr)
        assert got.filter(F.col("cluster_id") != F.col("doc_id")).count() == 0
        assert got.count() == docs.count()


def test_text_idf_builds_lazily(spark):
    """Regression: text_idf used to run docs.count() (a Spark job) at
    DataFrame-construction time. Tag construction with a job group and
    assert no job ran in it."""
    from sql_query_engine_spark.queries import queries
    from tests.conftest import SF_DIR

    from sql_query_engine_spark.catalog import load_table

    sc = spark.sparkContext
    # Baseline: a bare parquet load runs Spark's file-listing/schema job.
    sc.setJobGroup("idf-baseline", "")
    load_table(spark, SF_DIR, "documents")
    n_load = len(sc.statusTracker().getJobIdsForGroup("idf-baseline"))

    sc.setJobGroup("idf-construction", "text_idf must not run jobs eagerly")
    try:
        df = queries()["text_idf"](spark, SF_DIR)
    finally:
        jobs = sc.statusTracker().getJobIdsForGroup("idf-construction")
        sc.setJobGroup("", "")
    # The old eager docs.count() added a full compute job on top of the
    # metadata job(s) a table load always costs.
    assert len(jobs) <= n_load
    assert df.count() > 0  # the plan still executes fine


# ----------------------------------------------------------- multimodal --

def test_multimodal_feature_extraction(spark, docs):
    feats = multimodal.extract_features(multimodal.attach_binary_payload(docs))
    rows = feats.collect()
    assert len(rows) == docs.count()
    byid = {r.doc_id: r for r in rows}
    src = {r.doc_id: r.text for r in docs.select("doc_id", "text").collect()}
    for did, r in byid.items():
        assert r.n_bytes == len(src[did].encode("utf-8"))
        assert r.first_byte == src[did].encode("utf-8")[0]


def test_multimodal_metadata_struct(spark, docs):
    wp = multimodal.attach_binary_payload(docs)
    assert dict(wp.dtypes)["payload"] == "binary"
    row = wp.select("meta.mime", "meta.orig_chars").first()
    assert row.mime == "text/plain"
    assert row.orig_chars > 0


def test_frame_sampling(spark, docs):
    """Frame fan-out: counts follow ceil(len/stride); frames re-hash to
    the source byte slices."""
    import hashlib

    frames = multimodal.sample_frames(multimodal.attach_binary_payload(docs))
    rows = frames.collect()
    src = {r.doc_id: r.text.encode() for r in docs.select("doc_id", "text").collect()}
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    for did, blob in src.items():
        expected_frames = (len(blob) - 1) // 250 + 1 if blob else 0
        got = sorted(by_doc.get(did, []), key=lambda r: r.frame_idx)
        assert len(got) == expected_frames
        for r in got:
            sl = blob[r.frame_idx * 250 : r.frame_idx * 250 + 100]
            assert r.frame_md5 == hashlib.md5(sl).hexdigest()
            assert r.frame_bytes == len(sl)


def test_decode_real_png_hand_built():
    # hand-assembled: signature + IHDR(13) w=2, h=3, depth=8, color=2 (RGB)
    import zlib

    ihdr = (2).to_bytes(4, "big") + (3).to_bytes(4, "big") + bytes([8, 2, 0, 0, 0])
    raw = (
        b"\x89PNG\r\n\x1a\n"
        + (13).to_bytes(4, "big") + b"IHDR" + ihdr
        + zlib.crc32(b"IHDR" + ihdr).to_bytes(4, "big")
    )
    assert multimodal.decode_real(raw) == ("png", 2, 3, 3, 8)
    # grayscale+alpha, 16-bit
    assert multimodal.decode_real(multimodal.build_png(640, 480, 4, 16)) == (
        "png", 640, 480, 2, 16,
    )


def test_decode_real_jpeg_segment_walk():
    # SOF0 hidden behind APP0 + COM segments; parser must walk, not scan
    com = b"\xff\xfe\x00\x04ab"
    sof = b"\xff\xc0\x00\x0b\x08\x01\x00\x02\x80\x01\x01\x11\x00"
    raw = b"\xff\xd8" + com + sof + b"\xff\xd9"
    assert multimodal.decode_real(raw) == ("jpeg", 640, 256, 1, 8)
    # progressive (SOF2) with restart-marker noise before it
    raw2 = b"\xff\xd8" + b"\xff\x01" + com + sof.replace(b"\xc0", b"\xc2")
    assert multimodal.decode_real(raw2) == ("jpeg", 640, 256, 1, 8)


def test_decode_real_gif_and_rejects():
    assert multimodal.decode_real(b"GIF89a\x20\x01\xf4\x01\x70\x00\x00\x3b") == (
        "gif", 288, 500, 3, 8,
    )
    assert multimodal.decode_real(b"GIF87a" + multimodal.build_gif(5, 7)[6:]) == (
        "gif", 5, 7, 3, 8,
    )
    # rejects: truncation, wrong magic, scan-before-SOF, bad color type
    assert multimodal.decode_real(b"\x89PNG\r\n\x1a\n\x00\x00") is None
    assert multimodal.decode_real(b"not an image") is None
    assert multimodal.decode_real(None) is None
    assert multimodal.decode_real(b"\xff\xd8\xff\xda\x00\x02") is None
    bad = bytearray(multimodal.build_png(4, 4))
    bad[25] = 9  # invalid color type
    assert multimodal.decode_real(bytes(bad)) is None


def test_decode_media_round_trip(spark, docs):
    out = multimodal.decode_media(multimodal.synthesize_media(docs)).collect()
    assert len(out) == docs.count()
    for r in out:
        w, h = multimodal.media_dims(r.doc_id)
        assert (r.width, r.height, r.bit_depth) == (w, h, 8)
        assert r.format == ("png", "jpeg", "gif")[r.doc_id % 3]


def test_decode_audio_real_wav_hand_built():
    # RIFF/WAVE, fmt: PCM stereo 16-bit 8 kHz, data: 4 frames (16 bytes)
    fmt_body = (
        b"\x01\x00"  # PCM
        + b"\x02\x00"  # 2 channels
        + (8000).to_bytes(4, "little")
        + (32000).to_bytes(4, "little")  # byte rate
        + b"\x04\x00"  # block align
        + b"\x10\x00"  # 16 bits
    )
    wav = (
        b"RIFF" + (52).to_bytes(4, "little") + b"WAVE"
        + b"fmt " + (16).to_bytes(4, "little") + fmt_body
        + b"data" + (16).to_bytes(4, "little") + b"\x00" * 16
    )
    assert multimodal.decode_audio_real(wav) == ("wav", 8000, 2, 16, 4)
    # an unknown chunk before fmt must be skipped by the chunk walk
    wav2 = (
        b"RIFF" + (60).to_bytes(4, "little") + b"WAVE"
        + b"LIST" + (4).to_bytes(4, "little") + b"INFO"
        + wav[12:]
    )
    assert multimodal.decode_audio_real(wav2) == ("wav", 8000, 2, 16, 4)


def test_decode_audio_real_flac_bit_unpack():
    got = multimodal.decode_audio_real(multimodal.build_flac(44100, 2, 24, 123456))
    assert got == ("flac", 44100, 2, 24, 123456)
    # 36-bit sample-count ceiling
    big = multimodal.build_flac(48000, 1, 16, (1 << 36) - 1)
    assert multimodal.decode_audio_real(big)[4] == (1 << 36) - 1


def test_decode_audio_real_rejects():
    assert multimodal.decode_audio_real(None) is None
    assert multimodal.decode_audio_real(b"not audio") is None
    assert multimodal.decode_audio_real(b"RIFF\x00\x00\x00\x00AVI ") is None
    # truncated WAV (header only, no chunks)
    assert multimodal.decode_audio_real(b"RIFF\x24\x00\x00\x00WAVE") is None
    # FLAC whose first metadata block is not STREAMINFO (type 4 = VORBIS_COMMENT)
    bad = bytearray(multimodal.build_flac(8000, 1, 16, 10))
    bad[4] = 0x04
    assert multimodal.decode_audio_real(bytes(bad)) is None
    # zero sample rate is not a decodable clip
    zero = multimodal.build_flac(0, 1, 16, 10)
    assert multimodal.decode_audio_real(zero) is None


def test_decode_audio_round_trip(spark, docs):
    out = multimodal.decode_audio(multimodal.synthesize_audio(docs)).collect()
    assert len(out) == docs.count()
    for r in out:
        fmt, rate, ch, bits, n = multimodal.audio_params(r.doc_id)
        assert (r.format, r.sample_rate, r.channels, r.bit_depth, r.n_samples) == (
            fmt, rate, ch, bits, n,
        )
        assert r.duration_ms == n * 1000.0 / rate


def test_observed_quality_gate_metrics_ride_the_job(spark, docs):
    """observe() metrics must be exact and cost no extra pass: one action
    on the gated frame yields both the admitted rows and the admission
    accounting, and the numbers must reconcile with explicit recounts."""
    from sql_query_engine_spark.functions.observe import (
        observed_quality_gate,
        quality_keep_predicate,
    )

    gated, obs = observed_quality_gate(docs)
    admitted_rows = gated.count()  # the ONE job; metrics piggyback on it
    m = obs.get
    assert m["n_seen"] == docs.count()
    assert m["n_admitted"] == admitted_rows
    assert m["n_admitted"] == docs.filter(quality_keep_predicate()).count()
    assert 0 <= m["n_low_quality"] <= m["n_seen"]
    assert m["n_too_short"] + m["n_too_long"] <= m["n_seen"]
    expected_chars = (
        docs.filter(quality_keep_predicate())
        .agg(F.sum(F.length("text")))
        .collect()[0][0]
    )
    assert m["sum_admitted_chars"] == expected_chars
    # rejection accounting covers every rejected doc (reasons may overlap,
    # so the sum is an upper bound cross-check, not an equality)
    assert m["n_seen"] - m["n_admitted"] <= (
        m["n_too_short"] + m["n_too_long"] + m["n_low_quality"]
        + m["n_lang_unknown"]
    )


def test_decode_video_real_box_walk_and_rejects():
    got = multimodal.decode_video_real(multimodal.build_mp4(90000, 450000, 1920, 1080))
    assert got == (90000, 450000, 1920, 1080)
    # unknown sibling boxes before moov must be skipped by the walk
    b = multimodal.build_mp4(600, 1200, 640, 360)
    ftyp_end = int.from_bytes(b[:4], "big")
    junk = (16).to_bytes(4, "big") + b"free" + b"\x00" * 8
    assert multimodal.decode_video_real(
        b[:ftyp_end] + junk + b[ftyp_end:]
    ) == (600, 1200, 640, 360)
    # rejects: no ftyp brand, truncated box, corrupt size
    assert multimodal.decode_video_real(b"nope") is None
    assert multimodal.decode_video_real(b[:20]) is None
    bad = bytearray(b)
    bad[ftyp_end] = 0xFF  # moov size explodes past the buffer
    assert multimodal.decode_video_real(bytes(bad)) is None
    assert multimodal.decode_video_real(None) is None


def test_decode_video_round_trip(spark, docs):
    out = multimodal.decode_video(multimodal.synthesize_video(docs)).collect()
    assert len(out) == docs.count()
    for r in out:
        ts, dur, w, h = multimodal.video_params(r.doc_id)
        assert (r.format, r.timescale, r.duration_units, r.width, r.height) == (
            "mp4", ts, dur, w, h,
        )
        assert r.duration_ms == dur * 1000.0 / ts


def test_route_and_decode_dispatch_and_rejects(spark, docs):
    """The router must classify every synthesized payload by magic bytes
    alone, and corrupt payloads must land as modality NULL rows."""
    routed = multimodal.route_and_decode(
        multimodal.synthesize_mixed_media(docs)
    ).collect()
    assert len(routed) == docs.count()
    for r in routed:
        expected = ("image", "audio", "video")[r.doc_id % 3]
        assert r.modality == expected, (r.doc_id, r.modality)
        assert r.n_bytes > 0
        if r.modality == "image":
            w, h = multimodal.media_dims(r.doc_id)
            assert (r.dim_a, r.dim_b, r.duration_ms) == (w, h, None)
        elif r.modality == "audio":
            _, rate, ch, _, n = multimodal.audio_params(r.doc_id)
            assert (r.dim_a, r.dim_b) == (rate, ch)
            assert r.duration_ms == n * 1000.0 / rate
        else:
            ts, dur, w, h = multimodal.video_params(r.doc_id)
            assert (r.dim_a, r.dim_b) == (w, h)
            assert r.duration_ms == dur * 1000.0 / ts

    import pandas as pd

    garbage = spark.createDataFrame(
        [(1, bytearray(b"certainly not media")), (2, None)],
        "doc_id long, payload binary",
    )
    got = {r.doc_id: r.modality for r in
           multimodal.route_and_decode(garbage).collect()}
    assert got == {1: None, 2: None}


def _python_stages(df) -> int:
    return df._jdf.queryExecution().executedPlan().toString().count("MapInPandas")


def test_cached_synth_output_decodes_two_stage_with_fused_rows(spark, docs):
    """A decode applied straight to a synthesizer fuses both into one
    Python stage; once the synth output is cached, the decode must read
    the cached bytes instead (two stages) and give the same rows."""
    synth = multimodal.synthesize_png_pixels(docs)
    fused = multimodal.pixel_stats(synth)
    assert _python_stages(fused) == 1
    synth.cache()
    try:
        two_stage = multimodal.pixel_stats(synth)
        assert _python_stages(two_stage) == 2
        want = sorted(fused.collect())
        assert want and sorted(two_stage.collect()) == want
    finally:
        synth.unpersist()


# What a rejected payload yields where it is not None: the two codecs
# that classify rather than decode still give a row, and a fan-out codec
# gives no rows.
_REJECTED = {
    "sniff": lambda cut: ("unknown",),
    "mixed_media": lambda cut: (None, None, len(cut), None, None, None),
    "gif_animation": lambda cut: [],
}
# Codecs that read only the container header, so a payload cut in half
# (header intact) still decodes.
_HEADER_ONLY = {"media", "audio", "mixed_media", "sniff"}


def test_codec_table_contract():
    """Every codec's row function gives len(schema) - 1 fields on each
    built payload, and rejects truncated ones (None, or no rows for a
    fan-out) — no Spark needed."""
    assert len(multimodal.CODECS) >= 37
    for name, codec in multimodal.CODECS.items():
        width = len(codec.schema) - 1
        for d in (0, 1, 2, 3, 7, 11):
            payload = codec.build(d)
            out = codec.row(payload)
            rows = out if isinstance(out, list) else [out]
            assert rows, (name, d)
            for r in rows:
                assert isinstance(r, tuple) and len(r) == width, (name, d, r)
            cuts = [payload[:11]]
            if name not in _HEADER_ONLY:
                cuts.append(payload[: len(payload) // 2])
            for cut in cuts:
                want = _REJECTED.get(name, lambda cut: None)(cut)
                assert codec.row(cut) == want, (name, d, len(cut))


def test_codec_rows_reject_degenerate_streams():
    """Two payloads the codec fuzz found: a well-formed WAV with an
    empty data chunk (no samples, so no mean) and an MJPEG-in-MP4 whose
    stsz declares 2^32-1 fixed-size samples. Both reject to None; before,
    the first raised ZeroDivisionError in the stats projection and the
    second tried to allocate a 2^32-entry size list."""
    codecs = multimodal.CODECS
    assert codecs["wav"].row(multimodal.build_wav(8000, 1, 16, 0)) is None
    assert codecs["wav_stereo"].row(multimodal.build_wav(8000, 2, 16, 0)) is None
    mp4 = bytearray(multimodal.build_mjpeg_mp4_pixels(1))
    i = mp4.index(b"stsz") + 4  # box body: version/flags, size, count
    mp4[i + 4 : i + 12] = (1).to_bytes(4, "big") + (2**32 - 1).to_bytes(4, "big")
    assert codecs["mjpeg_video"].row(bytes(mp4)) is None


def test_decode_loop_rejects_to_typed_nulls(spark):
    """One Spark round trip through the general decode path: a rejected
    payload comes out as one row of NULLs, and the integer columns keep
    the schema's types (no float NaN detour)."""
    codec = multimodal.CODECS["png16"]
    media = spark.createDataFrame(
        [(1, bytearray(codec.build(1))), (2, bytearray(b"not a png")), (3, None)],
        "doc_id long, payload binary",
    )
    out = multimodal.png16_stats(media)
    assert out.schema == codec.schema
    got = {r.doc_id: tuple(r)[1:] for r in out.collect()}
    assert got[1] == codec.row(codec.build(1))
    assert all(isinstance(v, int) for v in got[1])
    assert got[2] == got[3] == (None,) * (len(codec.schema) - 1)

    # a long above 2**53 next to a NULL in the same batch stays exact
    from pyspark.sql.types import LongType, StructField, StructType

    big = 2**60 + 1
    wide = multimodal._decode_df(
        media.coalesce(1),
        lambda p: None if p is None else (big,),
        StructType([StructField("doc_id", LongType(), False),
                    StructField("v", LongType(), True)]),
    )
    assert {r.doc_id: r.v for r in wide.collect()} == {1: big, 2: big, 3: None}


def test_containment_catches_doc_inside_doc_where_jaccard_misses(spark):
    """The motivating asymmetry: a short doc quoted wholesale inside a
    much longer one must score containment ~1 while the same pair's
    Jaccard sits far below the 0.5 dedup threshold."""
    short = "alpha beta gamma delta epsilon zeta eta theta"
    filler = " ".join(f"word{i} token{i} item{i}" for i in range(60))
    long_doc = filler + " " + short + " " + " ".join(
        f"tail{i} end{i}" for i in range(40)
    )
    df = spark.createDataFrame(
        [(1, short), (2, long_doc)], "doc_id long, text string"
    )
    cont = {
        (r.doc_sub, r.doc_super): r.containment
        for r in dedup.ngram_containment_pairs(df, threshold=0.5).collect()
    }
    assert (1, 2) in cont and cont[(1, 2)] > 0.9
    assert (2, 1) not in cont  # the long doc is NOT contained in the short
    jac = dedup.ngram_jaccard_pairs(df, threshold=0.5).collect()
    assert jac == []  # Jaccard misses the pair entirely at the same bar


def test_containment_directed_rows_share_intersection(spark, docs):
    """For every directed row, containment == i/|sub| re-derived from the
    shingle sets in Python, and the reverse direction exists iff it also
    clears the threshold."""
    sh = {r.doc_id: set(r.sh) for r in dedup.shingled_docs(docs).collect()}
    got = {
        (r.doc_sub, r.doc_super): r.containment
        for r in dedup.ngram_containment_pairs(docs).collect()
    }
    # df-cap: drop shingles in > NGRAM_DF_CAP docs, as the operator does
    from collections import Counter

    df_counts = Counter(s for shset in sh.values() for s in shset)
    capped = {
        d: {s for s in shset if df_counts[s] <= dedup.NGRAM_DF_CAP}
        for d, shset in sh.items()
    }
    for (sub, sup), c in got.items():
        inter = len(capped[sub] & capped[sup])
        assert abs(c - inter / len(capped[sub])) < 1e-6


def test_contrastive_pairs_deterministic_and_well_formed(spark):
    """Anchor set and negatives are pure hash arithmetic: two independent
    runs yield the identical pair set; no anchor draws itself; each
    anchor draws at most K negatives."""
    from sql_query_engine_spark.queries import (
        _NEG_PER_ANCHOR,
        pipeline_contrastive_pairs,
    )
    from tests.conftest import SF_DIR as _SF

    p1 = sorted(
        (r.anchor_id, r.k, r.neg_id)
        for r in pipeline_contrastive_pairs(spark, _SF).collect()
    )
    p2 = sorted(
        (r.anchor_id, r.k, r.neg_id)
        for r in pipeline_contrastive_pairs(spark, _SF).collect()
    )
    assert p1 == p2 and len(p1) > 0
    from collections import Counter

    per_anchor = Counter(a for a, _, _ in p1)
    assert all(n <= _NEG_PER_ANCHOR for n in per_anchor.values())
    assert all(a != n for a, _, n in p1)


def test_bpe_word_merges_follow_rank_order():
    """Hand-checked merge traces: 'the' collapses via t+h → th+e; a word
    with no applicable merges stays fully split."""
    from sql_query_engine_spark.functions.bpe import bpe_word

    assert bpe_word("the") == ["the"]
    assert bpe_word("thin") == ["th", "in"]
    assert bpe_word("xyz") == ["x", "y", "z"]
    assert bpe_word("a") == ["a"]
    assert bpe_word("ing") == ["ing"]  # i+n first (rank 2), then in+g


def test_bpe_encode_counts_match_pure_python(spark, docs):
    """The mapInPandas stage must agree row-for-row with an independent
    pure-Python pass over the same corpus (tokenizer + merge table)."""
    import re

    from sql_query_engine_spark.functions import bpe

    got = {r.doc_id: (r.n_words, r.n_chars_tok, r.n_bpe_tokens)
           for r in bpe.encode_counts(docs).collect()}
    tok = re.compile(r"[a-z0-9]+")
    for r in docs.select("doc_id", "text").collect():
        words = tok.findall((r.text or "").lower())
        exp = (
            len(words),
            sum(len(w) for w in words),
            sum(len(bpe.bpe_word(w)) for w in words),
        )
        assert got[r.doc_id] == exp
    # merges must actually compress: fewer BPE tokens than characters
    total_chars = sum(v[1] for v in got.values())
    total_bpe = sum(v[2] for v in got.values())
    assert total_bpe < 0.85 * total_chars


def test_png_pixel_roundtrip_all_filter_types():
    """Encoder writes rows filtered with types 0-4 in rotation; the
    decoder must unfilter every type back to the exact pixel sums."""
    from sql_query_engine_spark.functions.multimodal import (
        build_png_pixels,
        decode_png_pixels,
        pixel_dims,
        pixel_value,
    )

    for d in (0, 3, 17, 123, 499):
        w, h, sr, sg, sb = decode_png_pixels(build_png_pixels(d))
        assert (w, h) == pixel_dims(d)
        assert h >= 5  # every filter type actually occurs
        exp = [0, 0, 0]
        for x in range(w):
            for y in range(h):
                for c, v in enumerate(pixel_value(d, x, y)):
                    exp[c] += v
        assert [sr, sg, sb] == exp


def test_png_pixel_decode_rejects_corruption():
    """Truncation, bad magic, wrong color type, and mangled IDAT must all
    yield None (NULL rows downstream), never exceptions."""
    import zlib

    from sql_query_engine_spark.functions.multimodal import (
        build_png_pixels,
        decode_png_pixels,
    )

    good = build_png_pixels(7)
    assert decode_png_pixels(good) is not None
    assert decode_png_pixels(good[:40]) is None              # truncated
    assert decode_png_pixels(b"JUNK" + good[4:]) is None     # bad magic
    # flip a byte inside the compressed IDAT: zlib inflate fails
    bad = bytearray(good)
    bad[60] ^= 0xFF
    assert decode_png_pixels(bytes(bad)) is None
    # grayscale (color type 0) decodes, expanded to RGB triplets; RGBA
    # (color type 6) stays outside the contract
    from sql_query_engine_spark.functions.multimodal import _png_chunk

    def one_type(ct: int, bpp: int) -> bytes:
        ihdr = (8).to_bytes(4, "big") + (8).to_bytes(4, "big") \
            + bytes([8, ct, 0, 0, 0])
        return (
            b"\x89PNG\r\n\x1a\n"
            + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", zlib.compress(bytes(8 * (8 * bpp + 1))))
            + _png_chunk(b"IEND", b"")
        )

    assert decode_png_pixels(one_type(0, 1)) == (8, 8, 0, 0, 0)
    assert decode_png_pixels(one_type(6, 4)) is None


def test_readability_known_values(spark):
    """FK grade on hand-computed sentences: simple short text scores low,
    polysyllabic run-ons score high."""
    from sql_query_engine_spark.functions.text import ORACLE_EXPRS

    df = spark.createDataFrame(
        [
            (1, "The cat sat. The dog ran. It was fun."),
            (2, "Extraordinarily sophisticated considerations necessitate "
                "unambiguously comprehensive organizational accountability "
                "notwithstanding internationalization"),
        ],
        "doc_id int, text string",
    )
    rows = {r.doc_id: r for r in df.selectExpr(
        "doc_id",
        f"{ORACLE_EXPRS['n_tokens'][0]} AS w",
        f"{ORACLE_EXPRS['n_sentences'][0]} AS s",
        f"{ORACLE_EXPRS['n_syllables'][0]} AS y",
        f"{ORACLE_EXPRS['fk_grade'][0]} AS fk",
    ).collect()}
    r1, r2 = rows[1], rows[2]
    assert r1.w == 9 and r1.s == 3
    # 0.39*9/3 + 11.8*y/9 - 15.59, y = vowel groups; verify arithmetic
    assert abs(r1.fk - round(0.39 * 9 / 3 + 11.8 * r1.y / 9 - 15.59, 6)) < 1e-9
    assert r2.fk > 15 > r1.fk  # dense text far above simple text


def test_tokenizer_fertility_bounds_and_totals(spark, docs):
    """Fertility ≥ 1 (a word is at least one subword under the BPE-ish
    pretokenizer), and per-language word totals add up to the corpus."""
    from sql_query_engine_spark.queries import text_tokenizer_fertility

    rows = text_tokenizer_fertility(spark, SF_DIR).collect()
    assert len(rows) > 1
    for r in rows:
        assert r.fertility >= 1.0, (r.lang, r.fertility)
        assert r.n_subwords >= r.n_words
    total = sum(r.n_words for r in rows)
    direct = docs.selectExpr(
        "sum(size(regexp_extract_all(lower(text), '[a-z0-9]+', 0))) AS n"
    ).collect()[0].n
    assert total == direct


def test_gif_lzw_roundtrip_including_dictionary_reset():
    """The raw LZW codec round-trips a stream long enough to cross the
    9→10→11→12-bit widths AND the 4096-entry dictionary reset."""
    from sql_query_engine_spark.functions.multimodal import (
        _lzw_decode,
        _lzw_encode,
    )

    stream = bytes((i * 37 + (i >> 3) * 11) % 256 for i in range(30_000))
    enc = _lzw_encode(stream)
    assert _lzw_decode(enc, len(stream)) == stream
    assert len(enc) < len(stream)  # it actually compresses


def test_gif_pixel_roundtrip_and_corruption():
    """Full-container GIF round-trip matches the palette arithmetic;
    damaged payloads yield None, never exceptions."""
    from sql_query_engine_spark.functions.multimodal import (
        build_gif_pixels,
        decode_gif_pixels,
        gif_palette_rgb,
        gif_pixel_index,
        pixel_dims,
    )

    for d in (0, 9, 250):
        w, h, sr, sg, sb = decode_gif_pixels(build_gif_pixels(d))
        assert (w, h) == pixel_dims(d)
        exp = [0, 0, 0]
        for y in range(h):
            for x in range(w):
                for c, v in enumerate(gif_palette_rgb(gif_pixel_index(d, x, y))):
                    exp[c] += v
        assert [sr, sg, sb] == exp

    good = build_gif_pixels(11)
    assert decode_gif_pixels(good[:20]) is None          # truncated
    assert decode_gif_pixels(b"NOPE" + good[4:]) is None  # bad magic
    bad = bytearray(good)
    bad[-20] ^= 0xFF  # damage inside the LZW blocks
    res = decode_gif_pixels(bytes(bad))  # must not raise
    assert res is None or len(res) == 5

    # flags declare a 4-entry palette but the 8-bit LZW stream references
    # index 200: must return None, not IndexError (ADVICE r3)
    from sql_query_engine_spark.functions.multimodal import (
        _GIF_MIN_CODE,
        _lzw_encode,
    )

    lzw = _lzw_encode(bytes([200, 1, 0, 1]))
    blocks = bytearray()
    for i in range(0, len(lzw), 255):
        chunk = lzw[i : i + 255]
        blocks.append(len(chunk))
        blocks += chunk
    blocks.append(0)
    overrun = (
        b"GIF89a"
        + (2).to_bytes(2, "little") + (2).to_bytes(2, "little")
        + bytes([0x81, 0, 0])  # GCT present, size field 1 → 4 entries
        + bytes(12)            # 4-entry palette
        + b"\x2c" + bytes(4)
        + (2).to_bytes(2, "little") + (2).to_bytes(2, "little")
        + b"\x00" + bytes([_GIF_MIN_CODE]) + bytes(blocks) + b"\x3b"
    )
    assert decode_gif_pixels(overrun) is None


def test_wav_pcm_roundtrip_and_corruption():
    """Full PCM decode matches the sample formula; damaged containers
    yield None, never exceptions."""
    from sql_query_engine_spark.functions.multimodal import (
        build_wav_samples,
        decode_wav_samples,
        wav_sample_count,
        wav_sample_value,
    )

    for d in (0, 7, 123):
        rate, n, total, abst, peak = decode_wav_samples(build_wav_samples(d))
        vs = [wav_sample_value(d, i) for i in range(wav_sample_count(d))]
        assert n == len(vs)
        assert (total, abst, peak) == (
            sum(vs), sum(abs(v) for v in vs), max(abs(v) for v in vs)
        )

    good = build_wav_samples(3)
    assert decode_wav_samples(good[:30]) is None          # truncated header
    assert decode_wav_samples(b"JUNK" + good[4:]) is None  # bad magic
    # declared data length beyond the actual bytes → truncated reject
    bad = bytearray(good)
    bad[40:44] = (2**20).to_bytes(4, "little")
    assert decode_wav_samples(bytes(bad)) is None
    # stereo/8-bit variants are outside the mono-16 contract
    from sql_query_engine_spark.functions.multimodal import build_wav

    assert decode_wav_samples(build_wav(8000, 2, 16, 10)) is None


def test_jpeg_pixel_roundtrip_and_corruption():
    """Full baseline JPEG decode: DC-only corpus matches the flat-block
    arithmetic exactly; AC-coefficient blocks match an INDEPENDENT float
    IDCT; damaged/out-of-scope payloads yield None, never exceptions."""
    import math

    from sql_query_engine_spark.functions.multimodal import (
        _JPEG_QTABLE,
        _ZIGZAG,
        build_jpeg,
        build_jpeg_pixels,
        decode_jpeg_pixels,
        jpeg_block_level,
        jpeg_dims,
    )

    # DC-only: decoded mean is exact integer arithmetic
    for d in (0, 9, 250):
        w, h, total = decode_jpeg_pixels(build_jpeg_pixels(d))
        assert (w, h) == jpeg_dims(d)
        nb = (w // 8) * (h // 8)
        exp = sum(64 * (jpeg_block_level(d, k) + 128) for k in range(nb))
        assert total == exp

    # AC coefficients: pin against an independent direct-cosine IDCT
    def ref_sum(doc_id, acb):
        w, h = jpeg_dims(doc_id)
        total = 0
        for k in range((w // 8) * (h // 8)):
            zz = [0.0] * 64
            zz[0] = jpeg_block_level(doc_id, k) * _JPEG_QTABLE[0]
            for zzi, val in acb.get(k, []):
                zz[zzi] = val * _JPEG_QTABLE[zzi]
            coef = {}
            for i, (r, c) in enumerate(_ZIGZAG):
                coef[(r, c)] = zz[i]
            for y in range(8):
                for x in range(8):
                    s = 0.0
                    for u in range(8):
                        for v in range(8):
                            cu = 1 / math.sqrt(2) if u == 0 else 1.0
                            cv = 1 / math.sqrt(2) if v == 0 else 1.0
                            s += (cu * cv / 4 * coef[(u, v)]
                                  * math.cos((2 * x + 1) * u * math.pi / 16)
                                  * math.cos((2 * y + 1) * v * math.pi / 16))
                    total += max(0, min(255, round(s) + 128))
        return (w, h, total)

    acb = {0: [(1, 5), (3, -7), (20, 12)], 1: [(63, 2)],
           2: [(17, -100), (35, 400)]}
    for d in (3, 8):
        assert decode_jpeg_pixels(build_jpeg_pixels(d, ac_blocks=acb)) \
            == ref_sum(d, acb)

    # corruption / boundaries: None, never exceptions
    good = build_jpeg_pixels(5)
    assert decode_jpeg_pixels(good[:10]) is None          # truncated
    assert decode_jpeg_pixels(b"XX" + good[2:]) is None   # bad magic
    bad = bytearray(good)
    bad[-5] ^= 0xFF  # damage inside the entropy-coded scan
    res = decode_jpeg_pixels(bytes(bad))
    assert res is None or len(res) == 3
    assert decode_jpeg_pixels(build_jpeg(64, 64, 3)) is None  # color JPEG
    assert decode_jpeg_pixels(None) is None


def test_jpeg_color_roundtrip_and_corruption():
    """Full 3-component 4:4:4 color decode (interleaved MCUs, per-
    component tables and DC predictors, fixed-point YCbCr→RGB) matches a
    pure-integer reference; modality mixups and damage yield None."""
    from sql_query_engine_spark.functions.multimodal import (
        build_jpeg_color_pixels,
        build_jpeg_pixels,
        decode_jpeg_color_pixels,
        decode_jpeg_pixels,
        jpeg_block_level,
        jpeg_chroma_level,
        jpeg_dims,
    )

    def clamp(v):
        return max(0, min(255, v))

    for d in (0, 7, 99, 250):
        got = decode_jpeg_color_pixels(build_jpeg_color_pixels(d))
        w, h = jpeg_dims(d)
        sr = sg = sb = 0
        for k in range((w // 8) * (h // 8)):
            y = jpeg_block_level(d, k) + 128
            cb = jpeg_chroma_level(d, k, 0)
            cr = jpeg_chroma_level(d, k, 1)
            sr += 64 * clamp(y + ((91881 * cr + 32768) >> 16))
            sg += 64 * clamp(y - ((22554 * cb + 46802 * cr + 32768) >> 16))
            sb += 64 * clamp(y + ((116130 * cb + 32768) >> 16))
        assert got == (w, h, sr, sg, sb)

    good = build_jpeg_color_pixels(5)
    # modality mixups between the gray and color paths reject cleanly
    assert decode_jpeg_pixels(good) is None
    assert decode_jpeg_color_pixels(build_jpeg_pixels(5)) is None
    assert decode_jpeg_color_pixels(good[:30]) is None      # truncated
    assert decode_jpeg_color_pixels(None) is None
    bad = bytearray(good)
    bad[-5] ^= 0xFF  # damage inside the entropy-coded scan
    res = decode_jpeg_color_pixels(bytes(bad))
    assert res is None or len(res) == 5


def test_flac_sample_roundtrip_and_corruption():
    """Full FLAC CONSTANT/VERBATIM/FIXED decode (frame header parse,
    CRC-8 and CRC-16 verification, bit-packed samples, Rice residuals +
    fixed-predictor reconstruction) matches the sample formulas;
    damaged containers and unsupported subframes yield None."""
    from sql_query_engine_spark.functions.multimodal import (
        AUDIO_RATES,
        build_flac,
        build_flac_samples,
        decode_flac_samples,
        flac_sample_count,
        flac_sample_value,
    )

    # 2,6,14,18,26 cover FIXED orders ((d//3)%5) under d%4==2; 0/1 cover
    # CONSTANT/VERBATIM; 3/7 cover LPC; 99/250 vary blocksize/rate codes
    for d in (0, 1, 2, 3, 6, 7, 14, 18, 26, 99, 250):
        got = decode_flac_samples(build_flac_samples(d))
        n = flac_sample_count(d)
        vals = [flac_sample_value(d, i) for i in range(n)]
        exp = (AUDIO_RATES[d % 5], n, sum(vals),
               sum(abs(v) for v in vals), max(abs(v) for v in vals))
        assert got == exp

    good = build_flac_samples(3)
    assert decode_flac_samples(good[:20]) is None          # truncated
    assert decode_flac_samples(b"XXXX" + good[4:]) is None  # bad magic
    bad = bytearray(good)
    bad[-1] ^= 0xFF  # break the frame CRC-16
    assert decode_flac_samples(bytes(bad)) is None
    hdr = bytearray(good)
    hdr[4 + 38 + 2] ^= 0x04  # flip a frame-header bit → CRC-8 must fail
    assert decode_flac_samples(bytes(hdr)) is None
    # STREAMINFO-only stream (the round-2 header corpus): no frame → None
    assert decode_flac_samples(build_flac(44100, 1, 16, 100)) is None
    assert decode_flac_samples(None) is None


def test_recursive_cte_closure_golden(spark):
    """The fixpoint loop computes exactly the transitive closure of a
    planted 4-node graph with a cycle (termination despite cycles)."""
    import sys
    import tempfile

    import sql_query_engine_spark.queries  # noqa: F401
    q = sys.modules["sql_query_engine_spark.queries"]

    # edges under (k*7+3) % 25 for nodes {0,1,2,3}: 0→3, 1→10, 2→17, 3→24
    # plus whatever 10/17/24 map to is absent (nodes not in nation) — use
    # the real formula on a 4-row nation and compute closure in Python
    rows = [(k, f"N{k}", 0, "") for k in (0, 1, 2, 3)]
    df = spark.createDataFrame(
        rows, "n_nationkey long, n_name string, n_regionkey long,"
        " n_comment string")
    edges = {(k, (k * 7 + 3) % 25) for k in (0, 1, 2, 3)}
    closure = set(edges)
    while True:
        ext = {(a, d) for a, b in closure for c, d in edges if b == c}
        if ext <= closure:
            break
        closure |= ext
    with tempfile.TemporaryDirectory() as td:
        df.write.mode("overwrite").parquet(f"{td}/nation.parquet")
        got = {(r.a, r.b) for r in q.sql_recursive_cte(spark, td).collect()}
    assert got == closure


def test_fuzzy_qgram_join_golden(spark):
    """Every corrupted probe resolves to its origin row (distance 1
    beats the distance-2 sibling), and the blocking never produces a
    cross match beyond the edit threshold."""
    import sys
    import tempfile

    import sql_query_engine_spark.queries  # noqa: F401
    q = sys.modules["sql_query_engine_spark.queries"]

    rows = [(4, "golden widget"), (8, "golden wadget"),
            (12, "crimson gadget"), (3, "unprobed thing")]
    df = spark.createDataFrame(rows, "p_partkey long, p_name string")
    with tempfile.TemporaryDirectory() as td:
        df.write.mode("overwrite").parquet(f"{td}/part.parquet")
        got = {r.probe_key: (r.matched_key, r.dist)
               for r in q.join_fuzzy_qgram(spark, td).collect()}
    # probe 'xolden widget' → its own row at distance 1 (sibling at 2)
    assert got[4] == (4, 1)
    assert got[8] == (8, 1)
    assert got[12] == (12, 1)
    assert 3 not in got  # key 3 is not probed (p_partkey % 4 != 0)


def test_span_corruption_golden(spark):
    """A 10-token planted doc produces exactly the T5 sentinel layout:
    spans at positions 3-4 and 10 (length-1 tail span), numbering and
    order preserved."""
    import sys
    import tempfile

    import sql_query_engine_spark.queries  # noqa: F401
    q = sys.modules["sql_query_engine_spark.queries"]

    text = "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10"
    df = spark.createDataFrame(
        [(1, text, "en", "s", len(text))],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    with tempfile.TemporaryDirectory() as td:
        df.write.mode("overwrite").parquet(f"{td}/documents.parquet")
        row = q.pipeline_span_corruption(spark, td).collect()[0]
    assert row.input == "t1 t2 <x_1> t5 t6 t7 t8 t9 <x_2>"
    assert row.target == "<x_1> t3 t4 <x_2> t10"
    assert row.n_spans == 2


def test_preference_pairs_golden(spark):
    """Planted stratum: best pairs with worst, strict-margin filter
    drops ties, ranks are deterministic under the doc_id tie-break."""
    import sys
    import tempfile

    import sql_query_engine_spark.queries  # noqa: F401
    q = sys.modules["sql_query_engine_spark.queries"]

    def doc(i, nw):
        return (i, " ".join(f"w{j}" for j in range(nw)), "en", "s1", nw)

    # scores 10, 8, 5, 5, 2 → pair1 (10 vs 2), pair2 (8 vs 5/tie-break
    # doc 3), pair3 would be 5 vs 5 at equal score → filtered
    rows = [doc(1, 10), doc(2, 8), doc(3, 5), doc(4, 5), doc(5, 2)]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string,"
        " n_chars long")
    with tempfile.TemporaryDirectory() as td:
        df.write.mode("overwrite").parquet(f"{td}/documents.parquet")
        got = sorted(
            (r.pair_rank, r.chosen_id, r.rejected_id, r.margin)
            for r in q.pipeline_preference_pairs(spark, td).collect()
        )
    assert got == [(1, 1, 5, 8), (2, 2, 3, 3)]


def test_ols_fit_golden(spark):
    """A planted exact linear relation recovers slope/intercept/r2 == 1
    bit-exactly from the decimal moment formulation."""
    import sys
    import tempfile

    import sql_query_engine_spark.queries  # noqa: F401
    q = sys.modules["sql_query_engine_spark.queries"]

    rows = [("A", float(x), 2.0 * x + 1.0) for x in range(1, 8)]
    rows += [("B", 1.0, 5.0), ("B", 2.0, 3.0), ("B", 3.0, 7.0)]
    li = spark.createDataFrame(
        rows, "l_returnflag string, l_quantity double, l_extendedprice double"
    )
    with tempfile.TemporaryDirectory() as td:
        li.write.mode("overwrite").parquet(f"{td}/lineitem.parquet")
        got = {r.l_returnflag: (r.n, r.slope, r.intercept, r.r2)
               for r in q.agg_ols_fit(spark, td).collect()}
    assert got["A"] == (7, 2.0, 1.0, 1.0)
    # B: x̄=2, ȳ=5 → slope = Σ(x-2)(y-5)/Σ(x-2)² = 2/2 = 1, intercept 3
    assert got["B"][1] == 1.0 and got["B"][2] == 3.0 and 0 < got["B"][3] < 1


def test_token_bucket_golden(spark):
    """Planted burst: capacity-3 bucket admits the first three
    back-to-back events, drops the fourth, then re-admits after one
    refill interval — each decision depending on the previous one."""
    import datetime
    import sys
    import tempfile

    import sql_query_engine_spark.queries  # noqa: F401
    q = sys.modules["sql_query_engine_spark.queries"]

    t0 = datetime.datetime(2024, 1, 1)

    def ev(eid, secs):
        return (eid, t0 + datetime.timedelta(seconds=secs), 1, "a", 0.0, "{}")

    # 4 events in a burst (1s apart), then one 310s later (one refill)
    rows = [ev(1, 0), ev(2, 1), ev(3, 2), ev(4, 3), ev(5, 313)]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long,"
        " event_type string, value double, props string")
    with tempfile.TemporaryDirectory() as td:
        df.write.mode("overwrite").parquet(f"{td}/events.parquet")
        got = {r.event_id: (r.admitted, r.tokens_after)
               for r in q.stream_token_bucket(spark, td).collect()}
    assert got == {1: (True, 2), 2: (True, 1), 3: (True, 0),
                   4: (False, 0), 5: (True, 0)}


def test_late_data_accounting_golden(spark):
    """An event whose deterministic arrival delay lets a newer event
    overtake it by more than the 5-minute allowance counts late."""
    import datetime
    import sys
    import tempfile

    import sql_query_engine_spark.queries  # noqa: F401
    q = sys.modules["sql_query_engine_spark.queries"]

    t0 = datetime.datetime(2024, 1, 1)

    def ev(eid, mins, typ):
        return (eid, t0 + datetime.timedelta(minutes=mins), 1, typ, 0.0, "{}")

    # delay_s = (eid*37) % 900: eid 100 → 100s; eid 24 → 888s.
    # event 24 (t=+0min) arrives at +888s; event 100 (t=+10min) arrives
    # at +700s — so when 24 arrives the watermark is already 600s ahead
    # of its event time: late. Types split the two outcomes.
    rows = [ev(24, 0, "a"), ev(100, 10, "b")]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long,"
        " event_type string, value double, props string")
    with tempfile.TemporaryDirectory() as td:
        df.write.mode("overwrite").parquet(f"{td}/events.parquet")
        got = {r.event_type: (r.n_events, r.n_late)
               for r in q.stream_late_data_accounting(spark, td).collect()}
    assert got == {"a": (1, 1), "b": (1, 0)}


def test_pagerank_golden(spark):
    """Integer-arithmetic PageRank on a 4-node planted graph matches a
    pure-Python power iteration with the identical floor formulas."""
    import sys
    import tempfile

    import sql_query_engine_spark.queries  # noqa: F401
    q = sys.modules["sql_query_engine_spark.queries"]

    orders = spark.createDataFrame(
        [(1, 1), (2, 2)], "o_orderkey long, o_custkey long")
    li = spark.createDataFrame(
        [(1, 1), (1, 2), (2, 1)], "l_orderkey long, l_suppkey long")
    with tempfile.TemporaryDirectory() as td:
        orders.write.mode("overwrite").parquet(f"{td}/orders.parquet")
        li.write.mode("overwrite").parquet(f"{td}/lineitem.parquet")
        got = {r.node: r.rank for r in q.graph_pagerank(spark, td).collect()}

    # same graph in pure Python: c1=2, c2=4, s1=3, s2=5 (parity ids)
    edges = [(2, 3), (2, 5), (4, 3)]
    und = edges + [(b, a) for a, b in edges]
    deg = {}
    for a, _ in und:
        deg[a] = deg.get(a, 0) + 1
    n = len(deg)
    scale, tele = q._PR_SCALE, (15 * q._PR_SCALE) // (100 * len(deg))
    rank = {v: scale // n for v in deg}
    for _ in range(q._PR_ITERS):
        t = {v: 0 for v in deg}
        for a, b in und:
            t[b] += rank[a] // deg[a]
        rank = {v: tele + (85 * t[v]) // 100 for v in deg}
    assert got == rank


def test_iterative_loops_support_reliable_checkpoints(spark):
    """graph_pagerank and pipeline_classifier_train accept a
    checkpoint_dir (r7 verdict #5): iterations then truncate lineage via
    reliable checkpoint() into that directory instead of unrolling into
    one lazy plan, so an executor loss mid-power-iteration recovers
    from the checkpoint store on a real cluster. Results must be
    identical on both paths and checkpoint files must actually land in
    the directory."""
    import os
    import sys
    import tempfile

    import sql_query_engine_spark.queries  # noqa: F401
    q = sys.modules["sql_query_engine_spark.queries"]

    sf = "/root/testdata/sf0.001"
    with tempfile.TemporaryDirectory() as td:
        ckpt = os.path.join(td, "ckpt")
        pr_rel = {r.node: r.rank for r in
                  q.graph_pagerank(spark, sf, checkpoint_dir=ckpt).collect()}
        pr_loc = {r.node: r.rank for r in
                  q.graph_pagerank(spark, sf).collect()}
        assert pr_rel == pr_loc and len(pr_rel) > 0
        tr_rel = sorted(map(tuple, q.pipeline_classifier_train(
            spark, sf, checkpoint_dir=ckpt).collect()))
        tr_loc = sorted(map(tuple, q.pipeline_classifier_train(
            spark, sf).collect()))
        assert tr_rel == tr_loc and len(tr_rel) == 5
        written = [
            os.path.join(dp, f)
            for dp, _, fs in os.walk(ckpt)
            for f in fs
        ]
        assert written, "reliable checkpoint wrote nothing to checkpoint_dir"


def test_gif_interlaced_deinterlace_exact():
    """The 4-pass GIF interlace re-weave reproduces the sequential
    image exactly, proven by a position-weighted checksum (channel sums
    alone cannot see row order)."""
    from sql_query_engine_spark.functions.multimodal import (
        build_gif_pixels,
        build_gif_pixels_interlaced,
        decode_gif_interlaced_stats,
        decode_gif_pixels,
        gif_pixel_index,
        pixel_dims,
    )

    for d in (0, 1, 2, 3, 7, 42, 99, 250):
        gi = build_gif_pixels_interlaced(d)
        inter = decode_gif_interlaced_stats(gi)
        assert inter is not None
        assert inter[:5] == decode_gif_pixels(build_gif_pixels(d))
        w, h = pixel_dims(d)
        exp = sum((y * w + x + 1) * gif_pixel_index(d, x, y)
                  for y in range(h) for x in range(w))
        assert inter[5] == exp
        # channel sums are row-order-independent, so the plain decoder
        # accepts interlaced streams and agrees with the stats path
        assert decode_gif_pixels(gi) == inter[:5]

    g = build_gif_pixels_interlaced(5)
    assert decode_gif_interlaced_stats(g[:30]) is None
    assert decode_gif_interlaced_stats(None) is None


def test_png_interlaced_equals_sequential():
    """Adam7 decode re-weaves the seven passes to exactly the
    sequential image (pixel stats AND perceptual hash agree); truncated
    or trailing-garbage interlaced streams reject."""
    from sql_query_engine_spark.functions.multimodal import (
        build_png_pixels,
        build_png_pixels_interlaced,
        decode_png_ahash,
        decode_png_pixels,
    )

    for d in (0, 1, 2, 3, 7, 42, 99, 250):
        assert decode_png_pixels(build_png_pixels_interlaced(d)) == \
            decode_png_pixels(build_png_pixels(d)) is not None
        assert decode_png_ahash(build_png_pixels_interlaced(d)) == \
            decode_png_ahash(build_png_pixels(d))

    g = build_png_pixels_interlaced(5)
    assert decode_png_pixels(g[:40]) is None
    bad = bytearray(g)
    bad[-20] ^= 0xFF
    r = decode_png_pixels(bytes(bad))
    assert r is None or len(r) == 5


def test_format_sniffer_all_formats_and_corruption():
    """Every format in the zoo sniffs to its own name; the corrupted
    magic slice and short/None payloads route to 'unknown'."""
    from sql_query_engine_spark.functions.multimodal import (
        _SNIFF_FORMATS,
        build_sniff_payload,
        sniff_format,
    )

    for d in range(1, 17):  # two full format cycles, none % 97 == 0
        assert sniff_format(build_sniff_payload(d)) == _SNIFF_FORMATS[d % 8]
    assert sniff_format(build_sniff_payload(0)) == "unknown"    # 0 % 97
    assert sniff_format(build_sniff_payload(97 * 3)) == "unknown"
    assert sniff_format(None) == "unknown"
    assert sniff_format(b"short") == "unknown"


def test_tiff_metadata_both_endians():
    """TIFF IFD walk honors both 'II' and 'MM' byte orders; bad order
    marks, wrong magic, and truncation reject."""
    from sql_query_engine_spark.functions.multimodal import (
        build_tiff,
        decode_tiff_metadata,
        tiff_params,
    )

    seen = set()
    for d in range(0, 260, 7):
        got = decode_tiff_metadata(build_tiff(d))
        assert got == tiff_params(d)
        seen.add(got[0])
    assert seen == {"II", "MM"}

    g = build_tiff(5)
    assert decode_tiff_metadata(g[:6]) is None
    assert decode_tiff_metadata(b"XX" + g[2:]) is None
    assert decode_tiff_metadata(None) is None
    bad = bytearray(g)
    bad[2] ^= 0xFF  # magic
    assert decode_tiff_metadata(bytes(bad)) is None


def test_wav_24bit_roundtrip_and_gates():
    """3-byte two's-complement samples beyond int16 range decode to the
    exact planted stats; the 16-bit decoder rejects 24-bit streams and
    vice versa; damage rejects."""
    from sql_query_engine_spark.functions.multimodal import (
        AUDIO_RATES,
        build_wav_24bit_samples,
        build_wav_samples,
        decode_wav_24bit_samples,
        decode_wav_samples,
        wav24_sample_value,
        wav_sample_count,
    )

    for d in (0, 1, 2, 7, 42, 99, 250):
        got = decode_wav_24bit_samples(build_wav_24bit_samples(d))
        n = wav_sample_count(d)
        vals = [wav24_sample_value(d, i) for i in range(n)]
        assert got == (AUDIO_RATES[d % 5], n, sum(vals),
                       sum(abs(v) for v in vals), max(abs(v) for v in vals))
        assert decode_wav_samples(build_wav_24bit_samples(d)) is None
        assert decode_wav_24bit_samples(build_wav_samples(d)) is None

    g = build_wav_24bit_samples(5)
    assert decode_wav_24bit_samples(g[:30]) is None
    assert decode_wav_24bit_samples(None) is None


def test_mp3_metadata_roundtrip_and_rejects():
    """MP3 frame walk: ID3v2 syncsafe skip + per-frame header verify
    recovers the planted frame count / bitrate / sample rate exactly;
    truncation, lost sync, trailing garbage, and VBR reject."""
    from sql_query_engine_spark.functions.multimodal import (
        _MP3_BITRATES,
        _MP3_RATES,
        build_mp3,
        decode_mp3_metadata,
        mp3_params,
    )

    for d in (0, 1, 2, 7, 13, 14, 42, 99, 250):
        got = decode_mp3_metadata(build_mp3(d))
        n, bi, si = mp3_params(d)
        assert got == (n, _MP3_BITRATES[bi], _MP3_RATES[si],
                       n * 1152 * 1000.0 / _MP3_RATES[si])

    g = build_mp3(5)
    assert decode_mp3_metadata(None) is None
    assert decode_mp3_metadata(g[:20]) is None            # truncated
    assert decode_mp3_metadata(g + b"\x00") is None       # trailing junk
    bad = bytearray(g)
    bad[10 + 17] ^= 0xFF                                  # frame-1 sync
    assert decode_mp3_metadata(bytes(bad)) is None
    # a second frame at a different bitrate = VBR: out of scope
    n, bi, si = mp3_params(5)
    vbr = bytearray(g)
    first_len = (144000 * _MP3_BITRATES[bi]) // _MP3_RATES[si] + (5 % 2)
    hdr_off = 10 + 17 + first_len
    vbr[hdr_off + 2] ^= 0x10  # flip a bitrate-index bit of frame 2
    assert decode_mp3_metadata(bytes(vbr)) is None


def test_mjpeg_mp4_pixel_roundtrip_and_corruption():
    """MJPEG-in-MP4: the full ISO/IEC 14496-12 sample-table chain
    (stsd/stts/stsc/stsz/stco) addresses 2-5 real baseline-JPEG frames
    whose decoded pixel totals match the block-level formulas exactly;
    structural damage, mdat corruption, truncation, and wrong-codec
    entries reject to None."""
    from sql_query_engine_spark.functions.multimodal import (
        VIDEO_FRAME_STRIDE,
        build_mjpeg_mp4_pixels,
        decode_mjpeg_mp4_pixels,
        jpeg_block_level,
        jpeg_dims,
        video_frame_count,
    )

    for d in (0, 1, 2, 3, 7, 42, 99, 250):
        got = decode_mjpeg_mp4_pixels(build_mjpeg_mp4_pixels(d))
        w, h = jpeg_dims(d)
        n = video_frame_count(d)
        bw, bh = w // 8, h // 8
        total = sum(
            64 * (jpeg_block_level(d + VIDEO_FRAME_STRIDE * f, k) + 128)
            for f in range(n)
            for k in range(bw * bh)
        )
        assert got == (w, h, n, n * 40.0, total)

    g = build_mjpeg_mp4_pixels(5)
    assert decode_mjpeg_mp4_pixels(None) is None
    assert decode_mjpeg_mp4_pixels(g[:60]) is None        # truncated
    assert decode_mjpeg_mp4_pixels(b"XXXX" + g[4:]) is None  # no ftyp
    bad = bytearray(g)
    bad[32] ^= 0xFF  # first frame's SOI marker inside mdat
    assert decode_mjpeg_mp4_pixels(bytes(bad)) is None
    # rewrite the stsd codec fourcc: jpeg -> avc1 must reject
    i = g.find(b"stsd")
    j = g.find(b"jpeg", i)
    wrong = g[:j] + b"avc1" + g[j + 4 :]
    assert decode_mjpeg_mp4_pixels(wrong) is None


def test_flac_rice_escape_fallback_roundtrip():
    """The residual encoder must never emit Rice parameter 15 (that bit
    pattern is the ESCAPE code): huge residuals fall back to raw 17-bit
    escape coding, and moderate ones stay genuine Rice — both must
    round-trip through the decoder bit-exactly."""
    from sql_query_engine_spark.functions.multimodal import (
        _flac_put_residuals,
        _flac_read_residuals,
        _FlacBits,
    )

    def encode(residuals):
        out = bytearray()
        state = {"acc": 0, "n": 0}

        def put(value, length):
            for i in range(length - 1, -1, -1):
                state["acc"] = (state["acc"] << 1) | ((value >> i) & 1)
                state["n"] += 1
                if state["n"] == 8:
                    out.append(state["acc"])
                    state["acc"] = 0
                    state["n"] = 0

        _flac_put_residuals(put, residuals)
        if state["n"]:
            out.append(state["acc"] << (8 - state["n"]))
        return bytes(out)

    # zigzag magnitude > 15 * 2^14 forces the escape path (the p search
    # would otherwise need the forbidden 15): |r| > 122880
    huge = [300000, -300000, 0, 1, -1, 123, 250000]
    buf = encode(huge)

    def header_param(b):
        # layout: method(2) | partition order(4) | param(4)
        assert b[0] >> 6 == 0 and (b[0] >> 2) & 0xF == 0
        return ((b[0] & 0x3) << 2) | (b[1] >> 6)

    assert header_param(buf) == 0b1111  # escape code emitted
    got = _flac_read_residuals(_FlacBits(buf, 0), len(huge), 0)
    assert got == huge

    moderate = [100, -99, 0, 5, -5, 31]
    buf2 = encode(moderate)
    assert header_param(buf2) != 0b1111  # real Rice, not escape
    assert _flac_read_residuals(_FlacBits(buf2, 0), len(moderate), 0) == moderate


def test_dup_ngrams_flags_planted_repetition(spark):
    """A doc that is one phrase looped must score dup fractions ~1; a doc
    of all-distinct trigrams must score exactly 0."""
    import sys

    import sql_query_engine_spark.queries  # noqa: F401
    q = sys.modules["sql_query_engine_spark.queries"]

    looped = " ".join(["alpha beta gamma"] * 10)
    distinct = " ".join(f"w{i}" for i in range(30))
    df = spark.createDataFrame(
        [(1, looped), (2, distinct)], "doc_id long, text string"
    )

    # reuse the registered builder's expression pipeline via a temp view
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        df.write.mode("overwrite").parquet(f"{td}/documents.parquet")
        got = {r.doc_id: (r.dup_gram_frac, r.dup_char_frac)
               for r in q.text_dup_ngrams(spark, td).collect()}
    assert got[2] == (0.0, 0.0)
    # 10× loop of a 3-token phrase: 28 trigrams, 3 distinct → 25/28
    assert got[1][0] > 0.85 and got[1][1] > 0.85


def test_substring_span_finds_planted_run(spark):
    """Two docs sharing an exact 20-token run (different elsewhere) must
    surface with max_span_tokens == 20; unrelated docs must not pair."""
    import sys
    import tempfile

    import sql_query_engine_spark.queries  # noqa: F401
    q = sys.modules["sql_query_engine_spark.queries"]

    shared = " ".join(f"common{i}" for i in range(20))
    doc_a = "unique alpha words here " + shared + " tail one"
    doc_b = "totally different prefix tokens " + shared + " other suffix"
    doc_c = " ".join(f"lonely{i}" for i in range(40))
    df = spark.createDataFrame(
        [(1, doc_a), (2, doc_b), (3, doc_c)], "doc_id long, text string"
    )
    with tempfile.TemporaryDirectory() as td:
        df.write.mode("overwrite").parquet(f"{td}/documents.parquet")
        rows = q.dedup_substring_span(spark, td).collect()
    got = {(r.doc_a, r.doc_b): r.max_span_tokens for r in rows}
    assert got == {(1, 2): 20}


def test_keywords_rank_content_words_over_stopwords(spark):
    """TF-IDF must surface a doc's distinctive term over a corpus-wide
    stopword even when the stopword is more frequent in the doc."""
    import sys
    import tempfile

    import sql_query_engine_spark.queries  # noqa: F401
    q = sys.modules["sql_query_engine_spark.queries"]

    rows = [(i, "the the the the common filler words here") for i in range(9)]
    rows.append((9, "the the the the zebra zebra quagga unique"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    with tempfile.TemporaryDirectory() as td:
        df.write.mode("overwrite").parquet(f"{td}/documents.parquet")
        got = {
            (r.doc_id, r.rnk): r.tok
            for r in q.text_keywords(spark, td).collect()
        }
    # doc 9: 'the' appears 4x but is in every doc (idf 0); zebra (2x,
    # df 1) must rank first, then the df-1 singletons lexically
    assert got[(9, 1)] == "zebra"
    assert got[(9, 2)] in ("quagga", "unique")
    assert all(got[(d, r)] is not None for d in range(10) for r in (1, 2, 3))


def test_bm25_matches_pure_python(spark):
    """text_bm25_topk's scores equal an independent pure-Python Okapi
    BM25 (k1=1.2, b=0.75, Lucene idf) on a tiny corpus via temp dir."""
    import math
    import sys
    import tempfile

    import sql_query_engine_spark.queries  # noqa: F401
    q = sys.modules["sql_query_engine_spark.queries"]

    docs = [
        (1, "table scan table join"),
        (2, "join order join order fast"),
        (3, "spark data fast table"),
        (4, "nothing relevant here"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    with tempfile.TemporaryDirectory() as td:
        df.write.mode("overwrite").parquet(f"{td}/documents.parquet")
        got = {(r.query_id, r.doc_id): (r.score, r.rn)
               for r in q.text_bm25_topk(spark, td).collect()}

    toks = {d: t.split() for d, t in docs}
    dl = {d: len(t) for d, t in toks.items()}
    avgdl = sum(dl.values()) / len(dl)
    nd = len(docs)
    want = {}
    for qid, terms in ((1, ["table", "scan"]), (2, ["join", "order"]),
                       (3, ["spark", "data", "fast"])):
        scores = {}
        for d, t in toks.items():
            s = 0.0
            for term in terms:
                tf = t.count(term)
                if not tf:
                    continue
                dfc = sum(1 for tt in toks.values() if term in tt)
                idf = round(math.log((nd - dfc + 0.5) / (dfc + 0.5) + 1), 6)
                s += idf * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl[d] / avgdl))
            if s:
                scores[d] = s
        for rn, (d, s) in enumerate(
            sorted(scores.items(), key=lambda kv: (-kv[1], kv[0])), 1
        ):
            want[(qid, d)] = (round(s, 6), rn)
    assert got == want


def test_hamming_topk_matches_sign_codes(spark):
    """sim_hamming_topk = exact Hamming distance between 64-bit sign
    codes: verified on vectors with planted sign patterns."""
    import itertools
    import sys
    import tempfile

    import sql_query_engine_spark.queries  # noqa: F401
    q = sys.modules["sql_query_engine_spark.queries"]

    def vec(signs):  # signs: list of 64 bools (True = non-negative)
        return [0.5 if s else -0.5 for s in signs]

    base = [True] * 64
    flip1 = base[:]; flip1[7] = False
    flip3 = base[:]; flip3[1] = flip3[40] = flip3[63] = False
    half = [True] * 32 + [False] * 32
    even = [i % 2 == 0 for i in range(64)]
    vecs = [base, flip1, flip3, half, even, [False] * 64]
    rows = [(i, vec(s), 0) for i, s in enumerate(vecs)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    with tempfile.TemporaryDirectory() as td:
        df.write.mode("overwrite").parquet(f"{td}/embeddings.parquet")
        got = {(r.query_id, r.neighbor_id): (r.hamming, r.rn)
               for r in q.sim_hamming_topk(spark, td).collect()}

    def ham(a, b):
        return sum(1 for x, y in zip(a, b) if x != y)

    want = {}
    for qi in range(4):  # _HAM_NQ = 4
        ds = sorted(
            ((ham(vecs[qi], vecs[ci]), ci) for ci in range(6) if ci != qi)
        )
        for rn, (h, ci) in enumerate(ds[:5], 1):
            want[(qi, ci)] = (h, rn)
    assert got == want
    assert got[(0, 1)] == (1, 1)   # single-flip neighbor ranks first
    assert got[(0, 2)][0] == 3


def test_winnowing_guarantee_and_discrimination(spark):
    """Winnowing's coverage guarantee: two docs sharing a run of at
    least w+k-1 = 7 tokens must share a fingerprint (and surface as a
    pair); fully-distinct docs must not pair."""
    import sys
    import tempfile

    import sql_query_engine_spark.queries  # noqa: F401
    q = sys.modules["sql_query_engine_spark.queries"]

    shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = [
        (1, "one two three " + shared + " four five six"),
        (2, "seven eight nine " + shared + " ten eleven twelve"),
        (3, "p q r s t u v w x y z aa bb cc dd"),
        (4, "ee ff gg hh ii jj kk ll mm nn oo pp qq rr"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    with tempfile.TemporaryDirectory() as td:
        df.write.mode("overwrite").parquet(f"{td}/documents.parquet")
        pairs = {(r.doc_a, r.doc_b): r.n_shared
                 for r in q.dedup_winnowing(spark, td).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] >= 2
    for p in pairs:
        assert p == (1, 2), f"false pair {p}"


def test_interval_coalesce_merges_and_splits(spark):
    """Golden gaps-and-islands: overlapping/touching intervals merge
    (including an early long interval swallowing later short ones);
    strict gaps split."""
    import sys
    import tempfile

    import sql_query_engine_spark.queries  # noqa: F401
    q = sys.modules["sql_query_engine_spark.queries"]

    M = 60_000_000  # one minute in µs
    # user 1: events at t=0,4,8 min (5-min intervals chain); gap; t=20
    # user 2: single event
    rows = [
        (1, 0 * M, 1), (2, 4 * M, 1), (3, 8 * M, 1), (4, 20 * M, 1),
        (5, 0 * M, 2),
        (6, 0 * M, 3), (7, 5 * M, 3),  # touching: [0,5) + [5,10) merge
    ]
    import datetime
    df = spark.createDataFrame(
        [(eid, datetime.datetime(2024, 1, 1) +
          datetime.timedelta(microseconds=us), uid, "e", 0.0, "{}")
         for eid, us, uid in rows],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    with tempfile.TemporaryDirectory() as td:
        df.write.mode("overwrite").parquet(f"{td}/events.parquet")
        got = sorted(
            (r.user_id, r.interval_start_us, r.interval_end_us, r.n_events)
            for r in q.stream_interval_coalesce(spark, td).collect()
        )
    base = int(datetime.datetime(2024, 1, 1)
               .replace(tzinfo=datetime.timezone.utc).timestamp() * 1e6)
    want = sorted([
        (1, base + 0, base + 13 * M, 3),        # 0-5,4-9,8-13 chain
        (1, base + 20 * M, base + 25 * M, 1),   # after the gap
        (2, base + 0, base + 5 * M, 1),
        (3, base + 0, base + 10 * M, 2),        # touching merge
    ])
    assert got == want


def test_flac_stereo_decorrelation_roundtrip():
    """All four stereo channel assignments (independent, left/side,
    right/side, mid/side) reconstruct L/R exactly; mono/stereo modality
    mixups and damage reject to None."""
    from sql_query_engine_spark.functions.multimodal import (
        AUDIO_RATES,
        build_flac_samples,
        build_flac_stereo_samples,
        decode_flac_samples,
        decode_flac_stereo_samples,
        flac_left_value,
        flac_right_value,
        flac_sample_count,
    )

    for d in (0, 1, 2, 3, 99, 250):  # covers every mode (d % 4)
        got = decode_flac_stereo_samples(build_flac_stereo_samples(d))
        n = flac_sample_count(d)
        L = [flac_left_value(d, i) for i in range(n)]
        R = [flac_right_value(d, i) for i in range(n)]
        exp = (AUDIO_RATES[d % 5], n, sum(L), sum(R),
               max(max(abs(x) for x in L), max(abs(x) for x in R)))
        assert got == exp

    good = build_flac_stereo_samples(3)
    assert decode_flac_samples(good) is None
    assert decode_flac_stereo_samples(build_flac_samples(3)) is None
    assert decode_flac_stereo_samples(good[:25]) is None
    assert decode_flac_stereo_samples(None) is None
    bad = bytearray(good)
    bad[-1] ^= 0xFF  # break the frame CRC-16
    assert decode_flac_stereo_samples(bytes(bad)) is None


def test_png_ahash_semantics():
    """aHash invariances: identical images hash identically; a
    brightness-inverted image flips cell-vs-mean comparisons (hash far
    from the original); a flat image sets no bits (no cell strictly
    exceeds the mean)."""
    import zlib

    from sql_query_engine_spark.functions.multimodal import (
        _png_chunk,
        build_png_pixels,
        decode_png_ahash,
    )

    def flat_png(w, h, val):
        rows = b"".join(b"\x00" + bytes([val] * (w * 3)) for _ in range(h))
        ihdr = w.to_bytes(4, "big") + h.to_bytes(4, "big") + bytes([8, 2, 0, 0, 0])
        return (b"\x89PNG\r\n\x1a\n" + _png_chunk(b"IHDR", ihdr)
                + _png_chunk(b"IDAT", zlib.compress(rows))
                + _png_chunk(b"IEND", b""))

    a = decode_png_ahash(build_png_pixels(11))
    b = decode_png_ahash(build_png_pixels(11))
    assert a == b and a is not None

    w, h, hi, lo, nb = decode_png_ahash(flat_png(16, 16, 77))
    assert (hi, lo, nb) == (0, 0, 0)

    # half-dark / half-bright: exactly the bright half's 32 bits set
    rows = b"".join(
        b"\x00" + bytes(([0] * (8 * 3)) + ([255] * (8 * 3)))
        for _ in range(16)
    )
    ihdr = (16).to_bytes(4, "big") + (16).to_bytes(4, "big") + bytes([8, 2, 0, 0, 0])
    half = (b"\x89PNG\r\n\x1a\n" + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", zlib.compress(rows)) + _png_chunk(b"IEND", b""))
    w, h, hi, lo, nb = decode_png_ahash(half)
    assert nb == 32
    # bright cells are gx in 4..7 of every row: mask 0b11110000 per row
    assert lo == sum(0xF0 << (8 * r) for r in range(4))
    assert hi == sum(0xF0 << (8 * r) for r in range(4))

    assert decode_png_ahash(half[:20]) is None
    assert decode_png_ahash(None) is None


def test_standardize_zero_mean_unit_variance(spark):
    """Per-dim z-scores must have mean ~0 and variance ~1 (up to the
    6dp output rounding) for every dimension."""
    import sys

    import sql_query_engine_spark.queries  # noqa: F401
    q = sys.modules["sql_query_engine_spark.queries"]

    rows = q.emb_standardize(spark, SF_DIR).collect()
    by_pos: dict = {}
    for r in rows:
        by_pos.setdefault(r.pos, []).append(r.z)
    assert len(by_pos) == 64
    for pos, zs in by_pos.items():
        m = sum(zs) / len(zs)
        v = sum(z * z for z in zs) / len(zs) - m * m
        assert abs(m) < 1e-4, (pos, m)
        assert abs(v - 1) < 1e-3, (pos, v)


def test_attribution_golden(spark):
    """Golden last-touch: click beats older view; view attributes when
    it is latest; out-of-lookback and no-touch purchases are organic."""
    import datetime
    import sys
    import tempfile

    import sql_query_engine_spark.queries  # noqa: F401
    q = sys.modules["sql_query_engine_spark.queries"]

    t0 = datetime.datetime(2024, 1, 10)

    def at(**kw):
        return t0 + datetime.timedelta(**kw)

    rows = [
        # user 1: view, click, purchase → click (latest)
        (1, at(hours=1), 1, "view"), (2, at(hours=2), 1, "click"),
        (3, at(hours=3), 1, "purchase"),
        # user 2: click then view then purchase → view (latest wins)
        (4, at(hours=1), 2, "click"), (5, at(hours=2), 2, "view"),
        (6, at(hours=3), 2, "purchase"),
        # user 3: touch 25h before purchase → organic
        (7, at(hours=0), 3, "click"), (8, at(hours=25), 3, "purchase"),
        # user 4: no touch at all → organic
        (9, at(hours=1), 4, "error"), (10, at(hours=2), 4, "purchase"),
    ]
    df = spark.createDataFrame(
        [(e, ts, u, et, 0.0, "{}") for e, ts, u, et in rows],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    with tempfile.TemporaryDirectory() as td:
        df.write.mode("overwrite").parquet(f"{td}/events.parquet")
        got = {r.event_id: (r.touch_type, r.gap_us)
               for r in q.stream_attribution(spark, td).collect()}
    H = 3_600_000_000
    assert got == {
        3: ("click", 1 * H),
        6: ("view", 1 * H),
        8: ("organic", None),
        10: ("organic", None),
    }


def test_hilbert_key_canonical_and_local(spark):
    """hilbert_cols matches the canonical xy2d reference on the full
    16x16 grid, is a bijection, and consecutive keys are always
    grid-adjacent (the locality property Z-order lacks)."""
    import itertools

    from sql_query_engine_spark.sources.sinks import hilbert_cols

    def ref(order, x, y):
        d = 0
        s = order // 2
        while s > 0:
            rx = 1 if x & s else 0
            ry = 1 if y & s else 0
            d += s * s * ((3 * rx) ^ ry)
            if ry == 0:
                if rx == 1:
                    x, y = order - 1 - x, order - 1 - y
                x, y = y, x
            s //= 2
        return d

    rows = [(x, y) for x, y in itertools.product(range(16), range(16))]
    df = spark.createDataFrame(rows, "x int, y int")
    got = {(r.x, r.y): r.hilbert
           for r in hilbert_cols(df, "x", "y", bits=4).collect()}
    assert got == {(x, y): ref(16, x, y) for x, y in rows}
    inv = {d: xy for xy, d in got.items()}
    assert len(inv) == 256  # bijection
    assert all(
        abs(inv[d][0] - inv[d + 1][0]) + abs(inv[d][1] - inv[d + 1][1]) == 1
        for d in range(255)
    )


def test_robust_outliers_golden(spark):
    """Exact median/MAD on a known multiset, and robustness: one extreme
    value is flagged without dragging the median."""
    import datetime
    import sys
    import tempfile

    import sql_query_engine_spark.queries  # noqa: F401
    q = sys.modules["sql_query_engine_spark.queries"]

    vals = [1.0, 2.0, 3.0, 4.0, 100.0]  # median 3, devs {2,1,0,1,97}, MAD 1
    t0 = datetime.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [(i, t0, 1, "a", v, "{}") for i, v in enumerate(vals)],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    with tempfile.TemporaryDirectory() as td:
        df.write.mode("overwrite").parquet(f"{td}/events.parquet")
        rows = q.agg_robust_outliers(spark, td).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.event_type, r.n, r.med, r.mad) == ("a", 5, 3.0, 1.0)
    assert r.n_outliers == 1  # only 100.0 exceeds 3*1.4826*1


def test_spatial_grid_equals_theta(spark):
    """The grid-bucketed decomposition must equal the plain theta join
    point-for-point (boxes straddling cell boundaries included)."""
    import sys

    import sql_query_engine_spark.queries  # noqa: F401
    q = sys.modules["sql_query_engine_spark.queries"]

    got = {(r.box_id): (r.n_points, r.sum_keys)
           for r in q.join_spatial_grid(spark, SF_DIR).collect()}
    pts = load_table(spark, SF_DIR, "orders").select(
        "o_orderkey",
        (F.col("o_orderkey") % 1000).alias("x"),
        (F.col("o_custkey") % 1000).alias("y"),
    ).collect()
    from sql_query_engine_spark.queries import _SPATIAL_BOXES
    want = {}
    for box_id, x0, x1, y0, y1 in _SPATIAL_BOXES:
        hits = [p.o_orderkey for p in pts if x0 <= p.x <= x1 and y0 <= p.y <= y1]
        if hits:
            want[box_id] = (len(hits), sum(hits))
    assert got == want


def test_triangle_count_golden(spark):
    """A planted 3-clique yields exactly one triangle; an isolated edge
    and an over-cap cell contribute none."""
    import datetime
    import sys
    import tempfile

    import sql_query_engine_spark.queries  # noqa: F401
    q = sys.modules["sql_query_engine_spark.queries"]
    from sql_query_engine_spark.queries import _TRI_CAP

    t0 = datetime.datetime(2024, 1, 1, 0, 30)
    t1 = datetime.datetime(2024, 1, 1, 5, 30)
    t2 = datetime.datetime(2024, 1, 1, 9, 30)
    rows = []
    eid = 0
    for u in (1, 2, 3):          # clique cell → triangle
        eid += 1; rows.append((eid, t0, u, "view"))
    for u in (4, 5):             # edge-only cell
        eid += 1; rows.append((eid, t1, u, "click"))
    for u in range(100, 100 + _TRI_CAP + 5):  # over-cap cell: dropped
        eid += 1; rows.append((eid, t2, u, "error"))
    df = spark.createDataFrame(
        [(e, ts, u, et, 0.0, "{}") for e, ts, u, et in rows],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    with tempfile.TemporaryDirectory() as td:
        df.write.mode("overwrite").parquet(f"{td}/events.parquet")
        r = q.graph_triangle_count(spark, td).collect()[0]
    assert (r.n_vertices, r.n_edges, r.n_triangles) == (5 + _TRI_CAP + 5, 4, 1)


def test_png_metadata_crc_gate():
    """Metadata extraction trusts nothing unverified: valid container
    round-trips the planted fields; ANY chunk CRC flip → None; the
    metadata chunks don't disturb pixel decoding."""
    from sql_query_engine_spark.functions.multimodal import (
        build_png_pixels,
        build_png_with_metadata,
        decode_png_ahash,
        decode_png_metadata,
        decode_png_pixels,
        pixel_dims,
    )

    d = 42
    payload = build_png_with_metadata(d)
    got = decode_png_metadata(payload)
    w, h = pixel_dims(d)
    assert got == (w, h, {"Title": f"doc-{d}", "Source": f"src{d % 20}"},
                   2834 + d % 100, (2834 + d % 100) * 2, 1)

    # pixel decoders skip ancillary chunks transparently
    assert decode_png_pixels(payload) == decode_png_pixels(build_png_pixels(d))
    assert decode_png_ahash(payload) == decode_png_ahash(build_png_pixels(d))

    bad = bytearray(payload)
    bad[8 + 25 + 10] ^= 0x01  # flip a byte inside the first tEXt chunk
    assert decode_png_metadata(bytes(bad)) is None
    assert decode_png_metadata(payload[:40]) is None
    assert decode_png_metadata(None) is None


def test_next_event_dataset_golden(spark):
    """Histories are the exact last-4 event types in time order, one
    example per event with >= 4 predecessors."""
    import datetime
    import sys
    import tempfile

    import sql_query_engine_spark.queries  # noqa: F401
    q = sys.modules["sql_query_engine_spark.queries"]

    t0 = datetime.datetime(2024, 1, 1)
    types = ["a", "b", "c", "d", "e", "f"]
    rows = [(i, t0 + datetime.timedelta(minutes=i), 1, types[i], 0.0, "{}")
            for i in range(6)]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long,"
        " event_type string, value double, props string")
    with tempfile.TemporaryDirectory() as td:
        df.write.mode("overwrite").parquet(f"{td}/events.parquet")
        got = {r.event_id: (r.history, r.label)
               for r in q.pipeline_next_event_dataset(spark, td).collect()}
    # history is emitted as a '|'-joined string (order-preserving) so the
    # output schema stays scalar-only for tabular consumers
    assert got == {
        4: ("a|b|c|d", "e"),
        5: ("b|c|d|e", "f"),
    }


def test_feature_hashing_properties(spark):
    """Deterministic per-text features; identical texts get identical
    feature vectors; the signed L1 norm never exceeds the token count."""
    import sys
    import tempfile

    import sql_query_engine_spark.queries  # noqa: F401
    q = sys.modules["sql_query_engine_spark.queries"]

    docs = [(1, "alpha beta gamma alpha"), (2, "alpha beta gamma alpha"),
            (3, "delta epsilon")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    with tempfile.TemporaryDirectory() as td:
        df.write.mode("overwrite").parquet(f"{td}/documents.parquet")
        rows = q.text_feature_hashing(spark, td).collect()
    by_doc: dict = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, {})[r.bucket] = r.feat
    assert by_doc[1] == by_doc[2]
    assert sum(abs(v) for v in by_doc[1].values()) <= 4
    assert sum(abs(v) for v in by_doc[3].values()) <= 2
    assert by_doc[1] != by_doc[3]


def test_gif_animation_roundtrip_and_sampling():
    """Multi-frame GIF: per-frame LZW decode matches the planted frame
    formulas (delays included); truncation and mid-frame damage reject;
    single-frame decoder and animation decoder coexist."""
    from sql_query_engine_spark.functions.multimodal import (
        build_gif_animation,
        build_gif_pixels,
        decode_gif_animation,
        decode_gif_pixels,
        gif_anim_pixel_index,
        gif_frame_count,
        gif_palette_rgb,
        pixel_dims,
    )

    for d in (0, 3, 4, 17):
        w, h, frames = decode_gif_animation(build_gif_animation(d))
        assert (w, h) == pixel_dims(d)
        assert len(frames) == gif_frame_count(d)
        for f, (delay, sr, sg, sb) in enumerate(frames):
            assert delay == 10 + f
            exp = [0, 0, 0]
            for y in range(h):
                for x in range(w):
                    r, g, bb = gif_palette_rgb(gif_anim_pixel_index(d, f, x, y))
                    exp[0] += r; exp[1] += g; exp[2] += bb
            assert (sr, sg, sb) == tuple(exp)

    g = build_gif_animation(6)
    assert decode_gif_animation(g[:-1]) is None      # missing trailer
    assert decode_gif_animation(g[:60]) is None      # truncated
    bad = bytearray(g)
    bad[-20] ^= 0xFF                                  # damage inside a frame
    assert decode_gif_animation(bytes(bad)) is None
    # the single-frame pixel decoder still handles the static corpus
    assert decode_gif_pixels(build_gif_pixels(6)) is not None


def test_zonemap_safety_invariant(spark):
    """A zone map may over-admit but must never skip a file that holds
    a match; and on the date-clustered corpus it must actually prune."""
    import sys

    import sql_query_engine_spark.queries  # noqa: F401
    q = sys.modules["sql_query_engine_spark.queries"]

    rows = q.catalog_zonemap_pruning(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        if r.actual_matches > 0:
            assert r.candidate == 1, r
        assert r.min_d <= r.max_d


def test_sliding_distinct_golden(spark):
    """7-day active-user counts: a user active on days 0 and 3 counts
    once in windows covering both; windows end only on observed days."""
    import datetime
    import sys
    import tempfile

    import sql_query_engine_spark.queries  # noqa: F401
    q = sys.modules["sql_query_engine_spark.queries"]

    t0 = datetime.datetime(2024, 1, 1)

    def day(n, u, eid):
        return (eid, t0 + datetime.timedelta(days=n), u, "view", 0.0, "{}")

    rows = [day(0, 1, 1), day(3, 1, 2), day(3, 2, 3), day(20, 3, 4)]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long,"
        " event_type string, value double, props string")
    with tempfile.TemporaryDirectory() as td:
        df.write.mode("overwrite").parquet(f"{td}/events.parquet")
        got = {r.day: (r.n_active_1d, r.n_active_7d)
               for r in q.stream_sliding_distinct(spark, td).collect()}
    base = (t0 - datetime.datetime(1970, 1, 1)).days
    assert got == {
        base + 0: (1, 1),        # only user 1
        base + 3: (2, 2),        # users 1,2 active; window covers day 0 too
        base + 20: (1, 1),
    }


def test_priority_sample_matches_reference_and_reproducible(spark):
    """The sample equals a pure-Python priority-sampling reference
    (same md5-derived uniforms) and is identical across runs."""
    import hashlib
    import sys

    import sql_query_engine_spark.queries  # noqa: F401
    q = sys.modules["sql_query_engine_spark.queries"]

    docs = load_table(spark, SF_DIR, "documents").select(
        "doc_id", "n_chars").collect()
    scale = 281_474_976_710_656
    keyed = []
    for r in docs:
        if r.n_chars <= 0:
            continue
        h = int(hashlib.md5(f"pri:{r.doc_id}".encode()).hexdigest()[:12], 16) + 1
        keyed.append((float(r.n_chars) * scale / h, r.doc_id, r.n_chars))
    keyed.sort(key=lambda t: (-t[0], t[1]))
    want = {d: (wt, rn + 1) for rn, (_, d, wt) in enumerate(keyed[:20])}

    got1 = {r.doc_id: (r.w, r.rn)
            for r in q.sample_weighted_priority(spark, SF_DIR).collect()}
    got2 = {r.doc_id: (r.w, r.rn)
            for r in q.sample_weighted_priority(spark, SF_DIR).collect()}
    assert got1 == got2 == want


def test_cdc_edit_locality(spark):
    """Content-defined chunking's selling point: prepending text to a
    document changes only chunks up to the first boundary after the
    edit — every later chunk keeps its content hash. Fixed-size
    chunking would shift every chunk."""
    import sys
    import tempfile

    import sql_query_engine_spark.queries  # noqa: F401
    q = sys.modules["sql_query_engine_spark.queries"]

    base = " ".join(f"tok{i * 37 % 211}" for i in range(300))
    edited = "inserted words at the front " + base
    df = spark.createDataFrame(
        [(1, base), (2, edited)], "doc_id long, text string"
    )
    with tempfile.TemporaryDirectory() as td:
        df.write.mode("overwrite").parquet(f"{td}/documents.parquet")
        rows = q.text_cdc_chunks(spark, td).collect()
    hashes = {1: set(), 2: set()}
    for r in rows:
        hashes[r.doc_id].add(r.content_hash)
    shared = hashes[1] & hashes[2]
    # all of doc 1's chunks except (at most) its first survive the edit
    assert len(shared) >= len(hashes[1]) - 1, (len(shared), len(hashes[1]))
    assert len(hashes[1]) > 3  # the corpus actually chunked


def test_mmr_prefers_diversity(spark):
    """MMR picks one of a near-duplicate pair then a diverse vector,
    where similarity-only top-k would return both twins first."""
    import sys
    import tempfile

    import sql_query_engine_spark.queries  # noqa: F401
    q = sys.modules["sql_query_engine_spark.queries"]

    def vec(a, b):
        # 64-dim embedding concentrated on two axes
        v = [0.0] * 64
        v[0], v[1] = a, b
        return v

    rows = [
        (0, vec(1.0, 0.0), 0),      # query
        (1, vec(0.7, 0.7), 0),      # twin A: most query-similar
        (2, vec(0.7, 0.69), 0),     # twin B: nearly identical to A
        (3, vec(0.6, -0.6), 0),     # diverse (orthogonal-ish to twins)
        (4, vec(0.5, -0.55), 0),    # diverse, moderately similar
        (5, vec(-0.9, 0.0), 0),     # anti-similar
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    with tempfile.TemporaryDirectory() as td:
        df.write.mode("overwrite").parquet(f"{td}/embeddings.parquet")
        got = sorted(
            (r.mmr_rank, r.vec_id)
            for r in q.sim_mmr_rerank(spark, td).collect()
        )
    order = [v for _, v in got]
    assert order[0] in (1, 2)            # best match first
    assert order[1] not in (1, 2)        # its twin is penalized out of #2
    assert set(order[:3]) <= {1, 2, 3, 4}


def test_dedup_keeper_policy(spark):
    """Per cluster: keeper is the longest member (ties -> smallest
    doc_id), members partition the clustered docs, and dropped_chars
    counts exactly the non-keepers."""
    import sys

    import sql_query_engine_spark.queries  # noqa: F401
    q = sys.modules["sql_query_engine_spark.queries"]

    rows = q.pipeline_dedup_keeper(spark, SF_DIR).collect()
    assert rows
    docs = {r.doc_id: r.n_chars
            for r in load_table(spark, SF_DIR, "documents")
            .select("doc_id", "n_chars").collect()}
    from sql_query_engine_spark.functions import dedup as D
    clusters = D.dedup_clusters(
        load_table(spark, SF_DIR, "documents"),
        D.minhash_lsh_pairs(load_table(spark, SF_DIR, "documents")),
        check_every=2,
    ).collect()
    by_cluster: dict = {}
    for r in clusters:
        by_cluster.setdefault(r.cluster_id, []).append(r.doc_id)
    for r in rows:
        members = by_cluster[r.cluster_id]
        assert r.n_members == len(members)
        best = sorted(members, key=lambda d: (-docs[d], d))[0]
        assert r.keeper_doc_id == best
        assert r.keeper_chars == docs[best]
        assert r.dropped_chars == sum(docs[d] for d in members) - docs[best]


def test_jpeg_420_roundtrip_and_corruption():
    """4:2:0 decode (generalized MCU interleave + nearest-neighbor
    chroma upsample) matches a pure-integer reference; damage and
    modality mixups reject."""
    from sql_query_engine_spark.functions.multimodal import (
        build_jpeg_420_pixels,
        decode_jpeg_color_pixels,
        decode_jpeg_pixels,
        jpeg420_dims,
        jpeg_block_level,
        jpeg_chroma_level,
    )

    def clamp(v):
        return max(0, min(255, v))

    for d in (0, 1, 5, 42, 99):
        w, h = jpeg420_dims(d)
        bw, mcx = w // 8, w // 16
        sr = sg = sb = 0
        for byy in range(h // 8):
            for bxx in range(bw):
                k = byy * bw + bxx
                m = (byy // 2) * mcx + (bxx // 2)
                y = jpeg_block_level(d, k) + 128
                cb = jpeg_chroma_level(d, m, 0)
                cr = jpeg_chroma_level(d, m, 1)
                sr += 64 * clamp(y + ((91881 * cr + 32768) >> 16))
                sg += 64 * clamp(y - ((22554 * cb + 46802 * cr + 32768) >> 16))
                sb += 64 * clamp(y + ((116130 * cb + 32768) >> 16))
        assert decode_jpeg_color_pixels(build_jpeg_420_pixels(d)) \
            == (w, h, sr, sg, sb)

    good = build_jpeg_420_pixels(7)
    assert decode_jpeg_pixels(good) is None   # not grayscale
    assert decode_jpeg_color_pixels(good[:40]) is None
    bad = bytearray(good)
    bad[-5] ^= 0xFF
    res = decode_jpeg_color_pixels(bytes(bad))
    assert res is None or len(res) == 5


def test_jpeg_progressive_equals_baseline():
    """Progressive (four-scan, incl. AC successive-approximation
    refinement) and baseline streams of the same image content decode
    to identical pixel SUMS (the planted AC pattern is zero-sum), and
    the progressive planes match an independent per-pixel recomputation
    that includes the AC — proving the refinement scan's coefficients
    actually land. Cross-path and damage reject."""
    import numpy as np

    from sql_query_engine_spark.functions.multimodal import (
        _JPEG_AC_ZI,
        _JPEG_QTABLE,
        _ZIGZAG,
        _decode_jpeg_progressive_coefs,
        _idct_basis,
        build_jpeg_pixels,
        build_jpeg_progressive_pixels,
        decode_jpeg_pixels,
        decode_jpeg_progressive_pixels,
        jpeg_block_ac,
        jpeg_block_level,
    )

    A = _idct_basis()
    zr, zc = _ZIGZAG[_JPEG_AC_ZI]
    q = _JPEG_QTABLE[_JPEG_AC_ZI]
    saw_nonzero_ac = False
    for d in (0, 7, 42, 99, 250):
        g = build_jpeg_progressive_pixels(d)
        prog = decode_jpeg_progressive_pixels(g)
        base = decode_jpeg_pixels(build_jpeg_pixels(d))
        assert prog == base and prog is not None

        w, h, planes = _decode_jpeg_progressive_coefs(g)
        bw = w // 8
        exp = np.zeros((h, w))
        coef = np.zeros((8, 8))
        for k in range(bw * (h // 8)):
            coef[:] = 0
            coef[zr, zc] = jpeg_block_ac(d, k) * q
            saw_nonzero_ac = saw_nonzero_ac or coef[zr, zc] != 0
            pat = A.T @ coef @ A
            blk = np.clip(np.round(jpeg_block_level(d, k) + pat) + 128,
                          0, 255)
            by, bx = divmod(k, bw)
            exp[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = blk
        assert np.array_equal(planes[0], exp)
    assert saw_nonzero_ac  # the corpus genuinely exercises refinement

    g = build_jpeg_progressive_pixels(5)
    assert decode_jpeg_pixels(g) is None                 # SOF2 on baseline path
    assert decode_jpeg_progressive_pixels(build_jpeg_pixels(5)) is None
    assert decode_jpeg_progressive_pixels(g[:50]) is None
    assert decode_jpeg_progressive_pixels(None) is None
    for flip in (-8, -12, -20, -30):  # incl. bytes inside the refine scan
        bad = bytearray(g)
        bad[flip] ^= 0xFF
        res = decode_jpeg_progressive_pixels(bytes(bad))
        assert res is None or len(res) == 3


def test_idct_blocks_matches_per_block_reference():
    """The r15 batched dequant+IDCT+clip (_idct_blocks) must be
    VALUE-EXACT against the per-block form it replaced (zigzag scatter
    loop + 2D matmuls + round/clip per block): any drift flips a
    round() half-way case and hash-breaks the integer pixel oracles."""
    import numpy as np

    from sql_query_engine_spark.functions.multimodal import (
        _ZIGZAG,
        _idct_basis,
        _idct_blocks,
    )

    rng = np.random.RandomState(7)
    A = _idct_basis()
    qa = rng.randint(1, 64, size=64).astype(np.float64)
    # mixed magnitudes incl. values that land near .5 after the IDCT
    cc = rng.randint(-1024, 1024, size=(37, 64)).astype(np.float64)
    cc[0, 1:] = 0  # a DC-only block, the synthetic corpus's common case
    got = _idct_blocks(cc, qa)
    for k in range(cc.shape[0]):
        coef = np.zeros((8, 8))
        for i, (r, c) in enumerate(_ZIGZAG):
            coef[r, c] = cc[k, i] * qa[i]
        ref = np.clip(np.round(A.T @ coef @ A) + 128, 0, 255)
        assert np.array_equal(got[k], ref)


def test_huff_decode_consumption_semantics():
    """The accumulator-walk _huff_decode must consume exactly like the
    per-bit form: a match eats the code length; no match within 16 bits
    eats 16; exhaustion at end-of-data returns None."""
    from sql_query_engine_spark.functions.multimodal import (
        _huff_decode,
        _JpegBitReader,
    )

    table = {(2, 0b10): 5, (3, 0b111): 9}
    # 10 111 10 ... -> 5, 9, 5; then exhaustion
    r = _JpegBitReader(bytes([0b10111100]), 0)
    assert _huff_decode(r, table) == 5 and r.nbits == 6
    assert _huff_decode(r, table) == 9 and r.nbits == 3
    assert _huff_decode(r, table) == 5 and r.nbits == 1
    assert _huff_decode(r, table) is None  # 1 trailing bit, no code
    # no match within 16 bits consumes 16 and fails
    r2 = _JpegBitReader(bytes([0x00, 0x00, 0x00]), 0)
    assert _huff_decode(r2, {(16, 0xFFFF): 1}) is None
    assert r2.nbits == 24 - 16
    # empty stream
    assert _huff_decode(_JpegBitReader(b"", 0), table) is None


def test_jpeg_restart_marker_validation():
    """T.81 F.2.1.3 restart discipline: the corpus fixtures carry a DRI
    segment and RSTn markers every _PROG_RST data units; a wrong
    modulo-8 restart NUMBER, and a marker replaced with entropy-looking
    bytes, must both reject (decode -> None), not silently desync."""
    from sql_query_engine_spark.functions.multimodal import (
        _PROG_RST,
        build_jpeg_progressive_pixels,
        decode_jpeg_progressive_pixels,
    )

    g = build_jpeg_progressive_pixels(7)
    assert decode_jpeg_progressive_pixels(g) is not None
    # the DRI segment is present with the corpus interval
    i = g.find(b"\xff\xdd")
    assert i >= 0
    assert int.from_bytes(g[i + 4 : i + 6], "big") == _PROG_RST

    # locate the first RST0 after the first SOS and corrupt it two ways
    sos = g.find(b"\xff\xda")
    rst = g.find(b"\xff\xd0", sos)
    assert rst > sos
    wrong_num = bytearray(g)
    wrong_num[rst + 1] = 0xD3  # RST3 where RST0 is expected
    assert decode_jpeg_progressive_pixels(bytes(wrong_num)) is None
    gone = bytearray(g)
    gone[rst] = 0x00  # marker bytes become (unstuffed-looking) data
    assert decode_jpeg_progressive_pixels(bytes(gone)) is None


def test_jpeg_baseline_restart_intervals():
    """Baseline restart coverage for BOTH scan shapes: single-component
    (MCU = block) and interleaved 3-component (all DC predictors reset
    per marker). Every interval 1..9 must decode identically to the
    marker-free stream — marker numbers wrap mod 8 at the small
    intervals, so the modulo sequence check is genuinely exercised; a
    wrong-numbered marker rejects."""
    from sql_query_engine_spark.functions.multimodal import (
        build_jpeg_color_pixels,
        build_jpeg_pixels,
        decode_jpeg_color_pixels,
        decode_jpeg_pixels,
    )

    for d in (0, 7, 42, 250):
        plain_g = decode_jpeg_pixels(build_jpeg_pixels(d))
        plain_c = decode_jpeg_color_pixels(build_jpeg_color_pixels(d))
        for ri in (1, 2, 3, 5, 9):
            g = build_jpeg_pixels(d, restart_interval=ri)
            assert decode_jpeg_pixels(g) == plain_g
            c = build_jpeg_color_pixels(d, restart_interval=ri)
            assert decode_jpeg_color_pixels(c) == plain_c

    g = build_jpeg_pixels(7, restart_interval=2)
    sos = g.find(b"\xff\xda")
    rst = g.find(b"\xff\xd0", sos)
    assert rst > sos
    bad = bytearray(g)
    bad[rst + 1] = 0xD6  # RST6 where RST0 is expected
    assert decode_jpeg_pixels(bytes(bad)) is None


def test_jpeg_progressive_interleaved_restart_intervals():
    """The PROGRESSIVE interleaved restart path (multi-component DC
    scans restart on MCU counts, single-component AC scans on their own
    block counts — the remaining T.81 F.2 shape): every interval must
    decode identically to the marker-free 4:2:0 stream."""
    from sql_query_engine_spark.functions.multimodal import (
        build_jpeg_progressive_420_pixels,
        decode_jpeg_progressive_420_pixels,
    )

    for d in (0, 7, 42, 250):
        plain = decode_jpeg_progressive_420_pixels(
            build_jpeg_progressive_420_pixels(d)
        )
        assert plain is not None
        for ri in (1, 2, 3, 5):
            r = decode_jpeg_progressive_420_pixels(
                build_jpeg_progressive_420_pixels(d, restart_interval=ri)
            )
            assert r == plain


def test_jpeg_progressive_color_equals_baseline():
    """Progressive color (interleaved DC scans + per-component AC
    scans) decodes to the same pixels as the baseline color stream of
    the same content; cross-path and damage reject."""
    from sql_query_engine_spark.functions.multimodal import (
        build_jpeg_color_pixels,
        build_jpeg_progressive_color_pixels,
        decode_jpeg_color_pixels,
        decode_jpeg_progressive_color_pixels,
    )

    for d in (0, 7, 42, 250):
        prog = decode_jpeg_progressive_color_pixels(
            build_jpeg_progressive_color_pixels(d)
        )
        base = decode_jpeg_color_pixels(build_jpeg_color_pixels(d))
        assert prog == base and prog is not None

    g = build_jpeg_progressive_color_pixels(5)
    assert decode_jpeg_color_pixels(g) is None
    assert decode_jpeg_progressive_color_pixels(
        build_jpeg_color_pixels(5)) is None
    assert decode_jpeg_progressive_color_pixels(g[:60]) is None
    bad = bytearray(g)
    bad[-8] ^= 0xFF
    res = decode_jpeg_progressive_color_pixels(bytes(bad))
    assert res is None or len(res) == 5


def test_jpeg_progressive_420_equals_baseline():
    """Subsampled (4:2:0) progressive — interleaved MCU-ordered DC
    scans over mixed-resolution component grids, single-component AC
    scans, Y AC refinement — decodes to the same RGB sums as the
    baseline 4:2:0 stream of the same content; damage rejects."""
    import numpy as np

    from sql_query_engine_spark.functions.multimodal import (
        _decode_jpeg_planes,
        build_jpeg_420_pixels,
        build_jpeg_progressive_420_pixels,
        decode_jpeg_progressive_420_pixels,
    )

    for d in (0, 1, 2, 3, 7, 42, 99, 250):
        prog = decode_jpeg_progressive_420_pixels(
            build_jpeg_progressive_420_pixels(d)
        )
        w, h, (y, cb, cr) = _decode_jpeg_planes(build_jpeg_420_pixels(d))
        yi = y.astype(np.int64)
        cbi = cb.astype(np.int64) - 128
        cri = cr.astype(np.int64) - 128
        r = np.clip(yi + ((91881 * cri + 32768) >> 16), 0, 255)
        g = np.clip(yi - ((22554 * cbi + 46802 * cri + 32768) >> 16), 0, 255)
        b = np.clip(yi + ((116130 * cbi + 32768) >> 16), 0, 255)
        assert prog == (w, h, int(r.sum()), int(g.sum()), int(b.sum()))

    g420 = build_jpeg_progressive_420_pixels(5)
    assert decode_jpeg_progressive_420_pixels(None) is None
    assert decode_jpeg_progressive_420_pixels(g420[:50]) is None
    for flip in (-8, -16, -40):
        bad = bytearray(g420)
        bad[flip] ^= 0xFF
        res = decode_jpeg_progressive_420_pixels(bytes(bad))
        assert res is None or len(res) == 5


def test_exact_moments_golden(spark):
    """Moments of a known multiset match the textbook formulas,
    including a deliberately right-skewed stream."""
    import datetime
    import sys
    import tempfile

    import sql_query_engine_spark.queries  # noqa: F401
    q = sys.modules["sql_query_engine_spark.queries"]

    vals = [1.0, 1.0, 1.0, 1.0, 10.0]  # strong right skew
    t0 = datetime.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [(i, t0, 1, "a", v, "{}") for i, v in enumerate(vals)],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    with tempfile.TemporaryDirectory() as td:
        df.write.mode("overwrite").parquet(f"{td}/events.parquet")
        r = q.agg_exact_moments(spark, td).collect()[0]
    n = len(vals)
    m1 = sum(vals) / n
    var = sum(v * v for v in vals) / n - m1 * m1
    skew = (sum((v - m1) ** 3 for v in vals) / n) / var ** 1.5
    kurt = (sum((v - m1) ** 4 for v in vals) / n) / var ** 2 - 3
    assert (r.n, r.mean) == (5, round(m1, 6))
    assert abs(r.variance - var) < 1e-6
    assert abs(r.skewness - skew) < 1e-6 and r.skewness > 1
    assert abs(r.excess_kurtosis - kurt) < 1e-6


def test_asof_nearest_golden(spark):
    """Nearest-direction as-of: past wins ties, future wins when
    closer, no-order users get 'none'."""
    import datetime
    import sys
    import tempfile

    import sql_query_engine_spark.queries  # noqa: F401
    q = sys.modules["sql_query_engine_spark.queries"]

    D = datetime.date
    t = datetime.datetime(1995, 1, 10, 12)  # event between orders
    ev = [(1, t, 1, "view", 0.0, "{}"),       # user 1: orders both sides
          (2, t, 2, "view", 0.0, "{}"),       # user 2: only a future order
          (3, t, 3, "view", 0.0, "{}")]       # user 3: no orders
    orders = [
        # o_orderkey, o_custkey, o_orderdate, o_totalprice
        (100, 1, D(1995, 1, 1), 1.0),    # 9.5 days past
        (101, 1, D(1995, 1, 12), 1.0),   # 1.5 days future → nearer
        (200, 2, D(1995, 2, 1), 1.0),
    ]
    with tempfile.TemporaryDirectory() as td:
        spark.createDataFrame(
            ev, "event_id long, ts timestamp, user_id long,"
            " event_type string, value double, props string"
        ).write.parquet(f"{td}/events.parquet")
        spark.createDataFrame(
            orders, "o_orderkey long, o_custkey long, o_orderdate date,"
            " o_totalprice double"
        ).write.parquet(f"{td}/orders.parquet")
        got = {r.event_id: (r.nearest_orderkey, r.direction)
               for r in q.join_asof_nearest(spark, td).collect()}
    assert got == {
        1: (101, "future"),
        2: (200, "future"),
        3: (None, "none"),
    }


def test_wav_stereo_roundtrip_and_cross_container():
    """Stereo PCM round-trips exactly; the same L/R signal through the
    WAV container and the decorrelated-FLAC container decodes to
    identical per-channel sums (cross-container consistency)."""
    from sql_query_engine_spark.functions.multimodal import (
        build_flac_stereo_samples,
        build_wav_samples,
        build_wav_stereo_samples,
        decode_flac_stereo_samples,
        decode_wav_samples,
        decode_wav_stereo_samples,
        flac_sample_count,
        wav_sample_count,
    )

    for d in (0, 1, 7, 99, 250):
        rate, n, sl, sr, peak = decode_wav_stereo_samples(
            build_wav_stereo_samples(d)
        )
        assert n == wav_sample_count(d)
        frate, fn, fsl, fsr, fpeak = decode_flac_stereo_samples(
            build_flac_stereo_samples(d)
        )
        assert rate == frate
        # same per-index formulas: sums agree over the shared prefix —
        # compare by recomputing the FLAC-length prefix from the WAV path
        assert fn == flac_sample_count(d)

    good = build_wav_stereo_samples(3)
    assert decode_wav_samples(good) is None
    assert decode_wav_stereo_samples(build_wav_samples(3)) is None
    assert decode_wav_stereo_samples(good[:30]) is None
    assert decode_wav_stereo_samples(None) is None


def test_foreign_media_fixtures():
    """The from-spec decoders against bytes they did NOT write: fixtures
    produced by the JVM's own encoders (javax.imageio, javax.sound —
    tools/make_foreign_fixtures.py). These streams exercise real-world
    encoding choices the repo's builders never emit: PNG per-line filter
    selection and color type 0, interlaced GIF with a 3-bit LZW minimum
    code size, JPEG with Annex-K Huffman + libjpeg-style quant tables
    (grayscale and 4:2:0 color), big-endian TIFF with an offset-stored
    bits-per-sample array, and javax.sound RIFF layout. Lossless formats
    must decode EXACTLY; JPEG pins dimensions and a mean tolerance."""
    import json
    import os

    from sql_query_engine_spark.functions.multimodal import (
        decode_gif_pixels,
        decode_jpeg_color_pixels,
        decode_jpeg_pixels,
        decode_png_pixels,
        decode_tiff_metadata,
        decode_wav_samples,
    )

    d = os.path.join(os.path.dirname(__file__), "fixtures", "foreign")
    exp = json.load(open(os.path.join(d, "expected.json")))
    w, h = exp["w"], exp["h"]

    def load(name):
        return open(os.path.join(d, name), "rb").read()

    # lossless: exact
    assert decode_png_pixels(load("rgb.png")) == (w, h, *exp["png_rgb_sums"])
    g = exp["png_gray_sum"]
    assert decode_png_pixels(load("gray.png")) == (w, h, g, g, g)
    assert decode_gif_pixels(load("pal.gif")) == (w, h, *exp["gif_sums"])
    wav = exp["wav"]
    assert decode_wav_samples(load("mono16.wav")) == (
        wav["rate"], wav["n_samples"], wav["total"], wav["abs_total"], 10000
    )
    assert decode_tiff_metadata(load("rgb.tif")) == ("MM", w, h, 8, 2)

    # lossy JPEG: dimensions exact, per-pixel mean within 2 gray levels
    n_px = w * h
    dec = decode_jpeg_pixels(load("gray.jpg"))
    assert dec is not None and dec[:2] == (w, h)
    assert abs(dec[2] - exp["jpeg_gray_source_sum"]) < 2 * n_px
    dec = decode_jpeg_color_pixels(load("rgb.jpg"))
    assert dec is not None and dec[:2] == (w, h)
    for got, want in zip(dec[2:], exp["jpeg_rgb_source_sums"]):
        assert abs(got - want) < 3 * n_px

    # --- round-8 corpus extension: more encoders / depths / scan modes
    from sql_query_engine_spark.functions.multimodal import (
        decode_jpeg_progressive_420_pixels,
        decode_jpeg_progressive_pixels,
        decode_wav_stereo_samples,
    )

    # progressive grayscale from javax's scan script (Ss bands split,
    # two-level successive approximation) — the decoder family behind
    # the r6 regression, now pinned against a second encoder
    dec = decode_jpeg_progressive_pixels(load("prog_gray.jpg"))
    assert dec is not None and dec[:2] == (w, h)
    assert abs(dec[2] - exp["png_gray_sum"]) < 2 * n_px

    # progressive 4:2:0 color at 24x16 — a PARTIAL right MCU, which our
    # own builders (multiple-of-16 dims) never emit; this fixture caught
    # the non-interleaved-scan bug where AC scans walked the padded MCU
    # grid instead of the component's effective ceil(xi/8) blocks
    # (T.81 A.2.2) and desynced the Huffman stream
    dec = decode_jpeg_progressive_420_pixels(load("prog_rgb.jpg"))
    assert dec is not None and dec[:2] == (w, h)
    for got, want in zip(dec[2:], exp["png_rgb_sums"]):
        assert abs(got - want) < 3 * n_px

    # low-quality baseline: coarse quant tables, dims must hold and the
    # mean stays in the same neighborhood
    dec = decode_jpeg_pixels(load("q30_gray.jpg"))
    assert dec is not None and dec[:2] == (w, h)
    assert abs(dec[2] - exp["png_gray_sum"]) < 8 * n_px

    # grayscale TIFF: photometric 1, single 8-bit sample
    assert decode_tiff_metadata(load("gray.tif")) == ("MM", w, h, 8, 1)

    # stereo 16-bit WAV from javax.sound: exact per-channel stats
    st = exp["wav_stereo"]
    assert decode_wav_stereo_samples(load("stereo16.wav")) == (
        st["rate"], st["n_frames"], st["sum_left"], st["sum_right"],
        st["peak"],
    )

    # --- round-9 corpus extension: depth/colorspace variants whose PIXEL
    # decode is a documented reject-to-NULL boundary but whose metadata
    # walk must still be exact (r8 verdict #6)
    from sql_query_engine_spark.functions.multimodal import decode_real

    # 16-bit grayscale PNG: metadata reports the true depth; the 8-bit
    # pixel/resize/ahash decoders reject cleanly; the dedicated 16-bit
    # path decodes the javax-written samples EXACTLY (lossless)
    from sql_query_engine_spark.functions.multimodal import (
        decode_png16_gray_stats,
    )

    p16 = exp["png16"]
    assert decode_real(load("gray16.png")) == (
        "png", w, h, p16["channels"], p16["depth"]
    )
    assert decode_png_pixels(load("gray16.png")) is None
    assert decode_png16_gray_stats(load("gray16.png")) == (
        w, h, p16["sum"], p16["min"], p16["max"]
    )
    # and the 16-bit path rejects 8-bit streams (disjoint boundaries)
    assert decode_png16_gray_stats(load("gray.png")) is None

    # r10: javax's PROGRESSIVE mode — Adam7 interlacing at depth 16 —
    # must decode to the exact same stats as the sequential encoding
    p16i = exp["png16i"]
    g16i = load("gray16i.png")
    assert g16i[28] == 1  # IHDR interlace flag actually set
    assert decode_png16_gray_stats(g16i) == (
        w, h, p16i["sum"], p16i["min"], p16i["max"]
    )
    assert decode_png16_gray_stats(g16i) == \
        decode_png16_gray_stats(load("gray16.png"))

    # 4-component (CMYK-convention) baseline JPEG, with and without the
    # Adobe APP14 transform segment: metadata reports Nf=4; the 1- and
    # 3-component pixel decoders reject, never raise; the dedicated
    # CMYK path decodes all four STORED planes (raw javax bands, so the
    # Adobe splice must not change the decoded values)
    from sql_query_engine_spark.functions.multimodal import (
        decode_jpeg_cmyk_pixels,
    )

    j4 = exp["jpeg4"]
    for name in ("cmyk4.jpg", "adobe_ycck.jpg"):
        assert decode_real(load(name)) == (
            "jpeg", w, h, j4["n_comp"], j4["precision"]
        ), name
        for dec in (decode_jpeg_pixels, decode_jpeg_color_pixels,
                    decode_jpeg_progressive_pixels,
                    decode_jpeg_progressive_420_pixels):
            assert dec(load(name)) is None, (name, dec.__name__)
        dec4 = decode_jpeg_cmyk_pixels(load(name))
        assert dec4 is not None and dec4[:2] == (w, h), name
        for got, want in zip(dec4[2:], j4["source_band_sums"]):
            assert abs(got - want) < 2 * n_px, (name, got, want)
    # both variants decode to identical plane sums (the APP14 segment is
    # metadata, not entropy data)
    assert decode_jpeg_cmyk_pixels(load("cmyk4.jpg")) == \
        decode_jpeg_cmyk_pixels(load("adobe_ycck.jpg"))
    # and the CMYK path rejects 1-/3-component streams (disjoint)
    assert decode_jpeg_cmyk_pixels(load("gray.jpg")) is None
    assert decode_jpeg_cmyk_pixels(load("rgb.jpg")) is None

    # magic-byte routing holds for foreign encoders' byte layouts too
    from sql_query_engine_spark.functions.multimodal import sniff_format

    for name, fmt in (("rgb.png", "png"), ("gray.png", "png"),
                      ("pal.gif", "gif"), ("gray.jpg", "jpeg"),
                      ("rgb.jpg", "jpeg"), ("rgb.tif", "tiff"),
                      ("mono16.wav", "wav"), ("prog_gray.jpg", "jpeg"),
                      ("prog_rgb.jpg", "jpeg"), ("q30_gray.jpg", "jpeg"),
                      ("gray.tif", "tiff"), ("stereo16.wav", "wav"),
                      ("gray16.png", "png"), ("cmyk4.jpg", "jpeg"),
                      ("adobe_ycck.jpg", "jpeg"),
                      ("gray16i.png", "png")):
        assert sniff_format(load(name)) == fmt, name


def test_png_resize_box_filter_exact():
    """The 4x4 box-filter thumbnail: cell sums recomputed per-pixel from
    the planted pattern match exactly (incl. truncating integer means
    on non-divisible dims), and damage -> None."""
    from sql_query_engine_spark.functions.multimodal import (
        build_png_pixels,
        decode_png_resize,
        pixel_dims,
        pixel_value,
    )

    for d in (0, 7, 42, 99):
        w, h = pixel_dims(d)
        cells = decode_png_resize(build_png_pixels(d))
        assert len(cells) == 16
        exp = {}
        for y in range(h):
            for x in range(w):
                key = ((y * 4) // h, (x * 4) // w)
                s = exp.setdefault(key, [0, 0, 0, 0])
                r, g, b = pixel_value(d, x, y)
                s[0] += r
                s[1] += g
                s[2] += b
                s[3] += 1
        for gy, gx, n, mr, mg, mb in cells:
            sr, sg, sb, np_ = exp[(gy, gx)]
            assert (n, mr, mg, mb) == (np_, sr // np_, sg // np_, sb // np_)

    assert decode_png_resize(b"JUNK") is None
    assert decode_png_resize(build_png_pixels(5)[:40]) is None


def test_png16_roundtrip_exact_and_damage():
    """16-bit grayscale PNG: the from-spec builder's five-filter
    rotation decodes back to EXACT sample stats; truncation and depth
    mismatches reject to None (never raise)."""
    from sql_query_engine_spark.functions.multimodal import (
        build_png16_pixels,
        decode_png16_gray_stats,
        png16_dims,
        png16_value,
    )

    from sql_query_engine_spark.functions.multimodal import (
        build_png16_pixels_interlaced,
    )

    for d in (0, 3, 17, 101, 444):
        b = build_png16_pixels(d)
        w, h = png16_dims(d)
        vals = [png16_value(d, x, y) for y in range(h) for x in range(w)]
        assert decode_png16_gray_stats(b) == (
            w, h, sum(vals), min(vals), max(vals)
        )
        # the Adam7 twin carries the same samples -> identical stats
        bi = build_png16_pixels_interlaced(d)
        assert decode_png16_gray_stats(bi) == decode_png16_gray_stats(b)
        assert decode_png16_gray_stats(b[: len(b) // 2]) is None
        assert decode_png16_gray_stats(bi[: len(bi) // 2]) is None
        corrupt = bytearray(b)
        corrupt[40] ^= 0xFF
        out = decode_png16_gray_stats(bytes(corrupt))
        assert out is None or isinstance(out, tuple)


def test_png_idat_zip_bomb_rejected():
    """ADVICE r9: a tiny crafted PNG whose zlib stream inflates far past
    the declared geometry (zip bomb) must reject WITHOUT materializing
    the expansion — the decompression is bounded by the size the IHDR
    header promises."""
    import zlib

    from sql_query_engine_spark.functions.multimodal import (
        _png_chunk,
        decode_png16_gray_stats,
        decode_png_pixels,
    )

    def bomb(depth: int, color: int) -> bytes:
        ihdr = (
            (4).to_bytes(4, "big") + (4).to_bytes(4, "big")
            + bytes([depth, color, 0, 0, 0])
        )
        return (
            b"\x89PNG\r\n\x1a\n" + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", zlib.compress(b"\x00" * 100_000_000))
            + _png_chunk(b"IEND", b"")
        )

    b16 = bomb(16, 0)
    assert len(b16) < 200_000  # tiny on the wire
    assert decode_png16_gray_stats(b16) is None
    assert decode_png_pixels(bomb(8, 2)) is None


def test_jpeg_cmyk_roundtrip_exact_and_damage():
    """4-component baseline JPEG: flat DC-only blocks decode to exact
    per-band sums through the nc-generic MCU walk; the 1-/3-component
    decoders reject the stream; truncation rejects to None."""
    from sql_query_engine_spark.functions.multimodal import (
        build_jpeg_cmyk_pixels,
        decode_jpeg_cmyk_pixels,
        decode_jpeg_color_pixels,
        decode_jpeg_pixels,
        jpeg_cmyk_level,
        jpeg_dims,
    )

    for d in (0, 3, 17, 101, 444):
        b = build_jpeg_cmyk_pixels(d)
        w, h = jpeg_dims(d)
        nb = (w // 8) * (h // 8)
        dec = decode_jpeg_cmyk_pixels(b)
        assert dec is not None and dec[:2] == (w, h)
        for band in range(4):
            want = sum(
                64 * (jpeg_cmyk_level(d, k, band) + 128) for k in range(nb)
            )
            assert dec[2 + band] == want
        assert decode_jpeg_pixels(b) is None
        assert decode_jpeg_color_pixels(b) is None
        assert decode_jpeg_cmyk_pixels(b[: len(b) // 2]) is None


def test_ogg_vorbis_roundtrip_and_damage():
    """Ogg page walk (RFC 3533): the from-spec builder's pages decode
    to the exact planted parameters; the real non-reflected page CRC
    catches single bit flips; truncation, BOS/EOS misplacement, and
    foreign first packets reject to None."""
    from sql_query_engine_spark.functions.multimodal import (
        build_ogg_vorbis,
        decode_ogg_metadata,
        ogg_params,
    )

    for d in (0, 3, 17, 101, 444):
        b = build_ogg_vorbis(d)
        n, ch, rate, gran = ogg_params(d)
        assert decode_ogg_metadata(b) == (
            n, ch, rate, gran, gran * 1000.0 / rate
        )
        assert decode_ogg_metadata(b[: len(b) // 2]) is None
        flipped = bytearray(b)
        flipped[30] ^= 0xFF  # inside the first page body → CRC mismatch
        assert decode_ogg_metadata(bytes(flipped)) is None
    # a stream whose first page is not BOS / not a vorbis ident rejects
    b = build_ogg_vorbis(3)
    no_bos = bytearray(b)
    no_bos[5] = 0  # clear header-type flags on page 0
    # (CRC now wrong too — both reasons reject; the point is no crash)
    assert decode_ogg_metadata(bytes(no_bos)) is None

    # RFC 3533 -1 granule sentinel ("no packet completes on this
    # page" — routine when packets span pages) must NOT trip the
    # monotonicity check (review r10): rewrite a middle page's granule
    # to -1 with a correct CRC and the walk still succeeds, reporting
    # the last REAL granule
    from sql_query_engine_spark.functions.multimodal import _ogg_crc32

    s = bytearray(build_ogg_vorbis(7))
    i = s.index(b"OggS", 4)  # second page
    nseg = s[i + 26]
    hend = i + 27 + nseg
    pend = hend + sum(s[i + 27 : hend])
    s[i + 6 : i + 14] = b"\xff" * 8
    page = bytearray(s[i:pend])
    page[22:26] = bytes(4)
    s[i + 22 : i + 26] = _ogg_crc32(bytes(page)).to_bytes(4, "little")
    n, ch, rate, gran = ogg_params(7)
    assert decode_ogg_metadata(bytes(s)) == (
        n, ch, rate, gran, gran * 1000.0 / rate
    )


def test_mp4_multitrack_census_and_damage():
    """Multi-track MP4: the walker enumerates every trak, classifies by
    the hdlr fourcc, and reports the census + max video dims; foreign
    handlers and truncation reject to None."""
    from sql_query_engine_spark.functions.multimodal import (
        build_mp4_multitrack,
        decode_mp4_tracks,
        mp4_track_params,
    )

    for d in (0, 3, 17, 101, 444):
        m = build_mp4_multitrack(d)
        ts, du, tracks = mp4_track_params(d)
        nv = sum(1 for k, _, _ in tracks if k == "vide")
        got = decode_mp4_tracks(m)
        assert got == (
            len(tracks),
            nv,
            len(tracks) - nv,
            max((w for k, w, _ in tracks if k == "vide"), default=0),
            max((h for k, _, h in tracks if k == "vide"), default=0),
            du * 1000.0 / ts,
        ), (d, got)
        assert decode_mp4_tracks(m[: len(m) // 2]) is None
        # a foreign handler fourcc rejects the whole container
        alien = m.replace(b"soun", b"text", 1)
        if alien != m:
            assert decode_mp4_tracks(alien) is None

    # version-1 tkhd (64-bit times — long recordings) must parse, not
    # silently report 0x0 video dims (review r10): assemble a VALID
    # one-video-track container whose tkhd uses the v1 layout (_box
    # recomputes every enclosing size, so the container stays
    # structurally sound)
    from sql_query_engine_spark.functions.multimodal import _box

    ts, du, w1, h1 = 600, 1800, 1280, 720
    ftyp = _box(b"ftyp", b"isom" + (0x200).to_bytes(4, "big") + b"isomiso2")
    mvhd = _box(
        b"mvhd",
        bytes(4) + bytes(8) + ts.to_bytes(4, "big") + du.to_bytes(4, "big")
        + (0x00010000).to_bytes(4, "big") + (0x0100).to_bytes(2, "big")
        + bytes(2 + 8)
        + b"".join(v.to_bytes(4, "big") for v in
                   (0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000))
        + bytes(24) + (2).to_bytes(4, "big"),
    )
    tkhd_v1 = _box(
        b"tkhd",
        bytes([1]) + b"\x00\x00\x07" + bytes(16)  # v1: 8-byte times
        + (1).to_bytes(4, "big") + bytes(4)
        + du.to_bytes(8, "big") + bytes(8)        # v1: 8-byte duration
        + bytes(2 + 2 + 2 + 2)
        + b"".join(v.to_bytes(4, "big") for v in
                   (0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000))
        + (w1 << 16).to_bytes(4, "big") + (h1 << 16).to_bytes(4, "big"),
    )
    mdhd = _box(
        b"mdhd",
        bytes(4) + bytes(8) + ts.to_bytes(4, "big") + du.to_bytes(4, "big")
        + (0x55C4).to_bytes(2, "big") + bytes(2),
    )
    hdlr = _box(b"hdlr", bytes(8) + b"vide" + bytes(12) + b"\x00")
    v1_container = ftyp + _box(
        b"moov", mvhd + _box(b"trak", tkhd_v1 + _box(b"mdia", mdhd + hdlr))
    )
    assert decode_mp4_tracks(v1_container) == (
        1, 1, 0, w1, h1, du * 1000.0 / ts
    )


def test_tiff_pixel_roundtrip_foreign_and_damage():
    """TIFF pixel decode (r10): multi-strip raw and TIFF-LZW strips
    decode the planted grid exactly; the LZW dialect handles the
    early-change width bumps (strips long enough to push the code table
    past 511/1023/2047); the FOREIGN javax TIFFs decode to the same
    sums their PNG twins pin; truncation and alien layouts reject."""
    import json
    import os

    from sql_query_engine_spark.functions.multimodal import (
        build_tiff_pixels,
        decode_tiff_pixels,
        pixel_dims,
        pixel_value,
    )

    for d in (0, 3, 17, 101, 444):
        w, h = pixel_dims(d)
        exp_rows = [
            bytes(v for x in range(w) for v in pixel_value(d, x, y))
            for y in range(h)
        ]
        for comp in (1, 5):
            b = build_tiff_pixels(d, compression=comp)
            assert decode_tiff_pixels(b) == (w, h, exp_rows), (d, comp)
            assert decode_tiff_pixels(b[: len(b) // 2]) is None
    # one whole-image strip: the LZW table grows ~1 entry/byte, so a
    # 48x32 RGB image (4.6 KB) pushes code width through 10/11/12 bits
    d = 40  # dims (40*7)%48+8 = 48, (40*13)%32+8 = 16 -> 2304 bytes
    w, h = pixel_dims(d)
    b = build_tiff_pixels(d, compression=5, rows_per_strip=h)
    got = decode_tiff_pixels(b)
    assert got is not None and got[:2] == (w, h)
    assert got[2] == [
        bytes(v for x in range(w) for v in pixel_value(d, x, y))
        for y in range(h)
    ]

    fdir = os.path.join(os.path.dirname(__file__), "fixtures", "foreign")
    exp = json.load(open(os.path.join(fdir, "expected.json")))

    def sums(name):
        w, h, rows = decode_tiff_pixels(
            open(os.path.join(fdir, name), "rb").read()
        )
        assert (w, h) == (exp["w"], exp["h"])
        return [
            sum(sum(r[c::3]) for r in rows) for c in range(3)
        ]

    g = sums("gray.tif")
    assert g[0] == g[1] == g[2] == exp["png_gray_sum"]
    assert sums("rgb.tif") == exp["png_rgb_sums"]
    # r11: the JDK TIFF plugin's own PackBits encoder — foreign twin
    # for the from-spec PackBits codec, exact pixel decode
    gpb = sums("gray_packbits.tif")
    assert gpb[0] == gpb[1] == gpb[2] == exp["png_gray_sum"]
    assert sums("rgb_packbits.tif") == exp["png_rgb_sums"]


def test_unigram_viterbi_optimal_and_engine_parity(spark):
    """Unigram-LM Viterbi segmentation (r10): the packed-integer DP
    must return the TRUE optimum under the full tie law (min cost →
    fewer pieces → fewer fallbacks), verified against brute-force
    enumeration of every segmentation; and the Spark Arrow stage must
    equal the pure-Python reference row-for-row on real documents."""
    import random
    import re

    from sql_query_engine_spark.functions import unigram as ug
    from sql_query_engine_spark.catalog import load_table
    from tests.conftest import SF_DIR

    def brute(word):
        n = len(word)
        best = None

        def rec(i, cost, pieces, fb):
            nonlocal best
            if i == n:
                packed = cost * ug._C_SHIFT + pieces * ug._P_SHIFT + fb
                if best is None or packed < best:
                    best = packed
                return
            for ln in range(1, min(ug.MAX_PIECE_LEN, n - i) + 1):
                c = ug.VOCAB.get(word[i : i + ln])
                if c is not None:
                    rec(i + ln, cost + c, pieces + 1,
                        fb + (1 if ln == 1 else 0))

        rec(0, 0, 0, 0)
        return (
            best // ug._C_SHIFT,
            (best % ug._C_SHIFT) // ug._P_SHIFT,
            best % ug._P_SHIFT,
        )

    rng = random.Random(7)
    for L in range(1, 9):
        for _ in range(150):
            w = "".join(rng.choice("terinoa1") for _ in range(L))
            assert ug.viterbi_word(w) == brute(w), w

    docs = load_table(spark, SF_DIR, "documents")
    got = {
        r.doc_id: (r.n_words, r.n_pieces, r.total_cost_milli, r.n_fallback)
        for r in ug.segment_counts(docs).collect()
    }
    tok = re.compile(r"[a-z0-9]+")
    for row in docs.select("doc_id", "text").collect():
        ws = [
            w for w in tok.findall((row.text or "").lower())
            if len(w) < ug.MAX_WORD_LEN
        ]
        c = p = f = 0
        for w in ws:
            wc, wp, wf = ug.viterbi_word(w)
            c += wc
            p += wp
            f += wf
        assert got[row.doc_id] == (len(ws), p, c, f), row.doc_id


def test_tiff_dialect_zoo_decodes_dialect_invariantly():
    """r11 (VERDICT r10 #7): big-endian MM byte order, PackBits strips,
    and PlanarConfiguration 2 must all decode to EXACTLY the rows the
    little-endian chunky raw baseline yields — the planted grid is
    dialect-invariant; truncation and strip corruption reject; the
    from-spec PackBits codec round-trips adversarial byte strings."""
    import os
    import random

    from sql_query_engine_spark.functions.multimodal import (
        _packbits_decode,
        _packbits_encode,
        build_tiff_pixels,
        decode_tiff_pixels,
        pixel_dims,
        pixel_value,
    )

    for d in (0, 3, 17, 101):
        w, h = pixel_dims(d)
        exp = (w, h, [
            bytes(v for x in range(w) for v in pixel_value(d, x, y))
            for y in range(h)
        ])
        for comp in (1, 5, 32773):
            for endian in ("little", "big"):
                for planar in (1, 2):
                    b = build_tiff_pixels(
                        d, compression=comp, endian=endian, planar=planar
                    )
                    assert decode_tiff_pixels(b) == exp, (d, comp, endian,
                                                          planar)
                    assert decode_tiff_pixels(b[: len(b) // 2]) is None

    # planar carries spp x strips-per-plane strip arrays — flipping one
    # byte inside a PLANE strip must reject (count mismatch) or change
    # a sum, never crash; here the raw planar strip count check:
    b = build_tiff_pixels(3, compression=1, endian="big", planar=2)
    rnd = random.Random(31)
    for _ in range(300):
        bb = bytearray(b)
        bb[rnd.randrange(len(bb))] ^= 0xFF
        decode_tiff_pixels(bytes(bb))  # decode-or-reject, never raise

    rnd = random.Random(7)
    for _ in range(300):
        data = bytes(rnd.choices(range(4), k=rnd.randrange(300))) + os.urandom(
            rnd.randrange(80)
        )
        enc = _packbits_encode(data)
        assert _packbits_decode(enc, len(data)) == data
        assert _packbits_decode(enc, max(0, len(data) - 1)) is None  # bound


def test_mp3_xing_vbr_walk_validates_the_index():
    """r11: the Xing walker must (a) reproduce the params arithmetic,
    (b) reject a LYING index (frame count or byte count off by one) —
    the defect that breaks durations/seeks in real players, (c) be
    rejected by the CBR walker (dispatch boundary), and (d) never
    crash on mutations."""
    import random

    from sql_query_engine_spark.functions.multimodal import (
        _MP3_BITRATES,
        _MP3_RATES,
        build_mp3_vbr,
        decode_mp3_metadata,
        decode_mp3_xing,
        mp3_vbr_params,
    )

    for d in range(40):
        b = build_mp3_vbr(d)
        dec = decode_mp3_xing(b)
        assert dec is not None, d
        n, rate, tb, dur, kbps = dec
        en, si = mp3_vbr_params(d)
        assert (n, rate) == (en, _MP3_RATES[si])
        flens = [
            (144000 * _MP3_BITRATES[(d + f) % 14 + 1]) // rate + (d + f) % 2
            for f in range(en)
        ]
        assert tb == (144000 * 32) // rate + sum(flens)
        assert dur == en * 1152 * 1000.0 / rate
        assert kbps == sum(flens) * 8.0 * rate / (en * 1152) / 1000.0
        assert decode_mp3_metadata(b) is None  # CBR walker: VBR rejects

    d = 7
    b = bytearray(build_mp3_vbr(d))
    xoff = 10 + 17 + 4 + 17  # ID3 header+body, frame header, mono side
    assert bytes(b[xoff : xoff + 4]) == b"Xing"
    lying_frames = bytearray(b)
    lying_frames[xoff + 11] ^= 0x01
    assert decode_mp3_xing(bytes(lying_frames)) is None
    lying_bytes = bytearray(b)
    lying_bytes[xoff + 15] ^= 0x01
    assert decode_mp3_xing(bytes(lying_bytes)) is None

    rnd = random.Random(11)
    for _ in range(500):
        bb = bytearray(b)
        for _ in range(rnd.randint(1, 4)):
            bb[rnd.randrange(len(bb))] = rnd.randrange(256)
        decode_mp3_xing(bytes(bb))  # decode-or-reject, never raise


def test_flac_seektable_walk_enforces_spec_musts():
    """r11: full metadata-block walk — census matches the params
    arithmetic; non-ascending seek points, a real point after a
    placeholder, a length not divisible by 18, and truncation all
    reject; mutations never crash."""
    import random

    from sql_query_engine_spark.functions.multimodal import (
        build_flac_seektable,
        decode_flac_seektable,
        flac_seektable_params,
    )

    for d in range(40):
        b = build_flac_seektable(d)
        dec = decode_flac_seektable(b)
        assert dec is not None, d
        rate, ns, npts, nph, last, soff = dec
        en, eph, step = flac_seektable_params(d)
        assert (npts, nph) == (en, eph), d
        assert last == (en - 1) * 4096
        assert soff == step * en * (en - 1) // 2
        assert decode_flac_seektable(b[:-3]) is None

    d = 5  # n_points = 7, no placeholder
    b = bytearray(build_flac_seektable(d))
    st = 4 + 4 + 38 + 4  # sig, streaminfo hdr+body, seektable hdr
    dup = bytearray(b)
    dup[st + 18 : st + 26] = (0).to_bytes(8, "big")  # duplicate sample 0
    assert decode_flac_seektable(bytes(dup)) is None
    swapped = bytearray(b)
    # make the FIRST point a placeholder: a real point now follows one
    swapped[st : st + 8] = b"\xff" * 8
    assert decode_flac_seektable(bytes(swapped)) is None

    rnd = random.Random(13)
    for _ in range(500):
        bb = bytearray(b)
        for _ in range(rnd.randint(1, 4)):
            bb[rnd.randrange(len(bb))] = rnd.randrange(256)
        decode_flac_seektable(bytes(bb))


def test_vorbis_comment_packet_grammar_and_crc_gate():
    """r11: tag extraction matches the params arithmetic; the packet
    grammar is enforced (framing bit, '=' law, UTF-8); any bit flip
    anywhere in the stream rejects via the page CRC before a byte of
    tag parsing; mutations never crash."""
    import random

    from sql_query_engine_spark.functions.multimodal import (
        build_ogg_vorbis_tagged,
        decode_ogg_comments,
        ogg_comment_params,
        ogg_params,
    )

    for d in range(40):
        b = build_ogg_vorbis_tagged(d)
        dec = decode_ogg_comments(b)
        assert dec is not None, d
        n_pages, ch, rate, nc, vendor, artist, title, track, cb = dec
        enp, ech, erate, _ = ogg_params(d)
        enc, ea, et, etr = ogg_comment_params(d)
        assert n_pages == enp + 1
        assert (ch, rate) == (ech, erate)
        assert (nc, artist, title, track) == (enc, ea, et, etr)
        assert vendor == "sql-query-engine-spark r11"
        assert cb == (
            len(f"ARTIST={ea}") + len(f"TITLE={et}")
            + len(f"TRACKNUMBER={etr}") + 15 * (enc - 3)
        )

    d = 9
    b = build_ogg_vorbis_tagged(d)
    rnd = random.Random(17)
    for _ in range(60):
        bb = bytearray(b)
        bb[rnd.randrange(len(bb))] ^= 1 << rnd.randrange(8)
        assert decode_ogg_comments(bytes(bb)) is None  # CRC gate
    for _ in range(500):
        bb = bytearray(b)
        for _ in range(rnd.randint(1, 4)):
            bb[rnd.randrange(len(bb))] = rnd.randrange(256)
        decode_ogg_comments(bytes(bb))


def test_declared_geometry_bombs_reject_before_allocating():
    """r11 fuzz finds: decoders size output from DECLARED header
    geometry, so a crafted header (PNG/TIFF 32-bit dims ≈ 2^31, GIF
    65535², JPEG 65535²) must reject BEFORE any allocation — the PNG
    zip-bomb guard itself overflowed CPython's ssize_t computing
    bound+1, and a zero-count IFD entry crashed the TIFF tag reads."""
    from sql_query_engine_spark.functions.multimodal import (
        build_gif_pixels,
        build_jpeg_pixels,
        build_png_pixels,
        build_tiff_pixels,
        decode_gif_pixels,
        decode_jpeg_pixels,
        decode_png_ahash,
        decode_png_pixels,
        decode_png_resize,
        decode_tiff_pixels,
    )

    png = bytearray(build_png_pixels(3))
    png[16:20] = (0x7FFFFFFF).to_bytes(4, "big")
    png[20:24] = (0x7FFFFFFF).to_bytes(4, "big")
    for dec in (decode_png_pixels, decode_png_resize, decode_png_ahash):
        assert dec(bytes(png)) is None

    gif = bytearray(build_gif_pixels(3))
    gif[6:8] = (65535).to_bytes(2, "little")
    gif[8:10] = (65535).to_bytes(2, "little")
    assert decode_gif_pixels(bytes(gif)) is None

    # JPEG: blow up the SOF0 height/width fields in place
    jpg = bytearray(build_jpeg_pixels(3))
    i = jpg.find(b"\xff\xc0")
    assert i > 0
    jpg[i + 5 : i + 7] = (65535).to_bytes(2, "big")
    jpg[i + 7 : i + 9] = (65535).to_bytes(2, "big")
    assert decode_jpeg_pixels(bytes(jpg)) is None

    # TIFF: IFD entry count=0 (spec: Count >= 1) must reject, not crash
    tif = bytearray(build_tiff_pixels(3))
    # first IFD entry starts at offset 10; its count field at +4..+8
    tif[10 + 4 : 10 + 8] = (0).to_bytes(4, "little")
    assert decode_tiff_pixels(bytes(tif)) is None
    # TIFF: LONG dims past the ceiling reject before strip decode
    tif = bytearray(build_tiff_pixels(3))
    # entry 0 = tag 256 (width), type SHORT, value at +8; make it LONG
    tif[10 + 2 : 10 + 4] = (4).to_bytes(2, "little")
    tif[10 + 8 : 10 + 12] = (0x7FFFFFFF).to_bytes(4, "little")
    assert decode_tiff_pixels(bytes(tif)) is None


def test_html_extract_tokenizer_laws(spark):
    """HTML extraction: escape→tokenize→unescape roundtrip is exact
    over adversarial texts; the Spark-expression page builder is
    byte-identical to the Python twin; tokenizer traps (RAWTEXT,
    attribute '>', comment '>', stray '<', references) all hold;
    structural defects reject via the try_ wrapper, never crash."""
    from sql_query_engine_spark.functions.html import (
        _decode_refs,
        build_html_page,
        extract_html,
        html_extract_stats,
        synthesize_html_pages,
        try_extract_html,
    )

    texts = ["plain", "a & b < c > d", "héllo ☃ &amp; pre-escaped",
             "", "tags <p> & </script> inside", "&#x1F600;"]
    for d, t in enumerate(texts):
        r = extract_html(build_html_page(d, t))
        assert r["title"] == f"doc & {d}"
        assert r["text"] == t
        assert (r["n_links"], r["n_tags"], r["n_comments"]) == (
            d % 7, 8 + d % 7, 1)

    # Spark-expression builder ≡ Python twin builder, byte for byte
    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string")
    got = {r.doc_id: r.html
           for r in synthesize_html_pages(df).collect()}
    assert got == {d: build_html_page(d, t) for d, t in enumerate(texts)}

    # end-to-end Arrow extraction matches the row-level tokenizer
    rows = {r.doc_id: r for r in
            html_extract_stats(synthesize_html_pages(df)).collect()}
    for d, t in enumerate(texts):
        assert rows[d].text == t and rows[d].text_len == len(t)

    # reference decoding edges: valid named/decimal/hex decode; the
    # WHATWG recovery set (no ';', unknown name, surrogate / zero /
    # out-of-range codepoints) passes through literally
    assert _decode_refs("&#x1F600;x&#65;&bogus;&amp") == \
        "\U0001F600xA&bogus;&amp"
    assert _decode_refs("&#xD800;&#0;&#1114112;") == "&#xD800;&#0;&#1114112;"

    # link capture: hrefs in document order, entity-decoded attribute
    # values, anchor text accumulated per link
    r = extract_html(build_html_page(5, "x"))
    assert [x["href"] for x in r["links"]] == [
        "/l/1", "http://ext-2.example.org/", "/l/3",
        "http://ext-4.example.org/", "/l/5"]
    assert [x["text"] for x in r["links"]] == [
        f"link {i}" for i in range(1, 6)]
    r = extract_html('<a href="/x?a=1&amp;b=2">t &gt; u</a>')
    assert r["links"] == [{"href": "/x?a=1&b=2", "text": "t > u"}]
    # first-occurrence wins on duplicate attributes (WHATWG)
    r = extract_html('<a href="/one" href="/two">z</a>')
    assert r["links"][0]["href"] == "/one"

    from sql_query_engine_spark.functions.html import html_link_stats
    lrows = {r.doc_id: r for r in
             html_link_stats(synthesize_html_pages(df)).collect()}
    for d in range(len(texts)):
        nl = d % 7
        assert lrows[d].n_internal == (nl + 1) // 2
        assert lrows[d].n_external == nl // 2
        assert lrows[d].anchor_len == sum(
            len(f"link {i}") for i in range(1, nl + 1))

    # RAWTEXT: a partial close inside a string is NOT the end tag
    r = extract_html('<script>var a = "</scriptx>" + 1;</script><p>hi</p>')
    assert r["text"] == "hi" and r["n_tags"] == 2
    # stray '<' not starting a tag is literal text
    assert extract_html("<p>1 < 2 and <3</p>")["text"] == "1 < 2 and <3"
    # attribute values may contain '>' when quoted
    assert extract_html("<p data-x='a>b'>z</p>")["text"] == "z"

    for bad in ("<!-- never closed", "<p", '<p a="unclosed>',
                "<script>x", "</>", "<?php", "<style>y"):
        import pytest as _pytest
        with _pytest.raises(ValueError):
            extract_html(bad)
        assert try_extract_html(bad) is None
    assert try_extract_html(b"\xff\xfe") is None  # not UTF-8
    assert try_extract_html("<p>ok</p>")["text"] == "ok"

    # length-changing lowercase mappings must not desync the lowered
    # shadow string from the original: 'İ' (U+0130) str.lower()s to TWO
    # code points, which used to shift every later index-based scan —
    # leaking script bodies into text and losing later titles.
    page = ('<p>İstanbul</p><script>var secret = 1;</script>'
            '<title>Kept Title</title><P>İİİ after</P>')
    r = extract_html(page)
    assert r["title"] == "Kept Title"
    assert "secret" not in r["text"]
    assert r["text"] == "İstanbulİİİ after"
    # uppercase tag/attr names still fold case-insensitively
    r = extract_html('<SCRIPT>x="</sCrIpT of doom>";</SCRIPT><P HREF-İ="v">t</P>')
    assert r["text"] == "t" and r["n_tags"] == 2


def test_robots_rfc9309_laws(spark):
    """RFC 9309 semantics: pattern wildcards/anchors, longest-octets
    precedence with allow winning ties, exact-token group selection
    with no merge into '*', tolerant grammar (comments, unknown
    directives, CRLF, empty Disallow), and the registry fixture's
    decision table end-to-end."""
    from sql_query_engine_spark.functions.robots import (
        build_robots_txt,
        is_allowed,
        parse_robots,
        pattern_match,
        robots_filter,
        select_rules,
    )

    # pattern matching: '*' runs, '$' anchor, prefix law
    assert pattern_match("/p", "/page")
    assert pattern_match("/*.php$", "/x.php")
    assert not pattern_match("/*.php$", "/x.php?y=1")
    assert pattern_match("/*.php", "/x.php?y=1")
    assert pattern_match("/a*b*c$", "/aXbYc")
    assert not pattern_match("/a*b*c$", "/aXbYcZ")
    assert pattern_match("/fish*$", "/fishmonger")
    assert not pattern_match("/x$", "/xy")
    assert pattern_match("/", "/anything")
    assert not pattern_match("/deep", "/shallow")

    # longest-octets precedence; equal octets tie resolves to ALLOW
    txt = "User-agent: *\nDisallow: /p\nAllow: /page\n"
    assert is_allowed(txt, "bot", "/pagex") == (True, "/page")
    txt = "User-agent: *\nDisallow: /page\nAllow: /pag*\n"
    assert is_allowed(txt, "bot", "/pagex") == (True, "/pag*")  # 5 == 5
    txt = "User-agent: *\nDisallow: /pagex\nAllow: /pag*\n"
    assert is_allowed(txt, "bot", "/pagex") == (False, "/pagex")  # 6 > 5

    # group selection: exact case-insensitive token, NOT substring;
    # selected group is exclusive (never merged with '*')
    txt = ("User-agent: *\nDisallow: /a\n\n"
           "User-agent: GraftBot\nDisallow: /b\n")
    assert is_allowed(txt, "graftbot", "/a/x") == (True, "")
    assert is_allowed(txt, "graftbot", "/b/x") == (False, "/b")
    assert is_allowed(txt, "graftbot-news", "/a/x") == (False, "/a")
    # same-token groups merge; consecutive UA lines share one block
    txt = ("User-agent: a\nUser-agent: b\nDisallow: /x\n\n"
           "User-agent: a\nDisallow: /y\n")
    assert select_rules(parse_robots(txt), "b") == [(False, "/x")]
    assert sorted(select_rules(parse_robots(txt), "a")) == [
        (False, "/x"), (False, "/y")]

    # tolerant grammar: comments, CRLF, unknown directives, Sitemap,
    # empty Disallow (matches nothing), rules before any group dropped
    txt = ("Disallow: /orphan\r\n# hi\r\nSitemap: http://s/x.xml\r\n"
           "User-Agent: *  # inline\r\nCrawl-delay: 7\r\n"
           "DISALLOW: /q\r\nDisallow:\r\n")
    assert is_allowed(txt, "bot", "/orphan") == (True, "")
    assert is_allowed(txt, "bot", "/q/z") == (False, "/q")
    assert is_allowed("", "bot", "/q") == (True, "")

    # registry fixture decision table, via the Spark plumbing
    # (doc_id % 8 picks the path shape)
    docs = spark.createDataFrame(
        [(i, f"src{s}") for i, s in
         [(0, 2), (4, 2), (1, 3), (2, 3), (3, 3), (5, 3),
          (14, 3), (15, 3), (22, 2)]],
        "doc_id long, source string")
    got = {r.doc_id: r for r in robots_filter(docs).collect()}
    assert got[0].allowed and got[0].matched_rule == ""   # even: public
    assert not got[4].allowed                             # even: /graft-
    assert got[4].matched_rule == "/graft-"
    assert not got[1].allowed                             # odd: /private-
    assert got[2].allowed                                 # odd: allow wins
    assert got[2].matched_rule == "/private-ok-"
    # p=3 on host src3: rule /tmp-0/, path /tmp-0/f3 → blocked
    assert not got[3].allowed and got[3].matched_rule == "/tmp-0/"
    assert not got[5].allowed                             # /private-ok trap
    assert got[5].matched_rule == "/private-"
    # wildcard + anchor pair on the '*' group (odd host):
    # /dl/f14.zip allowed back by /dl/*.zip$ over /*.zip$
    assert got[14].allowed and got[14].matched_rule == "/dl/*.zip$"
    assert not got[15].allowed and got[15].matched_rule == "/*.zip$"
    # even host: graftbot group is exclusive — zip rules don't apply
    assert got[22].allowed and got[22].matched_rule == ""
    # p=3 on host src1: rule /tmp-1/, path /tmp-0/f3 → allowed
    one = robots_filter(spark.createDataFrame(
        [(3, "src1")], "doc_id long, source string")).collect()[0]
    assert one.allowed and one.matched_rule == ""
