"""Property-based tests (hypothesis) — a testing dimension the reference
entirely lacked (SURVEY.md §5: "no property-based testing").

Each property pins an *equivalence* between two independent paths through
the engine, on randomized inputs: the RA front end vs Spark SQL, the
salted join vs the plain join, chunk reconstruction vs the original
document. Examples are kept small — every example is a real Spark job.
"""

from __future__ import annotations

import os

from hypothesis import given, settings, strategies as st

from pyspark.sql import functions as F

_SETTINGS = dict(max_examples=10, deadline=None)


ops = st.sampled_from(["=", "<", ">", "<=", ">="])
ages = st.integers(min_value=10, max_value=50)
genders = st.sampled_from(["female", "male"])


@settings(**_SETTINGS)
@given(op=ops, age=ages, gender=genders)
def test_ra_matches_sql_on_random_predicates(spark, pizza, op, age, gender):
    """\\select_{age OP n and gender='g'}(Person) ≡ the same WHERE in SQL."""
    from sql_query_engine_spark.ra import run_ra

    ra = rf"\select_{{age {op} {age} and gender='{gender}'}} Person;"
    sql = f"SELECT * FROM Person WHERE age {op} {age} AND gender = '{gender}'"
    assert run_ra(spark, ra).count() == spark.sql(sql).count()


@settings(**_SETTINGS)
@given(
    n_salt=st.integers(min_value=1, max_value=16),
    n_keys=st.integers(min_value=1, max_value=20),
    n_rows=st.integers(min_value=0, max_value=200),
)
def test_salted_join_equivalence_random(spark, n_salt, n_keys, n_rows):
    """salted_join ≡ plain join for arbitrary salt counts and key skew."""
    from sql_query_engine_spark.operators.skew import salted_join

    fact = spark.range(0, max(n_rows, 0)).select(
        (F.col("id") % n_keys).alias("k"), F.col("id").alias("rid")
    )
    dim = spark.range(0, n_keys).select(
        F.col("id").alias("dk"), (F.col("id") * 10).alias("v")
    )
    plain = fact.join(dim, fact["k"] == dim["dk"]).select("rid", "v")
    salted = salted_join(fact, dim, [("k", "dk")], n_salt=n_salt, salt_source="rid").select(
        "rid", "v"
    )
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


@settings(**_SETTINGS)
@given(
    n_tokens=st.integers(min_value=1, max_value=150),
    size=st.integers(min_value=5, max_value=60),
    stride_frac=st.floats(min_value=0.3, max_value=1.0),
)
def test_chunking_covers_document(spark, n_tokens, size, stride_frac):
    """Every token appears in some chunk; stride-aligned prefixes of
    consecutive chunks reconstruct the document exactly."""
    from sql_query_engine_spark.functions import chunking

    stride = max(1, int(size * stride_frac))
    text = " ".join(f"t{i}" for i in range(n_tokens))
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    rows = sorted(
        chunking.chunk_documents_udtf(spark, df, size=size, stride=stride).collect(),
        key=lambda r: r.chunk_idx,
    )
    # reconstruction: first `stride` tokens of every chunk + tail of last
    rebuilt: list[str] = []
    for r in rows[:-1]:
        rebuilt.extend(r.chunk.split()[:stride])
    rebuilt.extend(rows[-1].chunk.split())
    assert rebuilt == text.split()


@settings(**_SETTINGS)
@given(texts=st.lists(st.text(alphabet="abc d", min_size=0, max_size=30), min_size=1, max_size=8))
def test_fingerprint_injective_on_distinct_nonempty(spark, texts):
    """Rolling-hash fingerprints are deterministic and (modulo 1e9+7
    collisions, absent at this scale) distinct for distinct texts."""
    from sql_query_engine_spark.functions import text as T

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fp1 = {r.doc_id: r.fp for r in T.with_fingerprint(df).collect()}
    fp2 = {r.doc_id: r.fp for r in T.with_fingerprint(df).collect()}
    assert fp1 == fp2
    by_text: dict[str, set[int]] = {}
    for i, t in rows:
        by_text.setdefault(t, set()).add(fp1[i])
    for t, fps in by_text.items():
        assert len(fps) == 1  # same text → same fingerprint


@settings(**_SETTINGS)
@given(
    n_rows=st.integers(min_value=1, max_value=300),
    n_tokens_mod=st.integers(min_value=1, max_value=50),
    shard_width=st.integers(min_value=1, max_value=64),
)
def test_two_phase_packing_equals_global_window(
    spark, n_rows, n_tokens_mod, shard_width
):
    """pack_chunks' shard-parallel prefix sum ≡ the global running-sum
    window, for arbitrary chunk tables and shard widths."""
    from pyspark.sql import Window

    from sql_query_engine_spark.functions.packing import cumulative_tokens

    chunks = spark.range(0, n_rows).select(
        (F.col("id") % 37).alias("doc_id"),
        (F.col("id") % 7).alias("chunk_idx"),
        (F.col("id") % n_tokens_mod + 1).alias("n_tokens"),
    ).dropDuplicates(["doc_id", "chunk_idx"])
    w = Window.orderBy("doc_id", "chunk_idx").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    want = {
        (r.doc_id, r.chunk_idx): r.c
        for r in chunks.select(
            "doc_id", "chunk_idx", F.sum("n_tokens").over(w).alias("c")
        ).collect()
    }
    got = {
        (r.doc_id, r.chunk_idx): r.cum_tokens
        for r in cumulative_tokens(chunks, shard_width=shard_width).collect()
    }
    assert got == want


@settings(**_SETTINGS)
@given(
    n_rows=st.integers(min_value=1, max_value=300),
    n_part=st.integers(min_value=1, max_value=16),
    key_mod=st.integers(min_value=1, max_value=40),
)
def test_two_pass_rank_equals_global_window(spark, n_rows, n_part, key_mod):
    """global_row_number ≡ the global window's row_number for arbitrary
    tables, partition counts, and duplicate-heavy sort prefixes (the
    unique id tie-breaker keeps the order total)."""
    from pyspark.sql import Window

    from sql_query_engine_spark.operators.rank import global_row_number

    df = spark.range(0, n_rows).select(
        (F.col("id") % key_mod).alias("k"), F.col("id").alias("uid")
    )
    want = {
        r.uid: r.rn
        for r in df.select(
            "uid", F.row_number().over(Window.orderBy("k", "uid")).alias("rn")
        ).collect()
    }
    got = {
        r.uid: r.rn
        for r in global_row_number(df, "k", "uid", num_partitions=n_part)
        .select("uid", "rn")
        .collect()
    }
    assert got == want


@settings(**_SETTINGS)
@given(
    member_keys=st.sets(st.integers(min_value=-(2**40), max_value=2**40),
                        min_size=1, max_size=60),
    probe_extra=st.sets(st.integers(min_value=-(2**40), max_value=2**40),
                        min_size=0, max_size=60),
    n_bits_pow=st.integers(min_value=10, max_value=17),
)
def test_bloom_never_false_negative(spark, member_keys, probe_extra, n_bits_pow):
    """For ANY key set and ANY bitmap size, every bloomed key must pass
    its own probe (the Bloom guarantee the exact semi-join composition
    depends on) — and bloom_semi_join must equal the plain semi-join."""
    from sql_query_engine_spark.operators.bloom import (
        bloom_bitmap,
        bloom_probe,
        bloom_semi_join,
    )

    n_bits = 1 << n_bits_pow
    dim = spark.createDataFrame([(k,) for k in member_keys], "k long")
    fact_keys = sorted(member_keys | probe_extra)
    fact = spark.createDataFrame([(k,) for k in fact_keys], "fk long")

    bm = bloom_bitmap(dim, "k", n_bits=n_bits)
    passed = {
        r["fk"] for r in bloom_probe(fact, "fk", bm, n_bits=n_bits).collect()
    }
    assert member_keys <= passed  # zero false negatives, always

    exact = {
        r["fk"]
        for r in fact.join(dim, fact["fk"] == dim["k"], "left_semi").collect()
    }
    got = {
        r["fk"]
        for r in bloom_semi_join(fact, dim, "fk", "k", n_bits=n_bits).collect()
    }
    assert got == exact


# ---------------------------------------------------------------- codecs --
#
# The byte-level decoders' operational contract at 100 TB: ANY payload —
# arbitrary garbage or a valid container with bytes flipped, truncated,
# or spliced — yields None or a well-formed tuple, NEVER an exception
# (an uncaught raise inside mapInPandas kills the whole stage). These
# run no Spark jobs, so examples are cheap and plentiful.

from sql_query_engine_spark.functions import multimodal as _mm

_DECODERS = [
    _mm.decode_png_pixels,
    _mm.decode_png16_gray_stats,
    _mm.decode_gif_pixels,
    _mm.decode_gif_animation,
    _mm.decode_jpeg_pixels,
    _mm.decode_jpeg_color_pixels,
    _mm.decode_jpeg_cmyk_pixels,
    _mm.decode_jpeg_progressive_pixels,
    _mm.decode_jpeg_progressive_color_pixels,
    _mm.decode_wav_samples,
    _mm.decode_wav_stereo_samples,
    _mm.decode_flac_samples,
    _mm.decode_flac_stereo_samples,
    _mm.decode_real,
    _mm.decode_audio_real,
    _mm.decode_video_real,
]


def _valid_payloads():
    outs = []
    for d in (0, 3, 7):
        outs += [
            _mm.build_png_pixels(d),
            _mm.build_gif_pixels(d),
            _mm.build_gif_animation(d),
            _mm.build_jpeg_pixels(d),
            _mm.build_jpeg_color_pixels(d),
            _mm.build_jpeg_420_pixels(d),
            _mm.build_jpeg_cmyk_pixels(d),
            _mm.build_png16_pixels(d),
            _mm.build_jpeg_progressive_pixels(d),
            _mm.build_jpeg_progressive_color_pixels(d),
            _mm.build_wav_samples(d),
            _mm.build_wav_stereo_samples(d),
            _mm.build_flac_samples(d),
            _mm.build_flac_stereo_samples(d),
            _mm.build_mp4(*_mm.video_params(d)),
            # restart-bearing baseline streams: mutations around DRI /
            # RSTn markers must reject cleanly, never desync or raise
            _mm.build_jpeg_pixels(d, restart_interval=2),
            _mm.build_jpeg_color_pixels(d, restart_interval=3),
        ]
    # foreign encoders' byte layouts (javax.imageio / javax.sound)
    fdir = os.path.join(os.path.dirname(__file__), "fixtures", "foreign")
    for f in sorted(os.listdir(fdir)):
        if not f.endswith(".json"):
            outs.append(open(os.path.join(fdir, f), "rb").read())
    return [p for p in outs if p]


_VALID = _valid_payloads()


@settings(max_examples=200, deadline=None)
@given(payload=st.binary(min_size=0, max_size=400))
def test_decoders_never_raise_on_garbage(payload):
    for dec in _DECODERS:
        out = dec(payload)
        assert out is None or isinstance(out, tuple)


# Structurally-damaged JPEGs with truncated segment BODIES (the segment
# length byte claims fewer bytes than the fixed-offset fields the parser
# indexes): SOF0 shorter than one component descriptor, SOS shorter than
# its spectral bytes. Regression seeds for the ADVICE r4 IndexError.
_SHORT_SEGMENT_JPEGS = [
    b"\xff\xd8\xff\xc0\x00\x03\x08",                      # SOF0 body = 1 byte
    b"\xff\xd8\xff\xc0\x00\x07\x08\x00\x08\x00\x08",      # SOF0 body = 5 bytes
    b"\xff\xd8\xff\xda\x00\x04\x01\x01",                  # SOS body = 2 bytes
    b"\xff\xd8\xff\xda\x00\x06\x01\x01\x00\x00",          # SOS body = 4 bytes
]


def test_decoders_reject_short_segment_jpegs():
    for payload in _SHORT_SEGMENT_JPEGS:
        for dec in _DECODERS:
            out = dec(payload)
            assert out is None or isinstance(out, tuple)


@settings(max_examples=200, deadline=None)
@given(
    base=st.sampled_from(range(len(_VALID))),
    cut=st.integers(min_value=0, max_value=400),
    flips=st.lists(
        st.tuples(st.integers(min_value=0, max_value=10_000),
                  st.integers(min_value=1, max_value=255)),
        min_size=0, max_size=4,
    ),
)
def test_decoders_never_raise_on_mutations(base, cut, flips):
    """Valid container + truncation + byte flips: the adversarial corpus
    that actually occurs in a crawl. Decoders must reject or decode —
    never raise."""
    buf = bytearray(_VALID[base][:cut] if cut else _VALID[base])
    for pos, xor in flips:
        if buf:
            buf[pos % len(buf)] ^= xor
    payload = bytes(buf)
    for dec in _DECODERS:
        out = dec(payload)
        assert out is None or isinstance(out, tuple)


# r11 ingest-chain decoders: HTML tokenizer + three-layer .warc.gz scan
from sql_query_engine_spark.functions.html import (  # noqa: E402
    build_html_page,
    try_extract_html,
)
from sql_query_engine_spark.sources.warc import (  # noqa: E402
    _PLANES as _WARC_PLANES,
    build_http_request,
    build_http_response,
    build_warc_record,
    gzip_member,
    try_scan_warc_gz,
)


def _ingest_payloads():
    """(payload, planes the unmutated payload must yield rows on): an
    HTML page (no WARC plane), a lone response member (response +
    meta + resolution), a request+response pair (request plane) and a
    response+revisit pair (the revisit side of the resolution
    plane)."""
    import hashlib

    outs = []
    for d in (0, 3, 7):
        t = f"prop & <doc> {d} — ünïcode ☃"
        outs.append((build_html_page(d, t).encode(), ()))
        ent = t.encode()
        digest = hashlib.sha256(ent).hexdigest()
        http = build_http_response(ent, d)
        rec = build_warc_record(
            d, payload=http,
            content_type=b"application/http;msgtype=response",
            payload_digest=digest)
        outs.append((gzip_member(rec, fname=b"r.warc", fhcrc=d % 2 == 0),
                     ("response", "meta", "resolution")))
        req = build_warc_record(
            d, payload=build_http_request(d),  # d=0: chunked POST
            warc_type=b"request",
            content_type=b"application/http;msgtype=request",
            extra_headers=[(b"WARC-Concurrent-To", b"<urn:x>")])
        outs.append((gzip_member(req) + gzip_member(rec), ("request",)))
        rev = build_warc_record(
            d, payload=http[: http.find(b"\r\n\r\n") + 4],
            warc_type=b"revisit",
            content_type=b"application/http;msgtype=response",
            payload_digest=digest,
            target_uri=f"http://mirror.example.com/doc/{d}".encode(),
            extra_headers=[(b"WARC-Refers-To-Target-URI",
                            f"http://example.com/doc/{d}".encode())])
        outs.append((gzip_member(rec) + gzip_member(rev),
                     ("resolution",)))
    return outs


_INGEST_SEEDS = _ingest_payloads()
_INGEST_VALID = [p for p, _planes in _INGEST_SEEDS]
# the seeds themselves must exercise the SUCCESS path (r12: the old
# placeholder-splice seeds failed the new block-digest check, so the
# property test silently stopped covering successful decodes) — on
# every plane each seed is built for
for _p, _planes in _INGEST_SEEDS:
    for _plane in _planes:
        assert try_scan_warc_gz(_p, _plane), \
            f"unmutated WARC seed must decode on the {_plane} plane"
assert any(r[1] == "revisit"
           for r in try_scan_warc_gz(_INGEST_VALID[3], "resolution"))


@settings(max_examples=200, deadline=None)
@given(
    base=st.sampled_from(range(len(_INGEST_VALID))),
    cut=st.integers(min_value=0, max_value=600),
    flips=st.lists(
        st.tuples(st.integers(min_value=0, max_value=10_000),
                  st.integers(min_value=1, max_value=255)),
        min_size=0, max_size=4,
    ),
)
def test_ingest_decoders_never_raise_on_mutations(base, cut, flips):
    """HTML tokenizer and the gzip→WARC→HTTP scan, on every .warc.gz
    plane, under the crawl adversarial model (truncation + byte flips):
    reject-to-None or decode, never raise."""
    buf = bytearray(_INGEST_VALID[base][:cut] if cut else _INGEST_VALID[base])
    for pos, xor in flips:
        if buf:
            buf[pos % len(buf)] ^= xor
    payload = bytes(buf)
    out = try_extract_html(payload)
    assert out is None or isinstance(out, dict)
    for plane in _WARC_PLANES:
        out = try_scan_warc_gz(payload, plane)
        assert out is None or isinstance(out, list)


@settings(max_examples=60, deadline=None)
@given(
    payloads=st.lists(st.binary(min_size=0, max_size=5000),
                      min_size=1, max_size=6),
    flags=st.lists(st.tuples(st.booleans(), st.booleans()),
                   min_size=6, max_size=6),
    chunk=st.sampled_from([1, 3, 17, 256, 1 << 16]),
)
def test_gzip_stream_walker_equals_buffer_walker(payloads, flags, chunk):
    """The multi-member walker (the O(member)-memory 100 TB scan path,
    and the only gzip walker) must not depend on how the stream is
    read: for ANY member payloads, FNAME/FHCRC flag combination, and
    read-chunk size, it returns exactly the builder's payloads, the
    same list a whole-buffer read gives — and stdlib gzip agrees on
    the concatenated inflate (RFC 1952 multi-member semantics)."""
    import gzip
    import io

    from sql_query_engine_spark.sources.warc import (
        gzip_member,
        iter_gzip_members_stream,
    )

    stream = b"".join(
        gzip_member(p, fname=b"f.warc" if fn else None, fhcrc=fh)
        for p, (fn, fh) in zip(payloads, flags))
    got = list(iter_gzip_members_stream(io.BytesIO(stream), "<s>",
                                        chunk=chunk))
    whole = list(iter_gzip_members_stream(io.BytesIO(stream), "<s>",
                                          chunk=len(stream) + 1))
    assert got == whole == payloads
    assert gzip.decompress(stream) == b"".join(payloads)


def test_fuzz_soak_runs_clean():
    """tools/fuzz_soak.py (every decoder, every .warc.gz plane, the
    gzip-seam, digest-flip and chain-extent passes) exits 0 on a short
    fixed-seed run — so a renamed or broken wrapper fails here, not
    only in a long soak nobody runs."""
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, os.path.join(root, "tools", "fuzz_soak.py"),
         "1000", "1"],
        capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stdout[-2000:] + proc.stderr[-2000:]
    assert "0 crashes" in proc.stdout.splitlines()[-1]
