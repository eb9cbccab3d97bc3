"""Multimodal (binary) column plumbing.

Capability extension: treat image/audio/video payloads as opaque ``binary``
columns with a typed metadata struct, and run decode / feature-extraction as
Arrow-batched ``mapInPandas`` stages.

Two decode tiers, BOTH real and from-spec (no image/audio libraries):

* **Container decode** (:func:`decode_real`): byte-level parsing of
  PNG / JPEG / GIF / WAV / FLAC / MP4 headers — format, dimensions,
  channels, bit depth, duration — from the public format specifications.
  This is the cheap first pass a curation pipeline filters on.
* **Pixel/sample decode** (the ``*_stats`` families): real from-spec
  decoders implemented in this module — PNG (stored-DEFLATE inflate +
  all five filter types), GIF (LZW, incl. animated frame sampling),
  JPEG (T.81 baseline + progressive incl. AC successive-approximation
  refinement scans, color 4:4:4 and 4:2:0, full Huffman + dequant +
  IDCT), WAV (PCM mono + stereo), FLAC (all four subframe types incl.
  LPC, Rice + escape residuals, all four stereo decorrelation modes,
  CRC-verified), MP4 (box walk + sample tables). The JPEG surface is complete (baseline/progressive ×
  gray/4:4:4/4:2:0, AC refinement); video decodes real MJPEG-in-MP4
  pixels; corrupt payloads decode to NULL rows, never stage failures.

Design: every media format is one entry of the codec table
(:data:`CODECS`, at the end of the module) — a builder ``doc_id -> bytes``,
a row function ``payload -> tuple | None`` (the format's ``decode_*`` or a
few-line projection of it) and the output ``StructType``. Two helpers
serve every entry: :func:`_synth_df` owns the one synthesize batch loop
and :func:`_decode_df` the one decode batch loop (NULL fill on ``None``,
nullable-int casts derived from the schema). Each public
``synthesize_*``/``*_stats`` function is a lookup in that table, and
``tools/fuzz_soak.py`` fuzzes every row function over every builder's
output.

Scale notes: binary payloads ride the scan; ``mapInPandas`` streams Arrow
batches so executor memory is bounded by batch size × payload size — set
``spark.sql.execution.arrow.maxRecordsPerBatch`` down for large blobs.
Feature extraction is map-only (no shuffle).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from functools import partial
from typing import NamedTuple

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

__all__ = [
    "attach_binary_payload",
    "FEATURE_SCHEMA",
    "FRAME_SCHEMA",
    "DECODE_SCHEMA",
    "extract_features",
    "sample_frames",
    "decode_real",
    "synthesize_media",
    "decode_media",
    "build_png",
    "build_jpeg",
    "build_gif",
    "AUDIO_SCHEMA",
    "AUDIO_RATES",
    "audio_params",
    "build_wav",
    "build_flac",
    "decode_audio_real",
    "synthesize_audio",
    "decode_audio",
    "VIDEO_SCHEMA",
    "VIDEO_TIMESCALES",
    "video_params",
    "build_mp4",
    "build_mjpeg_mp4_pixels",
    "decode_mjpeg_mp4_pixels",
    "synthesize_mjpeg_video",
    "video_pixel_stats",
    "video_frame_count",
    "decode_video_real",
    "synthesize_video",
    "decode_video",
    "ROUTED_SCHEMA",
    "synthesize_mixed_media",
    "route_and_decode",
    "JPEG_PIXEL_SCHEMA",
    "jpeg_dims",
    "jpeg_block_level",
    "build_jpeg_pixels",
    "decode_jpeg_pixels",
    "synthesize_jpeg_pixels",
    "jpeg_pixel_stats",
    "build_flac_samples",
    "decode_flac_samples",
    "synthesize_flac_samples",
    "flac_sample_stats",
]

# Output contract of the feature extractor.
FEATURE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("n_bytes", LongType(), False),
        StructField("first_byte", IntegerType(), True),
    ]
)


def attach_binary_payload(docs: DataFrame) -> DataFrame:
    """Synthesize an opaque binary column + typed metadata struct.

    Stands in for reading real blobs: payload = utf-8 bytes of ``text``.
    The metadata struct is the pattern for multimodal tables at scale —
    filterable typed fields ride next to the opaque payload so partition
    pruning / predicate pushdown never touch the bytes.
    """
    return docs.select(
        "doc_id",
        F.encode("text", "utf-8").alias("payload"),
        F.struct(
            F.lit("text/plain").alias("mime"),
            F.length("text").alias("orig_chars"),
            F.col("source").alias("origin"),
        ).alias("meta"),
    )


# ---------------------------------------------------------------------------
# Real byte-level media decode (container/header parse — no external libs).
#
# Parses the three ubiquitous image container formats from their public byte
# layouts (PNG: RFC 2083 §3/ISO 15948; JPEG/JFIF: ITU-T T.81 Annex B; GIF:
# GIF89a specification). This is a real decoder for the *container* level —
# dimensions, channel count, bit depth — which is what a curation pipeline
# filters on (drop tiny images, drop extreme aspect ratios, bucket by
# resolution) without ever inflating pixels. The pixel tier (PNG inflate,
# GIF LZW, JPEG IDCT) lives further down this module.
# ---------------------------------------------------------------------------

# SOF markers that carry frame dimensions (ITU-T T.81 Table B.1). C4/C8/CC
# are DHT/JPG/DAC — length-prefixed but not frames.
_JPEG_SOF = {
    0xC0, 0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
    0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF,
}
# Markers with no length field (ITU-T T.81 B.1.1.3): TEM, RSTn, SOI, EOI.
_JPEG_STANDALONE = {0x01, *range(0xD0, 0xDA)}

# PNG color type → samples per pixel (ISO 15948 §6.1).
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def _decode_png(b: bytes):
    # 8-byte signature, then the IHDR chunk must come first:
    # 4B length | b"IHDR" | 4B width | 4B height | depth | color | ... | CRC
    if len(b) < 33 or b[12:16] != b"IHDR":
        return None
    width = int.from_bytes(b[16:20], "big")
    height = int.from_bytes(b[20:24], "big")
    depth, color = b[24], b[25]
    if color not in _PNG_CHANNELS:
        return None
    return ("png", width, height, _PNG_CHANNELS[color], depth)


def _decode_jpeg(b: bytes):
    # Walk the marker segments until a start-of-frame marker:
    # FF <SOFn> | 2B length | precision | 2B height | 2B width | n_components
    i = 2
    n = len(b)
    while i + 1 < n:
        if b[i] != 0xFF:
            return None
        marker = b[i + 1]
        if marker == 0xFF:  # fill byte padding before a marker
            i += 1
            continue
        if marker in _JPEG_STANDALONE:
            i += 2
            continue
        if i + 4 > n:
            return None
        seg_len = int.from_bytes(b[i + 2 : i + 4], "big")
        if marker in _JPEG_SOF:
            if i + 10 > n:
                return None
            precision = b[i + 4]
            height = int.from_bytes(b[i + 5 : i + 7], "big")
            width = int.from_bytes(b[i + 7 : i + 9], "big")
            n_comp = b[i + 9]
            return ("jpeg", width, height, n_comp, precision)
        if marker == 0xDA:  # start of scan — entropy data follows, no SOF seen
            return None
        i += 2 + seg_len
    return None


def _decode_gif(b: bytes):
    # 6B signature, logical screen descriptor: 2B width LE | 2B height LE |
    # packed flags (bit 4-6: color resolution - 1)
    if len(b) < 13:
        return None
    width = int.from_bytes(b[6:8], "little")
    height = int.from_bytes(b[8:10], "little")
    depth = ((b[10] >> 4) & 0x7) + 1
    # GIF frames are palette-indexed; decoded output is RGB
    return ("gif", width, height, 3, depth)


def _doc_id_partitions(docs: DataFrame) -> DataFrame:
    """doc_id projection repartitioned to the session's parallelism.

    Every synthesizer funnels through this: payload building and the
    downstream decode are interpreted Pandas-UDF work (~ms/doc, not
    whole-stage codegen), and a small compact parquet arrives as ONE
    partition — without the repartition an entire corpus synthesizes
    and decodes on a single core and every mm_* stage inherits that
    (measured: mm_video_pixel_stats 15.9s -> ~1s at sf0.1 on 32 cores).
    One tiny shuffle of bare doc_ids buys full-width parallelism — the
    same lesson as dedup.shingled_docs."""
    par = docs.sparkSession.sparkContext.defaultParallelism
    return docs.select("doc_id").repartition(par)


def _synth_df(docs: DataFrame, build: Callable[[int], bytes]) -> DataFrame:
    """The one synthesize batch loop: ``build(doc_id)`` → payload bytes
    for every doc, as (doc_id, payload) rows.

    The output carries its (docs, make) recipe so a decode applied
    DIRECTLY to it can fuse both steps into one Python stage (see
    _decode_df). The recipe rides as a plain Python attribute on the
    DataFrame wrapper: any other composition (a filter, a join, a
    corruption splice, a foreign fixture) produces a new wrapper
    without it and takes the general two-stage path unchanged.

    CONTRACT: ``build`` must be a pure function of the doc_id — the
    fused path re-runs it inside the decode stage, so a stateful or
    randomized builder would diverge from what other consumers of this
    DataFrame see. (_decode_df also refuses to fuse a cached synth
    output for the same reason.)"""

    def make(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = [build(int(d)) for d in pdf["doc_id"]]
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    df = _doc_id_partitions(docs).mapInPandas(make, _MEDIA_SCHEMA)
    df._sqes_synth_recipe = (docs, make)
    return df


# Spark integer type → pandas nullable dtype. Building the column in it
# directly keeps a NULL a typed null and a long exact: a column built
# untyped and cast afterwards detours through float64 once it holds a
# NULL, which rounds any value above 2**53.
_NULLABLE_INT = {IntegerType: "Int32", LongType: "Int64"}


def _decode_df(with_media: DataFrame, row, schema: StructType) -> DataFrame:
    """The one decode batch loop over (doc_id, payload) rows.

    ``row(payload)`` returns the output fields after doc_id as a tuple,
    ``None`` to reject the document to one all-NULL row (corrupt or
    unrecognized payloads decode to NULLs, never stage failures), or a
    list of tuples for a 1→N fan-out (an empty list emits no row).
    Integer columns are built in pandas' nullable dtypes derived from
    ``schema``.

    When ``with_media`` came STRAIGHT from a synthesizer (_synth_df
    recipe present), run synthesize→decode inside ONE mapInPandas: one
    Python stage instead of two, and the payload bytes never cross the
    JVM boundary at all (guide §4: control how many columns cross, and
    how often). Measured ~0.4 s per mm_* query at sf0.1 (0.85 → 0.45 s
    on mm_png16_stats, rows identical — the per-stage fixed cost plus
    the double payload transfer). Every other input — filtered/spliced
    synth output, fixture-backed media, foreign files — decodes the
    general way."""
    names = schema.fieldNames()
    nulls = (None,) * (len(names) - 1)
    dtypes = {f.name: _NULLABLE_INT[type(f.dataType)] for f in schema.fields
              if type(f.dataType) in _NULLABLE_INT}

    def dec(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                out = row(payload)
                if out is None:
                    rows.append((doc_id, *nulls))
                elif isinstance(out, list):
                    rows.extend((doc_id, *r) for r in out)
                else:
                    rows.append((doc_id, *out))
            cols = zip(*rows, strict=True) if rows else [()] * len(names)
            yield pd.DataFrame({n: pd.Series(list(c), dtype=dtypes.get(n))
                                for n, c in zip(names, cols, strict=True)})

    recipe = getattr(with_media, "_sqes_synth_recipe", None)
    # A cached synth output must NOT take the fused path: fusing would
    # silently bypass the cache and re-run `make` inside the decode
    # stage. Builders are pure functions of doc_id today so the rows
    # would match, but a caller who cached the synth df asked for the
    # materialized bytes to be the ones every consumer sees — honor it.
    if recipe is not None and with_media.is_cached:
        recipe = None
    if recipe is not None:
        docs, make = recipe

        def _fused(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            yield from dec(make(batches))

        return _doc_id_partitions(docs).mapInPandas(_fused, schema)
    return with_media.mapInPandas(dec, schema)


class Codec(NamedTuple):
    """One media format: ``build(doc_id) -> bytes``, ``row(payload)``
    (see _decode_df for what it returns) and the output schema."""

    build: Callable[[int], bytes]
    row: Callable
    schema: StructType

    def synthesize(self, docs: DataFrame) -> DataFrame:
        return _synth_df(docs, self.build)

    def decode(self, with_media: DataFrame) -> DataFrame:
        return _decode_df(with_media, self.row, self.schema)


def _then(decode, project):
    """Row function: ``decode`` the payload, then ``project`` its tuple
    into the output fields; a rejected (None) payload stays None."""

    def row(payload):
        dec = decode(payload)
        return None if dec is None else project(*dec)

    return row


def _rgb_means(w, h, sr, sg, sb):
    n = w * h
    return w, h, round(sr / n, 6), round(sg / n, 6), round(sb / n, 6)


def _gray_mean(w, h, total):
    return w, h, round(total / (w * h), 6)


def _sample_means(rate, n, a, b, peak):
    """(rate, n, sum_a, sum_b, peak) → the two sums as per-sample means:
    (mean_amp, mean_abs) for mono PCM/FLAC, (mean_left, mean_right)
    for stereo. A well-formed stream with an empty data chunk has no
    samples and so no mean: it rejects to NULL instead of failing the
    stage on a division by zero."""
    if n == 0:
        return None
    return rate, n, round(a / n, 6), round(b / n, 6), peak


def _round_last(*fields):
    return (*fields[:-1], round(fields[-1], 6))


def decode_real(payload: bytes):
    """Decode a media container header into typed metadata.

    Returns ``(format, width, height, channels, bit_depth)`` for PNG, JPEG,
    and GIF payloads, or ``None`` when the payload is not a recognized (or is
    a truncated/corrupt) container. Pure byte-layout parsing from the public
    format specifications; no image libraries involved.
    """
    if payload is None:
        return None
    b = bytes(payload)
    if b[:8] == b"\x89PNG\r\n\x1a\n":
        return _decode_png(b)
    if b[:2] == b"\xff\xd8":
        return _decode_jpeg(b)
    if b[:6] in (b"GIF87a", b"GIF89a"):
        return _decode_gif(b)
    return None


def _png_chunk(tag: bytes, body: bytes) -> bytes:
    import zlib

    return (
        len(body).to_bytes(4, "big")
        + tag
        + body
        + zlib.crc32(tag + body).to_bytes(4, "big")
    )


def build_png(width: int, height: int, color_type: int = 2, depth: int = 8) -> bytes:
    """Assemble a structurally valid PNG (signature + IHDR + IDAT + IEND)."""
    import zlib

    ihdr = (
        width.to_bytes(4, "big")
        + height.to_bytes(4, "big")
        + bytes([depth, color_type, 0, 0, 0])
    )
    idat = zlib.compress(b"\x00" * 8)
    return (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", idat)
        + _png_chunk(b"IEND", b"")
    )


def build_jpeg(width: int, height: int, n_comp: int = 3) -> bytes:
    """Assemble a JPEG header stream: SOI + APP0(JFIF) + SOF0 + EOI.

    The APP0 segment before SOF0 exercises the parser's segment walk.
    """
    app0 = b"JFIF\x00\x01\x02\x00\x00\x01\x00\x01\x00\x00"
    sof_body = (
        b"\x08"
        + height.to_bytes(2, "big")
        + width.to_bytes(2, "big")
        + bytes([n_comp])
        + b"".join(bytes([i + 1, 0x11, 0]) for i in range(n_comp))
    )
    return (
        b"\xff\xd8"
        + b"\xff\xe0" + (len(app0) + 2).to_bytes(2, "big") + app0
        + b"\xff\xc0" + (len(sof_body) + 2).to_bytes(2, "big") + sof_body
        + b"\xff\xd9"
    )


def build_gif(width: int, height: int) -> bytes:
    """Assemble a GIF89a header + logical screen descriptor + trailer."""
    return (
        b"GIF89a"
        + width.to_bytes(2, "little")
        + height.to_bytes(2, "little")
        + b"\x70\x00\x00"  # flags: color resolution 8, no global table
        + b"\x3b"
    )


DECODE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("format", StringType(), True),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("channels", IntegerType(), True),
        StructField("bit_depth", IntegerType(), True),
    ]
)

_MEDIA_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("payload", BinaryType(), True),
    ]
)


def media_dims(doc_id: int) -> tuple[int, int]:
    """Deterministic synthetic dimensions — mirrored by the SQL oracle."""
    return (doc_id * 7) % 2000 + 16, (doc_id * 13) % 1200 + 16


def synthesize_media(docs: DataFrame) -> DataFrame:
    """Build real container bytes per document, deterministically.

    doc_id % 3 picks the format (0→PNG, 1→JPEG, 2→GIF); dimensions and
    channel layout derive from doc_id so an SQL oracle can state the
    expected decode output arithmetically while the Spark path round-trips
    through genuine format bytes.
    """
    return CODECS["media"].synthesize(docs)


def decode_media(with_media: DataFrame) -> DataFrame:
    """Arrow-batched container decode: payload bytes → typed metadata row.

    Map-only (no shuffle); at scale the payload column streams through in
    Arrow batches and only the small typed columns survive the stage.
    """
    return CODECS["media"].decode(with_media)


# ---------------------------------------------------------------------------
# Audio container decode (WAV/RIFF and FLAC STREAMINFO — public byte layouts:
# the Microsoft/IBM RIFF WAVE format and the FLAC format specification
# (xiph.org, RFC 9639). Same design as the image path: parse the container
# header into the typed metadata a curation pipeline filters on — sample
# rate, channel count, bit depth, sample count/duration — without ever
# decoding samples. The sample tier (PCM and FLAC subframe decode) lives
# further down this module.
# ---------------------------------------------------------------------------

AUDIO_RATES = [8000, 16000, 22050, 44100, 48000]

# Decode-side allocation ceiling (r11): every pixel decoder sizes its
# output from DECLARED header geometry, and several formats declare
# 32-bit dims — a crafted header (w,h ≈ 2^31) must reject BEFORE any
# allocation or inflation, not crash in the allocator (the fuzz-found
# _png_idat ssize_t overflow) or chew gigabytes walking toward a huge
# cap. 256 MiB of raw pixels is far above every synthetic/foreign
# fixture and a sane per-document ceiling for a crawl decode stage.
_MAX_DECODED_BYTES = 1 << 28

AUDIO_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("format", StringType(), True),
        StructField("sample_rate", IntegerType(), True),
        StructField("channels", IntegerType(), True),
        StructField("bit_depth", IntegerType(), True),
        StructField("n_samples", LongType(), True),
        StructField("duration_ms", DoubleType(), True),
    ]
)


def _decode_wav(b: bytes):
    # "RIFF" | 4B size LE | "WAVE", then even-padded chunks: id | 4B size LE
    # | body. fmt chunk: format 2B | channels 2B | rate 4B | byte-rate 4B |
    # block-align 2B | bits 2B (all LE).
    if len(b) < 44 or b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        return None
    i, fmt, data_size = 12, None, None
    while i + 8 <= len(b):
        cid = b[i : i + 4]
        size = int.from_bytes(b[i + 4 : i + 8], "little")
        body = b[i + 8 : i + 8 + size]
        if cid == b"fmt " and size >= 16:
            channels = int.from_bytes(body[2:4], "little")
            rate = int.from_bytes(body[4:8], "little")
            block_align = int.from_bytes(body[12:14], "little")
            bits = int.from_bytes(body[14:16], "little")
            fmt = (channels, rate, block_align, bits)
        elif cid == b"data":
            data_size = size
        i += 8 + size + (size & 1)  # chunk bodies pad to even offsets
    if fmt is None or data_size is None:
        return None
    channels, rate, block_align, bits = fmt
    if block_align == 0 or rate == 0:
        return None
    n_samples = data_size // block_align
    return ("wav", rate, channels, bits, n_samples)


def _decode_flac(b: bytes):
    # "fLaC", then metadata blocks (1B last-flag<<7|type, 3B length BE);
    # the first block MUST be STREAMINFO (type 0, ≥34 bytes). Its bytes
    # 10..17 bit-pack: 20b sample rate | 3b channels-1 | 5b bits-1 |
    # 36b total samples.
    if len(b) < 8 + 34 or b[:4] != b"fLaC":
        return None
    if b[4] & 0x7F != 0:
        return None
    size = int.from_bytes(b[5:8], "big")
    if size < 34:
        return None
    v = int.from_bytes(b[18:26], "big")  # STREAMINFO bytes 10..17
    rate = v >> 44
    channels = ((v >> 41) & 0x7) + 1
    bits = ((v >> 36) & 0x1F) + 1
    n_samples = v & ((1 << 36) - 1)
    if rate == 0:
        return None
    return ("flac", rate, channels, bits, n_samples)


def decode_audio_real(payload: bytes):
    """Audio container header → (format, rate, channels, bits, n_samples).

    Returns None for unrecognized, truncated, or corrupt payloads — the
    reject path a 100 TB crawl hits constantly and must not crash on.
    """
    if payload is None:
        return None
    b = bytes(payload)
    if b[:4] == b"RIFF":
        return _decode_wav(b)
    if b[:4] == b"fLaC":
        return _decode_flac(b)
    return None


def build_wav(rate: int, channels: int, bits: int, n_samples: int) -> bytes:
    """Assemble a structurally valid PCM WAV header + silent data chunk.

    The data chunk is a zero run of header-consistent length, so byte
    parsers (and real audio tools) agree on every derived field.
    """
    block_align = channels * bits // 8
    data_size = n_samples * block_align
    fmt_body = (
        (1).to_bytes(2, "little")
        + channels.to_bytes(2, "little")
        + rate.to_bytes(4, "little")
        + (rate * block_align).to_bytes(4, "little")
        + block_align.to_bytes(2, "little")
        + bits.to_bytes(2, "little")
    )
    # cap the silent payload: header consistency only needs the declared
    # size, not the bytes (decoders that trust the header never read past
    # what exists); keep synthetic corpora small
    data = b"\x00" * min(data_size, 64)
    return (
        b"RIFF"
        + (36 + data_size).to_bytes(4, "little")
        + b"WAVE"
        + b"fmt " + (16).to_bytes(4, "little") + fmt_body
        + b"data" + data_size.to_bytes(4, "little")
        + data
    )


def build_flac(rate: int, channels: int, bits: int, n_samples: int) -> bytes:
    """Assemble a FLAC signature + STREAMINFO metadata block."""
    v = (rate << 44) | ((channels - 1) << 41) | ((bits - 1) << 36) | n_samples
    streaminfo = (
        (1024).to_bytes(2, "big")  # min block size
        + (4096).to_bytes(2, "big")  # max block size
        + (0).to_bytes(3, "big")  # min frame size (unknown)
        + (0).to_bytes(3, "big")  # max frame size (unknown)
        + v.to_bytes(8, "big")
        + b"\x00" * 16  # md5 of raw samples (unset)
    )
    return b"fLaC" + bytes([0x80]) + len(streaminfo).to_bytes(3, "big") + streaminfo


def audio_params(doc_id: int) -> tuple[str, int, int, int, int]:
    """Deterministic synthetic audio parameters — mirrored by the SQL
    oracle arithmetically (same scheme as :func:`media_dims`)."""
    fmt = "wav" if doc_id % 2 == 0 else "flac"
    rate = AUDIO_RATES[doc_id % 5]
    channels = 1 + (doc_id % 2)
    bits = 16 + 8 * ((doc_id // 2) % 2)
    n_samples = (doc_id * 997) % 100_000 + 1_000
    return fmt, rate, channels, bits, n_samples


def synthesize_audio(docs: DataFrame) -> DataFrame:
    """Build real audio container bytes per document, deterministically."""
    return CODECS["audio"].synthesize(docs)


def decode_audio(with_media: DataFrame) -> DataFrame:
    """Arrow-batched audio container decode → typed metadata row.

    Map-only; duration_ms = n_samples * 1000 / rate as one IEEE double
    division on integer inputs — bit-identical in any engine, so the SQL
    oracle matches without rounding.
    """
    return CODECS["audio"].decode(with_media)


# ---------------------------------------------------------------------------
# Video container decode (MP4 / ISO base media file format, ISO/IEC 14496-12
# — public byte layout). Box walk: [4B size BE | 4B fourcc | payload]*;
# moov/mvhd carries timescale + duration, moov/trak/tkhd the presentation
# dimensions as 16.16 fixed point. Header-level truth a curation pipeline
# filters on (drop sub-second clips, bucket by resolution) without ever
# touching sample data — frame extraction stays with sample_frames.
# ---------------------------------------------------------------------------

VIDEO_TIMESCALES = [600, 1000, 90000]

VIDEO_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("format", StringType(), True),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("timescale", IntegerType(), True),
        StructField("duration_units", LongType(), True),
        StructField("duration_ms", DoubleType(), True),
    ]
)


def _walk_boxes(b: bytes, start: int, end: int):
    """Yield (fourcc, payload_start, payload_end) for sibling boxes."""
    i = start
    while i + 8 <= end:
        size = int.from_bytes(b[i : i + 4], "big")
        fourcc = b[i + 4 : i + 8]
        if size < 8 or i + size > end:
            return  # malformed/truncated box — stop cleanly
        yield fourcc, i + 8, i + size
        i += size


def decode_video_real(payload: bytes):
    """MP4 header → (timescale, duration_units, width, height), else None.

    Requires an ftyp box first (the brand gate real sniffers use), then
    moov/mvhd for the timebase and the first moov/trak/tkhd for
    dimensions. Truncated or non-MP4 bytes reject with None.
    """
    if payload is None:
        return None
    b = bytes(payload)
    if len(b) < 16 or b[4:8] != b"ftyp":
        return None
    timescale = duration = width = height = None
    for fourcc, s, e in _walk_boxes(b, 0, len(b)):
        if fourcc != b"moov":
            continue
        for f2, s2, e2 in _walk_boxes(b, s, e):
            if f2 == b"mvhd" and e2 - s2 >= 100 and b[s2] == 0:
                timescale = int.from_bytes(b[s2 + 12 : s2 + 16], "big")
                duration = int.from_bytes(b[s2 + 16 : s2 + 20], "big")
            elif f2 == b"trak" and width is None:
                for f3, s3, e3 in _walk_boxes(b, s2, e2):
                    # v0 and v1 tkhd both keep w/h at the tail (r10)
                    if f3 == b"tkhd" and (
                        (b[s3] == 0 and e3 - s3 >= 84)
                        or (b[s3] == 1 and e3 - s3 >= 96)
                    ):
                        width = int.from_bytes(b[e3 - 8 : e3 - 4], "big") >> 16
                        height = int.from_bytes(b[e3 - 4 : e3], "big") >> 16
    if not timescale or duration is None or width is None:
        return None
    return timescale, duration, width, height


def _box(fourcc: bytes, payload: bytes) -> bytes:
    return (len(payload) + 8).to_bytes(4, "big") + fourcc + payload


def build_mp4(timescale: int, duration_units: int, width: int, height: int) -> bytes:
    """Assemble a structurally valid MP4 header: ftyp + moov(mvhd, trak(tkhd))."""
    ftyp = _box(b"ftyp", b"isom" + (0x200).to_bytes(4, "big") + b"isomiso2")
    mvhd = _box(
        b"mvhd",
        bytes(4)  # version 0 + flags
        + bytes(8)  # ctime/mtime
        + timescale.to_bytes(4, "big")
        + duration_units.to_bytes(4, "big")
        + (0x00010000).to_bytes(4, "big")  # rate 1.0
        + (0x0100).to_bytes(2, "big")  # volume 1.0
        + bytes(2 + 8)  # reserved
        + b"".join(v.to_bytes(4, "big") for v in
                   (0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000))  # matrix
        + bytes(24)  # pre_defined
        + (2).to_bytes(4, "big"),  # next track id
    )
    tkhd = _box(
        b"tkhd",
        bytes(1) + b"\x00\x00\x07"  # version 0, flags: enabled|in-movie|in-preview
        + bytes(8)  # ctime/mtime
        + (1).to_bytes(4, "big")  # track id
        + bytes(4)  # reserved
        + duration_units.to_bytes(4, "big")
        + bytes(8)  # reserved
        + bytes(2 + 2 + 2 + 2)  # layer, alt group, volume, reserved
        + b"".join(v.to_bytes(4, "big") for v in
                   (0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000))
        + (width << 16).to_bytes(4, "big")
        + (height << 16).to_bytes(4, "big"),
    )
    moov = _box(b"moov", mvhd + _box(b"trak", tkhd))
    return ftyp + moov


def video_params(doc_id: int) -> tuple[int, int, int, int]:
    """Deterministic (timescale, duration_units, width, height) — the SQL
    oracle restates this arithmetic (same scheme as media_dims)."""
    timescale = VIDEO_TIMESCALES[doc_id % 3]
    duration_units = (doc_id * 31) % 100_000 + timescale  # ≥ 1 second
    width = (doc_id * 11) % 1920 + 128
    height = (doc_id * 17) % 1080 + 128
    return timescale, duration_units, width, height


VIDEO_FRAME_STRIDE = 12  # lcm of jpeg_dims' mod-6/mod-4 periods: same dims
VIDEO_MJPEG_TIMESCALE = 25  # 25 fps → every frame is exactly 40 ms


def video_frame_count(doc_id: int) -> int:
    """Deterministic frames-per-video in [2, 5] — oracle-restatable."""
    return doc_id % 4 + 2


def build_mjpeg_mp4_pixels(doc_id: int) -> bytes:
    """A REAL playable-layout MJPEG-in-MP4: ftyp + one mdat holding
    ``video_frame_count`` complete baseline-JPEG frames + a moov whose
    full sample-table chain (stsd 'jpeg' VisualSampleEntry, stts, stsc,
    stsz, stco) addresses them — the classic Motion-JPEG layout
    (ISO/IEC 14496-12 sample tables over ITU-T T.81 samples). Frame f
    reuses the baseline builder at doc ``doc_id + 12*f``: stride 12 is
    the period of jpeg_dims' modular grid, so every frame shares the
    video's dimensions while block levels vary per frame — and the SQL
    oracle restates every pixel with the same modular arithmetic."""
    n = video_frame_count(doc_id)
    w, h = jpeg_dims(doc_id)
    frames = [build_jpeg_pixels(doc_id + VIDEO_FRAME_STRIDE * f)
              for f in range(n)]
    ftyp = _box(b"ftyp", b"isom" + (0x200).to_bytes(4, "big") + b"isomiso2")
    mdat = _box(b"mdat", b"".join(frames))
    first_off = len(ftyp) + 8  # absolute offset of frame 0 (one chunk)

    entry = _box(
        b"jpeg",
        bytes(6)                       # reserved
        + (1).to_bytes(2, "big")       # data_reference_index
        + bytes(16)                    # pre_defined/reserved
        + w.to_bytes(2, "big") + h.to_bytes(2, "big")
        + (0x480000).to_bytes(4, "big")  # 72 dpi horiz
        + (0x480000).to_bytes(4, "big")  # 72 dpi vert
        + bytes(4)                     # reserved
        + (1).to_bytes(2, "big")       # frame_count per sample
        + bytes(32)                    # compressorname
        + (24).to_bytes(2, "big")      # depth
        + (0xFFFF).to_bytes(2, "big"),  # pre_defined = -1
    )
    stsd = _box(b"stsd", bytes(4) + (1).to_bytes(4, "big") + entry)
    stts = _box(b"stts", bytes(4) + (1).to_bytes(4, "big")
                + n.to_bytes(4, "big") + (1).to_bytes(4, "big"))
    stsc = _box(b"stsc", bytes(4) + (1).to_bytes(4, "big")
                + (1).to_bytes(4, "big") + n.to_bytes(4, "big")
                + (1).to_bytes(4, "big"))
    stsz = _box(b"stsz", bytes(4) + bytes(4) + n.to_bytes(4, "big")
                + b"".join(len(fr).to_bytes(4, "big") for fr in frames))
    stco = _box(b"stco", bytes(4) + (1).to_bytes(4, "big")
                + first_off.to_bytes(4, "big"))
    stbl = _box(b"stbl", stsd + stts + stsc + stsz + stco)
    # null media header + minimal data reference (self-contained)
    dref = _box(b"dref", bytes(4) + (1).to_bytes(4, "big")
                + _box(b"url ", b"\x00\x00\x00\x01"))
    minf = _box(b"minf", _box(b"vmhd", b"\x00\x00\x00\x01" + bytes(8))
                + _box(b"dinf", dref) + stbl)
    mdhd = _box(
        b"mdhd",
        bytes(4) + bytes(8)
        + VIDEO_MJPEG_TIMESCALE.to_bytes(4, "big")
        + n.to_bytes(4, "big")
        + (0x55C4).to_bytes(2, "big")  # language 'und'
        + bytes(2),
    )
    hdlr = _box(b"hdlr", bytes(4) + bytes(4) + b"vide" + bytes(12)
                + b"MJPEG\x00")
    mdia = _box(b"mdia", mdhd + hdlr + minf)
    tkhd = _box(
        b"tkhd",
        bytes(1) + b"\x00\x00\x07" + bytes(8)
        + (1).to_bytes(4, "big") + bytes(4)
        + n.to_bytes(4, "big") + bytes(8) + bytes(8)
        + b"".join(v.to_bytes(4, "big") for v in
                   (0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000))
        + (w << 16).to_bytes(4, "big") + (h << 16).to_bytes(4, "big"),
    )
    mvhd = _box(
        b"mvhd",
        bytes(4) + bytes(8)
        + VIDEO_MJPEG_TIMESCALE.to_bytes(4, "big")
        + n.to_bytes(4, "big")
        + (0x00010000).to_bytes(4, "big") + (0x0100).to_bytes(2, "big")
        + bytes(2 + 8)
        + b"".join(v.to_bytes(4, "big") for v in
                   (0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000))
        + bytes(24) + (2).to_bytes(4, "big"),
    )
    moov = _box(b"moov", mvhd + _box(b"trak", tkhd + mdia))
    return ftyp + mdat + moov


def _mp4_sample_table(b: bytes):
    """Walk ftyp→moov→trak(vide)→mdia→minf→stbl and return
    (codec_fourcc, width, height, timescale, [(abs_offset, size)]) for
    the video track's samples, or None on any structural defect. The
    stsc sample-to-chunk mapping is applied in full generality (run-
    length chunk groups), not just the one-chunk layout the builder
    emits."""
    if len(b) < 16 or b[4:8] != b"ftyp":
        return None
    stbl_span = None
    timescale = None
    for fourcc, s, e in _walk_boxes(b, 0, len(b)):
        if fourcc != b"moov":
            continue
        for f2, s2, e2 in _walk_boxes(b, s, e):
            if f2 != b"trak" or stbl_span is not None:
                continue
            for f3, s3, e3 in _walk_boxes(b, s2, e2):
                if f3 != b"mdia":
                    continue
                is_video = False
                ts = None
                span = None
                for f4, s4, e4 in _walk_boxes(b, s3, e3):
                    if f4 == b"mdhd" and e4 - s4 >= 24 and b[s4] == 0:
                        ts = int.from_bytes(b[s4 + 12 : s4 + 16], "big")
                    elif f4 == b"hdlr" and e4 - s4 >= 12:
                        is_video = b[s4 + 8 : s4 + 12] == b"vide"
                    elif f4 == b"minf":
                        for f5, s5, e5 in _walk_boxes(b, s4, e4):
                            if f5 == b"stbl":
                                span = (s5, e5)
                if is_video and span and ts:
                    stbl_span = span
                    timescale = ts
    if stbl_span is None:
        return None
    s, e = stbl_span
    codec = width = height = None
    sizes: list[int] | None = None
    chunk_offsets: list[int] | None = None
    stsc: list[tuple[int, int]] | None = None
    for f, ps, pe in _walk_boxes(b, s, e):
        body = b[ps:pe]
        if f == b"stsd" and len(body) >= 16:
            if int.from_bytes(body[4:8], "big") < 1:
                return None
            esize = int.from_bytes(body[8:12], "big")
            if esize < 86 or 8 + esize > len(body):
                return None
            codec = body[12:16]
            width = int.from_bytes(body[8 + 32 : 8 + 34], "big")
            height = int.from_bytes(body[8 + 34 : 8 + 36], "big")
        elif f == b"stsz" and len(body) >= 12:
            fixed = int.from_bytes(body[4:8], "big")
            n = int.from_bytes(body[8:12], "big")
            if fixed:
                # n samples of `fixed` bytes must all lie in the file;
                # reject a crafted n before allocating the size list
                if fixed * n > len(b):
                    return None
                sizes = [fixed] * n
            else:
                if len(body) < 12 + 4 * n:
                    return None
                sizes = [int.from_bytes(body[12 + 4 * i : 16 + 4 * i], "big")
                         for i in range(n)]
        elif f == b"stco" and len(body) >= 8:
            n = int.from_bytes(body[4:8], "big")
            if len(body) < 8 + 4 * n:
                return None
            chunk_offsets = [int.from_bytes(body[8 + 4 * i : 12 + 4 * i],
                                            "big") for i in range(n)]
        elif f == b"stsc" and len(body) >= 8:
            n = int.from_bytes(body[4:8], "big")
            if len(body) < 8 + 12 * n:
                return None
            stsc = [
                (int.from_bytes(body[8 + 12 * i : 12 + 12 * i], "big"),
                 int.from_bytes(body[12 + 12 * i : 16 + 12 * i], "big"))
                for i in range(n)
            ]
    if not (codec and sizes and chunk_offsets and stsc and width):
        return None
    # expand stsc run-length groups into per-chunk sample counts
    per_chunk: list[int] = []
    for gi, (first, spc) in enumerate(stsc):
        last = (stsc[gi + 1][0] - 1 if gi + 1 < len(stsc)
                else len(chunk_offsets))
        if first < 1 or last < first:
            return None
        per_chunk.extend([spc] * (last - first + 1))
    if len(per_chunk) != len(chunk_offsets) or sum(per_chunk) != len(sizes):
        return None
    samples: list[tuple[int, int]] = []
    si = 0
    for ci, off in enumerate(chunk_offsets):
        pos = off
        for _ in range(per_chunk[ci]):
            samples.append((pos, sizes[si]))
            pos += sizes[si]
            si += 1
    return codec, width, height, timescale, samples


def decode_mjpeg_mp4_pixels(payload: bytes):
    """MJPEG-in-MP4 → (width, height, n_frames, duration_ms, sum_gray
    over every pixel of every frame), or None. The sample table is the
    real ISO/IEC 14496-12 chain; each addressed sample decodes through
    the complete baseline-JPEG pixel path. Any structurally broken box,
    non-'jpeg' codec, out-of-range sample, frame that fails JPEG
    decode, or frame whose dimensions disagree with the stsd entry
    rejects the whole document to NULL — never a stage failure."""
    if payload is None:
        return None
    b = bytes(payload)
    st = _mp4_sample_table(b)
    if st is None:
        return None
    codec, w, h, timescale, samples = st
    if codec != b"jpeg" or not samples or not timescale:
        return None
    total = 0
    for off, size in samples:
        if off < 0 or size < 4 or off + size > len(b):
            return None
        dec = decode_jpeg_pixels(b[off : off + size])
        if dec is None or dec[0] != w or dec[1] != h:
            return None
        total += dec[2]
    duration_ms = len(samples) * 1000.0 / timescale
    return w, h, len(samples), duration_ms, total


def synthesize_mjpeg_video(docs: DataFrame) -> DataFrame:
    """One real MJPEG-in-MP4 per doc (Arrow mapInPandas, map-only)."""
    return CODECS["mjpeg_video"].synthesize(docs)


VIDEO_PIXEL_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("n_frames", IntegerType(), True),
        StructField("duration_ms", DoubleType(), True),
        StructField("mean_gray", DoubleType(), True),
    ]
)


def video_pixel_stats(with_media: DataFrame) -> DataFrame:
    """payload → per-video frame/pixel stats through the full MP4
    sample-table walk + per-frame baseline-JPEG decode. Map-only: the
    Arrow batch is the only memory bound, every video decodes
    independently, nothing is corpus-global — at 100 TB this is one
    scan stage whose parallelism is the input partitioning."""
    return CODECS["mjpeg_video"].decode(with_media)


def synthesize_video(docs: DataFrame) -> DataFrame:
    """Build real MP4 header bytes per document, deterministically."""
    return CODECS["video"].synthesize(docs)


def decode_video(with_media: DataFrame) -> DataFrame:
    """Arrow-batched MP4 box-walk decode → typed metadata row."""
    return CODECS["video"].decode(with_media)


# ---------------------------------------------------------------------------
# Mixed-modality routing: ONE opaque binary column carrying images, audio,
# and video interleaved — the shape a real multimodal corpus lands in. The
# router sniffs container magic bytes and dispatches to the matching
# byte-level decoder, emitting a unified typed row per payload. Unknown or
# corrupt payloads route to modality NULL instead of failing the stage.
# ---------------------------------------------------------------------------

ROUTED_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("modality", StringType(), True),
        StructField("format", StringType(), True),
        StructField("n_bytes", LongType(), False),
        StructField("dim_a", LongType(), True),   # image/video: width; audio: rate
        StructField("dim_b", LongType(), True),   # image/video: height; audio: channels
        StructField("duration_ms", DoubleType(), True),  # audio/video only
    ]
)


def synthesize_mixed_media(docs: DataFrame) -> DataFrame:
    """One binary column, three modalities interleaved by doc_id % 3."""
    return CODECS["mixed_media"].synthesize(docs)


def route_and_decode(with_media: DataFrame) -> DataFrame:
    """Magic-byte sniff → modality dispatch → unified typed metadata."""
    return CODECS["mixed_media"].decode(with_media)


FRAME_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("frame_idx", IntegerType(), False),
        StructField("frame_md5", StringType(), False),
        StructField("frame_bytes", LongType(), False),
    ]
)

FRAME_SIZE = 100
FRAME_STRIDE = 250


def sample_frames(
    with_payload: DataFrame,
    frame_size: int = FRAME_SIZE,
    stride: int = FRAME_STRIDE,
) -> DataFrame:
    """Frame-sampling over opaque binary payloads (video-style decode).

    Every ``stride`` bytes, cut a ``frame_size``-byte frame and emit its
    fingerprint — the plumbing shape of video frame extraction (a real
    decoder would seek keyframes instead of fixed offsets; the slicing,
    fan-out schema, and Arrow batching are identical). One input row →
    many frame rows, Arrow-batched, map-only.
    """
    import hashlib

    def row(blob: bytes) -> list:
        frames = []
        for pos in range(0, len(blob), stride):
            frame = blob[pos : pos + frame_size]
            if not frame:
                break
            frames.append((len(frames), hashlib.md5(frame).hexdigest(), len(frame)))
        return frames

    return _decode_df(with_payload, row, FRAME_SCHEMA)


def extract_features(with_payload: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over binary payloads.

    ``mapInPandas``: each Arrow batch arrives as a pandas DataFrame; the
    extractor emits one feature row per payload. Deterministic fake
    features (byte length, first byte) keep the pipeline testable and
    oracle-checkable.
    """
    return _decode_df(
        with_payload, lambda b: (len(b), b[0] if len(b) else None), FEATURE_SCHEMA
    )


# ---------------------------------------------------------------------------
# REAL pixel decode (PNG truecolor) — stdlib-only.
#
# The header walk above answers "what is this file"; this section answers
# "what is IN it". PNG is the one mainstream image format whose pixel
# path needs nothing beyond the standard library: IDAT is zlib (RFC
# 1950/1951, stdlib `zlib`) and scanline prediction is the five public
# filter types of the PNG specification (RFC 2083 §6). JPEG pixels
# (Huffman + dequant + IDCT) decode further down, from ITU-T T.81.
#
# The synthetic encoder writes REAL filtered scanlines (cycling through
# all five filter types) so the decoder's unfilter path is genuinely
# exercised, and pixel values are a pure function of (doc_id, x, y) so a
# SQL oracle can state the expected channel statistics arithmetically.
# ---------------------------------------------------------------------------


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def pixel_value(doc_id: int, x: int, y: int) -> tuple[int, int, int]:
    """Deterministic synthetic RGB — mirrored by the SQL oracle."""
    return (
        (doc_id * 7 + x * 3 + y * 5) % 256,
        (doc_id * 11 + x + 2 * y) % 256,
        (doc_id * 3 + 5 * x + y) % 256,
    )


def _pixel_raster(doc_id: int, w: int, y0: int, rows: int,
                  channel: int | None = None) -> bytes:
    """The pixel_value grid for rows [y0, y0+rows) as raw raster bytes —
    row-major chunky RGBRGB, or one channel's plane when ``channel`` is
    given. Vectorized numpy restatement of the same integer arithmetic
    (a per-pixel python call was half the TIFF builder's profile)."""
    import numpy as np

    xs = np.arange(w, dtype=np.int64)[None, :]
    ys = np.arange(y0, y0 + rows, dtype=np.int64)[:, None]
    chans = (
        (doc_id * 7 + xs * 3 + ys * 5) % 256,
        (doc_id * 11 + xs + 2 * ys) % 256,
        (doc_id * 3 + 5 * xs + ys) % 256,
    )
    if channel is not None:
        return chans[channel].astype(np.uint8).tobytes()
    rgb = np.empty((rows, w, 3), dtype=np.uint8)
    for c in range(3):
        rgb[:, :, c] = chans[c]
    return rgb.tobytes()


def pixel_dims(doc_id: int) -> tuple[int, int]:
    """Small deterministic dims for the PIXEL corpus (the header corpus
    uses media_dims; pixel images stay small so 500 full decodes are a
    test-speed no-op while still covering every filter type)."""
    return (doc_id * 7) % 48 + 8, (doc_id * 13) % 32 + 8


def build_png_pixels(doc_id: int) -> bytes:
    """A REAL truecolor PNG: actual pixel scanlines, filtered with the
    five PNG filter types in rotation (row % 5), zlib-compressed."""
    import zlib

    w, h = pixel_dims(doc_id)
    bpp = 3
    _full = _pixel_raster(doc_id, w, 0, h)
    raw_rows = [
        _full[y * w * bpp : (y + 1) * w * bpp] for y in range(h)
    ]
    out = bytearray()
    prev = bytes(w * bpp)
    for y, row in enumerate(raw_rows):
        ft = y % 5
        out.append(ft)
        for i, v in enumerate(row):
            a = row[i - bpp] if i >= bpp else 0
            b = prev[i]
            c = prev[i - bpp] if i >= bpp else 0
            if ft == 0:
                f = v
            elif ft == 1:
                f = (v - a) % 256
            elif ft == 2:
                f = (v - b) % 256
            elif ft == 3:
                f = (v - (a + b) // 2) % 256
            else:
                f = (v - _paeth(a, b, c)) % 256
            out.append(f)
        prev = row
    ihdr = w.to_bytes(4, "big") + h.to_bytes(4, "big") + bytes([8, 2, 0, 0, 0])
    return (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(out)))
        + _png_chunk(b"IEND", b"")
    )


# Adam7 pass grid (PNG spec §8.2): (x_start, y_start, x_step, y_step)
_ADAM7 = (
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)


def _png_unfilter_lines(raw: bytes, pos: int, width_px: int, n_rows: int,
                        bpp: int = 3):
    """Unfilter ``n_rows`` scanlines of ``width_px`` pixels of ``bpp``
    bytes each starting at ``pos`` (each line is 1 filter byte + pixels;
    prev row starts as zeros — the rule each interlace pass restarts
    under). Returns (rows, new_pos) or None on an unknown filter type /
    truncation."""
    stride = width_px * bpp
    if pos + n_rows * (stride + 1) > len(raw):
        return None
    rows = []
    prev = bytes(stride)
    for _y in range(n_rows):
        ft = raw[pos]
        pos += 1
        line = bytearray(raw[pos : pos + stride])
        pos += stride
        if ft == 1:
            for i in range(bpp, stride):
                line[i] = (line[i] + line[i - bpp]) % 256
        elif ft == 2:
            for i in range(stride):
                line[i] = (line[i] + prev[i]) % 256
        elif ft == 3:
            for i in range(stride):
                a = line[i - bpp] if i >= bpp else 0
                line[i] = (line[i] + (a + prev[i]) // 2) % 256
        elif ft == 4:
            for i in range(stride):
                a = line[i - bpp] if i >= bpp else 0
                c = prev[i - bpp] if i >= bpp else 0
                line[i] = (line[i] + _paeth(a, prev[i], c)) % 256
        elif ft != 0:
            return None
        rows.append(bytes(line))
        prev = rows[-1]
    return rows, pos


def build_png_pixels_interlaced(doc_id: int) -> bytes:
    """A REAL Adam7-interlaced truecolor PNG of the same pixel content
    as build_png_pixels: seven reduced passes, each independently
    filtered with the five PNG filter types in rotation, one IDAT
    zlib stream, IHDR interlace=1."""
    import zlib

    w, h = pixel_dims(doc_id)
    bpp = 3
    out = bytearray()
    for x0, y0, dx, dy in _ADAM7:
        pw = (w - x0 + dx - 1) // dx
        ph = (h - y0 + dy - 1) // dy
        if pw <= 0 or ph <= 0:
            continue
        prev = bytes(pw * bpp)
        for py in range(ph):
            y = y0 + py * dy
            row = bytes(
                v
                for px in range(pw)
                for v in pixel_value(doc_id, x0 + px * dx, y)
            )
            ft = py % 5
            out.append(ft)
            for i, v in enumerate(row):
                a = row[i - bpp] if i >= bpp else 0
                bb = prev[i]
                c = prev[i - bpp] if i >= bpp else 0
                if ft == 0:
                    f = v
                elif ft == 1:
                    f = (v - a) % 256
                elif ft == 2:
                    f = (v - bb) % 256
                elif ft == 3:
                    f = (v - (a + bb) // 2) % 256
                else:
                    f = (v - _paeth(a, bb, c)) % 256
                out.append(f)
            prev = row
    ihdr = w.to_bytes(4, "big") + h.to_bytes(4, "big") + bytes([8, 2, 0, 0, 1])
    return (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(out)))
        + _png_chunk(b"IEND", b"")
    )


def _decode_png_rows(payload: bytes):
    """PNG pixel decode core: chunk walk → IDAT concat → zlib inflate →
    unfilter (all five filter types), for both sequential and Adam7
    INTERLACED streams (seven independently-filtered reduced passes
    re-woven onto the pixel grid, PNG spec §8.2). Returns
    (w, h, [row bytes]) with rows ALWAYS expanded to RGB triplets, or
    None for anything that is not an 8-bit truecolor (color type 2) or
    grayscale (color type 0) PNG or fails structural validation —
    corrupt payloads become None, never exceptions (the
    mm_modality_router contract)."""
    front = _png_idat(payload, want_depth=8, want_colors=(0, 2))
    if front is None:
        return None
    w, h, color, interlace, raw = front
    bpp = 3 if color == 2 else 1
    stride = w * bpp

    def to_rgb(line: bytes) -> bytes:
        if bpp == 3:
            return bytes(line)
        out = bytearray(w * 3)
        for i, g in enumerate(line):
            out[3 * i] = out[3 * i + 1] = out[3 * i + 2] = g
        return bytes(out)

    if interlace == 0:
        if len(raw) != h * (stride + 1):
            return None
        dec = _png_unfilter_lines(raw, 0, w, h, bpp)
        if dec is None:
            return None
        return w, h, [to_rgb(r) for r in dec[0]]
    # Adam7: each non-empty pass is an independently filtered sub-image
    full = [bytearray(stride) for _ in range(h)]
    pos = 0
    for x0, y0, dx, dy in _ADAM7:
        pw = (w - x0 + dx - 1) // dx
        ph = (h - y0 + dy - 1) // dy
        if pw <= 0 or ph <= 0:
            continue
        dec = _png_unfilter_lines(raw, pos, pw, ph, bpp)
        if dec is None:
            return None
        lines, pos = dec
        for py, line in enumerate(lines):
            y = y0 + py * dy
            for px in range(pw):
                x = x0 + px * dx
                full[y][x * bpp : x * bpp + bpp] = \
                    line[px * bpp : px * bpp + bpp]
    if pos != len(raw):
        return None  # trailing bytes: corrupt
    return w, h, [to_rgb(r) for r in full]


def decode_png16_gray_stats(payload: bytes):
    """16-bit grayscale PNG decode → (width, height, sum_v, min_v,
    max_v) over the big-endian 16-bit samples, exact, or None.

    The 8-bit row decoders (:func:`_decode_png_rows`) reject depth 16 at
    a documented boundary; this dedicated path covers the real-crawl
    16-bit case (elevation maps, medical exports, javax's
    TYPE_USHORT_GRAY) without widening the 8-bit RGB row contract. PNG
    filters operate on BYTES at a bytes-per-pixel distance (spec §9.2),
    so the existing unfilter runs unchanged with bpp=2; samples then
    reassemble big-endian per pixel, vectorized (numpy '>u2' view +
    int64-accumulated sum — exact). Both sequential and
    Adam7-interlaced streams decode (r10); anything else — wrong
    depth/color, structural damage — returns None, never raises (the
    mm_modality_router contract)."""
    import numpy as np

    front = _png_idat(payload, want_depth=16, want_colors=(0,))
    if front is None:
        return None
    w, h, _color, interlace, raw = front
    if interlace == 0:
        if len(raw) != h * (w * 2 + 1):
            return None
        dec = _png_unfilter_lines(raw, 0, w, h, bpp=2)
        if dec is None:
            return None
        lines = dec[0]
    else:
        # Adam7 (r10 — the foreign javax progressive encoder emits it):
        # sum/min/max are position-independent, so each pass's
        # unfiltered scanlines contribute directly, no grid reweave
        lines = []
        pos = 0
        for x0, y0, dx, dy in _ADAM7:
            pw = (w - x0 + dx - 1) // dx
            ph = (h - y0 + dy - 1) // dy
            if pw <= 0 or ph <= 0:
                continue
            dec = _png_unfilter_lines(raw, pos, pw, ph, bpp=2)
            if dec is None:
                return None
            pass_lines, pos = dec
            lines.extend(pass_lines)
        if pos != len(raw):
            return None  # trailing bytes: corrupt
    # vectorized stats (ADVICE r9: the per-pixel Python loop was exact
    # but too slow for multi-megapixel real-crawl 16-bit images); int64
    # accumulation keeps the sum exact
    arr = np.frombuffer(b"".join(lines), dtype=">u2")
    if arr.size != w * h:
        return None
    return (
        w,
        h,
        int(arr.sum(dtype=np.int64)),
        int(arr.min()),
        int(arr.max()),
    )


def _png_idat(payload: bytes, want_depth: int, want_colors: tuple[int, ...]):
    """Shared PNG front half: signature + IHDR check (against the
    caller's depth / color-type whitelist), IDAT chunk walk, zlib
    inflate. Returns (w, h, color, interlace, raw) or None — so the
    8-bit row decoders and the 16-bit stats path validate and inflate
    through ONE code path (review r9: a structural-hardening fix must
    not have to land twice)."""
    import zlib

    b = payload
    if b is None or len(b) < 33 or b[:8] != b"\x89PNG\r\n\x1a\n" \
            or b[12:16] != b"IHDR":
        return None
    w = int.from_bytes(b[16:20], "big")
    h = int.from_bytes(b[20:24], "big")
    depth, color, interlace = b[24], b[25], b[28]
    if depth != want_depth or color not in want_colors or interlace > 1 \
            or w == 0 or h == 0:
        return None
    idat = bytearray()
    pos = 8
    while pos + 8 <= len(b):
        ln = int.from_bytes(b[pos : pos + 4], "big")
        tag = b[pos + 4 : pos + 8]
        body = b[pos + 8 : pos + 8 + ln]
        if len(body) < ln:
            return None  # truncated
        if tag == b"IDAT":
            idat += body
        if tag == b"IEND":
            break
        pos += 12 + ln
    # Decompression bound from the DECLARED geometry (ADVICE r9: an
    # unbounded zlib.decompress lets a tiny crafted stream expand to
    # gigabytes in executor memory — a zip bomb defeats the
    # corrupt-payload robustness contract). A valid image inflates to
    # exactly the filtered-scanline size; anything bigger is corrupt.
    channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(color)
    if channels is None:
        return None
    if interlace == 0:
        bound = h * ((w * channels * depth + 7) // 8 + 1)
    else:
        bound = 0
        for x0, y0, dx, dy in _ADAM7:
            pw = (w - x0 + dx - 1) // dx
            ph = (h - y0 + dy - 1) // dy
            if pw > 0 and ph > 0:
                bound += ph * ((pw * channels * depth + 7) // 8 + 1)
    if bound > _MAX_DECODED_BYTES:
        # r11 fuzz find: the bound itself is computed from DECLARED
        # 32-bit dims, so a crafted IHDR (w,h ≈ 2^31) made bound+1
        # overflow CPython's ssize_t inside zlib — the zip-bomb guard
        # crashed instead of rejecting. Geometry past the decode cap is
        # rejected before any inflation.
        return None
    dec = zlib.decompressobj()
    try:
        raw = dec.decompress(bytes(idat), bound + 1)
    except zlib.error:
        return None
    if len(raw) > bound or not dec.eof or dec.unused_data:
        # oversized stream (bomb), truncated stream, or trailing bytes
        # after the zlib end-of-stream — all structurally invalid
        return None
    return w, h, color, interlace, raw


def png16_dims(doc_id: int) -> tuple[int, int]:
    """Deterministic dims for the 16-bit corpus — mirrored by the SQL
    oracle."""
    return (doc_id * 5) % 13 + 4, (doc_id * 11) % 9 + 4


def png16_value(doc_id: int, x: int, y: int) -> int:
    """Planted 16-bit sample — mirrored by the SQL oracle."""
    return (doc_id * 977 + x * 2500 + y * 700) % 65536


def build_png16_pixels(doc_id: int) -> bytes:
    """A REAL 16-bit grayscale PNG (depth 16, color type 0): big-endian
    2-byte samples, scanlines filtered with the five PNG filter types in
    rotation (filters operate on BYTES at the 2-byte pixel distance —
    spec §9.2), zlib-compressed."""
    import zlib

    w, h = png16_dims(doc_id)
    bpp = 2
    raw_rows = [
        b"".join(
            png16_value(doc_id, x, y).to_bytes(2, "big") for x in range(w)
        )
        for y in range(h)
    ]
    out = bytearray()
    prev = bytes(w * bpp)
    for y, row in enumerate(raw_rows):
        ft = y % 5
        out.append(ft)
        for i, v in enumerate(row):
            a = row[i - bpp] if i >= bpp else 0
            b = prev[i]
            c = prev[i - bpp] if i >= bpp else 0
            if ft == 0:
                f = v
            elif ft == 1:
                f = (v - a) % 256
            elif ft == 2:
                f = (v - b) % 256
            elif ft == 3:
                f = (v - (a + b) // 2) % 256
            else:
                f = (v - _paeth(a, b, c)) % 256
            out.append(f)
        prev = row
    ihdr = w.to_bytes(4, "big") + h.to_bytes(4, "big") + bytes([16, 0, 0, 0, 0])
    return (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(out)))
        + _png_chunk(b"IEND", b"")
    )


def build_png16_pixels_interlaced(doc_id: int) -> bytes:
    """The Adam7-interlaced twin of :func:`build_png16_pixels` — same
    16-bit sample content (png16_value grid), seven reduced passes each
    independently filtered with the five filter types in rotation, one
    IDAT stream, IHDR interlace=1. The shape javax's progressive PNG
    writer emits for TYPE_USHORT_GRAY (foreign fixture gray16i.png)."""
    import zlib

    w, h = png16_dims(doc_id)
    bpp = 2
    out = bytearray()
    for x0, y0, dx, dy in _ADAM7:
        pw = (w - x0 + dx - 1) // dx
        ph = (h - y0 + dy - 1) // dy
        if pw <= 0 or ph <= 0:
            continue
        prev = bytes(pw * bpp)
        for py in range(ph):
            y = y0 + py * dy
            row = b"".join(
                png16_value(doc_id, x0 + px * dx, y).to_bytes(2, "big")
                for px in range(pw)
            )
            ft = py % 5
            out.append(ft)
            for i, v in enumerate(row):
                a = row[i - bpp] if i >= bpp else 0
                b = prev[i]
                c = prev[i - bpp] if i >= bpp else 0
                if ft == 0:
                    f = v
                elif ft == 1:
                    f = (v - a) % 256
                elif ft == 2:
                    f = (v - b) % 256
                elif ft == 3:
                    f = (v - (a + b) // 2) % 256
                else:
                    f = (v - _paeth(a, b, c)) % 256
                out.append(f)
            prev = row
    ihdr = w.to_bytes(4, "big") + h.to_bytes(4, "big") + bytes([16, 0, 0, 0, 1])
    return (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(out)))
        + _png_chunk(b"IEND", b"")
    )


PNG16_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("sum_v", LongType(), True),
        StructField("min_v", IntegerType(), True),
        StructField("max_v", IntegerType(), True),
    ]
)


def synthesize_png16_pixels(docs: DataFrame, interlaced: bool = False) -> DataFrame:
    """One real 16-bit grayscale PNG per doc (Arrow mapInPandas);
    ``interlaced=True`` emits the Adam7 form of the same samples."""
    return CODECS["png16_interlaced" if interlaced else "png16"].synthesize(docs)


def png16_stats(with_media: DataFrame) -> DataFrame:
    """payload → exact 16-bit sample stats (integer sum/min/max — the
    all-integer output shape keeps the cross-engine oracle tie-free)
    via decode_png16_gray_stats (map-only, NULL on corruption)."""
    return CODECS["png16"].decode(with_media)


def decode_png_pixels(payload: bytes):
    """Full PNG pixel decode → (width, height, sum_r, sum_g, sum_b), or
    None (see _decode_png_rows)."""
    dec = _decode_png_rows(payload)
    if dec is None:
        return None
    w, h, rows = dec
    sums = [0, 0, 0]
    for line in rows:
        for i in range(0, w * 3, 3):
            sums[0] += line[i]
            sums[1] += line[i + 1]
            sums[2] += line[i + 2]
    return w, h, sums[0], sums[1], sums[2]


def decode_png_ahash(payload: bytes):
    """Perceptual average-hash over the REAL decoded pixels: the image
    is average-pooled onto an 8x8 grid (cell of pixel (x, y) is
    (x*8)//w, (y*8)//h — unequal cell sizes are handled exactly), and
    bit (gy*8+gx) is set iff the cell's gray mean strictly exceeds the
    image's gray mean, compared via integer cross-multiplication
    (cellsum * total_px > totalsum * cell_px) so no division ever
    happens. Gray = r+g+b (a positive scaling of the mean, which cannot
    change any comparison). Returns (w, h, ahash_hi, ahash_lo, n_bits)
    with bits 0-31 in lo and 32-63 in hi, or None."""
    dec = _decode_png_rows(payload)
    if dec is None:
        return None
    w, h, rows = dec
    cell_sum = [[0] * 8 for _ in range(8)]
    cell_px = [[0] * 8 for _ in range(8)]
    total = 0
    for y, line in enumerate(rows):
        gy = (y * 8) // h
        for x in range(w):
            g = line[3 * x] + line[3 * x + 1] + line[3 * x + 2]
            gx = (x * 8) // w
            cell_sum[gy][gx] += g
            cell_px[gy][gx] += 1
            total += g
    tp = w * h
    hi = lo = nbits = 0
    for gy in range(8):
        for gx in range(8):
            if cell_sum[gy][gx] * tp > total * cell_px[gy][gx]:
                bit = gy * 8 + gx
                if bit < 32:
                    lo |= 1 << bit
                else:
                    hi |= 1 << (bit - 32)
                nbits += 1
    return w, h, hi, lo, nbits


PIXEL_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("mean_r", DoubleType(), True),
        StructField("mean_g", DoubleType(), True),
        StructField("mean_b", DoubleType(), True),
    ]
)


def build_png_with_metadata(doc_id: int) -> bytes:
    """A real PNG carrying ancillary metadata chunks: two tEXt
    (Title, Source — latin-1 keyword NUL value, per the PNG spec) and a
    pHYs (pixels-per-unit x/y + unit flag), each with a genuine CRC-32,
    placed between IHDR and the pixel data."""
    base = build_png_pixels(doc_id)
    # base = signature(8) + IHDR chunk (25 bytes: 4 len + 4 tag + 13 + 4 crc)
    head, rest = base[: 8 + 25], base[8 + 25 :]
    title = f"doc-{doc_id}".encode()
    source = f"src{doc_id % 20}".encode()
    ppu = 2834 + doc_id % 100
    phys = ppu.to_bytes(4, "big") + (ppu * 2).to_bytes(4, "big") + b"\x01"
    return (
        head
        + _png_chunk(b"tEXt", b"Title\x00" + title)
        + _png_chunk(b"tEXt", b"Source\x00" + source)
        + _png_chunk(b"pHYs", phys)
        + rest
    )


def decode_png_metadata(payload: bytes):
    """Walk PNG chunks, CRC-32-verify every chunk, and extract tEXt
    key/values plus pHYs resolution. Returns (width, height,
    {text key: value}, ppu_x, ppu_y, unit) or None on structural damage
    or any CRC mismatch (metadata from a corrupt container is worse
    than no metadata)."""
    import zlib

    b = payload
    if b is None or len(b) < 33 or b[:8] != b"\x89PNG\r\n\x1a\n":
        return None
    w = int.from_bytes(b[16:20], "big")
    h = int.from_bytes(b[20:24], "big")
    texts: dict[str, str] = {}
    ppu_x = ppu_y = unit = None
    pos = 8
    while pos + 12 <= len(b):
        ln = int.from_bytes(b[pos : pos + 4], "big")
        tag = b[pos + 4 : pos + 8]
        body = b[pos + 8 : pos + 8 + ln]
        if len(body) < ln:
            return None
        crc = b[pos + 8 + ln : pos + 12 + ln]
        if len(crc) < 4 or zlib.crc32(tag + body).to_bytes(4, "big") != crc:
            return None
        if tag == b"tEXt" and b"\x00" in body:
            k, _, v = body.partition(b"\x00")
            try:
                texts[k.decode("latin-1")] = v.decode("latin-1")
            except UnicodeDecodeError:
                return None
        elif tag == b"pHYs":
            if ln != 9:
                return None
            ppu_x = int.from_bytes(body[0:4], "big")
            ppu_y = int.from_bytes(body[4:8], "big")
            unit = body[8]
        if tag == b"IEND":
            return w, h, texts, ppu_x, ppu_y, unit
        pos += 12 + ln
    return None  # no IEND: truncated container, don't trust the fields


PNG_META_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("title", StringType(), True),
        StructField("source_tag", StringType(), True),
        StructField("ppu_x", LongType(), True),
        StructField("ppu_y", LongType(), True),
        StructField("unit", IntegerType(), True),
    ]
)


def synthesize_png_metadata(docs: DataFrame) -> DataFrame:
    """One metadata-bearing real PNG per doc (Arrow mapInPandas)."""
    return CODECS["png_metadata"].synthesize(docs)


def png_metadata(with_media: DataFrame) -> DataFrame:
    """payload → extracted container metadata (map-only, NULL on
    corruption or CRC failure)."""
    return CODECS["png_metadata"].decode(with_media)


# ---------------------------------------------------------------------------
# MP3 (MPEG-1 Audio Layer III) frame-header walk — the header-metadata
# tier for the web's most common audio format, from the public MPEG-1
# audio spec (ISO/IEC 11172-3): 11-bit frame sync, version/layer bits,
# bitrate and sample-rate table indexes, per-frame padding, and the
# Layer III frame-length formula 144*bitrate/samplerate + padding.
# An ID3v2 prefix (syncsafe length, ID3v2.3) is skipped the way real
# sniffers do. No sample decode — this is the cheap first-pass tier,
# like decode_real for images and the PNG metadata walk.
# ---------------------------------------------------------------------------

_MP3_BITRATES = (0, 32, 40, 48, 56, 64, 80, 96, 112, 128,
                 160, 192, 224, 256, 320)  # MPEG-1 Layer III, kbps
_MP3_RATES = (44100, 48000, 32000)
_MP3_SAMPLES_PER_FRAME = 1152


def mp3_params(doc_id: int) -> tuple[int, int, int]:
    """(n_frames, bitrate_idx, samplerate_idx) — oracle-restatable."""
    return doc_id % 5 + 3, doc_id % 14 + 1, doc_id % 3


def build_mp3(doc_id: int) -> bytes:
    """A real-layout MP3: ID3v2.3 tag (syncsafe size) + n CBR MPEG-1
    Layer III frames with alternating padding bits and zero-filled
    audio data."""
    n, bi, si = mp3_params(doc_id)
    tag_body = f"TAG-{doc_id}".encode().ljust(17, b"\x00")
    sz = len(tag_body)
    # syncsafe: 7 bits per byte, high bit clear
    syncsafe = bytes(
        [(sz >> 21) & 0x7F, (sz >> 14) & 0x7F, (sz >> 7) & 0x7F, sz & 0x7F]
    )
    out = bytearray(b"ID3\x03\x00\x00" + syncsafe + tag_body)
    for f in range(n):
        pad = (doc_id + f) % 2
        hdr = (0x7FF << 21) | (0b11 << 19) | (0b01 << 17) | (1 << 16) \
            | (bi << 12) | (si << 10) | (pad << 9) | (0b11 << 6)
        flen = (144000 * _MP3_BITRATES[bi]) // _MP3_RATES[si] + pad
        frame = bytearray(hdr.to_bytes(4, "big"))
        frame += bytes(flen - 4)
        out += frame
    return bytes(out)


def decode_mp3_metadata(payload: bytes):
    """MP3 walk → (n_frames, bitrate_kbps, sample_rate, duration_ms) or
    None. Skips a leading ID3v2 tag via its syncsafe length, then walks
    every frame: sync + MPEG-1/Layer-III bits verified, frame length
    from the bitrate/samplerate tables + padding, and the walk must
    land exactly on end-of-stream — trailing garbage or a truncated
    last frame rejects."""
    if payload is None:
        return None
    b = bytes(payload)
    pos = 0
    if b[:3] == b"ID3":
        if len(b) < 10:
            return None
        if any(x & 0x80 for x in b[6:10]):
            return None  # not syncsafe: corrupt tag length
        pos = 10 + ((b[6] << 21) | (b[7] << 14) | (b[8] << 7) | b[9])
    n = 0
    bitrate = rate = None
    while pos < len(b):
        if pos + 4 > len(b):
            return None
        hdr = int.from_bytes(b[pos : pos + 4], "big")
        if (hdr >> 21) & 0x7FF != 0x7FF:
            return None  # lost sync
        if (hdr >> 19) & 0b11 != 0b11 or (hdr >> 17) & 0b11 != 0b01:
            return None  # not MPEG-1 Layer III: boundary
        bi = (hdr >> 12) & 0x0F
        si = (hdr >> 10) & 0b11
        pad = (hdr >> 9) & 1
        if bi in (0, 15) or si == 3:
            return None  # free-format / reserved indexes
        fbr, fsr = _MP3_BITRATES[bi], _MP3_RATES[si]
        if bitrate is None:
            bitrate, rate = fbr, fsr
        elif (fbr, fsr) != (bitrate, rate):
            return None  # VBR: out of scope for the CBR duration math
        flen = (144000 * fbr) // fsr + pad
        if flen < 4 or pos + flen > len(b):
            return None  # truncated frame
        pos += flen
        n += 1
    if n == 0 or pos != len(b):
        return None
    duration_ms = n * _MP3_SAMPLES_PER_FRAME * 1000.0 / rate
    return n, bitrate, rate, duration_ms


MP3_META_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("n_frames", IntegerType(), True),
        StructField("bitrate_kbps", IntegerType(), True),
        StructField("sample_rate", IntegerType(), True),
        StructField("duration_ms", DoubleType(), True),
    ]
)


def synthesize_mp3(docs: DataFrame) -> DataFrame:
    """One real-layout MP3 per doc (Arrow mapInPandas)."""
    return CODECS["mp3"].synthesize(docs)


def mp3_metadata(with_media: DataFrame) -> DataFrame:
    """payload → frame-walk metadata (map-only, NULL on corruption)."""
    return CODECS["mp3"].decode(with_media)


# ---------------------------------------------------------------------------
# MP3 Xing/VBR (r11, VERDICT r10 #7): real-world MP3 is mostly VBR, and
# the ONLY honest duration for a VBR stream comes from the Xing/Info
# header LAME writes into the first (silent) frame — byte layout public
# via the Xing SDK header and the LAME source. The CBR walker above
# deliberately rejects VBR; this pair owns it.
# ---------------------------------------------------------------------------

_XING_FRAME_BI = 1  # 32 kbps — the customary silent carrier frame


def mp3_vbr_params(doc_id: int) -> tuple[int, int]:
    """(n_audio_frames, samplerate_idx) — frame f's bitrate index is
    (doc_id + f) % 14 + 1 and its padding bit (doc_id + f) % 2, all
    restatable by the SQL oracle."""
    return doc_id % 5 + 3, doc_id % 3


def build_mp3_vbr(doc_id: int) -> bytes:
    """A real-layout VBR MP3: ID3v2.3 tag, then a Xing header frame
    (valid mono MPEG-1 Layer III frame at 32 kbps whose payload is the
    'Xing' fourcc at the 21-byte mono side-info offset + flags 0x3 +
    frame count + byte count), then n audio frames whose bitrate
    indexes CYCLE through the table (true VBR) with alternating
    padding bits."""
    n, si = mp3_vbr_params(doc_id)
    rate = _MP3_RATES[si]
    tag_body = f"TAG-{doc_id}".encode().ljust(17, b"\x00")
    sz = len(tag_body)
    syncsafe = bytes(
        [(sz >> 21) & 0x7F, (sz >> 14) & 0x7F, (sz >> 7) & 0x7F, sz & 0x7F]
    )
    out = bytearray(b"ID3\x03\x00\x00" + syncsafe + tag_body)

    def frame_bytes(bi: int, pad: int, body: bytes = b"") -> bytes:
        hdr = (0x7FF << 21) | (0b11 << 19) | (0b01 << 17) | (1 << 16) \
            | (bi << 12) | (si << 10) | (pad << 9) | (0b11 << 6)
        flen = (144000 * _MP3_BITRATES[bi]) // rate + pad
        f = bytearray(hdr.to_bytes(4, "big"))
        f += bytes(17)  # mono MPEG-1 side info (zeroed: silent frame)
        f += body
        if len(f) > flen:
            raise ValueError("xing payload exceeds carrier frame")
        f += bytes(flen - len(f))
        return bytes(f)

    audio = []
    total_audio = 0
    for f in range(n):
        bi = (doc_id + f) % 14 + 1
        pad = (doc_id + f) % 2
        fb = frame_bytes(bi, pad)
        audio.append(fb)
        total_audio += len(fb)
    xing_len = (144000 * _MP3_BITRATES[_XING_FRAME_BI]) // rate
    total_bytes = xing_len + total_audio  # Xing 'bytes' = all frames
    xing_body = (
        b"Xing"
        + (0x3).to_bytes(4, "big")       # flags: frames | bytes
        + n.to_bytes(4, "big")           # audio frames after this one
        + total_bytes.to_bytes(4, "big")
    )
    out += frame_bytes(_XING_FRAME_BI, 0, xing_body)
    for fb in audio:
        out += fb
    return bytes(out)


def decode_mp3_xing(payload: bytes):
    """VBR MP3 walk → (n_frames, sample_rate, total_bytes, duration_ms,
    avg_bitrate_kbps) or None.

    Skips ID3v2, requires the first frame to carry a Xing/Info header
    (fourcc at the channel-mode-dependent side-info offset), walks
    every following frame ALLOWING the bitrate to vary per frame, and
    cross-checks BOTH Xing claims against the walk: claimed frame
    count == walked audio frames and claimed byte count == actual
    frame bytes (Xing frame included). A VBR stream whose index lies —
    the classic cause of wrong durations/seeks in players — rejects to
    None, as do all the CBR walker's structural defects."""
    if payload is None:
        return None
    b = bytes(payload)
    pos = 0
    if b[:3] == b"ID3":
        if len(b) < 10 or any(x & 0x80 for x in b[6:10]):
            return None
        pos = 10 + ((b[6] << 21) | (b[7] << 14) | (b[8] << 7) | b[9])
    stream_start = pos

    def parse_header(p: int):
        if p + 4 > len(b):
            return None
        hdr = int.from_bytes(b[p : p + 4], "big")
        if (hdr >> 21) & 0x7FF != 0x7FF:
            return None
        if (hdr >> 19) & 0b11 != 0b11 or (hdr >> 17) & 0b11 != 0b01:
            return None
        bi = (hdr >> 12) & 0x0F
        si = (hdr >> 10) & 0b11
        if bi in (0, 15) or si == 3:
            return None
        pad = (hdr >> 9) & 1
        mode = (hdr >> 6) & 0b11
        flen = (144000 * _MP3_BITRATES[bi]) // _MP3_RATES[si] + pad
        return bi, si, pad, mode, flen

    first = parse_header(pos)
    if first is None:
        return None
    _, si, _, mode, flen = first
    rate = _MP3_RATES[si]
    side = 17 if mode == 0b11 else 32  # mono vs stereo side-info size
    xoff = pos + 4 + side
    if xoff + 16 > len(b) or pos + flen > len(b):
        return None
    if b[xoff : xoff + 4] not in (b"Xing", b"Info"):
        return None
    flags = int.from_bytes(b[xoff + 4 : xoff + 8], "big")
    if flags & 0x3 != 0x3:
        return None  # need both frame and byte counts for duration
    claimed_frames = int.from_bytes(b[xoff + 8 : xoff + 12], "big")
    claimed_bytes = int.from_bytes(b[xoff + 12 : xoff + 16], "big")
    pos += flen
    n = 0
    while pos < len(b):
        h = parse_header(pos)
        if h is None:
            return None
        _, fsi, _, _, fl = h
        if fsi != si:
            return None  # sample rate cannot vary mid-stream
        if pos + fl > len(b):
            return None
        pos += fl
        n += 1
    if n == 0 or pos != len(b):
        return None
    total_bytes = len(b) - stream_start
    if n != claimed_frames or total_bytes != claimed_bytes:
        return None  # lying VBR index
    duration_ms = n * _MP3_SAMPLES_PER_FRAME * 1000.0 / rate
    audio_bytes = total_bytes - flen
    # exact-integer numerators/denominators, one double division each —
    # the oracle replays this op order bit-for-bit
    avg_kbps = audio_bytes * 8.0 * rate / (n * _MP3_SAMPLES_PER_FRAME) / 1000.0
    return n, rate, total_bytes, duration_ms, avg_kbps


MP3_XING_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("n_frames", IntegerType(), True),
        StructField("sample_rate", IntegerType(), True),
        StructField("total_bytes", LongType(), True),
        StructField("duration_ms", DoubleType(), True),
        StructField("avg_bitrate_kbps", DoubleType(), True),
    ]
)


def synthesize_mp3_vbr(docs: DataFrame) -> DataFrame:
    """One real-layout VBR (Xing-indexed) MP3 per doc."""
    return CODECS["mp3_vbr"].synthesize(docs)


def mp3_xing_stats(with_media: DataFrame) -> DataFrame:
    """payload → Xing-validated VBR metadata (map-only, NULL on
    corruption or on a lying VBR index)."""
    return CODECS["mp3_vbr"].decode(with_media)


# ---------------------------------------------------------------------------
# FLAC SEEKTABLE block (r11, VERDICT r10 #7): the metadata block a real
# streaming service needs before it can serve range requests — 18-byte
# seek points (sample number, byte offset, frame sample count), spec
# §"SEEKTABLE": points sorted by ascending sample number, placeholders
# (sample number 2^64-1) only at the end. Format: FLAC spec (xiph.org).
# ---------------------------------------------------------------------------

_FLAC_PLACEHOLDER = (1 << 64) - 1


def flac_seektable_params(doc_id: int) -> tuple[int, int, int]:
    """(n_real_points, n_placeholders, byte_step) — oracle-restatable.
    Seek point i targets sample i*4096 at byte offset i*byte_step with
    4096 frame samples; every 4th doc carries one trailing placeholder
    (the pre-allocated-table pattern real encoders leave behind)."""
    return doc_id % 6 + 2, 1 if doc_id % 4 == 0 else 0, doc_id % 1000 + 100


def build_flac_seektable(doc_id: int) -> bytes:
    """fLaC signature + STREAMINFO (not last) + SEEKTABLE (last) with
    deterministic seek points and optional trailing placeholders."""
    n_points, n_ph, step = flac_seektable_params(doc_id)
    rate = AUDIO_RATES[doc_id % 5]
    n_samples = (doc_id * 997) % 100_000 + 1_000
    v = (rate << 44) | (0 << 41) | (15 << 36) | n_samples
    streaminfo = (
        (1024).to_bytes(2, "big")
        + (4096).to_bytes(2, "big")
        + (0).to_bytes(3, "big")
        + (0).to_bytes(3, "big")
        + v.to_bytes(8, "big")
        + b"\x00" * 16
    )
    table = bytearray()
    for i in range(n_points):
        table += (i * 4096).to_bytes(8, "big")
        table += (i * step).to_bytes(8, "big")
        table += (4096).to_bytes(2, "big")
    for _ in range(n_ph):
        table += _FLAC_PLACEHOLDER.to_bytes(8, "big") + bytes(10)
    return (
        b"fLaC"
        + bytes([0x00]) + len(streaminfo).to_bytes(3, "big") + streaminfo
        + bytes([0x80 | 3]) + len(table).to_bytes(3, "big") + table
    )


def decode_flac_seektable(payload: bytes):
    """FLAC metadata-block walk → (rate, n_samples, n_points,
    n_placeholders, last_seek_sample, sum_byte_offsets) or None.

    Walks ALL metadata blocks (not just the leading STREAMINFO like
    _decode_flac): first block must be STREAMINFO, block lengths must
    land exactly on the last-flagged block, the SEEKTABLE length must
    be a multiple of 18, real seek points must be STRICTLY ascending in
    sample number, and placeholders may only follow real points.
    Violations — the spec's MUSTs — reject to None, never raise."""
    if payload is None:
        return None
    b = bytes(payload)
    if len(b) < 8 or b[:4] != b"fLaC":
        return None
    pos = 4
    first = True
    rate = n_samples = None
    seektable = None
    while True:
        if pos + 4 > len(b):
            return None
        hdr = b[pos]
        last = bool(hdr & 0x80)
        btype = hdr & 0x7F
        size = int.from_bytes(b[pos + 1 : pos + 4], "big")
        body_at = pos + 4
        if body_at + size > len(b):
            return None
        if first:
            if btype != 0 or size < 34:
                return None
            v = int.from_bytes(b[body_at + 10 : body_at + 18], "big")
            rate = v >> 44
            n_samples = v & ((1 << 36) - 1)
            if rate == 0:
                return None
            first = False
        elif btype == 3:
            if seektable is not None or size % 18 != 0:
                return None
            seektable = b[body_at : body_at + size]
        pos = body_at + size
        if last:
            break
    if pos != len(b) or seektable is None:
        return None
    n_points = n_ph = 0
    prev = -1
    last_sample = 0
    sum_off = 0
    for i in range(0, len(seektable), 18):
        sample = int.from_bytes(seektable[i : i + 8], "big")
        off = int.from_bytes(seektable[i + 8 : i + 16], "big")
        if sample == _FLAC_PLACEHOLDER:
            n_ph += 1
            continue
        if n_ph:
            return None  # real point after a placeholder: out of order
        if sample <= prev:
            return None  # spec: unique ascending sample numbers
        prev = sample
        last_sample = sample
        sum_off += off
        n_points += 1
    if n_points == 0:
        return None
    if last_sample >= (1 << 63) or sum_off >= (1 << 63):
        # raw 8-byte fields can exceed int64 — structurally absurd for
        # any real stream and would blow the output column cast
        return None
    return rate, n_samples, n_points, n_ph, last_sample, sum_off


FLAC_SEEK_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("sample_rate", IntegerType(), True),
        StructField("n_samples", LongType(), True),
        StructField("n_points", IntegerType(), True),
        StructField("n_placeholders", IntegerType(), True),
        StructField("last_seek_sample", LongType(), True),
        StructField("sum_byte_offsets", LongType(), True),
    ]
)


def synthesize_flac_seektable(docs: DataFrame) -> DataFrame:
    """One FLAC-with-SEEKTABLE per doc (Arrow mapInPandas)."""
    return CODECS["flac_seektable"].synthesize(docs)


def flac_seektable_stats(with_media: DataFrame) -> DataFrame:
    """payload → seektable census (map-only, NULL on corruption)."""
    return CODECS["flac_seektable"].decode(with_media)


# ---------------------------------------------------------------------------
# Ogg container walk (RFC 3533 — public byte layout) + Vorbis id header
# (Vorbis I spec §4.2.2). Header-metadata tier like the MP3/MP4 walks:
# page structure + CRC verified, stream identity and duration extracted,
# no packet (audio) decode — exactly what a crawl filters on. r10
# (VERDICT r9 #7: the audio container family lacked an Ogg member).
# ---------------------------------------------------------------------------

_OGG_RATES = (8000, 16000, 44100)


def _ogg_crc_table():
    tbl = []
    for i in range(256):
        r = i << 24
        for _ in range(8):
            r = ((r << 1) ^ 0x04C11DB7 if r & 0x80000000 else r << 1) \
                & 0xFFFFFFFF
        tbl.append(r)
    return tbl


_OGG_CRC = _ogg_crc_table()


def _ogg_crc32(b: bytes) -> int:
    """Ogg's CRC-32: poly 0x04C11DB7, non-reflected, init 0, no xor-out
    (RFC 3533 §6) — NOT zlib's reflected variant."""
    r = 0
    for byte in b:
        r = ((r << 8) & 0xFFFFFFFF) ^ _OGG_CRC[((r >> 24) & 0xFF) ^ byte]
    return r


def ogg_params(doc_id: int) -> tuple[int, int, int, int]:
    """Deterministic (n_pages, channels, sample_rate, last_granule) —
    the SQL oracle restates this arithmetic."""
    n_pages = doc_id % 4 + 2
    channels = doc_id % 2 + 1
    rate = _OGG_RATES[doc_id % 3]
    last_granule = (doc_id * 997) % 100_000 + rate  # ≥ 1 second
    return n_pages, channels, rate, last_granule


def _ogg_page(serial: int, seq: int, granule: int, htype: int,
              payload: bytes) -> bytes:
    """One Ogg page with a correct CRC (segments ≤ 255 bytes each)."""
    segs = [payload[i : i + 255] for i in range(0, len(payload), 255)] or [b""]
    lacing = bytes(len(s) for s in segs)
    head = (
        b"OggS" + bytes([0, htype])
        + granule.to_bytes(8, "little")
        + serial.to_bytes(4, "little")
        + seq.to_bytes(4, "little")
        + bytes(4)  # CRC placeholder
        + bytes([len(segs)]) + lacing
    )
    crc = _ogg_crc32(head + payload)
    head = head[:22] + crc.to_bytes(4, "little") + head[26:]
    return head + payload


def _ogg_ident_packet(channels: int, rate: int) -> bytes:
    """The Vorbis identification header packet (Vorbis I §4.2.2) —
    shared by the plain and tagged stream builders so a future packet
    fix cannot fork the two synthetic corpora (review r11)."""
    return (
        b"\x01vorbis"
        + (0).to_bytes(4, "little")          # vorbis_version
        + bytes([channels])
        + rate.to_bytes(4, "little")
        + bytes(12)                          # bitrate max/nominal/min
        + bytes([0x66])                      # blocksizes 2^6 / 2^6
        + b"\x01"                            # framing bit
    )


def _ogg_data_pages(
    doc_id: int, serial: int, n_pages: int, last_granule: int, seq0: int
) -> bytes:
    """The monotone-granule data pages shared by both stream builders;
    ``seq0`` is the page sequence number of the FIRST data page (1 for
    the plain head, 2 for the tagged stream whose page 1 is the comment
    header)."""
    out = bytearray()
    for p in range(1, n_pages):
        gran = last_granule * p // (n_pages - 1)
        ln = (doc_id * 7 + p * 13) % 200 + 1
        body = bytes((doc_id + p * 31 + i) % 256 for i in range(ln))
        htype = 0x04 if p == n_pages - 1 else 0x00  # EOS on last
        out += _ogg_page(serial, seq0 + p - 1, gran, htype, body)
    return bytes(out)


def build_ogg_vorbis(doc_id: int) -> bytes:
    """A real-layout Ogg/Vorbis stream head: BOS page carrying the
    Vorbis identification header (channels + rate), data pages with
    monotone granule positions, EOS on the last page, every page
    CRC-correct."""
    n_pages, channels, rate, last_granule = ogg_params(doc_id)
    serial = (doc_id * 2654435761) % (1 << 32)
    out = bytearray(
        _ogg_page(serial, 0, 0, 0x02, _ogg_ident_packet(channels, rate))
    )
    out += _ogg_data_pages(doc_id, serial, n_pages, last_granule, seq0=1)
    return bytes(out)


def decode_ogg_metadata(payload: bytes):
    """Ogg page walk → (n_pages, channels, sample_rate, last_granule,
    duration_ms) or None.

    Verifies per page: capture pattern, version 0, the RFC 3533 CRC
    (recomputed with the CRC field zeroed), one logical stream (a
    single serial — multiplexed streams are out of scope), page
    sequence numbers incrementing from 0, BOS exactly on the first
    page and EOS on the last, and that the walk lands exactly on
    end-of-stream. The BOS packet must be a Vorbis identification
    header (channels ≥ 1, rate > 0); duration = last granule position
    (PCM sample count for Vorbis) over the rate. Anything else —
    truncation, bit flips (CRC), lost capture, foreign codecs —
    rejects to None, never raises."""
    if payload is None:
        return None
    b = bytes(payload)
    pos = 0
    n_pages = 0
    serial = channels = rate = None
    granule = -1
    eos_seen = False
    while pos < len(b):
        if eos_seen or pos + 27 > len(b) or b[pos : pos + 4] != b"OggS" \
                or b[pos + 4] != 0:
            return None
        htype = b[pos + 5]
        gran = int.from_bytes(b[pos + 6 : pos + 14], "little")
        ser = int.from_bytes(b[pos + 14 : pos + 18], "little")
        seq = int.from_bytes(b[pos + 18 : pos + 22], "little")
        crc = int.from_bytes(b[pos + 22 : pos + 26], "little")
        nseg = b[pos + 26]
        hend = pos + 27 + nseg
        if hend > len(b):
            return None
        body_len = sum(b[pos + 27 : hend])
        pend = hend + body_len
        if pend > len(b):
            return None
        page = bytearray(b[pos:pend])
        page[22:26] = bytes(4)
        if _ogg_crc32(bytes(page)) != crc:
            return None
        if seq != n_pages:
            return None  # lost/reordered page
        if serial is None:
            serial = ser
        elif ser != serial:
            return None  # multiplexed: out of scope
        if n_pages == 0:
            if htype & 0x02 == 0:
                return None  # first page must be BOS
            ident = b[hend:pend]
            if len(ident) < 30 or ident[:7] != b"\x01vorbis":
                return None
            channels = ident[11]
            rate = int.from_bytes(ident[12:16], "little")
            if channels == 0 or rate == 0:
                return None
        elif htype & 0x02:
            return None  # BOS past the first page
        if gran == 0xFFFFFFFFFFFFFFFF:
            # RFC 3533 §6: -1 granule = "no packet completes on this
            # page" (packets spanning pages — routine in real encoder
            # output); it is a SENTINEL, not a position, so it neither
            # updates nor violates monotonicity (review r10: treating
            # it as 2^64-1 rejected most real Ogg files)
            pass
        else:
            if gran < granule:
                return None  # granule positions must be monotone
            granule = gran
        eos_seen = bool(htype & 0x04)
        n_pages += 1
        pos = pend
    if n_pages < 2 or not eos_seen or pos != len(b) or granule < 0:
        return None
    return n_pages, channels, rate, granule, granule * 1000.0 / rate


OGG_META_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("n_pages", IntegerType(), True),
        StructField("channels", IntegerType(), True),
        StructField("sample_rate", IntegerType(), True),
        StructField("last_granule", LongType(), True),
        StructField("duration_ms", DoubleType(), True),
    ]
)


def synthesize_ogg(docs: DataFrame) -> DataFrame:
    """One real-layout Ogg/Vorbis stream head per doc (Arrow
    mapInPandas)."""
    return CODECS["ogg"].synthesize(docs)


def ogg_metadata(with_media: DataFrame) -> DataFrame:
    """payload → page-walk metadata (map-only, NULL on corruption)."""
    return CODECS["ogg"].decode(with_media)


# ---------------------------------------------------------------------------
# Vorbis comment header (r11, VERDICT r10 #7): the SECOND Vorbis packet
# — vendor string + length-prefixed KEY=value user comments (Vorbis I
# spec §5, the metadata every tagger/player reads). The r10 stream head
# carried junk data pages; this variant carries a REAL comment packet
# so the tag-extraction path is decodable and oracled.
# ---------------------------------------------------------------------------


def ogg_comment_params(doc_id: int) -> tuple[int, str, str, int]:
    """(n_comments, artist, title, track) — oracle-restatable. Comments
    are ARTIST, TITLE, TRACKNUMBER plus (doc_id % 3) GENRE repeats."""
    return (
        3 + doc_id % 3,
        f"artist-{doc_id % 97}",
        f"track {doc_id}",
        doc_id % 21 + 1,
    )


def build_ogg_vorbis_tagged(doc_id: int) -> bytes:
    """A real-layout Ogg/Vorbis stream whose page 1 is a genuine Vorbis
    COMMENT header packet (\\x03vorbis + vendor + user comment list +
    framing bit); pages 0 and 2.. are the r10 stream head's BOS ident
    and granule-monotone data pages. Total pages = ogg_params' count
    + 1 (the comment page completes no audio, granule 0)."""
    n_pages, channels, rate, last_granule = ogg_params(doc_id)
    serial = (doc_id * 2654435761) % (1 << 32)
    n_comments, artist, title, track = ogg_comment_params(doc_id)
    vendor = b"sql-query-engine-spark r11"
    comments = [
        f"ARTIST={artist}".encode(),
        f"TITLE={title}".encode(),
        f"TRACKNUMBER={track}".encode(),
    ] + [b"GENRE=synthetic"] * (n_comments - 3)
    body = bytearray(b"\x03vorbis")
    body += len(vendor).to_bytes(4, "little") + vendor
    body += len(comments).to_bytes(4, "little")
    for c in comments:
        body += len(c).to_bytes(4, "little") + c
    body += b"\x01"  # framing bit
    out = bytearray(
        _ogg_page(serial, 0, 0, 0x02, _ogg_ident_packet(channels, rate))
    )
    out += _ogg_page(serial, 1, 0, 0x00, bytes(body))      # comment page
    out += _ogg_data_pages(doc_id, serial, n_pages, last_granule, seq0=2)
    return bytes(out)


def _ogg_page_bodies(b: bytes, upto: int):
    """Bodies of the first ``upto`` pages (structure assumed already
    CRC-validated by decode_ogg_metadata — this is a boundary re-walk,
    not a second validator)."""
    bodies = []
    pos = 0
    for _ in range(upto):
        if pos + 27 > len(b):
            return None
        nseg = b[pos + 26]
        hend = pos + 27 + nseg
        if hend > len(b):
            return None
        body_len = sum(b[pos + 27 : hend])
        if hend + body_len > len(b):
            return None
        bodies.append(b[hend : hend + body_len])
        pos = hend + body_len
    return bodies


def decode_ogg_comments(payload: bytes):
    """Tagged Ogg/Vorbis → (n_pages, channels, sample_rate, n_comments,
    vendor, artist, title, track, comment_bytes) or None.

    The full r10 page walk first (capture/CRC/sequence/BOS/EOS/granule
    laws — any structural damage rejects before a byte of tag parsing),
    then page 1's packet must be a well-formed comment header: the
    \\x03vorbis magic, length-prefixed vendor, a comment count whose
    length-prefixed entries each contain '=' and land exactly on the
    framing bit (which must be 1). ARTIST/TITLE/TRACKNUMBER extracted
    case-insensitively per spec; comment_bytes = Σ entry lengths."""
    meta = decode_ogg_metadata(payload)
    if meta is None:
        return None
    n_pages, channels, rate, _gran, _dur = meta
    b = bytes(payload)
    bodies = _ogg_page_bodies(b, 2)
    if bodies is None or len(bodies) < 2:
        return None
    pkt = bodies[1]
    if len(pkt) < 15 or pkt[:7] != b"\x03vorbis":
        return None
    pos = 7
    if pos + 4 > len(pkt):
        return None
    vlen = int.from_bytes(pkt[pos : pos + 4], "little")
    pos += 4
    if pos + vlen + 4 > len(pkt):
        return None
    try:
        vendor = pkt[pos : pos + vlen].decode("utf-8")
    except UnicodeDecodeError:
        return None
    pos += vlen
    n_comments = int.from_bytes(pkt[pos : pos + 4], "little")
    pos += 4
    if n_comments > len(pkt):  # cheap bound before the loop
        return None
    artist = title = None
    track = None
    comment_bytes = 0
    for _ in range(n_comments):
        if pos + 4 > len(pkt):
            return None
        clen = int.from_bytes(pkt[pos : pos + 4], "little")
        pos += 4
        if pos + clen > len(pkt):
            return None
        try:
            entry = pkt[pos : pos + clen].decode("utf-8")
        except UnicodeDecodeError:
            return None
        pos += clen
        if "=" not in entry:
            return None  # spec: field name, '=', value
        comment_bytes += clen
        key, _, val = entry.partition("=")
        key = key.upper()
        if key == "ARTIST" and artist is None:
            artist = val
        elif key == "TITLE" and title is None:
            title = val
        elif key == "TRACKNUMBER" and track is None:
            try:
                track = int(val)
            except ValueError:
                return None
            if not (-(1 << 31) <= track < (1 << 31)):
                return None  # must fit the int32 output column
    if pos + 1 != len(pkt) or pkt[pos] & 1 != 1:
        return None  # framing bit law
    return (n_pages, channels, rate, n_comments, vendor, artist, title,
            track, comment_bytes)


OGG_COMMENT_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("n_pages", IntegerType(), True),
        StructField("channels", IntegerType(), True),
        StructField("sample_rate", IntegerType(), True),
        StructField("n_comments", IntegerType(), True),
        StructField("vendor", StringType(), True),
        StructField("artist", StringType(), True),
        StructField("title", StringType(), True),
        StructField("track", IntegerType(), True),
        StructField("comment_bytes", LongType(), True),
    ]
)


def synthesize_ogg_tagged(docs: DataFrame) -> DataFrame:
    """One tagged Ogg/Vorbis stream per doc (Arrow mapInPandas)."""
    return CODECS["ogg_tagged"].synthesize(docs)


def ogg_comment_stats(with_media: DataFrame) -> DataFrame:
    """payload → comment-header census (map-only, NULL on corruption)."""
    return CODECS["ogg_tagged"].decode(with_media)


# ---------------------------------------------------------------------------
# Multi-track MP4 (r10, VERDICT r9 #7): real containers carry several
# traks (video + audio at minimum); the header walk must enumerate and
# classify them by mdia/hdlr handler type, not stop at the first tkhd.
# ---------------------------------------------------------------------------


def mp4_track_params(doc_id: int):
    """Deterministic multi-track layout: n_tracks ∈ [2,4]; even track
    indexes are video (per-track dims below), odd are audio. The SQL
    oracle restates this arithmetic."""
    timescale, duration_units, _w, _h = video_params(doc_id)
    n_tracks = doc_id % 3 + 2
    tracks = []
    for t in range(n_tracks):
        if t % 2 == 0:
            w = (doc_id * 11 + t * 64) % 1920 + 128
            h = (doc_id * 17 + t * 48) % 1080 + 128
            tracks.append(("vide", w, h))
        else:
            tracks.append(("soun", 0, 0))
    return timescale, duration_units, tracks


def build_mp4_multitrack(doc_id: int) -> bytes:
    """ftyp + moov(mvhd, trak*): every trak carries tkhd (dims for
    video, zero for audio) AND mdia(mdhd, hdlr) with the real handler
    fourcc ('vide'/'soun') — the layout every camera/ffmpeg MP4 has."""
    timescale, duration_units, tracks = mp4_track_params(doc_id)
    ftyp = _box(b"ftyp", b"isom" + (0x200).to_bytes(4, "big") + b"isomiso2")
    mvhd = _box(
        b"mvhd",
        bytes(4) + bytes(8)
        + timescale.to_bytes(4, "big")
        + duration_units.to_bytes(4, "big")
        + (0x00010000).to_bytes(4, "big")
        + (0x0100).to_bytes(2, "big")
        + bytes(2 + 8)
        + b"".join(v.to_bytes(4, "big") for v in
                   (0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000))
        + bytes(24)
        + (len(tracks) + 1).to_bytes(4, "big"),
    )
    traks = b""
    for t, (kind, w, h) in enumerate(tracks):
        volume = 0x0100 if kind == "soun" else 0
        tkhd = _box(
            b"tkhd",
            bytes(1) + b"\x00\x00\x07" + bytes(8)
            + (t + 1).to_bytes(4, "big") + bytes(4)
            + duration_units.to_bytes(4, "big") + bytes(8)
            + bytes(2 + 2) + volume.to_bytes(2, "big") + bytes(2)
            + b"".join(v.to_bytes(4, "big") for v in
                       (0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000))
            + (w << 16).to_bytes(4, "big")
            + (h << 16).to_bytes(4, "big"),
        )
        mdhd = _box(
            b"mdhd",
            bytes(4) + bytes(8)
            + timescale.to_bytes(4, "big")
            + duration_units.to_bytes(4, "big")
            + (0x55C4).to_bytes(2, "big")  # language 'und'
            + bytes(2),
        )
        hdlr = _box(
            b"hdlr",
            bytes(4) + bytes(4) + kind.encode("ascii") + bytes(12) + b"\x00",
        )
        traks += _box(b"trak", tkhd + _box(b"mdia", mdhd + hdlr))
    return ftyp + _box(b"moov", mvhd + traks)


def decode_mp4_tracks(payload: bytes):
    """Multi-track MP4 header walk → (n_tracks, n_video, n_audio,
    max_width, max_height, duration_ms) or None.

    Walks EVERY moov/trak (the single-track decode_video_real stops at
    the first), classifying by the mdia/hdlr handler fourcc; dims come
    from the video traks' tkhd 16.16 fields. Traks with no hdlr or a
    foreign handler reject the container (a crawl treats those as
    corrupt/out-of-scope). Truncated boxes reject to None, never
    raise."""
    if payload is None:
        return None
    b = bytes(payload)
    if len(b) < 16 or b[4:8] != b"ftyp":
        return None
    timescale = duration = None
    n_video = n_audio = n_tracks = 0
    max_w = max_h = 0
    for fourcc, s, e in _walk_boxes(b, 0, len(b)):
        if fourcc != b"moov":
            continue
        for f2, s2, e2 in _walk_boxes(b, s, e):
            if f2 == b"mvhd" and e2 - s2 >= 100 and b[s2] == 0:
                timescale = int.from_bytes(b[s2 + 12 : s2 + 16], "big")
                duration = int.from_bytes(b[s2 + 16 : s2 + 20], "big")
            elif f2 == b"trak":
                n_tracks += 1
                w = h = 0
                handler = None
                for f3, s3, e3 in _walk_boxes(b, s2, e2):
                    # version-1 tkhd (64-bit times, +12 bytes — long
                    # recordings) keeps w/h at the same TAIL offsets;
                    # accepting only v0 reported 0x0 dims for real v1
                    # video traks (review r10)
                    if f3 == b"tkhd" and (
                        (b[s3] == 0 and e3 - s3 >= 84)
                        or (b[s3] == 1 and e3 - s3 >= 96)
                    ):
                        w = int.from_bytes(b[e3 - 8 : e3 - 4], "big") >> 16
                        h = int.from_bytes(b[e3 - 4 : e3], "big") >> 16
                    elif f3 == b"mdia":
                        for f4, s4, e4 in _walk_boxes(b, s3, e3):
                            if f4 == b"hdlr" and e4 - s4 >= 12:
                                handler = b[s4 + 8 : s4 + 12]
                if handler == b"vide":
                    n_video += 1
                    max_w = max(max_w, w)
                    max_h = max(max_h, h)
                elif handler == b"soun":
                    n_audio += 1
                else:
                    return None  # missing/foreign handler: out of scope
    if not timescale or duration is None or n_tracks == 0:
        return None
    return (
        n_tracks,
        n_video,
        n_audio,
        max_w,
        max_h,
        duration * 1000.0 / timescale,
    )


MP4_TRACKS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("n_tracks", IntegerType(), True),
        StructField("n_video", IntegerType(), True),
        StructField("n_audio", IntegerType(), True),
        StructField("max_width", IntegerType(), True),
        StructField("max_height", IntegerType(), True),
        StructField("duration_ms", DoubleType(), True),
    ]
)


def synthesize_mp4_multitrack(docs: DataFrame) -> DataFrame:
    """One real-layout multi-track MP4 header per doc (Arrow
    mapInPandas)."""
    return CODECS["mp4_multitrack"].synthesize(docs)


def mp4_track_stats(with_media: DataFrame) -> DataFrame:
    """payload → per-container track census (map-only, NULL on
    corruption)."""
    return CODECS["mp4_multitrack"].decode(with_media)


AHASH_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("ahash_hi", LongType(), True),
        StructField("ahash_lo", LongType(), True),
        StructField("n_bits", IntegerType(), True),
    ]
)


def png_ahash(with_media: DataFrame) -> DataFrame:
    """payload → 64-bit perceptual average-hash via the full PNG decode
    path (map-only, NULL on corruption)."""
    return CODECS["png_ahash"].decode(with_media)


RESIZE_GRID = 4  # thumbnail target: 4x4 cells per image

RESIZE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("gy", IntegerType(), True),
        StructField("gx", IntegerType(), True),
        StructField("n_px", LongType(), True),
        StructField("mean_r", LongType(), True),
        StructField("mean_g", LongType(), True),
        StructField("mean_b", LongType(), True),
    ]
)


def decode_png_resize(payload: bytes, grid: int = RESIZE_GRID):
    """Box-filter resize of the decoded PNG onto a ``grid``×``grid``
    thumbnail: pixel (x, y) pools into cell ((x*grid)//w, (y*grid)//h)
    — the same exact unequal-cell assignment the ahash uses — and each
    cell's per-channel mean is the truncating integer division
    sum DIV count, so no float ever appears and the values are
    engine-exact. Returns [(gy, gx, n_px, mean_r, mean_g, mean_b)] in
    raster order, or None on structural damage."""
    dec = _decode_png_rows(payload)
    if dec is None:
        return None
    w, h, rows = dec
    sums = [[[0, 0, 0, 0] for _ in range(grid)] for _ in range(grid)]
    for y, line in enumerate(rows):
        gy = (y * grid) // h
        row = sums[gy]
        for x in range(w):
            cell = row[(x * grid) // w]
            i = 3 * x
            cell[0] += line[i]
            cell[1] += line[i + 1]
            cell[2] += line[i + 2]
            cell[3] += 1
    out = []
    for gy in range(grid):
        for gx in range(grid):
            sr, sg, sb, n = sums[gy][gx]
            out.append((gy, gx, n, sr // n, sg // n, sb // n))
    return out


def png_resize(with_media: DataFrame, grid: int = RESIZE_GRID) -> DataFrame:
    """payload → exploded grid×grid thumbnail cells via the full PNG
    decode path (Arrow mapInPandas, map-only; a corrupt container
    becomes one NULL-cells row, never a stage failure)."""
    codec = CODECS["png_resize"]
    return _decode_df(with_media, partial(codec.row, grid=grid), codec.schema)


def synthesize_png_pixels(docs: DataFrame) -> DataFrame:
    """One real truecolor PNG per doc (Arrow mapInPandas, map-only)."""
    return CODECS["png_pixels"].synthesize(docs)


def synthesize_png_pixels_interlaced(docs: DataFrame) -> DataFrame:
    """One real Adam7-interlaced PNG per doc (Arrow mapInPandas)."""
    return CODECS["png_pixels_interlaced"].synthesize(docs)


def pixel_stats(with_media: DataFrame) -> DataFrame:
    """payload → per-channel pixel means via the full decode path.

    Map-only like decode_media: payload bytes live inside the stage,
    only (doc_id, dims, 3 doubles) survive. At 100 TB this is the shape
    image curation needs — pixel statistics without moving pixels."""
    return CODECS["png_pixels"].decode(with_media)


# ---------------------------------------------------------------------------
# REAL pixel decode, part 2: GIF (LZW) — also stdlib-only.
#
# GIF's image data is LZW with variable-width codes (9→12 bits, LSB-first
# bit packing, CLEAR/END control codes, dictionary reset at 4096) — the
# public GIF89a specification. A real encoder AND decoder below: the
# encoder grows the dictionary exactly as the spec says, so the decoder's
# growth path (including the deferred "code == next expected entry" case)
# is genuinely exercised. Palette entry i is (i, (i*2)%256, (i*3)%256)
# and pixel indices are a pure function of (doc_id, x, y), so channel
# means are oracle-expressible arithmetically, like the PNG path.
# ---------------------------------------------------------------------------

_GIF_MIN_CODE = 8  # 256-entry palette
_GIF_CLEAR = 1 << _GIF_MIN_CODE          # 256
_GIF_END = _GIF_CLEAR + 1                # 257


def gif_pixel_index(doc_id: int, x: int, y: int) -> int:
    return (doc_id * 5 + x * 7 + y * 11) % 256


def gif_palette_rgb(idx: int) -> tuple[int, int, int]:
    return idx, (idx * 2) % 256, (idx * 3) % 256


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, width: int) -> None:
        self.acc |= code << self.nbits
        self.nbits += width
        while self.nbits >= 8:
            self.out.append(self.acc & 0xFF)
            self.acc >>= 8
            self.nbits -= 8

    def flush(self) -> bytes:
        if self.nbits:
            self.out.append(self.acc & 0xFF)
        return bytes(self.out)


def _lzw_encode(indices: bytes) -> bytes:
    """GIF-variant LZW: variable width, CLEAR first, reset at 4096."""
    bw = _BitWriter()
    width = _GIF_MIN_CODE + 1
    bw.write(_GIF_CLEAR, width)
    # (prefix_code, byte) int keys — same bit-identical bijection as the
    # TIFF encoder (_tiff_lzw_encode): no O(match) key concatenation
    table: dict[tuple[int, int], int] = {}
    next_code = _GIF_END + 1
    w = -1
    for ch in indices:
        if w < 0:
            w = ch
            continue
        cur = table.get((w, ch))
        if cur is not None:
            w = cur
            continue
        bw.write(w, width)
        table[(w, ch)] = next_code
        next_code += 1
        if next_code == (1 << width) + 1 and width < 12:
            # GIF encoders bump the width when the NEXT emitted code
            # could be next_code-1 (the new largest); the +1 offset
            # matches the decoder's "first code at the new width" view
            width += 1
        if next_code >= 4096:
            bw.write(_GIF_CLEAR, width)
            table = {}
            next_code = _GIF_END + 1
            width = _GIF_MIN_CODE + 1
        w = ch
    if w >= 0:
        bw.write(w, width)
    bw.write(_GIF_END, width)
    return bw.flush()


def _lzw_decode(data: bytes, n_expected: int,
                min_code: int = _GIF_MIN_CODE):
    """Inverse: returns the index stream or None on structural damage.
    ``min_code`` is the stream's LZW minimum code size (GIF spec §22 —
    palette-bits for real encoders, pinned 8 by this repo's builders)."""
    clear = 1 << min_code
    end = clear + 1
    width = min_code + 1
    table: list[bytes] = (
        _LZW_TABLE_BASE.copy() if clear == 256
        else [bytes([i]) for i in range(clear)] + [b"", b""]
    )
    out = bytearray()
    acc = nbits = pos = 0
    prev: bytes | None = None
    while True:
        while nbits < width:
            if pos >= len(data):
                return None  # ran out before END
            acc |= data[pos] << nbits
            nbits += 8
            pos += 1
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        if code == clear:
            table = (
                _LZW_TABLE_BASE.copy() if clear == 256
                else [bytes([i]) for i in range(clear)] + [b"", b""]
            )
            width = min_code + 1
            prev = None
            continue
        if code == end:
            break
        if prev is None:
            if code >= len(table):
                return None
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            table.append(prev + entry[:1])
        elif code == len(table):
            entry = prev + prev[:1]  # the KwKwK case
            table.append(entry)
        else:
            return None
        out += entry
        prev = entry
        if len(table) == (1 << width) and width < 12:
            width += 1
        if len(out) > n_expected:
            return None
    if len(out) != n_expected:
        return None
    return bytes(out)


def build_gif_pixels(doc_id: int) -> bytes:
    """A REAL GIF89a: 256-color global palette + LZW-compressed indices."""
    w, h = pixel_dims(doc_id)
    palette = b"".join(bytes(gif_palette_rgb(i)) for i in range(256))
    indices = bytes(
        gif_pixel_index(doc_id, x, y) for y in range(h) for x in range(w)
    )
    lzw = _lzw_encode(indices)
    blocks = bytearray()
    for i in range(0, len(lzw), 255):
        chunk = lzw[i : i + 255]
        blocks.append(len(chunk))
        blocks += chunk
    blocks.append(0)
    return (
        b"GIF89a"
        + w.to_bytes(2, "little")
        + h.to_bytes(2, "little")
        + bytes([0xF7, 0, 0])  # GCT present, 8-bit, 256 entries
        + palette
        + b"\x2c"
        + bytes(4)  # image at (0,0)
        + w.to_bytes(2, "little")
        + h.to_bytes(2, "little")
        + b"\x00"  # no local table, not interlaced
        + bytes([_GIF_MIN_CODE])
        + bytes(blocks)
        + b"\x3b"
    )


# GIF interlace passes (GIF89a appendix E): (row start, row step)
_GIF_INTERLACE = ((0, 8), (4, 8), (2, 4), (1, 2))


def _decode_gif_core(payload: bytes, allow_interlace: bool = False):
    """GIF parse core: header walk → palette → LZW inflate → ROW-MAJOR
    index stream (de-interlacing the 4-pass row order when the image
    descriptor sets the interlace flag). Returns (w, h, palette,
    indices) or None on structural damage."""
    b = payload
    if b is None or len(b) < 13 or b[:6] not in (b"GIF89a", b"GIF87a"):
        return None
    w = int.from_bytes(b[6:8], "little")
    h = int.from_bytes(b[8:10], "little")
    if w * h * 3 > _MAX_DECODED_BYTES:
        # declared-geometry allocation ceiling (r11) — ×3 like the RGB
        # decoders: the interlaced path holds the index stream AND the
        # row-major de-interlace copy at once, so the pixel-count cap
        # alone would admit ~2× the ceiling in peak allocation
        return None
    flags = b[10]
    if not flags & 0x80:
        return None  # need a global color table
    gct_n = 2 << (flags & 0x07)
    pos = 13
    palette = b[pos : pos + 3 * gct_n]
    if len(palette) < 3 * gct_n:
        return None
    pos += 3 * gct_n
    # skip extension blocks (GCE / comment / application — real encoders
    # routinely emit these before the image descriptor)
    while pos + 1 < len(b) and b[pos] == 0x21:
        pos += 2
        while pos < len(b) and b[pos] != 0:
            pos += b[pos] + 1
        pos += 1  # block terminator
    # the full 10-byte image descriptor must be present — a stream
    # truncated inside it is damage, not a short image (fuzz-found:
    # b[pos+9] raised IndexError on a cut after the extension skip)
    if pos + 10 > len(b) or b[pos] != 0x2C:
        return None
    iw = int.from_bytes(b[pos + 5 : pos + 7], "little")
    ih = int.from_bytes(b[pos + 7 : pos + 9], "little")
    interlaced = bool(b[pos + 9] & 0x40)
    if (iw, ih) != (w, h) or b[pos + 9] & 0x80:
        return None
    if interlaced and not allow_interlace:
        return None
    pos += 10
    # LZW minimum code size: palette-bits for real encoders (2..8)
    if pos >= len(b) or not (2 <= b[pos] <= 8):
        return None
    min_code = b[pos]
    pos += 1
    lzw = bytearray()
    while pos < len(b):
        n = b[pos]
        pos += 1
        if n == 0:
            break
        lzw += b[pos : pos + n]
        if len(b[pos : pos + n]) < n:
            return None
        pos += n
    indices = _lzw_decode(bytes(lzw), w * h, min_code)
    if indices is None:
        return None
    if indices and max(indices) >= gct_n:
        return None  # index stream references beyond the declared palette
    if interlaced:
        rowmajor = bytearray(w * h)
        src = 0
        for start, step in _GIF_INTERLACE:
            for y in range(start, h, step):
                rowmajor[y * w : (y + 1) * w] = indices[src : src + w]
                src += w
        indices = bytes(rowmajor)
    return w, h, palette, indices


def decode_gif_pixels(payload: bytes):
    """Full GIF pixel decode: header walk → palette → LZW inflate →
    per-channel sums through the palette (interlaced streams welcome —
    channel sums are row-order-independent). None on any structural
    damage."""
    dec = _decode_gif_core(payload, allow_interlace=True)
    if dec is None:
        return None
    w, h, palette, indices = dec
    sums = [0, 0, 0]
    for idx in indices:
        sums[0] += palette[3 * idx]
        sums[1] += palette[3 * idx + 1]
        sums[2] += palette[3 * idx + 2]
    return w, h, sums[0], sums[1], sums[2]


def decode_gif_interlaced_stats(payload: bytes):
    """Interlaced-GIF decode → (w, h, sum_r, sum_g, sum_b, poshash)
    where poshash = Σ (y*w + x + 1) * palette_index over the
    DE-INTERLACED row-major grid — channel sums are order-independent,
    so only a position-weighted statistic proves the 4-pass row
    reordering is correct. None on damage."""
    dec = _decode_gif_core(payload, allow_interlace=True)
    if dec is None:
        return None
    w, h, palette, indices = dec
    sums = [0, 0, 0]
    poshash = 0
    for i, idx in enumerate(indices):
        sums[0] += palette[3 * idx]
        sums[1] += palette[3 * idx + 1]
        sums[2] += palette[3 * idx + 2]
        poshash += (i + 1) * idx
    return w, h, sums[0], sums[1], sums[2], poshash


def build_gif_pixels_interlaced(doc_id: int) -> bytes:
    """A REAL interlaced GIF89a of the same pixel content as
    build_gif_pixels: the index stream is emitted in the 4-pass
    interlace row order (rows 0,8,.. then 4,12,.. then 2,6,.. then the
    odd rows) and the image descriptor sets the interlace flag."""
    w, h = pixel_dims(doc_id)
    palette = b"".join(bytes(gif_palette_rgb(i)) for i in range(256))
    order = [y for start, step in _GIF_INTERLACE for y in range(start, h, step)]
    indices = bytes(
        gif_pixel_index(doc_id, x, y) for y in order for x in range(w)
    )
    lzw = _lzw_encode(indices)
    blocks = bytearray()
    for i in range(0, len(lzw), 255):
        chunk = lzw[i : i + 255]
        blocks.append(len(chunk))
        blocks += chunk
    blocks.append(0)
    return (
        b"GIF89a"
        + w.to_bytes(2, "little")
        + h.to_bytes(2, "little")
        + bytes([0xF7, 0, 0])
        + palette
        + b"\x2c"
        + bytes(4)
        + w.to_bytes(2, "little")
        + h.to_bytes(2, "little")
        + b"\x40"  # no local table, INTERLACED
        + bytes([_GIF_MIN_CODE])
        + bytes(blocks)
        + b"\x3b"
    )


# ---------------------------------------------------------------------------
# TIFF (TIFF 6.0) IFD metadata walk — the fourth image container tier,
# and the one where byte order is part of the format: both 'II'
# (little-endian) and 'MM' (big-endian) files carry the same logical
# IFD structure, so the walker must thread endianness through every
# read. Header tier only (like PNG metadata / MP3 frames).
# ---------------------------------------------------------------------------

_TIFF_TAGS = {256: "width", 257: "height", 258: "bits", 262: "photometric"}


def tiff_params(doc_id: int) -> tuple[str, int, int, int, int]:
    """(byteorder, width, height, bits, photometric) — the corpus
    alternates endianness so both walks stay exercised."""
    bo = "II" if doc_id % 2 == 0 else "MM"
    w = (doc_id * 7) % 48 + 8
    h = (doc_id * 13) % 32 + 8
    bits = 8 if doc_id % 3 else 16
    photometric = doc_id % 2  # 0 = WhiteIsZero, 1 = BlackIsZero
    return bo, w, h, bits, photometric


def build_tiff(doc_id: int) -> bytes:
    """A real-layout TIFF 6.0: byte-order mark, magic 42, one IFD with
    SHORT-typed width/height/bits/photometric entries (values packed in
    the inline 4-byte slot, left-justified per spec for SHORTs)."""
    bo, w, h, bits, photometric = tiff_params(doc_id)
    end = "little" if bo == "II" else "big"

    def u16(v):
        return v.to_bytes(2, end)

    def u32(v):
        return v.to_bytes(4, end)

    entries = []
    for tag, val in ((256, w), (257, h), (258, bits), (262, photometric)):
        # tag, type 3 (SHORT), count 1, value left-justified in 4 bytes
        entries.append(u16(tag) + u16(3) + u32(1) + u16(val) + u16(0))
    ifd = u16(len(entries)) + b"".join(entries) + u32(0)
    header = bo.encode() + u16(42) + u32(8)
    return header + ifd


def decode_tiff_metadata(payload: bytes):
    """TIFF walk → (byteorder, width, height, bits, photometric) or
    None: byte-order mark gates endianness, magic must be 42, the IFD
    offset is followed, SHORT/LONG entry values are read inline with
    the declared endianness; truncation or unknown order rejects."""
    b = payload
    if b is None or len(b) < 8:
        return None
    bo = b[:2]
    if bo == b"II":
        end = "little"
    elif bo == b"MM":
        end = "big"
    else:
        return None
    if int.from_bytes(b[2:4], end) != 42:
        return None
    off = int.from_bytes(b[4:8], end)
    if off + 2 > len(b):
        return None
    n = int.from_bytes(b[off : off + 2], end)
    pos = off + 2
    if pos + 12 * n + 4 > len(b):
        return None
    got: dict[str, int] = {}
    for _ in range(n):
        tag = int.from_bytes(b[pos : pos + 2], end)
        typ = int.from_bytes(b[pos + 2 : pos + 4], end)
        cnt = int.from_bytes(b[pos + 4 : pos + 8], end)
        if tag in _TIFF_TAGS:
            if typ == 3 and cnt == 1:  # SHORT, left-justified inline
                val = int.from_bytes(b[pos + 8 : pos + 10], end)
            elif typ == 4 and cnt == 1:  # LONG
                val = int.from_bytes(b[pos + 8 : pos + 12], end)
            elif typ == 3 and 2 <= cnt <= 4:
                # short arrays (bits-per-sample for multi-channel): ≤2
                # values sit inline, longer arrays behind an offset;
                # report the first (uniform for 8-bit-per-channel files)
                if cnt <= 2:
                    base = pos + 8
                else:
                    base = int.from_bytes(b[pos + 8 : pos + 12], end)
                if base + 2 * cnt > len(b):
                    return None
                val = int.from_bytes(b[base : base + 2], end)
            else:
                return None
            got[_TIFF_TAGS[tag]] = val
        pos += 12
    if set(got) != set(_TIFF_TAGS.values()):
        return None
    return bo.decode(), got["width"], got["height"], got["bits"], \
        got["photometric"]


TIFF_META_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("byteorder", StringType(), True),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("bits", IntegerType(), True),
        StructField("photometric", IntegerType(), True),
    ]
)


def synthesize_tiff(docs: DataFrame) -> DataFrame:
    """One real-layout TIFF per doc (Arrow mapInPandas)."""
    return CODECS["tiff"].synthesize(docs)


def tiff_metadata(with_media: DataFrame) -> DataFrame:
    """payload → IFD metadata (map-only, NULL on corruption)."""
    return CODECS["tiff"].decode(with_media)


# ---------------------------------------------------------------------------
# TIFF pixel decode (r10): the one image format whose coverage stopped at
# the metadata walk. Baseline TIFF 6.0 subset — 8-bit grayscale
# (photometric 1) and RGB (photometric 2), chunky planar config, multi-
# strip layout via StripOffsets/StripByteCounts (SHORT or LONG arrays),
# compression 1 (none) and 5 (TIFF-LZW: MSB-first variable-width codes
# with the early-change rule — a DIFFERENT dialect from the GIF LZW the
# engine already decodes: bit order reversed, width bumps one code
# early). Everything else rejects to None.
# ---------------------------------------------------------------------------

_TIFF_CLEAR = 256
_TIFF_EOI = 257

# immutable singletons shared by every reset/strip: rebuilding the
# 256-literal table per CLEAR code (and the encoder's dict per strip)
# was ~20% of the TIFF decode profile and ~half the encode
_LZW_TABLE_BASE = [bytes([i]) for i in range(256)] + [b"", b""]
_LZW_DICT_BASE = {bytes([i]): i for i in range(256)}


def _tiff_lzw_decode(data: bytes, max_out: int):
    """TIFF 6.0 §13 LZW: 8-bit symbols, codes MSB-first starting at 9
    bits, ClearCode 256 / EOI 257, code width bumps EARLY (when the
    next table entry would be 511/1023/2047). Output capped at
    ``max_out`` (the strip's declared decoded size) — oversized streams
    reject (the zip-bomb rule)."""
    out = bytearray()
    bitbuf = bitlen = 0
    width = 9
    table: list[bytes] = []
    prev: bytes | None = None

    def reset():
        nonlocal table, width, prev
        table = _LZW_TABLE_BASE.copy()  # entries are immutable bytes
        width = 9
        prev = None

    reset()
    pos = 0
    n = len(data)
    while True:
        while bitlen < width:
            if pos >= n:
                return None  # ran out before EOI
            bitbuf = (bitbuf << 8) | data[pos]
            pos += 1
            bitlen += 8
        code = (bitbuf >> (bitlen - width)) & ((1 << width) - 1)
        bitlen -= width
        if code == _TIFF_EOI:
            break
        if code == _TIFF_CLEAR:
            reset()
            continue
        if prev is None:
            if code >= 256:
                return None  # first code after clear must be literal
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            table.append(prev + entry[:1])
        elif code == len(table):
            entry = prev + prev[:1]
            table.append(entry)
        else:
            return None  # code beyond table: corrupt
        out += entry
        if len(out) > max_out:
            return None  # exceeds declared strip size
        prev = entry
        # EARLY CHANGE: width bumps when the NEXT entry would need it
        if len(table) + 1 >= (1 << width) and width < 12:
            width += 1
    return bytes(out)


def _tiff_lzw_encode(data: bytes) -> bytes:
    """TIFF 6.0 §13 LZW encoder (the from-spec builder's compressor):
    mirrors _tiff_lzw_decode exactly — MSB-first, early change."""
    out = bytearray()
    bitbuf = bitlen = 0

    def put(code: int, width: int):
        nonlocal bitbuf, bitlen
        bitbuf = (bitbuf << width) | code
        bitlen += width
        while bitlen >= 8:
            out.append((bitbuf >> (bitlen - 8)) & 0xFF)
            bitlen -= 8

    # (prefix_code, byte) int keys instead of byte-string keys: every
    # table entry's string is its prefix entry plus one byte, so the
    # mapping is a bijection and the emitted code sequence is
    # BIT-IDENTICAL (verified against the string form across raster,
    # random, constant and table-clearing inputs) — but the encoder no
    # longer concatenates an O(match) key per input byte, which is the
    # r16 cost cut on long-match (well-compressing) data.
    table: dict[tuple[int, int], int] = {}
    next_code = 258
    width = 9
    put(_TIFF_CLEAR, width)
    prev = -1  # current match, as the code that represents it
    for byte in data:
        if prev < 0:
            prev = byte  # literal codes are the byte values
            continue
        cur = table.get((prev, byte))
        if cur is not None:
            prev = cur
            continue
        put(prev, width)
        table[(prev, byte)] = next_code
        next_code += 1
        # the encoder bumps width when the NEXT code to emit could be
        # next_code - 1; early change = bump at 511/1023/2047
        if next_code + 1 > (1 << width) and width < 12:
            width += 1
        if next_code >= 4094:  # table nearly full: clear (spec practice)
            put(_TIFF_CLEAR, width)
            table = {}
            next_code = 258
            width = 9
        prev = byte
    if prev >= 0:
        put(prev, width)
    put(_TIFF_EOI, width)
    if bitlen:
        out.append((bitbuf << (8 - bitlen)) & 0xFF)
    return bytes(out)


def _packbits_decode(data: bytes, max_out: int):
    """TIFF 6.0 §9 PackBits (the Macintosh RLE every fax/scan pipeline
    still emits): control byte n — 0..127 ⇒ copy the next n+1 literal
    bytes, -127..-1 (129..255 two's complement) ⇒ repeat the next byte
    1-n times, -128 (128) ⇒ no-op. Output capped at ``max_out`` (the
    strip's declared decoded size) — oversized or truncated streams
    reject (the bounded-inflate rule)."""
    out = bytearray()
    pos = 0
    n = len(data)
    while pos < n:
        c = data[pos]
        pos += 1
        if c == 128:
            continue
        if c < 128:
            run = c + 1
            if pos + run > n or len(out) + run > max_out:
                return None
            out += data[pos : pos + run]
            pos += run
        else:
            run = 257 - c  # 1 - (c - 256)
            if pos >= n or len(out) + run > max_out:
                return None
            out += bytes([data[pos]]) * run
            pos += 1
    return bytes(out)


def _packbits_encode(data: bytes) -> bytes:
    """TIFF 6.0 §9 PackBits encoder mirroring _packbits_decode: runs of
    ≥3 identical bytes become repeat packets (≤128 per packet), the
    rest literal packets (≤128 per packet)."""
    out = bytearray()
    i = 0
    n = len(data)
    while i < n:
        # measure the run at i
        j = i + 1
        while j < n and data[j] == data[i] and j - i < 128:
            j += 1
        if j - i >= 3:
            out.append(257 - (j - i))
            out.append(data[i])
            i = j
            continue
        # literal stretch: until the next ≥3-run or 128 bytes
        lit = i
        while lit < n and lit - i < 128:
            if lit + 2 < n and data[lit] == data[lit + 1] == data[lit + 2]:
                break
            lit += 1
        out.append(lit - i - 1)
        out += data[i:lit]
        i = lit
    return bytes(out)


def _tiff_ifd_values(b: bytes, end: str, pos: int, typ: int, cnt: int):
    """All values of a SHORT(3)/LONG(4) IFD entry (inline or offset)."""
    size = 2 if typ == 3 else 4
    if typ not in (3, 4) or cnt == 0:
        # TIFF 6.0: Count ≥ 1 — a zero-count entry is structural damage
        # (r11 fuzz find: an empty value list crashed the tag reads)
        return None
    total = size * cnt
    if total <= 4:
        base = pos + 8
    else:
        base = int.from_bytes(b[pos + 8 : pos + 12], end)
    if base + total > len(b):
        return None
    return [
        int.from_bytes(b[base + i * size : base + (i + 1) * size], end)
        for i in range(cnt)
    ]


def decode_tiff_pixels(payload: bytes):
    """Baseline TIFF pixel decode → (w, h, [row bytes as RGB triplets])
    or None.

    Subset: 8-bit samples, photometric 1 (gray, expanded to RGB like
    the PNG gray path) or 2 (RGB), compression 1 (none), 5 (TIFF-LZW)
    or 32773 (PackBits — r11), strips only (no tiles), either byte
    order (II little / MM big — both real: Intel scanners write II,
    classic Mac/Adobe tooling MM), and PlanarConfiguration 1 (chunky)
    or 2 (r11, separate component planes: SamplesPerPixel × strips-per-
    plane strip arrays, plane-major order per TIFF 6.0 §Planar). Strip
    sizes are validated against the declared geometry before any
    decompression (the bounded-inflate rule); structural damage, other
    photometrics/compressions/bit depths reject to None, never raise."""
    b = payload
    if b is None or len(b) < 8:
        return None
    bo = b[:2]
    if bo == b"II":
        end = "little"
    elif bo == b"MM":
        end = "big"
    else:
        return None
    if int.from_bytes(b[2:4], end) != 42:
        return None
    off = int.from_bytes(b[4:8], end)
    if off + 2 > len(b):
        return None
    n = int.from_bytes(b[off : off + 2], end)
    pos = off + 2
    if pos + 12 * n + 4 > len(b):
        return None
    tags: dict[int, list[int]] = {}
    for _ in range(n):
        tag = int.from_bytes(b[pos : pos + 2], end)
        typ = int.from_bytes(b[pos + 2 : pos + 4], end)
        cnt = int.from_bytes(b[pos + 4 : pos + 8], end)
        if tag in (256, 257, 258, 259, 262, 273, 277, 278, 279, 284) \
                and typ in (3, 4):
            vals = _tiff_ifd_values(b, end, pos, typ, cnt)
            if vals is None:
                return None
            tags[tag] = vals
        pos += 12
    try:
        w, h = tags[256][0], tags[257][0]
        comp = tags[259][0]
        photo = tags[262][0]
        offsets = tags[273]
        counts = tags[279]
    except KeyError:
        return None
    spp = tags.get(277, [1])[0]
    bits = tags.get(258, [8])
    rps = tags.get(278, [h])[0]
    planar = tags.get(284, [1])[0]
    if w == 0 or h == 0 or rps == 0:
        return None
    if comp not in (1, 5, 32773) or any(v != 8 for v in bits):
        return None
    if photo == 1 and spp == 1:
        ch = 1
    elif photo == 2 and spp == 3:
        ch = 3
    else:
        return None
    if planar not in (1, 2):
        return None
    if planar == 2 and ch == 1:
        planar = 1  # spec: planar configuration is meaningless at spp=1
    if w * h * 3 > _MAX_DECODED_BYTES:
        # declared-geometry allocation ceiling (r11): TIFF dims are LONG
        # tags, and LZW's worst-case expansion (~4096× per code) means a
        # huge declared strip lets a small crafted stream chew gigabytes
        # before the per-strip want-cap trips — reject before decoding
        return None
    strips_per_plane = (h + rps - 1) // rps
    n_planes = ch if planar == 2 else 1
    n_strips = strips_per_plane * n_planes
    if len(offsets) != n_strips or len(counts) != n_strips:
        return None
    samples_per_px = 1 if planar == 2 else ch

    def _strip(si: int, want: int):
        so, sc = offsets[si], counts[si]
        if so + sc > len(b):
            return None
        strip = b[so : so + sc]
        if comp == 1:
            return strip if sc == want else None
        dec = (
            _tiff_lzw_decode(strip, want)
            if comp == 5
            else _packbits_decode(strip, want)
        )
        return dec if dec is not None and len(dec) == want else None

    planes = []
    for pl in range(n_planes):
        raw = bytearray()
        for sj in range(strips_per_plane):
            rows_here = min(rps, h - sj * rps)
            want = rows_here * w * samples_per_px
            dec = _strip(pl * strips_per_plane + sj, want)
            if dec is None:
                return None
            raw += dec
        planes.append(raw)
    if planar == 2:
        # interleave the three component planes back to chunky
        raw = bytearray(w * h * 3)
        for c in range(3):
            raw[c::3] = planes[c]
    else:
        raw = planes[0]
    stride = w * ch
    rows = []
    for y in range(h):
        line = raw[y * stride : (y + 1) * stride]
        if ch == 3:
            rows.append(bytes(line))
        else:
            out = bytearray(w * 3)
            for i, g in enumerate(line):
                out[3 * i] = out[3 * i + 1] = out[3 * i + 2] = g
            rows.append(bytes(out))
    return w, h, rows


def build_tiff_pixels(
    doc_id: int,
    compression: int = 1,
    rows_per_strip: int = 4,
    endian: str = "little",
    planar: int = 1,
) -> bytes:
    """A REAL multi-strip RGB TIFF of the shared pixel_value grid (the
    same pattern the PNG/GIF/JPEG builders plant, so cross-format
    consistency is checkable): 8-bit, photometric 2, StripOffsets/
    StripByteCounts LONG arrays. Dialect axes (r11 widened the zoo per
    VERDICT r10 #7): ``endian`` 'little' (II, Intel) or 'big' (MM, the
    classic Mac/Adobe order — every multi-byte IFD and value field byte-
    swaps); ``compression`` 1 raw, 5 TIFF-LZW (MSB-first early-change),
    32773 PackBits; ``planar`` 1 chunky RGBRGB strips or 2 separate
    component planes (plane-major strip order, spp× the strip count)."""
    w, h = pixel_dims(doc_id)
    end = endian

    def u16(v):
        return v.to_bytes(2, end)

    def u32(v):
        return v.to_bytes(4, end)

    def pack(raw: bytes) -> bytes:
        if compression == 1:
            return raw
        if compression == 5:
            return _tiff_lzw_encode(raw)
        return _packbits_encode(raw)

    strips = []
    if planar == 1:
        for y0 in range(0, h, rows_per_strip):
            rows_here = min(rows_per_strip, h - y0)
            strips.append(pack(_pixel_raster(doc_id, w, y0, rows_here)))
    else:
        for c in range(3):  # plane-major: all strips of channel c first
            for y0 in range(0, h, rows_per_strip):
                rows_here = min(rows_per_strip, h - y0)
                strips.append(
                    pack(_pixel_raster(doc_id, w, y0, rows_here, channel=c))
                )
    n_strips = len(strips)

    def entry(tag, typ, cnt, val4):
        return u16(tag) + u16(typ) + u32(cnt) + val4

    # layout: header(8) + IFD + [bits array][offsets][counts] + strips
    n_entries = 10
    ifd_size = 2 + 12 * n_entries + 4
    bits_off = 8 + ifd_size
    so_off = bits_off + 6
    sc_off = so_off + 4 * n_strips
    data_off = sc_off + 4 * n_strips
    offsets = []
    cur = data_off
    for s in strips:
        offsets.append(cur)
        cur += len(s)
    entries = [
        entry(256, 3, 1, u16(w) + u16(0)),
        entry(257, 3, 1, u16(h) + u16(0)),
        entry(258, 3, 3, u32(bits_off)),
        entry(259, 3, 1, u16(compression) + u16(0)),
        entry(262, 3, 1, u16(2) + u16(0)),
        entry(
            273, 4, n_strips,
            u32(so_off) if n_strips > 1 else u32(offsets[0]),
        ),
        entry(277, 3, 1, u16(3) + u16(0)),
        entry(278, 3, 1, u16(rows_per_strip) + u16(0)),
        entry(
            279, 4, n_strips,
            u32(sc_off) if n_strips > 1 else u32(len(strips[0])),
        ),
        entry(284, 3, 1, u16(planar) + u16(0)),
    ]
    out = bytearray()
    out += (b"II" if end == "little" else b"MM") + u16(42) + u32(8)
    out += u16(n_entries) + b"".join(entries) + u32(0)
    out += u16(8) * 3  # bits-per-sample array (8,8,8)
    if n_strips > 1:
        out += b"".join(u32(o) for o in offsets)
        out += b"".join(u32(len(s)) for s in strips)
    else:
        # inline offset/count already point at data_off; keep the
        # reserved slots so the layout arithmetic above stays fixed
        out += u32(offsets[0]) + u32(len(strips[0]))
    for s in strips:
        out += s
    return bytes(out)


TIFF_PIXEL_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("sum_r", LongType(), True),
        StructField("sum_g", LongType(), True),
        StructField("sum_b", LongType(), True),
    ]
)


def synthesize_tiff_pixels(docs: DataFrame, compression: int = 5) -> DataFrame:
    """One real multi-strip RGB TIFF per doc (Arrow mapInPandas);
    compression 5 = TIFF-LZW (the default — the codec worth gating),
    1 = raw strips."""
    return _synth_df(docs, partial(build_tiff_pixels, compression=compression))


_TIFF_VARIANTS = (
    # (compression, endian, planar) — one dialect per doc_id % 6,
    # jointly covering both byte orders × all three codecs × both
    # planar configurations (r11, VERDICT r10 #7)
    (5, "big", 1),        # MM byte order, LZW strips
    (32773, "little", 1),  # PackBits
    (1, "little", 2),      # planar component planes, raw
    (32773, "big", 2),     # MM + PackBits + planar
    (5, "little", 2),      # LZW + planar
    (1, "big", 1),         # MM, raw
)


def synthesize_tiff_variants(docs: DataFrame) -> DataFrame:
    """One real RGB TIFF per doc cycling through the dialect zoo
    (_TIFF_VARIANTS by doc_id % 6): II/MM byte order, raw/LZW/PackBits
    strips, chunky/planar layout. Same planted pixel grid as every
    other image builder, so the decoded sums are dialect-invariant."""
    return CODECS["tiff_variants"].synthesize(docs)


def tiff_pixel_stats(with_media: DataFrame) -> DataFrame:
    """payload → exact per-channel integer pixel sums through the full
    TIFF decode path (strip walk, LZW, gray→RGB expansion). All-integer
    output (the r9 rule: integer sums cannot hit cross-engine rounding
    ties). Map-only, NULL on corruption."""
    return CODECS["tiff_pixels"].decode(with_media)


# ---------------------------------------------------------------------------
# Magic-byte format sniffer over the full eight-format container zoo —
# the FIRST pass a 100 TB mixed crawl runs on every payload (cheaper
# than any decode: a handful of byte comparisons routes each blob).
# ---------------------------------------------------------------------------

_SNIFF_FORMATS = ("png", "gif", "jpeg", "tiff", "wav", "flac", "mp3", "mp4")


def build_sniff_payload(doc_id: int) -> bytes:
    """One real container per doc cycling through all eight formats;
    docs with doc_id % 97 == 0 get their magic region overwritten — the
    planted corruption slice the sniffer must route to 'unknown'."""
    kind = _SNIFF_FORMATS[doc_id % 8]
    w = (doc_id * 7) % 48 + 8
    h = (doc_id * 13) % 32 + 8
    if kind == "png":
        b = build_png(w, h)
    elif kind == "gif":
        b = build_gif(w, h)
    elif kind == "jpeg":
        b = build_jpeg(w, h)
    elif kind == "tiff":
        b = build_tiff(doc_id)
    elif kind == "wav":
        b = build_wav(44100, 1, 16, 100)
    elif kind == "flac":
        b = build_flac(44100, 1, 16, 100)
    elif kind == "mp3":
        b = build_mp3(doc_id)
    else:
        b = build_mp4(90000, 90000, w, h)
    if doc_id % 97 == 0:
        b = b"XXXXXXXX" + b[8:]
    return b


def sniff_format(payload: bytes) -> str:
    """Magic-byte routing: returns the format name or 'unknown'. The
    checks are the ones real sniffers use — PNG signature, GIF8x, JPEG
    SOI, TIFF byte-order marks, RIFF/WAVE, fLaC, ID3-or-frame-sync MP3,
    ISO-BMFF ftyp at offset 4."""
    b = payload
    if b is None or len(b) < 12:
        return "unknown"
    if b[:8] == b"\x89PNG\r\n\x1a\n":
        return "png"
    if b[:4] in (b"GIF8",):
        return "gif"
    if b[:3] == b"\xff\xd8\xff":
        return "jpeg"
    if b[:4] in (b"II*\x00", b"MM\x00*"):
        return "tiff"
    if b[:4] == b"RIFF" and b[8:12] == b"WAVE":
        return "wav"
    if b[:4] == b"fLaC":
        return "flac"
    if b[:3] == b"ID3" or (b[0] == 0xFF and (b[1] & 0xE0) == 0xE0):
        return "mp3"
    if b[4:8] == b"ftyp":
        return "mp4"
    return "unknown"


SNIFF_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("format", StringType(), True),
    ]
)


def synthesize_sniff_corpus(docs: DataFrame) -> DataFrame:
    """One container per doc across the eight-format zoo."""
    return CODECS["sniff"].synthesize(docs)


def format_sniffer(with_media: DataFrame) -> DataFrame:
    """payload → sniffed format name (map-only)."""
    return CODECS["sniff"].decode(with_media)


GIF_INTERLACED_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("mean_r", DoubleType(), True),
        StructField("mean_g", DoubleType(), True),
        StructField("mean_b", DoubleType(), True),
        StructField("poshash", LongType(), True),
    ]
)


def synthesize_gif_pixels_interlaced(docs: DataFrame) -> DataFrame:
    """One real interlaced GIF89a per doc (Arrow mapInPandas)."""
    return CODECS["gif_pixels_interlaced"].synthesize(docs)


def gif_interlaced_stats(with_media: DataFrame) -> DataFrame:
    """payload → channel means + position-weighted index checksum via
    the de-interlacing decode (map-only, NULL on corruption)."""
    return CODECS["gif_pixels_interlaced"].decode(with_media)


def gif_frame_count(doc_id: int) -> int:
    return doc_id % 5 + 2


def gif_anim_pixel_index(doc_id: int, f: int, x: int, y: int) -> int:
    return (doc_id * 5 + f * 13 + x * 7 + y * 11) % 256


def build_gif_animation(doc_id: int) -> bytes:
    """A REAL animated GIF89a: global palette, NETSCAPE2.0 looping
    application extension, and per frame a Graphic Control Extension
    (delay = 10+f centiseconds) followed by a full-size LZW-compressed
    image — the multi-frame container a video-style sampling pipeline
    walks."""
    w, h = pixel_dims(doc_id)
    palette = b"".join(bytes(gif_palette_rgb(i)) for i in range(256))
    out = bytearray()
    out += b"GIF89a"
    out += w.to_bytes(2, "little") + h.to_bytes(2, "little")
    out += bytes([0xF7, 0, 0])
    out += palette
    # NETSCAPE2.0 looping extension (application extension 0xFF)
    out += b"\x21\xff\x0bNETSCAPE2.0\x03\x01\x00\x00\x00"
    for f in range(gif_frame_count(doc_id)):
        # Graphic Control Extension: disposal none, delay, no transparency
        out += b"\x21\xf9\x04\x00"
        out += (10 + f).to_bytes(2, "little")
        out += b"\x00\x00"
        out += b"\x2c" + bytes(4)
        out += w.to_bytes(2, "little") + h.to_bytes(2, "little") + b"\x00"
        out += bytes([_GIF_MIN_CODE])
        indices = bytes(
            gif_anim_pixel_index(doc_id, f, x, y)
            for y in range(h)
            for x in range(w)
        )
        lzw = _lzw_encode(indices)
        for i in range(0, len(lzw), 255):
            chunk = lzw[i : i + 255]
            out.append(len(chunk))
            out += chunk
        out.append(0)
    out += b"\x3b"
    return bytes(out)


def decode_gif_animation(payload: bytes):
    """Full multi-frame GIF decode: block walk (application + graphic
    control extensions, image descriptors), per-frame LZW inflate, and
    per-frame channel sums through the palette.

    Returns (w, h, [(delay_cs, sum_r, sum_g, sum_b) per frame]) or None
    on structural damage anywhere — one bad frame poisons the container
    (a sampling pipeline must not silently emit fewer frames than the
    control extensions promise)."""
    b = payload
    if b is None or len(b) < 13 or b[:6] not in (b"GIF89a", b"GIF87a"):
        return None
    w = int.from_bytes(b[6:8], "little")
    h = int.from_bytes(b[8:10], "little")
    flags = b[10]
    if not flags & 0x80:
        return None
    gct_n = 2 << (flags & 0x07)
    pos = 13
    palette = b[pos : pos + 3 * gct_n]
    if len(palette) < 3 * gct_n:
        return None
    pos += 3 * gct_n
    frames = []
    delay = None
    while pos < len(b):
        marker = b[pos]
        if marker == 0x3B:  # trailer
            return (w, h, frames) if frames else None
        if marker == 0x21:  # extension: label + sub-blocks
            if pos + 2 > len(b):
                return None
            label = b[pos + 1]
            pos += 2
            sub_start = pos
            while True:
                if pos >= len(b):
                    return None
                n = b[pos]
                pos += 1
                if n == 0:
                    break
                if label == 0xF9 and pos == sub_start + 1:
                    if n != 4 or pos + 4 > len(b):
                        return None
                    delay = int.from_bytes(b[pos + 1 : pos + 3], "little")
                pos += n
            continue
        # a stream truncated inside the 10-byte image descriptor is
        # damage, not a short frame (same fuzz-found class as
        # decode_gif_pixels)
        if marker != 0x2C or pos + 10 > len(b):
            return None
        iw = int.from_bytes(b[pos + 5 : pos + 7], "little")
        ih = int.from_bytes(b[pos + 7 : pos + 9], "little")
        if (iw, ih) != (w, h) or b[pos + 9] & 0x80:
            return None
        pos += 10
        if pos >= len(b) or b[pos] != _GIF_MIN_CODE:
            return None
        pos += 1
        lzw = bytearray()
        while pos < len(b):
            n = b[pos]
            pos += 1
            if n == 0:
                break
            chunk = b[pos : pos + n]
            if len(chunk) < n:
                return None
            lzw += chunk
            pos += n
        indices = _lzw_decode(bytes(lzw), w * h)
        if indices is None:
            return None
        if indices and max(indices) >= gct_n:
            return None
        sums = [0, 0, 0]
        for idx in indices:
            sums[0] += palette[3 * idx]
            sums[1] += palette[3 * idx + 1]
            sums[2] += palette[3 * idx + 2]
        frames.append((delay, sums[0], sums[1], sums[2]))
        delay = None
    return None  # no trailer: truncated container


GIF_FRAME_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("frame_idx", IntegerType(), True),
        StructField("delay_cs", IntegerType(), True),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("mean_r", DoubleType(), True),
        StructField("mean_g", DoubleType(), True),
        StructField("mean_b", DoubleType(), True),
    ]
)


def synthesize_gif_animations(docs: DataFrame) -> DataFrame:
    """One real animated GIF per doc (Arrow mapInPandas, map-only)."""
    return CODECS["gif_animation"].synthesize(docs)


def gif_frame_sample_stats(with_media: DataFrame, stride: int = 2) -> DataFrame:
    """payload → one row per SAMPLED frame (every ``stride``-th): the
    1→N fan-out a video frame-sampling pipeline produces, with real
    per-frame decode behind it (map-only, NULL-free: corrupt containers
    simply emit no rows, matching the oracle's absence semantics)."""
    codec = CODECS["gif_animation"]
    return _decode_df(with_media, partial(codec.row, stride=stride), codec.schema)


def synthesize_gif_pixels(docs: DataFrame) -> DataFrame:
    """One real LZW-compressed GIF per doc (Arrow mapInPandas, map-only)."""
    return CODECS["gif_pixels"].synthesize(docs)


def gif_pixel_stats(with_media: DataFrame) -> DataFrame:
    """payload → per-channel pixel means via the full LZW decode path
    (same map-only shape and NULL-on-corruption contract as
    :func:`pixel_stats`)."""
    return CODECS["gif_pixels"].decode(with_media)


# ---------------------------------------------------------------------------
# REAL audio sample decode (WAV/PCM) — the audio counterpart of the PNG
# and GIF pixel paths. PCM needs no codec: the data chunk IS the samples
# (int16 little-endian, RIFF WAVE spec). Deterministic synthetic signals
# make the sample statistics oracle-expressible arithmetically.
# FLAC subframe decode (all four subframe types) follows the JPEG section.
# ---------------------------------------------------------------------------


def wav_sample_value(doc_id: int, i: int) -> int:
    """Deterministic int16 sample — mirrored by the SQL oracle."""
    return ((doc_id * 13 + i * i * 7) % 4096) - 2048


def wav_sample_count(doc_id: int) -> int:
    return (doc_id % 200) + 50


def build_wav_samples(doc_id: int) -> bytes:
    """A REAL mono 16-bit PCM WAV: genuine sample bytes, not silence."""
    rate = AUDIO_RATES[doc_id % len(AUDIO_RATES)]
    n = wav_sample_count(doc_id)
    data = b"".join(
        (wav_sample_value(doc_id, i) & 0xFFFF).to_bytes(2, "little")
        for i in range(n)
    )
    fmt_body = (
        (1).to_bytes(2, "little")
        + (1).to_bytes(2, "little")
        + rate.to_bytes(4, "little")
        + (rate * 2).to_bytes(4, "little")
        + (2).to_bytes(2, "little")
        + (16).to_bytes(2, "little")
    )
    return (
        b"RIFF"
        + (36 + len(data)).to_bytes(4, "little")
        + b"WAVE"
        + b"fmt " + (16).to_bytes(4, "little") + fmt_body
        + b"data" + len(data).to_bytes(4, "little")
        + data
    )


def decode_wav_samples(payload: bytes):
    """Full PCM decode: RIFF chunk walk → int16 samples → stats.

    Returns (rate, n_samples, sum, sum_abs, peak) or None on structural
    damage / non-PCM / non-16-bit (NULL rows downstream, never failures).
    """
    b = payload
    if len(b) < 44 or b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        return None
    pos = 12
    rate = bits = channels = None
    data = None
    while pos + 8 <= len(b):
        tag = b[pos : pos + 4]
        ln = int.from_bytes(b[pos + 4 : pos + 8], "little")
        body = b[pos + 8 : pos + 8 + ln]
        if tag == b"fmt ":
            if len(body) < 16 or int.from_bytes(body[0:2], "little") != 1:
                return None  # non-PCM
            channels = int.from_bytes(body[2:4], "little")
            rate = int.from_bytes(body[4:8], "little")
            bits = int.from_bytes(body[14:16], "little")
        elif tag == b"data":
            if len(body) < ln:
                return None  # truncated
            data = body
        pos += 8 + ln + (ln & 1)
    if rate is None or data is None or bits != 16 or channels != 1:
        return None
    if len(data) % 2:
        return None
    total = abs_total = 0
    peak = 0
    for i in range(0, len(data), 2):
        v = int.from_bytes(data[i : i + 2], "little", signed=True)
        total += v
        abs_total += abs(v)
        peak = max(peak, abs(v))
    return rate, len(data) // 2, total, abs_total, peak


def wav24_sample_value(doc_id: int, i: int) -> int:
    """Deterministic 24-bit sample (beyond int16 range, so the wide
    format genuinely matters) — mirrored by the SQL oracle."""
    return ((doc_id * 131 + i * i * 37) % 2_000_000) - 1_000_000


def build_wav_24bit_samples(doc_id: int) -> bytes:
    """A REAL mono 24-bit PCM WAV: 3-byte little-endian two's-complement
    samples — the studio-master bit depth."""
    rate = AUDIO_RATES[doc_id % len(AUDIO_RATES)]
    n = wav_sample_count(doc_id)
    data = b"".join(
        (wav24_sample_value(doc_id, i) & 0xFFFFFF).to_bytes(3, "little")
        for i in range(n)
    )
    fmt_body = (
        (1).to_bytes(2, "little")
        + (1).to_bytes(2, "little")
        + rate.to_bytes(4, "little")
        + (rate * 3).to_bytes(4, "little")
        + (3).to_bytes(2, "little")
        + (24).to_bytes(2, "little")
    )
    return (
        b"RIFF"
        + (36 + len(data)).to_bytes(4, "little")
        + b"WAVE"
        + b"fmt " + (16).to_bytes(4, "little") + fmt_body
        + b"data" + len(data).to_bytes(4, "little")
        + data
    )


def decode_wav_24bit_samples(payload: bytes):
    """24-bit PCM decode: RIFF walk → 3-byte two's-complement samples →
    (rate, n_samples, sum, sum_abs, peak) or None. The 16-bit decoder
    rejects these (bits gate), keeping the two paths honest."""
    b = payload
    if b is None or len(b) < 44 or b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        return None
    pos = 12
    rate = bits = channels = block = None
    data = None
    while pos + 8 <= len(b):
        tag = b[pos : pos + 4]
        ln = int.from_bytes(b[pos + 4 : pos + 8], "little")
        body = b[pos + 8 : pos + 8 + ln]
        if tag == b"fmt ":
            if len(body) < 16 or int.from_bytes(body[0:2], "little") != 1:
                return None  # non-PCM
            channels = int.from_bytes(body[2:4], "little")
            rate = int.from_bytes(body[4:8], "little")
            block = int.from_bytes(body[12:14], "little")
            bits = int.from_bytes(body[14:16], "little")
        elif tag == b"data":
            if len(body) < ln:
                return None  # truncated
            data = body
        pos += 8 + ln + (ln & 1)
    if rate is None or data is None or bits != 24 or channels != 1 \
            or block != 3:
        return None
    if len(data) % 3:
        return None
    total = abs_total = 0
    peak = 0
    for i in range(0, len(data), 3):
        v = int.from_bytes(data[i : i + 3], "little", signed=True)
        total += v
        abs_total += abs(v)
        peak = max(peak, abs(v))
    return rate, len(data) // 3, total, abs_total, peak


def build_wav_stereo_samples(doc_id: int) -> bytes:
    """A REAL stereo 16-bit PCM WAV: interleaved L/R frames (RIFF
    block align 4), using the flac_left/right_value formulas so the
    oracle shares one set of channel constants."""
    rate = AUDIO_RATES[doc_id % len(AUDIO_RATES)]
    n = wav_sample_count(doc_id)
    data = b"".join(
        (flac_left_value(doc_id, i) & 0xFFFF).to_bytes(2, "little")
        + (flac_right_value(doc_id, i) & 0xFFFF).to_bytes(2, "little")
        for i in range(n)
    )
    fmt_body = (
        (1).to_bytes(2, "little")
        + (2).to_bytes(2, "little")
        + rate.to_bytes(4, "little")
        + (rate * 4).to_bytes(4, "little")
        + (4).to_bytes(2, "little")
        + (16).to_bytes(2, "little")
    )
    return (
        b"RIFF"
        + (36 + len(data)).to_bytes(4, "little")
        + b"WAVE"
        + b"fmt " + (16).to_bytes(4, "little") + fmt_body
        + b"data" + len(data).to_bytes(4, "little")
        + data
    )


def decode_wav_stereo_samples(payload: bytes):
    """Stereo PCM decode: RIFF walk → de-interleave int16 L/R frames →
    per-channel stats. Returns (rate, n_frames, sum_left, sum_right,
    peak) or None on damage / non-PCM / non-16-bit / non-stereo."""
    b = payload
    if b is None or len(b) < 44 or b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        return None
    pos = 12
    rate = bits = channels = None
    data = None
    while pos + 8 <= len(b):
        tag = b[pos : pos + 4]
        ln = int.from_bytes(b[pos + 4 : pos + 8], "little")
        body = b[pos + 8 : pos + 8 + ln]
        if tag == b"fmt ":
            if ln < 16 or int.from_bytes(body[0:2], "little") != 1:
                return None  # non-PCM
            channels = int.from_bytes(body[2:4], "little")
            rate = int.from_bytes(body[4:8], "little")
            bits = int.from_bytes(body[14:16], "little")
        elif tag == b"data":
            if len(body) < ln:
                return None  # truncated
            data = body
        pos += 8 + ln + (ln & 1)
    if rate is None or data is None or bits != 16 or channels != 2:
        return None
    if len(data) % 4:
        return None
    sl = sr = peak = 0
    for i in range(0, len(data), 4):
        lv = int.from_bytes(data[i : i + 2], "little", signed=True)
        rv = int.from_bytes(data[i + 2 : i + 4], "little", signed=True)
        sl += lv
        sr += rv
        peak = max(peak, abs(lv), abs(rv))
    return rate, len(data) // 4, sl, sr, peak


def synthesize_wav_stereo_samples(docs: DataFrame) -> DataFrame:
    """One real stereo PCM WAV per doc (Arrow mapInPandas, map-only)."""
    return CODECS["wav_stereo"].synthesize(docs)


def wav_stereo_stats(with_media: DataFrame) -> DataFrame:
    """payload → per-channel stats via the stereo PCM decode path
    (map-only, NULL on corruption)."""
    return CODECS["wav_stereo"].decode(with_media)


AUDIO_SAMPLE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("sample_rate", IntegerType(), True),
        StructField("n_samples", LongType(), True),
        StructField("mean_amp", DoubleType(), True),
        StructField("mean_abs", DoubleType(), True),
        StructField("peak", IntegerType(), True),
    ]
)


STEREO_SAMPLE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("sample_rate", IntegerType(), True),
        StructField("n_samples", LongType(), True),
        StructField("mean_left", DoubleType(), True),
        StructField("mean_right", DoubleType(), True),
        StructField("peak", IntegerType(), True),
    ]
)


def synthesize_flac_stereo_samples(docs: DataFrame) -> DataFrame:
    """One real stereo FLAC per doc (Arrow mapInPandas, map-only)."""
    return CODECS["flac_stereo"].synthesize(docs)


def flac_stereo_stats(with_media: DataFrame) -> DataFrame:
    """payload → per-channel statistics via the stereo FLAC decode path
    (decorrelation undo; map-only, NULL on corruption)."""
    return CODECS["flac_stereo"].decode(with_media)


def synthesize_wav_samples(docs: DataFrame) -> DataFrame:
    """One real PCM WAV per doc (Arrow mapInPandas, map-only)."""
    return CODECS["wav"].synthesize(docs)


def synthesize_wav_24bit_samples(docs: DataFrame) -> DataFrame:
    """One real mono 24-bit PCM WAV per doc (Arrow mapInPandas)."""
    return CODECS["wav24"].synthesize(docs)


def wav_sample_stats(with_media: DataFrame) -> DataFrame:
    """payload → sample statistics via the full 16-bit PCM decode path
    (same map-only shape and NULL-on-corruption contract as
    pixel_stats)."""
    return CODECS["wav"].decode(with_media)


def wav_24bit_sample_stats(with_media: DataFrame) -> DataFrame:
    """payload → the same sample statistics as wav_sample_stats, via the
    24-bit PCM decode path (decode_wav_24bit_samples)."""
    return CODECS["wav24"].decode(with_media)


# ---------------------------------------------------------------------------
# REAL pixel decode #3 (baseline JPEG) — stdlib + numpy, no codec lib.
#
# Closes the boundary the earlier rounds documented at _decode_jpeg
# (header-only). This is a from-spec baseline decoder over the public
# ITU-T T.81 layout: segment walk (DQT/SOF0/DHT/SOS), canonical Huffman
# table construction (Annex C), entropy-coded scan with byte stuffing
# and restart markers (F.2), DC prediction + EXTEND (F.2.2.1), AC
# run/size with ZRL and EOB (F.2.2.2), zigzag dequantization, and a full
# 2-D IDCT (A.3.3) done as an 8x8 basis-matrix product in numpy.
#
# This baseline corpus is grayscale (1 component, no subsampling); the
# color 4:4:4 / 4:2:0 and progressive paths follow below.
# The ORACLE corpus is DC-only blocks: the IDCT of a DC-only block is
# exactly flat (AC basis functions are zero-mean), pixel = dc*q0/8 + 128
# with q0 = 8, so the expected channel mean is integer arithmetic a SQL
# oracle can state. Blocks with AC coefficients are exercised in tests,
# pinned against an independent numpy float IDCT.
# ---------------------------------------------------------------------------

# zigzag index -> (row, col), T.81 Figure A.6
_ZIGZAG = [
    (0, 0), (0, 1), (1, 0), (2, 0), (1, 1), (0, 2), (0, 3), (1, 2),
    (2, 1), (3, 0), (4, 0), (3, 1), (2, 2), (1, 3), (0, 4), (0, 5),
    (1, 4), (2, 3), (3, 2), (4, 1), (5, 0), (6, 0), (5, 1), (4, 2),
    (3, 3), (2, 4), (1, 5), (0, 6), (0, 7), (1, 6), (2, 5), (3, 4),
    (4, 3), (5, 2), (6, 1), (7, 0), (7, 1), (6, 2), (5, 3), (4, 4),
    (3, 5), (2, 6), (1, 7), (2, 7), (3, 6), (4, 5), (5, 4), (6, 3),
    (7, 2), (7, 3), (6, 4), (5, 5), (4, 6), (3, 7), (4, 7), (5, 6),
    (6, 5), (7, 4), (7, 5), (6, 6), (5, 7), (6, 7), (7, 6), (7, 7),
]

# Custom canonical Huffman tables (valid per Annex C; the encoder and
# decoder both derive codes from these (BITS, HUFFVAL) pairs, exactly as
# a DHT segment carries them). DC: 12 category symbols, all 4 bits.
# AC: EOB, ZRL and every (run<=15, size<=10) pair, all 8 bits.
_JPEG_DC_BITS = [0, 0, 0, 12, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0]
_JPEG_DC_VALS = list(range(12))
_JPEG_AC_BITS = [0, 0, 0, 0, 0, 0, 0, 162, 0, 0, 0, 0, 0, 0, 0, 0]
_JPEG_AC_VALS = [0x00, 0xF0] + [
    (r << 4) | s for r in range(16) for s in range(1, 11)
]
_JPEG_QTABLE = [8] + [16] * 63  # zigzag order; q0=8 makes DC-only exact


def _huff_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """(BITS, HUFFVAL) -> {symbol: (code, length)} (T.81 Annex C.2)."""
    out: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            out[vals[k]] = (code, ln)
            code += 1
            k += 1
        code <<= 1
    return out


class _JpegBitWriter:
    """MSB-first bit accumulator with JPEG byte stuffing (0xFF -> 0xFF00)."""

    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def put(self, value: int, length: int) -> None:
        for i in range(length - 1, -1, -1):
            self.acc = (self.acc << 1) | ((value >> i) & 1)
            self.nbits += 1
            if self.nbits == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:
                    self.out.append(0x00)
                self.acc = 0
                self.nbits = 0

    def restart(self, m: int) -> None:
        """Byte-align (1-padding, stuffed like any data byte) and emit
        restart marker RST(m mod 8) — T.81 F.2 restart insertion."""
        if self.nbits:
            pad = 8 - self.nbits
            self.acc = (self.acc << pad) | ((1 << pad) - 1)
            self.out.append(self.acc)
            if self.acc == 0xFF:
                self.out.append(0x00)
            self.acc = 0
            self.nbits = 0
        self.out.append(0xFF)
        self.out.append(0xD0 + (m & 7))

    def flush(self) -> bytes:
        if self.nbits:
            pad = 8 - self.nbits
            self.acc = (self.acc << pad) | ((1 << pad) - 1)  # pad with 1s
            self.out.append(self.acc)
            if self.acc == 0xFF:
                self.out.append(0x00)
            self.acc = 0
            self.nbits = 0
        return bytes(self.out)


def jpeg_dims(doc_id: int) -> tuple[int, int]:
    """Deterministic block-grid dims (w, h), multiples of 8 — mirrored by
    the SQL oracle."""
    bw = (doc_id * 7) % 6 + 2
    bh = (doc_id * 13) % 4 + 2
    return bw * 8, bh * 8


def jpeg_block_level(doc_id: int, k: int) -> int:
    """Deterministic per-block flat level in [-112, 112] — mirrored by
    the SQL oracle. Decoded pixel value of block k is level + 128."""
    return ((doc_id * 3 + k * 5) % 225) - 112


def _jpeg_cat(v: int) -> int:
    """DC/AC magnitude category (bit length of |v|)."""
    return abs(v).bit_length()


def build_jpeg_pixels(doc_id: int, ac_blocks=None,
                      restart_interval: int | None = None) -> bytes:
    """A REAL baseline JPEG: grayscale, custom canonical Huffman tables,
    entropy-coded DC-per-block scan (DC-only unless ``ac_blocks`` maps
    block index -> list of (zigzag_index, value) for the test corpus).
    ``restart_interval`` adds a DRI segment and T.81 F.2 RSTn markers
    every that many MCUs (pixel content identical)."""
    w, h = jpeg_dims(doc_id)
    bw, bh = w // 8, h // 8
    dc_codes = _huff_codes(_JPEG_DC_BITS, _JPEG_DC_VALS)
    ac_codes = _huff_codes(_JPEG_AC_BITS, _JPEG_AC_VALS)

    bwr = _JpegBitWriter()
    pred = 0
    for k in range(bw * bh):
        if restart_interval and k and k % restart_interval == 0:
            bwr.restart(k // restart_interval - 1)
            pred = 0
        # DC: quantized coefficient equals the flat level (q0 = 8)
        dc = jpeg_block_level(doc_id, k)
        diff = dc - pred
        pred = dc
        s = _jpeg_cat(diff)
        code, ln = dc_codes[s]
        bwr.put(code, ln)
        if s:
            amp = diff if diff >= 0 else diff + (1 << s) - 1
            bwr.put(amp, s)
        # AC coefficients (test corpus only): zigzag run/size coding
        acs = sorted((ac_blocks or {}).get(k, []))
        last = 0
        for zz, val in acs:
            assert 1 <= zz <= 63 and val != 0
            run = zz - last - 1
            while run > 15:
                zcode, zln = ac_codes[0xF0]
                bwr.put(zcode, zln)
                run -= 16
            s = _jpeg_cat(val)
            code, ln = ac_codes[(run << 4) | s]
            bwr.put(code, ln)
            amp = val if val >= 0 else val + (1 << s) - 1
            bwr.put(amp, s)
            last = zz
        if last < 63:
            code, ln = ac_codes[0x00]  # EOB
            bwr.put(code, ln)
    scan = bwr.flush()

    def seg(marker: int, body: bytes) -> bytes:
        return bytes([0xFF, marker]) + (len(body) + 2).to_bytes(2, "big") + body

    dqt = seg(0xDB, bytes([0x00]) + bytes(_JPEG_QTABLE))
    dri = (seg(0xDD, restart_interval.to_bytes(2, "big"))
           if restart_interval else b"")
    sof = seg(
        0xC0,
        b"\x08" + h.to_bytes(2, "big") + w.to_bytes(2, "big")
        + b"\x01" + bytes([1, 0x11, 0]),
    )
    dht = seg(
        0xC4,
        bytes([0x00]) + bytes(_JPEG_DC_BITS) + bytes(_JPEG_DC_VALS)
        + bytes([0x10]) + bytes(_JPEG_AC_BITS) + bytes(_JPEG_AC_VALS),
    )
    sos = seg(0xDA, b"\x01" + bytes([1, 0x00]) + b"\x00\x3f\x00")
    return b"\xff\xd8" + dqt + dri + sof + dht + sos + scan + b"\xff\xd9"


def jpeg_chroma_level(doc_id: int, k: int, chan: int) -> int:
    """Deterministic per-block flat chroma level in [-112, 112] for
    Cb (chan=0) / Cr (chan=1) — mirrored by the SQL oracle."""
    if chan == 0:
        return ((doc_id * 7 + k * 11) % 225) - 112
    return ((doc_id * 5 + k * 17) % 225) - 112


_PROG_RST = 5  # progressive corpus restart interval (MCUs between RSTn)
_JPEG_AC_ZI = 20  # zigzag index of the planted AC coefficient: (u,v)=(5,0)
_JPEG_AC_VALSET = (0, 1, -1, 2, 3)


def jpeg_block_ac(doc_id: int, k: int) -> int:
    """Planted AC coefficient (quantized units, zigzag ``_JPEG_AC_ZI``)
    of block k: cycles 0 / 1 / -1 / 2 / 3 so a successive-approximation
    AC pair of scans (first at Al=1, refinement at Ah=1) exercises every
    refinement code path — EOB-only blocks, newly-nonzero ±1 insertions
    behind a ZRL, and history-correction bits of both polarities. The
    (5,0) basis at quantizer 16 rounds (half-even, no half-integer ties
    for |coef| ≤ 3) to a ZERO-SUM 64-pixel pattern with every rounded
    delta in [-8, 8], so block pixel SUMS — and therefore every existing
    arithmetic oracle — are unchanged by the planted AC."""
    return _JPEG_AC_VALSET[(doc_id + 2 * k) % 5]


def _jpeg_encode_ac_first(bwr, ac_codes, items: dict, al: int) -> None:
    """One block's AC first scan (band 1..63) at point transform Al:
    run/size symbols with ZRL, one EOB when a zero tail remains.
    ``items`` maps zigzag index -> full-precision coefficient; the AC
    point transform truncates MAGNITUDE (T.81 §G.1.2.2)."""
    r = 0
    for idx in range(1, 64):
        c = items.get(idx, 0)
        t = abs(c) >> al
        if t == 0:
            r += 1
            continue
        if c < 0:
            t = -t
        while r > 15:
            code, ln = ac_codes[0xF0]
            bwr.put(code, ln)
            r -= 16
        s = _jpeg_cat(t)
        code, ln = ac_codes[(r << 4) | s]
        bwr.put(code, ln)
        amp = t if t >= 0 else t + (1 << s) - 1
        bwr.put(amp, s)
        r = 0
    if r:
        code, ln = ac_codes[0x00]
        bwr.put(code, ln)


def _jpeg_encode_ac_refine(bwr, ac_codes, items: dict, ah: int, al: int) -> None:
    """One block's AC successive-approximation refinement scan (T.81
    §G.1.2.3): a correction bit for every coefficient already nonzero at
    precision Ah (buffered, flushed after the next symbol so stream
    order matches the decoder's walk), run/size-1 symbols whose run
    counts only zero-HISTORY positions for the newly nonzero, and one
    EOB covering the tail."""
    r = 0
    buffered: list[int] = []

    def flush() -> None:
        for bit in buffered:
            bwr.put(bit, 1)
        buffered.clear()

    for idx in range(1, 64):
        c = items.get(idx, 0)
        a = abs(c)
        if a >> ah:              # nonzero history: one correction bit
            buffered.append((a >> al) & 1)
        elif (a >> al) == 1:     # newly nonzero at this precision
            while r > 15:
                code, ln = ac_codes[0xF0]
                bwr.put(code, ln)
                r -= 16
                flush()
            code, ln = ac_codes[(r << 4) | 1]
            bwr.put(code, ln)
            bwr.put(1 if c > 0 else 0, 1)
            flush()
            r = 0
        elif a >> al:
            raise ValueError(
                f"coefficient {c} at zigzag {idx} gains more than one "
                "magnitude bit in a single refinement scan"
            )
        else:
            r += 1
    if r or buffered:
        code, ln = ac_codes[0x00]
        bwr.put(code, ln)
        flush()


def build_jpeg_color_pixels(doc_id: int,
                            restart_interval: int | None = None) -> bytes:
    """A REAL baseline color JPEG: 3 components, 4:4:4 (all sampling
    0x11), luma quant/Huffman tables id 0 and chroma tables id 1,
    interleaved Y-Cb-Cr MCUs with independent DC predictors. DC-only
    blocks keep every pixel exactly flat so the channel sums stay
    integer-exact through the fixed-point YCbCr→RGB conversion.
    ``restart_interval`` adds DRI + RSTn every that many MCUs — the
    INTERLEAVED restart shape (all three predictors reset per marker)."""
    w, h = jpeg_dims(doc_id)
    bw, bh = w // 8, h // 8
    dc_codes = _huff_codes(_JPEG_DC_BITS, _JPEG_DC_VALS)
    ac_codes = _huff_codes(_JPEG_AC_BITS, _JPEG_AC_VALS)

    bwr = _JpegBitWriter()
    preds = [0, 0, 0]
    for k in range(bw * bh):
        if restart_interval and k and k % restart_interval == 0:
            bwr.restart(k // restart_interval - 1)
            preds = [0, 0, 0]
        levels = (
            jpeg_block_level(doc_id, k),
            jpeg_chroma_level(doc_id, k, 0),
            jpeg_chroma_level(doc_id, k, 1),
        )
        for c, dc in enumerate(levels):
            diff = dc - preds[c]
            preds[c] = dc
            s = _jpeg_cat(diff)
            code, ln = dc_codes[s]
            bwr.put(code, ln)
            if s:
                amp = diff if diff >= 0 else diff + (1 << s) - 1
                bwr.put(amp, s)
            code, ln = ac_codes[0x00]  # EOB
            bwr.put(code, ln)
    scan = bwr.flush()

    def seg(marker: int, body: bytes) -> bytes:
        return bytes([0xFF, marker]) + (len(body) + 2).to_bytes(2, "big") + body

    dqt = seg(
        0xDB,
        bytes([0x00]) + bytes(_JPEG_QTABLE)
        + bytes([0x01]) + bytes(_JPEG_QTABLE),
    )
    dri = (seg(0xDD, restart_interval.to_bytes(2, "big"))
           if restart_interval else b"")
    dqt = dqt + dri
    sof = seg(
        0xC0,
        b"\x08" + h.to_bytes(2, "big") + w.to_bytes(2, "big") + b"\x03"
        + bytes([1, 0x11, 0]) + bytes([2, 0x11, 1]) + bytes([3, 0x11, 1]),
    )
    dht = seg(
        0xC4,
        bytes([0x00]) + bytes(_JPEG_DC_BITS) + bytes(_JPEG_DC_VALS)
        + bytes([0x10]) + bytes(_JPEG_AC_BITS) + bytes(_JPEG_AC_VALS)
        + bytes([0x01]) + bytes(_JPEG_DC_BITS) + bytes(_JPEG_DC_VALS)
        + bytes([0x11]) + bytes(_JPEG_AC_BITS) + bytes(_JPEG_AC_VALS),
    )
    sos = seg(
        0xDA,
        b"\x03" + bytes([1, 0x00]) + bytes([2, 0x11]) + bytes([3, 0x11])
        + b"\x00\x3f\x00",
    )
    return b"\xff\xd8" + dqt + sof + dht + sos + scan + b"\xff\xd9"


class _JpegBitReader:
    """MSB-first bit reader over entropy-coded data with byte unstuffing;
    surfaces restart markers and EOI to the caller."""

    def __init__(self, buf: bytes, pos: int) -> None:
        self.buf = buf
        self.pos = pos
        self.acc = 0
        self.nbits = 0
        self.marker: int | None = None

    def _fill(self) -> bool:
        b = self.buf
        while self.nbits < 25:
            if self.pos >= len(b):
                return self.nbits > 0
            v = b[self.pos]
            if v == 0xFF:
                if self.pos + 1 >= len(b):
                    return self.nbits > 0
                nxt = b[self.pos + 1]
                if nxt == 0x00:
                    self.pos += 2  # stuffed literal 0xFF
                else:
                    self.marker = nxt  # RSTn / EOI / next segment
                    return self.nbits > 0
            else:
                self.pos += 1
            self.acc = (self.acc << 8) | v
            self.nbits += 8
        return True

    def bits(self, n: int):
        if n == 0:
            return 0
        if self.nbits < n and not self._fill():
            return None
        if self.nbits < n:
            return None
        v = (self.acc >> (self.nbits - n)) & ((1 << n) - 1)
        self.nbits -= n
        return v

    def align_and_consume_marker(self) -> int | None:
        """Drop partial-byte bits, consume the pending marker (RSTn)."""
        self.nbits -= self.nbits % 8
        m = self.marker
        if m is not None:
            self.marker = None
            self.pos += 2
            self.acc = 0
            self.nbits = 0
        return m

    def expect_restart(self, n: int) -> bool:
        """T.81 F.2.1.3: the DRI interval has elapsed, so an RSTn MUST
        sit at the next byte boundary. Drop the 1-pad bits, force the
        lazy fill to surface the marker (it may not have been fetched
        yet at a data-unit boundary), check the modulo-8 restart number,
        and consume it. False = corrupt stream (missing / wrong-numbered
        marker, or entropy bytes where the marker must be)."""
        self.nbits -= self.nbits % 8
        if self.nbits:
            return False  # whole entropy bytes where a marker must sit
        if self.marker is None:
            self._fill()
        if self.marker != 0xD0 + (n & 7):
            return False
        self.marker = None
        self.pos += 2
        self.acc = 0
        self.nbits = 0
        return True


def _huff_decode(reader: _JpegBitReader, table: dict[tuple[int, int], int]):
    """Walk the canonical code directly on the reader's accumulator:
    one dict probe per LENGTH instead of a ``bits(1)`` call (fill check
    + shift + mask) per BIT — measured ~2× on the entropy-decode-bound
    mm_ pixel stats. Byte-identical consumption semantics to the
    per-bit form: a match consumes exactly the code's length; no match
    within 16 bits (or bit exhaustion at a marker/EOF) returns None
    with the walked bits consumed, exactly as 16 ``bits(1)`` calls
    would have."""
    nb = reader.nbits
    if nb < 16:
        # one fill tops the accumulator to >=25 bits or to the
        # marker/EOF boundary — a mid-walk refill can add nothing more
        reader._fill()
        nb = reader.nbits
        if nb == 0:
            return None
    acc = reader.acc
    code = 0
    maxl = nb if nb < 16 else 16
    for ln in range(1, maxl + 1):
        code = (code << 1) | ((acc >> (nb - ln)) & 1)
        sym = table.get((ln, code))
        if sym is not None:
            reader.nbits = nb - ln
            return sym
    reader.nbits = nb - maxl
    return None


def _extend(v: int, s: int) -> int:
    """T.81 F.2.2.1 EXTEND: amplitude bits -> signed value."""
    return v if v >= (1 << (s - 1)) else v - (1 << s) + 1


_IDCT_BASIS = None


def _idct_basis():
    global _IDCT_BASIS
    if _IDCT_BASIS is None:
        import math

        import numpy as np

        a = np.zeros((8, 8))
        for u in range(8):
            c = (1 / math.sqrt(2)) if u == 0 else 1.0
            for x in range(8):
                a[u, x] = (c / 2) * math.cos((2 * x + 1) * u * math.pi / 16)
        _IDCT_BASIS = a
    return _IDCT_BASIS


_ZZ_FLAT = None  # zigzag position i -> row-major index r*8+c (lazy ndarray)


def _zz_flat():
    global _ZZ_FLAT
    if _ZZ_FLAT is None:
        import numpy as np

        _ZZ_FLAT = np.array([r * 8 + c for r, c in _ZIGZAG], dtype=np.intp)
    return _ZZ_FLAT


def _idct_blocks(cc, qa):
    """Batched dequant + IDCT + level shift for a whole component:
    ``cc`` is (n_blocks, 64) raw coefficients in ZIGZAG order, ``qa``
    the 64-entry quant table. Returns (n_blocks, 8, 8) clipped pixels.

    Replaces the per-block python loop (64 scalar ndarray stores + two
    8x8 matmuls + round/clip dispatch PER BLOCK — the decode profile's
    top cost) with one vectorized pass per component. Value-exact vs
    the per-block form: the zigzag scatter and dequant are elementwise,
    and numpy's stacked matmul runs the same per-slice 8x8 product as
    the 2D form (verified block-exact across the synthetic corpus and
    the foreign fixtures by the decoder tests)."""
    import numpy as np

    A = _idct_basis()
    full = np.zeros((cc.shape[0], 64))
    full[:, _zz_flat()] = cc * qa
    blocks = (A.T @ full.reshape(-1, 8, 8)) @ A
    return np.clip(np.round(blocks) + 128, 0, 255)


def _decode_jpeg_planes(payload: bytes):
    """Baseline JPEG decode core: segment walk → per-component Huffman
    scan decode (interleaved MCUs) → dequantize → IDCT → level shift.

    Returns (width, height, [plane ndarray per component]) or None.
    Supports 1-component grayscale, 3-component 4:4:4 or 4:2:0 color,
    and 4-component (CMYK-convention) 4:4:4 streams — the MCU walk is
    generic over the scan's component list. Progressive (SOF2), other
    subsampling grids, and 16-bit quant tables are rejected (documented
    boundaries); corrupt payloads become None, never exceptions.
    """
    import numpy as np

    b = payload
    if b is None or len(b) < 4 or b[:2] != b"\xff\xd8":
        return None
    qtables: dict[int, list[int]] = {}
    htables: dict[tuple[int, int], dict[tuple[int, int], int]] = {}
    w = h = None
    # SOF component list: cid -> quant table id (order preserved)
    sof_comps: dict[int, int] = {}
    # scan component list in interleave order: (qtab, dc_id, ac_id)
    scan_comps: list[tuple[int, int, int]] = []
    pos = 2
    scan_start = None
    ri = 0  # DRI restart interval in MCUs (0 = none)
    while pos + 4 <= len(b):
        if b[pos] != 0xFF:
            return None
        marker = b[pos + 1]
        if marker in _JPEG_STANDALONE:
            pos += 2
            continue
        ln = int.from_bytes(b[pos + 2 : pos + 4], "big")
        body = b[pos + 4 : pos + 2 + ln]
        if len(body) != ln - 2:
            return None
        if marker == 0xDD:  # DRI: restart interval (T.81 B.2.4.4)
            if len(body) != 2:
                return None
            ri = int.from_bytes(body, "big")
        elif marker == 0xDB:  # DQT (possibly several tables per segment)
            i = 0
            while i < len(body):
                pq, tq = body[i] >> 4, body[i] & 0x0F
                if pq != 0:
                    return None  # 16-bit table: boundary
                if i + 65 > len(body):
                    return None
                qtables[tq] = list(body[i + 1 : i + 65])
                i += 65
        elif marker == 0xC4:  # DHT (possibly several tables per segment)
            i = 0
            while i + 17 <= len(body):
                tc, th = body[i] >> 4, body[i] & 0x0F
                bits = list(body[i + 1 : i + 17])
                n = sum(bits)
                vals = list(body[i + 17 : i + 17 + n])
                if len(vals) != n:
                    return None
                dec: dict[tuple[int, int], int] = {}
                code = 0
                k = 0
                for L in range(1, 17):
                    for _ in range(bits[L - 1]):
                        dec[(L, code)] = vals[k]
                        code += 1
                        k += 1
                    code <<= 1
                htables[(tc, th)] = dec
                i += 17 + n
        elif marker == 0xC0:  # SOF0 baseline
            # precision + dims + Nf + one full component descriptor
            if len(body) < 9 or body[0] != 8:
                return None
            h = int.from_bytes(body[1:3], "big")
            w = int.from_bytes(body[3:5], "big")
            nf = body[5]
            # 4 = CMYK-convention streams, decoded as raw planes by
            # decode_jpeg_cmyk_pixels (the MCU walk is nc-generic)
            if nf not in (1, 3, 4):
                return None  # exotic component counts: boundary
            if len(body) < 6 + 3 * nf:
                return None
            sof_comps = {}
            samplings = []
            for ci in range(nf):
                cid = body[6 + 3 * ci]
                hv = body[7 + 3 * ci]
                hi, vi = hv >> 4, hv & 0x0F
                samplings.append((hi, vi))
                sof_comps[cid] = (hi, vi, body[8 + 3 * ci])
            # supported sampling grids: all 1x1 (gray / 4:4:4) or the
            # 4:2:0 layout (luma 2x2, both chromas 1x1)
            if not (
                all(s == (1, 1) for s in samplings)
                or (nf == 3 and samplings == [(2, 2), (1, 1), (1, 1)])
            ):
                return None  # other subsampling grids: boundary
        elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA,
                        0xCB, 0xCD, 0xCE, 0xCF):
            return None  # non-baseline SOF: boundary
        elif marker == 0xDA:  # SOS
            # Ns + per-component specs + the 3 spectral-selection bytes
            ns = body[0] if body else 0
            if len(body) < 1 + 2 * ns + 3 or ns != len(sof_comps) or ns == 0:
                return None
            scan_comps = []
            for ci in range(ns):
                cid = body[1 + 2 * ci]
                if cid not in sof_comps:
                    return None
                tb = body[2 + 2 * ci]
                hi, vi, qid = sof_comps[cid]
                scan_comps.append((hi, vi, qid, tb >> 4, tb & 0x0F))
            scan_start = pos + 2 + ln
            break
        pos += 2 + ln
    if scan_start is None or w is None or w == 0 or h == 0:
        return None
    if w * h * 3 > _MAX_DECODED_BYTES:
        return None  # declared-geometry allocation ceiling (r11)
    tables = []
    for hi, vi, qid, dc_id, ac_id in scan_comps:
        q = qtables.get(qid)
        dct = htables.get((0, dc_id))
        act = htables.get((1, ac_id))
        if q is None or dct is None or act is None:
            return None
        tables.append((hi, vi, np.array(q, dtype=np.float64), dct, act))

    hmax = max(t[0] for t in tables)
    vmax = max(t[1] for t in tables)
    mcw = 8 * hmax   # MCU pixel width / height
    mch = 8 * vmax
    mcus_x = (w + mcw - 1) // mcw
    mcus_y = (h + mch - 1) // mch
    reader = _JpegBitReader(b, scan_start)
    nc = len(scan_comps)
    preds = [0] * nc
    # raw zigzag coefficients per component, one row per block in the
    # component's own raster order — dequant/IDCT/clip happen ONCE per
    # component in _idct_blocks after the entropy walk, not per block
    coefs = [
        np.zeros((mcus_y * vi * mcus_x * hi, 64))
        for hi, vi, _, _, _ in tables
    ]

    def read_block(c, k):
        _, _, _qa, dct, act = tables[c]
        s = _huff_decode(reader, dct)
        if s is None or s > 11:
            return False
        if s:
            amp = reader.bits(s)
            if amp is None:
                return False
            preds[c] += _extend(amp, s)
        cc = coefs[c]
        cc[k, 0] = preds[c]
        idx = 0
        while idx < 63:
            rs = _huff_decode(reader, act)
            if rs is None:
                return False
            if rs == 0x00:  # EOB
                break
            if rs == 0xF0:  # ZRL
                idx += 16
                continue
            run, sz = rs >> 4, rs & 0x0F
            idx += run + 1
            if idx > 63 or sz == 0:
                return False
            amp = reader.bits(sz)
            if amp is None:
                return False
            cc[k, idx] = _extend(amp, sz)
        return True

    # interleaved MCU order (T.81 A.2.3): per MCU, each component
    # contributes its h_i x v_i blocks in raster order. With a DRI
    # interval, EXPECT a validated RSTn every ri MCUs (F.2.1.3) —
    # counting, not peeking: the lazy fill may not have surfaced a
    # pending marker at an MCU boundary.
    mcu_i = 0
    rst_n = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if ri and mcu_i and mcu_i % ri == 0:
                if not reader.expect_restart(rst_n):
                    return None
                rst_n += 1
                preds = [0] * nc
            elif (not ri and reader.marker is not None
                  and 0xD0 <= reader.marker <= 0xD7):
                # lenient path for non-conformant streams with RSTn but
                # no DRI segment — only fires when the marker happens to
                # be visible (best effort, as before)
                reader.align_and_consume_marker()
                preds = [0] * nc
            mcu_i += 1
            for c in range(nc):
                hi, vi = tables[c][0], tables[c][1]
                gw = mcus_x * hi  # component block-grid width
                for byy in range(vi):
                    for bxx in range(hi):
                        k = (my * vi + byy) * gw + (mx * hi + bxx)
                        if not read_block(c, k):
                            return None
    # batched dequant + IDCT + clip per component, then assemble the
    # block grid into the plane in one reshape/transpose (no per-block
    # ndarray stores); upsample subsampled components by replication
    # (nearest — keeps flat blocks exactly flat), crop to the declared
    # image bounds
    out = []
    for c, (hi, vi, qa, _dct, _act) in enumerate(tables):
        gw, gh = mcus_x * hi, mcus_y * vi
        px = _idct_blocks(coefs[c], qa)
        p = (
            px.reshape(gh, gw, 8, 8)
            .transpose(0, 2, 1, 3)
            .reshape(gh * 8, gw * 8)
        )
        if hi < hmax:
            p = np.repeat(p, hmax // hi, axis=1)
        if vi < vmax:
            p = np.repeat(p, vmax // vi, axis=0)
        out.append(p[:h, :w])
    return w, h, out


def decode_jpeg_pixels(payload: bytes):
    """Grayscale baseline JPEG decode → (width, height, sum_gray), or
    None for color streams, structural damage, or documented boundaries
    (progressive, subsampled, 16-bit DQT) — NULL rows, never stage
    failures."""
    dec = _decode_jpeg_planes(payload)
    if dec is None or len(dec[2]) != 1:
        return None
    w, h, planes = dec
    return w, h, int(planes[0].sum())


def jpeg420_dims(doc_id: int) -> tuple[int, int]:
    """Deterministic MCU-grid dims (w, h), multiples of 16 so every MCU
    is full — mirrored by the SQL oracle."""
    return ((doc_id * 7) % 3 + 1) * 16, ((doc_id * 13) % 2 + 1) * 16


def build_jpeg_420_pixels(doc_id: int) -> bytes:
    """A REAL 4:2:0 baseline color JPEG: luma sampled 2x2, both chromas
    1x1 — each 16x16 MCU carries four Y blocks (raster order) then one
    Cb and one Cr, per T.81 A.2.3 interleaving. DC-only blocks; chroma
    levels are per-MCU (jpeg_chroma_level over the MCU index), so the
    nearest-neighbor upsample reconstructs them exactly."""
    w, h = jpeg420_dims(doc_id)
    mcx, mcy = w // 16, h // 16
    dc_codes = _huff_codes(_JPEG_DC_BITS, _JPEG_DC_VALS)
    ac_codes = _huff_codes(_JPEG_AC_BITS, _JPEG_AC_VALS)

    bwr = _JpegBitWriter()
    preds = [0, 0, 0]

    def put_dc_block(c, dc):
        diff = dc - preds[c]
        preds[c] = dc
        s = _jpeg_cat(diff)
        code, ln = dc_codes[s]
        bwr.put(code, ln)
        if s:
            amp = diff if diff >= 0 else diff + (1 << s) - 1
            bwr.put(amp, s)
        code, ln = ac_codes[0x00]  # EOB
        bwr.put(code, ln)

    bw_luma = w // 8
    for my in range(mcy):
        for mx in range(mcx):
            m = my * mcx + mx
            for byy in range(2):
                for bxx in range(2):
                    k = (my * 2 + byy) * bw_luma + (mx * 2 + bxx)
                    put_dc_block(0, jpeg_block_level(doc_id, k))
            put_dc_block(1, jpeg_chroma_level(doc_id, m, 0))
            put_dc_block(2, jpeg_chroma_level(doc_id, m, 1))
    scan = bwr.flush()

    def seg(marker: int, body: bytes) -> bytes:
        return bytes([0xFF, marker]) + (len(body) + 2).to_bytes(2, "big") + body

    dqt = seg(
        0xDB,
        bytes([0x00]) + bytes(_JPEG_QTABLE)
        + bytes([0x01]) + bytes(_JPEG_QTABLE),
    )
    sof = seg(
        0xC0,
        b"\x08" + h.to_bytes(2, "big") + w.to_bytes(2, "big") + b"\x03"
        + bytes([1, 0x22, 0]) + bytes([2, 0x11, 1]) + bytes([3, 0x11, 1]),
    )
    dht = seg(
        0xC4,
        bytes([0x00]) + bytes(_JPEG_DC_BITS) + bytes(_JPEG_DC_VALS)
        + bytes([0x10]) + bytes(_JPEG_AC_BITS) + bytes(_JPEG_AC_VALS)
        + bytes([0x01]) + bytes(_JPEG_DC_BITS) + bytes(_JPEG_DC_VALS)
        + bytes([0x11]) + bytes(_JPEG_AC_BITS) + bytes(_JPEG_AC_VALS),
    )
    sos = seg(
        0xDA,
        b"\x03" + bytes([1, 0x00]) + bytes([2, 0x11]) + bytes([3, 0x11])
        + b"\x00\x3f\x00",
    )
    return b"\xff\xd8" + dqt + sof + dht + sos + scan + b"\xff\xd9"


def build_jpeg_progressive_420_pixels(
    doc_id: int, restart_interval: int | None = None
) -> bytes:
    """A REAL progressive (SOF2) 4:2:0 COLOR JPEG — the subsampled
    progressive combination: interleaved DC first scan at Al=1 walking
    16x16 MCUs (four raster-ordered Y blocks + Cb + Cr each), an
    interleaved DC refinement scan in the same MCU order, then
    NON-interleaved AC scans over each component's own block raster
    (T.81 G.1.1.1.1: progressive AC scans are always single-component)
    — Y at Al=1 with a final Ah=1 AC refinement scan, Cb/Cr complete at
    Al=0. Same levels as the baseline 4:2:0 corpus plus a clip-guarded
    zero-pixel-sum planted AC in Y. ``restart_interval`` adds DRI +
    per-scan RSTn markers — interleaved scans restart on MCU counts,
    the single-component AC scans on their own block counts (T.81
    F.2.1.3)."""
    w, h = jpeg420_dims(doc_id)
    mcx, mcy = w // 16, h // 16
    bw_l, bh_l = w // 8, h // 8
    dc_codes = _huff_codes(_JPEG_DC_BITS, _JPEG_DC_VALS)
    ac_codes = _huff_codes(_JPEG_AC_BITS, _JPEG_AC_VALS)

    def level(c: int, k: int) -> int:
        return (jpeg_block_level(doc_id, k) if c == 0
                else jpeg_chroma_level(doc_id, k, c - 1))

    def y_ac(k: int) -> int:
        # clip guard: the Y block's flat RGB (chroma at MCU granularity)
        # must sit >= 8 away from both rails for the ±8 AC pattern
        m = (k // bw_l // 2) * mcx + (k % bw_l) // 2
        y = level(0, k) + 128
        cb = level(1, m)
        cr = level(2, m)
        r0 = y + ((_FIX_1_40200 * cr + 32768) >> 16)
        g0 = y - ((_FIX_0_34414 * cb + _FIX_0_71414 * cr + 32768) >> 16)
        b0 = y + ((_FIX_1_77200 * cb + 32768) >> 16)
        if all(8 <= v <= 247 for v in (r0, g0, b0)):
            return jpeg_block_ac(doc_id, k)
        return 0

    def put_dc(bwr, preds, c, v):
        diff = v - preds[c]
        preds[c] = v
        s = _jpeg_cat(diff)
        code, ln = dc_codes[s]
        bwr.put(code, ln)
        if s:
            amp = diff if diff >= 0 else diff + (1 << s) - 1
            bwr.put(amp, s)

    ri = restart_interval

    # scans 1+2: DC first (Al=1) and DC refinement, interleaved MCUs
    b1 = _JpegBitWriter()
    b2 = _JpegBitWriter()
    preds = [0, 0, 0]
    for my in range(mcy):
        for mx in range(mcx):
            m = my * mcx + mx
            if ri and m and m % ri == 0:
                b1.restart(m // ri - 1)
                preds = [0, 0, 0]
                b2.restart(m // ri - 1)
            for byy in range(2):
                for bxx in range(2):
                    k = (my * 2 + byy) * bw_l + (mx * 2 + bxx)
                    put_dc(b1, preds, 0, level(0, k) >> 1)
                    b2.put(level(0, k) & 1, 1)
            put_dc(b1, preds, 1, level(1, m) >> 1)
            b2.put(level(1, m) & 1, 1)
            put_dc(b1, preds, 2, level(2, m) >> 1)
            b2.put(level(2, m) & 1, 1)
    # scan 3 + refinement scan 6: Y AC over the luma raster
    b3 = _JpegBitWriter()
    b6 = _JpegBitWriter()
    for k in range(bw_l * bh_l):
        if ri and k and k % ri == 0:
            b3.restart(k // ri - 1)
            b6.restart(k // ri - 1)
        items = {_JPEG_AC_ZI: y_ac(k)}
        _jpeg_encode_ac_first(b3, ac_codes, items, 1)
        _jpeg_encode_ac_refine(b6, ac_codes, items, 1, 0)
    # scans 4+5: Cb/Cr AC over the quarter-res raster — all zero
    code, ln = ac_codes[0x00]
    b4 = _JpegBitWriter()
    b5 = _JpegBitWriter()
    for c in range(mcx * mcy):
        if ri and c and c % ri == 0:
            b4.restart(c // ri - 1)
            b5.restart(c // ri - 1)
        b4.put(code, ln)
        b5.put(code, ln)

    def seg(marker: int, body: bytes) -> bytes:
        return bytes([0xFF, marker]) + (len(body) + 2).to_bytes(2, "big") + body

    dqt = seg(
        0xDB,
        bytes([0x00]) + bytes(_JPEG_QTABLE)
        + bytes([0x01]) + bytes(_JPEG_QTABLE),
    )
    if ri:
        dqt += seg(0xDD, ri.to_bytes(2, "big"))
    sof = seg(
        0xC2,
        b"\x08" + h.to_bytes(2, "big") + w.to_bytes(2, "big") + b"\x03"
        + bytes([1, 0x22, 0]) + bytes([2, 0x11, 1]) + bytes([3, 0x11, 1]),
    )
    dht = seg(
        0xC4,
        bytes([0x00]) + bytes(_JPEG_DC_BITS) + bytes(_JPEG_DC_VALS)
        + bytes([0x10]) + bytes(_JPEG_AC_BITS) + bytes(_JPEG_AC_VALS),
    )
    sos_dc1 = seg(
        0xDA,
        b"\x03" + bytes([1, 0x00]) + bytes([2, 0x00]) + bytes([3, 0x00])
        + bytes([0, 0, (0 << 4) | 1]),
    )
    sos_dc2 = seg(
        0xDA,
        b"\x03" + bytes([1, 0x00]) + bytes([2, 0x00]) + bytes([3, 0x00])
        + bytes([0, 0, (1 << 4) | 0]),
    )
    out = (b"\xff\xd8" + dqt + sof + dht
           + sos_dc1 + b1.flush() + sos_dc2 + b2.flush())
    out += seg(0xDA, bytes([1, 1, 0x00, 1, 63, (0 << 4) | 1])) + b3.flush()
    out += seg(0xDA, bytes([1, 2, 0x00, 1, 63, 0])) + b4.flush()
    out += seg(0xDA, bytes([1, 3, 0x00, 1, 63, 0])) + b5.flush()
    out += seg(0xDA, bytes([1, 1, 0x00, 1, 63, (1 << 4) | 0])) + b6.flush()
    return out + b"\xff\xd9"


def decode_jpeg_progressive_420_pixels(payload: bytes):
    """4:2:0 progressive decode → (width, height, sum_r, sum_g, sum_b)
    through the multi-scan coefficient accumulator (MCU-ordered
    interleaved DC scans over the sampling grid, per-component AC
    scans), nearest-neighbor chroma upsample, and the fixed-point
    YCbCr→RGB — or None."""
    import numpy as np

    dec = _decode_jpeg_progressive_coefs(payload)
    if dec is None or len(dec[2]) != 3:
        return None
    w, h, (y, cb, cr) = dec
    yi = y.astype(np.int64)
    cbi = cb.astype(np.int64) - 128
    cri = cr.astype(np.int64) - 128
    r = np.clip(yi + ((_FIX_1_40200 * cri + 32768) >> 16), 0, 255)
    g = np.clip(
        yi - ((_FIX_0_34414 * cbi + _FIX_0_71414 * cri + 32768) >> 16), 0, 255
    )
    bch = np.clip(yi + ((_FIX_1_77200 * cbi + 32768) >> 16), 0, 255)
    return w, h, int(r.sum()), int(g.sum()), int(bch.sum())


def build_jpeg_progressive_pixels(doc_id: int) -> bytes:
    """A REAL progressive (SOF2) grayscale JPEG: four genuine scans —
    DC first pass at successive-approximation Al=1 (diff-coded
    arithmetic-shifted coefficients), a DC refinement scan (one raw bit
    per block, no Huffman), an AC spectral-selection first scan
    Ss=1..63 at Al=1, and an AC successive-approximation REFINEMENT
    scan (Ah=1, Al=0) carrying correction bits and the newly-nonzero
    ±1 coefficients. Blocks carry the baseline corpus's DC levels plus
    a planted zero-pixel-sum AC coefficient (see jpeg_block_ac), so
    decoded pixel sums are identical to baseline."""
    w, h = jpeg_dims(doc_id)
    bw, bh = w // 8, h // 8
    dc_codes = _huff_codes(_JPEG_DC_BITS, _JPEG_DC_VALS)
    ac_codes = _huff_codes(_JPEG_AC_BITS, _JPEG_AC_VALS)

    def seg(marker: int, body: bytes) -> bytes:
        return bytes([0xFF, marker]) + (len(body) + 2).to_bytes(2, "big") + body

    # every scan restarts each _PROG_RST MCUs (DRI below): byte-align +
    # RSTn + DC-predictor/EOB-run reset, marker number mod 8 per scan
    rst = _PROG_RST

    # scan 1: DC first, Al=1 — diffs of (dc >> 1), arithmetic shift
    b1 = _JpegBitWriter()
    pred = 0
    for k in range(bw * bh):
        if k and k % rst == 0:
            b1.restart(k // rst - 1)
            pred = 0
        v = jpeg_block_level(doc_id, k) >> 1
        diff = v - pred
        pred = v
        s = _jpeg_cat(diff)
        code, ln = dc_codes[s]
        b1.put(code, ln)
        if s:
            amp = diff if diff >= 0 else diff + (1 << s) - 1
            b1.put(amp, s)
    # scan 2: DC refinement, Ah=1 Al=0 — one raw bit per block
    b2 = _JpegBitWriter()
    for k in range(bw * bh):
        if k and k % rst == 0:
            b2.restart(k // rst - 1)
        b2.put(jpeg_block_level(doc_id, k) & 1, 1)
    # scan 3: AC first at Al=1; scan 4: AC refinement (Ah=1, Al=0)
    b3 = _JpegBitWriter()
    b4 = _JpegBitWriter()
    for k in range(bw * bh):
        if k and k % rst == 0:
            b3.restart(k // rst - 1)
            b4.restart(k // rst - 1)
        items = {_JPEG_AC_ZI: jpeg_block_ac(doc_id, k)}
        _jpeg_encode_ac_first(b3, ac_codes, items, 1)
        _jpeg_encode_ac_refine(b4, ac_codes, items, 1, 0)

    dqt = seg(0xDB, bytes([0x00]) + bytes(_JPEG_QTABLE))
    dri = seg(0xDD, _PROG_RST.to_bytes(2, "big"))
    sof = seg(
        0xC2,  # SOF2: progressive
        b"\x08" + h.to_bytes(2, "big") + w.to_bytes(2, "big")
        + b"\x01" + bytes([1, 0x11, 0]),
    )
    dht = seg(
        0xC4,
        bytes([0x00]) + bytes(_JPEG_DC_BITS) + bytes(_JPEG_DC_VALS)
        + bytes([0x10]) + bytes(_JPEG_AC_BITS) + bytes(_JPEG_AC_VALS),
    )
    sos1 = seg(0xDA, b"\x01" + bytes([1, 0x00]) + bytes([0, 0, (0 << 4) | 1]))
    sos2 = seg(0xDA, b"\x01" + bytes([1, 0x00]) + bytes([0, 0, (1 << 4) | 0]))
    sos3 = seg(0xDA, b"\x01" + bytes([1, 0x00]) + bytes([1, 63, (0 << 4) | 1]))
    sos4 = seg(0xDA, b"\x01" + bytes([1, 0x00]) + bytes([1, 63, (1 << 4) | 0]))
    return (
        b"\xff\xd8" + dqt + dri + sof + dht
        + sos1 + b1.flush() + sos2 + b2.flush() + sos3 + b3.flush()
        + sos4 + b4.flush()
        + b"\xff\xd9"
    )


def _jpeg_ac_refine_scan(reader, act, cc, blocks, ss, se, al,
                         unit_boundary=None) -> bool:
    """AC successive-approximation refinement scan (T.81 §G.1.2.3,
    figure G.7 control flow): for every coefficient in the band whose
    history is already nonzero, one correction bit refines its magnitude
    by 1<<Al; newly-nonzero coefficients arrive as run/size symbols with
    size 1 whose run length counts only zero-HISTORY positions; EOB runs
    still carry correction bits for the nonzero-history tail of every
    block they cover. ``blocks`` is the scan's data-unit order — an
    iterable of row-major indices into ``cc`` covering the component's
    EFFECTIVE ceil(xi/8)×ceil(yi/8) block grid (T.81 A.2.2:
    non-interleaved scans code only real blocks, never the MCU padding
    an interleaved scan would include — the partial-MCU case a foreign
    24×16 4:2:0 progressive fixture exposed). Mutates ``cc`` (blocks ×
    64 zigzag coefficients) in place; returns False on a corrupt
    stream."""
    p1 = 1 << al
    m1 = -p1
    eobrun = 0
    for k in blocks:
        if unit_boundary is not None:
            r = unit_boundary()
            if r < 0:
                return False
            if r:
                eobrun = 0  # RSTn resets the EOB run and bit alignment
        idx = ss
        # work on a plain-Python list view of the block's band: the
        # per-coefficient walk below touches every position up to se,
        # and numpy SCALAR reads/writes (cc[k, idx]) cost ~5× a list
        # index — same values, written back once per block (r16; the
        # batched-IDCT rewrite covered the baseline path, this covers
        # the per-scan refinement walk)
        row = cc[k].tolist()
        dirty = False
        if eobrun == 0:
            while idx <= se:
                rs = _huff_decode(reader, act)
                if rs is None:
                    return False
                r, sz = rs >> 4, rs & 0x0F
                val = 0
                if sz == 0:
                    if r != 15:  # EOB run (includes this block's tail)
                        extra = reader.bits(r) if r else 0
                        if extra is None:
                            return False
                        eobrun = (1 << r) + extra
                        break
                    # ZRL: pass 16 zero-history coefficients
                else:
                    if sz != 1:
                        return False  # refinement sizes are always 1
                    sign = reader.bits(1)
                    if sign is None:
                        return False
                    val = p1 if sign else m1
                # advance over r zero-history positions, emitting a
                # correction to every nonzero-history coefficient passed
                while idx <= se:
                    coef = row[idx]
                    if coef != 0:
                        bit = reader.bits(1)
                        if bit is None:
                            return False
                        if bit and (coef & p1) == 0:
                            row[idx] = coef + (p1 if coef > 0 else m1)
                            dirty = True
                    else:
                        if r == 0:
                            break
                        r -= 1
                    idx += 1
                if val:
                    if idx > se:
                        return False  # run overran the band
                    row[idx] = val
                    dirty = True
                idx += 1
        if eobrun:
            # the EOB-covered remainder still refines nonzero history
            while idx <= se:
                coef = row[idx]
                if coef != 0:
                    bit = reader.bits(1)
                    if bit is None:
                        return False
                    if bit and (coef & p1) == 0:
                        row[idx] = coef + (p1 if coef > 0 else m1)
                        dirty = True
                idx += 1
            eobrun -= 1
        if dirty:
            cc[k] = row
    return True


def _decode_jpeg_progressive_coefs(payload: bytes):
    """Progressive (SOF2) decode core: multi-scan coefficient
    accumulation — interleaved DC first/refinement scans over all scan
    components, single-component AC spectral-selection first scans with
    EOBRUN, and AC successive-approximation refinement scans (Ah>0,
    T.81 §G.1.2.3) — then one dequantize + IDCT per block.

    Supports 1-component grayscale, 3-component 4:4:4, and the 4:2:0
    sampling grid (luma 2x2, chromas 1x1 — interleaved DC scans walk
    MCUs over mixed-resolution component grids, AC scans walk each
    component's own raster). Returns (w, h, [plane ndarray per
    component, subsampled planes upsampled by replication]) or None on
    structural damage or unsupported grids, never raising.
    """
    import numpy as np

    b = payload
    if b is None or len(b) < 4 or b[:2] != b"\xff\xd8":
        return None
    qtables: dict[int, list[int]] = {}
    htables: dict[tuple[int, int], dict[tuple[int, int], int]] = {}
    w = h = None
    sof_comps: dict[int, int] = {}   # cid -> quant table id (order kept)
    samp: dict[int, tuple[int, int]] = {}   # cid -> (hi, vi)
    grid: dict[int, tuple[int, int]] = {}   # cid -> PADDED blocks (cbw, cbh)
    eff: dict[int, tuple[int, int]] = {}    # cid -> effective blocks
    cids: list[int] = []
    pos = 2
    coefs: dict[int, "np.ndarray"] = {}
    hmax = vmax = mcus_x = mcus_y = 0
    ri = 0  # DRI restart interval in MCUs / data units (0 = none)
    while pos + 4 <= len(b):
        if b[pos] != 0xFF:
            return None
        marker = b[pos + 1]
        if marker == 0xD9:  # EOI
            break
        if marker in _JPEG_STANDALONE:
            pos += 2
            continue
        ln = int.from_bytes(b[pos + 2 : pos + 4], "big")
        body = b[pos + 4 : pos + 2 + ln]
        if len(body) != ln - 2:
            return None
        if marker == 0xDB:
            i = 0
            while i < len(body):
                pq, tq = body[i] >> 4, body[i] & 0x0F
                if pq != 0 or i + 65 > len(body):
                    return None
                qtables[tq] = list(body[i + 1 : i + 65])
                i += 65
        elif marker == 0xC4:
            i = 0
            while i + 17 <= len(body):
                tc, th = body[i] >> 4, body[i] & 0x0F
                bits = list(body[i + 1 : i + 17])
                nvals = sum(bits)
                vals = list(body[i + 17 : i + 17 + nvals])
                if len(vals) != nvals:
                    return None
                dec: dict[tuple[int, int], int] = {}
                code = 0
                k = 0
                for L in range(1, 17):
                    for _ in range(bits[L - 1]):
                        dec[(L, code)] = vals[k]
                        code += 1
                        k += 1
                    code <<= 1
                htables[(tc, th)] = dec
                i += 17 + nvals
        elif marker == 0xC2:  # SOF2 progressive
            if len(body) < 9 or body[0] != 8:
                return None
            h = int.from_bytes(body[1:3], "big")
            w = int.from_bytes(body[3:5], "big")
            nf = body[5]
            if nf not in (1, 3) or len(body) < 6 + 3 * nf:
                return None
            samplings = []
            for ci in range(nf):
                cid = body[6 + 3 * ci]
                hv = body[7 + 3 * ci]
                samp[cid] = (hv >> 4, hv & 0x0F)
                samplings.append(samp[cid])
                sof_comps[cid] = body[8 + 3 * ci]
                cids.append(cid)
            # same grids the baseline core supports: all 1x1, or 4:2:0
            if not (
                all(s == (1, 1) for s in samplings)
                or (nf == 3 and samplings == [(2, 2), (1, 1), (1, 1)])
            ):
                return None  # other subsampling grids: boundary
            if w == 0 or h == 0 or w * h * 3 > _MAX_DECODED_BYTES:
                return None  # declared-geometry allocation ceiling (r11)
            hmax = max(s[0] for s in samplings)
            vmax = max(s[1] for s in samplings)
            mcus_x = (w + 8 * hmax - 1) // (8 * hmax)
            mcus_y = (h + 8 * vmax - 1) // (8 * vmax)
            for cid in cids:
                hi, vi = samp[cid]
                grid[cid] = (mcus_x * hi, mcus_y * vi)
                # effective block dims (T.81 A.1.1/A.2.2): xi=ceil(X*Hi/
                # Hmax), yi=ceil(Y*Vi/Vmax); NON-interleaved scans code
                # exactly ceil(xi/8)×ceil(yi/8) data units — the padded
                # MCU grid applies to interleaved scans only. A partial
                # right/bottom MCU makes these differ (24×16 4:2:0 luma:
                # 3×2 real blocks in a 4×2 padded grid).
                xi = -(-w * hi // hmax)
                yi = -(-h * vi // vmax)
                eff[cid] = ((xi + 7) // 8, (yi + 7) // 8)
                coefs[cid] = np.zeros(
                    (grid[cid][0] * grid[cid][1], 64), dtype=np.int64
                )
        elif marker == 0xC0:
            return None  # baseline stream: use the baseline decoders
        elif marker == 0xDD:  # DRI: restart interval (T.81 B.2.4.4)
            if len(body) != 2:
                return None
            ri = int.from_bytes(body, "big")
        elif marker in (0xC1, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA,
                        0xCB, 0xCD, 0xCE, 0xCF):
            return None
        elif marker == 0xDA:  # one progressive scan
            if not coefs or len(body) < 4:
                return None
            ns = body[0]
            if len(body) < 1 + 2 * ns + 3 or ns == 0:
                return None
            scomps = []  # (cid, dc_id, ac_id)
            for ci in range(ns):
                cid = body[1 + 2 * ci]
                if cid not in sof_comps:
                    return None
                tb = body[2 + 2 * ci]
                scomps.append((cid, tb >> 4, tb & 0x0F))
            off = 1 + 2 * ns
            ss, se = body[off], body[off + 1]
            ah, al = body[off + 2] >> 4, body[off + 2] & 0x0F
            reader = _JpegBitReader(b, pos + 2 + ln)

            # T.81 F.2.1.3 restart semantics: count data units against
            # the DRI interval and EXPECT an RSTn (validated modulo-8
            # number) every `ri` units — never peek at reader.marker,
            # which the lazy fill may not have fetched yet at a
            # data-unit boundary. Numbering resets to RST0 per scan.
            rst_state = [0, 0]  # [units decoded, next RSTn number]

            def unit_boundary() -> int:
                # start of the next MCU / data unit. 0 = no restart
                # due, 1 = restart consumed (caller resets predictors /
                # EOB run), -1 = corrupt (expected marker missing).
                units, n = rst_state
                rst_state[0] = units + 1
                if ri and units and units % ri == 0:
                    if not reader.expect_restart(n):
                        return -1
                    rst_state[1] = n + 1
                    return 1
                return 0

            def scan_block_order():
                # T.81 data-unit order: interleaved scans visit MCUs,
                # each component contributing its hi x vi blocks in
                # raster order; single-component scans walk that
                # component's own block grid in raster order. The third
                # element marks restart-checkable boundaries (MCU
                # starts / every block when non-interleaved).
                if len(scomps) > 1:
                    for my in range(mcus_y):
                        for mx in range(mcus_x):
                            first = True
                            for cid_, _, _ in scomps:
                                hi, vi = samp[cid_]
                                cbw = grid[cid_][0]
                                for byy in range(vi):
                                    for bxx in range(hi):
                                        yield (cid_,
                                               (my * vi + byy) * cbw
                                               + (mx * hi + bxx),
                                               first)
                                        first = False
                else:
                    # non-interleaved: the component's EFFECTIVE block
                    # raster only (T.81 A.2.2) — row-major indices into
                    # the padded storage grid
                    cid_ = scomps[0][0]
                    cbw = grid[cid_][0]
                    ebw, ebh = eff[cid_]
                    for yy in range(ebh):
                        for xx in range(ebw):
                            yield cid_, yy * cbw + xx, True

            if ss == 0 and se == 0:  # DC scan
                if ah == 0:
                    dcts = {}
                    for cid, dc_id, _ in scomps:
                        t = htables.get((0, dc_id))
                        if t is None:
                            return None
                        dcts[cid] = t
                    preds = {cid: 0 for cid, _, _ in scomps}
                    for cid, k, boundary in scan_block_order():
                        if boundary:
                            r = unit_boundary()
                            if r < 0:
                                return None
                            if r:
                                preds = {c: 0 for c, _, _ in scomps}
                        s = _huff_decode(reader, dcts[cid])
                        if s is None or s > 11:
                            return None
                        if s:
                            amp = reader.bits(s)
                            if amp is None:
                                return None
                            preds[cid] += _extend(amp, s)
                        coefs[cid][k, 0] = preds[cid] << al
                else:  # DC refinement: one raw bit per component block
                    for cid, k, boundary in scan_block_order():
                        if boundary and unit_boundary() < 0:
                            return None  # alignment reset only
                        bit = reader.bits(1)
                        if bit is None:
                            return None
                        coefs[cid][k, 0] |= bit << al
            else:  # AC band: single component only (T.81 G.1.1.1.1)
                if ns != 1:
                    return None
                if not (1 <= ss <= se <= 63):
                    return None
                cid, _, ac_id = scomps[0]
                act = htables.get((1, ac_id))
                if act is None:
                    return None
                cc = coefs[cid]
                # AC scans are always non-interleaved: effective blocks
                # only, mapped row-major into the padded grid
                cbw = grid[cid][0]
                ebw, ebh = eff[cid]
                ac_blocks = [
                    yy * cbw + xx for yy in range(ebh) for xx in range(ebw)
                ]
                eobrun = 0
                if ah == 0:  # first scan for this band
                    for k in ac_blocks:
                        r = unit_boundary()
                        if r < 0:
                            return None
                        if r:
                            eobrun = 0
                        if eobrun:
                            eobrun -= 1
                            continue
                        idx = ss - 1
                        while idx < se:
                            rs = _huff_decode(reader, act)
                            if rs is None:
                                return None
                            r, sz = rs >> 4, rs & 0x0F
                            if sz == 0:
                                if r == 15:  # ZRL
                                    idx += 16
                                    continue
                                extra = reader.bits(r) if r else 0
                                if extra is None:
                                    return None
                                eobrun = (1 << r) - 1 + extra
                                break
                            idx += r + 1
                            if idx > se:
                                return None
                            amp = reader.bits(sz)
                            if amp is None:
                                return None
                            cc[k, idx] = _extend(amp, sz) << al
                else:  # successive-approximation refinement (T.81 G.1.2.3)
                    if not _jpeg_ac_refine_scan(
                        reader, act, cc, ac_blocks, ss, se, al,
                        unit_boundary,
                    ):
                        return None
            # advance past the entropy data to the next marker
            pos = reader.pos
            continue
        pos += 2 + ln
    if not coefs or w is None or w == 0 or h == 0:
        return None
    planes = []
    for cid in cids:
        q = qtables.get(sof_comps[cid])
        if q is None:
            return None
        qa = np.array(q, dtype=np.float64)
        cbw, cbh = grid[cid]
        # batched dequant+IDCT+clip (see _idct_blocks) over the stored
        # coefficient rows, assembled by reshape — the rows are already
        # in the component's row-major block raster
        px = _idct_blocks(coefs[cid], qa)
        plane = (
            px.reshape(cbh, cbw, 8, 8)
            .transpose(0, 2, 1, 3)
            .reshape(cbh * 8, cbw * 8)
        )
        # upsample subsampled components by replication (nearest — flat
        # blocks stay exactly flat), then crop to the declared bounds
        hi, vi = samp[cid]
        if hi < hmax:
            plane = np.repeat(plane, hmax // hi, axis=1)
        if vi < vmax:
            plane = np.repeat(plane, vmax // vi, axis=0)
        planes.append(plane[:h, :w])
    return w, h, planes


def build_jpeg_progressive_color_pixels(doc_id: int) -> bytes:
    """A REAL progressive COLOR JPEG (SOF2, 4:4:4): an interleaved DC
    first scan at Al=1 over all three components, an interleaved DC
    refinement scan, single-component AC spectral-selection scans (Y at
    Al=1, Cb/Cr complete at Al=0), and a final Y AC successive-
    approximation refinement scan (Ah=1) — the scan script real
    progressive encoders emit. Same Y/Cb/Cr block levels as the
    baseline color corpus, plus a clip-guarded zero-pixel-sum AC plant
    in Y (see jpeg_block_ac), so decoded RGB sums match baseline."""
    w, h = jpeg_dims(doc_id)
    bw, bh = w // 8, h // 8
    dc_codes = _huff_codes(_JPEG_DC_BITS, _JPEG_DC_VALS)
    ac_codes = _huff_codes(_JPEG_AC_BITS, _JPEG_AC_VALS)

    def seg(marker: int, body: bytes) -> bytes:
        return bytes([0xFF, marker]) + (len(body) + 2).to_bytes(2, "big") + body

    def level(c, k):
        if c == 0:
            return jpeg_block_level(doc_id, k)
        return jpeg_chroma_level(doc_id, k, c - 1)

    # scan 1: interleaved DC first, Al=1
    b1 = _JpegBitWriter()
    preds = [0, 0, 0]
    for k in range(bw * bh):
        for c in range(3):
            v = level(c, k) >> 1
            diff = v - preds[c]
            preds[c] = v
            s = _jpeg_cat(diff)
            code, ln = dc_codes[s]
            b1.put(code, ln)
            if s:
                amp = diff if diff >= 0 else diff + (1 << s) - 1
                b1.put(amp, s)
    # scan 2: interleaved DC refinement
    b2 = _JpegBitWriter()
    for k in range(bw * bh):
        for c in range(3):
            b2.put(level(c, k) & 1, 1)
    # Y carries the planted AC (zero pixel-sum pattern, see
    # jpeg_block_ac) wherever ±8 around the block's flat RGB cannot
    # reach the clip rails — outside that guard the YCbCr→RGB transform
    # would clip asymmetrically and the per-block sums would shift.
    def y_ac(k: int) -> int:
        y = level(0, k) + 128
        cb = level(1, k)
        cr = level(2, k)
        r0 = y + ((_FIX_1_40200 * cr + 32768) >> 16)
        g0 = y - ((_FIX_0_34414 * cb + _FIX_0_71414 * cr + 32768) >> 16)
        b0 = y + ((_FIX_1_77200 * cb + 32768) >> 16)
        if all(8 <= v <= 247 for v in (r0, g0, b0)):
            return jpeg_block_ac(doc_id, k)
        return 0

    # scan 3: Y AC first at Al=1 (+ scan 6 refinement later); scans
    # 4-5: Cb/Cr AC first at Al=0 — all zero: one EOB per block
    ac_scans = []
    ac_refine_y = _JpegBitWriter()
    by_ = _JpegBitWriter()
    for k in range(bw * bh):
        items = {_JPEG_AC_ZI: y_ac(k)}
        _jpeg_encode_ac_first(by_, ac_codes, items, 1)
        _jpeg_encode_ac_refine(ac_refine_y, ac_codes, items, 1, 0)
    ac_scans.append(by_.flush())
    code, ln = ac_codes[0x00]
    for _c in range(2):
        bx = _JpegBitWriter()
        for _ in range(bw * bh):
            bx.put(code, ln)
        ac_scans.append(bx.flush())

    dqt = seg(
        0xDB,
        bytes([0x00]) + bytes(_JPEG_QTABLE)
        + bytes([0x01]) + bytes(_JPEG_QTABLE),
    )
    sof = seg(
        0xC2,
        b"\x08" + h.to_bytes(2, "big") + w.to_bytes(2, "big") + b"\x03"
        + bytes([1, 0x11, 0]) + bytes([2, 0x11, 1]) + bytes([3, 0x11, 1]),
    )
    dht = seg(
        0xC4,
        bytes([0x00]) + bytes(_JPEG_DC_BITS) + bytes(_JPEG_DC_VALS)
        + bytes([0x10]) + bytes(_JPEG_AC_BITS) + bytes(_JPEG_AC_VALS),
    )
    sos_dc1 = seg(
        0xDA,
        b"\x03" + bytes([1, 0x00]) + bytes([2, 0x00]) + bytes([3, 0x00])
        + bytes([0, 0, (0 << 4) | 1]),
    )
    sos_dc2 = seg(
        0xDA,
        b"\x03" + bytes([1, 0x00]) + bytes([2, 0x00]) + bytes([3, 0x00])
        + bytes([0, 0, (1 << 4) | 0]),
    )
    out = b"\xff\xd8" + dqt + sof + dht + sos_dc1 + b1.flush() \
        + sos_dc2 + b2.flush()
    # Y's AC first scan runs at Al=1; Cb/Cr complete in one Al=0 scan
    out += seg(0xDA, bytes([1, 1, 0x00, 1, 63, (0 << 4) | 1])) + ac_scans[0]
    for c in (1, 2):
        out += seg(0xDA, bytes([1, c + 1, 0x00, 1, 63, 0])) + ac_scans[c]
    out += seg(0xDA, bytes([1, 1, 0x00, 1, 63, (1 << 4) | 0])) \
        + ac_refine_y.flush()
    return out + b"\xff\xd9"


def decode_jpeg_progressive_pixels(payload: bytes):
    """Grayscale progressive decode → (width, height, sum_gray), or
    None (see _decode_jpeg_progressive_coefs)."""
    dec = _decode_jpeg_progressive_coefs(payload)
    if dec is None or len(dec[2]) != 1:
        return None
    w, h, planes = dec
    return w, h, int(planes[0].sum())


def decode_jpeg_progressive_color_pixels(payload: bytes):
    """3-component 4:4:4 progressive decode → per-channel RGB sums via
    the same fixed-point YCbCr→RGB as the baseline color path:
    (width, height, sum_r, sum_g, sum_b), or None."""
    import numpy as np

    dec = _decode_jpeg_progressive_coefs(payload)
    if dec is None or len(dec[2]) != 3:
        return None
    w, h, (y, cb, cr) = dec
    yi = y.astype(np.int64)
    cbi = cb.astype(np.int64) - 128
    cri = cr.astype(np.int64) - 128
    r = np.clip(yi + ((_FIX_1_40200 * cri + 32768) >> 16), 0, 255)
    g = np.clip(
        yi - ((_FIX_0_34414 * cbi + _FIX_0_71414 * cri + 32768) >> 16), 0, 255
    )
    bch = np.clip(yi + ((_FIX_1_77200 * cbi + 32768) >> 16), 0, 255)
    return w, h, int(r.sum()), int(g.sum()), int(bch.sum())


# libjpeg-style 16-bit fixed-point YCbCr→RGB (JFIF / CCIR 601 matrix):
# R = Y + 1.40200*(Cr-128); G = Y - 0.34414*(Cb-128) - 0.71414*(Cr-128);
# B = Y + 1.77200*(Cb-128), each term as round-half-up fixed point with
# SCALEBITS=16 then floor-shifted — pure integer arithmetic the SQL
# oracle can restate with floor((x + 32768)/65536).
_FIX_1_40200 = 91881
_FIX_0_34414 = 22554
_FIX_0_71414 = 46802
_FIX_1_77200 = 116130


def decode_jpeg_color_pixels(payload: bytes):
    """3-component 4:4:4 baseline JPEG decode → per-channel RGB sums via
    integer fixed-point YCbCr→RGB: (width, height, sum_r, sum_g, sum_b),
    or None for grayscale streams / damage / boundaries."""
    import numpy as np

    dec = _decode_jpeg_planes(payload)
    if dec is None or len(dec[2]) != 3:
        return None
    w, h, (y, cb, cr) = dec
    yi = y.astype(np.int64)
    cbi = cb.astype(np.int64) - 128
    cri = cr.astype(np.int64) - 128
    r = yi + ((_FIX_1_40200 * cri + 32768) >> 16)
    g = yi - ((_FIX_0_34414 * cbi + _FIX_0_71414 * cri + 32768) >> 16)
    bch = yi + ((_FIX_1_77200 * cbi + 32768) >> 16)
    r = np.clip(r, 0, 255)
    g = np.clip(g, 0, 255)
    bch = np.clip(bch, 0, 255)
    return w, h, int(r.sum()), int(g.sum()), int(bch.sum())


def jpeg_cmyk_level(doc_id: int, k: int, band: int) -> int:
    """Deterministic per-block flat level in [-112, 112] for stored
    band ``band`` (0..3) — mirrored by the SQL oracle."""
    return ((doc_id * (3 + band) + k * (5 + 2 * band)) % 225) - 112


def build_jpeg_cmyk_pixels(doc_id: int) -> bytes:
    """A REAL 4-component baseline JPEG (CMYK convention): SOF0 with
    four 0x11-sampled components, one shared quant/Huffman table set,
    interleaved 4-block MCUs with independent DC predictors. DC-only
    blocks keep every pixel exactly flat (level + 128 at q0=8), so the
    SQL oracle states every band mean with integer arithmetic."""
    w, h = jpeg_dims(doc_id)
    bw, bh = w // 8, h // 8
    dc_codes = _huff_codes(_JPEG_DC_BITS, _JPEG_DC_VALS)
    ac_codes = _huff_codes(_JPEG_AC_BITS, _JPEG_AC_VALS)

    bwr = _JpegBitWriter()
    preds = [0, 0, 0, 0]
    for k in range(bw * bh):
        for c in range(4):
            dc = jpeg_cmyk_level(doc_id, k, c)
            diff = dc - preds[c]
            preds[c] = dc
            s = _jpeg_cat(diff)
            code, ln = dc_codes[s]
            bwr.put(code, ln)
            if s:
                amp = diff if diff >= 0 else diff + (1 << s) - 1
                bwr.put(amp, s)
            code, ln = ac_codes[0x00]  # EOB
            bwr.put(code, ln)
    scan = bwr.flush()

    def seg(marker: int, body: bytes) -> bytes:
        return bytes([0xFF, marker]) + (len(body) + 2).to_bytes(2, "big") + body

    dqt = seg(0xDB, bytes([0x00]) + bytes(_JPEG_QTABLE))
    # Adobe APP14 with transform=0 (no color transform — bands are
    # stored as-is), the marker real CMYK exports carry
    adobe = seg(
        0xEE, b"Adobe" + b"\x00\x64" + b"\x00\x00" + b"\x00\x00" + b"\x00"
    )
    sof = seg(
        0xC0,
        b"\x08" + h.to_bytes(2, "big") + w.to_bytes(2, "big") + b"\x04"
        + b"".join(bytes([i + 1, 0x11, 0]) for i in range(4)),
    )
    dht = seg(
        0xC4,
        bytes([0x00]) + bytes(_JPEG_DC_BITS) + bytes(_JPEG_DC_VALS)
        + bytes([0x10]) + bytes(_JPEG_AC_BITS) + bytes(_JPEG_AC_VALS),
    )
    sos = seg(
        0xDA,
        b"\x04" + b"".join(bytes([i + 1, 0x00]) for i in range(4))
        + b"\x00\x3f\x00",
    )
    return b"\xff\xd8" + adobe + dqt + sof + dht + sos + scan + b"\xff\xd9"


JPEG_CMYK_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("sum_c", LongType(), True),
        StructField("sum_m", LongType(), True),
        StructField("sum_y", LongType(), True),
        StructField("sum_k", LongType(), True),
    ]
)


def synthesize_jpeg_cmyk_pixels(docs: DataFrame) -> DataFrame:
    """One real 4-component baseline JPEG per doc (Arrow mapInPandas)."""
    return CODECS["jpeg_cmyk"].synthesize(docs)


def jpeg_cmyk_stats(with_media: DataFrame) -> DataFrame:
    """payload → per-stored-band integer sums (all-integer output keeps
    the cross-engine oracle tie-free) via the full 4-component baseline
    decode (map-only, NULL on corruption)."""
    return CODECS["jpeg_cmyk"].decode(with_media)


def decode_jpeg_cmyk_pixels(payload: bytes):
    """4-component (CMYK-convention) baseline JPEG decode →
    (width, height, sum_b0, sum_b1, sum_b2, sum_b3) over the four
    STORED planes, or None for other component counts / damage /
    boundaries.

    No inverse color transform is applied: 4-component JPEGs carry
    either raw CMYK (no Adobe APP14, or transform=0) or YCCK
    (transform=2), and which bands mean what is metadata-dependent —
    so this returns the decoded planes' sums as stored, the honest
    primitive a router can combine with the APP14 transform flag
    (surfaced by decode_real's n_comp and a marker walk) when true RGB
    is needed. Exercised by the foreign cmyk4.jpg / adobe_ycck.jpg
    fixtures (javax-encoded raw 4-band raster, with and without the
    spliced Adobe segment)."""
    dec = _decode_jpeg_planes(payload)
    if dec is None or len(dec[2]) != 4:
        return None
    w, h, planes = dec
    return (w, h) + tuple(int(p.sum()) for p in planes)


JPEG_PIXEL_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("mean_gray", DoubleType(), True),
    ]
)


def synthesize_jpeg_pixels(docs: DataFrame) -> DataFrame:
    """One real baseline JPEG per doc (Arrow mapInPandas, map-only)."""
    return CODECS["jpeg"].synthesize(docs)


def jpeg_pixel_stats(with_media: DataFrame) -> DataFrame:
    """payload → gray-channel mean via the full baseline decode path
    (same map-only shape and NULL-on-corruption contract as pixel_stats)."""
    return CODECS["jpeg"].decode(with_media)


def synthesize_jpeg_progressive_pixels(docs: DataFrame) -> DataFrame:
    """One real progressive (SOF2) JPEG per doc (Arrow mapInPandas)."""
    return CODECS["jpeg_progressive"].synthesize(docs)


def jpeg_progressive_stats(with_media: DataFrame) -> DataFrame:
    """payload → gray mean via the multi-scan progressive decode path
    (map-only, NULL on corruption)."""
    return CODECS["jpeg_progressive"].decode(with_media)


JPEG_COLOR_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("mean_r", DoubleType(), True),
        StructField("mean_g", DoubleType(), True),
        StructField("mean_b", DoubleType(), True),
    ]
)


def synthesize_jpeg_color_pixels(docs: DataFrame) -> DataFrame:
    """One real 4:4:4 color baseline JPEG per doc (Arrow mapInPandas)."""
    return CODECS["jpeg_color"].synthesize(docs)


def synthesize_jpeg_420_pixels(docs: DataFrame) -> DataFrame:
    """One real 4:2:0 subsampled color JPEG per doc (Arrow mapInPandas)."""
    return CODECS["jpeg_420"].synthesize(docs)


def jpeg_color_stats(with_media: DataFrame) -> DataFrame:
    """payload → RGB channel means via the full 3-component baseline
    decode + fixed-point YCbCr→RGB (map-only, NULL on corruption)."""
    return CODECS["jpeg_color"].decode(with_media)


def synthesize_jpeg_progressive_color_pixels(docs: DataFrame) -> DataFrame:
    """One real progressive color JPEG per doc (Arrow mapInPandas)."""
    return CODECS["jpeg_progressive_color"].synthesize(docs)


def jpeg_progressive_color_stats(with_media: DataFrame) -> DataFrame:
    """payload → RGB channel means via the multi-scan progressive color
    decode (map-only, NULL on corruption)."""
    return CODECS["jpeg_progressive_color"].decode(with_media)


def synthesize_jpeg_progressive_420_pixels(docs: DataFrame) -> DataFrame:
    """One real progressive 4:2:0 JPEG per doc (Arrow mapInPandas)."""
    return CODECS["jpeg_progressive_420"].synthesize(docs)


def jpeg_progressive_420_stats(with_media: DataFrame) -> DataFrame:
    """payload → RGB channel means via the subsampled multi-scan
    progressive decode (map-only, NULL on corruption)."""
    return CODECS["jpeg_progressive_420"].decode(with_media)


# ---------------------------------------------------------------------------
# REAL audio sample decode #2 (FLAC, CONSTANT/VERBATIM/FIXED subframes)
# — the FLAC counterpart of the WAV/PCM path, from the public FLAC format
# specification (RFC 9639). Everything is real: frame-header sync and
# field parsing, UTF-8-coded frame number, CRC-8 header check, bit-packed
# subframe decode, Rice-coded residual decode with fixed-predictor
# reconstruction (§9.2.2 orders 0-4, §9.2.7 partitioned Rice incl. the
# escape encoding), CRC-16 frame check. All three subframe types are
# lossless integer arithmetic, so the sample statistics stay
# oracle-expressible; LPC prediction remains the documented codec
# boundary (reject to None).
# ---------------------------------------------------------------------------


def _crc8(data: bytes) -> int:
    """CRC-8, poly x^8+x^2+x^1+1 (0x07), init 0 — FLAC frame header CRC."""
    crc = 0
    for b in data:
        crc ^= b
        for _ in range(8):
            crc = ((crc << 1) ^ 0x07) & 0xFF if crc & 0x80 else (crc << 1) & 0xFF
    return crc


def _crc16(data: bytes) -> int:
    """CRC-16, poly x^16+x^15+x^2+1 (0x8005), init 0 — FLAC frame CRC."""
    crc = 0
    for b in data:
        crc ^= b << 8
        for _ in range(8):
            crc = ((crc << 1) ^ 0x8005) & 0xFFFF if crc & 0x8000 else (crc << 1) & 0xFFFF
    return crc


def flac_sample_count(doc_id: int) -> int:
    return (doc_id % 100) + 20


def flac_constant_value(doc_id: int) -> int:
    return ((doc_id * 13) % 4096) - 2048


def flac_verbatim_value(doc_id: int, i: int) -> int:
    return ((doc_id * 13 + i * i * 7) % 4096) - 2048


_FIXED_COEFFS = (
    (),
    (1,),
    (2, -1),
    (3, -3, 1),
    (4, -6, 4, -1),
)


def flac_subframe_kind(doc_id: int) -> int:
    """0=CONSTANT, 1=VERBATIM, 2=FIXED (order (doc_id//3) % 5), 3=LPC
    (order 2, coeffs [3,-1], shift 1)."""
    return doc_id % 4


def flac_sample_value(doc_id: int, i: int) -> int:
    """Decoded sample i of doc ``doc_id`` irrespective of encoding:
    CONSTANT docs repeat the constant; VERBATIM, FIXED and LPC docs
    carry the same quadratic formula (prediction merely encodes it, so
    the oracle never needs to know the subframe type beyond the
    constant/non-constant split)."""
    if flac_subframe_kind(doc_id) == 0:
        return flac_constant_value(doc_id)
    return flac_verbatim_value(doc_id, i)


def _flac_put_residuals(put, residuals) -> None:
    """Emit one coded-residual block (method 0, partition order 0) via
    the caller's bit writer. The smallest Rice parameter keeping every
    unary quotient ≤ 15 is chosen, capped at p = 14: 0b1111 is the
    ESCAPE code, not a 15-bit Rice parameter, so an encoder landing on
    p == 15 would emit partitions the decoder (correctly) reads as
    unencoded. Residuals too large for p = 14 fall back to that escape
    hatch — raw two's-complement at the smallest width that holds every
    residual (the 5-bit width field allows up to 31 bits)."""
    put(0b00, 2)
    put(0, 4)
    zz = [(2 * r) if r >= 0 else (-2 * r - 1) for r in residuals]
    p = 0
    while zz and max(zz) >> p > 15 and p < 14:
        p += 1
    if zz and max(zz) >> p > 15:
        # two's-complement width w holds r iff -2^(w-1) <= r < 2^(w-1);
        # max(zz) = max(2r, -2r-1) < 2^w exactly captures that bound
        rawbits = max(zz).bit_length()
        if rawbits > 31:
            raise ValueError(
                f"residual magnitude {max(zz) >> 1} exceeds the 31-bit "
                "escape-coding ceiling"
            )
        put(0b1111, 4)  # escape: raw residuals at a fixed bit width
        put(rawbits, 5)
        for r in residuals:
            put(r & ((1 << rawbits) - 1), rawbits)
        return
    put(p, 4)
    for z in zz:
        q = z >> p
        put(0, q)      # q zero bits...
        put(1, 1)      # ...terminated by a 1 (unary quotient)
        if p:
            put(z & ((1 << p) - 1), p)


def build_flac_samples(doc_id: int) -> bytes:
    """A REAL playable-layout FLAC: STREAMINFO + one frame holding a
    CONSTANT (doc_id%4==0), VERBATIM (%4==1), FIXED-predictor (%4==2,
    order (doc_id//3)%5) or LPC (%4==3, order 2, quantized coeffs
    [3,-1] at precision 4 with shift 1) mono 16-bit subframe — all with
    genuine Rice-coded residuals (RFC 9639 §9.2.2-§9.2.7) and real
    CRC-8 / CRC-16."""
    rate = AUDIO_RATES[doc_id % len(AUDIO_RATES)]
    n = flac_sample_count(doc_id)

    header = bytearray()
    # sync(14)=0b11111111111110, reserved(1)=0, blocking(1)=0 fixed
    header += b"\xff\xf8"
    # blocksize code 0b0111 (16-bit n-1 follows), rate code 0b0000 (from
    # STREAMINFO)
    header.append(0x70)
    # channel assignment 0b0000 (mono), sample size 0b100 (16 bit),
    # reserved 0
    header.append(0x08)
    header.append(0x00)  # UTF-8 coded frame number 0
    header += (n - 1).to_bytes(2, "big")
    header.append(_crc8(bytes(header)))

    bwr = bytearray()
    acc = 0
    nbits = 0

    def put(value: int, length: int) -> None:
        nonlocal acc, nbits
        for i in range(length - 1, -1, -1):
            acc = (acc << 1) | ((value >> i) & 1)
            nbits += 1
            if nbits == 8:
                bwr.append(acc)
                acc = 0
                nbits = 0

    def put_residuals(residuals):
        _flac_put_residuals(put, residuals)

    kind = flac_subframe_kind(doc_id)
    if kind == 0:
        put(0, 1)          # zero pad bit
        put(0b000000, 6)   # CONSTANT
        put(0, 1)          # no wasted bits
        put(flac_constant_value(doc_id) & 0xFFFF, 16)
    elif kind == 1:
        put(0, 1)
        put(0b000001, 6)   # VERBATIM
        put(0, 1)
        for i in range(n):
            put(flac_verbatim_value(doc_id, i) & 0xFFFF, 16)
    elif kind == 2:
        order = min((doc_id // 3) % 5, n - 1)
        samples = [flac_verbatim_value(doc_id, i) for i in range(n)]
        coeffs = _FIXED_COEFFS[order]
        residuals = [
            samples[i] - sum(c * samples[i - 1 - j] for j, c in enumerate(coeffs))
            for i in range(order, n)
        ]
        put(0, 1)
        put(0b001000 | order, 6)  # FIXED, order 0..4
        put(0, 1)
        for i in range(order):    # warm-up: raw samples at bit depth
            put(samples[i] & 0xFFFF, 16)
        put_residuals(residuals)
    else:
        # LPC order 2: s[i] ≈ (3*s[i-1] - 1*s[i-2]) >> 1
        order, coeffs, shift, prec = 2, [3, -1], 1, 4
        samples = [flac_verbatim_value(doc_id, i) for i in range(n)]
        residuals = [
            samples[i]
            - (sum(c * samples[i - 1 - j] for j, c in enumerate(coeffs))
               >> shift)
            for i in range(order, n)
        ]
        put(0, 1)
        put(0b100000 | (order - 1), 6)  # LPC, order field = order-1
        put(0, 1)
        for i in range(order):
            put(samples[i] & 0xFFFF, 16)
        put(prec - 1, 4)
        put(shift, 5)
        for c in coeffs:
            put(c & ((1 << prec) - 1), prec)
        put_residuals(residuals)
    if nbits:
        put(0, 8 - nbits)  # zero-pad to byte alignment

    frame = bytes(header) + bytes(bwr)
    frame += _crc16(frame).to_bytes(2, "big")
    return build_flac(rate, 1, 16, n) + frame


class _FlacBits:
    """MSB-first bit reader for FLAC subframe payloads."""

    def __init__(self, buf: bytes, p: int) -> None:
        self.buf, self.p, self.acc, self.n = buf, p, 0, 0

    def get(self, k: int):
        if k == 0:
            return 0
        while self.n < k:
            if self.p >= len(self.buf):
                return None
            self.acc = (self.acc << 8) | self.buf[self.p]
            self.p += 1
            self.n += 8
        v = (self.acc >> (self.n - k)) & ((1 << k) - 1)
        self.n -= k
        return v


def _flac_read_residuals(br: "_FlacBits", n: int, order: int):
    """Coded residual block (RFC 9639 §9.2.7): 2-bit method, 4-bit
    partition order, then 2^po partitions of Rice-coded (or escaped-raw)
    residuals. Returns n-order residuals or None."""
    method = br.get(2)
    po = br.get(4)
    if method is None or po is None or method > 1:
        return None  # reserved coding method
    nparts = 1 << po
    if n % nparts != 0 or (n >> po) <= order:
        return None
    plen = 5 if method else 4
    escape = (1 << plen) - 1
    residuals: list[int] = []
    for part in range(nparts):
        count = (n >> po) - (order if part == 0 else 0)
        param = br.get(plen)
        if param is None:
            return None
        if param == escape:  # unencoded: 5-bit raw bit count
            rawbits = br.get(5)
            if rawbits is None:
                return None
            for _ in range(count):
                if rawbits == 0:
                    residuals.append(0)
                    continue
                v = br.get(rawbits)
                if v is None:
                    return None
                h = 1 << (rawbits - 1)
                residuals.append(v - (h << 1) if v >= h else v)
        else:
            for _ in range(count):
                q = 0
                while True:  # unary quotient: zeros then a 1
                    bit = br.get(1)
                    if bit is None:
                        return None
                    if bit:
                        break
                    q += 1
                    if q > 1 << 20:
                        return None  # absurd quotient: corrupt
                rem = br.get(param) if param else 0
                if rem is None:
                    return None
                z = (q << param) | rem
                residuals.append(-((z + 1) >> 1) if z & 1 else z >> 1)
    return residuals


def _flac_read_subframe(br: "_FlacBits", n: int, depth: int):
    """Decode one subframe at the given sample bit depth: CONSTANT,
    VERBATIM, FIXED order 0-4, or LPC order 1-32 (quantized-coefficient
    linear prediction, RFC 9639 §9.2.2-§9.2.7). Returns n samples or
    None."""
    pad = br.get(1)
    stype = br.get(6)
    wasted = br.get(1)
    if pad != 0 or wasted != 0 or stype is None:
        return None
    half = 1 << (depth - 1)
    full = 1 << depth

    def signed(v: int) -> int:
        return v - full if v >= half else v

    if stype == 0b000000:  # CONSTANT
        v = br.get(depth)
        if v is None:
            return None
        return [signed(v)] * n
    if stype == 0b000001:  # VERBATIM
        samples = []
        for _ in range(n):
            v = br.get(depth)
            if v is None:
                return None
            samples.append(signed(v))
        return samples
    if 0b001000 <= stype <= 0b001100:  # FIXED, order 0..4
        order = stype & 0x07
        if order > n:
            return None
        samples = []
        for _ in range(order):  # warm-up samples at full bit depth
            v = br.get(depth)
            if v is None:
                return None
            samples.append(signed(v))
        residuals = _flac_read_residuals(br, n, order)
        if residuals is None:
            return None
        coeffs = _FIXED_COEFFS[order]
        for i, r in enumerate(residuals):
            k = order + i
            pred = sum(c * samples[k - 1 - j] for j, c in enumerate(coeffs))
            samples.append(r + pred)
        return samples
    if stype & 0b100000:  # LPC, order 1..32 (§9.2.3)
        order = (stype & 0x1F) + 1
        if order > n:
            return None
        samples = []
        for _ in range(order):  # warm-up samples at full bit depth
            v = br.get(depth)
            if v is None:
                return None
            samples.append(signed(v))
        prec = br.get(4)
        if prec is None or prec == 0b1111:
            return None  # invalid coefficient precision
        prec += 1
        shift = br.get(5)
        if shift is None or shift >= 16:
            return None  # negative shift (two's complement) is forbidden
        chalf = 1 << (prec - 1)
        cfull = 1 << prec
        coeffs = []
        for _ in range(order):
            c = br.get(prec)
            if c is None:
                return None
            coeffs.append(c - cfull if c >= chalf else c)
        residuals = _flac_read_residuals(br, n, order)
        if residuals is None:
            return None
        for i, r in enumerate(residuals):
            k = order + i
            acc = sum(c * samples[k - 1 - j] for j, c in enumerate(coeffs))
            samples.append(r + (acc >> shift))  # arithmetic shift: floor
        return samples
    return None  # reserved subframe type


def _decode_flac_frame(payload: bytes):
    """Shared FLAC frame decode: STREAMINFO walk → frame-header parse
    (sync, codes, UTF-8 frame number, CRC-8) → per-channel subframe
    decode (CONSTANT/VERBATIM/FIXED) → stereo decorrelation undo
    (independent, left/side, right/side, mid/side — RFC 9639 §4.2) →
    CRC-16 verify.

    Returns (rate, n, [channel sample lists]) or None on structural
    damage, failed CRC, >2 channels, or non-16-bit streams. All four
    subframe types decode (CONSTANT, VERBATIM, FIXED, LPC) — the FLAC
    subframe surface is complete.
    """
    b = payload
    if b is None or len(b) < 8 + 34 or b[:4] != b"fLaC":
        return None
    # metadata block walk to the first audio frame
    pos = 4
    rate = channels = bits = None
    while pos + 4 <= len(b):
        hdr = b[pos]
        last = hdr & 0x80
        btype = hdr & 0x7F
        size = int.from_bytes(b[pos + 1 : pos + 4], "big")
        body = b[pos + 4 : pos + 4 + size]
        if len(body) < size:
            return None
        if btype == 0:  # STREAMINFO
            if size < 34:
                return None
            v = int.from_bytes(body[10:18], "big")
            rate = v >> 44
            channels = ((v >> 41) & 0x7) + 1
            bits = ((v >> 36) & 0x1F) + 1
        pos += 4 + size
        if last:
            break
    if rate is None or rate == 0 or channels not in (1, 2) or bits != 16:
        return None
    frame_start = pos
    if pos + 5 > len(b):
        return None
    # frame header: sync + reserved + blocking strategy
    if b[pos] != 0xFF or (b[pos + 1] & 0xFC) != 0xF8:
        return None
    variable_blocking = b[pos + 1] & 0x01
    bs_code = b[pos + 2] >> 4
    rate_code = b[pos + 2] & 0x0F
    chan_code = b[pos + 3] >> 4
    size_code = (b[pos + 3] >> 1) & 0x07
    if channels == 1:
        if chan_code != 0:
            return None
    elif chan_code not in (0b0001, 0b1000, 0b1001, 0b1010):
        return None  # independent / left-side / right-side / mid-side
    if size_code not in (0b100,):  # 16-bit only
        return None
    pos += 4
    # UTF-8 coded frame/sample number (1-7 bytes)
    first = b[pos]
    if first < 0x80:
        nfollow = 0
    elif first >> 5 == 0b110:
        nfollow = 1
    elif first >> 4 == 0b1110:
        nfollow = 2
    elif first >> 3 == 0b11110:
        nfollow = 3
    elif first >> 2 == 0b111110:
        nfollow = 4
    elif first >> 1 == 0b1111110:
        nfollow = 5
    elif first == 0xFE and variable_blocking:
        nfollow = 6
    else:
        return None
    pos += 1 + nfollow
    # blocksize follow-up
    if bs_code in (0b0110, 0b0111):
        nbytes = 1 if bs_code == 0b0110 else 2
        if pos + nbytes > len(b):
            return None
        n = int.from_bytes(b[pos : pos + nbytes], "big") + 1
        pos += nbytes
    elif bs_code == 0b0001:
        n = 192
    elif 0b0010 <= bs_code <= 0b0101:
        n = 576 << (bs_code - 2)
    elif bs_code >= 0b1000:
        n = 256 << (bs_code - 8)
    else:
        return None  # 0000 reserved
    # sample-rate follow-up bytes (codes 12-14); rate itself comes from
    # STREAMINFO for code 0
    if rate_code in (0b1100,):
        pos += 1
    elif rate_code in (0b1101, 0b1110):
        pos += 2
    elif rate_code == 0b1111:
        return None  # invalid
    if pos >= len(b):
        return None
    if _crc8(b[frame_start:pos]) != b[pos]:
        return None
    pos += 1

    br = _FlacBits(b, pos)
    if channels == 1:
        ch = _flac_read_subframe(br, n, 16)
        if ch is None:
            return None
        chans = [ch]
    else:
        # side channel carries one extra bit (RFC 9639 §4.2)
        d0 = 17 if chan_code == 0b1001 else 16
        d1 = 17 if chan_code in (0b1000, 0b1010) else 16
        c0 = _flac_read_subframe(br, n, d0)
        c1 = _flac_read_subframe(br, n, d1) if c0 is not None else None
        if c0 is None or c1 is None:
            return None
        if chan_code == 0b0001:  # independent
            left, right = c0, c1
        elif chan_code == 0b1000:  # left/side: side = L - R
            left = c0
            right = [l - s for l, s in zip(c0, c1)]
        elif chan_code == 0b1001:  # right/side
            right = c1
            left = [r + s for s, r in zip(c0, c1)]
        else:  # mid/side: mid = (L+R)>>1, side = L-R; LSB rides the side
            left = []
            right = []
            for m, s in zip(c0, c1):
                m2 = (m << 1) | (s & 1)
                left.append((m2 + s) >> 1)
                right.append((m2 - s) >> 1)
        chans = [left, right]
    # frame CRC-16 over everything from sync through subframe padding
    end = br.p  # subframes consumed bytes; padding bits already in acc
    if end + 2 > len(b):
        return None
    if _crc16(b[frame_start:end]) != int.from_bytes(b[end : end + 2], "big"):
        return None
    return rate, n, chans


def decode_flac_samples(payload: bytes):
    """Mono FLAC decode → (rate, n_samples, sum, sum_abs, peak), or None
    for stereo streams / damage / boundaries (see _decode_flac_frame)."""
    dec = _decode_flac_frame(payload)
    if dec is None or len(dec[2]) != 1:
        return None
    rate, n, (samples,) = dec
    total = sum(samples)
    abs_total = sum(abs(s) for s in samples)
    peak = max(abs(s) for s in samples)
    return rate, n, total, abs_total, peak


def decode_flac_stereo_samples(payload: bytes):
    """Stereo FLAC decode with decorrelation undo →
    (rate, n_samples, sum_left, sum_right, peak), or None for mono
    streams / damage / boundaries."""
    dec = _decode_flac_frame(payload)
    if dec is None or len(dec[2]) != 2:
        return None
    rate, n, (left, right) = dec
    peak = max(max(abs(s) for s in left), max(abs(s) for s in right))
    return rate, n, sum(left), sum(right), peak

def flac_stereo_mode(doc_id: int) -> int:
    """0=independent, 1=left/side, 2=right/side, 3=mid/side."""
    return doc_id % 4


def flac_left_value(doc_id: int, i: int) -> int:
    return ((doc_id * 11 + i * 3) % 4096) - 2048


def flac_right_value(doc_id: int, i: int) -> int:
    return ((doc_id * 17 + i * 5) % 4096) - 2048


def build_flac_stereo_samples(doc_id: int) -> bytes:
    """A REAL stereo FLAC: STREAMINFO (2 channels) + one frame whose
    channel assignment rotates through independent / left-side /
    right-side / mid-side decorrelation (RFC 9639 §4.2 — the side
    channel carries 17 bits), two VERBATIM subframes, genuine CRC-8 and
    CRC-16. Decorrelation is lossless, so the decoded L/R stats follow
    the flac_left/right_value formulas regardless of mode."""
    rate = AUDIO_RATES[doc_id % len(AUDIO_RATES)]
    n = flac_sample_count(doc_id)
    mode = flac_stereo_mode(doc_id)
    chan_code = (0b0001, 0b1000, 0b1001, 0b1010)[mode]

    header = bytearray()
    header += b"\xff\xf8"
    header.append(0x70)  # blocksize: 16-bit n-1 follows; rate from STREAMINFO
    header.append((chan_code << 4) | 0x08)  # channel code + 16-bit samples
    header.append(0x00)  # UTF-8 coded frame number 0
    header += (n - 1).to_bytes(2, "big")
    header.append(_crc8(bytes(header)))

    L = [flac_left_value(doc_id, i) for i in range(n)]
    R = [flac_right_value(doc_id, i) for i in range(n)]
    if mode == 0:
        ch = [(L, 16), (R, 16)]
    elif mode == 1:
        ch = [(L, 16), ([l - r for l, r in zip(L, R)], 17)]
    elif mode == 2:
        ch = [([l - r for l, r in zip(L, R)], 17), (R, 16)]
    else:
        ch = [([(l + r) >> 1 for l, r in zip(L, R)], 16),
              ([l - r for l, r in zip(L, R)], 17)]

    bwr = bytearray()
    acc = 0
    nbits = 0

    def put(value: int, length: int) -> None:
        nonlocal acc, nbits
        for i in range(length - 1, -1, -1):
            acc = (acc << 1) | ((value >> i) & 1)
            nbits += 1
            if nbits == 8:
                bwr.append(acc)
                acc = 0
                nbits = 0

    for samples, depth in ch:
        put(0, 1)          # zero pad bit
        put(0b000001, 6)   # VERBATIM
        put(0, 1)          # no wasted bits
        mask = (1 << depth) - 1
        for s in samples:
            put(s & mask, depth)
    if nbits:
        put(0, 8 - nbits)

    frame = bytes(header) + bytes(bwr)
    frame += _crc16(frame).to_bytes(2, "big")
    return build_flac(rate, 2, 16, n) + frame


def synthesize_flac_samples(docs: DataFrame) -> DataFrame:
    """One real FLAC per doc (Arrow mapInPandas, map-only)."""
    return CODECS["flac"].synthesize(docs)


def flac_sample_stats(with_media: DataFrame) -> DataFrame:
    """payload → sample statistics via the full FLAC decode path (same
    map-only shape and NULL-on-corruption contract as wav_sample_stats)."""
    return CODECS["flac"].decode(with_media)


# ---------------------------------------------------------------------------
# The codec table. One entry per media format: its builder, its row
# function and its output schema (see Codec and _decode_df). Every
# synthesize_*/*_stats function above is a lookup here, and
# tools/fuzz_soak.py and the codec-contract test walk the whole table, so
# a new format is fuzzed and pinned by adding one entry.
# ---------------------------------------------------------------------------


def _build_media(d: int) -> bytes:
    """doc_id % 3 picks the container (0→PNG, 1→JPEG, 2→GIF)."""
    w, h = media_dims(d)
    if d % 3 == 0:
        return build_png(w, h, color_type=6 if d % 2 == 0 else 2)
    if d % 3 == 1:
        return build_jpeg(w, h, n_comp=1 if d % 2 == 0 else 3)
    return build_gif(w, h)


def _build_audio(d: int) -> bytes:
    fmt, rate, ch, bits, n = audio_params(d)
    return (build_wav if fmt == "wav" else build_flac)(rate, ch, bits, n)


def _build_video(d: int) -> bytes:
    return build_mp4(*video_params(d))


def _build_mixed_media(d: int) -> bytes:
    """Three modalities interleaved by doc_id % 3: PNG, WAV, MP4."""
    if d % 3 == 0:
        return build_png(*media_dims(d))
    if d % 3 == 1:
        _, rate, ch, bits, n = audio_params(d)
        return build_wav(rate, ch, bits, n)
    return build_mp4(*video_params(d))


def _build_tiff_variant(d: int) -> bytes:
    comp, endian, planar = _TIFF_VARIANTS[d % 6]
    return build_tiff_pixels(d, compression=comp, endian=endian, planar=planar)


def _route_row(payload):
    """Magic-byte cascade image → audio → video. Never rejects: an
    unrecognized payload keeps its n_bytes and routes to modality NULL."""
    b = bytes(payload) if payload is not None else b""
    img = decode_real(b)
    if img is not None:
        fmt, w, h, _, _ = img
        return "image", fmt, len(b), w, h, None
    aud = decode_audio_real(b)
    if aud is not None:
        fmt, rate, ch, _, n = aud
        return "audio", fmt, len(b), rate, ch, n * 1000.0 / rate
    vid = decode_video_real(b)
    if vid is not None:
        ts, dur, w, h = vid
        return "video", "mp4", len(b), w, h, dur * 1000.0 / ts
    return None, None, len(b), None, None, None


def _tiff_sums(w, h, rows):
    sr = sg = sb = 0
    for r in rows:
        sr += sum(r[0::3])
        sg += sum(r[1::3])
        sb += sum(r[2::3])
    return w, h, sr, sg, sb


def _gif_frames_row(payload, stride: int = 2) -> list:
    """Every ``stride``-th frame of an animated GIF as one row; a
    corrupt container emits no rows (the oracle's absence semantics)."""
    dec = decode_gif_animation(payload)
    if dec is None:
        return []
    w, h, frames = dec
    return [(fi, delay, *_rgb_means(w, h, sr, sg, sb))
            for fi, (delay, sr, sg, sb) in enumerate(frames) if fi % stride == 0]


_png_rgb_row = _then(decode_png_pixels, _rgb_means)
_tiff_rgb_row = _then(decode_tiff_pixels, _tiff_sums)
_jpeg_color_row = _then(decode_jpeg_color_pixels, _rgb_means)

CODECS: dict[str, Codec] = {
    "media": Codec(_build_media, decode_real, DECODE_SCHEMA),
    "audio": Codec(
        _build_audio,
        _then(decode_audio_real, lambda fmt, rate, ch, bits, n:
              (fmt, rate, ch, bits, n, n * 1000.0 / rate)),
        AUDIO_SCHEMA,
    ),
    "video": Codec(
        _build_video,
        _then(decode_video_real, lambda ts, dur, w, h:
              ("mp4", w, h, ts, dur, dur * 1000.0 / ts)),
        VIDEO_SCHEMA,
    ),
    "mixed_media": Codec(_build_mixed_media, _route_row, ROUTED_SCHEMA),
    "mjpeg_video": Codec(
        build_mjpeg_mp4_pixels,
        _then(decode_mjpeg_mp4_pixels, lambda w, h, n, dur, total:
              (w, h, n, dur, round(total / float(w * h * n), 6))),
        VIDEO_PIXEL_SCHEMA,
    ),
    "png16": Codec(build_png16_pixels, decode_png16_gray_stats, PNG16_SCHEMA),
    "png16_interlaced": Codec(
        build_png16_pixels_interlaced, decode_png16_gray_stats, PNG16_SCHEMA),
    "png_metadata": Codec(
        build_png_with_metadata,
        _then(decode_png_metadata, lambda w, h, texts, px, py, unit:
              (w, h, texts.get("Title"), texts.get("Source"), px, py, unit)),
        PNG_META_SCHEMA,
    ),
    "mp3": Codec(
        build_mp3, _then(decode_mp3_metadata, _round_last), MP3_META_SCHEMA),
    # UNROUNDED duration/bitrate: both are divisions of exact integers in
    # a pinned op order, so the doubles are bit-identical cross-engine —
    # while round(x, 6) DIVERGES on exact half-ties (Python rounds
    # half-even, DuckDB half-away; avg 61.9390625 was the observed case)
    "mp3_vbr": Codec(build_mp3_vbr, decode_mp3_xing, MP3_XING_SCHEMA),
    "flac_seektable": Codec(
        build_flac_seektable, decode_flac_seektable, FLAC_SEEK_SCHEMA),
    "ogg": Codec(
        build_ogg_vorbis, _then(decode_ogg_metadata, _round_last),
        OGG_META_SCHEMA),
    "ogg_tagged": Codec(
        build_ogg_vorbis_tagged, decode_ogg_comments, OGG_COMMENT_SCHEMA),
    "mp4_multitrack": Codec(
        build_mp4_multitrack, _then(decode_mp4_tracks, _round_last),
        MP4_TRACKS_SCHEMA),
    "png_pixels": Codec(build_png_pixels, _png_rgb_row, PIXEL_SCHEMA),
    "png_pixels_interlaced": Codec(
        build_png_pixels_interlaced, _png_rgb_row, PIXEL_SCHEMA),
    "png_ahash": Codec(build_png_pixels, decode_png_ahash, AHASH_SCHEMA),
    "png_resize": Codec(build_png_pixels, decode_png_resize, RESIZE_SCHEMA),
    "tiff": Codec(build_tiff, decode_tiff_metadata, TIFF_META_SCHEMA),
    "tiff_pixels": Codec(
        partial(build_tiff_pixels, compression=5), _tiff_rgb_row,
        TIFF_PIXEL_SCHEMA),
    "tiff_variants": Codec(
        _build_tiff_variant, _tiff_rgb_row, TIFF_PIXEL_SCHEMA),
    "sniff": Codec(
        build_sniff_payload, lambda p: (sniff_format(p),), SNIFF_SCHEMA),
    "gif_pixels": Codec(
        build_gif_pixels, _then(decode_gif_pixels, _rgb_means), PIXEL_SCHEMA),
    "gif_pixels_interlaced": Codec(
        build_gif_pixels_interlaced,
        _then(decode_gif_interlaced_stats, lambda w, h, sr, sg, sb, ph:
              (*_rgb_means(w, h, sr, sg, sb), ph)),
        GIF_INTERLACED_SCHEMA,
    ),
    "gif_animation": Codec(build_gif_animation, _gif_frames_row, GIF_FRAME_SCHEMA),
    "wav": Codec(
        build_wav_samples, _then(decode_wav_samples, _sample_means),
        AUDIO_SAMPLE_SCHEMA),
    "wav24": Codec(
        build_wav_24bit_samples,
        _then(decode_wav_24bit_samples, _sample_means), AUDIO_SAMPLE_SCHEMA),
    "wav_stereo": Codec(
        build_wav_stereo_samples,
        _then(decode_wav_stereo_samples, _sample_means), STEREO_SAMPLE_SCHEMA),
    "flac": Codec(
        build_flac_samples, _then(decode_flac_samples, _sample_means),
        AUDIO_SAMPLE_SCHEMA),
    "flac_stereo": Codec(
        build_flac_stereo_samples,
        _then(decode_flac_stereo_samples, _sample_means), STEREO_SAMPLE_SCHEMA),
    "jpeg": Codec(
        build_jpeg_pixels, _then(decode_jpeg_pixels, _gray_mean),
        JPEG_PIXEL_SCHEMA),
    "jpeg_progressive": Codec(
        build_jpeg_progressive_pixels,
        _then(decode_jpeg_progressive_pixels, _gray_mean), JPEG_PIXEL_SCHEMA),
    "jpeg_cmyk": Codec(
        build_jpeg_cmyk_pixels, decode_jpeg_cmyk_pixels, JPEG_CMYK_SCHEMA),
    "jpeg_color": Codec(
        build_jpeg_color_pixels, _jpeg_color_row, JPEG_COLOR_SCHEMA),
    "jpeg_420": Codec(build_jpeg_420_pixels, _jpeg_color_row, JPEG_COLOR_SCHEMA),
    "jpeg_progressive_color": Codec(
        build_jpeg_progressive_color_pixels,
        _then(decode_jpeg_progressive_color_pixels, _rgb_means),
        JPEG_COLOR_SCHEMA),
    "jpeg_progressive_420": Codec(
        build_jpeg_progressive_420_pixels,
        _then(decode_jpeg_progressive_420_pixels, _rgb_means),
        JPEG_COLOR_SCHEMA),
}
