"""From-spec WARC/1.0 (ISO 28500) source — the web-crawl container.

WARC is the format the large crawl corpora (Common Crawl and friends)
ship in, which makes it the most on-theme source for a training-data
pipeline: a 100 TB ingest's FIRST distributed scan is a WARC record
walk. The reference has no counterpart (its inputs are CSV/JSONL
conversions); this is a capability extension in the same family as the
Avro OCF source (sources/avro.py).

Format essentials implemented here (ISO 28500 / WARC 1.0):

* Every record starts with the version line ``WARC/1.0\\r\\n``.
* Named headers follow, one per ``\\r\\n`` line, ``Name: value``;
  ``Content-Length`` (mandatory) gives the payload byte count.
* A blank line (``\\r\\n``) separates headers from the payload block.
* Two CRLFs terminate the record; the next record follows immediately.

Scale shape: one ``.warc``/``.warc.gz`` file per partition is written
executor-side. The legacy ``.warc`` read is a ``binaryFile`` scan +
Arrow ``mapInPandas`` record walk. Every ``.warc.gz`` read goes through
ONE path: the gzip member walker (:func:`iter_gzip_members_stream`,
O(member) memory, the only RFC 1952 walker here) feeds the one record
walk (:func:`_shard_records`), and a *plane* turns that record stream
into rows. The four planes (``response``, ``meta``, ``request``,
``resolution``; see :data:`_PLANES`) are each a DDL schema plus a row
function; :func:`read_warc_gz` (batch, driver-side shard listing) and
:func:`read_warc_gz_stream` (Structured Streaming landing tail) run
them through one ``mapInPandas`` batching loop, the CDX fetcher and
the WAT sidecar writer walk the same records, and the fuzz wrapper
:func:`try_scan_warc_gz` returns exactly a plane's rows for one
shard's bytes. Workers STREAM each shard, so per-task footprint is
shard-size-independent and the JVM never holds shard bytes.
Per-file independent, nothing driver-side, exactly the Avro source's
plan. Malformed records raise with the offending path (attributable
ingest failures), matching the Avro convention.
"""

from __future__ import annotations

import io
import os
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

__all__ = [
    "build_warc_record",
    "write_warc_bytes",
    "decode_warc_bytes",
    "write_warc_dataset",
    "read_warc",
    "gzip_member",
    "iter_gzip_members_stream",
    "build_http_response",
    "build_http_request",
    "parse_http_response",
    "parse_http_response_ex",
    "parse_http_request_ex",
    "write_warc_gz_dataset",
    "read_warc_gz",
    "read_warc_gz_stream",
    "read_cdx",
    "fetch_warc_members",
    "try_scan_warc_gz",
    "try_fetch_extent",
    "write_wat_sidecar",
    "read_wat",
]

_CRLF = b"\r\n"
_VERSION = b"WARC/1.0"
_WARC_DATE = "2024-01-01T00:00:00Z"  # fixture date: deterministic output

# digest sizes (bytes) of the labelled-digest algorithms this engine
# can recompute (ISO 28500 §5.8's label scheme is open-ended; anything
# else passes through unverified)
_DIGEST_SIZES = {"sha256": 32, "sha1": 20, "md5": 16}


def _decode_labelled_digest(alg: str, value: bytes) -> bytes | None:
    """Declared digest value → raw bytes. ISO 28500 does not mandate an
    encoding for the digest value, and the two in the wild are hex and
    RFC 4648 Base32 — Common Crawl and the spec's own examples encode
    sha1 digests in Base32 (``sha1:3EF5...`` style), so a hex-only
    comparison would reject every authentic external WARC as corrupt.
    Detection is by shape: the exact hex length for the algorithm wins,
    else the exact unpadded-Base32 length (case-insensitive, optional
    ``=`` padding). Returns None when the value parses as NEITHER —
    the caller treats that as a malformed digest for a known algorithm
    (an attributable defect, not a silent pass)."""
    import base64
    import binascii

    n = _DIGEST_SIZES[alg]
    v = value.strip()
    if len(v) == 2 * n:
        try:
            return bytes.fromhex(v.decode("ascii"))
        except (ValueError, UnicodeDecodeError):
            return None
    # unpadded Base32 length of n bytes, with or without '=' padding
    b32_len = (n * 8 + 4) // 5
    if len(v.rstrip(b"=")) == b32_len:
        try:
            s = v.rstrip(b"=").decode("ascii").upper()
            return base64.b32decode(s + "=" * ((-len(s)) % 8))
        except (binascii.Error, UnicodeDecodeError):
            return None
    return None


def build_warc_record(doc_id: int, text: str = "", *,
                      payload: bytes | None = None,
                      content_type: bytes = b"text/plain",
                      payload_digest: str | None = None,
                      warc_type: bytes = b"response",
                      record_id: bytes | None = None,
                      target_uri: bytes | None = None,
                      extra_headers: list[tuple[bytes, bytes]] | None = None,
                      ) -> bytes:
    """One WARC response record for a document: deterministic record id
    and target URI derived from doc_id. The block is either the UTF-8
    encoding of ``text`` or the explicit ``payload`` bytes (the gz
    writer passes a full HTTP message). Emits the ISO 28500 labelled
    digests: ``WARC-Block-Digest`` (sha256 over the block, always) and
    ``WARC-Payload-Digest`` when the caller supplies the entity digest
    — labelled ``sha256:<hex>`` so any consumer can verify without
    out-of-band knowledge (the spec's label scheme; sha256 instead of
    the customary sha1 because it is what both this engine and the
    oracle can recompute). ``record_id`` / ``target_uri`` override the
    doc_id-derived defaults; ``extra_headers`` appends named fields
    (revisit / segmentation headers) before Content-Length."""
    import hashlib

    block = text.encode("utf-8") if payload is None else payload
    headers = [
        (b"WARC-Type", warc_type),
        (b"WARC-Record-ID",
         record_id if record_id is not None else
         f"<urn:uuid:00000000-0000-0000-0000-{doc_id:012d}>".encode()),
        (b"WARC-Date", _WARC_DATE.encode()),
        (b"WARC-Target-URI",
         target_uri if target_uri is not None else
         f"http://example.com/doc/{doc_id}".encode()),
        (b"Content-Type", content_type),
        (b"WARC-Block-Digest",
         b"sha256:" + hashlib.sha256(block).hexdigest().encode()),
    ]
    if payload_digest is not None:
        headers.append(
            (b"WARC-Payload-Digest", b"sha256:" + payload_digest.encode()))
    headers.extend(extra_headers or [])
    headers.append((b"Content-Length", str(len(block)).encode()))
    out = _VERSION + _CRLF
    for k, v in headers:
        out += k + b": " + v + _CRLF
    return out + _CRLF + block + _CRLF + _CRLF


def write_warc_bytes(records: list[tuple[int, str]]) -> bytes:
    """Serialize (doc_id, text) pairs into one WARC file byte string."""
    return b"".join(build_warc_record(d, t) for d, t in records)


def decode_warc_bytes(payload: bytes, path: str = "<bytes>",
                      with_headers: bool = False):
    """Walk one WARC file → [(doc_id, target_uri, content_length,
    payload_bytes)] (plus the header dict per record when
    ``with_headers``). Raises ValueError with the path on any framing
    defect: bad version line, missing Content-Length, truncated
    payload, or missing record terminator. When a record carries a
    ``WARC-Block-Digest`` with a label this engine can recompute
    (sha256 / sha1 / md5), the digest is VERIFIED against the block —
    in EITHER value encoding the wild uses, hex or RFC 4648 Base32
    (Common Crawl's sha1 digests are Base32) — so a bit flip between
    writer and reader is an attributable ingest failure, not silent
    corruption. A known-algorithm value that parses as neither
    encoding ALSO raises (a garbled digest is a defect, not license to
    skip the check); unknown labels pass through unverified (the ISO
    28500 labelled-digest scheme is open-ended)."""
    import hashlib

    b = payload
    recs = []
    pos = 0
    while pos < len(b):
        eol = b.find(_CRLF, pos)
        if eol < 0 or b[pos:eol] != _VERSION:
            raise ValueError(f"{path}: bad WARC version line at {pos}")
        pos = eol + 2
        headers: dict[bytes, bytes] = {}
        while True:
            eol = b.find(_CRLF, pos)
            if eol < 0:
                raise ValueError(f"{path}: unterminated header block")
            line = b[pos:eol]
            pos = eol + 2
            if not line:
                break  # blank line: payload follows
            # ISO 28500 allows zero whitespace after the colon — split
            # on the bare colon and strip optional LWS from the value;
            # field names are case-insensitive (§5), so the dict is
            # keyed LOWERCASED — otherwise a legally-cased external
            # record ('Warc-Block-Digest:') would silently skip digest
            # verification and 'content-length:' would reject
            k, sep, v = line.partition(b":")
            if not sep or not k:
                raise ValueError(f"{path}: malformed header {line!r}")
            k = k.strip().lower()
            if k in headers:
                raise ValueError(f"{path}: duplicate header {k!r}")
            headers[k] = v.lstrip(b" \t")
        if b"content-length" not in headers:
            raise ValueError(f"{path}: record without Content-Length")
        try:
            n = int(headers[b"content-length"])
        except ValueError:
            raise ValueError(f"{path}: non-numeric Content-Length")
        if n < 0 or pos + n + 4 > len(b):
            raise ValueError(f"{path}: truncated payload")
        body = b[pos : pos + n]
        if b[pos + n : pos + n + 4] != _CRLF + _CRLF:
            raise ValueError(f"{path}: missing record terminator")
        pos += n + 4
        if b"warc-block-digest" in headers:
            alg, _, want = headers[b"warc-block-digest"].partition(b":")
            alg = alg.strip().lower().decode()
            if alg in _DIGEST_SIZES:
                raw = _decode_labelled_digest(alg, want)
                if raw is None:
                    raise ValueError(
                        f"{path}: malformed WARC-Block-Digest value for "
                        f"{alg} at record ending {pos} (neither hex nor "
                        f"Base32 of the right length)")
                if hashlib.new(alg, body).digest() != raw:
                    raise ValueError(
                        f"{path}: WARC-Block-Digest mismatch at record "
                        f"ending {pos} ({alg})")
        uri = headers.get(b"warc-target-uri", b"").decode()
        rid = headers.get(b"warc-record-id", b"").decode()
        # fixture ids live in the uuid tail; external files may not
        # carry one — doc_id is then -1 and the caller keys on the URI
        doc_id = -1
        tail = rid.rstrip(">").rsplit("-", 1)[-1]
        if tail.isdigit():
            doc_id = int(tail)
        if with_headers:
            recs.append((doc_id, uri, n, body, headers))
        else:
            recs.append((doc_id, uri, n, body))
    return recs


# -------------------------------------------------------------------------
# Multi-member gzip (RFC 1952) — the .warc.gz layout the crawl corpora
# actually ship: ONE gzip member PER RECORD, so a reader can split work
# at member boundaries without inflating the whole file. The walker is
# from-spec (header flag parse incl. FEXTRA/FNAME/FCOMMENT/FHCRC, raw
# DEFLATE via zlib, per-member CRC32 + ISIZE verification) and bounds
# inflation per member before trusting any length field.
# -------------------------------------------------------------------------

_GZ_MAGIC = b"\x1f\x8b"
_FTEXT, _FHCRC, _FEXTRA, _FNAME, _FCOMMENT = 1, 2, 4, 8, 16
_GZ_MAX_MEMBER_BYTES = 256 * 1024 * 1024  # inflation ceiling per member
# FNAME/FCOMMENT size ceiling, enforced on BOTH paths of the walker
# (terminator found / not yet found) — r14: the walker used to apply it
# only while the NUL was absent from the buffered data, so acceptance
# of an oversized field depended on the caller's chunk size.
_GZ_MAX_HEADER_FIELD = 64 * 1024


def _is_response(headers: dict) -> bool:
    """True when a record's WARC-Type is ``response`` (or absent — the
    permissive default for minimal files). Real crawl WARCs interleave
    warcinfo / request / metadata records with the responses; only
    responses carry an HTTP message, so every reader that parses
    blocks as HTTP must skip the rest instead of rejecting the file."""
    return headers.get(
        b"warc-type", b"response").strip().lower() == b"response"


def _walk_response_records(records, path: str):
    """The decode-then-skip loop every HTTP-parsing reader shares, over
    an already-decoded record stream: yield (doc_id, uri,
    content_length, block, headers) for RESPONSE records — warcinfo /
    request / metadata / revisit records are data to skip, not defects
    — with SEGMENTED records (ISO 28500 §5.18-5.20: WARC-Segment-Number
    on the first record, ``continuation`` records carrying
    WARC-Segment-Origin-ID, the last one WARC-Segment-Total-Length)
    REASSEMBLED in stream order. Records over the writer's record-size
    ceiling ship segmented in real corpora, so a reader that rejects
    them drops exactly the largest documents. Reassembly rules, each
    violation an attributable raise, never a silent drop: the first
    segment is number 1; continuations must follow consecutively,
    cite the origin record id, and not interleave with other records;
    the declared total length must equal the assembled byte count; a
    stream ending mid-segment is truncated. A FIRST segment that itself
    declares WARC-Segment-Total-Length is a complete single-segment
    chain (an edge shape for external files — ISO 28500 implies >=2
    segments) and closes immediately, validated against its own block
    length. A segmented NON-response record (e.g. a huge metadata
    record) is skipped as a whole chain.
    Per-segment block digests were already verified record-by-record
    in :func:`decode_warc_bytes`."""
    seg = None  # open segmented record: dict, or None
    for d, u, n, block, wh in records:
        wtype = wh.get(b"warc-type", b"response").strip().lower()
        segno_raw = wh.get(b"warc-segment-number")
        if wtype == b"continuation":
            if seg is None:
                raise ValueError(
                    f"{path}: continuation record without an open "
                    f"segmented record (doc {d})")
            origin = wh.get(b"warc-segment-origin-id", b"").strip()
            if origin != seg["origin"]:
                raise ValueError(
                    f"{path}: continuation cites origin {origin!r} but "
                    f"the open segmented record is {seg['origin']!r}")
            try:
                segno = int(segno_raw)
            except (TypeError, ValueError):
                raise ValueError(
                    f"{path}: continuation without a numeric "
                    f"WARC-Segment-Number (doc {d})")
            if segno != seg["next"]:
                raise ValueError(
                    f"{path}: segment {segno} out of order (expected "
                    f"{seg['next']}) for {seg['origin']!r}")
            seg["next"] += 1
            if not seg["skip"]:
                seg["parts"].append(block)
            total_raw = wh.get(b"warc-segment-total-length")
            if total_raw is None:
                continue
            # the record carrying Total-Length is the last segment
            try:
                total = int(total_raw)
            except ValueError:
                raise ValueError(
                    f"{path}: non-numeric WARC-Segment-Total-Length")
            done, seg = seg, None
            if done["skip"]:
                continue
            assembled = b"".join(done["parts"])
            if len(assembled) != total:
                raise ValueError(
                    f"{path}: WARC-Segment-Total-Length {total} != "
                    f"assembled {len(assembled)} bytes for "
                    f"{done['origin']!r}")
            yield done["d"], done["u"], len(assembled), assembled, \
                done["headers"]
            continue
        if seg is not None:
            raise ValueError(
                f"{path}: record interleaves an open segmented record "
                f"({seg['origin']!r} still unterminated)")
        if segno_raw is not None:
            try:
                segno = int(segno_raw)
            except ValueError:
                raise ValueError(
                    f"{path}: non-numeric WARC-Segment-Number (doc {d})")
            if segno != 1:
                raise ValueError(
                    f"{path}: first record of a segmented chain has "
                    f"WARC-Segment-Number {segno}, expected 1 (doc {d})")
            origin = wh.get(b"warc-record-id", b"").strip()
            if not origin:
                raise ValueError(
                    f"{path}: segmented record without a WARC-Record-ID "
                    f"(continuations could never cite it; doc {d})")
            seg = {"d": d, "u": u, "parts": [block], "next": 2,
                   "origin": origin, "headers": wh,
                   "skip": not _is_response(wh)}
            total_raw = wh.get(b"warc-segment-total-length")
            if total_raw is not None:
                # single-segment chain: the FIRST record also declares
                # Total-Length, so the chain is complete here (ISO
                # 28500 implies >=2 segments, but an external writer
                # that emits this shape is describing a whole record —
                # without this close, the next unrelated record would
                # raise "interleaves an open segmented record",
                # blaming the wrong record for the defect)
                try:
                    total = int(total_raw)
                except ValueError:
                    raise ValueError(
                        f"{path}: non-numeric WARC-Segment-Total-Length")
                done, seg = seg, None
                if done["skip"]:
                    continue
                if len(block) != total:
                    raise ValueError(
                        f"{path}: WARC-Segment-Total-Length {total} != "
                        f"assembled {len(block)} bytes for "
                        f"{done['origin']!r}")
                yield d, u, len(block), block, wh
            continue
        if _is_response(wh):
            yield d, u, n, block, wh
    if seg is not None:
        raise ValueError(
            f"{path}: stream ends inside segmented record "
            f"{seg['origin']!r} (expected segment {seg['next']})")


def gzip_member(payload: bytes, fname: bytes | None = None,
                fhcrc: bool = False) -> bytes:
    """One RFC 1952 member: fixed header (MTIME=0 for determinism),
    optional FNAME / header-CRC16, raw DEFLATE body, CRC32 + ISIZE."""
    import zlib

    flg = (_FNAME if fname else 0) | (_FHCRC if fhcrc else 0)
    hdr = _GZ_MAGIC + b"\x08" + bytes([flg]) + b"\x00\x00\x00\x00" \
        + b"\x00\xff"
    if fname:
        if b"\x00" in fname:
            raise ValueError("FNAME cannot contain NUL")
        hdr += fname + b"\x00"
    if fhcrc:
        hdr += (zlib.crc32(hdr) & 0xFFFF).to_bytes(2, "little")
    co = zlib.compressobj(9, zlib.DEFLATED, -15)
    body = co.compress(payload) + co.flush()
    return (
        hdr + body
        + (zlib.crc32(payload) & 0xFFFFFFFF).to_bytes(4, "little")
        + (len(payload) & 0xFFFFFFFF).to_bytes(4, "little")
    )


def iter_gzip_members_stream(f, path: str = "<stream>",
                             chunk: int = 256 * 1024):
    """Walk a multi-member gzip STREAM from a file object, yielding one
    inflated payload per member — the ONE RFC 1952 member walker of
    this module (byte-buffer callers wrap their bytes in
    ``io.BytesIO``). Enforces the RFC 1952 MUSTs: magic + CM=8,
    reserved FLG bits zero, FEXTRA/FNAME/FCOMMENT skipped by their own
    framing (FNAME/FCOMMENT under a size ceiling), FHCRC verified
    against the header bytes, and the 8-byte trailer's CRC32 and ISIZE
    checked against the inflated payload; inflation is capped per
    member BEFORE any declared length is trusted — without EVER
    materializing the whole file: memory is O(one inflated member +
    one read chunk), independent of shard size. This is the 100 TB
    read contract — a reader whose per-task footprint scales with
    shard bytes OOMs the moment someone doubles the corpus at fixed
    shard count (the r13 8M-doc rehearsal measured exactly that cliff
    against the whole-shard binaryFile scan). Raises ValueError with
    the path on any defect — attributable ingest failures, same
    convention as the WARC walker above."""
    import zlib

    buf = bytearray()
    eof = False

    def _fill(n: int) -> bool:
        """Ensure ≥n bytes buffered; False when the stream can't."""
        nonlocal eof
        while len(buf) < n and not eof:
            piece = f.read(max(chunk, n - len(buf)))
            if not piece:
                eof = True
                break
            buf.extend(piece)
        return len(buf) >= n

    first = True
    while True:
        if not _fill(1):
            if first:
                raise ValueError(f"{path}: empty gzip stream")
            return
        first = False
        if not _fill(10):
            raise ValueError(f"{path}: truncated gzip header")
        if bytes(buf[:2]) != _GZ_MAGIC:
            raise ValueError(f"{path}: bad gzip magic")
        if buf[2] != 8:
            raise ValueError(f"{path}: unknown compression method {buf[2]}")
        flg = buf[3]
        if flg & 0xE0:
            raise ValueError(f"{path}: reserved FLG bits set")
        pos = 10
        if flg & _FEXTRA:
            if not _fill(pos + 2):
                raise ValueError(f"{path}: truncated FEXTRA length")
            xlen = int.from_bytes(buf[pos : pos + 2], "little")
            pos += 2 + xlen
            if not _fill(pos):
                raise ValueError(f"{path}: truncated FEXTRA field")
        for bit, name in ((_FNAME, "FNAME"), (_FCOMMENT, "FCOMMENT")):
            if flg & bit:
                # scan for the NUL terminator WITHOUT rescanning from
                # pos each refill (O(n²)) and with a hard field-size
                # ceiling — an adversarial NUL-free run must not grow
                # the buffer toward shard size (the O(member) memory
                # contract covers the header side too; DEFLATE already
                # has its own inflation ceiling)
                search_from = pos
                while True:
                    z = buf.find(b"\x00", search_from)
                    if z >= 0:
                        if z - pos > _GZ_MAX_HEADER_FIELD:
                            # deterministic regardless of chunk size: a
                            # terminated-but-oversized field must fail
                            # the same way an unterminated one does
                            raise ValueError(
                                f"{path}: {name} field exceeds "
                                f"{_GZ_MAX_HEADER_FIELD} bytes")
                        pos = z + 1
                        break
                    search_from = len(buf)
                    if search_from - pos > _GZ_MAX_HEADER_FIELD:
                        raise ValueError(
                            f"{path}: {name} field exceeds "
                            f"{_GZ_MAX_HEADER_FIELD} bytes")
                    if eof:
                        raise ValueError(f"{path}: unterminated {name}")
                    _fill(len(buf) + chunk)
        if flg & _FHCRC:
            if not _fill(pos + 2):
                raise ValueError(f"{path}: truncated header CRC16")
            want = int.from_bytes(buf[pos : pos + 2], "little")
            got = zlib.crc32(bytes(buf[:pos])) & 0xFFFF
            if want != got:
                raise ValueError(f"{path}: header CRC16 mismatch "
                                 f"({want:#06x} != {got:#06x})")
            pos += 2
        del buf[:pos]
        d = zlib.decompressobj(-15)
        parts: list[bytes] = []
        produced = 0
        try:
            while not d.eof:
                if d.unconsumed_tail:
                    data = d.unconsumed_tail
                else:
                    if not buf and not _fill(1):
                        raise ValueError(
                            f"{path}: truncated DEFLATE stream")
                    data = bytes(buf)
                    del buf[:]
                piece = d.decompress(
                    data, _GZ_MAX_MEMBER_BYTES - produced + 1)
                produced += len(piece)
                parts.append(piece)
                if produced > _GZ_MAX_MEMBER_BYTES:
                    raise ValueError(f"{path}: member inflates past "
                                     f"{_GZ_MAX_MEMBER_BYTES} bytes")
        except zlib.error as e:
            raise ValueError(f"{path}: bad DEFLATE stream: {e}")
        payload = b"".join(parts)
        buf[:0] = d.unused_data  # what the inflater didn't consume
        if not _fill(8):
            raise ValueError(f"{path}: truncated gzip trailer")
        want_crc = int.from_bytes(buf[:4], "little")
        want_isize = int.from_bytes(buf[4:8], "little")
        del buf[:8]
        if want_crc != (zlib.crc32(payload) & 0xFFFFFFFF):
            raise ValueError(f"{path}: gzip CRC32 mismatch")
        if want_isize != (len(payload) & 0xFFFFFFFF):
            raise ValueError(f"{path}: gzip ISIZE mismatch "
                             f"({want_isize} != {len(payload)})")
        yield payload


def _shard_records(f, path: str):
    """THE record walk of every ``.warc.gz`` read: gzip members of the
    file object ``f`` (one streaming walk, O(member) memory) →
    :func:`decode_warc_bytes` records ``(doc_id, uri, content_length,
    block, headers)`` in stream order. Records are one-per-gzip-member,
    but a SEGMENTED logical record spans consecutive members, so
    consumers keep their segment state across this whole stream (file
    scope), never per member. Byte-buffer callers pass
    ``io.BytesIO``."""
    for member in iter_gzip_members_stream(f, path):
        yield from decode_warc_bytes(member, path, with_headers=True)


def _http_responses(records, path: str):
    """Assembled response records (:func:`_walk_response_records`) →
    strictly parsed HTTP messages: yield (doc_id, uri, warc_headers,
    status, http_headers, entity_body, n_chunks). The step every
    response consumer shares — the response / meta / resolution
    planes, the WAT sidecar writer and the CDX extent fetch."""
    for d, u, _n, block, wh in _walk_response_records(records, path):
        st, hh, body, k = parse_http_response_ex(block, path)
        yield d, u, wh, st, hh, body, k


# -------------------------------------------------------------------------
# HTTP/1.1 response framing (RFC 7230) — WARC response records carry the
# raw HTTP message (Content-Type: application/http;msgtype=response in
# real crawls), so the ingest must parse a status line, header block,
# and EITHER Content-Length framing OR chunked transfer coding (hex
# chunk sizes, optional extensions, trailer section) to recover the
# entity body.
# -------------------------------------------------------------------------


def build_http_response(body: bytes, doc_id: int,
                        charset: str = "utf-8") -> bytes:
    """Deterministic HTTP/1.1 200 response around ``body``. Every third
    doc uses Content-Length framing; the rest are chunked with
    ``min(doc_id % 4 + 1, len(body))`` data chunks, a chunk extension
    on the first chunk, and a trailer section DECLARING the message
    body (``X-Len``: its byte count, ``X-Payload-SHA256``: its digest)
    — the RFC 7230 trailer mechanism real responses use for
    checksums computed while streaming, and the framing variants a
    real crawl's responses actually mix. ``charset`` lands in the
    Content-Type parameter — the reader decodes the entity by it."""
    status = (b"HTTP/1.1 404 Not Found" if doc_id % 11 == 0
              else b"HTTP/1.1 200 OK")
    head = [status,
            f"Content-Type: text/html; charset={charset}".encode(),
            f"X-Doc-Id: {doc_id}".encode()]
    if doc_id % 3 == 0:
        # half of the Content-Length branch ships the entity
        # gzip-compressed (Content-Encoding) — how real crawl responses
        # arrive; the framing then counts COMPRESSED bytes
        if doc_id % 6 == 3:
            body = gzip_member(body)
            head.append(b"Content-Encoding: gzip")
        head.append(f"Content-Length: {len(body)}".encode())
        return _CRLF.join(head) + _CRLF + _CRLF + body
    head.append(b"Transfer-Encoding: chunked")
    return (_CRLF.join(head) + _CRLF + _CRLF
            + _chunked_body(body, min(doc_id % 4 + 1, len(body))))


def _chunked_body(body: bytes, k: int) -> bytes:
    """RFC 7230 §4.1 chunked transfer coding of ``body`` in ``k`` data
    chunks — the wire form both the response and the request builders
    emit: hex sizes, a chunk extension on the first chunk, and a
    trailer section DECLARING the message body (``X-Len`` byte count +
    ``X-Payload-SHA256`` digest — the checksum-while-streaming use
    trailers exist for; the parsers VERIFY both)."""
    import hashlib

    chunks = []
    if k:
        q, r = divmod(len(body), k)
        off = 0
        for i in range(k):
            n = q + (1 if i < r else 0)
            chunks.append(body[off : off + n])
            off += n
    out = b""
    for i, c in enumerate(chunks):
        ext = b";x=1" if i == 0 else b""
        out += f"{len(c):x}".encode() + ext + _CRLF + c + _CRLF
    out += (b"0" + _CRLF
            + f"X-Len: {len(body)}".encode() + _CRLF
            + b"X-Payload-SHA256: "
            + hashlib.sha256(body).hexdigest().encode() + _CRLF + _CRLF)
    return out


def _request_body(doc_id: int) -> bytes:
    """The deterministic request entity: empty for the GET majority,
    a small form payload for every 5th doc's POST."""
    if doc_id % 5 != 0:
        return b""
    return f"q={doc_id}&page={doc_id % 7}".encode()


def build_http_request(doc_id: int) -> bytes:
    """Deterministic HTTP/1.1 REQUEST for a doc — the client half of
    the crawl exchange (WARC ``request`` records store exactly this).
    Every 5th doc is a POST carrying :func:`_request_body`; of those,
    every 10th frames the body CHUNKED (hex sizes, extension on the
    first chunk, verified X-Len / X-Payload-SHA256 trailers — request
    trailers are legal RFC 7230 and exercise the request-side chunked
    parse), the rest use Content-Length. All other docs are bodyless
    GETs — NO framing header at all, the request/response asymmetry
    RFC 7230 §3.3.3 pins: an absent length on a request means an
    EMPTY body, where the same absence on a response is a defect."""
    target = f"/doc/{doc_id}".encode()
    head = [b"Host: example.com",
            f"User-Agent: sqes-crawler/{doc_id % 3}".encode(),
            b"Accept: text/html"]
    body = _request_body(doc_id)
    if doc_id % 5 != 0:
        return (b"GET " + target + b" HTTP/1.1" + _CRLF
                + _CRLF.join(head) + _CRLF + _CRLF)
    if doc_id % 10 == 0:
        head.append(b"Transfer-Encoding: chunked")
        return (b"POST " + target + b" HTTP/1.1" + _CRLF
                + _CRLF.join(head) + _CRLF + _CRLF
                + _chunked_body(body, min(doc_id % 3 + 1, len(body))))
    head.append(b"Content-Type: application/x-www-form-urlencoded")
    head.append(f"Content-Length: {len(body)}".encode())
    return (b"POST " + target + b" HTTP/1.1" + _CRLF
            + _CRLF.join(head) + _CRLF + _CRLF + body)


def parse_http_response(b: bytes, path: str = "<bytes>"):
    """Parse one HTTP/1.1 response → (status, body, n_chunks); see
    :func:`parse_http_response_ex` for the header-exposing variant."""
    status, _headers, body, n_chunks = parse_http_response_ex(b, path)
    return status, body, n_chunks


def parse_http_response_ex(b: bytes, path: str = "<bytes>"):
    """Parse one HTTP/1.1 response → (status, headers, body, n_chunks).
    ``n_chunks`` counts data chunks (0 under Content-Length framing);
    ``headers`` is the lowercased name → value dict with trailer
    fields merged in (RFC 7230 §4.1.3 — a trailer is a header the
    sender could only compute after the body). Enforces the framing
    MUSTs: CRLF line endings, a valid status line, hex chunk sizes
    (extensions allowed after ``;``), exact CRLF after each chunk's
    data, a last-chunk, and a CRLF-terminated trailer section —
    AND the trailer-declared body checks when present: ``X-Len`` must
    equal the de-chunked byte count and ``X-Payload-SHA256`` its
    digest, so a chunk-boundary bug or a flipped bit inside any chunk
    is an attributable reject, not silent corruption. Raises
    ValueError with the path on any defect."""
    eol = b.find(_CRLF)
    if eol < 0:
        raise ValueError(f"{path}: unterminated HTTP status line")
    parts = b[:eol].split(b" ", 2)
    if len(parts) < 2 or not parts[0].startswith(b"HTTP/1."):
        raise ValueError(f"{path}: bad HTTP status line {b[:eol]!r}")
    try:
        status = int(parts[1])
    except ValueError:
        raise ValueError(f"{path}: non-numeric HTTP status {parts[1]!r}")
    headers, pos = _read_http_headers(b, eol + 2, path)
    te = headers.get(b"transfer-encoding", b"").lower()
    if te == b"chunked":
        body, n_chunks = _dechunk_and_verify(b, pos, headers, path)
        return status, headers, _content_decode(body, headers, path), \
            n_chunks
    if b"content-length" in headers:
        body = _framed_by_content_length(b, pos, headers, path)
        return (status, headers,
                _content_decode(body, headers, path), 0)
    raise ValueError(f"{path}: response without Content-Length or "
                     "chunked framing")


def _read_http_headers(b: bytes, pos: int, path: str):
    """The header-field loop both message parsers share: lowercased
    name → stripped value until the blank line → (headers, pos past
    the blank line). Raises on an unterminated block, a colonless
    line, or a REPEATED framing field (RFC 7230 §3.3.3: duplicate
    Content-Length / Transfer-Encoding is the request-smuggling
    ambiguity class — a dict that silently let the last one win would
    parse one arbitrary interpretation of an ambiguous message
    instead of rejecting it attributably)."""
    headers: dict[bytes, bytes] = {}
    while True:
        eol = b.find(_CRLF, pos)
        if eol < 0:
            raise ValueError(f"{path}: unterminated HTTP header block")
        line = b[pos:eol]
        pos = eol + 2
        if not line:
            break
        k, sep, v = line.partition(b":")
        if not sep or not k:
            raise ValueError(f"{path}: malformed HTTP header {line!r}")
        k = k.strip().lower()
        if k in (b"content-length", b"transfer-encoding") and k in headers:
            raise ValueError(
                f"{path}: repeated {k.decode()} header (framing "
                f"ambiguity)")
        headers[k] = v.strip()
    te = headers.get(b"transfer-encoding")
    if te is not None:
        if b"content-length" in headers:
            # both framings declared: RFC 7230 §3.3.3 says treat as an
            # error (the smuggling vector); never pick one silently.
            # ANY Transfer-Encoding value counts — 'gzip, chunked' plus
            # Content-Length used to slip past an exact-'chunked' check
            # and silently frame by Content-Length (ADVICE r14).
            raise ValueError(
                f"{path}: both Content-Length and Transfer-Encoding "
                f"declared (framing ambiguity)")
        if te.lower() != b"chunked":
            # the one transfer coding this ingest decodes; anything
            # else (multi-coding lists included) must reject rather
            # than fall through to a framing the sender didn't declare
            raise ValueError(
                f"{path}: unsupported Transfer-Encoding {te!r}")
    return headers, pos


def _framed_by_content_length(b: bytes, pos: int, headers: dict,
                              path: str) -> bytes:
    """Content-Length framing shared by both message parsers: the
    declared count must be numeric, non-negative, and consume the
    REST of the block exactly (a WARC block holds one whole message,
    so trailing garbage is a defect, not pipelined data)."""
    cl = headers[b"content-length"]
    # strict DIGIT-only token (RFC 7230 §3.3.2): python's int() also
    # accepts '+5', surrounding whitespace, and '5_0' (ADVICE r14)
    if not cl or cl.strip(b"0123456789"):
        raise ValueError(f"{path}: non-numeric Content-Length {cl!r}")
    n = int(cl)
    if n < 0 or pos + n != len(b):
        raise ValueError(f"{path}: Content-Length {n} does not match "
                         f"remaining {len(b) - pos} bytes")
    return b[pos : pos + n]


def _dechunk_and_verify(b: bytes, pos: int, headers: dict,
                        path: str) -> tuple[bytes, int]:
    """RFC 7230 §4.1 chunked decoding shared by both message parsers
    → (de-chunked body, data-chunk count). Enforces the framing MUSTs
    (hex sizes with extensions allowed after ``;``, exact CRLF after
    each chunk's data, a last-chunk, a CRLF-terminated trailer
    section, nothing after it) and the trailer-declared body checks
    when present (``X-Len`` byte count, ``X-Payload-SHA256`` digest —
    both over the de-chunked body, pre Content-Encoding). Trailer
    fields merge into ``headers`` without clobbering proper headers."""
    import hashlib

    body = b""
    n_chunks = 0
    while True:
        eol = b.find(_CRLF, pos)
        if eol < 0:
            raise ValueError(f"{path}: unterminated chunk-size line")
        size_tok = b[pos:eol].split(b";", 1)[0].strip()
        # strict HEXDIG-only token (RFC 7230 §4.1): int(tok, 16) also
        # accepts '0x2', '+2', '1_0' and negatives — a '-2' size line
        # would re-match its own terminator and plant a phantom chunk
        # (ADVICE r14)
        if not size_tok or size_tok.strip(b"0123456789abcdefABCDEF"):
            raise ValueError(f"{path}: bad chunk size {size_tok!r}")
        n = int(size_tok, 16)
        pos = eol + 2
        if n == 0:
            break
        if pos + n + 2 > len(b):
            raise ValueError(f"{path}: truncated chunk data")
        body += b[pos : pos + n]
        if b[pos + n : pos + n + 2] != _CRLF:
            raise ValueError(f"{path}: chunk data not CRLF-terminated")
        pos += n + 2
        n_chunks += 1
    # trailer section: header lines until the blank line, merged
    # into the header dict (without clobbering a proper header)
    while True:
        eol = b.find(_CRLF, pos)
        if eol < 0:
            raise ValueError(f"{path}: unterminated trailer section")
        line = b[pos:eol]
        pos = eol + 2
        if not line:
            break
        k, sep, v = line.partition(b":")
        if not sep or not k:
            raise ValueError(f"{path}: malformed trailer {line!r}")
        headers.setdefault(k.strip().lower(), v.strip())
    if pos != len(b):
        raise ValueError(f"{path}: {len(b) - pos} bytes of garbage "
                         "after the last chunk's trailer")
    # trailer-declared body checks: both are over the de-chunked
    # message body (pre Content-Encoding — what was transferred)
    if b"x-len" in headers:
        xl = headers[b"x-len"]
        if not xl or xl.strip(b"0123456789"):  # same strictness as CL
            raise ValueError(f"{path}: non-numeric X-Len trailer")
        want_len = int(xl)
        if want_len != len(body):
            raise ValueError(
                f"{path}: X-Len trailer {want_len} != de-chunked "
                f"body length {len(body)}")
    if b"x-payload-sha256" in headers:
        want = headers[b"x-payload-sha256"].strip().lower().decode()
        got = hashlib.sha256(body).hexdigest()
        if want != got:
            raise ValueError(
                f"{path}: X-Payload-SHA256 trailer mismatch")
    return body, n_chunks


_REQ_METHOD_OK = frozenset(
    b"!#$%&'*+-.^_`|~0123456789"
    b"ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz")


def parse_http_request_ex(b: bytes, path: str = "<bytes>"):
    """Parse one HTTP/1.1 REQUEST → (method, target, version, headers,
    body, n_chunks) — the client half a WARC ``request`` record
    stores. Request-line MUSTs (RFC 7230 §3.1.1): exactly
    ``method SP request-target SP HTTP-version``, the method a
    non-empty token (tchar only), the target non-empty and space-free,
    the version ``HTTP/1.0`` or ``HTTP/1.1``. Body framing reuses the
    response machinery (shared :func:`_dechunk_and_verify` /
    :func:`_framed_by_content_length`) with the ONE request-side
    difference RFC 7230 §3.3.3 pins: NO framing header means an EMPTY
    body (where a response without framing is a defect) — and then
    nothing may follow the header block. Raises ValueError with the
    path on any defect."""
    eol = b.find(_CRLF)
    if eol < 0:
        raise ValueError(f"{path}: unterminated HTTP request line")
    parts = b[:eol].split(b" ")
    if len(parts) != 3:
        raise ValueError(f"{path}: bad HTTP request line {b[:eol]!r}")
    method, target, version = parts
    if not method or any(c not in _REQ_METHOD_OK for c in method):
        # iterating bytes yields ints; _REQ_METHOD_OK holds ints too
        raise ValueError(f"{path}: bad HTTP method {method!r}")
    if not target:
        raise ValueError(f"{path}: empty HTTP request-target")
    if version not in (b"HTTP/1.1", b"HTTP/1.0"):
        raise ValueError(f"{path}: bad HTTP version {version!r}")
    headers, pos = _read_http_headers(b, eol + 2, path)
    te = headers.get(b"transfer-encoding", b"").lower()
    if te == b"chunked":
        body, n_chunks = _dechunk_and_verify(b, pos, headers, path)
    elif b"content-length" in headers:
        body, n_chunks = _framed_by_content_length(
            b, pos, headers, path), 0
    else:
        if pos != len(b):
            raise ValueError(
                f"{path}: request without framing carries "
                f"{len(b) - pos} bytes of body")
        body, n_chunks = b"", 0
    return (method.decode("ascii"), target.decode("ascii", "replace"),
            version.decode("ascii"), headers,
            _content_decode(body, headers, path), n_chunks)


def _content_decode(body: bytes, headers: dict, path: str) -> bytes:
    """Apply Content-Encoding to the de-framed bytes (RFC 7231 §3.1.2):
    ``gzip`` inflates through the same verified member walk as the
    .warc.gz container (single member required); ``identity``/absent
    passes through; anything else is an attributable reject."""
    ce = headers.get(b"content-encoding", b"identity").lower()
    if ce in (b"identity", b""):
        return body
    if ce == b"gzip":
        members = list(iter_gzip_members_stream(
            io.BytesIO(body), f"{path} (entity)"))
        if len(members) != 1:
            raise ValueError(
                f"{path}: gzip entity holds {len(members)} members")
        return members[0]
    raise ValueError(f"{path}: unsupported Content-Encoding {ce!r}")


def _declared_payload_digest(wh: dict, path: str, doc_id: int):
    """A record's labelled ``WARC-Payload-Digest`` → (alg, raw digest
    bytes), or None when the record declares none or a label this
    engine cannot recompute (the label set is open-ended). The one
    parse of that header every plane shares: label split, ASCII
    decode, :data:`_DIGEST_SIZES` check, :func:`_decode_labelled_digest`.
    A known-label value that parses as neither hex nor Base32 RAISES —
    malformed is a defect, not license to skip the check (and not the
    same thing as mismatched): the digest is dedup's join key, and a
    silently-NULL garbled key would drop the observation without a
    trace."""
    decl = wh.get(b"warc-payload-digest")
    if decl is None:
        return None
    alg, _, val = decl.partition(b":")
    try:
        alg = alg.strip().lower().decode("ascii")
    except UnicodeDecodeError:
        return None
    if alg not in _DIGEST_SIZES:
        return None
    raw = _decode_labelled_digest(alg, val)
    if raw is None:
        raise ValueError(
            f"{path}: malformed WARC-Payload-Digest value for {alg} "
            f"(doc {doc_id})")
    return alg, raw


def _payload_digest_verdict(wh: dict, body: bytes, path: str,
                            doc_id: int) -> tuple[str | None, bool | None]:
    """The labelled WARC-Payload-Digest verdict of the meta and
    resolution planes: → (sha256_hex_or_None, verified_True/False/None)
    — the value surfaces only under a sha256 label, but sha1/md5
    labels are still VERIFIED against ``body``."""
    import hashlib

    declared = _declared_payload_digest(wh, path, doc_id)
    if declared is None:
        return None, None
    alg, raw = declared
    digest = raw.hex() if alg == "sha256" else None
    return digest, hashlib.new(alg, body).digest() == raw


# ISO 28500 §6.7.2: the revisit profile URI declaring "same payload as
# the referred-to capture" — the only revisit profile the public
# corpora use in practice
_REVISIT_PROFILE = \
    b"http://netpreserve.org/warc/1.0/revisit/identical-payload-digest"


def _segment_members(doc_id: int, http: bytes, orig_id: bytes,
                     entity_digest: str) -> list[bytes]:
    """Split one record's HTTP message across a 3-record segmented
    chain (ISO 28500 §5.18-5.20), one gzip member each: the first
    record keeps the response headers + ``WARC-Segment-Number: 1``,
    continuations cite it via ``WARC-Segment-Origin-ID``, and the last
    declares ``WARC-Segment-Total-Length``. The writer CDX-indexes the
    chain as ONE extent (offset of the first member, summed length) —
    random access to a segmented record means fetching the whole
    chain, and the biggest documents are exactly the ones segmented."""
    k = 3
    q, rem = divmod(len(http), k)
    parts, off = [], 0
    for i in range(k):
        n = q + (1 if i < rem else 0)
        parts.append(http[off: off + n])
        off += n
    out: list[bytes] = []
    rec1 = build_warc_record(
        doc_id,
        payload=parts[0],
        content_type=b"application/http;msgtype=response",
        payload_digest=entity_digest,
        extra_headers=[(b"WARC-Segment-Number", b"1")])
    out.append(gzip_member(rec1))
    for i, part in enumerate(parts[1:], start=2):
        extra = [(b"WARC-Segment-Origin-ID", orig_id),
                 (b"WARC-Segment-Number", str(i).encode())]
        if i == k:
            extra.append(
                (b"WARC-Segment-Total-Length", str(len(http)).encode()))
        cont = build_warc_record(
            doc_id,
            payload=part,
            warc_type=b"continuation",
            content_type=b"application/octet-stream",
            record_id=(f"<urn:uuid:00000000-0000-0001-{i:04d}-"
                       f"{doc_id:012d}>".encode()),
            extra_headers=extra)
        out.append(gzip_member(cont))
    return out


# per-doc charset rotation for charsets=True fixtures: label and the
# decoration appended after ASCII-folding (each suffix exercises bytes
# DISTINCTIVE to that codepage — €/—/™ live in cp1252's 0x80–0x9F
# range that latin-1 maps to C1 controls; é/£/±/° are latin-1 high
# bytes; us-ascii stays pure 7-bit)
_CHARSET_ROTATION = [
    ("utf-8", None),
    ("windows-1252", " €—™"),   # euro, em-dash, TM
    ("iso-8859-1", " caf\xe9 \xa3\xb1\xb0"),   # cafe-acute, pound...
    ("us-ascii", ""),
]

# east-asian rotation (charsets="east-asian"): the multi-byte legacy
# codepages a real crawl's JP/CN/TW/KR long tail actually declares.
# Each suffix uses characters NATIVE to that codepage (JIS X 0208
# katakana, GBK hanzi, KS X 1001 hangul, Big5 traditional forms,
# GB2312 level-1 simplified) so the decode is provably by-the-label:
# a reader that falls back to any single-byte codec produces mojibake
# and hash-breaks the oracle's restatement.
_CHARSET_ROTATION_EA = [
    ("utf-8", None),
    ("shift_jis", " テスト"),
    ("gbk", " 中文测试"),
    ("euc-kr", " 한글"),
    ("big5", " 繁體中文"),
    ("gb2312", " 简体文本"),
]


def write_warc_gz_dataset(df: DataFrame, out_dir: str,
                          n_files: int = 4,
                          charsets: bool | str = False,
                          revisits: bool = False,
                          segments: int | None = None,
                          mislabel: bool = False,
                          requests: bool = False) -> None:
    """One ``.warc.gz`` file per partition, ONE GZIP MEMBER PER RECORD
    (the Common Crawl layout — member boundaries are the split points a
    distributed reader fans out on). Each record's payload is a full
    HTTP/1.1 response (chunked or Content-Length framed) wrapping the
    document text, and every record declares the ISO 28500 labelled
    digests (sha256 block + entity) the read path verifies. ``df``
    must carry (doc_id, text).

    ``charsets=True`` rotates the entity encoding per doc (doc_id % 4:
    utf-8 / windows-1252 / iso-8859-1 / us-ascii, declared in the
    Content-Type charset parameter); ``charsets="east-asian"`` rotates
    the multi-byte legacy codepages instead (doc_id % 6: utf-8 /
    shift_jis / gbk / euc-kr / big5 / gb2312). Non-UTF-8 docs are ASCII-folded (non-ASCII codepoints
    stripped) then decorated with a codepage-distinctive suffix so
    every encoding round-trips exactly and the oracle can restate the
    expected text in SQL.

    ``revisits=True`` appends, after every 10th doc's response, a
    ``revisit`` record (ISO 28500 §6.7.2 identical-payload-digest
    profile) — dedup's wire format in the public corpora: a re-crawl
    whose payload matched an earlier capture ships as a body-less
    record carrying the original's URI/record-id/date references and
    the shared payload digest, so consumers resolve content through
    the reference instead of storing the body twice. The revisit's
    block is the re-crawl's HTTP header section (what real crawlers
    store); its target URI is a mirror host to make the revisit→
    original resolution a real join, not an identity.

    ``segments=k`` writes every k-th doc's record SEGMENTED (ISO 28500
    §5.18-5.20): the HTTP message splits across a first record with
    ``WARC-Segment-Number: 1`` and two ``continuation`` records (the
    last carrying ``WARC-Segment-Total-Length``), each its own gzip
    member — how records over a writer's size ceiling actually ship.
    The CDX contract is one extent = one whole fetchable LOGICAL
    response: a segmented chain is indexed as a single extent spanning
    all its members (the largest docs are exactly the ones needing
    random access), while body-less revisit references get no line.

    ``mislabel=True`` declares ``utf-8`` for every odd doc while the
    entity bytes end in an invalid UTF-8 sequence — the mislabeled-page
    case a real crawl is full of; the strict reader must surface NULL
    text with framing columns intact.

    ``requests=True`` writes, BEFORE each doc's response member(s),
    the ``request`` record real crawlers pair with every capture
    (ISO 28500 §6.4): the client HTTP message from
    :func:`build_http_request` (GET majority; every 5th doc a POST,
    chunked framing with verified trailers on every 10th), linked to
    its response via ``WARC-Concurrent-To``. Request members sit
    OUTSIDE the CDX extents (the index serves fetchable responses),
    and the response/revisit/meta readers skip them — the record
    stream partitions cleanly across the four scans."""
    import hashlib
    import re as _re

    sel = df.select("doc_id", "text")

    def _write(pid: int, it):
        shard = f"part-{pid:05d}.warc.gz"
        # append member-by-member: bytes `out += member` is O(shard²)
        # across tens of thousands of members (the 2M-doc rehearsal
        # measured the cliff) — stream to the file and track the offset.
        # The file is opened lazily on the FIRST record: an empty
        # partition (rows < n_files) must not leave a 0-byte .warc.gz
        # behind, because the gzip member walker rejects an empty stream —
        # the writer's output stays readable by its own walker for any
        # consumer, not just listings that skip zero-length files.
        cdx_lines = []
        offset = 0
        f = None
        try:
            for r in it:
                doc_id, text = int(r[0]), r[1]
                if f is None:
                    f = open(os.path.join(out_dir, shard), "wb")
                cs = "utf-8"
                if charsets:
                    rotation = (_CHARSET_ROTATION_EA
                                if charsets == "east-asian"
                                else _CHARSET_ROTATION)
                    cs, suffix = rotation[doc_id % len(rotation)]
                    if suffix is not None:
                        text = _re.sub(r"[^\x00-\x7f]", "", text) + suffix
                if mislabel and doc_id % 2 == 1:
                    # declared utf-8, bytes that can never decode as it
                    # (0xe9 0xa0 is a truncated 3-byte sequence, 0xff is
                    # never valid) — payload digest still matches the
                    # BYTES, so only the text column goes NULL
                    entity = (_re.sub(r"[^\x00-\x7f]", "", text)
                              .encode("ascii") + b" caf\xe9\xa0\xff")
                else:
                    entity = text.encode(_CHARSET_CODECS[cs])
                http = build_http_response(entity, doc_id, charset=cs)
                orig_id = (f"<urn:uuid:00000000-0000-0000-0000-"
                           f"{doc_id:012d}>".encode())
                orig_uri = f"http://example.com/doc/{doc_id}".encode()
                entity_digest = hashlib.sha256(entity).hexdigest()
                if requests:
                    # the capture's request record precedes its
                    # response (crawler write order); its own member,
                    # outside the response's CDX extent
                    req_body = _request_body(doc_id)
                    req = build_warc_record(
                        doc_id,
                        payload=build_http_request(doc_id),
                        warc_type=b"request",
                        content_type=b"application/http;msgtype=request",
                        payload_digest=hashlib.sha256(
                            req_body).hexdigest(),
                        record_id=(f"<urn:uuid:00000000-0000-0001-0000-"
                                   f"{doc_id:012d}>".encode()),
                        extra_headers=[(b"WARC-Concurrent-To", orig_id)])
                    member = gzip_member(req)
                    f.write(member)
                    offset += len(member)
                if segments and doc_id % segments == 0 and len(http) >= 3:
                    members = _segment_members(
                        doc_id, http, orig_id, entity_digest)
                else:
                    rec = build_warc_record(
                        doc_id,
                        payload=http,
                        content_type=b"application/http;msgtype=response",
                        payload_digest=entity_digest)
                    fname = (f"rec-{doc_id}.warc".encode()
                             if doc_id % 5 == 0 else None)
                    members = [gzip_member(rec, fname=fname,
                                           fhcrc=doc_id % 7 == 0)]
                # CDX sidecar line: one index row per LOGICAL response
                # with its exact byte extent — a segmented chain is
                # indexed as one extent spanning all its members, so
                # random access serves the largest (segmented) docs too
                cdx_lines.append(
                    f"http://example.com/doc/{doc_id} {doc_id} "
                    f"{shard} {offset} {sum(len(m) for m in members)}")
                for member in members:
                    f.write(member)
                    offset += len(member)
                if revisits and doc_id % 10 == 0:
                    http_head = http[: http.find(_CRLF + _CRLF) + 4]
                    rev = build_warc_record(
                        doc_id,
                        payload=http_head,
                        warc_type=b"revisit",
                        content_type=b"application/http;msgtype=response",
                        payload_digest=entity_digest,
                        record_id=(f"<urn:uuid:00000000-0000-0002-0000-"
                                   f"{doc_id:012d}>".encode()),
                        target_uri=(f"http://mirror.example.com/doc/"
                                    f"{doc_id}".encode()),
                        extra_headers=[
                            (b"WARC-Profile", _REVISIT_PROFILE),
                            (b"WARC-Refers-To", orig_id),
                            (b"WARC-Refers-To-Target-URI", orig_uri),
                            (b"WARC-Refers-To-Date", _WARC_DATE.encode()),
                        ])
                    member = gzip_member(rev)
                    f.write(member)
                    offset += len(member)
        finally:
            if f is not None:
                f.close()
        if cdx_lines:
            with open(
                    os.path.join(out_dir, shard[: -len(".warc.gz")] + ".cdx"),
                    "w") as cf:
                cf.write("\n".join(cdx_lines) + "\n")
        return iter(())

    import shutil

    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir, exist_ok=True)
    # deterministic layout BY CONSTRUCTION: hash-partition on doc_id
    # (stable doc→shard mapping regardless of the upstream scan's
    # split layout) and sort within each shard — so the written bytes
    # are a pure function of the data, reproducible across sessions,
    # environments, and input split counts. Round-robin repartition
    # would make shard contents depend on the source's partition
    # boundaries, which is exactly the kind of hidden environment
    # coupling a provenance-bearing corpus writer must not have.
    (sel.repartition(n_files, F.col("doc_id"))
        .sortWithinPartitions("doc_id")
        .rdd.mapPartitionsWithIndex(_write).count())


def read_cdx(spark: SparkSession, path_glob: str) -> DataFrame:
    """The CDX sidecar index → (target_uri, doc_id, shard, offset,
    length): one row per gzip member with its exact byte extent in its
    shard. This is how the public crawl corpora support random access —
    a consumer resolves URIs through the (tiny) index and range-reads
    ONLY the members it wants instead of inflating whole shards."""
    lines = spark.read.text(path_glob)
    c = F.split(F.col("value"), " ")
    return lines.select(
        c.getItem(0).alias("target_uri"),
        c.getItem(1).cast("long").alias("doc_id"),
        c.getItem(2).alias("shard"),
        c.getItem(3).cast("long").alias("offset"),
        c.getItem(4).cast("long").alias("length"),
    )


def _fetch_extent_row(raw: bytes, where: str):
    """Decode ONE indexed extent's bytes into its single logical
    response row (doc_id, uri, status, entity_len, text) — shared by
    the Spark fetcher and the fuzz wrapper so the soak exercises the
    exact code the fetcher runs. An extent is ONE logical response: a
    single member for a plain record, or a whole segmented chain
    (first + continuations) — the writer indexes chains as one extent.
    Anything else in the extent is an attributable index defect, and a
    PARTIAL chain fails the reassembly walk (truncation /
    orphan-continuation raises) — never a silently-short row."""
    recs = list(_shard_records(io.BytesIO(raw), where))
    for _d, _u, _n2, _b, wh in recs:
        wtype = wh.get(b"warc-type", b"response").strip().lower()
        if wtype not in (b"response", b"continuation"):
            raise ValueError(
                f"{where}: indexed extent holds a non-response record "
                f"(WARC-Type={wtype.decode()})")
    resp = list(_walk_response_records(iter(recs), where))
    if len(resp) != 1:
        raise ValueError(
            f"{where}: indexed extent yields {len(resp)} logical "
            f"responses (the CDX contract is exactly one)")
    d, u, _n, block, wh = resp[0]
    st, hh, body, _k = parse_http_response_ex(block, where)
    return (d, u, st, len(body), _entity_text(body, hh))


def try_fetch_extent(raw: bytes):
    """Fuzz-contract wrapper over the CDX extent fetch decode: the row
    tuple, or None on any defect — never raises, and (the contract the
    r14 soak asserts) never a SHORT row: a mutated extent either
    rejects or yields exactly the control row, because every partial /
    over-long / corrupted extent fails a framing, digest, reassembly,
    or one-logical-response check."""
    try:
        return _fetch_extent_row(raw, "<bytes>")
    except ValueError:
        return None


def fetch_warc_members(index: DataFrame, base_dir: str) -> DataFrame:
    """Indexed random access: for each index row, seek to the member's
    byte extent in its shard, inflate JUST that extent, and decode the
    record + HTTP response. An extent is one LOGICAL response: a single
    gzip member for a plain record, or a whole segmented chain (first
    record + continuations, reassembled in-extent) — so random access
    serves the largest documents too. Reads exactly sum(length) bytes
    of payload data regardless of shard sizes — the point of the CDX
    layout (on object storage this seek becomes an HTTP Range
    request). Extent defects (members not ending exactly at
    offset+length, non-response records, partial chains, or any
    framing violation inside) raise with shard and offset."""
    schema = StructType(
        [
            StructField("doc_id", LongType(), True),
            StructField("target_uri", StringType(), True),
            StructField("http_status", LongType(), True),
            StructField("content_length", LongType(), True),
            StructField("text", StringType(), True),
        ]
    )

    def _fetch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            # one open handle per shard per Arrow batch (not per row):
            # a large picked set against few shards would otherwise pay
            # O(rows) opens — same batch-scoped cache pattern as the
            # robots.txt fetcher
            handles: dict = {}
            try:
                for shard, off, ln in zip(pdf["shard"], pdf["offset"],
                                          pdf["length"]):
                    where = f"{shard}@{off}+{ln}"
                    f = handles.get(shard)
                    if f is None:
                        f = handles[shard] = open(
                            os.path.join(base_dir, shard), "rb")
                    f.seek(int(off))
                    raw = f.read(int(ln))
                    if len(raw) != ln:
                        raise ValueError(
                            f"{where}: extent past end of shard")
                    rows.append(_fetch_extent_row(raw, where))
            finally:
                for f in handles.values():
                    f.close()
            yield pd.DataFrame(
                rows, columns=["doc_id", "target_uri", "http_status",
                               "content_length", "text"])

    return index.select("shard", "offset", "length").mapInPandas(
        _fetch, schema)


# Content-Type charset labels this ingest can decode (IANA preferred
# names + common aliases → Python codec). Everything here is a strict
# single-byte or UTF decode — no guessing, no lossy replacement: a
# mislabeled page becomes NULL text, never silently wrong text.
_CHARSET_CODECS = {
    "utf-8": "utf-8",
    "utf8": "utf-8",
    "windows-1252": "cp1252",
    "cp1252": "cp1252",
    "iso-8859-1": "latin-1",
    "latin-1": "latin-1",
    "latin1": "latin-1",
    "us-ascii": "ascii",
    "ascii": "ascii",
    # east-asian multi-byte codepages (IANA labels the wild declares);
    # strict stdlib codecs — a byte sequence outside the codepage NULLs
    # the text, same contract as the single-byte map above
    "shift_jis": "shift_jis",
    "shift-jis": "shift_jis",
    "sjis": "shift_jis",
    "gbk": "gbk",
    "gb2312": "gb2312",
    "euc-kr": "euc_kr",
    "euc_kr": "euc_kr",
    "big5": "big5",
    # BOM-detected labels (sniff_charset): utf-8-sig strips the BOM,
    # utf-16 picks endianness from the BOM and consumes it
    "utf-8-sig": "utf-8-sig",
    "utf-16": "utf-16",
}


def _charset_of(headers: dict | None) -> str | None:
    """The declared charset parameter of the Content-Type header
    (lowercased, quotes stripped), or None when absent."""
    if not headers:
        return None
    ct = headers.get(b"content-type", b"")
    for part in ct.split(b";")[1:]:
        k, sep, v = part.partition(b"=")
        if sep and k.strip().lower() == b"charset":
            try:
                return v.strip().strip(b'"').lower().decode("ascii")
            except UnicodeDecodeError:
                return None
    return None


def sniff_charset(body: bytes) -> str | None:
    """Charset detection for entities with NO declared charset — the
    HTML5 prescan essentials (WHATWG "determining the character
    encoding"): a Unicode BOM wins outright; else the first 1024 bytes
    are scanned for ``<meta charset=...>`` or the ``http-equiv``
    Content-Type form. Returns a lowercase label or None. This is
    DETECTION of an in-band declaration, not statistical guessing —
    a page that declares nothing anywhere stays at the UTF-8 default
    and strict-decode rules."""
    if body.startswith(b"\xef\xbb\xbf"):
        return "utf-8-sig"
    if body.startswith(b"\xff\xfe") or body.startswith(b"\xfe\xff"):
        return "utf-16"
    head = body[:1024].lower()
    pos = 0
    while True:
        i = head.find(b"<meta", pos)
        if i < 0:
            return None
        j = head.find(b">", i)
        tag = head[i:j if j > 0 else len(head)]
        pos = i + 5
        m = tag.find(b"charset=")
        if m < 0:
            continue
        v = tag[m + len(b"charset="):].strip()
        if v[:1] in (b'"', b"'"):
            q = v[:1]
            end = v.find(q, 1)
            if end < 0:
                continue
            v = v[1:end]
        else:
            for stop in (b" ", b"\t", b";", b"/", b'"', b"'"):
                cut = v.find(stop)
                if cut >= 0:
                    v = v[:cut]
        v = v.strip()
        if v:
            try:
                return v.decode("ascii").lower()
            except UnicodeDecodeError:
                return None


def _entity_text(body: bytes, headers: dict | None = None) -> str | None:
    """Entity bytes → text by the DECLARED charset (Content-Type
    parameter; absent → the in-band declaration found by
    :func:`sniff_charset` (BOM / meta prescan); nothing declared
    anywhere → UTF-8), or None when the label is unknown or the bytes
    don't strictly decode — charset variety is a DATA property of a
    real crawl, not a framing defect, so it must not kill the ingest
    (framing/CRC defects still raise; a mislabeled page becomes NULL
    text, never silently wrong text). Byte-level consumers key on
    content_length."""
    label = _charset_of(headers)
    if label is None:
        label = sniff_charset(body)
    codec = _CHARSET_CODECS.get(label or "utf-8")
    if codec is None:
        return None
    try:
        return body.decode(codec)
    except UnicodeDecodeError:
        return None


# rows per emitted Arrow batch in the streaming scans: bounds the
# pandas/Arrow high-water mark per task regardless of shard row count
_SCAN_BATCH_ROWS = 8192

# shard listings up to this size ride a range+array-literal relation
# (no Python RDD, no exchange); larger listings fall back to
# createDataFrame so plan trees stay bounded.
_PATHS_LITERAL_MAX = 4096


def _shard_paths_df(spark: SparkSession, path_glob: str) -> DataFrame:
    """Driver-side shard listing → one (path) row per shard, exactly
    one partition per shard. The batch .warc.gz readers deliberately do
    NOT use the binaryFile source: binaryFile ships every shard's BYTES
    through the JVM as a whole-file binary row (file buffer + Arrow
    copy, × concurrent tasks), so per-task heap scales with shard size
    and the scan OOMs the moment the corpus doubles at fixed shard
    count — the r13 8M-doc rehearsal hit exactly that cliff at 8 GiB.
    Listing paths is the trivial part (the CDX/catalog plane already
    lists every shard); the Python workers then open and STREAM each
    shard themselves with O(member) memory, and the JVM never holds a
    single content byte.

    Filesystem contract: LOCAL ONLY (``glob.glob`` + ``open``) — shared
    POSIX mounts included, which is what local-mode and the test rig
    use. An object-store URI (``s3://…``) is an attributable error via
    :func:`_local_path_of`, never silently treated as a relative path.
    TODO(object storage): the walker itself is transport-agnostic (it
    consumes any ``.read()``-able), so extending this means swapping
    the listing for the store's list API and ``open`` for a ranged GET
    stream; nothing implements that today."""
    import glob as _glob

    local = _local_path_of(path_glob)
    paths = sorted(_glob.glob(local))
    if not paths:
        raise FileNotFoundError(f"no shards match {path_glob}")
    if len(paths) <= _PATHS_LITERAL_MAX:
        # JVM-native tiny relation: range(n, numPartitions=n) + an array
        # literal indexed by id. The createDataFrame+repartition form this
        # replaces pickled the rows through a Python RDD scan AND paid a
        # round-robin exchange — ~0.55s of fixed overhead per scan on a
        # local 32-core session (measured r15; the walk itself is the same
        # either way). One partition per shard by construction.
        from pyspark.sql import functions as _F

        return spark.range(0, len(paths), 1, len(paths)).select(
            _F.element_at(
                _F.lit(paths), (_F.col("id") + 1).cast("int")
            ).alias("path")
        )
    # huge listings (a real crawl's shard catalog): keep the plan small —
    # a million-element array literal would bloat every plan tree that
    # embeds this scan. The exchange cost is noise at that scale.
    df = spark.createDataFrame([(p,) for p in paths], "path string")
    return df.repartition(len(paths))


# -------------------------------------------------------------------------
# Planes — what one .warc.gz record walk is read AS. A plane is a DDL
# schema plus a row function ``rows(records, path)`` over the
# :func:`_shard_records` stream of ONE shard. The Spark readers (batch
# and streaming tail) and the fuzz wrapper run these same functions, so
# the soak exercises exactly the code the readers run, and the planes
# partition the record stream cleanly: response/meta/resolution parse
# responses (segment reassembly included) and skip every other record
# type, the request plane reads only request records.
# -------------------------------------------------------------------------


def _response_rows(records, path: str):
    """``response`` plane — one row per assembled response record:
    (doc_id, target_uri, http_status, n_chunks, content_length, text).
    ``content_length`` is the ENTITY byte count (after de-chunking and
    Content-Encoding), not the WARC block length; ``text`` decodes by
    the declared charset (:func:`_entity_text`; NULL when the label is
    unknown or the bytes don't strictly decode)."""
    for d, u, _wh, st, hh, body, k in _http_responses(records, path):
        yield d, u, st, k, len(body), _entity_text(body, hh)


def _meta_rows(records, path: str):
    """``meta`` plane — the digest- and charset-exposing variant of the
    response plane, the provenance columns a training-data pipeline
    keys dedup and audit on: (doc_id, target_uri, http_status,
    content_length, charset, text, payload_sha256, digest_verified).

    ``payload_sha256`` is the record's labelled ``WARC-Payload-Digest``
    normalized to hex (NULL when the record carries none or a
    non-sha256 label — sha1/md5 labels are still VERIFIED, their value
    just isn't surfaced in a column named sha256); ``digest_verified``
    is the three-state verdict the column name promises: TRUE when the
    declared digest (hex or Base32 value, sha256/sha1/md5 label) was
    recomputed over the decoded entity and matched, FALSE when it did
    NOT match, NULL when the record declares nothing this engine can
    recompute. A mismatch is a row-level DATA verdict, not a scan
    abort: the payload digest is a provenance CLAIM by whoever wrote
    the record, and at 100 TB one bad claim must be filterable
    (``digest_verified = false`` → quarantine) without killing the
    ingest — unlike the block digest / gzip CRC / trailer checks
    below this layer, which certify the CONTAINER this engine is
    reading and still raise attributably. A known-label digest value
    that parses as neither hex nor Base32 raises (malformed, not
    merely mismatched). ``charset`` is the declared Content-Type
    parameter; text is NULL when the label is unknown or the bytes
    don't strictly decode."""
    for d, u, wh, st, hh, body, _k in _http_responses(records, path):
        digest, verified = _payload_digest_verdict(wh, body, path, d)
        yield (d, u, st, len(body), _charset_of(hh),
               _entity_text(body, hh), digest, verified)


def _request_rows(records, path: str):
    """``request`` plane — the client half of each capture (ISO 28500
    §6.4), the plane crawl forensics and politeness audits read: what
    was ASKED for, by which agent, with which method and body. One row
    per ``request`` record: (doc_id, target_uri, method,
    request_target, http_version, user_agent, body_len, n_chunks,
    concurrent_to) via the strict request-side parse
    (:func:`parse_http_request_ex` — request-line token checks, both
    body framings plus the bodyless no-framing form, verified chunked
    trailers); ``concurrent_to`` is the stored response's record id,
    so joining the two planes is id-exact, not URI-heuristic. A
    malformed client message is a framing defect (raise with the shard
    path), not data — the request plane is provenance, and a
    silently-dropped or half-parsed request would misattribute what
    the crawler actually sent."""
    for d, u, _n, block, wh in records:
        if wh.get(b"warc-type", b"").strip().lower() != b"request":
            continue
        method, target, version, hh, body, k = parse_http_request_ex(
            block, path)
        ua = hh.get(b"user-agent")
        yield (d, u, method, target, version,
               ua.decode("utf-8", "replace") if ua is not None else None,
               len(body), k,
               wh.get(b"warc-concurrent-to", b"").decode() or None)


def _revisit_row(d: int, u: str, wh: dict, path: str):
    """One ``revisit`` record's resolution row — dedup's wire format in
    the public crawl corpora (ISO 28500 §6.7.2): a re-crawl whose
    payload matched an earlier capture ships body-less, carrying only
    the original's references and the shared payload digest. → (doc_id,
    'revisit', target_uri, refers_to_uri, payload_sha256), everything a
    dedup resolver needs to rejoin the re-crawl to its stored original
    without inflating any body bytes. The digest value decodes from hex
    or Base32 (normalized to hex; non-sha256 labels surface NULL); a
    malformed known-label value RAISES — same 'garbled is a defect, not
    license to skip' contract as the block and response-payload digest
    checks; the digest is dedup's join key, and a silently-NULL garbled
    key would drop the re-crawl observation without a trace."""
    declared = _declared_payload_digest(wh, path, d)
    digest = (declared[1].hex()
              if declared is not None and declared[0] == "sha256" else None)
    return (d, "revisit", u,
            wh.get(b"warc-refers-to-target-uri", b"").decode() or None,
            digest)


def _resolution_rows(records, path: str):
    """``resolution`` plane — BOTH sides of revisit resolution from ONE
    walk: (doc_id, wtype, target_uri, refers_to_uri, payload_sha256)
    where ``wtype`` is 'response' or 'revisit'. r15's revisit-dedup
    query ran a revisit reader AND the metadata reader — two full
    gzip+WARC walks of every shard per execution — to partition a
    record stream one walk already sees whole (guide §4: collapse
    chained/parallel Python stages). Response rows pass through the
    same segment-reassembly walk, strict HTTP parse and labelled-digest
    verdict the meta plane runs (any framing defect raises
    identically); revisit rows are captured OFF the raw record stream
    (the response walk skips them) by :func:`_revisit_row` and follow
    the shard's response rows — bounded, the reference plane is a
    sliver of the response plane."""
    revisits: list[tuple] = []

    def _tap():
        for rec in records:
            wh = rec[4]
            if wh.get(b"warc-type", b"").strip().lower() == b"revisit":
                revisits.append(_revisit_row(rec[0], rec[1], wh, path))
            yield rec

    for d, u, wh, _st, _hh, body, _k in _http_responses(_tap(), path):
        digest, _verified = _payload_digest_verdict(wh, body, path, d)
        yield d, "response", u, None, digest
    yield from revisits


# plane name → (DDL schema, row function over one shard's record walk)
_PLANES = {
    "response": (
        "doc_id long, target_uri string, http_status long, "
        "n_chunks long, content_length long, text string",
        _response_rows),
    "meta": (
        "doc_id long, target_uri string, http_status long, "
        "content_length long, charset string, text string, "
        "payload_sha256 string, digest_verified boolean",
        _meta_rows),
    "request": (
        "doc_id long, target_uri string, method string, "
        "request_target string, http_version string, user_agent string, "
        "body_len long, n_chunks long, concurrent_to string",
        _request_rows),
    "resolution": (
        "doc_id long, wtype string, target_uri string, "
        "refers_to_uri string, payload_sha256 string",
        _resolution_rows),
}


def _plane(name: str):
    """(DDL schema, row function) of a plane; an unknown name raises."""
    if name not in _PLANES:
        raise ValueError(
            f"unknown .warc.gz plane {name!r} (one of {sorted(_PLANES)})")
    return _PLANES[name]


def try_scan_warc_gz(payload: bytes, plane: str = "response"):
    """Fuzz-contract wrapper over one plane of the .warc.gz read: the
    rows :func:`read_warc_gz` emits for a shard holding ``payload``
    (same record walk, same row function), or None on any defect —
    never raises (UnicodeDecodeError subclasses ValueError). The SOURCE
    path deliberately raises instead: an ingest failure must be
    attributable, whereas the fuzz contract is reject-never-crash. The
    key contract of the ``meta`` plane under digest-value mutation: a
    flipped declared digest must surface as None (malformed) or a
    ``digest_verified is False`` row — NEVER as a silently-True
    verdict."""
    rows_of = _plane(plane)[1]
    try:
        return list(rows_of(_shard_records(io.BytesIO(payload), "<bytes>"),
                            "<bytes>"))
    except ValueError:
        return None


def _plane_scan(files: DataFrame, plane: str) -> DataFrame:
    """The ONE batching loop every .warc.gz Spark read runs: ``files``
    carries one ``path`` per shard (a local path or a ``file:`` URI,
    see :func:`_local_path_of`); each task opens its shards, STREAMS
    them through :func:`_shard_records` and the plane's row function,
    and emits the rows in Arrow batches of at most
    :data:`_SCAN_BATCH_ROWS`. Map-only, per-task memory O(member)."""
    ddl, rows_of = _plane(plane)
    cols = [c.split()[0] for c in ddl.split(",")]

    def _dec(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for uri in pdf["path"]:
                path = _local_path_of(uri)
                rows = []
                with open(path, "rb") as f:
                    for row in rows_of(_shard_records(f, path), path):
                        rows.append(row)
                        if len(rows) >= _SCAN_BATCH_ROWS:
                            yield pd.DataFrame(rows, columns=cols)
                            rows = []
                if rows:
                    yield pd.DataFrame(rows, columns=cols)

    return files.select("path").mapInPandas(_dec, ddl)


def read_warc_gz(spark: SparkSession, path_glob: str,
                 plane: str = "response") -> DataFrame:
    """Shard-path scan → STREAMING gzip member walk → WARC record walk
    (segment reassembly included) → one row per record of ``plane``:

    * ``response`` (default) — (doc_id, target_uri, http_status,
      n_chunks, content_length, text), :func:`_response_rows`;
    * ``meta`` — adds the declared charset and the labelled
      payload-digest verdict, :func:`_meta_rows`;
    * ``request`` — the client half of each capture,
      :func:`_request_rows`;
    * ``resolution`` — response digests plus revisit references from
      one walk, :func:`_resolution_rows`.

    Map-only, one task per shard, per-task memory O(member),
    shard-size-INDEPENDENT (see :func:`_shard_paths_df` for why
    binaryFile is not used); rows flow out in bounded Arrow batches."""
    return _plane_scan(_shard_paths_df(spark, path_glob), plane)


def _local_path_of(uri: str) -> str:
    """binaryFile's ``path`` column is a URI, not a filesystem path —
    a shard directory with spaces or other reserved characters arrives
    percent-encoded (``%20``), so naive prefix-stripping would write
    the sidecar to a wrong literal-``%20`` path. Parse the URI properly
    (scheme + unquoted path component); a non-file scheme is an
    attributable error here — every caller (the shard-path scans, the
    streaming-tail walker, the sidecar emitter) operates with local
    ``glob``/``open`` and must not silently treat ``s3://bucket/x`` as
    a relative path. The message is caller-neutral: this helper serves
    readers and writers alike (local-filesystem contract, see
    :func:`_shard_paths_df`)."""
    from urllib.parse import unquote, urlparse

    p = urlparse(uri)
    if p.scheme in ("", "file"):
        return unquote(p.path) if p.scheme == "file" else uri
    raise ValueError(
        f"this scan requires a local file: URI (local-filesystem "
        f"contract, see _shard_paths_df), got {uri!r}")


def write_wat_sidecar(spark: SparkSession, warc_dir: str) -> None:
    """WAT-style metadata sidecar emission — the companion file layout
    the public crawl corpora ship next to their WARCs: for each
    ``part-*.warc.gz`` shard, one ``part-*.wat.jsonl`` with one JSON
    metadata record per WARC record (URI, status, entity byte count,
    entity sha256, and — when the entity is parseable HTML — the
    extracted title / link census / extracted-text md5). At 100 TB the
    point is exactly this split: metadata consumers (dedup planning,
    link-graph builds, quality audits) scan the thin sidecars and
    never touch the fat shards. Executor-side: each shard is walked
    and its sidecar written by the task that read it — map-only, no
    shuffle, per-shard independent.

    Memory-contract history of this stage: the r11 ``.rdd
    .mapPartitions`` form pickled whole shard rows through the
    JavaToPython bridge and OOM'd at 4M docs; the r12 Arrow binaryFile
    form fixed that but still materialized whole shards JVM-side and
    hit the next cliff at 8M; since r13 the walk STREAMS each shard
    from its path (O(member) memory, shard-size-independent) and the
    sidecar lines stream straight to disk."""
    import hashlib
    import json

    from ..functions.html import try_extract_html

    files = _shard_paths_df(spark, os.path.join(warc_dir, "*.warc.gz"))

    def _emit(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ns = []
            for path in pdf["path"]:
                local = _local_path_of(path)
                out = local[: -len(".warc.gz")] + ".wat.jsonl"
                n = 0
                with open(local, "rb") as f, open(out, "w") as sink:
                    for d, u, _wh, st, hh, body, _k in _http_responses(
                            _shard_records(f, local), local):
                        text = _entity_text(body, hh)
                        meta = {
                            "doc_id": d,
                            "target_uri": u,
                            "http_status": st,
                            "content_length": len(body),
                            "payload_sha256":
                                hashlib.sha256(body).hexdigest(),
                        }
                        ext = try_extract_html(text) if text else None
                        if ext is not None:
                            meta["title"] = ext["title"]
                            meta["n_links"] = ext["n_links"]
                            meta["text_md5"] = hashlib.md5(
                                ext["text"].encode("utf-8")).hexdigest()
                        sink.write(json.dumps(meta, sort_keys=True))
                        sink.write("\n")
                        n += 1
                ns.append(n)
            yield pd.DataFrame({"n_records": pd.Series(ns, dtype="int64")})

    files.mapInPandas(
        _emit, "n_records long").agg(F.sum("n_records")).collect()


_WAT_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), True),
        StructField("target_uri", StringType(), True),
        StructField("http_status", LongType(), True),
        StructField("content_length", LongType(), True),
        StructField("payload_sha256", StringType(), True),
        StructField("title", StringType(), True),
        StructField("n_links", LongType(), True),
        StructField("text_md5", StringType(), True),
    ]
)


def read_wat(spark: SparkSession, path_glob: str) -> DataFrame:
    """Scan WAT sidecars (JSON-lines, one metadata record per WARC
    response record) with an explicit schema — the thin metadata path that
    never inflates a shard."""
    return spark.read.schema(_WAT_SCHEMA).json(path_glob)


def read_warc_gz_stream(spark: SparkSession, path_glob: str,
                        **source_options) -> DataFrame:
    """Continuous-ingest twin of :func:`read_warc_gz`: a Structured
    Streaming ``binaryFile`` tail over a landing directory — new
    .warc.gz shards are picked up per micro-batch and flow through the
    SAME three-layer record walk (one code path for batch backfill and
    streaming tail, the lambda-architecture collapse Structured
    Streaming exists for). Append-only, no state, exactly-once per
    shard under checkpointing.

    Memory contract (r14): the binaryFile SOURCE stays — Structured
    Streaming owns the incremental file tracking (discovered-files log,
    exactly-once per shard) — but only its ``path`` column is
    projected, so column pruning keeps shard CONTENT out of the JVM
    entirely (binaryFile reads the bytes only when ``content`` is in
    the required schema); the Python workers then stream each landed
    shard through the batch readers' own plane loop
    (:func:`_plane_scan`, the ``response`` plane), the same O(member +
    chunk) walker. Before r14 this tail
    materialized whole shards JVM-side via the ``content`` column —
    the exact form the r13 8M-doc rehearsal proved OOMs an 8 GiB heap
    at 452 MB shards; a fat shard arriving on the LANDING path was the
    same OOM waiting. Per-task memory is now shard-size-independent on
    both paths. Local-filesystem contract as :func:`_shard_paths_df`."""
    files = (
        spark.readStream.format("binaryFile")
        .schema("path string, modificationTime timestamp, "
                "length long, content binary")
        .options(**source_options)
        .load(path_glob)
    )
    return _plane_scan(files, "response")


def write_warc_dataset(df: DataFrame, out_dir: str, n_files: int = 4) -> None:
    """One .warc file per partition, written executor-side.
    ``df`` must carry (doc_id, text)."""
    sel = df.select("doc_id", "text")

    def _write(pid: int, it):
        rows = [(int(r[0]), r[1]) for r in it]
        with open(os.path.join(out_dir, f"part-{pid:05d}.warc"), "wb") as f:
            f.write(write_warc_bytes(rows))
        return iter(())

    import shutil

    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir, exist_ok=True)
    # same deterministic layout as the gz writer (see there)
    (sel.repartition(n_files, F.col("doc_id"))
        .sortWithinPartitions("doc_id")
        .rdd.mapPartitionsWithIndex(_write).count())


def read_warc(spark: SparkSession, path_glob: str) -> DataFrame:
    """binaryFile scan → Arrow mapInPandas record walk → one row per
    WARC record (doc_id, target_uri, content_length, text). Plain
    uncompressed .warc is the LEGACY interchange shape (the public
    corpora ship .warc.gz); this reader keeps the simple whole-file
    walk — the scale path with the O(member) streaming contract is
    :func:`read_warc_gz`."""
    schema = StructType(
        [
            StructField("doc_id", LongType(), True),
            StructField("target_uri", StringType(), True),
            StructField("content_length", LongType(), True),
            StructField("text", StringType(), True),
        ]
    )
    files = spark.read.format("binaryFile").load(path_glob)

    def _dec(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for path, content in zip(pdf["path"], pdf["content"]):
                recs = _walk_response_records(decode_warc_bytes(
                    bytes(content), path, with_headers=True), path)
                yield pd.DataFrame(
                    [(d, u, n, body.decode("utf-8"))
                     for d, u, n, body, _wh in recs],
                    columns=["doc_id", "target_uri", "content_length",
                             "text"],
                )

    return files.select("path", "content").mapInPandas(_dec, schema)
