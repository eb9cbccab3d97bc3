"""Long-run mutation fuzz over EVERY decoder.

Beyond tests/test_property.py's 200-example hypothesis passes, this
hammers every row function of the media codec table (multimodal.CODECS),
the HTML and robots.txt extractors and every .warc.gz plane with N
truncation/byte-flip/splice mutations of a valid corpus (every codec
builder at 4 doc_ids, extra restart/TIFF-dialect variants, the WARC
ingest chain, every foreign fixture). Contract: a decoder may return
None or a tuple/list/dict, and must NEVER raise. r9 run: 60k mutations
x 25 decoders = 1.5M calls, 0 crashes (REHEARSAL_r09_fuzz.json).

    python tools/fuzz_soak.py [n_mutations] [seed]
"""
import random, sys, traceback
sys.path.insert(0, __import__('os').path.dirname(__import__('os').path.dirname(__import__('os').path.abspath(__file__))))
from sql_query_engine_spark.functions import multimodal as _mm
from sql_query_engine_spark.functions.html import try_extract_html as _html
from sql_query_engine_spark.functions.robots import (
    try_robots_decide as _robots,
)
from sql_query_engine_spark.sources.warc import (
    _PLANES as _warc_planes,
    try_scan_warc_gz as _warcgz,
    gzip_member as _gzm,
    build_http_response as _bhttp,
    build_http_request as _bhttpreq,
    build_warc_record as _bwarc,
    _segment_members as _segm,
    _request_body as _reqbody,
    _decode_labelled_digest as _decdig,
)

def _warc_plane(plane):
    """try_scan_warc_gz bound to one .warc.gz plane, named for reports."""
    def scan(payload):
        return _warcgz(payload, plane)
    scan.__name__ = f"try_scan_warc_gz_{plane}"
    return scan


def _codec_row(name, row):
    """A codec-table row function, named for reports."""
    def decode(payload):
        return row(payload)
    decode.__name__ = f"codec_{name}"
    return decode


# one entry per distinct row function (codecs may share one)
_rows = {}
for _name, _codec in _mm.CODECS.items():
    _rows.setdefault(_codec.row, _name)

DECODERS = [
    *(_codec_row(name, row) for row, name in _rows.items()),
    _html,                                              # r11: HTML extract
    _robots,                                            # r11: robots.txt
    # every .warc.gz plane: response / meta / request / resolution
    *(_warc_plane(p) for p in _warc_planes),
]

def valid_corpus():
    outs = []
    for d in (0, 3, 7, 11):
        outs += [codec.build(d) for codec in _mm.CODECS.values()]
        # variants beyond the table's builders: JPEG restart markers, raw
        # TIFF strips, and every TIFF dialect at every doc_id
        outs.append(_mm.build_jpeg_pixels(d, restart_interval=2))
        outs.append(_mm.build_tiff_pixels(d))
        outs += [_mm.build_tiff_pixels(d, compression=c, endian=e, planar=p)
                 for c, e, p in _mm._TIFF_VARIANTS]
        # r11 ingest chain: a 2-member .warc.gz (HTTP chunked + CL
        # framings) and a standalone HTML page (UTF-8 bytes); r12: the
        # records carry the labelled digests + trailers the writer now
        # emits, and a charset-rotated member joins the corpus
        import hashlib as _hl
        from sql_query_engine_spark.functions.html import build_html_page
        _t = f"fuzz & <doc> {d} — ünïcode ☃"

        def _rec(did, ent=None, cs="utf-8"):
            ent = _t.encode() if ent is None else ent
            return _bwarc(
                did, payload=_bhttp(ent, did, charset=cs),
                content_type=b"application/http;msgtype=response",
                payload_digest=_hl.sha256(ent).hexdigest())
        outs.append(_gzm(_rec(d), fname=b"r.warc")
                    + _gzm(_rec(d + 1), fhcrc=True))
        outs.append(_gzm(_rec(d + 2, ent="ascii only".encode(),
                              cs="us-ascii"))
                    + _gzm(_rec(d + 5, ent=" €—™".encode("cp1252"),
                                cs="windows-1252")))
        # r13: east-asian multi-byte members — mutations inside a
        # shift_jis/gbk lead byte must reject or NULL, never mojibake
        outs.append(_gzm(_rec(d + 6, ent=" テスト".encode("shift_jis"),
                              cs="shift_jis"))
                    + _gzm(_rec(d + 7, ent=" 中文测试".encode("gbk"),
                                cs="gbk"))
                    + _gzm(_rec(d + 8, ent=" 한글".encode("euc_kr"),
                                cs="euc-kr")))
        outs.append(_gzm(_rec(d + 9, ent=" 繁體中文".encode("big5"),
                              cs="big5"))
                    + _gzm(_rec(d + 10, ent=" 简体文本".encode("gb2312"),
                                cs="gb2312")))
        # r12: mixed record types — warcinfo + request interleave the
        # responses like a real crawl file (readers must skip, and
        # mutations of the non-response records must still reject
        # cleanly)
        outs.append(
            _gzm(_bwarc(900 + d, "software: fuzz/1.0",
                        content_type=b"application/warc-fields",
                        warc_type=b"warcinfo"))
            + _gzm(_rec(d))
            + _gzm(_bwarc(903 + d,
                          "GET /doc HTTP/1.1\r\nHost: x\r\n\r\n",
                          warc_type=b"request")))
        # r13: a response+revisit pair (the dedup wire format) and a
        # 3-member segmented chain — mutations must hit the revisit
        # header walk and every reassembly rule (origin-id, numbering,
        # total-length, truncation) and still reject cleanly
        _ent13 = _t.encode()
        _h13 = _bhttp(_ent13, d + 3)
        outs.append(
            _gzm(_rec(d + 3))
            + _gzm(_bwarc(
                d + 3,
                payload=_h13[:_h13.find(b"\r\n\r\n") + 4],
                warc_type=b"revisit",
                content_type=b"application/http;msgtype=response",
                payload_digest=_hl.sha256(_ent13).hexdigest(),
                record_id=(f"<urn:uuid:00000000-0000-0002-0000-"
                           f"{d + 3:012d}>".encode()),
                target_uri=(f"http://mirror.example.com/doc/"
                            f"{d + 3}".encode()),
                extra_headers=[
                    (b"WARC-Profile",
                     b"http://netpreserve.org/warc/1.0/revisit/"
                     b"identical-payload-digest"),
                    (b"WARC-Refers-To",
                     f"<urn:uuid:00000000-0000-0000-0000-"
                     f"{d + 3:012d}>".encode()),
                    (b"WARC-Refers-To-Target-URI",
                     f"http://example.com/doc/{d + 3}".encode()),
                ])))
        _orig_id = (f"<urn:uuid:00000000-0000-0000-0000-"
                    f"{d + 4:012d}>".encode())
        _h14 = _bhttp(_ent13, d + 4)
        outs.append(b"".join(_segm(
            d + 4, _h14, _orig_id,
            _hl.sha256(_ent13).hexdigest())))
        # r14: writer-shaped request+response pair — a chunked POST
        # (verified X-Len/X-Payload-SHA256 trailers) linked by
        # WARC-Concurrent-To; mutations must hit the request-line
        # tokens, the request-side chunk walk, and the trailer checks,
        # and still reject cleanly (d*10 makes it the chunked branch)
        _rd = (d + 1) * 10
        outs.append(
            _gzm(_bwarc(
                _rd,
                payload=_bhttpreq(_rd),
                warc_type=b"request",
                content_type=b"application/http;msgtype=request",
                payload_digest=_hl.sha256(_reqbody(_rd)).hexdigest(),
                record_id=(f"<urn:uuid:00000000-0000-0001-0000-"
                           f"{_rd:012d}>".encode()),
                extra_headers=[
                    (b"WARC-Concurrent-To",
                     f"<urn:uuid:00000000-0000-0000-0000-"
                     f"{_rd:012d}>".encode())]))
            + _gzm(_rec(_rd)))
        outs.append(build_html_page(d, _t).encode())
        # r12: attribute-heavy page (quoted '>'s, duplicate/unquoted/
        # İ-named attributes, stray solidi) and an entity-bomb page
        # (dense named/decimal/hex/invalid references)
        _attrs = " ".join(
            f'a{i}-İ="v>{i}" b{i}=u{i} / c{i}' for i in range(40))
        outs.append((
            f'<p {_attrs}>x</p><a {_attrs} href="/y?a=1&amp;b=2">t</a>'
            f'<script {_attrs}>if (1<2) {{ x="</scr"+"ipt>"; }}</script>'
            f'<title {_attrs}>T</title>').encode())
        outs.append((
            "<p>" + "&amp;&lt;&gt;&quot;&#65;&#x1F600;&#xZZ;&unknown;"
            * 400 + "&#" + "9" * 30 + ";&#x" + "F" * 30 + ";</p>"
        ).encode())
        from sql_query_engine_spark.functions.robots import build_robots_txt
        outs.append(build_robots_txt(f"src{d}").encode())
    import os
    fdir = __import__('os').path.join(__import__('os').path.dirname(__import__('os').path.dirname(__import__('os').path.abspath(__file__))), 'tests', 'fixtures', 'foreign')
    for f in sorted(os.listdir(fdir)):
        if not f.endswith('.json'):
            outs.append(open(os.path.join(fdir, f), 'rb').read())
    return list(dict.fromkeys(o for o in outs if o))

corpus = valid_corpus()
rng = random.Random(int(sys.argv[2], 0) if len(sys.argv) > 2 else 0xF0225)
N = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000
fails = 0
for i in range(N):
    base = corpus[rng.randrange(len(corpus))]
    mode = rng.random()
    buf = bytearray(base)
    if mode < 0.35:           # truncate
        buf = buf[:rng.randrange(len(buf) + 1)]
    elif mode < 0.6:          # truncate + flips
        buf = buf[:rng.randrange(1, len(buf) + 1)]
        for _ in range(rng.randrange(1, 5)):
            if buf:
                buf[rng.randrange(len(buf))] ^= rng.randrange(1, 256)
    elif mode < 0.85:         # flips only
        for _ in range(rng.randrange(1, 9)):
            buf[rng.randrange(len(buf))] ^= rng.randrange(1, 256)
    else:                     # splice two streams
        other = corpus[rng.randrange(len(corpus))]
        cut = rng.randrange(len(buf))
        buf = buf[:cut] + bytearray(other[rng.randrange(len(other)):])
    payload = bytes(buf)
    for dec in DECODERS:
        try:
            out = dec(payload)
            assert out is None or isinstance(out, (tuple, list, dict))
        except Exception:
            fails += 1
            print(f"CRASH {dec.__name__} seed-iter {i}")
            traceback.print_exc(limit=3)
            open(f'/tmp/fuzz_crash_{dec.__name__}_{i}.bin', 'wb').write(payload)
            if fails > 5:
                sys.exit(1)
    if i % 20000 == 0:
        print(f"{i}/{N} mutations, {fails} crashes", flush=True)

# r12: targeted gzip MEMBER-BOUNDARY fuzz — the generic mutator rarely
# lands on the 8-byte trailer / next-header seam where the multi-member
# walk hands off, so hammer exactly that window: every mutation flips
# or truncates within ±12 bytes of a true member boundary of a valid
# 3-member stream (the seam covers CRC32+ISIZE of member k and the
# magic/FLG of member k+1).
import hashlib as _hl2
_ents = [b"seam one", "seam — tw☃".encode(), b"s3"]
_members = [
    _gzm(_bwarc(i + 1,
                payload=_bhttp(e, i + 1),
                content_type=b"application/http;msgtype=response",
                payload_digest=_hl2.sha256(e).hexdigest()),
         fname=b"m.warc" if i == 0 else None, fhcrc=i == 2)
    for i, e in enumerate(_ents)
]
_stream = b"".join(_members)
_bounds = [len(_members[0]), len(_members[0]) + len(_members[1])]
NB = max(N // 10, 1000)
for i in range(NB):
    b0 = _bounds[rng.randrange(len(_bounds))]
    off = max(0, min(len(_stream) - 1, b0 + rng.randrange(-12, 13)))
    buf = bytearray(_stream)
    if rng.random() < 0.3:
        buf = buf[:off]                       # truncate at the seam
    else:
        buf[off] ^= rng.randrange(1, 256)     # flip in the seam window
    try:
        out = _warcgz(bytes(buf))
        assert out is None or isinstance(out, (tuple, list, dict))
    except Exception:
        fails += 1
        print(f"CRASH boundary-fuzz iter {i} off {off}")
        traceback.print_exc(limit=3)
        open(f'/tmp/fuzz_crash_boundary_{i}.bin', 'wb').write(bytes(buf))
        if fails > 5:
            sys.exit(1)
print(f"boundary pass: {NB} seam mutations, {fails} total crashes")

# r13: targeted DIGEST/TRAILER bit-flips — the generic mutator mostly
# breaks gzip CRCs before a mutation ever reaches the digest layer, so
# flip bits INSIDE declared digest values (pre-gzip, then re-wrap) and
# assert the acceptance contract, not just no-crash:
#   * block-digest value flip  → scan rejects (None) — unless the flip
#     is a hex case-flip that decodes to the SAME raw digest (benign)
#   * payload-digest value flip → None (malformed) or a
#     digest_verified-False row — NEVER a silently-True verdict
#   * trailer-hex flip (block digest recomputed, i.e. an origin-side
#     corruption the container can't see) → scan rejects (None)
import hashlib as _hl3
_ent = "digest target — ☃ body".encode()
_httpCL = _bhttp(_ent, 6)     # Content-Length framing
_httpCH = _bhttp(_ent, 1)     # chunked + X-Payload-SHA256 trailer
NT = max(N // 10, 1000)
tfails = 0
for i in range(NT):
    kind = rng.randrange(3)
    if kind == 0:
        rec = _bwarc(6, payload=_httpCL,
                     content_type=b"application/http;msgtype=response")
        tag = b"WARC-Block-Digest: sha256:"
        start = rec.index(tag) + len(tag)
        span = (start, start + 64)
        orig_val = rec[span[0]:span[1]]
        pos = rng.randrange(*span)
        buf = bytearray(rec)
        buf[pos] ^= 1 << rng.randrange(8)
        new_val = bytes(buf[span[0]:span[1]])
        out = _warcgz(_gzm(bytes(buf)))
        same = (_decdig("sha256", new_val) == _decdig("sha256", orig_val)
                and _decdig("sha256", new_val) is not None)
        ok = (out is None) or same
    elif kind == 1:
        rec = _bwarc(6, payload=_httpCL,
                     content_type=b"application/http;msgtype=response",
                     payload_digest=_hl3.sha256(_ent).hexdigest())
        tag = b"WARC-Payload-Digest: sha256:"
        start = rec.index(tag) + len(tag)
        span = (start, start + 64)
        orig_val = rec[span[0]:span[1]]
        pos = rng.randrange(*span)
        buf = bytearray(rec)
        buf[pos] ^= 1 << rng.randrange(8)
        new_val = bytes(buf[span[0]:span[1]])
        out = _warcgz(_gzm(bytes(buf)), "meta")
        same = (_decdig("sha256", new_val) == _decdig("sha256", orig_val)
                and _decdig("sha256", new_val) is not None)
        # digest_verified is the meta plane's last column
        if same:
            ok = out is not None and all(r[-1] is True for r in out)
        else:
            ok = (out is None
                  or any(r[-1] is False for r in out))
    else:
        tag = b"X-Payload-SHA256: "
        start = _httpCH.index(tag) + len(tag)
        span = (start, start + 64)
        orig_val = _httpCH[span[0]:span[1]]
        pos = rng.randrange(*span)
        hbuf = bytearray(_httpCH)
        hbuf[pos] ^= 1 << rng.randrange(8)
        new_val = bytes(hbuf[span[0]:span[1]])
        # block digest recomputed over the mutated message: only the
        # TRAILER check can catch this one
        rec = _bwarc(1, payload=bytes(hbuf),
                     content_type=b"application/http;msgtype=response")
        out = _warcgz(_gzm(rec))
        same = new_val.lower() == orig_val.lower()
        ok = (out is None) or same
    if not ok:
        tfails += 1
        fails += 1
        print(f"SILENT-ACCEPT digest-fuzz kind {kind} iter {i}: {out!r}")
        if fails > 5:
            sys.exit(1)
print(f"digest pass: {NT} targeted flips "
      f"(block/payload/trailer), {tfails} silent-accepts")

# r14: targeted CHAIN-EXTENT CDX fetch mutations — the random-access
# contract is "one extent = one WHOLE fetchable logical response", and
# for a segmented chain the nightmare failure is a SHORT row: a
# corrupted extent or a broken mid-chain member silently serving a
# PREFIX of the document as if complete. Hammer exactly that: corrupt
# the extent length, the extent offset, and bytes of the MID-CHAIN
# member, and assert every mutated fetch either rejects (None — the
# Spark fetcher raises attributably) or returns byte-exactly the
# control row. try_fetch_extent wraps the same _fetch_extent_row the
# Spark fetcher runs.
from sql_query_engine_spark.sources.warc import (
    try_fetch_extent as _tfetch,
)

_ent14 = "chain-extent fuzz body — ünïcode ☃ ".encode() * 64
_httpX = _bhttp(_ent14, 5)
_oid14 = b"<urn:uuid:00000000-0000-0000-0000-000000000005>"
_chain_members = _segm(5, _httpX, _oid14,
                       _hl3.sha256(_ent14).hexdigest())
_chain = b"".join(_chain_members)
_plainm = _gzm(_bwarc(9, payload=_bhttp(b"follower", 9),
                      content_type=b"application/http;msgtype=response",
                      payload_digest=_hl3.sha256(b"follower").hexdigest()))
_shard14 = _chain + _plainm
_extents = [(0, len(_chain)), (len(_chain), len(_plainm))]
_controls = [_tfetch(_shard14[o:o + l]) for o, l in _extents]
assert _controls[0] is not None and _controls[0][0] == 5
assert _controls[0][3] == len(_ent14), "control must be the FULL chain"
assert _controls[1] is not None and _controls[1][0] == 9
# the mid-chain member's byte span inside the shard (continuation 1)
_mid_lo = len(_chain_members[0])
_mid_hi = _mid_lo + len(_chain_members[1])
NC = max(N // 10, 1000)
cfails = 0
for i in range(NC):
    kind = rng.randrange(3)
    eidx = rng.randrange(2)
    off, ln = _extents[eidx]
    buf = _shard14
    if kind == 0:     # corrupt the extent LENGTH
        delta = 0
        while delta == 0:
            delta = rng.randrange(-min(ln - 1, 64), 65)
        ln = ln + delta
        if off + ln > len(_shard14):
            ln = len(_shard14) - off    # clamp: stays a mutation
    elif kind == 1:   # corrupt the extent OFFSET
        delta = 0
        while delta == 0:
            delta = rng.randrange(-min(off, 64), 65)
        off = off + delta
        if off + ln > len(_shard14):
            off = len(_shard14) - ln
        if (off, ln) == _extents[eidx]:
            continue  # clamping landed back on the true extent
    else:             # flip a byte INSIDE the mid-chain member
        eidx, (off, ln) = 0, _extents[0]
        pos = rng.randrange(_mid_lo, _mid_hi)
        b14 = bytearray(_shard14)
        b14[pos] ^= rng.randrange(1, 256)
        buf = bytes(b14)
    out = _tfetch(buf[off:off + ln])
    # reject, or byte-exact control — NEVER a short/partial row
    if not (out is None or out == _controls[eidx]):
        cfails += 1
        fails += 1
        print(f"SHORT-ROW extent-fuzz kind {kind} iter {i}: {out!r}")
        if fails > 5:
            sys.exit(1)
print(f"chain-extent pass: {NC} extent/offset/mid-member mutations, "
      f"{cfails} short rows")
print(f"DONE {N} mutations x {len(DECODERS)} decoders "
      f"+ {NB} gzip-seam + {NT} digest-flip + {NC} chain-extent "
      f"mutations, {fails} crashes")
sys.exit(1 if fails else 0)
