"""DEFLATE / gzip / zlib codec + WARC source tests.

The conformance anchor: stdlib ``zlib``/``gzip`` ARE the canonical
RFC 1951/1952 implementation and live in this container, so unlike the
other codec modules both directions are cross-checked against the
reference coder (the libjpeg pattern, but bidirectional).
"""

import gzip as stdgzip
import os
import random
import struct
import zlib
from functools import partial

import pytest

from cloud_optimized_data_pipelines_spark.batching import probe_table
from cloud_optimized_data_pipelines_spark.operators import deflate_codec as dc
from cloud_optimized_data_pipelines_spark.sources import warc as W

SAMPLES = [
    b"",
    b"a",
    b"abcabcabcabcabc" * 40,
    bytes(range(256)) * 8,
    b"the quick brown fox jumps over the lazy dog. " * 300,
]


def _rand(n, seed):
    random.seed(seed)
    return bytes(random.choices(range(256), k=n))


def _randtext(n, seed):
    random.seed(seed)
    return bytes(random.choices(b"abcde \n", k=n))


# ---------------------------------------------------------------------------
# checksums
# ---------------------------------------------------------------------------


def test_crc32_adler32_match_stdlib():
    for s in SAMPLES + [_rand(10000, 1)]:
        assert dc.crc32(s) == zlib.crc32(s)
        assert dc.adler32(s) == zlib.adler32(s)
    # streaming/chained form
    assert dc.crc32(b"world", dc.crc32(b"hello")) == zlib.crc32(
        b"world", zlib.crc32(b"hello")
    )


# ---------------------------------------------------------------------------
# derived tables + canonical construction
# ---------------------------------------------------------------------------


def test_derived_tables_reproduce_rfc_rows():
    # RFC 1951 3.2.5 length table spot rows
    assert dc.LENGTH_BASE[0] == 3 and dc.LENGTH_EXTRA[0] == 0  # code 257
    assert dc.LENGTH_BASE[265 - 257] == 11 and dc.LENGTH_EXTRA[8] == 1
    assert dc.LENGTH_BASE[273 - 257] == 35 and dc.LENGTH_EXTRA[16] == 3
    assert dc.LENGTH_BASE[284 - 257] == 227 and dc.LENGTH_EXTRA[27] == 5
    assert dc.LENGTH_BASE[285 - 257] == 258 and dc.LENGTH_EXTRA[28] == 0
    # distance table spot rows
    assert dc.DIST_BASE[:4] == (1, 2, 3, 4)
    assert dc.DIST_BASE[4] == 5 and dc.DIST_EXTRA[4] == 1
    assert dc.DIST_BASE[29] == 24577 and dc.DIST_EXTRA[29] == 13


def test_canonical_codes_rfc_worked_example():
    # RFC 1951 3.2.2's ABCDEFGH example: lengths (3,3,3,3,3,2,4,4)
    codes = dc.canonical_codes([3, 3, 3, 3, 3, 2, 4, 4])
    assert codes == [
        (0b010, 3), (0b011, 3), (0b100, 3), (0b101, 3),
        (0b110, 3), (0b00, 2), (0b1110, 4), (0b1111, 4),
    ]


# ---------------------------------------------------------------------------
# inflate: decode the reference coder's output (all block types)
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("level", [0, 1, 6, 9])
def test_inflate_decodes_zlib_streams(level):
    for s in SAMPLES + [_rand(20000, 2), _randtext(30000, 3)]:
        raw = zlib.compress(s, level)[2:-4]
        out, end = dc.inflate(raw)
        assert out == s
        assert end == len(raw)


def test_inflate_multistream_positions():
    a = zlib.compress(b"first" * 100, 9)[2:-4]
    b = zlib.compress(b"second" * 100, 9)[2:-4]
    out1, end1 = dc.inflate(a + b)
    assert out1 == b"first" * 100
    out2, end2 = dc.inflate(a + b, end1)
    assert out2 == b"second" * 100 and end2 == len(a + b)


def test_inflate_guards():
    with pytest.raises(ValueError, match="reserved block type"):
        dc.inflate(bytes([0b111]))  # BFINAL=1, BTYPE=3
    # stored LEN/NLEN mismatch
    bad = bytes([1]) + struct.pack("<HH", 5, 5) + b"xxxxx"
    with pytest.raises(ValueError, match="LEN/NLEN"):
        dc.inflate(bad)
    # distance pointing before stream start: corrupt a fixed block
    with pytest.raises(ValueError):
        # fixed-Huffman: length code 257 (len 3) then distance 4 with
        # no prior output
        bw = dc._BitWriter()
        bw.bits(1, 1)
        bw.bits(1, 2)
        codes = dc.canonical_codes(dc.FIXED_LIT_LENGTHS)
        c, n = codes[257]
        bw.code(c, n)
        bw.code(4, 5)  # distance code 4 -> base 5, 1 extra bit
        bw.bits(0, 1)
        c, n = codes[256]
        bw.code(c, n)
        bw.align()
        dc.inflate(bytes(bw.out))


# ---------------------------------------------------------------------------
# deflate: the reference coder decodes our output
# ---------------------------------------------------------------------------


def test_deflate_roundtrips_via_zlib_and_self():
    for s in SAMPLES + [_rand(15000, 4), _randtext(25000, 5)]:
        d = dc.deflate(s)
        assert zlib.decompressobj(-15).decompress(d) == s
        out, end = dc.inflate(d)
        assert out == s and end == len(d)


def test_deflate_compresses_repetitive_input():
    s = b"spark " * 5000
    assert len(dc.deflate(s)) < len(s) // 20


def test_deflate_stored_fallback_on_random():
    s = _rand(4000, 6)
    d = dc.deflate(s)
    # stored framing: 5 bytes overhead per 64 KiB block
    assert len(d) <= len(s) + 5
    assert zlib.decompressobj(-15).decompress(d) == s


# ---------------------------------------------------------------------------
# gzip members
# ---------------------------------------------------------------------------


def test_gzip_interop_both_directions():
    for s in SAMPLES:
        assert stdgzip.decompress(dc.gzip_encode(s, name="f.txt")) == s
        assert dc.gzip_decode(stdgzip.compress(s, 6)) == s


def test_gzip_member_fields_and_multimember():
    payloads = [b"alpha" * 50, b"beta" * 99, b""]
    blob = b"".join(
        dc.gzip_encode(p, name=f"m{i}.warc", mtime=1000 + i)
        for i, p in enumerate(payloads)
    )
    ms = dc.gzip_members(blob)
    assert [m["payload"] for m in ms] == payloads
    assert [m["name"] for m in ms] == ["m0.warc", "m1.warc", "m2.warc"]
    assert [m["mtime"] for m in ms] == [1000, 1001, 1002]
    assert ms[0]["offset"] == 0
    assert all(
        ms[i]["offset"] + ms[i]["comp_size"] == ms[i + 1]["offset"]
        for i in range(2)
    )
    assert stdgzip.decompress(blob) == b"".join(payloads)


def test_gzip_header_variants_and_guards():
    s = b"payload bytes"
    # FEXTRA + FCOMMENT + FHCRC header assembled by hand
    head = b"\x1f\x8b\x08" + bytes([dc._FEXTRA | dc._FCOMMENT | dc._FHCRC])
    head += struct.pack("<I", 0) + b"\x00\xff"
    head += struct.pack("<H", 4) + b"ABCD"  # FEXTRA
    head += b"a comment\x00"  # FCOMMENT
    head += struct.pack("<H", dc.crc32(head) & 0xFFFF)  # FHCRC
    g = head + dc.deflate(s) + struct.pack("<II", dc.crc32(s), len(s))
    assert dc.gzip_decode(g) == s
    assert stdgzip.decompress(g) == s
    with pytest.raises(ValueError, match="bad magic"):
        dc.gzip_decode_member(b"\x1f\x8c" + g[2:])
    # payload CRC corrupted
    bad = bytearray(dc.gzip_encode(s))
    bad[-8] ^= 0xFF
    with pytest.raises(ValueError, match="CRC mismatch"):
        dc.gzip_decode(bytes(bad))
    # ISIZE corrupted
    bad = bytearray(dc.gzip_encode(s))
    bad[-4] ^= 0xFF
    with pytest.raises(ValueError, match="ISIZE"):
        dc.gzip_decode(bytes(bad))


def test_zlib_wrapper():
    for s in SAMPLES:
        z = dc.zlib_encode(s)
        assert zlib.decompress(z) == s
        assert dc.zlib_decode(zlib.compress(s, 9)) == s
    with pytest.raises(ValueError, match="FCHECK"):
        dc.zlib_decode(b"\x78\x00" + b"\x00" * 8)
    bad = bytearray(dc.zlib_encode(b"hello"))
    bad[-1] ^= 1
    with pytest.raises(ValueError, match="Adler-32"):
        dc.zlib_decode(bytes(bad))


# ---------------------------------------------------------------------------
# WARC
# ---------------------------------------------------------------------------


def _records():
    body = (
        b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n<p>hi</p>"
    )
    return [
        W.encode_warc_record(
            "warcinfo", "<urn:uuid:0>", "2026-08-16T00:00:00Z",
            b"software: test\r\n", content_type="application/warc-fields",
        ),
        W.encode_warc_record(
            "response", "<urn:uuid:1>", "2026-08-16T00:00:01Z", body,
            target_uri="http://example.com/",
            content_type="application/http; msgtype=response",
        ),
        W.encode_warc_record(
            "request", "<urn:uuid:2>", "2026-08-16T00:00:01Z",
            b"GET / HTTP/1.1\r\nHost: example.com\r\n\r\n",
            target_uri="http://example.com/",
            content_type="application/http; msgtype=request",
        ),
    ], body


def test_warc_roundtrip_plain_and_gz():
    recs, body = _records()
    parsed = W.parse_warc(b"".join(recs))
    assert [r["headers"]["warc-type"] for r in parsed] == [
        "warcinfo", "response", "request",
    ]
    assert parsed[1]["payload"] == body
    assert parsed[0]["offset"] == 0
    assert parsed[1]["offset"] == len(recs[0])

    gz = W.encode_warc_gz(recs)
    assert stdgzip.decompress(gz) == b"".join(recs)
    pg = W.parse_warc_gz(gz)
    assert len(pg) == 3
    assert pg[1]["gz_offset"] == len(
        dc.gzip_encode(recs[0])
    )
    assert pg[2]["payload"].startswith(b"GET / HTTP/1.1")


def test_warc_guards():
    recs, _ = _records()
    blob = b"".join(recs)
    with pytest.raises(ValueError, match="bad version line"):
        W.parse_warc(b"HTTP/1.1 200\r\n\r\n")
    with pytest.raises(ValueError, match="truncated payload"):
        W.parse_warc(blob[:-10])
    # break the terminator of record 0
    broken = bytearray(blob)
    end0 = len(recs[0])
    broken[end0 - 2] = ord("X")
    with pytest.raises(ValueError, match="terminator"):
        W.parse_warc(bytes(broken))


def test_split_http_payload():
    _, body = _records()
    headers, b, status = W.split_http_payload(body)
    assert status == 200
    assert headers["content-type"] == "text/html"
    assert b == b"<p>hi</p>"
    h2, b2, s2 = W.split_http_payload(
        b"GET / HTTP/1.1\r\nHost: x\r\n\r\n"
    )
    assert s2 == 0 and h2["host"] == "x" and b2 == b""


def test_warc_probe_blob_formula():
    blob = W.warc_probe_blob(3)
    parsed = W.parse_warc_gz(blob)
    n_resp = 2 + 3 % 3
    assert len(parsed) == 1 + n_resp
    for i, r in enumerate(parsed[1:]):
        h, b, status = W.split_http_payload(r["payload"])
        assert status == 200
        assert len(b) == 40 + 7 * i + 3
        assert b[0] == (37 * i + 3) % 251


# ---------------------------------------------------------------------------
# Spark operators
# ---------------------------------------------------------------------------


def test_warc_records_and_http_stats_spark(spark):
    probe = probe_table(
        spark, partial(W.probe_blob_row, W.warc_probe_blob),
        W.WARC_PROBE_SCHEMA, 4,
    )
    recs = W.warc_records(probe, "file_id", "blob")
    rows = recs.orderBy("file_id", "record_index").collect()
    # variant v: 1 warcinfo + 2+v%3 responses
    expected_counts = {v: 1 + 2 + v % 3 for v in range(4)}
    got_counts = {}
    for r in rows:
        got_counts[r.file_id] = got_counts.get(r.file_id, 0) + 1
    assert got_counts == expected_counts
    info = [r for r in rows if r.record_index == 0]
    assert all(r.warc_type == "warcinfo" for r in info)
    assert all(r.gz_offset == 0 for r in info)
    resp = [r for r in rows if r.record_index > 0]
    assert all(r.warc_type == "response" for r in resp)
    assert all(r.target_uri.startswith("http://crawl.example/") for r in resp)

    from pyspark.sql import functions as F

    stats = (
        W.http_payload_stats(
            recs.filter(F.col("warc_type") == "response")
        )
        .orderBy("file_id", "record_index")
        .collect()
    )
    for s in stats:
        v, i = s.file_id, s.record_index - 1
        assert s.status == 200
        assert s.body_len == 40 + 7 * i + v
        assert s.body_byte_sum == sum(
            (37 * i + 11 * j + v) % 251 for j in range(s.body_len)
        )


def test_warc_records_uncompressed_spark(spark):
    recs_bytes, _ = _records()
    blob = b"".join(recs_bytes)
    df = spark.createDataFrame([(0, bytearray(blob))], "file_id long, blob binary")
    out = W.warc_records(df, "file_id", "blob", compressed=False).collect()
    assert len(out) == 3
    assert out[1].warc_type == "response"
    assert out[1].gz_offset is None


def test_gzip_engine_equivalence():
    """The C-backed hot path and the from-scratch pure path accept
    each other's members and agree on payload + boundaries."""
    payloads = [b"", b"abc" * 500, _rand(5000, 9), _randtext(9000, 10)]
    for p in payloads:
        for enc in ("c", "pure"):
            g = dc.gzip_encode(p, name="x", engine=enc)
            assert stdgzip.decompress(g) == p
            for dec in ("c", "pure"):
                m = dc.gzip_decode_member(g, engine=dec)
                assert m["payload"] == p
                assert m["end"] == len(g)
    blob = b"".join(dc.gzip_encode(p, engine="pure") for p in payloads)
    c_walk = dc.gzip_members(blob, engine="c")
    pure_walk = dc.gzip_members(blob, engine="pure")
    assert [(m["offset"], m["comp_size"], m["payload"]) for m in c_walk] == [
        (m["offset"], m["comp_size"], m["payload"]) for m in pure_walk
    ]


def test_gzip_unknown_engine():
    with pytest.raises(ValueError, match="unknown engine"):
        dc.gzip_encode(b"x", engine="jvm")
    g = dc.gzip_encode(b"x")
    with pytest.raises(ValueError, match="unknown engine"):
        dc.gzip_decode_member(g, engine="jvm")


def test_text_probe_duplicate_rule():
    blob = W.warc_text_probe_blob(6)
    recs = W.parse_warc_gz(blob)
    assert len(recs) == 1 + 6  # warcinfo + 6 responses
    bodies = [
        W.split_http_payload(r["payload"])[1] for r in recs[1:]
    ]
    # i%3==2 copies i-1
    assert bodies[2] == bodies[1]
    assert bodies[5] == bodies[4]
    assert bodies[0] != bodies[1]
    # word counts follow W = 30 + 10*(src%4)
    assert [len(b.split()) for b in bodies] == [30, 40, 40, 60, 30, 30]
    # every word from the probe vocabulary
    assert set(bodies[3].split()) <= set(
        w.encode() for w in W.PROBE_VOCAB
    )


def test_http_text_bodies_spark(spark):
    from pyspark.sql import functions as F

    probe = probe_table(
        spark, partial(W.probe_blob_row, W.warc_text_probe_blob),
        W.WARC_PROBE_SCHEMA, 2,
    )
    recs = W.warc_records(probe, "file_id", "blob")
    bodies = W.http_text_bodies(
        recs.filter(F.col("warc_type") == "response")
    ).collect()
    assert len(bodies) == 6 + 7  # v=0: 6 responses, v=1: 7
    for r in bodies:
        assert r.status == 200
        i = r.record_index - 1
        src = i - 1 if i % 3 == 2 else i
        assert len(r.body.split()) == 30 + 10 * (src % 4)


def test_decode_http_body_charset_chain():
    from cloud_optimized_data_pipelines_spark.sources.warc import (
        decode_http_body,
    )

    # declared charset wins
    assert decode_http_body(
        "héllo".encode("latin-1"), "text/html; charset=ISO-8859-1"
    ) == ("héllo", "latin-1")
    assert decode_http_body(
        "日本語".encode("shift_jis"), 'text/html; charset="Shift_JIS"'
    ) == ("日本語", "shift_jis")
    # declared charset that cannot decode the bytes -> utf-8 chain
    assert decode_http_body(
        "héllo".encode("utf-8"), "text/html; charset=ascii"
    ) == ("héllo", "utf-8")
    # unknown label -> utf-8
    assert decode_http_body(b"plain", "text/html; charset=x-bogus") == (
        "plain", "utf-8",
    )
    # undeclared non-utf-8 -> latin-1 (never fails, preserves bytes)
    text, cs = decode_http_body(b"caf\xe9 \x97", "text/html")
    assert cs == "latin-1" and text == "café \x97"
    # no content type at all
    assert decode_http_body(b"x", None) == ("x", "utf-8")
    # a UTF-8 body whose ONLY damage is a truncated multi-byte
    # sequence at EOF stays UTF-8 with a single U+FFFD repair — not
    # whole-document latin-1 mojibake (r12 ADVICE)
    body = ("déjà vu " * 40).encode("utf-8")[:-5]  # cut à mid-sequence
    text, cs = decode_http_body(body, "text/html")
    assert cs == "utf-8" and text.endswith("déj�")
    assert text.count("�") == 1 and "Ã" not in text
    # legitimate U+FFFD characters in the valid content must not skew
    # the decision (they are valid UTF-8, not decode errors)
    body = ("x" * 50 + "�" * 30).encode("utf-8") + b"\xe9"
    text, cs = decode_http_body(body, "text/html")
    assert cs == "utf-8" and text == "x" * 50 + "�" * 31
    # a legacy page with SPARSE high bytes mid-document (cp1252-style
    # curly apostrophe in ASCII text) keeps the byte-preserving
    # latin-1 path — the repair must never destroy legacy data
    sparse = b"it\x92s a plain ascii sentence " * 10
    text, cs = decode_http_body(sparse, "text/html")
    assert cs == "latin-1" and text == sparse.decode("latin-1")
    # r13 ADVICE guards: a cp1252 page whose ONLY high byte is a
    # trailing latin-1 letter is NOT a truncation — the pure-ASCII
    # prefix proves nothing about UTF-8 use, so the byte-preserving
    # path wins and the real trailing byte survives
    text, cs = decode_http_body(b"a plain ascii sentence ending caf\xe9",
                                "text/html")
    assert cs == "latin-1" and text.endswith("café")
    # ...and a high byte followed by ASCII inside the last 4 bytes is
    # not a plausible cut sequence either (continuation bytes only)
    text, cs = decode_http_body(b"a plain ascii sentence with caf\xe9abc",
                                "text/html")
    assert cs == "latin-1" and "é" in text and text.endswith("éabc")
    # a full-length-but-invalid trailing sequence (lead + enough
    # non-continuation bytes) must not be mistaken for a cut
    text, cs = decode_http_body(
        "déjà vu ".encode("utf-8") * 4 + b"tail\xe9ab", "text/html")
    assert cs == "latin-1"
    # a genuine 2-byte-sequence cut leaves a LONE lead byte — with a
    # demonstrably-UTF-8 prefix that still repairs
    body = ("déjà vu " * 5).encode("utf-8") + "café".encode("utf-8")[:-1]
    text, cs = decode_http_body(body, "text/html")
    assert cs == "utf-8" and text.endswith("caf�") and text.count("�") == 1
    # ...and a thoroughly non-UTF-8 body (dense legacy encoding) too
    noisy = ("café " * 40).encode("latin-1")
    text, cs = decode_http_body(noisy, "text/html")
    assert cs == "latin-1" and text == "café " * 40


def test_warc_charset_probe_roundtrip():
    from cloud_optimized_data_pipelines_spark.sources.warc import (
        charset_case,
        decode_http_body,
        parse_warc_gz,
        split_http_payload,
        warc_charset_probe_blob,
    )

    for v in range(8):
        recs = parse_warc_gz(warc_charset_probe_blob(v))
        assert len(recs) == 3 + v % 3
        for i, r in enumerate(recs):
            headers, body, status = split_http_payload(r["payload"])
            assert status == 200
            text, cs = decode_http_body(body, headers.get("content-type"))
            _ctype, _body, resolved, expected = charset_case(v, i)
            assert cs == resolved, (v, i)
            assert text == expected, (v, i)
