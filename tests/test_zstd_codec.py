"""zstd decoder (RFC 8878) conformance tests.

The anchor: the REAL reference coder — the ``zstd`` CLI in this
container — compresses varied corpora at levels 1..22 and the pure
decoder must reproduce every byte (the libjpeg cross-check pattern,
covering bytes this module never produced: 1/4-stream Huffman
literals, direct + FSE-compressed tree descriptions, predefined /
RLE / FSE sequence tables, repeat offsets, multi-block frames,
skippable frames, checksums)."""

import os
import random
import shutil
import struct
import subprocess

import numpy as np
import pytest

from cloud_optimized_data_pipelines_spark.operators import zstd_codec as Z

_HAVE_CLI = shutil.which("zstd") is not None

needs_cli = pytest.mark.skipif(not _HAVE_CLI, reason="zstd CLI not present")


def Z_pure(data):
    """Pin the from-scratch decoder: these are CONFORMANCE tests of
    the pure RFC 8878 implementation (the public default is now
    engine="auto", which prefers the CLI)."""
    return Z.zstd_decompress(data, engine="pure")


def _cli(args, data):
    r = subprocess.run(args, input=data, capture_output=True)
    assert r.returncode == 0, r.stderr
    return r.stdout


def _corpus():
    random.seed(11)
    rng = np.random.default_rng(11)
    words = [
        bytes(random.choices(b"abcdefghij", k=random.randint(3, 9)))
        for _ in range(400)
    ]
    text = b" ".join(random.choices(words, k=60_000))
    jsonl = b"".join(
        b'{"id": %d, "w": "%s"}\n' % (i, words[i % 400])
        for i in range(8000)
    )
    return {
        "tiny": b"abc",
        "rle": b"z" * 5000,
        "text": text,
        "jsonl": jsonl,
        "lowent": bytes(rng.integers(0, 4, 100_000, dtype=np.uint8)),
        "rand": os.urandom(60_000),
        "repeats": (b"abcabcabcabd" * 3 + b"xyz") * 2000,
    }


# ---------------------------------------------------------------------------
# xxh64
# ---------------------------------------------------------------------------


def test_xxh64_vectors():
    # published reference vectors (xxHash spec, seed 0)
    assert Z.xxh64(b"") == 0xEF46DB3751D8E999
    # self-consistency across the 3 tail paths + the 32-byte loop
    for n in (1, 3, 4, 7, 8, 13, 31, 32, 33, 100):
        h1 = Z.xxh64(bytes(range(n % 256)) * (n // 256 + 1))
        assert 0 <= h1 < 1 << 64


@needs_cli
def test_xxh64_matches_cli_checksum():
    # the frame checksum IS xxh64 & 0xFFFFFFFF: decoding with
    # checksum verification on CLI-produced frames proves the hash
    for data in _corpus().values():
        comp = _cli(["zstd", "-3", "-c"], data)
        assert Z_pure(comp) == data  # raises on bad xxh64


# ---------------------------------------------------------------------------
# CLI -> pure decoder (the conformance matrix)
# ---------------------------------------------------------------------------


@needs_cli
@pytest.mark.parametrize("level", [1, 3, 9, 19])
def test_decode_cli_levels(level):
    for name, data in _corpus().items():
        comp = _cli(["zstd", f"-{level}", "-c"], data)
        assert Z_pure(comp) == data, (level, name)


@needs_cli
def test_decode_cli_variants():
    data = _corpus()["text"]
    assert Z_pure(
        _cli(["zstd", "-3", "--no-check", "-c"], data)
    ) == data
    assert Z_pure(
        _cli(["zstd", "-9", "--long=27", "-c"], data)
    ) == data
    assert Z_pure(
        _cli(["zstd", "--ultra", "-22", "-c"], data)
    ) == data


@needs_cli
def test_multi_frame_and_skippable():
    a, b = b"frame-one " * 500, b"frame-two! " * 700
    f1 = _cli(["zstd", "-5", "-c"], a)
    f2 = _cli(["zstd", "-19", "-c"], b)
    skip = (
        (0x184D2A50).to_bytes(4, "little")
        + (7).to_bytes(4, "little")
        + b"padding"
    )
    assert Z_pure(f1 + skip + f2) == a + b


@needs_cli
def test_engines_agree():
    data = _corpus()["jsonl"]
    comp = _cli(["zstd", "-9", "-c"], data)
    assert Z.zstd_decompress(comp, engine="cli") == Z.zstd_decompress(
        comp, engine="pure"
    )
    with pytest.raises(ValueError, match="unknown engine"):
        Z.zstd_decompress(comp, engine="jvm")


# ---------------------------------------------------------------------------
# stored encoder -> CLI and self
# ---------------------------------------------------------------------------


def test_stored_encoder_self_roundtrip():
    for data in [b"", b"x", b"a" * 10_000, os.urandom(5000),
                 os.urandom(300_000)]:
        enc = Z.zstd_compress_stored(data)
        assert Z_pure(enc) == data
        enc_nc = Z.zstd_compress_stored(data, checksum=False)
        assert Z_pure(enc_nc) == data


@needs_cli
def test_stored_encoder_cli_decodes():
    for data in [b"", b"hello", b"a" * 10_000, os.urandom(200_000)]:
        enc = Z.zstd_compress_stored(data)
        assert _cli(["zstd", "-d", "-c"], enc) == data


# ---------------------------------------------------------------------------
# guards
# ---------------------------------------------------------------------------


def test_guards():
    with pytest.raises(ValueError, match="bad magic"):
        Z_pure(b"\x00\x00\x00\x00rest")
    enc = bytearray(Z.zstd_compress_stored(b"payload bytes here"))
    enc[-6] ^= 0xFF  # flip a payload byte -> checksum mismatch
    with pytest.raises(ValueError, match="checksum"):
        Z_pure(bytes(enc))
    # reserved frame-header bit
    enc2 = bytearray(Z.zstd_compress_stored(b"x"))
    enc2[4] |= 0x08
    with pytest.raises(ValueError, match="reserved frame header"):
        Z_pure(bytes(enc2))
    # dictionary flag
    enc3 = bytearray(Z.zstd_compress_stored(b"x"))
    enc3[4] |= 0x01
    with pytest.raises(ValueError, match="dictionaries"):
        Z_pure(bytes(enc3))


def test_fse_primitives():
    # spread function closes and baselines cover the table exactly,
    # for all three predefined distributions
    for counts, al in (Z._LL_DEFAULT, Z._ML_DEFAULT, Z._OF_DEFAULT):
        sym, nb, base = Z.fse_build_dtable(counts, al)
        size = 1 << al
        assert len(sym) == size
        # every (baseline, nbBits) transition range stays in-table
        for u in range(size):
            assert 0 <= base[u] <= size - (1 << nb[u])
        # symbol cell counts match the normalized counts
        for s, c in enumerate(counts):
            assert int((sym == s).sum()) == (1 if c == -1 else c)


def test_backstream_sentinel():
    bs = Z._BackStream(bytes([0b10110100, 0b00000001]))  # sentinel bit
    assert bs.bits == 8
    assert bs.read(3) == 0b101
    assert bs.read(5) == 0b10100
    with pytest.raises(ValueError, match="corrupted backward"):
        Z._BackStream(b"\x12\x00")


# ---------------------------------------------------------------------------
# entropy-coded ENCODER -> reference CLI (the reverse conformance leg)
# ---------------------------------------------------------------------------


def test_compress_self_roundtrip():
    for name, data in _corpus().items():
        enc = Z.zstd_compress(data)
        assert Z_pure(enc) == data, name


@needs_cli
def test_cli_decodes_our_compressed_frames():
    for name, data in _corpus().items():
        enc = Z.zstd_compress(data)
        assert _cli(["zstd", "-d", "-c"], enc) == data, name


def test_compress_ratio_and_fallbacks():
    text = b"the quick brown fox jumps over the lazy dog. " * 300
    assert len(Z.zstd_compress(text)) < len(text) // 20
    rnd = os.urandom(10_000)
    assert len(Z.zstd_compress(rnd)) <= len(rnd) + 64  # raw fallback
    assert Z_pure(Z.zstd_compress(b"")) == b""


@needs_cli
def test_compress_fuzz_matrix():
    random.seed(99)
    for trial in range(24):
        kind = trial % 6
        n = random.randint(0, 4000) if kind < 3 else random.randint(
            0, 200_000
        )
        if kind == 0:
            data = os.urandom(n)
        elif kind == 1:
            data = bytes(random.choices(b"ab", k=n))
        elif kind == 2:
            data = bytes(random.choices(range(256), k=n))
        elif kind == 3:
            data = b"".join(
                random.choices([b"foo", b"bar", b"baz", b" ", b"\n"],
                               k=n // 3)
            )
        elif kind == 4:
            data = bytes([random.randint(0, 255)]) * n
        else:
            data = b"".join(
                os.urandom(4) * random.randint(1, 20)
                for _ in range(n // 40)
            )
        enc = Z.zstd_compress(data)
        assert Z_pure(enc) == data, (trial, kind, n)
        assert _cli(["zstd", "-d", "-c"], enc) == data, (trial, kind, n)


def test_fse_ncount_writer_roundtrip():
    """The encoder's normalized-count serializer must be the exact
    inverse of fse_read_ncount across random histograms."""
    random.seed(4)
    done = 0
    for _ in range(120):
        nsym = random.randint(2, 50)
        al = random.choice([5, 6, 7, 8])
        hist = [random.choice([0, 0, 0, 1, 2, 5, 20, 100])
                for _ in range(nsym)]
        norm = Z.fse_normalize(hist, al)
        if norm is None:
            continue
        data = Z.fse_write_ncount(norm, al)
        back, al2, used = Z.fse_read_ncount(data, nsym - 1)
        assert al2 == al
        assert back[: len(norm)] == norm
        assert used == len(data)
        done += 1
    assert done > 40


@needs_cli
def test_trained_tables_improve_ratio_and_conform():
    jsonl = b"".join(b'{"id":%d}\n' % i for i in range(8000))
    enc = Z.zstd_compress(jsonl)
    assert Z_pure(enc) == jsonl
    assert _cli(["zstd", "-d", "-c"], enc) == jsonl
    # trained FSE + huffman literals + repeat offsets: well under 1/4
    assert len(enc) < len(jsonl) // 4


@needs_cli
def test_fse_weight_description_wide_alphabets():
    """Literal alphabets past the 128-weight direct-header cap now
    Huffman-compress through the FSE-compressed tree description —
    the reference CLI must accept those frames too."""
    random.seed(21)
    wide = bytes(random.choices(range(200), weights=[50] + [1] * 199,
                                k=30_000))
    allb = bytes(random.choices(range(256), weights=[100] * 8 + [1] * 248,
                                k=40_000))
    for data in (wide, allb):
        enc = Z.zstd_compress(data)
        assert len(enc) < len(data)  # no longer raw fallback
        assert Z_pure(enc) == data
        assert _cli(["zstd", "-d", "-c"], enc) == data


def test_encode_weights_fse_roundtrip():
    random.seed(8)
    done = 0
    for _ in range(150):
        n = random.randint(2, 220)
        weights = [random.choice([0, 0, 1, 1, 1, 2, 2, 3, 4, 5])
                   for _ in range(n)]
        if len(set(weights)) < 2:
            continue
        desc = Z._encode_weights_fse(weights)
        if desc is None:
            continue
        got, used = Z._huf_read_weights(desc)
        assert got == weights and used == len(desc)
        done += 1
    assert done > 50


@needs_cli
def test_large_payload_window_descriptor():
    # > 8 MiB payloads must NOT be single-segment (Window_Size would
    # equal the content size and `zstd -d` without --long rejects
    # frames above its 128 MiB default window); instead the frame
    # declares a 128 KiB window descriptor.
    big = (b"abcdefgh" * 37 + b"\n") * 35_000  # ~9.9 MiB, compressible
    for enc in (Z.zstd_compress(big), Z.zstd_compress_stored(big)):
        fhd = enc[4]
        assert not fhd & 0x20  # single-segment dropped
        assert enc[5] == 7 << 3  # windowLog 17
        assert Z_pure(enc) == big
        assert _cli(["zstd", "-d", "-c"], enc) == big
    small = b"x" * 1000
    assert Z.zstd_compress_stored(small)[4] & 0x20  # still single-seg


def test_auto_engine_default(monkeypatch):
    # default engine is auto: CLI when present, pure fallback
    data = b"auto-engine payload " * 50
    enc = Z.zstd_compress(data)
    assert Z.zstd_decompress(enc, engine="auto") == data
    monkeypatch.setattr(Z, "_CLI_PRESENT", False)
    assert Z.zstd_decompress(enc, engine="auto") == data  # pure fallback


# ---------------------------------------------------------------------------
# probe shards: the pure decoder conforms on the frames the probes grade
# ---------------------------------------------------------------------------


def _probe_zstd_payloads():
    """The jsonl payloads the zstd-framed probe variants compress:
    ``text_zstd_shard`` (8 variants of ``_zstd_variant``) and the
    zstd shards of ``text_compressed_corpus`` (``_compressed_variant``
    with variant mod 5 == 1, of 10)."""
    from cloud_optimized_data_pipelines_spark.operators.multimodal import (
        _compressed_variant,
        _zstd_variant,
    )

    out = []
    for v in range(8):
        payload = b"".join(
            b'{"id":%d,"v":%d}\n' % (i, (7 * i + v) % 100)
            for i in range(500 + 100 * v)
        )
        out.append((_zstd_variant, v, payload))
    for v in (1, 6):
        payload = b"".join(
            b'{"id":%d,"v":%d}\n' % (i, (3 * i + v) % 50)
            for i in range(300 + 40 * v)
        )
        out.append((_compressed_variant, v, payload))
    return out


@needs_cli
def test_pure_engine_decodes_probe_shards():
    import hashlib

    for variant_fn, v, payload in _probe_zstd_payloads():
        # the rebuilt payload is the one the probe grades
        got = variant_fn(v)
        assert got["payload_md5"] == hashlib.md5(payload).hexdigest()
        zst = _cli(["zstd", "-9", "--single-thread", "-c"], payload)
        assert hashlib.md5(zst).hexdigest() == got.get(
            "zst_md5", got.get("comp_md5")
        )
        assert Z.zstd_decompress(zst, engine="pure") == payload
