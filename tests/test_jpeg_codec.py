"""Baseline JPEG codec tests (operators/jpeg_codec.py).

No imaging library exists in this container, so correctness rests on
spec-derived invariants rather than a second implementation:
- hand-computable DC-only images round-trip bit-exactly;
- the entropy layer (Huffman + bitstream + stuffing) is proven
  LOSSLESS by checking the decoder reproduces the encoder's own
  quantize->dequantize reconstruction exactly on random images — any
  bit slip in magnitude coding, EOB/ZRL handling, or unstuffing breaks
  that equality;
- marker-layer robustness (APP/COM skip, named errors for
  progressive/subsampled/truncated streams).
"""

import struct

import numpy as np
import pytest

from cloud_optimized_data_pipelines_spark.operators.jpeg_codec import (
    QUANT_CHROMA,
    QUANT_LUMA,
    ZIGZAG,
    _magnitude,
    _extend,
    decode_jpeg,
    dequantize_idct,
    encode_jpeg,
    fdct_quantize,
)


def test_zigzag_is_spec_order():
    assert len(ZIGZAG) == 64 and len(set(ZIGZAG)) == 64
    assert ZIGZAG[:10] == [
        (0, 0), (0, 1), (1, 0), (2, 0), (1, 1),
        (0, 2), (0, 3), (1, 2), (2, 1), (3, 0),
    ]
    assert ZIGZAG[-3:] == [(6, 7), (7, 6), (7, 7)]


def test_magnitude_extend_are_inverses():
    for v in list(range(-1024, 1025)) + [2047, -2047]:
        cat, bits = _magnitude(v)
        assert _extend(bits, cat) == v
        if v != 0:
            assert cat == int(abs(v)).bit_length()


def test_dct_roundtrip_unquantized():
    rng = np.random.RandomState(0)
    block = rng.randint(0, 256, (8, 8)).astype(np.uint8)
    ones = np.ones((8, 8), dtype=np.int64)
    rec = dequantize_idct(fdct_quantize(block, ones), ones)
    # quant table of 1s: error bounded by coefficient rounding only
    assert np.abs(rec.astype(int) - block.astype(int)).max() <= 1


def _block_image(v, h=64, w=64):
    """Uniform 8x8 blocks with even values — DC-exact by construction."""
    arr = np.zeros((h, w), dtype=np.uint8)
    nbx = w // 8
    for b in range((h // 8) * nbx):
        by, bx = divmod(b, nbx)
        arr[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = (
            2 * ((b * (v + 1)) % 113) + 14
        )
    return arr


def test_dc_exact_image_roundtrips_bit_exactly():
    for v in range(4):
        arr = _block_image(v)
        jpg = encode_jpeg(arr)
        assert jpg[:2] == b"\xff\xd8" and jpg[-2:] == b"\xff\xd9"
        dec = decode_jpeg(jpg)
        assert dec.dtype == np.uint8
        assert np.array_equal(dec, arr)


def _expected_reconstruction(arr, q):
    ph, pw = (-arr.shape[0]) % 8, (-arr.shape[1]) % 8
    pad = np.pad(arr, ((0, ph), (0, pw)), mode="edge")
    exp = np.zeros_like(pad)
    for by in range(pad.shape[0] // 8):
        for bx in range(pad.shape[1] // 8):
            blk = pad[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8]
            exp[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = dequantize_idct(
                fdct_quantize(blk, q), q
            )
    return exp[: arr.shape[0], : arr.shape[1]]


def test_entropy_layer_is_lossless_on_random_gray():
    """Decoder == encoder's own quantized reconstruction, including
    non-multiple-of-8 dims (edge-padded, cropped back)."""
    rng = np.random.RandomState(7)
    for dims in [(37, 53), (8, 8), (64, 24), (9, 121)]:
        arr = rng.randint(0, 256, dims).astype(np.uint8)
        dec = decode_jpeg(encode_jpeg(arr))
        assert np.array_equal(dec, _expected_reconstruction(arr, QUANT_LUMA))


def test_gray_channel_dim_accepted():
    arr = _block_image(1)[:, :, None]  # (H, W, 1)
    assert np.array_equal(decode_jpeg(encode_jpeg(arr)), arr[:, :, 0])


def test_color_roundtrip_bounded_and_deterministic():
    rng = np.random.RandomState(11)
    arr = rng.randint(0, 256, (24, 32, 3)).astype(np.uint8)
    jpg = encode_jpeg(arr)
    assert jpg == encode_jpeg(arr)  # byte-deterministic
    dec = decode_jpeg(jpg)
    assert dec.shape == (24, 32, 3) and dec.dtype == np.uint8
    # random noise is JPEG's worst case; still bounded well under the
    # dynamic range, and a smooth image is near-exact
    assert np.abs(dec.astype(int) - arr.astype(int)).mean() < 40
    grad = np.zeros((16, 16, 3), np.uint8)
    grad[:] = 128
    dg = decode_jpeg(encode_jpeg(grad))
    assert np.abs(dg.astype(int) - 128).max() <= 2


def test_decoder_skips_app_and_com_segments():
    arr = _block_image(2)
    jpg = bytearray(encode_jpeg(arr))
    extra = (
        struct.pack(">HH", 0xFFE1, 10) + b"Exif\x00\x00ab"
        + struct.pack(">HH", 0xFFFE, 9) + b"comment"
    )
    patched = bytes(jpg[:2]) + extra + bytes(jpg[2:])
    assert np.array_equal(decode_jpeg(patched), arr)


def test_named_errors():
    arr = _block_image(0)
    jpg = encode_jpeg(arr)
    with pytest.raises(ValueError, match="SOI"):
        decode_jpeg(b"\x00\x00" + jpg)
    # flip SOF0 -> SOF2: routed to the Annex G progressive decoder,
    # which rejects the baseline full-band scan header as malformed
    sof = jpg.find(b"\xff\xc0")
    prog = jpg[:sof + 1] + b"\xc2" + jpg[sof + 2:]
    with pytest.raises(ValueError, match="mixes DC and AC"):
        decode_jpeg(prog)
    # SOF3 now routes to the Annex H lossless decoder (r8), which
    # rejects a baseline scan header's Ss=0 as a bad selector
    lossless = jpg[:sof + 1] + b"\xc3" + jpg[sof + 2:]
    with pytest.raises(ValueError, match="predictor selector"):
        decode_jpeg(lossless)
    # SOF5 (differential) remains a named NotImplementedError
    diff = jpg[:sof + 1] + b"\xc5" + jpg[sof + 2:]
    with pytest.raises(NotImplementedError,
                       match="arithmetic|hierarchical|differential"):
        decode_jpeg(diff)
    # a single-component scan is non-interleaved per T.81 A.2.2: its
    # MCU is one block even if the SOF declares 2x2 factors, so a
    # grayscale file claiming 2x2 sampling still decodes bit-exactly
    hv_off = sof + 2 + 2 + 1 + 4 + 1 + 1  # marker+len+prec+dims+ncomp+cid
    sub = jpg[:hv_off] + b"\x22" + jpg[hv_off + 1:]
    assert np.array_equal(decode_jpeg(sub), decode_jpeg(jpg))
    with pytest.raises(ValueError):
        decode_jpeg(jpg[: len(jpg) // 2])  # truncated mid-stream


def test_quant_tables_are_annex_k():
    assert QUANT_LUMA[0, 0] == 16 and QUANT_LUMA[7, 7] == 99
    assert QUANT_CHROMA[0, 0] == 17 and QUANT_CHROMA[7, 7] == 99
    # a few spot values from the printed Annex K tables
    assert QUANT_LUMA[0, 3] == 16 and QUANT_LUMA[4, 4] == 68
    assert QUANT_LUMA[6, 0] == 49 and QUANT_LUMA[7, 4] == 112
    assert QUANT_CHROMA[0, 3] == 47 and QUANT_CHROMA[2, 2] == 56
    assert (QUANT_CHROMA[3:, 3:] == 99).all()


def test_jpeg_probe_table_matches_local_reference(spark):
    from cloud_optimized_data_pipelines_spark.batching import probe_table
    from cloud_optimized_data_pipelines_spark.operators.multimodal import (
        JPEG_PROBE_SCHEMA,
        _jpeg_variant,
    )

    probe = probe_table(spark, _jpeg_variant, JPEG_PROBE_SCHEMA, 8)
    got = {r.variant: r for r in probe.collect()}
    assert len(got) == 8
    for v in range(8):
        ref = _jpeg_variant(v)
        assert got[v].jpeg_md5 == ref["jpeg_md5"]
        assert got[v].px_sum == ref["px_sum"]
        assert got[v].width == 64
        assert got[v].channels == (1 if v < 4 else 3)
        assert got[v].restart == (2 if v % 4 >= 2 else 0)
    # px_sum equals the arithmetic block formula (non-circular check)
    for v in range(8):
        ch = 1 if v < 4 else 3
        expect = ch * sum(
            64 * (2 * ((b * (v + 1)) % 113) + 14) for b in range(64)
        )
        assert got[v].px_sum == expect


def test_real_decode_dispatches_jpeg():
    from cloud_optimized_data_pipelines_spark.operators.multimodal import (
        real_decode,
    )

    arr = _block_image(3)
    assert np.array_equal(real_decode(encode_jpeg(arr), "image/jpeg"), arr)


def test_restart_markers_roundtrip_and_bytes():
    """DRI/RSTn: restart streams decode identically to the unrestarted
    encoding of the same image (predictor resets are transparent), and
    the markers are really in the bytes."""
    rng = np.random.RandomState(21)
    for trial in range(8):
        dims = (rng.randint(8, 64), rng.randint(8, 64))
        arr = rng.randint(0, 256, dims).astype(np.uint8)
        base = decode_jpeg(encode_jpeg(arr))
        for ri in (1, 3):
            jpg = encode_jpeg(arr, restart_interval=ri)
            assert b"\xff\xdd" in jpg  # DRI segment
            assert any(
                bytes([0xFF, 0xD0 + i]) in jpg for i in range(8)
            )
            assert np.array_equal(decode_jpeg(jpg), base), (trial, ri)


def test_gray_rgb_color_is_dc_exact():
    """R=G=B uniform even blocks: JFIF transform gives exact Y=v,
    Cb=Cr=128, so even the COLOR path round-trips bit-exactly — the
    property the graded color variants rely on."""
    arr = np.repeat(_block_image(2)[:, :, None], 3, axis=2)
    assert np.array_equal(decode_jpeg(encode_jpeg(arr)), arr)
    assert np.array_equal(
        decode_jpeg(encode_jpeg(arr, restart_interval=2)), arr
    )


# ---------------------------------------------------------------------------
# hypothesis fuzz: the entropy layer must be lossless for ANY image/dims
# ---------------------------------------------------------------------------
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(
    h=st.integers(1, 40),
    w=st.integers(1, 40),
    seed=st.integers(0, 2**31 - 1),
    ri=st.sampled_from([0, 1, 3]),
)
def test_fuzz_entropy_lossless(h, w, seed, ri):
    rng = np.random.RandomState(seed)
    arr = rng.randint(0, 256, (h, w)).astype(np.uint8)
    dec = decode_jpeg(encode_jpeg(arr, restart_interval=ri))
    assert np.array_equal(dec, _expected_reconstruction(arr, QUANT_LUMA))


# ---------------------------------------------------------------------------
# chroma subsampling (4:2:0 / 4:2:2)
# ---------------------------------------------------------------------------


def test_subsampled_dc_exact_roundtrip():
    """R=G=B uniform even blocks survive 4:2:0 and 4:2:2 bit-exactly:
    constant-128 chroma is exact under box-filter downsampling, zero
    quantized coefficients, and replication upsampling."""
    arr = np.repeat(_block_image(5)[:, :, None], 3, axis=2)
    for ss in ("420", "422"):
        for ri in (0, 2, 5):
            jpg = encode_jpeg(arr, restart_interval=ri, subsampling=ss)
            assert np.array_equal(decode_jpeg(jpg), arr), (ss, ri)


def test_subsampled_sof_declares_factors():
    arr = np.zeros((16, 16, 3), np.uint8)
    jpg420 = encode_jpeg(arr, subsampling="420")
    jpg422 = encode_jpeg(arr, subsampling="422")
    sof = jpg420.find(b"\xff\xc0")
    # component 1's sampling byte sits 10 bytes into the SOF payload
    assert jpg420[sof + 11] == 0x22
    sof = jpg422.find(b"\xff\xc0")
    assert jpg422[sof + 11] == 0x21


def test_subsampled_is_smaller_on_real_content():
    rng = np.random.RandomState(11)
    img = rng.randint(0, 256, (64, 64, 3)).astype(np.uint8)
    full = len(encode_jpeg(img, subsampling="444"))
    for ss in ("422", "420"):
        assert len(encode_jpeg(img, subsampling=ss)) < full


def test_subsampled_odd_dims_and_closeness():
    """Odd dims force partial MCUs at both edges; smooth content must
    survive subsampling with small error (chroma is halved, luma
    untouched)."""
    xs = np.linspace(0, 255, 45)
    smooth = np.clip(np.round(np.add.outer(xs, np.linspace(0, 255, 51)) / 2),
                     0, 255).astype(np.uint8)
    img = np.stack([smooth, smooth, smooth], -1)
    for ss in ("420", "422"):
        dec = decode_jpeg(encode_jpeg(img, subsampling=ss))
        assert dec.shape == img.shape
        assert np.abs(dec.astype(int) - img.astype(int)).max() <= 8, ss


def test_subsampling_named_errors():
    arr = np.zeros((8, 8, 3), np.uint8)
    with pytest.raises(ValueError, match="subsampling"):
        encode_jpeg(arr, subsampling="411")
    # grayscale ignores the subsampling knob (always one 1x1 component)
    g = np.zeros((8, 8), np.uint8)
    assert decode_jpeg(encode_jpeg(g, subsampling="420")).shape == (8, 8)
    # fractional sampling ratio in the wild -> named error
    jpg = bytearray(encode_jpeg(arr, subsampling="420"))
    sof = bytes(jpg).find(b"\xff\xc0")
    jpg[sof + 11] = 0x32  # 3x2 luma vs 1x1 chroma: 3 % 1 ok, but 3x? ...
    jpg[sof + 14] = 0x22  # chroma 2x2 -> hmax=3 not divisible by 2
    with pytest.raises(NotImplementedError, match="fractional|divisor"):
        decode_jpeg(bytes(jpg))


def test_subsampled_probe_matches_local_reference(spark):
    from cloud_optimized_data_pipelines_spark.batching import probe_table
    from cloud_optimized_data_pipelines_spark.operators.multimodal import (
        JPEG_SUBSAMPLED_SCHEMA,
        _jpeg_subsampled_variant,
    )

    probe = probe_table(
        spark, _jpeg_subsampled_variant, JPEG_SUBSAMPLED_SCHEMA, 8
    )
    got = {r.variant: r for r in probe.collect()}
    assert len(got) == 8
    for v in range(8):
        ref = _jpeg_subsampled_variant(v)
        assert got[v].jpeg_md5 == ref["jpeg_md5"]
        assert got[v].subsampling == ("420" if v < 4 else "422")
        # non-circular: arithmetic block formula
        expect = 3 * 64 * sum(2 * ((b * (v + 1)) % 113) + 14
                              for b in range(64))
        assert got[v].px_sum == expect


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(
    h=st.integers(1, 40),
    w=st.integers(1, 40),
    seed=st.integers(0, 2**31 - 1),
    ss=st.sampled_from(["420", "422"]),
)
def test_fuzz_subsampled_decodes_any_dims(h, w, seed, ss):
    """Subsampled encode->decode must never crash or mis-shape for any
    dims (content is lossy; geometry and luma fidelity are the
    contract — chroma of a random image aliases under box filtering)."""
    rng = np.random.RandomState(seed)
    img = rng.randint(0, 256, (h, w, 3)).astype(np.uint8)
    dec = decode_jpeg(encode_jpeg(img, subsampling=ss))
    assert dec.shape == img.shape


def test_multiscan_noninterleaved_is_named_error():
    """ADVICE r7: a baseline color JPEG encoded as three single-
    component scans must raise a named NotImplementedError instead of
    silently returning the Y plane as grayscale.  Forged by rewriting
    an interleaved file's SOS to cover only component 1 (the entropy
    data is then nonsense, but the header check fires first)."""
    img = np.full((8, 8, 3), 128, np.uint8)
    jpg = bytearray(encode_jpeg(img))
    sos = bytes(jpg).find(b"\xff\xda")
    assert sos > 0 and jpg[sos + 4] == 3  # interleaved 3-component scan
    # SOS: FF DA len(2) ns (cs,td/ta)*ns ss se ah/al -> keep comp 1 only
    tail = bytes(jpg[sos + 11:])           # ss se ah/al + entropy data
    new = bytes(jpg[:sos]) + b"\xff\xda\x00\x08\x01" + bytes(
        jpg[sos + 5 : sos + 7]
    ) + tail
    with pytest.raises(NotImplementedError, match="non-interleaved"):
        decode_jpeg(new)


# --------------------------------------------------------------------------
# Progressive (SOF2) — T.81 Annex G
# --------------------------------------------------------------------------


def _prog_cases():
    # (dims, channels, subsampling, successive, restart, eob_runs)
    return [
        ((8, 8), 1, "444", False, 0, False),
        ((8, 8), 1, "444", True, 0, True),
        ((16, 24), 3, "444", True, 0, True),
        ((17, 23), 3, "420", True, 0, True),
        ((32, 40), 3, "422", True, 0, False),
        ((24, 24), 3, "420", False, 0, True),
        ((19, 13), 1, "444", True, 3, True),
        ((33, 47), 3, "420", True, 2, True),
    ]


def test_progressive_decodes_bit_identical_to_baseline():
    """A progressive encode carries exactly the quantized coefficients
    a baseline encode does, so decoding both must agree PIXEL-FOR-
    PIXEL — two entirely different entropy paths (Annex F sequential
    vs Annex G spectral-selection + successive-approximation) pinned
    against each other."""
    from cloud_optimized_data_pipelines_spark.operators.jpeg_codec import (
        encode_jpeg_progressive,
    )

    rng = np.random.RandomState(11)
    for (h, w), ch, ss, succ, ri, er in _prog_cases():
        img = rng.randint(0, 256, (h, w, ch)).astype(np.uint8)
        if ch == 1:
            img = img[:, :, 0]
        base = decode_jpeg(encode_jpeg(img, subsampling=ss))
        prog = decode_jpeg(
            encode_jpeg_progressive(
                img, subsampling=ss, successive=succ,
                restart_interval=ri, eob_runs=er,
            )
        )
        assert np.array_equal(base, prog), (h, w, ch, ss, succ, ri, er)


def test_progressive_eob_runs_span_blocks():
    """Smooth/flat content leaves most AC bands empty, so the EOBn
    cross-block run path (the dominant symbol in real progressive
    files) carries the scan; the run-coded file must be much smaller
    than per-block EOB0 coding AND still decode bit-identically."""
    from cloud_optimized_data_pipelines_spark.operators.jpeg_codec import (
        encode_jpeg_progressive,
    )

    g = np.linspace(0, 255, 96).astype(np.uint8)
    img = np.repeat(np.repeat(g[None, :, None], 80, 0), 3, 2)
    base = decode_jpeg(encode_jpeg(img, subsampling="420"))
    run = encode_jpeg_progressive(img, subsampling="420", eob_runs=True)
    noruns = encode_jpeg_progressive(img, subsampling="420", eob_runs=False)
    assert np.array_equal(decode_jpeg(run), base)
    assert np.array_equal(decode_jpeg(noruns), base)
    # a flat image's AC scans collapse to one EOBn each under run
    # coding (vs one EOB0 PER BLOCK without) — despite the run table's
    # fatter 8-bit codes, the file must shrink decisively
    flat = np.full((128, 128, 3), 130, np.uint8)
    flat_run = encode_jpeg_progressive(flat, eob_runs=True)
    flat_noruns = encode_jpeg_progressive(flat, eob_runs=False)
    assert len(flat_run) < len(flat_noruns) - 500
    assert np.array_equal(
        decode_jpeg(flat_run), decode_jpeg(encode_jpeg(flat))
    )


def test_progressive_scan_script_structure():
    """The successive script emits the scans real encoders do: one DC
    first scan, per-component AC band first scans, AC refinement
    scans, and a final DC refinement scan — and the eob_runs table
    rides in an extra DHT (slot 2)."""
    from cloud_optimized_data_pipelines_spark.operators.jpeg_codec import (
        encode_jpeg_progressive,
    )

    img = np.random.RandomState(3).randint(0, 256, (16, 16, 3)).astype(
        np.uint8
    )
    jpg = encode_jpeg_progressive(img, successive=True, eob_runs=True)
    assert jpg.find(b"\xff\xc2") > 0 and jpg.find(b"\xff\xc0") < 0
    # count SOS headers: 1 DC first + 3*2 AC first + 3*2 AC refine +
    # 1 DC refine = 14
    n_sos, pos = 0, 0
    while True:
        pos = jpg.find(b"\xff\xda", pos)
        if pos < 0:
            break
        n_sos += 1
        pos += 2
    assert n_sos == 14
    # the custom EOB-capable AC table is declared in DHT slot tc=1,th=2
    pos, found = 2, False
    while pos + 4 < len(jpg):
        if jpg[pos] == 0xFF and jpg[pos + 1] == 0xC4:
            seglen = int.from_bytes(jpg[pos + 2 : pos + 4], "big")
            body = jpg[pos + 4 : pos + 2 + seglen]
            if body and body[0] == 0x12:
                found = True
            pos += 2 + seglen
        else:
            pos += 1
    assert found


def test_progressive_spectral_only_and_grayscale():
    from cloud_optimized_data_pipelines_spark.operators.jpeg_codec import (
        encode_jpeg_progressive,
    )

    rng = np.random.RandomState(5)
    g = rng.randint(0, 256, (21, 37)).astype(np.uint8)
    base = decode_jpeg(encode_jpeg(g))
    for succ in (False, True):
        for er in (False, True):
            prog = decode_jpeg(
                encode_jpeg_progressive(g, successive=succ, eob_runs=er)
            )
            assert np.array_equal(base, prog), (succ, er)


def test_progressive_named_errors():
    from cloud_optimized_data_pipelines_spark.operators.jpeg_codec import (
        encode_jpeg_progressive,
    )

    img = np.zeros((8, 8, 3), np.uint8)
    jpg = bytearray(encode_jpeg_progressive(img))
    # 12-bit precision in SOF2 -> named error
    sof = bytes(jpg).find(b"\xff\xc2")
    bad = bytes(jpg[: sof + 4]) + b"\x0c" + bytes(jpg[sof + 5 :])
    with pytest.raises(NotImplementedError, match="precision"):
        decode_jpeg(bad)
    # truncated mid-entropy -> ValueError, not a hang or partial image
    with pytest.raises(ValueError):
        decode_jpeg(bytes(jpg[: len(jpg) - 8]))


@given(
    h=st.integers(8, 40),
    w=st.integers(8, 40),
    seed=st.integers(0, 10**6),
    succ=st.booleans(),
    er=st.booleans(),
    ss=st.sampled_from(["444", "420", "422"]),
)
@settings(max_examples=25, deadline=None)
def test_fuzz_progressive_equals_baseline(h, w, seed, succ, er, ss):
    """Property: for ANY image/dims/subsampling/script, progressive
    decode == baseline decode (same coefficients, different entropy
    coding)."""
    from cloud_optimized_data_pipelines_spark.operators.jpeg_codec import (
        encode_jpeg_progressive,
    )

    img = np.random.RandomState(seed).randint(0, 256, (h, w, 3)).astype(
        np.uint8
    )
    base = decode_jpeg(encode_jpeg(img, subsampling=ss))
    prog = decode_jpeg(
        encode_jpeg_progressive(
            img, subsampling=ss, successive=succ, eob_runs=er
        )
    )
    assert np.array_equal(base, prog)


def test_jpeg_12bit_roundtrip_and_dtype():
    """12-bit extended-sequential (SOF1): DC-exact uniform even blocks
    round-trip bit-exactly as uint16, including restart markers, odd
    dimensions (edge padding), and values spanning the 12-bit range."""
    from cloud_optimized_data_pipelines_spark.operators.jpeg_codec import (
        decode_jpeg,
        encode_jpeg_12bit,
    )

    rng = np.random.RandomState(6)
    blocks = (rng.randint(0, 2048, (8, 8)) * 2).astype(np.uint16)
    blocks[0, 0], blocks[7, 7] = 0, 4094
    img = np.repeat(np.repeat(blocks, 8, 0), 8, 1)
    for restart in (0, 2):
        jp = encode_jpeg_12bit(img, restart_interval=restart)
        dec = decode_jpeg(jp)
        assert dec.dtype == np.uint16
        assert np.array_equal(dec, img)
    # frame really declares precision 12 + SOF1
    assert jp[jp.find(b"\xff\xc1") + 4] == 12
    # odd dims crop correctly
    odd = img[:20, :37]
    assert decode_jpeg(encode_jpeg_12bit(odd)).shape == (20, 37)


def test_jpeg_12bit_lossy_on_smooth_content():
    """Non-DC-exact content quantizes (lossy) but stays close — and
    never wraps around the uint16 range."""
    from cloud_optimized_data_pipelines_spark.operators.jpeg_codec import (
        decode_jpeg,
        encode_jpeg_12bit,
    )

    rng = np.random.RandomState(7)
    sm = np.clip(
        np.cumsum(rng.randint(-3, 4, 64 * 64)).reshape(64, 64) + 2000,
        0,
        4095,
    ).astype(np.uint16)
    dec = decode_jpeg(encode_jpeg_12bit(sm))
    err = np.abs(dec.astype(int) - sm.astype(int))
    assert int(err.max()) < 200 and int(dec.max()) <= 4095


def test_jpeg_12bit_named_errors():
    from cloud_optimized_data_pipelines_spark.operators.jpeg_codec import (
        decode_jpeg,
        encode_jpeg_12bit,
    )

    with pytest.raises(ValueError, match="uint16"):
        encode_jpeg_12bit(np.zeros((8, 8), np.uint8))
    with pytest.raises(ValueError, match="4096"):
        encode_jpeg_12bit(np.full((8, 8), 5000, np.uint16))
    # 12-bit in SOF0 (baseline forbids it, table B.2) -> error
    jp = bytearray(
        encode_jpeg_12bit(np.zeros((8, 8), np.uint16))
    )
    i = jp.find(b"\xff\xc1")
    jp[i + 1] = 0xC0
    with pytest.raises(ValueError, match="SOF1"):
        decode_jpeg(bytes(jp))
    # a 12-bit frame claiming 3 components -> named grayscale-only
    jp2 = bytearray(encode_jpeg_12bit(np.zeros((8, 8), np.uint16)))
    i = jp2.find(b"\xff\xc1")
    jp2[i + 9] = 3  # nc field
    with pytest.raises(NotImplementedError, match="grayscale only"):
        decode_jpeg(bytes(jp2))


def test_jpeg_lossless_all_predictors_exact():
    """SOF3 lossless: ANY input round-trips bit-exactly under every
    predictor selector, at 8, 12 and 16-bit precision — no
    DC-exactness construction needed (that is the point of Annex H)."""
    from cloud_optimized_data_pipelines_spark.operators.jpeg_codec import (
        decode_jpeg,
        encode_jpeg_lossless,
    )

    rng = np.random.RandomState(23)
    for pred in range(1, 8):
        a8 = rng.randint(0, 256, (21, 17)).astype(np.uint8)
        d8 = decode_jpeg(encode_jpeg_lossless(a8, predictor=pred))
        assert d8.dtype == np.uint8 and np.array_equal(d8, a8)
        a16 = rng.randint(0, 65536, (13, 19)).astype(np.uint16)
        d16 = decode_jpeg(encode_jpeg_lossless(a16, predictor=pred))
        assert d16.dtype == np.uint16 and np.array_equal(d16, a16)
    a12 = rng.randint(0, 4096, (8, 8)).astype(np.uint16)
    assert np.array_equal(
        decode_jpeg(encode_jpeg_lossless(a12, precision=12)), a12
    )
    # worst-case diffs: alternating rails exercise SSSS 16 (-32768)
    rails = np.zeros((4, 6), np.uint16)
    rails[:, 1::2] = 32768
    assert np.array_equal(
        decode_jpeg(encode_jpeg_lossless(rails, predictor=1)), rails
    )


def test_jpeg_lossless_frame_markers_and_named_errors():
    from cloud_optimized_data_pipelines_spark.operators.jpeg_codec import (
        decode_jpeg,
        encode_jpeg_lossless,
    )

    jp = encode_jpeg_lossless(np.zeros((4, 4), np.uint8), predictor=5)
    assert b"\xff\xc3" in jp  # SOF3
    i = jp.find(b"\xff\xda")
    assert jp[i + 5] == 1 and jp[i + 7] == 5  # Ss carries the selector
    with pytest.raises(ValueError, match="grayscale"):
        encode_jpeg_lossless(np.zeros((4, 4, 3), np.uint8))
    with pytest.raises(ValueError, match="predictor"):
        encode_jpeg_lossless(np.zeros((4, 4), np.uint8), predictor=0)
    with pytest.raises(ValueError, match="range"):
        encode_jpeg_lossless(np.full((2, 2), 5000, np.uint16), precision=12)
    # a 3-component SOF3 is a named error
    bad = bytearray(jp)
    j = bad.find(b"\xff\xc3")
    bad[j + 9] = 3
    with pytest.raises(NotImplementedError, match="grayscale only"):
        decode_jpeg(bytes(bad))
