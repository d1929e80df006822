"""GIF codec tests (operators/gif_codec.py): LZW invariants (incl. the
KwKwK case and 12-bit dictionary reset), multi-frame round trips,
structural/named errors, probe parity, and hypothesis fuzz."""

import numpy as np
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from cloud_optimized_data_pipelines_spark.operators.gif_codec import (
    decode_gif,
    encode_gif,
    lzw_decode,
    lzw_encode,
)


def test_lzw_roundtrip_across_width_boundaries():
    rng = np.random.RandomState(1)
    for npal in (2, 3, 4, 7, 16, 64, 250, 256):
        mcs = max(2, (npal - 1).bit_length())
        for n in (1, 5, 100, 5000, 20000):
            idx = rng.randint(0, npal, n).astype(np.uint8)
            assert np.array_equal(
                lzw_decode(lzw_encode(idx, mcs), mcs, n), idx
            ), (npal, n)


def test_lzw_kwkwk_and_runs():
    """All-same-symbol streams hit the code==next_code (KwKwK) decoder
    branch on nearly every step; 4097+ runs also cross the 12-bit
    dictionary reset."""
    for run in (2, 3, 50, 4097, 9000):
        idx = np.zeros(run, np.uint8)
        assert np.array_equal(lzw_decode(lzw_encode(idx, 2), 2, run), idx)


def test_lzw_truncation_detected():
    idx = np.arange(100, dtype=np.uint8) % 4
    enc = lzw_encode(idx, 2)
    with pytest.raises(ValueError, match="truncated|pixels"):
        lzw_decode(enc[: len(enc) // 2], 2, 100)


def test_gif_multiframe_roundtrip_with_delays():
    rng = np.random.RandomState(2)
    pal = rng.randint(0, 256, (16, 3)).astype(np.uint8)
    frames = [rng.randint(0, 16, (13, 17)).astype(np.uint8) for _ in range(5)]
    gif = encode_gif(frames, pal, delays_cs=[4, 8, 12, 16, 20])
    assert gif[:6] == b"GIF89a" and gif[-1:] == b"\x3b"
    assert b"NETSCAPE2.0" in gif  # loop extension on animations
    dfr, dpal, delays = decode_gif(gif)
    assert delays == [4, 8, 12, 16, 20]
    assert np.array_equal(dpal[:16], pal)
    assert all(np.array_equal(a, b) for a, b in zip(frames, dfr))


def test_gif_256_palette_dictionary_reset():
    rng = np.random.RandomState(3)
    pal = rng.randint(0, 256, (256, 3)).astype(np.uint8)
    big = rng.randint(0, 256, (80, 90)).astype(np.uint8)  # > 4096 entries
    f, p, _ = decode_gif(encode_gif([big], pal))
    assert np.array_equal(f[0], big)


def test_gif_named_errors():
    pal = np.zeros((4, 3), np.uint8)
    gif = bytearray(encode_gif([np.zeros((4, 6), np.uint8)], pal))
    with pytest.raises(ValueError, match="signature"):
        decode_gif(b"NOTGIF" + bytes(gif[6:]))
    # flipping the interlace bit on sequentially-stored rows is legal
    # container-wise: the decoder must apply the 4-pass permutation
    # (r8: interlace is now implemented, this used to be a named error)
    desc = bytes(gif).find(b"\x2c")
    g2 = bytearray(gif)
    g2[desc + 9] |= 0x40
    from cloud_optimized_data_pipelines_spark.operators.gif_codec import (
        _interlace_order,
    )

    seq = decode_gif(bytes(gif))[0][0]
    perm = decode_gif(bytes(g2))[0][0]
    assert np.array_equal(perm[_interlace_order(4)], seq)
    # a sub-rect that hangs off the logical screen is structural junk
    g3 = bytearray(gif)
    g3[desc + 1] = 1  # left = 1 on a width-6 screen with a width-6 frame
    with pytest.raises(ValueError, match="outside the logical screen"):
        decode_gif(bytes(g3))
    with pytest.raises(ValueError, match="palette"):
        encode_gif([np.zeros((2, 2), np.uint8)], np.zeros((300, 3), np.uint8))
    with pytest.raises(ValueError, match="index"):
        encode_gif([np.full((2, 2), 9, np.uint8)], pal)


def test_gif_probe_matches_local_reference(spark):
    from cloud_optimized_data_pipelines_spark.batching import probe_table
    from cloud_optimized_data_pipelines_spark.operators.multimodal import (
        GIF_PROBE_SCHEMA,
        _GIF_NPAL,
        _gif_variant,
    )

    probe = probe_table(spark, _gif_variant, GIF_PROBE_SCHEMA, 8)
    got = {r.variant: r for r in probe.collect()}
    assert len(got) == 8
    for v in range(8):
        ref = _gif_variant(v)
        assert got[v].gif_md5 == ref["gif_md5"]
        assert got[v].sampled_px_sum == ref["sampled_px_sum"]
        assert got[v].n_palette == _GIF_NPAL[v]
        assert got[v].n_frames == 6 and got[v].n_sampled == 3
    # non-circular: the arithmetic formula over sampled frames {0,2,4}
    for v in range(8):
        npal = _GIF_NPAL[v]
        expect = sum(
            (((k * (v + 1) + 7 * f) % npal) * 7 + 1) % 251
            + (((k * (v + 1) + 7 * f) % npal) * 11 + 3) % 251
            + (((k * (v + 1) + 7 * f) % npal) * 13 + 5) % 251
            for f in (0, 2, 4)
            for k in range(20 * 16)
        )
        assert got[v].sampled_px_sum == expect


def test_real_decode_dispatches_gif():
    from cloud_optimized_data_pipelines_spark.operators.multimodal import (
        real_decode,
    )

    pal = np.array([[10, 20, 30], [40, 50, 60]], np.uint8)
    frames = [np.zeros((3, 4), np.uint8), np.ones((3, 4), np.uint8)]
    rgb = real_decode(encode_gif(frames, pal), "image/gif")
    assert rgb.shape == (2, 3, 4, 3)
    assert (rgb[0] == [10, 20, 30]).all() and (rgb[1] == [40, 50, 60]).all()


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(
    h=st.integers(1, 24),
    w=st.integers(1, 24),
    npal=st.sampled_from([2, 4, 16, 256]),
    nframes=st.integers(1, 4),
    seed=st.integers(0, 2**31 - 1),
)
def test_fuzz_gif_roundtrip(h, w, npal, nframes, seed):
    rng = np.random.RandomState(seed)
    pal = rng.randint(0, 256, (npal, 3)).astype(np.uint8)
    frames = [
        rng.randint(0, npal, (h, w)).astype(np.uint8) for _ in range(nframes)
    ]
    dfr, dpal, _ = decode_gif(encode_gif(frames, pal))
    assert len(dfr) == nframes
    assert all(np.array_equal(a, b) for a, b in zip(frames, dfr))


def test_gce_scope_is_one_frame():
    """A Graphic Control Extension governs only the image that follows
    it — a GCE-less later frame gets the default delay, not a stale
    one (spec section 23)."""
    pal = np.array([[0, 0, 0], [255, 255, 255]], np.uint8)
    f = np.zeros((2, 2), np.uint8)
    gif = bytearray(encode_gif([f, f], pal, delays_cs=[77, 5], loop=False))
    # strip the SECOND frame's GCE block (0x21 0xF9 0x04 ... 0x00 = 8 bytes)
    first = bytes(gif).find(b"\x21\xf9")
    second = bytes(gif).find(b"\x21\xf9", first + 2)
    del gif[second : second + 8]
    _, _, delays = decode_gif(bytes(gif))
    assert delays == [77, 10]


def _anim(frames, **kw):
    from cloud_optimized_data_pipelines_spark.operators.gif_codec import (
        encode_gif_anim,
    )

    return encode_gif_anim(kw.pop("screen", (8, 6)), kw.pop("pal"), frames, **kw)


def test_gif_subrect_composite_disposal_none():
    """Partial-update frames composite onto the logical screen; with
    disposal 1 (leave in place) each patch persists into later frames."""
    pal = np.arange(12, dtype=np.uint8).reshape(4, 3)
    base = np.zeros((6, 8), np.uint8)
    patch = np.full((2, 3), 2, np.uint8)
    gif = _anim(
        [
            {"indices": base, "disposal": 1},
            {"indices": patch, "left": 4, "top": 1, "disposal": 1},
            {"indices": np.full((1, 2), 3, np.uint8), "left": 0, "top": 5},
        ],
        pal=pal,
    )
    frames, _, _ = decode_gif(gif)
    assert len(frames) == 3
    exp1 = base.copy()
    exp1[1:3, 4:7] = 2
    assert np.array_equal(frames[1], exp1)
    exp2 = exp1.copy()
    exp2[5:6, 0:2] = 3
    assert np.array_equal(frames[2], exp2)  # earlier patch persisted


def test_gif_disposal_background_and_previous():
    """Disposal 2 restores the frame's rect to the background index
    AFTER display; disposal 3 restores the pre-frame canvas."""
    pal = np.arange(12, dtype=np.uint8).reshape(4, 3)
    base = np.ones((6, 8), np.uint8)
    gif = _anim(
        [
            {"indices": base, "disposal": 1},
            # displayed, then its rect reverts to bg index 0
            {"indices": np.full((2, 2), 2, np.uint8), "left": 1, "top": 1,
             "disposal": 2},
            # displayed, then the WHOLE pre-frame canvas is restored
            {"indices": np.full((3, 3), 3, np.uint8), "left": 4, "top": 2,
             "disposal": 3},
            {"indices": np.full((1, 1), 2, np.uint8), "left": 0, "top": 0},
        ],
        pal=pal,
    )
    frames, _, _ = decode_gif(gif)
    assert (frames[1][1:3, 1:3] == 2).all()  # frame 2 shows its patch
    after_bg = base.copy()
    after_bg[1:3, 1:3] = 0  # bg-restored hole visible under frame 3
    exp3 = after_bg.copy()
    exp3[2:5, 4:7] = 3
    assert np.array_equal(frames[2], exp3)
    exp4 = after_bg.copy()  # disposal-3 undid frame 3's patch entirely
    exp4[0, 0] = 2
    assert np.array_equal(frames[3], exp4)


def test_gif_transparency_shows_through():
    pal = np.arange(12, dtype=np.uint8).reshape(4, 3)
    base = np.full((6, 8), 1, np.uint8)
    patch = np.array([[2, 0], [0, 3]], np.uint8)  # 0 = transparent
    gif = _anim(
        [
            {"indices": base, "disposal": 1},
            {"indices": patch, "left": 3, "top": 2, "transparent": 0},
        ],
        pal=pal,
    )
    frames, _, _ = decode_gif(gif)
    exp = base.copy()
    exp[2, 3] = 2
    exp[3, 4] = 3  # transparent corners left the base showing
    assert np.array_equal(frames[1], exp)


def test_gif_local_color_table_scoping():
    """An LCT differing from the global table: named error from the
    single-palette decode, correct per-frame colors from the RGB
    decode — and it does NOT leak onto later GCT frames."""
    from cloud_optimized_data_pipelines_spark.operators.gif_codec import (
        decode_gif_rgb,
    )

    gct = np.array([[10, 10, 10], [20, 20, 20]], np.uint8)
    lct = np.array([[90, 91, 92], [200, 201, 202]], np.uint8)
    f = np.array([[0, 1]], np.uint8)
    gif = _anim(
        [
            {"indices": f},
            {"indices": f, "lct": lct},
            {"indices": f},
        ],
        pal=gct,
        screen=(2, 1),
    )
    with pytest.raises(ValueError, match="local color table"):
        decode_gif(gif)
    frames, _ = decode_gif_rgb(gif)
    assert (frames[0][0, 0] == [10, 10, 10]).all()
    assert (frames[1][0, 0] == [90, 91, 92]).all()
    assert (frames[1][0, 1] == [200, 201, 202]).all()
    assert (frames[2][0, 1] == [20, 20, 20]).all()  # LCT did not leak


def test_gif_identical_lct_is_accepted_by_index_decode():
    gct = np.array([[1, 2, 3], [4, 5, 6]], np.uint8)
    f = np.array([[0, 1]], np.uint8)
    gif = _anim([{"indices": f, "lct": gct}], pal=gct, screen=(2, 1))
    frames, pal, _ = decode_gif(gif)
    assert np.array_equal(frames[0], f)


def test_gif_rgb_matches_index_decode_on_gct_only_files():
    rng = np.random.RandomState(7)
    from cloud_optimized_data_pipelines_spark.operators.gif_codec import (
        decode_gif_rgb,
    )

    pal = rng.randint(0, 256, (16, 3)).astype(np.uint8)
    frames = [rng.randint(0, 16, (5, 9)).astype(np.uint8) for _ in range(3)]
    gif = encode_gif(frames, pal)
    idx_frames, dpal, _ = decode_gif(gif)
    rgb_frames, _ = decode_gif_rgb(gif)
    for a, b in zip(idx_frames, rgb_frames):
        assert np.array_equal(dpal[a], b)


def test_gif_transparent_index_out_of_palette_is_named_error():
    """ADVICE r7: a GCE transparency index >= len(palette) (or >= 256)
    must raise a named ValueError, matching the pixel-index check —
    not crash in bytes() or silently write an unusable index."""
    import pytest
    from cloud_optimized_data_pipelines_spark.operators.gif_codec import (
        encode_gif_anim,
    )

    pal = np.array([[0, 0, 0], [255, 255, 255]], np.uint8)
    f = np.zeros((2, 2), np.uint8)
    for bad in (2, 255, 256, 4096, -1):
        with pytest.raises(ValueError, match="transparent"):
            encode_gif_anim((2, 2), pal, [{"indices": f, "transparent": bad}])
    # boundary: the last palette entry is a legal transparency index
    ok = encode_gif_anim((2, 2), pal, [{"indices": f, "transparent": 1}])
    frames, _, _ = decode_gif(ok)
    assert np.array_equal(frames[0], f)


def test_gif_interlaced_roundtrip_and_storage_order():
    """Interlaced frames round-trip pixel-exact, the descriptor flag is
    set, and the stored row order follows the GIF87a appendix E 4-pass
    schedule (verified by hand-walking the container, not the codec)."""
    from cloud_optimized_data_pipelines_spark.operators.gif_codec import (
        _interlace_order,
        encode_gif_anim,
        lzw_decode,
    )

    rng = np.random.RandomState(11)
    pal = rng.randint(0, 256, (8, 3)).astype(np.uint8)
    # 13 rows: exercises every pass including the ragged tail
    frame = rng.randint(0, 8, (13, 6)).astype(np.uint8)
    gif = encode_gif_anim(
        (6, 13), pal, [{"indices": frame, "interlace": True}]
    )
    frames, dpal, _ = decode_gif(gif)
    assert np.array_equal(frames[0], frame)
    assert np.array_equal(dpal[: len(pal)], pal)

    # hand-walk: header(13) + GCT(8*3) + GCE(8) + descriptor
    pos = 13 + 24 + 8
    assert gif[pos] == 0x2C
    fpacked = gif[pos + 9]
    assert fpacked & 0x40  # interlace flag set
    pos += 10
    min_code = gif[pos]
    pos += 1
    lzw = bytearray()
    while gif[pos] != 0:
        n = gif[pos]
        lzw += gif[pos + 1 : pos + 1 + n]
        pos += 1 + n
    stored = lzw_decode(bytes(lzw), min_code, 13 * 6).reshape(13, 6)
    assert np.array_equal(stored, frame[_interlace_order(13)])
    # schedule spot-check for 13 rows
    assert _interlace_order(13) == [0, 8, 4, 12, 2, 6, 10, 1, 3, 5, 7, 9, 11]


def test_gif_interlaced_subrect_composites_like_progressive():
    """An interlaced sub-rectangle patch composites identically to the
    same patch stored sequentially (interlacing is transport order
    only, never display semantics)."""
    rng = np.random.RandomState(13)
    from cloud_optimized_data_pipelines_spark.operators.gif_codec import (
        encode_gif_anim,
    )

    pal = rng.randint(0, 256, (4, 3)).astype(np.uint8)
    base = rng.randint(0, 4, (10, 10)).astype(np.uint8)
    patch = rng.randint(0, 4, (5, 7)).astype(np.uint8)
    specs = [
        {"indices": base},
        {"indices": patch, "left": 2, "top": 3},
    ]
    plain = decode_gif(encode_gif_anim((10, 10), pal, specs))[0]
    specs[1]["interlace"] = True
    inter = decode_gif(encode_gif_anim((10, 10), pal, specs))[0]
    for a, b in zip(plain, inter):
        assert np.array_equal(a, b)
