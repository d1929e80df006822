"""Multimodal binary-column plumbing: Arrow mapInPandas feature
extraction (deterministic fake decoder), frame sampling, payload meta."""

import hashlib
from functools import partial

from pyspark.sql import functions as F

from cloud_optimized_data_pipelines_spark.batching import probe_table
from cloud_optimized_data_pipelines_spark.operators.multimodal import (
    FEATURE_DIM,
    extract_features,
    frame_sample_plan,
    payload_meta,
    real_decode,
)
from cloud_optimized_data_pipelines_spark.schemas import MULTIMODAL_SCHEMA


def make_assets(spark):
    rows = [
        ("a1", "image", "image/png", b"\x89PNG fake bytes", {"w": "640"}),
        ("a2", "audio", "audio/wav", b"RIFF fake wave", {"sr": "16000"}),
        ("a3", "image", "image/png", None, {}),
    ]
    return spark.createDataFrame(rows, MULTIMODAL_SCHEMA)


def test_extract_features_schema_and_values(spark):
    out = extract_features(make_assets(spark)).orderBy("asset_id").collect()
    assert [r.asset_id for r in out] == ["a1", "a2", "a3"]
    r1 = out[0]
    assert r1.n_bytes == len(b"\x89PNG fake bytes")
    assert r1.sha256 == hashlib.sha256(b"\x89PNG fake bytes").hexdigest()
    assert len(r1.features) == FEATURE_DIM
    assert abs(sum(r1.features) - 1.0) < 1e-9  # normalized histogram
    r3 = out[2]  # NULL payload must not crash the Arrow batch
    assert r3.n_bytes == 0 and r3.sha256 is None
    assert r3.features == [0.0] * FEATURE_DIM


def test_extract_features_is_distributed(spark):
    """Plumbing check: multiple Arrow batches across partitions."""
    big = spark.range(1000).select(
        F.concat(F.lit("id-"), F.col("id")).alias("asset_id"),
        F.lit("image").alias("modality"),
        F.col("id").cast("string").cast("binary").alias("payload"),
    ).repartition(8)
    out = extract_features(big)
    assert out.count() == 1000
    assert out.select("sha256").distinct().count() == 1000


def test_real_decode_is_stubbed():
    try:
        real_decode(b"x", "image")
        raise AssertionError("expected NotImplementedError")
    except NotImplementedError:
        pass


def test_frame_sample_plan(spark):
    df = spark.createDataFrame([("v1", 25), ("v2", 5)], "asset_id string, n_frames int")
    rows = frame_sample_plan(df, every_n=10).collect()
    got = {(r.asset_id, r.frame_index) for r in rows}
    assert got == {("v1", 0), ("v1", 10), ("v1", 20), ("v2", 0)}


def test_payload_meta_stays_jvm_side(spark):
    df = make_assets(spark)
    out = payload_meta(df)
    # no Python/Arrow stage in the plan: pure codegen expressions
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "MapInPandas" not in plan
    r = {x.asset_id: x for x in out.collect()}
    assert r["a1"].n_bytes == len(b"\x89PNG fake bytes")
    assert r["a3"].payload_md5 is None


def test_phash_pairs_finds_engineered_neardups(spark):
    """The 16-variant probe family has exactly 8 engineered near-dup
    pairs (2b, 2b+1); banded blocking at max_hamming=3 must find ALL
    of them (pigeonhole completeness) and NOTHING else (min cross-base
    Hamming is 22 by construction), and the hashes must come from the
    DECODED pixels (round-trip asserted inside _phash_variant)."""
    from cloud_optimized_data_pipelines_spark.operators.multimodal import (
        PHASH_PROBE_SCHEMA,
        _phash_variant,
        ahash64,
        image_near_dup_pairs,
    )

    probe = probe_table(spark, _phash_variant, PHASH_PROBE_SCHEMA, 16)
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in image_near_dup_pairs(probe, "variant").collect()
    }
    assert set(pairs) == {(2 * b, 2 * b + 1) for b in range(8)}
    assert all(h <= 3 for h in pairs.values())
    # thresholds past the 4-band pigeonhole bound must be rejected,
    # not silently return an incomplete pair set
    import pytest as _pytest

    with _pytest.raises(ValueError, match="pigeonhole"):
        image_near_dup_pairs(probe, "variant", max_hamming=4)
    # hash parity with the single-process reference computation
    ref = {r["variant"]: (r["phash_hi"], r["phash_lo"]) for r in probe.collect()}
    for v in range(16):
        d = _phash_variant(v)
        assert ref[v] == (d["phash_hi"], d["phash_lo"])
    # integer-exactness: the threshold comparison is sum*64 vs total,
    # never a float mean
    import numpy as np
    flat = np.full((8, 8), 7, dtype=np.uint8)
    hi, lo = ahash64(flat)
    assert (hi, lo) == (0xFFFFFFFF, 0xFFFFFFFF)  # uniform: every block >= mean


def test_audio_fingerprint_finds_engineered_neardups(spark):
    """16 waveforms, 8 engineered overdub pairs: the energy-hash banded
    join finds exactly those pairs within Hamming 3 (min cross-base
    distance is 14 by construction) and the fingerprints come from the
    DECODED samples (round-trip asserted inside _afp_variant)."""
    from cloud_optimized_data_pipelines_spark.operators.multimodal import (
        AFP_PROBE_SCHEMA,
        _afp_variant,
        image_near_dup_pairs,
    )

    probe = probe_table(spark, _afp_variant, AFP_PROBE_SCHEMA, 16)
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in image_near_dup_pairs(
            probe, "variant", hi_col="afp_hi", lo_col="afp_lo"
        ).collect()
    }
    assert set(pairs) == {(2 * b, 2 * b + 1) for b in range(8)}
    ref = {r["variant"]: (r["afp_hi"], r["afp_lo"]) for r in probe.collect()}
    for v in (0, 7, 15):
        d = _afp_variant(v)
        assert ref[v] == (d["afp_hi"], d["afp_lo"])


def test_video_fingerprint_finds_engineered_neardups(spark):
    """16 four-frame AVIs, 8 one-frame-edit pairs: the temporal-sum
    aHash banded join finds exactly those pairs; fingerprints come
    from frames decoded out of the real container (round-trip asserted
    inside _vfp_variant)."""
    from cloud_optimized_data_pipelines_spark.operators.multimodal import (
        VFP_PROBE_SCHEMA,
        _vfp_variant,
        image_near_dup_pairs,
    )

    probe = probe_table(spark, _vfp_variant, VFP_PROBE_SCHEMA, 16)
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in image_near_dup_pairs(
            probe, "variant", hi_col="vfp_hi", lo_col="vfp_lo"
        ).collect()
    }
    assert set(pairs) == {(2 * b, 2 * b + 1) for b in range(8)}
    ref = {r["variant"]: (r["vfp_hi"], r["vfp_lo"]) for r in probe.collect()}
    for v in (0, 5, 14):
        d = _vfp_variant(v)
        assert ref[v] == (d["vfp_hi"], d["vfp_lo"])


def test_band_geometry_ladder_and_pigeonhole():
    from cloud_optimized_data_pipelines_spark.operators.multimodal import (
        band_geometry,
    )

    # integer ladder (margin 8): width thresholds at 2^(d-8)
    assert band_geometry(4, 3) == (1, 6, 10)
    assert band_geometry(32, 3) == (1, 4, 15)
    assert band_geometry(500, 3) == (2, 6, 20)
    assert band_geometry(5000, 3) == (2, 4, 30)
    assert band_geometry(4_194_304, 3) == (2, 4, 30)
    assert band_geometry(10**9, 3) == (4, 4, 60)
    # pigeonhole floor always holds: bands >= h+1
    for n in (1, 100, 10**6, 10**10):
        for h in (1, 3, 5, 11):
            words, bands, width = band_geometry(n, h, max_words=16)
            assert bands >= h + 1
            assert bands * width == words * 60
    # an impossible (n, h) combination fails loudly
    import pytest as _pytest

    with _pytest.raises(ValueError, match="max_words"):
        band_geometry(10**9, 11, max_words=4)  # needs 12 bands @ 60bit


def test_ahash_wide_matches_ahash64_on_8x8_grid():
    """ahash_wide at an 8x8-equivalent grid must agree bit-for-bit
    with ahash64 (same blocks, same integer threshold)."""
    import numpy as np

    from cloud_optimized_data_pipelines_spark.operators.multimodal import (
        _phash_raster,
        ahash64,
        ahash_wide,
    )

    g = _phash_raster(5)
    hi, lo = ahash64(g)
    (word,) = ahash_wide(g, 8, 8, bits_per_word=64)
    assert word == (hi << 32) | lo


def test_banded_hamming_pairs_adaptive_recall_and_completeness(spark):
    """The generic banded join over wide fingerprints finds EXACTLY the
    16 engineered pairs at every geometry the ladder can pick for the
    probe sizes (exhaustive popcount cross-check), and rejects a
    threshold at the pigeonhole bound."""
    import itertools

    import pytest as _pytest

    from cloud_optimized_data_pipelines_spark.operators.multimodal import (
        PHASH_WIDE_PROBE_SCHEMA,
        _phash_wide_raster,
        _phash_wide_variant,
        ahash_wide,
        _WIDE_GRIDS,
        band_geometry,
        banded_hamming_pairs,
    )

    for n_hint in (500, 5000):
        words, bands, width = band_geometry(n_hint, 3)
        rows, cols = _WIDE_GRIDS[words]
        probe = probe_table(
            spark,
            partial(_phash_wide_variant, rows=rows, cols=cols,
                    real_bytes=False),
            PHASH_WIDE_PROBE_SCHEMA, 32,
        )
        got = {
            (r["id_a"], r["id_b"])
            for r in banded_hamming_pairs(
                probe, "variant", "fp",
                num_bands=bands, width=width, max_hamming=3,
            ).collect()
        }
        # exhaustive ground truth
        fps = {
            v: ahash_wide(_phash_wide_raster(v), rows, cols)
            for v in range(32)
        }
        want = {
            (a, b)
            for a, b in itertools.combinations(range(32), 2)
            if sum(bin(x ^ y).count("1")
                   for x, y in zip(fps[a], fps[b])) <= 3
        }
        assert got == want and len(want) >= 16
    with _pytest.raises(ValueError, match="pigeonhole"):
        banded_hamming_pairs(
            probe, "variant", "fp", num_bands=4, width=30, max_hamming=4
        )


def test_vfp_wide_adaptive_pairs(spark):
    """The adaptive video path: every one-frame-edit sibling pair is
    within Hamming 3 at the 12x10 temporal grid and found by the
    banded join at the ladder geometry; cross-base pairs stay far
    (min 44) so the output is exactly the 16 siblings."""
    from cloud_optimized_data_pipelines_spark.operators.multimodal import (
        VFP_WIDE_PROBE_SCHEMA,
        _vfp_wide_variant,
        band_geometry,
        banded_hamming_pairs,
    )

    _, _, width = band_geometry(5000, 3)
    bands = 2 * (60 // width)
    probe = probe_table(
        spark, partial(_vfp_wide_variant, words=2), VFP_WIDE_PROBE_SCHEMA, 32
    )
    got = {
        (r["id_a"], r["id_b"])
        for r in banded_hamming_pairs(
            probe, "variant", "fp",
            num_bands=bands, width=width, max_hamming=3,
        ).collect()
    }
    assert got == {(2 * b, 2 * b + 1) for b in range(16)}
