"""Multimodal (binary-payload) columns — image/audio/video/raster.

Generalizes the reference's raster stage (``lambdas/cogify/handler.py``:
download -> decode -> transform -> encode -> upload) into the engine's
sanctioned heavy-UDF pattern:

- payloads are opaque ``BinaryType`` columns (or references: an
  ``s3_filename`` to fetch executor-side, exactly like the reference's
  ``download_file`` at cogify/handler.py:49-71);
- metadata (dims, dtype, nodata, bbox) lives in ordinary columns so
  filters/joins never touch bytes;
- decode / feature-extract / resize / frame-sample run inside
  ``mapInPandas`` — Arrow-batched, one Python worker per core, the only
  sanctioned Python in the engine;
- batch size for raster work is kept small (the reference allots 8 GB
  per worker — lambda_stack.py:75) via
  ``spark.sql.execution.arrow.maxRecordsPerBatch``.

Decode status by modality:
- **image/png: REAL** — pure-numpy PNG codec (operators/png_codec.py,
  RFC 2083 from first principles: zlib inflate, all five scanline
  filters, CRC-verified chunks, 8/16-bit gray/RGB/alpha).
  :func:`extract_image_features` decodes actual PNG bytes and emits
  raster statistics; the graded ``multimodal_png_features`` query
  hash-checks the exact encoded byte stream (k1_cogify_real_bytes
  pattern).
- **audio/wav: REAL** — pure-numpy RIFF/WAVE codec
  (operators/wav_codec.py: chunk walk, PCM 8/16/24/32-bit + IEEE
  float samples + G.711 mu-law/A-law telephony companding).
  :func:`extract_audio_features` decodes actual WAV bytes into
  waveform statistics; graded by ``multimodal_wav_features`` and
  ``multimodal_wav_g711`` on real bytes.
- **image/jpeg: REAL** — pure-numpy JPEG codec
  (operators/jpeg_codec.py, ITU-T T.81 from first principles: DCT,
  Annex K quant/Huffman tables, marker parse, restart handling,
  4:2:0/4:2:2 subsampling, progressive SOF2 per Annex G, 12-bit
  grayscale SOF1 decoded as uint16).  Graded by the
  ``multimodal_jpeg_*`` queries on real bytes; arithmetic-coded /
  12-bit color files raise a named error.
- **image/gif: REAL** — pure-python LZW GIF89a codec
  (operators/gif_codec.py) incl. ANIMATED multi-frame decode, sub-rect
  compositing with disposal methods, interlaced frames, and frame
  sampling.  Graded by the ``multimodal_gif_*`` queries.
- **video/avi: REAL** — pure-numpy RIFF/AVI container codec
  (operators/avi_codec.py): uncompressed 24/32-bit DIB streams and
  Motion-JPEG (every frame decoded by this repo's own jpeg_codec).
  Graded by ``multimodal_avi_frames`` on real container bytes.
- other compressed audio / video (MP3, MP4/H.264...): libs
  (librosa/ffmpeg) are NOT in this container — those modalities keep
  the ``NotImplementedError`` stub with a deterministic fake
  (byte-histogram features), keeping the Spark-side plumbing — schema,
  partitioning, UDF signature, Arrow batch shape — real and tested.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FEATURE_DIM = 16

FEATURES_SCHEMA = (
    "asset_id string, modality string, n_bytes bigint, sha256 string, "
    "features array<double>"
)


def _fake_decode_features(payload: bytes) -> list[float]:
    """Deterministic stand-in for a real decoder: normalized 16-bin byte
    histogram.  Replace with PIL/librosa/ffmpeg decode in a container
    that ships them."""
    if payload is None:
        return [0.0] * FEATURE_DIM
    counts = [0] * FEATURE_DIM
    for b in payload:
        counts[b % FEATURE_DIM] += 1
    total = max(len(payload), 1)
    return [c / total for c in counts]


def real_decode(payload: bytes, modality: str):
    """The real decoder hook: PNG, WAV (incl. G.711 telephony), baseline
    + progressive JPEG, animated GIF (incl. interlace), AVI video
    (raw DIB / MJPG streams), and MPEG-1 audio Layers I/II decode for
    real — pure-numpy/python codecs (MPEG PCM synthesis uses a
    designed near-PR window, non-ISO: see operators/mpeg_audio.py's
    conformance note; the bitstream layer is exact).  Layer III
    (Huffman tables = pure tabulated data) and MP4/H.264 still require
    ffmpeg, not present in this container — named errors."""
    if modality in ("audio/mpeg", "audio/mp2", "audio/mp1"):
        from cloud_optimized_data_pipelines_spark.operators.mpeg_audio import (
            decode_mpeg_audio,
        )

        return decode_mpeg_audio(payload)[0]
    if modality == "image/png":
        from cloud_optimized_data_pipelines_spark.operators.png_codec import (
            decode_png,
        )

        return decode_png(payload)
    if modality == "audio/wav":
        from cloud_optimized_data_pipelines_spark.operators.wav_codec import (
            decode_wav,
        )

        return decode_wav(payload)[0]
    if modality == "image/jpeg":
        from cloud_optimized_data_pipelines_spark.operators.jpeg_codec import (
            decode_jpeg,
        )

        return decode_jpeg(payload)
    if modality == "image/gif":
        from cloud_optimized_data_pipelines_spark.operators.gif_codec import (
            decode_gif_rgb,
        )

        # per-frame palette scoping + sub-rect/disposal compositing
        frames, _ = decode_gif_rgb(payload)
        return np.stack(frames)  # (n_frames, h, w, 3) RGB
    if modality in ("video/avi", "video/x-msvideo"):
        from cloud_optimized_data_pipelines_spark.operators.avi_codec import (
            decode_avi,
        )

        frames, _ = decode_avi(payload)
        return np.stack(frames)  # (n_frames, h, w, 3) RGB
    raise NotImplementedError(
        f"decode for modality {modality!r} requires librosa/ffmpeg, not "
        "present in this container; wire them here"
    )


IMAGE_FEATURES_SCHEMA = (
    "asset_id string, width bigint, height bigint, channels bigint, "
    "bit_depth bigint, px_sum bigint, px_mean double, png_md5 string"
)


def extract_image_features(
    assets: DataFrame,
    payload_col: str = "payload",
    id_col: str = "asset_id",
) -> DataFrame:
    """REAL image decode: PNG payloads -> per-image raster statistics
    via Arrow-batched ``mapInPandas``.

    Unlike :func:`extract_features` (byte-level fake for modalities
    whose decoders aren't in the container), every output here derives
    from actually-decoded pixels: the full inflate -> unfilter ->
    sample-reconstruction path runs per payload.  A corrupt payload
    raises (fail-fast); route through :func:`payload_meta` filters
    first to keep bad assets out of the Python stage.
    """
    from cloud_optimized_data_pipelines_spark.operators.png_codec import (
        decode_png,
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for aid, p in zip(pdf[id_col], pdf[payload_col]):
                arr = decode_png(bytes(p))
                px_sum = int(arr.sum(dtype=np.int64))
                rows.append(
                    {
                        "asset_id": aid,
                        "width": arr.shape[1],
                        "height": arr.shape[0],
                        "channels": arr.shape[2],
                        "bit_depth": 16 if arr.dtype == np.uint16 else 8,
                        "px_sum": px_sum,
                        "px_mean": px_sum / arr.size,
                        "png_md5": hashlib.md5(bytes(p)).hexdigest(),
                    }
                )
            yield pd.DataFrame(rows)

    return assets.select(id_col, payload_col).mapInPandas(
        run, IMAGE_FEATURES_SCHEMA
    )


AUDIO_FEATURES_SCHEMA = (
    "asset_id string, n_frames bigint, channels bigint, sample_rate "
    "bigint, sample_sum bigint, rms double, zero_crossings bigint, "
    "wav_md5 string"
)


def extract_audio_features(
    assets: DataFrame,
    payload_col: str = "payload",
    id_col: str = "asset_id",
) -> DataFrame:
    """REAL audio decode: WAV payloads -> per-clip waveform statistics
    via Arrow-batched ``mapInPandas`` (the audio twin of
    :func:`extract_image_features` — RIFF chunk walk + PCM/float
    sample reconstruction run per payload)."""
    from cloud_optimized_data_pipelines_spark.operators.wav_codec import (
        decode_wav,
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for aid, p in zip(pdf[id_col], pdf[payload_col]):
                arr, rate = decode_wav(bytes(p))
                f = arr.astype(np.float64)
                mono = f.mean(axis=1)
                rows.append(
                    {
                        "asset_id": aid,
                        "n_frames": arr.shape[0],
                        "channels": arr.shape[1],
                        "sample_rate": rate,
                        "sample_sum": int(arr.sum(dtype=np.int64))
                        if arr.dtype.kind in "iu"
                        else 0,
                        "rms": float(np.sqrt((f * f).mean())) if f.size else 0.0,
                        "zero_crossings": int(
                            np.count_nonzero(np.diff(np.signbit(mono)))
                        ),
                        "wav_md5": hashlib.md5(bytes(p)).hexdigest(),
                    }
                )
            yield pd.DataFrame(rows)

    return assets.select(id_col, payload_col).mapInPandas(
        run, AUDIO_FEATURES_SCHEMA
    )


WAV_PROBE_SCHEMA = (
    "variant bigint, wav_md5 string, sample_sum bigint, n_frames bigint, "
    "channels bigint, sample_rate bigint, bits bigint"
)

_WAV_FRAMES = 1000
_WAV_BITS = [16, 16, 8, 8, 32, 32, 16, 16]


def _wav_variant(v: int) -> dict:
    """One deterministic audio reference conversion (the PNG/_cog
    pattern): formula waveform -> encode real RIFF bytes -> decode ->
    verify round-trip -> emit blob md5 + DECODED sample sum (checkable
    arithmetically from the formula — non-circular)."""
    from cloud_optimized_data_pipelines_spark.operators.wav_codec import (
        decode_wav,
        encode_wav,
    )

    ch = v % 2 + 1
    bits = _WAV_BITS[v % 8]
    rate = 8000 + (v % 8) * 1000
    n = _WAV_FRAMES * ch
    k = np.arange(n, dtype=np.int64)
    if bits == 8:
        samples = ((k * (v + 1)) % 251).astype(np.uint8)
    else:
        raw = (k * (v + 1)) % 20011 - 10005
        samples = raw.astype(np.int16 if bits == 16 else np.int32)
    wav = encode_wav(samples.reshape(_WAV_FRAMES, ch), rate)
    dec, drate = decode_wav(wav)
    if drate != rate or not np.array_equal(
        dec, samples.reshape(_WAV_FRAMES, ch)
    ):  # pragma: no cover - codec guard
        raise RuntimeError(f"wav variant {v}: round-trip mismatch")
    return {
        "variant": v,
        "wav_md5": hashlib.md5(wav).hexdigest(),
        "sample_sum": int(dec.sum(dtype=np.int64)),
        "n_frames": _WAV_FRAMES,
        "channels": ch,
        "sample_rate": rate,
        "bits": bits,
    }


G711_PROBE_SCHEMA = (
    "variant bigint, wav_md5 string, sample_sum bigint, n_frames bigint, "
    "channels bigint, sample_rate bigint, law string"
)


def _wav_g711_variant(v: int) -> dict:
    """One deterministic G.711 telephony-WAV conversion: the int16
    formula waveform is companded (mu-law for even variants, A-law for
    odd) into a real format-tag-7/6 WAVE container, decoded back
    through the container + expander, and verified against a direct
    law_decode(law_encode(x)) of the source — the container must add
    nothing.  ``sample_sum`` is over the DECODED (quantized) samples,
    recomputable arithmetically in SQL by replaying the CCITT
    compand-quantize chain (segment search + mantissa truncation +
    reconstruction), so the oracle is non-circular."""
    from cloud_optimized_data_pipelines_spark.operators.wav_codec import (
        alaw_decode,
        alaw_encode,
        decode_wav,
        encode_wav_g711,
        ulaw_decode,
        ulaw_encode,
    )

    law = "ulaw" if v % 2 == 0 else "alaw"
    ch = (v // 2) % 2 + 1
    rate = 8000
    n = _WAV_FRAMES * ch
    k = np.arange(n, dtype=np.int64)
    samples = ((k * (v + 1)) % 20011 - 10005).astype(np.int16)
    wav = encode_wav_g711(samples.reshape(_WAV_FRAMES, ch), law, rate)
    dec, drate = decode_wav(wav)
    enc, dec_fn = (
        (ulaw_encode, ulaw_decode) if law == "ulaw" else (alaw_encode, alaw_decode)
    )
    expect = dec_fn(enc(samples)).reshape(_WAV_FRAMES, ch)
    if drate != rate or not np.array_equal(dec, expect):
        raise RuntimeError(  # pragma: no cover - codec guard
            f"g711 variant {v}: container/expander mismatch"
        )
    return {
        "variant": v,
        "wav_md5": hashlib.md5(wav).hexdigest(),
        "sample_sum": int(dec.sum(dtype=np.int64)),
        "n_frames": _WAV_FRAMES,
        "channels": ch,
        "sample_rate": rate,
        "law": law,
    }


AVI_PROBE_SCHEMA = (
    "variant bigint, avi_md5 string, sampled_px_sum bigint, "
    "n_frames bigint, n_sampled bigint, width bigint, height bigint, "
    "fps bigint, codec string"
)

_AVI_FRAMES = 6
_AVI_RAW_H, _AVI_RAW_W = 20, 16
_AVI_MJPG_HW = 16  # 2x2 grid of 8x8 blocks


def _avi_variant(v: int) -> dict:
    """One deterministic AVI (video container) conversion: variants
    0-3 are uncompressed 24-bit DIB streams (formula pixel
    (k*(v+1) + 7f) % 256 over the flat RGB index), 4-7 are MJPG
    streams whose frames are DC-exact JPEG inputs (uniform even-valued
    8x8 blocks, value 2*((b*(v+1) + 5f) % 128) for block b) so the
    lossy codec round-trips bit-exact.  Encode -> container+frame
    decode -> verify -> sample every 2nd frame; sampled_px_sum is
    recomputable arithmetically in SQL for both codecs."""
    from cloud_optimized_data_pipelines_spark.operators.avi_codec import (
        decode_avi,
        encode_avi,
    )

    fps = 10 + v
    if v % 8 < 4:
        codec = "raw"
        h, w = _AVI_RAW_H, _AVI_RAW_W
        k = np.arange(h * w * 3, dtype=np.int64)
        frames = [
            ((k * (v + 1) + 7 * f) % 256).reshape(h, w, 3).astype(np.uint8)
            for f in range(_AVI_FRAMES)
        ]
    else:
        codec = "mjpg"
        h = w = _AVI_MJPG_HW
        b = np.arange(4, dtype=np.int64).reshape(2, 2)
        frames = []
        for f in range(_AVI_FRAMES):
            blocks = (2 * ((b * (v + 1) + 5 * f) % 128)).astype(np.uint8)
            gray = np.repeat(np.repeat(blocks, 8, 0), 8, 1)
            frames.append(np.stack([gray] * 3, axis=2))
    avi = encode_avi(frames, fps=fps, codec=codec)
    dec, dfps = decode_avi(avi)
    if dfps != fps or len(dec) != _AVI_FRAMES or not all(
        np.array_equal(a, b2) for a, b2 in zip(frames, dec)
    ):  # pragma: no cover - codec guard
        raise RuntimeError(f"avi variant {v}: round-trip mismatch")
    sampled = dec[::2]
    px = sum(int(f.sum(dtype=np.int64)) for f in sampled)
    return {
        "variant": v,
        "avi_md5": hashlib.md5(avi).hexdigest(),
        "sampled_px_sum": px,
        "n_frames": _AVI_FRAMES,
        "n_sampled": len(sampled),
        "width": w,
        "height": h,
        "fps": fps,
        "codec": codec,
    }


ADPCM_PROBE_SCHEMA = (
    "variant bigint, wav_md5 string, sample_sum bigint, n_frames bigint, "
    "sample_rate bigint, max_abs_err bigint"
)

_ADPCM_FRAMES = 2001  # 4 blocks of 505 incl. a padded tail


def _wav_adpcm_variant(v: int) -> dict:
    """One deterministic IMA-ADPCM WAV conversion: a bounded integer
    zigzag ``s(k) = ((k*(v+13)) % 1201) - 600`` is companded into a
    real format-tag-0x11 container (per-block predictor/step-index
    headers, fact-chunk crop), decoded back, and TRIPLE-guarded
    executor-side: (a) every block's payload is re-decoded with stdlib
    ``audioop`` — an independent implementation of the DVI spec — and
    must match bit-for-bit; (b) one more encode->decode round trip
    must be a fixed point; (c) each block header must carry its first
    source sample verbatim.  ADPCM decode is a sequential nonlinear
    state machine, so the oracle pins sample_sum as a literal (the
    md5-pinning precedent) — non-circularity comes from guard (a)'s
    implementation diversity rather than a SQL replay."""
    import struct as _struct

    from cloud_optimized_data_pipelines_spark.operators.wav_codec import (
        decode_wav,
        encode_wav_adpcm,
        ima_adpcm_decode,
    )

    k = np.arange(_ADPCM_FRAMES, dtype=np.int64)
    sig = (((k * (v + 13)) % 1201) - 600).astype(np.int16)
    wav = encode_wav_adpcm(sig, 8000)
    dec, rate = decode_wav(wav)
    dec = dec[:, 0]
    # (a) audioop cross-check of every container block
    try:
        import audioop  # noqa: F401 - removed in py3.13; guarded

        data_off = wav.find(b"data") + 8
        (dsize,) = _struct.unpack_from("<I", wav, data_off - 4)
        raw = wav[data_off : data_off + dsize]
        got = []
        for lo in range(0, len(raw), 256):
            blk = raw[lo : lo + 256]
            pred, index, _ = _struct.unpack_from("<hBB", blk, 0)
            nibs = []
            for b in blk[4:]:
                nibs += [b & 0x0F, b >> 4]
            packed = bytes(
                (nibs[i] << 4) | nibs[i + 1] for i in range(0, len(nibs), 2)
            )
            ref = np.frombuffer(
                audioop.adpcm2lin(packed, 2, (pred, index))[0], np.int16
            )
            mine, _, _ = ima_adpcm_decode(nibs, pred, index)
            if not np.array_equal(ref, mine):  # pragma: no cover - guard
                raise RuntimeError(f"adpcm variant {v}: audioop mismatch")
            got.append(np.concatenate([[np.int16(pred)], mine]))
        full = np.concatenate(got)[:_ADPCM_FRAMES]
        if not np.array_equal(full, dec):  # pragma: no cover - guard
            raise RuntimeError(f"adpcm variant {v}: container walk mismatch")
    except ImportError:  # pragma: no cover - py3.13+
        pass
    # (b) fixed point
    dec2, _ = decode_wav(encode_wav_adpcm(dec, 8000))
    if not np.array_equal(dec2[:, 0], dec):  # pragma: no cover - guard
        raise RuntimeError(f"adpcm variant {v}: round trip not a fixed point")
    # (c) block headers carry source block starts
    if dec[0] != sig[0]:  # pragma: no cover - guard
        raise RuntimeError(f"adpcm variant {v}: header sample mismatch")
    return {
        "variant": v,
        "wav_md5": hashlib.md5(wav).hexdigest(),
        "sample_sum": int(dec.sum(dtype=np.int64)),
        "n_frames": _ADPCM_FRAMES,
        "sample_rate": rate,
        "max_abs_err": int(
            np.abs(dec.astype(np.int64) - sig.astype(np.int64)).max()
        ),
    }


_MS_ADPCM_FRAMES = 1803  # 3 blocks of 500 + a fact-cropped tail


def _wav_ms_adpcm_variant(v: int) -> dict:
    """One deterministic MS-ADPCM WAV conversion (format tag 0x02 —
    the OTHER 4-bit WAVE codec NASA-era telephony/game assets ship,
    a named stub through r9): the bounded zigzag
    ``s(k) = ((k*(v+17)) % 1409) - 704`` is companded into a real
    MS-ADPCM container (per-block predictor/idelta/sample1/sample2
    headers, the standard 7-coefficient fmt-extension table, fact
    crop), decoded back, and DOUBLE-guarded executor-side: (a) every
    block's DECODED samples re-encode NIBBLE-EXACTLY under the block's
    own stored header state (encoder and decoder are exact inverses
    given state — the MS analogue of the IMA fixed point, which the
    header re-derivation makes unavailable here); (b) each block
    header must carry its first two source samples verbatim.  Decode
    is a sequential nonlinear state machine, so the oracle pins
    sample_sum/md5 as literals (the ADPCM precedent); non-circularity
    comes from guard (a)'s structural inversion plus the hand-walked
    golden block in test_wav_codec."""
    import struct as _struct

    from cloud_optimized_data_pipelines_spark.operators.wav_codec import (
        _ms_adpcm_encode_channel,
        decode_wav,
        encode_wav_ms_adpcm,
    )

    k = np.arange(_MS_ADPCM_FRAMES, dtype=np.int64)
    sig = (((k * (v + 17)) % 1409) - 704).astype(np.int16)
    wav = encode_wav_ms_adpcm(sig, 8000, block_samples=500)
    dec, rate = decode_wav(wav)
    dec = dec[:, 0]
    # (a) same-header nibble-exact re-encode of the decoded stream
    off = wav.find(b"data") + 8
    (dsize,) = _struct.unpack_from("<I", wav, off - 4)
    raw = wav[off : off + dsize]
    foff = wav.find(b"fmt ") + 8
    block_align = _struct.unpack_from("<HHIIHH", wav, foff)[4]
    (spb,) = _struct.unpack_from("<H", wav, foff + 18)
    for bi, lo in enumerate(range(0, len(raw), block_align)):
        blk = raw[lo : lo + block_align]
        pred = blk[0]
        (d0,) = _struct.unpack_from("<h", blk, 1)
        s1, s2 = _struct.unpack_from("<hh", blk, 3)
        dec_blk = dec[bi * spb : (bi + 1) * spb]
        if len(dec_blk) >= 2 and (dec_blk[0] != s2 or dec_blk[1] != s1):
            raise RuntimeError(  # pragma: no cover - guard
                f"ms-adpcm variant {v}: header samples mismatch"
            )
        nibs = []
        for b in blk[7:]:
            nibs += [b >> 4, b & 0x0F]
        want = nibs[: max(0, len(dec_blk) - 2)]
        got = _ms_adpcm_encode_channel(
            dec_blk.astype(np.int64), pred, d0
        )
        if got != want[: len(got)]:  # pragma: no cover - guard
            raise RuntimeError(
                f"ms-adpcm variant {v}: same-header re-encode mismatch"
            )
    return {
        "variant": v,
        "wav_md5": hashlib.md5(wav).hexdigest(),
        "sample_sum": int(dec.sum(dtype=np.int64)),
        "n_frames": _MS_ADPCM_FRAMES,
        "sample_rate": rate,
        "max_abs_err": int(
            np.abs(dec.astype(np.int64) - sig.astype(np.int64)).max()
        ),
    }


def downscale_box(arr: np.ndarray, fy: int, fx: int) -> np.ndarray:
    """Exact box-average downscale by integer factors: each (fy, fx)
    block becomes floor(block_sum / (fy*fx)).  Integer arithmetic
    end-to-end, so the result is bit-reproducible across engines and a
    SQL oracle can recompute pixel sums from the source formula.
    Dimensions must divide evenly (callers crop first; a real ingest
    pipeline pads/crops at decode time)."""
    h, w, ch = arr.shape
    if h % fy or w % fx:
        raise ValueError(f"downscale_box: {h}x{w} not divisible by {fy}x{fx}")
    blocks = arr.astype(np.int64).reshape(h // fy, fy, w // fx, fx, ch)
    means = blocks.sum(axis=(1, 3)) // (fy * fx)
    return means.astype(arr.dtype)


def decimate_frames(arr: np.ndarray, factor: int) -> np.ndarray:
    """Naive audio downsample: keep every ``factor``-th frame.  Exact
    (pure indexing — no resampling filter, so no float arithmetic);
    the anti-aliased path belongs to a real DSP lib and stays behind
    :func:`real_decode`'s stub for compressed formats."""
    return np.ascontiguousarray(arr[::factor])


RESIZED_SCHEMA = "asset_id string, payload binary, width bigint, height bigint"


def resize_images(
    assets: DataFrame,
    fy: int = 4,
    fx: int = 4,
    payload_col: str = "payload",
    id_col: str = "asset_id",
) -> DataFrame:
    """REAL image transform stage: decode PNG -> exact box downscale ->
    re-encode PNG, inside Arrow ``mapInPandas`` (the multimodal analog
    of the cogify raster stage: decode -> transform -> encode)."""
    from cloud_optimized_data_pipelines_spark.operators.png_codec import (
        decode_png,
        encode_png,
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for aid, p in zip(pdf[id_col], pdf[payload_col]):
                arr = downscale_box(decode_png(bytes(p)), fy, fx)
                rows.append(
                    {
                        "asset_id": aid,
                        "payload": bytearray(encode_png(arr)),
                        "width": arr.shape[1],
                        "height": arr.shape[0],
                    }
                )
            yield pd.DataFrame(rows)

    return assets.select(id_col, payload_col).mapInPandas(run, RESIZED_SCHEMA)


PNG_PROBE_SCHEMA = (
    "variant bigint, png_md5 string, px_sum bigint, width bigint, "
    "height bigint, channels bigint, bit_depth bigint"
)

_PROBE_H, _PROBE_W = 48, 40
# per-variant channel counts / moduli — cycled so the 8 variants cover
# gray/RGB/RGBA/gray+alpha at both bit depths
_PROBE_CHANNELS = [1, 3, 4, 1, 3, 4, 2, 2]


def _png_variant(v: int) -> dict:
    """One deterministic reference conversion: formula grid -> encode
    (filter-cycling, so all five scanline filters are in the byte
    stream) -> decode -> verify round-trip -> emit blob md5 + DECODED
    pixel statistics.  The px_sum comes from the decoded array, so a
    grader recomputing it arithmetically from the grid formula checks
    the decode path against non-circular ground truth."""
    from cloud_optimized_data_pipelines_spark.operators.png_codec import (
        decode_png,
        encode_png,
    )

    ch = _PROBE_CHANNELS[v % 8]
    bit_depth = 16 if v % 8 >= 6 else 8
    mod = 60013 if bit_depth == 16 else 251
    n = _PROBE_H * _PROBE_W * ch
    samples = (np.arange(n, dtype=np.int64) * (v + 1)) % mod
    arr = samples.reshape(_PROBE_H, _PROBE_W, ch).astype(
        np.uint16 if bit_depth == 16 else np.uint8
    )
    png = encode_png(arr, filter_cycle=True)
    dec = decode_png(png)
    if not np.array_equal(dec, arr):  # pragma: no cover - codec guard
        raise RuntimeError(f"png variant {v}: round-trip mismatch")
    return {
        "variant": v,
        "png_md5": hashlib.md5(png).hexdigest(),
        "px_sum": int(dec.sum(dtype=np.int64)),
        "width": _PROBE_W,
        "height": _PROBE_H,
        "channels": ch,
        "bit_depth": bit_depth,
    }


PNG_RESIZE_PROBE_SCHEMA = (
    "variant bigint, resized_md5 string, rx_sum bigint, width bigint, "
    "height bigint, channels bigint, bit_depth bigint"
)


def _png_resize_variant(v: int) -> dict:
    """Transform-stage reference conversion: the _png_variant raster is
    box-downscaled 4x4 (exact integer means) and re-encoded; emits the
    RESIZED blob md5 + decoded-resized pixel sum (recomputable in SQL
    as SUM(block_sum DIV 16) over the source formula — the decode +
    transform + encode chain checked against non-circular ground
    truth)."""
    from cloud_optimized_data_pipelines_spark.operators.png_codec import (
        decode_png,
        encode_png,
    )

    base = _png_variant(v)  # round-trip-verified source raster
    ch = base["channels"]
    mod = 60013 if base["bit_depth"] == 16 else 251
    n = _PROBE_H * _PROBE_W * ch
    samples = (np.arange(n, dtype=np.int64) * (v + 1)) % mod
    arr = samples.reshape(_PROBE_H, _PROBE_W, ch).astype(
        np.uint16 if base["bit_depth"] == 16 else np.uint8
    )
    resized = downscale_box(arr, 4, 4)
    rpng = encode_png(resized, filter_cycle=True)
    dec = decode_png(rpng)
    if not np.array_equal(dec, resized):  # pragma: no cover - codec guard
        raise RuntimeError(f"png resize variant {v}: round-trip mismatch")
    return {
        "variant": v,
        "resized_md5": hashlib.md5(rpng).hexdigest(),
        "rx_sum": int(dec.sum(dtype=np.int64)),
        "width": _PROBE_W // 4,
        "height": _PROBE_H // 4,
        "channels": ch,
        "bit_depth": base["bit_depth"],
    }


WAV_DOWNSAMPLE_PROBE_SCHEMA = (
    "variant bigint, down_md5 string, down_sum bigint, n_frames bigint, "
    "channels bigint, sample_rate bigint, bits bigint"
)


def _wav_downsample_variant(v: int, factor: int = 4) -> dict:
    """Audio transform-stage reference: the _wav_variant waveform
    decimated by ``factor`` (keep every factor-th frame — exact
    indexing) and re-encoded at rate/factor; emits the downsampled
    blob md5 + decoded sample sum (SQL: SUM over frames where
    frame % factor = 0)."""
    from cloud_optimized_data_pipelines_spark.operators.wav_codec import (
        decode_wav,
        encode_wav,
    )

    ch = v % 2 + 1
    bits = _WAV_BITS[v % 8]
    rate = 8000 + (v % 8) * 1000
    n = _WAV_FRAMES * ch
    k = np.arange(n, dtype=np.int64)
    if bits == 8:
        samples = ((k * (v + 1)) % 251).astype(np.uint8)
    else:
        raw = (k * (v + 1)) % 20011 - 10005
        samples = raw.astype(np.int16 if bits == 16 else np.int32)
    down = decimate_frames(samples.reshape(_WAV_FRAMES, ch), factor)
    wav = encode_wav(down, rate // factor)
    dec, drate = decode_wav(wav)
    if drate != rate // factor or not np.array_equal(dec, down):
        raise RuntimeError(  # pragma: no cover - codec guard
            f"wav downsample variant {v}: round-trip mismatch"
        )
    return {
        "variant": v,
        "down_md5": hashlib.md5(wav).hexdigest(),
        "down_sum": int(dec.sum(dtype=np.int64)),
        "n_frames": _WAV_FRAMES // factor,
        "channels": ch,
        "sample_rate": rate // factor,
        "bits": bits,
    }


PNG_PALETTE_PROBE_SCHEMA = (
    "variant bigint, png_md5 string, px_sum bigint, width bigint, "
    "height bigint, bit_depth bigint, n_palette bigint, interlaced boolean"
)

_PAL_H, _PAL_W = 24, 20
_PAL_DEPTHS = [1, 2, 4, 8, 1, 2, 4, 8]  # variants 4-7 are Adam7


def _png_palette_variant(v: int) -> dict:
    """One deterministic palette-PNG conversion (the _png_variant
    pattern) covering the round-6 codec additions: indexed color at
    bit depths 1/2/4/8, sequential for variants 0-3 and Adam7
    interlace for 4-7, filter-cycling scanlines.  Palette entry i =
    ((i*7+1)%251, (i*11+3)%251, (i*13+5)%251) and index(k) =
    (k*(v+1)) % n_palette — so the DECODED-RGB pixel sum is
    recomputable arithmetically in SQL (non-circular), while the md5
    pins the exact encoded byte stream."""
    from cloud_optimized_data_pipelines_spark.operators.png_codec import (
        decode_png,
        encode_png_palette,
    )

    depth = _PAL_DEPTHS[v % 8]
    npal = 1 << depth
    interlaced = (v % 8) >= 4
    pal = np.stack(
        [
            (np.arange(npal) * 7 + 1) % 251,
            (np.arange(npal) * 11 + 3) % 251,
            (np.arange(npal) * 13 + 5) % 251,
        ],
        axis=1,
    ).astype(np.uint8)
    idx = (
        (np.arange(_PAL_H * _PAL_W, dtype=np.int64) * (v + 1)) % npal
    ).reshape(_PAL_H, _PAL_W)
    png = encode_png_palette(
        idx, pal, bit_depth=depth, interlace=interlaced
    )
    dec = decode_png(png)
    if not np.array_equal(dec, pal[idx]):  # pragma: no cover - guard
        raise RuntimeError(f"palette variant {v}: round-trip mismatch")
    return {
        "variant": v,
        "png_md5": hashlib.md5(png).hexdigest(),
        "px_sum": int(dec.sum(dtype=np.int64)),
        "width": _PAL_W,
        "height": _PAL_H,
        "bit_depth": depth,
        "n_palette": npal,
        "interlaced": interlaced,
    }


GIF_PROBE_SCHEMA = (
    "variant bigint, gif_md5 string, sampled_px_sum bigint, "
    "n_frames bigint, n_sampled bigint, width bigint, height bigint, "
    "n_palette bigint"
)

_GIF_H, _GIF_W, _GIF_FRAMES = 20, 16, 6
_GIF_NPAL = [4, 16, 64, 256, 4, 16, 64, 256]


def _gif_variant(v: int) -> dict:
    """One deterministic ANIMATED-GIF conversion (the _png_variant
    pattern, video-shaped): 6 formula index frames are encoded as a
    real GIF89a (LZW, GCE delays, loop extension), decoded back
    through the full LZW/frame walk, round-trip verified, then FRAME
    SAMPLING (every 2nd frame — the video-pipeline decimation step)
    produces the graded statistic.  Palette entry i sums to
    ((i*7+1)%251 + (i*11+3)%251 + (i*13+5)%251) and frame f's pixel k
    has index (k*(v+1) + 7*f) % n_palette — so sampled_px_sum is
    recomputable arithmetically in SQL (GIF is lossless), while the
    md5 pins the exact encoded byte stream."""
    from cloud_optimized_data_pipelines_spark.operators.gif_codec import (
        decode_gif,
        encode_gif,
    )

    npal = _GIF_NPAL[v % 8]
    pal = np.stack(
        [
            (np.arange(npal) * 7 + 1) % 251,
            (np.arange(npal) * 11 + 3) % 251,
            (np.arange(npal) * 13 + 5) % 251,
        ],
        axis=1,
    ).astype(np.uint8)
    ks = np.arange(_GIF_H * _GIF_W, dtype=np.int64)
    frames = [
        ((ks * (v + 1) + 7 * f) % npal)
        .reshape(_GIF_H, _GIF_W)
        .astype(np.uint8)
        for f in range(_GIF_FRAMES)
    ]
    gif = encode_gif(frames, pal, delays_cs=[5 * (f + 1) for f in range(6)])
    dec, dpal, delays = decode_gif(gif)
    if len(dec) != _GIF_FRAMES or not all(
        np.array_equal(a, b) for a, b in zip(dec, frames)
    ):  # pragma: no cover - codec guard
        raise RuntimeError(f"gif variant {v}: round-trip mismatch")
    sampled = dec[::2]  # the decimate-frames step, on decoded data
    px = sum(
        int(dpal[: npal][f].sum(dtype=np.int64)) for f in sampled
    )
    return {
        "variant": v,
        "gif_md5": hashlib.md5(gif).hexdigest(),
        "sampled_px_sum": px,
        "n_frames": _GIF_FRAMES,
        "n_sampled": len(sampled),
        "width": _GIF_W,
        "height": _GIF_H,
        "n_palette": npal,
    }


def _gif_interlaced_variant(v: int) -> dict:
    """One deterministic INTERLACED-GIF conversion: the same formula
    frames as :func:`_gif_variant`, but every frame is stored in the
    GIF87a appendix E 4-pass interlace row schedule (descriptor flag
    set, rows permuted on disk).  The decoder must deinterlace back to
    the exact source frames — interlacing is transport order only — so
    the sampled statistics are IDENTICAL to the sequential probe's
    while the byte-stream md5 pins the permuted storage.  Cross-checked
    executor-side against an independent numpy deinterlace of the raw
    LZW payload, not just the codec's own round trip."""
    from cloud_optimized_data_pipelines_spark.operators.gif_codec import (
        _interlace_order,
        decode_gif,
        encode_gif_anim,
        lzw_decode,
    )

    npal = _GIF_NPAL[v % 8]
    pal = np.stack(
        [
            (np.arange(npal) * 7 + 1) % 251,
            (np.arange(npal) * 11 + 3) % 251,
            (np.arange(npal) * 13 + 5) % 251,
        ],
        axis=1,
    ).astype(np.uint8)
    ks = np.arange(_GIF_H * _GIF_W, dtype=np.int64)
    frames = [
        ((ks * (v + 1) + 7 * f) % npal)
        .reshape(_GIF_H, _GIF_W)
        .astype(np.uint8)
        for f in range(_GIF_FRAMES)
    ]
    gif = encode_gif_anim(
        (_GIF_W, _GIF_H),
        pal,
        [
            {"indices": fr, "delay": 5 * (f + 1), "interlace": True}
            for f, fr in enumerate(frames)
        ],
    )
    dec, dpal, _ = decode_gif(gif)
    if len(dec) != _GIF_FRAMES or not all(
        np.array_equal(a, b) for a, b in zip(dec, frames)
    ):  # pragma: no cover - codec guard
        raise RuntimeError(f"gif interlaced variant {v}: round-trip mismatch")
    # independent check: hand-walk the first image's LZW payload and
    # deinterlace with numpy — proves rows really are stored permuted
    pos = 13 + 3 * (2 << ((gif[10]) & 0x07))
    while gif[pos] == 0x21:  # skip extensions (NETSCAPE loop, GCE)
        pos += 2
        while gif[pos] != 0:
            pos += 1 + gif[pos]
        pos += 1
    if gif[pos] != 0x2C or not gif[pos + 9] & 0x40:  # pragma: no cover
        raise RuntimeError(f"gif interlaced variant {v}: flag not set")
    pos += 10
    min_code = gif[pos]
    pos += 1
    lzw = bytearray()
    while gif[pos] != 0:
        n = gif[pos]
        lzw += gif[pos + 1 : pos + 1 + n]
        pos += 1 + n
    stored = lzw_decode(bytes(lzw), min_code, _GIF_H * _GIF_W).reshape(
        _GIF_H, _GIF_W
    )
    if not np.array_equal(
        stored, frames[0][_interlace_order(_GIF_H)]
    ):  # pragma: no cover - codec guard
        raise RuntimeError(f"gif interlaced variant {v}: storage order wrong")
    sampled = dec[::2]
    px = sum(int(dpal[:npal][f].sum(dtype=np.int64)) for f in sampled)
    return {
        "variant": v,
        "gif_md5": hashlib.md5(gif).hexdigest(),
        "sampled_px_sum": px,
        "n_frames": _GIF_FRAMES,
        "n_sampled": len(sampled),
        "width": _GIF_W,
        "height": _GIF_H,
        "n_palette": npal,
    }


# sub-rect patch geometry for the composite probe: frame f (1..5) is a
# 6x8 patch at left=(3f)%10, top=(2f)%12; disposal per frame below.
_GIFC_RECT_W, _GIFC_RECT_H = 6, 8
_GIFC_DISPOSAL = [1, 1, 2, 3, 1, 1]
_GIFC_BG = 1


def _gifc_rect(f: int) -> tuple[int, int]:
    return (3 * f) % 10, (2 * f) % 12  # (left, top)


def _gif_composite_variant(v: int) -> dict:
    """One deterministic PARTIAL-UPDATE GIF conversion: frame 0 is a
    full-screen base (index (k*(v+1)) % npal), frames 1..5 are 6x8
    sub-rectangle patches (local pixel j -> (j*(v+2) + 11f) % npal)
    with mixed disposal methods — frame 2 restores its rect to the
    background index after display, frame 3 restores the previous
    canvas — encoded as a real GIF89a via encode_gif_anim, decoded
    through the compositing walk, verified against an independently
    composited numpy expectation, then frames {0,2,4} are sampled.
    The final sampled canvas therefore PROVES disposal semantics on
    real bytes: frame 3's patch must be absent (restore-to-previous)
    and frame 2's rect must read background (restore-to-background).
    sampled_px_sum maps each composited index through the palette
    formula — recomputable arithmetically in SQL because every
    compositing step is deterministic integer indexing on a lossless
    container."""
    from cloud_optimized_data_pipelines_spark.operators.gif_codec import (
        decode_gif,
        encode_gif_anim,
    )

    npal = _GIF_NPAL[v % 8]
    pal = np.stack(
        [
            (np.arange(npal) * 7 + 1) % 251,
            (np.arange(npal) * 11 + 3) % 251,
            (np.arange(npal) * 13 + 5) % 251,
        ],
        axis=1,
    ).astype(np.uint8)
    ks = np.arange(_GIF_H * _GIF_W, dtype=np.int64)
    base = ((ks * (v + 1)) % npal).reshape(_GIF_H, _GIF_W).astype(np.uint8)
    js = np.arange(_GIFC_RECT_H * _GIFC_RECT_W, dtype=np.int64)
    patches = {
        f: ((js * (v + 2) + 11 * f) % npal)
        .reshape(_GIFC_RECT_H, _GIFC_RECT_W)
        .astype(np.uint8)
        for f in range(1, 6)
    }
    specs = [{"indices": base, "disposal": _GIFC_DISPOSAL[0], "delay": 3}]
    for f in range(1, 6):
        left, top = _gifc_rect(f)
        specs.append(
            {
                "indices": patches[f],
                "left": left,
                "top": top,
                "disposal": _GIFC_DISPOSAL[f],
                "delay": 3 * (f + 1),
            }
        )
    gif = encode_gif_anim(
        (_GIF_W, _GIF_H), pal, specs, bg_index=_GIFC_BG
    )
    dec, dpal, _ = decode_gif(gif)

    # independent compositor straight from the formulas (not the codec)
    canvas = base.copy()
    expect = [canvas.copy()]
    for f in range(1, 6):
        left, top = _gifc_rect(f)
        before = canvas.copy() if _GIFC_DISPOSAL[f] == 3 else None
        canvas[top : top + _GIFC_RECT_H, left : left + _GIFC_RECT_W] = (
            patches[f]
        )
        expect.append(canvas.copy())
        if _GIFC_DISPOSAL[f] == 2:
            canvas[
                top : top + _GIFC_RECT_H, left : left + _GIFC_RECT_W
            ] = _GIFC_BG
        elif _GIFC_DISPOSAL[f] == 3:
            canvas = before
    if len(dec) != _GIF_FRAMES or not all(
        np.array_equal(a, b) for a, b in zip(dec, expect)
    ):  # pragma: no cover - codec guard
        raise RuntimeError(f"gif composite variant {v}: disposal mismatch")
    sampled = dec[::2]
    px = sum(
        int(dpal[:npal][f].sum(dtype=np.int64)) for f in sampled
    )
    return {
        "variant": v,
        "gif_md5": hashlib.md5(gif).hexdigest(),
        "sampled_px_sum": px,
        "n_frames": _GIF_FRAMES,
        "n_sampled": len(sampled),
        "width": _GIF_W,
        "height": _GIF_H,
        "n_palette": npal,
    }


JPEG_PROBE_SCHEMA = (
    "variant bigint, jpeg_md5 string, px_sum bigint, width bigint, "
    "height bigint, channels bigint, restart bigint"
)

_JPEG_H = _JPEG_W = 64  # 8x8 grid of 8x8 blocks


def _jpeg_variant(v: int) -> dict:
    """One deterministic JPEG reference conversion (the _png_variant
    pattern): a 64x64 image of uniform 8x8 blocks with EVEN values —
    DC-only blocks the Annex K luminance table (Q[0,0]=16) quantizes
    EXACTLY (see jpeg_codec module docstring) — encoded as a real
    baseline JFIF JPEG, decoded back through the full marker-parse ->
    Huffman -> dequant -> IDCT path, round-trip verified.

    Variants 0-3 are grayscale; 4-7 are COLOR with R=G=B (the JFIF
    transform is then exact: Y=v, Cb=Cr=128, zero chroma coefficients)
    so the 3-component interleave + chroma quant/Huffman tables are in
    the graded byte stream while staying DC-exact.  Variants 2,3,6,7
    carry DRI/RSTn restart markers (interval 2), proving the restart
    path on real bytes.  px_sum comes from the DECODED array, so a
    grader recomputing it from ``val(b) = 2*((b*(v+1)) % 113) + 14``
    (x channels) checks decode against non-circular ground truth; the
    md5 pins the exact encoded byte stream."""
    from cloud_optimized_data_pipelines_spark.operators.jpeg_codec import (
        decode_jpeg,
        encode_jpeg,
    )

    ch = 1 if v % 8 < 4 else 3
    restart = 2 if v % 4 >= 2 else 0
    gray = np.zeros((_JPEG_H, _JPEG_W), dtype=np.uint8)
    for b in range(64):
        by, bx = divmod(b, 8)
        gray[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = (
            2 * ((b * (v + 1)) % 113) + 14
        )
    arr = gray if ch == 1 else np.repeat(gray[:, :, None], 3, axis=2)
    jpg = encode_jpeg(arr, restart_interval=restart)
    dec = decode_jpeg(jpg)
    if not np.array_equal(dec, arr):  # pragma: no cover - codec guard
        raise RuntimeError(f"jpeg variant {v}: DC-exact round-trip mismatch")
    return {
        "variant": v,
        "jpeg_md5": hashlib.md5(jpg).hexdigest(),
        "px_sum": int(dec.sum(dtype=np.int64)),
        "width": _JPEG_W,
        "height": _JPEG_H,
        "channels": ch,
        "restart": restart,
    }


def _jpeg12_variant(v: int) -> dict:
    """One deterministic 12-BIT JPEG conversion (SOF1 extended
    sequential, the scientific/medical precision — a named error
    through round 8's first half): 64x64 uniform even-valued 8x8
    blocks, ``val(b) = 2*((b*(v+1) + 977*[v%8>=4]) % 2039) + 16``
    (max 4092 < 4096, spanning the full 12-bit range), DC-exact under
    Annex K Q[0,0]=16 at the 2048 level shift, encoded with the wide
    12-bit-magnitude Huffman tables, decoded back as uint16 and
    round-trip verified.  Variants 2,3,6,7 carry DRI/RSTn (interval
    2).  px_sum is recomputable arithmetically in SQL."""
    from cloud_optimized_data_pipelines_spark.operators.jpeg_codec import (
        decode_jpeg,
        encode_jpeg_12bit,
    )

    restart = 2 if v % 4 >= 2 else 0
    hi = 977 if v % 8 >= 4 else 0
    arr = np.zeros((_JPEG_H, _JPEG_W), dtype=np.uint16)
    for b in range(64):
        by, bx = divmod(b, 8)
        arr[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = (
            2 * ((b * (v + 1) + hi) % 2039) + 16
        )
    jpg = encode_jpeg_12bit(arr, restart_interval=restart)
    dec = decode_jpeg(jpg)
    if dec.dtype != np.uint16 or not np.array_equal(dec, arr):
        raise RuntimeError(  # pragma: no cover - codec guard
            f"jpeg12 variant {v}: DC-exact round-trip mismatch"
        )
    return {
        "variant": v,
        "jpeg_md5": hashlib.md5(jpg).hexdigest(),
        "px_sum": int(dec.sum(dtype=np.int64)),
        "width": _JPEG_W,
        "height": _JPEG_H,
        "channels": 1,
        "restart": restart,
    }


JPEGLL_PROBE_SCHEMA = (
    "variant bigint, jpeg_md5 string, px_sum bigint, width bigint, "
    "height bigint, bits bigint, predictor bigint"
)

_JPEGLL_HW = 32


def _jpeg_lossless_variant(v: int) -> dict:
    """One deterministic LOSSLESS JPEG conversion (SOF3, Annex H):
    ARBITRARY formula pixels ``px(k) = (k*(v+1)*7919) % 2^bits`` —
    no DC-exactness construction needed because Annex H is exact for
    any input — 8-bit for even variants, full-range 16-bit for odd,
    predictor selector cycling 1..7.  Encode -> decode -> must be
    bit-identical; px_sum recomputable arithmetically in SQL."""
    from cloud_optimized_data_pipelines_spark.operators.jpeg_codec import (
        decode_jpeg,
        encode_jpeg_lossless,
    )

    bits = 8 if v % 2 == 0 else 16
    predictor = (v % 7) + 1
    k = np.arange(_JPEGLL_HW * _JPEGLL_HW, dtype=np.int64)
    px = (k * (v + 1) * 7919) % (1 << bits)
    arr = px.reshape(_JPEGLL_HW, _JPEGLL_HW).astype(
        np.uint8 if bits == 8 else np.uint16
    )
    jpg = encode_jpeg_lossless(arr, predictor=predictor)
    dec = decode_jpeg(jpg)
    if dec.dtype != arr.dtype or not np.array_equal(dec, arr):
        raise RuntimeError(  # pragma: no cover - codec guard
            f"jpeg lossless variant {v}: not bit-exact"
        )
    return {
        "variant": v,
        "jpeg_md5": hashlib.md5(jpg).hexdigest(),
        "px_sum": int(dec.sum(dtype=np.int64)),
        "width": _JPEGLL_HW,
        "height": _JPEGLL_HW,
        "bits": bits,
        "predictor": predictor,
    }


JPEG_ARITH_PROBE_SCHEMA = (
    "variant bigint, jpeg_md5 string, px_sum bigint, width bigint, "
    "height bigint, channels bigint, saved_bytes bigint"
)


def _jpeg_arith_variant(v: int) -> dict:
    """One deterministic ARITHMETIC-coded JPEG conversion
    (operators/jpeg_arith.py — T.81 Annex D QM-coder + Annex F models,
    SOF9; a named stub through r9): the DC-exact uniform-even-block
    raster ``val(b) = 2*((b*(v+3)) % 109) + 16``, encoded with the
    arithmetic entropy coder, decoded back through the full
    QM-decode -> dequant -> IDCT path, and DOUBLE-guarded: the round
    trip must be bit-exact (DC-exact construction), and the HUFFMAN
    twin of the same image must decode to the identical array while
    the arithmetic stream is strictly smaller (the entropy win is the
    format's reason to exist; ``saved_bytes`` pins both streams'
    sizes).  Variants 0-3 grayscale; 4-7 COLOR with R=G=B (exact JFIF
    transform), 6-7 with 4:2:0 subsampling (flat chroma stays exact
    under the box filter), so the 3-component interleave and the
    subsampled MCU layout both ride the arithmetic byte stream.
    Spec-conformance of the coder itself is pinned by
    test_jpeg_arith.py's REAL-libjpeg cross-decode."""
    from cloud_optimized_data_pipelines_spark.operators.jpeg_arith import (
        decode_jpeg_arith,
        encode_jpeg_arith,
    )
    from cloud_optimized_data_pipelines_spark.operators.jpeg_codec import (
        decode_jpeg,
        encode_jpeg,
    )

    ch = 1 if v % 8 < 4 else 3
    sub = "420" if v % 8 >= 6 else "444"
    restart = 2 if v % 4 >= 2 else 0  # RSTn + full re-init mid-stream
    gray = np.zeros((_JPEG_H, _JPEG_W), dtype=np.uint8)
    for b in range(64):
        by, bx = divmod(b, 8)
        gray[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = (
            2 * ((b * (v + 3)) % 109) + 16
        )
    arr = gray if ch == 1 else np.repeat(gray[:, :, None], 3, axis=2)
    jpg = encode_jpeg_arith(arr, subsampling=sub, restart_interval=restart)
    dec = decode_jpeg_arith(jpg)
    if not np.array_equal(dec, arr):  # pragma: no cover - codec guard
        raise RuntimeError(
            f"jpeg arith variant {v}: DC-exact round-trip mismatch"
        )
    huff = (
        encode_jpeg(arr, subsampling=sub, restart_interval=restart)
        if ch == 3
        else encode_jpeg(arr, restart_interval=restart)
    )
    if not np.array_equal(decode_jpeg(huff), dec):  # pragma: no cover
        raise RuntimeError(f"jpeg arith variant {v}: huffman twin differs")
    if len(jpg) >= len(huff):  # pragma: no cover - codec guard
        raise RuntimeError(f"jpeg arith variant {v}: no entropy win")
    return {
        "variant": v,
        "jpeg_md5": hashlib.md5(jpg).hexdigest(),
        "px_sum": int(dec.sum(dtype=np.int64)),
        "width": _JPEG_W,
        "height": _JPEG_H,
        "channels": ch,
        "saved_bytes": len(huff) - len(jpg),
    }


JPEG_SUBSAMPLED_SCHEMA = (
    "variant bigint, jpeg_md5 string, px_sum bigint, width bigint, "
    "height bigint, channels bigint, restart bigint, subsampling string"
)


def _jpeg_subsampled_variant(v: int) -> dict:
    """One deterministic CHROMA-SUBSAMPLED JPEG conversion — the form
    virtually every web JPEG arrives in.  Same DC-exact construction
    as :func:`_jpeg_variant` (uniform even-valued 8x8 blocks, R=G=B so
    Y=v exactly and Cb=Cr=128): box-filter chroma downsampling of a
    CONSTANT 128 plane is exactly 128, its DCT is all-zero, and
    replication upsampling of a constant plane is exact — so the full
    4:2:0/4:2:2 MCU interleave (4 or 2 luma blocks + Cb + Cr per MCU)
    round-trips bit-exactly and px_sum stays recomputable
    arithmetically in SQL from the block formula
    val(b) = 2*((b*(v+1)) % 113) + 14 (x3 channels).  Variants 0-3 are
    4:2:0, 4-7 are 4:2:2; v%4>=2 adds DRI/RSTn restarts (interval 2),
    proving restart handling across the larger subsampled MCUs."""
    from cloud_optimized_data_pipelines_spark.operators.jpeg_codec import (
        decode_jpeg,
        encode_jpeg,
    )

    ss = "420" if v % 8 < 4 else "422"
    restart = 2 if v % 4 >= 2 else 0
    gray = np.zeros((_JPEG_H, _JPEG_W), dtype=np.uint8)
    for b in range(64):
        by, bx = divmod(b, 8)
        gray[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = (
            2 * ((b * (v + 1)) % 113) + 14
        )
    arr = np.repeat(gray[:, :, None], 3, axis=2)
    jpg = encode_jpeg(arr, restart_interval=restart, subsampling=ss)
    dec = decode_jpeg(jpg)
    if not np.array_equal(dec, arr):  # pragma: no cover - codec guard
        raise RuntimeError(
            f"jpeg subsampled variant {v}: DC-exact round-trip mismatch"
        )
    return {
        "variant": v,
        "jpeg_md5": hashlib.md5(jpg).hexdigest(),
        "px_sum": int(dec.sum(dtype=np.int64)),
        "width": _JPEG_W,
        "height": _JPEG_H,
        "channels": 3,
        "restart": restart,
        "subsampling": ss,
    }


JPEG_PROGRESSIVE_SCHEMA = (
    "variant bigint, jpeg_md5 string, px_sum bigint, width bigint, "
    "height bigint, channels bigint, n_scans bigint, subsampling string, "
    "successive boolean"
)


def _jpeg_progressive_variant(v: int) -> dict:
    """One deterministic PROGRESSIVE (SOF2) JPEG conversion — T.81
    Annex G, the second-most-common form on the real web after
    baseline 4:2:0.  Same DC-exact construction as
    :func:`_jpeg_subsampled_variant` (uniform even-valued blocks,
    R=G=B so chroma is constant 128): only DC coefficients are
    nonzero, so the AC band scans are pure cross-block EOB runs and
    the decode is bit-exact, keeping px_sum recomputable
    arithmetically in SQL from the block formula.  The variant grid
    covers grayscale + 4:4:4/4:2:0/4:2:2 color, spectral-selection-
    only vs full successive approximation (DC+AC refinement scans),
    and DRI/RSTn restarts inside progressive scans:

    =======  =====  ===========  ==========  =======
    variant  comps  subsampling  successive  restart
    =======  =====  ===========  ==========  =======
    0        1      444          no          0
    1        1      444          yes         2
    2        3      444          no          0
    3        3      444          yes         0
    4        3      420          yes         0
    5        3      420          yes         2
    6        3      422          no          0
    7        3      422          yes         0
    =======  =====  ===========  ==========  =======
    """
    from cloud_optimized_data_pipelines_spark.operators.jpeg_codec import (
        decode_jpeg,
        encode_jpeg_progressive,
    )

    gray_only = v < 2
    ss = ["444", "444", "444", "444", "420", "420", "422", "422"][v % 8]
    successive = v in (1, 3, 4, 5, 7)
    restart = 2 if v in (1, 5) else 0
    gray = np.zeros((_JPEG_H, _JPEG_W), dtype=np.uint8)
    for b in range(64):
        by, bx = divmod(b, 8)
        gray[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = (
            2 * ((b * (v + 1)) % 113) + 14
        )
    arr = gray if gray_only else np.repeat(gray[:, :, None], 3, axis=2)
    jpg = encode_jpeg_progressive(
        arr, subsampling=ss, successive=successive, restart_interval=restart
    )
    dec = decode_jpeg(jpg)
    if not np.array_equal(dec, arr):  # pragma: no cover - codec guard
        raise RuntimeError(
            f"jpeg progressive variant {v}: DC-exact round-trip mismatch"
        )
    n_scans = jpg.count(b"\xff\xda")
    return {
        "variant": v,
        "jpeg_md5": hashlib.md5(jpg).hexdigest(),
        "px_sum": int(dec.sum(dtype=np.int64)),
        "width": _JPEG_W,
        "height": _JPEG_H,
        "channels": 1 if gray_only else 3,
        "n_scans": n_scans,
        "subsampling": ss,
        "successive": successive,
    }


def extract_features(
    assets: DataFrame,
    payload_col: str = "payload",
    id_col: str = "asset_id",
    modality_col: str = "modality",
) -> DataFrame:
    """Binary payloads -> per-asset feature rows via Arrow-batched
    ``mapInPandas`` (schema-stable, tested plumbing; fake decoder)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf[payload_col]
            yield pd.DataFrame(
                {
                    "asset_id": pdf[id_col],
                    "modality": pdf[modality_col],
                    "n_bytes": [
                        len(p) if p is not None else 0 for p in payloads
                    ],
                    "sha256": [
                        hashlib.sha256(p).hexdigest() if p is not None else None
                        for p in payloads
                    ],
                    "features": [_fake_decode_features(p) for p in payloads],
                }
            )

    cols = [id_col, modality_col, payload_col]
    return assets.select(*cols).mapInPandas(run, FEATURES_SCHEMA)


def frame_sample_plan(
    assets: DataFrame,
    every_n: int = 10,
    id_col: str = "asset_id",
    n_frames_col: str = "n_frames",
) -> DataFrame:
    """Video frame sampling as a pure-column explode: one output row per
    sampled frame index (the decode of each frame then rides the
    mapInPandas path above).  Partition explosion is intentional and
    bounded by every_n."""
    idx = F.explode(
        F.sequence(F.lit(0), F.col(n_frames_col) - 1, F.lit(every_n))
    ).alias("frame_index")
    return assets.select(F.col(id_col), idx)


def payload_meta(
    df: DataFrame, payload_col: str = "payload"
) -> DataFrame:
    """Cheap byte-level metadata WITHOUT leaving the JVM: length + md5.
    Use before routing to the Python decode stage so trivially-skippable
    assets (empty, oversized, known-hash) never cross the Arrow bridge."""
    return df.withColumn("n_bytes", F.length(F.col(payload_col))).withColumn(
        "payload_md5", F.md5(F.col(payload_col))
    )


# ---------------------------------------------------------------------------
# Perceptual-hash image dedup (aHash over the real PNG codec)
# ---------------------------------------------------------------------------

PHASH_PROBE_SCHEMA = (
    "variant bigint, png_md5 string, phash_hi bigint, phash_lo bigint, "
    "px_sum bigint"
)

# 16 gray variants in 8 near-dup PAIRS: base raster b = v // 2 is the
# quadratic grid ((k+13)*(k+7b+1)) % 251 (quadratic, so bases
# decorrelate: min cross-base aHash Hamming is 22); odd variants
# perturb exactly block (0,0) by +90 mod 251 — a near-duplicate whose
# aHash is 0-2 bits away from its even sibling.  Integer-only, so the
# whole hash is recomputable arithmetically in SQL.
_PHASH_PERT = 90


def _phash_raster(v: int) -> "np.ndarray":
    b = v // 2
    k = np.arange(_PROBE_H * _PROBE_W, dtype=np.int64)
    # b // 251 decorrelates bases past the mod-251 cycle (identity for
    # every graded/tested variant, where b < 251): without it a probe
    # corpus > 502 variants contains only 251 distinct rasters and the
    # near-dup mass saturates quadratically with TRUE duplicates
    s = ((k + 13 + b // 251) * (k + 7 * b + 1)) % 251
    if v % 2:
        r, c = np.divmod(k, _PROBE_W)
        mask = (r < _PROBE_H // 8) & (c < _PROBE_W // 8)
        s = np.where(mask, (s + _PHASH_PERT) % 251, s)
    return s.reshape(_PROBE_H, _PROBE_W).astype(np.uint8)


def ahash64(gray: "np.ndarray") -> tuple[int, int]:
    """64-bit average hash (the classic aHash: 8x8 block means
    thresholded at the global mean), integer-exact: with equal-size
    blocks, block_mean >= global_mean iff block_sum * 64 >= total —
    no float ever, so engine and oracle agree bit for bit.  Returned
    as two nonnegative 32-bit words (BIGINT-safe: no sign-bit
    ambiguity in banding or XOR)."""
    h, w = gray.shape
    bh, bw = h // 8, w // 8
    a = gray.astype(np.int64)
    total = int(a.sum())
    bits = 0
    for i in range(8):
        for j in range(8):
            bs = int(a[i * bh:(i + 1) * bh, j * bw:(j + 1) * bw].sum())
            bits = (bits << 1) | (1 if bs * 64 >= total else 0)
    return bits >> 32, bits & 0xFFFFFFFF


def _phash_variant(v: int) -> dict:
    """Reference conversion for one image: formula raster -> REAL PNG
    encode (filter-cycling) -> decode -> round-trip verify -> aHash of
    the DECODED pixels.  The hash is computed from what came BACK from
    the codec, so an oracle recomputing it from the grid formula
    checks the full encode->decode chain against non-circular ground
    truth (the _png_variant pattern)."""
    from cloud_optimized_data_pipelines_spark.operators.png_codec import (
        decode_png,
        encode_png,
    )

    arr = _phash_raster(v)
    png = encode_png(arr.reshape(_PROBE_H, _PROBE_W, 1), filter_cycle=True)
    dec = decode_png(png)
    if not np.array_equal(dec.reshape(_PROBE_H, _PROBE_W), arr):
        raise RuntimeError(f"phash variant {v}: round-trip mismatch")
    hi, lo = ahash64(dec.reshape(_PROBE_H, _PROBE_W))
    return {
        "variant": v,
        "png_md5": hashlib.md5(png).hexdigest(),
        "phash_hi": hi,
        "phash_lo": lo,
        "px_sum": int(dec.sum(dtype=np.int64)),
    }


def image_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    hi_col: str = "phash_hi",
    lo_col: str = "phash_lo",
    max_hamming: int = 3,
) -> DataFrame:
    """Near-duplicate image pairs by banded aHash Hamming join — the
    image-side twin of the 60-bit simhash text path: 4 bands of 16
    bits as the equi-join key (pigeonhole: any pair within Hamming 3
    of 64 bits shares at least one untouched band, so blocking is
    COMPLETE at the default threshold), exact popcount verify after.
    The join input is (id, two BIGINT words): at corpus scale the
    candidate set is collision-bound, never all-pairs.

    Completeness bound: with 4 bands the pigeonhole guarantee holds
    only for ``max_hamming <= 3`` (bands - 1) — a larger threshold
    could flip one bit in every band and the pair would never share an
    equi-join key, silently dropping it.  Rather than return an
    incomplete pair set, thresholds past the bound are rejected."""
    if max_hamming > 3:
        raise ValueError(
            f"max_hamming={max_hamming} exceeds the 4-band pigeonhole "
            "completeness bound (3); use more/narrower bands for a "
            "looser threshold"
        )
    hi, lo = F.col(hi_col), F.col(lo_col)
    bands = F.array(
        F.shiftright(hi, 16).bitwiseAND(F.lit(0xFFFF)),
        hi.bitwiseAND(F.lit(0xFFFF)),
        F.shiftright(lo, 16).bitwiseAND(F.lit(0xFFFF)),
        lo.bitwiseAND(F.lit(0xFFFF)),
    )
    b = df.select(
        F.col(id_col).alias("id"),
        hi.alias("_hi"),
        lo.alias("_lo"),
        F.posexplode(bands).alias("band", "val"),
    )
    left, right = b.alias("l"), b.alias("r")
    ham = F.bit_count(
        F.col("l._hi").bitwiseXOR(F.col("r._hi"))
    ) + F.bit_count(F.col("l._lo").bitwiseXOR(F.col("r._lo")))
    return (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.val") == F.col("r.val"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            ham.cast("long").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


# ---------------------------------------------------------------------------
# Audio fingerprint near-dup (energy hash over the real WAV codec)
# ---------------------------------------------------------------------------

AFP_PROBE_SCHEMA = (
    "variant bigint, wav_md5 string, afp_hi bigint, afp_lo bigint, "
    "abs_sum bigint"
)

_AFP_SAMPLES = 1024  # mono int16; 64 windows x 16 samples
_AFP_PERT = 800


def _afp_samples(v: int) -> "np.ndarray":
    """16 mono waveforms in 8 near-dup pairs: base b = v // 2 is the
    quadratic grid ((k+11)(k+5b+3)) % 20011 - 10005 (bases decorrelate:
    min cross-base fingerprint Hamming is 14); odd variants shift the
    FIRST 16-sample window by +800 mod 20011 — an overdub-sized edit
    whose energy hash stays 0-2 bits from its even sibling."""
    b = v // 2
    k = np.arange(_AFP_SAMPLES, dtype=np.int64)
    m = ((k + 11) * (k + 5 * b + 3)) % 20011
    if v % 2:
        m = np.where(k < 16, (m + _AFP_PERT) % 20011, m)
    return (m - 10005).astype(np.int16)


def energy_hash64(samples: "np.ndarray") -> tuple[int, int]:
    """64-bit audio fingerprint: 64 equal windows, bit = window
    abs-energy >= global mean — the 1-D twin of :func:`ahash64`,
    integer-exact (window_sum * 64 vs total), so engine and oracle
    agree bit for bit."""
    a = np.abs(samples.astype(np.int64))
    n = a.shape[0]
    w = n // 64
    total = int(a.sum())
    bits = 0
    for i in range(64):
        e = int(a[i * w:(i + 1) * w].sum())
        bits = (bits << 1) | (1 if e * 64 >= total else 0)
    return bits >> 32, bits & 0xFFFFFFFF


def _afp_variant(v: int) -> dict:
    """Reference conversion: formula waveform -> REAL RIFF/WAVE encode
    -> decode -> round-trip verify -> energy hash of the DECODED
    samples (the _phash_variant pattern: an oracle recomputing the
    hash from the sample formula checks the codec chain against
    non-circular ground truth)."""
    from cloud_optimized_data_pipelines_spark.operators.wav_codec import (
        decode_wav,
        encode_wav,
    )

    s = _afp_samples(v)
    wav = encode_wav(s.reshape(_AFP_SAMPLES, 1), 16000)
    dec, rate = decode_wav(wav)
    if rate != 16000 or not np.array_equal(dec.reshape(-1), s):
        raise RuntimeError(f"afp variant {v}: round-trip mismatch")
    hi, lo = energy_hash64(dec.reshape(-1))
    return {
        "variant": v,
        "wav_md5": hashlib.md5(wav).hexdigest(),
        "afp_hi": hi,
        "afp_lo": lo,
        "abs_sum": int(np.abs(dec.astype(np.int64)).sum()),
    }


# ---------------------------------------------------------------------------
# Video fingerprint near-dup (temporal-mean aHash over the real AVI codec)
# ---------------------------------------------------------------------------

VFP_PROBE_SCHEMA = (
    "variant bigint, avi_md5 string, vfp_hi bigint, vfp_lo bigint, "
    "n_frames bigint"
)

_VFP_FRAMES = 4
_VFP_PERT = 200


def _vfp_frames(v: int) -> list["np.ndarray"]:
    """16 four-frame videos in 8 near-dup pairs: base b = v // 2 is
    the quadratic gray grid ((k+13)(k+7b+1) + 31f) % 251 per frame f,
    replicated into RGB; odd variants perturb frame 2's block (0,0)
    by +200 mod 251 — a one-frame edit whose temporal-mean aHash
    stays 0-1 bits from its even sibling (min cross-base Hamming 19)."""
    b = v // 2
    k = np.arange(_PROBE_H * _PROBE_W, dtype=np.int64)
    r, c = np.divmod(k, _PROBE_W)
    frames = []
    for f in range(_VFP_FRAMES):
        # b // 251 term: see _phash_raster (identity for b < 251)
        m = ((k + 13 + b // 251) * (k + 7 * b + 1) + 31 * f) % 251
        if v % 2 and f == 2:
            mask = (r < _PROBE_H // 8) & (c < _PROBE_W // 8)
            m = np.where(mask, (m + _VFP_PERT) % 251, m)
        gray = m.reshape(_PROBE_H, _PROBE_W).astype(np.uint8)
        frames.append(np.stack([gray] * 3, axis=2))
    return frames


def _vfp_variant(v: int) -> dict:
    """Reference conversion: formula frames -> REAL AVI container
    (uncompressed DIB stream, idx1 index) -> container+frame decode ->
    round-trip verify -> aHash of the INTEGER SUM image over the
    decoded frames' gray channel (temporal mean without the division —
    equal-count frames make sum-thresholding identical to
    mean-thresholding, and integers keep the oracle exact)."""
    from cloud_optimized_data_pipelines_spark.operators.avi_codec import (
        decode_avi,
        encode_avi,
    )

    frames = _vfp_frames(v)
    avi = encode_avi(frames, fps=12, codec="raw")
    dec, fps = decode_avi(avi)
    if fps != 12 or len(dec) != _VFP_FRAMES or not all(
        np.array_equal(a, b) for a, b in zip(frames, dec)
    ):
        raise RuntimeError(f"vfp variant {v}: round-trip mismatch")
    acc = np.zeros((_PROBE_H, _PROBE_W), dtype=np.int64)
    for f in dec:
        acc += f[:, :, 0].astype(np.int64)
    hi, lo = ahash64(acc)
    return {
        "variant": v,
        "avi_md5": hashlib.md5(avi).hexdigest(),
        "vfp_hi": hi,
        "vfp_lo": lo,
        "n_frames": _VFP_FRAMES,
    }


# ---------------------------------------------------------------------------
# Scale-adaptive banded-Hamming near-dup (VERDICT r10 "What's wrong #1")
# ---------------------------------------------------------------------------
#
# The fixed 4x16-bit band scheme above is complete at Hamming <= 3 but
# its candidate mass grows ~n^2/2^16 per band — fine at probe scale, a
# cliff at crawl scale (SCALE.md r10 decade probe).  At a FIXED
# absolute threshold h the cure is NOT narrower bands (pigeonhole caps
# bands at >= h+1, i.e. width <= total_bits/(h+1)); it is a LONGER
# fingerprint: more 60-bit words buy wider bands at the same h, exactly
# the text side's 60-bit -> 120-bit wide-simhash move.  band_geometry
# derives (words, bands, width) from the corpus size with an integer
# threshold ladder (no log/float anywhere, so a SQL oracle replicates
# it bit-for-bit), and banded_hamming_pairs is the modality-agnostic
# join all wide fingerprints share.

_WIDE_GRIDS = {1: (6, 10), 2: (12, 10), 4: (12, 20), 8: (24, 20)}
_PHASH_WIDE_PERT_ROWS = 4
_PHASH_WIDE_PERT_COLS = 4


def band_geometry(
    n_items: int,
    max_hamming: int = 3,
    bits_per_word: int = 60,
    margin: int = 8,
    max_words: int = 8,
) -> tuple[int, int, int]:
    """Derive (words, num_bands, width) for a banded-Hamming join from
    the corpus size.

    Rule (all-integer, so an oracle can replay it in SQL exactly):
    ``width`` is the smallest divisor of ``bits_per_word`` (>= 10) with
    ``n_items <= 2**(width - margin)`` — expected random collisions per
    item per band stay under ``2**-margin`` — capped at
    ``bits_per_word``; ``words = ceil((max_hamming+1) / (bits_per_word
    // width))`` so the pigeonhole floor ``num_bands >= max_hamming+1``
    holds (any pair within ``max_hamming`` differing bits leaves at
    least one band untouched -> blocking stays COMPLETE).  Fingerprints
    must then be ``words * bits_per_word`` bits long: scale buys wider
    bands through LONGER fingerprints, never through losing recall.

    For 60-bit words the ladder is width 10/12/15/20/30/60 at n <=
    4 / 16 / 128 / 4096 / ~4.2M / beyond (margin 8)."""
    if max_hamming < 0 or n_items < 0:
        raise ValueError("band_geometry: negative input")
    widths = [
        d for d in range(10, bits_per_word + 1) if bits_per_word % d == 0
    ]
    width = bits_per_word
    for d in widths:
        if n_items <= (1 << max(0, d - margin)):
            width = d
            break
    bands_per_word = bits_per_word // width
    words = -(-(max_hamming + 1) // bands_per_word)  # ceil div
    if words > max_words:
        raise ValueError(
            f"band_geometry: (n={n_items}, h={max_hamming}) needs "
            f"{words} x {bits_per_word}-bit words (> max_words="
            f"{max_words}); widen max_words or lower the threshold"
        )
    return words, words * bands_per_word, width


def ahash_wide(
    gray: "np.ndarray", rows: int, cols: int, bits_per_word: int = 60
) -> list[int]:
    """rows x cols block-mean average hash packed into
    ``rows*cols/bits_per_word`` nonnegative BIGINT words (MSB-first
    within each word, block row-major across words) — integer-exact
    like :func:`ahash64`: bit = block_sum * n_blocks >= total."""
    h, w = gray.shape
    nb = rows * cols
    if h % rows or w % cols:
        raise ValueError(
            f"ahash_wide: {h}x{w} image not divisible into "
            f"{rows}x{cols} blocks"
        )
    if nb % bits_per_word:
        raise ValueError("ahash_wide: grid must fill whole words")
    bh, bw = h // rows, w // cols
    a = gray.astype(np.int64)
    total = int(a.sum())
    # vectorized block sums (row-major)
    bs = a.reshape(rows, bh, cols, bw).sum(axis=(1, 3)).reshape(-1)
    bits = (bs * nb >= total).astype(np.int64)
    words = []
    for j in range(nb // bits_per_word):
        word = 0
        for t in range(bits_per_word):
            word = (word << 1) | int(bits[j * bits_per_word + t])
        words.append(word)
    return words


def _phash_wide_raster(v: int) -> "np.ndarray":
    """Same quadratic grid as :func:`_phash_raster`, but the odd-
    variant perturbation covers only rows<4 x cols<4: at the 6x10 and
    12x10 grids (words 1-2, the geometry for every n <= ~4.2M) it
    touches at most one block and measured pair Hammings are 0-2 —
    within the h=3 gate.  Finer grids (words >= 4) see secondary flips
    from the global-mean shift (threshold-marginal blocks elsewhere),
    so engineered-pair recall is only asserted for words <= 2."""
    b = v // 2
    k = np.arange(_PROBE_H * _PROBE_W, dtype=np.int64)
    s = ((k + 13 + b // 251) * (k + 7 * b + 1)) % 251
    if v % 2:
        r, c = np.divmod(k, _PROBE_W)
        mask = (r < _PHASH_WIDE_PERT_ROWS) & (c < _PHASH_WIDE_PERT_COLS)
        s = np.where(mask, (s + _PHASH_PERT) % 251, s)
    return s.reshape(_PROBE_H, _PROBE_W).astype(np.uint8)


PHASH_WIDE_PROBE_SCHEMA = (
    "variant bigint, png_md5 string, fp array<bigint>, px_sum bigint"
)


def _phash_wide_variant(
    v: int, rows: int, cols: int, real_bytes: bool = True
) -> dict:
    """Reference conversion (the :func:`_phash_variant` pattern): raster
    -> REAL PNG encode -> decode -> round-trip verify -> wide aHash of
    the DECODED pixels, so an oracle recomputing the hash from the grid
    formula checks the whole codec chain non-circularly.  ``rows`` x
    ``cols`` is the block grid (``_WIDE_GRIDS[words]``).
    ``real_bytes=False`` skips the PNG round trip (formula -> hash
    directly) — the scale-probe path, where the join is under test,
    not the codec."""
    from cloud_optimized_data_pipelines_spark.operators.png_codec import (
        decode_png,
        encode_png,
    )

    arr = _phash_wide_raster(v)
    if not real_bytes:
        return {
            "variant": v,
            "png_md5": None,
            "fp": ahash_wide(arr, rows, cols),
            "px_sum": int(arr.sum(dtype=np.int64)),
        }
    png = encode_png(arr.reshape(_PROBE_H, _PROBE_W, 1), filter_cycle=True)
    dec = decode_png(png).reshape(_PROBE_H, _PROBE_W)
    if not np.array_equal(dec, arr):
        raise RuntimeError(f"phash-wide variant {v}: round-trip mismatch")
    return {
        "variant": v,
        "png_md5": hashlib.md5(png).hexdigest(),
        "fp": ahash_wide(dec, rows, cols),
        "px_sum": int(dec.sum(dtype=np.int64)),
    }


def banded_hamming_pairs(
    fps: DataFrame,
    id_col: str,
    fp_col: str = "fp",
    num_bands: int = 4,
    width: int = 30,
    max_hamming: int = 3,
    bits_per_word: int = 60,
) -> DataFrame:
    """Modality-agnostic banded-Hamming near-dup join over an
    ``array<bigint>`` fingerprint column — the shared scale path for
    image/audio/video wide fingerprints (use :func:`band_geometry` for
    the (bands, width) choice; the text twin is
    ``dedup.simhash_wide_near_dup_pairs``).

    Shape: explode n x num_bands (id, band, val) rows, equi-join on
    (band, val), popcount-verify INSIDE the join stage (the hamming
    filter runs before the pair `distinct`, so only true near-dups
    reach a shuffle), pigeonhole-complete for ``max_hamming <
    num_bands``.  Candidates per item per band ~ n/2^width — bounded
    by construction when the geometry came from band_geometry."""
    if max_hamming >= num_bands:
        raise ValueError(
            "banded_hamming_pairs: pigeonhole completeness needs "
            "max_hamming < num_bands"
        )
    if bits_per_word % width:
        raise ValueError("width must divide bits_per_word")
    bands_per_word = bits_per_word // width
    if num_bands % bands_per_word:
        raise ValueError("num_bands must fill whole words")
    words = num_bands // bands_per_word
    mask = (1 << width) - 1
    banded = fps.select(
        F.col(id_col).alias("id"),
        F.col(fp_col).alias("_fp"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(wd * bands_per_word + b).alias("band"),
                        F.shiftright(F.col(fp_col)[wd], b * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("val"),
                    )
                    for wd in range(words)
                    for b in range(bands_per_word)
                ]
            )
        ).alias("bv"),
    ).select("id", "_fp", "bv.band", "bv.val")
    a, b = banded.alias("a"), banded.alias("b")
    ham = F.aggregate(
        F.zip_with(
            F.col("a._fp"),
            F.col("b._fp"),
            lambda x, y: F.bit_count(x.bitwiseXOR(y)).cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, h_: acc + h_,
    )
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            ham.cast("long").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


# ---------------------------------------------------------------------------
# MPEG-1 Layer II probe (real-bytes, operators/mpeg_audio.py)
# ---------------------------------------------------------------------------

MP2_PROBE_SCHEMA = (
    "variant bigint, mp2_md5 string, n_frames bigint, bitrate bigint, "
    "sample_rate bigint, code_sum bigint, scf_sum bigint, e9_sum bigint"
)

_MP2_FRAMES = 2


def _mp2_alloc() -> "np.ndarray":
    """The deterministic CBR allocation profile used by the graded
    probe (the encode_mp2 default): fits 192 kbps/44.1 kHz with all 27
    subbands active."""
    a = np.zeros(27, np.int64)
    a[:3] = 8
    a[3:11] = 6
    a[11:23] = 4
    a[23:27] = 1
    return a


def _mp2_levels(sb: int) -> int:
    if sb < 3:
        return 511
    if sb < 11:
        return 31
    if sb < 23:
        return 9
    return 3


def _half_away(x: float) -> int:
    """round-half-away-from-zero (matches DuckDB/Spark round, NOT
    python's banker's round)."""
    import math

    return int(math.floor(x + 0.5)) if x >= 0 else int(math.ceil(x - 0.5))


def _mp2_sf9() -> list[int]:
    """Integer-scaled Table B.1 scalefactors (x1e6) — shared verbatim
    by engine and oracle so no libm pow enters the compared values."""
    from cloud_optimized_data_pipelines_spark.operators.mpeg_audio import (
        SCALEFACTORS,
    )

    return [_half_away(s * 1e6) for s in SCALEFACTORS]


def _mp2_codes(v: int, sb: int, t: int) -> int:
    """Integer code formula: 16 variants in 8 near-dup pairs — base
    b = v // 2, odd variants shift subband 0's first 3 samples by +1
    (an overdub-sized compressed-domain edit)."""
    lv = _mp2_levels(sb)
    b = v // 2
    c = ((t + 3 * sb + 7 * b + 1) * (sb + t + 2) + b) % lv
    if v % 2 and sb == 0 and t < 3:
        c = (c + 1) % lv
    return c


def _mp2_scf(v: int, sb: int, p: int, fr: int) -> int:
    """(sb+5)*b decorrelates the scalefactor profile across bases:
    min cross-base fingerprint Hamming is 45 (siblings stay 0 — the
    odd-variant edit touches codes, not scalefactors)."""
    return (2 * sb + p + 3 * fr + (sb + 5) * (v // 2)) % 63


def _mp2_variant(v: int) -> dict:
    """Reference conversion: formula codes -> REAL Layer II frames
    (spec syntax: header, B.2a allocation, scfsi, scalefactors,
    grouped triplets) -> full bitstream parse back -> code/scf/alloc
    verified EXACT executor-side -> integer aggregates from the PARSED
    values (non-circular vs a formula-replaying oracle).  e9_sum uses
    the collapsed dequant identity s'' = sf * (2*code - levels + 1) /
    levels (algebraically equal to the Table B.4 c/d form), with
    Table B.1 integer-scaled so no libm pow is compared."""
    from cloud_optimized_data_pipelines_spark.operators.mpeg_audio import (
        decode_frame_subbands,
        encode_frame_l2_codes,
        iter_frames,
    )

    alloc = _mp2_alloc()
    sf9 = _mp2_sf9()
    frames = []
    for fr in range(_MP2_FRAMES):
        codes = np.zeros((27, 36), np.int64)
        scf = np.zeros((27, 3), np.int64)
        for sb in range(27):
            for t36 in range(36):
                codes[sb, t36] = _mp2_codes(v, sb, fr * 36 + t36)
            for p in range(3):
                scf[sb, p] = _mp2_scf(v, sb, p, fr)
        frames.append(encode_frame_l2_codes(codes, alloc, scf))
    mp2 = b"".join(frames)
    code_sum = 0
    scf_sum = 0
    e9_sum = 0
    n_frames = 0
    for off, hdr in iter_frames(mp2):
        _sb, hdr, codes2, scf2, alloc2 = decode_frame_subbands(mp2, off)
        if not np.array_equal(alloc2[0], alloc):
            raise RuntimeError(f"mp2 variant {v}: allocation mismatch")
        fr = n_frames
        for sb in range(27):
            lv = _mp2_levels(sb)
            for t36 in range(36):
                c = int(codes2[0, sb, t36])
                if c != _mp2_codes(v, sb, fr * 36 + t36):
                    raise RuntimeError(
                        f"mp2 variant {v}: code round-trip mismatch"
                    )
                idx = int(scf2[0, sb, t36 // 12])
                code_sum += c
                e9_sum += _half_away(
                    (2 * c - lv + 1) * sf9[idx] / lv
                )
            for p in range(3):
                scf_sum += int(scf2[0, sb, p])
        n_frames += 1
    return {
        "variant": v,
        "mp2_md5": hashlib.md5(mp2).hexdigest(),
        "n_frames": n_frames,
        "bitrate": 192000,
        "sample_rate": 44100,
        "code_sum": code_sum,
        "scf_sum": scf_sum,
        "e9_sum": e9_sum,
    }


MP2_SCF_FP_SCHEMA = "variant bigint, mp2_md5 string, fp array<bigint>"


def _mp2_scf_fp_variant(v: int) -> dict:
    """Compressed-domain audio fingerprint: 120 bits from the PARSED
    scalefactor indices of the variant's real Layer II frames (bit i =
    scf(sb=i//6, part) < 31 over subbands 0-19 x 6 parts), packed into
    two 60-bit words like :func:`ahash_wide`.  No synthesis anywhere —
    the 100 TB audio near-dup path reads scalefactors straight off the
    frame headers (~1 % of the stream bytes) and never runs a
    filterbank."""
    from cloud_optimized_data_pipelines_spark.operators.mpeg_audio import (
        decode_frame_subbands,
        encode_frame_l2_codes,
        iter_frames,
    )

    alloc = _mp2_alloc()
    frames = []
    for fr in range(_MP2_FRAMES):
        codes = np.zeros((27, 36), np.int64)
        scf = np.zeros((27, 3), np.int64)
        for sb in range(27):
            for t36 in range(36):
                codes[sb, t36] = _mp2_codes(v, sb, fr * 36 + t36)
            for p in range(3):
                scf[sb, p] = _mp2_scf(v, sb, p, fr)
        frames.append(encode_frame_l2_codes(codes, alloc, scf))
    mp2 = b"".join(frames)
    scf_parsed = []
    for off, _hdr in iter_frames(mp2):
        _sb, _h, _codes, scf2, _alloc = decode_frame_subbands(mp2, off)
        scf_parsed.append(scf2[0])  # (27, 3)
    bits = []
    for i in range(120):
        sb, k = divmod(i, 6)
        fr, p = divmod(k, 3)
        bits.append(1 if int(scf_parsed[fr][sb, p]) < 31 else 0)
    words = []
    for j in range(2):
        word = 0
        for t in range(60):
            word = (word << 1) | bits[j * 60 + t]
        words.append(word)
    return {
        "variant": v,
        "mp2_md5": hashlib.md5(mp2).hexdigest(),
        "fp": words,
    }


JPEG_ARITH_PROG_PROBE_SCHEMA = (
    "variant bigint, jpeg_md5 string, px_sum bigint, width bigint, "
    "height bigint, channels bigint, n_scans bigint, delta_vs_seq bigint"
)


def _jpeg_arith_prog_variant(v: int) -> dict:
    """One deterministic PROGRESSIVE arithmetic JPEG conversion
    (operators/jpeg_arith.py::encode_jpeg_arith_progressive — T.81
    Annex G scans over the Annex D QM-coder, SOF10; completes the
    T.81 encode matrix).  Same DC-exact raster as the SOF9 probe, so
    decode == source by construction; DOUBLE-guarded executor-side:
    the progressive decode must be bit-exact AND identical to the
    SOF9 sequential twin's decode (same quantized coefficients,
    different scan script).  Variants 0-3 grayscale (6 scans), 4-7
    color 4:4:4 (14 scans).  libjpeg independently cross-decodes SOF10
    files in test_jpeg_arith.py."""
    from cloud_optimized_data_pipelines_spark.operators.jpeg_arith import (
        _default_scan_script,
        decode_jpeg_arith,
        encode_jpeg_arith,
        encode_jpeg_arith_progressive,
    )

    ch = 1 if v % 8 < 4 else 3
    gray = np.zeros((_JPEG_H, _JPEG_W), dtype=np.uint8)
    for b in range(64):
        by, bx = divmod(b, 8)
        gray[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = (
            2 * ((b * (v + 3)) % 109) + 16
        )
    arr = gray if ch == 1 else np.repeat(gray[:, :, None], 3, axis=2)
    pro = encode_jpeg_arith_progressive(arr)
    dec = decode_jpeg_arith(pro)
    if not np.array_equal(dec, arr):  # pragma: no cover - codec guard
        raise RuntimeError(
            f"jpeg arith-prog variant {v}: round-trip mismatch"
        )
    seq = encode_jpeg_arith(arr)
    if not np.array_equal(decode_jpeg_arith(seq), dec):  # pragma: no cover
        raise RuntimeError(
            f"jpeg arith-prog variant {v}: sequential twin differs"
        )
    return {
        "variant": v,
        "jpeg_md5": hashlib.md5(pro).hexdigest(),
        "px_sum": int(dec.sum(dtype=np.int64)),
        "width": _JPEG_W,
        "height": _JPEG_H,
        "channels": ch,
        "n_scans": len(_default_scan_script(ch)),
        "delta_vs_seq": len(pro) - len(seq),
    }


# ---------------------------------------------------------------------------
# MP4 container + MPEG stream-walk probes (r11)
# ---------------------------------------------------------------------------

MP4_PROBE_SCHEMA = (
    "variant bigint, mp4_md5 string, brand string, n_samples bigint, "
    "width bigint, height bigint, duration bigint, "
    "sample_bytes_sum bigint, payload_sum bigint"
)


def _mp4_sample(v: int, i: int) -> bytes:
    sz = 20 + ((v + i) % 9) * 3
    return bytes((v * 31 + i * 7 + j * 3) % 251 for j in range(sz))


def _mp4_variant(v: int) -> dict:
    """One deterministic MP4 container round trip (operators/
    mp4_codec.py — ISO/IEC 14496-12 box walk + sample tables): formula
    payloads packed under a real ftyp/mdat/moov layout (uneven final
    chunk exercises the stsc run resolution), parsed back, and the
    extracted samples verified BYTE-EXACT against the formula on the
    executor; payload_sum comes from the EXTRACTED bytes, so an oracle
    recomputing it arithmetically checks the whole stsc/stco/stsz
    resolution non-circularly."""
    from cloud_optimized_data_pipelines_spark.operators.mp4_codec import (
        encode_mp4,
        extract_samples,
        parse_mp4,
    )

    n = 8 + v % 5
    samples = [_mp4_sample(v, i) for i in range(n)]
    mp4 = encode_mp4(
        samples,
        timescale=90_000,
        sample_delta=3_000 + v,
        width=64 + v,
        height=48,
        samples_per_chunk=4,
    )
    info = parse_mp4(mp4)
    (tr,) = info["tracks"]
    got = extract_samples(mp4, tr)
    if got != samples:  # pragma: no cover - codec guard
        raise RuntimeError(f"mp4 variant {v}: sample round-trip mismatch")
    return {
        "variant": v,
        "mp4_md5": hashlib.md5(mp4).hexdigest(),
        "brand": info["brand"],
        "n_samples": tr["n_samples"],
        "width": tr["width"],
        "height": tr["height"],
        "duration": tr["duration"],
        "sample_bytes_sum": sum(tr["sample_sizes"]),
        "payload_sum": sum(sum(s) for s in got),
    }


MPEG_STREAM_PROBE_SCHEMA = (
    "variant bigint, mpeg_md5 string, n_frames bigint, "
    "total_samples bigint, duration_ms bigint, is_vbr boolean, "
    "n_bitrates bigint, min_bitrate bigint, max_bitrate bigint, "
    "stream_bytes bigint"
)


def _mpeg_stream_variant(v: int) -> dict:
    """One deterministic MPEG stream walk (operators/mpeg_audio.py::
    stream_info — the compressed-domain metadata pass that works for
    Layer III crawl MP3s exactly as for I/II): fa 192 kbps Layer II
    frames followed by fb 256 kbps frames (fb > 0 = a VBR stream),
    real frames from formula codes, walked back by stream_info; every
    output is integer-derivable so the oracle replays the frame-size
    arithmetic non-circularly."""
    from cloud_optimized_data_pipelines_spark.operators.mpeg_audio import (
        encode_frame_l2_codes,
        stream_info,
    )

    alloc = _mp2_alloc()
    fa = 2 + v % 3
    fb = v % 2
    frames = []
    for k, br in [(i, 192) for i in range(fa)] + [
        (fa + i, 256) for i in range(fb)
    ]:
        codes = np.zeros((27, 36), np.int64)
        scf = np.zeros((27, 3), np.int64)
        for sb in range(27):
            for t36 in range(36):
                codes[sb, t36] = _mp2_codes(v, sb, (k * 36 + t36) % 72)
            for p in range(3):
                scf[sb, p] = _mp2_scf(v, sb, p, k % 2)
        frames.append(
            encode_frame_l2_codes(codes, alloc, scf, 44100, br)
        )
    mpeg = b"".join(frames)
    info = stream_info(mpeg)
    if info["n_frames"] != fa + fb or info["truncated"]:
        raise RuntimeError(f"mpeg stream variant {v}: walk mismatch")
    return {
        "variant": v,
        "mpeg_md5": hashlib.md5(mpeg).hexdigest(),
        "n_frames": info["n_frames"],
        "total_samples": info["total_samples"],
        "duration_ms": info["duration_ms"],
        "is_vbr": info["is_vbr"],
        "n_bitrates": info["n_bitrates"],
        "min_bitrate": info["min_bitrate"],
        "max_bitrate": info["max_bitrate"],
        "stream_bytes": info["stream_bytes"],
    }


VFP_WIDE_PROBE_SCHEMA = (
    "variant bigint, avi_md5 string, fp array<bigint>, acc_sum bigint"
)


def _vfp_wide_frames(v: int) -> list["np.ndarray"]:
    """The :func:`_vfp_frames` grid with the WIDE perturbation region
    (rows<4 x cols<4, like :func:`_phash_wide_raster`): at the 12x10
    grid (words=2, the ladder geometry for every SF corpus) measured
    sibling Hammings are 0-3 — inside the h=3 gate — with min
    cross-base 44."""
    b = v // 2
    k = np.arange(_PROBE_H * _PROBE_W, dtype=np.int64)
    r, c = np.divmod(k, _PROBE_W)
    frames = []
    for f in range(_VFP_FRAMES):
        m = ((k + 13 + b // 251) * (k + 7 * b + 1) + 31 * f) % 251
        if v % 2 and f == 2:
            mask = (r < 4) & (c < 4)
            m = np.where(mask, (m + _VFP_PERT) % 251, m)
        gray = m.reshape(_PROBE_H, _PROBE_W).astype(np.uint8)
        frames.append(np.stack([gray] * 3, axis=2))
    return frames


def _vfp_wide_variant(v: int, words: int) -> dict:
    """Real AVI round trip -> temporal-SUM image -> wide aHash (the
    _vfp_variant pattern at the adaptive geometry)."""
    from cloud_optimized_data_pipelines_spark.operators.avi_codec import (
        decode_avi,
        encode_avi,
    )

    rows, cols = _WIDE_GRIDS[words]
    frames = _vfp_wide_frames(v)
    avi = encode_avi(frames, fps=12, codec="raw")
    dec, fps = decode_avi(avi)
    if fps != 12 or len(dec) != _VFP_FRAMES or not all(
        np.array_equal(a, b) for a, b in zip(frames, dec)
    ):
        raise RuntimeError(f"vfp-wide variant {v}: round-trip mismatch")
    acc = np.zeros((_PROBE_H, _PROBE_W), dtype=np.int64)
    for f in dec:
        acc += f[:, :, 0].astype(np.int64)
    return {
        "variant": v,
        "avi_md5": hashlib.md5(avi).hexdigest(),
        "fp": ahash_wide(acc, rows, cols),
        "acc_sum": int(acc.sum()),
    }


FLAC_PROBE_SCHEMA = (
    "variant bigint, flac_md5 string, flac_bytes bigint, "
    "n_samples bigint, channels bigint, bits bigint, "
    "sample_rate bigint, n_frames bigint, pcm_sum bigint"
)


def _flac_variant(v: int) -> dict:
    """One deterministic FLAC round trip (operators/flac_codec.py —
    lossless, so the decode is verified EXACT against the formula PCM
    and against the stream's own STREAMINFO MD5 before anything is
    graded): ch = 1 + v%2 channels, n = 1000 + 50v samples of
    x[t,c] = ((17t + 13v + 7c) mod 251) - 125, 16-bit, block size 256
    (multiple frames incl. a short tail).  Every graded output is
    integer-derivable except the stream md5/size, which the oracle
    pins as literals."""
    from cloud_optimized_data_pipelines_spark.operators.flac_codec import (
        decode_flac,
        encode_flac,
    )

    ch = 1 + v % 2
    n = 1000 + 50 * v
    t = np.arange(n, dtype=np.int64)[:, None]
    c = np.arange(ch, dtype=np.int64)[None, :]
    pcm = ((17 * t + 13 * v + 7 * c) % 251) - 125
    flac = encode_flac(pcm, 32000, bits=16, block_size=256)
    dec = decode_flac(flac)  # raises on MD5 mismatch
    if not np.array_equal(dec["samples"], pcm):  # pragma: no cover
        raise RuntimeError(f"flac variant {v}: PCM round-trip mismatch")
    return {
        "variant": v,
        "flac_md5": hashlib.md5(flac).hexdigest(),
        "flac_bytes": len(flac),
        "n_samples": dec["total_samples"],
        "channels": dec["channels"],
        "bits": dec["bits"],
        "sample_rate": dec["sample_rate"],
        "n_frames": dec["n_frames"],
        "pcm_sum": int(dec["samples"].sum()),
    }


ZSTD_PROBE_SCHEMA = (
    "variant bigint, zst_md5 string, zst_bytes bigint, "
    "payload_md5 string, n_lines bigint, payload_bytes bigint, "
    "id_sum bigint, val_sum bigint"
)


def _zstd_variant(v: int) -> dict:
    """One deterministic .jsonl.zst shard round trip — the container
    format modern training corpora ship in: L = 500 + 100v lines of
    '{"id":I,"v":(7I+v) mod 100}', compressed by the in-container
    REFERENCE coder (zstd CLI, --single-thread for deterministic
    frames; stored-frame fallback when no CLI), decoded back with the
    default engine (operators/zstd_codec.py), equality-checked, and
    the graded aggregates derive from the DECODED bytes.  payload_md5
    makes the round trip part of the driver hash: the oracle md5s the
    SQL-reconstructed payload, the engine md5s what the decoder
    produced.  The pure RFC 8878 decoder's conformance on these
    frames is pinned in tests/test_zstd_codec.py."""
    import hashlib
    import shutil
    import subprocess

    from cloud_optimized_data_pipelines_spark.operators.zstd_codec import (
        zstd_compress_stored,
        zstd_decompress,
    )

    n = 500 + 100 * v
    payload = b"".join(
        b'{"id":%d,"v":%d}\n' % (i, (7 * i + v) % 100) for i in range(n)
    )
    if shutil.which("zstd"):
        r = subprocess.run(
            ["zstd", "-9", "--single-thread", "-c"],
            input=payload,
            capture_output=True,
        )
        if r.returncode != 0:  # pragma: no cover - CLI guard
            raise RuntimeError(f"zstd cli failed: {r.stderr[-200:]!r}")
        zst = r.stdout
    else:  # pragma: no cover - container always has the CLI
        zst = zstd_compress_stored(payload)
    # default engine (auto -> CLI when present) is the graded path
    decoded = zstd_decompress(zst)
    if decoded != payload:  # pragma: no cover - codec guard
        raise RuntimeError(f"zstd variant {v}: decode mismatch")
    # aggregates from the DECODED jsonl, not the formula
    import json as _json

    ids = vals = 0
    for line in decoded.splitlines():
        rec = _json.loads(line)
        ids += rec["id"]
        vals += rec["v"]
    return {
        "variant": v,
        "zst_md5": hashlib.md5(zst).hexdigest(),
        "zst_bytes": len(zst),
        "payload_md5": hashlib.md5(decoded).hexdigest(),
        "n_lines": decoded.count(b"\n"),
        "payload_bytes": len(decoded),
        "id_sum": ids,
        "val_sum": vals,
    }


COMPRESSED_PROBE_SCHEMA = (
    "variant bigint, codec string, comp_md5 string, comp_bytes bigint, "
    "payload_md5 string, n_lines bigint, payload_bytes bigint, "
    "val_sum bigint"
)

_COMPRESSED_CODECS = ("gzip", "zstd", "lz4", "xz", "bzip2")


def _compressed_variant(v: int) -> dict:
    """One shard of the mixed-codec corpus probe: codec = variant
    mod 5 over the SAME formula jsonl (L = 300 + 40v lines of
    '{"id":I,"v":(3I+v) mod 50}'), compressed by that codec's
    deterministic writer, sniffed + decoded back through
    sources/compressed.decompress_auto with the DEFAULT engines (zstd
    auto -> CLI when present; the pure decoder's conformance on these
    frames is pinned in tests/test_zstd_codec.py), and
    equality-checked before grading."""
    import bz2 as _bz2
    import hashlib
    import lzma as _lzma
    import shutil
    import subprocess

    from cloud_optimized_data_pipelines_spark.operators.deflate_codec import (
        gzip_encode,
    )
    from cloud_optimized_data_pipelines_spark.operators.lz4_codec import (
        lz4_frame_compress,
    )
    from cloud_optimized_data_pipelines_spark.operators.zstd_codec import (
        zstd_compress_stored,
    )
    from cloud_optimized_data_pipelines_spark.sources.compressed import (
        decompress_auto,
        detect_codec,
    )

    n = 300 + 40 * v
    payload = b"".join(
        b'{"id":%d,"v":%d}\n' % (i, (3 * i + v) % 50) for i in range(n)
    )
    codec = _COMPRESSED_CODECS[v % 5]
    if codec == "gzip":
        blob = gzip_encode(payload)
    elif codec == "zstd":
        if shutil.which("zstd"):
            r = subprocess.run(
                ["zstd", "-9", "--single-thread", "-c"],
                input=payload,
                capture_output=True,
            )
            if r.returncode != 0:  # pragma: no cover - CLI guard
                raise RuntimeError(f"zstd cli failed: {r.stderr[-200:]!r}")
            blob = r.stdout
        else:  # pragma: no cover - container always has the CLI
            blob = zstd_compress_stored(payload)
    elif codec == "lz4":
        blob = lz4_frame_compress(payload)
    elif codec == "xz":
        blob = _lzma.compress(payload, preset=6)
    else:
        blob = _bz2.compress(payload, 9)
    if detect_codec(blob) != codec:  # pragma: no cover - codec guard
        raise RuntimeError(f"compressed variant {v}: magic sniff failed")
    decoded = decompress_auto(blob)
    if decoded != payload:  # pragma: no cover - codec guard
        raise RuntimeError(f"compressed variant {v}: decode mismatch")
    import json as _json

    vals = sum(_json.loads(line)["v"] for line in decoded.splitlines())
    return {
        "variant": v,
        "codec": codec,
        "comp_md5": hashlib.md5(blob).hexdigest(),
        "comp_bytes": len(blob),
        "payload_md5": hashlib.md5(decoded).hexdigest(),
        "n_lines": decoded.count(b"\n"),
        "payload_bytes": len(decoded),
        "val_sum": vals,
    }


# ---------------------------------------------------------------------------
# MP3 Layer III probe (operators/mp3_layer3.py)
# ---------------------------------------------------------------------------

MP3_PROBE_SCHEMA = (
    "variant bigint, mp3_md5 string, mp3_bytes bigint, "
    "n_frames bigint, n_granules bigint, bitrate bigint, "
    "sample_sum bigint, abs_sum bigint, nonzero bigint, "
    "scf_sum bigint, big_values_sum bigint"
)


def _mp3_spectra(v: int) -> tuple[np.ndarray, np.ndarray, int]:
    """Formula spectra/scalefactors for variant v (shared between the
    engine builder and the oracle pin computation): n_gr granules of
    576 quantized lines — big region |val|<=3 for i < n_big, count1
    region |val|<=1 for the next 64 lines, zero tail."""
    n_gr = 4 + 2 * (v % 3)
    n_big = 80 + 8 * (v % 4)
    g = np.arange(n_gr, dtype=np.int64)[:, None]
    i = np.arange(576, dtype=np.int64)[None, :]
    spectra = np.where(
        i < n_big,
        (7 * i + 13 * g + v) % 7 - 3,
        np.where(i < n_big + 64, (5 * i + 3 * g + v) % 3 - 1, 0),
    )
    j = np.arange(21, dtype=np.int64)[None, :]
    scf = (3 * j + g[:, :1] + v) % 8
    return spectra, scf, n_big


def _mp3_variant(v: int) -> dict:
    """One deterministic MP3 Layer III round trip
    (operators/mp3_layer3.py): formula spectra encode into conformant
    frames (count1 table alternates A/B by variant; variants >= 4 use
    the bit reservoir so main_data_begin > 0 is part of the graded
    surface), decode walks header -> side info -> reservoir ->
    scalefactors -> region-switched Huffman -> count1, and every
    graded aggregate derives from the DECODED quantized lines after
    an exact cross-check against the formula."""
    from cloud_optimized_data_pipelines_spark.operators.mp3_layer3 import (
        decode_mp3,
        encode_mp3,
    )

    spectra, scf, _ = _mp3_spectra(v)
    enc = encode_mp3(
        spectra,
        scalefactors=scf,
        scalefac_compress=13,
        count1table_select=v % 2,
        global_gain=100 + v,
        use_reservoir=v >= 4,
        bitrate_kbps=128,
    )
    frames = decode_mp3(enc)
    got = np.vstack([
        gg["samples"] for fr in frames for chs in fr["granules"]
        for gg in chs
    ])[: len(spectra)]
    got_scf = np.vstack([
        gg["scalefactors"] for fr in frames for chs in fr["granules"]
        for gg in chs
    ])[: len(spectra)]
    if not np.array_equal(got, spectra):  # pragma: no cover
        raise RuntimeError(f"mp3 variant {v}: spectra round-trip mismatch")
    if not np.array_equal(got_scf, scf):  # pragma: no cover
        raise RuntimeError(f"mp3 variant {v}: scalefactor mismatch")
    if v >= 4 and not any(
        fr["side_info"]["main_data_begin"] > 0 for fr in frames
    ):  # pragma: no cover
        raise RuntimeError(f"mp3 variant {v}: reservoir unused")
    return {
        "variant": v,
        "mp3_md5": hashlib.md5(enc).hexdigest(),
        "mp3_bytes": len(enc),
        "n_frames": len(frames),
        "n_granules": len(spectra),
        "bitrate": frames[0]["header"]["bitrate"],
        "sample_sum": int(got.sum()),
        "abs_sum": int(np.abs(got).sum()),
        "nonzero": int(np.count_nonzero(got)),
        "scf_sum": int(got_scf.sum()),
        "big_values_sum": int(sum(
            gg["side"]["big_values"] for fr in frames
            for chs in fr["granules"] for gg in chs
        )),
    }


MP3_BIG_TABLES_SCHEMA = (
    "variant bigint, mp3_md5 string, mp3_bytes bigint, "
    "n_granules bigint, table_sel bigint, block_kind string, "
    "sample_sum bigint, abs_sum bigint, nonzero bigint, "
    "scf_sum bigint, big_values_sum bigint"
)

# variant -> (forced pair table | None for auto, big-region |max|)
_MP3_BIGTAB_SEL = (7, 8, 9, 10, 11, 12, 13, 15, 5, 5)
_MP3_BIGTAB_NMAX = (5, 5, 5, 7, 7, 7, 15, 15, 3, 3)


def _mp3_big_tables_variant(v: int) -> dict:
    """One deterministic round trip through the r13 Huffman surface:
    variants 0-7 force pair tables 7/8/9/10/11/12/13/15 over spectra
    spanning each table's FULL alphabet (|value| up to 5/7/15);
    variants 8-9 write MIXED short/long granules (35 scalefactors,
    fixed 36-line region0).  Every graded aggregate derives from the
    DECODED quantized lines after an exact formula cross-check — the
    decode walks the real region-switched Huffman codewords of the
    table under test (operators/mp3_layer3.py)."""
    from cloud_optimized_data_pipelines_spark.operators.mp3_layer3 import (
        decode_mp3,
        encode_mp3,
    )

    sel = _MP3_BIGTAB_SEL[v]
    nmax = _MP3_BIGTAB_NMAX[v]
    mixed = v >= 8
    n_gr = 4 + 2 * (v % 3)
    n_big = 80 + 8 * (v % 4)
    m = 2 * nmax + 1
    g = np.arange(n_gr, dtype=np.int64)[:, None]
    i = np.arange(576, dtype=np.int64)[None, :]
    # line coefficient 4 is coprime to every alphabet size in play
    # (7/11/15/31), so each granule's big region sweeps the FULL
    # [-nmax, nmax] range (7 would collapse mod 7)
    spectra = np.where(
        i < n_big,
        (4 * i + 13 * g + v) % m - nmax,
        np.where(i < n_big + 64, (5 * i + 3 * g + v) % 3 - 1, 0),
    )
    n_scf = 35 if mixed else 21
    j = np.arange(n_scf, dtype=np.int64)[None, :]
    scf = (3 * j + g + v) % 8
    enc = encode_mp3(
        spectra,
        scalefactors=scf,
        scalefac_compress=13,
        count1table_select=v % 2,
        global_gain=110 + v,
        use_reservoir=v % 2 == 1,
        block_type=2 if mixed else 0,
        mixed_block=mixed,
        pair_table_select=None if mixed else sel,
    )
    frames = decode_mp3(enc)
    got = np.vstack([
        gg["samples"] for fr in frames for chs in fr["granules"]
        for gg in chs
    ])[:n_gr]
    got_scf = np.vstack([
        gg["scalefactors"] for fr in frames for chs in fr["granules"]
        for gg in chs
    ])[:n_gr]
    sides = [
        gg["side"] for fr in frames for chs in fr["granules"]
        for gg in chs
    ][:n_gr]
    if not np.array_equal(got, spectra):  # pragma: no cover - guard
        raise RuntimeError(f"mp3 bigtab {v}: spectra mismatch")
    if not np.array_equal(got_scf, scf):  # pragma: no cover - guard
        raise RuntimeError(f"mp3 bigtab {v}: scalefactor mismatch")
    if int(np.abs(spectra[:, :n_big]).max()) != nmax:  # pragma: no cover
        raise RuntimeError(f"mp3 bigtab {v}: alphabet not exercised")
    if any(s["table_select"][0] != sel for s in sides):  # pragma: no cover
        raise RuntimeError(f"mp3 bigtab {v}: table {sel} not selected")
    if mixed and not all(
        s["mixed_block_flag"] for s in sides
    ):  # pragma: no cover - guard
        raise RuntimeError(f"mp3 bigtab {v}: mixed flag lost")
    return {
        "variant": v,
        "mp3_md5": hashlib.md5(enc).hexdigest(),
        "mp3_bytes": len(enc),
        "n_granules": n_gr,
        "table_sel": sel,
        "block_kind": "mixed" if mixed else "long",
        "sample_sum": int(got.sum()),
        "abs_sum": int(np.abs(got).sum()),
        "nonzero": int(np.count_nonzero(got)),
        "scf_sum": int(got_scf.sum()),
        "big_values_sum": int(sum(s["big_values"] for s in sides)),
    }


MP3_SCF_FP_SCHEMA = "variant bigint, mp3_md5 string, fp array<bigint>"


def _mp3_scf_fp_variant(v: int) -> dict:
    """Compressed-domain MP3 near-dup fingerprint (extends the Layer
    II pattern to the dominant crawl audio format): 120 bits from the
    PARSED scalefactors of the variant's real Layer III frames
    (bit k = scf(granule=k//21, sfb=k%21) >= 4, covering granules
    0..4 fully and granule 5's first 15 bands — 120 of the 126
    (granule, sfb) cells; the last 6 bands of granule 5 are outside
    the packed 2x60-bit budget), packed into two 60-bit words.  Sibling variants (same v//2 base)
    share scalefactors but differ in spectra — their streams differ
    byte-wise yet fingerprints collide at Hamming 0; bases are
    decorrelated to min Hamming 30.  No synthesis: scalefactors parse
    straight off the side-info/scalefactor fields."""
    from cloud_optimized_data_pipelines_spark.operators.mp3_layer3 import (
        decode_mp3,
        encode_mp3,
    )

    b = v // 2
    n_gr = 6
    g = np.arange(n_gr, dtype=np.int64)[:, None]
    j = np.arange(21, dtype=np.int64)[None, :]
    scf = (7 * j + 5 * g + (11 * j + 13 * g + 3) * b) % 8

    n_big = 64 + 8 * (v % 4)
    i = np.arange(576, dtype=np.int64)[None, :]
    spectra = np.where(
        i < n_big,
        (7 * i + 13 * g + v) % 7 - 3,
        np.where(i < n_big + 64, (5 * i + 3 * g + v) % 3 - 1, 0),
    )
    enc = encode_mp3(
        spectra,
        scalefactors=scf,
        scalefac_compress=13,
        count1table_select=v % 2,
        global_gain=120 + b,
        use_reservoir=v % 3 == 1,
    )
    # scalefactors-only walk: the fingerprint path never expands a
    # frequency line (samples=False skips the Huffman stage)
    frames = decode_mp3(enc, samples=False)
    parsed = np.vstack([
        gg["scalefactors"] for fr in frames for chs in fr["granules"]
        for gg in chs
    ])[:n_gr]
    if not np.array_equal(parsed, scf):  # pragma: no cover - guard
        raise RuntimeError(f"mp3 fp variant {v}: scalefactor mismatch")
    bits = []
    for k in range(120):
        gr, sfb = divmod(k, 21)
        bits.append(1 if int(parsed[gr, sfb]) >= 4 else 0)
    words = []
    for w in range(2):
        word = 0
        for t in range(60):
            word = (word << 1) | bits[w * 60 + t]
        words.append(word)
    return {
        "variant": v,
        "mp3_md5": hashlib.md5(enc).hexdigest(),
        "fp": words,
    }


MP3_LSF_SCHEMA = (
    "variant bigint, mp3_md5 string, mp3_bytes bigint, "
    "version string, sample_rate bigint, n_frames bigint, "
    "block_kind string, preflag_sum bigint, mdb_max bigint, "
    "sample_sum bigint, abs_sum bigint, nonzero bigint, "
    "scf_sum bigint, big_values_sum bigint"
)

# (version, sample_rate, kbps) — the full LSF rate ladder
_LSF_RATE_LADDER = (
    ("2", 22050, 64), ("2", 24000, 64), ("2", 16000, 48),
    ("2.5", 11025, 32), ("2.5", 12000, 32), ("2.5", 8000, 16),
)


def _mp3_lsf_params(v: int) -> tuple[str, int, int, str, int]:
    """Design constants for LSF probe variant v — (version, rate,
    kbps, block_kind, scalefac_compress).  Shared between the engine
    builder and the oracle pin computation.  Variants 0-5 are long
    blocks across the full six-rate ladder with scalefac_compress
    rotating through all three blocknumber ranges (203 -> bn0 slens
    2,2,2,3; 450 -> bn1 with a slen-0 tail group; 507 -> bn2 with
    DERIVED preflag); 6-7 are short blocks at 24000 and 8000 Hz (the
    latter exercises the 72-line wide-band region split); 8 is a
    mixed short/long granule (33 scalefactors, 6 long bands); 9 runs
    the 8-bit bit reservoir."""
    if v == 6:
        return (*_LSF_RATE_LADDER[1], "short", 203)
    if v == 7:
        return (*_LSF_RATE_LADDER[5], "short", 203)
    if v == 8:
        return (*_LSF_RATE_LADDER[0], "mixed", 203)
    if v == 9:
        return (*_LSF_RATE_LADDER[0], "long", 203)
    return (*_LSF_RATE_LADDER[v], "long", (203, 450, 507)[v % 3])


def _mp3_lsf_variant(v: int) -> dict:
    """One deterministic MPEG-2/2.5 (LSF) Layer III round trip
    (operators/mp3_layer3.py, r14): formula spectra encode into
    conformant ONE-granule LSF frames, decode walks the 9-byte side
    info -> blocknumber slen groups -> region-switched Huffman ->
    count1, and every graded aggregate derives from the DECODED
    quantized lines after an exact formula cross-check.  Scalefactor
    values are the formula (3j+g+v)%4 masked per slen group
    (% 2^slen), so every blocknumber's group layout is exercised and
    SQL-replayable."""
    from cloud_optimized_data_pipelines_spark.operators.mp3_layer3 import (
        decode_mp3,
        encode_mp3,
        lsf_scale_layout,
    )

    ver, rate, kbps, block, sc = _mp3_lsf_params(v)
    n_gr = 3 + v % 3
    n_big = 80 + 8 * (v % 4)
    g = np.arange(n_gr, dtype=np.int64)[:, None]
    i = np.arange(576, dtype=np.int64)[None, :]
    spectra = np.where(
        i < n_big,
        (4 * i + 13 * g + v) % 7 - 3,
        np.where(i < n_big + 64, (5 * i + 3 * g + v) % 3 - 1, 0),
    )
    bt = 2 if block != "long" else 0
    mixed = 1 if block == "mixed" else 0
    slens, nr, preflag = lsf_scale_layout(sc, bt, mixed)
    seq = [slens[k] for k in range(4) for _ in range(nr[k])]
    j = np.arange(len(seq), dtype=np.int64)[None, :]
    caps = np.array([1 << s for s in seq], dtype=np.int64)[None, :]
    scf = ((3 * j + g + v) % 4) % caps
    enc = encode_mp3(
        spectra,
        sample_rate=rate,
        bitrate_kbps=kbps,
        scalefac_compress=sc,
        scalefactors=scf,
        version=ver,
        block_type=bt,
        mixed_block=bool(mixed),
        use_reservoir=v == 9,
        global_gain=90 + v,
    )
    frames = decode_mp3(enc)
    got = np.vstack([
        gg["samples"] for fr in frames for chs in fr["granules"]
        for gg in chs
    ])
    got_scf = np.vstack([
        gg["scalefactors"] for fr in frames for chs in fr["granules"]
        for gg in chs
    ])
    if not np.array_equal(got, spectra):  # pragma: no cover - guard
        raise RuntimeError(f"mp3 lsf variant {v}: spectra mismatch")
    if not np.array_equal(got_scf, scf):  # pragma: no cover - guard
        raise RuntimeError(f"mp3 lsf variant {v}: scalefactor mismatch")
    preflags = [
        gg["side"]["preflag"] for fr in frames for chs in fr["granules"]
        for gg in chs
    ]
    if any(p != preflag for p in preflags):  # pragma: no cover - guard
        raise RuntimeError(f"mp3 lsf variant {v}: preflag mismatch")
    mdbs = [fr["side_info"]["main_data_begin"] for fr in frames]
    if v == 9 and not any(mdbs):  # pragma: no cover - guard
        raise RuntimeError("mp3 lsf variant 9: reservoir unused")
    return {
        "variant": v,
        "mp3_md5": hashlib.md5(enc).hexdigest(),
        "mp3_bytes": len(enc),
        "version": ver,
        "sample_rate": rate,
        "n_frames": len(frames),
        "block_kind": block,
        "preflag_sum": int(sum(preflags)),
        "mdb_max": int(max(mdbs)),
        "sample_sum": int(got.sum()),
        "abs_sum": int(np.abs(got).sum()),
        "nonzero": int(np.count_nonzero(got)),
        "scf_sum": int(got_scf.sum()),
        "big_values_sum": int(sum(
            gg["side"]["big_values"] for fr in frames
            for chs in fr["granules"] for gg in chs
        )),
    }


ADTS_PROBE_SCHEMA = (
    "variant bigint, adts_md5 string, n_frames bigint, "
    "total_samples bigint, duration_ms bigint, sample_rate bigint, "
    "channels bigint, profile string, mpeg_version bigint, "
    "is_vbr boolean, stream_bytes bigint, id3v2_bytes bigint, "
    "has_id3v1 boolean, fp bigint"
)


def _adts_variant(v: int) -> dict:
    """One deterministic ADTS/AAC stream walk (operators/
    adts_codec.py): formula payloads wrapped in conformant ADTS
    frames — profile/rate/channel/protection/raw-block-count spread
    over 8 variants, v%4==0 fixed-length (CBR shape), v%4==3 wrapped
    in ID3v2+ID3v1 tags (the podcast-feed shape) — walked back by
    stream_info; every output is integer-derivable so the oracle
    replays the header arithmetic non-circularly, and the payload
    fingerprint is pinned tag-invariant (the tagged variant's fp must
    equal its bare twin's)."""
    from cloud_optimized_data_pipelines_spark.operators.adts_codec import (
        PROFILES,
        encode_adts_stream,
        fingerprint,
        stream_info,
    )

    sr_index = (3, 4, 8, 11)[v % 4]
    profile = PROFILES[(v + 1) % 4]
    channels = 1 + v % 2
    mpeg2 = (v // 4) % 2 == 1
    protect = v % 3 == 0
    blocks = 1 + (1 if v % 3 == 2 else 0)
    n = 3 + v % 4
    payloads = []
    for k in range(n):
        plen = 32 if v % 4 == 0 else 20 + (v * 7 + k * 13) % 40
        payloads.append(
            bytes((i * 5 + k * 11 + v) % 256 for i in range(plen))
        )
    adts = encode_adts_stream(
        payloads, profile, sr_index, channels, mpeg2, protect, blocks
    )
    bare_fp = fingerprint(adts)
    if v % 4 == 3:
        id3v2 = b"ID3\x03\x00\x00" + bytes([0, 0, 0, 54]) + b"\x00" * 54
        id3v1 = b"TAG" + b"\x00" * 125
        adts = id3v2 + adts + id3v1
        if fingerprint(adts) != bare_fp:
            raise RuntimeError(f"adts variant {v}: tags perturbed fp")
    info = stream_info(adts)
    if info["n_frames"] != n:
        raise RuntimeError(f"adts variant {v}: walk mismatch")
    return {
        "variant": v,
        "adts_md5": hashlib.md5(adts).hexdigest(),
        "n_frames": info["n_frames"],
        "total_samples": info["total_samples"],
        "duration_ms": info["duration_ms"],
        "sample_rate": info["sample_rate"],
        "channels": info["channels"],
        "profile": info["profile"],
        "mpeg_version": info["mpeg_version"],
        "is_vbr": info["is_vbr"],
        "stream_bytes": info["stream_bytes"],
        "id3v2_bytes": info["id3v2_bytes"],
        "has_id3v1": info["has_id3v1"],
        "fp": bare_fp >> 64,  # top 56 of the 120-bit payload digest
    }
