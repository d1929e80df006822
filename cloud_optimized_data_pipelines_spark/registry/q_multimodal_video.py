"""multimodal VIDEO/CONTAINER family: AVI, MP4/BMFF, MPEG stream
walker, video fingerprint near-dup (fixed + adaptive).

r13 split of q_multimodal by media family (VERDICT r12 task 4);
registration order is the import order in
``cloud_optimized_data_pipelines_spark.queries`` and pinned by
``tests/test_registry_order.py``.  Code is unchanged — only moved.
"""

from __future__ import annotations

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame, SparkSession, Window  # noqa: F401
from pyspark.sql import functions as F  # noqa: F401

from cloud_optimized_data_pipelines_spark.batching import probe_table
from cloud_optimized_data_pipelines_spark.functions.dates import extract_dates  # noqa: F401,E501
from cloud_optimized_data_pipelines_spark.functions.ids import item_id  # noqa: F401
from cloud_optimized_data_pipelines_spark.functions import text as T  # noqa: F401
from cloud_optimized_data_pipelines_spark.functions import vectors as V  # noqa: F401
from cloud_optimized_data_pipelines_spark.operators import dedup as D  # noqa: F401
from cloud_optimized_data_pipelines_spark.operators import similarity as S  # noqa: F401,E501
from cloud_optimized_data_pipelines_spark.operators.transfer import plan_transfer  # noqa: F401,E501
from cloud_optimized_data_pipelines_spark.sources import cmr as cmr_src  # noqa: F401
from cloud_optimized_data_pipelines_spark.sources import inventory as inv_src  # noqa: F401,E501

from cloud_optimized_data_pipelines_spark.queries import (  # noqa: F401
    load_tables,
    query,
)
def _vfp_pairs_oracle() -> str:
    """Oracle for multimodal_video_near_dup: the temporal-sum aHash is
    integer arithmetic over the per-frame pixel formula, recomputed
    from scratch in SQL (non-circular vs the engine's
    decode-real-AVI-container path); banded Hamming join replayed with
    bit_count(xor), AVI byte streams pinned via md5 literals."""
    from cloud_optimized_data_pipelines_spark.operators.multimodal import (
        _vfp_variant,
    )

    rows = [_vfp_variant(v) for v in range(16)]
    md5_case = (
        "CASE v "
        + " ".join(f"WHEN {r['variant']} THEN '{r['avi_md5']}'" for r in rows)
        + " END"
    )
    return f"""
WITH var AS (SELECT unnest(range(0, 16)) AS v),
grid AS (
  SELECT v, k, SUM(
    CASE WHEN v % 2 = 1 AND f = 2 AND (k // 40) < 6 AND (k % 40) < 5
         THEN (((k + 13) * (k + 7 * (v // 2) + 1) + 31 * f) % 251 + 200) % 251
         ELSE ((k + 13) * (k + 7 * (v // 2) + 1) + 31 * f) % 251
    END) AS s
  FROM var,
       (SELECT unnest(range(0, 1920)) AS k) g,
       (SELECT unnest(range(0, 4)) AS f) fr
  GROUP BY v, k
),
blocks AS (
  SELECT v, (k // 40) // 6 AS i, (k % 40) // 5 AS j, SUM(s) AS bs
  FROM grid GROUP BY 1, 2, 3
),
tot AS (SELECT v, SUM(s) AS total FROM grid GROUP BY v),
bits AS (
  SELECT b.v, b.i * 8 + b.j AS idx,
         CASE WHEN b.bs * 64 >= t.total THEN 1 ELSE 0 END AS bit
  FROM blocks b JOIN tot t USING (v)
),
hashes AS (
  SELECT v,
         SUM(CASE WHEN idx < 32 THEN bit << (31 - idx) ELSE 0 END)::BIGINT
           AS hi,
         SUM(CASE WHEN idx >= 32 THEN bit << (63 - idx) ELSE 0 END)::BIGINT
           AS lo
  FROM bits GROUP BY v
),
bands AS (
  SELECT v, hi, lo, 0 AS band, (hi >> 16) & 65535 AS val FROM hashes
  UNION ALL SELECT v, hi, lo, 1, hi & 65535 FROM hashes
  UNION ALL SELECT v, hi, lo, 2, (lo >> 16) & 65535 FROM hashes
  UNION ALL SELECT v, hi, lo, 3, lo & 65535 FROM hashes
),
pairs AS (
  SELECT DISTINCT a.v AS va, b.v AS vb,
         bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) AS hamming
  FROM bands a
  JOIN bands b ON a.band = b.band AND a.val = b.val AND a.v < b.v
  WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 3
),
md5s AS (SELECT v, {md5_case} AS m FROM var),
cnt AS (SELECT doc_id % 16 AS v, count(*) AS n FROM documents GROUP BY 1)
SELECT p.va AS variant_a, p.vb AS variant_b,
       CAST(p.hamming AS BIGINT) AS hamming,
       ma.m AS md5_a, mb.m AS md5_b,
       ca.n AS docs_a, cb.n AS docs_b
FROM pairs p
JOIN md5s ma ON ma.v = p.va
JOIN md5s mb ON mb.v = p.vb
JOIN cnt ca ON ca.v = p.va
JOIN cnt cb ON cb.v = p.vb
"""


@query("multimodal_video_near_dup", _vfp_pairs_oracle)
def multimodal_video_near_dup_q(spark, sf_dir):
    """Video near-dup over real container bytes (operators/
    multimodal.py::_vfp_variant + the modality-agnostic
    banded join): 16 four-frame AVIs in 8 engineered one-frame-edit
    pairs are encoded as actual RIFF/AVI containers (DIB streams,
    idx1 index), walked + decoded back, fingerprinted by the
    temporal-sum aHash (integer-exact), and joined by 4x16-bit banded
    Hamming blocking.  The oracle recomputes every fingerprint
    ARITHMETICALLY from the per-frame formula and pins the container
    bytes via md5 literals — with phash/afp this completes
    per-modality near-dup: text, image, audio, video, embedding."""
    from cloud_optimized_data_pipelines_spark.operators.multimodal import (
        VFP_PROBE_SCHEMA,
        _vfp_variant,
        image_near_dup_pairs,
    )

    t = load_tables(spark, sf_dir)
    probe = probe_table(spark, _vfp_variant, VFP_PROBE_SCHEMA, 16)
    pairs = image_near_dup_pairs(
        probe, "variant", hi_col="vfp_hi", lo_col="vfp_lo", max_hamming=3
    )
    cnt = (
        t["documents"]
        .groupBy((F.col("doc_id") % 16).alias("v"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    meta = probe.select("variant", "avi_md5")
    return (
        pairs.join(
            meta.select(
                F.col("variant").alias("id_a"), F.col("avi_md5").alias("md5_a")
            ),
            "id_a",
        )
        .join(
            meta.select(
                F.col("variant").alias("id_b"), F.col("avi_md5").alias("md5_b")
            ),
            "id_b",
        )
        .join(cnt.select(F.col("v").alias("id_a"), F.col("n").alias("docs_a")), "id_a")
        .join(cnt.select(F.col("v").alias("id_b"), F.col("n").alias("docs_b")), "id_b")
        .select(
            F.col("id_a").alias("variant_a"),
            F.col("id_b").alias("variant_b"),
            "hamming",
            "md5_a",
            "md5_b",
            "docs_a",
            "docs_b",
        )
    )


def _avi_probe_oracle() -> str:
    """Oracle for multimodal_avi_frames: container md5s pinned from a
    single-process run; sampled_px_sum recomputed ARITHMETICALLY —
    raw variants sum the flat-index formula over sampled frames, MJPG
    variants sum 64*3 copies of each block value (DC-exact JPEG inputs
    decode to the source by construction, see jpeg_codec)."""
    from cloud_optimized_data_pipelines_spark.operators.multimodal import (
        _AVI_FRAMES,
        _AVI_MJPG_HW,
        _AVI_RAW_H,
        _AVI_RAW_W,
        _avi_variant,
    )

    rows = [_avi_variant(v) for v in range(8)]
    md5_case = (
        "CASE d.doc_id % 8 "
        + " ".join(f"WHEN {r['variant']} THEN '{r['avi_md5']}'" for r in rows)
        + " END"
    )
    raw_n = _AVI_RAW_H * _AVI_RAW_W * 3
    return f"""
WITH var AS (SELECT DISTINCT doc_id % 8 AS v FROM documents),
raw_sum AS (
  SELECT v, CAST(SUM((g.k * (v + 1) + 7 * fr.f) % 256) AS BIGINT) AS s
  FROM var,
       (SELECT UNNEST([0, 2, 4]) AS f) fr,
       (SELECT UNNEST(range(0, {raw_n})) AS k) g
  WHERE v % 8 < 4
  GROUP BY v
),
mjpg_sum AS (
  SELECT v, CAST(SUM(192 * (2 * ((g.b * (v + 1) + 5 * fr.f) % 128)))
                 AS BIGINT) AS s
  FROM var,
       (SELECT UNNEST([0, 2, 4]) AS f) fr,
       (SELECT UNNEST(range(0, 4)) AS b) g
  WHERE v % 8 >= 4
  GROUP BY v
),
sums AS (SELECT * FROM raw_sum UNION ALL SELECT * FROM mjpg_sum)
SELECT d.doc_id, d.doc_id % 8 AS variant,
       {md5_case} AS avi_md5,
       su.s AS sampled_px_sum,
       CAST({_AVI_FRAMES} AS BIGINT) AS n_frames,
       CAST(3 AS BIGINT) AS n_sampled,
       CAST(CASE WHEN d.doc_id % 8 < 4 THEN {_AVI_RAW_W}
                 ELSE {_AVI_MJPG_HW} END AS BIGINT) AS width,
       CAST(CASE WHEN d.doc_id % 8 < 4 THEN {_AVI_RAW_H}
                 ELSE {_AVI_MJPG_HW} END AS BIGINT) AS height,
       CAST(10 + d.doc_id % 8 AS BIGINT) AS fps,
       CASE WHEN d.doc_id % 8 < 4 THEN 'raw' ELSE 'mjpg' END AS codec
FROM documents d
JOIN sums su ON su.v = d.doc_id % 8
"""


@query("multimodal_avi_frames", _avi_probe_oracle)
def multimodal_avi_frames_q(spark, sf_dir):
    """REAL-bytes AVI video decode + frame sampling (operators/
    avi_codec.py): per variant a 6-frame formula video is packed into
    an actual RIFF/AVI container — uncompressed 24-bit DIB streams for
    variants 0-3, Motion-JPEG (every frame a baseline JFIF payload
    decoded by this repo's own jpeg_codec) for 4-7 — decoded back
    through the full hdrl/strl/movi walk, round-trip verified
    executor-side, then sampled every 2nd frame.  A real video
    container + a real intra-frame codec with no external dependency:
    the video modality is no longer approximated only by GIF.
    Broadcast per-variant probe."""
    from cloud_optimized_data_pipelines_spark.operators.multimodal import (
        AVI_PROBE_SCHEMA,
        _avi_variant,
    )

    t = load_tables(spark, sf_dir)
    probe = probe_table(spark, _avi_variant, AVI_PROBE_SCHEMA, 8)
    docs = t["documents"].select(
        "doc_id", (F.col("doc_id") % 8).alias("variant")
    )
    return docs.join(probe, "variant").select(
        "doc_id",
        "variant",
        "avi_md5",
        "sampled_px_sum",
        "n_frames",
        "n_sampled",
        "width",
        "height",
        "fps",
        "codec",
    )


def _mp4_container_oracle() -> str:
    """Oracle for multimodal_mp4_container: every output is integer-
    derivable from the probe formulas (sample i size = 20+((v+i)%9)*3,
    payload byte j = (v*31+i*7+j*3)%251), so the oracle recomputes the
    byte and size sums ARITHMETICALLY — non-circular, because the
    engine's sums come from samples EXTRACTED back out of the real
    container via the stsc/stco/stsz resolution.  Container bytes are
    pinned via md5 literals from a single-process run."""
    from cloud_optimized_data_pipelines_spark.operators.multimodal import (
        _mp4_variant,
    )

    rows = [_mp4_variant(v) for v in range(8)]
    md5_case = (
        "CASE d.doc_id % 8 "
        + " ".join(f"WHEN {r['variant']} THEN '{r['mp4_md5']}'" for r in rows)
        + " END"
    )
    return f"""
WITH var AS (SELECT DISTINCT doc_id % 8 AS v FROM documents),
meta AS (SELECT v, 8 + v % 5 AS n FROM var),
sizes AS (
  SELECT m.v, i.i, 20 + ((m.v + i.i) % 9) * 3 AS sz
  FROM meta m JOIN (SELECT unnest(range(0, 12)) AS i) i ON i.i < m.n
),
payload AS (
  SELECT s.v,
         CAST(SUM((s.v * 31 + s.i * 7 + j.j * 3) % 251) AS BIGINT)
           AS payload_sum
  FROM sizes s
  JOIN (SELECT unnest(range(0, 44)) AS j) j ON j.j < s.sz
  GROUP BY s.v
),
agg AS (
  SELECT v, CAST(SUM(sz) AS BIGINT) AS sample_bytes_sum,
         CAST(COUNT(*) AS BIGINT) AS n_samples
  FROM sizes GROUP BY v
)
SELECT d.doc_id, d.doc_id % 8 AS variant,
       {md5_case} AS mp4_md5,
       'isom' AS brand,
       a.n_samples,
       CAST(64 + d.doc_id % 8 AS BIGINT) AS width,
       CAST(48 AS BIGINT) AS height,
       CAST((3000 + d.doc_id % 8) * a.n_samples AS BIGINT) AS duration,
       a.sample_bytes_sum,
       p.payload_sum
FROM documents d
JOIN agg a ON a.v = d.doc_id % 8
JOIN payload p ON p.v = d.doc_id % 8
"""


@query("multimodal_mp4_container", _mp4_container_oracle)
def multimodal_mp4_container_q(spark, sf_dir):
    """REAL-bytes MP4 / ISO BMFF container round trip (operators/
    mp4_codec.py — 14496-12 box walk, mvhd/tkhd/mdhd/hdlr metadata,
    stsd/stts/stsz/stsc/stco sample tables, per-sample byte
    extraction): the container layer a crawl pipeline reads BEFORE any
    pixel work — routing, duration screens, sample-size fingerprints.
    Per variant, formula payloads are packed under a spec-valid
    ftyp/mdat/moov layout (uneven final chunk exercises the stsc run
    resolution), parsed back on executors, extraction verified
    byte-exact; payload_sum derives from the EXTRACTED bytes, so the
    driver hash covers the whole sample-table resolution.  H.264
    payload decode stays a named error (a real video stack is not
    implementable from-scratch here) — the container layer is what
    100 TB metadata/fingerprint scans actually need.  Broadcast
    per-variant probe."""
    from cloud_optimized_data_pipelines_spark.operators.multimodal import (
        MP4_PROBE_SCHEMA,
        _mp4_variant,
    )

    t = load_tables(spark, sf_dir)
    probe = probe_table(spark, _mp4_variant, MP4_PROBE_SCHEMA, 8)
    docs = t["documents"].select(
        "doc_id", (F.col("doc_id") % 8).alias("variant")
    )
    return docs.join(probe, "variant").select(
        "doc_id", "variant", "mp4_md5", "brand", "n_samples",
        "width", "height", "duration", "sample_bytes_sum", "payload_sum",
    )


def _mpeg_stream_info_oracle() -> str:
    """Oracle for multimodal_mpeg_stream_info: frame-size arithmetic
    replayed from the spec formula (144 * bitrate // 44100: 626 bytes
    at 192 kbps, 835 at 256), duration from exact integer sample
    counts — non-circular vs the engine's walk over real frame bytes.
    Streams pinned via md5 literals."""
    from cloud_optimized_data_pipelines_spark.operators.multimodal import (
        _mpeg_stream_variant,
    )

    rows = [_mpeg_stream_variant(v) for v in range(8)]
    md5_case = (
        "CASE d.doc_id % 8 "
        + " ".join(
            f"WHEN {r['variant']} THEN '{r['mpeg_md5']}'" for r in rows
        )
        + " END"
    )
    return f"""
WITH var AS (SELECT DISTINCT doc_id % 8 AS v FROM documents),
meta AS (
  SELECT v, 2 + v % 3 AS fa, v % 2 AS fb FROM var
)
SELECT d.doc_id, d.doc_id % 8 AS variant,
       {md5_case} AS mpeg_md5,
       CAST(m.fa + m.fb AS BIGINT) AS n_frames,
       CAST(1152 * (m.fa + m.fb) AS BIGINT) AS total_samples,
       CAST(1152 * (m.fa + m.fb) * 1000 // 44100 AS BIGINT)
         AS duration_ms,
       m.fb = 1 AS is_vbr,
       CAST(1 + m.fb AS BIGINT) AS n_bitrates,
       CAST(192000 AS BIGINT) AS min_bitrate,
       CAST(192000 + 64000 * m.fb AS BIGINT) AS max_bitrate,
       CAST(m.fa * 626 + m.fb * 835 AS BIGINT) AS stream_bytes
FROM documents d
JOIN meta m ON m.v = d.doc_id % 8
"""


@query("multimodal_mpeg_stream_info", _mpeg_stream_info_oracle)
def multimodal_mpeg_stream_info_q(spark, sf_dir):
    """Compressed-domain MPEG audio STREAM WALK (operators/
    mpeg_audio.py::stream_info): frame count, exact sample count and
    integer duration, VBR detection and the bitrate histogram read
    from frame headers alone — the metadata pass that works for Layer
    III crawl MP3s exactly as for Layers I/II, since no entropy decode
    happens (Layer III headers now PARSE; only its Huffman sample
    decode stays the named error).  Variants mix 192- and 256-kbps
    real Layer II frames so VBR streams ride the driver hash; the
    oracle replays the spec's frame-size arithmetic non-circularly.
    Broadcast per-variant probe; at 100 TB this scan reads ~4 header
    bytes per frame."""
    from cloud_optimized_data_pipelines_spark.operators.multimodal import (
        MPEG_STREAM_PROBE_SCHEMA,
        _mpeg_stream_variant,
    )

    t = load_tables(spark, sf_dir)
    probe = probe_table(
        spark, _mpeg_stream_variant, MPEG_STREAM_PROBE_SCHEMA, 8
    )
    docs = t["documents"].select(
        "doc_id", (F.col("doc_id") % 8).alias("variant")
    )
    return docs.join(probe, "variant").select(
        "doc_id", "variant", "mpeg_md5", "n_frames", "total_samples",
        "duration_ms", "is_vbr", "n_bitrates", "min_bitrate",
        "max_bitrate", "stream_bytes",
    )


def _video_near_dup_adaptive_oracle() -> str:
    """Oracle for multimodal_video_near_dup_adaptive: the temporal-sum
    aHash is INTEGER arithmetic over the frame formula (sum over f of
    ((k+13)(k+7b+1)+31f)%251 with the f==2 wide-region perturbation),
    so every wide fingerprint is recomputed from the formula and the
    geometry ladder is replayed from count(documents) — the image
    adaptive oracle's pattern over the video probe.  AVI byte streams
    pinned via md5 literals."""
    from cloud_optimized_data_pipelines_spark.operators.multimodal import (
        _vfp_wide_variant,
    )

    rows = [_vfp_wide_variant(v, 2) for v in range(32)]
    md5_case = (
        "CASE v "
        + " ".join(f"WHEN {r['variant']} THEN '{r['avi_md5']}'" for r in rows)
        + " END"
    )
    return f"""
WITH geo AS (
  SELECT n,
         CASE WHEN n <= 4 THEN 10 WHEN n <= 16 THEN 12
              WHEN n <= 128 THEN 15 WHEN n <= 4096 THEN 20
              WHEN n <= 4194304 THEN 30 ELSE 60 END AS width
  FROM (SELECT COUNT(*)::BIGINT AS n FROM documents)
),
geo2 AS (
  SELECT n, width, 60 // width AS bpwd, 2 * (60 // width) AS num_bands
  FROM geo
),
var AS (SELECT unnest(range(0, 32)) AS v),
grid AS (
  SELECT g.v, g.k, SUM(
    CASE WHEN g.v % 2 = 1 AND f.f = 2
              AND (g.k // 40) < 4 AND (g.k % 40) < 4
         THEN (((g.k + 13) * (g.k + 7 * (g.v // 2) + 1) + 31 * f.f)
               % 251 + 200) % 251
         ELSE ((g.k + 13) * (g.k + 7 * (g.v // 2) + 1) + 31 * f.f)
              % 251 END) AS s
  FROM (SELECT v.v, k.k
        FROM var v, (SELECT unnest(range(0, 1920)) AS k) k) g,
       (SELECT unnest(range(0, 4)) AS f) f
  GROUP BY g.v, g.k
),
tot AS (SELECT v, SUM(s) AS total FROM grid GROUP BY v),
blocks AS (
  SELECT v, ((k // 40) // 4) * 10 + ((k % 40) // 4) AS idx, SUM(s) AS bs
  FROM grid GROUP BY 1, 2
),
wordsq AS (
  SELECT b.v, b.idx // 60 AS w,
         SUM(CASE WHEN b.bs * 120 >= t.total
                  THEN (1::BIGINT << (59 - (b.idx % 60)))
                  ELSE 0 END)::BIGINT AS word
  FROM blocks b JOIN tot t USING (v)
  GROUP BY 1, 2
),
bands AS (
  SELECT w.v, w.w * t.bpwd + r.b AS band,
         (w.word >> (r.b * t.width))
           & ((1::BIGINT << t.width) - 1) AS val
  FROM wordsq w CROSS JOIN geo2 t
  JOIN (SELECT unnest(range(0, 6)) AS b) r ON r.b < t.bpwd
),
cand AS (
  SELECT DISTINCT a.v AS va, b.v AS vb
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.val = b.val AND a.v < b.v
),
pairs AS (
  SELECT c.va, c.vb,
         SUM(bit_count(xor(wa.word, wb.word)))::BIGINT AS hamming
  FROM cand c
  JOIN wordsq wa ON wa.v = c.va
  JOIN wordsq wb ON wb.v = c.vb AND wb.w = wa.w
  GROUP BY 1, 2
  HAVING SUM(bit_count(xor(wa.word, wb.word))) <= 3
),
md5s AS (SELECT v, {md5_case} AS m FROM var),
cnt AS (SELECT doc_id % 32 AS v, count(*) AS n FROM documents GROUP BY 1)
SELECT p.va AS variant_a, p.vb AS variant_b, p.hamming,
       ma.m AS md5_a, mb.m AS md5_b,
       ca.n AS docs_a, cb.n AS docs_b,
       t.width AS fp_width, CAST(t.num_bands AS BIGINT) AS fp_bands
FROM pairs p
CROSS JOIN geo2 t
JOIN md5s ma ON ma.v = p.va
JOIN md5s mb ON mb.v = p.vb
JOIN cnt ca ON ca.v = p.va
JOIN cnt cb ON cb.v = p.vb
"""


@query("multimodal_video_near_dup_adaptive", _video_near_dup_adaptive_oracle)
def multimodal_video_near_dup_adaptive_q(spark, sf_dir):
    """Scale-ADAPTIVE video near-dup (completes the per-modality
    adaptive triple: image via the wide aHash, audio via the
    compressed-domain scalefactor fingerprint, video here via the
    temporal-SUM wide aHash over frames decoded from REAL AVI
    containers): 32 variants in 16 one-frame-edit pairs run the full
    encode->decode->sum->ahash_wide chain on executors, and the pair
    join is banded_hamming_pairs at the band_geometry ladder width —
    n^2/2^16 fixed-band candidate growth replaced by the documented
    bounded geometry.  The fingerprint is 120 bits (2 words; the
    ladder's words=2 regime covers every n <= ~4.2M — beyond that the
    probe grid would grow with the corpus).  Oracle recomputes every
    hash from the frame formula arithmetically and replays the
    ladder; AVI bytes md5-pinned."""
    from cloud_optimized_data_pipelines_spark.operators.multimodal import (
        VFP_WIDE_PROBE_SCHEMA,
        _vfp_wide_variant,
        band_geometry,
        banded_hamming_pairs,
    )

    t = load_tables(spark, sf_dir)
    n = t["documents"].count()
    _, _, width = band_geometry(n, max_hamming=3)
    bpwd = 60 // width
    bands = 2 * bpwd  # 2-word (120-bit) temporal fingerprint
    probe = probe_table(
        spark, partial(_vfp_wide_variant, words=2), VFP_WIDE_PROBE_SCHEMA, 32
    )
    pairs = banded_hamming_pairs(
        probe, "variant", "fp",
        num_bands=bands, width=width, max_hamming=3,
    )
    cnt = (
        t["documents"]
        .groupBy((F.col("doc_id") % 32).alias("v"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    meta = probe.select("variant", "avi_md5")
    return (
        pairs.join(
            meta.select(
                F.col("variant").alias("id_a"),
                F.col("avi_md5").alias("md5_a"),
            ),
            "id_a",
        )
        .join(
            meta.select(
                F.col("variant").alias("id_b"),
                F.col("avi_md5").alias("md5_b"),
            ),
            "id_b",
        )
        .join(
            cnt.select(F.col("v").alias("id_a"), F.col("n").alias("docs_a")),
            "id_a",
        )
        .join(
            cnt.select(F.col("v").alias("id_b"), F.col("n").alias("docs_b")),
            "id_b",
        )
        .select(
            F.col("id_a").alias("variant_a"),
            F.col("id_b").alias("variant_b"),
            "hamming",
            "md5_a",
            "md5_b",
            "docs_a",
            "docs_b",
            F.lit(width).cast("long").alias("fp_width"),
            F.lit(bands).cast("long").alias("fp_bands"),
        )
    )


# ---------------------------------------------------------------------------
# FLAC lossless audio (operators/flac_codec.py)
# ---------------------------------------------------------------------------


