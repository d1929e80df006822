"""Round-8 decade probes (SCALE.md): dedup_duplicate_clusters and
SemDeDup at 1000x — contraction rounds vs log^2 n, assignment build vs
linear, and the banded-join band-cardinality cliff vs the wide
fingerprint.

Inputs: /tmp/scale100 and /tmp/scale1000 from
  python tools/make_scale.py /tmp/scaleN N --perturb --tables=documents,embeddings
(perturbed replicas: token-tagged text so true near-dup pairs grow
LINEARLY with the factor — plain replication makes C(factor,2) cliques,
the pathological corpus).

Usage: python tools/probe_1000x.py [probe ...]
  probes: cliff pairs100 clusters100 pairs1000 clusters1000 chain
          assign semfast split bloom

Round-9 additions (VERDICT r8 task 7): ``split`` times the full
leakage_safe_split composition (fast fingerprints -> banded pair join
-> star contraction -> label join -> md5 bucket split) and proves
pair co-travel at 5M docs; ``bloom`` sizes the auto Bloom gate at a
2.5M-digest history and measures its realized maybe-present rate and
the gated-vs-plain anti-join cost; ``pq`` times PQ training, the
compressed-domain ADC scan, and the full IVFADC composition at
200k/2M vectors against the brute-force baseline.
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from cloud_optimized_data_pipelines_spark.operators import dedup as D  # noqa: E402
from cloud_optimized_data_pipelines_spark.operators import similarity as S  # noqa: E402
from cloud_optimized_data_pipelines_spark.session import get_spark  # noqa: E402

SF01 = "/root/testdata/sf0.1"
S100 = "/tmp/scale100"
S1000 = "/tmp/scale1000"


def t(label, fn):
    t0 = time.time()
    out = fn()
    dt = time.time() - t0
    print(f"PROBE {label}: {dt:.1f}s {out}", flush=True)
    return out


def candidate_count(docs, wide: bool) -> int:
    """Expected equi-join candidate pairs = sum over (band, value)
    buckets of C(cnt, 2) — a groupBy count, no join (the cheap way to
    see the cliff without paying for it)."""
    if wide:
        sh = docs.select(D.simhash_wide(F.col("text")).alias("sh"))
        width, per_word = 20, 3
        bands = F.array(
            *[
                F.shiftright(F.col("sh")[w], b * width).bitwiseAND(
                    F.lit((1 << width) - 1)
                )
                for w in range(2)
                for b in range(per_word)
            ]
        )
    else:
        sh = docs.select(D.simhash(F.col("text"), 60).alias("sh"))
        width = 15
        bands = F.array(
            *[
                F.shiftright(F.col("sh"), b * width).bitwiseAND(
                    F.lit((1 << width) - 1)
                )
                for b in range(4)
            ]
        )
    buckets = (
        sh.select(F.posexplode(bands).alias("band", "val"))
        .groupBy("band", "val")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    row = buckets.agg(
        F.sum(F.col("c") * (F.col("c") - 1) / 2).alias("cand")
    ).collect()[0]
    return int(row["cand"])


def main() -> None:
    want = set(sys.argv[1:]) or {
        "cliff",
        "pairs100",
        "clusters100",
        "pairs1000",
        "clusters1000",
        "chain",
        "assign",
        "semfast",
        "split",
        "bloom",
        "pq",
        "clf",
        "neardup",
        "adaptive",
        "wordpiece",
        "corpus",
    }
    spark = get_spark("probe-1000x")
    spark.sparkContext.setLogLevel("ERROR")
    docs100 = spark.read.parquet(f"{S100}/documents.parquet")
    docs1000 = spark.read.parquet(f"{S1000}/documents.parquet")

    if "cliff" in want:
        # band-cardinality cliff: 60-bit/15-bit bands vs wide 20-bit
        for label, docs in (("100x", docs100), ("1000x", docs1000)):
            t(f"cand60 {label}", lambda d=docs: candidate_count(d, wide=False))
            t(f"candwide {label}", lambda d=docs: candidate_count(d, wide=True))

    # NOTE: construction goes INSIDE the timer — the pair operators pin
    # the fingerprint table (the dominant stage) eagerly at build time
    pairs = {}

    def build_pairs(docs, wide=True, **kw):
        if wide:
            p = D.simhash_wide_near_dup_pairs(docs, "doc_id", "text", **kw)
        else:
            p = D.simhash_near_dup_pairs(docs, "doc_id", "text", **kw)
        p = p.localCheckpoint(eager=False)
        return p.count(), p

    if "pairs100" in want:
        n, pairs["100x"] = t(
            "wide pairs 100x e2e",
            lambda: build_pairs(docs100, max_hamming=5),
        )
        t(
            "60bit pairs 100x e2e",
            lambda: build_pairs(
                docs100, wide=False, num_bands=4, max_hamming=3
            )[0],
        )
    if "clusters100" in want and "100x" in pairs:
        stats = {}
        lab = D.connected_components(pairs["100x"], "id_a", "id_b", stats=stats)
        n = t("clusters 100x", lambda: lab.count())
        print(f"PROBE clusters 100x stats: {stats} nodes={n} "
              f"log2^2(n)={math.log2(max(n, 2)) ** 2:.0f}", flush=True)
    if "pairs1000" in want:
        n, pairs["1000x"] = t(
            "wide pairs 1000x e2e",
            lambda: build_pairs(docs1000, max_hamming=5),
        )
    if "clusters1000" in want and "1000x" in pairs:
        stats = {}
        lab = D.connected_components(
            pairs["1000x"], "id_a", "id_b", stats=stats
        )
        n = t("clusters 1000x", lambda: lab.count())
        print(f"PROBE clusters 1000x stats: {stats} nodes={n} "
              f"log2^2(n)={math.log2(max(n, 2)) ** 2:.0f}", flush=True)

    if "chain" in want:
        # diameter stress: one 1M-node path graph — label propagation
        # would need 1M rounds; star contraction must stay ~log^2 n
        chain = spark.range(0, 1_000_000 - 1).select(
            F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
        )
        stats = {}
        lab = D.connected_components(chain, "src", "dst", stats=stats)
        comps = t(
            "chain 1M",
            lambda: lab.agg(F.countDistinct("component")).collect()[0][0],
        )
        print(f"PROBE chain stats: {stats} components={comps} "
              f"log2^2(n)={math.log2(1_000_000) ** 2:.0f}", flush=True)

    if "assign" in want:
        emb100 = spark.read.parquet(f"{S100}/embeddings.parquet")
        emb1000 = spark.read.parquet(f"{S1000}/embeddings.parquet")
        # force the cid computation with sum(cid): a bare count() lets
        # Catalyst prune the argmax aggregates entirely
        def force(df):
            return df.agg(
                F.sum("cid").alias("s"), F.count(F.lit(1)).alias("n")
            ).collect()[0]["n"]

        for label, emb in (("100x", emb100), ("1000x", emb1000)):
            a = S._semantic_assign(emb, "embedding", "vec_id", 16)
            t(f"assign fold k=16 {label}", lambda a=a: force(a))
            an = S._semantic_assign_numpy(emb, "embedding", "vec_id", 16)
            t(f"assign numpy k=16 {label}", lambda a=an: force(a))
        for k in (448, 1414):  # 1414 ~ sqrt(2M): the SemDeDup design point
            an = S._semantic_assign_numpy(emb1000, "embedding", "vec_id", k)
            t(f"assign numpy k={k} 1000x", lambda a=an: force(a))
        af = S._semantic_assign(emb100, "embedding", "vec_id", 448)
        t("assign fold k=448 100x", lambda: force(af))

    if "semfast" in want:
        emb100 = spark.read.parquet(f"{S100}/embeddings.parquet")
        emb1000 = spark.read.parquet(f"{S1000}/embeddings.parquet")
        f100 = S.semantic_dedup_fast(
            emb100, "embedding", "vec_id", k_lists=448, threshold=0.35
        )
        t("semfast 100x k=448", lambda: f100.count())
        f1000 = S.semantic_dedup_fast(
            emb1000, "embedding", "vec_id", k_lists=1414, threshold=0.35
        )
        t("semfast 1000x k=1414", lambda: f1000.count())
        dup = t(
            "semfast 1000x dup count",
            lambda: S.semantic_dedup_fast(
                emb1000, "embedding", "vec_id", k_lists=1414, threshold=0.35
            )
            .filter("is_dup")
            .count(),
        )
        print(f"PROBE semfast dups: {dup}", flush=True)

    if "split" in want:
        # leakage_safe_split e2e: fast fingerprints -> 60-bit banded
        # pair join -> star contraction -> label join -> md5 bucket
        # split (the graded query's exact composition)
        from cloud_optimized_data_pipelines_spark.operators.sampling import (
            leakage_safe_split,
        )

        for label, docs in (("100x", docs100), ("1000x", docs1000)):
            def run(d=docs):
                p = D.simhash_near_dup_pairs(
                    d, "doc_id", "text", num_bands=4, max_hamming=3
                ).localCheckpoint(eager=False)
                out = leakage_safe_split(d, p, "doc_id").select(
                    "doc_id", "split_unit", "split"
                ).localCheckpoint(eager=False)
                fracs = {
                    r["split"]: r["n"]
                    for r in out.groupBy("split")
                    .agg(F.count(F.lit(1)).alias("n"))
                    .collect()
                }
                # co-travel: no near-dup pair may straddle a boundary
                s = out.select(
                    F.col("doc_id").alias("_id"), F.col("split").alias("_s")
                )
                straddle = (
                    p.join(s.withColumnRenamed("_s", "sa"),
                           p["id_a"] == s["_id"])
                    .drop("_id")
                    .join(s.withColumnRenamed("_s", "sb"),
                          F.col("id_b") == s["_id"])
                    .filter(F.col("sa") != F.col("sb"))
                    .count()
                )
                return {"fracs": fracs, "straddle": straddle}

            t(f"split e2e {label}", run)

    if "bloom" in want:
        # dedup_bloom_gated at scale: history = even doc_ids' digests
        # (2.5M at 1000x), auto-sized filter, incoming = odd + mult-4.
        # Measures filter geometry, realized maybe-present rate split
        # by true membership (FPR on the truly-fresh side), and the
        # gated path vs the plain anti-join it short-circuits.
        from cloud_optimized_data_pipelines_spark.operators.sketches import (
            bloom_contains,
            bloom_partial,
        )
        from cloud_optimized_data_pipelines_spark.streaming.dedup_stream import (
            _auto_bloom_size,
        )

        for label, docs in (("100x", docs100), ("1000x", docs1000)):
            digest = F.md5(F.coalesce(F.col("text"), F.lit("")))
            hist = (
                docs.filter(F.col("doc_id") % 2 == 0)
                .select(digest.alias("digest"))
                .distinct()
                .localCheckpoint()
            )
            n_hist = hist.count()
            m, k = _auto_bloom_size(n_hist)
            incoming = (
                docs.filter(
                    (F.col("doc_id") % 2 == 1) | (F.col("doc_id") % 4 == 0)
                )
                .select("doc_id", digest.alias("digest"))
                .groupBy("digest")
                .agg(F.min("doc_id").cast("long").alias("doc_id"))
                .localCheckpoint()
            )
            print(
                f"PROBE bloom {label}: n_hist={n_hist} m_bits={m} "
                f"k={k} words~{m // 63} (~{m / 8 / 1e6:.1f} MB)",
                flush=True,
            )
            bloom = bloom_partial(
                hist, "digest", m_bits=m, k_hashes=k
            ).localCheckpoint(eager=False)
            t(f"bloom build {label}", lambda b=bloom: b.count())
            flagged = bloom_contains(
                bloom, incoming, "digest", m_bits=m, k_hashes=k
            ).localCheckpoint(eager=False)

            def rates(fl=flagged, h=hist):
                rows = (
                    fl.join(
                        h.withColumn("_in_hist", F.lit(True)),
                        "digest",
                        "left",
                    )
                    .groupBy("maybe_present", F.col("_in_hist").isNotNull().alias("dup"))
                    .agg(F.count(F.lit(1)).alias("n"))
                    .collect()
                )
                d = {(r["maybe_present"], r["dup"]): r["n"] for r in rows}
                fresh = d.get((False, False), 0) + d.get((True, False), 0)
                fpr = d.get((True, False), 0) / max(1, fresh)
                return {"cells": d, "realized_fpr": round(fpr, 5)}

            t(f"bloom rates {label}", rates)

            def gated(fl=flagged, h=hist):
                fresh = fl.filter(~F.col("maybe_present")).drop(
                    "maybe_present"
                )
                checked = (
                    fl.filter(F.col("maybe_present"))
                    .drop("maybe_present")
                    .join(h, "digest", "left_anti")
                )
                return fresh.unionByName(checked).count()

            def plain(inc=incoming, h=hist):
                return inc.join(h, "digest", "left_anti").count()

            n_gated = t(f"bloom gated anti-join {label}", gated)
            n_plain = t(f"bloom plain anti-join {label}", plain)
            assert n_gated == n_plain, (n_gated, n_plain)

    if "pq" in want:
        # PQ + IVFADC at scale: train (one rounded Lloyd step over the
        # exploded subvector frame), the compressed-domain ADC scan,
        # the IVFADC composition, and the brute-force baseline.
        emb100 = spark.read.parquet(f"{S100}/embeddings.parquet")
        emb1000 = spark.read.parquet(f"{S1000}/embeddings.parquet")
        for label, emb in (("100x", emb100), ("1000x", emb1000)):
            qv = [
                float(x)
                for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]
            ]
            books = {}

            def train(e=emb):
                b = S.pq_train(e, "embedding", m_sub=8, k_codes=16, iters=1)
                return len(b)

            t(f"pq train {label}", train)
            books = S.pq_train(emb, "embedding", m_sub=8, k_codes=16, iters=1)
            t(
                f"pq adc topk {label}",
                lambda e=emb, b=books: S.pq_topk(
                    e, "embedding", qv, b, k=10
                ).count(),
            )
            t(
                f"pq refine topk {label}",
                lambda e=emb, b=books: S.pq_refine_topk(
                    e, "embedding", qv, b, k=10, refine=100
                ).count(),
            )
            t(
                f"ivfpq e2e {label}",
                lambda e=emb: S.ivf_pq_topk(
                    e, "embedding", qv, k=10, k_lists=16, nprobe=4
                ).count(),
            )
            t(
                f"brute force topk {label}",
                lambda e=emb: S.brute_force_topk(
                    e, "embedding", qv, k=10
                ).count(),
            )
            # the REAL deployment shape: codes persisted once, the
            # query scans ONLY the m-byte code column (32x less I/O
            # than the raw vectors; locally the win is the 8-term
            # lookup fold vs the 64-mult dot product)
            path = f"/tmp/pq_codes_{label}"
            S.pq_encode(emb, "embedding", books, "codes").select(
                "vec_id", "codes"
            ).write.mode("overwrite").parquet(path)
            coded = spark.read.parquet(path)
            t(
                f"pq adc persisted-codes {label}",
                lambda c=coded, b=books: S.pq_topk(
                    c, "codes", qv, b, k=10, code_col="codes"
                ).count(),
            )

    if "neardup" in want:
        # per-modality near-dup at scale (r10, VERDICT r9 task 8): the
        # banded-Hamming join must stay collision-bound — candidate
        # pairs (same 16-bit band value) should grow ~linearly in the
        # corpus until buckets saturate, never quadratically; every
        # engineered sibling pair (2b, 2b+1) must be found.
        from cloud_optimized_data_pipelines_spark.batching import probe_table
        from cloud_optimized_data_pipelines_spark.operators.multimodal import (
            AFP_PROBE_SCHEMA,
            PHASH_PROBE_SCHEMA,
            VFP_PROBE_SCHEMA,
            _afp_variant,
            _phash_variant,
            _vfp_variant,
            image_near_dup_pairs,
        )

        MODES = (
            ("image", _phash_variant, PHASH_PROBE_SCHEMA,
             "phash_hi", "phash_lo"),
            ("audio", _afp_variant, AFP_PROBE_SCHEMA, "afp_hi", "afp_lo"),
            ("video", _vfp_variant, VFP_PROBE_SCHEMA, "vfp_hi", "vfp_lo"),
        )
        for mode, variant_fn, schema, hi, lo in MODES:
            for nv in (160, 1600, 16000):
                probe = probe_table(spark, variant_fn, schema, nv)
                probe = probe.localCheckpoint(eager=True)
                # candidate mass: per (band, value) bucket n*(n-1)/2 —
                # the join's true input size, counted without running it
                bands = probe.select(
                    F.posexplode(
                        F.array(
                            F.shiftright(F.col(hi), 16).bitwiseAND(F.lit(0xFFFF)),
                            F.col(hi).bitwiseAND(F.lit(0xFFFF)),
                            F.shiftright(F.col(lo), 16).bitwiseAND(F.lit(0xFFFF)),
                            F.col(lo).bitwiseAND(F.lit(0xFFFF)),
                        )
                    ).alias("band", "val")
                )
                cand = (
                    bands.groupBy("band", "val")
                    .count()
                    .agg(F.sum(F.col("count") * (F.col("count") - 1) / 2))
                    .collect()[0][0]
                )
                pairs = image_near_dup_pairs(
                    probe, "variant", hi, lo
                )
                got = {
                    (r["id_a"], r["id_b"]) for r in pairs.collect()
                }
                engineered = {
                    (2 * b, 2 * b + 1) for b in range(nv // 2)
                }
                found = len(engineered & got)
                t(
                    f"neardup {mode} V={nv}",
                    lambda p=pairs: p.count(),
                )
                print(
                    f"PROBE neardup {mode} V={nv}: candidates={int(cand)}"
                    f" verified_pairs={len(got)}"
                    f" engineered_found={found}/{nv // 2}",
                    flush=True,
                )
                probe.unpersist()

    if "adaptive" in want:
        # r11 (VERDICT r10 task 1): the scale-ADAPTIVE banded join —
        # band width derived from corpus size via band_geometry — must
        # hold candidate mass ~flat per item where the fixed 4x16-bit
        # scheme grows it ~n^2/2^16, at V=16k and the decade V=160k;
        # engineered sibling recall must be exact (pairs within h=3).
        from functools import partial

        from cloud_optimized_data_pipelines_spark.batching import probe_table
        from cloud_optimized_data_pipelines_spark.operators.multimodal import (
            _WIDE_GRIDS,
            PHASH_WIDE_PROBE_SCHEMA,
            _phash_wide_raster,
            _phash_wide_variant,
            ahash_wide,
            band_geometry,
            banded_hamming_pairs,
        )

        def bucket_candidates(banded):
            return int(
                banded.groupBy("band", "val")
                .count()
                .agg(F.sum(F.col("count") * (F.col("count") - 1) / 2))
                .collect()[0][0]
            )

        for nv in (16_000, 160_000):
            words, bands_n, width = band_geometry(nv, 3)
            rows, cols = _WIDE_GRIDS[words]
            probe = probe_table(
                spark,
                partial(_phash_wide_variant, rows=rows, cols=cols,
                        real_bytes=False),
                PHASH_WIDE_PROBE_SCHEMA, nv,
            ).localCheckpoint(eager=True)
            bpwd = 60 // width
            mask = (1 << width) - 1
            banded = probe.select(
                F.posexplode(
                    F.array(
                        *[
                            F.shiftright(F.col("fp")[w], b * width)
                            .bitwiseAND(F.lit(mask))
                            for w in range(words)
                            for b in range(bpwd)
                        ]
                    )
                ).alias("band", "val")
            )
            cand_adaptive = bucket_candidates(banded)
            # fixed 4x16 comparison on the SAME corpus (64-bit words
            # sliced to 16-bit bands — the r10 scheme's key space)
            fixed = probe.select(
                F.posexplode(
                    F.array(
                        *[
                            F.shiftright(F.col("fp")[0], s)
                            .bitwiseAND(F.lit(0xFFFF))
                            for s in (44, 28, 12)
                        ]
                    )
                ).alias("band", "val")
            )
            cand_fixed_per_band = bucket_candidates(fixed) / 3.0
            pairs = banded_hamming_pairs(
                probe, "variant", "fp",
                num_bands=bands_n, width=width, max_hamming=3,
            )
            n_pairs = t(
                f"adaptive pairs V={nv} (w={width} b={bands_n})",
                lambda p=pairs: p.count(),
            )
            got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
            # sibling ground truth: true hamming of (2b, 2b+1) <= 3?
            missing = 0
            expected = 0
            import numpy as _np

            for b in range(0, nv, max(2, (nv // 4000) * 2)):  # sample
                fa = ahash_wide(_phash_wide_raster(b), rows, cols)
                fb = ahash_wide(_phash_wide_raster(b + 1), rows, cols)
                hm = sum(bin(x ^ y).count("1") for x, y in zip(fa, fb))
                if hm <= 3:
                    expected += 1
                    if (b, b + 1) not in got:
                        missing += 1
            print(
                f"PROBE adaptive V={nv}: width={width} bands={bands_n}"
                f" cand_per_band_adaptive={int(cand_adaptive / bands_n)}"
                f" cand_per_band_fixed16={int(cand_fixed_per_band)}"
                f" verified_pairs={n_pairs}"
                f" sampled_sibling_recall={expected - missing}/{expected}",
                flush=True,
            )
            probe.unpersist()

        # structure-free comparison: the formula corpus above has only
        # ~63k distinct rasters (two linear factors mod 251), so true
        # near-dup mass dominates candidates in EVERY scheme there.
        # Random 120-bit fingerprints isolate what banding actually
        # controls — RANDOM collisions: n^2/2^17 per 16-bit band vs
        # n^2/2^31 per 30-bit band.
        for nv in (160_000, 1_600_000):
            words, bands_n, width = band_geometry(nv, 3)
            mask60 = (1 << 60) - 1
            rnd = spark.range(nv).select(
                "id",
                F.array(
                    *[
                        F.xxhash64(F.col("id"), F.lit(w)).bitwiseAND(
                            F.lit(mask60)
                        )
                        for w in range(words)
                    ]
                ).alias("fp"),
            )
            bpwd = 60 // width
            maskw = (1 << width) - 1
            adaptive_bands = rnd.select(
                F.posexplode(
                    F.array(
                        *[
                            F.shiftright(F.col("fp")[w], b * width)
                            .bitwiseAND(F.lit(maskw))
                            for w in range(words)
                            for b in range(bpwd)
                        ]
                    )
                ).alias("band", "val")
            )
            fixed_bands = rnd.select(
                F.posexplode(
                    F.array(
                        *[
                            F.shiftright(F.col("fp")[0], s)
                            .bitwiseAND(F.lit(0xFFFF))
                            for s in (44, 28, 12)
                        ]
                    )
                ).alias("band", "val")
            )
            ca = bucket_candidates(adaptive_bands) / bands_n
            cf = bucket_candidates(fixed_bands) / 3.0
            print(
                f"PROBE adaptive-random V={nv}: width={width}"
                f" cand_per_band_adaptive={ca:.1f}"
                f" cand_per_band_fixed16={cf:.0f}"
                f" ratio={cf / max(ca, 0.01):.0f}x",
                flush=True,
            )

    if "corpus" in want:
        # r11 (VERDICT r10 task 6): the composed 4-stage corpus
        # pipeline end-to-end at 500k and 5M docs — per-stage wall
        # times (each stage forced independently), the one-lazy-plan
        # composition, and the survivorship counts cross-checked
        # against an independent staged aggregation (expected selected
        # = sum over sources of min(eligible, cap)).
        from cloud_optimized_data_pipelines_spark.functions.text import (
            detect_language,
        )
        from cloud_optimized_data_pipelines_spark.operators.quality import (
            gopher_quality_flags,
        )
        from cloud_optimized_data_pipelines_spark.plans.corpus import (
            corpus_preprocess,
        )

        CAP = 1000
        # PLAIN replicas (not --perturb): the tag-suffixed perturbed
        # text defeats the language heuristic (every word carries
        # '_rNN'), and plain replication is exactly the crawl-duplicate
        # regime the exact-dedup stage exists for.
        docs100p = spark.read.parquet(
            "/tmp/scale100plain/documents.parquet"
        )
        docs1000p = spark.read.parquet(
            "/tmp/scale1000plain/documents.parquet"
        )
        for label, docs in (("500k", docs100p), ("5M", docs1000p)):
            t(
                f"corpus stage lang {label}",
                lambda d=docs: d.filter(
                    detect_language(F.col("text")) == "en"
                ).count(),
            )
            t(
                f"corpus stage exact-dedup {label}",
                lambda d=docs: d.withColumn("_h", F.md5("text"))
                .groupBy("_h")
                .agg(F.min("doc_id"))
                .count(),
            )
            t(
                f"corpus stage quality {label}",
                lambda d=docs: gopher_quality_flags(d, "doc_id", "text")
                .filter(F.col("keep"))
                .count(),
            )
            out = corpus_preprocess(docs, max_per_source=CAP)
            row = t(
                f"corpus composed e2e {label}",
                lambda o=out: o.agg(
                    F.count(F.lit(1)).alias("total"),
                    F.sum(F.col("lang_ok").cast("long")).alias("lang"),
                    F.sum(F.col("is_canonical").cast("long")).alias(
                        "canon"
                    ),
                    F.sum(F.col("quality_ok").cast("long")).alias("qual"),
                    F.sum(F.col("eligible").cast("long")).alias("elig"),
                    F.sum(F.col("selected").cast("long")).alias("sel"),
                ).collect()[0],
            )
            # independent staged cross-check of the cap stage
            expected_sel = (
                out.filter(F.col("eligible"))
                .groupBy("source")
                .count()
                .agg(F.sum(F.least(F.col("count"), F.lit(CAP))))
                .collect()[0][0]
            ) or 0
            ok = expected_sel == row["sel"]
            print(
                f"PROBE corpus survivorship {label}: total={row['total']}"
                f" lang={row['lang']} canon={row['canon']}"
                f" quality={row['qual']} eligible={row['elig']}"
                f" selected={row['sel']}"
                f" staged_expected_selected={expected_sel}"
                f" MATCH={ok}",
                flush=True,
            )
            assert ok, "cap stage diverges from the staged aggregation"

    if "wordpiece" in want:
        # r11 (VERDICT r10 task 4): a BERT-realistic 30k-entry corpus-
        # derived vocabulary through the Arrow memo path at 500k docs.
        # The replicated sf corpus has only ~32 distinct [a-z]+ words
        # (digit-bearing tag tokens collapse under the word regex), so
        # a Zipf corpus is synthesized on executors: 200k-word type
        # space, exponent ~1.3 — the realistic regime where the memo
        # hit rate is high but NOT 1.0 and out-of-vocab words walk the
        # char-piece path.
        import numpy as _np

        from cloud_optimized_data_pipelines_spark.operators.wordpiece import (
            wordpiece_stats,
            wordpiece_vocab_from_corpus,
        )

        N_TYPES = 200_000
        WPD = 100

        def _word_table():
            alpha = "abcdefghijklmnopqrstuvwxyz"
            tbl = []
            for i in range(N_TYPES):
                v, s = i, ""
                while True:
                    s += alpha[v % 26]
                    v //= 26
                    if not v:
                        break
                tbl.append("w" + s)
            return tbl

        def gen(batches):
            import pandas as _pd

            tbl = _np.array(_word_table())
            for pdf in batches:
                ids = pdf["id"].to_numpy()
                texts = []
                for did in ids:
                    rr = _np.random.default_rng(int(did))
                    ranks = _np.minimum(
                        rr.zipf(1.3, WPD) - 1, N_TYPES - 1
                    )
                    texts.append(" ".join(tbl[ranks]))
                yield _pd.DataFrame({"doc_id": ids, "text": texts})

        zipf_docs = spark.range(500_000).mapInPandas(
            gen, "doc_id long, text string"
        ).localCheckpoint(eager=True)
        t0 = time.time()
        vocab = wordpiece_vocab_from_corpus(
            zipf_docs, "text", top_k=30_000,
            base_chars="abcdefghijklmnopqrstuvwxyz",
        )
        t_vocab = time.time() - t0
        stats = wordpiece_stats(zipf_docs, "doc_id", "text", vocab)
        t0 = time.time()
        row = stats.agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum("n_words").alias("words"),
            F.sum("n_pieces").alias("pieces"),
            F.sum("n_unk").alias("unk"),
        ).collect()[0]
        t_stats = time.time() - t0
        dist = (
            zipf_docs.select(
                F.explode(F.split("text", " ")).alias("w")
            ).distinct().count()
        )
        tot = row["words"]
        print(
            f"PROBE wordpiece 30k-vocab 500k-docs zipf: vocab={len(vocab)}"
            f" build={t_vocab:.1f}s stats={t_stats:.1f}s"
            f" docs={row['docs']} words={tot} pieces={row['pieces']}"
            f" unk={row['unk']} distinct_words={dist}"
            f" words_per_sec={tot / max(t_stats, 1e-9):,.0f}"
            f" corpus_memo_hit_rate={1 - dist / max(tot, 1):.4f}",
            flush=True,
        )
        zipf_docs.unpersist()

    if "clf" in want:
        # GD classifier training at scale: each step is one distributed
        # pass (margin fold + 64-group gradient), so wall time should
        # be ~linear in corpus size and exactly linear in iters.
        from cloud_optimized_data_pipelines_spark.functions.text import (
            tokens,
        )
        from cloud_optimized_data_pipelines_spark.operators.quality import (
            train_quality_classifier,
        )

        for label, docs in (("100x", docs100), ("1000x", docs1000)):
            tk = tokens("text")
            # the perturbed corpora tag every token with its replica
            # index ('the' -> 'the_r12'), so match the BASE form —
            # otherwise the label degenerates to all-zero
            stop = F.size(
                F.filter(
                    tk,
                    lambda x: F.lower(x).rlike(r"^(the|a)(_r\d+)?$"),
                )
            )
            labeled = docs.withColumn(
                "label",
                ((F.size(tk) > 0) & (stop * 16 >= F.size(tk))).cast("int"),
            )
            pos = labeled.filter("label = 1").count()
            total = labeled.count()
            print(
                f"PROBE clf label balance {label}: {pos}/{total}",
                flush=True,
            )

            def run(d=labeled, n_all=total, n_pos=pos):
                scored, w = train_quality_classifier(
                    d, "doc_id", "text", "label", iters=2, lr=128.0
                )
                n = scored.filter(
                    F.col("pred").cast("int") == F.col("label")
                ).count()
                return {
                    "acc": round(n / n_all, 4),
                    "baseline": round(max(n_pos, n_all - n_pos) / n_all, 4),
                    "nonzero_w": sum(1 for x in w if x),
                }

            t(f"clf train 2 iters {label}", run)

            # n_features='auto' (r10): hash space sized >= 4x the
            # approx-distinct vocabulary so collisions can't wash out
            # the signal — the fix for the r9 finding that 64 buckets
            # train to baseline accuracy at a 30k-token vocabulary
            def run_auto(d=labeled, n_all=total, n_pos=pos):
                scored, w = train_quality_classifier(
                    d, "doc_id", "text", "label", iters=2, lr=128.0,
                    n_features="auto",
                )
                n = scored.filter(
                    F.col("pred").cast("int") == F.col("label")
                ).count()
                return {
                    "acc": round(n / n_all, 4),
                    "baseline": round(max(n_pos, n_all - n_pos) / n_all, 4),
                    "n_features": len(w),
                    "nonzero_w": sum(1 for x in w if x),
                }

            t(f"clf train 2 iters AUTO {label}", run_auto)


if __name__ == "__main__":
    main()
