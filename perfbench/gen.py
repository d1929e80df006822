"""Seeded input generators for the three benchmark workloads.

Every generator writes its inputs under a directory and returns the
ground truth the checks compare against.  Nothing here starts Spark:
the program under test only ever sees the files.  The same seed gives
byte-identical files (``digest_tree`` proves it in set-up).
"""

from __future__ import annotations

import hashlib
import os
from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from cloud_optimized_data_pipelines_spark.functions.text import LANG_ORDER, LANG_STOPWORDS
from cloud_optimized_data_pipelines_spark.sources.netcdf_classic import write_classic

# Sizes and shares.  BENCHMARK.json states them per workload; NOTES.md
# explains why they are smaller than the first sizing sketch.
STAC_KEYS = 64_000  # inventory rows over the four S3 collections
STAC_DECOY_FRAC = 0.10  # keys failing the prefix or the filename regex
STAC_NODATE_FRAC = 0.01  # keys passing the regex with no parseable date
STAC_PRESENT_FRAC = 1 / 3  # upload targets already in the target bucket
CMR_GRANULES = 4_000
CMR_DECOY_GRANULE_FRAC = 0.10  # other collection or other version

COG_GRANULES = 200  # 20 queue files of 10 events (SQS batch size 10)
COG_EVENTS_PER_FILE = 10
COG_TRUNCATED_FRAC = 0.02  # truncated granules -> per-record errors
COG_SHAPE = (180, 180)

CORPUS_DOCS = 10_000
CORPUS_CAP = 1_000  # per-source cap; binds on the dominant source only

TARGET_BUCKET = "veda-data-store"
SRC_BUCKET = "veda-data-store-staging"
FILES_PER_TABLE = 8


def _write_parquet(table: pa.Table, out_dir: str, files: int = FILES_PER_TABLE) -> None:
    os.makedirs(out_dir, exist_ok=True)
    n = table.num_rows
    for i in range(files):
        lo, hi = n * i // files, n * (i + 1) // files
        pq.write_table(
            table.slice(lo, hi - lo),
            os.path.join(out_dir, f"part-{i:03d}.parquet"),
            compression="snappy",
        )


def digest_tree(root: str) -> str:
    """sha256 over relative paths and bytes of every file under root."""
    h = hashlib.sha256()
    for dirpath, dirnames, files in os.walk(root):
        dirnames.sort()
        for f in sorted(files):
            p = os.path.join(dirpath, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


# --------------------------------------------------------------------------
# stac_catalog
# --------------------------------------------------------------------------

# (collection, key template with {t} tile and {d} date, date format,
#  datetime_range, id_regex, filename_regex).  One filename date format per
#  collection: the four formats of the reference's regex.py.
STAC_COLLECTIONS = [
    ("no2-monthly", "no2-monthly/OMI_trno2_h{t}_{d}_Col3_V4.tif", "%Y%m", "month", None,
     r"no2-monthly/OMI_trno2_h[0-9]+_[0-9A-Za-z]+_Col3_V4\.tif$"),
    ("ndvi-daily", "ndvi-daily/MOD13_t{t}_{d}_v6.tif", "%Y-%m-%d", None, None,
     r"ndvi-daily/MOD13_t[0-9]+_[0-9A-Za-z-]+_v6\.tif$"),
    ("sst-8day", "sst-8day/sst_t{t}_{d}_L3.tif", "%Y%m%d", None,
     r"s3://[^/]+/sst-8day/(sst)_(t[0-9]+)_([0-9A-Za-z]+)_L3\.tif$",
     r"sst-8day/sst_t[0-9]+_[0-9A-Za-z]+_L3\.tif$"),
    ("fire-annual", "fire-annual/burned_t{t}_{d}_global.tif", "%Y", "year", None,
     r"fire-annual/burned_t[0-9]+_[0-9A-Za-z]+_global\.tif$"),
]
CMR_COLLECTION, CMR_VERSION = "OMDOAO3e", "003"
DATA_REL = "http://esipfed.org/ns/fedsearch/1.1/data#"


def stac_specs() -> list[dict]:
    """The pipeline input events: four S3 discoveries and one CMR query."""
    specs = []
    for coll, _, _, rng, id_regex, filename_regex in STAC_COLLECTIONS:
        specs.append(
            dict(
                collection=coll,
                discovery="s3",
                prefix=coll + "/",
                bucket=SRC_BUCKET,
                filename_regex=filename_regex,
                datetime_range=rng,
                id_regex=id_regex,
                upload=True,
            )
        )
    specs.append(
        dict(
            collection=CMR_COLLECTION,
            discovery="cmr",
            version=CMR_VERSION,
            mode="data",
            upload=False,
        )
    )
    return specs


def _dates(rng: np.random.Generator, n: int) -> tuple[np.ndarray, list[str]]:
    """n random days in 2003-2022, as datetime64[D] and 'YYYY-MM-DD'."""
    days = np.datetime64("2003-01-01") + rng.integers(0, 7000, n)
    return days, np.datetime_as_string(days, unit="D").tolist()


_FORMATS = {
    "%Y-%m-%d": lambda s: s,
    "%Y%m%d": lambda s: s.replace("-", ""),
    "%Y%m": lambda s: s[:4] + s[5:7],
    "%Y": lambda s: s[:4],
}


def gen_stac(out: str, seed: int) -> dict:
    rng = np.random.default_rng([seed, 1])
    n_decoy = int(STAC_KEYS * STAC_DECOY_FRAC)
    n_nodate = int(STAC_KEYS * STAC_NODATE_FRAC)
    n_valid = STAC_KEYS - n_decoy - n_nodate
    keys: list[str] = []
    uploads: list[tuple[str, str]] = []  # (collection, basename) of kept keys
    tile = 0
    for ci, (coll, tmpl, fmt, *_) in enumerate(STAC_COLLECTIONS):
        nv = n_valid // 4 + (1 if ci < n_valid % 4 else 0)
        nn = n_nodate // 4 + (1 if ci < n_nodate % 4 else 0)
        fmt_fn = _FORMATS[fmt]
        keys += [
            tmpl.format(t=f"{tile + j:07d}", d=fmt_fn(d))
            for j, d in enumerate(_dates(rng, nv)[1])
        ]
        tile += nv
        for _ in range(nn):
            keys.append(tmpl.format(t=f"{tile:07d}", d="latest"))
            tile += 1
        uploads += [(coll, k.rsplit("/", 1)[1]) for k in keys[-(nv + nn):]]
    for i, d in enumerate(_dates(rng, n_decoy)[1]):
        coll, tmpl, fmt, *_ = STAC_COLLECTIONS[i % 4]
        key = tmpl.format(t=f"{tile:07d}", d=_FORMATS[fmt](d))
        tile += 1
        # half fail the filename regex (sidecars), half fail the prefix
        keys.append(key + ".aux.xml" if i % 2 else "scratch/" + key)
    order = rng.permutation(len(keys))
    keys = [keys[i] for i in order]
    sizes = rng.integers(1 << 16, 1 << 26, len(keys))
    mtimes = rng.integers(1_600_000_000, 1_700_000_000, len(keys)) * 1_000_000
    inv = pa.table(
        {
            "bucket": pa.array([SRC_BUCKET] * len(keys)),
            "key": pa.array(keys),
            "size": pa.array(sizes, pa.int64()),
            "last_modified": pa.array(mtimes, pa.timestamp("us")),
        }
    )
    _write_parquet(inv, os.path.join(out, "inventory"))

    present = rng.random(len(uploads)) < STAC_PRESENT_FRAC
    tkeys = [f"{c}/{b}" for (c, b), p in zip(uploads, present) if p]
    # noise the transfer join must not match: other bucket, unrelated keys
    noise = [f"scratch/other_{i}.tif" for i in range(len(tkeys) // 10)]
    target = pa.table(
        {
            "bucket": pa.array([TARGET_BUCKET] * (len(tkeys) + len(noise)) + ["elsewhere"] * 100),
            "key": pa.array(tkeys + noise + tkeys[:100]),
            "size": pa.array(np.full(len(tkeys) + len(noise) + 100, 1024), pa.int64()),
            "last_modified": pa.array(
                np.full(len(tkeys) + len(noise) + 100, 1_650_000_000_000_000), pa.timestamp("us")
            ),
        }
    )
    _write_parquet(target, os.path.join(out, "target_inventory"), files=2)

    days, day_str = _dates(rng, CMR_GRANULES)
    decoys = rng.random(CMR_GRANULES) < CMR_DECOY_GRANULE_FRAC
    n_cmr_ok = int((~decoys).sum())
    colls, vers, links = [], [], []
    for i, d in enumerate(day_str):
        coll, ver = (CMR_COLLECTION, CMR_VERSION)
        if decoys[i]:
            coll, ver = ("OMTO3d", "003") if i % 2 else (CMR_COLLECTION, "004")
        stamp = d.replace("-", "")
        colls.append(coll)
        vers.append(ver)
        base = f"{coll}.{ver}/{d[:4]}/OMI-Aura_L3-{coll}_{stamp}_v{ver}.he5"
        links.append(
            [
                {"rel": "http://esipfed.org/ns/fedsearch/1.1/browse#",
                 "href": f"https://acdisc.example/browse/{coll}_{stamp}.png"},
                {"rel": DATA_REL, "href": f"s3://gesdisc-cumulus-prod-protected/{base}"},
                {"rel": "http://esipfed.org/ns/fedsearch/1.1/metadata#",
                 "href": f"https://cmr.example/{coll}_{stamp}.stac.json"},
            ]
        )
    link_t = pa.list_(pa.struct([("rel", pa.string()), ("href", pa.string())]))
    granules = pa.table(
        {
            "granule_id": pa.array([f"G{2_000_000_000 + i}-GES_DISC" for i in range(CMR_GRANULES)]),
            "collection": pa.array(colls),
            "version": pa.array(vers),
            "time_start": pa.array(days.astype("datetime64[us]")),
            "time_end": pa.array((days + 1).astype("datetime64[us]")),
            "bbox": pa.array([[-180.0, -90.0, 180.0, 90.0]] * CMR_GRANULES, pa.list_(pa.float64())),
            "links": pa.array(links, link_t),
        }
    )
    _write_parquet(granules, os.path.join(out, "granules"), files=2)
    return {
        "input_rows": len(keys) + CMR_GRANULES,
        "items": n_valid + n_nodate + n_cmr_ok,
        "date_error": n_nodate,
        "needs_copy": int((~present).sum()),
    }


# --------------------------------------------------------------------------
# cogify_queue
# --------------------------------------------------------------------------

# collection -> (variable, packed as int16 with scale/offset?)
COG_COLLECTIONS = {"no2-daily": ("no2", False), "o3-daily": ("o3", True)}


def gen_cogify(out: str, seed: int, n: int = COG_GRANULES) -> dict:
    rng = np.random.default_rng([seed, 2])
    gdir = os.path.join(out, "granules")
    os.makedirs(gdir, exist_ok=True)
    ny, nx = COG_SHAPE
    lat = np.linspace(-89.5, 89.5, ny).astype("float32")
    lon = np.linspace(-179.5, 179.5, nx).astype("float32")
    n_bad = max(1, round(n * COG_TRUNCATED_FRAC))
    truncated = set(rng.choice(n, n_bad, replace=False).tolist())
    events = []
    for i, d in enumerate(_dates(rng, n)[1]):
        coll = ("no2-daily", "o3-daily")[i % 2]
        var, packed = COG_COLLECTIONS[coll]
        field = rng.standard_normal((ny, nx)).astype("float32") * 10 + 300
        field[rng.random((ny, nx)) < 0.02] = -9999.0
        if packed:
            raw = np.where(field == -9999.0, -32767, np.round((field - 300) / 0.01)).astype("int16")
            attrs = {"_FillValue": np.int16(-32767), "scale_factor": np.float32(0.01),
                     "add_offset": np.float32(300.0)}
        else:
            raw, attrs = field, {"_FillValue": np.float32(-9999.0)}
        buf = write_classic(
            {"lat": (lat, {"units": "degrees_north"}),
             "lon": (lon, {"units": "degrees_east"}),
             var: (raw, attrs)},
            dims=[("lat", ny), ("lon", nx)],
            var_dims={"lat": ["lat"], "lon": ["lon"], var: ["lat", "lon"]},
            version=5 if i % 3 == 0 else 1,
        )
        if i in truncated:
            buf = buf[: len(buf) // 2]
        name = f"{coll}/OMI-{var}_{d.replace('-', '')}_g{i:05d}.nc"
        path = os.path.join(gdir, name)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "wb") as fh:
            fh.write(buf)
        events.append((coll, name))
    return {
        "input_rows": n,
        "events": events,  # (collection, path relative to the granule dir)
        "items": n,
        "error_rows": n_bad,
        "date_error": 0,
    }


# --------------------------------------------------------------------------
# corpus_curate
# --------------------------------------------------------------------------

# stopwords each generated language uses: the detector's words minus the
# ones another language shares, so the intended language wins clearly
STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "it", "for", "was"],
    "es": ["el", "de", "y", "los", "del", "se", "las"],
    "de": ["der", "die", "und", "das", "ist", "von", "mit", "den", "im"],
    "fr": ["le", "et", "les", "des", "un", "du", "une"],
    "und": [],
}
# the detector's word lists, for the ground truth
_DETECT = {lang: set(words) for lang, words in LANG_STOPWORDS.items()}
_STOP_LANGS = {
    w: [i for i, lang in enumerate(LANG_ORDER) if w in _DETECT[lang]]
    for w in set().union(*_DETECT.values())
}
LANG_SHARES = [("en", 0.70), ("es", 0.09), ("de", 0.08), ("fr", 0.07), ("und", 0.06)]
N_SOURCES = 16
DOMINANT_SHARE = 0.40
EXACT_DUP_FRAC = 0.15
NEAR_DUP_FRAC = 0.10
LOW_QUALITY_FRAC = 0.08


def _vocab(rng: np.random.Generator, n: int = 30_000) -> np.ndarray:
    """n distinct filler words of 2-4 consonant-vowel syllables, none of
    them a detector stopword."""
    syll = np.array([c + v for c in "bcdfghjklmnpqrstvwxz" for v in "aeiouy"])
    parts = syll[rng.integers(0, len(syll), (3 * n, 4))].tolist()
    lens = rng.integers(2, 5, 3 * n).tolist()
    banned = set().union(*_DETECT.values())
    words = dict.fromkeys("".join(p[:k]) for p, k in zip(parts, lens))
    words = [w for w in words if w not in banned][:n]
    if len(words) < n:
        raise RuntimeError(f"vocabulary has {len(words)} distinct words, wanted {n}")
    return np.array(sorted(words))


def _truth(text: str) -> tuple[bool, bool]:
    """(detected language is en, passes the quality rules) for one text,
    mirroring detect_language and gopher_quality_flags on single-space
    joined lowercase words."""
    words = text.split(" ")
    counts = Counter(words)
    hits = [0] * len(LANG_ORDER)
    for w in _STOP_LANGS.keys() & counts.keys():
        for i in _STOP_LANGS[w]:
            hits[i] += counts[w]
    best = max(hits)
    lang = LANG_ORDER[hits.index(best)] if best > 0 else "und"
    n = len(words)
    mean_len = (len(text) - (n - 1)) / n
    quality = (
        50 <= n <= 100_000
        and 3.0 <= mean_len <= 10.0
        and max(counts.values()) / n < 0.2
    )
    return lang == "en", quality


def gen_corpus(out: str, seed: int) -> dict:
    rng = np.random.default_rng([seed, 3])
    vocab = _vocab(rng)
    n = CORPUS_DOCS
    n_exact = int(n * EXACT_DUP_FRAC)
    n_near = int(n * NEAR_DUP_FRAC)
    n_base = n - n_exact - n_near

    langs = rng.choice(
        [l for l, _ in LANG_SHARES], n_base, p=[s for _, s in LANG_SHARES]
    )
    low_q = rng.random(n_base) < LOW_QUALITY_FRAC
    short = low_q & (np.arange(n_base) % 2 == 1)  # under 50 words
    repetitive = low_q & ~short  # one word above 20% of the text
    lengths = np.where(short, rng.integers(20, 45, n_base), rng.integers(60, 130, n_base))
    offs = np.concatenate([[0], np.cumsum(lengths)])
    doc_of = np.repeat(np.arange(n_base), lengths)
    words = vocab[rng.integers(0, len(vocab), offs[-1])].astype(object)
    is_sw = rng.random(offs[-1]) < 1 / 7
    pick = rng.integers(0, 70, offs[-1])
    word_lang = langs[doc_of]
    for lang, sw in STOPWORDS.items():
        m = is_sw & (word_lang == lang)
        if sw:
            words[m] = np.array(sw, dtype=object)[pick[m] % len(sw)]
    rep_mask = repetitive[doc_of] & (rng.random(offs[-1]) < 0.35)
    words[rep_mask] = words[offs[doc_of[rep_mask]]]
    texts = [" ".join(words[offs[i]:offs[i + 1]]) for i in range(n_base)]
    # near-duplicates: one distinct base each, its middle word replaced
    near_bases = rng.choice(n_base, n_near, replace=False)
    for b in near_bases:
        words = texts[b].split(" ")
        words[len(words) // 2] = vocab[int(rng.integers(0, len(vocab)))]
        texts.append(" ".join(words))
    # exact duplicates copy bases that have no near-duplicate
    free = np.setdiff1d(np.arange(n_base), near_bases)
    texts += [texts[b] for b in rng.choice(free, n_exact)]

    # doc ids: a permutation so duplicates are not always the higher id
    ids = (rng.permutation(n) * 7 + 1_000_003).astype(np.int64)
    src_idx = np.where(
        rng.random(n) < DOMINANT_SHARE, 0, rng.integers(1, N_SOURCES, n)
    )
    # near-dup pairs live in uncapped sources, so both sides are selected
    # whenever both are eligible and the expected removals are countable
    for j, b in enumerate(near_bases):
        src_idx[b] = src_idx[n_base + j] = 1 + (j % (N_SOURCES - 1))
    sources = np.array([f"src{k:02d}" for k in src_idx])

    # ground truth, mirroring the stage definitions
    canon: dict[str, int] = {}
    for t, d in zip(texts, ids):
        if t not in canon or d < canon[t]:
            canon[t] = int(d)
    truth = {t: _truth(t) for t in canon}
    eligible = np.array(
        [truth[t][0] and truth[t][1] and canon[t] == d for t, d in zip(texts, ids)]
    )
    per_source = {}
    for s, e in zip(sources, eligible):
        per_source[s] = per_source.get(s, 0) + int(e)
    selected = sum(min(v, CORPUS_CAP) for v in per_source.values())
    if max(v for s, v in per_source.items() if s != "src00") >= CORPUS_CAP:
        raise RuntimeError("the per-source cap binds beyond the dominant source")
    near_pairs = sum(
        1 for j, b in enumerate(near_bases) if eligible[b] and eligible[n_base + j]
    )
    order = rng.permutation(n)
    table = pa.table(
        {
            "doc_id": pa.array(ids[order], pa.int64()),
            "source": pa.array(sources[order]),
            "text": pa.array([texts[i] for i in order]),
        }
    )
    _write_parquet(table, os.path.join(out, "docs"))
    return {
        "input_rows": n,
        "canonical": len(canon),
        "eligible": int(eligible.sum()),
        "selected": selected,
        "near_pairs": near_pairs,
    }


GENERATORS = {"stac_catalog": gen_stac, "cogify_queue": gen_cogify, "corpus_curate": gen_corpus}
