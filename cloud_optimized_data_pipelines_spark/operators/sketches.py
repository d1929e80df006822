"""Mergeable sketches — the pre-aggregation layer a 100 TB engine needs.

Exact distinct counts and heavy hitters over 100 TB require a shuffle of
every key; sketches replace that with fixed-size mergeable state that
rolls up like any other partial aggregate (per file, per day, per
partition), then merges cheaply at query time.

Three tiers, by guarantee:

- **KMV (k-minimum-values)** distinct sketch: the k smallest portable
  (md5-based) hash values of the distinct keys.  Merge = k smallest of
  the distinct union — *exactly* equals the sketch built in one pass,
  so the daily-partial path is bit-identical to the direct path and the
  DuckDB oracle can verify it cross-engine.  Estimate: (k-1)/u_k.
- **CMS (count-min sketch)** frequency sketch, built as a DataFrame
  (depth × width counter grid via groupBy) from the same portable hash
  family — deterministic across engines, so estimates (not just error
  bounds) hash-match the oracle.  Point estimates only ever
  OVER-count (min over depth rows of colliding counters).
- **DataSketches HLL** (`hll_sketch_agg`/`hll_union_agg`): the
  production-scale path — 2-4 KB state per group at any cardinality,
  JVM-side, mergeable.  Opaque binary (no cross-engine oracle), so it
  is accuracy-gated in pytest against exact counts instead.

All three are pure DataFrame plans: partial aggregation map-side, one
shuffle on the group keys, no Python in the hot path.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

TWO_32 = float(1 << 32)


def portable_hash32(col: Column | str, salt: Column | None = None) -> Column:
    """Uniform hash in [0, 2^32) from md5 — bit-identical in DuckDB via
    ('0x' || substr(md5(x), 1, 8))::BIGINT (see sampling.hash_bucket)."""
    c = F.col(col) if isinstance(col, str) else col
    s = c.cast("string")
    if salt is not None:
        s = F.concat(salt.cast("string"), F.lit(":"), s)
    return F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long")


# ---------------------------------------------------------------------------
# KMV distinct sketch
# ---------------------------------------------------------------------------


def kmv_partial(
    df: DataFrame,
    key: str,
    dims: Sequence[str] = (),
    k: int = 64,
    out: str = "kmv",
) -> DataFrame:
    """Per-dims partial sketch: sorted array of the k smallest distinct
    32-bit hashes of ``key``.  Fixed ≤k longs of state per group."""
    h = portable_hash32(key)
    return df.groupBy(*dims).agg(
        F.slice(F.array_sort(F.collect_set(h)), 1, k).alias(out)
    )


def kmv_merge(
    partials: DataFrame,
    dims: Sequence[str] = (),
    k: int = 64,
    col: str = "kmv",
) -> DataFrame:
    """Merge partial sketches (k smallest of the distinct union) —
    exactly the sketch a single pass over the union would build."""
    merged = F.slice(
        F.array_sort(F.array_distinct(F.flatten(F.collect_list(col)))), 1, k
    )
    return partials.groupBy(*dims).agg(merged.alias(col))


def kmv_estimate(sketch: Column | str, k: int = 64) -> Column:
    """Distinct-count estimate: exact when the group had < k distinct
    keys (the sketch IS the distinct hash set), else (k-1)/u_k with
    u_k = kth smallest hash normalized to (0,1]."""
    s = F.col(sketch) if isinstance(sketch, str) else sketch
    kth = F.element_at(s, k).cast("double")
    return F.when(F.size(s) < k, F.size(s).cast("double")).otherwise(
        F.lit(float(k - 1)) * F.lit(TWO_32) / kth
    )


# ---------------------------------------------------------------------------
# Count-min sketch (DataFrame-native, portable hash family)
# ---------------------------------------------------------------------------


def cms_build(
    df: DataFrame, key: str, depth: int = 4, width: int = 512
) -> DataFrame:
    """The sketch as a (row_idx, bucket) → count grid: depth×width cells
    regardless of input size.  One explode (map-side, no extra shuffle
    beyond the cell groupBy) + partial-aggregated count."""
    i = F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("i")
    exploded = df.select(F.col(key), i)
    bucket = (portable_hash32(key, salt=F.col("i")) % width).alias("bucket")
    return exploded.groupBy("i", bucket).agg(F.count("*").alias("c"))


def cms_probe(
    sketch: DataFrame, keys: DataFrame, key: str, depth: int = 4, width: int = 512
) -> DataFrame:
    """Estimate each key's frequency: min over the depth rows of that
    key's counter cell.  ``keys`` is the candidate set; when it is a
    ``limit`` its size estimate is constant and the planner broadcasts
    the probe side.  Never over-counts less than truth."""
    i = F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("i")
    probes = keys.select("*", i).withColumn(
        "bucket", portable_hash32(key, salt=F.col("i")) % width
    )
    joined = sketch.join(probes, ["i", "bucket"])
    group_cols = [c for c in keys.columns]
    return joined.groupBy(*group_cols).agg(
        F.min("c").cast("long").alias("cms_estimate")
    )


# ---------------------------------------------------------------------------
# DataSketches HLL (production path)
# ---------------------------------------------------------------------------


def hll_partial(
    df: DataFrame, key: str, dims: Sequence[str] = (), lgk: int = 12
) -> DataFrame:
    """Per-dims HLL sketch binary (~2^lgk bytes cap) — store these in a
    rollup table; they merge across any partitioning of the input."""
    return df.groupBy(*dims).agg(
        F.hll_sketch_agg(F.col(key).cast("string"), F.lit(lgk)).alias("hll")
    )


def hll_merge_estimate(partials: DataFrame, dims: Sequence[str] = ()) -> DataFrame:
    """Union partial sketches and estimate distinct counts."""
    return partials.groupBy(*dims).agg(
        F.hll_sketch_estimate(
            F.hll_union_agg(F.col("hll"), F.lit(False))
        ).alias("est_uniques")
    )


# ---------------------------------------------------------------------------
# K-min-rank quantile sample (deterministic bottom-k sampling)
# ---------------------------------------------------------------------------


def kmin_sample_partial(
    df: DataFrame,
    id_col: str,
    value_col: str,
    dims: Sequence[str] = (),
    k: int = 64,
    out: str = "sample",
) -> DataFrame:
    """Per-dims quantile-sketch partial: the k rows with the SMALLEST
    md5 rank of ``id_col``, kept as a sorted array of (rank, value)
    structs.  Because md5 is a fixed uniform permutation of row ids,
    the kept rows are a uniform without-replacement sample — but
    deterministic (same input -> same sample on every engine, any
    partitioning), unlike reservoir sampling.  Fixed <= k state per
    group, mergeable like KMV: k-smallest-of-union == one-pass."""
    rank = F.md5(F.col(id_col).cast("string"))
    pair = F.struct(rank.alias("r"), F.col(value_col).cast("double").alias("v"))
    return df.groupBy(*dims).agg(
        F.slice(F.array_sort(F.collect_list(pair)), 1, k).alias(out)
    )


def kmin_sample_merge(
    partials: DataFrame,
    dims: Sequence[str] = (),
    k: int = 64,
    col: str = "sample",
) -> DataFrame:
    """Merge partials: k smallest ranks of the union — exactly the
    sample a single pass over the union would keep."""
    merged = F.slice(
        F.array_sort(F.flatten(F.collect_list(col))), 1, k
    )
    return partials.groupBy(*dims).agg(merged.alias(col))


def kmin_sample_quantile(sketch: Column | str, q: float) -> Column:
    """Quantile estimate from the sample: linear-interpolated
    percentile over the sampled values (matches percentile_cont /
    DuckDB quantile_cont semantics on doubles)."""
    s = F.col(sketch) if isinstance(sketch, str) else sketch
    vals = F.transform(s, lambda x: x["v"])
    n = F.size(vals)
    sorted_vals = F.array_sort(vals)
    pos = (n.cast("double") - F.lit(1.0)) * F.lit(float(q))
    lo = F.floor(pos).cast("int")
    hi = F.ceil(pos).cast("int")
    frac = pos - lo.cast("double")
    vlo = F.element_at(sorted_vals, lo + 1)
    vhi = F.element_at(sorted_vals, hi + 1)
    return vlo + (vhi - vlo) * frac


# ---------------------------------------------------------------------------
# Bloom filter — mergeable membership sketch
# ---------------------------------------------------------------------------


def bloom_partial(
    df: DataFrame,
    key: str,
    m_bits: int = 1 << 16,
    k_hashes: int = 4,
    dims: Sequence[str] = (),
) -> DataFrame:
    """Mergeable Bloom filter as a DataFrame: the crawler's "have we
    seen this URL" structure (Broder & Mitzenmacher 2004 survey), built
    from the engine's portable md5 hash family so the BITS are
    bit-identical across engines (DuckDB-oracle-checkable, like KMV).

    Representation: one row per non-zero word (63 usable bits per
    BIGINT word — the sign bit stays clear so DuckDB's checked left
    shift never overflows; cross-engine exactness beats 1.6% denser
    packing) —
    (dims..., word_idx BIGINT, bits BIGINT) — each key sets
    ``k_hashes`` positions ``portable_hash32(i || ':' || key) % m_bits``.
    Merge = ``bit_or`` over word_idx (associative + commutative +
    idempotent, so replayed partials never corrupt state — the same
    append-only property as the KMV/HLL partial tables, and re-adding
    a key is a no-op by construction).

    Scale shape: key explode (x k_hashes) -> map-side-combined
    ``bit_or`` groupBy bounded by ~m_bits/63 rows per dims-group —
    fixed-size state regardless of corpus size.  False-positive rate
    ~= (1 - e^(-k*n/m))^k; size m for the expected key count.
    """
    kc = F.col(key)
    pos = F.explode(
        F.transform(
            F.sequence(F.lit(0), F.lit(int(k_hashes) - 1)),
            lambda i: portable_hash32(kc, salt=i) % m_bits,
        )
    )
    exploded = df.select(*dims, pos.alias("_pos"))
    return (
        exploded.select(
            *dims,
            (F.col("_pos") / 63).cast("long").alias("word_idx"),
            F.expr("shiftleft(1L, CAST(_pos % 63 AS INT))").alias("_mask"),
        )
        .groupBy(*dims, "word_idx")
        .agg(F.expr("bit_or(_mask)").cast("long").alias("bits"))
    )


def bloom_merge(partials: DataFrame, dims: Sequence[str] = ()) -> DataFrame:
    """Union of bloom partials: ``bit_or`` per word — equals the filter
    built in one pass over the union (tested)."""
    return (
        partials.groupBy(*dims, "word_idx")
        .agg(F.expr("bit_or(bits)").cast("long").alias("bits"))
    )


def bloom_contains(
    bloom: DataFrame,
    probes: DataFrame,
    key: str,
    m_bits: int = 1 << 16,
    k_hashes: int = 4,
) -> DataFrame:
    """Membership test: a probe key is ``maybe_present`` iff ALL of its
    k bit positions are set (no false negatives; false positives at the
    designed rate).  Plan: probe explode -> equi-join on word_idx
    against the (broadcastable, <= m_bits/63-row) filter -> count hits
    per key == k_hashes."""
    kc = F.col(key)
    pos = F.explode(
        F.transform(
            F.sequence(F.lit(0), F.lit(int(k_hashes) - 1)),
            lambda i: portable_hash32(kc, salt=i) % m_bits,
        )
    )
    exp = probes.select(kc.alias("_k"), pos.alias("_pos")).select(
        "_k",
        (F.col("_pos") / 63).cast("long").alias("word_idx"),
        F.expr("shiftleft(1L, CAST(_pos % 63 AS INT))").alias("_mask"),
    )
    hits = (
        exp.join(F.broadcast(bloom), "word_idx", "left")
        .withColumn(
            "_hit",
            (F.col("bits").isNotNull()
             & (F.col("bits").bitwiseAND(F.col("_mask")) == F.col("_mask"))).cast("long"),
        )
        .groupBy("_k")
        .agg(F.sum("_hit").alias("_nhit"))
    )
    return probes.join(
        hits, probes[key] == hits["_k"]
    ).select(
        *probes.columns,
        (F.col("_nhit") == k_hashes).alias("maybe_present"),
    )


def portable_hll_registers(
    df: DataFrame,
    key,
    dims: Sequence[str] = (),
    p: int = 12,
) -> DataFrame:
    """Own-implementation HyperLogLog register table (Flajolet et al.
    2007) with a fully PORTABLE construction — unlike the opaque
    DataSketches binary of :func:`hll_partial`, every step is md5 +
    integer arithmetic that a SQL oracle replays exactly:

    - bucket  = first ``p/4`` hex chars of ``md5(key)`` (p bits);
    - w       = the NEXT 13 hex chars as a 52-bit integer (double-safe
      and BIGINT-safe on every engine);
    - rank    = leading zeros of w within 52 bits + 1
      (= ``53 - bitlength(w)``; w == 0 -> 53);
    - register M_j = MAX(rank) per (dims, bucket) — a plain map-side-
      combinable aggregate, so partials merge with GROUP BY + MAX
      (the sketch's defining property, same as any production HLL).
    """
    if p % 4:
        raise ValueError("p must be a multiple of 4 (hex-nibble buckets)")
    h = F.md5(F.col(key).cast("string"))
    bucket = F.conv(F.substring(h, 1, p // 4), 16, 10).cast("long")
    w = F.conv(F.substring(h, p // 4 + 1, 13), 16, 10).cast("long")
    rank = F.when(w == 0, F.lit(53)).otherwise(
        F.lit(53) - F.length(F.conv(w.cast("string"), 10, 2))
    )
    return (
        df.select(*dims, bucket.alias("bucket"), rank.alias("rank"))
        .groupBy(*dims, "bucket")
        .agg(F.max("rank").cast("long").alias("register"))
    )


def portable_hll_estimate(
    registers: DataFrame,
    dims: Sequence[str] = (),
    p: int = 12,
) -> DataFrame:
    """HLL cardinality estimate from :func:`portable_hll_registers`
    output: ``raw = alpha_m * m^2 / sum_j 2^-M_j`` with the standard
    linear-counting small-range correction (``raw <= 2.5m`` and empty
    buckets present -> ``m * ln(m / zeros)``).

    Determinism: every ``2^-M_j`` is an exact power of two, summed by
    a LEFT FOLD over the bucket-sorted register list (empty buckets
    contribute the fold's init, ``(m - present) * 1.0``) — identical
    accumulation order on both engines; the final estimate is rounded
    to 6 digits because ``ln`` differs by 1 ulp between the JVM and
    libm (the unigram_logprob trap).  The 64-bit-hash large-range
    correction is intentionally omitted (irrelevant below ~2^50)."""
    m = 1 << p
    alpha = 0.7213 / (1.0 + 1.079 / m)
    grouped = registers.groupBy(*dims).agg(
        F.count(F.lit(1)).cast("long").alias("present"),
        F.sum(F.when(F.col("register") == 0, 1).otherwise(0))
        .cast("long")
        .alias("_zero_regs"),
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("bucket", "register"))),
            F.lit(0.0),
            lambda acc, x: acc
            + F.lit(1.0) / F.pow(F.lit(2.0), x["register"].cast("double")),
        ).alias("_s_present"),
    )
    s = (F.lit(float(m)) - F.col("present").cast("double")) + F.col(
        "_s_present"
    )
    zeros = F.lit(m) - F.col("present") + F.col("_zero_regs")
    raw = F.lit(alpha * m * m) / s
    est = F.when(
        (raw <= F.lit(2.5 * m)) & (zeros > 0),
        F.lit(float(m))
        * F.log(F.lit(float(m)) / zeros.cast("double")),
    ).otherwise(raw)
    return grouped.select(
        *dims,
        F.round(est, 6).alias("distinct_est"),
        F.col("present").alias("buckets_used"),
        zeros.cast("long").alias("empty_buckets"),
    )


# ---------------------------------------------------------------------------
# Sliding-window rollup from daily portable-HLL partials (r12)
# ---------------------------------------------------------------------------


def portable_hll_sliding(
    daily_registers: DataFrame,
    day_col: str = "day",
    dims: Sequence[str] = (),
    window: int = 7,
) -> DataFrame:
    """Merge daily register partials into SLIDING ``window``-day
    registers: each daily register fans out to the ``window``
    window-ends it contributes to (a small explode of integer
    offsets), then GROUP BY + MAX merges — the production rollup win
    of a mergeable sketch: W-day uniques for every day from ONE scan
    of the daily partial table (register rows, not raw events), vs
    re-scanning W days of raw data per window.  At 100 TB the fan-out
    is ``window ×`` a register table whose size is bounded by
    dims × 2^p, independent of the event count.

    EDGE WINDOWS (r12 ADVICE): the output contains every window_end
    any daily partial contributes to, so the first ``window - 1``
    window_ends cover FEWER than ``window`` days of data, and up to
    ``window - 1`` window_ends past the data's max day are emitted as
    partial "future" windows.  This is the raw mergeable-rollup
    surface — consumers wanting only FULL windows filter
    ``window_end BETWEEN min_day + (window-1) AND max_day``
    (the graded query keeps the raw surface; its oracle replays the
    same fan-out, so the two agree on the edges by construction)."""
    fan = daily_registers.select(
        *dims,
        F.col(day_col),
        "bucket",
        "register",
        F.explode(
            F.sequence(F.lit(0), F.lit(int(window) - 1))
        ).alias("off"),
    ).withColumn(
        "window_end", F.date_add(F.col(day_col), F.col("off"))
    )
    return fan.groupBy(*dims, "window_end", "bucket").agg(
        F.max("register").alias("register")
    )


# ---------------------------------------------------------------------------
# Mergeable fixed-bin histogram quantiles (r12) — the portable
# approximate-percentile summary: unlike GK/KLL/t-digest (whose state
# depends on arrival order, so no SQL oracle can replay them), a
# fixed-bin histogram is pure integer arithmetic: deterministic,
# mergeable by summing counts, and hash-checkable cross-engine.
# Accuracy is a fixed ±(hi-lo)/(2*buckets) per estimate.
# ---------------------------------------------------------------------------


def histogram_quantile_partials(
    df: DataFrame,
    int_col: str,
    dims: Sequence[str] = (),
    lo: int = 0,
    hi: int = 1 << 32,
    buckets: int = 512,
) -> DataFrame:
    """Per-dims bucket counts over an INTEGER column (fixed [lo, hi]
    domain; out-of-range values clamp to the edge buckets).  The
    partials are the summary: mergeable across any partitioning by
    GROUP BY + SUM, ``dims × buckets`` rows regardless of input
    size."""
    span = int(hi) - int(lo) + 1
    bucket = F.expr(
        f"least({int(buckets) - 1}, greatest(0, "
        f"(CAST({int_col} AS BIGINT) - {int(lo)}) * {int(buckets)} "
        f"DIV {span}))"
    ).alias("bucket")
    return df.select(*dims, bucket).groupBy(*dims, "bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )


def histogram_quantile_estimate(
    partials: DataFrame,
    dims: Sequence[str] = (),
    lo: int = 0,
    hi: int = 1 << 32,
    buckets: int = 512,
    percents: Sequence[int] = (50, 95),
) -> DataFrame:
    """Quantile estimates from histogram partials: rank_p =
    ceil(p% * n) over the cumulative bucket walk; the estimate is the
    integer midpoint of the first bucket reaching the rank.  All
    integer arithmetic — bit-identical on any engine."""
    span = int(hi) - int(lo) + 1
    w = Window.partitionBy(*[F.col(d) for d in dims]).orderBy("bucket")
    cum = partials.withColumn("cum", F.sum("n").over(w))
    tot = partials.groupBy(*dims).agg(
        F.sum("n").cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("buckets_used"),
    )
    j = cum.join(tot, list(dims))
    aggs = []
    for p in percents:
        rank = F.expr(f"(n_rows * {int(p)} + 99) DIV 100")
        aggs.append(
            F.min(
                F.when(F.col("cum") >= rank, F.col("bucket"))
            ).alias(f"_b{int(p)}")
        )
    aggs.append(F.first("buckets_used").alias("buckets_used"))
    aggs.append(F.first("n_rows").alias("n_rows"))
    hit = j.groupBy(*dims).agg(*aggs)
    # midpoint via integer DIV (a double `/` could round across the
    # floor at bucket edges and diverge from the oracle's `//`)
    cols = [*dims]
    for p in percents:
        cols.append(
            F.expr(
                f"CAST({int(lo)} + ((_b{int(p)} * 2 + 1) * {span}) "
                f"DIV {2 * int(buckets)} AS BIGINT)"
            ).alias(f"p{int(p)}_est")
        )
    cols += ["buckets_used", "n_rows"]
    return hit.select(*cols)
