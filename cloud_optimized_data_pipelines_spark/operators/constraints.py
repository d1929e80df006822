"""Declarative data-quality constraint suite (the Deequ pattern:
Schelter et al. 2018, "Automating Large-Scale Data Quality
Verification" — unit tests for data).  Extension; no reference
counterpart (the reference validates event payloads structurally in
operators/validate.py — this is the table-level complement a
training-data pipeline runs before ingestion).

Every in-table rule compiles into ONE aggregation pass (conditional
aggregates over a single scan — adding rules is free at 100 TB, the
scan dominates); referential rules each add one anti-join against the
referenced key set (broadcast when small, AQE otherwise).  All metrics
are exact-integer counts divided once at the end — bit-identical
cross-engine, no rounding needed (the classifier_score precedent).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_IN_TABLE_RULES = {"not_null", "unique", "range", "in_set", "pattern"}


def check_constraints(
    df: DataFrame,
    rules: list[dict],
    refs: dict[str, DataFrame] | None = None,
) -> DataFrame:
    """Evaluate a constraint suite; returns one row per rule:
    ``(rule_id, rule, column, metric, threshold, passed)``.

    ``metric`` is always a COMPLIANCE RATIO in [0, 1] so ``passed =
    metric >= threshold`` uniformly:

    - ``not_null``: non-null fraction.
    - ``unique``: distinct non-null values / non-null values (1.0 iff
      no duplicates — Deequ's distinctness).
    - ``range``: fraction of rows with ``min <= col <= max`` (nulls
      fail the predicate, matching SQL three-valued logic).
    - ``in_set``: fraction with ``col IN (values)``.
    - ``pattern``: fraction matching an (unanchored) regex.
    - ``referential``: 1 - orphan fraction, where an orphan is a
      non-null value absent from ``refs[ref]``'s ``ref_column`` (the
      foreign-key check as a left-anti join — never per-key lookups).

    Empty tables pass vacuously (metric 1.0).  The report itself is a
    DataFrame: write it next to the data as the audit artifact, or
    ``.filter(~passed)`` as the ingestion gate.
    """
    refs = refs or {}
    if not rules:
        raise ValueError("no rules given — a constraint suite needs at "
                         "least one rule")
    n_all = F.count(F.lit(1)).cast("long").alias("_n")
    aggs: list = []
    for i, r in enumerate(rules):
        kind = r["rule"]
        if kind not in _IN_TABLE_RULES and kind != "referential":
            raise ValueError(f"unknown constraint rule: {kind!r}")
        if kind == "referential":
            continue
        c = F.col(r["column"])
        if kind == "not_null":
            aggs.append(F.count(c).cast("long").alias(f"_m{i}"))
        elif kind == "unique":
            aggs.append(F.count_distinct(c).cast("long").alias(f"_m{i}"))
            aggs.append(F.count(c).cast("long").alias(f"_d{i}"))
        elif kind == "range":
            ok = F.when(
                c.isNotNull() & (c >= F.lit(r["min"])) & (c <= F.lit(r["max"])),
                1,
            ).otherwise(0)
            aggs.append(F.sum(ok).cast("long").alias(f"_m{i}"))
        elif kind == "in_set":
            ok = F.when(c.isin(*r["values"]), 1).otherwise(0)
            aggs.append(F.sum(ok).cast("long").alias(f"_m{i}"))
        elif kind == "pattern":
            ok = F.when(c.isNotNull() & c.rlike(r["regex"]), 1).otherwise(0)
            aggs.append(F.sum(ok).cast("long").alias(f"_m{i}"))
    base = df.agg(n_all, *aggs) if aggs else df.agg(n_all)

    def ratio(num, den):
        return F.when(den > 0, num.cast("double") / den.cast("double")).otherwise(
            F.lit(1.0)
        )

    entries = []
    for i, r in enumerate(rules):
        kind = r["rule"]
        if kind == "referential":
            continue
        if kind == "unique":
            metric = ratio(F.col(f"_m{i}"), F.col(f"_d{i}"))
        else:
            metric = ratio(F.col(f"_m{i}"), F.col("_n"))
        thr = float(r.get("threshold", 1.0))
        entries.append(
            F.struct(
                F.lit(i).cast("long").alias("rule_id"),
                F.lit(kind).alias("rule"),
                F.lit(r["column"]).alias("column"),
                metric.alias("metric"),
                F.lit(thr).alias("threshold"),
                (metric >= F.lit(thr)).alias("passed"),
            )
        )
    parts = []
    if entries:
        parts.append(
            base.select(F.explode(F.array(*entries)).alias("r")).select("r.*")
        )
    for i, r in enumerate(rules):
        if r["rule"] != "referential":
            continue
        ref_df = refs[r["ref"]]
        c = F.col(r["column"])
        keys = df.select(c.alias("_k")).filter(F.col("_k").isNotNull())
        # hit-or-null left join + ONE aggregate: no 1-row crossJoin
        # (which would compile to a nested-loop join and trip the plan
        # lint), and the same shape as the SQL oracle's LEFT JOIN
        hits = ref_df.select(
            F.col(r["ref_column"]).alias("_k")
        ).distinct().withColumn("_hit", F.lit(1))
        counts = (
            keys.join(hits, "_k", "left")
            .agg(
                F.count(F.lit(1)).cast("long").alias("_nk"),
                F.sum(F.when(F.col("_hit").isNull(), 1).otherwise(0))
                .cast("long")
                .alias("_no"),
            )
        )
        metric = F.when(
            F.col("_nk") > 0,
            (F.col("_nk") - F.col("_no")).cast("double")
            / F.col("_nk").cast("double"),
        ).otherwise(F.lit(1.0))
        thr = float(r.get("threshold", 1.0))
        parts.append(
            counts.select(
                F.lit(i).cast("long").alias("rule_id"),
                F.lit("referential").alias("rule"),
                F.lit(r["column"]).alias("column"),
                metric.alias("metric"),
                F.lit(thr).alias("threshold"),
                (metric >= F.lit(thr)).alias("passed"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def profile_columns(
    df: DataFrame,
    cols: list[str],
    hist_buckets: int = 8,
    mean_round: int = 6,
) -> DataFrame:
    """Numeric column profiles (the Deequ/Analyzer complement to
    :func:`check_constraints`): per column — row count, null count,
    distinct count, min, max, mean, and a fixed-width histogram.

    Two passes total REGARDLESS of column count: one fused aggregation
    for all scalars (count/nulls/distinct/min/max/sum for every column
    in one scan), then ONE second scan bucketing every column against
    its (now known) [min, max] span — per row, an array of
    (column, bucket) structs is exploded and grouped once, so the
    histogram pass is a single scan + a single shuffle keyed on
    (column, bucket) no matter how many columns are profiled.
    ``bucket = min(floor((x - lo) / span * B), B - 1)``, constant
    columns collapse to bucket 0.
    Output: one row per (column, bucket) carrying the column's scalars
    (repeated) + the bucket count — the profile a pipeline stores next
    to each ingested drop to diff against the previous one.

    Exactness: counts/min/max are exact, and so is the sum behind the
    mean: each value is cast to ``decimal(38,10)`` (exact for values of
    up to 10 decimal places; the sum must stay under 10^28) and summed
    as a decimal, so the mean does not depend on the summation order
    and with it the core count; the mean is then rounded half-up to
    ``mean_round`` digits.  Bucket indices are computed
    from exact min/max with per-row deterministic arithmetic, so the
    histogram is integer-exact cross-engine.
    """
    aggs = [F.count(F.lit(1)).cast("long").alias("_n")]
    for c in cols:
        col = F.col(c).cast("double")
        aggs += [
            F.count(col).cast("long").alias(f"_nn_{c}"),
            F.count_distinct(col).cast("long").alias(f"_nd_{c}"),
            F.min(col).alias(f"_min_{c}"),
            F.max(col).alias(f"_max_{c}"),
            F.round(
                F.when(
                    F.count(col) > 0,
                    F.sum(col.cast("decimal(38,10)")) / F.count(col),
                ),
                mean_round,
            ).alias(f"_mean_{c}"),
        ]
    # ONE lazy plan: the 1-row scalar aggregate is attached as a
    # crossJoin (the oracle's scalar-CTE shape) instead of collected to
    # the driver — no separate action.  The planner broadcasts the
    # 1-row side, and the two broadcast sites share one ReusedExchange,
    # so the table is still scanned exactly twice.  Bucket arithmetic
    # reads lo/hi from the stats row with the identical per-row double
    # ops the literal form compiled to (span = hi - lo is the same IEEE
    # subtract the driver performed), so every bucket index is
    # unchanged.
    stats_row = df.agg(*aggs)
    entries = []
    for c in cols:
        col = F.col(c).cast("double")
        lo = F.col(f"_min_{c}")
        hi = F.col(f"_max_{c}")
        bucket = F.when(
            lo.isNull() | hi.isNull() | (hi == lo),
            F.when(col.isNotNull(), F.lit(0).cast("long")),
        ).otherwise(
            F.when(
                col.isNotNull(),
                F.least(
                    F.floor((col - lo) / (hi - lo)
                            * F.lit(float(hist_buckets))).cast("long"),
                    F.lit(int(hist_buckets) - 1).cast("long"),
                ),
            )
        )
        entries.append(
            F.struct(F.lit(c).alias("column"), bucket.alias("bucket"))
        )
    hist = (
        df.crossJoin(stats_row)
        .select(F.explode(F.array(*entries)).alias("_e"))
        .select(F.col("_e.column").alias("column"),
                F.col("_e.bucket").alias("bucket"))
        .filter(F.col("bucket").isNotNull())
        .groupBy("column", "bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("bucket_n"))
    )

    def lookup(values, cast):
        pairs = [
            x
            for c, v in zip(cols, values)
            for x in (F.lit(c), v.cast(cast))
        ]
        return F.element_at(F.create_map(*pairs), F.col("column"))

    return hist.crossJoin(stats_row).select(
        "column",
        F.col("_n").alias("n"),
        lookup(
            [F.col("_n") - F.col(f"_nn_{c}") for c in cols], "long"
        ).alias("nulls"),
        lookup([F.col(f"_nd_{c}") for c in cols], "long").alias("n_distinct"),
        lookup([F.col(f"_min_{c}") for c in cols], "double").alias("min"),
        lookup([F.col(f"_max_{c}") for c in cols], "double").alias("max"),
        lookup([F.col(f"_mean_{c}") for c in cols], "double").alias("mean"),
        F.col("bucket").cast("long").alias("bucket"),
        "bucket_n",
    )
