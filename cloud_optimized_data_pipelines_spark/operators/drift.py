"""Corpus distribution drift — per-token KL divergence between slices.

No reference counterpart (extension per SURVEY section 7.7).  The
monitoring operator behind training-data pipelines: when a corpus
snapshot, source mix, or filter configuration changes, the first
question is "how did the token distribution move, and which tokens
moved it" — total KL(P_a || P_b) plus the per-token contributions that
decompose it.

Determinism discipline (same as quality/ranking): counts and vocab
sizes are exact integers; probabilities are single divisions; the two
``ln`` terms are rounded to 9 decimals (JVM Math.log vs libm ln differ
by 1 ulp on a few percent of arguments); each output row is then pure
deterministic arithmetic — there is NO order-dependent sum, because the
operator emits the per-token decomposition and leaves the total to the
consumer (or a fixed-order fold).

Laplace (+1) smoothing over the UNION vocabulary keeps every
contribution finite: p_x = (cnt_x + 1) / (total_x + V).

Scale shape: one token explode -> (slice, word) counts (partial-agg
shuffle) -> pivot to per-word (cnt_a, cnt_b) via a word-keyed
aggregation -> two 1-row scalars (totals + V) broadcast back.  No
corpus-sized windows or joins; the output is vocabulary-sized.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cloud_optimized_data_pipelines_spark.functions.text import tokens


def psi_by_window(
    df: DataFrame,
    category_col: str,
    split_expr: Column,
    label_before: str = "before",
    label_after: str = "after",
) -> DataFrame:
    """Population Stability Index between two time/slice windows of a
    categorical stream — the standard production drift monitor for an
    event pipeline (PSI < 0.1 stable, 0.1-0.25 moderate shift, > 0.25
    action): per category,

        psi_term = (p_after - p_before) * (ln p_after - ln p_before)

    with Laplace (+1) smoothing over the union category set so new or
    vanished categories stay finite.  ``split_expr`` labels each row
    ``label_before`` / ``label_after`` (e.g. a ts comparison); other
    labels are ignored.

    Same determinism discipline as :func:`token_distribution_shift`:
    exact integer counts, single divisions, 9-decimal-rounded logs,
    per-category decomposition (no order-dependent total).  Scale
    shape: one partial-aggregated category count + a 1-row scalar
    broadcast — output is category-set-sized.
    """
    labeled = df.select(split_expr.alias("_w"), F.col(category_col).alias("cat"))
    counts = labeled.filter(F.col("_w").isin([label_before, label_after])).groupBy(
        "cat"
    ).agg(
        F.sum((F.col("_w") == label_before).cast("long")).alias("cnt_before"),
        F.sum((F.col("_w") == label_after).cast("long")).alias("cnt_after"),
    )
    return psi_from_counts(counts)


def psi_from_counts(counts: DataFrame) -> DataFrame:
    """PSI decomposition from a PRE-AGGREGATED (cat, cnt_before,
    cnt_after) table — the merge half of the streaming monitor
    (``streaming/drift_stream.py`` appends per-micro-batch category
    partials; summing them and feeding the result here reproduces the
    batch :func:`psi_by_window` bit-for-bit, because counts are
    associative BIGINTs and the smoothing/log arithmetic is identical).
    """
    scalars = counts.agg(
        F.sum("cnt_before").alias("tot_b"),
        F.sum("cnt_after").alias("tot_a"),
        F.count("*").alias("ncat"),
    )
    p_b = (F.col("cnt_before") + F.lit(1)).cast("double") / (
        F.col("tot_b") + F.col("ncat")
    ).cast("double")
    p_a = (F.col("cnt_after") + F.lit(1)).cast("double") / (
        F.col("tot_a") + F.col("ncat")
    ).cast("double")
    return (
        counts.crossJoin(scalars)
        .withColumn("p_before", p_b)
        .withColumn("p_after", p_a)
        .withColumn(
            "psi_term",
            (F.col("p_after") - F.col("p_before"))
            * (F.round(F.log("p_after"), 9) - F.round(F.log("p_before"), 9)),
        )
        .select("cat", "cnt_before", "cnt_after", "p_before", "p_after", "psi_term")
    )


def token_distribution_shift(
    df: DataFrame,
    text_col: str,
    slice_expr: Column,
    a: str,
    b: str,
) -> DataFrame:
    """Per-token KL(P_a || P_b) contributions between two corpus slices.

    ``slice_expr`` labels each document (e.g. ``F.col("source")`` or a
    snapshot column); rows whose label is neither ``a`` nor ``b`` are
    ignored.  Output: (word, cnt_a, cnt_b, p_a, p_b, kl_term) where
    ``kl_term = p_a * (ln(p_a) - ln(p_b))`` with 9-decimal-rounded
    logs; ``SUM(kl_term)`` over the result is the total divergence
    (consumers needing a cross-engine-exact total should fold in
    word-sorted order).
    """
    words = df.select(
        slice_expr.alias("_slice"), F.explode(tokens(F.col(text_col))).alias("word")
    ).filter(F.col("_slice").isin([a, b]))
    counts = words.groupBy("word").agg(
        F.sum((F.col("_slice") == a).cast("long")).alias("cnt_a"),
        F.sum((F.col("_slice") == b).cast("long")).alias("cnt_b"),
    )
    scalars = counts.agg(
        F.sum("cnt_a").alias("total_a"),
        F.sum("cnt_b").alias("total_b"),
        F.count("*").alias("vocab"),
    )
    p_a = (F.col("cnt_a") + F.lit(1)).cast("double") / (
        F.col("total_a") + F.col("vocab")
    ).cast("double")
    p_b = (F.col("cnt_b") + F.lit(1)).cast("double") / (
        F.col("total_b") + F.col("vocab")
    ).cast("double")
    return (
        counts.crossJoin(scalars)
        .withColumn("p_a", p_a)
        .withColumn("p_b", p_b)
        .withColumn(
            "kl_term",
            F.col("p_a")
            * (F.round(F.log("p_a"), 9) - F.round(F.log("p_b"), 9)),
        )
        .select("word", "cnt_a", "cnt_b", "p_a", "p_b", "kl_term")
    )


def ks_statistic(
    df: DataFrame,
    value_col: str,
    side_col: Column | str,
    group_col: str | None = None,
) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic between the rows where
    ``side_col`` is true (sample A) and false (sample B), optionally
    per ``group_col`` — the CONTINUOUS leg of the drift family next to
    PSI (categorical) and token KL: "did the distribution of event
    values / doc lengths / scores move between these two corpus
    slices, and by how much".

    INTEGER-EXACT determinism: D = max_x |F_a(x) - F_b(x)| is computed
    as max over distinct values of |cum_a * n_b - cum_b * n_a| — all
    BIGINT — and divided by n_a * n_b ONCE at the end, so the max is
    taken over exact integers (no float comparisons anywhere; the
    single final division is correctly-rounded IEEE on both engines).
    Output per group: (n_a, n_b, d_num, d_den, ks_d).

    Scale shape: one (group, value, side) count aggregation, then a
    cumulative window PARTITIONED BY GROUP over distinct values —
    parallel across groups; within one group the window walks that
    group's distinct-value set.  At a 100 TB single-group extreme,
    pre-bucket values into ~65k quantile bins first (the binned
    variant below) — KS over bin boundaries bounds the error by the
    max bin mass, and the window shrinks to bin count.
    """
    side = F.col(side_col) if isinstance(side_col, str) else side_col
    gcols = [group_col] if group_col else []
    counts = (
        df.select(
            *gcols,
            F.col(value_col).alias("_v"),
            side.cast("boolean").alias("_a"),
        )
        .groupBy(*gcols, "_v")
        .agg(
            F.sum(F.when(F.col("_a"), 1).otherwise(0)).alias("_ca"),
            F.sum(F.when(~F.col("_a"), 1).otherwise(0)).alias("_cb"),
        )
    )
    from pyspark.sql import Window as W

    w = (
        (W.partitionBy(*gcols) if gcols else W.partitionBy())
        .orderBy("_v")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    cum = counts.select(
        *gcols,
        F.sum("_ca").over(w).alias("_cuma"),
        F.sum("_cb").over(w).alias("_cumb"),
    )
    totals = counts.groupBy(*gcols).agg(
        F.sum("_ca").alias("n_a"), F.sum("_cb").alias("n_b")
    )
    joined = cum.join(totals, gcols) if gcols else cum.crossJoin(totals)
    return (
        joined.select(
            *gcols,
            "n_a",
            "n_b",
            F.abs(
                F.col("_cuma") * F.col("n_b")
                - F.col("_cumb") * F.col("n_a")
            ).alias("_num"),
        )
        .groupBy(*gcols, "n_a", "n_b")
        .agg(F.max("_num").alias("d_num"))
        .select(
            *gcols,
            "n_a",
            "n_b",
            "d_num",
            (F.col("n_a") * F.col("n_b")).alias("d_den"),
            (
                F.col("d_num").cast("double")
                / (F.col("n_a") * F.col("n_b")).cast("double")
            ).alias("ks_d"),
        )
    )


def ks_statistic_binned(
    df: DataFrame,
    value_col: str,
    side_col: Column | str,
    group_col: str | None = None,
    bins: int = 65536,
    lo: float | None = None,
    hi: float | None = None,
) -> DataFrame:
    """The 100 TB path: equi-width value bins bound the per-group
    window at ``bins`` rows; the KS estimate's error is bounded by the
    largest bin's mass (exact when every distinct value maps to its
    own bin).  Same integer-exact max as :func:`ks_statistic`."""
    if lo is None or hi is None:
        b = df.agg(
            F.min(value_col).alias("lo"), F.max(value_col).alias("hi")
        ).collect()[0]
        lo = float(b.lo) if lo is None else lo
        hi = float(b.hi) if hi is None else hi
    span = (hi - lo) or 1.0
    binned = df.withColumn(
        "_bin",
        F.least(
            F.lit(bins - 1),
            F.greatest(
                F.lit(0),
                ((F.col(value_col) - F.lit(lo)) / F.lit(span)
                 * F.lit(bins)).cast("long"),
            ),
        ),
    )
    return ks_statistic(binned, "_bin", side_col, group_col)
