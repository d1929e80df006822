"""Train/test decontamination for training-data pipelines.

No reference counterpart (extension per SURVEY section 7.7): the
standard eval-contamination control from public LLM training reports
(GPT-3 appendix C, The Pile, PaLM): a training document is
CONTAMINATED if it shares at least one word n-gram with any held-out
evaluation document, and is either dropped or flagged before training.

Scale shape (the part that matters at 100 TB):

- The eval/test side is small next to the corpus (thousands of docs).
  Its DISTINCT shingle set is built once; the train side joins it on
  the shingle, and the planner sizes that join.  Only the exact
  embedding check hints a broadcast: its cosine condition has no
  hashable key, so without the hint it would be a CartesianProduct.
- n defaults to 5 here (the synthetic corpus is word-soup; public
  pipelines use 8-13-gram windows — one knob).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cloud_optimized_data_pipelines_spark.operators.dedup import shingle_index


def test_shingle_set(test: DataFrame, id_col: str, text_col: str, n: int = 5) -> DataFrame:
    """The held-out side's distinct n-gram set."""
    return shingle_index(test, id_col, text_col, n).select("shingle").distinct()


def contamination_flags(
    train: DataFrame,
    test: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
) -> DataFrame:
    """Flag train docs sharing >= 1 word n-gram with the test set.

    Adds ``n_hits`` (distinct shared shingles, bigint) and
    ``contaminated`` (bool).  shingle_index emits per-doc DISTINCT
    shingles, so a plain count after the join counts distinct matches
    without a count_distinct aggregate.
    """
    hits = (
        shingle_index(train, id_col, text_col, n)
        .join(test_shingle_set(test, id_col, text_col, n), "shingle")
        .groupBy("doc")
        .agg(F.count("*").alias("n_hits"))
    )
    out = train.join(hits, train[id_col] == hits["doc"], "left").drop("doc")
    return out.withColumn(
        "n_hits", F.coalesce(F.col("n_hits"), F.lit(0)).cast("long")
    ).withColumn("contaminated", F.col("n_hits") > 0)


def embedding_contamination_flags(
    train: DataFrame,
    test: DataFrame,
    vec_col: str,
    id_col: str = "vec_id",
    threshold: float = 0.95,
    round_digits: int = 6,
) -> DataFrame:
    """SEMANTIC decontamination: flag train rows whose embedding is
    within cosine ``threshold`` of ANY eval-set row — the embedding
    complement of the n-gram :func:`contamination_flags` (paraphrased
    eval leakage that shares no exact 5-gram still lands next to the
    eval point in embedding space; cf. SemDeDup's cosine criterion).

    Adds ``n_close`` (count of eval rows within threshold, bigint) and
    ``contaminated`` (bool); every train row survives (survivorship
    form, like the n-gram flags).

    Scale shape: eval sets are metadata-sized next to a training
    corpus, so the test side is broadcast (norms hoisted once on both
    sides, per the engine-wide cosine discipline); cost is one
    broadcast nested-loop scan — n x |eval| cosine folds, map-side, no
    shuffle beyond the per-doc count aggregation.
    """
    from cloud_optimized_data_pipelines_spark.functions.vectors import (
        dot,
        norm,
        safe_cos_div,
    )

    tside = F.broadcast(
        test.select(F.col(vec_col).alias("_tv"), norm(vec_col).alias("_tn"))
    )
    cos = F.round(
        safe_cos_div(dot(F.col(vec_col), F.col("_tv")), F.col("_n") * F.col("_tn")),
        round_digits,
    )
    hits = (
        train.select(F.col(id_col).alias("_tid"), vec_col, norm(vec_col).alias("_n"))
        .join(tside, cos >= threshold)
        .groupBy("_tid")
        .agg(F.count(F.lit(1)).alias("n_close"))
    )
    out = train.join(hits, train[id_col] == hits["_tid"], "left").drop("_tid")
    return out.withColumn(
        "n_close", F.coalesce(F.col("n_close"), F.lit(0)).cast("long")
    ).withColumn("contaminated", F.col("n_close") > 0)


def embedding_contamination_flags_blocked(
    train: DataFrame,
    test: DataFrame,
    vec_col: str,
    id_col: str = "vec_id",
    threshold: float = 0.95,
    round_digits: int = 6,
    num_dims: int = 4,
    multiprobe: bool = False,
) -> DataFrame:
    """ANN-BLOCKED semantic decontamination — the scale path of
    :func:`embedding_contamination_flags`.

    The plain form is a broadcast nested-loop scan: n_train x n_eval
    cosine folds.  Fine while the eval side is a few thousand rows, but
    at 10^9 train x 10^4 eval that is 10^13 folds of map-side CPU.
    This variant composes the engine's sign-bucket blocking
    (``functions/vectors.py::sign_bucket``, the same pre-filter behind
    ``ann_topk`` / ``dedup_lsh_verified``): both sides get the
    ``num_dims``-bit sign bucket, the join key is BUCKET EQUALITY, and
    the exact cosine runs only within buckets — candidate folds drop by
    ~2^num_dims, and the nested loop becomes a hashable equi-join the
    planner can broadcast or shuffle as sizes dictate.

    APPROXIMATE by construction: a train row whose true near-neighbor
    eval point lands in a different sign bucket is missed.  For a
    DECONTAMINATION operator a miss is eval leakage, so
    ``multiprobe=True`` composes the engine's Hamming-1 multiprobe
    (``functions/vectors.py::hamming1_probes``, the ``ann_topk_
    multiprobe`` lever): the d+1 probe buckets are exploded on the
    SMALL eval side — the join stays a hashable bucket equi-join, the
    candidate set grows to (d+1)/2^d of the corpus (still ~2^d/(d+1)
    fewer folds than exact), and any neighbor within one sign flip is
    found.  Recall is pytest-gated >= 99% on planted near-dups for the
    multiprobe form (90% single-bucket).  Both forms are deterministic,
    so the DuckDB oracle reproduces them bit-exactly.  Same
    survivorship contract as the exact form: every train row survives
    with ``n_close`` / ``contaminated``.
    """
    from cloud_optimized_data_pipelines_spark.functions.vectors import (
        dot,
        hamming1_probes,
        norm,
        safe_cos_div,
        sign_bucket,
    )

    tb = sign_bucket(F.col(vec_col), num_dims)
    tside = test.select(
        F.col(vec_col).alias("_tv"),
        norm(vec_col).alias("_tn"),
        (
            F.explode(hamming1_probes(tb, num_dims)) if multiprobe else tb
        ).alias("_tb"),
    )
    cos = F.round(
        safe_cos_div(
            dot(F.col(vec_col), F.col("_tv")), F.col("_n") * F.col("_tn")
        ),
        round_digits,
    )
    hits = (
        train.select(
            F.col(id_col).alias("_tid"),
            vec_col,
            norm(vec_col).alias("_n"),
            sign_bucket(F.col(vec_col), num_dims).alias("_b"),
        )
        .join(tside, (F.col("_b") == F.col("_tb")) & (cos >= threshold))
        .groupBy("_tid")
        .agg(F.count(F.lit(1)).alias("n_close"))
    )
    out = train.join(hits, train[id_col] == hits["_tid"], "left").drop("_tid")
    return out.withColumn(
        "n_close", F.coalesce(F.col("n_close"), F.lit(0)).cast("long")
    ).withColumn("contaminated", F.col("n_close") > 0)
