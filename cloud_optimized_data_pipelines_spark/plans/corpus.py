"""Composed corpus-preprocessing pipeline — the end-to-end shape a
training-data user actually runs (CCNet / C4 / RefinedWeb recipe):

    language ID -> exact dedup -> quality gate -> per-source cap

expressed as ONE DataFrame so Catalyst plans the whole chain (language
and quality from one Arrow pass over the scan, the dedup aggregation
beside it, one final per-source window over the small eligible set).

Survivorship contract: every input row comes back with per-stage flags
(``lang_ok``, ``is_canonical``, ``quality_ok``, ``eligible``,
``selected``) — no silent drops, so rejection reasons are auditable and
each stage's pass rate is one aggregation away (the alarm-channel
pattern of ``dedup_fuzzy_guard_report``).

Scale shape: stages 1-3 are per-document values on the scan + one
partial aggregation on the content digest, joined back on the digest;
the cap stage runs ONLY over eligible docs AND uses the two-pass bucket
cumsum (operators/sampling.py::cap_per_group) rather than a per-source
ROW_NUMBER window — even after filtering, one dominant crawl source's
eligible docs at 100 TB are hundreds of millions of rows, and a
single-window formulation would serialize them through ONE task.  The
cumsum keeps per-source parallelism at 16^bucket_hex tasks while
selecting the IDENTICAL set: both formulations keep the first
``max_per_source`` docs of each source under the md5(id) order (the
C4 anti-megasite permutation), so the ROW_NUMBER oracle is unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cloud_optimized_data_pipelines_spark.batching import pin
from cloud_optimized_data_pipelines_spark.functions.text import text_stats
from cloud_optimized_data_pipelines_spark.operators.quality import (
    gopher_flags_from_stats,
)
from cloud_optimized_data_pipelines_spark.operators.sampling import (
    cap_per_group,
)


def corpus_preprocess(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
    target_lang: str = "en",
    max_per_source: int = 15,
) -> DataFrame:
    """Flag-composed preprocessing pipeline; see module docstring.

    ``selected`` = lang_ok AND is_canonical AND quality_ok AND within
    the per-source cap, where cap rank orders ELIGIBLE docs by the
    deterministic md5(id) permutation (the C4 anti-megasite rule).
    """
    # exact-dedup survivor: min id per content digest (partial agg)
    hashed = docs.withColumn("_h", F.md5(F.col(text_col)))
    canon = hashed.groupBy("_h").agg(F.min(id_col).alias("_canon_id"))

    # Language and quality flags are per-document values: one
    # text_stats struct (one Arrow pass, each text sent to Python once)
    # feeds both, on the hashed rows before the canon join, so no
    # corpus-scale join carries a value derivable on the row.  The
    # narrow flag table is pinned once at construction: its three
    # consumers (the eligible filter feeding the cap, the cap's second
    # cumsum pass, and the final selected join) would each replay the
    # hash + dedup + stats subtree otherwise.
    flagged = pin(
        gopher_flags_from_stats(
            hashed.withColumn("_ts", text_stats(F.col(text_col))), "_ts"
        )
        .withColumn("lang_ok", F.col("_ts.lang") == target_lang)
        .join(canon, "_h")
        .withColumn("is_canonical", F.col(id_col) == F.col("_canon_id"))
        .withColumn("quality_ok", F.col("keep"))
        .withColumn(
            "eligible",
            F.col("lang_ok") & F.col("is_canonical") & F.col("quality_ok"),
        )
        .select(
            id_col,
            source_col,
            "lang_ok",
            "is_canonical",
            "quality_ok",
            "eligible",
        )
    )
    # cap over the eligible subset only, via the two-pass bucket cumsum
    # (a cap is a token budget with unit weights): per-source
    # parallelism stays 16^bucket_hex tasks even when one hot source
    # dominates; the kept set equals row_number() <= max under the same
    # md5(id) order (tested in tests/test_pipeline.py)
    ranked = cap_per_group(
        flagged.filter(F.col("eligible")).select(id_col, source_col),
        key=id_col,
        group_col=source_col,
        max_per_group=max_per_source,
    ).select(F.col(id_col).alias("_sel_id"))
    return (
        flagged.join(ranked, flagged[id_col] == ranked["_sel_id"], "left")
        .withColumn("selected", F.col("_sel_id").isNotNull())
        .select(
            id_col,
            source_col,
            "lang_ok",
            "is_canonical",
            "quality_ok",
            "eligible",
            "selected",
        )
    )
