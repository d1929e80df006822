"""Composed corpus-preprocessing pipeline — the end-to-end shape a
training-data user actually runs (CCNet / C4 / RefinedWeb recipe):

    language ID -> exact dedup -> quality gate -> per-source cap

expressed as ONE lazy DataFrame so Catalyst plans the whole chain
(filters fused into the scans, the dedup and quality aggregations
pipelined, one final per-source window over the small eligible set).

Survivorship contract: every input row comes back with per-stage flags
(``lang_ok``, ``is_canonical``, ``quality_ok``, ``eligible``,
``selected``) — no silent drops, so rejection reasons are auditable and
each stage's pass rate is one aggregation away (the alarm-channel
pattern of ``dedup_fuzzy_guard_report``).

Scale shape: stages 1-3 are scan expressions + doc-keyed partial
aggregations (no corpus-sized join); the cap stage runs ONLY over
eligible docs AND uses the two-pass bucket cumsum
(operators/sampling.py::cap_per_group) rather than a per-source
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

from cloud_optimized_data_pipelines_spark.functions.text import detect_language
from cloud_optimized_data_pipelines_spark.operators.quality import (
    gopher_quality_flags,
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
    lang_ok = detect_language(F.col(text_col)) == target_lang

    # exact-dedup survivor: min id per content digest (partial agg)
    hashed = docs.withColumn("_h", F.md5(F.col(text_col)))
    canon = hashed.groupBy("_h").agg(F.min(id_col).alias("_canon_id"))

    # Optimization r14 (guide §2.4/§5): the quality flags are computed
    # INLINE on the hashed rows (gopher_quality_flags is a pure
    # per-document expression — joining a (doc_id, keep) table back in
    # cost a corpus-scale shuffle for a value already derivable on the
    # row), and the flag table is projected narrow and materialized
    # ONCE with an eager localCheckpoint: three consumers (the
    # eligible filter feeding the cap, the cap's second cumsum pass,
    # and the final selected join) each replayed the whole
    # hash+dedup+quality subtree otherwise — 7 corpus scans in the
    # lazy plan, 2 now.  Per-row values are unchanged.
    flagged = (
        gopher_quality_flags(hashed, id_col, text_col)
        .join(canon, "_h")
        .withColumn("lang_ok", lang_ok)
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
        .localCheckpoint(eager=True)
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
