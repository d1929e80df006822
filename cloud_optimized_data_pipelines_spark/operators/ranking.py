"""Lexical relevance scoring — Okapi BM25 over the documents table.

No reference counterpart (extension per SURVEY section 7.7): a
training-data pipeline uses lexical scoring to mine topic-focused
subsets ("find docs about X"), to build retrieval baselines, and as a
cheap relevance feature next to embedding similarity
(operators/similarity.py).

Okapi BM25 (Robertson & Walker 1994; the exact formula used by Lucene):

    idf(t)  = ln( (N - df(t) + 0.5) / (df(t) + 0.5) + 1 )
    s(d, t) = idf(t) * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl/avgdl))
    score   = sum over query terms

Cross-engine float determinism is engineered the way the quality
operators do it: every input to the float expression is an exact
integer aggregate (tf, df, N, dl, sum(dl)); ``avgdl`` is
``CAST(SUM(dl) AS DOUBLE) / N`` (never a float AVG, whose accumulation
order differs between engines); the idf is ROUNDED to 9 decimals
because JVM Math.log and libm ln differ by 1 ulp on a few percent of
arguments (the only non-exactly-rounded operation in the formula); and
the per-document total is a sum of per-term columns in FIXED
expression order, not an aggregation over a shuffle-ordered set — so
the doubles are bit-identical on any engine evaluating the same
formula tree.

Scale shape (optimization r14, guide §2.4): for a q-term query every
per-document quantity (tf per term, dl, n_hits) is a function of ONE
row's token array, so they are computed as scan expressions — no
token explode, no (doc, term) shuffle, no dl join-back.  The only
aggregate is a single 1-row pass collecting the exact-integer corpus
stats (N, sum(dl), df per term), attached back as a broadcast scalar
crossJoin (the profile_columns pattern); scoring is then a pure
per-row expression over those scalars.  Zero corpus-scale exchanges
— the previous explode/count/join form shuffled the matching token
occurrences three times for values derivable on the row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cloud_optimized_data_pipelines_spark.functions.text import tokens


def bm25_scores(
    df: DataFrame,
    id_col: str,
    text_col: str,
    query_terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Score every document containing at least one query term.

    Output: (id_col, n_hits, score) — n_hits = number of distinct
    query terms present.  Docs with no hits are omitted (their score
    is identically 0); left-join against the corpus if zeros matter.
    """
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    terms = sorted(set(query_terms))
    # per-row exact integers: dl and one tf per query term, all from a
    # SINGLE tokenization of the row (the token array is let-bound via
    # a one-element transform — an inlined tokens() would re-split the
    # text once per term column, see functions/text.py::word_shingles)
    def _eq(term: str):
        # closure factory, NOT a default-arg lambda: a two-parameter
        # lambda would be read by F.filter as (element, index)
        return lambda x: x == F.lit(term)

    def _row_stats(tk):
        return F.struct(
            F.size(tk).cast("long").alias("dl"),
            *[
                F.size(F.filter(tk, _eq(t)))
                .cast("long")
                .alias(f"_tf_{i}")
                for i, t in enumerate(terms)
            ],
        )

    st = F.transform(F.array(tokens(F.col(text_col))), _row_stats)[0]
    per = df.select(F.col(id_col).alias("doc"), st.alias("_st")).select(
        "doc",
        F.col("_st.dl").alias("dl"),
        *[F.col(f"_st._tf_{i}").alias(f"_tf_{i}") for i in range(len(terms))],
    )
    # ONE corpus pass for every model scalar: N, sum(dl) (exact longs;
    # avgdl derives as CAST(SUM dl) / N, never a float AVG) and the
    # per-term document frequencies
    stats = per.agg(
        F.count("*").cast("long").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count("*").cast("double")).alias(
            "avgdl"
        ),
        *[
            F.sum((F.col(f"_tf_{i}") > 0).cast("long"))
            .cast("long")
            .alias(f"_df_{i}")
            for i in range(len(terms))
        ],
    )
    scored = per.crossJoin(stats)

    def idf(i: int):
        return F.round(
            F.log(
                (
                    F.col("n_docs").cast("double")
                    - F.col(f"_df_{i}").cast("double")
                    + F.lit(0.5)
                )
                / (F.col(f"_df_{i}").cast("double") + F.lit(0.5))
                + F.lit(1.0)
            ),
            9,
        )

    def s(i: int):
        tf = F.col(f"_tf_{i}")
        norm = tf.cast("double") + F.lit(float(k1)) * (
            F.lit(1.0 - b)
            + F.lit(float(b)) * F.col("dl").cast("double") / F.col("avgdl")
        )
        return idf(i) * (tf.cast("double") * F.lit(float(k1 + 1))) / norm

    # fixed-order total: per-term contributions added in sorted-term
    # order — deterministic double addition on any engine; an absent
    # term contributes exactly 0.0, as the previous grouped form's
    # coalesce did
    total = None
    n_hits = None
    for i in range(len(terms)):
        c = F.when(F.col(f"_tf_{i}") > 0, s(i)).otherwise(F.lit(0.0))
        h = (F.col(f"_tf_{i}") > 0).cast("long")
        total = c if total is None else total + c
        n_hits = h if n_hits is None else n_hits + h
    return (
        scored.select(
            F.col("doc").alias(id_col),
            n_hits.cast("long").alias("n_hits"),
            total.alias("score"),
        )
        .filter(F.col("n_hits") >= 1)
    )
