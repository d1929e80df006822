"""Declarative reference forms of the Arrow/numpy operator paths.

Each production operator runs one implementation.  The forms here are
the declarative (zip_with/aggregate fold, filter/array_sort lambdas,
explode/groupBy) models the Arrow paths were written to match bit for
bit; the parity tests run both and compare.  None of this is imported
by the package.
"""

from __future__ import annotations

import contextlib
from itertools import combinations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cloud_optimized_data_pipelines_spark.functions.text import (
    LANG_ORDER,
    LANG_STOPWORDS,
    tokens,
)
from cloud_optimized_data_pipelines_spark.functions.vectors import (
    literal_vector,
)
from cloud_optimized_data_pipelines_spark.operators import similarity as S
from cloud_optimized_data_pipelines_spark.operators.dedup import shingle_index
from cloud_optimized_data_pipelines_spark.operators.sketches import (
    portable_hash32,
)

# --- vector folds (same factory shape as the similarity Arrow UDFs) ---


def _argmin(dists):
    return (F.array_position(dists, F.array_min(dists)) - 1).cast("int")


def fold_assign_lists(centroids: list[list[float]]):
    """Argmin-squared-L2 list assignment against centroid literals —
    the fold form of ``similarity._assign_lists_udf``."""
    return lambda v: _argmin(
        F.array(*[S._sq_dist(v, literal_vector(c)) for c in centroids])
    )


def fold_pq_codes(codebooks: list[list[list[float]]]):
    """Per-subspace argmin code over ``slice``d subvectors — the fold
    form of ``similarity._pq_codes_udf``."""
    sub = len(codebooks[0][0])

    def codes(v):
        return F.array(
            *[
                _argmin(
                    F.array(
                        *[
                            S._sq_dist(
                                F.slice(v, s * sub + 1, sub),
                                literal_vector(c),
                            )
                            for c in book
                        ]
                    )
                )
                for s, book in enumerate(codebooks)
            ]
        )

    return codes


def fold_project_signs(signs: list[list[float]], scale: float):
    """One ``acc + x_i * s_ij`` fold per output dimension — the fold
    form of ``similarity._project_signs_udf``."""
    return lambda v: F.array(
        *[
            F.aggregate(
                F.zip_with(
                    v, literal_vector(row), lambda x, s: x.cast("double") * s
                ),
                F.lit(0.0),
                lambda acc, t: acc + t,
            )
            * F.lit(scale)
            for row in signs
        ]
    )


_VECTOR_FOLDS = {
    "_assign_lists_udf": fold_assign_lists,
    "_pq_codes_udf": fold_pq_codes,
    "_project_signs_udf": fold_project_signs,
}


@contextlib.contextmanager
def fold_forms():
    """Build similarity plans on the fold forms: inside the block the
    IVF, PQ and random-projection operators (and everything composed
    from them) use the declarative folds instead of the Arrow UDFs."""
    saved = {name: getattr(S, name) for name in _VECTOR_FOLDS}
    try:
        for name, fold in _VECTOR_FOLDS.items():
            setattr(S, name, fold)
        yield
    finally:
        for name, udf in saved.items():
            setattr(S, name, udf)


def assign_lists(
    df: DataFrame, vec_col: str, centroids: list[list[float]]
) -> DataFrame:
    """Attach the fold-form ``list_id``."""
    return df.withColumn(
        "list_id", fold_assign_lists(centroids)(F.col(vec_col))
    )


# --- quality ---------------------------------------------------------


def _lowered_tokens(text):
    return F.transform(tokens(text), lambda t: F.lower(t))


def detect_language(text):
    """``functions.text.detect_language`` as JVM lambdas: argmax over
    the per-language stopword hits with the LANG_ORDER tie-break, 'und'
    when no stopword hits at all.  Let-bound twice (single-element
    transforms): the lowered token array and the hit-count array are
    each computed once per row."""

    def build_scores(toks):
        def hits(lang):
            sw = F.array(*[F.lit(w) for w in LANG_STOPWORDS[lang]])
            return F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))

        return F.array(*[hits(lang) for lang in LANG_ORDER])

    def build_argmax(sarr):
        best = F.array_max(sarr)
        result = F.lit("und")
        # built in reverse so earlier languages win ties
        for idx in reversed(range(len(LANG_ORDER))):
            result = F.when(
                (best > 0) & (sarr[idx] == best), F.lit(LANG_ORDER[idx])
            ).otherwise(result)
        return result

    scores_arr = F.transform(F.array(_lowered_tokens(text)), build_scores)[0]
    return F.transform(F.array(scores_arr), build_argmax)[0]


def gopher_quality_flags_rows(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_top_word_frac: float = 0.2,
) -> DataFrame:
    """``quality.gopher_quality_flags`` as per-row array expressions:
    tokenize once, ``aggregate`` for the char sum, ``array_distinct``
    for the unique count, and a run-length fold over ``array_sort``
    for the top-word count."""
    toks = tokens(F.col(text_col))
    n_words = F.coalesce(F.size(toks), F.lit(0)).cast("long")
    char_sum = F.coalesce(
        F.aggregate(
            toks, F.lit(0).cast("long"), lambda a, t: a + F.length(t)
        ),
        F.lit(0).cast("long"),
    )
    n_unique = F.coalesce(F.size(F.array_distinct(toks)), F.lit(0)).cast(
        "long"
    )
    # top word count = longest equal-run in the sorted token array
    # (tokens are non-empty, so the "" sentinel never matches)
    run = F.aggregate(
        F.array_sort(toks),
        F.struct(
            F.lit("").alias("prev"),
            F.lit(0).cast("long").alias("run"),
            F.lit(0).cast("long").alias("best"),
        ),
        lambda acc, t: F.struct(
            t.alias("prev"),
            F.when(t == acc["prev"], acc["run"] + 1)
            .otherwise(F.lit(1).cast("long"))
            .alias("run"),
            F.greatest(
                acc["best"],
                F.when(t == acc["prev"], acc["run"] + 1).otherwise(
                    F.lit(1).cast("long")
                ),
            ).alias("best"),
        ),
        lambda acc: acc["best"],
    )
    top_cnt = F.coalesce(run, F.lit(0).cast("long"))
    mean_len = F.when(
        n_words > 0, char_sum.cast("double") / n_words.cast("double")
    ).otherwise(F.lit(0.0))
    top_frac = F.when(
        n_words > 0, top_cnt.cast("double") / n_words.cast("double")
    ).otherwise(F.lit(0.0))
    return (
        df.withColumn("n_words", n_words)
        .withColumn("n_unique_words", n_unique)
        .withColumn("mean_word_len", mean_len)
        .withColumn("top_word_frac", top_frac)
        .withColumn(
            "keep",
            (n_words >= min_words)
            & (n_words <= max_words)
            & (mean_len >= min_mean_word_len)
            & (mean_len <= max_mean_word_len)
            & (top_frac < max_top_word_frac),
        )
    )


def word_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-doc word statistics: n_words, n_unique_words, top_word_cnt,
    char_sum (sum of word lengths, for mean word length)."""
    words = df.select(
        F.col(id_col).alias("doc"), F.explode(tokens(text_col)).alias("word")
    )
    per_word = words.groupBy("doc", "word").agg(F.count("*").alias("cnt"))
    return per_word.groupBy("doc").agg(
        F.sum("cnt").cast("long").alias("n_words"),
        F.count("*").cast("long").alias("n_unique_words"),
        F.max("cnt").cast("long").alias("top_word_cnt"),
        F.sum(F.length("word") * F.col("cnt")).cast("long").alias("char_sum"),
    )


def gopher_quality_flags_agg(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_top_word_frac: float = 0.2,
) -> DataFrame:
    """``quality.gopher_quality_flags`` as the :func:`word_stats`
    explode + two aggregations + doc join."""
    stats = word_stats(df, id_col, text_col)
    out = df.join(stats, df[id_col] == stats["doc"], "left").drop("doc")
    n_words = F.coalesce(F.col("n_words"), F.lit(0)).cast("long")
    mean_len = F.when(
        n_words > 0,
        F.col("char_sum").cast("double") / n_words.cast("double"),
    ).otherwise(F.lit(0.0))
    top_frac = F.when(
        n_words > 0,
        F.col("top_word_cnt").cast("double") / n_words.cast("double"),
    ).otherwise(F.lit(0.0))
    return (
        out.withColumn("n_words", n_words)
        .withColumn(
            "n_unique_words",
            F.coalesce(F.col("n_unique_words"), F.lit(0)).cast("long"),
        )
        .withColumn("mean_word_len", mean_len)
        .withColumn("top_word_frac", top_frac)
        .withColumn(
            "keep",
            (n_words >= min_words)
            & (n_words <= max_words)
            & (mean_len >= min_mean_word_len)
            & (mean_len <= max_mean_word_len)
            & (top_frac < max_top_word_frac),
        )
        .drop("top_word_cnt", "char_sum")
    )


def train_quality_classifier(
    df: DataFrame,
    id_col: str,
    text_col: str,
    label_col: str,
    n_features: int = 64,
    iters: int = 2,
    lr: float = 8.0,
    grad_round: int = 6,
    prob_round: int = 7,
) -> tuple[DataFrame, list[float]]:
    """``quality.train_quality_classifier`` with the margin as a fold
    over the token array (weights as plan literals) and the gradient
    as a token explode + bucket sum."""
    n_docs = df.count()
    base = df.withColumn("_tk", tokens(text_col)).withColumn(
        "_y", F.col(label_col).cast("double")
    )

    def margin_expr(w: list[float]):
        wlit = F.array(*[F.lit(float(v)) for v in w])
        tk = F.col("_tk")
        s = F.aggregate(
            tk,
            F.lit(0.0),
            lambda acc, t: acc
            + F.element_at(
                wlit,
                (portable_hash32(F.lower(t)) % n_features + 1).cast("int"),
            ),
        )
        return F.when(
            F.size(tk) > 0, s / F.size(tk).cast("double")
        ).otherwise(F.lit(0.0))

    def prob_expr(w: list[float]):
        return F.round(
            F.lit(1.0) / (F.lit(1.0) + F.exp(-margin_expr(w))), prob_round
        )

    w = [0.0] * n_features
    for _ in range(iters):
        partials = base.select(
            prob_expr(w).alias("_p"),
            "_y",
            F.size("_tk").cast("double").alias("_n"),
            F.explode("_tk").alias("_t"),
        ).select(
            (portable_hash32(F.lower(F.col("_t"))) % n_features)
            .cast("int")
            .alias("_b"),
            ((F.col("_p") - F.col("_y")) / F.col("_n")).alias("_partial"),
        )
        grads = (
            partials.groupBy("_b")
            .agg(
                F.round(
                    F.sum("_partial") / F.lit(float(n_docs)), grad_round
                ).alias("_g")
            )
            .collect()
        )
        g = {r["_b"]: r["_g"] for r in grads}
        w = [w[b] - lr * g.get(b, 0.0) for b in range(n_features)]
    scored = base.select(
        *df.columns,
        F.round(margin_expr(w), 6).alias("margin"),
        prob_expr(w).alias("prob"),
        (prob_expr(w) >= 0.5).alias("pred"),
    )
    return scored, w


# --- sampling --------------------------------------------------------


def dsir_feats(
    df: DataFrame, id_col: str, text_col: str, buckets: int, target_filter
) -> DataFrame:
    """``sampling._dsir_feats_fast`` as explode (unigrams + bigrams) ->
    md5 bucket -> (doc, b) count, the target flag riding along."""
    from cloud_optimized_data_pipelines_spark.functions.text import (
        word_ngrams,
    )

    g = F.explode(
        F.concat(tokens(F.col(text_col)), word_ngrams(F.col(text_col), 2))
    ).alias("g")
    ex = df.select(
        F.col(id_col).alias("doc"), target_filter.alias("is_tgt"), g
    )
    h = F.conv(F.substring(F.md5(F.col("g")), 1, 8), 16, 10).cast("long")
    return (
        ex.select("doc", "is_tgt", (h % buckets).alias("b"))
        .groupBy("doc", "b")
        .agg(F.count("*").alias("fc"), F.first("is_tgt").alias("is_tgt"))
    )


# --- dedup -----------------------------------------------------------


def hamming_pairs(fingerprints: dict, max_hamming: int) -> set:
    """All-pairs ``(id_a, id_b, hamming)`` with id_a < id_b within
    ``max_hamming`` over int or multi-word fingerprints — the banded
    join's complete answer."""

    def words(fp):
        return fp if isinstance(fp, (list, tuple)) else [fp]

    out = set()
    for a, b in combinations(sorted(fingerprints), 2):
        ham = sum(
            bin(x ^ y).count("1")
            for x, y in zip(words(fingerprints[a]), words(fingerprints[b]))
        )
        if ham <= max_hamming:
            out.add((a, b, ham))
    return out



def lsh_banded(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    num_bands: int = 4,
    n: int = 3,
) -> DataFrame:
    """``dedup.lsh_banded`` as JVM expressions: explode the distinct
    shingles (``dedup.shingle_index``), take per doc the minimum of
    ``h1 + i*h2`` (``conv`` of the md5 hex halves) as one aggregate
    column per family member, then ``md5`` each band's ``|``-joined
    signatures."""
    rows_per_band = num_hashes // num_bands
    idx = shingle_index(df, id_col, text_col, n)
    h1 = F.conv(F.substring(F.md5(F.col("shingle")), 1, 14), 16, 10).cast("long")
    h2 = F.conv(F.substring(F.md5(F.col("shingle")), 17, 14), 16, 10).cast("long")
    sig = idx.groupBy("doc").agg(
        *[F.min(h1 + F.lit(i) * h2).alias(f"_s{i}") for i in range(num_hashes)]
    )
    bands = [
        F.struct(
            F.lit(b).alias("band"),
            F.md5(
                F.concat_ws(
                    "|",
                    *[
                        F.col(f"_s{i}")
                        for i in range(b * rows_per_band, (b + 1) * rows_per_band)
                    ],
                )
            ).alias("bucket"),
        )
        for b in range(num_bands)
    ]
    return sig.select("doc", F.explode(F.array(*bands)).alias("bb")).select(
        "doc", "bb.band", "bb.bucket"
    )
