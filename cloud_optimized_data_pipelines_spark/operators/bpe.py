"""BPE tokenizer training as an iterative DataFrame algorithm.

Each merge iteration is one aggregation over the (distinct-word,
frequency) table — the same build-measure-collect-tiny shape as the
IVF Lloyd step (similarity.ivf_build):

1. count corpus-weighted adjacent symbol pairs (explode + hash agg —
   the only shuffle, and it moves pair-sized rows);
2. collect the ARGMAX ONLY (one row) to the driver — the merge rule;
3. apply the rule to every word's symbol array as a left-to-right
   fold (``F.aggregate``), map-side, no shuffle.

The word table is |vocab|-sized (distinct words), not corpus-sized —
the corpus is touched exactly once to build it.  That is what makes
tokenizer training tractable at 100 TB: iterations run on megabytes.

The fold implements standard leftmost-first non-overlapping merging:
append each symbol unless the accumulator's last element equals the
rule's left side and the symbol equals the right side, in which case
replace the last element with the concatenation.  (A symbol produced
by a merge can never re-trigger the same rule in-pass: its text
differs from the rule's left side.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cloud_optimized_data_pipelines_spark.batching import pin
from cloud_optimized_data_pipelines_spark.functions import text as T


def word_freq_table(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, freq, syms) — the distinct-word working set, symbols
    initialized to characters.  Everything after this is vocab-sized."""
    words = docs.select(
        F.explode(T.tokens(F.coalesce(F.col(text_col), F.lit("")))).alias("word")
    )
    return (
        words.groupBy("word")
        .agg(F.count("*").alias("freq"))
        .withColumn("syms", F.split(F.col("word"), ""))
    )


def pair_counts(vocab: DataFrame) -> DataFrame:
    """Corpus-weighted adjacent symbol-pair counts over the vocab."""
    # guard single-symbol words: sequence(1, 0) would count DOWN [1,0]
    idx = F.when(
        F.size("syms") >= 2, F.sequence(F.lit(1), F.size("syms") - 1)
    ).otherwise(F.array().cast("array<int>"))
    pairs = vocab.select(
        "freq",
        F.explode(
            F.transform(
                idx,
                lambda i: F.struct(
                    F.element_at("syms", i).alias("a"),
                    F.element_at("syms", i + 1).alias("b"),
                ),
            )
        ).alias("p"),
    )
    return pairs.groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b")).agg(
        F.sum("freq").alias("n")
    )


def merge_fold(arr, a: str, b: str):
    """Column expression: leftmost-first non-overlapping merge of
    (a, b) → a||b over a symbol array — a pure fold, no shuffle."""
    return F.aggregate(
        arr,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(a))
            & (x == F.lit(b)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(F.lit(a + b)),
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def apply_merge(vocab: DataFrame, a: str, b: str) -> DataFrame:
    """Apply one merge rule to every word's symbol array."""
    return vocab.withColumn("syms", merge_fold(F.col("syms"), a, b))


def bpe_encode(text_col, rules: list[tuple[str, str]]):
    """Tokenize text with learned rules: per word, start from
    characters and replay the merges in training order.  The whole
    encoder compiles to ONE column expression (len(rules) nested
    folds inside a transform) — tokenizing a 100 TB corpus is a
    map-only scan, no Python, no shuffle."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col

    def encode_word(w):
        arr = F.split(w, "")
        for a, b in rules:
            arr = merge_fold(arr, a, b)
        return arr

    return F.flatten(F.transform(T.tokens(F.coalesce(c, F.lit(""))), encode_word))


_REPIN_EVERY = 4


def bpe_train(
    docs: DataFrame,
    text_col: str = "text",
    n_merges: int = 10,
) -> tuple[list[tuple[str, str]], DataFrame]:
    """Learn ``n_merges`` merge rules; returns (rules, final vocab).

    Driver traffic is one row per iteration (the argmax); ties break
    deterministically (count desc, then pair lexicographic).

    The vocab working set is pinned up front: the corpus is scanned
    exactly once (the word_freq_table build) and every merge iteration
    then runs on the vocab-sized table.  Unpinned, each iteration's
    pair_counts action replays the corpus explode + word groupBy —
    n_merges corpus scans for one (the same pinned-working-set shape
    as quality.train_quality_classifier).  Each merge nests one fold
    into the plan, so the vocab is re-pinned every
    ``_REPIN_EVERY`` iterations to keep expression depth bounded (the
    pins are vocab-sized — KBs).
    """
    vocab = pin(word_freq_table(docs, text_col))
    rules: list[tuple[str, str]] = []
    for it in range(n_merges):
        top = (
            pair_counts(vocab)
            .orderBy(F.desc("n"), "a", "b")
            .limit(1)
            .collect()
        )
        if not top or top[0]["n"] is None:
            break
        a, b = top[0]["a"], top[0]["b"]
        rules.append((a, b))
        vocab = apply_merge(vocab, a, b)
        if (it + 1) % _REPIN_EVERY == 0:
            vocab = pin(vocab)
    return rules, vocab
