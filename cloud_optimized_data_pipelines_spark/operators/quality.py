"""Corpus quality filtering — Gopher/MassiveText-style document rules.

No reference counterpart (extension per SURVEY section 7.7).  Implements
the word-statistics subset of the public MassiveText quality filters
(Rae et al. 2021, "Scaling Language Models", table A1): word count
bounds, mean word length bounds, and a repetition signal (fraction of
the document taken by its single most frequent word).  Documents
failing any rule get ``keep = false``; the decision thresholds are
arguments so a pipeline can tune per-source.

Scale shape: the document rules need only per-document integers (word
count, distinct words, character sum, top-word count), which one Arrow
kernel computes per row on the scan (``functions.text.text_stats``).
Zero exchanges: every statistic is a function of one document, so no
shuffle is fundamentally required (guide §1.1).  The declarative
forms — per-row array folds, and explode -> groupBy(doc, word) ->
groupBy(doc) -> join-back — live in ``tests/fold_reference.py`` as
parity references.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cloud_optimized_data_pipelines_spark.batching import pin, pins
from cloud_optimized_data_pipelines_spark.functions.text import (
    text_stats,
    tokens,
)


def gopher_quality_flags(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_top_word_frac: float = 0.2,
) -> DataFrame:
    """MassiveText word-level rules, one Arrow pass per document.

    Adds n_words, n_unique_words, mean_word_len, top_word_frac and the
    combined ``keep`` flag.  Empty documents (no tokens) are kept in
    the output with zero counts and keep=false — filters must never
    silently drop rows they rejected.

    The integer word statistics come from the ``text_stats`` Arrow
    kernel (functions/text.py); the ratios and ``keep`` stay JVM
    expressions over those integers, so every double is the one the
    declarative forms give.  ZERO exchanges: every statistic is a
    function of one document.  The per-row array-fold form and the
    explode + two corpus-token aggregations + doc join form live in
    ``tests/fold_reference.py``, and the parity tests pin all three
    identical.
    """
    return gopher_flags_from_stats(
        df.withColumn("_ts", text_stats(F.col(text_col))),
        "_ts",
        min_words,
        max_words,
        min_mean_word_len,
        max_mean_word_len,
        max_top_word_frac,
    ).drop("_ts")


def gopher_flags_from_stats(
    df: DataFrame,
    stats_col: str,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_top_word_frac: float = 0.2,
) -> DataFrame:
    """The :func:`gopher_quality_flags` columns from a ``text_stats``
    struct column that ``df`` already carries — for a plan that also
    reads the struct's language (plans/corpus.py), so the kernel runs
    once per document."""
    st = F.col(stats_col)
    n_words = st["n_words"]
    mean_len = F.when(
        n_words > 0, st["char_sum"].cast("double") / n_words.cast("double")
    ).otherwise(F.lit(0.0))
    top_frac = F.when(
        n_words > 0, st["top_cnt"].cast("double") / n_words.cast("double")
    ).otherwise(F.lit(0.0))
    return (
        df.withColumn("n_words", n_words)
        .withColumn("n_unique_words", st["n_unique_words"])
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


def unigram_logprob(
    df: DataFrame, id_col: str, text_col: str, min_count: int = 1
) -> DataFrame:
    """CCNet-style language-model quality proxy: mean log-probability of
    each document under the corpus's own unigram distribution (low =
    rare-token soup / junk; high = stereotypical text).

    Cross-engine float determinism is engineered: per-token log-probs
    are log(count/total) of EXACT integer counts, ROUNDED to 9 decimals
    at the term level — JVM Math.log and libm ln legitimately differ by
    1 ulp on ~2-8%% of arguments (measured 305/4000 on this stack), and
    the rounding collapses that divergence (residual risk is a value
    within 1 ulp of a rounding boundary, ~1e-6 per distinct ratio).
    All downstream arithmetic is identical on identical doubles, and
    the per-doc sum is a left fold over the token-sorted array — not a
    shuffle-order-dependent SUM().

    Plan: explode -> token-count join on ``word`` -> per-doc sorted
    collect + fold.  The vocab side carries NO broadcast hint: a
    web-scale corpus's unigram vocabulary is hundreds of millions of
    rows — far past broadcast limits — and the explode already paid
    the word-keyed shuffle the join reuses, so AQE picks broadcast
    only when the vocab actually fits.  ``min_count`` (CCNet's answer
    to the long tail) folds words seen fewer than min_count times into
    one OOV bucket scored at the pooled tail mass
    ``log(oov_cnt/total)`` — thresholding is what bounds the vocab in
    production; the planner broadcasts the two 1-row scalars (total,
    oov) from their estimated size.
    """
    words = df.select(
        F.col(id_col).alias("doc"), F.explode(tokens(text_col)).alias("word")
    )
    vocab = words.groupBy("word").agg(F.count("*").alias("cnt"))
    total = vocab.agg(F.sum("cnt").alias("total"))
    if min_count > 1:
        kept = vocab.filter(F.col("cnt") >= min_count)
        oov = vocab.filter(F.col("cnt") < min_count).agg(
            F.coalesce(F.sum("cnt"), F.lit(0)).cast("long").alias("oov_cnt")
        )
        scored = (
            words.join(kept, "word", "left")
            .crossJoin(total)
            .crossJoin(oov)
            .select(
                "doc",
                "word",
                F.round(
                    F.log(
                        F.coalesce(F.col("cnt"), F.col("oov_cnt")).cast("double")
                        / F.col("total").cast("double")
                    ),
                    9,
                ).alias("logp"),
            )
        )
    else:
        scored = (
            words.join(vocab, "word")
            .crossJoin(total)
            .select(
                "doc",
                "word",
                F.round(
                    F.log(
                        F.col("cnt").cast("double")
                        / F.col("total").cast("double")
                    ),
                    9,
                ).alias("logp"),
            )
        )
    per_doc = scored.groupBy("doc").agg(
        F.count("*").cast("long").alias("n_tokens"),
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("word", "logp"))),
            F.lit(0.0),
            lambda acc, x: acc + x["logp"],
        ).alias("sum_logp"),
    )
    return per_doc.select(
        F.col("doc").alias(id_col),
        "n_tokens",
        (F.col("sum_logp") / F.col("n_tokens").cast("double")).alias(
            "mean_logprob"
        ),
    )


def ngram_repetition(
    df: DataFrame,
    id_col: str,
    text_col: str,
    top_ns: tuple[int, ...] = (2, 3),
    dup_ns: tuple[int, ...] = (5,),
    max_top_frac: dict[int, float] | None = None,
    max_dup_frac: dict[int, float] | None = None,
) -> DataFrame:
    """Gopher/MassiveText repetition rules (Rae et al. 2021, table A1
    second half): n-gram repetition coverage per document.

    Exact, cross-engine-checkable definitions (documented because the
    oracle recomputes them):

    - ``top{n}_char_frac`` = cnt * length(gram) / length(text) for the
      single most frequent word n-gram (ties broken by largest gram
      string, so max(struct(cnt, gram)) is deterministic on any
      engine);
    - ``dup{n}_char_frac`` = sum over n-grams occurring more than once
      of cnt * length(gram), / length(text).  Overlapping occurrences
      each count their full character span — a faithful repetition
      signal with an exactly specifiable oracle (Gopher's prose
      definition does not pin down overlap handling).

    ``keep`` applies the A1 thresholds (defaults: top-2 0.20, top-3
    0.18, dup-5 0.15).  Integer counts and lengths are exact; the only
    floats are the final divisions.

    Plan: ONE explode of all requested n-gram sizes tagged by n ->
    (doc, n, gram) count -> per-doc conditional aggregation -> join
    back to the corpus (docs too short for any n-gram keep zero
    fractions).  Two partial-aggregated shuffles, no windows over the
    corpus, no Python.
    """
    # Gopher table-A1 defaults for every published n; user-supplied
    # thresholds override per-n
    max_top_frac = {**{2: 0.20, 3: 0.18, 4: 0.16}, **(max_top_frac or {})}
    max_dup_frac = {
        **{5: 0.15, 6: 0.14, 7: 0.13, 8: 0.12, 9: 0.11, 10: 0.10},
        **(max_dup_frac or {}),
    }
    missing = [n for n in top_ns if n not in max_top_frac] + [
        n for n in dup_ns if n not in max_dup_frac
    ]
    if missing:
        raise ValueError(
            f"no threshold for n={sorted(set(missing))}; pass "
            "max_top_frac/max_dup_frac entries for non-Gopher sizes"
        )
    ns = sorted(set(top_ns) | set(dup_ns))
    # materialize the token array as a REAL column before the lambdas:
    # codegen common-subexpression elimination does not reach inside
    # higher-order functions, so tokens() inlined in the transform
    # below would re-split the text once per emitted gram — O(tokens^2)
    # per doc (the c1_extract_dates lesson; measured 217 s -> linear
    # after this hoist at the 100x probe)
    toked = df.select(F.col(id_col).alias("doc"), tokens(F.col(text_col)).alias("_tk"))
    toks = F.col("_tk")
    k = F.size(toks)
    empty = F.expr(
        "CAST(array() AS ARRAY<STRUCT<n INT, gram STRING>>)"
    )

    def _gram_part(n: int):
        # NOTE: the lambda must be unary — F.transform treats a binary
        # lambda as f(element, array_index)
        return F.when(
            k >= n,
            F.transform(
                F.sequence(F.lit(1), k - F.lit(n - 1)),
                lambda i: F.struct(
                    F.lit(n).cast("int").alias("n"),
                    F.concat_ws(" ", F.slice(toks, i, n)).alias("gram"),
                ),
            ),
        ).otherwise(empty)

    parts = [_gram_part(n) for n in ns]
    grams = (
        toked.select("doc", F.explode(F.flatten(F.array(*parts))).alias("g"))
        .select("doc", F.col("g.n").alias("n"), F.col("g.gram").alias("gram"))
    )
    counts = grams.groupBy("doc", "n", "gram").agg(F.count("*").alias("cnt"))
    gchars = F.col("cnt") * F.length("gram")
    aggs = []
    for n in top_ns:
        aggs.append(
            F.max(
                F.when(F.col("n") == n, F.struct(F.col("cnt"), F.col("gram")))
            ).alias(f"_top{n}")
        )
    for n in dup_ns:
        aggs.append(
            F.sum(
                F.when((F.col("n") == n) & (F.col("cnt") > 1), gchars).otherwise(
                    F.lit(0)
                )
            )
            .cast("long")
            .alias(f"_dup{n}")
        )
    per_doc = counts.groupBy("doc").agg(*aggs)
    out = df.join(per_doc, df[id_col] == per_doc["doc"], "left").drop("doc")
    text_len = F.length(text_col).cast("double")
    keep = F.lit(True)
    for n in top_ns:
        top_chars = (
            F.col(f"_top{n}.cnt") * F.length(F.col(f"_top{n}.gram"))
        ).cast("double")
        frac = F.coalesce(top_chars / text_len, F.lit(0.0))
        out = out.withColumn(f"top{n}_char_frac", frac)
        keep = keep & (F.col(f"top{n}_char_frac") <= max_top_frac[n])
    for n in dup_ns:
        frac = F.coalesce(F.col(f"_dup{n}").cast("double") / text_len, F.lit(0.0))
        out = out.withColumn(f"dup{n}_char_frac", frac)
        keep = keep & (F.col(f"dup{n}_char_frac") <= max_dup_frac[n])
    drop = [f"_top{n}" for n in top_ns] + [f"_dup{n}" for n in dup_ns]
    return out.withColumn("keep", keep).drop(*drop)


def line_repetition(
    df: DataFrame,
    id_col: str,
    text_col: str,
    line_sep: str = "\n",
    max_dup_line_frac: float = 0.30,
    max_dup_line_char_frac: float = 0.20,
) -> DataFrame:
    """Gopher duplicate-line rules: ``dup_line_frac`` = (lines -
    distinct lines) / lines and ``dup_line_char_frac`` = characters in
    ALL occurrences of lines appearing more than once / total line
    characters.  Empty lines are dropped before counting.  Two
    partial-aggregated shuffles: per (doc, line), then per doc."""
    lines = F.filter(F.split(F.col(text_col), F.lit(line_sep)), lambda x: x != "")
    exploded = df.select(
        F.col(id_col).alias("doc"), F.explode(lines).alias("line")
    )
    per_line = exploded.groupBy("doc", "line").agg(F.count("*").alias("cnt"))
    per_doc = per_line.groupBy("doc").agg(
        F.sum("cnt").cast("long").alias("n_lines"),
        F.count("*").cast("long").alias("n_distinct"),
        F.sum(F.col("cnt") * F.length("line")).cast("long").alias("chars"),
        F.sum(F.when(F.col("cnt") > 1, F.col("cnt") * F.length("line")).otherwise(0))
        .cast("long")
        .alias("dup_chars"),
    )
    out = df.join(per_doc, df[id_col] == per_doc["doc"], "left").drop("doc")
    n_lines = F.coalesce(F.col("n_lines"), F.lit(0)).cast("long")
    dup_line_frac = F.when(
        n_lines > 0,
        (n_lines - F.col("n_distinct")).cast("double") / n_lines.cast("double"),
    ).otherwise(F.lit(0.0))
    dup_char_frac = F.when(
        F.coalesce(F.col("chars"), F.lit(0)) > 0,
        F.col("dup_chars").cast("double") / F.col("chars").cast("double"),
    ).otherwise(F.lit(0.0))
    return (
        out.withColumn("n_lines", n_lines)
        .withColumn("dup_line_frac", dup_line_frac)
        .withColumn("dup_line_char_frac", dup_char_frac)
        .withColumn(
            "keep",
            (F.col("dup_line_frac") <= max_dup_line_frac)
            & (F.col("dup_line_char_frac") <= max_dup_line_char_frac),
        )
        .drop("n_distinct", "chars", "dup_chars")
    )


def classifier_score(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.0,
    weight_mod: int = 2001,
    weights: DataFrame | None = None,
) -> DataFrame:
    """Linear text-classifier inference — the fastText-style quality
    filter (Joulin et al. 2016, "Bag of Tricks") that web-scale
    pipelines run over every document (pages scored against a
    reference corpus; low scorers dropped).

    Two execution shapes, same semantics (score = mean token weight,
    scaled to [-1, 1]):

    - **hashed weights** (default): each lowered token's weight is
      derived from its md5 (an integer in [-(m-1)/2, (m-1)/2]) — the
      hashing-trick form.  Inference is one per-row expression over
      the let-bound token array: NO explode, NO shuffle, NO Python —
      the whole model application rides the scan, which is the right
      shape for scoring 100 TB.  (Its ``transform``/``aggregate``
      lambdas are CodegenFallback and evaluate interpreted, per
      token.)  Deterministic md5 weights
      stand in for a trained table; the execution shape is the point.
    - **weight table** (``weights`` = DataFrame[word, w] from a real
      trained model, ``w`` DOUBLE, one row per word — duplicate words
      would fan out the join and inflate both counts): explode +
      word-keyed join + per-doc sum — the shape when the vocabulary is
      too large to inline.  The join carries no broadcast hint (same
      reasoning as :func:`unigram_logprob`: AQE broadcasts iff the
      table fits).  Trained weights are real-valued, so ``margin`` is
      a DOUBLE sum (shuffle-order dependent in the last ulp — this
      path has no bit-exact oracle) and ``score`` is the plain mean
      weight, NOT scaled by the hashed form's ``weight_mod``.

    Hashed-form integer weight sums are exact and order-independent,
    so the only float is the final division — bit-identical
    cross-engine.  Output: every input row plus ``n_tokens``,
    ``margin``, ``score`` and ``keep``; token-less docs score 0.0.
    """
    half = (weight_mod - 1) // 2
    if weights is not None:
        toks = df.select(
            F.col(id_col).alias("_doc"),
            F.explode(tokens(text_col)).alias("word"),
        ).withColumn("word", F.lower(F.col("word")))
        summed = (
            toks.join(weights, "word", "left")
            .groupBy("_doc")
            .agg(
                F.count("*").cast("long").alias("n_tokens"),
                F.sum(F.coalesce(F.col("w").cast("double"), F.lit(0.0)))
                .alias("margin"),
            )
        )
        out = df.join(summed, df[id_col] == summed["_doc"], "left").drop("_doc")
        n = F.coalesce(F.col("n_tokens"), F.lit(0)).cast("long")
        margin = F.coalesce(F.col("margin"), F.lit(0.0))
        score = F.when(n > 0, margin / n.cast("double")).otherwise(F.lit(0.0))
        return (
            out.withColumn("n_tokens", n)
            .withColumn("margin", margin)
            .withColumn("score", score)
            .withColumn("keep", F.col("score") >= threshold)
        )
    else:

        def build(toks_arr):
            w = F.transform(
                toks_arr,
                lambda t: F.conv(F.substring(F.md5(F.lower(t)), 1, 8), 16, 10)
                .cast("long") % weight_mod - half,
            )
            return F.struct(
                F.size(toks_arr).cast("long").alias("n_tokens"),
                F.aggregate(w, F.lit(0).cast("long"), lambda a, x: a + x).alias(
                    "margin"
                ),
            )

        st = F.transform(F.array(tokens(text_col)), build)[0]
        out = df.withColumn("_st", st).select(
            "*",
            F.col("_st.n_tokens").alias("n_tokens"),
            F.col("_st.margin").alias("margin"),
        ).drop("_st")
    n = F.coalesce(F.col("n_tokens"), F.lit(0)).cast("long")
    margin = F.coalesce(F.col("margin"), F.lit(0)).cast("long")
    # NO rounding: an exact-integer division is already bit-identical
    # IEEE cross-engine, and round() itself is the divergence risk
    # (Spark rounds the shortest decimal repr, DuckDB the exact binary
    # expansion — they disagree on half-boundary quotients)
    score = F.when(
        n > 0, margin.cast("double") / (n.cast("double") * float(half))
    ).otherwise(F.lit(0.0))
    return (
        out.withColumn("n_tokens", n)
        .withColumn("margin", margin)
        .withColumn("score", score)
        .withColumn("keep", F.col("score") >= threshold)
    )


def c4_line_filter(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_words_per_line: int = 5,
    min_lines: int = 3,
    blocklist: tuple[str, ...] = ("lorem ipsum", "{", "javascript"),
    line_sep: str = "\n",
) -> DataFrame:
    """The C4 cleaning rules (Raffel et al. 2020, "Exploring the Limits
    of Transfer Learning", section 2.2) — the line/page filters behind
    the most-used public web corpus:

    - keep only lines ending in terminal punctuation (. ! ? or ");
    - keep only lines with >= ``min_words_per_line`` words;
    - drop the whole page when fewer than ``min_lines`` lines survive,
      or when the page contains any ``blocklist`` phrase
      (case-insensitive; C4 uses "lorem ipsum", a brace — code — and
      the "List of Dirty Naughty Words": plug the full list in here).

    Entirely per-document array expressions over the let-bound line
    split — NO explode, NO shuffle, NO Python: like
    :func:`classifier_score` the whole filter rides the 100 TB scan.
    Output: every input row plus ``n_lines``, ``n_kept``,
    ``text_clean`` (kept lines re-joined) and ``keep``; callers filter
    on ``keep`` so nothing is silently dropped.
    """
    from cloud_optimized_data_pipelines_spark.functions.text import (
    text_stats,
    tokens,
)

    def build(lines):
        nonempty = F.filter(lines, lambda l: l != "")
        kept = F.filter(
            nonempty,
            lambda l: l.rlike('[.!?"]$')
            & (F.size(tokens(l)) >= min_words_per_line),
        )
        return F.struct(
            F.size(nonempty).cast("long").alias("n_lines"),
            F.size(kept).cast("long").alias("n_kept"),
            F.array_join(kept, line_sep).alias("text_clean"),
        )

    split = F.split(F.col(text_col), F.lit("\\Q" + line_sep + "\\E"))
    st = F.transform(F.array(split), build)[0]
    lowered = F.lower(F.col(text_col))
    blocked = None
    for phrase in blocklist:
        hit = F.contains(lowered, F.lit(phrase.lower()))
        blocked = hit if blocked is None else (blocked | hit)
    out = df.withColumn("_st", st).select(
        "*",
        F.col("_st.n_lines").alias("n_lines"),
        F.col("_st.n_kept").alias("n_kept"),
        F.col("_st.text_clean").alias("text_clean"),
    ).drop("_st")
    return out.withColumn(
        "keep",
        (F.col("n_kept") >= min_lines)
        & ~(blocked if blocked is not None else F.lit(False)),
    )


def bigram_logprob(
    df: DataFrame,
    id_col: str,
    text_col: str,
    train: DataFrame | None = None,
    alpha: float = 0.4,
) -> DataFrame:
    """Held-out bigram language-model scoring with stupid backoff
    (Brants et al. 2007, "Large Language Models in Machine
    Translation") — the next step up from :func:`unigram_logprob` for
    CCNet-style quality bucketing:

        p(w2 | w1) = c(w1 w2) / c_ctx(w1)            if the bigram was
                                                     seen in ``train``
                   = alpha * c(w2) / total           otherwise (backing
                                                     off to unigram)

    with an unseen-word floor c(w2) := 1 (the singleton tail mass —
    the model's resolution limit).  ``train`` is the estimation slice
    (e.g. a trusted-source subset); it defaults to ``df`` itself, in
    which case backoff is dead weight (every scored bigram was seen)
    — pass a held-out slice for the scores to mean anything.

    Cross-engine determinism as in :func:`unigram_logprob`: exact
    integer counts, ln rounded to 9 decimals at the term level with
    IDENTICAL argument association on both engines, per-doc sum as a
    fold over the sorted bigram array.

    Scale shape: the model is
    estimated in ONE corpus pass — bigram occurrences and unigram
    tokens ride a single tagged explode into one (kind, key) count
    (map-side combined), the context counts ``c_ctx(w1)`` are derived
    from the MODEL-sized bigram table (``sum(bcnt) group by w1`` —
    identical integers, since every bigram starting with w1 is one w1
    context occurrence), and the counted table is pinned so the three
    downstream consumers (bcnt / uni / total) read the stored counts
    instead of replaying the corpus explode.  Doc-side scoring pre-joins
    bcnt⋈ctx at model scale into a ``(bg, logp_seen)`` table, so the
    corpus-scale bigram stream is shuffle-joined twice (bg, then w2
    for backoff), not three times.  No broadcast hint on the model
    joins — a web-corpus bigram table is billions of rows, so AQE
    decides; only the 1-row total is broadcast.  Docs with < 2 tokens
    survive with ``n_bigrams = 0`` and NULL score (never silently
    dropped).
    """
    from cloud_optimized_data_pipelines_spark.functions.text import word_ngrams

    train = train if train is not None else df
    # Tokens never contain whitespace and bigrams always do, so the
    # two count families share one explode without key collisions;
    # the kind tag keeps the branches' filters trivially disjoint.
    tagged = F.concat(
        F.transform(
            word_ngrams(text_col, 2),
            lambda g: F.struct(F.lit(0).alias("kind"), g.alias("key")),
        ),
        F.transform(
            tokens(text_col),
            lambda w: F.struct(F.lit(1).alias("kind"), w.alias("key")),
        ),
    )
    cnts = pin(
        train.select(F.explode(tagged).alias("t"))
        .groupBy(F.col("t.kind").alias("kind"), F.col("t.key").alias("key"))
        .agg(F.count("*").alias("cnt"))
    )
    bcnt = cnts.filter(F.col("kind") == 0).select(
        F.col("key").alias("bg"), F.col("cnt").alias("bcnt")
    )
    uni = cnts.filter(F.col("kind") == 1).select(
        F.col("key").alias("w2"), F.col("cnt").alias("ucnt")
    )
    ctx = bcnt.groupBy(F.substring_index("bg", " ", 1).alias("w1")).agg(
        F.sum("bcnt").alias("ccnt")
    )
    total = uni.agg(F.sum("ucnt").cast("long").alias("total"))

    doc_bi = df.select(
        F.col(id_col).alias("doc"), F.explode(word_ngrams(text_col, 2)).alias("bg")
    )
    seen = F.round(
        F.log(F.col("bcnt").cast("double") / F.col("ccnt").cast("double")), 9
    )
    model = bcnt.join(
        ctx, F.substring_index(bcnt["bg"], " ", 1) == ctx["w1"]
    ).select("bg", seen.alias("logp_seen"))
    backoff = F.round(
        F.log(
            F.lit(float(alpha))
            * (
                F.coalesce(F.col("ucnt"), F.lit(1)).cast("double")
                / F.col("total").cast("double")
            )
        ),
        9,
    )
    scored = (
        doc_bi.join(model, "bg", "left")
        .join(uni, F.substring_index(doc_bi["bg"], " ", -1) == uni["w2"], "left")
        .crossJoin(total)
        .select(
            "doc",
            "bg",
            F.when(F.col("logp_seen").isNotNull(), F.col("logp_seen"))
            .otherwise(backoff)
            .alias("logp"),
        )
    )
    per_doc = scored.groupBy("doc").agg(
        F.count("*").cast("long").alias("n_bigrams"),
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("bg", "logp"))),
            F.lit(0.0),
            lambda acc, x: acc + x["logp"],
        ).alias("sum_logp"),
    )
    ids = df.select(F.col(id_col).alias("doc"))
    return ids.join(per_doc, "doc", "left").select(
        F.col("doc").alias(id_col),
        F.coalesce(F.col("n_bigrams"), F.lit(0)).cast("long").alias("n_bigrams"),
        (F.col("sum_logp") / F.col("n_bigrams").cast("double")).alias(
            "mean_logprob"
        ),
    )


def train_quality_classifier(
    df: DataFrame,
    id_col: str,
    text_col: str,
    label_col: str,
    n_features: int | str = 64,
    iters: int = 2,
    lr: float = 8.0,
    grad_round: int = 6,
    prob_round: int = 7,
) -> tuple[DataFrame, list[float]]:
    """Train a hashed-feature logistic-regression quality classifier by
    full-batch gradient descent — the distillation step web-scale
    pipelines run to turn an expensive rule stack (Gopher flags, LM
    perplexity, human labels) into a model cheap enough to score 100 TB
    (the CCNet/fastText quality-classifier pattern; Joulin et al. 2016
    is the inference shape :func:`classifier_score` already provides).

    Features are l1-normalized hashed unigram counts (the hashing
    trick: ``portable_hash32(lower(token)) % n_features``); the model
    is ``p = sigmoid(mean_t w[h(t)])``.  Each GD step is ONE
    distributed pass: the per-doc margin is computed over the token
    array with the weights in the UDF closure (no join, no shuffle for
    inference), and the gradient is a ``n_features``-group sum of
    per-batch partials.  Driver traffic per iteration is
    ``n_features`` doubles — the same bounded-signature shape as the
    BPE merge loop and the IVF Lloyd step.

    Determinism: the margin accumulates in token order
    (bit-reproducible); ``exp`` differs by 1 ulp between the JVM and
    libm, so the probability is rounded to
    ``prob_round`` digits on identical margin inputs, and the gradient
    (a shuffle-order-dependent float sum) is rounded to ``grad_round``
    BEFORE the weight update — the same reduction-order pinning as
    ivf_build/pq_train, making the whole training loop unrollable into
    a DuckDB-oracle CTE chain.

    Returns ``(scored, weights)``: every input row plus ``margin``
    (rounded), ``prob``, ``pred``; and the trained weight list.

    The RAW margin per doc is computed in an Arrow batch (Python
    hashlib md5 == the JVM md5, accumulation in token order — the
    margin doubles are BIT-IDENTICAL to a fold over the token array, so
    the JVM-side sigmoid/rounding/gradient arithmetic downstream is
    unchanged), and the gradient is emitted as per-batch per-bucket
    partials instead of exploding every token through a shuffle — the
    same Arrow treatment as the wide-simhash fingerprints and PQ
    encode (Catalyst higher-order lambdas run interpreted; the fold
    form at 500k docs costs ~110 s per GD pass, the Arrow path ~7 s).
    The fold form lives in ``tests/fold_reference.py``; both match the
    same unrolled oracle.

    ``n_features='auto'`` sizes the hash space from the data: one
    ``approx_count_distinct`` pre-pass over the lowered tokens, then
    the next power of two >= 4x the estimate (load factor <= 0.25, so
    hash collisions can't wash out the signal — the honest 1000x
    finding from the fixed-64-bucket probe: ~30k distinct tokens into
    64 buckets trains to baseline accuracy).  Driver traffic stays
    ``n_features`` doubles per pass — ~1 MB at a 30k vocabulary.
    """
    if n_features == "auto":
        import math as _math

        est = int(
            df.select(
                F.explode(tokens(text_col)).alias("_t")
            )
            .agg(
                F.approx_count_distinct(F.lower(F.col("_t"))).alias("n")
            )
            .first()["n"]
        )
        n_features = max(64, 1 << _math.ceil(_math.log2(max(4 * est, 1))))
    n_features = int(n_features)

    n_docs = df.count()
    base = df.withColumn("_tk", tokens(text_col)).withColumn(
        "_y", F.col(label_col).cast("double")
    )
    # Iterative-loop working set: the GD loop re-reads ONLY (_tk, _y)
    # once per iteration, so pin that narrow projection instead of
    # re-scanning + re-tokenizing the corpus ``iters`` times, and
    # spread an under-parallel scan first
    # (a tiny corpus reads as 1-3 input splits, serializing the whole
    # Python margin/gradient stage — the spread_small_scan floor).  The
    # partition target derives from the DATA (~1k docs per GD task,
    # capped at the cluster's parallelism), not from local[32]; at
    # production scale the scan already has >= that many partitions and
    # no shuffle is added.  Row VALUES are unchanged — only partition
    # placement moves, and every shuffle-order-dependent float sum
    # downstream is already pinned by grad_round (see determinism note
    # above) — so the trained weights and scores are identical.
    # Released after the loop: the returned ``scored`` plan derives
    # from the original lineage, leaving no pin behind.
    loop_base = base.select("_tk", "_y")
    ideal = max(1, -(-n_docs // 1000))
    if ideal < df.sparkSession.sparkContext.defaultParallelism:
        # corpus smaller than ~1k docs/core: right-size the loop
        # stages (32 near-empty Python tasks cost more in worker
        # round trips than they buy); the shuffle moves < 1k-doc
        # partitions.  Never fires at production corpus sizes.
        loop_base = loop_base.repartition(ideal)

    def margin_expr(w: list[float]):
        return _clf_margin_udf(w, n_features)(F.col("_tk"))

    def prob_expr(w: list[float]):
        return F.round(
            F.lit(1.0) / (F.lit(1.0) + F.exp(-margin_expr(w))), prob_round
        )

    w = [0.0] * n_features
    with pins(df.sparkSession):
        # lazy: the first GD pass stores it
        loop_base = pin(loop_base, eager=False)
        for _ in range(iters):
            partials = loop_base.select(
                prob_expr(w).alias("_p"), "_y", "_tk"
            ).mapInPandas(
                _clf_grad_partials(n_features), "_b int, _partial double"
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


def _clf_bucket(token: str, n_features: int) -> int:
    """ASCII-token assumption: this Python ``str.lower()`` and the fold
    reference's JVM ``F.lower`` (and the oracle's DuckDB ``lower``) agree
    on ASCII but can diverge on a few Unicode case mappings (e.g. U+0130
    LATIN CAPITAL LETTER I WITH DOT ABOVE) — a non-ASCII token could
    bucket differently across engines.  The tokenizers feeding
    the classifier emit ASCII word tokens, so the assumption holds;
    callers hashing arbitrary Unicode should pre-normalize tokens."""
    import hashlib

    return (
        int(hashlib.md5(token.lower().encode()).hexdigest()[:8], 16)
        % n_features
    )


def _clf_margin_udf(w: list[float], n_features: int):
    """Arrow margin stage: per-doc RAW mean-weight margin, accumulated
    in token order with Python doubles over the same md5 buckets —
    bit-identical to the declarative fold (hashlib.md5 == F.md5;
    left-to-right IEEE adds), so every downstream rounded quantity is
    unchanged.  A per-batch token->bucket memo skips rehashing
    repeated tokens."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def margin(col: pd.Series) -> pd.Series:
        memo: dict = {}
        out = []
        for tks in col:
            if tks is None or len(tks) == 0:
                out.append(0.0)
                continue
            acc = 0.0
            for t in tks:
                b = memo.get(t)
                if b is None:
                    b = _clf_bucket(t, n_features)
                    memo[t] = b
                acc = acc + w[b]
            out.append(acc / len(tks))
        return pd.Series(out)

    return margin


def _clf_grad_partials(n_features: int):
    """Arrow gradient stage: per-batch per-bucket partial sums of
    ``(p - y) / n_tokens`` — 64 rows per batch cross the shuffle
    instead of one row per token.  The final SUM-then-round happens
    JVM-side, identical to the fold reference's token explode (the raw
    sums differ only in reduction order, which ``grad_round`` pins)."""

    def gen(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            memo: dict = {}
            acc = [0.0] * n_features
            for p, y, tks in zip(pdf["_p"], pdf["_y"], pdf["_tk"]):
                if tks is None or len(tks) == 0:
                    continue
                c = (float(p) - float(y)) / len(tks)
                for t in tks:
                    b = memo.get(t)
                    if b is None:
                        b = _clf_bucket(t, n_features)
                        memo[t] = b
                    acc[b] = acc[b] + c
            yield pd.DataFrame(
                {"_b": range(n_features), "_partial": acc}
            )

    return gen
