"""Text-analysis column expressions for the training-data pipeline surface.

No reference counterpart (SURVEY section 7.7 extensions) — language ID,
quality scoring, token counting, shingling, and document fingerprinting.

Most helpers are JVM expressions.  Those built on higher-order
functions (``filter``/``transform``/``aggregate``/``array_sort``) are
``CodegenFallback`` in Spark 4: their lambdas run interpreted, per
token, inside an otherwise codegen'd stage.  Language ID and the
Gopher word statistics, which per document need a tokenize, a count
per distinct word and a stopword lookup, therefore run as ONE Arrow
kernel (:func:`text_stats`) that sends each text to Python once; so
do the MinHash LSH bands (:func:`lsh_bands`), which per document need
the distinct shingles, one digest each and a minimum per hash.

Hashing note: every content hash on this surface is ``md5`` of a UTF-8
string.  md5 is bit-identical across Spark, DuckDB, and Python, which is
what makes MinHash signatures and fingerprints oracle-checkable; the
"i-th hash function" of MinHash is ``h1 + i*h2`` over two 56-bit
halves of one md5 digest per shingle (double hashing).
"""

from __future__ import annotations

import hashlib
import re
from collections import Counter

import numpy as np
import pyarrow as pa
from pyspark.sql import Column
from pyspark.sql import functions as F

# Small embedded stopword lists for the language-ID heuristic.
# Deterministic, ASCII, lower-case; ties broken by fixed language order.
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "it", "for", "was"],
    "es": ["el", "la", "de", "que", "y", "en", "los", "del", "se", "las"],
    "de": ["der", "die", "und", "das", "ist", "von", "mit", "den", "im", "für"],
    "fr": ["le", "la", "et", "les", "des", "en", "un", "du", "une", "que"],
}
LANG_ORDER = ["en", "es", "de", "fr"]

# BPE-ish pre-tokenizer: letter runs | digit runs | single non-space symbol.
# ASCII-only classes so Java regex and RE2 (DuckDB) agree byte-for-byte.
BPE_TOKEN_REGEX = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

_ENGLISH_STOPWORDS = LANG_STOPWORDS["en"]


def _c(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def tokens(text: Column | str) -> Column:
    """Whitespace tokens, empties removed (split of '' yields [''])."""
    return F.filter(F.split(_c(text), r"\s+"), lambda t: t != "")


def token_count(text: Column | str) -> Column:
    return F.size(tokens(text))


def bpe_token_count(text: Column | str) -> Column:
    """Count of BPE-ish pre-tokens (letters/digits/symbol runs)."""
    return F.size(F.regexp_extract_all(_c(text), F.lit(BPE_TOKEN_REGEX), F.lit(0)))


def word_shingles(text: Column | str, n: int = 3) -> Column:
    """Distinct word n-grams joined with single spaces.

    Documents shorter than n words yield the whole (trimmed) token join
    as one shingle so no document silently drops out of dedup.

    The token array is LET-BOUND via a single-element transform before
    the gram lambda touches it: codegen subexpression elimination does
    not reach inside higher-order functions, so an inlined ``tokens()``
    would re-split the text once per gram — O(tokens^2) per document
    (measured 42.0 s -> 7.0 s for the shingle explode over 500k docs).
    """

    def build(toks: Column) -> Column:
        k = F.size(toks)
        grams = F.transform(
            F.sequence(F.lit(1), k - F.lit(n - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        )
        return F.array_distinct(
            F.when(k >= n, grams).otherwise(F.array(F.concat_ws(" ", toks)))
        )

    return F.transform(F.array(tokens(text)), build)[0]


def word_ngrams(text: Column | str, n: int = 2) -> Column:
    """EVERY word n-gram occurrence in order (single-space joined) —
    the counting companion to :func:`word_shingles` (which dedupes for
    set semantics): language-model estimation needs occurrence counts,
    so no distinct and no short-document fallback (a doc with fewer
    than n words has no n-grams, and emits an empty array rather than
    a fabricated one).  Token array let-bound as in
    :func:`word_shingles`."""

    def build(toks: Column) -> Column:
        k = F.size(toks)
        grams = F.transform(
            F.sequence(F.lit(1), k - F.lit(n - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        )
        return F.when(k >= n, grams).otherwise(
            F.expr("CAST(array() AS ARRAY<STRING>)")
        )

    return F.transform(F.array(tokens(text)), build)[0]


def punct_ratio(text: Column | str) -> Column:
    """Fraction of characters that are ASCII punctuation."""
    t = _c(text)
    n_punct = F.length(t) - F.length(F.regexp_replace(t, r"[!-/:-@\[-`{-~]", ""))
    return F.when(F.length(t) > 0, n_punct.cast("double") / F.length(t)).otherwise(
        F.lit(0.0)
    )


def stopword_ratio(text: Column | str, stopwords: list[str] | None = None) -> Column:
    """Let-bound (see :func:`word_shingles`): the lowered token array is
    computed once, not once per reference."""
    sw = F.array(*[F.lit(w) for w in (stopwords or _ENGLISH_STOPWORDS)])

    def build(toks: Column) -> Column:
        hits = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
        n = F.size(toks)
        return F.when(n > 0, hits.cast("double") / n).otherwise(F.lit(0.0))

    lowered = F.transform(tokens(text), lambda t: F.lower(t))
    return F.transform(F.array(lowered), build)[0]


def quality_score(text: Column | str) -> Column:
    """Composite [0,1] quality heuristic: length, punctuation, stopwords.

    Designed for filter-at-scan usage — it is a single JVM expression,
    so `documents.filter(quality_score(...) > t)` evaluates it in the
    scan stage (no shuffle, no Python); its token lambdas run
    interpreted (see the module docstring).
    """
    t = _c(text)
    n_tok = token_count(t)
    len_component = F.least(n_tok.cast("double") / F.lit(20.0), F.lit(1.0))
    punct_component = F.lit(1.0) - F.least(
        punct_ratio(t) * F.lit(4.0), F.lit(1.0)
    )
    sw_component = F.least(stopword_ratio(t) * F.lit(4.0), F.lit(1.0))
    return F.round(
        (len_component + punct_component + sw_component) / F.lit(3.0), 6
    )


# The tokens of :func:`tokens` (Java's split on \s+, empties dropped):
# Java's \s is exactly these six ASCII characters, while Python's \s
# and str.split() also split on Unicode spaces such as U+00A0.
_JVM_TOKEN = re.compile(r"[^ \t\n\x0b\f\r]+")

# lower-cased stopword -> indexes into LANG_ORDER of the lists holding it
_STOP_LANGS: dict[str, tuple[int, ...]] = {
    w: tuple(i for i, lang in enumerate(LANG_ORDER) if w in LANG_STOPWORDS[lang])
    for words in LANG_STOPWORDS.values()
    for w in words
}

_STATS_NAMES = ("lang", "n_words", "n_unique_words", "char_sum", "top_cnt")
_STATS_TYPE = (
    "struct<lang:string,n_words:bigint,n_unique_words:bigint,"
    "char_sum:bigint,top_cnt:bigint>"
)


def text_stats_kernel():
    """The per-batch function of :func:`text_stats`: texts (str or
    None) -> five column lists (lang, n_words, n_unique_words,
    char_sum, top_cnt).

    Tokens are the JVM's (see ``_JVM_TOKEN``), lengths are code points
    (Spark ``length``), and words are compared case-sensitively; only
    the stopword lookup lower-cases.  ``lang`` is the language with the
    most stopword hits, the earlier one in LANG_ORDER on ties, and
    'und' without any hit.  A null or token-less text has zero counts
    and 'und'.  Everything it reads is bound in its closure, so the
    function pickles by value and the Python workers need not import
    this package."""
    find_tokens = _JVM_TOKEN.findall
    stop_langs = _STOP_LANGS
    order = tuple(LANG_ORDER)
    # lower() never shortens a string, so a longer token cannot lower
    # to a stopword
    longest = max(map(len, stop_langs))

    def rows(texts):
        langs, n_words, n_unique, char_sum, top_cnt = [], [], [], [], []
        for text in texts:
            toks = find_tokens(text) if text else []
            counts = Counter(toks)
            hits = [0] * len(order)
            for w, c in counts.items():
                if len(w) <= longest:
                    for i in stop_langs.get(w.lower(), ()):
                        hits[i] += c
            best = max(hits)
            langs.append(order[hits.index(best)] if best > 0 else "und")
            n_words.append(len(toks))
            n_unique.append(len(counts))
            char_sum.append(sum(map(len, toks)))
            top_cnt.append(max(counts.values(), default=0))
        return langs, n_words, n_unique, char_sum, top_cnt

    return rows


def text_stats(text: Column | str) -> Column:
    """STRUCT<lang, n_words, n_unique_words, char_sum, top_cnt> per
    document, from one Arrow kernel (:func:`text_stats_kernel`).

    Language ID and the Gopher rules both read this struct, so a plan
    that needs both binds it once as a column and sends each text to
    Python once.  The declarative forms it replaced are kept in
    ``tests/fold_reference.py`` as parity references."""
    rows = text_stats_kernel()
    names = list(_STATS_NAMES)
    types = [pa.string()] + [pa.int64()] * (len(names) - 1)

    @F.arrow_udf(_STATS_TYPE)
    def stats(col: pa.Array) -> pa.Array:
        return pa.StructArray.from_arrays(
            [pa.array(c, type=t) for c, t in zip(rows(col.to_pylist()), types)],
            names=names,
        )

    return stats(_c(text))


def detect_language(text: Column | str) -> Column:
    """Stopword-count language ID: argmax over LANG_ORDER of the
    stopword hits among the lower-cased tokens, earlier language on
    ties, 'und' (undetermined) when no stopword hits at all.  The
    ``lang`` field of :func:`text_stats`."""
    return text_stats(text)["lang"]


def doc_fingerprint(text: Column | str, n: int = 3) -> Column:
    """Content fingerprint: min md5 over word n-gram shingles.

    A 1-permutation MinHash — equal fingerprints imply (probabilistically)
    high Jaccard similarity; used as a cheap near-dup pre-cluster key.
    """
    return F.array_min(F.transform(word_shingles(text, n), F.md5))


def lsh_bands_kernel(num_hashes: int = 16, num_bands: int = 4, n: int = 3):
    """The per-batch function of :func:`lsh_bands`: UTF-8 texts (bytes
    or None) -> the flat list of hex band buckets, ``num_bands`` per
    text in text order.

    Per text: the JVM tokens (``_JVM_TOKEN`` on the UTF-8 bytes; its
    six separators are ASCII, which never occur inside a multi-byte
    sequence, so these are the encodings of the string tokens), the
    distinct word n-grams joined by single spaces, or the whole token
    join when there are fewer than ``n`` tokens (a null or token-less
    text gives the one shingle ``""``), then ONE md5 digest per
    shingle.  ``h1`` and ``h2`` are digest bytes 0-6 and 8-14 read
    big-endian (Spark's ``conv(substring(md5, 1|17, 14), 16, 10)``);
    signature ``i`` is ``min(h1 + i*h2)`` and bucket ``b`` is the md5
    hex of the decimal signatures of band ``b`` joined by ``|``.
    Everything it reads is bound in its closure, so the function pickles
    by value and the Python workers need not import this package."""
    if not 1 <= num_bands <= num_hashes <= 128:
        # h1 + i*h2 < 2^56 * (i + 1) stays inside int64 for i < 128
        raise ValueError(
            f"need 1 <= num_bands <= num_hashes <= 128, got "
            f"num_bands={num_bands}, num_hashes={num_hashes}"
        )
    find_tokens = re.compile(_JVM_TOKEN.pattern.encode()).findall
    join = b" ".join
    md5 = hashlib.md5
    width = num_hashes // num_bands
    spans = [(b * width, (b + 1) * width) for b in range(num_bands)]

    def buckets(texts):
        starts, digests = [], []
        for text in texts:
            toks = find_tokens(text) if text else []
            if len(toks) >= n:
                grams = set(map(join, zip(*[toks[j:] for j in range(n)])))
            else:
                grams = (join(toks),)
            starts.append(len(digests))
            digests += [md5(g).digest() for g in grams]
        if not starts:
            return []
        halves = np.frombuffer(b"".join(digests), dtype=">u8").reshape(-1, 2)
        h1 = (halves[:, 0] >> 8).astype(np.int64)
        h2 = (halves[:, 1] >> 8).astype(np.int64)
        sig = np.empty((len(starts), num_hashes), dtype=np.int64)
        for i in range(num_hashes):
            sig[:, i] = np.minimum.reduceat(h1, starts)
            h1 += h2
        return [
            md5("|".join(map(str, row[lo:hi])).encode()).hexdigest()
            for row in sig.tolist()
            for lo, hi in spans
        ]

    return buckets


def lsh_bands(
    text: Column | str, num_hashes: int = 16, num_bands: int = 4, n: int = 3
) -> Column:
    """ARRAY<STRING> of the ``num_bands`` MinHash LSH bucket hashes of
    each document, from one Arrow kernel (:func:`lsh_bands_kernel`):
    no shingle array, no per-shingle JVM expressions, no shuffle.  The
    declarative form it replaced (shingle explode, one ``min`` per
    family member, band md5) is kept in ``tests/fold_reference.py`` as
    the parity reference."""
    buckets = lsh_bands_kernel(num_hashes, num_bands, n)

    @F.arrow_udf("array<string>")
    def bands(col: pa.Array) -> pa.Array:
        flat = buckets(col.cast(pa.binary()).to_pylist())
        offsets = pa.array(range(0, len(flat) + 1, num_bands), pa.int32())
        return pa.ListArray.from_arrays(offsets, pa.array(flat, pa.string()))

    return bands(_c(text))
