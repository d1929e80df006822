"""The ``text_stats`` Arrow kernel (language ID + Gopher word integers)
against the declarative JVM forms in ``tests/fold_reference.py``."""

import fold_reference as R
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from cloud_optimized_data_pipelines_spark.functions.text import (
    detect_language,
    text_stats_kernel,
)
from cloud_optimized_data_pipelines_spark.operators.quality import (
    gopher_quality_flags,
)

# the JVM's \s: what separates tokens on both sides
_WS = " \t\n\x0b\f\r"

# stopwords in several cases (la/en/que are shared between languages),
# non-ASCII case mappings (FÜR, dotted capital I, Kelvin sign, Greek
# final sigma), Unicode spaces INSIDE tokens (not separators for the
# JVM), and plain words of lengths 1-9
_WORDS = [
    "the", "The", "THE", "THAT", "Thats", "and", "is", "la", "LA", "en",
    "En", "que", "QUE", "el", "y", "der", "die", "und", "für", "FÜR",
    "le", "et",
    "\u0130n", "\u0130", "\u212aey", "\u212a", "ΟΔΟΣ", "Σ", "σας", "ς",
    "the\u00a0and", "\u00a0", "la\u2003la", "\u2003", "x", "ab",
    "word", "quality", "héllo", "жест", "abcdefghi",
]

_sep = st.text(alphabet=_WS, min_size=1, max_size=3)


@st.composite
def _doc(draw):
    """A text of drawn words and JVM-whitespace runs, optionally with
    one word repeated enough to cross the top-word-fraction rule."""
    words = draw(st.lists(st.sampled_from(_WORDS), max_size=70))
    words += [draw(st.sampled_from(_WORDS))] * draw(st.integers(0, 25))
    words = draw(st.permutations(words))
    gaps = max(len(words) - 1, 0)
    seps = draw(st.lists(_sep, min_size=gaps, max_size=gaps))
    ends = st.one_of(st.just(""), _sep)
    body = "".join(w + s for w, s in zip(words, seps + [""]))
    return draw(ends) + body + draw(ends)


_text = st.one_of(
    st.none(),
    st.just(""),
    st.text(alphabet=_WS, min_size=1, max_size=5),
    _doc(),
)

_FLAG_COLS = ["n_words", "n_unique_words", "mean_word_len", "top_word_frac", "keep"]

# 60 words, six distinct at 10 each (top 1/6): passes every rule
_LONG = " ".join(["quality", "word", "héllo", "abcdefghi", "жест", "ab"] * 10)
_EXAMPLES = [
    [None, "", " ", "\t\n\x0b\f\r", " \x0b the \f"],
    # Unicode spaces join tokens for the JVM; str.split() splits them
    ["the\u00a0the\u00a0the la", "el\u2003el la", "\u00a0 \u2003"],
    ["FÜR die", "\u0130N THE", "\u212aEY the", "ΟΔΟΣ ΣΑΣ la la", "ς σ Σ"],
    # ties between languages: shared stopwords, then equal hit counts
    ["la en que", "la", "en que the", "el le", "der the", "und le y"],
    # under min_words; one word above 20%; a keep=true document
    ["the quality word", "the " * 20 + _LONG, _LONG, "x " * 49 + "y"],
]


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
)
@given(texts=st.lists(_text, min_size=1, max_size=10))
@example(texts=[t for batch in _EXAMPLES for t in batch])
def test_text_stats_match_fold_reference(spark, texts):
    """Language ID and the Gopher columns from the Arrow kernel equal
    the declarative JVM forms, row for row and bit for bit, on one
    partition and on more partitions than rows (some empty)."""
    docs = spark.createDataFrame(list(enumerate(texts)), "doc_id int, text string")
    for layout in (1, len(texts) + 3):
        frame = docs.repartition(layout)
        got = gopher_quality_flags(frame, "doc_id", "text").select(
            "doc_id", detect_language("text").alias("lang"), *_FLAG_COLS
        )
        want = R.gopher_quality_flags_rows(frame, "doc_id", "text").select(
            "doc_id", R.detect_language("text").alias("lang"), *_FLAG_COLS
        )
        assert repr(sorted(got.collect())) == repr(sorted(want.collect()))


def test_text_stats_kernel_tokenizes_like_the_jvm():
    """Only the six ASCII \\s characters separate tokens: U+00A0 and
    U+2003 stay inside them, and lower-casing is for the stopword
    lookup only (THE and the are two distinct words)."""
    rows = text_stats_kernel()
    langs, n_words, n_unique, char_sum, top_cnt = rows(
        [None, "\x0b\f\r", "the\u00a0the la", "THE the x\u2003y", "FÜR die"]
    )
    assert langs == ["und", "und", "es", "en", "de"]
    assert n_words == [0, 0, 2, 3, 2]
    assert n_unique == [0, 0, 2, 3, 2]
    assert char_sum == [0, 0, 9, 9, 6]
    assert top_cnt == [0, 0, 1, 1, 1]
