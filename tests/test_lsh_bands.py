"""The MinHash LSH band kernel (``functions.text.lsh_bands`` under
``operators.dedup.lsh_banded``) against the declarative JVM form in
``tests/fold_reference.py``."""

import re

import fold_reference as R
import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from cloud_optimized_data_pipelines_spark.functions.text import lsh_bands_kernel
from cloud_optimized_data_pipelines_spark.operators.dedup import (
    lsh_banded,
    minhash_lsh_dedup,
)

# the JVM's \s: what separates tokens on both sides
_WS = " \t\n\x0b\f\r"

# a small vocabulary, so that shingles repeat within and across texts;
# Unicode spaces INSIDE tokens (not separators for the JVM, separators
# for str.split()), astral-plane characters and a separator-like '|'
_WORDS = [
    "a", "b", "c", "the", "fox", "héllo", "жест", "x|y",
    "a b", " ", "c d", " ",
    "\U0001d518\U0001d52b", "\U0001f600", "\U00020000x",
]

_sep = st.text(alphabet=_WS, min_size=1, max_size=3)


@st.composite
def _doc(draw):
    """Drawn words joined by JVM-whitespace runs, with optional
    leading and trailing whitespace; short lists give texts with fewer
    tokens than the shingle width."""
    words = draw(st.lists(st.sampled_from(_WORDS), max_size=12))
    seps = draw(st.lists(_sep, min_size=len(words), max_size=len(words)))
    body = "".join(w + s for w, s in zip(words, seps))
    return draw(st.one_of(st.just(""), _sep)) + body


_text = st.one_of(
    st.none(),
    st.just(""),
    st.text(alphabet=_WS, min_size=1, max_size=5),
    _doc(),
)

_EXAMPLES = [
    None, "", " ", "\t\n\x0b\f\r", " \x0b a \f",
    # Unicode spaces join tokens for the JVM; str.split() splits them
    "a b c d", "a b c d", "    x",
    # fewer tokens than n; repeated shingles
    "a", "a b", "a b a b a b a b", "the fox the fox the fox",
    "\U0001d518\U0001d52b \U0001f600 \U00020000x \U0001f600",
]

# (n, num_hashes, num_bands): the production default and a second shape
_GEOMETRIES = [(3, 16, 4), (2, 8, 2)]


@pytest.mark.parametrize("n,num_hashes,num_bands", _GEOMETRIES)
@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[
        HealthCheck.too_slow,
        HealthCheck.data_too_large,
        HealthCheck.function_scoped_fixture,
    ],
)
@given(texts=st.lists(_text, min_size=1, max_size=10))
@example(texts=_EXAMPLES)
def test_lsh_banded_matches_fold_reference(spark, n, num_hashes, num_bands, texts):
    """The (doc, band, bucket) rows of the Arrow kernel equal the
    declarative form's, bit for bit, on one partition and on more
    partitions than rows (some empty)."""
    docs = spark.createDataFrame(list(enumerate(texts)), "doc_id int, text string")
    geometry = (num_hashes, num_bands, n)
    for layout in (1, len(texts) + 3):
        frame = docs.repartition(layout)
        got = lsh_banded(frame, "doc_id", "text", *geometry)
        want = R.lsh_banded(frame, "doc_id", "text", *geometry)
        assert sorted(got.collect()) == sorted(want.collect())


def test_lsh_banded_plan_is_one_arrow_pass(spark):
    """The index is one Arrow UDF over the scan: no aggregate (the old
    signature shuffle) and no interpreted array lambda."""
    docs = spark.createDataFrame([(1, "a b c d")], "doc_id int, text string")
    plan = (
        lsh_banded(docs, "doc_id", "text")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("ArrowEvalPython") == 1, plan
    assert "Aggregate" not in plan, plan
    assert not re.findall(r"\b(filter|transform|lambdafunction)\(", plan), plan


def test_null_text_buckets_like_empty_text(spark):
    """A null text has the one shingle "" (the declarative form's
    concat_ws over a null token array), as empty and whitespace-only
    texts do: all of them share every bucket, and the dedup keeps only
    the lowest id among them."""
    docs = spark.createDataFrame(
        [(4, None), (2, ""), (3, " \x0b\f\r "), (5, None), (1, "a b c d")],
        "doc_id int, text string",
    )
    bands = {}
    for r in lsh_banded(docs, "doc_id", "text").collect():
        bands.setdefault(r.doc, []).append((r.band, r.bucket))
    assert bands[4] == bands[5] == bands[2] == bands[3] != bands[1]
    kept = minhash_lsh_dedup(docs, "doc_id", "text").collect()
    assert sorted(r.doc_id for r in kept) == [1, 2]


def test_lsh_bands_kernel_geometry():
    """Bucket count per text, the whole-join shingle of a short text,
    and the geometries the 64-bit family cannot hold."""
    buckets = lsh_bands_kernel(num_hashes=8, num_bands=2, n=3)
    assert buckets([]) == []
    out = buckets([None, b"", b"a\xc2\xa0b c", b"a b c d"])
    assert len(out) == 8
    # None, "" and the one-shingle text "a b c" differ only in the
    # shingle; None and "" share it
    assert out[0:2] == out[2:4] != out[4:6]
    for bad in ((16, 0), (4, 8), (129, 4)):
        with pytest.raises(ValueError):
            lsh_bands_kernel(*bad)
