"""Vector math over ARRAY<FLOAT>/ARRAY<DOUBLE> embedding columns.

Pure ``F.zip_with``/``F.aggregate`` expressions — JVM-side, no UDF, so a
100 TB embeddings scan does brute-force scoring inside whole-stage
codegen.  All arithmetic is DOUBLE with a left-fold accumulation order,
which makes results bit-identical to a DuckDB ``list_reduce`` oracle.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def dot(a: Column | str, b: Column | str) -> Column:
    """Left-fold sum of elementwise double products."""
    prods = F.zip_with(_c(a), _c(b), lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, v: acc + v)


def norm(a: Column | str) -> Column:
    return F.sqrt(dot(a, a))


def safe_cos_div(dot_col: Column, denom: Column) -> Column:
    """Cosine quotient that is NULL when the denominator is zero (a
    zero-norm vector has no defined cosine).  Spark 4 runs ANSI mode,
    where a bare double division by 0.0 ABORTS THE JOB; DuckDB yields
    NULL — this guard makes both engines agree on NULL, so oracles
    need no change and zero vectors drop out of >= threshold gates
    instead of crashing the pipeline."""
    return F.when(denom != 0.0, dot_col / denom)


def cosine_similarity(a: Column | str, b: Column | str) -> Column:
    return safe_cos_div(dot(a, b), norm(a) * norm(b))


def literal_vector(values: list[float]) -> Column:
    """A constant query vector as an ARRAY<DOUBLE> literal.

    Built as ONE ``F.expr`` SQL parse instead of a py4j round trip per
    element (optimization r15, guide §5 driver work): a 64-dim vector
    was 65 gateway calls (~45 ms each construction); the parsed
    ``array(...)`` is the IDENTICAL CreateArray-of-Literals expression
    tree.  ``repr(float)`` round-trips bit-exactly through the SQL
    double parser (shortest-decimal repr + correctly-rounded parse),
    verified down to denormals, max-double and -0.0.  Non-finite
    values have no numeric literal; they are written as string casts
    (``CAST('NaN' AS DOUBLE)``), still inside the one parse."""
    return F.expr("array(" + ",".join(map(_double_sql, values)) + ")")


_NON_FINITE_SQL = {
    "inf": "CAST('Infinity' AS DOUBLE)",
    "-inf": "CAST('-Infinity' AS DOUBLE)",
    "nan": "CAST('NaN' AS DOUBLE)",
}


def _double_sql(v: float) -> str:
    r = repr(float(v))
    return _NON_FINITE_SQL.get(r, r + "D")


def sign_bucket(a: Column | str, num_dims: int = 8) -> Column:
    """Deterministic coarse LSH bucket: sign bits of the first N dims.

    The scale path for ANN — partition the corpus by bucket, search only
    the query's bucket (plus Hamming-1 neighbors if recall requires).
    """
    v = _c(a)
    bits = [
        F.when(F.element_at(v, i + 1) >= 0, F.lit("1")).otherwise(F.lit("0"))
        for i in range(num_dims)
    ]
    return F.concat(*bits)


def hamming1_probes(bucket: Column | str, num_dims: int) -> Column:
    """The multiprobe set of a sign bucket: the bucket itself plus its
    ``num_dims`` Hamming-1 neighbors (one bit flipped each) as an
    ARRAY<STRING> — Lv et al. 2007's multi-probe LSH lever on the
    hyperplane-sign code.  Explode it on the SMALL (broadcast) side of
    a bucket equi-join: a true near neighbor differing in one sign bit
    (the dominant miss mode of single-bucket blocking) is then found,
    at (d+1)/2^d of the corpus instead of 1/2^d.  The d+1 strings are
    pairwise distinct, so an exploded join never double-counts a pair.
    """
    b = _c(bucket)
    return F.array(
        b,
        *(
            F.concat(
                F.substring(b, 1, i),
                F.when(F.substring(b, i + 1, 1) == "1", "0").otherwise("1"),
                F.substring(b, i + 2, num_dims - i - 1),
            )
            for i in range(num_dims)
        ),
    )
