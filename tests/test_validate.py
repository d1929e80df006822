"""Port of the reference's routing/validation tests
(lambdas/build-stac/tests/test_handler.py:40-102): CmrEvent vs
RegexEvent dispatch and malformed-event rejection."""

import pytest
from pyspark.sql import functions as F

from cloud_optimized_data_pipelines_spark.operators.validate import validate_events

SCHEMA = (
    "collection string, s3_filename string, granule_id string, "
    "datetime_range string"
)


def test_event_type_dispatch(spark):
    df = spark.createDataFrame(
        [
            ("c1", "s3://b/k1.tif", "G123-PROV", None),  # CMR-routed
            ("c1", "s3://b/k2.tif", None, "month"),  # regex-routed
        ],
        SCHEMA,
    )
    out = {r.s3_filename: r for r in validate_events(df).collect()}
    assert out["s3://b/k1.tif"].event_type == "cmr"
    assert out["s3://b/k2.tif"].event_type == "regex"
    assert all(r.validation_error is None for r in out.values())


def test_malformed_events_flagged(spark):
    df = spark.createDataFrame(
        [
            (None, "s3://b/k.tif", None, None),  # missing collection
            ("c1", None, None, None),  # missing s3_filename
            ("c1", "s3://b/k.tif", None, "decade"),  # bad interval literal
        ],
        SCHEMA,
    )
    errs = [r.validation_error for r in validate_events(df).collect()]
    assert errs[0] == "field required: collection"
    assert errs[1] == "field required: s3_filename"
    assert "permitted: 'month', 'year'" in errs[2]


def test_strict_mode_raises_like_pydantic(spark):
    df = spark.createDataFrame([(None, "s3://b/k.tif", None, None)], SCHEMA)
    with pytest.raises(ValueError, match="invalid event"):
        validate_events(df, strict=True)


def test_strict_mode_passes_valid(spark):
    df = spark.createDataFrame([("c1", "s3://b/k.tif", None, "year")], SCHEMA)
    assert validate_events(df, strict=True).count() == 1


def test_check_constraints_detects_violations(spark):
    """Deequ-style suite: a crafted frame with a null key, a duplicate
    id, an out-of-range value and an orphaned foreign key must fail
    exactly the right rules with exact ratios; the empty frame passes
    vacuously; unknown rules raise."""
    import pytest as _pytest

    from cloud_optimized_data_pipelines_spark.operators.constraints import (
        check_constraints,
    )

    df = spark.createDataFrame(
        [
            (1, 10, "A", 5.0),
            (2, None, "A", 50.0),   # null fk
            (2, 11, "B", -1.0),     # duplicate id + out of range
            (3, 99, "C", 7.0),      # orphan fk + not in set
        ],
        "id long, fk long, status string, price double",
    )
    ref = spark.createDataFrame([(10,), (11,)], "k long")
    rules = [
        {"rule": "not_null", "column": "fk"},
        {"rule": "unique", "column": "id"},
        {"rule": "range", "column": "price", "min": 0.0, "max": 10.0},
        {"rule": "in_set", "column": "status", "values": ["A", "B"]},
        {"rule": "referential", "column": "fk", "ref": "r",
         "ref_column": "k"},
    ]
    rows = {
        r["rule_id"]: r
        for r in check_constraints(df, rules, refs={"r": ref}).collect()
    }
    assert rows[0]["metric"] == 0.75 and not rows[0]["passed"]
    assert rows[1]["metric"] == 0.75 and not rows[1]["passed"]  # 3 distinct / 4
    assert rows[2]["metric"] == 0.5 and not rows[2]["passed"]   # 5.0, 7.0 in range
    assert rows[3]["metric"] == 0.75 and not rows[3]["passed"]
    # fk: 3 non-null, 1 orphan (99) -> compliance 2/3
    assert abs(rows[4]["metric"] - 2 / 3) < 1e-12 and not rows[4]["passed"]
    clean = spark.createDataFrame([], "id long, fk long, status string, price double")
    vac = check_constraints(clean, rules, refs={"r": ref}).collect()
    assert all(r["passed"] and r["metric"] == 1.0 for r in vac)
    with _pytest.raises(ValueError, match="unknown constraint rule"):
        check_constraints(df, [{"rule": "bogus", "column": "id"}])
    with _pytest.raises(ValueError, match="no rules"):
        check_constraints(df, [])


def test_profile_columns_exactness_and_edges(spark):
    """Profiler invariants on a crafted frame: bucket counts sum to the
    non-null count, nulls counted, constant columns collapse to bucket
    0, max lands in the LAST bucket (the least() cap), and the scalars
    are exact."""
    from cloud_optimized_data_pipelines_spark.operators.constraints import (
        profile_columns,
    )

    df = spark.createDataFrame(
        [(0.0,), (1.0,), (2.0,), (4.0,), (8.0,), (None,)], "x double"
    ).withColumn("c", F.lit(7.0))
    rows = profile_columns(df, ["x", "c"], hist_buckets=4).collect()
    x = [r for r in rows if r["column"] == "x"]
    assert all(r["n"] == 6 and r["nulls"] == 1 and r["n_distinct"] == 5
               and r["min"] == 0.0 and r["max"] == 8.0 for r in x)
    assert sum(r["bucket_n"] for r in x) == 5
    by_bucket = {r["bucket"]: r["bucket_n"] for r in x}
    # spans of width 2: [0,2) -> 0.0,1.0 ; [2,4) -> 2.0 ; [4,6) -> 4.0 ;
    # [6,8] -> 8.0 capped into bucket 3
    assert by_bucket == {0: 2, 1: 1, 2: 1, 3: 1}
    c = [r for r in rows if r["column"] == "c"]
    assert len(c) == 1 and c[0]["bucket"] == 0 and c[0]["bucket_n"] == 6
    assert c[0]["mean"] == 7.0 and c[0]["min"] == 7.0 == c[0]["max"]


def test_profile_columns_mean_is_order_independent(spark):
    """The mean comes from an exact sum: the same values summed in two
    orders give the same mean.  As doubles, 1e15 + 0.1 - 1e15 is 0.125,
    so one order's double sum is 1.025 and the other's 1.0."""
    from cloud_optimized_data_pipelines_spark.operators.constraints import (
        profile_columns,
    )

    means = set()
    for xs in ([1e15, 0.1, -1e15, 0.2, 0.7], [0.1, 0.2, 0.7, 1e15, -1e15]):
        df = spark.createDataFrame([(x,) for x in xs], "x double").coalesce(1)
        means |= {r["mean"] for r in profile_columns(df, ["x"]).collect()}
    assert means == {0.2}
