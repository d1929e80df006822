"""Registry-wide oracle output-type sweep (DuckDB only, no Spark).

The driver's correctness hasher serializes values *type-sensitively*:
a DuckDB HUGEINT (what a window ``SUM(BIGINT)`` returns) or DECIMAL
(``SUM(INTEGER)``) hash-mismatches against Spark's BIGINT/DOUBLE even
when every value is numerically equal — round 2 lost 18 rows to
decimals, round 4 lost `sample_token_budget_mix` to HUGEINT.  This
sweep makes the class a *local* failure: every registered oracle's
declared DuckDB output types must be in the portable set.

Window rotations can never re-introduce the class: the sweep covers
the full registry, not the graded window.  One Spark-vs-oracle row
check sits here too, on prices the generated fixtures never hold.
"""

import os

import duckdb
import pytest

import __spark_entry__ as entrymod
from tools.check_oracle import check_oracle_types, duck_type_ok

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in TABLES:
        c.execute(
            f"CREATE OR REPLACE VIEW {t} AS "
            f"SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    return c


def test_duck_type_ok_rejects_hugeint_decimal_and_lists():
    assert duck_type_ok("BIGINT")
    assert duck_type_ok("DOUBLE")
    assert not duck_type_ok("HUGEINT")
    assert not duck_type_ok("DECIMAL(38,2)")
    # lists are NOT portable as OUTPUT columns (r10 hardening): the
    # driver's canonicalizer sorts raw pandas columns and list cells
    # raise TypeError — how r9's stac_item_raster went red despite
    # passing the local checker, whose old "arrays of portable types
    # are portable" rule hid exactly this failure mode
    assert not duck_type_ok("VARCHAR[]")
    assert not duck_type_ok("BIGINT[][]")
    assert not duck_type_ok("HUGEINT[]")


def test_uncast_window_sum_is_caught(con):
    """Deliberately uncast SUM window — must be flagged, else the
    harness regressed to the state that let round 4's red through."""
    bad = check_oracle_types(
        con,
        "synthetic",
        "SELECT SUM(o_orderkey) OVER () AS s FROM orders LIMIT 1",
    )
    assert bad == [("s", "HUGEINT")]


@pytest.mark.parametrize("name", sorted(entrymod.oracle_sql()))
def test_oracle_output_types_portable(con, name):
    sql = entrymod.oracle_sql()[name]
    bad = check_oracle_types(con, name, sql)
    assert not bad, (
        f"{name}: non-portable DuckDB output types {bad} — CAST to "
        "BIGINT/DOUBLE/VARCHAR/... or the driver hasher will red this "
        "row despite equal values"
    )


def test_window_topk_per_customer_ranks_raw_price_like_oracle(
    spark, monkeypatch
):
    """The oracle's OVER clause ranks on the base ``o_totalprice``, not
    the DECIMAL(18,2)-cast alias; prices that only differ past the
    second decimal must rank the same way on Spark."""
    import pandas as pd

    from cloud_optimized_data_pipelines_spark.registry import q_relational

    orders = pd.DataFrame(
        {
            "o_orderkey": [10, 11, 12, 13, 20],
            "o_custkey": [1, 1, 1, 1, 2],
            "o_totalprice": [5.001, 5.004, 5.002, 5.003, 7.0],
        }
    )
    customer = pd.DataFrame({"c_custkey": [1, 2]})
    tables = {
        "orders": spark.createDataFrame(orders),
        "customer": spark.createDataFrame(customer),
    }
    monkeypatch.setattr(q_relational, "load_tables", lambda *_: tables)
    got = sorted(
        tuple(r)
        for r in q_relational.topk_per_customer(spark, None).collect()
    )
    c = duckdb.connect()
    c.register("orders", orders)
    c.register("customer", customer)
    want = sorted(c.execute(q_relational._TOPK_PER_CUST).fetchall())
    assert got == want
    assert {r[1]: r[3] for r in got if r[0] == 1} == {11: 1, 13: 2, 12: 3}
