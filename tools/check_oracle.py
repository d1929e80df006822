"""Local stand-in for the driver's t2 correctness harness.

Runs every __spark_entry__ query on Spark AND its oracle SQL on DuckDB
at the given sf dir, compares row count, column names/order-insensitive
sorted columns, and an order-insensitive value multiset.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time
from decimal import Decimal

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402
from cloud_optimized_data_pipelines_spark.batching import pins  # noqa: E402
from cloud_optimized_data_pipelines_spark.queries import TABLES  # noqa: E402
from cloud_optimized_data_pipelines_spark.session import get_spark  # noqa: E402


# DuckDB output types the driver hasher serializes identically to
# Spark's.  Anything else (HUGEINT from SUM(BIGINT) windows, DECIMAL
# from SUM(INT), INT128, UTINYINT...) hash-mismatches on the driver
# even when every value is numerically equal — so it is a hard local
# error.  Arrays/lists are NOT portable as OUTPUT columns: the
# driver's canonicalizer sorts raw pandas columns and list cells raise
# ``TypeError: unhashable type: 'list'`` (r9 `stac_item_raster` red
# row) — serialize arrays to fixed-precision strings before returning.
PORTABLE_DUCK_TYPES = {
    "BIGINT", "DOUBLE", "VARCHAR", "DATE", "TIMESTAMP", "BOOLEAN",
    "INTEGER", "FLOAT", "TIMESTAMP WITH TIME ZONE", "BLOB",
}


def duck_type_ok(t):
    return str(t) in PORTABLE_DUCK_TYPES


def check_oracle_types(con, name, sql):
    """Return list of (col, type) pairs with non-portable declared types."""
    rel = con.sql(sql)
    return [
        (c, str(t))
        for c, t in zip(rel.columns, rel.types)
        if not duck_type_ok(t)
    ]


def norm_cell(v):
    if isinstance(v, float):
        return f"{v!r}"
    if isinstance(v, Decimal):
        # NO normalize(): the driver hasher serializes decimals at
        # declared scale, so "138014.00" != "138014" must FAIL here too.
        return f"Decimal:{v}"
    if isinstance(v, list):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    return repr(v)


def normalize(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for row in rows:
        out.append(tuple(norm_cell(row[i]) for i in order))
    return sorted(out)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])
    spark = get_spark("oracle-check", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in sorted(qs.items()):
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            with pins(spark):  # each query releases its own pins
                sdf = fn(spark, sf_dir)
                scols = sdf.columns
                srows = sdf.collect()
        except Exception as e:
            print(f"FAIL  {name}: spark error: {str(e)[:200]}")
            failures.append(name)
            continue
        if name not in oracles:
            print(f"SKIP  {name}: no oracle ({len(srows)} rows)")
            continue
        try:
            bad_types = check_oracle_types(con, name, oracles[name])
            res = con.execute(oracles[name])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {str(e)[:200]}")
            failures.append(name)
            continue
        if bad_types:
            print(f"FAIL  {name}: non-portable oracle output types "
                  f"{bad_types} (CAST to BIGINT/DOUBLE/... — the driver "
                  "hasher types HUGEINT/DECIMAL differently)")
            failures.append(name)
            continue
        dt = time.time() - t0
        if sorted(scols) != sorted(dcols):
            print(f"FAIL  {name}: columns {sorted(scols)} vs {sorted(dcols)}")
            failures.append(name)
            continue
        # engine convention: decimals stay internal, outputs are DOUBLE —
        # a decimal output column is exactly the class the driver hasher
        # serializes differently per engine, so it is an error here.
        dec_cols = [c for c, t in sdf.dtypes if t.startswith("decimal")]
        if dec_cols:
            print(f"FAIL  {name}: decimal output columns {dec_cols} "
                  "(final-cast to DOUBLE on both sides)")
            failures.append(name)
            continue
        # The driver canonicalizer sorts raw pandas columns — list
        # cells are unhashable and crash it (r9 stac_item_raster).
        nested = [
            c for c, t in sdf.dtypes
            if t.startswith(("array", "map", "struct"))
        ]
        if nested:
            print(f"FAIL  {name}: nested output columns {nested} "
                  "(serialize to a fixed-precision string — the driver "
                  "canon crashes on list cells)")
            failures.append(name)
            continue
        if len(srows) != len(drows):
            print(f"FAIL  {name}: rowcount {len(srows)} vs {len(drows)}")
            failures.append(name)
            continue
        s_norm = normalize([r.asDict() and [r[c] for c in scols] for r in srows], scols)
        d_norm = normalize(drows, dcols)
        if s_norm != d_norm:
            diff = [
                (a, b) for a, b in zip(s_norm, d_norm) if a != b
            ][:3]
            print(f"FAIL  {name}: value mismatch, first diffs: {diff}")
            failures.append(name)
            continue
        print(f"OK    {name}: {len(srows)} rows  ({dt:.1f}s)")

    print()
    if failures:
        print("FAILURES:", failures)
        sys.exit(1)
    print("all queries match")


if __name__ == "__main__":
    main()
