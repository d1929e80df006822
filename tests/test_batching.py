"""BatchFlusher: bounded Arrow output batches for payload exploders;
spread_small_scan: the parallelism floor, planning-only; probe_table:
the per-variant probe contract; pin and pins: one way to pin an
intermediate, released by its scope."""

import pandas as pd
import pytest

from cloud_optimized_data_pipelines_spark.batching import (
    BatchFlusher,
    pin,
    pins,
    probe_table,
)
from cloud_optimized_data_pipelines_spark.queries import QUERIES


def test_flush_on_bytes():
    fl = BatchFlusher(["id", "blob"], budget=100, max_rows=1000)
    outs = []
    for i in range(10):
        out = fl.add({"id": i, "blob": "x" * 40}, nbytes=40)
        if out is not None:
            outs.append(out)
    tail = fl.tail()
    if tail is not None:
        outs.append(tail)
    # 40 bytes/row, 100-byte budget -> flush every 3 rows
    assert [len(o) for o in outs] == [3, 3, 3, 1]
    assert pd.concat(outs)["id"].tolist() == list(range(10))
    assert fl.tail() is None  # drained


def test_flush_on_rows():
    fl = BatchFlusher(["id"], budget=1 << 30, max_rows=4)
    outs = [o for i in range(9) if (o := fl.add({"id": i})) is not None]
    tail = fl.tail()
    assert [len(o) for o in outs] == [4, 4]
    assert len(tail) == 1
    assert list(tail.columns) == ["id"]


def test_empty_tail():
    fl = BatchFlusher(["id"])
    assert fl.tail() is None


PROBE_SCHEMA = "variant bigint, label string, sq bigint"


def _probe(spark, n):
    def row(v):  # nested, so workers unpickle it by value
        # keys deliberately out of schema order
        return {"sq": v * v, "label": f"v{v}", "variant": v}

    return probe_table(spark, row, PROBE_SCHEMA, n)


def test_probe_table_rows_columns_and_partitions(spark):
    par = spark.sparkContext.defaultParallelism
    for n in (max(1, par // 2), par + 3):
        probe = _probe(spark, n)
        assert probe.columns == ["variant", "label", "sq"]
        assert probe.rdd.getNumPartitions() == min(n, par)
        rows = probe.collect()
        assert sorted(r["variant"] for r in rows) == list(range(n))
        assert all(r["sq"] == r["variant"] ** 2 for r in rows)
        assert all(r["label"] == f"v{r['variant']}" for r in rows)


def test_probe_table_zero_variants_is_empty(spark):
    probe = _probe(spark, 0)
    assert probe.columns == ["variant", "label", "sq"]
    assert probe.count() == 0


def _jobs_in_group(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def test_spread_runs_no_job_on_a_shuffled_input(spark):
    """Building a dedup operator over a joined input plans only: the
    spread helper does not read the partition count of a plan with an
    exchange (that would run every upstream query stage), and hands
    the input through unchanged."""
    from cloud_optimized_data_pipelines_spark.batching import spread_small_scan
    from cloud_optimized_data_pipelines_spark.operators.dedup import (
        minhash_lsh_dedup,
    )

    docs = spark.createDataFrame(
        [(i, f"w{i % 7} w{i % 5} w{i % 3} tail {i % 4}") for i in range(40)],
        "doc_id long, text string",
    )
    keys = spark.range(0, 40, 2).withColumnRenamed("id", "doc_id")
    joined = docs.join(keys.repartition(3, "doc_id"), "doc_id")
    deduped, jobs = _jobs_in_group(
        spark,
        "spread-shuffled-input",
        lambda: minhash_lsh_dedup(joined, "doc_id", "text"),
    )
    assert jobs == []
    assert spread_small_scan(joined) is joined
    # same rows as the operator over a local copy of the joined input
    local = spark.createDataFrame(joined.collect(), joined.schema)
    want = minhash_lsh_dedup(local, "doc_id", "text")
    assert sorted(deduped.collect()) == sorted(want.collect())


def test_spread_widens_a_one_file_scan(spark, tmp_path):
    """A one-file parquet scan (one input split) is still spread to the
    default parallelism, without a job for the partition count."""
    from cloud_optimized_data_pipelines_spark.batching import spread_small_scan

    path = str(tmp_path / "one.parquet")
    spark.range(200).coalesce(1).write.parquet(path)
    scan = spark.read.parquet(path)
    spread, jobs = _jobs_in_group(
        spark, "spread-one-file", lambda: spread_small_scan(scan)
    )
    assert jobs == []
    par = spark.sparkContext.defaultParallelism
    assert scan.rdd.getNumPartitions() == 1 < par
    assert spread.rdd.getNumPartitions() == par
    assert sorted(r.id for r in spread.collect()) == list(range(200))


def _pinned(spark):
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def test_nested_pins_release_only_their_own(spark):
    """A scope releases the pins made while it is open, nested scopes
    included, and nothing older; a pin made outside any scope stays."""
    before = _pinned(spark)
    outside = pin(spark.range(10))
    base = _pinned(spark)
    assert len(base - before) == 1
    with pins(spark):
        outer = pin(spark.range(20))
        lazy = pin(spark.range(30), eager=False)
        mid = _pinned(spark)
        assert len(mid - base) == 2
        with pins(spark):
            inner = pin(spark.range(40))
            assert len(_pinned(spark) - mid) == 1
            assert inner.count() == 40
        assert _pinned(spark) == mid
        assert outer.count() == 20 and lazy.count() == 30
    assert _pinned(spark) == base
    assert outside.count() == 10


def test_pin_is_reliable_under_a_session_checkpoint_dir(
    spark, session_checkpoint_dir
):
    """With a checkpoint dir set, a pin is written under it and holds no
    executor storage, so it outlives the scope that made it."""
    before = _pinned(spark)
    ckpt_dir = session_checkpoint_dir()
    with pins(spark):
        df = pin(spark.range(50))
        assert _pinned(spark) == before
    assert any(p.is_file() for p in ckpt_dir.rglob("*"))
    assert df.count() == 50


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_leaves_no_pin_behind(spark, sf_dir, name):
    """Every registered query, run inside one scope, leaves the set of
    persistent RDDs as it found it."""
    before = _pinned(spark)
    with pins(spark):
        QUERIES[name](spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
    assert _pinned(spark) == before
