"""BatchFlusher: bounded Arrow output batches for payload exploders;
probe_table: the per-variant probe contract."""

import pandas as pd

from cloud_optimized_data_pipelines_spark.batching import BatchFlusher, probe_table


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
