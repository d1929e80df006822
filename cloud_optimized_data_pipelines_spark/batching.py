"""mapInPandas helpers: bounded Arrow output batches for
payload-exploding operators, the small-scan spread, the per-variant
probe table, and the one way to pin an intermediate (``pin`` and its
release scope ``pins``).

A generator that yields one DataFrame per INPUT batch hands the JVM
one Arrow record batch per task-split — for payload columns that can
be a single multi-hundred-MB batch, which measured 51 MB/s
cluster-wide at 32-way local concurrency vs 1.5 GB/s when flushed at
8 MB (the hand-back then overlaps the python-side decode; see
SCALE.md r12).  It also means worker memory scales with the SPLIT
size instead of the flush budget — the failure mode that matters when
a 100 TB corpus hides the occasional 1 GB shard.

Usage inside a mapInPandas generator::

    fl = BatchFlusher(["id", "text"])
    for ...:
        out = fl.add({"id": i, "text": t}, nbytes=len(t))
        if out is not None:
            yield out
    tail = fl.tail()
    if tail is not None:
        yield tail
"""

from __future__ import annotations

import re
from contextlib import contextmanager

import pandas as pd
from pyspark.sql.types import DataType

FLUSH_BYTES = 8 << 20
FLUSH_ROWS = 10_000


class BatchFlusher:
    """Accumulate result rows; emit a DataFrame every ``budget``
    payload bytes or ``max_rows`` rows, whichever comes first."""

    __slots__ = ("columns", "budget", "max_rows", "_rows", "_pending")

    def __init__(self, columns: list[str], budget: int = FLUSH_BYTES,
                 max_rows: int = FLUSH_ROWS):
        self.columns = list(columns)
        self.budget = budget
        self.max_rows = max_rows
        self._rows: list[dict] = []
        self._pending = 0

    def add(self, row: dict, nbytes: int = 0) -> pd.DataFrame | None:
        self._rows.append(row)
        self._pending += nbytes
        if self._pending >= self.budget or len(self._rows) >= self.max_rows:
            return self._emit()
        return None

    def tail(self) -> pd.DataFrame | None:
        if self._rows:
            return self._emit()
        return None

    def _emit(self) -> pd.DataFrame:
        out = pd.DataFrame(self._rows, columns=self.columns)
        self._rows, self._pending = [], 0
        return out


# executed-plan nodes whose ``execute()`` runs Spark jobs: AQE
# materializes every query stage, a broadcast runs its build side, and
# a subquery runs itself
_JOB_NODE = re.compile(
    r"^[ :+\-|*()\d]*(AdaptiveSparkPlan|\w*Exchange|\w*QueryStage|\w*Subquery\w*)\b",
    re.M,
)


def spread_small_scan(df):
    """Repartition an UNDER-PARALLEL input to the cluster's default
    parallelism — the small-corpus floor fix (SCALE.md r12: a 64-shard
    parquet scans as 2 input splits under 128 MB maxPartitionBytes, so
    30 of 32 cores idle through a payload decode or a shingle/hash
    pipeline).

    Only an input whose executed plan has no exchange, broadcast or
    subquery (a scan, a pinned table, narrow transforms of them) is
    counted: its partition count is planning-only, no Spark job.  Any
    other input comes back unchanged — reading its partition count
    would run every upstream query stage, once here and again in the
    consumer, and AQE's coalescing already sized its post-shuffle
    partitions.  At production scale (many input splits) the count is
    not below the parallelism and no shuffle is added."""
    try:
        jplan = df._jdf.queryExecution().executedPlan()
        if _JOB_NODE.search(jplan.toString()):
            return df
        par = df.sparkSession.sparkContext.defaultParallelism
        if jplan.execute().getNumPartitions() < par:
            return df.repartition(par)
    except Exception:  # non-standard sessions: keep the plan untouched
        pass
    return df


def probe_table(spark, variant_fn, schema, variants: int):
    """``variant_fn(v)`` for v in ``0..variants-1``, computed ON
    EXECUTORS via mapInPandas — the codec probe shape: each variant
    returns one row dict, the table is metadata-sized and
    broadcast-joinable against a corpus keyed on ``id % variants``, so
    encode/decode cost is per variant, never per corpus row.

    ``schema`` is a DDL string; output columns follow its order.  The
    range has one slice per variant, capped at the core count: more
    slices than variants would run empty tasks, and more than cores
    would queue a second wave of tasks."""
    struct = DataType.fromDDL(schema)
    cols = struct.fieldNames()
    n = int(variants)

    def gen(batches):
        for pdf in batches:
            if len(pdf):
                rows = [variant_fn(int(v)) for v in pdf["id"]]
                yield pd.DataFrame(rows)[cols]

    parts = max(1, min(n, spark.sparkContext.defaultParallelism))
    return spark.range(0, n, numPartitions=parts).mapInPandas(gen, struct)


def pin(df, eager: bool = True):
    """Materialize ``df`` once and cut its lineage: every later
    consumer reads the stored rows instead of replaying the plan.

    The session decides how: with a checkpoint dir set
    (``spark.checkpoint.dir`` or ``SparkContext.setCheckpointDir``) the
    pin is a reliable ``checkpoint`` whose files survive executor loss;
    otherwise it is a ``localCheckpoint`` held in executor storage,
    which dies with its executor and is released by :func:`pins`.
    ``eager`` runs the job now; a lazy pin is stored by the first job
    that computes it."""
    if df.sparkSession.sparkContext.getCheckpointDir() is not None:
        return df.checkpoint(eager)
    return df.localCheckpoint(eager)


@contextmanager
def pins(spark):
    """Release, on exit, every RDD that became persistent while the
    scope was open: the local pins made inside it, nested scopes
    included.  RDDs persistent before it opened are left alone, so a
    pin made outside any scope lives as long as the session.  The
    unpersist does not block on the executors.

    Consume every frame built on a local pin before its scope closes:
    the pin has no lineage, so a read after the release can fail."""
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())
    try:
        yield
    finally:
        held = jsc.getPersistentRDDs()
        for rdd_id in set(held.keySet()) - before:
            held[rdd_id].unpersist(False)
