"""Small-files compaction — table maintenance for long-running pipelines.

Streaming/queue stages (streaming/queues.py) and per-batch appends leave
many small parquet files; at 100 TB the file count, not the byte count,
becomes the scan bottleneck (one task + one footer read per file).
Compaction rewrites a table into files near a target size.

No Delta/Iceberg in this container, so this is plain-parquet, rewrite-
into-temp-then-swap; table formats would make the swap transactional —
the sizing logic is the part that transfers.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import SparkSession


def table_file_stats(path: str) -> tuple[int, int]:
    """(n_data_files, total_bytes) of a parquet directory tree."""
    n, total = 0, 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                total += os.path.getsize(os.path.join(root, f))
    return n, total


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    min_files_to_compact: int = 2,
) -> tuple[int, int]:
    """Rewrite ``path`` into ceil(total_bytes / target) files.

    Returns (files_before, files_after).  A no-op when the table already
    has fewer files than ``min_files_to_compact``.  The rewrite goes to
    a sibling temp dir first, then atomically (rename-level) swaps —
    readers racing the swap see the old or new table, never a partial
    one (per-directory; a real lakehouse format would version this).
    """
    before, total = table_file_stats(path)
    if before < min_files_to_compact:
        return before, before
    n_out = max(1, -(-total // target_file_bytes))
    tmp = path.rstrip("/") + "._compacting"
    spark.read.parquet(path).repartition(n_out).write.mode("overwrite").parquet(tmp)
    old = path.rstrip("/") + "._old"
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)
    # same-session readers must not resolve the pre-swap file listing
    spark.catalog.refreshByPath(path)
    after, _ = table_file_stats(path)
    return before, after


def merge_upsert(
    spark: SparkSession,
    target_path: str,
    updates,
    keys: list[str],
) -> tuple[int, int]:
    """MERGE INTO for plain parquet: upsert ``updates`` into the table
    at ``target_path`` by ``keys`` (match -> replace, no match ->
    insert) with the same rewrite-then-swap atomicity as compaction.

    This is the table-level form of the reference's collection upsert
    (`scripts/collection.py:32-54` POSTs each collection JSON to an
    ingestor that upserts by id — SURVEY K5); here the whole operation
    is one distributed anti-join + union, no per-record round trips.

    Plan shape: updates are typically tiny vs the table, so the
    planner broadcasts the UPDATE side of the left-anti join and the
    table is read once, streamed straight back out — cost is one table
    rewrite, the floor for formats without row-level deletes.
    (Delta/Iceberg would turn this into a metadata commit +
    matched-file rewrite; not in this container — the join shape is the
    part that transfers.)

    Returns (rows_before, rows_after).
    """
    from pyspark.sql import functions as F

    target = spark.read.parquet(target_path)
    before = target.count()
    missing = [c for c in target.columns if c not in updates.columns]
    if missing:
        raise ValueError(f"updates missing target columns: {missing}")
    kept = target.join(updates.select(*keys), on=keys, how="left_anti")
    merged = kept.unionByName(updates.select(*target.columns))
    tmp = target_path.rstrip("/") + "._merging"
    merged.write.mode("overwrite").parquet(tmp)
    old = target_path.rstrip("/") + "._old"
    os.rename(target_path, old)
    os.rename(tmp, target_path)
    shutil.rmtree(old)
    # drop the cached file listing for the path — readers in THIS
    # session would otherwise resolve the pre-swap files
    spark.catalog.refreshByPath(target_path)
    after = spark.read.parquet(target_path).count()
    return before, after


def delete_where(
    spark: SparkSession,
    target_path: str,
    predicate: str,
) -> tuple[int, int]:
    """DELETE FROM for plain parquet: rewrite the table without rows
    matching ``predicate`` (a SQL boolean expression), atomic-swap like
    the other maintenance ops.  Completes the insert (append) / upsert
    (merge_upsert) / delete / compact maintenance set.

    At 100 TB with a partitioned layout, Catalyst prunes partitions the
    predicate can't touch from the scan — but this plain-parquet form
    still rewrites every surviving row; a lakehouse format would drop
    whole matched files by footer stats first.  Returns
    (rows_before, rows_deleted).
    """
    from pyspark.sql import functions as F

    target = spark.read.parquet(target_path)
    before = target.count()
    # SQL DELETE semantics: remove rows where the predicate is TRUE;
    # rows where it evaluates NULL are kept (a bare ~pred would drop
    # them too, since filter discards NULLs)
    kept = target.filter(~F.coalesce(F.expr(predicate), F.lit(False)))
    tmp = target_path.rstrip("/") + "._deleting"
    kept.write.mode("overwrite").parquet(tmp)
    old = target_path.rstrip("/") + "._old"
    os.rename(target_path, old)
    os.rename(tmp, target_path)
    shutil.rmtree(old)
    spark.catalog.refreshByPath(target_path)
    after = spark.read.parquet(target_path).count()
    return before, before - after
