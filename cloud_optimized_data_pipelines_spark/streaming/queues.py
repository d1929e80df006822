"""Queue semantics as Structured Streaming (SURVEY section 2.8 T1-T7).

The reference chains its stages through SQS: batch size 10, batching
windows 20-30 s, visibility timeout 900 s, DLQs after 3-5 receives
(``deploy/cdk/queue_stack.py:22-57``), a proxy lambda draining each
batch into the next state machine (``lambdas/proxy/handler.py:7-16``).

Spark-first mapping:
- a "queue" is a parquet directory written by the upstream stage and
  consumed with ``readStream`` (file source) — exactly-once per
  micro-batch, which strictly dominates SQS's at-least-once (T6);
- the batching window is the trigger interval; batch size is
  ``maxFilesPerTrigger`` (T1);
- the proxy's drain-and-run is ``foreachBatch`` (T2);
- per-record failure capture + DLQ is a try/except in the batch
  function writing to a quarantine table with an ``attempts`` column;
  rows exceeding ``max_attempts`` stop being retried (T3-T5).

Batch mode (plans/pipeline.py) needs none of this — operator
pipelining replaces the queue hops entirely; this module exists for
the reference's *resumable/incremental* operating mode.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery


def enqueue(df: DataFrame, queue_path: str) -> None:
    """Producer side: append the stage output to a queue table."""
    df.write.mode("append").parquet(queue_path)


def stream_queue(
    spark: SparkSession,
    queue_path: str,
    schema,
    max_files_per_trigger: int = 10,
) -> DataFrame:
    """Consumer side: the queue as an unbounded stream (T1).

    ``maxFilesPerTrigger`` mirrors the reference's SQS batch size; the
    trigger interval is chosen at ``run_stage`` time.
    """
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(queue_path)
    )


def run_stage(
    stream: DataFrame,
    stage_fn: Callable[[DataFrame], DataFrame],
    output_path: str,
    checkpoint_path: str,
    quarantine_path: str | None = None,
    max_attempts: int = 3,
    trigger_seconds: int | None = None,
    available_now: bool = False,
) -> StreamingQuery:
    """T2-T5: micro-batch drain -> stage -> next queue, with quarantine.

    A batch that fails entirely is retried by Spark's checkpoint replay
    (at-least-once per batch, exactly-once on the sink via idempotent
    parquet task commits).  Rows the stage itself marks bad (non-null
    ``error`` column) are split off to the quarantine table with an
    attempt counter instead of poisoning the queue — the DLQ analog.
    """

    def process(batch: DataFrame, batch_id: int) -> None:
        out = stage_fn(batch)
        if quarantine_path is not None and "error" in out.columns:
            bad = out.filter(F.col("error").isNotNull())
            if "attempts" in out.columns:
                bad = bad.withColumn("attempts", F.col("attempts") + 1)
            else:
                bad = bad.withColumn("attempts", F.lit(1))
            (
                bad.filter(F.col("attempts") <= max_attempts)
                .write.mode("append")
                .parquet(quarantine_path)
            )
            out = out.filter(F.col("error").isNull())
        out.write.mode("append").parquet(output_path)

    writer = stream.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint_path
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif trigger_seconds is not None:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()


def retry_route_batch(
    df: DataFrame,
    id_col: str,
    permanent_fail,
    max_attempts: int = 3,
    flaky_prob_hex: str = "3",
) -> DataFrame:
    """Batch analog of the T3-T5 retry/DLQ loop, fully oracle-checkable.

    Deterministic failure model (no RNG — bit-reproducible across
    engines): an attempt ``i`` on row ``id`` fails iff ``permanent_fail``
    holds (reference: a poison message that DLQs after max receives) OR
    the first hex digit of ``md5(id || ':' || i)`` is <= ``flaky_prob_hex``
    (transient failure, ~25% per attempt at the default).  Rows are
    retried up to ``max_attempts`` times; first success wins.

    Output adds ``attempts`` (bigint — receives consumed, exactly the
    SQS receive count) and ``status`` ('delivered' | 'dlq').  Pure
    column expressions — codegen scan, no shuffle, no state: at 100 TB
    this is the cheapest possible formulation of the routing decision.
    """
    idc = F.col(id_col).cast("string")
    succ = [
        (~permanent_fail)
        & (
            F.substring(F.md5(F.concat(idc, F.lit(f":{i}"))), 1, 1)
            > flaky_prob_hex
        )
        for i in range(1, max_attempts + 1)
    ]
    # a row that succeeds at attempt i consumed exactly i receives; a
    # row that never succeeds consumed max_attempts and parks in the DLQ
    delivered = succ[0]
    for s in succ[1:]:
        delivered = delivered | s
    first_ok = F.lit(None).cast("bigint")
    for i in range(max_attempts, 0, -1):
        first_ok = F.when(succ[i - 1], F.lit(i).cast("bigint")).otherwise(
            first_ok
        )
    return df.withColumn(
        "attempts", F.coalesce(first_ok, F.lit(max_attempts).cast("bigint"))
    ).withColumn(
        "status", F.when(delivered, F.lit("delivered")).otherwise(F.lit("dlq"))
    )


def windowed_event_counts(
    events: DataFrame,
    window_duration: str = "1 hour",
    watermark_delay: str = "2 hours",
) -> DataFrame:
    """Streaming extension surface: watermarked tumbling-window counts
    (no reference counterpart — SQS flows are unordered and untimed;
    SURVEY 2.8 closing note)."""
    # watermarks require TIMESTAMP (with zone); sessions are pinned UTC
    # so the NTZ -> LTZ cast is value-preserving
    events = events.withColumn("ts", F.col("ts").cast("timestamp_ltz"))
    return (
        events.withWatermark("ts", watermark_delay)
        .groupBy(F.window("ts", window_duration).alias("w"), F.col("event_type"))
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("total_value"))
        .select(
            F.col("w").start.alias("window_start"),
            F.col("w").end.alias("window_end"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def dedup_within_watermark(
    events: DataFrame,
    keys: list[str],
    watermark_delay: str = "1 hour",
) -> DataFrame:
    """Streaming dedup with bounded state (dropDuplicatesWithinWatermark):
    the exactly-once ingestion guard the reference delegates to its STAC
    ingestor's idempotent POST (SURVEY section 7 'at-least-once')."""
    events = events.withColumn("ts", F.col("ts").cast("timestamp_ltz"))
    return events.withWatermark("ts", watermark_delay).dropDuplicatesWithinWatermark(
        keys
    )


def attribution_interval_join(
    impressions: DataFrame,
    conversions: DataFrame,
    key: str = "user_id",
    max_delay: str = "1 hour",
    watermark_delay: str = "2 hours",
) -> DataFrame:
    """Watermarked stream-stream interval join (the attribution shape:
    each conversion matched to same-key impressions it trails by at
    most ``max_delay``).

    Both sides carry watermarks and the join condition bounds event
    time from BOTH directions, so Spark can expire buffered rows —
    state stays proportional to rate x max_delay, not to stream
    length; without the time bounds a stream-stream join would buffer
    forever (SURVEY 2.8 closing note: the reference has no ordered /
    timed flows at all, this is pure engine extension surface).
    """
    imp = (
        impressions.withColumn("ts", F.col("ts").cast("timestamp_ltz"))
        .withWatermark("ts", watermark_delay)
        .select(
            F.col(key).alias("imp_key"),
            F.col("event_id").alias("imp_event_id"),
            F.col("ts").alias("imp_ts"),
        )
    )
    conv = (
        conversions.withColumn("ts", F.col("ts").cast("timestamp_ltz"))
        .withWatermark("ts", watermark_delay)
        .select(
            F.col(key).alias("conv_key"),
            F.col("event_id").alias("conv_event_id"),
            F.col("ts").alias("conv_ts"),
        )
    )
    return imp.join(
        conv,
        (F.col("imp_key") == F.col("conv_key"))
        & (F.col("conv_ts") >= F.col("imp_ts"))
        & (F.col("conv_ts") <= F.col("imp_ts") + F.expr(f"INTERVAL {max_delay}")),
    )


def watermark_replay(
    events: DataFrame,
    batch_col: str,
    ts_col: str,
    key_col: str,
    delay_seconds: int,
    window_seconds: int = 3600,
) -> DataFrame:
    """Deterministic batch twin of ``watermarked_window_counts`` WITH
    late-data drop accounting — the oracle-checkable replay of
    Spark's watermark rule (the dlq_routing precedent: the streaming
    path shares semantics, this gives the family a driver-graded row).

    Replay model, matching Structured Streaming's OBSERVED
    micro-batch semantics (pinned by the equivalence test against the
    real withWatermark stream, Spark 4.x): the watermark in effect
    during batch k is max(event time through batch k-2) - delay —
    event-time stats of batch k-1 commit when batch k+1 is planned,
    so the filter lags one batch behind the naive rule — and a row
    arriving in batch k is DROPPED iff its WINDOW END <= that
    watermark (state eviction by window finalization, not row
    lateness: a late row whose window is still open IS aggregated,
    and rides the window's final emission).

    Scale shape: one groupBy(batch) for per-batch max times
    (metadata-sized), a cumulative-max window over THAT metadata, a
    join back on the batch id, then the windowed aggregation — no
    corpus-sized ordered window.  Output: (window_us, key, accepted,
    dropped) with window_us the tumbling-window start in epoch
    micros."""
    us = F.unix_micros(F.col(ts_col).cast("timestamp_ltz"))
    e = events.select(
        F.col(batch_col).alias("_b"),
        F.col(key_col).alias("_k"),
        us.alias("_us"),
    )
    bmax = e.groupBy("_b").agg(F.max("_us").alias("_bmax"))
    from pyspark.sql import Window as W

    prior = W.orderBy("_b").rowsBetween(W.unboundedPreceding, -2)
    wm = bmax.select(
        "_b",
        (F.max("_bmax").over(prior) - F.lit(delay_seconds * 1_000_000))
        .alias("_wm_prev"),
    )
    w_us = window_seconds * 1_000_000
    j = e.join(wm, "_b").select(
        F.expr(f"(_us div {w_us}) * {w_us}").alias("window_us"),
        F.col("_k"),
        (
            F.col("_wm_prev").isNotNull()
            & (F.expr(f"(_us div {w_us}) * {w_us} + {w_us}") <= F.col("_wm_prev"))
        ).alias("_late"),
    )
    return j.groupBy("window_us", "_k").agg(
        F.sum(F.when(~F.col("_late"), 1).otherwise(0)).alias("accepted"),
        F.sum(F.when(F.col("_late"), 1).otherwise(0)).alias("dropped"),
    ).withColumnRenamed("_k", key_col)
