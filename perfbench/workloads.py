"""The three workloads.  Each composes the package's public functions the
way a user would, on inputs ``gen.py`` wrote:

- ``stac_catalog``: four S3 discoveries and one CMR query compiled with
  ``plans.pipeline.compile_many`` (routing, ``operators.transfer``,
  ``operators.build_stac``) and written with ``sinks.write_jsonl``;
- ``cogify_queue``: netCDF granule events enqueued as files of ten with
  ``streaming.queues.enqueue`` and drained one file per trigger by
  ``streaming.queues.run_stage`` through
  ``build_items(split_cogify(., cogify_stage))``;
- ``corpus_curate``: ``plans.corpus.corpus_preprocess``, then
  ``operators.dedup.minhash_lsh_dedup`` on the selected docs, written
  with ``sinks.write_partitioned_items``.

A workload exposes set-up (``__init__``, ``warm_up``), the timed part
(``timed``), the checks (``check``) and the traced run (``trace`` and
``from_eventlog``).
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

from pyspark.sql import functions as F

import gen
from harness import EventLog, dir_stats, measure

from cloud_optimized_data_pipelines_spark import sinks
from cloud_optimized_data_pipelines_spark.operators.build_stac import build_items
from cloud_optimized_data_pipelines_spark.operators.cogify import _decode, cogify_stage
from cloud_optimized_data_pipelines_spark.operators.dedup import minhash_lsh_dedup
from cloud_optimized_data_pipelines_spark.operators.geotiff import encode_cog
from cloud_optimized_data_pipelines_spark.operators.quality import gopher_quality_flags
from cloud_optimized_data_pipelines_spark.operators.routing import split_cogify
from cloud_optimized_data_pipelines_spark.operators.transfer import plan_transfer
from cloud_optimized_data_pipelines_spark.functions.text import detect_language
from cloud_optimized_data_pipelines_spark.plans.corpus import corpus_preprocess
from cloud_optimized_data_pipelines_spark.plans.pipeline import (
    PipelineSpec,
    compile_discovery,
    compile_many,
)
from cloud_optimized_data_pipelines_spark.schemas import EVENT_SCHEMA
from cloud_optimized_data_pipelines_spark.streaming.queues import (
    enqueue,
    run_stage,
    stream_queue,
)

JOB_GROUP = "job.traced"
TRACED_REPS = 2
LAYER_REPS = 2
RASTER_PROBE_GRANULES = 40  # four queue files for the stac_catalog raster probe

# Every per-layer metric a traced run prints, with its unit.  A workload
# that does not enter a layer reports 0 for it.
LAYER_METRICS = {
    "plans.pipeline.construct_s": "s",
    "sources.inventory.busy_s": "s",
    "sources.inventory.rows_out": "count",
    "sources.inventory.scan_amplification": "1",
    "sources.cmr.busy_s": "s",
    "sources.cmr.rows_out": "count",
    "operators.transfer.busy_s": "s",
    "operators.transfer.shuffle_mb": "MB",
    "operators.transfer.copy_frac": "1",
    "operators.build_stac.busy_s": "s",
    "operators.build_stac.date_error_rows": "count",
    "operators.build_stac.spill_rows": "count",
    "sinks.write_s": "s",
    "sinks.written_mb": "MB",
    "sinks.files": "count",
    "streaming.queues.batches": "count",
    "streaming.queues.trigger_s": "s",
    "streaming.queues.add_batch_s": "s",
    "streaming.queues.overhead_s": "s",
    "streaming.queues.jobs_per_batch": "count",
    "streaming.queues.quarantine_rows": "count",
    "operators.cogify.busy_s": "s",
    "operators.cogify.ok_rows": "count",
    "operators.cogify.error_rows": "count",
    "operators.cogify.runs_per_row": "1",
    "sources.netcdf_classic.decode_ms": "ms",
    "operators.geotiff.encode_ms": "ms",
    "operators.geotiff.cog_bytes": "bytes",
    "functions.text.busy_s": "s",
    "operators.quality.busy_s": "s",
    "operators.dedup.busy_s": "s",
    "operators.dedup.canonical_frac": "1",
    "operators.sampling.busy_s": "s",
    "plans.corpus.busy_s": "s",
    "plans.corpus.scans_per_doc": "1",
    "plans.corpus.pinned_rdds_after": "count",
    "plans.corpus.pinned_mb_after": "MB",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.shuffle_fetch_wait_s": "s",
    "spark.spill_mb": "MB",
    "spark.python_run_s": "s",
    "trace.overhead_frac": "1",
    "trace.sleep_udf_ratio": "1",
}


def digest(df, col) -> str:
    """Order-insensitive digest of a string column: row count and the
    sum of 64-bit row hashes."""
    r = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(col).cast("decimal(38,0)")).alias("h"),
    ).first()
    return f"{r['n']}:{r['h']}"


class Workload:
    """Shared repetition logic; subclasses define ``job``."""

    # The first repetition pays JIT, codegen and Python-worker start (about
    # three times a warm one); the next ones still shave a few percent each
    # for several repetitions, longer than the run's time budget allows.
    # Set-up runs a fixed number, so every run times the same positions,
    # and the median of three timed ones shrugs off one slowed by the host.
    warm_reps = 1
    min_timed_reps = 3

    def __init__(self, h, inputs: str, truth: dict):
        self.h = h
        self.inputs = inputs
        self.truth = truth
        self.outputs: list[str] = []

    @property
    def spark(self):
        """The harness's current session (a traced run starts a new one)."""
        return self.h.spark

    def out(self, tag: str) -> str:
        return self.h.path("out", type(self).__name__, tag)

    def _rep(self, tag: str) -> dict:
        path = self.out(tag)
        info = self.job(path) or {}
        self.outputs.append(path)
        return info

    def _prune(self) -> None:
        """Drop every output but the first and the latest (disk stays
        bounded; the two kept ones are compared by digest)."""
        if len(self.outputs) > 2:
            for p in self.outputs[1:-1]:
                shutil.rmtree(p, ignore_errors=True)
            self.outputs = [self.outputs[0], self.outputs[-1]]

    def warm_up(self) -> list[float]:
        times = []
        for i in range(self.warm_reps):
            t = time.monotonic()
            self._rep(f"warm{i}")
            times.append(time.monotonic() - t)
            self._prune()
        return times

    def timed(self, seconds: float) -> list[dict]:
        """Repetitions until ``seconds`` have passed, at least
        ``min_timed_reps``; pruning the previous output happens off the
        clock."""
        reps = []
        start = time.monotonic()
        while len(reps) < self.min_timed_reps or time.monotonic() - start < seconds:
            self._prune()
            reps.append(measure(lambda: self._rep(f"rep{len(reps)}")))
        return reps

    def batch_latency(self, reps: list[dict]) -> dict:
        """A batch workload's unit of work is the whole job."""
        return {"batch_p50_s": (statistics.median(r["seconds"] for r in reps), "s")}

    def operations(self, reps) -> int:
        """Operations beyond the repetitions that a failure would count
        against (records, micro-batches)."""
        return 0

    def traced_reps(self, untraced_job_s: float) -> dict:
        """One untimed repetition in the new context, then
        ``TRACED_REPS`` under the job group; trace.overhead_frac is their
        median over the untraced median."""
        self._rep("trace-warm")
        times = []
        for i in range(TRACED_REPS):
            self._prune()
            t = time.monotonic()
            with self.h.span("job", group=JOB_GROUP):
                self._rep(f"traced{i}")
            times.append(time.monotonic() - t)
        self.traced_job_s = statistics.median(times)
        return {"trace.overhead_frac": (self.traced_job_s / untraced_job_s, "1")}

    def job_groups(self) -> tuple[str, int]:
        return JOB_GROUP, TRACED_REPS

    def sink_time(self, write, df) -> float:
        """Median time of ``write(df, path)`` into fresh directories, for
        a plan that is already built (so no construction is included)."""
        paths = iter(self.out(f"sink{i}") for i in range(LAYER_REPS))
        return self.h.median_time(LAYER_REPS, "layer.sink", lambda: write(df, next(paths)))


# --------------------------------------------------------------------------
# stac_catalog
# --------------------------------------------------------------------------


class StacCatalog(Workload):
    # after the cold repetition the JIT still compiles 12-14 CPU-seconds
    # in the next one and 7-9 in the one after; warming up twice puts
    # the median timed repetition where it compiles 3-5
    warm_reps = 2

    def __init__(self, h, inputs, truth):
        super().__init__(h, inputs, truth)
        self.specs = [PipelineSpec.from_event(s) for s in gen.stac_specs()]

    def frames(self):
        r = self.spark.read
        return (
            r.parquet(os.path.join(self.inputs, "inventory")),
            r.parquet(os.path.join(self.inputs, "granules")),
            r.parquet(os.path.join(self.inputs, "target_inventory")),
        )

    def items(self):
        inv, gran, target = self.frames()
        return compile_many(
            self.specs,
            inventory=inv,
            granules=gran,
            target_inventory=target,
            target_bucket=gen.TARGET_BUCKET,
        )

    def job(self, out: str) -> None:
        self.last_items = self.items()
        sinks.write_jsonl(self.last_items, out)

    def operations(self, reps) -> int:
        return self.truth["items"]

    def check(self, reps):
        t = self.truth
        r = self.last_items.agg(
            F.count(F.lit(1)).alias("items"),
            F.count("date_error").alias("date_error"),
            F.sum(F.col("needs_copy").cast("int")).alias("needs_copy"),
            F.sum(F.col("needs_spill").cast("int")).alias("spill"),
        ).first()
        failures = [
            f"{k}: {r[k]} != expected {t[k]}"
            for k in ("items", "date_error", "needs_copy")
            if r[k] != t[k]
        ]
        digests = [digest(self.spark.read.text(p), "value") for p in self.outputs]
        if len(set(digests)) != 1:
            failures.append(f"output digest differs across repetitions: {digests}")
        if not digests[-1].startswith(f"{t['items']}:"):
            failures.append(f"written items {digests[-1]} != expected {t['items']}")
        return failures, {"output_digest": digests[-1], "spill_rows": r["spill"]}

    # -- traced run ---------------------------------------------------------

    def trace(self, untraced_job_s: float) -> dict:
        h, m = self.h, {}
        m.update(self.traced_reps(untraced_job_s))
        inv, gran, target = self.frames()
        s3 = [s for s in self.specs if s.discovery == "s3"]
        cmr = [s for s in self.specs if s.discovery == "cmr"]

        def union(dfs):
            out = dfs[0]
            for d in dfs[1:]:
                out = out.unionByName(d, allowMissingColumns=True)
            return out

        disc_s3 = union([compile_discovery(s, inventory=inv) for s in s3])
        disc_cmr = union([compile_discovery(s, granules=gran) for s in cmr])
        routed = union(
            [plan_transfer(split_cogify(compile_discovery(s, inv, gran)), target, gen.TARGET_BUCKET)
             for s in self.specs]
        )
        items = self.items()

        construct = []
        for _ in range(LAYER_REPS):
            t = time.monotonic()
            with h.span("plans.pipeline.compile_many"):
                self.items()
            construct.append(time.monotonic() - t)
        t_inv = h.median_time(LAYER_REPS, "layer.inventory", lambda: h.noop(disc_s3))
        t_cmr = h.median_time(LAYER_REPS, "layer.cmr", lambda: h.noop(disc_cmr))
        t_disc = h.median_time(LAYER_REPS, "layer.discovery", lambda: h.noop(disc_s3.unionByName(disc_cmr)))
        t_transfer = h.median_time(LAYER_REPS, "layer.transfer", lambda: h.noop(routed))
        t_items = h.median_time(LAYER_REPS, "layer.build_stac", lambda: h.noop(items))
        # write_jsonl projects item_json, so its baseline does too
        json_only = items.select("item_json")
        t_json = h.median_time(LAYER_REPS, "layer.item_json", lambda: h.noop(json_only))
        t_write = self.sink_time(sinks.write_jsonl, items)

        rows_s3, rows_cmr = disc_s3.count(), disc_cmr.count()
        c = routed.agg(
            F.sum(F.col("upload").cast("int")).alias("up"),
            F.sum(F.col("needs_copy").cast("int")).alias("copy"),
        ).first()
        r = items.agg(
            F.count("date_error").alias("err"), F.sum(F.col("needs_spill").cast("int")).alias("spill")
        ).first()
        mb, files = dir_stats(self.outputs[-1], ".txt")
        self._rows_s3 = rows_s3
        # The raster branch of the same pipeline, in queue mode: it is
        # not in this workload's job, so its layers are probed here on a
        # small granule queue (the cogify_queue workload times it).
        probe_dir = h.path("probe-granules")
        self.raster = CogifyQueue(h, probe_dir, gen.gen_cogify(probe_dir, 0, n=RASTER_PROBE_GRANULES))
        m.update(self.raster.layer_probe())
        m.update(
            {
                "plans.pipeline.construct_s": (statistics.median(construct), "s"),
                "sources.inventory.busy_s": (t_inv, "s"),
                "sources.inventory.rows_out": (rows_s3, "count"),
                "sources.cmr.busy_s": (t_cmr, "s"),
                "sources.cmr.rows_out": (rows_cmr, "count"),
                "operators.transfer.busy_s": (t_transfer - t_disc, "s"),
                "operators.transfer.copy_frac": (c["copy"] / c["up"], "1"),
                "operators.build_stac.busy_s": (t_items - t_transfer, "s"),
                "operators.build_stac.date_error_rows": (r["err"], "count"),
                "operators.build_stac.spill_rows": (r["spill"], "count"),
                "sinks.write_s": (t_write - t_json, "s"),
                "sinks.written_mb": (mb, "MB"),
                "sinks.files": (files, "count"),
            }
        )
        return m

    def from_eventlog(self, ev: EventLog) -> dict:
        inv = ev.group("layer.inventory")
        return {
            "sources.inventory.scan_amplification": (
                inv.records_read / LAYER_REPS / self._rows_s3, "1"),
            "operators.transfer.shuffle_mb": (
                ev.group("layer.transfer").shuffle_write_bytes / (1 << 20) / LAYER_REPS, "MB"),
            **self.raster.from_eventlog(ev),
        }


# --------------------------------------------------------------------------
# cogify_queue
# --------------------------------------------------------------------------


class CogifyQueue(Workload):
    warm_reps = 2
    WARM_FILES = 2

    def __init__(self, h, inputs, truth):
        super().__init__(h, inputs, truth)
        gdir = os.path.join(inputs, "granules")
        self.rows = [
            (coll, os.path.join(gdir, rel)) + (None,) * 11 + (False, True, False, None)
            for coll, rel in truth["events"]
        ]
        self._config = (None, None)
        self.queue = h.path("queue", "full")
        self.warm_queue = h.path("queue", "warm")
        self._enqueue(self.rows, self.queue)
        self._enqueue(self.rows[: self.WARM_FILES * gen.COG_EVENTS_PER_FILE], self.warm_queue)
        self.warm_digests: list[str] = []

    @property
    def config(self):
        """The per-collection cogify config table, built once per session."""
        session, df = self._config
        if session is not self.spark:
            df = self.spark.createDataFrame(
                [(c, v, None, "lon", "lat", None, None)
                 for c, (v, _) in gen.COG_COLLECTIONS.items()],
                "collection string, variable_name string, group string, x_variable string, "
                "y_variable string, src_crs string, affine_transformation string",
            )
            self._config = (self.spark, df)
        return df

    def _enqueue(self, rows, path: str) -> None:
        """One queue file per ``COG_EVENTS_PER_FILE`` events."""
        sc = self.spark.sparkContext
        n_files = len(rows) // gen.COG_EVENTS_PER_FILE
        enqueue(self.spark.createDataFrame(sc.parallelize(rows, n_files), EVENT_SCHEMA), path)

    def stage(self, batch):
        return build_items(split_cogify(batch, lambda d: cogify_stage(d, self.config)))

    def drain(self, queue: str, out: str) -> dict:
        stream = stream_queue(self.spark, queue, EVENT_SCHEMA, max_files_per_trigger=1)
        q = run_stage(
            stream, self.stage, os.path.join(out, "items"), os.path.join(out, "ckpt"),
            quarantine_path=os.path.join(out, "dlq"), available_now=True,
        )
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(f"drain failed: {q.exception()}")
        data = [p for p in q.recentProgress if p["numInputRows"] > 0]
        return {
            "run_id": str(q.runId),
            "trigger_s": [p["durationMs"].get("triggerExecution", 0) / 1000 for p in data],
            "add_batch_s": [p["durationMs"].get("addBatch", 0) / 1000 for p in data],
        }

    def job(self, out: str) -> dict:
        return self.drain(self.queue, out)

    def warm_up(self) -> list[float]:
        """Short drains of the first ``WARM_FILES`` queue files."""
        times = []
        for i in range(self.warm_reps):
            out = self.out(f"warm{i}")
            t = time.monotonic()
            self.drain(self.warm_queue, out)
            times.append(time.monotonic() - t)
            self.warm_digests.append(self._digest(out))
            shutil.rmtree(out, ignore_errors=True)
        return times

    def timed(self, seconds: float) -> list[dict]:
        """One drain of the whole queue: its size is fixed, not its time."""
        return [measure(lambda: self._rep("drain"))]

    def batch_latency(self, reps) -> dict:
        """Micro-batch latencies (triggerExecution) of the timed drain."""
        trig = sorted(reps[0]["trigger_s"])
        return {
            "batch_p50_s": (statistics.median(trig), "s"),
            "batch_p75_s": (trig[(3 * len(trig)) // 4], "s"),
        }

    def operations(self, reps) -> int:
        return len(reps[0]["trigger_s"]) + self.truth["items"] - self.truth["error_rows"]

    def _items(self, out: str):
        return self.spark.read.parquet(os.path.join(out, "items"))

    def _digest(self, out: str) -> str:
        work = F.lit(self.h.work)
        text = F.concat_ws(
            "|", F.replace("item_json", work, F.lit("<work>")), F.coalesce("cogify_error", F.lit(""))
        )
        return digest(self._items(out).select(text.alias("v")), "v")

    def _quarantined(self, out: str) -> int:
        dlq = os.path.join(out, "dlq")
        return self.spark.read.parquet(dlq).count() if os.path.isdir(dlq) else 0

    def check(self, reps):
        t, out = self.truth, self.outputs[-1]
        r = self._items(out).agg(
            F.count(F.lit(1)).alias("items"),
            F.count("cogify_error").alias("error_rows"),
            F.count("date_error").alias("date_error"),
        ).first()
        failures = [
            f"{k}: {r[k]} != expected {t[k]}"
            for k in ("items", "error_rows", "date_error")
            if r[k] != t[k]
        ]
        batches = len(reps[0]["trigger_s"])
        expected_batches = t["input_rows"] // gen.COG_EVENTS_PER_FILE
        if batches != expected_batches:
            failures.append(f"data batches {batches} != expected {expected_batches}")
        if len(set(self.warm_digests)) > 1:
            failures.append(f"warm-up drains disagree: {self.warm_digests}")
        info = {
            "output_digest": self._digest(out),
            "batches": batches,
            "quarantine_rows": self._quarantined(out),
            "cogify_error_rows": r["error_rows"],
        }
        return failures, info

    # -- traced run ---------------------------------------------------------

    def layer_probe(self) -> dict:
        """The queue, raster and codec layers: one warm drain, one drain
        in a span (its batches carry the query's run id as job group),
        batch-mode cogify over the same events, and direct codec calls."""
        h = self.h
        self.drain(self.warm_queue, self.out("trace-warm"))
        t = time.monotonic()
        with h.span("streaming.queues.run_stage"):
            self.traced = self._rep("traced")
        self.traced_job_s = time.monotonic() - t
        out = self.outputs[-1]
        trig, add = self.traced["trigger_s"], self.traced["add_batch_s"]
        r = self._items(out).agg(
            F.count(F.lit(1)).alias("n"), F.count("cogify_error").alias("err")
        ).first()
        events = self.spark.read.parquet(self.queue)
        t_scan = h.median_time(LAYER_REPS, "layer.events", lambda: h.noop(events))
        t_cog = h.median_time(LAYER_REPS, "layer.cogify", lambda: h.noop(cogify_stage(events, self.config)))
        decode, encode, size = self._codec_times()
        return {
            "streaming.queues.batches": (len(trig), "count"),
            "streaming.queues.trigger_s": (statistics.median(trig), "s"),
            "streaming.queues.add_batch_s": (statistics.median(add), "s"),
            "streaming.queues.overhead_s": (
                statistics.median(a - b for a, b in zip(trig, add)), "s"),
            "streaming.queues.quarantine_rows": (self._quarantined(out), "count"),
            "operators.cogify.busy_s": (t_cog - t_scan, "s"),
            "operators.cogify.ok_rows": (r["n"] - r["err"], "count"),
            "operators.cogify.error_rows": (r["err"], "count"),
            "sources.netcdf_classic.decode_ms": (decode, "ms"),
            "operators.geotiff.encode_ms": (encode, "ms"),
            "operators.geotiff.cog_bytes": (size, "bytes"),
        }

    def trace(self, untraced_job_s: float) -> dict:
        m = self.layer_probe()
        m["trace.overhead_frac"] = (self.traced_job_s / untraced_job_s, "1")
        return m

    def _codec_times(self, n: int = 12) -> tuple[float, float, float]:
        """Per-granule decode and encode, direct single-thread calls on
        the first ``n`` intact granules."""
        dec, enc, sizes = [], [], []
        for coll, path in [(r[0], r[1]) for r in self.rows]:
            if len(dec) == n:
                break
            var = gen.COG_COLLECTIONS[coll][0]
            t = time.perf_counter()
            try:
                arr, nodata, bbox = _decode(path, var, None, "lon", "lat", collection=coll)
            except ValueError:  # a truncated granule
                continue
            dec.append(time.perf_counter() - t)
            t = time.perf_counter()
            blob = encode_cog(arr, nodata=nodata, bbox=bbox)
            enc.append(time.perf_counter() - t)
            sizes.append(len(blob))
        return (statistics.median(dec) * 1000, statistics.median(enc) * 1000,
                statistics.median(sizes))

    def job_groups(self) -> tuple[str, int]:
        return self.traced["run_id"], 1

    def from_eventlog(self, ev: EventLog) -> dict:
        g = ev.group(self.traced["run_id"])
        udf_rows = g.node_sum("MapInPandas", "number of output rows")
        return {
            "streaming.queues.jobs_per_batch": (g.jobs / len(self.traced["trigger_s"]), "count"),
            "operators.cogify.runs_per_row": (udf_rows / self.truth["input_rows"], "1"),
        }


# --------------------------------------------------------------------------
# corpus_curate
# --------------------------------------------------------------------------


class CorpusCurate(Workload):
    # after the cold repetition the next ones still get about 15% faster
    # each, at a pace that varies between runs, so it warms up twice
    warm_reps = 2

    def docs(self):
        return self.spark.read.parquet(os.path.join(self.inputs, "docs"))

    def curated(self, docs):
        """corpus_preprocess (eager: it pins its flag table) and the
        lazy selected-and-deduplicated docs."""
        flags = corpus_preprocess(docs, max_per_source=gen.CORPUS_CAP)
        selected = docs.join(flags.filter("selected").select("doc_id"), "doc_id", "left_semi")
        return flags, selected

    def job(self, out: str) -> None:
        self.flags, selected = self.curated(self.docs())
        sinks.write_partitioned_items(
            minhash_lsh_dedup(selected, "doc_id", "text"), out, partition_cols=("source",)
        )

    def operations(self, reps) -> int:
        return self.truth["input_rows"]

    def _written(self, path: str):
        return self.spark.read.parquet(path).select(
            F.concat_ws("|", "doc_id", "source", "text").alias("v")
        )

    def check(self, reps):
        t = self.truth
        r = self.flags.agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum(F.col("is_canonical").cast("int")).alias("canonical"),
            F.sum(F.col("eligible").cast("int")).alias("eligible"),
            F.sum(F.col("selected").cast("int")).alias("selected"),
        ).first()
        failures = [
            f"{k}: {r[k]} != expected {t[k]}"
            for k in ("canonical", "eligible", "selected")
            if r[k] != t[k]
        ]
        digests = [digest(self._written(p), "v") for p in self.outputs]
        if len(set(digests)) != 1:
            failures.append(f"output digest differs across repetitions: {digests}")
        kept = int(digests[-1].split(":")[0])
        removed = t["selected"] - kept
        # near-duplicate pairs differ in one word (Jaccard 0.90-0.95): 4
        # bands of 4 MinHashes catch each pair with probability 0.95-0.999,
        # and unrelated random texts never collide
        if not 0.9 * t["near_pairs"] <= removed <= t["near_pairs"]:
            failures.append(
                f"minhash removed {removed} docs, expected ~{t['near_pairs']} near-duplicates"
            )
        return failures, {"output_digest": digests[-1], "dedup_removed": removed}

    # -- traced run ---------------------------------------------------------

    def trace(self, untraced_job_s: float) -> dict:
        h, m = self.h, {}
        sc = self.spark.sparkContext
        m.update(self.traced_reps(untraced_job_s))
        docs = self.docs()
        t_scan = h.median_time(LAYER_REPS, "layer.scan", lambda: h.noop(docs))
        t_text = h.median_time(
            LAYER_REPS, "layer.text", lambda: h.noop(docs.select(detect_language("text").alias("lang"))))
        t_quality = h.median_time(
            LAYER_REPS, "layer.quality", lambda: h.noop(gopher_quality_flags(docs, "doc_id", "text")))
        corpus, sampling = [], []
        for _ in range(LAYER_REPS):
            t = time.monotonic()
            with h.span("plans.corpus.corpus_preprocess", group="layer.corpus"):
                flags, selected = self.curated(docs)
            t_call = time.monotonic()
            with h.span("operators.sampling.cap", group="layer.sampling"):
                h.noop(flags)
            corpus.append(time.monotonic() - t)
            sampling.append(time.monotonic() - t_call)
        t_sel = h.median_time(LAYER_REPS, "layer.selected", lambda: h.noop(selected))
        deduped = minhash_lsh_dedup(selected, "doc_id", "text")
        t_dedup = h.median_time(LAYER_REPS, "layer.dedup", lambda: h.noop(deduped))
        t_write = self.sink_time(
            lambda df, path: sinks.write_partitioned_items(df, path, partition_cols=("source",)),
            deduped,
        )
        n_sel, n_kept = selected.count(), deduped.count()
        pinned = sc._jsc.getPersistentRDDs().size()
        storage = sc._jsc.sc().getRDDStorageInfo()
        mb, files = dir_stats(self.outputs[-1], ".parquet")
        m.update(
            {
                "functions.text.busy_s": (t_text - t_scan, "s"),
                "operators.quality.busy_s": (t_quality - t_scan, "s"),
                "plans.corpus.busy_s": (statistics.median(corpus), "s"),
                "operators.sampling.busy_s": (statistics.median(sampling), "s"),
                "operators.dedup.busy_s": (t_dedup - t_sel, "s"),
                "operators.dedup.canonical_frac": (n_kept / n_sel, "1"),
                "plans.corpus.pinned_rdds_after": (pinned, "count"),
                "plans.corpus.pinned_mb_after": (
                    sum(s.memSize() + s.diskSize() for s in storage) / (1 << 20), "MB"),
                "sinks.write_s": (t_write - t_dedup, "s"),
                "sinks.written_mb": (mb, "MB"),
                "sinks.files": (files, "count"),
            }
        )
        return m

    def from_eventlog(self, ev: EventLog) -> dict:
        g = ev.select(lambda n: n in ("layer.corpus", "layer.sampling"))
        return {
            "plans.corpus.scans_per_doc": (
                g.records_read / LAYER_REPS / self.truth["input_rows"], "1"),
        }


WORKLOADS = {"stac_catalog": StacCatalog, "cogify_queue": CogifyQueue, "corpus_curate": CorpusCurate}
