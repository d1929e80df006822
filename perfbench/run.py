"""End-to-end benchmark of the three pipelines the package reproduces.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload stac_catalog --seed 1 --seconds 10 --trace 0

Workloads: ``stac_catalog``, ``cogify_queue``, ``corpus_curate`` (see
``workloads.py`` and ``NOTES.md``).  One run:

1. set-up: start the Spark session, generate the inputs from the seed,
   run a fixed number of warm-up repetitions;
2. timed repetitions for ``--seconds``, at least three (the queue
   workload times one fixed-size drain), reported as medians;
3. correctness checks against the generator's ground truth, off the
   timed path, plus a second generation proving the inputs are
   byte-identical for the seed.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` repeats the
job in a second Spark context with an event log and job groups and
prints the per-layer metrics.  The last stdout line is the JSON result;
the line before it (``{"verbose": ...}``) carries every end-to-end
metric, repetition order, spread, digests and check details.  A failed
check exits 1; without the package next to ``perfbench/`` the run exits
2 and prints no result.
"""

from __future__ import annotations

import time

T_START = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "cloud_optimized_data_pipelines_spark"


# JVM heap, fixed: -Xms equal to the maximum, so that the collector does
# not size the heap differently from run to run (that moved the GC count
# per repetition between 5 and 11, and job_cpu_s with it)
HEAP = "3g"


def _cpus() -> int:
    """Task slots: at most two, so that the JIT compiler, GC and driver
    threads have CPUs of their own on a 4-CPU host instead of taking
    turns with the tasks."""
    return min(2, len(os.sched_getaffinity(0)))


def _prepare_env(work: str) -> None:
    """Everything the run writes goes under ``work``; the Python workers
    import the package and the benchmark's own modules via PYTHONPATH."""
    for sub in ("local", "tmp", "warehouse", "eventlog"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(_cpus())
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    os.environ["SPARK_DRIVER_MEMORY"] = HEAP
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # the JVMs keep their temp files in the run too (no /tmp/hsperfdata_*)
    os.environ["SPARK_LAUNCHER_OPTS"] = _jvm_opts(work)
    tempfile.tempdir = None
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )


def _jvm_opts(work: str) -> str:
    # a fixed set of JIT compiler threads: job_cpu_s leaves their CPU
    # out, which needs them alive for the whole run (harness.JIT_THREADS)
    return ("-XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads -Djava.io.tmpdir="
            + os.path.join(work, "tmp"))


def spark_conf(work: str, event_log: bool) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.streaming.numRecentProgressUpdates": "1000",
        "spark.driver.extraJavaOptions": f"-Xms{HEAP} " + _jvm_opts(work),
    }
    if event_log:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


def spread(times: list[float]) -> float:
    """(max - min) / median of one run's repetitions."""
    return (max(times) - min(times)) / statistics.median(times) if times else 0.0


def run(args, work: str) -> tuple[dict, dict]:
    import harness
    import workloads
    from gen import GENERATORS, digest_tree

    from cloud_optimized_data_pipelines_spark.session import get_spark

    spark = get_spark(extra_conf=spark_conf(work, event_log=False))
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.monotonic() - T_START

    h = harness.Harness(spark, work)
    gen = GENERATORS[args.workload]
    inputs = os.path.join(work, "inputs-a")
    t = time.monotonic()
    truth = gen(inputs, args.seed)
    gen_s = [time.monotonic() - t]
    wl = workloads.WORKLOADS[args.workload](h, inputs, truth)

    sampler = harness.PssSampler()
    sampler.start()
    t = time.monotonic()
    warm_times = wl.warm_up()
    warm_s = time.monotonic() - t
    reps = wl.timed(args.seconds)
    sampler.stop()
    retained_heap_mb = harness.settled_heap_mb(spark)
    retained_mb = sampler.sample()

    failures, check_info = wl.check(reps)
    # second generation: byte-identical inputs for the seed, and a
    # second sample of the generation part of set-up
    inputs_b = os.path.join(work, "inputs-b")
    t = time.monotonic()
    truth_b = gen(inputs_b, args.seed)
    gen_s.append(time.monotonic() - t)
    digest_a, digest_b = digest_tree(inputs), digest_tree(inputs_b)
    if digest_a != digest_b or harness.plain(truth) != harness.plain(truth_b):
        failures.append(f"inputs differ for seed {args.seed}: {digest_a[:16]} vs {digest_b[:16]}")
    shutil.rmtree(inputs_b, ignore_errors=True)

    times = [r["seconds"] for r in reps]
    job_s = statistics.median(times)
    setup_s = session_s + statistics.median(gen_s) + warm_s
    e2e = {
        "setup_s": (setup_s, "s"),
        "job_cpu_s": (statistics.median(r["cpu_s"] for r in reps), "s"),
    }
    attempted = len(warm_times) + len(reps) + wl.operations(reps)
    failed = len(failures)
    # Not in the result line: on a shared host wall times spread too much
    # between runs to gate on, PSS mostly shows the fixed heap once the
    # collector has cycled through it, the retained heap reads one of two
    # values from run to run (NOTES.md), fail_frac is 0
    # on a healthy run, and batch latency equals job_s on batch workloads.
    extra = {
        "job_s": (job_s, "s"),
        "rows_per_s": (truth["input_rows"] / job_s, "1/s"),
        "peak_pss_mb": (sampler.peak_mb, "MB"),
        "retained_heap_mb": (retained_heap_mb, "MB"),
        "retained_pss_mb": (retained_mb, "MB"),
        "fail_frac": (failed / attempted, "1"),
        **wl.batch_latency(reps),
    }
    verbose = {
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in {**e2e, **extra}.items()},
        "workload": args.workload,
        "seed": args.seed,
        "master": f"local[{_cpus()}]",
        "session_s": session_s,
        "generate_s": gen_s,
        "input_digest": digest_a,
        "warm_up_s": warm_times,
        "rep_order_s": times,
        "rep_spread": spread(times),
        "rep_cpu_s": [r["cpu_s"] for r in reps],
        "rep_jit_s": [r["jit_s"] for r in reps],
        "rep_steal_s": [r["steal_s"] for r in reps],
        "failures": failures,
        **check_info,
    }

    result_metrics = e2e
    if args.trace:
        spark.stop()
        spark = get_spark(extra_conf=spark_conf(work, event_log=True))
        spark.sparkContext.setLogLevel("ERROR")
        h.rebind(spark)
        layer = wl.trace(job_s)
        sleep_s = h.sleep_calibration()
        spark.stop()
        ev = harness.EventLog(os.path.join(work, "eventlog"))
        layer.update(wl.from_eventlog(ev))
        group, units = wl.job_groups()
        layer.update(harness.spark_metrics(ev.group(group), units))
        layer["trace.sleep_udf_ratio"] = (
            harness.python_run_s(ev.group("calib.sleep")) / sleep_s, "1")
        result_metrics = {
            name: layer.get(name, (0, unit)) for name, unit in workloads.LAYER_METRICS.items()
        }
        verbose["spans"] = h.spans

    metrics = {k: {"value": v, "unit": u} for k, (v, u) in result_metrics.items()}
    result = {
        "correct": not failures,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }
    return result, verbose


def _stop_jvm() -> None:
    """Stop the Spark context and the gateway JVM, and wait for the JVM
    (and with it the Python workers) to exit."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    if proc is not None:
        proc.stdin.close()  # the gateway server exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: package {PACKAGE}/ not found in {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    from gen import GENERATORS

    if args.workload not in GENERATORS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(GENERATORS)}",
              file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench-work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _prepare_env(work)
    try:
        result, verbose = run(args, work)
    finally:
        _stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)
    print(json.dumps({"verbose": verbose}, default=float))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
