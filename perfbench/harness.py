"""Measurement plumbing shared by the workloads: spans with job groups,
forcing a plan to a ``noop`` sink, the PSS sampler, and the Spark event
log reader that turns a traced run into per-layer numbers."""

from __future__ import annotations

import gc
import glob
import json
import os
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

MB = 1 << 20


def plain(truth: dict) -> dict:
    """The JSON-comparable part of a ground-truth dict."""
    return json.loads(json.dumps(truth, default=str))


class Harness:
    """Holds the session and the spans of one run.

    A span names a call into one layer.  When it carries a job group,
    the group is set on the calling thread for the span's duration and
    cleared afterwards, so the event log attributes every Spark job to
    exactly one span and nothing leaks into the next one."""

    def __init__(self, spark, work: str):
        self.spark = spark
        self.work = work
        self.spans: list[dict] = []
        self._t0 = time.monotonic()

    def rebind(self, spark) -> None:
        self.spark = spark

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    @contextmanager
    def span(self, name: str, group: str | None = None):
        sc = self.spark.sparkContext
        if group:
            sc.setJobGroup(group, name)
        start = time.monotonic()
        try:
            yield
        finally:
            end = time.monotonic()
            if group:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            self.spans.append(
                {"name": name, "group": group,
                 "start": round(start - self._t0, 6), "end": round(end - self._t0, 6)}
            )

    @staticmethod
    def noop(df) -> None:
        """Run a plan to completion without writing anything."""
        df.write.format("noop").mode("overwrite").save()

    def median_time(self, n: int, name: str, fn) -> float:
        """Median wall time of ``n`` calls of ``fn``, each in a span of
        job group ``name``."""
        times = []
        for _ in range(n):
            t = time.monotonic()
            with self.span(name, group=name):
                fn()
            times.append(time.monotonic() - t)
        return statistics.median(times)

    def sleep_calibration(self) -> float:
        """Expected Python-worker run seconds of the calibration query;
        run once to start the workers, then once under job group
        ``calib.sleep`` (the event log reports that one)."""
        import sleepudf

        df = self.spark.range(0, sleepudf.TASKS, 1, sleepudf.TASKS)
        self.noop(df.mapInPandas(sleepudf.sleep_batches, "id long"))
        with self.span("calib.sleep", group="calib.sleep"):
            self.noop(df.mapInPandas(sleepudf.sleep_batches, "id long"))
        return sleepudf.TASKS * sleepudf.SLEEP_S


# --------------------------------------------------------------------------
# memory
# --------------------------------------------------------------------------


_TCK = os.sysconf("SC_CLK_TCK")


# The JVM's JIT compiler threads (their /proc name is cut at 15
# characters).  How much they still compile during a timed repetition
# depends on how much CPU the host gave them until then; it was a third
# to a half of the job's CPU and varied by a factor of two between runs.
# The JVM runs with -XX:-UseDynamicNumberOfCompilerThreads, so these
# threads live as long as the JVM and their CPU never moves into the
# process total of exited threads.
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")

# Native ids of the benchmark's own threads in this process (the PSS
# sampler): their CPU is the benchmark's, not the program's.
OWN_THREADS: set[int] = set()


def _ticks(stat_path: str) -> int:
    with open(stat_path) as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return int(fields[11]) + int(fields[12])


def _jit_ticks(pid: int) -> int:
    total = 0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as f:
                if f.read().startswith(JIT_THREADS):
                    total += _ticks(f"/proc/{pid}/task/{tid}/stat")
        except (OSError, IndexError, ValueError):
            continue
    return total


def tree_cpu_s() -> tuple[float, float]:
    """(program, jit) CPU seconds (user + system) used so far.

    ``program`` is this process and every live descendant (the JVM and
    the Python workers) less the JIT compiler threads and the
    benchmark's own threads; ``jit`` is the JIT compiler threads."""
    total = jit = 0
    for pid in [os.getpid()] + PssSampler._descendants(os.getpid()):
        try:
            total += _ticks(f"/proc/{pid}/stat")
        except (OSError, IndexError, ValueError):
            continue
        jit += _jit_ticks(pid)
    for tid in OWN_THREADS:
        try:
            total -= _ticks(f"/proc/self/task/{tid}/stat")
        except (OSError, IndexError, ValueError):
            continue
    return (total - jit) / _TCK, jit / _TCK


def steal_s() -> float:
    """Host-wide CPU time stolen from this VM so far (all CPUs)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _TCK


def measure(fn) -> dict:
    """Call ``fn``; its result dict gains wall ``seconds``, the program's
    ``cpu_s`` and the JIT compiler's ``jit_s`` (see ``tree_cpu_s``), and
    the host's ``steal_s`` over the call."""
    (cpu, jit), steal = tree_cpu_s(), steal_s()
    t = time.monotonic()
    info = fn() or {}
    info["seconds"] = time.monotonic() - t
    cpu_after, jit_after = tree_cpu_s()
    info["cpu_s"] = cpu_after - cpu
    info["jit_s"] = jit_after - jit
    info["steal_s"] = steal_s() - steal
    return info


def settled_heap_mb(spark, rounds: int = 6) -> float:
    """JVM heap in use once full GCs stop freeing anything: what the
    session still holds after the job, pinned blocks included.

    Python's cyclic GC goes first: until it runs, py4j proxies of the
    earlier repetitions' DataFrames may still pin their JVM plans.  The
    first System.gc() lets Spark's ContextCleaner drop the blocks of
    unreferenced RDDs and broadcasts; a later one collects them."""
    mx = spark._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    last = None
    for _ in range(rounds):
        gc.collect()
        spark._jvm.System.gc()
        time.sleep(0.5)
        used = mx.getHeapMemoryUsage().getUsed() / MB
        if last is not None and used >= last * 0.99:
            return used
        last = used
    return last


class PssSampler:
    """Peak summed PSS of every descendant process (the JVM and the
    Python workers it forks), sampled from /proc/<pid>/smaps_rollup."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    @staticmethod
    def _descendants(root: int) -> list[int]:
        children = defaultdict(list)
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children[ppid].append(int(d))
        out, todo = [], list(children[root])
        while todo:
            pid = todo.pop()
            out.append(pid)
            todo += children[pid]
        return out

    @staticmethod
    def _pss_kb(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        return int(line.split()[1])
        except (OSError, ValueError):
            pass
        return 0

    def sample(self) -> float:
        total = sum(self._pss_kb(p) for p in self._descendants(os.getpid()))
        mb = total / 1024
        self.peak_mb = max(self.peak_mb, mb)
        return mb

    def _loop(self) -> None:
        OWN_THREADS.add(threading.get_native_id())
        while not self._stop.wait(self.interval):
            self.sample()

    def start(self) -> None:
        self.sample()
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()


# --------------------------------------------------------------------------
# event log
# --------------------------------------------------------------------------


@dataclass
class GroupStats:
    jobs: int = 0
    tasks: int = 0
    run_ms: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_write_bytes: int = 0
    fetch_wait_ms: int = 0
    spill_bytes: int = 0
    records_read: int = 0
    # (plan node name, metric name) -> summed task updates
    node_metrics: dict = field(default_factory=lambda: defaultdict(int))

    def add(self, other: "GroupStats") -> None:
        for k in ("jobs", "tasks", "run_ms", "cpu_ns", "gc_ms", "shuffle_write_bytes",
                  "fetch_wait_ms", "spill_bytes", "records_read"):
            setattr(self, k, getattr(self, k) + getattr(other, k))
        for k, v in other.node_metrics.items():
            self.node_metrics[k] += v

    def node_sum(self, node: str, metric: str) -> int:
        return sum(v for (n, m), v in self.node_metrics.items() if n == node and m == metric)


class EventLog:
    """An uncompressed, non-rolling Spark event log, summed per job group."""

    def __init__(self, log_dir: str):
        files = [f for f in glob.glob(os.path.join(log_dir, "*")) if not f.endswith(".inprogress")]
        if len(files) != 1:
            raise RuntimeError(f"expected one finished event log in {log_dir}, found {files}")
        self.groups: dict[str, GroupStats] = defaultdict(GroupStats)
        stage_group: dict[int, str] = {}
        acc: dict[int, tuple[str, str]] = {}
        with open(files[0]) as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
                    self._plan_metrics(e["sparkPlanInfo"], acc)
                elif kind == "SparkListenerJobStart":
                    group = (e.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    self.groups[group].jobs += 1
                    for sid in e["Stage IDs"]:
                        stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    self._task(self.groups[stage_group.get(e["Stage ID"], "")], e, acc)

    @staticmethod
    def _plan_metrics(node: dict, acc: dict) -> None:
        for m in node.get("metrics", []):
            acc[m["accumulatorId"]] = (node["nodeName"], m["name"])
        for child in node.get("children", []):
            EventLog._plan_metrics(child, acc)

    @staticmethod
    def _task(g: GroupStats, e: dict, acc: dict) -> None:
        tm = e.get("Task Metrics") or {}
        g.tasks += 1
        g.run_ms += tm.get("Executor Run Time", 0)
        g.cpu_ns += tm.get("Executor CPU Time", 0)
        g.gc_ms += tm.get("JVM GC Time", 0)
        g.shuffle_write_bytes += tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
        g.fetch_wait_ms += tm.get("Shuffle Read Metrics", {}).get("Fetch Wait Time", 0)
        g.spill_bytes += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
        g.records_read += tm.get("Input Metrics", {}).get("Records Read", 0)
        for a in (e.get("Task Info") or {}).get("Accumulables", []):
            key = acc.get(a.get("ID"))
            if key is None:
                continue
            try:  # SQL metric updates are logged as decimal strings
                g.node_metrics[key] += int(a.get("Update"))
            except (TypeError, ValueError):
                pass

    def select(self, pred) -> GroupStats:
        out = GroupStats()
        for name, g in self.groups.items():
            if pred(name):
                out.add(g)
        return out

    def group(self, name: str) -> GroupStats:
        return self.select(lambda n: n == name)


PY_RUN = "time to run Python workers"  # a 'timing' metric, in ms


def python_run_s(g: GroupStats) -> float:
    return sum(v for (_, m), v in g.node_metrics.items() if m == PY_RUN) / 1000


def spark_metrics(g: GroupStats, units: int) -> dict:
    """The ``spark.*`` layer of one workload: event-log totals of the
    traced job repetitions, per repetition (per drain for the queue)."""
    u = max(units, 1)
    return {
        "spark.jobs": (g.jobs / u, "count"),
        "spark.tasks": (g.tasks / u, "count"),
        "spark.executor_run_s": (g.run_ms / 1000 / u, "s"),
        "spark.executor_cpu_s": (g.cpu_ns / 1e9 / u, "s"),
        "spark.gc_s": (g.gc_ms / 1000 / u, "s"),
        "spark.shuffle_write_mb": (g.shuffle_write_bytes / MB / u, "MB"),
        "spark.shuffle_fetch_wait_s": (g.fetch_wait_ms / 1000 / u, "s"),
        "spark.spill_mb": (g.spill_bytes / MB / u, "MB"),
        "spark.python_run_s": (python_run_s(g) / u, "s"),
    }


def dir_stats(path: str, suffix: str = "") -> tuple[float, int]:
    """(MB, data files) written under a sink directory."""
    size, files = 0, 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")) or not n.endswith(suffix):
                continue
            size += os.path.getsize(os.path.join(dirpath, n))
            files += 1
    return size / MB, files
