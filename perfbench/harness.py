"""Run plumbing shared by every workload: the span recorder, the timing
statistics, the Spark session lifecycle and the process hygiene (temp
root inside the checkout, peak RSS, stopping the JVM).

Nothing here reaches into ``ent_fins_lakehouse_spark``: spans wrap the
benchmark's own calls into the package's public functions.
"""

from __future__ import annotations

import json
import math
import os
import resource
import shutil
import itertools
import statistics
import subprocess
import threading
import time
import zipfile
from collections import defaultdict
from contextlib import contextmanager

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_SPANS_LOCK = threading.Lock()


def run_root() -> str:
    """This process's scratch directory inside the checkout."""
    return os.path.join(REPO_ROOT, ".perfbench", f"run-{os.getpid()}")


# ---------------------------------------------------------------- tracing


class Tracer:
    """In-memory span recorder. Disabled, every method is a no-op, so
    the untraced run pays one attribute test per call site.

    A span is ``[name, start, end, parent_index, op_id]``; spans of one
    benchmark operation share ``op_id``. The open-span stack and the
    current op are per thread, so warm-up ops on a second thread nest
    correctly. Counters record values taken from the program's public
    return values, as lists so that both means and totals can be
    reported."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[list] = []
        self.values: dict[str, list[float]] = defaultdict(list)
        self._local = threading.local()

    @property
    def op_id(self) -> int | None:
        return getattr(self._local, "op_id", None)

    @op_id.setter
    def op_id(self, value: int | None) -> None:
        self._local.op_id = value

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        rec = [name, time.perf_counter(), None, stack[-1] if stack else None, self.op_id]
        with _SPANS_LOCK:
            self.spans.append(rec)
            stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            rec[2] = time.perf_counter()
            stack.pop()

    def wrap(self, name: str, fn):
        """``fn`` with every call recorded as a span named
        ``name.format(*args)``: ``"etl.{0}"`` names the span after the
        first positional argument."""
        if not self.enabled:
            return fn

        def traced(*args, **kwargs):
            with self.span(name.format(*args)):
                return fn(*args, **kwargs)

        return traced

    def record(self, name: str, value: float) -> None:
        if self.enabled:
            self.values[name].append(float(value))

    def durations(self, name: str) -> list[float]:
        return [s[2] - s[1] for s in self.spans if s[0] == name and s[2] is not None]

    def self_times(self) -> dict[str, tuple[float, float, int]]:
        """name → (total seconds, self seconds, calls). Self time is the
        span's duration minus the part its direct children cover."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s[3] is not None and s[2] is not None:
                child[s[3]] += s[2] - s[1]
        out: dict[str, list] = {}
        for i, s in enumerate(self.spans):
            if s[2] is None:
                continue
            t = out.setdefault(s[0], [0.0, 0.0, 0])
            t[0] += s[2] - s[1]
            t[1] += s[2] - s[1] - child[i]
            t[2] += 1
        return {k: (v[0], v[1], v[2]) for k, v in out.items()}

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            for name, start, end, parent, op in self.spans:
                fh.write(
                    json.dumps(
                        {"name": name, "start": start, "end": end, "parent": parent, "op": op}
                    )
                    + "\n"
                )


# ------------------------------------------------------------- statistics


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def tail(xs: list[float]) -> tuple[float, int, int]:
    """The highest percentile with at least ten samples beyond it:
    (value, percentile, sample count). With fewer than eleven samples
    no such percentile exists and the minimum is returned."""
    n = len(xs)
    if n == 0:
        return 0.0, 0, 0
    s = sorted(xs)
    k = max(n - 11, 0)  # s[k] has n-1-k >= 10 samples above it
    return s[k], int(math.floor(100.0 * (k + 1) / n)), n


def weighted_quantile(xs: list[float], weights: list[float], q: float) -> float:
    """The smallest value whose cumulative weight reaches ``q`` of the
    total weight."""
    total = sum(weights)
    acc = 0.0
    for x, w in sorted(zip(xs, weights)):
        acc += w
        if acc >= q * total * (1 - 1e-12):
            return x
    return max(xs) if xs else 0.0


# ------------------------------------------------------------ run context


class Op:
    """One timed benchmark operation and what its check needs."""

    __slots__ = ("kind", "start", "end", "result", "error", "meta")

    def __init__(self, kind: str, **meta):
        self.kind = kind
        self.start = self.end = 0.0
        self.result = None
        self.error: str | None = None
        self.meta = meta

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


class Run:
    """Per-process run state: arguments, temp root, tracer, Spark."""

    def __init__(self, args, tracer: Tracer):
        self.args = args
        self.seed = args.seed
        self.seconds = args.seconds
        self.tiny = args.size == "tiny"
        self.tracer = tracer
        self.cpus = len(os.sched_getaffinity(0))
        self.root = run_root()
        os.makedirs(self.root, exist_ok=True)
        self.spark = None
        self.jvm_options = ""
        self.ops: list[Op] = []
        self.checks: list[Op] = []
        self.untimed: list[Op] = []
        self.setup_times: list[float] = []
        self.jvm_peak_rss_mb = 0.0
        self.phases: dict[str, float] = {}
        self._op_seq = itertools.count(1)

    def path(self, *parts: str) -> str:
        p = os.path.join(self.root, *parts)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        return p

    # ---------------------------------------------------------- spark

    def session(self, jvm_options: str = ""):
        """``session.get_session`` at local[nproc], every scratch path
        of the JVM and the Python workers under the run's temp root, and
        the workload's extra driver JVM options, if any (they take
        effect when the JVM starts, at the first call)."""
        from ent_fins_lakehouse_spark.session import get_session

        tmp = os.path.join(self.root, "tmp")
        os.makedirs(tmp, exist_ok=True)
        with self.tracer.span("session.get_session"):
            spark = get_session(
                app_name="perfbench",
                cpus=self.cpus,
                extra_conf={
                    "spark.local.dir": os.path.join(self.root, "spark-local"),
                    "spark.sql.warehouse.dir": os.path.join(self.root, "warehouse"),
                    "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} {jvm_options}".strip(),
                    "spark.ui.showConsoleProgress": "false",
                },
            )
        if self.spark is None:
            self.spark = spark
            self.jvm_options = jvm_options
            spark.sparkContext.setLogLevel("ERROR")
            spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
            self._ship_package(spark)
        return spark

    def _ship_package(self, spark) -> None:
        """Put the package on the Python workers' import path (the
        ``--py-files`` step): zip it and ``addPyFile`` the zip."""
        zpath = self.path("pyfiles", "ent_fins_lakehouse_spark.zip")
        pkg = os.path.join(REPO_ROOT, "ent_fins_lakehouse_spark")
        with zipfile.ZipFile(zpath, "w") as zf:
            for dirpath, _dirs, files in os.walk(pkg):
                for f in files:
                    if f.endswith(".py"):
                        full = os.path.join(dirpath, f)
                        zf.write(full, os.path.relpath(full, REPO_ROOT))
        spark.sparkContext.addPyFile(zpath)

    def stop(self) -> None:
        """Stop streams, the SparkContext and the JVM, and wait for the
        JVM to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        for q in self.spark.streams.active:
            q.stop()
        self.jvm_peak_rss_mb = jvm_peak_rss_mb()
        self.spark.stop()
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None) if gw is not None else None
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None
        self.spark = None

    def cleanup(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)

    # ----------------------------------------------------------- timing

    @contextmanager
    def phase(self, name: str):
        """Wall time of one part of the run, printed in the report."""
        t = time.perf_counter()
        try:
            yield
        finally:
            self.phases[name] = self.phases.get(name, 0.0) + time.perf_counter() - t

    def setup(self, build, reps: int):
        """Run ``build(rep)`` ``reps`` times, timing each; the last
        rep's return value is what the timed region uses."""
        out = None
        for rep in range(reps):
            t = time.perf_counter()
            with self.tracer.span("bench.setup"):
                out = build(rep)
            self.setup_times.append(time.perf_counter() - t)
        return out

    def add_check(self, kind: str) -> Op:
        """An operation that is only a check (no latency), e.g. the
        final-table comparison; it counts in ``attempted``."""
        o = Op(f"check.{kind}")
        self.checks.append(o)
        return o

    def all_ops(self) -> list[Op]:
        return self.untimed + self.ops + self.checks

    @contextmanager
    def op(self, kind: str, timed: bool = True, **meta):
        """Time one operation. An exception is recorded as the op's
        failure, never raised: the loop goes on and the op counts in
        ``failed``. Untimed ops (warm-up: first use of each code path,
        and side measurements) are checked but stay out of the
        end-to-end timings."""
        o = Op(kind, **meta)
        op_id = next(self._op_seq)
        self.tracer.op_id = op_id
        tracked = self.tracer.enabled and self.spark is not None
        if tracked:
            group = f"perfbench-op-{op_id}"
            self.spark.sparkContext.setJobGroup(group, kind)
        o.start = time.perf_counter()
        try:
            with self.tracer.span(f"op.{kind}"):
                yield o
        except Exception as ex:  # noqa: BLE001 — a failed op is data
            o.error = f"{type(ex).__name__}: {str(ex)[:300]}"
        o.end = time.perf_counter()
        self.tracer.op_id = None
        if tracked:
            jobs, tasks = _jobs_and_tasks(self.spark, group)
            self.tracer.record("spark.jobs_per_op", jobs)
            self.tracer.record("spark.tasks_per_op", tasks)
        (self.ops if timed else self.untimed).append(o)


def _jobs_and_tasks(spark, group: str) -> tuple[int, int]:
    st = spark.sparkContext.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        for sid in info.stageIds if info else []:
            s = st.getStageInfo(sid)
            tasks += s.numTasks if s else 0
    return len(jobs), tasks


# -------------------------------------------------------------- hygiene


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status", encoding="ascii") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def cpu_ticks() -> list[int]:
    """The host's aggregate CPU time counters from ``/proc/stat`` (user,
    nice, system, idle, iowait, irq, softirq, steal, ...)."""
    try:
        with open("/proc/stat", encoding="ascii") as fh:
            return [int(x) for x in fh.readline().split()[1:]]
    except OSError:
        return [0] * 10


def host_probe_ms() -> float:
    """Median time of a fixed pure-Python loop: a stamp of how fast this
    host's CPU runs at the moment, to tell host drift from program
    change when two runs disagree. No metric uses it."""
    times = []
    for _ in range(5):
        t = time.perf_counter()
        sum(i * i for i in range(200_000))
        times.append((time.perf_counter() - t) * 1000.0)
    return statistics.median(times)


def jvm_peak_rss_mb() -> float:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    return _vm_hwm_kb(proc.pid) / 1024.0 if proc is not None else 0.0


def python_peak_rss_mb() -> float:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, f))
            except OSError:
                pass
    return total


def engine_versions(spark) -> dict[str, str]:
    import platform

    import duckdb
    import numpy
    import pandas
    import pyarrow
    import pyspark

    return {
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "java": spark.sparkContext._jvm.System.getProperty("java.version") if spark else "?",
        "duckdb": duckdb.__version__,
        "pyarrow": pyarrow.__version__,
        "pandas": pandas.__version__,
        "numpy": numpy.__version__,
    }
