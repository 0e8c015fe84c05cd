"""Shared machinery for the benchmark workloads: the run context (work
directory, Spark session lifecycle, repeated set-up), latency statistics,
benchmark-side tracing spans, Spark event-log parsing and /proc RSS.

Nothing here edits or wraps the engine: layers are timed from outside by
calling their public functions inside spans.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import subprocess
import threading
import time
from collections.abc import Callable
from contextlib import contextmanager
from dataclasses import dataclass

import numpy as np
import pandas as pd

SETUP_ROUNDS = 3
_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _steal_s() -> float:
    """CPU time the hypervisor has taken from this machine, averaged per
    CPU (the ``steal`` column of /proc/stat)."""
    with open("/proc/stat") as f:
        lines = f.read().split("\n")
    ncpu = sum(1 for line in lines if line.startswith("cpu") and line[3:4].isdigit())
    return int(lines[0].split()[8]) / _CLK_TCK / max(ncpu, 1)


def wall() -> float:
    return time.perf_counter()


def now() -> float:
    """The benchmark's clock: wall time minus the time the hypervisor
    stole from the CPUs. On a shared virtual machine steal varies from run
    to run (0-35% was seen on the 4-vCPU virtual machine it was tuned on) and
    would otherwise dominate every timing; raw wall time and the steal
    share of each run are in the notes."""
    return time.perf_counter() - _steal_s()


# --- statistics -------------------------------------------------------------

def tail_rank(n: int) -> int:
    """Index (0-based, ascending order) of the highest order statistic
    that still has at least ten samples above it; the median when the
    sample is too small for that."""
    return max(n - 11, n // 2)


def hd_quantile(samples: list[float], p: float) -> float:
    """Harrell-Davis estimate of the ``p`` quantile: the average of all
    order statistics weighted by a Beta(p(n+1), (1-p)(n+1)) distribution.
    A run's ops are of several kinds with latencies far apart, so the plain
    sample median jumps between kinds when two ops trade ranks; this
    estimate moves smoothly instead."""
    xs = np.sort(np.asarray(samples, dtype=float))
    n = len(xs)
    if n == 1:
        return float(xs[0])
    a, b = p * (n + 1), (1 - p) * (n + 1)
    grid = 20_000
    mid = (np.arange(grid) + 0.5) / grid
    logpdf = (a - 1) * np.log(mid) + (b - 1) * np.log1p(-mid)
    cdf = np.concatenate(([0.0], np.cumsum(np.exp(logpdf - logpdf.max()))))
    cdf /= cdf[-1]
    edges = np.interp(np.arange(n + 1) / n, np.arange(grid + 1) / grid, cdf)
    return float(np.dot(np.diff(edges), xs))


def latency_stats(samples: list[float]) -> tuple[float, float, float]:
    """(median, tail value, tail percentile) of op latencies, both
    Harrell-Davis estimates; the tail percentile is that of the highest
    order statistic with at least ten samples above it."""
    n = len(samples)
    p = tail_rank(n) / max(n - 1, 1)
    return hd_quantile(samples, 0.5), hd_quantile(samples, p), 100.0 * p


# --- result comparison ------------------------------------------------------

def digest(pdf: pd.DataFrame) -> tuple:
    """Order-insensitive digest of a result frame: shape, column names
    and the wrapping sum of per-row hashes."""
    h = pd.util.hash_pandas_object(pdf, index=False).to_numpy(dtype=np.uint64)
    return len(pdf), tuple(pdf.columns), int(h.sum(dtype=np.uint64))


def _is_number(v) -> bool:
    return isinstance(v, (int, float, np.number)) or type(v).__name__ == "Decimal"


def _canon_col(s: pd.Series) -> pd.Series:
    if pd.api.types.is_bool_dtype(s) or pd.api.types.is_numeric_dtype(s):
        return s.astype("float64")
    vals = s.dropna()
    if pd.api.types.is_datetime64_any_dtype(s) or (
        len(vals) and hasattr(vals.iloc[0], "isoformat")
    ):
        return pd.to_datetime(s).dt.strftime("%Y-%m-%d %H:%M:%S.%f").fillna("<NULL>")
    if len(vals) and all(_is_number(v) for v in vals.iloc[:50]):
        return pd.to_numeric(s, errors="raise").astype("float64")
    return s.astype(object).where(s.notna(), "<NULL>").astype(str)


def canonical(pdf: pd.DataFrame) -> pd.DataFrame:
    """Exact, order-insensitive comparison form: lower-case columns in
    name order, one canonical type per column, rows sorted."""
    pdf = pdf.rename(columns=str.lower)
    cols = sorted(pdf.columns)
    out = pd.DataFrame({c: _canon_col(pdf[c]) for c in cols})
    return out.sort_values(cols, na_position="last", kind="mergesort").reset_index(drop=True)


# --- tracing ----------------------------------------------------------------

class Tracer:
    """Benchmark-side spans: (name, start, end, parent, op id), kept in
    memory and written out at the end. Disabled tracers record nothing,
    so untraced runs pay one attribute check per span."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, op: int | None = None):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        rec = {"name": name, "op": op, "parent": stack[-1] if stack else None}
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec["id"])
        rec["start"] = now()
        try:
            yield
        finally:
            rec["end"] = now()
            stack.pop()


# --- /proc ------------------------------------------------------------------

def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(jvm_pid: int | None) -> float:
    """Peak resident set of this Python driver plus its JVM child
    (VmHWM of each; psutil is not available)."""
    kb = _vm_hwm_kb(os.getpid()) + (_vm_hwm_kb(jvm_pid) if jvm_pid else 0)
    return kb / 1024.0


# --- Spark event log --------------------------------------------------------

def spark_counters(event_dir: str, t_start: float, t_end: float) -> dict:
    """Executor-side totals for tasks that finished inside the wall-clock
    window [t_start, t_end] (epoch seconds), read from Spark's own event
    logs."""
    tot = dict.fromkeys(
        ("run_ms", "cpu_ns", "gc_ms", "sw", "sr", "spill", "tasks"), 0
    )
    stages = set()
    lo, hi = t_start * 1000.0, t_end * 1000.0
    for path in glob.glob(os.path.join(event_dir, "**", "*"), recursive=True):
        if not os.path.isfile(path):
            continue
        with open(path) as f:
            for line in f:
                if '"SparkListenerTaskEnd"' not in line[:60]:
                    continue
                ev = json.loads(line)
                info = ev.get("Task Info", {})
                if not lo <= info.get("Finish Time", 0) <= hi:
                    continue
                m = ev.get("Task Metrics") or {}
                sw = m.get("Shuffle Write Metrics", {})
                sr = m.get("Shuffle Read Metrics", {})
                tot["run_ms"] += m.get("Executor Run Time", 0)
                tot["cpu_ns"] += m.get("Executor CPU Time", 0)
                tot["gc_ms"] += m.get("JVM GC Time", 0)
                tot["sw"] += sw.get("Shuffle Bytes Written", 0)
                tot["sr"] += sr.get("Remote Bytes Read", 0) + sr.get(
                    "Local Bytes Read", 0
                )
                tot["spill"] += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0
                )
                tot["tasks"] += 1
                stages.add((path, ev.get("Stage ID"), ev.get("Stage Attempt ID")))
    tot["stages"] = len(stages)
    return tot


def spark_layer_metrics(
    event_dir: str, t_start: float, t_end: float, n_ops: int, cores: int
) -> dict:
    """The spark.* per-layer metrics: per-op totals over the timed
    window plus the share of core time executors were busy."""
    c = spark_counters(event_dir, t_start, t_end)
    ops = max(n_ops, 1)
    span_s = max(t_end - t_start, 1e-9)
    return {
        "spark.executor_run_s": c["run_ms"] / 1000.0 / ops,
        "spark.executor_cpu_s": c["cpu_ns"] / 1e9 / ops,
        "spark.gc_s": c["gc_ms"] / 1000.0 / ops,
        "spark.shuffle_write_bytes": c["sw"] / ops,
        "spark.shuffle_read_bytes": c["sr"] / ops,
        "spark.spill_bytes": c["spill"] / ops,
        "spark.tasks": c["tasks"] / ops,
        "spark.stages": c["stages"] / ops,
        "spark.core_busy_share": c["run_ms"] / 1000.0 / (span_s * cores),
    }


# --- run context ------------------------------------------------------------

class Run:
    """One benchmark run: owns the work directory, the Spark session (and
    the JVM behind it), the tracer and the op records."""

    def __init__(self, work: str, seed: int, seconds: float, trace: bool, cores: int):
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.cores = cores
        self.tracer = Tracer(trace)
        self.spark = None
        self.event_dir = os.path.join(work, "events")
        self.setup_times: list[float] = []
        self.start_times: list[float] = []
        self.warmup_times: list[float] = []
        self.latencies: list[float] = []
        self.op_log: list[tuple[str, float]] = []
        self.attempted = 0
        self.failed = 0
        self.rows = 0
        self.t0 = self.t1 = self.w0 = self.w1 = 0.0
        self.wall0 = self.wall1 = 0.0
        self.layer: dict[str, float] = {}
        self.notes: dict = {}
        self._lock = threading.Lock()  # ops may be recorded from several threads

    # session lifecycle
    def _conf(self) -> dict[str, str]:
        tmp = os.path.join(self.work, "tmp")
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                f"-Dderby.system.home={self.work}"
            ),
        }
        if self.trace:
            os.makedirs(self.event_dir, exist_ok=True)
            conf["spark.eventLog.enabled"] = "true"
            conf["spark.eventLog.dir"] = "file://" + self.event_dir
            conf["spark.eventLog.rolling.enabled"] = "false"
            conf["spark.eventLog.compress"] = "false"
        return conf

    def start_session(self):
        from redshift_etl_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        t = now()
        self.spark = get_spark(app_name="perfbench", extra_conf=self._conf())
        self.start_times.append(now() - t)
        return self.spark

    def setup(self, register, warmup) -> None:
        """Set up ``SETUP_ROUNDS`` times (fresh SparkContext, input registration;
        round one also launches the JVM), then warm the last session up
        once with an untimed pass of every op kind."""
        for _ in range(SETUP_ROUNDS):
            t = now()
            register(self.start_session())
            self.setup_times.append(now() - t)
        self.notes["setup_rounds_s"] = [round(x, 3) for x in self.setup_times]
        t = now()
        warmup(self.spark)
        self.warmup_times.append(now() - t)
        self.notes["warmup_s"] = round(self.warmup_times[-1], 3)

    def jvm_pid(self) -> int | None:
        from pyspark import SparkContext

        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None) if gw is not None else None
        return proc.pid if proc is not None else None

    def shutdown(self) -> None:
        """Stop the session and the JVM gateway process, and wait for it."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    # timed phase
    def begin(self) -> None:
        self.rows = 0
        self.t0, self.w0, self.wall0 = now(), wall(), time.time()

    def end(self) -> None:
        self.t1, self.w1, self.wall1 = now(), wall(), time.time()
        self.notes["timed_wall_s"] = round(self.w1 - self.w0, 3)
        self.notes["timed_steal_share"] = round(1 - (self.t1 - self.t0) / (self.w1 - self.w0), 4)

    def record(self, latency: float, ok: bool, kind: str = "op") -> None:
        with self._lock:
            self.latencies.append(latency)
            self.op_log.append((kind, round(latency, 4)))
            self.attempted += 1
            if not ok:
                self.failed += 1

    def add_rows(self, n: int) -> None:
        with self._lock:
            self.rows += n

    def elapsed(self) -> float:
        return now() - self.t0

    # results
    def e2e(self) -> dict[str, float]:
        span = self.t1 - self.t0
        p50, tail, pct = latency_stats(self.latencies)
        self.notes["op_tail_percentile"] = round(pct, 1)
        self.notes["ops"] = self.op_log
        self.notes["op_samples"] = len(self.latencies)
        return {
            "setup_s": statistics.median(self.setup_times) + self.warmup_times[-1],
            "op_p50_s": p50,
            "op_tail_s": tail,
            "ops_per_s": len(self.latencies) / span,
            "rows_per_s": self.rows / span,
            "peak_rss_mb": peak_rss_mb(self.jvm_pid()),
        }

    def layer_metrics(self, names: list[str]) -> dict[str, float]:
        """Per-layer metrics; stops the session first so that its event log
        is complete on disk."""
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        out = {
            "session.start_s": statistics.median(self.start_times),
            "session.warmup_s": statistics.median(self.warmup_times),
        }
        out.update(
            spark_layer_metrics(
                self.event_dir, self.wall0, self.wall1, len(self.latencies), self.cores
            )
        )
        out.update(self.layer)
        return {n: float(out.get(n, 0.0)) for n in names}


@dataclass
class Part:
    """A workload component: its set-up, warm-up and timed steps, bound to
    inputs it generated. ``measure`` runs one cycle and returns the ops it
    ran; ``more`` says whether inputs remain for another cycle; ``finish``
    checks the outputs and fills the per-layer metrics."""

    register: Callable
    warmup: Callable
    measure: Callable
    more: Callable
    finish: Callable


def job_stats(spark, group: str) -> tuple[int, int]:
    """(jobs, tasks) Spark ran under one job group, from the status
    tracker."""
    st = spark.sparkContext.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        if info is None:
            continue
        for s in info.stageIds:
            si = st.getStageInfo(s)
            if si is not None:
                tasks += si.numTasks
    return len(jobs), tasks


def clear_cache(spark) -> None:
    """Drop cached frames between ops, so no op reuses another's cache."""
    spark.catalog.clearCache()


def noop_write(df) -> None:
    """Materialise a frame without producing output (Spark's noop sink)."""
    df.write.format("noop").mode("overwrite").save()
