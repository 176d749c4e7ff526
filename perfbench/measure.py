"""Measurement helpers: spans, process-tree RSS, Spark event-log totals,
the single-threaded per-row kernel split and the host probe.

Spans are recorded by the benchmark around its own calls into each layer
(module names are the layer names); nothing inside the library is
instrumented. They stay in memory and are written once, at exit.
"""

from __future__ import annotations

import json
import os
import signal
import statistics
import subprocess
import threading
import time
from contextlib import contextmanager


class Tracer:
    """Spans with name, start, end, parent and rep id, plus per-rep counters.

    A disabled tracer records nothing, so the same rep code runs traced and
    untraced."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list = []
        self.counters: dict = {}
        self.rep = None
        self._stack: list = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": parent, "rep": self.rep}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def count(self, name: str, value) -> None:
        if self.enabled:
            self.counters.setdefault(self.rep, {})[name] = value

    def self_times(self, reps) -> dict:
        """Median over ``reps`` of each span name's summed self time: its
        duration minus the part its child spans cover."""
        reps = set(reps)
        child: dict = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + (
                    s["end"] - s["start"]
                )
        per: dict = {}
        for i, s in enumerate(self.spans):
            if s["rep"] not in reps:
                continue
            own = (s["end"] - s["start"]) - child.get(i, 0.0)
            d = per.setdefault(s["name"], {})
            d[s["rep"]] = d.get(s["rep"], 0.0) + own
        return {
            n: statistics.median([d.get(r, 0.0) for r in reps])
            for n, d in per.items()
        }

    def counter_median(self, name: str, reps) -> float:
        """Median of a counter over the reps that recorded it, else 0."""
        vals = [self.counters.get(r, {}).get(name) for r in reps]
        vals = [v for v in vals if v is not None]
        return statistics.median(vals) if vals else 0.0

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "counters": self.counters}, f)


# --- process-tree RSS --------------------------------------------------------


def _children(pid: int) -> list:
    kids = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                kids.extend(int(c) for c in f.read().split())
    except OSError:  # the process ended while we looked
        pass
    return kids


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _descendants(root: int) -> list:
    out, todo = [], _children(root)
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(_children(pid))
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_jvm(timeout: float = 60.0) -> None:
    """Shut down the JVM PySpark launched and wait until it, and every
    process started under this one (Python workers included), has ended;
    kill what outlives ``timeout``. The next session launches a fresh JVM."""
    from pyspark import SparkContext

    pids = _descendants(os.getpid())
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway server exits when its stdin closes
        try:
            proc.wait(timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + timeout
    for pid in pids:
        while _alive(pid) and time.monotonic() < deadline:
            time.sleep(0.05)
        if _alive(pid):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def tree_rss_mb(root: int) -> float:
    """Summed RSS of ``root`` and all its descendants (driver Python, the
    JVM it launched, and the Python workers the JVM forks)."""
    return sum(_rss_kb(p) for p in [root, *_descendants(root)]) / 1024.0


class RssSampler:
    """Peak summed process-tree RSS while active, sampled every ``period``
    seconds on a daemon thread."""

    def __init__(self, period: float = 0.05):
        self.peak_mb = 0.0
        self._period = period
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        root = os.getpid()
        while True:
            self.peak_mb = max(self.peak_mb, tree_rss_mb(root))
            if self._stop.wait(self._period):
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak_mb = max(self.peak_mb, tree_rss_mb(os.getpid()))


# --- Spark event log ---------------------------------------------------------


def event_log_totals(log_dir: str, windows: list, slots: int,
                     input_bytes: int) -> dict:
    """Per-rep means of job, task and task-metric totals from the event log
    of a stopped SparkContext. A job belongs to a rep when it was submitted
    inside the rep's wall-clock window (``windows``: [(start_ms, end_ms)]),
    so jobs launched from driver-side threads (the prewarm) count too."""
    files = [os.path.join(d, f) for d, _, fs in os.walk(log_dir) for f in fs]
    jobs, stage_job, tasks = {}, {}, []
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs[ev["Job ID"]] = ev["Submission Time"]
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = ev["Job ID"]
                elif kind == "SparkListenerTaskEnd":
                    tasks.append(ev)

    def rep_of(ms):
        for i, (lo, hi) in enumerate(windows):
            if lo <= ms <= hi:
                return i
        return None

    job_rep = {j: rep_of(ms) for j, ms in jobs.items()}
    n = max(len(windows), 1)
    tot = dict.fromkeys(
        ("jobs", "tasks", "tasks_failed", "input_bytes", "shuffle_write",
         "spill", "run_ms", "cpu_ns", "gc_ms"), 0)
    tot["jobs"] = sum(1 for r in job_rep.values() if r is not None)
    for ev in tasks:
        if job_rep.get(stage_job.get(ev.get("Stage ID"))) is None:
            continue
        tot["tasks"] += 1
        if ev.get("Task End Reason", {}).get("Reason") != "Success":
            tot["tasks_failed"] += 1
        m = ev.get("Task Metrics") or {}
        tot["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
        tot["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0)
        tot["spill"] += m.get("Disk Bytes Spilled", 0)
        tot["run_ms"] += m.get("Executor Run Time", 0)
        tot["cpu_ns"] += m.get("Executor CPU Time", 0)
        tot["gc_ms"] += m.get("JVM GC Time", 0)
    wall_s = sum(hi - lo for lo, hi in windows) / 1000.0
    run_s = tot["run_ms"] / 1000.0
    return {
        "spark.jobs": tot["jobs"] / n,
        "spark.tasks": tot["tasks"] / n,
        "spark.tasks_failed": tot["tasks_failed"] / n,
        "spark.scan_bytes_per_input_byte": tot["input_bytes"] / n / input_bytes,
        "spark.shuffle_write_bytes": tot["shuffle_write"] / n,
        "spark.spill_bytes": tot["spill"] / n,
        "spark.executor_run_s": run_s / n,
        "spark.executor_cpu_s": tot["cpu_ns"] / 1e9 / n,
        "spark.gc_s": tot["gc_ms"] / 1000.0 / n,
        "spark.busy_ratio": run_s / (wall_s * slots) if wall_s else 0.0,
    }


# --- per-row kernel split ----------------------------------------------------


def kernel_split(path: str, spec: list, work_dir: str, rg_per_task: int) -> dict:
    """Single-threaded pass over the table in the fused scan's task ranges,
    timing each layer of the task on its own, then the whole task kernel
    over the same ranges so the parts can be checked against it.
    Microseconds per row.

    Uses the kernels the fused task is built from: parquet decode, the
    inference observe fold, the integrity group-by fold, the arrow violation
    counter and the partials spill write. One untimed task runs first, so
    neither pass pays first-call costs."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from jsonschema_infer_spark.config import default_config
    from jsonschema_infer_spark.operators.infer_spark import fold_batches_columnar
    from jsonschema_infer_spark.operators.pipeline import _fused_task
    from jsonschema_infer_spark.operators.validate import (
        _integrity_fold,
        arrow_violation_counter,
    )

    config = default_config()
    pf = pq.ParquetFile(path)
    n_rg = pf.metadata.num_row_groups
    ranges = [(lo, min(lo + rg_per_task, n_rg)) for lo in range(0, n_rg, rg_per_task)]
    names = pf.schema_arrow.names
    keys = (names.index("conv_id"), names.index("turn_idx"))
    _, counter = arrow_violation_counter(spec, pf.schema_arrow)
    fold = _integrity_fold("conv_id", "turn_idx")
    spill = os.path.join(work_dir, "kernel_spill.parquet")

    def task(i, lo, hi):
        _fused_task(path, lo, hi, config, "conv_id", "turn_idx", work_dir, i,
                    None, spec)

    task(0, *ranges[0])
    t = dict.fromkeys(("decode", "observe", "integrity", "violations", "spill",
                       "task"), 0.0)
    rows = 0
    for lo, hi in ranges:
        t0 = time.perf_counter()
        batches = list(pf.iter_batches(batch_size=10_000,
                                       row_groups=list(range(lo, hi))))
        t1 = time.perf_counter()
        fold_batches_columnar(iter(batches), config, None)
        t2 = time.perf_counter()
        kept = []
        for b in batches:
            cols = []
            for j in keys:
                a = b.column(j)
                if pa.types.is_dictionary(a.type):
                    a = a.cast(a.type.value_type)
                cols.append(a)
            kept.append(pa.RecordBatch.from_arrays(cols, names=["conv_id", "turn_idx"]))
        out = list(fold(iter(kept)))
        t3 = time.perf_counter()
        for b in batches:
            counter(b)
        t4 = time.perf_counter()
        if out:
            pq.write_table(pa.Table.from_batches(out), spill)
        t5 = time.perf_counter()
        rows += sum(b.num_rows for b in batches)
        for k, a, b in (("decode", t0, t1), ("observe", t1, t2),
                        ("integrity", t2, t3), ("violations", t3, t4),
                        ("spill", t4, t5)):
            t[k] += b - a
    for i, (lo, hi) in enumerate(ranges):
        t0 = time.perf_counter()
        task(i, lo, hi)
        t["task"] += time.perf_counter() - t0
    for fn in os.listdir(work_dir):
        if fn.startswith("part-") or fn == "kernel_spill.parquet":
            os.remove(os.path.join(work_dir, fn))
    us = {k: v * 1e6 / rows for k, v in t.items()}
    return {
        "pipeline.decode_us_per_row": us["decode"],
        "infer_spark.observe_us_per_row": us["observe"],
        "validate.integrity_fold_us_per_row": us["integrity"],
        "validate.violation_count_us_per_row": us["violations"],
        "pipeline.spill_write_us_per_row": us["spill"],
        "pipeline.task_us_per_row": us["task"],
    }


# --- host probe (label only) -------------------------------------------------


def host_probe() -> dict:
    """Memory-bandwidth and CPU-burn probe: copy bandwidth (best of three
    copies of one buffer) and a fixed single-thread loop (best of two).
    Recorded next to a run as a label; it gates and excludes nothing."""
    import numpy as np

    a = np.zeros(64 * 1024 * 1024 // 8)
    best = 1e9
    for _ in range(3):
        t = time.perf_counter()
        b = a.copy()
        best = min(best, time.perf_counter() - t)
        del b
    burn = 1e9
    for _ in range(2):
        t = time.perf_counter()
        s = 0
        for i in range(2_000_000):
            s += i % 7
        burn = min(burn, time.perf_counter() - t)
    return {"mem_gbps": round(64 / 1024.0 / best, 2), "burn_s": round(burn, 3)}
