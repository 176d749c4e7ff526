"""Transcript-validation benchmark.

    python3 perfbench/run.py --workload fused_clustered --seed 42 --seconds 4 --trace 0
    python3 perfbench/run.py --smoke

Run from the repository root. Workloads, metrics and bounds are declared in
BENCHMARK.json. One client drives the library in a closed loop: one job
outstanding, the next starts when the previous returns. Spark runs at
local[2] on a 4-vCPU host, leaving cores for the driver-side threads the
pipeline overlaps with its scan.

A run: generate (or reuse) the seed's tables in a separate process; start
the session SETUP_SAMPLES times (setup_s is the median); time the first rep
of the fresh session (cold_wall_s); warm up, untimed, until consecutive reps agree;
then time reps for --seconds (turns_per_s is their median; peak_rss_mb the
process-tree peak meanwhile). With --trace 1 the session is restarted with
a Spark event log, reps are timed again with spans around every layer call,
and the single-threaded per-row kernel split runs over the same row groups.
Every rep's result is checked against an oracle that does not use the
engine's fused path. The last stdout line is the JSON result; a run record
with quartiles, sample counts, Spark settings and host probes goes to
stderr and to perfbench/.run/.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

N_CONVS = 30_000
SMOKE_CONVS = 2_000
SLOTS = 2
SPARK_CONF = {
    "spark.driver.memory": "1g",
    "spark.sql.shuffle.partitions": "8",
    "spark.ui.enabled": "false",
    "spark.ui.showConsoleProgress": "false",
}
# The whole heap is committed and touched at JVM start, so peak RSS does not
# depend on when the collector chose to grow the heap.
JVM_OPTS = "-Xms1g -XX:+AlwaysPreTouch"
SETUP_SAMPLES = 3
WARMUP_MAX_REPS = 8
WARMUP_MAX_S = 6.0
STEADY = 0.10  # warm-up ends when a rep is within 10% of the one before
MIN_TIMED_REPS = 3
MAX_FAILED = 3
DEADLINE_S = 150.0  # stop starting reps past this; the run must end < 180 s
CACHE_SEEDS = 16  # generated seeds kept on disk per checkout


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def ensure_tables(seed: int, n_convs: int, layouts: list) -> tuple:
    """Paths of the seed's tables (and, with the clean snapshot, its cached
    reference state) and its oracle; gen.py makes the missing ones in a
    separate process."""
    import gen

    out = os.path.join(HERE, ".data")
    opath = gen.oracle_path(out, seed, n_convs)
    tables = {k: gen.table_path(out, seed, n_convs, k) for k in layouts}
    if "clean" in layouts:
        tables["reference"] = gen.reference_path(out, seed, n_convs)
    if not all(os.path.exists(p) for p in [opath, *tables.values()]):
        t0 = time.perf_counter()
        subprocess.run(
            [sys.executable, os.path.join(HERE, "gen.py"), "--seed", str(seed),
             "--n-convs", str(n_convs), "--out", out,
             "--layouts", ",".join(layouts)],
            check=True, env=dict(os.environ, PYTHONPATH=ROOT),
            stdout=subprocess.DEVNULL,
        )
        log(f"generated seed {seed} in {time.perf_counter() - t0:.1f} s")
        _evict(out, keep=gen.cache_key(seed, n_convs))
    with open(opath) as f:
        oracle = json.load(f)
    return tables, oracle


def _evict(out: str, keep: str) -> None:
    """Keep the CACHE_SEEDS most recently generated seeds."""
    oracles = sorted(
        (f for f in os.listdir(out) if f.endswith("_oracle.json")),
        key=lambda f: os.path.getmtime(os.path.join(out, f)),
    )
    for f in oracles[:-CACHE_SEEDS]:
        key = f[: -len("_oracle.json")]
        if key != keep:
            for g in os.listdir(out):
                if g.startswith(key + "_"):
                    os.remove(os.path.join(out, g))


def classic_for(spark, tables: dict, seed: int, n_convs: int) -> dict:
    """Cached classic-path oracle for the seed's violated table."""
    import gen

    path = os.path.join(HERE, ".data",
                        f"{gen.cache_key(seed, n_convs)}_classic.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    from workloads import classic_oracle

    out = classic_oracle(spark, tables["clustered"])
    with open(f"{path}.tmp-{os.getpid()}", "w") as f:
        json.dump(out, f)
    os.replace(f"{path}.tmp-{os.getpid()}", path)
    return out


def start_session(work: str, event_log: str | None = None):
    """Build a local[SLOTS] session and run one trivial job (ready)."""
    from pyspark.sql import SparkSession

    b = SparkSession.builder.master(f"local[{SLOTS}]").appName("perfbench")
    for k, v in SPARK_CONF.items():
        b = b.config(k, v)
    b = (
        b.config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.driver.extraJavaOptions", JVM_OPTS + " -Djava.io.tmpdir="
                + os.path.join(work, "tmp"))
    )
    if event_log:
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.rolling.enabled", "false")
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.dir", event_log))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    return spark


def quartiles(xs: list) -> list:
    if len(xs) < 2:
        return [xs[0]] * 3
    q = statistics.quantiles(xs, n=4)
    return [q[0], statistics.median(xs), q[2]]


class Runner:
    """Runs reps of one workload, checks each against the oracle, and counts
    attempts and failures."""

    def __init__(self, ctx, rep, check, t_start: float):
        self.ctx, self.rep, self.check = ctx, rep, check
        self.outcomes: list = []
        self.attempted = self.failed = 0
        self.errors: list = []
        self.t_start = t_start

    def past_deadline(self) -> bool:
        return time.perf_counter() - self.t_start > DEADLINE_S

    def fail(self, msg: str) -> None:
        self.failed += 1
        self.errors.append(msg[:500])

    def once(self, rep_id: str) -> float | None:
        """One rep; its seconds, or None if it raised."""
        self.attempted += 1
        self.ctx.tracer.rep = rep_id
        try:
            out = self.rep(self.ctx)
        except Exception as e:  # a failed rep is counted, not fatal
            self.fail(f"rep {rep_id}: {e!r}")
            if self.failed >= MAX_FAILED:
                raise
            return None
        self.outcomes.append((rep_id, out))
        return out["secs"]

    def verify(self, oracle: dict, classic: dict) -> None:
        for rep_id, out in self.outcomes:
            errs = self.check(out, oracle, classic)
            if errs:
                self.fail(f"rep {rep_id}: " + "; ".join(errs))

    def timed(self, seconds: float, prefix: str) -> tuple:
        """Reps for ``seconds`` (at least MIN_TIMED_REPS). Returns the ids,
        seconds and wall-clock windows (epoch ms) of the reps that returned."""
        ids, secs, windows = [], [], []
        t0 = time.perf_counter()
        i = 0
        while (time.perf_counter() - t0 < seconds or len(secs) < MIN_TIMED_REPS) \
                and not (self.past_deadline() and len(secs) >= MIN_TIMED_REPS):
            rep_id = f"{prefix}{i}"
            i += 1
            lo = time.time() * 1000
            s = self.once(rep_id)
            if s is not None:
                ids.append(rep_id)
                secs.append(s)
                windows.append((lo, time.time() * 1000))
        return ids, secs, windows

    def warm_up(self, prefix: str) -> list:
        """Untimed reps until one is within STEADY of the one before."""
        secs = []
        t0 = time.perf_counter()
        for i in range(WARMUP_MAX_REPS):
            s = self.once(f"{prefix}{i}")
            if s is not None:
                secs.append(s)
            if len(secs) >= 2 and abs(secs[-1] - secs[-2]) <= STEADY * secs[-2]:
                break
            if time.perf_counter() - t0 > WARMUP_MAX_S or self.past_deadline():
                break
        return secs


def layer_metrics(tracer, reps: list) -> dict:
    """Per-layer numbers from the traced reps' spans and counters; 0 where the
    workload does not reach the layer."""
    st = tracer.self_times(reps)
    c = tracer.counter_median
    hits = [tracer.counters.get(r, {}).get("spec_hit") for r in reps]
    hits = [h for h in hits if h is not None]
    return {
        "pipeline.predict_s": st.get("pipeline.predict", 0.0),
        "pipeline.fused_scan_s": st.get("pipeline.fused_scan", 0.0),
        "pipeline.tasks": c("tasks", reps),
        "pipeline.spec_hit_ratio": sum(hits) / len(hits) if hits else 0.0,
        "pipeline.prewarm_errors": c("prewarm_error", reps),
        "validate.compile_s": st.get("validate.compile", 0.0),
        "validate.miss_scan_s": st.get("validate.miss_scan", 0.0),
        "validate.integrity_wait_s": st.get("validate.integrity_wait", 0.0),
        "validate.watcher_aborts": c("watcher_abort", reps),
        "validate.spill_bytes": c("spill_bytes", reps),
        "validate.spill_files": c("spill_files", reps),
        "report.sink_bytes": c("sink_bytes", reps),
        "report.violation_rows_written": c("violation_rows_written", reps),
        "checkpoint.state_bytes": c("state_bytes", reps),
        "checkpoint.tasks_rerun": c("tasks_rerun", reps),
        "checkpoint.resume_s": c("resume_s", reps),
    }


def setup_env(work: str) -> None:
    """Keep Python workers, the JVM and the library's temp dirs inside the
    checkout, and let the workers import the library from it."""
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    import tempfile

    tempfile.tempdir = None


def traced_phase(runner, work: str, seconds: float, tables: dict,
                 layout: str, untraced_tps: float, rows: int) -> dict:
    """Restart the session with an event log, time traced reps, then derive
    the per-layer metrics from spans, counters, the event log and the
    single-threaded kernel split."""
    import inspect

    import measure as T
    from jsonschema_infer_spark.operators import pipeline as P
    from workloads import reference_infer

    ctx = runner.ctx
    ctx.spark.stop()
    elog = os.path.join(work, "eventlog")
    os.makedirs(elog)
    ctx.spark = start_session(work, event_log=elog)
    ctx.tracer = T.Tracer(True)
    runner.warm_up("trace-warm")  # the restart left cold Python workers
    reps, secs, windows = runner.timed(seconds, "trace")
    ref_s = 0.0
    if ctx.reference is not None:
        ref_s, same = reference_infer(ctx)
        if not same:
            runner.fail("Spark inference of the clean snapshot differs from "
                        "the cached reference")
    ctx.spark.stop()  # flushes the event log
    metrics = layer_metrics(ctx.tracer, reps)
    metrics.update(T.event_log_totals(elog, windows, SLOTS,
                                      os.path.getsize(tables[layout])))
    kdir = os.path.join(work, "kernel")
    os.makedirs(kdir)
    # the task ranges the reps' fused scans use (the library default)
    rg_per_task = inspect.signature(
        P.infer_and_integrity_parquet).parameters["rg_per_task"].default
    metrics.update(T.kernel_split(
        tables[layout], P.predict_constraint_spec(tables[layout]), kdir,
        rg_per_task))
    metrics["infer_spark.reference_infer_s"] = ref_s
    metrics["trace_overhead_ratio"] = (
        statistics.median([rows / s for s in secs]) / untraced_tps)
    ctx.tracer.dump(os.path.join(HERE, ".run",
                                 f"trace-{os.path.basename(work)}.json"))
    return metrics


def run(workload: str, seed: int, seconds: float, trace: bool,
        n_convs: int = N_CONVS) -> tuple:
    """One benchmark run; returns the result object and the run record."""
    t_start = time.perf_counter()

    import measure as T
    from workloads import WORKLOADS, Ctx, load_reference

    layouts, rep, check, needs_classic = WORKLOADS[workload]
    tables, oracle = ensure_tables(seed, n_convs, list(layouts))
    work = os.path.join(HERE, ".run", f"{workload}-s{seed}-{os.getpid()}")
    setup_env(work)
    rows = oracle["rows"]
    record = {"workload": workload, "seed": seed, "n_convs": n_convs,
              "rows": rows, "nproc": os.cpu_count(),
              "master": f"local[{SLOTS}]", "spark_conf": SPARK_CONF,
              "jvm_opts": JVM_OPTS, "probe_before": T.host_probe()}
    ctx = Ctx(None, tables, work, T.Tracer(False))
    if "reference" in tables:
        ctx.reference = load_reference(tables["reference"])
    runner = Runner(ctx, rep, check, t_start)
    try:
        setup = []
        for _ in range(SETUP_SAMPLES):
            if ctx.spark is not None:
                ctx.spark.stop()
            t0 = time.perf_counter()
            ctx.spark = start_session(work)
            setup.append(time.perf_counter() - t0)
        record["spark_version"] = ctx.spark.version
        cold = runner.once("cold")
        warm = runner.warm_up("warm")
        with T.RssSampler() as rss:
            _, secs, _ = runner.timed(seconds, "t")
        classic = (classic_for(ctx.spark, tables, seed, n_convs)
                   if needs_classic else {})
        tps = [rows / s for s in secs]
        record.update(setup_s=setup, cold_s=cold, warm_s=warm, timed_s=secs,
                      turns_per_s_q=quartiles(tps), timed_reps=len(secs))
        metrics = {
            "turns_per_s": statistics.median(tps),
            "cold_wall_s": cold if cold is not None else 0.0,
            "setup_s": statistics.median(setup),
            "peak_rss_mb": rss.peak_mb,
        }
        if trace:
            metrics = traced_phase(runner, work, seconds, tables, layouts[0],
                                   metrics["turns_per_s"], rows)
        runner.verify(oracle, classic)
    finally:
        if ctx.spark is not None:
            ctx.spark.stop()
        T.stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    record.update(probe_after=T.host_probe(),
                  run_wall_s=time.perf_counter() - t_start,
                  errors=runner.errors, attempted=runner.attempted,
                  failed=runner.failed)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if trace else "end_to_end"]
    units = {m["name"]: m["unit"] for m in declared}
    if set(units) != set(metrics):
        raise RuntimeError(f"metrics differ from BENCHMARK.json: "
                           f"{sorted(set(units) ^ set(metrics))}")
    result = {
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": float(v), "unit": units[k]}
                    for k, v in metrics.items()},
    }
    return result, record


def smoke() -> int:
    """Every workload once, traced, at a tiny size, through the oracle."""
    from workloads import WORKLOADS

    ok = True
    for name in WORKLOADS:
        result, record = run(name, seed=7, seconds=0.1, trace=True,
                             n_convs=SMOKE_CONVS)
        log(f"{name}: correct={result['correct']} errors={record['errors']}")
        ok = ok and result["correct"]
    return 0 if ok else 1


def main() -> int:
    ap = argparse.ArgumentParser(description="Transcript-validation benchmark")
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=4.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="run every workload once at a tiny size and exit")
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "jsonschema_infer_spark")):
        log(f"jsonschema_infer_spark not found under {ROOT}: run from a checkout")
        return 2
    sys.path.insert(0, ROOT)
    if args.smoke:
        return smoke()
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"--workload must be one of {sorted(WORKLOADS)}")
    result, record = run(args.workload, args.seed, args.seconds, bool(args.trace))
    os.makedirs(os.path.join(HERE, ".run"), exist_ok=True)
    with open(os.path.join(HERE, ".run", "records.jsonl"), "a") as f:
        f.write(json.dumps(record) + "\n")
    log(json.dumps(record))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
