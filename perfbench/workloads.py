"""The four benchmark workloads: one closed-loop rep each, and its oracle check.

A rep drives the library only through ``operators.pipeline``,
``operators.validate``, ``operators.report`` and ``checkpoint``, and returns
its wall seconds (call to complete result) plus the result fields the
oracle checks. Housekeeping (deleting sink and checkpoint directories) runs
after the clock stops.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time

from jsonschema_infer_spark import checkpoint as C
from jsonschema_infer_spark.operators import pipeline as P
from jsonschema_infer_spark.operators import report as R
from jsonschema_infer_spark.operators import validate as V
from jsonschema_infer_spark.config import default_config
from jsonschema_infer_spark.operators import state as S
from jsonschema_infer_spark.operators.infer_spark import InferResult, infer_dataframe
from jsonschema_infer_spark.plans.render import render_schema


class Ctx:
    """What a rep needs: the session, its inputs and the run's scratch dir."""

    def __init__(self, spark, tables: dict, work: str, tracer):
        self.spark = spark
        self.tables = tables
        self.work = work
        self.tracer = tracer
        self.reference = None
        self._n = 0

    def fresh_dir(self, tag: str) -> str:
        self._n += 1
        return os.path.join(self.work, f"{tag}-{self._n}")


def _sha(schema_json: str) -> str:
    return hashlib.sha256(schema_json.encode()).hexdigest()


def _du(path: str) -> tuple:
    """(bytes, files) under ``path``."""
    size = files = 0
    for d, _, fs in os.walk(path):
        for f in fs:
            size += os.path.getsize(os.path.join(d, f))
            files += 1
    return size, files


# --- fused pipeline (fused_clustered, fused_arrival) -------------------------


def fused_rep(ctx: Ctx, layout: str) -> dict:
    """The headline flow: predict the constraint spec from row group 0, run
    the fused scan with the integrity reduce in the background, confirm the
    spec (fall back to a validation scan on a miss), join the integrity
    future and the prewarm."""
    spark, tr, path = ctx.spark, ctx.tracer, ctx.tables[layout]
    spill = ctx.fresh_dir("spill")
    t0 = time.perf_counter()
    df = spark.read.parquet(path)
    with tr.span("pipeline.predict"):
        pred = P.predict_constraint_spec(path)
    pw = P.ValidationPrewarm(spark, path, spec=pred)
    with tr.span("pipeline.fused_scan"):
        res, fut, vcounts = P.infer_and_integrity_parquet(
            spark, path, integrity="background", violation_spec=pred,
            spill_dir=spill,
        )
    with tr.span("validate.compile"):
        real = V.constraint_spec(
            res.schema, state=res.state, temporal_cols=V.temporal_columns(df)
        )
        hit = frozenset(real) == frozenset(pred)
    if hit:
        counts = vcounts
    else:
        with tr.span("validate.miss_scan"):
            cons = pw.constraints_for(res.schema, res.state, df)
            with V.validation_scan(spark, path) as vdf:
                counts = {
                    r.constraint: int(r.violation_count)
                    for r in V.violation_counts(vdf, cons).collect()
                }
    with tr.span("validate.integrity_wait"):
        integ = fut.result()
    if hit:
        # closed loop: the prewarm thread's Spark job ends inside the rep
        with tr.span("pipeline.prewarm_join"):
            pw.constraints_for(res.schema, res.state, df)
    if tr.enabled:
        spill_bytes, spill_files = _du(spill)
    shutil.rmtree(spill, ignore_errors=True)
    secs = time.perf_counter() - t0
    if tr.enabled:
        w = getattr(fut, "watcher", None)
        tr.count("tasks", len(res.partitions))
        tr.count("spec_hit", int(hit))
        tr.count("prewarm_error", int(pw.error is not None))
        tr.count("watcher_abort", int(w is not None and w._aborted))
        tr.count("spill_bytes", spill_bytes)
        tr.count("spill_files", spill_files)
    return {
        "secs": secs,
        "rows": res.total_rows,
        "schema_sha": _sha(res.schema_json),
        "integrity": integ,
        "violations": counts,
        "spec_hit": hit,
    }


def check_fused(out: dict, oracle: dict, classic: dict) -> list:
    errs = []
    if out["rows"] != oracle["rows"]:
        errs.append(f"rows {out['rows']} != {oracle['rows']}")
    if out["schema_sha"] != classic["schema_sha"]:
        errs.append("schema differs from the classic inference pass")
    if out["integrity"] != oracle["integrity"]:
        errs.append(f"integrity {out['integrity']} != {oracle['integrity']}")
    if out["violations"] != classic["violations"]:
        errs.append(f"violations {out['violations']} != {classic['violations']}")
    return errs


# --- report_reference --------------------------------------------------------


def load_reference(path: str) -> InferResult:
    """The clean snapshot's InferResult, from the state gen.py folded."""
    with open(path) as f:
        d = json.load(f)
    config = default_config()
    state = S.state_from_jsonable(d["state"])
    schema = S.finalize(state, config)
    return InferResult(state=state, config=config, schema=schema,
                       schema_json=render_schema(schema, config.indent),
                       total_rows=d["rows"])


def reference_infer(ctx: Ctx) -> tuple:
    """Infer the clean snapshot through Spark, as a user without a cached
    reference would; returns (seconds, whether it equals the reference)."""
    t0 = time.perf_counter()
    res = infer_dataframe(ctx.spark.read.parquet(ctx.tables["clean"]))
    secs = time.perf_counter() - t0
    return secs, res.schema_json == ctx.reference.schema_json


def report_rep(ctx: Ctx) -> dict:
    out_dir = ctx.fresh_dir("report")
    t0 = time.perf_counter()
    df = ctx.spark.read.parquet(ctx.tables["clustered"])
    with ctx.tracer.span("report.run"):
        m = R.run_validation_report(df, out_dir, reference=ctx.reference)
    secs = time.perf_counter() - t0
    import pyarrow.parquet as pq

    vdir = os.path.join(out_dir, "violations.parquet")
    written = sum(
        pq.ParquetFile(os.path.join(vdir, f)).metadata.num_rows
        for f in os.listdir(vdir)
        if f.endswith(".parquet")
    )
    if ctx.tracer.enabled:
        ctx.tracer.count("sink_bytes", _du(out_dir)[0])
        ctx.tracer.count("violation_rows_written", written)
    shutil.rmtree(out_dir, ignore_errors=True)
    return {
        "secs": secs,
        "rows": m["rows"],
        "constraints": m["constraints"],
        "integrity": m["integrity"],
        "violation_rows_written": written,
    }


def check_report(out: dict, oracle: dict, classic: dict) -> list:
    errs = []
    if out["rows"] != oracle["rows"]:
        errs.append(f"rows {out['rows']} != {oracle['rows']}")
    want = oracle["report_constraints"]
    got = out["constraints"]
    for name in set(want) | set(got):
        if got.get(name) != want.get(name, 0):
            errs.append(f"{name}: {got.get(name)} != {want.get(name, 0)}")
    if out["integrity"] != oracle["integrity"]:
        errs.append(f"integrity {out['integrity']} != {oracle['integrity']}")
    if out["violation_rows_written"] != oracle["report_violating_rows"]:
        errs.append(
            f"violating rows {out['violation_rows_written']} != "
            f"{oracle['report_violating_rows']}"
        )
    return errs


# --- checkpoint_resume -------------------------------------------------------


def checkpoint_rep(ctx: Ctx) -> dict:
    """A checkpointed fused run into a fresh directory, a simulated crash that
    loses the completion marker of every other task (their integrity
    partials stay, as after a crash between partial write and marker), and
    the resume that reruns exactly those tasks."""
    spark, tr, path = ctx.spark, ctx.tracer, ctx.tables["clustered"]
    ckpt = ctx.fresh_dir("ckpt")
    t0 = time.perf_counter()
    with tr.span("checkpoint.run"):
        first, integ0, man0 = C.fused_with_checkpoint(spark, path, ckpt)
    t1 = time.perf_counter()
    states = os.path.join(ckpt, C.STATES)
    markers = sorted(f for f in os.listdir(states) if f.endswith(".json"))
    lost = markers[1::2]
    for f in lost:
        os.remove(os.path.join(states, f))
    t2 = time.perf_counter()
    with tr.span("checkpoint.resume"):
        res, integ, man = C.fused_with_checkpoint(spark, path, ckpt)
    t3 = time.perf_counter()
    if tr.enabled:
        tr.count("tasks", man["num_tasks"])
        tr.count("state_bytes", _du(states)[0])
        tr.count("tasks_rerun", len(lost) / max(man["num_tasks"], 1))
        tr.count("resume_s", t3 - t2)
    shutil.rmtree(ckpt, ignore_errors=True)
    return {
        "secs": (t1 - t0) + (t3 - t2),
        "rows": res.total_rows,
        "schema_sha": _sha(res.schema_json),
        "integrity": integ,
        "first_integrity": integ0,
        "first_schema_sha": _sha(first.schema_json),
        "complete": man0["complete"] and man["complete"],
        "lost": len(lost),
    }


def check_checkpoint(out: dict, oracle: dict, classic: dict) -> list:
    errs = []
    if not out["complete"]:
        errs.append("checkpoint manifest incomplete")
    if out["lost"] == 0:
        errs.append("the simulated crash removed no completion marker")
    if out["rows"] != oracle["rows"]:
        errs.append(f"rows {out['rows']} != {oracle['rows']}")
    for key in ("schema_sha", "first_schema_sha"):
        if out[key] != classic["schema_sha"]:
            errs.append(f"{key} differs from the classic inference pass")
    for key in ("integrity", "first_integrity"):
        if out[key] != oracle["integrity"]:
            errs.append(f"{key} {out[key]} != {oracle['integrity']}")
    return errs


# --- classic oracle ----------------------------------------------------------


def classic_oracle(spark, path: str) -> dict:
    """Schema SHA and violation counts from the classic, unfused path:
    ``infer_dataframe`` over Spark's own parquet reader, then the
    validation scan with freshly compiled constraints."""
    df = spark.read.parquet(path)
    res = infer_dataframe(df)
    spec = V.constraint_spec(
        res.schema, state=res.state, temporal_cols=V.temporal_columns(df)
    )
    cons = V.build_constraints(spec)
    with V.validation_scan(spark, path) as vdf:
        counts = {
            r.constraint: int(r.violation_count)
            for r in V.violation_counts(vdf, cons).collect()
        }
    return {
        "schema_sha": _sha(res.schema_json),
        "rows": res.total_rows,
        "violations": counts,
    }


# name -> (tables it needs, the first being the one its reps read; rep;
# check; whether the check needs the classic oracle, which reads "clustered")
WORKLOADS = {
    "fused_clustered": (("clustered",), lambda c: fused_rep(c, "clustered"),
                        check_fused, True),
    "fused_arrival": (("arrival", "clustered"),
                      lambda c: fused_rep(c, "arrival"), check_fused, True),
    "report_reference": (("clustered", "clean"), report_rep, check_report,
                         False),
    "checkpoint_resume": (("clustered",), checkpoint_rep, check_checkpoint,
                          True),
}
