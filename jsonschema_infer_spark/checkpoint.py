"""Checkpointed, resumable distributed inference (north_rule: "resumable
from a checkpointed partition manifest carrying per-partition lineage and
metrics").

Design: NO extra shuffle. The fold runs over the scan's own partitions
(deterministic for a fixed parquet file set + maxPartitionBytes); each task
writes its partial SchemaState to ``<dir>/states/state_<pid>.json``
atomically (tmp + rename, idempotent under task retry). A resumed run checks
for the state file BEFORE consuming its Arrow batches, so completed
partitions cost an open, not a scan. The driver merges whatever states exist
(the merge is associative — any subset is a valid partial result) and the
manifest records lineage: input files, partition count, config fingerprint,
per-partition row counts and timings. Each input file is recorded as
``[path, size, mtime_ns]``, and a resume whose files differ in any of the
three is refused: states folded from a file's old bytes must not be merged
with states folded from its new ones.

This improves on the reference's ``Load`` resume (jsonschema.go:178-209),
which reconstructs lossy synthetic counts from the OUTPUT schema; we
checkpoint the exact aggregation STATE, so resume is lossless (SURVEY.md
§2.1 #20). A reference-parity schema-JSON loader still exists in
plans/render.py.

The checkpointed FUSED pipeline (`fused_with_checkpoint`) keeps one more
file per task. ``<dir>/integrity/part-<i>.arrow`` holds the bytes of the
task's integrity partial, the same Arrow IPC bytes the direct pipeline
returns with the task result. The task writes it BEFORE its completion
marker ``states/state_<i>.json``, and the marker records its byte length.
The driver reads the partials of marked tasks only, keyed by the marker's
task id, and raises when a marked partial is missing or has another
length. An unmarked task's partial (a crash between the two writes) is
rewritten by the rerun. ``FUSED_STATE_VERSION`` is part of the fused
config fingerprint, so a directory in an older layout is refused instead
of resumed.

On a real cluster the checkpoint dir must be shared storage (HDFS/S3/...);
in this sandbox it is a local path, which on local[N] is equivalent.
"""

from __future__ import annotations

import hashlib
import json
import os
import time

import pyarrow as pa

from .config import InferConfig, default_config
from .operators import state as S
from .operators.infer_spark import (
    InferResult,
    check_fold_mode,
    fold_batches_columnar,
    fold_batches_json,
    merge_states,
)

MANIFEST = "manifest.json"
STATES = "states"
# 2: integrity partials are Arrow IPC files read by marker, with the
# partial's byte length recorded in the marker
FUSED_STATE_VERSION = 2


def config_fingerprint(
    config: InferConfig, mode: str, json_column, order_cols=None
) -> str:
    key = json.dumps(
        {
            "formats": list(config.format_names()),
            "predefined": dict(sorted(config.predefined.items())),
            "max_samples": config.max_samples,
            "version": config.schema_version,
            "examples": config.examples,
            "mode": mode,
            "json_column": json_column,
            "order_cols": list(order_cols) if order_cols else None,
        },
        sort_keys=True,
    )
    return hashlib.sha256(key.encode()).hexdigest()[:16]


def _state_path(ckpt: str, pid: int) -> str:
    return os.path.join(ckpt, STATES, f"state_{pid:06d}.json")


def _input_identity(paths) -> list:
    """``[path, size, mtime_ns]`` per input file, sorted: what a resume
    compares with the manifest. ``file:`` URIs (``DataFrame.inputFiles()``
    returns them) are reduced to local paths; other schemes raise
    ValueError, because their files cannot be checked here."""
    from urllib.parse import unquote, urlparse

    out = []
    for p in paths:
        u = urlparse(p)
        if u.scheme == "file":
            p = unquote(u.path)
        elif u.scheme:
            raise ValueError(
                f"checkpointed runs need local input files, got {p}"
            )
        st = os.stat(p)
        out.append([p, st.st_size, st.st_mtime_ns])
    return sorted(out)


def _check_manifest(mpath: str, fp: str, inputs: list) -> None:
    """Refuse to resume a checkpoint written for another config or for
    input files that have since changed."""
    if not os.path.exists(mpath):
        return
    with open(mpath) as f:
        prev = json.load(f)
    if prev["config_fingerprint"] != fp or prev["input_files"] != inputs:
        raise ValueError(
            "checkpoint manifest does not match this input/config; "
            "use a fresh checkpoint_dir"
        )


def _atomic_write(path: str, payload: str) -> None:
    tmp = f"{path}.tmp.{os.getpid()}"
    with open(tmp, "w") as f:
        f.write(payload)
    os.replace(tmp, path)  # idempotent under task retries


def _read_markers(states_dir: str) -> list:
    """Every completion marker in ``states_dir`` in name order, as its JSON
    record with ``state`` decoded. Only exact ``state_*.json`` names count:
    a writer killed between the tmp write and os.replace leaves
    ``state_*.json.tmp.<pid>`` behind, which must not be merged (double
    count) nor crash the resume (torn JSON)."""
    recs = []
    for fn in sorted(os.listdir(states_dir)):
        if not (fn.startswith("state_") and fn.endswith(".json")):
            continue
        with open(os.path.join(states_dir, fn)) as f:
            rec = json.load(f)
        rec["state"] = S.state_from_jsonable(rec["state"])
        recs.append(rec)
    return recs


def infer_with_checkpoint(
    df,
    checkpoint_dir: str,
    config: InferConfig | None = None,
    mode: str = "columnar",
    json_column: str | None = None,
    order_cols: list | None = None,
    _skip_partitions=None,  # test hook: simulate partitions that never finish
):
    """Run (or resume) a checkpointed inference. Returns (InferResult,
    manifest dict). ``manifest['complete']`` is False when some partitions
    have no state yet (e.g. a simulated failure) — rerunning with the same
    checkpoint_dir folds only the missing ones."""
    config = config or default_config()
    check_fold_mode(mode, json_column)
    if config.examples and not order_cols:
        raise NotImplementedError(
            "examples capture needs a total order: pass order_cols=[...]"
        )
    if config.max_samples > 0:
        df = df.limit(config.max_samples)

    os.makedirs(os.path.join(checkpoint_dir, STATES), exist_ok=True)
    fp = config_fingerprint(config, mode, json_column, order_cols)
    input_files = _input_identity(df.inputFiles())
    n_parts = df.rdd.getNumPartitions()

    mpath = os.path.join(checkpoint_dir, MANIFEST)
    _check_manifest(mpath, fp, input_files)

    skip = set(_skip_partitions or ())
    ckpt = checkpoint_dir

    def fold(batches):
        from pyspark import TaskContext

        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else 0
        path = _state_path(ckpt, pid)
        if os.path.exists(path):
            return  # resume: completed partition, skip without scanning
        if pid in skip:
            return  # test hook: pretend this partition never finished
        t0 = time.time()
        if mode == "json":
            st, rows = fold_batches_json(batches, config, json_column, order_cols)
        else:
            st, rows = fold_batches_columnar(batches, config, order_cols)
        _atomic_write(
            path,
            json.dumps(
                {
                    "pid": pid,
                    "rows": rows,
                    "secs": time.time() - t0,
                    "attempt": ctx.attemptNumber() if ctx is not None else 0,
                    "state": S.state_to_jsonable(st),
                }
            ),
        )
        yield pa.RecordBatch.from_pydict({"pid": pa.array([pid], pa.int64())})

    t0 = time.time()
    folded_now = [
        r.pid for r in df.mapInArrow(fold, "pid long").collect()
    ]

    recs = _read_markers(os.path.join(ckpt, STATES))
    partitions = [(r["pid"], r["rows"], r["secs"]) for r in recs]
    result = InferResult.finalize(
        merge_states([r["state"] for r in recs]), config,
        sum(p[1] for p in partitions), partitions, t0,
    )

    manifest = {
        "config_fingerprint": fp,
        "mode": mode,
        "json_column": json_column,
        "input_files": input_files,
        "num_partitions": n_parts,
        "completed_partitions": sorted(p[0] for p in partitions),
        "folded_this_run": sorted(folded_now),
        "complete": len(partitions) >= n_parts,
        "total_rows": result.total_rows,
        "per_partition": [
            {"pid": p, "rows": r, "secs": round(s, 4)} for p, r, s in partitions
        ],
        "schema_sha256": hashlib.sha256(result.schema_json.encode()).hexdigest(),
    }
    _atomic_write(mpath, json.dumps(manifest, indent=2))
    return result, manifest


def _read_partial(integ_dir: str, rec: dict) -> bytes:
    """The integrity partial a completion marker vouches for; raises when
    it is missing or its length differs from the one the marker records."""
    from .operators.pipeline import _partial_path

    p = _partial_path(integ_dir, rec["pid"])
    try:
        with open(p, "rb") as fh:
            data = fh.read()
    except FileNotFoundError:
        data = None
    want = rec.get("partial_bytes")
    if data is None or len(data) != want:
        got = "missing" if data is None else f"{len(data)} bytes"
        raise ValueError(
            f"integrity partial {p} is {got}, but its completion marker "
            f"records {want} bytes; use a fresh checkpoint_dir"
        )
    return data


def fused_with_checkpoint(
    spark,
    path: str,
    checkpoint_dir: str,
    config: InferConfig | None = None,
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
    rg_per_task: int = 4,
    _skip_tasks=None,  # test hook: simulate tasks that never finish
):
    """Checkpointed, resumable form of the FUSED benchmark pipeline
    (``operators.pipeline.infer_and_integrity_parquet``): each (file,
    row-group-range) task writes its integrity partial and then — last,
    as the completion marker — its inference state JSON with lineage
    (file, row-group range, rows, seconds, attempt, partial length). A
    resumed run skips tasks whose marker exists WITHOUT re-reading their
    bytes; the driver merges the states and the partials of the marked
    tasks, so a partial manifest is still a valid partial result
    (associative merges on both sides).

    Returns (InferResult | None, integrity dict | None, manifest) —
    the results are None only when no task has completed yet. A
    hive-partitioned ``path`` raises ValueError, as in the direct
    pipeline."""
    from .operators.pipeline import (
        _fused_task,
        _list_rg_tasks,
        native_parquet_files,
    )
    from .operators.validate import _merge_partial_blobs

    config = config or default_config()
    if config.max_samples > 0:
        raise ValueError(
            "max_samples is unsupported on the fused path (integrity must "
            "see every row); see infer_and_integrity_parquet"
        )
    if config.examples:
        raise NotImplementedError(
            "examples capture is not wired into the checkpointed fused "
            "path; use infer_with_checkpoint(order_cols=...) or the "
            "direct pipeline"
        )
    files = native_parquet_files(path)
    tasks = _list_rg_tasks(files, rg_per_task)
    input_files = _input_identity(files)
    fp = config_fingerprint(
        config,
        f"fused:v{FUSED_STATE_VERSION}:{conv_col}:{idx_col}:{rg_per_task}",
        None,
    )

    states_dir = os.path.join(checkpoint_dir, STATES)
    integ_dir = os.path.join(checkpoint_dir, "integrity")
    os.makedirs(states_dir, exist_ok=True)
    os.makedirs(integ_dir, exist_ok=True)

    mpath = os.path.join(checkpoint_dir, MANIFEST)
    _check_manifest(mpath, fp, input_files)

    skip = set(_skip_tasks or ())
    ckpt = checkpoint_dir

    def run(item):
        from pyspark import TaskContext

        i, (f, lo, hi) = item
        spath = _state_path(ckpt, i)
        if os.path.exists(spath) or i in skip:
            return None
        t0 = time.time()
        st, rows, _, (partial,) = _fused_task(
            f, lo, hi, config, conv_col, idx_col, integ_dir, i
        )
        ctx = TaskContext.get()
        _atomic_write(
            spath,
            json.dumps(
                {
                    "pid": i,
                    "file": f,
                    "row_groups": [lo, hi],
                    "rows": rows,
                    "secs": time.time() - t0,
                    "attempt": ctx.attemptNumber() if ctx is not None else 0,
                    "partial_bytes": len(partial),
                    "state": S.state_to_jsonable(st),
                }
            ),
        )
        return i

    t0 = time.time()
    spark.sparkContext.parallelize(
        list(enumerate(tasks)), len(tasks)
    ).map(run).collect()

    recs = _read_markers(states_dir)
    partials = [_read_partial(integ_dir, r) for r in recs]
    partitions = [(r["pid"], r["rows"], r["secs"]) for r in recs]
    lineage = [
        {
            "pid": r["pid"],
            "file": r["file"],
            "row_groups": r["row_groups"],
            "rows": r["rows"],
            "secs": round(r["secs"], 4),
            "attempt": r.get("attempt", 0),
        }
        for r in recs
    ]

    result = integ = None
    if recs:
        result = InferResult.finalize(
            merge_states([r["state"] for r in recs]), config,
            sum(p[1] for p in partitions), partitions, t0,
        )
        integ = _merge_partial_blobs(partials)

    manifest = {
        "config_fingerprint": fp,
        "mode": "fused",
        "input_files": input_files,
        "num_tasks": len(tasks),
        "completed_tasks": sorted(p[0] for p in partitions),
        "complete": len(partitions) >= len(tasks),
        "total_rows": result.total_rows if result else 0,
        "per_task": lineage,
        "integrity": integ,
        "schema_sha256": (
            hashlib.sha256(result.schema_json.encode()).hexdigest()
            if result
            else None
        ),
    }
    _atomic_write(mpath, json.dumps(manifest, indent=2))
    return result, integ, manifest
