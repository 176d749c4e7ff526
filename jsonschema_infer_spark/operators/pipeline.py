"""One-pass transcript pipeline: schema inference + integrity partials off
a SINGLE native parquet scan.

The north_rule pipeline is infer -> compile -> validate. Composed from the
standalone operators it scans the table twice before validation: once for
the inference fold (`infer_spark.infer_dataframe`) and once for the
integrity fold (`validate.transcript_integrity_summary`). Both folds are
per-partition pre-aggregations over the same rows — the classic
multi-aggregate fusion a 100 TB job cannot afford to skip, since the second
scan is the same IO (and on a single disk, the same wall-clock) all over
again.

Here each (file, row-group-range) task iterates its Arrow batches ONCE:

    pyarrow row-group scan (memory-mapped, no Spark row pipeline)
      -> vectorized inference fold (observe every column)   \\ same batch
      -> per-conversation integrity pre-aggregation          / stream
      -> (optional) violation counts for a predicted spec   /

and returns everything it produced as one task result: the inference
state, the row count, the violation-count vector and the integrity partial
as Arrow IPC bytes. One associative combine (merge states, add rows, add
vectors, concatenate partials) reduces the results, by collect or by
treeReduce for many tasks, and the driver merges the partials with
`validate._merge_partials_local`. Nothing touches a shared filesystem, so
the path is correct on any cluster manager. The partials' volume is
bounded by ``spark.driver.maxResultSize`` (Spark fails the job loudly
beyond it); past that bound use `validate.transcript_integrity_summary`,
whose reduce is a shuffle.

Results are identical to running `infer_dataframe` over Spark's parquet
reader and `transcript_integrity_summary` separately — the folds are the
same code; tests assert equality on clean, violated and shuffled tables.

`run` is the headline infer -> compile -> validate flow built on this
scan: it predicts the constraint spec, counts violations against it in the
same pass, and falls back to a validation scan when the prediction misses.

The scan reads the data files with pyarrow, so it sees only the columns
stored in them. A hive-partitioned table (``key=value`` directories) keeps
a column in its directory names, which this scan cannot see; every entry
point here refuses such a table (`native_parquet_files`) rather than infer
a schema without that column.

Reference anchor: the sequential equivalent is AddSample folding each
document once (`/root/reference/jsonschema.go:57-92`); validation is the
roadmap feature the reference never built (FEATURES.md:172-174), so its
natural distributed home is the same pass that already reads the rows.
"""

from __future__ import annotations

import functools
import math
import os
import time
from dataclasses import dataclass

import numpy as np
import pyarrow as pa

from ..config import InferConfig, default_config
from ..operators import state as S
from .infer_spark import (
    InferResult,
    _TREE_REDUCE_THRESHOLD,
    fold_batches_columnar,
    list_parquet_files,
)
from .validate import _integrity_fold, _ipc_ser, _merge_partial_blobs


def native_parquet_files(path: str) -> list:
    """`list_parquet_files` for the native (pyarrow) scan, which reads only
    the columns stored in the files. Raises ValueError when a data file
    sits under a ``key=value`` directory below ``path``: Spark's reader
    turns that directory level into a partition column, and a native scan
    would silently infer a schema without it."""
    files = list_parquet_files(path)
    if os.path.isdir(path):
        for f in files:
            rel = os.path.relpath(os.path.dirname(f), path)
            for part in rel.split(os.sep):
                key, eq, _ = part.partition("=")
                if eq and key:
                    raise ValueError(
                        f"{path} is hive-partitioned on column {key!r} "
                        f"({f}); the native parquet scan cannot see "
                        "partition columns. Use "
                        "infer_dataframe(spark.read.parquet(path)) and "
                        "transcript_integrity_summary instead"
                    )
    return files


def _list_rg_tasks(paths: list, rg_per_task: int) -> list:
    """(file, row_group_lo, row_group_hi) work units — the same split
    granularity a native parquet reader schedules."""
    import pyarrow.parquet as pq

    tasks = []
    for f in paths:
        n = pq.ParquetFile(f).metadata.num_row_groups
        for i in range(0, max(n, 1), rg_per_task):
            tasks.append((f, i, min(i + rg_per_task, n)))
    return tasks


def _partial_path(out_dir: str, i: int) -> str:
    """Where `_fused_task` writes task ``i``'s integrity partial when it is
    given an ``out_dir``."""
    return os.path.join(out_dir, f"part-{i:05d}.arrow")


def _fused_task(
    f: str,
    lo: int,
    hi: int,
    config: InferConfig,
    conv_col: str,
    idx_col: str,
    out_dir: str | None,
    i: int,
    order_cols: list | None = None,
    violation_spec: list | None = None,
) -> tuple:
    """One fused task: fold row-groups [lo, hi) of ``f`` through the
    inference observer while teeing (conv, turn) into the integrity
    pre-aggregation and, when ``violation_spec`` is given, into the arrow
    violation counter (validate.arrow_violation_counter), so a predicted
    constraint spec is validated in this one pass instead of a second
    whole-table scan.

    Returns ``(state, rows, violation_counts, [partial])``: the counts
    vector is empty without a spec, and ``partial`` is the per-conversation
    integrity partial as Arrow IPC bytes (``b""`` when the range holds no
    non-null keys), wrapped in a list so results combine by concatenation.
    With an ``out_dir`` the same bytes are also written to
    ``_partial_path(out_dir, i)`` (the checkpoint's durable copy; a task
    retry rewrites identical bytes)."""
    import pyarrow.parquet as pq

    from .validate import arrow_violation_counter

    integrity_fold = _integrity_fold(conv_col, idx_col)
    pf = pq.ParquetFile(f)
    counter = None
    vnames: list = []
    if violation_spec is not None:
        vnames, counter = arrow_violation_counter(violation_spec, pf.schema_arrow)
    vcounts = np.zeros(len(vnames), dtype=np.int64)
    batches = pf.iter_batches(batch_size=10_000, row_groups=list(range(lo, hi)))
    kept: list = []
    ns = pf.schema_arrow.names
    idxs = (ns.index(conv_col), ns.index(idx_col))

    def tee(bs):
        nonlocal vcounts
        for b in bs:
            cols = []
            for j in idxs:
                a = b.column(j)
                if pa.types.is_dictionary(a.type):
                    a = a.cast(a.type.value_type)
                cols.append(a)
            kept.append(
                pa.RecordBatch.from_arrays(cols, names=[conv_col, idx_col])
            )
            if counter is not None:
                vcounts = vcounts + counter(b)
            yield b

    st, rows = fold_batches_columnar(tee(batches), config, order_cols)
    out = list(integrity_fold(iter(kept)))
    partial = _ipc_ser(pa.Table.from_batches(out)) if out else b""
    if out_dir is not None:
        with open(_partial_path(out_dir, i), "wb") as fh:
            fh.write(partial)
    return st, rows, vcounts, [partial]


def _combine(a: tuple, b: tuple) -> tuple:
    """Associative combine of two `_fused_task` results."""
    return S.merge(a[0], b[0]), a[1] + b[1], a[2] + b[2], a[3] + b[3]


def infer_and_integrity_parquet(
    spark,
    path: str,
    config: InferConfig | None = None,
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
    rg_per_task: int = 4,
    order_cols: list | None = None,
    spill_dir: str | None = None,
    integrity: str = "eager",
    violation_spec: list | None = None,
) -> tuple:
    """Fused scan: returns ``(InferResult, integrity_dict)`` where the
    InferResult's schema equals ``infer_dataframe(spark.read.parquet(path),
    config, ...)`` and the dict equals ``transcript_integrity_summary`` over
    the same files — one data pass instead of two. A hive-partitioned
    ``path`` raises ValueError (`native_parquet_files`).

    ``violation_spec`` (a validate.constraint_spec plan, typically the
    prewarm's PREDICTION from row-group 0) adds row-violation counting to
    the same pass: the return grows a third element, a dict
    {constraint_name: violation_count} bit-equal to what
    validation_scan + violation_counts would produce for that spec —
    three whole-table reads collapsed into one. The counts are only
    MEANINGFUL if the spec matches the schema actually inferred; callers
    must compare the predicted spec against the real one
    (``constraint_spec(res.schema, state=res.state, ...)``) and fall back
    to the classic violations pass on a mismatch; `run` is that hit/miss
    flow.

    ``integrity="background"`` returns a ``Future`` in place of the dict:
    the driver merge of the returned partials — a cost that needs nothing
    from the caller — runs on a worker thread while the caller proceeds
    (typically compiling constraints, which only needs the InferResult).
    ``Future.result()`` yields the same dict as the eager form.

    ``spill_dir`` is accepted and ignored: partials travel with the task
    results. It remains only so existing callers keep working, and a
    benchmark-only change will drop it.

    ``max_samples`` is not supported here (a row budget caps inference but
    integrity must still see every row — the two folds would need
    different scans, defeating the fusion); use `infer_dataframe` and
    `transcript_integrity_summary` for that configuration."""
    if integrity not in ("eager", "background"):
        raise ValueError(f"integrity must be 'eager' or 'background', got {integrity!r}")
    config = config or default_config()
    if config.max_samples > 0:
        raise ValueError(
            "max_samples caps the inference scan but integrity must see "
            "every row; run infer_dataframe + transcript_integrity_summary "
            "separately for capped inference"
        )
    if config.examples and not order_cols:
        raise NotImplementedError(
            "examples capture needs a total order in distributed mode: pass "
            "order_cols=[...] (e.g. ['conv_id', 'turn_idx'])"
        )
    t0 = time.time()
    tasks = _list_rg_tasks(native_parquet_files(path), rg_per_task)

    vnames: list = []
    if violation_spec is not None:
        # validate support up front (raises UnsupportedArrowSpec on the
        # driver, not inside 200 tasks) and capture the constraint names
        import pyarrow.parquet as pq

        from .validate import arrow_violation_counter

        vnames, _ = arrow_violation_counter(
            violation_spec, pq.ParquetFile(tasks[0][0]).schema_arrow
        )

    def run(item):
        i, (f, lo, hi) = item
        return _fused_task(
            f, lo, hi, config, conv_col, idx_col, None, i, order_cols,
            violation_spec,
        )

    rdd = spark.sparkContext.parallelize(list(enumerate(tasks)), len(tasks)).map(run)
    if len(tasks) > _TREE_REDUCE_THRESHOLD:
        depth = max(2, int(math.ceil(math.log(max(len(tasks), 2), 64))))
        merged, total_rows, vtotals, partials = rdd.treeReduce(_combine, depth=depth)
    else:
        merged, total_rows, vtotals, partials = functools.reduce(
            _combine, rdd.collect()
        )

    res = InferResult.finalize(
        merged, config, total_rows, [(i, 0, 0.0) for i in range(len(tasks))], t0
    )
    if integrity == "background":
        from concurrent.futures import ThreadPoolExecutor

        pool = ThreadPoolExecutor(1)
        integ = pool.submit(_merge_partial_blobs, partials)
        pool.shutdown(wait=False)  # thread finishes; submit no more
    else:
        integ = _merge_partial_blobs(partials)
    if violation_spec is None:
        return res, integ
    return res, integ, dict(zip(vnames, (int(v) for v in vtotals)))


def predict_constraint_spec(
    path: str, config: InferConfig | None = None, enum_max: int = 16
) -> list:
    """Predict the constraint spec from row-group 0 of the first file —
    the SYNCHRONOUS half of the prewarm (pure pyarrow + Python, no Spark,
    ~0.3 s on a 128k-row group). The fused single-pass flow needs the
    prediction BEFORE launching the scan so the scan itself can count
    violations against it (infer_and_integrity_parquet's
    ``violation_spec``); pass the result to ValidationPrewarm(spec=...)
    so the background codegen warm doesn't refold the sample. A
    hive-partitioned ``path`` raises ValueError (`native_parquet_files`)."""
    import pyarrow.parquet as pq
    import pyarrow.types as pt

    from . import validate as V

    config = config or default_config()
    f = native_parquet_files(path)[0]
    pf = pq.ParquetFile(f)
    batches = pf.iter_batches(batch_size=10_000, row_groups=[0])
    st, _ = fold_batches_columnar(batches, config, None)
    schema = S.finalize(st, config)
    # mirror validate.temporal_columns exactly: Spark maps only
    # timestamp/date arrow types to Timestamp/Date columns. pt.is_temporal
    # also matches time32/time64/duration, which Spark reads as other
    # types — including them would make the predicted spec structurally
    # unequal on such tables and the prediction could never hit.
    temporal = {
        fld.name
        for fld in pf.schema_arrow
        if pt.is_timestamp(fld.type) or pt.is_date(fld.type)
    }
    return V.constraint_spec(
        schema, state=st, temporal_cols=temporal, enum_max=enum_max
    )


class ValidationPrewarm:
    """Move the violations pass's fixed driver costs OFF the critical path.

    The pipeline's validation stage pays two serial costs that do not
    shrink with cores: building the constraint Columns (~0.5 s of py4j
    round trips) and the first-execution whole-stage-codegen compile of
    the violation_counts plan (janino, ~0.5-1 s). Both depend only on the
    constraint SPEC — which a one-row-group sample predicts almost surely
    (enum value sets, required columns and formats stabilize within 128k
    rows) — so this helper, started JUST BEFORE the fused scan, runs on a
    driver thread while executors scan:

      1. take the spec predicted from row-group 0 (`predict_constraint_spec`);
      2. build the Column predicates (py4j, off-path);
      3. execute violation_counts against a ONE-ROW parquet twin of the
         table — same scan schema, same plan shape, so Spark's codegen
         cache is hot for the real run (generated source is identical:
         string literals land in the references array, not the source).

    After inference, ``constraints_for(schema, state, df)`` compares the
    REAL spec with the prediction: on a hit it returns the pre-built
    constraints (zero py4j, warm codegen); on a miss it builds fresh —
    correctness never depends on the prediction.

    On a real cluster this is free driver hardware; on the one-bus bench
    VM its footprint is ~0.3 s of driver CPU against a multi-second scan.

    A hive-partitioned ``path`` raises ValueError here, before the thread
    starts (`native_parquet_files`).
    """

    def __init__(self, spark, path: str, spec: list, enum_max: int = 16):
        import threading

        self._spark = spark
        self._file = native_parquet_files(path)[0]
        self._enum_max = enum_max
        self.spec = spec  # the prediction (predict_constraint_spec)
        self.constraints = None
        self.error = None
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self):
        import os
        import shutil
        import tempfile

        import pyarrow.parquet as pq

        from . import validate as V

        tmp = tempfile.mkdtemp(prefix="jis_prewarm_")
        try:
            pf = pq.ParquetFile(self._file)
            cons = V.build_constraints(self.spec)
            # one-row twin: same arrow schema -> same Spark scan schema ->
            # identical generated source for the agg plan
            one = pf.read_row_group(0).slice(0, 1)
            twin = os.path.join(tmp, "twin.parquet")
            pq.write_table(one, twin)
            with V.validation_scan(self._spark, twin) as vdf:
                V.violation_counts(vdf, cons).collect()
            self.constraints = cons
        except Exception as e:  # pragma: no cover - diagnostics only
            self.error = e
        finally:
            shutil.rmtree(tmp, ignore_errors=True)

    def constraints_for(self, schema: dict, state: dict, df) -> list:
        """Join the prewarm thread and return constraints for the REAL
        inference result: the pre-built list when the predicted spec
        matches, a fresh build otherwise."""
        from . import validate as V

        self._thread.join()
        if self.error is not None:
            # a persistently broken prewarm (bad path, pyarrow change)
            # would otherwise silently cost the full compile+codegen on
            # every run while looking like a working optimization
            import warnings

            warnings.warn(
                f"ValidationPrewarm failed ({self.error!r}); "
                "falling back to cold constraint build",
                RuntimeWarning,
                stacklevel=2,
            )
        real = V.constraint_spec(
            schema, state=state,
            temporal_cols=V.temporal_columns(df),
            enum_max=self._enum_max,
        )
        # order-insensitive: the distributed merge and the serial sample
        # fold iterate properties in different dict orders, but the same
        # SET of constraint entries is the same validation work (entries
        # are unique per (kind, column), so set equality is exact). The
        # prewarmed list keeps ITS order — that is the plan whose codegen
        # is already compiled.
        self.hit = (
            self.constraints is not None
            and self.error is None
            and frozenset(real) == frozenset(self.spec)
        )
        if self.hit:
            return self.constraints
        return V.build_constraints(real)


@dataclass
class PipelineResult:
    """What `run` returns. ``violations`` maps constraint name to violating
    rows under the spec of ``infer``'s schema. ``stage_secs`` splits the
    wall time: ``infer+integrity`` (prediction and fused scan),
    ``compile`` (the real spec and its comparison with the prediction),
    ``violations`` (the validation scan on a miss, ~0 on a hit),
    ``integrity_wait`` (what the background integrity merge still had
    left) and ``prewarm_join`` (the prewarm thread after a hit)."""

    infer: InferResult
    integrity: dict
    violations: dict
    spec_hit: bool
    prewarm_error: BaseException | None
    stage_secs: dict


def run(spark, path: str) -> PipelineResult:
    """The headline flow, infer -> compile -> validate, over the native
    parquet table at ``path``, keyed by ``conv_id``/``turn_idx`` under the
    default config:

    1. predict the constraint spec from row-group 0 and start a
       `ValidationPrewarm` on it;
    2. run the fused scan (`infer_and_integrity_parquet`) with the
       integrity merge in the background, counting violations against
       the prediction;
    3. compare the real spec with the prediction. On a hit the scan's
       counts are the answer; on a miss the prewarm's constraints (or a
       fresh build) run over `validate.validation_scan`;
    4. join the integrity future and, on a hit, the prewarm thread, so no
       Spark job or temp directory outlives the call.

    Tasks cover ``max(1, min(4, n_rg // (cores * 6)))`` row groups each,
    counted over every data file, so each core gets about six waves of
    tasks and the last wave cannot strand most of the cluster. A
    hive-partitioned or empty ``path`` raises ValueError."""
    import pyarrow.parquet as pq

    from . import validate as V

    n_rg = sum(
        pq.ParquetFile(f).metadata.num_row_groups
        for f in native_parquet_files(path)
    )
    cores = spark.sparkContext.defaultParallelism
    rg_per_task = max(1, min(4, n_rg // (cores * 6)))
    df = spark.read.parquet(path)

    t0 = time.time()
    pred = predict_constraint_spec(path)
    pw = ValidationPrewarm(spark, path, spec=pred)
    res, fut, vcounts = infer_and_integrity_parquet(
        spark, path, rg_per_task=rg_per_task, integrity="background",
        violation_spec=pred,
    )
    t1 = time.time()
    real = V.constraint_spec(
        res.schema, state=res.state, temporal_cols=V.temporal_columns(df)
    )
    hit = frozenset(real) == frozenset(pred)
    t2 = time.time()
    if hit:
        counts = vcounts
    else:
        cons = pw.constraints_for(res.schema, res.state, df)
        with V.validation_scan(spark, path) as vdf:
            counts = {
                r.constraint: int(r.violation_count)
                for r in V.violation_counts(vdf, cons).collect()
            }
    t3 = time.time()
    integ = fut.result()
    t4 = time.time()
    pw._thread.join()  # already joined by constraints_for on a miss
    t5 = time.time()
    return PipelineResult(
        infer=res,
        integrity=integ,
        violations=counts,
        spec_hit=hit,
        prewarm_error=pw.error,
        stage_secs={
            "infer+integrity": t1 - t0,
            "compile": t2 - t1,
            "violations": t3 - t2,
            "integrity_wait": t4 - t3,
            "prewarm_join": t5 - t4,
        },
    )
