"""Fused one-pass pipeline == the standalone operators, value-identical.

The fused scan (pipeline.infer_and_integrity_parquet) must return exactly
the schema of infer_dataframe over Spark's own parquet reader AND the
integrity dict of transcript_integrity_summary on the same files — the
folds are shared code, so any divergence is a wiring bug in the tee or a
difference between the native and the Spark reader."""

import json
import os

import pytest

from jsonschema_infer_spark.config import default_config
from jsonschema_infer_spark.operators import validate as V
from jsonschema_infer_spark.operators.infer_spark import infer_dataframe
from jsonschema_infer_spark.operators.pipeline import infer_and_integrity_parquet, run

ZERO = {"dup_rows_excess": 0, "ordering_violations": 0}


def _rg_copy(src_path: str, dst: str, n_rg: int, seed: int | None = None) -> str:
    """``src_path`` rewritten into ``n_rg`` row groups, its rows permuted
    by ``seed`` when one is given."""
    import numpy as np
    import pyarrow.parquet as pq

    t = pq.read_table(src_path)
    if seed is not None:
        t = t.take(np.random.default_rng(seed).permutation(t.num_rows))
    pq.write_table(t, dst, row_group_size=-(-t.num_rows // n_rg))
    assert pq.ParquetFile(dst).num_row_groups == n_rg
    return dst


@pytest.fixture(scope="module")
def tables(tx_paths, tmp_path_factory):
    """The clean and violated fixtures, plus the violated rows shuffled
    into 8 row groups, so that most conversations span tasks."""
    d = tmp_path_factory.mktemp("fused_tables")
    return {
        "clean": tx_paths["clean"],
        "viol": tx_paths["viol"],
        "shuffled": _rg_copy(tx_paths["viol"], str(d / "shuffled.parquet"), 8, seed=7),
    }


def _spark_infer(spark, path, **kw):
    """The reference schema: the mapInArrow fold over Spark's reader."""
    return infer_dataframe(spark.read.parquet(path), **kw)


def test_fused_matches_standalone_on_violated(spark, tx_paths):
    want_infer = _spark_infer(spark, tx_paths["viol"])
    want_integ = V.transcript_integrity_summary(spark.read.parquet(tx_paths["viol"]))
    res, integ = infer_and_integrity_parquet(
        spark, tx_paths["viol"], rg_per_task=1
    )
    assert res.schema_json == want_infer.schema_json
    assert res.total_rows == want_infer.total_rows
    assert integ == want_integ


def test_fused_matches_standalone_on_clean(spark, tx_paths):
    want_infer = _spark_infer(spark, tx_paths["clean"])
    res, integ = infer_and_integrity_parquet(
        spark, tx_paths["clean"], rg_per_task=2
    )
    assert res.schema_json == want_infer.schema_json
    assert res.total_rows == want_infer.total_rows
    assert integ == {"dup_rows_excess": 0, "ordering_violations": 0}


def test_fused_background_integrity_matches_eager(spark, tx_paths):
    """integrity='background' returns (res, Future); the resolved dict and
    the InferResult are value-identical to the eager form, and a bad mode
    is refused."""
    want_res, want_integ = infer_and_integrity_parquet(
        spark, tx_paths["viol"], rg_per_task=1
    )
    res, fut = infer_and_integrity_parquet(
        spark, tx_paths["viol"], rg_per_task=1, integrity="background"
    )
    assert res.schema_json == want_res.schema_json
    assert res.total_rows == want_res.total_rows
    assert fut.result(timeout=120) == want_integ
    with pytest.raises(ValueError):
        infer_and_integrity_parquet(
            spark, tx_paths["viol"], integrity="later"
        )


@pytest.mark.parametrize("branch", ["collect", "tree"])
@pytest.mark.parametrize("table", ["clean", "viol", "shuffled"])
def test_fused_integrity_equals_summary(spark, tables, table, branch, monkeypatch):
    """Fused integrity is bit-equal to transcript_integrity_summary, and
    the fused schema byte-equal to infer_dataframe over Spark's reader,
    through both result reduces, with and without in-scan violation
    counting; the shuffled table makes most conversations span tasks."""
    from jsonschema_infer_spark.operators import pipeline as P

    path = tables[table]
    if branch == "tree":
        monkeypatch.setattr(P, "_TREE_REDUCE_THRESHOLD", 0)
    want = V.transcript_integrity_summary(spark.read.parquet(path))
    assert (want == ZERO) == (table == "clean")
    res, integ = infer_and_integrity_parquet(spark, path, rg_per_task=1)
    pred = P.predict_constraint_spec(path)
    res2, integ2, vcounts = infer_and_integrity_parquet(
        spark, path, rg_per_task=1, violation_spec=pred
    )
    assert integ == integ2 == want
    ref = _spark_infer(spark, path)
    assert res.schema_json == res2.schema_json == ref.schema_json
    assert res.total_rows == res2.total_rows == ref.total_rows
    assert vcounts == _spark_truth(spark, path, pred)


def test_fused_distributed_reduce_matches(spark, tables, monkeypatch):
    """The treeReduce branch (many tasks) combines states, row counts,
    violation vectors and partials to the same result as the collect
    branch."""
    from jsonschema_infer_spark.operators import pipeline as P

    path = tables["shuffled"]
    pred = P.predict_constraint_spec(path)
    want = infer_and_integrity_parquet(
        spark, path, rg_per_task=1, violation_spec=pred
    )
    monkeypatch.setattr(P, "_TREE_REDUCE_THRESHOLD", 0)
    got = infer_and_integrity_parquet(
        spark, path, rg_per_task=1, violation_spec=pred
    )
    assert got[0].schema_json == want[0].schema_json
    assert got[0].total_rows == want[0].total_rows
    assert got[1:] == want[1:]


def test_fused_examples_capture_matches(spark, tx_paths):
    cfg = default_config(examples=True)
    want = _spark_infer(
        spark,
        tx_paths["viol"],
        config=cfg,
        num_partitions=3,
        order_cols=["conv_id", "turn_idx"],
    )
    res, _ = infer_and_integrity_parquet(
        spark,
        tx_paths["viol"],
        config=cfg,
        rg_per_task=1,
        order_cols=["conv_id", "turn_idx"],
    )
    assert res.schema_json == want.schema_json


def test_fused_rejects_max_samples(spark, tx_paths):
    with pytest.raises(ValueError):
        infer_and_integrity_parquet(
            spark, tx_paths["viol"], config=default_config(max_samples=10)
        )


def test_fused_checkpoint_resume_and_lineage(spark, tx_paths, tmp_path):
    from jsonschema_infer_spark.checkpoint import fused_with_checkpoint
    from jsonschema_infer_spark.operators.pipeline import (
        infer_and_integrity_parquet,
    )

    import pyarrow.parquet as pq

    # re-materialize with small row groups so there are MANY fused tasks
    src = pq.read_table(tx_paths["viol"])
    path = str(tmp_path / "viol_multi_rg.parquet")
    pq.write_table(src, path, row_group_size=max(src.num_rows // 6, 1))
    ckpt = str(tmp_path / "fused_ckpt")

    # first run: tasks 0 and 1 "never finish"
    res1, integ1, man1 = fused_with_checkpoint(
        spark, path, ckpt, rg_per_task=1, _skip_tasks=[0, 1]
    )
    assert not man1["complete"]
    assert 0 not in man1["completed_tasks"] and 1 not in man1["completed_tasks"]
    # a partial manifest is still a valid partial result
    assert res1 is not None and res1.total_rows < spark.read.parquet(path).count()

    # resume: only the missing tasks fold; manifest completes
    res2, integ2, man2 = fused_with_checkpoint(spark, path, ckpt, rg_per_task=1)
    assert man2["complete"]
    assert res2.total_rows == spark.read.parquet(path).count()
    # lineage carries (file, row-group range, rows, secs) per task
    assert all(
        rec["file"] and rec["rows"] > 0 and len(rec["row_groups"]) == 2
        for rec in man2["per_task"]
    )

    # equals the unchecked pipeline on both outputs
    res_d, integ_d = infer_and_integrity_parquet(spark, path, rg_per_task=1)
    assert res2.schema_json == res_d.schema_json
    assert integ2 == integ_d

    # config/input mismatch is refused
    with pytest.raises(ValueError):
        fused_with_checkpoint(spark, path, ckpt, rg_per_task=2)


def test_fused_checkpoint_ignores_orphan_tmp_files(spark, tx_paths, tmp_path):
    from jsonschema_infer_spark.checkpoint import fused_with_checkpoint

    path = tx_paths["viol"]
    ckpt = str(tmp_path / "tmpfile_ckpt")
    res1, integ1, man1 = fused_with_checkpoint(spark, path, ckpt, rg_per_task=1)
    # simulate a writer killed between tmp write and os.replace
    states = os.path.join(ckpt, "states")
    with open(os.path.join(states, "state_000000.json.tmp.999"), "w") as f:
        f.write('{"truncat')  # torn write
    res2, integ2, man2 = fused_with_checkpoint(spark, path, ckpt, rg_per_task=1)
    assert res2.total_rows == res1.total_rows  # no double-count, no crash
    assert integ2 == integ1


def test_infer_checkpoint_ignores_orphan_tmp_files(spark, tx_paths, tmp_path):
    """The same torn ``*.json.tmp.<pid>`` marker next to the states of the
    mapInArrow checkpoint is neither merged nor read."""
    from jsonschema_infer_spark.checkpoint import infer_with_checkpoint

    df = spark.read.parquet(tx_paths["viol"])
    ckpt = str(tmp_path / "tmpfile_ckpt")
    res1, man1 = infer_with_checkpoint(df, ckpt)
    with open(os.path.join(ckpt, "states", "state_000000.json.tmp.999"), "w") as f:
        f.write('{"truncat')
    res2, man2 = infer_with_checkpoint(df, ckpt)
    assert res2.total_rows == res1.total_rows
    assert res2.schema_json == res1.schema_json
    assert man2["completed_partitions"] == man1["completed_partitions"]


def test_fused_checkpoint_reads_partials_of_marked_tasks_only(
    spark, tx_paths, tmp_path
):
    """A task whose completion marker is lost, and which the resume does
    not rerun, contributes neither rows nor integrity: its partial is
    still on disk but must not be read."""
    from jsonschema_infer_spark.checkpoint import fused_with_checkpoint

    path = _rg_copy(tx_paths["viol"], str(tmp_path / "viol6.parquet"), 6)
    ckpt = str(tmp_path / "ckpt")
    _, _, man0 = fused_with_checkpoint(spark, path, ckpt, rg_per_task=1)
    assert man0["complete"]
    os.remove(os.path.join(ckpt, "states", "state_000002.json"))
    res, integ, man = fused_with_checkpoint(
        spark, path, ckpt, rg_per_task=1, _skip_tasks=[2]
    )
    fresh, fresh_integ, _ = fused_with_checkpoint(
        spark, path, str(tmp_path / "fresh"), rg_per_task=1, _skip_tasks=[2]
    )
    assert 2 not in man["completed_tasks"]
    assert res.total_rows == fresh.total_rows
    assert integ == fresh_integ


def test_fused_checkpoint_refuses_bad_partial_and_old_layout(
    spark, tx_paths, tmp_path
):
    """A marked task's partial that is torn or missing raises instead of
    merging short, and a directory whose fingerprint lacks the fused
    state-format version is refused."""
    from jsonschema_infer_spark import checkpoint as C

    path = _rg_copy(tx_paths["viol"], str(tmp_path / "viol6.parquet"), 6)
    ckpt = str(tmp_path / "ckpt")
    C.fused_with_checkpoint(spark, path, ckpt, rg_per_task=1)
    part = os.path.join(ckpt, "integrity", "part-00001.arrow")
    with open(part, "rb") as fh:
        data = fh.read()
    with open(part, "wb") as fh:
        fh.write(data[: len(data) // 2])
    with pytest.raises(ValueError, match="completion marker"):
        C.fused_with_checkpoint(spark, path, ckpt, rg_per_task=1)
    os.remove(part)
    with pytest.raises(ValueError, match="missing"):
        C.fused_with_checkpoint(spark, path, ckpt, rg_per_task=1)

    mpath = os.path.join(ckpt, C.MANIFEST)
    with open(mpath) as fh:
        man = json.load(fh)
    man["config_fingerprint"] = C.config_fingerprint(
        default_config(), "fused:conv_id:turn_idx:1", None
    )
    with open(mpath, "w") as fh:
        json.dump(man, fh)
    with pytest.raises(ValueError, match="does not match"):
        C.fused_with_checkpoint(spark, path, ckpt, rg_per_task=1)


def test_empty_input_directory_raises(spark, tmp_path):
    from jsonschema_infer_spark.checkpoint import fused_with_checkpoint
    from jsonschema_infer_spark.operators.pipeline import predict_constraint_spec

    empty = tmp_path / "empty"
    empty.mkdir()
    (empty / "_SUCCESS").write_text("")
    calls = (
        lambda: predict_constraint_spec(str(empty)),
        lambda: infer_and_integrity_parquet(spark, str(empty)),
        lambda: run(spark, str(empty)),
        lambda: fused_with_checkpoint(spark, str(empty), str(tmp_path / "ck")),
    )
    for call in calls:
        with pytest.raises(ValueError, match="no parquet data files"):
            call()


def write_small_transcript(path: str, turn_idx=None) -> str:
    """32 rows, 8 conversations of 4 turns, in 4 row groups of 8 rows;
    ``turn_idx`` replaces every turn index when given."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    convs = [f"c{i}" for i in range(8) for _ in range(4)]
    turns = [t for _ in range(8) for t in range(4)]
    if turn_idx is not None:
        turns = [turn_idx] * len(turns)
    t = pa.table(
        {
            "conv_id": convs,
            "turn_idx": pa.array(turns, type=pa.int64()),
            "text": [f"turn {i}" for i in range(32)],
        }
    )
    pq.write_table(t, path, row_group_size=8)
    return path


def test_fused_checkpoint_refuses_input_rewritten_in_place(
    spark, tmp_path
):
    """The manifest records each input file's size and mtime: a file
    rewritten in place between a partial run and its resume is refused,
    instead of merging states folded from the old bytes with the new."""
    from jsonschema_infer_spark.checkpoint import fused_with_checkpoint

    path = write_small_transcript(str(tmp_path / "t.parquet"))
    ckpt = str(tmp_path / "ckpt")
    _, integ, man = fused_with_checkpoint(
        spark, path, ckpt, rg_per_task=1, _skip_tasks=[1]
    )
    assert integ == ZERO and not man["complete"]
    write_small_transcript(path, turn_idx=0)
    with pytest.raises(ValueError, match="does not match"):
        fused_with_checkpoint(spark, path, ckpt, rg_per_task=1)
    _, fresh, _ = fused_with_checkpoint(
        spark, path, str(tmp_path / "fresh"), rg_per_task=1
    )
    assert fresh == {"dup_rows_excess": 24, "ordering_violations": 8}


def test_native_scan_refuses_hive_partitions(spark, tmp_path):
    """Spark's reader turns ``day=a/`` directories into a ``day`` column
    that the native scan cannot see: every native entry point raises and
    names the column, while the Spark-reader paths keep working."""
    from jsonschema_infer_spark.checkpoint import fused_with_checkpoint
    from jsonschema_infer_spark.operators.pipeline import (
        ValidationPrewarm,
        predict_constraint_spec,
    )

    root = tmp_path / "hive"
    for day in ("a", "b"):
        (root / f"day={day}").mkdir(parents=True)
        write_small_transcript(str(root / f"day={day}" / "part.parquet"))
    root = str(root)
    calls = (
        lambda: infer_and_integrity_parquet(spark, root),
        lambda: fused_with_checkpoint(spark, root, str(tmp_path / "ck")),
        lambda: predict_constraint_spec(root),
        lambda: ValidationPrewarm(spark, root, spec=[]),
        lambda: run(spark, root),
    )
    for call in calls:
        with pytest.raises(ValueError, match="partitioned on column 'day'"):
            call()

    want = _spark_infer(spark, root)
    assert sorted(want.schema["properties"]) == [
        "conv_id", "day", "text", "turn_idx",
    ]
    assert V.transcript_integrity_summary(spark.read.parquet(root)) == {
        "dup_rows_excess": 32, "ordering_violations": 8,
    }
    with V.validation_scan(spark, root) as vdf:
        assert "day" in vdf.columns


def test_validation_prewarm_hit_and_miss(spark, tx_paths):
    """ValidationPrewarm warms the spec predicted from row-group 0: on
    the fixture (one row group) the prediction is exact -> the
    pre-built, codegen-warmed constraints are returned verbatim; with a
    mismatched schema the fallback builds fresh. Both paths produce the
    same counts as compile_constraints."""
    from jsonschema_infer_spark.operators import validate as V
    from jsonschema_infer_spark.operators.pipeline import (
        ValidationPrewarm,
        infer_and_integrity_parquet,
        predict_constraint_spec,
    )

    path = tx_paths["viol"]
    df = spark.read.parquet(path)

    pw = ValidationPrewarm(spark, path, spec=predict_constraint_spec(path))
    res, _ = infer_and_integrity_parquet(spark, path)
    cons = pw.constraints_for(res.schema, res.state, df)
    assert pw.error is None
    assert pw.hit is True
    assert cons is pw.constraints  # the pre-built list, not a rebuild
    want = {
        (r.constraint, r.violation_count)
        for r in V.violation_counts(
            df, V.compile_constraints(res.schema, state=res.state, df=df)
        ).collect()
    }
    got = {
        (r.constraint, r.violation_count)
        for r in V.violation_counts(df, cons).collect()
    }
    assert got == want

    # miss: a schema whose spec can't match the sampled one
    pw2 = ValidationPrewarm(spark, path, spec=predict_constraint_spec(path))
    other = {
        "type": "object",
        "properties": {"conv_id": {"type": "string"}},
        "required": ["conv_id"],
    }
    cons2 = pw2.constraints_for(other, {"props": {}}, df)
    assert pw2.hit is False
    assert [c.name for c in cons2] == ["required:conv_id"]


def test_constraint_spec_build_equals_compile(spark, tx_paths):
    """constraint_spec + build_constraints is compile_constraints."""
    from jsonschema_infer_spark.operators import validate as V
    from jsonschema_infer_spark.operators.infer_spark import infer_dataframe

    viol = spark.read.parquet(tx_paths["viol"])
    res = infer_dataframe(viol, num_partitions=4)
    spec = V.constraint_spec(
        res.schema, state=res.state, temporal_cols=V.temporal_columns(viol)
    )
    built = V.build_constraints(spec)
    direct = V.compile_constraints(res.schema, state=res.state, df=viol)
    assert [(c.name, c.kind, c.column) for c in built] == [
        (c.name, c.kind, c.column) for c in direct
    ]
    a = {(r.constraint, r.violation_count)
         for r in V.violation_counts(viol, built).collect()}
    b = {(r.constraint, r.violation_count)
         for r in V.violation_counts(viol, direct).collect()}
    assert a == b


def _spark_truth(spark, path, spec):
    df = spark.read.parquet(path)
    cons = V.build_constraints(spec)
    return {
        r.constraint: r.violation_count
        for r in V.violation_counts(df, cons).collect()
    }


STAGES = {
    "infer+integrity", "compile", "violations", "integrity_wait", "prewarm_join",
}


def _assert_run_matches_operators(spark, path, r):
    """`run`'s schema, integrity and violation counts equal the standalone
    operators over Spark's reader: infer_dataframe, the shuffle integrity
    summary, and violation_counts under the inferred schema's spec."""
    df = spark.read.parquet(path)
    ref = infer_dataframe(df)
    assert r.infer.schema_json == ref.schema_json
    assert r.infer.total_rows == ref.total_rows
    assert r.integrity == V.transcript_integrity_summary(df)
    spec = V.constraint_spec(
        ref.schema, state=ref.state, temporal_cols=V.temporal_columns(df)
    )
    assert r.violations == _spark_truth(spark, path, spec)
    assert set(r.stage_secs) == STAGES
    assert all(v >= 0 for v in r.stage_secs.values())
    assert r.prewarm_error is None


@pytest.mark.parametrize(
    "table,hit", [("clean", True), ("viol", True), ("shuffled", False)]
)
def test_run_matches_operators(spark, tables, table, hit):
    """The one-row-group fixtures predict their own spec; row-group 0 of
    the shuffled copy holds no ``robot`` role and no null ``text``, so its
    prediction misses and the validation scan gives the counts."""
    r = run(spark, tables[table])
    assert r.spec_hit is hit
    _assert_run_matches_operators(spark, tables[table], r)


def test_run_spec_miss_on_two_files(spark, tx_paths, tmp_path):
    """Clean rows in the first file, violated rows in the second: row-group
    0 predicts ``required:role`` and the whole table has null roles, so the
    prediction misses and the validation scan gives the counts."""
    import shutil

    from jsonschema_infer_spark.operators.pipeline import predict_constraint_spec

    d = tmp_path / "two"
    d.mkdir()
    shutil.copy(tx_paths["clean"], d / "a_clean.parquet")
    shutil.copy(tx_paths["viol"], d / "b_viol.parquet")
    path = str(d)
    assert ("required", "role") in predict_constraint_spec(path)
    r = run(spark, path)
    assert r.spec_hit is False
    assert "required:role" not in r.violations
    _assert_run_matches_operators(spark, path, r)


def test_fused_violation_counts_match_spark(spark, tx_paths):
    """The arrow violation counter inside the fused scan must equal the
    Spark violations pass bit-for-bit — on the self-spec (all zeros by the
    structural invariant) AND on a cross-table spec that genuinely flags
    rows (clean-table spec applied to the violated table)."""
    from jsonschema_infer_spark.operators.pipeline import (
        predict_constraint_spec,
    )

    # hit flow: prediction from row-group 0, fused counts, spec confirmed
    pred = predict_constraint_spec(tx_paths["viol"])
    res, integ, vcounts = infer_and_integrity_parquet(
        spark, tx_paths["viol"], rg_per_task=1, violation_spec=pred
    )
    real = V.constraint_spec(
        res.schema,
        state=res.state,
        temporal_cols=V.temporal_columns(spark.read.parquet(tx_paths["viol"])),
    )
    assert frozenset(real) == frozenset(pred)  # prediction hits
    assert vcounts == _spark_truth(spark, tx_paths["viol"], pred)
    # self-validation invariant: constraints inferred from the snapshot
    # cannot flag the snapshot
    assert all(v == 0 for v in vcounts.values())
    # integrity unchanged by the extra counting
    assert integ == V.transcript_integrity_summary(
        spark.read.parquet(tx_paths["viol"])
    )

    # cross-table spec: clean table's constraints against the violated
    # table — must flag rows, and must match Spark exactly
    clean_res = _spark_infer(spark, tx_paths["clean"])
    cross = V.constraint_spec(
        clean_res.schema,
        state=clean_res.state,
        temporal_cols=V.temporal_columns(spark.read.parquet(tx_paths["clean"])),
    )
    _, _, vcross = infer_and_integrity_parquet(
        spark, tx_paths["viol"], rg_per_task=1, violation_spec=cross
    )
    truth = _spark_truth(spark, tx_paths["viol"], cross)
    assert vcross == truth
    assert sum(vcross.values()) > 0  # the cross spec genuinely flags rows


def test_arrow_violation_counter_kinds_match_spark(spark, tmp_path):
    """Per-kind equality fuzz: every constraint kind (required, all six
    known formats on strings, temporal fold, const, enum, range incl.
    NaN, length) over a hand-built table with edge values — arrow counter
    totals == Spark violation_counts."""
    import datetime as dt
    import math

    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = {
        "s_dt": [
            "2026-01-01T00:00:00Z",        # ok
            "2026-13-01T00:00:00Z",        # bad month
            "2026-02-29T00:00:00Z",        # not a leap year
            "2024-02-29T00:00:00Z",        # leap day ok
            "2026-01-01T00:00:00+18:30",   # offset beyond ZoneOffset
            "2026-01-01T00:00:00.1234567890Z",  # 10 frac digits: ok
            "0000-01-01T00:00:00Z",        # year zero: ok (proleptic)
            None,                          # null passes
            "nope",
            "2026-01-01T00:00:60Z",        # leap second rejected
        ],
        "s_email": [
            "a@b.co", "bad", "x@y.io", None, "a@b", "u%p@d.org",
            "a@b.co", "a@b.co", "a@b.co", "a@b.co",
        ],
        "s_enum": ["u", "a", "u", "x", None, "u", "a", "a", "u", "z"],
        "s_const": ["k"] * 8 + ["j", None],
        "n_range": [1.0, 2.5, float("nan"), -3.0, None, 99.0, 2.0, 2.0, 2.0, 2.0],
        "n_enum": [1, 2, 1, 7, None, 1, 2, 2, 1, 9],
        "s_len": ["ab", "abc", "a", "abcd", None, "ab", "ab", "ab", "ab", ""],
        "ts": [dt.datetime(2026, 1, 1)] * 9 + [None],
    }
    table = pa.table(
        {
            "s_dt": pa.array(rows["s_dt"], pa.string()),
            "s_email": pa.array(rows["s_email"], pa.string()),
            "s_enum": pa.array(rows["s_enum"], pa.string()),
            "s_const": pa.array(rows["s_const"], pa.string()),
            "n_range": pa.array(rows["n_range"], pa.float64()),
            "n_enum": pa.array(rows["n_enum"], pa.int64()),
            "s_len": pa.array(rows["s_len"], pa.string()),
            "ts": pa.array(rows["ts"], pa.timestamp("us")),
        }
    )
    path = str(tmp_path / "kinds.parquet")
    pq.write_table(table, path)

    spec = [
        ("required", "s_dt"),
        ("required", "ts"),
        ("format", "s_dt", "date-time", False, True),
        ("format", "s_email", "email", False, True),
        ("format", "ts", "date-time", True, True),  # temporal fold
        ("const", "s_const", "k"),
        ("enum", "s_enum", ("u", "a")),
        ("enum", "n_enum", (1, 2)),
        ("range", "n_range", 0.0, 10.0),
        ("length", "s_len", 2, 3),
    ]
    names, counter = V.arrow_violation_counter(spec, table.schema)
    import numpy as np

    totals = np.zeros(len(names), dtype=np.int64)
    for b in table.to_batches(max_chunksize=3):  # multiple small batches
        totals += counter(b)
    got = dict(zip(names, (int(v) for v in totals)))
    want = _spark_truth(spark, path, spec)
    assert got == want, (got, want)
    # hand-checked anchors (so both engines can't be wrong together):
    # date-time accepts ok/leap-day/10-frac/year-zero, rejects 5 of 9
    assert got["format:s_dt:date-time"] == 5
    assert got["format:ts:date-time"] == 0  # temporal fold
    assert got["required:ts"] == 1
    assert got["enum:s_enum"] == 2  # 'x', 'z'
    assert got["range:n_range"] == 3  # nan, -3, 99
    assert got["length:s_len"] == 3  # 'a', 'abcd', ''


def test_arrow_violation_counter_unsupported_raises(spark, tmp_path):
    import pyarrow as pa

    schema = pa.schema([("a", pa.string()), ("t", pa.timestamp("us"))])
    with pytest.raises(V.UnsupportedArrowSpec):
        V.arrow_violation_counter([("required", "missing")], schema)
    with pytest.raises(V.UnsupportedArrowSpec):
        V.arrow_violation_counter([("format", "a", "custom-fmt", False, False)], schema)
    with pytest.raises(V.UnsupportedArrowSpec):
        # const on timestamp would rely on lit() string->timestamp coercion
        V.arrow_violation_counter([("const", "t", "2026-01-01")], schema)
    with pytest.raises(V.UnsupportedArrowSpec):
        V.arrow_violation_counter([("enum", "a", (1, 2))], schema)
