"""Generate one seed's transcript tables and their engine-independent oracle.

run.py starts this as a separate process, so the measured process never
holds the generator's memory or the page-cache and allocator state that
generation leaves behind. It writes, under ``--out``, each requested layout
that is not there yet, and the oracle:

    <key>_clean.parquet      clean snapshot, rows clustered by conv_id
    <key>_clustered.parquet  violated variant, clustered (write_parquet order)
    <key>_arrival.parquet    violated variant, ordered by (ts, conv_id, turn_idx)
    <key>_reference.json     inference state of the clean snapshot (local
                             fold, no Spark), the report's reference schema
    <key>_oracle.json        counts computed with pyarrow from the tables and
                             the injection log, never through the engine

Every table has ROW_GROUPS row groups. Usage:

    python3 perfbench/gen.py --seed 42 --n-convs 30000 --out perfbench/.data \
        --layouts clean,clustered
"""

from __future__ import annotations

import argparse
import json
import math
import os

ROW_GROUPS = 15
HOT_CONVS = 3
HOT_TURNS = 4096
# Bumped whenever the generated tables or the oracle change meaning, so a
# stale cache is never read as current.
FORMAT = 1


def cache_key(seed: int, n_convs: int) -> str:
    return f"v{FORMAT}_n{n_convs}_s{seed}"


def table_path(out: str, seed: int, n_convs: int, layout: str) -> str:
    return os.path.join(out, f"{cache_key(seed, n_convs)}_{layout}.parquet")


def oracle_path(out: str, seed: int, n_convs: int) -> str:
    return os.path.join(out, f"{cache_key(seed, n_convs)}_oracle.json")


def reference_path(out: str, seed: int, n_convs: int) -> str:
    return os.path.join(out, f"{cache_key(seed, n_convs)}_reference.json")


def write_json_atomic(obj, path: str) -> None:
    tmp = f"{path}.tmp-{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(obj, f, indent=1, sort_keys=True)
    os.replace(tmp, path)


def integrity_oracle(table) -> dict:
    """Duplicate excess and ordering violations by a direct group-by.

    A conversation violates ordering unless its distinct turn indices are
    exactly 0..n-1 with no repeats."""
    import pyarrow.compute as pc

    g = (
        table.select(["conv_id", "turn_idx"])
        .drop_null()
        .group_by("conv_id")
        .aggregate(
            [
                ("turn_idx", "count"),
                ("turn_idx", "count_distinct"),
                ("turn_idx", "min"),
                ("turn_idx", "max"),
            ]
        )
    )
    n = g["turn_idx_count"]
    nd = g["turn_idx_count_distinct"]
    bad = pc.or_(
        pc.or_(
            pc.not_equal(g["turn_idx_min"], 0),
            pc.not_equal(g["turn_idx_max"], pc.subtract(nd, 1)),
        ),
        pc.not_equal(nd, n),
    )
    return {
        "dup_rows_excess": int(pc.sum(pc.subtract(n, nd)).as_py()),
        "ordering_violations": int(pc.sum(pc.cast(bad, "int64")).as_py()),
    }


def convs_spanning_row_groups(table, rows_per_group: int) -> int:
    """Conversations whose rows land in more than one row group."""
    import numpy as np
    import pyarrow as pa

    rg = pa.array(np.arange(table.num_rows) // rows_per_group)
    g = (
        pa.table({"conv_id": table["conv_id"], "rg": rg})
        .group_by("conv_id")
        .aggregate([("rg", "count_distinct")])
    )
    return int(np.count_nonzero(g["rg_count_distinct"].to_numpy() > 1))


def write_atomic(table, path: str, rows_per_group: int) -> None:
    import pyarrow.parquet as pq

    tmp = f"{path}.tmp-{os.getpid()}"
    pq.write_table(table, tmp, row_group_size=rows_per_group)
    os.replace(tmp, path)


LAYOUTS = ("clean", "clustered", "arrival")


def generate(seed: int, n_convs: int, out: str, layouts: list) -> None:
    import pyarrow.compute as pc

    from jsonschema_infer_spark.sources.transcripts import (
        decode,
        generate_transcripts,
        inject_violations,
    )

    os.makedirs(out, exist_ok=True)
    clean = generate_transcripts(
        n_convs, seed=seed, hot_convs=HOT_CONVS, hot_turns=HOT_TURNS
    )
    violated, log = inject_violations(clean, seed=seed)
    rpg = math.ceil(violated.num_rows / ROW_GROUPS)

    def arrival():
        return violated.sort_by([("ts", "ascending"), ("conv_id", "ascending"),
                                 ("turn_idx", "ascending")])

    tables = {
        # plain strings, as inject_violations leaves the violated variant
        "clean": lambda: (decode(clean), math.ceil(clean.num_rows / ROW_GROUPS)),
        "clustered": lambda: (violated, rpg),
        "arrival": lambda: (arrival(), rpg),
    }
    for layout in layouts:
        path = table_path(out, seed, n_convs, layout)
        if not os.path.exists(path):
            table, rows_per_group = tables[layout]()
            write_atomic(table, path, rows_per_group)
    rpath = reference_path(out, seed, n_convs)
    if "clean" in layouts and not os.path.exists(rpath):
        from jsonschema_infer_spark.config import default_config
        from jsonschema_infer_spark.operators import state as S
        from jsonschema_infer_spark.operators.infer_spark import (
            fold_batches_columnar,
        )

        st, rows = fold_batches_columnar(
            decode(clean).to_batches(max_chunksize=10_000), default_config())
        write_json_atomic({"state": S.state_to_jsonable(st), "rows": rows}, rpath)
    # write back now, not during the measured process's reps
    os.sync()
    opath = oracle_path(out, seed, n_convs)
    if os.path.exists(opath):
        return

    # Rows a reference-validated report must flag: the reference (clean)
    # schema requires role and text and limits role to the clean values.
    clean_roles = pc.unique(clean["role"].combine_chunks())
    role = violated["role"]
    violating = pc.or_(
        pc.or_(pc.is_null(role), pc.is_null(violated["text"])),
        pc.invert(pc.fill_null(pc.is_in(role, value_set=clean_roles), True)),
    )
    oracle = {
        "seed": seed,
        "n_convs": n_convs,
        "rows": violated.num_rows,
        "clean_rows": clean.num_rows,
        "row_groups": ROW_GROUPS,
        "integrity": integrity_oracle(violated),
        # reference-validated per-constraint counts, from the injection log
        "report_constraints": {
            "required:role": len(log["null_role_rows"]),
            "required:text": len(log["null_text_rows"]),
            "enum:role": len(log["bad_role_rows"]),
        },
        "report_violating_rows": int(pc.sum(pc.cast(violating, "int64")).as_py()),
        # labels only: the log's dup_keys over-counts the table's excess
        # (a duplicated row can re-fill a turn the gap/shift step dropped)
        "log_dup_keys": len(log["dup_keys"]),
        "arrival_multi_rg_convs": convs_spanning_row_groups(arrival(), rpg),
    }
    write_json_atomic(oracle, opath)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--n-convs", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--layouts", default=",".join(LAYOUTS))
    args = ap.parse_args()
    layouts = args.layouts.split(",")
    if not set(layouts) <= set(LAYOUTS):
        ap.error(f"--layouts takes a subset of {LAYOUTS}")
    generate(args.seed, args.n_convs, args.out, layouts)


if __name__ == "__main__":
    main()
