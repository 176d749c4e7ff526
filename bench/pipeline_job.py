#!/usr/bin/env python
"""spark-submit job: transcript inference+validation pipeline at whatever
--master the launcher chose. Writes a one-line JSON result to --out.

Usage:
  spark-submit --master local[8] --py-files jis.zip bench/pipeline_job.py \
      --data .cache/transcripts_bench_*.parquet --out /tmp/result8.json
"""

import argparse
import json
import time

# bumped on every engine/config change that affects timings: bench_scaling
# stores it per paired-round side, auto-excludes rounds whose two sides ran
# different revisions, and scopes the current-engine claim to the max rev.
# rev 2 = fused scan + background integrity reduce overlap.
# rev 3 = tuned validation scan (right-sized splits + AQE off for the
#         single-agg violations pass — see validate.validation_scan).
# rev 4 = hash-keyed integrity merge (int64 conv hash spilled by map
#         tasks; driver reduce 6.6s -> ~1s at 5M partials).
# rev 5 = validation prewarm: constraint build + violations codegen
#         compiled against a one-row twin on a driver thread DURING the
#         fused scan; the real violations run starts with hot codegen and
#         zero py4j on the critical path (spec-match guarded).
# rev 6 = single-pass validation: the fused scan also counts row
#         violations against the PREDICTED spec (arrow twin of the Spark
#         predicates, equality-tested); on a spec hit the separate
#         violations scan disappears entirely — one table read total.
#         Miss/unsupported falls back to the rev-5 flow.
# rev 7-9 = driver-side tail reads of spilled integrity partials (removed
#         in rev 10).
# rev 10 = integrity partials return with each fused task's result as
#         Arrow IPC bytes; no spill directory.
# rev 11 = the flow is operators.pipeline.run; a hit now joins the prewarm
#          inside the timed run.
ENGINE_REV = 11


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--data", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--shuffle-partitions", type=int, default=64)
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.config(
            "spark.sql.shuffle.partitions", str(args.shuffle_partitions)
        )
        .config("spark.sql.adaptive.enabled", "true")
        # single-file parquet input: splits (and thus scan parallelism) are
        # file-size/maxPartitionBytes, bounded by row-group count — keep
        # splits small enough to feed every core at local[32]
        .config("spark.sql.files.maxPartitionBytes", str(8 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        .appName("jis-scaling-bench")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    cores = spark.sparkContext.defaultParallelism

    from jsonschema_infer_spark.operators.pipeline import run

    df = spark.read.parquet(args.data)

    # warm-up: one scan (JIT + page cache) and one trivial arrow round-trip
    # so every python worker is forked and has pandas imported before the
    # timed section — worker cold-start is O(cores), not O(data), and would
    # otherwise bias the high-parallelism run
    df.count()
    warm = spark.range(0, cores * 4, 1, cores * 4)
    warm.mapInArrow(lambda it: it, "id long").count()

    t0 = time.time()
    r = run(spark, args.data)
    secs = time.time() - t0
    rows = r.infer.total_rows

    out = {
        "cores": cores,
        "engine_rev": ENGINE_REV,
        "rows": rows,
        "secs": round(secs, 3),
        "turns_per_sec": round(rows / secs, 1),
        "row_violations": int(sum(r.violations.values())),
        "dup_rows_excess": r.integrity["dup_rows_excess"],
        "ordering_violations": r.integrity["ordering_violations"],
        "spec_hit": r.spec_hit,
        "prewarm_error": (
            repr(r.prewarm_error) if r.prewarm_error is not None else None
        ),
        "stage_secs": {k: round(v, 2) for k, v in r.stage_secs.items()},
    }
    with open(args.out, "w") as f:
        json.dump(out, f)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
