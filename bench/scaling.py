#!/usr/bin/env python
"""Scaling-efficiency harness (north-rule evidence).

The rule demands ≥0.8 throughput scaling efficiency from N to 4N executors.
No real cluster exists in this sandbox, so the evidence is the same job at
two parallelism levels on identical input:

    python bench/scaling.py generate --convs 2000000 --out /tmp/scale_input
    python bench/scaling.py run --cpus 8  --input /tmp/scale_input
    python bench/scaling.py run --cpus 32 --input /tmp/scale_input

Each `run` is its own process (Spark master is fixed per JVM). The job is the
full transcript validation pass: per-keyword flags + violation rows +
per-conversation verdicts, written to a noop sink (full execution, no driver
materialization). Prints one JSON line.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

# the script lives in bench/ — put the repo root on sys.path so running it
# directly (python bench/scaling.py ...) finds the package without PYTHONPATH
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _session(cpus: int, shuffle_partitions: int):
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(f"scaling-{cpus}")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "24g")
        .getOrCreate()
    )


def cmd_generate(args) -> None:
    spark = _session(32, 64)
    spark.sparkContext.setLogLevel("ERROR")
    from jsonschema_go_spark.sources.transcripts import generate_transcripts

    df = generate_transcripts(spark, num_convs=args.convs, seed=42)
    # 256 files: fine-grained splits pack task waves evenly at high core counts
    df.repartition(256).write.mode("overwrite").parquet(args.out)
    n = spark.read.parquet(args.out).count()
    print(json.dumps({"generated_rows": n, "path": args.out}))
    spark.stop()


def cmd_run(args) -> None:
    spark = _session(args.cpus, args.cpus * 2)
    spark.sparkContext.setLogLevel("ERROR")
    from jsonschema_go_spark.compile import compile_table
    from jsonschema_go_spark.sources.transcripts import transcript_table_rule

    from jsonschema_go_spark.lineage import bucket_expr

    df = spark.read.parquet(args.input)
    n = df.count()  # warm FS cache + JVM before timing
    plan = compile_table(transcript_table_rule(), df.schema)

    def job():
        # the validation pass: per-row keyword flags, materialized violation
        # rows, and per-partition verdicts keyed on the north rule's explicit
        # conv_id hash-buckets (partial agg collapses each task to ≤buckets
        # rows — the verdict shuffle is O(buckets), not O(rows))
        plan.flags(df, ["conv_id", "turn_idx"]).write.format("noop").mode(
            "overwrite"
        ).save()
        plan.violations(df, ["conv_id", "turn_idx"], ordered=False).write.format(
            "noop"
        ).mode("overwrite").save()
        plan.verdicts(df, bucket_expr("conv_id", 1024)).write.format("noop").mode(
            "overwrite"
        ).save()

    job()  # warm-up run (codegen, file metadata)
    best = None
    for _ in range(args.repeats):
        t0 = time.perf_counter()
        job()
        dt = time.perf_counter() - t0
        best = dt if best is None else min(best, dt)
    print(
        json.dumps(
            {
                "cpus": args.cpus,
                "rows": n,
                "wall_sec": round(best, 3),
                "turns_per_sec": round(n / best, 1),
            }
        )
    )
    spark.stop()


def cmd_perconv(args) -> None:
    """Per-CONVERSATION verdicts: full-data shuffle (raw parquet) vs
    exchange-free aggregate over the staged bucketed+sorted table
    (CheckpointedRun storage layout). Evidence for the BENCH.md claim that
    bucketing the table on conv_id at write time removes the 16M-group
    shuffle entirely."""
    spark = _session(args.cpus, args.cpus * 2)
    spark.sparkContext.setLogLevel("ERROR")
    from jsonschema_go_spark.compile import compile_table
    from jsonschema_go_spark.lineage import CheckpointedRun
    from jsonschema_go_spark.sources.io import TableIO
    from jsonschema_go_spark.sources.transcripts import transcript_table_rule
    from pyspark.sql import functions as F

    df = spark.read.parquet(args.input)
    n = df.count()
    plan = compile_table(transcript_table_rule(), df.schema)

    def timed(fn):
        fn()  # warm-up
        best = None
        for _ in range(args.repeats):
            t0 = time.perf_counter()
            fn()
            best = min(best, time.perf_counter() - t0) if best else time.perf_counter() - t0
        return best

    def raw_job():
        plan.verdicts(df, "conv_id").write.format("noop").mode("overwrite").save()

    t_raw = timed(raw_job)

    io = TableIO(spark, base_path=args.staging)
    run = CheckpointedRun(io, "perconv", num_buckets=args.buckets)
    t0 = time.perf_counter()
    staged = run._stage_input(df, resume=False)
    t_stage = time.perf_counter() - t0
    # the storage-bucket count staging derived from the input's bytes
    sub_buckets = int(
        spark.sql(f"DESCRIBE TABLE EXTENDED {run._staged_table}")
        .where("col_name = 'Num Buckets'").first()["data_type"]
    )

    def staged_single_job():
        # ONE exchange-free aggregate over the whole bucketed table: the scan
        # reports HashPartitioning(conv_id, sub_buckets), so the 2M-group agg
        # shuffles nothing — this is the 100 TB shape (the source table is
        # stored bucketed; verdicts are a map-only pass)
        plan.verdicts(staged.drop("_bucket"), "conv_id").write.format(
            "noop"
        ).mode("overwrite").save()

    t_single = timed(staged_single_job)

    def staged_loop_job():
        # the CheckpointedRun inner loop: per-bucket pruned read; pays
        # num_buckets × job-launch overhead for bucket-grained resumability
        for b in range(args.buckets):
            part = staged.where(F.col("_bucket") == b).drop("_bucket")
            plan.verdicts(part, "conv_id").write.format("noop").mode("overwrite").save()

    t_loop = timed(staged_loop_job)
    plan_str = (
        plan.verdicts(staged.drop("_bucket"), "conv_id")
        ._jdf.queryExecution().executedPlan().toString()
    )
    print(
        json.dumps(
            {
                "cpus": args.cpus,
                "rows": n,
                "perconv_shuffled_sec": round(t_raw, 3),
                "perconv_bucketed_sec": round(t_single, 3),
                "perconv_bucketed_loop_sec": round(t_loop, 3),
                "speedup_single_job": round(t_raw / t_single, 2),
                "staging_write_sec": round(t_stage, 3),
                "buckets": args.buckets,
                "sub_buckets": sub_buckets,
                "bucketed_plan_has_exchange": "Exchange" in plan_str,
            }
        )
    )
    spark.stop()


def main() -> int:
    p = argparse.ArgumentParser()
    sub = p.add_subparsers(dest="cmd", required=True)
    g = sub.add_parser("generate")
    g.add_argument("--convs", type=int, default=2_000_000)
    g.add_argument("--out", default="/tmp/scale_input")
    r = sub.add_parser("run")
    r.add_argument("--cpus", type=int, required=True)
    r.add_argument("--input", default="/tmp/scale_input")
    r.add_argument("--repeats", type=int, default=2)
    c = sub.add_parser("perconv")
    c.add_argument("--cpus", type=int, default=32)
    c.add_argument("--input", default="/tmp/scale_input")
    c.add_argument("--staging", default="/tmp/perconv_staging")
    c.add_argument("--buckets", type=int, default=16)
    c.add_argument("--repeats", type=int, default=2)
    args = p.parse_args()
    if args.cmd == "generate":
        cmd_generate(args)
    elif args.cmd == "perconv":
        cmd_perconv(args)
    else:
        cmd_run(args)
    return 0


if __name__ == "__main__":
    sys.exit(main())
