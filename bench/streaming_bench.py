#!/usr/bin/env python
"""Streaming-path throughput bench: turns/sec through the two stream paths
against their batch equivalents on the same staged transcript parquet:

- ``violation_stream``   — stateless compiled predicates (pure JVM codegen;
  should track the batch violations pass, minus micro-batch overhead);
- ``conversation_verdict_stream`` — the per-conversation rollup verdict
  (verdict, uniqueness and contiguity) as one update-mode stateful
  aggregate, against the batch ``ValidationPlan.rollup``; timed with the
  default HDFS-backed state store and with RocksDB.

The stream is a file source split over many parquet files with
``maxFilesPerTrigger`` so availableNow runs a realistic multi-micro-batch
schedule, not one giant batch.

Usage: python bench/streaming_bench.py [--cpus 32] [--convs 20000]
Prints one JSON line.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cpus", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    ap.add_argument("--convs", type=int, default=20000)
    ap.add_argument("--files", type=int, default=32)
    ap.add_argument("--files-per-trigger", type=int, default=8)
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{args.cpus}]")
        .appName("streaming-bench")
        .config("spark.sql.shuffle.partitions", str(max(args.cpus * 2, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from jsonschema_go_spark.compile import compile_table
    from jsonschema_go_spark.sources.transcripts import (
        generate_transcripts,
        transcript_table_rule,
    )
    from jsonschema_go_spark.streaming.validate_stream import (
        conversation_verdict_stream,
        violation_stream,
    )

    root = tempfile.mkdtemp(prefix="stream_bench_")
    data = os.path.join(root, "in")
    tdf = generate_transcripts(spark, num_convs=args.convs, seed=42)
    tdf.repartition(args.files).write.mode("overwrite").parquet(data)
    batch = spark.read.parquet(data)
    n_turns = batch.count()
    plan = compile_table(transcript_table_rule(), batch.schema)

    def noop(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    def run_stream(build, mode: str, name: str, conf: dict | None = None) -> float:
        """One timed availableNow drain of the whole input (fresh checkpoint
        ⇒ every file is processed). ``conf`` temporarily overrides session
        SQL confs for this query (state-store provider is a per-query-start
        session conf)."""
        old: dict[str, str | None] = {}
        for k, v in (conf or {}).items():
            try:
                old[k] = spark.conf.get(k)
            except Exception:
                old[k] = None
            spark.conf.set(k, v)
        try:
            stream = (
                spark.readStream.schema(batch.schema)
                .option("maxFilesPerTrigger", args.files_per_trigger)
                .parquet(data)
            )
            ckpt = os.path.join(root, f"ckpt_{name}_{time.monotonic_ns()}")
            t0 = time.perf_counter()
            q = (
                build(stream)
                .writeStream.format("noop")
                .outputMode(mode)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(600)
            return time.perf_counter() - t0
        finally:
            for k, v in old.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)

    timings: dict[str, float] = {}

    def timed(name, thunk):
        thunk()  # warm
        ts = []
        for _ in range(3):
            t0 = time.perf_counter()
            r = thunk()
            ts.append(r if isinstance(r, float) else time.perf_counter() - t0)
        timings[name] = round(sorted(ts)[1], 3)  # median of 3

    # batch equivalents
    timed("batch_violations", lambda: noop(
        plan.violations(batch, ["conv_id", "turn_idx"], ordered=False)))
    timed("batch_verdicts", lambda: noop(
        plan.rollup(batch, "conv_id", "turn_idx")))

    # streaming paths (each timed run drains the full input from a fresh
    # checkpoint — micro-batch scheduling included, that's the point)
    timed("stream_violations", lambda: run_stream(
        lambda s: violation_stream(plan, s, ["conv_id", "turn_idx"]),
        "append", "viol"))
    timed("stream_verdicts", lambda: run_stream(
        lambda s: conversation_verdict_stream(plan, s, "conv_id", "turn_idx"),
        "update", "verd"))

    # RocksDB state store (bundled in Spark 4) + changelog checkpointing:
    # the candidate fix for the per-batch HDFS-backed state commit cost over
    # many small groups (ROADMAP round-7 #6). Guarded — skip with a note if
    # the native lib is unavailable on this box.
    _ROCKSDB_CONF = {
        "spark.sql.streaming.stateStore.providerClass":
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": "true",
    }
    rocksdb_error = None
    try:
        timed("stream_verdicts_rocksdb", lambda: run_stream(
            lambda s: conversation_verdict_stream(plan, s, "conv_id", "turn_idx"),
            "update", "verd_rdb", conf=_ROCKSDB_CONF))
    except Exception as ex:  # pragma: no cover - environment-dependent
        rocksdb_error = f"{type(ex).__name__}: {ex}"[:200]

    line = {
        "metric": "streaming_vs_batch_turns_per_sec",
        "turns": n_turns,
        "cpus": args.cpus,
        "files": args.files,
        "files_per_trigger": args.files_per_trigger,
        "sec": timings,
        "turns_per_sec": {k: round(n_turns / v, 1) for k, v in timings.items()},
        "stream_violations_vs_batch_ratio": round(
            timings["stream_violations"] / timings["batch_violations"], 2
        ),
        "stream_verdicts_vs_batch_ratio": round(
            timings["stream_verdicts"] / timings["batch_verdicts"], 2
        ),
    }
    if "stream_verdicts_rocksdb" in timings:
        line["rocksdb_vs_hdfs_verdicts_speedup"] = round(
            timings["stream_verdicts"] / timings["stream_verdicts_rocksdb"], 2
        )
    if rocksdb_error:
        line["rocksdb_error"] = rocksdb_error
    print(json.dumps(line))
    shutil.rmtree(root, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
