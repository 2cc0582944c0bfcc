#!/usr/bin/env python3
"""Repo benchmark: transcript validation with a checkpointed dirty run and
its resume, and a registered-query suite, each in its own local[4] Spark
process.

    python3 perfbench/run.py --workload checkpointed_dirty --seed 1 --seconds 3 --trace 0

Prints one JSON line of run detail (every metric the workload defines, by
name and unit), then, as the last line, the result:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones. With ``--trace 1`` the run is traced (Spark
event log on, one job description per span) and the metrics are the
per-layer ones, including tracing overhead: traced minus untraced for each
end-to-end metric, the untraced side being one untraced child run of the
same workload, seed and seconds, made before the traced one. See
perfbench/README.md.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
from typing import Optional  # noqa: E402

# none of these import the engine package, which prepare_env must precede
from inputs import ensure_inputs, load_spec  # noqa: E402
from session import (  # noqa: E402
    RESULTS_DIR, WORK_ROOT, build_session, peak_rss_mb, prepare_env, run_child, stop_session,
)
from tracing import Tracer, attribute_event_log, per_span_totals  # noqa: E402
from workloads import IO_TABLES, VALIDATE_SPANS, WORKLOADS, Ops  # noqa: E402

E2E = {"setup_s": "s", "iter_cpu_s": "s", "peak_rss_mb": "MB"}
#: spans of the transcript workload whose Spark jobs the event log attributes
JOB_SPANS = VALIDATE_SPANS + ["lineage.run", "lineage.resume"]


def per_layer_units(spec: dict) -> dict:
    """Every per-layer metric, by name, with its unit."""
    u = {
        "sources.generate_s": "s",
        "compile.compile_table_s": "s", "compile.checks": "count",
        "plans.flags_s": "s", "plans.verdicts_s": "s", "plans.summary_s": "s",
        "plans.violations_s": "s", "plans.violation_rows": "count", "plans.fail_row_frac": "ratio",
        "uniqueness.duplicates_s": "s", "uniqueness.contiguity_s": "s", "uniqueness.monotonic_s": "s",
        "lineage.run_s": "s", "lineage.bucket_p50_s": "s", "lineage.bucket_max_s": "s",
        "lineage.unbucketed_s": "s", "lineage.completed_buckets_s": "s", "lineage.resume_skipped": "count",
    }
    for table in IO_TABLES:
        u[f"io.{table}.bytes_written"] = "bytes"
        u[f"io.{table}.files_written"] = "count"
        u[f"io.{table}.write_amp"] = "ratio"
    for q in spec["query_suite"]["timed"]:
        u[f"suite.{q}_s"] = "s"
    for span in JOB_SPANS:
        u[f"{span}.task_s"] = "s"
        u[f"{span}.input_bytes"] = "bytes"
        u[f"{span}.shuffle_bytes"] = "bytes"
    for name, unit in E2E.items():
        u[f"overhead.{name}"] = unit
    return u


def untraced_base(args, ops: Ops) -> Optional[dict]:
    """End-to-end values of one untraced child run of the same workload,
    seed and seconds. A child that fails, times out or reports an incorrect
    result is a failed operation, and there is no base."""
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"]
    res = {}

    def correct() -> bool:
        out = run_child(cmd, timeout=120)
        res.update(json.loads(out.stdout.strip().splitlines()[-1]))
        return out.returncode == 0 and res["correct"]

    if not ops.check("untraced child run is correct", correct):
        return None
    return {k: res["metrics"][k]["value"] for k in E2E}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    tag = f"{args.workload}-seed{args.seed}-{'traced' if args.trace else 'untraced'}-{os.getpid()}"
    work = os.path.join(WORK_ROOT, tag)
    prepare_env(work)
    try:
        import jsonschema_go_spark  # noqa: F401
    except ImportError as ex:
        print(f"cannot import the engine package: {ex}", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        return 2

    spec = load_spec()
    ops = Ops()
    # excluded from setup_s: input generation and the untraced child run
    t0 = time.perf_counter()
    meta = ensure_inputs(args.workload, args.seed)
    base = untraced_base(args, ops) if args.trace else None
    excluded = time.perf_counter() - t0

    event_dir = os.path.join(work, "eventlog") if args.trace else None
    try:
        spark = build_session(work, event_dir)
        tracer = Tracer(args.workload, spark if args.trace else None)
        wl = WORKLOADS[args.workload](spark, tracer, ops, args.seed, meta, work, spec)
        try:
            wl.setup()
            setup_s = time.perf_counter() - T_START - excluded
            wl.measure(args.seconds)
            # before the checks: the oracle's DuckDB work and the collected
            # rows are not the program's
            rss = peak_rss_mb(spark)
            t_check = time.perf_counter()
            wl.check()
            check_s = time.perf_counter() - t_check
        finally:
            stop_session(spark)
        by_desc = attribute_event_log(event_dir) if args.trace else {}
    finally:
        shutil.rmtree(work, ignore_errors=True)

    e2e = {"setup_s": setup_s, "iter_cpu_s": wl.iter_cpu_s(), "peak_rss_mb": rss}
    named = {
        "setup_s": (setup_s, "s"),
        "iter_cpu_s": (e2e["iter_cpu_s"], "s"),
        "iter_s": (wl.iter_s(), "s"),
        "peak_rss_mb": (rss, "MB"),
        "failed_frac": (ops.failed / max(ops.attempted, 1), "ratio"),
        **wl.workload_metrics(),
    }
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in named.items()},
        "inputs": meta,
        "warmup_s": wl.warmup_times,
        "iterations_s": wl.iter_times,
        "iterations_cpu_s": wl.iter_cpu,
        "check_s": check_s,
        "self_time_s": tracer.self_time_medians(),
        "layer": wl.layer,
    }
    if args.trace:
        units = per_layer_units(spec)
        # a layer the workload does not run reads 0
        layer = {name: 0 for name in units}
        layer.update({k: v for k, v in wl.layer.items() if k in units})
        layer["sources.generate_s"] = meta["generate_s"]
        for span, self_s in detail["self_time_s"].items():
            if f"{span}_s" in units:
                layer[f"{span}_s"] = self_s
        for span, totals in per_span_totals(tracer, by_desc).items():
            if span in JOB_SPANS:
                layer.update({f"{span}.{k}": v for k, v in totals.items()})
        if base is not None:
            for name in E2E:
                layer[f"overhead.{name}"] = e2e[name] - base[name]
        detail["untraced"] = base
        os.makedirs(RESULTS_DIR, exist_ok=True)
        tracer.write(os.path.join(RESULTS_DIR, f"{tag}.spans.jsonl"))
        metrics = {k: {"value": v, "unit": units[k]} for k, v in layer.items()}
    else:
        metrics = {k: {"value": v, "unit": E2E[k]} for k, v in e2e.items()}

    print(json.dumps(detail, default=str))
    print(json.dumps({
        "correct": ops.failed == 0,
        "attempted": ops.attempted,
        "failed": ops.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
