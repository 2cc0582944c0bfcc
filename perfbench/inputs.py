"""Seeded benchmark inputs, generated once per (workload, seed) into the
benchmark's own data directory.

Generation runs in a separate process with its own Spark session, so the
measured process receives only the stored parquet and its JVM is equally cold
whether or not the inputs were cached. Usage (normally called by run.py)::

    python3 perfbench/inputs.py --workload checkpointed_dirty --seed 3 [4 ...]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from typing import List

from session import BENCH_DIR, DATA_DIR, WORK_ROOT, build_session, prepare_env, run_child, stop_session

SPEC_PATH = os.path.join(BENCH_DIR, "spec.json")
SUITE_DATA = os.path.join(BENCH_DIR, "data", "sf0.01")
TRANSCRIPT_WORKLOADS = ("checkpointed_dirty",)


def load_spec() -> dict:
    with open(SPEC_PATH) as f:
        return json.load(f)


def input_dir(workload: str, seed: int) -> str:
    """Where a transcript workload's table for ``seed`` is generated."""
    from jsonschema_go_spark.sources.transcripts import GEN_VERSION

    cfg = load_spec()["transcripts"][workload]
    return os.path.join(
        DATA_DIR, f"{workload}-v{GEN_VERSION}-c{cfg['num_convs']}-r{cfg['violation_rate']}-seed{seed}"
    )


def data_files(path: str) -> List[str]:
    """The data files under ``path``: not the local filesystem's ``.crc``
    sidecars, nor ``_SUCCESS`` or other ``_`` metadata."""
    return [
        os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs if not f.startswith((".", "_"))
    ]


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(f) for f in data_files(path))


def ensure_inputs(workload: str, seed: int, timeout: float = 150.0) -> dict:
    """Generate the inputs in a child process unless cached; return their
    meta (``generate_s``, ``turns``, ``parquet_bytes``, ``path``)."""
    if workload not in TRANSCRIPT_WORKLOADS:
        # the committed sf0.01 tables: nothing to generate
        return {"path": SUITE_DATA, "parquet_bytes": dir_bytes(SUITE_DATA), "generate_s": 0.0}
    meta_path = os.path.join(input_dir(workload, seed), "_meta.json")
    if not os.path.exists(meta_path):
        cmd = [sys.executable, os.path.join(BENCH_DIR, "inputs.py"),
               "--workload", *TRANSCRIPT_WORKLOADS, "--seed", str(seed)]
        if run_child(cmd, timeout).returncode != 0:
            raise RuntimeError(f"input generation failed: {' '.join(cmd)}")
    with open(meta_path) as f:
        return json.load(f)


def _generate(spark, workload: str, seed: int, out: str) -> dict:
    from jsonschema_go_spark.sources.transcripts import generate_transcripts

    cfg = load_spec()["transcripts"]
    tmp = f"{out}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    generate_transcripts(
        spark, num_convs=cfg[workload]["num_convs"], avg_turns=cfg["avg_turns"], seed=seed,
        violation_rate=cfg[workload]["violation_rate"],
    ).write.parquet(tmp)
    os.makedirs(os.path.dirname(out), exist_ok=True)
    shutil.rmtree(out, ignore_errors=True)  # leftover of a run cut before its meta
    os.rename(tmp, out)
    turns = spark.read.parquet(out).count()
    return {"path": out, "turns": turns, "parquet_bytes": dir_bytes(out)}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", nargs="+", choices=TRANSCRIPT_WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, nargs="+", required=True)
    args = ap.parse_args()

    work = os.path.join(WORK_ROOT, f"gen-{os.getpid()}")
    prepare_env(work)
    spark = build_session(work)
    try:
        for workload, seed in ((w, s) for w in args.workload for s in args.seed):
            out = input_dir(workload, seed)
            if os.path.exists(os.path.join(out, "_meta.json")):
                continue
            t0 = time.perf_counter()
            meta = _generate(spark, workload, seed, out)
            meta["generate_s"] = time.perf_counter() - t0
            tmp = os.path.join(out, f"_meta.json.tmp-{os.getpid()}")
            with open(tmp, "w") as f:
                json.dump(meta, f)
            os.rename(tmp, os.path.join(out, "_meta.json"))
    finally:
        stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
