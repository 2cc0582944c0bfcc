#!/usr/bin/env python3
"""Pin the expected row count and per-rule fail counts of the generated
transcript tables into spec.json, for a range of seeds.

    python3 perfbench/pin.py --seeds 0 31

Run it only after an intended change to the generator or to the F1 rules:
run.py compares every pinned seed's table with these values, so that a
change to sources/transcripts.py fails a check instead of silently changing
the workload.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys

from session import BENCH_DIR, WORK_ROOT, prepare_env


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", type=int, nargs=2, metavar=("FIRST", "LAST"), required=True)
    args = ap.parse_args()
    seeds = list(range(args.seeds[0], args.seeds[1] + 1))

    work = os.path.join(WORK_ROOT, f"pin-{os.getpid()}")
    prepare_env(work)
    import duckdb

    from inputs import SPEC_PATH, TRANSCRIPT_WORKLOADS, input_dir, load_spec
    from jsonschema_go_spark.oracle import summary_sql
    from jsonschema_go_spark.queries_pipeline import _TRANSCRIPT_ELEM_TYPES
    from jsonschema_go_spark.sources.transcripts import transcript_table_rule

    spec = load_spec()
    subprocess.run(
        [sys.executable, os.path.join(BENCH_DIR, "inputs.py"), "--workload", *TRANSCRIPT_WORKLOADS,
         "--seed", *map(str, seeds)],
        check=True,
    )
    for workload in TRANSCRIPT_WORKLOADS:
        pins = spec["pins"].setdefault(workload, {})
        for seed in seeds:
            con = duckdb.connect()
            con.execute(
                f"CREATE VIEW transcripts AS SELECT * FROM read_parquet('{input_dir(workload, seed)}/*.parquet')"
            )
            fails = con.sql(summary_sql(transcript_table_rule(), "transcripts", _TRANSCRIPT_ELEM_TYPES)).fetchall()
            pins[str(seed)] = {
                "rows": con.sql("SELECT COUNT(*) FROM transcripts").fetchone()[0],
                "fail_counts": {r[0]: int(r[1]) for r in fails},
            }
            con.close()
    with open(SPEC_PATH, "w") as f:
        json.dump(spec, f, indent=2)
        f.write("\n")
    shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
