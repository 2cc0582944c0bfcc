#!/usr/bin/env python
"""Per-query Spark cost of registered queries: jobs, stages and tasks from
the status tracker, Python-worker CPU, JVM CPU and wall time, for warm
passes in one local Spark session.

Each query runs once cold (untimed, it compiles and warms the Python
workers), then ``--passes`` times to a ``noop`` sink, the way the
``query_suite`` benchmark runs it. One JSON line per query gives the
per-pass median of every figure:

    python bench/query_cost.py --sf perfbench/data/sf0.01 \\
        --queries kw_object_events,dedup_minhash_documents,ann_ivf_topk_embeddings \\
        --passes 5

CPU is read from /proc (Linux): the JVM's own user+system time, and the
user+system time of the Python processes under it (the worker daemon and
its workers, reaped workers included). Sessions use ``local[--cores]``
with ``spark.sql.shuffle.partitions`` equal to the cores.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
# the Python workers import the engine package too (kernels reference it)
os.environ["PYTHONPATH"] = os.pathsep.join(p for p in [REPO, os.environ.get("PYTHONPATH", "")] if p)


def _stats():
    """pid → (ppid, own CPU ticks, reaped children's CPU ticks)."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        f = raw.rsplit(")", 1)[1].split()
        out[int(d)] = (int(f[1]), int(f[11]) + int(f[12]), int(f[13]) + int(f[14]))
    return out


def cpu_split(jvm_pid: int):
    """(JVM CPU s, Python-worker CPU s) so far: the JVM's own time, and the
    own plus reaped-children time of every process under the JVM."""
    st = _stats()
    kids, frontier = [], [jvm_pid]
    while frontier:
        p = frontier.pop()
        new = [c for c, v in st.items() if v[0] == p]
        kids += new
        frontier += new
    tck = os.sysconf("SC_CLK_TCK")
    jvm = st[jvm_pid][1] / tck if jvm_pid in st else 0.0
    py = sum(st[p][1] + st[p][2] for p in kids if p in st) / tck
    return jvm, py


def spark_work(sc, group: str):
    """(jobs, stages, tasks) the status tracker holds for a job group;
    skipped stages (reused shuffle output) are not counted."""
    tr = sc.statusTracker()
    jobs = tr.getJobIdsForGroup(group)
    stages = tasks = 0
    for j in jobs:
        info = tr.getJobInfo(j)
        for s in info.stageIds if info else []:
            si = tr.getStageInfo(s)
            if si is not None and si.numCompletedTasks + si.numActiveTasks > 0:
                stages += 1
                tasks += si.numTasks
    return len(jobs), stages, tasks


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--sf", required=True, help="directory of the <table>.parquet files")
    ap.add_argument("--queries", required=True, help="comma-separated registered query names")
    ap.add_argument("--passes", type=int, default=3, help="warm passes per query")
    ap.add_argument("--cores", type=int, default=4)
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from jsonschema_go_spark.queries import get_queries

    spark = (
        SparkSession.builder.master(f"local[{args.cores}]")
        .appName("query_cost")
        .config("spark.sql.shuffle.partitions", str(args.cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    jvm_pid = sc._gateway.proc.pid
    queries = get_queries()

    def run(name: str, group: str) -> None:
        sc.setJobGroup(group, name)
        try:
            queries[name](spark, args.sf).write.format("noop").mode("overwrite").save()
        finally:
            sc.setJobGroup(None, None)  # later actions join no group

    try:
        for name in args.queries.split(","):
            run(name, f"{name}/cold")
            per = {k: [] for k in ("jobs", "stages", "tasks", "py_cpu_s", "jvm_cpu_s", "wall_s")}
            for i in range(args.passes):
                group = f"{name}/{i}"
                jvm0, py0 = cpu_split(jvm_pid)
                t0 = time.perf_counter()
                run(name, group)
                wall = time.perf_counter() - t0
                jvm1, py1 = cpu_split(jvm_pid)
                jobs, stages, tasks = spark_work(sc, group)
                for k, v in zip(per, (jobs, stages, tasks, py1 - py0, jvm1 - jvm0, wall)):
                    per[k].append(v)
            line = {"query": name, "passes": args.passes}
            for k, vs in per.items():
                m = statistics.median(vs)
                line[k] = round(m, 3) if isinstance(m, float) else m
            print(json.dumps(line), flush=True)
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
