"""The benchmark's workloads. Each one is driven by a single closed-loop
client (this process) that makes one call into the engine at a time.

Every call the harness makes into a layer's public function runs inside a
span named after the layer. Output checks run outside the timed iterations
and compare against the DuckDB oracle on the same files.
"""

from __future__ import annotations

import os
import random
import statistics
import sys
import time
import traceback
from typing import Callable, Dict, List, Tuple

import duckdb

from inputs import SUITE_DATA, data_files
from session import REPO_ROOT, cpu_seconds

KEYS = ["conv_id", "turn_idx"]
#: the spans of one full F1 validation pass
VALIDATE_SPANS = [
    "plans.flags", "plans.violations", "plans.verdicts", "plans.summary",
    "uniqueness.duplicates", "uniqueness.contiguity", "uniqueness.monotonic",
]
RUN_ID = "bench"
#: output tables of one CheckpointedRun, by the prefix of their directory
IO_TABLES = {
    "staged": "staged_",
    "violations": f"violations_{RUN_ID}",
    "verdicts": f"verdicts_{RUN_ID}",
    "quality": f"quality_{RUN_ID}",
    "lineage": "lineage",
}


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def verify_driver():
    """The repo's driver-contract script, for its canon/norm row
    comparison."""
    scripts = os.path.join(REPO_ROOT, "scripts")
    if scripts not in sys.path:
        sys.path.insert(0, scripts)
    import verify_driver

    return verify_driver


class Ops:
    """Attempted and failed operations: timed calls and output checks. An
    exception or a failed check counts as a failure."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0

    def run(self, fn: Callable, *args, **kwargs):
        self.attempted += 1
        try:
            return fn(*args, **kwargs)
        except Exception:
            self.failed += 1
            traceback.print_exc()
            return None

    def check(self, name: str, fn: Callable[[], bool]) -> bool:
        self.attempted += 1
        try:
            ok = bool(fn())
        except Exception:
            traceback.print_exc()
            ok = False
        if not ok:
            self.failed += 1
            print(f"output check failed: {name}", file=sys.stderr)
        return ok


def collect(spark_df) -> Tuple[List[str], List[tuple]]:
    return spark_df.columns, [tuple(r) for r in spark_df.collect()]


def same_rows(result: Tuple[List[str], List[tuple]], con, sql: str) -> bool:
    """A collected Spark result equals the oracle's under verify_driver's
    canon/norm comparison (sorted columns, floats to 6 dp, sorted rows)."""
    s_cols, s_rows = result
    rel = con.sql(sql)
    d_cols, d_rows = list(rel.columns), [tuple(r) for r in rel.fetchall()]
    norm = verify_driver().norm
    return norm(s_rows, s_cols) == norm(d_rows, d_cols)


class Workload:
    name = ""
    #: timed iterations per run: at least min_iterations, then as many as
    #: fit in the run's seconds, up to max_iterations (None: no limit)
    min_iterations = 1
    max_iterations = None

    def __init__(self, spark, tracer, ops: Ops, seed: int, meta: dict, work: str, spec: dict):
        self.spark, self.tracer, self.ops = spark, tracer, ops
        self.seed, self.meta, self.work, self.spec = seed, meta, work, spec
        self.iter_times: List[float] = []
        self.iter_cpu: List[float] = []
        self.warmup_times: List[float] = []
        self.layer: Dict[str, float] = {}  # per-layer values beyond span timings
        self.con = duckdb.connect()
        self.con.execute(f"SET temp_directory = '{os.path.join(work, 'duckdb')}'")

    def call(self, span: str, fn: Callable, *args, **kwargs):
        with self.tracer.span(span):
            return self.ops.run(fn, *args, **kwargs)

    def warm_up(self, fn: Callable[[], None], runs: int) -> None:
        """Untimed runs of ``fn``; their walls go to the run detail, so the
        approach to steady state stays visible."""
        for _ in range(runs):
            t0 = time.perf_counter()
            fn()
            self.warmup_times.append(time.perf_counter() - t0)

    def measure(self, seconds: float) -> None:
        """Timed iterations, back to back, until ``seconds`` have passed
        and at least ``min_iterations`` ran."""
        t_end = time.perf_counter() + seconds
        while True:
            self.tracer.iteration = len(self.iter_times)
            cpu0 = cpu_seconds()
            with self.tracer.span("iteration") as rec:
                self.iteration()
            self.iter_cpu.append(cpu_seconds() - cpu0)
            self.iter_times.append(rec["end"] - rec["start"])
            n = len(self.iter_times)
            if (time.perf_counter() >= t_end and n >= self.min_iterations) or n == self.max_iterations:
                break
        self.tracer.iteration = None

    def iter_s(self) -> float:
        return statistics.median(self.iter_times)

    def iter_cpu_s(self) -> float:
        return statistics.median(self.iter_cpu)

    def span_median(self, name: str) -> float:
        d = self.tracer.durations(name)
        return statistics.median(d) if d else 0.0

    def check_pins(self, n_rows: int, fail_counts: Dict[str, int]) -> None:
        """Generator drift check: row count and per-rule fail counts against
        the values spec.json pins for this seed (seeds without a pin are
        checked against the oracle only)."""
        pin = self.spec["pins"].get(self.name, {}).get(str(self.seed))
        if pin is not None:
            self.ops.check("pinned row count", lambda: pin["rows"] == n_rows)
            self.ops.check("pinned fail counts", lambda: pin["fail_counts"] == fail_counts)
        self.layer["pinned"] = pin is not None

    # subclasses: setup(), iteration(), check(), workload_metrics()


class CheckpointedDirty(Workload):
    """Full F1 validation of a stored transcript table with ~20% dirty
    conversations, every output to a noop sink, then the production runner
    path over the same table. Phase 2's CheckpointedRun, which crashes at a
    bucket, is the warm-up; it runs the same compiled predicates. The timed
    iteration is the validation calls, phase 1 (a fresh run into its own
    output dir), then phase 2's resume."""

    name = "checkpointed_dirty"
    max_iterations = 1  # phase 2 can resume only once

    def setup(self) -> None:
        from jsonschema_go_spark.compile import compile_table
        from jsonschema_go_spark.lineage import CheckpointedRun
        from jsonschema_go_spark.queries_pipeline import _TRANSCRIPT_ELEM_TYPES
        from jsonschema_go_spark.sources.io import TableIO
        from jsonschema_go_spark.sources.transcripts import transcript_table_rule

        self.rule = transcript_table_rule()
        self.elem_types = _TRANSCRIPT_ELEM_TYPES
        self.df = self.spark.read.parquet(self.meta["path"])
        with self.tracer.span("compile.compile_table") as rec:
            self.plan = self.ops.run(compile_table, self.rule, self.df.schema)
        self.layer["compile.compile_table_s"] = rec["end"] - rec["start"]
        self.layer["compile.checks"] = len(self.plan.checks)
        self.con.execute(
            f"CREATE VIEW transcripts AS SELECT * FROM read_parquet('{self.meta['path']}/*.parquet')"
        )
        cfg = self.spec["transcripts"][self.name]
        self.buckets, self.fail_bucket = cfg["num_buckets"], cfg["fail_on_bucket"]
        self.fresh_out = os.path.join(self.work, "out", "fresh")
        self.resumed_out = os.path.join(self.work, "out", "resumed")
        self.io2 = TableIO(self.spark, base_path=self.resumed_out)
        self.run2 = CheckpointedRun(self.io2, RUN_ID, num_buckets=self.buckets)
        self.warm_up(lambda: self.ops.run(self._crash), runs=1)

    def _crash(self) -> None:
        try:
            self.run2.run(self.df, self.plan, resume=False, quality_checks=True,
                          fail_on_bucket=self.fail_bucket)
        except RuntimeError as ex:
            if "simulated crash" in str(ex):
                return
            raise
        raise AssertionError("fail_on_bucket did not crash the run")

    def _validate(self) -> None:
        from jsonschema_go_spark.operators import uniqueness

        df, plan = self.df, self.plan
        self.call("plans.flags", lambda: noop(plan.flags(df, KEYS)))
        self.call("plans.violations", lambda: noop(plan.violations(df, KEYS, ordered=False)))
        self.call("plans.verdicts", lambda: noop(plan.verdicts(df, "conv_id")))
        self.call("plans.summary", lambda: noop(plan.summary(df)))
        self.call("uniqueness.duplicates", lambda: noop(uniqueness.duplicates(df, KEYS)))
        self.call(
            "uniqueness.contiguity",
            lambda: noop(uniqueness.contiguity_violations(df, "conv_id", "turn_idx", start=0)),
        )
        self.call(
            "uniqueness.monotonic",
            lambda: noop(uniqueness.monotonic_violations(df, "conv_id", "turn_idx", "ts")),
        )

    def _fresh(self):
        from jsonschema_go_spark.lineage import CheckpointedRun
        from jsonschema_go_spark.sources.io import TableIO

        io = TableIO(self.spark, base_path=self.fresh_out)
        return CheckpointedRun(io, RUN_ID, num_buckets=self.buckets).run(
            self.df, self.plan, resume=False, quality_checks=True
        )

    def iteration(self) -> None:
        from jsonschema_go_spark.lineage import LineageLog

        self._validate()
        self.call("lineage.run", self._fresh)
        self.call("lineage.completed_buckets", LineageLog(self.io2).completed_buckets, RUN_ID, "validate")
        self.resumed = self.call("lineage.resume", self.run2.run, self.df, self.plan,
                                 resume=True, quality_checks=True)

    def _table_sql(self, out: str, key: str) -> str:
        return f"read_parquet('{out}/{IO_TABLES[key]}/**/*.parquet', hive_partitioning = true)"

    def check(self) -> None:
        from jsonschema_go_spark.oracle import summary_sql, verdict_sql, violations_sql

        con, fresh, resumed = self.con, self.fresh_out, self.resumed_out
        sql = summary_sql(self.rule, "transcripts", self.elem_types)
        self.ops.check("summary == oracle.summary_sql",
                       lambda: same_rows(collect(self.plan.summary(self.df)), con, sql))
        fails = {r[0]: int(r[1]) for r in con.sql(sql).fetchall()}
        sql = verdict_sql(self.rule, "transcripts", "conv_id", self.elem_types)
        self.ops.check("verdicts == oracle.verdict_sql",
                       lambda: same_rows(collect(self.plan.verdicts(self.df, "conv_id")), con, sql))

        n_input = con.sql("SELECT COUNT(*) FROM transcripts").fetchone()[0]
        lineage_rows = con.sql(
            f"SELECT SUM(\"rows\") FROM {self._table_sql(fresh, 'lineage')} "
            f"WHERE stage = 'validate' AND status = 'done'"
        ).fetchone()[0]
        self.ops.check("sum(lineage rows) == input rows", lambda: lineage_rows == n_input)
        n_viol = con.sql(f"SELECT COUNT(*) FROM {self._table_sql(fresh, 'violations')}").fetchone()[0]
        oracle_viol = con.sql(
            f"SELECT COUNT(*) FROM ({violations_sql(self.rule, 'transcripts', KEYS, self.elem_types)})"
        ).fetchone()[0]
        self.ops.check("violations count == oracle.violations_sql", lambda: n_viol == oracle_viol)

        def per_bucket(out: str):
            v = con.sql(
                f"SELECT bucket, COUNT(*), SUM(violation_count) FROM {self._table_sql(out, 'verdicts')} "
                f"GROUP BY bucket ORDER BY bucket"
            ).fetchall()
            w = con.sql(
                f"SELECT bucket, COUNT(*) FROM {self._table_sql(out, 'violations')} GROUP BY bucket ORDER BY bucket"
            ).fetchall()
            return v, w

        self.ops.check("resumed per-bucket counts == fresh", lambda: per_bucket(resumed) == per_bucket(fresh))
        skipped = (self.resumed or {}).get("skipped", [])
        self.ops.check("resume skipped the buckets done before the crash",
                       lambda: skipped == list(range(self.fail_bucket)))
        self.layer["lineage.resume_skipped"] = len(skipped)
        self.check_pins(n_input, fails)

        rows, fail_rows = con.sql(
            f"SELECT SUM(\"rows\"), SUM(fail_rows) FROM {self._table_sql(fresh, 'verdicts')}"
        ).fetchone()
        self.layer["plans.violation_rows"] = n_viol
        self.layer["plans.fail_row_frac"] = fail_rows / rows
        walls = [r[0] for r in con.sql(
            f"SELECT wall_sec FROM {self._table_sql(fresh, 'lineage')} WHERE status = 'done'"
        ).fetchall()]
        run_s = self.tracer.durations("lineage.run")[-1]
        self.layer["lineage.bucket_p50_s"] = statistics.median(walls)
        self.layer["lineage.bucket_max_s"] = max(walls)
        self.layer["lineage.unbucketed_s"] = run_s - sum(walls)
        for table, prefix in IO_TABLES.items():
            files = [f for d in os.listdir(fresh) if d.startswith(prefix)
                     for f in data_files(os.path.join(fresh, d))]
            written = sum(os.path.getsize(f) for f in files)
            self.layer[f"io.{table}.bytes_written"] = written
            self.layer[f"io.{table}.files_written"] = len(files)
            self.layer[f"io.{table}.write_amp"] = written / self.meta["parquet_bytes"]

    def workload_metrics(self) -> Dict[str, tuple]:
        validate_s = sum(self.span_median(s) for s in VALIDATE_SPANS)
        return {
            "validate_turns_per_s": (self.meta["turns"] / validate_s, "1/s"),
            "run_turns_per_s": (self.meta["turns"] / self.span_median("lineage.run"), "1/s"),
            "resume_s": (self.span_median("lineage.resume"), "s"),
        }


class QuerySuite(Workload):
    """Registered queries over the sf0.01 tables they read, each to a noop
    sink, in an order the seed permutes."""

    name = "query_suite"
    # a single pass after the cold one varies ±20% between runs (queries
    # are still being JIT-compiled); two timed passes per run
    min_iterations = 2

    def setup(self) -> None:
        from jsonschema_go_spark.queries import get_oracles, get_queries

        self.queries, self.oracles = get_queries(), get_oracles()
        self.order = list(self.spec["query_suite"]["timed"])
        random.Random(self.seed).shuffle(self.order)
        for f in os.listdir(SUITE_DATA):
            self.con.execute(f"CREATE VIEW {f.split('.')[0]} AS SELECT * FROM read_parquet('{SUITE_DATA}/{f}')")
        self.results = {}
        self.warm_up(self._collect_pass, runs=1)

    def _collect_pass(self) -> None:
        """The cold pass: each query's rows are kept for check(), which
        compares them with the oracle after the timed passes."""
        for name in self.order:
            self.results[name] = self.ops.run(lambda: collect(self.queries[name](self.spark, SUITE_DATA)))

    def iteration(self) -> None:
        for name in self.order:
            self.call(f"suite.{name}", lambda: noop(self.queries[name](self.spark, SUITE_DATA)))

    def check(self) -> None:
        for name in self.order:
            self.ops.check(
                f"{name} == oracle",
                lambda: same_rows(self.results[name], self.con, self.oracles[name]),
            )

    def iter_s(self) -> float:
        return sum(self.span_median(f"suite.{n}") for n in self.order)

    def workload_metrics(self) -> Dict[str, tuple]:
        return {}


WORKLOADS = {w.name: w for w in (CheckpointedDirty, QuerySuite)}
