"""Per-stage, per-partition lineage + checkpointing → crash-resumable runs
(north-rule mandate; the ``CollectDefinitions`` callback pattern of the
reference, ``/root/reference/context.go:12-16``, lifted to run lineage).

Model: a run processes hash-buckets of ``conv_id`` (explicit partitioning per
SURVEY.md §2.3). Each completed (run_id, stage, bucket) appends one lineage
row with metrics; resuming the same run_id anti-joins completed buckets and
processes only the remainder. Lineage lives in the same TableIO seam as data
(Iceberg append in production, parquet append in the sandbox).

Per bucket, :class:`CheckpointedRun` makes 2 scans of the bucket's staged
partition and 2 data writes, one Spark job each, and no collect: the
violation rows are one scan and one write; one exchange-free rollup
(``ValidationPlan.rollup``) is the other, written as the verdicts while an
``Observation`` on it gathers the bucket totals — the lineage
``rows``/``violations`` and the bucket's quality row. The quality and
lineage rows are buffered and appended together in the batched
:meth:`LineageLog.flush` — quality first, so a "done" lineage row implies
its quality row exists — as JVM local relations, so the flush runs no
Python-worker tasks.

Within each bucket the staged table is split into ``n`` Spark storage
buckets on the key, sized from the input's bytes the way Spark sizes file
splits (:func:`sub_bucket_count`): ``n = ceil(bytes_per_bucket / split)``
with ``split = min(maxPartitionBytes, max(openCostInBytes,
bytes_per_bucket / defaultParallelism))``, where ``bytes_per_bucket`` is the
optimizer's size estimate of the input over ``num_buckets``; an input
without size statistics gets 8. Each bucket job then runs ``n`` tasks and
writes at most ``n`` files to each of the violations and verdicts tables —
1 for a bucket up to ``openCostInBytes`` (4 MB by default), one per
``maxPartitionBytes`` (128 MB) for a large one. The Columns a run needs are
built once per run (the plan's once per plan); a bucket pays only for its
filter, its DataFrame operations and a new ``Observation``.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from typing import List, Optional, Sequence

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .plans.plan import VIOLATION_COLS
from .sizing import _input_bytes, sub_bucket_count
from .sources.io import TableIO

LINEAGE_SCHEMA = T.StructType([
    T.StructField("run_id", T.StringType(), False),
    T.StructField("stage", T.StringType(), False),
    T.StructField("bucket", T.IntegerType(), False),
    T.StructField("status", T.StringType(), False),
    T.StructField("rows", T.LongType(), True),
    T.StructField("violations", T.LongType(), True),
    T.StructField("wall_sec", T.DoubleType(), True),
    T.StructField("finished_at", T.TimestampType(), True),
])

LINEAGE_TABLE = "lineage"

#: one row per bucket of a ``quality_checks`` run, partitioned by bucket:
#: ``(key, order)`` uniqueness and per-key order-chain contiguity
QUALITY_SCHEMA = T.StructType([
    T.StructField("total_rows", T.LongType(), True),
    T.StructField("distinct_keys", T.LongType(), True),
    T.StructField("duplicate_rows", T.LongType(), True),
    T.StructField("unique_passed", T.BooleanType(), True),
    T.StructField("n_groups", T.LongType(), True),
    T.StructField("broken_groups", T.LongType(), True),
    T.StructField("contiguous_passed", T.BooleanType(), True),
    T.StructField("bucket", T.IntegerType(), True),
])


#: file in the staged table's directory that records its sub-bucket count
#: (a leading ``_`` hides it from Spark's file listing)
SUB_BUCKETS_FILE = "_sub_buckets"


def bucket_expr(key_col: str, num_buckets: int) -> F.Column:
    """Explicit conv_id hash-bucketing (SURVEY.md §2.3)."""
    return F.pmod(F.xxhash64(F.col(key_col)), F.lit(num_buckets)).cast("int")


def _local_frame(spark: SparkSession, schema: T.StructType, rows: Sequence[tuple]) -> DataFrame:
    """``rows`` as a JVM local relation: a parameterized ``VALUES`` that
    plans as ``LocalTableScan``. ``createDataFrame(list)`` would instead
    parallelize pickled rows through Python-worker tasks."""
    args, tuples = {}, []
    for i, row in enumerate(rows):
        cells = []
        for j, (f, v) in enumerate(zip(schema.fields, row)):
            args[f"p{i}_{j}"] = v
            cells.append(f"CAST(:p{i}_{j} AS {f.dataType.simpleString()})")
        tuples.append(f"({', '.join(cells)})")
    names = ", ".join(f"`{f.name}`" for f in schema.fields)
    return spark.sql(f"SELECT * FROM VALUES {', '.join(tuples)} AS t({names})", args=args)


@dataclass
class LineageLog:
    """Lineage appender. ``autoflush=True`` (default) appends one row per
    :meth:`record` — maximal durability, but at 4096 buckets × stages that is
    a 1-row-file-per-record pattern (an object-store small-file nuisance).
    ``autoflush=False`` buffers records and appends them in batches via
    :meth:`flush` — CheckpointedRun uses this with periodic + final flushes;
    an unflushed record merely means that bucket re-processes idempotently
    on resume. A record may carry the bucket's quality row, which the same
    flush appends to ``quality_table`` before the lineage rows."""

    io: TableIO
    autoflush: bool = True
    quality_table: Optional[str] = None
    _buffer: List[tuple] = field(default_factory=list)
    _quality: List[tuple] = field(default_factory=list)

    def completed_buckets(self, run_id: str, stage: str) -> List[int]:
        """Buckets marked done — ONE job: the read takes the known schema
        (no inference pass), and the few matching rows dedupe here, not in
        a shuffle. A missing lineage table means none."""
        df = self.io.read_if_exists(LINEAGE_TABLE, LINEAGE_SCHEMA)
        if df is None:
            return []
        rows = (
            df.where(
                (F.col("run_id") == run_id)
                & (F.col("stage") == stage)
                & (F.col("status") == "done")
            )
            .select("bucket")
            .collect()
        )
        return sorted({r["bucket"] for r in rows})

    def record(
        self,
        run_id: str,
        stage: str,
        bucket: int,
        rows: int,
        violations: int,
        wall_sec: float,
        status: str = "done",
        quality: Optional[tuple] = None,
    ) -> None:
        """Buffer one lineage row; ``quality`` is the bucket's
        :data:`QUALITY_SCHEMA` row without its trailing ``bucket``."""
        import datetime

        self._buffer.append((
            run_id, stage, int(bucket), status, int(rows), int(violations),
            float(wall_sec), datetime.datetime.now(),
        ))
        if quality is not None:
            self._quality.append((*quality, int(bucket)))
        if self.autoflush:
            self.flush()

    def flush(self) -> None:
        """Append all buffered records in ONE write per table — quality
        rows first, then lineage (no-op when empty)."""
        spark = self.io.spark
        if self._quality:
            df = _local_frame(spark, QUALITY_SCHEMA, self._quality)
            self.io.append(df, self.quality_table, partition_by=["bucket"])
            self._quality = []
        if self._buffer:
            self.io.append(_local_frame(spark, LINEAGE_SCHEMA, self._buffer), LINEAGE_TABLE)
            self._buffer = []


@dataclass
class CheckpointedRun:
    """Bucket-wise validation run: process each conv_id hash-bucket, append
    violations + verdicts per bucket, log lineage; ``resume=True`` skips
    buckets already marked done for this run_id.

    Each bucket is one pass: 2 scans of its staged partition and 2 data
    writes (violations, verdicts), 2 Spark jobs of ``n`` tasks each (``n``
    staged sub-buckets, sized from the input's bytes; at most ``n`` files
    per bucket and output table), with the rollup totals observed during
    the verdict write and the ``quality_checks`` row batched with the
    lineage rows (module docstring). ``order_col`` must name a
    column of the input: the rollup always carries its chain statistics.
    The ``bucket`` column is never a literal — the violations take the
    staged ``_bucket`` partition column, the verdicts recompute
    :func:`bucket_expr` of their key — so every bucket runs identical
    generated code and hits Spark's codegen cache.

    At cluster scale each bucket is itself a distributed job over that
    bucket's partition-pruned slice; bucket granularity bounds re-work on
    crash to 1/num_buckets of the input.
    """

    io: TableIO
    run_id: str
    key_col: str = "conv_id"
    num_buckets: int = 16
    #: lineage records per batched append (bounds both small-file count and
    #: the re-work window: ≤ flush_every-1 completed-but-unflushed buckets
    #: re-process idempotently after a hard crash)
    lineage_flush_every: int = 8

    @property
    def _safe_run_id(self) -> str:
        """run_id as a safe identifier fragment for EVERY derived table name
        (staged/violations/verdicts/quality — a raw 'r.1' would parse as a
        namespace on the Iceberg path). Sanitization is lossy ('r.1' and
        'r_1' both map to 'r_1'), so non-identifier run_ids get an md5
        suffix — otherwise a resume could silently use another run's data."""
        import hashlib
        import re

        safe = re.sub(r"[^A-Za-z0-9_]", "_", self.run_id)
        if safe == self.run_id:
            return safe
        tag = hashlib.md5(self.run_id.encode()).hexdigest()[:8]
        return f"{safe}_{tag}"

    @property
    def _staged_table(self) -> str:
        """Catalog name for the staged table. The session catalog is GLOBAL
        but TableIO data is path-scoped, so the name folds in a digest of the
        output base_path: two CheckpointedRuns with the same run_id but
        different base_paths in one Spark session must never resume against
        each other's staged files (the run_id sanitization guard alone covers
        name collisions, not path divergence)."""
        import hashlib

        loc = hashlib.md5((self.io.base_path or "").encode()).hexdigest()[:8]
        return f"staged_{self._safe_run_id}_{loc}"

    def _stage_input(self, df: DataFrame, resume: bool) -> DataFrame:
        """Stage the input hash-partitioned by bucket — ONE full pass.

        Without staging, the per-bucket loop re-scans the whole input per
        bucket (num_buckets × full-scan — measured 5× slower even at 600k
        rows; fatal at 100 TB). Staged layout gives each bucket a
        partition-pruned read: total I/O = 1 write + num_buckets pruned
        reads.

        The staged data is ALSO a Spark bucketed table: ``bucketBy(n,
        key_col) + sortBy(key_col)`` within each ``_bucket`` partition. The
        bucketed scan reports ``HashPartitioning(key_col)``, so the
        per-conversation verdict aggregate needs NO Exchange — this was the
        16M-group full-data shuffle flagged at 97M turns (BENCH.md per-stage
        table). On a real lake the source table is already stored
        bucketed/partitioned this way and staging is a no-op.

        ``n`` is :func:`sub_bucket_count` of the input's size estimate and
        the session's split confs. Per bucket: 1 up to ``openCostInBytes``,
        one per ``openCostInBytes`` up to ``defaultParallelism``, then
        ``defaultParallelism`` up to that many ``maxPartitionBytes``, then
        one per ``maxPartitionBytes``; 8 for an input without size
        statistics. The staged files are at most ``num_buckets × n``. ``n`` is
        recorded in :data:`SUB_BUCKETS_FILE` after the write, so a resume
        in a fresh session registers the files with the count they were
        written with, whatever the confs are then; staged files without
        that record (a crash mid-staging) are staged again.
        """
        spark = self.io.spark
        table = self._staged_table
        # path derives from the SANITIZED name: run_ids 'r.1' and 'r_1' would
        # otherwise share a catalog table while writing different paths, and
        # a resume could silently validate the other run's staged data
        path = self.io._path(table)
        if resume and spark.catalog.tableExists(table):
            return spark.table(table)
        record, fs = self.io._fs_path(f"{table}/{SUB_BUCKETS_FILE}")
        if resume and fs.exists(record):
            # files survive a crash but the session catalog does not (fresh
            # driver) — re-register the external bucketed table over them
            stream = fs.open(record)
            try:
                n = stream.readInt()
            finally:
                stream.close()
            self._register_staged(table, path, n)
            return spark.table(table)
        conf = spark._jsparkSession.sessionState().conf()
        n = sub_bucket_count(
            _input_bytes(df), self.num_buckets, conf.filesMaxPartitionBytes(),
            conf.filesOpenCostInBytes(), spark.sparkContext.defaultParallelism,
        )
        bucketed = df.withColumn(
            "_bucket", bucket_expr(self.key_col, self.num_buckets)
        )
        # repartition on the partition column so each output dir is written
        # by few tasks: files = num_buckets dirs × n bucket files
        (
            bucketed.repartition("_bucket")
            .write.mode("overwrite")
            .partitionBy("_bucket")
            .bucketBy(n, self.key_col)
            .sortBy(self.key_col)
            .option("path", path)
            .format("parquet")
            .saveAsTable(table)
        )
        stream = fs.create(record, True)
        try:
            stream.writeInt(n)
        finally:
            stream.close()
        return spark.table(table)

    def _register_staged(self, table: str, path: str, n: int) -> None:
        """CREATE TABLE over existing staged files (crash-resume in a new
        session) — schema from the files, ``n`` storage buckets as
        recorded when they were written: a bucketed scan registered with
        fewer buckets than written would silently drop the extra files."""
        spark = self.io.spark
        df = spark.read.parquet(path)
        cols = ", ".join(
            f"`{f.name}` {f.dataType.simpleString()}"
            for f in df.schema.fields
            if f.name != "_bucket"
        )
        spark.sql(
            f"CREATE TABLE {table} ({cols}, _bucket INT) USING parquet "
            f"PARTITIONED BY (_bucket) "
            f"CLUSTERED BY ({self.key_col}) SORTED BY ({self.key_col}) "
            f"INTO {n} BUCKETS "
            f"LOCATION '{path}'"
        )
        spark.sql(f"MSCK REPAIR TABLE {table}")

    def run(
        self,
        df: DataFrame,
        plan,
        keys: Sequence[str] = ("conv_id", "turn_idx"),
        resume: bool = True,
        stage: str = "validate",
        fail_on_bucket: Optional[int] = None,  # test hook: simulate a crash
        fail_before_record: Optional[int] = None,  # test hook: crash AFTER appends
        quality_checks: bool = False,
        order_col: str = "turn_idx",
    ) -> dict:
        log = LineageLog(
            self.io, autoflush=False, quality_table=f"quality_{self._safe_run_id}"
        )
        done = set(log.completed_buckets(self.run_id, stage)) if resume else set()
        staged = self._stage_input(df, resume)
        processed, skipped = [], []
        try:
            self._run_buckets(
                staged, plan, log, done, processed, skipped, keys, stage,
                fail_on_bucket, fail_before_record, quality_checks, order_col,
            )
        finally:
            # batch-flush lineage: every flush_every buckets inside the loop,
            # once here for the tail — and on a CRASH this persists the
            # completed-but-unflushed buckets, so resume still skips them
            log.flush()
        return {"processed": processed, "skipped": skipped}

    def _run_buckets(
        self, staged, plan, log, done, processed, skipped, keys, stage,
        fail_on_bucket, fail_before_record, quality_checks, order_col,
    ) -> None:
        keys = list(keys)
        violations_t = f"violations_{self._safe_run_id}"
        verdicts_t = f"verdicts_{self._safe_run_id}"
        outputs = [violations_t, verdicts_t] + ([log.quality_table] if quality_checks else [])
        # every Column of the loop, built once per run: per bucket only the
        # filter, the DataFrame operations and the Observation are new
        bucket = F.col("_bucket")
        viol_keys = keys + ["_bucket"]
        viol_out = [F.col(k) for k in keys] + [F.col(c) for c in VIOLATION_COLS]
        viol_out.append(bucket.alias("bucket"))
        verd_out = [
            F.col(c) for c in ("partition_key", "rows", "fail_rows", "violation_count", "passed")
        ]
        verd_out.append(bucket_expr("partition_key", self.num_buckets).alias("bucket"))
        broken = F.sum((~F.col("contiguous")).cast("long"))
        observed = [
            F.sum("rows").alias("total_rows"),
            F.sum("violation_count").alias("violations"),
            F.coalesce(F.sum("distinct_keys"), F.lit(0).cast("long")).alias("distinct_keys"),
            F.sum("duplicate_rows").alias("duplicate_rows"),
            (F.max("max_key_rows") <= 1).alias("unique_passed"),
            F.count(F.lit(1)).alias("n_groups"),
            broken.alias("broken_groups"),
            (broken == 0).alias("contiguous_passed"),
        ]
        for b in range(self.num_buckets):
            if b in done:
                skipped.append(b)
                continue
            if fail_on_bucket is not None and b == fail_on_bucket:
                raise RuntimeError(f"simulated crash at bucket {b}")
            t0 = time.perf_counter()
            # idempotence: a crash between append and lineage-record leaves
            # the bucket unmarked; dropping its partitions before (re)writing
            # makes the at-least-once loop exactly-once per bucket
            for table in outputs:
                self.io.delete_partition(table, "bucket", b)
            # partition pruning: reads only the _bucket=b directory
            part = staged.where(bucket == b)
            viol = plan.violations(part, viol_keys, ordered=False)
            self.io.append(viol.select(*viol_out), violations_t, partition_by=["bucket"])
            # exchange-free: the staged table is bucketed+sorted on key_col
            # and both rollup levels group by a superset of it. The bucket
            # totals (lineage rows/violations, the quality row) are observed
            # while the verdicts are written: no cache, no extra job
            totals = Observation()
            roll = plan.rollup(part, self.key_col, order_col).observe(totals, *observed)
            self.io.append(roll.select(*verd_out), verdicts_t, partition_by=["bucket"])
            if fail_before_record is not None and b == fail_before_record:
                raise RuntimeError(f"simulated crash before record at bucket {b}")
            tot = totals.get
            quality = tuple(tot[f.name] for f in QUALITY_SCHEMA.fields[:-1])
            log.record(
                self.run_id, stage, b, tot["total_rows"] or 0, tot["violations"] or 0,
                time.perf_counter() - t0,
                quality=quality if quality_checks else None,
            )
            if len(log._buffer) >= self.lineage_flush_every:
                log.flush()
            processed.append(b)
