"""Checkpoint/lineage + runner tests: crash → resume processes only the
remaining buckets; results equal an uninterrupted run."""

from __future__ import annotations

from pathlib import Path

import pytest
from pyspark.sql import functions as F

from jsonschema_go_spark import compile_table
from jsonschema_go_spark.lineage import CheckpointedRun, LineageLog
from jsonschema_go_spark.sources.io import TableIO
from jsonschema_go_spark.sources.transcripts import (
    generate_transcripts,
    transcript_table_rule,
)


@pytest.fixture()
def env(spark, tmp_path):
    df = generate_transcripts(spark, num_convs=200, seed=42)
    plan = compile_table(transcript_table_rule(), df.schema)
    io = TableIO(spark, base_path=str(tmp_path))
    return spark, df, plan, io


def test_crash_then_resume(env):
    spark, df, plan, io = env
    run = CheckpointedRun(io, "r1", num_buckets=4)

    with pytest.raises(RuntimeError, match="simulated crash"):
        run.run(df, plan, fail_on_bucket=2)

    log = LineageLog(io)
    assert log.completed_buckets("r1", "validate") == [0, 1]

    result = run.run(df, plan, resume=True)
    assert result["skipped"] == [0, 1]
    assert result["processed"] == [2, 3]

    # full-run equivalence: checkpointed union == direct violations
    resumed = io.read("violations_r1").drop("bucket")
    direct = plan.violations(df, ["conv_id", "turn_idx"], ordered=False)
    assert resumed.count() == direct.count()
    assert resumed.exceptAll(direct).count() == 0
    assert direct.exceptAll(resumed).count() == 0


def test_resume_noop_when_complete(env):
    spark, df, plan, io = env
    run = CheckpointedRun(io, "r2", num_buckets=3)
    r1 = run.run(df, plan)
    assert len(r1["processed"]) == 3
    r2 = run.run(df, plan, resume=True)
    assert r2["processed"] == [] and len(r2["skipped"]) == 3
    # no duplicate output rows from the no-op resume
    direct = plan.violations(df, ["conv_id", "turn_idx"], ordered=False)
    assert io.read("violations_r2").count() == direct.count()


def test_lineage_metrics_recorded(env):
    spark, df, plan, io = env
    CheckpointedRun(io, "r3", num_buckets=2).run(df, plan)
    lin = io.read("lineage").where(F.col("run_id") == "r3")
    rows = lin.collect()
    assert len(rows) == 2
    assert all(r["status"] == "done" and r["wall_sec"] > 0 for r in rows)
    assert sum(r["rows"] for r in rows) == df.count()


def test_runner_cli(spark, tmp_path, monkeypatch):
    """Drive the spark-submit entry point in-process (it reuses the active
    session via getOrCreate)."""
    from jsonschema_go_spark import runner

    rc = runner.main(
        [
            "--synthetic", "100",
            "--output", str(tmp_path / "out"),
            "--run-id", "cli1",
            "--buckets", "2",
        ]
    )
    assert rc == 0
    io = TableIO(spark, base_path=str(tmp_path / "out"))
    assert io.read("verdicts_cli1").count() > 0
    assert io.read("lineage").where(F.col("run_id") == "cli1").count() == 2


def test_crash_after_append_resume_is_idempotent(env):
    """ADVICE.md: a crash AFTER the bucket's violations/verdicts were appended
    but BEFORE the lineage record leaves the bucket unmarked; resume must
    re-process it WITHOUT duplicating its output rows."""
    spark, df, plan, io = env
    run = CheckpointedRun(io, "r4", num_buckets=4)

    with pytest.raises(RuntimeError, match="before record"):
        run.run(df, plan, fail_before_record=1)

    # bucket 1's rows were appended but it is not marked done
    log = LineageLog(io)
    assert log.completed_buckets("r4", "validate") == [0]
    assert io.read("violations_r4").where(F.col("bucket") == 1).count() > 0

    result = run.run(df, plan, resume=True)
    assert result["skipped"] == [0]
    assert result["processed"] == [1, 2, 3]

    resumed = io.read("violations_r4").drop("bucket")
    direct = plan.violations(df, ["conv_id", "turn_idx"], ordered=False)
    assert resumed.count() == direct.count()  # no duplicates from bucket 1
    assert resumed.exceptAll(direct).count() == 0
    verd = io.read("verdicts_r4")
    assert verd.count() == verd.select("partition_key").distinct().count()


def test_per_conv_verdicts_are_exchange_free(env):
    """The staged table is bucketed+sorted by conv_id, so the per-conversation
    verdict aggregate must plan WITHOUT any Exchange (shuffle) operator."""
    spark, df, plan, io = env
    run = CheckpointedRun(io, "r5", num_buckets=4)
    staged = run._stage_input(df, resume=False)
    part = staged.where(F.col("_bucket") == 1).drop("_bucket")
    verd = plan.verdicts(part, "conv_id")
    plan_str = verd._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan_str, plan_str
    # and it still computes the right thing
    direct = plan.verdicts(df.withColumn("_b", F.col("conv_id")).drop("_b"), "conv_id")
    sub = {r["partition_key"] for r in verd.select("partition_key").collect()}
    allk = {r["partition_key"] for r in direct.select("partition_key").collect()}
    assert sub and sub.issubset(allk)


def test_resume_survives_catalog_loss(env):
    """Crash-resume in a NEW driver: staged files survive but the session
    catalog does not — the run must re-register the external bucketed table
    over the existing files and stay exchange-free."""
    spark, df, plan, io = env
    run = CheckpointedRun(io, "r6", num_buckets=4)
    with pytest.raises(RuntimeError, match="simulated crash"):
        run.run(df, plan, fail_on_bucket=2)

    # simulate the fresh driver: external DROP keeps the files on disk
    spark.sql(f"DROP TABLE {run._staged_table}")
    assert not spark.catalog.tableExists(run._staged_table)

    result = run.run(df, plan, resume=True)
    assert result["processed"] == [2, 3]
    staged = spark.table(run._staged_table)
    part = staged.where(F.col("_bucket") == 2).drop("_bucket")
    plan_str = plan.verdicts(part, "conv_id")._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan_str, plan_str
    resumed = io.read("violations_r6").drop("bucket")
    direct = plan.violations(df, ["conv_id", "turn_idx"], ordered=False)
    assert resumed.count() == direct.count()
    assert resumed.exceptAll(direct).count() == 0


def _num_buckets(spark, table):
    """The storage-bucket count a catalog table is registered with."""
    rows = spark.sql(f"DESCRIBE TABLE EXTENDED {table}").where("col_name = 'Num Buckets'")
    return int(rows.first()["data_type"])


def test_sub_bucket_count_from_bytes():
    """Staged sub-buckets follow the input's bytes like Spark's file splits
    (maxPartitionBytes 128 MB, openCostInBytes 4 MB, 4 cores): 1 for the
    benchmark's ~311 KB buckets, 8 without size statistics, one per
    maxPartitionBytes split for 25 GB buckets, and one per core between."""
    from jsonschema_go_spark.sizing import sub_bucket_count

    mb = 1 << 20
    confs = dict(max_split=128 * mb, open_cost=4 * mb, parallelism=4)
    assert sub_bucket_count(622_895, 2, **confs) == 1
    assert sub_bucket_count(None, 2, **confs) == 8
    assert sub_bucket_count(4096 * 25 * 1024 * mb, 4096, **confs) == 200
    assert sub_bucket_count(300 * mb + 7, 1, **confs) == 4


def test_fresh_session_resume_keeps_sub_bucket_count(spark, tmp_path):
    """The staged sub-bucket count is recorded with the staged files: a
    resume in a new session, whose split confs now size the input to fewer
    sub-buckets, registers the files with the count they were written with
    (registered with fewer, the bucketed scan would silently drop the rest)
    and writes what a fresh run writes, exchange-free."""
    generate_transcripts(spark, num_convs=200, seed=42, violation_rate=0.2).write.parquet(
        str(tmp_path / "input")
    )
    df = spark.read.parquet(str(tmp_path / "input"))
    plan = compile_table(transcript_table_rule(), df.schema)
    io = TableIO(spark, base_path=str(tmp_path / "resumed"))
    run = CheckpointedRun(io, "sb", num_buckets=4)
    small_splits = {"spark.sql.files.maxPartitionBytes": "4k",
                    "spark.sql.files.openCostInBytes": "1"}
    try:
        for k, v in small_splits.items():
            spark.conf.set(k, v)
        with pytest.raises(RuntimeError, match="simulated crash"):
            run.run(df, plan, quality_checks=True, fail_on_bucket=2)
        written = _num_buckets(spark, run._staged_table)
    finally:
        for k in small_splits:
            spark.conf.unset(k)
    assert written > 1

    spark.sql(f"DROP TABLE {run._staged_table}")
    result = run.run(df, plan, resume=True, quality_checks=True)
    assert result == {"processed": [2, 3], "skipped": [0, 1]}
    assert _num_buckets(spark, run._staged_table) == written

    fresh_io = TableIO(spark, base_path=str(tmp_path / "fresh"))
    fresh = CheckpointedRun(fresh_io, "sb", num_buckets=4)
    fresh.run(df, plan, quality_checks=True)
    assert _num_buckets(spark, fresh._staged_table) == 1  # what the confs give now
    for name in ("violations_sb", "verdicts_sb", "quality_sb"):
        assert _sorted_rows(io.read(name)) == _sorted_rows(fresh_io.read(name)), name
    lineage = "bucket", "status", "rows", "violations"
    assert _sorted_rows(io.read("lineage").select(*lineage)) == _sorted_rows(
        fresh_io.read("lineage").select(*lineage)
    )
    part = spark.table(run._staged_table).where(F.col("_bucket") == 2)
    plan_str = plan.rollup(part, "conv_id", "turn_idx")._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan_str, plan_str


def test_resume_restages_without_sub_bucket_record(env):
    """Staged files without their sub-bucket record (a crash before staging
    finished) are staged again on resume, not registered."""
    from jsonschema_go_spark.lineage import SUB_BUCKETS_FILE

    spark, df, plan, io = env
    run = CheckpointedRun(io, "r9", num_buckets=4)
    with pytest.raises(RuntimeError, match="simulated crash"):
        run.run(df, plan, fail_on_bucket=2)
    spark.sql(f"DROP TABLE {run._staged_table}")
    record, fs = io._fs_path(f"{run._staged_table}/{SUB_BUCKETS_FILE}")
    assert fs.delete(record, False)

    assert run.run(df, plan, resume=True)["processed"] == [2, 3]
    assert fs.exists(record)
    resumed = io.read("violations_r9").drop("bucket")
    direct = plan.violations(df, ["conv_id", "turn_idx"], ordered=False)
    assert _sorted_rows(resumed) == _sorted_rows(direct)


def test_quality_checks_in_bucket_pass(env):
    """quality_checks=True emits per-bucket uniqueness + contiguity metrics
    in the same pass, matching the global operators when re-aggregated."""
    from jsonschema_go_spark.operators import uniqueness as uq

    spark, df, plan, io = env
    run = CheckpointedRun(io, "r7", num_buckets=4)
    run.run(df, plan, quality_checks=True)

    qual = io.read("quality_r7")
    assert qual.count() == 4
    agg = qual.agg(
        F.sum("total_rows").alias("rows"),
        F.sum("duplicate_rows").alias("dups"),
        F.sum("broken_groups").alias("broken"),
        F.sum("n_groups").alias("groups"),
    ).first()
    want_u = uq.uniqueness_verdict(df, ["conv_id", "turn_idx"]).first()
    assert agg["rows"] == want_u["total_rows"]
    assert agg["dups"] == want_u["duplicate_rows"]
    per = uq.contiguity(df, "conv_id", "turn_idx", start=0)
    assert agg["groups"] == per.count()
    assert agg["broken"] == per.where(~F.col("contiguous")).count()

    # exchange-free: both levels of the bucket rollup group by a superset
    # of the storage-bucket key, so the whole rollup needs no shuffle
    staged = spark.table(run._staged_table)
    part = staged.where(F.col("_bucket") == 0)
    roll = plan.rollup(part, "conv_id", "turn_idx")
    plan_str = roll._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan_str, plan_str


def test_auto_buckets_from_input_bytes(spark):
    """runner._auto_buckets sizes from file bytes without scanning data."""
    from jsonschema_go_spark.runner import _auto_buckets

    n = _auto_buckets(spark, "/root/testdata/sf0.001")
    assert 4 <= n <= 4096  # small input → floor of 4
    assert _auto_buckets(spark, None) == 16
    assert _auto_buckets(spark, "/no/such/path") == 16  # graceful fallback


def test_lineage_appends_are_batched(env):
    """4 buckets, flush_every=8 → ONE lineage append for the whole run (the
    1-row-file-per-bucket pattern is gone); crash-resume behavior unchanged
    (test_crash_then_resume) because the finally-flush persists completed
    buckets."""
    spark, df, plan, io = env
    appends = []
    orig = io.append

    def counting_append(d, name, partition_by=None):
        appends.append(name)
        return orig(d, name, partition_by)

    io.append = counting_append
    CheckpointedRun(io, "r8", num_buckets=4).run(df, plan)
    io.append = orig
    assert appends.count("lineage") == 1
    lin = io.read("lineage").where(F.col("run_id") == "r8")
    assert lin.count() == 4  # all four records in the one batch


# ------------------------------------------- fused bucket pass vs seed forms


def _edge_transcripts(spark):
    """Dirty transcripts plus the rows the rollup must agree on: a fully
    duplicated conversation, one duplicated turn, a NULL turn_idx and a NULL
    conv_id."""
    base = generate_transcripts(spark, num_convs=60, seed=7, violation_rate=0.2)
    conv, turn = F.col("conv_id"), F.col("turn_idx")
    c = [r[0] for r in base.select(conv).where(conv.isNotNull()).distinct()
         .orderBy(conv).limit(3).collect()]
    return (
        base.unionByName(base.where(conv == c[0]))
        .unionByName(base.where((conv == c[1]) & (turn == 0)))
        .unionByName(base.where((conv == c[2]) & (turn == 1))
                     .withColumn("turn_idx", F.lit(None).cast("int")))
        .unionByName(base.where((conv == c[2]) & (turn == 0))
                     .withColumn("conv_id", F.lit(None).cast(base.schema["conv_id"].dataType)))
    )


def _sorted_rows(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


def _assert_matches_seed(spark, io, run, plan):
    """Every output table of a quality_checks run equals the seed per-bucket
    pass over the same staged table, field by field and schema included;
    lineage rows/violations too (only wall_sec/finished_at may differ)."""
    from jsonschema_go_spark.lineage import LINEAGE_SCHEMA
    from tests.reference_forms import seed_bucket_pass

    staged = spark.table(run._staged_table)
    want = {"violations": [], "verdicts": [], "quality": []}
    want_lineage = []
    for b in range(run.num_buckets):
        viol, verd, qual, (n_rows, n_viol) = seed_bucket_pass(plan, staged, b)
        for name, ref in zip(want, (viol, verd, qual)):
            want[name].append(ref)
        want_lineage.append((b, "done", n_rows, n_viol))
    for name, refs in want.items():
        ref = refs[0]
        for r in refs[1:]:
            ref = ref.unionByName(r)
        if ref.isEmpty():  # an all-empty append leaves no data files
            got = io.read_if_exists(f"{name}_{run.run_id}", ref.schema)
            assert got is None or got.isEmpty(), name
            continue
        got = io.read(f"{name}_{run.run_id}")
        assert [(f.name, f.dataType) for f in got.schema] == [
            (f.name, f.dataType) for f in ref.schema
        ], name
        assert _sorted_rows(got) == _sorted_rows(ref), name
    lin = io.read("lineage").where(F.col("run_id") == run.run_id)
    assert [(f.name, f.dataType) for f in lin.schema] == [
        (f.name, f.dataType) for f in LINEAGE_SCHEMA
    ]
    got_lineage = sorted(
        tuple(r) for r in lin.select("bucket", "status", "rows", "violations").collect()
    )
    assert got_lineage == want_lineage


def test_fused_pass_matches_seed_forms(spark, tmp_path):
    """Duplicated turns, NULL turn_idx and NULL conv_id: verdicts, quality
    and lineage equal the seed's separate aggregates."""
    df = _edge_transcripts(spark)
    plan = compile_table(transcript_table_rule(), df.schema)
    io = TableIO(spark, base_path=str(tmp_path))
    run = CheckpointedRun(io, "f1", num_buckets=4)
    run.run(df, plan, quality_checks=True)
    _assert_matches_seed(spark, io, run, plan)
    # the fixture exercises what it claims: duplicates and broken chains
    qual = io.read("quality_f1").agg(F.sum("duplicate_rows"), F.sum("broken_groups")).first()
    assert qual[0] > 0 and qual[1] > 0


def test_fused_pass_empty_buckets_match_seed(spark, tmp_path):
    """More buckets than conversations: an empty bucket's quality row keeps
    the seed's NULL/0 pattern and its lineage row counts 0 rows."""
    base = generate_transcripts(spark, num_convs=3, seed=7, skew=False)
    plan = compile_table(transcript_table_rule(), base.schema)
    io = TableIO(spark, base_path=str(tmp_path))
    run = CheckpointedRun(io, "f2", num_buckets=8)
    run.run(base, plan, quality_checks=True)
    _assert_matches_seed(spark, io, run, plan)
    filled = {r[0] for r in spark.table(run._staged_table).select("_bucket").distinct().collect()}
    empty = sorted(set(range(8)) - filled)
    assert empty
    got = {r["bucket"]: tuple(r) for r in io.read("quality_f2").collect()}
    for b in empty:
        assert got[b] == (None, 0, None, None, 0, None, None, b)


@pytest.mark.parametrize("crash", [{"fail_on_bucket": 2}, {"fail_before_record": 1}])
def test_fused_pass_crash_resume_matches_seed(spark, tmp_path, crash):
    """Crash then resume (before a bucket, and after its appends but before
    its lineage record) leaves exactly the seed outputs: no duplicated or
    missing verdict, quality or lineage rows."""
    df = _edge_transcripts(spark)
    plan = compile_table(transcript_table_rule(), df.schema)
    io = TableIO(spark, base_path=str(tmp_path))
    run = CheckpointedRun(io, "f3", num_buckets=4)
    with pytest.raises(RuntimeError, match="simulated crash"):
        run.run(df, plan, quality_checks=True, **crash)
    run.run(df, plan, resume=True, quality_checks=True)
    _assert_matches_seed(spark, io, run, plan)


def test_bucket_pass_job_budget(env):
    """Regression pin: one bucket with quality_checks costs at most 5 Spark
    jobs including the flush, exactly one of them the lineage append, and
    the lineage/quality rows are JVM local relations (LocalTableScan), so
    the flush starts no Python-worker tasks. Over a small input the
    violation and verdict jobs run one task each and write one file each.
    completed_buckets is one job."""
    spark, df, plan, io = env
    sc, tracker = spark.sparkContext, spark.sparkContext.statusTracker()
    run = CheckpointedRun(io, "jobs", num_buckets=1)
    run._stage_input(df, resume=False)
    appended, orig = {}, io.append

    def tagged_append(d, name, partition_by=None):
        appended[name] = d
        sc.setJobGroup(f"jobs:{name}", name)
        try:
            orig(d, name, partition_by)
        finally:
            sc.setJobGroup("jobs", "bucket pass")

    io.append = tagged_append
    sc.setJobGroup("jobs", "bucket pass")
    try:
        run.run(df, plan, resume=True, quality_checks=True)
    finally:
        io.append = orig
        sc.setLocalProperty("spark.jobGroup.id", None)
    groups = ["jobs"] + [f"jobs:{name}" for name in appended]
    jobs = {g: len(tracker.getJobIdsForGroup(g)) for g in groups}
    assert sum(jobs.values()) <= 5, jobs
    assert jobs["jobs:lineage"] == 1, jobs
    for name in ("lineage", "quality_jobs"):
        flushed = appended[name]._jdf.queryExecution().executedPlan().toString()
        assert "LocalTableScan" in flushed and "ExistingRDD" not in flushed, flushed
    # a small input stages one sub-bucket per bucket: each bucket job runs
    # one task and each bucket writes one file per output table
    for name in ("violations_jobs", "verdicts_jobs"):
        tasks = [
            tracker.getStageInfo(s).numTasks
            for j in tracker.getJobIdsForGroup(f"jobs:{name}")
            for s in tracker.getJobInfo(j).stageIds
        ]
        assert tasks == [1], (name, tasks)
    for name in ("violations_jobs", "verdicts_jobs", "quality_jobs"):
        files = list(Path(io.base_path, name, "bucket=0").glob("*.parquet"))
        assert len(files) == 1, (name, files)

    sc.setJobGroup("jobs:completed", "completed_buckets")
    try:
        assert LineageLog(io).completed_buckets("jobs", "validate") == [0]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(tracker.getJobIdsForGroup("jobs:completed")) == 1
    missing = TableIO(spark, base_path=str(io.base_path) + "/none")
    assert LineageLog(missing).completed_buckets("jobs", "validate") == []
