"""The Arrow-kernel fan-out rule (``sizing.kernel_input``): an input keeps
its own partitions unless its bytes call for more tasks than it plans."""

from __future__ import annotations

from jsonschema_go_spark.sizing import _input_bytes, kernel_input, sub_bucket_count


def _n(spark, df):
    conf = spark._jsparkSession.sessionState().conf()
    return sub_bucket_count(
        _input_bytes(df), 1, conf.filesMaxPartitionBytes(),
        conf.filesOpenCostInBytes(), spark.sparkContext.defaultParallelism,
    )


def test_single_split_input_above_open_cost_fans_out(spark):
    """One planned partition over ~8 MB of estimated rows (above the 4 MB
    openCostInBytes) is reshuffled to sub_bucket_count partitions."""
    df = spark.range(0, 1_000_000, 1, 1)
    n = _n(spark, df)
    assert n == 2  # 8 MB in 4 MB splits
    plan = kernel_input(df)._jdf.queryExecution().executedPlan().toString()
    assert f"RoundRobinPartitioning({n})" in plan, plan


def test_many_split_and_small_inputs_keep_their_partitions(spark):
    """An input planning at least sub_bucket_count partitions, an input
    under one split and an input without size statistics pass through."""
    many = spark.range(0, 1_000_000, 1, 8)
    assert _n(spark, many) <= 8
    small = spark.range(0, 1000, 1, 1)
    assert _n(spark, small) == 1
    unsized = spark.createDataFrame(spark.sparkContext.parallelize([(i,) for i in range(10)], 1), "x long")
    assert _input_bytes(unsized) is None
    for df in (many, small, unsized):
        assert kernel_input(df) is df


def test_shuffled_input_is_sized_without_a_job(spark):
    """An input ending in a shuffle counts its planned output partitions
    from the adaptive plan, without running its stages: 3 planned keep,
    1 planned fans out to the 2 its ~8 MB call for."""
    from jsonschema_go_spark.sizing import _planned_partitions

    sc = spark.sparkContext
    wide = spark.range(0, 1_000_000, 1, 1).repartition(3, "id")
    one = spark.range(0, 1_000_000, 1, 1).repartition(1, "id")
    try:
        sc.setJobGroup("sizing_plan", "planned partitions")
        assert _planned_partitions(wide) == 3
        assert kernel_input(wide) is wide
        assert _planned_partitions(one) == 1
        plan = kernel_input(one)._jdf.queryExecution().executedPlan().toString()
        assert "RoundRobinPartitioning(2)" in plan, plan
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("sizing_plan") == []
