"""Byte-derived partition sizing shared by the staged lineage run and the
Arrow-kernel operators: the optimizer's size estimate of a DataFrame
(:func:`_input_bytes`) and Spark's file-split rule applied to it
(:func:`sub_bucket_count`). :func:`kernel_input` is the fan-out rule of every
``mapInArrow`` kernel over a scanned input."""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame

#: staged sub-buckets of an input whose size the optimizer does not know
UNSIZED_SUB_BUCKETS = 8


def _input_bytes(df: DataFrame) -> Optional[int]:
    """The optimizer's size estimate of ``df`` (``stats.sizeInBytes`` of
    its optimized plan: file bytes for a file scan), or None when a leaf of
    the plan has no statistics and reports ``spark.sql.defaultSizeInBytes``
    — an estimate derived from that placeholder means nothing."""
    plan = df._jdf.queryExecution().optimizedPlan()
    unknown = df.sparkSession._jsparkSession.sessionState().conf().defaultSizeInBytes()
    leaves = plan.collectLeaves()
    for i in range(leaves.size()):
        if int(str(leaves.apply(i).stats().sizeInBytes())) >= unknown:
            return None
    return int(str(plan.stats().sizeInBytes()))


def sub_bucket_count(
    size: Optional[int], num_buckets: int, max_split: int, open_cost: int, parallelism: int
) -> int:
    """Spark storage buckets per staged bucket for an input of ``size``
    bytes (None: unknown → :data:`UNSIZED_SUB_BUCKETS`), sized like Spark's
    file splits (``FilePartition.maxSplitBytes``): a split is
    ``bytes_per_bucket / parallelism``, at least ``open_cost`` and at most
    ``max_split``, and a bucket gets one storage bucket per split. Ceiling
    divisions, so a mid-sized bucket gets exactly ``parallelism``."""
    if size is None:
        return UNSIZED_SUB_BUCKETS
    per_bucket = -(-size // num_buckets)
    split = max(1, min(max_split, max(open_cost, -(-per_bucket // parallelism))))
    return max(1, -(-per_bucket // split))


def _planned_partitions(df: DataFrame) -> int:
    """Partitions ``df`` would run with, planned without a Spark job: an
    exchange-free plan's RDD partitions (file splits, local rows), else the
    output partitioning of the physical plan the adaptive plan starts from
    (0 when it is unknown). An adaptive plan's RDD is never built here:
    that would run its stages."""
    qe = df._jdf.queryExecution()
    plan = qe.executedPlan()
    if plan.nodeName() != "AdaptiveSparkPlan":
        return qe.toRdd().getNumPartitions()
    return plan.inputPlan().outputPartitioning().numPartitions()


def kernel_input(df: DataFrame) -> DataFrame:
    """``df`` as an Arrow kernel's input: its own partitions, unless the
    input's bytes call for more tasks than it plans. ``n`` is
    :func:`sub_bucket_count` of the size estimate as one bucket — Spark's
    file-split count for that many bytes: 1 up to ``openCostInBytes``, one
    per core up to ``maxPartitionBytes`` per core, then one per
    ``maxPartitionBytes`` — and ``df`` is reshuffled to ``n`` only when it
    plans fewer. An input under one split, or one without size statistics,
    keeps its partitions and pays no shuffle."""
    size = _input_bytes(df)
    if size is None:
        return df
    spark = df.sparkSession
    conf = spark._jsparkSession.sessionState().conf()
    n = sub_bucket_count(
        size, 1, conf.filesMaxPartitionBytes(), conf.filesOpenCostInBytes(),
        spark.sparkContext.defaultParallelism,
    )
    if n > 1 and _planned_partitions(df) < n:
        return df.repartition(n)
    return df
