"""Reference forms: earlier production code, kept out of the package as the
ground truth that the forms which replaced it are tested against."""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from jsonschema_go_spark.operators import uniqueness as uq


def seed_bucket_pass(
    plan,
    staged: DataFrame,
    b: int,
    keys: Sequence[str] = ("conv_id", "turn_idx"),
    key_col: str = "conv_id",
    order_col: str = "turn_idx",
):
    """One bucket of ``CheckpointedRun`` before the fused rollup: separate
    verdict, uniqueness and salted contiguity aggregates, their crossJoin,
    and a totals aggregate over the cached verdicts.

    → ``(violations, verdicts, quality, (rows, violations))``: the three
    DataFrames the bucket appended (``bucket`` a literal column) and the
    lineage counts it recorded.
    """
    part = staged.where(F.col("_bucket") == b).drop("_bucket")
    viol = plan.violations(part, list(keys), ordered=False).withColumn("bucket", F.lit(b))
    verd = plan.verdicts(part, key_col).withColumn("bucket", F.lit(b))
    uniq = uq.uniqueness_verdict(part, [key_col, order_col])
    contig = uq.contiguity(part, key_col, order_col, start=0).agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.sum((~F.col("contiguous")).cast("long")).alias("broken_groups"),
    )
    qual = (
        uniq.crossJoin(contig)
        .select(
            F.col("total_rows"),
            F.col("distinct_keys"),
            F.col("duplicate_rows"),
            F.col("passed").alias("unique_passed"),
            F.col("n_groups"),
            F.col("broken_groups"),
            (F.col("broken_groups") == 0).alias("contiguous_passed"),
        )
        .withColumn("bucket", F.lit(b))
    )
    tot = verd.agg(F.sum("rows").alias("r"), F.sum("violation_count").alias("v")).first()
    return viol, verd, qual, (tot["r"] or 0, tot["v"] or 0)
