"""Table-scope uniqueness + referential contiguity — `uniqueItems` /
`dependencies` (``/root/reference/entities.go:40,49``) lifted to inter-row
constraints (SURVEY.md §2.3).

Skew design: a hot ``conv_id`` holding 1% of 10^12 rows would melt a naive
``groupBy(conv_id)``. Both operators therefore run **two-phase salted
aggregation**: phase 1 groups by ``(key, salt)`` where the salt is a hash of
the *inner* column (so each distinct inner value lands in exactly one salt
bucket — per-bucket exact distinct counts add up to the exact global
distinct), phase 2 merges the ≤``salt_buckets`` partials per key. Every
phase-1 group is ≤ 1/S of the hot key; the phase-2 input is tiny.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def chain_invariant(
    n_rows: Column, n_distinct: Column, nulls: Column,
    min_val: Column, max_val: Column, start: int,
) -> Column:
    """A group's order values are exactly the chain ``start..start+n-1`` ⇔
    ``n_rows == n_distinct ∧ nulls == 0 ∧ min == start ∧ max == start +
    n_rows − 1``, where ``n_rows`` counts every row of the group (NULL order
    values included) and ``n_distinct`` the distinct non-NULL values.

    The ONE statement of the invariant: the batch :func:`contiguity` and
    ``ValidationPlan.rollup`` (bucket and stream verdicts) both verdict
    through it, so they cannot drift."""
    return (
        (n_rows == n_distinct)
        & (nulls == 0)
        & (min_val == start)
        & (max_val == start + n_rows - 1)
    )


def duplicates(df: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Key tuples appearing more than once → ``(*keys, dup_count)``.

    Plain hash-agg count: Spark's partial aggregation does the map-side
    combine, so even a hot key ships at most one partial row per task — no
    explicit salting needed for a pure COUNT.
    """
    keys = list(keys)
    return (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("dup_count"))
        .where(F.col("dup_count") > 1)
    )


def uniqueness_verdict(df: DataFrame, keys: Sequence[str]) -> DataFrame:
    """One row: ``(total_rows, distinct_keys, duplicate_rows, passed)``."""
    keys = list(keys)
    per_key = df.groupBy(*keys).agg(F.count(F.lit(1)).alias("n"))
    return per_key.agg(
        F.sum("n").alias("total_rows"),
        F.count(F.lit(1)).alias("distinct_keys"),
        F.sum(F.when(F.col("n") > 1, F.col("n")).otherwise(0)).alias("duplicate_rows"),
        (F.max("n") <= 1).alias("passed"),
    )


def contiguity(
    df: DataFrame,
    partition_by: str = "conv_id",
    order_by: str = "turn_idx",
    start: int = 0,
    salt_buckets: int = 32,
) -> DataFrame:
    """Per-group turn-chain check WITHOUT a window sort.

    A group's ``order_by`` values are exactly the contiguous chain
    ``start..start+n-1`` ⇔ :func:`chain_invariant` over its count, distinct
    count, NULL count, min and max — pure aggregation, so the hot-group problem
    reduces to salted two-phase agg (salt = hash(order_by) % S keeps each
    distinct order value in one bucket ⇒ sum of per-bucket exact distincts is
    the exact global distinct).

    → ``(partition_by, n_rows, n_distinct, min_val, max_val, contiguous)``.
    """
    salt = F.pmod(F.xxhash64(F.col(order_by)), F.lit(salt_buckets))
    phase1 = (
        df.groupBy(F.col(partition_by), salt.alias("_salt"))
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.count_distinct(F.col(order_by)).alias("_d"),
            F.min(order_by).alias("_mn"),
            F.max(order_by).alias("_mx"),
            F.sum(F.col(order_by).isNull().cast("long")).alias("_nulls"),
        )
    )
    out = phase1.groupBy(partition_by).agg(
        F.sum("_n").alias("n_rows"),
        F.sum("_d").alias("n_distinct"),
        F.min("_mn").alias("min_val"),
        F.max("_mx").alias("max_val"),
        F.sum("_nulls").alias("null_count"),
    )
    contiguous = chain_invariant(
        F.col("n_rows"), F.col("n_distinct"), F.col("null_count"),
        F.col("min_val"), F.col("max_val"), start,
    )
    return out.select(
        partition_by, "n_rows", "n_distinct", "min_val", "max_val",
        contiguous.alias("contiguous"),
    )


def contiguity_violations(
    df: DataFrame,
    partition_by: str = "conv_id",
    order_by: str = "turn_idx",
    start: int = 0,
) -> DataFrame:
    """Per-row attribution of chain breaks via window lag — the fine-grained
    path (SURVEY.md §2.3). Use :func:`contiguity` for the skew-safe verdict;
    this window sorts each group in one task and is intended for drill-down
    on the (small) set of already-failed groups.
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy(partition_by).orderBy(order_by)
    prev = F.lag(order_by).over(w)
    gap = F.when(prev.isNull(), F.col(order_by) - start).otherwise(
        F.col(order_by) - prev - 1
    )
    return (
        df.select(partition_by, order_by, gap.alias("gap"))
        .where(F.col("gap") != 0)
        .withColumnRenamed(order_by, "observed_idx")
    )


def monotonic_violations(
    df: DataFrame,
    partition_by: str = "conv_id",
    order_by: str = "turn_idx",
    column: str = "ts",
) -> DataFrame:
    """Rows where ``column`` decreases along the ``order_by`` chain
    (optional ts-monotonic invariant, FIXTURES.md F1).

    The window order is made TOTAL by tie-breaking on ``column`` itself —
    duplicate ``order_by`` keys would otherwise make lag() engine-dependent,
    and an equal-key tie must never count as a regression.
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy(partition_by).orderBy(order_by, column)
    prev = F.lag(column).over(w)
    return (
        df.select(partition_by, order_by, F.col(column), prev.alias("_prev"))
        .where(F.col("_prev").isNotNull() & (F.col(column) < F.col("_prev")))
        .select(partition_by, order_by, F.col(column).alias("observed"),
                F.col("_prev").alias("previous"))
    )


def fk_orphans(
    child: DataFrame,
    child_key: str,
    parent: DataFrame,
    parent_key: str,
    broadcast_parent: bool = True,
) -> DataFrame:
    """CROSS-TABLE referential integrity: child rows whose foreign key has
    no matching parent row (SQL FK semantics: NULL FKs pass — a NULL
    reference is "no reference", not an orphan).

    Scale shape: the check only needs the parent's DISTINCT KEY SET, so
    only (key) columns move — with ``broadcast_parent`` (dimension tables:
    the common case) the anti-join is a broadcast hash join, zero shuffle
    of the child. For big-big pairs pass ``False``: a plain shuffle
    anti-join on the key, which AQE converts back to broadcast when the
    deduped key set turns out small at runtime.
    """
    keys = parent.select(F.col(parent_key).alias(child_key)).distinct()
    if broadcast_parent:
        keys = F.broadcast(keys)
    return child.where(F.col(child_key).isNotNull()).join(
        keys, child_key, "left_anti"
    )


def fk_conformance(fks) -> DataFrame:
    """Per-FK conformance summary → ``(fk, child_rows, orphan_rows)`` for a
    list of ``(name, child_df, child_key, parent_df, parent_key)`` or
    ``(..., parent_key, broadcast_parent)`` tuples — one lazy plan (union of
    per-FK aggregate branches), one action. ``child_rows`` counts
    non-NULL-FK rows (the checked population).

    Scale shape: ONE scan of each child table per FK — a LEFT join against
    the parent's distinct key set (keys-only) with conditional aggregation
    (``orphan_rows`` = unmatched rows), instead of separate count +
    anti-join-count branches that would scan the (100 TB) fact table twice.
    ``broadcast_parent`` (default True — dimension parents) forces a
    broadcast hash join, zero shuffle of the child; pass False for big-big
    pairs (e.g. a fact referencing another fact's key): a shuffle join on
    the key, which AQE converts back to broadcast when the deduped key set
    turns out small at runtime. NULL parent keys never match the equi-join
    condition, so semantics are identical to the anti-join form either way.
    """
    if not fks:
        raise ValueError("fks must be non-empty")
    parts = []
    for spec in fks:
        name, child, ck, parent, pk, *rest = spec
        broadcast_parent = rest[0] if rest else True
        keys = parent.select(F.col(pk).alias("__pk")).distinct()
        if broadcast_parent:
            keys = F.broadcast(keys)
        # both sides aliased (r6): joining the raw child column against
        # __pk made a child whose FK column is literally named __pk
        # self-referential/ambiguous, corrupting the orphan count
        joined = (
            child.where(F.col(ck).isNotNull())
            .select(F.col(ck).alias("__ck"))
            .join(keys, F.col("__ck") == F.col("__pk"), "left")
        )
        parts.append(
            joined.agg(
                F.count(F.lit(1)).alias("child_rows"),
                F.coalesce(
                    F.sum(F.col("__pk").isNull().cast("long")), F.lit(0)
                ).alias("orphan_rows"),
            ).select(F.lit(name).alias("fk"), "child_rows", "orphan_rows")
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
