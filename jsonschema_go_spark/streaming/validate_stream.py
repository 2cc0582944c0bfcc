"""Structured Streaming validation — the same compiled predicates applied to
an unbounded transcript stream.

The reference is batch-only (SURVEY.md §1.3), so this is scale-added surface:
the *identical* ``ValidationPlan`` (its Columns are source-agnostic
expressions, built once per plan) drives:

- a **violation stream**: readStream → ``plan.violations`` unordered →
  append sink (no state, no watermark needed — violations are per-row),
  optionally persisted through ``TableIO`` with per-batch idempotence;
- **windowed violation counts**: the plan's failing rule ids counted in
  event-time tumbling windows on ``ts`` with a watermark for late turns —
  per-(window, rule) counts suitable for drift alerting;
- **per-conversation verdicts**: the batch and bucket verdict
  (``ValidationPlan.rollup``: verdict, ``(conv, turn)`` uniqueness and
  turn-chain contiguity) as one update-mode aggregate per conversation —
  conversations are bounded, so state stays bounded by conversation length
  × active conversations;
- **exact dedup** and **windowed drift counts** with watermark-bounded state.

Tested with file sources + ``trigger(availableNow=True)`` in
tests/test_streaming.py (the sandbox has no Kafka; swapping the source is a
one-line change).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.plan import ValidationPlan


def violation_stream(
    plan: ValidationPlan, stream: DataFrame, keys: Sequence[str]
) -> DataFrame:
    """Per-row violation rows over a streaming DataFrame (append-safe:
    stateless projection + explode)."""
    # identical construction to ValidationPlan.violations minus the sort
    # (global sort is meaningless on an unbounded stream)
    return plan.violations(stream, list(keys), ordered=False)


def windowed_violation_counts(
    plan: ValidationPlan,
    stream: DataFrame,
    ts_col: str = "ts",
    window: str = "1 minute",
    watermark: str = "2 minutes",
) -> DataFrame:
    """Tumbling-window per-rule violation counts with late-data watermark."""
    if not plan.checks:
        raise ValueError("plan has no checks")
    any_fail, exploded, _ = plan._cols.violations
    failed = (
        stream.withWatermark(ts_col, watermark)
        .where(any_fail)
        .select(F.col(ts_col), exploded)
        .select(ts_col, "v.rule_id")
    )
    return (
        failed.groupBy(F.window(ts_col, window).alias("w"), "rule_id")
        .agg(F.count(F.lit(1)).alias("violations"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "rule_id",
            "violations",
        )
    )


def violation_sink_stream(
    plan: ValidationPlan,
    stream: DataFrame,
    keys: Sequence[str],
    io,
    table: str,
    checkpoint: str,
):
    """Persist streaming violation rows through the :class:`TableIO` seam
    (parquet sandbox / Iceberg production) via ``foreachBatch`` → returns a
    ready-to-``start()`` ``DataStreamWriter``.

    Each micro-batch appends under its ``batch_id`` partition AFTER dropping
    any existing data for that id — Structured Streaming replays a batch
    whose write crashed mid-append, and the drop-then-append makes the
    replay exactly-once per batch (the same idempotence primitive the batch
    CheckpointedRun uses per bucket). The checkpoint location carries the
    stream's own progress, so a restarted query resumes from the last
    committed batch."""
    viol = violation_stream(plan, stream, keys)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        io.delete_partition(table, "batch_id", batch_id)
        io.append(
            batch_df.withColumn("batch_id", F.lit(batch_id)),
            table,
            partition_by=["batch_id"],
        )

    return (
        viol.writeStream.foreachBatch(write_batch)
        .outputMode("append")
        .option("checkpointLocation", checkpoint)
    )


def exact_dedup_stream(
    stream: DataFrame,
    text_col: str = "text",
    ts_col: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming EXACT DEDUP (7th mode): emit only the first-seen row per
    content fingerprint — the streaming face of
    :func:`operators.dedup.exact_duplicates`, using the SAME md5-of-normal-
    form fingerprint expression.

    State is bounded via ``dropDuplicatesWithinWatermark``: a fingerprint's
    dedup state is evicted once the event-time watermark passes it, so state
    size tracks the distinct-fingerprint arrival rate within the lateness
    horizon, not the stream's full history — the standard streaming-dedup
    trade (duplicates separated by more than the horizon pass through;
    batch reconciliation catches those). Null-text rows carry no
    fingerprint and pass through un-deduped, matching the batch operator's
    ``isNotNull`` scope.
    """
    from ..operators.text import fingerprint

    with_fp = stream.withColumn("_fp", fingerprint(F.col(text_col))).withWatermark(
        ts_col, watermark
    )
    deduped = with_fp.where(F.col("_fp").isNotNull()).dropDuplicatesWithinWatermark(
        ["_fp"]
    )
    passthrough = with_fp.where(F.col("_fp").isNull())
    return deduped.unionByName(passthrough).drop("_fp")


def windowed_category_counts(
    stream: DataFrame,
    value_col: str,
    ts_col: str = "ts",
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming drift, counting half: per-(event-time window, value) counts
    of a categorical column → ``(window_start, value_col, n)``.

    Feed the materialized counts into
    :func:`operators.drift.chi_square_from_counts` with
    ``group_col="window_start"`` for the cross-window chi-square — the
    statistic runs over the tiny count table, so the streaming job only ever
    maintains windowed counters (bounded state via the watermark), never raw
    rows. pytest-matched against the batch :func:`operators.drift.chi_square`
    on the same data (tests/test_streaming.py)."""
    return (
        stream.withWatermark(ts_col, watermark)
        .where(F.col(value_col).isNotNull())
        .groupBy(F.window(ts_col, window).alias("w"), F.col(value_col))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), F.col(value_col), F.col("n"))
    )


def conversation_verdict_stream(
    plan: ValidationPlan, stream: DataFrame, conv_col: str, idx_col: str
) -> DataFrame:
    """Per-conversation verdicts for an update-mode sink: the schema and
    values of ``plan.rollup(batch, conv_col, idx_col)``, emitted for each
    conversation a micro-batch touches, as of everything seen so far.

    A stream allows one aggregation, so the rollup's two levels become one
    aggregate per conversation (``_CheckColumns.stream_rollup``) that ends
    in the rollup's own output select. The output takes each column's
    nullability from the rollup over the same schema, so the two schemas
    are equal as ``StructType``s. The key has no event-time column, so no
    watermark applies; a query checkpointed by an older form of this
    aggregate needs a fresh checkpoint."""
    cols = plan._cols
    state, runs, per_key = cols.stream_rollup
    *_, out = cols.rollup
    verdicts = (
        stream.select(
            F.col(conv_col).alias("partition_key"),
            F.col(idx_col).alias("_order"),
            cols.n_viol,
        )
        .groupBy("partition_key")
        .agg(*state)
        .select(*runs)
        .select(*per_key)
        .select(*out)
    )
    want = plan.rollup(stream, conv_col, idx_col).schema
    return verdicts.select(*[
        _nullable_as(F.col(w.name), have.nullable, w).alias(w.name)
        for w, have in zip(want, verdicts.schema)
    ])


def _nullable_as(c, nullable: bool, want):
    """``c`` with the nullability of field ``want``: a CASE without ELSE is
    nullable; COALESCE with a literal is not (the column it wraps never
    holds a NULL)."""
    if want.nullable and not nullable:
        return F.when(c.isNotNull(), c)
    if nullable and not want.nullable:
        return F.coalesce(c, F.lit(0).cast(want.dataType))
    return c
