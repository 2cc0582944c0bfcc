"""Structured Streaming validation — the same compiled predicates applied to
an unbounded transcript stream.

The reference is batch-only (SURVEY.md §1.3), so this is scale-added surface:
the *identical* ``ValidationPlan`` (rule → Column predicates are
source-agnostic expressions) drives:

- a **violation stream**: readStream → select(predicates) → explode failures
  → append sink (no state, no watermark needed — violations are per-row);
- **windowed violation counts**: event-time tumbling windows on ``ts`` with a
  watermark for late turns — per-(window, rule) counts suitable for drift
  alerting;
- **per-conversation verdicts** via ``applyInPandasWithState``-free
  aggregation: update-mode groupBy — at 10^12-turn scale, conversations are
  bounded so state stays bounded by active-conversation count.

Tested with file sources + ``trigger(availableNow=True)`` in
tests/test_streaming.py (the sandbox has no Kafka; swapping the source is a
one-line change).
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.uniqueness import chain_invariant
from ..plans.plan import ValidationPlan, VIOLATION_COLS


# (the round-6 moment-check helper `_sumsq` is gone: count/min/max/sum/sumsq
# moments do NOT determine contiguity — from n=8 up e.g. [0,0,3,4,4,5,5,7]
# matches all five moments of 0..7. Both streaming contiguity forms now keep
# the EXACT distinct turn set plus row counts and verdict with the batch
# operator's own invariant, uniqueness.chain_invariant.)


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
    structs = F.array(
        *[
            F.when(~ch.predicate, F.lit(ch.rule_id)).otherwise(F.lit(None))
            for ch in plan.checks
        ]
    )
    failed = (
        stream.withWatermark(ts_col, watermark)
        .select(F.col(ts_col), F.explode(F.filter(structs, lambda x: x.isNotNull())).alias("rule_id"))
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


def stateful_contiguity_stream(
    stream: DataFrame,
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
    start: int = 0,
) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState`` (the mandate's
    named surface for operators Spark lacks): incremental per-conversation
    turn-chain tracking across micro-batches →
    ``(conv, rows, n_rows, min_idx, max_idx, contiguous)``.

    State per conversation is the EXACT distinct turn-index set plus a
    counter of every row seen (NULL indices included): ``rows`` is the
    distinct count, ``n_rows`` the row count. Moments would not do —
    ``[0,0,3,4,4,5,5,7]`` matches all five moments of ``0..7`` — and the
    distinct set alone is duplicate-blind (``[0,1,1,2]`` has the set of
    ``0..2``); the counter is what lets the verdict see duplicates and NULLs.
    The verdict is :func:`~jsonschema_go_spark.operators.uniqueness.chain_invariant`,
    projected on the JVM over the emitted stats, so it is the batch
    ``uniqueness.contiguity`` verdict by construction. State is O(distinct
    turns per conversation) — conversations are bounded, so state stays
    bounded by conversation length × active conversations (an upstream
    ``dropDuplicatesWithinWatermark`` cannot substitute: chaining it before
    another stateful operator is unsupported in update mode). Emits one
    updated row per conversation per micro-batch touching it → update-mode
    sink.

    Arrow-batched pandas; no per-row Python.
    """
    import pandas as pd  # noqa: F401  (used inside the worker closure)
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    # key field type comes from the INPUT schema — a non-string conversation
    # key (e.g. long ids) must round-trip through Arrow unchanged
    key_type = stream.schema[conv_col].dataType.simpleString()
    stats_schema = (
        f"{conv_col} {key_type}, rows long, n_rows long, nulls long, "
        "min_idx int, max_idx int"
    )
    state_schema = "idxs array<int>, n_rows long, n_valid long"

    def update(key, pdfs, state: "GroupState"):
        import pandas as pd

        seen, n_rows, n_valid = state.get if state.exists else ([], 0, 0)
        seen = set(seen if seen is not None else [])
        for pdf in pdfs:
            idx = pdf[idx_col].dropna()
            n_rows += len(pdf)
            n_valid += len(idx)
            seen.update(int(v) for v in idx.unique())
        state.update((sorted(seen), n_rows, n_valid))
        yield pd.DataFrame(
            [
                {
                    conv_col: key[0],
                    "rows": len(seen),
                    "n_rows": n_rows,
                    "nulls": n_rows - n_valid,
                    "min_idx": min(seen) if seen else None,
                    "max_idx": max(seen) if seen else None,
                }
            ]
        )

    stats = stream.groupBy(conv_col).applyInPandasWithState(
        update, stats_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )
    return _chain_verdict(stats, conv_col, start)


def contiguity_verdict_stream(
    stream: DataFrame,
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
    start: int = 0,
) -> DataFrame:
    """JVM-side rendition of :func:`stateful_contiguity_stream` — the SAME
    per-conversation summary ``(rows, n_rows, min_idx, max_idx,
    contiguous)`` as a plain update-mode groupBy aggregation, no
    ``applyInPandasWithState``.

    Why it exists (round 6): the pandas-state path measured **12.5× slower
    than the batch contiguity pass** at 600k turns / local[32]
    (``bench/streaming_bench.py``) — the per-group Arrow→pandas→Arrow hop
    is the engine's one non-JVM surface and would bottleneck a 100 TB
    streaming backfill.

    The aggregation state is ``collect_set(idx)`` — the exact distinct turn
    set — next to ``count(*)`` and ``count(idx)``, all associative streaming
    aggregates in one stateful operator (update-mode legal). The counts make
    the verdict duplicate- and NULL-aware: it is the batch
    :func:`~jsonschema_go_spark.operators.uniqueness.chain_invariant`, not a
    check on the distinct set alone. State is O(distinct turns per
    conversation), same bound as the pandas-state form.
    """
    idx = F.col(idx_col)
    stats = stream.groupBy(conv_col).agg(
        F.collect_set(idx).alias("_idxs"),
        F.count(F.lit(1)).alias("n_rows"),
        F.count(idx).alias("_n_valid"),
    ).select(
        F.col(conv_col),
        F.size("_idxs").cast("long").alias("rows"),
        F.col("n_rows"),
        (F.col("n_rows") - F.col("_n_valid")).alias("nulls"),
        F.array_min("_idxs").alias("min_idx"),
        F.array_max("_idxs").alias("max_idx"),
    )
    return _chain_verdict(stats, conv_col, start)


def _chain_verdict(stats: DataFrame, conv_col: str, start: int) -> DataFrame:
    """Both stream forms' output: their per-conversation stats with the
    batch chain invariant as ``contiguous``."""
    return stats.select(
        conv_col, "rows", "n_rows", "min_idx", "max_idx",
        chain_invariant(
            F.col("n_rows"), F.col("rows"), F.col("nulls"),
            F.col("min_idx"), F.col("max_idx"), start,
        ).alias("contiguous"),
    )


def conversation_verdict_stream(
    plan: ValidationPlan,
    stream: DataFrame,
    conv_col: str = "conv_id",
    ts_col: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Per-conversation rolling verdicts (update/complete mode aggregation).

    Watermark bounds state for event-time-keyed variants; keyed-by-conv_id
    aggregations stay bounded by the number of live conversations.
    """
    from functools import reduce

    if not plan.checks:
        raise ValueError("plan has no checks")
    any_fail = reduce(lambda a, b: a | b, [~ch.predicate for ch in plan.checks])
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(conv_col)
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum(any_fail.cast("long")).alias("fail_rows"),
            (F.sum(any_fail.cast("long")) == 0).alias("passed"),
        )
    )
