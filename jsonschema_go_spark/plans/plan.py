"""ValidationPlan — the compiled, executable form of a TableRule.

One pass over the data computes every check (single ``select`` — Catalyst
fuses all predicates into one whole-stage-codegen stage; the scan reads only
the columns that non-trivial rules touch, so IsTrivial elision
(``/root/reference/helper.go:194``) turns directly into parquet column
pruning).

Outputs (SURVEY.md §2.3):

- violation rows ``(keys..., rule_id, column, keyword, observed, expected)``
  via ``F.array`` of violation structs + ``explode`` of failures — the
  ``ExtraProperties``-style detail retention analog;
- per-partition pass/fail verdicts via partial+final hash-agg (the
  ``SchemaOrBool`` boolean-verdict form, ``/root/reference/entities.go:620``);
- per-rule summary counts.

The predicate-derived Columns behind these outputs are built once per plan
(:class:`_CheckColumns`) and reused by every call, so a per-bucket loop pays
only for its DataFrame operations.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import cached_property, reduce
from typing import List, Optional, Sequence, Tuple, Union

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..compile import CompiledCheck, CompileOptions
from ..operators.uniqueness import chain_invariant
from ..rules import TableRule

VIOLATION_COLS = ("rule_id", "column", "keyword", "observed", "expected")


class _CheckColumns:
    """The Columns a plan derives from one list of checks, each group built
    on its first use and reused by every later call. Building a Column costs
    a JVM round trip per function, literal and alias — about 1,750 for the
    transcript rules' violation array — which a per-bucket loop would
    otherwise pay once per bucket and call."""

    def __init__(self, checks: Sequence[CompiledCheck]):
        self.checks = tuple(checks)

    def built_from(self, checks: Sequence[CompiledCheck]) -> bool:
        return len(checks) == len(self.checks) and all(
            a is b for a, b in zip(checks, self.checks)
        )

    @cached_property
    def flags(self) -> List[Column]:
        return [ch.predicate.alias(ch.rule_id) for ch in self.checks]

    @cached_property
    def all_pass(self) -> Column:
        return reduce(lambda a, b: a & b, [ch.predicate for ch in self.checks])

    @cached_property
    def n_viol(self) -> Column:
        """``_n_viol``: how many checks the row fails, every predicate
        evaluated ONCE (``any_fail`` derives from it)."""
        fail_flags = [(~ch.predicate).cast("long") for ch in self.checks]
        n_viol = (
            reduce(lambda a, b: a + b, fail_flags)
            if fail_flags else F.lit(0).cast("long")
        )
        return n_viol.alias("_n_viol")

    @cached_property
    def violations(self) -> Tuple[Column, Column, List[Column]]:
        """(any_fail filter, exploded violation struct ``v``, its fields)."""
        # pre-filter to failing rows FIRST: any_fail is a cheap codegen'd OR,
        # and the allocation-heavy struct-array + explode then touches only
        # the (typically ≪1%) failing rows — measured 4× at 97M rows
        any_fail = reduce(lambda a, b: a | b, [~ch.predicate for ch in self.checks])
        viol_structs = [
            F.when(
                ~ch.predicate,
                F.struct(
                    F.lit(ch.rule_id).alias("rule_id"),
                    F.lit(ch.column).alias("column"),
                    F.lit(ch.keyword).alias("keyword"),
                    F.col(ch.column).cast("string").alias("observed"),
                    F.lit(ch.expected).alias("expected"),
                ),
            )
            for ch in self.checks
        ]
        arr = F.filter(F.array(*viol_structs), lambda x: x.isNotNull())
        return any_fail, F.explode(arr).alias("v"), [F.col(f"v.{c}") for c in VIOLATION_COLS]

    @cached_property
    def verdicts(self) -> Tuple[List[Column], List[Column]]:
        """(per-row ``_n_viol``/``_any_fail`` columns, per-group aggregates)."""
        n_viol = F.col("_n_viol")
        any_fail = F.col("_any_fail")
        return [n_viol, (n_viol > 0).cast("long").alias("_any_fail")], [
            F.count(F.lit(1)).alias("rows"),
            F.sum(any_fail).alias("fail_rows"),
            F.sum(n_viol).alias("violation_count"),
            (F.sum(any_fail) == 0).alias("passed"),
        ]

    @cached_property
    def rollup(self) -> Tuple[List[Column], List[Column], List[Column], List[Column]]:
        """(level-1 keys, level-1 aggregates, level-2 aggregates, output)."""
        n_viol, n, order = F.col("_n_viol"), F.col("_n"), F.col("_order")
        per_pair = [
            F.count(F.lit(1)).alias("_n"),
            F.sum((n_viol > 0).cast("long")).alias("_fail"),
            F.sum(n_viol).alias("_viol"),
        ]
        per_key = [
            F.sum(n).alias("rows"),
            F.sum("_fail").alias("fail_rows"),
            F.sum("_viol").alias("violation_count"),
            (F.sum("_fail") == 0).alias("passed"),
            F.count(F.lit(1)).alias("distinct_keys"),
            F.sum(F.when(n > 1, n).otherwise(0)).alias("duplicate_rows"),
            F.max(n).alias("max_key_rows"),
            # each level-1 group is one order value: counting the non-NULL
            # ones counts the key's distinct order values
            F.count(order).alias("_d"),
            F.sum(F.when(order.isNull(), n).otherwise(0)).alias("_nulls"),
            F.min(order).alias("_mn"),
            F.max(order).alias("_mx"),
        ]
        contiguous = chain_invariant(
            F.col("rows"), F.col("_d"), F.col("_nulls"),
            F.col("_mn"), F.col("_mx"), 0,
        )
        out = [
            F.col(c) for c in (
                "partition_key", "rows", "fail_rows", "violation_count", "passed",
                "distinct_keys", "duplicate_rows", "max_key_rows",
            )
        ] + [contiguous.alias("contiguous")]
        return [F.col("partition_key"), order], per_pair, per_key, out

    @cached_property
    def stream_rollup(self) -> Tuple[List[Column], List[Column], List[Column]]:
        """(per-key state aggregates, run pass, :attr:`rollup`'s level-2
        inputs) for a stream, which allows one aggregation. The state keeps
        the key's order values (moments cannot stand in for them:
        ``[0,0,3,4,4,5,5,7]`` matches all five moments of ``0..7``); ONE pass
        over them sorted yields what the level-1 ``(key, order)`` groups
        give: distinct values, rows in repeated values, the longest run."""
        n_viol = F.col("_n_viol")
        state = [
            F.count(F.lit(1)).alias("rows"),
            F.sum((n_viol > 0).cast("long")).alias("fail_rows"),
            F.sum(n_viol).alias("violation_count"),
            F.collect_list("_order").alias("_orders"),
        ]
        srt = F.array_sort("_orders")
        zero = F.struct(
            F.get(srt, 0).alias("first"),
            F.get(srt, 0).alias("last"),
            *[F.lit(0).cast("long").alias(f) for f in ("run", "d", "dup", "top")],
        )

        def step(acc: Column, x: Column) -> Column:
            new = (acc["run"] == 0) | (x != acc["last"])
            run = F.when(new, F.lit(1).cast("long")).otherwise(acc["run"] + 1)
            return F.struct(
                acc["first"].alias("first"),
                x.alias("last"),
                run.alias("run"),
                (acc["d"] + new.cast("long")).alias("d"),
                # a value's rows count once its run reaches 2
                (acc["dup"] + F.when(run == 2, 2).when(run > 2, 1).otherwise(0)).alias("dup"),
                F.greatest(acc["top"], run).alias("top"),
            )

        keep = [F.col(c) for c in ("partition_key", "rows", "fail_rows", "violation_count")]
        runs = keep + [
            (F.col("rows") - F.size("_orders")).alias("_nulls"),
            F.aggregate(srt, zero, step).alias("_r"),
        ]
        r, nulls = F.col("_r"), F.col("_nulls")
        per_key = keep + [
            (F.col("fail_rows") == 0).alias("passed"),
            (r["d"] + (nulls > 0).cast("long")).alias("distinct_keys"),
            (r["dup"] + F.when(nulls > 1, nulls).otherwise(0)).alias("duplicate_rows"),
            F.greatest(r["top"], nulls).alias("max_key_rows"),
            r["d"].alias("_d"),
            nulls,
            r["first"].alias("_mn"),
            r["last"].alias("_mx"),
        ]
        return state, runs, per_key

    @cached_property
    def summary(self) -> Tuple[List[Column], List[Column], List[Column]]:
        """(wide aggregates, exploded ``(rule_id, fail_count)`` pairs, output)."""
        aggs = [
            F.sum(F.when(~ch.predicate, 1).otherwise(0)).alias(f"f_{i}")
            for i, ch in enumerate(self.checks)
        ] + [F.count(F.lit(1)).alias("_rows")]
        pairs = F.array(
            *[
                F.struct(
                    F.lit(ch.rule_id).alias("rule_id"),
                    F.col(f"f_{i}").alias("fail_count"),
                )
                for i, ch in enumerate(self.checks)
            ]
        )
        out = [
            F.col("p.rule_id").alias("rule_id"),
            F.col("p.fail_count").cast("long").alias("fail_count"),
            F.col("_rows").cast("long").alias("row_count"),
        ]
        return aggs, [F.explode(pairs).alias("p"), F.col("_rows")], out


@dataclass
class ValidationPlan:
    table_rule: TableRule
    checks: List[CompiledCheck]
    options: CompileOptions = field(default_factory=CompileOptions)
    _derived: Optional[_CheckColumns] = field(
        default=None, init=False, repr=False, compare=False
    )

    @property
    def rule_ids(self) -> List[str]:
        return [c.rule_id for c in self.checks]

    @property
    def _cols(self) -> _CheckColumns:
        """The Columns derived from the CURRENT checks. ``checks`` may be
        reassigned or edited after compile (``CompileOptions.prepare_plan``),
        so a cache built from other check objects is rebuilt; a changed
        check must be a new ``CompiledCheck``, not one edited in place."""
        if self._derived is None or not self._derived.built_from(self.checks):
            self._derived = _CheckColumns(self.checks)
        return self._derived

    # ------------------------------------------------------------------
    def flags(self, df: DataFrame, keys: Sequence[str]) -> DataFrame:
        """keys + one boolean pass-flag per check (codegen-friendly wide row)."""
        return df.select(*[F.col(k) for k in keys], *self._cols.flags)

    def passing(self, df: DataFrame) -> DataFrame:
        """Rows that pass EVERY compiled check — the cleaned table a
        pipeline feeds downstream (the validation analog of a dedup
        keep-list). Pure codegen'd AND over the same predicates
        :meth:`flags` renders, no shuffle, no UDF; a row whose conjunction
        evaluates NULL (NULL input under a non-null-passing check) is
        dropped, matching SQL WHERE semantics in the oracle mirror."""
        if not self.checks:
            return df
        return df.where(self._cols.all_pass)

    def violations(self, df: DataFrame, keys: Sequence[str], ordered: bool = True) -> DataFrame:
        """Materialized violation rows, one per failed (row, check).

        Stable ``keys`` ordering (byte-stable output per SURVEY.md §7) when
        ``ordered`` — callers at scale can skip the sort and rely on
        write-time sortWithinPartitions ordering instead.
        """
        if not self.checks:
            # preserve key dtypes so the schema is stable whether or not any
            # checks compiled (trivial-only plans included)
            return df.select(
                *[F.col(k) for k in keys],
                *[F.lit(None).cast("string").alias(c) for c in VIOLATION_COLS],
            ).limit(0)

        any_fail, exploded, fields = self._cols.violations
        out = (
            df.where(any_fail)
            .select(*keys, exploded)
            .select(*keys, *fields)
        )
        if ordered:
            out = out.orderBy(*keys, "rule_id")
        return out

    def violations_sampled(
        self,
        df: DataFrame,
        keys: Sequence[str],
        max_per_rule: int = 1000,
        bucket_col: Optional[str] = None,
    ) -> DataFrame:
        """Violations capped at ``max_per_rule`` rows per (rule_id[, bucket]).

        For pathological inputs where one rule fails EVERY row, full
        materialization is O(rows) output; sampling keeps triage usable and
        output bounded. Two-phase cap so the skewed rule never needs a
        single-reducer sort of all its failures: a deterministic salt
        (xxhash64 of the keys) first caps each of 64 salt slices, shrinking
        the global ranking input to ≤ 64 × cap rows per rule; ranking is by
        ``keys`` so the result is deterministic (the FIRST cap rows in key
        order, matching the byte-stable ordering contract).
        """
        viol = self.violations(df, keys, ordered=False)
        part = ["rule_id"] + ([bucket_col] if bucket_col else [])
        key_cols = [F.col(k) for k in keys]
        salt = F.pmod(F.xxhash64(*key_cols), F.lit(64)).alias("_salt")
        w_local = Window.partitionBy(*part, "_salt").orderBy(*keys)
        w_global = Window.partitionBy(*part).orderBy(*keys)
        return (
            viol.withColumn("_salt", salt)
            .withColumn("_rn", F.row_number().over(w_local))
            .where(F.col("_rn") <= max_per_rule)
            .withColumn("_rn", F.row_number().over(w_global))
            .where(F.col("_rn") <= max_per_rule)
            .drop("_salt", "_rn")
        )

    def verdicts(
        self,
        df: DataFrame,
        partition_by: Union[str, Column],
        alias: str = "partition_key",
    ) -> DataFrame:
        """Per-partition pass/fail: ``(partition_key, rows, fail_rows,
        violation_count, passed)``. Map-side partial agg keeps the shuffle to
        one long per (partition, check)."""
        pcol = F.col(partition_by) if isinstance(partition_by, str) else partition_by
        if not self.checks:
            return df.groupBy(pcol.alias(alias)).agg(
                F.count(F.lit(1)).alias("rows"),
                F.lit(0).cast("long").alias("fail_rows"),
                F.lit(0).cast("long").alias("violation_count"),
                F.lit(True).alias("passed"),
            )
        per_row, aggs = self._cols.verdicts
        return (
            df.select(pcol.alias(alias), self._cols.n_viol)
            .select(alias, *per_row)
            .groupBy(alias)
            .agg(*aggs)
        )

    def rollup(self, df: DataFrame, key_col: str, order_col: str) -> DataFrame:
        """Per-key verdicts plus ``(key, order)`` uniqueness and chain
        statistics from ONE two-level aggregate: by ``(key, order)``, then by
        ``key``. Both levels group by a superset of ``key_col``, so over input
        hash-partitioned on it (the staged, bucketed table of a
        CheckpointedRun) neither level plans an Exchange.

        → ``(partition_key, rows, fail_rows, violation_count, passed,
        distinct_keys, duplicate_rows, max_key_rows, contiguous)``: the
        :meth:`verdicts` columns; the number of distinct ``(key, order)``
        tuples, the rows in duplicated tuples and the largest tuple count
        (``uniqueness.uniqueness_verdict`` per key); and the
        ``uniqueness.contiguity`` verdict (chain starting at 0) of the key's
        order chain.
        """
        pair_keys, per_pair, per_key, out = self._cols.rollup
        return (
            df.select(
                F.col(key_col).alias("partition_key"),
                F.col(order_col).alias("_order"),
                self._cols.n_viol,
            )
            .groupBy(*pair_keys)
            .agg(*per_pair)
            .groupBy(pair_keys[0])
            .agg(*per_key)
            .select(*out)
        )

    def repair(self, df: DataFrame) -> DataFrame:
        """Repair mode: apply ``default`` values to NULL cells.

        ``default`` is an annotation, never an assertion
        (``/root/reference/entities.go:23``; SURVEY.md §2.1) — the only
        runtime effect it may have is this opt-in coalesce pass.
        """
        from ..rules import ABSENT, Rule

        out = df
        for col, rule in self.table_rule.columns.items():
            if isinstance(rule, Rule) and rule.default is not ABSENT and rule.default is not None:
                out = out.withColumn(
                    col, F.coalesce(F.col(col), F.lit(rule.default).cast(dict(df.dtypes)[col]))
                )
        return out

    def summary(self, df: DataFrame) -> DataFrame:
        """Per-rule pass/fail counts in ONE aggregation pass (no shuffle per
        rule; single final row is unioned-by-explode into tidy form)."""
        if not self.checks:
            return df.sparkSession.createDataFrame(
                [], "rule_id string, fail_count long, row_count long"
            )
        aggs, pairs, out = self._cols.summary
        return df.agg(*aggs).select(*pairs).select(*out)
