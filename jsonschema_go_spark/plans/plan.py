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
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import reduce
from typing import List, Optional, Sequence, Union

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..compile import CompiledCheck, CompileOptions
from ..operators.uniqueness import chain_invariant
from ..rules import TableRule

VIOLATION_COLS = ("rule_id", "column", "keyword", "observed", "expected")


@dataclass
class ValidationPlan:
    table_rule: TableRule
    checks: List[CompiledCheck]
    options: CompileOptions = field(default_factory=CompileOptions)

    @property
    def rule_ids(self) -> List[str]:
        return [c.rule_id for c in self.checks]

    # ------------------------------------------------------------------
    def flags(self, df: DataFrame, keys: Sequence[str]) -> DataFrame:
        """keys + one boolean pass-flag per check (codegen-friendly wide row)."""
        cols = [F.col(k) for k in keys]
        cols += [ch.predicate.alias(ch.rule_id) for ch in self.checks]
        return df.select(*cols)

    def passing(self, df: DataFrame) -> DataFrame:
        """Rows that pass EVERY compiled check — the cleaned table a
        pipeline feeds downstream (the validation analog of a dedup
        keep-list). Pure codegen'd AND over the same predicates
        :meth:`flags` renders, no shuffle, no UDF; a row whose conjunction
        evaluates NULL (NULL input under a non-null-passing check) is
        dropped, matching SQL WHERE semantics in the oracle mirror."""
        if not self.checks:
            return df
        all_pass = reduce(lambda a, b: a & b, [ch.predicate for ch in self.checks])
        return df.where(all_pass)

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
        out = (
            df.where(any_fail)
            .select(*[F.col(k) for k in keys], F.explode(arr).alias("v"))
            .select(*keys, *[F.col(f"v.{c}") for c in VIOLATION_COLS])
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
        # evaluate every predicate ONCE: n_viol per row, any_fail derived
        fail_flags = [(~ch.predicate).cast("long") for ch in self.checks]
        n_viol = reduce(lambda a, b: a + b, fail_flags)
        return (
            df.select(pcol.alias(alias), n_viol.alias("_n_viol"))
            .select(
                alias,
                "_n_viol",
                (F.col("_n_viol") > 0).cast("long").alias("_any_fail"),
            )
            .groupBy(alias)
            .agg(
                F.count(F.lit(1)).alias("rows"),
                F.sum("_any_fail").alias("fail_rows"),
                F.sum("_n_viol").alias("violation_count"),
                (F.sum("_any_fail") == 0).alias("passed"),
            )
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
        fail_flags = [(~ch.predicate).cast("long") for ch in self.checks]
        n_viol = (
            reduce(lambda a, b: a + b, fail_flags)
            if fail_flags else F.lit(0).cast("long")
        )
        per_pair = (
            df.select(
                F.col(key_col).alias("partition_key"),
                F.col(order_col).alias("_order"),
                n_viol.alias("_n_viol"),
            )
            .groupBy("partition_key", "_order")
            .agg(
                F.count(F.lit(1)).alias("_n"),
                F.sum((F.col("_n_viol") > 0).cast("long")).alias("_fail"),
                F.sum("_n_viol").alias("_viol"),
            )
        )
        n = F.col("_n")
        per_key = per_pair.groupBy("partition_key").agg(
            F.sum(n).alias("rows"),
            F.sum("_fail").alias("fail_rows"),
            F.sum("_viol").alias("violation_count"),
            (F.sum("_fail") == 0).alias("passed"),
            F.count(F.lit(1)).alias("distinct_keys"),
            F.sum(F.when(n > 1, n).otherwise(0)).alias("duplicate_rows"),
            F.max(n).alias("max_key_rows"),
            # each level-1 group is one order value: counting the non-NULL
            # ones counts the key's distinct order values
            F.count("_order").alias("_d"),
            F.sum(F.when(F.col("_order").isNull(), n).otherwise(0)).alias("_nulls"),
            F.min("_order").alias("_mn"),
            F.max("_order").alias("_mx"),
        )
        contiguous = chain_invariant(
            F.col("rows"), F.col("_d"), F.col("_nulls"),
            F.col("_mn"), F.col("_mx"), 0,
        )
        return per_key.select(
            "partition_key", "rows", "fail_rows", "violation_count", "passed",
            "distinct_keys", "duplicate_rows", "max_key_rows",
            contiguous.alias("contiguous"),
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
        aggs = [
            F.sum(F.when(~ch.predicate, 1).otherwise(0)).alias(f"f_{i}")
            for i, ch in enumerate(self.checks)
        ] + [F.count(F.lit(1)).alias("_rows")]
        wide = df.agg(*aggs)
        pairs = F.array(
            *[
                F.struct(
                    F.lit(ch.rule_id).alias("rule_id"),
                    F.col(f"f_{i}").alias("fail_count"),
                )
                for i, ch in enumerate(self.checks)
            ]
        )
        return (
            wide.select(F.explode(pairs).alias("p"), F.col("_rows"))
            .select(
                F.col("p.rule_id").alias("rule_id"),
                F.col("p.fail_count").cast("long").alias("fail_count"),
                F.col("_rows").cast("long").alias("row_count"),
            )
        )
