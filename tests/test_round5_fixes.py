"""Round-5 fixes (VERDICT.md r4 "Next round" items 1-4 + ADVICE r4):

1. Registry fits the driver's observed 50-entry CORRECTNESS-snapshot cap
   (r4 registered 52 and the driver recorded exactly the first 50 in
   iteration order — the last two queries were silently uncovered).
2. `fk_conformance` computes child_rows + orphan_rows in ONE scan of each
   child table per FK (broadcast left join + conditional aggregation)
   instead of separate count and anti-join-count branches.
3. Plan-shape regression pins for the most expensive gated queries —
   Exchange/Window/join-strategy counts — so a future refactor can't
   silently reintroduce a shuffle or a per-row window. (Reference
   test-strategy analog: golden-artifact equality,
   ``/root/reference/reflect_test.go:36-85``, applied to physical plans.)
4. ADVICE r4 guards: empty `query_ids` / absent ids in the stored-IVF
   sidecar lookup, empty `fks` list, zip-deployment STAGE_DIR fallback.
"""

from __future__ import annotations

import os
import re
import tempfile

import pytest
from pyspark.sql import functions as F

from jsonschema_go_spark.operators import similarity as sim
from jsonschema_go_spark.operators import uniqueness as uq
from tests import reference_forms as rf

SF_DIR = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _shape(plan: str) -> dict:
    """Plan-shape fingerprint: shuffle exchanges (the scale-governing cost),
    broadcast vs shuffle join strategies, and Window operators."""
    return {
        "shuffle_exchanges": len(re.findall(r"Exchange (hash|range|Single)", plan)),
        "broadcast_joins": plan.count("BroadcastHashJoin"),
        "windows": len(re.findall(r"\bWindow\b", plan)),
        "shuffle_joins": plan.count("ShuffledHashJoin") + plan.count("SortMergeJoin"),
    }


# ------------------------------------------------------------ registry cap


def test_registry_fits_driver_snapshot_cap():
    """The driver's per-round CORRECTNESS snapshot records at most the FIRST
    50 queries() entries (observed r4: 52 registered, exactly the last 2
    absent). Every registered query must fit under the cap, and the only
    oracle-less entry is the recall META-report (no oracle possible)."""
    from jsonschema_go_spark.queries import get_oracles, get_queries

    q, o = get_queries(), get_oracles()
    assert len(q) <= 50, (
        f"{len(q)} queries() entries exceed the driver's 50-entry snapshot "
        f"cap — entries past 50 would be unrecorded: {list(q)[50:]}"
    )
    assert set(o) <= set(q)
    assert set(q) - set(o) == {"ann_recall_report"}


# ------------------------------------------------- fk single-pass + guards


def test_fk_conformance_single_scan_per_child(spark, tmp_path):
    """One scan of the (100 TB) child table per FK: the summary plan reads
    child and parent parquet exactly once each — a broadcast LEFT join with
    conditional aggregation, not count + anti-join-count branches."""
    child = spark.createDataFrame(
        [(1, 10), (2, 99), (3, None), (4, 20)], "id long, fk int"
    )
    parent = spark.createDataFrame([(10,), (20,), (30,)], "pk int")
    cp, pp = str(tmp_path / "child"), str(tmp_path / "parent")
    child.write.parquet(cp)
    parent.write.parquet(pp)
    c, p = spark.read.parquet(cp), spark.read.parquet(pp)

    out = uq.fk_conformance([("child.fk", c, "fk", p, "pk")])
    plan = _plan(out)
    assert plan.count("Scan parquet") == 2, plan
    assert "BroadcastHashJoin" in plan and "LeftOuter" in plan
    assert [tuple(r) for r in out.collect()] == [("child.fk", 3, 1)]


def test_fk_conformance_empty_fks_raises():
    with pytest.raises(ValueError, match="non-empty"):
        uq.fk_conformance([])


def test_fk_conformance_big_big_shuffle_join(spark):
    """6-tuple form with broadcast_parent=False: a big-big FK pair must plan
    a SHUFFLE join on the key (AQE may still demote to broadcast at runtime
    from the deduped key-set size), with identical output."""
    child = spark.createDataFrame(
        [(1, 10), (2, 99), (3, None), (4, 20)], "id long, fk int"
    )
    parent = spark.createDataFrame([(10,), (20,), (30,)], "pk int")
    out = uq.fk_conformance([("child.fk", child, "fk", parent, "pk", False)])
    plan = _plan(out)
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan
    assert [tuple(r) for r in out.collect()] == [("child.fk", 3, 1)]


def test_fk_conformance_null_parent_key_harmless(spark):
    """A NULL in the parent key set must not change orphan semantics (the
    equi-join condition never matches NULL — identical to the anti-join)."""
    child = spark.createDataFrame([(1, 10), (2, 99)], "id long, fk int")
    parent = spark.createDataFrame([(10,), (None,)], "pk int")
    got = uq.fk_conformance([("c.fk", child, "fk", parent, "pk")]).collect()
    assert [tuple(r) for r in got] == [("c.fk", 2, 1)]


# ------------------------------------------------- stored-IVF lookup guards


def test_stored_lookup_empty_and_missing_ids(spark, tmp_path):
    df = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    path = str(tmp_path / "ivf")
    sim.write_ivf_index(df, "vec_id", "embedding", path, n_cells=4)
    with pytest.raises(ValueError, match="non-empty"):
        sim._stored_query_lookup(spark, path, "vec_id", "embedding", [])
    with pytest.raises(KeyError, match="99999999"):
        sim._stored_query_lookup(
            spark, path, "vec_id", "embedding", [0, 99999999]
        )


# ----------------------------------------------------- STAGE_DIR zip mode


def test_stage_dir_zip_fallback(monkeypatch):
    """Under --py-files the package root is INSIDE a zip — a sibling .stage
    can't be created there, so the default must fall back to tmp (env
    override still wins)."""
    from jsonschema_go_spark.sources import transcripts as tr

    monkeypatch.delenv("SPARK_GRAFT_STAGE_DIR", raising=False)
    zip_root = "/root/repo/dist/jsonschema_go_spark.zip"
    assert os.path.isfile(zip_root)
    got = tr._default_stage_dir(zip_root)
    assert got.startswith(tempfile.gettempdir())
    # plain directory root keeps the repo-local default
    assert tr._default_stage_dir("/root/repo") == "/root/repo/.stage"
    # env override wins in both modes
    monkeypatch.setenv("SPARK_GRAFT_STAGE_DIR", "/tmp/explicit-stage")
    assert tr._default_stage_dir(zip_root) == "/tmp/explicit-stage"


# ------------------------------------------- CC checkpoint memory release


def test_connected_components_releases_round_checkpoints(spark):
    """r5: every star round localCheckpoints its edge set; without releasing
    the previous round once the next is materialized, a long run pins EVERY
    round's edge set in executor memory (R× the working set at 10⁹ edges).
    After a distributed run exactly ONE new RDD may remain persisted — the
    final converged edge set the returned labels read."""
    from jsonschema_go_spark.operators import dedup as dd

    sc = spark.sparkContext

    def n_persisted():
        return sc._jsc.sc().getPersistentRDDs().size()

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(0, 400, 2)]
        + [(i, i + 2) for i in range(0, 400, 4)],
        "id_a long, id_b long",
    )
    before = n_persisted()
    cc = dd.connected_components(pairs, local_finish_threshold=0)
    rows = cc.collect()
    assert dd._LAST_ROUNDS >= 2  # several rounds ran, so several checkpoints
    assert n_persisted() - before <= 1
    # labels still correct: (i,i+1) pairs + (i,i+2) bridges at i%4==0 form
    # blocks of four {4k..4k+3} rooted at 4k
    comp = {r["node"]: r["component"] for r in rows}
    assert comp[399] == 396 and comp[3] == 0 and comp[0] == 0


# ----------------------------------------------- distributed exact KS ECDF


def _ks_exact_single_window_reference(df_a, df_b, value_col):
    """The pre-r5 implementation: one unpartitioned cumulative window over
    all distinct values — kept as the semantic reference."""
    from pyspark.sql.window import Window as W

    a = (
        df_a.where(F.col(value_col).isNotNull())
        .groupBy(F.col(value_col).cast("double").alias("v"))
        .agg(F.count(F.lit(1)).alias("ca"))
    )
    b = (
        df_b.where(F.col(value_col).isNotNull())
        .groupBy(F.col(value_col).cast("double").alias("v"))
        .agg(F.count(F.lit(1)).alias("cb"))
    )
    merged = a.join(b, "v", "full_outer").select(
        "v",
        F.coalesce("ca", F.lit(0)).alias("ca"),
        F.coalesce("cb", F.lit(0)).alias("cb"),
    )
    w = W.orderBy("v").rowsBetween(W.unboundedPreceding, W.currentRow)
    w_all = W.partitionBy()
    ecdf = merged.select(
        F.sum("ca").over(w).alias("cum_a"),
        F.sum("cb").over(w).alias("cum_b"),
        F.sum("ca").over(w_all).alias("na"),
        F.sum("cb").over(w_all).alias("nb"),
    )
    diff = F.when(
        (F.col("na") == 0) | (F.col("nb") == 0), F.lit(None)
    ).otherwise(F.abs(F.col("cum_a") / F.col("na") - F.col("cum_b") / F.col("nb")))
    return ecdf.agg(
        F.max(diff).alias("ks_d"),
        F.first("na").cast("long").alias("n_a"),
        F.first("nb").cast("long").alias("n_b"),
    )


@pytest.mark.parametrize("parts", [1, 3, 16])
def test_ks_exact_distributed_matches_single_window(spark, parts):
    """r5 rewrite: the range-partitioned two-phase prefix sum must be
    BIT-identical to the single-window reference at any partition count —
    prefix sums are exact long arithmetic, so only the division doubles
    reach float land and they divide identical integers."""
    import struct as st

    from jsonschema_go_spark.operators import drift as dr

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    df_a = ev.where(F.col("event_id") % 2 == 0).select("value")
    df_b = ev.where(F.col("event_id") % 2 == 1).select("value")
    got = dr.ks_exact(df_a, df_b, "value", range_partitions=parts).first()
    want = _ks_exact_single_window_reference(df_a, df_b, "value").first()
    assert st.pack("<d", got["ks_d"]) == st.pack("<d", want["ks_d"])
    assert (got["n_a"], got["n_b"]) == (want["n_a"], want["n_b"])
    # empty-side and empty-both edge behavior preserved
    empty = df_a.limit(0)
    e1 = dr.ks_exact(empty, df_b, "value", range_partitions=parts).first()
    assert e1["ks_d"] is None and e1["n_a"] == 0
    e2 = dr.ks_exact(empty, empty, "value", range_partitions=parts).first()
    assert e2["ks_d"] is None and e2["n_a"] is None


def test_ks_exact_no_unpartitioned_data_window(spark):
    """Plan shape: every Window over the DATA is partitioned (_pid); the
    only global constructs run over ≤P partition-total rows."""
    from jsonschema_go_spark.operators import drift as dr

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    df_a = ev.where(F.col("event_id") % 2 == 0).select("value")
    df_b = ev.where(F.col("event_id") % 2 == 1).select("value")
    out = dr.ks_exact(df_a, df_b, "value")
    plan = _plan(out)
    import re as _re

    # the data-path prefix window must be partitioned by _pid; windows
    # without a partition column may only sit above the tiny
    # per-partition-totals aggregate (≤P rows), and the data path must be
    # fed by a RANGE exchange (balanced sorted splits), not a single task
    specs = _re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs, plan
    assert any("_pid" in s for s in specs), plan
    assert "rangepartitioning" in plan.lower(), plan


# ------------------------------------------------- ValidationPlan.passing


def test_plan_passing_complements_violations(spark):
    """r5 engine surface: `passing()` (the cleaned table) must be exactly
    the rows that produce NO violation row — complement check on the staged
    sf0.001 transcripts, plus a plan assertion: a pure filter, no shuffle."""
    from jsonschema_go_spark.compile import compile_table
    from jsonschema_go_spark.sources.transcripts import (
        stage_transcripts,
        transcript_table_rule,
    )

    df = spark.read.parquet(stage_transcripts(spark, "0.001"))
    plan = compile_table(transcript_table_rule(), df.schema)
    total = df.count()
    clean = plan.passing(df)
    bad_keys = (
        plan.violations(df, ["conv_id", "turn_idx"], ordered=False)
        .select("conv_id", "turn_idx")
        .distinct()
        .count()
    )
    assert clean.count() == total - bad_keys
    # cleaned rows joined back against violation keys must be empty
    viol = plan.violations(df, ["conv_id", "turn_idx"], ordered=False).select(
        "conv_id", "turn_idx"
    )
    assert clean.join(viol, ["conv_id", "turn_idx"], "left_semi").count() == 0
    plan_str = clean._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan_str and "Window" not in plan_str


# ------------------------------------------------ shingle zip_with rewrite


@pytest.mark.parametrize("n", [2, 3, 5])
def test_word_shingles_zipwith_matches_reference_form(spark, n):
    """r5 perf rewrite (zip_with over shifted slices — the per-index
    transform form re-evaluated normalize+split once per SHINGLE, 4.2×
    slower at sf0.1): values must stay bit-identical to the reference
    per-index construction for every n, including short docs, repeats
    (array_distinct), and whitespace edge cases."""
    from jsonschema_go_spark.operators.text import normalize

    def reference(c, n):
        words = F.split(normalize(c), " ")
        k = F.size(words) - (n - 1)
        sh = F.when(k <= 0, F.array().cast("array<string>")).otherwise(
            F.transform(
                F.sequence(F.lit(1), F.greatest(k, F.lit(1))),
                lambda i: F.array_join(F.slice(words, i, n), " "),
            )
        )
        return F.array_distinct(sh)

    df = spark.createDataFrame(
        [
            ("a b c d e f",),
            ("a b",),
            ("",),
            (None,),
            ("  x   y  z ",),
            ("r r r r r r r r",),  # repeated shingles → distinct
            ("one two three four",),
        ],
        "t string",
    ).where(F.col("t").isNotNull())
    got = df.select(rf.word_shingles(F.col("t"), n).alias("s")).collect()
    want = df.select(reference(F.col("t"), n).alias("s")).collect()
    assert [r["s"] for r in got] == [r["s"] for r in want]


# --------------------------------------------------------- plan-shape pins

#: golden plan shapes for the most expensive gated queries (empirical at
#: sf0.001, AQE on — counts are partitioning-independent). A changed count
#: means a deliberate plan change: re-derive and update the pin ALONGSIDE a
#: bench comparison, never blindly.
PLAN_PINS = {
    # r7 re-derivation (alongside the bench comparisons in
    # OPTIMIZATION_r07.md): heavy stages moved into eagerly-materialized
    # localCheckpoints and Arrow maps, so the FINAL query plans shrank —
    # the signature/index work no longer appears in the lazy plan at all.
    "dedup_corpus_end2end": {
        # corpus←clusters + sizes joins (shuffle: ids only) + orderBy; the
        # iterative CC star rounds run eagerly before this plan exists
        "shuffle_exchanges": 5, "broadcast_joins": 0,
        "windows": 0, "shuffle_joins": 2,
    },
    "dedup_simhash_pairs": {
        # signature Arrow map on the scan's own partitions, then ONE
        # (chunk_idx, chunk) grouping for the candidates + their distinct;
        # no checkpoint, so the whole query is this plan — NO join, NO
        # window (was: checkpointed signatures + broadcast chunk self-join)
        "shuffle_exchanges": 2, "broadcast_joins": 0,
        "windows": 0, "shuffle_joins": 0,
    },
    "dedup_jaccard_documents": {
        # r7: the pair stage is the broadcast-inverted-index Arrow map over
        # spark.range doc-blocks — no joins, no exchanges, no windows in
        # the final plan (index build + cap run eagerly at build time)
        "shuffle_exchanges": 0, "broadcast_joins": 0,
        "windows": 0, "shuffle_joins": 0,
    },
    "dedup_minhash_documents": {
        # signature Arrow map on the scan's own partitions, band explode,
        # ONE (band_idx, band_key) grouping + distinct + orderBy; no
        # checkpoint, so the whole query is this plan (was: checkpointed
        # signatures + broadcast band self-join)
        "shuffle_exchanges": 3, "broadcast_joins": 0,
        "windows": 0, "shuffle_joins": 0,
    },
    "ann_ivf_topk_embeddings": {
        # one Arrow pass assigns cells and scores the driver-picked probes;
        # the (query, neighbor) max and the final per-query rank remain
        # (was: probe window over a broadcast cross-join + cell join + rank)
        "shuffle_exchanges": 2, "broadcast_joins": 0,
        "windows": 1, "shuffle_joins": 0,
    },
}


@pytest.mark.parametrize("name", sorted(PLAN_PINS))
def test_plan_shape_pins(spark, name):
    from jsonschema_go_spark.queries import get_queries

    df = get_queries()[name](spark, SF_DIR)
    got = _shape(_plan(df))
    assert got == PLAN_PINS[name], f"{name}: plan shape drifted: {got}"
