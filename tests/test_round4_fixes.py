"""Round-4 fixes (VERDICT.md r3 "Next round" items 1, 3, 6):

1. `ivf_index` builds cell assignment without the crossJoin + row_number
   window (now in ``test_similarity.py``).
3. `connected_components` fuses the convergence statistic into the
   checkpoint pass — one driver-blocking action per star-round.
6. `ivf_topk_stored` resolves query-by-id vectors through the `_ids/`
   sidecar (now in ``test_similarity.py``).
"""

from __future__ import annotations

import pytest

from jsonschema_go_spark.operators import dedup as dd


def test_connected_components_one_action_per_round(spark):
    """Convergence-stat fusion: with AQE off, each star-round costs exactly
    ONE Spark job (the agg action that also materializes the lazy local
    checkpoint) — round 3 paid two (eager checkpoint + separate agg)."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (22, 23)],
        "id_a long, id_b long",
    )
    sc = spark.sparkContext
    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        sc.setJobGroup("cc-r4", "fused convergence probe")
        got = {
            (r["node"], r["component"])
            for r in dd.connected_components(
                pairs, local_finish_threshold=0
            ).collect()
        }
        jobs = sc.statusTracker().getJobIdsForGroup("cc-r4")
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)
        sc.setJobGroup(None, None)
    assert got == {
        (1, 1), (2, 1), (3, 1), (4, 1),
        (10, 10), (11, 10),
        (20, 20), (21, 20), (22, 20), (23, 20),
    }
    # jobs = 1 (initial edge checkpoint) + rounds (one fused agg each)
    #       + 1 (final collect)
    assert dd._LAST_ROUNDS >= 2
    assert len(jobs) == 1 + dd._LAST_ROUNDS + 1


def test_cc_local_finish_matches_distributed(spark):
    """Small-graph cutoff: once the contracted edge set drops below the
    threshold, the driver-side union-find finish must produce EXACTLY the
    distributed fixpoint's (node, min-id component) labels — same rows, same
    schema — on a mixed graph (chain + triangle + isolated pair + star)."""
    edges = [
        (1, 2), (2, 3), (3, 4), (4, 5),          # chain
        (10, 11), (11, 12), (10, 12),            # triangle
        (20, 21),                                # pair
        (30, 31), (30, 32), (30, 33),            # star (hub 30)
        (5, 33),                                 # bridge chain<->star
    ]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    local = dd.connected_components(pairs, local_finish_threshold=100_000)
    dist = dd.connected_components(pairs, local_finish_threshold=0)
    assert local.schema == dist.schema
    assert sorted(map(tuple, local.collect())) == sorted(map(tuple, dist.collect()))
    # the cutoff actually fired (graph is far below the threshold)
    comp = {r["node"]: r["component"] for r in local.collect()}
    assert comp[33] == 1 and comp[12] == 10 and comp[21] == 20


def test_fk_orphans_null_semantics_and_broadcast(spark):
    """Cross-table FK check: NULL FKs pass (SQL semantics — no reference is
    not an orphan), orphans are exact, and the dimension-side anti-join is a
    broadcast hash join (zero shuffle of the child)."""
    from jsonschema_go_spark.operators import uniqueness as uq

    child = spark.createDataFrame(
        [(1, 10), (2, 99), (3, None), (4, 20)], "id long, fk int"
    )
    parent = spark.createDataFrame([(10,), (20,), (30,)], "pk int")
    orphans = uq.fk_orphans(child, "fk", parent, "pk")
    assert {r["id"] for r in orphans.collect()} == {2}
    plan = orphans._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan

    summary = uq.fk_conformance(
        [("child.fk", child, "fk", parent, "pk")]
    ).collect()
    assert [tuple(r) for r in summary] == [("child.fk", 3, 1)]


def test_violations_sql_rejects_unrenderable_observed():
    """ADVICE r3: the CAST(col AS VARCHAR) `observed` rendering only
    byte-matches Spark for string/integer/timestamp columns — other elem
    types must be rejected loudly, not silently mis-hashed."""
    from jsonschema_go_spark.oracle import violations_sql
    from jsonschema_go_spark.rules import Rule, TableRule

    tr = TableRule(
        name="t",
        columns={"v": Rule(type="number", minimum=0.0)},
        metadata={},
    )
    with pytest.raises(ValueError, match="not byte-stable"):
        violations_sql(tr, "t", ["v"], {"v": "double"})


def test_check_preds_carry_column_and_keyword():
    """ADVICE r3: (column, keyword) come from the CheckPred fields, never
    from rsplit('.') on the rule_id — a dotted column name must round-trip."""
    from jsonschema_go_spark.oracle import check_preds_sql, violations_sql
    from jsonschema_go_spark.rules import Rule, TableRule

    tr = TableRule(
        name="t",
        columns={'"a.b"': Rule(type="string", min_length=1)},
        metadata={},
    )
    preds = check_preds_sql(tr, {'"a.b"': "string"})
    # `type` is statically elided on a typed string column; minLength remains
    assert [(c.column, c.keyword) for c in preds] == [('"a.b"', "minLength")]
    sql = violations_sql(tr, "t", ['"a.b"'], {'"a.b"': "string"})
    # the rendered column/keyword literals are the true pair, not a split
    assert "'\"a.b\"' AS \"column\"" in sql and "'minLength' AS keyword" in sql


def test_stage_transcripts_atomic_and_derived_dir(spark):
    """ADVICE r3: staging writes to a temp dir and renames into place (a
    reader never sees a partial table), recovers a stale partial dir, and
    STAGE_DIR derives from the package location instead of a hard-coded
    absolute path."""
    import os
    import shutil

    from jsonschema_go_spark.sources import transcripts as tr

    pkg_root = os.path.dirname(
        os.path.dirname(os.path.abspath(tr.__file__))
    )
    assert tr.STAGE_DIR == os.path.join(os.path.dirname(pkg_root), ".stage")

    path = f"{tr.STAGE_DIR}/transcripts_v{tr.GEN_VERSION}_sf0.001"
    shutil.rmtree(path, ignore_errors=True)
    got = tr.stage_transcripts(spark, "0.001")
    assert got == path and os.path.exists(f"{path}/_SUCCESS")
    parent = os.path.dirname(path)
    assert not [d for d in os.listdir(parent) if ".tmp-" in d]

    # stale partial leftover (no _SUCCESS) is replaced by a complete table
    shutil.rmtree(path)
    os.makedirs(path)
    with open(f"{path}/garbage.parquet", "w") as fh:
        fh.write("not parquet")
    tr.stage_transcripts(spark, "0.001")
    assert os.path.exists(f"{path}/_SUCCESS")
    assert not os.path.exists(f"{path}/garbage.parquet")


