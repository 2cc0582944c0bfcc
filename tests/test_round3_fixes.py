"""Regression tests for the round-2 ADVICE findings (ADVICE.md r2):

1. inline_refs must be keyword-aware — data-carrying keyword values
   (const/enum/default, a property literally named "$ref") pass verbatim;
2. staged-table resume is path-scoped — same run_id + different base_path
   never resumes against the other run's staged table;
3. sign-LSH signatures tolerate NULL embedding vectors (now in
   ``test_similarity.py``);
4. stateful_contiguity_stream derives the key field type from the input
   schema (non-string conversation keys);
5. runner row totals take the LATEST lineage attempt per bucket.
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from jsonschema_go_spark.rules import Rule, inline_refs


# ------------------------------------------------------ 1. inline_refs shape

def test_inline_refs_keeps_property_named_ref():
    """A property KEY "$ref" inside properties/definitions is data (a field
    name), not a reference — the old blind traversal popped it and passed its
    dict value to the resolver (TypeError: unhashable)."""
    rule = Rule.from_dict(
        {
            "type": "object",
            "properties": {"$ref": {"type": "string"}},
            "definitions": {"$ref": {"type": "integer"}},
        }
    )
    calls = []

    def resolver(ref):
        calls.append(ref)
        return None

    out = inline_refs(rule, resolver)
    assert calls == []  # nothing resolved: no schema-position $ref exists
    d = out.to_dict()
    assert d["properties"]["$ref"] == {"type": "string"}
    assert d["definitions"]["$ref"] == {"type": "integer"}


def test_inline_refs_leaves_data_keywords_verbatim():
    """const/enum/default subtrees are values, not schemas — a "$ref" key
    inside them must survive untouched."""
    rule = Rule.from_dict(
        {
            "const": {"$ref": "#/definitions/X", "a": 1},
            "enum": [{"$ref": "nested"}, [1, 2], "s"],
            "default": {"$ref": "kept"},
        }
    )
    out = inline_refs(rule, lambda ref: Rule(type="string"))
    d = out.to_dict()
    assert d["const"] == {"$ref": "#/definitions/X", "a": 1}
    assert d["enum"] == [{"$ref": "nested"}, [1, 2], "s"]
    assert d["default"] == {"$ref": "kept"}


def test_inline_refs_still_resolves_schema_positions():
    rule = Rule.from_dict(
        {
            "properties": {"a": {"$ref": "#/definitions/T"}},
            "items": {"$ref": "#/definitions/T"},
            "dependencies": {"k": {"$ref": "#/definitions/T"}, "j": ["a", "b"]},
        }
    )
    target = Rule(type="integer", minimum=0)
    out = inline_refs(rule, lambda ref: target if ref == "#/definitions/T" else None)
    d = out.to_dict()
    assert d["properties"]["a"] == {"minimum": 0, "type": "integer"}
    assert d["items"] == {"minimum": 0, "type": "integer"}
    assert d["dependencies"]["k"] == {"minimum": 0, "type": "integer"}
    assert d["dependencies"]["j"] == ["a", "b"]


# -------------------------------------------- 2. staged-table path scoping

def test_staged_table_name_is_path_scoped(spark, tmp_path):
    from jsonschema_go_spark.lineage import CheckpointedRun
    from jsonschema_go_spark.sources.io import TableIO

    io_a = TableIO(spark, base_path=str(tmp_path / "a"))
    io_b = TableIO(spark, base_path=str(tmp_path / "b"))
    run_a = CheckpointedRun(io_a, "same_id", num_buckets=2)
    run_b = CheckpointedRun(io_b, "same_id", num_buckets=2)
    assert run_a._staged_table != run_b._staged_table

    df_a = spark.range(10).select(
        F.format_string("a%04d", F.col("id")).alias("conv_id"),
        F.lit(0).alias("turn_idx"),
    )
    df_b = spark.range(10).select(
        F.format_string("b%04d", F.col("id")).alias("conv_id"),
        F.lit(0).alias("turn_idx"),
    )
    staged_a = run_a._stage_input(df_a, resume=False)
    # resume=True with run_b must NOT pick up run_a's catalog entry
    staged_b = run_b._stage_input(df_b, resume=True)
    assert staged_a.where(F.col("conv_id").startswith("b")).count() == 0
    assert staged_b.where(F.col("conv_id").startswith("a")).count() == 0
    assert staged_b.count() == 10
    spark.sql(f"DROP TABLE IF EXISTS {run_a._staged_table}")
    spark.sql(f"DROP TABLE IF EXISTS {run_b._staged_table}")


# --------------------------------------- 4. streaming non-string conv keys

def test_stateful_contiguity_long_keys(spark, tmp_path):
    from tests.reference_forms import stateful_contiguity_stream

    data_path = str(tmp_path / "in")
    df = spark.range(4).select(
        (F.col("id") % 2).cast("long").alias("conv_id"),
        (F.col("id") / 2).cast("int").alias("turn_idx"),
    )
    df.write.mode("overwrite").parquet(data_path)
    batch = spark.read.parquet(data_path)
    stream = spark.readStream.schema(batch.schema).parquet(data_path)
    out = stateful_contiguity_stream(stream, "conv_id", "turn_idx", start=0)
    assert out.schema["conv_id"].dataType.simpleString() == "bigint"
    q = (
        out.writeStream.format("memory")
        .queryName("long_keys")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r["conv_id"]: r["contiguous"] for r in spark.sql("SELECT * FROM long_keys").collect()}
    assert got == {0: True, 1: True}


# --------------------------------------------- 5. latest-attempt row totals

def test_runner_reports_latest_attempt_rows(spark, tmp_path, capsys, monkeypatch):
    """Re-using a run_id on different input WITHOUT --resume must report the
    rows of the new attempt, not max() across stale lineage rows."""
    from jsonschema_go_spark import runner

    monkeypatch.setattr(runner, "build_session", lambda app="x": spark)
    out_dir = str(tmp_path / "run")
    argv_base = ["--output", out_dir, "--run-id", "reuse", "--buckets", "4"]
    runner.main(["--synthetic", "40"] + argv_base)
    first = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    runner.main(["--synthetic", "12"] + argv_base)
    second = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert second["rows"] < first["rows"]  # smaller second attempt wins
    # second attempt's lineage reflects only its own buckets' latest rows
    lin = spark.read.parquet(f"{out_dir}/lineage")
    latest = (
        lin.where((F.col("run_id") == "reuse") & (F.col("status") == "done"))
        .groupBy("bucket")
        .agg(F.max_by("rows", "finished_at").alias("rows"))
        .agg(F.sum("rows"))
        .first()[0]
    )
    assert second["rows"] == latest
