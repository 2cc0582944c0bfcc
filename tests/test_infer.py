"""Schema-inference tests: StructType → TableRule (kindSwitch/walkProperties
analog), well-known formats, nullability, overlays (field-tag analog),
unsigned semantics, interceptor hooks."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from jsonschema_go_spark import (
    CompileOptions,
    Rule,
    compile_table,
    infer_column_rule,
    infer_table_rule,
)


def test_scalar_type_mapping():
    # kindSwitch analog (reflect.go:839-973)
    assert infer_column_rule(T.LongType(), False).type == "integer"
    assert infer_column_rule(T.IntegerType(), False).type == "integer"
    assert infer_column_rule(T.DoubleType(), False).type == "number"
    assert infer_column_rule(T.BooleanType(), False).type == "boolean"
    assert infer_column_rule(T.StringType(), False).type == "string"


def test_well_known_formats():
    # isWellKnownType analog (reflect.go:742-776)
    r = infer_column_rule(T.TimestampType(), False)
    assert r.type == "string" and r.format == "date-time"
    r = infer_column_rule(T.DateType(), False)
    assert r.type == "string" and r.format == "date"
    r = infer_column_rule(T.BinaryType(), False)
    assert r.type == "string" and r.format == "base64"


def test_nullability_adds_null_type():
    # pointer → nullable (reflect.go:439-441)
    r = infer_column_rule(T.LongType(), True)
    assert r.type == ["integer", "null"]
    r = infer_column_rule(T.LongType(), False)
    assert r.type == "integer"


def test_nested_types():
    arr = infer_column_rule(T.ArrayType(T.StringType(), False), False)
    assert arr.type == "array" and arr.items.type == "string"
    mp = infer_column_rule(T.MapType(T.StringType(), T.LongType(), False), False)
    assert mp.type == "object" and mp.additional_properties.type == "integer"
    st = infer_column_rule(
        T.StructType([
            T.StructField("a", T.LongType(), False),
            T.StructField("b", T.StringType(), True),
        ]),
        False,
    )
    assert st.type == "object"
    assert st.properties["a"].type == "integer"
    assert st.properties["b"].type == ["string", "null"]
    assert st.required == ["a"]  # non-nullable fields → required


def test_overlay_merging():
    # field-tag analog (README.md:73-113; reflect.go:1144-1154)
    schema = T.StructType([
        T.StructField("role", T.StringType(), True),
        T.StructField("turn_idx", T.IntegerType(), True),
        T.StructField("free", T.StringType(), True),
    ])
    tr = infer_table_rule(
        schema,
        overlay={
            "role": {"enum": ["user", "assistant"], "required": True},
            "turn_idx": {"unsigned": True},
            "$unique": [("role", "turn_idx")],
        },
    )
    assert tr.columns["role"].enum == ["user", "assistant"]
    assert "role" in tr.metadata["required"]
    # unsigned → minimum:0 kept trivial (reflect.go:955-957, helper.go:200-212)
    assert tr.columns["turn_idx"].minimum == 0
    assert tr.columns["turn_idx"].reflect_unsigned is True
    assert tr.columns["turn_idx"].is_trivial() is True
    assert tr.columns["free"].is_trivial() is True
    assert tr.unique == [("role", "turn_idx")]


def test_overlay_unknown_column_rejected():
    schema = T.StructType([T.StructField("a", T.LongType(), True)])
    with pytest.raises(ValueError, match="unknown columns"):
        infer_table_rule(schema, overlay={"nope": {"minimum": 1}})


def test_overlay_unknown_keyword_retained():
    schema = T.StructType([T.StructField("a", T.LongType(), True)])
    tr = infer_table_rule(schema, overlay={"a": {"x-custom": 7}})
    assert tr.columns["a"].extra_properties["x-custom"] == 7


def test_inferred_rules_compile_and_run(spark):
    df = spark.createDataFrame(
        [(1, "user", 3.5), (2, "robot", -1.0), (None, None, None)],
        "id long, role string, score double",
    )
    tr = infer_table_rule(
        df.schema,
        overlay={
            "id": {"required": True},
            "role": {"enum": ["user", "assistant"]},
            "score": {"minimum": 0.0},
        },
    )
    plan = compile_table(tr, df.schema)
    summ = {r["rule_id"]: r["fail_count"] for r in plan.summary(df).collect()}
    assert summ["id.required"] == 1
    assert summ["role.enum"] == 1
    assert summ["score.minimum"] == 1


def test_intercept_check_hook(spark):
    # InterceptSchema analog (context.go:124-140): drop/rewrite checks
    df = spark.createDataFrame([(1,)], "v long")
    tr = infer_table_rule(df.schema, overlay={"v": {"minimum": 5, "maximum": 10}})
    dropped = CompileOptions(
        intercept_check=lambda ch: None if ch.keyword == "minimum" else ch
    )
    plan = compile_table(tr, df.schema, dropped)
    assert "v.minimum" not in plan.rule_ids
    assert "v.maximum" in plan.rule_ids


def test_trivial_elision_prunes_scan_columns(spark, tmp_path):
    """IsTrivial → column pruning: the physical plan's ReadSchema must not
    include columns whose rules are trivial (helper.go:194 → parquet scan)."""
    p = str(tmp_path / "t.parquet")
    spark.createDataFrame(
        [(1, "x", 2.0)], "a long, b string, c double"
    ).write.parquet(p)
    df = spark.read.parquet(p)
    tr = infer_table_rule(df.schema, overlay={"a": {"minimum": 0}})
    plan = compile_table(tr, df.schema)
    flags = plan.flags(df, [])
    physical = flags._jdf.queryExecution().executedPlan().toString()
    assert "ReadSchema" in physical
    import re

    read_schema = re.search(r"ReadSchema: struct<([^>]*)>", physical).group(1)
    assert "a:" in read_schema
    assert "b:" not in read_schema and "c:" not in read_schema


def test_type_mapping_override(spark):
    # AddTypeMapping analog (reflect.go:103-114)
    schema = T.StructType([
        T.StructField("price", T.DecimalType(10, 2), False),
        T.StructField("n", T.LongType(), False),
    ])
    tr = infer_table_rule(
        schema,
        type_mapping={"decimal(10,2)": {"type": "number", "multipleOf": 0.01}},
    )
    assert tr.columns["price"].multiple_of == 0.01
    assert tr.columns["n"].type == "integer"  # unmapped types use kindSwitch


def test_property_name_mapping(spark):
    # MakePropertyNameMapping analog (reflect.go:976-984)
    from jsonschema_go_spark.infer import apply_property_name_mapping

    df = spark.createDataFrame([(1, "u")], "uid long, rl string")
    out = apply_property_name_mapping(df, {"uid": "user_id", "rl": "role"})
    assert out.columns == ["user_id", "role"]


def test_prepare_plan_hook(spark):
    # Preparer analog (reflect.go:533-541): post-compile plan rewrite
    from jsonschema_go_spark.plans.plan import ValidationPlan

    df = spark.createDataFrame([(1,)], "v long")
    tr = infer_table_rule(df.schema, overlay={"v": {"minimum": 5, "maximum": 9}})

    def keep_only_minimum(plan: ValidationPlan) -> ValidationPlan:
        plan.checks = [c for c in plan.checks if c.keyword == "minimum"]
        return plan

    plan = compile_table(df.schema and tr, df.schema, CompileOptions(prepare_plan=keep_only_minimum))
    assert plan.rule_ids == ["v.minimum"]


def test_plan_columns_follow_checks(spark):
    """The plan builds its predicate Columns once and reuses them, but never
    past the checks they came from: reassigning ``checks`` (what a
    ``prepare_plan`` hook does) or editing the list in place changes the
    next call of every output."""
    df = spark.createDataFrame([(1, 3), (7, 20)], "x long, y long")
    tr = infer_table_rule(df.schema, overlay={"x": {"minimum": 5}, "y": {"maximum": 9}})
    plan = compile_table(tr, df.schema)

    def outputs():
        return (
            sorted((r["x"], r["rule_id"]) for r in plan.violations(df, ["x"]).collect()),
            sorted(tuple(r) for r in plan.verdicts(df, "x")
                   .select("partition_key", "violation_count").collect()),
            sorted(tuple(r) for r in plan.summary(df).select("rule_id", "fail_count").collect()),
            plan.flags(df, ["x"]).columns,
            plan.passing(df).count(),
            sorted(tuple(r) for r in plan.rollup(df, "x", "y")
                   .select("partition_key", "violation_count").collect()),
        )

    both = (
        [(1, "x.minimum"), (7, "y.maximum")], [(1, 1), (7, 1)],
        [("x.minimum", 1), ("y.maximum", 1)], ["x", "x.minimum", "y.maximum"], 0,
        [(1, 1), (7, 1)],
    )
    assert outputs() == both
    dropped = plan.checks[1]
    plan.checks = [c for c in plan.checks if c.keyword == "minimum"]
    assert outputs() == (
        [(1, "x.minimum")], [(1, 1), (7, 0)], [("x.minimum", 1)], ["x", "x.minimum"], 1,
        [(1, 1), (7, 0)],
    )
    plan.checks.append(dropped)
    assert outputs() == both
