"""Structured Streaming validation tests — file source + availableNow
trigger; streaming results must equal the batch plan on the same data."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from jsonschema_go_spark import compile_table
from jsonschema_go_spark.sources.transcripts import (
    generate_transcripts,
    transcript_table_rule,
)
from jsonschema_go_spark.streaming.validate_stream import (
    conversation_verdict_stream,
    violation_stream,
    windowed_violation_counts,
)


@pytest.fixture(scope="module")
def stream_env(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("stream")
    data_path = str(root / "in")
    df = generate_transcripts(spark, num_convs=300, seed=42)
    df.write.mode("overwrite").parquet(data_path)
    batch = spark.read.parquet(data_path)
    plan = compile_table(transcript_table_rule(), batch.schema)
    stream = spark.readStream.schema(batch.schema).parquet(data_path)
    return spark, batch, stream, plan, root


def _run(query_df, mode, root, name):
    q = (
        query_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .option("checkpointLocation", str(root / f"ckpt_{name}"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


def test_violation_stream_equals_batch(stream_env):
    spark, batch, stream, plan, root = stream_env
    _run(violation_stream(plan, stream, ["conv_id", "turn_idx"]), "append", root, "viol")
    got = spark.sql("SELECT * FROM viol")
    want = plan.violations(batch, ["conv_id", "turn_idx"], ordered=False)
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0


def test_exact_dedup_stream(stream_env):
    """Streaming exact dedup (7th mode): one output row per distinct
    fingerprint; the kept-fingerprint SET equals the batch operator's
    distinct fingerprints (which row survives depends on arrival order, so
    only the set + counts are asserted); null-text rows pass through."""
    from jsonschema_go_spark.operators.text import fingerprint
    from jsonschema_go_spark.streaming.validate_stream import exact_dedup_stream

    spark, batch, stream, plan, root = stream_env
    _run(exact_dedup_stream(stream), "append", root, "dedup")
    got = spark.sql("SELECT * FROM dedup")
    n_null = batch.where(F.col("text").isNull()).count()
    want_fps = {
        r["fp"]
        for r in batch.where(F.col("text").isNotNull())
        .select(fingerprint(F.col("text")).alias("fp"))
        .distinct()
        .collect()
    }
    assert got.count() == len(want_fps) + n_null
    got_fps = {
        r["fp"]
        for r in got.where(F.col("text").isNotNull())
        .select(fingerprint(F.col("text")).alias("fp"))
        .collect()
    }
    assert got_fps == want_fps
    assert got.where(F.col("text").isNull()).count() == n_null
    assert set(got.columns) == set(batch.columns)  # _fp dropped


def test_windowed_counts(stream_env):
    spark, batch, stream, plan, root = stream_env
    _run(
        windowed_violation_counts(plan, stream, window="1 hour", watermark="2 hours"),
        "append", root, "wincnt",
    )
    got = spark.sql("SELECT SUM(violations) v FROM wincnt").first()["v"]
    wr = plan.summary(batch).agg(F.sum("fail_count")).first()[0]
    # append-mode emits only closed windows; availableNow closes all but the
    # last watermark region — allow the tail to be withheld
    assert got is None or got <= wr
    # rerun in update mode would emit everything; check structure instead
    cols = set(spark.sql("SELECT * FROM wincnt").columns)
    assert cols == {"window_start", "window_end", "rule_id", "violations"}


def _final(spark, view, key, count):
    """The last emission per key of an update-mode memory sink: each
    micro-batch touching a key re-emits its row, with ``count`` grown."""
    final = {}
    for r in spark.sql(f"SELECT * FROM {view}").collect():
        if r[key] not in final or r[count] > final[r[key]][count]:
            final[r[key]] = r
    return final


def _assert_same_frame(got, want):
    assert [(f.name, f.dataType) for f in got.schema] == [
        (f.name, f.dataType) for f in want.schema
    ]
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_conversation_verdicts_stream(stream_env):
    """Complete mode: the stream verdict table equals the batch
    ``ValidationPlan.rollup`` in every column, schema included."""
    spark, batch, stream, plan, root = stream_env
    _run(
        conversation_verdict_stream(plan, stream, "conv_id", "turn_idx"),
        "complete", root, "verd",
    )
    _assert_same_frame(
        spark.sql("SELECT * FROM verd"), plan.rollup(batch, "conv_id", "turn_idx")
    )


def test_conversation_verdict_stream_equals_rollup_across_microbatches(spark, tmp_path):
    """F1 transcripts with duplicated, NULL and skipped turn_idx, every
    conversation (the hot one included) split over 3 files read one per
    micro-batch: the final emission per conversation equals
    ``plan.rollup(batch, "conv_id", "turn_idx")`` field by field."""
    base = generate_transcripts(spark, num_convs=200, seed=7, violation_rate=0.2)
    conv, turn = F.col("conv_id"), F.col("turn_idx")
    c = [r[0] for r in base.select(conv).where(conv.startswith("c")).distinct()
         .orderBy(conv).limit(36).collect()]
    df = (
        base.unionByName(base.where(conv.isin(c[1:21]) & (turn == 1)))
        .unionByName(base.where(conv.isin(c[21:31]) & (turn == 1))
                     .withColumn("turn_idx", F.lit(None).cast("int")))
        .unionByName(base.where(conv.isin(c[31:36]) & (turn == 0))
                     .withColumn("turn_idx", F.lit(50)))
    )
    data_path = str(tmp_path / "in")
    for part in range(3):
        df.where(F.pmod(F.coalesce(turn, F.lit(1)), F.lit(3)) == part).coalesce(1) \
            .write.mode("append").parquet(data_path)
    batch = spark.read.parquet(data_path)
    plan = compile_table(transcript_table_rule(), batch.schema)
    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(data_path)
    )
    out = conversation_verdict_stream(plan, stream, "conv_id", "turn_idx")
    _run(out, "update", tmp_path, "verd_mb")
    want = plan.rollup(batch, "conv_id", "turn_idx")
    assert out.schema == want.schema
    emitted = spark.sql("SELECT * FROM verd_mb").where(F.col("partition_key") == "c00000000")
    assert emitted.count() == 3  # the hot conversation spans 3 micro-batches
    final = spark.createDataFrame(
        list(_final(spark, "verd_mb", "partition_key", "rows").values()), out.schema
    )
    _assert_same_frame(final, want)
    # the fixture exercises what it claims
    stats = want.agg(
        F.sum((F.col("duplicate_rows") > 0).cast("int")),
        F.sum((~F.col("contiguous")).cast("int")),
    ).first()
    assert stats[0] >= 20 and stats[1] >= 35


def test_stateful_contiguity_stream(stream_env):
    """The ``applyInPandasWithState`` reference form equals the batch
    contiguity operator field by field."""
    from jsonschema_go_spark.operators import uniqueness as uq
    from tests.reference_forms import stateful_contiguity_stream

    spark, batch, stream, plan, root = stream_env
    _run(
        stateful_contiguity_stream(stream, "conv_id", "turn_idx", start=0),
        "update", root, "stately",
    )
    pd_ = _final(spark, "stately", "conv_id", "n_rows")
    want = {
        r["conv_id"]: (r["n_distinct"], r["n_rows"], r["min_val"], r["max_val"], r["contiguous"])
        for r in uq.contiguity(batch, "conv_id", "turn_idx", start=0).collect()
    }
    assert {
        k: (r["rows"], r["n_rows"], r["min_idx"], r["max_idx"], r["contiguous"])
        for k, r in pd_.items()
    } == want


def test_contiguity_verdict_stream_jvm_equals_pandas_state(stream_env):
    """The JVM update-mode verdict stream's final emission per conversation
    has the same row count and ``contiguous`` verdict as the
    ``applyInPandasWithState`` reference form, and both equal the batch
    contiguity operator: pinned to the batch operator, not only to the
    sibling stream, so a formula the two streams shared could not hide."""
    from jsonschema_go_spark.operators import uniqueness as uq
    from tests.reference_forms import stateful_contiguity_stream

    spark, batch, stream, plan, root = stream_env
    _run(
        conversation_verdict_stream(plan, stream, "conv_id", "turn_idx"),
        "update", root, "contig_jvm",
    )
    _run(
        stateful_contiguity_stream(stream, "conv_id", "turn_idx", start=0),
        "update", root, "contig_pd",
    )
    jvm = _final(spark, "contig_jvm", "partition_key", "rows")
    pd_ = _final(spark, "contig_pd", "conv_id", "n_rows")
    want = {
        r["conv_id"]: (r["n_rows"], r["contiguous"])
        for r in uq.contiguity(batch, "conv_id", "turn_idx", start=0).collect()
    }
    assert {k: (r["rows"], r["contiguous"]) for k, r in jvm.items()} == want
    assert {k: (r["n_rows"], r["contiguous"]) for k, r in pd_.items()} == want
    # the fixture holds chains of both verdicts
    assert {c for _, c in want.values()} == {True, False}


@pytest.mark.parametrize(
    "idxs",
    [
        [0, 0, 3, 4, 4, 5, 5, 7],  # matches ALL FIVE moments of 0..7
        [0, 2, 2, 3, 3, 4, 7, 7],  # second moment-collision counterexample
        [0, 2, 2, 2, 4],           # linear-moment collision
        [0, 1, 2, 3, 4, 5, 6, 7],  # genuinely contiguous control
        [1, 2, 3],                 # wrong start
        [0, 1, 1, 2],              # distinct set is 0..2: blind to the duplicate
        [0, 0, 1],                 # duplicated start
        [0, 1, None],              # NULL turn index
        [None, None],              # no turn index at all
    ],
)
def test_streaming_contiguity_sound_on_moment_collisions(spark, tmp_path, idxs):
    """Turn chains whose moments match a contiguous series, duplicate turns
    (which the distinct set alone cannot see) and NULL turn indices: the
    stream verdict's final emission equals the batch rollup field by field,
    its ``contiguous`` equals ``uniqueness.contiguity``, and the pandas-state
    reference form's rows (distinct), n_rows, min, max and verdict equal the
    batch operator's."""
    from jsonschema_go_spark.operators import uniqueness as uq
    from jsonschema_go_spark.rules import Rule, TableRule
    from tests.reference_forms import stateful_contiguity_stream

    data_path = str(tmp_path / "in")
    rows = [("c0", i) for i in idxs]
    spark.createDataFrame(rows, "conv_id string, turn_idx int").write.mode(
        "overwrite"
    ).parquet(data_path)
    batch = spark.read.parquet(data_path)
    plan = compile_table(
        TableRule(columns={"turn_idx": Rule(minimum=1)}), batch.schema
    )
    w = uq.contiguity(batch, "conv_id", "turn_idx", start=0).first()
    stream = spark.readStream.schema(batch.schema).parquet(data_path)
    tag = abs(hash(tuple(idxs)))
    _run(conversation_verdict_stream(plan, stream, "conv_id", "turn_idx"),
         "update", tmp_path, f"adv_verd_{tag}")
    got = _final(spark, f"adv_verd_{tag}", "partition_key", "rows")["c0"]
    assert tuple(got) == tuple(plan.rollup(batch, "conv_id", "turn_idx").first()), idxs
    assert got["contiguous"] == w["contiguous"], idxs
    _run(stateful_contiguity_stream(stream, "conv_id", "turn_idx", start=0),
         "update", tmp_path, f"adv_pd_{tag}")
    g = _final(spark, f"adv_pd_{tag}", "conv_id", "n_rows")["c0"]
    got = (g["rows"], g["n_rows"], g["min_idx"], g["max_idx"], g["contiguous"])
    want = (w["n_distinct"], w["n_rows"], w["min_val"], w["max_val"], w["contiguous"])
    assert got == want, (idxs, got, want)


def test_windowed_drift_matches_batch(stream_env):
    """5th streaming mode — windowed drift: stream maintains per-(window,
    role) counts; chi_square_from_counts over those counts must equal the
    batch chi_square over the same data windowed the same way."""
    from jsonschema_go_spark.operators.drift import (
        chi_square,
        chi_square_from_counts,
    )
    from jsonschema_go_spark.streaming.validate_stream import (
        windowed_category_counts,
    )

    spark, batch, stream, plan, root = stream_env
    _run(
        windowed_category_counts(stream, "role", window="6 hours"),
        "complete", root, "wdrift",
    )
    counts = spark.sql("SELECT * FROM wdrift")
    got = chi_square_from_counts(counts, "window_start", "role", "n").first()

    # epoch-aligned tumbling windows: start = floor(unix/21600)*21600,
    # identical to F.window("ts", "6 hours").start
    batch_windowed = batch.withColumn(
        "window_start",
        F.timestamp_seconds(
            (F.unix_timestamp(F.col("ts").cast("timestamp")) / 21600).cast("long") * 21600
        ).cast(batch.schema["ts"].dataType),
    )
    want = chi_square(batch_windowed, "window_start", "role").first()
    assert got["n"] == want["n"] and got["dof"] == want["dof"]
    assert got["n_groups"] == want["n_groups"] and got["n_values"] == want["n_values"]
    assert abs(got["chi2"] - want["chi2"]) < 1e-6 * max(1.0, want["chi2"])


def test_violation_sink_persists_through_tableio(stream_env, tmp_path):
    """6th streaming mode — persisted violations: foreachBatch writes the
    violation stream through TableIO; stored rows equal the batch operator,
    and a restart with the same checkpoint appends nothing new."""
    from jsonschema_go_spark.sources.io import TableIO
    from jsonschema_go_spark.streaming.validate_stream import (
        violation_sink_stream,
    )

    spark, batch, stream, plan, root = stream_env
    io = TableIO(spark, base_path=str(tmp_path / "out"))
    ckpt = str(tmp_path / "ckpt_sink")
    q = violation_sink_stream(
        plan, stream, ["conv_id", "turn_idx"], io, "viol_stream", ckpt
    ).trigger(availableNow=True).start()
    q.awaitTermination(120)

    stored = io.read("viol_stream").drop("batch_id")
    want = plan.violations(batch, ["conv_id", "turn_idx"], ordered=False)
    assert stored.count() == want.count()
    assert stored.exceptAll(want).count() == 0

    # restart on the same checkpoint: no new data -> no duplicate appends
    q2 = violation_sink_stream(
        plan, stream, ["conv_id", "turn_idx"], io, "viol_stream", ckpt
    ).trigger(availableNow=True).start()
    q2.awaitTermination(120)
    assert io.read("viol_stream").count() == want.count()
