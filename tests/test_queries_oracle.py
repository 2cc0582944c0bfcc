"""Driver-style gate: every registry query must match its DuckDB oracle
(row count + sorted-column schema + values) at the test scale factor."""

from __future__ import annotations

import pytest

from jsonschema_go_spark.queries import get_oracles, get_queries

from .conftest import SF_DIR, assert_matches_oracle

QUERIES = get_queries()
ORACLES = get_oracles()


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(name, spark, duck):
    if name not in ORACLES:
        pytest.skip(f"{name}: rows-only check (no SQL oracle)")
    df = QUERIES[name](spark, SF_DIR)
    assert_matches_oracle(df, duck, ORACLES[name])


@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(ORACLES)))
def test_rows_only_queries_run(name, spark):
    df = QUERIES[name](spark, SF_DIR)
    assert df.count() >= 0


@pytest.mark.parametrize("ntz", ["true", "false"])
def test_read_schema_from_footer_equals_inference(spark, ntz):
    """``queries._read`` takes the schema from the parquet footer without a
    Spark job, and it equals ``spark.read.parquet(path).schema`` for every
    test table and the benchmark's copies, whichever way
    ``spark.sql.parquet.inferTimestampNTZ.enabled`` is set."""
    import glob
    import os

    from jsonschema_go_spark.queries import _read

    root = os.path.dirname(SF_DIR)
    bench = os.path.join(os.path.dirname(os.path.dirname(__file__)), "perfbench", "data")
    files = sorted(glob.glob(f"{root}/*/*.parquet") + glob.glob(f"{bench}/*/*.parquet"))
    assert len(files) >= 33
    key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    prev = spark.conf.get(key)
    sc = spark.sparkContext
    try:
        spark.conf.set(key, ntz)
        for f in files:
            sc.setJobGroup("footer_read", "footer schema")
            got = _read(spark, os.path.dirname(f), os.path.basename(f)[: -len(".parquet")])
            sc.setJobGroup("inferred_read", "inferred schema")
            want = spark.read.parquet(f)
            assert got.schema == want.schema, f
        assert sc.statusTracker().getJobIdsForGroup("footer_read") == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        spark.conf.set(key, prev)
