"""Query registry — the driver-facing catalog of implemented operators.

Each entry pairs a Spark callable ``(spark, sf_dir) -> DataFrame`` with a
DuckDB oracle SQL string over the same parquet tables. Validation-keyword
queries generate BOTH sides from the same :class:`Rule` document
(:mod:`compile` for Spark, :mod:`oracle` for SQL) — the engine's analog of
the reference's golden-JSON test strategy (SURVEY.md §5).

Every aggregate/computed column is aliased identically on both sides (driver
hashes values under sorted column names).
"""

from __future__ import annotations

import os
from typing import Callable, Dict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .rules import Rule, TableRule
from .compile import compile_table
from .oracle import summary_sql
from .functions.formats import BASE64_RE as _B64_RE_PY, DATETIME_RE as _DT_RE_PY, UUID_RE as _UUID_RE_PY
from .operators import drift as drift_ops
from .operators import stats as stats_ops
from .operators import uniqueness as uniq_ops

_DATETIME_RE_SQL = _DT_RE_PY.replace("'", "''")
_UUID_RE_SQL = _UUID_RE_PY.replace("'", "''")
_B64_RE_SQL = _B64_RE_PY.replace("'", "''")

QUERIES: Dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: Dict[str, str] = {}


def _register(name: str, fn: Callable, sql: str = None) -> None:
    QUERIES[name] = fn
    if sql is not None:
        ORACLES[name] = sql


def _read(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """A table's parquet file, its schema taken from the file footer on the
    driver: ``spark.read.parquet`` without a schema runs a one-task Spark
    job to read the same footer. Timestamps without a zone read as
    ``TIMESTAMP_NTZ`` exactly when Spark's own inference would
    (``spark.sql.parquet.inferTimestampNTZ.enabled``). A path that is not a
    local file (a directory, a remote store) is read with inference."""
    path = f"{sf_dir}/{table}.parquet"
    if not os.path.isfile(path):
        return spark.read.parquet(path)
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    ntz = spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
    schema = from_arrow_schema(pq.read_schema(path), prefer_timestamp_ntz=ntz.lower() == "true")
    return spark.read.schema(schema).parquet(path)


# ===========================================================================
# 1. Validation-keyword summaries — rule doc compiled to BOTH engines
# ===========================================================================

# --- flagship: full validation pass over `events` --------------------------
EVENTS_RULE = TableRule(
    name="events",
    columns={
        "event_id": Rule(type="integer", minimum=0),
        "ts": Rule(type="string", format="date-time"),
        "user_id": Rule(type="integer", minimum=100),
        "event_type": Rule(type="string", enum=["click", "view", "purchase", "signup"]),
        "value": Rule(type="number", exclusive_minimum=0.0, maximum=400.0),
        "props": Rule(type="string", min_length=5, pattern=r"^\{.*\}$"),
    },
    metadata={"required": ["event_id", "ts", "event_type"]},
)
EVENTS_ELEM_TYPES = {
    "event_id": "integer", "user_id": "integer", "value": "double",
    "event_type": "string", "props": "string", "ts": "timestamp",
}


def q_validate_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _read(spark, sf_dir, "events")
    plan = compile_table(EVENTS_RULE, df.schema)
    return plan.summary(df)


_register(
    "validate_events",
    q_validate_events,
    summary_sql(EVENTS_RULE, "events", EVENTS_ELEM_TYPES),
)

# --- numeric keyword family over `lineitem` --------------------------------
LINEITEM_RULE = TableRule(
    name="lineitem",
    columns={
        "l_quantity": Rule(type="number", minimum=5, maximum=45, multiple_of=1.0),
        "l_discount": Rule(type="number", exclusive_minimum=0.0, exclusive_maximum=0.1),
        "l_linenumber": Rule(type="integer", minimum=1, maximum=6, multiple_of=2),
        "l_extendedprice": Rule(type="number", multiple_of=0.01),
    },
    metadata={"required": ["l_quantity", "l_linenumber"]},
)
LINEITEM_ELEM_TYPES = {
    "l_quantity": "double", "l_discount": "double",
    "l_linenumber": "integer", "l_extendedprice": "double",
}


def q_kw_numeric_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _read(spark, sf_dir, "lineitem")
    return compile_table(LINEITEM_RULE, df.schema).summary(df)


_register(
    "kw_numeric_lineitem",
    q_kw_numeric_lineitem,
    summary_sql(LINEITEM_RULE, "lineitem", LINEITEM_ELEM_TYPES),
)

# --- string keyword family over `documents` --------------------------------
DOCUMENTS_RULE = TableRule(
    name="documents",
    columns={
        "text": Rule(type="string", min_length=10, max_length=520),
        "lang": Rule(type="string", enum=["en", "de", "fr"]),
        "source": Rule(type="string", pattern=r"^src[0-9]+$"),
        "n_chars": Rule(type="integer", minimum=1),
        "doc_id": Rule(type="integer"),
    },
    metadata={"required": ["doc_id", "text"]},
)
DOCUMENTS_ELEM_TYPES = {
    "text": "string", "lang": "string", "source": "string",
    "n_chars": "integer", "doc_id": "integer",
}


def q_kw_string_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _read(spark, sf_dir, "documents")
    return compile_table(DOCUMENTS_RULE, df.schema).summary(df)


_register(
    "kw_string_documents",
    q_kw_string_documents,
    summary_sql(DOCUMENTS_RULE, "documents", DOCUMENTS_ELEM_TYPES),
)

# --- array keyword family over `embeddings` --------------------------------
EMBEDDINGS_RULE = TableRule(
    name="embeddings",
    columns={
        "embedding": Rule(
            type="array",
            min_items=64,
            max_items=64,
            unique_items=True,
            items=Rule(type="number", minimum=-1.0, maximum=1.0),
            contains=Rule(minimum=0.3),
        ),
        "label": Rule(type="integer", minimum=0, maximum=9),
    },
    metadata={"required": ["vec_id", "embedding"]},
)
EMBEDDINGS_ELEM_TYPES = {"embedding": "array", "label": "integer"}


def q_kw_array_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _read(spark, sf_dir, "embeddings")
    tr = TableRule(
        name=EMBEDDINGS_RULE.name,
        columns=dict(EMBEDDINGS_RULE.columns),
        metadata={"required": ["vec_id", "embedding"]},
    )
    # vec_id has no keyword constraints; required-only check
    tr.columns.setdefault("vec_id", True)
    return compile_table(tr, df.schema).summary(df)


_EMB_TR = TableRule(
    name="embeddings",
    columns={**EMBEDDINGS_RULE.columns, "vec_id": True},
    metadata={"required": ["vec_id", "embedding"]},
)
_register(
    "kw_array_embeddings",
    q_kw_array_embeddings,
    summary_sql(_EMB_TR, "embeddings", EMBEDDINGS_ELEM_TYPES),
)

# --- composition keyword family over `orders` ------------------------------
ORDERS_RULE = TableRule(
    name="orders",
    columns={
        "o_totalprice": Rule(
            type="number",
            all_of=[Rule(minimum=0.0), Rule(maximum=600000.0)],
            any_of=[Rule(maximum=50000.0), Rule(minimum=450000.0)],
            one_of=[Rule(maximum=100000.0), Rule(minimum=200000.0)],
            not_=Rule(minimum=500000.0),
        ),
        "o_orderstatus": Rule(
            type="string",
            if_=Rule(const="P"),
            then=Rule(enum=["P"]),
            else_=Rule(enum=["O", "F"]),
        ),
        "o_orderpriority": Rule(type="string", pattern=r"^[1-5]-[A-Z ]+$"),
    },
    metadata={"required": ["o_orderkey"]},
)
ORDERS_ELEM_TYPES = {
    "o_totalprice": "double", "o_orderstatus": "string", "o_orderpriority": "string",
}


def q_kw_composition_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _read(spark, sf_dir, "orders")
    tr = TableRule(
        name="orders",
        columns={**ORDERS_RULE.columns, "o_orderkey": True},
        metadata={"required": ["o_orderkey"]},
    )
    return compile_table(tr, df.schema).summary(df)


_ORD_TR = TableRule(
    name="orders",
    columns={**ORDERS_RULE.columns, "o_orderkey": True},
    metadata={"required": ["o_orderkey"]},
)
_register(
    "kw_composition_orders",
    q_kw_composition_orders,
    summary_sql(_ORD_TR, "orders", ORDERS_ELEM_TYPES),
)


# ===========================================================================
# 2. Table-scope engine operators (SURVEY.md §2.3)
# ===========================================================================

def q_contiguity_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential contiguity: l_linenumber must chain 1..n per order."""
    df = _read(spark, sf_dir, "lineitem")
    per = uniq_ops.contiguity(df, "l_orderkey", "l_linenumber", start=1)
    return per.agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.sum(F.col("contiguous").cast("long")).alias("contiguous_groups"),
        F.sum((~F.col("contiguous")).cast("long")).alias("broken_groups"),
    )


_register(
    "contiguity_lineitem",
    q_contiguity_lineitem,
    """
    WITH per AS (
      SELECT l_orderkey,
             COUNT(*) AS n_rows,
             COUNT(DISTINCT l_linenumber) AS n_distinct,
             MIN(l_linenumber) AS mn, MAX(l_linenumber) AS mx,
             SUM(CASE WHEN l_linenumber IS NULL THEN 1 ELSE 0 END) AS nulls
      FROM lineitem GROUP BY l_orderkey
    )
    SELECT COUNT(*)::BIGINT AS n_groups,
           SUM(CASE WHEN nulls = 0 AND mn = 1 AND mx = n_rows AND n_distinct = n_rows
                    THEN 1 ELSE 0 END)::BIGINT AS contiguous_groups,
           SUM(CASE WHEN nulls = 0 AND mn = 1 AND mx = n_rows AND n_distinct = n_rows
                    THEN 0 ELSE 1 END)::BIGINT AS broken_groups
    FROM per
    """,
)


def q_uniqueness_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(l_orderkey, l_linenumber) uniqueness verdict (salted-agg semantics)."""
    df = _read(spark, sf_dir, "lineitem")
    return uniq_ops.uniqueness_verdict(df, ["l_orderkey", "l_linenumber"])


_register(
    "uniqueness_lineitem",
    q_uniqueness_lineitem,
    """
    WITH per AS (
      SELECT l_orderkey, l_linenumber, COUNT(*) AS n
      FROM lineitem GROUP BY 1, 2
    )
    SELECT SUM(n)::BIGINT AS total_rows,
           COUNT(*)::BIGINT AS distinct_keys,
           SUM(CASE WHEN n > 1 THEN n ELSE 0 END)::BIGINT AS duplicate_rows,
           (MAX(n) <= 1) AS passed
    FROM per
    """,
)


def q_key_histogram_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lines-per-order histogram — group-size distribution (skew probe)."""
    df = _read(spark, sf_dir, "lineitem")
    return (
        df.groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).alias("n_lines"))
        .groupBy("n_lines")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy("n_lines")
    )


_register(
    "key_histogram_orders",
    q_key_histogram_orders,
    """
    SELECT n_lines, COUNT(*)::BIGINT AS n_orders FROM (
      SELECT l_orderkey, COUNT(*)::BIGINT AS n_lines FROM lineitem GROUP BY 1
    ) GROUP BY n_lines ORDER BY n_lines
    """,
)


def q_col_stats_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column stats (exact distinct for the oracle gate; the engine
    default is HLL `approx_count_distinct`, see operators/stats.py)."""
    df = _read(spark, sf_dir, "events")
    out = stats_ops.column_stats(
        df, ["event_id", "user_id", "event_type"], exact_distinct=True
    )
    return out.select(
        "column",
        "row_count",
        "null_count",
        F.round("null_fraction", 9).alias("null_fraction"),
        "distinct_count",
        "min_value",
        "max_value",
    )


_COLSTATS_ORACLE = " UNION ALL ".join(
    f"""
    SELECT '{c}' AS column, COUNT(*)::BIGINT AS row_count,
           SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END)::BIGINT AS null_count,
           round(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) / COUNT(*), 9) AS null_fraction,
           COUNT(DISTINCT {c})::BIGINT AS distinct_count,
           CAST(MIN({c}) AS VARCHAR) AS min_value,
           CAST(MAX({c}) AS VARCHAR) AS max_value
    FROM events
    """
    for c in ["event_id", "user_id", "event_type"]
)
_register("col_stats_events", q_col_stats_events, _COLSTATS_ORACLE)


def q_col_quantiles_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-column quantiles (oracle gate; the engine's 100 TB default
    is the GK-sketch `approx_percentile` path — `exact=False`)."""
    df = _read(spark, sf_dir, "events")
    return stats_ops.column_quantiles(df, ["value", "user_id", "event_id"], exact=True)


_QUANTILE_PROBS = "[0.25, 0.5, 0.75, 0.95, 0.99]"
_register(
    "col_quantiles_events",
    q_col_quantiles_events,
    " UNION ALL ".join(
        f"""
        SELECT '{c}' AS column, CAST(unnest({_QUANTILE_PROBS}) AS DOUBLE) AS prob,
               round(unnest(quantile_cont(CAST({c} AS DOUBLE), {_QUANTILE_PROBS})), 9) AS value
        FROM events
        """
        for c in ["value", "user_id", "event_id"]
    ),
)


def q_length_histogram_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _read(spark, sf_dir, "documents")
    return stats_ops.length_histogram(df, "text", log2=True)


_register(
    "length_histogram_documents",
    q_length_histogram_documents,
    """
    SELECT bucket,
           (CASE WHEN bucket < 0 THEN 0 ELSE CAST(pow(2.0, bucket) AS BIGINT) END) AS lo,
           (CASE WHEN bucket < 0 THEN 0 ELSE CAST(pow(2.0, bucket + 1) - 1 AS BIGINT) END) AS hi,
           COUNT(*)::BIGINT AS cnt
    FROM (
      SELECT CASE WHEN length(text) <= 0 THEN -1
                  ELSE CAST(floor(log2(length(text))) AS INT) END AS bucket
      FROM documents WHERE text IS NOT NULL
    ) GROUP BY bucket ORDER BY bucket
    """,
)


def q_chi_square_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square drift of event_type between two deterministic snapshots."""
    df = _read(spark, sf_dir, "events").withColumn(
        "snap", F.pmod(F.col("event_id"), F.lit(2))
    )
    out = drift_ops.chi_square(df, "snap", "event_type")
    return out.select(
        F.round("chi2", 6).alias("chi2"), "dof", "n", "n_groups", "n_values"
    )


_register(
    "chi_square_events",
    q_chi_square_events,
    """
    WITH obs AS (
      SELECT event_id % 2 AS grp, event_type AS val, COUNT(*)::DOUBLE AS o
      FROM events WHERE event_type IS NOT NULL GROUP BY 1, 2
    ),
    rt AS (SELECT grp, SUM(o) AS rt FROM obs GROUP BY 1),
    ct AS (SELECT val, SUM(o) AS ct FROM obs GROUP BY 1),
    tot AS (SELECT SUM(o) AS n FROM obs),
    cells AS (
      SELECT o.o, rt.rt * ct.ct / tot.n AS e
      FROM obs o JOIN rt USING (grp) JOIN ct USING (val) CROSS JOIN tot
    )
    SELECT round(SUM(pow(o - e, 2) / e), 6) AS chi2,
           ((SELECT COUNT(DISTINCT grp) FROM obs) - 1)
             * ((SELECT COUNT(DISTINCT val) FROM obs) - 1) AS dof,
           (SELECT CAST(n AS BIGINT) FROM tot) AS n,
           (SELECT COUNT(DISTINCT grp) FROM obs)::BIGINT AS n_groups,
           (SELECT COUNT(DISTINCT val) FROM obs)::BIGINT AS n_values
    FROM cells
    """,
)


def q_ks_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact KS drift of `value` between two deterministic snapshots."""
    ev = _read(spark, sf_dir, "events")
    a = ev.where(F.pmod(F.col("event_id"), F.lit(2)) == 0)
    b = ev.where(F.pmod(F.col("event_id"), F.lit(2)) == 1)
    out = drift_ops.ks_exact(a, b, "value")
    return out.select(F.round("ks_d", 6).alias("ks_d"), "n_a", "n_b")


_register(
    "ks_events",
    q_ks_events,
    """
    WITH a AS (
      SELECT CAST(value AS DOUBLE) AS v, COUNT(*) AS ca FROM events
      WHERE event_id % 2 = 0 AND value IS NOT NULL GROUP BY 1
    ),
    b AS (
      SELECT CAST(value AS DOUBLE) AS v, COUNT(*) AS cb FROM events
      WHERE event_id % 2 = 1 AND value IS NOT NULL GROUP BY 1
    ),
    m AS (
      SELECT coalesce(a.v, b.v) AS v, coalesce(ca, 0) AS ca, coalesce(cb, 0) AS cb
      FROM a FULL OUTER JOIN b ON a.v = b.v
    ),
    e AS (
      SELECT SUM(ca) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum_a,
             SUM(cb) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum_b
      FROM m
    ),
    tot AS (SELECT SUM(ca) AS na, SUM(cb) AS nb FROM m)
    SELECT round(MAX(abs(cum_a / tot.na - cum_b / tot.nb)), 6) AS ks_d,
           MAX(tot.na)::BIGINT AS n_a, MAX(tot.nb)::BIGINT AS n_b
    FROM e CROSS JOIN tot
    """,
)


REPAIR_RULE = TableRule(
    name="events",
    columns={
        "user_id": Rule(type="integer", minimum=100, default=100),
        "value": Rule(type="number", default=1.0),
        "event_type": Rule(
            type="string", enum=["click", "view", "purchase", "signup"], default="view"
        ),
    },
)


def q_repair_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repair mode driver-gated: `default` is an annotation, never an
    assertion (`/root/reference/entities.go:23`) — its ONE runtime effect is
    the opt-in NULL-coalesce pass (`ValidationPlan.repair`). The driver
    events table carries no NULLs, so the gate NULL-injects a deterministic
    slice first (same construction in the SQL mirror) — without it the
    comparison would be vacuously true on identity; the gate proves the
    repaired table: zero remaining NULLs in defaulted columns + exact
    integer/count aggregates matching the SQL COALESCE mirror."""
    eid = F.col("event_id")
    df = _read(spark, sf_dir, "events").select(
        F.when(eid % 13 != 0, F.col("user_id")).alias("user_id"),
        F.when(eid % 17 != 0, F.col("value")).alias("value"),
        F.when(eid % 11 != 0, F.col("event_type")).alias("event_type"),
    )
    rep = compile_table(REPAIR_RULE, df.schema).repair(df)
    return rep.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.col("user_id").isNull().cast("long")).alias("null_user_id"),
        F.sum(F.col("value").isNull().cast("long")).alias("null_value"),
        F.sum(F.col("event_type").isNull().cast("long")).alias("null_event_type"),
        F.sum("user_id").cast("long").alias("sum_user_id"),
        F.sum((F.col("value") == 1.0).cast("long")).alias("default_values"),
        F.sum((F.col("event_type") == "view").cast("long")).alias("view_events"),
    )


_register(
    "repair_events",
    q_repair_events,
    """
    WITH holes AS (
      SELECT CASE WHEN event_id % 13 != 0 THEN user_id END AS user_id,
             CASE WHEN event_id % 17 != 0 THEN value END AS value,
             CASE WHEN event_id % 11 != 0 THEN event_type END AS event_type
      FROM events
    ),
    rep AS (
      SELECT coalesce(user_id, 100) AS user_id,
             coalesce(value, 1.0) AS value,
             coalesce(event_type, 'view') AS event_type
      FROM holes
    )
    SELECT COUNT(*)::BIGINT AS n_rows,
           SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END)::BIGINT AS null_user_id,
           SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END)::BIGINT AS null_value,
           SUM(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END)::BIGINT AS null_event_type,
           SUM(user_id)::BIGINT AS sum_user_id,
           SUM(CASE WHEN value = 1.0 THEN 1 ELSE 0 END)::BIGINT AS default_values,
           SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)::BIGINT AS view_events
    FROM rep
    """,
)


def q_psi_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index of `value` between two deterministic
    snapshots (10 equal-width bins, eps-floored proportions — the standard
    training-data drift gate alongside KS/chi-square)."""
    ev = _read(spark, sf_dir, "events")
    a = ev.where(F.pmod(F.col("event_id"), F.lit(2)) == 0)
    b = ev.where(F.pmod(F.col("event_id"), F.lit(2)) == 1)
    out = drift_ops.psi(a, b, "value", buckets=10)
    return out.select(F.round("psi", 6).alias("psi"), "n_a", "n_b", "buckets")


_register(
    "psi_events",
    q_psi_events,
    """
    WITH vals AS (
      SELECT event_id % 2 AS grp, CAST(value AS DOUBLE) AS v FROM events
      WHERE value IS NOT NULL
    ),
    bounds AS (SELECT MIN(v) AS lo, MAX(v) AS hi FROM vals),
    binned AS (
      SELECT grp,
             CAST(least(greatest(floor((v - lo) / (CASE WHEN hi - lo = 0 THEN 1.0 ELSE hi - lo END) * 10), 0), 9) AS INT) AS bin,
             COUNT(*)::DOUBLE AS c
      FROM vals CROSS JOIN bounds GROUP BY 1, 2
    ),
    m AS (
      SELECT bin,
             SUM(CASE WHEN grp = 0 THEN c ELSE 0 END) AS ca,
             SUM(CASE WHEN grp = 1 THEN c ELSE 0 END) AS cb
      FROM binned GROUP BY bin
    ),
    tot AS (SELECT SUM(ca) AS na, SUM(cb) AS nb FROM m),
    cells AS (
      SELECT greatest(ca / tot.na, 1e-6) AS pa,
             greatest(cb / tot.nb, 1e-6) AS pb
      FROM m CROSS JOIN tot
    )
    SELECT round(SUM((pa - pb) * ln(pa / pb)), 6) AS psi,
           (SELECT na::BIGINT FROM tot) AS n_a,
           (SELECT nb::BIGINT FROM tot) AS n_b,
           10::BIGINT AS buckets
    FROM cells
    """,
)


# --- positional tuple items over a derived variable-length array ------------
TUPLE_RULE = TableRule(
    name="derived",
    columns={
        "arr": Rule(
            type="array",
            min_items=1,
            max_items=3,
            items=[Rule(pattern="^v"), Rule(min_length=2)],
            additional_items=Rule(max_length=1),
        )
    },
)


def q_kw_tuple_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional `items` + `additionalItems` (entities.go:689-748) gated on a
    derived variable-length array: element 0 must match ^v, element 1 needs
    length ≥2, the tail is capped at 1 char, and lengths 1..4 exercise
    min/maxItems."""
    i = F.col("event_id")
    arr = (
        F.when(i % 4 == 0, F.array(F.lit("v1")))
        .when(i % 4 == 1, F.array(F.lit("v2"), F.lit("ab")))
        .when(i % 4 == 2, F.array(F.lit("x2"), F.lit("a"), F.lit("b")))
        .otherwise(F.array(F.lit("v3"), F.lit("abc"), F.lit("c"), F.lit("dd")))
    )
    df = _read(spark, sf_dir, "events").select(arr.alias("arr"))
    return compile_table(TUPLE_RULE, df.schema).summary(df)


_register(
    "kw_tuple_events",
    q_kw_tuple_events,
    "WITH derived AS (SELECT CASE WHEN event_id % 4 = 0 THEN ['v1'] "
    "WHEN event_id % 4 = 1 THEN ['v2', 'ab'] "
    "WHEN event_id % 4 = 2 THEN ['x2', 'a', 'b'] "
    "ELSE ['v3', 'abc', 'c', 'dd'] END AS arr FROM events)\n"
    + summary_sql(TUPLE_RULE, "derived", {"arr": "array"}),
)


# --- object keywords over a STRUCT column (static-schema path) --------------
#
# compile.py's StructType branch (properties over known fields + required as
# field non-nullness) is the static sibling of the MapType branch; gate it
# via a derived struct column mirrored with sql_pred-generated field checks.
STRUCT_RULE = Rule(
    type="object",
    properties={
        "kind": Rule(enum=["click", "view", "purchase", "signup"]),
        "amount": Rule(minimum=0.0, maximum=300.0),
    },
    required=["kind", "amount"],
)


def q_kw_struct_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    i = F.col("event_id")
    df = _read(spark, sf_dir, "events").select(
        F.struct(
            # every 11th kind is NULL so struct `required` discriminates
            F.when(i % 11 != 0, F.col("event_type")).alias("kind"),
            F.col("value").alias("amount"),
        ).alias("st")
    )
    tr = TableRule(name="derived", columns={"st": STRUCT_RULE})
    return compile_table(tr, df.schema).summary(df)


def _struct_oracle() -> str:
    # generated through the same check_preds_sql path as every other
    # column type, via the struct<f1:t1,...> elem-type hint (round 6) —
    # the previously hand-assembled mirror is now mechanical
    from .oracle import summary_sql

    tr = TableRule(name="derived", columns={"st": STRUCT_RULE})
    return (
        "WITH derived AS (SELECT {'kind': CASE WHEN event_id % 11 != 0 THEN event_type END, "
        "'amount': value} AS st FROM events)\n"
        + summary_sql(tr, "derived", {"st": "struct<kind:string,amount:double>"})
    )


_register("kw_struct_events", q_kw_struct_events, _struct_oracle())


# --- full format-library gate over derived string columns -------------------
#
# kw_format_events gates date-time/uuid/base64; this derives one column per
# REMAINING format (email/hostname/ipv4/ipv6/uri/uri-reference/json-pointer/
# time/date) deterministically on both engines and runs the rule-compiled
# summary against the generated SQL mirror — the whole FORMAT_PREDICATES
# library is then CORRECTNESS-gated.
FORMAT_FULL_RULE = TableRule(
    name="derived",
    columns={
        "f_email": Rule(type="string", format="email"),
        "f_hostname": Rule(type="string", format="hostname"),
        "f_ipv4": Rule(type="string", format="ipv4"),
        "f_ipv6": Rule(type="string", format="ipv6"),
        "f_uri": Rule(type="string", format="uri"),
        "f_uriref": Rule(type="string", format="uri-reference"),
        "f_jptr": Rule(type="string", format="json-pointer"),
        "f_time": Rule(type="string", format="time"),
        "f_date": Rule(type="string", format="date"),
    },
)
_FMT_ELEM_TYPES = {c: "string" for c in FORMAT_FULL_RULE.columns}


def q_kw_format_full_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    i = F.col("event_id")

    def s(x):
        return x.cast("string")

    df = _read(spark, sf_dir, "events").select(
        F.when(i % 3 == 0, F.concat(F.lit("u"), s(i % 50), F.lit("@ex.com")))
        .otherwise(F.concat(F.lit("u"), s(i % 50), F.lit("at.ex"))).alias("f_email"),
        F.when(i % 5 == 0, F.lit("-bad.org"))
        .otherwise(F.concat(F.lit("h"), s(i % 9), F.lit(".org"))).alias("f_hostname"),
        F.concat(s(i % 300), F.lit(".0.0.1")).alias("f_ipv4"),
        F.when(i % 6 == 0, F.lit("2001:db8::1")).otherwise(F.lit("nocolons")).alias("f_ipv6"),
        F.when(i % 2 == 0, F.concat(F.lit("https://x/"), s(i % 7)))
        .otherwise(F.lit("not a uri")).alias("f_uri"),
        F.when(i % 8 == 0, F.lit("a b")).otherwise(F.concat(F.lit("/p/"), s(i % 5))).alias("f_uriref"),
        F.when(i % 4 == 0, F.concat(F.lit("/a/~0b/"), s(i % 3))).otherwise(F.lit("a/b")).alias("f_jptr"),
        F.when(i % 7 == 0, F.lit("bad-time"))
        .otherwise(F.concat(F.lpad(s(i % 24), 2, "0"), F.lit(":30:00"))).alias("f_time"),
        F.when(i % 9 == 0, F.lit("2024-13-01"))
        .otherwise(F.concat(F.lit("2024-01-"), F.lpad(s(i % 28 + 1), 2, "0"))).alias("f_date"),
    )
    return compile_table(FORMAT_FULL_RULE, df.schema).summary(df)


_FMT_DERIVED_SQL = """
    SELECT
      CASE WHEN event_id % 3 = 0 THEN 'u' || CAST(event_id % 50 AS VARCHAR) || '@ex.com'
           ELSE 'u' || CAST(event_id % 50 AS VARCHAR) || 'at.ex' END AS f_email,
      CASE WHEN event_id % 5 = 0 THEN '-bad.org'
           ELSE 'h' || CAST(event_id % 9 AS VARCHAR) || '.org' END AS f_hostname,
      CAST(event_id % 300 AS VARCHAR) || '.0.0.1' AS f_ipv4,
      CASE WHEN event_id % 6 = 0 THEN '2001:db8::1' ELSE 'nocolons' END AS f_ipv6,
      CASE WHEN event_id % 2 = 0 THEN 'https://x/' || CAST(event_id % 7 AS VARCHAR)
           ELSE 'not a uri' END AS f_uri,
      CASE WHEN event_id % 8 = 0 THEN 'a b'
           ELSE '/p/' || CAST(event_id % 5 AS VARCHAR) END AS f_uriref,
      CASE WHEN event_id % 4 = 0 THEN '/a/~0b/' || CAST(event_id % 3 AS VARCHAR)
           ELSE 'a/b' END AS f_jptr,
      CASE WHEN event_id % 7 = 0 THEN 'bad-time'
           ELSE lpad(CAST(event_id % 24 AS VARCHAR), 2, '0') || ':30:00' END AS f_time,
      CASE WHEN event_id % 9 = 0 THEN '2024-13-01'
           ELSE '2024-01-' || lpad(CAST(event_id % 28 + 1 AS VARCHAR), 2, '0') END AS f_date
    FROM events
"""
_register(
    "kw_format_full_events",
    q_kw_format_full_events,
    f"WITH derived AS ({_FMT_DERIVED_SQL})\n"
    + summary_sql(FORMAT_FULL_RULE, "derived", _FMT_ELEM_TYPES),
)


def q_drift_grouped_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-Arrow-UDF many-column drift (ONE melt pass + ONE hash-agg for
    all columns; per-column statistic in applyInPandas) — gated against
    per-column SQL mirrors of the identical chi-square / binned-KS formulas."""
    ev = _read(spark, sf_dir, "events")
    a = ev.where(F.pmod(F.col("event_id"), F.lit(2)) == 0)
    b = ev.where(F.pmod(F.col("event_id"), F.lit(2)) == 1)
    out = drift_ops.drift_report_grouped(
        a, b, categorical=["event_type"], numeric=["value"], ks_buckets=1024
    )
    return out.select(
        "column", "test", F.round("statistic", 6).alias("statistic"), "drifted"
    ).orderBy("column")


_KS_BINNED_SQL = """
    WITH vals AS (
      SELECT event_id % 2 AS grp, CAST(value AS DOUBLE) AS v FROM events
      WHERE value IS NOT NULL
    ),
    bounds AS (SELECT MIN(v) AS lo, MAX(v) AS hi FROM vals),
    binned AS (
      SELECT grp,
             CAST(least(greatest(floor((v - lo) / (CASE WHEN hi - lo = 0 THEN 1.0 ELSE hi - lo END) * 1024), 0), 1023) AS INT) AS bin,
             COUNT(*)::DOUBLE AS c
      FROM vals CROSS JOIN bounds GROUP BY 1, 2
    ),
    m AS (
      SELECT bin,
             SUM(CASE WHEN grp = 0 THEN c ELSE 0 END) AS ca,
             SUM(CASE WHEN grp = 1 THEN c ELSE 0 END) AS cb
      FROM binned GROUP BY bin
    ),
    tot AS (SELECT SUM(ca) AS na, SUM(cb) AS nb FROM m),
    e AS (
      SELECT SUM(ca) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cum_a,
             SUM(cb) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cum_b
      FROM m
    )
    SELECT MAX(abs(cum_a / tot.na - cum_b / tot.nb)) AS raw_stat
    FROM e CROSS JOIN tot
"""

_CHI2_GROUPED_SQL = """
    WITH obs AS (
      SELECT event_id % 2 AS grp, event_type AS val, COUNT(*)::DOUBLE AS o
      FROM events WHERE event_type IS NOT NULL GROUP BY 1, 2
    ),
    rt AS (SELECT grp, SUM(o) AS rt FROM obs GROUP BY 1),
    ct AS (SELECT val, SUM(o) AS ct FROM obs GROUP BY 1),
    tot AS (SELECT SUM(o) AS n FROM obs),
    cells AS (
      SELECT o.o, rt.rt * ct.ct / tot.n AS e
      FROM obs o JOIN rt USING (grp) JOIN ct USING (val) CROSS JOIN tot
    )
    SELECT SUM(pow(o - e, 2) / e) AS raw_stat FROM cells
"""

_register(
    "drift_grouped_events",
    q_drift_grouped_events,
    f"""
    SELECT 'event_type' AS column, 'chi_square' AS test,
           round(raw_stat, 6) AS statistic,
           raw_stat > 30.0 AS drifted
    FROM ({_CHI2_GROUPED_SQL})
    UNION ALL
    SELECT 'value' AS column, 'ks' AS test,
           round(raw_stat, 6) AS statistic,
           raw_stat > 0.1 AS drifted
    FROM ({_KS_BINNED_SQL})
    """,
)


def get_queries() -> Dict[str, Callable[[SparkSession, str], DataFrame]]:
    from . import queries_pipeline  # noqa: F401  (registers pipeline queries)

    return dict(QUERIES)


def get_oracles() -> Dict[str, str]:
    from . import queries_pipeline  # noqa: F401

    return dict(ORACLES)


def q_monotonic_shipdate_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monotonic-within-chain check (ts non-decreasing per conversation,
    FIXTURES.md F1) hosted on lineitem: l_shipdate along l_linenumber per
    order — summary of orders with regressions."""
    df = _read(spark, sf_dir, "lineitem")
    viol = uniq_ops.monotonic_violations(df, "l_orderkey", "l_linenumber", "l_shipdate")
    per_order = viol.groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("regressions"))
    return per_order.agg(
        F.count(F.lit(1)).alias("orders_with_regressions"),
        F.coalesce(F.sum("regressions"), F.lit(0)).cast("long").alias("total_regressions"),
    )


_register(
    "monotonic_shipdate_lineitem",
    q_monotonic_shipdate_lineitem,
    """
    WITH v AS (
      SELECT l_orderkey,
             l_shipdate < lag(l_shipdate) OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_shipdate) AS regress
      FROM lineitem
    ),
    per_order AS (
      SELECT l_orderkey, SUM(CASE WHEN regress THEN 1 ELSE 0 END) AS regressions
      FROM v GROUP BY l_orderkey HAVING SUM(CASE WHEN regress THEN 1 ELSE 0 END) > 0
    )
    SELECT COUNT(*)::BIGINT AS orders_with_regressions,
           coalesce(SUM(regressions), 0)::BIGINT AS total_regressions
    FROM per_order
    """,
)


# --- object keyword family over a derived map column ------------------------
#
# The driver tables have no map columns, so this derives one deterministically
# on BOTH engines (same trick as kw_format_events) and exercises the full
# map-object keyword family (``/root/reference/entities.go:42-50,751-810``)
# from ONE rule document compiled via compile.py's MapType branch and
# oracle._map_keyword_preds.
ATTRS_RULE = Rule(
    type="object",
    min_properties=2,
    max_properties=3,
    required=["a"],
    properties={"a": Rule(pattern=r"^v[0-9]$")},
    additional_properties=Rule(max_length=2),
    pattern_properties={"^x": Rule(max_length=1)},
    property_names=Rule(pattern=r"^[a-z0-9]+$", max_length=3),
    dependencies={"b": ["num"], "x9": Rule(min_properties=3)},
)
#: bool form of additionalProperties (reflect.go:1106-1113) on the same map —
#: fails whenever a key outside the declared set (x9/toolong) is present
ATTRS2_RULE = Rule(
    type="object",
    properties={"a": True, "b": True, "num": True},
    additional_properties=False,
)


def q_kw_object_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    eid = F.col("event_id")
    entries = F.array(
        F.when(
            eid % 13 != 0,
            F.struct(
                F.lit("a").alias("key"),
                F.concat(F.lit("v"), (eid % 12).cast("string")).alias("value"),
            ),
        ),
        F.when(
            eid % 3 == 0,
            F.struct(F.lit("b").alias("key"), F.col("event_type").alias("value")),
        ),
        F.when(
            eid % 7 == 0,
            F.struct(
                F.lit("x9").alias("key"),
                F.when(eid % 14 == 0, F.lit("z")).otherwise(F.lit("zz")).alias("value"),
            ),
        ),
        F.when(
            eid % 4 == 0,
            F.struct(F.lit("num").alias("key"), (eid % 250).cast("string").alias("value")),
        ),
        F.when(
            eid % 11 == 0,
            F.struct(F.lit("toolong").alias("key"), F.lit("t").alias("value")),
        ),
    )
    m = F.map_from_entries(F.filter(entries, lambda x: x.isNotNull()))
    # r7: construct the map ONCE behind a Generate barrier — the two
    # aliased projections of `m` each re-ran the whole map_from_entries
    # construction per row (HOFs are codegen-fallback, so no CSE); attrs2
    # is now a reference to the same computed column. Values unchanged.
    staged = _read(spark, sf_dir, "events").select(
        F.explode(F.array(m)).alias("attrs")
    )
    df = staged.select(F.col("attrs"), F.col("attrs").alias("attrs2"))
    tr = TableRule(
        name="derived", columns={"attrs": ATTRS_RULE, "attrs2": ATTRS2_RULE}
    )
    return compile_table(tr, df.schema).summary(df)


_ATTRS_SQL = """
    SELECT map_from_entries(list_filter([
      CASE WHEN event_id % 13 != 0 THEN {'key': 'a', 'value': 'v' || CAST(event_id % 12 AS VARCHAR)} ELSE NULL END,
      CASE WHEN event_id % 3 = 0 THEN {'key': 'b', 'value': event_type} ELSE NULL END,
      CASE WHEN event_id % 7 = 0 THEN {'key': 'x9', 'value': CASE WHEN event_id % 14 = 0 THEN 'z' ELSE 'zz' END} ELSE NULL END,
      CASE WHEN event_id % 4 = 0 THEN {'key': 'num', 'value': CAST(event_id % 250 AS VARCHAR)} ELSE NULL END,
      CASE WHEN event_id % 11 = 0 THEN {'key': 'toolong', 'value': 't'} ELSE NULL END
    ], x -> x IS NOT NULL)) AS attrs
    FROM events
"""
_register(
    "kw_object_events",
    q_kw_object_events,
    f"WITH d0 AS ({_ATTRS_SQL}), derived AS (SELECT attrs, attrs AS attrs2 FROM d0)\n"
    + summary_sql(
        TableRule(
            name="derived", columns={"attrs": ATTRS_RULE, "attrs2": ATTRS2_RULE}
        ),
        "derived",
        {"attrs": "map", "attrs2": "map"},
    ),
)


def q_kw_format_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`format` keyword over STRING inputs (native timestamp columns elide
    the check, so this derives string columns deterministically on both
    engines): date-time on cast(ts), uuid on md5-derived strings (dashed for
    every 4th row), base64 on event_type (some 4-char alphabet values pass)."""
    from .compile import compile_pred
    from .rules import Rule

    df = _read(spark, sf_dir, "events").select(
        F.col("ts").cast("string").alias("ts_str"),
        F.when(
            F.pmod(F.col("event_id"), F.lit(4)) == 0,
            F.concat_ws(
                "-",
                F.substring(F.md5(F.col("event_id").cast("string")), 1, 8),
                F.substring(F.md5(F.col("event_id").cast("string")), 9, 4),
                F.substring(F.md5(F.col("event_id").cast("string")), 13, 4),
                F.substring(F.md5(F.col("event_id").cast("string")), 17, 4),
                F.substring(F.md5(F.col("event_id").cast("string")), 21, 12),
            ),
        ).otherwise(F.md5(F.col("event_id").cast("string"))).alias("uid"),
        F.col("event_type").alias("b64"),
    )
    def fail_count(col: str, fmt: str):
        pred = compile_pred(
            Rule(type="string", format=fmt), F.col(col), df.schema[col].dataType
        )
        return F.sum(F.when(pred, 0).otherwise(1)).cast("long").alias(f"{col}_fail")

    return df.agg(
        fail_count("ts_str", "date-time"),
        F.count(F.lit(1)).cast("long").alias("row_count"),
        fail_count("uid", "uuid"),
        fail_count("b64", "base64"),
    )


_register(
    "kw_format_events",
    q_kw_format_events,
    f"""
    WITH derived AS (
      SELECT CAST(ts AS VARCHAR) AS ts_str,
             CASE WHEN event_id % 4 = 0 THEN
               substring(md5(CAST(event_id AS VARCHAR)), 1, 8) || '-' ||
               substring(md5(CAST(event_id AS VARCHAR)), 9, 4) || '-' ||
               substring(md5(CAST(event_id AS VARCHAR)), 13, 4) || '-' ||
               substring(md5(CAST(event_id AS VARCHAR)), 17, 4) || '-' ||
               substring(md5(CAST(event_id AS VARCHAR)), 21, 12)
             ELSE md5(CAST(event_id AS VARCHAR)) END AS uid,
             event_type AS b64
      FROM events
    )
    SELECT
      SUM(CASE WHEN NOT coalesce(
        (ts_str IS NULL OR (coalesce((regexp_matches(ts_str, '{_DATETIME_RE_SQL}') AND try_cast(regexp_replace(ts_str, '[Tt]', ' ') AS TIMESTAMP) IS NOT NULL), TRUE)))
        , TRUE) THEN 1 ELSE 0 END)::BIGINT AS ts_str_fail,
      COUNT(*)::BIGINT AS row_count,
      SUM(CASE WHEN NOT coalesce(
        (uid IS NULL OR (coalesce(regexp_matches(uid, '{_UUID_RE_SQL}'), TRUE)))
        , TRUE) THEN 1 ELSE 0 END)::BIGINT AS uid_fail,
      SUM(CASE WHEN NOT coalesce(
        (b64 IS NULL OR (coalesce((regexp_matches(b64, '{_B64_RE_SQL}') AND length(b64) % 4 = 0), TRUE)))
        , TRUE) THEN 1 ELSE 0 END)::BIGINT AS b64_fail
    FROM derived
    """,
)
