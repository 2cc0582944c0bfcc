"""Reference forms: earlier production code, kept out of the package as the
ground truth that the forms which replaced it are tested against."""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from jsonschema_go_spark.operators import dedup as dd
from jsonschema_go_spark.operators import similarity as sim
from jsonschema_go_spark.operators import uniqueness as uq
from jsonschema_go_spark.operators.text import normalize


def seed_bucket_pass(
    plan,
    staged: DataFrame,
    b: int,
    keys: Sequence[str] = ("conv_id", "turn_idx"),
    key_col: str = "conv_id",
    order_col: str = "turn_idx",
):
    """One bucket of ``CheckpointedRun`` before the fused rollup: separate
    verdict, uniqueness and salted contiguity aggregates, their crossJoin,
    and a totals aggregate over the cached verdicts.

    → ``(violations, verdicts, quality, (rows, violations))``: the three
    DataFrames the bucket appended (``bucket`` a literal column) and the
    lineage counts it recorded.
    """
    part = staged.where(F.col("_bucket") == b).drop("_bucket")
    viol = plan.violations(part, list(keys), ordered=False).withColumn("bucket", F.lit(b))
    verd = plan.verdicts(part, key_col).withColumn("bucket", F.lit(b))
    uniq = uq.uniqueness_verdict(part, [key_col, order_col])
    contig = uq.contiguity(part, key_col, order_col, start=0).agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.sum((~F.col("contiguous")).cast("long")).alias("broken_groups"),
    )
    qual = (
        uniq.crossJoin(contig)
        .select(
            F.col("total_rows"),
            F.col("distinct_keys"),
            F.col("duplicate_rows"),
            F.col("passed").alias("unique_passed"),
            F.col("n_groups"),
            F.col("broken_groups"),
            (F.col("broken_groups") == 0).alias("contiguous_passed"),
        )
        .withColumn("bucket", F.lit(b))
    )
    tot = verd.agg(F.sum("rows").alias("r"), F.sum("violation_count").alias("v")).first()
    return viol, verd, qual, (tot["r"] or 0, tot["v"] or 0)


def stateful_contiguity_stream(
    stream: DataFrame,
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
    start: int = 0,
) -> DataFrame:
    """The ``applyInPandasWithState`` per-conversation turn-chain stream →
    ``(conv, rows, n_rows, min_idx, max_idx, contiguous)`` for an update-mode
    sink: the cross-check the stream verdict's ``contiguous`` column is
    pinned against, from state kept in Python instead of a JVM aggregate.

    State per conversation is the exact distinct turn-index set plus a
    counter of every row seen (NULL indices included): ``rows`` is the
    distinct count, ``n_rows`` the row count, and the verdict is
    :func:`~jsonschema_go_spark.operators.uniqueness.chain_invariant` over
    them, projected on the JVM. The key field type comes from the input
    schema, so a non-string conversation key round-trips through Arrow.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

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
    return stats.select(
        conv_col, "rows", "n_rows", "min_idx", "max_idx",
        uq.chain_invariant(
            F.col("n_rows"), F.col("rows"), F.col("nulls"),
            F.col("min_idx"), F.col("max_idx"), start,
        ).alias("contiguous"),
    )


def word_shingles(c: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of the normalized text (array<string>)
    by ``zip_with`` over ``n-1`` shifted slices of the words array, then a
    slice to the ``len-n+1`` valid positions — the round-5 construction,
    kept as the ground truth ``dedup._shingles_of_words`` is pinned against.
    Trailing zip positions pair with NULL padding and are cut by the final
    ``slice``; documents shorter than ``n`` words take the empty-array
    branch.
    """
    words = F.split(normalize(c), " ")
    m = F.size(words)
    k = m - (n - 1)
    acc = words
    for j in range(1, n):
        acc = F.zip_with(
            acc,
            F.slice(words, j + 1, F.greatest(m - j, F.lit(0))),
            lambda p, z: F.concat_ws(" ", p, z),
        )
    sh = F.when(k <= 0, F.array().cast("array<string>")).otherwise(
        F.slice(acc, 1, k)
    )
    return F.array_distinct(sh)


def minhash_table_agg(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 12,
    n: int = 3,
) -> DataFrame:
    """The round-6 explode + k×min(md5) aggregation form — the ground truth
    ``dedup.minhash_table`` is pinned against."""
    sh = dd.shingle_table(df, id_col, text_col, n)
    aggs = [
        F.min(F.md5(F.concat(F.col("shingle"), F.lit(f"#{i}")))).alias(f"mh{i}")
        for i in range(num_hashes)
    ]
    return sh.groupBy(id_col).agg(*aggs)


_HEX = "0123456789abcdef"


def hex_digit_val(h: Column, pos: int) -> Column:
    """Value 0-15 of hex digit `pos` (0-based) of an md5 hex string —
    arithmetic-only (instr into the hex alphabet), portable to SQL."""
    return F.instr(F.lit(_HEX), F.substring(h, pos + 1, 1)) - 1


def _bit_from_hex(h: Column, bit: int) -> Column:
    """Bit `bit` (0 = MSB of digit 0) of the hex string, as 0/1 int."""
    d = hex_digit_val(h, bit // 4)
    shift = 3 - (bit % 4)
    return F.floor(d / F.lit(2 ** shift)) % 2


def simhash64_agg(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """The round-6 two-level aggregation SimHash — the ground truth
    ``dedup.simhash64`` is pinned against.

    Explode(words) → count per (doc, word-hash) → 64 weighted SUMs per doc;
    the first (cheap, one-counter) agg collapses repeated words BEFORE the
    64 bit-extraction expressions run (Zipf), and the per-vocab-word bit
    table + broadcast join variant measured WORSE (r5 notes).
    """
    words = (
        df.where(F.col(text_col).isNotNull())
        .select(
            F.col(id_col),
            F.explode(F.split(normalize(F.col(text_col)), " ")).alias("w"),
        )
        .where(F.length("w") > 0)
        .select(F.col(id_col), F.md5(F.col("w")).alias("h"))
    )
    wc = words.groupBy(id_col, "h").agg(F.count(F.lit(1)).alias("cnt"))
    aggs = [
        F.sum(F.col("cnt") * (_bit_from_hex(F.col("h"), b) * 2 - 1)).alias(f"s{b}")
        for b in range(64)
    ]
    sums = wc.groupBy(id_col).agg(*aggs)
    # bit b of signature = 1 if vote sum > 0; re-assemble as 16 hex digits
    hex_digits = []
    for d in range(16):
        val = None
        for j in range(4):
            bit = (F.col(f"s{d * 4 + j}") > 0).cast("int") * (2 ** (3 - j))
            val = bit if val is None else (val + bit)
        hex_digits.append(F.substring(F.lit(_HEX), 1, 16).substr(val + 1, F.lit(1)))
    return sums.select(
        F.col(id_col), F.concat(*hex_digits).alias("simhash_hex")
    )


def near_dup_pairs_cartesian(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    sample_mod: Optional[int] = None,
) -> DataFrame:
    """Exact embedding near-dup pairs as the interpreted cartesian: every
    ``id_a < id_b`` pair (within the ``id % sample_mod == 0`` sample when
    ``sample_mod`` is given) scored with the SQL ``zip_with`` + ``aggregate``
    fold → ``(id_a, id_b, cos)``. The ground truth the vectorized
    ``similarity.embedding_near_dup_pairs`` audit and the LSH verify are
    pinned against; O(N²), so never run at scale. Norms are hoisted once
    per vector, so each pair costs one fold (the same doubles)."""
    base = df if sample_mod is None else df.where(F.col(id_col) % sample_mod == 0)
    a = base.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("_va"),
        sim.norm(F.col(vec_col)).alias("_na"),
    )
    b = base.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("_vb"),
        sim.norm(F.col(vec_col)).alias("_nb"),
    )
    return (
        a.crossJoin(b)
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(
                sim._safe_ratio(
                    sim.dot(F.col("_va"), F.col("_vb")), F.col("_na"), F.col("_nb")
                ),
                6,
            ).alias("cos"),
        )
        .where(F.col("cos") >= threshold)
    )


def score_probed(
    probes: DataFrame, index: DataFrame, id_col: str, vec_col: str, k: int
) -> DataFrame:
    """Exact cosine of each probe's query against its cell's index rows as
    the interpreted join + ``zip_with`` fold, best score per (query,
    neighbor) across probes, ranked → top-k. ``probes`` is
    ``similarity._ivf_probes`` output, ``index`` has ``(cell, id, vec)``.
    The ground truth the one-pass ``similarity._ivf_scan`` is pinned
    against."""
    scored = (
        probes.join(index.withColumn("_in", sim.norm(F.col(vec_col))), "cell")
        .where(F.col("query_id") != F.col(id_col))
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            F.round(
                sim._safe_ratio(
                    sim.dot(F.col("_qv"), F.col(vec_col)), F.col("_qn"), F.col("_in")
                ),
                6,
            ).alias("cos"),
        )
        .groupBy("query_id", "neighbor_id")  # a neighbor may match via several probes
        .agg(F.max("cos").alias("cos"))
    )
    return sim._rank_topk(scored, k)


def ivf_topk_join(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_ids: Sequence,
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    centroids: Optional[list] = None,
) -> DataFrame:
    """``similarity.ivf_topk`` as the JVM probe window over a broadcast
    cross-join plus :func:`score_probed` over the IVF index: the form the
    one-pass IVF top-k replaced."""
    index = sim.ivf_index(df, id_col, vec_col, n_cells, centroids)
    cents = sim._cents_df(df, id_col, vec_col, n_cells, centroids)
    q = sim._queries(df.where(F.col(id_col).isin(*list(query_ids))), id_col, vec_col)
    return score_probed(sim._ivf_probes(q, cents, n_probe), index, id_col, vec_col, k)
