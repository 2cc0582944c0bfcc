"""Embedding similarity operators: brute-force cosine top-k, the exact
near-dup audit, sign-LSH buckets and near-dup pairs, IVF index / k-means /
top-k (in memory and stored), and the numpy kernel they share. Every
vectorized path is pinned bit-for-bit against its interpreted SQL form."""

from __future__ import annotations

import os
import struct

import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from jsonschema_go_spark.operators import similarity as sim
from tests import reference_forms as rf
from tests.conftest import SF_DIR

#: the test-data root holding the sf0.001 and sf0.01 tables
TESTDATA = os.path.dirname(SF_DIR)


# ---------------------------------------------------------- cosine top-k

def test_cosine_self_similarity(spark):
    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [-1.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    tk = {(r["query_id"], r["rank"]): (r["neighbor_id"], r["cos"])
          for r in sim.cosine_topk(df, "vec_id", "embedding", [0], k=3).collect()}
    assert tk[(0, 1)] == (1, 1.0)       # identical vector first
    assert tk[(0, 2)][1] == 0.0          # orthogonal
    assert tk[(0, 3)] == (3, -1.0)       # opposite last


# ----------------------------------------------------------- numpy kernel

def test_np_seq_norms_bit_identical_to_sql_fold(spark):
    """The numpy kernel's norms (the one sequential fold, squared-and-summed
    in index order) must be BIT-identical to the SQL aggregate fold — same
    IEEE double ops in the same order."""
    import numpy as np
    import pyarrow as pa

    vecs = [
        [0.1, -2.5, 3.75, 1e-8],
        [1.0] * 64,
        [float(i) * 0.3 for i in range(64)],
        [0.0, 0.0],
        [1e154, 1e154],  # large magnitudes: rounding differences would show
    ]
    with np.errstate(over="ignore"):  # 1e154² sums to inf on both engines
        g = sim._by_len(pa.array(vecs, pa.list_(pa.float64())))
        got = [sim._np_seq_norms(np.array([v]))[0] for v in vecs]
    rows = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "i int, v array<double>"
    ).select("i", sim.norm(F.col("v")).alias("n")).orderBy("i").collect()

    for py, grouped, r in zip(got, g.norms, rows):
        assert struct.pack("<d", py) == struct.pack("<d", r["n"])
        assert struct.pack("<d", grouped) == struct.pack("<d", r["n"])


# --------------------------------------------- exact near-dup (sampled audit)

def _pairs_bits(df):
    return {
        (r["id_a"], r["id_b"]): struct.pack("<d", r["cos"]) for r in df.collect()
    }


def test_vectorized_neardup_bitexact_on_real_data(spark):
    """sf0.001 embeddings, two thresholds: the vectorized sampled path must
    emit the identical pair set with bit-identical rounded cosines."""
    df = spark.read.parquet(f"{TESTDATA}/sf0.001/embeddings.parquet")
    for thr in (0.3, 0.0):
        old = _pairs_bits(rf.near_dup_pairs_cartesian(df, "vec_id", "embedding", thr, 4))
        new = _pairs_bits(
            sim.embedding_near_dup_pairs(
                df, "vec_id", "embedding", threshold=thr, sample_mod=4
            )
        )
        assert old == new


@pytest.mark.parametrize("thr", [0.0, 0.9, -1.0, -2.0])
def test_vectorized_neardup_bitexact_adversarial(spark, thr):
    """Adversarial vector shapes: NULL vector, NULL element (NaN norm),
    all-zero vector (zero-norm guard), ragged lengths (cross-length pairs
    only survive via the zero-norm guard), empty vectors."""
    rows = [
        (0, [1.0] * 8),
        (4, [1.0] * 8),
        (8, None),
        (12, [0.0] * 8),
        (16, [1.0, None] + [2.0] * 6),
        (20, [1.0] * 4),
        (24, [1.0] * 4),
        (28, []),
        (32, []),
        (3, [9.9] * 8),
    ]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    old = _pairs_bits(rf.near_dup_pairs_cartesian(df, "vec_id", "embedding", thr, 4))
    new = _pairs_bits(
        sim.embedding_near_dup_pairs(
            df, "vec_id", "embedding", threshold=thr, sample_mod=4
        )
    )
    assert old == new


def test_exact_neardup_samples_both_sides(spark):
    """The audit path's cartesian must be bounded: BOTH sides restricted to
    the deterministic sample (no gated query ships a sample × full-corpus
    cartesian)."""
    df = spark.read.parquet(f"{TESTDATA}/sf0.001/embeddings.parquet")
    out = sim.embedding_near_dup_pairs(
        df, "vec_id", "embedding", threshold=0.0, sample_mod=4
    )
    rows = out.collect()
    assert rows, "sampled audit produced no pairs at threshold 0"
    assert all(r["id_a"] % 4 == 0 and r["id_b"] % 4 == 0 for r in rows)
    # r7: the sampled path is the broadcast+mapInArrow vectorized form —
    # pin it bit-for-bit against the ground-truth all-pairs cartesian on the
    # pre-filtered sample, which is strictly stronger than the old
    # plan-string check that both join inputs were sampled
    truth = rf.near_dup_pairs_cartesian(
        df.where(F.col("vec_id") % 4 == 0), "vec_id", "embedding", 0.0
    ).collect()
    assert {(r["id_a"], r["id_b"], r["cos"]) for r in rows} == {
        (r["id_a"], r["id_b"], r["cos"]) for r in truth
    }


def test_vectorized_neardup_preserves_id_dtype(spark):
    df = spark.createDataFrame(
        [(0, [1.0] * 4), (4, [1.0] * 4)], "vec_id int, embedding array<double>"
    )
    out = sim.embedding_near_dup_pairs(
        df, "vec_id", "embedding", threshold=0.9, sample_mod=4
    )
    assert out.schema.simpleString() == "struct<id_a:int,id_b:int,cos:double>"
    dfl = spark.createDataFrame(
        [(0, [1.0] * 4), (4, [1.0] * 4)], "vec_id long, embedding array<double>"
    )
    outl = sim.embedding_near_dup_pairs(
        dfl, "vec_id", "embedding", threshold=0.9, sample_mod=4
    )
    assert outl.schema.simpleString() == "struct<id_a:bigint,id_b:bigint,cos:double>"


# ------------------------------------------------------------ sign-LSH

def test_lsh_bucket_deterministic(spark):
    df = spark.createDataFrame(
        [(0, [1.0, 2.0, 3.0, 4.0])], "vec_id long, embedding array<float>"
    )
    b1 = df.select(sim.sign_lsh_bucket(F.col("embedding"), 4, planes=8).alias("b")).first()["b"]
    b2 = df.select(sim.sign_lsh_bucket(F.col("embedding"), 4, planes=8).alias("b")).first()["b"]
    assert b1 == b2 and len(b1) == 8 and set(b1) <= {"0", "1"}


def test_lsh_near_dup_pairs_tolerates_null_vectors(spark):
    rows = [
        (0, [1.0] * 8),
        (1, [1.0] * 8),       # exact dup of 0
        (2, None),             # null vector: must not crash the Arrow batch
        (3, [-1.0] * 8),
        (4, None),
    ]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    got = sim.lsh_near_dup_pairs(
        df, "vec_id", "embedding", dim=8, threshold=0.9, bands=4, rows_per_band=4
    )
    pairs = {(r["id_a"], r["id_b"]) for r in got.collect()}
    assert pairs == {(0, 1)}
    # parity: the exact path on the same corpus yields the same pairs
    exact = rf.near_dup_pairs_cartesian(df, "vec_id", "embedding", 0.9)
    assert {(r["id_a"], r["id_b"]) for r in exact.collect()} == pairs


def test_lsh_near_dup_hot_bucket_cap(spark):
    """max_bucket_freq drops band-buckets larger than the cap (the LSH
    stop-shingle guard): identical vectors all land in one bucket per band,
    so a cap below the cluster size suppresses their pairs; without the cap
    the pairs are found and exact-verified."""
    rows = [(i, [1.0, 2.0, 3.0, 4.0]) for i in range(20)]  # one hot cluster
    rows += [(100, [-1.0, 5.0, -3.0, 2.0]), (101, [-1.0, 5.0, -3.0, 2.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    uncapped = sim.lsh_near_dup_pairs(
        df, "vec_id", "embedding", dim=4, threshold=0.99, bands=4, rows_per_band=4
    )
    # 20-cluster all-pairs (190) + the small pair
    assert uncapped.count() == 190 + 1

    capped = sim.lsh_near_dup_pairs(
        df, "vec_id", "embedding", dim=4, threshold=0.99,
        bands=4, rows_per_band=4, max_bucket_freq=5,
    )
    got = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    assert (100, 101) in got          # small bucket survives the cap
    assert len(got) == 1              # hot-cluster pairs suppressed


def test_lsh_neardup_broadcast_verify_matches_join_form(spark):
    """The broadcast-lookup candidate verification must equal the
    join-attached form (forced via max_broadcast_vectors=0) — pairs AND
    rounded cosines — on the injected-near-dup corpus and on adversarial
    NULL/ragged/zero-norm vectors."""
    from jsonschema_go_spark import queries_pipeline as qp

    def key(df):
        return sorted(
            (r["id_a"], r["id_b"], struct.pack("<d", r["cos"])) for r in df.collect()
        )

    corpus = qp._neardup_corpus(
        spark.read.parquet(f"{TESTDATA}/sf0.01/embeddings.parquet")
    )
    kw = dict(dim=64, threshold=0.9, bands=16, rows_per_band=12)
    a = key(sim.lsh_near_dup_pairs(corpus, "vec_id", "embedding", **kw))
    b = key(
        sim.lsh_near_dup_pairs(
            corpus, "vec_id", "embedding", max_broadcast_vectors=0, **kw
        )
    )
    assert a == b and len(a) == 50

    rows = [
        (0, [1.0] * 8), (1, [1.0] * 8), (2, None), (3, [-1.0] * 8),
        (4, None), (5, [1.0, None] + [0.0] * 6), (6, [0.0] * 8),
    ]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    kw8 = dict(dim=8, threshold=0.9, bands=4, rows_per_band=4)
    a = key(sim.lsh_near_dup_pairs(df, "vec_id", "embedding", **kw8))
    b = key(sim.lsh_near_dup_pairs(df, "vec_id", "embedding", max_broadcast_vectors=0, **kw8))
    assert a == b == key(
        sim.lsh_near_dup_pairs(df, "vec_id", "embedding", max_broadcast_vectors=0, **kw8)
    )


@pytest.mark.parametrize("kind", ["string", "decimal"])
def test_lsh_near_dup_pairs_pass_any_id_type(spark, kind):
    """Both verify paths (broadcast lookup and join-attached) carry string
    and decimal ids through, with the int-id run's pairs and cosines."""
    to_id, back = {
        "string": (lambda c: F.format_string("d%08d", c), lambda v: int(v[1:])),
        "decimal": (lambda c: c.cast("decimal(12,0)"), int),
    }[kind]
    from jsonschema_go_spark import queries_pipeline as qp

    corpus = qp._neardup_corpus(
        spark.read.parquet(f"{TESTDATA}/sf0.001/embeddings.parquet")
    )
    recast = corpus.select(to_id(F.col("vec_id")).alias("vec_id"), "embedding")
    kw = dict(dim=64, threshold=0.9, bands=16, rows_per_band=12)
    want = sorted(
        (r["id_a"], r["id_b"], struct.pack("<d", r["cos"]))
        for r in sim.lsh_near_dup_pairs(corpus, "vec_id", "embedding", **kw).collect()
    )
    assert want
    for max_bc in (100_000, 0):
        out = sim.lsh_near_dup_pairs(
            recast, "vec_id", "embedding", max_broadcast_vectors=max_bc, **kw
        )
        assert out.schema["id_a"].dataType == recast.schema["vec_id"].dataType
        got = sorted(
            (back(r["id_a"]), back(r["id_b"]), struct.pack("<d", r["cos"]))
            for r in out.collect()
        )
        assert got == want, max_bc


# ----------------------------------------------------------------- IVF

def _ivf_index_window_reference(df, id_col, vec_col, n_cells, centroids=None):
    """The round-3 implementation, kept as the semantic reference: broadcast
    crossJoin + row_number window argmax (desc sim, asc cell)."""
    cents = sim._cents_df(df, id_col, vec_col, n_cells, centroids).withColumn(
        "_centn", sim.norm(F.col("_cent"))
    )
    scored = (
        df.select(F.col(id_col), F.col(vec_col), sim.norm(F.col(vec_col)).alias("_vn"))
        .crossJoin(F.broadcast(cents))
        .select(
            F.col(id_col),
            F.col(vec_col),
            F.col("cell"),
            sim._safe_ratio(
                sim.dot(F.col(vec_col), F.col("_cent")), F.col("_vn"), F.col("_centn")
            ).alias("_sim"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("_sim"), F.asc("cell"))
    return (
        scored.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") == 1)
        .select("cell", F.col(id_col), F.col(vec_col))
    )


@pytest.mark.parametrize("n_cells", [16, 256])
def test_ivf_index_argmax_matches_window_reference(spark, n_cells):
    df = spark.read.parquet(f"{TESTDATA}/sf0.001/embeddings.parquet")
    want = {
        (r["vec_id"], r["cell"])
        for r in _ivf_index_window_reference(df, "vec_id", "embedding", n_cells).collect()
    }
    got_rows = sim.ivf_index(df, "vec_id", "embedding", n_cells).collect()
    got = {(r["vec_id"], r["cell"]) for r in got_rows}
    assert len(got_rows) == df.count()  # every vector assigned exactly once
    assert got == want
    # the carried vector is the original one
    vecs = {r["vec_id"]: list(r["embedding"]) for r in df.collect()}
    for r in got_rows[:20]:
        assert list(r["embedding"]) == vecs[r["vec_id"]]


def test_ivf_assignment_vectorized_matches_argmax_carry(spark):
    """The Arrow/numpy cell assignment must equal the max_by(struct) JVM
    aggregate — real data plus NULL-vector / NULL-element / ragged /
    all-NaN / zero-norm adversarial vectors (NULL-sim fall-through to the
    lowest cell, NaN-wins, lowest-cell tie-breaks)."""
    def old_index(df, id_col, vec_col, n_cells=16, centroids=None):
        cents = sim._cents_df(df, id_col, vec_col, n_cells, centroids).withColumn(
            "_centn", sim.norm(F.col("_cent"))
        )
        vecs = df.select(
            F.col(id_col), F.col(vec_col), sim.norm(F.col(vec_col)).alias("_vn")
        )
        return sim._argmax_carry(vecs, id_col, vec_col, cents, "cell")

    emb = spark.read.parquet(f"{TESTDATA}/sf0.01/embeddings.parquet")
    o = old_index(emb, "vec_id", "embedding")
    n = sim.ivf_index(emb, "vec_id", "embedding")
    assert o.schema.simpleString() == n.schema.simpleString()
    assert o.exceptAll(n).count() == 0 and n.exceptAll(o).count() == 0

    rows = [
        (0, [1.0] * 8), (1, None), (2, [1.0, None] + [0.5] * 6),
        (3, [1.0] * 4), (4, [0.0] * 8), (5, [float("nan")] * 8),
        (6, [-1.0] * 8), (7, [0.5] * 8),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = [[1.0] * 8, [0.5] * 8, [-1.0] * 8]
    om = {r["vec_id"]: r["cell"] for r in old_index(df, "vec_id", "embedding", centroids=cents).collect()}
    nm = {r["vec_id"]: r["cell"] for r in sim.ivf_index(df, "vec_id", "embedding", centroids=cents).collect()}
    assert om == nm


def test_ivf_index_build_plan_no_window(spark):
    """Scale shape of the index build: with explicit centroids the plan has
    NO Window (no per-id sort-rank of n_cells vector copies). r7: the
    default path is the broadcast-centroid Arrow argmax map (no aggregate
    at all); the JVM max_by fallback (taken for centroid tables the numpy
    replay can't guarantee, here a NULL element) must still run its argmax
    as a map-side partial aggregate BEFORE the exchange."""
    df = spark.read.parquet(f"{TESTDATA}/sf0.001/embeddings.parquet")
    cents = [[float((c * 64 + j) % 7 - 3) for j in range(64)] for c in range(16)]
    idx = sim.ivf_index(df, "vec_id", "embedding", centroids=cents)
    plan = idx._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "MapInArrow" in plan or "ArrowEval" in plan  # vectorized default
    # JVM fallback: a default centroid table whose vectors carry a NULL
    # element (the numpy replay declines) → partial max_by before exchange
    rows = [(0, [None] + [1.0] * 7), (1, [0.5] * 8), (2, [1.0] * 8), (3, [-1.0] * 8)]
    df2 = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    idx2 = sim.ivf_index(df2, "vec_id", "embedding", n_cells=2)
    plan2 = idx2._jdf.queryExecution().executedPlan().toString()
    # (the default _cents_df numbers its <= n_cells seed rows with a tiny
    # row_number window — pre-existing; the ARGMAX itself must stay a
    # map-side partial max_by before the exchange, never a window sort)
    assert "partial_max_by" in plan2
    assert plan2.index("Exchange") < plan2.index("partial_max_by")


def test_ivf_index_partitions_all_vectors(spark):
    emb = spark.read.parquet(f"{TESTDATA}/sf0.001/embeddings.parquet")
    idx = sim.ivf_index(emb, "vec_id", "embedding", n_cells=8)
    assert idx.count() == emb.count()          # every vector in exactly one cell
    assert idx.select("vec_id").distinct().count() == emb.count()
    assert idx.select("cell").distinct().count() == 8


def test_ivf_exhaustive_equals_brute_force(spark):
    emb = spark.read.parquet(f"{TESTDATA}/sf0.001/embeddings.parquet")
    qids = [0, 100, 200]
    brute = {(r["query_id"], r["rank"]): (r["neighbor_id"], r["cos"])
             for r in sim.cosine_topk(emb, "vec_id", "embedding", qids, k=5).collect()}
    ivf_all = {(r["query_id"], r["rank"]): (r["neighbor_id"], r["cos"])
               for r in sim.ivf_topk(emb, "vec_id", "embedding", qids, k=5,
                                     n_cells=8, n_probe=8).collect()}
    assert ivf_all == brute


def test_ivf_probed_subset(spark):
    emb = spark.read.parquet(f"{TESTDATA}/sf0.001/embeddings.parquet")
    out = sim.ivf_topk(emb, "vec_id", "embedding", [0, 100], k=5,
                       n_cells=8, n_probe=2).collect()
    per_q = {}
    for r in out:
        per_q.setdefault(r["query_id"], []).append(r)
    for q, rows in per_q.items():
        assert len(rows) <= 5
        ranks = sorted(r["rank"] for r in rows)
        assert ranks == list(range(1, len(rows) + 1))
        cs = [r["cos"] for r in sorted(rows, key=lambda r: r["rank"])]
        assert cs == sorted(cs, reverse=True)


def test_kmeans_centroids_and_ivf_exhaustive_equivalence(spark):
    """k-means centroids are a drop-in for the IVF cell layout: with
    exhaustive probes the results STILL equal brute force regardless of the
    centroid quality (cells only partition the search space)."""
    df = spark.read.parquet(f"{TESTDATA}/sf0.001/embeddings.parquet")
    cents = sim.kmeans_centroids(df, "vec_id", "embedding", k=8, iters=3)
    assert len(cents) == 8 and all(len(c) == 64 for c in cents)

    qids = [0, 50, 100]
    brute = sim.cosine_topk(df, "vec_id", "embedding", qids, k=5)
    ivf_km = sim.ivf_topk(
        df, "vec_id", "embedding", qids, k=5, n_cells=8, n_probe=8, centroids=cents
    )
    a = sorted(tuple(r) for r in brute.collect())
    b = sorted(tuple(r) for r in ivf_km.collect())
    assert a == b

    # probe-limited k-means cells remain a valid (subset) search
    part = sim.ivf_topk(
        df, "vec_id", "embedding", qids, k=5, n_cells=8, n_probe=2, centroids=cents
    )
    got = {(r["query_id"], r["neighbor_id"]) for r in part.collect()}
    assert got and got.issubset({(x[0], x[1]) for x in a} | got)


def test_kmeans_survives_zero_vector(spark):
    """Review finding: cosine assignment divided by zero on a zero-norm
    vector (job abort under ANSI). Zero vectors now score -1 everywhere."""
    rows = [(0, [0.0, 0.0]), (1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, [0.0, 1.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = sim.kmeans_centroids(df, "vec_id", "embedding", k=2, iters=2)
    assert len(cents) == 2 and all(len(c) == 2 for c in cents)


@pytest.mark.parametrize(
    "rows",
    [
        # a NULL vector among the k lowest ids
        [(0, None), (1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [1.0, 0.5])],
        # a vector longer than the centroid dim
        [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [2.0, 0.0, 5.0]), (3, [1.0, 0.5])],
    ],
)
def test_kmeans_centroids_skip_null_and_ragged_vectors(spark, rows):
    """kmeans accepts what its cell assignment accepts: the init takes the k
    lowest-id non-NULL vectors, and a NULL or other-length vector does not
    enter a cell mean. Cell 0 = mean([1, 0], [1, 0.5]), cell 1 = [0, 1]."""
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = sim.kmeans_centroids(df, "vec_id", "embedding", k=2, iters=2)
    assert cents == [[1.0, 0.25], [0.0, 1.0]]


def test_kmeans_centroids_reject_ragged_init(spark):
    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [1.0, 0.0, 0.0])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="differ in length"):
        sim.kmeans_centroids(df, "vec_id", "embedding", k=2)


# ------------------------------------------------------- stored IVF index

def test_stored_ivf_matches_in_memory_and_prunes(spark, tmp_path):
    """write_ivf_index + ivf_topk_stored: results equal the in-memory ivf_topk
    for the same centroid layout, AND the scoring scan is partition-pruned to
    the probed cells (the plan carries a cell IN (...) PartitionFilter)."""
    df = spark.read.parquet(f"{TESTDATA}/sf0.001/embeddings.parquet")
    path = str(tmp_path / "ivf")
    qids = [0, 100, 200]
    sim.write_ivf_index(df, "vec_id", "embedding", path, n_cells=8)

    got = sim.ivf_topk_stored(spark, path, "vec_id", "embedding", qids, k=5, n_probe=2)
    want = sim.ivf_topk(df, "vec_id", "embedding", qids, k=5, n_cells=8, n_probe=2)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))

    # plan-level pruning evidence: the index scan filters on the partition
    # column, so unprobed cell directories are never read
    index = spark.read.parquet(path)
    probe_cells = [1, 3]
    pruned = index.where(F.col("cell").isin(probe_cells))
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan.split("PartitionFilters", 1)[1][:200]
    # and the files ACTUALLY read (runtime truth) are only the probed cells'
    read_files = {
        r[0] for r in pruned.select(F.input_file_name()).distinct().collect()
    }
    all_files = {
        r[0] for r in index.select(F.input_file_name()).distinct().collect()
    }
    assert read_files < all_files
    assert all(any(f"cell={c}/" in f for c in probe_cells) for f in read_files)


def test_stored_ivf_ids_sidecar_prunes_both_lookup_modes(spark, tmp_path):
    """`_ids/` sidecar: query-by-id lookup reads ONLY the queries' home-cell
    partitions (plus the tiny sidecar), and results equal both the
    query_vectors mode and the in-memory ivf_topk."""
    df = spark.read.parquet(f"{TESTDATA}/sf0.001/embeddings.parquet")
    path = str(tmp_path / "ivf")
    qids = [0, 100, 200]
    sim.write_ivf_index(df, "vec_id", "embedding", path, n_cells=8)

    # by-id lookup goes through the sidecar and must read a strict subset of
    # the index files, all from the queries' home cells
    lookup = sim._stored_query_lookup(spark, path, "vec_id", "embedding", qids)
    assert lookup.count() == len(qids)
    ids = spark.read.parquet(f"{path}/_ids")
    home_cells = {
        r["cell"] for r in ids.where(F.col("vec_id").isin(qids)).collect()
    }
    lookup_files = {
        r[0] for r in lookup.select(F.input_file_name()).distinct().collect()
    }
    index = spark.read.parquet(path)
    all_files = {
        r[0] for r in index.select(F.input_file_name()).distinct().collect()
    }
    assert lookup_files < all_files
    assert all(
        any(f"cell={c}/" in f for c in home_cells) for f in lookup_files
    )
    plan = lookup._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan

    # result parity: by-id == by-vector == in-memory
    by_id = sim.ivf_topk_stored(
        spark, path, "vec_id", "embedding", qids, k=5, n_probe=2
    )
    qvecs = [
        (r["vec_id"], list(r["embedding"]))
        for r in df.where(F.col("vec_id").isin(qids)).collect()
    ]
    by_vec = sim.ivf_topk_stored(
        spark, path, "vec_id", "embedding", qids, k=5, n_probe=2,
        query_vectors=qvecs,
    )
    want = sim.ivf_topk(df, "vec_id", "embedding", qids, k=5, n_cells=8, n_probe=2)
    a = sorted(map(tuple, by_id.collect()))
    b = sorted(map(tuple, by_vec.collect()))
    c = sorted(map(tuple, want.collect()))
    assert a == b == c


# ------------------------------------------------- one-pass IVF top-k

_N = float("nan")

#: fixtures for the IVF pass vs the join form: (rows, query ids, n_cells,
#: n_probe, centroids). Default centroids are the n_cells lowest-id rows.
_IVF_CASES = {
    "null_vectors": (
        [(1, [1.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0]), (3, [0.0, 0.0, 1.0]),
         (4, None), (5, [0.9, 0.1, 0.0]), (6, None), (7, [0.1, 0.2, 0.9])],
        [5, 7], 3, 2, None,
    ),
    "null_elements": (
        [(1, [1.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0]), (3, [0.0, 0.0, 1.0]),
         (4, [1.0, None, 0.5]), (5, [0.9, 0.1, 0.0]), (6, [None, None, None])],
        [5, 1], 3, 3, None,
    ),
    "nan_elements": (
        [(1, [1.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0]), (3, [0.0, 0.0, 1.0]),
         (4, [_N, 1.0, 0.0]), (5, [0.9, 0.1, 0.0]), (6, [0.0, 0.0, 0.0])],
        [5, 2], 3, 3, None,
    ),
    "zero_vectors": (
        [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [0.0, 0.0]), (4, [0.0, 0.0]),
         (5, [0.6, 0.8])],
        [3, 5], 2, 1, None,
    ),
    "ragged_vectors": (
        [(1, [1.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0]), (3, [1.0, 1.0]),
         (4, [0.0, 0.0]), (5, [0.5, 0.5, 0.5, 0.5]), (6, [0.3, 0.3, 0.9])],
        [6, 1], 2, 2, None,
    ),
    "duplicate_ids": (
        [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [0.7, 0.7]), (3, [0.9, 0.1]),
         (4, [0.2, 0.9]), (4, [0.8, 0.6]), (5, [0.5, 0.5])],
        [4, 5], 2, 1, None,
    ),
    "tied_sims": (
        [(1, [1.0, 1.0]), (2, [1.0, 0.0]), (3, [0.0, 1.0]), (4, [2.0, 2.0]),
         (5, [3.0, 0.1])],
        [1, 4], 2, 1, [[1.0, 0.0], [0.0, 1.0]],
    ),
    # a query whose centroid sims hold a NULL or NaN takes the JVM probes
    "fallback_null_query": (
        [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, None), (4, [0.5, 0.5]),
         (5, [1.0, None]), (6, [0.9, 0.2])],
        [3, 5, 6], 2, 1, None,
    ),
    "fallback_nan_query": (
        [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [_N, 1.0]), (4, [0.5, 0.5])],
        [3, 4], 2, 1, None,
    ),
    "fallback_ragged_centroids": (
        [(1, [1.0, 0.0]), (2, [0.0, 1.0, 0.0]), (3, [0.4, 0.6]), (4, [0.5, 0.5])],
        [3, 4], 2, 1, None,
    ),
}


def _canon(rows):
    import math

    return sorted(
        tuple("NaN" if isinstance(x, float) and math.isnan(x) else x for x in r)
        for r in rows
    )


@pytest.mark.parametrize("case", sorted(_IVF_CASES))
@pytest.mark.parametrize("id_kind", ["long", "string"])
def test_ivf_pass_equals_join_form(spark, case, id_kind, monkeypatch):
    """The one-pass IVF top-k equals the join-and-fold form row for row
    (NULL and NaN scores included) on NULL, NULL-element, NaN, zero, ragged
    and duplicate-id vectors, string ids, and tied probe sims; a NULL or NaN
    centroid sim takes the JVM probe choice, and only then."""
    rows, qids, n_cells, n_probe, cents = _IVF_CASES[case]
    if id_kind == "string":
        rows = [(f"v{i}", v) for i, v in rows]
        qids = [f"v{i}" for i in qids]
    df = spark.createDataFrame(rows, f"vec_id {id_kind}, embedding array<double>")
    calls = []
    jvm_probes = sim._jvm_probes
    monkeypatch.setattr(
        sim, "_jvm_probes", lambda *a: calls.append(1) or jvm_probes(*a)
    )
    kw = dict(k=3, n_cells=n_cells, n_probe=n_probe, centroids=cents)
    got = sim.ivf_topk(df, "vec_id", "embedding", qids, **kw)
    want = rf.ivf_topk_join(df, "vec_id", "embedding", qids, **kw)
    assert got.schema == want.schema
    assert _canon(got.collect()) == _canon(want.collect())
    assert bool(calls) == case.startswith("fallback"), calls


def test_stored_ivf_pass_equals_join_form_on_nulls(spark, tmp_path):
    """The stored IVF pass reads each row's stored cell: on NULL vectors,
    NULL elements and ragged rows it equals the join form over the same
    stored index and centroids, for both query lookup modes."""
    rows, qids = _IVF_CASES["null_elements"][:2]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    path = str(tmp_path / "ivf")
    sim.write_ivf_index(df, "vec_id", "embedding", path, n_cells=3)
    index = spark.read.parquet(path)
    cents = spark.read.parquet(f"{path}/_centroids")
    q = sim._queries(index.where(F.col("vec_id").isin(qids)), "vec_id", "embedding")
    want = _canon(rf.score_probed(sim._ivf_probes(q, cents, 2), index, "vec_id", "embedding", 3).collect())
    by_id = sim.ivf_topk_stored(spark, path, "vec_id", "embedding", qids, k=3, n_probe=2)
    assert _canon(by_id.collect()) == want
    qvecs = [(r["vec_id"], list(r["embedding"])) for r in df.where(F.col("vec_id").isin(qids)).collect()]
    by_vec = sim.ivf_topk_stored(
        spark, path, "vec_id", "embedding", qids, k=3, n_probe=2, query_vectors=qvecs
    )
    assert _canon(by_vec.collect()) == want


def test_ivf_topk_equals_join_form_at_sf001(spark):
    """Probe-limited IVF top-k on the sf0.01 embeddings equals the join form
    (n_probe < n_cells, default and k-means centroids)."""
    df = spark.read.parquet(f"{TESTDATA}/sf0.01/embeddings.parquet")
    qids = [0, 7, 100, 333]
    cents = sim.kmeans_centroids(df, "vec_id", "embedding", k=8, iters=2)
    for c in (None, cents):
        kw = dict(k=5, n_cells=8, n_probe=3, centroids=c)
        got = sim.ivf_topk(df, "vec_id", "embedding", qids, **kw).collect()
        want = rf.ivf_topk_join(df, "vec_id", "embedding", qids, **kw).collect()
        assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_arrow_kernels_keep_input_partitions(spark):
    """Under one file split the Arrow kernels run on the scan's own
    partitions: no round-robin shuffle in front of minhash, simhash, the
    near-dup audit or the IVF assignment."""
    from jsonschema_go_spark.operators import dedup as dd

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    plans = {
        "minhash_table": dd.minhash_table(docs, "doc_id", "text"),
        "simhash64": dd.simhash64(docs, "doc_id", "text"),
        "embedding_near_dup_pairs": sim.embedding_near_dup_pairs(
            emb, "vec_id", "embedding", 0.3, sample_mod=4
        ),
        "ivf_index": sim.ivf_index(emb, "vec_id", "embedding", n_cells=8),
    }
    for name, out in plans.items():
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "RoundRobinPartitioning" not in plan, (name, plan)
