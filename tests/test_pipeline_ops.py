"""Unit tests for training-data pipeline operators: shingles, minhash
properties, simhash bounds, multimodal Arrow plumbing."""

from __future__ import annotations

import hashlib
import os

import pytest
from pyspark.sql import functions as F

from jsonschema_go_spark.operators import dedup as dd
from jsonschema_go_spark.operators import multimodal as mm
from jsonschema_go_spark.operators import text as tx
from tests import reference_forms as rf
from tests.conftest import SF_DIR


def test_word_shingles_edges(spark):
    df = spark.createDataFrame(
        [("a b c d",), ("a b",), ("",), ("  x   y  z ",)], "t string"
    )
    rows = df.select(rf.word_shingles(F.col("t"), 3).alias("s")).collect()
    assert rows[0]["s"] == ["a b c", "b c d"]
    assert rows[1]["s"] == []  # fewer words than n
    assert rows[2]["s"] == []
    assert rows[3]["s"] == ["x y z"]  # whitespace-normalized


def test_minhash_is_true_minhash(spark):
    """Signature equals the python min over md5(shingle + '#i') — guards the
    F.transform index-argument footgun."""
    df = spark.createDataFrame([(1, "w1 w2 w3 w4 w5")], "id long, t string")
    mh = dd.minhash_table(df, "id", "t", num_hashes=4).first()
    shingles = {"w1 w2 w3", "w2 w3 w4", "w3 w4 w5"}
    for i in range(4):
        expected = min(
            hashlib.md5((s + f"#{i}").encode()).hexdigest() for s in shingles
        )
        assert mh[f"mh{i}"] == expected, f"seed {i}"


def test_minhash_identical_docs_always_candidates(spark):
    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "the quick brown fox jumps over the lazy dog"),
         (3, "completely different text with other words entirely here")],
        "id long, t string",
    )
    pairs = {(r["id_a"], r["id_b"]) for r in dd.lsh_candidate_pairs(df, "id", "t").collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_simhash_properties(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"),
         (2, "alpha beta gamma delta epsilon zeta"),   # identical
         (3, "alpha beta gamma delta epsilon eta"),    # 1 word changed
         (4, "totally unrelated words here now ok")],
        "id long, t string",
    )
    sigs = {r["id"]: r["simhash_hex"] for r in dd.simhash64(df, "id", "t").collect()}
    assert all(len(s) == 16 for s in sigs.values())
    assert sigs[1] == sigs[2]

    def ham(a, b):
        return sum(bin(int(x, 16) ^ int(y, 16)).count("1") for x, y in zip(a, b))

    assert ham(sigs[1], sigs[3]) < ham(sigs[1], sigs[4])
    pairs = {(r["id_a"], r["id_b"]): r["hamming"]
             for r in dd.simhash_near_pairs(df, "id", "t", max_hamming=0).collect()}
    assert pairs.get((1, 2)) == 0


def test_exact_duplicates_normalized(spark):
    df = spark.createDataFrame(
        [(1, "Hello  World"), (2, "hello world"), (3, "other")], "id long, t string"
    )
    groups = dd.exact_duplicates(df, "id", "t").collect()
    assert len(groups) == 1 and groups[0]["dup_count"] == 2


def test_multimodal_plumbing(spark):
    docs = spark.createDataFrame(
        [(1, "hello"), (2, "world"), (3, None)], "doc_id long, text string"
    )
    assets = mm.synthesize_assets(docs, "doc_id", "text")
    feats = mm.extract_features(assets)
    rows = {r["asset_id"]: r for r in feats.collect()}
    assert len(rows) == 3
    # checksum matches a locally-computed sha256 of the payload
    assert rows[1]["checksum"] == hashlib.sha256(b"hello").hexdigest()
    assert rows[1]["n_bytes"] == 5
    assert len(rows[1]["features"]) == mm.FEATURE_DIM
    assert all(0.0 <= f <= 1.0 for f in rows[1]["features"])
    # deterministic fake decode
    expected = [hashlib.sha256(b"hello").digest()[i] / 255.0 for i in range(mm.FEATURE_DIM)]
    assert rows[1]["features"] == pytest.approx(expected)
    # None text → empty payload, not a crash
    assert rows[3]["n_bytes"] == 0


def test_quality_score_bounds(spark):
    df = spark.createDataFrame(
        [("good text with enough words to score well over the threshold here ok fine yes",),
         ("!!!???...",), ("",)],
        "text string",
    )
    rows = tx.quality_features(df).select("quality_score").collect()
    assert all(0.0 <= r["quality_score"] <= 1.0 for r in rows)
    assert rows[0]["quality_score"] > rows[1]["quality_score"]


def test_multimodal_resize_and_frame_sample(spark):
    """Resize (1→1) and frame-sample (1→N) plumbing: typed schemas, exact
    byte sizes, deterministic checksums — only the decode body is a stub."""
    from jsonschema_go_spark.operators import multimodal as mm

    docs = spark.createDataFrame(
        [(1, "hello world"), (2, "x"), (3, None)], "doc_id long, text string"
    )
    assets = mm.synthesize_assets(docs, "doc_id", "text")

    resized = mm.resize_images(assets, width=8, height=4).orderBy("asset_id")
    rows = resized.collect()
    assert [r["asset_id"] for r in rows] == [1, 2, 3]
    assert all(len(r["resized"]) == 32 for r in rows)  # 8*4 bytes exactly
    # deterministic: same inputs, same checksums on a second run
    again = {r["asset_id"]: r["resized_checksum"] for r in mm.resize_images(assets, 8, 4).collect()}
    assert again == {r["asset_id"]: r["resized_checksum"] for r in rows}

    frames = mm.sample_frames(assets, n_frames=4).orderBy("asset_id", "frame_idx")
    by_asset = {}
    for r in frames.collect():
        by_asset.setdefault(r["asset_id"], []).append(r)
    assert len(by_asset[1]) == 4  # 11-byte payload → 4 frames
    assert sum(r["frame_bytes"] for r in by_asset[1]) == 11  # slices cover all
    assert len(by_asset[2]) == 1  # 1-byte payload → short clip, 1 frame
    # doc 3 has empty payload (None text → ''): zero frames
    assert 3 not in by_asset


# ------------------------------------------------- connected components

def _union_find(edges):
    """Reference union-find for CC oracle checks."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def _cc_check(spark, edges):
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {
        (r["node"], r["component"])
        for r in dd.connected_components(pairs).collect()
    }
    want = set(_union_find(edges).items())
    assert got == want


def test_connected_components_chain(spark):
    """A 50-node chain: worst case for naive label propagation (diameter 50);
    large-star/small-star must converge in O(log n) rounds within max_iter."""
    _cc_check(spark, [(i, i + 1) for i in range(50)])


def test_connected_components_mixed_graph(spark):
    edges = (
        [(0, 1), (1, 2), (2, 0)]          # triangle
        + [(10, 11)]                        # isolated pair
        + [(20, 21), (21, 22), (23, 22)]    # path with reversed edge
        + [(30, 31), (31, 30), (30, 30)]    # dup + self-loop noise
    )
    _cc_check(spark, edges)


def test_connected_components_hash_random(spark):
    """Deterministic pseudo-random graph vs union-find ground truth."""
    edges = []
    for i in range(200):
        h = int(hashlib.md5(f"e{i}".encode()).hexdigest(), 16)
        edges.append((h % 97, (h // 97) % 97))
    edges = [(a, b) for a, b in edges if a != b]
    _cc_check(spark, edges)


def test_duplicate_clusters_and_keep_list(spark):
    df = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(8)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame(
        [(0, 3), (3, 5), (6, 7)], "id_a long, id_b long"
    )
    clusters = {
        r["node"]: (r["cluster_id"], r["is_survivor"])
        for r in dd.duplicate_clusters(pairs).collect()
    }
    assert clusters == {
        0: (0, True), 3: (0, False), 5: (0, False),
        6: (6, True), 7: (6, False),
    }
    kept = sorted(
        r["doc_id"] for r in dd.dedup_keep_list(df, "doc_id", pairs).collect()
    )
    assert kept == [0, 1, 2, 4, 6]  # survivors + singletons; 3,5,7 dropped


def test_connected_components_local_finish_keeps_prior_edges(spark):
    """A distributed run parks its converged edge set in ``_LAST_EDGES`` and
    its lazy labels read it; a later local-finish run must leave it pinned,
    so the earlier result still collects its labels."""
    jsc = spark.sparkContext._jsc.sc()
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(20)], "id_a long, id_b long"
    )
    dd.connected_components(chain).collect()  # local finish: nothing parked
    start = jsc.getPersistentRDDs().size()
    first = dd.connected_components(chain, local_finish_threshold=0)
    assert jsc.getPersistentRDDs().size() == start + 1  # the parked edge set
    dd.connected_components(chain).collect()
    assert sorted(tuple(r) for r in first.collect()) == [(i, 0) for i in range(21)]
    assert jsc.getPersistentRDDs().size() == start + 1


@pytest.mark.xfail(
    strict=True,
    reason="ROADMAP A2/C: the second DISTRIBUTED connected_components call's "
    "_park_edges releases the edge set the first call's lazy labels read "
    "(CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND); a RunScope that owns the edge sets fixes it",
)
def test_connected_components_two_distributed_calls_keep_first_labels(spark):
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(20)], "id_a long, id_b long"
    )
    first = dd.connected_components(chain, local_finish_threshold=0)
    dd.connected_components(chain, local_finish_threshold=0).collect()
    assert sorted(tuple(r) for r in first.collect()) == [(i, 0) for i in range(21)]


def test_lsh_candidate_pairs_survive_a_later_call(spark):
    """A lazy lsh_candidate_pairs result stays valid after a second call
    (ROADMAP A2): the band grouping holds no checkpoint that the later call
    could release."""
    docs = spark.read.parquet(f"{os.path.dirname(SF_DIR)}/sf0.01/documents.parquet")
    first = dd.lsh_candidate_pairs(docs, "doc_id", "text")
    dd.lsh_candidate_pairs(docs.where(F.col("doc_id") % 2 == 0), "doc_id", "text").collect()
    got = sorted(tuple(r) for r in first.collect())
    assert len(got) == 26
    assert got == sorted(tuple(r) for r in dd.lsh_candidate_pairs(docs, "doc_id", "text").collect())


# ------------------------------------------------------------ id types

#: id column recasts whose order matches the int ids, and their inverse
_ID_KINDS = {
    "string": (lambda c: F.format_string("d%08d", c), lambda v: int(v[1:])),
    "decimal": (lambda c: c.cast("decimal(12,0)"), int),
}


@pytest.mark.parametrize("kind", sorted(_ID_KINDS))
def test_dedup_kernels_pass_any_id_type(spark, kind):
    """The Arrow signature kernels carry ids as payload: on string and
    decimal ids, minhash/simhash signatures and the candidate/near pairs
    equal the int-id run with ids mapped, and keep the input id type."""
    to_id, back = _ID_KINDS[kind]
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    base = docs.select("doc_id", "text")
    dups = base.where(F.col("doc_id") % 10 == 0).withColumn(
        "doc_id", F.col("doc_id") + 100_000
    )
    corpus = base.unionByName(dups)
    recast = corpus.select(to_id(F.col("doc_id")).alias("doc_id"), "text")
    id_type = recast.schema["doc_id"].dataType

    def same(op, *args):
        want = sorted(tuple(r) for r in op(corpus, "doc_id", "text", *args).collect())
        out = op(recast, "doc_id", "text", *args)
        ids = [c for c in out.columns if c in ("doc_id", "id_a", "id_b")]
        assert all(out.schema[c].dataType == id_type for c in ids), op.__name__
        got = sorted(
            tuple(back(r[c]) if c in ids else r[c] for c in out.columns)
            for r in out.collect()
        )
        assert got == want, op.__name__
        return want

    same(dd.minhash_table)
    same(dd.simhash64)
    assert same(dd.lsh_candidate_pairs)
    assert same(dd.simhash_near_pairs, 3)
