"""Deduplication operators for training-data pipelines (driver mandate):
exact, word-n-gram Jaccard, MinHash+LSH, SimHash, embedding-cosine near-dup.

Scale design (100 TB):

- **exact**: hash-groupBy on the md5 fingerprint — one shuffle of (16-byte
  key, id); partial agg absorbs heavy duplicates.
- **n-gram Jaccard**: shingle-explode → self-join on shingle → per-pair
  common counts. The shingle join is the quadratic danger zone: hot shingles
  are capped (``max_shingle_freq``) exactly like stop-shingle filtering in
  production dedup pipelines — dropped shingles can only lower recall, never
  precision.
- **MinHash+LSH**: signatures are lexicographic MINs of md5(shingle ⊕ seed) —
  a valid MinHash family (any injective hash works; md5 hex strings compare
  lexicographically identically in Spark and DuckDB, making the oracle
  exact). Banding turns candidate generation into one grouping on band keys:
  shuffle is O(docs × bands), never O(docs²).
- **SimHash**: 64-bit signature from per-word md5s; bit b comes from hex
  digit b//4 of the word hash (arithmetic-only extraction so the identical
  computation runs in DuckDB). Near-dup = signatures within Hamming
  distance k, candidate-generated by grouping on 4 16-bit chunks
  (pigeonhole: hamming ≤ 3 ⇒ ≥1 chunk equal).
- **embedding cosine**: see operators/similarity.py; near-dup = cos ≥ τ.

Shingling, banding, candidate grouping, verification and connected
components are DataFrame operations. Three steps run Python over Arrow
batches (``mapInArrow``): the MinHash and SimHash signatures and the
vectorized Jaccard pair count. Signature kernels run on the input's own
partitions unless its bytes call for more tasks
(:func:`..sizing.kernel_input`).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..sizing import kernel_input
from .text import normalize


# --------------------------------------------------------------------- exact

def exact_duplicates(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact (normalized) duplicate groups → ``(fingerprint, dup_count)``."""
    from .text import fingerprint

    return (
        df.where(F.col(text_col).isNotNull())
        .groupBy(fingerprint(F.col(text_col)).alias("fingerprint"))
        .agg(F.count(F.lit(1)).alias("dup_count"))
        .where(F.col("dup_count") > 1)
    )


# ------------------------------------------------------------------ shingles

def _words_staged(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, _w) with ``_w`` = the normalized words array as a REAL COLUMN
    behind an ``explode(array(...))`` Generate barrier, so downstream
    shingle lambdas reference an attribute instead of re-evaluating the
    normalize+split subtree per element (r7 — measured 5.7 → 3.1 s for the
    shingle-array pass at sf1.0)."""
    return df.where(F.col(text_col).isNotNull()).select(
        F.col(id_col),
        F.explode(F.array(F.split(normalize(F.col(text_col)), " "))).alias("_w"),
    )


def _shingles_of_words(n: int = 3) -> Column:
    """Distinct word n-gram shingles from the staged ``_w`` words COLUMN —
    ``transform(sequence)`` + ``element_at`` + one n-ary ``concat_ws``;
    value-identical to the ``zip_with`` reference construction in
    ``tests/reference_forms.py`` (pytest-pinned). Only valid
    over :func:`_words_staged` output (the lambda must see a column, not an
    expression — see the docstrings of both)."""
    k = F.size("_w") - (n - 1)
    sh = F.when(k <= 0, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.greatest(k, F.lit(1))),
            lambda i: F.concat_ws(
                " ", *[F.element_at("_w", i + j) for j in range(n)]
            ),
        )
    )
    return F.array_distinct(sh)


def shingle_table(
    df: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """Exploded (id, shingle) pairs, shingles distinct per doc."""
    return _words_staged(df, id_col, text_col).select(
        F.col(id_col), F.explode(_shingles_of_words(n)).alias("shingle")
    )


# ----------------------------------------------------------- n-gram Jaccard

#: capped shingle rows above which ``jaccard_pairs`` takes the join form
#: instead of broadcasting the inverted index (the broadcast-memory guard)
VECTORIZED_MAX_SHINGLE_ROWS = 100_000_000


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_freq: int = 1000,
) -> DataFrame:
    """Doc pairs with word-n-gram Jaccard ≥ threshold →
    ``(id_a, id_b, common, n_a, n_b, jaccard)``.

    Hot-shingle cap (stop-shingle filter) — the standard scale guard
    against quadratic blowup on boilerplate shingles — applies on either
    path. Default path (r7): the capped inverted index, reduced to INTEGER
    shingle/doc ids, is broadcast and doc-blocks count pair overlaps in
    numpy (`np.unique` over gathered partner lists) — the round-6
    shingle self-join shuffled 127M pair-rows into a 114M-group
    aggregation at sf1.0 to keep 25 survivors (measured ~20 s; this form
    ~7 s). Python emits a superset (raw jaccard ≥ threshold − 1e-6);
    Spark applies the exact round(…,6) + threshold filter, so emitted
    values and filter semantics are expression-identical to the join form
    (pytest-pinned bit-for-bit). Falls back to the join/aggregate form
    when the capped shingle table exceeds ``VECTORIZED_MAX_SHINGLE_ROWS``
    (the broadcast-index memory guard — the join form is the unbounded
    100 TB shape, like any broadcast-vs-shuffle join choice).
    """
    # cache IS needed here: shingle_table is a narrow (exchange-free) subtree
    # feeding the size probe + several consumers on either path — without a
    # cache Spark recomputes the explode per consumer (measured 4x slower);
    # ReuseExchange can't help because there is no exchange to reuse
    sh = shingle_table(df, id_col, text_col, n).cache()
    n_rows = sh.count()  # materializes the cache; also the path probe
    if n_rows == 0 or n_rows > VECTORIZED_MAX_SHINGLE_ROWS:
        return _jaccard_pairs_join(sh, id_col, threshold, max_shingle_freq)
    return _jaccard_pairs_vectorized(
        df.sparkSession, sh, id_col, threshold, max_shingle_freq
    )


def _jaccard_pairs_join(
    sh: DataFrame,
    id_col: str,
    threshold: float = 0.5,
    max_shingle_freq: int = 1000,
) -> DataFrame:
    """The shingle self-join + pair aggregation form over the (cached)
    shingle table — the unbounded-scale path and the ground truth the
    vectorized form is pinned against."""
    # r7: sizes and the capped shingle table are localCheckpoint-ed ONCE —
    # the round-6 plan computed the freq aggregation (a full groupBy over
    # every shingle string) and the sizes aggregation TWICE each, once per
    # self-join/broadcast side (plan-verified: 0 ReusedExchange). The
    # checkpoint also gives the self-join REAL input statistics, so AQE
    # picks the join strategy from actual sizes instead of broadcasting a
    # multi-million-row side off a bad estimate.
    sizes = _supersede_checkpoint(
        f"jaccard_sizes:{id_col}",
        sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh")),
    )
    freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("freq"))
    filtered = _supersede_checkpoint(
        f"jaccard_filtered:{id_col}",
        sh.join(
            F.broadcast(freq.where(F.col("freq") > max_shingle_freq)),
            "shingle",
            "left_anti",
        ),
    )
    a = filtered.select(F.col(id_col).alias("id_a"), "shingle")
    b = filtered.select(F.col(id_col).alias("id_b"), "shingle")
    common = (
        a.join(b, "shingle")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    out = (
        common.join(
            F.broadcast(sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))),
            "id_a",
        )
        .join(
            F.broadcast(sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))),
            "id_b",
        )
        .withColumn(
            "jaccard",
            F.round(
                F.col("common") / (F.col("n_a") + F.col("n_b") - F.col("common")), 6
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "common", "n_a", "n_b", "jaccard")
    )
    return out


def _jaccard_pairs_vectorized(
    spark,
    sh: DataFrame,
    id_col: str,
    threshold: float,
    max_shingle_freq: int,
) -> DataFrame:
    """Vectorized pair counting over the (cached) shingle table — see
    :func:`jaccard_pairs`. Shingle strings never leave the JVM: the capped
    distinct shingles get dense integer ids (row_number over the distinct
    set — swap for zipWithIndex at unbounded scale), docs collapse to int
    arrays, and the whole inverted index ships once as a broadcast. Spark
    distributes doc-index blocks (``spark.range``); each task gathers its
    docs' partner lists from the broadcast index, counts (doc, partner>doc)
    multiplicities with one ``np.unique`` per batch, and emits the superset
    of pairs with raw jaccard ≥ threshold − 1e-6. `common`/`n_a`/`n_b` are
    exact integers; the raw double division equals Spark's long/long
    division bit-for-bit, and the final round+filter runs in Spark."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    from pyspark.sql.pandas.types import to_arrow_type

    id_dt = sh.schema[id_col].dataType.simpleString()
    pa_id = to_arrow_type(sh.schema[id_col].dataType)
    # ONE pass builds the whole index: per shingle, its doc list (the
    # inverted index) — frequency IS the list length, the shingle STRING is
    # projected away before collection, and every other structure (hot-cap,
    # per-doc uncapped sizes, doc-id dense indexing, forward lists) derives
    # in numpy from the collected int lists. Grouping runs as
    # repartition(shingle) + per-partition Arrow dictionary-encode/argsort
    # (hash partitioning keeps each shingle whole) — the collect_list
    # aggregate fell back to sort-based ObjectHashAggregate and measured
    # ~6 s for the same 2.6M rows vs ~2 s for this form.
    def group_lists(batches):
        import numpy as _np
        import pyarrow as _pa
        import pyarrow.compute as _pc

        shs, dcs = [], []
        for b in batches:
            shs.append(b.column(0))
            dcs.append(b.column(1))
        if not shs:
            yield _pa.RecordBatch.from_arrays(
                [_pa.array([], type=_pa.list_(pa_id))], names=["_docs"]
            )
            return
        sh_arr = _pa.concat_arrays([a.combine_chunks() if isinstance(a, _pa.ChunkedArray) else a for a in shs])
        doc_arr = _pa.concat_arrays([a.combine_chunks() if isinstance(a, _pa.ChunkedArray) else a for a in dcs])
        enc = _pc.dictionary_encode(sh_arr)
        idx = enc.indices.to_numpy(zero_copy_only=False).astype(_np.int64)
        docs_np = doc_arr.to_numpy(zero_copy_only=False)
        order = _np.argsort(idx, kind="stable")
        lens = _np.bincount(idx, minlength=len(enc.dictionary))
        offs = _np.concatenate(([0], _np.cumsum(lens)))
        out = _pa.ListArray.from_arrays(
            _pa.array(offs, type=_pa.int32()), _pa.array(docs_np[order], type=pa_id)
        )
        yield _pa.RecordBatch.from_arrays([out], names=["_docs"])

    n_grp = max(spark.sparkContext.defaultParallelism, 1)
    inv_tbl = (
        sh.repartition(n_grp, "shingle")
        .select("shingle", id_col)
        .mapInArrow(group_lists, f"_docs array<{id_dt}>")
        .toArrow()
    )
    lists = inv_tbl.column("_docs")
    lists = lists.combine_chunks() if isinstance(lists, pa.ChunkedArray) else lists
    freqs = pc.list_value_length(lists).to_numpy(zero_copy_only=False).astype(np.int64)
    flat_ids_all = np.asarray(
        lists.flatten().to_numpy(zero_copy_only=False), dtype=np.int64
    )
    # dense doc indices in doc-ID order (so index order == id order)
    ids, flat_idx_all = np.unique(flat_ids_all, return_inverse=True)
    n_docs = len(ids)
    if n_docs == 0:
        empty = spark.createDataFrame(
            [], f"id_a {id_dt}, id_b {id_dt}, common long, n_a long, n_b long, jaccard double"
        )
        return empty
    # uncapped per-doc shingle totals
    sizes = np.bincount(flat_idx_all, minlength=n_docs).astype(np.int64)
    # drop hot shingles (stop-shingle cap), then rebuild segment structure
    keep_seg = freqs <= max_shingle_freq
    keep_elem = np.repeat(keep_seg, freqs)
    inv_sids = np.repeat(np.arange(len(freqs), dtype=np.int64), freqs)[keep_elem]
    inv_docs = flat_idx_all[keep_elem]
    # ascending doc order within each shingle segment (needed for the
    # partner>doc masking downstream); lexsort by (sid, doc)
    srt = np.lexsort((inv_docs, inv_sids))
    inv_sids, inv_flat = inv_sids[srt], inv_docs[srt]
    n_sids = int(inv_sids[-1]) + 1 if len(inv_sids) else 0
    inv_off = np.searchsorted(inv_sids, np.arange(n_sids + 1))
    # forward lists (doc -> its capped shingle ids) by inverting in numpy
    fwd = np.argsort(inv_flat, kind="stable")
    doc_flat = inv_sids[fwd]
    doc_lens = np.bincount(inv_flat, minlength=n_docs).astype(np.int64)
    doc_off = np.concatenate(([0], np.cumsum(doc_lens)))
    # int32 index payloads: the broadcast is re-unpickled by every Python
    # worker per invocation — half the bytes, half that cost (doc/shingle
    # counts are bounded by VECTORIZED_MAX_SHINGLE_ROWS << 2^31)
    bc = _supersede_broadcast(
        spark, f"jaccard_index:{id_col}",
        (
            ids,
            sizes,
            doc_flat.astype(np.int32),
            doc_off,
            # composite (sid*n_docs + doc): sorted; % n_docs recovers the
            # partner, and it doubles as the lower-bound search array
            inv_sids * n_docs + inv_flat.astype(np.int64),
            inv_off,
        ),
    )
    pre_thr = threshold - 1e-6

    def count_pairs(batches):
        b_ids, b_sizes, b_flat, b_off, b_comp, b_ioff = bc.value
        nd = len(b_ids)
        for batch in batches:
            docs = batch.column(0).to_numpy(zero_copy_only=False).astype(np.int64)
            docs = docs[(docs >= 0) & (docs < nd)]
            out = {"a": [], "b": [], "c": []}
            if len(docs):
                # gather each doc's shingles, then ONLY the partners ABOVE
                # the doc in each inverted segment: the composite key array
                # (sid*nd + doc, globally sorted) turns the per-segment
                # "first partner > doc" lower bound into one vectorized
                # searchsorted — the r7.1 kernel gathers 127M elements at
                # sf1.0 instead of 256M-then-mask
                sid_cnt = b_off[docs + 1] - b_off[docs]
                sid_idx = _ranges(b_off[docs], sid_cnt)
                sids = b_flat[sid_idx].astype(np.int64)
                tags = np.repeat(np.arange(len(docs)), sid_cnt)
                start = np.searchsorted(
                    b_comp, sids * nd + docs[tags], side="right"
                )
                p_cnt = b_ioff[sids + 1] - start
                p_idx = _ranges(start, p_cnt)
                partners = b_comp[p_idx] % nd
                p_tags = np.repeat(tags, p_cnt)
                key = p_tags * nd + partners
                pair, cnt = np.unique(key, return_counts=True)
                d_a = docs[pair // nd]
                d_b = pair % nd
                na = b_sizes[d_a]
                nb = b_sizes[d_b]
                raw = cnt / (na + nb - cnt)
                m = raw >= pre_thr
                out["a"] = b_ids[d_a[m]]
                out["b"] = b_ids[d_b[m]]
                out["c"] = (cnt[m], na[m], nb[m], raw[m])
            if len(out["a"]):
                a_arr, b_arr = out["a"], out["b"]
                c_arr, na_arr, nb_arr, raw_arr = out["c"]
            else:
                a_arr = b_arr = np.array([], dtype=np.int64)
                c_arr = na_arr = nb_arr = np.array([], dtype=np.int64)
                raw_arr = np.array([], dtype=np.float64)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(a_arr).cast(pa_id),
                    pa.array(b_arr).cast(pa_id),
                    pa.array(c_arr.astype(np.int64)),
                    pa.array(na_arr.astype(np.int64)),
                    pa.array(nb_arr.astype(np.int64)),
                    pa.array(raw_arr, type=pa.float64()),
                ],
                names=["id_a", "id_b", "common", "n_a", "n_b", "_raw"],
            )

    # 4× finer blocks than cores: per-doc partner volumes are uneven, and
    # finer tasks let the scheduler rebalance the tail (guide §2.6)
    n_parts = max(spark.sparkContext.defaultParallelism, 1) * 4
    blocks = spark.range(0, n_docs, 1, min(n_parts, n_docs))
    scored = blocks.mapInArrow(
        count_pairs,
        f"id_a {id_dt}, id_b {id_dt}, common long, n_a long, n_b long, _raw double",
    )
    return (
        scored.select(
            "id_a", "id_b", "common", "n_a", "n_b",
            F.round(F.col("_raw"), 6).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def _ranges(starts, counts):
    """Vectorized concatenation of ``arange(starts[i], starts[i]+counts[i])``
    ranges — the standard multi-slice gather index builder."""
    import numpy as np

    total = int(counts.sum())
    if total == 0:
        return np.array([], dtype=np.int64)
    cum = np.cumsum(counts)
    out = np.arange(total, dtype=np.int64)
    shift = np.repeat(
        starts - np.concatenate(([0], cum[:-1])), counts
    )
    return out + shift


# -------------------------------------------------------------- MinHash+LSH

def minhash_table(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 12,
    n: int = 3,
) -> DataFrame:
    """(id, mh0..mh{k-1}) — docs with <n words (no shingles) are dropped.

    r7 shape: shingle ARRAYS stay in the JVM (:func:`_shingles_of_words`
    over the staged words) and cross the Arrow boundary once per doc, ids
    passing through untouched (any id type); each task then (a)
    dictionary-encodes its batch's shingles (pyarrow, C-speed — natural
    text repeats shingles heavily: 2.6M shingle instances over 28k distinct
    at sf1.0), (b) computes the k seeded md5s
    once per DISTINCT shingle (hashlib, with the md5-state copy trick), and
    (c) takes per-doc minima via argsort ranks + ``np.minimum.reduceat``
    over int32 ranks. Identical hex-string minima to the explode +
    k×min(md5) aggregation (same md5 bytes, same byte-lexicographic order
    — pytest-pinned bit-for-bit and oracle-gated): md5 hex is lowercase
    ASCII, so numpy 'S32' byte order == Spark UTF8 binary order.

    Why not the round-6 explode + groupBy(k × min(md5)) aggregation: the
    string-typed min buffers forced a SortAggregate and the k md5s were
    computed per shingle INSTANCE (31M md5s at sf1.0) — measured 18.1 s
    for the signature stage vs ~4 s for this form. Per-batch dictionaries
    need no global state, so the map stays narrow (no shuffle at all for
    signatures) and scales embarrassingly at 100 TB.
    """
    import pyarrow as pa

    id_dt = df.schema[id_col].dataType.simpleString()
    k = num_hashes
    suffixes = [f"#{i}".encode() for i in range(k)]

    def sign(batches):
        import hashlib

        import numpy as np
        import pyarrow.compute as pc

        for batch in batches:
            ids = batch.column(0)
            arrs = batch.column(1)
            if len(ids) == 0:
                yield pa.RecordBatch.from_arrays(
                    [ids] + [pa.array([], type=pa.string()) for _ in range(k)],
                    names=["_id"] + [f"mh{i}" for i in range(k)],
                )
                continue
            arrs = arrs.combine_chunks() if isinstance(arrs, pa.ChunkedArray) else arrs
            # flatten() honors array slicing (raw .values/.offsets do not)
            lengths = pc.list_value_length(arrs).to_numpy(zero_copy_only=False).astype(np.int64)
            flat = arrs.flatten()
            enc = pc.dictionary_encode(flat)
            idx = enc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
            words = enc.dictionary.to_pylist()
            m = len(words)
            # k md5 hex digests per DISTINCT shingle; md5-state copy trick
            # hashes each shingle's bytes once
            digs = [np.empty(m, dtype="S32") for _ in range(k)]
            for j, w in enumerate(words):
                base_md5 = hashlib.md5(w.encode("utf-8"))
                for i in range(k):
                    h = base_md5.copy()
                    h.update(suffixes[i])
                    digs[i][j] = h.hexdigest().encode()
            starts = np.concatenate(([0], np.cumsum(lengths)[:-1]))
            out_cols = [ids]
            for i in range(k):
                order = np.argsort(digs[i], kind="stable")
                rank = np.empty(m, dtype=np.int64)
                rank[order] = np.arange(m)
                minrank = np.minimum.reduceat(rank[idx], starts)
                out_cols.append(pa.array(np.char.decode(digs[i][order][minrank], "ascii")))
            yield pa.RecordBatch.from_arrays(
                out_cols, names=["_id"] + [f"mh{i}" for i in range(k)]
            )

    base = (
        _words_staged(kernel_input(df), id_col, text_col)
        .select(F.col(id_col).alias("_id"), _shingles_of_words(n).alias("_shingles"))
        .where(F.size("_shingles") > 0)
    )
    out = base.mapInArrow(
        sign,
        ", ".join([f"_id {id_dt}"] + [f"mh{i} string" for i in range(k)]),
    )
    return out.withColumnRenamed("_id", id_col)


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 12,
    bands: int = 4,
    n: int = 3,
) -> DataFrame:
    """MinHash-LSH candidate pairs → ``(id_a, id_b)`` (distinct).

    Band keys are md5 of the concatenated in-band signature; candidates are
    the ``id_a < id_b`` pairs inside each ``(band_idx, band_key)`` group —
    one grouping of the banded signatures (:func:`_pairs_within`), shuffle
    O(docs × bands). Any shared band makes a candidate; NULL ids make none.
    Verify candidates with :func:`jaccard_pairs` semantics downstream (LSH
    gives recall; verification gives precision).

    The signature table has one consumer, so it is computed once without a
    checkpoint; the returned DataFrame holds no persisted state and stays
    valid whatever later calls do.
    """
    assert num_hashes % bands == 0
    rows_per_band = num_hashes // bands
    mh = minhash_table(df, id_col, text_col, num_hashes, n)
    band_structs = []
    for bidx in range(bands):
        cols = [F.col(f"mh{bidx * rows_per_band + j}") for j in range(rows_per_band)]
        band_structs.append(
            F.struct(
                F.lit(bidx).alias("band_idx"),
                F.md5(F.concat_ws("|", *cols)).alias("band_key"),
            )
        )
    banded = mh.select(
        F.col(id_col), F.explode(F.array(*band_structs)).alias("b")
    ).select(F.col(id_col), F.col("b.band_idx"), F.col("b.band_key"))
    pairs = _pairs_within(
        banded, ["band_idx", "band_key"], F.struct(F.col(id_col).alias("i"))
    )
    return pairs.select(
        F.col("a.i").alias("id_a"), F.col("b.i").alias("id_b")
    ).distinct()


def _pairs_within(df: DataFrame, keys: list, member: Column) -> DataFrame:
    """Every pair of ``member`` structs inside a ``keys`` group with
    ``a.i < b.i`` → ``(a, b)``: the members are collected per group and each
    one pairs with the larger members of its own list. Equal to the
    self-equi-join on ``keys`` filtered to ``id_a < id_b`` (NULL ids pair with
    nothing), from one shuffle of the keyed rows."""
    return (
        df.groupBy(*keys)
        .agg(F.collect_list(member).alias("_m"))
        .where(F.size("_m") > 1)
        .select(F.explode("_m").alias("a"), "_m")
        .select("a", F.explode(F.filter("_m", lambda x: x["i"] > F.col("a")["i"])).alias("b"))
    )


# ----------------------------------------------------- cluster resolution

#: rounds used by the last connected_components call (test instrumentation)
_LAST_ROUNDS = 0

#: the final converged edge set from the last DISTRIBUTED
#: connected_components run (a local-finish run leaves it as it was) — the
#: returned labels read it, so CC itself must keep it persisted; callers that
#: re-materialize the labels can release it.
_LAST_EDGES = None


def connected_components(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 30,
    local_finish_threshold: int = 100_000,
) -> DataFrame:
    """Connected components over near-dup PAIRS → ``(node, component)`` with
    ``component`` = the minimum member id — the pairs→corpus link every dedup
    operator here needs downstream (they all emit pairs; a production
    keep-list needs clusters).

    Alternating **large-star / small-star** (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC'14) in pure DataFrame ops:

    - large-star: every node links its LARGER neighbors to the minimum of its
      neighborhood (incl. itself);
    - small-star: every node links its smaller-or-equal neighbors to that
      minimum.

    Both steps are one groupBy + one join each (shuffle on node id); the edge
    set converges to min-rooted stars in O(log n) rounds — no O(diameter)
    label propagation. Convergence = edge set stable (count + order-free
    xxhash64 checksum). Each round is ``localCheckpoint``-ed: iterative plans
    otherwise grow Catalyst lineage exponentially (on a cluster use
    ``spark.sparkContext.setCheckpointDir`` + ``checkpoint`` for
    executor-loss-tolerant truncation).

    Nodes that appear in no pair are singletons and are NOT emitted.

    ``local_finish_threshold``: once a round's convergence statistic shows
    the CONTRACTED edge set at or below this many edges, the remaining
    rounds are finished with a driver-side union-find over the collected
    edges (≈16 B/edge — a few MB at the default) instead of more
    distributed rounds — the standard small-graph cutoff: each star round
    costs ~5 shuffle stages of scheduling regardless of data volume, pure
    overhead once the graph is tiny. The output contract (node → min member
    id) is algorithm-independent, so results are bit-identical to the
    distributed fixpoint (oracle-gated + pytest both paths). Star rounds
    never drop a node from the edge set (every non-root keeps an edge
    toward its root), so the collected node set equals the converged one.
    At real scale the cutoff only fires after contraction has already done
    the distributed work: a converged star forest has one edge per non-root
    node, so e.g. a 10⁹-node component never collects. Pass ``0`` to
    disable (pytest uses this to pin the distributed path).
    """
    def star_round(e):
        """One large-star + small-star application (lazy)."""
        # ---- large-star
        nbrs = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = (
            nbrs.groupBy("u")
            .agg(F.min("v").alias("_mn"))
            .select("u", F.least("_mn", "u").alias("m"))
        )
        ls = (
            nbrs.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        # ---- small-star (on the directed larger→smaller form)
        e2 = ls.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        ).where(F.col("u") != F.col("v"))
        mins2 = e2.groupBy("u").agg(F.min("v").alias("m"))
        ss = (
            e2.join(mins2, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(mins2.select(F.col("u"), F.col("m").alias("v")))
        )
        return ss.where(F.col("u") != F.col("v")).distinct()

    edges = (
        pairs.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    global _LAST_ROUNDS
    if local_finish_threshold and edges.count() <= local_finish_threshold:
        # r7: the INITIAL distinct edge set is already below the small-graph
        # cutoff — go straight to the driver union-find (output contract is
        # algorithm-independent) instead of paying one distributed star
        # round (~5 shuffle stages of scheduling) first. The count reads
        # the just-materialized checkpoint, so it is nearly free.
        _LAST_ROUNDS = 0
        out = _local_finish(edges)
        _release_checkpoint(edges)
        return out
    prev = None
    converged = False
    rounds = 0
    prev_ckpt = None
    for _ in range(max_iter):
        # one star-round per materialization: batching two rounds per
        # checkpoint was MEASURED SLOWER (6-8 s vs ~3 s on the sf0.1 gate) —
        # the doubled plan depth costs more in Catalyst/AQE planning than the
        # saved job launch.
        # LAZY localCheckpoint + convergence agg = ONE job per round: the agg
        # action below materializes the round's RDD, and the lazy-checkpoint
        # mark persists its partitions during that same job (lineage is
        # truncated at the plan level immediately — the returned Dataset scans
        # the marked RDD). Round 3 paid two driver-blocking jobs per round
        # (eager checkpoint, then a separate count+hash agg) — pure fixed
        # overhead on the convergence loop's critical path.
        prev_ckpt = edges
        edges = star_round(edges).localCheckpoint(eager=False)
        # bit_xor: order-free AND overflow-free (SUM of hashes overflows
        # long under ANSI mode); edges are distinct so xor never cancels
        stat = edges.agg(
            F.count(F.lit(1)).alias("c"),
            F.expr("bit_xor(xxhash64(u, v))").alias("h"),
        ).first()
        # the agg materialized THIS round's checkpoint, so the previous
        # round's persisted edge set is dead — release it, or a long run
        # pins every round's edge set in executor memory (R× the working
        # set at 10⁹ edges; only the latest round is ever read again)
        _release_checkpoint(prev_ckpt)
        rounds += 1
        cur = (stat["c"], stat["h"])
        if cur == prev:
            converged = True
            break
        prev = cur
        if local_finish_threshold and stat["c"] <= local_finish_threshold:
            _LAST_ROUNDS = rounds
            out = _local_finish(edges)
            # the collect inside _local_finish was the last read of the
            # contracted edge set — release it. A driver-local result parks
            # nothing and leaves _LAST_EDGES alone: an earlier distributed
            # result may still read the edge set parked there.
            _release_checkpoint(edges)
            return out
    _LAST_ROUNDS = rounds
    if not converged:
        # a silent non-converged exit would return WRONG labels, so fail
        # loudly. The PROVEN bound for alternating large-star/small-star is
        # O(log² n) rounds (Kiveris et al. §3; O(log n) is the empirical
        # behavior on non-adversarial graphs), so a legitimately pathological
        # high-diameter graph CAN need more than the default — raise
        # max_iter at the call site rather than assuming a bug
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds; "
            "raise max_iter (worst-case bound is O(log² n) rounds)"
        )
    # converged: (child, root) star edges; roots label themselves. The
    # returned labels READ the final checkpointed edge set, so it cannot be
    # released here — its handle is exposed so a caller that materializes
    # the labels elsewhere (e.g. its own localCheckpoint) can release it
    # via _release_checkpoint(_LAST_EDGES) once nothing reads them again.
    _park_edges(edges, edges.sparkSession)
    return (
        edges.select(F.col("u").alias("node"), F.col("v").alias("component"))
        .union(edges.select(F.col("v").alias("node"), F.col("v").alias("component")))
        .distinct()
    )


#: count of failed best-effort checkpoint releases this session — a Spark
#: upgrade that changes the analyzed-plan shape would otherwise silently
#: stop releasing memory (long CC runs would re-pin every round's edge set
#: with no signal). Tests assert it stays 0 on the current Spark.
_RELEASE_FAILURES = 0
_RELEASE_WARNED = False


def _release_checkpoint(df) -> None:
    """Unpersist the RDD behind a ``localCheckpoint``-ed Dataset. PySpark
    exposes no public handle; the analyzed plan of a checkpointed Dataset is
    a ``LogicalRDD`` whose ``rdd`` field is the persisted one. Safe ONLY
    once no later plan will read the Dataset again — checkpointing truncated
    its lineage, so a read after unpersist cannot recompute. Best-effort:
    any py4j/plan-shape mismatch degrades to the old keep-until-session-end
    behavior rather than failing the job — but it counts the failure and
    warns once per session so a Spark version bump that breaks the private
    handle is noticed instead of silently regressing memory."""
    global _RELEASE_FAILURES, _RELEASE_WARNED
    if df is None:
        return
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception as ex:
        _RELEASE_FAILURES += 1
        if not _RELEASE_WARNED:
            _RELEASE_WARNED = True
            import warnings

            warnings.warn(
                "checkpoint release via Dataset.queryExecution().analyzed()"
                f".rdd() failed ({ex!r}); superseded localCheckpoints will "
                "stay pinned until session end (memory regression on long "
                "connected-components runs)",
                RuntimeWarning,
                stacklevel=2,
            )


#: per-slot latest checkpointed intermediate (release bookkeeping only —
#: NEVER a cross-invocation result cache: every call recomputes from its
#: inputs; the slot exists so the superseded previous copy is unpersisted
#: instead of staying pinned until session end, mirroring the
#: connected-components round-release discipline)
_CKPT_SLOTS: dict = {}


def _supersede_checkpoint(slot: str, df: DataFrame) -> DataFrame:
    """Eagerly ``localCheckpoint`` ``df`` so a multi-consumer subtree (e.g.
    both sides of a self-join) is computed ONCE, and release the slot's
    previous checkpoint — superseded by definition."""
    ck = df.localCheckpoint(eager=True)
    prev = _CKPT_SLOTS.get(slot)
    if prev is not None and prev.sparkSession is ck.sparkSession:
        _release_checkpoint(prev)
    _CKPT_SLOTS[slot] = ck
    return ck


#: per-slot latest sc.broadcast handle — same release-only discipline as
#: _CKPT_SLOTS: a repeated invocation creates a FRESH broadcast (no result
#: reuse) and the superseded previous one is unpersisted so repeated bench
#: runs don't accumulate multi-MB broadcast copies on driver + executors.
_BC_SLOTS: dict = {}


def _supersede_broadcast(spark, slot: str, value):
    """``sc.broadcast(value)``, releasing the slot's previous broadcast."""
    bc = spark.sparkContext.broadcast(value)
    prev = _BC_SLOTS.get(slot)
    if prev is not None:
        try:
            prev.unpersist(False)
        except Exception:
            pass
    _BC_SLOTS[slot] = bc
    return bc


def _local_finish(edges: DataFrame) -> DataFrame:
    """Driver-side union-find over a SMALL contracted edge set →
    ``(node, component)`` with component = min member id (same contract as
    the distributed fixpoint). Only called below
    ``local_finish_threshold`` edges — see :func:`connected_components`."""
    rows = edges.collect()
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for r in rows:
        ra, rb = find(r["u"]), find(r["v"])
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    out = [(n, find(n)) for n in parent]
    schema = T.StructType(
        [
            T.StructField("node", edges.schema["u"].dataType, True),
            T.StructField("component", edges.schema["v"].dataType, True),
        ]
    )
    return edges.sparkSession.createDataFrame(out, schema)


def _park_edges(edges, spark) -> None:
    """Point ``_LAST_EDGES`` at ``edges`` (``None`` once the caller that
    parked them has re-materialized its labels). The edge set parked there
    before is superseded, so it is released first — the bare overwrite
    would lose the only handle to it and pin it until session end."""
    global _LAST_EDGES
    if _LAST_EDGES is not None and _LAST_EDGES.sparkSession is spark:
        _release_checkpoint(_LAST_EDGES)
    _LAST_EDGES = edges


def duplicate_clusters(
    pairs: DataFrame, src: str = "id_a", dst: str = "id_b", max_iter: int = 30
) -> DataFrame:
    """Resolve near-dup pairs into clusters with a deterministic survivor →
    ``(node, cluster_id, is_survivor)``; survivor = minimum id (= cluster_id,
    the canonical-representative convention)."""
    cc = connected_components(pairs, src, dst, max_iter=max_iter)
    return cc.select(
        "node",
        F.col("component").alias("cluster_id"),
        (F.col("node") == F.col("component")).alias("is_survivor"),
    )


def dedup_keep_list(
    df: DataFrame,
    id_col: str,
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 30,
) -> DataFrame:
    """The deduplicated corpus: drop every clustered non-survivor, keep
    survivors and singletons (anti-join on the drop set — one shuffle on
    ids, never on content)."""
    drop = (
        duplicate_clusters(pairs, src, dst, max_iter=max_iter)
        .where(~F.col("is_survivor"))
        .select(F.col("node").alias(id_col))
    )
    return df.join(drop, id_col, "left_anti")


# ------------------------------------------------------------------ SimHash

def simhash64(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """64-bit SimHash per doc → ``(id, simhash_hex)``.

    Classic scheme: per word, md5 → 64 bits; each bit votes ±1 weighted by
    word multiplicity; signature bit = sign of the vote sum.

    r7 shape: words cross the Arrow boundary once per doc (the exact
    normalize+split stays in the JVM); each task dictionary-encodes its
    batch's words, md5s each DISTINCT word once (bits 0..63 of the digest =
    ``np.unpackbits`` of its first 8 bytes — the same big-endian hex-digit
    extraction the SQL form used), counts (doc, word) multiplicities with
    one ``np.unique``, and accumulates the 64 vote sums via
    ``np.add.reduceat``. Votes are exact integers, so signatures are
    bit-identical to the round-6 two-level aggregation (the ground truth in
    ``tests/reference_forms.py``, pytest-pinned + oracle-gated); that form spent
    ~2 s at sf1.0 evaluating 64 digit-extraction aggregate expressions per
    distinct (doc, word) — this one ~0.6 s.
    """
    import pyarrow as pa

    id_dt = df.schema[id_col].dataType.simpleString()

    def sign(batches):
        import hashlib

        import numpy as np
        import pyarrow.compute as pc

        for batch in batches:
            ids = batch.column(0)
            arrs = batch.column(1)
            if len(ids) == 0:
                yield pa.RecordBatch.from_arrays(
                    [ids, pa.array([], type=pa.string())],
                    names=["_id", "simhash_hex"],
                )
                continue
            arrs = arrs.combine_chunks() if isinstance(arrs, pa.ChunkedArray) else arrs
            lengths = (
                pc.list_value_length(arrs).to_numpy(zero_copy_only=False).astype(np.int64)
            )
            flat = arrs.flatten()
            enc = pc.dictionary_encode(flat)
            idx = enc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
            words = enc.dictionary.to_pylist()
            m = len(words)
            tags = np.repeat(np.arange(len(lengths), dtype=np.int64), lengths)
            # drop empty tokens (the SQL form's length(w) > 0 filter)
            nonempty = np.array([len(w) > 0 for w in words], dtype=bool)
            keep = nonempty[idx]
            idx, tags = idx[keep], tags[keep]
            signs = np.zeros((m, 64), dtype=np.int64)
            for j, w in enumerate(words):
                if not w:
                    continue
                dig = hashlib.md5(w.encode("utf-8")).digest()[:8]
                signs[j] = (
                    np.unpackbits(np.frombuffer(dig, dtype=np.uint8)).astype(np.int64)
                    * 2
                    - 1
                )
            if len(idx):
                pair_key, cnt = np.unique(tags * m + idx, return_counts=True)
                p_tag = pair_key // m
                p_idx = pair_key % m
                contrib = cnt[:, None] * signs[p_idx]  # (pairs, 64)
                # doc segment boundaries in the sorted pair keys
                present, seg_starts = np.unique(p_tag, return_index=True)
                votes = np.add.reduceat(contrib, seg_starts, axis=0)
                bits = (votes > 0).astype(np.uint8)
                hexes = [
                    np.packbits(b).tobytes().hex() for b in bits
                ]
                out_ids = ids.take(pa.array(present))
            else:
                hexes = []
                out_ids = ids.slice(0, 0)
            yield pa.RecordBatch.from_arrays(
                [out_ids, pa.array(hexes, type=pa.string())],
                names=["_id", "simhash_hex"],
            )

    staged = _words_staged(kernel_input(df), id_col, text_col).select(
        F.col(id_col).alias("_id"), F.col("_w")
    )
    out = staged.mapInArrow(sign, f"_id {id_dt}, simhash_hex string")
    return out.withColumnRenamed("_id", id_col)


def simhash_near_pairs(
    df: DataFrame, id_col: str, text_col: str, max_hamming: int = 3
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ k →
    ``(id_a, id_b, hamming)``.

    Pigeonhole candidate generation: split the 16-hex-digit signature into 4
    chunks of 4 digits; hamming ≤ 3 ⇒ at least one chunk is byte-equal ⇒
    the candidates are the ``id_a < id_b`` pairs inside each
    ``(chunk_idx, chunk)`` group (:func:`_pairs_within`, one grouping,
    shuffle O(docs × 4)), then exact hamming verification on the candidates.
    The signature table has one consumer and is computed once, with no
    checkpoint.
    """
    sig = simhash64(df, id_col, text_col)
    # r7: the exact-hamming verification is two `bit_count` calls over the
    # signature parsed ONCE per doc into two 32-bit halves (conv(hex, 16,
    # 10) — each half ≤ 2^32, safely in a long). The round-6 form extracted
    # all 64 bits per CANDIDATE PAIR through 128 substring/instr/floor/mod
    # expressions — a ~500-node tree that overflowed whole-stage codegen
    # and evaluated interpreted at ~33 µs/row (measured 13.9 s over the
    # 403k candidate pairs at sf1.0; the bit_count form is < 0.5 s).
    # popcount(xor) over the same 64 bits is arithmetically identical to
    # the digit-wise popcount sum (pytest-pinned bit-for-bit, plus the
    # all-pairs DuckDB oracle).
    sigp = sig.select(
        F.col(id_col),
        F.col("simhash_hex"),
        F.conv(F.substring("simhash_hex", 1, 8), 16, 10).cast("long").alias("_hi"),
        F.conv(F.substring("simhash_hex", 9, 8), 16, 10).cast("long").alias("_lo"),
    )
    chunks = sigp.select(
        F.col(id_col),
        "_hi",
        "_lo",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("chunk_idx"),
                    F.substring("simhash_hex", i * 4 + 1, 4).alias("chunk"),
                )
                for i in range(4)
            ])
        ).alias("c"),
    ).select(F.col(id_col), "_hi", "_lo", F.col("c.chunk_idx"), F.col("c.chunk"))
    member = F.struct(F.col(id_col).alias("i"), "_hi", "_lo")
    cand = (
        _pairs_within(chunks, ["chunk_idx", "chunk"], member)
        .select(
            F.col("a.i").alias("id_a"), F.col("b.i").alias("id_b"),
            F.col("a._hi").alias("_hi_a"), F.col("a._lo").alias("_lo_a"),
            F.col("b._hi").alias("_hi_b"), F.col("b._lo").alias("_lo_b"),
        )
        .distinct()
    )
    ham = (
        F.bit_count(F.col("_hi_a").bitwiseXOR(F.col("_hi_b")))
        + F.bit_count(F.col("_lo_a").bitwiseXOR(F.col("_lo_b")))
    ).cast("int")
    return (
        cand.withColumn("hamming", ham)
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )
