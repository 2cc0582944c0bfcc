"""Training-data pipeline query registrations: text analysis, dedup families,
similarity search, multimodal plumbing, transcript flagship.

Oracle SQL strings are generated from the SAME shared fragments (regexes,
normalization, hash constructions) the Spark operators use — cross-engine
parity by construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators import dedup as dd
from .operators import multimodal as mm
from .operators import similarity as sim
from .operators import text as tx
from .queries import QUERIES, ORACLES, _read, _register

# ---------------------------------------------------------------- fragments

#: DuckDB normal form — MUST mirror operators/text.normalize
NORM = "lower(trim(regexp_replace({c}, '\\s+', ' ', 'g')))"
TOKEN_RE_SQL = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"
PUNCT_RE_SQL = r"[.,;:!?'\"()\[\]{}-]"
DIGIT_RE_SQL = r"[0-9]"

_WC = (
    "(CASE WHEN length({norm}) = 0 THEN 0 ELSE len(string_split({norm}, ' ')) END)"
).format(norm=NORM.format(c="text"))
_TC = f"len(regexp_extract_all(text, '{TOKEN_RE_SQL}'))"
_PR = (
    "(CASE WHEN length(text) = 0 THEN 0.0 "
    f"ELSE len(regexp_extract_all(text, $${PUNCT_RE_SQL}$$)) / length(text) END)"
)
_DR = (
    "(CASE WHEN length(text) = 0 THEN 0.0 "
    f"ELSE len(regexp_extract_all(text, '{DIGIT_RE_SQL}')) / length(text) END)"
)
_SR = (
    f"(CASE WHEN {_WC} = 0 THEN 0.0 ELSE "
    + "len(regexp_extract_all(" + NORM.format(c="text")
    + r", '\b(" + "|".join(tx.STOPWORDS["en"]) + r")\b'))"
    + f" / {_WC} END)"
)
_SCORE = (
    f"round(least({_WC} / 20.0, 1.0) * 0.5"
    f" + (1.0 - least({_PR} * 4.0, 1.0)) * 0.25"
    f" + (1.0 - least({_DR} * 4.0, 1.0)) * 0.25, 6)"
)

#: shingle list (word 3-grams, distinct) over the normal form
_SHINGLES = (
    "list_distinct(CASE WHEN len({w}) < 3 THEN []::VARCHAR[] "
    "ELSE list_transform(generate_series(1, len({w}) - 2), "
    "i -> array_to_string({w}[i:i+2], ' ')) END)"
).format(w="words")
_WORDS_CTE = (
    "SELECT doc_id, string_split(" + NORM.format(c="text") + ", ' ') AS words "
    "FROM documents WHERE text IS NOT NULL"
)


# ------------------------------------------------------------ text analysis

def q_text_quality_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _read(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    feats = tx.quality_features(df)
    return feats.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("word_count").cast("long").alias("total_words"),
        F.sum("token_count").cast("long").alias("total_tokens"),
        F.round(F.avg("punct_ratio"), 6).alias("avg_punct_ratio"),
        F.round(F.avg("stopword_ratio"), 6).alias("avg_stopword_ratio"),
        F.round(F.avg("quality_score"), 6).alias("avg_quality"),
        F.sum((F.col("quality_score") < 0.5).cast("long")).alias("low_quality_docs"),
    )


_register(
    "text_quality_documents",
    q_text_quality_documents,
    f"""
    SELECT COUNT(*)::BIGINT AS n_docs,
           SUM({_WC})::BIGINT AS total_words,
           SUM({_TC})::BIGINT AS total_tokens,
           round(AVG({_PR}), 6) AS avg_punct_ratio,
           round(AVG({_SR}), 6) AS avg_stopword_ratio,
           round(AVG({_SCORE}), 6) AS avg_quality,
           SUM(CASE WHEN {_SCORE} < 0.5 THEN 1 ELSE 0 END)::BIGINT AS low_quality_docs
    FROM documents WHERE text IS NOT NULL
    """,
)


def q_text_langid_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _read(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    return (
        df.select(tx.lang_guess(F.col("text")).alias("lang_guess"))
        .groupBy("lang_guess")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("lang_guess")
    )


def _stop_hits_sql(lang: str) -> str:
    pat = r"\b(" + "|".join(tx.STOPWORDS[lang]) + r")\b"
    return f"len(regexp_extract_all({NORM.format(c='text')}, '{pat}'))"


_LANG_CASE = f"""
  CASE WHEN {_stop_hits_sql('en')} > 0 AND {_stop_hits_sql('en')} >= {_stop_hits_sql('de')}
            AND {_stop_hits_sql('en')} >= {_stop_hits_sql('fr')} AND {_stop_hits_sql('en')} >= {_stop_hits_sql('es')} THEN 'en'
       WHEN {_stop_hits_sql('de')} > 0 AND {_stop_hits_sql('de')} >= {_stop_hits_sql('fr')}
            AND {_stop_hits_sql('de')} >= {_stop_hits_sql('es')} THEN 'de'
       WHEN {_stop_hits_sql('fr')} > 0 AND {_stop_hits_sql('fr')} >= {_stop_hits_sql('es')} THEN 'fr'
       WHEN {_stop_hits_sql('es')} > 0 THEN 'es'
       ELSE 'und' END
"""

_register(
    "text_langid_documents",
    q_text_langid_documents,
    f"""
    SELECT {_LANG_CASE} AS lang_guess, COUNT(*)::BIGINT AS n
    FROM documents WHERE text IS NOT NULL
    GROUP BY 1 ORDER BY 1
    """,
)


def q_text_fingerprint_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _read(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    fp = df.select(tx.fingerprint(F.col("text")).alias("fp"))
    return fp.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_distinct("fp").alias("distinct_fingerprints"),
        (F.count(F.lit(1)) - F.count_distinct("fp")).alias("dup_docs"),
    )


_register(
    "text_fingerprint_documents",
    q_text_fingerprint_documents,
    f"""
    SELECT COUNT(*)::BIGINT AS n_docs,
           COUNT(DISTINCT md5({NORM.format(c='text')}))::BIGINT AS distinct_fingerprints,
           (COUNT(*) - COUNT(DISTINCT md5({NORM.format(c='text')})))::BIGINT AS dup_docs
    FROM documents WHERE text IS NOT NULL
    """,
)


# ------------------------------------------------------------------- dedup

def _with_injected_dups(df: DataFrame) -> DataFrame:
    """Deterministic duplicate injection: re-insert every 50th doc with a
    shifted id — same construction in the oracle SQL."""
    dups = df.where(F.col("doc_id") % 50 == 0).withColumn(
        "doc_id", F.col("doc_id") + F.lit(1_000_000)
    )
    return df.unionByName(dups)


_DUP_CORPUS_SQL = (
    "SELECT doc_id, text FROM documents "
    "UNION ALL SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 50 = 0"
)


def q_dedup_exact_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _with_injected_dups(_read(spark, sf_dir, "documents"))
    groups = dd.exact_duplicates(df, "doc_id", "text")
    return groups.groupBy("dup_count").agg(
        F.count(F.lit(1)).alias("n_groups")
    ).orderBy("dup_count")


_register(
    "dedup_exact_documents",
    q_dedup_exact_documents,
    f"""
    WITH corpus AS ({_DUP_CORPUS_SQL}),
    groups AS (
      SELECT md5({NORM.format(c='text')}) AS fp, COUNT(*)::BIGINT AS dup_count
      FROM corpus WHERE text IS NOT NULL GROUP BY 1 HAVING COUNT(*) > 1
    )
    SELECT dup_count, COUNT(*)::BIGINT AS n_groups FROM groups
    GROUP BY dup_count ORDER BY dup_count
    """,
)


def q_dedup_jaccard_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _read(spark, sf_dir, "documents")
    return dd.jaccard_pairs(df, "doc_id", "text", n=3, threshold=0.4)


_register(
    "dedup_jaccard_documents",
    q_dedup_jaccard_documents,
    f"""
    WITH w AS ({_WORDS_CTE}),
    base AS (SELECT doc_id, {_SHINGLES} AS shingles FROM w),
    sh AS (SELECT doc_id, unnest(shingles) AS shingle FROM base),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
    freq AS (SELECT shingle, COUNT(*) AS freq FROM sh GROUP BY 1),
    filtered AS (
      SELECT sh.doc_id, sh.shingle FROM sh JOIN freq USING (shingle)
      WHERE freq.freq <= 1000
    ),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS common
      FROM filtered a JOIN filtered b USING (shingle)
      WHERE a.doc_id < b.doc_id GROUP BY 1, 2
    )
    SELECT id_a, id_b, common::BIGINT AS common,
           sa.n_sh::BIGINT AS n_a, sb.n_sh::BIGINT AS n_b,
           round(common / (sa.n_sh + sb.n_sh - common), 6) AS jaccard
    FROM pairs JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
    WHERE round(common / (sa.n_sh + sb.n_sh - common), 6) >= 0.4
    """,
)


_MINHASH_N, _MINHASH_BANDS = 12, 4


def q_dedup_minhash_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _read(spark, sf_dir, "documents")
    return dd.lsh_candidate_pairs(
        df, "doc_id", "text", num_hashes=_MINHASH_N, bands=_MINHASH_BANDS
    ).orderBy("id_a", "id_b")


_mh_cols = ", ".join(
    f"min(md5(shingle || '#{i}')) AS mh{i}" for i in range(_MINHASH_N)
)
_rpb = _MINHASH_N // _MINHASH_BANDS
_band_selects = " UNION ALL ".join(
    "SELECT doc_id, {b} AS band_idx, md5(concat_ws('|', {cols})) AS band_key FROM mh".format(
        b=b, cols=", ".join(f"mh{b * _rpb + j}" for j in range(_rpb))
    )
    for b in range(_MINHASH_BANDS)
)
_register(
    "dedup_minhash_documents",
    q_dedup_minhash_documents,
    f"""
    WITH w AS ({_WORDS_CTE}),
    base AS (SELECT doc_id, {_SHINGLES} AS shingles FROM w),
    nonempty AS (SELECT doc_id, shingles FROM base WHERE len(shingles) > 0),
    sh AS (SELECT doc_id, unnest(shingles) AS shingle FROM nonempty),
    mh AS (SELECT doc_id, {_mh_cols} FROM sh GROUP BY doc_id),
    banded AS ({_band_selects})
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM banded a JOIN banded b USING (band_idx, band_key)
    WHERE a.doc_id < b.doc_id
    ORDER BY id_a, id_b
    """,
)


def _cluster_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dup-injected corpus shared by the cluster/keep-list gates: two shifted
    copy generations so clusters reach size 3 (same construction in SQL)."""
    base = _read(spark, sf_dir, "documents").select("doc_id", "text")
    c1 = base.where(F.col("doc_id") % 50 == 0).withColumn(
        "doc_id", F.col("doc_id") + F.lit(1_000_000)
    )
    c2 = base.where(F.col("doc_id") % 100 == 0).withColumn(
        "doc_id", F.col("doc_id") + F.lit(2_000_000)
    )
    return base.unionByName(c1).unionByName(c2)


def _cluster_pairs(corpus: DataFrame) -> DataFrame:
    return dd.lsh_candidate_pairs(
        corpus, "doc_id", "text", num_hashes=_MINHASH_N, bands=_MINHASH_BANDS
    )


_CLUSTER_CORPUS_SQL = (
    "SELECT doc_id, text FROM documents "
    "UNION ALL SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 50 = 0 "
    "UNION ALL SELECT doc_id + 2000000 AS doc_id, text FROM documents WHERE doc_id % 100 = 0"
)

#: shared CTE chain: corpus → LSH pairs → transitive closure (recursive CTE)
_CLUSTERS_CTE = f"""
    WITH RECURSIVE corpus AS ({_CLUSTER_CORPUS_SQL}),
    w AS (SELECT doc_id, string_split({NORM.format(c="text")}, ' ') AS words
          FROM corpus WHERE text IS NOT NULL),
    base AS (SELECT doc_id, {_SHINGLES} AS shingles FROM w),
    nonempty AS (SELECT doc_id, shingles FROM base WHERE len(shingles) > 0),
    sh AS (SELECT doc_id, unnest(shingles) AS shingle FROM nonempty),
    mh AS (SELECT doc_id, {_mh_cols} FROM sh GROUP BY doc_id),
    banded AS ({_band_selects}),
    pairs AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM banded a JOIN banded b USING (band_idx, band_key)
      WHERE a.doc_id < b.doc_id
    ),
    edges AS (SELECT id_a AS a, id_b AS b FROM pairs
              UNION SELECT id_b AS a, id_a AS b FROM pairs),
    reach AS (
      SELECT a AS node, b AS r FROM edges
      UNION
      SELECT reach.node, e.b FROM reach JOIN edges e ON reach.r = e.a
    ),
    clusters AS (
      SELECT node, least(node, MIN(r)) AS cluster_id FROM reach GROUP BY node
    )
"""

#: the previous q_dedup_corpus_end2end invocation's checkpointed cluster
#: map — released (best-effort) when the builder runs again in the same
#: session; at most one copy stays pinned, mirroring connected_components'
#: own superseded-round release discipline.
_E2E_LAST_CLUSTERS = None


def q_dedup_corpus_end2end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end dedup with the candidate-PAIR stage built ONCE — the
    production shape (one pair stage, many consumers): MinHash-LSH pairs
    over the dup-injected corpus (two shifted copy generations, so clusters
    reach size 3) → large-star/small-star clusters (computed once, cached)
    → per-doc ``(cluster_id, kept, cluster_size)`` for EVERY corpus doc,
    singletons included. Subsumes the former separate cluster-resolution
    gate (``cluster_id`` + survivor convention: kept ⇔ doc is its cluster's
    min-id representative) and keep-list gate (``kept`` = the deduplicated
    corpus membership, :func:`operators.dedup.dedup_keep_list` semantics)
    without re-generating the LSH pairs per consumer — at 100 TB the pair
    build is the dominant cost, so it must be shared, not repeated. The
    oracle extends the same recursive-CTE transitive closure with a size
    CTE + left joins."""
    global _E2E_LAST_CLUSTERS
    # r6: corpus built ONCE and shared by both consumers (the id projection
    # and the pair stage) — the r5 shape constructed the documents union
    # twice, contradicting the query's own build-once thesis. And the
    # cluster map is localCheckpoint-ed (not cached) with the PREVIOUS
    # invocation's copy released, so repeated bench invocations (warm-up +
    # N timed runs per session) keep session memory flat instead of
    # accumulating orphaned cache entries.
    corpus = _cluster_corpus(spark, sf_dir)
    parked = dd._LAST_EDGES
    clusters = dd.duplicate_clusters(_cluster_pairs(corpus)).localCheckpoint(
        eager=True
    )
    # the eager checkpoint above re-materialized the labels, so the edge set
    # this CC run parked (the distributed path parks one, local finish none)
    # has no remaining reader — release it now, not at session end. One
    # parked by another caller may still back that caller's lazy labels.
    if dd._LAST_EDGES is not parked:
        dd._park_edges(None, spark)
    if (
        _E2E_LAST_CLUSTERS is not None
        and _E2E_LAST_CLUSTERS.sparkSession is spark
    ):
        dd._release_checkpoint(_E2E_LAST_CLUSTERS)
    _E2E_LAST_CLUSTERS = clusters
    sizes = clusters.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("_sz")
    )
    return (
        corpus.select("doc_id")
        .join(clusters.withColumnRenamed("node", "doc_id"), "doc_id", "left")
        .join(sizes, "cluster_id", "left")
        .select(
            "doc_id",
            F.coalesce("cluster_id", "doc_id").alias("cluster_id"),
            F.coalesce("is_survivor", F.lit(True)).alias("kept"),
            F.coalesce("_sz", F.lit(1).cast("long")).alias("cluster_size"),
        )
        .orderBy("doc_id")
    )


_register(
    "dedup_corpus_end2end",
    q_dedup_corpus_end2end,
    _CLUSTERS_CTE
    + """
    , sizes AS (
      SELECT cluster_id, COUNT(*)::BIGINT AS cluster_size
      FROM clusters GROUP BY 1
    )
    SELECT c.doc_id,
           coalesce(cl.cluster_id, c.doc_id) AS cluster_id,
           coalesce(cl.cluster_id = cl.node, TRUE) AS kept,
           coalesce(s.cluster_size, 1)::BIGINT AS cluster_size
    FROM corpus c
    LEFT JOIN clusters cl ON cl.node = c.doc_id
    LEFT JOIN sizes s ON s.cluster_id = cl.cluster_id
    ORDER BY doc_id
    """,
)


def q_dedup_simhash_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _read(spark, sf_dir, "documents").where(F.col("doc_id") % 7 == 0)
    return dd.simhash64(df, "doc_id", "text").orderBy("doc_id")


def _simhash_sql() -> str:
    hexs = "0123456789abcdef"
    sums = []
    for b in range(64):
        pos, shift = b // 4 + 1, 2 ** (3 - b % 4)
        bit = (
            f"(CAST(floor((strpos('{hexs}', substring(h, {pos}, 1)) - 1) / {shift}) AS BIGINT) % 2)"
        )
        sums.append(f"SUM({bit} * 2 - 1) AS s{b}")
    digits = []
    for d in range(16):
        val = " + ".join(
            f"(CASE WHEN s{d * 4 + j} > 0 THEN {2 ** (3 - j)} ELSE 0 END)"
            for j in range(4)
        )
        digits.append(f"substring('{hexs}', ({val}) + 1, 1)")
    concat = " || ".join(digits)
    norm = NORM.format(c="text")
    return f"""
    WITH w AS (
      SELECT doc_id, md5(word) AS h FROM (
        SELECT doc_id, unnest(string_split({norm}, ' ')) AS word
        FROM documents WHERE text IS NOT NULL AND doc_id % 7 = 0
      ) WHERE length(word) > 0
    ),
    s AS (SELECT doc_id, {", ".join(sums)} FROM w GROUP BY doc_id)
    SELECT doc_id, {concat} AS simhash_hex FROM s ORDER BY doc_id
    """


_register("dedup_simhash_documents", q_dedup_simhash_documents, _simhash_sql())


def q_dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup PAIRS (pigeonhole candidates + exact Hamming verify).
    At max_hamming=3 with 4 chunks the pigeonhole is lossless (≤3 flipped
    bits cannot touch all 4 chunks), so the all-pairs oracle is exact."""
    base = _read(spark, sf_dir, "documents").where(F.col("doc_id") % 7 == 0).select(
        "doc_id", "text"
    )
    dups = base.where(F.col("doc_id") % 50 == 0).withColumn(
        "doc_id", F.col("doc_id") + F.lit(1_000_000)
    )
    corpus = base.unionByName(dups)
    return dd.simhash_near_pairs(corpus, "doc_id", "text", max_hamming=3)


def _simhash_pairs_sql(max_hamming: int = 3) -> str:
    hexs = "0123456789abcdef"
    sums = []
    for b in range(64):
        pos, shift = b // 4 + 1, 2 ** (3 - b % 4)
        bit = (
            f"(CAST(floor((strpos('{hexs}', substring(h, {pos}, 1)) - 1) / {shift}) AS BIGINT) % 2)"
        )
        sums.append(f"SUM({bit} * 2 - 1) AS s{b}")
    digits = []
    for d in range(16):
        val = " + ".join(
            f"(CASE WHEN s{d * 4 + j} > 0 THEN {2 ** (3 - j)} ELSE 0 END)"
            for j in range(4)
        )
        digits.append(f"substring('{hexs}', ({val}) + 1, 1)")
    concat = " || ".join(digits)
    norm = NORM.format(c="text")
    ham = " + ".join(
        f"bit_count(xor(strpos('{hexs}', substring(a.sig, {i + 1}, 1)) - 1, "
        f"strpos('{hexs}', substring(b.sig, {i + 1}, 1)) - 1))"
        for i in range(16)
    )
    return f"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 7 = 0
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, text FROM documents
      WHERE doc_id % 7 = 0 AND doc_id % 50 = 0
    ),
    w AS (
      SELECT doc_id, md5(word) AS h FROM (
        SELECT doc_id, unnest(string_split({norm}, ' ')) AS word
        FROM corpus WHERE text IS NOT NULL
      ) WHERE length(word) > 0
    ),
    s AS (SELECT doc_id, {", ".join(sums)} FROM w GROUP BY doc_id),
    sig AS (SELECT doc_id, {concat} AS sig FROM s)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST({ham} AS INT) AS hamming
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    WHERE {ham} <= {max_hamming}
    """


_register("dedup_simhash_pairs", q_dedup_simhash_pairs, _simhash_pairs_sql(3))


# -------------------------------------------------------- similarity search

_ANN_QUERY_IDS = [0, 50, 100, 150, 200]


def q_ann_topk_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _read(spark, sf_dir, "embeddings")
    return sim.cosine_topk(df, "vec_id", "embedding", _ANN_QUERY_IDS, k=5)


_DOT = (
    "list_sum(list_transform(generate_series(1, len({a})), "
    "i -> {a}[i]::DOUBLE * {b}[i]::DOUBLE))"
)
_NORM_V = "sqrt(" + _DOT.format(a="{a}", b="{a}") + ")"
_COS = (
    "round("
    + _DOT.format(a="q.qv", b="c.embedding")
    + " / ("
    + _NORM_V.format(a="q.qv")
    + " * "
    + _NORM_V.format(a="c.embedding")
    + "), 6)"
)
_register(
    "ann_topk_embeddings",
    q_ann_topk_embeddings,
    f"""
    WITH q AS (
      SELECT vec_id AS query_id, embedding AS qv FROM embeddings
      WHERE vec_id IN ({", ".join(str(i) for i in _ANN_QUERY_IDS)})
    ),
    scored AS (
      SELECT q.query_id, c.vec_id AS neighbor_id, {_COS} AS cos
      FROM q CROSS JOIN embeddings c WHERE c.vec_id != q.query_id
    )
    SELECT query_id, neighbor_id, rank::INT AS rank, cos FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= 5
    """,
)


def q_ann_ivf_topk_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with exhaustive probes (n_probe == n_cells) — exactly equals
    brute force (pytest-proven), so the brute-force SQL is its oracle. The
    production path lowers n_probe to read a fraction of the cells; see
    ann_recall_report for the measured recall/cost trade."""
    df = _read(spark, sf_dir, "embeddings")
    return sim.ivf_topk(
        df, "vec_id", "embedding", _ANN_QUERY_IDS, k=5, n_cells=16, n_probe=16
    )


_register("ann_ivf_topk_embeddings", q_ann_ivf_topk_embeddings, ORACLES["ann_topk_embeddings"])


def _ivf_recall_rows(
    spark: SparkSession,
    df: DataFrame,
    qids,
    n_cells: int = 16,
    probes=(1, 2, 4),
    centroids=None,
) -> DataFrame:
    """recall@5 of probe-limited IVF vs brute force per n_probe (shared by
    the uniform and clustered reports)."""
    truth = sim.cosine_topk(df, "vec_id", "embedding", qids, k=5).select(
        "query_id", "neighbor_id"
    )
    total = truth.count()
    reports = []
    for n_probe in probes:
        approx = sim.ivf_topk(
            df, "vec_id", "embedding", qids, k=5,
            n_cells=n_cells, n_probe=n_probe, centroids=centroids,
        ).select("query_id", "neighbor_id")
        hits = truth.join(approx, ["query_id", "neighbor_id"]).count()
        reports.append((n_probe, hits, total, round(hits / total, 4)))
    return spark.createDataFrame(
        reports, "n_probe int, hits long, truth_size long, recall double"
    )


def q_ann_lsh_topk_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed ANN (sign-LSH) under the hard gate: candidates restricted to
    the query's 8-plane hyperplane bucket, exact cosine rank within it. The
    md5-derived ±1 plane matrix is a deterministic constant, so the oracle
    embeds the same 8×64 sign literals and reproduces the identical bucket
    strings (same sequential-fold float sums on both engines — the
    established `_DOT` parity) and identical top-k rows."""
    df = _read(spark, sf_dir, "embeddings")
    return sim.lsh_topk(
        df, "vec_id", "embedding", _ANN_QUERY_IDS, dim=64, k=5, planes=8
    )


def _lsh_topk_oracle(dim: int = 64, planes: int = 8, seed: int = 42) -> str:
    bits = []
    for p in range(planes):
        terms = " + ".join(
            f"({sim._plane_sign(p, j, seed):+.1f}) * embedding[{j + 1}]::DOUBLE"
            for j in range(dim)
        )
        bits.append(f"(CASE WHEN ({terms}) >= 0 THEN '1' ELSE '0' END)")
    bucket = " || ".join(bits)
    qids = ", ".join(str(i) for i in _ANN_QUERY_IDS)
    return f"""
    WITH b AS (
      SELECT vec_id, embedding, {bucket} AS bucket FROM embeddings
    ),
    q AS (
      SELECT vec_id AS query_id, embedding AS qv, bucket FROM b
      WHERE vec_id IN ({qids})
    ),
    scored AS (
      SELECT q.query_id, c.vec_id AS neighbor_id, {_COS} AS cos
      FROM q JOIN b c USING (bucket) WHERE c.vec_id != q.query_id
    )
    SELECT query_id, neighbor_id, rank::INT AS rank, cos FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= 5
    """


_register("ann_lsh_topk_embeddings", q_ann_lsh_topk_embeddings, _lsh_topk_oracle())


def q_ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-only META-report (no oracle possible by construction): recall@5
    of probe-limited IVF vs brute force per n_probe, on BOTH corpus shapes —
    ``uniform`` (the testdata embeddings: near-uniform vectors, where
    probe-limited recall is inherently pessimistic) and ``clustered`` (the
    realistic shape; see :func:`_clustered_members`). Makes the
    accuracy/cost trade of the 100 TB path visible (n_probe/n_cells is the
    fraction of storage buckets read per query). The two shapes were
    separate registry entries through round 4; merged (``corpus`` column)
    so the 52-entry registry fits the driver's observed 50-entry
    CORRECTNESS-snapshot cap."""
    uniform = _ivf_recall_rows(
        spark, _read(spark, sf_dir, "embeddings"), _ANN_QUERY_IDS
    ).select(F.lit("uniform").alias("corpus"), "*")
    members = _clustered_members(spark, sf_dir)
    cents = sim.kmeans_centroids(members, "vec_id", "embedding", k=16, iters=3)
    clustered = _ivf_recall_rows(
        spark, members, [0, 1000, 2000, 3000, 4000], centroids=cents
    ).select(F.lit("clustered").alias("corpus"), "*")
    return uniform.unionByName(clustered)


def _clustered_members(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthetic CLUSTERED corpus for the recall report: 16 clusters × 32
    members from the first 16 embeddings with deterministic multiplicative
    jitter; cells come from k-means, so most of a query's true neighbors
    share its cell and small probe counts recover them."""
    centers = (
        _read(spark, sf_dir, "embeddings")
        .where(F.col("vec_id") < 16)
        .select(F.col("vec_id").alias("_c"), "embedding")
    )
    # jitter factor must vary with the FULL member index: 67 and 13 are
    # coprime to the modulus 97 > 32 members, so every member is a distinct
    # vector (an earlier %5 cycle collapsed each cluster to 5 exact
    # duplicates, making recall vacuously 1.0)
    members = (
        centers.crossJoin(spark.range(32).select(F.col("id").alias("_m")))
        .select(
            (F.col("_c") * 1000 + F.col("_m")).alias("vec_id"),
            F.transform(
                "embedding",
                lambda x, i: x.cast("double")
                * (
                    F.lit(1.0)
                    + F.lit(0.002) * ((F.col("_m") * 67 + i * 13) % 97).cast("double")
                ),
            ).alias("embedding"),
        )
    )
    return members


_register("ann_recall_report", q_ann_recall_report, None)


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact near-dup AUDIT: all pairs within a deterministic 1/4 corpus
    sample (both sides sampled — the gated plan's cartesian is over the
    bounded sample, never sample × full-corpus). The full-corpus path is
    `embedding_neardup_lsh`; the unbounded all-pairs form exists only as
    that query's DuckDB oracle."""
    df = _read(spark, sf_dir, "embeddings")
    return sim.embedding_near_dup_pairs(
        df, "vec_id", "embedding", threshold=0.3, sample_mod=4
    )


_register(
    "embedding_neardup",
    q_embedding_neardup,
    f"""
    WITH s AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 4 = 0),
    a AS (SELECT vec_id AS id_a, embedding AS qv FROM s),
    scored AS (
      SELECT a.id_a, c.vec_id AS id_b, {_COS.replace("q.qv", "a.qv").replace("query_id", "id_a")} AS cos
      FROM a JOIN s c ON a.id_a < c.vec_id
    )
    SELECT id_a, id_b, cos FROM scored WHERE cos >= 0.3
    """,
)


def _neardup_corpus(df: DataFrame) -> DataFrame:
    """Deterministic near-dup injection: every 10th vector re-inserted with a
    ×1.25 scale on every 7th dimension — a MULTIPLICATIVE perturbation, so
    the angle to the source is norm-independent (cos ≈ 0.996 for every
    vector; an additive bump made small-norm vectors fall near the 0.9
    threshold where banded-LSH recall is probabilistic). Same construction
    in the oracle SQL."""
    pert = df.where(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + F.lit(1_000_000)).alias("vec_id"),
        F.transform(
            F.col("embedding"),
            lambda x, i: x.cast("double")
            * F.when(i % 7 == 0, F.lit(1.25)).otherwise(F.lit(1.0)),
        ).alias("embedding"),
    )
    base = df.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    return base.unionByName(pert)


_NEARDUP_CORPUS_SQL = """
      SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS embedding FROM embeddings
      UNION ALL
      SELECT vec_id + 1000000 AS vec_id,
             list_transform(generate_series(1, len(embedding)),
                            i -> embedding[i]::DOUBLE * CASE WHEN (i - 1) % 7 = 0 THEN 1.25 ELSE 1.0 END) AS embedding
      FROM embeddings WHERE vec_id % 10 = 0
"""


def q_embedding_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-path near-dup: banded sign-LSH candidates + exact verify. The
    oracle is the brute-force all-pairs SQL — at threshold 0.9 with 16 bands
    of 8 planes the LSH recall on the injected pairs is 1.0 (P(miss) ~ 1e-13
    at cos ≈ 0.998), so both sides produce identical pairs."""
    corpus = _neardup_corpus(_read(spark, sf_dir, "embeddings"))
    # r=12 makes 4096 keys/band → far fewer random collisions to verify than
    # r=8 (256 keys); recall at the injected pairs' cos≈0.998 stays ~1-1e-10
    return sim.lsh_near_dup_pairs(
        corpus, "vec_id", "embedding", dim=64, threshold=0.9,
        bands=16, rows_per_band=12,
    )


_register(
    "embedding_neardup_lsh",
    q_embedding_neardup_lsh,
    f"""
    WITH corpus AS ({_NEARDUP_CORPUS_SQL}),
    a AS (SELECT vec_id AS id_a, embedding AS qv FROM corpus),
    scored AS (
      SELECT a.id_a, c.vec_id AS id_b, {_COS.replace("q.qv", "a.qv").replace("c.embedding", "c.embedding")} AS cos
      FROM a JOIN corpus c ON a.id_a < c.vec_id
    )
    SELECT id_a, id_b, cos FROM scored WHERE cos >= 0.9
    """,
)


# ------------------------------------------------- multimodal + transcripts

def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-asset plumbing via Arrow mapInPandas, now FULLY oracle-gated:
    the fake decoder is sha256-derived (feature i = digest byte i / 255 as
    float32) and DuckDB ships ``sha256``, so checksum, n_bytes, AND the
    feature values are mirrorable in SQL (reference test-strategy analog:
    golden-output equality, ``/root/reference/reflect_test.go:36-85``).

    ``feat_sum`` reconstructs the exact digest bytes from the float32
    features (``round(x·255)`` is exact: float32 of h/255 carries < 2⁻²⁴
    relative error, ×255 keeps it far below 0.5) so the comparison is
    integer-exact — summing raw float32s would be ~1e-6 noisy against the
    oracle's double arithmetic right at the round(…, 6) boundary."""
    docs = _read(spark, sf_dir, "documents").where(F.col("doc_id") < 100)
    assets = mm.synthesize_assets(docs, "doc_id", "text")
    feats = mm.extract_features(assets)
    byte_sum = F.aggregate(
        F.transform(
            "features", lambda x: F.round(x.cast("double") * 255).cast("long")
        ),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )
    return feats.select(
        "asset_id",
        "media_type",
        "n_bytes",
        "checksum",
        F.round(byte_sum / 255.0, 6).alias("feat_sum"),
    ).orderBy("asset_id")


def _multimodal_oracle() -> str:
    """DuckDB mirror of synthesize_assets → extract_features: payload is the
    utf-8 encoding of the (null-coalesced) text; checksum = sha256(payload)
    — DuckDB's sha256(VARCHAR) hashes the utf-8 bytes, byte-identical to
    hashlib over encode(); digest byte i is re-derived arithmetically from
    hex digits 2i, 2i+1 (same extraction family as the SimHash oracle)."""
    hexs = "0123456789abcdef"
    bytes_sum = " + ".join(
        f"((strpos('{hexs}', substring(checksum, {2 * i + 1}, 1)) - 1) * 16"
        f" + (strpos('{hexs}', substring(checksum, {2 * i + 2}, 1)) - 1))"
        for i in range(mm.FEATURE_DIM)
    )
    return f"""
    WITH assets AS (
      SELECT doc_id::BIGINT AS asset_id,
             coalesce(text, '') AS payload_text,
             CASE WHEN doc_id % 3 = 0 THEN 'image/png'
                  WHEN doc_id % 3 = 1 THEN 'audio/wav'
                  ELSE 'video/mp4' END AS media_type
      FROM documents WHERE doc_id < 100
    ),
    f AS (
      SELECT asset_id, media_type,
             octet_length(encode(payload_text))::INT AS n_bytes,
             sha256(payload_text) AS checksum
      FROM assets
    )
    SELECT asset_id, media_type, n_bytes, checksum,
           round(({bytes_sum}) / 255.0, 6) AS feat_sum
    FROM f ORDER BY asset_id
    """


_register("multimodal_features", q_multimodal_features, _multimodal_oracle())


def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1→N frame-sample plumbing under the hard gate: `sample_frames` emits
    ``min(n_frames, len(payload))`` evenly-spaced byte slices per asset via
    Arrow mapInPandas (output rows ≠ input rows — the real frame-sampler
    shape). The gate byte-matches the slice ARITHMETIC (frame_idx,
    frame_bytes = ((i+1)·n)//k − (i·n)//k) — fully mirrorable in SQL from
    octet_length alone, no blob functions needed; only the slice CONTENT
    stays stub-decoded (sandbox has no ffmpeg)."""
    docs = _read(spark, sf_dir, "documents").where(F.col("doc_id") < 100)
    assets = mm.synthesize_assets(docs, "doc_id", "text")
    frames = mm.sample_frames(assets, n_frames=4)
    return frames.select("asset_id", "frame_idx", "frame_bytes").orderBy(
        "asset_id", "frame_idx"
    )


_register(
    "multimodal_frames",
    q_multimodal_frames,
    """
    WITH assets AS (
      SELECT doc_id::BIGINT AS asset_id,
             octet_length(encode(coalesce(text, ''))) AS nb
      FROM documents WHERE doc_id < 100
    ),
    k AS (SELECT asset_id, nb, least(4, nb) AS nf FROM assets WHERE nb > 0),
    f AS (
      SELECT asset_id, nb, nf,
             unnest(generate_series(0, nf - 1)) AS frame_idx
      FROM k
    )
    SELECT asset_id, frame_idx::INT AS frame_idx,
           ((((frame_idx + 1) * nb) // nf) - ((frame_idx * nb) // nf))::INT
             AS frame_bytes
    FROM f ORDER BY asset_id, frame_idx
    """,
)


def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize plumbing under the hard gate, FULL CONTENT: the stub "resize"
    tiles the payload bytes to exactly width×height bytes; the gate compares
    the complete resized buffer as hex — byte-level equality, strictly
    stronger than a checksum (DuckDB has hex(BLOB) but no blob slicing, so
    the oracle tiles the HEX STRING at 2-chars-per-byte granularity). Only
    the decode body is a stub; the Arrow batch shape, schema, and byte
    construction are what's being checked."""
    docs = _read(spark, sf_dir, "documents").where(F.col("doc_id") < 100)
    assets = mm.synthesize_assets(docs, "doc_id", "text")
    resized = mm.resize_images(assets, width=16, height=16)
    return resized.select(
        "asset_id",
        "width",
        "height",
        F.lower(F.hex(F.col("resized"))).alias("resized_hex"),
    ).orderBy("asset_id")


def _multimodal_resize_oracle(width: int = 16, height: int = 16) -> str:
    target = width * height
    return f"""
    WITH assets AS (
      SELECT doc_id::BIGINT AS asset_id,
             encode(coalesce(text, '')) AS payload
      FROM documents WHERE doc_id < 100
    ),
    h AS (
      SELECT asset_id, octet_length(payload) AS nb, lower(hex(payload)) AS ph
      FROM assets
    )
    SELECT asset_id, {width}::INT AS width, {height}::INT AS height,
           CASE WHEN nb = 0 THEN repeat('00', {target})
                ELSE substring(repeat(ph, ({target} // nb) + 1), 1, {2 * target})
           END AS resized_hex
    FROM h ORDER BY asset_id
    """


_register("multimodal_resize", q_multimodal_resize, _multimodal_resize_oracle())


# ----------------------------------------- cross-table referential checks

def _orphan_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer corpus with deterministic FK orphans: every 100th customer
    re-inserted under a shifted PK with c_nationkey pushed out of nation's
    key range (same construction in SQL)."""
    cust = _read(spark, sf_dir, "customer")
    bad = cust.where(F.col("c_custkey") % 100 == 0).select(
        (F.col("c_custkey") + F.lit(1_000_000)).alias("c_custkey"),
        "c_name",
        (F.col("c_nationkey") + F.lit(1000)).alias("c_nationkey"),
        "c_acctbal",
        "c_mktsegment",
    )
    return cust.unionByName(bad)


_ORPHAN_CUSTOMER_SQL = (
    "SELECT * FROM customer UNION ALL "
    "SELECT c_custkey + 1000000 AS c_custkey, c_name, "
    "c_nationkey + 1000 AS c_nationkey, c_acctbal, c_mktsegment "
    "FROM customer WHERE c_custkey % 100 = 0"
)


def q_fk_conformance_tpch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-TABLE referential integrity over the full TPC-H-ish dimension
    chain (region ← nation ← {customer, supplier}; orders → customer;
    lineitem → part) — the validation-engine surface the within-table
    contiguity checks don't cover. Two children carry injected orphans so
    the gate is non-vacuous; the clean FKs pin exact zeros. ONE scan of each
    child per FK (broadcast left join + conditional agg — round-5 fix; only
    the parent's distinct key set moves)."""
    from .operators import uniqueness as uq

    li = _read(spark, sf_dir, "lineitem")
    bad_li = li.where(
        (F.col("l_orderkey") % 500 == 0) & (F.col("l_linenumber") == 1)
    ).withColumn("l_partkey", F.col("l_partkey") + F.lit(10_000_000))
    fks = [
        ("customer.nationkey", _orphan_customer(spark, sf_dir), "c_nationkey",
         _read(spark, sf_dir, "nation"), "n_nationkey"),
        ("lineitem.partkey", li.unionByName(bad_li), "l_partkey",
         _read(spark, sf_dir, "part"), "p_partkey"),
        ("nation.regionkey", _read(spark, sf_dir, "nation"), "n_regionkey",
         _read(spark, sf_dir, "region"), "r_regionkey"),
        ("orders.custkey", _read(spark, sf_dir, "orders"), "o_custkey",
         _read(spark, sf_dir, "customer"), "c_custkey"),
        ("supplier.nationkey", _read(spark, sf_dir, "supplier"), "s_nationkey",
         _read(spark, sf_dir, "nation"), "n_nationkey"),
    ]
    return uq.fk_conformance(fks).orderBy("fk")


def _fk_count_sql(name: str, child_sql: str, ck: str, parent: str, pk: str) -> str:
    # NOT IN over a subquery yields zero rows if the parent key set ever
    # contains a NULL — the IS NOT NULL guard keeps the mirror at anti-join
    # semantics for any reuse beyond the NULL-free TPC-H keys
    return (
        f"SELECT '{name}' AS fk, "
        f"(SELECT COUNT(*) FROM ({child_sql}) WHERE {ck} IS NOT NULL)::BIGINT AS child_rows, "
        f"(SELECT COUNT(*) FROM ({child_sql}) WHERE {ck} IS NOT NULL "
        f"AND {ck} NOT IN (SELECT {pk} FROM {parent} WHERE {pk} IS NOT NULL))::BIGINT AS orphan_rows"
    )


_BAD_LINEITEM_SQL = (
    "SELECT * REPLACE (l_partkey + 10000000 AS l_partkey) FROM lineitem "
    "WHERE l_orderkey % 500 = 0 AND l_linenumber = 1"
)

_register(
    "fk_conformance_tpch",
    q_fk_conformance_tpch,
    " UNION ALL ".join(
        [
            _fk_count_sql("customer.nationkey", _ORPHAN_CUSTOMER_SQL,
                          "c_nationkey", "nation", "n_nationkey"),
            _fk_count_sql("lineitem.partkey",
                          f"SELECT * FROM lineitem UNION ALL {_BAD_LINEITEM_SQL}",
                          "l_partkey", "part", "p_partkey"),
            _fk_count_sql("nation.regionkey", "SELECT * FROM nation",
                          "n_regionkey", "region", "r_regionkey"),
            _fk_count_sql("orders.custkey", "SELECT * FROM orders",
                          "o_custkey", "customer", "c_custkey"),
            _fk_count_sql("supplier.nationkey", "SELECT * FROM supplier",
                          "s_nationkey", "nation", "n_nationkey"),
        ]
    )
    + " ORDER BY fk",
)


def q_fk_orphan_rows_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level FK gate: the orphan customer ROWS themselves (the triage
    output a pipeline acts on), byte-matched."""
    from .operators import uniqueness as uq

    orphans = uq.fk_orphans(
        _orphan_customer(spark, sf_dir), "c_nationkey",
        _read(spark, sf_dir, "nation"), "n_nationkey",
    )
    return orphans.select("c_custkey", "c_nationkey", "c_name").orderBy("c_custkey")


_register(
    "fk_orphan_rows_customer",
    q_fk_orphan_rows_customer,
    f"""
    WITH cust AS ({_ORPHAN_CUSTOMER_SQL})
    SELECT c_custkey, c_nationkey, c_name FROM cust
    WHERE c_nationkey IS NOT NULL
      AND c_nationkey NOT IN (SELECT n_nationkey FROM nation
                              WHERE n_nationkey IS NOT NULL)
    ORDER BY c_custkey
    """,
)


#: column → sql_pred elem-type hints for the staged transcript table
_TRANSCRIPT_ELEM_TYPES = {
    "conv_id": "string", "turn_idx": "integer", "role": "string",
    "text": "string", "tool": "string", "ts": "timestamp",
}


def q_transcript_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLAGSHIP, fully gated: stage the deterministic synthetic transcript
    table to parquet (the real pipeline shape — validation runs over a stored
    table), read it back, and emit per-conversation verdicts
    (``/root/reference/entities.go:620`` SchemaOrBool verdict analog per
    SURVEY §2.3). The DuckDB oracle reads the SAME staged parquet and
    recomputes the verdicts from the same rule document via
    :func:`oracle.verdict_sql`.

    The staged scale is PINNED to sf0.01 (the driver's correctness scale)
    regardless of ``sf_dir``: the oracle is a static SQL string referencing
    one path, so both engines must see the same table at any harness scale.
    Throughput at the bench scale is measured separately in ``bench.py``
    (generate → flags/violations/verdicts at the sf-matched volume)."""
    from .compile import compile_table
    from .sources.transcripts import stage_transcripts, transcript_table_rule

    df = spark.read.parquet(stage_transcripts(spark, "0.01"))
    plan = compile_table(transcript_table_rule(), df.schema)
    return plan.verdicts(df, "conv_id").orderBy("partition_key")


def _transcript_oracle() -> str:
    from .oracle import verdict_sql
    from .sources.transcripts import GEN_VERSION, STAGE_DIR, transcript_table_rule

    # the driver's correctness gate runs at sf0.01 — the oracle reads the
    # parquet q_transcript_validation stages for that scale
    path = f"{STAGE_DIR}/transcripts_v{GEN_VERSION}_sf0.01"
    body = verdict_sql(
        transcript_table_rule(), "transcripts", "conv_id", _TRANSCRIPT_ELEM_TYPES
    )
    return (
        f"WITH transcripts AS (SELECT * FROM read_parquet('{path}/*.parquet'))\n"
        + body
    )


_register("transcript_validation", q_transcript_validation, _transcript_oracle())


def q_transcript_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star literal gate: MATERIALIZED VIOLATION ROWS over the staged
    transcript table, byte-matched (value-hash) against a DuckDB
    reconstruction of every compiled check's failing rows — under stable
    (conv_id, turn_idx) ordering. Same sf0.01 pinning as
    `transcript_validation` (static oracle path)."""
    from .compile import compile_table
    from .sources.transcripts import stage_transcripts, transcript_table_rule

    df = spark.read.parquet(stage_transcripts(spark, "0.01"))
    plan = compile_table(transcript_table_rule(), df.schema)
    return plan.violations(df, ["conv_id", "turn_idx"])


def _transcript_violations_oracle() -> str:
    from .oracle import violations_sql
    from .sources.transcripts import GEN_VERSION, STAGE_DIR, transcript_table_rule

    path = f"{STAGE_DIR}/transcripts_v{GEN_VERSION}_sf0.01"
    body = violations_sql(
        transcript_table_rule(),
        "transcripts",
        ["conv_id", "turn_idx"],
        _TRANSCRIPT_ELEM_TYPES,
    )
    return (
        f"WITH transcripts AS (SELECT * FROM read_parquet('{path}/*.parquet'))\n"
        + body
    )


_register("transcript_violations", q_transcript_violations, _transcript_violations_oracle())


def q_transcript_violations_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-rule-capped violation sampling under the hard gate: the
    triage-bounded output (first ``max_per_rule`` failing rows per rule in
    (conv_id, turn_idx) order, two-phase salted ranking) must byte-match a
    plain ``row_number ... QUALIFY`` mirror over the same check predicates.
    Determinism note: key ties can only occur between rows identical in
    EVERY output column (two -1-injected turns of one conversation fail the
    same rule with the same observed/expected), so the cap selects an
    identical multiset regardless of tie order. Cap 10 < several per-rule
    failure counts at sf0.01, so the cap genuinely bites."""
    from .compile import compile_table
    from .sources.transcripts import stage_transcripts, transcript_table_rule

    df = spark.read.parquet(stage_transcripts(spark, "0.01"))
    plan = compile_table(transcript_table_rule(), df.schema)
    return plan.violations_sampled(df, ["conv_id", "turn_idx"], max_per_rule=10)


def _transcript_violations_sampled_oracle(cap: int = 10) -> str:
    from .oracle import violations_sql
    from .sources.transcripts import GEN_VERSION, STAGE_DIR, transcript_table_rule

    path = f"{STAGE_DIR}/transcripts_v{GEN_VERSION}_sf0.01"
    body = violations_sql(
        transcript_table_rule(),
        "transcripts",
        ["conv_id", "turn_idx"],
        _TRANSCRIPT_ELEM_TYPES,
    )
    return f"""
    WITH transcripts AS (SELECT * FROM read_parquet('{path}/*.parquet')),
    v AS ({body})
    SELECT conv_id, turn_idx, rule_id, "column", keyword, observed, expected
    FROM v
    QUALIFY row_number() OVER (PARTITION BY rule_id ORDER BY conv_id, turn_idx) <= {cap}
    """


_register(
    "transcript_violations_sampled",
    q_transcript_violations_sampled,
    _transcript_violations_sampled_oracle(),
)


def _staged_transcripts(spark: SparkSession) -> DataFrame:
    from .sources.transcripts import stage_transcripts

    return spark.read.parquet(stage_transcripts(spark, "0.01"))


def _transcript_path() -> str:
    from .sources.transcripts import GEN_VERSION, STAGE_DIR

    return f"{STAGE_DIR}/transcripts_v{GEN_VERSION}_sf0.01"


def q_transcript_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level FLAGS gate — the widest literal surface: one boolean
    pass-flag per compiled check for EVERY row of the staged table
    (60,986 × 13 at sf0.01), byte-matched against the same predicates
    rendered in SQL (`oracle.check_preds_sql` — identical check list by
    construction). Complements `transcript_validation` (aggregated
    verdicts) and `transcript_violations` (failing rows only): this one
    pins every individual (row, check) boolean."""
    from .compile import compile_table
    from .sources.transcripts import stage_transcripts, transcript_table_rule

    df = spark.read.parquet(stage_transcripts(spark, "0.01"))
    plan = compile_table(transcript_table_rule(), df.schema)
    return plan.flags(df, ["conv_id", "turn_idx"])


def _transcript_flags_oracle() -> str:
    from .oracle import check_preds_sql
    from .sources.transcripts import GEN_VERSION, STAGE_DIR, transcript_table_rule

    path = f"{STAGE_DIR}/transcripts_v{GEN_VERSION}_sf0.01"
    preds = check_preds_sql(transcript_table_rule(), _TRANSCRIPT_ELEM_TYPES)
    cols = ", ".join(f'({c.pred}) AS "{c.rule_id}"' for c in preds)
    return (
        f"SELECT conv_id, turn_idx, {cols} "
        f"FROM read_parquet('{path}/*.parquet')"
    )


_register("transcript_flags", q_transcript_flags, _transcript_flags_oracle())


def q_transcript_contiguity_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table-scope referential check, row-level gate: per-row chain-break
    attribution (window lag) over the staged transcripts — the injected
    negative/skipped turn_idx rows must surface as (conv_id, observed_idx,
    gap) rows identical to the SQL window mirror."""
    from .operators import uniqueness as uq

    return uq.contiguity_violations(_staged_transcripts(spark), "conv_id", "turn_idx", 0)


_register(
    "transcript_contiguity_violations",
    q_transcript_contiguity_violations,
    f"""
    WITH transcripts AS (SELECT * FROM read_parquet('{_transcript_path()}/*.parquet')),
    v AS (
      SELECT conv_id, turn_idx AS observed_idx,
             CASE WHEN lag(turn_idx) OVER w IS NULL THEN turn_idx - 0
                  ELSE turn_idx - lag(turn_idx) OVER w - 1 END AS gap
      FROM transcripts
      WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
    )
    SELECT conv_id, observed_idx, gap FROM v WHERE gap != 0
    """,
)


def q_transcript_uniqueness_duplicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table-scope (conv_id, turn_idx) uniqueness, row-level gate: duplicate
    key tuples with counts. The staged table has no natural duplicates at
    sf0.01, so a deterministic slice is re-inserted first (same construction
    in SQL) — without it the gate would be vacuously empty."""
    from .operators import uniqueness as uq

    df = _staged_transcripts(spark)
    dup_cond = (
        F.expr("try_cast(substring(conv_id, 2, 8) AS INT)") % 97 == 0
    ) & (F.col("turn_idx") % 3 == 0)
    corpus = df.unionByName(df.where(dup_cond))
    return uq.duplicates(corpus, ["conv_id", "turn_idx"])


_register(
    "transcript_uniqueness_duplicates",
    q_transcript_uniqueness_duplicates,
    f"""
    WITH transcripts AS (SELECT * FROM read_parquet('{_transcript_path()}/*.parquet')),
    corpus AS (
      SELECT * FROM transcripts
      UNION ALL
      SELECT * FROM transcripts
      WHERE try_cast(substring(conv_id, 2, 8) AS INTEGER) % 97 = 0
        AND turn_idx % 3 = 0
    )
    SELECT conv_id, turn_idx, COUNT(*)::BIGINT AS dup_count
    FROM corpus GROUP BY conv_id, turn_idx HAVING COUNT(*) > 1
    """,
)


def q_transcript_monotonic_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ts-monotonic-within-chain, row-level gate: rows whose ts regresses
    along the turn_idx order per conversation (the +10000-turn_idx injection
    reorders rows whose ts stays mid-range) — window-lag rows must match the
    SQL mirror, including the total-order tie-break on ts itself."""
    from .operators import uniqueness as uq

    return uq.monotonic_violations(_staged_transcripts(spark), "conv_id", "turn_idx", "ts")


_register(
    "transcript_monotonic_violations",
    q_transcript_monotonic_violations,
    f"""
    WITH transcripts AS (SELECT * FROM read_parquet('{_transcript_path()}/*.parquet')),
    v AS (
      SELECT conv_id, turn_idx, ts AS observed, lag(ts) OVER w AS previous
      FROM transcripts
      WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx, ts)
    )
    SELECT conv_id, turn_idx, observed, previous
    FROM v WHERE previous IS NOT NULL AND observed < previous
    """,
)


def q_transcript_text_equality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """input_hint row invariant riding a REAL transformation (upgraded r5 —
    through round 4 both engines just read the same staged parquet, proving
    read/hash/ordering parity only): the engine computes the
    validation-CLEAN subset (`ValidationPlan.passing` — rows passing ALL 13
    compiled checks, one codegen'd AND, no shuffle) and emits its per-turn
    (conv_id, turn_idx, text) under stable turn ordering; the oracle
    re-derives the same subset from the SQL-rendered predicate conjunction
    (`oracle.check_preds_sql` — identical check list by construction). One
    hash gate now pins compiled-predicate parity, row filtering, AND
    per-turn byte text equality of every surviving row."""
    from .compile import compile_table
    from .sources.transcripts import transcript_table_rule

    df = _staged_transcripts(spark)
    plan = compile_table(transcript_table_rule(), df.schema)
    return plan.passing(df).select("conv_id", "turn_idx", "text").orderBy(
        "conv_id", "turn_idx", "text"
    )


def _transcript_texts_oracle() -> str:
    from .oracle import check_preds_sql
    from .sources.transcripts import transcript_table_rule

    preds = check_preds_sql(transcript_table_rule(), _TRANSCRIPT_ELEM_TYPES)
    cond = " AND ".join(f"({c.pred})" for c in preds)
    return (
        f"SELECT conv_id, turn_idx, text FROM read_parquet('{_transcript_path()}/*.parquet') "
        f"WHERE {cond} ORDER BY conv_id, turn_idx, text"
    )


_register("transcript_text_equality", q_transcript_text_equality, _transcript_texts_oracle())
