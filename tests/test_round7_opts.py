"""Round-7 optimization regression tests: every operator whose internals
changed for performance is pinned bit-for-bit against its round-6 form (or a
ground-truth equivalent) on adversarial fixtures."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests import reference_forms as rf


def test_minhash_arrow_bitexact_vs_agg_form(spark):
    """The r7 Arrow/dictionary minhash signatures must equal the round-6
    explode + k×min(md5) aggregation bit-for-bit — real data + adversarial
    fixtures (unicode text incl. NBSP/tab whitespace, short docs, empty
    text, NULL text, duplicate shingles)."""
    from jsonschema_go_spark.operators import dedup as dd

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    old = rf.minhash_table_agg(docs, "doc_id", "text", 12, 3)
    new = dd.minhash_table(docs, "doc_id", "text", 12, 3)
    assert old.exceptAll(new).count() == 0 and new.exceptAll(old).count() == 0

    rows = [
        (1, "a b c d e f"),
        (2, None),
        (3, "x y"),
        (4, "Héllo wörld naïve test case"),
        (5, ""),
        (6, "a b c d e f"),
        (7, "a b c d e"),          # NBSP is NOT \s in Java — stays in-word
        (8, "tab\tsep\twords here now"),  # tabs ARE \s — normalized to spaces
        (9, "dup dup dup dup dup"),
        (10, "  leading and trailing  "),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    old = rf.minhash_table_agg(df, "doc_id", "text", 12, 3)
    new = dd.minhash_table(df, "doc_id", "text", 12, 3)
    assert old.exceptAll(new).count() == 0 and new.exceptAll(old).count() == 0
    assert old.schema.simpleString() == new.schema.simpleString()


def test_simhash_pairs_bitcount_matches_digit_form(spark):
    """bit_count(xor) hamming == the round-6 digit-wise popcount sum, on the
    full sf0.01 corpus at max_hamming 3 AND a loose 12 (so nontrivial
    hamming values are compared, not just near-zero ones)."""
    from pyspark.sql import functions as F

    from jsonschema_go_spark.operators import dedup as dd

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    base = docs.where(F.col("doc_id") % 7 == 0).select("doc_id", "text")
    dups = base.where(F.col("doc_id") % 50 == 0).withColumn(
        "doc_id", F.col("doc_id") + F.lit(1_000_000)
    )
    corpus = base.unionByName(dups)

    def digit_form(max_hamming):
        sig = dd.simhash64(corpus, "doc_id", "text")
        chunks = sig.select(
            F.col("doc_id"), F.col("simhash_hex"),
            F.explode(F.array(*[
                F.struct(F.lit(i).alias("chunk_idx"),
                         F.substring("simhash_hex", i * 4 + 1, 4).alias("chunk"))
                for i in range(4)
            ])).alias("c"),
        ).select("doc_id", "simhash_hex", F.col("c.chunk_idx"), F.col("c.chunk"))
        a = chunks.select(F.col("doc_id").alias("id_a"), F.col("simhash_hex").alias("sig_a"), "chunk_idx", "chunk")
        b = chunks.select(F.col("doc_id").alias("id_b"), F.col("simhash_hex").alias("sig_b"), "chunk_idx", "chunk")
        cand = (
            a.join(b, ["chunk_idx", "chunk"]).where(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b", "sig_a", "sig_b").distinct()
        )
        ham = None
        for pos in range(16):
            da = rf.hex_digit_val(F.col("sig_a"), pos)
            db = rf.hex_digit_val(F.col("sig_b"), pos)
            for shift in (8, 4, 2, 1):
                term = ((F.floor(da / shift) % 2) != (F.floor(db / shift) % 2)).cast("int")
                ham = term if ham is None else (ham + term)
        return (cand.withColumn("hamming", ham)
                .where(F.col("hamming") <= max_hamming)
                .select("id_a", "id_b", "hamming"))

    for mh in (3, 12):
        old = sorted(tuple(r) for r in digit_form(mh).collect())
        new = sorted(
            tuple(r) for r in dd.simhash_near_pairs(corpus, "doc_id", "text", mh).collect()
        )
        assert old == new


def test_jaccard_vectorized_bitexact_vs_join_form(spark):
    """The broadcast-index numpy pair counter must reproduce the join +
    aggregation form bit-for-bit (ids, integer counts, rounded jaccard) —
    across thresholds and a binding hot-shingle cap."""
    import struct as _struct

    from jsonschema_go_spark.operators import dedup as dd

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")

    def key(df):
        return sorted(
            (r["id_a"], r["id_b"], r["common"], r["n_a"], r["n_b"],
             _struct.pack("<d", r["jaccard"]))
            for r in df.collect()
        )

    for thr, cap in ((0.4, 1000), (0.1, 1000), (0.4, 5)):
        sh = dd.shingle_table(docs, "doc_id", "text", 3)
        old = key(dd._jaccard_pairs_join(sh, "doc_id", thr, cap))
        new = key(dd.jaccard_pairs(docs, "doc_id", "text", 3, thr, cap))
        assert old == new, (thr, cap)
    # degenerate corpus: no shingles at all -> empty frame, stable schema
    e = spark.createDataFrame([(1, "a b"), (2, None)], "doc_id int, text string")
    out = dd.jaccard_pairs(e, "doc_id", "text", 3, 0.4)
    assert out.count() == 0
    assert out.columns == ["id_a", "id_b", "common", "n_a", "n_b", "jaccard"]


def test_lang_guess_single_scan_matches_chain(spark):
    """The one-scan aggregate/finish lang_guess must equal the round-6
    per-language when-chain on random unicode (incl. combining marks) and
    NULL/empty text."""
    import random

    from pyspark.sql import functions as F

    from jsonschema_go_spark.operators import text as tx

    def old_lang_guess(c, langs=("en", "de", "fr", "es")):
        hits = {l: tx.stopword_hits(c, l) for l in langs}
        best = F.lit("und")
        best_n = F.lit(0)
        for l in reversed(langs):
            cond = hits[l] > F.lit(0)
            better = hits[l] >= best_n
            best = F.when(cond & better, F.lit(l)).otherwise(best)
            best_n = F.when(cond & better, hits[l]).otherwise(best_n)
        return best

    random.seed(123)
    alphabet = list("the la le der und el los es ist no que pour mit ") + list(
        "abcxyz λéïß周你 ½²_0189.,;:!?'\"()[]{}-\t\n  ©😀́"
    )
    rows = [
        (i, "".join(random.choice(alphabet) for _ in range(random.randint(0, 80))))
        for i in range(300)
    ]
    rows += [(2000, None), (2001, ""), (2002, "the der le el"), (2003, "́the λthe the")]
    df = spark.createDataFrame(rows, "i int, text string")
    bad = df.select(
        old_lang_guess(F.col("text")).alias("o"), tx.lang_guess(F.col("text")).alias("n")
    ).where(~(F.col("o").eqNullSafe(F.col("n")))).count()
    assert bad == 0


def test_quality_features_barrier_matches_inline_form(spark):
    """quality_features' Generate-barrier restructure computes identical
    values and schema to the round-6 single-projection form."""
    from pyspark.sql import functions as F

    from jsonschema_go_spark.operators import text as tx

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet").where(
        F.col("text").isNotNull()
    )

    def old_quality(df, col="text"):
        c = F.col(col)
        wc = tx.word_count(c).alias("word_count")
        tc = tx.token_count(c).alias("token_count")
        pr = tx.char_class_ratio(c, tx.PUNCT_RE).alias("punct_ratio")
        ur = tx.char_class_ratio(c, tx.UPPER_RE).alias("upper_ratio")
        dr = tx.char_class_ratio(c, tx.DIGIT_RE).alias("digit_ratio")
        sr = F.when(tx.word_count(c) == 0, F.lit(0.0)).otherwise(
            tx.stopword_hits(c, "en") / tx.word_count(c)
        ).alias("stopword_ratio")
        out = df.select("*", wc, tc, pr, ur, dr, sr)
        score = (
            F.least(F.col("word_count") / F.lit(20.0), F.lit(1.0)) * 0.5
            + (1.0 - F.least(F.col("punct_ratio") * 4.0, F.lit(1.0))) * 0.25
            + (1.0 - F.least(F.col("digit_ratio") * 4.0, F.lit(1.0))) * 0.25
        )
        return out.withColumn("quality_score", F.round(score, 6))

    o = old_quality(docs)
    n = tx.quality_features(docs)
    assert o.schema.simpleString() == n.schema.simpleString()
    assert o.exceptAll(n).count() == 0 and n.exceptAll(o).count() == 0


def test_simhash64_arrow_bitexact_vs_agg_form(spark):
    """The Arrow/dictionary simhash must equal the round-6 two-level
    aggregation bit-for-bit — real data + unicode/duplicate/empty-token
    fixtures."""
    from pyspark.sql import functions as F

    from jsonschema_go_spark.operators import dedup as dd

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet").where(
        F.col("doc_id") % 7 == 0
    )
    old = rf.simhash64_agg(docs, "doc_id", "text")
    new = dd.simhash64(docs, "doc_id", "text")
    assert old.exceptAll(new).count() == 0 and new.exceptAll(old).count() == 0

    rows = [
        (1, "a b a b a"), (2, ""), (3, None), (4, "x"),
        (5, " spaced  out "), (6, "Héllo wörld é"), (7, "dup dup dup"),
        (8, "tab\tsep"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    old = rf.simhash64_agg(df, "doc_id", "text")
    new = dd.simhash64(df, "doc_id", "text")
    assert old.exceptAll(new).count() == 0 and new.exceptAll(old).count() == 0
    assert old.schema.simpleString() == new.schema.simpleString()


def test_column_stats_exact_distinct_restructure(spark):
    """Exact-distinct column_stats (per-column two-level distincts instead
    of the K-way expand) must emit identical rows — nulls included."""
    from pyspark.sql import functions as F

    from jsonschema_go_spark.operators import stats as st

    ev = spark.read.parquet("/root/testdata/sf0.01/events.parquet")
    holes = ev.select(
        F.col("event_id"),
        F.when(F.col("event_id") % 13 != 0, F.col("user_id")).alias("user_id"),
        F.when(F.col("event_id") % 11 != 0, F.col("event_type")).alias("event_type"),
    )
    cols = ["event_id", "user_id", "event_type"]
    got = {r["column"]: r for r in st.column_stats(holes, cols, exact_distinct=True).collect()}
    want = holes.agg(
        F.count(F.lit(1)).alias("rows"),
        *[a for c in cols for a in (
            F.sum(F.col(c).isNull().cast("long")).alias(f"n_{c}"),
            F.count_distinct(F.col(c)).alias(f"d_{c}"),
            F.min(c).cast("string").alias(f"mn_{c}"),
            F.max(c).cast("string").alias(f"mx_{c}"),
        )],
    ).collect()[0]
    for c in cols:
        r = got[c]
        assert r["row_count"] == want["rows"]
        assert r["null_count"] == want[f"n_{c}"]
        assert r["distinct_count"] == want[f"d_{c}"]
        assert r["min_value"] == want[f"mn_{c}"]
        assert r["max_value"] == want[f"mx_{c}"]


def test_shingle_staged_transform_matches_zipwith(spark):
    """shingle_table / the staged-words transform construction must equal
    the zip_with word_shingles form exactly across n."""
    from pyspark.sql import functions as F

    from jsonschema_go_spark.operators import dedup as dd

    rows = [
        (1, "a b c d"), (2, ""), (3, None), (4, "x"), (5, "p q"),
        (6, "a  b   c"), (7, " lead trail "), (8, "Héllo wörld naïve é x"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, t string")
    for n in (2, 3, 4):
        old = df.where(F.col("t").isNotNull()).select(
            "doc_id", F.explode(rf.word_shingles(F.col("t"), n)).alias("shingle")
        )
        new = dd.shingle_table(df, "doc_id", "t", n)
        assert old.exceptAll(new).count() == 0 and new.exceptAll(old).count() == 0


def test_date_format_arithmetic_matches_parser(spark):
    """The arithmetic proleptic-Gregorian `date` predicate must equal the
    round-6 rlike + try_to_timestamp('yyyy-MM-dd') form on an exhaustive
    month/day sweep across leap-edge years (incl. year 0000 and the 1582
    cutover — java.time is proleptic), malformed shapes, NULL, and fuzz."""
    import random

    from pyspark.sql import functions as F

    from jsonschema_go_spark.functions.formats import FORMAT_PREDICATES

    def old_date(c):
        return c.rlike(r"^\d{4}-\d{2}-\d{2}$") & F.try_to_timestamp(
            c, F.lit("yyyy-MM-dd")
        ).isNotNull()

    cases = []
    for y in (0, 1, 4, 96, 100, 396, 400, 1582, 1583, 1600, 1896, 1900, 2000, 2024, 9999):
        for m in range(0, 15):
            for d in (0, 1, 28, 29, 30, 31, 32):
                cases.append(f"{y:04d}-{m:02d}-{d:02d}")
    random.seed(5)
    cases += ["", "x", "2024-1-1", "2024-001-01", None, "99999-01-01", "202A-01-01"]
    cases += ["".join(random.choice("0123456789-x") for _ in range(10)) for _ in range(1000)]
    df = spark.createDataFrame([(c,) for c in cases], "d string")
    bad = (
        df.select(
            old_date(F.col("d")).alias("o"),
            FORMAT_PREDICATES["date"](F.col("d")).alias("n"),
        )
        .where(~F.col("o").eqNullSafe(F.col("n")))
        .count()
    )
    assert bad == 0


def test_patternproperties_hint_not_clobbered(spark):
    """ADVICE r6 (high): the patternProperties loop in the map-keyword
    oracle reassigned the `inner` elem-type hint to a SQL fragment, so a
    SECOND pattern's typed value sub-predicate — and any schema
    `dependencies` rendered after the loop — silently degraded to TRUE.
    Parity over a typed map with TWO patternProperties patterns (the
    second with a typed value rule that must bite) plus a typed schema
    dependency."""
    import duckdb
    import pyarrow as pa

    from jsonschema_go_spark.compile import compile_table
    from jsonschema_go_spark.oracle import check_preds_sql
    from jsonschema_go_spark.rules import Rule, TableRule

    doc = {
        "type": "object",
        "patternProperties": {
            "^x": {"maxLength": 1},
            "^n": {"type": "integer"},  # typed residue — dropped by the bug
        },
        "dependencies": {"b": {"minProperties": 2, "required": ["n1"]}},
    }
    values = [
        {"x1": "z", "n1": "5"},        # all pass
        {"n1": "notanint"},            # second pattern's type check fails
        {"b": "1"},                    # dependency fails (1 key, no n1)
        {"b": "1", "n1": "3", "x9": "toolong"},  # first pattern fails
        None,
    ]
    tr = TableRule(name="t", columns={"m": Rule.from_dict(doc)})
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(values)], "id long, m map<string,string>"
    )
    plan = compile_table(tr, df.schema)
    preds = check_preds_sql(tr, {"m": "map<string>"})
    assert [c.rule_id for c in preds] == plan.rule_ids and plan.rule_ids
    got = {
        r[0]: tuple(bool(v) if v is not None else None for v in r[1:])
        for r in plan.flags(df, ["id"]).collect()
    }
    con = duckdb.connect()
    arrow_vals = [
        None if v is None else list(v.items()) for v in values
    ]
    con.register(
        "t",
        pa.table(
            {
                "id": pa.array(range(len(values)), pa.int64()),
                "m": pa.array(arrow_vals, pa.map_(pa.string(), pa.string())),
            }
        ),
    )
    sel = ", ".join(f"({c.pred}) AS p{k}" for k, c in enumerate(preds))
    want = {
        r[0]: tuple(bool(v) if v is not None else None for v in r[1:])
        for r in con.sql(f"SELECT id, {sel} FROM t ORDER BY id").fetchall()
    }
    con.close()
    assert got == want
    # and at least one row must actually FAIL the second pattern's typed
    # check on both engines (the bug made it vacuously TRUE)
    flat = [v for r in want.values() for v in r]
    assert False in flat


