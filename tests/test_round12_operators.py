"""Round-12 operator pins.

embedding-drift small-drift regression (ADVICE r11, high): Spark types
a decimal(18,6) subtraction as decimal(19,6), and decimal(19,6)² needs
39 digits — past the 38-digit cap Spark silently re-typed the product
decimal(38,11), so a 2e-6 per-component diff squared to 4e-12 which
rounded to 0: drift_l2 returned 0.0 in exactly the small-drift regime
the monitor exists for, while the DuckDB oracle (whose 19+19=38-digit
product fits) returned the true value. The fix casts the difference
back to decimal(18,6) before squaring (square = decimal(37,12),
exact); these tests pin the small-drift regime on BOTH the DataFrame
path and the cross-engine compare.
"""

from __future__ import annotations

import duckdb
import pandas as pd

from puregraphdb_spark.operators.extras import weighted_median
from puregraphdb_spark.operators.pipeline import embedding_drift


def _small_drift_rows():
    # Per-component diffs of 1e-6 / 2e-6 from an exactly-zero global
    # centroid: the regime the broken decimal(38,11) product zeroed.
    return (
        [("a", [1e-6, 2e-6, 0.0])] * 4
        + [("b", [-1e-6, -2e-6, 0.0])] * 4
    )


def test_embedding_drift_small_drift_nonzero(spark):
    sdf = spark.createDataFrame(
        _small_drift_rows(), "label string, embedding array<double>")
    out = embedding_drift(sdf, key_col="label").orderBy("label").collect()
    # sum d2 = 1e-12 + 4e-12 = 5e-12 (exact decimal);
    # sqrt = 2.2360…e-6 → 6-dp round → 0.000002 for both labels.
    assert [r["label"] for r in out] == ["a", "b"]
    assert [r["n_vecs"] for r in out] == [4, 4]
    assert [r["drift_l2"] for r in out] == [2e-6, 2e-6]


def test_embedding_drift_small_drift_matches_oracle(spark):
    import __spark_entry__ as entry

    rows = _small_drift_rows()
    sdf = spark.createDataFrame(
        rows, "label string, embedding array<double>")
    spark_out = (
        embedding_drift(sdf, key_col="label").orderBy("label").toPandas())

    con = duckdb.connect()
    try:
        con.register(
            "embeddings", pd.DataFrame(rows, columns=["label", "embedding"]))
        oracle_out = con.execute(
            entry.oracle_sql()["q150_embedding_drift"]).df()
    finally:
        con.close()

    assert list(spark_out["label"]) == list(oracle_out["label"])
    assert list(spark_out["n_vecs"]) == list(oracle_out["n_vecs"])
    assert list(spark_out["drift_l2"]) == list(oracle_out["drift_l2"])
    assert all(v != 0.0 for v in spark_out["drift_l2"])


def test_weighted_median_histogram_value_concentrated(spark):
    """ADVICE r11 (low): the histogram path's round count assumes
    value-domain bisection sheds rows ~n_buckets-fold per round; a
    distribution with many distinct values packed into a narrow slice
    of the range violates that. The safety round plus the bounded
    final fold must still produce the exact collect-path answer."""
    import random

    rng = random.Random(1207)
    rows = []
    # 4000 distinct-ish values inside [100.0, 100.0 + 1e-4] — the
    # whole mass in 1e-7 of the value range spanned by the outliers.
    rows += [("g", 100.0 + rng.random() * 1e-4, float(rng.randrange(1, 9)))
             for _ in range(4000)]
    rows += [("g", 0.0, 1.0), ("g", 1000.0, 1.0)]  # stretch the range
    # a second, tiny group keeps the multi-group bookkeeping honest
    rows += [("h", 5.0, 2.0), ("h", 7.0, 1.0)]
    df = spark.createDataFrame(rows, ["k", "v", "w"])
    a = sorted(tuple(r) for r in
               weighted_median(df, "v", "w", "k").collect())
    b = sorted(tuple(r) for r in
               weighted_median(df, "v", "w", "k", collect_small=False,
                               n_estimate=5000, n_buckets=8,
                               band_target=50).collect())
    assert a == b


# -- SemDeDup-class semantic dedup (VERDICT r11 item 4) -----------------------
#
# semantic_dedup (IVF clusters) is rows-only by design (float-iterative
# k-means has no cross-engine hash oracle); these tests pin the
# properties that make the rows-only declaration honest — seeded
# determinism, threshold monotonicity, the greedy chain semantics —
# and that q151's hash-cluster twin runs the IDENTICAL prune
# arithmetic (same kept set under equal cluster assignments).


def _toy_vectors(spark):
    # Three near-dup groups + two singletons, 4-dim. Cosines within a
    # group > 0.99; across groups < 0.9.
    rows = [
        (0, [1.0, 0.0, 0.0, 0.01]),
        (1, [1.0, 0.0, 0.0, 0.02]),   # ~ dup of 0
        (2, [0.0, 1.0, 0.0, 0.01]),
        (3, [0.0, 1.0, 0.0, 0.03]),   # ~ dup of 2
        (4, [0.0, 0.0, 1.0, 0.0]),    # singleton
        (5, [0.5, 0.5, 0.5, 0.5]),    # singleton
    ]
    return spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>")


def test_semantic_dedup_deterministic(spark):
    from puregraphdb_spark.operators.similarity import semantic_dedup

    corpus = _toy_vectors(spark)
    a = semantic_dedup(corpus, threshold=0.99, k=2, iters=2,
                       dim=4).orderBy("vec_id").toPandas()
    b = semantic_dedup(corpus, threshold=0.99, k=2, iters=2,
                       dim=4).orderBy("vec_id").toPandas()
    pd.testing.assert_frame_equal(a, b)  # cluster membership + kept
    # exactly one representative survives per near-dup group
    kept = set(a[a.kept == 1].vec_id)
    assert len(kept & {0, 1}) == 1 and len(kept & {2, 3}) == 1
    assert {4, 5} <= kept


def test_semantic_prune_threshold_monotonicity(spark):
    from puregraphdb_spark.operators.similarity import hash_semantic_dedup

    corpus = _toy_vectors(spark)
    kept_at = {}
    for t in (0.5, 0.9, 0.999):
        out = hash_semantic_dedup(corpus, threshold=t,
                                  n_clusters=1).toPandas()
        kept_at[t] = set(out[out.kept == 1].vec_id)
    # raising the threshold only ever KEEPS more (fewer pairs qualify)
    assert kept_at[0.5] <= kept_at[0.9] <= kept_at[0.999]


def test_semantic_prune_greedy_chain(spark):
    # u1~u2 and u2~u3 above threshold but u1!~u3: the single-pass
    # greedy drops BOTH u2 and u3 (each has an earlier above-threshold
    # neighbor) — the documented approximation of per-group argmin.
    from puregraphdb_spark.functions.vector import cosine_similarity as _  # noqa: F401
    from puregraphdb_spark.operators.similarity import semantic_prune
    from pyspark.sql import functions as F

    import math
    # unit vectors at angles 0, 25, 50 degrees: cos(25°)≈0.906 pairs
    # adjacent; cos(50°)≈0.643 does not pair the endpoints at t=0.9
    def vec(deg):
        r = math.radians(deg)
        return [math.cos(r), math.sin(r)]

    rows = [(0, vec(0)), (1, vec(25)), (2, vec(50))]
    scored = spark.createDataFrame(
        rows, "vec_id bigint, emb array<double>"
    ).select(
        F.col("vec_id").alias("__vid"), F.lit(0).alias("cluster"),
        "emb", F.lit(1.0).alias("nrm"),
        # csim ordered by id so the keep order is 0, 1, 2
        (F.col("vec_id") * 0.1).alias("csim"),
    )
    out = semantic_prune(scored, threshold=0.9).orderBy("vec_id").toPandas()
    assert out.kept.tolist() == [1, 0, 0]
    assert out.n_earlier_dups.tolist() == [0, 1, 1]


def test_semantic_prune_error_names_callers_id_col(spark):
    # a frame that skipped the scoring step has no internal id column;
    # the error must name the caller's id_col, not the internal one
    import pytest

    from puregraphdb_spark.operators.similarity import semantic_prune

    raw = spark.createDataFrame(
        [(1, 0, [1.0, 0.0])], "doc_id bigint, cluster int, emb array<double>")
    with pytest.raises(TypeError, match="got doc_id: missing"):
        semantic_prune(raw, id_col="doc_id")


def test_hash_and_ivf_prune_agree_under_equal_clusters(spark):
    # With ONE cluster both paths score against the same mean centroid
    # (k-means with k=1 converges to the mean in one step), so the
    # kept sets must coincide — the twin really runs the same
    # arithmetic q151 oracles.
    from puregraphdb_spark.operators.similarity import (
        hash_semantic_dedup, semantic_dedup)

    corpus = _toy_vectors(spark)
    h = hash_semantic_dedup(corpus, threshold=0.99, n_clusters=1).toPandas()
    s = semantic_dedup(corpus, threshold=0.99, k=1, iters=1,
                       dim=4).toPandas()
    assert (set(h[h.kept == 1].vec_id)
            == set(s[s.kept == 1].vec_id))


def test_semantic_dedup_call_doors(spark):
    from puregraphdb_spark.engine import Engine
    from tests.conftest import SF_DIR

    eng = Engine(spark, SF_DIR)
    out = eng.sql(
        "CALL hash_semantic_dedup(embeddings => 'embeddings', "
        "threshold => 0.3, n_clusters => 16)")
    assert set(out.columns) == {
        "vec_id", "cluster", "centroid_sim", "n_earlier_dups", "kept"}
    n = out.count()
    assert n == eng.sql(
        "CALL semantic_dedup(embeddings => 'embeddings', "
        "threshold => 0.35, k => 4, iters => 1, dim => 64)").count()
    assert n > 0


# -- q152 tokenizer fertility / q153 provenance dedup -------------------------


def test_tokenizer_fertility_counts(spark):
    from puregraphdb_spark.operators.pipeline import tokenizer_fertility

    docs = spark.createDataFrame(
        [("a", "hello world v1.2 ok!"),   # words 4; tokens: hello,
         #  world, v, 1, ., 2, ok, ! = 8
         ("a", "plain words only"),       # words 3; tokens 3
         ("b", "x=1")],                   # words 1; tokens x,=,1 = 3
        "source string, text string")
    out = {r.source: r for r in tokenizer_fertility(docs).collect()}
    assert out["a"].total_words == 7 and out["a"].total_tokens == 11
    assert out["b"].total_words == 1 and out["b"].total_tokens == 3
    assert out["b"].tokens_per_word == 3.0


def test_provenance_dedup_mirror_semantics(spark):
    from puregraphdb_spark.operators.pipeline import (
        provenance_dedup_report)

    docs = spark.createDataFrame(
        [("d1", "same text"), ("d1", "same text"),   # within-domain dup
         ("d2", "same text"),                        # cross-domain mirror
         ("d2", "unique two"), ("d3", "unique three")],
        "domain string, text string")
    out = {r.domain: r for r in provenance_dedup_report(docs).collect()}
    # d1: 2 docs, 1 unique, 1 removable, that hash also in d2 -> mirrored
    assert (out["d1"].n_docs, out["d1"].n_unique,
            out["d1"].n_removable, out["d1"].n_mirrored) == (2, 1, 1, 1)
    assert out["d2"].n_mirrored == 1 and out["d2"].n_unique == 2
    assert out["d3"].n_mirrored == 0
    assert out["d2"].mirror_ratio == 0.5


def test_fertility_and_provenance_call_doors(spark):
    from puregraphdb_spark.engine import Engine
    from tests.conftest import SF_DIR

    eng = Engine(spark, SF_DIR)
    f = eng.sql("CALL tokenizer_fertility(docs => 'documents')")
    assert "tokens_per_word" in f.columns and f.count() > 0
    spark.createDataFrame(
        [("d1", "dup"), ("d2", "dup")], "domain string, text string"
    ).createOrReplaceTempView("prov_docs")
    p = eng.sql("CALL provenance_dedup(docs => 'prov_docs')")
    assert p.filter("n_mirrored = 1").count() == 2


def test_apply_semantic_dedup_prunes_and_keeps_schema(spark):
    from puregraphdb_spark.operators.similarity import (
        apply_semantic_dedup, semantic_dedup)

    corpus = _toy_vectors(spark)
    out = apply_semantic_dedup(corpus, threshold=0.99, k=2, iters=2,
                               dim=4)
    assert out.columns == corpus.columns  # original schema
    rep = semantic_dedup(corpus, threshold=0.99, k=2, iters=2,
                         dim=4).toPandas()
    assert (set(r.vec_id for r in out.collect())
            == set(rep[rep.kept == 1].vec_id))


def test_semantic_prune_matches_bruteforce_hypothesis(spark):
    # Property: a vector is dropped iff SOME earlier vector in the
    # (csim asc, id asc) cluster order is within the cosine threshold
    # — pinned against a brute-force numpy reimplementation over
    # random small corpora (the strongest available check for the
    # rows-only semantic_dedup declaration).
    import numpy as np
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from puregraphdb_spark.operators.similarity import hash_semantic_dedup

    @settings(max_examples=8, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    @given(seed=st.integers(min_value=0, max_value=10_000),
           n=st.integers(min_value=2, max_value=14),
           t=st.sampled_from([0.2, 0.5, 0.9]))
    def run(seed, n, t):
        rng = np.random.default_rng(seed)
        vecs = rng.standard_normal((n, 4))
        corpus = spark.createDataFrame(
            [(i, [float(x) for x in vecs[i]]) for i in range(n)],
            "vec_id bigint, embedding array<double>")
        got = {r.vec_id: (r.kept, r.n_earlier_dups)
               for r in hash_semantic_dedup(
                   corpus, threshold=t, n_clusters=2).collect()}
        # brute force per hash cluster
        for cl in (0, 1):
            ids = [i for i in range(n) if i % 2 == cl]
            if not ids:
                continue
            cent = vecs[ids].mean(axis=0)
            cent = np.round(cent, 6)  # the 6-dp centroid snap
            def cs(a, b):
                return float(a @ b / (np.linalg.norm(a)
                                      * np.linalg.norm(b)))
            order = sorted(ids, key=lambda i: (cs(vecs[i], cent), i))
            for pos, i in enumerate(order):
                nd = sum(
                    1 for j in order[:pos]
                    if cs(vecs[i], vecs[j]) >= t)
                assert got[i][1] == nd, (seed, n, t, i)
                assert got[i][0] == (1 if nd == 0 else 0)

    run()


def test_q153_single_corpus_scan(spark):
    """r12: the per-hash domain count rides a window over the
    already-aggregated (domain, hash) relation, so the scan+md5+groupBy
    lineage exists ONCE — exactly one documents scan in the executed
    plan (the agg+self-join shape executed it twice)."""
    import __spark_entry__ as entrymod
    from tests.conftest import SF_DIR

    df = entrymod.queries()["q153_provenance_dedup"](spark, SF_DIR)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("FileScan") == 1, plan


# ------------------------------------------------ q154 BM25 (rational idf)


def test_bm25_ranks_matching_docs_first(spark):
    from puregraphdb_spark.operators.llm import bm25_topk

    docs = spark.createDataFrame(
        [(0, "spark join fast spark"),      # 2x spark + both others
         (1, "spark slow table"),           # one query token
         (2, "nothing relevant here"),      # zero -> score 0
         (3, "join join join join join")],  # high tf, one token
        "doc_id bigint, text string")
    out = bm25_topk(docs, ["spark", "join"], k=4).collect()
    ranks = {r.doc_id: r.rank for r in out}
    scores = {r.doc_id: r.score for r in out}
    assert ranks[0] == 1                  # both tokens, highest score
    assert scores[2] == 0.0               # no query token -> 0
    # tf saturation: five 'join's score less than 5x one 'join'
    one_join = [r for r in out if r.doc_id == 1][0]
    assert scores[3] < 5 * scores[0]
    assert one_join.tf_0 == 1 and one_join.tf_1 == 0


def test_bm25_call_door(spark):
    from puregraphdb_spark.engine import Engine
    from tests.conftest import SF_DIR

    eng = Engine(spark, SF_DIR)
    out = eng.sql("CALL bm25_topk(docs => 'documents', "
                  "query => 'spark join', k => 5)")
    assert out.count() == 5
    rows = out.orderBy("rank").collect()
    assert [r.rank for r in rows] == [1, 2, 3, 4, 5]
    assert all(rows[i].score >= rows[i + 1].score for i in range(4))


# ----------------------------------------------- q155 profile drift


def test_profile_drift_detects_keyspace_collapse(spark):
    from puregraphdb_spark.operators.profile import profile_drift

    rows = ([("a", i, f"k{i}") for i in range(10)]          # 10 distinct
            + [("b", i, "k0") for i in range(10)]           # collapsed
            + [("b", None, None)])                          # new nulls
    df = spark.createDataFrame(rows, "batch string, v bigint, k string")
    out = {r.col_name: r for r in profile_drift(
        df, "batch", ["v", "k"]).collect()}
    assert out["k"].n_distinct_a == 10 and out["k"].n_distinct_b == 1
    assert out["k"].distinct_ratio == 0.1
    assert out["k"].n_nulls_b == 1 and out["k"].n_nulls_a == 0
    assert out["v"].rows_ratio == 1.1                       # 11/10


def test_profile_drift_call_door(spark):
    from puregraphdb_spark.engine import Engine
    from tests.conftest import SF_DIR

    eng = Engine(spark, SF_DIR)
    spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", 1), ("b", 1)],
        "batch string, x bigint").createOrReplaceTempView("pd_t")
    out = eng.sql("CALL profile_drift(table => 'pd_t', "
                  "batch_col => 'batch', columns => 'x')").collect()
    assert len(out) == 1 and out[0].n_distinct_a == 2
    assert out[0].n_distinct_b == 1


def test_q155_single_events_scan(spark):
    """r12: the a/b align folds each column's two batch rows into one
    sorted struct array, so prof has ONE consumer — exactly one events
    FileScan in the executed plan (a filter pair or labels aggregate
    would re-run the profile pass per consumer)."""
    import __spark_entry__ as entrymod
    from tests.conftest import SF_DIR

    df = entrymod.queries()["q155_profile_drift"](spark, SF_DIR)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("FileScan") == 1, plan


# ------------------------------------------- entity_resolution (end-to-end)


def test_entity_resolution_transitive_clusters(spark):
    from puregraphdb_spark.operators.similarity import entity_resolution

    # block 'x': ana ~ anna ~ annna chain (transitive closure joins
    # all three); bob matches nothing; block 'y': carl ~ karl.
    df = spark.createDataFrame(
        [(1, "ana", "x"), (2, "anna", "x"), (3, "annna", "x"),
         (4, "bob", "x"), (5, "carl", "y"), (6, "karl", "y")],
        "rid bigint, name string, blk string")
    out = {r.rid: r for r in entity_resolution(
        df, "rid", "name", ["blk"], max_distance=1).collect()}
    assert len(out) == 6                       # one row per input record
    assert (out[1].entity_id == out[2].entity_id
            == out[3].entity_id == 1)          # transitive chain, min id
    assert out[4].entity_id == 4 and out[4].cluster_size == 1
    assert out[5].entity_id == out[6].entity_id == 5
    assert [out[i].is_survivor for i in (1, 2, 3, 4, 5, 6)] \
        == [1, 0, 0, 1, 1, 0]


def test_entity_resolution_call_door(spark):
    from puregraphdb_spark.engine import Engine
    from tests.conftest import SF_DIR

    eng = Engine(spark, SF_DIR)
    spark.createDataFrame(
        [(1, "acme corp", "us"), (2, "acme korp", "us"),
         (3, "other", "us")],
        "rid bigint, name string, country string",
    ).createOrReplaceTempView("er_t")
    out = eng.sql(
        "CALL entity_resolution(table => 'er_t', id_col => 'rid', "
        "text_col => 'name', block_cols => 'country', "
        "max_distance => 1)").collect()
    ent = {r.rid: r.entity_id for r in out}
    assert ent[1] == ent[2] == 1 and ent[3] == 3


# ------------------------------------------ q156 keep-longest survivorship


def test_dedup_keepers_keeps_longest(spark):
    from puregraphdb_spark.operators.pipeline import dedup_keepers

    docs = spark.createDataFrame(
        [(1, "Hello, world!"),            # canon 'hello world', 2 toks
         (2, "hello !! world ?? .."),     # same canon, 5 raw tokens
         (3, "hello world"),              # same canon, 2 toks
         (4, "unique text here")],        # singleton -> excluded
        "doc_id bigint, text string")
    out = {r.doc_id: r for r in dedup_keepers(docs).collect()}
    assert set(out) == {1, 2, 3}          # singleton filtered out
    assert out[2].kept == 1               # most raw tokens wins
    assert out[1].kept == 0 and out[3].kept == 0
    assert all(out[i].cluster_size == 3 for i in (1, 2, 3))


def test_dedup_keepers_ties_to_min_id_and_call_door(spark):
    from puregraphdb_spark.engine import Engine
    from tests.conftest import SF_DIR

    eng = Engine(spark, SF_DIR)
    spark.createDataFrame(
        [(9, "same text"), (5, "same text")],
        "doc_id bigint, text string").createOrReplaceTempView("dk_t")
    out = {r.doc_id: r.kept for r in eng.sql(
        "CALL dedup_keepers(docs => 'dk_t')").collect()}
    assert out == {5: 1, 9: 0}            # equal lengths: min id kept


# ----------------------------------------- q157 shingle compressibility


def test_shingle_compressibility_bounds_and_door(spark):
    from puregraphdb_spark.engine import Engine
    from puregraphdb_spark.operators.pipeline import (
        shingle_compressibility)
    from tests.conftest import SF_DIR

    boiler = " ".join(f"w{i}" for i in range(10))
    docs = spark.createDataFrame(
        [("a", boiler), ("a", boiler),                 # pure repeat
         ("b", " ".join(f"u{i}" for i in range(10))),  # all unique
         ("b", "too short")],                          # < k, excluded
        "source string, text string")
    out = {r.source: r for r in shingle_compressibility(
        docs, k=8).collect()}
    # a: 2 docs x 3 shingles, 3 distinct -> ratio 0.5
    assert out["a"].total_shingles == 6
    assert out["a"].distinct_shingles == 3
    assert out["a"].dup_shingle_ratio == 0.5
    assert out["b"].total_shingles == 3          # short doc excluded
    assert out["b"].dup_shingle_ratio == 0.0
    eng = Engine(spark, SF_DIR)
    d = eng.sql("CALL shingle_compressibility(docs => 'documents', "
                "k => 8)")
    assert d.count() > 0 and "dup_shingle_ratio" in d.columns


# ------------------- brute-force Hypothesis pins for the new oracled ops


def test_bm25_matches_bruteforce_hypothesis(spark):
    # Pin bm25_topk's scores and ranking against a pure-python BM25
    # reimplementation over random small corpora.
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from puregraphdb_spark.operators.llm import bm25_topk

    VOCAB = ["a", "b", "c", "d"]

    @settings(max_examples=8, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    @given(docs=st.lists(
        st.lists(st.sampled_from(VOCAB), min_size=1, max_size=8),
        min_size=1, max_size=10))
    def run(docs):
        rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
        sdf = spark.createDataFrame(rows, "doc_id bigint, text string")
        got = {r.doc_id: r for r in bm25_topk(
            sdf, ["a", "b"], k=len(docs)).collect()}
        n = len(docs)
        avgdl = sum(len(t) for t in docs) / n
        k1, b = 1.2, 0.75
        for i, toks in enumerate(docs):
            want = 0.0
            for q in ("a", "b"):
                tf = toks.count(q)
                df = sum(1 for t in docs if q in t)
                idf = (n - df + 0.5) / (df + 0.5)
                den = tf + k1 * (1 - b + b * len(toks) / avgdl)
                want += idf * (tf * (k1 + 1.0)) / den
            assert abs(got[i].score - want) < 5e-6, (docs, i)
            assert got[i].dl == len(toks)

    run()


def test_provenance_dedup_matches_pandas_hypothesis(spark):
    # Pin the per-domain mirror/removable arithmetic against a pandas
    # groupby reimplementation over random (domain, text) corpora.
    import pandas as pd  # noqa: F811
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from puregraphdb_spark.operators.pipeline import (
        provenance_dedup_report)

    @settings(max_examples=8, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    @given(rows=st.lists(
        st.tuples(st.sampled_from(["d1", "d2", "d3"]),
                  st.sampled_from(["t one", "t two", "t three"])),
        min_size=1, max_size=20))
    def run(rows):
        sdf = spark.createDataFrame(rows, "domain string, text string")
        got = {r.domain: r for r in provenance_dedup_report(
            sdf).collect()}
        pdf = pd.DataFrame(rows, columns=["domain", "text"])
        per = (pdf.groupby(["domain", "text"]).size()
               .reset_index(name="c"))
        nd = per.groupby("text").size().rename("nd")
        per = per.join(nd, on="text")
        for dom, grp in per.groupby("domain"):
            r = got[dom]
            assert r.n_docs == int(grp.c.sum())
            assert r.n_unique == len(grp)
            assert r.n_removable == int(grp.c.sum()) - len(grp)
            assert r.n_mirrored == int((grp.nd >= 2).sum())

    run()


# --------------------------------- edge cases for the round-12 operators


def test_profile_drift_single_batch_yields_no_rows(spark):
    # a monitor comparing a batch to itself would read as "no drift";
    # with one batch the report is EMPTY until the second batch lands
    from puregraphdb_spark.operators.profile import profile_drift

    df = spark.createDataFrame(
        [("a", 1), ("a", 2)], "batch string, x bigint")
    assert profile_drift(df, "batch", ["x"]).count() == 0


def test_entity_resolution_no_matches_all_singletons(spark):
    from puregraphdb_spark.operators.similarity import entity_resolution

    df = spark.createDataFrame(
        [(1, "alpha", "x"), (2, "zzzzzz", "x")],
        "rid bigint, name string, blk string")
    out = {r.rid: r for r in entity_resolution(
        df, "rid", "name", ["blk"], max_distance=1).collect()}
    assert all(out[i].entity_id == i and out[i].is_survivor == 1
               and out[i].cluster_size == 1 for i in (1, 2))


def test_semantic_dedup_fewer_vectors_than_k(spark):
    from puregraphdb_spark.operators.similarity import semantic_dedup

    corpus = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])],
        "vec_id bigint, embedding array<double>")
    out = semantic_dedup(corpus, threshold=0.99, k=8, iters=1,
                         dim=2).collect()
    assert len(out) == 2 and all(r.kept == 1 for r in out)


def test_bm25_query_token_absent_from_corpus(spark):
    # df = 0: rational idf = (N+0.5)/0.5 and tf = 0 everywhere ->
    # the absent token contributes exactly 0, no NaN/null
    from puregraphdb_spark.operators.llm import bm25_topk

    docs = spark.createDataFrame(
        [(0, "a b"), (1, "b c")], "doc_id bigint, text string")
    out = bm25_topk(docs, ["zzz", "b"], k=2).collect()
    assert len(out) == 2
    assert all(r.score is not None and r.score > 0 for r in out)


def test_dedup_keepers_no_dups_empty(spark):
    from puregraphdb_spark.operators.pipeline import dedup_keepers

    docs = spark.createDataFrame(
        [(1, "one text"), (2, "two text")],
        "doc_id bigint, text string")
    assert dedup_keepers(docs).count() == 0


def test_shingle_compressibility_all_short_docs_empty(spark):
    from puregraphdb_spark.operators.pipeline import (
        shingle_compressibility)

    docs = spark.createDataFrame(
        [("a", "too short"), ("b", "also short")],
        "source string, text string")
    assert shingle_compressibility(docs, k=8).count() == 0


def test_tokenizer_fertility_invariants_hypothesis(spark):
    # tokens >= words for ANY text (every whitespace word decomposes
    # into at least one regex token), and totals match a pure-python
    # reimplementation of the same tokenizers.
    import re as _re

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from puregraphdb_spark.operators.pipeline import tokenizer_fertility

    TXT = st.text(
        alphabet="abc01 .,!?-", min_size=1, max_size=40).filter(
        lambda s: s.strip() != "")

    @settings(max_examples=10, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    @given(texts=st.lists(TXT, min_size=1, max_size=6))
    def run(texts):
        docs = spark.createDataFrame(
            [("s", t) for t in texts], "source string, text string")
        r = tokenizer_fertility(docs).collect()[0]
        words = sum(len([w for w in t.lower().split(" ") if w])
                    for t in texts)
        toks = sum(len(_re.findall(r"[a-z]+|[0-9]+|[^a-z0-9\s]",
                                   t.lower())) for t in texts)
        assert r.total_words == words and r.total_tokens == toks
        assert r.total_tokens >= r.total_words

    run()


# -------------------------------------------- temporal reachability


def test_temporal_reach_respects_time_ordering(spark):
    from puregraphdb_spark.operators.graph import temporal_reach

    # A->B at t=5; B->C at t=3 (decreasing: C unreachable from A);
    # B->D at t=7 (valid continuation). E isolated.
    edges = spark.createDataFrame(
        [(1, 2, 5.0), (2, 3, 3.0), (2, 4, 7.0)],
        "src bigint, dst bigint, ts double")
    src = spark.createDataFrame([(1,)], "id bigint")
    got = {r.id: r.arrival for r in temporal_reach(
        edges, src, k=3).collect()}
    assert got == {2: 5.0, 4: 7.0}          # 3 is NOT time-reachable
    # (a static BFS over the same edges WOULD reach 3 via 1->2->3 —
    # the overstated reach this operator exists to correct)


def test_temporal_reach_earliest_arrival_label_correcting(spark):
    from puregraphdb_spark.operators.graph import temporal_reach

    # Two journeys to C: direct at t=9, and 2-hop A->B(t=1)->C(t=2).
    # Earliest arrival must be 2 even though the direct edge exists.
    edges = spark.createDataFrame(
        [(1, 3, 9.0), (1, 2, 1.0), (2, 3, 2.0)],
        "src bigint, dst bigint, ts double")
    src = spark.createDataFrame([(1,)], "id bigint")
    got = {r.id: r.arrival for r in temporal_reach(
        edges, src, k=3).collect()}
    assert got[3] == 2.0 and got[2] == 1.0


def test_temporal_reach_source_stays_unconstrained_round_one(spark):
    from puregraphdb_spark.operators.graph import temporal_reach

    # source re-reached by a cycle keeps expanding correctly: the
    # unconstrained round-1 expansion already delivered every
    # first-hop message, so a later arrival on the source loses
    # nothing (documented merge semantics).
    edges = spark.createDataFrame(
        [(1, 2, 5.0), (2, 1, 6.0), (1, 4, 1.0)],
        "src bigint, dst bigint, ts double")
    src = spark.createDataFrame([(1,)], "id bigint")
    got = {r.id: r.arrival for r in temporal_reach(
        edges, src, k=4).collect()}
    assert got[4] == 1.0                    # early edge still taken
    assert got[1] == 6.0                    # source re-reached via cycle


def test_temporal_reach_call_door(spark):
    from puregraphdb_spark.engine import Engine
    from tests.conftest import SF_DIR

    eng = Engine(spark, SF_DIR)
    spark.createDataFrame(
        [(1, 2, 5.0), (2, 3, 3.0)],
        "src bigint, dst bigint, ts double"
    ).createOrReplaceTempView("tr_edges")
    spark.createDataFrame([(1,)], "id bigint") \
        .createOrReplaceTempView("tr_src")
    got = {r.id: r.arrival for r in eng.sql(
        "CALL temporal_reach(edges => 'tr_edges', "
        "sources => 'tr_src', k => 3)").collect()}
    assert got == {2: 5.0}
