"""CALL door ≡ Python door for the procedures no other test calls.

Each case runs one procedure through ``Engine.sql`` with its CALL
defaults and compares the result with the direct operator call, the
defaults spelled out. A procedure whose view names, argument names,
defaults or coercions drift from the operator's fails here.
"""

from __future__ import annotations

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from puregraphdb_spark.engine import Engine
from tests.conftest import SF_DIR, assert_frames_match

_EDGES = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 6), (6, 4), (4, 6),
          (7, 8), (8, 9), (9, 7), (7, 10), (2, 2)]

_CONF = {"spark.sql.adaptive.enabled": "false",
         "spark.sql.shuffle.partitions": "4"}


@pytest.fixture(scope="module")
def eng(spark):
    from puregraphdb_spark.operators.multimodal import synthetic_assets

    eng = Engine(spark, SF_DIR)  # registers the fixture views
    # kilobyte inputs: a few fixed shuffle partitions, no AQE re-planning
    saved = {k: spark.conf.get(k) for k in _CONF}
    for k, v in _CONF.items():
        spark.conf.set(k, v)
    spark.createDataFrame(_EDGES, "src long, dst long") \
        .createOrReplaceTempView("cp_edges")
    synthetic_assets(spark, 24).createOrReplaceTempView("cp_assets")
    spark.table("embeddings").filter(F.col("vec_id") < 4) \
        .createOrReplaceTempView("cp_queries")
    # smaller inputs for the loop-heavy dedup procedures
    spark.table("embeddings").filter(F.col("vec_id") < 64) \
        .createOrReplaceTempView("cp_vecs")
    spark.table("documents").filter(F.col("doc_id") < 120) \
        .createOrReplaceTempView("cp_docs")
    spark.table("documents").filter(F.col("doc_id") % 7 == 0).select(
        F.when(F.col("doc_id") % 2 == 0, "even").otherwise("odd")
        .alias("bench"), "text",
    ).createOrReplaceTempView("benchmarks")
    ev = spark.table("events")
    ev.filter(F.col("event_type") == "purchase") \
        .createOrReplaceTempView("cp_purchases")
    ev.filter(F.col("event_type") == "click") \
        .createOrReplaceTempView("cp_clicks")
    yield eng
    for v in ("cp_edges", "cp_assets", "cp_queries", "cp_vecs", "cp_docs",
              "benchmarks", "cp_purchases", "cp_clicks"):
        spark.catalog.dropTempView(v)
    for k, v in saved.items():
        spark.conf.set(k, v)


def _graph(spark):
    from puregraphdb_spark.operators.graph import Graph

    e = spark.table("cp_edges")
    v = (e.select(F.col("src").alias("id"))
         .unionByName(e.select(F.col("dst").alias("id"))).distinct())
    return Graph(v, e)


def _knn_ivf_pq(spark):
    from puregraphdb_spark.operators import similarity as s

    q, c = spark.table("cp_queries"), spark.table("embeddings")
    cents = s.kmeans_centroids(c, k=8, iters=2, dim=64,
                               emb_col="embedding")
    books = s.pq_train(c, dim=64, m=2, k_codes=16, iters=2,
                       emb_col="embedding", id_col="vec_id")
    codes = s.pq_quantize(c.select("vec_id", "embedding"), books,
                          emb_col="embedding")
    return s.ivf_pq_topk(q, codes, cents, books, k=10, nprobe=2,
                         id_col="vec_id", emb_col="embedding")


def _bpe(spark, then):
    from puregraphdb_spark.operators import bpe

    d = spark.table("documents")
    merges = bpe.bpe_train(d, num_merges=50, text_col="text")
    return getattr(bpe, then)(d, merges, text_col="text", id_col="doc_id")


def _op(module: str, fn: str, views: str | tuple, *args, **kw):
    """Direct call of ``puregraphdb_spark.<module>.<fn>`` on the named
    views, then ``args``, the keyword arguments spelled out."""
    import importlib

    def run(spark):
        mod = importlib.import_module(f"puregraphdb_spark.{module}")
        dfs = [spark.table(v) for v in
               ((views,) if isinstance(views, str) else views)]
        return getattr(mod, fn)(*dfs, *args, **kw)
    return run


_DOC = dict(id_col="doc_id", text_col="text")
_VEC = dict(id_col="vec_id", emb_col="embedding")

CASES = {
    "connected_components": (
        "CALL connected_components(edges => 'cp_edges')",
        lambda s: _graph(s).connected_components(max_iter=50)),
    "coreness": (
        "CALL coreness(edges => 'cp_edges')",
        lambda s: _graph(s).coreness()),
    "label_propagation": (
        "CALL label_propagation(edges => 'cp_edges')",
        lambda s: _graph(s).label_propagation(max_iter=5)),
    "degrees": (
        "CALL degrees(edges => 'cp_edges')",
        lambda s: _graph(s).degrees()),
    "simhash_near_dup": (
        "CALL simhash_near_dup(docs => 'cp_docs')",
        _op("operators.similarity", "simhash_near_dup_pairs", "cp_docs",
            bits=64, max_hamming=3, **_DOC)),
    "dedup_minhash": (
        "CALL dedup_minhash(docs => 'cp_docs')",
        _op("operators.similarity", "dedup_minhash", "cp_docs",
            num_hashes=64, bands=16, jaccard_threshold=0.5, **_DOC)),
    "apply_dedup": (
        "CALL apply_dedup(docs => 'cp_docs')",
        _op("operators.similarity", "apply_dedup", "cp_docs",
            num_hashes=64, bands=16, jaccard_threshold=0.5, **_DOC)),
    "audio_features": (
        "CALL audio_features(assets => 'cp_assets')",
        _op("operators.multimodal", "extract_audio_features", "cp_assets",
            feature_dim=16)),
    "embedding_near_dup": (
        "CALL embedding_near_dup()",
        _op("operators.similarity", "embedding_near_dup_pairs",
            "embeddings", threshold=0.95, dim=64, num_planes=10, **_VEC)),
    "ann_topk": (
        "CALL ann_topk(queries => 'cp_queries')",
        _op("operators.similarity", "ann_cosine_topk",
            ("cp_queries", "embeddings"), k=10, dim=64, num_planes=8,
            **_VEC)),
    "knn_ivf_pq": (
        # two subspaces, not eight: each trains its own k-means
        "CALL knn_ivf_pq(queries => 'cp_queries', m_subspaces => 2)",
        _knn_ivf_pq),
    "langid_kappa": (
        "CALL langid_kappa()",
        _op("operators.pipeline", "langid_kappa", "documents",
            source_col="source", lang_col="lang", text_col="text")),
    "mann_whitney": (
        "CALL mann_whitney()",
        _op("operators.extras", "mann_whitney_u", "events",
            ref_type="purchase", type_col="event_type", val_col="value")),
    "spearman": (
        "CALL spearman(table => 'events', group_col => 'event_type', "
        "x_col => 'user_id', y_col => 'value')",
        _op("operators.extras", "spearman_corr", "events",
            "event_type", "user_id", "value")),
    "ks_statistic": (
        "CALL ks_statistic(events => 'events')",
        _op("operators.extras", "ks_statistic", "events",
            ref_type="purchase", type_col="event_type", val_col="value")),
    "benford": (
        "CALL benford(table => 'orders', val_col => 'o_totalprice')",
        _op("operators.profile", "benford_profile", "orders",
            "o_totalprice", scale=2)),
    "bpe_train": (
        "CALL bpe_train()",
        _op("operators.bpe", "bpe_train", "documents", num_merges=50,
            text_col="text", max_vocab=200_000)),
    "bpe_tokenize": (
        "CALL bpe_tokenize()", lambda s: _bpe(s, "bpe_apply")),
    "bpe_fertility": (
        "CALL bpe_fertility()", lambda s: _bpe(s, "bpe_fertility_report")),
    "text_profile": (
        "CALL text_profile()",
        _op("operators.text", "profile_documents", "documents",
            text_col="text")),
    "quality_report": (
        "CALL quality_report()",
        _op("operators.text", "corpus_quality_report", "documents",
            text_col="text")),
    "interval_join": (
        "CALL interval_join(left => 'cp_purchases', right => 'cp_clicks')",
        _op("streaming.joins", "interval_join",
            ("cp_purchases", "cp_clicks"), on="user_id", left_ts="ts",
            right_ts="ts", before="1 hour", after="0 seconds")),
    "hhi": (
        "CALL hhi(table => 'orders', group_col => 'o_orderstatus', "
        "key_col => 'o_custkey', amount_col => 'o_totalprice')",
        lambda s: _op("operators.extras", "hhi_concentration", "orders",
                      "o_orderstatus", "o_custkey",
                      F.col("o_totalprice"))(s)),
    "dup_cluster_histogram": (
        "CALL dup_cluster_histogram()",
        _op("operators.pipeline", "dup_cluster_histogram", "documents",
            **_DOC)),
    "approx_quantiles": (
        "CALL approx_quantiles(table => 'events', value_col => 'value', "
        "group_col => 'event_type')",
        _op("operators.extras", "approx_quantiles_profile", "events",
            "value", "event_type", ps=(0.25, 0.5, 0.75, 0.95),
            accuracy=1000)),
    "funnel_latency": (
        "CALL funnel_latency()",
        _op("operators.events", "funnel_latency", "events",
            ["view", "click", "purchase"])),
    "chi_square": (
        "CALL chi_square(table => 'documents', row_col => 'lang', "
        "col_col => 'source')",
        _op("operators.extras", "chi_square_contingency", "documents",
            "lang", "source")),
    "pii_scan": (
        "CALL pii_scan()",
        _op("operators.pii", "pii_scan", "documents", text_col="text",
            source_col="source")),
    "redact_pii": (
        "CALL redact_pii()",
        _op("operators.pii", "redact_pii", "documents", kinds=None,
            text_col="text")),
    "apply_substring_dedup": (
        "CALL apply_substring_dedup()",
        _op("operators.pipeline", "apply_substring_dedup", "documents",
            k=8, text_col="text")),
    "token_length_profile": (
        "CALL token_length_profile()",
        _op("operators.pipeline", "token_length_profile", "documents",
            source_col="source", text_col="text")),
    "benchmark_attribution": (
        "CALL benchmark_attribution()",
        _op("operators.text", "benchmark_attribution",
            ("documents", "benchmarks"), n=5)),
    "doc_stitching": (
        "CALL doc_stitching()",
        _op("operators.pipeline", "doc_stitching_report", "documents",
            k=3)),
    "embedding_drift": (
        "CALL embedding_drift()",
        _op("operators.pipeline", "embedding_drift", "embeddings",
            key_col="label", vec_col="embedding")),
    "apply_semantic_dedup": (
        "CALL apply_semantic_dedup(embeddings => 'cp_vecs')",
        _op("operators.similarity", "apply_semantic_dedup", "cp_vecs",
            threshold=0.85, k=16, iters=3, dim=64, **_VEC)),
    "source_overlap": (
        "CALL source_overlap()",
        _op("operators.pipeline", "source_overlap_matrix", "documents",
            source_col="source", text_col="text")),
    "image_near_dup": (
        "CALL image_near_dup(assets => 'cp_assets')",
        _op("operators.multimodal", "image_near_dup_pairs", "cp_assets",
            threshold=0.92, feature_dim=16, num_planes=8, seed=7)),
}


def _pandas(df: DataFrame):
    """toPandas with nested columns rendered as strings, so the frames
    sort and compare exactly."""
    nested = (T.ArrayType, T.MapType, T.StructType, T.BinaryType)
    return df.select([
        F.col(f.name).cast("string").alias(f.name)
        if isinstance(f.dataType, nested) else F.col(f.name)
        for f in df.schema.fields
    ]).toPandas()


@pytest.mark.parametrize("name", sorted(CASES))
def test_call_matches_operator(eng, spark, name):
    statement, direct = CASES[name]
    assert_frames_match(_pandas(eng.sql(statement)), _pandas(direct(spark)))
