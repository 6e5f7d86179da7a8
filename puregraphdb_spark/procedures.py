"""SQL-door procedures (SURVEY §7.5): CALL-style entry to the graph and
LLM-pipeline operators, so EP2 (SQL) users reach the same surface EP3
(graph API) and the Python operator modules expose.

Syntax — a minimal, explicit procedure call over registered temp views:

    CALL pagerank(edges => 'edge_view', max_iter => 10)
    CALL near_dup_pairs(docs => 'documents', jaccard_threshold => 0.5)

``Engine.sql`` intercepts ``CALL ...`` statements and dispatches here;
everything else goes to ``spark.sql`` untouched. Arguments are named
(``key => value``), values are SQL-ish literals: 'string', number,
true/false. View-typed parameters name registered temp views — the
procedure resolves them through the session catalog, so the inputs are
exactly what SQL users already query.

The procedures are one registry, ``PROCEDURES``. An entry names an
operator function or a ``Graph`` method, and a CALL's arguments are
bound to that operator's own signature: a ``DataFrame`` parameter takes
a view name, a ``Graph`` (or ``self``) parameter takes ``edges`` and an
optional ``vertices`` view, and scalars are coerced by their annotation
(``list[...]``/``tuple[...]`` from comma-separated strings; ``''`` is
None for an optional parameter). An entry records only where the CALL
door differs from the operator: renamed parameters and CALL-only
defaults. Procedures that compose several operators, or reshape their
result, are the annotated functions below, bound the same way.

This is deliberately NOT a Catalyst TVF: PySpark has no public
DataFrame-returning UDTF registration, and a parser-level dispatch
keeps the full DataFrame plan (lazy, optimizable) instead of forcing a
materialization boundary.
"""

from __future__ import annotations

import importlib
import inspect
import re
import types
import typing
from collections.abc import Callable
from typing import TYPE_CHECKING, NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

if TYPE_CHECKING:
    from puregraphdb_spark.operators.graph import Graph

_CALL_RE = re.compile(r"^\s*call\s+(\w+)\s*\((.*)\)\s*;?\s*$",
                      re.IGNORECASE | re.DOTALL)
_ARG_RE = re.compile(
    r"(\w+)\s*=>\s*('(?:[^']|'')*'|[-+]?\d+\.?\d*(?:[eE][-+]?\d+)?"
    r"|true|false)\s*(?:,|$)",
    re.IGNORECASE,
)


def is_call(query: str) -> bool:
    return _CALL_RE.match(query) is not None


def _parse_value(raw: str):
    if raw.startswith("'"):
        return raw[1:-1].replace("''", "'")
    low = raw.lower()
    if low in ("true", "false"):
        return low == "true"
    return float(raw) if any(c in raw for c in ".eE") else int(raw)


def parse_call(query: str) -> tuple[str, dict]:
    m = _CALL_RE.match(query)
    if not m:
        raise ValueError(f"not a CALL statement: {query!r}")
    name, argstr = m.group(1).lower(), m.group(2).strip()
    args: dict = {}
    consumed = 0
    for am in _ARG_RE.finditer(argstr):
        args[am.group(1)] = _parse_value(am.group(2))
        consumed = am.end()
    if argstr[consumed:].strip():
        raise ValueError(
            f"CALL {name}: cannot parse arguments near "
            f"{argstr[consumed:].strip()[:40]!r} — use key => value with "
            "'string' / number / true|false literals"
        )
    return name, args


def _graph(spark: SparkSession, edges: str, vertices: str | None = None):
    from puregraphdb_spark.operators.graph import Graph

    e = spark.table(edges)
    if vertices:
        v = spark.table(vertices)
    else:
        v = (
            e.select(F.col("src").alias("id"))
            .unionByName(e.select(F.col("dst").alias("id")))
            .distinct()
        )
    return Graph(v, e)


# -- composite procedures: several operators, or a reshaped result -----------


def _anf(spark: SparkSession, g: Graph, m: int = 64, max_iter: int = 16,
         rel_tol: float = 0.01, edge_batch: int | None = None) -> DataFrame:
    """CALL anf(edges => 'e') — HyperANF approximate neighborhood
    function -> one row per hop t: (t, est_pairs, frac_of_final).
    The q-effective diameter is the smallest t with
    frac_of_final >= q. edge_batch caps per-superstep live shuffle
    on thin-disk single nodes (batched == unbatched exactly)."""
    nf = g.anf(m=m, max_iter=max_iter, rel_tol=rel_tol,
               edge_batch=edge_batch)
    final = nf[-1][1]
    return spark.createDataFrame(
        [(t, n, round(n / final, 6)) for t, n in nf],
        "t int, est_pairs double, frac_of_final double")


def _ivf_drift(spark: SparkSession, path: str,
               emb_col: str = "embedding") -> DataFrame:
    """CALL ivf_drift(path => '/idx') — per-cluster centroid drift of a
    persisted IVF index -> (cluster, n_vecs, drift)."""
    from puregraphdb_spark.operators.similarity import ivf_drift_report

    rows = ivf_drift_report(spark, path, emb_col=emb_col)
    return spark.createDataFrame(
        [(r["cluster"], r["n_vecs"], r["drift"]) for r in rows],
        "cluster int, n_vecs long, drift double")


def _ivf_refresh(spark: SparkSession, path: str,
                 drift_threshold: float = 0.02, id_col: str = "vec_id",
                 emb_col: str = "embedding") -> DataFrame:
    """CALL ivf_refresh(path => '/idx') — incremental re-clustering of
    the drifted IVF clusters -> one summary row."""
    from puregraphdb_spark.operators.similarity import refresh_ivf_index

    out = refresh_ivf_index(spark, path, drift_threshold=drift_threshold,
                            id_col=id_col, emb_col=emb_col)
    return spark.createDataFrame(
        [(",".join(str(c) for c in out["refreshed"]), out["n_reassigned"],
          out["n_moved"], out["max_drift"])],
        "refreshed string, n_reassigned long, n_moved long, max_drift double")


def _knn_ivf_pq(queries: DataFrame, corpus: DataFrame, k: int = 10,
                dim: int = 64, n_clusters: int = 8, m_subspaces: int = 8,
                k_codes: int = 16, nprobe: int = 2, id_col: str = "vec_id",
                emb_col: str = "embedding") -> DataFrame:
    """CALL knn_ivf_pq(queries => 'q') — IVF top-k over the
    product-quantized corpus (train + encode + ADC probe in one
    call)."""
    from puregraphdb_spark.operators import similarity

    cents = similarity.kmeans_centroids(
        corpus, k=n_clusters, iters=2, dim=dim, emb_col=emb_col)
    books = similarity.pq_train(
        corpus, dim=dim, m=m_subspaces, k_codes=k_codes, iters=2,
        emb_col=emb_col, id_col=id_col)
    codes = similarity.pq_quantize(
        corpus.select(F.col(id_col), F.col(emb_col)), books,
        emb_col=emb_col)
    return similarity.ivf_pq_topk(
        queries, codes, cents, books, k=k, nprobe=nprobe,
        id_col=id_col, emb_col=emb_col)


def _knn_ivf_sq8(queries: DataFrame, corpus: DataFrame, k: int = 10,
                 dim: int = 64, n_clusters: int = 8, nprobe: int = 2,
                 id_col: str = "vec_id",
                 emb_col: str = "embedding") -> DataFrame:
    """CALL knn_ivf_sq8(queries => 'q') — IVF top-k over the int8
    scalar-quantized corpus (calibrate + quantize + probe in one
    call; persisted-index flows use write_sq8_ivf_index)."""
    from puregraphdb_spark.operators import similarity

    cents = similarity.kmeans_centroids(
        corpus, k=n_clusters, iters=2, dim=dim, emb_col=emb_col)
    calib = similarity.sq8_calibrate(corpus, dim=dim, emb_col=emb_col)
    codes = similarity.sq8_quantize(
        corpus.select(F.col(id_col), F.col(emb_col)), calib,
        emb_col=emb_col)
    return similarity.ivf_sq8_topk(
        queries, codes, cents, calib, k=k, nprobe=nprobe,
        id_col=id_col, emb_col=emb_col)


def _ann_recall(queries: DataFrame, corpus: DataFrame, method: str = "lsh",
                k: int = 10, dim: int = 64, num_planes: int = 6,
                n_clusters: int = 8, nprobe: int = 2, id_col: str = "vec_id",
                emb_col: str = "embedding") -> DataFrame:
    from puregraphdb_spark.operators import similarity

    if method == "ivf":
        cents = similarity.kmeans_centroids(
            corpus, k=n_clusters, iters=2, dim=dim, emb_col=emb_col)
        ann = similarity.ivf_cosine_topk(
            queries, corpus, cents, k=k, nprobe=nprobe, id_col=id_col,
            emb_col=emb_col)
        label = f"ivf_nprobe{nprobe}"
    elif method == "sq8":
        ann = _knn_ivf_sq8(queries, corpus, k=k, dim=dim,
                           n_clusters=n_clusters, nprobe=nprobe,
                           id_col=id_col, emb_col=emb_col)
        label = f"ivf_sq8_nprobe{nprobe}"
    else:
        ann = similarity.ann_cosine_topk(
            queries, corpus, k=k, dim=dim, num_planes=num_planes,
            id_col=id_col, emb_col=emb_col)
        label = f"lsh_planes{num_planes}"
    return similarity.ann_recall_report(queries, corpus, ann, k=k,
                                        method=label, id_col=id_col,
                                        emb_col=emb_col)


def _bpe_tokenize(docs: DataFrame, num_merges: int = 50,
                  text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """CALL bpe_tokenize(docs => 'documents') — train on the corpus
    then tokenize it (one-call convenience; persisted-model flows
    call bpe_train once and apply many times)."""
    from puregraphdb_spark.operators.bpe import bpe_apply, bpe_train

    merges = bpe_train(docs, num_merges=num_merges, text_col=text_col)
    return bpe_apply(docs, merges, text_col=text_col, id_col=id_col)


def _bpe_fertility(docs: DataFrame, num_merges: int = 50,
                   text_col: str = "text",
                   id_col: str = "doc_id") -> DataFrame:
    from puregraphdb_spark.operators.bpe import (
        bpe_fertility_report, bpe_train)

    merges = bpe_train(docs, num_merges=num_merges, text_col=text_col)
    return bpe_fertility_report(docs, merges, text_col=text_col,
                                id_col=id_col)


def _time_rollup(events: DataFrame, ts_col: str, granularities: list[str],
                 group_cols: list[str] | None = None,
                 measures: str = "n:count") -> DataFrame:
    """``measures`` is ``out_name:fn[:col]`` items, e.g.
    ``'n:count,sum_val:sum:value'``."""
    from puregraphdb_spark.operators.rollup import time_rollup

    spec: dict = {}
    for item in measures.split(","):
        parts = [p.strip() for p in item.split(":")]
        if len(parts) not in (2, 3):
            raise ValueError(
                f"bad measure {item!r}: use out_name:fn or out_name:fn:col")
        spec[parts[0]] = (parts[1], parts[2] if len(parts) == 3 else None)
    return time_rollup(events, ts_col, granularities, group_cols or [],
                       spec)


def _incremental_agg_refresh(old_agg: DataFrame, inserts: DataFrame,
                             deletes: DataFrame, keys: list[str],
                             measures: str) -> DataFrame:
    """measures syntax: 'out_name:src_col:scale,...' (e.g.
    'sum_qty:l_quantity:2')."""
    from puregraphdb_spark.operators.incremental import (
        incremental_agg_refresh)

    spec = {}
    for part in measures.split(","):
        if part.strip():
            name, col, scale = part.strip().split(":")
            spec[name] = (col, int(scale))
    return incremental_agg_refresh(old_agg, inserts, deletes, keys, spec)


def _stratified_sample(table: DataFrame, strata_col: str, rates: str = "",
                       id_col: str = "doc_id",
                       default_rate: float = 1.0) -> DataFrame:
    """``rates`` is ``'en:0.05,de:0.1'``."""
    from puregraphdb_spark.operators.pipeline import stratified_sample

    per = {}
    for item in rates.split(","):
        if item.strip():
            key, _, val = item.partition(":")
            per[key.strip()] = float(val)
    return stratified_sample(table, strata_col, per, id_col=id_col,
                             default_rate=default_rate)


def _profile_drift(table: DataFrame, batch_col: str = "batch",
                   columns: list[str] | None = None) -> DataFrame:
    from puregraphdb_spark.operators.profile import profile_drift

    return profile_drift(
        table, batch_col,
        columns or [c for c in table.columns if c != batch_col])


def _bm25_topk(docs: DataFrame, query: str = "spark join fast",
               id_col: str = "doc_id", text_col: str = "text",
               k1: float = 1.2, b: float = 0.75, k: int = 20) -> DataFrame:
    from puregraphdb_spark.operators.llm import bm25_topk

    return bm25_topk(docs, query.split(), id_col=id_col, text_col=text_col,
                     k1=k1, b=b, k=k)


def _hhi(table: DataFrame, group_col: str, key_col: str,
         amount_col: str) -> DataFrame:
    from puregraphdb_spark.operators.extras import hhi_concentration

    return hhi_concentration(table, group_col, key_col, F.col(amount_col))


# -- the registry -------------------------------------------------------------


class _Proc(NamedTuple):
    """One procedure: the operator it runs (a ``module.function`` path
    under ``puregraphdb_spark``, ``Graph.<method>``, or a function),
    the CALL names of renamed parameters (operator name -> CALL name)
    and the CALL-only defaults (by CALL name)."""
    target: str | Callable[..., DataFrame]
    rename: dict[str, str]
    defaults: dict[str, object]


def _op(target, rename: dict[str, str] | None = None, **defaults) -> _Proc:
    return _Proc(target, rename or {}, defaults)


# renames (operator parameter -> CALL name) ...
_TABLE = {"df": "table"}
_AS_VECS = {"corpus": "embeddings"}
# ... and default views (CALL name -> view)
_DOCS = {"docs": "documents"}
_EVENTS = {"events": "events"}
_VECS = {"embeddings": "embeddings"}
_CORPUS = {"corpus": "embeddings"}

PROCEDURES: dict[str, _Proc] = {
    # graph
    "pagerank": _op("Graph.pagerank"),
    "hits": _op("Graph.hits"),
    "connected_components": _op("Graph.connected_components"),
    "strongly_connected_components": _op(
        "Graph.strongly_connected_components"),
    "k_core": _op("Graph.k_core"),
    "coreness": _op("Graph.coreness"),
    "label_propagation": _op("Graph.label_propagation"),
    "triangle_count": _op("Graph.triangle_count"),
    "degrees": _op("Graph.degrees"),
    "shortest_paths": _op("Graph.shortest_paths"),
    "find_motifs": _op("Graph.find"),
    "reach": _op("Graph.reach", max_hops=2),
    "betweenness": _op("Graph.betweenness_centrality"),
    "betweenness_sampled": _op("Graph.betweenness_sampled"),
    "anf": _op(_anf),
    "random_walks": _op("Graph.random_walks"),
    "node2vec_walks": _op("Graph.node2vec_walks"),
    "ktruss": _op("Graph.ktruss"),
    "harmonic_centrality": _op("operators.graph.harmonic_centrality"),
    "temporal_reach": _op("operators.graph.temporal_reach"),
    "louvain": _op("operators.community.louvain"),
    "modularity": _op("operators.community.modularity"),
    # near-duplicates, vectors and dedup
    "near_dup_pairs": _op("operators.similarity.near_dup_pairs", **_DOCS),
    "simhash_near_dup": _op("operators.similarity.simhash_near_dup_pairs",
                            **_DOCS),
    "dedup_minhash": _op("operators.similarity.dedup_minhash", **_DOCS),
    "apply_dedup": _op("operators.similarity.apply_dedup", **_DOCS),
    "embedding_near_dup": _op(
        "operators.similarity.embedding_near_dup_pairs", **_CORPUS),
    "ann_topk": _op("operators.similarity.ann_cosine_topk", **_CORPUS),
    "knn_ivf_sq8": _op(_knn_ivf_sq8, **_CORPUS),
    "knn_ivf_pq": _op(_knn_ivf_pq, **_CORPUS),
    "ann_recall": _op(_ann_recall, **_CORPUS),
    "ivf_drift": _op(_ivf_drift),
    "ivf_refresh": _op(_ivf_refresh),
    "semantic_dedup": _op("operators.similarity.semantic_dedup", _AS_VECS,
                          **_VECS),
    "hash_semantic_dedup": _op("operators.similarity.hash_semantic_dedup",
                               _AS_VECS, **_VECS),
    "apply_semantic_dedup": _op("operators.similarity.apply_semantic_dedup",
                                _AS_VECS, **_VECS),
    "vector_hygiene": _op("operators.similarity.vector_hygiene_report",
                          _AS_VECS, dim=64, **_VECS),
    "entity_resolution": _op("operators.similarity.entity_resolution",
                             _TABLE),
    "apply_entity_resolution": _op(
        "operators.similarity.apply_entity_resolution", _TABLE),
    "simhash_topk": _op("operators.pipeline.simhash_topk", **_CORPUS),
    "embedding_drift": _op("operators.pipeline.embedding_drift", **_VECS),
    "embedding_dim_profile": _op("operators.pipeline.embedding_dim_profile",
                                 {"emb": "embeddings"}, **_VECS),
    # text and training-corpus pipeline
    "text_profile": _op("operators.text.profile_documents", **_DOCS),
    "quality_report": _op("operators.text.corpus_quality_report", **_DOCS),
    "contamination_report": _op("operators.text.contamination_report"),
    "benchmark_attribution": _op("operators.text.benchmark_attribution",
                                 {"corpus": "docs"}, benchmarks="benchmarks",
                                 **_DOCS),
    "bpe_train": _op("operators.bpe.bpe_train", **_DOCS),
    "bpe_tokenize": _op(_bpe_tokenize, **_DOCS),
    "bpe_fertility": _op(_bpe_fertility, **_DOCS),
    "bm25_topk": _op(_bm25_topk, **_DOCS),
    "cross_source_shingles": _op("operators.llm.cross_source_shingles",
                                 **_DOCS),
    "pii_scan": _op("operators.pii.pii_scan", **_DOCS),
    "redact_pii": _op("operators.pii.redact_pii", **_DOCS),
    "langid_kappa": _op("operators.pipeline.langid_kappa", **_DOCS),
    "chunk_documents": _op("operators.pipeline.chunk_documents", **_DOCS),
    "hash_split": _op("operators.pipeline.hash_split", _TABLE),
    "stratified_sample": _op(_stratified_sample),
    "content_hash_dedup": _op("operators.pipeline.content_hash_annotate",
                              **_DOCS),
    "zscore_outliers": _op("operators.pipeline.zscore_outliers",
                           {"df": "table", "part_cols": "partition_cols"}),
    "sequence_pack": _op("operators.pipeline.sequence_pack", **_DOCS),
    "sorted_neighborhood": _op("operators.pipeline.sorted_neighborhood_pairs",
                               _TABLE),
    "token_diversity": _op("operators.pipeline.token_diversity", **_DOCS),
    "dup_cluster_histogram": _op("operators.pipeline.dup_cluster_histogram",
                                 **_DOCS),
    "source_mix_budget": _op("operators.pipeline.source_mix_budget",
                             **_DOCS),
    "class_balance": _op("operators.pipeline.class_balance_plan", **_DOCS),
    "split_contamination": _op("operators.pipeline.split_contamination",
                               **_DOCS),
    "vocab_growth": _op("operators.pipeline.vocab_growth", **_DOCS),
    "dedup_impact": _op("operators.pipeline.dedup_impact_by_source",
                        **_DOCS),
    "apply_substring_dedup": _op("operators.pipeline.apply_substring_dedup",
                                 **_DOCS),
    "token_length_profile": _op("operators.pipeline.token_length_profile",
                                **_DOCS),
    "doc_stitching": _op("operators.pipeline.doc_stitching_report", **_DOCS),
    "tokenizer_fertility": _op("operators.pipeline.tokenizer_fertility",
                               **_DOCS),
    "provenance_dedup": _op("operators.pipeline.provenance_dedup_report",
                            **_DOCS),
    "dedup_keepers": _op("operators.pipeline.dedup_keepers", **_DOCS),
    "shingle_compressibility": _op(
        "operators.pipeline.shingle_compressibility", **_DOCS),
    "lm_transition_score": _op("operators.pipeline.lm_transition_score",
                               **_DOCS),
    "source_overlap": _op("operators.pipeline.source_overlap_matrix",
                          **_DOCS),
    "gopher_rules": _op("operators.pipeline.gopher_rules_report", **_DOCS),
    "selection_curve": _op("operators.pipeline.selection_curve",
                           thresholds="0.02,0.03,0.035,0.04", **_DOCS),
    # events and time series
    "funnel": _op("operators.events.funnel", stages="", **_EVENTS),
    "funnel_latency": _op("operators.events.funnel_latency",
                          stages="view,click,purchase", **_EVENTS),
    "sessionize": _op("operators.events.sessionize", **_EVENTS),
    "interval_union": _op("operators.events.interval_union", **_EVENTS),
    "conversion_latency": _op("operators.events.conversion_latency",
                              **_EVENTS),
    "bounce_rate": _op("operators.events.bounce_rate", **_EVENTS),
    "anomaly_mad": _op("operators.events.anomaly_mad_ts", **_EVENTS),
    "seasonal_dow": _op("operators.events.seasonal_dow", **_EVENTS),
    "burst_detection": _op("operators.events.burst_detection", **_EVENTS),
    "seasonal_burst": _op("operators.events.seasonal_burst_detection",
                          **_EVENTS),
    "cusum_changepoint": _op("operators.events.cusum_changepoint",
                             **_EVENTS),
    "clamped_balance": _op("operators.events.clamped_balance", **_EVENTS),
    "capped_balance": _op("operators.events.capped_balance", **_EVENTS),
    "m4_downsample": _op("operators.events.m4_downsample", **_EVENTS),
    "arrival_regularity": _op("operators.events.arrival_regularity",
                              **_EVENTS),
    "interval_join": _op("streaming.joins.interval_join"),
    "as_of_join": _op("operators.asof.as_of_join"),
    "time_rollup": _op(_time_rollup),
    # statistics and profiles
    "mann_whitney": _op("operators.extras.mann_whitney_u", **_EVENTS),
    "ks_statistic": _op("operators.extras.ks_statistic", **_EVENTS),
    "spearman": _op("operators.extras.spearman_corr", _TABLE),
    "weighted_median": _op("operators.extras.weighted_median", _TABLE),
    "gini": _op("operators.extras.gini_concentration", {"orders": "table"},
                table="orders"),
    "hhi": _op(_hhi),
    "approx_quantiles": _op("operators.extras.approx_quantiles_profile",
                            _TABLE),
    "chi_square": _op("operators.extras.chi_square_contingency", _TABLE),
    "winsorized_stats": _op("operators.extras.winsorized_stats", _TABLE),
    "percentile_cont": _op("operators.percentile.exact_percentile_cont",
                           {"vals": "table"}, ps="0.5"),
    "heavy_hitters": _op("operators.sketch.heavy_hitters", _TABLE),
    "benford": _op("operators.profile.benford_profile", _TABLE),
    "k_anonymity": _op("operators.profile.k_anonymity_report", _TABLE),
    "l_diversity": _op("operators.profile.l_diversity_report", _TABLE),
    "profile_drift": _op(_profile_drift, table="events"),
    "join_cardinality": _op("operators.skew.join_cardinality_profile"),
    # incremental maintenance
    "bitemporal_asof": _op("operators.incremental.bitemporal_asof"),
    "apply_cdc_upsert": _op("operators.incremental.apply_cdc_upsert"),
    "incremental_agg_refresh": _op(_incremental_agg_refresh),
    # multimodal assets
    "audio_features": _op("operators.multimodal.extract_audio_features"),
    "asset_profile": _op("operators.multimodal.asset_profile"),
    "asset_payload_dedup": _op("operators.multimodal.asset_payload_dedup"),
    "image_near_dup": _op("operators.multimodal.image_near_dup_pairs"),
}


def _resolve(target) -> Callable[..., DataFrame]:
    if callable(target):
        return target
    path, _, name = target.rpartition(".")
    if path == "Graph":
        from puregraphdb_spark.operators.graph import Graph

        return getattr(Graph, name)
    return getattr(importlib.import_module(f"puregraphdb_spark.{path}"), name)


def _signatures(proc: _Proc):
    """The operator, its signature, and the CALL-level signature: the
    operator's parameters under their CALL names and defaults, all
    keyword-only; a ``Graph`` parameter becomes ``edges`` + ``vertices``,
    a ``SparkSession`` parameter is the caller's session."""
    from puregraphdb_spark.operators.graph import Graph

    fn = _resolve(proc.target)
    osig = inspect.signature(fn, eval_str=True, locals={"Graph": Graph})
    kw = inspect.Parameter.KEYWORD_ONLY
    params = []
    for p in osig.parameters.values():
        if p.annotation is SparkSession:
            continue
        if p.annotation is Graph or p.name == "self":
            params += [inspect.Parameter("edges", kw, annotation=str),
                       inspect.Parameter("vertices", kw, default=None,
                                         annotation=str | None)]
        elif p.kind is p.VAR_KEYWORD:
            params.append(p)
        elif p.kind is p.VAR_POSITIONAL:
            params.append(inspect.Parameter(
                p.name, kw, annotation=list[p.annotation]))
        else:
            name = proc.rename.get(p.name, p.name)
            params.append(inspect.Parameter(
                name, kw, default=proc.defaults.get(name, p.default),
                annotation=p.annotation))
    return fn, osig, inspect.Signature(params)


def _coerce(spark: SparkSession, ann, value):
    """A parsed CALL literal as the operator's annotation wants it."""
    if value is None:
        return None
    args = typing.get_args(ann)
    if typing.get_origin(ann) in (typing.Union, types.UnionType):
        if value == "" and type(None) in args:
            return None
        return _coerce(spark, next(a for a in args if a is not type(None)),
                       value)
    if ann is DataFrame:
        return spark.table(value)
    if ann in (int, float, bool):
        return ann(value)
    if typing.get_origin(ann) in (list, tuple):
        return typing.get_origin(ann)(
            _coerce(spark, args[0], x.strip())
            for x in str(value).split(",") if x.strip())
    return value


def dispatch_call(spark: SparkSession, query: str) -> DataFrame:
    from puregraphdb_spark.operators.graph import Graph

    name, args = parse_call(query)
    if name not in PROCEDURES:
        known = ", ".join(sorted(PROCEDURES))
        raise ValueError(f"unknown procedure {name!r}; available: {known}")
    proc = PROCEDURES[name]
    fn, osig, csig = _signatures(proc)
    try:
        given = {**proc.defaults, **csig.bind(**args).arguments}
    except TypeError as e:
        raise ValueError(f"CALL {name}: bad arguments: {e}") from e
    bound = osig.bind_partial()
    for p in osig.parameters.values():
        cname = proc.rename.get(p.name, p.name)
        if p.annotation is SparkSession:
            bound.arguments[p.name] = spark
        elif p.annotation is Graph or p.name == "self":
            bound.arguments[p.name] = _graph(spark, given["edges"],
                                             given.get("vertices"))
        elif p.kind is p.VAR_KEYWORD:
            bound.arguments[p.name] = given.get(p.name, {})
        elif cname in given:
            bound.arguments[p.name] = _coerce(
                spark, csig.parameters[cname].annotation, given[cname])
    return fn(*bound.args, **bound.kwargs)
