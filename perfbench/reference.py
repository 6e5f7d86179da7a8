"""Expected outputs, computed without Spark.

- DuckDB runs the engine's own oracle SQL (``__spark_entry__.oracle_sql``)
  over the same parquet files.
- The iterative graph entries are recomputed from the order graph with
  networkx (components, k-core, BFS distances) or with a pure-Python
  loop using the engine's update rule (PageRank, label propagation).

``compare`` applies the dtype and value checks of
``tools/check_oracle``.
"""

from __future__ import annotations

import os
import time
from collections import Counter, defaultdict

import duckdb
import networkx as nx
import pandas as pd
import pyarrow.parquet as pq

from tools.check_oracle import dtype_kind_mismatches, normalize

from perfbench.datagen import TABLES
from perfbench.probes import Stopwatch, median


def compare(actual: pd.DataFrame, expected: pd.DataFrame,
            atol: float = 0.0) -> str | None:
    """None when equal, else a one-line reason. Exact unless ``atol``."""
    if sorted(actual.columns) != sorted(expected.columns):
        return (f"columns {sorted(actual.columns)} != "
                f"{sorted(expected.columns)}")
    if len(actual) != len(expected):
        return f"rows {len(actual)} != {len(expected)}"
    kinds = dtype_kind_mismatches(actual, expected)
    if kinds:
        return "dtype kind: " + "; ".join(kinds)
    try:
        pd.testing.assert_frame_equal(normalize(actual), normalize(expected),
                                      check_dtype=False, rtol=0.0, atol=atol)
    except AssertionError as e:
        return "values: " + " ".join(str(e).split())[:300]
    return None


class DuckOracle:
    """DuckDB views over a data directory; times each oracle query."""

    def __init__(self, data_dir: str, threads: int):
        self.con = duckdb.connect()
        self.con.execute(f"set threads to {threads}")
        for t in TABLES:
            path = os.path.join(data_dir, f"{t}.parquet")
            self.con.execute(f"create view {t} as select * from "
                             f"read_parquet('{path}')")

    def run(self, sql: str, reps: int = 9) -> tuple[pd.DataFrame, float]:
        """Result and median time over ``reps`` executions, net of the
        CPU steal share over all of them (single runs are too short to
        measure steal on their own)."""
        times, out = [], None
        with Stopwatch() as whole:
            for _ in range(reps):
                t0 = time.perf_counter()
                out = self.con.execute(sql).fetchdf()
                times.append(time.perf_counter() - t0)
        return out, median(times) * (1.0 - whole.share)


# -- order graph ------------------------------------------------------------


def order_graph_edges(data_dir: str) -> list[tuple[int, int]]:
    """Distinct customer→supplier edges, as ``__spark_entry__._order_graph``
    builds them (orders ⋈ lineitem, shared id space)."""
    o = pq.read_table(os.path.join(data_dir, "orders.parquet"),
                      columns=["o_orderkey", "o_custkey"]).to_pandas()
    li = pq.read_table(os.path.join(data_dir, "lineitem.parquet"),
                       columns=["l_orderkey", "l_suppkey"]).to_pandas()
    e = o.merge(li, left_on="o_orderkey", right_on="l_orderkey")
    e = e[["o_custkey", "l_suppkey"]].drop_duplicates()
    return sorted(zip(e.o_custkey.tolist(), e.l_suppkey.tolist()))


def _pagerank(edges, vertices, iters: int, reset: float = 0.15) -> dict:
    """``Graph.pagerank``: rank_{i+1} = reset + (1-reset)·Σ_in rank/outdeg,
    starting from 1.0, dangling vertices contribute nothing."""
    outdeg = Counter(s for s, _ in edges)
    rank = dict.fromkeys(vertices, 1.0)
    for _ in range(iters):
        acc: dict[int, float] = defaultdict(float)
        for s, d in edges:
            acc[d] += rank[s] / outdeg[s]
        rank = {v: reset + (1.0 - reset) * acc.get(v, 0.0) for v in vertices}
    return rank


def _label_propagation(edges, vertices, iters: int) -> dict:
    """``Graph.label_propagation``: synchronous; each vertex takes the most
    frequent label over both edge directions (parallel messages counted),
    ties to the smaller label; vertices without messages keep theirs."""
    label = {v: v for v in vertices}
    for _ in range(iters):
        counts: dict[int, Counter] = defaultdict(Counter)
        for s, d in edges:
            counts[d][label[s]] += 1
            counts[s][label[d]] += 1
        label = {v: (min(c.items(), key=lambda kv: (-kv[1], kv[0]))[0]
                     if (c := counts.get(v)) else label[v])
                 for v in vertices}
    return label


def graph_expected(data_dir: str) -> dict[str, tuple[pd.DataFrame, float]]:
    """Expected frame and absolute tolerance per graph entry, matching the
    parameters ``__spark_entry__`` passes (PageRank 5 iterations,
    label propagation 3, 5-core, BFS to landmarks 0 and 1)."""
    edges = order_graph_edges(data_dir)
    vertices = sorted({v for e in edges for v in e})
    und = nx.Graph(edges)
    und.remove_edges_from(list(nx.selfloop_edges(und)))
    directed = nx.DiGraph(edges)

    pr = _pagerank(edges, vertices, iters=5)
    comp = {}
    for cc in nx.connected_components(nx.Graph(edges)):
        root = min(cc)
        comp.update(dict.fromkeys(cc, root))
    lpa = _label_propagation(edges, vertices, iters=3)
    core = nx.k_core(und, 5)
    dist = [(v, lm, d) for lm in (0, 1) if lm in directed
            for v, d in dict(
                nx.single_target_shortest_path_length(directed, lm)).items()]

    def frame(rows, cols):
        return pd.DataFrame(rows, columns=cols)

    # Rounded PageRank: the engine rounds half-up on the shortest decimal,
    # Python half-even on the binary value, and the sums run in another
    # order — one unit in the sixth decimal covers all three.
    return {
        "graph_pagerank": (frame([(v, round(pr[v], 6)) for v in vertices],
                                 ["id", "pagerank"]), 1.000001e-6),
        "graph_connected_components": (
            frame([(v, comp[v]) for v in vertices], ["id", "component"]), 0.0),
        "graph_label_propagation": (
            frame([(v, lpa[v]) for v in vertices], ["id", "label"]), 0.0),
        "graph_kcore": (frame([(v, core.degree(v)) for v in core.nodes],
                              ["id", "degree"]), 0.0),
        "graph_shortest_paths": (frame(dist, ["id", "landmark", "dist"]),
                                 0.0),
    }
