"""The superstep loop behind the iterative graph algorithms
(``Graph.pregel``): it releases what it caches, its checkpoints carry
no compounding statistics, and a superstep is one job."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from puregraphdb_spark.engine import Engine
from puregraphdb_spark.operators.community import louvain
from puregraphdb_spark.operators.graph import Graph, temporal_reach
from tests.conftest import SF_DIR

LONG_MAX = (1 << 63) - 1


@pytest.fixture(scope="module")
def k4(spark):
    """Complete graph on {1,2,3,4} plus an isolated extra component."""
    edges = [(u, v) for u in range(1, 5) for v in range(u + 1, 5)]
    edges += [(10, 11)]
    v = spark.createDataFrame([(i,) for i in [1, 2, 3, 4, 10, 11]], ["id"])
    e = spark.createDataFrame(edges, ["src", "dst"])
    return Graph(v, e)


def _path(spark, n: int) -> Graph:
    v = spark.createDataFrame([(i,) for i in range(n)], ["id"])
    e = spark.createDataFrame([(i, i + 1) for i in range(n - 1)],
                              ["src", "dst"])
    return Graph(v, e)


def _persistent_rdds(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


@pytest.fixture(autouse=True)
def _release_leftovers(spark):
    """Unpersist what a test leaves cached (the states it was handed)
    once it has made its assertions. Left to the JVM's garbage
    collector, a leftover is unpersisted at some later moment, possibly
    between another test's before and after snapshots."""
    before = _persistent_rdds(spark)
    yield
    rdds = spark.sparkContext._jsc.getPersistentRDDs()
    for rdd_id in _persistent_rdds(spark) - before:
        rdds.get(rdd_id).unpersist(True)


def _read_rdds(df) -> set[int]:
    """The RDDs the result's plan reads (the returned state's
    checkpoint among them)."""
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    return {leaf.rdd().id()
            for leaf in (leaves.apply(i) for i in range(leaves.size()))
            if leaf.nodeName() == "LogicalRDD"}


@pytest.mark.parametrize("algo", [
    lambda g: g.pagerank(max_iter=3),
    lambda g: g.connected_components(),
    lambda g: g.label_propagation(),
    lambda g: g.shortest_paths([1, 10]),
    lambda g: g.k_core(2),
    lambda g: g.coreness(),
    lambda g: g.ktruss(3),
    lambda g: g.ktruss(3, local_finish_edges=0),
    lambda g: g.betweenness_centrality([1, 10]),
    lambda g: g.betweenness_centrality([1, 2, 10], source_batch=1),
    lambda g: louvain(g.edges),
    lambda g: temporal_reach(
        g.edges.withColumn("ts", F.col("src") * 10.0 + F.col("dst")),
        g.vertices.filter(F.col("id") == 1)),
], ids=["pagerank", "cc", "lpa", "sssp", "kcore", "coreness", "ktruss",
        "ktruss_distributed", "betweenness", "betweenness_batched",
        "louvain", "temporal_reach"])
def test_loop_leaves_only_the_returned_state_cached(spark, k4, algo):
    before = _persistent_rdds(spark)
    out = algo(k4)
    own = _read_rdds(out)
    assert _persistent_rdds(spark) - before <= own
    assert out.count() > 0  # the survivor is still readable


def test_deep_path_stats_do_not_compound(spark):
    """A stats-keeping checkpoint per superstep multiplies the size
    estimate: 30 supersteps of a path graph reach dozens of digits."""
    g = _path(spark, 30)
    cc = g.connected_components()
    sp = g.shortest_paths([29], max_iter=32)
    for out in (cc, sp):
        stats = out._jdf.queryExecution().optimizedPlan().stats()
        assert stats.sizeInBytes() <= LONG_MAX
    assert {r["component"] for r in cc.collect()} == {0}
    assert {r["id"]: r["dist"] for r in sp.collect()} \
        == {i: 29 - i for i in range(30)}


def test_one_job_per_superstep(spark):
    """Connected components on a 10-vertex path takes 10 supersteps
    (the last one changes nothing). With AQE off a query is one job
    plus one per broadcast, so the call runs the edge checkpoint, one
    checkpoint job per superstep, and at most the one broadcast of the
    first superstep's small input."""
    g = _path(spark, 10)
    sc = spark.sparkContext
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    sc.setJobGroup("pregel-one-job", "cc on a path")
    try:
        out = g.connected_components()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    jobs = len(sc.statusTracker().getJobIdsForGroup("pregel-one-job"))
    assert 1 + 10 <= jobs <= 1 + 10 + 1
    assert out.filter(F.col("component") != 0).count() == 0


def test_superstep_is_one_stage_at_width_one(untuned_after):
    """In the tuned posture on sf0.001 the shuffle width is 1: edges and
    state are both one partition, so the join and the message aggregate
    need no Exchange and every superstep after the first (which builds
    the initial state) runs as one stage."""
    spark = untuned_after
    g = _path(spark, 10)
    sc = spark.sparkContext
    Engine(spark, SF_DIR, register_views=False).tune_for_data_size()
    assert spark.conf.get("spark.sql.shuffle.partitions") == "1"
    sc.setJobGroup("pregel-one-stage", "cc on a path, width 1")
    try:
        out = g.connected_components()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    stages = [len(tracker.getJobInfo(j).stageIds) for j in
              sorted(tracker.getJobIdsForGroup("pregel-one-stage"))]
    # the edge checkpoint, the first superstep, then nine more
    assert len(stages) >= 11
    assert stages[2:] == [1] * (len(stages) - 2), stages
    assert out.filter(F.col("component") != 0).count() == 0


def test_zero_supersteps_return_the_initial_state(spark, k4):
    before = _persistent_rdds(spark)
    out = k4.connected_components(max_iter=0)
    assert sorted((r["id"], r["component"]) for r in out.collect()) \
        == [(i, i) for i in [1, 2, 3, 4, 10, 11]]
    own = {out._jdf.queryExecution().analyzed().rdd().id()}
    assert _persistent_rdds(spark) - before <= own


def test_failed_superstep_releases_everything(spark, k4):
    """A superstep that fails after one has succeeded: the edges, the
    held state and the loop's edge cache are all dropped."""
    def cache_entries() -> int:
        return (spark._jsparkSession.sharedState().cacheManager()
                .cachedData().size())

    before, entries = _persistent_rdds(spark), cache_entries()
    calls = []

    def step(e, state):
        calls.append(1)
        if len(calls) > 1:
            raise RuntimeError("boom")
        return state

    with pytest.raises(RuntimeError, match="boom"):
        k4.pregel(k4.edges, lambda e: k4.vertices.select("id"), step,
                  max_iter=3)
    assert len(calls) == 2
    assert _persistent_rdds(spark) == before
    assert cache_entries() == entries


@pytest.mark.parametrize("fail_at", [2, 3], ids=["round1-bwd", "round2-fwd"])
def test_failed_scc_round_releases_everything(spark, k4, monkeypatch,
                                              fail_at):
    """SCC on k4's DAG needs a second outer round. A direction that fails
    in round 1 (after the forward one) or in round 2 (after round 1's
    components were assigned) leaves no checkpoint behind."""
    before = _persistent_rdds(spark)
    pregel, calls = Graph.pregel, []

    def failing(self, *args, **kwargs):
        calls.append(1)
        if len(calls) == fail_at:
            raise RuntimeError("boom")
        return pregel(self, *args, **kwargs)

    monkeypatch.setattr(Graph, "pregel", failing)
    with pytest.raises(RuntimeError, match="boom"):
        k4.strongly_connected_components()
    assert len(calls) == fail_at
    assert _persistent_rdds(spark) == before
