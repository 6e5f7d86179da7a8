"""Plan-quality gates (the 100-TB posture as assertions): pushdown
reaches the scans, dim joins broadcast, shuffle counts match the
per-operator docstrings. A rewrite that silently de-optimizes a plan
fails here before it ever reaches a benchmark.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod
from puregraphdb_spark.plans import (
    broadcast_join_count, count_exchanges, has_pushed_filter,
)
from tests.conftest import SF_DIR

Q = entrymod.queries()


@pytest.fixture(scope="module")
def q(spark):
    return {name: fn(spark, SF_DIR) for name, fn in Q.items()
            if name in {
                "q01_filter_project", "q02_agg_pricing_summary",
                "q05_join_topk_revenue", "q06_join_5way",
                "q16_topk_parts", "q24_graph_triangles",
            }}


def test_q01_filters_reach_the_scan(q):
    df = q["q01_filter_project"]
    assert has_pushed_filter(df, "l_returnflag")
    assert has_pushed_filter(df, "l_discount")
    # scan + load-time repartition only; no aggregation shuffle exists
    assert count_exchanges(df) <= 1


def test_q02_single_agg_shuffle(q):
    df = q["q02_agg_pricing_summary"]
    assert has_pushed_filter(df, "l_shipdate")
    # load repartition + one agg exchange + result sort
    assert count_exchanges(df) <= 3


def test_q05_broadcasts_the_filtered_dim(q):
    df = q["q05_join_topk_revenue"]
    assert broadcast_join_count(df) >= 1
    plan_shuffles = count_exchanges(df)
    # orders/lineitem load repartitions + groupBy; no join shuffle of
    # the fact side beyond those
    assert plan_shuffles <= 4


def test_q06_all_dims_broadcast(q):
    df = q["q06_join_5way"]
    # region, nation, customer, supplier all broadcast
    assert broadcast_join_count(df) >= 4


def test_q16_part_broadcasts(q):
    assert broadcast_join_count(q["q16_topk_parts"]) >= 1


def test_q24_single_wide_shuffle(q):
    df = q["q24_graph_triangles"]
    # co-located self-join (no shuffle) -> core-width hash exchange on
    # u feeding the collect_set agg (1 wide exchange; it widens the
    # compute-bound agg and intersect probe) -> broadcast adjacency
    # probe; plus the 2 load-time repartitions at most
    assert count_exchanges(df) <= 4
    assert broadcast_join_count(df) >= 1


def test_no_cartesian_products(q):
    for name, df in q.items():
        from puregraphdb_spark.plans import physical_plan
        assert "CartesianProduct" not in physical_plan(df), name


def test_no_forced_broadcast_of_scale_growing_inputs(spark):
    """Simulated-100-TB gate: fake-huge measured table sizes + auto
    broadcast disabled. Any BroadcastHashJoin that survives must come
    from an explicit hint — and no operator may hint an input that
    grows with the data (customer/orders/part/lineitem or aggregates
    keyed on their key spaces). Bounded-cardinality hints (returnflag
    groups, 1-row bounds, nation/region/supplier dims) are allowed.
    """
    from puregraphdb_spark.sources import registry

    saved_sizes = dict(registry._SIZES)
    saved_thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        for t in registry.TABLES:
            registry._SIZES[(SF_DIR, t)] = 10 << 40  # pretend 10 TiB each
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        must_not_broadcast = [
            "q05_join_topk_revenue", "q16_topk_parts",
            "q18_string_date_funcs", "q23_graph_degree",
            "q24_graph_triangles", "q25_graph_2hop", "q35_string_date",
            "q41_correlated_avg", "q44_interval_join",
            # round-5 pipeline: vocab/sample sides are corpus-correlated
            # → their hints must vanish past the measured gate
            "q74_minhash_vocab", "q75_pmi_bigrams", "q83_graph_strength",
        ]
        for name in must_not_broadcast:
            df = Q[name](spark, SF_DIR)
            assert broadcast_join_count(df) == 0, (
                f"{name}: forced broadcast of a scale-growing input"
            )
        # q06 keeps only the bounded dim hints (nation, region, supplier);
        # the customer-derived dim map must NOT be hinted at this size.
        assert broadcast_join_count(Q["q06_join_5way"](spark, SF_DIR)) <= 3
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved_thr)
        registry._SIZES.clear()
        registry._SIZES.update(saved_sizes)


def test_q17_small_path_single_agg_pass(spark):
    """Under the gate, q17 is ONE collect-and-sort aggregation: at most
    the load repartition + one agg exchange + the result sort. A
    rewrite that silently reintroduces a second pass fails here."""
    df = Q["q17_percentile"](spark, SF_DIR)
    assert count_exchanges(df) <= 3


def test_q25_small_path_broadcasts_gated_sets(spark):
    """Under the gate, the measured-small per-supplier set side is
    broadcast (no shuffle join of the aggregate), and the whole plan
    stays within the documented exchange budget."""
    df = Q["q25_graph_2hop"](spark, SF_DIR)
    assert broadcast_join_count(df) >= 1
    assert count_exchanges(df) <= 6


def test_q60_single_execution_of_the_per_brand_aggregate(spark):
    """r11: the threshold now rides a whole-relation window over the
    |brands|-row aggregate, so the per-brand join/agg lineage exists
    ONCE by construction — exactly one lineitem scan and one part scan
    in the executed plan (the old shape duplicated the subtree and
    relied on AQE ReusedExchange to deduplicate it at runtime)."""
    df = Q["q60_having_scalar"](spark, SF_DIR)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    # AQE's toString appends the Initial Plan section — count scans in
    # the FINAL plan only
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("FileScan") == 2, plan


def test_final_sort_paths(spark):
    """final_sort: under the measured gate the result is sorted in ONE
    partition with NO range exchange (a plain orderBy would plan a
    RangePartitioner whose sampling job re-executes the whole child);
    past the gate the distributed range sort must come back — a
    single-partition sort of a cluster-scale result would serialize
    the query."""
    from puregraphdb_spark.plans import physical_plan
    from puregraphdb_spark.sources import registry

    small = Q["q02_agg_pricing_summary"](spark, SF_DIR)
    p = physical_plan(small)
    assert "SinglePartition" in p
    assert "rangepartitioning" not in p.lower()

    saved = dict(registry._SIZES)
    try:
        for t in registry.TABLES:
            registry._SIZES[(SF_DIR, t)] = 10 << 40  # pretend 10 TiB
        large = Q["q02_agg_pricing_summary"](spark, SF_DIR)
        assert "rangepartitioning" in physical_plan(large).lower()
    finally:
        registry._SIZES.clear()
        registry._SIZES.update(saved)


def test_final_sort_emits_totally_ordered_rows(spark):
    """Oracle hashes are order-insensitive, so pin the ORDER contract
    separately: the collected rows of a final_sort query must already
    be in sort order (single-partition path preserves it end-to-end)."""
    rows = Q["q02_agg_pricing_summary"](spark, SF_DIR).collect()
    keys = [(r["l_returnflag"], r["l_linestatus"]) for r in rows]
    assert keys == sorted(keys)

    rows = Q["q23_graph_degree"](spark, SF_DIR).collect()
    vs = [r["v"] for r in rows]
    assert vs == sorted(vs)


def test_no_cartesian_products_across_the_full_surface(spark):
    """Global guard (r12): EVERY declared entry's physical plan is
    CartesianProduct-free — the crossJoin sites in the codebase are
    all broadcasts of 1-row/k-row scalar relations, which plan as
    BroadcastNestedLoopJoin, never a data-scale cartesian. Plans are
    built at sf0.001 (analysis only, nothing executes)."""
    import __spark_entry__ as entrymod
    from puregraphdb_spark.plans import physical_plan

    bad = []
    for name, fn in entrymod.queries().items():
        p = physical_plan(fn(spark, "/root/testdata/sf0.001"))
        if "CartesianProduct" in p:
            bad.append(name)
    assert not bad, bad
