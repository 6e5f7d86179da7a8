"""Pin each measured-size gate's exact flip point (VERDICT r4 #1).

The gates were exercised on REAL 10×-scale data by
``tools/scale_check.py`` (results in SCALECHECK.md); these tests pin
the boundary arithmetic so a threshold edit or a units mistake
(MB vs MiB, compressed vs decompressed) fails the suite immediately.
Sizes are injected through the registry's memo cache — the same
mechanism the simulated-100-TB plan tests use.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from puregraphdb_spark.sources import registry
from tests.conftest import SF_DIR


@pytest.fixture
def sized():
    """Context: set a fake measured size for one table, restore after."""
    saved = dict(registry._SIZES)

    def set_size(table: str, n: int) -> None:
        registry._SIZES[(SF_DIR, table)] = n

    yield set_size
    registry._SIZES.clear()
    registry._SIZES.update(saved)


def test_broadcast_if_small_flips_at_64mib(spark, sized):
    df = registry.load_table(spark, SF_DIR, "orders")
    sized("orders", (64 << 20) - 1)
    assert registry.broadcast_if_small(df, spark, SF_DIR, "orders") is not df
    sized("orders", 64 << 20)
    assert registry.broadcast_if_small(df, spark, SF_DIR, "orders") is df


def _global_sort(df) -> bool:
    """True when the plan carries a GLOBAL sort (the distributed
    range-sort branch); the single-partition branch plans
    sortWithinPartitions (global=false) under a Repartition 1.
    Partition counts are a data-size artifact (the range partitioner
    picks 1 partition for tiny inputs), so assert on the plan flag."""
    import re

    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return re.search(r"Sort \[[^\n]*\], true", plan) is not None


def test_final_sort_flips_at_2gib(spark, sized):
    df = registry.load_table(spark, SF_DIR, "orders").select("o_orderkey")
    sized("orders", (2 << 30) - 1)
    under = registry.final_sort(df, spark, SF_DIR, "orders", "o_orderkey")
    assert not _global_sort(under)
    assert under.rdd.getNumPartitions() == 1
    sized("orders", 2 << 30)
    assert _global_sort(
        registry.final_sort(df, spark, SF_DIR, "orders", "o_orderkey")
    )


def test_final_sort_row_preserving_flips_at_one_eighth(spark, sized):
    """row_preserving call sites gate at threshold//8 = 256 MiB
    (compressed source ≈ GiB-scale decompressed result, ADVICE r4)."""
    df = registry.load_table(spark, SF_DIR, "orders").select("o_orderkey")
    sized("orders", (256 << 20) - 1)
    assert not _global_sort(
        registry.final_sort(df, spark, SF_DIR, "orders", "o_orderkey",
                            row_preserving=True)
    )
    sized("orders", 256 << 20)
    assert _global_sort(
        registry.final_sort(df, spark, SF_DIR, "orders", "o_orderkey",
                            row_preserving=True)
    )
    # ... while the non-row-preserving default stays single-partition
    # at the same size (the aggregate-output case)
    assert not _global_sort(
        registry.final_sort(df, spark, SF_DIR, "orders", "o_orderkey")
    )


def test_tune_for_data_size_flips_at_threshold(untuned_after):
    from puregraphdb_spark.engine import Engine

    spark = untuned_after
    eng = Engine(spark, SF_DIR, register_views=False)
    inp = eng.input_bytes()
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    eng.tune_for_data_size(interactive_threshold=inp)  # input == thr
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    eng.tune_for_data_size(interactive_threshold=inp + 1)
    assert spark.conf.get("spark.sql.adaptive.enabled") == "false"


def test_q24_adjacency_gate_flips_at_32mib(spark, sized):
    """The adjacency PROBE join (on the exploded neighbor key v) is the
    one the 32 MiB gate controls — other joins in the plan keep their
    own gates, so match the join's key, not just the node name."""
    import re

    import __spark_entry__ as entrymod
    from puregraphdb_spark.plans import physical_plan

    q24 = entrymod.queries()["q24_graph_triangles"]
    sized("lineitem", (32 << 20) - 1)
    assert re.search(r"BroadcastHashJoin \[v#",
                     physical_plan(q24(spark, SF_DIR)))
    sized("lineitem", 32 << 20)
    over = physical_plan(q24(spark, SF_DIR))
    assert not re.search(r"BroadcastHashJoin \[v#", over)
    assert re.search(r"SortMergeJoin \[v#", over)


def test_runtime_bloom_filter_self_gates_on_size(spark):
    """The engine enables InjectRuntimeFilter globally; Spark's own
    size gates decide per query. Below the 10 GiB application-side
    scan threshold (all fixture scales) the rule must DECLINE; with
    the thresholds simulating the 100-TB fact⋈filtered-dim shape
    (application gate 0, broadcast off so the join shuffles) the
    bloom filter must appear AND the result must be unchanged."""
    assert spark.conf.get(
        "spark.sql.optimizer.runtime.bloomFilter.enabled") == "true"
    li = registry.load_table(spark, SF_DIR, "lineitem")
    p = registry.load_table(spark, SF_DIR, "part").filter(
        F.col("p_brand") == "Brand#13")
    j = li.join(p, li.l_partkey == p.p_partkey).groupBy("p_brand").agg(
        F.count("*").alias("n"))

    def opt_plan(df):
        return df._jdf.queryExecution().optimizedPlan().toString()

    assert "bloom" not in opt_plan(j).lower()  # fixture scale: no-op
    baseline = j.collect()

    app_thr = "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
    saved_thr = spark.conf.get(app_thr)
    saved_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set(app_thr, "0")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j2 = li.join(p, li.l_partkey == p.p_partkey).groupBy(
            "p_brand").agg(F.count("*").alias("n"))
        assert "bloom_filter" in opt_plan(j2).lower()
        assert j2.collect() == baseline
    finally:
        spark.conf.set(app_thr, saved_thr)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved_bc)
