"""Engine surface tests: generic sources/sinks, pandas_udf extension
surface, skew utilities, partitioned/bucketed writers, SQL door parity.
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from puregraphdb_spark.engine import Engine
from puregraphdb_spark.functions.udf import register, vectorized
from puregraphdb_spark.operators.skew import salted_aggregate, salted_join
from puregraphdb_spark.sources.registry import (
    load_table, read_source, write_partitioned, write_sink,
)
from tests.conftest import SF_DIR


def test_csv_json_roundtrip(spark, tmp_path):
    nation = load_table(spark, SF_DIR, "nation")
    for fmt in ("csv", "json"):
        path = str(tmp_path / f"nation_{fmt}")
        write_sink(nation, path, fmt)
        back = read_source(spark, path, fmt)
        assert back.count() == nation.count()
        assert set(back.columns) == set(nation.columns)
        got = {r["n_nationkey"]: r["n_name"] for r in back.collect()}
        want = {r["n_nationkey"]: r["n_name"] for r in nation.collect()}
        assert got == want


def test_load_table_drops_the_memo_of_stopped_sessions(spark):
    """A stopped session's memoized tables (and, through them, the
    session) are dropped at the next ``load_table``; a live session's
    stay. A stand-in plays the stopped session, so the shared test
    session keeps running."""
    from types import SimpleNamespace

    from puregraphdb_spark.sources import registry

    class Stopped:  # what SparkSession.stop() leaves: no JVM context
        sparkContext = SimpleNamespace(_jsc=None)

    live = load_table(spark, SF_DIR, "nation")
    key = (Stopped(), SF_DIR, "nation", 1)
    registry._LOADED[key] = live
    try:
        assert load_table(spark, SF_DIR, "nation") is live
        assert key not in registry._LOADED
    finally:
        registry._LOADED.pop(key, None)


def test_partitioned_write_prunes(spark, tmp_path):
    orders = load_table(spark, SF_DIR, "orders").withColumn(
        "o_year", F.year("o_orderdate")
    )
    path = str(tmp_path / "orders_by_year")
    write_partitioned(orders, path, partition_by=["o_year"])
    back = spark.read.parquet(path)
    pruned = back.filter(F.col("o_year") == 1995)
    plan = pruned.explain if False else pruned._jdf.queryExecution().executedPlan().toString()
    assert pruned.count() == orders.filter(F.col("o_year") == 1995).count()
    # partition pruning: the scan must not list every year directory
    assert "PartitionFilters" in plan or "o_year" in plan


def test_vectorized_udf_and_sql_registration(spark):
    @vectorized("double")
    def double_it(s: pd.Series) -> pd.Series:
        return s * 2.0

    df = spark.createDataFrame([(1.5,), (2.5,)], ["x"])
    got = sorted(r["y"] for r in df.select(double_it("x").alias("y")).collect())
    assert got == [3.0, 5.0]

    register(spark, "triple_it", lambda s: s * 3.0, "double")
    df.createOrReplaceTempView("t_udf")
    got = sorted(r["y"] for r in spark.sql(
        "select triple_it(x) as y from t_udf").collect())
    assert got == [4.5, 7.5]


def test_salted_aggregate_matches_plain(spark):
    df = spark.range(0, 10000).select(
        (F.col("id") % 3).alias("k"), (F.col("id") % 7).cast("double").alias("x")
    )
    plain = {r["k"]: (r["s"], r["n"]) for r in df.groupBy("k").agg(
        F.sum("x").alias("s"), F.count("*").alias("n")).collect()}
    salted = {r["k"]: (r["s"], r["n"]) for r in salted_aggregate(
        df, "k",
        aggs=[F.sum("x").alias("s"), F.count("*").alias("n")],
        merges=[F.sum("s").alias("s"), F.sum("n").alias("n")],
    ).collect()}
    assert plain == salted


def test_salted_join_matches_plain(spark):
    left = spark.range(0, 5000).select((F.col("id") % 5).alias("k"), "id")
    right = spark.createDataFrame(
        [(i, f"v{i}") for i in range(5)], ["k", "v"])
    plain = left.join(right, "k").count()
    salted = salted_join(left, right, "k", salt=4).count()
    assert plain == salted


def test_salted_join_rejects_right_preserving_joins(spark):
    # right/full outer would surface each unmatched right row once per
    # salt replica — the helper must refuse rather than silently dup.
    left = spark.range(0, 10).select(F.col("id").alias("k"))
    right = spark.range(0, 10).select(F.col("id").alias("k"))
    import pytest

    for how in ("right", "full", "outer", "full_outer", "cross"):
        with pytest.raises(ValueError, match="salt-safe"):
            salted_join(left, right, "k", salt=4, how=how)


def test_asof_join_preserves_matched_row_nulls(spark):
    # The matched (latest ≤ ts) right row carries a genuine NULL in one
    # column: the as-of join must return THAT row's NULL, not backfill
    # the value from an older right row — and every attached column
    # must come from the same right row.
    from puregraphdb_spark.operators.asof import as_of_join

    left = spark.createDataFrame([(1, 10)], ["k", "ts"])
    right = spark.createDataFrame(
        [(1, 1, 100.0, "old"), (1, 5, None, "new")],
        ["k", "ts", "price", "tag"],
    )
    row = as_of_join(
        left, right, on="k", left_ts="ts", right_ts="ts",
        right_cols=["price", "tag"],
    ).collect()[0]
    assert row["asof_tag"] == "new"
    assert row["asof_price"] is None  # NOT 100.0 from the older row


def test_engine_sql_door_matches_dataframe(spark):
    eng = Engine(spark, SF_DIR)
    # EP1 ≡ EP2 self-consistency (SURVEY §5): same query both doors
    ep1 = (
        eng.table("lineitem").groupBy("l_returnflag")
        .agg(F.round(F.sum("l_quantity"), 2).alias("s"))
        .orderBy("l_returnflag").collect()
    )
    ep2 = eng.sql(
        "select l_returnflag, round(sum(l_quantity),2) as s "
        "from lineitem group by l_returnflag order by l_returnflag"
    ).collect()
    assert [tuple(r) for r in ep1] == [tuple(r) for r in ep2]


def test_bucketed_write(spark, tmp_path):
    # managed table lands in the session's default warehouse; DROP TABLE
    # (managed) purges the files afterwards.
    nation = load_table(spark, SF_DIR, "nation")
    try:
        write_partitioned(
            nation, path="", bucket_by=(4, ["n_nationkey"]),
            table_name="nation_bucketed",
        )
        back = spark.table("nation_bucketed")
        assert back.count() == 25
    finally:
        spark.sql("drop table if exists nation_bucketed")


def test_bucketed_join_skips_both_shuffles(spark):
    """The 100-TB co-located-join story, asserted on the plan: two
    tables bucketed on the same key join with ZERO shuffle exchanges —
    each side's bucketing satisfies the join's distribution
    requirement. This is what write_partitioned's bucket_by is FOR."""
    from puregraphdb_spark.plans import count_exchanges

    orders = load_table(spark, SF_DIR, "orders") \
        .select("o_orderkey", "o_custkey", "o_totalprice")
    lineitem = load_table(spark, SF_DIR, "lineitem") \
        .select("l_orderkey", "l_quantity")
    try:
        write_partitioned(orders, path="", bucket_by=(8, ["o_orderkey"]),
                          table_name="orders_b")
        write_partitioned(lineitem, path="", bucket_by=(8, ["l_orderkey"]),
                          table_name="lineitem_b")
        joined = spark.table("lineitem_b").join(
            spark.table("orders_b"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        # disable broadcast so the join must pick a shuffle-family
        # strategy — bucketing must then satisfy both sides' clustering
        saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            joined = spark.table("lineitem_b").join(
                spark.table("orders_b"),
                F.col("l_orderkey") == F.col("o_orderkey"),
            )
            assert count_exchanges(joined) == 0
            assert joined.count() > 0
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
    finally:
        spark.sql("drop table if exists orders_b")
        spark.sql("drop table if exists lineitem_b")


def test_bucketed_write_requires_table_name(spark):
    nation = load_table(spark, SF_DIR, "nation")
    with pytest.raises(ValueError):
        write_partitioned(nation, "/tmp/x", bucket_by=(4, ["n_nationkey"]))


def test_tune_for_data_size_small_input(untuned_after):
    spark = untuned_after
    eng = Engine(spark, SF_DIR, register_views=False)
    nbytes = eng.input_bytes()
    assert nbytes > 0  # Hadoop FS resolution works on local paths
    # sf0.001 is far below the interactive threshold → latency mode
    eng.tune_for_data_size()
    assert spark.conf.get("spark.sql.adaptive.enabled") == "false"
    assert spark.conf.get("spark.sql.shuffle.partitions") == "1"
    # above-threshold inputs leave the cluster-scale defaults alone
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    eng.tune_for_data_size(interactive_threshold=nbytes)  # nbytes !< nbytes
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert spark.conf.get("spark.sql.shuffle.partitions") == "32"


def test_tuned_width_follows_the_input(untuned_after):
    """The interactive width is one shuffle partition per 4 MiB of input
    (32 shares of the threshold), at least 1 and at most one per core."""
    spark = untuned_after
    eng = Engine(spark, SF_DIR, register_views=False)
    nbytes = eng.input_bytes()
    cores = spark.sparkContext.defaultParallelism
    eng.tune_for_data_size()  # 0.5 MiB: under one 4 MiB share
    assert spark.conf.get("spark.sql.shuffle.partitions") == "1"
    eng.tune_for_data_size(interactive_threshold=nbytes + 1)
    assert spark.conf.get("spark.sql.shuffle.partitions") \
        == str(min(32, cores))
    eng.tune_for_data_size(interactive_threshold=nbytes * 16)
    assert spark.conf.get("spark.sql.shuffle.partitions") \
        == str(min(2, cores))


def test_cli_door_runs_sql_and_call(untuned_after, capsys):
    """CLI main(): SQL and CALL statements over a data dir, CSV out.
    Runs in-process against the shared session (getOrCreate reuses it),
    which ``main()`` tunes; the fixture undoes that for later tests."""
    from puregraphdb_spark.__main__ import main

    rc = main([
        "--data-dir", SF_DIR,
        "--sql", "select count(*) as n from region",
        "--sql", "select r_regionkey from region order by r_regionkey",
        "--limit", "3",
    ])
    assert rc == 0
    lines = [l for l in capsys.readouterr().out.splitlines() if l]
    assert lines[0] == "n"
    assert lines[1] == "5"
    assert lines[2] == "r_regionkey"
    assert lines[3:6] == ["0", "1", "2"]


def test_engine_audit_reports_plan_shape(spark):
    from puregraphdb_spark.engine import Engine
    from tests.conftest import SF_DIR

    eng = Engine(spark, SF_DIR)
    a = eng.audit(
        eng.sql("select l_returnflag, count(*) n from lineitem group by 1")
    )
    assert a["shuffles"] >= 1 and a["python_eval"] == "none"
    assert set(a) == {"shuffles", "broadcasts", "codegen_spans",
                      "python_eval"}
    # a row-level python UDF must be called out as the slow path
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    slow = F.udf(lambda x: x + 1, LongType())
    b = eng.audit(eng.table("nation").select(slow("n_nationkey")))
    assert b["python_eval"] == "row-udf"


def test_engine_audit_flags_apply_in_pandas_as_arrow(spark):
    """applyInPandas (FlatMapGroupsInPandas) is a sanctioned Arrow seam
    and must report python_eval='arrow', not 'none' (ADVICE r6)."""
    import pandas as pd

    from puregraphdb_spark.engine import Engine
    from tests.conftest import SF_DIR

    eng = Engine(spark, SF_DIR)

    def ident(pdf: pd.DataFrame) -> pd.DataFrame:
        return pdf

    df = (
        eng.table("nation")
        .select("n_regionkey", "n_nationkey")
        .groupBy("n_regionkey")
        .applyInPandas(ident, "n_regionkey long, n_nationkey long")
    )
    assert eng.audit(df)["python_eval"] == "arrow"


def test_key_skew_profile_empty_input_has_null_ratios(spark):
    """Empty input: n_rows=0 with NULL ratios, never NaN (ADVICE r6)."""
    from pyspark.sql import functions as F

    from puregraphdb_spark.operators.skew import key_skew_profile

    empty = spark.range(0).select(F.col("id").alias("k"))
    row = key_skew_profile(empty, "k").collect()[0]
    assert row["n_keys"] == 0 and row["n_rows"] == 0
    assert row["skew_ratio"] is None and row["top10_share"] is None


def test_interval_validation_rejects_garbage(spark):
    import pytest as _pytest

    from puregraphdb_spark.functions.intervals import (
        interval_expr, validate_interval,
    )
    from puregraphdb_spark.operators.events import funnel, stage_frame

    assert validate_interval(" 7 DAYS ") == "7 day"
    for bad in ("7", "days 7", "7 fortnights", "1 day) OR (1=1", ""):
        with _pytest.raises(ValueError):
            validate_interval(bad)
    with _pytest.raises(ValueError):
        funnel(spark.range(1).selectExpr(
            "id user_id", "current_timestamp() ts", "'view' event_type"
        ), ["view", "click"], within="nonsense interval")
    with _pytest.raises(ValueError):
        stage_frame(spark, ["ok", "bad'quote"])
    assert interval_expr("2 hours") is not None


def test_snapshot_diff_classifies_null_safely(spark):
    from puregraphdb_spark.operators.extras import snapshot_diff

    old = spark.createDataFrame(
        [(1, 10, "x"), (2, 20, None), (3, 30, "z"), (4, 40, "w")],
        ["k", "v", "t"])
    new = spark.createDataFrame(
        [(2, 20, None),        # identical incl. null compare → unchanged
         (3, 31, "z"),         # value change → changed
         (4, 40, None),        # non-null → null → changed (null-safe)
         (5, 50, "new")],      # added
        ["k", "v", "t"])
    got = {r["k"]: r["change"]
           for r in snapshot_diff(old, new, ["k"], ["v", "t"]).collect()}
    assert got == {1: "removed", 2: "unchanged", 3: "changed",
                   4: "changed", 5: "added"}

    with pytest.raises(ValueError):
        snapshot_diff(old, new, [], ["v"])
    with pytest.raises(ValueError):
        snapshot_diff(old, new, ["k"], [])
