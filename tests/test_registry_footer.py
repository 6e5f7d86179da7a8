"""``load_table`` reads each table's schema from its parquet footer on
the driver, so registering the tables runs no Spark job, and what it
loads is what Spark's own schema inference would have given.
"""

from __future__ import annotations

import os
import re

import pytest
from pyspark.sql import functions as F

from puregraphdb_spark.engine import Engine
from puregraphdb_spark.sources import registry
from puregraphdb_spark.sources.registry import TABLES, load_table, write_partitioned
from tests.conftest import SF_DIR


@pytest.fixture
def fresh(spark):
    """A new session on the shared context: its own conf, temp views and
    ``load_table`` memo, as a driver's first session would have. Its
    memo entries are dropped afterwards."""
    session = spark.newSession()
    yield session
    for key in [k for k in registry._LOADED if k[0] is session]:
        del registry._LOADED[key]


def _jobs(spark, group, action):
    """The number of Spark jobs ``action()`` runs."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _plan(df) -> str:
    return re.sub(r"#\d+L?", "#", df._jdf.queryExecution().executedPlan().toString())


def test_footer_schema_and_plan_equal_spark_inference(fresh):
    """For every fixture table, under the conf ``load_table`` sets, the
    read with the footer schema has Spark's inferred schema (field
    metadata included) and the same physical plan."""
    load_table(fresh, SF_DIR, "region")  # sets the read confs
    for name in TABLES:
        path = os.path.join(SF_DIR, f"{name}.parquet")
        schema = registry._footer_schema(fresh, path)
        assert schema is not None, name
        ours = fresh.read.schema(schema).parquet(path)
        spark_s = fresh.read.parquet(path)
        assert ours.schema == spark_s.schema, name
        assert ours.schema.json() == spark_s.schema.json(), name
        assert _plan(ours) == _plan(spark_s), name


def test_register_all_views_runs_no_job(fresh):
    engine = Engine(fresh, SF_DIR, register_views=False)
    assert _jobs(fresh, "register-all-views", engine.register_all_views) == 0
    views = {t.name for t in fresh.catalog.listTables() if t.isTemporary}
    assert views == set(TABLES)
    assert fresh.table("region").count() == 5


def test_spark_written_directory_loads_with_inferred_schema(fresh, tmp_path):
    """A ``{name}.parquet/`` directory of Spark part files (plus the
    ``_SUCCESS`` marker) is left to Spark's inference, and loads with
    Spark's schema and the field metadata a Spark writer stores."""
    nation = load_table(fresh, SF_DIR, "nation").select(
        "n_nationkey", F.col("n_name").alias("n_name", metadata={"doc": "name"}))
    path = str(tmp_path / "nation.parquet")
    nation.repartition(3).write.parquet(path)
    assert os.path.exists(os.path.join(path, "_SUCCESS"))

    assert registry._footer_schema(fresh, path) is None
    back = load_table(fresh, str(tmp_path), "nation")
    assert back.schema == fresh.read.parquet(path).schema
    assert back.schema["n_name"].metadata == {"doc": "name"}
    assert sorted(back.collect()) == sorted(nation.collect())


@pytest.mark.parametrize("dirname", ["orders", "orders.parquet"])
def test_partitioned_table_keeps_spark_inference(fresh, tmp_path, dirname):
    """A ``write_partitioned`` table is left to Spark's inference, which
    adds the partition column: under ``{name}/`` through the fallback
    read, under ``{name}.parquet/`` because the footer path leaves every
    directory to Spark."""
    orders = load_table(fresh, SF_DIR, "orders").withColumn(
        "o_year", F.year("o_orderdate"))
    write_partitioned(orders, str(tmp_path / dirname), partition_by=["o_year"])

    back = load_table(fresh, str(tmp_path), "orders")
    assert registry._footer_schema(fresh, str(tmp_path / dirname)) is None
    assert sorted(back.columns) == sorted(orders.columns)
    assert back.filter(F.col("o_year") == 1995).count() \
        == orders.filter(F.col("o_year") == 1995).count()
