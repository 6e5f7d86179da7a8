"""EP2 completeness: the Spark-dialect SQL library must reproduce the
DataFrame door bit-for-bit for every query whose ORACLE text is
DuckDB-only — together with test_sql_door_parity (shared-ANSI
statements) this makes every declared §2 query runnable as plain SQL
through ``Engine.sql``.
"""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest

import __spark_entry__ as entrymod
from puregraphdb_spark.engine import Engine
from puregraphdb_spark.sql_library import SPARK_SQL, to_spark
from tests.conftest import SF_DIR, assert_frames_match

QUERIES = entrymod.queries()


def test_library_covers_exactly_the_duckdb_only_set():
    from tests.test_sql_door_parity import DUCKDB_ONLY

    # every DuckDB-only oracled query has a Spark-dialect SQL text
    oracled = set(entrymod.oracle_sql())
    assert set(SPARK_SQL) >= (DUCKDB_ONLY & oracled), (
        (DUCKDB_ONLY & oracled) - set(SPARK_SQL)
    )
    # ... and nothing else: a SPARK_SQL entry for a query that is not
    # declared, or whose oracle became shared-ANSI (double-tested),
    # would otherwise rot silently.
    extras = set(SPARK_SQL) - set(QUERIES)
    assert not extras, f"SPARK_SQL entries for undeclared queries: {extras}"
    stale = set(SPARK_SQL) - (DUCKDB_ONLY & oracled)
    assert not stale, f"SPARK_SQL entries outside the DuckDB-only set: {stale}"


@pytest.fixture(scope="module")
def eng(spark):
    return Engine(spark, SF_DIR)


@pytest.mark.parametrize("name", sorted(SPARK_SQL))
def test_spark_sql_matches_dataframe_door(eng, spark, name):
    sdf = eng.sql(SPARK_SQL[name]).toPandas()
    ddf = QUERIES[name](spark, SF_DIR).toPandas()
    assert_frames_match(sdf, ddf)


def test_engine_sql_for(eng, spark):
    got = eng.sql_for("q28_text_stats").toPandas()
    want = QUERIES["q28_text_stats"](spark, SF_DIR).toPandas()
    assert_frames_match(got, want)
    with pytest.raises(KeyError):
        eng.sql_for("not_a_query")


def test_guarded_slice_is_exact_or_raises(eng):
    """DuckDB's computed slice derives to a guarded Spark ``slice``:
    equal to DuckDB where the guard holds, an error (not a list that
    differs) where it does not."""
    def both(sl):
        sql = f"select l{sl} as s from (select [1, 2, 3] as l)"
        return eng.sql(to_spark(sql)).collect()[0].s, duckdb.sql(
            sql).fetchone()[0]

    for sl in ("[2:3]", "[2:9]", "[2:1]", "[4:5]"):
        got, want = both(sl)
        assert list(got) == want, sl
    for sl in ("[0:2]", "[3:1]"):
        with pytest.raises(Exception, match="list_slice"):
            both(sl)
