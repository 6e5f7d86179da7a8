"""Shared fixtures: one SparkSession + one DuckDB oracle per session.

Test data dir: sf0.001 (smallest, fastest); override with
SPARK_GRAFT_TEST_SF_DIR.
"""

from __future__ import annotations

import os
import sys

import duckdb
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from puregraphdb_spark.engine import get_session  # noqa: E402
from puregraphdb_spark.sources.registry import TABLES  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1
    s = get_session(app_name="puregraphdb-tests", master=f"local[{cpus}]")
    s.sparkContext.setLogLevel("ERROR")
    yield s


#: The session confs ``Engine.tune_for_data_size`` sets.
TUNED_CONFS = ("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions",
               "spark.sql.inMemoryColumnarStorage.compressed",
               "spark.sql.constraintPropagation.enabled")


@pytest.fixture
def untuned_after(spark):
    """The shared session, put back after the test as it was before:
    for tests that tune it, directly or through the CLI's ``main()``.
    The confs tuning sets are restored (unset if they were unset) and
    the session leaves the interactive set unless it was in it, so later
    modules keep the session's own posture."""
    from puregraphdb_spark import engine

    saved = {k: spark.conf.get(k, None) for k in TUNED_CONFS}
    was_interactive = spark._jsparkSession in engine._INTERACTIVE_SESSIONS
    yield spark
    for k, v in saved.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)
    if not was_interactive:
        engine._INTERACTIVE_SESSIONS.discard(spark._jsparkSession)


@pytest.fixture(scope="session")
def oracle():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"create view {t} as select * from "
            f"read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Driver-comparison normal form: columns sorted by name, rows
    sorted by all columns, timestamps at µs, floats as float64."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            df[c] = pd.to_datetime(s).astype("datetime64[us]")
        elif pd.api.types.is_float_dtype(s):
            df[c] = s.astype("float64")
        elif pd.api.types.is_integer_dtype(s):
            df[c] = s.astype("int64")
    return df.sort_values(list(df.columns), ignore_index=True)


def assert_frames_match(sdf: pd.DataFrame, odf: pd.DataFrame) -> None:
    assert len(sdf) == len(odf), f"rows spark={len(sdf)} oracle={len(odf)}"
    assert sorted(sdf.columns) == sorted(odf.columns)
    # EXACT — the driver's value hash has no tolerance.
    pd.testing.assert_frame_equal(
        normalize(sdf), normalize(odf), check_dtype=False, rtol=0.0, atol=0.0
    )
