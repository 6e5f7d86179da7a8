"""Benchmark the 30 oracled SURVEY §2 queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line: {"metric", "value" (total sec), "unit", "queries"
(per-query sec), "sf"}.

Methodology (steady-state, per SURVEY §6): one shared SparkSession,
base tables persisted + materialized before timing, one untimed warmup
sweep (JIT/codegen/broadcast warm), then RUNS full TIMED SWEEPS over
all queries with each query's best kept — the same execution count as
consecutive best-of-RUNS, but the repeats of one query are minutes
apart, so a transient host-contention burst (observed: co-tenant load
spikes to loadavg 10+) must span the entire bench to corrupt a
query's minimum. Results materialize via Arrow toPandas (comparable
to the DuckDB baseline's fetch). Session startup (~7 s) is
deliberately outside the timed region — fixed overhead amortized
across a workload, not per-query cost.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from puregraphdb_spark.engine import Engine, get_session  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
RUNS = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "5"))


def main() -> None:
    import __spark_entry__ as entrymod

    spark = get_session(master=f"local[{CPUS}]")
    spark.sparkContext.setLogLevel("ERROR")
    # Size shuffle fan-out to the measured input volume BEFORE loading
    # tables (sub-GB inputs run in fixed-8-partition / AQE-off latency
    # mode; the fact-table key repartition honors the same width).
    eng = Engine(spark, SF_DIR, register_views=False)
    eng.tune_for_data_size()
    eng.register_all_views()
    # Materialize the persisted base tables so scans come from the
    # in-memory columnar cache during timing.
    for name in ("lineitem", "orders", "customer", "supplier", "part",
                 "nation", "region", "events", "documents", "embeddings"):
        eng.table(name).persist().count()

    qs = {k: v for k, v in entrymod.queries().items() if k.startswith("q")}

    # Build each query's DataFrame ONCE (prepared-statement model: the
    # Python-side plan construction is a one-time cost, like DuckDB's
    # sub-ms parse+plan), then time FULL RE-EXECUTIONS. Timing the same
    # Dataset object directly would be wrong in the other direction:
    # ShuffleExchangeExec caches its shuffled RDD per plan instance, so
    # repeat actions skip every pre-shuffle stage and measure only the
    # result fetch (measured: core-30 "total" 0.86 s that way — not an
    # execution time). `where(lit(True))` forces a fresh QueryExecution
    # with NEW exchange instances each run — every stage genuinely
    # re-executes (verified per-query against cold rebuilds; the filter
    # itself folds away in optimization) — while the prepared plan and
    # the persisted base tables stay warm, matching the DuckDB
    # baseline's warm-page-cache full re-execution methodology.
    from pyspark.sql import functions as F

    dfs = {name: fn(spark, SF_DIR) for name, fn in qs.items()}
    for df in dfs.values():
        df.toPandas()  # warmup sweep (untimed)

    # Load-invariant calibration (VERDICT r13 item 5): the same
    # core-30 oracle SQL runs through DuckDB INTERLEAVED with the
    # Spark sweeps — both engines feel the same co-tenant minute, so
    # the spark/duckdb ratio in the record is comparable across
    # rounds even when absolute wall-clock drifts 30% with host load
    # (the r13 "regression" that burned a SCALECHECK A/B to disprove).
    # NOTE the metric's meaning: calib_ratio is SYMMETRIC best-of-RUNS
    # warm vs best-of-RUNS warm — a STRICTER denominator than
    # BASELINE.md's single-run DuckDB numbers (measured: best-of-5
    # warm DuckDB core-30 ≈ 2.5 s vs the 3.81 s frozen single-run).
    # The 2× BENCH bar is defined against BASELINE.md and stays
    # judged on `value`; calib_ratio exists for ROUND-OVER-ROUND
    # comparison at equal host load, not for the bar.
    import re as _re

    import duckdb as _duck

    core_names = [k for k in qs
                  if _re.match(r"^q(0[1-9]|[12][0-9]|30)_", k)]
    calib_sql = {k: v for k, v in entrymod.oracle_sql().items()
                 if k in core_names}
    con = _duck.connect()
    for t in ("region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "documents",
              "embeddings"):
        con.execute(
            f"create view {t} as select * from "
            f"read_parquet('{SF_DIR}/{t}.parquet')")
    for sql in calib_sql.values():
        con.execute(sql).df()  # warmup (page cache + duckdb state)

    timings: dict[str, float] = {}
    calib: dict[str, float] = {}
    for _ in range(RUNS):
        for name, df in dfs.items():
            t0 = time.perf_counter()
            df.where(F.lit(True)).toPandas()
            dt = time.perf_counter() - t0
            if dt < timings.get(name, float("inf")):
                timings[name] = round(dt, 4)
        for name, sql in calib_sql.items():
            t0 = time.perf_counter()
            con.execute(sql).df()
            dt = time.perf_counter() - t0
            if dt < calib.get(name, float("inf")):
                calib[name] = round(dt, 4)
    con.close()

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf_val: float | str = float(sf)
    except ValueError:
        sf_val = sf
    # headline total = the BASELINE.md-comparable core 30 (q01–q30);
    # extended queries (q31+) are timed and reported but not summed.
    # Anchored regex, not a string compare: "q100_..."[:3] <= "q30"
    # is True, so the old prefix test silently pulled the 3-digit
    # round-7 queries into the core total (measured: +2.0 s of
    # phantom "regression" the per-query diff couldn't see).
    core = {
        k: v for k, v in timings.items()
        if _re.match(r"^q(0[1-9]|[12][0-9]|30)_", k)
    }
    duck_total = round(sum(calib.values()), 4)
    record = {
        "metric": "survey30_total",
        "value": round(sum(core.values()), 4),
        "unit": "sec",
        "queries": timings,
        "sf": sf_val,
        "duckdb_calib_sec": duck_total,
        "calib_ratio": (
            round(sum(core.values()) / duck_total, 4)
            if duck_total > 0 else None),
        "calib_queries": calib,
    }
    # stdout carries ONE compact machine line (core-30 map only, 3-dp,
    # ~1 KB): a line with all per-query floats overflows a reader that
    # keeps only the tail of the output. The full per-query record goes
    # to stderr. No file is written.
    compact = {
        "metric": "survey30_total",
        "value": record["value"],
        "unit": "sec",
        # short ids ("q01") keep the line ~0.5 KB; full names live in
        # the stderr record
        "queries": {k.split("_", 1)[0]: round(v, 3)
                    for k, v in sorted(core.items())},
        "sf": sf_val,
        "n_queries_timed": len(timings),
        # same-minute DuckDB core-30 + the load-invariant ratio
        "duckdb_calib_sec": duck_total,
        "calib_ratio": record["calib_ratio"],
    }
    print("bench full record: " + json.dumps(record), file=sys.stderr)
    print(json.dumps(compact))


if __name__ == "__main__":
    main()
