"""Engine: SparkSession factory + table registry.

The engine is the front door (SURVEY.md §3): EP1 is the Python DataFrame
API (``engine.table(...)`` chains), EP2 is SQL (``engine.sql(...)`` over
registered temp views), EP3 is the graph API (``engine.graph(...)``).

Scale posture: the session defaults below are chosen for correctness on
``local[*]`` while staying cluster-honest — AQE handles runtime partition
coalescing and skew-join splitting, so ``spark.sql.shuffle.partitions``
is a ceiling, not a tuning knob that would need re-derivation per
deployment. On a 1000-executor cluster the same code runs with a higher
ceiling (e.g. 2000) and AQE still right-sizes each exchange.

Below 128 MiB of input, ``Engine.tune_for_data_size`` switches to the
interactive posture: AQE off and a fixed shuffle width derived from the
measured input — one partition per 4 MiB, at most one per core, so
sf0.001/sf0.01 run every shuffle (and every graph superstep) on one
partition.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from puregraphdb_spark.sources.registry import TABLES, load_table


def _default_driver_memory() -> str:
    """Half the machine's physical memory, capped at 24g: a heap larger
    than the machine lets the JVM grow until the kernel kills it."""
    try:
        phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (AttributeError, ValueError, OSError):
        return "24g"
    return f"{max(1 << 10, min(24 << 10, (phys >> 20) // 2))}m"


_DEFAULT_CONF = {
    # local-mode JVM heap: the 1g default stalls GC on array-heavy
    # operators (collect_set adjacency, broadcasts). Applied only when
    # WE create the session; no effect on an already-running JVM.
    # SPARK_GRAFT_DRIVER_MEM overrides the machine-derived default.
    "spark.driver.memory": (os.environ.get("SPARK_GRAFT_DRIVER_MEM")
                            or _default_driver_memory()),
    # AQE: runtime re-optimization — coalesce post-shuffle partitions,
    # split skewed join partitions, demote/promote broadcast at runtime.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Ceiling for shuffle parallelism; AQE coalesces below it.
    "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_SHUFFLE", "32"),
    # Dim tables (region/nation/supplier/customer/part) are far below
    # this → broadcast hash joins, no shuffle of the fact side.
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    # Runtime bloom-filter pushdown (InjectRuntimeFilter): a selective
    # dim-side predicate on a SHUFFLE join builds a bloom filter that
    # prunes the fact side before the exchange — exactly the 100-TB
    # fact⋈filtered-dim shape where the dim outgrew broadcast. Off by
    # default in Spark; safe to enable always because the rule
    # self-gates on size (application side ≥ 10 GiB scan, creation
    # side ≤ 10 MiB), so it is a no-op at fixture scale — pinned both
    # ways in tests/test_scale_gates.py.
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    # Arrow for any toPandas()/pandas_udf boundary (tests, extensions).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Codegen class cache: the default 100 entries thrash on a 60+-query
    # workload (each plan holds 4–8 generated classes), forcing Janino
    # recompilation (~20–100 ms per stage) on every re-execution. Sized
    # for the whole declared surface; classes are small, the JVM code
    # cache is the real bound.
    "spark.sql.codegen.cache.maxEntries": "5000",
    # Session timezone pinned to UTC so event-time bucket starts are
    # engine-independent (DuckDB treats parquet timestamps as wall-clock).
    "spark.sql.session.timeZone": "UTC",
    # Fixtures store events.ts as parquet TIMESTAMP(NANOS); Spark 4.x
    # refuses it by default. Read as long nanos; sources.registry
    # converts to TimestampType (µs) on load.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # No web UI: its per-task listener bookkeeping is pure scheduling
    # overhead in an embedded/batch engine (part of the ~0.15 s/query
    # floor at local scale); deployments that want the UI re-enable it.
    "spark.ui.enabled": "false",
    "spark.ui.showConsoleProgress": "false",
    # Single-host latency knobs (no network, no spinning disks): don't
    # wait for locality slots, don't LZ4 tiny shuffle/broadcast blocks.
    # Cluster deployments override these in their spark-submit conf —
    # on a real network fabric compression and locality pay for
    # themselves; in-process they are pure per-task latency.
    "spark.locality.wait": "0",
    "spark.shuffle.compress": "false",
    "spark.shuffle.spill.compress": "false",
    "spark.broadcast.compress": "false",
}


def get_session(app_name: str = "puregraphdb-spark", master: str | None = None,
                conf: dict[str, str] | None = None) -> SparkSession:
    """Build (or fetch) the shared SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; on a real
    cluster the caller passes nothing and spark-submit supplies it.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_GRAFT_CPUS" in os.environ:
        master = f"local[{os.environ['SPARK_GRAFT_CPUS']}]"
    if master:
        builder = builder.master(master)
    merged = dict(_DEFAULT_CONF)
    if conf:
        merged.update(conf)
    for k, v in merged.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


#: JVM sessions the last ``tune_for_data_size`` put in the interactive
#: posture (see ``is_interactive``).
_INTERACTIVE_SESSIONS: set = set()


def is_interactive(spark: SparkSession) -> bool:
    """True while ``spark`` is in the interactive posture: its last
    ``Engine.tune_for_data_size`` found the input under the threshold,
    and AQE is still off as that call left it. AQE off alone (a tool or
    a user wanting fixed plans) is not the posture."""
    return (spark._jsparkSession in _INTERACTIVE_SESSIONS
            and spark.conf.get("spark.sql.adaptive.enabled").lower()
            == "false")


class Engine:
    """Table registry + query entry points over one SparkSession.

    >>> eng = Engine(spark, "/root/testdata/sf0.01")
    >>> eng.table("lineitem").filter(...)          # EP1: DataFrame
    >>> eng.sql("select count(*) from lineitem")   # EP2: SQL
    >>> eng.graph(vertices_df, edges_df)           # EP3: graph
    """

    def __init__(self, spark: SparkSession, data_dir: str,
                 register_views: bool = True):
        self.spark = spark
        self.data_dir = data_dir
        self._tables: dict[str, DataFrame] = {}
        if register_views:
            self.register_all_views()

    def table(self, name: str) -> DataFrame:
        """Lazily load a named table; schema comes from parquet footer
        (fixed schemas — SURVEY.md §1.2), so Catalyst gets exact types
        and the vectorized parquet reader handles the scan."""
        if name not in self._tables:
            self._tables[name] = load_table(self.spark, self.data_dir, name)
        return self._tables[name]

    def register_all_views(self) -> None:
        """Register every known table as a temp view so EP2 SQL matches
        the oracle's view names verbatim."""
        for name in TABLES:
            self.table(name).createOrReplaceTempView(name)

    def sql(self, query: str) -> DataFrame:
        """EP2. Plain SQL goes to Catalyst; ``CALL proc(key => value)``
        statements dispatch to the procedure registry (graph + LLM
        operators over registered views — SURVEY §7.5), returning the
        same lazy DataFrame the Python surface would."""
        from puregraphdb_spark import procedures

        if procedures.is_call(query):
            return procedures.dispatch_call(self.spark, query)
        return self.spark.sql(query)

    def graph(self, vertices: DataFrame, edges: DataFrame):
        from puregraphdb_spark.operators.graph import Graph
        return Graph(vertices, edges)

    def audit(self, df: DataFrame) -> dict:
        """Plan-quality audit of a DataFrame — the interactive twin of
        ``tools/plan_audit.py`` (which writes PLANS.md for the whole
        declared surface): shuffle-exchange count, broadcast-join
        count, whole-stage-codegen span count, and whether any
        row-level (non-Arrow) Python evaluation appears — the
        properties the 100-TB posture cares about, checkable on a
        user's own query before they ship it. ``python_eval`` is
        'row-udf' (the slow path — fix it), 'arrow' (a sanctioned
        mapInPandas/pandas-UDF seam), or 'none'.
        """
        from puregraphdb_spark.plans.explain import (
            broadcast_join_count, count_exchanges, physical_plan,
        )
        import re as _re

        plan = physical_plan(df)
        py = "BatchEvalPython" in plan
        # FlatMapGroupsInPandas prefix-matches the WithState variant —
        # applyInPandas / applyInPandasWithState are Arrow seams too
        # (ADVICE r6: they used to misreport as python_eval='none').
        arrow = (
            "ArrowEvalPython" in plan
            or "MapInPandas" in plan
            or "FlatMapGroupsInPandas" in plan
        )
        return {
            "shuffles": count_exchanges(df),
            "broadcasts": broadcast_join_count(df),
            "codegen_spans": len(set(_re.findall(r"\*\((\d+)\)", plan))),
            "python_eval": "row-udf" if py else (
                "arrow" if arrow else "none"),
        }

    def sql_for(self, query_name: str) -> DataFrame:
        """Run a named §2 query through EP2 from its Spark-dialect SQL
        text (``sql_library.SPARK_SQL``) — the SQL-door twin of the
        DataFrame-door operators, parity-tested bit-for-bit against
        them. The text is ``to_spark`` of the DuckDB oracle text where
        the rule table derives it exactly, and hand-written otherwise."""
        from puregraphdb_spark.sql_library import SPARK_SQL

        if query_name not in SPARK_SQL:
            known = ", ".join(sorted(SPARK_SQL))
            raise KeyError(
                f"no Spark-dialect SQL for {query_name!r} (have: {known}); "
                "shared-ANSI queries run verbatim via .sql(oracle text)"
            )
        return self.sql(SPARK_SQL[query_name])

    def input_bytes(self) -> int:
        """Total on-disk size of this engine's data_dir, resolved through
        the Hadoop FileSystem API so any URI scheme works (file:/, s3://,
        hdfs://) — never driver-local ``os.path``."""
        jvm = self.spark._jvm
        path = jvm.org.apache.hadoop.fs.Path(self.data_dir)
        fs = path.getFileSystem(
            self.spark._jsc.hadoopConfiguration())
        return int(fs.getContentSummary(path).getLength())

    def tune_for_data_size(self,
                           interactive_threshold: int = 128 << 20) -> None:
        """Size shuffle parallelism to the measured input volume.

        Below ~128 MiB every shuffle is a handful of MB: AQE's
        stage-barrier re-planning is pure scheduling latency (sf0.1,
        17 MiB: core-30 total 18.8 s with AQE and 32 partitions vs
        11.1 s with a fixed 8 and AQE off), so AQE goes off and the
        width follows the input — one partition per 4 MiB (32 shares of
        the threshold, the default cluster ceiling), at least 1, at most
        one per core: ``clamp(ceil(bytes * 32 / threshold), 1, cores)``.
        The 32 is fixed: ``SPARK_GRAFT_SHUFFLE`` moves only the cluster
        ceiling, not the width of small inputs.
        sf0.001 and sf0.01 run at 1, where a graph superstep is one
        stage of one task (edges and state are both ``SinglePartition``,
        so the join and the message aggregate need no Exchange); sf0.1
        runs at 4 on 4 cores. The width must grow with the input: at
        sf0.1 on 4 vCPU a fixed 1 was slower than 4 and 8 (pagerank
        3.4–3.8 s vs 2.2–2.8 s and 2.6–3.1 s; q25 2.0–2.1 s vs 1.1–1.4 s
        and 1.4–1.6 s).

        Above the threshold the defaults stand — AQE coalescing/skew-
        splitting is the win once shuffles carry real volume, and the
        derived width meets the default cluster ceiling there. The line was
        2 GiB through round 4; SCALECHECK's sf1 run (172 MiB input)
        showed that is too coarse: the graph self-joins shuffle tens of
        millions of rows there, and 8 fixed partitions starved 32 cores
        (q24 48 s latency-mode vs 25 s cluster posture, q25 39 s vs
        25 s).
        """
        _INTERACTIVE_SESSIONS.discard(self.spark._jsparkSession)
        nbytes = self.input_bytes()
        if nbytes < interactive_threshold:
            _INTERACTIVE_SESSIONS.add(self.spark._jsparkSession)
            # 32 shares of the threshold, the default cluster ceiling: a
            # literal, so that a cluster's larger SPARK_GRAFT_SHUFFLE
            # ceiling does not also widen small inputs
            width = min(max(1, -(-nbytes * 32 // interactive_threshold)),
                        self.spark.sparkContext.defaultParallelism)
            self.spark.conf.set("spark.sql.adaptive.enabled", "false")
            self.spark.conf.set("spark.sql.shuffle.partitions", str(width))
            # sub-GB cached tables: skip columnar-cache compression —
            # decompression on every cached scan costs more than the
            # memory it saves at this size (set before any persist()).
            self.spark.conf.set(
                "spark.sql.inMemoryColumnarStorage.compressed", "false")
            # Constraint propagation infers IsNotNull/equality filters
            # during optimization — valuable when inferred predicates
            # prune real I/O, but at sub-GB cached scale it is pure
            # per-query optimizer latency (~15% of plan time across the
            # core 30, measured). Cluster deployments keep it on.
            self.spark.conf.set(
                "spark.sql.constraintPropagation.enabled", "false")

    def cache_tables(self, names: list[str] | None = None) -> None:
        """Pin base tables in memory (bench/steady-state mode). On a
        cluster this is executor-memory-resident columnar cache; at
        100 TB you would cache only hot dims and rely on parquet +
        pushdown for facts."""
        for name in names or TABLES:
            self.table(name).persist()
