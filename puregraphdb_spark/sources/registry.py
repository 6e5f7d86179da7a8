"""Source registry: the ten fixture tables (FIXTURES.md) + generic readers.

Parquet is the canonical format (only format present in the test
environment — SURVEY.md §2.2). The readers are thin on purpose: a bare
``spark.read.parquet`` gives Catalyst the embedded schema, the vectorized
reader, row-group statistics skipping, predicate pushdown and column
pruning for free. Anything we wrapped around it (manual partitioning,
eager caching) would only remove optimizer freedom.

The one thing ``load_table`` does before the read is take a one-file
table's schema from its parquet footer on the driver (fixed schemas —
SURVEY.md §1.2) and hand it to ``spark.read.schema(...)``. Spark's own
schema inference runs a job even for one file, which would make
registering the ten tables ten jobs before the first query. The footer
read goes through the same Spark helpers and session flags as that job,
so the schema and the plan are the same. A table stored as a directory
keeps Spark's inference.

At 100 TB the same entry point works unchanged: point ``data_dir`` at a
directory tree partitioned by a natural key (e.g. ship month) and Spark
adds partition pruning on top; see ``write_partitioned`` for the writer
that produces that layout.
"""

from __future__ import annotations

import json
import os

from py4j.protocol import Py4JError
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

#: The canonical table set (driver registers the same names as DuckDB views).
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

#: Fact tables get hash-partitioned on their primary join key at load
#: when the underlying scan has too few splits (single-row-group fixture
#: files read as ONE partition — every first stage would otherwise run
#: near-serially). Partitioning by the join key makes the layout behave
#: like bucketed tables: orders⋈lineitem and the lineitem self-join see
#: compatible outputPartitioning and skip their shuffles entirely, and a
#: persisted table keeps the partitioning in cache. On a real cluster
#: (many files → many splits) the repartition is skipped — deployments
#: get the same effect from actual bucketed/partitioned layouts
#: (write_partitioned below).
_PARTITION_KEYS: dict[str, str | None] = {
    "lineitem": "l_orderkey",
    # orders keys on CUSTOMER: the per-customer window family (q11-q13)
    # and custkey joins/aggs (q09, q18) then need no exchange at all,
    # while orderkey joins only re-shuffle the small orders side
    # (lineitem, 4× bigger, keeps its orderkey co-location).
    "orders": "o_custkey",
    "events": "user_id",
    "documents": None,  # round-robin: no dominant join key
    "embeddings": None,
}

#: Memoized per (session, dir, name) so every query in a session builds
#: on the identical DataFrame object → identical canonical plans →
#: cache/exchange reuse is guaranteed, and the scan-split probe runs
#: once. Keyed on the session object (SparkSession hashes by identity):
#: a memoized DataFrame keeps its session alive, so a key never matches
#: a different session, and a session rebuilt after ``stop()`` is a
#: new object that never hits the old entries. ``load_table`` drops the
#: entries of stopped sessions, so they do not outlive their session.
_LOADED: dict[tuple[SparkSession, str, str, int], DataFrame] = {}


def _scan_partitions(spark: SparkSession) -> int:
    """The repartition width load_table would use under the CURRENT
    session conf (also part of the memo key — see load_table)."""
    par = spark.sparkContext.defaultParallelism
    try:
        par = min(par, int(spark.conf.get("spark.sql.shuffle.partitions")))
    except (TypeError, ValueError):
        pass  # non-numeric conf (foreign session) → cores-wide default
    return par


def _footer_schema(spark: SparkSession, path: str) -> StructType | None:
    """The schema Spark's parquet inference gives the single file
    ``path``, read on the driver from its footer. It goes through Spark's
    own ``ParquetFileFormat.readSchema``, which builds its schema
    converter from the session conf just as the inference job does
    (``nanosAsLong``, the TIMESTAMP_NTZ rules), and reads the Spark schema
    a Spark writer stored in the footer, field metadata included.

    None where Spark's inference is left to do it: schema merging is on,
    the path does not exist, it is a directory (part files, or a
    partitioned layout that needs partition discovery), or the footer
    does not read. The caller then reads without a schema, so any error
    is Spark's own."""
    if spark.conf.get("spark.sql.parquet.mergeSchema", "false").lower() == "true":
        return None
    try:
        jvm, jss = spark._jvm, spark._jsparkSession
        conf = jss.sessionState().newHadoopConf()
        hpath = jvm.org.apache.hadoop.fs.Path(path)
        status = hpath.getFileSystem(conf).getFileStatus(hpath)
        if status.isDirectory():
            return None
        parquet = getattr(getattr(jvm.org.apache.spark.sql.execution.datasources.parquet,
                                  "ParquetFileFormat$"), "MODULE$")
        files = jvm.org.apache.spark.api.python.PythonUtils.toSeq([status])
        footers = parquet.readParquetFootersInParallel(conf, files, False)
        schema = parquet.readSchema(footers, jss)
    except Py4JError:  # a missing or unreadable file, or no such helper
        return None
    return None if schema.isEmpty() else StructType.fromJson(json.loads(schema.get().json()))


def load_table(spark: SparkSession, data_dir: str, name: str) -> DataFrame:
    """Read one named table from ``{data_dir}/{name}.parquet`` (or a
    partitioned directory of the same name, transparently).

    Path resolution goes through Spark itself (an AnalysisException
    fallback), not driver-local ``os.path`` — so ``data_dir`` may be any
    Hadoop-compatible URI (s3://, hdfs://, file:/), matching the
    partitioned-directory 100-TB posture.

    For a one-file table the schema comes from its parquet footer, read
    on the driver by ``_footer_schema``, because Spark's inference would
    run one job per table to read that same footer. A directory (part
    files, or the partitioned-directory fallback) keeps Spark's
    inference, which lists it and discovers its partitions.
    """
    # The memo key includes the repartition width the CURRENT session
    # conf would pick: memoizing only on (session, dir, name) let the
    # first loader's latency-mode width leak into every later caller
    # of the same session (order-dependent plans; found r11 via an
    # order-dependent plan-pin failure).
    for stopped in [k for k in _LOADED if k[0].sparkContext._jsc is None]:
        del _LOADED[stopped]
    key = (spark, data_dir, name, _scan_partitions(spark))
    if key in _LOADED:
        return _LOADED[key]

    # Event-time columns: the fixtures store events.ts as parquet
    # TIMESTAMP(NANOS), which Spark refuses by default
    # (PARQUET_TYPE_ILLEGAL). Read nanos as long, then convert to a
    # proper TimestampType. Runtime-settable SQL conf; idempotent — set
    # on the memo-miss path only (a conf.set is a py4j roundtrip, and
    # hot query builds call load_table several times per plan).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Event-time bucket starts / year()/month() must be engine-independent
    # regardless of the host session's zone (DuckDB treats parquet
    # timestamps as wall-clock).
    spark.conf.set("spark.sql.session.timeZone", "UTC")

    path = os.path.join(data_dir, f"{name}.parquet")
    schema = _footer_schema(spark, path)
    try:
        reader = spark.read if schema is None else spark.read.schema(schema)
        df = reader.parquet(path)
    except AnalysisException:
        # partitioned-directory layout (100-TB posture)
        df = spark.read.parquet(os.path.join(data_dir, name))

    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # `div` (integer division) — a double-precision `/` on ~1.7e18
        # nanos would lose sub-µs bits and could truncate a boundary µs.
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))

    # Fixtures written with isAdjustedToUTC=false read as TIMESTAMP_NTZ;
    # normalize to TimestampType under the pinned-UTC session so every
    # operator sees one timestamp type (unix_micros & friends reject NTZ)
    # and event-time semantics stay wall-clock UTC — exactly how DuckDB
    # reads the same files. The cast interprets the NTZ wall clock in
    # the session zone (UTC), so it is value-preserving.
    ntz = [c for c, d in df.dtypes if d == "timestamp_ntz"]
    for c in ntz:
        df = df.withColumn(c, F.col(c).cast("timestamp"))

    if name in _PARTITION_KEYS:
        # The repartition IS a shuffle, so its width honors the session's
        # shuffle fan-out (latency mode pins it low for sub-GB inputs;
        # cluster deployments keep the cores-wide default).
        par = _scan_partitions(spark)
        if df.rdd.getNumPartitions() < max(2, par // 2):
            pkey = _PARTITION_KEYS[name]
            df = df.repartition(par, pkey) if pkey else df.repartition(par)

    _LOADED[key] = df
    return df


def load_tables(spark: SparkSession, data_dir: str,
                names: tuple[str, ...] = TABLES) -> dict[str, DataFrame]:
    return {n: load_table(spark, data_dir, n) for n in names}


#: Memoized on-disk sizes per (dir, name) — one FS metadata call each.
_SIZES: dict[tuple[str, str], int] = {}


def table_bytes(spark: SparkSession, data_dir: str, name: str) -> int:
    """On-disk bytes of a named table, resolved through the Hadoop
    FileSystem API (works for file:/, s3://, hdfs://). Metadata-only —
    no data is read."""
    key = (data_dir, name)
    if key not in _SIZES:
        jvm = spark._jvm
        conf = spark._jsc.hadoopConfiguration()
        total = 0
        for cand in (f"{name}.parquet", name):
            path = jvm.org.apache.hadoop.fs.Path(os.path.join(data_dir, cand))
            fs = path.getFileSystem(conf)
            if fs.exists(path):
                total = int(fs.getContentSummary(path).getLength())
                break
        _SIZES[key] = total
    return _SIZES[key]


def broadcast_if_small(df: DataFrame, spark: SparkSession, data_dir: str,
                       source_table: str,
                       threshold: int = 64 << 20) -> DataFrame:
    """Size-aware broadcast hint: apply ``F.broadcast`` only when the
    MEASURED on-disk size of the table the input derives from is under
    ``threshold``.

    This is for inputs whose size Catalyst cannot estimate statically
    (aggregate outputs keyed on an unbounded column, e.g. a per-partkey
    average): a plain hint would force-broadcast something that grows
    with the data (OOM at 100 TB — a hint overrides the size threshold
    and AQE cannot demote it), while no hint makes the static planner
    assume child-sized output and pick a shuffle join even at fixture
    scale. The measured source size is a sound upper-bound proxy for
    one-row-per-key aggregates over that table's key space.
    """
    if table_bytes(spark, data_dir, source_table) < threshold:
        return F.broadcast(df)
    return df


def shuffle_hash_if_small(df: DataFrame, spark: SparkSession,
                          data_dir: str, source_table: str,
                          threshold: int = 2 << 30,
                          expanded: bool = False) -> DataFrame:
    """Size-aware SHUFFLE_HASH hint (guide §3.1): prefer a shuffled
    hash join (skip both sort passes) only while the MEASURED on-disk
    size of the table the input derives from is under ``threshold``.

    Same discipline as ``broadcast_if_small``: aggregate-derived
    relations carry no usable size statistics, so the planner's
    ``canBuildLocalHashMap`` check rejects them and every equi-join
    lands on sort-merge even when each build partition is a few MB
    (measured on q91's 3 aggregate-derived SMJs: 1.499 → 1.283 s
    best-of-5 noop with the hint, identical rows). A bare hint would
    keep forcing hash builds when the relation has grown by 10⁶× —
    build-partition OOM risk the sort-merge default absorbs by
    spilling — so past the gate the planner default stands. Under a
    2 GiB source the derived relation's per-partition build is at most
    a few hundred MB across even a narrow 8-partition latency-mode
    fan-out, comfortably inside execution memory.

    Pair-expansion caveat (ADVICE r14): that sizing argument assumes
    the hinted relation derives near-LINEARLY from the source (joins,
    filters, one-row-per-key aggregates). Self-join/co-occurrence
    expansions grow SUPERLINEARLY with per-group cardinality, and a
    ShuffledHashJoin build side cannot spill — a skewed or
    denser-than-TPC-H dataset still under the source gate could build
    a partition the sort-merge default would simply have spilled.
    Call sites hinting a pair-expanded relation (q65/q85/q86's
    co-occurrence edges) therefore use ``expanded=True``, which drops
    the gate to ``threshold/8`` (256 MiB of source for a quadratic
    derivation): the hinted fast path keeps its measured fixture-scale
    win and hands over to sort-merge well before build-side residency
    is in question.
    """
    if expanded:
        threshold //= 8
    if table_bytes(spark, data_dir, source_table) < threshold:
        return df.hint("shuffle_hash")
    return df


def final_sort(df: DataFrame, spark: SparkSession, data_dir: str,
               source_table: str, *sort_cols,
               threshold: int = 2 << 30,
               row_preserving: bool = False,
               fold: bool = False) -> DataFrame:
    """Totally-ordered FINAL result, sized by the measured input.

    A plain ``orderBy`` plans a range sort: RangePartitioner first runs
    a SAMPLING JOB that re-executes the whole child plan, then range-
    shuffles — for an interactive-scale query that roughly doubles the
    execution (measured: q23 0.51 s → 0.30 s with this helper). Under
    the gate (input table under ``threshold`` bytes, same 2 GiB line
    ``Engine.tune_for_data_size`` uses) the result is small enough that
    a one-partition sort is a single task over the final rows — no
    sampling pass, no range exchange. Past the gate the distributed
    range sort is the only shape that scales, and it's kept verbatim.

    Only for the LAST operator of a query (a 1-partition intermediate
    would serialize the rest of the plan). ``orderBy(...).limit(k)``
    call sites should stay as-is: Catalyst already plans those as
    TakeOrderedAndProject with no sampling job.

    ``row_preserving=True`` is for queries that emit ~one row per input
    row (windowed projections, keep-latest dedup): the gate compares the
    source's COMPRESSED on-disk bytes, but the result the single task
    must sort is the DECOMPRESSED row set — a source just under 2 GiB
    would funnel a multi-GiB result through one spilling task. Those
    call sites gate at threshold/8 (256 MiB compressed ≈ ~1-2 GiB
    in-memory rows), keeping the distributed range sort for anything
    bigger.

    ``fold=True`` (r15, guide §2.4/§7): under the gate, use
    ``coalesce(1)`` instead of ``repartition(1)`` — a NARROW dependency
    that folds the one-partition sort into the stage above ``df``'s own
    last shuffle (one fewer Exchange and one fewer scheduling round; at
    the sub-200 ms fixture floor a whole stage is ~60-90 ms). The price
    is that EVERYTHING between that last shuffle and the sort runs in
    one task, so it is ONLY for call sites where ``df`` is the direct
    output of a shuffle-backed aggregate whose final merge is a few
    (thousand) rows — never above a window or a heavy projection, which
    ``repartition(1)``'s extra exchange deliberately keeps parallel.
    Past the gate ``fold`` is ignored (distributed range sort).
    """
    if row_preserving:
        threshold //= 8
    if table_bytes(spark, data_dir, source_table) < threshold:
        if fold:
            return df.coalesce(1).sortWithinPartitions(*sort_cols)
        return df.repartition(1).sortWithinPartitions(*sort_cols)
    return df.orderBy(*sort_cols)


def read_source(spark: SparkSession, path: str, fmt: str = "parquet",
                schema=None, **options) -> DataFrame:
    """Generic reader for the non-canonical formats (csv/json/orc/text).

    Parquet is the primary format (embedded schema, vectorized reader,
    pushdown); csv/json default to an explicit schema — at scale,
    schema inference is a full extra pass over the data, so pass one.
    """
    reader = spark.read.format(fmt)
    if schema is not None:
        reader = reader.schema(schema)
    elif fmt in ("csv", "json"):
        reader = reader.option("inferSchema", "true")
    if fmt == "csv":
        reader = reader.option("header", options.pop("header", "true"))
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load(path)


def write_sink(df: DataFrame, path: str, fmt: str = "parquet",
               mode: str = "overwrite", **options) -> None:
    """Generic sink: parquet/csv/json/orc with format options."""
    writer = df.write.format(fmt).mode(mode)
    if fmt == "csv":
        writer = writer.option("header", options.pop("header", "true"))
    for k, v in options.items():
        writer = writer.option(k, v)
    writer.save(path)


def write_partitioned(df: DataFrame, path: str,
                      partition_by: list[str] | None = None,
                      bucket_by: tuple[int, list[str]] | None = None,
                      table_name: str | None = None) -> None:
    """Write a table in the layout large deployments need.

    - ``partition_by``: hive-style directory partitioning → partition
      pruning on those columns at read time.
    - ``bucket_by=(n, cols)``: pre-shuffled bucketed layout → joins and
      aggregations on ``cols`` skip the shuffle entirely (requires a
      saveAsTable catalog entry, hence ``table_name``).
    """
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    if bucket_by:
        n, cols = bucket_by
        if not table_name:
            raise ValueError("bucketed writes need table_name (catalog-backed)")
        w.bucketBy(n, *cols).sortBy(*cols).saveAsTable(table_name)
        return
    w.parquet(path)
