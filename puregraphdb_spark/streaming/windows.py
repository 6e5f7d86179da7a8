"""Structured-Streaming deployment of the event-window operators.

The batch versions in ``operators.events`` are the oracled ones; these
mirror their column contracts on unbounded streams (SURVEY §7.5):

- tumbling:  (win, event_type, n, sum_val)        — same as q20
- session:   (user_id, session_start, session_end, n_events)
  (streaming session windows are keyed by real time intervals, not the
  batch lag-derived ordinal ``sid`` — documented divergence: a stream
  cannot assign stable per-user ordinals without total history.)

Watermarks bound state: events later than ``watermark`` behind the max
seen event time are dropped and their windows finalized. A stream has
ONE watermark per event-time column: the first operator that sets it
governs, and every later operator here reuses it (``_with_watermark``)
— Spark refuses to redefine one.

State partitions. The shuffle in front of a stateful operator is keyed
by the window/group columns exactly like the batch plans, and its
width is the number of state-store partitions. Each of them commits
its own state files (a delta plus, on Spark 4.1, a checksum file) per
stateful operator per micro-batch, so a trigger pays a fixed cost of
files × partitions × operators × batches whatever the row count.

Cost per file. Every checkpoint file (offset, commit, source-log,
state delta, state checksum, the sink's ``_spark_metadata``) is
written to a temp file and renamed. On a local file system without
Hadoop's native library, creating a file forks ``chmod`` twice, and
Spark's default manager for ``file:`` (``FileContext``-based) also
forks ``readlink`` 8 times per file while it resolves paths. Counted
with a logging shim on ``PATH`` over the benchmark's ingest triggers:
142 forks per trigger on average, 110 ``readlink`` + 32 ``chmod``.
``_start`` therefore fixes two things once, when the stream starts:

- the checkpoint manager: on the local ``file`` scheme,
  ``FileSystemBasedCheckpointFileManager`` — the same files, the same
  write-temp-then-rename and the same check-then-rename "fail if it
  exists" guard, with no ``readlink``: 32 forks per trigger. Other
  schemes (hdfs, s3a, …) and a manager class set on the session keep
  their choice. The checkpoint format is the same, so a checkpoint
  written under either manager restarts under the other.
- the state-partition count, by ``state_partitions``:

  - interactive posture (``engine.is_interactive``: the last
    ``Engine.tune_for_data_size`` found the input too small for AQE
    to pay and turned it off) → 1. A trigger's shuffle is then far
    below AQE's own minimum partition size, so AQE would have
    coalesced it to one partition — but AQE does not run on stateful
    operators, so the engine takes that decision at start.
  - otherwise → the session's own ``spark.sql.shuffle.partitions``.

The checkpoint's offset log records the count and a restart restores
it from there, so it is frozen for the life of the checkpoint: a
stream started with 1 state partition keeps all its stateful work on
one partition however large its input grows, and only a new checkpoint
(which drops the state) changes that. Batch queries of the same
session keep their own width.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery
from pyspark.sql.types import StructType

from puregraphdb_spark.engine import is_interactive

_SHUFFLE_PARTITIONS = "spark.sql.shuffle.partitions"
_MANAGER = "spark.sql.streaming.checkpointFileManagerClass"
#: The checkpoint manager of a stream on the local ``file`` scheme.
_LOCAL_MANAGER = ("org.apache.spark.sql.execution.streaming.checkpointing."
                  "FileSystemBasedCheckpointFileManager")
#: Serializes the set/restore of the session conf around ``start()``.
_START_LOCK = threading.Lock()
#: Longest wait for a started query to build its sources. Past it the
#: manager is restored anyway: the source log may then take Spark's
#: default manager, which writes the same files.
_INIT_WAIT_MS = 10_000


def state_partitions(spark: SparkSession) -> int:
    """The state-partition count a stream started now gets (module
    docstring): 1 in the interactive posture, else the session's shuffle
    width. The checkpoint freezes it at the first start."""
    if is_interactive(spark):
        return 1
    return int(spark.conf.get(_SHUFFLE_PARTITIONS))


def _checkpoint_scheme(spark: SparkSession,
                       checkpoint: str | None) -> str | None:
    """The URI scheme of a stream's checkpoint. Without a location
    (``run_available_now``) it is the session's
    ``spark.sql.streaming.checkpointLocation``, else the temp dir Spark
    creates, a path with no scheme. A path with no scheme resolves
    against ``fs.defaultFS``, as Spark resolves it. Only the URI is read:
    no FileSystem is instantiated, so no remote store is contacted."""
    loc = checkpoint or spark.conf.get(
        "spark.sql.streaming.checkpointLocation", None)
    hadoop = spark._jvm.org.apache.hadoop
    scheme = hadoop.fs.Path(loc).toUri().getScheme() if loc else None
    if scheme is None:
        conf = spark._jsparkSession.sessionState().newHadoopConf()
        scheme = hadoop.fs.FileSystem.getDefaultUri(conf).getScheme()
    return scheme


def _start(writer: DataStreamWriter, df: DataFrame,
           checkpoint: str | None) -> StreamingQuery:
    """Start ``writer`` (configured from ``df.writeStream`` with its
    checkpoint location ``checkpoint``, or none) with
    ``state_partitions`` state partitions and, on the local ``file``
    scheme, Spark's FileSystem checkpoint manager (module docstring).
    ``start()`` clones the session synchronously, so both are set for
    that call only and the caller's values are restored, also when
    ``start()`` fails. A manager class set on the session is kept.

    The file source builds its log on the query's own thread, from the
    reader's session rather than the clone, after ``start()`` returns.
    So a chosen manager stays set until the query has built its sources;
    a query that has died by then raises its error here.

    The lock only orders ``_start`` callers. The confs are set on the
    shared session, so a batch query planned on another thread while a
    stream starts would run with them: do not run batch queries on the
    session concurrently with a stream start."""
    spark = df.sparkSession
    with _START_LOCK:
        saved = spark.conf.get(_SHUFFLE_PARTITIONS)
        manager = spark.conf.get(_MANAGER, None)
        try:
            spark.conf.set(_SHUFFLE_PARTITIONS, str(state_partitions(spark)))
            local = (manager is None
                     and _checkpoint_scheme(spark, checkpoint) == "file")
            if local:
                spark.conf.set(_MANAGER, _LOCAL_MANAGER)
            query = writer.start()
            if local:
                query._jsq.streamingQuery().awaitInitialization(_INIT_WAIT_MS)
            return query
        finally:
            spark.conf.set(_SHUFFLE_PARTITIONS, saved)
            if manager is None:
                spark.conf.unset(_MANAGER)


def _with_watermark(df: DataFrame, col: str, delay: str) -> DataFrame:
    """``df.withWatermark(col, delay)`` unless ``col`` already carries a
    watermark: then the upstream one governs and ``df`` is returned
    unchanged."""
    if "spark.watermarkDelayMs" in df.schema[col].metadata:
        return df
    return df.withWatermark(col, delay)


def read_parquet_stream(spark: SparkSession, path: str,
                        schema: StructType,
                        max_files_per_trigger: int | None = None) -> DataFrame:
    """File-arrival stream over a parquet directory (schema required by
    Structured Streaming; take it from a batch read of the same data).

    TIMESTAMP_NTZ columns are normalized to TimestampType, mirroring
    ``sources.registry.load_table``: event-time operators (watermarks,
    windows) reject NTZ, and the engine pins the session to UTC so the
    cast is value-preserving wall-clock."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    df = reader.parquet(path)
    for c, d in df.dtypes:
        if d == "timestamp_ntz":
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def tumbling_window_stream(events: DataFrame, duration: str = "1 hour",
                           watermark: str = "2 hours") -> DataFrame:
    """Streaming mirror of events.tumbling_window (q20 contract).

    Groups on the WINDOW STRUCT (not ``.start``) — extracting the
    start inside the groupBy severs watermark propagation to the
    aggregation, and append-mode (durable-sink) queries are then
    rejected; the start is projected after the agg instead.

    ``watermark`` applies only when ``ts`` has none yet; a watermark set
    upstream (e.g. by ``dedup_stream_within_watermark``) governs.
    """
    return (
        _with_watermark(events, "ts", watermark)
        .groupBy(F.window("ts", duration).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 2).alias("sum_val"),
        )
        .select(F.col("w.start").alias("win"), "event_type", "n", "sum_val")
    )


def session_window_stream(events: DataFrame, gap: str = "30 minutes",
                          watermark: str = "2 hours") -> DataFrame:
    """Streaming sessionization via F.session_window (native state-store
    sessions; batch equivalent is events.sessionize). An upstream
    watermark on ``ts`` governs over ``watermark``."""
    sw = F.session_window("ts", gap)
    return (
        _with_watermark(events, "ts", watermark)
        .groupBy("user_id", sw)
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )


def write_stream_parquet(stream_df: DataFrame, path: str,
                         checkpoint: str, mode: str = "append",
                         trigger_available_now: bool = False):
    """Durable streaming sink: parquet files + checkpointed offsets —
    the deployment shape (exactly-once via the checkpoint's WAL; the
    output directory is the downstream batch engine's source). Append
    mode requires a watermarked aggregation upstream (finalized windows
    only); ``trigger_available_now`` drains-and-stops for backfills.
    The state-partition count is ``state_partitions`` of the session at
    the first start, frozen by the checkpoint from then on: a stream
    started in the interactive posture keeps 1 state partition however
    its input grows, until a new checkpoint (and empty state). A
    ``checkpoint`` on the local ``file`` scheme (or with no scheme, on a
    local ``fs.defaultFS``) commits through Spark's FileSystem
    checkpoint manager, which forks no ``readlink`` per file; either
    manager restarts from the other's checkpoint.
    Returns the StreamingQuery handle.
    """
    w = (
        stream_df.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .outputMode(mode)
    )
    if trigger_available_now:
        w = w.trigger(availableNow=True)
    return _start(w, stream_df, checkpoint)


def run_available_now(stream_df: DataFrame, table_name: str) -> None:
    """Drain everything currently available into an in-memory sink table
    (batch-equivalent execution of the streaming plan; used by tests and
    backfills). Blocks until the drain completes."""
    w = (
        stream_df.writeStream.format("memory")
        .queryName(table_name)
        .outputMode("complete")
        .trigger(availableNow=True)
    )
    _start(w, stream_df, None).awaitTermination()
