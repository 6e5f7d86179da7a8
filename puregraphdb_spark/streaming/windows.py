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
files × partitions × operators × batches whatever the row count. On a
local file system without Hadoop's native library every file create
forks ``chmod`` (about 16 ms per small file, measured on 4 vCPU), and
that fixed cost, not state I/O, dominates a small trigger. Every
engine sink therefore starts through ``_start``, which fixes the count
once, by ``state_partitions``:

- interactive posture (``engine.is_interactive``: the last
  ``Engine.tune_for_data_size`` found the input too small for AQE to
  pay and turned it off) → 1. A trigger's shuffle is then far below
  AQE's own minimum partition size, so AQE would have coalesced it to
  one partition — but AQE does not run on stateful operators, so the
  engine takes that decision at start.
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
#: Serializes the set/restore of the session conf around ``start()``.
_START_LOCK = threading.Lock()


def state_partitions(spark: SparkSession) -> int:
    """The state-partition count a stream started now gets (module
    docstring): 1 in the interactive posture, else the session's shuffle
    width. The checkpoint freezes it at the first start."""
    if is_interactive(spark):
        return 1
    return int(spark.conf.get(_SHUFFLE_PARTITIONS))


def _start(writer: DataStreamWriter, df: DataFrame) -> StreamingQuery:
    """Start ``writer`` (configured from ``df.writeStream``) with
    ``state_partitions`` state partitions. ``start()`` clones the
    session synchronously, so the width is set for that call only and
    the caller's value is restored, also when ``start()`` fails.

    The lock only orders ``_start`` callers. The width is set on the
    shared session, so a batch query planned on another thread while a
    stream starts would run with it: do not run batch queries on the
    session concurrently with a stream start."""
    spark = df.sparkSession
    with _START_LOCK:
        saved = spark.conf.get(_SHUFFLE_PARTITIONS)
        spark.conf.set(_SHUFFLE_PARTITIONS, str(state_partitions(spark)))
        try:
            return writer.start()
        finally:
            spark.conf.set(_SHUFFLE_PARTITIONS, saved)


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
    its input grows, until a new checkpoint (and empty state).
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
    return _start(w, stream_df)


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
    _start(w, stream_df).awaitTermination()
