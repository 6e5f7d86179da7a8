"""Stream start (streaming/windows.py ``_start``): every engine sink
fixes its state-partition count once, when the stream starts — 1 in the
interactive posture ``tune_for_data_size`` records, else the session's
shuffle width — and the checkpoint freezes it. A checkpoint on the local
``file`` scheme commits through Spark's FileSystem checkpoint manager.
The session's own shuffle width and manager are left as the caller set
them. Also: one watermark per stream, so the watermarked dedup feeds the
stream window.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import threading
import time

import pytest
from py4j.protocol import Py4JJavaError
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from puregraphdb_spark.engine import Engine, is_interactive
from puregraphdb_spark.sources.registry import load_table
from puregraphdb_spark.streaming import windows as sw
from puregraphdb_spark.streaming.dedup import (
    dedup_stream, dedup_stream_within_watermark,
)
from tests.conftest import SF_DIR

#: Wider than the fixture's 30-day span: no row is ever late.
WATERMARK = "40 days"
MANAGER = "spark.sql.streaming.checkpointFileManagerClass"
_CKPT = "org.apache.spark.sql.execution.streaming.checkpointing."
#: Spark's own choice for ``file:`` when no manager class is set.
FILE_CONTEXT = _CKPT + "FileContextBasedCheckpointFileManager"
FILE_SYSTEM = _CKPT + "FileSystemBasedCheckpointFileManager"
_POSTURE = ("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions",
            "spark.sql.inMemoryColumnarStorage.compressed",
            "spark.sql.constraintPropagation.enabled", MANAGER,
            "fs.defaultFS", "fs.hdfs.impl")


@pytest.fixture
def posture(spark):
    """Restores the session confs a test (or tune_for_data_size) sets,
    unsetting those that were unset."""
    saved = {k: spark.conf.get(k, None) for k in _POSTURE}
    yield spark
    for k, v in saved.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)


@pytest.fixture(scope="module")
def events(spark):
    ev = load_table(spark, SF_DIR, "events").persist()
    yield ev
    ev.unpersist()


class Arrivals:
    """A source directory fed one parquet file at a time (in mtime
    order, which is the file source's processing order)."""

    def __init__(self, root):
        self.src = str(root / "src")
        self.tmp = str(root / "tmp")
        self.sink = str(root / "sink")
        self.ckpt = str(root / "ckpt")
        os.makedirs(self.src)
        self.parts = []

    def arrive(self, df) -> None:
        df.coalesce(1).write.mode("overwrite").parquet(self.tmp)
        part = next(p for p in os.listdir(self.tmp) if p.endswith(".parquet"))
        dest = os.path.join(self.src, f"f{len(self.parts):03d}.parquet")
        shutil.copy(os.path.join(self.tmp, part), dest)
        mtime = 1_000_000 * (len(self.parts) + 1)
        os.utime(dest, (mtime, mtime))
        self.parts.append(df)

    def flush(self, events) -> None:
        """Two one-row files far past the newest event: the first moves
        the watermark past every real window, the second's batch runs
        with it, so every real window reaches the sink."""
        mx, top = events.agg(F.max("ts"), F.max("event_id")).first()
        for i, days in enumerate((60, 120)):
            self.arrive(events.limit(1).withColumns({
                "event_id": F.lit(top + 1 + i),
                "ts": F.lit(mx) + F.expr(f"interval {days} days")}))
        self.newest = mx

    def run(self, spark, pipeline, plain=False):
        """Drain what has arrived through ``pipeline`` into the parquet
        sink, one file per batch; returns the finished query. ``plain``
        starts it with Spark's own ``start()`` in place of the engine's
        ``write_stream_parquet``."""
        stream = pipeline(sw.read_parquet_stream(
            spark, self.src, self.parts[0].schema, max_files_per_trigger=1))
        if plain:
            q = (stream.writeStream.format("parquet")
                 .option("path", self.sink)
                 .option("checkpointLocation", self.ckpt)
                 .trigger(availableNow=True).start())
        else:
            q = sw.write_stream_parquet(stream, self.sink, self.ckpt,
                                        trigger_available_now=True)
        q.awaitTermination()
        return q

    def recorded_partitions(self, batch: int) -> int:
        """The state-partition count the offset log holds for ``batch``."""
        with open(os.path.join(self.ckpt, "offsets", str(batch))) as f:
            meta = json.loads(f.read().splitlines()[1])
        return int(meta["conf"]["spark.sql.shuffle.partitions"])

    def state_dirs(self) -> int:
        """Partition directories of the first stateful operator."""
        return sum(d.isdigit()
                   for d in os.listdir(os.path.join(self.ckpt, "state", "0")))


def tune_to_width_2(spark) -> None:
    """The interactive posture at a batch width of 2, so that a state
    width of 1 differs from it: a threshold of 16 times the input makes
    ceil(bytes * 32 / threshold) = 2 (given two cores, as the tier-1
    session's local[nproc] has)."""
    eng = Engine(spark, SF_DIR, register_views=False)
    eng.tune_for_data_size(interactive_threshold=eng.input_bytes() * 16)
    assert spark.conf.get("spark.sql.shuffle.partitions") == "2"


def managers(q) -> set[str]:
    """Classes of the checkpoint managers of ``q``'s offset, commit and
    file-source logs (the source keeps its log in a private field)."""
    ex = q._jsq.streamingQuery()
    src = ex.sources().head()
    field = src.getClass().getDeclaredField("metadataLog")
    field.setAccessible(True)
    return {log.fileManager().getClass().getName()
            for log in (ex.offsetLog(), ex.commitLog(), field.get(src))}


def exact_dedup_window(df):
    return sw.tumbling_window_stream(dedup_stream(df, ["event_id"]),
                                     "1 hour", WATERMARK)


def assert_sink_equals_batch(spark, arr: Arrivals) -> None:
    """The sink's real windows equal the batch dedup + window of every
    row that arrived before the flush."""
    got = (spark.read.parquet(arr.sink)
           .filter(F.col("win") <= F.lit(arr.newest)).collect())
    real = arr.parts[:-2]
    batch = real[0]
    for p in real[1:]:
        batch = batch.unionByName(p)
    want = {(r["win"], r["event_type"]): r
            for r in exact_dedup_window(batch).collect()}
    assert len(got) == len(want) > 0
    for r in got:
        w = want[(r["win"], r["event_type"])]
        assert r["n"] == w["n"]
        # sum_val is a rounded float sum: partition order may flip the
        # last rounded digit
        assert r["sum_val"] == pytest.approx(w["sum_val"], abs=0.0101)


def test_tuned_session_starts_with_one_state_partition(posture, events,
                                                       tmp_path):
    spark = posture
    tune_to_width_2(spark)
    assert spark.conf.get("spark.sql.adaptive.enabled") == "false"
    assert sw.state_partitions(spark) == 1
    arr = Arrivals(tmp_path)
    arr.arrive(events)
    arr.run(spark, exact_dedup_window)
    assert arr.recorded_partitions(0) == 1
    assert arr.state_dirs() == 1
    # the batch side keeps the tuned width
    assert spark.conf.get("spark.sql.shuffle.partitions") == "2"


def test_untuned_session_keeps_its_shuffle_width(posture, events,
                                                 tmp_path):
    spark = posture
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.shuffle.partitions", "5")
    assert sw.state_partitions(spark) == 5
    arr = Arrivals(tmp_path)
    arr.arrive(events)
    arr.run(spark, exact_dedup_window)
    assert arr.recorded_partitions(0) == 5
    assert spark.conf.get("spark.sql.shuffle.partitions") == "5"


def test_aqe_off_without_tuning_is_not_interactive(posture):
    """Only ``tune_for_data_size`` puts a session in the interactive
    posture; a session that merely has AQE off keeps its width, and a
    tuned one that turns AQE back on leaves the posture."""
    spark = posture
    eng = Engine(spark, SF_DIR, register_views=False)
    eng.tune_for_data_size(interactive_threshold=0)  # cluster: no conf set
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions", "6")
    assert not is_interactive(spark)
    assert sw.state_partitions(spark) == 6
    tune_to_width_2(spark)
    assert is_interactive(spark)
    assert sw.state_partitions(spark) == 1
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert not is_interactive(spark)
    assert sw.state_partitions(spark) == 2


def test_failed_start_restores_session_width(posture, events, tmp_path):
    spark = posture
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.shuffle.partitions", "17")
    arr = Arrivals(tmp_path)
    arr.arrive(events)
    stream = sw.read_parquet_stream(spark, arr.src, events.schema)
    for manager in (None, FILE_CONTEXT):  # unset, then set by the user
        if manager:
            spark.conf.set(MANAGER, manager)
        with pytest.raises(AnalysisException):  # file sinks only append
            sw.write_stream_parquet(exact_dedup_window(stream), arr.sink,
                                    arr.ckpt, mode="update")
        assert spark.conf.get("spark.sql.shuffle.partitions") == "17"
        assert spark.conf.get(MANAGER, None) == manager


class Initialized:
    """The query a stand-in writer starts: its sources are built."""

    def __init__(self):
        self._jsq = self

    def streamingQuery(self):
        return self

    def awaitInitialization(self, timeout_ms):
        pass


def test_concurrent_starts_each_see_their_width_and_restore(posture):
    """Starts from many threads: each ``start()`` runs with the state
    width and the local manager, and the session's width and unset
    manager survive them all (a restore that read another start's
    temporary value would leave it behind)."""
    spark = posture
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.shuffle.partitions", "23")
    want = str(sw.state_partitions(spark))
    df = spark.range(1)
    seen: list[tuple] = []

    class Writer:
        def start(self):
            seen.append((spark.conf.get("spark.sql.shuffle.partitions"),
                         spark.conf.get(MANAGER, None)))
            time.sleep(0.001)
            return Initialized()

    def starts():
        for _ in range(5):
            sw._start(Writer(), df, None)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=starts) for _ in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
        assert not any(t.is_alive() for t in threads)
    finally:
        sys.setswitchinterval(interval)
    assert seen == [(want, FILE_SYSTEM)] * 40
    assert spark.conf.get("spark.sql.shuffle.partitions") == "23"
    assert spark.conf.get(MANAGER, None) is None


class ManagerSeen:
    """A stand-in writer: records the manager conf ``start()`` sees."""

    def __init__(self, spark):
        self.spark = spark
        self.seen = []

    def start(self):
        self.seen.append(self.spark.conf.get(MANAGER, None))
        return Initialized()


def test_user_set_manager_is_kept(posture, tmp_path):
    spark = posture
    spark.conf.set(MANAGER, FILE_CONTEXT)
    w = ManagerSeen(spark)
    sw._start(w, spark.range(1), str(tmp_path / "ckpt"))
    sw._start(w, spark.range(1), None)
    assert w.seen == [FILE_CONTEXT] * 2
    assert spark.conf.get(MANAGER) == FILE_CONTEXT


def test_remote_checkpoint_keeps_sparks_choice(posture):
    """An ``hdfs`` location, given or resolved against ``fs.defaultFS``,
    keeps Spark's choice of manager. The scheme is read from the URI
    alone: with no FileSystem class for ``hdfs``, instantiating one
    would fail, and no namenode is contacted."""
    spark = posture
    spark.conf.set("fs.hdfs.impl", "no.such.FileSystem")
    w = ManagerSeen(spark)
    sw._start(w, spark.range(1), "hdfs://nn/x")
    spark.conf.set("fs.defaultFS", "hdfs://nn")
    sw._start(w, spark.range(1), "/x")
    sw._start(w, spark.range(1), None)
    assert w.seen == [None] * 3
    spark.conf.set("fs.defaultFS", "file:///")
    sw._start(w, spark.range(1), "/x")
    assert w.seen[-1] == FILE_SYSTEM
    assert spark.conf.get(MANAGER, None) is None


def test_local_stream_commits_through_the_filesystem_manager(
        posture, events, tmp_path):
    """A started query's offset, commit and source logs use the
    FileSystem manager (the source builds its log after ``start()``
    returns), and under it an atomic create of an existing batch file
    fails and leaves the file as it was: the guard behind the offset
    log's "concurrent update" error."""
    spark = posture
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    arr = Arrivals(tmp_path)
    arr.arrive(events)
    q = arr.run(spark, exact_dedup_window)
    assert managers(q) == {FILE_SYSTEM}
    batch0 = os.path.join(arr.ckpt, "offsets", "0")
    with open(batch0, "rb") as f:
        before = f.read()
    hadoop = spark._jvm.org.apache.hadoop
    out = (q._jsq.streamingQuery().offsetLog().fileManager()
           .createAtomic(hadoop.fs.Path(batch0), False))
    out.write(bytearray(b"v1\n{}"))
    with pytest.raises(Py4JJavaError) as err:
        out.close()
    assert (hadoop.fs.FileAlreadyExistsException._java_lang_class
            .isInstance(err.value.java_exception))
    with open(batch0, "rb") as f:
        assert f.read() == before


@pytest.mark.parametrize("spark_first", [True, False],
                         ids=["spark-then-engine", "engine-then-spark"])
def test_restart_across_checkpoint_managers(posture, events, tmp_path,
                                            spark_first):
    """A checkpoint written by Spark's own ``start()`` (FileContext
    manager) continues through ``write_stream_parquet`` (FileSystem
    manager), and the reverse: the dedup state survives the restart and
    the sink equals the batch run of the same rows."""
    spark = posture
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    mid = events.select(
        F.percentile_approx("ts", 0.5).cast("timestamp")).first()[0]
    first = events.filter(F.col("ts") <= F.lit(mid))
    arr = Arrivals(tmp_path)
    arr.arrive(first)
    q = arr.run(spark, exact_dedup_window, plain=spark_first)
    assert managers(q) == {FILE_CONTEXT if spark_first else FILE_SYSTEM}
    arr.arrive(events.filter(F.col("ts") > F.lit(mid))
               .unionByName(first.limit(50)))  # 50 re-sent rows
    arr.flush(events)
    q = arr.run(spark, exact_dedup_window, plain=not spark_first)
    assert managers(q) == {FILE_SYSTEM if spark_first else FILE_CONTEXT}
    assert q.lastProgress["batchId"] >= 3
    assert_sink_equals_batch(spark, arr)


def test_restart_keeps_the_frozen_count(posture, events, tmp_path):
    """Run 1 starts untuned with a width of 2; run 2 restarts from the
    same checkpoint in the interactive posture (which would pick 1).
    The offset log and the state layout keep run 1's count, the dedup
    state survives the restart (re-sent rows of run 1 are dropped in
    run 2), and the sink equals the batch run of the same rows."""
    spark = posture
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    frozen = 2
    mid = events.select(
        F.percentile_approx("ts", 0.5).cast("timestamp")).first()[0]
    first = events.filter(F.col("ts") <= F.lit(mid))
    second = events.filter(F.col("ts") > F.lit(mid))
    arr = Arrivals(tmp_path)
    arr.arrive(first)
    arr.run(spark, exact_dedup_window)
    assert arr.recorded_partitions(0) == frozen

    tune_to_width_2(spark)
    assert sw.state_partitions(spark) == 1
    arr.arrive(second.unionByName(first.limit(50)))  # 50 re-sent rows
    arr.flush(events)
    q = arr.run(spark, exact_dedup_window)
    last = q.lastProgress["batchId"]
    assert last >= 3
    assert all(arr.recorded_partitions(b) == frozen
               for b in range(1, last + 1))
    assert arr.state_dirs() == frozen
    assert spark.conf.get("spark.sql.shuffle.partitions") == "2"
    assert_sink_equals_batch(spark, arr)


def test_watermarked_dedup_feeds_the_stream_window(spark, events, tmp_path):
    """dedup_stream_within_watermark → tumbling_window_stream: the dedup
    sets the watermark and the window reuses it (Spark refuses a second
    one on the same column). The sink equals the batch dedup + window."""
    def pipeline(df):
        return sw.tumbling_window_stream(
            dedup_stream_within_watermark(df, ["event_id"], "ts", WATERMARK),
            "1 hour", "2 hours")

    mid = events.select(
        F.percentile_approx("ts", 0.5).cast("timestamp")).first()[0]
    first = events.filter(F.col("ts") <= F.lit(mid))
    arr = Arrivals(tmp_path)
    arr.arrive(first)
    arr.arrive(events.filter(F.col("ts") > F.lit(mid))
               .unionByName(first.limit(50)))
    arr.flush(events)
    arr.run(spark, pipeline)
    assert_sink_equals_batch(spark, arr)
