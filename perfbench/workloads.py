"""The benchmark's workloads: program set-up, timed calls, output checks
and the metrics each run reports.

A call is one call into the engine's public surface as a user makes it:
``__spark_entry__.queries()[name](spark, data_dir).toPandas()`` for the
query workload, one trigger (publish one input file, then
``processAllAvailable``) for the streaming workload. The client is a
single closed loop: the next call starts when the previous one returned.
Checks, cache clean-up and counter reads run between calls, outside the
timed span.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import time
import traceback
import uuid

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from perfbench import probes, reference
from perfbench.probes import median

SETUP_REPS = 3
#: ``--seconds`` buys one measured graph sweep or stream pass per this
#: many seconds (at least one). A fixed count, not a deadline: runs that
#: stopped at a deadline measured one sweep on a busy host and two on an
#: idle one, and the two give different statistics.
SECONDS_PER_SWEEP = 10


def sweeps(run: "Run") -> int:
    return max(1, int(run.args.seconds // SECONDS_PER_SWEEP))


class Failure(Exception):
    """A call returned a wrong result."""


class Run:
    """State of one benchmark run: settings, the current session and
    engine, the tracer, and the calls counted so far."""

    def __init__(self, args, work: str, data_dir: str):
        self.args = args
        self.cpus = int(args.cpus)
        self.work = work
        self.data_dir = data_dir
        self.tracer = probes.Tracer(enabled=bool(args.trace))
        self.rng = random.Random(args.seed)
        self.spark = None
        self.engine = None
        self.guard = None
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.setup_times: list[float] = []
        self.layer: dict[str, float] = {}
        self.notes: list[str] = []

    def fail(self, what: str, err: str, calls: int = 1) -> None:
        self.failed += calls
        self.failures.append(f"{what}: {err}")

    def set_up(self, tables: tuple[str, ...], extra=None) -> None:
        """Program set-up, done ``SETUP_REPS`` times with a fresh session:
        ``get_session``, ``tune_for_data_size``, ``register_all_views``,
        ``persist().count()`` of ``tables``, then ``extra(run)`` (the
        streaming query start). Only the first rep launches the JVM."""
        from puregraphdb_spark.engine import Engine, get_session

        # A fixed-size heap (-Xms = -Xmx) keeps the JVM's resident size
        # from following the collector's resizing decisions run to run.
        conf = {"spark.driver.extraJavaOptions":
                f"-Xms{self.args.driver_memory} "
                f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')}"}
        parts: dict[str, list[float]] = {}
        tr = self.tracer
        for rep in range(SETUP_REPS):
            if self.spark is not None:
                self.spark.stop()
            tid = f"setup-{rep}"
            t = [time.perf_counter()]
            with probes.Stopwatch() as sw, tr.span("setup", tid):
                with tr.span("engine.get_session", tid):
                    self.spark = get_session(conf=conf)
                    self.spark.sparkContext.setLogLevel("ERROR")
                t.append(time.perf_counter())
                with tr.span("engine.tune_for_data_size", tid):
                    self.engine = Engine(self.spark, self.data_dir,
                                         register_views=False)
                    self.engine.tune_for_data_size()
                t.append(time.perf_counter())
                with tr.span("engine.register_all_views", tid):
                    self.engine.register_all_views()
                for name in tables:
                    with tr.span("sources.load_table", tid, table=name):
                        self.engine.table(name).persist().count()
                t.append(time.perf_counter())
                if extra is not None:
                    with tr.span("setup.extra", tid):
                        extra(self)
            t.append(time.perf_counter())
            self.setup_times.append(sw.seconds)
            for key, a, b in (("engine.session_s", 0, 1),
                              ("engine.tune_s", 1, 2),
                              ("sources.load_s", 2, 3)):
                parts.setdefault(key, []).append(t[b] - t[a])
        self.guard = probes.CacheGuard(self.spark)
        self.layer.update({k: median(v) for k, v in parts.items()})
        self.layer["engine.cold_setup_s"] = self.setup_times[0]
        self.layer["sources.cache_mb"] = self.guard.cached_mb()

    def metrics(self, watches: list[probes.Stopwatch], rows: int,
                duckdb_ratio: float) -> dict:
        """End-to-end metrics: name -> (value, unit, samples), from the
        timed calls' steal-net seconds."""
        times = [w.seconds for w in watches]
        tail_p, tail_v = probes.tail(times)
        busy = sum(w.busy for w in watches)
        stolen = sum(w.steal for w in watches)
        self.notes.append(
            f"call_tail_s is the {tail_p} of {len(times)} timed calls; "
            f"hypervisor steal {stolen / max(busy + stolen, 1):.1%} of their "
            f"CPU time; raw wall p50 {median([w.wall for w in watches]):.3f} s")
        total = sum(times)
        rate = 1.0 / total if total else 0.0
        proc = getattr(self.spark.sparkContext._gateway, "proc", None)
        n = len(times)
        return {
            "setup_s": (median(self.setup_times), "s",
                        len(self.setup_times)),
            "call_p50_s": (median(times), "s", n),
            "call_tail_s": (tail_v, "s", n),
            "calls_per_min": (60.0 * n * rate, "1/min", n),
            "rows_per_s": (rows * rate, "1/s", n),
            "rss_peak_mb": (probes.rss_peak_mb(getattr(proc, "pid", None)),
                            "MB", 1),
            "duckdb_ratio": (duckdb_ratio, "ratio", n),
        }

    def write_trace(self, workload: str) -> str | None:
        if not self.tracer.enabled:
            return None
        path = os.path.join(self.work, "traces",
                            f"{workload}-seed{self.args.seed}-{os.getpid()}.json")
        self.tracer.write(path)
        return path


def _error(e: BaseException) -> str:
    return " ".join(traceback.format_exception_only(type(e), e)[-1].split())[:300]


def _medians(rows: list[dict], keys) -> dict:
    return {k: median([r[k] for r in rows]) for k in keys}


_EXEC_KEYS = ("exec.jobs", "exec.stages", "exec.tasks",
              "exec.shuffle_write_mb", "exec.shuffle_read_mb",
              "exec.spill_mb", "exec.cpu_s", "exec.gc_s", "exec.core_util")


# -- graph-iterative ----------------------------------------------------------

#: The order-graph entries: the pregel loops of operators/graph.py plus
#: the two oracled graph self-joins. SCC, HITS, Louvain and coreness are
#: left out for time: they are the costliest graph entries (23–52 s per
#: call at sf0.1).
GRAPH_CALLS = ("graph_pagerank", "graph_connected_components",
               "graph_label_propagation", "graph_kcore",
               "graph_shortest_paths", "q24_graph_triangles",
               "q25_graph_2hop")
GRAPH_TABLES = ("orders", "lineitem")
#: Extra Spark calls of each DuckDB-oracled entry per run, timed for
#: duckdb_ratio only: one sample per sweep left the ratio's spread near
#: its bound.
RATIO_REPS = 3


def _traced_call(run: Run, fn, name: str):
    """A call split into spans (build, physical plan, fetch) under its own
    job group; returns (stopwatch, result, counters)."""
    tid = uuid.uuid4().hex[:12]
    group = f"perfbench-{tid}"
    sc = run.spark.sparkContext
    tr = run.tracer
    sc.setJobGroup(group, name)
    with probes.Stopwatch() as sw, tr.span("call", tid, query=name) as span:
        with tr.span("operators.build", tid):
            df = fn(run.spark, run.data_dir)
        with tr.span("plans.physical", tid):
            df._jdf.queryExecution().executedPlan()
        with tr.span("exec.run", tid):
            pdf = df.toPandas()
    sc.setLocalProperty("spark.jobGroup.id", None)
    c = probes.job_counters(run.spark, group)
    audit = run.engine.audit(df)
    c.update({
        "plans.shuffles": audit["shuffles"],
        "plans.broadcasts": audit["broadcasts"],
        "plans.codegen_spans": audit["codegen_spans"],
        "plans.python_eval": int(audit["python_eval"] != "none"),
        "exec.core_util": c["exec.executor_run_s"] / (sw.wall * run.cpus),
    })
    span.update(c)
    return sw, pdf, c


def run_graph(run: Run) -> dict:
    import __spark_entry__ as entry

    run.set_up(GRAPH_TABLES)
    queries = entry.queries()
    expected = reference.graph_expected(run.data_dir)
    oracle = reference.DuckOracle(run.data_dir, run.cpus)
    oracle_sql = {n: entry.oracle_sql()[n] for n in GRAPH_CALLS
                  if n not in expected}
    for name, sql in oracle_sql.items():
        expected[name] = (oracle.run(sql, reps=1)[0], 0.0)
    # DuckDB is timed right after each Spark call of the same query, so
    # both sides of duckdb_ratio see the same host load.
    duck_s: dict[str, list[float]] = {n: [] for n in oracle_sql}
    rows_per_call = sum(
        pq.ParquetFile(os.path.join(run.data_dir, f"{t}.parquet"))
        .metadata.num_rows for t in GRAPH_TABLES)

    def sweep(traced: bool, names: tuple[str, ...] = GRAPH_CALLS
              ) -> list[tuple[str, probes.Stopwatch, dict]]:
        """Every entry once, in seeded order; returns the correct calls."""
        order = list(names)
        run.rng.shuffle(order)
        done = []
        for name in order:
            run.attempted += 1
            counters: dict = {}
            try:
                if traced:
                    sw, pdf, counters = _traced_call(run, queries[name], name)
                else:
                    with probes.Stopwatch() as sw:
                        pdf = queries[name](run.spark, run.data_dir).toPandas()
                err = reference.compare(pdf, *expected[name])
                if err:
                    raise Failure(err)
                done.append((name, sw, counters))
            except Exception as e:  # noqa: BLE001 - counted, run goes on
                run.fail(name, _error(e))
            counters["operators.persist_leak"] = run.guard.release()
            if name in oracle_sql:
                duck_s[name].append(oracle.run(oracle_sql[name], reps=3)[1])
        return done

    sweep(traced=False)  # warm-up: JIT, codegen and plan caches
    for samples in duck_s.values():
        samples.clear()
    if run.args.trace:
        traced = sweep(traced=True)
        measured = sweep(traced=False)
        counters = [c for _, _, c in traced]
        tr = run.tracer
        run.layer.update(_medians(counters, _EXEC_KEYS + (
            "plans.shuffles", "plans.broadcasts", "plans.codegen_spans")))
        run.layer.update({
            "operators.build_s": median(tr.durations("operators.build")),
            "plans.physical_s": median(tr.durations("plans.physical")),
            "exec.run_s": median(tr.durations("exec.run")),
            "operators.persist_leak": sum(c["operators.persist_leak"]
                                          for c in counters),
            "plans.python_eval": sum(c["plans.python_eval"]
                                     for c in counters),
            "oracle.duckdb_s": sum(median(v) for v in duck_s.values()),
            "trace.overhead_s": (sum(sw.seconds for _, sw, _ in traced)
                                 - sum(sw.seconds for _, sw, _ in measured))
            / max(len(traced), 1),
        })
    else:
        measured = []
        for _ in range(sweeps(run)):
            measured += sweep(traced=False)
    spark_s = {q: [sw.seconds for n, sw, _ in measured if n == q]
               for q in oracle_sql}
    for _ in range(0 if run.args.trace else RATIO_REPS):
        for q, sw, _ in sweep(traced=False, names=tuple(oracle_sql)):
            spark_s[q].append(sw.seconds)

    per_query = {q: median([sw.seconds for n, sw, _ in measured if n == q])
                 for q in GRAPH_CALLS}
    run.notes.append("median s per call: " + ", ".join(
        f"{q} {t:.3f}" for q, t in per_query.items()))
    return run.metrics([sw for _, sw, _ in measured],
                       rows_per_call * len(measured),
                       sum(median(v) for v in spark_s.values())
                       / sum(median(v) for v in duck_s.values()))


# -- ingest-stream ------------------------------------------------------------

STREAM_FILES = 12
#: Leading triggers of each stream that warm the JIT and the state store;
#: they are checked but kept out of the timing metrics.
STREAM_WARMUP = 2
#: Files arrive in blocks of two consecutive time chunks. In this many of
#: the blocks after the first (chosen by the seed) the later chunk comes
#: first; its partner then moves no watermark and skips the no-data
#: batch, so the count is fixed to keep the work equal across seeds.
STREAM_SWAPS = 2
#: No row is more than two chunks (≤ 6.25 days) behind the newest event;
#: the window watermark is wider, so no row is ever late.
WATERMARK = "8 days"
WINDOW = "1 hour"
FLUSH_AFTER_DAYS = 9


def stream_inputs(events: pa.Table, seed: int) -> tuple[list[pa.Table], float]:
    """Split ``events`` (sorted by ts) into ``STREAM_FILES`` files.

    The seed picks the share of rows re-sent (18–22 %, as in a re-crawl;
    narrow, so the amount of work hardly depends on the seed),
    the chunk sizes (0.75–1.25 of the mean), which blocks arrive swapped,
    where each re-sent copy lands (its original's file or up to three
    files later) and the row order inside each file."""
    rng = np.random.default_rng(seed)
    n = events.num_rows
    share = float(rng.uniform(0.18, 0.22))
    sizes = rng.uniform(0.75, 1.25, STREAM_FILES)
    cuts = np.concatenate([[0], np.cumsum(sizes) / sizes.sum() * n])
    cuts = np.round(cuts).astype(int)
    swapped = set(rng.choice(np.arange(1, STREAM_FILES // 2), STREAM_SWAPS,
                             replace=False).tolist())
    order = []
    for b in range(STREAM_FILES // 2):
        order += [2 * b + 1, 2 * b] if b in swapped else [2 * b, 2 * b + 1]
    position = np.empty(STREAM_FILES, dtype=int)
    position[order] = np.arange(STREAM_FILES)
    dups = rng.choice(n, size=int(share * n), replace=False)
    dup_chunk = np.searchsorted(cuts, dups, side="right") - 1
    dup_file = np.minimum(position[dup_chunk]
                          + rng.integers(0, 4, dups.size), STREAM_FILES - 1)
    files = []
    for p, chunk in enumerate(order):
        idx = np.concatenate([np.arange(cuts[chunk], cuts[chunk + 1]),
                              dups[dup_file == p]])
        files.append(events.take(pa.array(rng.permutation(idx))))
    return files, share


def _flush_files(events: pa.Table) -> list[pa.Table]:
    """Two one-row files far past the newest event: the first moves the
    watermark past every real window, the second's trigger runs with it,
    so every real window is in the sink when the stream ends."""
    ts = pc.max(events.column("ts")).as_py()
    top = pc.max(events.column("event_id")).as_py()
    flush_ts = np.datetime64(ts, "us") + np.timedelta64(FLUSH_AFTER_DAYS, "D")
    return [pa.table({
        "event_id": [top + 1 + i], "ts": [flush_ts], "user_id": [0],
        "event_type": ["flush"], "value": [0.0], "props": ["{}"],
    }).cast(events.schema) for i in range(2)]


class Stream:
    """read_parquet_stream → dedup_stream → tumbling_window_stream →
    write_stream_parquet over a source directory fed file by file."""

    def __init__(self, run: Run, tag: str, schema):
        from puregraphdb_spark.streaming import windows
        from puregraphdb_spark.streaming.dedup import dedup_stream

        self.tag = tag
        self.dir = os.path.join(run.work, "stream", f"{os.getpid()}-{tag}")
        shutil.rmtree(self.dir, ignore_errors=True)
        self.src = os.path.join(self.dir, "src")
        self.sink = os.path.join(self.dir, "sink")
        self.ckpt = os.path.join(self.dir, "checkpoint")
        os.makedirs(self.src)
        events = windows.read_parquet_stream(run.spark, self.src, schema,
                                             max_files_per_trigger=1)
        # Exact-key dedup: dedup_stream_within_watermark cannot feed
        # tumbling_window_stream, Spark refuses a second watermark on the
        # same column ("Redefining watermark is disallowed").
        agg = windows.tumbling_window_stream(
            dedup_stream(events, ["event_id"]), WINDOW, WATERMARK)
        self.query = windows.write_stream_parquet(agg, self.sink, self.ckpt)
        self.n_files = 0
        self.last_batch = -1

    def feed(self, path: str) -> probes.Stopwatch:
        """Publish one input file and wait until the query caught up."""
        dst = os.path.join(self.src, f"part-{self.n_files:04d}.parquet")
        self.n_files += 1
        with probes.Stopwatch() as sw:
            os.replace(path, dst)
            self.query.processAllAvailable()
        return sw

    def new_progress(self) -> list[dict]:
        """Progress reports of the batches finished since the last call."""
        out = [p for p in (json.loads(x.json)
                           for x in self.query.recentProgress)
               if p["batchId"] > self.last_batch]
        if out:
            self.last_batch = max(p["batchId"] for p in out)
        return out


def _progress_counters(progress: list[dict]) -> dict:
    def total(key):
        return sum(p.get("durationMs", {}).get(key, 0) for p in progress) / 1e3

    ops = progress[-1].get("stateOperators", []) if progress else []
    return {
        "streaming.trigger_s": total("triggerExecution"),
        "streaming.planning_s": total("queryPlanning"),
        "streaming.wal_s": total("walCommit"),
        "streaming.state_rows": sum(op["numRowsTotal"] for op in ops),
        "streaming.state_mb": sum(op["memoryUsedBytes"] for op in ops)
        / (1 << 20),
        "dup_dropped": sum(int(op.get("customMetrics", {})
                               .get("numDroppedDuplicateRows", 0))
                           for p in progress
                           for op in p.get("stateOperators", [])),
    }


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def run_stream(run: Run) -> dict:
    from puregraphdb_spark.streaming import windows
    from puregraphdb_spark.streaming.dedup import dedup_stream

    events = pq.read_table(os.path.join(run.data_dir, "events.parquet"))
    files, share = stream_inputs(events, run.args.seed)
    flush = _flush_files(events)
    n_rows = sum(f.num_rows for f in files)
    n_dups = n_rows - events.num_rows
    run.notes.append(f"stream: {STREAM_FILES} files; {share:.1%} of "
                     f"{events.num_rows} events re-sent ({n_dups} rows)")
    stage = os.path.join(run.work, "stream", f"{os.getpid()}-stage")
    shutil.rmtree(stage, ignore_errors=True)
    data_dir = os.path.join(stage, "all")
    os.makedirs(data_dir)
    for i, t in enumerate(files):
        pq.write_table(t, os.path.join(data_dir, f"f{i:03d}.parquet"))
    streams: list[Stream] = []
    schema = []

    def start_stream(r: Run) -> None:
        if not schema:
            schema.append(r.spark.read.parquet(data_dir).schema)
        streams.append(Stream(r, f"s{len(streams)}", schema[0]))

    run.set_up((), extra=start_stream)

    # Expected sink: the batch run of the same functions over all input,
    # cross-checked against DuckDB. DuckDB's time is the base of
    # duckdb_ratio; it is taken after each timed trigger, under the same
    # host load.
    batch = run.spark.read.schema(schema[0]).parquet(data_dir)
    for c, d in batch.dtypes:
        if d == "timestamp_ntz":
            batch = batch.withColumn(c, batch[c].cast("timestamp"))
    expected = windows.tumbling_window_stream(
        dedup_stream(batch, ["event_id"]), WINDOW, WATERMARK).toPandas()
    duck = reference.DuckOracle(run.data_dir, run.cpus)
    duck_sql = (
        "select time_bucket(interval 1 hour, ts) as win, event_type, "
        "count(*) as n, round(sum(value), 2) as sum_val from (select "
        f"distinct * from read_parquet('{data_dir}/*.parquet')) group by all")
    oracle_err = reference.compare(duck.run(duck_sql, reps=1)[0], expected)
    duck_s: list[float] = []

    def one_pass(stream: Stream, traced: bool) -> list[tuple]:
        """Feed every file, then the flush files; check the sink. Returns
        (stopwatch, rows, counters) of the timed triggers."""
        pass_dir = os.path.join(stage, stream.tag)
        os.makedirs(pass_dir)
        inputs = files + flush
        timed, bad, dropped = [], 0, 0
        skip_jobs: set[int] = set()
        for i, t in enumerate(inputs):
            path = os.path.join(pass_dir, f"{i:03d}.parquet")
            pq.write_table(t, path)
            run.attempted += 1
            try:
                with run.tracer.span("stream.trigger", stream.tag,
                                     file=i) as span:
                    sw = stream.feed(path)
                progress = stream.new_progress()
                got = sum(p["numInputRows"] for p in progress)
                if got != t.num_rows:
                    raise Failure(f"read {got} rows of {t.num_rows}")
            except Exception as e:  # noqa: BLE001 - counted, run goes on
                run.fail(f"{stream.tag} trigger {i}", _error(e))
                bad += 1
                continue
            c = {}
            if traced:
                c = probes.job_counters(run.spark, str(stream.query.runId),
                                        skip_jobs)
                skip_jobs |= c["job_ids"]
                c.update(_progress_counters(progress))
                c["exec.core_util"] = (c["exec.executor_run_s"]
                                       / (sw.wall * run.cpus))
                dropped += c["dup_dropped"]
                span.update(c)
            if STREAM_WARMUP <= i < len(files):
                timed.append((sw, t.num_rows, c))
                duck_s.append(duck.run(duck_sql, reps=1)[1])
        stream.query.stop()
        err = oracle_err or reference.compare(
            run.spark.read.parquet(stream.sink).toPandas(), expected)
        if err:
            run.fail(f"{stream.tag} sink", err, calls=len(inputs) - bad)
        if traced and timed:
            counters = [c for _, _, c in timed]
            run.layer.update(_medians(counters, _EXEC_KEYS + (
                "streaming.trigger_s", "streaming.planning_s",
                "streaming.wal_s")))
            in_bytes = _dir_bytes(stream.src)
            run.layer.update({
                "streaming.state_rows": counters[-1]["streaming.state_rows"],
                "streaming.state_mb": counters[-1]["streaming.state_mb"],
                "streaming.write_amp": (_dir_bytes(stream.sink)
                                        + _dir_bytes(stream.ckpt)) / in_bytes,
                "streaming.dup_drop_ratio": dropped / max(n_dups, 1),
                "exec.run_s": median([sw.seconds for sw, _, _ in timed]),
                "plans.physical_s": run.layer["streaming.planning_s"],
            })
        return timed

    if run.args.trace:
        traced = one_pass(streams[-1], traced=True)
        streams.append(Stream(run, f"s{len(streams)}", schema[0]))
        measured = one_pass(streams[-1], traced=False)
        run.layer["oracle.duckdb_s"] = median(duck_s)
        run.layer["trace.overhead_s"] = (
            sum(sw.seconds for sw, _, _ in traced)
            - sum(sw.seconds for sw, _, _ in measured)) / max(len(traced), 1)
    else:
        measured = []
        for k in range(sweeps(run)):
            if k:
                streams.append(Stream(run, f"s{len(streams)}", schema[0]))
            measured += one_pass(streams[-1], traced=False)
    shutil.rmtree(stage, ignore_errors=True)
    for s in streams:
        shutil.rmtree(s.dir, ignore_errors=True)

    watches = [sw for sw, _, _ in measured]
    rows = sum(r for _, r, _ in measured)
    run.notes.append("s per timed trigger: "
                     + " ".join(f"{w.seconds:.2f}" for w in watches))
    duck_per_row = median(duck_s) / n_rows
    spark_per_row = sum(w.seconds for w in watches) / max(rows, 1)
    return run.metrics(watches, rows, (spark_per_row / duck_per_row
                                       if duck_per_row else 0.0))


WORKLOADS = {
    "graph-iterative": run_graph,
    "ingest-stream": run_stream,
}
