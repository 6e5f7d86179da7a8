"""Benchmark of the puregraphdb_spark engine, run from the repository root.

    python3 perfbench/run.py --workload graph-iterative --seed 1 \\
        --seconds 10 --trace 0

One process, one closed-loop client on ``local[cpus]``. Prints each
metric with its unit and sample count, the failed calls, and as the last
line one JSON object: ``{"correct", "attempted", "failed", "metrics"}``.
``--trace 0`` reports the end-to-end metrics (calls untraced); ``--trace 1``
is a separate traced run that reports the per-layer metrics, including
the tracing overhead, and writes its spans under ``.perfbench/traces``.

Inputs are generated inside the checkout (``.perfbench/data``); all
working files, Spark's local dirs and temp files stay under
``.perfbench`` too. See perfbench/README.md for the workloads and
metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench")
#: Per workload: the scale of the generated base tables it reads.
SCALE = {"graph-iterative": 0.01, "ingest-stream": 0.1}
PER_LAYER = (
    "engine.session_s", "engine.tune_s", "engine.cold_setup_s",
    "sources.load_s", "sources.cache_mb",
    "operators.build_s", "operators.persist_leak",
    "plans.physical_s", "plans.shuffles", "plans.broadcasts",
    "plans.codegen_spans", "plans.python_eval",
    "exec.run_s", "exec.jobs", "exec.stages", "exec.tasks",
    "exec.shuffle_write_mb", "exec.shuffle_read_mb", "exec.spill_mb",
    "exec.cpu_s", "exec.gc_s", "exec.core_util",
    "streaming.trigger_s", "streaming.planning_s", "streaming.wal_s",
    "streaming.state_rows", "streaming.state_mb", "streaming.write_amp",
    "streaming.dup_drop_ratio",
    "oracle.duckdb_s", "trace.overhead_s",
)
UNITS = {"_s": "s", "_mb": "MB", "_ratio": "ratio", "_amp": "ratio",
         "_util": "ratio"}


def _unit(name: str) -> str:
    return next((u for suf, u in UNITS.items() if name.endswith(suf)),
                "count")


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=("graph-iterative", "ingest-stream"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True,
                   help="measurement length: one graph sweep or stream "
                        "pass per 10 s, at least one")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--cpus", default="auto",
                   help="local[N] cores; 'auto' = CPUs this process may use")
    p.add_argument("--driver-memory", default="2g",
                   help="driver JVM heap (SPARK_GRAFT_DRIVER_MEM)")
    args = p.parse_args(argv)
    if args.cpus == "auto":
        args.cpus = str(len(os.sched_getaffinity(0)))
    return args


def configure(args: argparse.Namespace) -> None:
    """Environment the engine and Spark read at start-up. Must run before
    pyspark or the engine are imported."""
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": args.cpus,
        "SPARK_GRAFT_DRIVER_MEM": args.driver_memory,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
    })


def stop_spark(run) -> None:
    """Stop the session and the JVM this process launched, and wait."""
    if run is None or run.spark is None:
        return
    from pyspark import SparkContext

    run.spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not (os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
            and os.path.isdir(os.path.join(ROOT, "puregraphdb_spark"))):
        print("perfbench: run from the repository root (needs "
              "__spark_entry__.py and puregraphdb_spark/)", file=sys.stderr)
        return 2
    configure(args)
    sys.path.insert(0, ROOT)

    from perfbench import datagen
    from perfbench.workloads import WORKLOADS, Run

    scale = SCALE[args.workload]
    data_dir = datagen.ensure(os.path.join(WORK, "data", f"sf{scale}"), scale)
    run = Run(args, WORK, data_dir)
    try:
        e2e = WORKLOADS[args.workload](run)
    finally:
        trace_path = run.write_trace(args.workload)
        stop_spark(run)

    print(f"workload {args.workload}  seed {args.seed}  trace {args.trace}  "
          f"local[{args.cpus}]  driver memory {args.driver_memory}  "
          f"data sf{scale}")
    for note in run.notes:
        print(f"  note: {note}")
    if args.trace:
        metrics = {k: (run.layer.get(k, 0.0), _unit(k), None)
                   for k in PER_LAYER}
        print(f"  spans: {os.path.relpath(trace_path, ROOT)}; self time:")
        for name, sec in run.tracer.self_times().items():
            print(f"    {name:32s} {sec:10.3f} s")
    else:
        metrics = e2e
    for name, (value, unit, n) in metrics.items():
        count = f"  (n={n})" if n is not None else ""
        print(f"  {name:28s} {value:14.6g} {unit}{count}")
    print(f"  fail_ratio {run.failed}/{run.attempted} calls")
    for f in run.failures:
        print(f"  FAILED {f}")
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": float(v), "unit": u}
                    for k, (v, u, _) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
