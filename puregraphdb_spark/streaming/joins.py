"""Stream-stream interval joins (Structured Streaming's watermarked
two-sided join) — the attribution-style join event pipelines run on
live streams: each left event matches right events of the same key
whose event time falls in a bounded interval around it.

Both sides carry watermarks and the join condition carries the time
bound, which is what lets Structured Streaming EVICT state: a buffered
right row can be dropped once the left watermark passes its latest
possible match time (and vice versa), so state is bounded by
rate × (interval + watermark) per key — never the full history. Late
rows beyond the watermark are dropped, the same contract as the
windowed aggregations (streaming/windows.py).

The batch DataFrame path runs the identical join condition, so batch ≡
streaming is testable row-for-row (tests/test_streaming_joins.py).

Scale: the join shuffles both streams on the key exactly like the
batch plan; at 100 TB the knobs are the watermark (state bound) and
key salting for hot keys — the join itself stays declarative.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from puregraphdb_spark.functions.intervals import interval_expr
from puregraphdb_spark.streaming.windows import _with_watermark


def interval_join(left: DataFrame, right: DataFrame,
                  on: str = "user_id",
                  left_ts: str = "ts", right_ts: str = "ts",
                  before: str = "1 hour", after: str = "0 seconds",
                  watermark: str = "2 hours",
                  left_cols: list[str] | None = None,
                  right_cols: list[str] | None = None) -> DataFrame:
    """Inner interval join: left rows matched to right rows with the
    same ``on`` key and ``right_ts`` in
    [left_ts − before, left_ts + after].

    Works on two STREAMING DataFrames (watermarks applied here) and on
    two batch DataFrames (the watermark call is a no-op for batch in
    the sense that it does not change results — the join condition is
    identical), which is what the equivalence test exercises. A side
    whose time column already carries a watermark keeps it.

    ``left_cols`` / ``right_cols`` select the output projection
    (defaults: all left columns, then the right key-less columns
    prefixed ``r_`` to avoid collisions).
    """
    lw = _with_watermark(left, left_ts, watermark).alias("l")
    rw = _with_watermark(right, right_ts, watermark).alias("r")
    cond = (
        (F.col(f"l.{on}") == F.col(f"r.{on}"))
        & (F.col(f"r.{right_ts}")
           >= F.col(f"l.{left_ts}") - interval_expr(before))
        & (F.col(f"r.{right_ts}")
           <= F.col(f"l.{left_ts}") + interval_expr(after))
    )
    joined = lw.join(rw, cond)
    if left_cols is None:
        left_cols = left.columns
    if right_cols is None:
        right_cols = [c for c in right.columns if c != on]
    return joined.select(
        *[F.col(f"l.{c}").alias(c) for c in left_cols],
        *[F.col(f"r.{c}").alias(f"r_{c}") for c in right_cols],
    )
