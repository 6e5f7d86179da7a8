"""Streaming data-quality monitoring — the windowed twin of
``operators.profile.table_profile`` (q117): per event-time window,
per column, row/null counts and approximate distinct cardinality.

This is the monitor a 100-TB ingest pipeline puts in front of its
sinks: a feed that suddenly ships 40% null ``user_id`` or collapses
to one distinct ``event_type`` shows up in the next finalized window,
not in next week's batch audit.

One function serves batch AND streaming: ``F.window`` groups both, so
the SAME plan backfills history (batch over the archived table) and
monitors the live stream — the batch run doubles as the oracle for
the streaming run (tested in tests/test_streaming_quality.py).

Exact-vs-approx: the batch profiler uses exact ``countDistinct`` (the
cross-engine oracle needs it); here distinct counts are HLL
``approx_count_distinct`` because exact distinct per window would keep
one state row per (window, column, value) — unbounded. Null/row
counts stay exact (plain sums merge incrementally). HLL register
merges are max-based, so results are partition-order-independent —
the batch/stream equivalence is deterministic, not approximate.

Scale: ONE shuffle keyed by the window struct (watermark finalizes
and evicts state in append mode); the per-column reshape is a
map-side explode of the finalized aggregate rows. State per open
window is O(columns) scalars + one HLL sketch per column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from puregraphdb_spark.streaming.windows import _with_watermark


def windowed_profile(df: DataFrame, columns: list[str],
                     ts_col: str = "ts",
                     window_duration: str = "1 hour",
                     watermark: str | None = None) -> DataFrame:
    """Per-window, per-column profile of ``df`` (batch or streaming):
    (window_start, col_name, n_rows, n_nulls, n_distinct_approx).

    Pass ``watermark`` on streams destined for append-mode (durable)
    sinks — append emits a window once the watermark passes its end; a
    watermark already on ``ts_col`` (set upstream) governs over it.
    Groups on the window STRUCT and projects ``start`` after the agg
    (extracting it inside the groupBy severs watermark propagation —
    same rule as tumbling_window_stream).
    """
    if not columns:
        raise ValueError("windowed_profile needs at least one column")
    src = df
    if watermark is not None:
        src = _with_watermark(src, ts_col, watermark)
    aggs = [F.count(F.lit(1)).cast("long").alias("n_rows")]
    for c in columns:
        aggs.append(
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))
            .cast("long").alias(f"__nn_{c}"))
        aggs.append(
            F.approx_count_distinct(c).alias(f"__nd_{c}"))
    agg = src.groupBy(F.window(ts_col, window_duration).alias("w")).agg(*aggs)
    per_col = F.array(*[
        F.struct(
            F.lit(c).alias("col_name"),
            F.col(f"__nn_{c}").alias("n_nulls"),
            F.col(f"__nd_{c}").alias("n_distinct_approx"),
        )
        for c in columns
    ])
    return (
        agg.select(F.col("w.start").alias("window_start"), "n_rows",
                   F.explode(per_col).alias("s"))
        .select("window_start", "s.col_name", "n_rows", "s.n_nulls",
                "s.n_distinct_approx")
    )


def profile_alerts(profile: DataFrame, reference: DataFrame,
                   max_null_rate_increase: float = 0.10,
                   min_distinct_ratio: float = 0.5) -> DataFrame:
    """Compare a windowed profile against a REFERENCE profile (one row
    per col_name: n_rows, n_nulls, n_distinct_approx — e.g. the batch
    profile of a known-good day) and emit one row per (window, column)
    that breaches either guardrail:

    - null rate grew by more than ``max_null_rate_increase`` (absolute)
    - distinct cardinality fell below ``min_distinct_ratio`` of the
      reference (per row, so window sizes are normalized away via the
      null-rate; distincts compare as-is because cardinality is a
      property of the value space, not the window size)

    Batch-composable: join on col_name against a broadcastable
    reference (one row per column — bounded by the schema, never the
    data), so the check adds NO shuffle to the monitor's plan.
    """
    ref = reference.select(
        "col_name",
        (F.col("n_nulls") / F.greatest(F.col("n_rows"), F.lit(1)))
        .alias("__ref_null_rate"),
        F.col("n_distinct_approx").alias("__ref_distinct"),
    )
    cur_null_rate = (
        F.col("n_nulls") / F.greatest(F.col("n_rows"), F.lit(1)))
    return (
        profile.join(F.broadcast(ref), "col_name")
        .withColumn("null_rate", cur_null_rate)
        .withColumn(
            "null_alert",
            F.col("null_rate") - F.col("__ref_null_rate")
            > F.lit(max_null_rate_increase))
        .withColumn(
            "distinct_alert",
            F.col("n_distinct_approx")
            < F.col("__ref_distinct") * F.lit(min_distinct_ratio))
        .filter(F.col("null_alert") | F.col("distinct_alert"))
        .select("window_start", "col_name", "n_rows", "null_rate",
                "n_distinct_approx", "null_alert", "distinct_alert")
    )
