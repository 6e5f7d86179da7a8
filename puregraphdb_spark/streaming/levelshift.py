"""Streaming level-shift monitoring — the ONLINE counterpart of
``operators.events.cusum_changepoint`` (q159): q159 locates a mean
shift retrospectively over the archived daily series; this monitor
flags the shift in the next finalized event-time window, which is
when a deploy regression / logging change actually needs catching.

One function serves batch AND streaming (``F.window`` groups both),
so the batch run over the archived table IS the oracle for the
streaming run — the same equivalence discipline as
streaming/quality.windowed_profile.

Determinism: per-window value sums are EXACT decimals (the fixture
values are 3-dp; decimal sums are summation-order-immune, so the
batch/stream equivalence is exact, not approximate — HLL-style
approximation is never needed here). The mean is one final division
of exact operands.

Scale: ONE shuffle keyed by the (window, type) struct with map-side
partial sums; watermark finalizes and evicts state in append mode.
State per open window is two scalars per type — O(|types|), flat in
event volume. The alert join broadcasts the per-type reference
relation (|types| rows).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from puregraphdb_spark.streaming.windows import _with_watermark


def windowed_means(df: DataFrame, ts_col: str = "ts",
                   type_col: str = "event_type",
                   value_col: str = "value",
                   window_duration: str = "1 day",
                   watermark: str | None = None) -> DataFrame:
    """Per-(event-time window, type) mean of ``value_col`` (batch or
    streaming): (window_start, event_type, n, mean_value).

    Pass ``watermark`` on streams destined for append-mode sinks; a
    watermark already on ``ts_col`` (set upstream) governs over it.
    Groups on the window STRUCT and projects ``start`` after the agg
    (extracting it inside the groupBy severs watermark propagation —
    the tumbling_window_stream rule).
    """
    src = df
    if watermark is not None:
        src = _with_watermark(src, ts_col, watermark)
    agg = (
        src.groupBy(
            F.window(ts_col, window_duration).alias("w"),
            F.col(type_col).alias("event_type"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.col(value_col).cast("decimal(24,3)"))
            .cast("decimal(24,3)").alias("__sum"),
        )
    )
    return agg.select(
        F.col("w.start").alias("window_start"), "event_type", "n",
        (F.col("__sum").cast("double") / F.col("n").cast("double"))
        .alias("mean_value"),
    )


def level_shift_alerts(means: DataFrame, reference: DataFrame,
                       min_shift: float = 1.0) -> DataFrame:
    """Flag finalized windows whose mean departs from the per-type
    REFERENCE mean by at least ``min_shift`` (absolute) — the online
    twin of q159's post−pre shift magnitude.

    ``reference`` is one row per type (event_type, ref_mean) — built
    from a trailing batch (e.g. ``windowed_means`` over last month's
    archive, averaged) or from q159's pre-segment mean. Keeping the
    reference a SEPARATE relation is deliberate: deriving it from the
    monitored stream itself would make the detector chase its own
    drift (and in streaming, a same-stream self-aggregate is a second
    stateful query anyway).

    The join broadcasts the |types|-row reference; works identically
    on batch relations and on finalized streaming output.
    """
    return (
        means.join(F.broadcast(reference), "event_type")
        .withColumn("shift", F.col("mean_value") - F.col("ref_mean"))
        .filter(F.abs(F.col("shift")) >= F.lit(float(min_shift)))
        .select("window_start", "event_type", "n", "mean_value",
                "ref_mean", "shift")
    )
