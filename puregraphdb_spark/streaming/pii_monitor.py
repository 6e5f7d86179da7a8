"""Streaming PII-exposure monitoring — the windowed twin of
``operators.pii.pii_scan`` (q146): per event-time window, per source,
document counts and per-kind PII hit counts.

This is the gate a 100-TB ingest pipeline puts in FRONT of its
training sinks: a feed that suddenly starts shipping emails or IPs
shows up in the next finalized window, not in next month's batch
audit — and the redaction transform (``operators.pii.redact_pii``) is
a pure projection, so it runs on the SAME stream before the sink with
zero extra state.

One function serves batch AND streaming (the quality.windowed_profile
discipline): ``F.window`` groups both, so the batch run over the
archived table doubles as the oracle for the streaming run
(tests/test_streaming_pii.py). All aggregates are exact sums — they
merge incrementally across micro-batches with no approximation.

Scale: the regex counting is map-side (operators.pii discipline); the
ONLY shuffle is keyed by (window, source), and state per open window
is O(sources) rows of scalar counters. Watermark finalizes and evicts
state in append mode.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from puregraphdb_spark.operators.pii import PII_PATTERNS, pii_count_columns
from puregraphdb_spark.streaming.windows import _with_watermark


def windowed_pii_scan(df: DataFrame, ts_col: str = "ts",
                      text_col: str = "text",
                      source_col: str = "source",
                      window_duration: str = "1 hour",
                      watermark: str | None = None) -> DataFrame:
    """Per-window, per-source PII exposure of ``df`` (batch or
    streaming): (window_start, source, n_docs, docs_with_pii,
    n_email, n_phone, n_ipv4).

    Pass ``watermark`` on streams destined for append-mode sinks; a
    watermark already on ``ts_col`` (set upstream) governs over it.
    Groups on the window STRUCT and projects ``start`` after the agg
    (extracting it inside the groupBy severs watermark propagation —
    the windows.py rule).
    """
    src = df
    if watermark is not None:
        src = _with_watermark(src, ts_col, watermark)
    per_doc = src.select(
        F.col(ts_col).alias("__ts"),
        F.col(source_col).alias("source"),
        *pii_count_columns(text_col),
    )
    any_hit = sum(
        (F.col(f"__{k}") for k in PII_PATTERNS), F.lit(0).cast("long"))
    agg = per_doc.groupBy(
        F.window("__ts", window_duration).alias("w"), "source"
    ).agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.when(any_hit > 0, 1).otherwise(0)).cast("long")
        .alias("docs_with_pii"),
        *[F.sum(f"__{k}").cast("long").alias(f"n_{k}")
          for k in PII_PATTERNS],
    )
    return agg.select(
        F.col("w.start").alias("window_start"), "source", "n_docs",
        "docs_with_pii", *[f"n_{k}" for k in PII_PATTERNS],
    )


def pii_alerts(monitor: DataFrame,
               max_doc_ratio: float = 0.0) -> DataFrame:
    """Rows of ``windowed_pii_scan`` whose PII-document fraction
    exceeds ``max_doc_ratio`` (default: ANY PII alerts — the right
    posture for a feed that is contractually PII-free). Pure filter +
    projection: adds no shuffle and no state to the monitor plan."""
    ratio = (F.col("docs_with_pii").cast("double")
             / F.greatest(F.col("n_docs"), F.lit(1)).cast("double"))
    return (
        monitor.withColumn("pii_doc_ratio", ratio)
        .filter(F.col("pii_doc_ratio") > max_doc_ratio)
    )
