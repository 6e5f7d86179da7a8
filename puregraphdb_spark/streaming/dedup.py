"""Streaming deduplication — the ingest-time half of the dedup family
(SURVEY §2.2 'training-data pipeline'; batch counterparts are q26
exact-key dedup and operators/similarity.apply_dedup).

A re-crawl / re-ingest stream delivers the same document many times;
dropping repeats AT INGEST keeps every downstream stage (tokenize,
embed, near-dup) from paying for them. Two variants:

- ``dedup_stream``: exact-identity dedup on caller-chosen key columns
  via ``dropDuplicates`` — Structured Streaming keeps one state row
  per key forever (bounded only by the key space; right for id-keyed
  streams where the id space is the corpus).
- ``dedup_stream_within_watermark``: same, but state is TTL'd by the
  event-time watermark (``dropDuplicatesWithinWatermark``) — the
  100-TB posture for unbounded key spaces: a repeat arriving later
  than the watermark delay is treated as new, which is the standard
  re-crawl compaction contract (q54's keep-latest batch shape picks
  the winner among those survivors downstream).

Both are pure built-in operators: the dedup state lives in the state
store, keyed exactly like the shuffle, with no Python in the loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from puregraphdb_spark.streaming.windows import _with_watermark


def content_key(text_col: str = "text") -> F.Column:
    """64-bit content fingerprint for identity dedup when no stable
    doc id exists (same hash the batch exact-dup path uses)."""
    return F.xxhash64(F.col(text_col))


def dedup_stream(events: DataFrame, keys: list[str]) -> DataFrame:
    """Exact-key streaming dedup; one state row per distinct key for
    the lifetime of the query."""
    if not keys:
        raise ValueError("dedup_stream needs at least one key column")
    return events.dropDuplicates(keys)


def dedup_stream_within_watermark(events: DataFrame, keys: list[str],
                                  ts_col: str = "ts",
                                  delay: str = "1 hour") -> DataFrame:
    """Watermark-TTL'd streaming dedup: repeats within ``delay`` of the
    event-time watermark are dropped, older state is evicted. The only
    shape whose state is bounded when the key space grows with the
    stream. A watermark already on ``ts_col`` (set upstream) governs
    over ``delay``; downstream windows reuse this one."""
    if not keys:
        raise ValueError("dedup_stream_within_watermark needs key columns")
    return (
        _with_watermark(events, ts_col, delay)
        .dropDuplicatesWithinWatermark(keys)
    )
