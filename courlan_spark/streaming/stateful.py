"""Streaming session windows: per-user sessions over an event stream.

``user_session_windows`` is the streaming form of the batch
gap-and-island sessions (``plans/catalog.q_event_sessions``); the
catalog's ``q_stream_sessions`` runs it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def user_session_windows(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "user_id",
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Per-user session aggregation via Spark's native session_window —
    the streaming dual of the batch gap-and-island formulation
    (plans/catalog.q_event_sessions; their equality is pinned in
    tests/test_catalog_oracles).  Works on both a streaming and a
    batch DataFrame.  In streaming append mode only sessions the
    watermark has closed are emitted — merge state stays bounded, the
    contract that matters when the stream is a crawl's event firehose."""
    source = events.withWatermark(ts_col, watermark) if events.isStreaming else events
    return (
        source.groupBy(
            F.col(key_col).alias("user_id"),
            F.session_window(F.col(ts_col), gap).alias("sw"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min(ts_col).alias("session_start"),
            F.max(ts_col).alias("session_end"),
        )
        .select("user_id", "session_start", "session_end", "n_events")
    )
