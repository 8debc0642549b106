"""Structured Streaming operators beyond the ingest merge:
event-time windowed aggregation with a late-data watermark, and a
custom stateful operator (applyInPandasWithState) for streaming
first-seen dedup.

These are the streaming counterparts of the batch frontier/dedup
aggregations: per-host crawl-rate windows mirror host_aggregates over
a live event stream, and the stateful dedup is the streaming form of
``dedup.exact_dedup`` — only the FIRST row per key ever crosses the
sink, regardless of how micro-batches slice the input.  State is
checkpointed by the engine; at production scale state lives in the
state store (RocksDB provider) keyed by the dedup key.
"""

from __future__ import annotations

from collections.abc import Iterable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def host_rate_windows(
    events: DataFrame,
    ts_col: str = "ts",
    host_col: str = "host",
    window: str = "1 minute",
    slide: str | None = None,
    watermark: str = "2 minutes",
) -> DataFrame:
    """Per-host event counts over event-time windows with a late-data
    watermark (the crawl-rate monitor).  Works on both a streaming and
    a batch DataFrame (the batch form is the oracle in tests).

    Late rows beyond ``watermark`` are dropped by the engine instead of
    reopening closed windows — the contract that makes the aggregation
    state bounded at web scale."""
    w = (
        F.window(F.col(ts_col), window, slide)
        if slide
        else F.window(F.col(ts_col), window)
    )
    source = events.withWatermark(ts_col, watermark) if events.isStreaming else events
    return source.groupBy(w.alias("win"), F.col(host_col).alias("host")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("n_bytes")).alias("total_bytes"),
    ).select(
        F.col("win.start").alias("window_start"),
        F.col("win.end").alias("window_end"),
        "host",
        "n_events",
        "total_bytes",
    )


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


_DEDUP_STATE_SCHEMA = "emitted boolean"


def streaming_first_seen(
    stream: DataFrame,
    key_col: str,
    order_col: str,
    payload_cols: list[str],
) -> DataFrame:
    """Streaming exact dedup via applyInPandasWithState: for every
    distinct ``key_col`` value, exactly ONE row (the minimum by
    ``order_col`` within the first batch that carries the key) is
    emitted across the whole stream; later occurrences — same batch or
    any later micro-batch — are swallowed by the per-key state.

    Output schema: key_col, order_col, *payload_cols."""
    out_fields = [key_col, order_col, *payload_cols]

    def first_seen(key, pdfs: Iterable[pd.DataFrame], state):
        if state.exists:
            return
        best = None
        for pdf in pdfs:
            if not len(pdf):
                continue
            cand = pdf.sort_values(order_col).iloc[:1]
            if best is None or cand[order_col].iloc[0] < best[order_col].iloc[0]:
                best = cand
        state.update((True,))
        if best is not None:
            yield best[out_fields]

    by_name = {f.name: f for f in stream.schema}
    out_schema = ", ".join(
        f"{name} {by_name[name].dataType.simpleString()}" for name in out_fields
    )
    from pyspark.sql.streaming.state import GroupStateTimeout

    return stream.groupBy(key_col).applyInPandasWithState(
        first_seen,
        outputStructType=out_schema,
        stateStructType=_DEDUP_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
