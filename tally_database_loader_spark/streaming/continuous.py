"""Session windows on Structured Streaming (SURVEY §2.H extras).

The reference's streaming model is change-polling micro-batches with no
event time; here that poll loop is ``__main__.main``'s ``while`` loop.
This module holds the event-time operator that a registered gate uses:
``sessionize``, checked by the ``event_sessions`` oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def sessionize(events: DataFrame, *, gap: str = "30 minutes",
               watermark: str = "1 hour", ts_col: str = "ts",
               key_col: str = "user_id") -> DataFrame:
    """Session windows: group each key's events into activity bursts
    separated by ≥``gap`` of silence — ``F.session_window``, the dynamic-
    length window the reference's polling model cannot express.

    Same plan batch and streaming. Batch output is SQL-checkable
    (gaps-and-islands formulation — see the ``event_sessions`` oracle in
    plans/gate.py); streaming adds the watermark so open-session state is
    dropped once no on-time event can extend it. Session merging shuffles
    on the key — uniform user ids, so no skew — and state per key is one
    (start, end, agg) triple, which is what keeps a year-long stream's
    state store bounded.
    """
    src = events
    if src.isStreaming:
        src = src.withWatermark(ts_col, watermark)
    w = F.session_window(F.col(ts_col), gap)
    return (src.groupBy(w.alias("w"), F.col(key_col))
               .agg(F.count(F.lit(1)).alias("n_events"))
               .select(F.col(key_col),
                       F.col("w.start").alias("session_start"),
                       F.col("w.end").alias("session_end"),
                       "n_events"))
