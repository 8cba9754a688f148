"""Watermarked event-time window aggregation — the Structured Streaming
surface photon's projections approximate with ordered folds
(streams.clj:125-145 folds in ARRIVAL order; a watermarked window
aggregates in EVENT time and has a principled late-data story instead).

Two shapes:

- :func:`windowed_agg` — tumbling/sliding `window()` groups per key.
- :func:`session_agg` — `session_window()` groups (gap-merged activity
  bursts), the streaming twin of the batch sessionize query.

Both take ANY DataFrame with an event-time column — the hot-cold replay
stream (``read_hot_cold`` → ``event_time``), a raw file-source stream
over the testdata events table, or a batch DataFrame (Spark evaluates
window()/session_window() identically in batch, which is what the
cross-checks in tests use).

Late-data contract (the part worth testing): with watermark delay D, a
micro-batch's rows older than ``max(event_time seen) − D`` are DROPPED
by the stateful aggregation, and append-mode windows emit only once
their end passes the watermark — bounded state, at the price of
discarding stragglers. The watermark_late_audit query measures what D
should be; these operators enforce it.

Scale: state size is O(open windows × keys), not O(events) — the
watermark closes windows, so a 100 TB/day stream holds only the windows
inside the delay horizon. The aggregation is a standard partial-agg
shuffle on (window, key); no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def windowed_agg(df: DataFrame, time_col: str = "event_time",
                 window: str = "1 hour", slide: str | None = None,
                 watermark: str = "10 minutes",
                 keys: tuple = ("stream_name",),
                 aggs: list | None = None) -> DataFrame:
    """Watermarked tumbling (or sliding, with ``slide``) window
    aggregation per key. Default aggregate is an event count; pass
    ``aggs`` for custom ones. Works on streaming AND batch inputs
    (batch ignores the watermark, per Spark semantics — the tests use
    that for exact cross-checks)."""
    if df.isStreaming:
        df = df.withWatermark(time_col, watermark)
    win = (F.window(time_col, window, slide) if slide
           else F.window(time_col, window))
    aggs = aggs or [F.count(F.lit(1)).alias("n_events")]
    return (df.groupBy(win.alias("win"), *keys)
              .agg(*aggs)
              .withColumn("win_start", F.col("win.start"))
              .withColumn("win_end", F.col("win.end"))
              .drop("win"))


def session_agg(df: DataFrame, time_col: str = "event_time",
                gap: str = "30 minutes", watermark: str = "10 minutes",
                keys: tuple = ("stream_name",),
                aggs: list | None = None) -> DataFrame:
    """Gap-merged session windows per key (`session_window`): events
    within ``gap`` of each other merge into one session — the streaming
    twin of the batch sessionize query (which derives sessions from lag
    deltas). State is per OPEN session; the watermark finalizes sessions
    whose close passed the horizon."""
    if df.isStreaming:
        df = df.withWatermark(time_col, watermark)
    aggs = aggs or [F.count(F.lit(1)).alias("n_events")]
    return (df.groupBy(F.session_window(time_col, gap).alias("win"),
                       *keys)
              .agg(*aggs)
              .withColumn("session_start", F.col("win.start"))
              .withColumn("session_end", F.col("win.end"))
              .drop("win"))
