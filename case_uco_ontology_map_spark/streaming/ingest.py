"""Time-window and session aggregations over event tables.

The same ``F.window`` / ``F.session_window`` expressions run unchanged in
batch and Structured Streaming (pass ``watermark`` on a stream to bound
state); the contract rows run them in batch (ST5).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def windowed_stats(
    df: DataFrame,
    ts_col: str,
    window: str,
    keys: tuple = (),
    aggs: Optional[list] = None,
    slide: Optional[str] = None,
    watermark: Optional[str] = None,
) -> DataFrame:
    """Generic tumbling/sliding time-window aggregation for any event
    table. The same `F.window` expression
    runs unchanged in batch and streaming (pass `watermark` on a stream to
    bound state); a tumbling window is ONE shuffle on (window, *keys) with
    map-side partial aggregation, so at 100 TB the cost is the agg shuffle
    and nothing else."""
    w = F.window(ts_col, window, slide) if slide else F.window(ts_col, window)
    if watermark:
        df = df.withWatermark(ts_col, watermark)
    aggs = aggs or [F.count("*").alias("n_events")]
    out = df.groupBy(w.alias("win"), *keys).agg(*aggs)
    agg_cols = [c for c in out.columns if c not in ("win", *keys)]
    return out.select(
        F.col("win.start").alias("window_start"),
        F.col("win.end").alias("window_end"),
        *keys,
        *agg_cols,
    )


def sessionize(
    df: DataFrame,
    ts_col: str,
    gap: str,
    keys: tuple = (),
    aggs: Optional[list] = None,
    watermark: Optional[str] = None,
) -> DataFrame:
    """Session windows per key: events merge while the gap between
    consecutive timestamps is <= `gap` (a gap of exactly `gap` still
    merges — pinned in test_sessionize_gap_boundary); the emitted window
    spans
    [min(ts), max(ts) + gap) — Spark `session_window` semantics, identical
    in batch and streaming. The training-pipeline use is user/host
    sessionization of crawl or interaction logs. One shuffle on the keys;
    skewed keys (one bot user with millions of events) are the same hazard
    class as any groupBy and salt the same way (operators/skew.py)."""
    if watermark:
        df = df.withWatermark(ts_col, watermark)
    aggs = aggs or [F.count("*").alias("n_events")]
    out = df.groupBy(F.session_window(ts_col, gap).alias("win"), *keys).agg(
        *aggs
    )
    agg_cols = [c for c in out.columns if c not in ("win", *keys)]
    return out.select(
        F.col("win.start").alias("session_start"),
        F.col("win.end").alias("session_end"),
        *keys,
        *agg_cols,
    )
