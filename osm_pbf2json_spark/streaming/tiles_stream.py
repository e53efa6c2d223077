"""Structured Streaming surface (graft-side; the reference is batch-only,
SURVEY.md §2.7 — whole crate is a one-shot file pipeline, main.rs:42-84).

The engine's streaming use case is incremental ingestion of page/point
events into the same tile space the batch engine queries:

- `streaming_tile_counts`: watermarked sliding-window counts per tile —
  late data beyond the watermark is dropped, windows close incrementally.

It operates on any streaming DataFrame with (ts timestamp, lon, lat).
Per-microbatch PIP annotation needs no wrapper: the batch
`operators.spatial.pip_join_broadcast` is a stateless mapInPandas and
works unchanged on streaming frames.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
import pyspark.sql.functions as F


def with_tile(stream_df: DataFrame, res: int = 9) -> DataFrame:
    from ..operators.spatial import hex_cell_col

    # pure Catalyst (bit-identical to the NumPy kernel): streaming
    # micro-batches never pay a Python-worker round trip for the encode
    return stream_df.withColumn("tile", hex_cell_col(F.col("lon"), F.col("lat"), res))


def streaming_tile_counts(
    stream_df: DataFrame,
    res: int = 9,
    window: str = "1 minute",
    slide: str | None = None,
    watermark: str = "2 minutes",
) -> DataFrame:
    """Windowed per-tile event counts with late-data handling."""
    tiled = with_tile(stream_df, res).withWatermark("ts", watermark)
    win = F.window("ts", window, slide) if slide else F.window("ts", window)
    return tiled.groupBy(win.alias("w"), "tile").agg(
        F.count("*").alias("n_events")
    ).select(F.col("w.start").alias("window_start"), "tile", "n_events")

