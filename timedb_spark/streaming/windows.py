"""Streaming tumbling-window aggregation over ``events``.

The transformation is ONE function applied to either a batch or a streaming
DataFrame — the Structured Streaming contract ("write batch logic, run it on
a stream") is the whole point: results of the streaming run with
``availableNow`` equal the batch run on the same files.

Scale posture: the watermark bounds window state (late rows beyond
``delay`` are dropped, closed windows are evicted from the state store);
the aggregation itself is the same partial-agg shuffle as the batch twin.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: schema of the events stream as written by `tests` / a real feed
#: (microsecond ts — the ns-parquet quirk is a testdata artifact handled in
#: io.tables.load_table; a real stream source delivers proper timestamps).
EVENTS_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ]
)


def events_in_order(chunks):
    """One key's non-empty Arrow chunks of an events-shaped batch as ONE
    frame in ``(ts, event_id)`` order, or None when every chunk is empty.

    Every order-sensitive fold over a key's events (sessions, funnel, the
    CUSUM and Welford monitors, v1 and v2 alike) starts here: one
    micro-batch's rows can arrive split across chunks, so sorting per chunk
    would fold them in arrival order instead."""
    import numpy as np
    import pandas as pd

    frames = [pdf for pdf in chunks if len(pdf)]
    if not frames:
        return None
    pdf = pd.concat(frames, ignore_index=True) if len(frames) > 1 else frames[0]
    return pdf.take(np.lexsort((pdf["event_id"].values, pdf["ts"].values)))


def windowed_events_agg(events: DataFrame, *, window: str = "6 hours", delay: str = "1 hour") -> DataFrame:
    """Tumbling-window count+sum per event_type. Works on batch AND stream
    frames; on streams the watermark bounds state and admits late data up to
    ``delay``."""
    src = events.withWatermark("ts", delay) if events.isStreaming else events
    # Group on the window STRUCT (not `.start`): the struct carries the
    # event-time metadata that lets append mode emit on watermark passage.
    agg = src.groupBy(F.window("ts", window).alias("win"), "event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum(F.col("value").cast("decimal(18,2)")).cast("double"), 2).alias("sum_value"),
    )
    return agg.select(F.col("win.start").alias("window_start"), "event_type", "n_events", "sum_value")


def windowed_events_agg_sliding(
    events: DataFrame, *, window: str = "6 hours", slide: str = "2 hours", delay: str = "1 hour"
) -> DataFrame:
    """Hopping-window twin of :func:`windowed_events_agg` (the streaming
    form of analytics.events_window_sliding): each row lands in
    window/slide overlapping windows via the map-side Expand, then ONE
    watermark-bounded stateful aggregation — state holds only windows the
    watermark hasn't closed."""
    src = events.withWatermark("ts", delay) if events.isStreaming else events
    agg = src.groupBy(F.window("ts", window, slide).alias("win"), "event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum(F.col("value").cast("decimal(18,2)")).cast("double"), 2).alias("sum_value"),
    )
    return agg.select(F.col("win.start").alias("window_start"), "event_type", "n_events", "sum_value")


def stream_events_window(
    spark: SparkSession,
    source_dir: str,
    *,
    window: str = "6 hours",
    delay: str = "1 hour",
) -> DataFrame:
    """File-source streaming form: new parquet files under ``source_dir``
    are discovered per micro-batch (maxFilesPerTrigger bounds batch size —
    at scale this is the backfill-from-landing-zone pattern)."""
    stream = (
        spark.readStream.schema(EVENTS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 4)
        .parquet(source_dir)
    )
    return windowed_events_agg(stream, window=window, delay=delay)
