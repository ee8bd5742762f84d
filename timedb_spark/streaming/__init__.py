"""Structured Streaming operators (SURVEY §2e).

Streaming twins of the batch surface: the tumbling-window events
aggregation and the stateful latest-per-series read. Both are built for
real streams (watermarks bound state; ``applyInPandasWithState`` holds one
small dict per key-group) but tested with file sources +
``trigger(availableNow=True)`` so results are deterministic and comparable
to their batch oracles.
"""

import uuid

from pyspark.sql import DataFrame

from timedb_spark.streaming.windows import stream_events_window, windowed_events_agg
from timedb_spark.streaming.state import stream_latest_state
from timedb_spark.streaming.dedup import stream_dedup
from timedb_spark.streaming.sessions import stream_sessionize
from timedb_spark.streaming.funnel import stream_funnel
from timedb_spark.streaming.ingest import stream_append_to_store

__all__ = [
    "stream_events_window",
    "windowed_events_agg",
    "stream_latest_state",
    "stream_dedup",
    "stream_sessionize",
    "stream_funnel",
    "stream_append_to_store",
    "run_available_now",
]


def run_available_now(stream_df: DataFrame, output_mode: str, timeout_s: int = 600) -> DataFrame:
    """Drain a stream deterministically: ``trigger(availableNow)`` into a
    memory sink, block until done, return the drained rows as a batch
    DataFrame.

    The bridge that lets streaming operators answer batch-style correctness
    questions (and the driver's oracle gate): same code path as production,
    bounded input. The result is DETACHED from the sink (memory sinks hold
    all rows on the driver for the session's lifetime — across a 100-query
    sweep the leaked sinks degraded later queries) and the sink's temp view
    is dropped, so each drain's memory is reclaimable once its result is."""
    return run_available_now_progress(stream_df, output_mode, timeout_s)[0]


def _detach(spark, name: str) -> DataFrame:
    """Detach a memory-sink table into a standalone DataFrame and drop the
    sink's temp view, so the drained rows don't stay pinned on the driver
    for the session's life.

    Detaches JVM-side (``localCheckpoint(eager=True)`` materialises the
    rows into block storage and cuts the lineage back to the temp view) —
    deliberately NOT a ``toPandas()``/``createDataFrame`` round-trip:
    pandas widens nullable long columns to float64, and re-creating from
    that in a session without Arrow enabled rejects the float-ified longs
    (``LongType() can not accept 1652.0``). The JVM path is also cheaper:
    no driver serialisation at all."""
    sink = spark.table(name)
    out = sink.localCheckpoint(eager=True)
    spark.catalog.dropTempView(name)
    return out


def stage_ordered_landing(df: DataFrame, path: str, n_files: int, order_col: str) -> str:
    """Write ``df`` as an IN-ORDER file landing zone: ``n_files`` parquet
    files range-partitioned on ``order_col`` (file k holds earlier values
    than file k+1), with file modification times stamped in range order.

    The mtime stamping is the load-bearing part: Spark's file stream source
    replays files oldest-mtime-first, but a parallel write finishes its part
    files in task-completion order — random mtimes — so without restamping,
    a 'later' file can land in an early micro-batch, catapult the watermark
    to end-of-data, and make every subsequent row late. part-0000k file
    names already encode range order (partition id = range bucket), so
    stamping follows the sorted paths."""
    import os
    import time

    from timedb_spark.session import micros_parquet_writes

    with micros_parquet_writes(df.sparkSession):
        df.repartitionByRange(n_files, order_col).write.mode("overwrite").parquet(path)
    parts = sorted(f for f in os.listdir(path) if f.startswith("part-") and f.endswith(".parquet"))
    base = int(time.time()) - 10 * len(parts) - 60
    for i, f in enumerate(parts):
        os.utime(os.path.join(path, f), (base + 10 * i, base + 10 * i))
    return path


def run_available_now_progress(stream_df: DataFrame, output_mode: str, timeout_s: int = 600):
    """:func:`run_available_now`, additionally returning the micro-batch
    progress list — lets tests assert HOW the drain executed (number of
    micro-batches, watermark advancement), not just the final rows."""
    spark = stream_df.sparkSession
    name = "drain_" + uuid.uuid4().hex[:12]
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout_s)
    progress = [p for p in q.recentProgress if p is not None]
    return _detach(spark, name), progress
