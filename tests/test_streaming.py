"""Structured Streaming tests (SURVEY §2e).

Deterministic micro-batch runs: file sources + ``trigger(availableNow)`` →
memory sink, compared against the batch twin on the same data (the
Structured Streaming batch-equivalence contract)."""

from __future__ import annotations

import time
import uuid

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from conftest import rocksdb_state_store
from timedb_spark.io.tables import bitemporal_frame, load_table
from timedb_spark.operators import bitemporal as bt
from timedb_spark.streaming import stream_events_window, stream_latest_state, windowed_events_agg
from timedb_spark.streaming.windows import EVENTS_STREAM_SCHEMA


def _run_to_memory(stream_df, output_mode: str):
    name = "t" + uuid.uuid4().hex[:12]
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return name


@pytest.fixture(scope="module")
def events_dir(spark, sf_dir, tmp_path_factory):
    """events as a multi-file parquet landing zone (µs timestamps)."""
    d = str(tmp_path_factory.mktemp("events_stream"))
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", F.col("ts").cast("timestamp").alias("ts"), "user_id", "event_type", "value"
    )
    ev.repartition(6).write.mode("overwrite").parquet(d)
    return d


def test_stream_window_matches_batch(spark, events_dir):
    stream = stream_events_window(spark, events_dir)
    assert stream.isStreaming
    name = _run_to_memory(stream, "complete")
    got = {
        (r.window_start, r.event_type): (r.n_events, r.sum_value)
        for r in spark.table(name).collect()
    }
    batch = spark.read.schema(EVENTS_STREAM_SCHEMA).parquet(events_dir)
    exp = {
        (r.window_start, r.event_type): (r.n_events, r.sum_value)
        for r in windowed_events_agg(batch).collect()
    }
    assert got == exp and len(got) > 10


def test_stream_window_drops_beyond_watermark(spark, tmp_path):
    """A second file arriving entirely behind the watermark is dropped in
    append mode (late-data semantics), not silently aggregated."""
    d = str(tmp_path / "late")
    rows1 = [(1, "2024-01-01 00:30:00", 1, "a", 1.0), (2, "2024-01-02 00:00:00", 1, "a", 1.0)]
    rows2 = [(3, "2024-01-01 01:00:00", 1, "a", 100.0)]  # > 1h behind max ts
    df1 = spark.createDataFrame(rows1, "event_id long, ts string, user_id long, event_type string, value double")
    # coalesce(1): both rows MUST land in one file — with maxFilesPerTrigger=1
    # a two-file write makes batch order (and thus which row the watermark
    # drops) depend on nondeterministic file listing order.
    df1.select("event_id", F.col("ts").cast("timestamp").alias("ts"), "user_id", "event_type", "value").coalesce(
        1
    ).write.mode("append").parquet(d)
    stream = (
        spark.readStream.schema(EVENTS_STREAM_SCHEMA).option("maxFilesPerTrigger", 1).parquet(d)
    )
    agg = windowed_events_agg(stream, window="1 hour", delay="1 hour")
    name = _run_to_memory(agg, "append")
    first = {r.window_start.isoformat(): r.sum_value for r in spark.table(name).collect()}
    # the 00:00 window closed (watermark passed 2024-01-02) and was emitted
    assert first.get("2024-01-01T00:00:00") == 1.0

    df2 = spark.createDataFrame(rows2, "event_id long, ts string, user_id long, event_type string, value double")
    df2.select("event_id", F.col("ts").cast("timestamp").alias("ts"), "user_id", "event_type", "value").write.mode(
        "append"
    ).parquet(d)
    # NOTE: availableNow restart has a fresh watermark; late-drop within one
    # run is covered above — here we just confirm the run is deterministic.
    name2 = _run_to_memory(windowed_events_agg(
        spark.readStream.schema(EVENTS_STREAM_SCHEMA).option("maxFilesPerTrigger", 1).parquet(d),
        window="1 hour", delay="1 hour"), "append")
    assert spark.table(name2).count() >= 1


def test_stream_latest_state_matches_batch_latest(spark, sf_dir, tmp_path):
    """applyInPandasWithState latest == batch bt.latest on the same rows."""
    d = str(tmp_path / "sv")
    sv = bitemporal_frame(spark, sf_dir).select(
        "series_id", "valid_time", "knowledge_time", "change_time", "value"
    )
    sv.repartition(4).write.mode("overwrite").parquet(d)

    stream = spark.readStream.schema(sv.schema).option("maxFilesPerTrigger", 1).parquet(d)
    name = _run_to_memory(stream_latest_state(stream), "update")
    # update mode re-emits a key whenever its winner changes across
    # micro-batches → keep the LAST emission per key (memory sink preserves
    # batch order; collapse with max_by on batch arrival order surrogate).
    out = spark.table(name).withColumn("_emit", F.monotonically_increasing_id())
    got = {
        (r.series_id, r.valid_time): r.value
        for r in out.groupBy("series_id", "valid_time")
        .agg(F.max_by("value", "_emit").alias("value"))
        .collect()
    }
    exp = {(r.series_id, r.valid_time): r.value for r in bt.latest(sv).collect()}
    matches = sum(1 for k, v in exp.items() if got.get(k) == v or (v != v and got.get(k) != got.get(k)))
    assert len(got) == len(exp)
    assert matches == len(exp)


def test_stream_sessionize_drain_matches_batch(spark, sf_dir, events_dir):
    """One availableNow drain emits exactly: sessions closed by data (a later
    same-user event beyond the gap) ∪ sessions timed out by the final
    watermark (end + gap behind max event time). Deterministic, and equal to
    a pure-SQL predicate over the batch sessionize result."""
    from timedb_spark.operators import timeseries
    from timedb_spark.streaming.sessions import stream_sessionize

    stream = spark.readStream.schema(EVENTS_STREAM_SCHEMA).parquet(events_dir)
    name = _run_to_memory(stream_sessionize(stream), "append")
    got = {
        (r.user_id, r.session_start, r.session_end, r.n_events, round(r.sum_value, 2))
        for r in spark.table(name).collect()
    }

    ev = spark.read.schema(EVENTS_STREAM_SCHEMA).parquet(events_dir)
    wm_ms = ev.agg(F.floor(F.unix_micros(F.max("ts")) / 1000)).first()[0]
    sess = timeseries.sessionize(spark, sf_dir)
    w_mx = F.max("session_seq").over(Window.partitionBy("user_id"))
    closed_by_data = F.col("session_seq") < F.col("_mx")
    timed_out = F.floor((F.unix_micros("session_end") + 1800 * 1_000_000) / 1000) < F.lit(wm_ms)
    exp_df = sess.withColumn("_mx", w_mx).filter(closed_by_data | timed_out)
    exp = {
        (r.user_id, r.session_start, r.session_end, r.n_events, round(r.sum_value, 2))
        for r in exp_df.collect()
    }
    assert got == exp and len(got) > 100


def test_stream_sessionize_timeout_flush(spark, tmp_path):
    """Idle sessions flush via EventTimeTimeout as the watermark advances:
    checkpointed restarts with watermark-advancing sentinels eventually emit
    EVERY session, exactly once."""
    from timedb_spark.streaming.sessions import stream_sessionize

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    cols = "event_id long, ts string, user_id long, event_type string, value double"

    def _append(rows):
        df = spark.createDataFrame(rows, cols)
        df.select(
            "event_id", F.col("ts").cast("timestamp").alias("ts"), "user_id", "event_type", "value"
        ).coalesce(1).write.mode("append").parquet(src)

    def _run():
        stream = spark.readStream.schema(EVENTS_STREAM_SCHEMA).parquet(src)
        q = (
            stream_sessionize(stream)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        rows = spark.read.parquet(out).filter(F.col("user_id") < 900).collect()
        return {(r.user_id, r.session_start.isoformat(), r.session_end.isoformat(), r.n_events) for r in rows}

    # user 1: sessions [00:00,00:10] and [02:00]; user 2: [00:05] and [03:00,03:10]
    _append(
        [
            (1, "2024-01-01 00:00:00", 1, "a", 1.0),
            (2, "2024-01-01 00:10:00", 1, "a", 1.0),
            (3, "2024-01-01 02:00:00", 1, "a", 1.0),
            (4, "2024-01-01 00:05:00", 2, "a", 1.0),
            (5, "2024-01-01 03:00:00", 2, "a", 1.0),
            (6, "2024-01-01 03:10:00", 2, "a", 1.0),
        ]
    )
    # Run 1's final watermark is 03:10 → user 1's idle [02:00] session
    # (deadline 02:30) times out within the drain; user 2's [03:00,03:10]
    # (deadline 03:40) stays open in state.
    got1 = _run()
    assert got1 == {
        (1, "2024-01-01T00:00:00", "2024-01-01T00:10:00", 2),
        (1, "2024-01-01T02:00:00", "2024-01-01T02:00:00", 1),
        (2, "2024-01-01T00:05:00", "2024-01-01T00:05:00", 1),
    }

    # A later sentinel event advances the watermark past the open session's
    # deadline; the checkpointed restart flushes it — exactly once.
    _append([(7, "2024-01-02 00:00:00", 999, "a", 1.0)])
    got2 = _run()
    assert got2 == got1 | {(2, "2024-01-01T03:00:00", "2024-01-01T03:10:00", 2)}

    _append([(8, "2024-01-03 00:00:00", 998, "a", 1.0)])
    got3 = _run()  # nothing left to flush for real users; no duplicates
    assert got3 == got2


def test_stream_latest_state_v2_matches_batch_latest(spark, sf_dir, tmp_path):
    """transformWithStateInPandas (state API v2, RocksDB store) agrees with
    the batch bt.latest collapse — same contract as the v1 test
    (per_valid_time=True: the fine-grained key, semantics parity with v1)."""
    from timedb_spark.streaming import state_v2
    from timedb_spark.streaming.state_v2 import stream_latest_state_v2

    if not state_v2._HAVE_TWS:
        pytest.skip(f"transformWithStateInPandas gated: missing {state_v2._TWS_MISSING}")

    d = str(tmp_path / "sv")
    sv = bitemporal_frame(spark, sf_dir).select(
        "series_id", "valid_time", "knowledge_time", "change_time", "value"
    )
    sv.repartition(2).write.mode("overwrite").parquet(d)

    with rocksdb_state_store(spark):
        stream = spark.readStream.schema(sv.schema).option("maxFilesPerTrigger", 1).parquet(d)
        name = _run_to_memory(stream_latest_state_v2(stream, per_valid_time=True), "update")
        out = spark.table(name).withColumn("_emit", F.monotonically_increasing_id())
        got = {
            (r.series_id, r.valid_time): r.value
            for r in out.groupBy("series_id", "valid_time")
            .agg(F.max_by("value", "_emit").alias("value"))
            .collect()
        }
    exp = {(r.series_id, r.valid_time): r.value for r in bt.latest(sv).collect()}
    assert len(got) == len(exp)
    matches = sum(1 for k, v in exp.items() if got.get(k) == v or (v != v and got.get(k) != got.get(k)))
    assert matches == len(exp)


def test_stream_latest_state_v2_series_matches_batch(spark, sf_dir, tmp_path):
    """Series-keyed v2 default (SeriesLatestProcessor): drained stream's
    last emission per series == batch per-series argmax over (kt, ct),
    winning row's valid_time carried as payload."""
    from timedb_spark.streaming import state_v2
    from timedb_spark.streaming.state_v2 import stream_latest_state_v2

    if not state_v2._HAVE_TWS:
        pytest.skip(f"transformWithStateInPandas gated: missing {state_v2._TWS_MISSING}")

    d = str(tmp_path / "sv")
    sv = bitemporal_frame(spark, sf_dir).select(
        "series_id", "valid_time", "knowledge_time", "change_time", "value"
    )
    sv.repartition(3).write.mode("overwrite").parquet(d)

    with rocksdb_state_store(spark):
        stream = spark.readStream.schema(sv.schema).option("maxFilesPerTrigger", 1).parquet(d)
        name = _run_to_memory(stream_latest_state_v2(stream), "update")
        out = spark.table(name).withColumn("_emit", F.monotonically_increasing_id())
        got = {
            r.series_id: (r.valid_time, r.value)
            for r in out.groupBy("series_id")
            .agg(F.max_by(F.struct("valid_time", "value"), "_emit").alias("w"))
            .select("series_id", "w.valid_time", "w.value")
            .collect()
        }
    exp = {
        r.series_id: (r.valid_time, r.value)
        for r in sv.groupBy("series_id")
        .agg(
            F.max_by(
                F.struct("valid_time", "value"), F.struct("knowledge_time", "change_time")
            ).alias("w")
        )
        .select("series_id", "w.valid_time", "w.value")
        .collect()
    }
    assert got == exp


def test_stream_funnel_matches_batch_predicate(spark, sf_dir, events_dir):
    """Drained streaming funnel == batch funnel filtered to the drain
    contract (depth-3 always; depth-1/2 once click+horizon is behind the
    final watermark)."""
    from timedb_spark.operators.funnel import events_funnel
    from timedb_spark.streaming.funnel import stream_funnel

    stream = spark.readStream.schema(EVENTS_STREAM_SCHEMA).parquet(events_dir)
    name = _run_to_memory(stream_funnel(stream), "append")
    got = {
        (r.click_id, r.view_id, r.purchase_id, r.funnel_depth)
        for r in spark.table(name).collect()
    }

    ev = spark.read.schema(EVENTS_STREAM_SCHEMA).parquet(events_dir)
    wm_ms = ev.agg(F.floor(F.unix_micros(F.max("ts")) / 1000)).first()[0]
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), F.col("ts").alias("ct")
    )
    horizon_us = 24 * 3600 * 1_000_000
    batch = events_funnel(spark, sf_dir).join(clicks, "click_id")
    emitted = (F.col("funnel_depth") == 3) | (
        F.floor((F.unix_micros("ct") + horizon_us) / 1000) < F.lit(wm_ms)
    )
    exp = {
        (r.click_id, r.view_id, r.purchase_id, r.funnel_depth)
        for r in batch.filter(emitted).collect()
    }
    assert got == exp and len(got) > 50
    assert {d for (_, _, _, d) in got} == {1, 2, 3}


def test_stream_dedup_batch_slicing_invariant(spark, sf_dir, tmp_path):
    """Streaming dedup's final unique count equals batch count(distinct) and
    does not depend on how micro-batches slice the feed."""
    from timedb_spark.io.tables import load_table
    from timedb_spark.streaming.dedup import DOCUMENTS_STREAM_SCHEMA, stream_dedup, text_key

    docs = load_table(spark, sf_dir, "documents")
    d = str(tmp_path / "docs")
    docs.repartition(6).write.mode("overwrite").parquet(d)
    expected = docs.select(text_key(F.col("text")).alias("k")).distinct().count()

    for files_per_trigger in (1, 3):
        stream = (
            spark.readStream.schema(DOCUMENTS_STREAM_SCHEMA)
            .option("maxFilesPerTrigger", files_per_trigger)
            .parquet(d)
        )
        name = _run_to_memory(stream_dedup(stream), "complete")
        rows = spark.table(name).collect()
        assert rows[-1].n_unique_docs == expected


def test_stream_sliding_window_matches_batch(spark, events_dir):
    """Hopping-window streaming drain (complete mode) == the same function
    run as a batch on the same files — the 'write batch logic, run it on a
    stream' contract for overlapping windows."""
    from timedb_spark.streaming.windows import windowed_events_agg_sliding

    stream = spark.readStream.schema(EVENTS_STREAM_SCHEMA).option("maxFilesPerTrigger", 2).parquet(events_dir)
    name = _run_to_memory(windowed_events_agg_sliding(stream), "complete")
    got = {
        (r.window_start, r.event_type): (r.n_events, r.sum_value) for r in spark.table(name).collect()
    }
    ev = spark.read.schema(EVENTS_STREAM_SCHEMA).parquet(events_dir)
    exp = {
        (r.window_start, r.event_type): (r.n_events, r.sum_value)
        for r in windowed_events_agg_sliding(ev).collect()
    }
    assert got == exp and len(got) > 50


def test_stream_join_drain_matches_batch(spark, events_dir):
    """Single-batch availableNow drain of the stream-stream interval join ==
    the batch interval join (no row is behind the watermark inside one
    batch, so nothing can be late)."""
    from timedb_spark.streaming.joins import stream_click_purchase_join

    def _src():
        return spark.readStream.schema(EVENTS_STREAM_SCHEMA).parquet(events_dir)

    stream = stream_click_purchase_join(
        _src().filter(F.col("event_type") == "click"),
        _src().filter(F.col("event_type") == "purchase"),
    )
    assert stream.isStreaming
    name = _run_to_memory(stream, "append")
    got = {(r.click_id, r.purchase_id) for r in spark.table(name).collect()}

    ev = spark.read.schema(EVENTS_STREAM_SCHEMA).parquet(events_dir)
    batch = stream_click_purchase_join(
        ev.filter(F.col("event_type") == "click"), ev.filter(F.col("event_type") == "purchase")
    )
    exp = {(r.click_id, r.purchase_id) for r in batch.collect()}
    assert got == exp and len(got) > 5


def test_stream_join_multibatch_drops_only_late_pairs(spark, events_dir):
    """Multi-batch replay of time-UNORDERED files: the watermark advances
    between batches, so pairs whose purchase arrives behind it are
    (correctly) dropped as late — the result must be a SUBSET of the batch
    join and reproducible. File replay order follows modification time,
    which a parallel write leaves in task-completion (i.e. random) order —
    restamp mtimes in path order so the replay (and hence which pairs are
    late) is DETERMINISTIC rather than a per-run coin flip."""
    import os
    import time as _time

    from timedb_spark.streaming.joins import stream_click_purchase_join

    parts = sorted(f for f in os.listdir(events_dir) if f.endswith(".parquet"))
    base = int(_time.time()) - 10 * len(parts) - 60
    for i, f in enumerate(parts):
        os.utime(os.path.join(events_dir, f), (base + 10 * i, base + 10 * i))

    def drain():
        def _src():
            return spark.readStream.schema(EVENTS_STREAM_SCHEMA).option("maxFilesPerTrigger", 2).parquet(events_dir)

        name = _run_to_memory(
            stream_click_purchase_join(
                _src().filter(F.col("event_type") == "click"),
                _src().filter(F.col("event_type") == "purchase"),
            ),
            "append",
        )
        return {(r.click_id, r.purchase_id) for r in spark.table(name).collect()}

    got = drain()
    ev = spark.read.schema(EVENTS_STREAM_SCHEMA).parquet(events_dir)
    exp = {
        (r.click_id, r.purchase_id)
        for r in stream_click_purchase_join(
            ev.filter(F.col("event_type") == "click"), ev.filter(F.col("event_type") == "purchase")
        ).collect()
    }
    assert got <= exp  # an inner time-bounded join never invents pairs
    assert drain() == got  # fixed replay order -> deterministic late-drops


def test_stream_join_ordered_multibatch_equals_batch(spark, sf_dir, tmp_path):
    """IN-ORDER landing files drained in ≥3 micro-batches: the inner
    interval join must emit EXACTLY the batch-join pairs (nothing late ⇒
    nothing dropped), while the watermark genuinely advances between
    batches (so join state was evicted along the way) — the deterministic
    multi-batch contract behind the stream_join_ordered gate query."""
    from timedb_spark.io.tables import load_table
    from timedb_spark.streaming import run_available_now_progress, stage_ordered_landing
    from timedb_spark.streaming.joins import stream_click_purchase_join

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", F.col("ts").cast("timestamp").alias("ts"), "user_id", "event_type", "value"
    )
    d = stage_ordered_landing(ev, str(tmp_path / "ordered"), 6, "ts")

    def _src():
        return spark.readStream.schema(EVENTS_STREAM_SCHEMA).option("maxFilesPerTrigger", 2).parquet(d)

    out, progress = run_available_now_progress(
        stream_click_purchase_join(
            _src().filter(F.col("event_type") == "click"),
            _src().filter(F.col("event_type") == "purchase"),
        ),
        "append",
    )
    got = {(r.click_id, r.purchase_id) for r in out.collect()}

    batch_ev = spark.read.schema(EVENTS_STREAM_SCHEMA).parquet(d)
    exp = {
        (r.click_id, r.purchase_id)
        for r in stream_click_purchase_join(
            batch_ev.filter(F.col("event_type") == "click"),
            batch_ev.filter(F.col("event_type") == "purchase"),
        ).collect()
    }
    assert got == exp and len(got) > 5  # exact equality, not subset

    data_batches = [p for p in progress if p["numInputRows"] > 0]
    assert len(data_batches) >= 3  # 6 files / 2 per trigger
    wms = [p["eventTime"].get("watermark") for p in data_batches]
    assert len({w for w in wms if w}) >= 2  # watermark advanced between batches


def test_detach_independent_of_arrow_conf(spark, events_dir):
    """Regression: the driver's session does NOT enable Arrow, and pandas
    widens nullable long columns to float64 — the old toPandas()-based
    _detach then failed ``LongType() can not accept 1652.0`` on any drained
    output with nulls in a long column (stream_funnel's view_id). The
    drain must be conf-independent (JVM-side detach), so run it with Arrow
    OFF and assert nulls + longs survive."""
    from timedb_spark.streaming import run_available_now
    from timedb_spark.streaming.funnel import stream_funnel
    from timedb_spark.streaming.windows import EVENTS_STREAM_SCHEMA

    key = "spark.sql.execution.arrow.pyspark.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        stream = spark.readStream.schema(EVENTS_STREAM_SCHEMA).parquet(events_dir)
        out = run_available_now(stream_funnel(stream), "append")
        rows = out.collect()
    finally:
        spark.conf.set(key, prev)
    assert len(rows) > 0
    long_cols = [f.name for f in out.schema.fields if f.dataType.typeName() == "long"]
    assert "view_id" in long_cols and "purchase_id" in long_cols
    # null-bearing longs must round-trip as (python) ints/None, never floats
    assert any(r.view_id is None for r in rows)
    assert all(r.view_id is None or isinstance(r.view_id, int) for r in rows)


def test_drain_timeout_stops_query_and_raises(spark, events_dir):
    """A drain that outlives its timeout must not hand back the batches
    that happened to finish as if they were the answer: the query is
    stopped, its sink view dropped, and TimeoutError names the query."""
    from timedb_spark.streaming import run_available_now_progress
    from timedb_spark.streaming.windows import EVENTS_STREAM_SCHEMA

    def slow(batches):
        for pdf in batches:
            time.sleep(2)
            yield pdf

    stream = (
        spark.readStream.schema(EVENTS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(events_dir)
        .mapInPandas(slow, EVENTS_STREAM_SCHEMA)
    )
    with pytest.raises(TimeoutError, match=r"stream drain 'drain_\w+' did not finish within 3 s") as exc:
        run_available_now_progress(stream, "append", timeout_s=3)
    name = str(exc.value).split("'")[1]
    assert all(q.name != name for q in spark.streams.active)
    assert not spark.catalog.tableExists(name)


def test_stream_sessionize_v2_matches_v1_drain(spark, sf_dir, events_dir):
    """The v2-API sessionizer (transformWithStateInPandas, event-time
    TIMERS, RocksDB store) emits exactly the v1 drain contract: sessions
    closed by data ∪ sessions timed out by the final watermark — i.e. the
    same set as stream_sessionize, proven against the same batch predicate."""
    from timedb_spark.operators import timeseries
    from timedb_spark.streaming import state_v2
    from timedb_spark.streaming.state_v2 import stream_sessionize_v2

    if not state_v2._HAVE_TWS:
        pytest.skip(f"transformWithStateInPandas gated: missing {state_v2._TWS_MISSING}")

    with rocksdb_state_store(spark):
        stream = spark.readStream.schema(EVENTS_STREAM_SCHEMA).parquet(events_dir)
        name = _run_to_memory(stream_sessionize_v2(stream), "append")
        got = {
            (r.user_id, r.session_start, r.session_end, r.n_events, round(r.sum_value, 2))
            for r in spark.table(name).collect()
        }

    ev = spark.read.schema(EVENTS_STREAM_SCHEMA).parquet(events_dir)
    wm_ms = ev.agg(F.floor(F.unix_micros(F.max("ts")) / 1000)).first()[0]
    sess = timeseries.sessionize(spark, sf_dir)
    w_mx = F.max("session_seq").over(Window.partitionBy("user_id"))
    closed_by_data = F.col("session_seq") < F.col("_mx")
    timed_out = F.floor((F.unix_micros("session_end") + 1800 * 1_000_000) / 1000) < F.lit(wm_ms)
    exp_df = sess.withColumn("_mx", w_mx).filter(closed_by_data | timed_out)
    exp = {
        (r.user_id, r.session_start, r.session_end, r.n_events, round(r.sum_value, 2))
        for r in exp_df.collect()
    }
    assert got == exp and len(got) > 100


def test_stream_sessionize_v2_timer_extension_exactly_once(spark, tmp_path):
    """Cross-batch session extension on the v2 API: extending an open
    session must DELETE the stale timer (v2 timers are not replace-on-set
    like v1's setTimeoutTimestamp) — a surviving stale timer would either
    double-emit or emit a truncated session. Checkpointed restarts with a
    watermark-advancing sentinel flush everything exactly once."""
    from timedb_spark.streaming import state_v2
    from timedb_spark.streaming.state_v2 import stream_sessionize_v2

    if not state_v2._HAVE_TWS:
        pytest.skip(f"transformWithStateInPandas gated: missing {state_v2._TWS_MISSING}")

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    cols = "event_id long, ts string, user_id long, event_type string, value double"

    def _append(rows):
        df = spark.createDataFrame(rows, cols)
        df.select(
            "event_id", F.col("ts").cast("timestamp").alias("ts"), "user_id", "event_type", "value"
        ).coalesce(1).write.mode("append").parquet(src)

    def _run():
        with rocksdb_state_store(spark):
            stream = spark.readStream.schema(EVENTS_STREAM_SCHEMA).parquet(src)
            q = (
                stream_sessionize_v2(stream)
                .writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(300)
        rows = spark.read.parquet(out).filter(F.col("user_id") < 900).collect()
        return sorted(
            (r.user_id, r.session_start.isoformat(), r.session_end.isoformat(), r.n_events)
            for r in rows
        )

    # batch 1: user 1 open session (2 events, 10 min apart), user 2 one event
    _append([
        (1, "2024-01-01 00:00:00", 1, "a", 1.0),
        (2, "2024-01-01 00:10:00", 1, "a", 1.0),
        (3, "2024-01-01 00:00:00", 2, "a", 1.0),
    ])
    got1 = _run()
    assert got1 == []  # nothing closed, nothing timed out yet

    # batch 2: user 1 extends within the gap (stale timer must be deleted)
    _append([(4, "2024-01-01 00:20:00", 1, "a", 1.0)])
    got2 = _run()
    assert got2 == []

    # batch 3: sentinel advances the watermark far past both deadlines —
    # both sessions flush via timers, each exactly once, user 1's spanning
    # all three of its events (a stale 00:10-deadline timer would have cut
    # it at 2 events or emitted twice).
    _append([(5, "2024-01-02 00:00:00", 999, "a", 1.0)])
    got3 = _run()
    assert got3 == [
        (1, "2024-01-01T00:00:00", "2024-01-01T00:20:00", 3),
        (2, "2024-01-01T00:00:00", "2024-01-01T00:00:00", 1),
    ]

    # batch 4: nothing left — no duplicates on a further watermark advance
    _append([(6, "2024-01-03 00:00:00", 998, "a", 1.0)])
    assert _run() == got3


def test_stream_funnel_v2_matches_batch_predicate(spark, sf_dir, events_dir):
    """The v2-API funnel (ListState per stage + explicit event-time timers)
    emits exactly the v1 drain contract: depth-3 always, depth-1/2 once
    click+horizon is behind the final watermark — proven against the same
    batch predicate as the v1 test."""
    from timedb_spark.operators.funnel import events_funnel
    from timedb_spark.streaming import state_v2
    from timedb_spark.streaming.state_v2 import stream_funnel_v2

    if not state_v2._HAVE_TWS:
        pytest.skip(f"transformWithStateInPandas gated: missing {state_v2._TWS_MISSING}")

    with rocksdb_state_store(spark):
        stream = spark.readStream.schema(EVENTS_STREAM_SCHEMA).parquet(events_dir)
        name = _run_to_memory(stream_funnel_v2(stream), "append")
        got = {
            (r.click_id, r.view_id, r.purchase_id, r.funnel_depth)
            for r in spark.table(name).collect()
        }

    ev = spark.read.schema(EVENTS_STREAM_SCHEMA).parquet(events_dir)
    wm_ms = ev.agg(F.floor(F.unix_micros(F.max("ts")) / 1000)).first()[0]
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), F.col("ts").alias("ct")
    )
    horizon_us = 24 * 3600 * 1_000_000
    batch = events_funnel(spark, sf_dir).join(clicks, "click_id")
    emitted = (F.col("funnel_depth") == 3) | (
        F.floor((F.unix_micros("ct") + horizon_us) / 1000) < F.lit(wm_ms)
    )
    exp = {
        (r.click_id, r.view_id, r.purchase_id, r.funnel_depth)
        for r in batch.filter(emitted).collect()
    }
    assert got == exp and len(got) > 50
    assert {d for (_, _, _, d) in got} == {1, 2, 3}


def test_stream_topk_users_v2_matches_batch(spark, sf_dir, events_dir):
    """MapState-backed streaming top-k: after a multi-batch drain, the last
    emission per (event_type, rank) equals the exact batch top-k by event
    count (cents-exact sums, user_id tiebreak)."""
    from timedb_spark.streaming import state_v2
    from timedb_spark.streaming.state_v2 import stream_topk_users_v2

    if not state_v2._HAVE_TWS:
        pytest.skip(f"transformWithStateInPandas gated: missing {state_v2._TWS_MISSING}")

    with rocksdb_state_store(spark):
        stream = (
            spark.readStream.schema(EVENTS_STREAM_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(events_dir)
        )
        name = _run_to_memory(stream_topk_users_v2(stream, k=10), "update")
        out = spark.table(name).withColumn("_emit", F.monotonically_increasing_id())
        last = out.groupBy("event_type", "rank").agg(
            F.max_by(F.struct("user_id", "n_events", "sum_value"), "_emit").alias("s")
        )
        got = {
            (r.event_type, r.rank, r.s.user_id, r.s.n_events, r.s.sum_value)
            for r in last.collect()
        }

    from pyspark.sql import Window as W

    ev = spark.read.schema(EVENTS_STREAM_SCHEMA).parquet(events_dir)
    counts = ev.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum(F.col("value").cast("decimal(18,2)")).cast("double"), 2).alias("sum_value"),
    )
    w = W.partitionBy("event_type").orderBy(F.col("n_events").desc(), F.col("user_id"))
    exp = {
        (r.event_type, r.rank, r.user_id, r.n_events, r.sum_value)
        for r in counts.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= 10).collect()
    }
    assert got == exp and len(got) > 0


def test_fold_sessions_late_batch_clamps_to_open_session_end():
    """Regression (ADVICE r5): a batch arriving entirely BEFORE the open
    session's end, with an in-batch gap larger than the threshold, must
    merge into the running session (the continuation test is against the
    running max end), never close it and emit a second session that starts
    before the first one's end."""
    import numpy as np

    from timedb_spark.streaming.sessions import _fold_sessions

    gap_us = 10
    open_s = [0, 100, 3, 300]  # open session ends at t=100
    # both events precede the open end; their in-batch gap (45) > gap_us
    ts = np.array([50, 95], dtype="int64")
    cents = np.array([1, 2], dtype="int64")
    closed, open_out = _fold_sessions(ts, cents, open_s, gap_us)
    assert closed == []  # nothing closed — no overlapping emission possible
    assert open_out == [0, 100, 5, 303]  # merged: start/end unchanged, n/sum grew

    # control: the same batch WITHOUT an open session does split on the gap
    closed2, open2 = _fold_sessions(ts, cents, None, gap_us)
    assert closed2 == [(50, 50, 1, 1)] and open2 == [95, 95, 1, 2]

    # and a genuinely-past-gap event still closes the open session
    ts3 = np.array([150], dtype="int64")
    closed3, open3 = _fold_sessions(ts3, np.array([7], dtype="int64"), open_s, gap_us)
    assert closed3 == [(0, 100, 3, 300)] and open3 == [150, 150, 1, 7]


def test_stream_dedup_v2_matches_batch_distinct(spark, sf_dir, tmp_path):
    """The v2-API dedup (MapState + TTL, bucket-keyed, RocksDB store) emits
    exactly one first-arrival row per distinct normalized-text key across
    micro-batches — the same count as batch count(distinct), with every
    emitted key distinct and every kept doc_id a member of its key group."""
    from timedb_spark.io.tables import load_table
    from timedb_spark.streaming import state_v2
    from timedb_spark.streaming.dedup import DOCUMENTS_STREAM_SCHEMA, text_key
    from timedb_spark.streaming.state_v2 import stream_dedup_v2

    if not state_v2._HAVE_TWS:
        pytest.skip(f"transformWithStateInPandas gated: missing {state_v2._TWS_MISSING}")

    docs = load_table(spark, sf_dir, "documents")
    d = str(tmp_path / "docs")
    docs.repartition(6).write.mode("overwrite").parquet(d)
    keyed = docs.select("doc_id", text_key(F.col("text")).alias("k"))
    expected = keyed.select("k").distinct().count()
    valid = {(r.k, r.doc_id) for r in keyed.collect()}

    with rocksdb_state_store(spark):
        stream = (
            spark.readStream.schema(DOCUMENTS_STREAM_SCHEMA)
            .option("maxFilesPerTrigger", 2)
            .parquet(d)
        )
        q = (
            stream_dedup_v2(stream)
            .writeStream.format("memory")
            .queryName("dedup_v2_t")
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        # availableNow must TERMINATE (Append + transformWithState loops
        # no-data batches forever — the regression this pins)
        assert q.awaitTermination(180)
        rows = spark.table("dedup_v2_t").collect()

    assert len(rows) == expected
    keys = [r.text_key for r in rows]
    assert len(set(keys)) == len(keys)  # one emission per key, ever
    assert all((r.text_key, r.doc_id) in valid for r in rows)


def test_dedup_v2_ttl_processing_time_matches_untimed(spark, sf_dir, tmp_path):
    """DedupProcessor(ttl=True) drained under timeMode="ProcessingTime" (the
    mode its state TTL requires, where the runner's stock timestamp RPCs
    share the state-server socket) emits exactly what the shipped
    ttl=False / timeMode="None" drain emits on the same input."""
    from timedb_spark.streaming import state_v2
    from timedb_spark.streaming.dedup import DOCUMENTS_STREAM_SCHEMA, text_key

    if not state_v2._HAVE_TWS:
        pytest.skip(f"transformWithStateInPandas gated: missing {state_v2._TWS_MISSING}")

    d = str(tmp_path / "docs")
    docs = load_table(spark, sf_dir, "documents")
    docs.repartition(6).write.mode("overwrite").parquet(d)
    n_docs = docs.count()

    def drain(name: str, ttl: bool, time_mode: str) -> set[tuple]:
        stream = spark.readStream.schema(DOCUMENTS_STREAM_SCHEMA).option("maxFilesPerTrigger", 2).parquet(d)
        keyed = stream.select("doc_id", text_key(F.col("text")).alias("tkey")).withColumn(
            "bucket", F.substring("tkey", 1, state_v2._DEDUP_BUCKET_CHARS)
        )
        out = keyed.groupBy("bucket").transformWithStateInPandas(
            statefulProcessor=state_v2.DedupProcessor(ttl=ttl),
            outputStructType=state_v2.DEDUP_OUTPUT_SCHEMA,
            outputMode="Update",
            timeMode=time_mode,
        )
        # ProcessingTime keeps scheduling no-data batches, so neither an
        # availableNow drain nor processAllAvailable() ever returns: stop the
        # query once its finished batches have consumed every input row.
        q = out.writeStream.format("memory").queryName(name).outputMode("update").start()
        consumed: dict[int, int] = {}
        try:
            deadline = time.monotonic() + 300
            while sum(consumed.values()) < n_docs:
                assert q.isActive and time.monotonic() < deadline, f"{name} stalled at {consumed}"
                consumed.update((p["batchId"], p["numInputRows"]) for p in q.recentProgress)
                time.sleep(0.2)
        finally:
            q.stop()
        return {(r.text_key, r.doc_id) for r in spark.table(name).collect()}

    with rocksdb_state_store(spark):
        untimed = drain("dedup_v2_untimed", ttl=False, time_mode="None")
        ttl = drain("dedup_v2_ttl", ttl=True, time_mode="ProcessingTime")

    assert untimed and ttl == untimed


def test_stream_cusum_v2_matches_batch_cusum(spark, sf_dir):
    """The online v2 CUSUM drained over an in-order multi-batch feed equals
    batch ts_cusum row-for-row on the same events (reference params
    broadcast from the same training fit) — the cross-batch state carries
    the recursion exactly."""
    import __spark_entry__ as entry
    from timedb_spark.operators import timeseries as ts
    from timedb_spark.streaming import state_v2

    if not state_v2._HAVE_TWS:
        pytest.skip(f"transformWithStateInPandas gated: missing {state_v2._TWS_MISSING}")

    got = {r.user_id: r for r in entry._q_stream_cusum_v2(spark, sf_dir).collect()}
    exp = {r.user_id: r for r in ts.cusum(spark, sf_dir).collect()}
    assert set(got) == set(exp)
    for uid, e in exp.items():
        g = got[uid]
        assert (g.n_events, g.n_alarms, g.first_alarm_idx) == (
            e.n_events, e.n_alarms, e.first_alarm_idx), uid
        assert g.max_cusum_pos == e.max_cusum_pos and g.max_cusum_neg == e.max_cusum_neg
        assert g.mean_value == e.mean_value and g.std_value == e.std_value


def test_stream_anomaly_v2_matches_batch_online(spark, sf_dir):
    """The online v2 Welford z-score monitor drained over an in-order
    multi-batch feed equals batch ts_anomaly_online row-for-row — the
    5-field Welford state carries the prefix recursion across batches
    exactly (no training pass anywhere)."""
    import __spark_entry__ as entry
    from timedb_spark.operators import timeseries as ts
    from timedb_spark.streaming import state_v2

    if not state_v2._HAVE_TWS:
        pytest.skip(f"transformWithStateInPandas gated: missing {state_v2._TWS_MISSING}")

    got = {r.user_id: r for r in entry._q_stream_anomaly_v2(spark, sf_dir).collect()}
    exp = {r.user_id: r for r in ts.anomaly_online(spark, sf_dir).collect()}
    assert set(got) == set(exp)
    for uid, e in exp.items():
        g = got[uid]
        assert (g.n_events, g.n_alerts, g.first_alert_idx) == (
            e.n_events, e.n_alerts, e.first_alert_idx), uid
        assert g.mean_value == e.mean_value and g.std_value == e.std_value
