"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship bitemporal read at sf0.001.
``queries()`` — one entry per implemented operator from SURVEY.md §2.
``oracle_sql()`` — DuckDB-equivalent ANSI SQL per query (same column names).

The bitemporal operators need a ``series_values``-shaped input; both sides
derive it deterministically from ``events`` (see timedb_spark/io/tables.py,
SURVEY.md §4) so Spark results and DuckDB oracles are comparable value-for-
value.
"""

from __future__ import annotations

from collections.abc import Callable
from datetime import datetime, timedelta

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from timedb_spark.functions.rounding import floor6 as _floor6
from timedb_spark.io.tables import BITEMPORAL_ORACLE_SQL, INTERVAL_ORACLE_SQL, bitemporal_frame, interval_frame, load_table
from timedb_spark.streaming.joins import STREAM_JOIN_SQL
from timedb_spark.operators import analytics, asof, dedup, forecasting, funnel, multimodal, pipeline, sampling, similarity, text, timeseries, tpch_ext
from timedb_spark.operators import bitemporal as bt

_SV = BITEMPORAL_ORACLE_SQL


def _ttl_days_case_sql() -> str:
    """The retention-tier → TTL-days CASE used by both TTL-gate oracles,
    generated from ``schema.RETENTION_TTL_DAYS`` so a future tier can never
    silently NULL out of the predicate (ADVICE r11): 'forever' maps to an
    explicit NULL arm (those rows are kept by the ``retention = 'forever'``
    disjunct and must not error even if the OR doesn't short-circuit), and
    any UNKNOWN tier hits ``error(...)`` — the oracle aborts loudly instead
    of dropping the tier's rows from the survivor set."""
    from timedb_spark.schema import RETENTION_TTL_DAYS

    arms = " ".join(f"WHEN '{tier}' THEN {days}" for tier, days in sorted(RETENTION_TTL_DAYS.items()))
    return (
        f"CASE retention {arms} WHEN 'forever' THEN NULL "
        "ELSE CAST(error('unknown retention tier: ' || retention) AS INT) END"
    )

# ---------------------------------------------------------------------------
# Bitemporal queries (SURVEY §2a)
# ---------------------------------------------------------------------------


def _q_read_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bt.latest(bitemporal_frame(spark, sf_dir))


def _q_read_overlapping(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bt.overlapping(bitemporal_frame(spark, sf_dir))


def _q_read_latest_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bt.latest_changes(bitemporal_frame(spark, sf_dir))


def _q_read_overlapping_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bt.overlapping_changes(bitemporal_frame(spark, sf_dir))


_FILT_SIDS = list(range(0, 200, 3))
_FILT_START_VALID = datetime(2024, 1, 3)
_FILT_END_VALID = datetime(2024, 1, 28)
_FILT_START_KNOWN = datetime(2024, 1, 1, 12)


def _q_read_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    scoped = bt.apply_filters(
        bitemporal_frame(spark, sf_dir),
        series_ids=_FILT_SIDS,
        retention=["short", "medium"],
        start_valid=_FILT_START_VALID,
        end_valid=_FILT_END_VALID,
        start_known=_FILT_START_KNOWN,
    )
    return bt.latest(scoped)


def _q_read_relative(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Intraday auction style: values in each 6h window only from knowledge
    # available by window_start + 2h (exercises the explicit-params branch).
    wl, off, sw = bt.resolve_relative_params(
        window_length=timedelta(hours=6), issue_offset=timedelta(hours=2), start_window=datetime(2024, 1, 1)
    )
    return bt.relative_cutoff(bitemporal_frame(spark, sf_dir), window_length=wl, issue_offset=off, start_window=sw)


def _q_backtest_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Same intraday-auction parameterization as bt_read_relative: forecasts
    # issued 2h into each 6h window, scored against the final latest state.
    return bt.backtest_error(
        bitemporal_frame(spark, sf_dir),
        window_length=timedelta(hours=6),
        issue_offset=timedelta(hours=2),
        start_window=datetime(2024, 1, 1),
    )


def _meta_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic metadata catalog derived from events' user ids —
    mirrored by _META_ORACLE below."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(F.col("user_id").alias("series_id")).distinct().select(
        "series_id",
        F.concat(F.lit("Grid/Z"), (F.col("series_id") % 5).cast("string"), F.lit("/N"), F.col("series_id").cast("string")).alias("path"),
        F.when(F.col("series_id") % 2 == 0, "actual").otherwise("forecast").alias("data_type"),
        F.lit("power").alias("name"),
        F.when(F.col("series_id") % 3 == 0, "short").otherwise("medium").alias("retention"),
    )


_META_ORACLE = """
SELECT series_id,
       'Grid/Z' || CAST(series_id % 5 AS VARCHAR) || '/N' || CAST(series_id AS VARCHAR) AS path,
       CASE WHEN series_id % 2 = 0 THEN 'actual' ELSE 'forecast' END AS data_type,
       'power' AS name,
       CASE WHEN series_id % 3 = 0 THEN 'short' ELSE 'medium' END AS retention
FROM (SELECT DISTINCT user_id AS series_id FROM events)
"""


def _q_read_meta_scope(spark: SparkSession, sf_dir: str) -> DataFrame:
    sv = bitemporal_frame(spark, sf_dir)
    meta = _meta_frame(spark, sf_dir)
    spec = bt.SeriesMeta(root_path="Grid/Z1", data_type="actual")
    return bt.latest(bt.filter_by_meta(sv, meta, spec))


def _q_run_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """read_run_series analogue: dedup (series_id, run_id) keeping the
    latest first_seen (ReplacingMergeTree semantics, ref client.py:198-214).
    run_id derived deterministically from event_id."""
    ev = load_table(spark, sf_dir, "events")
    rs = ev.select(
        F.col("user_id").alias("series_id"),
        (F.col("event_id") % 50).alias("run_id"),
        F.col("ts").alias("first_seen"),
    )
    return rs.groupBy("series_id", "run_id").agg(F.max("first_seen").alias("first_seen"))


_SNAP_T = datetime(2024, 1, 15, 12)
_DIFF_T1 = datetime(2024, 1, 10)
_DIFF_T2 = datetime(2024, 1, 20)


def _q_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Knowledge-time time-travel: the latest state as known at _SNAP_T."""
    return bt.snapshot(bitemporal_frame(spark, sf_dir), _SNAP_T)


def _q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diff of the _DIFF_T1 vs _DIFF_T2 knowledge snapshots."""
    return bt.snapshot_diff(bitemporal_frame(spark, sf_dir), _DIFF_T1, _DIFF_T2)


def _q_value_at(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-axis bitemporal pin: value in effect at _SNAP_T as known at
    _DIFF_T2 (single max_by aggregation, both cutoffs pushed down)."""
    return bt.value_at(bitemporal_frame(spark, sf_dir), _SNAP_T, _DIFF_T2)


_INTERVAL_T = datetime(2024, 1, 15, 12, 30)


def _q_interval_at(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-validity read: the observation in effect at _INTERVAL_T
    under [valid_time, valid_time_end) semantics."""
    return bt.interval_at(interval_frame(spark, sf_dir), _INTERVAL_T)


def _q_interval_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal NORMALIZE: per-series maximal coverage spans of the
    [valid_time, valid_time_end) intervals."""
    return bt.interval_merge(interval_frame(spark, sf_dir))


def _q_bt_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Valid-time coverage audit: per-series covered fraction, span/gap
    counts, and largest hole over the interval-validity frame."""
    return bt.coverage(interval_frame(spark, sf_dir))


def _q_write_skip_unchanged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """skip_unchanged=True write-filter semantics (ref write.py:172-233) as a
    query: 'stored' = events rows with even event_id, 'incoming' = the latest
    per-key state of odd rows; emit the incoming rows that would be WRITTEN
    (state differs from stored latest, NaN-safe)."""
    sv = bitemporal_frame(spark, sf_dir)
    stored = sv.filter((F.unix_timestamp("change_time") % 2) == 0)
    incoming = bt.latest(sv.filter((F.unix_timestamp("change_time") % 2) == 1))
    latest_state = stored.groupBy("series_id", "valid_time").agg(
        F.max_by("value", bt.kt_ct_order()).alias("stored_value")
    )
    j = incoming.join(latest_state, on=["series_id", "valid_time"], how="left")
    keep = F.col("stored_value").isNull() | ~F.col("value").eqNullSafe(F.col("stored_value"))
    return j.filter(keep).select("series_id", "valid_time", "value")


def _stage_stream_dir(
    spark: SparkSession,
    sf_dir: str,
    df: DataFrame,
    tag: str,
    n_files: int,
    order_col: str | None = None,
    src_table: str = "events",
) -> str:
    """Stage a deterministic multi-file parquet 'landing zone' for a file-
    source stream (one staging per (sf_dir, tag), reused across calls).

    With ``order_col``, files are RANGE-partitioned on that column (file k
    holds earlier times than file k+1), modelling an in-order feed: replayed
    file-by-file, no row ever arrives behind the watermark, so multi-batch
    drains become deterministic (the file source replays files in
    (modification time, path) order — one sorted write keeps both aligned
    with the range order)."""
    import hashlib
    import os
    import tempfile

    from timedb_spark.streaming import stage_ordered_landing

    # Key includes a fingerprint of the source table files (path/size/mtime):
    # if the driver regenerates testdata in place, stale stagings self-evict
    # instead of silently serving the previous round's rows.
    src = os.path.join(sf_dir, f"{src_table}.parquet")
    fp = "|".join(
        f"{f}:{os.path.getsize(os.path.join(src, f))}:{int(os.path.getmtime(os.path.join(src, f)))}"
        for f in sorted(os.listdir(src))
        if f.endswith(".parquet")
    ) if os.path.isdir(src) else (
        f"{os.path.getsize(src)}:{int(os.path.getmtime(src))}" if os.path.exists(src) else "nosrc"
    )
    key = hashlib.md5(f"{sf_dir}|{tag}|{fp}".encode()).hexdigest()[:12]
    d = os.path.join(tempfile.gettempdir(), f"timedb_stream_{tag}_{key}")
    marker = os.path.join(d, "_STAGED")
    if not os.path.exists(marker):
        if order_col:
            stage_ordered_landing(df, d, n_files, order_col)
        else:
            df.repartition(n_files).write.mode("overwrite").parquet(d)
        open(marker, "w").close()
    return d


def _drain_with_few_partitions(spark: SparkSession, stream_df, mode: str) -> DataFrame:
    """Drain with spark.sql.shuffle.partitions scoped down to 8: stateful
    plans disable AQE, so every micro-batch pays the full static partition
    count in state-store (and Python state-dispatch) tasks; 8 is plenty for
    gate-scale data. Conf restored after the drain — a production job sizes
    this once at session build."""
    from timedb_spark.streaming import run_available_now

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        return run_available_now(stream_df, mode)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def _drain_v2(spark: SparkSession, stream_df, mode: str) -> DataFrame:
    """Drain a transformWithStateInPandas plan: the RocksDB state store
    provider (required by the v2 API) scoped to this drain, then restored,
    on top of the usual few-partitions drain."""
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        return _drain_with_few_partitions(spark, stream_df, mode)
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)


def _events(spark: SparkSession, sf_dir: str, cents: bool = False) -> DataFrame:
    """The events table as the streaming queries stage it: ``ts`` as a
    timestamp, then ``event_type, value`` (EVENTS_STREAM_SCHEMA) or, with
    ``cents``, only ``c``, the value in integer cents."""
    tail = (
        [(F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("c")]
        if cents
        else ["event_type", "value"]
    )
    return load_table(spark, sf_dir, "events").select(
        "event_id", F.col("ts").cast("timestamp").alias("ts"), "user_id", *tail
    )


def _events_stream(spark: SparkSession, sf_dir: str, per_trigger: int | None = None) -> DataFrame:
    """events as a 6-file landing zone, read ``per_trigger`` files per
    micro-batch (default: all of them in ONE micro-batch)."""
    from timedb_spark.streaming.windows import EVENTS_STREAM_SCHEMA

    d = _stage_stream_dir(spark, sf_dir, _events(spark, sf_dir), "events", 6)
    reader = spark.readStream.schema(EVENTS_STREAM_SCHEMA)
    return (reader.option("maxFilesPerTrigger", per_trigger) if per_trigger else reader).parquet(d)


def _sv_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """series_values as a 4-file landing zone read 2 files per trigger →
    2 micro-batches: exercises cross-batch state at half the per-key
    Python dispatch of 1-file batches (wall time here scales with keys ×
    batches, not rows — see streaming/state.py)."""
    sv = bitemporal_frame(spark, sf_dir).select(
        "series_id", "valid_time", "knowledge_time", "change_time", "value"
    )
    d = _stage_stream_dir(spark, sf_dir, sv, "sv", 4)
    return spark.readStream.schema(sv.schema).option("maxFilesPerTrigger", 2).parquet(d)


def _docs_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents as a 5-file landing zone read 2 files per trigger."""
    from timedb_spark.streaming.dedup import DOCUMENTS_STREAM_SCHEMA

    docs = load_table(spark, sf_dir, "documents")
    d = _stage_stream_dir(spark, sf_dir, docs, "docs", 5, src_table="documents")
    return spark.readStream.schema(DOCUMENTS_STREAM_SCHEMA).option("maxFilesPerTrigger", 2).parquet(d)


def _last_emission(out: DataFrame, keys: list[str], cols: list[str] | None = None) -> DataFrame:
    """An update-mode drain collapsed to each key's last emission (memory-
    sink arrival order is batch order): the ``keys``, then ``cols`` of that
    emission (default: every other column)."""
    cols = cols or [c for c in out.columns if c not in keys]
    last = (
        out.withColumn("_emit", F.monotonically_increasing_id())
        .groupBy(*keys)
        .agg(F.max_by(F.struct(*cols), "_emit").alias("s"))
    )
    return last.select(*keys, *[F.col(f"s.{c}").alias(c) for c in cols])


def _q_stream_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of events_window, drained with availableNow — final
    complete-mode aggregates equal the batch/SQL oracle."""
    from timedb_spark import streaming as st

    stream = _events_stream(spark, sf_dir, per_trigger=2)
    return _drain_with_few_partitions(spark, st.windowed_events_agg(stream), "complete")


def _q_stream_latest_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming latest (applyInPandasWithState), drained and
    collapsed to each key's final emission — equals the batch bt_read_latest
    oracle."""
    from timedb_spark import streaming as st

    out = _drain_with_few_partitions(spark, st.stream_latest_state(_sv_stream(spark, sf_dir)), "update")
    return _last_emission(out, ["series_id", "valid_time"], ["value"])


def _q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingestion dedup drained with availableNow — the final
    unique-document count equals the batch count(distinct key) oracle."""
    from timedb_spark import streaming as st

    return _drain_with_few_partitions(spark, st.stream_dedup(_docs_stream(spark, sf_dir)), "complete")


def _q_stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming gap-timeout sessionization (EventTimeTimeout) drained with
    availableNow. Deterministic output: sessions closed by data plus sessions
    timed out by the final watermark — exactly the SQL-oracle predicate over
    the batch sessionize result."""
    from timedb_spark import streaming as st

    return _drain_with_few_partitions(spark, st.stream_sessionize(_events_stream(spark, sf_dir)), "append")


def _q_stream_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ordered funnel (stateful, event-time timers) drained with
    availableNow. Deterministic: depth-3 on purchase arrival, depth-1/2 via
    the click+horizon timer once the final watermark passes."""
    from timedb_spark import streaming as st

    return _drain_with_few_partitions(spark, st.stream_funnel(_events_stream(spark, sf_dir)), "append")


def _q_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join drained with availableNow. The staged
    landing files are NOT time-ordered, so a multi-batch replay would
    (correctly) drop genuinely-late pairs behind the advancing watermark —
    nondeterministic for the gate. A single-batch drain keeps the
    stream-stream join machinery (state store, watermark eviction plan)
    while emitting every pair: drain == batch interval join. The
    micro-batch late-drop semantics are pinned separately in
    tests/test_streaming.py."""
    from timedb_spark.streaming.joins import stream_click_purchase_join

    clicks = _events_stream(spark, sf_dir).filter(F.col("event_type") == "click")
    purchases = _events_stream(spark, sf_dir).filter(F.col("event_type") == "purchase")
    return _drain_with_few_partitions(spark, stream_click_purchase_join(clicks, purchases), "append")


def _q_stream_join_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join over an IN-ORDER landing zone drained in
    ≥3 micro-batches (6 range-partitioned files, 2 per trigger) — the
    watermark-eviction machinery itself is under the full SQL oracle here:
    because files arrive in event-time order, no row is ever behind the
    watermark, so the inner interval join emits exactly the batch-join pairs
    while join state is genuinely evicted between batches (asserted in
    tests/test_streaming.py). Complements _q_stream_join's single-batch
    drain of the UNORDERED zone."""
    from timedb_spark.streaming.joins import stream_click_purchase_join
    from timedb_spark.streaming.windows import EVENTS_STREAM_SCHEMA

    d = _stage_stream_dir(spark, sf_dir, _events(spark, sf_dir), "events_ord", 6, order_col="ts")
    src = spark.readStream.schema(EVENTS_STREAM_SCHEMA).option("maxFilesPerTrigger", 2).parquet(d)
    clicks = src.filter(F.col("event_type") == "click")
    purchases = src.filter(F.col("event_type") == "purchase")
    return _drain_with_few_partitions(spark, stream_click_purchase_join(clicks, purchases), "append")


def _q_stream_latest_state_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming latest-per-SERIES on the Spark-4 state API v2
    (transformWithStateInPandas + RocksDB state store): per series_id the
    argmax of value over (knowledge_time, change_time), the winning row's
    valid_time as payload, emitted on change across ≥2 micro-batches.

    Keyed by series_id (NOT (series, hour)) deliberately: every v2 state
    access is a per-key protobuf RPC, so the fine-grained key costs 78 s at
    sf0.1 vs 10 s entity-keyed on identical rows — see the guidance in
    streaming/state_v2.py. The per-(series, hour) collapse at scale stays
    on v1 (stream_latest_state: in-band Arrow state, no per-key RPC)."""
    from timedb_spark.streaming.state_v2 import stream_latest_state_v2

    out = _drain_v2(spark, stream_latest_state_v2(_sv_stream(spark, sf_dir)), "update")
    return _last_emission(out, ["series_id"], ["valid_time", "value"])


def _q_stream_sessionize_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-timeout sessionization on the v2 state API (event-time TIMERS —
    the primitive the v1 API lacks: arbitrary named timers with explicit
    register/delete). Same drain contract as stream_sessionize (sessions
    closed by data ∪ timed out by the final watermark), so it shares that
    oracle verbatim; keyed by user_id — entity-level, the right v2 key
    cardinality (see streaming/state_v2.py)."""
    from timedb_spark.streaming.state_v2 import stream_sessionize_v2

    return _drain_v2(spark, stream_sessionize_v2(_events_stream(spark, sf_dir)), "append")


def _q_stream_funnel_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered click→view→purchase funnel on the v2 state API (LIST STATE:
    per-user open funnels as two ListStates, whole-list put per batch).
    Same drain contract as stream_funnel (depth-3 on purchase arrival,
    depth-1/2 via the click+horizon timer behind the final watermark), so
    it shares that oracle verbatim."""
    from timedb_spark.streaming.state_v2 import stream_funnel_v2

    return _drain_v2(spark, stream_funnel_v2(_events_stream(spark, sf_dir)), "append")


def _q_stream_topk_users_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact streaming top-10 users by event count per event_type on the v2
    state API (MAP STATE: one (n, sum_cents) entry per user — only touched
    users pay an RPC per batch). Drained over ≥3 micro-batches; the last
    emission per (event_type, rank) is the exact batch top-k (count desc,
    user_id tiebreak; cents-exact sums)."""
    from timedb_spark.streaming.state_v2 import stream_topk_users_v2

    stream = _events_stream(spark, sf_dir, per_trigger=2)
    out = _drain_v2(spark, stream_topk_users_v2(stream, k=10), "update")
    return _last_emission(out, ["event_type", "rank"])


def _q_stream_cusum_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Online two-sided CUSUM per user on the v2 state API: reference
    mu/sigma come from a batch training fit broadcast onto the stream
    (stream-static join - the control chart's production shape), and the
    7-field S+/S- recursion folds ACROSS micro-batches in RocksDB state.
    Drained over an in-order staged feed (the stream_join_ordered
    contract) and collapsed to each key's last emission, the result is
    bit-equal to batch ts_cusum - whose oracle this query shares
    verbatim."""
    from timedb_spark.streaming.state_v2 import stream_cusum_v2

    ev = _events(spark, sf_dir, cents=True)
    params = ev.groupBy("user_id").agg(
        F.sum("c").alias("sx"),
        F.sum(F.col("c") * F.col("c")).alias("sxx"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    mu = F.col("sx").cast("double") / F.col("n").cast("double")
    var = F.col("sxx").cast("double") / F.col("n").cast("double") - mu * mu
    params = params.select(
        "user_id", mu.alias("mu"), F.sqrt(F.greatest(var, F.lit(0.0))).alias("sigma")
    )

    d = _stage_stream_dir(spark, sf_dir, ev, "events_cusum", 5, order_col="ts")
    stream = (
        spark.readStream.schema(ev.schema).option("maxFilesPerTrigger", 2).parquet(d)
        .join(F.broadcast(params), "user_id")
    )
    return _last_emission(_drain_v2(spark, stream_cusum_v2(stream), "update"), ["user_id"])


def _q_stream_anomaly_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Online Welford z-score anomaly monitor per user on the v2 state API
    (streaming/state_v2.py AnomalyProcessor): NO training pass — the
    baseline is learned online, observation t alerting against the prefix
    statistics of the first t−1 points. Drained over an in-order staged
    feed and collapsed to each key's last emission, the result replays the
    batch ts_anomaly_online recursion — whose recursive-CTE oracle this
    query shares verbatim."""
    from timedb_spark.streaming.state_v2 import stream_anomaly_v2

    ev = _events(spark, sf_dir, cents=True)
    d = _stage_stream_dir(spark, sf_dir, ev, "events_anom", 5, order_col="ts")
    stream = spark.readStream.schema(ev.schema).option("maxFilesPerTrigger", 2).parquet(d)
    return _last_emission(_drain_v2(spark, stream_anomaly_v2(stream), "update"), ["user_id"])


def _q_stream_dedup_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingestion dedup on the v2 state API (MAP STATE + TTL —
    the v2-native bounded-horizon dedup): first arrival per normalized-text
    md5 across micro-batches, bucket-keyed so per-batch Python dispatch is
    bounded by 4096 buckets, not distinct documents (the r5 key-cardinality
    lesson). The drained first-arrival count equals the batch
    count(distinct key) — stream_dedup's oracle verbatim."""
    from timedb_spark.streaming.state_v2 import stream_dedup_v2

    out = _drain_v2(spark, stream_dedup_v2(_docs_stream(spark, sf_dir)), "update")
    return out.groupBy().agg(F.count(F.lit(1)).alias("n_unique_docs"))


def _q_multimodal_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-modality plumbing under a FULL oracle (upgraded from rows-only
    in r5): REAL stdlib WAV payloads (encode + decode through the `wave`
    module inside mapInPandas) with per-clip duration/RMS/zero-crossing/
    peak features. The PCM16 samples are the doc's md5 keystream bytes, so
    DuckDB recomputes every decoded feature exactly (AUDIO_FEATURES_SQL);
    rms rounded to 6 on both sides (the one float sqrt)."""
    docs = multimodal.attach_audio_payload(load_table(spark, sf_dir, "documents"))
    feats = multimodal.audio_features(docs)
    return feats.select(
        "doc_id",
        "n_samples",
        "duration_ms",
        _floor6(F.col("rms")).alias("rms"),
        "n_zero_crossings",
        "peak",
    )


def _q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column decode + feature extraction over mapInPandas, under a
    FULL oracle (upgraded from rows-only in r5): every 7th doc carries a
    REAL stdlib-decoded PNG payload (chunk walk + inflate + unfilter), the
    rest the raw fakeimg format — one plumbing, two codecs. PNG docs decode
    to pixels identical to their fakeimg twins by construction, so DuckDB
    recomputes every decoded feature from the md5 keystream
    (DECODE_FEATURES_SQL) — the gate value-hashes what the codecs actually
    produced.

    Gate projection notes: ``n_bytes`` is EXCLUDED (a PNG's zlib-compressed
    length is not SQL-reproducible; it stays on the operator, pinned in
    tests/test_multimodal.py), the float mean/std are rounded to 6 on both
    sides, and the ``thumb array<double>`` serializes to a deterministic
    '%.6f' string (the driver canonicalizer cannot factorize list values —
    CORRECTNESS_r03). coalesce inside the transform: concat_ws silently
    DROPS null elements, so a placeholder keeps element count."""
    docs = multimodal.attach_payload_mixed(load_table(spark, sf_dir, "documents"))
    feats = multimodal.decode_features(docs)
    return feats.select(
        "doc_id",
        "fmt",
        "width",
        "height",
        _floor6(F.col("mean_px")).alias("mean_px"),
        _floor6(F.col("std_px")).alias("std_px"),
        F.concat_ws(
            "|",
            F.transform("thumb", lambda x: F.coalesce(F.format_string("%.6f", x), F.lit("NaN"))),
        ).alias("thumb"),
    )


def _q_multimodal_video(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video-modality plumbing under a FULL oracle: treat each payload as
    ``height`` frames of ``width*channels`` bytes and keep every 4th frame
    (operators/multimodal.py frame_sample — pure JVM posexplode+substring,
    zero Python, zero shuffles). The fakeimg payload body is an md5-hex
    keystream, so DuckDB reproduces the exact frame bytes from doc_id alone
    (repeat(md5(..)) + substring) — binary plumbing under a value-hash gate,
    not just rows-only. Frames cast to string for the gate (hex chars are
    ASCII; the driver canonicalizer cannot factorize raw bytes)."""
    docs = multimodal.attach_payload(load_table(spark, sf_dir, "documents"))
    frames = multimodal.frame_sample(docs, every=4)
    return frames.select(
        "doc_id",
        F.col("frame_idx").cast("int").alias("frame_idx"),
        F.decode(F.col("frame"), "UTF-8").alias("frame"),
    )


# ---------------------------------------------------------------------------
# Store metadata ops promoted to gate queries (VERDICT r5 task #5): the store
# is materialized deterministically from bitemporal_frame(events), so a DuckDB
# oracle over the same parquet recomputes every stat the footers answer.
# ---------------------------------------------------------------------------

_STORE_CACHE: dict[str, object] = {}


def _store_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deterministic bitemporal frame the store gates write: it lacks
    the optional valid_time_end/run_id columns of the full series_values
    schema, so they are filled null like a write without intervals/runs."""
    return bitemporal_frame(spark, sf_dir).withColumns({
        "valid_time_end": F.lit(None).cast("timestamp"),
        "run_id": F.lit(None).cast("long"),
    })


def _materialized_store(spark: SparkSession, sf_dir: str):
    """One store per (process, sf_dir): Store.create() + append_values of the
    deterministic bitemporal frame. Cached so fast_count and partition_stats
    share the materialization inside one gate run."""
    st = _STORE_CACHE.get(sf_dir)
    if st is None:
        import tempfile

        from timedb_spark.store import Store

        st = Store(spark, tempfile.mkdtemp(prefix="timedb_gate_store_"))
        st.create()
        st.append_values(_store_frame(spark, sf_dir))
        _STORE_CACHE[sf_dir] = st
    return st


def _q_partition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """store.partition_stats() — per-(retention, vt_month) row counts and
    (series_id, valid_time) min/max read from parquet FOOTERS only (zero data
    IO; store.py:153). The oracle recomputes the same stats by scanning the
    source rows: footer zone maps on int64/timestamp columns are exact, so
    the two must agree value-for-value. ``n_files`` is EXCLUDED from the gate
    projection (write-layout dependent, not SQL-derivable; pinned in
    tests/test_store_client.py instead).

    Gate projection (r8, VERDICT r7 #1): this is the ONLY gate query whose
    values originate as driver-side Python fed to ``createDataFrame`` rather
    than a Spark SQL plan output, and it hash-redded in r6 AND r7 despite
    judge-verified value identity with the oracle (rows Python-object-equal
    at sf0.1). So the datetime class is removed from the gate entirely:
    ``valid_time_min/max`` are emitted as ``'%Y-%m-%d %H:%M:%S'`` strings
    (python strftime; valid_time is hour-truncated, so the format is
    lossless) and every integer is coerced through plain ``int()`` — the two
    cell types with exactly one rendering everywhere. Belt-and-braces, the
    frame is routed through one Spark SQL projection so the collected values
    share the code path of the 236 queries that hash green. The typed
    timestamp answer stays on ``Store.partition_stats`` itself (pinned in
    tests/test_store_client.py)."""
    st = _materialized_store(spark, sf_dir)
    fmt = "%Y-%m-%d %H:%M:%S"
    rows = [
        (str(p["retention"]), str(p["vt_month"]), int(p["n_rows"]),
         int(p["series_id_min"]), int(p["series_id_max"]),
         p["valid_time_min"].strftime(fmt), p["valid_time_max"].strftime(fmt))
        for p in st.partition_stats()
    ]
    return spark.createDataFrame(
        rows,
        "retention string, vt_month string, n_rows bigint, series_id_min bigint, "
        "series_id_max bigint, valid_time_min string, valid_time_max string",
    ).select(
        F.col("retention").cast("string").alias("retention"),
        F.col("vt_month").cast("string").alias("vt_month"),
        F.col("n_rows").cast("long").alias("n_rows"),
        F.col("series_id_min").cast("long").alias("series_id_min"),
        F.col("series_id_max").cast("long").alias("series_id_max"),
        F.col("valid_time_min").cast("string").alias("valid_time_min"),
        F.col("valid_time_max").cast("string").alias("valid_time_max"),
    )


_SNAP_CACHE: dict[str, tuple] = {}


def _materialized_snapstore(spark: SparkSession, sf_dir: str):
    """One SnapshotStore per (process, sf_dir): create + TWO deterministic
    commits (batch 1 = even series_id, batch 2 = odd), so a version pinned
    after commit 1 is a reproducible time-travel target. Returns
    (store, version_after_first_append)."""
    cached = _SNAP_CACHE.get(sf_dir)
    if cached is None:
        import tempfile

        from timedb_spark.snapstore import SnapshotStore

        st = SnapshotStore(spark, tempfile.mkdtemp(prefix="timedb_gate_snap_"))
        st.create()
        sv = _store_frame(spark, sf_dir)
        st.append_values(sv.filter(F.col("series_id") % 2 == 0))
        v_first = st.versions()[-1]["version"]
        st.append_values(sv.filter(F.col("series_id") % 2 != 0))
        cached = (st, v_first)
        _SNAP_CACHE[sf_dir] = cached
    return cached


def _q_snap_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SnapshotStore time travel (snapstore.py:257) promoted to a gate query
    (VERDICT r6 task #5, the fast_count/partition_stats promotion pattern):
    two manifest commits land deterministic halves of bitemporal_frame
    (even/odd series_id); reading the PINNED post-commit-1 version must see
    exactly batch 1 even though batch 2's files sit in the same directories
    — manifests, not directory listings, define visibility. Both the pinned
    and the latest snapshot aggregate to per-retention row counts,
    valid_time bounds, and exact value-cents sums; the oracle recomputes
    both from the same events derivation."""
    st, v_first = _materialized_snapstore(spark, sf_dir)

    def agg(df: DataFrame, label: str) -> DataFrame:
        cents = (F.col("value").cast("decimal(18,2)") * 100).cast("long")
        return (
            df.withColumn("cents", cents)
            .groupBy(F.lit(label).alias("snap"), "retention")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.min("valid_time").alias("vt_min"),
                F.max("valid_time").alias("vt_max"),
                F.sum("cents").alias("value_cents"),
            )
        )

    return agg(st.read_values(version=v_first), "v_first").unionByName(
        agg(st.read_values(), "latest")
    )


def _q_fast_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """store.fast_count() under BOTH of its answering strategies
    (store.py:290): ``footer_only`` — a whole-tier count with no time bounds,
    answered purely from partition_stats footer metadata; ``edge_scan`` — a
    mid-month valid_time cut, forcing the boundary-month partition-pruned
    scan fallback. The oracle recomputes both counts from the source rows."""
    st = _materialized_store(spark, sf_dir)
    full = st.fast_count(retention={"short", "long"})
    edge = st.fast_count(retention={"short", "medium"}, start_valid=datetime(2024, 1, 15))
    return spark.createDataFrame(
        [("footer_only", full), ("edge_scan", edge)], "mode string, cnt bigint"
    )


_COMPACT_CACHE: dict[str, tuple] = {}


def _compact_partition_agg(df: DataFrame) -> DataFrame:
    """Per-(retention, vt_month) integrity fingerprint of a store read:
    row count, series_id bounds, valid_time bounds (formatted strings —
    the partition_stats r8 convention keeps datetimes out of gate cells),
    and the exact value-cents sum. Any lost, duplicated, or corrupted row
    moves at least one of these."""
    cents = (F.col("value").cast("decimal(18,2)") * 100).cast("long")
    return (
        df.withColumn("cents", cents)
        .groupBy("retention", "vt_month")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("series_id").alias("series_id_min"),
            F.max("series_id").alias("series_id_max"),
            F.date_format(F.min("valid_time"), "yyyy-MM-dd HH:mm:ss").alias("valid_time_min"),
            F.date_format(F.max("valid_time"), "yyyy-MM-dd HH:mm:ss").alias("valid_time_max"),
            F.sum("cents").alias("value_cents"),
        )
    )


_COMPACT_AGG_SCHEMA = (
    "phase string, retention string, vt_month string, n_rows bigint, "
    "series_id_min bigint, series_id_max bigint, valid_time_min string, "
    "valid_time_max string, value_cents bigint"
)


def _pre_fingerprint(st) -> list[tuple]:
    """The store's ``("pre", ...)`` fingerprint rows, collected NOW: the
    read is lazy, so collecting after the rewrite under test would scan
    the rewritten files and prove nothing. {str,int} cells only (the
    driver-data convention)."""
    return [
        ("pre", str(r["retention"]), str(r["vt_month"]), int(r["n_rows"]),
         int(r["series_id_min"]), int(r["series_id_max"]),
         str(r["valid_time_min"]), str(r["valid_time_max"]), int(r["value_cents"]))
        for r in _compact_partition_agg(st.read_values()).collect()
    ]


def _pre_post(spark: SparkSession, st, pre: list[tuple]) -> DataFrame:
    """Gate output: the collected pre fingerprint followed by the ``post``
    fingerprint of a live scan of the store."""
    pre_df = spark.createDataFrame(pre, _COMPACT_AGG_SCHEMA)
    post_df = _compact_partition_agg(st.read_values()).select(F.lit("post").alias("phase"), "*")
    return pre_df.unionByName(post_df)


def _materialized_compact_store(spark: SparkSession, sf_dir: str):
    """One compacted store per (process, sf_dir): create + TWO interleaved
    appends (even/odd series_id — every partition ends up fragmented with
    one file per append), the PRE-compaction fingerprint collected eagerly
    (the read is lazy; collecting after compact would scan the rewritten
    files and prove nothing), then ``compact(cluster="zorder")`` over every
    fragmented partition. Returns (store, pre_rows, n_compacted)."""
    cached = _COMPACT_CACHE.get(sf_dir)
    if cached is None:
        import tempfile

        from timedb_spark.store import Store

        st = Store(spark, tempfile.mkdtemp(prefix="timedb_gate_compact_"))
        st.create()
        sv = _store_frame(spark, sf_dir)
        st.append_values(sv.filter(F.col("series_id") % 2 == 0))
        st.append_values(sv.filter(F.col("series_id") % 2 != 0))
        pre = _pre_fingerprint(st)
        n_compacted = len(st.compact(max_files_per_partition=1, cluster="zorder"))
        _COMPACT_CACHE[sf_dir] = (st, pre, n_compacted)
    return _COMPACT_CACHE[sf_dir]


def _q_store_compact_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order compaction promoted from internal-only to a full-oracle gate
    query (VERDICT r7 task #4, the snap_time_travel promotion pattern):
    two interleaved appends fragment every (retention, vt_month) partition,
    ``compact(cluster="zorder")`` (store.py:249; functions/zorder.py:24)
    rewrites each onto the series×hour Morton curve, and the gate
    value-hashes the per-partition fingerprint (counts, series/valid_time
    bounds, exact cent sums) BOTH pre- and post-compaction against one
    DuckDB recompute from the events derivation — compaction must be a
    pure physical-layout change (the CH OPTIMIZE invariant). The pre
    fingerprint is collected before the rewrite ({str,int} cells per the
    driver-data convention); the post fingerprint scans the compacted
    files live. File-count and zone-map/pruning assertions stay in
    tests/test_store_client.py."""
    st, pre, _n = _materialized_compact_store(spark, sf_dir)
    return _pre_post(spark, st, pre)


_TTL_CACHE: dict[str, tuple] = {}

#: Fixed "today" for the TTL gate: 202401's last day (2024-01-31) + the
#: short tier's 180-day TTL = 2024-07-29 < 2026-06-01, so `short` expires;
#: medium (+1095d → 2027-01-30) and long (+1825d) survive, forever is
#: excluded before evaluation (schema.RETENTION_TTL_DAYS; store.py
#: apply_retention mirrors CH's `TTL ... DELETE WHERE retention != 'forever'`).
_TTL_NOW = datetime(2026, 6, 1)


def _materialized_ttl_store(spark: SparkSession, sf_dir: str):
    """One TTL-swept store per (process, sf_dir): create + append of the
    deterministic bitemporal frame, the PRE-sweep fingerprint collected
    eagerly (the read is lazy; collecting after the sweep would scan only
    survivors and prove nothing), then ``apply_retention(now=_TTL_NOW)``.
    Returns (store, pre_rows, dropped_partition_dirs)."""
    cached = _TTL_CACHE.get(sf_dir)
    if cached is None:
        import tempfile

        from timedb_spark.store import Store

        st = Store(spark, tempfile.mkdtemp(prefix="timedb_gate_ttl_"))
        st.create()
        st.append_values(_store_frame(spark, sf_dir))
        pre = _pre_fingerprint(st)
        dropped = st.apply_retention(now=_TTL_NOW)
        _TTL_CACHE[sf_dir] = (st, pre, dropped)
    return _TTL_CACHE[sf_dir]


def _q_store_retention_ttl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention-TTL partition drops promoted from internal-only to a
    full-oracle gate query (VERDICT r8 task #5, the store_compact_zorder
    promotion pattern): the store ages out whole expired (retention,
    vt_month) partitions under a pinned "today" (store.py apply_retention —
    the CH partition-drop TTL analogue, ref timedb/sql/ch_create_tables.sql
    TTL ... DELETE WHERE retention != 'forever'), and the gate value-hashes
    the per-partition fingerprint (counts, series/valid_time bounds, exact
    cent sums) BOTH pre- and post-sweep against one DuckDB recompute that
    applies the SAME last-day-of-month + tier-TTL survival predicate
    independently — proving exactly the short tier ages out at _TTL_NOW and
    survivors are byte-identical. The dropped-directory list and zero-IO
    properties stay pinned in tests/test_store_client.py."""
    st, pre, _dropped = _materialized_ttl_store(spark, sf_dir)
    return _pre_post(spark, st, pre)


_ROLLUP_CACHE: dict[str, object] = {}


def _materialized_rollup(spark: SparkSession, sf_dir: str):
    """One refreshed ContinuousAggregate per (process, sf_dir): snapshot
    store + TWO commits (even/odd series_id) with a refresh after each —
    the first must take the FULL path (no prior state), the second the
    INCREMENTAL path (manifest diff = commit 2's files only). Mode
    mismatches raise loudly: a second-refresh full recompute would still
    produce correct values, so only the assert proves the incremental
    merge actually ran. Returns the refreshed aggregate."""
    cached = _ROLLUP_CACHE.get(sf_dir)
    if cached is None:
        import tempfile

        from timedb_spark.rollup import ContinuousAggregate
        from timedb_spark.snapstore import SnapshotStore

        st = SnapshotStore(spark, tempfile.mkdtemp(prefix="timedb_gate_rollup_"))
        st.create()
        sv = _store_frame(spark, sf_dir)
        ca = ContinuousAggregate(st, name="gate_hourly")
        st.append_values(sv.filter(F.col("series_id") % 2 == 0))
        r1 = ca.refresh()
        st.append_values(sv.filter(F.col("series_id") % 2 != 0))
        r2 = ca.refresh()
        if (r1["mode"], r2["mode"]) != ("full", "incremental"):
            raise RuntimeError(
                f"continuous-aggregate gate expected refresh modes "
                f"('full', 'incremental'), got ({r1['mode']!r}, {r2['mode']!r})"
            )
        _ROLLUP_CACHE[sf_dir] = ca
    return _ROLLUP_CACHE[sf_dir]


def _q_rollup_continuous_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous aggregate (rollup.py:102) promoted from internal-only to
    a full-oracle gate query (the snap_time_travel/TTL/delete promotion
    pattern): two snapshot commits land the even/odd halves of the
    bitemporal frame, the hourly rollup refreshes after EACH (full, then
    incremental — asserted, so the gate hashes state produced by the
    manifest-diff merge path, not a recompute), and the materialized state
    re-rolls to per-(series, day) fingerprints — sum-of-n, exact cent sums
    from the decimal vsum partials, min-of-min, max-of-max, exercising
    decomposability once more — against one DuckDB recompute from the same
    events derivation. Refresh-mode economics (files_scanned bounded by the
    new commit) stay pinned in tests/test_rollup.py."""
    ca = _materialized_rollup(spark, sf_dir)
    state = ca.read(partials=True)
    return (
        state.groupBy(
            "series_id", F.date_format("bucket", "yyyy-MM-dd").alias("day")
        ).agg(
            F.sum("n").cast("long").alias("n_rows"),
            # round-then-cast (ADVICE r9): DuckDB's CAST(x*100 AS BIGINT)
            # rounds half away from zero while Spark's bare cast truncates —
            # they agree today only because 2-decimal inputs make sum*100
            # integral; F.round pins the same rounding mode for any data.
            F.round(F.sum("vsum") * 100, 0).cast("long").alias("value_cents"),
            F.min("vmin").alias("vmin"),
            F.max("vmax").alias("vmax"),
        )
    )


_BTROLLUP_CACHE: dict[str, object] = {}


def _materialized_bt_rollup(spark: SparkSession, sf_dir: str):
    """One refreshed BitemporalContinuousAggregate per (process, sf_dir).

    Revision-level commit split (bitemporal_frame's knowledge offset is
    ``change_time - knowledge_time`` ∈ {0,1,2,3} hours): commit 1 lands the
    middle offsets {1,2}, commit 2 lands {0,3} — so the second (incremental)
    refresh must handle BOTH bitemporal invalidation classes at once:
    offset-0 rows RESTATE already-aggregated valid times (newest knowledge
    — must replace the stored winner) and offset-3 rows BACKFILL older
    knowledge (must lose to it). A naive partial merge double-counts both.
    Loud asserts pin the refresh-mode economics the hash can't see: modes
    (full, incremental) and buckets_recomputed == the independently
    recomputed affected-key count."""
    cached = _BTROLLUP_CACHE.get(sf_dir)
    if cached is None:
        import tempfile

        from timedb_spark.rollup import BitemporalContinuousAggregate
        from timedb_spark.snapstore import SnapshotStore

        st = SnapshotStore(spark, tempfile.mkdtemp(prefix="timedb_gate_btrollup_"))
        st.create()
        sv = _store_frame(spark, sf_dir)
        off_h = (F.unix_micros("change_time") - F.unix_micros("knowledge_time")) / 3600000000
        ca = BitemporalContinuousAggregate(st, name="gate_hourly_bt")
        st.append_values(sv.filter(off_h.isin(1, 2)))
        r1 = ca.refresh()
        commit2 = sv.filter(off_h.isin(0, 3))
        st.append_values(commit2)
        r2 = ca.refresh()
        if (r1["mode"], r2["mode"]) != ("full", "incremental"):
            raise RuntimeError(
                f"bitemporal-rollup gate expected refresh modes ('full', 'incremental'), "
                f"got ({r1['mode']!r}, {r2['mode']!r})"
            )
        expected_affected = (
            commit2.select("series_id", F.date_trunc("hour", "valid_time").alias("bucket"))
            .distinct().count()
        )
        if r2["buckets_recomputed"] != expected_affected or expected_affected == 0:
            raise RuntimeError(
                f"bitemporal-rollup gate: invalidation scope mismatch — recomputed "
                f"{r2['buckets_recomputed']} buckets, expected {expected_affected}"
            )
        _BTROLLUP_CACHE[sf_dir] = ca
    return _BTROLLUP_CACHE[sf_dir]


def _q_rollup_bitemporal_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitemporal-aware continuous aggregate (rollup.py
    BitemporalContinuousAggregate — VERDICT r9 task #7's named composition:
    latest-collapse INSIDE the incremental refresh). Two snapshot commits
    split the revision history by knowledge offset so the incremental
    refresh must replace restated buckets and resist backfills (see
    _materialized_bt_rollup); the materialized latest-collapsed state
    re-rolls to per-(series, day) fingerprints — sum-of-n (valid times, not
    revisions), exact cents from the decimal partials, min/max of winners —
    against one DuckDB recompute that latest-collapses the full revision
    set directly. A partial-append merge (the non-bitemporal rollup's
    correct behavior, wrong here) double-counts every restated valid_time
    and hash-reds. Refresh-mode + invalidation-scope economics are
    asserted in materialization and pinned in tests/test_rollup.py."""
    ca = _materialized_bt_rollup(spark, sf_dir)
    state = ca.read(partials=True)
    return (
        state.groupBy(
            "series_id", F.date_format("bucket", "yyyy-MM-dd").alias("day")
        ).agg(
            F.sum("n").cast("long").alias("n_rows"),
            F.round(F.sum("vsum") * 100, 0).cast("long").alias("value_cents"),
            F.min("vmin").alias("vmin"),
            F.max("vmax").alias("vmax"),
        )
    )


def _q_rollup_pit_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIT backtest over the bitemporal rollup (VERDICT r10 task #5a —
    composes BOTH r10 flagships): the day-ahead seasonal-naive forecast
    built from PIT-correct knowledge is scored against the MATERIALIZED
    hourly state, proving the rollup is usable for leakage-free evaluation.

    For each bucket of the refreshed state the forecast is the 24 h-lagged
    bucket's latest-collapse sum using only revisions known at the target's
    day-ahead cutoff (noon of the previous day — read_relative's
    days_ahead=1 / time_of_day=12:00 parameterization, ref
    timedb/read.py:461-527, same cutoff as bt_pit_features); the actual is
    the state's own vsum partial. Per-(series, day) scores stay exact:
    cent-integer |err| and bias sums (no float division), n_scored counts
    buckets whose lag source had ANY revision known by the cutoff — day 1
    and afternoon-source hours score 0, by construction, not by luck.

    Scale shape: the state is the small side (one row per (series, hour));
    the PIT side is ONE co-partitioned equi-join of the revision set
    shifted by the lag onto the state grid, then a two-level max_by/sum
    collapse — no window over revisions, no cross join (the
    bt_pit_features shape, re-pointed at the rollup's materialized state).
    """
    ca = _materialized_bt_rollup(spark, sf_dir)
    return forecasting.rollup_pit_backtest(
        ca.read(partials=True), bitemporal_frame(spark, sf_dir)
    )


_ROLLUPTTL_CACHE: dict[str, tuple] = {}

_ROLLUP_DAY_SCHEMA = (
    "phase string, day string, n_buckets bigint, n_rows bigint, "
    "value_cents bigint, vmin_cents bigint, vmax_cents bigint"
)


def _rollup_day_agg(state: DataFrame, phase) -> DataFrame:
    """Per-day fingerprint of a (bitemporal) rollup state: bucket count,
    sum-of-n, exact cents from the decimal vsum partials, and cent-integer
    winner bounds — every cell {str,int}, the gate cell-type contract."""
    c18 = lambda c: (F.col(c).cast("decimal(18,2)") * 100).cast("long")  # noqa: E731
    return state.groupBy(
        F.lit(phase).alias("phase"), F.date_format("bucket", "yyyy-MM-dd").alias("day")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
        F.sum("n").cast("long").alias("n_rows"),
        F.round(F.sum("vsum") * 100, 0).cast("long").alias("value_cents"),
        F.min(c18("vmin")).alias("vmin_cents"),
        F.max(c18("vmax")).alias("vmax_cents"),
    )


def _materialized_rollup_ttl(spark: SparkSession, sf_dir: str):
    """One TTL-swept bitemporal rollup per (process, sf_dir) — the
    removed-files full-recompute fallback exercised as a GATE (VERDICT r10
    task #5b) rather than a pytest. Two commits + a refresh after each
    (full, then incremental — asserted), the PRE fingerprint collected
    EAGERLY (a lazy read after the sweep would scan the swept store and
    prove nothing), then ``apply_retention(now=_TTL_NOW)`` drops the
    expired (retention, vt_month) partitions and the THIRD refresh must
    detect the removed files in the manifest diff and take the FULL path —
    a partial merge can't subtract, and an invalidation swap keyed on new
    files would silently keep the dropped rows' buckets alive. The sweep
    is genuinely bitemporal: dropping a tier can expose an older surviving
    revision of the same (series, valid_time) as the NEW winner, so the
    post state is a re-collapse of survivors, not a filter of the pre
    state — the oracle recomputes it exactly that way."""
    cached = _ROLLUPTTL_CACHE.get(sf_dir)
    if cached is None:
        import tempfile

        from timedb_spark.rollup import BitemporalContinuousAggregate
        from timedb_spark.snapstore import SnapshotStore

        st = SnapshotStore(spark, tempfile.mkdtemp(prefix="timedb_gate_rollupttl_"))
        st.create()
        sv = _store_frame(spark, sf_dir)
        ca = BitemporalContinuousAggregate(st, name="gate_hourly_ttl")
        st.append_values(sv.filter(F.col("series_id") % 2 == 0))
        r1 = ca.refresh()
        st.append_values(sv.filter(F.col("series_id") % 2 != 0))
        r2 = ca.refresh()
        if (r1["mode"], r2["mode"]) != ("full", "incremental"):
            raise RuntimeError(
                f"rollup-TTL gate expected refresh modes ('full', 'incremental'), "
                f"got ({r1['mode']!r}, {r2['mode']!r})"
            )
        pre = [
            (str(r["phase"]), str(r["day"]), int(r["n_buckets"]), int(r["n_rows"]),
             int(r["value_cents"]), int(r["vmin_cents"]), int(r["vmax_cents"]))
            for r in _rollup_day_agg(ca.read(partials=True), "pre").collect()
        ]
        dropped = st.apply_retention(now=_TTL_NOW)
        if not dropped:
            raise RuntimeError("rollup-TTL gate: sweep dropped nothing at _TTL_NOW")
        r3 = ca.refresh()
        if r3["mode"] != "full":
            raise RuntimeError(
                f"rollup-TTL gate: post-sweep refresh took {r3['mode']!r}, "
                "expected the removed-files full-recompute fallback"
            )
        _ROLLUPTTL_CACHE[sf_dir] = (ca, pre)
    return _ROLLUPTTL_CACHE[sf_dir]


def _q_rollup_retention_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TTL sweep on the base store followed by an incremental-refresh cycle
    (VERDICT r10 task #5b): value-hashes the bitemporal rollup's per-day
    fingerprint BOTH before the sweep and after the post-sweep refresh
    against one DuckDB recompute that latest-collapses the full revision
    set (pre) and the TTL survivors (post) independently — proving the
    refresh noticed the manifest's removed files, fell back to a full
    recompute, and re-derived winners from survivors (see
    _materialized_rollup_ttl for the refresh-mode asserts)."""
    ca, pre = _materialized_rollup_ttl(spark, sf_dir)
    pre_df = spark.createDataFrame(pre, _ROLLUP_DAY_SCHEMA)
    return pre_df.unionByName(_rollup_day_agg(ca.read(partials=True), "post"))


_VACUUM_CACHE: dict[str, tuple] = {}


def _vacuum_retention_agg(df: DataFrame, phase: str) -> DataFrame:
    cents = (F.col("value").cast("decimal(18,2)") * 100).cast("long")
    return (
        df.withColumn("cents", cents)
        .groupBy(F.lit(phase).alias("phase"), "retention")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.date_format(F.min("valid_time"), "yyyy-MM-dd HH:mm:ss").alias("vt_min"),
            F.date_format(F.max("valid_time"), "yyyy-MM-dd HH:mm:ss").alias("vt_max"),
            F.sum("cents").alias("value_cents"),
        )
    )


def _materialized_vacuum(spark: SparkSession, sf_dir: str):
    """One vacuumed SnapshotStore per (process, sf_dir): two commits, the
    PRE fingerprint collected eagerly, a compaction (which supersedes every
    pre-compaction data file), then ``vacuum(keep_last=1, min_age_s=0)``.
    Loud assertions pin the physical effects the fingerprint can't see:
    files and manifests actually removed, history truncated to one
    version, and time travel to the pre-vacuum version raising."""
    cached = _VACUUM_CACHE.get(sf_dir)
    if cached is None:
        import tempfile

        from timedb_spark.snapstore import SnapshotStore

        st = SnapshotStore(spark, tempfile.mkdtemp(prefix="timedb_gate_vacuum_"))
        st.create()
        sv = _store_frame(spark, sf_dir)
        st.append_values(sv.filter(F.col("series_id") % 2 == 0))
        st.append_values(sv.filter(F.col("series_id") % 2 != 0))
        v_old = st.versions()[0]["version"]
        pre = [
            ("pre", str(r["retention"]), int(r["n_rows"]), str(r["vt_min"]),
             str(r["vt_max"]), int(r["value_cents"]))
            for r in _vacuum_retention_agg(st.read_values(), "pre").collect()
        ]
        if not st.compact(max_files_per_partition=1):
            raise RuntimeError("vacuum gate: compaction rewrote nothing")
        res = st.vacuum(keep_last=1, min_age_s=0.0)
        if res["removed_files"] == 0 or res["removed_manifests"] == 0:
            raise RuntimeError(f"vacuum gate: nothing removed ({res})")
        if len(st.versions()) != 1:
            raise RuntimeError("vacuum gate: history not truncated to keep_last=1")
        try:
            st.read_values(version=v_old)
        except ValueError as exc:
            # the exact error _load raises for a vacuumed version
            # (snapstore.py:122,128) — anything else (manifest I/O, schema)
            # must propagate, not silently count as success (ADVICE r9)
            if "not found" not in str(exc):
                raise
        else:
            raise RuntimeError("vacuum gate: time travel to a vacuumed version succeeded")
        _VACUUM_CACHE[sf_dir] = (st, pre, res)
    return _VACUUM_CACHE[sf_dir]


def _q_snap_vacuum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SnapshotStore vacuum (snapstore.py:496) promoted from internal-only
    to a full-oracle gate query (the r9 promotion pattern): after a
    compaction supersedes every original data file, ``vacuum(keep_last=1,
    min_age_s=0)`` must delete the unreferenced files and truncated
    manifests WITHOUT changing a single visible row — the gate value-hashes
    per-retention fingerprints (counts, valid_time bounds, exact cent sums)
    before the compact+vacuum and from a live scan after, against one
    DuckDB recompute emitted for both phases. History truncation, file
    removal counts, and dead time travel raise loudly in materialization
    (they are physical effects a row fingerprint cannot see); the
    concurrent-writer min_age grace is pinned in tests/test_snapstore.py."""
    st, pre, _res = _materialized_vacuum(spark, sf_dir)
    pre_df = spark.createDataFrame(
        pre, "phase string, retention string, n_rows bigint, vt_min string, vt_max string, value_cents bigint"
    )
    return pre_df.unionByName(_vacuum_retention_agg(st.read_values(), "post"))


def _q_client_write_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The client write path's validation CONTRACT as data (ref
    timedb/write.py:259-261 ambiguity raises, write.py:236-368 vocab and
    tz checks): each known-bad write attempt must raise the documented
    error with the documented message — the gate catches each and emits
    (check_name, error type, message-contains-expected) rows, hashed
    against a literal VALUES oracle. A NO_ERROR row (the attempt silently
    succeeded) or a wrong error class hash-mismatches. All nine checks
    raise during validation/normalization, before any store write."""
    import tempfile

    import pandas as pd

    from timedb_spark.client import TimeDB

    db = TimeDB(spark, tempfile.mkdtemp(prefix="timedb_gate_valid_"))
    db.create()
    base = spark.range(3).select(
        F.col("id").alias("series_id"),
        F.to_timestamp(F.lit("2024-01-05 00:00:00")).alias("valid_time"),
        (F.col("id").cast("double") * 1.5).alias("value"),
    )
    rows: list[tuple] = []

    def attempt(check_name: str, fn, expect_sub: str) -> None:
        try:
            fn()
        except Exception as exc:  # noqa: BLE001 — the error IS the result
            rows.append((check_name, type(exc).__name__, expect_sub in str(exc)))
        else:
            rows.append((check_name, "NO_ERROR", False))

    attempt("missing_columns", lambda: db.write(base.drop("value")),
            "missing required columns")
    attempt("ambiguous_retention",
            lambda: db.write(base.withColumn("retention", F.lit("short")), retention="short"),
            "Ambiguous retention")
    attempt("bad_retention_kwarg", lambda: db.write(base, retention="eternal"),
            "Unknown retention")
    attempt("bad_retention_column",
            lambda: db.write(base.withColumn("retention", F.lit("eternal"))),
            "Unknown retention values")
    attempt("ambiguous_knowledge_time",
            lambda: db.write(
                base.withColumn("knowledge_time", F.to_timestamp(F.lit("2024-01-06 00:00:00"))),
                knowledge_time=datetime(2024, 1, 6),
            ),
            "Ambiguous knowledge_time")
    attempt("bad_unchanged_scope",
            lambda: db.write(base, skip_unchanged=True, unchanged_scope="bogus"),
            "Unknown unchanged_scope")
    attempt("naive_pandas_timestamp",
            lambda: db.write(pd.DataFrame({
                "series_id": [1],
                "valid_time": [pd.Timestamp("2024-01-05")],
                "value": [1.0],
            })),
            "must be timezone-aware")
    attempt("txn_on_directory_store", lambda: db.write(base, txn=("app", 1)),
            "table_format='snapshot'")
    attempt("bad_table_format",
            lambda: TimeDB(spark, tempfile.mkdtemp(prefix="timedb_gate_badfmt_"),
                           table_format="iceberg"),
            "Unknown table_format")
    return spark.createDataFrame(
        rows, "check_name string, error string, message_ok boolean"
    )


_NULLSENT_CACHE: dict[str, object] = {}


def _null_plant() -> "F.Column":
    """Deterministic null-planting predicate for the sentinel gate —
    ~1/7 of rows across every retention tier, mirrored verbatim by the
    oracle's CASE."""
    return (F.col("series_id") + F.hour("valid_time")) % 7 == 3


def _materialized_null_store(spark: SparkSession, sf_dir: str):
    """One client-written store per (process, sf_dir) with NULL values
    planted on the deterministic predicate — the write path must land them
    as the NaN storage sentinel (client.py:221-223, ref write.py:313)."""
    db = _NULLSENT_CACHE.get(sf_dir)
    if db is None:
        import tempfile

        from timedb_spark.client import TimeDB

        db = TimeDB(spark, tempfile.mkdtemp(prefix="timedb_gate_nullsent_"))
        db.create()
        # scope to the id range the readback's explicit series_ids list
        # covers (a no-op at every driver SF — user_id < 1500 everywhere —
        # but keeps store and oracle identical at ANY scale)
        frame = bitemporal_frame(spark, sf_dir).filter(F.col("series_id") < 1500).withColumn(
            "value",
            F.when(_null_plant(), F.lit(None).cast("double")).otherwise(F.col("value")),
        )
        res = db.write(frame)
        if res.written == 0:
            raise RuntimeError("null-sentinel gate: nothing written")
        _NULLSENT_CACHE[sf_dir] = db
    return db


def _q_client_null_sentinel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The null ↔ NaN storage sentinel roundtrip promoted from internal-only
    to a full-oracle gate query (VERDICT r9 task #4, the last SQL-checkable
    internal item; ref timedb/read.py:57-67, write.py:313): a client write
    with NULL values planted on a deterministic predicate must store them as
    NaN (CH argMax drops NULLs, so a null observation stored raw would fall
    back to an older non-null revision during latest-collapse — the exact
    bug the sentinel exists to prevent), and every client read must convert
    them back to NULL. Three hashed phases, each per-group counts + exact
    cent sums: ``storage`` (raw store scan per retention — zero NULLs, the
    planted set present as NaN), ``latest`` and ``overlapping`` (client
    readbacks — zero NaNs, the winning revisions' planted values back as
    NULL, proving the sentinel SURVIVES max_by collapse and converts only at
    the API edge). The oracle recomputes all three from the events
    derivation with the same CASE-planted NULLs."""
    db = _materialized_null_store(spark, sf_dir)
    cents = (F.col("value").cast("decimal(18,2)") * 100).cast("long")
    storage = (
        db.store.read_values()
        .groupBy(F.lit("storage").alias("phase"), F.col("retention").alias("key"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count_if(F.col("value").isNull()).alias("n_null"),
            F.count_if(F.isnan("value")).alias("n_nan"),
            F.coalesce(F.sum(F.when(~F.isnan("value"), cents)), F.lit(0))
            .cast("long").alias("value_cents"),
        )
    )
    ids = list(range(1500))  # covers the user_id domain at every SF

    def roll(df: DataFrame, phase: str) -> DataFrame:
        return df.groupBy(
            F.lit(phase).alias("phase"), F.lit("all").alias("key")
        ).agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count_if(F.col("value").isNull()).alias("n_null"),
            F.count_if(F.isnan("value")).alias("n_nan"),
            F.coalesce(F.sum(cents), F.lit(0)).cast("long").alias("value_cents"),
        )

    latest = roll(db.read(series_ids=ids), "latest")
    over = roll(db.read(series_ids=ids, include_knowledge_time=True), "overlapping")
    return storage.unionByName(latest).unionByName(over)


_INGEST_CACHE: dict[str, tuple] = {}

#: Deterministic landing-file corruption classes, keyed by event_id % 13.
#: Disjoint by construction so the quarantine's reason precedence never
#: has to be mirrored — each bad row fails exactly one parse.
_INGEST_BAD = {
    0: "bad_value",                      # value -> 'N/A'
    1: "bad_valid_time_or_no_offset",    # timestamp without an offset
    2: "bad_retention",                  # retention -> 'eternal'
    3: "bad_series_id",                  # series_id -> 'u<id>'
}
_INGEST_KT = datetime(2024, 2, 1)


def _materialized_ingest(spark: SparkSession, sf_dir: str):
    """One ingested store per (process, sf_dir): derive a CSV landing
    directory from events with four deterministic corruption classes
    injected (event_id % 13 ∈ {0,1,2,3}), run the full batch landing path —
    explicit-schema PERMISSIVE csv scan → typed quarantine split →
    client write with per-row retention — and return
    (db, IngestResult)."""
    cached = _INGEST_CACHE.get(sf_dir)
    if cached is None:
        import tempfile

        from timedb_spark.client import TimeDB
        from timedb_spark.io.ingest import ingest_landing, read_csv_landing

        ev = load_table(spark, sf_dir, "events")
        m = F.col("event_id") % 13
        retention = (
            F.when(F.col("event_type").isin("click", "view"), "short")
            .when(F.col("event_type") == "purchase", "long")
            .when(F.col("event_type") == "signup", "forever")
            .otherwise("medium")
        )
        # Every field is coalesced to '' — concat_ws silently DROPS null
        # args, which would collapse a row to 3 fields and misclassify it
        # relative to the oracle's modular prediction (ADVICE r9). A NULL
        # source cell thus becomes an empty CSV field (its own loud parse
        # failure) instead of a silent field-count shift.
        line = F.concat_ws(
            ",",
            F.coalesce(
                F.when(m == 3, F.concat(F.lit("u"), F.col("user_id"))).otherwise(
                    F.col("user_id").cast("string")
                ),
                F.lit(""),
            ),
            F.coalesce(
                F.concat(
                    F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"),
                    F.when(m == 1, F.lit("")).otherwise(F.lit("+00:00")),
                ),
                F.lit(""),
            ),
            F.coalesce(
                F.when(m == 0, F.lit("N/A")).otherwise(F.col("value").cast("string")),
                F.lit(""),
            ),
            F.coalesce(F.when(m == 2, F.lit("eternal")).otherwise(retention), F.lit("")),
        )
        landing_dir = tempfile.mkdtemp(prefix="timedb_gate_landing_")
        ev.select(line.alias("value")).write.mode("overwrite").text(landing_dir)

        db = TimeDB(spark, tempfile.mkdtemp(prefix="timedb_gate_ingest_"))
        db.create()
        batch = read_csv_landing(spark, landing_dir, header=False)
        res = ingest_landing(db, batch, knowledge_time=_INGEST_KT)
        _INGEST_CACHE[sf_dir] = (db, batch, res)
    return _INGEST_CACHE[sf_dir]


def _q_store_landing_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch landing-zone ingestion (io/ingest.py:98-140) promoted from
    internal-only to a full-oracle gate query (the r9 promotion pattern):
    a CSV landing directory is derived deterministically from events with
    four disjoint corruption classes injected (unparseable value,
    offset-less timestamp, invalid retention tier, non-numeric series_id —
    event_id % 13 ∈ {0..3}), flows through the real path — explicit-schema
    PERMISSIVE scan, typed quarantine split, client write with per-row
    retention and pinned knowledge_time — and the gate value-hashes BOTH
    sides of the split: per-retention row counts + exact cent sums read
    back from the store, and per-reason quarantine counts, against one
    DuckDB recompute applying the same modular predicates to events.
    Corrupt-line capture and replay semantics stay pinned in
    tests/test_store_client.py / test_streaming.py."""
    db, batch, res = _materialized_ingest(spark, sf_dir)
    cents = (F.col("value").cast("decimal(18,2)") * 100).cast("long")
    store_side = (
        db.store.read_values()
        .withColumn("cents", cents)
        .groupBy(F.lit("store").alias("phase"), F.col("retention").alias("key"))
        .agg(F.count(F.lit(1)).alias("n_rows"), F.sum("cents").alias("value_cents"))
    )
    # The hashed quarantine side is the INGESTER's own reject frame (the
    # lazy PERMISSIVE scan + typed split), keyed by reject reason — the
    # oracle predicts it independently from the modular corruption classes.
    quarantine_side = (
        batch.bad.groupBy(F.col("reject_reason").alias("key"))
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .select(
            F.lit("quarantine").alias("phase"),
            "key",
            "n_rows",
            F.lit(0).cast("long").alias("value_cents"),
        )
    )
    if res.quarantined == 0 or res.written == 0:
        raise RuntimeError(f"landing gate: degenerate ingest result {res}")
    return store_side.unionByName(quarantine_side)


_STREAM_INGEST_CACHE: dict[str, tuple] = {}


def _materialized_stream_ingest(spark: SparkSession, sf_dir: str):
    """One stream-ingested SnapshotStore per (process, sf_dir): the
    deterministic bitemporal frame lands as THREE parquet files and drains
    through the REAL Structured Streaming path (availableNow +
    maxFilesPerTrigger=1 → ≥3 foreachBatch invocations, one idempotent
    ``txn=(app_id, batch_id)`` commit each — streaming/ingest.py), then the
    exactly-once contract is attacked twice and both attacks must commit
    NOTHING:

    - a checkpoint RESTART over the same landing dir — the crash-recovery
      replay Structured Streaming actually performs; committed offsets mean
      no batch re-runs;
    - a FORCED re-commit of batch 0's (app_id, batch_id) pair directly via
      ``append_values`` (the tests/test_snapstore.py replay technique) —
      the manifest txn marker must dedup it.

    Version positions are asserted loudly after each attack: a duplicated
    batch would also move the row fingerprint the gate hashes, but a replay
    the store deduped leaves rows unchanged BY DESIGN — only the version
    count proves the dedup happened at the commit protocol rather than by
    accident. Ref anchor: the reference's sessionless parallel-insert
    guarantee (timedb/write.py:236-368, tests/test_write_concurrency.py)."""
    cached = _STREAM_INGEST_CACHE.get(sf_dir)
    if cached is None:
        import tempfile

        from timedb_spark.schema import SERIES_VALUES_SCHEMA
        from timedb_spark.session import micros_parquet_writes
        from timedb_spark.snapstore import SnapshotStore
        from timedb_spark.streaming import stream_append_to_store

        root = tempfile.mkdtemp(prefix="timedb_gate_streamingest_")
        sv = _store_frame(spark, sf_dir).select([f.name for f in SERIES_VALUES_SCHEMA.fields])
        landing = f"{root}/landing"
        with micros_parquet_writes(spark):
            sv.repartition(3).write.parquet(landing)
        # the multi-batch floor is the number of part-files ACTUALLY written
        # (ADVICE r12): maxFilesPerTrigger=1 makes one micro-batch per file,
        # and a degenerate sf_dir whose writer emits fewer than 3 files must
        # still gate on "every file became a commit", not a hard-coded 3.
        import glob as _glob

        n_files = len(_glob.glob(f"{landing}/part-*"))
        if n_files < 1:
            raise RuntimeError(f"stream-ingest gate: no landing part-files under {landing}")

        st = SnapshotStore(spark, f"{root}/store")
        st.create()
        ckpt = f"{root}/ckpt"
        stream = (
            spark.readStream.schema(sv.schema).option("maxFilesPerTrigger", 1).parquet(landing)
        )
        n1 = stream_append_to_store(stream, st, checkpoint_dir=ckpt)
        if n1 < n_files:
            raise RuntimeError(
                f"stream-ingest gate: expected >={n_files} micro-batches "
                f"(one per landing part-file), got {n1}"
            )
        versions = st.versions()
        n_appends = sum(1 for v in versions if v["op"] == "append")
        # at-least-once foreachBatch means invocations may EXCEED commits (a
        # legitimately deduped replay invokes but commits nothing — r12
        # review); commits exceeding invocations would mean phantom writes.
        if not (n_files <= n_appends <= n1):
            raise RuntimeError(
                f"stream-ingest gate: {n_appends} append commits outside "
                f"[{n_files} landing files, {n1} foreachBatch invocations]"
            )
        v_top = versions[-1]["version"]
        n_rows = st.read_values().count()

        # attack 1: checkpoint restart (no new input) — nothing re-commits
        stream2 = (
            spark.readStream.schema(sv.schema).option("maxFilesPerTrigger", 1).parquet(landing)
        )
        stream_append_to_store(stream2, st, checkpoint_dir=ckpt)
        if st.versions()[-1]["version"] != v_top:
            raise RuntimeError("stream-ingest gate: checkpoint restart re-committed a batch")

        # attack 2: forced replay of batch 0's txn pair (default app_id of
        # stream_append_to_store) — the manifest txn marker must dedup it
        st.append_values(sv.limit(5), txn=("timedb-ingest", 0))
        if st.versions()[-1]["version"] != v_top:
            raise RuntimeError("stream-ingest gate: replayed (app_id, batch_id) committed")
        if st.read_values().count() != n_rows:
            raise RuntimeError("stream-ingest gate: row count moved under replay attacks")
        _STREAM_INGEST_CACHE[sf_dir] = (st,)
    return _STREAM_INGEST_CACHE[sf_dir]


def _q_stream_ingest_once(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exactly-once ingestion (streaming/ingest.py) promoted from
    internal-only to a full-oracle gate query (VERDICT r11 task #2, the
    rollup_retention_refresh pattern): after a 3-micro-batch availableNow
    drain, a checkpoint restart AND a forced same-(app_id, batch_id) replay
    — both asserted to commit nothing in materialization — the store's
    per-(retention, vt_month) fingerprint (counts, series/valid_time
    bounds, exact cent sums) must equal one DuckDB recompute of the batch
    set, i.e. the source frame read ONCE: a lost batch or a surviving
    duplicate moves counts and cents. The crash-inside-the-write ordering
    guarantee stays pinned in tests/test_snapstore.py."""
    (st,) = _materialized_stream_ingest(spark, sf_dir)
    return _compact_partition_agg(st.read_values())


_DELETE_CACHE: dict[str, tuple] = {}

#: Fixed erasure target set for the delete_series gate: ids ≡ 3 (mod 7)
#: below 100 — a literal list (no runtime collect) that exists at every SF
#: (user_id domain is 0..14 / 0..149 / 0..1499 at sf0.001/0.01/0.1) and is
#: trivially mirrored by the oracle's NOT IN.
_DELETE_TARGETS = list(range(3, 100, 7))


def _materialized_delete_store(spark: SparkSession, sf_dir: str):
    """One erased store per (process, sf_dir): create + append of the
    deterministic bitemporal frame, the PRE-erasure fingerprint collected
    eagerly (the read is lazy; collecting after the delete would scan only
    survivors and prove nothing), then ``delete_series(_DELETE_TARGETS)``.
    Returns (store, pre_rows, rewritten_partition_dirs)."""
    cached = _DELETE_CACHE.get(sf_dir)
    if cached is None:
        import tempfile

        from timedb_spark.store import Store

        st = Store(spark, tempfile.mkdtemp(prefix="timedb_gate_delete_"))
        st.create()
        st.append_values(_store_frame(spark, sf_dir))
        pre = _pre_fingerprint(st)
        rewritten = st.delete_series(_DELETE_TARGETS)
        _DELETE_CACHE[sf_dir] = (st, pre, rewritten)
    return _DELETE_CACHE[sf_dir]


def _q_store_delete_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Targeted series erasure (the GDPR right-to-erasure path) promoted
    from internal-only to a full-oracle gate query (VERDICT r8 task #5's
    promotion pattern, after store_compact_zorder and store_retention_ttl):
    ``delete_series`` (store.py:387) anti-join-rewrites ONLY the partitions
    whose footer series_id zone maps can contain a target id, and the gate
    value-hashes the per-partition fingerprint (counts, series/valid_time
    bounds, exact cent sums) BOTH pre- and post-erasure against one DuckDB
    recompute that applies the SAME ``series_id NOT IN targets`` predicate
    independently — proving the erasure removes exactly the targets and
    leaves every surviving row byte-identical. Zone-map pruning (innocent
    partitions untouched) stays pinned in tests/test_store_client.py."""
    st, pre, _rewritten = _materialized_delete_store(spark, sf_dir)
    return _pre_post(spark, st, pre)


def _q_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embed_quantize with `codes array<int>` serialized to a ','-joined
    string for the gate (the driver canonicalizer cannot factorize list
    cells — the identical failure mode as multimodal_decode's thumb,
    CORRECTNESS_r03, repeated by codes in CORRECTNESS_r05). The typed array
    stays on the raw operator; the oracle twin is EMBED_QUANTIZE_GATE_SQL
    (array_to_string on the same projection). Int elements cast to string
    element-wise — concat_ws takes array<string> only, and codes never
    holds nulls (transform over the non-null quantized embedding)."""
    out = similarity.embed_quantize(spark, sf_dir)
    return out.select(
        "vec_id",
        "amax",
        F.concat_ws(",", F.col("codes").cast("array<string>")).alias("codes"),
        "sq_err",
    )


def _q_profile_table_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """profile_table with exact distinct counts (the DuckDB oracle is exact;
    the operator's production default is HLL approx — the two modes are
    pinned against each other within HLL error in tests/test_pipeline.py)."""
    return pipeline.profile_table(spark, sf_dir, exact=True)


def _q_ts_quantiles_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """quantiles with exact percentile (== DuckDB quantile_cont); the
    operator default is the percentile_approx sketch."""
    return timeseries.quantiles_by_type(spark, sf_dir, exact=True)


def _q_ts_anomaly_mad_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAD outliers with exact medians (== DuckDB quantile_cont); the
    operator default is the percentile_approx sketch."""
    return timeseries.mad_anomaly(spark, sf_dir, exact=True)


def _q_events_rfm_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM with exact ntile quintiles (== DuckDB ntile); the operator's
    production default is percentile_approx cut-points broadcast back —
    zero global sorts (the r3 verdict's one new weak shape, fixed)."""
    return analytics.events_rfm(spark, sf_dir, exact=True)


# ---------------------------------------------------------------------------
# Contract functions
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: bitemporal latest-state read at sf0.001."""
    return _q_read_latest(spark, "/root/testdata/sf0.001")


#: queries() entries that have NO DuckDB oracle by design (non-SQL-expressible:
#: greedy bin-packing, probabilistic LSH recall, binary codecs, eigen-solve).
#: The driver records a weaker rows-only check for these; the pytest oracle
#: contract derives its exemption set from THIS registry so the two can never
#: drift (tests/test_oracle_types.py asserts ROWS_ONLY ∩ oracle_sql() == ∅).
ROWS_ONLY = frozenset({
    "embed_pca",            # covariance partials + driver eigh (not SQL)
    # Everything else carries a full DuckDB oracle. Upgraded in r5:
    # multimodal_decode / multimodal_audio (keystream payloads are
    # SQL-reproducible — DECODE_FEATURES_SQL / AUDIO_FEATURES_SQL),
    # ann_lsh (deterministic integer math — ANN_LSH_SQL), and
    # pack_documents (both greedy folds stepped by RECURSIVE CTEs —
    # PACK_DOCUMENTS_SQL).
})


#: Round-13 correctness-gate window (first 50 queries() entries, in order).
#: The driver hash-checks exactly these, so the list IS the rotation — the
#: registration dict below is grouped by domain and does not encode window
#: order itself. Composition per VERDICT r12 task #2 (finish the freshness
#: ladder):
#:   1-3   text_lm_score, events_paths, graph_triangles — the declared r13
#:         rotation debt (the last three r7-era greens, displaced from the
#:         r12 window); with these fresh, NO green predates r8.
#:   4-50  the ENTIRE r8-era block: all 47 queries whose newest green row
#:         is CORRECTNESS_r08, oldest-first in that file's order (the
#:         freshness ledger r7:3/r8:47 means the whole era fits the
#:         remaining slots exactly — zero displaced, zero r14 rotation
#:         debt; the next-oldest rows are r9-era).
#: Window-discipline rule (VERDICT r5 #4): queries registered mid-round go
#: INSIDE this window or are explicitly listed as next-window debt in
#: SURVEY §7.
_R13_WINDOW = [
    # -- the declared r13 rotation debt (VERDICT r12 task #2, positions
    # -- 1-3: with these fresh, no green predates r8) --------------------
    "text_lm_score",
    "events_paths",
    "graph_triangles",
    # -- the whole r8-era block (47), oldest-first in CORRECTNESS_r08
    # -- order — the era fits exactly; zero r14 rotation debt ------------
    "store_compact_zorder",
    "ts_macd",
    "ts_anomaly_online",
    "stream_anomaly_v2",
    "graph_clustering",
    "graph_kcore",
    "embed_index_stats",
    "embed_knn_graph",
    "embed_cluster_purity",
    "ann_filtered",
    "ts_sharpe",
    "ts_benford",
    "ts_runs_test",
    "ts_rsi",
    "ts_bollinger",
    "ts_ljung_box",
    "ts_spectral_entropy",
    "bt_knowledge_lag",
    "embed_isotropy",
    "multimodal_phash",
    "sample_dedup_aware",
    "events_time_to_convert",
    "bt_staleness",
    "ts_pacf",
    "dedup_lsh_tuning",
    "pipeline_dq_rules",
    "events_seasonality",
    "ts_ccf",
    "bt_revision_latency",
    "ts_adf",
    "ts_var_es",
    "embed_centroid_drift",
    "bt_coverage",
    "ts_motif",
    "events_power",
    "events_anomaly_daily",
    "events_markov_stationary",
    "graph_assortativity",
    "sample_kcenter",
    "ts_forecast_ensemble",
    "ts_granger",
    "dedup_winnowing",
    "ts_arch_test",
    "multimodal_audio_hash",
    "contamination_semantic",
    "ts_dist_drift",
    "train_split_temporal",
]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """The driver hash-checks the FIRST 50 entries; ``_R13_WINDOW`` (above)
    pins that order each round. The registry literal below is grouped by
    domain; queries() re-orders it window-first, everything else after in
    registry order. Greens rotated out of the window stay green locally via
    tools/parity.py (full-register parity at sf0.001/0.01/0.1 per round)."""
    reg: dict[str, Callable[[SparkSession, str], DataFrame]] = {
        # (registry order below is domain grouping only — _R13_WINDOW above
        # decides what the driver checks)
        "embed_quantize": _q_embed_quantize,
        "ts_theta": timeseries.theta_forecast,
        "stream_sessionize_v2": _q_stream_sessionize_v2,
        "stream_funnel_v2": _q_stream_funnel_v2,
        "stream_topk_users_v2": _q_stream_topk_users_v2,
        # store metadata ops (footer-only answers, full oracles)
        "fast_count": _q_fast_count,
        "partition_stats": _q_partition_stats,
        # z-order compaction invariance (promoted r8, VERDICT r7 task #4)
        "store_compact_zorder": _q_store_compact_zorder,
        # retention-TTL partition drops (promoted r9, VERDICT r8 task #5)
        "store_retention_ttl": _q_store_retention_ttl,
        # targeted erasure partition rewrites (promoted r9, same pattern)
        "store_delete_series": _q_store_delete_series,
        # incremental continuous-aggregate refresh (promoted r9, same pattern)
        "rollup_continuous_agg": _q_rollup_continuous_agg,
        # CSV landing ingestion with typed quarantine (promoted r9, same pattern)
        "store_landing_ingest": _q_store_landing_ingest,
        # -- promoted r9 BEYOND the 50-slot window (r10 window debt,
        # SURVEY §7): snapshot vacuum + the write-validation contract
        "snap_vacuum": _q_snap_vacuum,
        "client_write_validation": _q_client_write_validation,
        "client_null_sentinel": _q_client_null_sentinel,
        # r10 growth (VERDICT r9 task #7's two named compositions) —
        # front-loaded at the r11 window positions 1-2 (VERDICT r10 task #1)
        "rollup_bitemporal_agg": _q_rollup_bitemporal_agg,
        "bt_pit_features": forecasting.pit_features,
        # r11 growth (VERDICT r10 task #5's two earned compositions) —
        # registered IN-WINDOW r11 (positions pinned in the r11 window)
        "rollup_pit_backtest": _q_rollup_pit_backtest,
        "rollup_retention_refresh": _q_rollup_retention_refresh,
        # r12: streaming exactly-once ingestion promoted to a gate
        # (VERDICT r11 task #2 — the last promotable internal item) + the
        # earned composition (task #3); both registered IN-WINDOW
        "stream_ingest_once": _q_stream_ingest_once,
        "pit_train_split": forecasting.pit_train_split,
        "text_readability": text.text_readability,
        "ts_kalman": timeseries.kalman_filter,
        "ts_croston": timeseries.croston,
        "ts_sax": timeseries.sax_symbolize,
        "events_survival": analytics.events_survival,
        "graph_link_predict": analytics.graph_link_predict,
        "dedup_spans": dedup.dedup_spans,
        "text_collocations": text.text_collocations,
        "text_chunk": text.text_chunk,
        "sample_weighted": sampling.sample_weighted,
        "ts_cusum": timeseries.cusum,
        "stream_dedup_v2": _q_stream_dedup_v2,
        "graph_label_prop": analytics.graph_label_prop,
        "ts_mk_trend": timeseries.mk_trend,
        "dedup_containment": dedup.dedup_containment,
        "ts_periodogram": timeseries.periodogram,
        "ann_mmr": similarity.ann_mmr,
        "ann_recall": similarity.ann_recall,
        "events_entropy": analytics.events_entropy,
        "ts_seasonal_strength": timeseries.seasonal_strength,
        "ts_hampel": timeseries.hampel,
        "embed_outliers": similarity.embed_outliers,
        "events_lift": analytics.events_lift,
        "ts_perm_entropy": timeseries.permutation_entropy,
        "ts_anomaly_resid": timeseries.anomaly_residual,
        "dedup_report": dedup.dedup_report,
        "text_novelty": text.text_novelty,
        "profile_sources": pipeline.profile_sources,
        "ts_backtest": timeseries.backtest_models,
        "ts_drawdown": timeseries.drawdown,
        "bt_audit": forecasting.bt_audit,
        "graph_degree_profile": analytics.graph_degree_profile,
        "stream_cusum_v2": _q_stream_cusum_v2,
        "events_interarrival": analytics.events_interarrival,
        "ts_pi_naive": timeseries.pi_naive,
        "sample_temperature": sampling.sample_temperature,
        "text_zipf": text.text_zipf,
        "events_gini": analytics.events_gini,
        "ts_hurst": timeseries.hurst,
        "text_fingerprint": text.text_fingerprint,
        "text_tfidf": text.text_tfidf,
        "text_repetition": text.text_repetition,
        "text_pii": text.text_pii,
        "dedup_exact": dedup.dedup_exact,
        "dedup_ngram_jaccard": dedup.dedup_ngram_jaccard,
        "dedup_minhash": dedup.dedup_minhash,
        "dedup_simhash": dedup.dedup_simhash,
        "dedup_embedding": dedup.dedup_embedding,
        "dedup_editdist": dedup.dedup_editdist,
        "dedup_clusters": dedup.dedup_clusters,
        "contamination_check": pipeline.contamination_check,
        "pipeline_clean": pipeline.pipeline_clean,
        # exact=True: the DuckDB oracle counts exactly; the operator default
        # is approx_count_distinct (no-Expand plan — see profile_table doc).
        "profile_table": _q_profile_table_exact,
        "sample_stratified": sampling.sample_stratified,
        "sample_mix": sampling.sample_mix,
        "train_split": sampling.train_split,
        "shard_assign": sampling.shard_assign,
        "ann_bruteforce": similarity.ann_bruteforce,
        "ann_ivf": similarity.ann_ivf,
        "ann_pq": similarity.ann_pq,
        "embed_kmeans": similarity.embed_kmeans,
        "multimodal_meta": multimodal.multimodal_meta,
        "stream_window": _q_stream_window,
        "stream_latest_state": _q_stream_latest_state,
        "stream_dedup": _q_stream_dedup,
        "stream_sessionize": _q_stream_sessionize,
        "stream_join": _q_stream_join,
        "stream_join_ordered": _q_stream_join_ordered,
        "ts_resample_locf": timeseries.resample_locf_events,
        "ts_interpolate_linear": timeseries.interpolate_linear_events,
        "ts_rollup_multires": timeseries.rollup_multires,
        "ts_sessionize": timeseries.sessionize,
        "ts_ohlc": timeseries.ohlc_bars,
        "ts_ewma": timeseries.ewma,
        "ts_rate": timeseries.counter_rate,
        "ts_corr": timeseries.corr_matrix,
        "ts_decompose": timeseries.seasonal_decompose,
        "events_session_window": timeseries.session_window_agg,
        "text_script": text.text_script,
        "text_lm_score": text.text_lm_score,
        "events_paths": analytics.events_paths,
        "graph_triangles": analytics.graph_triangles,
        # -- remaining r3/r4 greens (hash-green in CORRECTNESS_r03/r04) ---
        "bt_pinball_loss": forecasting.pinball_loss,
        "dedup_semantic": similarity.dedup_semantic,
        "ts_calendar_features": forecasting.calendar_features,
        "ts_range_join": timeseries.range_join_events,
        "ts_topk_users": timeseries.topk_users,
        # exact=True for ts_quantiles/ts_anomaly_mad: the DuckDB oracles use
        # quantile_cont; the operator default is the percentile_approx
        # sketch (bounded per-group memory — the 100 TB path).
        "ts_quantiles": _q_ts_quantiles_exact,
        "ts_moving_stats": timeseries.moving_stats,
        "ts_anomaly_zscore": timeseries.anomaly_zscore,
        "ts_anomaly_mad": _q_ts_anomaly_mad_exact,
        "ts_gap_detect": timeseries.gap_detect,
        "ts_autocorr": timeseries.autocorr,
        "ts_seasonal_naive": timeseries.seasonal_naive,
        "ts_histogram": timeseries.value_histogram,
        "ts_holt": timeseries.holt,
        "events_cohort": timeseries.retention_cohort,
        "ts_m4": timeseries.m4_downsample,
        "ts_changepoint": forecasting.changepoint,
        "stream_funnel": _q_stream_funnel,
        "ts_holt_winters": timeseries.holt_winters,
        "ts_lttb": timeseries.lttb_downsample,
        # -- bitemporal core + headline (green r3 AND r4) -----------------
        "bt_read_latest": _q_read_latest,
        "bt_read_overlapping": _q_read_overlapping,
        "bt_read_latest_changes": _q_read_latest_changes,
        "bt_read_overlapping_changes": _q_read_overlapping_changes,
        "bt_read_filtered": _q_read_filtered,
        "bt_read_relative": _q_read_relative,
        "bt_read_meta_scope": _q_read_meta_scope,
        "bt_run_series": _q_run_series,
        "bt_write_skip_unchanged": _q_write_skip_unchanged,
        "bt_snapshot": _q_snapshot,
        "bt_snapshot_diff": _q_snapshot_diff,
        "bt_value_at": _q_value_at,
        "bt_interval_at": _q_interval_at,
        "bt_backtest_error": _q_backtest_error,
        "bt_forecast_vintage": forecasting.forecast_vintage,
        "tpch_q1": analytics.tpch_q1,
        "tpch_q3": analytics.tpch_q3,
        "tpch_q5": analytics.tpch_q5,
        "asof_join": analytics.asof_join,
        "events_window": analytics.events_window,
        "events_markov": analytics.events_markov,
        # -- r5 window greens (all hash-green in CORRECTNESS_r05) ---------
        "text_boilerplate": text.text_boilerplate,
        "text_vocab": text.text_vocab,
        # exact=True: the oracle is DuckDB ntile(5); the operator default is
        # percentile_approx cut-points (zero global sorts — the 100 TB path).
        "events_rfm": _q_events_rfm_exact,
        "ann_range": similarity.ann_range,
        "embed_pca": similarity.embed_pca,  # rows-only (eigh not SQL-able)
        "tpch_q2": tpch_ext.tpch_q2,
        "tpch_q4": analytics.tpch_q4,
        "tpch_q6": analytics.tpch_q6,
        "tpch_q7": tpch_ext.tpch_q7,
        "tpch_q8": tpch_ext.tpch_q8,
        "tpch_q9": tpch_ext.tpch_q9,
        "tpch_q10": analytics.tpch_q10,
        "tpch_q11": tpch_ext.tpch_q11,
        "tpch_q12": tpch_ext.tpch_q12,
        "tpch_q13": tpch_ext.tpch_q13,
        "tpch_q14": analytics.tpch_q14,
        "tpch_q15": tpch_ext.tpch_q15,
        "tpch_q16": tpch_ext.tpch_q16,
        "tpch_q17": tpch_ext.tpch_q17,
        "tpch_q18": analytics.tpch_q18,
        "tpch_q19": analytics.tpch_q19,
        "tpch_q20": tpch_ext.tpch_q20,
        "tpch_q21": tpch_ext.tpch_q21,
        "tpch_q22": analytics.tpch_q22,
        "basket_pairs": analytics.basket_pairs,
        "events_window_sliding": analytics.events_window_sliding,
        "asof_forward": asof.asof_forward_next_purchase,
        "asof_tolerance": asof.asof_tolerance_last_click,
        "asof_nearest": asof.asof_nearest_purchase,
        "bt_interval_merge": _q_interval_merge,
        "bt_restatements": forecasting.restatements,
        "events_attribution": asof.attribution_last_touch,
        "events_json": analytics.events_json,
        "graph_pagerank": analytics.graph_pagerank,
        "events_pivot": analytics.events_pivot,
        "events_rank": analytics.events_rank,
        "events_funnel": funnel.events_funnel,
        "text_tokens": text.text_tokens,
        "text_quality": text.text_quality,
        "text_langid": text.text_langid,
        "ann_hybrid": similarity.ann_hybrid,
        "events_abtest": analytics.events_abtest,
        "profile_drift": pipeline.profile_drift,
        "multimodal_decode": _q_multimodal_decode,
        "multimodal_audio": _q_multimodal_audio,
        "ann_lsh": similarity.ann_lsh,
        "pack_documents": sampling.pack_documents,
        # v2 state API twin (transformWithStateInPandas, RocksDB store) —
        # unlocked in r5 via the vendored protobuf runtime; documented v1
        # fallback when this session's workers predate the probe.
        "stream_latest_state_v2": _q_stream_latest_state_v2,
        # video-as-frames sampling under a FULL oracle (md5-keystream
        # payloads are reproducible in SQL).
        "multimodal_video": _q_multimodal_video,
        # manifest-store time travel, promoted to a gate query in r7
        # (VERDICT r6 task #5).
        "snap_time_travel": _q_snap_time_travel,
        # -- NEW in r7 (registered after position 50: explicit r8-window
        #    debt per the discipline rule; all parity-green locally) --------
        "ts_runs_test": timeseries.runs_test,
        "ts_rsi": timeseries.rsi,
        "ts_bollinger": timeseries.bollinger,
        "ts_ljung_box": timeseries.ljung_box,
        "ts_spectral_entropy": timeseries.spectral_entropy,
        "bt_knowledge_lag": forecasting.bt_knowledge_lag,
        "graph_kcore": analytics.graph_kcore,
        "embed_isotropy": similarity.embed_isotropy,
        "multimodal_phash": multimodal.multimodal_phash,
        "sample_dedup_aware": sampling.sample_dedup_aware,
        "ts_anomaly_online": timeseries.anomaly_online,
        "stream_anomaly_v2": _q_stream_anomaly_v2,
        "text_diversity": text.text_diversity,
        "events_time_to_convert": analytics.events_time_to_convert,
        "bt_staleness": forecasting.bt_staleness,
        "ts_pacf": timeseries.pacf,
        "embed_cluster_purity": similarity.embed_cluster_purity,
        "dedup_lsh_tuning": dedup.dedup_lsh_tuning,
        "pipeline_dq_rules": pipeline.pipeline_dq_rules,
        "events_seasonality": analytics.events_seasonality,
        "ts_ccf": timeseries.ccf,
        "bt_revision_latency": forecasting.bt_revision_latency,
        "ts_macd": timeseries.macd,
        "ts_sharpe": timeseries.sharpe,
        "ts_benford": timeseries.benford,
        "ts_adf": timeseries.adf,
        "ts_var_es": timeseries.var_es,
        "graph_modularity": analytics.graph_modularity,
        "graph_clustering": analytics.graph_clustering,
        "events_srm": analytics.events_srm,
        "ann_filtered": similarity.ann_filtered,
        "embed_centroid_drift": similarity.embed_centroid_drift,
        "text_code_detect": text.text_code_detect,
        "bt_coverage": _q_bt_coverage,
        "ts_motif": timeseries.sax_motif,
        "embed_index_stats": similarity.embed_index_stats,
        "events_power": analytics.events_power,
        "events_anomaly_daily": analytics.events_anomaly_daily,
        "events_markov_stationary": analytics.events_markov_stationary,
        "graph_assortativity": analytics.graph_assortativity,
        "sample_kcenter": sampling.sample_kcenter,
        "ts_forecast_ensemble": timeseries.forecast_ensemble,
        "pipeline_dataset_card": pipeline.pipeline_dataset_card,
        "events_ltv": analytics.events_ltv,
        "ts_granger": timeseries.granger,
        "embed_knn_graph": similarity.embed_knn_graph,
        "ts_load_curve": timeseries.load_curve,
        "events_dau": analytics.events_dau,
        "ts_peak_detect": timeseries.peak_detect,
        "dedup_winnowing": dedup.dedup_winnowing,
        "ts_missingness": timeseries.missingness,
        "ts_arch_test": timeseries.arch_test,
        "multimodal_audio_hash": multimodal.multimodal_audio_hash,
        "contamination_semantic": pipeline.contamination_semantic,
        "text_instruction_detect": text.text_instruction_detect,
        "ts_dist_drift": timeseries.dist_drift,
        "train_split_temporal": sampling.train_split_temporal,
    }
    out = {k: reg[k] for k in _R13_WINDOW}
    out.update((k, v) for k, v in reg.items() if k not in out)
    return out


def oracle_sql() -> dict[str, str]:
    d = {
        "bt_read_latest": f"""
            WITH sv AS ({_SV})
            SELECT series_id, valid_time, value FROM (
                SELECT series_id, valid_time, value,
                       row_number() OVER (PARTITION BY series_id, valid_time
                                          ORDER BY knowledge_time DESC, change_time DESC) AS rn
                FROM sv
            ) t WHERE rn = 1
        """,
        "bt_read_overlapping": f"""
            WITH sv AS ({_SV})
            SELECT series_id, knowledge_time, valid_time, value FROM (
                SELECT series_id, knowledge_time, valid_time, value,
                       row_number() OVER (PARTITION BY series_id, valid_time, knowledge_time
                                          ORDER BY change_time DESC) AS rn
                FROM sv
            ) t WHERE rn = 1
        """,
        "bt_read_latest_changes": f"""
            WITH sv AS ({_SV}),
            win AS (
                SELECT series_id, valid_time, max(knowledge_time) AS mkt
                FROM sv GROUP BY series_id, valid_time
            ),
            chain AS (
                SELECT s.series_id, s.valid_time, s.change_time, s.value, s.changed_by, s.annotation,
                       lag(1) OVER w AS first_marker,
                       lag(s.value) OVER w AS pv,
                       lag(s.annotation) OVER w AS pa,
                       lag(s.changed_by) OVER w AS pc
                FROM sv s
                JOIN win w ON s.series_id = w.series_id AND s.valid_time = w.valid_time
                          AND s.knowledge_time = w.mkt
                WINDOW w AS (PARTITION BY s.series_id, s.valid_time ORDER BY s.change_time)
            )
            SELECT series_id, valid_time, change_time, value, changed_by, annotation
            FROM chain
            WHERE first_marker IS NULL
               OR (value IS DISTINCT FROM pv OR annotation IS DISTINCT FROM pa
                   OR changed_by IS DISTINCT FROM pc)
        """,
        "bt_read_overlapping_changes": f"""
            WITH sv AS ({_SV}),
            chain AS (
                SELECT series_id, valid_time, knowledge_time, change_time, value, changed_by, annotation,
                       lag(1) OVER w AS first_marker,
                       lag(value) OVER w AS pv,
                       lag(annotation) OVER w AS pa,
                       lag(changed_by) OVER w AS pc
                FROM sv
                WINDOW w AS (PARTITION BY series_id, knowledge_time, valid_time ORDER BY change_time)
            )
            SELECT series_id, valid_time, knowledge_time, change_time, value, changed_by, annotation
            FROM chain
            WHERE first_marker IS NULL
               OR (value IS DISTINCT FROM pv OR annotation IS DISTINCT FROM pa
                   OR changed_by IS DISTINCT FROM pc)
        """,
        "bt_read_filtered": f"""
            WITH sv AS ({_SV}),
            scoped AS (
                SELECT * FROM sv
                WHERE series_id IN ({", ".join(str(s) for s in _FILT_SIDS)})
                  AND retention IN ('short', 'medium')
                  AND valid_time >= TIMESTAMP '2024-01-03 00:00:00'
                  AND valid_time <  TIMESTAMP '2024-01-28 00:00:00'
                  AND knowledge_time >= TIMESTAMP '2024-01-01 12:00:00'
            )
            SELECT series_id, valid_time, value FROM (
                SELECT series_id, valid_time, value,
                       row_number() OVER (PARTITION BY series_id, valid_time
                                          ORDER BY knowledge_time DESC, change_time DESC) AS rn
                FROM scoped
            ) t WHERE rn = 1
        """,
        # 6h windows anchored 2024-01-01, issue cutoff = window_start + 2h.
        # Cutoff epoch arithmetic mirrors bitemporal.relative_cutoff exactly
        # (whole-second window/offset).
        "bt_read_relative": f"""
            WITH sv AS ({_SV}),
            cut AS (
                SELECT *,
                       (epoch_us(TIMESTAMP '2024-01-01 00:00:00')//1000000
                        + ((epoch_us(valid_time)//1000000 - epoch_us(TIMESTAMP '2024-01-01 00:00:00')//1000000) // 21600) * 21600
                        + 7200) AS cutoff_s
                FROM sv
            ),
            f AS (SELECT * FROM cut WHERE epoch_us(knowledge_time) <= cutoff_s * 1000000)
            SELECT series_id, valid_time, value FROM (
                SELECT series_id, valid_time, value,
                       row_number() OVER (PARTITION BY series_id, valid_time
                                          ORDER BY knowledge_time DESC, change_time DESC) AS rn
                FROM f
            ) t WHERE rn = 1
        """,
        "bt_backtest_error": f"""
            WITH sv AS ({_SV}),
            cut AS (
                SELECT *,
                       (epoch_us(TIMESTAMP '2024-01-01 00:00:00')//1000000
                        + ((epoch_us(valid_time)//1000000 - epoch_us(TIMESTAMP '2024-01-01 00:00:00')//1000000) // 21600) * 21600
                        + 7200) AS cutoff_s
                FROM sv
            ),
            forecast AS (
                SELECT series_id, valid_time, value AS forecast FROM (
                    SELECT series_id, valid_time, value,
                           row_number() OVER (PARTITION BY series_id, valid_time
                                              ORDER BY knowledge_time DESC, change_time DESC) AS rn
                    FROM cut WHERE epoch_us(knowledge_time) <= cutoff_s * 1000000
                ) t WHERE rn = 1
            ),
            actual AS (
                SELECT series_id, valid_time, value AS actual FROM (
                    SELECT series_id, valid_time, value,
                           row_number() OVER (PARTITION BY series_id, valid_time
                                              ORDER BY knowledge_time DESC, change_time DESC) AS rn
                    FROM sv
                ) t WHERE rn = 1
            )
            -- floor(x*1e6+0.5)/1e6, not round(x,6): identical halfway mode
            -- as the Spark side (see backtest_error docstring)
            SELECT series_id,
                   count(*) AS n_points,
                   floor(CAST(sum(abs(err)) AS DOUBLE) / count(*) * 1e6 + 0.5) / 1e6 AS mae,
                   floor(sqrt(CAST(sum(err2) AS DOUBLE) / count(*)) * 1e6 + 0.5) / 1e6 AS rmse,
                   floor(CAST(sum(err) AS DOUBLE) / count(*) * 1e6 + 0.5) / 1e6 AS bias
            FROM (
                SELECT f.series_id,
                       CAST(floor((f.forecast - a.actual) * 1e6 + 0.5) / 1e6 AS DECIMAL(28,6)) AS err,
                       CAST(floor((f.forecast - a.actual) * (f.forecast - a.actual) * 1e6 + 0.5) / 1e6 AS DECIMAL(28,6)) AS err2
                FROM forecast f JOIN actual a
                  ON f.series_id = a.series_id AND f.valid_time = a.valid_time
            ) e
            GROUP BY series_id
        """,
        "bt_read_meta_scope": f"""
            WITH sv AS ({_SV}),
            meta AS ({_META_ORACLE}),
            m AS (
                SELECT * FROM meta
                WHERE (path = 'Grid/Z1' OR path LIKE 'Grid/Z1/%') AND data_type = 'actual'
            ),
            scoped AS (
                SELECT sv.* FROM sv
                WHERE sv.series_id IN (SELECT series_id FROM m)
                  AND sv.retention IN (SELECT DISTINCT retention FROM m)
            )
            SELECT series_id, valid_time, value FROM (
                SELECT series_id, valid_time, value,
                       row_number() OVER (PARTITION BY series_id, valid_time
                                          ORDER BY knowledge_time DESC, change_time DESC) AS rn
                FROM scoped
            ) t WHERE rn = 1
        """,
        "bt_run_series": """
            SELECT user_id AS series_id, event_id % 50 AS run_id, max(ts) AS first_seen
            FROM events
            GROUP BY user_id, event_id % 50
        """,
        "bt_write_skip_unchanged": f"""
            WITH sv AS ({_SV}),
            stored AS (SELECT * FROM sv WHERE (epoch_us(change_time)//1000000) % 2 = 0),
            incoming_all AS (SELECT * FROM sv WHERE (epoch_us(change_time)//1000000) % 2 = 1),
            incoming AS (
                SELECT series_id, valid_time, value FROM (
                    SELECT series_id, valid_time, value,
                           row_number() OVER (PARTITION BY series_id, valid_time
                                              ORDER BY knowledge_time DESC, change_time DESC) AS rn
                    FROM incoming_all
                ) t WHERE rn = 1
            ),
            latest_state AS (
                SELECT series_id, valid_time, stored_value FROM (
                    SELECT series_id, valid_time, value AS stored_value,
                           row_number() OVER (PARTITION BY series_id, valid_time
                                              ORDER BY knowledge_time DESC, change_time DESC) AS rn
                    FROM stored
                ) t WHERE rn = 1
            )
            SELECT i.series_id, i.valid_time, i.value
            FROM incoming i LEFT JOIN latest_state s
              ON i.series_id = s.series_id AND i.valid_time = s.valid_time
            WHERE s.stored_value IS NULL OR i.value IS DISTINCT FROM s.stored_value
        """,
        "bt_snapshot": f"""
            WITH sv AS ({_SV})
            SELECT series_id, valid_time, value FROM (
                SELECT series_id, valid_time, value,
                       row_number() OVER (PARTITION BY series_id, valid_time
                                          ORDER BY knowledge_time DESC, change_time DESC) AS rn
                FROM sv
                WHERE knowledge_time <= TIMESTAMP '2024-01-15 12:00:00'
            ) t WHERE rn = 1
        """,
        "bt_snapshot_diff": f"""
            WITH sv AS ({_SV}),
            s1 AS (
                SELECT series_id, valid_time, value AS value_t1, 1 AS in_t1 FROM (
                    SELECT series_id, valid_time, value,
                           row_number() OVER (PARTITION BY series_id, valid_time
                                              ORDER BY knowledge_time DESC, change_time DESC) AS rn
                    FROM sv WHERE knowledge_time <= TIMESTAMP '2024-01-10 00:00:00'
                ) t WHERE rn = 1
            ),
            s2 AS (
                SELECT series_id, valid_time, value AS value_t2 FROM (
                    SELECT series_id, valid_time, value,
                           row_number() OVER (PARTITION BY series_id, valid_time
                                              ORDER BY knowledge_time DESC, change_time DESC) AS rn
                    FROM sv WHERE knowledge_time <= TIMESTAMP '2024-01-20 00:00:00'
                ) t WHERE rn = 1
            )
            SELECT s2.series_id, s2.valid_time, s1.value_t1, s2.value_t2,
                   CASE WHEN s1.in_t1 IS NULL THEN 'added' ELSE 'changed' END AS change_kind
            FROM s2 LEFT JOIN s1
              ON s2.series_id = s1.series_id AND s2.valid_time = s1.valid_time
            WHERE s1.in_t1 IS NULL OR s2.value_t2 IS DISTINCT FROM s1.value_t1
        """,
        "bt_value_at": f"""
            WITH sv AS ({_SV})
            SELECT series_id, effective_valid_time, known_at, value FROM (
                SELECT series_id,
                       valid_time AS effective_valid_time,
                       knowledge_time AS known_at,
                       value,
                       row_number() OVER (PARTITION BY series_id
                                          ORDER BY valid_time DESC, knowledge_time DESC,
                                                   change_time DESC, value DESC) AS rn
                FROM sv
                WHERE valid_time <= TIMESTAMP '2024-01-15 12:00:00'
                  AND knowledge_time <= TIMESTAMP '2024-01-20 00:00:00'
            ) t WHERE rn = 1
        """,
        "bt_forecast_vintage": forecasting.forecast_vintage_sql(_SV),
        "bt_restatements": forecasting.restatements_sql(_SV),
        "bt_pinball_loss": forecasting.pinball_loss_sql(_SV),
        "bt_interval_at": f"""
            WITH sv AS ({INTERVAL_ORACLE_SQL}),
            covering AS (
                SELECT * FROM sv
                WHERE valid_time <= TIMESTAMP '2024-01-15 12:30:00'
                  AND valid_time_end > TIMESTAMP '2024-01-15 12:30:00'
            )
            SELECT series_id, valid_time, valid_time_end, value FROM (
                SELECT series_id, valid_time, valid_time_end, value,
                       row_number() OVER (PARTITION BY series_id
                                          ORDER BY valid_time DESC, knowledge_time DESC,
                                                   change_time DESC, value DESC) AS rn
                FROM covering
            ) t WHERE rn = 1
        """,
        "bt_interval_merge": f"""
            WITH sv AS ({INTERVAL_ORACLE_SQL}),
            iv AS (SELECT DISTINCT series_id, valid_time, valid_time_end FROM sv),
            m AS (
                SELECT series_id, valid_time, valid_time_end,
                       CASE WHEN max(valid_time_end) OVER wprev IS NULL
                              OR valid_time > max(valid_time_end) OVER wprev
                            THEN 1 ELSE 0 END AS ni
                FROM iv
                WINDOW wprev AS (PARTITION BY series_id
                                 ORDER BY valid_time, valid_time_end
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
            ),
            i AS (
                -- CAST: DuckDB widens the running integer sum to HUGEINT;
                -- Spark emits bigint and the gate's value hash is
                -- type-sensitive, so pin the oracle to BIGINT.
                SELECT *, CAST(sum(ni) OVER (PARTITION BY series_id
                                             ORDER BY valid_time, valid_time_end
                                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS island
                FROM m
            )
            SELECT series_id, island,
                   min(valid_time) AS span_start,
                   max(valid_time_end) AS span_end,
                   count(*) AS n_intervals
            FROM i GROUP BY series_id, island
        """,
        "tpch_q1": analytics.TPCH_Q1_SQL,
        "tpch_q3": analytics.TPCH_Q3_SQL,
        "tpch_q4": analytics.TPCH_Q4_SQL,
        "tpch_q5": analytics.TPCH_Q5_SQL,
        "tpch_q6": analytics.TPCH_Q6_SQL,
        "tpch_q10": analytics.TPCH_Q10_SQL,
        "tpch_q14": analytics.TPCH_Q14_SQL,
        "tpch_q18": analytics.TPCH_Q18_SQL,
        "tpch_q19": analytics.TPCH_Q19_SQL,
        "tpch_q22": analytics.TPCH_Q22_SQL,
        "basket_pairs": analytics.BASKET_PAIRS_SQL,
        "events_window_sliding": analytics.EVENTS_WINDOW_SLIDING_SQL,
        "tpch_q2": tpch_ext.TPCH_Q2_SQL,
        "tpch_q7": tpch_ext.TPCH_Q7_SQL,
        "tpch_q8": tpch_ext.TPCH_Q8_SQL,
        "tpch_q9": tpch_ext.TPCH_Q9_SQL,
        "tpch_q11": tpch_ext.TPCH_Q11_SQL,
        "tpch_q12": tpch_ext.TPCH_Q12_SQL,
        "tpch_q13": tpch_ext.TPCH_Q13_SQL,
        "tpch_q15": tpch_ext.TPCH_Q15_SQL,
        "tpch_q16": tpch_ext.TPCH_Q16_SQL,
        "tpch_q17": tpch_ext.TPCH_Q17_SQL,
        "tpch_q20": tpch_ext.TPCH_Q20_SQL,
        "tpch_q21": tpch_ext.TPCH_Q21_SQL,
        "events_window": analytics.EVENTS_WINDOW_SQL,
        "asof_join": analytics.ASOF_JOIN_SQL,
        "asof_forward": asof.ASOF_FORWARD_SQL,
        "asof_tolerance": asof.ASOF_TOLERANCE_SQL,
        "asof_nearest": asof.ASOF_NEAREST_SQL,
        "events_attribution": asof.ATTRIBUTION_SQL,
        "events_markov": analytics.EVENTS_MARKOV_SQL,
        "ts_theta": timeseries.THETA_SQL,
        "ts_kalman": timeseries.KALMAN_SQL,
        "ts_croston": timeseries.CROSTON_SQL,
        "ts_sax": timeseries.SAX_SQL,
        "events_survival": analytics.EVENTS_SURVIVAL_SQL,
        "graph_link_predict": analytics.GRAPH_LINK_PREDICT_SQL,
        "text_readability": text.TEXT_READABILITY_SQL,
        "dedup_spans": dedup.DEDUP_SPANS_SQL,
        "text_collocations": text.TEXT_COLLOCATIONS_SQL,
        "text_chunk": text.TEXT_CHUNK_SQL,
        "sample_weighted": sampling.SAMPLE_WEIGHTED_SQL,
        "ts_cusum": timeseries.CUSUM_SQL,
        "graph_label_prop": analytics.GRAPH_LABEL_PROP_SQL,
        "ts_mk_trend": timeseries.MK_TREND_SQL,
        "dedup_containment": dedup.DEDUP_CONTAINMENT_SQL,
        "ts_periodogram": timeseries.PERIODOGRAM_SQL,
        "ann_mmr": similarity.ANN_MMR_SQL,
        "ann_recall": similarity.ANN_RECALL_SQL,
        "events_entropy": analytics.EVENTS_ENTROPY_SQL,
        "ts_seasonal_strength": timeseries.SEASONAL_STRENGTH_SQL,
        "ts_hampel": timeseries.HAMPEL_SQL,
        "embed_outliers": similarity.EMBED_OUTLIERS_SQL,
        "events_lift": analytics.EVENTS_LIFT_SQL,
        "ts_perm_entropy": timeseries.PERMUTATION_ENTROPY_SQL,
        "ts_anomaly_resid": timeseries.ANOMALY_RESIDUAL_SQL,
        "dedup_report": dedup.DEDUP_REPORT_SQL,
        "text_novelty": text.TEXT_NOVELTY_SQL,
        "profile_sources": pipeline.PROFILE_SOURCES_SQL,
        "ts_backtest": timeseries.BACKTEST_MODELS_SQL,
        "ts_drawdown": timeseries.DRAWDOWN_SQL,
        "bt_audit": forecasting.bt_audit_sql(_SV),
        "graph_degree_profile": analytics.GRAPH_DEGREE_PROFILE_SQL,
        # shares the batch twin's oracle verbatim (the v2 sessionize/funnel
        # drain-contract pattern): the drained online fold equals ts_cusum.
        "stream_cusum_v2": timeseries.CUSUM_SQL,
        "events_interarrival": analytics.EVENTS_INTERARRIVAL_SQL,
        "ts_pi_naive": timeseries.PI_NAIVE_SQL,
        "sample_temperature": sampling.SAMPLE_TEMPERATURE_SQL,
        "text_zipf": text.TEXT_ZIPF_SQL,
        "events_gini": analytics.EVENTS_GINI_SQL,
        "ts_hurst": timeseries.HURST_SQL,
        "ts_runs_test": timeseries.RUNS_TEST_SQL,
        "ts_rsi": timeseries.RSI_SQL,
        "ts_bollinger": timeseries.BOLLINGER_SQL,
        "ts_ljung_box": timeseries.LJUNG_BOX_SQL,
        "ts_spectral_entropy": timeseries.SPECTRAL_ENTROPY_SQL,
        "bt_knowledge_lag": forecasting.bt_knowledge_lag_sql(_SV),
        "graph_kcore": analytics.GRAPH_KCORE_SQL,
        "embed_isotropy": similarity.EMBED_ISOTROPY_SQL,
        "multimodal_phash": multimodal.MULTIMODAL_PHASH_SQL,
        "sample_dedup_aware": sampling.sample_dedup_aware_sql(dedup.DEDUP_CLUSTERS_SQL),
        "ts_anomaly_online": timeseries.ANOMALY_ONLINE_SQL,
        # the stream twin shares the batch recursion's oracle verbatim
        "stream_anomaly_v2": timeseries.ANOMALY_ONLINE_SQL,
        "text_diversity": text.TEXT_DIVERSITY_SQL,
        "events_time_to_convert": analytics.EVENTS_TIME_TO_CONVERT_SQL,
        "bt_staleness": forecasting.bt_staleness_sql(_SV),
        "ts_pacf": timeseries.PACF_SQL,
        "embed_cluster_purity": similarity.EMBED_CLUSTER_PURITY_SQL,
        "dedup_lsh_tuning": dedup.DEDUP_LSH_TUNING_SQL,
        "pipeline_dq_rules": pipeline.PIPELINE_DQ_RULES_SQL,
        "events_seasonality": analytics.EVENTS_SEASONALITY_SQL,
        "ts_ccf": timeseries.CCF_SQL,
        "bt_revision_latency": forecasting.bt_revision_latency_sql(_SV),
        "ts_macd": timeseries.MACD_SQL,
        "ts_sharpe": timeseries.SHARPE_SQL,
        "ts_benford": timeseries.BENFORD_SQL,
        "ts_adf": timeseries.ADF_SQL,
        "ts_var_es": timeseries.VAR_ES_SQL,
        "graph_modularity": analytics.GRAPH_MODULARITY_SQL,
        "graph_clustering": analytics.GRAPH_CLUSTERING_SQL,
        "events_srm": analytics.EVENTS_SRM_SQL,
        "ann_filtered": similarity.ANN_FILTERED_SQL,
        "embed_centroid_drift": similarity.EMBED_CENTROID_DRIFT_SQL,
        "text_code_detect": text.TEXT_CODE_DETECT_SQL,
        "bt_coverage": f"""
            WITH sv AS ({INTERVAL_ORACLE_SQL}),
            iv AS (SELECT DISTINCT series_id, valid_time, valid_time_end FROM sv),
            m AS (
                SELECT series_id, valid_time, valid_time_end,
                       CASE WHEN max(valid_time_end) OVER wprev IS NULL
                              OR valid_time > max(valid_time_end) OVER wprev
                            THEN 1 ELSE 0 END AS ni
                FROM iv
                WINDOW wprev AS (PARTITION BY series_id
                                 ORDER BY valid_time, valid_time_end
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
            ),
            i AS (
                SELECT *, CAST(sum(ni) OVER (PARTITION BY series_id
                                             ORDER BY valid_time, valid_time_end
                                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS island
                FROM m
            ),
            spans AS (
                SELECT series_id, island,
                       min(valid_time) AS span_start,
                       max(valid_time_end) AS span_end,
                       count(*) AS n_intervals
                FROM i GROUP BY series_id, island
            ),
            gaps AS (
                SELECT series_id, n_intervals,
                       epoch_us(span_start) AS s_us, epoch_us(span_end) AS e_us,
                       epoch_us(span_start)
                       - lag(epoch_us(span_end)) OVER (PARTITION BY series_id ORDER BY span_start) AS gap_us
                FROM spans
            ),
            g AS (
                SELECT series_id,
                       CAST(count(*) AS BIGINT) AS n_spans,
                       CAST(sum(n_intervals) AS BIGINT) AS n_intervals,
                       CAST(sum(e_us - s_us) AS BIGINT) AS covered_us,
                       CAST(min(s_us) AS BIGINT) AS first_us,
                       CAST(max(e_us) AS BIGINT) AS last_us,
                       CAST(max(coalesce(gap_us, 0)) AS BIGINT) AS largest_gap_us
                FROM gaps GROUP BY series_id
            )
            SELECT series_id, n_spans, n_intervals, covered_us, largest_gap_us,
                   floor(CAST(covered_us AS DOUBLE)
                         / CAST(last_us - first_us AS DOUBLE) * 1e6) / 1e6 AS coverage_ratio
            FROM g
        """,
        "ts_motif": timeseries.SAX_MOTIF_SQL,
        "embed_index_stats": similarity.EMBED_INDEX_STATS_SQL,
        "events_power": analytics.EVENTS_POWER_SQL,
        "events_anomaly_daily": analytics.EVENTS_ANOMALY_DAILY_SQL,
        "events_markov_stationary": analytics.EVENTS_MARKOV_STATIONARY_SQL,
        "graph_assortativity": analytics.GRAPH_ASSORTATIVITY_SQL,
        "sample_kcenter": sampling.SAMPLE_KCENTER_SQL,
        "ts_forecast_ensemble": timeseries.FORECAST_ENSEMBLE_SQL,
        "pipeline_dataset_card": pipeline.PIPELINE_DATASET_CARD_SQL,
        "events_ltv": analytics.EVENTS_LTV_SQL,
        "ts_granger": timeseries.GRANGER_SQL,
        "embed_knn_graph": similarity.EMBED_KNN_GRAPH_SQL,
        "ts_load_curve": timeseries.LOAD_CURVE_SQL,
        "events_dau": analytics.EVENTS_DAU_SQL,
        "ts_peak_detect": timeseries.PEAK_DETECT_SQL,
        "dedup_winnowing": dedup.DEDUP_WINNOWING_SQL,
        "ts_missingness": timeseries.MISSINGNESS_SQL,
        "ts_arch_test": timeseries.ARCH_TEST_SQL,
        "multimodal_audio_hash": multimodal.MULTIMODAL_AUDIO_HASH_SQL,
        "contamination_semantic": pipeline.CONTAMINATION_SEMANTIC_SQL,
        "text_instruction_detect": text.TEXT_INSTRUCTION_DETECT_SQL,
        "ts_dist_drift": timeseries.DIST_DRIFT_SQL,
        "train_split_temporal": sampling.TRAIN_SPLIT_TEMPORAL_SQL,
        "events_abtest": analytics.EVENTS_ABTEST_SQL,
        "profile_drift": pipeline.PROFILE_DRIFT_SQL,
        "events_paths": analytics.EVENTS_PATHS_SQL,
        "graph_triangles": analytics.GRAPH_TRIANGLES_SQL,
        "events_json": analytics.EVENTS_JSON_SQL,
        "graph_pagerank": analytics.GRAPH_PAGERANK_SQL,
        "events_pivot": analytics.EVENTS_PIVOT_SQL,
        "events_rank": analytics.EVENTS_RANK_SQL,
        "events_funnel": funnel.EVENTS_FUNNEL_SQL,
        "text_tokens": text.TEXT_TOKENS_SQL,
        "text_quality": text.TEXT_QUALITY_SQL,
        "text_langid": text.TEXT_LANGID_SQL,
        "text_fingerprint": text.TEXT_FINGERPRINT_SQL,
        "text_tfidf": text.TEXT_TFIDF_SQL,
        "text_repetition": text.TEXT_REPETITION_SQL,
        "text_pii": text.TEXT_PII_SQL,
        "text_boilerplate": text.TEXT_BOILERPLATE_SQL,
        "text_vocab": text.TEXT_VOCAB_SQL,
        "events_rfm": analytics.EVENTS_RFM_SQL,
        "ann_range": similarity.ANN_RANGE_SQL,
        # embed_pca: rows-only — eigendecomposition has no SQL oracle;
        # pinned against a numpy full recompute in tests/test_similarity.py.
        "dedup_exact": dedup.DEDUP_EXACT_SQL,
        "dedup_ngram_jaccard": dedup.DEDUP_NGRAM_SQL,
        "dedup_minhash": dedup.DEDUP_MINHASH_SQL,
        "dedup_simhash": dedup.DEDUP_SIMHASH_SQL,
        "dedup_embedding": dedup.DEDUP_EMBEDDING_SQL,
        "dedup_editdist": dedup.DEDUP_EDITDIST_SQL,
        "contamination_check": pipeline.CONTAMINATION_SQL,
        "dedup_clusters": dedup.DEDUP_CLUSTERS_SQL,
        "pipeline_clean": pipeline.PIPELINE_CLEAN_SQL,
        "profile_table": pipeline.PROFILE_TABLE_SQL,
        "sample_stratified": sampling.SAMPLE_STRATIFIED_SQL,
        "sample_mix": sampling.SAMPLE_MIX_SQL,
        "train_split": sampling.TRAIN_SPLIT_SQL,
        "shard_assign": sampling.SHARD_ASSIGN_SQL,
        "pack_documents": sampling.PACK_DOCUMENTS_SQL,
        "ann_bruteforce": similarity.ANN_BRUTEFORCE_SQL,
        "ann_ivf": similarity.ANN_IVF_SQL,
        "ann_pq": similarity.ANN_PQ_SQL,
        "ann_lsh": similarity.ANN_LSH_SQL,
        "ann_hybrid": similarity.ANN_HYBRID_SQL,
        "embed_quantize": similarity.EMBED_QUANTIZE_GATE_SQL,
        "embed_kmeans": similarity.EMBED_KMEANS_SQL,
        # Store metadata ops: the store holds exactly bitemporal_frame(events)
        # rows, so footer-derived stats are recomputable by scanning the same
        # derivation in SQL (footer zone maps are exact for int64/timestamp).
        "partition_stats": f"""
            WITH sv AS ({_SV})
            SELECT retention, strftime(valid_time, '%Y%m') AS vt_month,
                   CAST(count(*) AS BIGINT) AS n_rows,
                   min(series_id) AS series_id_min, max(series_id) AS series_id_max,
                   strftime(min(valid_time), '%Y-%m-%d %H:%M:%S') AS valid_time_min,
                   strftime(max(valid_time), '%Y-%m-%d %H:%M:%S') AS valid_time_max
            FROM sv GROUP BY retention, strftime(valid_time, '%Y%m')
        """,
        "fast_count": f"""
            WITH sv AS ({_SV})
            SELECT 'footer_only' AS mode, CAST(count(*) AS BIGINT) AS cnt
            FROM sv WHERE retention IN ('short', 'long')
            UNION ALL
            SELECT 'edge_scan' AS mode, CAST(count(*) AS BIGINT) AS cnt
            FROM sv WHERE retention IN ('short', 'medium')
              AND valid_time >= TIMESTAMP '2024-01-15 00:00:00'
        """,
        # Time travel: the version pinned after commit 1 sees exactly the
        # even-series_id half; latest sees everything. Recompute both from
        # the same events derivation.
        "snap_time_travel": f"""
            WITH sv AS ({_SV}),
            lab AS (
                SELECT 'v_first' AS snap, retention, valid_time, value
                FROM sv WHERE series_id % 2 = 0
                UNION ALL
                SELECT 'latest' AS snap, retention, valid_time, value FROM sv
            )
            SELECT snap, retention,
                   CAST(count(*) AS BIGINT) AS n_rows,
                   min(valid_time) AS vt_min,
                   max(valid_time) AS vt_max,
                   CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS value_cents
            FROM lab GROUP BY snap, retention
        """,
        # compaction invariance: pre- and post-compaction fingerprints are
        # BOTH the same recompute from the events derivation — compaction
        # may only change physical layout, never any of these aggregates.
        "store_compact_zorder": f"""
            WITH sv AS ({_SV}),
            agg AS (
                SELECT retention, strftime(valid_time, '%Y%m') AS vt_month,
                       CAST(count(*) AS BIGINT) AS n_rows,
                       min(series_id) AS series_id_min, max(series_id) AS series_id_max,
                       strftime(min(valid_time), '%Y-%m-%d %H:%M:%S') AS valid_time_min,
                       strftime(max(valid_time), '%Y-%m-%d %H:%M:%S') AS valid_time_max,
                       CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS value_cents
                FROM sv GROUP BY retention, strftime(valid_time, '%Y%m')
            )
            SELECT 'pre' AS phase, * FROM agg
            UNION ALL
            SELECT 'post' AS phase, * FROM agg
        """,
        # TTL sweep: 'post' keeps exactly the partitions the store's
        # survival predicate keeps — forever always, else last day of the
        # vt_month + the tier's TTL days must be on/after the pinned today
        # (2026-06-01). The oracle re-derives the predicate from vt_month
        # text, independent of the store's directory walk.
        "store_retention_ttl": f"""
            WITH sv AS ({_SV}),
            agg AS (
                SELECT retention, strftime(valid_time, '%Y%m') AS vt_month,
                       CAST(count(*) AS BIGINT) AS n_rows,
                       min(series_id) AS series_id_min, max(series_id) AS series_id_max,
                       strftime(min(valid_time), '%Y-%m-%d %H:%M:%S') AS valid_time_min,
                       strftime(max(valid_time), '%Y-%m-%d %H:%M:%S') AS valid_time_max,
                       CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS value_cents
                FROM sv GROUP BY retention, strftime(valid_time, '%Y%m')
            )
            SELECT 'pre' AS phase, * FROM agg
            UNION ALL
            SELECT 'post' AS phase, * FROM agg
            WHERE retention = 'forever'
               OR (CAST(strptime(vt_month || '01', '%Y%m%d') AS DATE)
                   + INTERVAL 1 MONTH - INTERVAL 1 DAY
                   + to_days({_ttl_days_case_sql()}))
                  >= DATE '2026-06-01'
        """,
        # Series erasure: 'post' keeps every row whose series_id is not in
        # the fixed literal target set (ids ≡ 3 mod 7 below 100); groups and
        # bounds are recomputed from survivors on both engines.
        "store_delete_series": f"""
            WITH sv AS ({_SV}),
            agg_pre AS (
                SELECT retention, strftime(valid_time, '%Y%m') AS vt_month,
                       CAST(count(*) AS BIGINT) AS n_rows,
                       min(series_id) AS series_id_min, max(series_id) AS series_id_max,
                       strftime(min(valid_time), '%Y-%m-%d %H:%M:%S') AS valid_time_min,
                       strftime(max(valid_time), '%Y-%m-%d %H:%M:%S') AS valid_time_max,
                       CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS value_cents
                FROM sv GROUP BY retention, strftime(valid_time, '%Y%m')
            ),
            agg_post AS (
                SELECT retention, strftime(valid_time, '%Y%m') AS vt_month,
                       CAST(count(*) AS BIGINT) AS n_rows,
                       min(series_id) AS series_id_min, max(series_id) AS series_id_max,
                       strftime(min(valid_time), '%Y-%m-%d %H:%M:%S') AS valid_time_min,
                       strftime(max(valid_time), '%Y-%m-%d %H:%M:%S') AS valid_time_max,
                       CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS value_cents
                FROM sv
                WHERE series_id NOT IN ({", ".join(str(t) for t in _DELETE_TARGETS)})
                GROUP BY retention, strftime(valid_time, '%Y%m')
            )
            SELECT 'pre' AS phase, * FROM agg_pre
            UNION ALL
            SELECT 'post' AS phase, * FROM agg_post
        """,
        # Landing ingestion: good rows (per-retention counts + exact cent
        # sums read back from the store) and the quarantine (per-reason
        # counts from the ingester's reject frame) must both equal the
        # oracle's independent prediction from the modular corruption
        # classes (event_id % 13: 0 bad_value, 1 offset-less timestamp,
        # 2 bad_retention, 3 bad_series_id; else clean).
        "store_landing_ingest": """
            WITH cls AS (
                SELECT event_id % 13 AS m, user_id, ts, value,
                       CASE event_type
                           WHEN 'click'    THEN 'short'
                           WHEN 'view'     THEN 'short'
                           WHEN 'purchase' THEN 'long'
                           WHEN 'signup'   THEN 'forever'
                           ELSE 'medium'
                       END AS retention
                FROM events
            )
            SELECT 'store' AS phase, retention AS key,
                   CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS value_cents
            FROM cls WHERE m NOT IN (0, 1, 2, 3) GROUP BY retention
            UNION ALL
            SELECT 'quarantine' AS phase,
                   CASE m WHEN 0 THEN 'bad_value'
                          WHEN 1 THEN 'bad_valid_time_or_no_offset'
                          WHEN 2 THEN 'bad_retention'
                          WHEN 3 THEN 'bad_series_id' END AS key,
                   CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(0 AS BIGINT) AS value_cents
            FROM cls WHERE m IN (0, 1, 2, 3) GROUP BY m
        """,
        # Streaming exactly-once ingestion: the stream-drained store (after
        # a checkpoint restart AND a forced txn replay, both asserted no-ops
        # in materialization) must equal the source frame read ONCE — a
        # lost micro-batch or a surviving duplicate moves n_rows and cents.
        "stream_ingest_once": f"""
            WITH sv AS ({_SV})
            SELECT retention, strftime(valid_time, '%Y%m') AS vt_month,
                   CAST(count(*) AS BIGINT) AS n_rows,
                   min(series_id) AS series_id_min, max(series_id) AS series_id_max,
                   strftime(min(valid_time), '%Y-%m-%d %H:%M:%S') AS valid_time_min,
                   strftime(max(valid_time), '%Y-%m-%d %H:%M:%S') AS valid_time_max,
                   CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS value_cents
            FROM sv GROUP BY retention, strftime(valid_time, '%Y%m')
        """,
        # Vacuum is a pure physical-history operation: the visible rows are
        # identical before and after, so both phases share one recompute.
        "snap_vacuum": f"""
            WITH sv AS ({_SV}),
            agg AS (
                SELECT retention, CAST(count(*) AS BIGINT) AS n_rows,
                       strftime(min(valid_time), '%Y-%m-%d %H:%M:%S') AS vt_min,
                       strftime(max(valid_time), '%Y-%m-%d %H:%M:%S') AS vt_max,
                       CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS value_cents
                FROM sv GROUP BY retention
            )
            SELECT 'pre' AS phase, * FROM agg
            UNION ALL
            SELECT 'post' AS phase, * FROM agg
        """,
        # The write path's validation contract: every known-bad attempt
        # raises ValueError with the documented message.
        "client_write_validation": """
            SELECT * FROM (VALUES
                ('missing_columns',          'ValueError', TRUE),
                ('ambiguous_retention',      'ValueError', TRUE),
                ('bad_retention_kwarg',      'ValueError', TRUE),
                ('bad_retention_column',     'ValueError', TRUE),
                ('ambiguous_knowledge_time', 'ValueError', TRUE),
                ('bad_unchanged_scope',      'ValueError', TRUE),
                ('naive_pandas_timestamp',   'ValueError', TRUE),
                ('txn_on_directory_store',   'ValueError', TRUE),
                ('bad_table_format',         'ValueError', TRUE)
            ) AS t(check_name, error, message_ok)
        """,
        # Null sentinel roundtrip: storage sees the planted set as NaN
        # (zero NULLs), every client readback sees it as NULL again (zero
        # NaNs) — the winning revisions per collapse keyed exactly as the
        # bt_read_latest / bt_read_overlapping oracles.
        "client_null_sentinel": f"""
            WITH sv0 AS ({_SV}),
            sv AS (
                SELECT series_id, valid_time, knowledge_time, change_time, retention,
                       CASE WHEN (series_id + extract(hour FROM valid_time)) % 7 = 3
                            THEN NULL ELSE value END AS value
                FROM sv0
                WHERE series_id < 1500
            ),
            lat AS (
                SELECT value FROM (
                    SELECT value,
                           row_number() OVER (PARTITION BY series_id, valid_time
                                              ORDER BY knowledge_time DESC, change_time DESC) AS rn
                    FROM sv
                ) t WHERE rn = 1
            ),
            ovl AS (
                SELECT value FROM (
                    SELECT value,
                           row_number() OVER (PARTITION BY series_id, valid_time, knowledge_time
                                              ORDER BY change_time DESC) AS rn
                    FROM sv
                ) t WHERE rn = 1
            )
            SELECT 'storage' AS phase, retention AS key,
                   CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(0 AS BIGINT) AS n_null,
                   CAST(count(*) FILTER (WHERE value IS NULL) AS BIGINT) AS n_nan,
                   CAST(coalesce(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)), 0) AS BIGINT) AS value_cents
            FROM sv GROUP BY retention
            UNION ALL
            SELECT 'latest' AS phase, 'all' AS key,
                   CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(count(*) FILTER (WHERE value IS NULL) AS BIGINT) AS n_null,
                   CAST(0 AS BIGINT) AS n_nan,
                   CAST(coalesce(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)), 0) AS BIGINT) AS value_cents
            FROM lat
            UNION ALL
            SELECT 'overlapping' AS phase, 'all' AS key,
                   CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(count(*) FILTER (WHERE value IS NULL) AS BIGINT) AS n_null,
                   CAST(0 AS BIGINT) AS n_nan,
                   CAST(coalesce(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)), 0) AS BIGINT) AS value_cents
            FROM ovl
        """,
        # Continuous aggregate: the materialized hourly state re-rolled to
        # (series, day) must equal a direct recompute from the source rows —
        # count, exact cent sum via the decimal partials, min, max.
        "rollup_continuous_agg": f"""
            WITH sv AS ({_SV})
            SELECT series_id,
                   strftime(valid_time, '%Y-%m-%d') AS day,
                   CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(sum(CAST(value AS DECIMAL(38,6))) * 100 AS BIGINT) AS value_cents,
                   min(value) AS vmin,
                   max(value) AS vmax
            FROM sv
            GROUP BY series_id, strftime(valid_time, '%Y-%m-%d')
        """,
        # Bitemporal rollup: the materialized latest-collapsed state
        # re-rolled to (series, day) must equal a direct latest-collapse
        # recompute — n counts valid times (winners), never revisions.
        "rollup_bitemporal_agg": f"""
            WITH sv AS ({_SV}),
            win AS (
                SELECT series_id, valid_time, value FROM (
                    SELECT series_id, valid_time, value,
                           row_number() OVER (PARTITION BY series_id, valid_time
                                              ORDER BY knowledge_time DESC, change_time DESC) AS rn
                    FROM sv
                ) t WHERE rn = 1
            )
            SELECT series_id,
                   strftime(valid_time, '%Y-%m-%d') AS day,
                   CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(sum(CAST(value AS DECIMAL(38,6))) * 100 AS BIGINT) AS value_cents,
                   min(value) AS vmin,
                   max(value) AS vmax
            FROM win
            GROUP BY series_id, strftime(valid_time, '%Y-%m-%d')
        """,
        "bt_pit_features": forecasting.pit_features_sql(_SV),
        # r12 earned composition: the PIT matrix + per-series temporal
        # holdout — row-level split labels, so the oracle re-derives the
        # full assignment (same ceil(n/5) tail + min-obs floor as
        # train_split_temporal).
        "pit_train_split": forecasting.pit_train_split_sql(_SV),
        # PIT backtest over the bitemporal rollup: actuals = the hourly
        # latest-collapse state; forecast = the 24h-lagged bucket's winner
        # sum using only revisions known at the target's noon-prev-day
        # cutoff. Scores are exact cent integers; unscored days COALESCE
        # to 0 on both engines (n_scored says which). Cent rounding is
        # EXPLICIT round-half-away-from-zero on both engines (ADVICE r11):
        # Spark F.round is HALF_UP and DuckDB's round()/decimal→BIGINT cast
        # both round ties away from zero (2.5→3, -2.5→-3; cross-engine
        # half-cent pin: tests/test_forecasting.py).
        "rollup_pit_backtest": f"""
            WITH sv AS ({_SV}),
            state AS (
                SELECT series_id, date_trunc('hour', valid_time) AS bucket,
                       CAST(round(sum(CAST(value AS DECIMAL(38,6))) * 100, 0) AS BIGINT) AS actual_cents
                FROM (
                    SELECT series_id, valid_time, value,
                           row_number() OVER (PARTITION BY series_id, valid_time
                                              ORDER BY knowledge_time DESC, change_time DESC) AS rn
                    FROM sv
                ) t WHERE rn = 1
                GROUP BY series_id, date_trunc('hour', valid_time)
            ),
            fc AS (
                SELECT series_id, bucket,
                       CAST(round(sum(CAST(pit_v AS DECIMAL(38,6))) * 100, 0) AS BIGINT) AS fc_cents
                FROM (
                    SELECT g.series_id, g.bucket, s.valid_time, s.value AS pit_v,
                           row_number() OVER (PARTITION BY g.series_id, g.bucket, s.valid_time
                                              ORDER BY s.knowledge_time DESC, s.change_time DESC) AS rn
                    FROM (SELECT series_id, bucket,
                                 date_trunc('day', bucket) - to_hours(12) AS cutoff
                          FROM state) g
                    JOIN sv s ON s.series_id = g.series_id
                             AND date_trunc('hour', s.valid_time) = g.bucket - to_hours(24)
                    WHERE s.knowledge_time <= g.cutoff
                ) t WHERE rn = 1
                GROUP BY series_id, bucket
            )
            SELECT st.series_id, strftime(st.bucket, '%Y-%m-%d') AS day,
                   CAST(count(*) AS BIGINT) AS n_buckets,
                   CAST(count(fc.fc_cents) AS BIGINT) AS n_scored,
                   CAST(COALESCE(sum(abs(fc.fc_cents - st.actual_cents)), 0) AS BIGINT) AS err_cents,
                   CAST(COALESCE(sum(fc.fc_cents - st.actual_cents), 0) AS BIGINT) AS bias_cents
            FROM state st
            LEFT JOIN fc ON fc.series_id = st.series_id AND fc.bucket = st.bucket
            GROUP BY st.series_id, strftime(st.bucket, '%Y-%m-%d')
        """,
        # TTL-then-refresh: 'pre' latest-collapses the full revision set,
        # 'post' latest-collapses ONLY the TTL survivors (the store's
        # last-day-of-month + tier-TTL predicate at the pinned today) —
        # dropping a tier can hand the win to an older surviving revision
        # of the same (series, valid_time), so post is a re-collapse, not
        # a filter of pre.
        "rollup_retention_refresh": f"""
            WITH sv AS ({_SV}),
            surv AS (
                SELECT * FROM sv
                WHERE retention = 'forever'
                   OR (CAST(strptime(strftime(valid_time, '%Y%m') || '01', '%Y%m%d') AS DATE)
                       + INTERVAL 1 MONTH - INTERVAL 1 DAY
                       + to_days({_ttl_days_case_sql()}))
                      >= DATE '2026-06-01'
            ),
            pre_state AS (
                SELECT series_id, date_trunc('hour', valid_time) AS bucket,
                       count(*) AS n, sum(CAST(value AS DECIMAL(38,6))) AS vsum,
                       min(value) AS vmin, max(value) AS vmax
                FROM (
                    SELECT series_id, valid_time, value,
                           row_number() OVER (PARTITION BY series_id, valid_time
                                              ORDER BY knowledge_time DESC, change_time DESC) AS rn
                    FROM sv
                ) t WHERE rn = 1
                GROUP BY series_id, date_trunc('hour', valid_time)
            ),
            post_state AS (
                SELECT series_id, date_trunc('hour', valid_time) AS bucket,
                       count(*) AS n, sum(CAST(value AS DECIMAL(38,6))) AS vsum,
                       min(value) AS vmin, max(value) AS vmax
                FROM (
                    SELECT series_id, valid_time, value,
                           row_number() OVER (PARTITION BY series_id, valid_time
                                              ORDER BY knowledge_time DESC, change_time DESC) AS rn
                    FROM surv
                ) t WHERE rn = 1
                GROUP BY series_id, date_trunc('hour', valid_time)
            )
            SELECT 'pre' AS phase, strftime(bucket, '%Y-%m-%d') AS day,
                   CAST(count(*) AS BIGINT) AS n_buckets,
                   CAST(sum(n) AS BIGINT) AS n_rows,
                   CAST(sum(vsum) * 100 AS BIGINT) AS value_cents,
                   CAST(min(CAST(CAST(vmin AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS vmin_cents,
                   CAST(max(CAST(CAST(vmax AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS vmax_cents
            FROM pre_state GROUP BY strftime(bucket, '%Y-%m-%d')
            UNION ALL
            SELECT 'post' AS phase, strftime(bucket, '%Y-%m-%d') AS day,
                   CAST(count(*) AS BIGINT) AS n_buckets,
                   CAST(sum(n) AS BIGINT) AS n_rows,
                   CAST(sum(vsum) * 100 AS BIGINT) AS value_cents,
                   CAST(min(CAST(CAST(vmin AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS vmin_cents,
                   CAST(max(CAST(CAST(vmax AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS vmax_cents
            FROM post_state GROUP BY strftime(bucket, '%Y-%m-%d')
        """,
        "dedup_semantic": similarity.DEDUP_SEMANTIC_SQL,
        "multimodal_meta": multimodal.MULTIMODAL_META_SQL,
        "multimodal_decode": multimodal.DECODE_FEATURES_SQL,
        "multimodal_audio": multimodal.AUDIO_FEATURES_SQL,
        # frame k of doc d = bytes [k*w*3, (k+1)*w*3) of the md5-hex
        # keystream body (attach_payload's JVM expression, magic skipped).
        "multimodal_video": """
            WITH meta AS (
                SELECT doc_id,
                       (8 + doc_id % 9) AS width,
                       (8 + (doc_id // 3) % 7) AS height
                FROM documents
            ), body AS (
                SELECT doc_id, width, height,
                       substring(
                           repeat(md5(CAST(doc_id AS VARCHAR)),
                                  CAST((width*height*3) // 32 + 1 AS INT)),
                           1, width*height*3) AS body
                FROM meta
            ), frames AS (
                SELECT doc_id, width, body,
                       unnest(generate_series(0, height-1, 4)) AS frame_idx
                FROM body
            )
            SELECT doc_id,
                   CAST(frame_idx AS INT) AS frame_idx,
                   substring(body, frame_idx*width*3 + 1, width*3) AS frame
            FROM frames
        """,
        "ts_resample_locf": timeseries.RESAMPLE_LOCF_SQL,
        "ts_interpolate_linear": timeseries.INTERPOLATE_SQL,
        "ts_rollup_multires": timeseries.ROLLUP_MULTIRES_SQL,
        "ts_sessionize": timeseries.SESSIONIZE_SQL,
        "events_session_window": timeseries.SESSION_WINDOW_SQL,
        "text_script": text.TEXT_SCRIPT_SQL,
        "text_lm_score": text.TEXT_LM_SCORE_SQL,
        "ts_range_join": timeseries.RANGE_JOIN_SQL,
        "ts_topk_users": timeseries.TOPK_USERS_SQL,
        "ts_quantiles": timeseries.QUANTILES_SQL,
        "ts_ohlc": timeseries.OHLC_SQL,
        "ts_moving_stats": timeseries.MOVING_STATS_SQL,
        "ts_anomaly_zscore": timeseries.ANOMALY_ZSCORE_SQL,
        "ts_anomaly_mad": timeseries.MAD_ANOMALY_SQL,
        "ts_gap_detect": timeseries.GAP_DETECT_SQL,
        "ts_corr": timeseries.CORR_MATRIX_SQL,
        "ts_autocorr": timeseries.AUTOCORR_SQL,
        "ts_seasonal_naive": timeseries.SEASONAL_NAIVE_SQL,
        "ts_histogram": timeseries.VALUE_HISTOGRAM_SQL,
        "ts_ewma": timeseries.EWMA_SQL,
        "ts_holt": timeseries.HOLT_SQL,
        "ts_holt_winters": timeseries.HOLT_WINTERS_SQL,
        "ts_lttb": timeseries.LTTB_SQL,
        # ts_holt_winters: rows-only (full-series sequential recursion in
        # applyInPandas; python recompute + seasonality tests)
        "ts_rate": timeseries.COUNTER_RATE_SQL,
        "events_cohort": timeseries.RETENTION_COHORT_SQL,
        "ts_m4": timeseries.M4_SQL,
        "ts_decompose": timeseries.SEASONAL_DECOMPOSE_SQL,
        "ts_calendar_features": forecasting.CALENDAR_FEATURES_SQL,
        "ts_changepoint": forecasting.CHANGEPOINT_SQL,
        "stream_window": analytics.EVENTS_WINDOW_SQL,
        "stream_dedup": r"""
            SELECT count(DISTINCT md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g')))) AS n_unique_docs
            FROM documents
        """,
        "stream_latest_state": f"""
            WITH sv AS ({_SV})
            SELECT series_id, valid_time, value FROM (
                SELECT series_id, valid_time, value,
                       row_number() OVER (PARTITION BY series_id, valid_time
                                          ORDER BY knowledge_time DESC, change_time DESC) AS rn
                FROM sv
            ) t WHERE rn = 1
        """,
        # per-SERIES argmax (valid_time is the winning row's payload) — the
        # entity-level keying the v2 protocol economics call for; the
        # per-(series, hour) collapse is stream_latest_state's oracle above.
        "stream_latest_state_v2": f"""
            WITH sv AS ({_SV})
            SELECT series_id, valid_time, value FROM (
                SELECT series_id, valid_time, value,
                       row_number() OVER (PARTITION BY series_id
                                          ORDER BY knowledge_time DESC, change_time DESC) AS rn
                FROM sv
            ) t WHERE rn = 1
        """,
        # Emitted sessions of one availableNow drain: closed by data
        # (not the user's last session) OR timed out by the final watermark
        # (end + gap behind max event time, at ms resolution).
        "stream_sessionize": """
            WITH g AS (
                SELECT user_id, event_id, ts, value,
                       CASE WHEN lag(ts) OVER w IS NULL
                              OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 30*60*1000000
                            THEN 1 ELSE 0 END AS new_sess
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ),
            s AS (
                SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                              ROWS UNBOUNDED PRECEDING) AS session_seq
                FROM g
            ),
            agg AS (
                SELECT user_id, session_seq,
                       min(ts) AS session_start, max(ts) AS session_end,
                       count(*) AS n_events,
                       round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_value
                FROM s GROUP BY user_id, session_seq
            ),
            m AS (
                SELECT *, max(session_seq) OVER (PARTITION BY user_id) AS mx FROM agg
            ),
            wm AS (SELECT epoch_us(max(ts)) // 1000 AS wm_ms FROM events)
            SELECT user_id, session_start, session_end, n_events, sum_value
            FROM m, wm
            WHERE session_seq < mx
               OR (epoch_us(session_end) + 30*60*1000000) // 1000 < wm_ms
        """,
        "stream_join": STREAM_JOIN_SQL,
        "stream_join_ordered": STREAM_JOIN_SQL,
        # Drain contract: depth-3 funnels always emit (purchase arrival);
        # depth-1/2 emit once click+horizon is behind the final watermark.
        "stream_funnel": """
            WITH clicks AS (
                SELECT event_id AS click_id, user_id, ts AS ct FROM events
                WHERE event_type = 'click'
            ),
            v1 AS (
                SELECT click_id, user_id, ct, view_id, vt FROM (
                    SELECT c.click_id, c.user_id, c.ct, v.event_id AS view_id, v.ts AS vt,
                           row_number() OVER (PARTITION BY c.click_id ORDER BY v.ts, v.event_id) AS rn
                    FROM clicks c JOIN events v
                      ON v.user_id = c.user_id AND v.event_type = 'view'
                     AND v.ts > c.ct
                     AND epoch_us(v.ts) - epoch_us(c.ct) <= CAST(24 AS BIGINT) * 3600 * 1000000
                ) t WHERE rn = 1
            ),
            p1 AS (
                SELECT click_id, purchase_id FROM (
                    SELECT v1.click_id, p.event_id AS purchase_id,
                           row_number() OVER (PARTITION BY v1.click_id ORDER BY p.ts, p.event_id) AS rn
                    FROM v1 JOIN events p
                      ON p.user_id = v1.user_id AND p.event_type = 'purchase'
                     AND p.ts > v1.vt
                     AND epoch_us(p.ts) - epoch_us(v1.ct) <= CAST(24 AS BIGINT) * 3600 * 1000000
                ) t WHERE rn = 1
            ),
            f AS (
                SELECT c.click_id, c.user_id, c.ct, v1.view_id, p1.purchase_id,
                       CASE WHEN p1.purchase_id IS NOT NULL THEN 3
                            WHEN v1.view_id IS NOT NULL THEN 2
                            ELSE 1 END AS funnel_depth
                FROM clicks c
                LEFT JOIN v1 ON v1.click_id = c.click_id
                LEFT JOIN p1 ON p1.click_id = c.click_id
            ),
            wm AS (SELECT epoch_us(max(ts)) // 1000 AS wm_ms FROM events)
            SELECT click_id, user_id, view_id, purchase_id, funnel_depth
            FROM f, wm
            WHERE funnel_depth = 3
               OR (epoch_us(ct) + CAST(24 AS BIGINT) * 3600 * 1000000) // 1000 < wm_ms
        """,
        # exact batch top-k per event_type — the collapse of
        # stream_topk_users_v2's last emission per (event_type, rank).
        "stream_topk_users_v2": """
            WITH agg AS (
                SELECT event_type, user_id, count(*) AS n_events,
                       sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS c
                FROM events GROUP BY event_type, user_id
            ),
            r AS (
                SELECT event_type, user_id, n_events, c,
                       row_number() OVER (PARTITION BY event_type
                                          ORDER BY n_events DESC, user_id) AS rank
                FROM agg
            )
            SELECT event_type, rank, user_id, n_events,
                   round(c / 100.0, 2) AS sum_value
            FROM r WHERE rank <= 10
        """,
    }
    # the v2-API twins share their v1 drain contract, hence the oracle
    d["stream_sessionize_v2"] = d["stream_sessionize"]
    d["stream_funnel_v2"] = d["stream_funnel"]
    d["stream_dedup_v2"] = d["stream_dedup"]
    return d
