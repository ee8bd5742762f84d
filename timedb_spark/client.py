"""TimeDB — the Spark-native public facade.

Pure time-series I/O with the reference's client semantics
(ref: timedb/client.py, timedb/write.py): callers own ``series_id`` /
``run_id`` / ``retention``; the engine stamps defaults, validates, appends,
and collapses revision chains at read time.
"""

from __future__ import annotations

import secrets
import time as _time
from collections.abc import Sequence
from datetime import datetime, time as dt_time, timedelta, timezone
from typing import Literal, NamedTuple

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from timedb_spark import profiling
from timedb_spark.operators import bitemporal as bt
from timedb_spark.schema import (
    DEFAULT_RETENTION,
    RETENTION_TIERS,
    SERIES_VALUES_SCHEMA,
    VALID_TIME_END_SENTINEL,
)
from timedb_spark.store import Store

UnchangedScope = Literal["valid_time", "knowledge_time"]


class WriteResult(NamedTuple):
    """Counts returned by :meth:`TimeDB.write` (parity: timedb/write.py:161)."""

    written: int
    skipped: int


def _generate_run_id() -> int:
    """Client-side run id: ms timestamp in the high bits + random low bits.

    Time-sortable and fits a signed Int64 — same contract as the reference's
    uuid7-derived id (timedb/write.py:58-65) without the uuid6 dependency.
    """
    return (int(_time.time() * 1000) << 20) | secrets.randbits(20)


def _validate_pandas_tz(df: pd.DataFrame) -> None:
    for col in ("valid_time", "valid_time_end", "knowledge_time", "change_time"):
        if col in df.columns:
            dtype = df.dtypes[col]
            if isinstance(dtype, pd.DatetimeTZDtype):
                continue
            if str(dtype).startswith("datetime64"):
                raise ValueError(f"{col!r} must be timezone-aware.")


def _count_rejecting_null_valid_time(stamped: DataFrame) -> int:
    """Row count of a stamped batch; the null-``valid_time`` check rides the
    same Spark job. The reference column is non-nullable, and a null row
    would land in ``vt_month=__HIVE_DEFAULT_PARTITION__``, which no month
    arithmetic (count, TTL) can read."""
    n, n_null = stamped.agg(F.count(F.lit(1)), F.count_if(F.col("valid_time").isNull())).collect()[0]
    if n_null:
        raise ValueError(f"valid_time must not be null: {n_null} of {n} rows have no valid_time.")
    return n


def _strip_tz(x: datetime | None) -> datetime | None:
    """Timestamps are stored in UTC wall-clock (session tz is UTC); naive
    datetimes are taken as UTC already."""
    if x is None:
        return None
    if x.tzinfo is not None:
        return x.astimezone(timezone.utc).replace(tzinfo=None)
    return x


class TimeDB:
    """Spark-native TimeDB client over a partitioned parquet store.

    ``table_format="snapshot"`` switches the fact table to the
    manifest-committed :class:`~timedb_spark.snapstore.SnapshotStore`:
    atomic multi-file batch visibility, snapshot isolation under
    compaction/deletes, and storage-level time travel
    (``db.store.read_values(version=K)``, ``db.store.vacuum()``). The
    default ``"directory"`` format keeps the v1 per-file-rename store."""

    def __init__(self, spark: SparkSession, root: str, *, table_format: str = "directory"):
        self.spark = spark
        if table_format == "snapshot":
            from timedb_spark.snapstore import SnapshotStore

            self.store: Store = SnapshotStore(spark, root)
        elif table_format == "directory":
            self.store = Store(spark, root)
        elif table_format == "delta":
            # Lakehouse passthrough: atomic multi-file commits, OPTIMIZE and
            # time travel from the format. Gated at construction when
            # delta-spark isn't installed (deltastore.DELTA_MISSING records
            # the exact precondition — state_v2 pattern).
            from timedb_spark.deltastore import DeltaStore

            self.store = DeltaStore(spark, root)
        else:
            raise ValueError(
                f"Unknown table_format {table_format!r}. Valid values: 'directory', 'snapshot', 'delta'."
            )

    # ------------------------------------------------------------------
    # Schema (ref: timedb/client.py:106-120)
    # ------------------------------------------------------------------

    def create(self) -> None:
        self.store.create()

    def delete(self) -> None:
        self.store.delete()

    def apply_retention(self, now: datetime | None = None) -> list[str]:
        return self.store.apply_retention(now)

    def compact(self, *, max_files_per_partition: int = 4) -> list[str]:
        """Merge fragmented partitions into sorted files (see Store.compact)."""
        return self.store.compact(max_files_per_partition=max_files_per_partition)

    def partition_stats(self) -> list[dict]:
        """Footer-only per-partition stats (see Store.partition_stats)."""
        return self.store.partition_stats()

    def delete_series(self, series_ids: Sequence[int]) -> list[str]:
        """Right-to-erasure: remove the given series from series_values and
        run_series, rewriting only partitions whose zone maps can contain
        them (see Store.delete_series)."""
        return self.store.delete_series(series_ids)

    def count(
        self,
        *,
        retention: str | Sequence[str] | None = None,
        start_valid: datetime | None = None,
        end_valid: datetime | None = None,
    ) -> int:
        """Row count under tier/time predicates, answered from partition
        metadata except for boundary months (see Store.fast_count)."""
        tiers = retention if retention is None or isinstance(retention, str) else set(retention)
        return self.store.fast_count(
            retention=tiers, start_valid=_strip_tz(start_valid), end_valid=_strip_tz(end_valid)
        )

    # ------------------------------------------------------------------
    # Write (ref: timedb/write.py:236-368)
    # ------------------------------------------------------------------

    def write(
        self,
        df: pd.DataFrame | DataFrame,
        *,
        retention: str | None = None,
        knowledge_time: datetime | None = None,
        skip_unchanged: bool = False,
        unchanged_scope: UnchangedScope = "valid_time",
        txn: tuple[str, int] | None = None,
    ) -> WriteResult:
        """Write rows into ``series_values`` plus their ``run_series`` mapping.

        Required columns: ``series_id``, ``valid_time``, ``value``. Optional
        columns are stamped with the reference's defaults (write.py:249-258):
        batch-constant ``knowledge_time``/``change_time``, one generated
        ``run_id``, empty ``changed_by``/``annotation``, sentinel
        ``valid_time_end``, retention kwarg-or-column-or-'forever'.

        ``retention``/``knowledge_time`` as both column and kwarg raise
        (write.py:259-261). ``skip_unchanged`` drops rows whose latest stored
        ``(value, annotation, changed_by)`` already matches, per
        ``unchanged_scope`` (write.py:271-277).
        """
        with profiling._phase(profiling.PHASE_WRITE_TOTAL):
            return self._write(df, retention, knowledge_time, skip_unchanged, unchanged_scope, txn)

    def _write(self, df, retention, knowledge_time, skip_unchanged, unchanged_scope, txn=None) -> WriteResult:
        if txn is not None:
            # Idempotent writer transaction (snapshot store only): a replayed
            # (app_id, batch_id) write is a WHOLE-write no-op — values AND the
            # run_series upsert — so streaming foreachBatch replays cannot
            # restamp first_seen. Replays are sequential (same checkpointed
            # query), so check-then-write has no concurrent-same-txn race.
            if not hasattr(self.store, "_txn_committed"):
                raise ValueError("txn writes require table_format='snapshot'")
            if self.store._txn_committed(txn):
                return WriteResult(written=0, skipped=0)
        with profiling._phase(profiling.PHASE_WRITE_NORMALIZE):
            if isinstance(df, pd.DataFrame):
                _validate_pandas_tz(df)
                sdf = self.spark.createDataFrame(df)
            else:
                sdf = df

            missing = {"series_id", "valid_time", "value"} - set(sdf.columns)
            if missing:
                raise ValueError(f"df missing required columns: {sorted(missing)}")

            source_has_retention = "retention" in sdf.columns
            if source_has_retention and retention is not None:
                raise ValueError(
                    "Ambiguous retention: df has a 'retention' column and retention "
                    "was also passed as a kwarg. Use one or the other."
                )
            if retention is not None and retention not in RETENTION_TIERS:
                raise ValueError(f"Unknown retention {retention!r}. Valid values: {sorted(RETENTION_TIERS)}")
            if source_has_retention:
                present = {r[0] for r in sdf.select("retention").distinct().collect()}
                unknown = present - RETENTION_TIERS
                if unknown:
                    raise ValueError(
                        f"Unknown retention values in 'retention' column: {sorted(unknown)}. "
                        f"Valid values: {sorted(RETENTION_TIERS)}"
                    )
            if not source_has_retention and retention is None:
                retention = DEFAULT_RETENTION

            source_has_kt = "knowledge_time" in sdf.columns
            if source_has_kt and knowledge_time is not None:
                raise ValueError(
                    "Ambiguous knowledge_time: df has a 'knowledge_time' column and "
                    "knowledge_time was also passed as a kwarg."
                )

            now = datetime.now(timezone.utc).replace(tzinfo=None)
            stamped = sdf.withColumn("series_id", F.col("series_id").cast("long")).withColumn(
                "value", F.coalesce(F.col("value").cast("double"), F.lit(float("nan")))
            )
            if not source_has_kt:
                kt = _strip_tz(knowledge_time) if knowledge_time is not None else now
                stamped = stamped.withColumn("knowledge_time", F.lit(kt).cast("timestamp"))
            if "change_time" not in stamped.columns:
                stamped = stamped.withColumn("change_time", F.lit(now).cast("timestamp"))
            if "run_id" in stamped.columns:
                stamped = stamped.withColumn("run_id", F.col("run_id").cast("long"))
            else:
                stamped = stamped.withColumn("run_id", F.lit(_generate_run_id()).cast("long"))
            if not source_has_retention:
                stamped = stamped.withColumn("retention", F.lit(retention))
            for optional_str in ("changed_by", "annotation"):
                if optional_str not in stamped.columns:
                    stamped = stamped.withColumn(optional_str, F.lit(""))
            if "valid_time_end" not in stamped.columns:
                stamped = stamped.withColumn(
                    "valid_time_end", F.lit(_strip_tz(VALID_TIME_END_SENTINEL)).cast("timestamp")
                )
            stamped = stamped.withColumn("valid_time", F.col("valid_time").cast("timestamp"))

        skipped = 0
        if skip_unchanged:
            if unchanged_scope not in ("valid_time", "knowledge_time"):
                raise ValueError(
                    f"Unknown unchanged_scope {unchanged_scope!r}. Valid values: 'valid_time', 'knowledge_time'."
                )
            with profiling._phase(profiling.PHASE_WRITE_SKIP_UNCHANGED):
                before = _count_rejecting_null_valid_time(stamped)
                stamped = self._filter_unchanged(stamped, scope=unchanged_scope)
                stamped = stamped.localCheckpoint(eager=True)  # pin the filtered batch
                written = stamped.count()
                skipped = before - written
        else:
            written = _count_rejecting_null_valid_time(stamped)

        if written:
            # run_series FIRST, values (carrying the txn marker) second: the
            # txn marker is what makes a replay a whole-write no-op, so
            # everything the replay must not lose has to land before it. A
            # crash after run_series but before the values commit replays
            # the whole write — the run_series re-append is harmless
            # (read_run_series dedups per (series_id, run_id); only
            # first_seen restamps). The old order lost the batch's
            # run_series mappings permanently on a crash in between.
            with profiling._phase(profiling.PHASE_WRITE_RUN_SERIES_INSERT):
                rs = (
                    stamped.select("series_id", "run_id")
                    .distinct()
                    .withColumn("first_seen", F.lit(now).cast("timestamp"))
                )
                self.store.append_run_series(rs)
            with profiling._phase(profiling.PHASE_WRITE_SERIES_VALUES_INSERT):
                if txn is not None:
                    self.store.append_values(stamped, txn=txn)
                else:
                    self.store.append_values(stamped)
        return WriteResult(written=written, skipped=skipped)

    def _filter_unchanged(self, stamped: DataFrame, *, scope: UnchangedScope) -> DataFrame:
        """Drop rows whose latest stored state already matches (parity:
        timedb/write.py:172-233). One bounded read-back: the stored side is
        pruned to the batch's series/retention set and month set (broadcast
        semi-joins — never a collected ``isin`` literal list, which would
        break the driver/plan on a backfill touching millions of series)
        and the [min_vt, max_vt] valid_time slab before the latest-state
        collapse, then joined to the batch on the scope key.

        ZERO driver round-trips: the vt_month semi-join hands the file
        source a runtime partition-pruning handle on the partition column
        (the months are known once the tiny broadcast side materializes),
        and the slab bounds ride a 1-row broadcast instead of collected
        literals — the whole write path plans without an action. The month
        SET is strictly narrower than the old [min_month, max_month] range
        and outcome-equivalent: a stored row in a month the batch never
        touches cannot equi-join any batch key downstream."""
        batch_keys = stamped.select("series_id", "retention").distinct()
        months = stamped.select(F.date_format("valid_time", "yyyyMM").alias("vt_month")).distinct()
        bounds = stamped.agg(
            F.min("valid_time").alias("_min_vt"),
            F.max("valid_time").alias("_max_vt"),
        )
        stored = self.store.read_values().join(F.broadcast(months), on="vt_month", how="left_semi")
        stored = (
            stored.join(F.broadcast(bounds))  # 1-row: the slab bounds, JVM-side
            .filter((F.col("valid_time") >= F.col("_min_vt")) & (F.col("valid_time") <= F.col("_max_vt")))
            .drop("_min_vt", "_max_vt")
        )
        stored = stored.join(F.broadcast(batch_keys), on=["series_id", "retention"], how="left_semi")

        keys = ["series_id", "valid_time"]
        if scope == "knowledge_time":
            keys.append("knowledge_time")
            order = F.struct("change_time")
        else:
            order = F.struct("knowledge_time", "change_time")
        latest_state = stored.groupBy(*keys).agg(
            F.max_by(F.struct(F.col("value"), F.col("annotation"), F.col("changed_by")), order).alias("_st")
        )

        # No forced broadcast: latest_state is ≤ the batch's key count, which
        # is small for reference-style batches (AQE broadcasts it) but can be
        # huge on a backfill — AQE picks the right physical join either way.
        j = stamped.join(latest_state, on=keys, how="left")
        val_same = F.col("value").eqNullSafe(F.col("_st.value"))  # NaN-safe (sentinel equality)
        same = (
            val_same
            & F.col("annotation").eqNullSafe(F.col("_st.annotation"))
            & F.col("changed_by").eqNullSafe(F.col("_st.changed_by"))
        )
        return j.filter(F.col("_st").isNull() | ~same).select(stamped.columns)

    # ------------------------------------------------------------------
    # Reads (ref: timedb/client.py:144-214)
    # ------------------------------------------------------------------

    def _scoped(
        self,
        series_ids: Sequence[int] | None,
        retention,
        start_valid,
        end_valid,
        start_known,
        end_known,
        meta_source: tuple[DataFrame, bt.SeriesMeta] | None,
    ) -> DataFrame:
        df = self.store.read_values()
        df = self.store.prune_months(df, _strip_tz(start_valid), _strip_tz(end_valid))
        df = bt.apply_filters(
            df,
            series_ids=series_ids if meta_source is None else None,
            retention=retention,
            start_valid=_strip_tz(start_valid),
            end_valid=_strip_tz(end_valid),
            start_known=_strip_tz(start_known),
            end_known=_strip_tz(end_known),
        )
        if meta_source is not None:
            meta_df, spec = meta_source
            df = bt.filter_by_meta(df, meta_df, spec)
        return df

    def read(
        self,
        *,
        series_ids: Sequence[int] = (),
        retention: str | Sequence[str] | None = None,
        start_valid: datetime | None = None,
        end_valid: datetime | None = None,
        start_known: datetime | None = None,
        end_known: datetime | None = None,
        include_updates: bool = False,
        include_knowledge_time: bool = False,
        meta_source: tuple[DataFrame, bt.SeriesMeta] | None = None,
    ) -> DataFrame:
        """3-dimensional read; output shape per flag combination matches
        timedb/read.py:3-13. Returns a lazy DataFrame (collect at the edge)."""
        if meta_source is None and not list(series_ids):
            return self.spark.createDataFrame([], SERIES_VALUES_SCHEMA).select("series_id", "valid_time", "value")
        scoped = self._scoped(series_ids, retention, start_valid, end_valid, start_known, end_known, meta_source)
        if include_updates:
            out = bt.overlapping_changes(scoped) if include_knowledge_time else bt.latest_changes(scoped)
        else:
            out = bt.overlapping(scoped) if include_knowledge_time else bt.latest(scoped)
        return bt.nan_to_null(out)

    def read_relative(
        self,
        *,
        series_ids: Sequence[int] = (),
        retention: str | Sequence[str] | None = None,
        window_length: timedelta | None = None,
        issue_offset: timedelta | None = None,
        start_window: datetime | None = None,
        start_valid: datetime | None = None,
        end_valid: datetime | None = None,
        days_ahead: int | None = None,
        time_of_day: dt_time | None = None,
        meta_source: tuple[DataFrame, bt.SeriesMeta] | None = None,
    ) -> DataFrame:
        """Per-window day-ahead-style cutoff read (ref: read.py:461-527)."""
        wl, off, sw = bt.resolve_relative_params(
            window_length=window_length,
            issue_offset=issue_offset,
            start_window=_strip_tz(start_window),
            start_valid=_strip_tz(start_valid),
            days_ahead=days_ahead,
            time_of_day=time_of_day,
        )
        if meta_source is None and not list(series_ids):
            return self.spark.createDataFrame([], SERIES_VALUES_SCHEMA).select("series_id", "valid_time", "value")
        scoped = self._scoped(series_ids, retention, start_valid, end_valid, None, None, meta_source)
        return bt.nan_to_null(bt.relative_cutoff(scoped, window_length=wl, issue_offset=off, start_window=sw))

    def read_run_series(self, *, series_id: int) -> list[int]:
        """Run ids that touched a series, latest first (ref: client.py:198-214)."""
        rows = (
            self.store.read_run_series()
            .filter(F.col("series_id") == int(series_id))
            .orderBy(F.col("first_seen").desc())
            .select("run_id")
            .collect()
        )
        return [int(r.run_id) for r in rows]
