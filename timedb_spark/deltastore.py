"""Delta Lake passthrough store (``table_format="delta"``).

The directory store (store.py) hand-rolls atomic publish + partition TTL on
plain parquet; snapstore.py hand-rolls a manifest snapshot protocol. A
production 100 TB deployment would reach for a lakehouse table format
instead — atomic multi-file commits, snapshot isolation, time travel and
OPTIMIZE come from the format. :class:`DeltaStore` subclasses ``Store`` and
keeps only the delta-spark mappings below; ``delete``, ``prune_months``,
``fast_count`` (over the log-based ``partition_stats``), the sorted write
layout with its schema-drift guard, and the TTL rule are ``Store``'s:

==================  =====================================================
Store method        Delta mapping
==================  =====================================================
create              empty ``.write.format("delta").partitionBy(...)``
append_values       ``mode("append")`` — an ATOMIC multi-file commit (the
                    guarantee store.py's per-file rename publish only
                    approximates)
read_values         ``spark.read.format("delta").load``
compact             ``DeltaTable.optimize().executeCompaction()`` /
                    ``executeZOrderBy("series_id", "valid_time")``
                    (cluster="zorder" — the functions/zorder.py analogue)
apply_retention     partition-predicate ``DELETE`` per tier/month the
                    shared TTL rule expires (metadata-only remove
                    actions, like CH part drops)
delete_series       ``DeltaTable.delete(series_id IN ...)`` — Delta's
                    file-stats pruning rewrites only files that can
                    contain a target id, matching store.py's footer-
                    min/max rewrite
snapshot read       ``option("versionAsOf"/"timestampAsOf")`` — the
                    snapstore.py time-travel surface, from the format
vacuum              ``DeltaTable.vacuum(retention_hours)``
==================  =====================================================

Gate: delta-spark needs BOTH the Python package and the matching JVM jars
(``io.delta:delta-spark`` via ``spark.jars.packages`` + the SQL extension
conf) — neither is installed here and the environment has no network, so
construction raises with the exact unmet precondition (state_v2 pattern:
the probe result is importable as ``DELTA_MISSING`` and the parametrized
store tests auto-skip with it). The mapping is exercised wherever
delta-spark IS present via the same ``tests/test_store_client.py``
parametrization.
"""

from __future__ import annotations

from datetime import datetime, timezone
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from timedb_spark.schema import RUN_SERIES_SCHEMA, SERIES_VALUES_SCHEMA
from timedb_spark.store import Store, _expired

#: exact unmet precondition ("" when runnable) — surfaced in skip messages
#: and the construction-time gate so every probe records WHY it is closed.
DELTA_MISSING = ""
try:
    from delta.tables import DeltaTable  # noqa: F401
except ImportError:
    DELTA_MISSING = (
        "python package 'delta-spark' (import delta.tables) not installed; "
        "also requires the io.delta:delta-spark JVM jars and "
        "spark.sql.extensions=io.delta.sql.DeltaSparkSessionExtension"
    )


def _live_adds(spark: SparkSession, values_path: Path) -> DataFrame | None:
    """Live add actions from a Delta transaction log: per path, the add with
    the highest commit version, kept only when no remove supersedes it at a
    later (or equal) version. Module-level and pure log-JSON parsing — no
    delta-spark needed — so the liveness rule is unit-testable even where
    the package gate is closed. Returns None when the log has no adds.

    Liveness is max-version arbitration, NOT an anti-join on "ever removed":
    a path re-added after a remove (RESTORE, time-travel re-commit) is live
    again. Commit version = the log filename's numeric prefix (the Delta
    protocol's commit ordering)."""
    log = spark.read.json(str(values_path / "_delta_log" / "*.json")).withColumn(
        "_v",
        F.regexp_extract(F.col("_metadata.file_path"), r"(\d+)\.json$", 1).cast("long"),
    )
    if "add" not in log.columns:
        return None
    adds = (
        log.filter(F.col("add").isNotNull())
        .select(
            F.col("add.path").alias("path"),
            F.col("_v"),
            F.struct(
                F.col("add.partitionValues.retention").alias("retention"),
                F.col("add.partitionValues.vt_month").alias("vt_month"),
                F.from_json(F.col("add.stats"), "numRecords LONG").getField("numRecords").alias("numRecords"),
            ).alias("_a"),
        )
        .groupBy("path")
        .agg(F.max("_v").alias("_av"), F.max_by("_a", "_v").alias("_a"))
    )
    if "remove" in log.columns:
        removes = (
            log.filter(F.col("remove").isNotNull())
            .select(F.col("remove.path").alias("path"), "_v")
            .groupBy("path")
            .agg(F.max("_v").alias("_rv"))
        )
        adds = adds.join(removes, on="path", how="left").filter(
            F.col("_rv").isNull() | (F.col("_av") > F.col("_rv"))
        )
    return adds.select("path", "_a.retention", "_a.vt_month", "_a.numRecords")


def _require_delta(spark: SparkSession) -> None:
    if DELTA_MISSING:
        raise NotImplementedError(f"table_format='delta' unavailable: missing {DELTA_MISSING}")
    ext = spark.conf.get("spark.sql.extensions", "")
    if "DeltaSparkSessionExtension" not in (ext or ""):
        raise NotImplementedError(
            "table_format='delta' unavailable: session built without "
            "spark.sql.extensions=io.delta.sql.DeltaSparkSessionExtension "
            "(set it plus spark.sql.catalog.spark_catalog=org.apache.spark."
            "sql.delta.catalog.DeltaCatalog before SparkSession creation)"
        )


class DeltaStore(Store):
    """Same surface as :class:`timedb_spark.store.Store`, Delta-backed."""

    def __init__(self, spark: SparkSession, root: str):
        _require_delta(spark)
        super().__init__(spark, root)

    # -- schema management -------------------------------------------------

    def create(self) -> None:
        self.root.mkdir(parents=True, exist_ok=True)
        if not (self.values_path / "_delta_log").exists():
            empty = self.spark.createDataFrame([], SERIES_VALUES_SCHEMA).withColumn(
                "vt_month", F.lit(None).cast("string")
            )
            (
                empty.write.format("delta")
                .partitionBy("retention", "vt_month")
                .mode("overwrite")
                .save(str(self.values_path))
            )
        if not (self.run_series_path / "_delta_log").exists():
            empty_rs = self.spark.createDataFrame([], RUN_SERIES_SCHEMA)
            empty_rs.write.format("delta").mode("overwrite").save(str(self.run_series_path))

    # -- writes (atomic multi-file commits — the format's whole point) -----

    def append_values(self, df: DataFrame) -> None:
        # same guarded, zone-map-preserving sorted layout as store.py
        self._partition_sorted(df).write.format("delta").mode("append").save(str(self.values_path))

    def append_run_series(self, df: DataFrame) -> None:
        (
            df.select("series_id", "run_id", "first_seen")
            .write.format("delta")
            .mode("append")
            .save(str(self.run_series_path))
        )

    # -- reads -------------------------------------------------------------

    def read_values(self, *, version: int | None = None, timestamp: datetime | None = None) -> DataFrame:
        """Current table, or a time-travel snapshot (the snapstore.py
        ``read_values(version=...)`` surface, provided by the format)."""
        reader = self.spark.read.format("delta")
        if version is not None:
            reader = reader.option("versionAsOf", version)
        if timestamp is not None:
            reader = reader.option("timestampAsOf", timestamp.isoformat(sep=" "))
        return reader.load(str(self.values_path))

    def read_run_series(self) -> DataFrame:
        raw = self.spark.read.format("delta").load(str(self.run_series_path))
        return raw.groupBy("series_id", "run_id").agg(F.max("first_seen").alias("first_seen"))

    # -- stats / maintenance ----------------------------------------------

    def partition_stats(self) -> list[dict]:
        """Per-(retention, vt_month) row/file counts for the LIVE table
        from the transaction log — metadata only, zero data IO (the log
        JSON holds numRecords per add action; the store.py analogue reads
        parquet footers). A file is live iff its LATEST log action (by
        commit version) is an add — not "never removed": RESTORE /
        time-travel re-commits re-ADD a previously removed path at a later
        version, and a blanket remove anti-join would undercount it forever
        (ADVICE r5), skewing fast_count and apply_retention with it."""
        adds = _live_adds(self.spark, self.values_path)
        if adds is None:
            return []
        live = (
            adds.groupBy("retention", "vt_month")
            .agg(F.sum("numRecords").alias("n_rows"), F.count(F.lit(1)).alias("n_files"))
            .orderBy("retention", "vt_month")
        )
        return [r.asDict() for r in live.collect()]

    def compact(self, *, max_files_per_partition: int = 4, target_files: int = 1, cluster: str = "linear") -> list[str]:
        from delta.tables import DeltaTable

        dt = DeltaTable.forPath(self.spark, str(self.values_path))
        if cluster == "zorder":
            dt.optimize().executeZOrderBy("series_id", "valid_time")
        elif cluster == "linear":
            dt.optimize().executeCompaction()
        else:
            raise ValueError(f"Unknown cluster {cluster!r}. Valid values: 'linear', 'zorder'.")
        return [f"{p['retention']}/{p['vt_month']}" for p in self.partition_stats()]

    def apply_retention(self, now: datetime | None = None) -> list[str]:
        """Partition-predicate DELETE per expired (tier, month) — Delta
        turns a delete aligned to partition boundaries into metadata-only
        remove actions, the CH part-drop analogue."""
        from delta.tables import DeltaTable

        today = (now or datetime.now(timezone.utc)).date()
        dt = DeltaTable.forPath(self.spark, str(self.values_path))
        dropped: list[str] = []
        for p in self.partition_stats():
            tier, ym = p["retention"], p["vt_month"]
            if _expired(tier, ym, today):
                dt.delete((F.col("retention") == tier) & (F.col("vt_month") == ym))
                dropped.append(f"retention={tier}/vt_month={ym}")
        return dropped

    def delete_series(self, series_ids) -> list[str]:
        from delta.tables import DeltaTable

        targets = sorted(set(int(s) for s in series_ids))
        if not targets:
            return []
        dt = DeltaTable.forPath(self.spark, str(self.values_path))
        dt.delete(F.col("series_id").isin(targets))
        return [f"{p['retention']}/{p['vt_month']}" for p in self.partition_stats()]

    def vacuum(self, retention_hours: float = 168.0) -> None:
        from delta.tables import DeltaTable

        DeltaTable.forPath(self.spark, str(self.values_path)).vacuum(retention_hours)
