"""Driver-session-conf independence: correct answers under ANY session.

The r6-r8 partition_stats failures (VERDICT r8 What's-wrong #1) were never a
hashing/timezone/rendering bug: the driver's gate builds its OWN SparkSession
with Spark defaults, and the default ``spark.sql.parquet.outputTimestampType
= INT96`` writes timestamp columns with NO parquet row-group min/max
statistics — so every store the gate materialized in the driver environment
had void valid_time zone maps and ``Store.partition_stats`` read ``None``
bounds (hash-red r6/r7, strftime crash r8). The repo's own suite could not
see it because conftest pins TIMESTAMP_MICROS via ``session.get_spark``.

These tests run the store paths under a deliberately HOSTILE session — a
``newSession()`` with the driver-default values of every conf ``get_spark``
pins (INT96 output timestamps, no nanos-as-long legacy read, no arrow) — and
assert the library still writes footer statistics (the write choke points
pin the conf themselves, ``session.micros_parquet_writes``), restores the
caller's conf afterwards, and that ``partition_stats`` raises loudly rather
than returning silent ``None`` bounds when pointed at a genuinely
stats-less INT96 store (pre-fix data).
"""

from __future__ import annotations

import tempfile

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from timedb_spark.snapstore import SnapshotStore
from timedb_spark.store import Store

#: (conf get_spark pins, Spark-default value the driver session runs with).
#: Covers exactly: outputTimestampType, nanosAsLong, arrow, and (added in
#: the fixture, JVM-default value) session.timeZone — the four pinned confs
#: that change RESULTS. Not restored: AQE/shuffle.partitions (plan shape
#: only) and inferTimestampNTZ (builder-frozen schema inference).
#: Mirrors tools/parity.py::_DRIVER_DEFAULTS — keep in sync.
_DRIVER_DEFAULTS = {
    "spark.sql.parquet.outputTimestampType": "INT96",
    "spark.sql.legacy.parquet.nanosAsLong": "false",
    "spark.sql.execution.arrow.pyspark.enabled": "false",
}


@pytest.fixture(scope="module")
def hostile(spark):
    """A session with the driver-default posture for the result-bearing
    runtime confs the repo's ``get_spark`` pins (see _DRIVER_DEFAULTS).
    ``newSession`` shares the JVM/SparkContext but carries its own SQLConf;
    the explicit sets below undo the values the shared SparkConf seeded
    (builder-time confs are inherited by new sessions, so without the sets
    this would NOT be hostile). ``session.timeZone`` is reset to the JVM
    default (what a driver session gets with no pin, ADVICE r9) — the
    faithful driver posture. Scope caveat: the driver host and this
    container both run UTC JVMs, so the reset is a no-op here; gate
    fingerprints are DEFINED over the UTC reading of the NTZ testdata and
    a non-UTC host is out of contract (see tools/parity.py)."""
    h = spark.newSession()
    for k, v in _DRIVER_DEFAULTS.items():
        h.conf.set(k, v)
    jvm_tz = spark._jvm.java.util.TimeZone.getDefault().getID()
    h.conf.set("spark.sql.session.timeZone", jvm_tz)
    return h


def _valid_time_stats_presence(values_path) -> tuple[int, int, set[str]]:
    """(files, files-with-valid_time-min/max, physical types) over a store."""
    n_files = n_with_stats = 0
    phys: set[str] = set()
    for f in values_path.rglob("*.parquet"):
        md = pq.ParquetFile(f).metadata
        idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
        if "valid_time" not in idx:
            continue
        n_files += 1
        phys.add(md.schema.column(idx["valid_time"]).physical_type)
        ok = all(
            (st := md.row_group(rg).column(idx["valid_time"]).statistics) is not None
            and st.has_min_max
            for rg in range(md.num_row_groups)
        )
        n_with_stats += ok
    return n_files, n_with_stats, phys


def _gate_frame(session, sf_dir):
    return entrymod.bitemporal_frame(session, sf_dir).withColumns(
        {
            "valid_time_end": F.lit(None).cast("timestamp"),
            "run_id": F.lit(None).cast("long"),
        }
    )


def test_store_write_pins_micros_under_hostile_session(hostile, sf_dir):
    """A store written under an INT96-default session must still carry
    TIMESTAMP_MICROS valid_time columns WITH footer min/max stats, and
    partition_stats must return fully populated bounds."""
    st = Store(hostile, tempfile.mkdtemp(prefix="timedb_hostile_store_"))
    st.create()
    st.append_values(_gate_frame(hostile, sf_dir))

    n_files, n_with_stats, phys = _valid_time_stats_presence(st.values_path)
    assert n_files > 0
    assert n_with_stats == n_files, "INT96 leak: files without valid_time stats"
    assert phys == {"INT64"}, f"expected TIMESTAMP_MICROS (INT64), got {phys}"

    stats = st.partition_stats()
    assert stats
    for p in stats:
        assert p["n_rows"] > 0
        for k in ("series_id_min", "series_id_max", "valid_time_min", "valid_time_max"):
            assert p[k] is not None, f"partition_stats returned None {k}: {p}"

    # set-and-restore contract: the caller's (hostile) conf is untouched.
    assert hostile.conf.get("spark.sql.parquet.outputTimestampType") == "INT96"

    # compact under the hostile session must keep the stats too
    st.append_values(_gate_frame(hostile, sf_dir).filter(F.col("series_id") % 7 == 0))
    assert st.compact(max_files_per_partition=1)
    n_files2, n_with_stats2, phys2 = _valid_time_stats_presence(st.values_path)
    assert n_with_stats2 == n_files2 and phys2 == {"INT64"}


def test_partition_stats_raises_loudly_on_int96_store(hostile, sf_dir):
    """Pre-fix data (INT96 files without footer stats) must raise with
    remediation text — never yield silent None bounds (the r6/r7 mode).
    Checked on the directory store and on the snapshot store, whose
    manifest is made to reference the INT96 files."""
    for store_cls in (Store, SnapshotStore):
        st = store_cls(hostile, tempfile.mkdtemp(prefix="timedb_int96_store_"))
        st.create()
        # Bypass the store's pinned write path: an INT96 write straight into the
        # partition layout, exactly what pre-fix code produced under the driver.
        part = st.values_path / "retention=short" / "vt_month=202401"
        _gate_frame(hostile, sf_dir).limit(50).drop("retention").write.mode(
            "overwrite"
        ).parquet(str(part))
        assert _valid_time_stats_presence(st.values_path)[2] == {"INT96"}, (
            "fixture no longer writes INT96 — hostile session conf drifted"
        )
        if isinstance(st, SnapshotStore):
            files = [str(f.relative_to(st.values_path)) for f in part.glob("*.parquet")]
            st._commit(add=files, remove=set(), op="append")
        with pytest.raises(RuntimeError, match="INT96"):
            st.partition_stats()


def test_store_gate_queries_end_to_end_under_hostile_session(hostile, sf_dir):
    """The four store-backed gate queries run end-to-end under the hostile
    session with zero None cells — the actual driver contract ('any session,
    correct answers'). Caches cleared on both sides so the materializations
    genuinely happen under the hostile session and later tests rebuild their
    own."""
    caches = (
        entrymod._STORE_CACHE,
        entrymod._SNAP_CACHE,
        entrymod._COMPACT_CACHE,
        entrymod._TTL_CACHE,
        entrymod._DELETE_CACHE,
        entrymod._ROLLUP_CACHE,
        entrymod._INGEST_CACHE,
        entrymod._VACUUM_CACHE,
        entrymod._NULLSENT_CACHE,
        entrymod._BTROLLUP_CACHE,
        entrymod._ROLLUPTTL_CACHE,
        entrymod._STREAM_INGEST_CACHE,
    )
    for c in caches:
        c.clear()
    try:
        qs = entrymod.queries()
        for name in (
            "partition_stats",
            "fast_count",
            "store_compact_zorder",
            "snap_time_travel",
            "store_retention_ttl",
            "store_delete_series",
            "rollup_continuous_agg",
            "store_landing_ingest",
            "snap_vacuum",
            "client_write_validation",
            "client_null_sentinel",
            "rollup_bitemporal_agg",
            "rollup_pit_backtest",
            "rollup_retention_refresh",
            "stream_ingest_once",
        ):
            rows = qs[name](hostile, sf_dir).collect()
            assert rows, f"{name}: no rows under hostile session"
            for r in rows:
                d = r.asDict()
                nones = [k for k, v in d.items() if v is None]
                assert not nones, f"{name}: None cells {nones} in {d}"
    finally:
        for c in caches:
            c.clear()
