"""Store + client round-trip tests.

Mirrors the reference's integration + write-validation suites
(ref: tests/test_integration.py, tests/test_write_validation.py) against the
partitioned-parquet store: write/read latest, revision chains, retention
pruning and TTL, skip_unchanged counting (both scopes), run_series mapping,
null/NaN roundtrip, and the full kwarg/column validation matrix.
"""

from __future__ import annotations

from datetime import datetime, timedelta, timezone

import pandas as pd
import pytest
from pyspark.sql import functions as F

from timedb_spark.client import TimeDB, WriteResult

UTC = timezone.utc
T0 = datetime(2024, 1, 1, tzinfo=UTC)


def each_format(spark, tmp_path):
    """A fresh store per table format whose partition operations run through
    the shared Store engine — tests of those operations run against each."""
    for table_format in ("directory", "snapshot"):
        db = TimeDB(spark, str(tmp_path / table_format), table_format=table_format)
        db.create()
        yield db


def ts(h: int) -> datetime:
    return T0 + timedelta(hours=h)


def pdf(rows: list[dict]) -> pd.DataFrame:
    return pd.DataFrame(rows)


@pytest.fixture()
def td(spark, tmp_path):
    db = TimeDB(spark, str(tmp_path / "tdb"))
    db.create()
    yield db
    db.delete()


def simple_batch(value: float = 1.0, sid: int = 1, n: int = 3) -> pd.DataFrame:
    return pdf([{"series_id": sid, "valid_time": ts(i), "value": value + i} for i in range(n)])


def read_pd(df) -> pd.DataFrame:
    return df.toPandas().sort_values(by=list(df.columns)).reset_index(drop=True)


# -- schema lifecycle (ref test_integration.py:53) --------------------------


def test_create_delete_idempotent(td):
    td.create()  # second create is a no-op
    assert td.read(series_ids=[1]).count() == 0
    td.delete()
    td.delete()  # double delete fine
    td.create()
    assert td.read(series_ids=[1]).count() == 0


# -- write + read latest (ref test_integration.py:62-104) -------------------


def test_write_and_read_latest_flat(td):
    res = td.write(simple_batch())
    assert res == WriteResult(written=3, skipped=0)
    out = read_pd(td.read(series_ids=[1]))
    assert list(out.columns) == ["series_id", "valid_time", "value"]
    assert out["value"].tolist() == [1.0, 2.0, 3.0]


def test_read_latest_picks_highest_knowledge_time(td):
    td.write(simple_batch(value=1.0), knowledge_time=ts(0))
    td.write(simple_batch(value=10.0), knowledge_time=ts(1))
    out = read_pd(td.read(series_ids=[1]))
    assert out["value"].tolist() == [10.0, 11.0, 12.0]


def test_overlapping_read_returns_all_kts(td):
    td.write(simple_batch(value=1.0, n=1), knowledge_time=ts(0))
    td.write(simple_batch(value=2.0, n=1), knowledge_time=ts(1))
    out = td.read(series_ids=[1], include_knowledge_time=True)
    assert out.count() == 2
    assert set(out.columns) == {"series_id", "knowledge_time", "valid_time", "value"}


def test_correction_chain_includes_change_time(td):
    """Two writes at the SAME knowledge_time are corrections; include_updates
    exposes the chain with change_time, latest-change wins in plain read."""
    td.write(simple_batch(value=1.0, n=1), knowledge_time=ts(0))
    td.write(simple_batch(value=5.0, n=1), knowledge_time=ts(0))
    plain = read_pd(td.read(series_ids=[1]))
    assert plain["value"].tolist() == [5.0]
    chain = td.read(series_ids=[1], include_updates=True)
    assert chain.count() == 2
    assert "change_time" in chain.columns


# -- retention (ref test_integration.py:105-129) ----------------------------


def test_retention_filter_prunes(td):
    td.write(simple_batch(sid=1), retention="short")
    td.write(simple_batch(sid=2), retention="long")
    assert td.read(series_ids=[1, 2], retention="short").count() == 3
    assert td.read(series_ids=[1, 2], retention=["short", "long"]).count() == 6


def test_retention_column_per_row(td):
    df = pdf(
        [
            {"series_id": 1, "valid_time": ts(0), "value": 1.0, "retention": "short"},
            {"series_id": 1, "valid_time": ts(1), "value": 2.0, "retention": "forever"},
        ]
    )
    td.write(df)
    assert td.read(series_ids=[1], retention="short").count() == 1
    assert td.read(series_ids=[1]).count() == 2


def test_retention_ttl_drops_expired_month_partitions(spark, tmp_path):
    for td in each_format(spark, tmp_path):
        old = pdf([{"series_id": 1, "valid_time": datetime(2020, 1, 1, tzinfo=UTC), "value": 1.0}])
        td.write(old, retention="short")
        td.write(simple_batch(sid=2), retention="short")
        td.write(old.assign(series_id=3), retention="forever")
        dropped = td.apply_retention(now=datetime(2024, 6, 1, tzinfo=UTC))
        assert dropped == ["retention=short/vt_month=202001"]
        assert td.read(series_ids=[1]).count() == 0  # expired
        assert td.read(series_ids=[2]).count() == 3  # fresh short survives
        assert td.read(series_ids=[3]).count() == 1  # forever never expires


# -- run_series (ref test_integration.py:130-138) ---------------------------


def test_run_series_mapping_latest_first(td):
    df = simple_batch(n=1).assign(run_id=100)
    td.write(df)
    df2 = simple_batch(value=2.0, n=1).assign(run_id=200)
    td.write(df2)
    runs = td.read_run_series(series_id=1)
    assert runs == [200, 100] or set(runs) == {100, 200}  # ties on first_seen allowed
    # re-write of run 100 must not duplicate the mapping
    td.write(df.assign(value=9.0))
    assert sorted(set(td.read_run_series(series_id=1))) == [100, 200]


def test_empty_series_list_returns_empty(td):
    td.write(simple_batch())
    assert td.read(series_ids=[]).count() == 0


# -- skip_unchanged (ref test_integration.py:156-198) -----------------------


def test_skip_unchanged_drops_identical_rewrite(td):
    td.write(simple_batch())
    res = td.write(simple_batch(), skip_unchanged=True)
    assert res == WriteResult(written=0, skipped=3)


def test_skip_unchanged_keeps_changed_value(td):
    td.write(simple_batch())
    changed = simple_batch()
    changed.loc[0, "value"] = 99.0
    res = td.write(changed, skip_unchanged=True)
    assert res == WriteResult(written=1, skipped=2)
    out = read_pd(td.read(series_ids=[1]))
    assert out["value"].tolist() == [99.0, 2.0, 3.0]


def test_default_rewrite_still_appends(td):
    td.write(simple_batch())
    res = td.write(simple_batch())
    assert res.written == 3
    assert td.read(series_ids=[1], include_updates=True).count() >= 3


def test_skip_unchanged_knowledge_time_scope(td):
    """valid_time scope compares to the LATEST state; knowledge_time scope
    compares only within the same kt — a rewrite at a NEW kt is never
    'unchanged' under kt scope even if the value matches."""
    td.write(simple_batch(n=1), knowledge_time=ts(0))
    same_value_new_kt = simple_batch(n=1)
    res_vt = td.write(same_value_new_kt, knowledge_time=ts(5), skip_unchanged=True)
    assert res_vt == WriteResult(written=0, skipped=1)
    res_kt = td.write(
        same_value_new_kt, knowledge_time=ts(6), skip_unchanged=True, unchanged_scope="knowledge_time"
    )
    assert res_kt == WriteResult(written=1, skipped=0)


def test_skip_unchanged_nan_equals_nan_is_dropped(td):
    nanb = pdf([{"series_id": 1, "valid_time": ts(0), "value": None}])
    td.write(nanb)
    res = td.write(nanb, skip_unchanged=True)
    assert res == WriteResult(written=0, skipped=1)


def test_skip_unchanged_empty_store_keeps_all(td):
    res = td.write(simple_batch(), skip_unchanged=True)
    assert res == WriteResult(written=3, skipped=0)


def test_skip_unchanged_annotation_change_writes(td):
    td.write(simple_batch(n=1))
    ann = simple_batch(n=1).assign(annotation="corrected")
    res = td.write(ann, skip_unchanged=True)
    assert res == WriteResult(written=1, skipped=0)


# -- null/NaN roundtrip (ref test_integration.py:199) -----------------------


def test_read_null_value_roundtrip(td):
    df = pdf(
        [
            {"series_id": 1, "valid_time": ts(0), "value": None},
            {"series_id": 1, "valid_time": ts(1), "value": 2.0},
        ]
    )
    td.write(df)
    out = read_pd(td.read(series_ids=[1]))
    assert out["value"].isna().tolist() == [True, False]


# -- validation matrix (ref tests/test_write_validation.py) -----------------


def test_rejects_missing_required_columns(td):
    with pytest.raises(ValueError, match="required"):
        td.write(pdf([{"series_id": 1, "value": 1.0}]))


def test_rejects_unknown_retention_kwarg(td):
    with pytest.raises(ValueError, match="retention"):
        td.write(simple_batch(), retention="eternal")


def test_rejects_unknown_retention_column(td):
    df = simple_batch().assign(retention="bogus")
    with pytest.raises(ValueError, match="retention"):
        td.write(df)


def test_rejects_retention_column_and_kwarg(td):
    df = simple_batch().assign(retention="short")
    with pytest.raises(ValueError, match="[Aa]mbiguous"):
        td.write(df, retention="short")


def test_rejects_knowledge_time_column_and_kwarg(td):
    df = simple_batch().assign(knowledge_time=ts(0))
    with pytest.raises(ValueError, match="[Aa]mbiguous"):
        td.write(df, knowledge_time=ts(1))


def test_rejects_naive_datetime_column(td):
    naive = pdf([{"series_id": 1, "valid_time": datetime(2024, 1, 1), "value": 1.0}])
    with pytest.raises(ValueError, match="timezone-aware"):
        td.write(naive)


def test_rejects_null_valid_time(spark, tmp_path):
    """A NaT valid_time fails the write before anything lands (the
    reference column is non-nullable); count and TTL keep working."""
    bad = simple_batch()
    bad.loc[1, "valid_time"] = pd.NaT
    for db in each_format(spark, tmp_path):
        for skip in (False, True):
            with pytest.raises(ValueError, match="valid_time must not be null"):
                db.write(bad, skip_unchanged=skip)
        assert db.count() == 0
        assert db.read_run_series(series_id=1) == []
        assert db.apply_retention() == []


def test_unknown_unchanged_scope_rejected(td):
    td.write(simple_batch())
    with pytest.raises(ValueError, match="unchanged_scope"):
        td.write(simple_batch(), skip_unchanged=True, unchanged_scope="bogus")


def test_default_retention_is_forever(td):
    td.write(simple_batch())
    vals = td.store.read_values().select("retention").distinct().collect()
    assert {r[0] for r in vals} == {"forever"}


def test_store_partition_layout(td):
    """Physical layout matches the CH partition key (retention, month)."""
    td.write(simple_batch(), retention="short")
    parts = sorted(p.name for p in (td.store.values_path / "retention=short").glob("vt_month=*"))
    assert parts == ["vt_month=202401"]


def test_store_sorted_within_files(td):
    """Rows inside each parquet file are sorted by the reference ORDER BY key
    so row-group min/max act as a sparse series/time index."""
    import pyarrow.parquet as pq

    big = pdf(
        [
            {"series_id": sid, "valid_time": ts(h), "value": float(sid * 100 + h)}
            for sid in (3, 1, 2)
            for h in (5, 0, 3)
        ]
    )
    td.write(big)
    files = list((td.store.values_path).rglob("part-*.parquet"))
    assert files
    for f in files:
        t = pq.read_table(f, columns=["series_id", "valid_time"]).to_pandas()
        key = list(zip(t["series_id"], t["valid_time"]))
        assert key == sorted(key)


def test_run_id_generation_time_sortable(td):
    from timedb_spark.client import _generate_run_id

    a = _generate_run_id()
    b = _generate_run_id()
    assert a > 0 and b > 0 and (b >> 20) >= (a >> 20)


def test_spark_dataframe_write_path(td, spark):
    """write() accepts a Spark DataFrame directly (no pandas roundtrip)."""
    sdf = spark.createDataFrame(
        [(1, ts(0).replace(tzinfo=None), 1.5)], "series_id long, valid_time timestamp, value double"
    )
    res = td.write(sdf)
    assert res.written == 1
    out = td.read(series_ids=[1])
    assert out.collect()[0].value == 1.5


def test_month_pruning_filter(td):
    td.write(
        pdf(
            [
                {"series_id": 1, "valid_time": datetime(2024, 1, 5, tzinfo=UTC), "value": 1.0},
                {"series_id": 1, "valid_time": datetime(2024, 3, 5, tzinfo=UTC), "value": 2.0},
            ]
        )
    )
    out = td.read(
        series_ids=[1],
        start_valid=datetime(2024, 3, 1, tzinfo=UTC),
        end_valid=datetime(2024, 4, 1, tzinfo=UTC),
    )
    assert [r.value for r in out.collect()] == [2.0]
    # plan must contain a vt_month partition filter (directory-level pruning)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "vt_month" in plan


def _n_files(db, retention: str, vt_month: str) -> int:
    """Live files of one partition, from footer stats: a snapshot store keeps
    superseded files on disk until vacuum, so a directory glob overcounts."""
    return {(s["retention"], s["vt_month"]): s["n_files"] for s in db.partition_stats()}[(retention, vt_month)]


def test_compact_merges_files_and_preserves_data(spark, tmp_path):
    """Many small appends fragment a partition; compact() rewrites it into
    one sorted file with identical data and leaves other partitions alone."""
    import pyarrow.parquet as pq

    for db in each_format(spark, tmp_path):
        for batch in range(6):  # 6 appends → ≥6 files in the Jan partition
            db.write(
                pd.DataFrame(
                    {
                        "series_id": [batch, batch + 10],
                        "valid_time": [datetime(2024, 1, 1 + batch, tzinfo=UTC)] * 2,
                        "value": [float(batch), float(batch) + 0.5],
                    }
                ),
                retention="short",
                knowledge_time=datetime(2024, 1, 20, batch, tzinfo=UTC),
            )
        assert _n_files(db, "short", "202401") >= 6

        before = {tuple(r) for r in db.read(series_ids=list(range(20))).collect()}
        done = db.compact()
        assert "retention=short/vt_month=202401" in done
        assert _n_files(db, "short", "202401") == 1
        after = {tuple(r) for r in db.read(series_ids=list(range(20))).collect()}
        assert after == before

        # compacted file is sorted by the store sort key
        (live,) = db.store._live_files()[1]["retention=short/vt_month=202401"]
        t = pq.read_table(str(live), columns=["series_id", "valid_time"])
        rows = list(zip(t.column(0).to_pylist(), t.column(1).to_pylist()))
        assert rows == sorted(rows)

        # second compact is a no-op (already ≤ threshold)
        assert db.compact() == []


def test_partition_stats_footer_only(spark, tmp_path):
    """Footer-derived stats match the data: counts per partition, min/max
    series and time bounds, file counts that drop after compaction."""
    for db in each_format(spark, tmp_path):
        _check_partition_stats(db)


def _check_partition_stats(db) -> None:
    db.write(
        pd.DataFrame(
            {
                "series_id": [5, 7, 9],
                "valid_time": [
                    datetime(2024, 1, 10, tzinfo=UTC),
                    datetime(2024, 1, 20, tzinfo=UTC),
                    datetime(2024, 2, 5, tzinfo=UTC),
                ],
                "value": [1.0, 2.0, 3.0],
            }
        ),
        retention="short",
    )
    db.write(
        pd.DataFrame(
            {"series_id": [2], "valid_time": [datetime(2024, 1, 15, tzinfo=UTC)], "value": [9.0]}
        ),
        retention="long",
    )
    stats = {(s["retention"], s["vt_month"]): s for s in db.partition_stats()}
    assert set(stats) == {("short", "202401"), ("short", "202402"), ("long", "202401")}
    jan = stats[("short", "202401")]
    assert jan["n_rows"] == 2
    assert (jan["series_id_min"], jan["series_id_max"]) == (5, 7)
    assert jan["valid_time_min"].day == 10 and jan["valid_time_max"].day == 20
    assert stats[("long", "202401")]["n_rows"] == 1
    total = sum(s["n_rows"] for s in stats.values())
    assert total == db.read(series_ids=[2, 5, 7, 9]).count()
    # pyarrow returns TIMESTAMP_MICROS(isAdjustedToUTC) footer stats as
    # tz-AWARE datetimes; partition_stats must collapse them to naive UTC —
    # mixed aware/naive values fed to createDataFrame shipped the gate's
    # only hash-red row in CORRECTNESS_r06. Value AND class both pinned.
    for s in stats.values():
        for k in ("valid_time_min", "valid_time_max"):
            assert s[k] is None or s[k].tzinfo is None, f"{k} must be naive UTC, got {s[k]!r}"
    assert jan["valid_time_min"] == datetime(2024, 1, 10)
    assert jan["n_files"] == 1


# ---------------------------------------------------------------------------
# CSV / JSON landing-zone ingestion
# ---------------------------------------------------------------------------


def test_csv_landing_quarantine_and_ingest(spark, tmp_path):
    from timedb_spark import TimeDB
    from timedb_spark.io.ingest import ingest_landing, read_csv_landing

    land = tmp_path / "land"
    land.mkdir()
    (land / "batch1.csv").write_text(
        "series_id,valid_time,value,retention\n"
        "1,2024-01-02T03:00:00+00:00,10.5,short\n"
        "1,2024-01-02T05:00:00+01:00,11.5,\n"        # offset != UTC → 04:00 UTC
        "2,2024-01-02T03:00:00+00:00,,long\n"        # null value → NaN path, OK
        "3,2024-01-02 03:00:00,1.0,short\n"          # no offset → quarantined
        "4,2024-01-02T03:00:00+00:00,abc,short\n"    # bad value → quarantined
        "x,2024-01-02T03:00:00+00:00,1.0,short\n"    # bad series_id → quarantined
        "5,2024-01-02T03:00:00+00:00,1.0,weekly\n"   # bad retention → quarantined
    )

    batch = read_csv_landing(spark, str(land))
    db = TimeDB(spark, str(tmp_path / "store"))
    db.create()
    res = ingest_landing(db, batch)
    assert res.written == 3 and res.quarantined == 4

    reasons = {r.reject_reason for r in batch.bad.collect()}
    assert reasons == {"bad_valid_time_or_no_offset", "bad_value", "bad_series_id", "bad_retention"}

    got = db.read(series_ids=[1, 2, 3, 4, 5]).collect()
    assert {r.series_id for r in got} == {1, 2}
    s1 = sorted([r for r in got if r.series_id == 1], key=lambda r: r.valid_time)
    # the +01:00 row normalized to 04:00 UTC (offset arithmetic applied)
    assert [(r.valid_time.hour, r.value) for r in s1] == [(3, 10.5), (4, 11.5)]
    # per-row retention honored, null retention → default tier
    ret = {r.series_id: r.retention for r in db.store.read_values().collect()}
    assert ret[2] == "long"


def test_json_landing_malformed_lines_captured(spark, tmp_path):
    from timedb_spark import TimeDB
    from timedb_spark.io.ingest import ingest_landing, read_json_landing

    land = tmp_path / "land"
    land.mkdir()
    (land / "b.jsonl").write_text(
        '{"series_id": 7, "valid_time": "2024-03-01T00:00:00+00:00", "value": 1.25}\n'
        '{"series_id": 7, "valid_time": "2024-03-01T01:00:00+00:00", "value": 2.5}\n'
        "{this is not json\n"
    )
    batch = read_json_landing(spark, str(land))
    db = TimeDB(spark, str(tmp_path / "store"))
    db.create()
    res = ingest_landing(db, batch, retention="medium")
    assert res.written == 2 and res.quarantined == 1
    bad = batch.bad.collect()
    assert bad[0].reject_reason == "malformed_record" and "not json" in bad[0].raw
    vals = sorted(r.value for r in db.read(series_ids=[7]).collect())
    assert vals == [1.25, 2.5]


# ---------------------------------------------------------------------------
# metadata-only count fast path
# ---------------------------------------------------------------------------


def test_fast_count_metadata_only_and_edge_scan(spark, tmp_path):
    for db in each_format(spark, tmp_path):
        _check_fast_count(db)


def _check_fast_count(db) -> None:
    rows = []
    sid = 0
    for month, n in ((1, 10), (2, 20), (3, 30)):
        for d in range(n):
            rows.append((sid, datetime(2024, month, d % 27 + 1, 12, tzinfo=timezone.utc), float(d)))
            sid += 1
    pdf = pd.DataFrame(rows, columns=["series_id", "valid_time", "value"])
    db.write(pdf.iloc[:15], retention="short")
    db.write(pdf.iloc[15:], retention="long")

    def scan_count(**kw):
        df = db.store.read_values()
        if "retention" in kw:
            df = df.filter(df.retention == kw["retention"])
        if "start_valid" in kw:
            df = df.filter(df.valid_time >= kw["start_valid"].replace(tzinfo=None))
        if "end_valid" in kw:
            df = df.filter(df.valid_time < kw["end_valid"].replace(tzinfo=None))
        return df.count()

    # whole-store / whole-tier: answered from footers, no edge months
    assert db.count() == 60 == scan_count()
    assert db.count(retention="short") == scan_count(retention="short") == 15
    assert db.store._last_fast_count_scanned == []

    # month-aligned range: still metadata-only
    feb = datetime(2024, 2, 1, tzinfo=timezone.utc)
    mar = datetime(2024, 3, 1, tzinfo=timezone.utc)
    assert db.count(start_valid=feb, end_valid=mar) == scan_count(start_valid=feb, end_valid=mar) == 20
    assert db.store._last_fast_count_scanned == []

    # misaligned boundary: only the cut months are scanned
    mid_feb = datetime(2024, 2, 15, tzinfo=timezone.utc)
    got = db.count(start_valid=mid_feb)
    assert got == scan_count(start_valid=mid_feb)
    assert {ym for (_, ym) in db.store._last_fast_count_scanned} == {"202402"}


def test_delete_series_rewrites_only_affected_partitions(spark, tmp_path):
    for db in each_format(spark, tmp_path):
        _check_delete_series(db)


def _check_delete_series(db) -> None:
    UTC2 = timezone.utc
    rows = [
        # series 1 and 2 in Jan; series 50 alone in Feb (disjoint id range)
        {"series_id": 1, "valid_time": datetime(2024, 1, 1, tzinfo=UTC2), "value": 1.0},
        {"series_id": 1, "valid_time": datetime(2024, 1, 2, tzinfo=UTC2), "value": 2.0},
        {"series_id": 2, "valid_time": datetime(2024, 1, 1, tzinfo=UTC2), "value": 3.0},
        {"series_id": 50, "valid_time": datetime(2024, 2, 1, tzinfo=UTC2), "value": 4.0},
    ]
    db.write(pd.DataFrame(rows), retention="long")

    rewritten = db.delete_series([1])
    # only the January partition can contain series 1 — February untouched
    assert rewritten == ["retention=long/vt_month=202401"]
    assert db.read(series_ids=[1]).count() == 0
    assert db.read(series_ids=[2]).count() == 1          # survivor in same partition
    assert db.read(series_ids=[50]).count() == 1         # untouched partition
    assert db.read_run_series(series_id=1) == []         # mapping forgotten
    assert db.count() == 2


# -- concurrency (ref test_write_concurrency.py) -----------------------------


def test_concurrent_writes_all_land(td):
    """Parallel writers to one store lose nothing (the reference's
    sessionless-parallel-insert guarantee, ref tests/test_write_concurrency
    .py): each append writes its own files, so no writer can clobber
    another; every row and every run id must surface on read-back."""
    from concurrent.futures import ThreadPoolExecutor

    def write_batch(sid: int) -> WriteResult:
        return td.write(simple_batch(sid * 100.0, sid=sid), retention="short")

    with ThreadPoolExecutor(max_workers=4) as ex:
        results = list(ex.map(write_batch, [1, 2, 3, 4]))
    assert all(r == WriteResult(3, 0) for r in results)

    out = td.read(series_ids=[1, 2, 3, 4]).collect()
    assert len(out) == 12  # 4 series × 3 hours, none lost
    got = {(r.series_id, r.valid_time.hour): r.value for r in out}
    assert got[(2, 1)] == 201.0 and got[(4, 2)] == 402.0
    # one distinct run id per concurrent batch
    assert sum(len(td.read_run_series(series_id=s)) for s in (1, 2, 3, 4)) == 4


def test_stream_landing_exactly_once_with_quarantine(spark, tmp_path):
    """Streaming landing ingest: good rows commit to the snapshot store
    exactly once across micro-batches AND across a checkpoint restart;
    quarantined rows land per-batch with their raw text; a forced replay of
    a committed batch id is a whole-write no-op."""
    from timedb_spark import TimeDB
    from timedb_spark.io.ingest import stream_csv_landing, stream_landing_to_store

    land = tmp_path / "land"
    land.mkdir()
    (land / "a.csv").write_text(
        "series_id,valid_time,value,retention\n"
        "1,2024-01-02T03:00:00+00:00,10.5,short\n"
        "3,2024-01-02 03:00:00,1.0,short\n"  # no offset -> quarantined
    )
    (land / "b.csv").write_text(
        "series_id,valid_time,value,retention\n"
        "2,2024-01-03T03:00:00+00:00,20.5,long\n"
        "x,2024-01-03T03:00:00+00:00,1.0,short\n"  # bad series_id -> quarantined
    )

    db = TimeDB(spark, str(tmp_path / "store"), table_format="snapshot")
    db.create()
    qdir = str(tmp_path / "quarantine")
    ckpt = str(tmp_path / "ckpt")

    raw = stream_csv_landing(spark, str(land), max_files_per_trigger=1)
    n = stream_landing_to_store(raw, db, checkpoint_dir=ckpt, quarantine_dir=qdir)
    assert n >= 2  # one micro-batch per landing file
    vals = db.store.read_values()
    assert vals.count() == 2
    assert {r.series_id for r in vals.select("series_id").collect()} == {1, 2}
    quar = spark.read.parquet(qdir)
    assert quar.count() == 2
    assert {r.reject_reason for r in quar.collect()} == {"bad_valid_time_or_no_offset", "bad_series_id"}

    # restart from the same checkpoint: no new files -> nothing recommitted
    raw2 = stream_csv_landing(spark, str(land))
    stream_landing_to_store(raw2, db, checkpoint_dir=ckpt, quarantine_dir=qdir)
    assert db.store.read_values().count() == 2

    # forced replay of an already-committed batch id: whole-write no-op
    import pandas as pd
    from datetime import datetime, timezone
    replay = pd.DataFrame({
        "series_id": [9],
        "valid_time": [datetime(2024, 1, 5, tzinfo=timezone.utc)],
        "value": [1.0],
    })
    res = db.write(replay, retention="short", txn=("timedb-landing", 0))
    assert res == (0, 0)
    assert db.store.read_values().count() == 2

    # txn against the directory store is rejected loudly
    plain = TimeDB(spark, str(tmp_path / "plain"))
    plain.create()
    import pytest as _pytest
    with _pytest.raises(ValueError, match="snapshot"):
        plain.write(replay, retention="short", txn=("app", 1))


def test_zorder_compaction_tiles_series_and_time(spark, tmp_path):
    """Z-order compaction must leave every FILE covering a bounded 2-D tile
    of (series, time) — both footer stats selective — where linear
    series-major layout necessarily gives some file the partition's full
    time span. Row content is unchanged either way."""
    import pyarrow.parquet as pq

    from timedb_spark import TimeDB

    UTC = timezone.utc

    def build(root):
        db = TimeDB(spark, str(root))
        db.create()
        # 64 series x 64 hours (equal bit-width domains — the morton code's
        # top bits then alternate dimensions) in one month partition
        for chunk in range(4):
            rows = pd.DataFrame(
                [
                    {
                        "series_id": s,
                        "valid_time": datetime(2024, 1, 1, tzinfo=UTC) + timedelta(hours=h),
                        "value": float(s * 1000 + h),
                    }
                    for s in range(64)
                    for h in range(chunk * 16, chunk * 16 + 16)
                ]
            )
            db.write(rows, retention="short")
        return db

    def file_spans(db):
        part = next(db.store.values_path.glob("retention=*/vt_month=*"))
        spans = []
        for f in sorted(part.glob("*.parquet")):
            md = pq.ParquetFile(f).metadata
            idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
            smin = smax = tmin = tmax = None
            for rg in range(md.num_row_groups):
                ss = md.row_group(rg).column(idx["series_id"]).statistics
                ts = md.row_group(rg).column(idx["valid_time"]).statistics
                smin = ss.min if smin is None else min(smin, ss.min)
                smax = ss.max if smax is None else max(smax, ss.max)
                tmin = ts.min if tmin is None else min(tmin, ts.min)
                tmax = ts.max if tmax is None else max(tmax, ts.max)
            spans.append((smax - smin, (tmax - tmin).total_seconds() / 3600))
        return spans

    z = build(tmp_path / "z")
    before = sorted((r.series_id, r.valid_time, r.value) for r in z.store.read_values().collect())
    assert z.compact() == []  # default threshold untouched at 4 files
    assert z.store.compact(max_files_per_partition=0, target_files=16, cluster="zorder") != []
    after = sorted((r.series_id, r.valid_time, r.value) for r in z.store.read_values().collect())
    assert after == before  # clustering never changes content
    zs = file_spans(z)
    assert len(zs) == 16
    # every z-ordered file is a PROPER 2-D tile: well under half of BOTH
    # axis domains (16 files over a 64x64 grid -> ~16x16 tiles)
    assert all(s_span < 32 and t_span < 32 for s_span, t_span in zs), zs

    lin = build(tmp_path / "lin")
    assert lin.store.compact(max_files_per_partition=0, target_files=16, cluster="linear") != []
    ls = file_spans(lin)
    # series-major: series spans are narrow but some file sweeps (nearly)
    # the whole time range — the pruning gap z-order closes
    assert any(t_span >= 60 for _, t_span in ls), ls
    z.delete()
    lin.delete()


def test_filter_unchanged_plans_without_driver_actions(td, monkeypatch):
    """_filter_unchanged must build its plan with ZERO driver round-trips:
    month pruning rides a broadcast semi-join on the partition column and
    the valid_time slab a 1-row broadcast — not collected literals. Guard:
    any .collect()/.toPandas() during plan construction fails the test."""
    from pyspark.sql import DataFrame

    td.write(simple_batch())
    stamped = td.store.read_values().drop("vt_month")

    def _no_collect(self, *a, **k):
        raise AssertionError("driver action during _filter_unchanged plan construction")

    monkeypatch.setattr(DataFrame, "collect", _no_collect)
    monkeypatch.setattr(DataFrame, "toPandas", _no_collect)
    out = td._filter_unchanged(stamped, scope="valid_time")  # plan only
    monkeypatch.undo()
    # and the plan still computes the right answer: full rewrite -> all drop
    assert out.count() == 0


# -- delta passthrough (gated: requires delta-spark, VERDICT r4 task #6) ----


def test_delta_store_gate_or_roundtrip(spark, tmp_path):
    """table_format='delta' maps the Store surface onto delta-spark
    (deltastore.py). Without the package the gate must be LOUD and precise;
    with it, the same write→read roundtrip as the other two formats."""
    from timedb_spark.deltastore import DELTA_MISSING

    if DELTA_MISSING:
        with pytest.raises(NotImplementedError) as ei:
            TimeDB(spark, str(tmp_path / "tdb"), table_format="delta")
        assert "delta-spark" in str(ei.value)
        pytest.skip(f"delta passthrough gated: missing {DELTA_MISSING}")

    db = TimeDB(spark, str(tmp_path / "tdb"), table_format="delta")
    db.create()
    db.write(simple_batch(), retention="short")
    got = read_pd(db.read(series_ids=[1]))
    assert len(got) == 3
    assert db.store.fast_count() == 3
    db.delete()


def test_delta_log_liveness_is_latest_action_not_ever_removed(spark, tmp_path):
    """_live_adds resolves file liveness by MAX commit version of add vs
    remove actions, not a blanket "ever removed" anti-join (ADVICE r5): a
    path re-added after a remove (RESTORE / time-travel re-commit) is live
    again. Pure log-JSON parsing — runs without delta-spark."""
    import json

    from timedb_spark.deltastore import _live_adds

    logdir = tmp_path / "series_values" / "_delta_log"
    logdir.mkdir(parents=True)

    def add(path, n):
        return json.dumps({"add": {"path": path, "partitionValues": {
            "retention": "short", "vt_month": "202401"},
            "stats": json.dumps({"numRecords": n})}})

    def remove(path):
        return json.dumps({"remove": {"path": path}})

    # v0: files A (10 rows) + B (5 rows); v1: compaction removes A, adds C
    # (10 rows); v2: A re-added (RESTORE semantics).
    (logdir / "00000000000000000000.json").write_text(add("A", 10) + "\n" + add("B", 5))
    (logdir / "00000000000000000001.json").write_text(remove("A") + "\n" + add("C", 10))
    (logdir / "00000000000000000002.json").write_text(add("A", 10))

    live = {r["path"]: r["numRecords"] for r in _live_adds(spark, tmp_path / "series_values").collect()}
    # the old anti-join dropped A forever; latest-action liveness keeps it
    assert live == {"A": 10, "B": 5, "C": 10}

    # v3: B removed — and stays dead (remove version > its add version)
    (logdir / "00000000000000000003.json").write_text(remove("B"))
    live2 = {r["path"]: r["numRecords"] for r in _live_adds(spark, tmp_path / "series_values").collect()}
    assert live2 == {"A": 10, "C": 10}


def test_compact_zorder_gate_store_really_compacts(spark):
    """The store_compact_zorder GATE query only proves invariance if the
    rewrite actually happened — a store that never fragmented would make
    pre==post vacuously true. Pin the wrapper's mechanics at sf0.001: the
    two interleaved appends leave >1 file in every partition, compact()
    touches every partition, and afterwards each holds exactly one
    z-ordered file (target_files=1) with the SAME per-partition row count
    the pre fingerprint recorded."""
    import __spark_entry__ as entrymod

    st, pre, n_compacted = entrymod._materialized_compact_store(
        spark, "/root/testdata/sf0.001"
    )
    parts = sorted(st.values_path.glob("retention=*/vt_month=*"))
    assert parts, "gate store has no partitions"
    assert n_compacted == len(parts), "compact() skipped fragmented partitions"
    for p in parts:
        assert len(list(p.glob("*.parquet"))) == 1, f"{p} not rewritten to one file"
    pre_counts = {(r[1], r[2]): r[3] for r in pre}  # (retention, vt_month) -> n_rows
    post = {
        (r["retention"], r["vt_month"]): r["n_rows"]
        for r in entrymod._compact_partition_agg(st.read_values()).collect()
    }
    assert post == pre_counts


def test_retention_ttl_gate_store_drops_exactly_short(spark):
    """The store_retention_ttl GATE query only proves the sweep if something
    actually aged out AND something survived. Pin the wrapper's mechanics at
    sf0.001: under the pinned today (2026-06-01) apply_retention drops
    exactly the short tier's single 202401 partition (last day 2024-01-31 +
    180d TTL = 2024-07-29 < today), the directory is gone from disk, the
    survivors (medium/long/forever) match the pre fingerprint row-for-row,
    and the sweep touched no data files (whole-directory drop, zero IO)."""
    import __spark_entry__ as entrymod

    st, pre, dropped = entrymod._materialized_ttl_store(spark, "/root/testdata/sf0.001")
    assert dropped == ["retention=short/vt_month=202401"]
    assert not list((st.values_path / "retention=short").glob("vt_month=*"))
    pre_counts = {(r[1], r[2]): r[3] for r in pre}  # (retention, vt_month) -> n_rows
    assert ("short", "202401") in pre_counts, "pre fingerprint must include the tier that ages out"
    post = {
        (r["retention"], r["vt_month"]): r["n_rows"]
        for r in entrymod._compact_partition_agg(st.read_values()).collect()
    }
    assert post == {k: v for k, v in pre_counts.items() if k[0] != "short"}
