"""Workers must import ``timedb_spark`` regardless of the driver's cwd.

applyInPandas / applyInPandasWithState functions are module-level and
cloudpickle serialises them BY REFERENCE, so the Python workers re-import
the package. Before ``ensure_package_shipped`` (session.py), that import
silently relied on the driver's cwd being the repo root (workers inherit
cwd on sys.path in local mode) — a driver-session run from any other
directory died with ``ModuleNotFoundError: timedb_spark`` inside the task.
This test runs a Pandas-UDF-backed query from a foreign cwd in a bare
subprocess session to pin the addPyFile shipping path. The v2 state API
adds a driver-side runner that sees no addPyFile include; the second test
drains a ``stream_latest_state_v2`` query from a foreign cwd to pin it. The
third pins that sessions share one shipped zip. The fourth drains a v2
query in a session whose JVM started before the package was imported, and
the fifth pins that v2 drains log no per-key warning.
"""

import os
import subprocess
import sys
import textwrap
from pathlib import Path

import pytest

ROOT = str(Path(__file__).resolve().parents[1])


def test_worker_import_is_cwd_independent(tmp_path):
    script = textwrap.dedent(
        """
        import sys
        sys.path.insert(0, sys.argv[1])  # the checkout under test
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[2]")
            .config("spark.sql.shuffle.partitions", "2")
            .config("spark.ui.enabled", "false")
            .appName("cwd-independence")
            .getOrCreate()
        )
        from timedb_spark.operators import timeseries

        # holt_winters routes through applyInPandas -> workers must import
        # the package to unpickle its module-level smoothing function.
        n = timeseries.holt_winters(spark, "/root/testdata/sf0.001").count()
        assert n > 0, n
        spark.stop()
        print("WORKER_IMPORT_OK")
        """
    )
    r = subprocess.run(
        [sys.executable, "-c", script, ROOT],
        cwd=str(tmp_path),
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert "WORKER_IMPORT_OK" in r.stdout, (r.stdout[-1000:], r.stderr[-3000:])


def test_v2_driver_runner_import_is_cwd_independent(tmp_path):
    script = textwrap.dedent(
        """
        import sys
        sys.path.insert(0, sys.argv[1])  # the checkout under test
        from pyspark.sql import functions as F
        from timedb_spark.session import get_spark
        from timedb_spark.streaming import run_available_now
        from timedb_spark.streaming.state_v2 import stream_latest_state_v2

        spark = get_spark("v2-cwd-independence", extra_conf={
            "spark.sql.shuffle.partitions": "2",
            "spark.sql.streaming.stateStore.providerClass":
                "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        })
        rows = [(1, "2024-01-01 00:00", "2024-01-01 00:00", 1.0),
                (1, "2024-01-01 01:00", "2024-01-02 00:00", 2.0),
                (2, "2024-01-01 00:00", "2024-01-01 00:00", 3.0)]
        sv = spark.createDataFrame(rows, "series_id long, vt string, kt string, value double").select(
            "series_id", F.to_timestamp("vt").alias("valid_time"),
            F.to_timestamp("kt").alias("knowledge_time"),
            F.to_timestamp("kt").alias("change_time"), "value")
        sv.write.parquet(sys.argv[2])
        stream = spark.readStream.schema(sv.schema).parquet(sys.argv[2])
        got = sorted((r.series_id, r.value) for r in
                     run_available_now(stream_latest_state_v2(stream), "update").collect())
        assert got == [(1, 2.0), (2, 3.0)], got
        spark.stop()
        print("V2_DRIVER_IMPORT_OK")
        """
    )
    # a PYTHONPATH naming the checkout would hide the bug this pins
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    r = subprocess.run(
        [sys.executable, "-c", script, ROOT, str(tmp_path / "sv")],
        cwd=str(tmp_path),
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert "V2_DRIVER_IMPORT_OK" in r.stdout, (r.stdout[-1000:], r.stderr[-3000:])


def test_package_zip_is_reused_across_sessions(tmp_path):
    """Each SparkContext ships the package as a zip that executors fetch
    from its path; sessions of one checkout share one hash-named zip
    instead of leaving a new one in the temp directory per session."""
    script = textwrap.dedent(
        """
        import sys
        sys.path.insert(0, sys.argv[1])  # the checkout under test
        from timedb_spark.session import get_spark

        for i in range(2):
            spark = get_spark(f"zip-reuse-{i}", extra_conf={"spark.sql.shuffle.partitions": "2"})
            assert spark.range(3).count() == 3
            spark.stop()
        print("ZIP_CYCLES_OK")
        """
    )
    env = dict(os.environ, TMPDIR=str(tmp_path))
    r = subprocess.run(
        [sys.executable, "-c", script, ROOT], env=env, capture_output=True, text=True, timeout=300
    )
    assert "ZIP_CYCLES_OK" in r.stdout, (r.stdout[-1000:], r.stderr[-3000:])
    shipped = sorted(p.name for p in tmp_path.iterdir() if p.name.startswith("timedb_spark_pkg_"))
    assert len(shipped) == 1 and shipped[0].endswith(".zip"), shipped


def _run_clean(script: str) -> subprocess.CompletedProcess:
    """``script`` in a fresh interpreter with ``PYTHONPATH`` and
    ``TIMEDB_PROTOBUF_DIR`` unset (this process's ``ensure_protobuf`` may
    have set both): either would reach the JVM's environment and hide what
    these tests pin."""
    env = {k: v for k, v in os.environ.items() if k not in ("PYTHONPATH", "TIMEDB_PROTOBUF_DIR")}
    return subprocess.run(
        [sys.executable, "-c", textwrap.dedent(script), ROOT],
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )


def _errors(r: subprocess.CompletedProcess) -> list[str]:
    """The stderr lines naming an error: a drain's root cause sits far
    above the tail of its stack traces."""
    return [line for line in r.stderr.splitlines() if "Error" in line][-10:]


def _require_tws():
    from timedb_spark.streaming import state_v2

    if not state_v2._HAVE_TWS:
        pytest.skip(f"state API v2 unavailable: {state_v2._TWS_MISSING}")


def test_v2_drain_in_session_started_before_import():
    """A session built before ``timedb_spark`` is imported has a JVM whose
    environment froze without the vendored protobuf runtime. The runtime's
    directory reaches its Python processes through ``sc.environment``, so
    the v2 funnel drains there and equals the v1 funnel's rows."""
    _require_tws()
    r = _run_clean(
        """
        import sys
        sys.path.insert(0, sys.argv[1])  # the checkout under test
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[2]")
            .config("spark.ui.enabled", "false")
            .appName("pre-started-session")
            .getOrCreate()
        )
        import __spark_entry__ as entry

        sf = "/root/testdata/sf0.001"
        v2 = sorted(map(repr, entry._q_stream_funnel_v2(spark, sf).collect()))
        v1 = sorted(map(repr, entry._q_stream_funnel(spark, sf).collect()))
        assert v2 and v2 == v1, (len(v2), len(v1))
        spark.stop()
        print("PRESTARTED_V2_OK")
        """
    )
    assert "PRESTARTED_V2_OK" in r.stdout, (r.stdout[-1000:], _errors(r))


def test_v2_drains_log_no_per_key_warnings():
    """Two per-key WARN lines reported no fault: the JVM state server's
    for each key whose v2 state is still empty (the session sets that
    logger to ERROR), and the timer service's for the funnel's delete of
    the timer that is firing, which pyspark deletes itself afterwards. A
    sessionize and a funnel drain print neither."""
    _require_tws()
    r = _run_clean(
        """
        import sys
        sys.path.insert(0, sys.argv[1])  # the checkout under test
        import __spark_entry__ as entry
        from timedb_spark.session import get_spark

        spark = get_spark("v2-quiet", extra_conf={"spark.sql.shuffle.partitions": "2"})
        for q in ("stream_sessionize_v2", "stream_funnel_v2"):
            assert entry.queries()[q](spark, "/root/testdata/sf0.001").count() > 0, q
        spark.stop()
        print("V2_DRAINS_OK")
        """
    )
    assert "V2_DRAINS_OK" in r.stdout, (r.stdout[-1000:], _errors(r))
    assert "doesn't contain a value" not in r.stderr, r.stderr[-3000:]
    assert "Failed to delete timer" not in r.stderr, r.stderr[-3000:]
