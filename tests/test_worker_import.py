"""Workers must import ``timedb_spark`` regardless of the driver's cwd.

applyInPandas / applyInPandasWithState functions are module-level and
cloudpickle serialises them BY REFERENCE, so the Python workers re-import
the package. Before ``ensure_package_shipped`` (session.py), that import
silently relied on the driver's cwd being the repo root (workers inherit
cwd on sys.path in local mode) — a driver-session run from any other
directory died with ``ModuleNotFoundError: timedb_spark`` inside the task.
This test runs a Pandas-UDF-backed query from a foreign cwd in a bare
subprocess session to pin the addPyFile shipping path.
"""

import subprocess
import sys
import textwrap
from pathlib import Path

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
