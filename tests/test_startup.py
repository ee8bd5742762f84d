"""Start-up of the Python processes Spark starts.

``_protoshim/sitecustomize.py`` runs in each of them: it moves Spark's
``pyspark.zip`` / ``py4j-*-src.zip`` behind an installed copy of the same
version (``timedb_pyspark_bytecode``) and chain-loads the sitecustomize it
shadows. The subprocess tests below build that ``sys.path`` with fake zips
on ``PYTHONPATH``, the way Spark's ``PythonWorkerFactory`` does.

The driver-side transformWithState runner only unpickles a processor and
calls its ``init()``, so unpickling one must not import pandas, pyarrow or
the client; the package's public names load lazily on first access.
"""

from __future__ import annotations

import importlib.util
import json
import os
import subprocess
import sys
import zipfile

import pytest

from timedb_spark.streaming._proto_compat import _SHIM_DIR

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_REPORT = """
import json, sys, pyspark, py4j
print(json.dumps({"path": sys.path, "pyspark": pyspark.__file__, "py4j": py4j.__file__}))
"""


def _installed_version_py(pkg):
    origin = importlib.util.find_spec(pkg).origin
    with open(os.path.join(os.path.dirname(origin), "version.py"), "rb") as fh:
        return fh.read()


def _spark_zips(lib, pyspark_version_py):
    """Fake ``python/lib`` zips of a Spark install: their ``__init__`` files
    differ from the installed copies, so the copy that loads shows."""
    os.makedirs(lib, exist_ok=True)
    zips = [os.path.join(lib, "pyspark.zip"), os.path.join(lib, "py4j-0.10.9.9-src.zip")]
    for zpath, pkg, version_py in zip(
        zips, ("pyspark", "py4j"), (pyspark_version_py, _installed_version_py("py4j"))
    ):
        with zipfile.ZipFile(zpath, "w") as zf:
            zf.writestr(f"{pkg}/__init__.py", "from .version import __version__\n")
            zf.writestr(f"{pkg}/version.py", version_py)
    return zips


def _start(pythonpath, code=_REPORT):
    env = {k: v for k, v in os.environ.items() if k not in ("PYTHONPATH", "TIMEDB_PROTOBUF_DIR")}
    env["PYTHONPATH"] = os.pathsep.join(pythonpath)
    r = subprocess.run([sys.executable, "-c", code], capture_output=True, text=True, env=env, timeout=120)
    assert r.returncode == 0, r.stderr[-2000:]
    assert not r.stderr, r.stderr[-2000:]  # an error in sitecustomize is only printed
    return r.stdout


def test_other_pyspark_version_leaves_sys_path_untouched(tmp_path):
    zips = _spark_zips(str(tmp_path / "lib"), b'__version__: str = "0.0.other"\n')
    plain = tmp_path / "plain"
    plain.mkdir()
    shimmed = json.loads(_start(zips + [_SHIM_DIR]))
    bare = json.loads(_start(zips + [str(plain)]))
    assert shimmed["path"] == [_SHIM_DIR if p == str(plain) else p for p in bare["path"]]
    assert shimmed["pyspark"] == os.path.join(zips[0], "pyspark", "__init__.py")


def test_same_pyspark_version_loads_from_bytecode(tmp_path):
    zips = _spark_zips(str(tmp_path / "lib"), _installed_version_py("pyspark"))
    got = json.loads(_start(zips + [_SHIM_DIR]))
    assert ".zip" not in got["pyspark"] and ".zip" not in got["py4j"]
    assert got["pyspark"] == importlib.util.find_spec("pyspark").origin
    site = os.path.dirname(os.path.dirname(got["pyspark"]))
    path = got["path"]
    assert path.index(site) < path.index(zips[0]) < path.index(zips[1])


def test_foreign_sitecustomize_is_chain_loaded(tmp_path):
    foreign = tmp_path / "foreign"
    foreign.mkdir()
    (foreign / "sitecustomize.py").write_text("import builtins\nbuiltins.FOREIGN_HOOK_RAN = True\n")
    out = _start([_SHIM_DIR, str(foreign)], "import builtins; print(getattr(builtins, 'FOREIGN_HOOK_RAN', False))")
    assert out.strip() == "True"


def test_unpickling_v2_processor_skips_pandas_and_client():
    from pyspark import cloudpickle

    from timedb_spark.streaming import state_v2

    if not state_v2._HAVE_TWS:
        pytest.skip(f"state API v2 unavailable: {state_v2._TWS_MISSING}")
    code = """
import pickle, sys
sys.path.insert(0, sys.argv[1])
processor = pickle.loads(sys.stdin.buffer.read())
# init() then asks for the wire codec: its version check must not import them either
from timedb_spark.streaming._tws_fastpath import _get_codec
assert _get_codec() is not None
print(type(processor).__name__, sorted(
    m for m in ("pandas", "pyarrow", "timedb_spark.client") if m in sys.modules))
"""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    r = subprocess.run(
        [sys.executable, "-c", code, ROOT],
        input=cloudpickle.dumps(state_v2.LatestProcessor(True)),
        capture_output=True,
        env=env,
        timeout=120,
    )
    assert r.returncode == 0, r.stderr.decode()[-2000:]
    assert r.stdout.decode().strip() == "LatestProcessor []"


def test_public_names_resolve_lazily():
    code = """
import sys
sys.path.insert(0, sys.argv[1])
import timedb_spark
import timedb_spark.streaming as st
assert "timedb_spark.client" not in sys.modules
from timedb_spark import TimeDB, get_spark, SeriesMeta
assert TimeDB.__module__ == "timedb_spark.client"
assert all(getattr(timedb_spark, n) is not None for n in timedb_spark.__all__)
assert all(callable(getattr(st, n)) for n in st.__all__)
assert set(timedb_spark.__all__) <= set(dir(timedb_spark))
assert set(st.__all__) <= set(dir(st))
print("RESOLVED")
"""
    r = subprocess.run([sys.executable, "-c", code, ROOT], capture_output=True, text=True, timeout=120)
    assert r.stdout.strip() == "RESOLVED", r.stderr[-2000:]
