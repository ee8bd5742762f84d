"""The protobuf discovery/shim layer behind the v2 state API
(streaming/_proto_compat.py + _protoshim/sitecustomize.py).

These tests pin the CONTRACT, not the environment: whatever this machine
has, (a) the probe's answer must agree with whether google.protobuf
actually imports afterwards, (b) a successful vendored probe must leave
the worker-side breadcrumbs (TIMEDB_PROTOBUF_DIR + the shim on
PYTHONPATH), and (c) the failure message must name every candidate tried
so a closed gate is always diagnosable from the skip text alone.
"""

from __future__ import annotations

import os
import subprocess
import sys

from timedb_spark.streaming import _proto_compat

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_probe_result_matches_importability():
    got = _proto_compat.ensure_protobuf()
    try:
        import google.protobuf  # noqa: F401

        importable = True
    except ImportError:
        importable = False
    assert (got == "") == importable


def test_success_exports_worker_breadcrumbs():
    if _proto_compat.ensure_protobuf() != "":
        return  # covered by the failure-path test below
    try:
        import google.protobuf  # noqa: F401
    except ImportError:
        raise AssertionError("probe returned success but import fails")
    # a pip-installed protobuf needs no env; a vendored one must leave both
    # breadcrumbs so workers forked by a later JVM pick it up
    import importlib.util

    spec = importlib.util.find_spec("google.protobuf")
    vendored = "site-packages" not in (spec.origin or "")
    if vendored:
        d = os.environ.get("TIMEDB_PROTOBUF_DIR")
        assert d and os.path.isdir(os.path.join(d, "google", "protobuf"))
        assert _proto_compat._SHIM_DIR in os.environ.get("PYTHONPATH", "").split(os.pathsep)


def test_failure_message_names_every_candidate_tried():
    """Run the probe in a clean subprocess with discovery pointed at a
    bogus dir and the real candidates masked — the message must be precise
    (names the tried paths and why each failed)."""
    code = """
import os, sys
sys.path.insert(0, sys.argv[1])  # the checkout under test
from timedb_spark.streaming import _proto_compat as pc
pc._probed = None
pc._CANDIDATE_DIRS[:] = ["/nonexistent/sdk"]
os.environ.pop("TIMEDB_PROTOBUF_DIR", None)
# mask a pip-installed protobuf if present so the fallback path runs
import importlib.util
if importlib.util.find_spec("google.protobuf") is not None:
    print("PIPINSTALLED")
else:
    msg = pc.ensure_protobuf()
    assert "not installed" in msg and "/nonexistent/sdk" in msg, msg
    print("OK:" + msg[:80])
"""
    env = {k: v for k, v in os.environ.items() if k not in ("PYTHONPATH", "TIMEDB_PROTOBUF_DIR")}
    out = subprocess.run([sys.executable, "-c", code, ROOT], capture_output=True, text=True, env=env)
    assert out.returncode == 0, out.stderr[-500:]
    assert out.stdout.startswith(("OK:", "PIPINSTALLED"))


def test_lenient_validator_scoped_to_pyspark_protos():
    """The same-major leniency must apply ONLY to PySpark-generated pb2
    modules (identified by their proto-file location); any other protobuf
    consumer in the process keeps the strict upstream version check
    (ADVICE r5: the patch used to be process-wide for all users)."""
    if _proto_compat.ensure_protobuf() != "":
        return  # no protobuf on this machine; nothing was patched
    try:
        from google.protobuf import runtime_version as rv
    except ImportError:
        return  # pre-5.27 runtime: no validator exists, nothing patched
    _proto_compat._patch_validator()

    minor_ahead = rv.MINOR + 1
    # PySpark location + same-major minor skew → lenient (no raise)
    rv.ValidateProtobufRuntimeVersion(
        rv.Domain.PUBLIC, rv.MAJOR, minor_ahead, 0, "",
        "org/apache/spark/sql/execution/streaming/StateMessage.proto",
    )
    # foreign location + the SAME skew → still strict
    try:
        rv.ValidateProtobufRuntimeVersion(
            rv.Domain.PUBLIC, rv.MAJOR, minor_ahead, 0, "", "my/app/thing.proto"
        )
        raise AssertionError("foreign-gencode version skew was not rejected")
    except rv.VersionError:
        pass
    # cross-major → strict even for PySpark locations
    try:
        rv.ValidateProtobufRuntimeVersion(
            rv.Domain.PUBLIC, rv.MAJOR + 1, 0, 0, "",
            "org/apache/spark/sql/execution/streaming/StateMessage.proto",
        )
        raise AssertionError("cross-major version skew was not rejected")
    except rv.VersionError:
        pass


def test_probe_opt_out_leaves_environment_untouched():
    """TIMEDB_NO_PROTOBUF_PROBE=1 must disable all env/sys.path side effects
    of the vendoring path (ADVICE r5: a library import should offer a way
    not to mutate the host process) while an installed protobuf still
    counts via the side-effect-free import check."""
    code = """
import os, sys
os.environ["TIMEDB_NO_PROTOBUF_PROBE"] = "1"
sys.path.insert(0, sys.argv[1])  # the checkout under test
import importlib.util
from timedb_spark.streaming import _proto_compat as pc
pc._probed = None
msg = pc.ensure_protobuf()
try:
    installed = importlib.util.find_spec("google.protobuf") is not None
except ModuleNotFoundError:  # no 'google' namespace at all
    installed = False
if installed:
    assert msg == "", msg  # installed protobuf: opt-out changes nothing
else:
    assert "TIMEDB_NO_PROTOBUF_PROBE" in msg, msg
    assert "TIMEDB_PROTOBUF_DIR" not in os.environ
    assert pc._SHIM_DIR not in os.environ.get("PYTHONPATH", "").split(os.pathsep)
print("OK")
"""
    env = {k: v for k, v in os.environ.items() if k not in ("PYTHONPATH", "TIMEDB_PROTOBUF_DIR")}
    out = subprocess.run([sys.executable, "-c", code, ROOT], capture_output=True, text=True, env=env)
    assert out.returncode == 0, out.stderr[-500:]
    assert out.stdout.strip() == "OK"


def test_shim_is_noop_safe_without_env():
    """sitecustomize must never break an interpreter that lacks the env
    vars (every python process on a machine with our PYTHONPATH runs it)."""
    shim = os.path.join(_proto_compat._SHIM_DIR, "sitecustomize.py")
    env = {k: v for k, v in os.environ.items() if k not in ("PYTHONPATH", "TIMEDB_PROTOBUF_DIR")}
    out = subprocess.run(
        [sys.executable, shim], capture_output=True, text=True, env=env
    )
    assert out.returncode == 0, out.stderr[-500:]
