"""Discover a usable ``google.protobuf`` runtime for the state API v2.

The v2 stateful API (``transformWithStateInPandas``) requires protobuf in
every Spark Python process. This environment has no pip ``protobuf`` and no
network, but public SDK bundles on disk ship a pure-Python runtime that is
wire-compatible with PySpark's generated ``StateMessage_pb2`` (same major
version, one minor behind). ``ensure_protobuf()``:

1. Returns "" immediately if ``google.protobuf`` already imports (normal
   install — nothing to do, workers have it too).
2. Otherwise scans ``TIMEDB_PROTOBUF_DIR`` (user override) then a short
   list of known public-SDK locations for a ``google/protobuf`` tree,
   appends the first importable one to ``sys.path``, applies the lenient
   same-major version check (``_protoshim/timedb_protobuf_leniency.py``), and
   exports ``TIMEDB_PROTOBUF_DIR`` + prepends the shim directory to
   ``PYTHONPATH`` so Python workers forked by a LATER-started JVM pick the
   runtime up via ``sitecustomize`` (the one import hook that runs during
   worker bootstrap, before the pb2 modules load).
3. Returns a precise failure string when no runtime works — surfaced
   verbatim in test-skip messages and the ``NotImplementedError`` gate so
   every probe records WHY the gate is closed.

``session.get_spark`` calls it before the JVM launches, whose environment
every worker inherits; for a session whose JVM started first,
``session.ensure_package_shipped`` passes ``TIMEDB_PROTOBUF_DIR`` to the
workers through ``sc.environment``.
"""

from __future__ import annotations

import importlib.util
import os
import sys

#: known public locations of a vendorable pure-Python protobuf runtime
_CANDIDATE_DIRS = [
    "/usr/lib/google-cloud-sdk/platform/google_appengine",
    "/usr/lib64/google-cloud-sdk/platform/google_appengine",
    "/opt/google-cloud-sdk/platform/google_appengine",
]

_SHIM_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "_protoshim")

_probed: str | None = None


def _patch_validator() -> None:
    """Apply the same-major leniency, scoped to PySpark's own pb2 modules,
    in this process: the shim directory's ``timedb_protobuf_leniency`` (the
    module workers import from ``sitecustomize``), loaded by path."""
    name = "timedb_protobuf_leniency"
    if name not in sys.modules:
        spec = importlib.util.spec_from_file_location(name, os.path.join(_SHIM_DIR, name + ".py"))
        sys.modules[name] = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(sys.modules[name])
    sys.modules[name].patch_validator()


def ensure_protobuf() -> str:
    """Make ``google.protobuf`` importable here and in future Spark workers.

    Returns "" on success, else the exact unmet precondition. Idempotent;
    the result is cached (path/env mutations only ever happen once).
    """
    global _probed
    if _probed is not None:
        return _probed

    try:
        import google.protobuf  # noqa: F401

        _probed = ""
        return _probed
    except ImportError:
        pass

    if os.environ.get("TIMEDB_NO_PROTOBUF_PROBE"):
        # Explicit opt-out for hosts that must not have their environment
        # touched by a library import (ADVICE r5): no sys.path / PYTHONPATH
        # mutation, no validator patch; the v2 gate stays closed with this
        # exact reason. NOT cached in _probed — unsetting the var re-enables
        # the probe on the next call. (The import check above is
        # side-effect-free, so a pip-installed protobuf still counts.)
        return (
            "TIMEDB_NO_PROTOBUF_PROBE is set: vendored-runtime discovery "
            "disabled; install the 'protobuf' package to use the state API v2"
        )

    candidates = []
    if os.environ.get("TIMEDB_PROTOBUF_DIR"):
        candidates.append(os.environ["TIMEDB_PROTOBUF_DIR"])
    candidates += _CANDIDATE_DIRS

    tried: list[str] = []
    for d in candidates:
        if not os.path.isfile(os.path.join(d, "google", "protobuf", "__init__.py")):
            tried.append(f"{d} (no google/protobuf tree)")
            continue
        sys.path.append(d)
        try:
            import google.protobuf  # noqa: F401
        except ImportError as e:
            sys.path.remove(d)
            tried.append(f"{d} (import failed: {e})")
            continue
        _patch_validator()
        os.environ["TIMEDB_PROTOBUF_DIR"] = d
        # Prepend the shim dir so sitecustomize runs in every worker the
        # (not-yet-started) JVM forks. A JVM that already runs gets both
        # through sc.environment (session.ensure_package_shipped).
        prev = os.environ.get("PYTHONPATH", "")
        if _SHIM_DIR not in prev.split(os.pathsep):
            os.environ["PYTHONPATH"] = _SHIM_DIR + (os.pathsep + prev if prev else "")
        _probed = ""
        return _probed

    _probed = (
        "python package 'protobuf' (import google.protobuf) not installed and no "
        "vendorable runtime found; tried: " + "; ".join(tried)
    )
    return _probed
