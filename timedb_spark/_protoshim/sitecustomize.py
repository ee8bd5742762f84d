"""Worker-side protobuf shim for the Spark 4 state API v2.

``transformWithStateInPandas`` talks a protobuf-framed protocol between the
Python worker and the JVM state server, so every Spark Python process needs
``google.protobuf`` importable. In environments without the pip package but
with a vendorable pure-Python runtime on disk (e.g. a public SDK bundle),
``timedb_spark.streaming._proto_compat.ensure_protobuf`` discovers the
runtime, exports its directory as ``TIMEDB_PROTOBUF_DIR``, and puts THIS
directory on ``PYTHONPATH`` before the JVM (and hence every Python worker it
forks) starts. Python imports ``sitecustomize`` automatically at interpreter
startup, which makes this the one hook that runs in the TWS "driver worker"
and the regular task workers alike — processes ``addPyFile`` does not reach
early enough (the pb2 modules import during worker bootstrap).

Two actions, both no-ops when not needed:

1. Append ``TIMEDB_PROTOBUF_DIR`` to ``sys.path`` (APPEND, not prepend: a
   real site-packages protobuf always wins).
2. Make the protobuf gencode/runtime version check lenient WITHIN a major
   version, for PySpark's own pb2 modules only (``timedb_protobuf_leniency``
   beside this file; the driver loads the same module).
"""

import os
import sys

_d = os.environ.get("TIMEDB_PROTOBUF_DIR")
if _d and os.path.isdir(os.path.join(_d, "google", "protobuf")) and _d not in sys.path:
    sys.path.append(_d)

try:
    from timedb_protobuf_leniency import patch_validator

    patch_validator()
except Exception:  # pragma: no cover - a broken runtime must not kill start-up
    pass

# Chain-load the sitecustomize this shim shadows, if any: Python imports
# only ONE sitecustomize module, and this directory sits first on
# PYTHONPATH — without chaining, an environment that relies on its own
# sitecustomize (coverage subprocess hooks, cert/proxy setup) would
# silently lose it in every process that inherits our env.
try:
    import runpy

    _here = os.path.dirname(os.path.abspath(__file__))
    for _p in sys.path:
        if not _p or os.path.abspath(_p) == _here:
            continue
        _cand = os.path.join(_p, "sitecustomize.py")
        if os.path.isfile(_cand):
            runpy.run_path(_cand, run_name="sitecustomize_chained")
            break
except Exception:  # pragma: no cover - a broken foreign hook must not kill us
    pass
