"""Start-up hook for the Python processes Spark starts.

Python imports ``sitecustomize`` automatically at interpreter start-up, so
a directory holding one runs it in every process whose ``PYTHONPATH``
names that directory: the TWS "driver worker", the worker daemon and the
task workers alike, before any of them imports pyspark. Two routes put
THIS directory there:

- ``timedb_spark.session.ensure_package_shipped`` adds it to
  ``sc.environment["PYTHONPATH"]``, which Spark hands to every Python
  process it starts for the session's functions (``TIMEDB_PROTOBUF_DIR``
  rides ``sc.environment`` beside it, so this holds for a session whose
  JVM started before the package was imported);
- ``timedb_spark.streaming._proto_compat.ensure_protobuf`` prepends it to
  the process's own ``PYTHONPATH`` when it vendors a protobuf runtime,
  before the JVM (and hence every Python process it forks) starts.

Two actions:

1. Always: load pyspark and py4j from an installed copy's bytecode rather
   than from Spark's source zips, when that copy is the same version
   (``timedb_pyspark_bytecode`` beside this file); otherwise ``sys.path``
   stays as it is.
2. Only when ``TIMEDB_PROTOBUF_DIR`` is set (``ensure_protobuf`` exports
   it, ``ensure_package_shipped`` passes it on): append that directory to ``sys.path`` (APPEND, not prepend: a real
   site-packages protobuf always wins), and make the protobuf
   gencode/runtime version check lenient WITHIN a major version, for
   PySpark's own pb2 modules only (``timedb_protobuf_leniency`` beside
   this file; the driver loads the same module).

Then it chain-loads the ``sitecustomize`` this one shadows, if any.
"""

import os
import sys

from timedb_pyspark_bytecode import prefer_installed_pyspark

prefer_installed_pyspark(sys.path)

_d = os.environ.get("TIMEDB_PROTOBUF_DIR")
if _d:
    if os.path.isdir(os.path.join(_d, "google", "protobuf")) and _d not in sys.path:
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
