"""Load pyspark from bytecode in the Python processes Spark starts.

Spark's ``PythonWorkerFactory`` puts ``$SPARK_HOME/python/lib/pyspark.zip``
and ``py4j-<version>-src.zip`` first on ``sys.path`` of every Python
process it starts: task workers, their daemon and the driver-side
transformWithState runner. ``zipimport`` caches no bytecode, so each of
those processes compiles the pyspark sources it imports again. Measured on
a 4-core VM with pyspark 4.1.2, ``from pyspark import worker`` plus the
state API client takes 0.95 s from the zip and about 0.2 s from an
installed copy's ``.pyc`` files.

:func:`prefer_installed_pyspark` moves the two zip entries behind the
later ``sys.path`` entries that provide ``pyspark`` and ``py4j``, when
those provide the same versions: their ``version.py`` files are
byte-equal to the zips'. In every other case ``sys.path`` stays exactly
as it is. ``sitecustomize`` beside this file calls it at interpreter
start-up. It imports nothing from the package.
"""

from __future__ import annotations

import os
import zipimport


def _version_py(entry: str, pkg: str) -> bytes | None:
    """``pkg/version.py`` as the ``sys.path`` entry ``entry`` provides it:
    its bytes, ``b""`` when ``entry`` holds ``pkg`` without that file, and
    None when ``entry`` provides no ``pkg`` (or is no directory or zip)."""
    if os.path.isdir(entry):
        if not os.path.isfile(os.path.join(entry, pkg, "__init__.py")):
            return None
        try:
            with open(os.path.join(entry, pkg, "version.py"), "rb") as fh:
                return fh.read()
        except OSError:
            return b""
    try:
        archive = zipimport.zipimporter(entry)
    except zipimport.ZipImportError:
        return None
    if archive.find_spec(pkg) is None:
        return None
    try:
        return archive.get_data(f"{pkg}/version.py")
    except OSError:
        return b""


def prefer_installed_pyspark(path: list[str]) -> None:
    """Move Spark's ``pyspark.zip`` and ``py4j-*-src.zip`` entries of
    ``path`` (``sys.path``) behind the first later entry that provides each
    package, in place, when each such entry holds a ``version.py`` equal to
    its zip's; leave ``path`` untouched otherwise."""
    zips: dict[str, int] = {}
    for i, entry in enumerate(path):
        name = os.path.basename(entry)
        if name == "pyspark.zip":
            zips.setdefault("pyspark", i)
        elif name.startswith("py4j-") and name.endswith("-src.zip"):
            zips.setdefault("py4j", i)
    if len(zips) != 2:
        return
    moved = sorted(zips.values())
    stop = 0
    for pkg, i in zips.items():
        want = _version_py(path[i], pkg)
        if not want:
            return
        for j in range(i + 1, len(path)):
            if j in moved:
                continue
            got = _version_py(path[j], pkg)
            if got is not None:
                break
        else:
            return
        if got != want:
            return
        stop = max(stop, j + 1)
    path[:stop] = [e for k, e in enumerate(path[:stop]) if k not in moved] + [path[k] for k in moved]
