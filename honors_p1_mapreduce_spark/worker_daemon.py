"""Spark's Python worker daemon, started on a pruned import path.

Spark starts the daemon that forks every Python worker as ``python -m
<spark.python.daemon.module>``, with three archives ahead of the
caller's ``PYTHONPATH``: ``$SPARK_HOME/python/lib/pyspark.zip``, the
py4j source zip, and the jar that holds Spark's worker factory
(``SparkContext.jarOfObject``: ``spark-core_2.13-<v>.jar``, 5,359
entries and not one Python file). Every Python task then calls
``importlib.invalidate_caches()``, which makes each zip importer on
the path re-read its archive's directory: about 0.2 CPU-s per task
on a 4-vCPU host with pyspark imported from the zip, most of a
one-task MapReduce job's fixed cost. Importing pyspark and pyarrow from the zip, which holds no
bytecode, also costs the daemon about a CPU-second at start.

This module, which :func:`session.get_spark` sets as
``spark.python.daemon.module``, drops from ``sys.path``:

- ``pyspark.zip`` and the py4j zip, only when the rest of the path
  holds a ``pyspark`` with a byte-identical ``version.py`` and a
  ``py4j``, so workers import the installed copies instead; otherwise
  both zips stay, as Spark placed them;
- every ``.jar`` that holds no Python file;

and the ``sys.path_importer_cache`` entries under what it drops
(Python made zip importers for them while it resolved ``-m``). Then it
runs ``pyspark.daemon.manager()``, so all else about the daemon is
pyspark's own. pyspark is imported only after the path is pruned, and
the package's ``__init__`` imports nothing eagerly.
"""

from __future__ import annotations

import os
import sys
import zipfile
from fnmatch import fnmatch
from importlib.machinery import PathFinder


def _zip_member(archive: str, member: str) -> bytes | None:
    try:
        with zipfile.ZipFile(archive) as z:
            return z.read(member)
    except (OSError, KeyError, zipfile.BadZipFile):
        return None


def _holds_python(jar: str) -> bool:
    try:
        with zipfile.ZipFile(jar) as z:
            return any(n.endswith((".py", ".pyc")) for n in z.namelist())
    except (OSError, zipfile.BadZipFile):
        return True  # unreadable: keep it, as Spark placed it


def _installed_version(rest: list[str]) -> bytes | None:
    """The ``version.py`` of the ``pyspark`` that ``rest`` imports."""
    spec = PathFinder.find_spec("pyspark", rest)
    if spec is None or not spec.origin:
        return None
    try:
        with open(os.path.join(os.path.dirname(spec.origin), "version.py"), "rb") as f:
            return f.read()
    except OSError:
        return None


def _spark_zips(path: list[str]) -> list[str]:
    """pyspark.zip and the py4j zip, where the rest of ``path`` imports
    the same pyspark and a py4j."""
    pyspark_zips = [p for p in path if os.path.basename(p) == "pyspark.zip"]
    zips = pyspark_zips + [p for p in path if fnmatch(os.path.basename(p), "py4j-*.zip")]
    if not pyspark_zips:
        return []
    rest = [p for p in path if p not in zips]
    version = _zip_member(pyspark_zips[0], "pyspark/version.py")
    if version is None or version != _installed_version(rest):
        return []
    if PathFinder.find_spec("py4j", rest) is None:
        return []
    return zips


def prune(path: list[str], importer_cache: dict) -> list[str]:
    """Drop the archives above from ``path`` and their entries (and any
    key under them) from ``importer_cache``, in place. Returns the
    dropped entries."""
    jars = [p for p in path if p.endswith(".jar") and not _holds_python(p)]
    kept = [p for p in path if p not in jars]
    dropped = jars + _spark_zips(kept)
    path[:] = [p for p in path if p not in dropped]
    for key in list(importer_cache):
        if any(key == p or key.startswith(p + os.sep) for p in dropped):
            del importer_cache[key]
    return dropped


def main() -> None:
    prune(sys.path, sys.path_importer_cache)
    from pyspark.daemon import manager

    manager()


if __name__ == "__main__":
    main()
