"""Where the Python workers import from.

``session.get_spark`` starts the workers' daemon through
``honors_p1_mapreduce_spark.worker_daemon``, which drops Spark's
pyspark/py4j zips and Python-free jars from the import path before it
runs pyspark's own daemon, and puts the package's root directory on
the workers' ``PYTHONPATH``. The pruning rule is checked on fake
directories without Spark; the live workers through a one-row probe;
the ``PYTHONPATH`` through a driver run outside the repo root.
"""

from __future__ import annotations

import os
import subprocess
import sys
import zipfile
from pathlib import Path

import pyarrow as pa
import pytest

from honors_p1_mapreduce_spark import worker_daemon

REPO = Path(__file__).resolve().parent.parent
VERSION = b'__version__: str = "4.1.2"\n'


def _zip(path: Path, members: dict[str, bytes]) -> str:
    with zipfile.ZipFile(path, "w") as z:
        for name, data in members.items():
            z.writestr(name, data)
    return str(path)


def _fake_path(tmp_path, installed=VERSION, py4j=True):
    """(sys.path, importer cache) as Spark lays them out: the two zips
    and a Python-free jar ahead of site-packages, plus a jar that holds
    a Python module."""
    lib = tmp_path / "lib"
    lib.mkdir()
    pyspark_zip = _zip(lib / "pyspark.zip", {"pyspark/version.py": VERSION})
    py4j_zip = _zip(lib / "py4j-0.10.9.9-src.zip", {"py4j/__init__.py": b""})
    core_jar = _zip(lib / "spark-core.jar", {"org/apache/Foo.class": b"\xca\xfe"})
    py_jar = _zip(lib / "with-python.jar", {"pkg/mod.py": b""})
    site = tmp_path / "site-packages"
    (site / "pyspark").mkdir(parents=True)
    (site / "pyspark" / "__init__.py").write_bytes(b"")
    (site / "pyspark" / "version.py").write_bytes(installed)
    if py4j:
        (site / "py4j").mkdir()
        (site / "py4j" / "__init__.py").write_bytes(b"")
    path = [str(tmp_path), pyspark_zip, py4j_zip, core_jar, py_jar, str(site)]
    cache = {p: object() for p in path}
    cache[os.path.join(pyspark_zip, "pyspark")] = object()
    cache[os.path.join(core_jar, "org")] = object()
    return path, cache


def test_prune_drops_the_zips_and_python_free_jars(tmp_path):
    path, cache = _fake_path(tmp_path)
    pyspark_zip, py4j_zip, core_jar, py_jar = path[1:5]
    dropped = worker_daemon.prune(path, cache)
    assert sorted(dropped) == sorted([pyspark_zip, py4j_zip, core_jar])
    assert path == [str(tmp_path), py_jar, str(tmp_path / "site-packages")]
    # no importer is left for a dropped archive or a prefix inside one
    assert not [k for k in cache if k.startswith((pyspark_zip, py4j_zip, core_jar))]
    assert py_jar in cache


@pytest.mark.parametrize(
    "installed, py4j",
    [(b'__version__: str = "4.1.1"\n', True), (VERSION, False)],
    ids=["version-mismatch", "no-py4j"],
)
def test_prune_keeps_both_zips_unless_the_same_pyspark_and_py4j_follow(
    tmp_path, installed, py4j
):
    path, cache = _fake_path(tmp_path, installed=installed, py4j=py4j)
    pyspark_zip, py4j_zip, core_jar, py_jar = path[1:5]
    assert worker_daemon.prune(path, cache) == [core_jar]
    assert path[1:4] == [pyspark_zip, py4j_zip, py_jar]
    assert os.path.join(pyspark_zip, "pyspark") in cache
    assert py4j_zip in cache


def _installed_matches_spark_home() -> bool:
    import pyspark

    spark_zip = os.path.join(os.environ.get("SPARK_HOME", ""), "python", "lib", "pyspark.zip")
    installed = Path(pyspark.__file__).with_name("version.py").read_bytes()
    return worker_daemon._zip_member(spark_zip, "pyspark/version.py") == installed


@pytest.mark.skipif(
    not _installed_matches_spark_home(),
    reason="the installed pyspark is not $SPARK_HOME's: the workers keep the zips",
)
def test_workers_import_pyspark_from_the_installed_package(spark):
    def probe(batches):
        import sys
        import zipimport

        import pyspark

        for _ in batches:
            pass
        cache = sys.path_importer_cache
        zips = [k for k, v in cache.items() if isinstance(v, zipimport.zipimporter)]
        yield pa.RecordBatch.from_pylist([{"file": pyspark.__file__, "zips": zips}])

    row = spark.range(1).mapInArrow(probe, "file string, zips array<string>").collect()[0]
    assert "pyspark.zip" not in row.file
    assert [k for k in row.zips if "pyspark.zip" in k or "py4j-" in k or ".jar" in k] == []


def test_map_reduce_runs_from_outside_the_repo_root(tmp_path):
    # the driver finds the package on its own sys.path; the workers,
    # started in tmp_path with no PYTHONPATH, only through get_spark
    script = f"""
import sys
sys.path.insert(0, {str(REPO)!r})
from honors_p1_mapreduce_spark.mapreduce import map_reduce
from honors_p1_mapreduce_spark.session import get_spark

spark = get_spark(app_name="outside-root", cpus=1)
spark.sparkContext.setLogLevel("ERROR")
lines = spark.createDataFrame([("a b a",), ("b c",)], "line string")
out = map_reduce(lines, lambda l: ((w, 1) for w in l.split()), lambda k, vs: [(k, len(vs))])
print("PAIRS", sorted(tuple(r) for r in out.collect()))
spark.stop()
"""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert "PAIRS [('a', '2'), ('b', '2'), ('c', '1')]" in out.stdout
