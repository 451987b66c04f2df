"""Engine Python worker daemon (hivetomysql_spark/worker_daemon.py):
the path-trim rule on its own (no Spark), the state a real worker task
sees, and the ``PYTHONPATH`` step that lets workers import the daemon
module from a working directory outside the repository."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from hivetomysql_spark.worker_daemon import trim_spark_archives

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

LIB = "/spark/python/lib"
PYSPARK_ZIP = f"{LIB}/pyspark.zip"
PY4J_ZIP = f"{LIB}/py4j-0.10.9.9-src.zip"
CORE_JAR = "/spark/jars/spark-core_2.13-4.1.2.jar"
USER_ZIP = "/work/deps.zip"
STDLIB_ZIP = "/usr/lib/python311.zip"


def _site(tmp_path, *packages):
    site = tmp_path / "site-packages"
    for p in packages:
        (site / p).mkdir(parents=True)
        (site / p / "__init__.py").write_text("")
    return str(site)


def _state(site):
    path = ["/work", PYSPARK_ZIP, PY4J_ZIP, CORE_JAR, USER_ZIP, STDLIB_ZIP, site]
    cache = {
        p: object()
        for p in (
            "/work",
            PYSPARK_ZIP,
            f"{PYSPARK_ZIP}/pyspark",
            f"{PYSPARK_ZIP}/pyspark/sql/pandas",
            PY4J_ZIP,
            f"{PY4J_ZIP}/py4j",
            CORE_JAR,
            f"{CORE_JAR}/org",
            USER_ZIP,
            f"{USER_ZIP}/pkg",
            STDLIB_ZIP,
            site,
        )
    }
    return path, cache


def test_archives_and_their_importers_go_when_pyspark_is_in_a_directory(tmp_path):
    site = _site(tmp_path, "pyspark", "py4j")
    path, cache = _state(site)
    removed = trim_spark_archives(path, cache)
    assert removed == [PYSPARK_ZIP, PY4J_ZIP, CORE_JAR]
    assert path == ["/work", USER_ZIP, STDLIB_ZIP, site]
    assert sorted(cache) == sorted(["/work", USER_ZIP, f"{USER_ZIP}/pkg", STDLIB_ZIP, site])


@pytest.mark.parametrize("packages", [(), ("pyspark",), ("py4j",)])
def test_nothing_changes_when_pyspark_or_py4j_is_only_in_the_zip(tmp_path, packages):
    site = _site(tmp_path, *packages)
    path, cache = _state(site)
    before = (list(path), dict(cache))
    assert trim_spark_archives(path, cache) == []
    assert (path, cache) == before


@pytest.mark.parametrize("packages", [(), ("pyspark", "py4j")])
def test_user_and_stdlib_zips_are_always_kept(tmp_path, packages):
    path, cache = _state(_site(tmp_path, *packages))
    trim_spark_archives(path, cache)
    for p in (USER_ZIP, STDLIB_ZIP):
        assert p in path and p in cache
    assert f"{USER_ZIP}/pkg" in cache


def test_worker_task_imports_the_drivers_pyspark_without_archives(spark):
    import pyspark

    def report(batches):
        import fnmatch
        import json
        import os
        import sys
        import zipimport

        import pyarrow as pa
        import pyspark

        from hivetomysql_spark.worker_daemon import SPARK_ARCHIVES

        info = {
            "file": pyspark.__file__,
            "archives": [
                p for p in sys.path
                if any(fnmatch.fnmatch(os.path.basename(p), a) for a in SPARK_ARCHIVES)
            ],
            "zipimporters": [
                k for k, v in sys.path_importer_cache.items()
                if isinstance(v, zipimport.zipimporter)
            ],
        }
        for _ in batches:
            yield pa.RecordBatch.from_pylist([{"info": json.dumps(info)}])

    rows = spark.range(1).mapInArrow(report, "info string").collect()
    info = json.loads(rows[0].info)
    assert info["file"] == pyspark.__file__
    assert info["archives"] == []
    assert info["zipimporters"] == []


SCRIPT = r"""
import sys
sys.path.insert(0, sys.argv[1])
from pyspark.sql import functions as F
from hivetomysql_spark.session import get_spark

spark = get_spark(master="local[1]", shuffle_partitions=1)
plus_one = F.udf(lambda x: x + 1, "long")
got = sorted(r.y for r in spark.range(3).select(plus_one("id").alias("y")).collect())
assert got == [1, 2, 3], got
spark.stop()
print("UDF_OK")
"""


def test_python_udf_job_runs_from_a_directory_outside_the_repo(tmp_path):
    # the engine reaches the child only through its own sys.path, so the
    # workers can find the daemon module only through get_spark's step
    env = dict(os.environ, SPARK_DRIVER_MEM="1g")
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in env.get("PYTHONPATH", "").split(os.pathsep)
        if p and os.path.abspath(p) != REPO
    )
    proc = subprocess.run(
        [sys.executable, "-c", SCRIPT, REPO],
        capture_output=True,
        text=True,
        timeout=300,
        cwd=str(tmp_path),
        env=env,
    )
    assert proc.returncode == 0 and "UDF_OK" in proc.stdout, proc.stderr[-3000:]
