"""Python worker daemon of engine sessions: pyspark from the driver's copy.

Spark starts every Python worker with its own archives first on
``sys.path`` (``pyspark.zip``, ``py4j-*-src.zip`` and the spark-core
jar, ``PythonUtils.sparkPythonPath``). Every task then calls
``importlib.invalidate_caches()`` (``worker_util.setup_spark_files``),
and in Python 3.11 each ``zipimporter`` in ``sys.path_importer_cache``
re-reads its archive's whole central directory: ~27k zip entries,
0.14-0.47 s of CPU per task before any user code runs.

When pyspark and py4j import from a directory on the rest of the path
(the copy the driver runs with this JVM), this module drops the
archives and their importers, subpackage entries included, and then
runs the stock daemon. When pyspark lives only in the zip, as on a
bare Spark distribution, nothing changes.
:func:`hivetomysql_spark.session.get_spark` sets
``spark.python.daemon.module`` to this module; it imports nothing from
pyspark before the trim.
"""

import fnmatch
import os
import sys

SPARK_ARCHIVES = ("pyspark.zip", "py4j-*-src.zip", "spark-core_*.jar")


def _in_directory(package: str, path: list) -> bool:
    return any(
        os.path.isfile(os.path.join(d or os.curdir, package, "__init__.py"))
        for d in path
    )


def trim_spark_archives(path: list, importer_cache: dict) -> list:
    """Remove Spark's archives from ``path`` and every importer cached
    for them or a directory inside them from ``importer_cache``, in
    place, when pyspark and py4j are found in a directory on the rest
    of ``path``. Returns the removed path entries (none otherwise)."""
    archives = [
        p for p in path
        if any(fnmatch.fnmatch(os.path.basename(p), a) for a in SPARK_ARCHIVES)
    ]
    rest = [p for p in path if p not in archives]
    if not archives or not all(_in_directory(m, rest) for m in ("pyspark", "py4j")):
        return []
    path[:] = rest
    for key in list(importer_cache):
        if any(key == a or key.startswith(a + os.sep) for a in archives):
            del importer_cache[key]
    return archives


if __name__ == "__main__":
    trim_spark_archives(sys.path, sys.path_importer_cache)
    from pyspark.daemon import manager

    manager()
