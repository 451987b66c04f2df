"""SparkSession builder with scale-oriented defaults.

Test/bench environment is ``local[N]`` single-JVM, but every default
here is chosen to also hold on a multi-executor cluster:

* AQE on — runtime shuffle-partition coalescing, skew-join splitting,
  and dynamic broadcast conversion replace hand-tuned partition counts
  at 100 TB.
* Arrow on — all Pandas-UDF paths (similarity / multimodal operators)
  move batches, not rows.
* ``spark.sql.shuffle.partitions`` small locally; on a real cluster
  AQE coalescing makes the initial number far less sensitive.
* Python workers start from :mod:`hivetomysql_spark.worker_daemon`,
  which imports pyspark from the driver's own copy instead of Spark's
  zip archives: with the archives on ``sys.path`` every Python task
  re-reads ~27k zip entries in ``importlib.invalidate_caches()``
  (0.14-0.47 s of CPU per task, before any user code).
* No Python call sites in the DataFrame query context
  (``spark.python.sql.dataFrameDebugging.enabled=false``): with it on,
  every ``functions.*`` call and ``Column`` method walks the Python
  stack and sets a JVM origin, about 1 ms per call on the driver.
  Pass the conf back on through ``extra_conf`` to debug a query.
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import SparkSession

# Places a pure-Python google.protobuf runtime may already live when
# the package isn't pip-installed (no installs allowed in the test
# sandbox). The Google Cloud SDK ships one with its App Engine
# tooling; SPARK_GRAFT_PROTOBUF_PATH lets an operator point anywhere.
_PROTOBUF_FALLBACK_DIRS = (
    "/usr/lib/google-cloud-sdk/platform/google_appengine",
)

_ENGINE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _prepend_pythonpath(d: str) -> None:
    """Put ``d`` first on ``PYTHONPATH``, which the JVM and then its
    Python workers inherit, unless it is already there."""
    old = os.environ.get("PYTHONPATH", "")
    if d not in old.split(os.pathsep):
        os.environ["PYTHONPATH"] = d + (os.pathsep + old if old else "")


def ensure_protobuf() -> bool:
    """Make ``google.protobuf`` importable, without installing anything.

    transformWithStateInPandas' Python worker speaks protobuf to the
    JVM state server; when the package is absent we probe known
    bundled copies and, if one is found, add it to BOTH ``sys.path``
    (driver) and ``PYTHONPATH`` (inherited by the JVM and then by its
    Python workers — which is why :func:`get_spark` calls this before
    the JVM launches). A bundled runtime may trail pyspark's gencode
    by a minor version; protobuf's own escape hatch
    (``TEMPORARILY_DISABLE_PROTOBUF_VERSION_CHECK``) accepts that
    skew, and the typed-state pytest verifies actual end-to-end
    behavior against the batch twin. Returns availability."""
    try:
        import google.protobuf  # noqa: F401

        return True
    except ImportError:
        pass
    candidates = [
        os.environ.get("SPARK_GRAFT_PROTOBUF_PATH"),
        *_PROTOBUF_FALLBACK_DIRS,
    ]
    for d in filter(None, candidates):
        marker = os.path.join(d, "google", "protobuf", "descriptor_pool.py")
        if not os.path.isfile(marker):
            continue
        if d not in sys.path:
            sys.path.insert(0, d)
        _prepend_pythonpath(d)
        os.environ.setdefault(
            "TEMPORARILY_DISABLE_PROTOBUF_VERSION_CHECK", "true"
        )
        try:
            import google.protobuf  # noqa: F401

            return True
        except ImportError:
            continue
    return False


def get_spark(
    app_name: str = "hivetomysql_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    hive_support: bool = False,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    # before the JVM exists, so PYTHONPATH reaches python workers
    ensure_protobuf()
    # workers import the daemon module below from any working directory
    _prepend_pythonpath(_ENGINE_PARENT)
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or int(cpus)),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # fixture events.parquet stores ts as TIMESTAMP(NANOS), which
        # Spark's vectorized reader rejects; read as long and convert
        # in tables.load_table
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        # Shuffle codec, parameterized for deployment (r14, guide §2.3):
        # measured at the derived sf10 on local[32], lz4 vs zstd is a
        # wash (per-query ratios 0.92-1.19x, geomean ~1.01 — local
        # shuffles are page-cache-backed, so the ratio-vs-CPU trade
        # never bites). On a network-bound cluster zstd's better ratio
        # wins; flip via SPARK_GRAFT_IO_CODEC without touching code.
        # Default stays lz4 (Spark's default) so local bench records
        # remain comparable round over round.
        .config(
            "spark.io.compression.codec",
            os.environ.get("SPARK_GRAFT_IO_CODEC", "lz4"),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.python.daemon.module", "hivetomysql_spark.worker_daemon")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    # Arrow batch rows, parameterized (r14, guide §4.2): the decode
    # grid at derived sf10 (multimodal_features, ~16k-row partitions)
    # measured min-of-3 8.10 s at the 10k default vs 6.73 s at 2000
    # (batches pipeline through the two mapInPandas stages and peak
    # pandas memory drops); sf0.1/sf1 partitions are smaller than one
    # batch either way, so locally the default is timing-neutral. The
    # DEFAULT stays Spark's 10k — this is a session-wide knob and the
    # narrow-numeric Arrow surfaces prefer LARGER batches; deployments
    # whose multimodal tier dominates set SPARK_GRAFT_ARROW_BATCH=2000.
    arrow_batch = os.environ.get("SPARK_GRAFT_ARROW_BATCH")
    if arrow_batch:
        builder = builder.config(
            "spark.sql.execution.arrow.maxRecordsPerBatch", arrow_batch
        )
    if hive_support:
        builder = builder.enableHiveSupport()
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
