from __future__ import annotations

import os
import sys

import pytest

from hivetomysql_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"
SF_DIR_BIG = "/root/testdata/sf0.01"
TOOLS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")


def pytest_collection_modifyitems(config, items):
    """The default run is the fast tier: ``slow`` tests are deselected
    unless ``-m`` was given or their file was named on the command
    line (``pytest tests/test_join_gate.py`` runs that gate)."""
    if config.option.markexpr:
        return
    root = str(config.invocation_params.dir)
    named = {
        os.path.abspath(os.path.join(root, str(arg).split("::")[0]))
        for arg in config.args
    }
    slow = [
        item for item in items
        if item.get_closest_marker("slow") and str(item.path) not in named
    ]
    if slow:
        config.hook.pytest_deselected(items=slow)
        drop = set(map(id, slow))
        items[:] = [item for item in items if id(item) not in drop]


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(
        app_name="hivetomysql_spark-tests",
        master="local[8]",
        shuffle_partitions=8,
    )
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def registry_capture(spark):
    """{sf_dir: {query: record}} — one tools/registry_capture.py pass
    over the whole registry at sf0.001 and sf0.01, shared by the slow
    audit gates (built on first request only)."""
    sys.path.insert(0, TOOLS)
    import registry_capture as RC

    import __spark_entry__ as m

    qmap = m.queries()
    return {d: RC.capture(spark, d, qmap) for d in (SF_DIR, SF_DIR_BIG)}


@pytest.fixture()
def spark_jobs(spark):
    """``spark_jobs(fn)`` runs ``fn()`` under a job group of its own and
    returns ``(result, jobs)``: for every Spark job ``fn`` started, the
    task counts of the stages that ran (a stage reusing earlier
    shuffle output runs no task and is left out)."""
    import uuid

    def run(fn):
        sc = spark.sparkContext
        group = f"spark-jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "spark_jobs fixture")
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        # the status store is fed by an asynchronous listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
        st = sc.statusTracker()
        jobs = []
        for jid in sorted(st.getJobIdsForGroup(group)):
            stages = [st.getStageInfo(s) for s in sorted(st.getJobInfo(jid).stageIds)]
            jobs.append([s.numTasks for s in stages if s and s.numCompletedTasks])
        return out, jobs

    return run
