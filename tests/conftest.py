from __future__ import annotations

import pytest

from hivetomysql_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"


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
