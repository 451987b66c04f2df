"""tools/registry_capture.py on a synthetic four-query registry: each
spy records its value, the spies' own measurements stay out of the
record, a failing build is reported without stopping the pass, and
every patched method is restored."""

from __future__ import annotations

import os
import sys

import pytest
from pyspark.sql import functions as F
from pyspark.sql.classic.dataframe import DataFrame
from pyspark.sql.group import GroupedData

sys.path.insert(0, os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"
))
import registry_capture as RC  # noqa: E402


def _hinted(spark, sf):
    return spark.range(int(sf)).join(F.broadcast(spark.range(5)), "id")


def _raises(spark, sf):
    raise RuntimeError("no such table")


def _pull_pin_cross(spark, sf):
    spark.range(int(sf)).collect()
    spark.range(4).toPandas()
    pinned = spark.range(7).localCheckpoint()
    return pinned.crossJoin(spark.range(3))


def _collect_agg(spark, sf):
    df = spark.range(int(sf)).withColumn("k", F.col("id") % 2)
    return df.groupBy("k").agg(F.collect_list("id").alias("ids"))


REGISTRY = {
    "a_hinted": _hinted,
    "b_raises": _raises,
    "c_pull_pin_cross": _pull_pin_cross,
    "d_collect_agg": _collect_agg,
}


PATCHED = [
    (F, "broadcast"), (DataFrame, "collect"), (DataFrame, "toPandas"),
    (DataFrame, "localCheckpoint"), (DataFrame, "crossJoin"),
    (DataFrame, "groupBy"), (GroupedData, "agg"),
]
ORIGINALS = [getattr(owner, attr) for owner, attr in PATCHED]


@pytest.fixture(scope="module")
def cap(spark):
    return RC.capture(spark, "10", REGISTRY)


def test_each_spy_records_its_value(cap):
    assert list(cap) == sorted(REGISTRY)
    assert cap["a_hinted"]["broadcast"] == [5]
    assert cap["a_hinted"]["join_sites"] == [("id",)]
    pull = cap["c_pull_pin_cross"]
    assert pull["collect"] == [10, 4]
    [(rows, nbytes)] = pull["checkpoint"]
    assert rows == 7 and nbytes > 0
    assert pull["crossjoin"] == [(7, 3)]
    assert cap["d_collect_agg"]["collect_agg"] == [("k", 5)]
    assert RC.spy_lists(cap, "broadcast") == {"a_hinted": [5]}


def test_collect_agg_measurement_is_no_driver_pull(cap):
    # the collect-agg spy's own .collect()[0] must not reach the
    # collect spy's record
    assert cap["d_collect_agg"]["collect"] == []


def test_failed_build_is_reported_and_the_pass_goes_on(cap):
    assert RC.failures(cap) == {"b_raises": "RuntimeError('no such table')"}
    assert cap["c_pull_pin_cross"]["error"] is None
    assert "b_raises" not in RC.spy_lists(cap, "collect")


def test_every_patched_method_is_restored(cap):
    for (owner, attr), orig in zip(PATCHED, ORIGINALS):
        assert getattr(owner, attr) is orig, f"{owner.__name__}.{attr}"
