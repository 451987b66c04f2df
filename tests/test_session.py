"""Session defaults that ``get_spark`` sets beyond Spark's own."""

from __future__ import annotations


def test_python_call_site_capture_is_off(spark):
    # every functions.* call and Column method would otherwise walk the
    # Python stack and set a JVM origin (pyspark.errors.utils._with_origin)
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
