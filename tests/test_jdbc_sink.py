from __future__ import annotations

import pytest

from hivetomysql_spark.config import DumpConf, DumpMap
from hivetomysql_spark.sinks.jdbc import build_delete_statement


def test_delete_statement_keys_on_constants():
    conf = DumpConf.from_text("ds=20240101\nmysql_table=t\n")
    mapping = DumpMap.from_text("a=x\nds=$ds\nversion=#2.0\n", conf=conf)
    sql, params = build_delete_statement("t", mapping.constant_fields)
    assert sql == "DELETE FROM t WHERE 1=1 AND `ds` = ? AND `version` = ?"
    assert params == ["20240101", "2.0"]


def test_delete_statement_no_constants():
    sql, params = build_delete_statement("t", {})
    assert sql == "DELETE FROM t WHERE 1=1"
    assert params == []


def derby_conf(url: str, text: str, column_types: str | None = None) -> DumpConf:
    """A conf that points the sink at an embedded Derby database: no
    MySQL URL params, ANSI identifier quotes."""
    dialect = f'jdbc_url={url}\njdbc_url_params=\njdbc_ident_quote="\n'
    if column_types:
        dialect += f"jdbc_create_types={column_types}\n"
    return DumpConf.from_text(dialect + text)


def test_jdbc_roundtrip_idempotent_derby(spark, tmp_path):
    """End-to-end JDBC sink against a REAL database (embedded Derby,
    shipped with Spark): initial load, then the delete-before-insert
    re-import run twice — the target must hold exactly one import's
    rows (reference README.md:22-24 idempotency contract)."""
    from hivetomysql_spark.sinks.jdbc import write_jdbc
    from hivetomysql_spark.sources import read_jdbc

    url = f"jdbc:derby:{tmp_path}/derbydb;create=true"
    conf = derby_conf(
        url, "mysql_table=app_t\ndelete_before_dump=true\nds=20240101\n"
    )
    mapping = DumpMap.from_text("val=x\nds=$ds\nversion=#2.0\n", conf=conf)
    df = spark.createDataFrame(
        [("a", "20240101", "2.0"), ("b", "20240101", "2.0")],
        ["val", "ds", "version"],
    )
    # first write (no delete) creates the table with typed columns
    plain_conf = derby_conf(
        url, "mysql_table=app_t\nds=20240101\n",
        "val VARCHAR(50), ds VARCHAR(20), version VARCHAR(20)",
    )
    write_jdbc(df, plain_conf, mapping)
    # two idempotent re-imports with delete-before-insert
    for _ in range(2):
        write_jdbc(df, conf, mapping)
    back = read_jdbc(spark, url, "app_t")
    rows = [(r.val, r.ds, r.version) for r in back.collect()]
    assert sorted(rows) == [
        ("a", "20240101", "2.0"),
        ("b", "20240101", "2.0"),
    ]

    # a different ds partition must survive a re-import of 20240101
    df2 = spark.createDataFrame([("c", "20240102", "2.0")], ["val", "ds", "version"])
    conf2 = derby_conf(
        url, "mysql_table=app_t\ndelete_before_dump=true\nds=20240102\n"
    )
    mapping2 = DumpMap.from_text("val=x\nds=$ds\nversion=#2.0\n", conf=conf2)
    write_jdbc(df2, conf2, mapping2)
    write_jdbc(df, conf, mapping)
    back2 = read_jdbc(spark, url, "app_t")
    assert back2.count() == 3  # a, b (20240101) + c (20240102)


def _staging_tables(spark, url):
    from hivetomysql_spark.sources import read_jdbc

    return [
        r.TABLENAME
        for r in read_jdbc(spark, url, "SYS.SYSTABLES").collect()
        if "__STAGING_" in r.TABLENAME
    ]


def test_jdbc_swap_idempotent_and_atomic(spark, tmp_path):
    """write_jdbc lands the distributed write in a staging table of its
    own and one driver-side transaction swaps the partition in.
    Contract pinned here: (a) run-twice idempotency, (b) a FAILURE
    DURING THE STAGING WRITE leaves the target exactly as it was (the
    window a delete followed by an append leaves open) and no staging
    table behind, (c) other ds partitions survive the swap."""
    from hivetomysql_spark.sinks.jdbc import write_jdbc
    from hivetomysql_spark.sources import read_jdbc

    url = f"jdbc:derby:{tmp_path}/derbydb2;create=true"
    ddl = "val VARCHAR(50), ds VARCHAR(20), version VARCHAR(20)"

    def mk(rows):
        return spark.createDataFrame(rows, ["val", "ds", "version"])

    # seed: two partitions, appended (creates the table)
    seed = mk([
        ("a0", "20240101", "2.0"), ("b0", "20240101", "2.0"),
        ("keep", "20240102", "2.0"),
    ])
    write_jdbc(seed, derby_conf(url, "mysql_table=app_s\nds=20240101\n", ddl), None)

    conf = derby_conf(
        url, "mysql_table=app_s\ndelete_before_dump=true\nds=20240101\n"
    )
    mapping = DumpMap.from_text("val=x\nds=$ds\nversion=#2.0\n", conf=conf)
    fresh = mk([("a1", "20240101", "2.0"), ("b1", "20240101", "2.0")])

    # (a) run-twice idempotency: two swaps == one
    for _ in range(2):
        write_jdbc(fresh, conf, mapping)
    rows = sorted(
        (r.val, r.ds) for r in read_jdbc(spark, url, "app_s").collect()
    )
    assert rows == [
        ("a1", "20240101"), ("b1", "20240101"), ("keep", "20240102"),
    ]

    # (b) fail mid staging write -> target untouched (old rows stay
    # visible; no deleted-but-not-reinserted window)
    from pyspark.sql.types import StringType
    from pyspark.sql.functions import udf

    @udf(StringType())
    def boom(v):
        raise RuntimeError("mid-write failure injection")

    bad = mk(
        [("x", "20240101", "2.0"), ("y", "20240101", "2.0")]
    ).withColumn("val", boom("val"))
    with pytest.raises(Exception):
        write_jdbc(bad, conf, mapping)
    rows2 = sorted(
        (r.val, r.ds) for r in read_jdbc(spark, url, "app_s").collect()
    )
    assert rows2 == rows, "failed load must not touch the target"
    assert _staging_tables(spark, url) == []

    # (c) recovery: the next good run swaps cleanly
    fresh2 = mk([("a2", "20240101", "2.0")])
    write_jdbc(fresh2, conf, mapping)
    rows3 = sorted(
        (r.val, r.ds) for r in read_jdbc(spark, url, "app_s").collect()
    )
    assert rows3 == [("a2", "20240101"), ("keep", "20240102")]
    assert _staging_tables(spark, url) == []


def test_jdbc_without_delete_appends_and_keeps_other_ds(spark, tmp_path):
    """``delete_before_dump=false`` deletes nothing: the reference
    appends, so the row of another ds stays."""
    from hivetomysql_spark.sinks.jdbc import write_jdbc
    from hivetomysql_spark.sources import read_jdbc

    url = f"jdbc:derby:{tmp_path}/derbydb3;create=true"
    ddl = "val VARCHAR(50), ds VARCHAR(20)"
    for val, ds in (("old", "20240101"), ("new", "20240102")):
        conf = derby_conf(url, f"mysql_table=app_a\nds={ds}\n", ddl)
        mapping = DumpMap.from_text("val=x\nds=$ds\n", conf=conf)
        df = spark.createDataFrame([(val, ds)], ["val", "ds"])
        write_jdbc(df, conf, mapping)
    rows = sorted((r.val, r.ds) for r in read_jdbc(spark, url, "app_a").collect())
    assert rows == [("new", "20240102"), ("old", "20240101")]


def test_jdbc_null_loads_into_typed_target(spark, tmp_path):
    """A NULL reaches a target created with ``jdbc_create_types``
    (Derby's VARCHAR refuses the CLOB-typed NULL Spark binds for a
    string, so the value travels through the default-typed staging
    table)."""
    from hivetomysql_spark.sinks.jdbc import write_jdbc
    from hivetomysql_spark.sources import read_jdbc

    url = f"jdbc:derby:{tmp_path}/derbydb4;create=true"
    conf = derby_conf(
        url, "mysql_table=app_n\ndelete_before_dump=true\nds=20240101\n",
        "val VARCHAR(50), ds VARCHAR(20)",
    )
    mapping = DumpMap.from_text("val=x\nds=$ds\n", conf=conf)
    df = spark.createDataFrame(
        [("a", "20240101"), (None, "20240101")], "val string, ds string"
    )
    for _ in range(2):
        write_jdbc(df, conf, mapping)
    back = read_jdbc(spark, url, "app_n")
    assert dict(back.dtypes)["val"] == "string"
    assert sorted(back.collect(), key=lambda r: r.val or "") == [
        (None, "20240101"), ("a", "20240101"),
    ]
    assert _staging_tables(spark, url) == []


@pytest.mark.parametrize("parts, cap, tasks", [(20, 4, 4), (2, 16, 2)])
def test_jdbc_tasks_are_partitions_capped_by_max_connections(
    spark, spark_jobs, tmp_path, parts, cap, tasks
):
    """The load is one job whose tasks are the frame's partitions,
    capped at ``max_connections``. The only other job is the empty
    append that creates the target, which runs no task; no job runs
    only to count partitions."""
    from hivetomysql_spark.sinks.jdbc import write_jdbc
    from hivetomysql_spark.sources import read_jdbc

    url = f"jdbc:derby:{tmp_path}/derbydb5;create=true"
    conf = derby_conf(url, "mysql_table=app_c\nds=20240101\n")
    df = spark.range(0, 2000, numPartitions=parts)
    _, jobs = spark_jobs(lambda: write_jdbc(df, conf, None, max_connections=cap))
    assert jobs == [[], [tasks]], jobs
    assert read_jdbc(spark, url, "app_c").count() == 2000
