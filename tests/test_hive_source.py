"""The reference's source is a partitioned Hive table
(HiveToMysql.java:227: ``select * from db.tbl where ds=X``). Exercise
read_hive_table against a real local Hive metastore (Derby-backed,
temp warehouse) including static partition pruning.

Runs in a subprocess: Hive support needs its own SparkSession
configuration, and SparkSession.builder.getOrCreate() would otherwise
collide with (or, worse, stop) the suite's shared session/JVM.
"""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]

SCRIPT = r"""
import sys
sys.path.insert(0, ".")
from pyspark.sql import SparkSession
from hivetomysql_spark.sources import read_hive_table

wh, meta = sys.argv[1], sys.argv[2]
spark = (
    SparkSession.builder.appName("hive-test")
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.warehouse.dir", wh)
    .config("spark.hadoop.javax.jdo.option.ConnectionURL",
            f"jdbc:derby:;databaseName={meta}/metastore_db;create=true")
    .config("spark.ui.enabled", "false")
    .enableHiveSupport()
    .getOrCreate()
)
spark.sql("CREATE DATABASE IF NOT EXISTS dm")
rows = [(1, "click", "20240101"), (2, "view", "20240101"), (3, "click", "20240102")]
df = spark.createDataFrame(rows, ["event_id", "etype", "ds"])
df.write.mode("overwrite").partitionBy("ds").format("parquet").saveAsTable("dm.events_part")

one_day = read_hive_table(spark, "dm", "events_part", ds="20240101")
got = sorted(r.event_id for r in one_day.collect())
assert got == [1, 2], got

plan = one_day._jdf.queryExecution().executedPlan().toString()
assert "20240101" in plan
assert "20240102" not in plan, "partition pruning failed: other ds scanned"

full = read_hive_table(spark, "dm", "events_part")
assert full.count() == 3
assert set(full.columns) == {"event_id", "etype", "ds"}
print("HIVE_SOURCE_OK")
"""


def test_hive_partitioned_read_with_ds_pruning(tmp_path):
    wh = str(tmp_path / "warehouse")
    meta = str(tmp_path / "metastore")
    proc = subprocess.run(
        [sys.executable, "-c", SCRIPT, wh, meta],
        capture_output=True,
        text=True,
        timeout=300,
        cwd=REPO,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "HIVE_SOURCE_OK" in proc.stdout


def test_hivedump_writer_roundtrip(spark, tmp_path):
    """The engine EMITS the reference's dump format: write a frame
    with NULLs through format('hivedump'), read it back through
    read_tsv_dump, and recover identical rows — interop in both
    directions with the reference's staging files."""
    from pyspark.sql import Row

    from hivetomysql_spark.sources import read_tsv_dump
    from hivetomysql_spark.sources.hivedump_datasource import (
        HiveDumpDataSource,
    )

    spark.dataSource.register(HiveDumpDataSource)
    df = spark.createDataFrame(
        [
            Row(a="x", b="1", c=None),
            Row(a="NULLISH", b=None, c="z"),
            Row(a="", b="2", c="w"),
        ]
    )
    out = str(tmp_path / "dump_out")
    df.write.format("hivedump").mode("overwrite").option(
        "path", out
    ).save()
    back = read_tsv_dump(spark, out)
    assert back.columns == ["a", "b", "c"]
    # the empty value comes back as '' (the reference splits on tabs)
    assert sorted(map(tuple, back.collect())) == sorted(
        map(tuple, df.collect())
    )
    # the files are byte-compatible with the reference's protocol:
    # header first, literal NULL text for SQL NULL
    import glob as g

    files = sorted(g.glob(out + "/*.dump"))
    assert files
    text = "".join(open(f).read() for f in files)
    assert "NULL" in text
    first_lines = {open(f).readline().rstrip("\n") for f in files}
    assert first_lines == {"a\tb\tc"}


def test_hivedump_writer_rejects_tabs(spark, tmp_path):
    """The reference's line protocol has no escaping
    (HiveToMysql.java:366 splits blindly); the writer refuses values
    it cannot represent instead of corrupting the file: a tab, and a
    line break (LF or CR — the reader ends a line at either)."""
    import pytest as pt

    from hivetomysql_spark.sources.hivedump_datasource import (
        HiveDumpDataSource,
    )

    spark.dataSource.register(HiveDumpDataSource)
    for i, bad in enumerate(["a\tb", "a\nb", "a\rb"]):
        df = spark.createDataFrame([(bad,)], ["x"])
        with pt.raises(Exception, match="tab/newline/CR"):
            df.write.format("hivedump").mode("overwrite").option(
                "path", str(tmp_path / f"bad{i}")
            ).save()


def _read_dump(spark, path):
    from hivetomysql_spark.sources import read_tsv_dump

    df = read_tsv_dump(spark, path)
    return df.columns, sorted(map(tuple, df.collect()), key=repr)


def test_hivedump_reads_crlf_dump_like_lf(spark, tmp_path):
    """The reference's ``readLine`` ends a line at LF, CRLF or CR; a
    CRLF dump must read exactly like its LF twin: no ``\\r`` on the last
    header name or the last value, and echoes of the CRLF header
    still dropped."""
    text = "t.a\tt.b\n1\tx\nt.a\tt.b\n2\tNULL\n"
    (tmp_path / "lf.dump").write_bytes(text.encode())
    (tmp_path / "crlf.dump").write_bytes(text.replace("\n", "\r\n").encode())
    want = (["a", "b"], [("1", "x"), ("2", None)])
    assert _read_dump(spark, str(tmp_path / "lf.dump")) == want
    assert _read_dump(spark, str(tmp_path / "crlf.dump")) == want


def test_hivedump_directory_skips_hadoop_marker_files(spark, tmp_path):
    """``_SUCCESS`` sorts before ``part-*``; it and other ``_``/``.``
    marker files are not dumps and must not be taken for the header
    file or read as data. The ``.crc`` beside a part file must be its
    real checksum: Hadoop's local file system verifies it on read."""
    d = tmp_path / "dump"
    d.mkdir()
    (d / "_SUCCESS").write_bytes(b"")
    (d / "_committer.json").write_text('{"job": "x"}\n')
    (d / ".notes").write_bytes(b"crc\x00junk")
    jvm = spark._jvm
    fs = jvm.org.apache.hadoop.fs.FileSystem.getLocal(
        spark._jsc.hadoopConfiguration()
    )
    out = fs.create(jvm.org.apache.hadoop.fs.Path(str(d / "part-00000.dump")))
    out.write(bytearray(b"t.a\tt.b\n1\tx\n"))
    out.close()
    assert (d / ".part-00000.dump.crc").exists()
    (d / "part-00001.dump").write_text("t.a\tt.b\n2\ty\n")
    assert _read_dump(spark, str(d)) == (
        ["a", "b"], [("1", "x"), ("2", "y")]
    )
