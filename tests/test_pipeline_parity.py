"""Parity tests for the reference's observable ETL semantics.

Fixtures follow FIXTURES.md §B: synthetic TSV dumps / conf / map that
exercise mapping, constants, NULL rule, header echoes, missing-field
drop-vs-abort, and empty input.
"""

from __future__ import annotations

import gzip

import pytest
from pyspark.sql import functions as F

from hivetomysql_spark.config import DumpConf, DumpMap
from hivetomysql_spark.errors import (
    MissingHeaderError,
    MissingSourceFieldError,
    NoDataError,
)
from hivetomysql_spark.pipeline import apply_mapping, run_pipeline, validate_mapping
from hivetomysql_spark.sources import read_tsv_dump

TSV = (
    "events.event_id\tevents.event_type\tevents.user_id\tevents.value\n"
    "1\tclick\t10\t1.5\n"
    "2\tview\tNULL\t2.0\n"
    # hive CLI header echo mid-stream — must be filtered
    "events.event_id\tevents.event_type\tevents.user_id\tevents.value\n"
    "3\tpurchase\t12\tNULL\n"
)

MAP_TEXT = "etype=event_type\nuid=user_id\namount=value\nds=$ds\nversion=#2.0\n"
CONF_TEXT = "ds=20240101\ndelete_before_dump=true\n"


@pytest.fixture()
def tsv_path(tmp_path):
    p = tmp_path / "dump.data"
    p.write_text(TSV, encoding="utf-8")
    return str(p)


def _conf_map(conf_text=CONF_TEXT, map_text=MAP_TEXT):
    conf = DumpConf.from_text(conf_text)
    return conf, DumpMap.from_text(map_text, conf=conf)


def test_tsv_reader_strips_prefix_nulls_and_header_echo(spark, tsv_path):
    df = read_tsv_dump(spark, tsv_path)
    assert df.columns == ["event_id", "event_type", "user_id", "value"]
    rows = {r.event_id: r for r in df.collect()}
    assert set(rows) == {"1", "2", "3"}  # echo row dropped
    assert rows["2"].user_id is None  # literal NULL decoded
    assert rows["3"].value is None
    assert all(t == "string" for _, t in df.dtypes)  # all-varchar model


def test_mapping_rename_constants_order(spark, tsv_path):
    conf, mapping = _conf_map()
    df = read_tsv_dump(spark, tsv_path)
    out = run_pipeline(df, conf, mapping)
    assert out.columns == ["etype", "uid", "amount", "ds", "version"]
    r = {row.etype: row for row in out.collect()}
    assert r["click"].uid == "10"
    assert r["click"].ds == "20240101"
    assert r["click"].version == "2.0"
    assert r["view"].uid is None


def test_missing_field_dropped_by_default(spark, tsv_path):
    conf, mapping = _conf_map(map_text=MAP_TEXT + "ghost=no_such_col\n")
    df = read_tsv_dump(spark, tsv_path)
    validated = validate_mapping(df, mapping, error_if_missing=False)
    out = apply_mapping(df, validated)
    assert "ghost" not in out.columns
    assert out.columns == ["etype", "uid", "amount", "ds", "version"]


def test_missing_field_aborts_when_flagged(spark, tsv_path):
    conf, mapping = _conf_map(
        conf_text=CONF_TEXT + "error_if_src_field_not_exsits=true\n",
        map_text=MAP_TEXT + "ghost=no_such_col\n",
    )
    df = read_tsv_dump(spark, tsv_path)
    with pytest.raises(MissingSourceFieldError) as ei:
        run_pipeline(df, conf, mapping)
    assert ei.value.exit_code == 9997


def test_empty_input_raises_when_flagged(spark, tmp_path):
    p = tmp_path / "empty.data"
    p.write_text("events.event_id\tevents.event_type\tevents.user_id\tevents.value\n")
    conf, mapping = _conf_map(conf_text=CONF_TEXT + "error_if_none_data=true\n")
    df = read_tsv_dump(spark, str(p))
    with pytest.raises(NoDataError) as ei:
        run_pipeline(df, conf, mapping)
    assert ei.value.exit_code == 9998


def test_empty_input_ok_when_not_flagged(spark, tmp_path):
    p = tmp_path / "empty.data"
    p.write_text("events.event_id\tevents.event_type\tevents.user_id\tevents.value\n")
    conf, mapping = _conf_map()
    df = read_tsv_dump(spark, str(p))
    out = run_pipeline(df, conf, mapping)
    assert out.count() == 0


def test_empty_input_never_reaches_the_sink_when_not_flagged(spark, tmp_path):
    """The reference returns before its write stage on empty input
    whatever ``error_if_none_data`` says: a staged sink must not swap
    an empty table over the target."""
    p = tmp_path / "empty.data"
    p.write_text("events.event_id\tevents.event_type\tevents.user_id\tevents.value\n")
    conf, mapping = _conf_map()
    assert not conf.error_if_none_data
    calls = []
    metrics = {}
    out = run_pipeline(
        read_tsv_dump(spark, str(p)), conf, mapping,
        sink=lambda df, c, m: calls.append(df), metrics_out=metrics,
    )
    assert calls == []
    assert metrics == {}
    assert out.columns == ["etype", "uid", "amount", "ds", "version"]


def test_hll_sketch_estimate_close_to_exact(spark, sf_dir):
    """Merged per-partition HLL sketches must estimate the global
    distinct count within DataSketches' published error (~2.5% at
    default lgk=12; we allow 5%)."""
    import __spark_entry__ as m
    from hivetomysql_spark.queries.relational_extras import hll_merge_estimate

    est = hll_merge_estimate(spark, sf_dir).collect()[0].approx_distinct_custkeys
    gate = m.queries()["agg_hll_sketch_merge"](spark, sf_dir).collect()[0]
    assert gate.within_5pct is True
    from hivetomysql_spark.tables import load_table
    from pyspark.sql import functions as F

    exact = (
        load_table(spark, sf_dir, "orders")
        .agg(F.count_distinct("o_custkey").alias("n"))
        .collect()[0]
        .n
    )
    assert abs(est - exact) / exact < 0.05, (est, exact)


def test_pipeline_observe_metrics_single_pass(spark, tmp_path):
    """metrics_out is filled from df.observe during the sink's own
    pass: row count + per-column null counts, no second scan."""
    from hivetomysql_spark.pipeline import run_pipeline
    from hivetomysql_spark.config import DumpConf, DumpMap

    conf = DumpConf.from_text("ds=20240101\n")
    mapping = DumpMap.from_text("name=r_name\nkey=r_regionkey\nds=$ds\n", conf=conf)
    src = spark.read.parquet("/root/testdata/sf0.001/region.parquet")
    metrics = {}
    out_dir = str(tmp_path / "obs_out")

    def sink(df, c, m):
        df.write.mode("overwrite").parquet(out_dir)

    run_pipeline(src, conf, mapping, sink=sink, metrics_out=metrics)
    assert metrics["rows_out"] == 5
    assert metrics["nulls_name"] == 0
    assert metrics["nulls_ds"] == 0  # constant column never null


def _inferred_dump(spark, path):
    """A cross-check for :func:`read_tsv_dump` on dumps with no empty
    and no quoted field: Spark's CSV reader with its own header
    inference, then the prefix strip and a header-echo filter. The two
    must agree on the column names and the rows; the reference's
    line rules themselves are pinned in ``test_tsv_dump_oracle.py``."""
    df = (
        spark.read.option("sep", "\t")
        .option("header", "true")
        .option("nullValue", "NULL")
        .option("inferSchema", "false")
        .csv(path)
    )
    stripped = [c.split(".")[-1] for c in df.columns]
    raw_first, first = df.columns[0], stripped[0]
    return df.toDF(*stripped).where(
        F.col(first).isNull()
        | ((F.col(first) != F.lit(raw_first)) & (F.col(first) != F.lit(first)))
    )


def _write(path, text, newline="\n"):
    path.parent.mkdir(parents=True, exist_ok=True)
    data = text.replace("\n", newline).encode("utf-8")
    path.write_bytes(gzip.compress(data) if path.suffix == ".gz" else data)
    return str(path)


def _dump_dir(spark, tmp_path):
    """A dump directory as a Hadoop job leaves it: a part file with its
    ``.crc`` checksum and ``_SUCCESS`` (here not empty, and sorting
    before the parts), plus an empty reducer output that sorts first."""
    d = tmp_path / "dump"
    lines = TSV.splitlines() + ["7\tshare\t70\t7.5"]
    rows = spark.createDataFrame([(v,) for v in lines], "value string")
    rows.coalesce(1).write.text(str(d))
    assert list(d.glob(".part-*.crc"))
    (d / "._SUCCESS.crc").unlink()
    _write(d / "_SUCCESS", "job_7\tdone\n")
    _write(d / "part-0", "")
    return str(d)


def _dump_glob(spark, tmp_path):
    _write(tmp_path / "g" / "a.tsv", TSV)
    _write(tmp_path / "g" / "b.tsv", TSV)
    _write(tmp_path / "g" / "notes.txt", "not\ta\tdump\n")
    return str(tmp_path / "g" / "*.tsv")


HEADER_CASES = {
    "table_prefixes": lambda s, t: _write(t / "d.tsv", TSV),
    "crlf": lambda s, t: _write(t / "d.tsv", TSV, newline="\r\n"),
    "gzip": lambda s, t: _write(t / "d.tsv.gz", TSV),
    "directory_with_markers": _dump_dir,
    "glob": _dump_glob,
    "non_ascii": lambda s, t: _write(
        t / "d.tsv", "t.名前\tt.città\tt.😀\nå\tNULL\tx\nt.名前\tt.città\tt.😀\n"
    ),
    "duplicate_and_empty_fields": lambda s, t: _write(
        t / "d.tsv", "t.a\tt.a\t\tNULL\tt.B\tb\tnull\n1\t2\t3\t4\t5\t6\t7\n"
    ),
    "leading_blank_lines": lambda s, t: _write(t / "d.tsv", "\n   \n" + TSV),
}


@pytest.mark.parametrize("case", sorted(HEADER_CASES))
def test_tsv_reader_matches_spark_header_inference(spark, tmp_path, case):
    path = HEADER_CASES[case](spark, tmp_path)
    got = read_tsv_dump(spark, path)
    want = _inferred_dump(spark, path)
    assert got.columns == want.columns
    assert got.count() > 0
    assert sorted(got.collect(), key=repr) == sorted(want.collect(), key=repr)


def test_tsv_reader_zero_byte_file_is_missing_header(spark, tmp_path):
    p = tmp_path / "empty.data"
    p.write_bytes(b"")
    with pytest.raises(MissingHeaderError) as ei:
        read_tsv_dump(spark, str(p))
    assert ei.value.exit_code == 9995


def test_tsv_reader_starts_no_spark_job(spark, spark_jobs, tmp_path):
    path = _dump_dir(spark, tmp_path)
    df, jobs = spark_jobs(lambda: read_tsv_dump(spark, path))
    assert jobs == []
    assert df.count() == 4
    # a quoted header field is a name like any other
    quoted = _write(tmp_path / "q.tsv", '"q.a"\tq.b\n1\t2\n')
    df, jobs = spark_jobs(lambda: read_tsv_dump(spark, quoted))
    assert jobs == []
    assert df.columns == ['a"', "b"]
    # no header line: 9995 before any job
    blank = _write(tmp_path / "blank.tsv", "\n   \n")

    def no_header():
        with pytest.raises(MissingHeaderError) as ei:
            read_tsv_dump(spark, blank)
        return ei.value.exit_code

    code, jobs = spark_jobs(no_header)
    assert (code, jobs) == (9995, [])
