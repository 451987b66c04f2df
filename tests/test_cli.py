"""End-to-end CLI tests: ``python -m hivetomysql_spark <conf>`` with
the reference's exit-code protocol (subprocess — the CLI builds its
own SparkSession, and exit codes are the observable contract)."""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]

TSV = (
    "events.event_id\tevents.event_type\tevents.user_id\tevents.value\n"
    "1\tclick\t10\t1.5\n"
    "2\tview\tNULL\t2.0\n"
    "3\tpurchase\t12\tNULL\n"
)

MAP_TEXT = "etype=event_type\nuid=user_id\namount=value\nds=$ds\nversion=#2.0\n"


def run_cli(conf_path):
    return subprocess.run(
        [sys.executable, "-m", "hivetomysql_spark", str(conf_path)],
        capture_output=True,
        text=True,
        timeout=300,
        cwd=REPO,
    )


def write_fixture(tmp_path, conf_extra="", map_text=MAP_TEXT, tsv=TSV):
    (tmp_path / "dump.data").write_text(tsv)
    (tmp_path / "dump.map").write_text(map_text)
    conf = (
        "ds=20240101\n"
        "source_format=tsv\n"
        f"source_path={tmp_path}/dump.data\n"
        "sink_format=parquet\n"
        f"sink_path={tmp_path}/out.parquet\n" + conf_extra
    )
    p = tmp_path / "dump.conf"
    p.write_text(conf)
    return p


def test_cli_tsv_to_parquet_success(tmp_path):
    conf = write_fixture(tmp_path)
    proc = run_cli(conf)
    assert proc.returncode == 0, proc.stderr[-2000:]
    # verify sink contents via duckdb (no need for a second JVM)
    import duckdb

    rows = duckdb.sql(
        f"SELECT etype, uid, amount, ds, version FROM '{tmp_path}/out.parquet/*.parquet' ORDER BY etype"
    ).fetchall()
    assert rows == [
        ("click", "10", "1.5", "20240101", "2.0"),
        ("purchase", "12", None, "20240101", "2.0"),
        ("view", None, "2.0", "20240101", "2.0"),
    ]


def test_cli_missing_field_exit_9997(tmp_path):
    conf = write_fixture(
        tmp_path,
        conf_extra="error_if_src_field_not_exsits=true\n",
        map_text=MAP_TEXT + "ghost=no_such_col\n",
    )
    # POSIX truncates exit status to 8 bits; the reference's
    # System.exit(9997) is likewise observed as 9997 % 256 on Linux
    assert run_cli(conf).returncode == 9997 % 256


def test_cli_no_data_exit_9998(tmp_path):
    header_only = TSV.splitlines()[0] + "\n"
    conf = write_fixture(
        tmp_path, conf_extra="error_if_none_data=true\n", tsv=header_only
    )
    assert run_cli(conf).returncode == 9998 % 256


def test_cli_mode_test_dry_run_writes_nothing(tmp_path):
    conf = write_fixture(tmp_path, conf_extra="mode=test\n")
    proc = run_cli(conf)
    assert proc.returncode == 0
    assert not (tmp_path / "out.parquet").exists()


def test_cli_unknown_error_exit_9999(tmp_path):
    conf = tmp_path / "dump.conf"
    conf.write_text("source_format=bogus\n")
    (tmp_path / "dump.map").write_text(MAP_TEXT)
    assert run_cli(conf).returncode == 9999 % 256


def test_cli_short_row_exit_9996(tmp_path):
    """A row lacking a mapped field aborts with the reference's arity
    code (HiveToMysql.java:437-441); a row lacking only unmapped
    fields passes, as the reference only reads referenced ordinals.
    The parquet sink is the job that reads the rows (``sink_format=none``
    runs none: the empty-input check selects no column)."""
    short = TSV + "4\tclick\n"  # no user_id, no value
    conf = write_fixture(tmp_path, tsv=short)
    proc = run_cli(conf)
    assert proc.returncode == 9996 % 256, proc.stderr[-2000:]
    assert "RowArityError: " in proc.stderr
    conf = write_fixture(
        tmp_path, map_text="etype=event_type\nds=$ds\n", tsv=short
    )
    proc = run_cli(conf)
    assert proc.returncode == 0, proc.stderr[-2000:]


def derby_rows(spark, db, sql):
    """Rows of ``sql`` on the embedded Derby database ``db``, read in
    the test's JVM, which then shuts the database down so the next CLI
    process can boot it (embedded Derby admits one JVM at a time)."""
    from py4j.protocol import Py4JJavaError

    jvm = spark._jvm
    conn = jvm.java.sql.DriverManager.getConnection(f"jdbc:derby:{db}")
    try:
        rs = conn.createStatement().executeQuery(sql)
        n = rs.getMetaData().getColumnCount()
        rows = []
        while rs.next():
            rows.append(tuple(rs.getString(i) for i in range(1, n + 1)))
    finally:
        conn.close()
    try:
        jvm.java.sql.DriverManager.getConnection(f"jdbc:derby:{db};shutdown=true")
    except Py4JJavaError:
        pass  # Derby reports a clean shutdown as SQLState 08006
    return sorted(rows, key=str)


def test_cli_jdbc_loads_are_idempotent_and_a_failed_load_changes_nothing(
    spark, tmp_path
):
    """The CLI's JDBC sink into Derby with the reference's
    delete-before-insert: re-runs and another ds leave one copy of each
    ds (NULLs included, into typed columns), and a short row that
    fails the load leaves the target as it was."""
    db = tmp_path / "clidb"

    def conf_for(ds, tsv=TSV):
        p = write_fixture(tmp_path, tsv=tsv)
        p.write_text(
            f"ds={ds}\n"
            "source_format=tsv\n"
            f"source_path={tmp_path}/dump.data\n"
            "sink_format=jdbc\n"
            f"jdbc_url=jdbc:derby:{db};create=true\n"
            "jdbc_url_params=\n"
            'jdbc_ident_quote="\n'
            "jdbc_create_types=etype VARCHAR(20), uid VARCHAR(20), "
            "amount VARCHAR(20), ds VARCHAR(20), version VARCHAR(20)\n"
            "mysql_table=cli_t\n"
            "delete_before_dump=true\n"
        )
        return p

    for ds in ("20240101", "20240101", "20240102"):
        proc = run_cli(conf_for(ds))
        assert proc.returncode == 0, proc.stderr[-2000:]
    query = 'SELECT "etype", "uid", "amount", "ds", "version" FROM cli_t'
    one = [
        ("click", "10", "1.5"),
        ("purchase", "12", None),
        ("view", None, "2.0"),
    ]
    expected = sorted(
        [(*r, ds, "2.0") for r in one for ds in ("20240101", "20240102")],
        key=str,
    )
    assert derby_rows(spark, db, query) == expected

    proc = run_cli(conf_for("20240101", tsv=TSV + "4\tclick\n"))
    assert proc.returncode == 9996 % 256, proc.stderr[-2000:]
    assert derby_rows(spark, db, query) == expected
    assert derby_rows(
        spark, db, "SELECT TABLENAME FROM SYS.SYSTABLES "
        "WHERE TABLENAME LIKE 'CLI_T__STAGING%'"
    ) == []
