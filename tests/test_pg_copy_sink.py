"""PostgreSQL COPY sink integration tests (verdict r12 #6).

Spins up a SCRATCH PostgreSQL 15 server (initdb + pg_ctl as the
``postgres`` system user, unix socket only, fsync off) and drives
:mod:`hivetomysql_spark.sinks.pg_copy` against it — the
concurrent-writer target the JDBC sweep could not have: embedded
Derby serializes writers at the engine level, so its numPartitions
axis was flat by construction (tools/jdbc_sweep.py r12). Everything
skips cleanly when the container has no psql/initdb or no postgres
user (the sink itself is environment-gated the same way).

Covers: round-trip fidelity through COPY text escaping (tabs,
newlines, backslashes, literal ``\\N``, NULLs, floats, timestamps),
the atomic staged swap (run-twice stable, a mid-load failure leaves
the target untouched and no staging table behind, the target's
primary key, indexes and CHECK constraints survive the swap), and a
4-stream parallel write.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import tempfile

import pytest

from hivetomysql_spark.sinks import pg_copy as PG

PORT = "55433"


def _su_pg(cmd: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        ["su", "postgres", "-s", "/bin/bash", "-c", cmd],
        capture_output=True,
        text=True,
        timeout=120,
    )


@pytest.fixture(scope="module")
def pg():
    if not (shutil.which("psql") and shutil.which("initdb")
            and shutil.which("pg_ctl")):
        pytest.skip("PostgreSQL binaries not available")
    if os.geteuid() != 0:
        pytest.skip("scratch server needs root to su postgres")
    probe = subprocess.run(
        ["su", "postgres", "-s", "/bin/bash", "-c", "true"],
        capture_output=True,
    )
    if probe.returncode != 0:
        pytest.skip("no postgres system user")
    base = tempfile.mkdtemp(prefix="pgcopytest")
    os.chmod(base, 0o755)
    shutil.chown(base, user="postgres")
    data = os.path.join(base, "data")
    r = _su_pg(f"initdb -D {data} -E UTF8 --no-sync")
    if r.returncode != 0:
        shutil.rmtree(base, ignore_errors=True)
        pytest.skip(f"initdb failed: {r.stderr[-200:]}")
    r = _su_pg(
        f"pg_ctl -D {data} -o '-p {PORT} -k {base} "
        "-c listen_addresses=\"\" -c fsync=off "
        "-c synchronous_commit=off' "
        f"-l {base}/log -w start"
    )
    if r.returncode != 0:
        shutil.rmtree(base, ignore_errors=True)
        pytest.skip(f"pg_ctl start failed: {r.stderr[-200:]}")
    args = ["-h", base, "-p", PORT, "-U", "postgres", "-d", "postgres"]
    yield args
    _su_pg(f"pg_ctl -D {data} -m immediate stop")
    shutil.rmtree(base, ignore_errors=True)


def _q(pg_args, sql: str) -> str:
    return PG.run_psql(pg_args, sql).strip()


@pytest.fixture()
def fake_pg_wrapper(tmp_path, monkeypatch):
    """A Debian-style layout under ``tmp_path``: ``bin/psql`` links to
    a file named ``pg_wrapper``; clients 9.6, 15 and 16 are installed.
    Yields a function that points ``PATH`` at a ``psql``."""
    share = tmp_path / "share"
    share.mkdir()
    (share / "pg_wrapper").write_text("#!/bin/sh\n")
    root = tmp_path / "lib" / "postgresql"
    for v in ("9.6", "15", "16"):
        (root / v / "bin").mkdir(parents=True)
        (root / v / "bin" / "psql").write_text("#!/bin/sh\n")
    for f in [share / "pg_wrapper", *root.glob("*/bin/psql")]:
        f.chmod(0o755)
    monkeypatch.setattr(PG, "PG_WRAPPER_BINROOT", str(root))
    monkeypatch.delenv("PGSYSCONFDIR", raising=False)

    def on_path(target):
        bindir = tmp_path / "bin"
        bindir.mkdir(exist_ok=True)
        (bindir / "psql").symlink_to(target)
        monkeypatch.setenv("PATH", str(bindir))
        PG._wrapped_psql.cache_clear()
        return root

    yield on_path
    PG._wrapped_psql.cache_clear()


def test_wrapper_resolves_to_the_numerically_newest_client(fake_pg_wrapper, tmp_path):
    root = fake_pg_wrapper(tmp_path / "share" / "pg_wrapper")
    argv, env = PG.psql_command(["-h", "/tmp/sock", "-p", "5432", "-c", "SELECT 1"])
    assert argv == [str(root / "16" / "bin" / "psql"), "-h", "/tmp/sock",
                    "-p", "5432", "-c", "SELECT 1"]
    assert env["PGSYSCONFDIR"] == PG.PG_WRAPPER_CONFDIR
    assert PG.psql_command(["--host=/tmp/sock"])[0][0] == argv[0]


def test_wrapper_is_kept_when_no_host_is_named(fake_pg_wrapper, tmp_path):
    fake_pg_wrapper(tmp_path / "share" / "pg_wrapper")
    for args in (["-p", "5432", "-d", "postgres"],
                 ["-h", "/tmp/sock", "--cluster", "15/main"]):
        assert PG.psql_command(args) == (["psql", *args], None)


def test_a_psql_that_is_not_the_wrapper_is_used_as_is(fake_pg_wrapper, tmp_path):
    fake_pg_wrapper(tmp_path / "lib" / "postgresql" / "15" / "bin" / "psql")
    args = ["-h", "/tmp/sock"]
    assert PG.psql_command(args) == (["psql", *args], None)


def test_a_caller_set_pgsysconfdir_is_kept(fake_pg_wrapper, tmp_path, monkeypatch):
    fake_pg_wrapper(tmp_path / "share" / "pg_wrapper")
    monkeypatch.setenv("PGSYSCONFDIR", "/etc/custom-pg")
    argv, env = PG.psql_command(["-h", "/tmp/sock"])
    assert argv[0].endswith("/16/bin/psql")
    assert (env or os.environ)["PGSYSCONFDIR"] == "/etc/custom-pg"


@pytest.fixture()
def tricky_df(spark):
    from pyspark.sql import functions as F

    return spark.createDataFrame(
        [
            (1, "plain", 1.5),
            (2, "tab\there", -0.25),
            (3, "new\nline", None),
            (4, "back\\slash", 2.0),
            (5, "\\N", 0.0),  # literal backslash-N, NOT null
            (6, None, 3.25),
        ],
        "id long, txt string, val double",
    ).withColumn("ts", F.to_timestamp(F.lit("2024-02-29 12:34:56")))


def test_append_roundtrip_escaping(pg, tricky_df):
    _q(pg, "DROP TABLE IF EXISTS t_rt; "
           "CREATE TABLE t_rt (id bigint, txt text, val float8, "
           "ts timestamp)")
    n = PG.write_pg_copy(tricky_df, "t_rt", pg, mode="append")
    assert n == 6
    assert _q(pg, "SELECT count(*) FROM t_rt") == "6"
    # escaping fidelity: every metacharacter round-trips byte-exact
    assert _q(pg, "SELECT txt FROM t_rt WHERE id=2") == "tab\there"
    assert _q(pg, "SELECT txt FROM t_rt WHERE id=3") == "new\nline"
    assert _q(pg, "SELECT txt FROM t_rt WHERE id=4") == "back\\slash"
    assert _q(pg, "SELECT txt FROM t_rt WHERE id=5") == "\\N"
    assert _q(pg, "SELECT txt IS NULL FROM t_rt WHERE id=6") == "t"
    assert _q(pg, "SELECT val IS NULL FROM t_rt WHERE id=3") == "t"
    assert _q(pg, "SELECT sum(val) FROM t_rt") == "6.5"
    assert (
        _q(pg, "SELECT count(*) FROM t_rt "
               "WHERE ts = '2024-02-29 12:34:56'") == "6"
    )


def test_staged_swap_run_twice_and_failure_isolation(pg, tricky_df, spark):
    _q(pg, "DROP TABLE IF EXISTS t_st CASCADE; "
           "CREATE TABLE t_st (id bigint, txt text, val float8, "
           "ts timestamp)")
    assert PG.write_pg_copy(tricky_df, "t_st", pg, mode="staged") == 6
    assert PG.write_pg_copy(tricky_df, "t_st", pg, mode="staged") == 6
    assert _q(pg, "SELECT count(*) FROM t_st") == "6"

    # mid-load failure: rows that cannot COPY into the staging table
    # (string into bigint) must abort BEFORE the swap transaction —
    # the live table keeps its previous contents
    poison = spark.createDataFrame(
        [("not-a-number", "x", 0.0, None)],
        "id string, txt string, val double, ts timestamp",
    )
    with pytest.raises(Exception, match="COPY stream failed|psql failed"):
        PG.write_pg_copy(poison, "t_st", pg, mode="staged")
    assert _q(pg, "SELECT count(*) FROM t_st") == "6"
    assert _q(pg, "SELECT count(*) FROM t_st WHERE id IS NULL") == "0"
    assert _q(pg, "SELECT count(*) FROM pg_tables "
                  "WHERE tablename LIKE 't\\_st\\_\\_staging%'") == "0"


def test_staged_swap_keeps_keys_indexes_and_checks(pg, tricky_df):
    _q(pg, "DROP TABLE IF EXISTS t_con CASCADE; "
           "CREATE TABLE t_con (id bigint PRIMARY KEY, txt text, "
           "val float8 CONSTRAINT t_con_val_ck CHECK (val > -100), "
           "ts timestamp); "
           "CREATE UNIQUE INDEX t_con_txt_uq ON t_con (txt)")
    for _ in range(2):
        assert PG.write_pg_copy(tricky_df, "t_con", pg, mode="staged") == 6
    assert _q(pg, "SELECT string_agg(contype::text, '' ORDER BY contype) "
                  "FROM pg_constraint WHERE conrelid = 't_con'::regclass") == "cp"
    assert _q(pg, "SELECT count(*) FROM pg_indexes WHERE tablename = 't_con' "
                  "AND indexdef LIKE 'CREATE UNIQUE INDEX % (txt)'") == "1"
    with pytest.raises(RuntimeError, match="duplicate key"):
        _q(pg, "INSERT INTO t_con (id, txt) VALUES (1, 'dup')")
    with pytest.raises(RuntimeError, match="duplicate key"):
        _q(pg, "INSERT INTO t_con (id, txt) VALUES (99, 'plain')")
    with pytest.raises(RuntimeError, match="t_con_val_ck"):
        _q(pg, "INSERT INTO t_con (id, val) VALUES (98, -1000)")
    assert _q(pg, "SELECT count(*) FROM t_con") == "6"


def test_parallel_streams_exact_count(pg, spark):
    _q(pg, "DROP TABLE IF EXISTS t_par; "
           "CREATE TABLE t_par (id bigint, v float8)")
    from pyspark.sql import functions as F

    df = spark.range(20_000).select(
        "id", (F.col("id") * 0.5).alias("v")
    ).repartition(4)
    n = PG.write_pg_copy(df, "t_par", pg, mode="append", num_partitions=4)
    assert n == 20_000
    assert _q(pg, "SELECT count(*) FROM t_par") == "20000"
    assert _q(pg, "SELECT sum(id) FROM t_par") == str(
        20_000 * 19_999 // 2
    )


def test_staged_write_of_a_file_scan_is_one_single_stage_job(
    pg, spark, spark_jobs, tmp_path
):
    from hivetomysql_spark.sources import read_tsv_dump

    dump = tmp_path / "dump.tsv"
    dump.write_text(
        "t.id\tt.txt\n"
        + "".join(f"{i}\tv{i}\n" for i in range(1000))
        + "t.id\tt.txt\n",
        encoding="utf-8",
    )
    _q(pg, "DROP TABLE IF EXISTS t_job; "
           "CREATE TABLE t_job (id text, txt text)")
    df = read_tsv_dump(spark, str(dump))
    n, jobs = spark_jobs(
        lambda: PG.write_pg_copy(df, "t_job", pg, mode="staged")
    )
    assert n == 1000
    assert len(jobs) == 1 and len(jobs[0]) == 1, jobs
    assert _q(pg, "SELECT count(*) FROM t_job") == "1000"


@pytest.mark.parametrize("parts, cap, tasks", [(20, 4, 4), (2, None, 2)])
def test_copy_tasks_are_partitions_capped_by_num_partitions(
    pg, spark, spark_jobs, parts, cap, tasks
):
    _q(pg, "DROP TABLE IF EXISTS t_cap; CREATE TABLE t_cap (id bigint)")
    df = spark.range(0, 2000, numPartitions=parts)
    n, jobs = spark_jobs(lambda: PG.write_pg_copy(
        df, "t_cap", pg, mode="append", num_partitions=cap
    ))
    assert n == 2000
    assert jobs == [[tasks]]
    assert _q(pg, "SELECT count(*) FROM t_cap") == "2000"
