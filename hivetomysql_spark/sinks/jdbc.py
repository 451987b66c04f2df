"""JDBC (MySQL) sink: a staged load swapped in by one transaction.

The reference loads via generated multi-row INSERT text piped to the
mysql CLI, 100 rows per statement (HiveToMysql.java:338-377, 352), and
makes re-runs idempotent with a ``DELETE ... WHERE k1='v1' AND ...``
keyed on the mapping's *constant* columns — typically ``ds`` +
``version`` — before loading (HiveToMysql.java:270-282, README.md:22-24).

Spark's JDBC writer subsumes the INSERT generation (``batchsize``
batched prepared statements, executed in parallel from every
partition's task — vs the reference's single-threaded pipe). But
Spark has no partition-scoped JDBC overwrite: ``mode("overwrite")``
truncates or drops the whole table. So :func:`write_jdbc` — the one
load path — lands the distributed write in a staging table of its
own, then ONE driver-side transaction runs the reference's delete
(when ``delete_before_dump`` is set) and an ``INSERT ... SELECT``
from staging. The reference's DELETE and INSERT are two separate
mysql-CLI statements with a visible gap between them; here readers
see the old rows or the new ones, and a failed load leaves the target
untouched.

Scale notes (100 TB / 1000-executor design):

* The write parallelism = number of DataFrame partitions; each task
  opens one connection. ``coalesce`` the DataFrame to a connection
  count the target MySQL can survive (default cap below) — thousands
  of concurrent INSERT streams would melt a single MySQL primary.
* ``rewriteBatchedStatements=true`` in the URL turns MySQL's batched
  prepared statements into true multi-row INSERTs — the wire-level
  equivalent of the reference's 100-rows-per-INSERT, ~10× throughput.
* The swap transaction is O(loaded rows) of server-side I/O — fine for
  the ds-grain partition loads this pipeline ships (the reference's
  unit of work). For multi-TB targets prefer a partitioned target
  table and EXCHANGE PARTITION; same staging shape.
"""

from __future__ import annotations

import logging
import uuid
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame

from hivetomysql_spark.config import DumpConf, DumpMap

log = logging.getLogger(__name__)

DEFAULT_BATCH_SIZE = 1000  # reference uses 100 (HiveToMysql.java:352)
DEFAULT_MAX_WRITE_CONNECTIONS = 16


def build_delete_statement(
    table: str, constant_fields: dict[str, str], ident_quote: str = "`"
) -> tuple[str, list[str]]:
    """Parameterized ``DELETE`` keyed on the constant columns.

    Mirrors HiveToMysql.java:270-282 (``DELETE FROM tbl WHERE 1=1 AND
    k1="v1" AND ...``) but with ``?`` placeholders instead of value
    splicing, so the injection-safety the reference *attempted* with
    quote-wrapping (470-508) is structural here.

    ``ident_quote`` is the identifier quote char — backtick for MySQL
    (the reference's target), ``"`` for ANSI databases (Derby in our
    integration test).
    """
    q = ident_quote
    clauses = " AND ".join(f"{q}{k}{q} = ?" for k in constant_fields)
    sql = f"DELETE FROM {table} WHERE 1=1"
    params: list[str] = []
    if clauses:
        sql += f" AND {clauses}"
        params = list(constant_fields.values())
    return sql, params


@contextmanager
def _connection(spark, url: str, conf: DumpConf):
    """A driver-side connection through the JVM's DriverManager (the
    JDBC driver the writer uses), closed on exit."""
    conn = spark._jvm.java.sql.DriverManager.getConnection(
        url, conf.mysql_user, conf.mysql_password
    )
    try:
        yield conn
    finally:
        conn.close()


def _update(conn, sql: str, params=()) -> int:
    stmt = conn.prepareStatement(sql)
    try:
        for i, value in enumerate(params, start=1):
            stmt.setString(i, value)
        return stmt.executeUpdate()
    finally:
        stmt.close()


def write_jdbc(
    df: DataFrame,
    conf: DumpConf,
    mapping: DumpMap | None = None,
    batch_size: int = DEFAULT_BATCH_SIZE,
    max_connections: int = DEFAULT_MAX_WRITE_CONNECTIONS,
    isolation_level: str = "READ_COMMITTED",
    url: str | None = None,
    url_params: str | None = "rewriteBatchedStatements=true",
    ident_quote: str = "`",
    create_table_column_types: str | None = None,
) -> None:
    """Load ``df`` into ``conf.mysql_table`` atomically.

    1. A missing target is created with Spark's dialect DDL
       (``create_table_column_types`` picks explicit column types, e.g.
       VARCHAR instead of Derby's CLOB, which is not ``=``-comparable,
       or MySQL's TEXT); an existing one is left as it is.
    2. The distributed writer loads ``df``, coalesced to at most
       ``max_connections`` tasks, into ``{table}__staging_<8 hex>``,
       a table unique to this load, so two loads into one target never
       share staging rows. Staging takes the dialect's default types:
       Spark binds a NULL with the dialect's null type, which a
       narrower typed column may refuse (Derby's VARCHAR takes no CLOB
       NULL), while the server's ``INSERT ... SELECT`` casts it.
    3. One driver transaction runs the reference's ``DELETE`` keyed on
       the mapping's constant columns — only when
       ``delete_before_dump`` is set; otherwise the load appends — and
       ``INSERT INTO target SELECT ... FROM staging``, then commits.
       Re-runs with ``delete_before_dump`` are idempotent (reference
       README.md:22-24); a failure anywhere before the commit leaves
       the target as it was.
    4. The staging table is dropped, on success and on failure.

    The load needs ``CREATE TABLE`` and ``DROP TABLE`` in the target's
    schema; without them it fails at the staging ``CREATE``, before any
    target row is touched.

    ``url``/``url_params``/``ident_quote`` default to the reference's
    MySQL target; the Derby integration tests override them (ANSI
    quotes, no MySQL URL params) — the write path is otherwise
    identical.
    """
    spark = df.sparkSession
    table = conf.mysql_table
    staging = f"{table}__staging_{uuid.uuid4().hex[:8]}"
    base_url = url or conf.jdbc_url
    writer_url = base_url + (f"?{url_params}" if url_params else "")

    def append(frame: DataFrame, dbtable: str, column_types: str | None = None) -> None:
        writer = frame.write.format("jdbc").options(
            url=writer_url,
            dbtable=dbtable,
            user=conf.mysql_user,
            password=conf.mysql_password,
            batchsize=str(batch_size),
            isolationLevel=isolation_level,
        )
        if column_types:
            writer = writer.option("createTableColumnTypes", column_types)
        writer.mode("append").save()

    append(df.limit(0), table, create_table_column_types)

    q = ident_quote
    cols = ", ".join(f"{q}{c}{q}" for c in df.columns)
    try:
        # coalesce never adds partitions: a frame at or below the cap
        # keeps its own, and planning needs no partition-count probe
        append(df.coalesce(max_connections), staging)
        with _connection(spark, base_url, conf) as conn:
            conn.setAutoCommit(False)
            try:
                deleted = 0
                if conf.delete_before_dump and mapping is not None:
                    deleted = _update(conn, *build_delete_statement(
                        table, mapping.constant_fields, ident_quote=q
                    ))
                inserted = _update(
                    conn, f"INSERT INTO {table} ({cols}) SELECT {cols} FROM {staging}"
                )
                conn.commit()
            except Exception:
                conn.rollback()
                raise
        log.info("staged swap into %s: -%d +%d rows", table, deleted, inserted)
    finally:
        try:
            with _connection(spark, base_url, conf) as conn:
                _update(conn, f"DROP TABLE {staging}")
        except Py4JJavaError as exc:  # the load's own error, if any, propagates
            log.warning("staging table %s not dropped: %s", staging, exc)
