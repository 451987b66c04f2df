"""PostgreSQL bulk sink: partition-parallel ``COPY FROM STDIN``
through the ``psql`` CLI.

The reference ships rows to its target by shelling out to the
database CLI from the driver process — one ``mysql -h.. -P.. -u..``
pipe for the whole load (HiveToMysql.java:258, 550-571 via
ProcessBuilder), single-threaded by construction. This sink is the
Spark-first reincarnation of that CLI transport for PostgreSQL
targets: EVERY task streams its partition through its own
``psql ... -c "COPY tbl (cols) FROM STDIN"`` subprocess — the
server's bulk-ingest fast path (one WAL stream per writer, no
per-row round trips, no client-side statement parsing) — so write
parallelism equals DataFrame partitions exactly like the JDBC sink,
while the transport needs no JDBC driver jar at all.

Why it exists beside :mod:`hivetomysql_spark.sinks.jdbc`: COPY is
the fastest ingest path PostgreSQL has (bulk loads are typically
several times faster than batched INSERTs), and a CLI transport is
sometimes the only one available (this container ships a PostgreSQL
15 server and psql but no JDBC driver jar — exactly the situation
the r12 verdict hit when Derby's embedded engine serialized the
parallel-write axis of tools/jdbc_sweep.py).

Modes:

* ``append``      — plain COPY into the target.
* ``staged``      — a whole-table replace: COPY into a staging table
  unique to the load, created ``LIKE`` the target ``INCLUDING ALL``
  (defaults, primary key, indexes, CHECK constraints), then ONE
  transaction renames staging over the target. PostgreSQL DDL is
  transactional, so unlike MySQL's RENAME dance this swap is truly
  atomic AND crash-safe: readers see the old table until commit,
  a mid-load failure leaves the target untouched (and drops its
  staging table), and the swap is a metadata flip (O(1), no row
  rewrite). Unlike :func:`hivetomysql_spark.sinks.jdbc.write_jdbc`,
  which swaps in only the rows of the mapping's constant columns,
  the target's other rows do not survive.

Scale notes (100 TB / 1000-executor design): parallelism =
partitions; ``num_partitions`` caps the concurrent COPY streams the
target must absorb (same knob and default as the JDBC sink's
connection cap). A write is one Spark job of one stage: the cap is a
narrow ``coalesce``, and each task's row count comes back to the
driver as one collected row, so no shuffle or aggregate stage
follows the COPY tasks. Rows stay columnar from the JVM to
``psql``: each task receives Arrow record batches (``mapInArrow``,
no pandas conversion), and ``pyarrow.compute`` kernels cast, escape,
NULL-mark and tab-join whole columns, so the COPY ``text`` block
handed to psql's stdin is the joined array's value buffer — no
Python work per row or per value.

Every psql start goes through :func:`psql_command`. On Debian-family
hosts ``psql`` on ``PATH`` is postgresql-common's Perl ``pg_wrapper``,
which costs ~30 ms per start before it execs the real client; for a
connection that names its host, the wrapper's choice is fixed (the
newest installed client, ``PGSYSCONFDIR`` defaulted), so the sink
makes that choice itself, once per process, on the host that runs
psql.
"""

from __future__ import annotations

import functools
import os
import re
import shutil
import subprocess
import uuid
from typing import TYPE_CHECKING, Iterable, Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame

if TYPE_CHECKING:
    import pandas as pd

DEFAULT_MAX_COPY_STREAMS = 16  # same rationale as the JDBC sink cap

# postgresql-common's layout: clients under <root>/<version>/bin, the
# wrapper's default client config directory
PG_WRAPPER_BINROOT = "/usr/lib/postgresql"
PG_WRAPPER_CONFDIR = "/etc/postgresql-common"

# COPY text-format metacharacters (PostgreSQL docs, "COPY" / text
# format): backslash first, then delimiter/newline/carriage return
_ESCAPES = [
    ("\\", "\\\\"),
    ("\t", "\\t"),
    ("\n", "\\n"),
    ("\r", "\\r"),
]


def _quote_ident(name: str) -> str:
    return '"' + name.replace('"', '""') + '"'


class CopyTextError(TypeError):
    """A column whose type or values have no COPY text form (nested
    types, binary that is not valid UTF-8)."""


def _text_column(arr: pa.Array, name: str) -> pa.Array:
    """One column as escaped COPY text: cast to string, escape the
    metacharacters, NULL -> ``\\N``."""
    if not (pa.types.is_string(arr.type) or pa.types.is_large_string(arr.type)):
        try:
            arr = pc.cast(arr, pa.string())
        except (pa.ArrowInvalid, pa.ArrowNotImplementedError) as e:
            raise CopyTextError(
                f"column {name!r} of type {arr.type} has no COPY text form: {e}"
            ) from e
    # a pass whose byte is absent from the column's values would copy
    # it unchanged; the memcpy + scan is ~50x cheaper than the
    # per-value kernel (UTF-8 never hides these ASCII bytes inside a
    # multi-byte sequence)
    raw = _value_bytes(arr)
    for old, new in _ESCAPES:
        if old.encode() in raw:
            arr = pc.replace_substring(arr, old, new)
    return pc.fill_null(arr, "\\N")


def copy_text_batch(batch: pa.RecordBatch) -> bytes:
    """One COPY text-format block for an Arrow record batch, built by
    ``pyarrow.compute`` kernels over whole columns: every column
    becomes escaped text, the last one gains the row's newline, and
    one element-wise join puts tabs between columns. The block is the
    joined array's value buffer between its first and last offset.
    Non-string columns use Arrow's cast to string, which PostgreSQL's
    input functions accept (``true``/``false``, ``0.00001``/``1e+20``,
    ``nan``/``inf``, ISO timestamps with microseconds and, for zoned
    timestamps, the session-zone wall time plus its UTC offset).
    Raises :class:`CopyTextError` for a column Arrow cannot render."""
    if batch.num_rows == 0:
        return b""
    cols = [_text_column(c, n) for c, n in zip(batch.columns, batch.schema.names)]
    # the join kernel wants one string type; Spark sends ``string``
    # unless spark.sql.execution.arrow.useLargeVarTypes is on
    large = any(pa.types.is_large_string(c.type) for c in cols)
    typ = pa.large_string() if large else pa.string()
    cols = [c.cast(typ) for c in cols]
    cols[-1] = pc.binary_join_element_wise(
        cols[-1], pa.scalar("\n", typ), pa.scalar("", typ)
    )
    return _value_bytes(pc.binary_join_element_wise(*cols, pa.scalar("\t", typ)))


def _value_bytes(arr: pa.Array) -> bytes:
    """The concatenated values of a ``string``/``large_string`` array:
    its value buffer between the first and last offset of the array's
    own window (a sliced array shares its parent's buffers)."""
    large = pa.types.is_large_string(arr.type)
    _, offsets, data = arr.buffers()
    if data is None:
        return b""
    bounds = np.frombuffer(
        offsets,
        dtype=np.int64 if large else np.int32,
        count=len(arr) + 1,
        offset=arr.offset * (8 if large else 4),
    )
    return data[int(bounds[0]):int(bounds[-1])].to_pybytes()


def copy_text_block(pdf: pd.DataFrame) -> bytes:
    """:func:`copy_text_batch` for a pandas batch."""
    return copy_text_batch(pa.RecordBatch.from_pandas(pdf, preserve_index=False))


@functools.cache
def _wrapped_psql() -> str | None:
    """The client ``pg_wrapper`` runs for psql when the wrapper is
    what ``psql`` on ``PATH`` resolves to, else ``None``: the newest
    ``<binroot>/<version>/bin/psql`` in numeric version order
    (pg_wrapper(1): psql always uses the newest installed binary)."""
    found = shutil.which("psql")
    if found is None or os.path.basename(os.path.realpath(found)) != "pg_wrapper":
        return None
    try:
        entries = os.listdir(PG_WRAPPER_BINROOT)
    except OSError:
        return None
    versions = sorted(
        (tuple(int(p) for p in v.split(".")), v)
        for v in entries
        if re.fullmatch(r"\d+(\.\d+)?", v)
        and os.access(os.path.join(PG_WRAPPER_BINROOT, v, "bin", "psql"), os.X_OK)
    )
    if not versions:
        return None
    return os.path.join(PG_WRAPPER_BINROOT, versions[-1][1], "bin", "psql")


def _names_host(args: list[str]) -> bool:
    """pg_wrapper's own test for an explicit host on the command line
    (it stops at ``--``); a ``--cluster`` argument picks the client
    from the cluster's version instead, so it counts as no host."""
    if "--" in args:
        args = args[: args.index("--")]
    if any(a.startswith("--cluster") for a in args):
        return False
    return any(re.match(r"--host\b", a) or re.fullmatch(r"-\w*h\w*", a) for a in args)


def psql_command(args: list[str]) -> tuple[list[str], dict[str, str] | None]:
    """The argv and environment (``None`` = inherit) that run
    ``psql *args``. When ``psql`` is Debian's ``pg_wrapper`` and the
    args name a host, this is the binary and environment the wrapper
    would exec, without the Perl start; otherwise plain ``psql``."""
    direct = _wrapped_psql() if _names_host(args) else None
    if direct is None:
        return ["psql", *args], None
    env = None
    if "PGSYSCONFDIR" not in os.environ:
        env = {**os.environ, "PGSYSCONFDIR": PG_WRAPPER_CONFDIR}
    return [direct, *args], env


def run_psql(psql_args: list[str], sql: str, stdin: bytes | None = None) -> str:
    """Driver/task-side psql invocation — ``ON_ERROR_STOP`` so a
    server-side error fails the task loudly instead of scrolling by
    (the reference inspects only the process exit code too,
    HiveToMysql.java:550-567, but ships without ON_ERROR_STOP's
    equivalent and can half-apply a script)."""
    argv, env = psql_command(
        [*psql_args, "-v", "ON_ERROR_STOP=1", "-X", "-q", "-A", "-t", "-c", sql]
    )
    proc = subprocess.run(
        argv,
        env=env,
        input=stdin,
        capture_output=True,
        timeout=3600,
    )
    if proc.returncode != 0:
        raise RuntimeError(
            f"psql failed (rc={proc.returncode}): "
            f"{proc.stderr.decode('utf-8', 'replace')[:500]}"
        )
    return proc.stdout.decode("utf-8", "replace")


def _copy_partitions(
    df: DataFrame, table: str, psql_args: list[str]
) -> int:
    """Distributed COPY: each task opens ONE psql COPY subprocess and
    streams all its Arrow batches through it. Returns rows written:
    each task yields its count as one row, and the driver sums the
    collected rows (no aggregate, so no second stage)."""
    cols_sql = ", ".join(_quote_ident(c) for c in df.columns)
    copy_sql = f"COPY {table} ({cols_sql}) FROM STDIN"
    args = [*psql_args, "-v", "ON_ERROR_STOP=1", "-X", "-q", "-c", copy_sql]

    def sink(batches: Iterable[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        proc = None
        n = 0
        try:
            for batch in batches:
                if batch.num_rows == 0:
                    continue
                # format first: a batch with no COPY text form fails
                # the task before any psql is started
                block = copy_text_batch(batch)
                if proc is None:
                    # resolved in the task's own process: executors
                    # may run on hosts laid out unlike the driver's
                    argv, env = psql_command(args)
                    proc = subprocess.Popen(
                        argv,
                        env=env,
                        stdin=subprocess.PIPE,
                        stderr=subprocess.PIPE,
                    )
                proc.stdin.write(block)
                n += batch.num_rows
            if proc is not None:
                proc.stdin.close()
                rc = proc.wait(timeout=3600)
                if rc != 0:
                    err = proc.stderr.read().decode("utf-8", "replace")
                    raise RuntimeError(
                        f"COPY stream failed (rc={rc}): {err[:500]}"
                    )
        finally:
            if proc is not None and proc.poll() is None:
                proc.kill()
        yield pa.RecordBatch.from_pydict({"rows": pa.array([n], pa.int64())})

    return sum(r[0] for r in df.mapInArrow(sink, "rows long").collect())


def write_pg_copy(
    df: DataFrame,
    table: str,
    psql_args: list[str],
    mode: str = "append",
    num_partitions: int | None = None,
) -> int:
    """Write ``df`` into PostgreSQL ``table`` via partition-parallel
    COPY. ``psql_args`` is the connection part of the psql command
    line (e.g. ``["-h", "/tmp/pgscratch", "-p", "55432", "-U",
    "postgres", "-d", "postgres"]``). Returns rows written.

    ``staged`` swaps atomically: COPY lands in
    ``{table}__staging_<8 hex>`` (created ``LIKE`` the target
    ``INCLUDING ALL``), then one transaction renames target ->
    ``__retired`` -> drops it and promotes staging. A concurrent
    reader holds its snapshot; a failure before COMMIT leaves the
    target untouched and drops the staging table (pytest pins both,
    tests/test_pg_copy_sink.py)."""
    # coalesce never adds partitions: a frame at or below the cap
    # keeps its own, and planning needs no partition-count probe
    df = df.coalesce(num_partitions or DEFAULT_MAX_COPY_STREAMS)

    qt = _quote_ident(table)
    if mode == "append":
        return _copy_partitions(df, qt, psql_args)
    if mode == "staged":
        staging = _quote_ident(f"{table}__staging_{uuid.uuid4().hex[:8]}")
        retired = _quote_ident(f"{table}__retired")
        run_psql(psql_args, f"CREATE TABLE {staging} (LIKE {qt} INCLUDING ALL)")
        try:
            n = _copy_partitions(df, staging, psql_args)
            run_psql(
                psql_args,
                "BEGIN; "
                f"DROP TABLE IF EXISTS {retired}; "
                f"ALTER TABLE {qt} RENAME TO {retired}; "
                f"ALTER TABLE {staging} RENAME TO {qt}; "
                f"DROP TABLE {retired}; "
                "COMMIT",
            )
        except Exception:
            run_psql(psql_args, f"DROP TABLE IF EXISTS {staging}")
            raise
        return n
    raise ValueError(f"unknown mode {mode!r}")
