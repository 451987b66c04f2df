"""``hivedump`` — a Spark 4 Python DataSource for the reference's
native Hive TSV dump format.

The reference stages its data as a tab-separated local dump and
re-parses it line by line (citations into /root/reference/
HiveToMysql.java): header with optional ``table.`` prefixes
(526-545), literal ``NULL`` text for SQL NULL (443-446), mid-stream
header echoes that must be dropped (347-350, 402-405), arity
mismatches fatal (437-441, exit 9996), all columns varchar
(README.md:17). ``sources/readers.py:read_tsv_dump`` reproduces those
rules on top of the CSV reader; this module expresses them as a
first-class pluggable format instead::

    spark.dataSource.register(HiveDumpDataSource)
    spark.read.format("hivedump").load(path)

Scale shape: one input partition per dump file, so a directory of N
dumps reads N-wide with no coordination; schema comes from one
header read on the driver (never a data scan). Rows stream through
Arrow batches like any Python data source — fine for an
ingest-once-then-parquet path, which is exactly the reference's
usage pattern. File access uses local ``open`` (the reference stages
dumps on local disk, HiveToMysql.java:223-228); on a cluster stage
to a shared mount or swap in an fsspec open.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceWriter,
    InputPartition,
    WriterCommitMessage,
)

from hivetomysql_spark.errors import RowArityError, MissingHeaderError


def _files(path: str) -> list[str]:
    if os.path.isdir(path):
        return sorted(
            f
            for f in glob.glob(os.path.join(path, "*"))
            if os.path.isfile(f)
        )
    return [path]


def _dump_files(path: str) -> list[str]:
    """The dump files of ``path``: the file itself, or a directory's
    files minus the markers a Hadoop job leaves beside them, which
    Spark's file index skips too: ``_``-prefixed (``_SUCCESS``) here,
    ``.``-prefixed (``.crc``) already by ``glob``."""
    if not os.path.isdir(path):
        return [path]
    return [f for f in _files(path) if not os.path.basename(f).startswith("_")]


def _read_header(path: str) -> list[str]:
    with open(path, encoding="utf-8") as fh:
        line = fh.readline().rstrip("\n")
    if not line:
        raise MissingHeaderError(f"no header line in {path}")
    # strip "table." prefixes (HiveToMysql.java:532-545)
    return [c.split(".")[-1] for c in line.split("\t")]


class HiveDumpDataSource(DataSource):
    """Reference-native TSV dump as a pluggable Spark format."""

    @classmethod
    def name(cls) -> str:
        return "hivedump"

    def _path(self) -> str:
        path = self.options.get("path")
        if not path:
            raise MissingHeaderError("hivedump requires a path")
        return path

    def schema(self) -> str:
        cols = _read_header(_dump_files(self._path())[0])
        # all-varchar model (reference README.md:17)
        return ", ".join(f"`{c}` string" for c in cols)

    def reader(self, schema) -> "HiveDumpReader":
        return HiveDumpReader(schema, self._path())

    def writer(self, schema, overwrite: bool) -> "HiveDumpWriter":
        path = self._path()
        if overwrite and os.path.isdir(path):
            for f in _files(path):
                os.remove(f)
        return HiveDumpWriter(schema, path)


class HiveDumpReader(DataSourceReader):
    def __init__(self, schema, path: str) -> None:
        self.columns = schema.fieldNames()
        self.path = path

    def partitions(self) -> list[InputPartition]:
        # one partition per dump file: a directory of dumps scans
        # file-parallel with zero cross-file coordination
        return [InputPartition(f) for f in _dump_files(self.path)]

    def read(self, partition: InputPartition):
        ncols = len(self.columns)
        with open(partition.value, encoding="utf-8") as fh:
            header = fh.readline().rstrip("\n")
            if not header:
                raise MissingHeaderError(f"no header line in {partition.value}")
            for lineno, raw in enumerate(fh, start=2):
                line = raw.rstrip("\n")
                if line == header:
                    # mid-stream header echo (HiveToMysql.java:347-350)
                    continue
                vals = line.split("\t")
                if len(vals) != ncols:
                    # fatal arity mismatch (HiveToMysql.java:437-441)
                    raise RowArityError(
                        f"{partition.value}:{lineno}: expected {ncols} "
                        f"fields, got {len(vals)}"
                    )
                # literal NULL text => SQL NULL (HiveToMysql.java:443-446)
                yield tuple(None if v == "NULL" else v for v in vals)


class HiveDumpWriter(DataSourceWriter):
    """Writer for the reference's dump format: per-partition TSV
    files with the header line first and SQL NULL encoded as the
    literal ``NULL`` text (HiveToMysql.java:443-446) — so this
    engine can EMIT byte-compatible dump.data files for anything
    still consuming the reference's staging format (interop both
    directions: `hivedump` reads the reference's files, this writes
    them).

    Values containing a tab or newline would corrupt the line
    protocol; the reference silently assumes they never occur
    (HiveToMysql.java:366 splits blindly) — this writer REFUSES them
    loudly instead. Each task writes ``part-<id>.dump``
    independently (no cross-task coordination, same file-parallel
    shape as the reader); commit is the no-op the reference's own
    append-to-local-file protocol implies."""

    def __init__(self, schema, path: str) -> None:
        self.columns = schema.fieldNames()
        self.path = path

    def write(self, iterator):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        os.makedirs(self.path, exist_ok=True)
        out = os.path.join(self.path, f"part-{pid:05d}.dump")
        n = 0
        with open(out, "w", encoding="utf-8") as fh:
            fh.write("\t".join(self.columns) + "\n")
            for row in iterator:
                vals = []
                for v in row:
                    if v is None:
                        vals.append("NULL")
                    else:
                        s = str(v)
                        if "\t" in s or "\n" in s:
                            raise ValueError(
                                "hivedump cannot encode tab/newline in "
                                f"value {s!r} (the reference's line "
                                "protocol has no escaping)"
                            )
                        vals.append(s)
                fh.write("\t".join(vals) + "\n")
                n += 1
        return WriterCommitMessage()

    def commit(self, messages):
        return None

    def abort(self, messages):
        return None
