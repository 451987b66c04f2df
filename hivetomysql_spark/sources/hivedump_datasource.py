"""``hivedump`` — a Spark 4 Python DataSource that writes the
reference's native Hive TSV dump format.

The reference stages its data as a tab-separated local dump (citations
into its HiveToMysql.java): a header line first (526-545),
literal ``NULL`` text for SQL NULL (443-446), all columns varchar
(README.md:17). This module lets the engine emit such dumps for
anything still consuming that staging format::

    spark.dataSource.register(HiveDumpDataSource)
    df.write.format("hivedump").mode("overwrite").save(path)

The format is write-only: dumps are read back with
``sources/readers.py:read_tsv_dump``. File access uses local ``open``
(the reference stages dumps on local disk, HiveToMysql.java:223-228);
on a cluster write to a shared mount or swap in an fsspec open.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql.datasource import (
    DataSource,
    DataSourceWriter,
    WriterCommitMessage,
)


def _files(path: str) -> list[str]:
    if os.path.isdir(path):
        return sorted(
            f
            for f in glob.glob(os.path.join(path, "*"))
            if os.path.isfile(f)
        )
    return [path]


class HiveDumpDataSource(DataSource):
    """Reference-native TSV dump as a pluggable Spark write format."""

    @classmethod
    def name(cls) -> str:
        return "hivedump"

    def _path(self) -> str:
        path = self.options.get("path")
        if not path:
            raise ValueError("hivedump requires a path")
        return path

    def writer(self, schema, overwrite: bool) -> "HiveDumpWriter":
        path = self._path()
        if overwrite and os.path.isdir(path):
            for f in _files(path):
                os.remove(f)
        return HiveDumpWriter(schema, path)


class HiveDumpWriter(DataSourceWriter):
    """Writer for the reference's dump format: per-partition TSV
    files with the header line first and SQL NULL encoded as the
    literal ``NULL`` text (HiveToMysql.java:443-446) — so this
    engine can EMIT byte-compatible dump.data files for anything
    still consuming the reference's staging format, and
    ``read_tsv_dump`` reads them back.

    Values containing a tab or a line break (LF or CR, both end a
    line for the reader) would corrupt the line protocol; the
    reference silently assumes they never occur (HiveToMysql.java:366
    splits blindly) — this writer REFUSES them loudly instead. Each
    task writes ``part-<id>.dump`` independently (no cross-task
    coordination); commit is the no-op the reference's own
    append-to-local-file protocol implies."""

    def __init__(self, schema, path: str) -> None:
        self.columns = schema.fieldNames()
        self.path = path

    def write(self, iterator):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        os.makedirs(self.path, exist_ok=True)
        out = os.path.join(self.path, f"part-{pid:05d}.dump")
        with open(out, "w", encoding="utf-8") as fh:
            fh.write("\t".join(self.columns) + "\n")
            for row in iterator:
                vals = []
                for v in row:
                    if v is None:
                        vals.append("NULL")
                    else:
                        s = str(v)
                        if "\t" in s or "\n" in s or "\r" in s:
                            raise ValueError(
                                "hivedump cannot encode tab/newline/CR in "
                                f"value {s!r} (the reference's line "
                                "protocol has no escaping)"
                            )
                        vals.append(s)
                fh.write("\t".join(vals) + "\n")
        return WriterCommitMessage()

    def commit(self, messages):
        return None

    def abort(self, messages):
        return None
