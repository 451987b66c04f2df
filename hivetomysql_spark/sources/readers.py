"""Source readers.

The reference's only source is a Hive-CLI TSV dump of one table
partition (HiveToMysql.java:221-229). Here that becomes:

* :func:`read_hive_table` — metastore-backed scan; the ``ds``
  equality predicate is applied as a DataFrame filter so Catalyst
  performs static partition pruning (only the one partition's files
  are listed/read — at 100 TB this is the difference between a
  full-table scan and a single day's slice).
* :func:`read_tsv_dump` — byte-parity reader for the reference's
  native intermediate format (tab-separated, header with optional
  ``table.`` prefixes, literal ``NULL`` ⇒ null, all columns varchar —
  HiveToMysql.java:295-377,526-545). Exists so existing dump files
  keep working and so parity tests can assert the exact semantics.

Extension-tier sources: parquet / CSV / JSON / JDBC.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from hivetomysql_spark.errors import MissingHeaderError


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def read_csv(
    spark: SparkSession,
    path: str,
    header: bool = True,
    sep: str = ",",
    schema=None,
    **options,
) -> DataFrame:
    reader = spark.read.option("header", header).option("sep", sep)
    for k, v in options.items():
        reader = reader.option(k, v)
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.orc(path)


def read_json(spark: SparkSession, path: str, **options) -> DataFrame:
    reader = spark.read
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.json(path)


def read_hive_table(
    spark: SparkSession,
    db: str,
    table: str,
    ds: str | None = None,
    ds_column: str = "ds",
) -> DataFrame:
    """Scan ``db.table``, optionally pruned to one ``ds`` partition.

    Mirrors the reference's ``select * from db.tbl where ds=X``
    (HiveToMysql.java:227) — but as a lazy plan: Catalyst pushes the
    partition predicate into the metastore listing, so unlike the
    reference (which exports *all columns* of the partition to local
    disk) only the columns the downstream mapping needs are ever read.
    """
    df = spark.read.table(f"{db}.{table}")
    if ds is not None:
        df = df.where(F.col(ds_column) == F.lit(ds))
    return df


def read_jdbc(
    spark: SparkSession,
    url: str,
    table: str,
    user: str = "",
    password: str = "",
    partition_column: str | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    num_partitions: int | None = None,
    **options,
) -> DataFrame:
    """JDBC source with optional range-partitioned parallel read.

    At scale, always pass ``partition_column``/bounds/``num_partitions``
    — a single-connection JDBC read is a driver bottleneck.
    """
    reader = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("user", user)
        .option("password", password)
    )
    if partition_column is not None:
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
            .option("numPartitions", str(num_partitions or 32))
        )
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load()


def _is_hidden(name: str) -> bool:
    # Spark's file index skips these names (``_SUCCESS``, ``.crc``)
    return name.startswith(("_", "."))


def _dump_files(fs, jvm, path: str) -> list:
    """The files Spark's CSV source reads for ``path``, in path order:
    each glob match that is a file, or the files directly inside a
    matched directory, minus hidden names."""
    files = []
    for st in sorted(fs.globStatus(jvm.org.apache.hadoop.fs.Path(path)) or [],
                     key=lambda s: s.getPath().toString()):
        if st.isDirectory():
            children = sorted(fs.listStatus(st.getPath()),
                              key=lambda c: c.getPath().getName())
            files += [c for c in children if c.isFile()
                      and not _is_hidden(c.getPath().getName())]
        elif not _is_hidden(st.getPath().getName()):
            files.append(st)
    return files


def _header_line(spark: SparkSession, path: str) -> str | None:
    """The first line that Spark's CSV schema inference would take as
    the header: in the first file of ``path`` holding one, the first
    line that is not empty once spaces are trimmed. Read on the driver
    through the session's Hadoop ``FileSystem``, decompressing by file
    extension like Spark's text reader (``.gz`` etc.). ``None`` when no
    file has such a line."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    fs = jvm.org.apache.hadoop.fs.Path(path).getFileSystem(conf)
    codecs = jvm.org.apache.hadoop.io.compress.CompressionCodecFactory(conf)
    for st in _dump_files(fs, jvm, path):
        if st.getLen() == 0:
            continue
        stream = fs.open(st.getPath())
        try:
            codec = codecs.getCodec(st.getPath())
            if codec is not None:
                stream = codec.createInputStream(stream)
            # Hadoop's default line splitting (LF, CRLF or CR), as in
            # Spark's text reader
            reader = jvm.org.apache.hadoop.util.LineReader(stream)
            text = jvm.org.apache.hadoop.io.Text()
            while reader.readLine(text) > 0:
                line = text.toString()
                if line.strip(" "):
                    return line
        finally:
            stream.close()
    return None


def _header_names(tokens: list[str], case_sensitive: bool) -> list[str]:
    """Column names Spark's CSV inference gives a header with
    ``nullValue=NULL``: an empty or ``NULL`` field becomes ``_c<i>``,
    a name occurring twice (case-insensitively unless
    ``case_sensitive``) gets its index appended."""
    tokens = [t or "NULL" for t in tokens]  # the parser reads "" as nullValue
    key = (lambda t: t) if case_sensitive else str.lower
    seen = [key(t) for t in tokens]
    dupes = {k for k in seen if seen.count(k) > 1}
    return [
        f"_c{i}" if t == "NULL" else f"{t}{i}" if key(t) in dupes else t
        for i, t in enumerate(tokens)
    ]


def read_tsv_dump(spark: SparkSession, path: str) -> DataFrame:
    """Read a reference-native Hive TSV dump, all columns as strings.

    Reproduces (citations into /root/reference/HiveToMysql.java):

    * tab separation + header line (366, 526-545)
    * ``table.`` prefix stripped from header fields (532-545)
    * literal ``NULL`` text ⇒ SQL NULL (443-446)
    * mid-stream header echoes dropped (347-350, 402-405) — the hive
      CLI sometimes re-prints the header; with a schema'd reader any
      such line would otherwise surface as a data row, so we filter
      rows where the first column equals its own header name.
    * all-varchar model (README.md:17) — every column StringType.

    The header is read on the driver, not by a Spark job: building
    this plan starts no job. The CSV reader gets an all-string schema
    named the way its own header inference would name it (so the
    per-file header check still matches), then the names are
    stripped. ``path`` may be a file, a directory or a glob; the
    header comes from the first file in path order that has one, so
    every file of one dump must share it. A header line holding a CSV
    quote character, or no header line at all, leaves the naming (or
    the error) to Spark's inference, which then runs one job.

    Raises :class:`MissingHeaderError` (reference exit 9995) when the
    dump has no header line.
    """
    reader = (
        spark.read.option("sep", "\t")
        .option("header", "true")
        .option("nullValue", "NULL")
    )
    header = _header_line(spark, path)
    if header is None or '"' in header:
        df = reader.option("inferSchema", "false").csv(path)
    else:
        case_sensitive = spark.conf.get("spark.sql.caseSensitive") == "true"
        names = _header_names(header.split("\t"), case_sensitive)
        df = reader.schema(
            StructType([StructField(n, StringType()) for n in names])
        ).csv(path)
    if not df.columns:
        raise MissingHeaderError(f"no header line in {path}")
    # strip "table." prefixes (HiveToMysql.java:532-545)
    stripped = [c.split(".")[-1] for c in df.columns]
    raw_first = df.columns[0]
    df = df.toDF(*stripped)
    # drop header-echo rows (HiveToMysql.java:347-350): a re-echoed
    # header parses as a row whose first field is the header token.
    first = stripped[0]
    df = df.where(
        F.col(first).isNull()
        | ((F.col(first) != F.lit(raw_first)) & (F.col(first) != F.lit(first)))
    )
    return df


def read_binary_files(
    spark: SparkSession,
    path: str,
    glob: str | None = None,
    recursive: bool = True,
) -> DataFrame:
    """Multimodal raw-asset ingestion: Spark's ``binaryFile`` source
    reads each file as one row ``(path, modificationTime, length,
    content binary)`` — the entry point for image/audio/video corpora
    (FIXTURES have no real media; tests feed fake payloads).

    Scale notes: the source parallelizes per-file (one task per file
    up to ``maxPartitionBytes``), pushes ``pathGlobFilter`` down so
    non-matching files are never opened, and prunes the ``content``
    column when only metadata is selected — listing a 100 TB bucket
    for a size audit reads zero payload bytes. Pair with
    ``spark.sql.files.maxPartitionBytes`` sizing so a huge asset
    doesn't skew one task.
    """
    reader = (
        spark.read.format("binaryFile")
        .option("recursiveFileLookup", str(recursive).lower())
    )
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    return reader.load(path)


def read_xml(
    spark: SparkSession,
    path: str,
    row_tag: str = "row",
    schema=None,
) -> DataFrame:
    """XML source (native in Spark 4 — no external package): one row
    per ``row_tag`` element, attributes surfaced as ``_attr`` columns.

    Scale notes: like JSON/CSV, schema inference is a full extra pass
    over the data — always pass ``schema`` in production so the scan
    is single-pass; files split per-element only when the rowTag
    elements are newline-delimited, so prefer many medium files over
    one giant document for parallelism.
    """
    reader = spark.read.format("xml").option("rowTag", row_tag)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.load(path)
