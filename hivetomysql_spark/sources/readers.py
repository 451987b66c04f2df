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

from hivetomysql_spark.errors import MissingHeaderError, RowArityError


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


def _header_line(spark: SparkSession, files: list[str]) -> str | None:
    """The dump's header: in the first of ``files`` holding one, the
    first line that is not empty once spaces are trimmed. Read on the
    driver through the session's Hadoop ``FileSystem``, decompressing
    by file extension like Spark's text reader (``.gz`` etc.).
    ``None`` when no file has such a line."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    codecs = jvm.org.apache.hadoop.io.compress.CompressionCodecFactory(conf)
    for f in files:
        path = jvm.org.apache.hadoop.fs.Path(f)
        stream = path.getFileSystem(conf).open(path)
        try:
            codec = codecs.getCodec(path)
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
    """Column names as Spark's CSV header inference gives them with
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

    Line by line, as the reference does (citations into its
    HiveToMysql.java):

    * the header is the first line not blank once spaces are trimmed;
      its fields, split on tabs, name the columns with any ``table.``
      prefix stripped (526-545)
    * a line equal to the header (a hive CLI header echo, 347-350,
      402-405) or blank once spaces are trimmed is dropped
    * every other line is split on tabs (366), each field kept as
      written (an empty field stays ``''``, quotes stay), except that
      literal ``NULL`` becomes SQL NULL (443-446); extra fields are
      ignored
    * a row lacking a field that is read fails the job with a
      ``RowArityError:`` message (437-441; exit 9996 via
      :func:`hivetomysql_spark.errors.to_exit_code`) — only the
      columns a query references are checked, as in the reference
    * all-varchar model (README.md:17) — every column StringType.

    ``path`` may be a file, a directory or a glob; Spark's file index
    picks the files (skipping ``_SUCCESS``, ``.crc`` and the like) and
    the header comes from the first of them in path order that has
    one, so every file of one dump must share it. The header is read
    on the driver: this function never starts a Spark job.

    Raises :class:`MissingHeaderError` (reference exit 9995) when the
    dump has no header line.
    """
    lines = spark.read.text(path)
    header = _header_line(spark, sorted(lines.inputFiles()))
    if header is None:
        raise MissingHeaderError(f"no header line in {path}")
    case_sensitive = spark.conf.get("spark.sql.caseSensitive") == "true"
    # strip "table." prefixes (HiveToMysql.java:532-545)
    names = [
        n.split(".")[-1]
        for n in _header_names(header.split("\t"), case_sensitive)
    ]
    short = f"{RowArityError.__name__}: a row of {path} has no field"
    p = F.col("p")
    rows = lines.where(
        (F.col("value") != F.lit(header)) & (F.trim("value") != F.lit(""))
    ).select(F.split("value", "\t", -1).alias("p"))
    return rows.select(*[
        F.when(F.size(p) <= i, F.raise_error(F.lit(f"{short} {i + 1} ({n})")))
        .otherwise(F.nullif(p[i], F.lit("NULL")))
        .alias(n)
        for i, n in enumerate(names)
    ])


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
