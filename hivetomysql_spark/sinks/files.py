"""File sinks (extension tier): parquet / CSV.

The reference's only sink is MySQL; at 100 TB the common landing zone
is columnar files, so the engine treats parquet as a first-class sink.
``partition_by`` columns become directory partitions — the write-side
mirror of the ``ds=`` partition pruning on the read side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    max_records_per_file: int | None = None,
) -> None:
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", str(max_records_per_file))
    writer.parquet(path)


def overwrite_partitions(
    df: DataFrame, path: str, partition_by: list[str]
) -> None:
    """Idempotent partition-scoped overwrite for file sinks — the
    data-lake mirror of the reference's delete-before-insert
    (HiveToMysql.java:270-282): re-running a day replaces exactly the
    partitions present in ``df``, leaving every other partition
    untouched.

    ``partitionOverwriteMode=dynamic`` is set as a writer option, so
    it applies to this write only — no session-level conf mutation.
    With static mode (the default) ``mode("overwrite")`` would wipe
    the whole root path; dynamic is what makes per-``ds`` re-imports
    safe at 100 TB where the root holds years of partitions.
    """
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_by)
        .parquet(path)
    )


def write_bucketed_table(
    df: DataFrame,
    table: str,
    path: str,
    bucket_by: list[str],
    n_buckets: int = 8,
    sort_by: list[str] | None = None,
) -> None:
    """Persist a DataFrame as a bucketed (+ optionally sort-ordered)
    table: rows are hash-clustered into ``n_buckets`` files per
    partition by ``bucket_by``.

    This is the co-location contract for repeated big joins: two
    tables bucketed on the same key with the same bucket count join
    WITHOUT a shuffle (and without a sort, if ``sort_by`` matches) —
    the exchange that dominates a 100 TB join is paid once at write
    time instead of per query. Asserted plan-shape in
    tests/test_plans.py::test_bucketed_join_is_shuffle_free.
    """
    writer = df.write.mode("overwrite").option("path", path)
    writer = writer.bucketBy(n_buckets, *bucket_by)
    if sort_by:
        writer = writer.sortBy(*sort_by)
    writer.saveAsTable(table)


def compact_files(
    spark,
    src_path: str,
    dest_path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> tuple[int, int]:
    """Small-files compaction: rewrite a parquet directory into
    ceil(total_bytes / target) files. Returns (files_before,
    files_after).

    Small files are the silent killer of 100 TB scans (one task +
    one open per file, starved vectorized reads); periodic compaction
    to ~128 MB keeps task counts sane. File inventory comes from the
    ``_metadata`` columns — engine-side, works on any FileSystem (no
    driver-side directory walking). The rewrite stages to
    ``dest_path``; swapping it over the source atomically is the
    orchestrator's move (rename on HDFS, copy-manifest on object
    stores).
    """
    from pyspark.sql import functions as F

    df = spark.read.parquet(src_path)
    inventory = (
        df.select(
            F.col("_metadata.file_path").alias("p"),
            F.col("_metadata.file_size").alias("sz"),
        )
        .groupBy("p")
        .agg(F.first("sz").alias("sz"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("sz").alias("bytes"))
        .collect()[0]
    )
    n_out = max(1, -(-int(inventory.bytes) // target_file_bytes))
    df.repartition(n_out).write.mode("overwrite").parquet(dest_path)
    return int(inventory.n), n_out


def expire_partitions(
    spark,
    path: str,
    partition_col: str,
    keep_values: list[str],
) -> list[str]:
    """Retention: drop Hive-style partition directories whose value
    is not in ``keep_values``; returns the dropped partition values.
    Deletion goes through the Hadoop FileSystem API (FS-agnostic —
    HDFS, S3A, local alike) and touches ONLY expired directories:
    surviving partitions are never read or rewritten, so retention
    on a 100 TB table is O(expired partitions), not O(table)."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    root = jvm.org.apache.hadoop.fs.Path(path)
    fs = root.getFileSystem(conf)
    dropped = []
    for status in fs.listStatus(root):
        name = status.getPath().getName()
        if not name.startswith(f"{partition_col}="):
            continue
        value = name.split("=", 1)[1]
        if value not in keep_values:
            fs.delete(status.getPath(), True)
            dropped.append(value)
    return dropped
