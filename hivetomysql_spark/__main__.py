"""CLI entry point: ``python -m hivetomysql_spark <conf-file>``.

Mirrors the reference's invocation contract (run.sh:9 ``java
HiveToMysql dump.conf``; main at HiveToMysql.java:71-88): one
properties file drives source → mapping → sink, and the process exit
code classifies failures for an external scheduler (9995-9999,
README.md:30-35).

Conf keys (reference keys plus file-source extensions):

* reference set — ``hive_db``/``hive_table``/``ds``/``ds_formater``,
  ``mysql_*``, ``delete_before_dump``, ``mode=test`` (dry-run),
  ``skip_sql_to_target``, ``error_if_none_data``,
  ``error_if_src_field_not_exsits``.
* extensions — ``source_format`` (``hive`` | ``parquet`` | ``orc`` |
  ``json`` | ``csv`` | ``tsv``),
  ``source_path`` (for file formats), ``ds_column`` (partition column
  for non-Hive sources, default ``ds``; empty disables the filter),
  ``map_file`` (default: ``dump.map`` next to the conf file),
  ``sink_format`` (``jdbc`` default | ``parquet`` | ``none``),
  ``sink_path`` (for parquet), and the JDBC target's dialect:
  ``jdbc_url``, ``jdbc_url_params``, ``jdbc_ident_quote``,
  ``jdbc_create_types`` (see :func:`~hivetomysql_spark.sinks.jdbc.write_jdbc`).
* accepted and ignored — the reference's ``skip_dump_to_local_file``
  and ``skip_local_file_to_sql``: the engine has no local-file stage.
"""

from __future__ import annotations

import logging
import sys
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from hivetomysql_spark.config import DumpConf, DumpMap
from hivetomysql_spark.errors import to_exit_code
from hivetomysql_spark.pipeline import run_pipeline
from hivetomysql_spark.session import get_spark
from hivetomysql_spark.sinks.files import write_parquet
from hivetomysql_spark.sinks.jdbc import write_jdbc
from hivetomysql_spark.sources import (
    read_csv,
    read_hive_table,
    read_json,
    read_orc,
    read_parquet,
    read_tsv_dump,
)

log = logging.getLogger("hivetomysql_spark.cli")


def load_source(spark: SparkSession, conf: DumpConf) -> DataFrame:
    fmt = conf.raw.get("source_format", "hive")
    ds_column = conf.raw.get("ds_column", "ds")
    if fmt == "hive":
        return read_hive_table(
            spark, conf.hive_db, conf.hive_table, ds=conf.ds, ds_column=ds_column
        )
    path = conf.raw["source_path"]
    if fmt == "tsv":
        return read_tsv_dump(spark, path)
    if fmt == "parquet":
        df = read_parquet(spark, path)
    elif fmt == "orc":
        df = read_orc(spark, path)
    elif fmt == "json":
        df = read_json(spark, path)
    elif fmt == "csv":
        df = read_csv(spark, path)
    else:
        raise ValueError(f"unknown source_format: {fmt!r}")
    if ds_column and ds_column in df.columns:
        df = df.where(df[ds_column] == conf.ds)
    return df


def make_sink(conf: DumpConf):
    fmt = conf.raw.get("sink_format", "jdbc")
    if fmt == "none":
        return None
    if fmt == "parquet":
        return lambda df, c, m: write_parquet(df, c.raw["sink_path"], mode="overwrite")
    if fmt == "jdbc":
        return write_jdbc
    raise ValueError(f"unknown sink_format: {fmt!r}")


def run(conf_file: str) -> int:
    conf = DumpConf.from_file(conf_file)
    map_file = conf.raw.get(
        "map_file", str(Path(conf_file).parent / "dump.map")
    )
    mapping = DumpMap.from_file(map_file, conf=conf)
    spark = get_spark(
        app_name=f"hivetomysql:{Path(conf_file).stem}",
        hive_support=conf.raw.get("source_format", "hive") == "hive",
    )
    df = load_source(spark, conf)
    out = run_pipeline(df, conf, mapping, sink=make_sink(conf))
    log.info("pipeline done: %d output columns", len(out.columns))
    return 0


def run_query(argv: list[str]) -> int:
    """``python -m hivetomysql_spark query <name> [sf_dir] [--explain]
    [--limit N]`` — run any registry query interactively; ``query
    --list`` enumerates the inventory. The ad-hoc face of the engine
    (the conf-file path stays the reference-parity batch face)."""
    from hivetomysql_spark import queries as registry

    qmap = registry.queries()
    if not argv or argv[0] == "--list":
        for name in sorted(qmap):
            print(name)
        return 0
    name = argv[0]
    if name not in qmap:
        log.error("unknown query %r (try: query --list)", name)
        return 2
    rest = argv[1:]
    explain = "--explain" in rest
    rest = [a for a in rest if a != "--explain"]
    limit = 20
    if "--limit" in rest:
        i = rest.index("--limit")
        limit = int(rest[i + 1])
        rest = rest[:i] + rest[i + 2 :]
    sf_dir = rest[0] if rest else "/root/testdata/sf0.01"
    spark = get_spark(app_name=f"query:{name}")
    spark.sparkContext.setLogLevel("ERROR")
    df = qmap[name](spark, sf_dir)
    if explain:
        df.explain("formatted")
    df.show(limit, truncate=False)
    return 0


def main(argv: list[str]) -> int:
    logging.basicConfig(
        level=logging.INFO, format="%(asctime)s %(levelname)s %(name)s: %(message)s"
    )
    if argv and argv[0] == "query":
        return run_query(argv[1:])
    # default conf name matches the reference (HiveToMysql.java:74-76)
    conf_file = argv[0] if argv else "dump.conf"
    try:
        return run(conf_file)
    except BaseException as exc:  # noqa: BLE001 — exit-code protocol
        log.error("pipeline failed: %s", exc)
        return to_exit_code(exc)


def script_main() -> None:
    """Console-script entry point (pyproject [project.scripts])."""
    sys.exit(main(sys.argv[1:]))


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
