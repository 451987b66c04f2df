"""Reference-parity ETL pipeline: read → map → validate → sink.

The reference's three materialized stages (Hive dump → local TSV →
SQL text → mysql CLI, HiveToMysql.java:192-216) collapse into one lazy
DataFrame plan. What we keep is its *observable contract*:

* dump.map-driven projection/rename/constant injection
  (HiveToMysql.java:141-169, 382-459)
* missing-source-field ⇒ warn+drop or abort 9997 depending on
  ``error_if_src_field_not_exsits`` (HiveToMysql.java:309-332)
* empty input ⇒ abort 9998 or success depending on
  ``error_if_none_data``, never a write (HiveToMysql.java:200-207)
* output column order = map-file order (HiveToMysql.java:143)
* delete-before-insert idempotency keyed on the constant columns
  (HiveToMysql.java:270-282) — implemented in sinks.jdbc.

Intentional divergences (documented per SURVEY.md §7.4): the quote
selection / HTML-entity escaping (HiveToMysql.java:470-508, which has
a latent no-op-replaceAll bug) is obsolete — the JDBC writer uses
prepared statements, so values are parameterized, never spliced into
SQL text.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hivetomysql_spark.config import DumpConf, DumpMap
from hivetomysql_spark.errors import MissingSourceFieldError, NoDataError

log = logging.getLogger(__name__)


def validate_mapping(
    df: DataFrame, mapping: DumpMap, error_if_missing: bool = False
) -> DumpMap:
    """Check mapped source fields exist; drop or raise per the flag.

    Reference behavior at HiveToMysql.java:309-332: a mapped source
    field missing from the dump header is dropped with a warning, or
    aborts with exit 9997 when ``error_if_src_field_not_exsits``.
    """
    available = set(df.columns)
    missing = [
        f.target for f in mapping.fields
        if f.source is not None and f.source not in available
    ]
    if not missing:
        return mapping
    if error_if_missing:
        raise MissingSourceFieldError(
            f"mapped source fields not in source schema: {missing}"
        )
    for tgt in missing:
        log.warning("dropping mapped field %s: source column missing", tgt)
    keep = [
        f for f in mapping.fields
        if f.source is None or f.source in available
    ]
    return DumpMap(fields=keep)


def apply_mapping(df: DataFrame, mapping: DumpMap) -> DataFrame:
    """Project/rename/constant-fill per dump.map, in map order.

    One narrow ``select`` — no shuffle, fully codegen'd, and Catalyst
    column-pruning pushes the source-column subset all the way into
    the scan (the reference, by contrast, always exported ``select *``
    and dropped columns only at SQL-generation time —
    HiveToMysql.java:227 vs 382-459).
    """
    cols = []
    for spec in mapping.fields:
        if spec.is_constant:
            cols.append(F.lit(spec.constant).alias(spec.target))
        else:
            cols.append(F.col(spec.source).alias(spec.target))
    return df.select(*cols)


def run_pipeline(
    df: DataFrame,
    conf: DumpConf,
    mapping: DumpMap,
    sink=None,
    metrics_out: dict | None = None,
) -> DataFrame:
    """Full parity pipeline on an already-loaded source DataFrame.

    Returns the mapped DataFrame (and writes it via ``sink`` when
    given — ``sink`` is any callable ``(DataFrame, DumpConf, DumpMap)
    -> None``, normally :func:`hivetomysql_spark.sinks.jdbc.write_jdbc`).

    When ``metrics_out`` is a dict and the sink executes, it is
    filled with data-quality counters (rows written, null count per
    target column) collected via ``df.observe`` DURING the sink's own
    pass — no second scan, which is the only acceptable cost model at
    100 TB (the reference logs its row counts the same single-pass
    way, counting lines as it writes, HiveToMysql.java:345-369).
    """
    mapping = validate_mapping(
        df, mapping, error_if_missing=conf.error_if_src_field_not_exsits
    )
    mapped = apply_mapping(df, mapping)
    writes = sink is not None and not conf.skip_sql_to_target
    # the reference stops before its write stage on empty input either
    # way: exit 9998, or success with the target untouched
    # (HiveToMysql.java:200-207)
    if (conf.error_if_none_data or writes) and mapped.isEmpty():
        if not conf.error_if_none_data:
            log.info("no data rows; target left untouched")
            return mapped
        src = (
            f"{conf.hive_db}.{conf.hive_table}"
            if conf.hive_db or conf.hive_table
            else conf.raw.get("source_path", "<source>")
        )
        raise NoDataError(f"no data for {src} ds={conf.ds}")
    if writes:
        if conf.mode == "test":
            # dry-run: log the plan instead of executing
            # (reference mode=test, HiveToMysql.java:127,560-564)
            from hivetomysql_spark.plans.introspect import physical_plan

            log.info("mode=test dry-run plan:\n%s", physical_plan(mapped))
        else:
            to_write = mapped
            obs = None
            if metrics_out is not None:
                from pyspark.sql import Observation

                obs = Observation("pipeline")
                counters = [F.count(F.lit(1)).alias("rows_out")] + [
                    F.count_if(F.col(t).isNull()).alias(f"nulls_{t}")
                    for t in mapping.target_names
                ]
                # observe AFTER the isEmpty guard above — that check
                # runs a limit-1 job which would otherwise satisfy
                # the observation with partial counts
                to_write = mapped.observe(obs, *counters)
            sink(to_write, conf, mapping)
            if obs is not None:
                metrics_out.update(obs.get)
                log.info("pipeline metrics: %s", metrics_out)
    return mapped
