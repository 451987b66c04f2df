"""The workloads. Each one takes its inputs from the seed, warms up
outside the timed region, then runs closed-loop passes: one client,
and each pass starts only after the previous one ends.

A workload object has ``setup(ctx)``, ``warmup(ctx)``,
``run_pass(ctx, pass_id) -> PassResult``, ``final_check(ctx) -> list of
problems`` and ``close()``; ``layer_metrics(ctx, passes)`` turns the
traced passes into per-layer numbers.
"""

from __future__ import annotations

import os
import random
import statistics
import subprocess
import time
from dataclasses import dataclass, field

from perfbench import gen
from perfbench.trace import Unstolen

# The analytics pass joins the relational and the LLM-data query lists
# and keeps two and four of them: every run pays its own JVM start and
# warm-up, and 22 runs per workload must fit the run budget.
# Relational queries: the reference's column mapping, and JVM codegen,
# shuffles, joins and build-time actions (agg_market_share fires 7 jobs
# while it builds), no Python workers.
RELATIONAL = ["parity_mapping", "agg_market_share"]
# LLM-data queries, grouped by the operators module each is built on.
OPERATOR_OF = {
    "dedup_ngram_jaccard": "dedup",
    "similarity_cosine_topk": "similarity",
    "text_tfidf_topterms": "text",
    "multimodal_phash": "multimodal",
}
LLM = list(OPERATOR_OF)
OPERATOR_MODULES = list(OPERATOR_OF.values())
ALL_QUERIES = RELATIONAL + LLM

# The read-only seed-42 test tables at sf0.01, copied unchanged into
# the benchmark so that a run reads nothing outside its checkout.
TABLES_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures", "sf0.01")
DUMP_ROWS = 100_000
COPY_BLOCK_ROWS = 10_000  # Spark's default Arrow batch size
COPY_SAMPLE_ROWS = 50_000
# The first load after a cold start runs about four times as slow as a
# warm one (JIT, Python workers starting), and the next few still drift
# down.
WARMUP_LOADS = 3
# Rows of another day put into the target before the first load: a
# re-import of DS must leave exactly the DS rows behind.
OTHER_DS = "20240104"
OTHER_DS_ROWS = 1_000


@dataclass
class Context:
    spark: object
    tracer: object
    work_dir: str
    seed: int


@dataclass
class PassResult:
    seconds: float  # wall time less the share the hypervisor stole
    wall: float
    stolen: float
    rows: int
    problems: list[str] = field(default_factory=list)
    layers: dict[str, float] = field(default_factory=dict)


def _med(passes, key) -> float:
    vals = [p.layers.get(key, 0.0) for p in passes]
    return float(statistics.median(vals)) if vals else 0.0


# ------------------------------------------------------------------ ETL


class EtlReimport:
    """Re-import of one ``ds`` partition from a Hive TSV dump into
    PostgreSQL through the staged (atomic swap) COPY sink."""

    def __init__(self):
        self.pg = None
        self.spec = None

    def setup(self, ctx: Context) -> None:
        from hivetomysql_spark.config import DumpConf, DumpMap
        from perfbench.pgserver import ScratchPostgres

        with ctx.tracer.span("gen.dump"):
            self.spec = gen.write_dump(os.path.join(ctx.work_dir, "dump.tsv"), DUMP_ROWS, ctx.seed)
        self.conf = DumpConf.from_text(gen.CONF_TEXT)
        self.mapping = DumpMap.from_text(gen.MAP_TEXT, conf=self.conf)
        self.table = self.conf.mysql_table
        with ctx.tracer.span("pg.start"):
            self.pg = ScratchPostgres(os.path.join(ctx.work_dir, "pg"))
            self.pg.start()
        cols = ", ".join(f'"{c}" text' for c in gen.TARGET_COLUMNS)
        self._psql(
            f'CREATE TABLE "{self.table}" ({cols}); '
            f'INSERT INTO "{self.table}" (event_id, ds, version) '
            f"SELECT g::text, '{OTHER_DS}', '2.0' FROM generate_series(1, {OTHER_DS_ROWS}) g"
        )

    def _psql(self, sql: str) -> str:
        from hivetomysql_spark.sinks.pg_copy import run_psql

        return run_psql(self.pg.psql_args, sql)

    def _load(self, ctx: Context, pass_id) -> tuple[PassResult, dict]:
        from hivetomysql_spark.pipeline import run_pipeline
        from hivetomysql_spark.sinks.pg_copy import write_pg_copy
        from hivetomysql_spark.sources import read_tsv_dump

        tr = ctx.tracer
        written = {}

        def timed_sink(df, conf, mapping):
            with tr.span("sinks.write_pg_copy", spark_jobs=True) as s:
                written["rows"] = write_pg_copy(df, conf.mysql_table, self.pg.psql_args, mode="staged")
            written["span"] = s

        metrics: dict = {}
        with tr.span("pass", pass_id=pass_id), Unstolen() as clock:
            with tr.span("sources.read_tsv_dump", spark_jobs=True) as src:
                df = read_tsv_dump(ctx.spark, self.spec.path)
            with tr.span("pipeline.run_pipeline", spark_jobs=True) as pipe:
                run_pipeline(df, self.conf, self.mapping, sink=timed_sink, metrics_out=metrics)
        res = PassResult(clock.seconds, clock.wall, clock.stolen_share, written.get("rows", 0))
        spans = {"sources": src, "pipeline": pipe, "sinks": written.get("span")}
        return res, {"metrics": metrics, "spans": spans}

    def _check(self, res: PassResult, metrics: dict) -> None:
        spec = self.spec
        if res.rows != spec.rows:
            res.problems.append(f"sink wrote {res.rows} rows, dump holds {spec.rows}")
        if metrics.get("rows_out") != spec.rows:
            res.problems.append(f"metrics_out rows_out {metrics.get('rows_out')} != {spec.rows}")
        for col, n in spec.nulls.items():
            if metrics.get(f"nulls_{col}") != n:
                res.problems.append(f"nulls_{col} {metrics.get(f'nulls_{col}')} != {n}")
        count, other = self._psql(
            f'SELECT count(*), count(*) FILTER (WHERE ds IS DISTINCT FROM \'{gen.DS}\') '
            f'FROM "{self.table}"'
        ).strip().split("|")
        if int(count) != spec.rows or int(other) != 0:
            res.problems.append(f"target holds {count} rows, {other} of them not of ds {gen.DS}")

    def warmup(self, ctx: Context) -> None:
        for _ in range(WARMUP_LOADS):
            res, extra = self._load(ctx, "warmup")
            self._check(res, extra["metrics"])
            if res.problems:
                raise RuntimeError(f"warm-up load incorrect: {res.problems}")

    def run_pass(self, ctx: Context, pass_id) -> PassResult:
        res, extra = self._load(ctx, pass_id)
        self._check(res, extra["metrics"])
        if ctx.tracer.enabled:
            ctx.tracer.resolve()
            s = extra["spans"]
            sink = s["sinks"]
            res.layers = {
                "sources.read_tsv_dump_s": s["sources"].seconds,
                "sources.jobs": s["sources"].stats.get("jobs", 0),
                "pipeline.self_s": s["pipeline"].seconds - sink.seconds,
                "pipeline.jobs": s["pipeline"].stats.get("jobs", 0),
                "sinks.write_pg_copy_s": sink.seconds,
                "sinks.rows_per_s": res.rows / sink.seconds,
                "sinks.tasks": sink.stats.get("tasks", 0),
                "sinks.failed_tasks": sink.stats.get("failed_tasks", 0),
            }
        return res

    def final_check(self, ctx: Context) -> list[str]:
        cols = ", ".join(f'"{c}"' for c in gen.TARGET_COLUMNS)
        out = subprocess.run(
            ["psql", *self.pg.psql_args, "-X", "-q", "-v", "ON_ERROR_STOP=1",
             "-c", f'COPY "{self.table}" ({cols}) TO STDOUT'],
            capture_output=True, check=True, timeout=300,
        ).stdout.decode("utf-8")
        got = gen.multiset_hash(out.splitlines())
        if got != self.spec.content_hash:
            return [f"target content hash {got:x} != generator hash {self.spec.content_hash:x}"]
        return []

    def copy_text_block_mb_per_s(self, ctx: Context) -> float:
        """Throughput of the sink's public ``copy_text_block`` on
        pandas batches of the dump's own rows: the median of three
        sweeps over the first ``COPY_SAMPLE_ROWS`` rows."""
        import pandas as pd

        from hivetomysql_spark.sinks.pg_copy import copy_text_block

        cols = gen.dump_columns(DUMP_ROWS, ctx.seed)
        src_of = dict(zip(gen.TARGET_COLUMNS, gen.DUMP_COLUMNS))
        pdf = pd.DataFrame({t: cols[s][:COPY_SAMPLE_ROWS] for t, s in src_of.items()})
        for t, v in zip(gen.TARGET_COLUMNS[len(src_of):], gen.CONSTANTS):
            pdf[t] = v
        batches = [pdf.iloc[i:i + COPY_BLOCK_ROWS] for i in range(0, len(pdf), COPY_BLOCK_ROWS)]
        rates = []
        for _ in range(3):
            t0 = time.perf_counter()
            size = sum(len(copy_text_block(b)) for b in batches)
            rates.append(size / 2**20 / (time.perf_counter() - t0))
        return float(statistics.median(rates))

    def layer_metrics(self, ctx: Context, passes: list[PassResult]) -> dict[str, float]:
        keys = [
            "sources.read_tsv_dump_s", "sources.jobs", "pipeline.self_s", "pipeline.jobs",
            "sinks.write_pg_copy_s", "sinks.rows_per_s", "sinks.tasks", "sinks.failed_tasks",
        ]
        out = {k: _med(passes, k) for k in keys}
        out["sinks.copy_text_block_mb_per_s"] = self.copy_text_block_mb_per_s(ctx)
        return out

    def close(self) -> None:
        if self.pg is not None:
            self.pg.stop()


# ------------------------------------------------------------ analytics


class QueryPass:
    """One pass runs every query of the list once, in an order drawn
    from the seed, each output consumed by Spark's no-op sink. The
    tables are the fixed test tables; the seed sets only the order."""

    def __init__(self):
        self.results: dict[str, tuple[list, list]] = {}
        self.result_rows = 0

    def setup(self, ctx: Context) -> None:
        import __spark_entry__ as entry

        registry = entry.queries()
        self.fns = {q: registry[q] for q in ALL_QUERIES}
        self.order_rng = random.Random(ctx.seed)

    def warmup(self, ctx: Context) -> None:
        """Run every query once, collecting its rows for the oracle
        check in :meth:`final_check`."""
        for q in sorted(ALL_QUERIES):
            df = self.fns[q](ctx.spark, TABLES_DIR)
            self.results[q] = (df.collect(), df.columns)
        self.result_rows = sum(len(rows) for rows, _ in self.results.values())

    def run_pass(self, ctx: Context, pass_id) -> PassResult:
        tr = ctx.tracer
        order = list(ALL_QUERIES)
        self.order_rng.shuffle(order)
        spans = {}
        with tr.span("pass", pass_id=pass_id), Unstolen() as clock:
            for q in order:
                layer = f"operators.{OPERATOR_OF[q]}" if q in OPERATOR_OF else "queries"
                with tr.span(f"{layer}.{q}") as qs:
                    with tr.span("queries.build", spark_jobs=True) as b:
                        df = self.fns[q](ctx.spark, TABLES_DIR)
                    with tr.span("spark.run", spark_jobs=True) as e:
                        df.write.format("noop").mode("overwrite").save()
                spans[q] = (qs, b, e)
        # the contract asks every workload for rows_per_s; here it is
        # the fixed result row count over pass time
        res = PassResult(clock.seconds, clock.wall, clock.stolen_share, self.result_rows)
        if tr.enabled:
            tr.resolve()
            layers: dict[str, float] = {}
            for q, (qs, b, e) in spans.items():
                layers[f"q.{q}.build_s"] = b.seconds
                layers[f"q.{q}.exec_s"] = e.seconds
                layers[f"q.{q}.build_jobs"] = b.stats.get("jobs", 0)
                mod = OPERATOR_OF.get(q)
                if mod:
                    key = f"operators.{mod}_s"
                    layers[key] = layers.get(key, 0.0) + qs.seconds
            build = sum(b.seconds for _, b, _ in spans.values())
            layers["queries.build_s"] = build
            layers["queries.build_jobs"] = sum(b.stats.get("jobs", 0) for _, b, _ in spans.values())
            layers["queries.build_share"] = build / clock.wall
            layers["spark.run_s"] = sum(e.seconds for _, _, e in spans.values())
            for k in ("jobs", "stages", "tasks", "failed_tasks"):
                layers[f"spark.{k}"] = sum(e.stats.get(k, 0) for _, _, e in spans.values())
            res.layers = layers
        return res

    def final_check(self, ctx: Context) -> list[str]:
        """Compare each warm-up result with its DuckDB oracle on the
        same tables, by row count and value hash."""
        import duckdb

        from tools.diffcheck import table_hash
        import __spark_entry__ as entry

        oracles = entry.oracle_sql()
        con = duckdb.connect()
        try:
            for t in os.listdir(TABLES_DIR):
                name = t.removesuffix(".parquet")
                con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{os.path.join(TABLES_DIR, t)}'")
            problems = []
            for q in sorted(ALL_QUERIES):
                rows, cols = self.results[q]
                if q not in oracles:
                    problems.append(f"{q}: no oracle")
                    continue
                rel = con.sql(oracles[q])
                ocols, orows = list(rel.columns), rel.fetchall()
                if len(rows) != len(orows) or sorted(cols) != sorted(ocols):
                    problems.append(f"{q}: shape spark={len(rows)}x{sorted(cols)} oracle={len(orows)}x{sorted(ocols)}")
                elif table_hash(rows, cols) != table_hash(orows, ocols):
                    problems.append(f"{q}: value hash differs from oracle")
            return problems
        finally:
            con.close()

    def layer_metrics(self, ctx: Context, passes: list[PassResult]) -> dict[str, float]:
        keys = ["queries.build_s", "queries.build_jobs", "queries.build_share", "spark.run_s",
                "spark.jobs", "spark.stages", "spark.tasks", "spark.failed_tasks"]
        keys += [f"operators.{m}_s" for m in OPERATOR_MODULES]
        for q in ALL_QUERIES:
            keys += [f"q.{q}.build_s", f"q.{q}.exec_s", f"q.{q}.build_jobs"]
        return {k: _med(passes, k) for k in keys}

    def close(self) -> None:
        pass


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric a traced run reports, with its unit.
    Every workload reports all of them; a layer it does not exercise
    reads 0."""
    names = ["session.get_spark_s", "session.warmup_s", "trace.pass_s", "trace.pass_wall_s",
             "host.stolen_share",
             "sources.read_tsv_dump_s", "sources.jobs", "pipeline.self_s", "pipeline.jobs",
             "sinks.write_pg_copy_s", "sinks.rows_per_s", "sinks.tasks", "sinks.failed_tasks",
             "sinks.copy_text_block_mb_per_s",
             "queries.build_s", "queries.build_jobs", "queries.build_share",
             "spark.run_s", "spark.jobs", "spark.stages", "spark.tasks", "spark.failed_tasks"]
    names += [f"operators.{m}_s" for m in OPERATOR_MODULES]
    for q in ALL_QUERIES:
        names += [f"q.{q}.build_s", f"q.{q}.exec_s", f"q.{q}.build_jobs"]

    def unit(n: str) -> str:
        for suffix, u in (("rows_per_s", "rows/s"), ("mb_per_s", "MB/s"), ("_s", "s"), ("_share", "ratio")):
            if n.endswith(suffix):
                return u
        return "count"

    return {n: unit(n) for n in names}


WORKLOADS = {
    "etl_reimport": EtlReimport,
    "analytics": QueryPass,
}
