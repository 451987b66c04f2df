"""One registry capture pass for the slow audit gates.

Builds every registry query ONCE per scale with five build-time spies
installed together, and reads the plan facts the structural gates
need from the frame that build returned:

* ``broadcast``   — rows of every ``F.broadcast(df)`` frame (counted
  after the build; -1 if the count fails);
* ``collect``     — rows returned by every classic ``DataFrame.collect``
  / ``toPandas`` call (driver pulls fire while plans build: thresholds,
  centroid seeds, iteration probes);
* ``checkpoint``  — ``(rows, block-manager bytes)`` per
  ``localCheckpoint`` call (the count materializes lazy sites);
* ``crossjoin``   — ``(left_rows, right_rows)`` per ``crossJoin``;
* ``collect_agg`` — ``(keys, max group rows)`` per ``groupBy(...).agg``
  carrying ``collect_list``/``collect_set`` (the largest group bounds
  the array one aggregation buffer builds);
* ``join_sites``  — key names of every equi Join in the optimized plan
  (condition parsing shared with ``join_key_audit``);
* ``window_sites`` / ``window_limits`` — ``introspect.
  partitioned_window_keys`` and, when there are any,
  ``partial_window_group_limits``;
* ``global_windows`` / ``global_window_counts`` — whether the analyzed
  plan has an unpartitioned Window, and the input rows of each.

Spark 4 dispatches through the CONCRETE classic ``DataFrame``, so the
DataFrame spies patch that class — patching the ``pyspark.sql.
DataFrame`` parent never fires. All spies share one guard: a spy
records only while ``queries[name](spark, sf_dir)`` runs, and never
from inside another spy's own measurement (the collect-agg spy's
``.collect()[0]`` is not a driver pull of the query). Every original
is restored on exit. A query whose build raises is recorded with
``error`` set (``plan_error`` when only the plan walk after the build
raised) and the pass moves on.

The verdicts — allowlists, ratios, floors — live only in the gates
(tests/test_{broadcast,checkpoint,collect_agg,crossjoin,join,window}_
gate.py, tests/test_global_window_bounds.py), which all read one
session-scoped capture at sf0.001 and sf0.01 (tests/conftest.py).

Usage: python tools/registry_capture.py SMALL BIG [--queries a,b,...]
Writes ``{"small": SMALL, "big": BIG, "captures": {dir: {query:
record}}}`` as JSON to stdout.
"""

from __future__ import annotations

import contextlib
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402
from pyspark.sql.classic.dataframe import DataFrame  # noqa: E402
from pyspark.sql.group import GroupedData  # noqa: E402

import join_key_audit as JK  # noqa: E402
from hivetomysql_spark.plans import introspect as I  # noqa: E402

SPY_KEYS = ("broadcast", "collect", "checkpoint", "crossjoin", "collect_agg")


def _storage_bytes(spark) -> dict[int, int]:
    """{rdd id: stored bytes (mem+disk)} for every RDD with blocks in
    the block manager right now."""
    jsc = spark.sparkContext._jsc.sc()
    return {
        info.id(): int(info.memSize()) + int(info.diskSize())
        for info in jsc.getRDDStorageInfo()
    }


def equi_join_keys(df) -> list[tuple[str, ...]]:
    """Key names per equi Join node of the optimized plan (an
    expression key names as its SQL); a condition the tree walk could
    not attribute surfaces as ``("<unparsed-equi-cond>",)``."""
    sites = set()
    stack = [df._jdf.queryExecution().optimizedPlan()]
    while stack:
        n = stack.pop()
        if n.getClass().getSimpleName() == "Join" and not n.condition().isEmpty():
            pairs, unparsed = JK._equi_pairs(
                n.condition().get(),
                JK._attr_positions(n.left()),
                JK._attr_positions(n.right()),
            )
            if pairs:
                sites.add(tuple(
                    p["lsql"] if not p["lattr"] else p["ln"] for p in pairs
                ))
            elif unparsed:
                sites.add(("<unparsed-equi-cond>",))
        ch = n.children()
        for i in range(ch.size()):
            stack.append(ch.apply(i))
    return sorted(sites)


class _Spies:
    """The five build-time spies over one shared guard. ``rec`` is the
    current query's record; spies append to it only while
    ``recording``."""

    def __init__(self, spark):
        self.spark = spark
        self.building = False
        self.depth = 0
        self.rec: dict = {}
        self.frames: list = []  # broadcast frames, counted after the build
        self._saved: list = []

    @property
    def recording(self) -> bool:
        return self.building and not self.depth

    @contextlib.contextmanager
    def measuring(self):
        self.depth += 1
        try:
            yield
        finally:
            self.depth -= 1

    def _patch(self, owner, attr, make):
        real = getattr(owner, attr)
        self._saved.append((owner, attr, real))
        setattr(owner, attr, make(real))

    def install(self):
        spies = self
        real_count = DataFrame.count

        def broadcast(real):
            def spy(df):
                if spies.recording:
                    spies.frames.append(df)
                return real(df)
            return spy

        def pulled(real):
            def spy(self):
                rows = real(self)
                if spies.recording:
                    spies.rec["collect"].append(len(rows))
                return rows
            return spy

        def local_checkpoint(real):
            def spy(self, *args, **kwargs):
                if not spies.recording:
                    return real(self, *args, **kwargs)
                with spies.measuring():
                    before = _storage_bytes(spies.spark)
                    out = real(self, *args, **kwargs)
                    try:
                        rows = real_count(out)
                    except Exception:  # noqa: BLE001
                        rows = -1
                    try:
                        after = _storage_bytes(spies.spark)
                        nbytes = sum(v for k, v in after.items() if k not in before)
                    except Exception:  # noqa: BLE001
                        nbytes = -1
                spies.rec["checkpoint"].append((rows, nbytes))
                return out
            return spy

        def cross_join(real):
            def spy(self, other):
                if spies.recording:
                    with spies.measuring():
                        sides = []
                        for side in (self, other):
                            try:
                                sides.append(real_count(side))
                            except Exception:  # noqa: BLE001
                                sides.append(-1)
                    spies.rec["crossjoin"].append(tuple(sides))
                return real(self, other)
            return spy

        real_groupby = DataFrame.groupBy

        def group_by(real):
            def spy(self, *cols, **kw):
                gd = real(self, *cols, **kw)
                gd._audit_src = self
                gd._audit_cols = cols
                return gd
            return spy

        def agg(real):
            def spy(self, *exprs, **kw):
                has_collect = any(
                    "collect_list(" in str(e) or "collect_set(" in str(e)
                    for e in exprs
                )
                if has_collect and spies.recording and hasattr(self, "_audit_src"):
                    src, cols = self._audit_src, self._audit_cols
                    with spies.measuring():
                        try:
                            row = (
                                real(
                                    real_groupby(src, *cols),
                                    F.count(F.lit(1)).alias("__c"),
                                )
                                .agg(F.max("__c").alias("__m"))
                                .collect()[0]
                            )
                            mx = int(row["__m"]) if row["__m"] is not None else 0
                        except Exception:  # noqa: BLE001
                            mx = -1
                    keys = ",".join(str(c) for c in cols)
                    spies.rec["collect_agg"].append((keys, mx))
                return real(self, *exprs, **kw)
            return spy

        self._patch(F, "broadcast", broadcast)
        self._patch(DataFrame, "collect", pulled)
        self._patch(DataFrame, "toPandas", pulled)
        self._patch(DataFrame, "localCheckpoint", local_checkpoint)
        self._patch(DataFrame, "crossJoin", cross_join)
        self._patch(DataFrame, "groupBy", group_by)
        self._patch(GroupedData, "agg", agg)

    def restore(self):
        for owner, attr, real in reversed(self._saved):
            setattr(owner, attr, real)
        self._saved.clear()


def capture(spark, sf_dir: str, queries: dict) -> dict[str, dict]:
    """{query: record} for every ``queries[name](spark, sf_dir)``, in
    name order; see the module docstring for the record fields."""
    spies = _Spies(spark)
    out: dict[str, dict] = {}
    spies.install()
    try:
        for name in sorted(queries):
            rec = {"error": None, "plan_error": None, **{k: [] for k in SPY_KEYS}}
            out[name] = spies.rec = rec
            spies.frames = []
            spies.building = True
            try:
                df = queries[name](spark, sf_dir)
            except Exception as exc:  # noqa: BLE001
                rec["error"] = repr(exc)
                continue
            finally:
                spies.building = False
            for frame in spies.frames:
                try:
                    rec["broadcast"].append(frame.count())
                except Exception:  # noqa: BLE001
                    rec["broadcast"].append(-1)
            try:
                rec["join_sites"] = equi_join_keys(df)
                rec["window_sites"] = I.partitioned_window_keys(df)
                rec["window_limits"] = [
                    (tuple(sorted(keys)), k)
                    for keys, k in (
                        I.partial_window_group_limits(df)
                        if rec["window_sites"] else []
                    )
                ]
                rec["global_windows"] = bool(I.global_windows(df))
                rec["global_window_counts"] = (
                    I.global_window_input_counts(df) if rec["global_windows"] else []
                )
            except Exception as exc:  # noqa: BLE001
                rec["plan_error"] = repr(exc)
    finally:
        spies.restore()
    return out


def failures(cap: dict[str, dict]) -> dict[str, str]:
    """{query: error} for the queries whose build or plan walk raised."""
    return {
        q: r["error"] or r["plan_error"]
        for q, r in cap.items() if r["error"] or r["plan_error"]
    }


def spy_lists(cap: dict[str, dict], key: str) -> dict[str, list]:
    """{query: captured calls} for the queries that built and made at
    least one ``key`` call."""
    return {q: r[key] for q, r in cap.items() if not r["error"] and r[key]}


def main() -> int:
    args = list(sys.argv[1:])
    only = None
    if "--queries" in args:
        i = args.index("--queries")
        only = [n for n in args[i + 1].split(",") if n]
        del args[i : i + 2]
    if len(args) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    small, big = args

    import __spark_entry__ as entrymod
    from hivetomysql_spark.session import get_spark

    qmap = entrymod.queries()
    if only:
        qmap = {n: qmap[n] for n in only}
    spark = get_spark(app_name="registry_capture")
    spark.sparkContext.setLogLevel("ERROR")
    caps = {d: capture(spark, d, qmap) for d in (small, big)}
    json.dump({"small": small, "big": big, "captures": caps}, sys.stdout, indent=1)
    print()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
