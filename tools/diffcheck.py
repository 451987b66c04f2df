"""Local differential harness: run every registry query on Spark and
its oracle on DuckDB, compare row count, column names, and an
order-insensitive value hash — a local stand-in for the driver's
CORRECTNESS gate so mismatches are caught before a round ends.

Usage: python tools/diffcheck.py [sf_dir] [query ...]
"""

from __future__ import annotations

import decimal
import hashlib
import math
import os
import sys

import duckdb

sys.path.insert(0, ".")

from hivetomysql_spark.session import get_spark  # noqa: E402
from hivetomysql_spark.tables import TABLE_NAMES  # noqa: E402
import __spark_entry__ as entrymod  # noqa: E402


def norm_cell(v) -> str:
    if v is None:
        return "<NULL>"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.10g}"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, decimal.Decimal):
        # the driver's pandas comparator renders DuckDB DECIMAL as
        # float64 but Spark DECIMAL as object-Decimal, so their canons
        # NEVER agree — decimal outputs are flagged as failures on
        # type (below); this float-normalization only keeps the local
        # value hash meaningful for debugging
        return f"{float(v):.10g}"
    return str(v)


def table_hash(rows, columns) -> str:
    idx = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted(
        "\x01".join(norm_cell(row[i]) for i in idx) for row in rows
    )
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode("utf-8"))
        h.update(b"\n")
    return h.hexdigest()[:16]


def pandas_cell(v) -> str:
    """Canonicalize one cell the way a pandas-based comparator sees it:
    NO numeric normalization across dtypes. A DuckDB DECIMAL that lands
    as float64 and a Spark DECIMAL that lands as object-Decimal yield
    different strings here ('123.4' vs '123.40') — by design, so the
    local gate fails where the driver's comparator would."""
    import numpy as np
    import pandas as pd

    if v is None or v is pd.NaT:
        return "<NULL>"
    if isinstance(v, (float, np.floating)):
        if math.isnan(v):
            return "NaN"
        return repr(float(v))
    if isinstance(v, (bool, np.bool_)):
        return str(int(v))
    if isinstance(v, np.integer):
        return str(int(v))
    if isinstance(v, np.ndarray):
        return "[" + ",".join(pandas_cell(x) for x in v.tolist()) + "]"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(pandas_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(
            f"{k}:{pandas_cell(x)}" for k, x in sorted(v.items())
        ) + "}"
    try:
        if pd.isna(v):
            return "<NULL>"
    except (TypeError, ValueError):
        pass
    return f"{type(v).__name__}:{v}"


def pandas_hash(pdf) -> str:
    """Order-insensitive hash of a pandas DataFrame via the
    dtype-faithful canon above (columns sorted by name). Cells are
    canonicalized per COLUMN (Series.map) and rows assembled by zip —
    same output as a row-wise iterrows() walk but ~10x faster, which
    matters for multi-million-row differentials at the derived sf1
    point (dq_duplicate_transactions emits 6.7M rows there)."""
    cols = sorted(pdf.columns)
    # .values applies the same common-dtype row upcast iterrows() did
    # (int+float -> float64, mixed -> object), so the canon is
    # byte-identical to the historical one — just without the
    # per-row Series construction
    arr = pdf[cols].values
    lines = sorted(
        "\x01".join(pandas_cell(v) for v in row) for row in arr
    )
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode("utf-8"))
        h.update(b"\n")
    return h.hexdigest()[:16]


def main() -> int:
    argv = list(sys.argv[1:])
    json_path = None
    if "--json" in argv:
        i = argv.index("--json")
        json_path = argv[i + 1]
        del argv[i:i + 2]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])
    records: dict[str, dict] = {}
    spark = get_spark(app_name="diffcheck", master="local[8]", shuffle_partitions=8)
    con = duckdb.connect()
    # DuckDB runs in this process beside the Spark driver JVM. Its
    # default cap (80% of RAM) plus the driver heap overcommits a host
    # with less than ~5x the heap in RAM: at the derived sf10 on 16 GB
    # the kernel killed the JVM during an oracle and every later query
    # failed with "Connection refused". Cap DuckDB at what the heap
    # and 3 GiB for the JVM's own overhead and this process leave; it
    # spills the rest to disk.
    heap = spark._jvm.java.lang.Runtime.getRuntime().maxMemory()
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    cap = max(1 << 30, min(ram * 4 // 5, ram - heap - (3 << 30)))
    con.execute(f"SET memory_limit = '{cap >> 20}MB'")
    derived_scale = False
    for t in TABLE_NAMES:
        # driver fixtures are single files; derived sf1 fixtures
        # (tools/make_sfup.py) are Spark-written DIRECTORIES of part
        # files — DuckDB needs the glob form for those
        path = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(path):
            derived_scale = True
            src = f"{path}/*.parquet"
        else:
            src = path
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")
    qmap = entrymod.queries()
    omap = entrymod.oracle_sql()
    failures = []
    attempted = 0
    for name, fn in qmap.items():
        if only and name not in only:
            continue
        attempted += 1
        try:
            sdf = fn(spark, sf_dir)
            srows = sdf.collect()
            scols = sdf.columns
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            records[name] = {"pass": False, "problems": [f"spark error: {e}"[:300]]}
            print(f"FAIL  {name}: spark error: {e}")
            continue
        if name not in omap:
            records[name] = {"pass": True, "rows_only": True, "rows": len(srows)}
            print(f"ok?   {name}: rows-only ({len(srows)} rows)")
            continue
        # scale substitution: some SQL oracles exceed DuckDB's own
        # capacity at the derived sf1 point (the unrolled Markov
        # closure grinds for >10 min before OOMing over 1M events) —
        # a registered python oracle verifies the same math
        # driver-side. The SQL twin stays primary at the driver's
        # single-file fixture scales (sf0.01/sf0.1), so the driver's
        # exact path keeps getting exercised there.
        from py_oracles import PY_ORACLES

        py_oracle_used = derived_scale and name in PY_ORACLES
        if py_oracle_used:
            try:
                orows, ocols = PY_ORACLES[name](con)
                otypes = []
            except Exception as e:  # noqa: BLE001
                failures.append(name)
                records[name] = {"pass": False, "problems": [f"py-oracle error: {e}"[:300]]}
                print(f"FAIL  {name}: py-oracle error: {e}")
                continue
        else:
            try:
                rel = con.sql(omap[name])
                ocols = list(rel.columns)
                otypes = [str(t) for t in rel.types]
                orows = rel.fetchall()
            except Exception as e:  # noqa: BLE001
                failures.append(name)
                records[name] = {"pass": False, "problems": [f"duckdb error: {e}"[:300]]}
                print(f"FAIL  {name}: duckdb error: {e}")
                continue
        problems = []
        # the driver's comparator fetches DuckDB results through a
        # typed path where HUGEINT (int128, e.g. SUM(BIGINT)) does not
        # round-trip like Spark's long — python fetchall() hides this,
        # so flag it on types, not values (CAST ... AS BIGINT in the
        # oracle to fix)
        huge = [c for c, t in zip(ocols, otypes) if "HUGEINT" in t]
        if huge:
            problems.append(f"oracle HUGEINT columns {huge}")
        # DECIMAL output columns are banned outright: the driver's
        # pandas comparator renders DuckDB DECIMAL as float64 but
        # Spark DECIMAL as object-Decimal, so the hashes can never
        # agree even when the values are identical (this kept
        # agg_decimal_money red for rounds 2-4 while the %.10g local
        # canon stayed green). Use DECIMAL internally, output
        # DOUBLE/BIGINT.
        stypes = dict(sdf.dtypes)
        dec_cols = sorted(
            {c for c, t in zip(ocols, otypes) if "DECIMAL" in t}
            | {c for c, st in stypes.items() if st.startswith("decimal")}
        )
        if dec_cols:
            problems.append(
                f"decimal output columns {dec_cols} (driver pandas canon "
                "diverges; cast to DOUBLE/BIGINT on both sides)"
            )
        # DATE output columns are banned like DECIMAL: Spark DATE
        # reaches pandas as object datetime.date while DuckDB DATE
        # becomes datetime64 — their canons never agree. Cast to
        # TIMESTAMP on BOTH sides (note DuckDB date_trunc at >= day
        # granularity returns DATE, not TIMESTAMP).
        date_cols = sorted(
            {c for c, t in zip(ocols, otypes) if t == "DATE"}
            | {c for c, st in stypes.items() if st == "date"}
        )
        if date_cols:
            problems.append(
                f"date output columns {date_cols} (pandas dtype diverges; "
                "cast to TIMESTAMP on both sides)"
            )
        for c, t in zip(ocols, otypes):
            st = stypes.get(c, "")
            if "DECIMAL" in t and st == "double":
                problems.append(f"type drift {c}: oracle {t} vs spark double")
            if t == "DOUBLE" and st.startswith("decimal"):
                problems.append(f"type drift {c}: oracle DOUBLE vs spark {st}")
        if len(srows) != len(orows):
            problems.append(f"rowcount spark={len(srows)} oracle={len(orows)}")
        value_hash = None
        if sorted(scols) != sorted(ocols):
            problems.append(f"columns spark={sorted(scols)} oracle={sorted(ocols)}")
        else:
            sh, oh = table_hash(srows, scols), table_hash(orows, ocols)
            value_hash = sh
            if sh != oh:
                problems.append(f"value-hash spark={sh} oracle={oh}")
            # second canon: emulate the driver's pandas comparator
            # (Spark .toPandas() vs DuckDB .df()), stringifying cells
            # per-dtype with NO cross-dtype normalization — catches
            # Decimal-vs-float64 / Int64-vs-float64 representation
            # drift that the fetchall() canon above hides
            try:
                import pandas as pd

                spd = sdf.toPandas()
                opd = (
                    pd.DataFrame(orows, columns=ocols)
                    if py_oracle_used
                    else con.sql(omap[name]).df()
                )
                ph_s, ph_o = pandas_hash(spd), pandas_hash(opd)
                if ph_s != ph_o:
                    problems.append(
                        f"pandas-canon hash spark={ph_s} oracle={ph_o}"
                    )
            except Exception as e:  # noqa: BLE001
                problems.append(f"pandas-canon error: {e}")
        if problems:
            failures.append(name)
            records[name] = {
                "pass": False,
                "problems": [p[:300] for p in problems],
            }
            print(f"FAIL  {name}: {'; '.join(problems)}")
        else:
            records[name] = {
                "pass": True,
                "rows": len(srows),
                "value_hash": value_hash,
                "py_oracle": py_oracle_used,
            }
            tag = "ok(py)" if py_oracle_used else "ok"
            # width 7, not 6: 'ok(py)' is exactly 6 chars, and the
            # sf1_rotation harvest regex needs at least one space
            # between the tag and the query name
            print(f"{tag:<7}{name}: {len(srows)} rows match")
    skipped = len(qmap) - attempted
    note = f" ({skipped} skipped by filter)" if skipped else ""
    print(f"\n{attempted - len(failures)}/{attempted} queries pass{note}")
    if json_path:
        import json as _json

        with open(json_path, "w") as f:
            _json.dump(
                {"sf_dir": sf_dir, "results": records}, f, indent=1,
                sort_keys=True,
            )
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
