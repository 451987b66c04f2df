"""Driver-side python oracles for queries whose DuckDB SQL oracle
cannot scale.

`event_attribution_markov_removal`'s SQL oracle unrolls 5 chains x 15
value-iteration rounds as cross-joined CTEs; DuckDB evaluates the
whole closure eagerly and runs out of memory at the derived sf1 point
(SCALING.md round 7) even though the underlying math is O(states^2).
The scale-capable oracle below keeps DuckDB for the part it is good
at — the journey-window SQL that reduces 1M events to a 5x6
transition-count table — and runs the five value-iteration chains in
NumPy on that tiny matrix, mirroring the published recurrence
v_{k+1}(s) = sum_t P(s,t) * v_k(t) (Anderl et al. 2014), not the
Spark implementation. diffcheck substitutes a registered python
oracle UNCONDITIONALLY whenever the fixture is directory-shaped
(i.e. a derived scale built by tools/make_sfup.py) — the SQL twin is
never attempted there. The SQL twin runs only at the single-file
driver fixtures (sf0.001/sf0.01/sf0.1), which is where the driver's
own gate exercises it; tests/test_py_oracles_parity.py pins the two
oracles bit-identical at sf0.01 so the substitution stays honest.

Each oracle: callable(duckdb_connection) -> (rows, column_names).
"""

from __future__ import annotations

import decimal

import numpy as np


def _round_half_up(x: float, digits: int) -> float:
    """Spark's ROUND on double: HALF_UP over the double's SHORTEST
    decimal repr (BigDecimal.valueOf) — python round() is banker's
    and would diverge at exact midpoints."""
    q = decimal.Decimal(1).scaleb(-digits)
    return float(
        decimal.Decimal(repr(float(x))).quantize(
            q, rounding=decimal.ROUND_HALF_UP
        )
    )


def _mra_numpy(con):
    from hivetomysql_spark.queries.events_suite import (
        _MRA_CHANNELS,
        _MRA_DSTS,
        _MRA_ITERS,
        _MRA_SRCS,
        _mra_trans_cte,
    )

    counts = con.sql(
        f"WITH {_mra_trans_cte()} "
        "SELECT src, dst, COUNT(*) AS c FROM trans GROUP BY 1, 2"
    ).fetchall()
    srcs, dsts = _MRA_SRCS, _MRA_DSTS
    C = np.zeros((len(srcs), len(dsts)), dtype=np.float64)
    for s, d, c in counts:
        C[srcs.index(s), dsts.index(d)] = float(c)
    row_tot = C.sum(axis=1)

    # value vector over srcs; dst "purchase" contributes 1.0, "NULL"
    # 0.0, a channel dst contributes v[src index of that channel]
    dst_to_src = [
        srcs.index(d) if d in srcs else None for d in dsts
    ]

    def converge(removed: str | None) -> float:
        P = C.copy()
        if removed is not None:
            P[:, dsts.index(removed)] = 0.0  # inbound edges -> NULL
        with np.errstate(invalid="ignore", divide="ignore"):
            P = np.where(row_tot[:, None] > 0, P / row_tot[:, None], 0.0)
        reward = P[:, dsts.index("purchase")]
        # transition-into-states matrix: columns of P that map back
        # onto a src state (the absorbing purchase/NULL columns carry
        # no future value)
        T = np.zeros((len(srcs), len(srcs)))
        for j, si in enumerate(dst_to_src):
            if si is not None:
                T[:, si] += P[:, j]
        v = np.zeros(len(srcs))
        for _ in range(_MRA_ITERS):
            v = T @ v + reward
            if removed is not None:
                v[srcs.index(removed)] = 0.0
        return float(v[0])  # START

    base = converge(None)
    effects = {c: 1.0 - converge(c) / base for c in _MRA_CHANNELS}
    total = sum(effects.values())
    rows = [
        (
            c,
            _round_half_up(base, 4),
            _round_half_up(effects[c], 4),
            _round_half_up(
                effects[c] / total if total != 0 else 0.0, 4
            ),
        )
        for c in _MRA_CHANNELS
    ]
    cols = [
        "channel",
        "base_cvr_15step",
        "removal_effect",
        "attribution_share",
    ]
    return rows, cols


def _spearman_by_value(con):
    """stats_spearman_corr's SQL twin with each tie-averaged rank read
    from a per-value table: a value's RANK() is 1 + the rows strictly
    below it, a prefix sum over O(distinct) counts, so the three rank
    columns are hash-join lookups instead of three global sorts of
    lineitem (at the derived sf10 the twin ran past 30 minutes on 4
    cores). Same rank values, same CORR and ROUND."""

    def ranks(col):
        below = (
            "SUM(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING "
            "AND 1 PRECEDING)"
        )
        return (
            f"(SELECT v, CAST(COALESCE({below}, 0) AS BIGINT) + 1"
            f" + (c - 1) / 2.0 AS fr FROM (SELECT {col} AS v,"
            f" COUNT(*) AS c FROM lineitem GROUP BY 1))"
        )

    rel = con.sql(
        f"""
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               ROUND(CORR(q.fr, p.fr), 6) AS rho_qty_price,
               ROUND(CORR(q.fr, d.fr), 6) AS rho_qty_disc,
               ROUND(CORR(d.fr, p.fr), 6) AS rho_disc_price
        FROM lineitem l
        JOIN {ranks("l_quantity")} q ON l.l_quantity = q.v
        JOIN {ranks("l_extendedprice")} p ON l.l_extendedprice = p.v
        JOIN {ranks("l_discount")} d ON l.l_discount = d.v
        """
    )
    return rel.fetchall(), list(rel.columns)


PY_ORACLES = {
    "event_attribution_markov_removal": _mra_numpy,
    "stats_spearman_corr": _spearman_by_value,
}
