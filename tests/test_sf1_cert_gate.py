"""Staleness gate for the sf1 value-certification ledger (verdict r8 #2).

``SF1_CERTIFIED.json`` says a query's complete output hash-matched
its oracle at the derived sf1 point — but that claim goes stale the
moment the query body or its oracle is edited. This gate recomputes
each certified query's content hash (fn source + oracle SQL +
py-oracle source, ``hivetomysql_spark.certify.query_hash``) and
fails, naming the queries, when any differs from the hash recorded
at certification time. Repair path: ``python tools/sf1_rotation.py
--recheck`` re-runs exactly the stale set at sf1 and refreshes the
hashes on pass.

No Spark session needed — this is pure source inspection, so it runs
in milliseconds and belongs in every pytest invocation.
"""

from __future__ import annotations

import glob
import json
import os

import pytest

from hivetomysql_spark.certify import query_hash, registry_hashes

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CERT_PATH = os.path.join(ROOT, "SF1_CERTIFIED.json")
# every scale-point ledger is staleness-gated the same way (r12:
# SF1_CERTIFIED.json + the curated heavy-tier SF10_CERTIFIED.json)
LEDGERS = sorted(glob.glob(os.path.join(ROOT, "SF*_CERTIFIED.json")))
LEDGER_IDS = [os.path.basename(p) for p in LEDGERS]


def _ledger(path=CERT_PATH):
    return json.load(open(path))


@pytest.mark.parametrize("path", LEDGERS, ids=LEDGER_IDS)
def test_every_certified_query_has_a_hash(path):
    state = _ledger(path)
    missing = sorted(set(state["certified"]) - set(state.get("hashes", {})))
    assert not missing, (
        f"{len(missing)} certified queries lack a content hash "
        f"(run `python tools/sf1_rotation.py --recheck`, which re-runs "
        f"every entry without a current hash): {missing[:10]}"
    )


@pytest.mark.parametrize("path", LEDGERS, ids=LEDGER_IDS)
def test_certified_queries_exist_in_registry(path):
    state = _ledger(path)
    current = registry_hashes()
    ghosts = sorted(set(state["certified"]) - set(current))
    assert not ghosts, (
        f"certified queries no longer registered (remove from ledger "
        f"or restore the query): {ghosts}"
    )


@pytest.mark.parametrize("path", LEDGERS, ids=LEDGER_IDS)
def test_no_stale_certifications(path):
    state = _ledger(path)
    current = registry_hashes()
    hashes = state.get("hashes", {})
    stale = sorted(
        name
        for name in state["certified"]
        if name in current and hashes.get(name) != current[name]
    )
    point = os.path.basename(path).split("_")[0].lower()
    flag = "" if point == "sf1" else f" --point {point}"
    assert not stale, (
        f"{len(stale)} {point} certifications are STALE (query body or "
        f"oracle edited since certification) — run `python "
        f"tools/sf1_rotation.py --recheck{flag}` to re-certify: {stale}"
    )


def test_hash_is_sensitive_to_source_and_oracle_edits():
    """An intentional dummy edit must trip the gate (verdict r8 #2
    'done' criterion): different fn source, different oracle SQL,
    and a py-oracle appearing/disappearing each change the hash."""

    def q_v1(spark, sf_dir):
        return spark.range(1)

    def q_v2(spark, sf_dir):
        return spark.range(2)

    base = query_hash("q", q_v1, "SELECT 1 AS x")
    assert query_hash("q", q_v2, "SELECT 1 AS x") != base
    assert query_hash("q", q_v1, "SELECT 2 AS x") != base
    assert query_hash("q", q_v1, "SELECT 1 AS x", py_oracle=q_v2) != base
    # stable for identical inputs
    assert query_hash("q", q_v1, "SELECT 1 AS x") == base


def _keys(fn, kind):
    """Keys of one kind in the query fn's dependency walk."""
    from hivetomysql_spark import certify

    return [key for k, key in certify._helper_deps(fn) if k == kind]


def _edit_source(monkeypatch, *paths):
    """Swap the walk's one source reader for one that appends a comment
    to the modules at the given dotted paths, as an on-disk edit
    would."""
    from hivetomysql_spark import certify

    real = certify._source
    monkeypatch.setattr(
        certify,
        "_source",
        lambda path: real(path) + "\n#x\n" if path in paths else real(path),
    )


def test_operator_edit_trips_staleness(monkeypatch):
    """An edit to a shared helper in ``operators/`` must change the
    content hash of every certified query that executes it — proven
    here by swapping the module source reader and watching real
    registry hashes move for exactly the dependent queries."""
    from hivetomysql_spark import certify
    from hivetomysql_spark.queries import REGISTRY, _load_all

    _load_all()
    # ml_calibration_bins imports operators.ranks fn-locally;
    # dedup_simhash_pairs uses the module-level `D = operators.dedup`
    # binding; parity_mapping uses no operators at all.
    assert "ranks" in _keys(REGISTRY["ml_calibration_bins"].fn, "op")
    assert "dedup" in _keys(REGISTRY["dedup_simhash_pairs"].fn, "op")
    assert _keys(REGISTRY["parity_mapping"].fn, "op") == []

    def h(name):
        q = REGISTRY[name]
        return certify.query_hash(name, q.fn, q.oracle)

    before = {n: h(n) for n in
              ("ml_calibration_bins", "dedup_simhash_pairs", "parity_mapping")}
    _edit_source(monkeypatch, "operators.ranks", "operators.dedup")
    assert h("ml_calibration_bins") != before["ml_calibration_bins"]
    assert h("dedup_simhash_pairs") != before["dedup_simhash_pairs"]
    assert h("parity_mapping") == before["parity_mapping"]


def test_operator_edit_transitive(monkeypatch):
    """Second-level helpers count too: dedup imports parallelism, so
    a parallelism edit must trip dedup-using certifications."""
    from hivetomysql_spark import certify
    from hivetomysql_spark.queries import REGISTRY, _load_all

    _load_all()
    q = REGISTRY["dedup_simhash_pairs"]
    deps = _keys(q.fn, "op")
    assert "parallelism" in deps, deps
    before = certify.query_hash(q.name, q.fn, q.oracle)
    _edit_source(monkeypatch, "operators.parallelism")
    assert certify.query_hash(q.name, q.fn, q.oracle) != before


def test_streaming_helper_edit_trips_staleness(monkeypatch):
    """The same walk covers ``streaming/``: an edit to
    ``streaming/windows.py`` changes stream_enrich_batch's executed
    plan, so it must move exactly the dependent queries' hashes."""
    from hivetomysql_spark import certify
    from hivetomysql_spark.queries import REGISTRY, _load_all

    _load_all()
    seb = REGISTRY["stream_enrich_batch"]
    pm = REGISTRY["parity_mapping"]
    assert "windows" in _keys(seb.fn, "stream")
    assert _keys(pm.fn, "stream") == []
    before_seb = certify.query_hash(seb.name, seb.fn, seb.oracle)
    before_pm = certify.query_hash(pm.name, pm.fn, pm.oracle)
    _edit_source(monkeypatch, "streaming.windows")
    assert certify.query_hash(seb.name, seb.fn, seb.oracle) != before_seb
    assert certify.query_hash(pm.name, pm.fn, pm.oracle) == before_pm


def test_bracketed_import_binds_the_names_it_lists():
    """``from ...streaming.windows import (`` over several lines binds
    the names inside the brackets, not ``(``: a query whose text only
    holds calls such as ``F.lag(...)`` must not be salted with
    ``streaming.windows``, while one that calls an imported name
    keeps it."""
    from hivetomysql_spark.queries import REGISTRY, _load_all

    _load_all()
    gap = REGISTRY["stream_gap_sessions_batch"].fn
    enrich = REGISTRY["stream_enrich_batch"].fn
    assert gap.__module__ == enrich.__module__
    assert "windows" not in _keys(gap, "stream")
    assert "windows" in _keys(enrich, "stream")


def test_core_module_edit_trips_staleness(monkeypatch):
    """Every other package module — ``tables.py``, ``sources/*``,
    ``config``/``pipeline`` and the rest — is salted too. A
    ``tables.py`` edit is exactly one NTZ-cast away from re-running
    the r03 bench incident (BASELINE.md:28-32), so it must move the
    hash of every certified query that loads a fixture table;
    ``etl_date_dimension`` (zero input tables, sequence+explode) must
    NOT move."""
    from hivetomysql_spark import certify
    from hivetomysql_spark.queries import REGISTRY, _load_all

    _load_all()
    # tables reached via a module-level import (dedup_simhash_pairs),
    # via a module-local helper only (parity_mapping → run_pipeline —
    # which also pulls config/pipeline/errors), and not at all
    # (etl_date_dimension)
    assert "tables" in _keys(REGISTRY["dedup_simhash_pairs"].fn, "core")
    pm_cores = _keys(REGISTRY["parity_mapping"].fn, "core")
    assert {"tables", "config", "pipeline", "errors"} <= set(pm_cores)
    assert "tables" not in _keys(REGISTRY["etl_date_dimension"].fn, "core")

    def h(name):
        q = REGISTRY[name]
        return certify.query_hash(name, q.fn, q.oracle)

    names = ("dedup_simhash_pairs", "parity_mapping", "etl_date_dimension")
    before = {n: h(n) for n in names}
    _edit_source(monkeypatch, "tables")
    assert h("dedup_simhash_pairs") != before["dedup_simhash_pairs"]
    assert h("parity_mapping") != before["parity_mapping"]
    assert h("etl_date_dimension") == before["etl_date_dimension"]


def test_core_module_closure_reaches_sources(monkeypatch):
    """The closure crosses core→core: parity's ``pipeline`` dep pulls
    ``config``/``errors``; the sources package __init__ pulls
    ``sources.readers`` — so editing a sources reader trips any query
    whose executed plan touches the sources package. No registry
    query executes sources/ today (only the CLI does), so this pins
    the mechanism on a synthetic fn instead."""
    from hivetomysql_spark import certify

    def q(spark, sf_dir):
        from hivetomysql_spark.sources import read_tsv_dump

        return read_tsv_dump(spark, sf_dir)

    deps = _keys(q, "core")
    assert "sources" in deps
    assert "sources.readers" in deps, deps  # via the __init__ closure
    before = certify.query_hash("q", q, None)
    _edit_source(monkeypatch, "sources.readers")
    assert certify.query_hash("q", q, None) != before


def test_module_local_helper_edit_trips_staleness(monkeypatch):
    """Same blind-spot class as operators, same closure: a module-level
    helper function or constant a query fn uses at runtime is salted
    into the hash — editing either must move it."""
    from hivetomysql_spark import certify
    from hivetomysql_spark.queries import REGISTRY, _load_all

    _load_all()
    # multimodal_shard_manifest reads the module constant _SHARD_CHARS
    # at runtime; parity_mapping calls the module helper
    # parity_mapping_df
    mm = REGISTRY["multimodal_shard_manifest"]
    pm = REGISTRY["parity_mapping"]
    assert any(
        n == "_SHARD_CHARS" for n, _ in certify._local_runtime_deps(mm.fn)
    )
    assert any(
        n == "parity_mapping_df" for n, _ in certify._local_runtime_deps(pm.fn)
    )
    before_mm = certify.query_hash(mm.name, mm.fn, mm.oracle)
    before_pm = certify.query_hash(pm.name, pm.fn, pm.oracle)

    import sys as _sys

    mm_mod = _sys.modules[mm.fn.__module__]
    pm_mod = _sys.modules[pm.fn.__module__]
    monkeypatch.setattr(
        mm_mod, "_SHARD_CHARS", getattr(mm_mod, "_SHARD_CHARS") + 1
    )

    def edited_helper(*a, **k):  # different source than the original
        raise RuntimeError

    # make it look module-local, as a real in-place edit would be
    edited_helper.__module__ = pm.fn.__module__
    monkeypatch.setattr(pm_mod, "parity_mapping_df", edited_helper)
    assert certify.query_hash(mm.name, mm.fn, mm.oracle) != before_mm
    assert certify.query_hash(pm.name, pm.fn, pm.oracle) != before_pm


def test_rotation_log_parse_covers_all_tag_forms():
    """Round-trip the harvest regex over every tag diffcheck can
    print — including the historical width-6 'ok(py)' form with no
    separating space (the r8 advice bug: py-oracle passes were
    silently never recorded in the ledger)."""
    import re
    import sys

    sys.path.insert(0, os.path.join(ROOT, "tools"))
    src = open(os.path.join(ROOT, "tools", "sf1_rotation.py")).read()
    m = re.search(r're\.match\(r"(.+?)", line\)', src)
    assert m, "harvest regex not found in sf1_rotation.py"
    rx = re.compile(m.group(1))
    cases = {
        "ok     agg_sum: 5 rows match": ("ok", "agg_sum"),
        "ok(py) event_markov: 5 rows match": ("ok(py)", "event_markov"),
        "ok(py)event_markov: 5 rows match": ("ok(py)", "event_markov"),
        "ok?   stream_only: 7 rows": ("ok?", "stream_only"),
        "FAIL  bad_query: value-hash spark=x oracle=y": ("FAIL", "bad_query"),
    }
    for line, (tag, name) in cases.items():
        got = rx.match(line)
        assert got, f"regex missed: {line!r}"
        assert (got.group(1), got.group(2)) == (tag, name), line
