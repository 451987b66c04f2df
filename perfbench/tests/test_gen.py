"""The seeded dump generator: deterministic, and every edge case the
dump must carry is present. No Spark."""

from __future__ import annotations

import hashlib

import pytest

from perfbench import gen


def _digest(path) -> str:
    return hashlib.sha256(path.read_bytes()).hexdigest()


@pytest.fixture(scope="module")
def dump(tmp_path_factory):
    d = tmp_path_factory.mktemp("dump")
    spec = gen.write_dump(str(d / "a.tsv"), 20_000, seed=7)
    return spec, (d / "a.tsv")


def test_dump_is_deterministic(dump, tmp_path):
    spec, path = dump
    again = gen.write_dump(str(tmp_path / "b.tsv"), 20_000, seed=7)
    assert _digest(path) == _digest(tmp_path / "b.tsv")
    assert (again.content_hash, again.nulls) == (spec.content_hash, spec.nulls)
    other = gen.write_dump(str(tmp_path / "c.tsv"), 20_000, seed=8)
    assert other.content_hash != spec.content_hash


def test_dump_carries_every_edge_case(dump):
    spec, path = dump
    lines = path.read_text(encoding="utf-8").splitlines()
    header = lines[0]
    assert all(c.startswith(f"{gen.DUMP_TABLE}.") for c in header.split("\t"))
    echoes = lines[1:].count(header)
    assert echoes == spec.header_echoes >= 1
    assert len(lines) == 1 + echoes + spec.rows
    fields = [f for line in lines[1:] if line != header for f in line.split("\t")]
    assert "NULL" in fields
    assert any("\\" in f for f in fields)
    assert any('"' in f for f in fields)
    assert any(not f.isascii() for f in fields)
    assert max(len(f) for f in fields) > 300  # the long free-text column
    # shapes the CSV-based reader would alter must never be generated
    assert "" not in fields
    assert not any(len(f) > 1 and f[0] == f[-1] == '"' for f in fields)
    assert all(line.count("\t") == len(gen.DUMP_COLUMNS) - 1 for line in lines)


def test_dump_expectations_match_its_rows(dump):
    spec, path = dump
    lines = path.read_text(encoding="utf-8").splitlines()
    rows = [line.split("\t") for line in lines[1:] if line != lines[0]]
    assert len(rows) == spec.rows
    by_src = dict(zip(gen.DUMP_COLUMNS, zip(*rows)))
    for tgt, src in zip(gen.TARGET_COLUMNS, gen.DUMP_COLUMNS):
        assert spec.nulls[tgt] == by_src[src].count("NULL")
    assert spec.nulls["ds"] == spec.nulls["version"] == 0
    target_lines = [
        "\t".join(gen.copy_escape(None if v == "NULL" else v) for v in r)
        + "\t" + "\t".join(gen.CONSTANTS)
        for r in rows
    ]
    assert gen.multiset_hash(reversed(target_lines)) == spec.content_hash


def test_multiset_hash_is_order_insensitive_and_counts_duplicates():
    assert gen.multiset_hash(["a", "b"]) == gen.multiset_hash(["b", "a"])
    assert gen.multiset_hash(["a", "a"]) != gen.multiset_hash(["a"])


def test_copy_escape():
    assert gen.copy_escape(None) == "\\N"
    assert gen.copy_escape("\\N") == "\\\\N"
    assert gen.copy_escape("a\\b") == "a\\\\b"

