"""``read_tsv_dump`` against a plain-Python model of the reference's
line loop (HiveToMysql.java:347-350, 366, 402-405, 443-446, 526-545):
split each line on tabs, strip ``table.`` prefixes from the header,
decode literal ``NULL``, drop lines equal to the header and blank
lines. Fields are generated with the values a CSV parser reads
differently (empty, quoted, backslashes, spaces, non-ASCII)."""

from __future__ import annotations

import re
import tempfile
from pathlib import Path

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from hivetomysql_spark.sources import read_tsv_dump


def oracle(text: str) -> tuple[list[str], list[tuple]]:
    """Column names and rows as the reference reads ``text``."""
    # a line ends at LF, CRLF or CR (Java's readLine, Hadoop's LineReader)
    lines = re.split(r"\r\n|\r|\n", text)
    if lines[-1] == "":
        lines.pop()
    lines = [line for line in lines if line.strip(" ")]
    header, rows = lines[0], lines[1:]
    names = [t.split(".")[-1] for t in header.split("\t")]
    return names, [
        tuple(None if v == "NULL" else v for v in line.split("\t")[: len(names)])
        for line in rows
        if line != header
    ]


def read(spark, path) -> tuple[list[str], list[tuple]]:
    df = read_tsv_dump(spark, str(path))
    return df.columns, [tuple(r) for r in df.collect()]


_chars = st.characters(
    blacklist_categories=("Cs",), blacklist_characters="\t\r\n"
)
FIELD = st.one_of(
    st.sampled_from(
        ["", "NULL", "null", '"q"', '"', "\\", "\\N", " ", "  a ", "é", "名前",
         "😀", "t.a", "x.y.z"]
    ),
    st.text(_chars, max_size=6),
)
NAME = st.text(
    st.characters(blacklist_categories=("Cs",), blacklist_characters="\t\r\n."),
    min_size=1,
    max_size=5,
).filter(lambda n: n.strip(" ") and n.upper() != "NULL")


@st.composite
def dumps(draw):
    bases = draw(
        st.lists(NAME, min_size=1, max_size=4, unique_by=str.lower)
    )
    header = "\t".join(
        draw(st.sampled_from(["", "t.", "db.t."])) + b for b in bases
    )
    n = len(bases)
    row = st.lists(FIELD, min_size=n, max_size=n + 2).map("\t".join)
    lines = draw(
        st.lists(st.one_of(row, st.just(header), st.just(""), st.just("  ")),
                 max_size=8)
    )
    lead = draw(st.lists(st.sampled_from(["", " "]), max_size=2))
    eol = draw(st.sampled_from(["\n", "\r\n", "\r"]))
    return eol.join(lead + [header] + lines) + draw(st.sampled_from(["", eol]))


@settings(max_examples=40, deadline=None)
@given(text=dumps())
def test_read_tsv_dump_matches_line_oracle(spark, text):
    with tempfile.TemporaryDirectory() as d:
        path = Path(d) / "dump.data"
        path.write_bytes(text.encode("utf-8"))
        names, rows = read(spark, path)
    want_names, want_rows = oracle(text)
    assert names == want_names
    assert sorted(rows, key=repr) == sorted(want_rows, key=repr)


# each of these read differently through the earlier CSV-based reader
REGRESSIONS = {
    "all_empty_row": (
        "a\tb\tc\n\t\t\n1\t2\t3\n",
        (["a", "b", "c"], [("", "", ""), ("1", "2", "3")]),
    ),
    "empty_field": ("a\tb\n1\t\n", (["a", "b"], [("1", "")])),
    "quoted_field": ('a\tb\n"q"\tx\n', (["a", "b"], [('"q"', "x")])),
    "quoted_header_field": ('"q.a"\tq.b\n1\t2\n', (['a"', "b"], [("1", "2")])),
    "first_value_equals_first_name": (
        "t.a\tt.b\na\tx\nt.a\ty\nt.a\tt.b\n",
        (["a", "b"], [("a", "x"), ("t.a", "y")]),
    ),
}


@pytest.mark.parametrize("case", sorted(REGRESSIONS))
def test_read_tsv_dump_regressions(spark, tmp_path, case):
    text, want = REGRESSIONS[case]
    assert oracle(text) == want
    path = tmp_path / "dump.data"
    path.write_bytes(text.encode("utf-8"))
    assert read(spark, path) == want
