"""COPY text formatter of the PostgreSQL sink, pinned byte for byte.

:func:`hivetomysql_spark.sinks.pg_copy.copy_text_batch` turns an Arrow
record batch into one PostgreSQL ``COPY ... FROM STDIN`` text block.
These tests need no PostgreSQL server. They pin the escaping of every
metacharacter, NULL vs literal ``\\N``, the text of each non-string
type, zero-row and sliced batches, the named error for values with no
text form, and (hypothesis) that un-escaping the block gives back the
input. One test runs the sink's Spark task to show that the error
surfaces before psql starts; tests/test_pg_copy_sink.py drives the
same formatter through a live server.
"""

from __future__ import annotations

import datetime as dt

import pandas as pd
import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from hivetomysql_spark.sinks.pg_copy import (
    CopyTextError,
    copy_text_batch,
    copy_text_block,
    write_pg_copy,
)

STRING_TYPES = [pa.string(), pa.large_string()]


def _batch(typ=pa.string(), **cols) -> pa.RecordBatch:
    return pa.RecordBatch.from_arrays(
        [pa.array(v, typ) for v in cols.values()], names=list(cols)
    )


def _unescape(field: str) -> str | None:
    """Inverse of the COPY text escaping, as PostgreSQL's COPY reads
    a field: a lone ``\\N`` is NULL, ``\\`` starts an escape."""
    if field == "\\N":
        return None
    out, i = [], 0
    while i < len(field):
        c = field[i]
        if c == "\\":
            nxt = field[i + 1]
            out.append({"t": "\t", "n": "\n", "r": "\r"}.get(nxt, nxt))
            i += 2
        else:
            out.append(c)
            i += 1
    return "".join(out)


def _parse(block: bytes) -> list[tuple[str | None, ...]]:
    text = block.decode("utf-8")
    assert text == "" or text.endswith("\n")
    return [
        tuple(_unescape(f) for f in line.split("\t"))
        for line in text.split("\n")[:-1]
    ]


@pytest.mark.parametrize("typ", STRING_TYPES)
@pytest.mark.parametrize(
    "value, text",
    [
        ("back\\slash", b"back\\\\slash"),
        ("tab\there", b"tab\\there"),
        ("new\nline", b"new\\nline"),
        ("cr\rhere", b"cr\\rhere"),
        # backslash is escaped first, so an escape is never re-escaped
        ("\\t\t\\\n\r", b"\\\\t\\t\\\\\\n\\r"),
    ],
)
def test_each_metacharacter_is_escaped(typ, value, text):
    batch = _batch(typ, id=["1"], v=[value])
    assert copy_text_batch(batch) == b"1\t" + text + b"\n"


@pytest.mark.parametrize("typ", STRING_TYPES)
def test_null_literal_backslash_n_and_empty_string(typ):
    batch = _batch(typ, v=[None, "\\N", "", "N"])
    assert copy_text_batch(batch) == b"\\N\n\\\\N\n\nN\n"


def test_non_ascii_and_emoji_pass_through_as_utf8():
    values = ["München", "北京", "emoji 😀", "größe\t5"]
    batch = _batch(v=values, w=["Москва", "a", "😀😀", "é"])
    assert copy_text_batch(batch) == (
        "München\tМосква\n北京\ta\nemoji 😀\t😀😀\ngröße\\t5\té\n"
    ).encode("utf-8")


def test_zero_row_batch_is_empty():
    assert copy_text_batch(_batch(v=[])) == b""
    assert copy_text_block(pd.DataFrame({"v": pd.Series([], dtype=object)})) == b""


@pytest.mark.parametrize("typ", STRING_TYPES)
def test_sliced_batch_honours_array_offset(typ):
    batch = _batch(
        typ,
        a=["r0", "r1\t", None, "r3\\", "r4"],
        b=["x0", None, "x2", "x3\n", "x4"],
    )
    assert copy_text_batch(batch.slice(1, 3)) == (
        b"r1\\t\t\\N\n\\N\tx2\nr3\\\\\tx3\\n\n"
    )
    assert copy_text_batch(batch.slice(4)) == b"r4\tx4\n"
    assert copy_text_batch(batch.slice(5)) == b""


def test_mixed_string_and_large_string_columns():
    batch = pa.RecordBatch.from_arrays(
        [pa.array(["a", None], pa.string()), pa.array(["b\t", "c"], pa.large_string())],
        names=["s", "l"],
    )
    assert copy_text_batch(batch) == b"a\tb\\t\n\\N\tc\n"


def test_non_string_columns_render_as_postgres_input():
    ts = [dt.datetime(2024, 2, 29, 12, 34, 56), dt.datetime(2024, 2, 29, 12, 34, 56, 7), None]
    batch = pa.RecordBatch.from_arrays(
        [
            pa.array([1, -2, None], pa.int64()),
            pa.array([1.5, 1e-05, None], pa.float64()),
            pa.array([True, False, None]),
            pa.array(ts, pa.timestamp("us")),
            pa.array(ts, pa.timestamp("us")).cast(pa.timestamp("us", tz="UTC")),
            pa.array(ts, pa.timestamp("us")).cast(
                pa.timestamp("us", tz="America/New_York")
            ),
            pa.array([dt.date(2024, 2, 29), None, dt.date(1999, 1, 1)]),
        ],
        names=["long", "dbl", "flag", "ts", "ts_utc", "ts_ny", "day"],
    )
    assert copy_text_batch(batch).decode().splitlines() == [
        "1\t1.5\ttrue\t2024-02-29 12:34:56.000000\t2024-02-29 12:34:56.000000Z"
        "\t2024-02-29 07:34:56.000000-0500\t2024-02-29",
        "-2\t0.00001\tfalse\t2024-02-29 12:34:56.000007\t2024-02-29 12:34:56.000007Z"
        "\t2024-02-29 07:34:56.000007-0500\t\\N",
        "\\N\t\\N\t\\N\t\\N\t\\N\t\\N\t1999-01-01",
    ]


def test_float_special_values_stay_values_not_null():
    batch = _batch(pa.float64(), v=[1e20, float("nan"), float("inf"), -float("inf")])
    # float8in accepts nan/inf/-inf case-insensitively
    assert copy_text_batch(batch) == b"1e+20\nnan\ninf\n-inf\n"


def test_valid_utf8_binary_renders_as_text():
    assert copy_text_batch(_batch(pa.binary(), v=[b"ok\t", None])) == b"ok\\t\n\\N\n"


@pytest.mark.parametrize(
    "arr",
    [
        pa.array([b"\xff\xfe"], pa.binary()),
        pa.array([[1, 2]], pa.list_(pa.int64())),
        pa.array([{"k": 1}], pa.struct([("k", pa.int64())])),
    ],
    ids=["non-utf8-binary", "list", "struct"],
)
def test_column_without_text_form_raises_named_error(arr):
    batch = pa.RecordBatch.from_arrays([pa.array(["1"]), arr], names=["id", "bad"])
    with pytest.raises(CopyTextError, match="column 'bad'"):
        copy_text_batch(batch)


def test_pandas_wrapper_matches_arrow_batch():
    pdf = pd.DataFrame(
        {"id": ["1", "2", "3"], "txt": ["a\\b", None, "\\N"], "n": [1.5, None, 2.0]}
    )
    block = copy_text_block(pdf.iloc[1:])
    assert block == copy_text_batch(pa.RecordBatch.from_pandas(pdf.iloc[1:], preserve_index=False))
    assert block == b"2\t\\N\t\\N\n3\t\\\\N\t2\n"


_text = st.text(
    alphabet=st.one_of(
        st.sampled_from("\\\t\n\rN"),
        st.characters(blacklist_categories=("Cs",)),
    ),
    max_size=12,
)


@given(
    st.integers(1, 4).flatmap(
        lambda k: st.lists(st.tuples(*[st.none() | _text] * k), max_size=20)
    ),
    st.sampled_from(STRING_TYPES),
    st.integers(0, 3),
)
@settings(max_examples=300, deadline=None)
def test_unescaping_the_block_round_trips(rows, typ, skip):
    if not rows:
        return
    width = len(rows[0])
    batch = pa.RecordBatch.from_arrays(
        [pa.array([r[i] for r in rows], typ) for i in range(width)],
        names=[f"c{i}" for i in range(width)],
    ).slice(min(skip, len(rows)))
    assert _parse(copy_text_batch(batch)) == rows[min(skip, len(rows)):]


def test_sink_task_fails_with_named_error_before_starting_psql(spark):
    df = spark.createDataFrame([(1, bytearray(b"\xff\xfe"))], "id long, blob binary")
    # no server and no psql is needed: the task fails while formatting
    with pytest.raises(Exception, match="CopyTextError: column 'blob'"):
        write_pg_copy(df, "t_unused", ["-h", "/nonexistent"], mode="append")
