"""The seeded ETL input. The same seed gives a byte-identical dump.

:func:`write_dump` writes a Hive-CLI TSV dump of one ``ds`` partition
in the reference's native format, carrying every edge case the reader
must handle: ``table.`` header prefixes, mid-file header echoes,
literal ``NULL``, backslashes, quotes inside fields, non-ASCII text and
one free-text column that is occasionally long. It also returns what a
correct load must produce: the data-row count, the NULL count per
target column and an order-insensitive hash of the target rows in
PostgreSQL ``COPY`` text form.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass

import numpy as np

DUMP_TABLE = "ods_events"
DUMP_COLUMNS = ["event_id", "user_id", "event_type", "amount", "city", "note", "body"]
DS = "20240105"
CONF_TEXT = (
    f"hive_db=ods\nhive_table={DUMP_TABLE}\nds={DS}\n"
    "mysql_table=user_events_daily\nerror_if_none_data=true\n"
    "error_if_src_field_not_exsits=true\n"
)
MAP_TEXT = (
    "event_id=event_id\nuid=user_id\netype=event_type\namount=amount\n"
    "city=city\nnote=note\nbody=body\nds=$ds\nversion=#2.0\n"
)
TARGET_COLUMNS = ["event_id", "uid", "etype", "amount", "city", "note", "body", "ds", "version"]
CONSTANTS = [DS, "2.0"]

EVENT_TYPES = ["view", "click", "purchase", "signup", "error", "vue", "café", "购买"]
CITIES = [
    "Berlin", "München", "São Paulo", "北京", "Zürich", "Kraków", "Москва",
    "O'Fallon", "Coeur d'Alene", "Reykjavík",
]
# each entry is one dump field; the reader must return it unchanged.
# No field is empty or wholly wrapped in double quotes: the CSV-based
# reader turns the first into NULL and strips the quotes of the second.
NOTES = [
    "plain", 'say "hi"', "C:\\temp\\new", "trail\\", "\\N", "null",
    "O'Brien said \"no\"", "größe 5", "emoji 😀", "50% off", "a\\\\b",
    "tab-free; semi;colon",
]
WORDS = (
    "spark hive table partition load copy stream batch row column key value "
    "join merge scan sort window filter group order customer data query "
    "größe naïve façade 数据 仓库 ошибка 😀 size-5\" say-\"hi\" back\\slash it's"
).split()

NULL_RATE = {"user_id": 0.02, "amount": 0.03, "city": 0.01, "note": 0.05}
LONG_BODY_RATE = 0.01


def copy_escape(v: str | None) -> str:
    """One value in PostgreSQL COPY text form. Dump values never hold
    tab, newline or carriage return, so only backslash needs escaping."""
    return "\\N" if v is None else v.replace("\\", "\\\\")


def row_hash(line: str) -> int:
    return int.from_bytes(
        hashlib.blake2b(line.encode("utf-8"), digest_size=8).digest(), "little"
    )


def multiset_hash(lines) -> int:
    """Order-insensitive hash of a multiset of lines: the sum of the
    per-line hashes mod 2**64, so duplicate rows still count."""
    return sum(row_hash(line) for line in lines) % (1 << 64)


@dataclass
class DumpSpec:
    path: str
    rows: int  # data rows, header echoes excluded
    header_echoes: int
    nulls: dict[str, int]  # target column -> expected NULL count
    content_hash: int  # multiset_hash of the target rows in COPY text form
    columns: list[str]


def _body_pool(rng: np.random.Generator, n: int, lo: int, hi: int) -> list[str]:
    lens = rng.integers(lo, hi, size=n)
    idx = rng.integers(0, len(WORDS), size=int(lens.sum()))
    out, pos = [], 0
    for k in lens:
        out.append(" ".join(WORDS[i] for i in idx[pos:pos + k]))
        pos += k
    return out


def _with_nulls(rng, values: list[str], rate: float) -> list[str | None]:
    mask = rng.random(len(values)) < rate
    return [None if m else v for v, m in zip(values, mask)]


def dump_columns(rows: int, seed: int) -> dict[str, list[str | None]]:
    """The dump's source columns, None standing for SQL NULL."""
    rng = np.random.default_rng([seed, 1])
    cols: dict[str, list[str | None]] = {
        "event_id": [str(i) for i in range(rows)],
        "user_id": [str(v) for v in rng.integers(0, 100_000, size=rows)],
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, len(EVENT_TYPES), size=rows)],
        "amount": [f"{c / 100:.2f}" for c in rng.integers(1, 5_000_000, size=rows)],
        "city": [CITIES[i] for i in rng.integers(0, len(CITIES), size=rows)],
        "note": [NOTES[i] for i in rng.integers(0, len(NOTES), size=rows)],
    }
    short = _body_pool(rng, 512, 1, 5)
    long_ = _body_pool(rng, 64, 60, 160)
    is_long = rng.random(rows) < LONG_BODY_RATE
    pick_s = rng.integers(0, len(short), size=rows)
    pick_l = rng.integers(0, len(long_), size=rows)
    cols["body"] = [
        long_[pl] if lg else short[ps] for lg, ps, pl in zip(is_long, pick_s, pick_l)
    ]
    for c, rate in NULL_RATE.items():
        cols[c] = _with_nulls(rng, cols[c], rate)
    return cols


def write_dump(path: str, rows: int, seed: int) -> DumpSpec:
    """Write the TSV dump and return what a correct load produces."""
    cols = dump_columns(rows, seed)
    data = list(zip(*(cols[c] for c in DUMP_COLUMNS)))
    header = "\t".join(f"{DUMP_TABLE}.{c}" for c in DUMP_COLUMNS)
    rng = np.random.default_rng([seed, 2])
    echoes = max(1, rows // 100_000)
    echo_at = set(int(i) for i in rng.choice(np.arange(1, rows), size=echoes, replace=False))
    lines = [header]
    for i, row in enumerate(data):
        if i in echo_at:
            lines.append(header)
        lines.append("\t".join("NULL" if v is None else v for v in row))
    with open(path, "w", encoding="utf-8") as fh:
        fh.write("\n".join(lines))
        fh.write("\n")
    suffix = "\t" + "\t".join(CONSTANTS)
    content = multiset_hash(
        "\t".join(copy_escape(v) for v in row) + suffix for row in data
    )
    src_of = dict(zip(TARGET_COLUMNS, DUMP_COLUMNS))
    nulls = {
        t: sum(v is None for v in cols[src_of[t]]) if t in src_of else 0
        for t in TARGET_COLUMNS
    }
    return DumpSpec(path, rows, len(echo_at), nulls, content, list(TARGET_COLUMNS))
