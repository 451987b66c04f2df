"""Typed exceptions mirroring the reference's exit-code protocol.

The reference signals failure classes to its scheduler via process
exit codes (/root/reference/HiveToMysql.java:64-88 and README.md:30-35):

* 9995 — dump file has no header line
* 9996 — a data row has fewer fields than a referenced ordinal
* 9997 — a mapped source field is missing from the source schema
* 9998 — the source produced no data rows (when ``error_if_none_data``)
* 9999 — any other error

We raise typed exceptions inside the engine; the CLI entry point maps
them back to the same exit codes so the observable contract (e.g. for
a scheduler) is preserved.

POSIX note: a process exit status is 8 bits, so 9995-9999 reach the
parent as 11-15 (code % 256). The reference has the identical
truncation on Linux — ``System.exit(9997)`` is observed as 13 — so
parity holds for what a scheduler actually sees; the full values
remain available in-process via ``EngineError.exit_code``.
"""

from __future__ import annotations


class EngineError(Exception):
    """Base class; ``exit_code`` preserves the reference's protocol."""

    exit_code = 9999


class MissingHeaderError(EngineError):
    """No header line in the source dump (reference exit 9995)."""

    exit_code = 9995


class RowArityError(EngineError):
    """Data row shorter than a referenced field ordinal (exit 9996)."""

    exit_code = 9996


class MissingSourceFieldError(EngineError):
    """Mapped source field absent from source schema (exit 9997)."""

    exit_code = 9997


class NoDataError(EngineError):
    """Source produced zero data rows (exit 9998)."""

    exit_code = 9998


def to_exit_code(exc: BaseException) -> int:
    """Map any exception to the reference's exit-code protocol.

    A short row is found inside a Spark task, where ``read_tsv_dump``
    fails it with ``raise_error('RowArityError: …')``; the job's error
    reaches the driver as a Spark exception carrying that text."""
    if isinstance(exc, EngineError):
        return exc.exit_code
    if f"{RowArityError.__name__}: " in str(exc):
        return RowArityError.exit_code
    return 9999
