"""Parsing of the reference's ``dump.conf`` / ``dump.map`` formats.

Semantic contract (all citations into /root/reference/):

* ``dump.conf`` is a Java-properties file (HiveToMysql.java:97-133)
  holding source coordinates (``hive_db``/``hive_table``), target
  coordinates (``mysql_ip/port/db/table/user/password``), the
  partition value ``ds`` (value ``?`` ⇒ "yesterday" formatted with
  ``ds_formater``, default ``yyyyMMdd`` — HiveToMysql.java:110-115),
  and behavior flags.
* ``dump.map`` is an *ordered* list of ``target_field=source_spec``
  lines (HiveToMysql.java:141-169). ``source_spec`` starting with
  ``$`` is a variable resolved from the conf (HiveToMysql.java:157-160);
  starting with ``#`` is an immediate literal (161-164); anything else
  names a source column to rename.

We keep the formats byte-compatible so a user of the reference can
point this engine at their existing conf/map files.
"""

from __future__ import annotations

import datetime as _dt
from dataclasses import dataclass, field
from pathlib import Path

# Java SimpleDateFormat → strftime for the patterns the reference's
# docs use (HiveToMysql.java:110 default "yyyyMMdd"; dashed variants).
_JAVA_DATE_TOKENS = [("yyyy", "%Y"), ("MM", "%m"), ("dd", "%d")]


def java_date_format_to_strftime(pattern: str) -> str:
    for java_tok, strf_tok in _JAVA_DATE_TOKENS:
        pattern = pattern.replace(java_tok, strf_tok)
    return pattern


def parse_properties(text: str) -> dict[str, str]:
    """Minimal Java-properties parser (``key=value``, ``#``/``!`` comments).

    Matches what ``java.util.Properties.load`` does for the subset of
    syntax the reference's conf/map files actually use.
    """
    props: dict[str, str] = {}
    for raw in text.splitlines():
        line = raw.strip()
        if not line or line[0] in "#!":
            continue
        if "=" not in line:
            continue
        key, _, value = line.partition("=")
        props[key.strip()] = value.strip()
    return props


def yesterday_ds(fmt: str = "yyyyMMdd", today: _dt.date | None = None) -> str:
    """Default ``ds`` = yesterday, per HiveToMysql.java:111-115."""
    base = today or _dt.date.today()
    return (base - _dt.timedelta(days=1)).strftime(
        java_date_format_to_strftime(fmt)
    )


@dataclass
class DumpConf:
    """Typed view of ``dump.conf`` (keys per HiveToMysql.java:97-133)."""

    hive_db: str = ""
    hive_table: str = ""
    ds: str = "?"
    ds_formater: str = "yyyyMMdd"
    mysql_ip: str = ""
    mysql_port: str = "3306"
    mysql_db: str = ""
    mysql_table: str = ""
    mysql_user: str = ""
    mysql_password: str = ""
    delete_before_dump: bool = False
    mode: str = ""  # "test" ⇒ dry-run (HiveToMysql.java:127,560-564)
    skip_sql_to_target: bool = False
    error_if_none_data: bool = False
    error_if_src_field_not_exsits: bool = False  # [sic] key name matches reference
    raw: dict[str, str] = field(default_factory=dict)

    @classmethod
    def from_text(cls, text: str, today: _dt.date | None = None) -> "DumpConf":
        props = parse_properties(text)
        flags = {
            k: props.get(k, "false").lower() == "true"
            for k in (
                "delete_before_dump",
                "skip_sql_to_target",
                "error_if_none_data",
                "error_if_src_field_not_exsits",
            )
        }
        conf = cls(
            hive_db=props.get("hive_db", ""),
            hive_table=props.get("hive_table", ""),
            ds=props.get("ds", "?"),
            ds_formater=props.get("ds_formater", "yyyyMMdd"),
            mysql_ip=props.get("mysql_ip", ""),
            mysql_port=props.get("mysql_port", "3306"),
            mysql_db=props.get("mysql_db", ""),
            mysql_table=props.get("mysql_table", ""),
            mysql_user=props.get("mysql_user", ""),
            mysql_password=props.get("mysql_password", ""),
            mode=props.get("mode", ""),
            raw=props,
            **flags,
        )
        # "?" (or empty) ⇒ yesterday, per HiveToMysql.java:110-115.
        if conf.ds in ("?", ""):
            conf.ds = yesterday_ds(conf.ds_formater, today=today)
        return conf

    @classmethod
    def from_file(cls, path: str | Path) -> "DumpConf":
        return cls.from_text(Path(path).read_text(encoding="utf-8"))

    def resolve_var(self, name: str) -> str:
        """``$var`` lookup: ``ds`` resolves to the computed ds value."""
        if name == "ds":
            return self.ds
        return self.raw.get(name, "")

    @property
    def jdbc_url(self) -> str:
        return (
            f"jdbc:mysql://{self.mysql_ip}:{self.mysql_port}/{self.mysql_db}"
        )


@dataclass
class FieldSpec:
    """One output column of the mapping.

    Exactly one of ``source`` (rename/copy) or ``constant`` is set.
    """

    target: str
    source: str | None = None
    constant: str | None = None

    @property
    def is_constant(self) -> bool:
        return self.constant is not None


@dataclass
class DumpMap:
    """Ordered field mapping parsed from ``dump.map``.

    Order matters: the reference emits INSERT columns in map-file
    order (HiveToMysql.java:143,152-155), so our output column order
    preserves it.
    """

    fields: list[FieldSpec] = field(default_factory=list)

    @classmethod
    def from_text(cls, text: str, conf: DumpConf | None = None) -> "DumpMap":
        specs: list[FieldSpec] = []
        for raw in text.splitlines():
            line = raw.strip()
            if not line or line[0] in "#!":
                continue
            if "=" not in line:
                continue
            target, _, src_spec = line.partition("=")
            target = target.strip()
            src_spec = src_spec.strip()
            if src_spec.startswith("$"):
                # variable constant, resolved from conf (HiveToMysql.java:157-160)
                value = conf.resolve_var(src_spec[1:]) if conf else src_spec[1:]
                specs.append(FieldSpec(target=target, constant=value))
            elif src_spec.startswith("#"):
                # immediate literal (HiveToMysql.java:161-164)
                specs.append(FieldSpec(target=target, constant=src_spec[1:]))
            else:
                specs.append(FieldSpec(target=target, source=src_spec))
        return cls(fields=specs)

    @classmethod
    def from_file(cls, path: str | Path, conf: DumpConf | None = None) -> "DumpMap":
        return cls.from_text(Path(path).read_text(encoding="utf-8"), conf=conf)

    @property
    def target_names(self) -> list[str]:
        return [f.target for f in self.fields]

    @property
    def mapped_sources(self) -> list[str]:
        return [f.source for f in self.fields if f.source is not None]

    @property
    def constant_fields(self) -> dict[str, str]:
        """Target→literal for constant columns (drives delete-before-insert
        keying, HiveToMysql.java:270-282)."""
        return {f.target: f.constant for f in self.fields if f.is_constant}
