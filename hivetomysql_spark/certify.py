"""Content hashes for scale-point value-certification staleness.

``SF1_CERTIFIED.json`` and ``SF10_CERTIFIED.json`` record which
registry queries had their complete output hash-matched against an
oracle at a derived scale point; ``diff_rotation.json`` records the
same at sf0.01 for a rotating window. A certification is only as
fresh as the code it ran against, so ``query_hash`` fingerprints what
the certification compared:

* the registered query function's source, its oracle SQL and (when
  the run substitutes one) the python oracle's source;
* every ``hivetomysql_spark`` module the function executes, found by
  one dependency walk (``_helper_deps``) and salted with its full
  source under a ``kind:key`` label. The kind is ``op`` for
  ``operators.<m>``, ``stream`` for ``streaming.<m>`` and ``core``
  for any other dotted path (``tables``, ``config``,
  ``sources.readers``, ...; a path that names no module reads as its
  longest prefix that does). Paths under ``queries`` and ``certify``
  salt nothing;
* every module-level helper function (source) or simple constant
  (repr) of the query's own module that the function reaches at
  runtime (``_local_runtime_deps``), labelled ``loc:``.

The walk starts from the text of the function and of its module-local
helpers. It collects each ``hivetomysql_spark.<dotted path>`` written
there, plus each name the query module binds at top level from a
package import (``D`` from ``from ...operators import dedup as D``)
when that name appears as a word in the text. It then closes over the
references in each reached module's source, across all three kinds.
A missing module hashes as ``''``, so deleting one still moves the
hash. The pytest gates (``tests/test_sf1_cert_gate.py``,
``tests/test_diff_rotation_gate.py``) recompute the hashes and fail
on drift; ``tools/sf1_rotation.py --recheck`` re-certifies the stale
set.

Residual blind spots:

* the key is source bytes, so a comment edit stales a certificate as
  surely as a semantic one;
* dynamic dispatch (``importlib``, ``getattr`` on a module) is not
  followed;
* a helper function imported from another query module is not salted
  (no registry query calls one at runtime today).
"""

from __future__ import annotations

import hashlib
import inspect
import os
import re
import sys
import types

_PKG_DIR = os.path.dirname(os.path.abspath(__file__))
_TOOLS_DIR = os.path.join(os.path.dirname(_PKG_DIR), "tools")
# walk kinds in hash order; kinds with a package name cover that
# package's submodules, ``core`` covers every other module
_KINDS = {"op": "operators", "stream": "streaming", "core": None}
_UNSALTED = ("queries", "certify")
_REF_RE = re.compile(r"hivetomysql_spark\.(\w+(?:\.\w+)*)")
# top-level import forms that bind package names into a query module;
# group(1)=dotted tail, group(2)=imported-names clause (from form),
# group(3)=dotted tail, group(4)=alias (import ... as form)
_IMPORT_RE = re.compile(
    r"^(?:from\s+hivetomysql_spark((?:\.\w+)*)\s+import\s+(.+)|"
    r"import\s+hivetomysql_spark((?:\.\w+)+)\s+as\s+(\w+))\s*$"
)
# a bracketed name list, possibly spanning lines and holding comments
_BRACKETED_RE = re.compile(r"\bimport\s*\(([^)]*)\)")

_SRC_CACHE: dict[str, str] = {}
_ALIAS_CACHE: dict[str, dict[str, tuple[str, str]]] = {}


def _dep(path: str) -> tuple[str, str] | None:
    """(kind, key) a dotted path under the package salts, or None."""
    head, _, rest = path.partition(".")
    if not head or head in _UNSALTED:
        return None
    for kind, pkg in _KINDS.items():
        if head == pkg:
            return (kind, rest.split(".")[0]) if rest else None
    return "core", path


def _path(kind: str, key: str) -> str:
    pkg = _KINDS[kind]
    return f"{pkg}.{key}" if pkg else key


def _source(path: str) -> str:
    """Source of the module at dotted ``path`` under the package: the
    longest prefix of ``path`` that is a non-empty module (``sources``
    reads ``sources/__init__.py``; a docstring mention such as
    ``sources.readers.read_tsv`` reads ``sources/readers.py``), never
    falling back to the bare ``operators``/``streaming`` package; ''
    when nothing resolves."""
    if path not in _SRC_CACHE:
        src = ""
        parts = path.split(".")
        for k in range(len(parts), 0, -1):
            if _dep(".".join(parts[:k])) is None:
                break
            base = os.path.join(_PKG_DIR, *parts[:k])
            for file in (base + ".py", os.path.join(base, "__init__.py")):
                try:
                    src = open(file).read()
                    break
                except OSError:
                    continue
            if src:
                break
        _SRC_CACHE[path] = src
    return _SRC_CACHE[path]


def _module_aliases(module_name: str) -> dict[str, tuple[str, str]]:
    """Names a query module binds at top level from package imports →
    the (kind, key) they come from."""
    if module_name not in _ALIAS_CACHE:
        aliases: dict[str, tuple[str, str]] = {}
        mod = sys.modules.get(module_name)
        try:
            src = inspect.getsource(mod) if mod else ""
        except (OSError, TypeError):
            src = ""
        # `import (\n a,\n b as c,\n)` binds a and c: read it as
        # the one-line `import a, b as c,`
        src = _BRACKETED_RE.sub(
            lambda m: "import "
            + " ".join(re.sub(r"#.*", "", m.group(1)).split()),
            src,
        )
        for line in src.splitlines():
            m = _IMPORT_RE.match(line)
            if not m:
                continue
            if m.group(2) is None:  # import hivetomysql_spark.x as y
                bindings = [(m.group(4), m.group(3).lstrip("."))]
            else:
                tail = m.group(1).lstrip(".")
                bindings = []
                for item in m.group(2).split(","):
                    parts = item.strip().split()
                    if not parts:
                        continue
                    # `from ...operators import dedup as D` binds a
                    # submodule; `from ...operators.dedup import f`
                    # binds a name within the module `tail`
                    path = tail if _dep(tail) else f"{tail}.{parts[0]}".lstrip(".")
                    bindings.append((parts[2] if len(parts) == 3 else parts[0], path))
            for bound, path in bindings:
                if dep := _dep(path):
                    aliases[bound] = dep
        _ALIAS_CACHE[module_name] = aliases
    return _ALIAS_CACHE[module_name]


def _helper_deps(fn) -> list[tuple[str, str]]:
    """(kind, key) of every package module the query function
    executes, in hash order (kinds as in ``_KINDS``, keys sorted)."""
    try:
        fn_src = inspect.getsource(fn)
    except (OSError, TypeError):
        return []
    # a query that reaches load_table/run_pipeline/an operator only
    # through a module-level helper (parity_mapping → parity_mapping_df
    # → run_pipeline) must pick up those modules too
    text = "\n".join([fn_src] + [src for _, src in _local_runtime_deps(fn)])
    deps = {d for d in map(_dep, _REF_RE.findall(text)) if d}
    deps |= {
        dep
        for bound, dep in _module_aliases(fn.__module__).items()
        if re.search(rf"\b{re.escape(bound)}\b", text)
    }
    frontier = list(deps)
    while frontier:
        for d in map(_dep, _REF_RE.findall(_source(_path(*frontier.pop())))):
            if d and d not in deps:
                deps.add(d)
                frontier.append(d)
    order = list(_KINDS)
    return sorted(deps, key=lambda d: (order.index(d[0]), d[1]))


def _code_names(code) -> set[str]:
    """Global names a code object references, including inside nested
    comprehension / lambda / genexp code objects."""
    names = set(code.co_names)
    for c in code.co_consts:
        if isinstance(c, types.CodeType):
            names |= _code_names(c)
    return names


def _local_runtime_deps(fn) -> list[tuple[str, str]]:
    """(name, source-or-repr) for module-level names the fn references
    at runtime and that are DEFINED in the fn's own module: helper
    functions (source; fixpoint over helper→helper references) and
    simple constants (repr). Imported objects are excluded — package
    modules are salted by ``_helper_deps``."""
    mod = sys.modules.get(fn.__module__)
    code = getattr(fn, "__code__", None)
    if mod is None or code is None:
        return []
    out: dict[str, str] = {}
    seen: set[str] = set()
    frontier = list(_code_names(code))
    while frontier:
        name = frontier.pop()
        if name in seen or name.startswith("__"):
            continue
        seen.add(name)
        val = getattr(mod, name, None)
        if (
            isinstance(val, types.FunctionType)
            and val.__module__ == fn.__module__
            and val is not fn
        ):
            try:
                out[name] = inspect.getsource(val)
            except (OSError, TypeError):
                continue
            frontier.extend(_code_names(val.__code__))
        elif isinstance(val, (int, float, str, bool, bytes, tuple, frozenset)):
            out[name] = repr(val)
    return sorted(out.items())


def query_hash(name: str, fn, oracle: str | None, py_oracle=None) -> str:
    """sha256 over (fn source, oracle SQL, py-oracle source, the
    sources of the package modules and module-local helpers the fn
    executes).

    ``inspect.getsource`` includes the decorator line, so an edit to
    an inline oracle string registered via the decorator is caught
    twice (once in the source, once in the oracle arg) — harmless.
    """
    h = hashlib.sha256()
    h.update(name.encode())
    h.update(b"\x00")
    h.update(inspect.getsource(fn).encode())
    h.update(b"\x00")
    h.update((oracle or "").encode())
    h.update(b"\x00")
    if py_oracle is not None:
        h.update(inspect.getsource(py_oracle).encode())
    for kind, key in _helper_deps(fn):
        h.update(f"\x00{kind}:{key}\x00".encode())
        h.update(_source(_path(kind, key)).encode())
    for dep_name, src in _local_runtime_deps(fn):
        h.update(b"\x00loc:" + dep_name.encode() + b"\x00")
        h.update(src.encode())
    return h.hexdigest()[:16]


def registry_hashes() -> dict[str, str]:
    """Current content hash for every registered query."""
    from hivetomysql_spark.queries import REGISTRY, _load_all

    if _TOOLS_DIR not in sys.path:
        sys.path.insert(0, _TOOLS_DIR)
    try:
        from py_oracles import PY_ORACLES  # type: ignore
    except ImportError:  # tools/ absent (installed package)
        PY_ORACLES = {}
    _load_all()
    return {
        name: query_hash(name, q.fn, q.oracle, PY_ORACLES.get(name))
        for name, q in REGISTRY.items()
    }
