"""Compare two versions of ``hivetomysql_spark/certify.py`` over one tree.

Loads ``certify.py`` as committed at REV (via ``git show``) and the
working tree's ``certify.py`` as two separate modules, both reading
the working tree's sources, and compares their ``registry_hashes()``
query by query. Exit 1 if any hash differs.

Usage: python plans/r20/certify_equivalence.py REV
"""

from __future__ import annotations

import importlib.util
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)
CERTIFY = os.path.join(ROOT, "hivetomysql_spark", "certify.py")


def load(name: str, source: str):
    spec = importlib.util.spec_from_loader(name, loader=None)
    mod = importlib.util.module_from_spec(spec)
    mod.__file__ = CERTIFY  # resolve package sources in this tree
    sys.modules[name] = mod
    exec(compile(source, CERTIFY, "exec"), mod.__dict__)
    return mod


def main() -> int:
    rev = sys.argv[1]
    old_src = subprocess.run(
        ["git", "show", f"{rev}:hivetomysql_spark/certify.py"],
        cwd=ROOT, check=True, capture_output=True, text=True,
    ).stdout
    old = load("certify_at_rev", old_src).registry_hashes()
    new = load("certify_tree", open(CERTIFY).read()).registry_hashes()
    differ = sorted(n for n in old.keys() | new.keys() if old.get(n) != new.get(n))
    print(f"certify.py at {rev} vs working tree: {len(old)} / {len(new)} "
          f"queries hashed, {len(differ)} differ")
    for n in differ:
        print(f"  {n}: {old.get(n)} -> {new.get(n)}")
    return 1 if differ else 0


if __name__ == "__main__":
    raise SystemExit(main())
