"""Freeze manifest for rotated-out registry entries.

The driver grades only the first ~50 registry entries per round; the
rest keep their evidence from a PRIOR round's green row. That union
argument is sound only while the code backing a rotated-out entry is
byte-identical to what that prior round graded. This tool automates the
manual git-diff audit the round-4 verdict performed:

- ``frozen_paths()`` maps every NON-window entry to its backing module
  (the module defining its ``queries()`` callable) and expands to the
  TRANSITIVE intra-repo import closure — a frozen operator that imports
  a helper freezes the helper too, so a behavior change can't slip in
  through a dependency (the round-5 ADVICE gap). The ``SHARED``
  cross-engine core is seeded unconditionally.
- ``python tools/freeze.py`` regenerates ``tools/frozen_hashes.json``
  — run it ONLY when rotating the window, i.e. when every entry whose
  backing file changed has been moved INTO ``_REGISTER_FIRST`` for
  regrading.
- ``tests/test_freeze.py`` fails when a frozen file's current hash
  drifts from the manifest: mutating code behind a rotated-out entry
  without regrading it turns CI red.
"""

from __future__ import annotations

import ast
import hashlib
import inspect
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MANIFEST_PATH = os.path.join(REPO, "tools", "frozen_hashes.json")
PKG = "etl_pipeline_example_spark"

# shared cross-engine fragments: a change here shifts hash/tokenizer/
# scoring behavior for every oracle, so they are frozen regardless of the
# window (the import closure would pull them in anyway — seeding them is
# belt-and-braces for entries that inline their SQL)
SHARED = [
    "etl_pipeline_example_spark/operators/hashing.py",
    "etl_pipeline_example_spark/operators/simcore.py",
    "etl_pipeline_example_spark/sources/readers.py",
]


def _sha256(path: str) -> str:
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def frozen_entries() -> dict[str, str]:
    """Non-window registry keys -> repo-relative backing module path."""
    sys.path.insert(0, REPO)
    import __spark_entry__ as entry

    qs = entry.queries()
    window = set(entry._REGISTER_FIRST)
    out = {}
    for key, fn in qs.items():
        if key in window:
            continue
        path = os.path.relpath(inspect.getfile(inspect.unwrap(fn)), REPO)
        out[key] = path
    return out


def _intra_repo_imports(path: str) -> set[str]:
    """Repo-relative paths of the package modules ``path`` imports —
    including deferred (function-body) imports, which ast.walk visits."""
    with open(os.path.join(REPO, path)) as f:
        tree = ast.parse(f.read())
    mods: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom):
            if node.module and node.module.startswith(PKG):
                mods.add(node.module)
        elif isinstance(node, ast.Import):
            for alias in node.names:
                if alias.name.startswith(PKG):
                    mods.add(alias.name)
    out: set[str] = set()
    for mod in mods:
        rel = mod.replace(".", "/")
        if os.path.isfile(os.path.join(REPO, rel + ".py")):
            out.add(rel + ".py")
        elif os.path.isdir(os.path.join(REPO, rel)):
            out.add(rel + "/__init__.py")
    return out


def frozen_paths() -> list[str]:
    """All files the freeze covers: non-window entries' modules + SHARED,
    closed under intra-repo imports."""
    seen: set[str] = set()
    stack = list(set(frozen_entries().values()) | set(SHARED))
    while stack:
        p = stack.pop()
        if p in seen:
            continue
        seen.add(p)
        stack.extend(q for q in _intra_repo_imports(p) if q not in seen)
    return sorted(seen)


def manifest(repo: str = REPO, paths: list[str] | None = None) -> dict[str, str]:
    """{repo-relative path: sha256} over the frozen file set (``paths``
    defaults to the live ``frozen_paths()``; ``repo`` is overridable so
    the drift check itself is testable against a mutated tree)."""
    if paths is None:
        paths = frozen_paths()
    return {p: _sha256(os.path.join(repo, p)) for p in paths}


def drifted(recorded: dict[str, str], current: dict[str, str]) -> list[str]:
    """Paths whose hash differs (or that appear on only one side)."""
    return sorted(
        p
        for p in set(recorded) | set(current)
        if recorded.get(p) != current.get(p)
    )


def main() -> int:
    m = manifest()
    with open(MANIFEST_PATH, "w") as f:
        json.dump(m, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {MANIFEST_PATH}: {len(m)} files frozen")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
