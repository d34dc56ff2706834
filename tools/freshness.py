"""Per-entry code-version hashing for the verification ledger.

The correctness evidence for a catalog entry (a driver CORRECTNESS row
or a local ``verify_local`` run) is only valid for the code version it
was produced against.  This module gives each entry a content hash
covering its *transitive implementation*: the source file of the module
that registers it, plus every package-internal module that file
(transitively) imports, plus the oracle SQL string.  Any edit to any
file the entry's behavior can depend on changes the hash.

The closure is the real import graph: every package import counts,
including imports inside function bodies, because a plan function that
imports a module at call time depends on it just as much.  The rule is
sound (false *freshness* is impossible, which is the failure mode that
matters) and it is precise because the registry (``plans/__init__.py``)
imports no plan module and no plan module imports ``plans/catalog.py``
(which imports them all for ``load_all``).  So an edit restales the
entries whose plan module really reaches the edited file: an edit to
``streaming_queries.py`` restales the streaming entries only, an edit to
a batch plan module restales its own entries and those of the plan
modules that import it, and ``catalog.py`` restales none.  The remedy
is cheap — re-run ``tools/verify_local.py`` (which refreshes the ledger
for every entry that matches its oracle).

A parent package's ``__init__.py``, which Python runs on the way to a
submodule, counts only where a file imports the package by name.

A module's closure is computed once per process.
"""

from __future__ import annotations

import ast
import functools
import hashlib
import json
from pathlib import Path

PKG = "financial_data_stream_processing_engine_spark"
REPO = Path(__file__).resolve().parent.parent
LEDGER_PATH = REPO / "tools" / "freshness_ledger.json"


def _module_file(modname: str) -> Path | None:
    rel = modname.replace(".", "/")
    for cand in (REPO / f"{rel}.py", REPO / rel / "__init__.py"):
        if cand.exists():
            return cand
    return None


def _direct_imports(path: Path) -> set[str]:
    mods: set[str] = set()
    tree = ast.parse(path.read_text(encoding="utf-8"))
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.name == PKG or a.name.startswith(PKG + "."):
                    mods.add(a.name)
        elif isinstance(node, ast.ImportFrom):
            m = node.module
            if m and (m == PKG or m.startswith(PKG + ".")):
                mods.add(m)
                # `from pkg.operators import dedup` imports submodules
                for a in node.names:
                    if _module_file(f"{m}.{a.name}") is not None:
                        mods.add(f"{m}.{a.name}")
    return mods


@functools.cache
def closure_files(modname: str) -> tuple[Path, ...]:
    """All package files the module transitively imports, sorted."""
    seen: set[str] = set()
    todo = [modname]
    files: set[Path] = set()
    while todo:
        m = todo.pop()
        if m in seen:
            continue
        seen.add(m)
        f = _module_file(m)
        if f is None:
            continue
        files.add(f)
        todo.extend(_direct_imports(f))
    return tuple(sorted(files))


def entry_hash(fn, sql: str | None) -> str:
    """Content hash of everything the entry's result can depend on."""
    h = hashlib.sha256()
    for f in closure_files(fn.__module__):
        h.update(f.relative_to(REPO).as_posix().encode())
        h.update(b"\0")
        h.update(f.read_bytes())
        h.update(b"\0")
    h.update((sql or "").encode("utf-8"))
    return h.hexdigest()


def load_ledger() -> dict:
    if LEDGER_PATH.exists():
        return json.loads(LEDGER_PATH.read_text(encoding="utf-8"))
    return {}


def update_ledger(entries: dict[str, dict]) -> None:
    """Merge per-entry records into the ledger (sorted, stable JSON)."""
    ledger = load_ledger()
    ledger.update(entries)
    LEDGER_PATH.write_text(
        json.dumps(dict(sorted(ledger.items())), indent=1) + "\n", encoding="utf-8"
    )
