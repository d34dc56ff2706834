"""Operator/query catalog — the loader behind ``__spark_entry__.py``.

Each entry pairs a PySpark implementation with (where expressible) the
ANSI-SQL oracle DuckDB runs on the same parquet tables.  The registry
itself (``QUERIES``, ``register``) lives in ``plans/__init__.py``;
registration is declarative::

    from financial_data_stream_processing_engine_spark.plans import register

    @register("q_name", sql="SELECT ...")
    def q_name(spark, sf_dir):
        ...return DataFrame

This module imports the plan modules (``load_all``) and applies the
presentation order; no plan module imports it.

Parity rules (SURVEY.md §7 hard part #2):

* Alias every computed column identically in Spark and SQL — the driver
  sorts columns by name before hashing.
* Floating-point aggregations must be **order-independent** to hash
  stably across engines: sums of doubles go through an exact DECIMAL
  accumulation (``functions.numeric.dsum``) and are cast back to DOUBLE;
  means are computed as exact-sum / count.  Sliding means use an
  explicit lag-chain so the IEEE summation order is identical in both
  engines.
* Timestamps: parquet ns → cast to µs TIMESTAMP on both sides.

Execution contract: a catalog function normally BUILDS a plan and
returns it unexecuted (the driver collects).  A few entries execute
eagerly inside the function by necessity — streaming entries run a
real StreamingQuery to a memory sink, round-trip entries write fixture
files, and invariant-report entries (e.g. ``dedup_embedding_lsh``)
run counts to build their report row.  Those entries return a small
materialized result; callers embedding catalog functions into larger
lazy pipelines should use the underlying ``operators.*`` functions
instead.
"""

from __future__ import annotations

import importlib
from pathlib import Path

from financial_data_stream_processing_engine_spark.plans import QUERIES

__all__ = ["QUERIES", "load_all"]


#: Catalog presentation order — the driver's 50-row check-window
#: rotation.  The list itself is DATA, kept in ``check_window.txt``
#: next to this file (one entry name per line, ``#`` comments) and
#: loaded here at import, deliberately OUTSIDE the freshness hash:
#: presentation order has zero effect on any entry's VALUES, so a
#: window rotation must not restale a ledger row.  (No plan module
#: imports this module, so it is in no entry's closure either.)
_WINDOW_FILE = Path(__file__).with_name("check_window.txt")


def _load_priority() -> list[str]:
    names: list[str] = []
    for line in _WINDOW_FILE.read_text(encoding="utf-8").splitlines():
        line = line.split("#", 1)[0].strip()
        if line:
            names.append(line)
    return names


_PRIORITY: list[str] = _load_priority()


#: The modules that register catalog queries.  The entries
#: ``_PRIORITY`` does not name follow it in this module order, each
#: module's entries in source order, whichever module a process
#: imported first.
_PLAN_MODULES = (
    "compat_queries",
    "relational_queries",
    "llm_queries",
    "streaming_queries",
    "curation_queries",
    "finance_queries",
    "tpch_derived",
)


def load_all() -> None:
    """Import every module that registers catalog queries, then apply
    the presentation order: ``_PRIORITY``, then the rest by module."""
    rank = {
        importlib.import_module(f"{__package__}.{m}").__name__: i
        for i, m in enumerate(_PLAN_MODULES)
    }

    # a typo in the hand-maintained rotation list would otherwise
    # silently demote an entry out of the driver's 50-slot check
    # window — fail loudly instead
    unknown = [n for n in _PRIORITY if n not in QUERIES]
    if unknown:
        raise AssertionError(f"_PRIORITY names not in QUERIES: {unknown}")
    ordered = {n: QUERIES[n] for n in _PRIORITY}
    tail = sorted(
        (q for n, q in QUERIES.items() if n not in ordered),
        key=lambda q: rank[q.fn.__module__],
    )
    ordered.update((q.name, q) for q in tail)
    QUERIES.clear()
    QUERIES.update(ordered)
