"""Query catalog: the engine's public operator inventory.

``QUERIES`` maps every implemented operator to a PySpark callable plus
(where SQL-expressible) a DuckDB oracle SQL string — this is what
``__spark_entry__.py`` exposes to the driver harness.  A plan module
adds an entry with ``@register`` and nothing else writes one;
``catalog.load_all`` imports the plan modules and applies the
presentation order.

This module imports no plan module, so a plan module's freshness
closure (``tools/freshness.py``) holds the registry and the modules it
really imports, never the whole catalog.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class CatalogQuery:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    sql: str | None  # DuckDB oracle; None => driver does rows-only check
    doc: str = ""


QUERIES: dict[str, CatalogQuery] = {}


def register(name: str, sql: str | None = None):
    """Decorator: add a (spark_fn, oracle_sql) pair to the catalog.

    A name registers once: a second ``register`` of it raises, so one
    entry can never silently shadow another."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        if name in QUERIES:
            raise ValueError(
                f"catalog entry {name!r} is already registered by "
                f"{QUERIES[name].fn.__module__}"
            )
        QUERIES[name] = CatalogQuery(name=name, fn=fn, sql=sql, doc=fn.__doc__ or "")
        return fn

    return deco
