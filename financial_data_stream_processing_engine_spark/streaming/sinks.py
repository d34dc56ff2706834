"""Streaming sinks.

The reference's console, logging and alert observers (K1-K3,
financial_engine.py:59-110, attached at :352-358) live in one place:
``engine.LiveEngine._fanout``, a ``foreachBatch`` that computes each
epoch once and hands it to all three.  One StreamingQuery per observer
would run the stateful moving average once per observer.

This module keeps the in-memory sink that tests and debugging read.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery


def memory_sink(df: DataFrame, name: str, output_mode: str = "append") -> StreamingQuery:
    """Test/debug sink: results land in the in-memory table ``name``."""
    return (
        df.writeStream.format("memory").queryName(name).outputMode(output_mode).start()
    )
