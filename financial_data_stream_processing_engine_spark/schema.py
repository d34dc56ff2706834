"""Schema: the unified tick schema.

The reference's one real schema is the unified tick dict every source
adapter normalizes into (financial_engine.py:186-194, :234-235,
:270-273; SURVEY.md §1.2).  The reference is schema-by-convention
(plain dicts, ``.get()`` access); here the schema is a fixed
``StructType`` enforced at the edge — parse/validate in the source,
schema-checked everywhere inside.
"""

from __future__ import annotations

from pyspark.sql import types as T

#: Unified tick schema (SURVEY.md §1.2).
TICK_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType(), False),
        T.StructField("symbol", T.StringType(), True),
        T.StructField("price", T.DoubleType(), True),
        T.StructField("volume", T.LongType(), True),
        T.StructField("ts", T.TimestampType(), False),
        T.StructField("source", T.StringType(), False),
    ]
)
