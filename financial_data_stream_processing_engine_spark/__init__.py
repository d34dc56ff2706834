"""PySpark-native analytics & stream-processing engine.

A from-scratch rebuild of the capabilities of the reference engine
(``Mithilsai/Financial-Data-Stream-Processing-Engine``, an asyncio tick-processing demo —
see SURVEY.md) re-expressed Spark-first:

* the reference's semantic core (tick normalization, cleaning, per-key
  row-count moving average, threshold alerts, multi-sink fan-out) as
  declarative DataFrame combinators (``operators.core``);
* a general relational operator inventory (joins incl. as-of/range,
  aggregations, window functions, rollup/cube, set ops, JSON/string/date
  functions) validated against a DuckDB oracle (``plans.catalog``);
* Structured Streaming equivalents with watermarks and a stateful
  row-count window (``streaming``);
* LLM-data-pipeline operators: dedup (exact / MinHash-LSH / SimHash /
  n-gram Jaccard / embedding-cosine), similarity search, text analysis,
  multimodal column plumbing (``operators.dedup`` etc.).

Everything is built on the public Apache Spark DataFrame/SQL API; the
logical plan is declared and Catalyst/Tungsten pick the physical
strategy.  Python UDFs appear only where built-ins genuinely cannot
express the semantics, and then always Arrow-vectorized.
"""

from financial_data_stream_processing_engine_spark.config import DEFAULT_CONFIG, EngineConfig
from financial_data_stream_processing_engine_spark.engine import LiveEngine
from financial_data_stream_processing_engine_spark.session import get_spark
from financial_data_stream_processing_engine_spark.stream_api import TickStream

__all__ = ["DEFAULT_CONFIG", "EngineConfig", "LiveEngine", "TickStream", "get_spark"]

__version__ = "0.1.0"
