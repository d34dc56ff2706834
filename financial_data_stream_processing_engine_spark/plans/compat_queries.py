"""Catalog entries for the reference-compat core (SURVEY.md §2.1).

The reference's flagship computation — clean → per-key row-count
moving average → threshold alert (financial_engine.py:283-312,
:97-110) — expressed over the driver's ``events`` table, with
``user_id`` as the symbol-like key and ``value`` as the price
(TESTDATA.md / FIXTURES.md mapping).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from financial_data_stream_processing_engine_spark.io_utils import load_table
from financial_data_stream_processing_engine_spark.operators.core import (
    clean,
    moving_average,
    with_alert_flag,
)
from financial_data_stream_processing_engine_spark.plans import register

MA_N = 5
ALERT_THRESHOLD = 108.0

# The lag-chain mean: identical left-to-right IEEE summation order in
# Spark and DuckDB → bit-reproducible (see operators.core.moving_average).
_MA_EXPR = (
    "(value + lag(value, 1) OVER w + lag(value, 2) OVER w"
    " + lag(value, 3) OVER w + lag(value, 4) OVER w) / 5.0"
)

_MA_ALERTS_SQL = f"""
SELECT event_id, user_id, ts, value,
       {_MA_EXPR} AS moving_average,
       COALESCE(({_MA_EXPR}) > {ALERT_THRESHOLD}, FALSE) AS alert
FROM events
WHERE value IS NOT NULL AND value > 0
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


def _event_ticks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → tick-shaped frame (key=user_id, price=value)."""
    return load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "value"
    )


@register("ma_alerts", sql=_MA_ALERTS_SQL)
def ma_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: clean → 5-row per-key moving average → alert flag.

    Reference semantics A1+F1+K3 (financial_engine.py:283-312, :97-110):
    NULL/non-positive values dropped first; the mean appears only once
    exactly N=5 rows of the key have arrived; alert iff ma > threshold.
    One shuffle (window partitionBy user_id); no Python in the plan.
    """
    ticks = _event_ticks(spark, sf_dir)
    # events has no volume column, so only the filter half of clean() applies.
    cleaned = ticks.filter(F.col("value").isNotNull() & (F.col("value") > 0))
    ma = moving_average(
        cleaned, n=MA_N, key="user_id", value="value", order_by=("ts", "event_id")
    )
    return with_alert_flag(ma, threshold=ALERT_THRESHOLD)


@register(
    "clean_filter",
    sql="""
SELECT event_id, user_id, ts, value,
       GREATEST(0, user_id) AS volume
FROM events
WHERE value IS NOT NULL AND value > 0 AND user_id IS NOT NULL
""",
)
def clean_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1 DataCleaner in isolation: price filter + NULL-volume drop,
    then volume clamp.

    Reference financial_engine.py:283-291 — order matters: rows that
    fail the price filter are never clamped, and a None volume raises
    out of ``max(0, ...)`` into the per-row isolation (row dropped).
    ``user_id`` stands in for the volume column in the events mapping.
    """
    ticks = _event_ticks(spark, sf_dir).withColumn("volume", F.col("user_id"))
    return clean(ticks, price_col="value", volume_col="volume")


# ---------------------------------------------------------------------------
# The full reference pipeline as one oracle-checked query
# ---------------------------------------------------------------------------

# Deterministic raw feeds (shapes from financial_engine.py:186-194,
# :220-223, :246).  MSFT_mock arrives via BOTH the WebSocket and CSV
# feeds to exercise the shared-state gotcha (SURVEY §2.1 #2); invalid
# rows exercise the cleaner (F1) and the adapters' cast-failure drops.
_WS_RAW = [
    # (instrument, value, vol, second-offset)
    ("MSFT_mock", 205.0, 10, 0),
    ("EURUSD", 1.10, 100, 1),
    ("MSFT_mock", 207.0, 12, 2),
    ("EURUSD", -5.0, 100, 3),      # non-positive price → cleaner drop
    ("MSFT_mock", 209.0, -7, 4),   # negative volume → clamp to 0
    ("EURUSD", 1.12, None, 5),     # NULL volume → cleaner DROP (ref
                                   # max(0, None) raises → row isolated)
    ("MSFT_mock", 211.0, 15, 6),
    (None, 1.0, 1, 7),             # NULL symbol → passthrough, no state
    ("", 1.5, 2, 8),               # EMPTY symbol → truthiness passthrough
                                   # (ref `if not symbol`, :303) — planted
                                   # so the oracle's symbol <> '' gate is
                                   # exercised, not latent (ADVICE r13 #2)
]
_AV_RAW = [
    # ("01. symbol", "05. price", "06. volume", second-offset)
    ("IBM", "142.50", "1234", 0),
    ("IBM", "143.00", "1300", 8),
    ("IBM", "oops", "1300", 16),   # malformed price → NULL → cleaner drop
    ("IBM", "144.00", "nope", 24), # malformed volume → adapter drop
    ("IBM", "145.00", "1400", 32),
]
_CSV_RAW = [
    # the reference's embedded CSV rows, two replay cycles (:246, :259)
    ("MSFT_mock", "205.50", "30000", 0),
    ("TSLA_mock", "880.10", "60000", 1),
    ("NVDA_mock", "550.25", "45000", 2),
    ("MSFT_mock", "205.50", "30000", 3),
    ("TSLA_mock", "880.10", "60000", 4),
    ("NVDA_mock", "550.25", "45000", 5),
]

_PIPE_N = 3
_PIPE_THRESHOLD = 300.0
_PIPE_MA = (
    "(price + lag(price, 1) OVER w + lag(price, 2) OVER w) / 3.0"
)

# The oracle replays the POST-normalization union (what the adapters
# emit) and applies the cleaner + MA + alert in SQL.  Rows the adapters
# themselves drop (malformed volume; missing symbol+price quotes) are
# simply absent, exactly as in Spark.
# The MA gate is the reference's TRUTHINESS rule (financial_engine.
# py:303 — `if not symbol`): NULL **and empty-string** symbols pass
# through with no moving average and contribute no window state
# (each '' row would only ever share the '' partition with other ''
# rows, and the gate NULLs their output regardless) — ADVICE r13 #2.
_PIPE_ORACLE = f"""
WITH unified(id, symbol, price, volume, ts, source) AS (VALUES
  ('ws_0', 'MSFT_mock', 205.0, 10, TIMESTAMP '2024-06-01 09:00:00', 'WebSocketMock'),
  ('ws_1', 'EURUSD', 1.10, 100, TIMESTAMP '2024-06-01 09:00:01', 'WebSocketMock'),
  ('ws_2', 'MSFT_mock', 207.0, 12, TIMESTAMP '2024-06-01 09:00:02', 'WebSocketMock'),
  ('ws_3', 'EURUSD', -5.0, 100, TIMESTAMP '2024-06-01 09:00:03', 'WebSocketMock'),
  ('ws_4', 'MSFT_mock', 209.0, -7, TIMESTAMP '2024-06-01 09:00:04', 'WebSocketMock'),
  ('ws_5', 'EURUSD', 1.12, NULL, TIMESTAMP '2024-06-01 09:00:05', 'WebSocketMock'),
  ('ws_6', 'MSFT_mock', 211.0, 15, TIMESTAMP '2024-06-01 09:00:06', 'WebSocketMock'),
  ('ws_7', NULL, 1.0, 1, TIMESTAMP '2024-06-01 09:00:07', 'WebSocketMock'),
  ('ws_8', '', 1.5, 2, TIMESTAMP '2024-06-01 09:00:08', 'WebSocketMock'),
  ('av_0', 'IBM', 142.50, 1234, TIMESTAMP '2024-06-01 09:00:00', 'AlphaVantage'),
  ('av_1', 'IBM', 143.00, 1300, TIMESTAMP '2024-06-01 09:00:08', 'AlphaVantage'),
  ('av_2', 'IBM', NULL, 1300, TIMESTAMP '2024-06-01 09:00:16', 'AlphaVantage'),
  ('av_4', 'IBM', 145.00, 1400, TIMESTAMP '2024-06-01 09:00:32', 'AlphaVantage'),
  ('csv_0', 'MSFT_mock', 205.50, 30000, TIMESTAMP '2024-06-01 09:00:00', 'CSVMock'),
  ('csv_1', 'TSLA_mock', 880.10, 60000, TIMESTAMP '2024-06-01 09:00:01', 'CSVMock'),
  ('csv_2', 'NVDA_mock', 550.25, 45000, TIMESTAMP '2024-06-01 09:00:02', 'CSVMock'),
  ('csv_3', 'MSFT_mock', 205.50, 30000, TIMESTAMP '2024-06-01 09:00:03', 'CSVMock'),
  ('csv_4', 'TSLA_mock', 880.10, 60000, TIMESTAMP '2024-06-01 09:00:04', 'CSVMock'),
  ('csv_5', 'NVDA_mock', 550.25, 45000, TIMESTAMP '2024-06-01 09:00:05', 'CSVMock')),
cleaned AS (
  SELECT id, symbol, CAST(price AS DOUBLE) AS price,
         CAST(GREATEST(0, volume) AS BIGINT) AS volume, ts, source
  FROM unified
  WHERE price IS NOT NULL AND price > 0 AND volume IS NOT NULL)
SELECT id, symbol, price, volume, ts, source,
       CASE WHEN symbol IS NOT NULL AND symbol <> '' THEN {_PIPE_MA} END
         AS moving_average,
       COALESCE((CASE WHEN symbol IS NOT NULL AND symbol <> '' THEN {_PIPE_MA} END)
                > {_PIPE_THRESHOLD}, FALSE) AS alert
FROM cleaned
WINDOW w AS (PARTITION BY symbol ORDER BY ts, id)
"""


@register("pipeline_multisource", sql=_PIPE_ORACLE)
def pipeline_multisource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's COMPLETE dataflow as one declarative plan:
    three raw source shapes → per-source normalization (N1) → union
    (U1) → clean (F1) → shared-state row-count MA (A1) → alert flag
    (K3).

    MSFT_mock flows in via two sources and windows over ONE shared
    state (the factory-memoization gotcha); malformed rows drop at the
    adapter or the cleaner exactly as in the reference; the NULL-symbol
    row passes through untouched.  ``sf_dir`` is unused — the feeds are
    the deterministic literals above (mirrored in the oracle VALUES).
    """
    import datetime as dt

    from financial_data_stream_processing_engine_spark.sources.batch import (
        normalize_alpha_vantage,
        normalize_csv,
        normalize_websocket,
    )

    base = dt.datetime(2024, 6, 1, 9, 0, 0)

    def ts_lit(off: int):
        return F.lit(base + dt.timedelta(seconds=off))

    ws_raw = spark.createDataFrame(
        [(i, s, v, vol, base + dt.timedelta(seconds=off)) for i, (s, v, vol, off) in enumerate(_WS_RAW)],
        "idx int, instrument string, value double, vol long, ts timestamp",
    )
    ws = normalize_websocket(
        ws_raw, id_expr=F.concat(F.lit("ws_"), F.col("idx").cast("string"))
    )
    av_raw = spark.createDataFrame(
        [(i, s, p, v, base + dt.timedelta(seconds=off)) for i, (s, p, v, off) in enumerate(_AV_RAW)],
        "idx int, `01. symbol` string, `05. price` string, `06. volume` string, arrival timestamp",
    )
    av = normalize_alpha_vantage(
        av_raw,
        id_expr=F.concat(F.lit("av_"), F.col("idx").cast("string")),
        ts_expr=F.col("arrival"),
    )
    csv_raw = spark.createDataFrame(
        [(i, s, p, v, base + dt.timedelta(seconds=off)) for i, (s, p, v, off) in enumerate(_CSV_RAW)],
        "idx int, symbol string, price string, volume string, arrival timestamp",
    )
    csv = normalize_csv(
        csv_raw,
        id_expr=F.concat(F.lit("csv_"), F.col("idx").cast("string")),
        ts_expr=F.col("arrival"),
    )

    from financial_data_stream_processing_engine_spark.operators.core import union_sources

    unified = union_sources(ws, av, csv)
    cleaned = clean(unified)
    ma = moving_average(cleaned, n=_PIPE_N, order_by=("ts", "id"))
    return with_alert_flag(ma, threshold=_PIPE_THRESHOLD)
