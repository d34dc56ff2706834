"""Batch source adapters + per-source normalization (N1, SURVEY §2.1).

Each reference adapter normalizes a source-specific shape into the
unified tick schema (financial_engine.py:186-194, :234-235, :270-273).
Here each normalizer is a pure projection over a DataFrame of the raw
source shape, so the same function serves batch replay and streaming
(`readStream` produces the same columns).

Nondeterministic fields (``id`` = source-tagged uuid, ``ts`` =
ingestion time — reference :187, :191) are injectable for tests
(SURVEY §7 hard part #4): pass ``id_expr``/``ts_expr`` to pin them.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import LongType, TimestampType

#: Raw field names per source, from the reference.
#: AlphaVantage GLOBAL_QUOTE payload keys (financial_engine.py:186-190).
AV_SYMBOL, AV_PRICE, AV_VOLUME = "01. symbol", "05. price", "06. volume"

#: The reference's embedded mock CSV (financial_engine.py:246).
MOCK_CSV_ROWS = [
    ("MSFT_mock", "205.50", "30000"),
    ("TSLA_mock", "880.10", "60000"),
    ("NVDA_mock", "550.25", "45000"),
]
MOCK_CSV_COLUMNS = ("symbol", "price", "volume")


def _finish(
    df: DataFrame,
    source: str,
    symbol: Column,
    price: Column,
    volume: Column,
    id_expr: Column | None,
    ts_expr: Column | None,
) -> DataFrame:
    """Common tail of every normalizer: unified column set + provenance."""
    id_col = (
        id_expr
        if id_expr is not None
        else F.concat(F.lit(source), F.lit("_"), F.expr("uuid()"))
    )
    ts_col = ts_expr if ts_expr is not None else F.current_timestamp()
    # try_cast, not cast: under ANSI mode (Spark 4 default) a malformed
    # string would fail the whole job; the reference instead drops the
    # offending row (the adapter's cast raises and the poll returns
    # nothing — per-row exception isolation, financial_engine.py:358-365).
    # A malformed price yields NULL and clean() drops it downstream; a
    # *present but malformed* volume or timestamp must drop the row
    # HERE (the had-X/try_cast pair below), because downstream could
    # not tell it from a never-present field — the adapter's failed
    # cast raises and the whole row vanishes, exactly the reference's
    # per-row isolation.  Callers must pass ts_expr UN-cast (a plain
    # cast nested inside the try_cast would still fail the job under
    # ANSI before try_cast could intervene).  A raw column already of
    # the target type cannot fail its cast, so it gets no had-X guard:
    # Spark would not fold that guard's `isnull(v) OR isnotnull(v)`.
    raw = df.select(volume.alias("volume"), ts_col.alias("ts")).schema
    had = {
        name: col.isNotNull().alias(f"_had_{name}")
        for name, col, to in (("volume", volume, LongType()), ("ts", ts_col, TimestampType()))
        if raw[name].dataType != to
    }
    out = df.select(
        id_col.alias("id"),
        symbol.cast("string").alias("symbol"),
        price.try_cast("double").alias("price"),
        volume.try_cast("long").alias("volume"),
        ts_col.try_cast("timestamp").alias("ts"),
        F.lit(source).alias("source"),
        *had.values(),
    )
    for name in had:
        out = out.filter(~F.col(f"_had_{name}") | F.col(name).isNotNull())
    return out.drop(*(f"_had_{name}" for name in had))


def normalize_alpha_vantage(
    raw: DataFrame,
    id_expr: Column | None = None,
    ts_expr: Column | None = None,
) -> DataFrame:
    """AlphaVantage GLOBAL_QUOTE rows → tick schema.

    Reference financial_engine.py:186-194: project the quoted keys,
    cast price/volume from strings, stamp arrival time (the API only
    provides a trade *date*, so the reference uses ingestion time,
    :191-192), tag provenance.

    The drop rule mirrors the reference EXACTLY (:180-190): a quote
    missing its PRICE or VOLUME string returns None, and a price/
    volume string that fails its float()/int() cast raises into the
    adapter's except → None — so rows with NULL price or volume after
    the try_casts are dropped here.  The SYMBOL is deliberately NOT
    checked: the reference never tests '01. symbol', so a
    missing-symbol quote flows through with symbol=None (the cleaner
    keeps it, the MA passes it through untouched).
    """
    cols = dict.fromkeys(raw.columns)
    sym = F.col(f"`{AV_SYMBOL}`") if AV_SYMBOL in cols else F.lit(None)
    price = F.col(f"`{AV_PRICE}`") if AV_PRICE in cols else F.lit(None)
    vol = F.col(f"`{AV_VOLUME}`") if AV_VOLUME in cols else F.lit(None)
    out = _finish(raw, "AlphaVantage", sym, price, vol, id_expr, ts_expr)
    return out.filter(F.col("price").isNotNull() & F.col("volume").isNotNull())


def normalize_websocket(
    raw: DataFrame,
    id_expr: Column | None = None,
    ts_expr: Column | None = None,
) -> DataFrame:
    """Mock-WebSocket messages {instrument, value, vol, ts} → tick schema.

    Reference financial_engine.py:234-235 — pure rename; the message
    carries its own (ingestion-side) timestamp (:223), passed through
    UN-cast so ``_finish``'s try_cast owns the conversion — a malformed
    ts string drops its row instead of failing the job (ADVICE r13 #1).
    """
    ts = ts_expr if ts_expr is not None else F.col("ts")
    return _finish(
        raw, "WebSocketMock", F.col("instrument"), F.col("value"), F.col("vol"),
        id_expr, ts,
    )


def normalize_csv(
    raw: DataFrame,
    id_expr: Column | None = None,
    ts_expr: Column | None = None,
) -> DataFrame:
    """CSV rows {symbol, price, volume} (strings) → tick schema.

    Reference financial_engine.py:251, :270-273: float/int casts plus a
    fresh arrival timestamp per emission (:258).
    """
    return _finish(
        raw, "CSVMock", F.col("symbol"), F.col("price"), F.col("volume"),
        id_expr, ts_expr,
    )


def mock_csv_frame(spark) -> DataFrame:
    """The reference's embedded 3-row mock CSV as a raw DataFrame."""
    return spark.createDataFrame(MOCK_CSV_ROWS, list(MOCK_CSV_COLUMNS))
