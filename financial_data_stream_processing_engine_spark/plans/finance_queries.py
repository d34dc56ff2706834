"""Catalog entries: financial time-series analytics over the events
table viewed as a tick stream (user_id → symbol, value → price,
props.$.k → volume) — the analytics family the reference's domain
implies but never implements beyond one moving average
(financial_engine.py:285-311).

Every oracle recomputes the full formula in DuckDB; cross-engine
bitwise agreement comes from the decimal-exact accumulation strategy
(functions/numeric.py) plus straight-line IEEE double arithmetic for
everything after the sums.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from financial_data_stream_processing_engine_spark.functions.numeric import (
    dlit_sql,
    dsum_sql,
    qcast_sql,
    qint_sql,
)
from financial_data_stream_processing_engine_spark.io_utils import load_table
from financial_data_stream_processing_engine_spark.operators import finance
from financial_data_stream_processing_engine_spark.plans import register

#: the tick-view projection of events, spelled once for the oracles
_TICKS_SQL = """
  SELECT event_id,
         user_id AS symbol,
         ts,
         value AS price,
         CAST(JSON_EXTRACT_STRING(props, '$.k') AS BIGINT) AS volume
  FROM events
"""

#: CTEs ``ticks → bars``: daily high/low/close candles per symbol
_DAILY_BAR_CTES = f"""ticks AS ({_TICKS_SQL}),
bars AS (
  SELECT symbol,
         time_bucket(INTERVAL '1 day', ts) AS bar_start,
         MAX(price) AS high,
         MIN(price) AS low,
         arg_max(price, ts) AS "close"
  FROM ticks GROUP BY 1, 2)"""


def _ticks(spark: SparkSession, sf_dir: str) -> DataFrame:
    return finance.ticks_from_events(load_table(spark, sf_dir, "events"))


@register(
    "fin_ohlc_daily",
    sql=f"""
WITH ticks AS ({_TICKS_SQL})
SELECT symbol,
       time_bucket(INTERVAL '1 day', ts) AS bar_start,
       arg_min(price, ts) AS "open",
       MAX(price) AS high,
       MIN(price) AS low,
       arg_max(price, ts) AS "close",
       COUNT(*) AS n_trades,
       CAST(SUM(volume) AS BIGINT) AS volume
FROM ticks
GROUP BY 1, 2
""",
)
def fin_ohlc_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily OHLCV candles per symbol — one partial+final aggregation,
    open/close via declarative min_by/max_by on the (unique) tick
    timestamp (operators/finance.py::ohlc_bars)."""
    return finance.ohlc_bars(_ticks(spark, sf_dir), bucket="1 day")


@register(
    "fin_vwap_daily",
    sql=f"""
WITH ticks AS ({_TICKS_SQL})
SELECT symbol,
       time_bucket(INTERVAL '1 day', ts) AS bar_start,
       {dsum_sql('price * volume')} / SUM(volume) AS vwap,
       CAST(SUM(volume) AS BIGINT) AS total_volume,
       COUNT(*) AS n_trades
FROM ticks
GROUP BY 1, 2
""",
)
def fin_vwap_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily volume-weighted average price per symbol; decimal-exact
    numerator over price·volume (operators/finance.py::vwap)."""
    return finance.vwap(_ticks(spark, sf_dir), bucket="1 day")


@register(
    "fin_volatility",
    sql=f"""
WITH ticks AS ({_TICKS_SQL}),
r AS (
  SELECT symbol,
         CASE WHEN LAG(price) OVER w = 0 THEN NULL
              ELSE (price - LAG(price) OVER w) / LAG(price) OVER w END AS r
  FROM ticks
  WINDOW w AS (PARTITION BY symbol ORDER BY ts, event_id)),
q AS (
  SELECT symbol, {qint_sql('r')} AS q
  FROM r WHERE r IS NOT NULL),
agg AS (
  SELECT symbol,
         COUNT(*) AS n,
         {qcast_sql('SUM(q)')} * {1e-09!r} AS sx,
         {qcast_sql('SUM(q * q)')} * {1e-18!r} AS sxx
  FROM q
  GROUP BY symbol)
SELECT symbol,
       n AS n_returns,
       sx / n AS mean_return,
       SQRT(GREATEST((sxx - sx * sx / n) / (n - 1), 0.0)) AS volatility
FROM agg
WHERE n >= 2
""",
)
def fin_volatility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-symbol tick-return volatility from quantized-integer
    sufficient statistics (operators/finance.py::volatility).
    Arithmetic — not log — returns, so every step is
    IEEE-deterministic cross-engine."""
    return finance.volatility(_ticks(spark, sf_dir))


@register(
    "fin_bollinger_bands",
    sql=f"""
WITH ticks AS ({_TICKS_SQL}),
f AS (
  SELECT event_id, symbol, ts, price,
         COUNT(price) OVER w AS cnt,
         CAST(SUM(CAST(price AS DECIMAL(27,7))) OVER w AS DOUBLE) AS sx,
         CAST(SUM(CAST(price * price AS DECIMAL(27,7))) OVER w AS DOUBLE) AS sxx
  FROM ticks
  WINDOW w AS (PARTITION BY symbol ORDER BY ts, event_id
               ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))
SELECT event_id, symbol, ts, price,
       sx / 20.0 AS ma,
       SQRT(GREATEST((sxx - sx * sx / 20.0) / 19.0, 0.0)) AS sd,
       sx / 20.0 + 2.0 * SQRT(GREATEST((sxx - sx * sx / 20.0) / 19.0, 0.0))
         AS upper_band,
       sx / 20.0 - 2.0 * SQRT(GREATEST((sxx - sx * sx / 20.0) / 19.0, 0.0))
         AS lower_band
FROM f
WHERE cnt = 20
""",
)
def fin_bollinger_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """20-tick Bollinger bands (MA ± 2σ) per symbol, full frames only
    (operators/finance.py::bollinger_bands)."""
    return finance.bollinger_bands(_ticks(spark, sf_dir), n=20, k=2.0)


@register(
    "fin_max_drawdown",
    sql=f"""
WITH ticks AS ({_TICKS_SQL}),
p AS (
  SELECT symbol, ts,
         CASE WHEN MAX(price) OVER w = 0 THEN NULL
              ELSE (MAX(price) OVER w - price) / MAX(price) OVER w END AS dd
  FROM ticks
  WINDOW w AS (PARTITION BY symbol ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
m AS (
  SELECT symbol, ts, dd, MAX(dd) OVER (PARTITION BY symbol) AS mx
  FROM p)
SELECT symbol,
       MAX(dd) AS max_drawdown,
       MIN(ts) AS trough_ts
FROM m
WHERE dd = mx
GROUP BY symbol
""",
)
def fin_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-symbol maximum peak-to-trough drawdown with the earliest
    realizing trough timestamp (operators/finance.py::max_drawdown)."""
    return finance.max_drawdown(_ticks(spark, sf_dir))


@register(
    "fin_rsi_cutler",
    sql=f"""
WITH ticks AS ({_TICKS_SQL}),
d AS (
  SELECT event_id, symbol, ts,
         price - LAG(price) OVER (PARTITION BY symbol ORDER BY ts, event_id)
           AS delta
  FROM ticks),
f AS (
  SELECT event_id, symbol, ts,
         COUNT(delta) OVER w AS cnt,
         CAST(SUM(CAST(GREATEST(delta, 0.0) AS DECIMAL(27,7))) OVER w AS DOUBLE)
           / 14.0 AS ag,
         CAST(SUM(CAST(GREATEST(-delta, 0.0) AS DECIMAL(27,7))) OVER w AS DOUBLE)
           / 14.0 AS al
  FROM d
  WHERE delta IS NOT NULL
  WINDOW w AS (PARTITION BY symbol ORDER BY ts, event_id
               ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
SELECT event_id, symbol, ts,
       ag AS avg_gain,
       al AS avg_loss,
       CASE WHEN ag = 0.0 AND al = 0.0 THEN 50.0
            WHEN al = 0.0 THEN 100.0
            ELSE 100.0 - 100.0 / (1.0 + ag / al) END AS rsi
FROM f
WHERE cnt = 14
""",
)
def fin_rsi_cutler(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cutler's RSI(14) per symbol — SMA of gains/losses over a window
    frame, the SQL-expressible RSI variant (operators/finance.py::rsi;
    Wilder's recursive smoothing lives in the EWMA operator family)."""
    return finance.rsi(_ticks(spark, sf_dir), n=14)


@register(
    "fin_pairwise_correlation",
    sql=f"""
WITH ticks AS ({_TICKS_SQL}),
daily AS (
  SELECT symbol,
         time_bucket(INTERVAL '1 day', ts) AS bucket,
         {dsum_sql('price')} / COUNT(price) AS px
  FROM ticks
  GROUP BY 1, 2),
top AS (
  SELECT symbol FROM ticks
  GROUP BY symbol ORDER BY COUNT(*) DESC, symbol LIMIT 100),
daily_top AS (
  -- engine lockstep (operators/finance.py): an all-NULL-price bucket
  -- has px = NULL and must not reach the self-join
  SELECT d.* FROM daily d JOIN top USING (symbol) WHERE d.px IS NOT NULL),
j AS (
  SELECT a.symbol AS s1, b.symbol AS s2, a.qx AS qx, b.qx AS qy
  FROM (SELECT symbol, bucket, {qint_sql('px')} AS qx FROM daily_top) a
  JOIN (SELECT symbol, bucket, {qint_sql('px')} AS qx FROM daily_top) b
    ON a.bucket = b.bucket AND a.symbol < b.symbol),
agg AS (
  SELECT s1, s2,
         COUNT(*) AS n,
         {qcast_sql('SUM(qx)')} * {1e-09!r} AS sx,
         {qcast_sql('SUM(qy)')} * {1e-09!r} AS sy,
         {qcast_sql('SUM(qx * qy)')} * {1e-18!r} AS sxy,
         {qcast_sql('SUM(qx * qx)')} * {1e-18!r} AS sxx,
         {qcast_sql('SUM(qy * qy)')} * {1e-18!r} AS syy
  FROM j
  GROUP BY 1, 2)
SELECT s1, s2, n AS n_buckets,
       (sxy - sx * sy / n)
         / NULLIF(SQRT(GREATEST(sxx - sx * sx / n, 0.0)
                       * GREATEST(syy - sy * sy / n, 0.0)), 0.0) AS corr
FROM agg
WHERE n >= 20
""",
)
def fin_pairwise_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation of daily mean prices among the 100
    most-active symbols, pairs sharing ≥20 trading days
    (operators/finance.py::pairwise_correlation).  Ticks collapse to
    (symbol, day) rows BEFORE the pair join, and the top-N universe
    bound (broadcast) keeps the O(S²·B) pair matrix fixed-size as the
    tick volume scales — the universe a correlation matrix is actually
    consumed at."""
    return finance.pairwise_correlation(
        _ticks(spark, sf_dir), bucket="1 day", min_periods=20, top_symbols=100
    )


@register(
    "fin_resample_ffill",
    sql=f"""
WITH ticks AS ({_TICKS_SQL}),
closes AS (
  SELECT symbol, time_bucket(INTERVAL '1 day', ts) AS bucket,
         arg_max(price, ts) AS close
  FROM ticks GROUP BY 1, 2),
bounds AS (
  SELECT MIN(time_bucket(INTERVAL '1 day', ts)) AS d0,
         MAX(time_bucket(INTERVAL '1 day', ts)) AS d1
  FROM ticks),
spine AS (
  SELECT s.symbol, UNNEST(GENERATE_SERIES(b.d0, b.d1, INTERVAL '1 day')) AS bucket
  FROM (SELECT DISTINCT symbol FROM ticks) s CROSS JOIN bounds b)
SELECT sp.symbol, sp.bucket,
       LAST_VALUE(c.close IGNORE NULLS) OVER (
         PARTITION BY sp.symbol ORDER BY sp.bucket
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS close_ffill,
       c.close IS NULL AS is_gap
FROM spine sp
LEFT JOIN closes c ON sp.symbol = c.symbol AND sp.bucket = c.bucket
""",
)
def fin_resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar gap-fill + last-observation-carried-forward on daily
    closes — the hypertable `time_bucket_gapfill + locf` op
    (operators/finance.py::resample_ffill).  Spine generated from a
    broadcast bounds row, one (symbol, day) left join, one
    last(ignorenulls) window."""
    return finance.resample_ffill(_ticks(spark, sf_dir), bucket="1 day")


_MACD_AF, _MACD_BF = 2.0 / 13.0, 1.0 - 2.0 / 13.0   # fast EMA(12)
_MACD_AS, _MACD_BS = 2.0 / 27.0, 1.0 - 2.0 / 27.0   # slow EMA(26)
_MACD_AG, _MACD_BG = 2.0 / 10.0, 1.0 - 2.0 / 10.0   # signal EMA(9)


@register(
    "fin_macd",
    sql=f"""
WITH ticks AS ({_TICKS_SQL}),
t AS (SELECT event_id, symbol, ts, price FROM ticks WHERE price IS NOT NULL),
ordered AS (
  SELECT symbol, event_id, ts, price,
         ROW_NUMBER() OVER (PARTITION BY symbol ORDER BY ts, event_id) AS rn
  FROM t),
g AS (SELECT symbol, LIST(price ORDER BY ts, event_id) AS vs FROM t GROUP BY symbol),
m AS (
  SELECT o.symbol, o.event_id, o.ts, o.price, o.rn,
         LIST_REDUCE(g.vs[1:o.rn], (acc, x) -> {dlit_sql(_MACD_AF)} * x + {dlit_sql(_MACD_BF)} * acc)
       - LIST_REDUCE(g.vs[1:o.rn], (acc, x) -> {dlit_sql(_MACD_AS)} * x + {dlit_sql(_MACD_BS)} * acc)
           AS macd
  FROM ordered o JOIN g USING (symbol)),
gm AS (SELECT symbol, LIST(macd ORDER BY ts, event_id) AS ms FROM m GROUP BY symbol)
SELECT m.event_id, m.symbol, m.ts, m.price, m.macd,
       LIST_REDUCE(gm.ms[1:m.rn], (acc, x) -> {dlit_sql(_MACD_AG)} * x + {dlit_sql(_MACD_BG)} * acc)
         AS macd_signal,
       m.macd
       - LIST_REDUCE(gm.ms[1:m.rn], (acc, x) -> {dlit_sql(_MACD_AG)} * x + {dlit_sql(_MACD_BG)} * acc)
         AS macd_histogram
FROM m JOIN gm USING (symbol)
""",
)
def fin_macd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MACD(12,26,9) per symbol — three coupled EMA recurrences in one
    grouped-map pass (operators/finance.py::macd).

    Oracle strategy: DuckDB re-folds each row's price prefix with the
    identical left-to-right recurrences (same trick as
    window_ewma_per_user), so every float op happens in the same order
    and the hash match is bitwise.  The O(n²) prefix re-fold is the
    oracle's cost, not the engine's — the Spark side streams each
    group once.
    """
    t = (
        _ticks(spark, sf_dir)
        .select("event_id", "symbol", "ts", "price")
        .where(F.col("price").isNotNull())
    )
    return finance.macd(t)


@register(
    "fin_atr",
    sql=f"""
WITH {_DAILY_BAR_CTES},
tr AS (
  SELECT symbol, bar_start,
         CASE WHEN LAG("close") OVER w IS NULL THEN high - low
              ELSE GREATEST(high - low,
                            ABS(high - LAG("close") OVER w),
                            ABS(low  - LAG("close") OVER w)) END AS tr
  FROM bars
  WINDOW w AS (PARTITION BY symbol ORDER BY bar_start))
SELECT symbol, bar_start, tr,
       CAST(SUM(CAST(tr AS DECIMAL(27,7))) OVER wf AS DOUBLE) / 14.0 AS atr
FROM tr
WINDOW wf AS (PARTITION BY symbol ORDER BY bar_start
              ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
QUALIFY COUNT(tr) OVER wf = 14
""",
)
def fin_atr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ATR(14) over daily candles (operators/finance.py::atr): true
    range per bar with the first-bar high−low convention, then a
    full-frame-gated 14-bar decimal-exact SMA."""
    return finance.atr(_ticks(spark, sf_dir), n=14, bucket="1 day")


@register(
    "fin_stochastic",
    sql=f"""
WITH {_DAILY_BAR_CTES},
k AS (
  SELECT symbol, bar_start,
         100.0 * (CASE WHEN MAX(high) OVER wf - MIN(low) OVER wf = 0 THEN NULL
                       ELSE ("close" - MIN(low) OVER wf)
                            / (MAX(high) OVER wf - MIN(low) OVER wf) END) AS pct_k
  FROM bars
  WINDOW wf AS (PARTITION BY symbol ORDER BY bar_start
                ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
  QUALIFY COUNT("close") OVER wf = 14)
SELECT symbol, bar_start, pct_k,
       ((pct_k + LAG(pct_k, 1) OVER wl) + LAG(pct_k, 2) OVER wl) / 3.0 AS pct_d
FROM k
WINDOW wl AS (PARTITION BY symbol ORDER BY bar_start)
""",
)
def fin_stochastic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stochastic oscillator %K(14)/%D(3) over daily candles
    (operators/finance.py::stochastic_oscillator); flat ranges yield
    NULL %K via try_divide, and %D is an explicit lag-chain so the
    summation order is fixed cross-engine."""
    return finance.stochastic_oscillator(_ticks(spark, sf_dir), n=14, d=3)


@register(
    "fin_rolling_sharpe",
    sql=f"""
WITH ticks AS ({_TICKS_SQL}),
r AS (
  SELECT symbol, ts, event_id,
         CASE WHEN LAG(price) OVER w = 0 THEN NULL
              ELSE (price - LAG(price) OVER w) / LAG(price) OVER w END AS r
  FROM ticks
  WINDOW w AS (PARTITION BY symbol ORDER BY ts, event_id)),
q AS (
  SELECT symbol, ts, event_id, {qint_sql('r')} AS q FROM r WHERE r IS NOT NULL),
f AS (
  SELECT symbol, ts,
         COUNT(q) OVER wf AS cnt,
         {qcast_sql('SUM(q) OVER wf')} * {1e-09!r} AS sx,
         {qcast_sql('SUM(q * q) OVER wf')} * {1e-18!r} AS sxx
  FROM q
  WINDOW wf AS (PARTITION BY symbol ORDER BY ts, event_id
                ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))
SELECT symbol, ts,
       sx / 20.0 AS mean_return,
       SQRT(GREATEST((sxx - sx * sx / 20.0) / 19.0, 0.0)) AS sd_return,
       CASE WHEN SQRT(GREATEST((sxx - sx * sx / 20.0) / 19.0, 0.0)) = 0 THEN NULL
            ELSE (sx / 20.0) / SQRT(GREATEST((sxx - sx * sx / 20.0) / 19.0, 0.0))
       END AS sharpe
FROM f
WHERE cnt = 20
""",
)
def fin_rolling_sharpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 20-return Sharpe ratio per symbol
    (operators/finance.py::rolling_sharpe) — frame sums over
    1e-9-quantized returns keep the full-precision doubles
    engine-independent."""
    return finance.rolling_sharpe(_ticks(spark, sf_dir), n=20)


@register(
    "fin_zscore_anomalies",
    sql=f"""
WITH ticks AS ({_TICKS_SQL}),
f AS (
  SELECT event_id, symbol, ts, price,
         COUNT(price) OVER wf AS cnt,
         CAST(SUM(CAST(price AS DECIMAL(27,7))) OVER wf AS DOUBLE) AS sx,
         CAST(SUM(CAST(price * price AS DECIMAL(27,7))) OVER wf AS DOUBLE) AS sxx
  FROM ticks
  WINDOW wf AS (PARTITION BY symbol ORDER BY ts, event_id
                ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)),
z AS (
  SELECT event_id, symbol, ts, price, cnt,
         sx / 20.0 AS baseline_mean,
         SQRT(GREATEST((sxx - sx * sx / 20.0) / 19.0, 0.0)) AS baseline_sd,
         CASE WHEN SQRT(GREATEST((sxx - sx * sx / 20.0) / 19.0, 0.0)) = 0 THEN NULL
              ELSE (price - sx / 20.0)
                   / SQRT(GREATEST((sxx - sx * sx / 20.0) / 19.0, 0.0))
         END AS zscore
  FROM f)
SELECT event_id, symbol, ts, price, baseline_mean, baseline_sd, zscore
FROM z
WHERE cnt = 20 AND ABS(zscore) >= 3.0
""",
)
def fin_zscore_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Causal z-score anomaly scan (operators/finance.py::
    zscore_anomalies): ticks ≥3σ from the mean of the previous 20
    ticks — the reference's fixed-constant alert
    (financial_engine.py:101-106) upgraded to a self-calibrating
    per-symbol baseline."""
    return finance.zscore_anomalies(_ticks(spark, sf_dir), n=20, z_threshold=3.0)


@register(
    "fin_twap_daily",
    sql=f"""
WITH ticks AS ({_TICKS_SQL}),
b AS (
  SELECT symbol, time_bucket(INTERVAL '1 day', ts) AS bucket, price, ts, event_id
  FROM ticks),
wt AS (
  SELECT symbol, bucket, price,
         epoch_us(LEAD(ts, 1) OVER (PARTITION BY symbol, bucket
                                    ORDER BY ts, event_id))
           - epoch_us(ts) AS dt
  FROM b)
SELECT symbol, bucket AS bar_start,
       CASE WHEN SUM(dt) IS NULL OR SUM(dt) = 0 THEN NULL
            ELSE {qcast_sql('SUM(' + qint_sql('price * dt', 3) + ')')} * 1e-03
                 / CAST(SUM(dt) AS DOUBLE) END AS twap,
       COUNT(*) AS n_trades
FROM wt
GROUP BY symbol, bucket
""",
)
def fin_twap_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily time-weighted average price per symbol
    (operators/finance.py::twap): each price weighted by its standing
    time in integer microseconds — no float time arithmetic, so the
    weighted sums are DECIMAL-exact in both engines."""
    return finance.twap(_ticks(spark, sf_dir), bucket="1 day")


@register(
    "fin_obv",
    sql=f"""
WITH ticks AS ({_TICKS_SQL}),
s AS (
  SELECT event_id, symbol, ts, price,
         CASE WHEN LAG(price) OVER w IS NULL THEN CAST(0 AS BIGINT)
              WHEN price > LAG(price) OVER w THEN COALESCE(volume, 0)
              WHEN price < LAG(price) OVER w THEN -COALESCE(volume, 0)
              ELSE CAST(0 AS BIGINT) END AS signed_volume
  FROM ticks
  WINDOW w AS (PARTITION BY symbol ORDER BY ts, event_id))
SELECT event_id, symbol, ts, price, signed_volume,
       CAST(SUM(signed_volume) OVER (PARTITION BY symbol ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS obv
FROM s
""",
)
def fin_obv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """On-balance volume per symbol (operators/finance.py::obv) —
    pure integer running sum, exact in both engines."""
    return finance.obv(_ticks(spark, sf_dir))


@register(
    "fin_donchian",
    sql=f"""
WITH {_DAILY_BAR_CTES}
SELECT symbol, bar_start, "close",
       MAX(high) OVER wf AS upper_channel,
       MIN(low) OVER wf AS lower_channel,
       (MAX(high) OVER wf + MIN(low) OVER wf) / 2.0 AS mid_channel
FROM bars
WINDOW wf AS (PARTITION BY symbol ORDER BY bar_start
              ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
QUALIFY COUNT("close") OVER wf = 20
""",
)
def fin_donchian(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Donchian channels (20-bar trailing extremes + midline) over
    daily candles (operators/finance.py::donchian_channels) — exact
    MAX/MIN algebra, no accumulation machinery needed."""
    return finance.donchian_channels(_ticks(spark, sf_dir), n=20, bucket="1 day")


@register(
    "fin_rolling_beta",
    sql=f"""
WITH ticks AS ({_TICKS_SQL}),
daily AS (
  SELECT symbol, time_bucket(INTERVAL '1 day', ts) AS bucket,
         {qcast_sql('SUM(' + qint_sql('price') + ')')} * {1e-09!r} / COUNT(price) AS px
  FROM ticks GROUP BY 1, 2),
rs AS (
  SELECT symbol, bucket,
         CASE WHEN LAG(px) OVER w = 0 THEN NULL
              ELSE (px - LAG(px) OVER w) / LAG(px) OVER w END AS r_s
  FROM daily
  WINDOW w AS (PARTITION BY symbol ORDER BY bucket)),
rs2 AS (SELECT * FROM rs WHERE r_s IS NOT NULL),
market AS (
  SELECT bucket,
         {qcast_sql('SUM(' + qint_sql('r_s') + ')')} * {1e-09!r} / COUNT(r_s) AS r_m
  FROM rs2 GROUP BY bucket),
j AS (
  SELECT rs2.symbol, rs2.bucket,
         {qint_sql('rs2.r_s')} AS qx, {qint_sql('m.r_m')} AS qy
  FROM rs2 JOIN market m USING (bucket)),
f AS (
  SELECT symbol, bucket,
         COUNT(qx) OVER wf AS cnt,
         {qcast_sql('SUM(qx) OVER wf')} * {1e-09!r} AS sx,
         {qcast_sql('SUM(qy) OVER wf')} * {1e-09!r} AS sy,
         {qcast_sql('SUM(qx * qy) OVER wf')} * {1e-18!r} AS sxy,
         {qcast_sql('SUM(qy * qy) OVER wf')} * {1e-18!r} AS syy
  FROM j
  WINDOW wf AS (PARTITION BY symbol ORDER BY bucket
                ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))
SELECT symbol, bucket,
       CASE WHEN syy - sy * sy / 20.0 = 0 THEN NULL
            ELSE (sxy - sx * sy / 20.0) / (syy - sy * sy / 20.0) END AS beta
FROM f
WHERE cnt = 20
""",
)
def fin_rolling_beta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 20-day market beta per symbol vs the equal-weight
    market return (operators/finance.py::rolling_beta) — the five
    sufficient statistics run on 1e-9 quantized-integer frame sums, so
    covariance/variance and hence beta are bit-identical across
    engines and partitionings."""
    return finance.rolling_beta(_ticks(spark, sf_dir), n=20, bucket="1 day")


def _pattern_sql(length: int = 8, k: int = 10) -> str:
    """DuckDB restatement of ``finance.pattern_match_topk``: the same
    lag columns, the same LEFT-ASSOCIATED mean/variance/distance
    chains (straight-line IEEE, no SUM aggregation), the same
    zero-variance drops — bitwise."""
    lags = ",\n         ".join(
        f"LAG(price, {length - 1 - i}) OVER w AS v{i}" for i in range(length)
    )
    def chain(terms):
        s = terms[0]
        for t in terms[1:]:
            s = f"({s} + {t})"
        return s
    vm = chain([f"v{i}" for i in range(length)]) + f" / {float(length)!r}"
    vvar = (
        chain([f"((v{i} - m) * (v{i} - m))" for i in range(length)])
        + f" / {float(length)!r}"
    )
    qm = chain([f"q{i}" for i in range(length)]) + f" / {float(length)!r}"
    qvar = (
        chain([f"((q{i} - qm) * (q{i} - qm))" for i in range(length)])
        + f" / {float(length)!r}"
    )
    pivots = ",\n         ".join(
        f"MAX(CASE WHEN rn = {i + 1} THEN price END) AS q{i}"
        for i in range(length)
    )
    dist = chain(
        [
            f"(((v{i} - m) / s - (q{i} - qm) / qs)"
            f" * ((v{i} - m) / s - (q{i} - qm) / qs))"
            for i in range(length)
        ]
    )
    return f"""
WITH ticks AS ({_TICKS_SQL}),
t AS (SELECT event_id, symbol, ts, price FROM ticks WHERE price IS NOT NULL),
lagged AS (
  SELECT symbol, event_id, ts,
         {lags}
  FROM t
  WINDOW w AS (PARTITION BY symbol ORDER BY ts, event_id)),
withm AS (
  SELECT *, {vm} AS m FROM lagged WHERE v0 IS NOT NULL),
withs AS (
  SELECT *, SQRT({vvar}) AS s FROM withm),
cand AS (SELECT * FROM withs WHERE s > 0),
pr AS (
  SELECT price, ROW_NUMBER() OVER (ORDER BY ts, event_id) AS rn
  FROM t WHERE symbol = 1),
pq AS (
  SELECT {pivots}
  FROM pr WHERE rn <= {length}),
pqm AS (SELECT *, {qm} AS qm FROM pq),
pat AS (
  SELECT * FROM (SELECT *, SQRT({qvar}) AS qs FROM pqm) WHERE qs > 0),
scored AS (
  SELECT c.symbol, c.event_id, c.ts, {dist} AS dist
  FROM cand c CROSS JOIN pat)
SELECT symbol, event_id, ts, dist,
       CAST(ROW_NUMBER() OVER (ORDER BY dist ASC, symbol, event_id) AS INT) AS rank
FROM scored
ORDER BY dist ASC, symbol, event_id
LIMIT {k}
"""


@register("fin_pattern_match_topk", sql=_pattern_sql(length=8, k=10))
def fin_pattern_match_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series similarity search (the EDBT 2019 distributed
    subsequence-matching shape): top-10 z-normalized euclidean matches
    of symbol 1's first 8 prices across EVERY 8-tick sliding window of
    every symbol (operators/finance.py::pattern_match_topk).  Windows
    ride the indicator family's one lag-chain shuffle; the query
    pattern broadcasts; scoring is map-side straight-line IEEE chains
    → bitwise against the DuckDB restatement.  The query's own window
    ranks first at dist 0 — a built-in self-consistency check."""
    t = (
        _ticks(spark, sf_dir)
        .select("event_id", "symbol", "ts", "price")
        .where(F.col("price").isNotNull())
    )
    return finance.pattern_match_topk(
        t, pattern_key=1, length=8, k=10,
        key="symbol", ts_col="ts", price="price", id_col="event_id",
    )
