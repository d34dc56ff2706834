"""Financial time-series analytics operators.

The reference engine's whole domain is financial tick streams
(financial_engine.py:1-30: AlphaVantage quotes, tick dicts with
symbol/price/volume/timestamp), yet its only analytic is the row-count
moving average (financial_engine.py:285-311).  This module supplies the
analytics a user of a "Financial Data Stream Processing Engine"
actually runs over that tick schema — OHLC candles, VWAP, volatility,
Bollinger bands, RSI, drawdown, cross-symbol correlation — each
expressed as declarative DataFrame plans (window frames + one
aggregation shuffle) so Catalyst keeps them in whole-stage codegen.

Determinism contract (what makes these DuckDB-oracle-comparable and
bit-reproducible at any parallelism):

* Sums of "nice-decimal" doubles (prices, price deltas) go through
  exact DECIMAL accumulation (``functions.numeric.dsum``); sums of
  full-precision doubles (returns, bucketed means) go through
  quantized-integer accumulation (``functions.numeric.qint``) — both
  order-independent AND engine-independent.
* Everything after the sums is straight-line IEEE double arithmetic
  (divide, multiply, sqrt are correctly rounded and deterministic).
* Row-order-sensitive picks (bar open/close, drawdown trough) order by
  the event timestamp; ``ts`` must be unique per key — true for tick
  feeds with exchange sequence time, asserted by the fixture.  The
  lag/lead/frame chains (_returns, zscore_anomalies, twap, obv, macd)
  additionally tie-break on the unique event id, so they stay
  deterministic — and oracle-hash-stable — even on feeds that violate
  that contract.

Scale notes per operator are in each docstring; the common shape is
"one partial+final aggregation keyed by (symbol[, bucket])" — the
same shuffle profile as TPC-H Q1, linear at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.window import Window

from financial_data_stream_processing_engine_spark.functions.numeric import (
    DECIMAL,
    dsum,
    qint,
)
from financial_data_stream_processing_engine_spark.operators.core import _keyed_fold

#: descale factors for quantized-integer sums (see numeric.QSCALE):
#: first moments carry one 1e-9 grid factor, second moments two.
_Q1 = 1e-09
_Q2 = 1e-18


def ticks_from_events(events: DataFrame) -> DataFrame:
    """Project the driver's ``events`` table onto the reference tick
    schema: ``user_id`` → symbol, ``value`` → price, ``props.$.k`` →
    volume (the one numeric payload field the fixture carries).

    Pure projection — column-pruned and pushed into the parquet scan.
    """
    return events.select(
        F.col("event_id"),
        F.col("user_id").alias("symbol"),
        F.col("ts"),
        F.col("value").alias("price"),
        F.get_json_object("props", "$.k").cast("bigint").alias("volume"),
    )


def ohlc_bars(
    df: DataFrame,
    bucket: str = "1 day",
    key: str = "symbol",
    ts_col: str = "ts",
    price: str = "price",
    volume: str | None = "volume",
) -> DataFrame:
    """Tumbling OHLC(V) candles per key: open/close are the prices at
    the min/max timestamp inside the bar (``min_by``/``max_by`` —
    declarative, codegen'd, no window shuffle), high/low are plain
    extrema, volume an exact integer sum.

    One aggregation keyed by (symbol, bar) — partial aggregation
    combines map-side, so the shuffle carries one row per (symbol,
    bar) per task regardless of tick count.  Linear at 100 TB.
    """
    aggs = [
        F.min_by(price, ts_col).alias("open"),
        F.max(price).alias("high"),
        F.min(price).alias("low"),
        F.max_by(price, ts_col).alias("close"),
        F.count(F.lit(1)).alias("n_trades"),
    ]
    if volume is not None:
        aggs.append(F.sum(volume).alias("volume"))
    return (
        df.groupBy(F.col(key), F.window(ts_col, bucket).alias("win"))
        .agg(*aggs)
        .select(
            key,
            F.col("win.start").alias("bar_start"),
            *[c for c in ("open", "high", "low", "close", "n_trades")],
            *([F.col("volume")] if volume is not None else []),
        )
    )


def vwap(
    df: DataFrame,
    bucket: str = "1 day",
    key: str = "symbol",
    ts_col: str = "ts",
    price: str = "price",
    volume: str = "volume",
) -> DataFrame:
    """Volume-weighted average price per (key, bucket):
    ``Σ(price·volume) / Σ(volume)`` with a decimal-exact numerator.

    Same single-aggregation shuffle profile as :func:`ohlc_bars`.
    """
    pv = F.col(price) * F.col(volume)
    return (
        df.groupBy(F.col(key), F.window(ts_col, bucket).alias("win"))
        .agg(
            F.try_divide(dsum(pv), F.sum(volume)).alias("vwap"),
            F.sum(volume).alias("total_volume"),
            F.count(F.lit(1)).alias("n_trades"),
        )
        .select(
            key,
            F.col("win.start").alias("bar_start"),
            "vwap",
            "total_volume",
            "n_trades",
        )
    )


def _returns(
    df: DataFrame, key: str, ts_col: str, price: str, id_col: str = "event_id"
) -> DataFrame:
    """Per-key arithmetic returns ``(p_t - p_{t-1}) / p_{t-1}`` between
    consecutive ticks.  Arithmetic (not log) returns on purpose: the
    division of two doubles is IEEE-deterministic in every engine,
    whereas ``ln`` may differ in the last ulp between libm builds —
    which would break cross-engine bitwise comparison.

    The lag chain orders by ``(ts, id)`` — the unique event id breaks
    timestamp ties, so the pairing (and everything downstream) stays
    deterministic even on feeds that violate the ts-unique-per-key
    fixture contract (same rule fin_macd uses).

    ``try_divide``: a return off a zero price is undefined — NULL (then
    dropped), never an ANSI DIVIDE_BY_ZERO that fails the whole job for
    one bad tick (zero prices DO occur in real feeds and in the sf0.1
    fixture).
    """
    w = Window.partitionBy(key).orderBy(ts_col, id_col)
    prev = F.lag(price).over(w)
    return df.select(
        key,
        ts_col,
        F.col(id_col),
        F.col(price),
        F.try_divide(F.col(price) - prev, prev).alias("r"),
    ).where(F.col("r").isNotNull())


def volatility(
    df: DataFrame,
    key: str = "symbol",
    ts_col: str = "ts",
    price: str = "price",
) -> DataFrame:
    """Per-key tick-to-tick return volatility (sample stddev of
    arithmetic returns) via the sufficient-statistics identity
    ``var = (Σr² − (Σr)²/n) / (n−1)``.

    Returns are full-precision doubles (they come from a division), so
    the moments use quantized-integer accumulation (numeric.qint): each
    return lands on the 1e-9 grid, Σ and Σ² are exact int128-backed
    decimals, and the descale back to double happens once at the end —
    bit-reproducible at any parallelism AND across engines.

    Two shuffles total: the lag window (keyed by symbol) and the final
    aggregation (same key — Catalyst reuses the partitioning, so the
    agg is shuffle-free after the window).  At 100 TB this is the
    canonical "sessionize then aggregate" shape.
    """
    r = _returns(df, key, ts_col, price).select(key, qint("r").alias("q"))
    n = F.count("q")
    sx = F.sum("q").cast("double") * F.lit(_Q1)
    sxx = F.sum(F.col("q") * F.col("q")).cast("double") * F.lit(_Q2)
    # try_divide: n=1 groups exist transiently before the n>=2 filter
    var = F.try_divide(sxx - sx * sx / n, (n - F.lit(1)).cast("double"))
    return (
        r.groupBy(key)
        .agg(
            n.alias("n_returns"),
            (sx / n).alias("mean_return"),
            F.sqrt(F.greatest(var, F.lit(0.0))).alias("volatility"),
        )
        .where(F.col("n_returns") >= 2)
    )


def bollinger_bands(
    df: DataFrame,
    n: int = 20,
    k: float = 2.0,
    key: str = "symbol",
    ts_col: str = "ts",
    price: str = "price",
) -> DataFrame:
    """Bollinger bands: trailing ``n``-tick moving average ± ``k``·σ,
    emitted only once the frame is full (no partial-window rows).

    One window shuffle keyed by symbol; the three frame aggregates
    (count, Σx, Σx²) share a single window frame so Spark evaluates
    them in one pass.  Prices (and hence their squares) carry few
    significant decimal digits, so plain DECIMAL(27,7) accumulation is
    cross-engine exact here — no quantization needed.
    """
    w = Window.partitionBy(key).orderBy(ts_col, "event_id").rowsBetween(
        -(n - 1), 0
    )
    cnt = F.count(price).over(w)
    sx = F.sum(F.col(price).cast(DECIMAL)).over(w).cast("double")
    sxx = (
        F.sum((F.col(price) * F.col(price)).cast(DECIMAL)).over(w).cast("double")
    )
    ma = sx / F.lit(float(n))
    var = (sxx - sx * sx / F.lit(float(n))) / F.lit(float(n - 1))
    sd = F.sqrt(F.greatest(var, F.lit(0.0)))
    return (
        df.select(
            "event_id",
            key,
            ts_col,
            F.col(price),
            cnt.alias("_cnt"),
            ma.alias("ma"),
            sd.alias("sd"),
        )
        .where(F.col("_cnt") == n)
        .select(
            "event_id",
            key,
            ts_col,
            price,
            "ma",
            "sd",
            (F.col("ma") + F.lit(float(k)) * F.col("sd")).alias("upper_band"),
            (F.col("ma") - F.lit(float(k)) * F.col("sd")).alias("lower_band"),
        )
    )


def max_drawdown(
    df: DataFrame,
    key: str = "symbol",
    ts_col: str = "ts",
    price: str = "price",
) -> DataFrame:
    """Per-key maximum drawdown ``max((peak − p) / peak)`` where peak is
    the running maximum, plus the timestamp of the (earliest) trough
    that realizes it.

    Running max is order-independent-safe (max of doubles is exact);
    the trough pick uses ``min_by(ts, ...)`` over rows at the maximal
    drawdown — ties on the drawdown value resolve to the earliest
    trough, deterministically, in both engines.  One window shuffle +
    one same-key aggregation.
    """
    w = Window.partitionBy(key).orderBy(ts_col, "event_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    peak = F.max(price).over(w)
    # try_divide: drawdown off a zero peak (leading zero prices) is
    # undefined — NULL, never an ANSI job failure
    dd = F.try_divide(peak - F.col(price), peak)
    per_row = df.select(key, ts_col, dd.alias("dd"))
    wk = Window.partitionBy(key)
    mx = F.max("dd").over(wk)
    return (
        per_row.withColumn("_mx", mx)
        .where(F.col("dd") == F.col("_mx"))
        .groupBy(key)
        .agg(
            F.max("dd").alias("max_drawdown"),
            F.min(ts_col).alias("trough_ts"),
        )
    )


def rsi(
    df: DataFrame,
    n: int = 14,
    key: str = "symbol",
    ts_col: str = "ts",
    price: str = "price",
) -> DataFrame:
    """Cutler's RSI: 100 − 100/(1 + SMA(gains,n)/SMA(losses,n)) over
    the trailing ``n`` price deltas, emitted once the frame is full.

    Cutler's (simple-MA) variant on purpose: Wilder's smoothing is a
    recurrence (use ``operators.core.ewma`` for that family); the SMA
    form stays a pure window frame — SQL-expressible, so the oracle
    can recompute it exactly.  All-loss frames define RSI = 0,
    all-gain frames RSI = 100 (the conventional limits).
    """
    wlag = Window.partitionBy(key).orderBy(ts_col, "event_id")
    delta = F.col(price) - F.lag(price).over(wlag)
    deltas = df.select(
        "event_id", key, ts_col, delta.alias("delta")
    ).where(F.col("delta").isNotNull())
    wf = Window.partitionBy(key).orderBy(ts_col, "event_id").rowsBetween(
        -(n - 1), 0
    )
    gain = F.greatest(F.col("delta"), F.lit(0.0))
    loss = F.greatest(-F.col("delta"), F.lit(0.0))
    cnt = F.count("delta").over(wf)
    ag = F.sum(gain.cast(DECIMAL)).over(wf).cast("double") / F.lit(float(n))
    al = F.sum(loss.cast(DECIMAL)).over(wf).cast("double") / F.lit(float(n))
    rsi_col = (
        F.when((F.col("_ag") == 0.0) & (F.col("_al") == 0.0), F.lit(50.0))
        .when(F.col("_al") == 0.0, F.lit(100.0))
        .otherwise(
            F.lit(100.0) - F.lit(100.0) / (F.lit(1.0) + F.col("_ag") / F.col("_al"))
        )
    )
    return (
        deltas.select(
            "event_id",
            key,
            ts_col,
            cnt.alias("_cnt"),
            ag.alias("_ag"),
            al.alias("_al"),
        )
        .where(F.col("_cnt") == n)
        .select(
            "event_id",
            key,
            ts_col,
            F.col("_ag").alias("avg_gain"),
            F.col("_al").alias("avg_loss"),
            rsi_col.alias("rsi"),
        )
    )


def pairwise_correlation(
    df: DataFrame,
    bucket: str = "1 day",
    min_periods: int = 20,
    top_symbols: int | None = None,
    key: str = "symbol",
    ts_col: str = "ts",
    price: str = "price",
) -> DataFrame:
    """Pearson correlation of bucketed mean prices for every symbol
    pair sharing ≥ ``min_periods`` buckets.

    Plan: (1) aggregate to one row per (symbol, bucket) — this is the
    scale squeeze: 100 TB of ticks become |symbols|×|buckets| rows;
    (2) self-join on bucket with ``s1 < s2``; (3) aggregate the five
    sufficient statistics (Σx Σy Σxy Σx² Σy²) per pair over the
    1e-9-quantized means (numeric.qint — bucketed means are
    full-precision doubles) and finish with straight-line double
    arithmetic.

    The pair matrix is O(S²·B), quadratic in the symbol universe — so
    ``top_symbols`` bounds the universe to the N most-active symbols
    (deterministic: tick count desc, then symbol), which is the
    universe a correlation matrix is actually consumed at; the
    selection broadcasts.  ``top_symbols=None`` computes the full
    matrix — at very large universes prefer blocking the matrix
    (pivot to per-bucket vectors + a blocked outer product) over this
    direct join.  Explicit knob, not a silent cap.
    """
    daily = (
        df.groupBy(F.col(key), F.window(ts_col, bucket).alias("win"))
        .agg(
            F.try_divide(dsum(price), F.count(price)).alias("px"),
            F.count(price).alias("_n_ticks"),
        )
        .select(key, F.col("win.start").alias("bucket"), "px", "_n_ticks")
    )
    if top_symbols is not None:
        top = (
            daily.groupBy(key)
            .agg(F.sum("_n_ticks").alias("n_ticks"))
            .orderBy(F.col("n_ticks").desc(), F.col(key))
            .limit(top_symbols)
            .select(key)
        )
        daily = daily.join(F.broadcast(top), on=key)
    # a (symbol, bucket) whose prices are ALL NULL has px = NULL: it
    # must not survive into the self-join, where n counts the pair row
    # but the qint sums skip the NULL — every correlation involving
    # that bucket would use inconsistent n vs sums, and phantom
    # buckets would satisfy min_periods (rolling_beta's r_s filter is
    # the same rule)
    daily = daily.drop("_n_ticks").where(F.col("px").isNotNull())
    a = daily.select(
        F.col(key).alias("s1"), F.col("bucket"), qint("px").alias("qx")
    )
    b = daily.select(
        F.col(key).alias("s2"), F.col("bucket"), qint("px").alias("qy")
    )
    joined = a.join(b, on="bucket").where(F.col("s1") < F.col("s2"))
    n = F.count(F.lit(1))
    sx = F.sum("qx").cast("double") * F.lit(_Q1)
    sy = F.sum("qy").cast("double") * F.lit(_Q1)
    sxy = F.sum(F.col("qx") * F.col("qy")).cast("double") * F.lit(_Q2)
    sxx = F.sum(F.col("qx") * F.col("qx")).cast("double") * F.lit(_Q2)
    syy = F.sum(F.col("qy") * F.col("qy")).cast("double") * F.lit(_Q2)
    cov = sxy - sx * sy / n
    denom = F.sqrt(
        F.greatest(sxx - sx * sx / n, F.lit(0.0))
        * F.greatest(syy - sy * sy / n, F.lit(0.0))
    )
    return (
        joined.groupBy("s1", "s2")
        .agg(
            n.alias("n_buckets"),
            F.try_divide(cov, F.nullif(denom, F.lit(0.0))).alias("corr"),
        )
        .where(F.col("n_buckets") >= min_periods)
    )


def resample_ffill(
    df: DataFrame,
    bucket: str = "1 day",
    key: str = "symbol",
    ts_col: str = "ts",
    price: str = "price",
) -> DataFrame:
    """Gap-filled per-key resampling with last-observation-carried-
    forward — the hypertable/timescale "time_bucket_gapfill + locf"
    operation: every (key, bucket) slot on the corpus-wide calendar
    spine gets the bucket's closing price, or the previous bucket's
    when the key traded nothing in it.

    Plan: (1) one aggregation to per-(key, bucket) closes; (2) the
    spine is |keys| × |buckets| rows built from a broadcast 1-row
    bounds aggregate + ``sequence``/``explode`` — generated, never
    shuffled at tick scale; (3) left join closes onto the spine (keyed
    by (key, bucket) — co-partitioned with (1)'s output) and one
    ``last(ignorenulls)`` window for the carry-forward.  Leading slots
    before a key's first trade stay NULL (nothing to carry).
    """
    win = F.window(ts_col, bucket).alias("win")
    closes = (
        df.groupBy(F.col(key), win)
        .agg(F.max_by(price, ts_col).alias("close"))
        .select(key, F.col("win.start").alias("bucket"), "close")
    )
    bounds = df.select(F.window(ts_col, bucket).alias("win")).agg(
        F.min("win.start").alias("d0"), F.max("win.start").alias("d1")
    )
    spine = (
        df.select(key).distinct()
        .crossJoin(F.broadcast(bounds))
        .select(
            key,
            F.explode(
                F.sequence("d0", "d1", F.expr(f"INTERVAL {bucket}"))
            ).alias("bucket"),
        )
    )
    w = Window.partitionBy(key).orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        spine.join(closes, on=[key, "bucket"], how="left")
        .select(
            key,
            "bucket",
            F.last("close", ignorenulls=True).over(w).alias("close_ffill"),
            F.col("close").isNull().alias("is_gap"),
        )
    )


def macd(
    df: DataFrame,
    fast: int = 12,
    slow: int = 26,
    signal: int = 9,
    key: str = "symbol",
    ts_col: str = "ts",
    price: str = "price",
    order_by: tuple[str, ...] = ("ts", "event_id"),
) -> DataFrame:
    """MACD(fast, slow, signal): EMA_fast − EMA_slow of the price, plus
    the signal line (EMA of the MACD series) and histogram.

    Three coupled sequential recurrences (EMA convention s₁ = v₁,
    sᵢ = α·vᵢ + (1−α)·sᵢ₋₁ with α = 2/(n+1)) — like
    :func:`~financial_data_stream_processing_engine_spark.operators.core.ewma` there is no
    fixed-frame window form, so this is a grouped fold.  All three
    states advance in ONE Python pass (one shuffle on the key, each
    group streamed once) instead of three chained EWMA calls (three
    shuffles).

    Seam shape (r18, guide §4.5): the fold rides the shared batch
    keyed fold (:func:`~financial_data_stream_processing_engine_spark.operators.core._keyed_fold`),
    one Python invocation per Arrow batch of whole symbol groups
    instead of one per group (~4 ms × 1 500 groups at sf0.1), and the
    EMA recurrences run as ONE grouped ``ewm`` Cython call per batch.

    Determinism: per row the op order is fixed — advance fast EMA,
    advance slow EMA, subtract (macd), advance signal EMA on the macd
    value, subtract (histogram) — each a single IEEE double op, so the
    DuckDB oracle's identical left-to-right prefix folds are bitwise
    equal.  pandas' grouped ``ewm(span, adjust=False)`` is the same
    s_i = α·v + (1−α)·s Cython update applied per group (verified
    bitwise-equal to the per-group fold, which r17 had verified
    bitwise-equal to the explicit Python loop).  NULL prices must be
    filtered upstream (the catalog entry and oracle both drop them).
    Rows whose key is NULL or ``''`` take no state and come out with
    NULL outputs (``core._key_participates``); a float NaN key is one
    key (``dropna=False``), as in Spark's and DuckDB's grouping.

    Scale: one shuffle; per-batch memory is the Arrow batch plus at
    most one held group, same bound as ewma.  At 100 TB, keys
    (symbols) are numerous and small — the fold parallelizes across
    partitions.  The streaming twin keeps the explicit loop because it
    must seed mid-stream state, which ewm cannot.
    """
    from pyspark.sql.types import DoubleType, StructField

    out_cols = ["macd", "macd_signal", "macd_histogram"]
    cols = list(df.columns)
    sort_cols = list(order_by)

    def fold(pdf):
        # stable sort on (key, *order_by): groups stay contiguous and
        # each group's internal order is exactly the old per-group
        # sort's, so the grouped ewm consumes identical sequences
        pdf = pdf.sort_values([key, *sort_cols], kind="mergesort").reset_index(
            drop=True
        )
        pdf["__p"] = pdf[price].astype("float64")

        def gewm(col, span):
            r = (
                pdf.groupby(key, sort=False, dropna=False)[col]
                .ewm(span=span, adjust=False)
                .mean()
            )
            return r.reset_index(level=0, drop=True).sort_index()

        m = gewm("__p", fast) - gewm("__p", slow)
        pdf["macd"] = m
        pdf["macd_signal"] = gewm("macd", signal)
        pdf["macd_histogram"] = pdf["macd"] - pdf["macd_signal"]
        return pdf[cols + out_cols]

    return _keyed_fold(
        df, key, order_by, fold, [StructField(c, DoubleType()) for c in out_cols]
    )


def atr(
    df: DataFrame,
    n: int = 14,
    bucket: str = "1 day",
    key: str = "symbol",
    ts_col: str = "ts",
    price: str = "price",
) -> DataFrame:
    """Average True Range over tumbling OHLC bars: TR = max(high−low,
    |high−prev_close|, |low−prev_close|) per bar, ATR = the trailing
    ``n``-bar simple mean of TR, emitted only at full frames
    (Cutler-style SMA, not Wilder's recurrence, so the whole pipeline
    stays declarative window algebra — same choice as :func:`rsi`).

    The first bar of each key (no previous close) uses TR = high−low,
    the standard convention.  Bar deltas are nice-decimal doubles, so
    DECIMAL accumulation is cross-engine exact.

    Scale: one aggregation to bars (the 100 TB → |symbols|×|days|
    squeeze), then one window shuffle over the tiny bar relation.
    """
    bars = ohlc_bars(df, bucket=bucket, key=key, ts_col=ts_col, price=price,
                     volume=None)
    w = Window.partitionBy(key).orderBy("bar_start")
    pc = F.lag("close").over(w)
    tr = F.when(pc.isNull(), F.col("high") - F.col("low")).otherwise(
        F.greatest(
            F.col("high") - F.col("low"),
            F.abs(F.col("high") - pc),
            F.abs(F.col("low") - pc),
        )
    )
    wf = Window.partitionBy(key).orderBy("bar_start").rowsBetween(-(n - 1), 0)
    with_tr = bars.select(key, "bar_start", "high", "low", "close", tr.alias("tr"))
    cnt = F.count("tr").over(wf)
    atr_col = F.sum(F.col("tr").cast(DECIMAL)).over(wf).cast("double") / F.lit(
        float(n)
    )
    return (
        with_tr.select(
            key, "bar_start", "tr", cnt.alias("_cnt"), atr_col.alias("atr")
        )
        .where(F.col("_cnt") == n)
        .drop("_cnt")
    )


def stochastic_oscillator(
    df: DataFrame,
    n: int = 14,
    d: int = 3,
    bucket: str = "1 day",
    key: str = "symbol",
    ts_col: str = "ts",
    price: str = "price",
) -> DataFrame:
    """Stochastic oscillator over tumbling OHLC bars:
    %K = 100·(close − min(low, n)) / (max(high, n) − min(low, n)) on
    the trailing ``n``-bar frame (emitted at full frames only), and
    %D = the ``d``-bar mean of %K as an explicit lag-chain.

    A flat n-bar range (high == low throughout) makes %K undefined —
    NULL via try_divide, never a job failure; the NULL then propagates
    through any %D window containing it, identically in the oracle.
    The lag-chain fixes the IEEE summation order of %D so full-
    precision %K values still compare bitwise cross-engine.

    Scale: same two-stage profile as :func:`atr` — bar squeeze, then
    windows over the bar relation.
    """
    if d != 3:
        raise ValueError("the bitwise %D lag-chain is built for d=3")
    bars = ohlc_bars(df, bucket=bucket, key=key, ts_col=ts_col, price=price,
                     volume=None)
    wf = Window.partitionBy(key).orderBy("bar_start").rowsBetween(-(n - 1), 0)
    lo = F.min("low").over(wf)
    hi = F.max("high").over(wf)
    cnt = F.count("close").over(wf)
    k = F.lit(100.0) * F.try_divide(F.col("close") - lo, hi - lo)
    with_k = bars.select(
        key, "bar_start", "close", cnt.alias("_cnt"), k.alias("pct_k")
    ).where(F.col("_cnt") == n)
    wl = Window.partitionBy(key).orderBy("bar_start")
    k1 = F.lag("pct_k", 1).over(wl)
    k2 = F.lag("pct_k", 2).over(wl)
    pct_d = ((F.col("pct_k") + k1) + k2) / F.lit(3.0)
    return with_k.select(key, "bar_start", "pct_k", pct_d.alias("pct_d"))


def rolling_sharpe(
    df: DataFrame,
    n: int = 20,
    key: str = "symbol",
    ts_col: str = "ts",
    price: str = "price",
) -> DataFrame:
    """Rolling (non-annualized) Sharpe ratio: mean/σ of the trailing
    ``n`` tick returns per key, emitted at full frames only.

    Returns are full-precision doubles, so the frame sums run on
    1e-9-quantized integers (``numeric.qint`` — exact, order- and
    engine-independent) with straight-line double arithmetic after.
    Zero-σ frames (constant returns) are NULL via try_divide.

    Scale: one window shuffle on the key; the frame carries two
    integer accumulators regardless of n.
    """
    r = _returns(df, key, ts_col, price)
    wf = Window.partitionBy(key).orderBy(ts_col, "event_id").rowsBetween(-(n - 1), 0)
    q = qint("r")
    cnt = F.count("r").over(wf)
    nn = F.lit(float(n))
    sx = F.sum(q).over(wf).cast("double") * F.lit(_Q1)
    sxx = F.sum(q * q).over(wf).cast("double") * F.lit(_Q2)
    mean = sx / nn
    var = (sxx - sx * sx / nn) / F.lit(float(n - 1))
    sd = F.sqrt(F.greatest(var, F.lit(0.0)))
    sharpe = F.try_divide(mean, F.nullif(sd, F.lit(0.0)))
    return (
        r.select(
            key,
            ts_col,
            cnt.alias("_cnt"),
            mean.alias("mean_return"),
            sd.alias("sd_return"),
            sharpe.alias("sharpe"),
        )
        .where(F.col("_cnt") == n)
        .drop("_cnt")
    )


def zscore_anomalies(
    df: DataFrame,
    n: int = 20,
    z_threshold: float = 3.0,
    key: str = "symbol",
    ts_col: str = "ts",
    price: str = "price",
    id_col: str = "event_id",
) -> DataFrame:
    """Causal z-score anomaly detection: flag ticks whose price is more
    than ``z_threshold`` standard deviations from the mean of the
    PREVIOUS ``n`` ticks (frame −n..−1 — the current tick never
    contaminates its own baseline, so a genuine spike can't mask
    itself).  Emitted only where the baseline frame is full; flat
    baselines (σ = 0) are undefined → NULL z → not anomalous.

    Prices are nice-decimal doubles → DECIMAL frame sums are exact.
    This is the batch twin of the reference's threshold alert
    (financial_engine.py:101-106) upgraded from a fixed constant to a
    self-calibrating per-symbol baseline.

    Scale: one window shuffle keyed by symbol, two accumulators per
    frame; output is the (tiny) anomaly set.
    """
    wf = Window.partitionBy(key).orderBy(ts_col, id_col).rowsBetween(-n, -1)
    cnt = F.count(price).over(wf)
    nn = F.lit(float(n))
    sx = F.sum(F.col(price).cast(DECIMAL)).over(wf).cast("double")
    sxx = F.sum((F.col(price) * F.col(price)).cast(DECIMAL)).over(wf).cast("double")
    mu = sx / nn
    var = (sxx - sx * sx / nn) / F.lit(float(n - 1))
    sd = F.sqrt(F.greatest(var, F.lit(0.0)))
    zscore = F.try_divide(F.col(price) - mu, F.nullif(sd, F.lit(0.0)))
    return (
        df.select(
            id_col,
            key,
            ts_col,
            F.col(price),
            cnt.alias("_cnt"),
            mu.alias("baseline_mean"),
            sd.alias("baseline_sd"),
            zscore.alias("zscore"),
        )
        .where((F.col("_cnt") == n) & (F.abs(F.col("zscore")) >= z_threshold))
        .drop("_cnt")
    )


def twap(
    df: DataFrame,
    bucket: str = "1 day",
    key: str = "symbol",
    ts_col: str = "ts",
    price: str = "price",
    id_col: str = "event_id",
) -> DataFrame:
    """Time-weighted average price per (key, bucket):
    ``Σ(pᵢ·Δtᵢ) / Σ(Δtᵢ)`` where ``Δtᵢ`` is the µs gap to the NEXT
    tick of the same key inside the same bucket — each price is
    weighted by how long it was the standing price.  The bucket's last
    tick has no successor and drops out of both sums (the convention
    that makes the statistic a pure function of in-bucket data).

    Exactness: Δt is integer microseconds (``unix_micros`` — no
    float time arithmetic).  The product price·Δt is a FULL-precision
    double (Δt is ~10¹⁰, so the product's binary error exceeds any
    fixed decimal scale and a double→DECIMAL cast would round
    differently per engine — the numeric.py portability lesson), so
    the weighted sum runs on ``qint``-quantized integers at the 1e-3
    grid of price·µs: one multiply+floor (IEEE-identical everywhere),
    exact int128 accumulation, one correctly-rounded descale.  Buckets
    with a single tick have no weighted interval → NULL TWAP, kept
    with n_trades for auditability.

    Scale: one window shuffle keyed by (key, bucket) for the lead,
    then one aggregation on the same key — AQE coalesces the
    exchanges since the partitioning matches.
    """
    win = F.window(ts_col, bucket).alias("win")
    bucketed = df.select(
        F.col(key),
        F.col(price).alias("__p"),
        F.col(ts_col).alias("__ts"),
        F.col(id_col).alias("__id"),
        win,
    ).select(key, "__p", "__ts", "__id", F.col("win.start").alias("bucket"))
    # (ts, id) ordering: the unique id makes the successor pick — and
    # hence every Δt weight — deterministic under duplicate timestamps
    w = Window.partitionBy(key, "bucket").orderBy("__ts", "__id")
    dt = (F.unix_micros(F.lead("__ts", 1).over(w)) - F.unix_micros(F.col("__ts"))).alias(
        "__dt"
    )
    weighted = bucketed.select(key, "bucket", "__p", dt)
    num = F.sum(qint(F.col("__p") * F.col("__dt"), 3)).cast("double") * F.lit(1e-3)
    return (
        weighted.groupBy(key, "bucket")
        .agg(
            F.try_divide(num, F.sum("__dt").cast("double")).alias("twap"),
            F.count(F.lit(1)).alias("n_trades"),
        )
        .select(key, F.col("bucket").alias("bar_start"), "twap", "n_trades")
    )


def obv(
    df: DataFrame,
    key: str = "symbol",
    ts_col: str = "ts",
    price: str = "price",
    volume: str = "volume",
) -> DataFrame:
    """On-balance volume: running sum of volume signed by the price
    direction (+vol on an up-tick, −vol on a down-tick, 0 on flat or
    the key's first tick).

    Entirely INTEGER arithmetic — sign picks, coalesce, and an
    unbounded-preceding window sum of longs — so the result is exact,
    order-independent within the defined (ts) order, and trivially
    engine-identical.  One window shuffle per key; the running sum
    frame carries a single accumulator.
    """
    w = Window.partitionBy(key).orderBy(ts_col, "event_id")
    prev = F.lag(price).over(w)
    vol = F.coalesce(F.col(volume), F.lit(0).cast("long"))
    signed = (
        F.when(prev.isNull(), F.lit(0).cast("long"))
        .when(F.col(price) > prev, vol)
        .when(F.col(price) < prev, -vol)
        .otherwise(F.lit(0).cast("long"))
    )
    wsum = Window.partitionBy(key).orderBy(ts_col, "event_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return df.select(
        "event_id",
        key,
        ts_col,
        F.col(price),
        signed.alias("signed_volume"),
        F.sum(signed).over(wsum).alias("obv"),
    )


def donchian_channels(
    df: DataFrame,
    n: int = 20,
    bucket: str = "1 day",
    key: str = "symbol",
    ts_col: str = "ts",
    price: str = "price",
) -> DataFrame:
    """Donchian channels over tumbling OHLC bars: the trailing
    ``n``-bar extremes (upper = max high, lower = min low) and their
    midline, emitted at full frames only.

    MAX/MIN of doubles are exact (no accumulation error), so this is
    engine-identical with no decimal machinery at all; the midline is
    one add + one divide.  Same bar-squeeze-then-window profile as
    :func:`atr`.
    """
    bars = ohlc_bars(df, bucket=bucket, key=key, ts_col=ts_col, price=price,
                     volume=None)
    wf = Window.partitionBy(key).orderBy("bar_start").rowsBetween(-(n - 1), 0)
    upper = F.max("high").over(wf)
    lower = F.min("low").over(wf)
    cnt = F.count("close").over(wf)
    return (
        bars.select(
            key,
            "bar_start",
            "close",
            cnt.alias("_cnt"),
            upper.alias("upper_channel"),
            lower.alias("lower_channel"),
            ((upper + lower) / F.lit(2.0)).alias("mid_channel"),
        )
        .where(F.col("_cnt") == n)
        .drop("_cnt")
    )


def rolling_beta(
    df: DataFrame,
    n: int = 20,
    bucket: str = "1 day",
    key: str = "symbol",
    ts_col: str = "ts",
    price: str = "price",
) -> DataFrame:
    """Rolling market beta per symbol: cov(r_s, r_m)/var(r_m) over the
    trailing ``n`` bucketed returns, where r_m is the equal-weight
    market return (mean of all symbols' bucket returns), emitted at
    full frames only.

    Determinism: bucket mean prices and both return series are
    full-precision doubles, so every cross-row sum runs on the 1e-9
    quantized-integer grid — the bucket mean (qint sum / count), the
    market mean across symbols, and the frame's five sufficient
    statistics (Σx Σy Σxy Σx² — integer products of int grids, exact)
    — with straight-line double arithmetic after.  Zero-variance
    market frames yield NULL beta via try_divide.

    Scale: the bucket squeeze makes everything downstream
    |symbols|×|buckets|-sized; the market series is one tiny aggregate
    broadcast back; one window shuffle on the symbol key.
    """
    daily = (
        df.groupBy(F.col(key), F.window(ts_col, bucket).alias("win"))
        .agg(
            (
                F.sum(qint(F.col(price))).cast("double")
                * F.lit(_Q1)
                / F.count(price)
            ).alias("px")
        )
        .select(key, F.col("win.start").alias("bucket"), "px")
    )
    w = Window.partitionBy(key).orderBy("bucket")
    prev = F.lag("px").over(w)
    rs = daily.select(
        key,
        "bucket",
        F.try_divide(F.col("px") - prev, prev).alias("r_s"),
    ).where(F.col("r_s").isNotNull())
    market = rs.groupBy("bucket").agg(
        (
            F.sum(qint(F.col("r_s"))).cast("double") * F.lit(_Q1) / F.count("r_s")
        ).alias("r_m")
    )
    joined = rs.join(market, "bucket").select(
        key, "bucket", qint("r_s").alias("qx"), qint("r_m").alias("qy")
    )
    wf = Window.partitionBy(key).orderBy("bucket").rowsBetween(-(n - 1), 0)
    cnt = F.count("qx").over(wf)
    nn = F.lit(float(n))
    sx = F.sum("qx").over(wf).cast("double") * F.lit(_Q1)
    sy = F.sum("qy").over(wf).cast("double") * F.lit(_Q1)
    sxy = F.sum(F.col("qx") * F.col("qy")).over(wf).cast("double") * F.lit(_Q2)
    syy = F.sum(F.col("qy") * F.col("qy")).over(wf).cast("double") * F.lit(_Q2)
    cov = sxy - sx * sy / nn
    var_m = syy - sy * sy / nn
    return (
        joined.select(
            key,
            "bucket",
            cnt.alias("_cnt"),
            F.try_divide(cov, F.nullif(var_m, F.lit(0.0))).alias("beta"),
        )
        .where(F.col("_cnt") == n)
        .drop("_cnt")
    )


def pattern_match_topk(
    df: DataFrame,
    pattern_key,
    length: int = 8,
    k: int = 10,
    key: str = "symbol",
    ts_col: str = "ts",
    price: str = "price",
    id_col: str = "event_id",
) -> DataFrame:
    """Time-series similarity search: top-``k`` z-normalized
    euclidean matches of the query pattern (the first ``length``
    prices of ``pattern_key``) over EVERY length-``length`` sliding
    window of every key → (symbol, event_id, ts, dist, rank).

    The distributed subsequence-matching shape (cf. "Time Series
    Similarity Search for Streaming Data in Distributed Systems",
    EDBT 2019): windows materialize as a lag-chain (one shuffle on the
    key — the same frame the MA/indicator family rides), z-normalize
    per window, and score against the BROADCAST query pattern —
    map-side after the one window shuffle, linear at any history
    length, top-k via TakeOrdered.

    Engine-exactness: mean, variance, and the distance are
    STRAIGHT-LINE left-associated IEEE chains over the ``length`` lag
    columns (no SUM aggregation anywhere), so the oracle can restate
    the identical expression tree and hashes match bitwise — the same
    strategy as the MA lag-chain.  Zero-variance windows (flat prices)
    are dropped on BOTH sides rather than scored with a 0/0.

    The query's own window scores dist = 0 and ranks first — a
    built-in self-consistency check.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(key).orderBy(ts_col, id_col)
    # v0 = oldest … v{L-1} = current row, so each row carries the
    # window ENDING at it
    vcols = [
        F.lag(price, length - 1 - i).over(w).alias(f"__v{i}")
        for i in range(length)
    ]
    cand = df.select(key, id_col, ts_col, *vcols).where(
        F.col("__v0").isNotNull()
    )

    def chain_mean(cols):
        s = cols[0]
        for c in cols[1:]:
            s = s + c
        return s / F.lit(float(length))

    def chain_var(cols, m):
        s = (cols[0] - m) * (cols[0] - m)
        for c in cols[1:]:
            s = s + (c - m) * (c - m)
        return s / F.lit(float(length))

    vs = [F.col(f"__v{i}") for i in range(length)]
    m = chain_mean(vs)
    sd = F.sqrt(chain_var(vs, m))
    cand = cand.select(
        key, id_col, ts_col, *[f"__v{i}" for i in range(length)],
        m.alias("__m"), sd.alias("__s"),
    ).where(F.col("__s") > 0)

    pat = df.where(F.col(key) == F.lit(pattern_key))
    rn = F.row_number().over(
        Window.partitionBy(key).orderBy(ts_col, id_col)
    )
    prow = (
        pat.select("*", rn.alias("__rn"))
        .where(F.col("__rn") <= length)
        .groupBy()
        .agg(
            *[
                F.max(F.when(F.col("__rn") == i + 1, F.col(price))).alias(
                    f"__q{i}"
                )
                for i in range(length)
            ]
        )
    )
    qs = [F.col(f"__q{i}") for i in range(length)]
    qm = chain_mean(qs)
    qsd = F.sqrt(chain_var(qs, qm))
    prow = prow.select(
        *[f"__q{i}" for i in range(length)],
        qm.alias("__qm"), qsd.alias("__qs"),
    ).where(F.col("__qs") > 0)

    scored = cand.crossJoin(F.broadcast(prow))
    z = lambda v: (v - F.col("__m")) / F.col("__s")  # noqa: E731
    zq = lambda q: (q - F.col("__qm")) / F.col("__qs")  # noqa: E731
    d = (z(vs[0]) - zq(qs[0])) * (z(vs[0]) - zq(qs[0]))
    for i in range(1, length):
        d = d + (z(vs[i]) - zq(qs[i])) * (z(vs[i]) - zq(qs[i]))
    return (
        scored.select(key, id_col, ts_col, d.alias("dist"))
        .orderBy(F.col("dist").asc(), F.col(key), F.col(id_col))
        .limit(k)
        .select(
            "*",
            F.row_number()
            .over(Window.orderBy(F.col("dist").asc(), F.col(key), F.col(id_col)))
            .alias("rank"),
        )
    )
