"""Financial analytics operators: semantic properties on constructed
series, determinism under repartitioning, and plan-shape pins.

Value-level cross-engine correctness lives in the catalog oracles
(plans/finance_queries.py); these tests pin the operator semantics the
oracle can't see — edge cases the fixture doesn't contain — and the
physical plans' scale shape.
"""

from __future__ import annotations

import datetime as dt
import math

import pytest
from pyspark.sql import functions as F

from financial_data_stream_processing_engine_spark.io_utils import load_table
from financial_data_stream_processing_engine_spark.operators import finance

BASE = dt.datetime(2024, 3, 1)

TICK_SCHEMA = "event_id long, symbol long, ts timestamp, price double, volume long"


def ticks_df(spark, prices, symbol=1, start_id=0):
    rows = [
        (start_id + i, symbol, BASE + dt.timedelta(minutes=i), float(p), 10 + i)
        for i, p in enumerate(prices)
    ]
    return spark.createDataFrame(rows, TICK_SCHEMA)


@pytest.fixture(scope="module")
def fixture_ticks(spark, sf_dir):
    return finance.ticks_from_events(load_table(spark, sf_dir, "events")).cache()


# --- OHLC -------------------------------------------------------------


def test_ohlc_invariants_on_fixture(fixture_ticks):
    bars = finance.ohlc_bars(fixture_ticks, bucket="1 day").collect()
    assert len(bars) > 0
    for b in bars:
        assert b["low"] <= b["open"] <= b["high"]
        assert b["low"] <= b["close"] <= b["high"]
        assert b["n_trades"] >= 1
        assert b["volume"] >= 0


def test_ohlc_open_close_are_first_last_tick(spark):
    bars = finance.ohlc_bars(
        ticks_df(spark, [5.0, 9.0, 1.0, 7.0]), bucket="1 day"
    ).collect()
    assert len(bars) == 1
    b = bars[0]
    assert (b["open"], b["high"], b["low"], b["close"]) == (5.0, 9.0, 1.0, 7.0)
    assert b["n_trades"] == 4
    assert b["volume"] == 10 + 11 + 12 + 13


def test_vwap_weights_by_volume(spark):
    rows = [
        (0, 1, BASE, 10.0, 1),
        (1, 1, BASE + dt.timedelta(minutes=1), 20.0, 3),
    ]
    df = spark.createDataFrame(rows, TICK_SCHEMA)
    out = finance.vwap(df, bucket="1 day").collect()[0]
    assert out["vwap"] == pytest.approx((10.0 * 1 + 20.0 * 3) / 4)
    assert out["total_volume"] == 4


# --- returns / volatility --------------------------------------------


def test_volatility_constant_series_is_zero(spark):
    out = finance.volatility(ticks_df(spark, [50.0] * 30)).collect()[0]
    assert out["volatility"] == 0.0
    assert out["mean_return"] == 0.0
    assert out["n_returns"] == 29


def test_volatility_matches_numpy_on_quantized_returns(spark):
    import numpy as np

    prices = [100.0, 101.0, 99.5, 103.2, 102.8, 104.0, 101.1, 100.9]
    out = finance.volatility(ticks_df(spark, prices)).collect()[0]
    r = np.diff(prices) / np.array(prices[:-1])
    q = np.floor(r * 1e9)  # the operator's documented 1e-9 grid
    rq = q * 1e-9
    assert out["mean_return"] == pytest.approx(rq.mean(), abs=1e-9)
    assert out["volatility"] == pytest.approx(rq.std(ddof=1), rel=1e-6)


def test_volatility_bitwise_stable_under_repartition(fixture_ticks):
    a = finance.volatility(fixture_ticks.repartition(2))
    b = finance.volatility(fixture_ticks.repartition(17))
    va = {r["symbol"]: (r["mean_return"], r["volatility"]) for r in a.collect()}
    vb = {r["symbol"]: (r["mean_return"], r["volatility"]) for r in b.collect()}
    assert va == vb  # exact ==, not approx: quantized-integer accumulation


# --- bollinger --------------------------------------------------------


def test_bollinger_emits_full_frames_only_and_bands_bracket_ma(spark):
    out = finance.bollinger_bands(ticks_df(spark, list(range(1, 31))), n=20).collect()
    assert len(out) == 30 - 19  # first 19 rows lack a full frame
    for r in out:
        assert r["lower_band"] <= r["ma"] <= r["upper_band"]
        assert r["upper_band"] - r["ma"] == pytest.approx(2.0 * r["sd"])


def test_bollinger_constant_series_has_zero_width(spark):
    out = finance.bollinger_bands(ticks_df(spark, [42.0] * 25), n=20).collect()
    for r in out:
        assert r["sd"] == 0.0
        assert r["upper_band"] == r["lower_band"] == r["ma"] == 42.0


# --- RSI --------------------------------------------------------------


def test_rsi_limits_and_flat(spark):
    up = finance.rsi(ticks_df(spark, [float(i) for i in range(1, 20)]), n=14).collect()
    assert all(r["rsi"] == 100.0 for r in up)
    down = finance.rsi(
        ticks_df(spark, [float(i) for i in range(20, 1, -1)]), n=14
    ).collect()
    assert all(r["rsi"] == 0.0 for r in down)
    flat = finance.rsi(ticks_df(spark, [7.0] * 20), n=14).collect()
    assert all(r["rsi"] == 50.0 for r in flat)


def test_rsi_bounded_on_fixture(fixture_ticks):
    rows = finance.rsi(fixture_ticks, n=14).collect()
    assert len(rows) > 0
    assert all(0.0 <= r["rsi"] <= 100.0 for r in rows)
    assert all(r["avg_gain"] >= 0.0 and r["avg_loss"] >= 0.0 for r in rows)


# --- drawdown ---------------------------------------------------------


def test_max_drawdown_known_series(spark):
    # peak 100 → trough 60: dd = 0.4, realized at the 60 tick (idx 3)
    out = finance.max_drawdown(
        ticks_df(spark, [80.0, 100.0, 90.0, 60.0, 95.0])
    ).collect()[0]
    assert out["max_drawdown"] == pytest.approx(0.4)
    assert out["trough_ts"] == BASE + dt.timedelta(minutes=3)


def test_max_drawdown_monotone_rise_is_zero_at_first_tick(spark):
    out = finance.max_drawdown(ticks_df(spark, [1.0, 2.0, 3.0])).collect()[0]
    assert out["max_drawdown"] == 0.0
    # every tick ties at dd=0; the earliest must win deterministically
    assert out["trough_ts"] == BASE


# --- correlation ------------------------------------------------------


def test_pairwise_correlation_perfect_and_anti(spark):
    n = 30
    s1 = ticks_df(spark, [100.0 + i for i in range(n)], symbol=1)
    s2 = ticks_df(spark, [200.0 + 2 * i for i in range(n)], symbol=2, start_id=1000)
    s3 = ticks_df(spark, [300.0 - i for i in range(n)], symbol=3, start_id=2000)
    df = s1.union(s2).union(s3)
    # one tick per (symbol, minute-bucket) → px == price, exact lines
    out = {
        (r["s1"], r["s2"]): r["corr"]
        for r in finance.pairwise_correlation(
            df, bucket="1 minute", min_periods=10
        ).collect()
    }
    assert out[(1, 2)] == pytest.approx(1.0, abs=1e-9)
    assert out[(1, 3)] == pytest.approx(-1.0, abs=1e-9)
    assert out[(2, 3)] == pytest.approx(-1.0, abs=1e-9)


def test_pairwise_correlation_bounded_on_fixture(fixture_ticks):
    rows = finance.pairwise_correlation(
        fixture_ticks, bucket="1 day", min_periods=5
    ).collect()
    assert len(rows) > 0
    for r in rows:
        if r["corr"] is not None:
            assert -1.0 - 1e-12 <= r["corr"] <= 1.0 + 1e-12
        assert r["s1"] < r["s2"]


# --- plan shapes ------------------------------------------------------


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_ohlc_is_single_partial_final_aggregation(fixture_ticks):
    plan = _plan(finance.ohlc_bars(fixture_ticks, bucket="1 day"))
    # partial+final hash aggregation, exactly one exchange, no window
    assert plan.count("Exchange hashpartitioning") == 1
    assert "HashAggregate" in plan or "ObjectHashAggregate" in plan
    assert "Window" not in plan
    assert "BatchEvalPython" not in plan


def test_volatility_agg_reuses_window_partitioning(fixture_ticks):
    plan = _plan(finance.volatility(fixture_ticks))
    # the lag window hash-partitions by symbol; the groupBy(symbol)
    # after it must NOT introduce a second exchange
    assert plan.count("Exchange hashpartitioning") == 1


def test_bollinger_single_window_pass(fixture_ticks):
    plan = _plan(finance.bollinger_bands(fixture_ticks))
    assert plan.count("Window") == 1
    assert plan.count("Exchange hashpartitioning") == 1


def test_zero_prices_never_fail_the_job(spark):
    """Zero prices occur in real feeds (and the sf0.1 fixture): every
    ratio-based operator must drop the undefined row, not raise ANSI
    DIVIDE_BY_ZERO."""
    prices = [0.0, 0.0, 10.0, 12.0, 0.0, 8.0, 9.0]
    df = ticks_df(spark, prices)
    vol = finance.volatility(df).collect()
    # returns off a zero PREVIOUS price are dropped: (0→0), (0→10),
    # (0→8) gone; 10→12, 12→0 (a valid −100% return), 8→9 kept
    assert vol[0]["n_returns"] == 3
    dd = finance.max_drawdown(df).collect()[0]
    # leading zero-peak rows are undefined; peak 12 -> trough 0 is... the
    # zero tick after 12 realizes dd = 1.0
    assert dd["max_drawdown"] == 1.0
    corr = finance.pairwise_correlation(df, bucket="1 minute", min_periods=1)
    corr.collect()  # single symbol: no pairs, but must not raise


# --- MACD / ATR / stochastic / sharpe / z-score (round 4) -------------


def test_macd_matches_pandas_ewm(spark):
    import pandas as pd

    prices = [10.0, 10.5, 10.2, 11.0, 11.4, 11.1, 12.0, 12.5, 12.2, 13.0]
    out = (
        finance.macd(ticks_df(spark, prices))
        .orderBy("ts")
        .select("macd", "macd_signal", "macd_histogram")
        .collect()
    )
    s = pd.Series(prices)
    # pandas adjust=False ewm is the same recurrence s_i = a·v + (1-a)·s
    ema_f = s.ewm(span=12, adjust=False).mean()
    ema_s = s.ewm(span=26, adjust=False).mean()
    m = ema_f - ema_s
    sig = m.ewm(span=9, adjust=False).mean()
    for i, row in enumerate(out):
        assert row["macd"] == pytest.approx(m[i], abs=1e-12)
        assert row["macd_signal"] == pytest.approx(sig[i], abs=1e-12)
        assert row["macd_histogram"] == pytest.approx(m[i] - sig[i], abs=1e-12)


def test_macd_state_is_per_symbol(spark):
    a = ticks_df(spark, [10.0, 20.0, 30.0], symbol=1)
    b = ticks_df(spark, [100.0, 100.0, 100.0], symbol=2, start_id=100)
    out = finance.macd(a.unionByName(b)).collect()
    by_sym = {}
    for r in out:
        by_sym.setdefault(r["symbol"], []).append(r)
    # a constant series has MACD identically 0 — no bleed from symbol 1
    assert all(r["macd"] == 0.0 for r in by_sym[2])
    assert any(r["macd"] != 0.0 for r in by_sym[1])


def _daily_ticks(spark, day_prices, symbol=1):
    """One tick per day so each price becomes its own daily bar."""
    rows = [
        (i, symbol, BASE + dt.timedelta(days=i), float(p), 1)
        for i, p in enumerate(day_prices)
    ]
    return spark.createDataFrame(rows, TICK_SCHEMA)


def test_atr_constant_series_is_zero_and_gated(spark):
    out = finance.atr(_daily_ticks(spark, [50.0] * 20), n=14).orderBy("bar_start").collect()
    # 20 bars, frame fills at bar 14 → 7 emitted rows, all ATR 0
    assert len(out) == 7
    assert all(r["atr"] == 0.0 and r["tr"] == 0.0 for r in out)


def test_atr_single_tick_bars_use_close_gaps(spark):
    # one tick per bar ⇒ high=low=close ⇒ TR = |close - prev_close|
    prices = [10.0, 12.0, 9.0, 9.0] + [9.0] * 12
    out = finance.atr(_daily_ticks(spark, prices), n=14).orderBy("bar_start").collect()
    assert len(out) == 3
    # frame 0..13: TRs = [0(first), 2, 3, 0, 0...] → ATR = 5/14
    assert out[0]["atr"] == pytest.approx(5.0 / 14.0)


def test_stochastic_limits(spark):
    # monotonically rising one-tick bars: close == 14-bar high ⇒ %K = 100
    out = (
        finance.stochastic_oscillator(
            _daily_ticks(spark, [float(i) for i in range(1, 21)]), n=14
        )
        .orderBy("bar_start")
        .collect()
    )
    assert len(out) == 7
    assert all(r["pct_k"] == 100.0 for r in out)
    # %D needs 3 gated %K rows; first two are NULL
    assert out[0]["pct_d"] is None and out[1]["pct_d"] is None
    assert all(r["pct_d"] == 100.0 for r in out[2:])


def test_stochastic_flat_range_is_null(spark):
    out = finance.stochastic_oscillator(
        _daily_ticks(spark, [5.0] * 16), n=14
    ).collect()
    assert len(out) == 3
    assert all(r["pct_k"] is None and r["pct_d"] is None for r in out)


def test_rolling_sharpe_constant_returns_null_sd(spark):
    # geometric series: identical +10% returns → σ=0 → sharpe NULL
    prices = [100.0 * (1.1 ** i) for i in range(22)]
    out = finance.rolling_sharpe(ticks_df(spark, prices), n=20).collect()
    assert len(out) == 2  # 21 returns → frames full at returns 20 and 21
    for r in out:
        assert r["sd_return"] == pytest.approx(0.0, abs=1e-9)
        assert r["sharpe"] is None


def test_rolling_sharpe_matches_numpy(spark):
    import numpy as np

    rng = [100.0]
    for i in range(25):
        rng.append(rng[-1] * (1.0 + ((-1) ** i) * 0.01 * (1 + i % 3)))
    out = (
        finance.rolling_sharpe(ticks_df(spark, rng), n=20).orderBy("ts").collect()
    )
    r = np.diff(rng) / np.array(rng[:-1])
    # quantize like the operator: floor(x·1e9)/1e9 grid
    q = np.floor(r * 1e9)
    for j, row in enumerate(out):
        win = q[j : j + 20]
        sx, sxx, n = win.sum() * 1e-9, (win * win).sum() * 1e-18, 20.0
        mean = sx / n
        sd = math.sqrt(max((sxx - sx * sx / n) / (n - 1), 0.0))
        assert row["mean_return"] == pytest.approx(mean, rel=1e-9)
        assert row["sharpe"] == pytest.approx(mean / sd, rel=1e-6)


def test_zscore_flags_planted_spike(spark):
    prices = [100.0 + 0.1 * (i % 5) for i in range(30)]
    prices[25] = 150.0  # a >3σ spike against the previous-20 baseline
    out = finance.zscore_anomalies(ticks_df(spark, prices), n=20).collect()
    assert [r["event_id"] for r in out] == [25]
    assert out[0]["zscore"] > 3.0


def test_zscore_baseline_excludes_current_tick(spark):
    # the spike must not dilute its own baseline: baseline_mean is the
    # mean of the PREVIOUS 20 ticks only
    prices = [100.0 + 0.1 * (i % 5) for i in range(21)]
    prices.append(200.0)
    out = finance.zscore_anomalies(ticks_df(spark, prices), n=20).collect()
    spike = [r for r in out if r["event_id"] == 21]
    assert len(spike) == 1
    expected_mean = sum(prices[1:21]) / 20.0
    assert spike[0]["baseline_mean"] == pytest.approx(expected_mean)


def test_twap_weights_by_standing_time(spark):
    rows = [
        (0, 1, BASE, 10.0, 1),
        (1, 1, BASE + dt.timedelta(seconds=10), 20.0, 1),
        (2, 1, BASE + dt.timedelta(seconds=30), 30.0, 1),  # last: no successor
        (3, 2, BASE, 99.0, 1),  # single tick → NULL twap
    ]
    df = spark.createDataFrame(rows, TICK_SCHEMA)
    out = {r["symbol"]: r for r in finance.twap(df, bucket="1 day").collect()}
    # (10·10s + 20·20s) / 30s = 500/30
    assert out[1]["twap"] == pytest.approx(500.0 / 30.0)
    assert out[1]["n_trades"] == 3
    assert out[2]["twap"] is None and out[2]["n_trades"] == 1


def test_obv_signed_running_sum(spark):
    # prices 10 →12(up) →11(down) →11(flat) →15(up); volumes 11,12,13,14,15
    out = (
        finance.obv(ticks_df(spark, [10.0, 12.0, 11.0, 11.0, 15.0]))
        .orderBy("ts")
        .collect()
    )
    assert [r["signed_volume"] for r in out] == [0, 11, -12, 0, 14]
    assert [r["obv"] for r in out] == [0, 11, -1, -1, 13]


def test_donchian_brackets_close_and_gates(spark):
    prices = [float(10 + (i * 13) % 7) for i in range(25)]
    out = finance.donchian_channels(_daily_ticks(spark, prices), n=20).collect()
    assert len(out) == 6  # 25 bars, full frames from bar 20
    for r in out:
        assert r["lower_channel"] <= r["close"] <= r["upper_channel"]
        assert r["mid_channel"] == (r["upper_channel"] + r["lower_channel"]) / 2.0


def test_rolling_beta_of_market_clone_is_one(spark):
    # two symbols with IDENTICAL daily prices: each equals the market,
    # so beta == 1 exactly once frames fill
    prices = [100.0 * (1.0 + 0.01 * ((i * 7) % 5 - 2)) ** 1 for i in range(25)]
    a = _daily_ticks(spark, prices, symbol=1)
    b = spark.createDataFrame(
        [(100 + i, 2, BASE + dt.timedelta(days=i), p, 1) for i, p in enumerate(prices)],
        TICK_SCHEMA,
    )
    out = finance.rolling_beta(a.unionByName(b), n=20).collect()
    assert len(out) > 0
    for r in out:
        # the statistic is defined on the 1e-9 quantization grid, so
        # "exactly 1" holds to grid precision, not machine epsilon
        assert r["beta"] == pytest.approx(1.0, abs=1e-6)


def test_pattern_match_self_window_is_exact_zero(spark, sf_dir):
    """The query's own window must rank first at dist == 0.0 — the
    z-normalized distance of a window to itself is exactly zero in
    IEEE arithmetic (x − x == 0 for every finite term)."""
    from financial_data_stream_processing_engine_spark.operators.finance import (
        pattern_match_topk,
        ticks_from_events,
    )

    t = (
        ticks_from_events(load_table(spark, sf_dir, "events"))
        .select("event_id", "symbol", "ts", "price")
        .where(F.col("price").isNotNull())
    )
    top = pattern_match_topk(t, pattern_key=1, length=8, k=10).collect()
    assert top[0].symbol == 1 and top[0].dist == 0.0 and top[0].rank == 1
    # distances are non-decreasing by construction of the rank order
    ds = [r.dist for r in top]
    assert ds == sorted(ds)
    assert all(d >= 0.0 for d in ds)


def test_pattern_match_matches_numpy_recompute(spark, sf_dir):
    """Top-10 agrees with a literal NumPy z-normalized-euclidean
    recomputation over every sliding window."""
    import numpy as np

    from financial_data_stream_processing_engine_spark.operators.finance import (
        pattern_match_topk,
        ticks_from_events,
    )

    t = (
        ticks_from_events(load_table(spark, sf_dir, "events"))
        .select("event_id", "symbol", "ts", "price")
        .where(F.col("price").isNotNull())
    )
    got = pattern_match_topk(t, pattern_key=1, length=8, k=10).collect()
    rows = sorted(t.collect(), key=lambda r: (r.symbol, r.ts, r.event_id))
    series: dict = {}
    for r in rows:
        series.setdefault(r.symbol, []).append((r.event_id, float(r.price)))
    qv = np.array([p for _, p in series[1][:8]])
    qz = (qv - qv.mean()) / np.sqrt(((qv - qv.mean()) ** 2).mean())
    cands = []
    for sym, pts in series.items():
        vals = np.array([p for _, p in pts])
        for end in range(7, len(vals)):
            w = vals[end - 7 : end + 1]
            s = np.sqrt(((w - w.mean()) ** 2).mean())
            if s == 0:
                continue
            z = (w - w.mean()) / s
            cands.append((float(((z - qz) ** 2).sum()), sym, pts[end][0]))
    cands.sort()
    expect = [(sym, eid) for _, sym, eid in cands[:10]]
    assert [(r.symbol, r.event_id) for r in got] == expect
    for r, (d, _, _) in zip(got, cands[:10]):
        assert abs(r.dist - d) < 1e-9


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01", "sf0.1"])
def test_fixture_ts_unique_per_key_makes_tiebreak_value_identical(spark, sf):
    """The round-5 window rotation demoted five indicator entries
    (obv, twap, volatility, rolling_sharpe, max_drawdown) on the
    argument that their only change — adding ``event_id`` as a
    secondary window sort key — is value-identical on every driver
    fixture.  That argument is exactly the claim that (user_id, ts)
    is unique in events: when the primary sort key is unique within
    each partition, ORDER BY ts and ORDER BY (ts, event_id) define
    the same total order, so every window/lag/rank over either
    ordering produces identical rows.  This test pins the premise at
    all three driver scales; if a future fixture breaks it, the five
    demoted entries must re-enter the check window."""
    df = spark.read.parquet(f"/root/testdata/{sf}/events.parquet")
    dups = (
        df.groupBy("user_id", "ts")
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    assert dups == 0


def test_macd_batched_seam_straddles_arrow_batches(spark):
    """The r18 mapInPandas fold holds back the batch-boundary symbol
    and re-folds it with its continuation (guide §4.5 seam batching).
    Force 3-row Arrow batches so several multi-row symbols straddle
    batch boundaries, and pin the output row-for-row against the
    per-symbol pandas ewm reference — any carry-logic slip (dropped
    tail group, split group folded twice, NULL-key mishandling) shifts
    an EMA and fails."""
    import pandas as pd

    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "3")
    try:
        frames = [
            ticks_df(spark, [10.0 + i + j for j in range(4 + i)],
                     symbol=i, start_id=100 * i)
            for i in range(1, 6)
        ]
        # a NULL-key group, also long enough to straddle batches: it
        # takes no state and passes through with NULL outputs
        frames.append(ticks_df(spark, [1.0, 2.0, 3.0, 4.0], symbol=None, start_id=900))
        df = frames[0]
        for f in frames[1:]:
            df = df.unionByName(f)
        got = {
            (r["symbol"], r["event_id"]): (r["macd"], r["macd_signal"], r["macd_histogram"])
            for r in finance.macd(df).collect()
        }
        for j in range(4):
            assert got.pop((None, 900 + j)) == (None, None, None)
        n_rows = 0
        for i in range(1, 6):
            s = pd.Series([10.0 + i + j for j in range(4 + i)])
            m = s.ewm(span=12, adjust=False).mean() - s.ewm(span=26, adjust=False).mean()
            sig = m.ewm(span=9, adjust=False).mean()
            for j in range(len(s)):
                gm, gs, gh = got[(i, 100 * i + j)]
                assert gm == m[j] and gs == sig[j] and gh == m[j] - sig[j]
                n_rows += 1
        assert n_rows == len(got)
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)


def test_ewma_batched_seam_straddles_arrow_batches(spark):
    """Same straddle pin for core.ewma's r18 mapInPandas fold — with
    NULL values (carry state, emit NULL) and NULL keys (passthrough)
    in play."""
    from financial_data_stream_processing_engine_spark.operators.core import ewma

    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "2")
    try:
        rows = []
        expected = {}
        rid = 0
        for sym in (1, 2, 3):
            vals = [1.0, None, 2.0, 4.0, None, 8.0][: 3 + sym]
            state = None
            for v in vals:
                rows.append((rid, sym, BASE + dt.timedelta(minutes=rid), v, 0))
                if v is None:
                    expected[rid] = None
                else:
                    state = v if state is None else 0.2 * v + 0.8 * state
                    expected[rid] = state
                rid += 1
        rows.append((rid, None, BASE + dt.timedelta(minutes=rid), 5.0, 0))
        expected[rid] = None  # NULL key: passthrough, NULL ewma
        df = spark.createDataFrame(rows, TICK_SCHEMA)
        got = {
            r["event_id"]: r["ewma"]
            for r in ewma(df, order_by=("ts", "event_id")).collect()
        }
        assert got == expected
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)


def test_keyed_folds_keep_a_nan_key_as_one_key(spark):
    """A float NaN key is one key, as in Spark's groupBy and DuckDB:
    core.ewma and finance.macd carry its state from row to row, also
    when its group straddles 2-row Arrow batches, instead of restarting
    on every row (ewma) or emitting NULL (macd)."""
    import pandas as pd

    from financial_data_stream_processing_engine_spark.operators.core import ewma

    keys = [1.0, 1.0, math.nan, math.nan, math.nan, math.nan, math.nan, 2.0]
    prices = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0]
    rows = [
        (i, k, BASE + dt.timedelta(minutes=i), p, 0)
        for i, (k, p) in enumerate(zip(keys, prices))
    ]
    df = spark.createDataFrame(
        rows, "event_id long, symbol double, ts timestamp, price double, volume long"
    )
    groups = {"1": [0, 1], "nan": [2, 3, 4, 5, 6], "2": [7]}
    want_ewma, want_macd = {}, {}
    for ids in groups.values():
        state = None
        for i in ids:
            state = prices[i] if state is None else 0.2 * prices[i] + 0.8 * state
            want_ewma[i] = state
        s = pd.Series([prices[i] for i in ids])
        m = s.ewm(span=12, adjust=False).mean() - s.ewm(span=26, adjust=False).mean()
        sig = m.ewm(span=9, adjust=False).mean()
        want_macd.update({i: (m[j], sig[j], m[j] - sig[j]) for j, i in enumerate(ids)})

    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "2")
    try:
        got_ewma = {
            r["event_id"]: r["ewma"]
            for r in ewma(df, order_by=("ts", "event_id")).collect()
        }
        got_macd = {
            r["event_id"]: (r["macd"], r["macd_signal"], r["macd_histogram"])
            for r in finance.macd(df).collect()
        }
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)
    assert got_ewma == want_ewma
    assert got_macd == want_macd


# --- the batch keyed fold's carry (pure pandas, no Spark) --------------


def _carried(batches):
    from financial_data_stream_processing_engine_spark.operators.core import (
        _whole_groups,
    )

    return list(_whole_groups(iter(batches), "k"))


def test_whole_groups_keeps_nan_key_group_whole_across_batches():
    """Spark NULL keys arrive as NaN, sorted first: a NaN group spread
    over several batches (with empty batches between) must come out as
    ONE group — a plain ``==`` boundary test splits it, since NaN never
    equals NaN."""
    import numpy as np
    import pandas as pd

    keys = [[np.nan, np.nan], [], [np.nan], [np.nan, 1.0], [1.0, 2.0, 2.0], [], [3.0], []]
    batches, v = [], 0
    for ks in keys:
        batches.append(pd.DataFrame({"k": ks, "v": range(v, v + len(ks))}, dtype="float64"))
        v += len(ks)
    out = _carried(batches)
    assert all(len(f) for f in out)  # empty batches are skipped
    # every frame holds whole groups, and no group spans two frames
    seen = [frozenset(f["k"].fillna(-1.0)) for f in out]
    assert sum(len(g) for g in seen) == len(frozenset().union(*seen)) == 4
    nan_frames = [f for f in out if f["k"].isna().any()]
    assert len(nan_frames) == 1 and nan_frames[0]["k"].isna().sum() == 4
    assert pd.concat(out)["v"].tolist() == list(range(v))  # order kept


def test_whole_groups_giant_key_concatenated_once(monkeypatch):
    """One key fed as 1,000 batches of 100 rows comes out whole and in
    order, and the held chunks are concatenated ONCE — re-concatenating
    the carry with every batch is quadratic in the group size."""
    import pandas as pd

    calls = []
    real_concat = pd.concat
    monkeypatch.setattr(
        pd, "concat", lambda *a, **kw: calls.append(1) or real_concat(*a, **kw)
    )
    batches = [
        pd.DataFrame({"k": ["A"] * 100, "v": range(100 * b, 100 * (b + 1))})
        for b in range(1000)
    ]
    out = _carried(batches)
    assert len(out) == 1 and out[0]["v"].tolist() == list(range(100_000))
    assert len(calls) == 1


def test_whole_groups_skips_empty_batches():
    import pandas as pd

    empty = pd.DataFrame({"k": pd.Series([], dtype="object")})
    assert _carried([empty, empty]) == []
    out = _carried([empty, pd.DataFrame({"k": ["A", "B"]}), empty])
    assert [f["k"].tolist() for f in out] == [["A"], ["B"]]
