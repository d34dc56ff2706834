"""Pure-Python references and the statistics the benchmark reports.

Nothing here imports Spark: the benchmark's expected results are
computed from the generated inputs alone and compared with what the
engine delivered.
"""

from __future__ import annotations

import math
from collections import deque
from collections.abc import Iterable

import numpy as np

#: the engine's default alert threshold (EngineConfig.price_alert_threshold)
THRESHOLD = 108.0
#: the engine's default window (EngineConfig.moving_average_window)
WINDOW = 5
#: the highest percentile a tail metric reports
TAIL_CAP = 95.0


def moving_averages(
    ticks: Iterable[tuple[str, float]], n: int = WINDOW
) -> list[float | None]:
    """Per-symbol row-count moving average, one value per tick in
    arrival order: ``None`` until the symbol has ``n`` prices, then the
    mean of its last ``n``.  ``sum`` runs over the deque oldest→newest,
    which is the streaming operator's order, so values match bit for
    bit."""
    windows: dict[str, deque] = {}
    out: list[float | None] = []
    for symbol, price in ticks:
        d = windows.get(symbol)
        if d is None:
            d = windows[symbol] = deque(maxlen=n)
        d.append(price)
        out.append(sum(d) / n if len(d) == n else None)
    return out


def expected_alerts(
    ticks: list[tuple[str, float, int]], n: int = WINDOW, threshold: float = THRESHOLD
) -> dict[tuple[str, int], float]:
    """``(symbol, ts_us) -> moving average`` for every tick whose moving
    average exceeds ``threshold``.  ``ticks`` are ``(symbol, price,
    ts_us)`` in arrival order; alerts are keyed on ``(symbol, ts)``
    because the AlphaVantage path gives each row a random-uuid id."""
    mas = moving_averages(((s, p) for s, p, _ in ticks), n)
    return {
        (s, ts): ma
        for (s, _, ts), ma in zip(ticks, mas)
        if ma is not None and ma > threshold
    }


def check_alerts(
    expected: dict[tuple[str, int], float],
    delivered: dict[tuple[str, int], float],
) -> dict[str, int]:
    """Compare delivered alerts with the expected set.  An expected alert
    fails when it is missing or carries another value; a delivered alert
    outside the expected set is ``unexpected``."""
    missing = wrong = 0
    for key, ma in expected.items():
        got = delivered.get(key)
        if got is None:
            missing += 1
        elif got != ma:
            wrong += 1
    unexpected = sum(1 for key in delivered if key not in expected)
    return {
        "attempted": len(expected),
        "failed": missing + wrong,
        "missing": missing,
        "wrong_value": wrong,
        "unexpected": unexpected,
    }


def lag_chain_ma(prices: np.ndarray, n: int = WINDOW) -> np.ndarray:
    """The batch operator's moving average for one symbol's prices in
    order: ``(p_i + p_{i-1} + … + p_{i-n+1}) / n``, summed newest→oldest
    like ``core.moving_average``'s lag chain (NaN before ``n`` rows)."""
    out = np.full(len(prices), np.nan)
    if len(prices) >= n:
        total = prices[n - 1 :].copy()
        for i in range(1, n):
            total = total + prices[n - 1 - i : len(prices) - i]
        out[n - 1 :] = total / float(n)
    return out


def ema(values: np.ndarray, span: int) -> np.ndarray:
    """``s_1 = v_1``, ``s_i = α·v_i + (1−α)·s_{i−1}``, ``α = 2/(span+1)``."""
    a = 2.0 / (span + 1)
    out = np.empty(len(values))
    s = values[0]
    for i, v in enumerate(values):
        s = v if i == 0 else a * v + (1 - a) * s
        out[i] = s
    return out


def macd_ref(prices: np.ndarray, fast: int = 12, slow: int = 26, signal: int = 9):
    """MACD line, signal line and histogram for one symbol."""
    m = ema(prices, fast) - ema(prices, slow)
    sig = ema(m, signal)
    return m, sig, m - sig


def tail_percentile(samples: list[float]) -> tuple[float, float, int]:
    """The highest percentile, at most ``TAIL_CAP``, with at least ten samples
    beyond it: ``(percentile, value, n)``.

    With ``n`` samples, percentile ``p`` has ``n·(1 − p/100)`` samples
    beyond it, so ``p ≤ 100·(1 − 10/n)``.  Above the median the value
    is the nearest-rank sample (no interpolation).  With fewer than 20
    samples no percentile above the median qualifies, and the median
    itself is reported."""
    n = len(samples)
    if n == 0:
        raise ValueError("tail_percentile: no samples")
    p = min(TAIL_CAP, 100.0 * (1 - 10 / n))
    if p <= 50.0:
        return 50.0, median(samples), n
    return p, nearest_rank(samples, p), n


def nearest_rank(samples: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least
    ``p`` percent of the samples at or below it."""
    s = sorted(samples)
    k = max(1, math.ceil(p / 100.0 * len(s)))
    return s[k - 1]


def median(samples: list[float]) -> float:
    """Median over measured samples (mean of the middle two when even)."""
    s = sorted(samples)
    n = len(s)
    if n == 0:
        raise ValueError("median: no samples")
    mid = n // 2
    return s[mid] if n % 2 else (s[mid - 1] + s[mid]) / 2
