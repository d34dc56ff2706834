"""The keyed-state shell's per-group Python, pinned without Spark.

``_sorted_batch`` receives a group's Arrow chunks as pandas frames with
``ts`` as int64 epoch micros (float64 with NaN when a ``ts`` is NULL)
and has a tie-free fast path.  Each case here must come out in the
order of the rule it replaced, copied below as ``_reference_order``,
which received ``ts`` as a timestamp column.  The moving average's
numpy ``step`` must equal the per-row loop it replaced, copied below
as ``_reference_ma_step``, bit for bit.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest

from financial_data_stream_processing_engine_spark.streaming import stateful
from financial_data_stream_processing_engine_spark.streaming.stateful import _sorted_batch


def _reference_order(pdfs):
    """The arrival-order rule as it was when ``ts`` crossed the seam as
    a timestamp: concat, then a stable (ts, numeric id, id) mergesort."""
    chunks = [c for c in pdfs if len(c)]
    if not chunks:
        return None
    pdf = pd.concat(chunks, ignore_index=True)
    idnum = pd.to_numeric(pdf["id"], errors="coerce")
    return (
        pdf.assign(__idnum=idnum)
        .sort_values(["ts", "__idnum", "id"], kind="mergesort")
        .drop(columns="__idnum")
    )


# ts in seconds (None = NULL) and ids, one group each
CASES = {
    "ordered": ([1, 2, 3, 4], ["a", "b", "c", "d"]),
    "permuted, no ties": ([4, 1, 3, 2], ["a", "b", "c", "d"]),
    "tied ts": ([3, 1, 3, 2, 1, 3], ["f", "e", "d", "c", "b", "a"]),
    "null ts": ([2, None, 1, None, 5], ["5", "4", "3", "2", "1"]),
    "null and tied ts": ([2, None, 1, None, 2, 5], ["6", "5", "4", "3", "2", "1"]),
    "one null ts": ([2, None, 1], ["a", "b", "c"]),
    "all null ts": ([None, None, None], ["b", "10", "9"]),
    "numeric ids": ([7, 7, 7, 7, 7], ["10", "9", "2", "100", "1"]),
    "zero-padded ids": ([7, 7, 7, 7, 1], ["010", "9", "0002", "10", "3"]),
    "non-numeric ids": ([7, 7, 7, 7, 7, 7], ["t2", "10", "t10", "2", "abc", "007"]),
    "one row": ([5], ["x"]),
    "one null row": ([None], ["x"]),
}
SPLITS = {"one chunk": [], "two chunks": [1], "a chunk per row": "each", "empty chunks": [0, 0]}


def _chunks(ts_s, ids, ts_type, split):
    ts_us = [None if t is None else 1_700_000_000_000_000 + t * 1_000_000 for t in ts_s]
    table = pa.table({
        "id": ids,
        "price": [float(i) for i in range(len(ids))],
        "ts": pa.array(ts_us, pa.int64()).cast(ts_type),
    })
    cuts = list(range(1, len(ids))) if split == "each" else split
    bounds = [0, *cuts, len(ids)]
    return [table.slice(a, b - a).to_pandas() for a, b in zip(bounds, bounds[1:])]


@pytest.mark.parametrize("split", SPLITS)
@pytest.mark.parametrize("case", CASES)
def test_sorted_batch_orders_like_the_reference(case, split):
    ts_s, ids = CASES[case]
    want = _reference_order(_chunks(ts_s, ids, pa.timestamp("us"), SPLITS[split]))
    got = _sorted_batch(iter(_chunks(ts_s, ids, pa.int64(), SPLITS[split])))
    assert got["id"].tolist() == want["id"].tolist()
    assert got["price"].tolist() == want["price"].tolist()
    # the micros are the timestamps, NULL (NaN) where the timestamp is NaT
    assert pd.to_datetime(got["ts"], unit="us").tolist() == want["ts"].tolist()


def test_sorted_batch_skips_an_empty_group():
    assert _sorted_batch(iter([])) is None
    assert _sorted_batch(iter(_chunks([], [], pa.int64(), []))) is None


def test_tie_free_group_is_not_resorted():
    """A single ordered chunk comes back as the same frame; a permuted
    tie-free one in ts order."""
    (chunk,) = _chunks(*CASES["ordered"], pa.int64(), [])
    assert _sorted_batch(iter([chunk])) is chunk
    (chunk,) = _chunks(*CASES["permuted, no ties"], pa.int64(), [])
    assert _sorted_batch(iter([chunk]))["id"].tolist() == ["b", "d", "c", "a"]


def _reference_ma_step(n):
    """The moving average's per-row ``step`` before it ran on numpy."""

    def step(state, pdf):
        prices = list(state[0])
        mas = []
        for price in pdf["price"]:
            ma = None
            if price is not None and not pd.isna(price):
                prices.append(float(price))
                if len(prices) > n:
                    del prices[: len(prices) - n]
                if len(prices) == n:
                    ma = sum(prices) / n  # oldest→newest, like sum(deque)
            mas.append(ma)
        return (prices,), np.array(mas, dtype="float64")

    return step


@pytest.mark.parametrize("n", [1, 2, 5])
def test_ma_step_equals_the_loop_bitwise(monkeypatch, n):
    """Consecutive micro-batches of one key, with NULL prices, ``-0.0``
    and two-decimal prices whose sums round differently in another
    order: outputs and carried state equal the loop's on every bit."""
    steps = []
    monkeypatch.setattr(stateful, "_keyed_state", lambda ticks, step, *rest: steps.append(step))
    stateful.streaming_moving_average(None, n=n)
    (step,) = steps
    want_step = _reference_ma_step(n)
    rng = np.random.default_rng(n)
    state = want_state = ([],)
    for size in [1, 3, 1, 7, 40, 2, 1, 25, 9]:
        price = np.round(rng.uniform(90, 130, size), 2)
        price[rng.random(size) < 0.25] = np.nan
        price[rng.random(size) < 0.05] = -0.0
        pdf = pd.DataFrame({"id": [str(i) for i in range(size)], "price": price})
        want_state, want = want_step(want_state, pdf.copy())
        state, out = step(state, pdf)
        assert out["moving_average"].to_numpy().tobytes() == want.tobytes()
        assert out["id"].tolist() == pdf["id"].tolist()
        assert np.asarray(state[0]).tobytes() == np.asarray(want_state[0]).tobytes()
