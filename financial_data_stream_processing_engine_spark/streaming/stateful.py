"""Stateful streaming: per-symbol keyed state over a tick stream
(SURVEY.md §7 hard part #1).

Spark's native streaming windows are time-based; the reference's
flagship operator is a row-count window per key (deque(maxlen=N),
financial_engine.py:305).  Streaming parity therefore needs custom
keyed state: ``applyInPandasWithState`` with small per-key state.

Five TTL-keyed operators (moving average, EWMA, MACD, z-score alerts,
pattern distance) share one shell, :func:`_keyed_state`; each supplies
only the columns it adds, its state schema, initial state and a
per-group ``step``.  Four decisions live in one place each:

* arrival order — :func:`_sorted_batch`, (ts, id) within each
  micro-batch, one stable argsort when ``ts`` has no NULLs or ties;
  the reference's asyncio task ordering is nondeterministic anyway
  (SURVEY.md §3.2);
* key participation — ``operators.core._key_participates``: NULL and
  ``''`` symbols take no state and come out with NULL outputs (or are
  dropped by the operators that emit only scored rows);
* output shape — the shell derives it: the input's columns, then the
  operator's added columns, every field nullable (the batch
  ``operators.core._keyed_fold`` builds its schema the same way);
* state lifetime — a TTL kept in the state: the shell stamps each
  key's state with its batch time (``touched_ms``) and hands ``step``
  the initial state when the key returns after more than ``ttl_ms``
  (Spark's timeout rule, ``touched + ttl < now``), so a key idle past
  the TTL restarts its window.  Nothing sweeps a key that never
  returns: its state stays, bounded by distinct keys × (n + 1) values
  (the reference keeps every deque forever, :298).  In return the
  shell runs ``NoTimeout``, so Spark schedules no no-data batches for
  it.  A checkpoint written before ``touched_ms`` cannot be resumed.

``streaming_sessionize_timeout`` keeps its own body: its event-time
timeout emits rows.
"""

from __future__ import annotations

import math
from collections.abc import Callable, Iterator
from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from financial_data_stream_processing_engine_spark.operators.core import _key_participates

#: the state of the ring-buffer operators (moving average, z-score,
#: pattern distance): the key's last prices, oldest first
PRICES_STATE_SCHEMA = "prices array<double>"


def _sorted_batch(pdfs: Iterator[pd.DataFrame]) -> pd.DataFrame | None:
    """The ONE deterministic arrival-order rule for a micro-batch's
    group rows, shared by every stateful update function: buffer the
    entire group (the iterator yields Arrow chunks, and a per-chunk
    sort would only be deterministic within a chunk), then stable-sort
    by (ts, numeric id, id) — ties on ts break by id numerically when
    id encodes a number (matching the batch operators' event_id
    order), falling back to the string itself; NULL ts sorts last.
    When ``ts`` has no NULLs and no ties it alone decides the order:
    one stable argsort, and an ordered group is returned as is.
    Returns None for an empty group so callers can skip."""
    chunks = [c for c in pdfs if len(c)]
    if not chunks:
        return None
    pdf = chunks[0] if len(chunks) == 1 else pd.concat(chunks, ignore_index=True)
    ts = pdf["ts"].to_numpy()
    if not pd.isna(ts).any():
        if (ts[1:] > ts[:-1]).all():
            return pdf
        order = np.argsort(ts, kind="stable")
        if (ts[order[1:]] != ts[order[:-1]]).all():
            return pdf.take(order)
    idnum = pd.to_numeric(pdf["id"], errors="coerce")
    return (
        pdf.assign(__idnum=idnum)
        .sort_values(["ts", "__idnum", "id"], kind="mergesort")
        .drop(columns="__idnum")
    )


def _keyed_state(
    ticks: DataFrame,
    step: Callable[[tuple, pd.DataFrame], tuple],
    added: tuple[str, ...],
    state_schema: str,
    init: tuple,
    ttl_ms: int,
    keep_unkeyed: bool = True,
) -> DataFrame:
    """The shell of every TTL-keyed streaming operator: one
    ``applyInPandasWithState`` over ``symbol``, in ONE scan of the
    source.

    Per group and micro-batch it reads the state (``init`` when absent
    or idle past ``ttl_ms``), sorts the rows by the arrival-order rule,
    calls ``step(state, pdf) -> (state, out | None)``, emits ``out``
    and writes the state back with this batch's time appended
    (``touched_ms``, which ``step`` never sees).  ``out`` is rows of
    ``pdf`` with the ``added`` double columns appended, so the output
    is the input's columns then ``added``, every field nullable.  A
    group whose key fails ``_key_participates`` (NULL or ``''``) never
    touches state: its rows come out with the ``added`` columns NULL,
    or are dropped unless ``keep_unkeyed``.  ``ts`` crosses the seam as
    int64 epoch micros (NULL arrives as NaN), which Arrow hands to
    pandas far cheaper than a timestamp column; the operator's output
    gets its timestamp back after the seam.
    """
    seam_schema = T.StructType(
        [
            T.StructField(f.name, T.LongType() if f.name == "ts" else f.dataType)
            for f in ticks.schema.fields
        ]
        + [T.StructField(c, T.DoubleType()) for c in added]
    )
    nulls = dict.fromkeys(added, float("nan"))

    def update(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        pdf = _sorted_batch(pdfs)
        if pdf is None:
            return
        if not pdf.pop("__part").iloc[0]:  # one key, so one verdict, per group
            if keep_unkeyed:
                yield pdf.assign(**nulls)
            return
        now = state.getCurrentProcessingTimeMs()
        live = state.exists and now - state.get[-1] <= ttl_ms
        s, out = step(state.get[:-1] if live else init, pdf)
        if out is not None and len(out):
            yield out
        state.update((*s, now))

    return (
        ticks.withColumn("__part", _key_participates(ticks, "symbol"))
        .withColumn("ts", F.unix_micros("ts"))
        .groupBy("symbol")
        .applyInPandasWithState(
            update,
            outputStructType=seam_schema,
            stateStructType=f"{state_schema}, touched_ms long",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
        .withColumn("ts", F.timestamp_micros("ts"))
    )


def streaming_moving_average(
    ticks: DataFrame,
    n: int = 5,
    ttl_ms: int = 24 * 3600 * 1000,
) -> DataFrame:
    """Per-symbol row-count moving average over a tick stream.

    Semantics match operators.core.moving_average (and the reference,
    financial_engine.py:293-312): NULL until exactly ``n`` prices have
    been buffered for the key, then the sliding mean of the last ``n``.
    Sum order is oldest→newest (matches the reference's ``sum(deque)``).
    NULL and ``''`` symbols get a NULL moving average and take no
    window slot, in the same scan as the keyed rows.

    State: one double[<=n] ring buffer per key — O(n) bytes; restarted
    when the key returns after ``ttl_ms`` without traffic.  Scale: state
    store shards by the group key across executors; a hot symbol is one
    partition but state is tiny and the per-batch work is O(batch rows).
    """

    def step(state, pdf):
        price = pdf["price"].to_numpy()
        rows = np.flatnonzero(~np.isnan(price))  # the rows that take a slot
        buf = np.concatenate((np.asarray(state[0], dtype="float64"), price[rows]))
        # the full windows that end on a new price: buf[j : j + n], j >= first
        first = max(len(buf) - len(rows) - n + 1, 0)
        m = len(buf) - n + 1 - first
        mas = np.full(len(price), np.nan)
        if m > 0:
            acc = np.zeros(m)
            for i in range(n):  # 0 + oldest + … + newest, exactly sum(deque)
                acc = acc + buf[first + i : first + i + m]
            mas[rows[len(rows) - m :]] = acc / n
        pdf["moving_average"] = mas  # the shell's own frame: no copy
        return (buf[-n:].tolist(),), pdf

    return _keyed_state(
        ticks, step, ("moving_average",), PRICES_STATE_SCHEMA, ([],), ttl_ms
    )


EWMA_STATE_SCHEMA = "s double"


def streaming_ewma(
    ticks: DataFrame,
    alpha: float = 0.2,
    ttl_ms: int = 24 * 3600 * 1000,
) -> DataFrame:
    """Per-symbol EWMA over a tick stream — the streaming twin of
    operators.core.ewma: s_i = α·v_i + (1-α)·s_{i-1}, state = ONE
    double per key (the smallest possible keyed state; compare the
    ring buffer the row-count MA needs).

    NULL prices emit NULL and carry state; NULL and ``''`` symbols take
    no state and emit NULL.
    """
    a, b = float(alpha), 1.0 - float(alpha)

    def step(state, pdf):
        (s,) = state
        out = []
        for price in pdf["price"].tolist():
            if math.isnan(price):
                out.append(None)
                continue
            s = price if s is None else a * price + b * s
            out.append(s)
        return (s,), pdf.assign(ewma=np.array(out, "float64"))

    return _keyed_state(ticks, step, ("ewma",), EWMA_STATE_SCHEMA, (None,), ttl_ms)


MACD_STATE_SCHEMA = "ef double, es double, sig double"


def streaming_macd(
    ticks: DataFrame,
    fast: int = 12,
    slow: int = 26,
    signal: int = 9,
    ttl_ms: int = 24 * 3600 * 1000,
) -> DataFrame:
    """Per-symbol MACD over a tick stream — the streaming twin of
    operators.finance.macd: three coupled EMA recurrences whose entire
    keyed state is THREE doubles (fast EMA, slow EMA, signal EMA).

    Per row the op order matches the batch fold exactly — advance fast,
    advance slow, subtract, advance signal, subtract — so
    streaming/batch/oracle agreement is bitwise.  NULL prices emit NULL
    and carry state; NULL and ``''`` symbols take no state and emit
    NULL.
    """
    af, bf = 2.0 / (fast + 1.0), 1.0 - 2.0 / (fast + 1.0)
    as_, bs = 2.0 / (slow + 1.0), 1.0 - 2.0 / (slow + 1.0)
    ag, bg = 2.0 / (signal + 1.0), 1.0 - 2.0 / (signal + 1.0)

    def step(state, pdf):
        ef, es, sig = state
        out = []
        for v in pdf["price"].tolist():
            if math.isnan(v):
                out.append((None, None, None))
                continue
            ef = v if ef is None else af * v + bf * ef
            es = v if es is None else as_ * v + bs * es
            m = ef - es
            sig = m if sig is None else ag * m + bg * sig
            out.append((m, sig, m - sig))
        m_out, s_out, h_out = np.array(out, "float64").T
        return (ef, es, sig), pdf.assign(
            macd=m_out, macd_signal=s_out, macd_histogram=h_out
        )

    return _keyed_state(
        ticks, step, ("macd", "macd_signal", "macd_histogram"), MACD_STATE_SCHEMA,
        (None, None, None), ttl_ms,
    )


def streaming_zscore_alerts(
    ticks: DataFrame,
    n: int = 20,
    z_threshold: float = 3.0,
    ttl_ms: int = 24 * 3600 * 1000,
) -> DataFrame:
    """Per-symbol causal z-score anomaly alerts over a tick stream —
    the streaming twin of operators.finance.zscore_anomalies: a ring
    buffer of the PREVIOUS ``n`` prices per key scores each incoming
    tick before it enters the buffer, and only |z| ≥ threshold rows
    are emitted (the alert stream is tiny by construction).

    Bitwise batch parity: the buffer's Σ and Σ² replicate the batch
    operator's DECIMAL(27,7) window sums exactly — each double is
    quantized via its shortest repr at scale 7 (what Spark's
    double→decimal cast does) and accumulated in Python ``Decimal``
    (exact), with one correctly-rounded float conversion at the end;
    everything after is the same straight-line IEEE arithmetic.  This
    is the reference's threshold alert (financial_engine.py:101-106)
    as a self-calibrating streaming detector.
    """
    from decimal import ROUND_HALF_UP, Decimal

    quant = Decimal("0.0000001")

    def step(state, pdf):
        prices = list(state[0])
        mus, sds, zs, keep = [], [], [], []
        for price in pdf["price"].tolist():
            flag = False
            mu = sd = z = None
            p = None if math.isnan(price) else price
            if p is not None:
                # batch parity: the ROWS −n..−1 frame counts every
                # row as a slot and requires count(price) == n, so
                # a window containing a NULL price never scores —
                # the buffer mirrors that by storing NULL slots
                # (appended below) and scoring only all-non-null
                # full windows
                if len(prices) == n and not any(v is None for v in prices):
                    sx = float(
                        sum(
                            Decimal(repr(v)).quantize(quant, ROUND_HALF_UP)
                            for v in prices
                        )
                    )
                    sxx = float(
                        sum(
                            Decimal(repr(v * v)).quantize(quant, ROUND_HALF_UP)
                            for v in prices
                        )
                    )
                    mu = sx / float(n)
                    var = (sxx - sx * sx / float(n)) / float(n - 1)
                    # math.sqrt is correctly rounded (IEEE), matching
                    # the batch plan's SQRT; `** 0.5` (libm pow) is not
                    # guaranteed to be
                    sd = math.sqrt(max(var, 0.0))
                    z = (p - mu) / sd if sd != 0.0 else None
                    flag = z is not None and abs(z) >= z_threshold
            # EVERY row consumes a buffer slot, NULL prices
            # included — exactly like the batch ROWS frame
            prices.append(p)
            if len(prices) > n:
                del prices[: len(prices) - n]
            mus.append(mu)
            sds.append(sd)
            zs.append(z)
            keep.append(flag)
        out = pdf.assign(
            baseline_mean=np.array(mus, "float64"),
            baseline_sd=np.array(sds, "float64"),
            zscore=np.array(zs, "float64"),
        )
        return (prices,), out[np.array(keep)]

    return _keyed_state(
        ticks, step, ("baseline_mean", "baseline_sd", "zscore"), PRICES_STATE_SCHEMA,
        ([],), ttl_ms, keep_unkeyed=False,
    )


SESSION_OUTPUT_SCHEMA = (
    "symbol string, session_start timestamp, session_end timestamp, n_events bigint"
)
SESSION_STATE_SCHEMA = "start_us long, end_us long, n long"


def streaming_sessionize_timeout(
    ticks: DataFrame,
    gap_s: int = 7200,
) -> DataFrame:
    """Per-key sessionization with WATERMARK-DRIVEN emission — the
    state-timeout feature the built-in session window hides: a session
    closes either when a later event in the stream exceeds the gap
    (emitted inline) or when the EVENT-TIME watermark passes
    last_event + gap (``GroupStateTimeout.EventTimeTimeout`` fires the
    update function with ``hasTimedOut`` and no data, and the open
    session is flushed from state).  Exactly-once per session: a
    session is emitted from precisely one of the two paths.

    State per key is three longs — O(1) regardless of session length —
    and expires the moment the watermark proves no more events can
    join, which is the minimal-retention contract for unbounded key
    sets at scale.  Semantics match the batch gap rule exactly
    (strictly-greater-than-gap starts a new session), so batch
    sessionization is the oracle.
    """
    gap_us = gap_s * 1_000_000

    def update(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        def frame(rows: list[tuple[int, int, int]]) -> pd.DataFrame:
            starts, ends, counts = zip(*rows)
            return pd.DataFrame({
                "symbol": [key[0]] * len(rows),
                "session_start": pd.to_datetime(starts, unit="us"),
                "session_end": pd.to_datetime(ends, unit="us"),
                "n_events": counts,
            })

        if state.hasTimedOut:
            start_us, end_us, n = state.get
            state.remove()
            yield frame([(start_us, end_us, n)])
            return
        pdf = _sorted_batch(pdfs)
        if pdf is None:
            return
        ts_us = pdf["ts"].astype("datetime64[us]").astype("int64")
        if state.exists:
            start_us, end_us, n = state.get
        else:
            start_us = end_us = None
            n = 0
        closed: list[tuple[int, int, int]] = []
        for t in ts_us:
            t = int(t)
            if start_us is None:
                start_us, end_us, n = t, t, 1
            elif t - end_us > gap_us:
                closed.append((start_us, end_us, n))
                start_us, end_us, n = t, t, 1
            else:
                # max/min, not assignment: a late-but-within-watermark
                # event from a later BATCH can carry t < end_us —
                # rewinding end_us would let a following event falsely
                # split the session and could push setTimeoutTimestamp
                # at/below the current watermark (a fatal streaming
                # error).  The session envelope only ever widens.
                start_us = min(start_us, t)
                end_us = max(end_us, t)
                n += 1
        state.update((start_us, end_us, n))
        # fire when the event-time watermark passes session end + gap
        state.setTimeoutTimestamp(end_us // 1000 + gap_s * 1000)
        if closed:
            yield frame(closed)

    keyed = ticks.filter(ticks.symbol.isNotNull())
    return keyed.groupBy("symbol").applyInPandasWithState(
        update,
        outputStructType=SESSION_OUTPUT_SCHEMA,
        stateStructType=SESSION_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def streaming_pattern_distance(
    ticks: DataFrame,
    qvals: list[float],
    length: int = 8,
    ttl_ms: int = 24 * 3600 * 1000,
) -> DataFrame:
    """Per-symbol z-normalized euclidean distance of every length-
    ``length`` sliding price window to the query pattern ``qvals`` —
    the streaming twin of ``operators.finance.pattern_match_topk``.

    State: one double[<=length] ring buffer per key (the
    ``streaming_moving_average`` shape).  A row is emitted once the
    buffer is full and the window has nonzero variance (flat windows
    are dropped exactly like the batch operator), as ``id, symbol, ts,
    dist``.

    Bitwise parity contract: every float op replicates the batch
    expression tree — mean and variance are LEFT-ASSOCIATED Python
    float chains over oldest→newest prices, the query statistics are
    folded once with the identical chains, and each distance term is
    ``((v−m)/s − (q−qm)/qs)²`` accumulated left-to-right.  Python
    floats ARE IEEE doubles, so streamed distances equal the batch
    (and DuckDB-oracle) distances bit-for-bit.
    """
    acc = qvals[0]
    for v in qvals[1:]:
        acc = acc + v
    qm = acc / float(length)
    acc2 = (qvals[0] - qm) * (qvals[0] - qm)
    for v in qvals[1:]:
        acc2 = acc2 + (v - qm) * (v - qm)
    qs = math.sqrt(acc2 / float(length))
    if qs <= 0:
        raise ValueError("query pattern has zero variance")
    zq = [(q - qm) / qs for q in qvals]

    def step(state, pdf):
        prices = list(state[0])
        rows, dists = [], []
        for row, price in enumerate(pdf["price"].tolist()):
            # batch parity: the lag-chain counts every ROW as a
            # window slot, and any window containing a NULL price
            # yields NULL stats (dropped) — so NULL prices consume
            # a slot here too and poison the windows they sit in
            p = None if math.isnan(price) else price
            prices.append(p)
            if len(prices) > length:
                del prices[: len(prices) - length]
            if p is None or len(prices) < length or any(v is None for v in prices):
                continue
            m_acc = prices[0]
            for v in prices[1:]:
                m_acc = m_acc + v
            m = m_acc / float(length)
            v_acc = (prices[0] - m) * (prices[0] - m)
            for v in prices[1:]:
                v_acc = v_acc + (v - m) * (v - m)
            s = math.sqrt(v_acc / float(length))
            if not s > 0:
                continue
            d0 = (prices[0] - m) / s - zq[0]
            d_acc = d0 * d0
            for i in range(1, length):
                di = (prices[i] - m) / s - zq[i]
                d_acc = d_acc + di * di
            rows.append(row)
            dists.append(d_acc)
        return (prices,), pdf.iloc[rows].assign(dist=np.array(dists, "float64"))

    return _keyed_state(
        ticks, step, ("dist",), PRICES_STATE_SCHEMA, ([],), ttl_ms, keep_unkeyed=False
    ).select("id", "symbol", "ts", "dist")
