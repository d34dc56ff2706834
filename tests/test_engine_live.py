"""End-to-end test of the live orchestrator (E1).

Drives LiveEngine exactly like the reference's main_simulation
(financial_engine.py:435-448) but with a canned AlphaVantage fetcher —
no network — and asserts the reference's observable behavior: all three
sources flow through ONE pipeline, the shared moving average fires
alerts above the threshold, and the logging observer sees epochs.

Note: no processAllAvailable here — rate sources generate continuously,
so a synchronous drain never settles; the test polls the observers
while the engine free-runs, which is exactly how the reference's demo
behaves.
"""

from __future__ import annotations

import dataclasses
import itertools
import os
import time

import pytest

from financial_data_stream_processing_engine_spark import engine as engine_module
from financial_data_stream_processing_engine_spark.config import DEFAULT_CONFIG
from financial_data_stream_processing_engine_spark.engine import LiveEngine
from financial_data_stream_processing_engine_spark.sources.alpha_vantage import AlphaVantageSource

pytestmark = pytest.mark.usefixtures("spark")


def _canned_fetch(url: str, timeout_s: float) -> dict:
    # valid GLOBAL_QUOTE payload; price above the 108.0 alert threshold
    # so AV rows participate in alerting once the window fills
    sym = "IBM" if "symbol=IBM" in url else "MSFT"
    return {
        "Global Quote": {
            "01. symbol": sym,
            "05. price": "200.10",
            "06. volume": "1234",
        }
    }


def test_live_engine_end_to_end(spark, tmp_path):
    cfg = dataclasses.replace(
        DEFAULT_CONFIG,
        # WS symbols disjoint from the canned AV symbols (IBM/MSFT):
        # MA state is shared across sources per symbol (U1), so a WS
        # row on IBM would legitimately inherit AV's high average and
        # alert with source=WebSocketMock.
        symbols=("EURUSD", "GBPUSD", "USDJPY"),
        av_poll_interval_s=0.05,
    )
    alerts: list = []
    logs: list[str] = []
    engine = LiveEngine(
        spark,
        config=cfg,
        av_source=AlphaVantageSource(api_key="test", fetch=_canned_fetch),
        on_alert=lambda rows, n_suppressed: alerts.extend(rows),
        logger=logs.append,
        ws_rows_per_second=50,
        csv_rows_per_second=50,
    )
    engine.start(checkpoint_dir=str(tmp_path / "ckpt"))
    try:
        deadline = time.time() + 120
        want = {"WebSocketMock", "CSVMock", "AlphaVantage"}
        while time.time() < deadline:
            if want <= {r["source"] for r in engine.recent} and alerts:
                break
            time.sleep(0.5)
    finally:
        engine.stop()

    sources_seen = {r["source"] for r in engine.recent}
    assert want <= sources_seen, f"sources seen: {sources_seen}"
    # alert observer: only rows whose shared-state MA cleared the bar
    assert alerts, "no alerts fired"
    assert all(r["moving_average"] > cfg.price_alert_threshold for r in alerts)
    # CSV mock prices (205..880) and the canned AV price (200.10) alert;
    # WS mock prices (1..101) never can
    assert all(r["source"] in ("CSVMock", "AlphaVantage") for r in alerts)
    # logging observer saw epochs (INFO level)
    assert any(l.startswith("epoch=") for l in logs)
    # lifecycle: stop() is idempotent and the query is gone
    engine.stop()
    assert engine.query is None


def test_start_with_every_source_disabled_raises(spark):
    """With no rate source and no AlphaVantage source there is nothing
    to union: ``start()`` refuses, and no query is left running."""
    engine = LiveEngine(spark, ws_rows_per_second=0, csv_rows_per_second=0)
    with pytest.raises(ValueError, match="every source is disabled"):
        engine.start()
    assert engine.query is None


def _state_partitions_of(query) -> int:
    """The state partition count a query ran with, read from its
    progress (the first batch that reports a state operator)."""
    for p in query.recentProgress:
        if p["stateOperators"]:
            return p["stateOperators"][0]["numShufflePartitions"]
    raise AssertionError("no progress reported a state operator")


def _restart_across_checkpoint(spark, tmp_path, monkeypatch=None, phase1_partitions=None):
    """Kill the engine mid-stream, restart from the same checkpoint +
    spool dir, and prove (a) exactly-once delivery across the restart —
    no row lost, none duplicated — and (b) the keyed MA ring buffer
    survived: the first windows after restart average over prices
    delivered BEFORE the restart.  With ``phase1_partitions``, phase 1
    runs with the state partition rule patched to return it.  Returns
    each phase's state partition count."""
    cfg = dataclasses.replace(DEFAULT_CONFIG, av_poll_interval_s=0.02)
    counter = itertools.count()

    def fetch(url: str, timeout_s: float) -> dict:
        i = next(counter)
        return {
            "Global Quote": {
                "01. symbol": "IBM",
                "05. price": f"{100 + i}.00",
                "06. volume": "10",
            }
        }

    spool = str(tmp_path / "spool")
    os.makedirs(spool)
    ckpt = str(tmp_path / "ckpt")
    n = cfg.moving_average_window

    def run_phase(min_rows: int) -> tuple[list, int]:
        engine = LiveEngine(
            spark,
            config=cfg,
            av_source=AlphaVantageSource(api_key="test", fetch=fetch, symbols=("IBM",)),
            ws_rows_per_second=0,
            csv_rows_per_second=0,
            spool_dir=spool,
        )
        engine.start(checkpoint_dir=ckpt)
        query = engine.query
        deadline = time.time() + 120
        while time.time() < deadline and len(engine.recent) < min_rows:
            time.sleep(0.25)
        engine.drain_and_stop()
        return engine.recent, _state_partitions_of(query)

    if phase1_partitions is not None:
        monkeypatch.setattr(engine_module, "_state_partitions", lambda s: phase1_partitions)
    phase1, parts1 = run_phase(n + 3)
    if phase1_partitions is not None:
        monkeypatch.undo()
    phase2, parts2 = run_phase(3)
    assert len(phase1) >= n + 3, f"phase 1 produced {len(phase1)} rows"
    assert len(phase2) >= 3, f"phase 2 produced {len(phase2)} rows"

    rows = phase1 + phase2
    prices = [r["price"] for r in rows]
    # exactly-once across the restart: nothing duplicated, nothing lost
    assert len(set(prices)) == len(prices), "row delivered twice across restart"
    ordered = sorted(rows, key=lambda r: r["price"])
    assert [r["price"] for r in ordered] == [float(100 + i) for i in range(len(rows))]
    # the MA ring buffer crossed the restart: every full window is the
    # mean of the n consecutive prices ending at the row — including
    # the windows that span the shutdown boundary
    for i, r in enumerate(ordered):
        if i < n - 1:
            assert r["moving_average"] is None
        else:
            exp = sum(float(100 + j) for j in range(i - n + 1, i + 1)) / n
            assert r["moving_average"] == pytest.approx(exp, rel=1e-12)
    # the boundary was actually exercised: phase 2 started deep enough
    # that its first full window reaches back into phase-1 prices
    assert min(r["price"] for r in phase2) > 100.0 + (n - 1)
    return parts1, parts2


def test_checkpoint_recovery_resumes_ma_state(spark, tmp_path):
    """Exactly-once delivery and the MA ring buffer survive a restart
    from the same checkpoint + spool dir.  The reference drops
    in-flight rows on shutdown (financial_engine.py:397-416); this is
    the stronger semantics SURVEY §3.3 claims."""
    _restart_across_checkpoint(spark, tmp_path)


def test_fresh_start_sizes_state_to_slots_for_its_query_only(spark, tmp_path):
    """A fresh checkpoint gets one state partition per task slot, while
    the caller's session keeps its own shuffle partition count."""
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    spark.conf.set(key, "32")
    engine = LiveEngine(
        spark,
        ws_rows_per_second=20,
        csv_rows_per_second=0,
    )
    try:
        engine.start(checkpoint_dir=str(tmp_path / "ckpt"))
        assert spark.conf.get(key) == "32"
        deadline = time.time() + 60
        while time.time() < deadline and not engine.recent:
            time.sleep(0.25)
        query = engine.query
    finally:
        engine.stop()
        spark.conf.set(key, before)
    assert engine.recent, "engine produced no rows"
    # the local[4] fixture: 4 slots
    assert _state_partitions_of(query) == spark.sparkContext.defaultParallelism == 4


def test_restart_keeps_checkpointed_state_partitions(spark, tmp_path, monkeypatch):
    """A checkpoint written with 32 state partitions (the count before
    it followed the slots) restarts with 32, and the MA still crosses
    the restart boundary exactly."""
    parts1, parts2 = _restart_across_checkpoint(
        spark, tmp_path, monkeypatch, phase1_partitions=32
    )
    assert (parts1, parts2) == (32, 32)


def test_fanout_quiet_epoch_is_one_action(spark):
    """A quiet epoch (no alerts, recent tap full) costs exactly one
    action — the combined count/count_if aggregate.  AQE is pinned off
    here so one action maps to exactly one tracked job; a second job
    would mean an extra count/collect sneaked back in."""
    logs: list[str] = []
    engine = LiveEngine(
        spark,
        config=dataclasses.replace(DEFAULT_CONFIG, log_level="INFO"),
        on_alert=lambda rows, n_suppressed: pytest.fail("no alerts expected"),
        logger=logs.append,
        keep_recent=0,
    )
    batch = spark.createDataFrame(
        [("EURUSD", 1.0), ("GBPUSD", 2.0)], "symbol string, moving_average double"
    )
    sc = spark.sparkContext
    aqe_before = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    sc.setJobGroup("fanout_quiet", "quiet epoch")
    try:
        engine._fanout(batch, epoch_id=0)
    finally:
        sc.setJobGroup("", "")
        spark.conf.set("spark.sql.adaptive.enabled", aqe_before)
    jobs = sc.statusTracker().getJobIdsForGroup("fanout_quiet")
    assert len(jobs) == 1, f"expected 1 job (one action) for a quiet epoch, saw {len(jobs)}"
    assert logs == ["epoch=0 rows=2"]


def test_fanout_alert_cap_keeps_payload_typed(spark):
    """When the per-epoch cap trips, every delivered element is still a
    Row and the exact suppressed count arrives out-of-band."""
    calls: list[tuple[list, int]] = []
    engine = LiveEngine(
        spark,
        on_alert=lambda rows, n_suppressed: calls.append((rows, n_suppressed)),
        keep_recent=0,
        max_alerts_per_epoch=3,
    )
    above = DEFAULT_CONFIG.price_alert_threshold + 1.0
    batch = spark.createDataFrame(
        [(f"SYM{i}", above) for i in range(10)],
        "symbol string, moving_average double",
    )
    engine._fanout(batch, epoch_id=7)
    assert len(calls) == 1
    rows, n_suppressed = calls[0]
    assert len(rows) == 3 and n_suppressed == 7
    assert all(hasattr(r, "moving_average") for r in rows)
    assert all(r["moving_average"] > DEFAULT_CONFIG.price_alert_threshold for r in rows)


def test_live_engine_log_level_gates_logging(spark):
    cfg = dataclasses.replace(DEFAULT_CONFIG, log_level="ERROR")
    logs: list[str] = []
    engine = LiveEngine(
        spark, config=cfg, logger=logs.append, ws_rows_per_second=20,
        csv_rows_per_second=20,
    )
    engine.start()
    try:
        deadline = time.time() + 60
        while time.time() < deadline and not engine.recent:
            time.sleep(0.5)
    finally:
        engine.stop()
    assert engine.recent, "engine produced no rows"
    assert logs == []  # LoggingModule is level-gated (reference :93)


def test_stop_raises_the_failure_of_a_dead_query(spark):
    """A query that dies in its first batch (here its logger raises, as
    a refused checkpoint would fail it) is not stopped silently:
    ``stop()`` stops it and raises its failure to the caller."""
    from pyspark.errors import StreamingQueryException

    def logger(line: str) -> None:
        raise RuntimeError("logger refused the epoch")

    engine = LiveEngine(
        spark,
        config=dataclasses.replace(DEFAULT_CONFIG, log_level="INFO"),
        logger=logger,
        ws_rows_per_second=20,
        csv_rows_per_second=0,
    )
    engine.start()
    query = engine.query
    deadline = time.time() + 60
    while time.time() < deadline and query.isActive:
        time.sleep(0.25)
    assert not query.isActive, "the query outlived its failing first batch"
    with pytest.raises(StreamingQueryException, match="logger refused the epoch"):
        engine.stop()
    assert engine.query is None
    engine.stop()  # a stopped engine stops quietly


def test_fanout_busy_epoch_evaluates_rows_once(spark):
    """A BUSY epoch — logging + alerts + recent tap all firing — still
    evaluates each micro-batch row exactly once: the epoch frame is
    persisted before the fan-out, so the alert collect and the recent
    tap read the cache instead of recomputing the pipeline.  An
    accumulator UDF upstream counts actual row evaluations."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import DoubleType

    acc = spark.sparkContext.accumulator(0)

    @F.udf(DoubleType())
    def tap(v):
        acc.add(1)
        return v

    logs: list[str] = []
    alerts: list[tuple[list, int]] = []
    engine = LiveEngine(
        spark,
        config=dataclasses.replace(DEFAULT_CONFIG, log_level="INFO"),
        on_alert=lambda rows, n_suppressed: alerts.append((rows, n_suppressed)),
        logger=logs.append,
        keep_recent=5,
    )
    above = DEFAULT_CONFIG.price_alert_threshold + 1.0
    batch = spark.createDataFrame(
        [(f"SYM{i}", above if i % 2 else 1.0) for i in range(8)],
        "symbol string, moving_average double",
    ).withColumn("moving_average", tap("moving_average"))
    engine._fanout(batch, epoch_id=0)
    assert logs == ["epoch=0 rows=8"]
    assert len(alerts) == 1 and len(alerts[0][0]) == 4 and alerts[0][1] == 0
    assert len(engine.recent) == 5
    assert acc.value == 8, f"rows evaluated {acc.value}x, expected once each"


def test_fanout_console_prints_epoch_and_evaluates_rows_once(spark, capsys):
    """K1 ConsoleNotifier: with ``enable_console`` the epoch's rows are
    printed, and the print reads the persisted epoch, so an upstream
    accumulator still counts each row once."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import DoubleType

    acc = spark.sparkContext.accumulator(0)

    @F.udf(DoubleType())
    def tap(v):
        acc.add(1)
        return v

    engine = LiveEngine(spark, logger=lambda line: None, enable_console=True, keep_recent=0)
    batch = spark.createDataFrame(
        [("EURUSD", 1.25), ("GBPUSD", 2.5), ("USDJPY", 3.75)],
        "symbol string, moving_average double",
    ).withColumn("moving_average", tap("moving_average"))
    engine._fanout(batch, epoch_id=0)
    out = capsys.readouterr().out
    assert "moving_average" in out
    for sym, ma in (("EURUSD", "1.25"), ("GBPUSD", "2.5"), ("USDJPY", "3.75")):
        assert any(sym in line and ma in line for line in out.splitlines()), (sym, out)
    assert acc.value == 3, f"rows evaluated {acc.value}x, expected once each"
