"""Workload ``live_alerts``: the trader's path, open loop.

The product path end to end: AlphaVantage-shaped parquet files land in
the ``LiveEngine`` spool (``spool_dir=``) → ``normalize_alpha_vantage``
→ ``clean`` → ``streaming_moving_average`` → ``_fanout`` → ``on_alert``.
The engine runs with its default configuration.  Its AlphaVantage
poller gets a fetch stub that always returns the rate-limit payload, so
it writes nothing; the WebSocket and CSV mock rate sources are off,
because the benchmark could not stamp or check their ticks.

Timeline of one run:

1. Set up ``SETUPS`` times: ``get_spark`` → ``LiveEngine.start`` on a
   fresh spool and checkpoint → one priming file → wait for its epoch.
   Between set-ups the engine and the session are stopped, but the JVM
   and this process live on: only the first set-up launches the JVM,
   so ``setup_s``, the median, is a warm set-up.
2. Measured window, on the last engine: one burst.  The load generator
   (``gen.py``, its own process) writes ``seconds / gen.INTERVAL``
   files at ``gen.RATE`` ticks/s; the window ends when all its ticks
   have been delivered (the ``logger``'s epoch row counts add up and
   that epoch has committed).  One data batch picks up the whole burst,
   so the latencies are one batch cycle seen from each tick's due time.
3. Check every alert against ``reference.expected_alerts``.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import re
import subprocess
import sys
import threading
import time

from perfbench import gen, procstat, reference
from perfbench.trace import ProgressLog, group_work

SETUPS = 3
PRIME_ROWS = 100
DRAIN_TIMEOUT_S = 90.0

_EPOCH = re.compile(r"epoch=(\d+) rows=(\d+)")


class _Observer:
    """The engine's ``on_alert`` and ``logger`` callbacks.  Spark calls
    them from its foreachBatch thread; the benchmark thread polls."""

    def __init__(self, tracer) -> None:
        self.tracer = tracer
        self.parent: int | None = None  # span the callbacks belong to
        self.lock = threading.Lock()
        self.rows = 0
        self.epochs = 0
        self.last_epoch = -1
        self.timeline: list[tuple[float, int]] = []  # (logged at, rows)
        self.alerts: list[tuple[float, str, int, float]] = []
        self.suppressed = 0

    def on_alert(self, rows, n_suppressed: int) -> None:
        now = time.time()
        with self.tracer.span("engine.on_alert", parent=self.parent):
            got = [(now, r.symbol, _ts_us(r.ts), r.moving_average) for r in rows]
            with self.lock:
                self.alerts.extend(got)
                self.suppressed += n_suppressed

    def logger(self, line: str) -> None:
        with self.tracer.span("engine.logger", parent=self.parent):
            m = _EPOCH.match(line)
            if m:
                with self.lock:
                    self.rows += int(m.group(2))
                    self.epochs += 1
                    self.last_epoch = int(m.group(1))
                    self.timeline.append((time.time(), int(m.group(2))))

    def wait_rows(self, n: int, timeout_s: float, query=None) -> bool:
        """Wait until ``n`` rows have been logged.  With ``query``, also
        wait until that epoch has finished: the engine logs an epoch's
        row count before it calls ``on_alert``."""
        deadline = time.time() + timeout_s
        epoch = None
        while time.time() < deadline:
            if epoch is None:
                with self.lock:
                    if self.rows >= n:
                        epoch = self.last_epoch
            if epoch is not None:
                if query is None or (query.lastProgress or {}).get("batchId", -1) >= epoch:
                    return True
            time.sleep(0.005)
        return False


def _ts_us(ts) -> int:
    """A collected TimestampType value (naive, process-local time; the
    benchmark runs with TZ=UTC) as epoch microseconds."""
    return (ts - dt.datetime(1970, 1, 1)) // dt.timedelta(microseconds=1)


def _rate_limited(url: str, timeout_s: float) -> dict:
    return {"Note": "API call frequency exceeded (benchmark stub)"}


def _start_engine(ctx, tag: str):
    """One set-up: session, engine start, priming epoch.  Returns
    ``(spark, engine, observer, spool dir, seconds taken)``."""
    from financial_data_stream_processing_engine_spark.engine import LiveEngine
    from financial_data_stream_processing_engine_spark.session import get_spark
    from financial_data_stream_processing_engine_spark.sources.alpha_vantage import (
        AlphaVantageSource,
    )

    spool = ctx.fresh_dir(f"spool-{tag}")
    ckpt = ctx.fresh_dir(f"ckpt-{tag}")
    obs = _Observer(ctx.tracer)
    t0 = time.perf_counter()
    with ctx.tracer.span("setup") as sid:
        obs.parent = sid
        with ctx.tracer.span("session.get_spark"):
            spark = get_spark(master=ctx.master)
        engine = LiveEngine(
            spark,
            av_source=AlphaVantageSource(api_key="benchmark", fetch=_rate_limited),
            on_alert=obs.on_alert,
            logger=obs.logger,
            ws_rows_per_second=0,
            csv_rows_per_second=0,
            keep_recent=0,
            spool_dir=spool,
        )
        with ctx.tracer.span("engine.start"):
            engine.start(checkpoint_dir=ckpt)
        now = int(time.time() * 1e6)
        prime = [(f"PRIME{i}", "100.0000", "1") for i in range(PRIME_ROWS)]
        gen.write_spool_file(spool, "prime.parquet", prime, [now + i for i in range(PRIME_ROWS)])
        with ctx.tracer.span("engine.first_epoch"):
            if not obs.wait_rows(PRIME_ROWS, DRAIN_TIMEOUT_S):
                raise RuntimeError("live_alerts: the priming epoch never arrived")
    return spark, engine, obs, spool, time.perf_counter() - t0


def _stop(ctx, spark, engine) -> None:
    with ctx.tracer.span("engine.stop"):
        engine.stop()
    with ctx.tracer.span("session.stop"):
        spark.stop()


def run(ctx) -> dict:
    setups = []
    spark = engine = None
    for i in range(SETUPS):
        if engine is not None:
            _stop(ctx, spark, engine)
        spark, engine, obs, spool, took = _start_engine(ctx, str(i))
        setups.append(took)
    try:
        return _measure(ctx, spark, engine, obs, spool, setups)
    finally:
        _stop(ctx, spark, engine)


def _measure(ctx, spark, engine, obs, spool, setups) -> dict:
    files = max(1, int(round(ctx.seconds / gen.INTERVAL)))
    n_ticks = files * gen.PER_FILE
    query = engine.query
    # the burst starts as the priming epoch commits: under the default
    # state TTL the engine then begins a no-data batch (they run back to
    # back), so every run meets the engine in the same phase
    if not obs.wait_rows(PRIME_ROWS, DRAIN_TIMEOUT_S, query):
        raise RuntimeError("live_alerts: the priming epoch never committed")
    progress = None
    if ctx.tracer.enabled:
        progress = ProgressLog()
        spark.streams.addListener(progress)
    first_batch = obs.last_epoch + 1
    run_id = str(query.runId)
    jobs_before, _ = group_work(spark.sparkContext, run_id)

    t0_us = int((time.time() + 0.1) * 1e6)
    proc = subprocess.Popen([
        sys.executable, os.path.join(ctx.here, "gen.py"),
        "--spool", spool, "--seed", str(ctx.seed), "--t0-us", str(t0_us), "--files", str(files),
    ], stdout=subprocess.PIPE, text=True)
    tagged = {proc.pid: "gen"}
    try:
        with ctx.tracer.span("window") as wid:
            obs.parent = wid
            cpu0 = procstat.snapshot(tagged=tagged)
            # read to EOF without reaping: a reaped generator's CPU
            # would move into this process's cutime before the last snapshot
            gen_out = proc.stdout.read()
            drained = obs.wait_rows(PRIME_ROWS + n_ticks, DRAIN_TIMEOUT_S, query)
            cpu = procstat.delta(cpu0, procstat.snapshot(tagged=tagged))
        window_s = time.time() - t0_us / 1e6
    finally:
        proc.stdout.close()
        if proc.wait(timeout=30) != 0:
            raise RuntimeError(f"live_alerts: generator exited with {proc.returncode}")
    lag_s_max = json.loads(gen_out.strip().splitlines()[-1])["lag_s_max"]

    # -- correctness: every expected alert, bit for bit --------------------
    ticks = [
        (sym, float(price), gen.due_us(t0_us, k * gen.PER_FILE + j))
        for k in range(files)
        for j, (sym, price, _vol) in enumerate(gen.file_ticks(ctx.seed, k))
    ]
    expected = reference.expected_alerts(ticks)
    with obs.lock:
        alerts = list(obs.alerts)
        rows_seen, suppressed = obs.rows, obs.suppressed
    delivered: dict[tuple[str, int], float] = {}
    duplicates = 0
    latencies = []
    for t, sym, ts, ma in alerts:
        key = (sym, ts)
        if key in delivered:
            duplicates += 1
            continue
        delivered[key] = ma
        if key in expected:
            latencies.append(t - ts / 1e6)  # delivery − due time
    check = reference.check_alerts(expected, delivered)
    rows_ok = drained and rows_seen == PRIME_ROWS + n_ticks
    correct = (
        rows_ok and check["failed"] == 0 and check["unexpected"] == 0
        and duplicates == 0 and suppressed == 0 and len(latencies) > 0
    )
    ctx.note(
        "live_alerts", ticks=n_ticks, files=files, rows_seen=rows_seen, epochs=obs.epochs,
        duplicates=duplicates, suppressed=suppressed, latency_samples=len(latencies),
        window_s=round(window_s, 3), setups=[round(s, 3) for s in setups],
        gen_lag_s_max=round(lag_s_max, 4), cpu=cpu,
        epoch_timeline=[(round(t - t0_us / 1e6, 3), n) for t, n in obs.timeline], **check,
    )
    if not latencies:
        latencies = [window_s]  # nothing delivered: report the window
    pct, tail, n = reference.tail_percentile(latencies)
    ctx.note("live_alerts", tail_percentile=pct, tail_samples=n)
    e2e = {
        "setup_s": reference.median(setups),
        "latency_p50_s": reference.median(latencies),
        "latency_tail_s": tail,
        "cpu_s_per_mtick": procstat.engine_seconds(cpu) / n_ticks * 1e6,
    }
    layers = {}
    if ctx.tracer.enabled:
        layers = _layers(ctx, spark, query, progress, first_batch, run_id, jobs_before)
        layers.update({
            **procstat.role_metrics(cpu),
            "setup.cold_s": setups[0],
            "gen.lag_s_max": lag_s_max,
            "engine.alerts_delivered": len(alerts),
            "engine.alerts_suppressed": suppressed,
        })
    return {
        "correct": correct,
        "attempted": check["attempted"],
        "failed": check["failed"] + (0 if rows_ok else 1),
        "e2e": e2e,
        "layers": layers,
    }


def _layers(ctx, spark, query, progress, first_batch, run_id, jobs_before) -> dict:
    """Per-layer numbers of the measured window (traced runs only)."""
    med = reference.median
    time.sleep(0.5)  # let the listener bus deliver the last progress events
    events = [p for p in progress.progress if p["id"] == str(query.id) and p["batchId"] >= first_batch]
    data = [p for p in events if p["numInputRows"] > 0] or events or [{}]

    def phase(p, name):
        return p.get("durationMs", {}).get(name, 0)

    def state(p, name):
        ops = p.get("stateOperators") or [{}]
        return sum(op.get(name, 0) for op in ops)

    jobs, tasks = group_work(spark.sparkContext, run_id, exclude=jobs_before)
    n_batches = max(1, len(events))
    tr = ctx.tracer
    out = {
        "session.get_spark_s": med(tr.durations("session.get_spark")),
        "session.get_spark_cold_s": tr.durations("session.get_spark")[0],
        "engine.start_s": med(tr.durations("engine.start")),
        "engine.first_epoch_s": med(tr.durations("engine.first_epoch")),
        "streaming.batches": len(events),
        "streaming.data_batches": sum(1 for p in events if p["numInputRows"] > 0),
        "engine.jobs_per_batch": len(jobs) / n_batches,
        "engine.tasks_per_batch": tasks / n_batches,
        "streaming.state_partitions": (
            max((state(p, "numShufflePartitions") for p in data), default=0)),
        "sources.input_rows_per_batch_p50": med([p.get("numInputRows", 0) for p in data]),
        "streaming.state_rows": max(state(p, "numRowsTotal") for p in data),
        "streaming.state_memory_bytes": max(state(p, "memoryUsedBytes") for p in data),
        "streaming.state_update_ms_p50": med([state(p, "allUpdatesTimeMs") for p in data]),
        "streaming.state_commit_ms_p50": med([state(p, "commitTimeMs") for p in data]),
    }
    for name in ("addBatch", "queryPlanning", "walCommit", "commitOffsets", "triggerExecution"):
        out[f"streaming.{name}_ms_p50"] = med([phase(p, name) for p in data])
    for name in ("latestOffset", "getBatch"):
        out[f"sources.{name}_ms_p50"] = med([phase(p, name) for p in data])
    out["engine.on_alert_ms_p50"] = med(tr.durations("engine.on_alert") or [0.0]) * 1e3
    return out
