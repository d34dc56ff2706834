"""Workload ``backfill``: the analyst's history job, batch only.

A seeded parquet tick table (``TICKS`` rows, the same symbol law as
``live_alerts``: Zipf(1.0) over ``SYMBOLS`` symbols plus planted ones
around the alert threshold) is written once per run, untimed.  One pass
is three parts, each written to the ``noop`` sink:

1. ``TickStream.from_parquet → clean → moving_average(5) →
   with_alert_flag`` (``operators/core``);
2. ``finance.macd`` over the cleaned ticks (a ``mapInPandas`` fold);
3. hourly ``finance.ohlc_bars`` and ``finance.vwap``.

Each action carries an ``Observation`` (row count, and alert count for
part 1), so every pass is checked against counts computed with numpy
from the generated table.  After the window, the MA and MACD values of
a few sampled symbols are collected once and compared with
``reference.lag_chain_ma`` (bit for bit) and ``reference.macd_ref``.

Set-up (``get_spark`` → first pass) runs ``SETUPS`` times with the
session stopped in between; ``setup_s`` is the median.  The JVM and
this process live on between set-ups, so only the first launches the
JVM and the median is a warm set-up.  After
``WARMUP_PASSES`` more, measured passes run until ``--seconds`` have
passed and at least ``MIN_PASSES`` are done; ``latency_p50_s`` is the
median pass time.
"""

from __future__ import annotations

import os
import time

import numpy as np

from perfbench import gen, procstat, reference
from perfbench.trace import group_work

TICKS = 100_000
SYMBOLS = 2000
HOT = 5
HOT_SHARE = 0.015
SETUPS = 3
MIN_PASSES = 5
#: unmeasured (but checked) passes before the window: the first passes on
#: a fresh session still start Python workers and load generated classes
WARMUP_PASSES = 1
#: seconds between consecutive ticks: the table spans about 3 weeks,
#: so hourly bars have many buckets per symbol
TICK_SPACING_US = 3_000_000
T0_US = 1_700_000_000_000_000
#: parquet files the table is split into
TABLE_FILES = 4
BAR = "1 hour"
MACD_RTOL = 1e-9


def make_table(seed: int) -> dict[str, np.ndarray]:
    """The generated ticks as numpy columns, in ts order."""
    rng = np.random.default_rng([seed, 1 << 20])
    sym, price, vol = gen.draw_ticks(rng, TICKS, SYMBOLS, HOT, HOT_SHARE)
    return {
        "sym": sym,
        "price": price / gen.PRICE_SCALE,
        "volume": vol,
        "ts_us": T0_US + np.arange(TICKS, dtype=np.int64) * TICK_SPACING_US,
    }


def write_table(tab: dict[str, np.ndarray], path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    names = np.array(gen.symbol_names(SYMBOLS, HOT), dtype=object)
    os.makedirs(path)
    for i, part in enumerate(np.array_split(np.arange(TICKS), TABLE_FILES)):
        pq.write_table(
            pa.table(
                {
                    "id": pa.array([f"{j:09d}" for j in part], pa.string()),
                    "symbol": pa.array(names[tab["sym"][part]], pa.string()),
                    "price": pa.array(tab["price"][part], pa.float64()),
                    "volume": pa.array(tab["volume"][part], pa.int64()),
                    "ts": pa.array(tab["ts_us"][part], pa.timestamp("us")),
                    "source": pa.array(["backfill"] * len(part), pa.string()),
                }
            ),
            os.path.join(path, f"part-{i}.parquet"),
        )


def expected_counts(tab: dict[str, np.ndarray]) -> dict[str, int]:
    """Row counts every pass must report."""
    order = np.argsort(tab["sym"], kind="stable")  # ts order within symbol
    sym, price = tab["sym"][order], tab["price"][order]
    bounds = np.flatnonzero(np.diff(sym)) + 1
    alerts = 0
    for prices in np.split(price, bounds):
        ma = reference.lag_chain_ma(prices)
        alerts += int(np.count_nonzero(ma > reference.THRESHOLD))
    hour = tab["ts_us"] // 3_600_000_000
    bars = len(np.unique(tab["sym"].astype(np.int64) * (1 << 32) + hour))
    return {"rows": len(tab["sym"]), "alerts": alerts, "bars": bars}


def _pass(ctx, spark, path: str, tag: str) -> tuple[dict[str, int], dict[str, float]]:
    """One pass: three parts to the noop sink.  Returns the observed
    counts and each part's wall time."""
    from pyspark.sql import Observation, functions as F

    from financial_data_stream_processing_engine_spark.operators import finance
    from financial_data_stream_processing_engine_spark.stream_api import TickStream

    tr = ctx.tracer
    sc = spark.sparkContext
    counts, times = {}, {}

    def action(part: str, df, **aggs):
        obs = Observation(f"{part}_{tag}")
        if tr.enabled:
            sc.setJobGroup(f"perfbench-{part}", part)
        df.observe(obs, *[a.alias(k) for k, a in aggs.items()]).write.format("noop").mode(
            "overwrite"
        ).save()
        for k, v in obs.get.items():
            counts[f"{part}.{k}"] = v

    def timed(part: str, fn) -> None:
        t = time.perf_counter()
        with tr.span(f"operators.{part}"):
            fn()
        times[part] = time.perf_counter() - t

    ticks = TickStream.from_parquet(spark, path).clean()
    timed("core.ma", lambda: action(
        "ma",
        ticks.moving_average(n=reference.WINDOW).with_alert_flag(reference.THRESHOLD).df,
        rows=F.count(F.lit(1)),
        alerts=F.count_if(F.col("alert")),
    ))
    timed("finance.macd", lambda: action(
        "macd", finance.macd(ticks.df, order_by=("ts", "id")), rows=F.count(F.lit(1))
    ))

    def bars() -> None:
        action("bars", finance.ohlc_bars(ticks.df, bucket=BAR), rows=F.count(F.lit(1)))
        action("vwap", finance.vwap(ticks.df, bucket=BAR), rows=F.count(F.lit(1)))

    timed("finance.bars", bars)
    return counts, times


def _pass_ok(counts: dict[str, int], want: dict[str, int]) -> bool:
    return (
        counts.get("ma.rows") == want["rows"]
        and counts.get("ma.alerts") == want["alerts"]
        and counts.get("macd.rows") == want["rows"]
        and counts.get("bars.rows") == want["bars"]
        and counts.get("vwap.rows") == want["bars"]
    )


def check_values(spark, path: str, tab: dict[str, np.ndarray], symbols: list[int]) -> int:
    """Collect MA and MACD for ``symbols`` and compare with the numpy
    references; returns the number of mismatched symbols."""
    from pyspark.sql import functions as F

    from financial_data_stream_processing_engine_spark.operators import finance
    from financial_data_stream_processing_engine_spark.stream_api import TickStream

    names = gen.symbol_names(SYMBOLS, HOT)
    picked = [names[s] for s in symbols]
    ticks = TickStream.from_parquet(spark, path).clean()
    ma = (
        ticks.moving_average(n=reference.WINDOW).df.filter(F.col("symbol").isin(picked))
        .select("symbol", "ts", "moving_average").orderBy("symbol", "ts").collect()
    )
    macd = (
        finance.macd(ticks.df.filter(F.col("symbol").isin(picked)), order_by=("ts", "id"))
        .select("symbol", "ts", "macd", "macd_signal", "macd_histogram")
        .orderBy("symbol", "ts").collect()
    )
    bad = 0
    for s, name in zip(symbols, picked):
        prices = tab["price"][tab["sym"] == s]
        want_ma = reference.lag_chain_ma(prices)
        got_ma = np.array(
            [np.nan if r.moving_average is None else r.moving_average for r in ma if r.symbol == name]
        )
        want = np.column_stack(reference.macd_ref(prices))
        got = np.array([(r.macd, r.macd_signal, r.macd_histogram) for r in macd if r.symbol == name])
        ok = (
            got_ma.shape == want_ma.shape
            and np.array_equal(got_ma, want_ma, equal_nan=True)
            and got.shape == want.shape
            and np.allclose(got, want, rtol=MACD_RTOL, atol=MACD_RTOL)
        )
        bad += not ok
    return bad


def run(ctx) -> dict:
    from financial_data_stream_processing_engine_spark.session import get_spark

    path = os.path.join(ctx.workdir, "ticks")
    tab = make_table(ctx.seed)
    write_table(tab, path)
    want = expected_counts(tab)
    tr = ctx.tracer
    attempted = failed = 0
    setups = []
    spark = None
    for i in range(SETUPS):
        if spark is not None:
            with tr.span("session.stop"):
                spark.stop()
        t = time.perf_counter()
        with tr.span("setup"):
            with tr.span("session.get_spark"):
                spark = get_spark(master=ctx.master)
            counts, _ = _pass(ctx, spark, path, f"setup{i}")
        setups.append(time.perf_counter() - t)
        attempted += 1
        failed += not _pass_ok(counts, want)

    try:
        with tr.span("warmup"):
            for i in range(WARMUP_PASSES):
                counts, _ = _pass(ctx, spark, path, f"warmup{i}")
                attempted += 1
                failed += not _pass_ok(counts, want)
        jobs_before = {p: group_work(spark.sparkContext, f"perfbench-{p}")[0]
                       for p in ("ma", "macd", "bars", "vwap")}
        passes: list[dict[str, float]] = []
        cpu0 = procstat.snapshot()
        t_end = time.perf_counter() + ctx.seconds
        with tr.span("window"):
            while time.perf_counter() < t_end or len(passes) < MIN_PASSES:
                counts, times = _pass(ctx, spark, path, f"w{len(passes)}")
                passes.append(times)
                attempted += 1
                failed += not _pass_ok(counts, want)
        cpu = procstat.delta(cpu0, procstat.snapshot())
        layers = {}
        if tr.enabled:
            layers = _layers(spark, passes, jobs_before)
        with tr.span("check_values"):
            top, hot, mid = 0, SYMBOLS, SYMBOLS // 10
            bad = check_values(spark, path, tab, [top, hot, mid])
    finally:
        spark.stop()

    pass_s = [sum(p.values()) for p in passes]
    pct, tail, n = reference.tail_percentile(pass_s)
    ctx.note(
        "backfill", ticks=TICKS, passes=len(passes), pass_s=[round(x, 3) for x in pass_s],
        setups=[round(s, 3) for s in setups], expected=want, failed_passes=failed,
        bad_value_symbols=bad, tail_percentile=pct, tail_samples=n, cpu=cpu,
    )
    if tr.enabled:
        layers.update({
            **procstat.role_metrics(cpu),
            "setup.cold_s": setups[0],
            "session.get_spark_s": reference.median(tr.durations("session.get_spark")),
            "session.get_spark_cold_s": tr.durations("session.get_spark")[0],
        })
    return {
        "correct": failed == 0 and bad == 0,
        "attempted": attempted + 1,  # the sampled-value check is one more
        "failed": failed + (1 if bad else 0),
        "e2e": {
            "setup_s": reference.median(setups),
            "latency_p50_s": reference.median(pass_s),
            "latency_tail_s": tail,
            "cpu_s_per_mtick": procstat.engine_seconds(cpu) / (len(passes) * TICKS) * 1e6,
        },
        "layers": layers,
    }


def _layers(spark, passes, jobs_before) -> dict:
    """Per-part wall times (medians over the window's passes) and the
    jobs and tasks each part ran in the window (traced runs only)."""
    med = reference.median
    work = {p: group_work(spark.sparkContext, f"perfbench-{p}", jobs_before[p])
            for p in jobs_before}
    n = len(passes)
    return {
        "operators.core.ma_s": med([p["core.ma"] for p in passes]),
        "operators.finance.macd_s": med([p["finance.macd"] for p in passes]),
        "operators.finance.bars_s": med([p["finance.bars"] for p in passes]),
        "operators.core.jobs": len(work["ma"][0]) / n,
        "operators.core.tasks": work["ma"][1] / n,
        "operators.finance.jobs": sum(len(work[p][0]) for p in ("macd", "bars", "vwap")) / n,
        "operators.finance.tasks": sum(work[p][1] for p in ("macd", "bars", "vwap")) / n,
    }
