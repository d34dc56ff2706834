"""Streaming-vs-batch parity tests (SURVEY.md §5.2 item 4).

Every test drives a REAL StreamingQuery (file/rate source → memory or
foreachBatch sink) and pins its output to the batch combinators on the
same data — the unified-DataFrame guarantee the engine is built on.
"""

from __future__ import annotations

import datetime as dt
import time

import pytest
from pyspark.sql import functions as F, types as T

from financial_data_stream_processing_engine_spark.operators.core import alerts, moving_average
from financial_data_stream_processing_engine_spark.sources.batch import MOCK_CSV_ROWS
from financial_data_stream_processing_engine_spark.streaming import sources, stateful, windows

TICK_SCHEMA = "id string, symbol string, price double, volume long, ts timestamp, source string"


@pytest.fixture(scope="module")
def tick_dir(spark, tmp_path_factory):
    """~240 deterministic ticks across 3 symbols, written as parquet,
    with NULL and '' symbols sprinkled in (neither takes keyed state)."""
    base = dt.datetime(2024, 3, 1)
    rows = []
    for i in range(240):
        sym = ["AAA", "BBB", "CCC"][i % 3] if i % 17 else None
        if sym and i % 23 == 0:
            sym = ""
        rows.append(
            (
                f"t{i:04d}",
                sym,
                float(50 + (i * 7919) % 100) / 1.0,
                int(i % 50),
                base + dt.timedelta(seconds=13 * i),
                "WebSocketMock",
            )
        )
    df = spark.createDataFrame(rows, TICK_SCHEMA)
    path = str(tmp_path_factory.mktemp("ticks"))
    df.coalesce(1).write.mode("overwrite").parquet(path)
    return path


def _stream(spark, tick_dir):
    return spark.readStream.schema(TICK_SCHEMA).parquet(tick_dir)


def _run_to_memory(df, name, mode="append"):
    q = df.writeStream.format("memory").queryName(name).outputMode(mode).start()
    q.processAllAvailable()
    q.stop()
    return q


_EDGE_KEYS = "symbol IS NULL OR symbol = ''"


def _assert_edge_keys(spark, tick_dir, got, batch_op, cols):
    """Streamed outputs ``got`` (id -> tuple of ``cols``) equal
    ``batch_op`` on the same ticks; NULL and '' symbols come out with
    NULL outputs, and they take no state: every other row equals
    ``batch_op`` over the ticks with those rows removed."""
    batch = spark.read.parquet(tick_dir)

    def run(df):
        return {r.id: tuple(r[c] for c in cols) for r in batch_op(df).collect()}

    full = run(batch)
    without = run(batch.filter(f"NOT ({_EDGE_KEYS})"))
    edge_rows = batch.filter(_EDGE_KEYS).collect()
    assert {r.symbol for r in edge_rows} == {None, ""}
    edge = {r.id for r in edge_rows}
    assert set(got) == set(full) == set(without) | edge
    for k in edge:
        assert got[k] == full[k] == (None,) * len(cols), k
    for k in without:
        assert got[k] == full[k] == without[k], k


def test_stateful_row_count_ma_matches_batch(spark, tick_dir):
    out = stateful.streaming_moving_average(_stream(spark, tick_dir), n=5)
    q = _run_to_memory(out, "ma_stream")
    # NULL/'' symbols ride the same scan as the keyed rows: the source
    # is read once, so Spark counts each input row once
    assert sum(p["numInputRows"] for p in q.recentProgress) == 240
    got = {r.id: r.moving_average for r in spark.table("ma_stream").collect()}

    batch = spark.read.parquet(tick_dir)
    # batch oracle: oldest→newest summation like the streaming deque
    exp_rows = moving_average(batch, n=5, order_by=("ts", "id")).collect()
    exp = {r.id: r.moving_average for r in exp_rows}

    assert set(got) == set(exp)
    for k in exp:
        if exp[k] is None:
            assert got[k] is None, k
        else:
            assert got[k] == pytest.approx(exp[k], rel=1e-12), k
    # NULL- and ''-symbol rows passed through with NULL ma
    edge_ids = {r.id for r in batch.filter(_EDGE_KEYS).collect()}
    assert edge_ids and all(got[i] is None for i in edge_ids)


def test_giant_key_group_matches_batch_bitwise(spark, tmp_path):
    """One key with 10⁵ rows, shuffled in its file, reaches the shell as
    one group of several Arrow chunks in one micro-batch, and streams
    to the batch operator's averages bit for bit.  Prices sit on a
    quarter grid, so every window sum is exact in any order: the
    shell's oldest→newest sum and the batch newest→oldest lag chain
    agree on every bit, which pins the windows and the arrival order."""
    import numpy as np
    import pandas as pd

    n_rows = 100_000
    rng = np.random.default_rng(7)
    pdf = pd.DataFrame({
        "id": [f"g{i:06d}" for i in range(n_rows)],
        "symbol": "GIANT",
        "price": 90.0 + rng.integers(0, 160, n_rows) / 4,
        "volume": 1,
        "ts": pd.Timestamp("2024-03-01") + pd.to_timedelta(np.arange(n_rows), unit="ms"),
        "source": "X",
    }).iloc[rng.permutation(n_rows)]
    path = str(tmp_path / "giant")
    spark.createDataFrame(pdf, TICK_SCHEMA).coalesce(1).write.parquet(path)

    q = _run_to_memory(stateful.streaming_moving_average(_stream(spark, path)), "ma_giant")
    assert [p["numInputRows"] for p in q.recentProgress if p["numInputRows"]] == [n_rows]
    got = spark.table("ma_giant").select("id", F.col("moving_average").alias("got"))
    batch = moving_average(spark.read.parquet(path), n=5, order_by=("ts", "id"))
    want = batch.select("id", F.col("moving_average").alias("want"))
    rows, unequal, nulls = got.join(want, "id", "full").agg(
        F.count(F.lit(1)),
        F.count_if(~F.col("got").eqNullSafe(F.col("want"))),
        F.count_if(F.col("got").isNull()),
    ).first()
    assert (rows, unequal, nulls) == (n_rows, 0, 4)


def test_null_ts_round_trips_through_the_shell(spark, tmp_path):
    """``ts`` crosses the shell's seam as epoch micros: a NULL ``ts``
    comes out NULL and every other one to the microsecond.  The rows
    take their window slots in arrival order (ts, NULL last, ties by
    numeric id; a NULL price takes none), and each average is the
    oldest→newest sum of a Python deque, bit for bit."""
    from collections import deque

    base = dt.datetime(2024, 3, 1, 9, 30, 0, 17)
    spec = [  # id, seconds after base (None: NULL ts), price (None: NULL)
        ("7", 3, 101.13), ("12", None, 99.71), ("3", 1, 100.37),
        ("10", 3, 102.89), ("2", None, 100.01), ("5", 2, None),
        ("1", 0, 98.43), ("11", 4, 103.3), ("4", 1.5, 101.77), ("9", 3, 97.61),
    ]

    def ts(s):
        return None if s is None else base + dt.timedelta(seconds=s)

    rows = [(i, "AAA", p, 1, ts(s), "X") for i, s, p in spec]
    path = str(tmp_path / "null_ts")
    spark.createDataFrame(rows, TICK_SCHEMA).coalesce(1).write.parquet(path)
    out = stateful.streaming_moving_average(_stream(spark, path), n=3)
    assert dict(out.dtypes)["ts"] == "timestamp"
    _run_to_memory(out, "ma_null_ts")
    got = {r.id: (r.ts, r.moving_average) for r in spark.table("ma_null_ts").collect()}

    window, want = deque(maxlen=3), {}
    for i, s, p in sorted(spec, key=lambda r: (r[1] is None, r[1] or 0, int(r[0]))):
        if p is not None:
            window.append(p)
        full = p is not None and len(window) == 3
        want[i] = (ts(s), sum(window) / 3 if full else None)
    assert got == want


def test_tumbling_window_matches_batch(spark, tick_dir):
    stream_out = windows.tumbling_stats(
        _stream(spark, tick_dir), key="symbol", value="price", window="10 minutes"
    )
    _run_to_memory(stream_out, "tumble_stream", mode="complete")
    got = {
        (r.win_start, r.symbol): (r.n, r.total, r.lo, r.hi)
        for r in spark.table("tumble_stream").collect()
    }
    batch_out = windows.tumbling_stats(
        spark.read.parquet(tick_dir), key="symbol", value="price", window="10 minutes"
    )
    exp = {
        (r.win_start, r.symbol): (r.n, r.total, r.lo, r.hi)
        for r in batch_out.collect()
    }
    assert got == exp  # decimal-exact sums → bitwise equality


def test_session_window_matches_batch(spark, tick_dir):
    # ticks are 13s apart per stream; per symbol ~39s apart → gap 60s
    # merges everything, gap 20s splits sessions
    stream_out = windows.session_stats(_stream(spark, tick_dir), gap="30 seconds")
    _run_to_memory(stream_out, "session_stream", mode="complete")
    got = sorted(
        ((r.symbol, r.win_start, r.n) for r in spark.table("session_stream").collect()),
        key=repr,
    )
    exp = sorted(
        (
            (r.symbol, r.win_start, r.n)
            for r in windows.session_stats(
                spark.read.parquet(tick_dir), gap="30 seconds"
            ).collect()
        ),
        key=repr,
    )
    assert got == exp


def _drive_fanout(spark, tick_dir, log_level, on_alert, logger):
    """Run the live engine's observer fan-out as the ``foreachBatch`` of
    a streamed moving average (n=5) over the shared tick stream."""
    from financial_data_stream_processing_engine_spark.config import EngineConfig
    from financial_data_stream_processing_engine_spark.engine import LiveEngine

    engine = LiveEngine(
        spark,
        config=EngineConfig(price_alert_threshold=108.0, log_level=log_level),
        on_alert=on_alert,
        logger=logger,
        keep_recent=0,
    )
    ma = stateful.streaming_moving_average(_stream(spark, tick_dir), n=5)
    q = ma.writeStream.foreachBatch(engine._fanout).start()
    q.processAllAvailable()
    q.stop()


def test_alert_sink_fires_like_batch_filter(spark, tick_dir):
    """The fan-out's alert observer (K3) receives exactly the rows the
    batch ``alerts`` filter selects, with nothing suppressed."""
    collected: list = []
    suppressed: list[int] = []

    def on_alert(rows, n_suppressed):
        collected.extend(rows)
        suppressed.append(n_suppressed)

    _drive_fanout(spark, tick_dir, "ERROR", on_alert, lambda line: None)

    batch_ma = moving_average(spark.read.parquet(tick_dir), n=5, order_by=("ts", "id"))
    expected = {(r.symbol, r.id) for r in alerts(batch_ma, threshold=108.0).collect()}
    assert expected
    assert len(collected) == len(expected)
    assert {(r.symbol, r.id) for r in collected} == expected
    assert all(r.moving_average > 108.0 for r in collected)
    assert sum(suppressed) == 0


def test_logging_sink_respects_log_level(spark, tick_dir):
    """The fan-out's logging observer (K2) writes one line per epoch at
    INFO, whose counts cover every row once, and nothing at ERROR."""
    lines: list[str] = []
    _drive_fanout(spark, tick_dir, "INFO", lambda rows, n: None, lines.append)
    assert lines and all(l.startswith("epoch=") for l in lines)
    assert sum(int(l.split("rows=")[1]) for l in lines) == 240

    lines2: list[str] = []
    _drive_fanout(spark, tick_dir, "ERROR", lambda rows, n: None, lines2.append)
    assert lines2 == []


def test_rate_source_produces_normalized_ticks(spark):
    ticks = sources.rate_ticks(spark, rows_per_second=50)
    assert ticks.isStreaming
    q = ticks.writeStream.format("memory").queryName("rate_ticks_mem").start()
    deadline = time.time() + 15
    while time.time() < deadline and spark.table("rate_ticks_mem").count() < 5:
        time.sleep(0.5)
    q.stop()
    rows = spark.table("rate_ticks_mem").collect()
    assert len(rows) >= 5
    assert {r.source for r in rows} == {"WebSocketMock"}
    assert all(r.price > 0 and r.volume >= 0 for r in rows)


def test_csv_replay_cycles_reference_rows(spark):
    ticks = sources.csv_replay_ticks(spark, rows_per_second=20)
    q = ticks.writeStream.format("memory").queryName("csv_ticks_mem").start()
    deadline = time.time() + 15
    while time.time() < deadline and spark.table("csv_ticks_mem").count() < 6:
        time.sleep(0.5)
    q.stop()
    rows = spark.table("csv_ticks_mem").collect()
    assert len(rows) >= 6
    # the reference's 3 embedded CSV rows, cycled in file order
    # (financial_engine.py:246, :259)
    assert {r.symbol for r in rows} == {"MSFT_mock", "TSLA_mock", "NVDA_mock"}
    assert {r.price for r in rows} == {205.50, 880.10, 550.25}
    for r in rows:
        assert r.source == "CSVMock"
        symbol, price, volume = MOCK_CSV_ROWS[int(r.id.removeprefix("CSVMock_")) % 3]
        assert (r.symbol, r.price, r.volume) == (symbol, float(price), int(volume))


def test_live_sources_emit_the_tick_columns(spark):
    """The live streams come out in the tick schema's names and types."""
    want = [(f.name, f.dataType) for f in T.StructType.fromDDL(TICK_SCHEMA)]
    for ticks in (sources.rate_ticks(spark), sources.csv_replay_ticks(spark)):
        assert [(f.name, f.dataType) for f in ticks.schema] == want


def test_keyed_state_contract_is_pinned(spark, monkeypatch):
    """The five keyed-state operators' output schemas (every field
    nullable) and state schemas, over normalized, cleaned ticks.  The
    state schemas are the checkpoint contract: a checkpoint written
    under one state schema cannot be resumed under another."""
    from pyspark.sql.pandas.group_ops import PandasGroupedOpsMixin

    from financial_data_stream_processing_engine_spark.operators.core import clean
    from financial_data_stream_processing_engine_spark.sources.batch import (
        normalize_alpha_vantage,
    )

    states = []
    apply = PandasGroupedOpsMixin.applyInPandasWithState

    def record(self, func, **kwargs):
        states.append(kwargs["stateStructType"])
        return apply(self, func, **kwargs)

    monkeypatch.setattr(PandasGroupedOpsMixin, "applyInPandasWithState", record)
    raw = spark.createDataFrame(
        [("IBM", "10.5", "100")], "`01. symbol` string, `05. price` string, `06. volume` string"
    )
    ticks = clean(normalize_alpha_vantage(raw))
    outputs = {
        "moving_average double": stateful.streaming_moving_average(ticks),
        "ewma double": stateful.streaming_ewma(ticks),
        "macd double, macd_signal double, macd_histogram double":
            stateful.streaming_macd(ticks),
        "baseline_mean double, baseline_sd double, zscore double":
            stateful.streaming_zscore_alerts(ticks),
    }
    for added, df in outputs.items():
        assert df.schema == T.StructType.fromDDL(f"{TICK_SCHEMA}, {added}")
    pattern = stateful.streaming_pattern_distance(ticks, [1.0, 2.0, 3.0, 1.0], length=4)
    assert pattern.schema == T.StructType.fromDDL(
        "id string, symbol string, ts timestamp, dist double"
    )
    assert all(f.nullable for df in [*outputs.values(), pattern] for f in df.schema)
    assert states == [
        "prices array<double>, touched_ms long",
        "s double, touched_ms long",
        "ef double, es double, sig double, touched_ms long",
        "prices array<double>, touched_ms long",
        "prices array<double>, touched_ms long",
    ]


def test_stateful_ma_ttl_resets_window_after_idle(spark, tmp_path):
    """A key idle for longer than the TTL loses its window: when it
    returns, its new rows get a NULL MA until ``n`` new prices arrive.
    Expiry is lazy, from the batch time kept in the key's state, so the
    idle query runs no batches; the returning key holds one state row."""
    ttl_ms, n = 1500, 3
    path = str(tmp_path / "ticks")
    base = dt.datetime(2024, 3, 1)

    def append(prices, first):
        rows = [
            (f"t{first + i:04d}", "AAA", p, 1, base + dt.timedelta(seconds=first + i), "X")
            for i, p in enumerate(prices)
        ]
        spark.createDataFrame(rows, TICK_SCHEMA).coalesce(1).write.mode("append").parquet(path)

    def wait_progress(count):
        # until the batches that read ``count`` rows have reported progress
        deadline = time.time() + 60
        while time.time() < deadline and (
            sum(p["numInputRows"] for p in q.recentProgress) < count
        ):
            time.sleep(0.2)

    append([10.0, 20.0, 30.0], 0)
    out = stateful.streaming_moving_average(_stream(spark, path), n=n, ttl_ms=ttl_ms)
    q = out.writeStream.format("memory").queryName("ma_ttl_idle").start()
    try:
        wait_progress(n)
        batches_before_idle = len(q.recentProgress)
        time.sleep(ttl_ms / 1000 + 1.0)
        idle_batches = len(q.recentProgress) - batches_before_idle
        append([40.0, 50.0], n)
        wait_progress(n + 2)
        state_rows = q.lastProgress["stateOperators"][0]["numRowsTotal"]
    finally:
        q.stop()
    got = {r.id: r.moving_average for r in spark.table("ma_ttl_idle").collect()}
    # before the idle gap the window filled; after it the window restarts
    assert got == {"t0000": None, "t0001": None, "t0002": 20.0, "t0003": None, "t0004": None}
    assert idle_batches == 0
    assert state_rows == 1


def test_streaming_macd_matches_batch_fold(spark, tick_dir):
    from financial_data_stream_processing_engine_spark.operators import finance

    out = stateful.streaming_macd(_stream(spark, tick_dir))
    _run_to_memory(out, "macd_stream")
    cols = ("macd", "macd_signal", "macd_histogram")
    got = {
        r.id: tuple(r[c] for c in cols)
        for r in spark.table("macd_stream").collect()
    }
    # bitwise: identical op order; batch macd passes NULL/'' keys through
    _assert_edge_keys(
        spark, tick_dir, got,
        lambda df: finance.macd(
            df, key="symbol", ts_col="ts", price="price", order_by=("ts", "id")
        ),
        cols,
    )


def test_streaming_ewma_matches_batch_fold(spark, tick_dir):
    from financial_data_stream_processing_engine_spark.operators.core import ewma

    out = stateful.streaming_ewma(_stream(spark, tick_dir), alpha=0.2)
    _run_to_memory(out, "ewma_stream")
    got = {r.id: (r.ewma,) for r in spark.table("ewma_stream").collect()}
    # bitwise: the same a·v + b·s update in the same order
    _assert_edge_keys(
        spark, tick_dir, got,
        lambda df: ewma(df, alpha=0.2, order_by=("ts", "id")),
        ("ewma",),
    )


def test_streaming_zscore_alerts_matches_batch(spark, tmp_path):
    import datetime as dt

    from financial_data_stream_processing_engine_spark.operators import finance

    base = dt.datetime(2024, 3, 1)
    prices = [100.0 + 0.1 * (i % 5) for i in range(30)]
    prices[25] = 150.0  # planted >3 sigma spike
    rows = [
        (f"{i:04d}", "AAA", p, 1, base + dt.timedelta(seconds=i), "X")
        for i, p in enumerate(prices)
    ]
    df = spark.createDataFrame(rows, TICK_SCHEMA)
    path = str(tmp_path / "zticks")
    df.coalesce(1).write.parquet(path)

    out = stateful.streaming_zscore_alerts(_stream(spark, path), n=20)
    _run_to_memory(out, "zscore_stream")
    got = {
        int(r.id): (r.baseline_mean, r.baseline_sd, r.zscore)
        for r in spark.table("zscore_stream").collect()
    }

    batch = finance.zscore_anomalies(
        spark.read.parquet(path).selectExpr(
            "CAST(id AS LONG) AS event_id", "symbol", "ts", "price"
        ),
        n=20,
    ).collect()
    exp = {r.event_id: (r.baseline_mean, r.baseline_sd, r.zscore) for r in batch}
    assert set(got) == set(exp) == {25}
    assert got[25] == exp[25]  # bitwise: Decimal-replicated window sums


def test_streaming_pattern_distance_matches_batch_bitwise(spark, sf_dir):
    """Streamed z-normalized distances equal the batch operator's
    bit-for-bit on the shared top-10 (the three-way parity the
    catalog entry's shared oracle certifies)."""
    from financial_data_stream_processing_engine_spark.plans import streaming_queries as sq
    from financial_data_stream_processing_engine_spark.plans.catalog import QUERIES, load_all

    load_all()
    got = {
        (r.symbol, r.event_id): r.dist
        for r in QUERIES["streaming_pattern_match_topk"].fn(spark, sf_dir).collect()
    }
    want = {
        (r.symbol, r.event_id): r.dist
        for r in QUERIES["fin_pattern_match_topk"].fn(spark, sf_dir).collect()
    }
    assert got == want  # exact float equality — bitwise parity


def test_streaming_lm_gate_equals_batch_scoring(spark):
    """The foreachBatch LM gate must produce EXACTLY the batch
    scorer's frame — per-doc scoring under a static model is
    batching-independent."""
    import __spark_entry__ as entrymod
    from financial_data_stream_processing_engine_spark.io_utils import load_table
    from financial_data_stream_processing_engine_spark.operators.lm import (
        lm_quality_score,
    )

    sf_dir = "/root/testdata/sf0.001"
    streamed = entrymod.queries()["streaming_lm_quality_gate"](spark, sf_dir)
    batch = lm_quality_score(load_table(spark, sf_dir, "documents"))
    cols = ["doc_id", "n_bigrams", "n_unseen_bigrams", "mean_tp", "lm_bucket"]
    s = sorted(map(tuple, streamed.select(*cols).collect()))
    b = sorted(map(tuple, batch.select(*cols).collect()))
    assert s == b and len(s) == 500


def test_streaming_nb_gate_equals_batch_classifier(spark):
    """The foreachBatch NB gate must produce EXACTLY the batch
    classifier's frame — per-doc scoring under the static
    localCheckpoint-ed model is batching-independent."""
    import __spark_entry__ as entrymod
    from financial_data_stream_processing_engine_spark.io_utils import load_table
    from financial_data_stream_processing_engine_spark.operators.lm import (
        nb_lang_classifier,
    )

    sf_dir = "/root/testdata/sf0.001"
    streamed = entrymod.queries()["streaming_nb_gate"](spark, sf_dir)
    batch = nb_lang_classifier(load_table(spark, sf_dir, "documents"))
    cols = [
        "doc_id", "n_tokens", "n_oov_tokens", "mean_delta",
        "nb_pred", "label_bin", "is_holdout",
    ]
    s = sorted(map(tuple, streamed.select(*cols).collect()))
    b = sorted(map(tuple, batch.select(*cols).collect()))
    assert s == b and len(s) == 500


def test_streaming_nb_model_cdc_merge_equals_retrain(spark):
    """The model-CDC gate's ADDITIVE per-batch count merge must equal
    a from-scratch retrain at every model version: rebuild each
    slice's rolling scores batch-side (train on slices ≤ s, score
    slice s) plus the final-model scores, and compare the streamed
    frame EXACTLY.  Slice 2's rolling model IS the final model, so its
    staleness columns must agree identically."""
    import pyspark.sql.functions as F

    import __spark_entry__ as entrymod
    from financial_data_stream_processing_engine_spark.io_utils import load_table
    from financial_data_stream_processing_engine_spark.operators.lm import (
        nb_score,
        nb_train,
    )

    sf_dir = "/root/testdata/sf0.001"
    streamed = entrymod.queries()["streaming_nb_model_cdc"](spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    fwc, ftot = nb_train(docs)
    want = []
    for s in range(3):
        seen = docs.filter(F.col("doc_id") % 3 <= s)
        batch = docs.filter(F.col("doc_id") % 3 == s)
        wc, tot = nb_train(seen)
        roll = {
            r["doc_id"]: r for r in nb_score(batch, wc, tot).collect()
        }
        fin = {r["doc_id"]: r for r in nb_score(batch, fwc, ftot).collect()}
        for did, r in roll.items():
            f = fin[did]
            want.append(
                (
                    did, s, r["n_tokens"], r["n_oov_tokens"], f["n_oov_tokens"],
                    r["mean_delta"], f["mean_delta"], r["nb_pred"], f["nb_pred"],
                    r["nb_pred"] != f["nb_pred"],
                )
            )
    cols = [
        "doc_id", "model_slice", "n_tokens", "n_oov_roll", "n_oov_final",
        "mean_delta_roll", "mean_delta_final", "pred_roll", "pred_final",
        "pred_flipped",
    ]
    got = sorted(map(tuple, streamed.select(*cols).collect()))
    assert got == sorted(want) and len(got) == 500
    # slice 2's rolling model is the final model: staleness ≡ 0 there,
    # and earlier slices can only have MORE OOV under the smaller vocab
    for row in streamed.collect():
        if row["model_slice"] == 2:
            assert row["mean_delta_roll"] == row["mean_delta_final"]
            assert row["n_oov_roll"] == row["n_oov_final"]
            assert not row["pred_flipped"]
        assert row["n_oov_roll"] >= row["n_oov_final"]


def test_streaming_phash_gate_equals_batch_gate(spark):
    """The streamed pHash gate (per-batch probe against the
    accumulated band index of strictly-earlier batches) must equal the
    batch reconstruction: all Hamming-≤3 pairs (banded retrieval is
    pigeonhole-complete at radius 3), attributed to the later-slice
    side.  The planted perturbation family guarantees real cross-batch
    matches, so the gate must actually fire."""
    import pyspark.sql.functions as F

    import __spark_entry__ as entrymod
    from financial_data_stream_processing_engine_spark.io_utils import load_table
    from financial_data_stream_processing_engine_spark.operators import phash
    from financial_data_stream_processing_engine_spark.plans import media_fixtures
    from financial_data_stream_processing_engine_spark.operators import multimodal

    sf_dir = "/root/testdata/sf0.001"
    streamed = entrymod.queries()["streaming_phash_gate"](spark, sf_dir)

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    pngs = media_fixtures.payload_frame(docs, media_fixtures.png_phash)
    media = multimodal.as_media(
        pngs, id_col="doc_id", payload=F.col("payload"),
        kind="image", mime="image/png",
    )
    ph = {r["media_id"]: r["phash"] for r in phash.phash64(media).collect()}
    pairs = phash.phash_hamming_pairs(
        phash.phash64(media)
    ).collect()
    want: dict[int, list[int]] = {i: [] for i in ph}
    for r in pairs:
        a, b, h = r["id_a"], r["id_b"], r["hamming"]
        # attribute to the later slice; equal slices never gate
        if a % 3 < b % 3:
            want[b].append(h)
        elif b % 3 < a % 3:
            want[a].append(h)
    got = {r["media_id"]: r for r in streamed.collect()}
    assert set(got) == set(ph)
    fired = 0
    for mid, hs in want.items():
        g = got[mid]
        assert g["slice"] == mid % 3
        assert g["phash"] == ph[mid]
        assert g["n_prior_dups"] == len(hs)
        assert g["min_prior_hamming"] == (min(hs) if hs else None)
        assert g["is_near_dup"] == bool(hs)
        fired += bool(hs)
    assert fired > 0, "planted cross-slice near-dups must be recalled"


def test_streaming_unigram_cdc_merge_equals_retrain(spark):
    """The tokenizer-CDC gate's ADDITIVE per-batch (word, freq) merge
    must equal a from-scratch retrain at every version: rebuild each
    slice's rolling segmentation batch-side (train on word counts of
    slices ≤ s, segment slice s) plus the final-model segmentation and
    compare the streamed frame EXACTLY.  Slice 2's rolling state is
    the full corpus, so its drift must be identically zero."""
    import pyspark.sql.functions as F

    import __spark_entry__ as entrymod
    from financial_data_stream_processing_engine_spark.io_utils import load_table
    from financial_data_stream_processing_engine_spark.operators import unigram

    sf_dir = "/root/testdata/sf0.001"
    streamed = entrymod.queries()["streaming_unigram_cdc"](spark, sf_dir)

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    fvocab, _ = unigram.unigram_train(docs, rounds=1)
    fin = {
        r["doc_id"]: r for r in unigram.unigram_segment(docs, fvocab).collect()
    }
    want = []
    for s in range(3):
        seen = docs.filter(F.col("doc_id") % 3 <= s)
        batch = docs.filter(F.col("doc_id") % 3 == s)
        rvocab, _ = unigram.unigram_train_words(
            unigram.word_freqs(seen), rounds=1
        )
        for r in unigram.unigram_segment(batch, rvocab).collect():
            f = fin[r["doc_id"]]
            want.append(
                (
                    r["doc_id"], s, r["n_words"],
                    r["n_pieces"], r["total_cost"],
                    f["n_pieces"], f["total_cost"],
                    r["n_pieces"] != f["n_pieces"]
                    or r["total_cost"] != f["total_cost"],
                )
            )
    cols = [
        "doc_id", "model_slice", "n_words",
        "n_pieces_roll", "total_cost_roll",
        "n_pieces_final", "total_cost_final", "seg_drift",
    ]
    got = sorted(map(tuple, streamed.select(*cols).collect()))
    assert got == sorted(want) and len(got) == 500
    drifted_early = 0
    for row in streamed.collect():
        if row["model_slice"] == 2:
            assert row["n_pieces_roll"] == row["n_pieces_final"]
            assert row["total_cost_roll"] == row["total_cost_final"]
            assert not row["seg_drift"]
        else:
            drifted_early += bool(row["seg_drift"])
    # value-content certificate: the staleness signal must actually
    # fire — a rolling model trained on a corpus PREFIX segments some
    # early-slice docs differently from the final model
    assert drifted_early > 0


@pytest.fixture(scope="module")
def sparse_docs_dir(spark, tmp_path_factory):
    """An sf_dir whose documents table has an EMPTY doc_id % 3 == 1
    slice — the sparse-corpus shape that used to desynchronize the
    micro-batch slice clock in the CDC gates (ADVICE r14 #1): an empty
    slice either writes an empty feed file (one empty micro-batch) or
    no file at all, and either way the next non-empty batch must not
    trip the out-of-order guard."""
    root = tmp_path_factory.mktemp("sparse_sf")
    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .filter(F.col("doc_id") % 3 != 1)
    )
    docs.write.mode("overwrite").parquet(str(root / "documents.parquet"))
    return str(root)


def test_streaming_phash_gate_sparse_corpus_empty_slice(spark, sparse_docs_dir):
    """The pHash gate must survive an empty middle slice: slice-2 docs
    still probe the slice-0 index (slice 1 contributed nothing), and
    every surviving doc gets exactly one output row."""
    import __spark_entry__ as entrymod

    got = {
        r["media_id"]: r
        for r in entrymod.queries()["streaming_phash_gate"](
            spark, sparse_docs_dir
        ).collect()
    }
    docs = [
        r["doc_id"]
        for r in spark.read.parquet(
            f"{sparse_docs_dir}/documents.parquet"
        ).select("doc_id").collect()
    ]
    assert set(got) == set(docs) and docs
    fired = 0
    for mid, row in got.items():
        assert row["slice"] == mid % 3 and row["slice"] in (0, 2)
        if row["slice"] == 0:
            assert row["n_prior_dups"] == 0 and not row["is_near_dup"]
        fired += bool(row["is_near_dup"])
    # the planted perturbation family (5j+4 <- 5j) still crosses the
    # surviving slices, so the gate must actually fire
    assert fired > 0


def test_streaming_unigram_cdc_sparse_corpus_empty_slice(spark, sparse_docs_dir):
    """The tokenizer-CDC gate must survive an empty middle slice: the
    state version carries across the gap, slice 2 still merges to the
    full (filtered) corpus, and its drift is identically zero."""
    import __spark_entry__ as entrymod
    from financial_data_stream_processing_engine_spark.operators import unigram

    streamed = entrymod.queries()["streaming_unigram_cdc"](
        spark, sparse_docs_dir
    )
    docs = spark.read.parquet(f"{sparse_docs_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    n_docs = docs.count()
    rows = streamed.collect()
    assert len(rows) == n_docs and n_docs > 0
    assert {r["model_slice"] for r in rows} == {0, 2}
    for r in rows:
        if r["model_slice"] == 2:
            assert r["n_pieces_roll"] == r["n_pieces_final"]
            assert r["total_cost_roll"] == r["total_cost_final"]
            assert not r["seg_drift"]
    # slice-0 rolling scores must equal an independent from-scratch
    # train on slice 0 alone (the merge path saw exactly that state)
    s0 = docs.filter(F.col("doc_id") % 3 == 0)
    v0, _ = unigram.unigram_train_words(unigram.word_freqs(s0), rounds=1)
    want0 = {
        r["doc_id"]: (r["n_pieces"], r["total_cost"])
        for r in unigram.unigram_segment(s0, v0).collect()
    }
    got0 = {
        r["doc_id"]: (r["n_pieces_roll"], r["total_cost_roll"])
        for r in rows
        if r["model_slice"] == 0
    }
    assert got0 == want0


def test_streaming_nb_model_cdc_sparse_corpus_empty_slice(spark, sparse_docs_dir):
    """The NB-model CDC gate shares the slice-clock discipline with the
    pHash/unigram gates and must survive an empty middle slice the same
    way: the state version carries across the gap and slice 2 still
    merges to the full (filtered) corpus, so its rolling scores equal
    the final model's."""
    import __spark_entry__ as entrymod

    streamed = entrymod.queries()["streaming_nb_model_cdc"](
        spark, sparse_docs_dir
    )
    n_docs = (
        spark.read.parquet(f"{sparse_docs_dir}/documents.parquet").count()
    )
    rows = streamed.collect()
    assert len(rows) == n_docs and n_docs > 0
    assert {r["model_slice"] for r in rows} == {0, 2}
    for r in rows:
        if r["model_slice"] == 2:
            assert r["mean_delta_roll"] == r["mean_delta_final"]
            assert r["n_oov_roll"] == r["n_oov_final"]
            assert not r["pred_flipped"]


def test_reconcile_slices_catches_dropped_nonempty_slice(spark):
    """ADVICE r15 #3: the CDC gates' out-of-order guard tolerates
    forward jumps, so a LOST non-empty feed file would be silently
    absorbed as an empty slice — the shared post-stop reconciliation
    is what turns that loss into a loud failure.  Drive the helpers
    directly, the way the gates do (r18: the slice set rides the feed
    writer's own pass as an Observation — CollectMetrics is a pushdown
    barrier, so a sliced write still observes every pre-filter source
    row): a processed-slice set missing a populated slice raises, the
    complete set (and the empty-slice case, where the data itself
    lacks the slice) passes."""
    import pytest as _pytest

    from pyspark.sql import functions as F

    from financial_data_stream_processing_engine_spark.streaming.sources import (
        _observed_slice_source,
        _reconcile_slices,
    )

    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in range(9)], "doc_id long, text string"
    )

    def observed(df):
        # the gate's feed-writer shape: slice the OBSERVED frame; the
        # first slice action delivers the full pre-filter slice set.
        # This pins what the ordered feed relies on: the first slice
        # write alone fills the Observation with every slice.
        src, obs = _observed_slice_source(df, "doc_id")
        src.filter(F.col("doc_id") % 3 == 0).write.format("noop").mode(
            "overwrite"
        ).save()
        return obs

    # all three slices populated and processed: passes
    _reconcile_slices({0, 1, 2}, observed(docs))
    # slice 1's feed file was lost: the gate saw {0, 2} only — raises
    with _pytest.raises(RuntimeError, match="slice reconciliation failed"):
        _reconcile_slices({0, 2}, observed(docs))
    # genuinely-empty slice 1 (sparse corpus): {0, 2} is complete
    sparse = docs.filter("doc_id % 3 != 1")
    _reconcile_slices({0, 2}, observed(sparse))
    # a phantom processed slice (clock over-advance regression) raises
    with _pytest.raises(RuntimeError, match="slice reconciliation failed"):
        _reconcile_slices({0, 1, 2}, observed(sparse))


def test_ordered_feed_guard_raises_on_multi_slice_and_backward_batch(spark):
    """The ordered feed's per-batch guard: a batch holding two slices,
    or a slice not newer than one already processed, raises before the
    body runs; an empty batch between two slices is skipped without
    moving the clock, so the next slice still passes.  The guard is
    driven directly (the feed itself never builds a bad batch), then
    the whole ordered feed runs on a corpus with an empty middle
    slice."""
    from financial_data_stream_processing_engine_spark.streaming.sources import (
        _ordered_sliced_feed,
        _SliceGuard,
    )

    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in range(6)], "doc_id long, text string"
    )

    def only(k):
        return docs.filter(F.col("doc_id") % 3 == k)

    calls = []

    def on_slice(batch_df, sl, prev_sl):
        calls.append((sl, prev_sl))

    with pytest.raises(RuntimeError, match=r"expected slice >= 0 alone, got \[0, 1\]"):
        _SliceGuard(on_slice, "doc_id")(docs.filter("doc_id % 3 != 2"), 0)
    guard = _SliceGuard(on_slice, "doc_id")
    guard(only(1), 0)
    with pytest.raises(RuntimeError, match=r"expected slice >= 2 alone, got \[0\]"):
        guard(only(0), 1)
    assert calls == [(1, None)]

    calls.clear()
    guard = _SliceGuard(on_slice, "doc_id")
    guard(only(0), 0)
    guard(docs.limit(0), 1)
    guard(only(1), 2)
    assert calls == [(0, None), (1, 0)] and guard.seen == {0, 1}

    calls.clear()
    _ordered_sliced_feed(docs.filter("doc_id % 3 != 1"), "doc_id", on_slice)
    assert calls == [(0, None), (2, 0)]
