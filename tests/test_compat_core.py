"""Golden tests for the reference-compat core (SURVEY.md §2.1 gotchas).

Each test builds a tiny tick frame in explicit arrival order (ts), runs
the Spark combinators, and compares against the pure-Python
reimplementation of the reference semantics in reference_semantics.py.
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F, types as T

from financial_data_stream_processing_engine_spark.operators.core import (
    alerts,
    clean,
    moving_average,
    union_sources,
    with_alert_flag,
)
from financial_data_stream_processing_engine_spark.sources.batch import (
    mock_csv_frame,
    normalize_alpha_vantage,
    normalize_csv,
    normalize_websocket,
)
from tests.reference_semantics import reference_pipeline

TICK_FIELDS = "id string, symbol string, price double, volume long, ts timestamp, source string"


def ticks_df(spark, rows):
    """rows: list of (symbol, price, volume[, source]) in arrival order."""
    base = dt.datetime(2024, 1, 1)
    data = []
    for i, r in enumerate(rows):
        symbol, price, volume = r[0], r[1], r[2]
        source = r[3] if len(r) > 3 else "WebSocketMock"
        data.append(
            (f"t{i:04d}", symbol, price, volume, base + dt.timedelta(seconds=i), source)
        )
    return spark.createDataFrame(data, TICK_FIELDS)


def run_compat(spark, rows, n=5, threshold=108.0):
    df = ticks_df(spark, rows)
    out = with_alert_flag(
        moving_average(clean(df), n=n, order_by=("ts", "id")), threshold=threshold
    )
    got = [r.asDict() for r in out.orderBy("ts").collect()]
    exp = reference_pipeline(
        [{"symbol": r[0], "price": r[1], "volume": r[2]} for r in rows],
        n=n,
        threshold=threshold,
    )
    return got, exp


def assert_matches(got, exp):
    assert len(got) == len(exp), f"row count {len(got)} != {len(exp)}"
    for g, e in zip(got, exp):
        assert g["symbol"] == e["symbol"]
        assert g["volume"] == e["volume"]
        if e["moving_average"] is None:
            assert g["moving_average"] is None, g
        else:
            assert g["moving_average"] == pytest.approx(e["moving_average"], rel=1e-12)
        assert g["alert"] == e["alert"], (g, e)


def test_ma_null_until_exactly_n_rows(spark):
    rows = [("A", float(p), 10) for p in [100, 101, 102, 103, 104, 105, 106]]
    got, exp = run_compat(spark, rows)
    assert_matches(got, exp)
    # first n-1 rows NULL, then sliding means
    assert [g["moving_average"] for g in got[:4]] == [None] * 4
    assert got[4]["moving_average"] == pytest.approx(102.0)
    assert got[5]["moving_average"] == pytest.approx(103.0)
    assert got[6]["moving_average"] == pytest.approx(104.0)


def test_clean_drops_and_clamps(spark):
    rows = [
        ("A", 100.0, -5),     # negative volume → clamped to 0
        ("A", None, 10),      # NULL price → dropped
        ("A", -1.0, 10),      # non-positive price → dropped
        ("A", 0.0, 10),       # zero price → dropped
        ("A", 101.0, None),   # NULL volume → DROPPED (ref max(0, None)
                              # raises → per-row isolation, :290/:358)
        ("A", 102.0, 7),      # untouched
    ]
    got, exp = run_compat(spark, rows)
    assert_matches(got, exp)
    assert [g["volume"] for g in got] == [0, 7]
    # dropped rows consume no window state: 2 survivors < n=5 → all NULL MA
    assert all(g["moving_average"] is None for g in got)


def test_empty_string_symbol_no_state(spark):
    """Reference participation is TRUTHINESS (:303): '' skips window
    state exactly like None, but the row itself survives."""
    rows = [("A", 100.0, 1), ("", 50.0, 1), ("A", 101.0, 1), ("", 60.0, 1)]
    got, exp = run_compat(spark, rows, n=2)
    assert_matches(got, exp)
    by_sym = {(g["symbol"], g["price"]): g["moving_average"] for g in got}
    assert by_sym[("", 50.0)] is None and by_sym[("", 60.0)] is None
    # A's second row windows over A rows only — '' never took a slot
    assert by_sym[("A", 101.0)] == pytest.approx(100.5)


def test_null_symbol_passthrough_no_state(spark):
    rows = [("A", 100.0, 1), (None, 50.0, 1), ("A", 102.0, 1), (None, 60.0, 1)]
    got, exp = run_compat(spark, rows, n=2)
    assert_matches(got, exp)
    # NULL-symbol rows survive cleaning but never get an MA
    nulls = [g for g in got if g["symbol"] is None]
    assert len(nulls) == 2 and all(g["moving_average"] is None for g in nulls)
    # the A rows window only over A rows
    a_rows = [g for g in got if g["symbol"] == "A"]
    assert a_rows[0]["moving_average"] is None
    assert a_rows[1]["moving_average"] == pytest.approx(101.0)


def test_cross_source_shared_state(spark):
    # same symbol arriving via two sources shares ONE window (gotcha #2):
    # the factory memoizes the MA processor in the reference (:322-325).
    rows = [
        ("A", 100.0, 1, "CSVMock"),
        ("A", 102.0, 1, "WebSocketMock"),
        ("A", 104.0, 1, "CSVMock"),
    ]
    got, exp = run_compat(spark, rows, n=3)
    assert_matches(got, exp)
    assert got[2]["moving_average"] == pytest.approx(102.0)


def test_ma_duplicate_identity_raises(spark):
    # the general path joins scores back on (key, *order_by); a
    # duplicate identity would fan the join out, so it must raise
    # engine-side instead of silently duplicating rows
    base = dt.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [
            ("t0", "A", 100.0, 1, base, "CSVMock"),
            ("t0", "A", 101.0, 1, base, "CSVMock"),  # same (symbol, ts, id)
        ],
        TICK_FIELDS,
    )
    with pytest.raises(Exception, match="row-unique"):
        moving_average(df, n=2, order_by=("ts", "id")).collect()


def test_alert_threshold_strict(spark):
    rows = [("A", 108.0, 1), ("A", 108.0, 1)]
    got, exp = run_compat(spark, rows, n=2)
    assert_matches(got, exp)
    assert got[1]["moving_average"] == pytest.approx(108.0)
    assert got[1]["alert"] is False  # strictly greater-than (:104)
    rows = [("A", 108.0, 1), ("A", 108.2, 1)]
    got, exp = run_compat(spark, rows, n=2)
    assert got[1]["alert"] is True


def test_alerts_stream_filter(spark):
    rows = [("A", 200.0, 1)] * 6
    df = ticks_df(spark, rows)
    out = alerts(moving_average(clean(df), n=5, order_by=("ts", "id")))
    assert out.count() == 2  # rows 5 and 6 have full windows with ma=200


def test_union_sources_by_name(spark):
    a = ticks_df(spark, [("A", 1.0, 1)])
    b = ticks_df(spark, [("B", 2.0, 2)]).select(
        "source", "ts", "volume", "price", "symbol", "id"  # shuffled order
    )
    u = union_sources(a, b)
    assert u.columns == a.columns
    assert u.count() == 2


def test_normalizers_produce_tick_schema(spark):
    ws_raw = spark.createDataFrame(
        [("EURUSD", 1.1, 1000, dt.datetime(2024, 1, 1))],
        "instrument string, value double, vol long, ts timestamp",
    )
    av_raw = spark.createDataFrame(
        [("IBM", "142.50", "1234")],
        T.StructType(
            [
                T.StructField("01. symbol", T.StringType()),
                T.StructField("05. price", T.StringType()),
                T.StructField("06. volume", T.StringType()),
            ]
        ),
    )
    csv_raw = mock_csv_frame(spark)

    for norm, raw, source in [
        (normalize_websocket, ws_raw, "WebSocketMock"),
        (normalize_alpha_vantage, av_raw, "AlphaVantage"),
        (normalize_csv, csv_raw, "CSVMock"),
    ]:
        out = norm(raw)
        assert out.columns == ["id", "symbol", "price", "volume", "ts", "source"]
        rows = out.collect()
        assert all(r.source == source for r in rows)
        assert all(isinstance(r.price, float) for r in rows)
        assert all(isinstance(r.volume, int) for r in rows)
        assert all(r.id.startswith(source + "_") for r in rows)

    # the three normalized streams union cleanly (U1)
    u = union_sources(
        normalize_websocket(ws_raw), normalize_alpha_vantage(av_raw), normalize_csv(csv_raw)
    )
    assert u.count() == 5


def test_av_missing_quote_dropped(spark):
    # reference returns None for a missing/garbled quote block (:171-184)
    av_raw = spark.createDataFrame(
        [("IBM", "142.50", "1234"), (None, None, None)],
        "`01. symbol` string, `05. price` string, `06. volume` string",
    )
    out = normalize_alpha_vantage(av_raw)
    assert out.count() == 1


def test_normalizer_guards_only_casts_that_can_fail(spark):
    # a present but malformed volume or ts string drops its row, a
    # missing one does not (the reference adapter's per-row isolation)
    ts = "2024-01-01 00:00:00"
    raw = spark.createDataFrame(
        [("A", "1.0", "10", ts), ("B", "1.0", "x", ts), ("C", "1.0", "10", "t"),
         ("D", "1.0", None, None)],
        "instrument string, value string, vol string, ts string",
    )
    assert sorted(r.symbol for r in normalize_websocket(raw).collect()) == ["A", "D"]
    # raw columns already of the target type cannot fail their cast, so
    # the projection carries no guard filter (the live rate feed's case)
    typed = spark.createDataFrame(
        [("A", 1.0, 10, dt.datetime(2024, 1, 1))],
        "instrument string, value double, vol long, ts timestamp",
    )
    assert "Filter" not in normalize_websocket(typed)._jdf.queryExecution().analyzed().toString()


def test_tickstream_fluent_chain_matches_functions(spark, tmp_path):
    import datetime as dt

    from financial_data_stream_processing_engine_spark import TickStream
    from financial_data_stream_processing_engine_spark.operators import core

    base = dt.datetime(2024, 3, 1)
    rows = [
        (f"t{i:03d}", "AAA", 100.0 + i * 3, i, base + dt.timedelta(seconds=i), "X")
        for i in range(8)
    ]
    rows.append(("bad", "AAA", -1.0, 5, base + dt.timedelta(seconds=99), "X"))
    df = spark.createDataFrame(
        rows, "id string, symbol string, price double, volume long, ts timestamp, source string"
    )
    path = str(tmp_path / "ticks")
    df.write.parquet(path)

    fluent = (
        TickStream.from_parquet(spark, path)
        .clean()
        .moving_average(n=5)
        .alerts(threshold=108.0)
        .df
    )
    functional = core.alerts(
        core.moving_average(core.clean(spark.read.parquet(path)), n=5),
        threshold=108.0,
    )
    got = sorted(r.id for r in fluent.collect())
    exp = sorted(r.id for r in functional.collect())
    assert got == exp and len(got) > 0


def test_tickstream_union_shares_state(spark):
    import datetime as dt

    from financial_data_stream_processing_engine_spark import TickStream

    base = dt.datetime(2024, 3, 1)

    def src(tag, start):
        rows = [
            (f"{tag}{i}", "AAA", 100.0, 1, base + dt.timedelta(seconds=start + i), tag)
            for i in range(3)
        ]
        return TickStream.wrap(
            spark.createDataFrame(
                rows,
                "id string, symbol string, price double, volume long, ts timestamp, source string",
            )
        )

    out = src("a", 0).union(src("b", 10)).moving_average(n=5).df.collect()
    # 6 rows interleave into ONE keyed window: the 5th and 6th rows get
    # a moving average (cross-source shared state, reference gotcha #2)
    assert sum(1 for r in out if r.moving_average is not None) == 2
