"""Tests of the benchmark's pure helpers (no Spark):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from perfbench import backfill, gen, procstat, reference

# -- reference moving average ------------------------------------------------


def test_moving_average_is_null_until_full_and_per_symbol():
    ticks = [("A", 1.0), ("B", 10.0), ("A", 2.0), ("A", 3.0), ("B", 20.0), ("A", 4.0)]
    assert reference.moving_averages(ticks, n=3) == [None, None, None, 2.0, None, 3.0]


def test_moving_average_sums_oldest_to_newest():
    # 0.1 + 0.2 + 0.3 differs from 0.3 + 0.2 + 0.1 in the last bit: the
    # reference must use the streaming operator's order
    prices = [0.1, 0.2, 0.3]
    (ma,) = reference.moving_averages([("A", p) for p in prices], n=3)[2:]
    assert ma == (0.1 + 0.2 + 0.3) / 3
    assert ma != (0.3 + 0.2 + 0.1) / 3


def test_lag_chain_ma_sums_newest_to_oldest():
    prices = np.array([0.3, 0.1, 0.2, 0.7])
    got = reference.lag_chain_ma(prices, n=3)
    assert np.isnan(got[:2]).all()
    assert got[2] == (0.2 + 0.1 + 0.3) / 3.0
    assert got[3] == (0.7 + 0.2 + 0.1) / 3.0


def test_expected_alerts_keyed_on_symbol_and_ts():
    ticks = [("H", 110.0, 1), ("H", 110.0, 2), ("N", 100.0, 3), ("H", 100.0, 4)]
    got = reference.expected_alerts(ticks, n=2, threshold=108.0)
    assert got == {("H", 2): 110.0}


# -- the correctness check catches planted wrong results ----------------------


def _alerts():
    ticks = [("H", 109.0 + 0.1 * i, i) for i in range(10)]
    return reference.expected_alerts(ticks)


def test_check_alerts_passes_on_the_reference_itself():
    exp = _alerts()
    assert reference.check_alerts(exp, dict(exp)) == {
        "attempted": len(exp), "failed": 0, "missing": 0, "wrong_value": 0, "unexpected": 0
    }


def test_check_alerts_catches_a_value_one_ulp_off():
    exp = _alerts()
    bad = dict(exp)
    key = next(iter(bad))
    bad[key] = np.nextafter(bad[key], np.inf)
    res = reference.check_alerts(exp, bad)
    assert res["failed"] == 1 and res["wrong_value"] == 1


def test_check_alerts_catches_missing_and_unexpected_alerts():
    exp = _alerts()
    bad = dict(exp)
    bad.pop(next(iter(bad)))
    bad[("X", 0)] = 120.0
    res = reference.check_alerts(exp, bad)
    assert res["failed"] == 1 and res["missing"] == 1 and res["unexpected"] == 1


def test_backfill_pass_check_catches_a_wrong_count():
    want = {"rows": 10, "alerts": 2, "bars": 4}
    good = {"ma.rows": 10, "ma.alerts": 2, "macd.rows": 10, "bars.rows": 4, "vwap.rows": 4}
    assert backfill._pass_ok(good, want)
    for key in good:
        planted = dict(good, **{key: good[key] + 1})
        assert not backfill._pass_ok(planted, want), key


def test_backfill_expected_counts_match_a_direct_count():
    tab = {
        "sym": np.array([0, 1, 0, 0, 1, 0, 0]),
        "price": np.array([110.0, 100.0, 110.0, 110.0, 100.0, 110.0, 110.0]),
        "ts_us": np.arange(7, dtype=np.int64) * 1_800_000_000,  # half an hour apart
    }
    # symbol 0 has one full 5-tick window (mean 110); hours: symbol 0 at
    # 0, 1, 1, 2, 3 and symbol 1 at 0, 2 make 6 (symbol, hour) bars
    assert backfill.expected_counts(tab) == {"rows": 7, "alerts": 1, "bars": 6}


# -- percentile rule ----------------------------------------------------------


def test_tail_percentile_caps_at_95_with_enough_samples():
    samples = [float(i) for i in range(1, 201)]
    p, value, n = reference.tail_percentile(samples)
    assert (p, value, n) == (95.0, 190.0, 200)
    assert sum(1 for s in samples if s > value) == 10


def test_tail_percentile_keeps_ten_samples_beyond():
    samples = [float(i) for i in range(1, 101)]
    p, value, n = reference.tail_percentile(samples)
    assert p == pytest.approx(90.0) and value == 90.0 and n == 100
    assert sum(1 for s in samples if s > value) >= 10


def test_tail_percentile_falls_back_to_the_median_for_few_samples():
    assert reference.tail_percentile([3.0, 1.0, 2.0, 5.0, 4.0]) == (50.0, 3.0, 5)
    assert reference.tail_percentile([4.0, 1.0, 3.0, 2.0]) == (50.0, 2.5, 4)


def test_tail_percentile_refuses_no_samples():
    with pytest.raises(ValueError):
        reference.tail_percentile([])


def test_median_even_and_odd():
    assert reference.median([3.0, 1.0, 2.0]) == 2.0
    assert reference.median([4.0, 1.0, 3.0, 2.0]) == 2.5


# -- /proc CPU walker ---------------------------------------------------------


def _fake_proc(root, procs):
    """procs: pid -> (comm, ppid, utime, stime, cutime, cstime)"""
    for pid, (comm, ppid, u, s, cu, cs) in procs.items():
        d = root / str(pid)
        d.mkdir(exist_ok=True)
        fields = ["S", str(ppid)] + ["0"] * 9 + [str(u), str(s), str(cu), str(cs)] + ["0"] * 5
        (d / "stat").write_text(f"{pid} ({comm}) " + " ".join(fields) + "\n")


def test_proc_walker_assigns_roles(tmp_path):
    _fake_proc(tmp_path, {
        10: ("python3", 1, 0, 0, 0, 0),      # driver
        11: ("java", 10, 0, 0, 0, 0),        # jvm
        12: ("python3", 11, 0, 0, 0, 0),     # pyspark daemon
        13: ("python3", 12, 0, 0, 0, 0),     # forked worker
        14: ("python3", 10, 0, 0, 0, 0),     # load generator (tagged)
        15: ("bash", 10, 0, 0, 0, 0),        # helper of the driver
        99: ("java", 1, 0, 0, 0, 0),         # someone else's JVM
    })
    table = procstat.process_table(str(tmp_path))
    assert procstat.roles(table, 10, {14: "gen"}) == {
        10: "driver", 11: "jvm", 12: "pyworker", 13: "pyworker", 14: "gen", 15: "driver"
    }


def test_proc_walker_counts_a_reaped_worker_once(tmp_path, monkeypatch):
    monkeypatch.setattr(procstat, "CLK_TCK", 100)
    # before: the worker (13) has used 50 ticks, the daemon 10
    _fake_proc(tmp_path, {
        10: ("python3", 1, 100, 0, 0, 0),
        11: ("java", 10, 200, 100, 0, 0),
        12: ("python3", 11, 10, 0, 0, 0),
        13: ("python3", 12, 50, 0, 0, 0),
    })
    before = procstat.snapshot(10, proc=str(tmp_path))
    # after: the worker ran 30 more ticks, exited and was reaped by the
    # daemon (its 80 ticks moved into the daemon's cutime)
    (tmp_path / "13" / "stat").unlink()
    (tmp_path / "13").rmdir()
    _fake_proc(tmp_path, {
        10: ("python3", 1, 120, 0, 0, 0),
        11: ("java", 10, 300, 100, 0, 0),
        12: ("python3", 11, 10, 0, 80, 0),
    })
    after = procstat.snapshot(10, proc=str(tmp_path))
    d = procstat.delta(before, after)
    assert d == pytest.approx({"driver": 0.2, "jvm": 1.0, "pyworker": 0.3})


def test_proc_walker_reads_this_process():
    before = procstat.snapshot()
    t = time.process_time()
    while time.process_time() - t < 0.2:
        pass
    assert procstat.delta(before, procstat.snapshot())["driver"] > 0.05


# -- load generator -----------------------------------------------------------


def test_generator_is_deterministic_per_seed_and_file():
    a = gen.file_ticks(7, 3)
    assert len(a) == gen.PER_FILE
    assert a == gen.file_ticks(7, 3)
    assert a != gen.file_ticks(8, 3)
    assert a != gen.file_ticks(7, 4)


def test_generator_prices_and_symbols_follow_the_law():
    ticks = [t for k in range(40) for t in gen.file_ticks(1, k)]
    hot = [float(p) for s, p, _ in ticks if s.startswith("HOT")]
    normal = [float(p) for s, p, _ in ticks if s.startswith("S")]
    assert 0.03 < len(hot) / len(ticks) < 0.05
    assert max(normal) < reference.THRESHOLD < max(hot)
    top = sum(1 for s, _, _ in ticks if s == "S0000") / len(normal)
    assert 0.1 < top < 0.2  # Zipf(1.0) over 500 symbols: about 14%


def test_generator_process_writes_the_same_ticks(tmp_path):
    t0_us = int(time.time() * 1e6)
    out = gen.run(gen.parse_args([
        "--spool", str(tmp_path), "--seed", "5", "--t0-us", str(t0_us), "--files", "2",
    ]))
    assert out["ticks"] == 2 * gen.PER_FILE and out["lag_s_max"] >= 0
    assert sorted(os.listdir(tmp_path)) == [gen.spool_name(k) for k in range(2)]
    for k in range(2):
        table = pq.read_table(tmp_path / gen.spool_name(k))
        rows = table.drop(["arrival"]).to_pylist()
        want = gen.file_ticks(5, k)
        assert [(r["01. symbol"], r["05. price"], r["06. volume"]) for r in rows] == want
        arrival = table.column("arrival").cast(pa.int64()).to_pylist()
        assert arrival == [gen.due_us(t0_us, k * gen.PER_FILE + j) for j in range(gen.PER_FILE)]


def test_due_times_are_strictly_increasing():
    due = [gen.due_us(0, i) for i in range(5000)]
    assert all(b > a for a, b in zip(due, due[1:]))


if __name__ == "__main__":
    sys.exit(pytest.main([__file__, "-q"]))
