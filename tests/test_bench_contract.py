"""The bench retry rule's honesty contract (VERDICT r17 #8).

The >2×-vs-trailing-record retry rule is the one bench mechanism that
could bias the record (it gives slow readings — and only slow readings
— extra reps).  Its contract: it fires ONLY above the 2× threshold,
and when it fires the record carries BOTH readings plus the trailing
record it compared against, regardless of which number wins.  Pure
function, no Spark session.
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from bench import apply_retry_rule, time_reps  # noqa: E402


def test_no_fire_below_threshold():
    retimed: dict = {}
    calls = []

    def retime():
        calls.append(1)
        return 0.5

    # exactly 2× does not fire (strict >); neither does a missing or
    # zero trailing record
    assert apply_retry_rule("q", 2.0, 1.0, retime, retimed) == 2.0
    assert apply_retry_rule("q", 5.0, None, retime, retimed) == 5.0
    assert apply_retry_rule("q", 5.0, 0.0, retime, retimed) == 5.0
    assert retimed == {} and calls == []


def test_fire_records_both_numbers_and_keeps_better():
    retimed: dict = {}
    worn = apply_retry_rule("q", 4.2, 1.0, lambda: 1.1, retimed)
    assert worn == 1.1
    assert retimed["q"] == {
        "first_best": 4.2,
        "retry_best": 1.1,
        "trailing_record": 1.0,
    }


def test_fire_with_worse_retry_keeps_first_but_still_records_both():
    retimed: dict = {}
    worn = apply_retry_rule("q", 4.2, 1.0, lambda: 9.9, retimed)
    assert worn == 4.2
    # the slow retry is not hidden: both readings are in the record
    assert retimed["q"]["first_best"] == 4.2
    assert retimed["q"]["retry_best"] == 9.9
    assert retimed["q"]["trailing_record"] == 1.0


def test_time_reps_builds_each_rep_once_and_returns_the_first_frame():
    """One timing loop serves bench.py, opt_probe and both scaling
    probes: ``reps`` builds, each forced through the noop sink once;
    opt_probe reads its plan from the returned first frame, so no
    entry is built an extra time."""

    class Frame:
        saves = 0

        @property
        def write(self):
            return self

        def format(self, fmt):
            assert fmt == "noop"
            return self

        def mode(self, m):
            return self

        def save(self):
            self.saves += 1

    class Spark:
        class sparkContext:
            descriptions: list = []

            @classmethod
            def setJobDescription(cls, d):
                cls.descriptions.append(d)

    built: list[Frame] = []

    def fn(spark, sf_dir):
        assert sf_dir == "sf"
        built.append(Frame())
        return built[-1]

    times, first = time_reps(fn, Spark, "sf", 3, "probe:q")
    assert len(times) == 3 and all(t >= 0 for t in times)
    assert len(built) == 3 and first is built[0]
    assert [f.saves for f in built] == [1, 1, 1]
    assert Spark.sparkContext.descriptions == [
        "probe:q:rep0", "probe:q:rep1", "probe:q:rep2", None,
    ]
