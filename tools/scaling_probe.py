"""Measured scaling curves: the same plans at sf0.001 / sf0.01 / sf0.1.

The bench (`bench.py`) tracks wall time at ONE scale; this probe
answers the 100 TB question directly on the axis that matters — how
does each plan's time grow as its DATA grows?  The fixture tables do
NOT all scale together (pyarrow row counts, TESTDATA.md):

    lineitem/orders/events   6k/1.5k/1k -> x10 -> x10
    documents                500 -> x1 -> x10
    embeddings               500 -> x1 -> x4

so each probed entry is annotated with its base-table family and the
time ratio of each step is read against that step's actual data
growth.  The reported ``excess = time_ratio / data_ratio``:

* excess ~ <=1  — at-most-linear data term (or still floor-dominated:
                  scheduling + planning floors shrink the ratio);
* excess >> 1   — SUPER-linear: a quadratic stage (all-pairs, blown
                  LSH bucket, skewed key) is growing faster than the
                  data; at 100 TB this plan is dead.  The probe exits
                  nonzero so it can gate, ignoring entries whose
                  large-scale time is under ``MIN_SIGNAL`` (pure-floor
                  timings carry no growth signal).

Entries probed are the BATCH families with a real data term, plus the
two O(delta) streaming-maintenance entries (their per-batch delta is a
fixed fraction of the base table, so the table family normalizes the
delta too; the StreamingQuery lifecycle floor deflates their ratios —
see the DEFAULT_ENTRIES note).  Other streaming entries are
lifecycle-floor at every toy scale and iterative graph entries' round
count is graph-shaped, not row-scaled — both covered by the
fixed-overhead ledger in BASELINE.md instead.
``dedup_embedding_cosine`` is the deliberately-quadratic CONTROL arm:
its all-pairs form is the documented brute-force baseline whose scale
path is dedup_embedding_lsh/dedup_semantic, so its excess is allowed
to run hot — it proves the probe is looking at the right thing.
Timing is best-of-``SPARK_GRAFT_BENCH_REPS`` (default 2) noop-sink
materialization, same as bench.py.

Usage: python tools/scaling_probe.py [entry ...]   (default: the
representative set below).  Prints one JSON line last (the driver
tail-capture discipline) and a human table first.
"""

from __future__ import annotations

import json
import os
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from bench import bench_session, time_reps  # noqa: E402

SF_DIRS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1"]

#: per-step row growth of each base-table family across SF_DIRS.
TABLE_GROWTH: dict[str, tuple[float, float]] = {
    "tpch": (10.0, 10.0),       # lineitem/orders/customer/...
    "events": (10.0, 10.0),
    "documents": (1.0, 10.0),
    "embeddings": (1.0, 4.0),
}

#: one per batch family with a real data term: scan-agg, star join,
#: window, as-of, skew-salted agg, exact dedup, PPJoin (the entry
#: whose positional-filter pruning is the quadratic risk), MinHash
#: LSH banding, SimHash, IVF ANN, the all-pairs control, text stats,
#: BM25, pHash near-dup, unigram segmentation, TPC-H joins.
DEFAULT_ENTRIES: dict[str, str] = {
    "tpch_q1_pricing_summary": "tpch",
    "tpch_q9_like_product_profit": "tpch",
    "join_star_revenue_by_region": "tpch",
    "join_asof_last_purchase": "events",
    "window_topk_per_group": "events",
    "agg_salted_skew": "events",
    "dedup_exact": "documents",
    "dedup_prefix_jaccard": "documents",
    "dedup_minhash_lsh": "documents",
    "dedup_simhash": "documents",
    "similarity_ivf_topk": "embeddings",
    "dedup_embedding_cosine": "embeddings",
    "text_stats": "documents",
    "text_bm25_topk": "documents",
    "dedup_phash_hamming": "documents",
    "text_unigram_segment": "documents",
    # streaming O(delta) claims (VERDICT r13 #6): these two run a real
    # 3-batch StreamingQuery whose per-batch DELTA is a fixed 1/3 of
    # the base table, so delta growth == table growth and the table
    # family normalizes correctly.  The ~2-3 s/batch StreamingQuery
    # lifecycle is a fixed floor that DEFLATES the measured ratio —
    # a quadratic per-batch term still blows past the gate
    # (floor + work·r² vs floor + work), but mildly super-linear
    # growth can hide under the floor at toy scale; read these rows
    # as a gate on the O(delta) claim, not a precise exponent.
    "streaming_index_maintain": "embeddings",
    "streaming_nb_model_cdc": "documents",
    # r15 (VERDICT r14 #7): the streamed pHash near-dup gate — per
    # batch it decodes+hashes its delta once, probes the accumulated
    # band index via the (band, val) bucket join, and appends
    # O(|batch| x 4) band rows; the same O(delta) gate reading as the
    # two rows above (lifecycle floor deflates the ratio).
    "streaming_phash_gate": "documents",
    # r16 (VERDICT r15 #6): the streamed LM quality gate — per batch
    # it scores its delta against a BROADCAST bigram model trained
    # once on the reference slice (model-sized state only, zero
    # scoring state); this row turns that claim into a measured curve.
    # The one-time reference training inside the entry is itself
    # documents-scaled (linear), so the family normalizes both terms;
    # the StreamingQuery lifecycle floor deflates the ratio as above.
    "streaming_lm_quality_gate": "documents",
    # r17 (VERDICT r16 #3): the streamed NB gate — the last un-probed
    # streaming gate.  Per batch it scores its delta against a STATIC
    # localCheckpoint-ed Naive-Bayes model trained once on the
    # reference slice (vocabulary-sized state only, zero per-row
    # scoring state), so per-batch work is O(delta · tokens).  The
    # one-time reference training inside the entry is documents-scaled
    # (linear); the StreamingQuery lifecycle floor deflates the ratio
    # as for the other gates — read as an O(delta) gate, not an
    # exponent.
    "streaming_nb_gate": "documents",
}

#: entries whose quadratic form is the DOCUMENTED baseline arm — their
#: super-linear excess is expected and must not fail the gate (the
#: scale path for each is probed separately above).
EXPECTED_SUPERLINEAR = {
    "dedup_embedding_cosine": "brute-force all-pairs cosine control arm",
}

#: time may legitimately outgrow rows somewhat (partial aggregation
#: stops collapsing, more distinct groups) — flag only clearly
#: super-linear excess over the data growth.
EXCESS_LIMIT = 2.5

#: a step's excess is judged only when the larger-scale time exceeds
#: this (seconds) — below it the timing is scheduling/planning floor.
MIN_SIGNAL = 1.0


def main() -> int:
    only = sys.argv[1:]
    if only:
        # an entry without a declared growth family would be normalized
        # by the WRONG data ratio (e.g. x10 instead of x1 on the first
        # documents step), masking or fabricating super-linear flags in
        # a gated run — refuse, like plan_audit does (ADVICE r13 #3)
        unmapped = [n for n in only if n not in DEFAULT_ENTRIES]
        if unmapped:
            print(
                f"entries with no growth family in DEFAULT_ENTRIES: {unmapped}\n"
                f"add them there with their base-table family "
                f"({sorted(TABLE_GROWTH)}) before probing"
            )
            return 2
        entries = {n: DEFAULT_ENTRIES[n] for n in only}
    else:
        entries = dict(DEFAULT_ENTRIES)
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "2"))

    import __spark_entry__ as entrymod

    unknown = [n for n in entries if n not in entrymod.queries()]
    if unknown:
        print(f"unknown entries: {unknown}")
        return 2

    spark, qs = bench_session("scaling_probe", None)
    spark.sparkContext.setLogLevel("ERROR")

    def measure_one(name: str, sf_dir: str) -> float:
        return round(min(time_reps(qs[name], spark, sf_dir, max(1, reps))[0]), 3)

    def excess_of(ts: list[float], fam: str) -> list[float]:
        t1, t2, t3 = ts
        g1, g2 = TABLE_GROWTH[fam]
        ex = []
        for ta, tb, g in ((t1, t2, g1), (t2, t3, g2)):
            r = tb / ta if ta > 0 else float("inf")
            ex.append(r / g)
        return ex

    def is_flagged(ts: list[float], ex: list[float]) -> bool:
        return any(
            e > EXCESS_LIMIT and tb >= MIN_SIGNAL
            for e, tb in zip(ex, ts[1:])
        )

    times: dict[str, list[float]] = {n: [] for n in entries}
    for sf_dir in SF_DIRS:
        for name in entries:
            best = measure_one(name, sf_dir)
            times[name].append(best)
            print(f"  {Path(sf_dir).name:8s} {name:32s} {best:6.2f}s", flush=True)

    hot: list[str] = []
    # first-pass flags that did NOT reproduce on the fresh re-measure
    # (ADVICE r16 #3): surfaced as a dedicated field so round audits
    # can spot an entry that flags repeatedly ACROSS rounds without
    # ever reproducing within one — a genuinely intermittent
    # super-linear term (e.g. cache-pressure-triggered) would show up
    # here round after round, where a one-off load spike would not.
    spike_flags: list[str] = []
    rows = []
    print(f"\n{'entry':34s} {'data':>11s} {'sf.001':>7s} {'sf.01':>7s} "
          f"{'sf.1':>7s} {'excess a':>9s} {'excess b':>9s}")
    for name, fam in entries.items():
        t1, t2, t3 = times[name]
        ex = excess_of(times[name], fam)
        flagged = is_flagged(times[name], ex)
        row = {"entry": name, "table": fam, "sec": times[name],
               "excess": [round(e, 2) for e in ex]}
        flag = ""
        if flagged and name in EXPECTED_SUPERLINEAR:
            flag = f"  (expected: {EXPECTED_SUPERLINEAR[name]})"
        elif flagged:
            # a load spike during ONE scale's window fabricates excess —
            # most visibly on a ×1-data step, where the time ratio is
            # divided by 1.0 and worn verbatim (measured r16: three
            # flat entries flagged at 2.5-3.8× during one spike, all
            # clean on immediate re-measure with the ×10 step diluting
            # the same spike to ≤0.11×).  So a flag must REPRODUCE on
            # one fresh full re-measure before it fails the gate; both
            # measurements are reported, nothing is hidden.
            retry = [measure_one(name, sf_dir) for sf_dir in SF_DIRS]
            rex = excess_of(retry, fam)
            row["retry_sec"] = retry
            row["retry_excess"] = [round(e, 2) for e in rex]
            if is_flagged(retry, rex):
                hot.append(name)
                flag = "  << SUPER-LINEAR (reproduced on retry)"
            else:
                spike_flags.append(name)
                flag = "  (first-pass flag NOT reproduced: load spike)"
        print(f"{name:34s} {fam:>11s} {t1:7.2f} {t2:7.2f} {t3:7.2f} "
              f"{ex[0]:8.2f}x {ex[1]:8.2f}x{flag}")
        rows.append(row)

    payload = {"metric": "scaling_probe_excess_vs_data_growth", "unit": "sec",
               "excess_limit": EXCESS_LIMIT, "min_signal_sec": MIN_SIGNAL,
               "superlinear": hot, "spike_flags": spike_flags, "rows": rows}
    print(json.dumps(payload, separators=(",", ":")), flush=True)
    if hot:
        print(f"SCALING PROBE FAILED: {hot}")
        return 1
    print("SCALING PROBE CLEAN")
    return 0


if __name__ == "__main__":
    sys.exit(main())
