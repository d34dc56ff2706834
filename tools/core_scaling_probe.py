"""Core-count scaling evidence on a non-floor-bound input (VERDICT r17 #7).

The sf0.1 bench is FLOOR-bound: the driver's own 8-vs-32-core runs read
a median per-entry ratio of ~1.06 because StreamingQuery lifecycles,
per-round driver jobs and batch job floors dominate at that scale — so
the bench cannot demonstrate data-parallel scaling.  This probe
generates a DETERMINISTIC synthetic dataset ~20× the sf0.1 row counts
(documents 100k / events 2M / lineitem 6M — built from spark.range +
hash projections; no fixture data is copied and nothing is keyed on
/root/testdata), then times a set of data-parallel BATCH entries at 8
and at 32 cores, one fresh process per core count, best-of-2 noop-sink
reps (the bench methodology).

The entries run UNCHANGED through ``__spark_entry__.queries()`` — the
synthetic directory simply provides the same table names/schemas — so
the measured plans are the shipped plans.  Values are never compared
to any oracle here: this is a measurement instrument, not a
correctness gate.

Usage:
    python tools/core_scaling_probe.py                 # full run
    python tools/core_scaling_probe.py --cpus 32,8     # choose points
    python tools/core_scaling_probe.py --scale 20      # row multiplier

Prints a human table, then ONE JSON line (driver tail discipline).
Internal: ``--child-run DIR`` is the per-core-count worker mode.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from bench import bench_session, local_master, time_reps  # noqa: E402

#: data-parallel batch entries with a real data term (one per family:
#: scan-agg, window top-k, salted skew agg, PPJoin dedup, unigram
#: Viterbi segmentation, the grouped-fold Python seam)
ENTRIES = [
    "tpch_q1_pricing_summary",
    "window_topk_per_group",
    "agg_salted_skew",
    "dedup_prefix_jaccard",
    "text_unigram_segment",
    "fin_macd",
]

#: which synthetic tables each entry needs
NEEDS = {
    "tpch_q1_pricing_summary": ["lineitem"],
    "window_topk_per_group": ["orders"],
    "agg_salted_skew": ["events"],
    "dedup_prefix_jaccard": ["documents"],
    "text_unigram_segment": ["documents"],
    "fin_macd": ["events"],
}


def generate(spark, out_dir: str, scale: int) -> None:
    """Deterministic synthetic tables at ``scale`` × the sf0.1 row
    counts, written as ``{out_dir}/{name}.parquet`` (the load_table
    layout).  Everything derives from xxhash64 over the row id — same
    bytes on every run, no RNG, no fixture reads."""
    from pyspark.sql import functions as F

    # 2 000 deterministic pseudo-words (base-26 encodings, 3-8 chars):
    # large enough that 3-gram shingles are rare (the PPJoin prefix
    # filter stays selective — a tiny vocabulary makes every shingle a
    # hot block and the candidate set quadratic), small enough that
    # the unigram lattice stays vocabulary-sized.
    def b26(i: int) -> str:
        s = ""
        i += 703  # skip 1-2 char encodings
        while i:
            s += chr(97 + i % 26)
            i //= 26
        return s[:8]

    words = [b26(i * 7919) for i in range(2000)]
    warr = F.array(*[F.lit(w) for w in words])

    docs = (
        spark.range(0, 5_000 * scale, 1, 64)
        .select(
            F.col("id").alias("doc_id"),
            F.concat_ws(
                " ",
                F.transform(
                    F.sequence(F.lit(1), F.lit(60)),
                    lambda j: F.element_at(
                        warr,
                        (F.pmod(F.xxhash64(F.col("id"), j), F.lit(len(words))) + 1).cast(
                            "int"
                        ),
                    ),
                ),
            ).alias("text"),
            F.element_at(
                F.array(F.lit("en"), F.lit("de"), F.lit("fr")),
                (F.pmod(F.xxhash64(F.col("id"), F.lit(-1)), F.lit(3)) + 1).cast("int"),
            ).alias("lang"),
            F.lit("synthetic").alias("source"),
        )
        .withColumn("n_chars", F.length("text"))
    )
    docs.write.mode("overwrite").parquet(f"{out_dir}/documents.parquet")

    events = spark.range(0, 100_000 * scale, 1, 64).select(
        F.col("id").alias("event_id"),
        F.timestamp_seconds(F.lit(1_600_000_000) + F.col("id") % 2_592_000).alias("ts"),
        F.pmod(F.xxhash64(F.col("id"), F.lit(1)), F.lit(50_000)).alias("user_id"),
        F.element_at(
            F.array(F.lit("view"), F.lit("click"), F.lit("purchase")),
            (F.pmod(F.xxhash64(F.col("id"), F.lit(2)), F.lit(3)) + 1).cast("int"),
        ).alias("event_type"),
        (F.pmod(F.xxhash64(F.col("id"), F.lit(3)), F.lit(100_000)).cast("double")
         / F.lit(100.0)).alias("value"),
        F.lit('{"k":1}').alias("props"),
    )
    events.write.mode("overwrite").parquet(f"{out_dir}/events.parquet")

    li = spark.range(0, 600_000 * scale, 1, 64).select(
        (F.col("id") / 7).cast("long").alias("l_orderkey"),
        F.pmod(F.xxhash64(F.col("id"), F.lit(4)), F.lit(200_000)).alias("l_partkey"),
        F.pmod(F.xxhash64(F.col("id"), F.lit(5)), F.lit(10_000)).alias("l_suppkey"),
        (F.pmod(F.col("id"), F.lit(7)) + 1).cast("int").alias("l_linenumber"),
        (F.pmod(F.xxhash64(F.col("id"), F.lit(6)), F.lit(50)) + 1)
        .cast("double")
        .alias("l_quantity"),
        (F.pmod(F.xxhash64(F.col("id"), F.lit(7)), F.lit(90_000)).cast("double")
         / F.lit(100.0) + F.lit(100.0)).alias("l_extendedprice"),
        (F.pmod(F.xxhash64(F.col("id"), F.lit(8)), F.lit(11)).cast("double")
         / F.lit(100.0)).alias("l_discount"),
        (F.pmod(F.xxhash64(F.col("id"), F.lit(9)), F.lit(9)).cast("double")
         / F.lit(100.0)).alias("l_tax"),
        F.element_at(
            F.array(F.lit("A"), F.lit("N"), F.lit("R")),
            (F.pmod(F.xxhash64(F.col("id"), F.lit(10)), F.lit(3)) + 1).cast("int"),
        ).alias("l_returnflag"),
        F.element_at(
            F.array(F.lit("O"), F.lit("F")),
            (F.pmod(F.xxhash64(F.col("id"), F.lit(11)), F.lit(2)) + 1).cast("int"),
        ).alias("l_linestatus"),
        F.timestamp_seconds(
            F.lit(800_000_000) + F.pmod(F.xxhash64(F.col("id"), F.lit(12)), F.lit(2500))
            * 86_400
        ).alias("l_shipdate"),
    )
    li.write.mode("overwrite").parquet(f"{out_dir}/lineitem.parquet")

    orders = spark.range(0, 150_000 * scale, 1, 64).select(
        F.col("id").alias("o_orderkey"),
        F.pmod(F.xxhash64(F.col("id"), F.lit(13)), F.lit(100_000)).alias("o_custkey"),
        F.element_at(
            F.array(F.lit("O"), F.lit("F"), F.lit("P")),
            (F.pmod(F.xxhash64(F.col("id"), F.lit(14)), F.lit(3)) + 1).cast("int"),
        ).alias("o_orderstatus"),
        (F.pmod(F.xxhash64(F.col("id"), F.lit(15)), F.lit(40_000_000)).cast("double")
         / F.lit(100.0)).alias("o_totalprice"),
        F.timestamp_seconds(
            F.lit(800_000_000) + F.pmod(F.xxhash64(F.col("id"), F.lit(16)), F.lit(2400))
            * 86_400
        ).alias("o_orderdate"),
        F.element_at(
            F.array(*[F.lit(p) for p in
                      ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")]),
            (F.pmod(F.xxhash64(F.col("id"), F.lit(17)), F.lit(5)) + 1).cast("int"),
        ).alias("o_orderpriority"),
    )
    orders.write.mode("overwrite").parquet(f"{out_dir}/orders.parquet")


def child_run(data_dir: str, reps: int, entries: list[str]) -> None:
    spark, qs = bench_session("core_scaling_probe", local_master())
    out = {
        name: round(min(time_reps(qs[name], spark, data_dir, reps, f"core_scaling:{name}")[0]), 3)
        for name in entries
    }
    print("CHILD_RESULT " + json.dumps(out), flush=True)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cpus", default="32,8")
    ap.add_argument("--scale", type=int, default=20)
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument(
        "--passes",
        type=int,
        default=2,
        help="interleaved child passes per core count (32,8,32,8,...): "
        "this host's documented era drift (BASELINE.md noise envelope, "
        "2.4x between consecutive identical processes) poisons any "
        "single sequential A-then-B comparison, so the ratio is taken "
        "over the per-entry BEST across interleaved passes",
    )
    ap.add_argument("--data-dir", default=None)
    ap.add_argument(
        "--entries",
        default=",".join(ENTRIES),
        help="comma-separated subset of the default entry list (big "
        "--scale runs drop the corpus-quadratic-ish entries to keep "
        "the run bounded)",
    )
    ap.add_argument("--child-run", default=None, help=argparse.SUPPRESS)
    args = ap.parse_args()
    entries = [e.strip() for e in args.entries.split(",") if e.strip()]

    if args.child_run:
        child_run(args.child_run, args.reps, entries)
        return 0

    import tempfile

    from financial_data_stream_processing_engine_spark.session import get_spark

    data_dir = args.data_dir
    if data_dir is None:
        # plain mkdtemp, NOT io_utils.scratch_dir: the child processes
        # (and a re-run via --data-dir) must outlive this orchestrator,
        # so no atexit cleanup — the dir is printed for manual reuse
        # and removal
        data_dir = tempfile.mkdtemp(prefix="core_scaling_data_")
        spark = get_spark("core_scaling_gen", master="local[32]")
        t0 = time.time()
        generate(spark, data_dir, args.scale)
        print(f"generated synthetic {args.scale}x data in {time.time()-t0:.1f}s "
              f"at {data_dir}", flush=True)
        spark.stop()

    results: dict[str, dict[str, float]] = {}
    cpu_points = [c.strip() for c in args.cpus.split(",")]
    for p in range(args.passes):
        for cpus in cpu_points:
            env = dict(os.environ, SPARK_GRAFT_CPUS=cpus)
            proc = subprocess.run(
                [sys.executable, __file__, "--child-run", data_dir,
                 "--reps", str(args.reps), "--entries", args.entries],
                env=env, capture_output=True, text=True,
            )
            line = [
                ln for ln in proc.stdout.splitlines()
                if ln.startswith("CHILD_RESULT ")
            ]
            if not line:
                print(proc.stdout[-2000:], file=sys.stderr)
                print(proc.stderr[-2000:], file=sys.stderr)
                raise RuntimeError(f"child run at {cpus} cores produced no result")
            got = json.loads(line[-1].removeprefix("CHILD_RESULT "))
            print(f"-- pass {p} {cpus} cores: {got}", flush=True)
            prev = results.setdefault(cpus, got)
            if prev is not got:
                for k, v in got.items():
                    prev[k] = min(prev[k], v)

    lo, hi = cpu_points[-1], cpu_points[0]
    per_entry = {}
    for name in entries:
        t_hi, t_lo = results[hi][name], results[lo][name]
        per_entry[name] = {
            f"t{hi}": t_hi,
            f"t{lo}": t_lo,
            "ratio": round(t_lo / t_hi, 2) if t_hi else None,
        }
        print(f"{name:32s} {hi}c={t_hi:8.2f}s {lo}c={t_lo:8.2f}s "
              f"ratio={per_entry[name]['ratio']}")
    payload = {
        "metric": "core_scaling_probe",
        "scale_multiplier": args.scale,
        "cpus": cpu_points,
        "entries": per_entry,
    }
    print(json.dumps(payload, separators=(",", ":")), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
