"""Per-entry optimization probe (round 17, guide §1).

Times one or more catalog entries solo — fresh-session semantics are the
caller's job (run one process per comparison) — with the noop sink
(guide §1.4), labels the jobs (§1.5), and optionally writes the
``.explain("formatted")`` output to a file for the plan ledger
(plans/r17/<name>_{before,after}.txt).

Usage:
    python tools/opt_probe.py [--reps N] [--plan-dir DIR] [--tag TAG]
                              [--sf-dir DIR] query [query ...]

Prints one JSON line per query: {"query": ..., "reps_sec": [...],
"best_sec": ..., "exchanges": N, "wscg": N, "python_nodes": N}.

Plan capture caveat: entries that execute eagerly inside their builder
(streaming entries, round-trip writers) return a small materialized
result; their "plan" is the final frame's, and the timing covers the
whole builder call — same convention as bench.py.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from bench import bench_session, local_master, time_reps  # noqa: E402


def formatted_plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--plan-dir", default=None)
    ap.add_argument("--tag", default="before")
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    args = ap.parse_args()

    spark, qs = bench_session("opt_probe", local_master())

    for name in args.queries:
        times, df = time_reps(qs[name], spark, args.sf_dir, args.reps, f"opt_probe:{name}")
        reps = [round(t, 3) for t in times]
        plan_txt = formatted_plan(df)
        stats = {
            "query": name,
            "reps_sec": reps,
            "best_sec": min(reps),
            "exchanges": len(re.findall(r"\bExchange\b", plan_txt)),
            # formatted explain marks codegen spans as "[codegen id : N]"
            "wscg": len(set(re.findall(r"codegen id : (\d+)", plan_txt))),
            "python_nodes": len(
                re.findall(r"BatchEvalPython|ArrowEvalPython|MapInPandas|MapInArrow|FlatMapGroupsInPandas", plan_txt)
            ),
        }
        if args.plan_dir:
            out = Path(args.plan_dir)
            out.mkdir(parents=True, exist_ok=True)
            (out / f"{name}_{args.tag}.txt").write_text(plan_txt)
        print(json.dumps(stats, separators=(",", ":")), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
