"""The tick-pipeline benchmark: one command, every metric by name and unit.

    python3 perfbench/run.py --workload live_alerts --seed 1 --seconds 20 --trace 0

Run from the root of a checkout.  The last line of standard output is
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(every end-to-end metric of ``BENCHMARK.json`` with ``--trace 0``,
every per-layer metric with ``--trace 1``).  Progress notes go to
standard error.  See ``perfbench/NOTES.md`` for the workloads, the
metrics and how to read them.

Launch environment, set here before the JVM starts:

* ``PYTHONPATH`` names the checkout, so Spark's Python workers can
  import the package whatever the working directory is;
* the master is ``local[N]`` with N the CPUs this process may use;
* ``TZ=UTC``, so collected timestamps convert back to the generator's
  epoch microseconds;
* Spark's local dirs, the JVM's and Python's temp dirs, spools and
  checkpoints all live in a per-run work directory inside the checkout,
  removed at exit.  A traced run writes its spans to
  ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "financial_data_stream_processing_engine_spark"
#: workload name -> module that runs it
WORKLOADS = {"live_alerts": "perfbench.live", "backfill": "perfbench.backfill"}


class Context:
    """What a workload gets: its seed, run length, tracer, master and a
    private work directory."""

    def __init__(self, seed: int, seconds: int, tracer, workdir: str, master: str):
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.workdir = workdir
        self.master = master
        self.here = HERE

    def fresh_dir(self, name: str) -> str:
        path = os.path.join(self.workdir, name)
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        return path

    def note(self, what: str, **fields) -> None:
        print(json.dumps({"note": what, **fields}, default=str), file=sys.stderr, flush=True)


def _configure_env(workdir: str) -> str:
    tmp = os.path.join(workdir, "tmp")
    local = os.path.join(workdir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options -Djava.io.tmpdir={tmp} "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )
    for var in ("SPARK_GRAFT_MASTER", "SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM"):
        os.environ.pop(var, None)
    return f"local[{len(os.sched_getaffinity(0))}]"


def _descendants() -> list[int]:
    from perfbench import procstat

    table = procstat.process_table()
    return [pid for pid in procstat.roles(table, os.getpid()) if pid != os.getpid()]


def _shutdown_jvm() -> None:
    """Stop the py4j gateway's JVM and every process below this one,
    and wait until each has ended."""
    pids = _descendants()
    try:
        from pyspark import SparkContext

        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=30)
    except ImportError:
        pass
    deadline = time.time() + 30
    for sig in (signal.SIGTERM, signal.SIGKILL):
        while pids and time.time() < deadline:
            pids = [p for p in pids if os.path.exists(f"/proc/{p}") and _alive(p)]
            if pids:
                time.sleep(0.1)
        for p in pids:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        deadline = time.time() + 10


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description="tick-pipeline benchmark")
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "engine.py")):
        print(f"perfbench: {PACKAGE}/ not found under {ROOT}; run from a checkout",
              file=sys.stderr)
        return 2
    spec = _spec()
    # SIGTERM unwinds like an error, so the JVM is stopped and the work
    # directory removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    workdir = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    shutil.rmtree(workdir, ignore_errors=True)  # left by a killed run with this pid
    os.makedirs(workdir)
    try:
        master = _configure_env(workdir)
        sys.path[:0] = [ROOT]
        from perfbench.trace import Tracer

        tracer = Tracer(enabled=bool(args.trace))
        ctx = Context(args.seed, args.seconds, tracer, workdir, master)
        mod = importlib.import_module(WORKLOADS[args.workload])
        try:
            out = mod.run(ctx)
        finally:
            _shutdown_jvm()
        result = _result(spec, out, args.trace)
        if tracer.enabled:
            outdir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(outdir, exist_ok=True)
            tracer.write(os.path.join(outdir, f"{args.workload}-seed{args.seed}-spans.json"))
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


def _result(spec: dict, out: dict, trace: int) -> dict:
    """The result line.  Untraced: the end-to-end metrics.  Traced: the
    per-layer metrics, plus the traced run's own end-to-end values as
    ``traced.*`` so tracing overhead (traced minus untraced) can be read
    off.  A per-layer metric of a layer the workload does not exercise
    (operators on ``live_alerts``, streaming on ``backfill``) reads 0."""
    if not trace:
        metrics = {m["name"]: (out["e2e"][m["name"]], m["unit"]) for m in spec["end_to_end"]}
    else:
        metrics = {}
        for m in spec["per_layer"]:
            name = m["name"]
            if name.startswith("traced."):
                value = out["e2e"][name[len("traced."):]]
            else:
                value = out["layers"].get(name, 0)
            metrics[name] = (value, m["unit"])
    return {
        "correct": bool(out["correct"]),
        "attempted": int(out["attempted"]),
        "failed": int(out["failed"]),
        "metrics": {n: {"value": v, "unit": u} for n, (v, u) in metrics.items()},
    }


if __name__ == "__main__":
    sys.exit(main())
