"""Benchmark entry point.

    python3 perfbench/run.py --workload recrawl_cuckoo --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. Generates the workload's inputs from
``--seed`` inside ``.perfbench/`` under the checkout, starts the engine's
Spark session at ``local[4]``, measures for ``--seconds``, checks every
output against its oracle, stops the JVM and prints a human-readable
report followed, as the last line, by one JSON object::

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` records
spans around the engine's public calls and reports the per-layer
metrics instead, and writes the spans to ``.perfbench/traces/``. Metric
names, units and bounds: ``spec.py``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


class Context:
    """What a workload needs from the harness."""

    def __init__(self, args, run_dir: str, spark, tracer):
        self.seed = args.seed
        self.seconds = float(args.seconds)
        self.run_dir = run_dir
        self.spark = spark
        self.tracer = tracer

    def groups(self) -> dict:
        """Executor time per job group so far; traced runs only."""
        from tracing import group_times

        return group_times(self.spark) if self.tracer.enabled else {}

    def group_delta(self, before: dict) -> dict:
        from tracing import group_delta

        return group_delta(before, self.groups()) if self.tracer.enabled else {}


def parse_args(argv: list[str]):
    import spec

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=spec.WORKLOAD_NAMES)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seconds < 1:
        ap.error("--seconds must be at least 1")
    return args


def prepare_process(run_dir: str) -> None:
    """Environment for the engine and its Python workers."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["TZ"] = "UTC"
    time.tzset()
    # workers are started by the JVM and must import the package too
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    sys.path.insert(0, ROOT)


def main(argv: list[str]) -> int:
    sys.path.insert(0, HERE)
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "crawler_tjce_spark")):
        print(f"perfbench: the engine package crawler_tjce_spark is not in {ROOT}",
              file=sys.stderr)
        return 2

    import spec
    from common import describe, median, peak_rss_mb, start_session
    from tracing import NullTracer, Tracer

    base = os.path.join(ROOT, ".perfbench")
    run_dir = os.path.join(base, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    session = None
    try:
        prepare_process(run_dir)
        tracer = Tracer() if args.trace else NullTracer()
        if args.workload == "dsr_ingest_serve":
            import dsr_serve as workload
        else:
            import crawl as workload
        session = start_session(run_dir, traced=bool(args.trace))
        ctx = Context(args, run_dir, session.spark, tracer)
        tracer.install()
        t0 = time.perf_counter()
        try:
            res = workload.run(ctx)
        finally:
            tracer.uninstall()
        rss = peak_rss_mb([os.getpid(), session.jvm_pid])
        if tracer.enabled:
            os.makedirs(os.path.join(base, "traces"), exist_ok=True)
            tracer.dump(os.path.join(base, "traces",
                                     f"{args.workload}-seed{args.seed}.json"), t0)
    finally:
        if session is not None:
            session.stop()
        shutil.rmtree(run_dir, ignore_errors=True)

    # a workload with a restart path (recrawl_cuckoo) sets up twice
    restart = res.get("restart_s", 0.0)
    values = {
        "work_per_s": res["work_per_s"],
        "step_p50_ms": median(res["step_samples_ms"]),
        "setup_s": session.start_s + median(res["setup_samples_s"]) + restart,
    }
    for line in res["notes"]:
        print(line)
    print(f"session start: {session.start_s:.3f} s; prepare/load samples: "
          + ", ".join(f"{s:.3f}" for s in res["setup_samples_s"])
          + f" s; restart: {restart:.3f} s")
    print(describe("step", res["step_samples_ms"], "ms"))
    print("end-to-end: " + ", ".join(f"{k}={v:.4g}" for k, v in values.items())
          + f"; peak RSS {rss:.0f} MB")

    if args.trace:
        layer = dict(res.get("per_layer", {}), **{"session.start_s": session.start_s,
                                                   "process.peak_rss_mb": rss})
        unknown = set(layer) - set(spec.PER_LAYER_UNITS)
        if unknown:
            raise KeyError(f"per-layer values outside the spec: {sorted(unknown)}")
        metrics = {n: {"value": float(layer.get(n, 0.0)), "unit": u}
                   for n, u in spec.PER_LAYER_UNITS.items()}
        for n, m in metrics.items():
            print(f"  {n} = {m['value']:.6g} {m['unit']}")
    else:
        metrics = {n: {"value": float(values[n]), "unit": u}
                   for n, u in spec.END_TO_END_UNITS.items()}
    failed = int(res["failed"])
    print(json.dumps({"correct": failed == 0, "attempted": int(res["attempted"]),
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
