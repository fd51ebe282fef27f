"""Ungated diagnostics: N→4N scaling and the single-thread baseline.

    python3 perfbench/diagnostics.py --seed 1 [--waves 3]

* Scaling: the same ``recrawl_cuckoo`` crawl (fixed wave count, fresh
  store, no evict) at ``local[1]`` and at ``local[4]``, each in its own
  process and JVM; efficiency = (time at 1 core / time at 4 cores) / 4.
* Single-thread baseline: ``refsim.simulate`` — the sequential reference
  crawl — over the same world and wave count.

Neither number is gated; both are printed, then one JSON line.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def child(cores: int, world_dir: str, waves: int, run_dir: str) -> None:
    """One crawl of a fixed number of waves at local[cores]; prints JSON."""
    import crawl
    from common import start_session
    from run import prepare_process

    prepare_process(run_dir)
    session = start_session(run_dir, cores=cores)
    try:
        from crawler_tjce_spark.streaming.runner import CrawlRunner

        runner = CrawlRunner(session.spark, world_dir, os.path.join(run_dir, "store"),
                             max_waves=waves, **crawl.RUNNER)
        manifest = runner.prepare(resume=False)
        t0 = time.perf_counter()
        manifest = runner.run_waves(manifest)
        window = time.perf_counter() - t0
        visits = sum(e["picked"] for e in manifest["metrics"])
        steps = [e["steps"] for e in manifest["metrics"]]
    finally:
        session.stop()
    print(json.dumps({"cores": cores, "window_s": window, "visits": visits,
                      "waves": manifest["wave"], "steps": steps}))


def main(argv: list[str]) -> int:
    sys.path.insert(0, HERE)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--waves", type=int, default=3)
    ap.add_argument("--child", type=int, default=0, help=argparse.SUPPRESS)
    ap.add_argument("--world", default="", help=argparse.SUPPRESS)
    ap.add_argument("--run-dir", default="", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    sys.path.insert(0, ROOT)
    if args.child:
        child(args.child, args.world, args.waves, args.run_dir)
        return 0

    import crawl

    from crawler_tjce_spark import refsim

    base = os.path.join(ROOT, ".perfbench", f"diag-{os.getpid()}")
    os.makedirs(base)
    out: dict = {"seed": args.seed}
    try:
        world_dir = crawl.build_world(base, args.seed)
        runs = {}
        for cores in (1, 4):
            run_dir = os.path.join(base, f"local{cores}")
            proc = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--child", str(cores),
                 "--world", world_dir, "--waves", str(args.waves), "--run-dir", run_dir],
                capture_output=True, text=True, timeout=900, check=True)
            runs[cores] = json.loads(proc.stdout.strip().splitlines()[-1])
            print(f"recrawl_cuckoo crawl at local[{cores}]: {runs[cores]['visits']} urls "
                  f"in {runs[cores]['waves']} waves, {runs[cores]['window_s']:.2f} s")
        eff = runs[1]["window_s"] / runs[4]["window_s"] / 4
        print(f"N->4N scaling efficiency: {eff:.3f}")
        out["scaling"] = {"local1_s": runs[1]["window_s"], "local4_s": runs[4]["window_s"],
                          "efficiency": eff, "waves": args.waves}

        t0 = time.perf_counter()
        ref = refsim.simulate(world_dir, max_waves=args.waves, flaky_fetch=True)
        dt = time.perf_counter() - t0
        print(f"refsim: {len(ref.visits)} urls in {ref.waves} waves, {dt:.3f} s "
              f"single-threaded ({len(ref.visits) / dt:.0f} urls/s)")
        out["refsim"] = {"seconds": dt, "urls": len(ref.visits), "waves": ref.waves}
    finally:
        shutil.rmtree(base, ignore_errors=True)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
