"""Benchmark specification: workloads, metrics, bounds and the layer map.

This module is the single source of ``BENCHMARK.json`` and of the map
from each per-layer metric to the end-to-end metric it should move:

    python3 perfbench/spec.py            # rewrite BENCHMARK.json
    python3 perfbench/spec.py --layers   # print the layer map as JSON

``BENCHMARK.json`` has a fixed key set, so the layer map lives here only.
"""

from __future__ import annotations

import json
import os
import sys

COMMAND = ["python3", "perfbench/run.py"]
PATHS = ["perfbench"]
RUN_SECONDS = 5

WORKLOADS = [
    (
        "recrawl_cuckoo",
        "crawl with the cuckoo seen-set, flaky fetches and image payload, then "
        "ttl_evict and requeue seeded slices and resume in a fresh runner",
    ),
    (
        "dsr_ingest_serve",
        "decode seeded Power BI DSR pages and land them as parquet and pt-BR CSV, "
        "then a one-client closed loop of entity lookups through api; no crawl "
        "code runs",
    ),
]

# (name, unit, better, bound). Every workload reports every metric; what
# "work" and "step" mean per workload is in README.md.
END_TO_END = [
    ("work_per_s", "1/s", "higher", 0.25),
    ("step_p50_ms", "ms", "lower", 0.25),
    ("setup_s", "s", "lower", 0.25),
]

_CRAWL_GROUPS = [
    "pick_ordem",
    "links_seen",
    "bloom_update",
    "seen_idx",
    "metrics",
    "frontier_write",
    "payload_fetch",
]
_TABLES = ["visits", "discovered", "frontier", "payload", "metrics", "duration_hist"]
# span names recorded by the traced run (perfbench/tracing.py)
SPANS = [
    "runner.prepare",
    "runner.run_waves",
    "runner.ttl_evict",
    "runner.requeue",
    "tableio.write_wave",
    "tableio.write_full",
    "tableio.commit",
    "cuckoo.build_cuckoo",
    "cuckoo.insert_distributed",
    "dsr.decode",
    "api.resolve_entity",
    "api.query",
]

# (name, unit, better, moves: (end-to-end metric, workloads))
_W = "work_per_s"
_S = "step_p50_ms"
_SET = "setup_s"
PER_LAYER = [
    # streaming.runner — manifest steps, per-wave medians
    ("runner.jobs_per_wave", "count", "lower", (_S, "recrawl_cuckoo")),
    ("runner.step.pick_ordem_s", "s", "lower", (_S, "recrawl_cuckoo")),
    ("runner.step.side_drain_s", "s", "lower", (_S, "recrawl_cuckoo")),
    ("runner.step.links_anti_join_s", "s", "lower", (_S, "recrawl_cuckoo")),
    ("runner.step.side_jobs_s", "s", "lower", (_S, "recrawl_cuckoo")),
    ("runner.step.payload_tail_s", "s", "lower", (_W, "recrawl_cuckoo")),
    ("runner.steps_share", "ratio", "higher", (_S, "recrawl_cuckoo")),
    ("runner.bootstrap_s", "s", "lower", (_SET, "recrawl_cuckoo")),
    # the restart (evict, requeue, resume) is counted in setup_s
    ("runner.resume_s", "s", "lower", (_SET, "recrawl_cuckoo")),
    # plans.frontier
    ("frontier.rows", "count", "higher", (_S, "recrawl_cuckoo")),
    ("frontier.picked", "count", "higher", (_S, "recrawl_cuckoo")),
    ("frontier.pick_ratio", "ratio", "higher", (_S, "recrawl_cuckoo")),
    ("frontier.pick_run_s", "s", "lower", (_S, "recrawl_cuckoo")),
    ("frontier.pick_cpu_s", "s", "lower", (_S, "recrawl_cuckoo")),
    # plans.seen / plans.cuckoo
    ("seen.links_run_s", "s", "lower", (_S, "recrawl_cuckoo")),
    ("seen.links_shuffle_mb", "MB", "lower", (_S, "recrawl_cuckoo")),
    ("seen.new_ratio", "ratio", "higher", (_S, "recrawl_cuckoo")),
    ("seen.filter_update_run_s", "s", "lower", (_S, "recrawl_cuckoo")),
    ("seen.filter_init_s", "s", "lower", (_SET, "recrawl_cuckoo")),
    ("cuckoo.evict_s", "s", "lower", (_SET, "recrawl_cuckoo")),
    ("cuckoo.requeue_s", "s", "lower", (_SET, "recrawl_cuckoo")),
    ("cuckoo.removed_ratio", "ratio", "higher", (_SET, "recrawl_cuckoo")),
    # plans.fetch — manifest counters
    ("fetch.attempts_per_request", "ratio", "lower", (_W, "recrawl_cuckoo")),
    ("fetch.error_share", "ratio", "lower", (_W, "recrawl_cuckoo")),
    # payload + datagen
    ("payload.images", "count", "higher", (_W, "recrawl_cuckoo")),
    ("payload.run_s", "s", "lower", (_W, "recrawl_cuckoo")),
    ("payload.core_s_per_image", "s", "lower", (_W, "recrawl_cuckoo")),
    ("payload.mb_written", "MB", "lower", (_W, "recrawl_cuckoo")),
    ("payload.window_share", "ratio", "lower", (_W, "recrawl_cuckoo")),
    # sources.tableio — traced write/commit calls, seconds per wave
    *[
        (f"tableio.write_s.{t}", "s", "lower", (_S, "recrawl_cuckoo"))
        for t in _TABLES
    ],
    ("tableio.commit_s", "s", "lower", (_S, "recrawl_cuckoo")),
    ("tableio.mb_written", "MB", "lower", (_S, "recrawl_cuckoo")),
    # sources.dsr
    ("dsr.pages", "count", "higher", (_W, "dsr_ingest_serve")),
    ("dsr.rows", "count", "higher", (_W, "dsr_ingest_serve")),
    ("dsr.decode_run_s", "s", "lower", (_W, "dsr_ingest_serve")),
    ("dsr.rows_per_core_s", "1/s", "higher", (_W, "dsr_ingest_serve")),
    # api
    ("api.resolve_s", "s", "lower", (_S, "dsr_ingest_serve")),
    ("api.query_s", "s", "lower", (_S, "dsr_ingest_serve")),
    ("api.rows_returned", "count", "higher", (_S, "dsr_ingest_serve")),
    # session and process
    ("session.start_s", "s", "lower", (_SET, "all")),
    # peak RSS (VmHWM) of the driver Python process plus its JVM; it varied by
    # 30% from run to run (the JVM heap grows lazily), too much for a bound
    ("process.peak_rss_mb", "MB", "lower", (_SET, "all")),
    # executor time per runner job group, per wave (perf.stage_attribution)
    *[
        (f"group.{g}.{k}", unit, "lower", (_S if g != "payload_fetch" else _W,
                                          "recrawl_cuckoo"))
        for g in _CRAWL_GROUPS
        for k, unit in (("run_s", "s"), ("cpu_s", "s"), ("shuffle_mb", "MB"))
    ],
    # self time of each traced span over the measured window
    *[(f"self_s.{s}", "s", "lower", (_W, "all")) for s in SPANS],
    # the traced run's own work rate: its gap to the untraced runs' work_per_s
    # is the tracing overhead; wrapper_share is the recorder's own time
    ("trace.work_per_s", "1/s", "higher", (_W, "all")),
    ("trace.wrapper_share", "ratio", "lower", (_W, "all")),
]

PER_LAYER_UNITS = {name: unit for name, unit, _b, _m in PER_LAYER}
END_TO_END_UNITS = {name: unit for name, unit, _b, _bd in END_TO_END}
WORKLOAD_NAMES = [name for name, _why in WORKLOADS]


def benchmark_json() -> dict:
    return {
        "command": COMMAND,
        "paths": PATHS,
        "run_seconds": RUN_SECONDS,
        "workloads": [{"name": n, "why": why} for n, why in WORKLOADS],
        "end_to_end": [
            {"name": n, "unit": u, "better": b, "bound": bd} for n, u, b, bd in END_TO_END
        ],
        "per_layer": [{"name": n, "unit": u, "better": b} for n, u, b, _m in PER_LAYER],
    }


def layer_map() -> dict[str, dict[str, str]]:
    """Per-layer metric → the end-to-end metric it should move, and where."""
    return {n: {"moves": m[0], "on": m[1]} for n, _u, _b, m in PER_LAYER}


def main(argv: list[str]) -> int:
    if "--layers" in argv:
        print(json.dumps(layer_map(), indent=2))
        return 0
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json"), "w") as f:
        f.write(json.dumps(benchmark_json(), indent=2) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
