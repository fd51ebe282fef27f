"""recrawl_cuckoo: crawl with the cuckoo seen-set, evict, requeue, resume.

Each run builds a seeded world with ``datagen``, drives
``streaming.runner.CrawlRunner`` through its public methods and checks
the result against ``refsim.simulate``, the single-threaded reference
crawl, outside the timed windows:

1. set-up, ``SETUP_REPS`` times on fresh stores: runner construction and
   ``prepare(resume=False)`` (bootstrap and cuckoo filter init);
2. crawl, with flaky fetches and the image payload on, in the runner's
   own wave loop until the run's deadline (at least one wave): a timer
   lowers ``runner.max_waves``, which the loop reads before each wave,
   so the wave in flight finishes and its payload drains;
3. restart: ``ttl_evict`` a seeded slice of the seen URLs, ``requeue`` a
   seeded slice of the visited URLs, then construct a fresh runner on the
   same store and ``prepare(resume=True)``. This is the set-up of a
   re-crawl, so ``setup_s`` counts it once beside the median set-up.
"""

from __future__ import annotations

import collections
import json
import os
import threading
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from common import dir_mb, median

SETUP_REPS = 3  # prepares per run; setup_s reports their median

# Many hosts with small politeness budgets: the per-host budget comes from a
# seeded crawl delay, and over 1,024 hosts its sum (the URLs fetched per
# wave) varies by about 1% from seed to seed, which keeps the figures steady.
WORLD = dict(n_hosts=1024, n_pages=15_000, hot_host_share=0.1, budget_scale=2,
             images_per_page=4)
WIDEN_SEEDS = 3_000  # seed list: a seeded sample of pages, as bench.py widens it
RUNNER = dict(seen_filter="cuckoo", flaky_fetch=True, fetch_images=True,
              bloom_expected=200_000)  # filter capacity: a few times the world
EVICT_URLS = 200
REQUEUE_URLS = 40


@dataclass
class Outcome:
    """The measured crawl, the maintenance calls and the checks."""

    window_s: float = 0.0
    visits: int = 0
    wave_s: list[float] = field(default_factory=list)
    entries: list[dict] = field(default_factory=list)
    frontier_rows: list[int] = field(default_factory=list)
    extra: dict[str, float] = field(default_factory=dict)
    groups: dict = field(default_factory=dict)
    span: tuple[float, float] = (0.0, 0.0)  # crawl start to the end of the resume
    crawl_end: float = 0.0
    checks: int = 0
    failed: int = 0
    notes: list[str] = field(default_factory=list)

    def check(self, ok: bool, what: str) -> None:
        self.checks += 1
        if not ok:
            self.failed += 1
            self.notes.append(f"CHECK FAILED: {what}")


# ------------------------------------------------------------------- inputs
def build_world(run_dir: str, seed: int) -> str:
    from crawler_tjce_spark.datagen import WorldConfig, write_world

    world = os.path.join(run_dir, "world")
    write_world(WorldConfig(seed=seed, **WORLD), world)
    urls = pq.read_table(f"{world}/pages.parquet", columns=["url"])["url"].to_pylist()
    rng = np.random.default_rng(seed + 7)
    idx = rng.choice(len(urls), size=min(WIDEN_SEEDS, len(urls)), replace=False)
    pq.write_table(pa.table({"url": [urls[i] for i in sorted(idx)]}),
                   f"{world}/seeds.parquet")
    return world


def _page_column(world_dir: str, col: str) -> dict[str, list[str]]:
    pages = pq.read_table(f"{world_dir}/pages.parquet", columns=["url", col])
    return dict(zip(pages["url"].to_pylist(), pages[col].to_pylist()))


def _is_blocked(url: str) -> bool:
    # datagen gives every host the same robots rule
    return url.split("://", 1)[1].partition("/")[2].startswith("private")


# -------------------------------------------------------------------- drive
def _runner(ctx, world_dir: str, store: str):
    from crawler_tjce_spark.streaming.runner import CrawlRunner

    return CrawlRunner(ctx.spark, world_dir, store, **RUNNER)


def _crawl_until(runner, manifest: dict, deadline: float, out: Outcome) -> dict:
    """Run the runner's wave loop until the deadline (at least one wave)."""
    first = manifest["wave"]
    out.frontier_rows.append(manifest["frontier_rows"])
    runner.max_waves = 1 << 30
    delay = deadline - time.perf_counter()
    timer = None
    if delay <= 0:
        runner.max_waves = first + 1
    else:
        timer = threading.Timer(delay, setattr, args=(runner, "max_waves", 0))
        timer.daemon = True
        timer.start()
    wall0 = time.time()
    t0 = time.perf_counter()
    try:
        manifest = runner.run_waves(manifest)
    finally:
        if timer is not None:
            timer.cancel()
    out.window_s += time.perf_counter() - t0
    entries = [e for e in manifest["metrics"] if e["wave"] >= first]
    out.entries.extend(entries)
    out.frontier_rows.extend(e["frontier_next"] for e in entries[:-1])
    out.visits += sum(e["picked"] for e in entries)
    # wave time: from the wave's start to its commit, payload tail included.
    # Starts follow from the runner's own per-wave elapsed times; commit times
    # come from the store's snapshot log (the first commit naming wave + 1).
    committed = {}
    for snap in runner.store.snapshots():
        committed.setdefault(snap["wave"] - 1, snap["committed_at"])
    start = wall0
    for e in entries:
        out.wave_s.append(committed[e["wave"]] - start)
        start += e["elapsed_sec"]
    return manifest


def _check(ctx, out: Outcome, runner, world_dir: str, waves: int):
    """Per wave: visit order and payload rows vs refsim; then the seen set
    and payload fidelity. Returns the reference crawl."""
    from pyspark.sql import functions as F

    from crawler_tjce_spark import refsim
    from crawler_tjce_spark.payload import fidelity_check_spark

    ref = refsim.simulate(world_dir, max_waves=waves, flaky_fetch=True)
    want: dict[int, list[tuple[int, str]]] = collections.defaultdict(list)
    for ordem, url, wave, _host in ref.visits:
        want[wave].append((ordem, url))
    got: dict[int, list[tuple[int, str]]] = collections.defaultdict(list)
    for r in runner.visits_df().select("ordem", "url", "wave").collect():
        got[r["wave"]].append((r["ordem"], r["url"]))
    landed = runner.store.read_all_waves(ctx.spark, "payload")
    ids: dict[int, list[str]] = collections.defaultdict(list)
    for r in landed.select("image_id", "wave_fetched").collect():
        ids[r["wave_fetched"]].append(r["image_id"])
    images = _page_column(world_dir, "image_refs")
    links = _page_column(world_dir, "out_links")
    candidates = 0
    for w in range(waves):
        out.check(sorted(got[w]) == want[w], f"visit order of wave {w}")
        # retry-exhausted fetches are visited but land and expand nothing
        fetched = [u for _o, u in want[w] if ref.fetch_lineage[u][1] == "ok"]
        expect = {i for u in fetched for i in images[u]}
        out.check(len(ids[w]) == len(expect) and set(ids[w]) == expect,
                  f"payload rows of wave {w} ({len(ids[w])} vs {len(expect)} image refs)")
        candidates += len({link for u in fetched for link in links[u]})
    seen = {r["url"] for r in runner.seen_final_df().collect()}
    out.check(seen == ref.seen, f"seen set ({len(seen)} vs {len(ref.seen)} urls)")
    bad = (fidelity_check_spark(landed)
           .filter(~(F.col("pixels_ok") & F.col("caption_ok"))).count())
    out.check(bad == 0, f"payload fidelity ({bad} bad rows)")
    out.extra["payload_images"] = float(sum(len(v) for v in ids.values()))
    out.extra["candidate_links"] = float(candidates)
    return ref


def run(ctx) -> dict:
    world_dir = build_world(ctx.run_dir, ctx.seed)

    setup_s, prepare_spans = [], []
    for i in range(SETUP_REPS):
        t0 = time.perf_counter()
        runner = _runner(ctx, world_dir, os.path.join(ctx.run_dir, f"store{i}"))
        manifest = runner.prepare(resume=False)
        t1 = time.perf_counter()
        setup_s.append(t1 - t0)
        prepare_spans.append((t0, t1))
    store = runner.store.root  # the last set-up is the one that crawls

    out = Outcome()
    g0 = ctx.groups()
    t_start = time.perf_counter()
    manifest = _crawl_until(runner, manifest, t_start + ctx.seconds, out)
    out.crawl_end = t_end = time.perf_counter()
    out.groups = ctx.group_delta(g0)
    waves = manifest["wave"]
    ref = _check(ctx, out, runner, world_dir, waves)

    # seeded slices: evict seen URLs, requeue visited ones (disjoint)
    rng = np.random.default_rng(ctx.seed + 11)
    visited = sorted({u for _o, u, _w, _h in ref.visits})
    requeue = [visited[i] for i in
               sorted(rng.choice(len(visited), size=REQUEUE_URLS, replace=False))]
    pool = sorted(ref.seen - set(requeue))
    evict = [pool[i] for i in sorted(rng.choice(len(pool), size=EVICT_URLS, replace=False))]

    t0 = time.perf_counter()
    removed = runner.ttl_evict(evict)
    t1 = time.perf_counter()
    runner.requeue(requeue)
    t2 = time.perf_counter()
    resumed = _runner(ctx, world_dir, store)
    m2 = resumed.prepare(resume=True)
    t3 = time.perf_counter()
    out.span = (t_start, t3)
    out.extra.update(evict_s=t1 - t0, requeue_s=t2 - t1, resume_s=t3 - t2,
                     removed_ratio=removed / EVICT_URLS)

    # the resumed state: evicted URLs left the seen set, requeued ones joined
    # the frontier, the global visit counter carried over
    out.check(removed == EVICT_URLS, f"ttl_evict removed {removed} of {EVICT_URLS}")
    out.check(m2["wave"] == waves and m2["ordem_offset"] == len(ref.visits),
              f"resumed at wave {m2['wave']}, ordem {m2['ordem_offset']}")
    seen = {r["url"] for r in resumed.seen_final_df().collect()}
    out.check(seen == ref.seen - set(evict),
              f"seen set after evict ({len(seen)} vs {len(ref.seen) - EVICT_URLS} urls)")
    ref_frontier = [u for u in ref.seen - set(visited) if not _is_blocked(u)]
    frontier = [r["url"] for r in
                ctx.spark.read.parquet(m2["frontier_path"]).select("url").collect()]
    out.check(sorted(frontier) == sorted(ref_frontier + requeue),
              f"frontier after requeue ({len(frontier)} vs "
              f"{len(ref_frontier) + len(requeue)} urls)")

    steps = collections.defaultdict(list)
    for e in out.entries:
        for k, v in e["steps"].items():
            steps[k].append(v)
    result = {
        "work_per_s": out.visits / out.window_s,
        "step_samples_ms": [w * 1000.0 for w in out.wave_s],
        "setup_samples_s": setup_s,
        "restart_s": t3 - t0,
        "attempted": len(out.entries) + out.checks,
        "failed": out.failed,
        "notes": out.notes + [
            f"recrawl_cuckoo: {out.visits} urls in {len(out.entries)} waves over a "
            f"{out.window_s:.2f} s window; wave s "
            + ", ".join(f"{w:.2f}" for w in out.wave_s)
            + "; steps p50 " + json.dumps({k: round(median(v), 3) for k, v in steps.items()}),
            f"evict_s {t1 - t0:.3f}, requeue_s {t2 - t1:.3f}, resume_s {t3 - t2:.3f}; "
            f"evicted {EVICT_URLS} (removed {removed}), requeued {REQUEUE_URLS}",
        ],
    }
    if ctx.tracer.enabled:
        result["per_layer"] = per_layer(ctx, out, steps, prepare_spans, store)
        result["per_layer"]["trace.work_per_s"] = result["work_per_s"]
        result["per_layer"]["trace.wrapper_share"] = (
            ctx.tracer.wrapper_s(t_start, t_end) / out.window_s)
    return result


# ---------------------------------------------------------------- per layer
def per_layer(ctx, out: Outcome, steps: dict, prepare_spans, store: str) -> dict:
    tr = ctx.tracer
    waves = len(out.entries)
    res: dict[str, float] = {}
    for step in ("pick_ordem", "side_drain", "links_anti_join", "side_jobs",
                 "payload_tail"):
        res[f"runner.step.{step}_s"] = median(steps.get(step, []))
    res["runner.steps_share"] = sum(
        res[f"runner.step.{s}_s"] for s in
        ("pick_ordem", "side_drain", "links_anti_join", "side_jobs")) / median(out.wave_s)

    inits, boots = [], []
    for t0, t1 in prepare_spans:
        spans = tr.between(t0, t1)
        init = tr.total(spans, "cuckoo.build_cuckoo")
        inits.append(init)
        boots.append(tr.total(spans, "runner.prepare") - init)
    res["seen.filter_init_s"] = median(inits)
    res["runner.bootstrap_s"] = median(boots)
    res["runner.resume_s"] = out.extra["resume_s"]
    res["cuckoo.evict_s"] = out.extra["evict_s"]
    res["cuckoo.requeue_s"] = out.extra["requeue_s"]
    res["cuckoo.removed_ratio"] = out.extra["removed_ratio"]

    picked = [e["picked"] for e in out.entries]
    res["frontier.rows"] = float(np.mean(out.frontier_rows))
    res["frontier.picked"] = float(np.mean(picked))
    res["frontier.pick_ratio"] = sum(picked) / sum(out.frontier_rows)

    def grp(g: str, k: str) -> float:
        return out.groups.get(g, {}).get(k, 0.0) / waves

    res["runner.jobs_per_wave"] = sum(r.get("jobs", 0) for r in out.groups.values()) / waves
    for g in ("pick_ordem", "links_seen", "bloom_update", "seen_idx", "metrics",
              "frontier_write", "payload_fetch"):
        res[f"group.{g}.run_s"] = grp(g, "run_s")
        res[f"group.{g}.cpu_s"] = grp(g, "cpu_s")
        res[f"group.{g}.shuffle_mb"] = grp(g, "shuffle_write_mb")
    res["frontier.pick_run_s"] = grp("pick_ordem", "run_s")
    res["frontier.pick_cpu_s"] = grp("pick_ordem", "cpu_s")
    res["seen.links_run_s"] = grp("links_seen", "run_s")
    res["seen.links_shuffle_mb"] = grp("links_seen", "shuffle_write_mb")
    # the runner tags the seen-filter update "bloom_update" for either filter
    res["seen.filter_update_run_s"] = grp("bloom_update", "run_s")

    c: collections.Counter = collections.Counter()
    for e in out.entries:
        c.update(e["counters"])
    res["seen.new_ratio"] = c["links_discovered_total"] / out.extra["candidate_links"]
    res["fetch.attempts_per_request"] = c["fetch_attempts_total"] / c["requests_total"]
    res["fetch.error_share"] = c["errors_fetch_total"] / c["requests_total"]

    images = out.extra["payload_images"]
    res["payload.images"] = images / waves
    res["payload.run_s"] = grp("payload_fetch", "run_s")
    res["payload.core_s_per_image"] = (
        out.groups.get("payload_fetch", {}).get("run_s", 0.0) / images)
    res["payload.mb_written"] = dir_mb(os.path.join(store, "payload")) / waves

    spans = tr.between(*out.span)
    crawl = tr.between(out.span[0], out.crawl_end)
    res["payload.window_share"] = tr.total(crawl, "tableio.write_wave", "payload") / out.window_s
    for t in ("visits", "discovered", "payload", "metrics", "duration_hist"):
        res[f"tableio.write_s.{t}"] = tr.total(crawl, "tableio.write_wave", t) / waves
    res["tableio.write_s.frontier"] = tr.total(crawl, "tableio.write_full", "frontier") / waves
    res["tableio.commit_s"] = tr.total(crawl, "tableio.commit") / waves
    res["tableio.mb_written"] = dir_mb(store) / waves
    for name, v in tr.self_times(spans).items():
        res[f"self_s.{name}"] = v
    return res
