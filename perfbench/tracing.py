"""Spans recorded from outside the engine, around its public calls.

:class:`Tracer` wraps public entry points of the engine for the length
of a traced run and records one span per call: name, label (the table
for ``SnapshotStore`` writes), start, end, the thread that made the call,
the span that was open on that thread (its parent) and the crawl wave
the call belongs to. Spans stay in memory; ``dump`` writes them out once
the run ends. A layer's self time is its span time minus the part of it
covered by its child spans.

:class:`NullTracer` is the untraced form: the same interface, no work.
"""

from __future__ import annotations

import contextlib
import inspect
import json
import threading
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    label: str | None
    wave: int | None
    thread: str
    start: float
    end: float

    @property
    def dur(self) -> float:
        return self.end - self.start


class NullTracer:
    enabled = False

    @contextlib.contextmanager
    def span(self, name: str, label: str | None = None, wave: int | None = None):
        yield

    def install(self) -> None:
        pass

    def uninstall(self) -> None:
        pass


class Tracer:
    enabled = True

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._next_id = 0
        self._patches: list[tuple[object, str, object]] = []
        # (end, seconds) the recorder spent in spans and wrappers, outside
        # the calls they time
        self._overhead: list[tuple[float, float]] = []
        # wave of the most recent visit-log write: the first write of every wave
        self.current_wave: int | None = None

    @contextlib.contextmanager
    def span(self, name: str, label: str | None = None, wave: int | None = None):
        t0 = time.perf_counter()
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            self._next_id += 1
            sid = self._next_id
        parent = stack[-1] if stack else None
        if wave is None:
            wave = self.current_wave
        stack.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            stack.pop()
            span = Span(sid, parent, name, label, wave,
                        threading.current_thread().name, start, end)
            with self._lock:
                self.spans.append(span)
            self._own(start - t0 + time.perf_counter() - end)

    def _own(self, seconds: float) -> None:
        """Record time the recorder itself took, ending now."""
        with self._lock:
            self._overhead.append((time.perf_counter(), seconds))

    # ------------------------------------------------------------ patching
    def wrap(self, owner: object, attr: str, name: str, label_arg: str | None = None,
             wave_of=None) -> None:
        """Replace ``owner.attr`` by a wrapper that records a span per call.

        ``label_arg`` names the argument used as the span label;
        ``wave_of(bound_arguments)`` gives the span's wave, if the call
        carries one."""
        orig = getattr(owner, attr)
        sig = inspect.signature(orig)
        tracer = self

        def wrapper(*args, **kwargs):
            t0 = time.perf_counter()
            label = wave = None
            if label_arg is not None or wave_of is not None:
                bound = sig.bind(*args, **kwargs).arguments
                if label_arg is not None:
                    label = str(bound.get(label_arg))
                if wave_of is not None:
                    wave = wave_of(bound)
            tracer._own(time.perf_counter() - t0)
            with tracer.span(name, label, wave):
                return orig(*args, **kwargs)

        wrapper.__wrapped__ = orig
        self._patches.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def install(self) -> None:
        """Wrap the engine's public calls named in the benchmark spec."""
        from crawler_tjce_spark.plans import cuckoo
        from crawler_tjce_spark.sources.tableio import SnapshotStore
        from crawler_tjce_spark.streaming.runner import CrawlRunner

        for method in ("prepare", "run_waves", "ttl_evict", "requeue"):
            self.wrap(CrawlRunner, method, f"runner.{method}")

        def wave_arg(bound):
            w = bound.get("wave")
            return w if isinstance(w, int) else None

        def visits_wave(bound):
            w = wave_arg(bound)
            if bound.get("table") == "visits" and w is not None:
                self.current_wave = w
            return w

        self.wrap(SnapshotStore, "write_wave", "tableio.write_wave", "table", visits_wave)
        self.wrap(SnapshotStore, "write_full", "tableio.write_full", "table", wave_arg)
        self.wrap(SnapshotStore, "commit", "tableio.commit", None,
                  lambda b: b["manifest"].get("wave", 0) - 1)
        self.wrap(cuckoo, "build_cuckoo", "cuckoo.build_cuckoo")
        self.wrap(cuckoo, "insert_distributed", "cuckoo.insert_distributed")

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    # ------------------------------------------------------------ analysis
    def wrapper_s(self, t0: float, t1: float) -> float:
        """Seconds the recorder itself took (span bookkeeping and argument
        binding in the wrappers), for records ending in [t0, t1]."""
        return sum(d for end, d in self._overhead if t0 <= end <= t1)

    def between(self, t0: float, t1: float) -> list[Span]:
        return [s for s in self.spans if s.start >= t0 and s.end <= t1]

    def total(self, spans: list[Span], name: str, label: str | None = None) -> float:
        return sum(s.dur for s in spans
                   if s.name == name and (label is None or s.label == label))

    def self_times(self, spans: list[Span]) -> dict[str, float]:
        """Self time per span name: duration minus the union of its
        children's intervals (children clipped to the parent)."""
        children: dict[int, list[Span]] = {}
        for s in spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out: dict[str, float] = {}
        for s in spans:
            covered = 0.0
            cur_start = cur_end = None
            for c in sorted(children.get(s.id, []), key=lambda c: c.start):
                a, b = max(c.start, s.start), min(c.end, s.end)
                if b <= a:
                    continue
                if cur_end is None or a > cur_end:
                    if cur_end is not None:
                        covered += cur_end - cur_start
                    cur_start, cur_end = a, b
                else:
                    cur_end = max(cur_end, b)
            if cur_end is not None:
                covered += cur_end - cur_start
            out[s.name] = out.get(s.name, 0.0) + s.dur - covered
        return out

    def dump(self, path: str, t0: float) -> None:
        rows = []
        for s in sorted(self.spans, key=lambda s: s.start):
            d = asdict(s)
            d["start"] = round(s.start - t0, 6)
            d["end"] = round(s.end - t0, 6)
            rows.append(d)
        with open(path, "w") as f:
            json.dump(rows, f, indent=0)


def group_times(spark) -> dict[str, dict[str, float]]:
    """Executor time per Spark job group so far (``perf.stage_attribution``)."""
    from crawler_tjce_spark.perf import stage_attribution

    return stage_attribution(spark) or {}


def group_delta(before: dict, after: dict) -> dict[str, dict[str, float]]:
    """Per-group executor time spent between two ``group_times`` snapshots."""
    out: dict[str, dict[str, float]] = {}
    for g, rec in after.items():
        prev = before.get(g, {})
        out[g] = {k: v - prev.get(k, 0) for k, v in rec.items()}
    return out
