"""Spans recorded from outside the engine.

A span is (name, start, end, parent). Spans live in memory and are written
out when the run ends. While a span is open, the calling thread's Spark job
description is the span name, so Spark's event log attributes every job the
span submits to it (``eventlog.counters_by_description``).

``crawl_targets`` and ``store_targets`` wrap the engine's public entry
points; ``patched`` swaps them in for the module attributes the crawl loop
looks up and restores the originals on exit. Nothing inside
``graven_spark`` is edited.
"""

from __future__ import annotations

import contextlib
import json
import threading
import time
from collections import defaultdict

DESC = "spark.job.description"


class Tracer:
    def __init__(self, sc=None, enabled: bool = True, tag: str = "main"):
        self.sc = sc  # SparkContext, for the per-thread job description
        self.tag = tag  # job descriptions read "<tag>:<span name> #<span id>"
        self.enabled = enabled  # a disabled tracer never records
        self.active = False  # span() and add() record only while active
        self.spans: list[dict] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._local = threading.local()
        self._main = threading.main_thread()
        self._main_stack: list[int] = []
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        if threading.current_thread() is self._main:
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def recording(self):
        """Record only inside this block."""
        self.active = self.enabled
        try:
            yield
        finally:
            self.active = False

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.active:
            yield None
            return
        stack = self._stack()
        # a pool thread's first span hangs off the main thread's open span
        # (the commit writes run on run_round's ThreadPoolExecutor)
        parent = stack[-1] if stack else (
            self._main_stack[-1] if self._main_stack else None)
        with self._lock:
            sid = len(self.spans)
            self.spans.append({"id": sid, "name": name, "parent": parent,
                               "start": time.perf_counter(), "end": None})
        prev = None
        if self.sc is not None:
            prev = self.sc.getLocalProperty(DESC)
            self.sc.setLocalProperty(DESC, f"{self.tag}:{name} #{sid}")
        stack.append(sid)
        try:
            yield self.spans[sid]
        finally:
            stack.pop()
            self.spans[sid]["end"] = time.perf_counter()
            if self.sc is not None:
                self.sc.setLocalProperty(DESC, prev)

    def add(self, name: str, value: float) -> None:
        if not self.active:
            return
        with self._lock:
            self.counts[name] += value

    def wrap(self, name: str, fn):
        """``fn`` with every call inside a span named ``name``."""
        def wrapped(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        wrapped.__wrapped__ = fn
        return wrapped

    # -- summaries -----------------------------------------------------------
    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def total(self, prefix: str) -> float:
        """Summed duration of spans named ``prefix`` or ``prefix.*``."""
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"] == prefix or s["name"].startswith(prefix + "."))

    def subtree(self, name: str) -> set[int]:
        """Ids of every span named ``name`` and of all their descendants."""
        ids = {s["id"] for s in self.spans if s["name"] == name}
        for s in self.spans:  # parents are recorded before their children
            if s["parent"] in ids:
                ids.add(s["id"])
        return ids

    def self_times(self, name: str) -> list[float]:
        """Per span of ``name``: its duration minus the union of the
        intervals its direct children cover (children may overlap — the
        commit writes run concurrently)."""
        kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                kids[s["parent"]].append((s["start"], s["end"]))
        out = []
        for s in self.spans:
            if s["name"] != name:
                continue
            covered, cur_end = 0.0, s["start"]
            for a, b in sorted(kids[s["id"]]):
                a, b = max(a, cur_end), min(b, s["end"])
                if b > a:
                    covered += b - a
                    cur_end = b
            out.append(s["end"] - s["start"] - covered)
        return out

    def dump(self, path: str, extra: dict | None = None) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "counts": dict(self.counts),
                       **(extra or {})}, f)


@contextlib.contextmanager
def patched(targets: list[tuple[object, str, object]]):
    """Set ``obj.attr = value`` for each target; restore the originals."""
    saved = [(obj, attr, getattr(obj, attr)) for obj, attr, _ in targets]
    try:
        for obj, attr, value in targets:
            setattr(obj, attr, value)
        yield
    finally:
        for obj, attr, value in saved:
            setattr(obj, attr, value)


_STORE_READS = ("read_frontier", "read_seen_base", "read_seen_deltas",
                "read_seen", "read_shards", "read_domains", "read_results",
                "read_errors", "read_lineage")


def store_targets(tracer: Tracer):
    """Wrappers for RoundStore's writes, commit, compaction and reads. A
    write also records the bytes and files it left on disk (measured after
    its span closes)."""
    from graven_spark.sources import checkpoint
    from .measure import tree_bytes

    rs = checkpoint.RoundStore
    write0, compact0 = rs.write, rs.maybe_compact_seen

    def write(self, k, name, df):
        with tracer.span(f"checkpoint.write.{name}"):
            write0(self, k, name, df)
        nbytes, nfiles = tree_bytes(self._p(k, name))
        tracer.add(f"checkpoint.bytes_written.{name}", nbytes)
        tracer.add("checkpoint.files_written", nfiles)

    def maybe_compact_seen(self, spark, k):
        with tracer.span("checkpoint.compact"):
            done = compact0(self, spark, k)
        if done:
            tracer.add("checkpoint.compactions", 1)
            nbytes, nfiles = tree_bytes(self._p(k, "seen_full"))
            tracer.add("checkpoint.bytes_written.seen_full", nbytes)
            tracer.add("checkpoint.files_written", nfiles)
        return done

    targets = [(rs, "write", write), (rs, "maybe_compact_seen", maybe_compact_seen),
               (rs, "commit", tracer.wrap("checkpoint.commit", rs.commit))]
    targets += [(rs, r, tracer.wrap("checkpoint.read", getattr(rs, r)))
                for r in _STORE_READS]
    return targets


def crawl_targets(tracer: Tracer):
    """Wrappers for the crawl loop's public entry points: ``run_round`` as
    the driver module looks it up, the frontier module's
    ``with_global_rank`` and ``bloom.broadcast_shard_map``. (``init_run``
    runs in set-up: the measured crawl resumes after round 0.)"""
    from graven_spark.operators import bloom, ranking
    from graven_spark.plans import driver, frontier

    rank0 = frontier.with_global_rank

    def with_global_rank(df, *args, size_hint=None, **kwargs):
        small = size_hint is not None and size_hint < ranking.SMALL_RANK_THRESHOLD
        tracer.add("ranking.small_path_calls" if small
                   else "ranking.analytic_path_calls", 1)
        with tracer.span("ranking.rank"):
            return rank0(df, *args, size_hint=size_hint, **kwargs)

    return [
        (driver, "run_round", tracer.wrap("frontier.round", driver.run_round)),
        (frontier, "with_global_rank", with_global_rank),
        (bloom, "broadcast_shard_map",
         tracer.wrap("bloom.shard_map", bloom.broadcast_shard_map)),
    ] + store_targets(tracer)
