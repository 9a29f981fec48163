"""Measurement helpers that read only what the engine already leaves behind
(commit markers, state files, /proc) — no engine hooks."""

from __future__ import annotations

import os
import re
import statistics
import threading

_ROUND_DIR = re.compile(r"^round_(\d{6})$")
TAIL_SAMPLES = 10  # a reported percentile needs this many samples beyond it


def commit_times(state_dir: str) -> list[float]:
    """mtimes of the ``_COMMIT`` markers of committed rounds, in round order.
    The store writes each marker last, so the marker's mtime is the round's
    commit instant."""
    out = []
    for name in sorted(os.listdir(state_dir)):
        marker = os.path.join(state_dir, name, "_COMMIT")
        if _ROUND_DIR.match(name) and os.path.exists(marker):
            out.append(os.path.getmtime(marker))
    return out


def round_latencies(state_dir: str, since: float) -> list[float]:
    """Latencies of the rounds committed after ``since`` (an epoch time):
    the first is its commit minus ``since``, each later one the gap to the
    previous commit marker."""
    t = [c for c in commit_times(state_dir) if c > since]
    return [b - a for a, b in zip([since] + t, t)]


def tree_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) of every regular file under ``path``."""
    total = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            p = os.path.join(root, n)
            if os.path.isfile(p) and not os.path.islink(p):
                total += os.path.getsize(p)
                files += 1
    return total, files


def tail_percentile(values: list[float],
                    candidates=(99.9, 99.0, 95.0, 90.0, 75.0)) -> float | None:
    """The highest percentile in ``candidates`` with at least TAIL_SAMPLES
    samples above it, or None when the sample is too small for any."""
    n = len(values)
    for p in candidates:
        if round(n * (100.0 - p) / 100.0, 9) >= TAIL_SAMPLES:  # 99.9: float noise
            return p
    return None


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile (p in (0, 100])."""
    s = sorted(values)
    k = max(0, min(len(s) - 1, -(-len(s) * p // 100) - 1))
    return s[int(k)]


def quartile_spread(values: list[float]) -> float:
    """(Q3 - Q1) / median, quartiles as statistics.quantiles(n=4) gives them."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # exited between listdir and open
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def start_time(pid: int) -> int | None:
    """When ``pid`` started, in clock ticks since boot (/proc/<pid>/stat
    field 22), or None once it has exited. With the pid, it names one
    process even after the kernel reuses the pid."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return int(f.read().rsplit(")", 1)[1].split()[19])
    except OSError:
        return None


def descendants(pid: int) -> list[int]:
    """Every live descendant of ``pid`` (children, grandchildren, ...)."""
    kids = _children_map()
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def tree_rss_bytes(pid: int) -> int:
    """Resident bytes of ``pid`` plus all its descendants, as proportional
    set size: a page shared by forked Python workers counts once in the
    sum, not once per worker."""
    total = 0
    for p in [pid] + descendants(pid):
        try:
            with open(f"/proc/{p}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:  # exited since the scan
            continue
    return total


class PeakRss:
    """Samples a process tree's resident memory on a background thread;
    ``peak`` is the highest sum seen inside the ``with`` block. One sample
    walks the page tables of every process in the tree (~70 ms on a 3 GB
    JVM, holding its memory-map lock), so a disabled sampler never samples
    and its ``peak`` stays 0."""

    def __init__(self, pid: int, interval_s: float = 0.25, enabled: bool = True):
        self.pid = pid
        self.interval_s = interval_s
        self.enabled = enabled
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak = max(self.peak, tree_rss_bytes(self.pid))
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "PeakRss":
        if self.enabled:
            self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        if not self.enabled:
            return
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, tree_rss_bytes(self.pid))
