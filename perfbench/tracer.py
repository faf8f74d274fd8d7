"""In-memory spans and counts for the traced run, plus /proc sampling.

A span is (name, start, end, parent, op). Spans are kept in memory and
written out once, when the run ends. A disabled tracer records nothing and
its ``span`` is a no-op context, so the end-to-end runs carry no tracing.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager, nullcontext


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counts: dict[str, float] = defaultdict(float)
        self.op: int | None = None
        self._stack: list[int] = []

    def span(self, name: str):
        return self._span(name) if self.enabled else nullcontext()

    @contextmanager
    def _span(self, name: str):
        rec = {
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def add(self, name: str, value: float) -> None:
        if self.enabled:
            self.counts[name] += value

    def self_ms(self, name: str) -> list[float]:
        """Self time of every span called ``name``: its duration minus the
        part of it that its child spans cover (children never overlap)."""
        covered = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                covered[s["parent"]] += s["end"] - s["start"]
        return [
            (s["end"] - s["start"] - covered[i]) * 1000.0
            for i, s in enumerate(self.spans)
            if s["name"] == name
        ]

    def total_ms(self, name: str) -> list[float]:
        return [(s["end"] - s["start"]) * 1000.0 for s in self.spans if s["name"] == name]

    def summary(self) -> dict[str, dict[str, float]]:
        """Per span name: count, mean total ms and mean self ms."""
        out = {}
        for name in sorted({s["name"] for s in self.spans}):
            total, own = self.total_ms(name), self.self_ms(name)
            out[name] = {
                "count": len(total),
                "total_ms": sum(total) / len(total),
                "self_ms": sum(own) / len(own),
            }
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"summary": self.summary(), "counts": self.counts, "spans": self.spans}, fh)


def _tree(root: int) -> list[int]:
    """``root`` and all its descendants, from /proc."""
    children = defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children[ppid].append(int(d))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children[pid])
    return out


def proc_sample(root: int) -> dict[int, float]:
    """CPU seconds (user + system) of each live process in the tree."""
    tick = os.sysconf("SC_CLK_TCK")
    out = {}
    for pid in _tree(root):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
            out[pid] = (int(f[11]) + int(f[12])) / tick
        except (OSError, IndexError, ValueError):
            continue
    return out


def host_cpu() -> list[int]:
    """The host-wide ``cpu`` line of /proc/stat, in ticks."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of all CPU time the hypervisor gave to other guests."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(1, sum(d))


def cpu_delta(before: dict[int, float], after: dict[int, float]) -> float:
    return sum(v - before.get(pid, 0.0) for pid, v in after.items())


def peak_rss_mb(root: int) -> float:
    """Sum over the tree of each process's peak resident set (VmHWM)."""
    total_kb = 0
    for pid in _tree(root):
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0
