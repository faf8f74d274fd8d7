"""The one owner of cached state and scratch space.

Three entry points, each keyed by a ``name`` that also labels its
per-name counters (hits, builds, build seconds):

- ``frame(name, spark, sf_dir, build)`` — a shared persisted "spine"
  (a frame several declared queries read). Keyed by
  ``(applicationId, sf_dir)``; a miss evicts the name's entries from
  other applications, whose blocks died with their session.
- ``fixture(name, key, build)`` — a staged input (a directory written
  once, a small probe answer) or catalog metadata (a table's inferred
  schema, ``tables.load``) memoized under the caller's key for the life
  of the process. Staging keys carry no applicationId: staged
  directories stay valid across a session change, so re-staging them
  would only add work.
- ``tempdir(name)`` — a fresh scratch directory under one per-process
  root. The root is created on first use and deleted at process exit
  by the process that created it (a forked child never deletes its
  parent's files).
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import time

# name -> {key: value}; frame() keys are (applicationId, sf_dir)
_FRAMES: dict[str, dict] = {}
_FIXTURES: dict[str, dict] = {}
# name -> {"hits", "builds", "build_sec"} for frames and fixtures alike
_STATS: dict[str, dict] = {}

# Aggregate counters over every frame() name. bench.py diffs these
# around each query to flag, in BENCH_DETAIL.json, a timing that rode a
# cache hit (an order-dependent amortized figure) or paid a build (the
# family's shared cost). Updated in place: readers hold this object.
CACHE_STATS = {"hits": 0, "builds": 0, "build_sec": 0.0}

# Right-sizing target for shared persisted frames: a cached frame is
# scanned by every downstream family member (the graph family references
# the edge frame up to ~6 times per query), and each scan schedules one
# task per cached partition — so a 38k-row edge frame left at the
# session's 32 shuffle partitions costs 32 tasks of scheduling floor per
# reference for microseconds of work (the round-11 verdict's weak-set
# diagnosis). Compact the cache to ceil(rows / _ROWS_PER_PART)
# partitions at persist time: tiny frames collapse to 1–2 partitions,
# while at 100 TB a billion-row frame keeps thousands of partitions —
# the knob adapts to MEASURED size, not to the test scale.
_ROWS_PER_PART = 65_536

_root: str | None = None


def _count(name: str, field: str, n: float = 1) -> None:
    s = _STATS.setdefault(name, {"hits": 0, "builds": 0, "build_sec": 0.0})
    s[field] += n


def frame(name: str, spark, sf_dir: str, build):
    """Materialized shared frame with eviction: entries from OTHER
    applications are dropped on every miss (a stopped session's blocks
    died with it; holding the handle leaks driver memory), so a name
    never outgrows the live session's sf_dirs. Note for bench readers:
    the first family query to run pays the shared build; later family
    members read the cache — per-query timings are order-dependent
    amortized figures (documented in STATUS.md and flagged per-query in
    BENCH_DETAIL.json via CACHE_STATS). The frame is compacted to a
    row-count-proportional partition count (see _ROWS_PER_PART above).

    The handle returned is a lineage-TRUNCATED localCheckpoint of the
    materialized frame, not the persisted plan itself. Measured reason
    (round 12, guide §7.3): a persisted frame keeps its full logical
    plan, and these builds nest caches (labels over edges over pairs
    over sessions), so every downstream reference re-analyzes a plan
    tree of thousands of nodes — counting the cached 1.5k-row LPA label
    frame cost 0.63 s of pure driver planning; after truncation 0.06 s,
    and the modularity intra-join fell 2.2 s -> 0.26 s with identical
    results. At 100 TB the same truncation is what keeps per-query
    planning O(query), not O(whole family lineage); on a real cluster a
    reliable checkpoint (or table materialization) would replace the
    executor-local one for fault tolerance."""
    from pyspark import StorageLevel

    from cascade_spark.operators._util import barrier_eager

    cache = _FRAMES.setdefault(name, {})
    key = (spark.sparkContext.applicationId, sf_dir)
    cached = cache.get(key)
    if cached is not None:
        CACHE_STATS["hits"] += 1
        _count(name, "hits")
        return cached
    for stale in [k for k in cache if k[0] != key[0]]:
        df = cache.pop(stale)
        try:
            df.unpersist()
        except Exception:
            pass  # session already gone — handle drop is the cleanup
    CACHE_STATS["builds"] += 1
    _count(name, "builds")
    t0 = time.perf_counter()
    df = build().persist(StorageLevel.MEMORY_AND_DISK)
    n = df.count()  # materialize now; first family member paid this anyway
    parts = df.rdd.getNumPartitions()
    target = max(1, -(-n // _ROWS_PER_PART))
    ckpt = (df.coalesce(target) if target < parts else df).transform(barrier_eager)
    df.unpersist()  # checkpoint blocks hold the data now
    # build wall time accumulates so the bench can report, per first
    # consumer, how much of its figure was the family's shared build
    sec = time.perf_counter() - t0
    CACHE_STATS["build_sec"] += sec
    _count(name, "build_sec", sec)
    cache[key] = ckpt
    return ckpt


def fixture(name: str, key, build):
    """``build()``'s result, memoized under ``(name, key)`` for the life
    of the process."""
    cache = _FIXTURES.setdefault(name, {})
    if key in cache:
        _count(name, "hits")
        return cache[key]
    _count(name, "builds")
    t0 = time.perf_counter()
    cache[key] = value = build()
    _count(name, "build_sec", time.perf_counter() - t0)
    return value


def root() -> str:
    """The per-process scratch root, created on first use. A forked
    child keeps writing under its parent's root and never deletes it."""
    global _root
    if _root is None:
        _root = tempfile.mkdtemp(prefix="cascade_spark_")
        atexit.register(_remove_root, _root, os.getpid())
    return _root


def _remove_root(path: str, pid: int) -> None:
    if os.getpid() == pid:
        shutil.rmtree(path, ignore_errors=True)


def tempdir(name: str) -> str:
    """A fresh directory ``<root>/<name>_XXXX``, deleted at process exit."""
    return tempfile.mkdtemp(prefix=f"{name}_", dir=root())


def keys(name: str) -> list:
    """The keys currently held under ``name`` (frames or fixtures)."""
    return list(_FRAMES.get(name, {})) + list(_FIXTURES.get(name, {}))


def stats() -> dict[str, dict]:
    """Per-name ``{"hits", "builds", "build_sec"}``, copied."""
    return {name: dict(s) for name, s in _STATS.items()}


def drop(name: str) -> None:
    """Forget every entry under ``name`` (handles are dropped, not
    unpersisted: frames already returned stay readable)."""
    _FRAMES.pop(name, None)
    _FIXTURES.pop(name, None)
