"""``queries_floor`` and ``queries_heavy``: a closed loop over declared queries.

One op is one declared query: its builder plus a materializing aggregate
over every output column. The names come from a committed pool
(``pools.json``, made by ``make_pools.py``):

- a fixed panel of ``SAMPLE[w]`` names is drawn from the pool once, one
  name near each of evenly spaced quantiles of measured warm time, with
  the committed ``PANEL_SEED``; the run's ``--seed`` draws the order of
  the panel in each round. Per-run seeded samples of a few names made
  the latency percentiles depend on the draw (24-42 % spread over five
  seeds on a 4-core host), so the draw is a property of the workload,
  like K and B of the bus;
- each sampled name gets one untimed warm pass that records its
  ``(count, sum(xxhash64))`` and its rows; every timed op must reproduce
  the checksum;
- after the timed region, the warm-pass rows of each sampled name with an
  oracle are hash-checked against DuckDB with ``plans.compare.compare``.
"""

from __future__ import annotations

import json
import os
import random

HERE = os.path.dirname(os.path.abspath(__file__))
SAMPLE = {"queries_floor": 5, "queries_heavy": 5}
BAND = 0.04
PANEL_SEED = 0


def materialize(df) -> tuple[int, int]:
    """Evaluate every output column and return ``(count, sum(xxhash64))``.

    A bare ``count()`` would let Catalyst prune unreferenced projections;
    hashing all columns forces each expression to evaluate (the same
    rule as ``bench._materialize``)."""
    row = checksum_frame(df).collect()[0]
    return int(row[0]), int(row[1] or 0)


def checksum_frame(df):
    from pyspark.sql import functions as F

    h = F.xxhash64(*[F.col(c) for c in df.columns]) if df.columns else F.lit(0)
    return df.select(h.alias("_h")).agg(F.count("_h"), F.sum("_h"))


def load_pool(workload: str) -> dict[str, float]:
    with open(os.path.join(HERE, "pools.json")) as fh:
        pool = json.load(fh)[workload]
    return {name: rec["warm_s"] for name, rec in pool.items()}


def panel(workload: str) -> list[str]:
    """The workload's fixed sample of its pool: the pool sorted by
    measured warm time; for each of ``SAMPLE[w]`` evenly spaced quantiles,
    one name drawn with ``PANEL_SEED`` from the band of ``BAND`` of the
    pool on either side of it."""
    pool = load_pool(workload)
    names = sorted(pool, key=lambda n: (pool[n], n))
    k, half = SAMPLE[workload], max(1, round(BAND * len(names)))
    rng = random.Random(PANEL_SEED)
    out = []
    for i in range(k):
        mid = len(names) * (2 * i + 1) // (2 * k)
        out.append(rng.choice(names[max(0, mid - half) : mid + half + 1]))
    return sorted(out)


def plan_ops(workload: str, seed: int, rounds: int) -> list[str]:
    """The panel, run ``rounds`` times, each round in a fresh order drawn
    from ``seed``."""
    rng = random.Random(seed)
    ops: list[str] = []
    for _ in range(rounds):
        rnd = panel(workload)
        rng.shuffle(rnd)
        ops.extend(rnd)
    return ops


def install_load_tracer(tracer) -> None:
    """Wrap ``cascade_spark.tables.load`` in a span and its own job group.
    Must run before ``load_all()`` imports the operator modules, many of
    which bind ``load`` at import time."""
    import cascade_spark.tables as tables

    real = tables.load

    def load(spark, sf_dir, name):
        sc = spark.sparkContext
        prev = sc.getLocalProperty("spark.jobGroup.id")
        group = f"{prev}.load{len(tracer.spans)}"
        sc.setLocalProperty("spark.jobGroup.id", group)
        try:
            with tracer.span("tables.load") as rec:
                rec["group"] = group
                return real(spark, sf_dir, name)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", prev)

    tables.load = load


class QueryWorkload:
    def __init__(self, spark, registry, sf_dir: str, names: list[str], tracer):
        self.spark = spark
        self.registry = registry
        self.sf_dir = sf_dir
        self.names = sorted(set(names))
        self.tracer = tracer
        self.expected: dict[str, tuple[int, int]] = {}
        self.collected: dict = {}  # name -> warm-pass rows (pandas)

    def warm(self) -> None:
        """One untimed pass per name. The result is persisted for the pass
        so that its checksum and the rows the oracle check reads come from
        one execution."""
        for name in self.names:
            df = self.registry[name].builder(self.spark, self.sf_dir).persist()
            try:
                self.expected[name] = materialize(df)
                if self.registry[name].oracle:
                    self.collected[name] = df.toPandas()
            finally:
                df.unpersist()

    def run_op(self, i: int, name: str) -> bool:
        """One timed op; True when its checksum equals the warm pass."""
        if not self.tracer.enabled:
            df = self.registry[name].builder(self.spark, self.sf_dir)
            return materialize(df) == self.expected[name]
        return self._run_traced(i, name)

    def _run_traced(self, i: int, name: str) -> bool:
        from cascade_spark.operators.dedup import CACHE_STATS

        sc, tr = self.spark.sparkContext, self.tracer
        spine0 = dict(CACHE_STATS)
        with tr.span("op"):
            sc.setLocalProperty("spark.jobGroup.id", f"op{i}.builder")
            with tr.span("builder"):
                df = self.registry[name].builder(self.spark, self.sf_dir)
            sc.setLocalProperty("spark.jobGroup.id", f"op{i}.exec")
            gc0 = gc_ms(self.spark)
            with tr.span("materialize"):
                mdf = checksum_frame(df)
                row = mdf.collect()[0]
            gc1 = gc_ms(self.spark)
        sc.setLocalProperty("spark.jobGroup.id", None)
        phases = mdf._jdf.queryExecution().tracker().phases()
        for ph in ("analysis", "optimization", "planning"):
            opt = phases.get(ph)
            tr.add(f"plan.{ph}_ms", opt.get().durationMs() if opt.isDefined() else 0)
        jobs, stages, tasks = job_counts(self.spark, f"op{i}.exec")
        tr.add("exec.jobs", jobs)
        tr.add("exec.stages", stages)
        tr.add("exec.tasks", tasks)
        tr.add("exec.gc_ms", gc1 - gc0)
        tr.add("builder.jobs", job_counts(self.spark, f"op{i}.builder")[0])
        for s in tr.spans:
            if s["name"] == "tables.load" and s["op"] == i:
                tr.add("tables.load.jobs", job_counts(self.spark, s["group"])[0])
        tr.add("spine.hits", CACHE_STATS["hits"] - spine0["hits"])
        tr.add("spine.builds", CACHE_STATS["builds"] - spine0["builds"])
        tr.add("spine.build_ms", (CACHE_STATS["build_sec"] - spine0["build_sec"]) * 1000.0)
        return (int(row[0]), int(row[1] or 0)) == self.expected[name]

    def oracle_failures(self) -> list[tuple[str, str]]:
        """(name, message) for each sampled name whose warm-pass rows differ
        from its DuckDB oracle."""
        from cascade_spark.plans.compare import compare

        out = []
        for name, rows in self.collected.items():
            ok, msg = compare(_Collected(rows), self.registry[name].oracle, self.sf_dir)
            if not ok:
                out.append((name, msg))
        return out


class _Collected:
    """Rows already collected, in the shape ``compare`` reads."""

    def __init__(self, rows):
        self.rows = rows

    def toPandas(self):
        return self.rows


def gc_ms(spark) -> float:
    """Total JVM garbage-collection time so far (GC MXBeans)."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return float(sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()))


def job_counts(spark, group: str) -> tuple[int, int, int]:
    """(jobs, stages, tasks) Spark ran under one job group."""
    st = spark.sparkContext.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        for sid in info.stageIds if info else ():
            stage = st.getStageInfo(sid)
            if stage:
                stages += 1
                tasks += stage.numTasks
    return len(jobs), stages, tasks
