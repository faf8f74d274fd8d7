"""One benchmark run in a fresh process; started by ``run.py``.

Set-up (session, warm passes or bus history) runs first; then a closed
loop with one client runs a fixed number of ops, ``round(seconds x
NOMINAL_OPS_PER_S)``, so a run does the same work on every commit and
lasts about ``seconds`` on the reference host. Each op's output is
checked. The result is written as one JSON object to ``--out``.

With ``--trace 0`` the result holds the end-to-end metrics; with
``--trace 1`` it holds the per-layer metrics of the same run made with
spans and counts around the calls into each layer.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import tempfile
import time

import bus
from bus import PHASES
from tracer import Tracer, cpu_delta, host_cpu, peak_rss_mb, proc_sample, steal_share

# ops per second of timed region on the reference host (4 cores);
# fixes the op count of a run from --seconds
NOMINAL_OPS_PER_S = {"queries_floor": 1.5, "queries_heavy": 1.0, "bus_pipeline": 0.2}
MIN_OPS = 2
SLOPE_LOGS = (10_000, 100_000)  # probe topic lengths for consume.slope_ms_per_100k
TRACE_DIR = os.path.join(".perfbench", "traces")
PER_LAYER = {
    "session.start_s": "s",
    "tables.load.calls": "count",
    "tables.load.ms": "ms",
    "tables.load.jobs": "count",
    "builder.self_ms": "ms",
    "builder.jobs": "count",
    "plan.analysis_ms": "ms",
    "plan.optimization_ms": "ms",
    "plan.planning_ms": "ms",
    "exec.ms": "ms",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.gc_ms": "ms",
    "spine.hits": "count",
    "spine.builds": "count",
    "spine.build_ms": "ms",
    "producer.publish_ms": "ms",
    "producer.rejected": "count",
    "producer.log_bytes": "bytes",
    "consume.read_ms": "ms",
    "consume.log_events": "count",
    "consume.slope_ms_per_100k": "ms",
    **{f"{st}.{ph}_ms": "ms" for st in ("mirror", "window") for ph in PHASES},
    "mirror.overhead_ms": "ms",
    "window.overhead_ms": "ms",
    "mirror.rows": "count",
    "window.rows": "count",
    "window.state_rows": "count",
    "window.state_bytes": "bytes",
    "sink.segments": "count",
    "sink.index_bytes": "bytes",
    "proc.cpu_s": "s",
    "proc.cpu_busy": "cores",
    "proc.peak_rss_mb": "MB",
    "host.steal_share": "share",
    "trace.ops_per_s": "1/s",
    "trace.latency_p50_ms": "ms",
}


def process_age_s() -> float:
    """Seconds since this process started (from /proc, 10 ms ticks)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def tail(lat_ms: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least ten
    samples beyond it. With 20 samples or fewer that percentile is not
    above the median, so the tail is the maximum instead."""
    xs = sorted(lat_ms)
    if len(xs) <= 20:
        return xs[-1], 100.0
    i = len(xs) - 11
    return xs[i], 100.0 * (i + 1) / len(xs)


def mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


# -- query workloads ---------------------------------------------------------
def setup_queries(args, tracer):
    import queries

    if tracer.enabled:
        queries.install_load_tracer(tracer)
    from cascade_spark.plans.registry import load_all

    registry = load_all()
    spark, session_s = start_session(args.workload)
    rounds = max(1, round(n_ops(args) / queries.SAMPLE[args.workload]))
    ops = queries.plan_ops(args.workload, args.seed, rounds)
    wl = queries.QueryWorkload(spark, registry, args.sf_dir, ops, tracer)
    t0 = time.perf_counter()
    wl.warm()
    warm_s = time.perf_counter() - t0
    print(f"perfbench: session {session_s:.2f}s, warm passes {warm_s:.2f}s", file=sys.stderr)
    return spark, session_s, ops, wl


def query_layers(tracer, ops_done: set[int]) -> dict[str, float]:
    n = max(1, len(ops_done))
    loads = [s for s in tracer.spans if s["name"] == "tables.load" and s["op"] in ops_done]
    out = {
        "tables.load.calls": len(loads) / n,
        "tables.load.ms": sum((s["end"] - s["start"]) * 1000.0 for s in loads) / n,
        "builder.self_ms": mean(tracer.self_ms("builder")),
        "exec.ms": mean(tracer.total_ms("materialize")),
    }
    for k in (
        "tables.load.jobs", "builder.jobs", "plan.analysis_ms", "plan.optimization_ms",
        "plan.planning_ms", "exec.jobs", "exec.stages", "exec.tasks", "exec.gc_ms",
    ):  # fmt: skip
        out[k] = tracer.counts.get(k, 0.0) / n
    for k in ("spine.hits", "spine.builds", "spine.build_ms"):
        out[k] = tracer.counts.get(k, 0.0)
    return out


# -- bus workload --------------------------------------------------------------
def bus_op(pl, tracer, n: int):
    """One chunk end to end. Returns (ms from the generator stamp until the
    aggregate holds the chunk, errors, stage outputs)."""
    t_gen = time.perf_counter()
    records, tally = pl.next_chunk(n)
    with tracer.span("publish"):
        publish_ms = pl.publish(records)
    with tracer.span("mirror"):
        mirror = pl.mirror()
    with tracer.span("window"):
        window = pl.window()
    visible_ms = (time.perf_counter() - t_gen) * 1000.0
    with tracer.span("check"):
        errors = pl.check(n, tally, mirror, window)
    return visible_ms, errors, (publish_ms, mirror, window)


def bus_layers(pl, tracer, stage_runs, reads) -> dict[str, float]:
    out = {
        "producer.publish_ms": mean(r[0] for r in stage_runs),
        "producer.rejected": float(pl.producer.rejected),
        "producer.log_bytes": float(
            sum(os.path.getsize(os.path.join(pl.raw, f)) for f in os.listdir(pl.raw))
        ),
        "consume.read_ms": mean(r[0] for r in reads),
        "consume.log_events": mean(r[1] for r in reads),
    }
    for idx, stage in ((1, "mirror"), (2, "window")):
        runs = [r[idx] for r in stage_runs]
        for ph in PHASES:
            out[f"{stage}.{ph}_ms"] = mean(
                p["durationMs"].get(ph, 0) for r in runs for p in r["progress"]
            )
        out[f"{stage}.overhead_ms"] = mean(
            r["wall_ms"] - sum(p["durationMs"].get("triggerExecution", 0) for p in r["progress"])
            for r in runs
        )
        out[f"{stage}.rows"] = mean(sum(p["numInputRows"] for p in r["progress"]) for r in runs)
    last = stage_runs[-1][2]["progress"][-1]["stateOperators"] if stage_runs else []
    out["window.state_rows"] = float(sum(s["numRowsTotal"] for s in last))
    out["window.state_bytes"] = float(sum(s["memoryUsedBytes"] for s in last))
    idx_path = os.path.join(pl.log, "index.json")
    with open(idx_path) as fh:
        idx = json.load(fh)
    out["sink.segments"] = float(sum(len(v) for v in idx["segments"].values()))
    out["sink.index_bytes"] = float(os.path.getsize(idx_path))
    return out


def consume_probe(topic: str, start: dict) -> tuple[float, int]:
    """Time ``BusStreamReader.read`` from ``start`` to the end of a topic;
    returns (ms, events in the log)."""
    from cascade_spark.sources.cascade_bus import BusStreamReader

    t0 = time.perf_counter()
    batches, end = BusStreamReader({"path": topic}).read(start)
    rows = sum(b.num_rows for b in batches)
    ms = (time.perf_counter() - t0) * 1000.0
    if rows != sum(end[p] - start.get(p, 0) for p in end):
        raise RuntimeError("consume probe read a short tail")
    return ms, sum(end.values())


def consume_slope(work_dir: str) -> float:
    """Extra ms a ``K``-event tail read costs per 100k events of log: the
    same tail read on two probe topics of ``SLOPE_LOGS`` events. Zero when
    reads are O(batch)."""
    import numpy as np

    from cascade_spark.sources.cascade_bus import BusProducer

    ms = []
    for n in SLOPE_LOGS:
        topic = os.path.join(work_dir, f"probe{n}")
        records = bus.make_chunk(np.random.default_rng(0), 0, 0, n)[0]
        BusProducer(topic, num_partitions=4).publish_all(records)
        start = {str(p): (n - bus.K + 3 - p) // 4 for p in range(4)}
        ms.append(min(consume_probe(topic, start)[0] for _ in range(3)))
    return (ms[1] - ms[0]) / (SLOPE_LOGS[1] - SLOPE_LOGS[0]) * 1e5


# -- driver --------------------------------------------------------------------
def n_ops(args) -> int:
    return max(MIN_OPS, round(args.seconds * NOMINAL_OPS_PER_S[args.workload]))


def start_session(workload: str):
    from cascade_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(f"perfbench_{workload}")
    return spark, time.perf_counter() - t0


class Run:
    """What one run measured: op latencies, failures and timings."""

    def __init__(self):
        self.lat: list[float] = []
        self.failed: set[int] = set()
        self.errors: list[str] = []
        self.layers: dict[str, float] = {}

    def fail(self, i: int, msg: str) -> None:
        self.failed.add(i)
        self.errors.append(f"op {i}: {msg}")

    def begin(self) -> None:
        self.setup_s = process_age_s()
        self.host0 = host_cpu()
        self.cpu0, self.t0 = proc_sample(os.getpid()), time.perf_counter()

    def end(self) -> None:
        self.wall = time.perf_counter() - self.t0
        self.cpu1 = proc_sample(os.getpid())
        self.steal = steal_share(self.host0, host_cpu())


def run_bus(args, tracer: Tracer, run: Run):
    spark, run.session_s = start_session(args.workload)
    work_dir = tempfile.mkdtemp(prefix="bus_")
    pl = bus.BusPipeline(spark, work_dir, args.seed)
    hist_ms, errs, (pub_ms, mirror, window) = bus_op(pl, Tracer(False), bus.B)
    if errs:
        raise RuntimeError(f"bus history set-up failed: {errs}")
    print(
        f"perfbench: session {run.session_s:.2f}s, history of {bus.B} events "
        f"{hist_ms / 1000:.2f}s (publish {pub_ms / 1000:.2f}s, mirror "
        f"{mirror['wall_ms'] / 1000:.2f}s, window {window['wall_ms'] / 1000:.2f}s)",
        file=sys.stderr,
    )
    stage_runs, reads = [], []
    run.attempted = n_ops(args)
    run.begin()
    for i in range(run.attempted):
        tracer.op = i
        start = pl.raw_offsets()
        try:
            with tracer.span("op"):
                ms, errs, stages = bus_op(pl, tracer, bus.K)
        except Exception as exc:  # noqa: BLE001 — a raising op counts as failed
            run.fail(i, f"{type(exc).__name__}: {exc}")
            continue
        if errs:
            run.fail(i, "; ".join(errs))
            continue
        run.lat.append(ms)
        if tracer.enabled:
            stage_runs.append(stages)
            with tracer.span("consume"):
                reads.append(consume_probe(pl.raw, start))
    run.end()
    if tracer.enabled:
        run.layers.update(bus_layers(pl, tracer, stage_runs, reads))
        run.layers["consume.slope_ms_per_100k"] = consume_slope(work_dir)
    return spark


def run_queries(args, tracer: Tracer, run: Run):
    spark, run.session_s, ops, wl = setup_queries(args, tracer)
    run.attempted = len(ops)
    run.begin()
    for i, name in enumerate(ops):
        tracer.op = i
        t0 = time.perf_counter()
        try:
            ok = wl.run_op(i, name)
        except Exception as exc:  # noqa: BLE001 — a raising op counts as failed
            run.fail(i, f"{name}: {type(exc).__name__}: {exc}")
            continue
        if not ok:
            run.fail(i, f"{name}: checksum differs from its warm pass")
            continue
        run.lat.append((time.perf_counter() - t0) * 1000.0)
    run.end()
    for name, msg in wl.oracle_failures():
        for i, n in enumerate(ops):
            if n == name:
                run.fail(i, f"{name}: oracle {msg}")
    if tracer.enabled:
        run.layers.update(query_layers(tracer, set(range(len(ops))) - run.failed))
    return spark


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    tracer, run = Tracer(bool(args.trace)), Run()
    spark = (run_bus if args.workload == "bus_pipeline" else run_queries)(args, tracer, run)

    lat = run.lat or [0.0]  # every op failed: figures are 0, correct is false
    tail_ms, tail_pct = tail(lat)
    e2e = {
        "ops_per_s": (len(run.lat) / run.wall, "1/s"),
        "latency_p50_ms": (statistics.median(lat), "ms"),
        "latency_tail_ms": (tail_ms, "ms"),
        "setup_s": (run.setup_s, "s"),
    }
    print(
        f"perfbench: {args.workload} seed={args.seed} ops={run.attempted} "
        f"failed={len(run.failed)} tail=p{tail_pct:.1f} of {len(run.lat)} samples "
        f"timed={run.wall:.2f}s setup={run.setup_s:.2f}s "
        f"cpu={cpu_delta(run.cpu0, run.cpu1):.2f}s steal={run.steal:.1%}",
        file=sys.stderr,
    )
    for e in run.errors:
        print(f"perfbench: FAILED {e}", file=sys.stderr)
    if tracer.enabled:
        cpu = cpu_delta(run.cpu0, run.cpu1)
        run.layers.update(
            {
                "session.start_s": run.session_s,
                "proc.cpu_s": cpu,
                "proc.cpu_busy": cpu / run.wall,
                "proc.peak_rss_mb": peak_rss_mb(os.getpid()),
                "host.steal_share": run.steal,
                "trace.ops_per_s": e2e["ops_per_s"][0],
                "trace.latency_p50_ms": e2e["latency_p50_ms"][0],
            }
        )
        metrics = {k: {"value": run.layers.get(k, 0.0), "unit": u} for k, u in PER_LAYER.items()}
        tracer.write(os.path.join(TRACE_DIR, f"{args.workload}-seed{args.seed}.json"))
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    result = {
        "correct": not run.errors,
        "attempted": run.attempted,
        "failed": len(run.failed),
        "metrics": metrics,
    }
    with open(args.out, "w") as fh:
        json.dump(result, fh)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
