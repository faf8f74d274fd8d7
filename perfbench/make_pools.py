"""Measure the declared queries once, to choose the query workloads' pools.

    python3 perfbench/make_pools.py measure OUT.jsonl [FIRST LAST]
    python3 perfbench/make_pools.py pools OUT.jsonl... > perfbench/pools.json

``measure`` runs, in one process under the benchmark's pinned environment,
every declared query outside the streaming/bus families and the one-shot
``_NO_RETIME_PREFIXES`` (optionally the ``[FIRST, LAST)`` slice of that
sorted list). For each name it records, on the benchmark's generated
tables: a cold and a warm sf0.1 pass with their ``(count, hash)``, the
DuckDB-oracle verdict at sf0.1, and a cold and a warm sf0.001 pass.

``pools`` folds those records into the committed pool file:

- ``queries_floor``: names under 1 s in the r13 sf0.1 record
  (``BENCH_DETAIL.json``);
- ``queries_heavy``: names whose warm sf0.1 time minus their warm sf0.001
  time is at least half their sf0.1 time.

A name enters a pool only if it ran without error, gave the same
``(count, hash)`` on both sf0.1 passes, and matched its oracle where it
has one; every excluded name is listed with its reason.
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
FAMILY_PREFIXES = ("stream_", "bus_")
NO_RETIME_PREFIXES = ("maintenance_compact", "scan_schema")  # bench.py:43
HEAVY_DATA_SHARE = 0.5
FLOOR_R13_LIMIT_S = 1.0


def candidates(registry) -> list[str]:
    return sorted(
        n for n in registry
        if not n.startswith(FAMILY_PREFIXES) and not n.startswith(NO_RETIME_PREFIXES)
    )  # fmt: skip


def measure(out_path: str, first: int, last: int | None) -> None:
    import run

    data = run.ensure_data(ROOT)
    os.environ.update(run.pinned_env(ROOT, os.environ.get("TMPDIR", "/tmp")))
    sys.path.insert(0, ROOT)
    from cascade_spark.plans.compare import compare
    from cascade_spark.plans.registry import load_all
    from cascade_spark.session import get_spark

    from queries import materialize

    registry = load_all()
    spark = get_spark("perfbench_pools")
    names = candidates(registry)[first:last]
    with open(out_path, "a") as out:
        for name in names:
            q = registry[name]
            rec: dict = {"name": name}
            try:
                for sf in ("0.1", "0.001"):
                    for phase in ("cold", "warm"):
                        t0 = time.perf_counter()
                        res = materialize(q.builder(spark, data[sf]))
                        rec[f"{phase}_{sf}_s"] = round(time.perf_counter() - t0, 4)
                        rec[f"{phase}_{sf}_result"] = list(res)
                    if sf == "0.1" and q.oracle:
                        ok, msg = compare(q.builder(spark, data[sf]), q.oracle, data[sf])
                        rec["oracle"] = "ok" if ok else msg[:300]
            except Exception as exc:  # noqa: BLE001 — record and keep measuring
                rec["error"] = f"{type(exc).__name__}: {str(exc)[:300]}"
            out.write(json.dumps(rec) + "\n")
            out.flush()
    spark.stop()


def pools(paths: list[str]) -> dict:
    recs = {}
    for p in paths:
        with open(p) as fh:
            for line in fh:
                r = json.loads(line)
                recs[r["name"]] = r
    with open(os.path.join(ROOT, "BENCH_DETAIL.json")) as fh:
        r13 = json.load(fh)["queries"]
    excluded, valid = {}, {}
    for name, r in sorted(recs.items()):
        if "error" in r:
            excluded[name] = r["error"]
        elif r["cold_0.1_result"] != r["warm_0.1_result"]:
            excluded[name] = "result differs between two sf0.1 passes"
        elif r.get("oracle", "ok") != "ok":
            excluded[name] = "oracle mismatch: " + r["oracle"]
        else:
            valid[name] = r
    floor = {
        n: {"r13_s": r13[n], "warm_s": r["warm_0.1_s"]}
        for n, r in valid.items()
        if 0 < r13.get(n, -1) < FLOOR_R13_LIMIT_S
    }
    heavy = {
        n: {"warm_s": r["warm_0.1_s"], "warm_sf0.001_s": r["warm_0.001_s"]}
        for n, r in valid.items()
        if r["warm_0.1_s"] - r["warm_0.001_s"] >= HEAVY_DATA_SHARE * r["warm_0.1_s"]
    }
    return {
        "measured": (
            "make_pools.py measure, one process per 200 names, local[4] on a 4-vCPU "
            "host, datagen.py tables; warm = second pass in the process"
        ),
        "rule": {
            "queries_floor": f"r13 sf0.1 time < {FLOOR_R13_LIMIT_S} s (BENCH_DETAIL.json)",
            "queries_heavy": "warm sf0.1 - warm sf0.001 >= 0.5 x warm sf0.1",
            "excluded_families": list(FAMILY_PREFIXES) + list(NO_RETIME_PREFIXES),
        },
        "queries_floor": floor,
        "queries_heavy": heavy,
        "excluded": excluded,
    }


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    if sys.argv[1] == "measure":
        lo = int(sys.argv[3]) if len(sys.argv) > 3 else 0
        hi = int(sys.argv[4]) if len(sys.argv) > 4 else None
        measure(sys.argv[2], lo, hi)
    else:
        json.dump(pools(sys.argv[2:]), sys.stdout, indent=1, sort_keys=True)
        print()
