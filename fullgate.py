"""Full-registry oracle gate → committed artifact.

Runs EVERY registered query at the driver's correctness tier (sf0.01 by
default) through the same cell-level compare harness the driver uses
(`cascade_spark.plans.compare.compare`) and writes `FULLGATE_r{N}.json`
next to this script, or to the path given as the second argument
— one row per query: `oracle_pass` for hash-checked queries,
`rows_only` (row count) for queries whose oracle is omitted by design.

Purpose (round-11 verdict item 7): the driver samples ~50 queries per
round, so at a 615-query surface the driver-side evidence lags the
actual gate by rounds. This artifact bridges the lag with a committed,
reproducible full-gate record the judge can re-run:

    python fullgate.py 12          # writes FULLGATE_r12.json
    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.01 python fullgate.py 12
    python fullgate.py 12 OUT.json # writes OUT.json instead
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def main() -> None:
    from cascade_spark.plans.compare import compare
    from cascade_spark.plans.registry import load_all
    from cascade_spark.session import get_spark

    rnd = int(sys.argv[1]) if len(sys.argv) > 1 else 0
    here = os.path.dirname(os.path.abspath(__file__))
    path = (
        sys.argv[2]
        if len(sys.argv) > 2
        else os.path.join(here, f"FULLGATE_r{rnd:02d}.json")
    )
    spark = get_spark("fullgate")
    reg = load_all()
    out: dict[str, dict] = {}
    t0 = time.time()
    for i, name in enumerate(sorted(reg)):
        q = reg[name]
        row: dict = {}
        try:
            df = q.builder(spark, SF_DIR)
            if q.oracle is not None:
                ok, msg = compare(df, q.oracle, SF_DIR)
                row = {"check": "oracle", "pass": bool(ok)}
                if not ok:
                    row["err"] = str(msg)[:300]
            else:
                row = {"check": "rows_only", "pass": True, "rows": df.count()}
        except Exception as exc:  # noqa: BLE001 — record, keep going
            row = {"check": "error", "pass": False, "err": str(exc)[:300]}
        out[name] = row
        if i % 50 == 0:
            print(f"# {i}/{len(reg)} {name} {time.time() - t0:.0f}s", flush=True)
    n_pass = sum(1 for r in out.values() if r["pass"])
    artifact = {
        "sf_dir": SF_DIR,
        "n_queries": len(out),
        "n_pass": n_pass,
        "n_fail": len(out) - n_pass,
        "n_oracle": sum(1 for r in out.values() if r["check"] == "oracle"),
        "n_rows_only": sum(1 for r in out.values() if r["check"] == "rows_only"),
        "wall_clock_sec": round(time.time() - t0, 1),
        "queries": out,
    }
    with open(path, "w") as fh:
        json.dump(artifact, fh, indent=1)
    print(json.dumps({k: v for k, v in artifact.items() if k != "queries"}))


if __name__ == "__main__":
    main()
