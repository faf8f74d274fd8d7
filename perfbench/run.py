"""Benchmark entry point: one command, one workload, one fresh process.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The command

1. generates the fixture tables the query workloads read (once per
   checkout, under ``.perfbench/``; see ``datagen.py``);
2. pins the run environment, the same for every commit measured:
   ``local[nproc]``, a driver heap sized to the host, ``PYTHONPATH`` at
   the checkout (Python data-source workers import ``cascade_spark``),
   and a private ``TMPDIR`` / ``SPARK_LOCAL_DIRS`` / ``java.io.tmpdir``
   that is deleted at exit (the package leaves its ``mkdtemp``
   directories behind, the JVM its native libraries);
3. runs the workload in a fresh worker process (``worker.py``), waits for
   it and every process it started, and prints the worker's result as the
   last line of stdout: ``{"correct", "attempted", "failed", "metrics"}``.

Exits non-zero, printing no result, when the checkout has no
``cascade_spark`` package or the worker fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
WORK = ".perfbench"  # checkout-relative work directory (git-ignored)
WORKLOADS = ("queries_floor", "queries_heavy", "bus_pipeline")
WORKER_TIMEOUT_S = 170


def driver_mem() -> str:
    """Driver heap: a quarter of physical memory, between 2 and 8 GiB.
    The JVM must fit beside the Python workers on a host without swap."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(2, min(8, total // 4 // 2**30))}g"


def pinned_env(root: str, tmp: str) -> dict[str, str]:
    # the driver JVM's own temp files (native libraries, artifact dirs)
    # follow java.io.tmpdir, not TMPDIR; no hsperfdata file in /tmp
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    env = dict(os.environ)
    env.pop("OMP_NUM_THREADS", None)
    env.update(
        SPARK_GRAFT_CPUS=str(os.cpu_count() or 1),
        CASCADE_DRIVER_MEM=driver_mem(),
        PYTHONPATH=root + os.pathsep + HERE,
        PYTHONHASHSEED="0",
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(tmp, "spark-local"),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        PYSPARK_SUBMIT_ARGS=shlex.join(
            ["--driver-java-options", jvm_opts,
             "--conf", "spark.ui.showConsoleProgress=false", "pyspark-shell"]
        ),  # fmt: skip
    )
    return env


def ensure_data(root: str) -> dict[str, str]:
    import datagen

    return {
        sf: datagen.ensure(os.path.join(root, WORK, "data", f"sf{sf}"), float(sf))
        for sf in ("0.1", "0.001")
    }


def _kill_group(proc: subprocess.Popen) -> None:
    """Stop whatever the worker left running (JVM, Python workers) and wait
    until no process of its group is left."""
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            break
        if proc.returncode is None:
            proc.wait()
        time.sleep(0.05)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "cascade_spark", "__init__.py")):
        print("perfbench: no cascade_spark package in the current directory", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    data = ensure_data(root)
    tmp = os.path.join(root, WORK, "tmp", f"run-{os.getpid()}-{time.time_ns()}")
    os.makedirs(os.path.join(tmp, "spark-local"))
    out = os.path.join(tmp, "result.json")
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--sf-dir", data["0.1"], "--out", out,
    ]  # fmt: skip
    proc = subprocess.Popen(cmd, cwd=root, env=pinned_env(root, tmp), start_new_session=True)
    try:
        code = proc.wait(timeout=WORKER_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        code = None
    finally:
        _kill_group(proc)
    try:
        if code != 0:
            print(f"perfbench: worker failed (exit {code})", file=sys.stderr)
            return 1
        with open(out) as fh:
            result = json.load(fh)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
