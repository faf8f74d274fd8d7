"""Guards for cascade_spark.store, the one owner of cached state and
scratch space. None of these tests starts Spark."""

from __future__ import annotations

import os
import re
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(ROOT, "cascade_spark")


def _run(code: str) -> list[str]:
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=ROOT,
        env={**os.environ, "PYTHONPATH": ROOT},
        capture_output=True,
        text=True,
        check=True,
        timeout=60,
    )
    return out.stdout.split()


def test_tempdir_is_removed_at_process_exit():
    (path,) = _run(
        "from cascade_spark import store\n"
        "p = store.tempdir('x')\n"
        "open(p + '/f', 'w').write('scratch')\n"
        "print(p)\n"
    )
    assert os.path.basename(path).startswith("x_")
    assert not os.path.exists(os.path.dirname(path)), path


def test_forked_child_never_removes_parent_scratch():
    root, alive = _run(
        "import os, sys\n"
        "from cascade_spark import store\n"
        "p = store.tempdir('x')\n"
        "pid = os.fork()\n"
        "if pid == 0:\n"
        "    sys.exit(0)  # runs the inherited atexit handler\n"
        "os.waitpid(pid, 0)\n"
        "print(store.root(), os.path.isdir(p))\n"
    )
    assert alive == "True"
    assert not os.path.exists(root)


def test_fixture_builds_once_and_counts():
    from cascade_spark import store

    calls = []

    def build():
        calls.append(1)
        return "staged"

    name = "test.fixture_probe"
    assert store.fixture(name, ("sf", 1), build) == "staged"
    assert store.fixture(name, ("sf", 1), build) == "staged"
    assert len(calls) == 1
    st = store.stats()[name]
    assert (st["builds"], st["hits"]) == (1, 1)
    assert store.keys(name) == [("sf", 1)]
    store.drop(name)
    assert store.keys(name) == []


def test_store_is_the_only_cache_and_scratch_owner():
    """No module but store.py calls tempfile.mkdtemp, defines a
    module-level ``_*_CACHE`` dict, or keeps a private frame cache."""
    cache_dict = re.compile(r"^_\w*_CACHE\s*(:[^=]*)?=\s*(\{|dict\()", re.M)
    offenders = []
    for dirpath, _, files in os.walk(PKG):
        for fn in files:
            path = os.path.join(dirpath, fn)
            if not fn.endswith(".py") or path == os.path.join(PKG, "store.py"):
                continue
            with open(path) as fh:
                src = fh.read()
            rel = os.path.relpath(path, ROOT)
            if "mkdtemp" in src:
                offenders.append(f"{rel}: mkdtemp")
            if "_cached_frame" in src:
                offenders.append(f"{rel}: _cached_frame")
            offenders += [f"{rel}: {m.group(0)}" for m in cache_dict.finditer(src)]
    assert not offenders, offenders
