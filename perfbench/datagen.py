"""Synthetic fixture tables for the benchmark's query workloads.

Writes the ten tables the declared queries read (``cascade_spark.tables
.TABLE_NAMES``), one parquet file each, with the schemas and value
distributions of the repository's fixture tier (FIXTURES.md): a TPC-H-ish
star schema plus ``events``, ``documents`` and ``embeddings``. Row counts
scale with ``sf`` the same way (lineitem 6M x sf, events 1M x sf, ...).

The tables are a fixed property of a scale factor: they come from a fixed
generator seed, not from the benchmark's ``--seed`` (which only picks the
query sample and order), so every run of a workload reads byte-identical
tables.

    python3 perfbench/datagen.py OUT_DIR [SF]
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
# bump when the generated bytes change, so cached copies are rebuilt
VERSION = 1

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "old", "red", "small", "new", "large", "hot", "cold"]
PART_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.41, 0.15, 0.15, 0.15]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()


def _day_ts(rng, n, first, last) -> pa.Array:
    """Midnight timestamps (µs) uniform over [first, last] dates."""
    lo = np.datetime64(first, "D").astype(np.int64)
    hi = np.datetime64(last, "D").astype(np.int64)
    days = rng.integers(lo, hi + 1, n)
    return pa.array(days * 86_400_000_000, pa.timestamp("us"))


def _money(rng, lo, hi, n) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def tables(sf: float) -> dict[str, pa.Table]:
    """All ten tables at scale factor ``sf``."""
    rng = np.random.default_rng(DATA_SEED)
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = max(15, int(15_000 * sf))
    n_docs, n_vecs = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    out: dict[str, pa.Table] = {}
    i32 = lambda a: pa.array(a, pa.int32())  # noqa: E731

    out["region"] = pa.table({"r_regionkey": i32(range(5)), "r_name": REGIONS})
    out["nation"] = pa.table(
        {
            "n_nationkey": i32(range(25)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": i32([i % 5 for i in range(25)]),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": _names("Customer", n_cust),
            "c_nationkey": i32(rng.integers(0, 25, n_cust)),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": _names("Supplier", n_supp),
            "s_nationkey": i32(rng.integers(0, 25, n_supp)),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    keys = np.arange(n_part, dtype=np.int64)
    out["part"] = pa.table(
        {
            "p_partkey": keys,
            "p_name": np.char.add(
                np.char.add(np.array(PART_ADJ)[rng.integers(0, 8, n_part)], " "),
                np.array(PART_NOUN)[rng.integers(0, 8, n_part)],
            ),
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
            "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
            "p_size": i32(rng.integers(1, 51, n_part)),
            "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1),
        }
    )
    out["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _day_ts(rng, n_ord, "1995-01-01", "2001-08-01"),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
        }
    )
    out["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_line),
            "l_partkey": rng.integers(0, n_part, n_line),
            "l_suppkey": rng.integers(0, n_supp, n_line),
            "l_linenumber": i32(rng.integers(1, 8, n_line)),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
            "l_shipdate": _day_ts(rng, n_line, "1995-01-02", "2001-11-04"),
        }
    )
    # events: strictly increasing µs timestamps over 30 days of January 2024
    span_us = 30 * 86_400_000_000
    gaps = rng.exponential(1.0, n_ev)
    ts = (np.cumsum(gaps) / gaps.sum() * (span_us - 60_000_000)).astype(np.int64)
    ts = np.maximum.accumulate(ts + np.arange(n_ev))  # strictly increasing
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    out["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": pa.array(t0 + 10_000_000 + ts, pa.timestamp("us")),
            "user_id": rng.integers(0, n_users, n_ev),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    # documents: 10-100 words of a 30-word vocabulary; ~5% are near
    # duplicates (an earlier document's text plus " dup")
    texts: list[str] = []
    lens = rng.integers(10, 101, n_docs)
    dup = rng.random(n_docs) < 0.05
    for i in range(n_docs):
        if dup[i] and i > 0:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(np.array(WORDS)[rng.integers(0, len(WORDS), lens[i])]))
    out["documents"] = pa.table(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": np.array(LANGS)[rng.choice(5, n_docs, p=LANG_P)],
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    # embeddings: unit vectors around one random centre per label
    labels = rng.integers(0, 10, n_vecs)
    centres = rng.normal(0.0, 1.0, (10, 64))
    vecs = centres[labels] * 0.5 + rng.normal(0.0, 1.0, (n_vecs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_vecs, dtype=np.int64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": i32(labels),
        }
    )
    return out


def ensure(out_dir: str, sf: float) -> str:
    """Write the tables once; later calls with the same version reuse them."""
    stamp = os.path.join(out_dir, "_COMPLETE")
    want = f"v{VERSION} sf{sf} seed{DATA_SEED}"
    if os.path.exists(stamp):
        with open(stamp) as fh:
            if fh.read() == want:
                return out_dir
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables(sf).items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    with open(stamp, "w") as fh:
        fh.write(want)
    return out_dir


if __name__ == "__main__":
    ensure(sys.argv[1], float(sys.argv[2]) if len(sys.argv) > 2 else 0.1)
