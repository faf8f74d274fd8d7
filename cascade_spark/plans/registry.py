"""Declared-query registry.

Every operator in SURVEY.md §2B lands here as a named query: a Spark
builder ``(spark, sf_dir) -> DataFrame`` plus (when SQL-expressible) a
DuckDB oracle SQL string run against the same parquet tables. The driver
hash-compares the two at sf0.01 (CORRECTNESS_r{N}.json).

Determinism contract (SURVEY.md §2B):
- column names identical on both sides (alias everything);
- floating aggregates go through DECIMAL accumulation or ROUND(x, 2),
  final cast to DOUBLE;
- computed integers cast to BIGINT on both sides;
- timestamps projected as strings/dates, UTC session;
- no rand()/now(); approx ops registered with ``oracle=None`` →
  rows-only check.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

Builder = Callable[[SparkSession, str], DataFrame]


@dataclass
class Query:
    name: str
    category: str
    builder: Builder
    oracle: str | None = None
    doc: str = ""


REGISTRY: dict[str, Query] = {}


def register(
    name: str,
    category: str,
    oracle: str | None = None,
    doc: str = "",
) -> Callable[[Builder], Builder]:
    """Decorator: register a declared query."""

    def deco(fn: Builder) -> Builder:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        REGISTRY[name] = Query(name, category, fn, oracle, doc or (fn.__doc__ or ""))
        return fn

    return deco


def load_all() -> dict[str, Query]:
    """Import every operator/function module so their @register calls run."""
    import cascade_spark.operators  # noqa: F401
    import cascade_spark.functions  # noqa: F401
    import cascade_spark.sources  # noqa: F401
    import cascade_spark.streaming  # noqa: F401

    return REGISTRY
