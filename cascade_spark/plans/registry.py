"""Declared-query registry.

Every declared query lands here by name: a Spark builder
``(spark, sf_dir) -> DataFrame``, a DuckDB oracle SQL string run against
the same parquet tables when the query is SQL-expressible, and ``doc``,
its one-paragraph description. Queries live in the module of their
family (``operators/``, ``functions/``, ``sources/``, ``streaming/``);
the name is the only key. The driver hash-compares builder and oracle
at sf0.01 (CORRECTNESS_r{N}.json).

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
    builder: Builder
    oracle: str | None = None
    doc: str = ""


REGISTRY: dict[str, Query] = {}


def register(
    name: str,
    oracle: str | None = None,
    doc: str = "",
) -> Callable[[Builder], Builder]:
    """Decorator: register ``fn`` as the builder of query ``name``.

    ``oracle`` is the DuckDB SQL it is hash-checked against (None for a
    rows-only query); ``doc`` describes it, defaulting to the builder's
    docstring.
    """

    def deco(fn: Builder) -> Builder:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        REGISTRY[name] = Query(name, fn, oracle, doc or (fn.__doc__ or ""))
        return fn

    return deco


def load_all() -> dict[str, Query]:
    """Import every operator/function module so their @register calls run."""
    import cascade_spark.operators  # noqa: F401
    import cascade_spark.functions  # noqa: F401
    import cascade_spark.sources.scans  # noqa: F401
    import cascade_spark.sources.cascade_bus  # noqa: F401
    import cascade_spark.sources.topics  # noqa: F401
    import cascade_spark.sources.lakehouse  # noqa: F401
    import cascade_spark.streaming  # noqa: F401

    return REGISTRY
