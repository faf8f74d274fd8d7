"""cascade_spark.tables.load: each table's schema is inferred once per
application and file version, and every load is still its own relation."""

from __future__ import annotations

import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from cascade_spark import tables


def _load_counting_jobs(spark, sf_dir: str, name: str):
    """``(DataFrame, Spark jobs the load ran)``: the load runs under its
    own job group, counted once the listener bus has drained."""
    sc = spark.sparkContext
    group = f"test_tables.{uuid.uuid4().hex}"
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        df = tables.load(spark, sf_dir, name)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return df, len(sc.statusTracker().getJobIdsForGroup(group))


def _write(sf_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(sf_dir, f"{name}.parquet"))


def test_second_load_runs_no_job(spark, tmp_path):
    sf_dir = str(tmp_path)
    _write(sf_dir, "region", {"r_regionkey": [0, 1], "r_name": ["A", "B"]})
    first, jobs_first = _load_counting_jobs(spark, sf_dir, "region")
    second, jobs_second = _load_counting_jobs(spark, sf_dir, "region")
    assert jobs_first >= 1  # the inference job the memo takes out
    assert jobs_second == 0
    assert second.schema == first.schema
    assert sorted(second.collect()) == sorted(first.collect())


def test_memo_schema_matches_inference(spark, sf_dir):
    for name in tables.TABLE_NAMES:
        tables.load(spark, sf_dir, name)  # sets the confs inference reads
        path = f"{sf_dir}/{name}.parquet"
        memo = spark.read.schema(tables._schema(spark, path)).parquet(path)
        assert memo.schema == spark.read.parquet(path).schema, name


def test_table_rewritten_in_place_loads_new_schema(spark, tmp_path):
    sf_dir = str(tmp_path)
    _write(sf_dir, "nation", {"n_nationkey": [0, 1]})
    assert tables.load(spark, sf_dir, "nation").columns == ["n_nationkey"]
    _write(sf_dir, "nation", {"n_nationkey": [0, 1, 2], "n_name": ["a", "b", "c"]})
    df = tables.load(spark, sf_dir, "nation")
    assert df.columns == ["n_nationkey", "n_name"]
    assert sorted(df.collect()) == [(0, "a"), (1, "b"), (2, "c")]


def test_two_loads_in_one_builder_self_join(spark, sf_dir):
    """Only the schema is memoized: two loads of one table are two
    relations, so a self-join on their own column handles resolves."""
    a = tables.load(spark, sf_dir, "nation")
    b = tables.load(spark, sf_dir, "nation")
    pairs = a.join(b, a["n_regionkey"] == b["n_regionkey"]).select(
        a["n_nationkey"].alias("x"), b["n_nationkey"].alias("y")
    )
    per_region = a.groupBy("n_regionkey").count().collect()
    assert pairs.count() == sum(r["count"] ** 2 for r in per_region)
    assert pairs.filter(F.col("x") != F.col("y")).count() > 0


def test_non_local_uri_loads(spark, tmp_path):
    """A URI that ``os.stat`` cannot open still infers and loads."""
    _write(str(tmp_path), "region", {"r_regionkey": [7]})
    df = tables.load(spark, f"file://{tmp_path}", "region")
    assert df.collect() == [(7,)]
