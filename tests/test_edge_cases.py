"""Edge-case semantics: out-of-range consumes, empty topics, connector
stubs, console sink."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cascade_spark.tables import load


def test_consume_beyond_end_returns_empty(spark, sf_dir, tmp_path):
    from cascade_spark.operators.consume import consume_at, consume_range, latest_offset
    from cascade_spark.operators.ingest import publish

    ev = load(spark, sf_dir, "events").limit(10)
    topic = str(tmp_path / "topic_small")
    publish(ev, topic, order_cols=["ts", "event_id"], num_partitions=2)
    assert latest_offset(spark, topic) == 9
    assert consume_at(spark, topic, 10_000).count() == 0
    assert consume_range(spark, topic, 100, 200).count() == 0
    # half-overlapping range clips correctly
    assert consume_range(spark, topic, 8, 200).count() == 2


def test_lakehouse_stubs_raise_cleanly(spark):
    """Jar-gated backends raise a clear NotImplementedError; JDBC is
    REAL (embedded Derby) as of round 7, so it loads instead of raising
    — exercised end-to-end by scan_jdbc_roundtrip/scan_jdbc_pushdown."""
    from cascade_spark.sources import lakehouse

    with pytest.raises(NotImplementedError):
        lakehouse.read_delta(spark, "/nonexistent")
    with pytest.raises(NotImplementedError):
        lakehouse.read_iceberg(spark, "db.tbl")
    url = lakehouse.jdbc_orders_url(spark, "/root/testdata/sf0.001")
    assert lakehouse.read_jdbc(spark, url, "ORDERS_RT").count() > 0


def test_console_sink_runs(spark, sf_dir):
    """§2B streaming sinks: console (smoke — output goes to driver log)."""
    from cascade_spark.streaming.pipeline import stage_stream_input

    indir, schema, _, _ = stage_stream_input(spark, sf_dir, n_files=4)
    q = (
        spark.readStream.schema(schema)
        .parquet(indir)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .writeStream.format("console")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert q.lastProgress is not None


def test_publish_preserves_all_rows_and_schema(spark, sf_dir, tmp_path):
    """Intended R1 semantics: the WHOLE record persists (the reference
    actually dropped timestamp/number, src/broker/main.rs:96 — we keep
    them, SURVEY §2A divergence (b))."""
    from cascade_spark.operators.ingest import publish

    ev = load(spark, sf_dir, "events").limit(100)
    topic = str(tmp_path / "topic_full")
    publish(ev, topic, order_cols=["ts", "event_id"], num_partitions=4)
    back = spark.read.parquet(topic)
    assert back.count() == 100
    assert {"event_id", "ts", "user_id", "event_type", "value", "props", "offset", "topic"} <= set(
        back.columns
    )
    # every source row survives byte-identical (join back on event_id)
    src = ev.select("event_id", "value", "props")
    joined = back.select("event_id", "value", "props").exceptAll(src)
    assert joined.count() == 0


def test_cc_local_and_distributed_paths_agree(spark, sf_dir):
    """The union-find fast path and the min-label-propagation loop must
    produce identical component labels on the same LSH pair set."""
    from pyspark import StorageLevel
    from pyspark.sql import functions as F

    from cascade_spark.operators.dedup import (
        _cc_labels_distributed,
        _cc_local,
        _lsh_pairs,
    )

    pairs = _lsh_pairs(spark, sf_dir).select("d1", "d2").persist(
        StorageLevel.MEMORY_AND_DISK
    )
    local = sorted(_cc_local([(r[0], r[1]) for r in pairs.collect()]))
    fwd = pairs.select(F.col("d1").alias("src"), F.col("d2").alias("nbr"))
    rev = pairs.select(F.col("d2").alias("src"), F.col("d1").alias("nbr"))
    edges = fwd.union(rev).persist(StorageLevel.MEMORY_AND_DISK)
    init = (
        edges.select("src").distinct().select(F.col("src").alias("node"))
        .withColumn("comp", F.col("node"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    dist = sorted(
        (r["node"], r["comp"]) for r in _cc_labels_distributed(edges, init).collect()
    )
    assert local == dist and len(local) > 0


def test_word_ngrams_short_docs_drop_out(spark):
    """Docs with fewer than n words produce no n-grams (and never a
    partial gram padded with nulls) — matches the oracle's
    GENERATE_SERIES(1, len-n+1) which is empty for short docs."""
    from cascade_spark.operators.substring_dedup import _word_ngrams

    docs = spark.createDataFrame(
        [(1, "a b c d e f g h"), (2, "a b c"), (3, "solo"), (4, "")],
        "doc_id long, text string",
    )
    g8 = _word_ngrams(docs, 8, distinct=True)
    assert [r["doc_id"] for r in g8.collect()] == [1]
    assert g8.collect()[0]["s"] == "a b c d e f g h"
    g2 = _word_ngrams(docs, 2, distinct=False)
    got = {(r["doc_id"], r["s"]) for r in g2.collect()}
    assert (1, "a b") in got and (2, "b c") in got
    assert all(d != 3 and d != 4 for d, _ in got)


def test_dupspan_counts_symmetric(spark):
    """Two docs sharing one 8-word span each report exactly that shared
    span; a third unrelated doc reports nothing."""
    from cascade_spark.operators.substring_dedup import _word_ngrams
    from pyspark.sql import functions as F

    span = "w1 w2 w3 w4 w5 w6 w7 w8"
    docs = spark.createDataFrame(
        [
            (1, "x y " + span),
            (2, span + " p q"),
            (3, "totally different words here never shared at all"),
        ],
        "doc_id long, text string",
    )
    g = _word_ngrams(docs, 8, distinct=True).select("doc_id", F.md5("s").alias("gh"))
    freq = g.groupBy("gh").agg(F.count(F.lit(1)).alias("nd"))
    shared = (
        g.join(freq, "gh")
        .groupBy("doc_id")
        .agg(F.sum(F.when(F.col("nd") >= 2, 1).otherwise(0)).alias("n_shared"))
        .orderBy("doc_id")
        .collect()
    )
    assert [(r["doc_id"], r["n_shared"]) for r in shared] == [(1, 1), (2, 1), (3, 0)]


def test_quantized_dot_product_exact(spark):
    """floor(x*200) quantization is exact for representable floats and
    the integer dot product matches a Python reference."""
    import math

    from pyspark.sql import functions as F

    vals = [0.5, -0.25, 0.1, -0.000001]
    q = [math.floor(v * 200) for v in vals]
    expect = sum(a * b for a, b in zip(q, q))
    df = spark.createDataFrame([(vals,)], "v array<float>")
    qcol = F.transform(F.col("v"), lambda x: F.floor(x.cast("double") * 200))
    got = df.select(
        F.aggregate(
            F.zip_with(qcol, qcol, lambda x, y: x * y),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("dot")
    ).collect()[0]["dot"]
    # float32 storage: quantize the float32-rounded values in the reference
    import struct

    f32 = [struct.unpack("f", struct.pack("f", v))[0] for v in vals]
    q32 = [math.floor(v * 200) for v in f32]
    assert got == sum(a * b for a, b in zip(q32, q32))
    assert expect == got  # these literals survive float32 round-trip


def test_simhash_bucket_cap_drops_degenerate_corpus(spark, tmp_path):
    """A pathological corpus — 1.5k near-empty docs that all hash to the
    same band chunks (identical text => identical simhash) — must NOT
    reach the quadratic within-bucket self-join (1.5k² x 4 bands ≈ 9M
    pairs here; unbounded at scale). The SIMHASH_BUCKET_CAP admission
    drops the oversized buckets, so the pair output is empty and the
    audit query reports every doc dropped."""
    from cascade_spark.operators.dedup import SIMHASH_BUCKET_CAP
    from cascade_spark.plans.registry import load_all

    n = SIMHASH_BUCKET_CAP + 476  # 1500 docs, all in one bucket per band
    docs = spark.range(n).selectExpr(
        "id AS doc_id",
        "'tiny doc' AS text",
        "'en' AS lang",
        "'synthetic' AS source",
        "CAST(8 AS BIGINT) AS n_chars",
    )
    sf = str(tmp_path / "degenerate")
    docs.write.parquet(f"{sf}/documents.parquet")

    reg = load_all()
    pairs = reg["dedup_simhash"].builder(spark, sf)
    assert pairs.count() == 0

    audit = {r["k"]: r for r in reg["profile_simhash_buckets"].builder(spark, sf).collect()}
    assert set(audit) == {0, 1, 2, 3}
    for r in audit.values():
        assert r["n_buckets"] == 1
        assert r["max_bucket"] == n
        assert r["n_dropped_docs"] == n


def test_lakehouse_probe_documents_environment(spark):
    """The probe IS the documented result the round calls for: in this
    container every lakehouse backend is absent (no delta-spark package,
    no spark-avro/iceberg/hudi datasource jars), so the read paths must
    raise the clear NotImplementedError and the delta roundtrip query
    must not be registered. On a cluster WITH the jars, the probe flips
    and scan_delta_roundtrip registers + hash-checks automatically."""
    from cascade_spark.sources.lakehouse import lakehouse_probe, read_delta
    from cascade_spark.plans.registry import load_all

    probe = lakehouse_probe()
    if probe["delta"]:
        assert "scan_delta_roundtrip" in load_all()
    else:
        assert "scan_delta_roundtrip" not in load_all()
        import pytest

        with pytest.raises(NotImplementedError):
            read_delta(spark, "/tmp/nonexistent")


def test_overlap_bucket_cap_drops_flash_crowd_hour(spark, tmp_path):
    """A flash-crowd hour — OVERLAP_BUCKET_CAP+452 users all active in
    the same hour — must NOT reach the quadratic within-bucket self-join
    (2.5k² ≈ 6M candidate pairs here; unbounded at scale). The admission
    cap drops the oversized bucket, so the pair output is empty and the
    audit reports the dropped memberships."""
    import os

    import pandas as pd

    from cascade_spark.operators.interval import OVERLAP_BUCKET_CAP
    from cascade_spark.plans.registry import load_all

    n = OVERLAP_BUCKET_CAP + 452  # 2500 single-event sessions, one hour
    pdf = pd.DataFrame(
        {
            "event_id": range(n),
            "ts": pd.to_datetime(["2024-01-01 12:30:00"] * n)
            + pd.to_timedelta([i % 60 for i in range(n)], unit="s"),
            "user_id": range(n),
            "event_type": ["click"] * n,
            "value": [1.0] * n,
            "props": ["{}"] * n,
        }
    )
    sf = str(tmp_path / "flashcrowd")
    spark.createDataFrame(pdf).write.parquet(os.path.join(sf, "events.parquet"))

    reg = load_all()
    assert reg["join_interval_overlap"].builder(spark, sf).count() == 0
    audit = reg["profile_overlap_buckets"].builder(spark, sf).collect()[0]
    assert audit["n_buckets"] == 1
    assert audit["max_active"] == n
    assert audit["n_over_cap"] == 1
    assert audit["dropped_memberships"] == n


def test_graph_degree_cap_drops_hub_node(spark, tmp_path):
    """A star graph — one hub user whose sessions overlap MAX_DEGREE+6
    spokes (each >=2 times), spokes pairwise disjoint — makes the
    common-neighbor join quadratic in the hub's degree (d(hub)² ≈ 1M
    wedges; unbounded at scale). The MAX_DEGREE exclusion drops the hub
    and its edges, so both two-hop queries see an empty graph, and the
    audit reports the hub."""
    import os

    import pandas as pd

    from cascade_spark.operators.graph import MAX_DEGREE
    from cascade_spark.plans.registry import load_all

    n_spokes = MAX_DEGREE + 6
    t0 = pd.Timestamp("2024-01-01 00:00:00")
    sess_span_h = n_spokes + 1
    gap_h = sess_span_h + 1  # hub inter-session gap start offset
    rows = []
    eid = 0
    for s in range(2):  # two hub sessions -> every hub-spoke pair overlaps twice
        base = t0 + pd.Timedelta(hours=s * gap_h)
        for i in range(2 * sess_span_h + 1):  # 30-min spacing keeps one session
            rows.append((eid, base + pd.Timedelta(minutes=30 * i), 0))
            eid += 1
        for u in range(1, n_spokes + 1):  # spoke u: one event inside hour u
            rows.append((eid, base + pd.Timedelta(hours=u, minutes=10), u))
            eid += 1
    pdf = pd.DataFrame(rows, columns=["event_id", "ts", "user_id"])
    pdf["event_type"] = "click"
    pdf["value"] = 1.0
    pdf["props"] = "{}"
    sf = str(tmp_path / "stargraph")
    spark.createDataFrame(pdf).write.parquet(os.path.join(sf, "events.parquet"))

    reg = load_all()
    audit = reg["profile_graph_degree"].builder(spark, sf).collect()[0]
    assert audit["max_degree"] == n_spokes, audit
    assert audit["n_hubs"] == 1, audit
    assert audit["hub_edge_endpoints"] == n_spokes, audit
    tri = reg["graph_triangle_count"].builder(spark, sf).collect()[0]
    assert tri["n_edges"] == 0, tri
    assert reg["graph_link_prediction"].builder(spark, sf).count() == 0


def test_cached_frame_evicts_dead_session_entries(spark, sf_dir):
    """A shared spine must drop entries keyed by a stopped application
    on the next miss — holding a dead session's DataFrame handle leaks
    driver memory and can never serve a hit. Every spine (dedup
    signatures/pairs/shingles, interval pairs, graph edges, Q11
    per-part values, ...) goes through the one eviction path in
    store.frame, so that path is checked directly."""
    from types import SimpleNamespace

    from cascade_spark import store

    name = "test.eviction_probe"
    dead = SimpleNamespace(sparkContext=SimpleNamespace(applicationId="app-dead-0000"))
    # a handle cached by a session that has since stopped
    store.frame(name, dead, "/no/such/dir", lambda: spark.range(1))
    assert store.keys(name) == [("app-dead-0000", "/no/such/dir")]
    live_app = spark.sparkContext.applicationId
    out = store.frame(name, spark, "/eviction/probe", lambda: spark.range(2))
    assert out.count() == 2
    assert store.keys(name) == [(live_app, "/eviction/probe")]
    # cleanup the probe entry so later tests see a pristine store
    store.drop(name)
    out.unpersist()
