"""``cascade_bus`` — a custom PySpark DataSource modeling the reference's
ingest chain (the "Structured Streaming + custom source connector" path
the north star names).

Reference semantics modeled (file:line):
- **Ring-buffer admission with reject-on-full** — the producer admits a
  publish only when the next ring slot has been drained, otherwise acks
  failure (src/producer/main.rs:25-38 ``CircularBuffer``; :63-82 reject
  branch returns ``response_to_express: 0``). :class:`RingBuffer` keeps
  that exact contract: ``try_push`` returns False instead of blocking.
- **Round-robin partition assignment** — the producer sends event *i* to
  ``clients[i % len]`` (src/producer/main.rs:196). :class:`BusProducer`
  assigns global sequence *i* to partition ``i % num_partitions``.
- **Append-only per-partition log + offset index, offset-tracked reads**
  — the broker appends each event to its log and records its position in
  an 8-byte-per-entry index (src/broker/main.rs:91-98); consumers seek
  ``index[offset] .. index[offset+1]`` (src/broker/main.rs:123-160). Here
  each partition is a JSON-lines log whose line number IS the offset;
  reads are ``[start, end)`` line ranges.

Spark-side design: the connector is a **Python Data Source**
(pyspark.sql.datasource) registered as ``cascade_bus``:

- batch: ``spark.read.format("cascade_bus")`` — one ``InputPartition``
  per bus partition, read in parallel on executors (scales with
  partition count; a 100 TB topic is just more partitions). Rows travel
  as Arrow RecordBatches (columnar, no per-row Python); ``partition``
  equality and ``offset`` range predicates are **pushed down** into the
  reader (``pushFilters``), realizing the broker's index seek as
  planning-time partition pruning + segment row-slicing.
- streaming: ``spark.readStream.format("cascade_bus")`` via
  :class:`SimpleDataSourceStreamReader` with per-partition offsets
  ``{partition: next_offset}`` — the Kafka offset contract, so
  micro-batch replay (``readBetweenOffsets``) is deterministic and
  exactly-once composes with checkpointed sinks.
- write: ``df.write`` / ``writeStream.format("cascade_bus")`` — tasks
  write per-bus-partition **columnar parquet segment files** in parallel
  (data plane, Arrow in / parquet out, no per-row Python); the
  driver-side commit atomically appends them to the topic's
  ``index.json`` (control plane, the broker's index.table analog), with
  micro-batch-id idempotency so a replayed batch after restart commits
  nothing twice. Uncommitted/aborted segments are invisible to readers.

The producer is deliberately a driver-side client (the reference's
producer is a single gRPC process, not a distributed job); the
read and write paths are the distributed Spark surface.
"""

from __future__ import annotations

import json
import os

import uuid
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    InputPartition,
    LessThan,
    LessThanOrEqual,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)

from cascade_spark import store

BUS_SCHEMA = (
    "partition INT, offset BIGINT, event_id BIGINT, ts_us BIGINT, "
    "user_id BIGINT, event_type STRING, value DOUBLE"
)
_FIELDS = ["event_id", "ts_us", "user_id", "event_type", "value"]

# Canonical Arrow schemas: payload as stored in parquet segments, and the
# full read schema (must match to_arrow_schema(BUS_SCHEMA) exactly — the
# datasource worker hands our RecordBatches to the JVM unconverted).
_PA_PAYLOAD = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts_us", pa.int64()),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
    ]
)
_PA_FULL = pa.schema(
    [("partition", pa.int32()), ("offset", pa.int64())] + list(_PA_PAYLOAD)
)


class RingBuffer:
    """Fixed-capacity admission buffer with reject-on-full.

    Mirrors the reference CircularBuffer (src/producer/main.rs:25-38): a
    slot must be drained (set back to empty) before it can be written
    again; an un-drained slot rejects the publish (main.rs:75-81).
    """

    def __init__(self, capacity: int = 1000):
        self._buf: list = [None] * capacity
        self._write = 0
        self._read = 0

    def try_push(self, item) -> bool:
        if self._buf[self._write] is not None:
            return False  # reject-on-full — caller gets a failed ack
        self._buf[self._write] = item
        self._write = (self._write + 1) % len(self._buf)
        return True

    def drain(self) -> list:
        """The drain task (src/producer/main.rs:86-105): frees slots in
        arrival order and hands the items to the sender."""
        out = []
        while self._buf[self._read] is not None:
            out.append(self._buf[self._read])
            self._buf[self._read] = None
            self._read = (self._read + 1) % len(self._buf)
        return out


class BusProducer:
    """Publishes records through ring-buffer admission into per-partition
    append-only JSON-lines logs with dense per-partition offsets."""

    def __init__(self, topic_dir: str, num_partitions: int = 4, capacity: int = 1000):
        self.topic_dir = topic_dir
        self.num_partitions = num_partitions
        self.ring = RingBuffer(capacity)
        self.rejected = 0
        os.makedirs(topic_dir, exist_ok=True)
        # resume points: global round-robin sequence + per-partition offsets
        self._next_offset = [self._log_len(p) for p in range(num_partitions)]
        self._seq = sum(self._next_offset)

    def _log_path(self, p: int) -> str:
        return os.path.join(self.topic_dir, f"p{p}.jsonl")

    def _log_len(self, p: int) -> int:
        path = self._log_path(p)
        if not os.path.exists(path):
            return 0
        with open(path) as fh:
            return sum(1 for _ in fh)

    def publish(self, records) -> int:
        """Admit records through the ring buffer; returns the accepted
        count (rejects are counted, not retried — the reference acks 0)."""
        accepted = 0
        for rec in records:
            if self.ring.try_push(rec):
                accepted += 1
            else:
                self.rejected += 1
        return accepted

    def flush(self) -> int:
        """Drain the ring and append to the partition logs: global seq i
        → partition i % P (round robin), offset = lines already in that
        partition's log (the broker's index-table position)."""
        batch = self.ring.drain()
        handles = {}
        try:
            for rec in batch:
                p = self._seq % self.num_partitions
                if p not in handles:
                    handles[p] = open(self._log_path(p), "a")
                row = {"offset": self._next_offset[p]}
                row.update(rec)
                handles[p].write(json.dumps(row) + "\n")
                self._next_offset[p] += 1
                self._seq += 1
        finally:
            for fh in handles.values():
                fh.close()
        return len(batch)

    def publish_all(self, records, chunk: int | None = None) -> int:
        """Producer main loop: publish in admission-sized chunks with a
        flush (drain) between — every record lands exactly once unless
        the caller overruns a chunk (then rejects are honest)."""
        records = list(records)
        chunk = chunk or len(self.ring._buf)
        total = 0
        for i in range(0, len(records), chunk):
            total += self.publish(records[i : i + chunk])
            self.flush()
        return total


def _load_index(topic_dir: str) -> dict | None:
    """The topic's committed-segment index — the broker's index.table
    analog (src/broker/main.rs:91-98): an ordered list of segments per
    partition; a partition's offset space is the concatenation of its
    committed segments. Producer-style topics (single p{k}.jsonl log per
    partition) have no index and are handled as one implicit segment."""
    path = os.path.join(topic_dir, "index.json")
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        return json.load(fh)


def _save_index(topic_dir: str, idx: dict) -> None:
    """Atomic replace — commits are all-or-nothing, readers never see a
    torn index (the sink's exactly-once hinge)."""
    tmp = os.path.join(topic_dir, f".index.{uuid.uuid4().hex}.tmp")
    with open(tmp, "w") as fh:
        json.dump(idx, fh)
    os.replace(tmp, os.path.join(topic_dir, "index.json"))


def _segment_files(
    topic_dir: str, p: int, idx: dict | None
) -> list[tuple[str, int, str]]:
    """[(absolute path, n_rows, format)] in committed offset order.
    Sink-committed segments are columnar parquet; producer logs are the
    reference-shaped JSON-lines append logs. ``idx`` is the caller's
    ``_load_index`` snapshot, so a walk over every partition parses
    ``index.json`` once and sees one consistent commit."""
    if idx is not None:
        return [
            (
                os.path.join(topic_dir, "segments", seg["file"]),
                seg["n"],
                seg.get("fmt", "jsonl"),
            )
            for seg in idx["segments"].get(str(p), [])
        ]
    path = os.path.join(topic_dir, f"p{p}.jsonl")
    if not os.path.exists(path):
        return []
    with open(path) as fh:
        n = sum(1 for _ in fh)
    return [(path, n, "jsonl")]


def _load_segment(path: str, fmt: str) -> pa.Table:
    """One segment as an Arrow table of the 5 payload columns, in the
    canonical types. JSONL parses through pyarrow's native C++ JSON
    reader (no per-row Python), parquet is already columnar."""
    if fmt == "parquet":
        tbl = pq.read_table(path)
    else:
        import pyarrow.json as pj

        tbl = pj.read_json(path)
    return tbl.select(_FIELDS).cast(_PA_PAYLOAD)


def _read_log_batches(
    topic_dir: str, p: int, start: int, end: int | None, idx: dict | None
):
    """Yield Arrow RecordBatches (full BUS_SCHEMA columns) for offsets
    [start, end) of partition p — the broker's
    index[offset]..index[offset+1] seek, generalized to a committed-
    segment chain: whole segments are skipped by their row counts, the
    overlapping ones are loaded columnar and row-sliced."""
    base = 0
    for path, n, fmt in _segment_files(topic_dir, p, idx):
        seg_end = base + n
        if seg_end <= start or (end is not None and base >= end):
            base = seg_end
            continue
        lo = max(start, base)
        hi = seg_end if end is None else min(end, seg_end)
        if hi <= lo:
            base = seg_end
            continue
        payload = _load_segment(path, fmt).slice(lo - base, hi - lo)
        full = pa.table(
            {
                "partition": pa.array(np.full(hi - lo, p, dtype=np.int32)),
                "offset": pa.array(np.arange(lo, hi, dtype=np.int64)),
                **{f: payload.column(f) for f in _FIELDS},
            },
            schema=_PA_FULL,
        )
        yield from full.to_batches()
        base = seg_end


def _batches_to_rows(batches) -> list[tuple]:
    """Flatten RecordBatches to schema-ordered tuples (test helper /
    small driver-side peeks)."""
    out: list[tuple] = []
    for b in batches:
        cols = [b.column(i).to_pylist() for i in range(b.num_columns)]
        out.extend(zip(*cols))
    return out


def _num_partitions(topic_dir: str, idx: dict | None) -> int:
    if idx is not None:
        return int(idx["num_partitions"])
    return sum(
        1 for f in os.listdir(topic_dir) if f.startswith("p") and f.endswith(".jsonl")
    )


def _log_lens(topic_dir: str) -> dict[str, int]:
    idx = _load_index(topic_dir)
    return {
        str(p): sum(n for _, n, _ in _segment_files(topic_dir, p, idx))
        for p in range(_num_partitions(topic_dir, idx))
    }


class BusBatchReader(DataSourceReader):
    """Parallel batch scan: one InputPartition per bus partition, rows
    transferred as Arrow RecordBatches. Supports **filter pushdown** on
    the two physical columns — ``partition`` equality prunes whole
    partitions at planning time, ``offset`` range bounds become the
    broker's index seek (src/broker/main.rs:123-160: consumers read
    ``index[offset]..index[offset+1]`` instead of scanning the log)."""

    def __init__(self, options):
        self.topic_dir = options["path"]
        self.part_eq: int | None = None
        self.off_lo: int = 0
        self.off_hi: int | None = None  # exclusive

    def pushFilters(self, filters):
        for f in filters:
            col = f.attribute
            if isinstance(f, EqualTo) and col == ("partition",):
                self.part_eq = int(f.value)
            elif col == ("offset",) and isinstance(f, GreaterThanOrEqual):
                self.off_lo = max(self.off_lo, int(f.value))
            elif col == ("offset",) and isinstance(f, GreaterThan):
                self.off_lo = max(self.off_lo, int(f.value) + 1)
            elif col == ("offset",) and isinstance(f, LessThan):
                v = int(f.value)
                self.off_hi = v if self.off_hi is None else min(self.off_hi, v)
            elif col == ("offset",) and isinstance(f, LessThanOrEqual):
                v = int(f.value) + 1
                self.off_hi = v if self.off_hi is None else min(self.off_hi, v)
            else:
                yield f  # not ours — Spark evaluates it post-scan

    def partitions(self):
        n = _num_partitions(self.topic_dir, _load_index(self.topic_dir))
        if self.part_eq is not None:
            # out-of-range partition still yields one (empty) split —
            # Spark requires a non-empty partition list
            return [InputPartition(self.part_eq)]
        return [InputPartition(p) for p in range(n)]

    def read(self, partition):
        yield from _read_log_batches(
            self.topic_dir,
            partition.value,
            self.off_lo,
            self.off_hi,
            _load_index(self.topic_dir),
        )


class BusStreamReader(SimpleDataSourceStreamReader):
    """Per-partition offset-tracked micro-batch reads. ``maxRecordsPerBatch``
    caps each micro-batch (admission control on the consume side), so a
    backlog drains over several batches instead of one giant one."""

    def __init__(self, options):
        self.topic_dir = options["path"]
        self.max_per_batch = int(options.get("maxrecordsperbatch", 0)) or None

    def initialOffset(self) -> dict:
        n = _num_partitions(self.topic_dir, _load_index(self.topic_dir))
        return {str(p): 0 for p in range(n)}

    def read(self, start: dict):
        ends = _log_lens(self.topic_dir)
        end = {}
        per_part = None
        if self.max_per_batch:
            per_part = max(1, self.max_per_batch // max(1, len(ends)))
        for p, avail in ends.items():
            lo = start.get(p, 0)
            end[p] = min(avail, lo + per_part) if per_part else avail
        # iter(list), not a bare generator or list: the prefetch wrapper
        # copy.copy()s the cached iterator and next()s empty batches
        return iter(self.readBetweenOffsets(start, end)), end

    def readBetweenOffsets(self, start: dict, end: dict):
        # materialized list of Arrow RecordBatches, not a generator — the
        # simple-reader wrapper prefetches on the driver and pickles the
        # batch to executors; Arrow keeps that transfer columnar
        idx = _load_index(self.topic_dir)
        return [
            b
            for p in sorted(end, key=int)
            for b in _read_log_batches(
                self.topic_dir, int(p), start.get(p, 0), end[p], idx
            )
        ]


@dataclass
class BusCommitMessage(WriterCommitMessage):
    """(bus partition, segment file name, row count) per segment written
    by one task. Picklable — travels executor → driver for commit()."""

    entries: list = field(default_factory=list)


class _BusWriterBase:
    """Distributed write path: each Spark task writes its rows into
    per-bus-partition **columnar parquet segment files** (data plane,
    fully parallel on executors — shared storage on a real cluster); the
    driver-side commit appends the segment list to the atomic index
    (control plane, one tiny file op per batch). Mirrors the broker's
    append + index write (src/broker/main.rs:91-98) with the
    single-process broker replaced by a two-phase distributed commit.
    Uncommitted segments are invisible to readers; abort deletes them.

    The task input arrives as Arrow RecordBatches (DataSourceArrowWriter)
    — partition split and parquet encode are whole-column operations, no
    per-row Python."""

    def __init__(self, options, overwrite: bool):
        if overwrite:
            raise ValueError("cascade_bus is append-only (the reference log never truncates)")
        self.topic_dir = options["path"]
        self.num_partitions = int(options.get("numpartitions", 4))
        os.makedirs(os.path.join(self.topic_dir, "segments"), exist_ok=True)

    def write(self, iterator) -> BusCommitMessage:
        tables = [pa.Table.from_batches([b]) for b in iterator]
        if not tables:
            return BusCommitMessage(entries=[])
        tbl = pa.concat_tables(tables).combine_chunks()
        keys = tbl.column("partition").to_numpy() % self.num_partitions
        entries = []
        for p in sorted(np.unique(keys)):
            # take() preserves input row order → offsets stay the
            # caller's within-partition order
            sub = tbl.take(pa.array(np.nonzero(keys == p)[0]))
            payload = sub.select(_FIELDS).cast(_PA_PAYLOAD)
            fname = f"seg-{uuid.uuid4().hex}-p{int(p)}.parquet"
            pq.write_table(payload, os.path.join(self.topic_dir, "segments", fname))
            entries.append((int(p), fname, payload.num_rows))
        return BusCommitMessage(entries=entries)

    def _commit(self, messages, batch_id: int | None = None) -> None:
        idx = _load_index(self.topic_dir) or {
            "num_partitions": self.num_partitions,
            "batches": [],
            "segments": {str(p): [] for p in range(self.num_partitions)},
        }
        if batch_id is not None and batch_id in idx["batches"]:
            # replayed micro-batch (restart after commit): drop the
            # duplicate segments — exactly-once
            self._delete_segments(messages)
            return
        for msg in messages:
            if msg is None:
                continue
            for p, fname, n in msg.entries:
                idx["segments"][str(p)].append(
                    {"file": fname, "n": n, "fmt": "parquet"}
                )
        if batch_id is not None:
            idx["batches"].append(batch_id)
        _save_index(self.topic_dir, idx)

    def _delete_segments(self, messages) -> None:
        for msg in messages:
            if msg is None:
                continue
            for _, fname, _ in msg.entries:
                try:
                    os.remove(os.path.join(self.topic_dir, "segments", fname))
                except FileNotFoundError:
                    pass


class BusBatchWriter(_BusWriterBase, DataSourceArrowWriter):
    def commit(self, messages) -> None:
        self._commit(messages)

    def abort(self, messages) -> None:
        self._delete_segments(messages)


class BusStreamWriter(_BusWriterBase, DataSourceStreamArrowWriter):
    def commit(self, messages, batchId: int) -> None:
        self._commit(messages, batch_id=batchId)

    def abort(self, messages, batchId: int) -> None:
        self._delete_segments(messages)


class CascadeBusDataSource(DataSource):
    """spark.dataSource.register(CascadeBusDataSource) →
    spark.read/readStream/write/writeStream.format("cascade_bus")
    .option("path", topic_dir)."""

    @classmethod
    def name(cls) -> str:
        return "cascade_bus"

    def schema(self) -> str:
        return BUS_SCHEMA

    def reader(self, schema) -> BusBatchReader:
        return BusBatchReader(self.options)

    def simpleStreamReader(self, schema) -> BusStreamReader:
        return BusStreamReader(self.options)

    def writer(self, schema, overwrite: bool) -> BusBatchWriter:
        return BusBatchWriter(self.options, overwrite)

    def streamWriter(self, schema, overwrite: bool) -> BusStreamWriter:
        return BusStreamWriter(self.options, overwrite)


def register_bus(spark) -> None:
    spark.dataSource.register(CascadeBusDataSource)
    # required for BusBatchReader.pushFilters (Spark errors, not ignores,
    # if a pushdown-capable python source runs with this disabled)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")


def stage_bus_topic(spark, sf_dir: str, num_partitions: int = 4) -> str:
    """Publish the events fixture through the producer (ring buffer +
    round robin) into a cached topic dir, in event_id order so the
    round-robin assignment is deterministic and oracle-checkable."""
    from pyspark.sql import functions as F

    from cascade_spark.tables import load

    def build():
        ev = (
            load(spark, sf_dir, "events")
            .select(
                "event_id",
                F.unix_micros("ts").alias("ts_us"),
                "user_id",
                "event_type",
                "value",
            )
            .orderBy("event_id")
        )
        topic_dir = os.path.join(store.tempdir("cascade_bus"), "events")
        producer = BusProducer(topic_dir, num_partitions=num_partitions)
        # FIXTURE-STAGING BOUNDARY: this driver-side toPandas emulates the
        # reference's SERIAL publisher (one producer appending in event_id
        # order) and only ever stages the test fixture. At scale, bus topics
        # are written by the distributed BusStreamWriter sink path — never
        # through this function. The assert pins the boundary.
        n_rows = ev.count()
        assert n_rows <= 2_000_000, (
            f"stage_bus_topic is fixture staging only ({n_rows} rows); "
            "use BusStreamWriter for data-sized topic writes"
        )
        pdf = ev.toPandas()  # columns: event_id, ts_us, user_id, event_type, value
        rows = (
            {
                "event_id": int(a),
                "ts_us": int(b),
                "user_id": int(c),
                "event_type": d,
                "value": float(e),
            }
            for a, b, c, d, e in pdf.itertuples(index=False, name=None)
        )
        producer.publish_all(rows)
        assert producer.rejected == 0
        return topic_dir

    return store.fixture("bus.topic", (sf_dir, num_partitions), build)


# ---------------------------------------------------------------------------
# Declared queries

from pyspark.sql import functions as F  # noqa: E402

from cascade_spark.plans.registry import register  # noqa: E402


@register(
    "bus_source_roundtrip",
    doc="Custom-connector round trip: events published through the "
    "ring-buffer producer (round-robin across 4 bus partitions, dense "
    "per-partition offsets) and read back with "
    "spark.readStream.format('cascade_bus') — per-partition counts, "
    "offset ranges and an exact bigint checksum, hash-checked against "
    "an oracle that recomputes the round-robin assignment relationally.",
    oracle="""
WITH seq AS (
    SELECT event_id,
           ROW_NUMBER() OVER (ORDER BY event_id) - 1 AS i
    FROM events
),
assigned AS (
    SELECT CAST(i % 4 AS INT) AS partition,
           i // 4 AS off,
           event_id
    FROM seq
)
SELECT partition,
       COUNT(*) AS n_events,
       CAST(MIN(off) AS BIGINT) AS min_offset,
       CAST(MAX(off) AS BIGINT) AS max_offset,
       CAST(SUM(event_id) AS BIGINT) AS sum_event_id
FROM assigned
GROUP BY partition
ORDER BY partition
""",
)
def bus_source_roundtrip(spark, sf_dir):
    from cascade_spark.streaming.pipeline import run_to_memory

    topic = stage_bus_topic(spark, sf_dir)
    register_bus(spark)
    stream = spark.readStream.format("cascade_bus").option("path", topic).load()
    batch = run_to_memory(stream, "append")
    return (
        batch.groupBy("partition")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("offset").cast("long").alias("min_offset"),
            F.max("offset").cast("long").alias("max_offset"),
            F.sum("event_id").cast("long").alias("sum_event_id"),
        )
        .orderBy("partition")
    )


@register(
    "bus_source_batch_scan",
    doc="Batch read of the same bus topic via "
    "spark.read.format('cascade_bus') — one InputPartition per bus "
    "partition, read in parallel on executors; full event rows joined "
    "back (partition/offset/payload), hash-checked.",
    oracle="""
WITH seq AS (
    SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value,
           ROW_NUMBER() OVER (ORDER BY event_id) - 1 AS i
    FROM events
)
SELECT CAST(i % 4 AS INT) AS partition,
       i // 4 AS "offset",
       event_id, ts_us, user_id, event_type, value
FROM seq
ORDER BY event_id
""",
)
def bus_source_batch_scan(spark, sf_dir):
    topic = stage_bus_topic(spark, sf_dir)
    register_bus(spark)
    return (
        spark.read.format("cascade_bus")
        .option("path", topic)
        .load()
        .orderBy("event_id")
    )


@register(
    "bus_source_offset_seek",
    doc="Consume-by-offset with real source pushdown (the broker's "
    "index seek, src/broker/main.rs:123-160): partition = 2 AND offset "
    "in [5, 25) is absorbed by BusBatchReader.pushFilters — planning "
    "prunes the other 3 partitions entirely and the one remaining split "
    "row-slices the segment chain instead of scanning it. Hash-checked "
    "against the relational round-robin recomputation.",
    oracle="""
WITH seq AS (
    SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value,
           ROW_NUMBER() OVER (ORDER BY event_id) - 1 AS i
    FROM events
)
SELECT CAST(i % 4 AS INT) AS partition,
       i // 4 AS "offset",
       event_id, ts_us, user_id, event_type, value
FROM seq
WHERE i % 4 = 2 AND i // 4 >= 5 AND i // 4 < 25
ORDER BY "offset"
""",
)
def bus_source_offset_seek(spark, sf_dir):
    topic = stage_bus_topic(spark, sf_dir)
    register_bus(spark)
    df = spark.read.format("cascade_bus").option("path", topic).load()
    return df.filter(
        (F.col("partition") == 2) & (F.col("offset") >= 5) & (F.col("offset") < 25)
    ).orderBy("offset")


@register(
    "bus_sink_batch_write",
    doc="Custom-sink batch write: events hash-assigned to 4 bus "
    "partitions (pmod(event_id, 4)), repartitioned so each task owns "
    "its bus partitions, written via write.format('cascade_bus') — "
    "executors stream segment files, the driver commit publishes them "
    "in the atomic index; read back with offsets assigned by the "
    "committed-segment chain. Hash-checked: offsets must equal the "
    "relational ROW_NUMBER over (partition, event_id order).",
    oracle="""
WITH assigned AS (
    SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value,
           CAST(event_id % 4 AS INT) AS partition
    FROM events
)
SELECT partition,
       ROW_NUMBER() OVER (PARTITION BY partition ORDER BY event_id) - 1 AS "offset",
       event_id, ts_us, user_id, event_type, value
FROM assigned
ORDER BY event_id
""",
)
def bus_sink_batch_write(spark, sf_dir):
    from cascade_spark.tables import load

    register_bus(spark)
    # fresh target per invocation: the sink WRITE is the declared
    # operator, so every call must repeat it — this keeps the builder
    # side-effect-free w.r.t. re-invocation and therefore retime-eligible
    # in bench.py (a memoized target made the second run a read-only
    # replay, locking host-stall noise into the recorded figure forever)
    target = os.path.join(store.tempdir("cascade_bus_sink"), "events")
    ev = load(spark, sf_dir, "events").select(
        F.pmod(F.col("event_id"), F.lit(4)).cast("int").alias("partition"),
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        "user_id",
        "event_type",
        "value",
    )
    (
        ev.repartition(4, "partition")
        .sortWithinPartitions("event_id")
        .write.format("cascade_bus")
        .option("path", target)
        .option("numPartitions", "4")
        .mode("append")
        .save()
    )
    return (
        spark.read.format("cascade_bus")
        .option("path", target)
        .load()
        .orderBy("event_id")
    )


@register(
    "bus_sink_stream_roundtrip",
    doc="End-to-end custom connector: file stream → "
    "writeStream.format('cascade_bus') (micro-batch segment commits "
    "with batch-id idempotency = exactly-once) → batch read back. The "
    "aggregate is batch-split-invariant (counts + exact checksums per "
    "partition), so it hash-checks regardless of micro-batch "
    "boundaries.",
    oracle="""
WITH assigned AS (
    SELECT event_id, event_id % 4 AS partition FROM events
)
SELECT CAST(partition AS INT) AS partition,
       COUNT(*) AS n_events,
       CAST(SUM(event_id) AS BIGINT) AS sum_event_id,
       CAST(MIN(event_id) AS BIGINT) AS min_event_id,
       CAST(MAX(event_id) AS BIGINT) AS max_event_id
FROM assigned
GROUP BY partition
ORDER BY partition
""",
)
def bus_sink_stream_roundtrip(spark, sf_dir):
    from cascade_spark.streaming.pipeline import stage_stream_input

    register_bus(spark)
    # fresh target + checkpoint per invocation (see bus_sink_batch_write):
    # the streaming sink write IS the operator; re-running it keeps the
    # builder retime-eligible and the recorded figure honest
    indir, schema, _, _ = stage_stream_input(spark, sf_dir, n_files=4)
    tmp = store.tempdir("cascade_bus_ssink")
    target = os.path.join(tmp, "events")
    src = (
        # 2 files per trigger → 2 micro-batches: still exercises the
        # multi-batch commit path (batch-id idempotency needs ≥2)
        # at half the Python sink-writer spin-ups of one-file batches
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(indir)
    )
    proj = src.select(
        F.pmod(F.col("event_id"), F.lit(4)).cast("int").alias("partition"),
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        "user_id",
        "event_type",
        "value",
    )
    q = (
        proj.writeStream.format("cascade_bus")
        .option("path", target)
        .option("numPartitions", "4")
        .option("checkpointLocation", os.path.join(tmp, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        spark.read.format("cascade_bus")
        .option("path", target)
        .load()
        .groupBy("partition")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("event_id").cast("long").alias("sum_event_id"),
            F.min("event_id").cast("long").alias("min_event_id"),
            F.max("event_id").cast("long").alias("max_event_id"),
        )
        .orderBy("partition")
    )


@register(
    "bus_stream_windowed_agg",
    doc="End-to-end pipeline THROUGH the custom connector: cascade_bus "
    "streaming source → timestamp decode (timestamp_micros) → tumbling "
    "1-day window aggregation → memory sink. The connector composes "
    "with the Structured Streaming operator surface exactly like a "
    "built-in source (same micro-batch planner, same state store); "
    "hash-checked against a plain SQL day rollup of the events fixture.",
    oracle="""
SELECT STRFTIME(DATE_TRUNC('day', ts), '%Y-%m-%d') AS day,
       event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(12,4))) * 10000 AS BIGINT) AS value_e4
FROM events
GROUP BY 1, 2
ORDER BY day, event_type
""",
)
def bus_stream_windowed_agg(spark, sf_dir):
    from cascade_spark.streaming.pipeline import run_to_memory, state_partitions

    topic = stage_bus_topic(spark, sf_dir)
    register_bus(spark)
    stream = (
        spark.readStream.format("cascade_bus")
        .option("path", topic)
        .load()
        .select(
            F.timestamp_micros(F.col("ts_us")).alias("ts"),
            "event_type",
            "value",
        )
    )
    agg = stream.groupBy(F.window("ts", "1 day").alias("w"), "event_type").agg(
        F.count(F.lit(1)).alias("n"),
        # exact integer value sum (decimal scale-4) — float-tolerance-free
        (F.sum(F.col("value").cast("decimal(12,4)")) * 10000)
        .cast("long")
        .alias("value_e4"),
    )
    with state_partitions(spark, 8):
        out = run_to_memory(
            agg.select(
                F.date_format("w.start", "yyyy-MM-dd").alias("day"),
                "event_type",
                "n",
                "value_e4",
            ),
            "complete",
        )
    return out.orderBy("day", "event_type")


@register(
    "bus_index_dump",
    doc="Index dump (reference R16, src/broker/main.rs index.table): the "
    "topic's committed-segment index rendered as a relation — per bus "
    "partition, the segment chain with row counts and the cumulative "
    "offset range each segment serves. Control-plane data: the index is "
    "#partitions x #segments rows regardless of topic volume, so the "
    "driver-side file read is bounded like any catalog lookup; the "
    "oracle recomputes the round-robin offset spaces relationally.",
    oracle="""
WITH seq AS (
    SELECT ROW_NUMBER() OVER (ORDER BY event_id) - 1 AS i FROM events
),
assigned AS (SELECT CAST(i % 4 AS INT) AS partition FROM seq)
SELECT partition,
       CAST(0 AS BIGINT) AS segment_seq,
       'jsonl' AS fmt,
       COUNT(*) AS n_rows,
       CAST(0 AS BIGINT) AS start_offset,
       COUNT(*) AS next_offset
FROM assigned
GROUP BY partition
ORDER BY partition, segment_seq
""",
)
def bus_index_dump(spark, sf_dir):
    topic = stage_bus_topic(spark, sf_dir)
    idx = _load_index(topic)
    n_parts = (idx or {}).get("num_partitions", 4)
    rows = []
    for p in range(n_parts):
        base = 0
        for seq, (path, n, fmt) in enumerate(_segment_files(topic, p, idx)):
            rows.append((p, seq, fmt, n, base, base + n))
            base += n
    return spark.createDataFrame(
        rows,
        "partition int, segment_seq long, fmt string, n_rows long, "
        "start_offset long, next_offset long",
    ).orderBy("partition", "segment_seq")


@register(
    "bus_topic_compaction",
    doc="Kafka-style LOG COMPACTION over the bus topic (the maintenance "
    "op the reference's append-only broker log would need at "
    "retention time): read the topic through the connector, keep only "
    "the latest record per key — latest = max (offset, partition) "
    "position, which under the deterministic round-robin assignment "
    "is exactly max event_id — and report per key what compaction "
    "kept and how many records it retired. One shuffle on the "
    "compaction key; at scale this runs per topic-partition directory "
    "and rewrites segments in place.",
    oracle="""
WITH seq AS (
    SELECT event_id, user_id,
           ROW_NUMBER() OVER (ORDER BY event_id) - 1 AS i
    FROM events
), pos AS (
    SELECT user_id, event_id, i // 4 AS off, CAST(i % 4 AS INT) AS part
    FROM seq
), ranked AS (
    SELECT user_id, event_id,
           ROW_NUMBER() OVER (PARTITION BY user_id
                              ORDER BY off DESC, part DESC) AS rn,
           COUNT(*) OVER (PARTITION BY user_id) AS n_records
    FROM pos
)
SELECT user_id, event_id AS kept_event_id,
       CAST(n_records - 1 AS BIGINT) AS n_compacted_away
FROM ranked WHERE rn = 1
ORDER BY user_id
""",
)
def bus_topic_compaction(spark, sf_dir):
    from pyspark.sql import Window

    topic = stage_bus_topic(spark, sf_dir)
    register_bus(spark)
    log = spark.read.format("cascade_bus").option("path", topic).load()
    w = Window.partitionBy("user_id").orderBy(
        F.col("offset").desc(), F.col("partition").desc()
    )
    ranked = log.select(
        "user_id",
        "event_id",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("user_id")).alias("n_records"),
    )
    return (
        ranked.filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_id").alias("kept_event_id"),
            (F.col("n_records") - 1).cast("long").alias("n_compacted_away"),
        )
        .orderBy("user_id")
    )


@register(
    "bus_consumer_lag",
    doc="Consumer-lag monitoring (the first Kafka dashboard anyone "
    "builds): end offsets per bus partition vs a consumer group's "
    "committed position (deterministically: committed through half "
    "the log), giving per-partition lag and the total backlog. End "
    "offsets come from a metadata-sized aggregate over the topic — "
    "at scale this reads segment indexes, not payloads.",
    oracle="""
WITH seq AS (
    SELECT ROW_NUMBER() OVER (ORDER BY event_id) - 1 AS i FROM events
), pos AS (
    SELECT CAST(i % 4 AS INT) AS partition, i // 4 AS off FROM seq
), ends AS (
    SELECT partition, MAX(off) + 1 AS end_offset FROM pos GROUP BY partition
)
SELECT partition,
       CAST(end_offset AS BIGINT) AS end_offset,
       CAST(end_offset // 2 AS BIGINT) AS committed_offset,
       CAST(end_offset - end_offset // 2 AS BIGINT) AS lag
FROM ends
ORDER BY partition
""",
)
def bus_consumer_lag(spark, sf_dir):
    topic = stage_bus_topic(spark, sf_dir)
    register_bus(spark)
    log = spark.read.format("cascade_bus").option("path", topic).load()
    ends = log.groupBy("partition").agg(
        (F.max("offset") + 1).cast("long").alias("end_offset")
    )
    committed = F.floor(F.col("end_offset") / 2).cast("long")
    return ends.select(
        "partition",
        "end_offset",
        committed.alias("committed_offset"),
        (F.col("end_offset") - committed).cast("long").alias("lag"),
    ).orderBy("partition")


@register(
    "bus_orphan_segment_audit",
    doc="Orphan-segment audit — the log-cleanup companion of "
    "bus_index_dump (R16 family): a topic's DATA directory can hold "
    "segment files the committed index never references (aborted "
    "batch attempts, torn copies — the sink's atomic index replace "
    "makes them invisible to readers but they still burn storage). "
    "The audit stages a private sink topic, injects three "
    "uncommitted files into segments/, and reconciles: committed "
    "rows/partitions come from the connector READ path (which must "
    "see none of the junk — that equality is the exactly-once "
    "contract observable as data), committed segment counts from the "
    "index, disk inventory from the listing. At 100 TB this "
    "index-vs-listing diff IS the storage-reclamation job (Kafka log "
    "cleanup, Iceberg orphan-file removal); here it is one metadata "
    "pass, no data read.",
    oracle="""
SELECT CAST(4 AS BIGINT) AS n_partitions,
       CAST(4 AS BIGINT) AS n_committed_segments,
       CAST(COUNT(*) AS BIGINT) AS n_committed_rows,
       CAST(7 AS BIGINT) AS n_disk_files,
       CAST(3 AS BIGINT) AS n_orphans
FROM events
""",
)
def bus_orphan_segment_audit(spark, sf_dir):
    import shutil
    from cascade_spark.tables import load

    register_bus(spark)
    # fresh private sink topic per invocation (see bus_sink_batch_write):
    # staging the audited topic is part of the declared scenario, so
    # every call repeats it — keeps the builder retime-eligible
    target = os.path.join(
        store.tempdir("cascade_bus_orphan"), "events"
    )
    ev = load(spark, sf_dir, "events").select(
        F.pmod(F.col("event_id"), F.lit(4)).cast("int").alias("partition"),
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        "user_id",
        "event_type",
        "value",
    )
    (
        ev.repartition(4, "partition")
        .sortWithinPartitions("event_id")
        .write.format("cascade_bus")
        .option("path", target)
        .option("numPartitions", "4")
        .mode("append")
        .save()
    )
    # inject orphans: two aborted-looking segment copies + one torn tmp
    seg_dir = os.path.join(target, "segments")
    committed = sorted(os.listdir(seg_dir))
    for i in range(2):
        shutil.copy(
            os.path.join(seg_dir, committed[0]),
            os.path.join(seg_dir, f"orphan-{i}.parquet"),
        )
    with open(os.path.join(seg_dir, ".seg-torn.tmp"), "wb") as fh:
        fh.write(b"\x00" * 16)
    committed_read = (
        spark.read.format("cascade_bus").option("path", target).load()
    )
    stats = committed_read.agg(
        F.countDistinct("partition").cast("long").alias("n_partitions"),
        F.count(F.lit(1)).cast("long").alias("n_committed_rows"),
    )
    idx = _load_index(target)
    referenced = {
        seg["file"] for segs in idx["segments"].values() for seg in segs
    }
    n_segments = sum(len(v) for v in idx["segments"].values())
    disk = sorted(os.listdir(os.path.join(target, "segments")))
    n_orphans = len([f for f in disk if f not in referenced])
    return stats.select(
        "n_partitions",
        F.lit(n_segments).cast("long").alias("n_committed_segments"),
        "n_committed_rows",
        F.lit(len(disk)).cast("long").alias("n_disk_files"),
        F.lit(n_orphans).cast("long").alias("n_orphans"),
    )


@register(
    "bus_seek_by_timestamp",
    doc="Kafka offsetsForTimes parity: given a cutoff timestamp (the "
    "exact integer midpoint of the topic's ts range), find per "
    "partition the EARLIEST offset whose event ts >= cutoff, then "
    "consume from that offset to the log end (Kafka semantics: the "
    "seek is an offset, so older-ts rows appearing after it ARE "
    "consumed). Per partition: start offset, consumed count, "
    "event-id checksum. Hash-checked against the relational "
    "round-robin recomputation; at scale the min-offset probe is a "
    "combinable groupBy and the replay is the offset-pushdown scan.",
    oracle="""
WITH seq AS (
    SELECT event_id, epoch_us(ts) AS ts_us,
           ROW_NUMBER() OVER (ORDER BY event_id) - 1 AS i
    FROM events
),
bus AS (
    SELECT CAST(i % 4 AS BIGINT) AS partition, i // 4 AS off,
           event_id, ts_us
    FROM seq
),
cut AS (
    SELECT (MIN(ts_us) + MAX(ts_us)) // 2 AS cutoff FROM bus
),
starts AS (
    SELECT partition, CAST(MIN(off) AS BIGINT) AS start_offset
    FROM bus, cut WHERE ts_us >= cutoff GROUP BY partition
)
SELECT s.partition, s.start_offset,
       CAST(COUNT(*) AS BIGINT) AS n_consumed,
       CAST(SUM(b.event_id) AS BIGINT) AS id_checksum
FROM starts s JOIN bus b
  ON b.partition = s.partition AND b.off >= s.start_offset
GROUP BY s.partition, s.start_offset
ORDER BY s.partition
""",
)
def bus_seek_by_timestamp(spark, sf_dir):
    topic = stage_bus_topic(spark, sf_dir)
    register_bus(spark)
    df = (
        spark.read.format("cascade_bus")
        .option("path", topic)
        .load()
        .select("partition", "offset", "event_id", "ts_us")
    )
    cut = df.agg(
        F.expr("(MIN(ts_us) + MAX(ts_us)) DIV 2").cast("long").alias("cutoff")
    )
    starts = (
        df.crossJoin(F.broadcast(cut))
        .filter(F.col("ts_us") >= F.col("cutoff"))
        .groupBy("partition")
        .agg(F.min("offset").cast("long").alias("start_offset"))
    )
    consumed = df.join(F.broadcast(starts), "partition").filter(
        F.col("offset") >= F.col("start_offset")
    )
    return (
        consumed.groupBy(
            F.col("partition").cast("long").alias("partition"), "start_offset"
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_consumed"),
            F.sum("event_id").cast("long").alias("id_checksum"),
        )
        .orderBy("partition")
    )


@register(
    "bus_delete_records",
    doc="Kafka deleteRecords/log-start-offset parity (reference R16 "
    "retention family): each bus partition is truncated at 40% of its "
    "high watermark — cut_p = (n_p * 4) DIV 10 — advancing the "
    "log-start-offset the way retention or an explicit deleteRecords "
    "admin call does; the report shows the surviving range and an "
    "id checksum proving exactly which records remain. The cut frame "
    "is #partitions rows (control plane); at scale the retained read "
    "is the connector's per-partition offset-bound pushdown (segments "
    "below the cut are skipped by the index chain, like "
    "bus_source_offset_seek).",
    oracle="""
WITH seq AS (
    SELECT event_id, ROW_NUMBER() OVER (ORDER BY event_id) - 1 AS i
    FROM events
),
pos AS (
    SELECT event_id, CAST(i % 4 AS INT) AS partition, i // 4 AS off
    FROM seq
),
hw AS (
    SELECT partition, CAST(COUNT(*) AS BIGINT) AS n,
           (CAST(COUNT(*) AS BIGINT) * 4) // 10 AS cut
    FROM pos GROUP BY partition
)
SELECT CAST(p.partition AS BIGINT) AS partition,
       hw.cut AS log_start_offset,
       hw.n AS high_watermark,
       CAST(COUNT(*) AS BIGINT) AS n_retained,
       CAST(SUM(p.event_id) AS BIGINT) AS id_checksum
FROM pos p JOIN hw ON hw.partition = p.partition
WHERE p.off >= hw.cut
GROUP BY p.partition, hw.cut, hw.n
ORDER BY partition
""",
)
def bus_delete_records(spark, sf_dir):
    topic = stage_bus_topic(spark, sf_dir)
    register_bus(spark)
    df = spark.read.format("cascade_bus").option("path", topic).load()
    hw = df.groupBy("partition").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    ).select(
        "partition", "n", F.expr("(n * 4) DIV 10").cast("long").alias("cut")
    )
    retained = df.join(F.broadcast(hw), "partition").filter(
        F.col("offset") >= F.col("cut")
    )
    return (
        retained.groupBy(
            F.col("partition").cast("long").alias("partition"),
            F.col("cut").alias("log_start_offset"),
            F.col("n").alias("high_watermark"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_retained"),
            F.sum("event_id").cast("long").alias("id_checksum"),
        )
        .orderBy("partition")
    )
