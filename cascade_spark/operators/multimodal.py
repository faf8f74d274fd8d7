"""Multimodal columns — binary payloads with typed metadata (north-star).

The fixtures carry no real media, so the *payload* is a synthesized
binary column (UTF-8 bytes of the text — an opaque blob as far as the
pipeline is concerned) while every piece of Spark-side plumbing is real:
BinaryType schema, Arrow batch transfer, ``mapInPandas`` batch iteration,
partition-friendly projections.

Decode comes in two tiers:

- ``decode_ppm`` (multimodal_decode_ppm) and ``decode_wav``
  (multimodal_decode_wav) are REAL decoders — binary PPM (P6) and
  canonical PCM16 WAV need no codec library, so the header/chunk
  parsing and numpy frombuffer work are actual byte-level decode,
  verified end-to-end against oracles that recompute dimensions, the
  exact pixel checksum, and the exact sample energy.
- ``decode_image_stub`` (multimodal_decode) covers the codec formats the
  container cannot serve (JPEG/PNG/compressed audio): it tries the real
  decoder import and falls back to a deterministic fake whose outputs
  are pure functions of the blob's md5 — which is what lets the DuckDB
  oracle check that plumbing end-to-end too.

At 100 TB: blobs ride in their own parquet column (column pruning keeps
metadata-only scans cheap); decode fan-out is a map-only mapInPandas
stage sized by ``spark.sql.files.maxPartitionBytes``, no shuffle.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from cascade_spark import store
from cascade_spark.plans.registry import register
from cascade_spark.operators._util import t

_SCHEMA = "doc_id long, byte_len long, width long, height long, n_frames long, status string"


def decode_image_stub(blob: bytes) -> tuple[int, int, int, str]:
    """Stub decoder: (width, height, n_frames, status).

    ALWAYS the deterministic md5-derived fake (matching the SQL oracle)
    — a real PIL path belongs in a separate rows-only query, never here:
    the oracle replays this exact recurrence, so the query's contract is
    the fake regardless of which media libraries the container ships.
    The stub keeps the contract: pure function blob → metadata.
    """
    h = hashlib.md5(blob).hexdigest()
    width = int(h[0:4], 16) % 1920
    height = int(h[4:8], 16) % 1080
    n_frames = int(h[8:10], 16) % 16 + 1
    return width, height, n_frames, "fake-decoded"


@register(
    "multimodal_decode",
    "multimodal",
    doc="Binary column → mapInPandas decode (stubbed, deterministic) → "
    "typed metadata. Oracle replicates the md5-derived fake in SQL, so "
    "the Arrow plumbing (schema, batching, UDF signature) is fully "
    "hash-checked.",
    oracle="""
SELECT doc_id,
       CAST(OCTET_LENGTH(ENCODE(text)) AS BIGINT) AS byte_len,
       ('0x' || SUBSTR(MD5(text), 1, 4))::BIGINT % 1920 AS width,
       ('0x' || SUBSTR(MD5(text), 5, 4))::BIGINT % 1080 AS height,
       ('0x' || SUBSTR(MD5(text), 9, 2))::BIGINT % 16 + 1 AS n_frames,
       'fake-decoded' AS status
FROM documents
ORDER BY doc_id
""",
)
def multimodal_decode(spark, sf_dir):
    import pandas as pd

    d = t(spark, sf_dir, "documents")
    # modest fan-out: enough cores for the Python decode without paying a
    # 32-way Arrow shuffle of the blobs (measured sweet spot locally)
    blobs = d.repartition(8).select("doc_id", F.col("text").cast("binary").alias("payload"))

    def decode_batches(batches):
        for pdf in batches:
            rows = []
            for doc_id, blob in zip(pdf["doc_id"], pdf["payload"]):
                blob = bytes(blob)
                w, h, nf, status = decode_image_stub(blob)
                rows.append((doc_id, len(blob), w, h, nf, status))
            yield pd.DataFrame(
                rows, columns=["doc_id", "byte_len", "width", "height", "n_frames", "status"]
            )

    return blobs.mapInPandas(decode_batches, schema=_SCHEMA).orderBy("doc_id")


@register(
    "multimodal_metadata",
    "multimodal",
    doc="Metadata-only pass over binary payloads — byte length + sha256 "
    "content address, pure JVM built-ins (the cheap scan that never "
    "touches a decoder; with blobs in their own parquet column this "
    "reads only the bytes it needs).",
    oracle="""
SELECT doc_id,
       CAST(OCTET_LENGTH(ENCODE(text)) AS BIGINT) AS byte_len,
       SHA256(text) AS content_id,
       lang, source
FROM documents
ORDER BY doc_id
""",
)
def multimodal_metadata(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.length(F.col("text").cast("binary")).cast("long").alias("byte_len"),
        F.sha2(F.col("text").cast("binary"), 256).alias("content_id"),
        "lang",
        "source",
    ).orderBy("doc_id")


@register(
    "multimodal_frame_sample",
    "multimodal",
    doc="Frame sampling plan: decode metadata → explode a deterministic "
    "frame index per payload (every 4th frame) — the shape of a video "
    "frame-extraction pipeline with the decode stubbed.",
    oracle="""
WITH meta AS (
    SELECT doc_id,
           ('0x' || SUBSTR(MD5(text), 9, 2))::BIGINT % 16 + 1 AS n_frames
    FROM documents
)
SELECT doc_id, UNNEST(GENERATE_SERIES(0, n_frames - 1, 4)) AS frame_idx
FROM meta
ORDER BY doc_id, frame_idx
""",
)
def multimodal_frame_sample(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    n_frames = (
        F.conv(F.substring(F.md5("text"), 9, 2), 16, 10).cast("long") % 16 + 1
    )
    return (
        d.select("doc_id", n_frames.alias("nf"))
        .select(
            "doc_id",
            F.explode(F.sequence(F.lit(0).cast("long"), F.col("nf") - 1, F.lit(4).cast("long"))).alias(
                "frame_idx"
            ),
        )
        .orderBy("doc_id", "frame_idx")
    )


@register(
    "multimodal_binary_dedup",
    "multimodal",
    doc="Content-addressed dedup over the binary payload column, "
    "per source: blob count vs distinct sha256 fingerprints + byte "
    "totals — the storage-dedup audit a media lakehouse runs before "
    "re-encoding. Pure metadata aggregation: with blobs in their own "
    "parquet column this is one map-side-combinable groupBy that never "
    "leaves the JVM.",
    oracle="""
SELECT source,
       COUNT(*) AS n_blobs,
       COUNT(DISTINCT SHA256(text)) AS n_unique,
       CAST(SUM(OCTET_LENGTH(ENCODE(text))) AS BIGINT) AS total_bytes,
       CAST(MAX(OCTET_LENGTH(ENCODE(text))) AS BIGINT) AS max_bytes
FROM documents
GROUP BY source
ORDER BY source
""",
)
def multimodal_binary_dedup(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    payload = F.col("text").cast("binary")
    return (
        d.select(
            "source",
            F.sha2(payload, 256).alias("fp"),
            F.length(payload).cast("long").alias("nb"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_blobs"),
            F.countDistinct("fp").alias("n_unique"),
            F.sum("nb").cast("long").alias("total_bytes"),
            F.max("nb").cast("long").alias("max_bytes"),
        )
        .orderBy("source")
    )


# --- REAL image decode: PPM (P6) via pure bytes/numpy ----------------------
# The container has no codec libraries (PIL/ffmpeg), but binary PPM needs
# none — the header is ASCII and the payload is raw RGB bytes. So this
# path is an ACTUAL decoder (parses bytes it is handed, no doc_id peeking),
# exercised end-to-end: blobs are synthesized as valid P6 images with
# parameters derived from doc_id, the decoder recovers them from the
# bytes alone, and the oracle recomputes the expected values in SQL.
# JPEG/PNG/audio stay honestly import-gated in decode_image_stub above.


def synth_ppm(doc_id: int) -> bytes:
    """Deterministic valid P6 image for a doc: dims from doc_id, pixel
    bytes (doc_id*31 + i) % 256."""
    w, h = 4 + doc_id % 13, 3 + doc_id % 7
    header = f"P6\n{w} {h}\n255\n".encode()
    n = 3 * w * h
    px = bytes((doc_id * 31 + i) % 256 for i in range(n))
    return header + px


def decode_ppm(blob: bytes) -> tuple[int, int, int, int, int]:
    """Real P6 parser: (width, height, maxval, n_pixel_bytes, pixel_sum).
    Reads only the blob. Raises ValueError on a non-P6 payload."""
    import numpy as np

    nl1 = blob.index(b"\n")
    if blob[:nl1] != b"P6":
        raise ValueError("not a binary PPM (P6) payload")
    nl2 = blob.index(b"\n", nl1 + 1)
    w_s, h_s = blob[nl1 + 1 : nl2].split()
    nl3 = blob.index(b"\n", nl2 + 1)
    maxval = int(blob[nl2 + 1 : nl3])
    px = np.frombuffer(blob, dtype=np.uint8, offset=nl3 + 1)
    w, h = int(w_s), int(h_s)
    if px.size != 3 * w * h:
        raise ValueError(f"truncated pixel data: {px.size} != {3 * w * h}")
    return w, h, maxval, int(px.size), int(px.sum(dtype="int64"))


@register(
    "multimodal_decode_ppm",
    "multimodal",
    doc="REAL image decode end-to-end: binary P6 (PPM) blobs — "
    "synthesized per doc with doc_id-derived dimensions and pixel "
    "bytes — parsed by an actual bytes/numpy decoder inside "
    "mapInPandas (header tokenization + raw RGB frombuffer; the "
    "decoder sees only the blob). The oracle recomputes the expected "
    "dimensions and exact pixel checksum in SQL, so header parsing, "
    "Arrow binary transfer, and the pixel math are all hash-checked. "
    "At 100 TB this is the map-only decode stage: no shuffle, fan-out "
    "sized by maxPartitionBytes, blobs column-pruned until this stage.",
    oracle="""
SELECT d.doc_id,
       4 + d.doc_id % 13 AS width,
       3 + d.doc_id % 7 AS height,
       CAST(255 AS BIGINT) AS maxval,
       3 * (4 + d.doc_id % 13) * (3 + d.doc_id % 7) AS n_bytes,
       (SELECT CAST(SUM((d.doc_id * 31 + i) % 256) AS BIGINT)
        FROM UNNEST(GENERATE_SERIES(0, 3 * (4 + d.doc_id % 13) * (3 + d.doc_id % 7) - 1)) AS s(i)
       ) AS pixel_sum,
       'decoded-ppm' AS status
FROM documents d
ORDER BY d.doc_id
""",
)
def multimodal_decode_ppm(spark, sf_dir):
    import pandas as pd

    d = t(spark, sf_dir, "documents")
    ids = d.repartition(8).select("doc_id")

    def synth_and_decode(batches):
        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                doc_id = int(doc_id)
                blob = synth_ppm(doc_id)  # producer side
                w, h, mv, nb, psum = decode_ppm(blob)  # consumer side: bytes only
                rows.append((doc_id, w, h, mv, nb, psum, "decoded-ppm"))
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "width", "height", "maxval", "n_bytes", "pixel_sum", "status",
                ],
            )

    schema = (
        "doc_id long, width long, height long, maxval long, "
        "n_bytes long, pixel_sum long, status string"
    )
    return ids.mapInPandas(synth_and_decode, schema=schema).orderBy("doc_id")


# --- REAL audio decode: WAV (RIFF/PCM16) via pure bytes/numpy --------------
# Same tier as decode_ppm: canonical PCM16 WAV is struct-parseable with
# no codec library, so this is actual byte-level audio decode work.


def synth_wav(doc_id: int) -> bytes:
    """Deterministic valid mono PCM16 WAV: sample rate from doc_id,
    samples (doc_id * 7 + i) % 65536 - 32768."""
    import struct

    sample_rate = 8000 + (doc_id % 3) * 4000  # 8k / 12k / 16k
    n_samples = 64 + doc_id % 129
    samples = [(doc_id * 7 + i) % 65536 - 32768 for i in range(n_samples)]
    data = struct.pack(f"<{n_samples}h", *samples)
    byte_rate = sample_rate * 2
    hdr = (
        b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
        + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, sample_rate, byte_rate, 2, 16)
        + b"data" + struct.pack("<I", len(data))
    )
    return hdr + data


def parse_wav(blob: bytes):
    """Real RIFF/PCM16 parser core: (n_channels, sample_rate, samples
    ndarray). Walks the chunk list properly (word-aligned); raises
    ValueError on non-PCM16 payloads."""
    import struct

    import numpy as np

    if blob[:4] != b"RIFF" or blob[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(blob):
        cid, size = blob[pos : pos + 4], struct.unpack("<I", blob[pos + 4 : pos + 8])[0]
        body = blob[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt = struct.unpack("<HHIIHH", body[:16])
        elif cid == b"data":
            data = body
        pos += 8 + size + (size % 2)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("missing fmt/data chunk")
    audio_fmt, n_ch, rate, _, _, bits = fmt
    if audio_fmt != 1 or bits != 16:
        raise ValueError(f"not PCM16: fmt={audio_fmt} bits={bits}")
    return n_ch, rate, np.frombuffer(data, dtype="<i2")


def decode_wav(blob: bytes) -> tuple[int, int, int, int]:
    """(n_channels, sample_rate, n_samples, sum_sq) — sum of squared
    samples as an exact integer (the energy statistic; no float RMS so
    the oracle matches bit-for-bit)."""
    n_ch, rate, samples = parse_wav(blob)
    sum_sq = int((samples.astype("int64") ** 2).sum())
    return n_ch, rate, int(samples.size) // n_ch, sum_sq


@register(
    "multimodal_decode_wav",
    "multimodal",
    doc="REAL audio decode end-to-end: canonical mono PCM16 WAV blobs "
    "(RIFF chunk walk, little-endian int16 frombuffer — the decoder "
    "sees only the bytes) synthesized per doc with doc_id-derived rate "
    "and samples; output carries the exact integer energy (sum of "
    "squared samples) so the SQL oracle matches bit-for-bit. The "
    "map-only mapInPandas shape is identical to the image path.",
    oracle="""
SELECT d.doc_id,
       CAST(1 AS BIGINT) AS n_channels,
       8000 + (d.doc_id % 3) * 4000 AS sample_rate,
       64 + d.doc_id % 129 AS n_samples,
       (SELECT CAST(SUM(((d.doc_id * 7 + i) % 65536 - 32768)
                        * ((d.doc_id * 7 + i) % 65536 - 32768)) AS BIGINT)
        FROM UNNEST(GENERATE_SERIES(0, 64 + d.doc_id % 129 - 1)) AS s(i)
       ) AS sum_sq,
       'decoded-wav' AS status
FROM documents d
ORDER BY d.doc_id
""",
)
def multimodal_decode_wav(spark, sf_dir):
    import pandas as pd

    d = t(spark, sf_dir, "documents")
    ids = d.repartition(8).select("doc_id")

    def synth_and_decode(batches):
        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                doc_id = int(doc_id)
                blob = synth_wav(doc_id)
                n_ch, rate, n_samples, sum_sq = decode_wav(blob)
                rows.append((doc_id, n_ch, rate, n_samples, sum_sq, "decoded-wav"))
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "n_channels", "sample_rate", "n_samples", "sum_sq", "status"],
            )

    schema = (
        "doc_id long, n_channels long, sample_rate long, "
        "n_samples long, sum_sq long, status string"
    )
    return ids.mapInPandas(synth_and_decode, schema=schema).orderBy("doc_id")


def stage_blob_dir(sf_dir: str) -> str:
    """Write the 32 synthetic .ppm files once per sf_dir (memoized) —
    producer-side fixture prep, called from bench.prepare so the
    staging never lands inside scan_binaryfile_blobs' timing."""
    import os

    def build():
        blob_dir = store.tempdir("cascade_blobs")
        for i in range(32):
            with open(os.path.join(blob_dir, f"img_{i:04d}.ppm"), "wb") as fh:
                fh.write(synth_ppm(i))
        return blob_dir

    return store.fixture("multimodal.blob_dir", sf_dir, build)


@register(
    "scan_binaryfile_blobs",
    "sources",
    doc="Media ingestion through Spark's binaryFile source — the real "
    "on-disk path for multimodal corpora: a directory of .ppm image "
    "files is read as (path, length, content) rows, pruned to the "
    "binary column, and decoded by the REAL PPM parser inside "
    "mapInPandas. The oracle recomputes each image's dimensions and "
    "exact pixel checksum from its id. At 100 TB this is the "
    "object-store listing + ranged-read scan; decode stays map-only "
    "and the scan parallelizes per file.",
    oracle="""
SELECT i AS img_id,
       4 + i % 13 AS width,
       3 + i % 7 AS height,
       3 * (4 + i % 13) * (3 + i % 7) AS n_bytes,
       (SELECT CAST(SUM((i * 31 + j) % 256) AS BIGINT)
        FROM UNNEST(GENERATE_SERIES(0, 3 * (4 + i % 13) * (3 + i % 7) - 1)) AS s(j)
       ) AS pixel_sum
FROM UNNEST(GENERATE_SERIES(0, 31)) AS t(i)
ORDER BY img_id
""",
)
def scan_binaryfile_blobs(spark, sf_dir):
    import pandas as pd

    blob_dir = stage_blob_dir(sf_dir)

    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.ppm")
        .load(blob_dir)
        .select(
            F.regexp_extract(F.col("path"), r"img_(\d+)\.ppm$", 1)
            .cast("long")
            .alias("img_id"),
            "content",
        )
    )

    def decode_batches(batches):
        for pdf in batches:
            rows = []
            for img_id, blob in zip(pdf["img_id"], pdf["content"]):
                w, h, _, nb, psum = decode_ppm(bytes(blob))
                rows.append((int(img_id), w, h, nb, psum))
            yield pd.DataFrame(
                rows, columns=["img_id", "width", "height", "n_bytes", "pixel_sum"]
            )

    schema = "img_id long, width long, height long, n_bytes long, pixel_sum long"
    return files.mapInPandas(decode_batches, schema=schema).orderBy("img_id")


AUDIO_FRAME = 32  # samples per analysis frame


@register(
    "multimodal_audio_frame_energy",
    "multimodal",
    doc="Frame-level audio feature extraction through the REAL WAV "
    f"decoder: each blob's samples are windowed into {AUDIO_FRAME}-"
    "sample frames inside the same map-only mapInPandas stage "
    "(decode -> numpy reshape -> per-frame exact int64 energy + peak), "
    "one output row per frame — the audio analog of image frame "
    "sampling. No shuffle until the final presentation sort; at 100 TB "
    "the fan-out is bounded by maxPartitionBytes exactly like the "
    "decode path. Oracle recomputes every frame from the synthesis "
    "recurrence.",
    oracle=f"""
WITH frames AS (
    SELECT d.doc_id, i // {AUDIO_FRAME} AS frame_idx,
           ((d.doc_id * 7 + i) % 65536 - 32768) AS s
    FROM documents d,
         LATERAL (SELECT UNNEST(GENERATE_SERIES(0, 64 + d.doc_id % 129 - 1)) AS i)
)
SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
       CAST(COUNT(*) AS BIGINT) AS n_samples,
       CAST(SUM(s * s) AS BIGINT) AS energy,
       CAST(MAX(ABS(s)) AS BIGINT) AS peak_abs
FROM frames
GROUP BY doc_id, frame_idx
ORDER BY doc_id, frame_idx
""",
)
def multimodal_audio_frame_energy(spark, sf_dir):
    import pandas as pd

    d = t(spark, sf_dir, "documents")
    ids = d.repartition(8).select("doc_id")

    def frames(batches):
        import numpy as np

        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                doc_id = int(doc_id)
                _, _, samples = parse_wav(synth_wav(doc_id))
                s = samples.astype("int64")
                for f in range(0, (len(s) + AUDIO_FRAME - 1) // AUDIO_FRAME):
                    chunk = s[f * AUDIO_FRAME : (f + 1) * AUDIO_FRAME]
                    rows.append(
                        (
                            doc_id,
                            f,
                            len(chunk),
                            int((chunk * chunk).sum()),
                            int(np.abs(chunk).max()),
                        )
                    )
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "frame_idx", "n_samples", "energy", "peak_abs"],
            )

    out = ids.mapInPandas(
        frames,
        schema="doc_id long, frame_idx long, n_samples long, energy long, peak_abs long",
    )
    return out.orderBy("doc_id", "frame_idx")


RESIZE_STRIDE = 2  # nearest-neighbor downsample factor


@register(
    "multimodal_image_resize",
    "multimodal",
    doc="REAL image transform: P6 blobs decoded by the real PPM parser, "
    f"then nearest-neighbor stride-{RESIZE_STRIDE} downsampled via a "
    "numpy strided view inside the same map-only mapInPandas stage — "
    "the thumbnail/preprocess step of an image-pipeline. Output: new "
    "dims + the exact int64 pixel checksum of the RESIZED image, which "
    "the oracle recomputes from the synthesis recurrence pixel-by-"
    "pixel — so the resampling arithmetic itself is hash-checked. "
    "No shuffle until the presentation sort.",
    oracle=f"""
WITH dims AS (
    SELECT doc_id, 4 + doc_id % 13 AS w, 3 + doc_id % 7 AS h
    FROM documents
),
px AS (
    SELECT d.doc_id, d.w, d.h, y.y, x.x, c.c,
           (d.doc_id * 31 + 3 * (y.y * d.w + x.x) + c.c) % 256 AS v
    FROM dims d,
         LATERAL (SELECT UNNEST(GENERATE_SERIES(0, d.h - 1, {RESIZE_STRIDE})) AS y) y,
         LATERAL (SELECT UNNEST(GENERATE_SERIES(0, d.w - 1, {RESIZE_STRIDE})) AS x) x,
         LATERAL (SELECT UNNEST(GENERATE_SERIES(0, 2)) AS c) c
)
SELECT doc_id,
       CAST((w + {RESIZE_STRIDE} - 1) // {RESIZE_STRIDE} AS BIGINT) AS new_w,
       CAST((h + {RESIZE_STRIDE} - 1) // {RESIZE_STRIDE} AS BIGINT) AS new_h,
       CAST(COUNT(*) AS BIGINT) AS n_bytes_out,
       CAST(SUM(v) AS BIGINT) AS pixel_sum
FROM px
GROUP BY doc_id, w, h
ORDER BY doc_id
""",
)
def multimodal_image_resize(spark, sf_dir):
    import pandas as pd

    d = t(spark, sf_dir, "documents")
    ids = d.repartition(8).select("doc_id")

    def resize_batches(batches):
        import numpy as np

        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                doc_id = int(doc_id)
                w, h, _, _, _ = decode_ppm(synth_ppm(doc_id))
                px = np.frombuffer(
                    synth_ppm(doc_id).split(b"\n255\n", 1)[1], dtype=np.uint8
                ).reshape(h, w, 3)
                small = px[::RESIZE_STRIDE, ::RESIZE_STRIDE, :]
                rows.append(
                    (
                        doc_id,
                        small.shape[1],
                        small.shape[0],
                        int(small.size),
                        int(small.sum(dtype="int64")),
                    )
                )
            yield pd.DataFrame(
                rows, columns=["doc_id", "new_w", "new_h", "n_bytes_out", "pixel_sum"]
            )

    out = ids.mapInPandas(
        resize_batches,
        schema="doc_id long, new_w long, new_h long, n_bytes_out long, pixel_sum long",
    )
    return out.orderBy("doc_id")


# --- video: a trivial multi-frame container over real P6 frames -------------
VIDEO_SAMPLE_EVERY = 2


def synth_video(doc_id: int) -> bytes:
    """Deterministic multi-frame container: ``PVID\\n<n>\\n`` header then
    n concatenated P6 blobs (same dims per frame, pixel recurrence
    (doc_id*31 + f*7 + i) % 256)."""
    n_frames = 2 + doc_id % 5
    w, h = 4 + doc_id % 13, 3 + doc_id % 7
    out = [b"PVID\n", f"{n_frames}\n".encode()]
    for f in range(n_frames):
        out.append(f"P6\n{w} {h}\n255\n".encode())
        out.append(bytes((doc_id * 31 + f * 7 + i) % 256 for i in range(3 * w * h)))
    return b"".join(out)


def decode_video(blob: bytes):
    """Real container parser: walks the PVID header then each embedded
    P6 frame (header parse → exact pixel-block slice). Yields
    (frame_idx, width, height, pixel_sum). Raises ValueError on a
    non-PVID payload or a truncated frame."""
    import numpy as np

    nl = blob.index(b"\n")
    if blob[:nl] != b"PVID":
        raise ValueError("not a PVID container")
    nl2 = blob.index(b"\n", nl + 1)
    n_frames = int(blob[nl + 1 : nl2])
    pos = nl2 + 1
    for f in range(n_frames):
        if blob[pos : pos + 3] != b"P6\n":
            raise ValueError(f"frame {f}: missing P6 magic at {pos}")
        d1 = blob.index(b"\n", pos + 3)
        w_s, h_s = blob[pos + 3 : d1].split()
        d2 = blob.index(b"\n", d1 + 1)
        w, h = int(w_s), int(h_s)
        n = 3 * w * h
        px = np.frombuffer(blob, dtype=np.uint8, offset=d2 + 1, count=n)
        if px.size != n:
            raise ValueError(f"frame {f}: truncated pixel data")
        yield f, w, h, int(px.sum(dtype="int64"))
        pos = d2 + 1 + n


@register(
    "multimodal_video_decode",
    "multimodal",
    doc="REAL video-container decode: PVID blobs (multi-frame containers "
    "of P6 frames) are walked frame-by-frame by the real parser inside "
    f"one map-only mapInPandas stage; every {VIDEO_SAMPLE_EVERY}nd "
    "frame is sampled (the frame-sampling step of a video-training "
    "pipeline) and its exact pixel checksum emitted. The oracle "
    "recomputes each sampled frame from the synthesis recurrence, so "
    "container walking + frame slicing arithmetic is hash-checked. At "
    "100 TB: fan-out bounded by maxPartitionBytes, no shuffle before "
    "the presentation sort.",
    oracle=f"""
WITH dims AS (
    SELECT doc_id, 2 + doc_id % 5 AS nf, 4 + doc_id % 13 AS w, 3 + doc_id % 7 AS h
    FROM documents
),
frames AS (
    SELECT d.doc_id, d.nf, d.w, d.h, f.f
    FROM dims d,
         LATERAL (SELECT UNNEST(GENERATE_SERIES(0, d.nf - 1, {VIDEO_SAMPLE_EVERY})) AS f) f
),
px AS (
    SELECT fr.doc_id, fr.nf, fr.f,
           (fr.doc_id * 31 + fr.f * 7 + i.i) % 256 AS v
    FROM frames fr,
         LATERAL (SELECT UNNEST(GENERATE_SERIES(0, 3 * fr.w * fr.h - 1)) AS i) i
)
SELECT doc_id, CAST(nf AS BIGINT) AS n_frames, CAST(f AS BIGINT) AS frame_idx,
       CAST(SUM(v) AS BIGINT) AS pixel_sum
FROM px GROUP BY doc_id, nf, f
ORDER BY doc_id, frame_idx
""",
)
def multimodal_video_decode(spark, sf_dir):
    import pandas as pd

    d = t(spark, sf_dir, "documents")
    ids = d.repartition(8).select("doc_id")

    def decode_batches(batches):
        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                doc_id = int(doc_id)
                frames = list(decode_video(synth_video(doc_id)))
                for f, _, _, psum in frames:
                    if f % VIDEO_SAMPLE_EVERY == 0:
                        rows.append((doc_id, len(frames), f, psum))
            yield pd.DataFrame(
                rows, columns=["doc_id", "n_frames", "frame_idx", "pixel_sum"]
            )

    out = ids.mapInPandas(
        decode_batches,
        schema="doc_id long, n_frames long, frame_idx long, pixel_sum long",
    )
    return out.orderBy("doc_id", "frame_idx")


@register(
    "multimodal_phash_dedup",
    "multimodal",
    doc="Perceptual-hash (dHash) near-dup detection over REAL decoded "
    "pixels: each P6 blob is parsed by the actual byte decoder, "
    "grayscale = 3-channel integer sum (no division — exact), the "
    "image is nearest-neighbor sampled to a 9x8 grid, and the 64 "
    "horizontal-gradient bits form the dHash (split hi/lo 32-bit "
    "halves so int64 summation never touches the sign bit). Docs "
    "sharing a dHash are perceptual duplicates — reported as clusters "
    "(the image analog of exact text dedup; Hamming-banded variants "
    "follow the SimHash machinery). The oracle recomputes every bit "
    "from the synthesis recurrence in SQL, so the decoder, the "
    "sampling grid, and the bit packing are all hash-checked. "
    "Map-only decode + one groupBy shuffle at any corpus size.",
    oracle="""
WITH g AS (
    SELECT d.doc_id,
           4 + d.doc_id % 13 AS w,
           3 + d.doc_id % 7 AS h,
           gy.v AS gy, gx.v AS gx
    FROM documents d,
         (SELECT UNNEST(GENERATE_SERIES(0, 7)) AS v) gy,
         (SELECT UNNEST(GENERATE_SERIES(0, 7)) AS v) gx
),
b AS (
    SELECT doc_id, gy, gx,
           CASE WHEN
             (doc_id*31 + 3*(((gy*h)//8)*w + (((gx+1)*w)//9))) % 256
           + (doc_id*31 + 3*(((gy*h)//8)*w + (((gx+1)*w)//9)) + 1) % 256
           + (doc_id*31 + 3*(((gy*h)//8)*w + (((gx+1)*w)//9)) + 2) % 256
           >
             (doc_id*31 + 3*(((gy*h)//8)*w + ((gx*w)//9))) % 256
           + (doc_id*31 + 3*(((gy*h)//8)*w + ((gx*w)//9)) + 1) % 256
           + (doc_id*31 + 3*(((gy*h)//8)*w + ((gx*w)//9)) + 2) % 256
           THEN 1 ELSE 0 END AS bit
    FROM g
),
ph AS (
    SELECT doc_id,
           CAST(SUM(CASE WHEN gy < 4 THEN bit * (CAST(1 AS BIGINT) << (gy*8+gx))
                         ELSE 0 END) AS BIGINT) AS phash_lo,
           CAST(SUM(CASE WHEN gy >= 4 THEN bit * (CAST(1 AS BIGINT) << ((gy-4)*8+gx))
                         ELSE 0 END) AS BIGINT) AS phash_hi
    FROM b GROUP BY doc_id
)
SELECT phash_hi, phash_lo,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(MIN(doc_id) AS BIGINT) AS min_doc,
       CAST(MAX(doc_id) AS BIGINT) AS max_doc
FROM ph GROUP BY phash_hi, phash_lo
HAVING COUNT(*) >= 2
ORDER BY phash_hi, phash_lo
""",
)
def multimodal_phash_dedup(spark, sf_dir):
    import pandas as pd

    d = t(spark, sf_dir, "documents")
    ids = d.repartition(8).select("doc_id")

    def dhash_batches(batches):
        import numpy as np

        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                doc_id = int(doc_id)
                blob = synth_ppm(doc_id)  # producer side
                # consumer side: REAL parse, bytes only
                nl1 = blob.index(b"\n")
                nl2 = blob.index(b"\n", nl1 + 1)
                w, h = (int(v) for v in blob[nl1 + 1 : nl2].split())
                nl3 = blob.index(b"\n", nl2 + 1)
                px = np.frombuffer(blob, dtype=np.uint8, offset=nl3 + 1)
                gray = px.reshape(h, w, 3).sum(axis=2, dtype=np.int64)
                xs = [(gx * w) // 9 for gx in range(9)]
                ys = [(gy * h) // 8 for gy in range(8)]
                g = gray[np.ix_(ys, xs)]
                lo = hi = 0
                for gy in range(8):
                    for gx in range(8):
                        if g[gy][gx + 1] > g[gy][gx]:
                            if gy < 4:
                                lo |= 1 << (gy * 8 + gx)
                            else:
                                hi |= 1 << ((gy - 4) * 8 + gx)
                rows.append((doc_id, hi, lo))
            yield pd.DataFrame(rows, columns=["doc_id", "phash_hi", "phash_lo"])

    ph = ids.mapInPandas(dhash_batches, schema="doc_id long, phash_hi long, phash_lo long")
    return (
        ph.groupBy("phash_hi", "phash_lo")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min("doc_id").cast("long").alias("min_doc"),
            F.max("doc_id").cast("long").alias("max_doc"),
        )
        .filter(F.col("n_docs") >= 2)
        .orderBy("phash_hi", "phash_lo")
    )


SCENE_CUT_DELTA = 600  # |pixel_sum(f) - pixel_sum(f-1)| above this = cut


@register(
    "multimodal_video_scene_cut",
    "multimodal",
    doc="Scene-cut detection over REAL decoded video frames: every PVID "
    "frame's exact pixel sum comes from the actual container parser "
    "(map-only mapInPandas), consecutive-frame deltas are compared "
    f"against SCENE_CUT_DELTA={SCENE_CUT_DELTA} inside the same Python "
    "stage (frames of one blob are local to their row — no shuffle for "
    "the LAG), and per-video cut statistics are emitted. The oracle "
    "recomputes every frame sum from the synthesis recurrence, so the "
    "full decode→delta→threshold chain is hash-checked. The shape of "
    "video temporal segmentation at 100 TB: one pass, no shuffle "
    "before the presentation sort.",
    oracle=f"""
WITH dims AS (
    SELECT doc_id, 2 + doc_id % 5 AS nf, 4 + doc_id % 13 AS w, 3 + doc_id % 7 AS h
    FROM documents
),
frames AS (
    SELECT d.doc_id, d.nf, f.f,
           (SELECT CAST(SUM((d.doc_id * 31 + f.f * 7 + i) % 256) AS BIGINT)
            FROM UNNEST(GENERATE_SERIES(0, 3 * d.w * d.h - 1)) AS s(i)) AS psum
    FROM dims d,
         LATERAL (SELECT UNNEST(GENERATE_SERIES(0, d.nf - 1)) AS f) f
),
deltas AS (
    SELECT doc_id, nf, f,
           ABS(psum - LAG(psum) OVER (PARTITION BY doc_id ORDER BY f)) AS delta
    FROM frames
)
SELECT doc_id,
       CAST(nf AS BIGINT) AS n_frames,
       CAST(COALESCE(SUM(CASE WHEN delta > {SCENE_CUT_DELTA} THEN 1 ELSE 0 END), 0)
            AS BIGINT) AS n_cuts,
       CAST(MAX(delta) AS BIGINT) AS max_delta,
       CAST(MIN(CASE WHEN delta > {SCENE_CUT_DELTA} THEN f END) AS BIGINT)
           AS first_cut_frame
FROM deltas GROUP BY doc_id, nf
ORDER BY doc_id
""",
)
def multimodal_video_scene_cut(spark, sf_dir):
    import pandas as pd

    d = t(spark, sf_dir, "documents")
    ids = d.repartition(8).select("doc_id")

    def cut_batches(batches):
        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                doc_id = int(doc_id)
                blob = synth_video(doc_id)  # producer side
                sums = [psum for _, _, _, psum in decode_video(blob)]
                deltas = [abs(b - a) for a, b in zip(sums, sums[1:])]
                cuts = [i + 1 for i, dl in enumerate(deltas) if dl > SCENE_CUT_DELTA]
                rows.append(
                    (
                        doc_id,
                        len(sums),
                        len(cuts),
                        max(deltas) if deltas else None,
                        cuts[0] if cuts else None,
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "n_frames", "n_cuts", "max_delta", "first_cut_frame"],
            )

    out = ids.mapInPandas(
        cut_batches,
        schema="doc_id long, n_frames long, n_cuts long, max_delta long, "
        "first_cut_frame long",
    )
    return out.orderBy("doc_id")


@register(
    "multimodal_image_channel_stats",
    "multimodal",
    doc="Per-channel image statistics from REAL P6 decode: each doc's "
    "synthesized PPM is parsed bytes-only (same decoder path as "
    "multimodal_decode_ppm), pixels reshaped (n,3), and per-channel "
    "count / exact sum / 4-bucket value histogram (v//64) computed in "
    "numpy — one output row per (doc, channel). The oracle recomputes "
    "every bucket from the synthesis formula in SQL, so the reshape "
    "and channel-slicing math is hash-checked, not just the checksum. "
    "Map-only mapInPandas; no shuffle before the final sort.",
    oracle="""
SELECT d.doc_id,
       CAST(i % 3 AS BIGINT) AS channel,
       CAST(COUNT(*) AS BIGINT) AS n_px,
       CAST(SUM((d.doc_id * 31 + i) % 256) AS BIGINT) AS ch_sum,
       CAST(SUM(CASE WHEN (d.doc_id * 31 + i) % 256 < 64 THEN 1 ELSE 0 END) AS BIGINT) AS b0,
       CAST(SUM(CASE WHEN (d.doc_id * 31 + i) % 256 BETWEEN 64 AND 127 THEN 1 ELSE 0 END) AS BIGINT) AS b1,
       CAST(SUM(CASE WHEN (d.doc_id * 31 + i) % 256 BETWEEN 128 AND 191 THEN 1 ELSE 0 END) AS BIGINT) AS b2,
       CAST(SUM(CASE WHEN (d.doc_id * 31 + i) % 256 >= 192 THEN 1 ELSE 0 END) AS BIGINT) AS b3
FROM documents d,
     UNNEST(GENERATE_SERIES(0, 3 * (4 + d.doc_id % 13) * (3 + d.doc_id % 7) - 1)) s(i)
GROUP BY d.doc_id, i % 3
ORDER BY doc_id, channel
""",
)
def multimodal_image_channel_stats(spark, sf_dir):
    import numpy as np
    import pandas as pd

    d = t(spark, sf_dir, "documents")
    ids = d.repartition(8).select("doc_id")

    def synth_and_stat(batches):
        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                doc_id = int(doc_id)
                blob = synth_ppm(doc_id)
                nl3 = blob.index(b"\n", blob.index(b"\n", blob.index(b"\n") + 1) + 1)
                px = np.frombuffer(blob, dtype=np.uint8, offset=nl3 + 1).reshape(-1, 3)
                for ch in range(3):
                    col = px[:, ch].astype("int64")
                    bucket = col // 64
                    rows.append(
                        (
                            doc_id,
                            ch,
                            int(col.size),
                            int(col.sum()),
                            int((bucket == 0).sum()),
                            int((bucket == 1).sum()),
                            int((bucket == 2).sum()),
                            int((bucket == 3).sum()),
                        )
                    )
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "channel", "n_px", "ch_sum", "b0", "b1", "b2", "b3"],
            )

    schema = (
        "doc_id long, channel long, n_px long, ch_sum long, "
        "b0 long, b1 long, b2 long, b3 long"
    )
    return ids.mapInPandas(synth_and_stat, schema=schema).orderBy("doc_id", "channel")


SILENCE_ABS = 16384  # |sample| below this is "silence" (25% full scale)


@register(
    "multimodal_wav_silence_trim",
    "multimodal",
    doc="Leading/trailing silence trim over REAL PCM16 WAV decode: each "
    "doc's synthesized RIFF blob is chunk-parsed bytes-only (same "
    f"parser as multimodal_decode_wav), loud = |sample| >= {16384}, "
    "and the trim bounds come from numpy flatnonzero — first/last loud "
    "index, kept/trimmed sample counts, and the trimmed duration in "
    "exact floor microseconds (integer division by the sample rate; no "
    "float seconds). Docs whose whole window is quiet trim to zero "
    "kept samples with NULL bounds. The oracle replays the PCM "
    "synthesis formula per sample in SQL.",
    oracle=f"""
WITH s AS (
    SELECT d.doc_id,
           8000 + (d.doc_id % 3) * 4000 AS rate,
           64 + d.doc_id % 129 AS n,
           i,
           ABS((d.doc_id * 7 + i) % 65536 - 32768) >= {SILENCE_ABS} AS loud
    FROM documents d,
         UNNEST(GENERATE_SERIES(0, 64 + d.doc_id % 129 - 1)) t(i)
),
agg AS (
    SELECT doc_id, MAX(rate) AS rate, MAX(n) AS n,
           MIN(CASE WHEN loud THEN i END) AS first_loud,
           MAX(CASE WHEN loud THEN i END) AS last_loud
    FROM s GROUP BY doc_id
)
SELECT doc_id,
       CAST(rate AS BIGINT) AS sample_rate,
       CAST(n AS BIGINT) AS n_samples,
       CAST(first_loud AS BIGINT) AS first_loud,
       CAST(last_loud AS BIGINT) AS last_loud,
       CAST(COALESCE(last_loud - first_loud + 1, 0) AS BIGINT) AS n_kept,
       CAST(n - COALESCE(last_loud - first_loud + 1, 0) AS BIGINT) AS n_trimmed,
       CAST(((n - COALESCE(last_loud - first_loud + 1, 0)) * 1000000) // rate
            AS BIGINT) AS trimmed_us
FROM agg
ORDER BY doc_id
""",
)
def multimodal_wav_silence_trim(spark, sf_dir):
    import numpy as np
    import pandas as pd

    d = t(spark, sf_dir, "documents")
    ids = d.repartition(8).select("doc_id")

    def synth_and_trim(batches):
        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                doc_id = int(doc_id)
                _, rate, samples = parse_wav(synth_wav(doc_id))
                n = int(samples.size)
                loud = np.flatnonzero(
                    np.abs(samples.astype("int32")) >= SILENCE_ABS
                )
                if loud.size:
                    first, last = int(loud[0]), int(loud[-1])
                    kept = last - first + 1
                else:
                    first = last = None
                    kept = 0
                trimmed = n - kept
                rows.append(
                    (doc_id, rate, n, first, last, kept, trimmed,
                     (trimmed * 1_000_000) // rate)
                )
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "sample_rate", "n_samples", "first_loud",
                         "last_loud", "n_kept", "n_trimmed", "trimmed_us"],
            )

    schema = (
        "doc_id long, sample_rate long, n_samples long, first_loud long, "
        "last_loud long, n_kept long, n_trimmed long, trimmed_us long"
    )
    return ids.mapInPandas(synth_and_trim, schema=schema).orderBy("doc_id")


@register(
    "multimodal_image_equalize",
    "multimodal",
    doc="REAL histogram equalization on the P6 decoder's pixels: "
    "per image, numpy bincount -> cumulative distribution -> the "
    "classic integer remap eq(v) = (cdf(v) - cdf_min) * 255 // "
    "(n - cdf_min) (all-equal images map to 0 by declaration), "
    "applied inside mapInPandas. The oracle replays pixel synthesis, "
    "histogram, CDF and remap entirely in SQL, so the numpy "
    "equalization path is hash-checked value-for-value. Map-only "
    "like every decoder stage: per-image state is a 256-bin "
    "histogram, no shuffle — the 100 TB shape for any per-asset "
    "photometric transform.",
    oracle="""
WITH px AS (
    SELECT d.doc_id, (d.doc_id * 31 + s.i) % 256 AS v
    FROM documents d,
         UNNEST(GENERATE_SERIES(0,
             3 * (4 + d.doc_id % 13) * (3 + d.doc_id % 7) - 1)) AS s(i)
),
hist AS (SELECT doc_id, v, CAST(COUNT(*) AS BIGINT) AS c FROM px GROUP BY 1, 2),
cdf AS (
    SELECT doc_id, v, c,
           SUM(c) OVER (PARTITION BY doc_id ORDER BY v) AS cd
    FROM hist
),
st AS (SELECT doc_id, MIN(cd) AS cdf_min, MAX(cd) AS n FROM cdf GROUP BY doc_id),
mapped AS (
    SELECT c.doc_id, c.c,
           CASE WHEN s.n = s.cdf_min THEN 0
                ELSE (c.cd - s.cdf_min) * 255 // (s.n - s.cdf_min) END AS ev
    FROM cdf c JOIN st s ON s.doc_id = c.doc_id
)
SELECT doc_id,
       CAST(SUM(c) AS BIGINT) AS n_px,
       CAST(SUM(ev * c) AS BIGINT) AS eq_sum,
       CAST(MIN(ev) AS BIGINT) AS eq_min,
       CAST(MAX(ev) AS BIGINT) AS eq_max
FROM mapped
GROUP BY doc_id
ORDER BY doc_id
""",
)
def multimodal_image_equalize(spark, sf_dir):
    d = t(spark, sf_dir, "documents").select("doc_id")

    def equalize(batches):
        import numpy as np
        import pandas as pd

        for b in batches:
            rows = []
            for doc_id in b["doc_id"]:
                blob = synth_ppm(int(doc_id))
                _, _, _, _, _ = decode_ppm(blob)  # validates the payload
                nl3 = blob.index(b"\n", blob.index(b"\n", blob.index(b"\n") + 1) + 1)
                px = np.frombuffer(blob, dtype=np.uint8, offset=nl3 + 1)
                hist = np.bincount(px, minlength=256).astype("int64")
                cdf = np.cumsum(hist)
                n = int(cdf[-1])
                cdf_min = int(cdf[hist.nonzero()[0][0]])
                if n == cdf_min:
                    ev = np.zeros(256, dtype="int64")
                else:
                    ev = (cdf - cdf_min) * 255 // (n - cdf_min)
                eq = ev[px]
                rows.append(
                    (
                        int(doc_id),
                        n,
                        int(eq.sum(dtype="int64")),
                        int(eq.min()),
                        int(eq.max()),
                    )
                )
            yield pd.DataFrame(
                rows, columns=["doc_id", "n_px", "eq_sum", "eq_min", "eq_max"]
            )

    return d.mapInPandas(
        equalize,
        "doc_id long, n_px long, eq_sum long, eq_min long, eq_max long",
    ).orderBy("doc_id")


WAV_DECIM = 4


@register(
    "multimodal_wav_downsample",
    "multimodal",
    doc="REAL audio downsample audit: the RIFF/PCM16 parser's samples "
    f"decimated by {WAV_DECIM} (keep every {WAV_DECIM}th sample — "
    "naive decimation, declared as such; an anti-aliasing FIR is the "
    "production variant and changes only the numpy kernel). Reports "
    "the retained sample count, the exact int64 energy (sum of "
    "squares) before and after, and the output sample rate. The "
    "oracle recomputes all four from the synthesis formula in SQL. "
    "Map-only mapInPandas; the decimated energy ratio is the "
    "acceptance check before swapping a corpus to the smaller rate.",
    oracle=f"""
WITH s AS (
    SELECT d.doc_id,
           (8000 + (d.doc_id % 3) * 4000) AS rate,
           s.i,
           (d.doc_id * 7 + s.i) % 65536 - 32768 AS v
    FROM documents d,
         UNNEST(GENERATE_SERIES(0, 64 + d.doc_id % 129 - 1)) AS s(i)
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_samples,
       CAST(COUNT(*) FILTER (WHERE i % {WAV_DECIM} = 0) AS BIGINT) AS n_kept,
       CAST(MAX(rate) // {WAV_DECIM} AS BIGINT) AS out_rate,
       CAST(SUM(v * v) AS BIGINT) AS energy_full,
       CAST(SUM(CASE WHEN i % {WAV_DECIM} = 0 THEN v * v ELSE 0 END)
            AS BIGINT) AS energy_kept
FROM s
GROUP BY doc_id
ORDER BY doc_id
""",
)
def multimodal_wav_downsample(spark, sf_dir):
    d = t(spark, sf_dir, "documents").select("doc_id")

    def downsample(batches):
        import numpy as np
        import pandas as pd

        for b in batches:
            rows = []
            for doc_id in b["doc_id"]:
                blob = synth_wav(int(doc_id))
                _, rate, samples = parse_wav(blob)
                s64 = samples.astype("int64")
                kept = s64[::WAV_DECIM]
                rows.append(
                    (
                        int(doc_id),
                        int(s64.size),
                        int(kept.size),
                        rate // WAV_DECIM,
                        int((s64 * s64).sum()),
                        int((kept * kept).sum()),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id",
                    "n_samples",
                    "n_kept",
                    "out_rate",
                    "energy_full",
                    "energy_kept",
                ],
            )

    return d.mapInPandas(
        downsample,
        "doc_id long, n_samples long, n_kept long, out_rate long, "
        "energy_full long, energy_kept long",
    ).orderBy("doc_id")


TILE = 2  # tile edge in pixels


@register(
    "multimodal_image_crop_tile",
    "multimodal",
    doc=f"Vision-training tiling on the REAL P6 decode path: each "
    f"synthesized PPM is decoded (bytes-only parser), reshaped to "
    f"(h, w, 3) and cut into {TILE}x{TILE} tiles — the patchification "
    "step of a ViT-style pipeline. Output per doc: tile grid dims, "
    "pixels covered by full tiles (edge remainder dropped — the crop), "
    "exact int64 sum over the cropped region and over tile (0,0). The "
    "oracle replays the synthesis recurrence with the same byte-index "
    "geometry (i -> channel i%3, pixel i//3 -> (row p//w, col p%w)), "
    "so reshape, crop arithmetic, and tile addressing are all "
    "hash-checked. Map-only mapInPandas; blobs never shuffle.",
    oracle=f"""
WITH tiles AS (
    SELECT doc_id, 4 + doc_id % 13 AS w, 3 + doc_id % 7 AS h,
           (4 + doc_id % 13) // {TILE} AS tx,
           (3 + doc_id % 7) // {TILE} AS ty
    FROM documents
)
SELECT t.doc_id,
       CAST(t.tx AS BIGINT) AS tiles_x,
       CAST(t.ty AS BIGINT) AS tiles_y,
       CAST(3 * ({TILE} * t.tx) * ({TILE} * t.ty) AS BIGINT) AS cropped_px,
       (SELECT CAST(SUM(CASE WHEN (i // 3) % t.w < {TILE} * t.tx
                              AND (i // 3) // t.w < {TILE} * t.ty
                             THEN (t.doc_id * 31 + i) % 256 END) AS BIGINT)
        FROM UNNEST(GENERATE_SERIES(0, 3 * t.w * t.h - 1)) AS s(i)) AS cropped_sum,
       (SELECT CAST(SUM(CASE WHEN (i // 3) % t.w < {TILE}
                              AND (i // 3) // t.w < {TILE}
                             THEN (t.doc_id * 31 + i) % 256 END) AS BIGINT)
        FROM UNNEST(GENERATE_SERIES(0, 3 * t.w * t.h - 1)) AS s(i)) AS tile00_sum
FROM tiles t ORDER BY t.doc_id
""",
)
def multimodal_image_crop_tile(spark, sf_dir):
    import pandas as pd

    d = t(spark, sf_dir, "documents")
    ids = d.repartition(8).select("doc_id")

    def tile_batches(batches):
        import numpy as np

        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                doc_id = int(doc_id)
                w, h, _, _, _ = decode_ppm(synth_ppm(doc_id))
                px = np.frombuffer(
                    synth_ppm(doc_id), dtype=np.uint8,
                    offset=len(f"P6\n{w} {h}\n255\n"),
                ).reshape(h, w, 3)
                tx, ty = w // TILE, h // TILE
                cropped = px[: TILE * ty, : TILE * tx, :]
                rows.append(
                    (
                        doc_id, tx, ty,
                        int(cropped.size),
                        int(cropped.sum(dtype="int64")),
                        int(px[:TILE, :TILE, :].sum(dtype="int64")),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "tiles_x", "tiles_y",
                    "cropped_px", "cropped_sum", "tile00_sum",
                ],
            )

    schema = (
        "doc_id long, tiles_x long, tiles_y long, "
        "cropped_px long, cropped_sum long, tile00_sum long"
    )
    return ids.mapInPandas(tile_batches, schema=schema).orderBy("doc_id")


@register(
    "multimodal_wav_zero_crossings",
    "multimodal",
    doc="Zero-crossing rate on the REAL RIFF/PCM16 decode path — the "
    "classic O(n) voiced/unvoiced + noisiness feature (high ZCR = "
    "noise/fricatives, low = tones/voiced speech): sign changes "
    "between consecutive samples, counted as exact integers on the "
    "parsed int16 array inside mapInPandas. The oracle replays the "
    "synthesis recurrence s_i = (doc_id*7+i)%65536-32768 and counts "
    "the same sign flips in SQL, so chunk walking, sample decode, and "
    "the feature math are all hash-checked. Map-only; one pass per "
    "blob at any corpus size.",
    oracle="""
WITH p AS (
    SELECT doc_id,
           64 + doc_id % 129 AS n_samples,
           8000 + (doc_id % 3) * 4000 AS rate
    FROM documents
),
zc AS (
    SELECT p.doc_id, p.n_samples, p.rate,
           (SELECT CAST(SUM(CASE WHEN
                ((p.doc_id * 7 + i - 1) % 65536 - 32768 < 0)
                <> ((p.doc_id * 7 + i) % 65536 - 32768 < 0)
                THEN 1 ELSE 0 END) AS BIGINT)
            FROM UNNEST(GENERATE_SERIES(1, p.n_samples - 1)) AS s(i)) AS n_zc
    FROM p
)
SELECT doc_id, CAST(n_samples AS BIGINT) AS n_samples,
       CAST(rate AS BIGINT) AS sample_rate, n_zc,
       CAST(10000 * n_zc // (n_samples - 1) AS BIGINT) AS zcr_bp
FROM zc ORDER BY doc_id
""",
)
def multimodal_wav_zero_crossings(spark, sf_dir):
    import pandas as pd

    d = t(spark, sf_dir, "documents")
    ids = d.repartition(8).select("doc_id")

    def zc_batches(batches):
        import numpy as np

        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                doc_id = int(doc_id)
                _, rate, s = parse_wav(synth_wav(doc_id))
                neg = s.astype("int32") < 0
                n_zc = int(np.sum(neg[:-1] != neg[1:]))
                rows.append(
                    (doc_id, len(s), rate, n_zc, 10000 * n_zc // (len(s) - 1))
                )
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "n_samples", "sample_rate", "n_zc", "zcr_bp"],
            )

    schema = (
        "doc_id long, n_samples long, sample_rate long, n_zc long, zcr_bp long"
    )
    return ids.mapInPandas(zc_batches, schema=schema).orderBy("doc_id")
