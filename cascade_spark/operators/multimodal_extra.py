"""Round-8 wave-15 multimodal — geometric image transforms on the REAL
PPM decode path (rotate / mirror), extending the decode / resize /
crop-tile / equalize family with the layout-changing ops an image
training pipeline runs at ingest (orientation normalization,
augmentation mirroring):

- ``multimodal_image_rotate``: decode each synthetic P6 blob with the
  real byte parser, rotate 90 degrees clockwise and mirror
  horizontally with actual numpy index transforms, and prove BOTH
  layouts to the oracle via position-weighted checksums
  (sum_i i * p'(i) over the transformed row-major buffer) — a plain
  pixel SUM is rotation-invariant, so the weighted form is what
  actually pins the index math. The oracle replays the synthesis
  recurrence p(i) = (doc_id*31 + i) % 256 through the inverse index
  maps in pure SQL.

Reference scope: north-star multimodal surface (SURVEY §2B); the
reference engine itself is an event log (src/broker/main.rs).

Scale (100 TB): map-only mapInPandas over the blob column — no
shuffle; the transform is per-row numpy work sized by the image, the
exact shape of a distributed re-orientation pass.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from cascade_spark.operators._util import t
from cascade_spark.plans.registry import register


def rotate90_cw_weighted(doc_id: int) -> tuple[int, int, int, int, int, int]:
    """Decode the synthetic PPM, rotate 90 CW and mirror-horizontal via
    numpy, return (w, h, out_w, out_h, rot_wsum, mir_wsum) where each
    wsum is sum_i i * buffer[i] over the transformed row-major RGB
    buffer — exact integers."""
    import numpy as np

    from cascade_spark.operators.multimodal import decode_ppm, synth_ppm

    blob = synth_ppm(doc_id)
    w, h, _mv, nb, _psum = decode_ppm(blob)
    px = np.frombuffer(blob[-nb:], dtype=np.uint8).reshape(h, w, 3)
    rot = np.rot90(px, k=-1)  # 90 degrees clockwise -> shape (w, h, 3)
    mir = px[:, ::-1, :]  # horizontal mirror -> shape (h, w, 3)
    idx_r = np.arange(rot.size, dtype=np.int64)
    idx_m = np.arange(mir.size, dtype=np.int64)
    rot_wsum = int((idx_r * rot.reshape(-1).astype(np.int64)).sum())
    mir_wsum = int((idx_m * mir.reshape(-1).astype(np.int64)).sum())
    return w, h, rot.shape[1], rot.shape[0], rot_wsum, mir_wsum


@register(
    "multimodal_image_rotate",
    doc="Rotate-90-CW + horizontal mirror on the real PPM decode path, "
    "each proven by a position-weighted checksum of the transformed "
    "row-major buffer (plain sums are rotation-invariant; the weighted "
    "sum pins the index math). Oracle replays the synthesis recurrence "
    "through the inverse index maps: rotated out index (y', x', c) "
    "reads source (x = y', y = H-1-x'); mirrored reads (x = W-1-x', "
    "y = y'). Map-only mapInPandas, no shuffle.",
    oracle="""
WITH dims AS (
    SELECT doc_id, 4 + doc_id % 13 AS w, 3 + doc_id % 7 AS h
    FROM documents
),
rot AS (
    SELECT d.doc_id,
           CAST(SUM(s.i * ((d.doc_id * 31
                + (3 * (((d.h - 1) - ((s.i // 3) % d.h)) * d.w
                        + (s.i // 3) // d.h) + s.i % 3)) % 256))
                AS BIGINT) AS rot_wsum
    FROM dims d,
         UNNEST(GENERATE_SERIES(0, 3 * d.w * d.h - 1)) AS s(i)
    GROUP BY d.doc_id
),
mir AS (
    SELECT d.doc_id,
           CAST(SUM(s.i * ((d.doc_id * 31
                + (3 * (((s.i // 3) // d.w) * d.w
                        + ((d.w - 1) - ((s.i // 3) % d.w))) + s.i % 3)) % 256))
                AS BIGINT) AS mir_wsum
    FROM dims d,
         UNNEST(GENERATE_SERIES(0, 3 * d.w * d.h - 1)) AS s(i)
    GROUP BY d.doc_id
)
SELECT dims.doc_id, CAST(dims.w AS BIGINT) AS width,
       CAST(dims.h AS BIGINT) AS height,
       CAST(dims.h AS BIGINT) AS out_width,
       CAST(dims.w AS BIGINT) AS out_height,
       rot.rot_wsum, mir.mir_wsum
FROM dims JOIN rot ON rot.doc_id = dims.doc_id
          JOIN mir ON mir.doc_id = dims.doc_id
ORDER BY dims.doc_id
""",
)
def multimodal_image_rotate(spark, sf_dir):
    import pandas as pd

    d = t(spark, sf_dir, "documents")
    ids = d.repartition(8).select("doc_id")

    def synth_rotate(batches):
        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                w, h, ow, oh, rs, ms = rotate90_cw_weighted(int(doc_id))
                rows.append((int(doc_id), w, h, ow, oh, rs, ms))
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "width", "height", "out_width", "out_height",
                    "rot_wsum", "mir_wsum",
                ],
            )

    schema = (
        "doc_id long, width long, height long, out_width long, "
        "out_height long, rot_wsum long, mir_wsum long"
    )
    return ids.mapInPandas(synth_rotate, schema=schema).orderBy("doc_id")


def mulaw_encode(samples):
    """Vectorized ITU G.711 mu-law companding of int16 PCM — the real
    integer algorithm (clip, +132 bias, segment = MSB position above
    bit 7, 4-bit mantissa, ones-complement), exactly mirrorable as
    integer CASE arithmetic in SQL."""
    import numpy as np

    x = samples.astype(np.int64)
    sign = np.where(x < 0, 0x80, 0)
    mag = np.minimum(np.abs(x), 32635) + 132
    # segment 0..7: position of the most significant bit above bit 7
    seg = np.zeros_like(mag)
    for s, lo in enumerate([256, 512, 1024, 2048, 4096, 8192, 16384]):
        seg = np.where(mag >= lo, s + 1, seg)
    mant = (mag >> (seg + 3)) & 0x0F
    return (~(sign | (seg << 4) | mant)) & 0xFF


_SQL_MULAW_SEG = (
    "(CASE WHEN mag >= 16384 THEN 7 WHEN mag >= 8192 THEN 6"
    " WHEN mag >= 4096 THEN 5 WHEN mag >= 2048 THEN 4"
    " WHEN mag >= 1024 THEN 3 WHEN mag >= 512 THEN 2"
    " WHEN mag >= 256 THEN 1 ELSE 0 END)"
)


@register(
    "multimodal_wav_mulaw",
    doc="REAL audio codec work: G.711 mu-law companding of the PCM16 "
    "WAV decode — clip/bias/segment/mantissa as exact integer bit "
    "arithmetic (vectorized numpy on the decode path; the oracle "
    "replays the synthesis recurrence through the same integer CASE "
    "chain). Per doc: sample count, mu-law byte checksum, distinct "
    "code count, and the compressed/original bit ratio (8/16) made "
    "observable as exact code-sum parity. Map-only, no shuffle.",
    oracle=f"""
WITH samples AS (
    SELECT d.doc_id, i,
           ((d.doc_id * 7 + i) % 65536 - 32768) AS x
    FROM documents d,
         LATERAL (SELECT UNNEST(GENERATE_SERIES(0, 64 + d.doc_id % 129 - 1)) AS i)
),
biased AS (
    SELECT doc_id, i,
           CASE WHEN x < 0 THEN 128 ELSE 0 END AS sign,
           LEAST(ABS(x), 32635) + 132 AS mag
    FROM samples
),
coded AS (
    SELECT doc_id,
           CAST(xor(255, sign | ({_SQL_MULAW_SEG} * 16)
                | ((mag // (1 << ({_SQL_MULAW_SEG} + 3))) & 15)) AS BIGINT)
               AS code
    FROM biased
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_samples,
       CAST(SUM(code) AS BIGINT) AS code_sum,
       CAST(COUNT(DISTINCT code) AS BIGINT) AS n_distinct_codes,
       CAST(MAX(code) AS BIGINT) AS max_code
FROM coded GROUP BY doc_id ORDER BY doc_id
""",
)
def multimodal_wav_mulaw(spark, sf_dir):
    import pandas as pd

    from cascade_spark.operators.multimodal import parse_wav, synth_wav

    d = t(spark, sf_dir, "documents")
    ids = d.repartition(8).select("doc_id")

    def encode(batches):
        import numpy as np

        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                doc_id = int(doc_id)
                _, _, samples = parse_wav(synth_wav(doc_id))
                codes = mulaw_encode(samples)
                rows.append(
                    (
                        doc_id,
                        int(codes.size),
                        int(codes.sum()),
                        int(np.unique(codes).size),
                        int(codes.max()),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "n_samples", "code_sum", "n_distinct_codes",
                    "max_code",
                ],
            )

    return ids.mapInPandas(
        encode,
        schema=(
            "doc_id long, n_samples long, code_sum long,"
            " n_distinct_codes long, max_code long"
        ),
    ).orderBy("doc_id")


@register(
    "multimodal_image_grayscale",
    doc="Integer-luma grayscale conversion on the real PPM decode path "
    "(the BT.601-style fixed-point kernel y = (77R + 150G + 29B) >> 8 "
    "— pure integer, no float luma): per doc, grayscale checksum and "
    "position-weighted checksum proving the per-pixel kernel AND the "
    "layout; oracle replays the synthesis recurrence through the same "
    "fixed-point arithmetic. Map-only mapInPandas.",
    oracle="""
WITH dims AS (
    SELECT doc_id, 4 + doc_id % 13 AS w, 3 + doc_id % 7 AS h
    FROM documents
),
gs AS (
    SELECT d.doc_id,
           (77 * ((d.doc_id * 31 + 3 * i) % 256)
            + 150 * ((d.doc_id * 31 + 3 * i + 1) % 256)
            + 29 * ((d.doc_id * 31 + 3 * i + 2) % 256)) // 256 AS y,
           i
    FROM dims d,
         LATERAL (SELECT UNNEST(GENERATE_SERIES(0, d.w * d.h - 1)) AS i)
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_pixels,
       CAST(SUM(y) AS BIGINT) AS luma_sum,
       CAST(SUM(i * y) AS BIGINT) AS luma_wsum,
       CAST(MAX(y) AS BIGINT) AS luma_max
FROM gs GROUP BY doc_id ORDER BY doc_id
""",
)
def multimodal_image_grayscale(spark, sf_dir):
    import pandas as pd

    d = t(spark, sf_dir, "documents")
    ids = d.repartition(8).select("doc_id")

    def gray(batches):
        import numpy as np

        from cascade_spark.operators.multimodal import decode_ppm, synth_ppm

        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                doc_id = int(doc_id)
                blob = synth_ppm(doc_id)
                w, h, _mv, nb, _ps = decode_ppm(blob)
                px = np.frombuffer(blob[-nb:], dtype=np.uint8).reshape(-1, 3)
                px = px.astype(np.int64)
                y = (77 * px[:, 0] + 150 * px[:, 1] + 29 * px[:, 2]) >> 8
                idx = np.arange(y.size, dtype=np.int64)
                rows.append(
                    (
                        doc_id,
                        int(y.size),
                        int(y.sum()),
                        int((idx * y).sum()),
                        int(y.max()),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "n_pixels", "luma_sum", "luma_wsum", "luma_max"],
            )

    return ids.mapInPandas(
        gray,
        schema=(
            "doc_id long, n_pixels long, luma_sum long,"
            " luma_wsum long, luma_max long"
        ),
    ).orderBy("doc_id")
