"""Round-9 wave — halftoning, smoothing, and loudness-hygiene passes
on the REAL multimodal decode paths (P6 images / PCM16 WAV from
multimodal.py), extending multimodal_signal's stencil family:

- ``multimodal_image_dither_bayer``: 4x4 Bayer ordered dithering of
  the integer luma plane — the classic 1-bit halftone (map-only,
  position-indexed threshold, zero state between pixels).
- ``multimodal_image_boxblur``: 3x3 box smoothing over interior
  pixels with floor DIV 9 — the denoise step before thresholding;
  oracle evaluates the same stencil via a 9-tap kernel join.
- ``multimodal_wav_clipping_audit``: samples at the rails (|s| >=
  CLIP_T) with the longest consecutive clipped run per file — the
  gaps-and-islands loudness-damage audit.
- ``multimodal_wav_peak_normalize``: peak normalization to
  TARGET_PEAK in the magnitude domain (sign * (|s|*T DIV peak), so
  floor == trunc everywhere), pinned by plain/abs/position-weighted
  checksums.

All four are map-only mapInPandas stages (the multimodal scale shape:
no shuffle, fan-out by maxPartitionBytes, blobs column-pruned until
decode); oracles replay the synthesis recurrences in closed form
(pixels (doc_id*31 + i) % 256, samples (doc_id*7 + i) % 65536 - 32768).

Reference scope: the reference engine is an event log
(src/broker/main.rs); blob payloads ride the same consume path as any
record, per SURVEY §2 north-star multimodal notes.
"""

from __future__ import annotations

from cascade_spark.operators._util import t
from cascade_spark.operators.multimodal import synth_ppm, synth_wav
from cascade_spark.operators.multimodal_signal import _luma_plane
from cascade_spark.plans.registry import register

BP = 10_000

# shared oracle CTEs: P6 geometry + integer luma plane in closed form
# (the multimodal_image_sobel spine)
_SQL_LUMA = """
geom AS (
    SELECT doc_id, 4 + doc_id % 13 AS w, 3 + doc_id % 7 AS h FROM documents
),
px AS (
    SELECT g.doc_id, g.w, g.h, s.i % g.w AS x, s.i // g.w AS y,
           ((77 * ((g.doc_id * 31 + 3 * s.i) % 256)
             + 150 * ((g.doc_id * 31 + 3 * s.i + 1) % 256)
             + 29 * ((g.doc_id * 31 + 3 * s.i + 2) % 256)) // 256) AS luma
    FROM geom g,
         LATERAL (SELECT UNNEST(GENERATE_SERIES(0, g.w * g.h - 1)) AS i) s
)
"""

# 4x4 Bayer index matrix, row-major [y%4][x%4]
_BAYER = (
    (0, 8, 2, 10),
    (12, 4, 14, 6),
    (3, 11, 1, 9),
    (15, 7, 13, 5),
)

_SQL_BAYER_ROWS = ", ".join(
    f"({by}, {bx}, {_BAYER[by][bx]})" for by in range(4) for bx in range(4)
)


@register(
    "multimodal_image_dither_bayer",
    doc="4x4 Bayer ordered dithering on the real P6 decode: integer "
    "luma plane, per-pixel threshold t(x, y) = 16*bayer[y%4][x%4] + 8, "
    "bit = luma > t — the classic halftone, purely positional (no "
    "error diffusion state, so it parallelizes per pixel). Per doc: "
    "on-pixel count, on-share in truncated bp, and the "
    "position-weighted bit checksum that pins the exact pattern. "
    "Oracle joins the closed-form luma spine to a 16-row VALUES "
    "threshold table.",
    oracle=f"""
WITH {_SQL_LUMA},
bayer(by, bx, b) AS (VALUES {_SQL_BAYER_ROWS}),
bits AS (
    SELECT p.doc_id, p.w,
           CASE WHEN p.luma > 16 * b.b + 8 THEN 1 ELSE 0 END AS bit,
           p.y * p.w + p.x AS i
    FROM px p JOIN bayer b ON b.by = p.y % 4 AND b.bx = p.x % 4
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_pixels,
       CAST(SUM(bit) AS BIGINT) AS n_on,
       CAST((SUM(bit) * {BP}) // COUNT(*) AS BIGINT) AS on_share_bp,
       CAST(SUM(i * bit) AS BIGINT) AS bit_wsum
FROM bits
GROUP BY doc_id
ORDER BY doc_id
""",
)
def multimodal_image_dither_bayer(spark, sf_dir):
    import pandas as pd

    ids = t(spark, sf_dir, "documents").repartition(8).select("doc_id")

    def dither(batches):
        import numpy as np

        bayer = np.array(_BAYER, dtype=np.int64)
        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                doc_id = int(doc_id)
                lum = _luma_plane(synth_ppm(doc_id))
                h, w = lum.shape
                thr = 16 * bayer[
                    np.arange(h)[:, None] % 4, np.arange(w)[None, :] % 4
                ] + 8
                bit = (lum > thr).astype(np.int64)
                idx = (
                    np.arange(h, dtype=np.int64)[:, None] * w
                    + np.arange(w, dtype=np.int64)[None, :]
                )
                n = int(bit.size)
                n_on = int(bit.sum())
                rows.append(
                    (doc_id, n, n_on, (n_on * BP) // n, int((idx * bit).sum()))
                )
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "n_pixels", "n_on", "on_share_bp", "bit_wsum"],
            )

    schema = (
        "doc_id long, n_pixels long, n_on long, on_share_bp long, bit_wsum long"
    )
    return ids.mapInPandas(dither, schema=schema).orderBy("doc_id")


@register(
    "multimodal_image_boxblur",
    doc="3x3 box smoothing on the real P6 decode: each interior pixel "
    "becomes the floor-DIV-9 mean of its 9-tap neighborhood on the "
    "integer luma plane (numpy shifted-slice pass per image) — the "
    "denoise step ahead of Otsu/Sobel. Per doc: interior count and the "
    "plain/position-weighted/max checksums of the blurred plane. The "
    "oracle evaluates the identical stencil via a 9-row kernel join on "
    "the closed-form luma spine.",
    oracle=f"""
WITH {_SQL_LUMA},
kern(dx, dy) AS (
    VALUES (-1, -1), (0, -1), (1, -1),
           (-1, 0),  (0, 0),  (1, 0),
           (-1, 1),  (0, 1),  (1, 1)
),
blur AS (
    SELECT c.doc_id, c.x, c.y, c.w,
           CAST(SUM(l.luma) // 9 AS BIGINT) AS b
    FROM px c
    JOIN kern k ON TRUE
    JOIN px l ON l.doc_id = c.doc_id AND l.x = c.x + k.dx AND l.y = c.y + k.dy
    WHERE c.x BETWEEN 1 AND c.w - 2 AND c.y BETWEEN 1 AND c.h - 2
    GROUP BY c.doc_id, c.x, c.y, c.w
)
SELECT p.doc_id,
       CAST(COALESCE(COUNT(b.doc_id), 0) AS BIGINT) AS n_interior,
       CAST(COALESCE(SUM(b.b), 0) AS BIGINT) AS blur_sum,
       CAST(COALESCE(SUM((b.y * b.w + b.x) * b.b), 0) AS BIGINT) AS blur_wsum,
       CAST(COALESCE(MAX(b.b), 0) AS BIGINT) AS blur_max
FROM (SELECT DISTINCT doc_id FROM documents) p
LEFT JOIN blur b ON b.doc_id = p.doc_id
GROUP BY p.doc_id
ORDER BY p.doc_id
""",
)
def multimodal_image_boxblur(spark, sf_dir):
    import pandas as pd

    ids = t(spark, sf_dir, "documents").repartition(8).select("doc_id")

    def blur(batches):
        import numpy as np

        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                doc_id = int(doc_id)
                lum = _luma_plane(synth_ppm(doc_id))
                h, w = lum.shape
                c = lum[1:-1, 1:-1]
                if c.size == 0:
                    rows.append((doc_id, 0, 0, 0, 0))
                    continue
                s = (
                    lum[:-2, :-2] + lum[:-2, 1:-1] + lum[:-2, 2:]
                    + lum[1:-1, :-2] + c + lum[1:-1, 2:]
                    + lum[2:, :-2] + lum[2:, 1:-1] + lum[2:, 2:]
                )
                b = s // 9
                ys, xs = np.mgrid[1 : h - 1, 1 : w - 1]
                idx = ys.astype(np.int64) * w + xs
                rows.append(
                    (
                        doc_id,
                        int(b.size),
                        int(b.sum()),
                        int((idx * b).sum()),
                        int(b.max()),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id",
                    "n_interior",
                    "blur_sum",
                    "blur_wsum",
                    "blur_max",
                ],
            )

    schema = (
        "doc_id long, n_interior long, blur_sum long, "
        "blur_wsum long, blur_max long"
    )
    return ids.mapInPandas(blur, schema=schema).orderBy("doc_id")


CLIP_T = 32000


@register(
    "multimodal_wav_clipping_audit",
    doc=f"Clipping audit on the real PCM16 WAV decode: samples at the "
    f"rails (|s| >= {CLIP_T}), clipped share in truncated bp, and the "
    "LONGEST consecutive clipped run per file (numpy boundary-diff on "
    "the worker; gaps-and-islands in the oracle) — the loudness-damage "
    "screen run before any audio feature extraction.",
    oracle=f"""
WITH geom AS (
    SELECT doc_id, 64 + doc_id % 129 AS n FROM documents
),
smp AS (
    SELECT g.doc_id, s.i,
           (g.doc_id * 7 + s.i) % 65536 - 32768 AS s
    FROM geom g,
         LATERAL (SELECT UNNEST(GENERATE_SERIES(0, g.n - 1)) AS i) s
),
clipped AS (
    SELECT doc_id, i,
           i - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY i) AS grp
    FROM smp WHERE ABS(s) >= {CLIP_T}
),
runs AS (
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS run_len
    FROM clipped GROUP BY doc_id, grp
),
agg AS (
    SELECT doc_id, CAST(MAX(run_len) AS BIGINT) AS max_run,
           CAST(SUM(run_len) AS BIGINT) AS n_clipped
    FROM runs GROUP BY doc_id
)
SELECT g.doc_id, CAST(g.n AS BIGINT) AS n_samples,
       CAST(COALESCE(a.n_clipped, 0) AS BIGINT) AS n_clipped,
       CAST((COALESCE(a.n_clipped, 0) * {BP}) // g.n AS BIGINT)
           AS clip_share_bp,
       CAST(COALESCE(a.max_run, 0) AS BIGINT) AS max_clip_run
FROM geom g LEFT JOIN agg a ON a.doc_id = g.doc_id
ORDER BY g.doc_id
""",
)
def multimodal_wav_clipping_audit(spark, sf_dir):
    import pandas as pd

    ids = t(spark, sf_dir, "documents").repartition(8).select("doc_id")

    def clip(batches):
        import numpy as np

        from cascade_spark.operators.multimodal import parse_wav

        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                doc_id = int(doc_id)
                _, _, s = parse_wav(synth_wav(doc_id))
                s = s.astype(np.int64)
                flag = np.abs(s) >= CLIP_T
                n = int(s.size)
                n_clip = int(flag.sum())
                if n_clip == 0:
                    max_run = 0
                else:
                    padded = np.concatenate(([0], flag.view(np.int8), [0]))
                    d = np.diff(padded)
                    starts = np.where(d == 1)[0]
                    ends = np.where(d == -1)[0]
                    max_run = int((ends - starts).max())
                rows.append((doc_id, n, n_clip, (n_clip * BP) // n, max_run))
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id",
                    "n_samples",
                    "n_clipped",
                    "clip_share_bp",
                    "max_clip_run",
                ],
            )

    schema = (
        "doc_id long, n_samples long, n_clipped long, "
        "clip_share_bp long, max_clip_run long"
    )
    return ids.mapInPandas(clip, schema=schema).orderBy("doc_id")


TARGET_PEAK = 30_000


@register(
    "multimodal_wav_peak_normalize",
    doc=f"Peak normalization on the real PCM16 WAV decode: out = "
    f"sign(s) * ((|s| * {TARGET_PEAK}) DIV peak) with peak = max|s| — "
    "the magnitude-domain form keeps every division on non-negative "
    "integers, so floor == trunc in numpy, Spark and DuckDB alike "
    "(the multimodal_wav_fade discipline). Pinned by the plain, "
    "absolute and position-weighted output checksums plus the "
    "post-normalization peak.",
    oracle=f"""
WITH geom AS (
    SELECT doc_id, 64 + doc_id % 129 AS n FROM documents
),
smp AS (
    SELECT g.doc_id, s.i,
           (g.doc_id * 7 + s.i) % 65536 - 32768 AS s
    FROM geom g,
         LATERAL (SELECT UNNEST(GENERATE_SERIES(0, g.n - 1)) AS i) s
),
pk AS (SELECT doc_id, CAST(MAX(ABS(s)) AS BIGINT) AS peak FROM smp GROUP BY 1),
outp AS (
    SELECT m.doc_id, m.i, p.peak,
           CASE WHEN p.peak = 0 THEN 0
                ELSE CAST(SIGN(m.s) AS BIGINT)
                     * ((ABS(m.s) * {TARGET_PEAK}) // p.peak) END AS o
    FROM smp m JOIN pk p ON p.doc_id = m.doc_id
)
SELECT doc_id,
       CAST(MAX(peak) AS BIGINT) AS peak_in,
       CAST(SUM(o) AS BIGINT) AS out_sum,
       CAST(SUM(ABS(o)) AS BIGINT) AS out_abs_sum,
       CAST(SUM(i * o) AS BIGINT) AS out_wsum,
       CAST(MAX(ABS(o)) AS BIGINT) AS peak_out
FROM outp
GROUP BY doc_id
ORDER BY doc_id
""",
)
def multimodal_wav_peak_normalize(spark, sf_dir):
    import pandas as pd

    ids = t(spark, sf_dir, "documents").repartition(8).select("doc_id")

    def norm(batches):
        import numpy as np

        from cascade_spark.operators.multimodal import parse_wav

        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                doc_id = int(doc_id)
                _, _, s = parse_wav(synth_wav(doc_id))
                s = s.astype(np.int64)
                peak = int(np.abs(s).max()) if s.size else 0
                if peak == 0:
                    o = np.zeros_like(s)
                else:
                    o = np.sign(s) * ((np.abs(s) * TARGET_PEAK) // peak)
                idx = np.arange(s.size, dtype=np.int64)
                rows.append(
                    (
                        doc_id,
                        peak,
                        int(o.sum()),
                        int(np.abs(o).sum()),
                        int((idx * o).sum()),
                        int(np.abs(o).max()) if o.size else 0,
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id",
                    "peak_in",
                    "out_sum",
                    "out_abs_sum",
                    "out_wsum",
                    "peak_out",
                ],
            )

    schema = (
        "doc_id long, peak_in long, out_sum long, out_abs_sum long, "
        "out_wsum long, peak_out long"
    )
    return ids.mapInPandas(norm, schema=schema).orderBy("doc_id")
