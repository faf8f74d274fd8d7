"""Round-9 wave-4 — signal-processing passes on the REAL multimodal
decode paths (P6 images / PCM16 WAV / PVID containers from
multimodal.py), extending the family with the stencil, histogram,
envelope, and temporal-diff work a media-training pipeline runs after
decode:

- ``multimodal_image_sobel``: 3x3 Sobel gradients over the integer
  luma plane of the real P6 decode — exact integer gradient energy and
  edge-pixel counts (no float, no sqrt: energy is gx^2 + gy^2).
- ``multimodal_image_otsu``: Otsu threshold over the raw byte
  histogram — the binarization step of OCR/document-image pipelines;
  the between-class score is the declared floored integer
  (s0*n1 - s1*n0)^2 DIV (n0*n1), argmax with the deterministic
  lowest-threshold tie rule.
- ``multimodal_wav_fade``: linear fade-in over the first FADE_K
  samples in the UNSIGNED PCM domain (u*i DIV K — everything
  non-negative, so floor == truncation on every engine/library),
  proven by plain, squared, and position-weighted checksums.
- ``multimodal_video_motion_energy``: adjacent-frame squared-diff
  energy over the real PVID frame walk — the motion readout next to
  multimodal_video_scene_cut's cut detector; exact integers with the
  deterministic earliest-argmax rule.

All four are map-only mapInPandas stages (the multimodal scale shape:
no shuffle, fan-out by maxPartitionBytes, blobs column-pruned until
decode); oracles replay the synthesis recurrences in closed form.

Reference scope: the reference engine is an event log
(src/broker/main.rs); the blob payloads ride the same consume path as
any record, per SURVEY §2 north-star multimodal notes.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from cascade_spark.operators._util import t
from cascade_spark.operators.multimodal import synth_ppm, synth_video, synth_wav
from cascade_spark.plans.registry import register

SOBEL_EDGE_T = 200_000  # gx^2 + gy^2 threshold for the edge-pixel count
FADE_K = 32


def _luma_plane(blob: bytes):
    """Integer luma y = (77R + 150G + 29B) >> 8 from a P6 blob as an
    (h, w) int64 ndarray — the multimodal_image_grayscale fixed-point
    contract, kept as a plane for stencil work."""
    import numpy as np

    from cascade_spark.operators.multimodal import decode_ppm

    w, h, _, _, _ = decode_ppm(blob)
    nl3 = blob.index(b"\n", blob.index(b"\n", blob.index(b"\n") + 1) + 1)
    px = np.frombuffer(blob, dtype=np.uint8, offset=nl3 + 1).astype("int64")
    rgb = px.reshape(h, w, 3)
    return (77 * rgb[:, :, 0] + 150 * rgb[:, :, 1] + 29 * rgb[:, :, 2]) >> 8


@register(
    "multimodal_image_sobel",
    doc="Sobel edge energy on the real P6 decode: integer luma plane, "
    "3x3 gx/gy stencils over interior pixels (numpy slicing — one "
    "vectorized pass per image), per-doc exact gradient energy "
    f"sum(gx^2 + gy^2), edge pixels past {SOBEL_EDGE_T}, and the max "
    "single-pixel energy. The oracle rebuilds the luma plane from the "
    "synthesis recurrence and evaluates the same stencils via an "
    "8-neighbor kernel join — all integers, no sqrt anywhere.",
    oracle=f"""
WITH geom AS (
    SELECT doc_id, 4 + doc_id % 13 AS w, 3 + doc_id % 7 AS h FROM documents
),
px AS (
    SELECT g.doc_id, g.w, g.h, s.i % g.w AS x, s.i // g.w AS y,
           ((77 * ((g.doc_id * 31 + 3 * s.i) % 256)
             + 150 * ((g.doc_id * 31 + 3 * s.i + 1) % 256)
             + 29 * ((g.doc_id * 31 + 3 * s.i + 2) % 256)) // 256) AS luma
    FROM geom g,
         LATERAL (SELECT UNNEST(GENERATE_SERIES(0, g.w * g.h - 1)) AS i) s
),
kern(dx, dy, wx, wy) AS (
    VALUES (-1, -1, -1, -1), (0, -1, 0, -2), (1, -1, 1, -1),
           (-1, 0, -2, 0),                   (1, 0, 2, 0),
           (-1, 1, -1, 1),  (0, 1, 0, 2),   (1, 1, 1, 1)
),
grad AS (
    SELECT c.doc_id, c.x, c.y,
           CAST(SUM(k.wx * l.luma) AS BIGINT) AS gx,
           CAST(SUM(k.wy * l.luma) AS BIGINT) AS gy
    FROM px c
    JOIN kern k ON TRUE
    JOIN px l ON l.doc_id = c.doc_id AND l.x = c.x + k.dx AND l.y = c.y + k.dy
    WHERE c.x BETWEEN 1 AND c.w - 2 AND c.y BETWEEN 1 AND c.h - 2
    GROUP BY c.doc_id, c.x, c.y
)
SELECT p.doc_id,
       CAST(COALESCE(COUNT(g.doc_id), 0) AS BIGINT) AS n_interior,
       CAST(COALESCE(SUM(g.gx * g.gx + g.gy * g.gy), 0) AS BIGINT)
           AS grad_energy,
       CAST(COALESCE(COUNT(g.doc_id) FILTER (
            WHERE g.gx * g.gx + g.gy * g.gy > {SOBEL_EDGE_T}), 0) AS BIGINT)
           AS n_edge,
       CAST(COALESCE(MAX(g.gx * g.gx + g.gy * g.gy), 0) AS BIGINT)
           AS max_energy
FROM (SELECT DISTINCT doc_id FROM documents) p
LEFT JOIN grad g ON g.doc_id = p.doc_id
GROUP BY p.doc_id
ORDER BY p.doc_id
""",
)
def multimodal_image_sobel(spark, sf_dir):
    import pandas as pd

    d = t(spark, sf_dir, "documents")
    ids = d.repartition(8).select("doc_id")

    def stencil(batches):
        import numpy as np

        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                doc_id = int(doc_id)
                lum = _luma_plane(synth_ppm(doc_id))
                # Sobel via shifted slices over the interior
                c = lum[1:-1, 1:-1]
                if c.size == 0:
                    rows.append((doc_id, 0, 0, 0, 0))
                    continue
                tl, tc, tr = lum[:-2, :-2], lum[:-2, 1:-1], lum[:-2, 2:]
                ml, mr = lum[1:-1, :-2], lum[1:-1, 2:]
                bl, bc, br = lum[2:, :-2], lum[2:, 1:-1], lum[2:, 2:]
                gx = (tr + 2 * mr + br) - (tl + 2 * ml + bl)
                gy = (bl + 2 * bc + br) - (tl + 2 * tc + tr)
                e = gx * gx + gy * gy
                rows.append(
                    (
                        doc_id,
                        int(c.size),
                        int(e.sum()),
                        int((e > SOBEL_EDGE_T).sum()),
                        int(e.max()),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "n_interior", "grad_energy", "n_edge", "max_energy"],
            )

    schema = (
        "doc_id long, n_interior long, grad_energy long, "
        "n_edge long, max_energy long"
    )
    return ids.mapInPandas(stencil, schema=schema).orderBy("doc_id")


@register(
    "multimodal_image_otsu",
    doc="Otsu binarization threshold over the raw P6 byte histogram "
    "(the OCR/document-image preprocessing step): for each candidate "
    "t, class masses n0/s0 vs n1/s1 from the 256-bin histogram, "
    "between-class score declared as the floored integer "
    "(s0*n1 - s1*n0)^2 DIV (n0*n1) (the n^2 denominator is constant "
    "across t, so the argmax is Otsu's), argmax with the LOWEST-t tie "
    "rule. The oracle rebuilds the histogram in closed form from the "
    "byte recurrence ((doc*31 + i) % 256 covers each residue floor- "
    "or-ceil(n/256) times) and scans the same 256-row spine per doc.",
    oracle="""
WITH geom AS (
    SELECT doc_id, 3 * (4 + doc_id % 13) * (3 + doc_id % 7) AS n,
           (doc_id * 31) % 256 AS d0
    FROM documents
),
hist AS (
    SELECT g.doc_id, g.n, s.v,
           CASE WHEN (s.v - g.d0 + 256) % 256 < g.n
                THEN (g.n - 1 - (s.v - g.d0 + 256) % 256) // 256 + 1
                ELSE 0 END AS cnt
    FROM geom g,
         LATERAL (SELECT UNNEST(GENERATE_SERIES(0, 255)) AS v) s
),
pre AS (
    SELECT doc_id, n, v,
           CAST(SUM(cnt) OVER w AS BIGINT) AS n0,
           CAST(SUM(v * cnt) OVER w AS BIGINT) AS s0
    FROM hist
    WINDOW w AS (PARTITION BY doc_id ORDER BY v
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
tot AS (
    SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS nt,
           CAST(SUM(v * cnt) AS BIGINT) AS st
    FROM hist GROUP BY doc_id
),
scored AS (
    SELECT p.doc_id, p.v AS t,
           CASE WHEN p.n0 = 0 OR p.n0 = tot.nt THEN CAST(0 AS BIGINT)
                ELSE CAST(((CAST(p.s0 AS HUGEINT) * (tot.nt - p.n0)
                            - CAST(tot.st - p.s0 AS HUGEINT) * p.n0)
                           * (CAST(p.s0 AS HUGEINT) * (tot.nt - p.n0)
                              - CAST(tot.st - p.s0 AS HUGEINT) * p.n0))
                          // (CAST(p.n0 AS HUGEINT) * (tot.nt - p.n0))
                     AS BIGINT)
           END AS score
    FROM pre p JOIN tot ON tot.doc_id = p.doc_id
),
best AS (
    SELECT doc_id, t, score,
           ROW_NUMBER() OVER (PARTITION BY doc_id
                              ORDER BY score DESC, t) AS rk
    FROM scored
)
SELECT b.doc_id, CAST(b.t AS BIGINT) AS otsu_t, b.score AS best_score,
       tot.nt AS n_bytes
FROM best b JOIN tot ON tot.doc_id = b.doc_id
WHERE b.rk = 1
ORDER BY b.doc_id
""",
)
def multimodal_image_otsu(spark, sf_dir):
    import pandas as pd

    d = t(spark, sf_dir, "documents")
    ids = d.repartition(8).select("doc_id")

    def otsu(batches):
        import numpy as np

        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                doc_id = int(doc_id)
                blob = synth_ppm(doc_id)
                nl3 = blob.index(
                    b"\n", blob.index(b"\n", blob.index(b"\n") + 1) + 1
                )
                px = np.frombuffer(blob, dtype=np.uint8, offset=nl3 + 1)
                hist = np.bincount(px, minlength=256).astype("int64")
                nt, st = int(hist.sum()), int((np.arange(256) * hist).sum())
                n0 = s0 = 0
                best_t, best_score = 0, -1
                for v in range(256):
                    n0 += int(hist[v])
                    s0 += v * int(hist[v])
                    if n0 == 0 or n0 == nt:
                        score = 0
                    else:
                        a = s0 * (nt - n0) - (st - s0) * n0
                        score = (a * a) // (n0 * (nt - n0))
                    if score > best_score:
                        best_t, best_score = v, score
                rows.append((doc_id, best_t, best_score, nt))
            yield pd.DataFrame(
                rows, columns=["doc_id", "otsu_t", "best_score", "n_bytes"]
            )

    return ids.mapInPandas(
        otsu, schema="doc_id long, otsu_t long, best_score long, n_bytes long"
    ).orderBy("doc_id")


@register(
    "multimodal_wav_fade",
    doc=f"Linear fade-in over the first {FADE_K} samples of the real "
    "PCM16 WAV decode, applied in the UNSIGNED domain (u = s + 32768, "
    f"faded = u*i DIV {FADE_K}) so every quantity is non-negative and "
    "floor division is truncation on every engine and in numpy alike. "
    "Plain, squared, and position-weighted checksums over the full "
    "faded stream pin the transform exactly; oracle replays the sample "
    "recurrence.",
    oracle=f"""
WITH g AS (
    SELECT doc_id, 64 + doc_id % 129 AS n FROM documents
),
s AS (
    SELECT g.doc_id, g.n, i.i,
           CASE WHEN i.i < {FADE_K}
                THEN (((g.doc_id * 7 + i.i) % 65536) * i.i) // {FADE_K}
                ELSE (g.doc_id * 7 + i.i) % 65536 END AS u
    FROM g, LATERAL (SELECT UNNEST(GENERATE_SERIES(0, g.n - 1)) AS i) i
)
SELECT doc_id, CAST(MAX(n) AS BIGINT) AS n_samples,
       CAST(SUM(u) AS BIGINT) AS sum_u,
       CAST(SUM(u * u) AS BIGINT) AS sum_u_sq,
       CAST(SUM(i * u) AS BIGINT) AS sum_pos_u
FROM s GROUP BY doc_id
ORDER BY doc_id
""",
)
def multimodal_wav_fade(spark, sf_dir):
    import pandas as pd

    d = t(spark, sf_dir, "documents")
    ids = d.repartition(8).select("doc_id")

    def fade(batches):
        import numpy as np

        from cascade_spark.operators.multimodal import parse_wav

        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                doc_id = int(doc_id)
                _, _, samples = parse_wav(synth_wav(doc_id))
                u = samples.astype("int64") + 32768
                idx = np.arange(u.size, dtype="int64")
                k = min(FADE_K, u.size)
                u[:k] = (u[:k] * idx[:k]) // FADE_K
                rows.append(
                    (
                        doc_id,
                        int(u.size),
                        int(u.sum()),
                        int((u * u).sum()),
                        int((idx * u).sum()),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "n_samples", "sum_u", "sum_u_sq", "sum_pos_u"],
            )

    return ids.mapInPandas(
        fade,
        schema=(
            "doc_id long, n_samples long, sum_u long, "
            "sum_u_sq long, sum_pos_u long"
        ),
    ).orderBy("doc_id")


def _video_frames(blob: bytes):
    """PVID walk yielding (frame_idx, int64 pixel ndarray) — the
    decode_video chunk logic, keeping the pixel block for diff work
    (the decoder sees only the bytes)."""
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
        n = 3 * int(w_s) * int(h_s)
        px = np.frombuffer(blob, dtype=np.uint8, offset=d2 + 1, count=n)
        if px.size != n:
            raise ValueError(f"frame {f}: truncated pixel data")
        yield f, px.astype("int64")
        pos = d2 + 1 + n


@register(
    "multimodal_video_motion_energy",
    doc="Adjacent-frame motion energy on the real PVID container walk: "
    "per consecutive frame pair, the exact integer squared-diff energy "
    "sum((p_f - p_(f-1))^2); per doc the total, the max pair energy, "
    "and the earliest argmax pair index — the motion readout next to "
    "multimodal_video_scene_cut's cut detector. Oracle replays the "
    "per-frame synthesis recurrence in closed form.",
    oracle="""
WITH g AS (
    SELECT doc_id, 2 + doc_id % 5 AS n_frames,
           3 * (4 + doc_id % 13) * (3 + doc_id % 7) AS n
    FROM documents
),
diffs AS (
    SELECT g.doc_id, f.f,
           CAST(SUM(
               ((g.doc_id * 31 + f.f * 7 + i.i) % 256
                - (g.doc_id * 31 + (f.f - 1) * 7 + i.i) % 256)
               * ((g.doc_id * 31 + f.f * 7 + i.i) % 256
                  - (g.doc_id * 31 + (f.f - 1) * 7 + i.i) % 256)
           ) AS BIGINT) AS e
    FROM g,
         LATERAL (SELECT UNNEST(GENERATE_SERIES(1, g.n_frames - 1)) AS f) f,
         LATERAL (SELECT UNNEST(GENERATE_SERIES(0, g.n - 1)) AS i) i
    GROUP BY g.doc_id, f.f
),
best AS (
    SELECT doc_id, f, e,
           ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY e DESC, f) AS rk
    FROM diffs
)
SELECT d.doc_id,
       CAST(g.n_frames AS BIGINT) AS n_frames,
       CAST(SUM(d.e) AS BIGINT) AS total_energy,
       CAST(MAX(b.e) AS BIGINT) AS max_pair_energy,
       CAST(MAX(b.f) AS BIGINT) AS argmax_pair
FROM diffs d
JOIN g ON g.doc_id = d.doc_id
JOIN best b ON b.doc_id = d.doc_id AND b.rk = 1
GROUP BY d.doc_id, g.n_frames
ORDER BY d.doc_id
""",
)
def multimodal_video_motion_energy(spark, sf_dir):
    import pandas as pd

    d = t(spark, sf_dir, "documents")
    ids = d.repartition(8).select("doc_id")

    def motion(batches):
        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                doc_id = int(doc_id)
                frames = list(_video_frames(synth_video(doc_id)))
                total, best_e, best_f = 0, -1, -1
                for (f0, p0), (f1, p1) in zip(frames, frames[1:]):
                    diff = p1 - p0
                    e = int((diff * diff).sum())
                    total += e
                    if e > best_e:
                        best_e, best_f = e, f1
                rows.append((doc_id, len(frames), total, best_e, best_f))
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "n_frames", "total_energy",
                    "max_pair_energy", "argmax_pair",
                ],
            )

    return ids.mapInPandas(
        motion,
        schema=(
            "doc_id long, n_frames long, total_energy long, "
            "max_pair_energy long, argmax_pair long"
        ),
    ).orderBy("doc_id")
