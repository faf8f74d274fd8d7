"""Round-9 wave — distribution-fit audits: the uniformity screen on
the event calendar and the compressibility screen on raw media bytes.

- ``stats_chi2_goodness_of_fit``: chi-square GoF of the ISO-weekday
  event distribution against uniform — the seasonality-presence
  screen that precedes any weekday-stratified analysis; the statistic
  clears to sum((7*O - N)^2) / (7*N), ONE exact integer rational in
  micro units, with the worst-deviating weekday alongside.
- ``multimodal_image_entropy``: Shannon entropy of each image's raw
  byte histogram in micro-nats — entropy near ln(256) means the bytes
  are incompressible (already-encoded media); low entropy flags flat/
  synthetic fills. Per-term FLOORED mirrored ln (c * floor(1e6 *
  ln(n/c)), integer sum, one final DIV) — the text_unigram_entropy
  discipline on the byte spine; the oracle rebuilds each histogram in
  closed form from the P6 synthesis recurrence (the
  multimodal_image_otsu spine).

Reference scope: declared aggregates over ``events`` / ``documents``
per SURVEY §2B.

Scale (100 TB): the GoF collapses to a 7-row dow spine in one
combinable groupBy; the entropy is a map-only per-image numpy bincount
inside mapInPandas with a 256-row reduction per doc.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from cascade_spark.operators._util import bigint, t
from cascade_spark.plans.registry import register

MICRO = 1_000_000


@register(
    "stats_chi2_goodness_of_fit",
    doc="Chi-square goodness-of-fit of the ISO-weekday event counts "
    "against the uniform calendar: chi2 = sum((O - N/7)^2 / (N/7)) "
    "cleared to sum((7*O - N)^2) DIV (7*N) — one exact integer in "
    "micro units (zero-filled 7-row dow spine, so missing weekdays "
    "count), plus the worst-deviating weekday by |7*O - N| with the "
    "smallest-dow tie rule. df = 6; the uniformity screen before any "
    "weekday-stratified statistic.",
    oracle="""
WITH dows AS (SELECT UNNEST(GENERATE_SERIES(1, 7)) AS dow),
obs AS (
    SELECT CAST(ISODOW(CAST(ts AS DATE)) AS BIGINT) AS dow,
           CAST(COUNT(*) AS BIGINT) AS o
    FROM events GROUP BY 1
),
cell AS (
    SELECT d.dow, COALESCE(obs.o, 0) AS o
    FROM dows d LEFT JOIN obs ON obs.dow = d.dow
),
n AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM cell),
dev AS (
    SELECT c.dow, c.o,
           CAST(7 * c.o - n.n AS HUGEINT) AS d
    FROM cell c, n
),
worst AS (SELECT dow FROM dev ORDER BY ABS(d) DESC, dow LIMIT 1)
SELECT n.n AS n_events,
       CAST(CASE WHEN n.n = 0 THEN 0
                 ELSE (SELECT SUM(d.d * d.d) FROM dev d) * 1000000
                      // (7 * n.n) END AS BIGINT) AS chi2_micro,
       CAST(worst.dow AS BIGINT) AS worst_dow
FROM n, worst
""",
)
def stats_chi2_goodness_of_fit(spark, sf_dir):
    from cascade_spark.operators.inference_extra import _contingency_cells

    dec = "decimal(38,0)"
    # dow marginal of the shared (event_type × dow) contingency cells:
    # summing o over event_type is exactly COUNT(*) per dow (groupBy
    # partitions all rows, NULL types included), so this reads ≤ 35
    # cached rows instead of re-scanning events
    obs = (
        _contingency_cells(spark, sf_dir)
        .groupBy("dow")
        .agg(F.sum("o").cast("long").alias("o"))
    )
    dows = spark.range(1, 8).select(
        F.col("id").cast("long").alias("dow")
    )
    cell = dows.join(obs, "dow", "left").select(
        "dow", F.coalesce("o", F.lit(0)).alias("o")
    )
    n = cell.agg(bigint(F.sum("o")).alias("n"))
    dev = cell.crossJoin(F.broadcast(n)).select(
        "dow",
        "n",
        (F.lit(7) * F.col("o") - F.col("n")).cast(dec).alias("d"),
    )
    chi = dev.agg(
        F.max("n").alias("n_events"),
        F.sum(F.col("d") * F.col("d")).cast(dec).alias("ssd"),
    )
    worst = (
        dev.orderBy(F.abs(F.col("d")).desc(), "dow")
        .limit(1)
        .select(F.col("dow").alias("worst_dow"))
    )
    return chi.crossJoin(F.broadcast(worst)).select(
        bigint(F.col("n_events")).alias("n_events"),
        F.expr(
            f"CAST(CASE WHEN n_events = 0 THEN 0"
            f" ELSE ssd * {MICRO} DIV (7 * n_events) END AS BIGINT)"
        ).alias("chi2_micro"),
        bigint(F.col("worst_dow")).alias("worst_dow"),
    )


@register(
    "multimodal_image_entropy",
    doc="Byte-histogram Shannon entropy per image on the real P6 "
    "decode: H = sum((c/n) * ln(n/c)) in micro-nats with each term "
    "FLOORED before the integer sum (c * floor(1e6 * ln(n/c)), one "
    "mirrored IEEE ln per occupied bin, final truncating DIV n) — "
    "entropy near ln(256) = 5.545 means incompressible bytes, low "
    "values flag flat fills. The oracle rebuilds each 256-bin "
    "histogram in closed form from the (doc_id*31 + i) % 256 "
    "recurrence (the multimodal_image_otsu spine).",
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
terms AS (
    SELECT doc_id, n, cnt,
           CASE WHEN cnt = 0 THEN 0
                ELSE cnt * CAST(FLOOR(1000000 * LN(CAST(n AS DOUBLE) / cnt))
                                AS BIGINT) END AS term
    FROM hist
)
SELECT doc_id,
       CAST(MAX(n) AS BIGINT) AS n_bytes,
       CAST(COUNT(*) FILTER (WHERE cnt > 0) AS BIGINT) AS n_occupied_bins,
       CAST(MAX(cnt) AS BIGINT) AS max_bin_count,
       CAST(SUM(term) // MAX(n) AS BIGINT) AS entropy_micro
FROM terms
GROUP BY doc_id
ORDER BY doc_id
""",
)
def multimodal_image_entropy(spark, sf_dir):
    import pandas as pd

    ids = t(spark, sf_dir, "documents").repartition(8).select("doc_id")

    def entropy(batches):
        import math

        import numpy as np

        from cascade_spark.operators.multimodal import decode_ppm, synth_ppm

        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                doc_id = int(doc_id)
                blob = synth_ppm(doc_id)
                _w, _h, _mv, nb, _ps = decode_ppm(blob)
                px = np.frombuffer(blob[-nb:], dtype=np.uint8)
                cnt = np.bincount(px, minlength=256).astype(np.int64)
                n = int(cnt.sum())
                occ = cnt[cnt > 0]
                terms = sum(
                    int(c) * math.floor(1_000_000 * math.log(n / int(c)))
                    for c in occ
                )
                rows.append(
                    (
                        doc_id,
                        n,
                        int((cnt > 0).sum()),
                        int(cnt.max()),
                        terms // n,
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id",
                    "n_bytes",
                    "n_occupied_bins",
                    "max_bin_count",
                    "entropy_micro",
                ],
            )

    schema = (
        "doc_id long, n_bytes long, n_occupied_bins long, "
        "max_bin_count long, entropy_micro long"
    )
    return ids.mapInPandas(entropy, schema=schema).orderBy("doc_id")


@register(
    "events_seasonal_index_dow",
    doc="Classical weekday seasonal indices: each ISO weekday's mean "
    "daily volume relative to the overall mean in exact bp — index = "
    "(dow_sum * n_days * 10000) DIV (dow_days * total) clears both "
    "means without division loss (100% = 10000). The multiplicative "
    "seasonal profile every ops dashboard shows next to the chi-square "
    "uniformity test; per-dow day counts come from observed days (a "
    "weekday with zero events anywhere in the range cannot appear).",
    oracle="""
WITH days AS (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events),
dv AS (
    SELECT d.day, CAST(ISODOW(d.day) AS BIGINT) AS dow,
           CAST(COALESCE(x.n, 0) AS BIGINT) AS v
    FROM days d LEFT JOIN (
        SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n
        FROM events GROUP BY 1
    ) x ON x.day = d.day
),
per_dow AS (
    SELECT dow, CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(SUM(v) AS BIGINT) AS s
    FROM dv GROUP BY 1
),
tot AS (SELECT CAST(SUM(s) AS BIGINT) AS st,
               CAST(SUM(n_days) AS BIGINT) AS nt FROM per_dow)
SELECT p.dow, p.n_days, p.s AS volume,
       CAST(CASE WHEN t.st = 0 OR p.n_days = 0 THEN 0
                 ELSE (p.s * t.nt * 10000) // (p.n_days * t.st)
            END AS BIGINT) AS seasonal_index_bp
FROM per_dow p, tot t
ORDER BY p.dow
""",
)
def events_seasonal_index_dow(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    dv = daily.select(
        F.dayofweek(F.date_sub("day", 1)).cast("long").alias("dow"),
        F.col("n").alias("v"),
    )
    per_dow = dv.groupBy("dow").agg(
        bigint(F.count(F.lit(1))).alias("n_days"),
        bigint(F.sum("v")).alias("s"),
    )
    tot = per_dow.agg(
        bigint(F.sum("s")).alias("st"), bigint(F.sum("n_days")).alias("nt")
    )
    return (
        per_dow.crossJoin(F.broadcast(tot))
        .select(
            "dow",
            "n_days",
            F.col("s").alias("volume"),
            F.expr(
                "CAST(CASE WHEN st = 0 OR n_days = 0 THEN 0"
                " ELSE (s * nt * 10000) DIV (n_days * st) END AS BIGINT)"
            ).alias("seasonal_index_bp"),
        )
        .orderBy("dow")
    )
