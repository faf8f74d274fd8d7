"""Population-estimation and effect-size statistics over the events
corpus — the "how big is what I can't see, and how big is the
difference I can see" family that rounds out the inference surface
(MWU/KS/Kruskal/Brown-Forsythe test *whether* distributions differ;
these estimate magnitudes):

- ``stats_capture_recapture``: Lincoln–Petersen / Chapman estimate of
  the total user population from two observation windows — the classic
  mark-recapture design, used in data engineering to estimate unseen
  entity counts (how many users/dup-clusters exist beyond what two
  samples saw). Reference scope: the engine's query surface is
  aggregation over an event log (``src/broker/main.rs`` consume/aggregate
  loop); this is a declared aggregate over the same table.
- ``stats_good_turing``: Good–Turing frequency-of-frequencies over the
  corpus token counts — the canonical estimator for unseen-vocabulary
  mass (Gale & Sampson 1995 "Good-Turing without tears"), a standard
  corpus-statistics pass in training-data pipelines.
- ``stats_anova_oneway``: one-way ANOVA F on the zero-filled
  (event_type x day) daily-volume grid. Same equal-n spine as
  stats_kruskal_wallis / stats_brown_forsythe; raw values instead of
  midranks / |median deviations|.
- ``stats_effect_sizes``: Cohen's d, Hedges' g and Cliff's delta
  between two event types' daily volumes — magnitude (not just
  significance) of the difference, the number an A/B readout reports.

Determinism: every statistic that can be a ratio of integers is
computed as one exact rational and reported in floor basis points via
decimal(38,0) (HUGEINT on the oracle side). Cohen's d needs one IEEE
sqrt: its operands are exact small-integer-derived doubles built by the
same expression tree on both engines, so the rounded 4-dp result is
engine-stable (same rule as stats_welch_ttest).

Scale (100 TB): all four collapse the raw log to bounded spines before
any quadratic step — capture/recapture to per-user flags (one
map-side-combinable groupBy), Good–Turing to word counts then
freq-of-freqs (two cascaded groupBys, each combinable), the grid tests
to k*n_days cells. Nothing here holds per-row state after the first
aggregation, so the plans are shuffle-once at any corpus size.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from cascade_spark.operators._util import bigint, t
from cascade_spark.operators.substring_dedup import _sql_word_ngrams, _word_ngrams
from cascade_spark.operators.text import _sql_hits
from cascade_spark.plans.registry import register

BP = 10_000


# ---------------------------------------------------------------------------
# capture–recapture
# ---------------------------------------------------------------------------


@register(
    "stats_capture_recapture",
    doc="Chapman-corrected Lincoln–Petersen population estimate: users "
    "seen in the first half of the date span are the marked sample, "
    "users in the second half the recapture; N-hat = "
    "(n1+1)(n2+1)/(m+1) - 1 in exact floor arithmetic, next to the "
    "true distinct-user count for audit. One groupBy(user) pass.",
    oracle="""
WITH span AS (
    SELECT MIN(CAST(ts AS DATE)) AS d0, MAX(CAST(ts AS DATE)) AS d1 FROM events
),
mid AS (
    SELECT d0 + CAST(DATE_DIFF('day', d0, d1) // 2 AS INTEGER) AS m FROM span
),
flags AS (
    SELECT e.user_id,
           MAX(CASE WHEN CAST(e.ts AS DATE) <= mid.m THEN 1 ELSE 0 END) AS in_a,
           MAX(CASE WHEN CAST(e.ts AS DATE) >  mid.m THEN 1 ELSE 0 END) AS in_b
    FROM events e, mid
    GROUP BY e.user_id
),
counts AS (
    SELECT CAST(SUM(in_a) AS BIGINT) AS n1,
           CAST(SUM(in_b) AS BIGINT) AS n2,
           CAST(SUM(in_a * in_b) AS BIGINT) AS m,
           CAST(COUNT(*) AS BIGINT) AS n_true
    FROM flags
)
SELECT n1, n2, m, n_true,
       CAST((n1 + 1) * (n2 + 1) // (m + 1) - 1 AS BIGINT) AS chapman_est
FROM counts
""",
)
def stats_capture_recapture(spark, sf_dir):
    ev = t(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("day")
    )
    span = ev.agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    ).select(
        F.expr("date_add(d0, CAST(datediff(d1, d0) DIV 2 AS INT))").alias("mid")
    )
    flags = (
        ev.crossJoin(F.broadcast(span))
        .groupBy("user_id")
        .agg(
            F.max(F.when(F.col("day") <= F.col("mid"), 1).otherwise(0)).alias("in_a"),
            F.max(F.when(F.col("day") > F.col("mid"), 1).otherwise(0)).alias("in_b"),
        )
    )
    counts = flags.agg(
        bigint(F.sum("in_a")).alias("n1"),
        bigint(F.sum("in_b")).alias("n2"),
        bigint(F.sum(F.col("in_a") * F.col("in_b"))).alias("m"),
        bigint(F.count(F.lit(1))).alias("n_true"),
    )
    return counts.select(
        "n1",
        "n2",
        "m",
        "n_true",
        F.expr("(n1 + 1) * (n2 + 1) DIV (m + 1) - 1").cast("long").alias("chapman_est"),
    )


# ---------------------------------------------------------------------------
# Good–Turing
# ---------------------------------------------------------------------------

GT_MAX_R = 10


@register(
    "stats_good_turing",
    doc="Good–Turing frequency-of-frequencies over corpus word-TRIGRAM "
    f"counts: for r = 1..{GT_MAX_R}, the number of trigram types seen "
    "exactly r times (n_r), the Turing-smoothed count r* = "
    "(r+1)·n_{r+1}/n_r and the probability mass r·n_r/N, both in floor "
    "bp. The r=1 row's mass is the Good–Turing estimate of "
    "UNSEEN-vocabulary mass (Gale & Sampson 1995). Trigrams (not "
    "unigrams) because the fixture's unigram vocabulary is saturated — "
    "the freq-of-freqs regime needs a type space with real singleton "
    "mass, which is also the regime LM smoothing actually runs in. Two "
    "cascaded map-side-combinable groupBys (gram → count, count → "
    "count-of-counts): the second input is bounded by type-space size, "
    "not corpus size.",
    oracle=f"""
WITH wc AS (
    SELECT s, CAST(COUNT(*) AS BIGINT) AS r
    FROM ({_sql_word_ngrams(3, False)}) GROUP BY s
),
tot AS (SELECT CAST(SUM(r) AS BIGINT) AS n FROM wc),
ff AS (SELECT r, CAST(COUNT(*) AS BIGINT) AS n_r FROM wc GROUP BY r)
SELECT f.r,
       f.n_r,
       CAST(COALESCE({BP} * (f.r + 1) * f2.n_r // f.n_r, 0) AS BIGINT) AS r_star_bp,
       CAST({BP} * f.r * f.n_r // t.n AS BIGINT) AS mass_bp
FROM ff f
LEFT JOIN ff f2 ON f2.r = f.r + 1
CROSS JOIN tot t
WHERE f.r <= {GT_MAX_R}
ORDER BY f.r
""",
)
def stats_good_turing(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    tok = _word_ngrams(d, 3, distinct=False).select("s")
    wc = tok.groupBy("s").agg(bigint(F.count(F.lit(1))).alias("r"))
    tot = wc.agg(bigint(F.sum("r")).alias("n"))
    ff = wc.groupBy("r").agg(bigint(F.count(F.lit(1))).alias("n_r"))
    nxt = ff.select(
        (F.col("r") - 1).alias("r"), F.col("n_r").alias("n_r_next")
    )
    return (
        ff.join(nxt, "r", "left")
        .crossJoin(F.broadcast(tot))
        .filter(F.col("r") <= GT_MAX_R)
        .select(
            "r",
            "n_r",
            F.coalesce(
                F.expr(f"{BP} * (r + 1) * n_r_next DIV n_r"), F.lit(0)
            )
            .cast("long")
            .alias("r_star_bp"),
            F.expr(f"{BP} * r * n_r DIV n").cast("long").alias("mass_bp"),
        )
        .orderBy("r")
    )


# ---------------------------------------------------------------------------
# shared (event_type x day) zero-filled grid
# ---------------------------------------------------------------------------

_GRID_SQL = """
days AS (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events),
types AS (SELECT DISTINCT event_type FROM events),
daily AS (
    SELECT event_type, CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS v
    FROM events GROUP BY 1, 2
),
cell AS (
    SELECT t.event_type, d.day, COALESCE(x.v, 0) AS v
    FROM types t CROSS JOIN days d
    LEFT JOIN daily x ON x.event_type = t.event_type AND x.day = d.day
)
"""


def _grid(spark, sf_dir):
    """Zero-filled (event_type, day, v) grid — every group has exactly
    n_days observations (same equal-n spine as stats_kruskal_wallis).
    A projection of the shared materialized indicator grid (the tt
    column is dropped; values identical by construction)."""
    from cascade_spark.operators.timeseries_indicators import _grid as _tt_grid

    return _tt_grid(spark, sf_dir).select("event_type", "day", "v")


@register(
    "stats_anova_oneway",
    doc="One-way ANOVA F over the zero-filled (event_type x day) grid "
    "(equal group size D = n_days, k groups, N = k*D). With integer "
    "cell values the F statistic is one exact rational: F = "
    "(N-k)*(k*SSj - S^2) / ((k-1)*(k*(D*Q - SSj))) with S = sum v, "
    "Q = sum v^2, SSj = sum of squared group sums — reported in floor "
    "bp via decimal(38,0)/HUGEINT. The raw-value companion of "
    "stats_brown_forsythe (which runs the same F over |median "
    "deviations|). Grid-bounded: cost is k*n_days cells.",
    oracle=f"""
WITH {_GRID_SQL},
g AS (
    SELECT event_type,
           CAST(SUM(v) AS HUGEINT) AS s_j,
           CAST(SUM(v * v) AS HUGEINT) AS q_j,
           CAST(COUNT(*) AS HUGEINT) AS d
    FROM cell GROUP BY event_type
),
sums AS (
    SELECT CAST(COUNT(*) AS HUGEINT) AS k,
           MAX(d) AS d,
           SUM(s_j) AS s,
           SUM(q_j) AS q,
           SUM(s_j * s_j) AS ssj
    FROM g
)
SELECT CAST(k AS BIGINT) AS k_groups,
       CAST(d AS BIGINT) AS n_per_group,
       CAST((k * d - k) * (k * ssj - s * s) * {BP}
            // ((k - 1) * k * (d * q - ssj)) AS BIGINT) AS f_bp
FROM sums
""",
)
def stats_anova_oneway(spark, sf_dir):
    g = _grid(spark, sf_dir).groupBy("event_type").agg(
        F.sum("v").cast("decimal(38,0)").alias("s_j"),
        F.sum(F.col("v") * F.col("v")).cast("decimal(38,0)").alias("q_j"),
        F.count(F.lit(1)).cast("decimal(38,0)").alias("d"),
    )
    sums = g.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("k"),
        F.max("d").alias("d"),
        F.sum("s_j").alias("s"),
        F.sum("q_j").alias("q"),
        F.sum(F.col("s_j") * F.col("s_j")).alias("ssj"),
    )
    return sums.select(
        F.col("k").cast("long").alias("k_groups"),
        F.col("d").cast("long").alias("n_per_group"),
        F.expr(
            f"CAST((k * d - k) * (k * ssj - s * s) * {BP}"
            f" DIV ((k - 1) * k * (d * q - ssj)) AS BIGINT)"
        ).alias("f_bp"),
    )


EFFECT_A = "click"
EFFECT_B = "view"


@register(
    "stats_effect_sizes",
    doc=f"Effect sizes between '{EFFECT_A}' and '{EFFECT_B}' daily "
    "volumes on the zero-filled day grid: Cohen's d (pooled-SD "
    "standardized mean difference), Hedges' g (small-sample corrected, "
    "J = 1 - 3/(4(n1+n2)-9)) and Cliff's delta ((#x>y - #x<y)/(n1*n2), "
    "exact floor bp via distinct-value pair counts — never a row-level "
    "cross join). d and g are rounded 4-dp doubles whose operands are "
    "exact integer-derived values built by the same expression tree on "
    "both engines; delta is pure integer arithmetic.",
    oracle=f"""
WITH {_GRID_SQL},
a AS (SELECT v FROM cell WHERE event_type = '{EFFECT_A}'),
b AS (SELECT v FROM cell WHERE event_type = '{EFFECT_B}'),
sa AS (SELECT CAST(COUNT(*) AS BIGINT) AS n1, CAST(SUM(v) AS BIGINT) AS s1,
              CAST(SUM(v * v) AS BIGINT) AS q1 FROM a),
sb AS (SELECT CAST(COUNT(*) AS BIGINT) AS n2, CAST(SUM(v) AS BIGINT) AS s2,
              CAST(SUM(v * v) AS BIGINT) AS q2 FROM b),
av AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS c FROM a GROUP BY v),
bv AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS c FROM b GROUP BY v),
pairs AS (
    SELECT CAST(COALESCE(SUM(CASE WHEN av.v > bv.v THEN av.c * bv.c END), 0) AS BIGINT) AS gt,
           CAST(COALESCE(SUM(CASE WHEN av.v < bv.v THEN av.c * bv.c END), 0) AS BIGINT) AS lt
    FROM av CROSS JOIN bv
),
calc AS (
    SELECT n1, n2,
           (CAST(s1 AS DOUBLE) / n1 - CAST(s2 AS DOUBLE) / n2)
             / SQRT(((q1 - CAST(s1 AS DOUBLE) * s1 / n1)
                     + (q2 - CAST(s2 AS DOUBLE) * s2 / n2))
                    / (n1 + n2 - 2)) AS d,
           gt, lt
    FROM sa CROSS JOIN sb CROSS JOIN pairs
)
SELECT n1, n2,
       ROUND(d, 4) AS cohens_d,
       ROUND(d * (1.0 - 3.0 / (4.0 * (n1 + n2) - 9.0)), 4) AS hedges_g,
       CAST({BP} * (gt - lt) // (n1 * n2) AS BIGINT) AS cliffs_delta_bp
FROM calc
""",
)
def stats_effect_sizes(spark, sf_dir):
    grid = _grid(spark, sf_dir)
    a = grid.filter(F.col("event_type") == EFFECT_A).select("v")
    b = grid.filter(F.col("event_type") == EFFECT_B).select("v")
    sa = a.agg(
        bigint(F.count(F.lit(1))).alias("n1"),
        bigint(F.sum("v")).alias("s1"),
        bigint(F.sum(F.col("v") * F.col("v"))).alias("q1"),
    )
    sb = b.agg(
        bigint(F.count(F.lit(1))).alias("n2"),
        bigint(F.sum("v")).alias("s2"),
        bigint(F.sum(F.col("v") * F.col("v"))).alias("q2"),
    )
    av = a.groupBy("v").agg(bigint(F.count(F.lit(1))).alias("c"))
    bv = b.groupBy("v").agg(bigint(F.count(F.lit(1))).alias("c"))
    pairs = (
        av.crossJoin(bv.select(F.col("v").alias("bv"), F.col("c").alias("bc")))
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("v") > F.col("bv"), F.col("c") * F.col("bc"))),
                F.lit(0),
            )
            .cast("long")
            .alias("gt"),
            F.coalesce(
                F.sum(F.when(F.col("v") < F.col("bv"), F.col("c") * F.col("bc"))),
                F.lit(0),
            )
            .cast("long")
            .alias("lt"),
        )
    )
    calc = (
        sa.crossJoin(sb)
        .crossJoin(pairs)
        .select(
            "n1",
            "n2",
            "gt",
            "lt",
            (
                (F.col("s1").cast("double") / F.col("n1")
                 - F.col("s2").cast("double") / F.col("n2"))
                / F.sqrt(
                    (
                        (F.col("q1") - F.col("s1").cast("double") * F.col("s1") / F.col("n1"))
                        + (F.col("q2") - F.col("s2").cast("double") * F.col("s2") / F.col("n2"))
                    )
                    / (F.col("n1") + F.col("n2") - 2)
                )
            ).alias("d"),
        )
    )
    return calc.select(
        "n1",
        "n2",
        F.round(F.col("d"), 4).alias("cohens_d"),
        F.round(
            F.col("d") * (F.lit(1.0) - F.lit(3.0) / (F.lit(4.0) * (F.col("n1") + F.col("n2")) - F.lit(9.0))),
            4,
        ).alias("hedges_g"),
        F.expr(f"{BP} * (gt - lt) DIV (n1 * n2)").cast("long").alias("cliffs_delta_bp"),
    )


@register(
    "stats_runs_test",
    doc="Wald–Wolfowitz runs test for randomness of each event type's "
    "daily-volume sequence: days are marked above/below the doubled "
    "median (2v > med2; ties count below — doubled medians stay exact "
    "integers, the repo-wide median trick), runs are counted via one "
    "lag over the day order, and the expected run count "
    "1 + 2·n1·n2/D and its variance 2n1n2(2n1n2-D)/(D²(D-1)) are "
    "reported as exact floor-bp rationals — observed far below "
    "expected means the series is trending/sticky, far above means it "
    "oscillates. Grid-bounded: every step runs on the k×D daily "
    "spine, never on raw events.",
    oracle=f"""
WITH {_GRID_SQL},
d AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS nd FROM cell GROUP BY event_type),
rk AS (
    SELECT event_type, day, v,
           ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY v, day) AS rv
    FROM cell
),
med AS (
    SELECT r.event_type,
           CAST(SUM(CASE WHEN r.rv = (d.nd + 1) // 2 THEN r.v ELSE 0 END)
                + SUM(CASE WHEN r.rv = d.nd // 2 + 1 THEN r.v ELSE 0 END) AS BIGINT) AS med2
    FROM rk r JOIN d ON d.event_type = r.event_type
    GROUP BY r.event_type
),
sgn AS (
    SELECT c.event_type, c.day,
           CASE WHEN 2 * c.v > m.med2 THEN 1 ELSE 0 END AS s
    FROM cell c JOIN med m ON m.event_type = c.event_type
),
lagged AS (
    SELECT event_type, s,
           LAG(s) OVER (PARTITION BY event_type ORDER BY day) AS prev
    FROM sgn
),
agg AS (
    SELECT event_type,
           CAST(1 + SUM(CASE WHEN prev IS NOT NULL AND s <> prev THEN 1 ELSE 0 END) AS BIGINT) AS n_runs,
           CAST(SUM(s) AS BIGINT) AS n1,
           CAST(COUNT(*) - SUM(s) AS BIGINT) AS n2,
           CAST(COUNT(*) AS BIGINT) AS nd
    FROM lagged GROUP BY event_type
)
SELECT event_type, nd AS n_days, n1 AS n_above, n2 AS n_below, n_runs,
       CAST({BP} + (2 * n1 * n2 * {BP}) // nd AS BIGINT) AS e_runs_bp,
       CAST((2 * n1 * n2 * (2 * n1 * n2 - nd) * {BP})
            // (nd * nd * (nd - 1)) AS BIGINT) AS var_runs_bp
FROM agg
ORDER BY event_type
""",
)
def stats_runs_test(spark, sf_dir):
    from pyspark.sql import Window

    cell = _grid(spark, sf_dir)
    d = cell.groupBy("event_type").agg(bigint(F.count(F.lit(1))).alias("nd"))
    rk = cell.withColumn(
        "rv",
        F.row_number().over(
            Window.partitionBy("event_type").orderBy("v", "day")
        ),
    )
    med = (
        rk.join(d, "event_type")
        .groupBy("event_type")
        .agg(
            F.sum(
                F.when(F.expr("rv = (nd + 1) DIV 2"), F.col("v")).otherwise(0)
            ).cast("long").alias("m_lo"),
            F.sum(
                F.when(F.expr("rv = nd DIV 2 + 1"), F.col("v")).otherwise(0)
            ).cast("long").alias("m_hi"),
        )
        .select("event_type", (F.col("m_lo") + F.col("m_hi")).alias("med2"))
    )
    sgn = cell.join(med, "event_type").select(
        "event_type",
        "day",
        F.when(2 * F.col("v") > F.col("med2"), 1).otherwise(0).alias("s"),
    )
    lagged = sgn.withColumn(
        "prev", F.lag("s").over(Window.partitionBy("event_type").orderBy("day"))
    )
    agg = lagged.groupBy("event_type").agg(
        (
            F.lit(1)
            + F.sum(
                F.when(
                    F.col("prev").isNotNull() & (F.col("s") != F.col("prev")), 1
                ).otherwise(0)
            )
        )
        .cast("long")
        .alias("n_runs"),
        bigint(F.sum("s")).alias("n1"),
        (F.count(F.lit(1)) - F.sum("s")).cast("long").alias("n2"),
        bigint(F.count(F.lit(1))).alias("nd"),
    )
    return agg.select(
        "event_type",
        F.col("nd").alias("n_days"),
        F.col("n1").alias("n_above"),
        F.col("n2").alias("n_below"),
        "n_runs",
        F.expr(f"{BP} + (2 * n1 * n2 * {BP}) DIV nd").cast("long").alias("e_runs_bp"),
        F.expr(
            f"(2 * n1 * n2 * (2 * n1 * n2 - nd) * {BP}) DIV (nd * nd * (nd - 1))"
        )
        .cast("long")
        .alias("var_runs_bp"),
    ).orderBy("event_type")


@register(
    "stats_mcnemar",
    doc="McNemar's paired test comparing two language-ID classifiers on "
    "the SAME documents: A = the marker-word argmax (text_lang_id's "
    "rule, same deterministic tie order) vs B = the corpus-majority "
    "prior (always predict the most common labeled language, ties by "
    "language code). The discordant-pair counts b (A right, B wrong) "
    "and c (A wrong, B right) drive chi2 = (b-c)^2/(b+c) and the "
    "continuity-corrected (|b-c|-1)^2/(b+c), both exact floor-bp "
    "rationals (0 when b+c = 0). The paired design is the right test "
    "for classifier A/B comparisons on one eval set — marginal "
    "accuracy tests (two-proportion z) overstate significance because "
    "the two error sets overlap. One map-only scoring pass + one "
    "scalar aggregate; the majority prior is a broadcast 1-row frame.",
    oracle=f"""
WITH hits AS (
    SELECT doc_id, lang,
           {_sql_hits('en')} AS h_en,
           {_sql_hits('de')} AS h_de,
           {_sql_hits('fr')} AS h_fr,
           {_sql_hits('es')} AS h_es
    FROM documents
),
pred AS (
    SELECT doc_id, lang,
           CASE
             WHEN h_en = 0 AND h_de = 0 AND h_fr = 0 AND h_es = 0 THEN 'unknown'
             WHEN h_en >= h_de AND h_en >= h_fr AND h_en >= h_es THEN 'en'
             WHEN h_de >= h_fr AND h_de >= h_es THEN 'de'
             WHEN h_fr >= h_es THEN 'fr'
             ELSE 'es'
           END AS pred_a
    FROM hits
),
major AS (
    SELECT lang AS pred_b FROM documents
    GROUP BY lang ORDER BY COUNT(*) DESC, lang LIMIT 1
),
flags AS (
    SELECT CASE WHEN p.pred_a = p.lang THEN 1 ELSE 0 END AS a_ok,
           CASE WHEN m.pred_b = p.lang THEN 1 ELSE 0 END AS b_ok
    FROM pred p CROSS JOIN major m
),
agg AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN a_ok = 1 AND b_ok = 0 THEN 1 ELSE 0 END) AS BIGINT) AS b,
           CAST(SUM(CASE WHEN a_ok = 0 AND b_ok = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c
    FROM flags
)
SELECT n, b, c,
       CAST(CASE WHEN b + c = 0 THEN 0
            ELSE (b - c) * (b - c) * {BP} // (b + c) END AS BIGINT) AS chi2_bp,
       CAST(CASE WHEN b + c = 0 THEN 0
            ELSE (ABS(b - c) - 1) * (ABS(b - c) - 1) * {BP} // (b + c) END AS BIGINT) AS chi2_cc_bp
FROM agg
""",
)
def stats_mcnemar(spark, sf_dir):
    from cascade_spark.operators.text import LANG_MARKERS

    d = t(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")

    def hits(lang):
        arr = F.array([F.lit(w) for w in LANG_MARKERS[lang]])
        return F.size(F.filter(words, lambda w: F.array_contains(arr, w)))

    pred = d.select(
        "doc_id",
        "lang",
        hits("en").alias("h_en"),
        hits("de").alias("h_de"),
        hits("fr").alias("h_fr"),
        hits("es").alias("h_es"),
    ).select(
        "lang",
        F.expr(
            "CASE"
            " WHEN h_en = 0 AND h_de = 0 AND h_fr = 0 AND h_es = 0 THEN 'unknown'"
            " WHEN h_en >= h_de AND h_en >= h_fr AND h_en >= h_es THEN 'en'"
            " WHEN h_de >= h_fr AND h_de >= h_es THEN 'de'"
            " WHEN h_fr >= h_es THEN 'fr'"
            " ELSE 'es' END"
        ).alias("pred_a"),
    )
    major = (
        d.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), "lang")
        .limit(1)
        .select(F.col("lang").alias("pred_b"))
    )
    flags = pred.crossJoin(F.broadcast(major)).select(
        F.when(F.col("pred_a") == F.col("lang"), 1).otherwise(0).alias("a_ok"),
        F.when(F.col("pred_b") == F.col("lang"), 1).otherwise(0).alias("b_ok"),
    )
    agg = flags.agg(
        bigint(F.count(F.lit(1))).alias("n"),
        bigint(
            F.sum(F.when((F.col("a_ok") == 1) & (F.col("b_ok") == 0), 1).otherwise(0))
        ).alias("b"),
        bigint(
            F.sum(F.when((F.col("a_ok") == 0) & (F.col("b_ok") == 1), 1).otherwise(0))
        ).alias("c"),
    )
    return agg.select(
        "n",
        "b",
        "c",
        F.expr(
            f"CASE WHEN b + c = 0 THEN 0"
            f" ELSE (b - c) * (b - c) * {BP} DIV (b + c) END"
        )
        .cast("long")
        .alias("chi2_bp"),
        F.expr(
            f"CASE WHEN b + c = 0 THEN 0"
            f" ELSE (ABS(b - c) - 1) * (ABS(b - c) - 1) * {BP} DIV (b + c) END"
        )
        .cast("long")
        .alias("chi2_cc_bp"),
    )


BURST_TOP = 15


@register(
    "text_burstiness",
    doc="Word burstiness (Church & Gale 1995): the variance-to-mean "
    "ratio of each word's per-document count over ALL documents "
    "(absent = 0, handled without materializing zeros: with D docs, "
    "sum x = S and sum x^2 = Q over PRESENT docs already equal the "
    "zero-filled sums, so VMR = (D*Q - S^2)/(D*S) is one exact "
    f"rational in floor bp). VMR ~ 1 means Poisson scatter; the top "
    f"{BURST_TOP} words by VMR are topical/bursty — content words "
    "cluster in few docs, function words spread evenly. Two "
    "map-side-combinable groupBys ((doc, word) then word); the spine "
    "is vocabulary-sized at any corpus size.",
    oracle=f"""
WITH dd AS (SELECT CAST(COUNT(*) AS BIGINT) AS d FROM documents),
pc AS (
    SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS x
    FROM (SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS w FROM documents)
    GROUP BY doc_id, w
),
ws AS (
    SELECT w,
           CAST(SUM(x) AS BIGINT) AS s,
           CAST(SUM(x * x) AS BIGINT) AS q,
           CAST(COUNT(*) AS BIGINT) AS n_docs_present
    FROM pc GROUP BY w
)
SELECT w,
       s AS total_count,
       n_docs_present,
       CAST((dd.d * q - s * s) * {BP} // (dd.d * s) AS BIGINT) AS vmr_bp
FROM ws CROSS JOIN dd
ORDER BY vmr_bp DESC, w
LIMIT {BURST_TOP}
""",
)
def text_burstiness(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    dd = d.agg(bigint(F.count(F.lit(1))).alias("d"))
    pc = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
        .groupBy("doc_id", "w")
        .agg(bigint(F.count(F.lit(1))).alias("x"))
    )
    ws = pc.groupBy("w").agg(
        bigint(F.sum("x")).alias("s"),
        bigint(F.sum(F.col("x") * F.col("x"))).alias("q"),
        bigint(F.count(F.lit(1))).alias("n_docs_present"),
    )
    return (
        ws.crossJoin(F.broadcast(dd))
        .select(
            "w",
            F.col("s").alias("total_count"),
            "n_docs_present",
            F.expr(f"(d * q - s * s) * {BP} DIV (d * s)").cast("long").alias("vmr_bp"),
        )
        .orderBy(F.col("vmr_bp").desc(), "w")
        .limit(BURST_TOP)
    )


@register(
    "stats_cochran_q",
    doc="Cochran's Q — the k-classifier extension of stats_mcnemar on "
    "the same eval set: three lang-ID rules (A = marker argmax, B = "
    "corpus-majority prior, C = 'en' iff any English marker else "
    "unknown) scored right/wrong per document; Q = (k-1) * "
    "(k*sum(Cj^2) - T^2) / (k*T - sum(Ri^2)) with Cj the per-classifier "
    "correct totals, Ri the per-doc correct counts and T their grand "
    "total — one exact floor-bp rational (rows where all three agree "
    "drop out of Q exactly as the theory says; no float anywhere). "
    "One map-only scoring pass, one scalar aggregate.",
    oracle=f"""
WITH hits AS (
    SELECT doc_id, lang,
           {_sql_hits('en')} AS h_en,
           {_sql_hits('de')} AS h_de,
           {_sql_hits('fr')} AS h_fr,
           {_sql_hits('es')} AS h_es
    FROM documents
),
major AS (
    SELECT lang AS mj FROM documents GROUP BY lang
    ORDER BY COUNT(*) DESC, lang LIMIT 1
),
score AS (
    SELECT
      CASE WHEN (CASE
             WHEN h_en = 0 AND h_de = 0 AND h_fr = 0 AND h_es = 0 THEN 'unknown'
             WHEN h_en >= h_de AND h_en >= h_fr AND h_en >= h_es THEN 'en'
             WHEN h_de >= h_fr AND h_de >= h_es THEN 'de'
             WHEN h_fr >= h_es THEN 'fr'
             ELSE 'es' END) = lang THEN 1 ELSE 0 END AS a,
      CASE WHEN m.mj = lang THEN 1 ELSE 0 END AS b,
      CASE WHEN (CASE WHEN h_en > 0 THEN 'en' ELSE 'unknown' END) = lang
           THEN 1 ELSE 0 END AS c
    FROM hits CROSS JOIN major m
),
agg AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(a) AS BIGINT) AS ca,
           CAST(SUM(b) AS BIGINT) AS cb,
           CAST(SUM(c) AS BIGINT) AS cc,
           CAST(SUM((a + b + c) * (a + b + c)) AS BIGINT) AS sum_r2
    FROM score
)
SELECT n, ca AS correct_a, cb AS correct_b, cc AS correct_c,
       CAST(CASE WHEN 3 * (ca + cb + cc) - sum_r2 = 0 THEN 0
            ELSE 2 * (3 * (ca*ca + cb*cb + cc*cc)
                      - (ca + cb + cc) * (ca + cb + cc)) * {BP}
                 // (3 * (ca + cb + cc) - sum_r2) END AS BIGINT) AS q_bp
FROM agg
""",
)
def stats_cochran_q(spark, sf_dir):
    from cascade_spark.operators.text import LANG_MARKERS

    d = t(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")

    def hits(lang):
        arr = F.array([F.lit(w) for w in LANG_MARKERS[lang]])
        return F.size(F.filter(words, lambda w: F.array_contains(arr, w)))

    h = d.select(
        "lang",
        hits("en").alias("h_en"),
        hits("de").alias("h_de"),
        hits("fr").alias("h_fr"),
        hits("es").alias("h_es"),
    )
    major = (
        d.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), "lang")
        .limit(1)
        .select(F.col("lang").alias("mj"))
    )
    score = h.crossJoin(F.broadcast(major)).select(
        F.when(
            F.expr(
                "CASE"
                " WHEN h_en = 0 AND h_de = 0 AND h_fr = 0 AND h_es = 0 THEN 'unknown'"
                " WHEN h_en >= h_de AND h_en >= h_fr AND h_en >= h_es THEN 'en'"
                " WHEN h_de >= h_fr AND h_de >= h_es THEN 'de'"
                " WHEN h_fr >= h_es THEN 'fr'"
                " ELSE 'es' END"
            )
            == F.col("lang"),
            1,
        )
        .otherwise(0)
        .alias("a"),
        F.when(F.col("mj") == F.col("lang"), 1).otherwise(0).alias("b"),
        F.when(
            F.expr("CASE WHEN h_en > 0 THEN 'en' ELSE 'unknown' END") == F.col("lang"),
            1,
        )
        .otherwise(0)
        .alias("c"),
    )
    agg = score.agg(
        bigint(F.count(F.lit(1))).alias("n"),
        bigint(F.sum("a")).alias("ca"),
        bigint(F.sum("b")).alias("cb"),
        bigint(F.sum("c")).alias("cc"),
        bigint(
            F.sum(
                (F.col("a") + F.col("b") + F.col("c"))
                * (F.col("a") + F.col("b") + F.col("c"))
            )
        ).alias("sum_r2"),
    )
    return agg.select(
        "n",
        F.col("ca").alias("correct_a"),
        F.col("cb").alias("correct_b"),
        F.col("cc").alias("correct_c"),
        F.expr(
            f"CASE WHEN 3 * (ca + cb + cc) - sum_r2 = 0 THEN 0"
            f" ELSE 2 * (3 * (ca*ca + cb*cb + cc*cc)"
            f" - (ca + cb + cc) * (ca + cb + cc)) * {BP}"
            f" DIV (3 * (ca + cb + cc) - sum_r2) END"
        )
        .cast("long")
        .alias("q_bp"),
    )
