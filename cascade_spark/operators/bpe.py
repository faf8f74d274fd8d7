"""BPE vocabulary learning — the tokenizer-training pass of an LLM data
pipeline, expressed as an iterative distributed algorithm.

Byte-pair-encoding training is repeated (count adjacent token pairs →
pick the most frequent → merge it everywhere) over the corpus word
table. Each iteration is one explode+aggregate over the distinct-word
table (weighted by word frequency, the standard BPE speedup: |vocab|
rows, not |corpus| tokens) and only the 1-row argmax ever reaches the
driver — the merge rule is then applied as a codegen'd string REPLACE,
never a Python loop.

Determinism contract: token sequences are rendered as ``<t1><t2>...``
(the corpus is lower-alnum, so the wrapper characters cannot collide),
pair counting counts every adjacent index pair, and the merge applies
greedy left-to-right non-overlapping — REPLACE semantics, identical in
Spark and DuckDB, so the K-merge result is hash-checkable against an
unrolled-CTE oracle. Argmax tiebreak: (count DESC, left, right).

Scale (100 TB): the distinct-word frame is Zipf-small relative to the
corpus (and is persisted across iterations); pair counting is map-side
combinable; the driver sees K rows total. This is how industrial BPE
trainers (e.g. the Hugging Face tokenizers merge loop) distribute.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from cascade_spark import store
from cascade_spark.plans.registry import register
from cascade_spark.operators._util import t, widen

BPE_MERGES = 3


def _sql_words() -> str:
    return """
    SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM (SELECT UNNEST(STRING_SPLIT(text, ' ')) AS w FROM documents)
    WHERE w <> '' GROUP BY w
"""


def _sql_wrap(col: str) -> str:
    return f"'<' || ARRAY_TO_STRING(STR_SPLIT({col}, ''), '><') || '>'"


def _sql_pairs(tok_tbl: str) -> str:
    """Pair counts + argmax over a (s, cnt) token-string table."""
    return f"""
    SELECT tk[i] AS a, tk[i + 1] AS b, SUM(cnt) AS c
    FROM (SELECT STR_SPLIT(SUBSTR(s, 2, LEN(s) - 2), '><') AS tk, cnt
          FROM {tok_tbl}),
         LATERAL (SELECT UNNEST(GENERATE_SERIES(1, LEN(tk) - 1)) AS i)
    GROUP BY a, b
    ORDER BY c DESC, a, b LIMIT 1
"""


def _bpe_oracle() -> str:
    ctes = [f"words AS ({_sql_words()})", f"w0 AS (SELECT {_sql_wrap('w')} AS s, cnt FROM words)"]
    for k in range(1, BPE_MERGES + 1):
        ctes.append(f"m{k} AS ({_sql_pairs(f'w{k - 1}')})")
        ctes.append(
            f"w{k} AS (SELECT REPLACE(s, '<' || m.a || '><' || m.b || '>', "
            f"'<' || m.a || m.b || '>') AS s, cnt FROM w{k - 1}, m{k} m)"
        )
    steps = " UNION ALL ".join(
        f"SELECT {k} AS step, a AS left_tok, b AS right_tok, a || b AS merged, "
        f"CAST(c AS BIGINT) AS pair_count FROM m{k}"
        for k in range(1, BPE_MERGES + 1)
    )
    return (
        "WITH " + ",\n".join(ctes) + f"\nSELECT CAST(step AS BIGINT) AS step, "
        f"left_tok, right_tok, merged, pair_count FROM ({steps}) ORDER BY step"
    )


@register(
    "text_bpe_train",
    "text",
    doc=f"BPE tokenizer training: {BPE_MERGES} merge iterations over the "
    "frequency-weighted distinct-word table. Each round = one map-side-"
    "combinable pair count + a 1-row argmax collect + a codegen'd "
    "REPLACE merge; the word frame persists across rounds. Output: the "
    "learned merge rules with their selection-time counts, hash-checked "
    "against the unrolled-CTE DuckDB oracle (greedy left-to-right merge "
    "semantics are identical REPLACE semantics in both engines).",
    oracle=_bpe_oracle(),
)
def text_bpe_train(spark, sf_dir):
    from pyspark import StorageLevel

    d = t(spark, sf_dir, "documents")
    words = (
        widen(d)
        .select(F.explode(F.split("text", " ")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    # render each word as a wrapped token string once; iterate on it
    cur = words.select(
        F.concat(
            F.lit("<"), F.concat_ws("><", F.split("w", "")), F.lit(">")
        ).alias("s"),
        "cnt",
    ).persist(StorageLevel.MEMORY_AND_DISK)

    rules = []
    for step in range(1, BPE_MERGES + 1):
        toks = cur.select(
            F.split(F.expr("substring(s, 2, length(s) - 2)"), "><").alias("tk"), "cnt"
        )
        pairs = (
            toks.select(
                F.posexplode(F.expr("slice(tk, 1, size(tk) - 1)")).alias("i", "a"),
                F.expr("tk").alias("tk"),
                "cnt",
            )
            .select("a", F.expr("tk[i + 1]").alias("b"), "cnt")
            .groupBy("a", "b")
            .agg(F.sum("cnt").alias("c"))
        )
        # the ONLY driver materialization per round: the 1-row argmax
        top = pairs.orderBy(F.col("c").desc(), "a", "b").limit(1).collect()
        if not top:  # empty corpus / no adjacent pairs left
            break
        best = top[0]
        rules.append((step, best["a"], best["b"], best["a"] + best["b"], int(best["c"])))
        nxt = cur.select(
            F.replace(
                F.col("s"),
                F.lit(f"<{best['a']}><{best['b']}>"),
                F.lit(f"<{best['a'] + best['b']}>"),
            ).alias("s"),
            "cnt",
        ).persist(StorageLevel.MEMORY_AND_DISK)
        nxt.count()  # materialize before dropping the parent
        cur.unpersist()
        cur = nxt
    cur.unpersist()
    return spark.createDataFrame(
        rules, "step long, left_tok string, right_tok string, merged string, pair_count long"
    ).orderBy("step")


def _sql_encode_oracle() -> str:
    ctes = [f"words AS ({_sql_words()})", f"w0 AS (SELECT {_sql_wrap('w')} AS s, cnt FROM words)"]
    for k in range(1, BPE_MERGES + 1):
        ctes.append(f"m{k} AS ({_sql_pairs(f'w{k - 1}')})")
        ctes.append(
            f"w{k} AS (SELECT REPLACE(s, '<' || m.a || '><' || m.b || '>', "
            f"'<' || m.a || m.b || '>') AS s, cnt FROM w{k - 1}, m{k} m)"
        )
    return (
        "WITH " + ",\n".join(ctes) + f"""
, agg0 AS (
    SELECT CAST(SUM(cnt * (LEN(s) - LEN(REPLACE(s, '<', '')))) AS BIGINT)
               AS tokens_before,
           CAST(SUM(cnt) AS BIGINT) AS n_words
    FROM w0
),
aggk AS (
    SELECT CAST(SUM(cnt * (LEN(s) - LEN(REPLACE(s, '<', '')))) AS BIGINT)
               AS tokens_after
    FROM w{BPE_MERGES}
)
SELECT n_words, tokens_before, tokens_after,
       (10000 * tokens_after) // tokens_before AS compression_bp
FROM agg0, aggk
""")


def _words_frame(spark, sf_dir):
    """Frequency-weighted distinct-word table (w, cnt)."""
    d = t(spark, sf_dir, "documents")
    return (
        widen(d)
        .select(F.explode(F.split("text", " ")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


def _merged_words(spark, sf_dir):
    """(w, s, cnt) after the BPE_MERGES greedy merges — the learned
    word -> tokenization map. Shared persisted frame (keyed per
    app/sf_dir like the dedup indices): text_bpe_encode and
    pipeline_tokenizer_fertility both read it, so the 3-iteration merge
    loop runs once per session, not once per consumer."""
    from pyspark import StorageLevel

    def build():
        cur = _words_frame(spark, sf_dir).select(
            "w",
            F.concat(F.lit("<"), F.concat_ws("><", F.split("w", "")), F.lit(">")).alias("s"),
            "cnt",
        ).persist(StorageLevel.MEMORY_AND_DISK)
        for _ in range(BPE_MERGES):
            toks = cur.select(
                F.split(F.expr("substring(s, 2, length(s) - 2)"), "><").alias("tk"), "cnt"
            )
            pairs = (
                toks.select(
                    F.posexplode(F.expr("slice(tk, 1, size(tk) - 1)")).alias("i", "a"),
                    F.expr("tk").alias("tk"),
                    "cnt",
                )
                .select("a", F.expr("tk[i + 1]").alias("b"), "cnt")
                .groupBy("a", "b")
                .agg(F.sum("cnt").alias("c"))
            )
            top = pairs.orderBy(F.col("c").desc(), "a", "b").limit(1).collect()
            if not top:
                break
            best = top[0]
            nxt = cur.select(
                "w",
                F.replace(
                    F.col("s"),
                    F.lit(f"<{best['a']}><{best['b']}>"),
                    F.lit(f"<{best['a'] + best['b']}>"),
                ).alias("s"),
                "cnt",
            ).persist(StorageLevel.MEMORY_AND_DISK)
            nxt.count()
            cur.unpersist()
            cur = nxt
        return cur

    return store.frame("bpe.merged_words", spark, sf_dir, build)


def _ntok(col="s"):
    """Token count of a rendered token string = its wrapper-char count."""
    return F.length(col) - F.length(F.replace(F.col(col), F.lit("<"), F.lit("")))


@register(
    "text_bpe_encode",
    "text",
    doc="BPE ENCODE — the apply half of the tokenizer pipeline: the "
    f"{BPE_MERGES} merges learned by text_bpe_train are applied to the "
    "frequency-weighted word table and the corpus token count is "
    "measured before/after (compression in floor bp). Token counting "
    "is the wrapper-char count of the rendered token string, so the "
    "whole path — train, apply, measure — is exact arithmetic in both "
    "engines. Encoding cost at scale = K REPLACE projections over the "
    "distinct-word frame + one weighted aggregate; documents join the "
    "word->tokenization map by word key, never re-merging per doc.",
    oracle=_sql_encode_oracle(),
)
def text_bpe_encode(spark, sf_dir):
    from cascade_spark.operators._util import _intdiv, bigint

    words = _words_frame(spark, sf_dir)
    before = words.select(
        F.concat(F.lit("<"), F.concat_ws("><", F.split("w", "")), F.lit(">")).alias("s"),
        "cnt",
    )
    cur = _merged_words(spark, sf_dir)
    b = before.agg(
        bigint(F.sum(F.col("cnt") * _ntok())).alias("tokens_before"),
        bigint(F.sum("cnt")).alias("n_words"),
    )
    a = cur.agg(bigint(F.sum(F.col("cnt") * _ntok())).alias("tokens_after"))
    out = b.crossJoin(a).select(
        "n_words",
        "tokens_before",
        "tokens_after",
        _intdiv(F.lit(10000) * F.col("tokens_after"), F.col("tokens_before")).alias(
            "compression_bp"
        ),
    )
    res = out.collect()[0]
    return spark.createDataFrame(
        [tuple(res)],
        "n_words long, tokens_before long, tokens_after long, compression_bp long",
    )


def _sql_merged_ctes() -> str:
    """CTE chain carrying the word through the merges: w, s, cnt."""
    ctes = [
        f"words AS ({_sql_words()})",
        f"w0 AS (SELECT w, {_sql_wrap('w')} AS s, cnt FROM words)",
    ]
    for k in range(1, BPE_MERGES + 1):
        ctes.append(f"m{k} AS ({_sql_pairs(f'w{k - 1}')})")
        ctes.append(
            f"w{k} AS (SELECT w, REPLACE(s, '<' || m.a || '><' || m.b || '>', "
            f"'<' || m.a || m.b || '>') AS s, cnt FROM w{k - 1}, m{k} m)"
        )
    return ",\n".join(ctes)


def _fertility_oracle() -> str:
    return f"""
WITH {_sql_merged_ctes()},
lw AS (
    SELECT lang, w, CAST(COUNT(*) AS BIGINT) AS cnt_lw
    FROM (SELECT lang, UNNEST(STRING_SPLIT(text, ' ')) AS w FROM documents)
    WHERE w <> '' GROUP BY lang, w
),
m AS (SELECT w, LEN(s) - LEN(REPLACE(s, '<', '')) AS ntok FROM w{BPE_MERGES})
SELECT lang,
       CAST(SUM(cnt_lw) AS BIGINT) AS n_words,
       CAST(SUM(cnt_lw * ntok) AS BIGINT) AS n_tokens,
       CAST((10000 * SUM(cnt_lw * ntok)) // SUM(cnt_lw) AS BIGINT) AS fertility_bp
FROM lw JOIN m ON m.w = lw.w
GROUP BY lang
ORDER BY lang
"""


@register(
    "pipeline_tokenizer_fertility",
    "pipeline",
    doc="Tokenizer fertility by language — BPE tokens per whitespace "
    f"word after the {BPE_MERGES} learned merges, the metric that "
    "tells you which languages a tokenizer punishes (high fertility = "
    "more tokens per word = less effective context). The learned "
    "word->tokenization map is the SHARED merged-word frame (one merge "
    "loop per session, amortized with text_bpe_encode); per-(lang, "
    "word) counts join it on the word key and aggregate to exact "
    "integer token/word totals, fertility in floor basis points. At "
    "100 TB the map is vocab-sized — the join broadcasts or buckets on "
    "the word key; the corpus is read once for the (lang, word) "
    "counts.",
    oracle=_fertility_oracle(),
)
def pipeline_tokenizer_fertility(spark, sf_dir):
    from cascade_spark.operators._util import _intdiv, bigint

    d = t(spark, sf_dir, "documents")
    lw = (
        widen(d)
        .select("lang", F.explode(F.split("text", " ")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("lang", "w")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt_lw"))
    )
    merged = _merged_words(spark, sf_dir).select("w", _ntok().alias("ntok"))
    per_lang = (
        lw.join(merged, "w")
        .groupBy("lang")
        .agg(
            bigint(F.sum("cnt_lw")).alias("n_words"),
            bigint(F.sum(F.col("cnt_lw") * F.col("ntok"))).alias("n_tokens"),
        )
    )
    return per_lang.select(
        "lang",
        "n_words",
        "n_tokens",
        _intdiv(F.lit(10000) * F.col("n_tokens"), F.col("n_words")).alias(
            "fertility_bp"
        ),
    ).orderBy("lang")
