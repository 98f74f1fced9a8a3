"""The shared corpus reader and tokenizers, and the basic text operators.

Every corpus query reads ``documents`` through ``docs()`` and tokenizes
through one Spark/DuckDB pair per decision: ``tokens_col()`` /
``TOKENS_DUCK`` (lowercase ``[a-z]+`` runs), ``words_col()`` /
``WORDS_DUCK`` (whitespace-separated words) and ``norm_ws_col()`` /
``NORM_WS_DUCK`` (each whitespace run collapsed to one space). Oracles
interpolate the DuckDB half, so the two engines cannot drift apart.

Operators here: token counting, quality scoring, language scoring,
document fingerprinting.

All hot-path logic is JVM-side (built-in functions + higher-order array
functions) — no Python UDFs — so it whole-stage-codegens and scales
linearly over document shards. Each query has a DuckDB oracle computing the
identical deterministic result.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from roapi_spark.plans.registry import register
from roapi_spark.util import WS_CLASS, pround


STOPWORDS_EN = ["the", "a", "and", "of", "to", "in", "is", "it"]
# shared token pipeline: lowercase, split on non-letters, drop empties
TOKENS_DUCK = "list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> length(x) > 0)"


def docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus table every text, dedup and selection query reads."""
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))


def tokens_col() -> Column:
    """Non-empty lowercase word tokens, computed JVM-side (the Spark twin
    of ``TOKENS_DUCK``)."""
    return F.filter(
        F.split(F.lower(F.col("text")), "[^a-z]+"), lambda x: F.length(x) > 0
    )


# whitespace word tokens (documents are lowercase word-soup; keep raw case
# handling anyway so the op is corpus-agnostic)
WORDS_DUCK = "list_filter(string_split_regex(text, '[ \\t\\n\\x0B\\f\\r]+'), x -> length(x) > 0)"


def words_col() -> Column:
    """Non-empty whitespace-separated words (the Spark twin of
    ``WORDS_DUCK``)."""
    return F.filter(F.split(F.col("text"), WS_CLASS + "+"), lambda x: F.length(x) > 0)


# each whitespace run collapsed to one space
NORM_WS_DUCK = f"regexp_replace(text, '{WS_CLASS}+', ' ', 'g')"


def norm_ws_col() -> Column:
    """``text`` with each whitespace run collapsed to one space (the
    Spark twin of ``NORM_WS_DUCK``)."""
    return F.regexp_replace(F.col("text"), WS_CLASS + "+", " ")


def stopword_hits(toks: Column, words: list[str]) -> Column:
    arr = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(toks, lambda x: F.array_contains(arr, x)))


@register(
    "text_stats",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, n_chars, text, {TOKENS_DUCK} AS w FROM documents
    )
    SELECT doc_id,
           CAST(LENGTH(text) AS BIGINT)                      AS len_chars,
           CAST(LEN(w) AS BIGINT)                            AS n_tokens,
           CASE WHEN LENGTH(text) = 0 THEN 0.0
                ELSE FLOOR(CAST(LENGTH(REGEXP_REPLACE(text, '[^.!?,;:]', '', 'g')) AS DOUBLE)
                      / LENGTH(text) * 10000 + 0.5) / 10000.0 END AS punct_ratio,
           FLOOR(CAST(LEN(LIST_FILTER(w, x -> LIST_CONTAINS({STOPWORDS_EN!r}, x))) AS DOUBLE)
                 / GREATEST(LEN(w), 1) * 10000 + 0.5) / 10000.0 AS stopword_ratio,
           CAST(LEN(LIST_DISTINCT(w)) AS BIGINT)             AS n_distinct_tokens
    FROM toks
    """.replace("'the'", "'the'"),
    doc="Per-document token count, punctuation ratio, stopword ratio, "
    "distinct-token count. Pure map-side — no shuffle at any scale.",
    tags=("text",),
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = docs(spark, sf_dir)
    toks = tokens_col()
    return d.select(
        "doc_id",
        F.length("text").cast("bigint").alias("len_chars"),
        F.size(toks).cast("bigint").alias("n_tokens"),
        F.when(F.length("text") == 0, F.lit(0.0))
        .otherwise(
            pround(
                F.length(F.regexp_replace("text", r"[^.!?,;:]", "")).cast("double")
                / F.length("text")
            )
        )
        .alias("punct_ratio"),
        pround(
            stopword_hits(toks, STOPWORDS_EN).cast("double")
            / F.greatest(F.size(toks), F.lit(1))
        ).alias("stopword_ratio"),
        F.size(F.array_distinct(toks)).cast("bigint").alias("n_distinct_tokens"),
    )


@register(
    "text_quality",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, text, {TOKENS_DUCK} AS w FROM documents
    ), feats AS (
      SELECT doc_id,
             LEN(w) AS n_tokens,
             CAST(LEN(LIST_DISTINCT(w)) AS DOUBLE) / GREATEST(LEN(w), 1) AS uniq_ratio,
             CASE WHEN LENGTH(text) = 0 THEN 0.0
                  ELSE CAST(LENGTH(REGEXP_REPLACE(text, '[a-zA-Z ]', '', 'g')) AS DOUBLE)
                       / LENGTH(text) END AS nonalpha_ratio
      FROM toks
    )
    SELECT doc_id,
           FLOOR((0.5 * LEAST(n_tokens / 100.0, 1.0)
                 + 0.3 * uniq_ratio
                 + 0.2 * (1.0 - LEAST(nonalpha_ratio * 5, 1.0))) * 10000 + 0.5) / 10000.0
             AS quality_score,
           CASE WHEN n_tokens >= 50 AND uniq_ratio >= 0.3 THEN 'keep'
                WHEN n_tokens >= 10 THEN 'review'
                ELSE 'drop' END AS quality_bucket
    FROM feats
    """,
    doc="Deterministic quality score (length/diversity/alpha-ratio blend) "
    "+ keep/review/drop bucketing — the standard pre-training filter shape.",
    tags=("text",),
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = docs(spark, sf_dir)
    toks = tokens_col()
    n_tokens = F.size(toks)
    uniq_ratio = F.size(F.array_distinct(toks)).cast("double") / F.greatest(
        n_tokens, F.lit(1)
    )
    nonalpha_ratio = F.when(F.length("text") == 0, F.lit(0.0)).otherwise(
        F.length(F.regexp_replace("text", r"[a-zA-Z ]", "")).cast("double")
        / F.length("text")
    )
    score = pround(
        0.5 * F.least(n_tokens / F.lit(100.0), F.lit(1.0))
        + 0.3 * uniq_ratio
        + 0.2 * (1.0 - F.least(nonalpha_ratio * 5, F.lit(1.0)))
    )
    bucket = (
        F.when((n_tokens >= 50) & (uniq_ratio >= 0.3), "keep")
        .when(n_tokens >= 10, "review")
        .otherwise("drop")
    )
    return d.select(
        "doc_id", score.alias("quality_score"), bucket.alias("quality_bucket")
    )


@register(
    "text_langid",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang, {TOKENS_DUCK} AS w FROM documents
    ), scores AS (
      SELECT doc_id, lang,
        CAST(LEN(LIST_FILTER(w, x -> LIST_CONTAINS(['the','a','and','of','is'], x))) AS DOUBLE)
          / GREATEST(LEN(w), 1) AS score_en,
        CAST(LEN(LIST_FILTER(w, x -> LIST_CONTAINS(['der','die','das','und','ist'], x))) AS DOUBLE)
          / GREATEST(LEN(w), 1) AS score_de,
        CAST(LEN(LIST_FILTER(w, x -> LIST_CONTAINS(['el','la','de','que','es'], x))) AS DOUBLE)
          / GREATEST(LEN(w), 1) AS score_es
      FROM toks
    )
    SELECT doc_id, lang,
           FLOOR(score_en * 10000 + 0.5) / 10000.0 AS score_en,
           FLOOR(score_de * 10000 + 0.5) / 10000.0 AS score_de,
           FLOOR(score_es * 10000 + 0.5) / 10000.0 AS score_es,
           CASE WHEN score_en >= score_de AND score_en >= score_es THEN 'en'
                WHEN score_de >= score_es THEN 'de'
                ELSE 'es' END AS predicted_lang
    FROM scores
    """,
    doc="Stopword-frequency language scoring with deterministic argmax "
    "(n-gram-heuristic language ID; map-side only).",
    tags=("text",),
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = docs(spark, sf_dir)
    toks = tokens_col()
    n = F.greatest(F.size(toks), F.lit(1))
    s_en = stopword_hits(toks, ["the", "a", "and", "of", "is"]).cast("double") / n
    s_de = stopword_hits(toks, ["der", "die", "das", "und", "ist"]).cast("double") / n
    s_es = stopword_hits(toks, ["el", "la", "de", "que", "es"]).cast("double") / n
    pred = (
        F.when((s_en >= s_de) & (s_en >= s_es), "en")
        .when(s_de >= s_es, "de")
        .otherwise("es")
    )
    return d.select(
        "doc_id",
        "lang",
        pround(s_en).alias("score_en"),
        pround(s_de).alias("score_de"),
        pround(s_es).alias("score_es"),
        pred.alias("predicted_lang"),
    )


@register(
    "text_fingerprint",
    oracle=f"""
    SELECT doc_id,
           MD5(LOWER({NORM_WS_DUCK})) AS fp_full,
           MD5(SUBSTR(LOWER({NORM_WS_DUCK}), 1, 64)) AS fp_prefix64
    FROM documents
    """,
    doc="Document fingerprinting: md5 over whitespace-normalized text "
    "(full + 64-char prefix), the join key for exact/near dedup.",
    tags=("text", "dedup"),
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = docs(spark, sf_dir)
    norm = F.lower(norm_ws_col())
    return d.select(
        "doc_id",
        F.md5(norm).alias("fp_full"),
        F.md5(F.substring(norm, 1, 64)).alias("fp_prefix64"),
    )


@register(
    "text_rolling_fingerprint",
    oracle=f"""
    WITH norm AS (
      SELECT doc_id, LOWER({NORM_WS_DUCK}) AS s FROM documents
    ),
    grams AS (  -- polynomial rolling hash of every 8-char gram, base 131 mod 2^31-1
      SELECT doc_id,
             LIST_TRANSFORM(
               GENERATE_SERIES(1, GREATEST(LENGTH(s) - 7, 0)),
               i -> LIST_REDUCE(
                      LIST_TRANSFORM(GENERATE_SERIES(0, 7),
                                     j -> CAST(ASCII(SUBSTR(s, i + j, 1)) AS BIGINT)),
                      (acc, c) -> (acc * 131 + c) % 2147483647)
             ) AS hs
      FROM norm
    ),
    sel AS (  -- 0-mod-p winnowing: keep grams whose hash % 16 == 0
      SELECT doc_id, hs, LIST_FILTER(hs, h -> h % 16 = 0) AS fp FROM grams
    )
    SELECT doc_id,
           CAST(LEN(hs) AS BIGINT) AS n_grams,
           CAST(LEN(fp) AS BIGINT) AS n_fingerprints,
           CAST(COALESCE(LIST_MIN(fp), -1) AS BIGINT) AS min_fp,
           CAST(COALESCE(LIST_MAX(fp), -1) AS BIGINT) AS max_fp
    FROM sel
    """,
    doc="Rolling-hash fingerprinting (Karp-Rabin over 8-char grams, 0-mod-p "
    "winnowing): the classic plagiarism/near-dup fingerprint set. All "
    "map-side higher-order expressions; fingerprints are the join key for "
    "partial-overlap detection at scale.",
    tags=("text", "dedup"),
)
def text_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = docs(spark, sf_dir)
    norm = d.select("doc_id", F.lower(norm_ws_col()).alias("s"))
    # Hoist the char extraction: ONE pass per character into an integer
    # array. Round 7 used ascii(substr(s, i, 1)) per position — but
    # UTF8String.substring seeks from the string start, so building the
    # array was O(L^2) in chars; split(s, '') materializes the per-char
    # array in one O(L) pass and ascii() of a 1-char string is the same
    # codepoint (verified incl. non-ASCII). Round 14, second fix: the
    # per-gram hash folded an 8-int slice() — an 8-element array copy
    # plus 8 interpreted lambda steps per position. The fold
    # ((acc*131 + c) mod p) equals (sum c_j * 131^(7-j)) mod p, so each
    # gram is now 8 O(1) element_at reads combined with precomputed
    # (131^k mod p) factors — no per-gram allocation. Each term
    # (c * pow_k mod p) < p and codepoints are < 2^21, so the widest
    # intermediate is c * pow_k < 2^21 * 2^31 — no int64 overflow for
    # ANY code point. Measured 3.2 s -> (see OPTIMIZATION_r14.md) at
    # sf0.1, identical output.
    cs = F.transform(
        F.split(F.col("s"), ""),
        lambda c: F.ascii(c).cast("bigint"),
    )
    _P = 2147483647
    _POW = [pow(131, 7 - j, _P) for j in range(8)]

    def gram_hash(i):
        terms = [
            (F.element_at(F.col("cs"), i + j) * F.lit(_POW[j])) % _P
            for j in range(8)
        ]
        acc = terms[0]
        for t in terms[1:]:
            acc = acc + t
        return acc % _P
    # Guard the gram positions: Spark's sequence(1, 0) yields the DESCENDING
    # array [1, 0] (implicit -1 step), i.e. 2 bogus grams for any doc whose
    # normalized text is shorter than 8 chars, while DuckDB's
    # GENERATE_SERIES(1, 0) is empty.  Emit an explicitly empty gram array
    # for short docs so both engines agree.
    hs = F.when(
        F.col("sl") >= 8,
        F.transform(F.sequence(F.lit(1), F.col("sl") - 7), gram_hash),
    ).otherwise(F.array().cast("array<bigint>"))
    fp = F.filter(F.col("hs"), lambda h: h % 16 == 0)
    grams = (
        norm.select("doc_id", F.length("s").alias("sl"), cs.alias("cs"))
        .select("doc_id", hs.alias("hs"))
        .select("doc_id", "hs", fp.alias("fp"))
    )
    return grams.select(
        "doc_id",
        F.size("hs").cast("bigint").alias("n_grams"),
        F.size("fp").cast("bigint").alias("n_fingerprints"),
        F.coalesce(F.array_min("fp"), F.lit(-1)).cast("bigint").alias("min_fp"),
        F.coalesce(F.array_max("fp"), F.lit(-1)).cast("bigint").alias("max_fp"),
    )
