"""Subword tokenizers and the token-count audits built on them.

* BPE (Sennrich, Haddow & Birch 2016): ``text_bpe_train`` learns the
  first ``BPE_MERGES`` merges from the word-frequency table,
  ``text_bpe_fertility`` / ``text_bpe_encode`` apply them, and the
  ``*_served`` twins read the persisted merge layout.
* Unigram LM (Kudo 2018, SentencePiece's default) in its hard-EM
  variant: ``text_unigram_train`` / ``_vocab`` / ``_fertility`` /
  ``_encode`` / ``_prune``, plus ``text_unigram_em`` for soft EM over
  the forward-backward lattice. ``text_tokenizer_compare`` re-verifies
  both trainers' full replays in one oracle.
* Fertility and packing: ``q_token_fertility`` (word-level pieces per
  token), ``text_seq_pack`` / ``text_seq_pack_bpe`` (greedy sequence
  packing per source) and ``q_packing_efficiency``.

Determinism is the oracle contract: costs and counts are integers,
argmax ties break on (count DESC, string ASC) in both engines, and the
DuckDB oracles replay every training iteration as an unrolled CTE chain.
Training state is Heaps'-law bounded (the word vocabulary), never
corpus-sized, and is memoized per corpus snapshot.
"""

from __future__ import annotations

import math
import os
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from roapi_spark.functions.text import (
    TOKENS_DUCK,
    WORDS_DUCK,
    docs,
    tokens_col,
    words_col,
)
from roapi_spark.plans.registry import register
from roapi_spark.plans.util import maybe_broadcast
from roapi_spark.util import pround, pround_sql


PACK_TOKENS = 2048


@register(
    "text_seq_pack",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, source,
             CAST(LEN({WORDS_DUCK}) AS BIGINT) AS n_tokens
      FROM documents
    ), packed AS (
      SELECT doc_id, source, n_tokens,
             COALESCE(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_before
      FROM toks
    )
    SELECT doc_id, source, n_tokens,
           CAST(FLOOR(cum_before / {PACK_TOKENS}) AS BIGINT) AS pack_id,
           CAST(cum_before % {PACK_TOKENS} AS BIGINT) AS pack_offset
    FROM packed
    """,
    doc=f"Sequence packing: assign each document a (pack_id, offset) slot "
    f"in {PACK_TOKENS}-token training sequences via a running token count "
    "per `source` shard — GPT-style concat-and-chunk packing. The window "
    "partitions by source, so packs build independently per shard (no "
    "global sort) and the op scales linearly with shard count.",
    tags=("text",),
)
def text_seq_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = docs(spark, sf_dir)
    toks = d.select(
        "doc_id", "source", F.size(words_col()).cast("bigint").alias("n_tokens")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    packed = toks.select(
        "doc_id",
        "source",
        "n_tokens",
        F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).alias("cum_before"),
    )
    return packed.select(
        "doc_id",
        "source",
        "n_tokens",
        F.floor(F.col("cum_before") / PACK_TOKENS).cast("bigint").alias("pack_id"),
        (F.col("cum_before") % PACK_TOKENS).cast("bigint").alias("pack_offset"),
    )


# -- tokenizer fertility by language ----------------------------------------


@register(
    "q_token_fertility",
    oracle=f"""
    WITH t AS (
      SELECT lang, LENGTH(text) AS n_bytes, len({TOKENS_DUCK}) AS n_toks
      FROM documents
    )
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
           CASE WHEN SUM(n_toks) > 0
                THEN FLOOR(SUM(n_bytes) / CAST(SUM(n_toks) AS DOUBLE)
                           * 10000 + 0.5) / 10000.0
                ELSE 0.0 END AS bytes_per_token,
           FLOOR(SUM(n_toks) / CAST(COUNT(*) AS DOUBLE) * 10000 + 0.5)
             / 10000.0 AS tokens_per_doc
    FROM t GROUP BY lang
    """,
    doc="Tokenizer-fertility audit: bytes/token and tokens/doc per "
    "language tag — the compression-rate table that decides vocabulary "
    "allocation and flags languages a tokenizer serves badly. Integer "
    "sums with map-side combine; ratios pround-ed once at the end (exact "
    "cross-engine).",
    tags=("text", "audit"),
)
def q_token_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = docs(spark, sf_dir).select(
        "lang",
        F.length("text").alias("n_bytes"),
        F.size(tokens_col()).alias("n_toks"),
    )
    return t.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_toks").cast("bigint").alias("n_tokens"),
        F.when(
            F.sum("n_toks") > 0,
            pround(F.sum("n_bytes") / F.sum("n_toks").cast("double")),
        )
        .otherwise(0.0)
        .alias("bytes_per_token"),
        pround(F.sum("n_toks") / F.count("*").cast("double")).alias(
            "tokens_per_doc"
        ),
    )


# -- packing efficiency audit -----------------------------------------------


def _packing_oracle() -> str:
    p = PACK_TOKENS
    return f"""
    WITH toks AS (
      SELECT doc_id, source,
             CAST(LEN({WORDS_DUCK}) AS BIGINT) AS n_tokens
      FROM documents
    ), packed AS (
      SELECT doc_id, source, n_tokens,
             COALESCE(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_before
      FROM toks
    ), agg AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
             CAST(FLOOR((SUM(n_tokens) + {p} - 1) / {p}) AS BIGINT) AS n_packs,
             CAST(SUM(CASE WHEN (cum_before % {p}) + n_tokens > {p}
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_straddlers
      FROM packed GROUP BY source
    )
    SELECT source, n_docs, n_tokens, n_packs, n_straddlers,
           FLOOR(n_straddlers / CAST(n_docs AS DOUBLE) * 10000 + 0.5)
             / 10000.0 AS straddle_frac,
           CASE WHEN n_packs > 0
                THEN FLOOR((n_tokens - (n_packs - 1) * {p})
                           / CAST({p} AS DOUBLE) * 10000 + 0.5) / 10000.0
                ELSE 0.0 END AS last_pack_fill
    FROM agg
    """


@register(
    "q_packing_efficiency",
    oracle=_packing_oracle(),
    doc="Packing-efficiency audit over text_seq_pack's concat-and-chunk "
    "layout: per source shard — pack count, document-straddle fraction "
    "(docs split across a pack boundary, the cost GPT-style packing "
    "pays vs doc-aware bin packing), and the final pack's fill rate "
    "(every other pack is exactly full by construction). Same per-shard "
    "running-sum window as the pack op; the audit itself is one tiny "
    "per-source aggregate, all integer-exact.",
    tags=("text", "pipeline", "audit"),
)
def q_packing_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = PACK_TOKENS
    toks = docs(spark, sf_dir).select(
        "doc_id", "source", F.size(words_col()).cast("bigint").alias("n_tokens")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    packed = toks.withColumn(
        "cum_before", F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    )
    agg = packed.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        F.floor((F.sum("n_tokens") + p - 1) / p).cast("bigint").alias("n_packs"),
        F.sum(
            F.when((F.col("cum_before") % p) + F.col("n_tokens") > p, 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_straddlers"),
    )
    return agg.select(
        "source",
        "n_docs",
        "n_tokens",
        "n_packs",
        "n_straddlers",
        pround(F.col("n_straddlers") / F.col("n_docs").cast("double")).alias(
            "straddle_frac"
        ),
        F.when(
            F.col("n_packs") > 0,
            pround(
                (F.col("n_tokens") - (F.col("n_packs") - 1) * p)
                / F.lit(float(p))
            ),
        )
        .otherwise(0.0)
        .alias("last_pack_fill"),
    )


BPE_MERGES = 8  # unrolled in the DuckDB oracle; keep the two in lockstep
EOW = "#"  # end-of-word marker symbol (tokens are [a-z] only)

# split a wrapped symbol string back into its symbol list (both engines)
_SYMS_SPARK = "filter(split(s, ','), x -> x != '')"
_SYMS_DUCK = "list_filter(string_split(s, ','), x -> x <> '')"

# adjacent pairs of a symbol list l, as 'left|right' strings
_BPE_PAIRS_SPARK = (
    "transform(slice(l, 1, size(l)-1), (x, i) -> concat(x, '|', element_at(l, i+2)))"
)
_BPE_PAIRS_DUCK = "list_transform(range(1, len(l)), j -> l[j] || '|' || l[j+1])"

# process-local memo: training is iterative (one tiny driver collect per
# merge), so queries sharing a corpus reuse the learned merge sequence
_BPE_MEMO: dict[tuple, tuple[list[tuple], DataFrame]] = {}


def _wrapped_init_col() -> F.Column:
    """word token -> wrapped initial symbol string: chars + EOW marker,
    each symbol wrapped in its own ',' pair ('the' -> ',t,,h,,e,,#,')."""
    chars = F.expr("filter(split(tok, ''), x -> x != '')")
    arr = F.concat(chars, F.array(F.lit(EOW)))
    return F.concat(F.lit(","), F.array_join(arr, ",,"), F.lit(","))


def bpe_train_state(
    spark: SparkSession, sf_dir: str, n_merges: int = BPE_MERGES
) -> tuple[list[tuple], DataFrame]:
    """Learn ``n_merges`` BPE merges; return (merge rows, final vocab DF).

    Merge rows are ``(rank, lft, rgt, merged, pair_count)``; the vocab
    DataFrame carries ``(tok, s, c)`` with ``s`` the post-merge wrapped
    symbol string — the input to piece counting / tokenization.
    """
    path = os.path.join(sf_dir, "documents.parquet")
    key = (
        spark.sparkContext.applicationId,
        os.path.realpath(path),
        os.path.getmtime(path),
        n_merges,
    )
    hit = _BPE_MEMO.get(key)
    if hit is not None:
        return hit

    wc = (
        docs(spark, sf_dir)
        .select(F.explode(tokens_col()).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    vocab = wc.withColumn("s", _wrapped_init_col()).select("tok", "s", "c").cache()

    merges: list[tuple] = []
    cur = vocab
    for r in range(n_merges):
        top = (
            cur.select(F.expr(_SYMS_SPARK).alias("l"), "c")
            .select(F.explode(F.expr(_BPE_PAIRS_SPARK)).alias("pr"), "c")
            .groupBy("pr")
            .agg(F.sum("c").alias("cnt"))
            .orderBy(F.col("cnt").desc(), F.col("pr").asc())
            .limit(1)
            .collect()
        )
        if not top:  # degenerate corpus: nothing left to merge
            break
        pr, cnt = top[0]["pr"], int(top[0]["cnt"])
        lft, rgt = pr.split("|", 1)
        merged = lft + rgt
        merges.append((r + 1, lft, rgt, merged, cnt))
        cur = cur.withColumn(
            "s",
            F.replace(
                F.col("s"), F.lit(f",{lft},,{rgt},"), F.lit(f",{merged},")
            ),
        )

    _BPE_MEMO[key] = (merges, cur)
    return merges, cur


def _oracle_chain(n_merges: int = BPE_MERGES) -> str:
    """The shared unrolled-iteration CTE chain: v1..v{n+1} vocab states
    and m1..m{n} chosen merges, generated to stay in lockstep with the
    Spark loop (same tie-break, same wrapped-replace application)."""
    # AS MATERIALIZED is load-bearing: DuckDB inlines plain CTEs, and
    # each v{i} is referenced twice (p{i} and v{i+1}) — un-materialized,
    # the chain expands to 2^n copies of the corpus scan
    parts = [
        f"""v1 AS MATERIALIZED (
      SELECT tok,
             ',' || array_to_string(list_append(string_split(tok, ''), '{EOW}'), ',,') || ',' AS s,
             c
      FROM (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c
            FROM (SELECT unnest({TOKENS_DUCK}) AS tok FROM documents)
            GROUP BY tok)
    )"""
    ]
    for i in range(1, n_merges + 1):
        sel = f"(SELECT pr FROM m{i})"
        parts.append(
            f"""p{i} AS (
      SELECT unnest({_BPE_PAIRS_DUCK}) AS pr, c
      FROM (SELECT {_SYMS_DUCK} AS l, c FROM v{i})
    ), m{i} AS MATERIALIZED (
      SELECT pr, SUM(c) AS cnt FROM p{i} GROUP BY pr
      ORDER BY cnt DESC, pr ASC LIMIT 1
    ), v{i + 1} AS MATERIALIZED (
      SELECT tok,
             replace(s,
               ',' || string_split({sel}, '|')[1] || ',,' || string_split({sel}, '|')[2] || ',',
               ',' || replace({sel}, '|', '') || ',') AS s,
             c
      FROM v{i}
    )"""
        )
    return ",\n    ".join(parts)


def _bpe_train_oracle(n_merges: int = BPE_MERGES) -> str:
    rows = "\n      UNION ALL ".join(
        f"SELECT {i} AS merge_rank, string_split(pr, '|')[1] AS lft, "
        f"string_split(pr, '|')[2] AS rgt, replace(pr, '|', '') AS merged, "
        f"CAST(cnt AS BIGINT) AS pair_count FROM m{i}"
        for i in range(1, n_merges + 1)
    )
    return f"""
    WITH {_oracle_chain(n_merges)}
    SELECT * FROM (
      {rows}
    ) ORDER BY merge_rank
    """


_TRAIN_SCHEMA = T.StructType(
    [
        T.StructField("merge_rank", T.IntegerType()),
        T.StructField("lft", T.StringType()),
        T.StructField("rgt", T.StringType()),
        T.StructField("merged", T.StringType()),
        T.StructField("pair_count", T.LongType()),
    ]
)


@register(
    "text_bpe_train",
    oracle=_bpe_train_oracle(),
    doc="BPE merge trainer (Sennrich et al. 2016): the first "
    f"{BPE_MERGES} learned merge rules with their pair counts. Plan: "
    "one corpus scan builds the word-count table (explode + hash agg "
    "with map-side partials); each iteration aggregates adjacent-pair "
    "counts over that Heaps'-bounded cached table and collects exactly "
    "one argmax row to the driver (ties break count DESC, pair ASC); "
    "merge application is a narrow wrapped-symbol replace — greedy "
    "left-to-right semantics proved against an independent Python "
    "implementation in the BPE tests.",
    tags=("text", "pipeline"),
)
def text_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    merges, _ = bpe_train_state(spark, sf_dir)
    return spark.createDataFrame(merges, _TRAIN_SCHEMA).orderBy("merge_rank")


_BPE_FERTILITY_ORACLE = f"""
    WITH {_oracle_chain()},
    np AS (
      SELECT tok, len({_SYMS_DUCK}) AS np FROM v{BPE_MERGES + 1}
    ),
    corp AS (
      SELECT source, unnest({TOKENS_DUCK}) AS tok FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(np.np) AS BIGINT) AS n_pieces,
           {pround_sql('SUM(np.np) * 1.0 / COUNT(*)')} AS fertility
    FROM corp JOIN np USING (tok)
    GROUP BY source ORDER BY source
    """


@register(
    "text_bpe_fertility",
    oracle=_BPE_FERTILITY_ORACLE,
    doc="Subword fertility audit of the learned BPE vocabulary: per "
    "source, word tokens, BPE pieces after applying the learned merges, "
    "and pieces-per-token fertility (high fertility = the shard's text "
    "fragments under the vocabulary, i.e. domain mismatch). Plan: the "
    "trainer's final vocab table maps word->piece-count (dimension-"
    "sized, size-capped broadcast); the corpus token stream joins it "
    "map-side and aggregates per source — one corpus scan, no "
    "corpus-sized shuffle.",
    tags=("text", "pipeline"),
)
def text_bpe_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, vocab = bpe_train_state(spark, sf_dir)
    np_df = vocab.select(
        "tok", F.size(F.expr(_SYMS_SPARK)).cast("bigint").alias("np")
    )
    corp = docs(spark, sf_dir).select(
        "source", F.explode(tokens_col()).alias("tok")
    )
    return (
        corp.join(maybe_broadcast(np_df), "tok")
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_tokens"),
            F.sum("np").cast("bigint").alias("n_pieces"),
            pround(F.sum("np") * 1.0 / F.count("*")).alias("fertility"),
        )
        .orderBy("source")
    )


# --- artifact-served BPE: build once per corpus snapshot -------------------


def bpe_layout(spark: SparkSession, sf_dir: str) -> str:
    """Build-once BPE artifact for ``sf_dir``: the learned merge table
    (merges.json — N rows, KB-scale) plus the post-merge vocab parquet
    (tok, s, c) that tokenization/fertility consumers join against.
    Cache key is the content-addressed corpus snapshot, so a refreshed
    corpus retrains automatically. At 100 TB this is how a tokenizer
    actually ships: train once per corpus snapshot, serve the merge
    table everywhere."""
    import json

    from roapi_spark.functions.snapshot import build_once, snapshot_cache_dir

    src = os.path.join(sf_dir, "documents.parquet")
    out = snapshot_cache_dir(src, f"bpe-m{BPE_MERGES}-v1")

    def _ready(d: str) -> bool:
        return os.path.exists(os.path.join(d, "_BPE_READY"))

    def _build(tmp: str) -> None:
        merges, vocab = bpe_train_state(spark, sf_dir)
        vocab.write.mode("overwrite").parquet(os.path.join(tmp, "vocab"))
        with open(os.path.join(tmp, "merges.json"), "w") as f:
            json.dump(merges, f)
        open(os.path.join(tmp, "_BPE_READY"), "w").close()

    return build_once(out, _ready, _build)


@register(
    "text_bpe_train_served",
    oracle=_bpe_train_oracle(),
    doc="Same result contract as text_bpe_train (identical oracle), "
    "served from the build-once bpe-m8-v1 artifact: the merge table is "
    "a KB-scale driver read, so a consumer (tokenizer worker, fertility "
    "audit, data card) pays zero training jobs per call. The iterative "
    "trainer runs once per corpus snapshot — the deploy shape of every "
    "production tokenizer.",
    tags=("text", "pipeline", "artifact"),
)
def text_bpe_train_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    import json

    layout = bpe_layout(spark, sf_dir)
    with open(os.path.join(layout, "merges.json")) as f:
        merges = [tuple(m) for m in json.load(f)]
    return spark.createDataFrame(merges, _TRAIN_SCHEMA).orderBy("merge_rank")


@register(
    "text_bpe_fertility_served",
    oracle=_BPE_FERTILITY_ORACLE,
    doc="Same result contract as text_bpe_fertility (identical oracle), "
    "but the word->piece-count side comes from the artifact's vocab "
    "parquet instead of retraining: one corpus token scan + a size-"
    "capped broadcast join, zero training jobs per call.",
    tags=("text", "pipeline", "artifact"),
)
def text_bpe_fertility_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    layout = bpe_layout(spark, sf_dir)
    vocab = spark.read.parquet(os.path.join(layout, "vocab"))
    np_df = vocab.select(
        "tok", F.size(F.expr(_SYMS_SPARK)).cast("bigint").alias("np")
    )
    corp = docs(spark, sf_dir).select(
        "source", F.explode(tokens_col()).alias("tok")
    )
    return (
        corp.join(maybe_broadcast(np_df), "tok")
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_tokens"),
            F.sum("np").cast("bigint").alias("n_pieces"),
            pround(F.sum("np") * 1.0 / F.count("*")).alias("fertility"),
        )
        .orderBy("source")
    )


def _encode_oracle() -> str:
    """Per-doc encode oracle: the same map-side construction — wrapped
    token stream, the 8 learned merges applied as nested replaces (the
    merge table comes from the shared m{i} CTEs), then the readable
    piece sequence is split back out and hashed."""
    base = (
        "array_to_string(list_transform(t, tok -> ',' || "
        f"array_to_string(list_append(string_split(tok, ''), '{EOW}'), ',,')"
        " || ','), ' ')"
    )
    expr = base
    for i in range(1, BPE_MERGES + 1):
        sel = f"(SELECT pr FROM m{i})"
        pat = (
            f"',' || string_split({sel}, '|')[1] || ',,' || "
            f"string_split({sel}, '|')[2] || ','"
        )
        rep = f"',' || replace({sel}, '|', '') || ','"
        expr = f"replace({expr}, {pat}, {rep})"
    return f"""
    WITH {_oracle_chain()},
    enc AS (
      SELECT doc_id,
             list_filter(string_split_regex({expr}, '[, ]+'), x -> x <> '')
               AS pieces
      FROM (SELECT doc_id, {TOKENS_DUCK} AS t FROM documents)
      WHERE len(t) > 0
    )
    SELECT doc_id,
           CAST(len(pieces) AS BIGINT) AS n_pieces,
           MD5(array_to_string(pieces, ' ')) AS piece_hash
    FROM enc ORDER BY doc_id
    """


@register(
    "text_bpe_encode",
    oracle=_encode_oracle(),
    doc="The tokenization pass itself: every document encoded into its "
    "BPE piece sequence under the learned merge table (per-doc piece "
    "count + an md5 over the ordered pieces, so a wrong merge order or "
    "a boundary-crossing merge hash-mismatches). Plan: MAP-SIDE ONLY — "
    "the merge table is 8 driver-side rows from the bpe-m8-v1 artifact "
    "inlined as replace literals, each doc's token stream is wrapped "
    "and rewritten in a single narrow projection: FileScan + Project, "
    "zero shuffle, zero join (space separators between tokens cannot "
    "match any ',l,,r,' pattern, so merges never cross word "
    "boundaries). At 100 TB this is the shape you want for the most "
    "corpus-intensive pass in the pipeline: embarrassingly parallel, "
    "no vocab-sized state per executor beyond 8 literals.",
    tags=("text", "pipeline", "artifact"),
)
def text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    import json

    layout = bpe_layout(spark, sf_dir)
    with open(os.path.join(layout, "merges.json")) as f:
        merges = json.load(f)
    t = tokens_col()
    wrapped = F.array_join(
        F.transform(
            t,
            lambda tok: F.concat(
                F.lit(","),
                F.array_join(
                    F.concat(
                        F.filter(F.split(tok, ""), lambda x: F.length(x) > 0),
                        F.array(F.lit(EOW)),
                    ),
                    ",,",
                ),
                F.lit(","),
            ),
        ),
        " ",
    )
    s = wrapped
    for _rank, lft, rgt, merged, _cnt in merges:
        s = F.replace(s, F.lit(f",{lft},,{rgt},"), F.lit(f",{merged},"))
    pieces = F.filter(F.split(s, "[, ]+"), lambda x: F.length(x) > 0)
    # no orderBy: the correctness compare is order-insensitive, and a
    # presentation sort would cost a range exchange on the single pure
    # map-side pass in the registry
    return (
        docs(spark, sf_dir)
        .filter(F.size(t) > 0)
        .select(
            "doc_id",
            F.size(pieces).cast("bigint").alias("n_pieces"),
            F.md5(F.array_join(pieces, " ")).alias("piece_hash"),
        )
    )


# --- sequence packing under the REAL tokenizer -----------------------------

PACK_PIECES = 512  # pieces per packed training sequence


@register(
    "text_seq_pack_bpe",
    oracle=f"""
    WITH {_oracle_chain()},
    np AS (
      SELECT tok, len({_SYMS_DUCK}) AS np FROM v{BPE_MERGES + 1}
    ),
    dnp AS (
      SELECT d.doc_id, d.source, COALESCE(s.np, 0) AS n_pieces
      FROM documents d LEFT JOIN (
        SELECT doc_id, CAST(SUM(np.np) AS BIGINT) AS np
        FROM (SELECT doc_id, unnest({TOKENS_DUCK}) AS tok FROM documents) t
        JOIN np USING (tok)
        GROUP BY doc_id
      ) s USING (doc_id)
    ),
    c AS (
      SELECT doc_id, source, n_pieces,
             COALESCE(SUM(n_pieces) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
      FROM dnp
    )
    SELECT doc_id, source, CAST(n_pieces AS BIGINT) AS n_pieces,
           CAST(FLOOR(cb / {PACK_PIECES}.0) AS BIGINT) AS pack_id,
           CAST(cb % {PACK_PIECES} AS BIGINT) AS pack_offset
    FROM c ORDER BY source, doc_id
    """,
    doc="GPT-style sequence packing under the TRAINED tokenizer: every "
    "document's length is its BPE piece count (from the bpe-m8-v1 "
    "vocab), and docs pack greedily into "
    f"{PACK_PIECES}-piece training sequences per source — the packing a "
    "training job actually runs, where budget is measured in the "
    "tokenizer's units, not whitespace words (text_seq_pack's "
    "approximation drifts exactly where fertility > 1). Plan: piece "
    "counts via one size-capped broadcast join of the artifact vocab "
    "onto the token stream + a doc-keyed agg; the cumulative pack "
    "assignment is a per-source running sum (same window pattern as "
    "text_seq_pack; the distributed-prefix-sum variant for sources "
    "bigger than a partition is q_token_budget_shards' documented "
    "pattern).",
    tags=("text", "pipeline", "artifact"),
)
def text_seq_pack_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    layout = bpe_layout(spark, sf_dir)
    vocab = spark.read.parquet(os.path.join(layout, "vocab"))
    np_df = vocab.select(
        "tok", F.size(F.expr(_SYMS_SPARK)).cast("bigint").alias("np")
    )
    per_doc = (
        docs(spark, sf_dir)
        .select("doc_id", F.explode(tokens_col()).alias("tok"))
        .join(maybe_broadcast(np_df), "tok")
        .groupBy("doc_id")
        .agg(F.sum("np").cast("bigint").alias("np"))
    )
    dnp = (
        docs(spark, sf_dir)
        .select("doc_id", "source")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id", "source", F.coalesce("np", F.lit(0)).alias("n_pieces")
        )
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    c = dnp.select(
        "doc_id",
        "source",
        "n_pieces",
        F.coalesce(F.sum("n_pieces").over(w), F.lit(0)).alias("cb"),
    )
    return c.select(
        "doc_id",
        "source",
        F.col("n_pieces").cast("bigint").alias("n_pieces"),
        F.floor(F.col("cb") / float(PACK_PIECES)).cast("bigint").alias("pack_id"),
        (F.col("cb") % PACK_PIECES).cast("bigint").alias("pack_offset"),
    ).orderBy("source", "doc_id")


MAX_W = 10  # training units truncated to this many chars (DP bound)
MAX_P = 4  # max piece length
SEED = 120  # multi-char seed pieces kept (plus ALL single chars)
SCALE = 256  # fixed-point scale for integer neg-log-prob costs
EM_T = 2  # hard-EM iterations
BIG = 1 << 40  # "piece not in vocab" cost (unreachable: singles cover)

# valid (start, len) piece slots inside a MAX_W-char unit
_SKS = [
    (s, k)
    for s in range(1, MAX_W + 1)
    for k in range(1, MAX_P + 1)
    if s + k - 1 <= MAX_W
]

# adjacent word pairs joined by '_' — the training unit (both engines)
# greatest(...) guard: a letter-free document tokenizes to [] and
# slice(l, 1, -1) throws — the guard makes it an empty pair list, the
# same result the DuckDB range(1, len(l)) side produces
_UNIGRAM_PAIRS_SPARK = (
    "transform(slice(l, 1, greatest(size(l)-1, 0)), (x, i) -> "
    "substring(concat(x, '_', element_at(l, i+2)), 1, {mw}))"
).format(mw=MAX_W)
_UNIGRAM_PAIRS_DUCK = (
    "list_transform(range(1, len(l)), j -> "
    "substr(l[j] || '_' || l[j+1], 1, {mw}))"
).format(mw=MAX_W)


# --------------------------------------------------------------------------
# oracle SQL generation (DuckDB replay of the full training run)
# --------------------------------------------------------------------------


def _base_ctes() -> list[str]:
    return [
        f"""wt AS MATERIALIZED (
      SELECT pr AS w, CAST(COUNT(*) AS BIGINT) AS c
      FROM (SELECT unnest({_UNIGRAM_PAIRS_DUCK}) AS pr
            FROM (SELECT {TOKENS_DUCK} AS l FROM documents))
      GROUP BY 1
    )""",
        "pos AS (SELECT w, c, unnest(generate_series(1, length(w))) AS s FROM wt)",
        f"""sub AS MATERIALIZED (
      SELECT substr(w, s, l) AS piece, CAST(SUM(c) AS BIGINT) AS cnt
      FROM pos, (VALUES (1),(2),(3),(4)) AS L(l)
      WHERE s + l - 1 <= length(w)
      GROUP BY 1
    )""",
        f"""v0 AS MATERIALIZED (
      SELECT piece, cnt FROM sub WHERE length(piece) = 1
      UNION ALL
      SELECT piece, cnt FROM (
        SELECT piece, cnt FROM sub WHERE length(piece) > 1
        ORDER BY cnt DESC, piece ASC LIMIT {SEED})
    )""",
    ]


def _cost_cte(i: int) -> str:
    return (
        f"c{i} AS MATERIALIZED (SELECT piece, cnt, "
        f"CAST(FLOOR({SCALE} * ln((t.total + t.v) * 1.0 / (cnt + 1)) + 0.5)"
        f" AS BIGINT) AS cost "
        f"FROM v{i}, (SELECT SUM(cnt) AS total, COUNT(*) AS v FROM v{i}) t)"
    )


def _lookup_cte(i: int) -> str:
    """wl{i}: per-unit pivoted piece-cost columns t{s}_{k} — ONE hash
    join (substring -> cost) + ONE pivot aggregate."""
    pivots = ", ".join(
        f"COALESCE(MAX(CASE WHEN s = {s} AND l = {k} THEN cost END), {BIG})"
        f" AS t{s}_{k}"
        for s, k in _SKS
    )
    return (
        f"wl{i} AS MATERIALIZED (\n"
        f"  SELECT w, ANY_VALUE(c) AS c, {pivots}\n"
        f"  FROM (SELECT pl.w, pl.c, pl.s, pl.l, cv.cost\n"
        f"        FROM (SELECT p.w, p.c, p.s, L.l FROM pos p,\n"
        f"              (VALUES (1),(2),(3),(4)) AS L(l)\n"
        f"              WHERE p.s + L.l - 1 <= length(p.w)) pl\n"
        f"        LEFT JOIN c{i} cv ON cv.piece = substr(pl.w, pl.s, pl.l))\n"
        f"  GROUP BY w)"
    )


def _seg_ctes(i: int) -> str:
    """Viterbi DP + backtrace: one MATERIALIZED CTE per DP position and
    per backtrace step (a single-SELECT lateral-alias form substitutes
    b_{j-1} into b_j and grows the tree 4^L)."""
    ctes = [f"g{i}_0 AS (SELECT *, CAST(0 AS BIGINT) AS b0 FROM wl{i})"]
    for j in range(1, MAX_W + 1):
        cands = [
            f"b{j - k} + t{j - k + 1}_{k}" for k in range(1, min(MAX_P, j) + 1)
        ]
        expr = cands[0] if len(cands) == 1 else "LEAST(" + ", ".join(cands) + ")"
        ctes.append(
            f"g{i}_{j} AS MATERIALIZED (SELECT *, CASE WHEN length(w) >= {j} "
            f"THEN {expr} ELSE 0 END AS b{j} FROM g{i}_{j - 1})"
        )
    kcols = []
    for j in range(1, MAX_W + 1):
        whens = " ".join(
            f"WHEN b{j} = b{j - k} + t{j - k + 1}_{k} THEN {k}"
            for k in range(1, min(MAX_P, j) + 1)
        )
        kcols.append(
            f"CASE WHEN length(w) < {j} THEN 0 {whens} ELSE 0 END AS k{j}"
        )
    ctes.append(
        f"h{i}_0 AS MATERIALIZED (SELECT *, {', '.join(kcols)}, "
        f"length(w) AS e_init FROM g{i}_{MAX_W})"
    )

    def kat(e: str) -> str:
        return (
            "CASE "
            + e
            + " "
            + " ".join(f"WHEN {j} THEN k{j}" for j in range(1, MAX_W + 1))
            + " ELSE 0 END"
        )

    for step in range(MAX_W):
        prev = "e_init" if step == 0 else f"e{step - 1}"
        ctes.append(
            f"h{i}_{step + 1} AS MATERIALIZED (SELECT *, "
            f"{kat(prev)} AS s{step}, "
            f"{prev} - ({kat(prev)}) AS e{step}, "
            f"CASE WHEN {kat(prev)} > 0 THEN "
            f"substr(w, {prev} - ({kat(prev)}) + 1, {kat(prev)}) END "
            f"AS p{step} FROM h{i}_{step})"
        )
    pieces = (
        "list_filter(["
        + ", ".join(f"p{s}" for s in range(MAX_W))
        + "], x -> x IS NOT NULL)"
    )
    ctes.append(
        f"seg{i} AS MATERIALIZED (SELECT w, c, unnest({pieces}) AS piece "
        f"FROM h{i}_{MAX_W})"
    )
    return ",\n".join(ctes)


def _next_counts_cte(i: int) -> str:
    return (
        f"v{i + 1} AS MATERIALIZED (SELECT v.piece, "
        f"CAST(COALESCE(u.cnt, 0) AS BIGINT) AS cnt "
        f"FROM v0 v LEFT JOIN (SELECT piece, SUM(c) AS cnt "
        f"FROM seg{i} GROUP BY piece) u USING (piece))"
    )


def _chain(with_final_seg: bool = False) -> str:
    parts = _base_ctes()
    for i in range(EM_T):
        parts.append(_cost_cte(i))
        parts.append(_lookup_cte(i))
        parts.append(_seg_ctes(i))
        parts.append(_next_counts_cte(i))
    parts.append(_cost_cte(EM_T))
    if with_final_seg:
        parts.append(_lookup_cte(EM_T))
        parts.append(_seg_ctes(EM_T))
    return ",\n".join(parts)


def _unigram_train_oracle() -> str:
    rows = "\n UNION ALL ".join(
        f"""SELECT {it} AS it,
      (SELECT CAST(SUM(cnt) AS BIGINT) FROM v{it}) AS total_pieces,
      (SELECT CAST(COUNT(*) FILTER (WHERE cnt > 0) AS BIGINT) FROM v{it})
        AS n_active,
      (SELECT piece FROM v{it} ORDER BY cnt DESC, piece LIMIT 1) AS top_piece,
      (SELECT CAST(MAX(cnt) AS BIGINT) FROM v{it}) AS top_cnt"""
        for it in range(EM_T + 1)
    )
    return f"WITH {_chain()}\nSELECT * FROM ({rows}) ORDER BY it"


_VOCAB_TOP = 20

_VOCAB_ORACLE = (
    f"WITH {_chain()}\nSELECT piece, cnt, cost FROM c{EM_T} "
    f"ORDER BY cnt DESC, piece LIMIT {_VOCAB_TOP}"
)

_UNIGRAM_FERTILITY_ORACLE = f"""
    WITH {_chain(with_final_seg=True)},
    np AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS np FROM seg{EM_T} GROUP BY w),
    corp AS (
      SELECT source, unnest({_UNIGRAM_PAIRS_DUCK}) AS w
      FROM (SELECT source, {TOKENS_DUCK} AS l FROM documents)
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_units,
           CAST(SUM(np.np) AS BIGINT) AS n_pieces,
           {pround_sql("SUM(np.np) * 1.0 / COUNT(*)")} AS fertility
    FROM corp JOIN np USING (w)
    GROUP BY source ORDER BY source
    """


# --------------------------------------------------------------------------
# Spark-side training
# --------------------------------------------------------------------------


def _viterbi(w: str, cost: dict[str, int]) -> list[str]:
    """Integer Viterbi with smallest-k-first backtrace — the exact rule
    the generated SQL DP implements."""
    L = len(w)
    b: list[int] = [0] + [0] * L
    for j in range(1, L + 1):
        best = None
        for k in range(1, min(MAX_P, j) + 1):
            cand = b[j - k] + cost.get(w[j - k : j], BIG)
            if best is None or cand < best:
                best = cand
        b[j] = best  # type: ignore[assignment]
    pieces: list[str] = []
    j = L
    while j > 0:
        for k in range(1, min(MAX_P, j) + 1):
            if b[j] == b[j - k] + cost.get(w[j - k : j], BIG):
                pieces.append(w[j - k : j])
                j -= k
                break
        else:  # pragma: no cover — singles make every position reachable
            raise AssertionError(f"viterbi backtrace failed for {w!r}")
    return pieces[::-1]


def _costs_of(counts: dict[str, int]) -> dict[str, int]:
    total = sum(counts.values())
    v = len(counts)
    return {
        p: math.floor(SCALE * math.log((total + v) / (c + 1)) + 0.5)
        for p, c in counts.items()
    }


def _units(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct training units with frequencies: (w, c)."""
    return (
        docs(spark, sf_dir)
        .select(tokens_col().alias("l"))
        .select(F.explode(F.expr(_UNIGRAM_PAIRS_SPARK)).alias("w"))
        .groupBy("w")
        .agg(F.count("*").cast("bigint").alias("c"))
    )


def _seg_kernel(cost: dict[str, int]):
    import pandas as pd

    def fn(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            out: list[tuple] = []
            for w, c in zip(pdf["w"], pdf["c"]):
                for p in _viterbi(w, cost):
                    out.append((w, int(c), p))
            yield pd.DataFrame(out, columns=["w", "c", "piece"])

    return fn


_SEG_SCHEMA = "w string, c bigint, piece string"

# process-local memo (same pattern as bpe_train_state): the trainer is
# iterative with vocab-sized driver collects; queries sharing a corpus
# reuse the learned state
_UNIGRAM_MEMO: dict[tuple, tuple] = {}


def unigram_train_state(
    spark: SparkSession, sf_dir: str
) -> tuple[list[tuple], dict[str, int], dict[str, int]]:
    """Run hard-EM; returns (trajectory rows, final counts, final costs).

    Trajectory rows are ``(it, total_pieces, n_active, top_piece,
    top_cnt)`` for it = 0..EM_T.
    """
    path = os.path.join(sf_dir, "documents.parquet")
    key = (
        spark.sparkContext.applicationId,
        os.path.realpath(path),
        os.path.getmtime(path),
    )
    hit = _UNIGRAM_MEMO.get(key)
    if hit is not None:
        return hit

    units = _units(spark, sf_dir).cache()

    # seed: all substring occurrences, weighted — distributed explode +
    # hash agg; only the vocab-sized top cut is collected
    subs = (
        units.select(
            "c",
            F.explode(
                F.expr(
                    "flatten(transform(sequence(1, length(w)), s -> "
                    f"transform(sequence(1, least({MAX_P}, length(w) - s + 1)), "
                    "k -> substring(w, s, k))))"
                )
            ).alias("piece"),
        )
        .groupBy("piece")
        .agg(F.sum("c").cast("bigint").alias("cnt"))
        .cache()
    )
    singles = subs.filter(F.length("piece") == 1).collect()
    multis = (
        subs.filter(F.length("piece") > 1)
        .orderBy(F.col("cnt").desc(), F.col("piece").asc())
        .limit(SEED)
        .collect()
    )
    counts: dict[str, int] = {r["piece"]: int(r["cnt"]) for r in singles}
    counts.update({r["piece"]: int(r["cnt"]) for r in multis})

    def snapshot(it: int, cts: dict[str, int]) -> tuple:
        total = sum(cts.values())
        active = sum(1 for v in cts.values() if v > 0)
        top_p, top_c = sorted(cts.items(), key=lambda pc: (-pc[1], pc[0]))[0]
        return (it, total, active, top_p, top_c)

    traj = [snapshot(0, counts)]
    vocab_pieces = sorted(counts)
    for it in range(1, EM_T + 1):
        cost = _costs_of(counts)
        seg = units.mapInPandas(_seg_kernel(cost), _SEG_SCHEMA)
        rows = (
            seg.groupBy("piece").agg(F.sum("c").cast("bigint").alias("cnt"))
        ).collect()
        used = {r["piece"]: int(r["cnt"]) for r in rows}
        counts = {p: used.get(p, 0) for p in vocab_pieces}
        traj.append(snapshot(it, counts))

    state = (traj, counts, _costs_of(counts))
    _UNIGRAM_MEMO[key] = state
    return state


_TRAJ_SCHEMA = T.StructType(
    [
        T.StructField("it", T.IntegerType()),
        T.StructField("total_pieces", T.LongType()),
        T.StructField("n_active", T.LongType()),
        T.StructField("top_piece", T.StringType()),
        T.StructField("top_cnt", T.LongType()),
    ]
)


@register(
    "text_unigram_train",
    oracle=_unigram_train_oracle(),
    doc="Unigram-LM subword trainer (Kudo 2018, SentencePiece default), "
    f"hard-EM variant: {EM_T} Viterbi-EM iterations over adjacent-word-"
    "pair units with integer fixed-point neg-log-prob costs; one row "
    "per iteration (total piece count, active vocab, argmax piece). "
    "The oracle REPLAYS THE ENTIRE TRAINING RUN in generated SQL — "
    "seed substring counts, cost derivation, the unrolled Viterbi DP "
    "(one materialized CTE per position; piece lookups are a hash join "
    "+ pivot, never correlated subqueries), smallest-k backtrace, and "
    "the count updates — so a single mis-segmented unit anywhere in "
    "training hash-mismatches. Plan: one corpus scan builds the Heaps-"
    "bounded unit table; each iteration is an Arrow-batched mapInPandas "
    "Viterbi pass + vocab-keyed agg; the driver holds ~150 rows.",
    tags=("text", "pipeline", "ml"),
)
def text_unigram_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    traj, _, _ = unigram_train_state(spark, sf_dir)
    return spark.createDataFrame(traj, _TRAJ_SCHEMA).orderBy("it")


@register(
    "text_unigram_vocab",
    oracle=_VOCAB_ORACLE,
    doc=f"Serve side of the unigram trainer: the top {_VOCAB_TOP} learned "
    "pieces with their final counts and integer costs — the artifact a "
    "tokenizer worker ships (piece->cost is the entire inference-time "
    "model for Viterbi encoding). Same full-training-replay oracle as "
    "text_unigram_train. Plan: training state is memoized per corpus "
    "snapshot; this query is a vocab-sized createDataFrame.",
    tags=("text", "pipeline", "ml"),
)
def text_unigram_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, counts, costs = unigram_train_state(spark, sf_dir)
    top = sorted(
        ((p, counts[p], costs[p]) for p in counts),
        key=lambda x: (-x[1], x[0]),
    )[:_VOCAB_TOP]
    return spark.createDataFrame(
        top, "piece string, cnt bigint, cost bigint"
    ).orderBy(F.col("cnt").desc(), F.col("piece").asc())


@register(
    "text_unigram_fertility",
    oracle=_UNIGRAM_FERTILITY_ORACLE,
    doc="Fertility audit of the learned unigram vocabulary: per source, "
    "training units, Viterbi pieces under the FINAL model, and "
    "pieces-per-unit fertility (the shard-level domain-fit metric, "
    "same contract as text_bpe_fertility). Plan: one final mapInPandas "
    "Viterbi pass over the Heaps-bounded unit table builds the "
    "unit->piece-count dimension; the corpus pair stream joins it via "
    "size-capped broadcast and aggregates per source — one corpus "
    "scan, no corpus-sized shuffle.",
    tags=("text", "pipeline", "ml"),
)
def text_unigram_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, _, costs = unigram_train_state(spark, sf_dir)
    units = _units(spark, sf_dir)
    np_df = (
        units.mapInPandas(_seg_kernel(costs), _SEG_SCHEMA)
        .groupBy("w")
        .agg(F.count("*").cast("bigint").alias("np"))
    )
    corp = (
        docs(spark, sf_dir)
        .select("source", tokens_col().alias("l"))
        .select("source", F.explode(F.expr(_UNIGRAM_PAIRS_SPARK)).alias("w"))
    )
    return (
        corp.join(maybe_broadcast(np_df), "w")
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_units"),
            F.sum("np").cast("bigint").alias("n_pieces"),
            pround(F.sum("np") * 1.0 / F.count("*")).alias("fertility"),
        )
        .orderBy("source")
    )


# ---- text_unigram_encode ---------------------------------------------------

_ENC_SAMPLE = 25  # encode docs with doc_id % _ENC_SAMPLE == 0

_P_LIST = "[" + ", ".join(f"p{s}" for s in range(MAX_W)) + "]"

_ENCODE_ORACLE = f"""
    WITH {_chain(with_final_seg=True)},
    segarr AS (
      SELECT w, list_reverse(list_filter({_P_LIST}, x -> x IS NOT NULL))
             AS pieces
      FROM h{EM_T}_{MAX_W}
    ),
    corp AS (
      SELECT doc_id, {_UNIGRAM_PAIRS_DUCK} AS pl
      FROM (SELECT doc_id, {TOKENS_DUCK} AS l FROM documents
            WHERE doc_id % {_ENC_SAMPLE} = 0)
    ),
    units AS (
      SELECT doc_id, unnest(pl) AS w,
             CAST(generate_subscripts(pl, 1) AS BIGINT) AS unit_idx
      FROM corp
    ),
    j AS (SELECT doc_id, unit_idx, pieces FROM units JOIN segarr USING (w))
    SELECT doc_id, unit_idx,
           CAST(generate_subscripts(pieces, 1) AS BIGINT) AS piece_idx,
           unnest(pieces) AS piece
    FROM j ORDER BY doc_id, unit_idx, piece_idx
    """


def _seg_array_kernel(cost: dict[str, int]):
    import pandas as pd

    def fn(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "w": pdf["w"],
                    "pieces": [_viterbi(w, cost) for w in pdf["w"]],
                }
            )

    return fn


@register(
    "text_unigram_encode",
    oracle=_ENCODE_ORACLE,
    doc="Corpus ENCODE pass under the trained unigram model: a "
    f"deterministic doc sample (doc_id %% {_ENC_SAMPLE} == 0) is "
    "tokenized to ordered pair-units and each unit Viterbi-segmented "
    "under the FINAL piece costs, emitting (doc, unit, piece position, "
    "piece) — the inference-time tokenizer, positions included, so a "
    "piece emitted out of order or a wrong segmentation anywhere "
    "hash-mismatches. Plan: one mapInPandas Viterbi pass over the "
    "Heaps-bounded unit table builds the unit->ordered-pieces "
    "dimension; the sampled corpus stream joins it via size-capped "
    "broadcast and explodes positions JVM-side — one corpus scan, no "
    "corpus-sized shuffle (the bpe-encode shape).",
    tags=("text", "pipeline", "ml"),
)
def text_unigram_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, _, costs = unigram_train_state(spark, sf_dir)
    seg_arr = _units(spark, sf_dir).mapInPandas(
        _seg_array_kernel(costs), "w string, pieces array<string>"
    )
    corp = (
        docs(spark, sf_dir)
        .filter(F.col("doc_id") % _ENC_SAMPLE == 0)
        .select("doc_id", tokens_col().alias("l"))
        .select(
            "doc_id",
            F.posexplode(F.expr(_UNIGRAM_PAIRS_SPARK)).alias("i0", "w"),
        )
        .select(
            "doc_id", (F.col("i0") + 1).cast("bigint").alias("unit_idx"), "w"
        )
    )
    return (
        corp.join(maybe_broadcast(seg_arr), "w")
        .select(
            "doc_id",
            "unit_idx",
            F.posexplode("pieces").alias("j0", "piece"),
        )
        .select(
            "doc_id",
            "unit_idx",
            (F.col("j0") + 1).cast("bigint").alias("piece_idx"),
            "piece",
        )
        .orderBy("doc_id", "unit_idx", "piece_idx")
    )


# ---- artifact-served unigram: build once per corpus snapshot ---------------


def unigram_layout(spark: SparkSession, sf_dir: str) -> str:
    """Build-once unigram artifact for ``sf_dir``: the training
    trajectory (traj.json, KB-scale) plus the final piece->count/cost
    vocab parquet tokenization consumers join against. Content-addressed
    on the corpus snapshot, so a refreshed corpus retrains automatically
    — the deploy shape of a production tokenizer (train once per
    snapshot, serve the model table everywhere; same contract as
    bpe_layout)."""
    import json

    from roapi_spark.functions.snapshot import build_once, snapshot_cache_dir

    src = os.path.join(sf_dir, "documents.parquet")
    out = snapshot_cache_dir(src, f"unigram-t{EM_T}-v1")

    def _ready(d: str) -> bool:
        return os.path.exists(os.path.join(d, "_UNIGRAM_READY"))

    def _build(tmp: str) -> None:
        os.makedirs(tmp, exist_ok=True)
        traj, counts, costs = unigram_train_state(spark, sf_dir)
        with open(os.path.join(tmp, "traj.json"), "w") as f:
            json.dump(traj, f)
        spark.createDataFrame(
            [(p, counts[p], costs[p]) for p in sorted(counts)],
            "piece string, cnt bigint, cost bigint",
        ).coalesce(1).write.mode("overwrite").parquet(
            os.path.join(tmp, "vocab")
        )
        open(os.path.join(tmp, "_UNIGRAM_READY"), "w").close()

    return build_once(out, _ready, _build)


@register(
    "text_unigram_train_served",
    oracle=_unigram_train_oracle(),
    doc="Same result contract as text_unigram_train (identical full-"
    "training-replay oracle), served from the build-once unigram-t2-v1 "
    "artifact: the trajectory is a KB-scale driver read, so a consumer "
    "(tokenizer worker, data card) pays zero training jobs per call — "
    "the hard-EM trainer runs once per corpus snapshot. Mirrors "
    "text_bpe_train_served.",
    tags=("text", "pipeline", "ml", "artifact"),
)
def text_unigram_train_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    import json

    layout = unigram_layout(spark, sf_dir)
    with open(os.path.join(layout, "traj.json")) as f:
        traj = [tuple(r) for r in json.load(f)]
    return spark.createDataFrame(traj, _TRAJ_SCHEMA).orderBy("it")


# ---- text_tokenizer_compare ------------------------------------------------


def _compare_oracle() -> str:
    """Join the two trainers' full-replay fertility oracles as scoped
    subqueries (each carries its own WITH chain; DuckDB scopes CTE names
    per subquery, so the BPE chain's v{i} and the unigram chain's v{i}
    never collide)."""

    return f"""
    SELECT b.source,
           b.fertility AS bpe_fertility,
           u.fertility AS unigram_fertility,
           {pround_sql("u.fertility / b.fertility")} AS uni_over_bpe
    FROM ({_BPE_FERTILITY_ORACLE}) b
    JOIN ({_UNIGRAM_FERTILITY_ORACLE}) u USING (source)
    ORDER BY source
    """



@register(
    "text_tokenizer_compare",
    oracle=_compare_oracle(),
    doc="Tokenizer-selection audit: per source, subword fertility under "
    "the trained BPE vocabulary vs the trained unigram-LM vocabulary "
    "and their ratio — the standard report a pipeline reads before "
    "picking a tokenizer for a corpus (fertility = pieces per unit; "
    "lower = the vocabulary fits the shard). The oracle joins BOTH "
    "trainers' full-training-replay chains as scoped subqueries, so "
    "this gate re-verifies the entire BPE merge sequence AND the "
    "entire unigram EM trajectory in one hash. Plan: both trained "
    "states are memoized per corpus snapshot; the comparison is two "
    "broadcast-joined corpus scans + a source-keyed agg each.",
    tags=("text", "pipeline", "ml"),
)
def text_tokenizer_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    bpe = text_bpe_fertility(spark, sf_dir).select(
        "source", F.col("fertility").alias("bpe_fertility")
    )
    uni = text_unigram_fertility(spark, sf_dir).select(
        "source", F.col("fertility").alias("unigram_fertility")
    )
    return (
        bpe.join(uni, "source")
        .select(
            "source",
            "bpe_fertility",
            "unigram_fertility",
            pround(
                F.col("unigram_fertility") / F.col("bpe_fertility")
            ).alias("uni_over_bpe"),
        )
        .orderBy("source")
    )


# ---- text_unigram_prune ----------------------------------------------------

PRUNE_KEEP = 60  # multi-char pieces kept after pruning (singles always stay)


def _prune_oracle() -> str:
    """Chain = full training replay + the prune round: keep all singles
    plus the top PRUNE_KEEP multi-char pieces by final count, re-derive
    costs over the pruned vocab, and run one more Viterbi-EM pass. The
    int-keyed CTE generators take the literal suffix 'p' (cp/wlp/segp),
    so the prune round reuses the same generated DP shape."""
    prune_parts = [
        f"""vp AS MATERIALIZED (
      SELECT piece, cnt FROM v{EM_T} WHERE length(piece) = 1
      UNION ALL
      SELECT piece, cnt FROM (
        SELECT piece, cnt FROM v{EM_T} WHERE length(piece) > 1
        ORDER BY cnt DESC, piece ASC LIMIT {PRUNE_KEEP})
    )""",
        _cost_cte("p"),
        _lookup_cte("p"),
        _seg_ctes("p"),
        f"""vq AS MATERIALIZED (
      SELECT v.piece, CAST(COALESCE(u.cnt, 0) AS BIGINT) AS cnt
      FROM vp v LEFT JOIN (SELECT piece, SUM(c) AS cnt
                           FROM segp GROUP BY piece) u USING (piece)
    )""",
    ]
    chain = _chain() + ",\n" + ",\n".join(prune_parts)
    rows = "\n UNION ALL ".join(
        f"""SELECT '{label}' AS stage,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM {v}) AS vocab_size,
      (SELECT CAST(SUM(cnt) AS BIGINT) FROM {v}) AS total_pieces,
      (SELECT CAST(COUNT(*) FILTER (WHERE cnt > 0) AS BIGINT) FROM {v})
        AS n_active,
      (SELECT piece FROM {v} ORDER BY cnt DESC, piece LIMIT 1) AS top_piece,
      (SELECT CAST(MAX(cnt) AS BIGINT) FROM {v}) AS top_cnt"""
        for label, v in (("1_trained", f"v{EM_T}"), ("2_pruned", "vq"))
    )
    return f"WITH {chain}\nSELECT * FROM ({rows}) ORDER BY stage"


@register(
    "text_unigram_prune",
    oracle=_prune_oracle(),
    doc="Vocabulary pruning — the third pillar of the unigram algorithm "
    "(Kudo 2018 prunes the seed vocab toward the target size across EM "
    f"rounds): keep every single character plus the top {PRUNE_KEEP} "
    "multi-char pieces by trained count, re-derive costs over the "
    "pruned vocab, and run one more Viterbi-EM pass so the corpus "
    "re-segments under the smaller model. Output: vocab/total/active/"
    "argmax before and after. The oracle extends the full-training-"
    "replay chain with the prune round (the generated DP CTEs are "
    "suffix-parameterized, so the same unrolled shape replays it). "
    "Plan: one extra mapInPandas Viterbi pass over the Heaps-bounded "
    "unit table + a vocab-keyed agg — pruning cost is an EM iteration, "
    "nothing more.",
    tags=("text", "pipeline", "ml"),
)
def text_unigram_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, counts, _ = unigram_train_state(spark, sf_dir)

    def snap(label: str, cts: dict[str, int]) -> tuple:
        total = sum(cts.values())
        active = sum(1 for v in cts.values() if v > 0)
        top_p, top_c = sorted(cts.items(), key=lambda pc: (-pc[1], pc[0]))[0]
        return (label, len(cts), total, active, top_p, top_c)

    singles = {p: c for p, c in counts.items() if len(p) == 1}
    multis = sorted(
        ((p, c) for p, c in counts.items() if len(p) > 1),
        key=lambda pc: (-pc[1], pc[0]),
    )[:PRUNE_KEEP]
    pruned = dict(singles)
    pruned.update(dict(multis))
    cost = _costs_of(pruned)
    seg = _units(spark, sf_dir).mapInPandas(_seg_kernel(cost), _SEG_SCHEMA)
    used = {
        r["piece"]: int(r["cnt"])
        for r in seg.groupBy("piece")
        .agg(F.sum("c").cast("bigint").alias("cnt"))
        .collect()
    }
    after = {p: used.get(p, 0) for p in pruned}
    return spark.createDataFrame(
        [snap("1_trained", counts), snap("2_pruned", after)],
        "stage string, vocab_size bigint, total_pieces bigint, "
        "n_active bigint, top_piece string, top_cnt bigint",
    ).orderBy("stage")


# --------------------------------------------------------------------------
# text_unigram_em: FULL EM (lattice forward-backward expected counts)
# --------------------------------------------------------------------------
#
# The trainer above is hard-EM (Viterbi counts — the fast SentencePiece
# default). This is the numerically interesting half of Kudo 2018: the
# E-step marginalizes over ALL segmentations of each unit, accumulating
# EXPECTED piece counts, not argmax-path counts.
#
# Exactness contract (what makes the DuckDB replay bit-identical):
# piece probabilities are QUANTIZED integers p = max(floor((cnt+1) *
# EM_Q / (total+V)), 1); the forward/backward tables are then pure
# integer sum-products (NO division inside the DP, so alpha/beta/Z are
# exact integers on any engine), and the single flooring division
# happens once per lattice arc: q = (alpha[i] * p * beta[j]) //
# max(Z // EM_S, 1). The Spark kernel runs the O(L*K) forward-backward
# DP; the oracle replays the same integers by brute-force PATH
# ENUMERATION (units are <= EM_W chars with pieces <= EM_P, so each
# length has <= 24 compositions) — forward-backward and path
# enumeration compute the same marginal sums, so the only thing the
# two engines must share is the arithmetic, which is all-integer.
#
# Magnitudes (int64-safe by construction): p <= EM_Q=256, path product
# <= 256^6 ~ 2.8e14, Z <= 24 * that ~ 6.8e15, q <= ~2 * EM_S.

_EM_W = 6  # EM units: single word tokens truncated to 6 chars
_EM_P = 3  # max piece length
_EM_Q = 256  # probability quantization scale
_EM_S = 1_000_000  # expected-count fixed-point scale
_EM_T = 2  # full-EM iterations
_EM_SKS = [
    (s, k)
    for s in range(1, _EM_W + 1)
    for k in range(1, _EM_P + 1)
    if s + k - 1 <= _EM_W
]


def _em_paths(length: int) -> list[list[tuple[int, int]]]:
    """All segmentations of a length-``length`` unit into pieces of
    1..EM_P chars, as slot lists [(start, len), ...] (1-based)."""
    if length == 0:
        return [[]]
    out = []
    for k in range(1, min(_EM_P, length) + 1):
        for rest in _em_paths(length - k):
            out.append(
                [(1, k)] + [(s + k, kk) for s, kk in rest]
            )
    return out


def _em_oracle() -> str:
    base = [
        f"""eut AS MATERIALIZED (
      SELECT substr(t, 1, {_EM_W}) AS w, CAST(COUNT(*) AS BIGINT) AS c
      FROM (SELECT unnest(l) AS t
            FROM (SELECT {TOKENS_DUCK} AS l FROM documents))
      GROUP BY 1
    )""",
        "eposn AS (SELECT w, c, "
        "unnest(generate_series(1, length(w))) AS s FROM eut)",
        f"""ev0 AS MATERIALIZED (
      SELECT substr(w, s, l) AS piece, CAST(SUM(c) AS BIGINT) AS cnt
      FROM eposn, (VALUES (1),(2),(3)) AS L(l)
      WHERE s + l - 1 <= length(w)
      GROUP BY 1
    )""",
    ]
    parts = list(base)
    for i in range(_EM_T):
        parts.append(
            f"epr{i} AS MATERIALIZED (SELECT piece, "
            f"GREATEST(CAST(((cnt + 1) * {_EM_Q}) // (t.total + t.v) "
            f"AS BIGINT), 1) AS p "
            f"FROM ev{i}, (SELECT SUM(cnt) AS total, COUNT(*) AS v "
            f"FROM ev{i}) t)"
        )
        pivots = ", ".join(
            f"MAX(CASE WHEN s = {s} AND l = {k} THEN p END) AS q{s}_{k}"
            for s, k in _EM_SKS
        )
        parts.append(
            f"ewl{i} AS MATERIALIZED (\n"
            f"  SELECT w, ANY_VALUE(c) AS c, {pivots}\n"
            f"  FROM (SELECT pl.w, pl.c, pl.s, pl.l, pv.p\n"
            f"        FROM (SELECT p.w, p.c, p.s, L.l FROM eposn p,\n"
            f"              (VALUES (1),(2),(3)) AS L(l)\n"
            f"              WHERE p.s + L.l - 1 <= length(p.w)) pl\n"
            f"        JOIN epr{i} pv ON pv.piece = "
            f"substr(pl.w, pl.s, pl.l))\n"
            f"  GROUP BY w)"
        )
        # Z per unit: sum of path products, static per length
        z_whens = []
        for ell in range(1, _EM_W + 1):
            prods = [
                " * ".join(f"q{s}_{k}" for s, k in path)
                for path in _em_paths(ell)
            ]
            z_whens.append(f"WHEN {ell} THEN " + " + ".join(prods))
        parts.append(
            f"ez{i} AS MATERIALIZED (SELECT *, "
            f"CASE length(w) {' '.join(z_whens)} END AS z FROM ewl{i})"
        )
        # per-slot marginal numerators, then the one flooring division
        slot_selects = []
        for s, k in _EM_SKS:
            numer_whens = []
            for ell in range(s + k - 1, _EM_W + 1):
                prods = [
                    " * ".join(f"q{ps}_{pk}" for ps, pk in path)
                    for path in _em_paths(ell)
                    if (s, k) in path
                ]
                if prods:
                    numer_whens.append(
                        f"WHEN {ell} THEN " + " + ".join(prods)
                    )
            slot_selects.append(
                f"SELECT substr(w, {s}, {k}) AS piece, c,\n"
                f"  (CASE length(w) {' '.join(numer_whens)} ELSE 0 END)\n"
                f"  // GREATEST(z // {_EM_S}, 1) AS q FROM ez{i}"
            )
        parts.append(
            f"eo{i} AS MATERIALIZED (SELECT piece, "
            f"CAST(SUM(c * q) AS BIGINT) AS e FROM (\n"
            + "\nUNION ALL\n".join(slot_selects)
            + ") GROUP BY piece)"
        )
        parts.append(
            f"ee{i + 1} AS MATERIALIZED (SELECT v.piece, "
            f"CAST(COALESCE(o.e, 0) AS BIGINT) AS e "
            f"FROM ev0 v LEFT JOIN eo{i} o USING (piece))"
        )
        parts.append(
            f"ev{i + 1} AS MATERIALIZED (SELECT piece, "
            f"CAST(e // {_EM_S} AS BIGINT) AS cnt FROM ee{i + 1})"
        )
    rows = "\nUNION ALL\n".join(
        f"""SELECT {it} AS it,
      (SELECT CAST(COUNT(*) FILTER (WHERE e > 0) AS BIGINT) FROM ee{it})
        AS n_active,
      (SELECT piece FROM ee{it} ORDER BY e DESC, piece LIMIT 1)
        AS top_piece,
      (SELECT CAST(MAX(e) AS BIGINT) FROM ee{it}) AS top_e,
      (SELECT CAST(SUM(e) AS BIGINT) FROM ee{it}) AS sum_e"""
        for it in range(1, _EM_T + 1)
    )
    return (
        "WITH " + ",\n".join(parts) + f"\nSELECT * FROM ({rows}) ORDER BY it"
    )


def _em_units(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        docs(spark, sf_dir)
        .select(F.explode(tokens_col()).alias("t"))
        .select(F.substring("t", 1, _EM_W).alias("w"))
        .groupBy("w")
        .agg(F.count("*").cast("bigint").alias("c"))
    )


def _em_probs(counts: dict[str, int]) -> dict[str, int]:
    total, v = sum(counts.values()), len(counts)
    return {
        p: max(((c + 1) * _EM_Q) // (total + v), 1)
        for p, c in counts.items()
    }


def _em_fb_kernel(p_int: dict[str, int]):
    """Forward-backward over each unit's piece lattice: exact integer
    alpha/beta (no division inside the DP), one flooring division per
    arc — emits (piece, e) expected-count contributions."""
    import pandas as pd

    def fn(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            out: list[tuple[str, int]] = []
            for w, c in zip(pdf["w"], pdf["c"]):
                L = len(w)
                a = [1] + [0] * L
                for j in range(1, L + 1):
                    a[j] = sum(
                        a[j - k] * p_int[w[j - k : j]]
                        for k in range(1, min(_EM_P, j) + 1)
                    )
                b = [0] * L + [1]
                for j in range(L - 1, -1, -1):
                    b[j] = sum(
                        p_int[w[j : j + k]] * b[j + k]
                        for k in range(1, min(_EM_P, L - j) + 1)
                    )
                den = max(a[L] // _EM_S, 1)
                for s in range(1, L + 1):
                    for k in range(1, min(_EM_P, L - s + 1) + 1):
                        piece = w[s - 1 : s - 1 + k]
                        q = (a[s - 1] * p_int[piece] * b[s - 1 + k]) // den
                        out.append((piece, int(c) * q))
            yield pd.DataFrame(out, columns=["piece", "e"])

    return fn


@register(
    "text_unigram_em",
    oracle=_em_oracle(),
    doc="Unigram-LM FULL-EM gate (Kudo 2018's marginalizing E-step, vs "
    "the hard-EM trainer's Viterbi counts): piece probabilities are "
    "quantized integers, the E-step runs lattice forward-backward with "
    "pure integer sum-products (alpha/beta/Z exact — no division "
    "inside the DP) and ONE flooring division per arc, and expected "
    "counts drive the next iteration's probabilities — two full "
    "fixed-point EM iterations, trajectory pinned per iteration "
    "(active pieces, argmax piece, expected-count totals). The oracle "
    "replays the identical integers by brute-force path enumeration "
    "(units <= 6 chars, pieces <= 3: <= 24 compositions per unit, "
    "generated as static SQL per length) — forward-backward and path "
    "enumeration must agree exactly or the hash mismatches, which is "
    "precisely the marginalization property the gate pins. Plan: one "
    "corpus scan builds the alphabet-bounded unit table; each "
    "iteration is an Arrow-batched mapInPandas forward-backward pass "
    "(no shuffle) + one vocab-keyed hash agg; driver state is the "
    "(<= 18k-entry, alphabet-bounded) piece-count dict — the same "
    "vocab-sized-collect pattern as the hard-EM trainer.",
    tags=("text", "pipeline", "ml"),
)
def text_unigram_em(spark: SparkSession, sf_dir: str) -> DataFrame:
    units = _em_units(spark, sf_dir).cache()
    seed = (
        units.select(
            "c",
            F.explode(
                F.expr(
                    "flatten(transform(sequence(1, length(w)), s -> "
                    f"transform(sequence(1, least({_EM_P}, "
                    "length(w) - s + 1)), "
                    "k -> substring(w, s, k))))"
                )
            ).alias("piece"),
        )
        .groupBy("piece")
        .agg(F.sum("c").cast("bigint").alias("cnt"))
        .collect()
    )
    counts: dict[str, int] = {r["piece"]: int(r["cnt"]) for r in seed}
    vocab = sorted(counts)
    traj: list[tuple] = []
    for it in range(1, _EM_T + 1):
        p_int = _em_probs(counts)
        e_rows = (
            units.mapInPandas(_em_fb_kernel(p_int), "piece string, e bigint")
            .groupBy("piece")
            .agg(F.sum("e").cast("bigint").alias("e"))
            .collect()
        )
        e_of = {r["piece"]: int(r["e"]) for r in e_rows}
        es = {p: e_of.get(p, 0) for p in vocab}
        top_p, top_e = sorted(es.items(), key=lambda pe: (-pe[1], pe[0]))[0]
        traj.append(
            (
                it,
                sum(1 for v in es.values() if v > 0),
                top_p,
                top_e,
                sum(es.values()),
            )
        )
        counts = {p: e // _EM_S for p, e in es.items()}
    units.unpersist()
    return spark.createDataFrame(
        traj,
        "it int, n_active bigint, top_piece string, top_e bigint, "
        "sum_e bigint",
    ).orderBy("it")
