"""Product-quantization ANN (ADC — asymmetric distance computation),
the third ANN family next to IVF (similarity.py) and random-hyperplane
LSH: vectors are encoded as M tiny per-subspace codewords, and queries
rank candidates by a table lookup instead of a full-dimension fold
(Jégou et al., "Product Quantization for Nearest Neighbor Search",
TPAMI 2011 — public literature; the reference has no ANN at all).

Exactness design: everything runs on the same integer-quantized grid as
the IVF k-means (floor(x*1000+0.5)), codebooks are a one-step Lloyd's
(seed = first-K subvectors, one integer assignment + floor-mean update),
and ADC distances are integer sums — zero floating point end to end, so
the DuckDB oracle reproduces the ranking bit-for-bit.

Scale notes (100 TB): the code table is M small ints per vector (a
~256x compression of a float64[64] embedding) built map-side against
broadcast-literal codebooks; serving joins the exploded (vec_id, m,
code) table to a broadcast per-query ADC lookup table (N_QUERIES*M*K
rows) and aggregates — shuffle volume is the (tiny) per-pair partial
sums, and the corpus embedding column is never read at query time once
codes are materialized.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from roapi_spark.functions.similarity import (
    N_QUERIES,
    TOP_K,
    ann_recall_pair,
    emb,
    recall_oracle,
    vq_col,
)
from roapi_spark.plans.registry import register

PQ_M = 4        # subspaces
PQ_SUBDIM = 16  # dims per subspace (M * SUBDIM = 64)
PQ_K = 8        # codewords per subspace


def _sub(col, m: int):
    return F.slice(col, m * PQ_SUBDIM + 1, PQ_SUBDIM)


def _argmin_code(subv, codebook: list[list[int]]):
    """argmin_k ||subv - codebook[k]||^2 as exact integer math, ties to
    the lower code id (array_min over (dist, code) structs)."""
    pairs = F.array(
        *[
            F.struct(
                F.aggregate(
                    F.zip_with(
                        subv,
                        # one array literal per codeword (a single py4j
                        # call), not SUBDIM scalar lits — Column
                        # construction cost dominates this operator
                        F.lit([int(x) for x in cw]).cast("array<bigint>"),
                        lambda x, c: (x - c) * (x - c),
                    ),
                    F.lit(0).cast("bigint"),
                    lambda acc, y: acc + y,
                ).alias("d"),
                F.lit(k).alias("code"),
            )
            for k, cw in enumerate(codebook)
        ]
    )
    return F.array_min(pairs)["code"]


def _prepared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, vq, s0..s{M-1}) with a checkpoint barrier after the
    quantize transform and the subspace slices: without it projection
    collapse re-inlines the 64-dim transform into every one of the M*K
    argmin folds (the pitfall documented in SCALE.md "Catalyst pitfalls"
    #1 — measured 75 s -> seconds here)."""
    return (
        emb(spark, sf_dir)
        .withColumn("vq", vq_col())
        .select(
            "vec_id", "vq",
            *[_sub(F.col("vq"), m).alias(f"s{m}") for m in range(PQ_M)],
        )
        .localCheckpoint(eager=False)
    )


def pq_fit(spark: SparkSession, sf_dir: str, eq: DataFrame | None = None) -> list[list[list[int]]]:
    """Per-subspace codebooks: seed = subvectors of vec_id < PQ_K, one
    Lloyd step (integer assignment + floor-mean update). Returns
    codebooks[m][k] = list of PQ_SUBDIM ints — M*K*SUBDIM ints on the
    driver, broadcast as literals everywhere else."""
    if eq is None:
        eq = _prepared(spark, sf_dir)
    seeds = {
        int(r.vec_id): list(r.vq)
        for r in eq.filter(F.col("vec_id") < PQ_K).select("vec_id", "vq").collect()
    }
    books: list[list[list[int]]] = []
    for m in range(PQ_M):
        seed = [seeds[k][m * PQ_SUBDIM : (m + 1) * PQ_SUBDIM] for k in range(PQ_K)]
        assigned = eq.select(
            F.col(f"s{m}").alias("sv"),
            _argmin_code(F.col(f"s{m}"), seed).alias("code"),
        )
        upd = (
            assigned.select("code", F.posexplode("sv").alias("i", "x"))
            .groupBy("code", "i")
            .agg(F.floor(F.sum("x") / F.count("*")).cast("bigint").alias("c"))
            .groupBy("code")
            .agg(F.array_sort(F.collect_list(F.struct("i", "c"))).c.alias("cw"))
        )
        got = {int(r.code): list(r.cw) for r in upd.collect()}
        # a codeword that attracted no points keeps its seed (standard
        # empty-cell handling, deterministic)
        books.append([got.get(k, seed[k]) for k in range(PQ_K)])
    return books


def _pq_oracle_sql() -> str:
    """Unrolled per-subspace one-step Lloyd's + encode + ADC ranking."""
    parts = [
        f"""e AS (
      SELECT vec_id,
             LIST_TRANSFORM(embedding::DOUBLE[],
                            x -> CAST(FLOOR(x * 1000 + 0.5) AS BIGINT)) AS vq
      FROM embeddings)"""
    ]
    dist = (
        "LIST_SUM(LIST_TRANSFORM(GENERATE_SERIES(1, {sd}), "
        "i -> (sv[i] - c.cw[i]) * (sv[i] - c.cw[i])))"
    ).format(sd=PQ_SUBDIM)
    for m in range(PQ_M):
        lo = m * PQ_SUBDIM + 1
        parts.append(
            f"""sv{m} AS (
      SELECT vec_id, vq[{lo}:{lo + PQ_SUBDIM - 1}] AS sv FROM e),
    seed{m} AS (
      SELECT vec_id AS code, sv AS cw FROM sv{m} WHERE vec_id < {PQ_K}),
    pa{m} AS (
      SELECT vec_id, sv, code FROM (
        SELECT s.vec_id, s.sv, c.code,
               ROW_NUMBER() OVER (PARTITION BY s.vec_id
                 ORDER BY {dist}, c.code) AS rn
        FROM sv{m} s CROSS JOIN seed{m} c) WHERE rn = 1),
    upd{m} AS (
      SELECT code, LIST(c ORDER BY i) AS cw FROM (
        SELECT code, i, CAST(FLOOR(CAST(SUM(sv[i]) AS DOUBLE) / COUNT(*)) AS BIGINT) AS c
        FROM pa{m}, GENERATE_SERIES(1, {PQ_SUBDIM}) AS g(i)
        GROUP BY code, i) GROUP BY code),
    book{m} AS (
      SELECT s.code, COALESCE(u.cw, s.cw) AS cw
      FROM seed{m} s LEFT JOIN upd{m} u ON s.code = u.code),
    enc{m} AS (
      SELECT vec_id, code FROM (
        SELECT s.vec_id, c.code,
               ROW_NUMBER() OVER (PARTITION BY s.vec_id
                 ORDER BY {dist}, c.code) AS rn
        FROM sv{m} s CROSS JOIN book{m} c) WHERE rn = 1),
    qt{m} AS (  -- per-query ADC table for subspace {m}
      SELECT s.vec_id AS qid, c.code, {dist} AS d
      FROM sv{m} s CROSS JOIN book{m} c WHERE s.vec_id < {N_QUERIES})"""
        )
    enc_joins = " ".join(
        f"JOIN enc{m} ON enc{m}.vec_id = e.vec_id" for m in range(PQ_M)
    )
    adc = " + ".join(
        f"(SELECT d FROM qt{m} WHERE qt{m}.qid = q.qid AND qt{m}.code = codes.c{m})"
        for m in range(PQ_M)
    )
    parts.append(
        f"""codes AS (
      SELECT e.vec_id, {", ".join(f"enc{m}.code AS c{m}" for m in range(PQ_M))}
      FROM e {enc_joins}),
    q AS (SELECT vec_id AS qid FROM e WHERE vec_id < {N_QUERIES}),
    scored AS (
      SELECT q.qid, codes.vec_id AS neighbor_id, ({adc}) AS adc_dist
      FROM q CROSS JOIN codes WHERE codes.vec_id <> q.qid),
    ranked AS (
      SELECT qid, neighbor_id, adc_dist,
             ROW_NUMBER() OVER (PARTITION BY qid
               ORDER BY adc_dist ASC, neighbor_id) AS rnk
      FROM scored)"""
    )
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f"""
    SELECT qid, neighbor_id, CAST(adc_dist AS BIGINT) AS adc_dist,
           CAST(rnk AS BIGINT) AS rnk
    FROM ranked WHERE rnk <= {TOP_K}
    """
    )


def pq_layout(spark: SparkSession, sf_dir: str) -> tuple[str, list[list[list[int]]]]:
    """Build-once PQ index: the per-subspace codebooks (json) and the
    corpus code table (parquet, M small ints per vector) persisted per
    corpus snapshot (content-addressed key like ``similarity.ivf_layout``).
    At 100 TB the code table IS the served index — ~256x smaller than the
    embedding column, rebuilt only when the corpus snapshot changes."""
    import json
    import os

    from roapi_spark.functions.snapshot import build_once, snapshot_cache_dir

    src = os.path.join(sf_dir, "embeddings.parquet")
    out = snapshot_cache_dir(src, "pq-v1")

    def _ready(d: str) -> bool:
        return os.path.exists(os.path.join(d, "_SUCCESS")) and os.path.exists(
            os.path.join(d, "_books.json")
        )

    def _build(tmp: str) -> None:
        eq = _prepared(spark, sf_dir)
        books = pq_fit(spark, sf_dir, eq)
        eq.select(
            "vec_id",
            *[
                _argmin_code(F.col(f"s{m}"), books[m]).alias(f"c{m}")
                for m in range(PQ_M)
            ],
        ).write.mode("overwrite").parquet(tmp)
        with open(os.path.join(tmp, "_books.json"), "w") as f:
            json.dump(books, f)

    build_once(out, _ready, _build)
    with open(os.path.join(out, "_books.json")) as f:
        return out, json.load(f)


@register(
    "ann_pq_adc",
    oracle=_pq_oracle_sql(),
    doc=f"Product-quantization ANN with asymmetric distance computation: "
    f"{PQ_M} subspaces x {PQ_K} codewords (one-step integer Lloyd's per "
    "subspace), corpus encoded map-side to M codes per vector, queries "
    "ranked by a broadcast ADC lookup-table join — every distance an "
    "exact integer, so the unrolled oracle reproduces the ranking "
    "bit-for-bit. The code table is ~256x smaller than the embeddings; "
    "at scale, serving never re-reads the embedding column.",
    tags=("similarity",),
)
def ann_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    layout_dir, books = pq_layout(spark, sf_dir)
    codes = spark.read.parquet(layout_dir)
    # per-query ADC tables: N_QUERIES * M * K integer distances, computed
    # on the driver from the collected query vectors (the client-side
    # "build the lookup table" step of every PQ serving system); the
    # query vectors come off the source with vec_id pushdown
    qrows = (
        emb(spark, sf_dir)
        .filter(F.col("vec_id") < N_QUERIES)
        .withColumn("vq", vq_col())
        .select("vec_id", "vq")
        .collect()
    )
    table = []
    for r in qrows:
        vq = list(r.vq)
        for m in range(PQ_M):
            sv = vq[m * PQ_SUBDIM : (m + 1) * PQ_SUBDIM]
            for k, cw in enumerate(books[m]):
                d = sum((int(a) - int(b)) ** 2 for a, b in zip(sv, cw))
                table.append((int(r.vec_id), m, k, d))
    tdf = spark.createDataFrame(table, "qid bigint, m int, code int, d bigint")
    # explode codes to (vec_id, m, code), join the broadcast table, sum
    mcol = F.explode(
        F.array(
            *[
                F.struct(F.lit(m).alias("m"), F.col(f"c{m}").alias("code"))
                for m in range(PQ_M)
            ]
        )
    ).alias("mc")
    exploded = codes.select("vec_id", mcol).select("vec_id", "mc.m", "mc.code")
    scored = (
        exploded.join(F.broadcast(tdf), ["m", "code"])
        .filter(F.col("vec_id") != F.col("qid"))
        .groupBy("qid", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("d").alias("adc_dist"))
    )
    w = W.partitionBy("qid").orderBy(F.col("adc_dist").asc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .select(
            "qid",
            "neighbor_id",
            F.col("adc_dist").cast("bigint").alias("adc_dist"),
            F.col("rnk").cast("bigint").alias("rnk"),
        )
    )


@register(
    "q_pq_recall",
    oracle=recall_oracle("ann_pq_adc"),
    doc="Recall@5 of the product-quantized ADC search against the exact "
    "brute-force top-5 — the measured quantization loss of the ~256x "
    "code compression (the number that justifies, or indicts, M and K "
    "for a corpus). Same N_QUERIES-bounded overlap join as the other "
    "recall audits.",
    tags=("similarity", "audit"),
)
def q_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ann_recall_pair(spark, sf_dir, ann_pq_adc(spark, sf_dir))


def _ivfpq_cte_body() -> str:
    """Shared WITH-body through ``ranked`` (ADC-ordered candidates of the
    query's coarse cell): IVF coarse filter (unrolled k-means,
    similarity.kmeans_oracle_prefix) composed with the PQ encode + ADC
    CTEs."""
    from roapi_spark.functions.similarity import kmeans_oracle_prefix

    pq_part = _pq_oracle_sql()
    # reuse the PQ CTE chain up to (but excluding) its final scored/ranked
    body = pq_part.split("q AS (SELECT vec_id AS qid FROM e WHERE vec_id <")[0]
    body = body.rstrip().rstrip(",")
    # the kmeans prefix also defines an `e` CTE (vq grid) — identical
    # definition, so rename the PQ copy's references by dropping its `e`
    # and reusing the prefix's. The PQ body's first CTE IS `e`; strip it.
    body = body.split("WITH ", 1)[1]
    body = body.split("),", 1)[1]  # drop the leading `e AS (...)` CTE
    return f"""{kmeans_oracle_prefix()},
    {body},
    q AS (
      SELECT af.vec_id AS qid, af.cid AS qcid FROM af WHERE af.vec_id < {N_QUERIES}),
    codesq AS (
      SELECT c.*, af.cid FROM codes c JOIN af ON af.vec_id = c.vec_id),
    scored AS (
      SELECT q.qid, codesq.vec_id AS neighbor_id,
             ({" + ".join(
                 f"(SELECT d FROM qt{m} WHERE qt{m}.qid = q.qid AND qt{m}.code = codesq.c{m})"
                 for m in range(PQ_M)
             )}) AS adc_dist
      FROM q JOIN codesq ON codesq.cid = q.qcid AND codesq.vec_id <> q.qid),
    ranked AS (
      SELECT qid, neighbor_id, adc_dist,
             ROW_NUMBER() OVER (PARTITION BY qid
               ORDER BY adc_dist ASC, neighbor_id) AS rnk
      FROM scored)"""


def _ivfpq_oracle_sql() -> str:
    return f"""
    WITH {_ivfpq_cte_body()}
    SELECT qid, neighbor_id, CAST(adc_dist AS BIGINT) AS adc_dist,
           CAST(rnk AS BIGINT) AS rnk
    FROM ranked WHERE rnk <= {TOP_K}
    """


@register(
    "ann_ivfpq",
    oracle=_ivfpq_oracle_sql(),
    doc="IVF-PQ — the production ANN composition (FAISS's default shape, "
    "Jégou et al. 2011): the k-means coarse quantizer prunes the search "
    "to the query's cid= partition (planning-time partition pruning via "
    "the persisted ivf_layout), and candidates are ranked by the integer "
    "ADC lookup against the persisted pq_layout codes — both artifacts "
    "build once per corpus snapshot, serving reads only the probed "
    "partitions' code rows and never the embedding column. Fully "
    "integer-exact, so the composed oracle (unrolled Lloyd's + PQ "
    "encode + ADC) matches bit-for-bit.",
    tags=("similarity",),
)
def ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    scored, _qrows, _ivf_dir, _probes = _ivfpq_scored(spark, sf_dir)
    w = W.partitionBy("qid").orderBy(F.col("adc_dist").asc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .select(
            "qid",
            "neighbor_id",
            F.col("adc_dist").cast("bigint").alias("adc_dist"),
            F.col("rnk").cast("bigint").alias("rnk"),
        )
    )


def _ivfpq_scored(spark: SparkSession, sf_dir: str):
    """Shared ADC stage: returns (scored DF [qid, neighbor_id, adc_dist],
    query rows with their vq, ivf layout dir, probed cids)."""
    from roapi_spark.functions.similarity import assign_client, ivf_layout

    ivf_dir, cents = ivf_layout(spark, sf_dir)
    pq_dir, books = pq_layout(spark, sf_dir)
    # quantize the queries against the persisted coarse centroids
    # (client-side: same integer math as the layout's assign_expr,
    # without its per-call driver analysis cost)
    qrows = (
        emb(spark, sf_dir)
        .filter(F.col("vec_id") < N_QUERIES)
        .withColumn("vq", vq_col())
        .select("vec_id", "vq")
        .collect()
    )
    qcids = {int(r.vec_id): assign_client([int(x) for x in r.vq], cents) for r in qrows}
    probe_cids = sorted(set(qcids.values()))
    table = []
    for r in qrows:
        vq = list(r.vq)
        for m in range(PQ_M):
            sv = vq[m * PQ_SUBDIM : (m + 1) * PQ_SUBDIM]
            for k, cw in enumerate(books[m]):
                d = sum((int(a) - int(b)) ** 2 for a, b in zip(sv, cw))
                table.append((int(r.vec_id), qcids[int(r.vec_id)], m, k, d))
    tdf = spark.createDataFrame(table, "qid bigint, qcid bigint, m int, code int, d bigint")
    # candidate side: only the probed cid= partitions of the IVF layout,
    # joined to the PQ code table on vec_id
    cand = (
        spark.read.parquet(ivf_dir)
        .filter(F.col("cid").isin(probe_cids))
        .select("vec_id", "cid")
        .join(spark.read.parquet(pq_dir), "vec_id")
    )
    mcol = F.explode(
        F.array(
            *[
                F.struct(F.lit(m).alias("m"), F.col(f"c{m}").alias("code"))
                for m in range(PQ_M)
            ]
        )
    ).alias("mc")
    exploded = cand.select("vec_id", "cid", mcol).select("vec_id", "cid", "mc.m", "mc.code")
    scored = (
        exploded.join(
            F.broadcast(tdf),
            (F.col("cid") == F.col("qcid"))
            & (exploded.m == tdf.m)
            & (exploded.code == tdf.code),
        )
        .filter(F.col("vec_id") != F.col("qid"))
        .groupBy("qid", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("d").alias("adc_dist"))
    )
    return scored, qrows, ivf_dir, probe_cids


RERANK_C = 32  # exact-refine pool per query (FAISS IndexRefineFlat shape)


@register(
    "ann_ivfpq_rerank",
    oracle=f"""
    WITH {_ivfpq_cte_body()},
    cand AS (SELECT qid, neighbor_id FROM ranked WHERE rnk <= {RERANK_C}),
    ex AS (
      SELECT c.qid, c.neighbor_id,
             LIST_SUM(LIST_TRANSFORM(GENERATE_SERIES(1, 64),
               i -> (eq.vq[i] - en.vq[i]) * (eq.vq[i] - en.vq[i])))
               AS exact_dist
      FROM cand c
      JOIN e eq ON eq.vec_id = c.qid
      JOIN e en ON en.vec_id = c.neighbor_id),
    rr AS (
      SELECT qid, neighbor_id, exact_dist,
             ROW_NUMBER() OVER (PARTITION BY qid
               ORDER BY exact_dist ASC, neighbor_id) AS rnk
      FROM ex)
    SELECT qid, neighbor_id, CAST(exact_dist AS BIGINT) AS exact_dist,
           CAST(rnk AS BIGINT) AS rnk
    FROM rr WHERE rnk <= {TOP_K}
    """,
    doc="IVF-PQ with exact re-ranking (FAISS IndexRefineFlat shape; "
    f"Jégou et al. 2011 §V.D): the ADC stage shortlists {RERANK_C} "
    "candidates per query from the probed coarse cell, then ONLY those "
    "rows' stored vectors are read back (from the probed cid= "
    "partitions of the IVF layout — partition-pruned, map-side "
    "re-quantize) and re-ranked by exact integer L2. The standard "
    "accuracy-recovery trick: ADC's codebook error can swap near-ties, "
    "and refining a constant-size shortlist fixes the top-k at O(C) "
    "exact distances per query instead of a full scan. Integer-exact "
    "end to end, so the composed oracle matches bit-for-bit.",
    tags=("similarity",),
)
def ann_ivfpq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    scored, qrows, ivf_dir, probe_cids = _ivfpq_scored(spark, sf_dir)
    w = W.partitionBy("qid").orderBy(F.col("adc_dist").asc(), F.col("neighbor_id"))
    cand = (
        scored.withColumn("crnk", F.row_number().over(w))
        .filter(F.col("crnk") <= RERANK_C)
        .select("qid", "neighbor_id")
    )
    # refine side: stored vectors of the probed partitions only,
    # re-quantized map-side (the layout keeps raw embeddings; vq is a
    # narrow projection, no shuffle beyond the candidate join)
    nvq = (
        spark.read.parquet(ivf_dir)
        .filter(F.col("cid").isin(probe_cids))
        .withColumn("nvq", vq_col())
        .select(F.col("vec_id").alias("neighbor_id"), "nvq")
    )
    qdf = spark.createDataFrame(
        [(int(r.vec_id), [int(x) for x in r.vq]) for r in qrows],
        "qid bigint, qvq array<bigint>",
    )
    exact = (
        cand.join(nvq, "neighbor_id")
        .join(F.broadcast(qdf), "qid")
        .withColumn(
            "exact_dist",
            F.aggregate(
                F.zip_with("qvq", "nvq", lambda a, b: (a - b) * (a - b)),
                F.lit(0).cast("bigint"),
                lambda acc, y: acc + y,
            ),
        )
    )
    w2 = W.partitionBy("qid").orderBy(F.col("exact_dist").asc(), F.col("neighbor_id"))
    return (
        exact.withColumn("rnk", F.row_number().over(w2))
        .filter(F.col("rnk") <= TOP_K)
        .select(
            "qid",
            "neighbor_id",
            F.col("exact_dist").cast("bigint").alias("exact_dist"),
            F.col("rnk").cast("bigint").alias("rnk"),
        )
    )


@register(
    "q_pq_rerank_recall",
    oracle=recall_oracle("ann_ivfpq_rerank"),
    doc="Recall@5 of IVF-PQ WITH exact re-ranking — the after picture to "
    "q_pq_recall's raw ADC number: the refine stage re-scores a "
    "constant-size shortlist with exact distances, recovering the "
    "accuracy the code compression threw away at O(C) extra work per "
    "query. Paired with q_pq_recall this is the measured value of the "
    "refine knob. Same N_QUERIES-bounded overlap join.",
    tags=("similarity", "audit"),
)
def q_pq_rerank_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ann_recall_pair(spark, sf_dir, ann_ivfpq_rerank(spark, sf_dir))


# -- SQ8 scalar quantization ------------------------------------------------

SQ_LEVELS = 255  # 8-bit codes 0..255


def _sq8_oracle_sql() -> str:
    from roapi_spark.functions.similarity import DIM

    return f"""
    WITH e AS (
      SELECT vec_id,
             LIST_TRANSFORM(embedding::DOUBLE[],
                            x -> CAST(FLOOR(x * 1000 + 0.5) AS BIGINT)) AS vq
      FROM embeddings
    ),
    mm AS (
      SELECT t.i, MIN(e.vq[t.i]) AS lo, MAX(e.vq[t.i]) AS hi
      FROM e CROSS JOIN UNNEST(GENERATE_SERIES(1, {DIM})) AS t(i)
      GROUP BY t.i
    ),
    codes AS (
      SELECT e.vec_id,
             LIST(CASE WHEN mm.hi > mm.lo
                  THEN CAST(FLOOR((e.vq[t.i] - mm.lo) * {SQ_LEVELS}
                            / CAST(mm.hi - mm.lo AS DOUBLE)) AS BIGINT)
                  ELSE 0 END ORDER BY mm.i) AS cq
      FROM e CROSS JOIN UNNEST(GENERATE_SERIES(1, {DIM})) AS t(i)
        JOIN mm ON mm.i = t.i
      GROUP BY e.vec_id
    ),
    q AS (SELECT vec_id AS qid, cq AS qcq FROM codes
          WHERE vec_id < {N_QUERIES}),
    scored AS (
      SELECT q.qid, c.vec_id AS neighbor_id,
             LIST_SUM(LIST_TRANSFORM(GENERATE_SERIES(1, {DIM}),
               i -> (q.qcq[i] - c.cq[i]) * (q.qcq[i] - c.cq[i]))) AS sq_dist
      FROM q JOIN codes c ON c.vec_id <> q.qid
    ),
    ranked AS (
      SELECT qid, neighbor_id, sq_dist,
             ROW_NUMBER() OVER (PARTITION BY qid
               ORDER BY sq_dist, neighbor_id) AS rnk
      FROM scored
    )
    SELECT qid, neighbor_id, CAST(sq_dist AS BIGINT) AS sq_dist,
           CAST(rnk AS BIGINT) AS rnk
    FROM ranked WHERE rnk <= {TOP_K}
    """


def sq8_layout(spark: SparkSession, sf_dir: str) -> str:
    """Build-once SQ8 code layout: per-dimension [lo, hi] learned in one
    posexplode aggregate pass, vectors encoded to 8-bit codes, persisted
    per corpus snapshot (content-addressed key). Serving reads codes
    only — the embedding column is never touched at query time."""
    import os

    from roapi_spark.functions.similarity import DIM
    from roapi_spark.functions.snapshot import (
        build_once,
        parquet_ready,
        snapshot_cache_dir,
    )

    src = os.path.join(sf_dir, "embeddings.parquet")
    out = snapshot_cache_dir(src, "sq8-v1")
    if parquet_ready(out):
        return out
    e = emb(spark, sf_dir).withColumn("vq", vq_col())
    mm = (
        e.select(F.posexplode("vq").alias("i", "x"))
        .groupBy("i")
        .agg(F.min("x").alias("lo"), F.max("x").alias("hi"))
        .collect()
    )
    lo = [0] * DIM
    hi = [0] * DIM
    for r in mm:  # posexplode's i is 0-based
        lo[int(r.i)] = int(r.lo)
        hi[int(r.i)] = int(r.hi)
    lo_arr = F.lit(lo).cast("array<bigint>")
    rng_arr = F.lit([h - l for h, l in zip(hi, lo)]).cast("array<bigint>")
    # two chained zip_withs: vq is referenced exactly once, so the
    # quantize transform stays a single pass per row (no projection-
    # collapse re-inlining)
    diff = F.zip_with(F.col("vq"), lo_arr, lambda x, l: x - l)
    cq = F.zip_with(
        diff,
        rng_arr,
        lambda d, r: F.when(
            r > 0, F.floor(d * SQ_LEVELS / r.cast("double")).cast("bigint")
        ).otherwise(F.lit(0).cast("bigint")),
    )
    return build_once(
        out,
        parquet_ready,
        lambda tmp: e.select("vec_id", cq.alias("cq"))
        .write.mode("overwrite")
        .parquet(tmp),
    )



@register(
    "ann_sq8",
    oracle=_sq8_oracle_sql(),
    doc="SQ8 scalar quantization (FAISS's SQ8): per-dimension [lo, hi] "
    "learned in ONE aggregate pass (posexplode + groupBy(dim) — map-side "
    "combine reduces the shuffle to 64 rows/partition, the scale-correct "
    "train step), vectors encoded map-side to 8-bit codes against the "
    "broadcast-literal ranges (4x smaller than the raw column; at 100 TB "
    "the codes are the persisted serving layout), candidates ranked by "
    "integer L2 over codes. Everything runs on the shared integer grid "
    "(floor(x*1000+0.5)), so train, encode, and ranking are exact and "
    "the oracle matches bit-for-bit. Complements PQ (subspace codebooks) "
    "and IVF (partition pruning) as the third quantization family.",
    tags=("similarity",),
)
def ann_sq8(spark: SparkSession, sf_dir: str) -> DataFrame:
    # pure artifact serve: codes only (queries are corpus vectors, so
    # their codes are already in the layout)
    codes = spark.read.parquet(sq8_layout(spark, sf_dir))
    q = codes.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("cq").alias("qcq")
    )
    dist = F.aggregate(
        F.zip_with(F.col("qcq"), F.col("cq"), lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("bigint"),
        lambda acc, y: acc + y,
    )
    scored = (
        codes.join(F.broadcast(q), F.col("vec_id") != F.col("qid"))
        .select("qid", F.col("vec_id").alias("neighbor_id"), dist.alias("sq_dist"))
    )
    w = W.partitionBy("qid").orderBy(F.col("sq_dist").asc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .select(
            "qid",
            "neighbor_id",
            F.col("sq_dist").cast("bigint").alias("sq_dist"),
            F.col("rnk").cast("bigint").alias("rnk"),
        )
    )


def _ivfsq8_oracle_sql() -> str:
    from roapi_spark.functions.similarity import DIM, kmeans_oracle_prefix

    return f"""
    WITH {kmeans_oracle_prefix()},
    mm AS (
      SELECT t.i, MIN(e.vq[t.i]) AS lo, MAX(e.vq[t.i]) AS hi
      FROM e CROSS JOIN UNNEST(GENERATE_SERIES(1, {DIM})) AS t(i)
      GROUP BY t.i
    ),
    codes AS (
      SELECT e.vec_id,
             LIST(CASE WHEN mm.hi > mm.lo
                  THEN CAST(FLOOR((e.vq[t.i] - mm.lo) * {SQ_LEVELS}
                            / CAST(mm.hi - mm.lo AS DOUBLE)) AS BIGINT)
                  ELSE 0 END ORDER BY mm.i) AS cq
      FROM e CROSS JOIN UNNEST(GENERATE_SERIES(1, {DIM})) AS t(i)
        JOIN mm ON mm.i = t.i
      GROUP BY e.vec_id
    ),
    q AS (SELECT af.vec_id AS qid, af.cid AS qcid, c.cq AS qcq
          FROM af JOIN codes c ON c.vec_id = af.vec_id
          WHERE af.vec_id < {N_QUERIES}),
    cand AS (
      SELECT q.qid, q.qcq, c.vec_id AS neighbor_id, c.cq
      FROM q JOIN af a ON a.cid = q.qcid AND a.vec_id <> q.qid
        JOIN codes c ON c.vec_id = a.vec_id
    ),
    scored AS (
      SELECT qid, neighbor_id,
             LIST_SUM(LIST_TRANSFORM(GENERATE_SERIES(1, {DIM}),
               i -> (qcq[i] - cq[i]) * (qcq[i] - cq[i]))) AS sq_dist
      FROM cand
    ),
    ranked AS (
      SELECT qid, neighbor_id, sq_dist,
             ROW_NUMBER() OVER (PARTITION BY qid
               ORDER BY sq_dist, neighbor_id) AS rnk
      FROM scored
    )
    SELECT qid, neighbor_id, CAST(sq_dist AS BIGINT) AS sq_dist,
           CAST(rnk AS BIGINT) AS rnk
    FROM ranked WHERE rnk <= {TOP_K}
    """


@register(
    "ann_ivfsq8",
    oracle=_ivfsq8_oracle_sql(),
    doc="IVF-SQ8 — the second production ANN composition next to IVF-PQ "
    "(FAISS's 'IVF<k>,SQ8'): the k-means coarse quantizer prunes the "
    "search to the query's cid= partition of the persisted ivf_layout, "
    "and candidates are ranked by integer L2 over the persisted SQ8 "
    "codes — both artifacts build once per snapshot; serving joins two "
    "code-sized tables and never touches the embedding column. Fully "
    "integer-exact, so the composed oracle (unrolled Lloyd's + per-dim "
    "range quantization) matches bit-for-bit.",
    tags=("similarity",),
)
def ann_ivfsq8(spark: SparkSession, sf_dir: str) -> DataFrame:
    from roapi_spark.functions.similarity import ivf_layout

    ivf_dir, _cents = ivf_layout(spark, sf_dir)
    codes = spark.read.parquet(sq8_layout(spark, sf_dir))
    assign = spark.read.parquet(ivf_dir).select("vec_id", "cid")
    q = (
        assign.join(codes, "vec_id")
        .filter(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("qid"),
            F.col("cid").alias("qcid"),
            F.col("cq").alias("qcq"),
        )
    )
    probe = [int(r.qcid) for r in q.select("qcid").distinct().collect()]
    # static IN-list -> planning-time partition pruning of the IVF layout
    cand = (
        spark.read.parquet(ivf_dir)
        .filter(F.col("cid").isin(probe))
        .select("vec_id", "cid")
        .join(codes, "vec_id")
        .join(
            F.broadcast(q),
            (F.col("cid") == F.col("qcid")) & (F.col("vec_id") != F.col("qid")),
        )
    )
    dist = F.aggregate(
        F.zip_with(F.col("qcq"), F.col("cq"), lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("bigint"),
        lambda acc, y: acc + y,
    )
    scored = cand.select(
        "qid", F.col("vec_id").alias("neighbor_id"), dist.alias("sq_dist")
    )
    w = W.partitionBy("qid").orderBy(F.col("sq_dist").asc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .select(
            "qid",
            "neighbor_id",
            F.col("sq_dist").cast("bigint").alias("sq_dist"),
            F.col("rnk").cast("bigint").alias("rnk"),
        )
    )
