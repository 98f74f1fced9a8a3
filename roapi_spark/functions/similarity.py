"""Similarity search over an embedding column (array<float>), its
recall audits, and lexical retrieval.

- ``knn_bruteforce``: exact cosine top-k, the correctness baseline. The
  query set broadcasts; the corpus never shuffles — per-partition score +
  global top-k (k small). This is the right plan even at 100 TB: cost is
  one full scan per query batch.
- ``ann_ivf_label``: IVF-style two-stage search — coarse centroids (here
  the pre-clustered ``label`` as the inverted-list key), probe the nearest
  centroid(s), exact-search only those lists.
- ``ann_ivf_kmeans``: the same IVF shape with a *real* coarse quantizer —
  integer-exact Lloyd's k-means (deterministic, fully oracle-checked), the
  clustering a production layout would bucket/partition the corpus by.
- ``ann_lsh``: random-hyperplane signatures (md5-derived, deterministic) —
  bucketed candidate generation over integer-quantized vectors, so the
  projection signs are exact and the query has a full DuckDB oracle.

- recall audits (``q_ann_recall``, ``q_lsh_recall`` and their variants;
  the PQ ones sit next to their builders in ``pq.py``) score every ANN
  index against the exact baseline;
  ``q_cluster_purity`` and ``q_embedding_dim_stats`` audit the quantizer
  and the embedding columns.
- lexical retrieval: the inverted index, TF-IDF key terms and BM25
  (recomputed, and served from a persisted index).

All vector math is JVM-side higher-order functions (zip_with/aggregate) —
no Python in the hot path.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from roapi_spark.functions.text import TOKENS_DUCK, docs, tokens_col
from roapi_spark.plans.registry import QUERIES, register
from roapi_spark.plans.util import maybe_broadcast
from roapi_spark.util import pround, serve_persist


N_QUERIES = 5
TOP_K = 5


def emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet")).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v"), "label"
    )


def dot_expr(a: str, b: str) -> Column:
    return F.aggregate(
        F.zip_with(F.col(a), F.col(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm_expr(a: str) -> Column:
    return F.sqrt(F.aggregate(F.col(a), F.lit(0.0), lambda acc, x: acc + x * x))


def cosine_expr(a: str, b: str) -> Column:
    # try_divide, not /: under ANSI mode (Spark 4 default — the driver's
    # plain session) a zero-norm vector would throw DIVIDE_BY_ZERO and
    # kill the whole query; NULL instead falls below every threshold and
    # sorts last in every rank window
    return F.try_divide(dot_expr(a, b), norm_expr(a) * norm_expr(b))


@register(
    "knn_bruteforce",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < {N_QUERIES}),
    scored AS (
      SELECT q.qid, e.vec_id AS neighbor_id,
             LIST_COSINE_SIMILARITY(q.qv, e.v) AS cs
      FROM q JOIN e ON e.vec_id <> q.qid
    ),
    ranked AS (
      SELECT qid, neighbor_id, ROUND(cs, 4) AS cos_sim,
             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY ROUND(cs, 4) DESC, neighbor_id) AS rnk
      FROM scored
    )
    SELECT qid, neighbor_id, cos_sim, CAST(rnk AS BIGINT) AS rnk
    FROM ranked WHERE rnk <= {TOP_K}
    """,
    doc="Exact brute-force cosine top-k (query set broadcast; corpus "
    "scanned once, scored map-side, per-group top-k via window).",
    tags=("similarity",),
)
def knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = emb(spark, sf_dir)
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv")
    )
    scored = (
        e.join(F.broadcast(q), F.col("vec_id") != F.col("qid"))
        .withColumn("cs", cosine_expr("qv", "v"))
        .select("qid", F.col("vec_id").alias("neighbor_id"), "cs")
    )
    w = W.partitionBy("qid").orderBy(F.round("cs", 4).desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .select(
            "qid",
            "neighbor_id",
            F.round("cs", 4).alias("cos_sim"),
            F.col("rnk").cast("bigint").alias("rnk"),
        )
    )


@register(
    "ann_ivf_label",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings),
    cent AS (  -- coarse centroids = per-label mean (inverted-list key)
      SELECT label,
             LIST_TRANSFORM(GENERATE_SERIES(1, 64), i ->
               LIST_SUM(LIST_TRANSFORM(LIST(v ORDER BY vec_id), x -> x[i])) / COUNT(*))
               AS c
      FROM e GROUP BY label
    ),
    q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < {N_QUERIES}),
    probe AS (  -- nearest centroid per query
      SELECT qid, label, ROW_NUMBER() OVER (
               PARTITION BY qid
               ORDER BY LIST_COSINE_SIMILARITY(qv, c) DESC, label) AS crnk
      FROM q CROSS JOIN cent
    ),
    cand AS (
      SELECT q.qid, q.qv, e.vec_id AS neighbor_id, e.v
      FROM q JOIN probe p ON p.qid = q.qid AND p.crnk = 1
             JOIN e ON e.label = p.label AND e.vec_id <> q.qid
    ),
    ranked AS (
      SELECT qid, neighbor_id, ROUND(LIST_COSINE_SIMILARITY(qv, v), 4) AS cos_sim,
             ROW_NUMBER() OVER (PARTITION BY qid
               ORDER BY ROUND(LIST_COSINE_SIMILARITY(qv, v), 4) DESC, neighbor_id) AS rnk
      FROM cand
    )
    SELECT qid, neighbor_id, cos_sim, CAST(rnk AS BIGINT) AS rnk
    FROM ranked WHERE rnk <= {TOP_K}
    """,
    doc="IVF-style ANN: probe the nearest coarse centroid (per-label mean), "
    "exact-search only that inverted list — scan cost drops by the number "
    "of lists. At 100 TB the corpus is bucketed (partitioned) by list id, "
    "so a probe reads only matching partitions.",
    tags=("similarity",),
)
def ann_ivf_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = emb(spark, sf_dir)
    # centroids: element-wise mean via posexplode + re-assemble (JVM-side)
    cent = (
        e.select("label", F.posexplode("v").alias("i", "x"))
        .groupBy("label", "i")
        .agg(F.sum("x").alias("sx"), F.count("*").alias("n"))
        .withColumn("m", F.col("sx") / F.col("n"))
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("i", "m"))).m.alias("c"))
    )
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv")
    )
    probe = (
        q.crossJoin(F.broadcast(cent))
        .withColumn(
            "crnk",
            F.row_number().over(
                W.partitionBy("qid").orderBy(
                    cosine_expr("qv", "c").desc(), F.col("label")
                )
            ),
        )
        .filter(F.col("crnk") == 1)
        .select("qid", "qv", F.col("label").alias("probe_label"))
    )
    cand = e.join(
        F.broadcast(probe),
        (F.col("label") == F.col("probe_label")) & (F.col("vec_id") != F.col("qid")),
    ).select("qid", "qv", F.col("vec_id").alias("neighbor_id"), "v")
    w = W.partitionBy("qid").orderBy(
        F.round(cosine_expr("qv", "v"), 4).desc(), F.col("neighbor_id")
    )
    return (
        cand.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .select(
            "qid",
            "neighbor_id",
            F.round(cosine_expr("qv", "v"), 4).alias("cos_sim"),
            F.col("rnk").cast("bigint").alias("rnk"),
        )
    )


def _lsh_planes(n_planes: int = 8, dim: int = 64) -> list[list[int]]:
    """Deterministic md5-derived +/-1 hyperplanes (shared by the Spark
    query and the embedded DuckDB oracle literal)."""
    import hashlib

    return [
        [
            1 if int(hashlib.md5(f"{p}:{d}".encode()).hexdigest()[:8], 16) % 2 else -1
            for d in range(dim)
        ]
        for p in range(n_planes)
    ]


def _lsh_planes_sql() -> str:
    rows = ", ".join(
        f"({p}, {plane})" for p, plane in enumerate(_lsh_planes())
    )
    return f"(VALUES {rows}) AS planes(p, w)"


N_LSH_TABLES = 4  # independent hash tables (union of probes)
N_LSH_PLANES_MULTI = 6  # shorter signatures per table than ann_lsh's 8


def _lsh_planes_multi(
    n_tables: int = N_LSH_TABLES,
    n_planes: int = N_LSH_PLANES_MULTI,
    dim: int = 64,
) -> list[list[list[int]]]:
    """Deterministic +/-1 hyperplanes for L independent LSH tables —
    family ``t`` is seeded md5(f"{t}/{p}:{d}"), disjoint from
    ``_lsh_planes``' seeds so the single-table query is untouched."""
    import hashlib

    return [
        [
            [
                1
                if int(hashlib.md5(f"{t}/{p}:{d}".encode()).hexdigest()[:8], 16) % 2
                else -1
                for d in range(dim)
            ]
            for p in range(n_planes)
        ]
        for t in range(n_tables)
    ]


def _lsh_planes_multi_sql() -> str:
    rows = ", ".join(
        f"({t}, {p}, {plane})"
        for t, fam in enumerate(_lsh_planes_multi())
        for p, plane in enumerate(fam)
    )
    return f"(VALUES {rows}) AS planes(t, p, w)"


def _lsh_sig_expr(planes: list[list[int]]) -> Column:
    """8-bit hyperplane signature over a MATERIALIZED ``vq`` integer
    column (MSB = plane 0): every projection sign is exact integer
    arithmetic, so the build, the client-side query bucketing and the
    DuckDB oracle agree bit-for-bit."""
    plane_arr = F.array(
        *[F.array(*[F.lit(x).cast("bigint") for x in plane]) for plane in planes]
    )
    return F.aggregate(
        F.transform(
            plane_arr,
            lambda plane: F.when(
                F.aggregate(
                    F.zip_with(F.col("vq"), plane, lambda x, w_: x * w_),
                    F.lit(0).cast("bigint"),
                    lambda acc, x: acc + x,
                )
                >= 0,
                F.lit(1),
            ).otherwise(F.lit(0)),
        ),
        F.lit(0),
        lambda acc, bit: acc * 2 + bit,
    )


def bucket_client(vq: list[int], planes: list[list[int]]) -> int:
    """Client-side LSH bucket for QUERY vectors: the same integer plane
    dots and MSB-first bit fold as ``_lsh_sig_expr`` — query sets are
    bounded, and baking the plane-literal tree into Catalyst costs
    driver analysis time per call (the corpus side keeps the JVM
    expression, paid once at layout build)."""
    acc = 0
    for plane in planes:
        dot = sum(x * w for x, w in zip(vq, plane))
        acc = acc * 2 + (1 if dot >= 0 else 0)
    return acc


def _lsh_bucket_serve(
    spark: SparkSession,
    sf_dir: str,
    layout_dir: str,
    fams: list[list[list[int]]],
    multi_table: bool,
) -> DataFrame:
    """Shared LSH probe scaffolding for the single- and multi-table
    layouts: query vectors come off the source table with their
    Spark-computed integer quantization (vec_id pushdown), are bucketed
    client-side per plane family (identical integer math to the layout
    build, none of the plane-literal tree's per-call driver analysis),
    and ONLY the probed (t=,)bucket= directories are read — explicit
    paths with basePath, skipping the all-directories partition
    discovery an IN-list filter would still pay. Cosine is projected
    once and the rank window orders by the computed column (double-eval
    fix, same as ann_ivf_kmeans); multi-table candidates are distinct-ed
    after scoring (duplicate collisions are identical rows, avoiding an
    array-typed distinct on the vector)."""
    qrows = (
        emb(spark, sf_dir)
        .filter(F.col("vec_id") < N_QUERIES)
        .withColumn("vq", vq_col())
        .select("vec_id", "v", "vq")
        .collect()
    )
    qdata = [
        (
            int(r.vec_id),
            [float(x) for x in r.v],
            t,
            bucket_client([int(x) for x in r.vq], fam),
        )
        for r in qrows
        for t, fam in enumerate(fams)
    ]
    if multi_table:
        q = spark.createDataFrame(
            qdata, "qid bigint, qv array<double>, qt int, qb bigint"
        )
        probe_dirs = {
            os.path.join(layout_dir, f"t={t}", f"bucket={b}")
            for _, _, t, b in qdata
        }
        part_cols = [
            F.col("t").cast("int").alias("t"),
            F.col("bucket").cast("bigint").alias("bucket"),
        ]
        cond = (
            (F.col("t") == F.col("qt"))
            & (F.col("bucket") == F.col("qb"))
            & (F.col("vec_id") != F.col("qid"))
        )
    else:
        q = spark.createDataFrame(
            [(qid, qv, b) for qid, qv, _, b in qdata],
            "qid bigint, qv array<double>, qb bigint",
        )
        probe_dirs = {
            os.path.join(layout_dir, f"bucket={b}") for _, _, _, b in qdata
        }
        part_cols = [F.col("bucket").cast("bigint").alias("bucket")]
        cond = (F.col("bucket") == F.col("qb")) & (F.col("vec_id") != F.col("qid"))
    paths = sorted(p for p in probe_dirs if os.path.isdir(p))
    if not paths:  # every probed bucket empty -> empty, schema-stable
        sigs = (
            spark.read.parquet(layout_dir)
            .filter(F.lit(False))
            .select("vec_id", "v", *part_cols)
        )
    else:
        sigs = (
            spark.read.option("basePath", layout_dir)
            .parquet(*paths)
            .select("vec_id", "v", *part_cols)
        )
    cand = sigs.join(F.broadcast(q), cond).select(
        "qid",
        F.col("vec_id").alias("neighbor_id"),
        F.round(cosine_expr("qv", "v"), 4).alias("cos_sim"),
    )
    if multi_table:
        cand = cand.distinct()
    w = W.partitionBy("qid").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id"))
    return (
        cand.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .select(
            "qid",
            "neighbor_id",
            "cos_sim",
            F.col("rnk").cast("bigint").alias("rnk"),
        )
    )


def lsh_layout(spark: SparkSession, sf_dir: str) -> str:
    """Build-once hyperplane-LSH layout: the embedding corpus written as
    parquet partitioned by its 8-bit signature (``bucket=`` directories).

    The 'hash the corpus' half of LSH serving — one signature pass + one
    shuffle-by-bucket write, amortized across every later probe (cache
    key = content-addressed source snapshot via the parquet footer
    digest, same as ``ivf_layout``). A probe then reads ONLY its query
    buckets' directories (a planning-time PartitionFilter), an
    O(corpus/2^planes) scan instead of re-hashing the full corpus per
    query — at 100 TB the bucket directories are the table layout a
    production LSH index materializes anyway."""
    from roapi_spark.functions.snapshot import build_once, snapshot_cache_dir

    src = os.path.join(sf_dir, "embeddings.parquet")
    out = snapshot_cache_dir(src, "lsh-v1")

    def _ready(d: str) -> bool:
        return os.path.exists(os.path.join(d, "_SUCCESS"))

    def _build(tmp: str) -> None:
        planes = _lsh_planes()
        sigs = (
            emb(spark, sf_dir)
            .withColumn("vq", vq_col())
            .withColumn("bucket", _lsh_sig_expr(planes).cast("bigint"))
            .drop("vq")
        )
        # one shuffle by bucket, then each bucket is a contiguous set of
        # parquet files under its own bucket= directory
        sigs.repartition("bucket").write.mode("overwrite").partitionBy(
            "bucket"
        ).parquet(tmp)

    build_once(out, _ready, _build)
    return out


@register(
    "ann_lsh",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS v,
             -- integer quantization: element-wise x*1000+0.5 then FLOOR is
             -- bit-identical across engines (no reduction ordering), so the
             -- plane-side dot products below are exact integer arithmetic
             LIST_TRANSFORM(embedding::DOUBLE[],
                            x -> CAST(FLOOR(x * 1000 + 0.5) AS BIGINT)) AS vq
      FROM embeddings
    ),
    sigs AS (
      SELECT e.vec_id, ANY_VALUE(e.v) AS v,
             CAST(SUM(CASE WHEN LIST_SUM(
                      LIST_TRANSFORM(GENERATE_SERIES(1, 64),
                                     i -> vq[i] * w[i])) >= 0
                  THEN CAST(POWER(2, 7 - p) AS BIGINT) ELSE 0 END) AS BIGINT)
               AS bucket
      FROM e CROSS JOIN {_lsh_planes_sql()}
      GROUP BY e.vec_id
    ),
    q AS (SELECT vec_id AS qid, v AS qv, bucket AS qb
          FROM sigs WHERE vec_id < {N_QUERIES}),
    cand AS (
      SELECT q.qid, q.qv, s.vec_id AS neighbor_id, s.v
      FROM q JOIN sigs s ON s.bucket = q.qb AND s.vec_id <> q.qid
    ),
    ranked AS (
      SELECT qid, neighbor_id, ROUND(LIST_COSINE_SIMILARITY(qv, v), 4) AS cos_sim,
             ROW_NUMBER() OVER (PARTITION BY qid
               ORDER BY ROUND(LIST_COSINE_SIMILARITY(qv, v), 4) DESC, neighbor_id) AS rnk
      FROM cand
    )
    SELECT qid, neighbor_id, cos_sim, CAST(rnk AS BIGINT) AS rnk
    FROM ranked WHERE rnk <= {TOP_K}
    """,
    doc="Random-hyperplane LSH: 8 deterministic md5-derived +/-1 planes -> "
    "8-bit signature; candidates = same bucket; exact re-rank in-bucket. "
    "Bucket join replaces the full cross product. Signatures use integer-"
    "quantized vectors (floor(x*1000+0.5)) so the sign of every projection "
    "is exact integer arithmetic — no fp-order sensitivity, full oracle. "
    "Serving goes through the build-once ``lsh_layout``: the corpus is "
    "hashed once per snapshot into bucket-partitioned parquet, query "
    "vectors are bucketed client-side (bounded integer math), and the "
    "candidate read lists only the probed bucket= directories.",
    tags=("similarity",),
)
def ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _lsh_bucket_serve(
        spark, sf_dir, lsh_layout(spark, sf_dir), [_lsh_planes()], multi_table=False
    )


def lsh_multi_layout(spark: SparkSession, sf_dir: str) -> str:
    """Build-once multi-table LSH layout: the corpus replicated into
    L independent hash tables, parquet-partitioned by (t, bucket).

    This is the standard fix for single-table LSH's recall cliff (the
    measured 0.00 recall@5 in docs/SCALE.md): L shorter signatures give
    each true neighbor L chances to collide — recall 1-(1-p^k)^L — at
    the cost of L x the index storage and L probed buckets per query,
    which is exactly the knob a production LSH deployment turns. Same
    content-addressed snapshot cache as ``lsh_layout``."""
    from roapi_spark.functions.snapshot import build_once, snapshot_cache_dir

    src = os.path.join(sf_dir, "embeddings.parquet")
    out = snapshot_cache_dir(src, "lshmulti-v1")

    def _ready(d: str) -> bool:
        return os.path.exists(os.path.join(d, "_SUCCESS"))

    def _build(tmp: str) -> None:
        fams = _lsh_planes_multi()
        sigs = (
            emb(spark, sf_dir)
            .withColumn("vq", vq_col())
            .select(
                "vec_id",
                "v",
                F.explode(
                    F.array(
                        *[
                            F.struct(
                                F.lit(t).alias("t"),
                                _lsh_sig_expr(fam).cast("bigint").alias("bucket"),
                            )
                            for t, fam in enumerate(fams)
                        ]
                    )
                ).alias("tb"),
            )
            .select("vec_id", "v", F.col("tb.t").alias("t"), F.col("tb.bucket").alias("bucket"))
        )
        sigs.repartition("t", "bucket").write.mode("overwrite").partitionBy(
            "t", "bucket"
        ).parquet(tmp)

    build_once(out, _ready, _build)
    return out


@register(
    "ann_lsh_multi",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS v,
             LIST_TRANSFORM(embedding::DOUBLE[],
                            x -> CAST(FLOOR(x * 1000 + 0.5) AS BIGINT)) AS vq
      FROM embeddings
    ),
    sigs AS (
      SELECT e.vec_id, t,
             CAST(SUM(CASE WHEN LIST_SUM(
                      LIST_TRANSFORM(GENERATE_SERIES(1, 64),
                                     i -> vq[i] * w[i])) >= 0
                  THEN CAST(POWER(2, {N_LSH_PLANES_MULTI - 1} - p) AS BIGINT)
                  ELSE 0 END) AS BIGINT) AS bucket
      FROM e CROSS JOIN {_lsh_planes_multi_sql()}
      GROUP BY e.vec_id, t
    ),
    q AS (SELECT s.vec_id AS qid, s.t, s.bucket AS qb
          FROM sigs s WHERE s.vec_id < {N_QUERIES}),
    cand AS (
      SELECT DISTINCT q.qid, s.vec_id AS neighbor_id
      FROM q JOIN sigs s ON s.t = q.t AND s.bucket = q.qb AND s.vec_id <> q.qid
    ),
    scored AS (
      SELECT c.qid, c.neighbor_id,
             ROUND(LIST_COSINE_SIMILARITY(eq.v, en.v), 4) AS cos_sim
      FROM cand c
        JOIN e eq ON eq.vec_id = c.qid
        JOIN e en ON en.vec_id = c.neighbor_id
    ),
    ranked AS (
      SELECT qid, neighbor_id, cos_sim,
             ROW_NUMBER() OVER (PARTITION BY qid
               ORDER BY cos_sim DESC, neighbor_id) AS rnk
      FROM scored
    )
    SELECT qid, neighbor_id, cos_sim, CAST(rnk AS BIGINT) AS rnk
    FROM ranked WHERE rnk <= {TOP_K}
    """,
    doc=f"Multi-table LSH: {N_LSH_TABLES} independent "
    f"{N_LSH_PLANES_MULTI}-plane families, candidates = union of the "
    "query's bucket across tables (distinct before re-rank), exact "
    "cosine top-k — the standard recall fix for single-table LSH "
    "(ann_lsh measures 0.00 recall@5; this is the L-tables knob a "
    "production deployment turns, at L x index storage). Serving reads "
    "the build-once (t, bucket)-partitioned ``lsh_multi_layout``; query "
    "vectors are bucketed client-side per family with the same exact "
    "integer math.",
    tags=("similarity",),
)
def ann_lsh_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _lsh_bucket_serve(
        spark,
        sf_dir,
        lsh_multi_layout(spark, sf_dir),
        _lsh_planes_multi(),
        multi_table=True,
    )


@register(
    "knn_bruteforce_pandas",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < {N_QUERIES}),
    scored AS (
      SELECT q.qid, e.vec_id AS neighbor_id,
             LIST_COSINE_SIMILARITY(q.qv, e.v) AS cs
      FROM q JOIN e ON e.vec_id <> q.qid
    ),
    ranked AS (
      SELECT qid, neighbor_id, ROUND(cs, 4) AS cos_sim,
             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY ROUND(cs, 4) DESC, neighbor_id) AS rnk
      FROM scored
    )
    SELECT qid, neighbor_id, cos_sim, CAST(rnk AS BIGINT) AS rnk
    FROM ranked WHERE rnk <= {TOP_K}
    """,
    doc="Brute-force cosine top-k via an Arrow-batched mapInPandas kernel "
    "(numpy matrix product per batch) — the vectorized-Python alternative "
    "to the JVM higher-order-function plan in knn_bruteforce; same "
    "semantics, same oracle. Queries ship to workers inside the closure "
    "(tiny); corpus still scans once.",
    tags=("similarity", "pandas-udf"),
)
def knn_bruteforce_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    e = emb(spark, sf_dir)
    qrows = e.filter(F.col("vec_id") < N_QUERIES).select("vec_id", "v").collect()
    qids = np.array([r.vec_id for r in qrows], dtype=np.int64)
    Q = np.array([r.v for r in qrows], dtype=np.float64)
    Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.array(pdf["v"].tolist(), dtype=np.float64)
            Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
            cs = Vn @ Qn.T  # (batch, n_queries)
            ids = pdf["vec_id"].to_numpy()
            out = pd.DataFrame(
                {
                    "qid": np.repeat(qids, len(ids)),
                    "neighbor_id": np.tile(ids, len(qids)),
                    "cs": cs.T.reshape(-1),
                }
            )
            yield out[out.qid != out.neighbor_id]

    scored = e.select("vec_id", "v").mapInPandas(
        score, "qid bigint, neighbor_id bigint, cs double"
    )
    w = W.partitionBy("qid").orderBy(F.round("cs", 4).desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .select(
            "qid",
            "neighbor_id",
            F.round("cs", 4).alias("cos_sim"),
            F.col("rnk").cast("bigint").alias("rnk"),
        )
    )


# -- k-means IVF (the scale path's real coarse quantizer) ------------------

K_LISTS = 8
KM_ITERS = 2
DIM = 64
# Lloyd's iterations fit on a deterministic 1-in-4 sample (vec_id % 4 == 0)
# — the standard sampled/mini-batch fit: at 100 TB you never run assignment
# passes over the full corpus just to move centroids.  Only the final
# assignment (the inverted-list build) scans everything.
KM_SAMPLE_MOD = 4


def vq_col() -> Column:
    # integer quantization (same grid as ann_lsh): every arithmetic step of
    # the k-means below is exact integer math, so Spark and the DuckDB
    # oracle produce bit-identical assignments
    return F.transform(F.col("v"), lambda x: F.floor(x * 1000 + F.lit(0.5)).cast("bigint"))


def assign_client(vq: list[int], cents: list[tuple[int, list[int]]]) -> int:
    """Exact-integer client-side coarse assignment for QUERY vectors:
    the same (distance, cid) ordering as ``assign_expr`` / the oracle's
    ROW_NUMBER (full squared distance differs from the reduced form only
    by the per-vector constant ``||x||^2``). Query sets are bounded, and
    baking the k*dim literal tree into Catalyst costs ~1.5 s of driver
    analysis PER CALL — the corpus-side assignment (ivf_layout build)
    keeps the JVM expression, where it runs distributed once per
    snapshot."""
    return min(
        ((sum((x - c) * (x - c) for x, c in zip(vq, cv)), cid) for cid, cv in cents)
    )[1]


def assign_expr(cents: list[tuple[int, list[int]]]) -> Column:
    # argmin over (dist, cid) structs — array_min orders by dist then cid,
    # the same tie-break the oracle's ROW_NUMBER uses.  The scored distance
    # is the reduced form ||c||^2 - 2*x.c: the ||x||^2 term is constant per
    # row so the ordering (and the exact-integer tie-breaks) are identical
    # to the oracle's full squared distance, at half the per-element work.
    pairs = F.array(
        *[
            F.struct(
                (
                    F.lit(int(sum(x * x for x in c))).cast("bigint")
                    - 2
                    * F.aggregate(
                        F.zip_with(
                            F.col("vq"),
                            F.array(*[F.lit(int(x)).cast("bigint") for x in c]),
                            lambda x, cc: x * cc,
                        ),
                        F.lit(0).cast("bigint"),
                        lambda acc, y: acc + y,
                    )
                ).alias("d"),
                F.lit(int(cid)).alias("cid"),
            )
            for cid, c in cents
        ]
    )
    return F.array_min(pairs)["cid"]


def kmeans_oracle_prefix() -> str:
    """Unrolled Lloyd's iterations as CTEs (KM_ITERS assignment+update
    rounds) ending in ``af(vec_id, cid)``, the final assignment; centroid
    components are floor(int_sum/count) so every engine computes the
    identical integer grid.  Shared by the ann and dedup oracles."""
    dist = (
        "LIST_SUM(LIST_TRANSFORM(GENERATE_SERIES(1, {dim}), "
        "i -> (e.vq[i] - c.c[i]) * (e.vq[i] - c.c[i])))"
    ).format(dim=DIM)
    parts = [
        f"""e AS (
      SELECT vec_id, embedding::DOUBLE[] AS v,
             LIST_TRANSFORM(embedding::DOUBLE[],
                            x -> CAST(FLOOR(x * 1000 + 0.5) AS BIGINT)) AS vq
      FROM embeddings),
    c0 AS (SELECT vec_id AS cid, vq AS c FROM e WHERE vec_id < {K_LISTS})"""
    ]
    for it in range(1, KM_ITERS + 1):
        parts.append(
            f"""a{it} AS (
      SELECT vec_id, vq, cid FROM (
        SELECT e.vec_id, e.vq, c.cid,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                 ORDER BY {dist}, c.cid) AS rn
        FROM e CROSS JOIN c{it - 1} c
        WHERE e.vec_id % {KM_SAMPLE_MOD} = 0) WHERE rn = 1),
    c{it} AS (
      SELECT cid, LIST(m ORDER BY i) AS c FROM (
        SELECT cid, i,
               CAST(FLOOR(CAST(SUM(vq[i]) AS DOUBLE) / COUNT(*)) AS BIGINT) AS m
        FROM a{it}, GENERATE_SERIES(1, {DIM}) AS g(i)
        GROUP BY cid, i) GROUP BY cid)"""
        )
    parts.append(
        f"""af AS (
      SELECT vec_id, cid FROM (
        SELECT e.vec_id, c.cid,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                 ORDER BY {dist}, c.cid) AS rn
        FROM e CROSS JOIN c{KM_ITERS} c) WHERE rn = 1)"""
    )
    return ",\n    ".join(parts)


def _kmeans_oracle_sql() -> str:
    return f"""
    WITH {kmeans_oracle_prefix()},
    q AS (
      SELECT af.vec_id AS qid, e.v AS qv, af.cid AS qcid
      FROM af JOIN e USING (vec_id) WHERE vec_id < {N_QUERIES}),
    cand AS (
      SELECT q.qid, q.qv, af.vec_id AS neighbor_id, e.v
      FROM q JOIN af ON af.cid = q.qcid AND af.vec_id <> q.qid
      JOIN e ON e.vec_id = af.vec_id),
    ranked AS (
      SELECT qid, neighbor_id, ROUND(LIST_COSINE_SIMILARITY(qv, v), 4) AS cos_sim,
             ROW_NUMBER() OVER (PARTITION BY qid
               ORDER BY ROUND(LIST_COSINE_SIMILARITY(qv, v), 4) DESC, neighbor_id) AS rnk
      FROM cand)
    SELECT qid, neighbor_id, cos_sim, CAST(rnk AS BIGINT) AS rnk
    FROM ranked WHERE rnk <= {TOP_K}
    """


def kmeans_fit(spark: SparkSession, sf_dir: str) -> list[tuple[int, list[int]]]:
    """Fit the coarse quantizer: Lloyd's on the 1-in-KM_SAMPLE_MOD sample,
    returning the final (cid, centroid) list — k*dim ints on the driver."""
    # quantized corpus is read by 3+ jobs (init + per-iteration updates) —
    # materialize it once
    eq = emb(spark, sf_dir).withColumn("vq", vq_col()).localCheckpoint(eager=False)
    cents = sorted(
        (r.vec_id, list(r.vq))
        for r in eq.filter(F.col("vec_id") < K_LISTS).select("vec_id", "vq").collect()
    )
    fit = eq.filter(F.col("vec_id") % KM_SAMPLE_MOD == 0)
    for _ in range(KM_ITERS):
        assigned = fit.withColumn("cid", assign_expr(cents))
        upd = (
            assigned.select("cid", F.posexplode("vq").alias("i", "x"))
            .groupBy("cid", "i")
            .agg(F.sum("x").alias("sx"), F.count("*").alias("n"))
            .withColumn("m", F.floor(F.col("sx") / F.col("n")).cast("bigint"))
            .groupBy("cid")
            .agg(F.array_sort(F.collect_list(F.struct("i", "m"))).m.alias("c"))
        )
        cents = sorted((r.cid, list(r.c)) for r in upd.collect())
    return cents


def kmeans_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, v, label, cid): the corpus with its final k-means list id —
    checkpointed, since callers fan multiple jobs out of it."""
    cents = kmeans_fit(spark, sf_dir)
    return (
        emb(spark, sf_dir)
        .withColumn("vq", vq_col())
        .withColumn("cid", assign_expr(cents))
        .drop("vq")
        .localCheckpoint(eager=False)
    )


IVF_LAYOUT_VERSION = "v3"  # v3: + per-cell sizes (_cells.json)


def ivf_layout(
    spark: SparkSession, sf_dir: str
) -> tuple[str, list[tuple[int, list[int]]]]:
    """Build-once inverted-file layout for ``sf_dir``: the embedding corpus
    written as parquet partitioned by its k-means list id (``cid=``
    directories), plus the fitted centroids persisted next to it.

    This is the 'build the index' half of IVF — one k-means fit + one
    shuffle-by-cid write, amortized across every later probe (cache key =
    content-addressed source snapshot via the parquet footer digest, so a
    regenerated corpus invalidates it even when size+mtime are preserved,
    and a pure mtime touch reuses it). At 100 TB the same layout is the
    table's partitioning scheme and the fit runs once per corpus
    snapshot, not per query."""
    import json

    from roapi_spark.functions.snapshot import build_once, snapshot_cache_dir

    src = os.path.join(sf_dir, "embeddings.parquet")
    out = snapshot_cache_dir(src, f"ivf-{IVF_LAYOUT_VERSION}")
    cent_path = os.path.join(out, "_centroids.json")

    def _ready(d: str) -> bool:
        return (
            os.path.exists(os.path.join(d, "_SUCCESS"))
            and os.path.exists(os.path.join(d, "_centroids.json"))
            and os.path.exists(os.path.join(d, "_cells.json"))
        )

    def _build(tmp: str) -> None:
        cents = kmeans_fit(spark, sf_dir)
        assigned = (
            emb(spark, sf_dir)
            .withColumn("vq", vq_col())
            .withColumn("cid", assign_expr(cents))
            .drop("vq")
        )
        # one shuffle by cid, then each inverted list is a contiguous set
        # of parquet files under its own cid= directory
        assigned.repartition("cid").write.mode("overwrite").partitionBy(
            "cid"
        ).parquet(tmp)
        with open(os.path.join(tmp, "_centroids.json"), "w") as f:
            json.dump(cents, f)
        # per-cell sizes (K_LISTS rows, from the layout just written):
        # consumers gate degenerate cells as a PARTITION FILTER instead of
        # re-aggregating the layout per query
        sizes = {
            int(r.cid): int(r.n)
            for r in spark.read.parquet(tmp)
            .groupBy("cid")
            .agg(F.count("*").alias("n"))
            .collect()
        }
        with open(os.path.join(tmp, "_cells.json"), "w") as f:
            json.dump(sizes, f)

    build_once(out, _ready, _build)
    with open(cent_path) as f:
        cents = [(int(c), [int(x) for x in v]) for c, v in json.load(f)]
    return out, cents


def ivf_cell_sizes(layout_dir: str) -> dict[int, int]:
    """Per-cell member counts persisted at layout build time."""
    import json

    with open(os.path.join(layout_dir, "_cells.json")) as f:
        return {int(k): int(v) for k, v in json.load(f).items()}


@register(
    "ann_ivf_kmeans",
    oracle=_kmeans_oracle_sql(),
    doc="IVF with a real k-means coarse quantizer (Lloyd's, "
    f"{KM_ITERS} iterations, k={K_LISTS}) instead of the pre-clustered "
    "label: integer-quantized vectors make every assignment/update step "
    "exact integer math, so the unrolled DuckDB oracle reproduces the "
    "clustering bit-for-bit. Centroids fit on a deterministic 1-in-"
    f"{KM_SAMPLE_MOD} sample (map-side distances against broadcast-literal "
    "centroids; updates shuffle only k*dim partial sums — the driver holds "
    "k*dim ints, never data). Serving goes through ``ivf_layout``: the "
    "corpus is materialized once as cid-partitioned parquet, query vectors "
    "are quantized against the persisted centroids (vec_id pushdown on the "
    "source scan), and the candidate read lists only the probed cid= "
    "partitions — an O(corpus/k) scan per probe instead of a full pass.",
    tags=("similarity",),
)
def ann_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    layout_dir, cents = ivf_layout(spark, sf_dir)
    # Probe side: the N query vectors come off the source table (vec_id
    # predicate pushed to the parquet scan) and are assigned to their list
    # with the persisted centroids — k*dim literal ints, the same
    # quantize-the-query step every IVF serving system does client-side.
    qrows = (
        emb(spark, sf_dir)
        .filter(F.col("vec_id") < N_QUERIES)
        .withColumn("vq", vq_col())
        .select("vec_id", "v", "vq")
        .collect()
    )
    # client-side quantization (assign_client): identical integer math,
    # none of assign_expr's per-call driver analysis cost
    qass = [(r, assign_client([int(x) for x in r.vq], cents)) for r in qrows]
    q = spark.createDataFrame(
        [(int(r.vec_id), [float(x) for x in r.v], int(qcid)) for r, qcid in qass],
        "qid bigint, qv array<double>, qcid bigint",
    )
    probe_cids = sorted({qcid for _, qcid in qass})
    # Candidate side: static IN-list on the partition column -> partition
    # pruning at planning time; only the probed lists' files are read.
    cand_src = spark.read.parquet(layout_dir).filter(F.col("cid").isin(probe_cids))
    # cosine projected ONCE, then the rank window orders by the computed
    # column — referencing the fold in both orderBy and output would
    # evaluate it twice per candidate (same fix as dedup_embedding_cosine)
    cand = cand_src.join(
        F.broadcast(q),
        (F.col("cid") == F.col("qcid")) & (F.col("vec_id") != F.col("qid")),
    ).select(
        "qid",
        F.col("vec_id").alias("neighbor_id"),
        F.round(cosine_expr("qv", "v"), 4).alias("cos_sim"),
    )
    w = W.partitionBy("qid").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id"))
    return (
        cand.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .select(
            "qid",
            "neighbor_id",
            "cos_sim",
            F.col("rnk").cast("bigint").alias("rnk"),
        )
    )


@register(
    "q_embedding_outliers",
    oracle="""
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
    cent AS (
      SELECT label, LIST(m ORDER BY i) AS c FROM (
        SELECT label, i, AVG(v[i]) AS m
        FROM e, GENERATE_SERIES(1, 64) AS g(i)
        GROUP BY label, i) GROUP BY label),
    d AS (
      SELECT e.vec_id, e.label,
             ROUND(SQRT(LIST_SUM(LIST_TRANSFORM(GENERATE_SERIES(1, 64),
                    i -> (e.v[i] - c.c[i]) * (e.v[i] - c.c[i])))), 4) AS dist
      FROM e JOIN cent c USING (label)),
    r AS (
      SELECT vec_id, label, dist,
             ROW_NUMBER() OVER (PARTITION BY label
                                ORDER BY dist DESC, vec_id) AS rnk
      FROM d)
    SELECT label, vec_id, dist AS dist_to_centroid, CAST(rnk AS BIGINT) AS rnk
    FROM r WHERE rnk <= 3
    """,
    doc="Embedding outlier mining for data curation: per-label centroid "
    "(exact per-dimension mean via posexplode + partial agg), each "
    "vector's L2 distance to its own centroid, top-3 farthest per label. "
    "The centroid table is label-count-sized, so the join back to the "
    "corpus broadcasts at any scale; distances are JVM-side zip_with.",
    tags=("similarity", "quality"),
)
def q_embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = emb(spark, sf_dir)
    comp = e.select("label", F.posexplode("v").alias("i", "x"))
    cent = (
        comp.groupBy("label", "i")
        .agg(F.avg("x").alias("m"))
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("i", "m"))).m.alias("c"))
    )
    j = e.join(cent, "label")
    dist = F.round(
        F.sqrt(
            F.aggregate(
                F.zip_with("v", "c", lambda x, c: (x - c) * (x - c)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        ),
        4,
    )
    d = j.select("vec_id", "label", dist.alias("dist"))
    w = W.partitionBy("label").orderBy(F.desc("dist"), F.asc("vec_id"))
    return (
        d.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select(
            "label",
            "vec_id",
            F.col("dist").alias("dist_to_centroid"),
            F.col("rnk").cast("bigint").alias("rnk"),
        )
    )


# -- multi-probe IVF (nprobe > 1: the standard recall lever) ----------------

N_PROBE = 2


def _nprobe_oracle_sql() -> str:
    dist = (
        "LIST_SUM(LIST_TRANSFORM(GENERATE_SERIES(1, {dim}), "
        "i -> (q.vq[i] - c.c[i]) * (q.vq[i] - c.c[i])))"
    ).format(dim=DIM)
    return f"""
    WITH {kmeans_oracle_prefix()},
    q AS (
      SELECT vec_id AS qid, v AS qv, vq FROM e WHERE vec_id < {N_QUERIES}),
    probes AS (
      SELECT qid, cid FROM (
        SELECT q.qid, c.cid,
               ROW_NUMBER() OVER (PARTITION BY q.qid
                 ORDER BY {dist}, c.cid) AS rn
        FROM (SELECT qid, vq FROM q) q CROSS JOIN c{KM_ITERS} c)
      WHERE rn <= {N_PROBE}),
    cand AS (
      SELECT q.qid, q.qv, af.vec_id AS neighbor_id, e.v
      FROM q JOIN probes p ON p.qid = q.qid
      JOIN af ON af.cid = p.cid AND af.vec_id <> q.qid
      JOIN e ON e.vec_id = af.vec_id),
    ranked AS (
      SELECT qid, neighbor_id, ROUND(LIST_COSINE_SIMILARITY(qv, v), 4) AS cos_sim,
             ROW_NUMBER() OVER (PARTITION BY qid
               ORDER BY ROUND(LIST_COSINE_SIMILARITY(qv, v), 4) DESC, neighbor_id) AS rnk
      FROM cand)
    SELECT qid, neighbor_id, cos_sim, CAST(rnk AS BIGINT) AS rnk
    FROM ranked WHERE rnk <= {TOP_K}
    """


@register(
    "ann_ivf_nprobe",
    oracle=_nprobe_oracle_sql(),
    doc=f"Multi-probe IVF (nprobe={N_PROBE}): each query vector probes its "
    f"{N_PROBE} nearest k-means cells instead of one — the standard "
    "recall/latency dial every IVF system exposes (a vector near a cell "
    "boundary finds neighbors that quantized into the adjacent list). "
    "Cell ranking is the same exact-integer distance as assignment, "
    "computed client-side from the persisted centroids; the candidate "
    "scan still carries a static cid IN-list, so partition pruning reads "
    f"only the probed lists ({N_PROBE}/{K_LISTS} of the corpus per query).",
    tags=("similarity",),
)
def ann_ivf_nprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    layout_dir, cents = ivf_layout(spark, sf_dir)
    qrows = (
        emb(spark, sf_dir)
        .filter(F.col("vec_id") < N_QUERIES)
        .withColumn("vq", vq_col())
        .select("vec_id", "v", "vq")
        .collect()
    )
    # rank cells per query with the same exact integer distance the fit
    # uses (client-side: k x dim ints against <= N_QUERIES query vectors)
    probe_rows = []
    for r in qrows:
        vq = [int(x) for x in r.vq]
        by_dist = sorted(
            (sum((x - c) * (x - c) for x, c in zip(vq, cv)), cid)
            for cid, cv in cents
        )
        for _, cid in by_dist[:N_PROBE]:
            probe_rows.append((int(r.vec_id), [float(x) for x in r.v], int(cid)))
    q = spark.createDataFrame(
        probe_rows, "qid bigint, qv array<double>, probe_cid bigint"
    )
    probe_cids = sorted({cid for _, _, cid in probe_rows})
    cand_src = spark.read.parquet(layout_dir).filter(F.col("cid").isin(probe_cids))
    cand = cand_src.join(
        F.broadcast(q),
        (F.col("cid") == F.col("probe_cid")) & (F.col("vec_id") != F.col("qid")),
    ).select("qid", "qv", F.col("vec_id").alias("neighbor_id"), "v")
    w = W.partitionBy("qid").orderBy(
        F.round(cosine_expr("qv", "v"), 4).desc(), F.col("neighbor_id")
    )
    return (
        cand.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .select(
            "qid",
            "neighbor_id",
            F.round(cosine_expr("qv", "v"), 4).alias("cos_sim"),
            F.col("rnk").cast("bigint").alias("rnk"),
        )
    )


MIN_DF = 10
POSTINGS_CAP = 50


@register(
    "q_inverted_index",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id,
             unnest(list_distinct({TOKENS_DUCK})) AS token
      FROM documents
    )
    SELECT token, CAST(COUNT(*) AS BIGINT) AS df,
           array_to_string(
             list_slice(LIST(doc_id ORDER BY doc_id), 1, {POSTINGS_CAP}),
             ',') AS postings
    FROM tok GROUP BY token HAVING COUNT(*) >= {MIN_DF}
    """,
    doc="Inverted-index (posting list) construction: distinct (token, "
    f"doc_id) pairs, grouped by token with df >= {MIN_DF} and postings "
    f"capped at {POSTINGS_CAP} ids. The shuffle key is the token; at "
    "100 TB the full lists would be range-bucketed by token instead of "
    "capped — the cap here bounds result-row width, not the build. "
    "Postings are emitted as a ','-joined string (like q_array_agg) so "
    "every comparison harness can sort/hash the frame.",
    tags=("text",),
)
def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = docs(spark, sf_dir)
    tok = d.select(
        "doc_id",
        F.explode(F.array_distinct(tokens_col())).alias("token"),
    )
    return (
        tok.groupBy("token")
        .agg(
            F.count("*").cast("bigint").alias("df"),
            F.array_join(
                F.transform(
                    F.slice(F.array_sort(F.collect_list("doc_id")), 1, POSTINGS_CAP),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("postings"),
        )
        .filter(F.col("df") >= MIN_DF)
    )


@register(
    "text_tfidf_topk",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest({TOKENS_DUCK}) AS term FROM documents
    ), tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term
    ), dfreq AS (
      SELECT term, COUNT(*) AS df FROM tf GROUP BY term
    ), n AS (
      SELECT COUNT(*) AS n_docs FROM documents
    ), scored AS (
      SELECT tf.doc_id, tf.term,
             CAST(tf.tf AS BIGINT) AS tf,
             CAST(dfreq.df AS BIGINT) AS df,
             FLOOR(tf.tf * LN((n.n_docs + 1.0) / (dfreq.df + 1.0)) * 10000
                   + 0.5) / 10000.0 AS score
      FROM tf JOIN dfreq USING (term) CROSS JOIN n
    ), ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                   ORDER BY score DESC, term ASC) AS rank
      FROM scored
    )
    SELECT doc_id, term, tf, df, score, CAST(rank AS BIGINT) AS rank
    FROM ranked WHERE rank <= 3
    """,
    doc="Per-document top-3 TF-IDF keyterms: TF shuffle on (doc_id, term), "
    "DF shuffle on term (vocabulary-sized output), corpus count as a "
    "1-row cross join, per-doc ranking window. The canonical two-stage "
    "term-weighting plan; DF output is zipf-bounded so the re-join is "
    "cheap at any corpus size.",
    tags=("text", "pipeline"),
)
def text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = docs(spark, sf_dir).select(
        "doc_id", F.explode(tokens_col()).alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    n = docs(spark, sf_dir).agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(maybe_broadcast(dfreq), "term")
        .crossJoin(F.broadcast(n))  # 1 row — always broadcastable
        .select(
            "doc_id",
            "term",
            F.col("tf").cast("bigint").alias("tf"),
            F.col("df").cast("bigint").alias("df"),
            pround(
                F.col("tf")
                * F.log((F.col("n_docs") + F.lit(1.0)) / (F.col("df") + F.lit(1.0)))
            ).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= 3)
    )


@register(
    "q_embedding_dim_stats",
    oracle="""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    stats AS (
      SELECT i - 1 AS dim,
             FLOOR(AVG(v[i]) * 10000 + 0.5) / 10000.0 AS mean,
             FLOOR(VAR_POP(v[i]) * 10000 + 0.5) / 10000.0 AS variance
      FROM e, GENERATE_SERIES(1, 64) AS g(i)
      GROUP BY i
    )
    SELECT CAST(dim AS BIGINT) AS dim, mean, variance
    FROM stats ORDER BY variance DESC, dim ASC LIMIT 8
    """,
    doc="Embedding-dimension audit for collapsed/dead dimensions: "
    "per-dimension mean and population variance (posexplode is map-side; "
    "the shuffle carries `dim` partial moments, output is dim rows), "
    "top-8 highest-variance dimensions. The check a curation pipeline "
    "runs before trusting cosine distances.",
    tags=("similarity", "quality"),
)
def q_embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    e = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet")).select(
        F.col("embedding").cast("array<double>").alias("v")
    )
    return (
        e.select(F.posexplode("v").alias("dim", "x"))
        .groupBy("dim")
        .agg(
            pround(F.avg("x")).alias("mean"),
            pround(F.var_pop("x")).alias("variance"),
        )
        .orderBy(F.col("variance").desc(), F.col("dim").asc())
        .limit(8)
        .select(F.col("dim").cast("bigint").alias("dim"), "mean", "variance")
    )


# -- ANN recall audit --------------------------------------------------------


def recall_oracle(query_name: str) -> str:
    """Compose any registered approximate-search query's oracle with the
    exact brute-force oracle as nested CTEs (DuckDB allows a WITH inside
    a CTE body) into ONE recall@TOP_K audit — the single source of the
    overlap/rounding recipe for every per-family recall query. Call it
    after ``query_name`` has registered (each audit sits below its
    builder)."""
    approx = QUERIES[query_name].oracle
    exact = QUERIES["knn_bruteforce"].oracle
    return f"""
    WITH approx AS ({approx}), exact AS ({exact}),
    ov AS (
      SELECT i.qid, COUNT(*) AS hits
      FROM approx i JOIN exact e ON e.qid = i.qid AND e.neighbor_id = i.neighbor_id
      GROUP BY i.qid
    ),
    q AS (SELECT DISTINCT qid FROM exact)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
           FLOOR(AVG(COALESCE(ov.hits, 0) / {float(TOP_K)}) * 10000 + 0.5) / 10000.0
             AS recall_at_5
    FROM q LEFT JOIN ov USING (qid)
    """


def ann_recall_pair(spark, sf_dir, ann_df):

    # the exact top-5 feeds BOTH the overlap join and the query-set
    # distinct: persist the (N_QUERIES x TOP_K)-row result so the
    # brute-force self-join runs once per recall audit, not twice
    # (guide §5; fixes all six q_*_recall gates)
    exact = serve_persist(
        knn_bruteforce(spark, sf_dir).select("qid", "neighbor_id")
    )
    ov = (
        ann_df.select("qid", "neighbor_id")
        .join(exact, ["qid", "neighbor_id"])
        .groupBy("qid")
        .agg(F.count("*").alias("hits"))
    )
    q = exact.select("qid").distinct()
    return q.join(ov, "qid", "left").agg(
        F.count("*").cast("bigint").alias("n_queries"),
        pround(
            F.avg(F.coalesce("hits", F.lit(0)) / F.lit(float(TOP_K)))
        ).alias("recall_at_5"),
    )


@register(
    "q_ann_recall",
    oracle=recall_oracle("ann_ivf_kmeans"),
    doc="ANN recall audit: recall@5 of the IVF-k-means search against "
    "the exact brute-force top-5 — THE number an ANN deployment tunes "
    "nprobe/list-count by. Composes the two registered operators (IVF "
    "serves from its partition-pruned layout; brute force scans once); "
    "the overlap join and average touch N_QUERIES rows.",
    tags=("similarity", "audit"),
)
def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ann_recall_pair(spark, sf_dir, ann_ivf_kmeans(spark, sf_dir))


@register(
    "q_ann_recall_nprobe",
    oracle=recall_oracle("ann_ivf_nprobe"),
    doc="Recall@5 of the multi-probe IVF variant — paired with "
    "q_ann_recall (single probe) this is the nprobe dial measured: more "
    "probed lists, higher recall, more rows scanned (the ivf_probed_rows "
    "figure in docs/SCALE.md).",
    tags=("similarity", "audit"),
)
def q_ann_recall_nprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ann_recall_pair(spark, sf_dir, ann_ivf_nprobe(spark, sf_dir))


@register(
    "q_lsh_recall",
    oracle=recall_oracle("ann_lsh"),
    doc="Recall@5 of the hyperplane-LSH search against the exact "
    "brute-force top-5 — the quality axis for the hashing index family, "
    "completing the per-family audit trio (IVF: q_ann_recall/_nprobe; "
    "LSH: here; PQ: q_pq_recall). A single 8-bit signature family trades "
    "recall for a 1/2^8 expected bucket scan; this query is the measured "
    "price. Same N_QUERIES-bounded overlap join as the IVF audits.",
    tags=("similarity", "audit"),
)
def q_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ann_recall_pair(spark, sf_dir, ann_lsh(spark, sf_dir))


@register(
    "q_lsh_multi_recall",
    oracle=recall_oracle("ann_lsh_multi"),
    doc="Recall@5 of the multi-table LSH search — the after picture to "
    "q_lsh_recall's single-table 0.00: L independent tables give each "
    "true neighbor L collision chances (1-(1-p^k)^L), the measured value "
    "of the L-tables knob. Same N_QUERIES-bounded overlap join.",
    tags=("similarity", "audit"),
)
def q_lsh_multi_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ann_recall_pair(spark, sf_dir, ann_lsh_multi(spark, sf_dir))


# BM25 constants (the standard Robertson/Lucene defaults)
BM25_K1 = 1.2
BM25_B = 0.75
N_QUERY_DOCS = 5  # doc_id < 5 are the query set, like knn's vec_id rule
BM25_TOPK = 10


_BM25_ORACLE = f"""
    WITH toks AS (
      SELECT doc_id, unnest({TOKENS_DUCK}) AS term FROM documents
    ), tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM toks
      WHERE doc_id >= {N_QUERY_DOCS} GROUP BY doc_id, term
    ), dl AS (
      SELECT doc_id, CAST(SUM(tf) AS DOUBLE) AS dl FROM tf GROUP BY doc_id
    ), stats AS (
      SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dl
    ), dfreq AS (
      SELECT term, COUNT(*) AS df FROM tf GROUP BY term
    ), qterms AS (
      SELECT DISTINCT doc_id AS qid, term FROM toks
      WHERE doc_id < {N_QUERY_DOCS}
    ), contrib AS (
      SELECT q.qid, tf.doc_id,
             LN((stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1.0)
               * tf.tf * ({BM25_K1} + 1.0)
               / (tf.tf + {BM25_K1} * (1.0 - {BM25_B}
                                       + {BM25_B} * dl.dl / stats.avgdl))
               AS c
      FROM qterms q
      JOIN dfreq USING (term)
      JOIN tf ON tf.term = q.term
      JOIN dl ON dl.doc_id = tf.doc_id
      CROSS JOIN stats
    ), scored AS (
      SELECT qid, doc_id,
             FLOOR(SUM(c) * 10000 + 0.5) / 10000.0 AS score
      FROM contrib GROUP BY qid, doc_id
    ), ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                                   ORDER BY score DESC, doc_id ASC) AS rank
      FROM scored
    )
    SELECT qid, doc_id, score, CAST(rank AS BIGINT) AS rank
    FROM ranked WHERE rank <= {BM25_TOPK}
    """


@register(
    "q_bm25_topk",
    oracle=_BM25_ORACLE,
    doc="BM25 top-10 retrieval: the first 5 documents are the query set, "
    "the rest the corpus. Plan: one (doc_id, term)-keyed tf shuffle "
    "feeding df + doclen aggregates (vocabulary / corpus-row bounded), "
    "query-term x posting-list equi-join on term (query side broadcast), "
    "doc-keyed score agg, per-query top-k window over query-count-bounded "
    "rows. Same query-set convention as knn_bruteforce (doc_id < 5).",
    tags=("text", "retrieval", "pipeline"),
)
def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = docs(spark, sf_dir).select(
        "doc_id", F.explode(tokens_col()).alias("term")
    )
    tf = (
        toks.filter(F.col("doc_id") >= N_QUERY_DOCS)
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    dl = tf.groupBy("doc_id").agg(F.sum("tf").cast("double").alias("dl"))
    stats = dl.agg(
        F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    qterms = (
        toks.filter(F.col("doc_id") < N_QUERY_DOCS)
        .select(F.col("doc_id").alias("qid"), "term")
        .distinct()
    )
    contrib = (
        qterms.join(maybe_broadcast(dfreq), "term")
        .join(tf, "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))  # 1 row
        .select(
            "qid",
            "doc_id",
            (
                F.log(
                    (F.col("n_docs") - F.col("df") + F.lit(0.5))
                    / (F.col("df") + F.lit(0.5))
                    + F.lit(1.0)
                )
                * F.col("tf")
                * F.lit(BM25_K1 + 1.0)
                / (
                    F.col("tf")
                    + F.lit(BM25_K1)
                    * (
                        F.lit(1.0 - BM25_B)
                        + F.lit(BM25_B) * F.col("dl") / F.col("avgdl")
                    )
                )
            ).alias("c"),
        )
    )
    scored = contrib.groupBy("qid", "doc_id").agg(pround(F.sum("c")).alias("score"))
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= BM25_TOPK)
    )


# ---------------------------------------------------------------------------
# The serve-path half of BM25. q_bm25_topk above recomputes
# tokenization + three aggregates from raw text on every call — the right
# shape for a one-shot batch score, the wrong one for a retrieval endpoint.
# bm25_index materializes the classic inverted index once per corpus
# snapshot (content-addressed via the parquet footer digest, same lifecycle
# as ivf_layout / the LSH pair graphs); q_bm25_topk_served answers from it.

N_PBUCKETS = 64  # term-hash partition fan-out of the postings layout


def bm25_index(spark: SparkSession, sf_dir: str) -> tuple[str, int, float]:
    """Build-once BM25 inverted index for ``sf_dir``: postings parquet
    (term, doc_id, tf, dl — doc length denormalized onto every posting so
    serving never joins a doc-keyed table) partitioned by ``pb =
    crc32(term) % N_PBUCKETS``, a document-frequency table, and the two
    scalar stats. The pb partitioning is what makes serving an INDEX READ
    instead of a scan: a query's terms map to a handful of pb values, so
    the FileScan carries PartitionFilters and reads only those posting
    shards. Returns (layout dir, n_docs, avgdl)."""
    import json

    from roapi_spark.functions.snapshot import build_once, snapshot_cache_dir

    src = os.path.join(sf_dir, "documents.parquet")
    out = snapshot_cache_dir(src, "bm25-v1")

    def _ready(d: str) -> bool:
        return os.path.exists(os.path.join(d, "_BM25_READY"))

    def _build(tmp: str) -> None:
        toks = docs(spark, sf_dir).select(
            "doc_id", F.explode(tokens_col()).alias("term")
        )
        tf = (
            toks.filter(F.col("doc_id") >= N_QUERY_DOCS)
            .groupBy("doc_id", "term")
            .agg(F.count("*").alias("tf"))
        )
        dl = tf.groupBy("doc_id").agg(F.sum("tf").cast("double").alias("dl"))
        postings = (
            tf.join(dl, "doc_id")
            .withColumn("pb", F.crc32(F.col("term")) % N_PBUCKETS)
        )
        postings.repartition("pb").write.mode("overwrite").partitionBy(
            "pb"
        ).parquet(os.path.join(tmp, "postings"))
        # dfreq and the scalar stats derive from the postings JUST
        # written, not from tf's lazy lineage: re-running that lineage
        # would pay the corpus tokenize + tf shuffle (the dominant build
        # cost) three times instead of once — the compacted postings are
        # orders of magnitude smaller than the raw text
        pdf = spark.read.parquet(os.path.join(tmp, "postings"))
        pdf.groupBy("term").agg(F.count("*").alias("df")).write.mode(
            "overwrite"
        ).parquet(os.path.join(tmp, "dfreq"))
        n_docs, avgdl = (
            pdf.groupBy("doc_id")
            .agg(F.first("dl").alias("dl"))
            .agg(F.count("*"), F.avg("dl"))
            .first()
        )
        with open(os.path.join(tmp, "_stats.json"), "w") as f:
            json.dump(
                {"n_docs": int(n_docs), "avgdl": float(avgdl or 0.0)}, f
            )
        open(os.path.join(tmp, "_BM25_READY"), "w").close()

    build_once(out, _ready, _build)
    with open(os.path.join(out, "_stats.json")) as f:
        st = json.load(f)
    return out, int(st["n_docs"]), float(st["avgdl"])


@register(
    "q_bm25_topk_served",
    oracle=_BM25_ORACLE,
    doc="Same result contract as q_bm25_topk (identical oracle), served "
    "from the build-once bm25-v1 inverted index instead of re-scoring raw "
    "text: query-doc terms (a bounded set — the query docs' vocabulary, "
    "same bounded-driver-state rule as knn's query vectors) resolve to "
    "crc32 partition buckets, so the postings FileScan carries "
    "PartitionFilters and touches only the probed shards; df joins "
    "broadcast, scores aggregate per doc, WindowGroupLimit takes top-k. "
    "At 100 TB this is the retrieval-endpoint plan: the tokenize+aggregate "
    "cost is paid once per corpus snapshot, not per query.",
    tags=("text", "retrieval", "pipeline", "artifact"),
)
def q_bm25_topk_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    layout, n_docs, avgdl = bm25_index(spark, sf_dir)
    qterms = (
        docs(spark, sf_dir)
        .filter(F.col("doc_id") < N_QUERY_DOCS)
        .select(F.col("doc_id").alias("qid"), F.explode(tokens_col()).alias("term"))
        .distinct()
    )
    # the probed bucket set: bounded by the query docs' vocabulary (the
    # only driver-side state, same contract as knn/IVF query collects)
    pbs = sorted(
        {int(r.pb) for r in qterms.select(
            (F.crc32(F.col("term")) % N_PBUCKETS).alias("pb")
        ).distinct().collect()}
    )
    # explicit probe paths, not an IN-list PartitionFilter: partition
    # DISCOVERY would still list all N_PBUCKETS directories per call (a
    # parallel listing job that costs more than the probe — same finding
    # as the ann_lsh layout); a pb with no directory has no postings
    pdir = os.path.join(layout, "postings")
    probe_paths = [
        p for b in pbs if os.path.isdir(p := os.path.join(pdir, f"pb={b}"))
    ]
    if not probe_paths:
        postings = spark.read.parquet(pdir).filter(F.lit(False))
    else:
        postings = spark.read.option("basePath", pdir).parquet(*probe_paths)
    dfreq = spark.read.parquet(os.path.join(layout, "dfreq"))
    contrib = (
        postings.join(F.broadcast(qterms), "term")
        .join(maybe_broadcast(dfreq), "term")
        .select(
            "qid",
            "doc_id",
            (
                F.log(
                    (F.lit(n_docs) - F.col("df") + F.lit(0.5))
                    / (F.col("df") + F.lit(0.5))
                    + F.lit(1.0)
                )
                * F.col("tf")
                * F.lit(BM25_K1 + 1.0)
                / (
                    F.col("tf")
                    + F.lit(BM25_K1)
                    * (F.lit(1.0 - BM25_B) + F.lit(BM25_B) * F.col("dl") / F.lit(avgdl))
                )
            ).alias("c"),
        )
    )
    scored = contrib.groupBy("qid", "doc_id").agg(pround(F.sum("c")).alias("score"))
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= BM25_TOPK)
    )


def _cluster_purity_oracle() -> str:
    return f"""
    WITH {kmeans_oracle_prefix()},
    cl AS (
      SELECT af.cid, em.label, COUNT(*) AS c
      FROM af JOIN embeddings em ON em.vec_id = af.vec_id
      GROUP BY af.cid, em.label
    ), tot AS (
      SELECT cid, SUM(c) AS n FROM cl GROUP BY cid
    )
    SELECT cl.cid, CAST(MAX(tot.n) AS BIGINT) AS n_members,
           CAST(COUNT(*) AS BIGINT) AS n_labels,
           FLOOR(MAX(cl.c) * 1.0 / MAX(tot.n) * 10000 + 0.5) / 10000.0
             AS purity,
           FLOOR(-SUM((cl.c * 1.0 / tot.n) * LN(cl.c * 1.0 / tot.n))
                 * 10000 + 0.5) / 10000.0 AS label_entropy
    FROM cl JOIN tot USING (cid)
    GROUP BY cl.cid
    ORDER BY cl.cid
    """


@register(
    "q_cluster_purity",
    oracle=_cluster_purity_oracle(),
    doc="Quantizer-quality audit: label purity (majority-label share) and "
    "label entropy per learned k-means cell, read off the persisted IVF "
    "layout — the check run before trusting centroid-blocked dedup or "
    "IVF probes (a low-purity, high-entropy cell means the coarse "
    "quantizer is mixing semantic neighborhoods). Serve path: one "
    "(cid,label) agg over the cid-partitioned layout, then K_LISTS-sized "
    "joins; the k-means fit itself is the amortized build-once artifact, "
    "and the full pipeline is DuckDB-oracle-checked.",
    tags=("similarity", "quality", "pipeline"),
)
def q_cluster_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    layout_dir, _ = ivf_layout(spark, sf_dir)
    cl = (
        spark.read.parquet(layout_dir)
        .groupBy("cid", "label")
        .agg(F.count("*").alias("c"))
    )
    tot = cl.groupBy("cid").agg(F.sum("c").alias("n"))
    p = F.col("c") * F.lit(1.0) / F.col("n")
    return (
        cl.join(maybe_broadcast(tot), "cid")
        .groupBy("cid")
        .agg(
            F.max("n").cast("bigint").alias("n_members"),
            F.count("*").cast("bigint").alias("n_labels"),
            pround(F.max("c") * F.lit(1.0) / F.max("n")).alias("purity"),
            pround(-F.sum(p * F.log(p))).alias("label_entropy"),
        )
        .select("cid", "n_members", "n_labels", "purity", "label_entropy")
        .orderBy("cid")
    )
