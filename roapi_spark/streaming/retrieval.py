"""Streaming retrieval: score ARRIVING documents against the static
BM25 inverted index (`roapi_spark.functions.similarity.bm25_index`).

This is the online half of the retrieval story: the index is the
once-per-corpus-snapshot artifact; new documents (queries, candidate
passages, monitoring probes) stream in and each micro-batch scores them
with two STREAM-STATIC equi-joins — the static side is the pb-
partitioned postings layout, so Spark plans an ordinary broadcast/hash
join per micro-batch with no stream-stream state. Per-query-doc term
dedup happens IN-ROW (``array_distinct`` before the explode), so the
only stateful operator is the final (qid, doc_id) score aggregation —
update-mode, keyed by a pair whose rows all arrive within the one
micro-batch that carried the query doc.

Top-k selection is left to the consumer (streaming row_number is not
supported by Structured Streaming; a downstream batch read of the sink
applies the same WindowGroupLimit as the batch query).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

DOCS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
        StructField("source", StringType()),
        StructField("n_chars", LongType()),
    ]
)


def stream_docs(spark: SparkSession, path: str, fmt: str = "json") -> DataFrame:
    return spark.readStream.schema(DOCS_SCHEMA).format(fmt).load(path)


def bm25_score_stream(
    stream: DataFrame, spark: SparkSession, sf_dir: str
) -> DataFrame:
    """(qid, doc_id, score) per arriving document against the bm25-v1
    index of ``sf_dir`` — identical scores to the batch
    ``q_bm25_topk_served`` before its top-k cut (same constants, same
    rounding)."""
    from roapi_spark.functions.similarity import BM25_B, BM25_K1, bm25_index
    from roapi_spark.functions.text import tokens_col
    from roapi_spark.util import pround

    layout, n_docs, avgdl = bm25_index(spark, sf_dir)
    postings = spark.read.parquet(os.path.join(layout, "postings"))
    dfreq = spark.read.parquet(os.path.join(layout, "dfreq"))
    qt = stream.select(
        F.col("doc_id").alias("qid"),
        F.explode(F.array_distinct(tokens_col())).alias("term"),
    )
    contrib = (
        qt.join(postings, "term")  # stream-static: no streaming state
        .join(dfreq, "term")
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
                    * (
                        F.lit(1.0 - BM25_B)
                        + F.lit(BM25_B) * F.col("dl") / F.lit(avgdl)
                    )
                )
            ).alias("c"),
        )
    )
    return contrib.groupBy("qid", "doc_id").agg(
        pround(F.sum("c")).alias("score")
    )


def perplexity_score_stream(
    stream: DataFrame, spark: SparkSession, sf_dir: str
) -> DataFrame:
    """(doc_id, n_bigrams, bits_per_bigram) per arriving document,
    scored against the static bigram LM of ``sf_dir``
    (`roapi_spark.functions.quality.bigram_lm_index`) — the online
    quality gate of a CCNet-style ingest: the LM count tables are the
    once-per-corpus-snapshot artifact, each micro-batch scores its docs
    with two STREAM-STATIC equi-joins (bc on the bigram, uc on the
    context), and the only stateful operator is the final per-doc
    aggregation (update-mode, all rows of a doc arrive in its own
    micro-batch). Identical numbers to the batch
    ``q_ngram_perplexity_served`` before its top-50 cut (same smoothing
    constants, same rounding; per-instance summation differs from the
    batch's grouped n*log only in float association, absorbed by the
    4-decimal rounding)."""
    from roapi_spark.functions.quality import bigram_lm_index, bigrams_over, lm_bits_expr
    from roapi_spark.functions.text import tokens_col
    from roapi_spark.util import pround

    out, v = bigram_lm_index(spark, sf_dir)
    bc = spark.read.parquet(os.path.join(out, "bc"))
    uc = spark.read.parquet(os.path.join(out, "uc"))
    bgs = stream.select("doc_id", tokens_col().alias("w")).select(
        "doc_id", F.explode(bigrams_over("w")).alias("bg")
    )
    contrib = (
        bgs.select("doc_id", F.col("bg.prev").alias("prev"), F.col("bg.cur").alias("cur"))
        .join(bc, ["prev", "cur"], "left")
        .join(uc, "prev", "left")
        .select(
            "doc_id",
            lm_bits_expr(
                F.coalesce(F.col("c2"), F.lit(0)),
                F.coalesce(F.col("c1"), F.lit(0)),
                F.lit(v),
            ).alias("bits"),
        )
    )
    return contrib.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_bigrams"),
        pround(F.sum("bits") / F.count("*")).alias("bits_per_bigram"),
    )


VECS_SCHEMA = StructType(
    [
        StructField("vec_id", LongType()),
        StructField("embedding", ArrayType(DoubleType())),
    ]
)


def stream_vectors(spark: SparkSession, path: str, fmt: str = "json") -> DataFrame:
    return spark.readStream.schema(VECS_SCHEMA).format(fmt).load(path)


def emb_match_stream(
    stream: DataFrame, spark: SparkSession, sf_dir: str, threshold: float = 0.3
) -> DataFrame:
    """(vec_id, match_id, cos_sim) per arriving embedding vector against
    the static IVF layout of ``sf_dir`` — the ANN twin of
    ``streaming.docs.lsh_match_stream``: each micro-batch quantizes its
    vectors with the PERSISTED centroids (the k*dim literal assignment
    expression — note Structured Streaming re-plans the query per
    micro-batch, so the tree's ~1s driver analysis recurs per trigger;
    fine at batch-seconds cadence, and a sub-second-latency deployment
    would pre-quantize upstream or assign client-side in foreachBatch),
    equi-joins its coarse cell's members (stream-static, stateless), and
    emits exact-cosine matches at the dedup threshold. Identical edges
    to the batch ``emb_pairs_cid_cached`` artifact for vectors already
    in the corpus (pinned by the twin test)."""
    from roapi_spark.functions.similarity import (
        assign_expr,
        cosine_expr,
        ivf_layout,
        vq_col,
    )

    layout_dir, cents = ivf_layout(spark, sf_dir)
    static = spark.read.parquet(layout_dir).select(
        F.col("vec_id").alias("match_id"),
        F.col("v").alias("mv"),
        F.col("cid").cast("int").alias("mcid"),
    )
    s = (
        stream.select("vec_id", F.col("embedding").alias("v"))
        .withColumn("vq", vq_col())
        .withColumn("cid", assign_expr(cents))
        .select("vec_id", F.col("v").alias("sv"), "cid")
    )
    cos = F.round(cosine_expr("sv", "mv"), 4)
    return (
        s.join(
            static,
            (F.col("cid") == F.col("mcid")) & (F.col("vec_id") != F.col("match_id")),
        )
        .select("vec_id", "match_id", cos.alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
    )
