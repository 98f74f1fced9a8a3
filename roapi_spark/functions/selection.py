"""Data selection: mixtures, importance resampling, splits, shards
and training order.

* Mixtures: per-source resampling (``q_source_mixture``), temperature
  allocation (``q_mixture_allocation``), per-source KL against the
  blend (``q_source_kl``) and per-shard diversity (``q_shard_mixture``).
* DSIR (Xie et al. 2023): hashed-unigram log-likelihood ratios and
  per-document importance weights (``q_dsir_weights``,
  ``q_dsir_select``, ``q_dsir_weights_served``).
* Splits and shards: md5-bucket train/val/test (``q_hash_split``),
  near-duplicate leakage across splits (``q_split_leakage``), domain
  splits (``q_split_by_domain``) and token-budget shard planning
  (``q_token_budget_shards``).
* Audits of the curated output: span-rewrite impact and the end-to-end
  curation funnel.
* Training order: the deterministic shuffle and the easy-to-hard
  curriculum (``q_train_shuffle``, ``q_train_curriculum``).

Every decision is a pure function of md5(doc_id) or of integer counts,
so it replays bit-for-bit on any cluster layout and in the oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from roapi_spark.functions.dedup import SPAN_CTE, dedup_span_rewrite_served
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
    hash_bucket,
    hash_bucket_sql,
    pround,
    pround_sql,
    serve_persist,
)


@register(
    "q_source_mixture",
    oracle="""
    WITH counts AS (
      SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source
    ), rates AS (
      SELECT source, n_docs,
             CAST(LEAST(10000,
                  FLOOR(4.0 * SQRT(n_docs) / n_docs * 10000)) AS BIGINT)
               AS rate_bp
      FROM counts
    ), kept AS (
      SELECT d.source, COUNT(*) AS n_sampled
      FROM documents d JOIN rates r ON d.source = r.source
      WHERE ('0x' || SUBSTR(MD5(d.doc_id::VARCHAR), 1, 8))::BIGINT % 10000
            < r.rate_bp
      GROUP BY d.source
    )
    SELECT r.source,
           CAST(r.n_docs AS BIGINT) AS n_docs,
           r.rate_bp,
           CAST(COALESCE(k.n_sampled, 0) AS BIGINT) AS n_sampled
    FROM rates r LEFT JOIN kept k ON r.source = k.source
    """,
    doc="Deterministic source-mixture resampling (sqrt-temperature "
    "reweighting a la multilingual corpus balancing): per-source keep "
    "rate = min(1, 4*sqrt(n)/n), applied by md5-bucket compare — no RNG, "
    "reproducible on any partitioning. Counts/rates are dimension-sized "
    "and broadcast back onto the corpus; the keep decision is map-side.",
    tags=("text", "sampling", "pipeline"),
)
def q_source_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = docs(spark, sf_dir)
    rates = (
        d.groupBy("source")
        .agg(F.count("*").alias("n_docs"))
        .select(
            "source",
            "n_docs",
            F.least(
                F.lit(10000),
                F.floor(F.lit(4.0) * F.sqrt("n_docs") / F.col("n_docs") * 10000),
            )
            .cast("bigint")
            .alias("rate_bp"),
        )
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast(
            "bigint"
        )
        % 10000
    )
    kept = (
        d.join(maybe_broadcast(rates), "source")
        .filter(bucket < F.col("rate_bp"))
        .groupBy("source")
        .agg(F.count("*").alias("n_sampled"))
    )
    return (
        rates.join(kept, "source", "left")
        .select(
            "source",
            F.col("n_docs").cast("bigint").alias("n_docs"),
            "rate_bp",
            F.coalesce("n_sampled", F.lit(0)).cast("bigint").alias("n_sampled"),
        )
    )


# -- temperature-weighted mixture allocation --------------------------------

MIX_BUDGET_X = 2.0  # token budget = 2x the corpus (some sources epoch >1)
MIX_WSCALE = 1000  # integer-exact weights: floor(sqrt(n_tokens)*1000)


@register(
    "q_mixture_allocation",
    oracle=f"""
    WITH t AS (
      SELECT source, COUNT(*) AS n_docs,
             CAST(SUM(len({TOKENS_DUCK})) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source
    ),
    w AS (
      SELECT *, CAST(FLOOR(SQRT(n_tokens) * {MIX_WSCALE}) AS BIGINT) AS wq
      FROM t
    ),
    s AS (SELECT CAST(SUM(wq) AS BIGINT) AS tot_w,
                 CAST(SUM(n_tokens) AS BIGINT) AS tot_n FROM w)
    SELECT w.source, CAST(w.n_docs AS BIGINT) AS n_docs, w.n_tokens,
           FLOOR(w.wq / CAST(s.tot_w AS DOUBLE) * 10000 + 0.5) / 10000.0
             AS weight,
           CAST(FLOOR({MIX_BUDGET_X} * s.tot_n
                      * (w.wq / CAST(s.tot_w AS DOUBLE))) AS BIGINT)
             AS alloc_tokens,
           CASE WHEN w.n_tokens > 0
                THEN FLOOR({MIX_BUDGET_X} * s.tot_n
                           * (w.wq / CAST(s.tot_w AS DOUBLE))
                           / w.n_tokens * 10000 + 0.5) / 10000.0
                ELSE 0.0 END AS epochs
    FROM w CROSS JOIN s
    """,
    doc="Sampling-mixture allocation: per-source sqrt-temperature weights "
    "(the multilingual/data-mixing standard — upweights small sources) "
    "over a fixed token budget, yielding per-source token allocations and "
    "epoch counts, the table a pretraining data plan is built from. "
    "Weights are integer-quantized (floor(sqrt*1000)) so their sum is "
    "order-independent and the oracle is exact. One tiny per-source agg, "
    "a 1-row broadcast total, map-side arithmetic.",
    tags=("pipeline", "audit"),
)
def q_mixture_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = (
        docs(spark, sf_dir)
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(F.size(tokens_col())).cast("bigint").alias("n_tokens"),
        )
        .withColumn(
            "wq",
            F.floor(F.sqrt(F.col("n_tokens")) * MIX_WSCALE).cast("bigint"),
        )
    )
    s = t.agg(
        F.sum("wq").cast("bigint").alias("tot_w"),
        F.sum("n_tokens").cast("bigint").alias("tot_n"),
    )
    share = F.col("wq") / F.col("tot_w").cast("double")
    alloc = F.lit(MIX_BUDGET_X) * F.col("tot_n") * share
    return t.crossJoin(F.broadcast(s)).select(
        "source",
        "n_docs",
        "n_tokens",
        pround(share).alias("weight"),
        F.floor(alloc).cast("bigint").alias("alloc_tokens"),
        F.when(F.col("n_tokens") > 0, pround(alloc / F.col("n_tokens")))
        .otherwise(0.0)
        .alias("epochs"),
    )


@register(
    "q_source_kl",
    oracle=f"""
    WITH toks AS (
      SELECT source, unnest({TOKENS_DUCK}) AS term FROM documents
    ), st AS (
      SELECT source, term, COUNT(*) AS c FROM toks GROUP BY source, term
    ), ct AS (
      SELECT term, SUM(c) AS cc FROM st GROUP BY term
    ), totals AS (
      SELECT SUM(c) AS n FROM st
    ), stot AS (
      SELECT source, SUM(c) AS ns FROM st GROUP BY source
    )
    SELECT st.source,
           CAST(MAX(stot.ns) AS BIGINT) AS n_tokens,
           FLOOR(SUM((st.c * 1.0 / stot.ns)
                     * LN((st.c * 1.0 / stot.ns) / (ct.cc * 1.0 / totals.n)))
                 * 10000 + 0.5) / 10000.0 AS kl_vs_corpus
    FROM st
    JOIN ct USING (term)
    JOIN stot USING (source)
    CROSS JOIN totals
    GROUP BY st.source
    ORDER BY kl_vs_corpus DESC, source
    """,
    doc="Per-source unigram KL divergence against the corpus mixture "
    "(nats) — the drift diagnostic run before source reweighting. Plan: "
    "one (source,term) agg shuffle; corpus term counts derive from that "
    "aggregate and join back term-keyed (vocabulary-bounded); totals "
    "broadcast as 1-row/source-count stats. Output is one row per source.",
    tags=("text", "mixture", "pipeline"),
)
def q_source_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    st = (
        docs(spark, sf_dir)
        .select("source", F.explode(tokens_col()).alias("term"))
        .groupBy("source", "term")
        .agg(F.count("*").alias("c"))
    )
    ct = st.groupBy("term").agg(F.sum("c").alias("cc"))
    totals = st.agg(F.sum("c").alias("n"))
    stot = st.groupBy("source").agg(F.sum("c").alias("ns"))
    ps = F.col("c") * F.lit(1.0) / F.col("ns")
    q = F.col("cc") * F.lit(1.0) / F.col("n")
    return (
        st.join(maybe_broadcast(ct), "term")
        .join(maybe_broadcast(stot), "source")
        .crossJoin(F.broadcast(totals))
        .groupBy("source")
        .agg(
            F.max("ns").cast("bigint").alias("n_tokens"),
            pround(F.sum(ps * F.log(ps / q))).alias("kl_vs_corpus"),
        )
        .orderBy(F.desc("kl_vs_corpus"), F.asc("source"))
    )


# md5-bucket split bounds out of 100: [0,80) train, [80,90) val, rest test
SPLIT_TRAIN_PCT = 80
SPLIT_VAL_PCT = 90


def split_col(doc_id) -> F.Column:
    """The train/val/test label for a doc id — pure function of
    md5(doc_id), identical across engines/runs/shards. Shared by
    q_hash_split and the leakage audit (q_split_leakage)."""

    b = hash_bucket(doc_id.cast("string"), 100)
    return (
        F.when(b < SPLIT_TRAIN_PCT, "train")
        .when(b < SPLIT_VAL_PCT, "val")
        .otherwise("test")
    )


def split_sql(expr: str) -> str:
    """DuckDB twin of :func:`split_col` for oracle CTEs."""

    b = hash_bucket_sql(f"({expr})::VARCHAR", 100)
    return (
        f"CASE WHEN {b} < {SPLIT_TRAIN_PCT} THEN 'train'"
        f" WHEN {b} < {SPLIT_VAL_PCT} THEN 'val' ELSE 'test' END"
    )


@register(
    "q_hash_split",
    oracle=f"""
    WITH tagged AS (
      SELECT source,
             ('0x' || SUBSTR(MD5(doc_id::VARCHAR), 1, 8))::BIGINT % 100 AS b,
             LEN({TOKENS_DUCK}) AS ntok
      FROM documents
    )
    SELECT CASE WHEN b < {SPLIT_TRAIN_PCT} THEN 'train'
                WHEN b < {SPLIT_VAL_PCT} THEN 'val'
                ELSE 'test' END AS split,
           source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(ntok) AS BIGINT) AS n_tokens
    FROM tagged
    GROUP BY 1, 2
    ORDER BY split, source
    """,
    doc="Deterministic train/val/test assignment: md5(doc_id) -> bucket "
    f"0..99, [0,{SPLIT_TRAIN_PCT}) train / [{SPLIT_TRAIN_PCT},"
    f"{SPLIT_VAL_PCT}) val / rest test — reproducible across engines, "
    "runs and shards with zero RNG state (the only split rule that "
    "survives a distributed re-run). Reported per (split, source) so "
    "imbalance would be visible. Pure map-side tag + one agg shuffle of "
    "split*source cells.",
    tags=("text", "sampling", "pipeline"),
)
def q_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        docs(spark, sf_dir)
        .select(
            split_col(F.col("doc_id")).alias("split"),
            "source",
            F.size(tokens_col()).alias("ntok"),
        )
        .groupBy("split", "source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("ntok").cast("bigint").alias("n_tokens"),
        )
        .orderBy("split", "source")
    )


DSIR_BUCKETS = 256  # hashed-feature dimensionality (Xie et al. use 10k)
DSIR_TARGET = "src0"  # in-domain proxy: one source plays "target corpus"


SHARD_BUDGET = 4096  # tokens per training shard


_DSIR_CTES = f"""tok AS (
      SELECT doc_id, source, unnest({TOKENS_DUCK}) AS tok FROM documents
    ), tb AS (
      SELECT doc_id, source,
             ('0x' || SUBSTR(MD5(tok), 1, 8))::BIGINT % {DSIR_BUCKETS} AS b
      FROM tok
    ), c AS (
      SELECT b,
             SUM(CASE WHEN source = '{DSIR_TARGET}' THEN 1 ELSE 0 END) AS ct,
             SUM(CASE WHEN source <> '{DSIR_TARGET}' THEN 1 ELSE 0 END) AS cr
      FROM tb GROUP BY b
    ), tot AS (
      SELECT SUM(ct) AS tt, SUM(cr) AS tr FROM c
    ), lr AS (
      SELECT b, LN((ct + 1.0) / (tt + {DSIR_BUCKETS}))
               - LN((cr + 1.0) / (tr + {DSIR_BUCKETS})) AS lr
      FROM c CROSS JOIN tot
    ), dw AS (
      SELECT doc_id, AVG(lr) AS w
      FROM tb JOIN lr USING (b) GROUP BY doc_id
    ), dwall AS (
      -- zero-token docs (no [a-z] runs) still count, with weight 0:
      -- excluding them would silently shrink n_docs and sel_rate's
      -- denominator relative to every other per-source table
      SELECT d.doc_id, d.source, COALESCE(dw.w, 0.0) AS w
      FROM documents d LEFT JOIN dw USING (doc_id)
    )"""

_DSIR_ORACLE = f"""
    WITH {_DSIR_CTES}
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           {pround_sql('AVG(w)')} AS avg_weight,
           {pround_sql('AVG(CASE WHEN w > 0 THEN 1.0 ELSE 0.0 END)')}
             AS sel_rate
    FROM dwall GROUP BY source ORDER BY source
    """

_DSIR_DOC = (
    "DSIR importance weights (Xie et al. 2023): hashed-unigram "
    f"({DSIR_BUCKETS} md5 buckets) Laplace-smoothed log-likelihood ratio "
    f"of the target domain ('{DSIR_TARGET}') vs the raw pool; a doc's "
    "weight is its mean token log-ratio (zero-token docs count with "
    "weight 0), and sel_rate is the share of docs an importance-"
    "resampling pass would rank target-like (w > 0). "
    "Plan: the feature space is the bucket table, NOT the vocabulary — "
    f"one {DSIR_BUCKETS}-row agg, a broadcast log-ratio join onto the "
    "token stream, one doc-keyed agg, one source-keyed rollup. Nothing "
    "driver-side, nothing vocabulary-sized, no all-pairs."
)


def _dsir_token_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        docs(spark, sf_dir)
        .select("doc_id", "source", F.explode(tokens_col()).alias("tok"))
        .select(
            "doc_id", "source", hash_bucket(F.col("tok"), DSIR_BUCKETS).alias("b")
        )
    )


def _dsir_log_ratios(tb: DataFrame) -> DataFrame:
    """(b, lr): the Laplace-smoothed target-vs-raw log-likelihood ratio
    per hash bucket — the entire learned state of DSIR, at most
    DSIR_BUCKETS rows."""
    c = tb.groupBy("b").agg(
        F.sum(F.when(F.col("source") == DSIR_TARGET, 1).otherwise(0)).alias("ct"),
        F.sum(F.when(F.col("source") != DSIR_TARGET, 1).otherwise(0)).alias("cr"),
    )
    tot = c.agg(F.sum("ct").alias("tt"), F.sum("cr").alias("tr"))
    return c.crossJoin(F.broadcast(tot)).select(
        "b",
        (
            F.log((F.col("ct") + 1.0) / (F.col("tt") + DSIR_BUCKETS))
            - F.log((F.col("cr") + 1.0) / (F.col("tr") + DSIR_BUCKETS))
        ).alias("lr"),
    )


def dsir_lr_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build-once DSIR log-ratio table (``dsirlr-b{B}-{target}-v1`` — the tag encodes the feature dimensionality and target domain): the counting
    pass over the corpus token stream runs once per snapshot; scoring
    consumers broadcast-read the <= DSIR_BUCKETS-row artifact."""
    from roapi_spark.functions.snapshot import (
        build_once,
        parquet_ready,
        snapshot_cache_dir,
    )

    src = os.path.join(sf_dir, "documents.parquet")
    out = snapshot_cache_dir(src, f"dsirlr-b{DSIR_BUCKETS}-{DSIR_TARGET}-v1")
    build_once(
        out,
        parquet_ready,
        lambda tmp: _dsir_log_ratios(_dsir_token_buckets(spark, sf_dir))
        .write.mode("overwrite")
        .parquet(tmp),
    )
    return spark.read.parquet(out)


def _dsir_report(
    spark: SparkSession, sf_dir: str, lr: DataFrame, tb: DataFrame | None = None
) -> DataFrame:
    if tb is None:
        tb = _dsir_token_buckets(spark, sf_dir)
    dw = tb.join(F.broadcast(lr), "b").groupBy("doc_id").agg(F.avg("lr").alias("w"))
    # left join from the full doc set: zero-token docs keep weight 0
    # instead of silently dropping out of n_docs / sel_rate
    dwall = (
        docs(spark, sf_dir)
        .select("doc_id", "source")
        .join(dw, "doc_id", "left")
        .select("source", F.coalesce("w", F.lit(0.0)).alias("w"))
    )
    return (
        dwall.groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            pround(F.avg("w")).alias("avg_weight"),
            pround(F.avg(F.when(F.col("w") > 0, 1.0).otherwise(0.0))).alias(
                "sel_rate"
            ),
        )
        .orderBy("source")
    )


@register(
    "q_dsir_weights",
    oracle=_DSIR_ORACLE,
    doc=_DSIR_DOC,
    tags=("text", "sampling", "pipeline"),
)
def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Persist the token-bucket rows for the query's duration: the
    # counting pass (log ratios) and the scoring pass both consume them
    # — without it the corpus was tokenized + exploded twice per serve
    # (round 14; guide §5). The 100 TB path stays the served artifact
    # (q_dsir_weights_served), which needs only ONE pass by design.
    tb = serve_persist(_dsir_token_buckets(spark, sf_dir))
    return _dsir_report(spark, sf_dir, _dsir_log_ratios(tb), tb=tb)


@register(
    "q_dsir_select",
    oracle=f"""
    WITH {_DSIR_CTES},
    sel AS (
      SELECT source, w,
             CASE WHEN {hash_bucket_sql("doc_id::VARCHAR", 1000)} <
                  LEAST(1000, GREATEST(0,
                    CAST(FLOOR(w * 1000 + 0.5) AS BIGINT)))
             THEN 1 ELSE 0 END AS s
      FROM dwall
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(s) AS BIGINT) AS n_selected,
           {pround_sql('AVG(s * 1.0)')} AS sel_frac,
           {pround_sql(
               'COALESCE(SUM(w * s) / NULLIF(SUM(s), 0), 0.0)'
           )} AS avg_w_selected
    FROM sel GROUP BY source ORDER BY source
    """,
    doc="DSIR selection EXECUTED (the resampling step of Xie et al. "
    "2023): each document is accepted with probability proportional to "
    "its clipped importance weight — deterministically, by comparing "
    "the doc's md5 hash bucket (a reproducible uniform in [0,1000)) "
    "against the pround-quantized weight, so there is no RNG state and "
    "both engines make identical accept/reject decisions. Reported per "
    "source: pool size, accepted count, accept fraction, and the mean "
    "weight of the accepted set (the selected corpus skews target-like "
    "by construction). Plan: serves the dsirlr artifact (broadcast "
    "<=256 rows), one token-stream scoring pass, one doc-keyed agg, "
    "one source rollup — the selection itself is a stateless map over "
    "doc weights.",
    tags=("text", "sampling", "pipeline"),
)
def q_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    lr = dsir_lr_cached(spark, sf_dir)
    tb = _dsir_token_buckets(spark, sf_dir)
    dw = tb.join(F.broadcast(lr), "b").groupBy("doc_id").agg(
        F.avg("lr").alias("w")
    )
    dwall = (
        docs(spark, sf_dir)
        .select("doc_id", "source")
        .join(dw, "doc_id", "left")
        .select("doc_id", "source", F.coalesce("w", F.lit(0.0)).alias("w"))
    )
    p = F.least(
        F.lit(1000),
        F.greatest(F.lit(0), F.floor(F.col("w") * 1000 + 0.5).cast("bigint")),
    )
    s = F.when(
        hash_bucket(F.col("doc_id").cast("string"), 1000) < p, 1
    ).otherwise(0)
    return (
        dwall.select("source", "w", s.alias("s"))
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("s").cast("bigint").alias("n_selected"),
            pround(F.avg(F.col("s") * 1.0)).alias("sel_frac"),
            pround(
                F.coalesce(
                    F.sum(F.col("w") * F.col("s"))
                    / F.nullif(F.sum("s"), F.lit(0)),
                    F.lit(0.0),
                )
            ).alias("avg_w_selected"),
        )
        .orderBy("source")
    )


@register(
    "q_dsir_weights_served",
    oracle=_DSIR_ORACLE,
    doc=_DSIR_DOC + " Serve path: the counting pass persists as the "
    "dsirlr-b256-src0-v1 artifact (the model IS 256 doubles), so serving is the "
    "scoring pass alone — one broadcast join over the token stream. "
    "Same oracle as the recompute: identical output is the artifact-"
    "correctness check.",
    tags=("text", "sampling", "pipeline"),
)
def q_dsir_weights_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _dsir_report(spark, sf_dir, dsir_lr_cached(spark, sf_dir))


def shard_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, source, ntok, shard): the distributed-prefix-sum shard
    assignment, shared by the manifest query and the shard-mixture
    audit (Catalyst prunes `source` when a consumer drops it)."""

    d = docs(spark, sf_dir).select(
        "doc_id",
        "source",
        F.md5(F.col("doc_id").cast("string")).alias("h"),
        F.size(tokens_col()).cast("bigint").alias("ntok"),
    )
    # range bucket = 2-hex-char md5 prefix: ordering by (bkt, h) equals
    # ordering by h, so per-bucket windows + bucket offsets reproduce the
    # global running sum without a single-partition sort
    d = d.withColumn(
        "bkt", F.conv(F.substring("h", 1, 2), 16, 10).cast("int")
    )
    # barrier: the bucket-totals collect and the final windowed plan
    # both consume `d` — without it the tokenize+md5 pass over the
    # corpus runs twice. One row per doc (4 narrow cols), so the
    # checkpoint is doc-count sized.
    d = d.localCheckpoint(eager=False)
    bucket_tot = d.groupBy("bkt").agg(F.sum("ntok").alias("btok"))
    rows = sorted(
        (r["bkt"], r["btok"]) for r in bucket_tot.collect()
    )  # <=256 rows of driver state — exact integer math for the scan
    offsets, acc = [], 0
    for bkt, btok in rows:
        offsets.append((bkt, acc))
        acc += btok
    off = spark.createDataFrame(offsets, "bkt int, off long")
    w = (
        Window.partitionBy("bkt")
        .orderBy("h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        d.join(F.broadcast(off), "bkt")
        .withColumn("cb", F.col("off") + F.sum("ntok").over(w) - F.col("ntok"))
        .select(
            "doc_id",
            "source",
            "ntok",
            F.floor(F.col("cb") / float(SHARD_BUDGET)).cast("bigint").alias("shard"),
        )
    )


@register(
    "q_token_budget_shards",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, MD5(doc_id::VARCHAR) AS h,
             LEN({TOKENS_DUCK}) AS ntok
      FROM documents
    ), c AS (
      SELECT doc_id, ntok,
             SUM(ntok) OVER (ORDER BY h, doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) - ntok AS cb
      FROM d
    )
    SELECT CAST(FLOOR(cb / {SHARD_BUDGET}.0) AS BIGINT) AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(ntok) AS BIGINT) AS n_tokens
    FROM c GROUP BY 1 ORDER BY shard
    """,
    doc="Deterministic training-shard manifest: docs ordered by "
    "md5(doc_id) — a reproducible global shuffle with zero RNG state — "
    f"are packed greedily into {SHARD_BUDGET}-token shards by running "
    "token count. Plan: NO single-partition global window — the prefix "
    "sum is distributed as Window.partitionBy over 256 md5-prefix range "
    "buckets (bucket = first 2 hex chars, so (bucket, hash) order IS "
    "hash order) plus a driver-side exclusive scan over the 256 bucket "
    "totals broadcast back as offsets (bounded state, the IVF-centroid "
    "collect pattern). Output is the shard manifest, one row per shard.",
    tags=("text", "sampling", "pipeline"),
)
def q_token_budget_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        shard_assign(spark, sf_dir)
        .groupBy("shard")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("ntok").cast("bigint").alias("n_tokens"),
        )
        .orderBy("shard")
    )


def _split_leakage_oracle() -> str:
    from roapi_spark.functions.dedup import lsh_cand_oracle_cte

    return f"""
    WITH {lsh_cand_oracle_cte()},
    lab AS (
      SELECT {split_sql('doc_a')} AS sa, {split_sql('doc_b')} AS sb FROM cand
    )
    SELECT LEAST(sa, sb) AS split_a, GREATEST(sa, sb) AS split_b,
           CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM lab GROUP BY 1, 2 ORDER BY split_a, split_b
    """


@register(
    "q_split_leakage",
    oracle=_split_leakage_oracle(),
    doc="Split-leakage audit: near-duplicate candidate pairs bucketed by "
    "the (split, split) cell they straddle. Benchmark decontamination "
    "(q_contamination) checks external eval sets; this catches the "
    "subtler leak — a random split of a near-duplicated corpus puts "
    "twins of val/test docs into train, inflating eval. Cross-split "
    "cells are the leak; the fix is splitting by dedup-cluster instead "
    "of by doc. Plan: reads the cached lshpairs-v4 edge artifact (the "
    "same snapshot artifact dedup_minhash_lsh serves from); both split "
    "labels are md5(doc_id) expressions computed map-side over the edge "
    "set — zero joins, one 6-cell agg. Serve wall is edge-count-bound, "
    "not corpus-bound.",
    tags=("dedup", "sampling", "pipeline"),
)
def q_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from roapi_spark.functions.dedup import lsh_pairs_cached

    sa = split_col(F.col("doc_a"))
    sb = split_col(F.col("doc_b"))
    return (
        lsh_pairs_cached(spark, sf_dir)
        .select(F.least(sa, sb).alias("split_a"), F.greatest(sa, sb).alias("split_b"))
        .groupBy("split_a", "split_b")
        .agg(F.count("*").cast("bigint").alias("n_pairs"))
        .orderBy("split_a", "split_b")
    )


@register(
    "q_rewrite_impact",
    oracle=f"""
    WITH {SPAN_CTE},
    per AS (
      SELECT t.doc_id, LEN(t.w) AS nt, COALESCE(r.n_kept, 0) AS nk
      FROM toks t LEFT JOIN reb r USING (doc_id)
    )
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(per.nt) AS BIGINT) AS tokens_before,
           CAST(SUM(per.nt - per.nk) AS BIGINT) AS tokens_removed,
           {pround_sql('SUM(per.nt - per.nk) * 1.0 / GREATEST(SUM(per.nt), 1)')}
             AS removal_rate
    FROM per JOIN documents d USING (doc_id)
    GROUP BY d.source ORDER BY d.source
    """,
    doc="Per-source token loss from the exact-substring span rewrite: "
    "which shards carry the boilerplate. Plan: rides the cached "
    "spancov covered-position artifact (the dedup_span_rewrite_served "
    "path — no per-call gram tally), then one join to source labels "
    "and a source-keyed agg (20 rows).",
    tags=("dedup", "text", "pipeline"),
)
def q_rewrite_impact(spark: SparkSession, sf_dir: str) -> DataFrame:
    rw = dedup_span_rewrite_served(spark, sf_dir)
    return (
        rw.join(docs(spark, sf_dir).select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("tokens_before"),
            F.sum(F.col("n_tokens") - F.col("n_kept"))
            .cast("bigint")
            .alias("tokens_removed"),
            pround(
                F.sum(F.col("n_tokens") - F.col("n_kept"))
                * 1.0
                / F.greatest(F.sum("n_tokens"), F.lit(1))
            ).alias("removal_rate"),
        )
        .orderBy("source")
    )


@register(
    "q_shard_mixture",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, source, MD5(doc_id::VARCHAR) AS h,
             LEN({TOKENS_DUCK}) AS ntok
      FROM documents
    ), c AS (
      SELECT doc_id, source,
             SUM(ntok) OVER (ORDER BY h, doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) - ntok AS cb
      FROM d
    ), s AS (
      SELECT source, CAST(FLOOR(cb / {SHARD_BUDGET}.0) AS BIGINT) AS shard
      FROM c
    ), per AS (
      SELECT shard, source, COUNT(*) AS c FROM s GROUP BY shard, source
    ), tot AS (
      SELECT shard, SUM(c) AS n FROM per GROUP BY shard
    )
    SELECT per.shard,
           CAST(MAX(tot.n) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_sources,
           {pround_sql(
               '-SUM((per.c * 1.0 / tot.n) * LN(per.c * 1.0 / tot.n))'
           )} AS source_entropy
    FROM per JOIN tot USING (shard)
    GROUP BY per.shard ORDER BY per.shard
    """,
    doc="Per-shard source diversity (distinct sources + source entropy "
    "in nats): the IID audit of q_token_budget_shards — the md5 doc "
    "ordering exists so every shard is a source MIXTURE, and this "
    "measures it. Plan: the same distributed prefix sum (bucketed "
    "windows + broadcast offsets, no single-partition window), then "
    "shard x source and shard aggs — both dimension-sized.",
    tags=("text", "sampling", "pipeline"),
)
def q_shard_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    per = (
        shard_assign(spark, sf_dir)
        .groupBy("shard", "source")
        .agg(F.count("*").alias("c"))
    )
    tot = per.groupBy("shard").agg(F.sum("c").alias("n"))
    p = F.col("c") * F.lit(1.0) / F.col("n")
    return (
        per.join(tot, "shard")
        .groupBy("shard")
        .agg(
            F.max("n").cast("bigint").alias("n_docs"),
            F.count("*").cast("bigint").alias("n_sources"),
            pround(-F.sum(p * F.log(p))).alias("source_entropy"),
        )
        .orderBy("shard")
    )


def _curation_funnel_oracle() -> str:
    from roapi_spark.functions.dedup import COMPONENTS_DUCK, FUNNEL_DUCK

    # COMPONENTS_DUCK's chain already defines `toks`: drop SPAN_CTE's
    # duplicate entry so the two chains compose under one WITH — but
    # ONLY if that entry is still exactly the shared tokenizer (a
    # reshaped span chain must fail loudly here, not silently validate
    # the span stages against a different token list)
    first, rest = SPAN_CTE.split("\n", 1)
    expected = f"toks AS (SELECT doc_id, {TOKENS_DUCK} AS w FROM documents),"
    if first.strip() != expected:
        raise ValueError(
            "dedup.SPAN_CTE's toks entry no longer matches the shared "
            "tokenizer — the curation-funnel oracle can't drop it"
        )
    return f"""
    WITH RECURSIVE {COMPONENTS_DUCK},
    {FUNNEL_DUCK},
    {rest},
    per AS (
      SELECT t.doc_id, LEN(t.w) AS nt, COALESCE(r.n_kept, 0) AS nk
      FROM toks t JOIN surv USING (doc_id)
      LEFT JOIN reb r ON r.doc_id = t.doc_id
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM documents) AS n_docs,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM keep_ex) AS n_after_exact,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM surv) AS n_after_near,
           CAST(SUM(nt) AS BIGINT) AS tokens_total,
           CAST(SUM(nk) AS BIGINT) AS tokens_shipped,
           {pround_sql('SUM(nk) * 1.0 / GREATEST(SUM(nt), 1)')}
             AS pct_tokens_kept
    FROM per
    """


@register(
    "q_curation_funnel",
    oracle=_curation_funnel_oracle(),
    doc="The full curation funnel in one row: docs -> exact-unique -> "
    "near-dup survivors (q_dedup_funnel's doc stages) extended to the "
    "TOKEN axis — of the surviving docs' tokens, how many survive the "
    "exact-substring span rewrite. Doc-level dedup keeps one twin per "
    "cluster; this row also shows the boilerplate INSIDE the kept docs. "
    "Serve shape: exact stage is a 16-byte-digest shuffle, near stage "
    "reads the cached component labels, token stage reads the cached "
    "spancov covered-position artifact — no text shuffles, no pair or "
    "gram recompute anywhere.",
    tags=("dedup", "quality", "pipeline"),
)
def q_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from roapi_spark.functions.dedup import funnel_survivors

    d, keep_ex, surv = funnel_survivors(spark, sf_dir)
    per = dedup_span_rewrite_served(spark, sf_dir).join(surv, "doc_id")
    tok = per.agg(
        F.sum("n_tokens").cast("bigint").alias("tokens_total"),
        F.sum("n_kept").cast("bigint").alias("tokens_shipped"),
    )
    n_docs = d.agg(F.count("*").cast("bigint").alias("n_docs"))
    n_ex = keep_ex.agg(F.count("*").cast("bigint").alias("n_after_exact"))
    n_surv = surv.agg(F.count("*").cast("bigint").alias("n_after_near"))
    return (
        n_docs.crossJoin(F.broadcast(n_ex))
        .crossJoin(F.broadcast(n_surv))
        .crossJoin(F.broadcast(tok))
        .select(
            "n_docs",
            "n_after_exact",
            "n_after_near",
            "tokens_total",
            "tokens_shipped",
            pround(
                F.col("tokens_shipped")
                * F.lit(1.0)
                / F.greatest(F.col("tokens_total"), F.lit(1))
            ).alias("pct_tokens_kept"),
        )
    )


# ---- q_train_shuffle ---------------------------------------------------------

_SHUFFLE_SALT = "epoch0"
_N_TRAIN_SHARDS = 8


@register(
    "q_train_shuffle",
    oracle=f"""
    WITH k AS (
      SELECT doc_id,
             ('0x' || SUBSTR(MD5(doc_id::VARCHAR || ':{_SHUFFLE_SALT}'),
                             1, 8))::BIGINT AS key
      FROM documents
    ),
    p AS (
      SELECT doc_id, key, key % {_N_TRAIN_SHARDS} AS shard,
             ROW_NUMBER() OVER (
               PARTITION BY key % {_N_TRAIN_SHARDS}
               ORDER BY key, doc_id
             ) AS pos
      FROM k
    )
    SELECT CAST(shard AS INT) AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN_BY(doc_id, pos) AS BIGINT) AS first_doc,
           CAST(MAX_BY(doc_id, pos) AS BIGINT) AS last_doc,
           CAST(SUM(doc_id * pos) AS BIGINT) AS order_checksum
    FROM p GROUP BY shard ORDER BY shard
    """,
    doc=f"Deterministic global training shuffle: md5(doc_id:salt) is "
    "the position key (no RNG state — bit-identical on any cluster "
    f"layout; re-seed per epoch via the salt), docs land in "
    f"{_N_TRAIN_SHARDS} shards by key residue and are ordered WITHIN "
    "each shard by key rank. The per-shard (first, last, sum(id*pos)) "
    "checksums pin the complete order against the DuckDB replay — a "
    "single transposition anywhere shifts the checksum. Plan: "
    "hash-partition by shard + sortWithinPartitions, NEVER a global "
    "sort — shards are written/read independently, which is the whole "
    "point of the pattern at 100 TB (a global orderBy would funnel "
    "the corpus through one range-partition step).",
    tags=("text", "sampling", "pipeline"),
)
def q_train_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    keyed = d.select(
        "doc_id",
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("doc_id").cast("string"),
                        F.lit(f":{_SHUFFLE_SALT}"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        )
        .cast("bigint")
        .alias("key"),
    ).withColumn("shard", F.pmod(F.col("key"), F.lit(_N_TRAIN_SHARDS)))
    pos = F.row_number().over(
        Window.partitionBy("shard").orderBy("key", "doc_id")
    )
    p = keyed.repartition(_N_TRAIN_SHARDS, "shard").withColumn("pos", pos)
    return (
        p.groupBy(F.col("shard").cast("int").alias("shard"))
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.min_by("doc_id", "pos").cast("bigint").alias("first_doc"),
            F.max_by("doc_id", "pos").cast("bigint").alias("last_doc"),
            F.sum(F.col("doc_id") * F.col("pos"))
            .cast("bigint")
            .alias("order_checksum"),
        )
        .orderBy("shard")
    )


# ---- q_train_curriculum --------------------------------------------------------


@register(
    "q_train_curriculum",
    oracle=f"""
    WITH k AS (
      SELECT doc_id,
             LEAST(9, length(trim({NORM_WS_DUCK}))
                      // 100) AS bucket,
             ('0x' || SUBSTR(MD5(doc_id::VARCHAR || ':{_SHUFFLE_SALT}'),
                             1, 8))::BIGINT AS key
      FROM documents
    ),
    p AS (
      SELECT doc_id, bucket, key % {_N_TRAIN_SHARDS} AS shard,
             ROW_NUMBER() OVER (
               PARTITION BY key % {_N_TRAIN_SHARDS}
               ORDER BY bucket, key, doc_id
             ) AS pos
      FROM k
    )
    SELECT CAST(shard AS INT) AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN_BY(doc_id, pos) AS BIGINT) AS first_doc,
           CAST(MAX_BY(doc_id, pos) AS BIGINT) AS last_doc,
           CAST(SUM(doc_id * pos) AS BIGINT) AS order_checksum,
           CAST(SUM(bucket * pos) AS BIGINT) AS curriculum_checksum
    FROM p GROUP BY shard ORDER BY shard
    """,
    doc="Curriculum training order: q_train_shuffle's deterministic "
    "md5 shuffle COMPOSED with a difficulty prior — docs order within "
    "each shard by (quality bucket ASC, md5 key) so every shard "
    "streams easy-to-hard while staying internally shuffled within a "
    "bucket (bucket = capped normalized-length decile, the "
    "deterministic difficulty stand-in). Per-shard order and "
    "bucket-weighted checksums replay in DuckDB — a transposition "
    "ACROSS buckets or within one shifts a checksum. Plan: identical "
    "to q_train_shuffle (hash-partition + sortWithinPartitions on a "
    "wider key, never a global sort).",
    tags=("text", "sampling", "pipeline"),
)
def q_train_curriculum(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    keyed = d.select(
        "doc_id",
        F.least(
            F.lit(9),
            F.floor(F.length(F.trim(norm_ws_col())) / 100),
        )
        .cast("bigint")
        .alias("bucket"),
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("doc_id").cast("string"),
                        F.lit(f":{_SHUFFLE_SALT}"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        )
        .cast("bigint")
        .alias("key"),
    ).withColumn("shard", F.pmod(F.col("key"), F.lit(_N_TRAIN_SHARDS)))
    pos = F.row_number().over(
        Window.partitionBy("shard").orderBy("bucket", "key", "doc_id")
    )
    p = keyed.repartition(_N_TRAIN_SHARDS, "shard").withColumn("pos", pos)
    return (
        p.groupBy(F.col("shard").cast("int").alias("shard"))
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.min_by("doc_id", "pos").cast("bigint").alias("first_doc"),
            F.max_by("doc_id", "pos").cast("bigint").alias("last_doc"),
            F.sum(F.col("doc_id") * F.col("pos"))
            .cast("bigint")
            .alias("order_checksum"),
            F.sum(F.col("bucket") * F.col("pos"))
            .cast("bigint")
            .alias("curriculum_checksum"),
        )
        .orderBy("shard")
    )


# ---- q_split_by_domain ---------------------------------------------------------


def _split_by_domain_oracle() -> str:
    from roapi_spark.functions.fixtures import PSL_HOSTS, host_case_sql
    from roapi_spark.functions.web import registrable_domain_sql

    return f"""
    WITH d AS (
      SELECT doc_id, {host_case_sql(PSL_HOSTS)} AS host FROM documents
    ),
    dom AS (
      SELECT doc_id, {registrable_domain_sql("host")} AS domain FROM d
    ),
    s AS (
      SELECT doc_id, domain,
             CASE WHEN ('0x' || SUBSTR(MD5(domain || ':split0'), 1, 8))
                       ::BIGINT % 10 < 8
                  THEN 'train' ELSE 'heldout' END AS split
      FROM dom
    )
    SELECT split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT domain) AS BIGINT) AS n_domains,
           CAST(SUM(doc_id) AS BIGINT) AS id_checksum
    FROM s GROUP BY split ORDER BY split
    """


@register(
    "q_split_by_domain",
    oracle=_split_by_domain_oracle(),
    doc="Domain-disjoint train/heldout split — leakage prevention one "
    "level above doc-dedup: near-duplicate pages cluster WITHIN a "
    "site, so doc-level random splits leak; hashing the REGISTRABLE "
    "DOMAIN (md5, salt re-seedable) sends every doc of a domain to "
    "one side by construction. Per-split doc/domain counts and id "
    "checksums replay closed-form; disjointness is structural (the "
    "split key is a pure function of the domain), not sampled-and-"
    "checked. Plan: codegen'd domain + hash expressions, one hash agg "
    "— map-side decision, no shuffle before the 2-row agg; at 100 TB "
    "this is a projection on the corpus scan.",
    tags=("text", "sampling", "pipeline", "web"),
)
def q_split_by_domain(spark: SparkSession, sf_dir: str) -> DataFrame:
    from roapi_spark.functions.fixtures import PSL_HOSTS, host_case_col
    from roapi_spark.functions.web import registrable_domain

    d = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    dom = d.select(
        "doc_id",
        registrable_domain(host_case_col(PSL_HOSTS)).alias("domain"),
    )
    key = F.conv(
        F.substring(
            F.md5(F.concat(F.col("domain"), F.lit(":split0"))), 1, 8
        ),
        16,
        10,
    ).cast("bigint")
    s = dom.withColumn(
        "split",
        F.when(F.pmod(key, F.lit(10)) < 8, F.lit("train")).otherwise(
            F.lit("heldout")
        ),
    )
    return (
        s.groupBy("split")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.count_distinct("domain").cast("bigint").alias("n_domains"),
            F.sum("doc_id").cast("bigint").alias("id_checksum"),
        )
        .orderBy("split")
    )
