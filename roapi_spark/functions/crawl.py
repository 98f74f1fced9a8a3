"""Web-crawl ingestion, URL and domain logic, robots, link graphs and
crawl scheduling.

* Ingest: HTML main-text extraction (``text_html_extract``), the
  fetched -> 200 -> html -> length -> canonical-URL funnel
  (``q_crawl_funnel``), crawl images, and the streaming twins in
  ``streaming/crawl.py`` (``stream_crawl_ingest``,
  ``stream_url_frontier``, ``stream_crawl_to_delta``, ...).
* URLs and domains: canonicalization, public-suffix registrable
  domains, blocklists and per-domain caps.
* Robots: a single compiled policy (``q_robots_filter``) and per-host
  policies as a broadcast join (``q_robots_policies``).
* Link graphs: page- and host-level graphs, PageRank, HITS, anchor and
  inlink text.
* Scheduling: fetch-budget allocation, politeness delays, recrawl plans
  and the bounded frontier.

URL logic is whole-stage-codegen'd built-in expressions usable as
shuffle keys (``functions/web.py``); extraction is Arrow-batched
``mapInPandas`` with no shuffle. Inputs come from ``fixtures.py``.
"""

from __future__ import annotations

import os
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from roapi_spark.functions.fixtures import (
    IMG_RESIDUE,
    N_SHARDS,
    PSL_HOSTS,
    crawl_links,
    host_case_col,
    host_case_sql,
    links_snapshot,
    read_warc,
    warc_fixture_dir,
    warc_images_dir,
    warc_shards,
)
from roapi_spark.functions.text import NORM_WS_DUCK, norm_ws_col
from roapi_spark.functions.web import (
    canonical_url,
    parse_robots,
    registrable_domain,
    registrable_domain_sql,
    robots_allowed_col,
    robots_allowed_sql,
    robots_regex,
    url_host,
)
from roapi_spark.plans.registry import register


# ---------------------------------------------------------------------------
# deterministic residue rules shared by the fixture builder, the Spark
# queries, and the DuckDB oracles (doc_id % k):
#   % 11 == 3  -> HTTP 404 (body is a stub page)
#   % 7  == 2  -> text/plain payload (the raw doc text)
#   % 13 == 5  -> a second response record for the same page under a
#                 messier URL (same canonical form)
#   % 10 == 0  -> a request record precedes the response
# messy-URL residues: %5 host case, %9 explicit :443, %4 trailing /,
# %2 tracking params + shuffled order, %6 fragment.
# ---------------------------------------------------------------------------

_MIN_TEXT = 200  # funnel stage: ws-normalized main text must reach this


# ---- oracle SQL fragments shared across the gates -------------------------

NORM_LEN = f"length(trim({NORM_WS_DUCK}))"

# messy raw URLs reconstructed from the documents table (primary form,
# then the duplicate form for the %13 residue) — mirrors _raw_url/_dup_url
URL_CTE = """
  SELECT doc_id,
         'https://'
         || (CASE WHEN doc_id % 5 = 0 THEN 'CRAWL.Example.com'
                  ELSE 'crawl.example.com' END)
         || (CASE WHEN doc_id % 9 = 4 THEN ':443' ELSE '' END)
         || '/' || source || '/' || CAST(doc_id AS VARCHAR)
         || (CASE WHEN doc_id % 4 = 1 THEN '/' ELSE '' END)
         || (CASE WHEN doc_id % 2 = 0 THEN '?utm_source=feed&b=2&a=1'
                  ELSE '?a=1&b=2' END)
         || (CASE WHEN doc_id % 6 = 3 THEN '#frag' ELSE '' END) AS raw_url
  FROM documents
  UNION ALL
  SELECT doc_id,
         'https://crawl.example.com:443/' || source || '/'
         || CAST(doc_id AS VARCHAR) || '/?b=2&a=1&utm_medium=x#x2'
  FROM documents WHERE doc_id % 13 = 5
"""


def _canon_sql(col: str) -> str:
    """DuckDB mirror of functions/web.canonical_url, composed from the
    same fragment builders (web.url_*_sql) as the SURT mirror so the two
    engines canonicalize identically. (The COALESCE inside the query
    fragment — DuckDB array_to_string([]) is NULL where Spark's
    array_join([]) is '' — was found by tests/test_web_fuzz.py; it
    would null the whole concatenation for all-tracking query strings.)"""
    from roapi_spark.functions.web import (
        url_host_sql,
        url_path_sql,
        url_query_canonical_sql,
        url_scheme_sql,
    )

    q = url_query_canonical_sql(col)
    return (
        f"{url_scheme_sql(col)} || '://' || {url_host_sql(col)} || "
        f"{url_path_sql(col)} || "
        f"(CASE WHEN {q} = '' THEN '' ELSE '?' || {q} END)"
    )


# ---- text_html_extract -----------------------------------------------------


def extract_kernel(schema_needs_text: bool):
    """mapInPandas kernel: decode + extract main text for 200/text/html
    response rows; emits (doc_id, norm_len[, extracted])."""
    import pandas as pd

    from roapi_spark.functions.web import extract_main_text

    def fn(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            out: list[dict] = []
            for uri, status, ctype, payload in zip(
                pdf["target_uri"],
                pdf["http_status"],
                pdf["http_content_type"],
                pdf["payload"],
            ):
                rec: dict = {
                    "target_uri": uri,
                    "is_ok": int(status == 200),
                    "is_html": int(
                        status == 200
                        and str(ctype or "").startswith("text/html")
                    ),
                    "norm_len": None,
                }
                if rec["is_html"]:
                    from roapi_spark.functions.web import decode_http_text

                    raw = decode_http_text(bytes(payload), ctype)
                    # fail-closed per record: an undecodable page is an
                    # extraction miss (norm_len NULL), never mojibake
                    text = None if raw is None else extract_main_text(raw)
                    rec["norm_len"] = None if text is None else len(text)
                    if schema_needs_text:
                        rec["extracted"] = text
                elif schema_needs_text:
                    rec["extracted"] = None
                out.append(rec)
            cols = ["target_uri", "is_ok", "is_html", "norm_len"] + (
                ["extracted"] if schema_needs_text else []
            )
            yield pd.DataFrame(out, columns=cols)

    return fn


EXTRACT_SCHEMA = (
    "target_uri string, is_ok int, is_html int, norm_len bigint"
)


@register(
    "text_html_extract",
    oracle=f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_pages,
           CAST(COUNT(*) AS BIGINT) AS n_exact,
           CAST(SUM({NORM_LEN}) AS BIGINT) AS sum_norm_len
    FROM documents
    WHERE doc_id % 11 <> 3 AND doc_id % 7 <> 2
    """,
    doc="HTML main-text extraction gate: every 200/text/html page in the "
    "WARC fixture wraps one document's text in chrome (title/style/"
    "script/nav/header, a link-dense sidebar the link-density heuristic "
    "must drop, footer); extraction must recover the document text "
    "EXACTLY (whitespace-normalized), verified by joining back to the "
    "documents table on the doc_id parsed from the URL — n_exact is "
    "COUNT(*) in the oracle, so a single mis-extracted byte fails the "
    "gate. The %13 duplicate RECORDS are excluded (their primary "
    "records stay) to keep one row per doc. Plan: streaming WARC scan "
    "-> Arrow-batched mapInPandas "
    "extraction (no shuffle) -> broadcast-able join on doc_id -> one "
    "agg.",
    tags=("text", "web"),
)
def text_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    resp = read_warc(spark, sf_dir, types="response").filter(
        ~F.col("target_uri").contains("utm_medium=x")  # %13 dup form
    )
    extracted = resp.mapInPandas(
        extract_kernel(schema_needs_text=True),
        EXTRACT_SCHEMA + ", extracted string",
    ).filter(F.col("is_html") == 1)
    docs = (
        spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        .select(
            "doc_id",
            F.trim(norm_ws_col()).alias("norm_text"),
        )
    )
    joined = extracted.withColumn(
        "doc_id",
        F.regexp_extract("target_uri", r"://[^/]+/[^/]+/(\d+)", 1).cast(
            "bigint"
        ),
    ).join(docs, "doc_id", "inner")
    return joined.agg(
        F.count("*").cast("bigint").alias("n_pages"),
        F.sum((F.col("extracted") == F.col("norm_text")).cast("bigint"))
        .cast("bigint")
        .alias("n_exact"),
        F.sum(F.length("norm_text").cast("bigint"))
        .cast("bigint")
        .alias("sum_norm_len"),
    )


# ---- q_url_canonicalize ----------------------------------------------------


@register(
    "q_url_canonicalize",
    oracle=f"""
    WITH u AS ({URL_CTE}),
    c AS (SELECT doc_id, {_canon_sql("raw_url")} AS canon FROM u),
    g AS (SELECT canon, COUNT(*) AS n FROM c GROUP BY canon)
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM c) AS n_raw,
           CAST(COUNT(*) AS BIGINT) AS n_canon,
           CAST(SUM(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_groups,
           CAST(SUM(strlen(canon)) AS BIGINT) AS canon_octets,
           MIN(canon) AS min_canon,
           MAX(canon) AS max_canon
    FROM g
    """,
    doc="URL canonicalization gate: messy raw URLs (mixed host case, "
    "explicit :443, trailing slashes, utm_*/click-id tracking params, "
    "shuffled query order, fragments) are synthesized from the "
    "documents table on fixed residues and canonicalized with PURE "
    "built-in expressions (functions/web.canonical_url: regexp_extract "
    "+ filter + array_sort — whole-stage codegen, usable as a dedup "
    "shuffle key); every variant pair must collapse to one canonical "
    "key, and the oracle runs the SAME regex pipeline in DuckDB so "
    "min/max/octet aggregates pin the exact canonical strings. Plan: "
    "one FileScan -> projection -> hash agg on canon -> global agg; no "
    "Python anywhere.",
    tags=("web", "dedup"),
)
def q_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    primary = docs.select(
        "doc_id",
        F.concat(
            F.lit("https://"),
            F.when(
                F.col("doc_id") % 5 == 0, F.lit("CRAWL.Example.com")
            ).otherwise(F.lit("crawl.example.com")),
            F.when(F.col("doc_id") % 9 == 4, F.lit(":443")).otherwise(
                F.lit("")
            ),
            F.lit("/"),
            F.col("source"),
            F.lit("/"),
            F.col("doc_id").cast("string"),
            F.when(F.col("doc_id") % 4 == 1, F.lit("/")).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 2 == 0, F.lit("?utm_source=feed&b=2&a=1")
            ).otherwise(F.lit("?a=1&b=2")),
            F.when(F.col("doc_id") % 6 == 3, F.lit("#frag")).otherwise(
                F.lit("")
            ),
        ).alias("raw_url"),
    )
    dup = docs.filter(F.col("doc_id") % 13 == 5).select(
        "doc_id",
        F.concat(
            F.lit("https://crawl.example.com:443/"),
            F.col("source"),
            F.lit("/"),
            F.col("doc_id").cast("string"),
            F.lit("/?b=2&a=1&utm_medium=x#x2"),
        ).alias("raw_url"),
    )
    c = primary.unionAll(dup).select(canonical_url(F.col("raw_url")).alias("canon"))
    g = c.groupBy("canon").agg(F.count("*").alias("n"))
    return g.agg(
        F.sum("n").cast("bigint").alias("n_raw"),
        F.count("*").cast("bigint").alias("n_canon"),
        F.sum((F.col("n") > 1).cast("bigint"))
        .cast("bigint")
        .alias("n_dup_groups"),
        F.sum(F.length("canon").cast("bigint"))
        .cast("bigint")
        .alias("canon_octets"),
        F.min("canon").alias("min_canon"),
        F.max("canon").alias("max_canon"),
    )


# ---- q_domain_filter -------------------------------------------------------

_HOSTS = (
    "news.example.com",
    "blog.example.co.uk",
    "ads.tracker.net",
    "cdn.example.org",
)
_BLOCKLIST = ("tracker.net",)

# generated from the SAME pinned public-suffix snapshot the Spark
# expression reads — the two engines cannot disagree on a suffix rule
_DOM_SQL = registrable_domain_sql("host")


@register(
    "q_domain_filter",
    oracle=f"""
    WITH h AS (
      SELECT CASE doc_id % 4
               WHEN 0 THEN '{_HOSTS[0]}' WHEN 1 THEN '{_HOSTS[1]}'
               WHEN 2 THEN '{_HOSTS[2]}' ELSE '{_HOSTS[3]}' END AS host
      FROM documents
    ),
    d AS (SELECT {_DOM_SQL} AS domain FROM h)
    SELECT domain, CAST(COUNT(*) AS BIGINT) AS n_kept
    FROM d WHERE domain NOT IN ('{_BLOCKLIST[0]}')
    GROUP BY domain ORDER BY domain
    """,
    doc="Domain blocklist gate (the UT1/abuse-list pattern): hosts are "
    "assigned per doc on a fixed residue, reduced to their registrable "
    "domain (last two labels, or three under a multi-label public "
    "suffix like co.uk — functions/web.registrable_domain, pure "
    "regexp), and filtered by a broadcast anti-join against the "
    "blocklist; the oracle mirrors the suffix regexes in DuckDB. "
    "Plan: FileScan -> codegen'd domain projection -> "
    "BroadcastHashJoin(LeftAnti) -> hash agg; at 100 TB the blocklist "
    "(UT1 is ~4M rows) still broadcasts, and the domain key is "
    "shuffle-safe.",
    tags=("web", "filter"),
)
def q_domain_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    host = (
        F.when(F.col("doc_id") % 4 == 0, F.lit(_HOSTS[0]))
        .when(F.col("doc_id") % 4 == 1, F.lit(_HOSTS[1]))
        .when(F.col("doc_id") % 4 == 2, F.lit(_HOSTS[2]))
        .otherwise(F.lit(_HOSTS[3]))
    )
    d = docs.select(registrable_domain(host).alias("domain"))
    block = spark.createDataFrame(
        [(b,) for b in _BLOCKLIST], "domain string"
    )
    kept = d.join(F.broadcast(block), "domain", "left_anti")
    return (
        kept.groupBy("domain")
        .agg(F.count("*").cast("bigint").alias("n_kept"))
        .orderBy("domain")
    )


# ---- q_crawl_funnel --------------------------------------------------------


@register(
    "q_crawl_funnel",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, {NORM_LEN} AS nlen,
             (doc_id % 11 = 3) AS is404,
             (doc_id % 7 = 2) AS isplain,
             (doc_id % 13 = 5) AS hasdup
      FROM documents
    ),
    r AS (
      SELECT * FROM d
      UNION ALL
      SELECT * FROM d WHERE hasdup
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_fetched,
           CAST(SUM(CASE WHEN NOT is404 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_ok,
           CAST(SUM(CASE WHEN NOT is404 AND NOT isplain THEN 1 ELSE 0 END)
             AS BIGINT) AS n_html,
           CAST(SUM(CASE WHEN NOT is404 AND NOT isplain
                    AND nlen >= {_MIN_TEXT} THEN 1 ELSE 0 END) AS BIGINT)
             AS n_text,
           CAST(COUNT(DISTINCT CASE WHEN NOT is404 AND NOT isplain
                    AND nlen >= {_MIN_TEXT} THEN doc_id END) AS BIGINT)
             AS n_unique
    FROM r
    """,
    doc="End-to-end crawl-to-corpus funnel over the WARC fixture: "
    "fetched responses -> HTTP 200 -> text/html -> extracted main text "
    f"of at least {_MIN_TEXT} normalized chars -> canonical-URL dedup "
    "(duplicate-URL records collapse via functions/web.canonical_url). "
    "One output row of stage counts; the oracle replays each stage "
    "from the documents table via the fixture's residue arithmetic and "
    "the SAME whitespace normalization, so a wrong extraction, a "
    "mis-parsed status, or a canonicalization miss shifts a count and "
    "hash-mismatches. Plan: streaming WARC scan -> mapInPandas extract "
    "(no shuffle) -> codegen'd canonical key -> single hash agg with a "
    "conditional distinct.",
    tags=("web", "pipeline"),
)
def q_crawl_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    resp = read_warc(spark, sf_dir, types="response")
    flags = resp.mapInPandas(
        extract_kernel(schema_needs_text=False), EXTRACT_SCHEMA
    )
    staged = flags.withColumn(
        "canon", canonical_url(F.col("target_uri"))
    ).withColumn(
        "passes",
        (F.col("is_html") == 1) & (F.col("norm_len") >= _MIN_TEXT),
    )
    return staged.agg(
        F.count("*").cast("bigint").alias("n_fetched"),
        F.sum("is_ok").cast("bigint").alias("n_ok"),
        F.sum("is_html").cast("bigint").alias("n_html"),
        F.sum(F.col("passes").cast("bigint")).cast("bigint").alias("n_text"),
        F.count_distinct(F.when(F.col("passes"), F.col("canon")))
        .cast("bigint")
        .alias("n_unique"),
    )


# ---- stream_crawl_ingest ---------------------------------------------------


@register(
    "stream_crawl_ingest",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, doc_id % {N_SHARDS} AS shard, {NORM_LEN} AS nlen,
             (doc_id % 11 = 3) AS is404,
             (doc_id % 7 = 2) AS isplain,
             (doc_id % 13 = 5) AS hasdup
      FROM documents
    ),
    r AS (
      SELECT * FROM d
      UNION ALL
      SELECT * FROM d WHERE hasdup
    )
    SELECT 'docs-0' || shard || (CASE WHEN shard % 2 = 0 THEN '.warc.gz'
                                      ELSE '.warc' END) AS warc_file,
           CAST(COUNT(*) AS BIGINT) AS n_responses,
           CAST(SUM(CASE WHEN NOT is404 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_ok,
           CAST(SUM(CASE WHEN NOT is404 AND NOT isplain THEN 1 ELSE 0 END)
             AS BIGINT) AS n_html,
           CAST(SUM(CASE WHEN NOT is404 AND NOT isplain
                    AND nlen >= {_MIN_TEXT} THEN 1 ELSE 0 END) AS BIGINT)
             AS n_text,
           CAST(COUNT(DISTINCT CASE WHEN NOT is404 AND NOT isplain
                    AND nlen >= {_MIN_TEXT} THEN doc_id END) AS BIGINT)
             AS n_unique
    FROM r GROUP BY shard ORDER BY warc_file
    """,
    doc="Streaming twin of the crawl funnel: WARC shards LAND in a "
    "directory in two arrival waves; an actual Structured Streaming "
    "query (streaming/crawl.py: binaryFile file-stream source = "
    "exactly-once per-file cursor, Arrow-batched parse + HTML "
    "extraction per batch) ingests them incrementally and accumulates "
    "per-file funnel counts. Output is one row per WARC file, so a "
    "stream that drops a file, double-delivers one (counts double and "
    "hash-mismatch), or mis-parses a payload fails the gate; the "
    "oracle replays the funnel from the documents table via the "
    "fixture's shard/residue arithmetic. Plan: fixture-sized; input "
    "volume per batch is the file-ARRIVAL rate, never the corpus size "
    "— the property that holds when a fetcher fleet feeds a 100 TB "
    "corpus. Checkpoint-restart exactly-once is pinned in "
    "tests/test_warc.py.",
    tags=("streaming", "web"),
)
def stream_crawl_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from roapi_spark.streaming.crawl import stream_crawl_ingest as _ingest

    src = warc_fixture_dir(spark, sf_dir)
    shards = warc_shards(src)
    landing = tempfile.mkdtemp(prefix="crawl_landing_")
    acc: dict[str, list] = {}

    def process(flags: DataFrame, batch_id: int) -> None:
        passes = (F.col("is_html") == 1) & (F.col("norm_len") >= _MIN_TEXT)
        rows = (
            flags.groupBy("warc_file")
            .agg(
                F.count("*").cast("bigint").alias("n_responses"),
                F.sum("is_ok").cast("bigint").alias("n_ok"),
                F.sum("is_html").cast("bigint").alias("n_html"),
                F.sum(passes.cast("bigint")).cast("bigint").alias("n_text"),
                F.count_distinct(F.when(passes, F.col("canon")))
                .cast("bigint")
                .alias("n_unique"),
            )
            .collect()
        )
        for r in rows:
            # accumulate ADDITIVELY: a double-delivered file doubles its
            # counts and hash-mismatches, which is the point
            cur = acc.setdefault(r["warc_file"], [0, 0, 0, 0, 0])
            cur[0] += r["n_responses"]
            cur[1] += r["n_ok"]
            cur[2] += r["n_html"]
            cur[3] += r["n_text"]
            cur[4] += r["n_unique"]

    try:
        # wave 1 lands before the stream starts, wave 2 mid-stream
        for name in shards[: N_SHARDS // 2]:
            shutil.copy(os.path.join(src, name), os.path.join(landing, name))
        q = _ingest(
            spark,
            landing,
            process,
            os.path.join(landing, "_ckpt"),
            query_name="stream_crawl_ingest",
        )
        try:
            q.processAllAvailable()
            for name in shards[N_SHARDS // 2 :]:
                shutil.copy(
                    os.path.join(src, name), os.path.join(landing, name)
                )
            q.processAllAvailable()
        finally:
            q.stop()
    finally:
        shutil.rmtree(landing, ignore_errors=True)
    return spark.createDataFrame(
        sorted((f, *v) for f, v in acc.items()),
        "warc_file string, n_responses bigint, n_ok bigint, n_html bigint, "
        "n_text bigint, n_unique bigint",
    )


# ---- q_robots_filter -------------------------------------------------------

# a policy exercising group selection (the '*' group disallows
# EVERYTHING — if group selection broke, every URL blocks), multi-UA
# groups, prefix semantics (/src1 also blocks src10..src19), longer-
# pattern re-allows, wildcard+anchor rules, and comments/blank lines
_ROBOTS_TXT = """\
# crawl policy for example.com
User-agent: *
Disallow: /

User-agent: trainbot
User-agent: otherbot
Allow: /
Disallow: /src1
Allow: /src1*0$
Disallow: /src2/
Allow: /src13
Disallow: /*9$
"""

_ROBOTS_RULES = parse_robots(_ROBOTS_TXT, "trainbot")
_PATH_SQL = "'/' || source || '/' || CAST(doc_id AS VARCHAR)"


@register(
    "q_robots_filter",
    oracle=f"""
    SELECT source,
           CAST(SUM(CASE WHEN {robots_allowed_sql(_PATH_SQL, _ROBOTS_RULES)}
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_allowed,
           CAST(SUM(CASE WHEN {robots_allowed_sql(_PATH_SQL, _ROBOTS_RULES)}
                    THEN 0 ELSE 1 END) AS BIGINT) AS n_blocked,
           CAST(SUM(CASE WHEN {robots_allowed_sql(_PATH_SQL, _ROBOTS_RULES)}
                    THEN doc_id ELSE 0 END) AS BIGINT) AS sum_allowed_id
    FROM documents GROUP BY source ORDER BY source
    """,
    doc="robots.txt URL filter (Robots Exclusion Protocol, RFC 9309): "
    "a policy with a deny-all '*' group, a multi-UA specific group, "
    "prefix rules, longer-pattern re-allows, and wildcard+anchor rules "
    "is parsed from-spec (functions/web.parse_robots) and applied to "
    "per-doc URL paths with most-specific-wins precedence (longest "
    "pattern; allow wins ties) as COMPOSED BUILT-INS — one rlike per "
    "rule, GREATEST per side, allow >= disallow — so the decision is "
    "whole-stage codegen'd and shuffle-free; the oracle runs the same "
    "generated rule regexes in DuckDB. Parsing itself is pinned to RFC "
    "examples in tests/test_web_extract.py. Plan: FileScan -> codegen'd "
    "projection -> source-keyed hash agg; at 100 TB the policy set "
    "rides the scan (a per-host policy table becomes a broadcast "
    "join on registrable domain — same shape as q_domain_filter).",
    tags=("web", "filter"),
)
def q_robots_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    path = F.concat(
        F.lit("/"), F.col("source"), F.lit("/"), F.col("doc_id").cast("string")
    )
    allowed = robots_allowed_col(path, _ROBOTS_RULES)
    return (
        docs.select("source", "doc_id", allowed.alias("ok"))
        .groupBy("source")
        .agg(
            F.sum(F.col("ok").cast("bigint")).cast("bigint").alias("n_allowed"),
            F.sum((~F.col("ok")).cast("bigint")).cast("bigint").alias("n_blocked"),
            F.sum(F.when(F.col("ok"), F.col("doc_id")).otherwise(F.lit(0)))
            .cast("bigint")
            .alias("sum_allowed_id"),
        )
        .orderBy("source")
    )


# ---- stream_url_frontier ---------------------------------------------------


@register(
    "stream_url_frontier",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, doc_id % {N_SHARDS} AS shard,
             (doc_id % 13 = 5) AS hasdup
      FROM documents
    ),
    per_shard AS (
      SELECT shard,
             CAST(COUNT(*) AS BIGINT)
               + CAST(SUM(CASE WHEN hasdup THEN 1 ELSE 0 END) AS BIGINT)
               AS n_urls,
             CAST(COUNT(*) AS BIGINT) AS n_new
      FROM d GROUP BY shard
    ),
    named AS (
      SELECT 'docs-0' || shard || (CASE WHEN shard % 2 = 0 THEN '.warc.gz'
                                        ELSE '.warc' END) AS warc_file,
             n_urls, n_new
      FROM per_shard
      UNION ALL
      SELECT 'recrawl-00.warc.gz', n_urls, CAST(0 AS BIGINT)
      FROM per_shard WHERE shard = 0
    )
    SELECT * FROM named ORDER BY warc_file
    """,
    doc="Crawl-frontier gate: the custom stateful streaming operator "
    "(streaming/crawl.stream_url_frontier: applyInPandasWithState "
    "keyed on the CANONICAL url, one int of state per key) classifies "
    "every response URL in arriving WARC files as first-seen or "
    "revisit. Shards land in two waves; wave 2 re-lands shard 0 under "
    "a new name (a re-crawl), so the state built in wave 1 must "
    "classify every one of its URLs as already-seen across the batch "
    "boundary — and the %13 duplicate-URL records collapse WITHIN a "
    "batch (case/tracking variants, one frontier entry). Output is one "
    "row per file (arrivals, first-seen count); state loss, "
    "double-counting, or canonicalization misses shift a count and "
    "hash-mismatch. Plan: fixture-sized; per-batch input is the "
    "file-arrival rate, state is one int per canonical in the "
    "checkpointed store (production bounds it with TTL or a bloom "
    "front — this is the exact kernel those approximate).",
    tags=("streaming", "web"),
)
def stream_url_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from roapi_spark.streaming.crawl import (
        stream_state_partitions,
        stream_url_frontier as _frontier,
    )

    src = warc_fixture_dir(spark, sf_dir)
    shards = warc_shards(src)
    landing = tempfile.mkdtemp(prefix="frontier_landing_")
    acc: dict[str, list] = {}

    def process(classified: DataFrame, batch_id: int) -> None:
        for r in (
            classified.groupBy("warc_file")
            .agg(
                F.count("*").cast("bigint").alias("n_urls"),
                F.sum("is_new").cast("bigint").alias("n_new"),
            )
            .collect()
        ):
            cur = acc.setdefault(r["warc_file"], [0, 0])
            cur[0] += r["n_urls"]
            cur[1] += r["n_new"]

    try:
        for name in shards[: N_SHARDS // 2]:
            shutil.copy(os.path.join(src, name), os.path.join(landing, name))
        with stream_state_partitions(spark):
            q = _frontier(
                spark,
                landing,
                process,
                os.path.join(landing, "_ckpt"),
                query_name="stream_url_frontier",
            )
            try:
                q.processAllAvailable()
                for name in shards[N_SHARDS // 2 :]:
                    shutil.copy(
                        os.path.join(src, name), os.path.join(landing, name)
                    )
                # wave 2 also RE-LANDS shard 0: a re-crawl of known URLs
                shutil.copy(
                    os.path.join(src, shards[0]),
                    os.path.join(landing, "recrawl-00.warc.gz"),
                )
                q.processAllAvailable()
            finally:
                q.stop()
    finally:
        shutil.rmtree(landing, ignore_errors=True)
    return spark.createDataFrame(
        sorted((f, *v) for f, v in acc.items()),
        "warc_file string, n_urls bigint, n_new bigint",
    )


@register(
    "multimodal_crawl_images",
    oracle=f"""
    WITH p AS (
      SELECT doc_id,
             8 + doc_id % 5 AS w,
             6 + doc_id % 3 AS h,
             doc_id % 200 AS base
      FROM documents WHERE doc_id % {IMG_RESIDUE} = 0
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_images,
           CAST(SUM(w * h) AS BIGINT) AS px_count,
           CAST(SUM(w * h * base
                    + h * (w * (w - 1) / 2)
                    + 2 * w * (h * (h - 1) / 2)) AS BIGINT) AS pixel_sum,
           CAST(SUM(base) AS BIGINT) AS corner_sum,
           CAST(SUM(base + (w - 1) + 2 * (h - 1)) AS BIGINT)
             AS far_corner_sum
    FROM p
    """,
    doc="Crawl-to-multimodal composition gate: image/png HTTP responses "
    "inside WARC shards are scanned by the WARC source and decoded by "
    "the repo's own from-spec PNG codec (encode side cycles all five "
    "scanline filters, so every unfilter path is load-bearing); pixel "
    "geometry/sum/corner aggregates must match the oracle's ANALYTIC "
    "integration of the synthetic pixel plane pixel(y,x) = base + x + "
    "2y — a single wrong pixel anywhere in the decode chain "
    "hash-mismatches. Plan: per-file streaming WARC scan -> "
    "Arrow-batched decode kernel (no shuffle) -> one global agg; the "
    "shape a multimodal crawl harvest runs at 100 TB (images ride the "
    "same archives as the text).",
    tags=("multimodal", "web"),
)
def multimodal_crawl_images(spark: SparkSession, sf_dir: str) -> DataFrame:
    from roapi_spark.config import TableSource
    from roapi_spark.sources import load_table

    d = warc_images_dir(spark, sf_dir)
    resp = load_table(
        spark,
        TableSource(name="_imgs", uri=d, format="warc",
                    option={"types": "response"}),
    ).filter(F.col("http_content_type") == "image/png")

    def kernel(batches):
        import pandas as pd

        from roapi_spark.functions.multimodal import decode_image

        for pdf in batches:
            out = []
            for payload in pdf["payload"]:
                arr = decode_image(bytes(payload))
                h, w = arr.shape
                out.append(
                    {
                        "w": w,
                        "h": h,
                        "pixel_sum": int(arr.sum(dtype="int64")),
                        "corner": int(arr[0, 0]),
                        "far_corner": int(arr[h - 1, w - 1]),
                    }
                )
            yield pd.DataFrame(
                out, columns=["w", "h", "pixel_sum", "corner", "far_corner"]
            )

    decoded = resp.mapInPandas(
        kernel,
        "w int, h int, pixel_sum bigint, corner int, far_corner int",
    )
    return decoded.agg(
        F.count("*").cast("bigint").alias("n_images"),
        F.sum(F.col("w") * F.col("h")).cast("bigint").alias("px_count"),
        F.sum("pixel_sum").cast("bigint").alias("pixel_sum"),
        F.sum("corner").cast("bigint").alias("corner_sum"),
        F.sum("far_corner").cast("bigint").alias("far_corner_sum"),
    )


# ---- stream_crawl_to_delta -------------------------------------------------


@register(
    "stream_crawl_to_delta",
    oracle=f"""
    WITH kept AS (
      SELECT doc_id, source, {NORM_LEN} AS n_chars
      FROM documents
      WHERE doc_id % 11 <> 3 AND doc_id % 7 <> 2
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
           CAST(SUM(doc_id) AS BIGINT) AS sum_id,
           CAST(2 AS BIGINT) AS n_commits
    FROM kept
    """,
    doc="Streaming corpus delivery gate: WARC shards land in two waves; "
    "each micro-batch is parsed + extracted, filtered to usable pages, "
    "canonical-URL-deduped within the batch, and APPENDED to a Delta "
    "table as one atomic commit through this repo's own writer "
    "(streaming/crawl.stream_crawl_to_delta). The gate then reads the "
    "table back through the pure-Python Delta source and checks "
    "docs/sources/char-sum/id-sum AND the commit count (2 waves = 2 "
    "versions), so a dropped batch, a double append, a partial commit, "
    "or a mis-extracted page hash-mismatches. This closes the ingest "
    "loop end to end: crawl stream -> delta corpus -> (CDF) -> the "
    "incremental dedup/quality consumers. Plan: fixture-sized; at "
    "scale each batch costs its arrival volume and one commit.",
    tags=("streaming", "web", "delta"),
)
def stream_crawl_to_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    import atexit
    import shutil
    import tempfile

    from roapi_spark.sources.delta import _log_versions
    from roapi_spark.streaming.crawl import stream_crawl_to_delta as _deliver

    src = warc_fixture_dir(spark, sf_dir)
    shards = warc_shards(src)
    landing = tempfile.mkdtemp(prefix="crawl_delta_landing_")
    table_root = tempfile.mkdtemp(prefix="crawl_delta_table_")
    # the returned DataFrame reads the table LAZILY, so the tmpdir must
    # survive this call — reap it at process exit (same pattern as the
    # worker-ship zip) so repeated gate runs don't accumulate tmpdirs
    atexit.register(shutil.rmtree, table_root, ignore_errors=True)
    table = table_root + "/corpus"
    try:
        for name in shards[: N_SHARDS // 2]:
            shutil.copy(os.path.join(src, name), os.path.join(landing, name))
        q = _deliver(
            spark,
            landing,
            table,
            os.path.join(landing, "_ckpt"),
            query_name="stream_crawl_to_delta",
        )
        try:
            q.processAllAvailable()
            for name in shards[N_SHARDS // 2 :]:
                shutil.copy(
                    os.path.join(src, name), os.path.join(landing, name)
                )
            q.processAllAvailable()
        finally:
            q.stop()
        from roapi_spark.config import TableSource
        from roapi_spark.sources import load_table

        corpus = load_table(
            spark, TableSource(name="_corpus", uri=table, format="delta")
        )
        n_commits = len(
            _log_versions(os.path.join(table, "_delta_log"))
        )
        return corpus.agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.count_distinct("source").cast("bigint").alias("n_sources"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
            F.sum("doc_id").cast("bigint").alias("sum_id"),
            F.lit(n_commits).cast("bigint").alias("n_commits"),
        )
    finally:
        # the returned DataFrame reads the table LAZILY — only the
        # landing dir is disposable here; the table tmpdir is reaped by
        # the atexit hook registered above
        shutil.rmtree(landing, ignore_errors=True)


def _crawl_edges(
    spark: SparkSession, sf_dir: str, links: DataFrame | None = None
) -> DataFrame:
    """(src, dst) doc-id edges: the general link pass restricted to the
    CRAWLED SET — a resolved target is an intra-corpus edge iff its
    canonical form is itself a fetched page (left-semi join against the
    canonical page set), which is how a real WAT pass separates corpus
    links from chrome/external ones; no href-shape regex. The final
    canonical->doc_id mapping uses the fixture's URL layout (gate glue,
    same as every other gate's id recovery)."""
    # metadata-only pass: the page SET needs URIs, never payloads —
    # payload=false keeps corpus bytes out of the Arrow transfer (at
    # real crawl scale this pass reads the CDX index instead)
    resp = read_warc(spark, sf_dir, types="response", payload="false")
    page_set = (
        resp.select(canonical_url(F.col("target_uri")).alias("dst_canon"))
        .distinct()
    )
    if links is None:
        links = crawl_links(spark, sf_dir)
    intra = links.join(F.broadcast(page_set), "dst_canon", "left_semi")
    return intra.select(
        F.regexp_extract("src_canon", r"://[^/]+/[^/]+/(\d+)", 1)
        .cast("bigint")
        .alias("src"),
        F.regexp_extract("dst_canon", r"://[^/]+/[^/]+/(\d+)", 1)
        .cast("bigint")
        .alias("dst"),
    )


@register(
    "q_crawl_link_graph",
    oracle="""
    WITH live AS (
      SELECT doc_id FROM documents
      WHERE doc_id % 11 <> 3 AND doc_id % 7 <> 2
    ),
    edges AS (
      SELECT doc_id AS src,
             (doc_id * 7) % (SELECT COUNT(*) FROM documents) AS dst
      FROM live
    ),
    indeg AS (SELECT dst, COUNT(*) AS d FROM edges GROUP BY dst)
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM edges) AS n_edges,
           CAST(COUNT(*) AS BIGINT) AS n_targets,
           CAST(MAX(d) AS BIGINT) AS max_indegree,
           CAST(SUM(dst * d) AS BIGINT) AS sum_dst,
           CAST(MIN(dst) AS BIGINT) AS min_dst
    FROM indeg
    """,
    doc="Crawl link-graph extraction (the GENERAL WAT pass): every "
    "HTML page carries one cross-document footer link following a "
    "functional map (dst = 7*src mod N), emitted in doc_id-residue-"
    "varied RFC 3986 reference forms (absolute, protocol-relative, "
    "path-absolute with tracking noise, ../-relative, dot-segmented); "
    "the links kernel parses ALL anchors (functions/web.extract_links), "
    "RESOLVES each against the page's target URI (web.resolve_url, "
    "RFC 3986 §5), canonicalizes, and keeps intra-corpus edges by a "
    "left-semi join against the canonical page set — chrome and "
    "external links drop out because they are not fetched pages, not "
    "because of any href-shape regex. The in-degree profile must match "
    "the oracle's closed-form replay of the functional map over live "
    "pages; any resolution or canonicalization error lands the edge "
    "outside the page set and shifts a count. Duplicate-URL records "
    "(%13) collapse via canonical page dedup. Plan: streaming WARC "
    "scan -> Arrow-batched parse+resolve (no shuffle) -> codegen'd "
    "canonicalization -> broadcast semi join on the page set -> one "
    "hash agg on dst; at 100 TB the page-set join becomes a shuffle "
    "join keyed on the canonical URL — still one corpus scan.",
    tags=("web", "graph"),
)
def q_crawl_link_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _crawl_edges(spark, sf_dir).select("dst")
    indeg = edges.groupBy("dst").agg(F.count("*").alias("d"))
    return indeg.agg(
        F.sum("d").cast("bigint").alias("n_edges"),
        F.count("*").cast("bigint").alias("n_targets"),
        F.max("d").cast("bigint").alias("max_indegree"),
        F.sum(F.col("dst") * F.col("d")).cast("bigint").alias("sum_dst"),
        F.min("dst").cast("bigint").alias("min_dst"),
    )


# ---- q_crawl_pagerank ------------------------------------------------------

_CPR_ITERS = 2
_CPR_SCALE = 1_000_000
_CPR_DN, _CPR_DD = 85, 100  # damping 0.85 as an exact ratio


def _crawl_pagerank_oracle() -> str:
    base = _CPR_SCALE * (_CPR_DD - _CPR_DN) // _CPR_DD
    parts = [
        """live AS (
      SELECT doc_id FROM documents
      WHERE doc_id % 11 <> 3 AND doc_id % 7 <> 2
    ),
    edges AS (
      SELECT doc_id AS a,
             (doc_id * 7) % (SELECT COUNT(*) FROM documents) AS b
      FROM live
    ),
    nodes AS (SELECT a AS n FROM edges UNION SELECT b FROM edges),
    deg AS (SELECT a AS n, COUNT(*) AS d FROM edges GROUP BY a),
    pr0 AS (SELECT n, {scale} AS pr FROM nodes)""".format(scale=_CPR_SCALE)
    ]
    for t in range(1, _CPR_ITERS + 1):
        parts.append(
            f"""s{t} AS (
      SELECT e.b AS n, SUM(p.pr // d.d) AS s
      FROM edges e JOIN pr{t - 1} p ON p.n = e.a JOIN deg d ON d.n = e.a
      GROUP BY e.b
    ),
    pr{t} AS (
      SELECT nodes.n,
             {base} + (COALESCE(s{t}.s, 0) * {_CPR_DN}) // {_CPR_DD} AS pr
      FROM nodes LEFT JOIN s{t} ON nodes.n = s{t}.n
    )"""
        )
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f"""
    SELECT nodes.n AS doc_id,
           CAST(COALESCE(deg.d, 0) AS BIGINT) AS out_degree,
           CAST(pr{_CPR_ITERS}.pr AS BIGINT) AS pagerank
    FROM nodes LEFT JOIN deg ON nodes.n = deg.n
    JOIN pr{_CPR_ITERS} ON nodes.n = pr{_CPR_ITERS}.n
    ORDER BY doc_id
    """
    )


@register(
    "q_crawl_pagerank",
    oracle=_crawl_pagerank_oracle(),
    doc=f"PageRank over the crawl link graph ({_CPR_ITERS} power "
    "iterations, damping 0.85, fixed-point integer arithmetic — the "
    "same bit-exact iterative pattern as q_pagerank_dupgraph, but over "
    "a DIRECTED graph parsed from real page anchors by the links "
    "kernel, dangling pages contributing nothing): the quality prior a "
    "crawl scheduler feeds back into fetch ordering (edge source = the "
    "materialized WAT snapshot; the parse is pinned fresh by "
    "q_crawl_link_graph). Per-node output "
    "(doc_id, out_degree, pagerank) joins edge endpoints only, so an "
    "isolated page never invents rank. Plan: one WARC scan builds the "
    "edge set (graph-sized, tiny vs the corpus), then each iteration "
    "is two broadcast-scale joins + one hash agg over EDGES, "
    "checkpointed — corpus is never re-scanned.",
    tags=("web", "graph", "iterative"),
)
def q_crawl_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = (
        _crawl_edges(spark, sf_dir, links=links_snapshot(spark, sf_dir))
        .select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .localCheckpoint(eager=True)
    )
    nodes = (
        edges.select(F.col("a").alias("n"))
        .union(edges.select(F.col("b").alias("n")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    deg = edges.groupBy(F.col("a").alias("n")).agg(F.count("*").alias("d"))
    base = _CPR_SCALE * (_CPR_DD - _CPR_DN) // _CPR_DD
    pr = nodes.select("n", F.lit(_CPR_SCALE).cast("bigint").alias("pr"))
    for _ in range(_CPR_ITERS):
        contrib = (
            edges.join(pr, edges.a == pr.n)
            .join(
                deg.select(F.col("n").alias("dn"), "d"),
                edges.a == F.col("dn"),
            )
            .select(F.col("b"), F.expr("pr div d").alias("c"))
            .groupBy("b")
            .agg(F.sum("c").alias("s"))
        )
        pr = (
            nodes.join(contrib, nodes.n == contrib.b, "left")
            .select(
                "n",
                (
                    F.lit(base)
                    + F.expr(
                        f"(coalesce(s, 0) * {_CPR_DN}) div {_CPR_DD}"
                    )
                )
                .cast("bigint")
                .alias("pr"),
            )
            .localCheckpoint(eager=False)
        )
    return (
        nodes.join(deg, "n", "left")
        .join(pr.select(F.col("n").alias("pn"), "pr"), nodes.n == F.col("pn"))
        .select(
            F.col("n").alias("doc_id"),
            F.coalesce(F.col("d"), F.lit(0)).cast("bigint").alias("out_degree"),
            F.col("pr").cast("bigint").alias("pagerank"),
        )
        .orderBy("doc_id")
    )


@register(
    "q_psl_domains",
    oracle=f"""
    WITH h AS (
      SELECT {host_case_sql(PSL_HOSTS)} AS host FROM documents
    )
    SELECT {registrable_domain_sql('host')} AS domain,
           CAST(COUNT(*) AS BIGINT) AS n_hosts
    FROM h GROUP BY domain ORDER BY domain
    """,
    doc="Public-suffix-list gate: hosts cycled across 16 residue "
    "classes span ≥10 suffix families from the pinned PSL snapshot — "
    "ccSLDs (co.uk, com.br, com.tr, ac.in, gob.mx, co.jp), 3-label "
    "rules that must beat their 2-label prefixes (k12.ca.us, "
    "s3.amazonaws.com), private platform suffixes (github.io, "
    "blogspot.com), WILDCARD rules ('*' matching exactly one label: "
    "*.ck, *.kawasaki.jp), EXCEPTION rules that prevail over them "
    "(!www.ck, !city.kawasaki.jp) and default-rule hosts — and reduce "
    "to eTLD+1 via "
    "functions/web.registrable_domain, whose suffix alternations are "
    "COMPILED FROM the snapshot data file; the oracle derives its CASE "
    "from the SAME file (registrable_domain_sql), so a dropped or "
    "mis-ranked rule on either side hash-mismatches. Plan: FileScan -> "
    "codegen'd projection (the alternation compiles once per task) -> "
    "domain-keyed hash agg; the domain column stays a shuffle-safe "
    "dedup/join key at 100 TB.",
    tags=("web", "filter"),
)
def q_psl_domains(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    host = host_case_col(PSL_HOSTS)
    return (
        docs.select(registrable_domain(host).alias("domain"))
        .groupBy("domain")
        .agg(F.count("*").cast("bigint").alias("n_hosts"))
        .orderBy("domain")
    )


# ---- q_crawl_host_graph -----------------------------------------------------

# per live HTML page: 6 chrome links (nav 2, sidebar 3, privacy 1) + 1
# intra-corpus doc link, all on the crawl host -> example.com; plus 1
# cross-host partner link cycled by doc_id % 6 over fixtures.EXT_HOSTS
_LINKS_PER_PAGE_SAME_DOMAIN = 7


def _host_graph_oracle() -> str:
    from roapi_spark.functions.fixtures import EXT_HOSTS

    return f"""
    WITH live AS (
      SELECT doc_id FROM documents
      WHERE doc_id % 11 <> 3 AND doc_id % 7 <> 2
    ),
    ext AS (
      SELECT {host_case_sql(EXT_HOSTS)} AS host FROM live
    ),
    rows AS (
      SELECT 'example.com' AS src_domain,
             {registrable_domain_sql('host')} AS dst_domain,
             CAST(COUNT(*) AS BIGINT) AS n_links
      FROM ext GROUP BY dst_domain
      UNION ALL
      SELECT 'example.com', 'example.com',
             CAST({_LINKS_PER_PAGE_SAME_DOMAIN}
                  * (SELECT COUNT(*) FROM live) AS BIGINT)
    )
    SELECT * FROM rows ORDER BY src_domain, dst_domain
    """


@register(
    "q_crawl_host_graph",
    oracle=_host_graph_oracle(),
    doc="Host-level crawl link graph: the general WAT pass "
    "(fixtures.crawl_links — parse every anchor, RFC 3986-resolve "
    "against the page's target URI, canonicalize) keyed by registrable "
    "domain on BOTH endpoints, no link filtered or shape-matched "
    "anywhere: chrome + intra-corpus links land on the crawl's own "
    "domain, the cross-host partner links (absolute URLs cycling six "
    "PSL-snapshot families) land in their domain buckets. The oracle "
    "replays the per-page link inventory in closed form and derives "
    "the external domains from the SAME suffix snapshot, so a "
    "resolution miss, a dropped anchor, or a mis-bucketed suffix "
    "shifts a count. Plan: reads the materialized WAT snapshot "
    "(fixtures.links_snapshot — the parse is paid once and pinned "
    "fresh by q_crawl_link_graph) -> codegen'd canonicalize+domain -> hash agg on "
    "(src_domain, dst_domain); at 100 TB this is the host-graph build "
    "behind crawl scheduling and domain-level quality priors, and the "
    "agg key is the (tiny) domain pair.",
    tags=("web", "graph"),
)
def q_crawl_host_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    links = links_snapshot(spark, sf_dir)
    return (
        links.select(
            registrable_domain(url_host(F.col("src_canon"))).alias(
                "src_domain"
            ),
            registrable_domain(url_host(F.col("dst_canon"))).alias(
                "dst_domain"
            ),
        )
        .groupBy("src_domain", "dst_domain")
        .agg(F.count("*").cast("bigint").alias("n_links"))
        .orderBy("src_domain", "dst_domain")
    )


# ---- q_crawl_hits -----------------------------------------------------------

_HITS_SCALE = 1_000_000
_HITS_ITERS = 2


def _crawl_hits_oracle(iters: int = _HITS_ITERS) -> str:
    from roapi_spark.functions.fixtures import EXT_HOSTS

    parts = [
        f"""live AS MATERIALIZED (
      SELECT doc_id FROM documents
      WHERE doc_id % 11 <> 3 AND doc_id % 7 <> 2
    ),
    ext AS MATERIALIZED (
      SELECT {registrable_domain_sql("host")} AS d,
             CAST(COUNT(*) AS BIGINT) AS w
      FROM (SELECT {host_case_sql(EXT_HOSTS)} AS host FROM live)
      GROUP BY 1
    ),
    edges AS MATERIALIZED (
      SELECT 'example.com' AS src, d AS dst, w FROM ext
      UNION ALL
      SELECT 'example.com', 'example.com',
             CAST({_LINKS_PER_PAGE_SAME_DOMAIN}
                  * (SELECT COUNT(*) FROM live) AS BIGINT)
    ),
    nodes AS MATERIALIZED (SELECT src AS n FROM edges UNION SELECT dst FROM edges),
    h0 AS MATERIALIZED (SELECT n, CAST({_HITS_SCALE} AS BIGINT) AS v FROM nodes)"""
    ]
    prev_h = "h0"
    for t in range(1, iters + 1):
        parts.append(
            f"""a{t}r AS MATERIALIZED (
      SELECT e.dst AS n, SUM(e.w * p.v) AS s
      FROM edges e JOIN {prev_h} p ON p.n = e.src GROUP BY 1
    ),
    a{t}u AS MATERIALIZED (
      SELECT nodes.n, CAST(COALESCE(s, 0) AS BIGINT) AS v
      FROM nodes LEFT JOIN a{t}r ON nodes.n = a{t}r.n
    ),
    a{t} AS MATERIALIZED (
      SELECT n, CAST((v * {_HITS_SCALE})
                     // (SELECT MAX(v) FROM a{t}u) AS BIGINT) AS v
      FROM a{t}u
    ),
    h{t}r AS MATERIALIZED (
      SELECT e.src AS n, SUM(e.w * a.v) AS s
      FROM edges e JOIN a{t} a ON a.n = e.dst GROUP BY 1
    ),
    h{t}u AS MATERIALIZED (
      SELECT nodes.n, CAST(COALESCE(s, 0) AS BIGINT) AS v
      FROM nodes LEFT JOIN h{t}r ON nodes.n = h{t}r.n
    ),
    h{t} AS MATERIALIZED (
      SELECT n, CAST((v * {_HITS_SCALE})
                     // (SELECT MAX(v) FROM h{t}u) AS BIGINT) AS v
      FROM h{t}u
    )"""
        )
        prev_h = f"h{t}"
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f"""
    SELECT nodes.n AS domain,
           CAST(h{iters}.v AS BIGINT) AS hub,
           CAST(a{iters}.v AS BIGINT) AS authority
    FROM nodes
    JOIN h{iters} ON nodes.n = h{iters}.n
    JOIN a{iters} ON nodes.n = a{iters}.n
    ORDER BY domain
    """
    )


def hits_scores(
    edges: DataFrame, nodes: DataFrame, iters: int
) -> tuple[DataFrame, DataFrame]:
    """``iters`` HITS iterations over weighted edges (src, dst, w) in
    fixed-point integers with per-step max-normalization; returns
    (hub, authority) score frames keyed by ``n``.

    Each iteration ends in a ``localCheckpoint(eager=False)`` on both
    score frames — without it the lineage doubles per iteration (two
    joins + a broadcast-normalize per step) and the optimizer blows up
    past ~10 iterations; with it the plan stays one-iteration-deep at
    any count (the PageRank discipline next door,
    q_crawl_pagerank)."""
    h = nodes.select("n", F.lit(_HITS_SCALE).cast("bigint").alias("v"))
    a = h
    for _ in range(iters):
        h, a = _hits_step(edges, nodes, h)
    # iterations carry SPARSE frames (nodes with no in-weight are simply
    # absent — they contribute 0 either way); the public contract stays
    # dense: every node, zeros materialized
    return _densify(nodes, h), _densify(nodes, a)


def hits_converged(
    edges: DataFrame,
    nodes: DataFrame,
    max_iters: int = 50,
) -> tuple[DataFrame, DataFrame, int]:
    """Iterate HITS until the fixed-point scores stop changing (exact
    integer compare — max-normalized fixed-point reaches a true fixed
    point, no epsilon needed) or ``max_iters``; returns (hub,
    authority, iterations_run). One anti-join count per iteration is
    the price of the stopping test — the convergence path is for
    analyses that need stable ranks, not the exact-replay gates."""
    h = nodes.select("n", F.lit(_HITS_SCALE).cast("bigint").alias("v"))
    h, a = _hits_step(edges, nodes, h)

    def _differs(x: DataFrame, y: DataFrame) -> DataFrame:
        # scores are SPARSE (absent == 0), so compare over the full
        # outer key set with zeros coalesced
        return (
            x.alias("x")
            .join(y.alias("y"), F.col("x.n") == F.col("y.n"), "full")
            .filter(
                F.coalesce(F.col("x.v"), F.lit(0))
                != F.coalesce(F.col("y.v"), F.lit(0))
            )
        )

    for it in range(2, max_iters + 1):
        # run one more iteration from the checkpointed state
        nh, na = _hits_step(edges, nodes, h)
        changed = (
            _differs(nh, h).union(_differs(na, a)).limit(1).count()
        )
        h, a = nh, na
        if changed == 0:
            return _densify(nodes, h), _densify(nodes, a), it
    return _densify(nodes, h), _densify(nodes, a), max_iters


def _densify(nodes: DataFrame, score: DataFrame) -> DataFrame:
    """Sparse score frame -> one row per node, absent keys as 0."""
    return nodes.join(
        F.broadcast(score.withColumnRenamed("n", "sn")),
        nodes.n == F.col("sn"),
        "left",
    ).select("n", F.coalesce("v", F.lit(0)).cast("bigint").alias("v"))


def _hits_step(
    edges: DataFrame, nodes: DataFrame, h: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """One (authority, hub) update from hub state ``h``, checkpointed.
    Returns SPARSE score frames: a node with no in-weight is absent
    rather than 0 — its contribution to the next step's sums is 0
    either way (weights are >= 0), div flooring keeps genuine 0-score
    rows present, and the max over raw sums is unchanged, so the
    densified fixed point is bit-identical (oracle-verified).

    Why sparse: the per-iteration cost of this query is DRIVER-side
    plan construction (~0.2 s per half at round 14 — each lazy
    localCheckpoint plans its physical plan), not execution (~10 ms).
    Dropping the per-step dense nodes join removes a join + broadcast
    from every planned iteration; zeros materialize once at the end
    (hits_scores/_hits_frame). The normalization max still comes from
    the aggregated raw frame (round-14: detaches the max job from the
    join critical path); coalesce(max, 1) guards the empty-edge-set
    corner (unreachable today — nodes derive from edge endpoints — but
    a filtered caller would otherwise get silent NULL scores)."""

    def half(score: DataFrame, src_col: str, dst_col: str) -> DataFrame:
        raw = (
            edges.join(
                score.withColumnRenamed("n", "jn"),
                F.col(src_col) == F.col("jn"),
            )
            .select(dst_col, (F.col("w") * F.col("v")).alias("c"))
            .groupBy(dst_col)
            .agg(F.sum("c").cast("bigint").alias("s"))
        )
        mx = raw.agg(F.coalesce(F.max("s"), F.lit(1)).alias("mx"))
        return (
            raw.crossJoin(F.broadcast(mx))
            .select(
                F.col(dst_col).alias("n"),
                F.expr(f"(s * {_HITS_SCALE}) div mx")
                .cast("bigint")
                .alias("v"),
            )
            .localCheckpoint(eager=False)
        )

    a = half(h, "src", "dst")
    nh = half(a, "dst", "src")
    return nh, a


@register(
    "q_crawl_hits",
    oracle=_crawl_hits_oracle(),
    doc=f"HITS hubs & authorities over the WEIGHTED host-level link "
    f"graph ({_HITS_ITERS} iterations, fixed-point integers, per-step "
    "max-normalization so values stay bit-exact and bounded — the "
    "same exact-replay discipline as the PageRank gates): the crawl "
    "domain is the sole hub (all outlinks originate there), the six "
    "external PSL-family partner domains are pure authorities, and "
    "weights are the per-domain link counts from the general WAT "
    "pass — so a dropped anchor, a mis-bucketed suffix, or an "
    "off-by-one in either matrix product shifts a fixed-point value "
    "and hash-mismatches against the DuckDB replay. Plan: the WAT "
    "snapshot builds the weighted domain edges (tiny vs the corpus); "
    "each iteration is two broadcast-scale joins + hash aggs over "
    "EDGES plus a 1-row max broadcast, checkpointed per step "
    "(hits_scores) so deep runs stay one-iteration-deep in the "
    "optimizer; at 100 TB the edge table is the domain-pair "
    "aggregate, never raw links.",
    tags=("web", "graph", "iterative"),
)
def q_crawl_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _hits_frame(spark, sf_dir, _HITS_ITERS)


def _hits_frame(spark: SparkSession, sf_dir: str, iters: int) -> DataFrame:
    links = links_snapshot(spark, sf_dir)
    edges = (
        links.select(
            registrable_domain(url_host(F.col("src_canon"))).alias("src"),
            registrable_domain(url_host(F.col("dst_canon"))).alias("dst"),
        )
        .groupBy("src", "dst")
        .agg(F.count("*").cast("bigint").alias("w"))
        .localCheckpoint(eager=True)
    )
    nodes = (
        edges.select(F.col("src").alias("n"))
        .union(edges.select(F.col("dst").alias("n")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    h, a = hits_scores(edges, nodes, iters)
    return (
        nodes.join(h.select(F.col("n").alias("hn"), F.col("v").alias("hub")),
                   nodes.n == F.col("hn"))
        .join(a.select(F.col("n").alias("an"), F.col("v").alias("authority")),
              nodes.n == F.col("an"))
        .select(F.col("n").alias("domain"), "hub", "authority")
        .orderBy("domain")
    )


_HITS_DEEP_ITERS = 8


@register(
    "q_crawl_hits_deep",
    oracle=_crawl_hits_oracle(_HITS_DEEP_ITERS),
    doc=f"HITS at convergence depth ({_HITS_DEEP_ITERS} iterations — "
    "4x the headline gate): the round-13 verdict flagged that "
    "q_crawl_hits' 2-iteration plan would blow up the optimizer at "
    "the 20-50 iterations a convergence run needs because h/a lineage "
    "doubled per step; hits_scores now localCheckpoints BOTH score "
    "frames every iteration (the PageRank discipline), and this gate "
    "proves the fix in the driver-visible surface: the DuckDB oracle "
    "replays all 8 fixed-point iterations as chained CTEs, so a "
    "checkpoint that altered values (not just lineage) or a "
    "divergence between step K and K+1 hash-mismatches. Plan: "
    "identical per-iteration shape to q_crawl_hits — two "
    "broadcast-scale joins + hash aggs over the domain-pair "
    "aggregate + a 1-row max broadcast — repeated 8x with the plan "
    "held one-iteration-deep; at 100 TB iteration cost is flat in "
    "iteration count.",
    tags=("web", "graph", "iterative"),
)
def q_crawl_hits_deep(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _hits_frame(spark, sf_dir, _HITS_DEEP_ITERS)


# ---- stream_frontier_bounded ------------------------------------------------


@register(
    "stream_frontier_bounded",
    oracle="""
    WITH d AS (
      SELECT doc_id, doc_id % 8 AS shard,
             (doc_id % 13 = 5) AS hasdup
      FROM documents
    ),
    per_shard AS (
      SELECT shard,
             CAST(COUNT(*) AS BIGINT)
               + CAST(SUM(CASE WHEN hasdup THEN 1 ELSE 0 END) AS BIGINT)
               AS n_urls,
             CAST(COUNT(*) AS BIGINT) AS n_new
      FROM d GROUP BY shard
    ),
    named AS (
      SELECT 'docs-0' || shard || (CASE WHEN shard % 2 = 0 THEN '.warc.gz'
                                        ELSE '.warc' END) AS warc_file,
             n_urls, n_new
      FROM per_shard
      UNION ALL
      SELECT 'recrawl-00.warc.gz', n_urls, CAST(0 AS BIGINT)
      FROM per_shard WHERE shard = 0
      UNION ALL
      SELECT 'recrawl-01.warc', n_urls, CAST(0 AS BIGINT)
      FROM per_shard WHERE shard = 1
    )
    SELECT * FROM named ORDER BY warc_file
    """,
    doc="Bounded-frontier gate: the Bloom-fronted variant of the crawl "
    "frontier (streaming/crawl.stream_url_frontier_bounded) — state is "
    "64 fixed 8 KiB Bloom bitmaps (512 KiB total, checkpointed) "
    "instead of one row per canonical URL, the production bound the "
    "exact kernel's docstring promises. Shards land in two waves and "
    "wave 2 RE-LANDS two wave-1 shards under new names (a re-crawl-"
    "heavy arrival mix), so cross-batch revisit suppression must hold "
    "through the bitmap state. Classification is md5-deterministic; "
    "the oracle pins the EXACT expected first-seen counts, so any "
    "false positive inside the fixture (budget ~(nK/bits)^K < 1e-6 per "
    "URL at sf0.1) shifts n_new and hash-mismatches — the FP-budget "
    "assertion. The gate additionally asserts state compression is "
    "real: distinct canonicals must EXCEED the 64-bucket bound (the "
    "fixture stresses it) and touched buckets must be strictly fewer "
    "than canonicals — both computed DISTRIBUTED from a per-batch "
    "parquet spill (only two scalars reach the driver; never a row "
    "per URL). Plan: fixture-sized; per-batch input is the file-"
    "arrival rate and state is CONSTANT in crawl size — the scale "
    "story the exact frontier can't offer.",
    tags=("streaming", "web"),
)
def stream_frontier_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from roapi_spark.streaming.crawl import (
        N_BLOOM_BUCKETS,
        stream_state_partitions,
        stream_url_frontier_bounded,
    )

    src = warc_fixture_dir(spark, sf_dir)
    shards = warc_shards(src)
    landing = tempfile.mkdtemp(prefix="frontier_bounded_landing_")
    spill = tempfile.mkdtemp(prefix="frontier_bounded_spill_")
    acc: dict[str, list] = {}

    def process(classified: DataFrame, batch_id: int) -> None:
        # two actions read this batch (the count agg AND the state-bound
        # spill below); without a persist each action re-executes the
        # whole stateful plan — WARC parse, shuffle, state kernel —
        # doubling every micro-batch (measured ~0.9 s/batch at sf0.1)
        classified.persist()
        try:
            for r in (
                classified.groupBy("warc_file")
                .agg(
                    F.count("*").cast("bigint").alias("n_urls"),
                    F.sum("is_new").cast("bigint").alias("n_new"),
                )
                .collect()
            ):
                cur = acc.setdefault(r["warc_file"], [0, 0])
                cur[0] += r["n_urls"]
                cur[1] += r["n_new"]
            # state-bound evidence stays DISTRIBUTED: spill (bucket, canon)
            # to parquet per batch; the cross-batch distinct counts are
            # computed executor-side after the stream ends and only the two
            # numbers reach the driver — never one row per URL
            classified.select("bucket", "canon").write.mode("append").parquet(
                spill
            )
        finally:
            classified.unpersist()

    try:
        for name in shards[: N_SHARDS // 2]:
            shutil.copy(os.path.join(src, name), os.path.join(landing, name))
        with stream_state_partitions(spark):
            q = stream_url_frontier_bounded(
                spark,
                landing,
                process,
                os.path.join(landing, "_ckpt"),
                query_name="stream_frontier_bounded",
            )
            try:
                q.processAllAvailable()
                for name in shards[N_SHARDS // 2 :]:
                    shutil.copy(
                        os.path.join(src, name), os.path.join(landing, name)
                    )
                # wave 2 re-lands shards 0 and 1: a re-crawl-heavy mix
                shutil.copy(
                    os.path.join(src, shards[0]),
                    os.path.join(landing, "recrawl-00.warc.gz"),
                )
                shutil.copy(
                    os.path.join(src, shards[1]),
                    os.path.join(landing, "recrawl-01.warc"),
                )
                q.processAllAvailable()
            finally:
                q.stop()
    finally:
        shutil.rmtree(landing, ignore_errors=True)
    try:
        n_buckets, n_canons = (
            spark.read.parquet(spill)
            .agg(
                F.countDistinct("bucket").alias("b"),
                F.countDistinct("canon").alias("c"),
            )
            .first()
        )
    finally:
        shutil.rmtree(spill, ignore_errors=True)
    # Falsifiable state-bound evidence (bucket<=63 holds by construction
    # — md5 % N_BLOOM_BUCKETS — so asserting it would be dead code):
    # (a) the fixture must actually STRESS the bound — more distinct
    #     canonicals than the bitmap count, else the gate proves nothing;
    # (b) compression must actually happen — strictly fewer touched
    #     buckets than canonicals. A broken canonicalizer (collapsing
    #     URLs) fails (a); a broken bucketer (e.g. dropping the modulo
    #     upstream or keying state per-URL) fails (b).
    if n_canons <= N_BLOOM_BUCKETS:
        raise RuntimeError(
            f"fixture too small to stress the state bound: {n_canons} "
            f"canonicals <= {N_BLOOM_BUCKETS} buckets"
        )
    if n_buckets >= n_canons:
        raise RuntimeError(
            f"no state compression: {n_buckets} buckets for "
            f"{n_canons} canonicals"
        )
    return spark.createDataFrame(
        sorted((f, *v) for f, v in acc.items()),
        "warc_file string, n_urls bigint, n_new bigint",
    )


# ---- q_robots_policies ------------------------------------------------------

# four hosts, four policies: deny-all; a rule-free specific group (RFC
# 9309: a group NAMING the agent with no rules allows everything, even
# when '*' denies all); a mixed longest-match policy; and NO robots.txt
_ROBOTS_UA = "trainbot"
_POLICY_HOSTS = (
    "crawl.example.co.uk",
    "u1.github.io",
    "docs.example.com",
    "open.example.org",  # no robots.txt: absent from the policy table
)
_POLICY_TXT = {
    "example.co.uk": "User-agent: *\nDisallow: /\n",
    "u1.github.io": (
        "User-agent: *\nDisallow: /\n\n"
        f"User-agent: {_ROBOTS_UA}\nDisallow:\n"
    ),
    "example.com": (
        "User-agent: *\nDisallow: /\n\n"
        f"User-agent: {_ROBOTS_UA}\n"
        "Allow: /\n"
        "Disallow: /src1\n"
        "Allow: /src1*0$\n"
        "Disallow: /*9$\n"
    ),
}
_PARSED_POLICIES = {
    dom: parse_robots(txt, _ROBOTS_UA) for dom, txt in _POLICY_TXT.items()
}


def _robots_policies_oracle() -> str:
    host_case = host_case_sql(_POLICY_HOSTS)
    dom = registrable_domain_sql("host")
    decide = " ".join(
        f"WHEN domain = '{d}' "
        f"THEN {robots_allowed_sql(_PATH_SQL, rules)}"
        for d, rules in _PARSED_POLICIES.items()
    )
    return f"""
    WITH u AS (
      SELECT doc_id, source, {host_case} AS host FROM documents
    ),
    d AS (
      SELECT doc_id, source, {dom} AS domain FROM u
    ),
    verdicts AS (
      SELECT domain, doc_id,
             CASE {decide} ELSE TRUE END AS ok
      FROM d
    )
    SELECT domain,
           CAST(SUM(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT) AS n_allowed,
           CAST(SUM(CASE WHEN ok THEN 0 ELSE 1 END) AS BIGINT) AS n_blocked,
           CAST(SUM(CASE WHEN ok THEN doc_id ELSE 0 END) AS BIGINT)
             AS sum_allowed_id
    FROM verdicts GROUP BY domain ORDER BY domain
    """


def _policies_df(spark: SparkSession) -> DataFrame:
    """The (domain -> parsed rule array) policy table — MB-scale per
    million hosts in production, broadcast everywhere it's joined."""
    pol_rows = [
        (
            dom,
            [(allow, robots_regex(p), len(p)) for allow, p in rules],
        )
        for dom, rules in _PARSED_POLICIES.items()
    ]
    return spark.createDataFrame(
        pol_rows,
        "domain string, rules array<struct<allow:boolean,rx:string,plen:int>>",
    )


def _robots_ok_col(path_col: str = "path") -> F.Column:
    """RFC 9309 most-specific-wins over a joined ``rules`` array, as
    higher-order expressions (filter + aggregate + regexp_like); a
    left-join miss (NULL rules — host without robots.txt) allows."""

    def side(want_allow: str) -> str:
        return (
            f"aggregate(filter(rules, r -> {want_allow} AND "
            f"regexp_like({path_col}, r.rx)), -1, "
            "(acc, r) -> greatest(acc, r.plen))"
        )

    return F.when(F.col("rules").isNull(), F.lit(True)).otherwise(
        F.expr(f"{side('r.allow')} >= {side('NOT r.allow')}")
    )


@register(
    "q_robots_policies",
    oracle=_robots_policies_oracle(),
    doc="Per-host robots.txt as a BROADCAST JOIN (the shape a crawl "
    "actually needs, generalizing q_robots_filter's single compiled "
    "policy): a (domain -> parsed rule array<allow, regex, pattern "
    "length>) policy table is broadcast-joined on the URL's "
    "registrable domain, and the RFC 9309 most-specific-wins decision "
    "runs as higher-order expressions over the joined array — "
    "filter(rules, matched) + aggregate(greatest(plen)) per side, "
    "allow >= disallow — so ONE plan serves any number of hosts. "
    "Policies cover a deny-all host, a rule-free specific group "
    "(everything allowed for the named agent even though '*' denies "
    "all), a mixed longest-match policy with wildcard+anchor rules, "
    "and a host with NO robots.txt (left-join miss => allowed). The "
    "oracle replays each host's decision from the SAME parsed rules "
    "and derives domains from the same suffix snapshot. Plan: "
    "FileScan -> codegen'd domain projection -> "
    "BroadcastHashJoin(LeftOuter) -> per-row bounded rule loop -> "
    "domain-keyed hash agg; at 100 TB the policy table for millions "
    "of hosts is MB-scale and still broadcasts, and re-fetching "
    "robots.txt only re-broadcasts the table, never replans.",
    tags=("web", "filter"),
)
def q_robots_policies(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    url = F.concat(
        F.lit("https://"),
        host_case_col(_POLICY_HOSTS),
        F.lit("/"),
        F.col("source"),
        F.lit("/"),
        F.col("doc_id").cast("string"),
    )
    urls = docs.select(
        "doc_id",
        F.concat(
            F.lit("/"), F.col("source"), F.lit("/"),
            F.col("doc_id").cast("string"),
        ).alias("path"),
        registrable_domain(url_host(url)).alias("domain"),
    )
    joined = urls.join(F.broadcast(_policies_df(spark)), "domain", "left")
    ok = _robots_ok_col()
    return (
        joined.select("domain", "doc_id", ok.alias("ok"))
        .groupBy("domain")
        .agg(
            F.sum(F.col("ok").cast("bigint")).cast("bigint").alias(
                "n_allowed"
            ),
            F.sum((~F.col("ok")).cast("bigint")).cast("bigint").alias(
                "n_blocked"
            ),
            F.sum(F.when(F.col("ok"), F.col("doc_id")).otherwise(F.lit(0)))
            .cast("bigint")
            .alias("sum_allowed_id"),
        )
        .orderBy("domain")
    )


# ---- q_crawl_policy_funnel --------------------------------------------------


def _policy_funnel_oracle() -> str:
    rok = robots_allowed_sql(_PATH_SQL, _PARSED_POLICIES["example.com"])
    return f"""
    WITH d AS (
      SELECT doc_id,
             (doc_id % 11 = 3) AS is404,
             (doc_id % 7 = 2) AS isplain,
             (doc_id % 13 = 5) AS hasdup,
             {rok} AS rok
      FROM documents
    ),
    r AS (SELECT * FROM d UNION ALL SELECT * FROM d WHERE hasdup)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_fetched,
           CAST(SUM(CASE WHEN NOT is404 AND NOT isplain THEN 1 ELSE 0 END)
             AS BIGINT) AS n_ok_html,
           CAST(COUNT(DISTINCT CASE WHEN NOT is404 AND NOT isplain
                    THEN doc_id END) AS BIGINT) AS n_unique,
           CAST(COUNT(DISTINCT CASE WHEN NOT is404 AND NOT isplain AND rok
                    THEN doc_id END) AS BIGINT) AS n_allowed,
           CAST(SUM(DISTINCT CASE WHEN NOT is404 AND NOT isplain AND rok
                    THEN doc_id END) AS BIGINT) AS sum_allowed_id
    FROM r
    """


@register(
    "q_crawl_policy_funnel",
    oracle=_policy_funnel_oracle(),
    doc="Policy-composed crawl funnel: the round-12 pieces in one pass "
    "over the WARC fixture — fetched responses -> HTTP 200 text/html "
    "-> canonical-URL dedup -> per-host robots decision, where the "
    "decision comes from the broadcast (domain -> rules) policy table "
    "joined on registrable_domain(url_host(canonical)) and evaluated "
    "by the same higher-order most-specific-wins expressions as "
    "q_robots_policies (the crawl pages' example.com carries the "
    "mixed longest-match policy; the table's other hosts simply don't "
    "bind). One output row of stage counts plus the allowed-id "
    "checksum; the oracle replays every stage from the documents "
    "table via residue arithmetic and the same generated rule "
    "regexes. Plan: one streaming WARC scan -> codegen'd canonical/"
    "domain/path projections -> BroadcastHashJoin(LeftOuter) with the "
    "policy table -> single hash agg with conditional distincts — no "
    "Python in the decision path, no second corpus scan; at 100 TB "
    "this is the fetch-to-corpus admission plan, and re-fetching "
    "robots.txt only re-broadcasts the policy table.",
    tags=("web", "pipeline", "filter"),
)
def q_crawl_policy_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from roapi_spark.functions.web import url_path

    resp = read_warc(spark, sf_dir, types="response")
    canon = canonical_url(F.col("target_uri"))
    staged = (
        resp.select(
            F.col("http_status").alias("status"),
            F.col("http_content_type").alias("ctype"),
            canon.alias("canon"),
        )
        .withColumn(
            "okhtml",
            (F.col("status") == 200)
            & F.col("ctype").startswith("text/html"),
        )
        .withColumn("domain", registrable_domain(url_host(F.col("canon"))))
        .withColumn("path", url_path(F.col("canon")))
        .withColumn(
            "doc_id",
            F.regexp_extract("canon", r"://[^/]+/[^/]+/(\d+)", 1).cast(
                "bigint"
            ),
        )
        .join(F.broadcast(_policies_df(spark)), "domain", "left")
        .withColumn("rok", _robots_ok_col())
    )
    return staged.agg(
        F.count("*").cast("bigint").alias("n_fetched"),
        F.sum(F.col("okhtml").cast("bigint")).cast("bigint").alias(
            "n_ok_html"
        ),
        F.count_distinct(F.when(F.col("okhtml"), F.col("canon")))
        .cast("bigint")
        .alias("n_unique"),
        F.count_distinct(
            F.when(F.col("okhtml") & F.col("rok"), F.col("canon"))
        )
        .cast("bigint")
        .alias("n_allowed"),
        F.sum_distinct(
            F.when(F.col("okhtml") & F.col("rok"), F.col("doc_id"))
        )
        .cast("bigint")
        .alias("sum_allowed_id"),
    )


# ---- q_crawl_anchor_text ----------------------------------------------------


def _anchor_text_oracle() -> str:
    from roapi_spark.functions.fixtures import EXT_HOSTS

    live = (
        "SELECT doc_id FROM documents "
        "WHERE doc_id % 11 <> 3 AND doc_id % 7 <> 2"
    )
    one_dom = ", ".join(
        f"SELECT '{t}' AS anchor_text, "
        "CAST((SELECT COUNT(*) FROM live) AS BIGINT) AS n_links, "
        "CAST(1 AS BIGINT) AS n_dst_domains"
        for t in ("About", "Home", "One", "Privacy", "Three", "Two", "next")
    ).replace(", SELECT", " UNION ALL SELECT")
    return f"""
    WITH live AS ({live}),
    ext AS (
      SELECT {registrable_domain_sql(host_case_sql(EXT_HOSTS))} AS dom
      FROM live
    )
    SELECT * FROM (
      {one_dom}
      UNION ALL
      SELECT 'partner',
             CAST((SELECT COUNT(*) FROM live) AS BIGINT),
             (SELECT CAST(COUNT(DISTINCT dom) AS BIGINT) FROM ext)
    ) ORDER BY anchor_text
    """


@register(
    "q_crawl_anchor_text",
    oracle=_anchor_text_oracle(),
    doc="Anchor-text mining over the general link pass: every anchor's "
    "whitespace-normalized inner text (functions/web."
    "extract_links_with_text — the WAT-side relevance/label signal "
    "crawls feed into ranking and query-document mining) grouped by "
    "text, with per-text link counts and DISTINCT destination "
    "registrable domains. The fixture's chrome anchors each point at "
    "one crawl-domain target, the 'partner' anchors fan out across "
    "six PSL families — a parser that loses anchor boundaries, merges "
    "adjacent anchors' text, or mis-resolves a target shifts a count "
    "or a domain fan-out. Plan: one WARC scan -> Arrow-batched "
    "parse+resolve (no shuffle) -> codegen'd canonical/domain -> "
    "(text)-keyed hash agg with a distinct; at 100 TB anchor text is "
    "the natural shuffle key and the agg is Heaps-bounded in distinct "
    "texts.",
    tags=("web", "graph"),
)
def q_crawl_anchor_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    from roapi_spark.functions.fixtures import crawl_links_text

    links = crawl_links_text(spark, sf_dir)
    return (
        links.select(
            "anchor_text",
            registrable_domain(url_host(F.col("dst_canon"))).alias(
                "dst_domain"
            ),
        )
        .groupBy("anchor_text")
        .agg(
            F.count("*").cast("bigint").alias("n_links"),
            F.count_distinct("dst_domain").cast("bigint").alias(
                "n_dst_domains"
            ),
        )
        .orderBy("anchor_text")
    )


# ---- q_crawl_inlink_text ----------------------------------------------------


def _inlink_text_oracle() -> str:
    from roapi_spark.functions.fixtures import EXT_HOSTS

    live = (
        "SELECT doc_id FROM documents "
        "WHERE doc_id % 11 <> 3 AND doc_id % 7 <> 2"
    )
    chrome = " UNION ALL ".join(
        f"SELECT 'example.com' AS dst_domain, '{t}' AS term, "
        "CAST((SELECT COUNT(*) FROM live) AS BIGINT) AS n"
        for t in ("about", "home", "next", "one", "privacy", "three", "two")
    )
    return f"""
    WITH live AS ({live}),
    ext AS (
      SELECT {registrable_domain_sql(host_case_sql(EXT_HOSTS))}
               AS dst_domain,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM live GROUP BY 1
    ),
    terms AS (
      {chrome}
      UNION ALL
      SELECT dst_domain, 'partner', n FROM ext
    ),
    r AS (
      SELECT dst_domain, term, n,
             ROW_NUMBER() OVER (
               PARTITION BY dst_domain ORDER BY n DESC, term
             ) AS rnk
      FROM terms
    )
    SELECT dst_domain, CAST(rnk AS INT) AS rnk, term, n
    FROM r WHERE rnk <= 3
    ORDER BY dst_domain, rnk
    """


@register(
    "q_crawl_inlink_text",
    oracle=_inlink_text_oracle(),
    doc="Per-destination inlink anchor profiles (r12 verdict item 7): "
    "the WAT-derived relevance feature an LLM crawl joins onto pages — "
    "every anchor's text from the general link pass, lower-cased, "
    "whitespace-tokenized, counted per (destination registrable "
    "domain, term), then top-3 terms per destination by count "
    "(row_number window, count desc / term asc tie-break — the "
    "q_window_topk_per_group shape; edge source = the materialized WAT "
    "text snapshot, parse pinned fresh by q_crawl_anchor_text). The "
    "crawl domain accumulates all "
    "seven chrome/nav terms at equal counts (the tie-break order is "
    "itself pinned); the six external PSL-family partner domains each "
    "profile to their residue-class count. Plan: one WARC scan -> "
    "Arrow-batched parse+resolve -> codegen'd domain key -> "
    "(domain, term) hash agg -> window over the (small) per-domain "
    "term sets; at 100 TB the agg shuffles once on (domain, term) and "
    "the window input is Heaps-bounded in distinct terms per domain, "
    "so top-k never sees raw edges.",
    tags=("web", "graph"),
)
def q_crawl_inlink_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from roapi_spark.functions.fixtures import links_text_snapshot

    links = links_text_snapshot(spark, sf_dir)
    terms = links.select(
        registrable_domain(url_host(F.col("dst_canon"))).alias("dst_domain"),
        F.explode(
            F.split(F.lower(F.trim(F.col("anchor_text"))), r"\s+")
        ).alias("term"),
    ).filter(F.col("term") != "")
    counts = terms.groupBy("dst_domain", "term").agg(
        F.count("*").cast("bigint").alias("n")
    )
    w = Window.partitionBy("dst_domain").orderBy(
        F.desc("n"), F.asc("term")
    )
    return (
        counts.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= 3)
        .select("dst_domain", "rnk", "term", "n")
        .orderBy("dst_domain", "rnk")
    )


# ---- stream_index_fetch -----------------------------------------------------


@register(
    "stream_index_fetch",
    oracle="""
    WITH d AS (
      SELECT doc_id, strlen(text) AS tl,
             (CASE WHEN doc_id % 13 = 5 THEN 2 ELSE 1 END) AS m,
             (doc_id % 11 = 3) AS is404,
             (doc_id % 11 <> 3 AND doc_id % 7 = 2) AS isplain
      FROM documents
    ),
    f AS (SELECT * FROM d WHERE is404 OR isplain)
    SELECT CAST(SUM(m) AS BIGINT) AS n_fetched,
           CAST(SUM(CASE WHEN isplain THEN m ELSE 0 END) AS BIGINT)
             AS n_plain,
           CAST(SUM(CASE WHEN is404 THEN m ELSE 0 END) AS BIGINT) AS n_404,
           CAST(SUM(CASE WHEN isplain THEN m * tl ELSE 0 END) AS BIGINT)
             AS plain_octets,
           CAST(SUM(CASE WHEN is404 THEN m * 37 ELSE 0 END) AS BIGINT)
             AS octets_404,
           CAST(SUM(m) AS BIGINT) AS n_match
    FROM f
    """,
    doc="Streaming index-driven fetch gate (the fetcher-fleet "
    "consumption pattern): CDXJ pointer shards land in two waves; each "
    "micro-batch parses the new pointers with the SAME parse the batch "
    "cdx source uses, prunes to the sparse capture subset (text/plain "
    "+ 404s) with codegen'd filters BEFORE any archive byte moves, and "
    "random-access fetches exactly the pointed-at records from the "
    "static archives (streaming/crawl.stream_index_fetch -> "
    "sources/warc.fetch_records). Totals across both waves — counts, "
    "per-class payload octets, pointer-vs-record url/status equality — "
    "must match the residue closed form, so a dropped shard, a "
    "re-delivered shard, a stale offset, or a parse drift shifts a "
    "figure. Plan: per-batch cost = newly landed index volume + one "
    "seek+read per surviving pointer; exactly-once per index shard via "
    "the file-stream checkpoint; the archives are never scanned.",
    tags=("streaming", "web"),
)
def stream_index_fetch(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from roapi_spark.streaming.crawl import stream_index_fetch as _ifetch

    src = warc_fixture_dir(spark, sf_dir)
    ptr_files = sorted(
        n for n in os.listdir(src) if n.startswith("pointers-")
    )
    landing = tempfile.mkdtemp(prefix="index_fetch_landing_")
    acc = {
        k: 0
        for k in (
            "n_fetched", "n_plain", "n_404", "plain_octets",
            "octets_404", "n_match",
        )
    }

    def pfilter(p: DataFrame) -> DataFrame:
        return p.filter(
            (F.col("mime") == "text/plain") | (F.col("status") == 404)
        ).select("url", "status", "warc_filename", "offset", "length")

    def process(fetched: DataFrame, batch_id: int) -> None:
        is_plain = (F.col("http_status") == 200) & F.col(
            "http_content_type"
        ).startswith("text/plain")
        is_404 = F.col("http_status") == 404
        rows = fetched.agg(
            F.count("*").cast("bigint").alias("n_fetched"),
            F.sum(is_plain.cast("bigint")).cast("bigint").alias("n_plain"),
            F.sum(is_404.cast("bigint")).cast("bigint").alias("n_404"),
            F.sum(
                F.when(
                    is_plain, F.length("payload").cast("bigint")
                ).otherwise(F.lit(0))
            )
            .cast("bigint")
            .alias("plain_octets"),
            F.sum(
                F.when(
                    is_404, F.length("payload").cast("bigint")
                ).otherwise(F.lit(0))
            )
            .cast("bigint")
            .alias("octets_404"),
            F.sum(
                (
                    (F.col("ptr_url") == F.col("target_uri"))
                    & (F.col("ptr_status") == F.col("http_status"))
                ).cast("bigint")
            )
            .cast("bigint")
            .alias("n_match"),
        ).collect()
        for k in acc:
            acc[k] += int(rows[0][k] or 0)

    try:
        for name in ptr_files[: len(ptr_files) // 2]:
            shutil.copy(os.path.join(src, name), os.path.join(landing, name))
        q = _ifetch(
            spark,
            landing,
            src,
            process,
            os.path.join(landing, "_ckpt"),
            pointer_filter=pfilter,
            query_name="stream_index_fetch",
        )
        try:
            q.processAllAvailable()
            for name in ptr_files[len(ptr_files) // 2 :]:
                shutil.copy(
                    os.path.join(src, name), os.path.join(landing, name)
                )
            q.processAllAvailable()
        finally:
            q.stop()
    finally:
        shutil.rmtree(landing, ignore_errors=True)
    return spark.createDataFrame(
        [tuple(acc[k] for k in (
            "n_fetched", "n_plain", "n_404", "plain_octets",
            "octets_404", "n_match",
        ))],
        "n_fetched bigint, n_plain bigint, n_404 bigint, "
        "plain_octets bigint, octets_404 bigint, n_match bigint",
    )


# ---- q_crawl_host_budget ----------------------------------------------------

_BUDGET = 1000


def _host_budget_oracle() -> str:
    from roapi_spark.functions.fixtures import EXT_HOSTS

    return f"""
    WITH live AS (
      SELECT doc_id FROM documents
      WHERE doc_id % 11 <> 3 AND doc_id % 7 <> 2
    ),
    w AS (
      SELECT {registrable_domain_sql("host")} AS domain,
             CAST(COUNT(*) AS BIGINT) AS n_links
      FROM (SELECT {host_case_sql(EXT_HOSTS)} AS host FROM live)
      GROUP BY 1
      UNION ALL
      SELECT 'example.com',
             CAST({_LINKS_PER_PAGE_SAME_DOMAIN}
                  * (SELECT COUNT(*) FROM live) AS BIGINT)
    ),
    q AS (
      SELECT domain, n_links,
             ({_BUDGET} * n_links) // (SELECT SUM(n_links) FROM w)
               AS base,
             ({_BUDGET} * n_links) % (SELECT SUM(n_links) FROM w)
               AS rem
      FROM w
    ),
    r AS (
      SELECT *,
             ROW_NUMBER() OVER (ORDER BY rem DESC, domain) AS rnk,
             (SELECT {_BUDGET} - SUM(base) FROM q) AS leftover
      FROM q
    )
    SELECT domain, n_links,
           CAST(base + (CASE WHEN rnk <= leftover THEN 1 ELSE 0 END)
                AS BIGINT) AS alloc
    FROM r ORDER BY domain
    """


@register(
    "q_crawl_host_budget",
    oracle=_host_budget_oracle(),
    doc=f"Proportional-fair crawl-budget apportionment (largest-"
    f"remainder / Hamilton method, budget {_BUDGET}): per-domain link "
    "counts from the general WAT pass become fetch-slot allocations — "
    "base = floor(B*n/N) plus one extra slot to the largest "
    "remainders (domain-asc tie-break) until exactly B slots are "
    "placed. ALL integer arithmetic: the oracle replays the same "
    "division/remainder/rank pipeline, so the allocations must match "
    "bit-for-bit and sum to the budget by construction — the rounding "
    "property naive per-domain rounding lacks. Plan: WAT snapshot -> "
    "domain hash agg (tiny) -> 1-row total broadcast -> the R extra "
    "slots selected by a DISTRIBUTED orderBy+limit (Spark's "
    "TakeOrderedAndProject: per-partition top-R then a driver merge "
    "of R-sized heaps — never a single-partition global window) "
    "joined back onto the allocation table; R itself is one collected "
    "scalar. At 100 TB the ordered set is the DOMAIN table "
    "(~1e6 rows), and only R rows ever leave it.",
    tags=("web", "graph"),
)
def q_crawl_host_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    links = links_snapshot(spark, sf_dir)
    w = (
        links.select(
            registrable_domain(url_host(F.col("dst_canon"))).alias("domain")
        )
        .groupBy("domain")
        .agg(F.count("*").cast("bigint").alias("n_links"))
    )
    tot = w.agg(F.sum("n_links").alias("total"))
    q = (
        w.crossJoin(F.broadcast(tot))
        .select(
            "domain",
            "n_links",
            F.expr(f"({_BUDGET} * n_links) div total").alias("base"),
            (F.lit(_BUDGET) * F.col("n_links") % F.col("total")).alias(
                "rem"
            ),
        )
        # q feeds FOUR consumers (the leftover scalar, the extras
        # top-R, and both sides of the final join): checkpoint the
        # domain-sized rows once instead of re-running the snapshot
        # agg + total broadcast per consumer (was 4 evaluations of the
        # weight subtree in the serve plan; domain table is ~1e6 rows
        # at 100 TB — checkpoint-sized by design)
        .localCheckpoint(eager=True)
    )
    # one scalar to the driver: how many remainder slots to hand out
    leftover = int(
        q.agg((F.lit(_BUDGET) - F.sum("base")).alias("l")).first()["l"]
    )
    extras = (
        q.orderBy(F.desc("rem"), F.asc("domain"))
        .limit(leftover)
        .select("domain", F.lit(1).cast("bigint").alias("extra"))
    )
    return (
        q.join(extras, "domain", "left")
        .select(
            "domain",
            "n_links",
            (F.col("base") + F.coalesce(F.col("extra"), F.lit(0)))
            .cast("bigint")
            .alias("alloc"),
        )
        .orderBy("domain")
    )


# ---- q_recrawl_plan ----------------------------------------------------------


def _recrawl_oracle() -> str:
    return """
    WITH d AS (
      SELECT doc_id,
             CASE WHEN doc_id % 2 = 0
                  THEN 20260101 + doc_id % 3 END AS lastmod_day,
             CASE WHEN doc_id % 3 <> 1
                  THEN CASE (doc_id + doc_id // 10) % 4 WHEN 0 THEN 'daily'
                       WHEN 1 THEN 'weekly' WHEN 2 THEN 'monthly'
                       ELSE 'never' END END AS changefreq,
             CASE WHEN doc_id % 13 = 5 THEN 20260102
                  ELSE 20260101 END AS captured_day
      FROM documents
    ),
    plan AS (
      SELECT doc_id,
             CASE
               WHEN lastmod_day IS NOT NULL AND lastmod_day > captured_day
                 THEN 'stale'
               WHEN lastmod_day IS NULL AND changefreq = 'daily'
                 THEN 'daily'
               ELSE 'fresh'
             END AS verdict
      FROM d
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_pages,
           CAST(SUM(CASE WHEN verdict = 'stale' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_stale,
           CAST(SUM(CASE WHEN verdict = 'daily' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_daily,
           CAST(SUM(CASE WHEN verdict = 'fresh' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_fresh,
           CAST(SUM(CASE WHEN verdict <> 'fresh' THEN doc_id ELSE 0 END)
                AS BIGINT) AS refetch_checksum
    FROM plan
    """


@register(
    "q_recrawl_plan",
    oracle=_recrawl_oracle(),
    doc="Incremental recrawl planner — the conditional-refetch decision "
    "a crawl runs between rounds, COMPOSING the two seed/index "
    "surfaces: sitemap entries (what the site declares — lastmod, "
    "changefreq) are SURT-keyed via url_to_surt and joined against "
    "the CDX index's latest capture per page (max fetch_ts over "
    "re-captures); a page refetches when its declared lastmod "
    "postdates the capture day ('stale') or, lacking lastmod, when "
    "the site declares changefreq=daily ('daily') — otherwise it is "
    "'fresh' and the archive byte is never touched. Counts per "
    "verdict plus the refetch doc-id checksum are residue closed-form "
    "(lastmod %2/%3, changefreq %3/%4, re-capture %13). Plan: "
    "file-parallel sitemap scan -> codegen'd SURT keys; index scan -> "
    "(surt) max-ts agg; one equi-join on surt; at 100 TB both inputs "
    "are the ~1000x-smaller sidecars — the plan decides what to fetch "
    "WITHOUT opening any archive.",
    tags=("web", "source"),
)
def q_recrawl_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from roapi_spark.config import TableSource
    from roapi_spark.functions.fixtures import cdx_fixture_dir, sitemap_fixture_dir
    from roapi_spark.functions.web import url_to_surt
    from roapi_spark.sources import load_table

    sm = load_table(
        spark,
        TableSource(
            name="_sm",
            uri=sitemap_fixture_dir(spark, sf_dir),
            format="sitemap",
        ),
    ).select(
        url_to_surt(F.col("loc")).alias("surt"),
        F.regexp_replace("lastmod", "-", "").cast("bigint").alias(
            "lastmod_day"
        ),
        "changefreq",
    )
    idx = (
        load_table(
            spark,
            TableSource(
                name="_cdx",
                uri=cdx_fixture_dir(spark, sf_dir),
                format="cdx",
            ),
        )
        .groupBy("surt_key")
        .agg(
            F.max(F.substring("fetch_ts", 1, 8).cast("bigint")).alias(
                "captured_day"
            )
        )
    )
    j = sm.join(idx, sm["surt"] == idx["surt_key"], "inner")
    verdict = (
        F.when(
            F.col("lastmod_day").isNotNull()
            & (F.col("lastmod_day") > F.col("captured_day")),
            F.lit("stale"),
        )
        .when(
            F.col("lastmod_day").isNull() & (F.col("changefreq") == "daily"),
            F.lit("daily"),
        )
        .otherwise(F.lit("fresh"))
    )
    plan = j.select(
        verdict.alias("verdict"),
        # gate glue: recover doc_id from the SURT key's path tail
        F.regexp_extract("surt", r"/(\d+)(\?|$)", 1)
        .cast("bigint")
        .alias("doc_id"),
    )
    return plan.agg(
        F.count("*").cast("bigint").alias("n_pages"),
        F.sum((F.col("verdict") == "stale").cast("bigint"))
        .cast("bigint")
        .alias("n_stale"),
        F.sum((F.col("verdict") == "daily").cast("bigint"))
        .cast("bigint")
        .alias("n_daily"),
        F.sum((F.col("verdict") == "fresh").cast("bigint"))
        .cast("bigint")
        .alias("n_fresh"),
        F.sum(
            F.when(F.col("verdict") != "fresh", F.col("doc_id")).otherwise(
                F.lit(0)
            )
        )
        .cast("bigint")
        .alias("refetch_checksum"),
    )


# ---- q_domain_cap ------------------------------------------------------------

_DOMAIN_CAP = 20


def _domain_cap_oracle() -> str:
    return f"""
    WITH d AS (
      SELECT doc_id,
             {host_case_sql(PSL_HOSTS)} AS host,
             {NORM_LEN} AS q
      FROM documents
    ),
    dom AS (
      SELECT doc_id, q, {registrable_domain_sql("host")} AS domain FROM d
    ),
    r AS (
      SELECT doc_id, q, domain,
             ROW_NUMBER() OVER (
               PARTITION BY domain ORDER BY q DESC, doc_id
             ) AS rnk
      FROM dom
    )
    SELECT domain,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN rnk <= {_DOMAIN_CAP} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN rnk <= {_DOMAIN_CAP} THEN doc_id ELSE 0 END)
                AS BIGINT) AS kept_checksum,
           CAST(MIN(CASE WHEN rnk <= {_DOMAIN_CAP} THEN q END) AS BIGINT)
             AS min_kept_quality
    FROM r GROUP BY domain ORDER BY domain
    """


@register(
    "q_domain_cap",
    oracle=_domain_cap_oracle(),
    doc=f"Per-domain cap sampling — the anti-domination curation step "
    f"(a handful of boilerplate-heavy sites must not dominate a "
    f"training mix): keep at most {_DOMAIN_CAP} docs per registrable "
    "domain, best-quality-first (whitespace-normalized length as the "
    "deterministic quality stand-in, doc_id tie-break), domains from "
    "the 16-family PSL host cycle. Per-domain kept counts, kept-id "
    "checksum and the quality cut line replay in the DuckDB oracle. "
    "Plan: one shuffle on domain, then Spark's WindowGroupLimit "
    "pushes the rank<=K filter BELOW the full per-domain sort "
    "(partial top-K per partition before the final one) — so a "
    "skewed mega-domain never materializes its full sorted run; "
    "the kept set is K*|domains|, corpus-independent.",
    tags=("text", "sampling", "pipeline", "web"),
)
def q_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window


    d = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    dom = d.select(
        "doc_id",
        registrable_domain(host_case_col(PSL_HOSTS)).alias("domain"),
        F.length(F.trim(norm_ws_col())).alias("q"),
    )
    rn = F.row_number().over(
        Window.partitionBy("domain").orderBy(F.desc("q"), F.asc("doc_id"))
    )
    # the kept branch FILTERS on the rank so Catalyst's WindowGroupLimit
    # inserts a partial per-partition top-K below the full sort (folding
    # the rank into aggregate CASEs instead would keep every row and
    # forfeit the pushdown — verified via explain)
    kept = (
        dom.withColumn("rnk", rn)
        .filter(F.col("rnk") <= _DOMAIN_CAP)
        .groupBy("domain")
        .agg(
            F.count("*").cast("bigint").alias("n_kept"),
            F.sum("doc_id").cast("bigint").alias("kept_checksum"),
            F.min("q").cast("bigint").alias("min_kept_quality"),
        )
    )
    counts = dom.groupBy("domain").agg(
        F.count("*").cast("bigint").alias("n_docs")
    )
    return (
        counts.join(kept, "domain")
        .select(
            "domain", "n_docs", "n_kept", "kept_checksum",
            "min_kept_quality",
        )
        .orderBy("domain")
    )


# ---- q_crawl_fetch_schedule ----------------------------------------------------

# per-domain robots.txt texts — what a crawler's robots-fetch pass
# caches per host; the politeness delays below are PARSED from these
# (functions/web.robots_crawl_delay, group-scoped like the path
# rules), not pinned as a literal table, so the gate closes the
# robots -> schedule loop data-driven. The texts exercise the
# parser's selection rules: agent group beats '*', first value in the
# winning group wins, garbage values are skipped, a missing/empty
# declaration falls to the crawler's own politeness default.
_CRAWL_UA = "trainbot"
_DEFAULT_DELAY_MS = 500

_ROBOTS_BY_DOMAIN = {
    # trainbot's own group (0.1 s) beats the '*' group's 2 s
    "example.com": (
        "User-agent: trainbot\nCrawl-delay: 0.1\n\n"
        "User-agent: *\nCrawl-delay: 2\n"
    ),
    "example.co.uk": "User-agent: *\nCrawl-delay: 0.3\n",
    "loja.com.br": "User-agent: *\nCrawl-delay: 0.2\nDisallow: /tmp\n",
    # non-numeric value skipped; next value in the group wins
    "user1.github.io": (
        "User-agent: *\nCrawl-delay: soon\nCrawl-delay: 0.3\n"
    ),
    "example.ac.in": (
        "User-agent: trainbot\nDisallow:\nCrawl-delay: 0.2\n"
    ),
    # declares no delay at all -> politeness default applies
    "demo.blogspot.com": "User-agent: *\nDisallow: /private\n",
    "example.gob.mx": "User-agent: *\nCrawl-delay: 0.3\n",
}


def _delays_from_robots(
    robots_by_domain: dict[str, str],
) -> dict[str, int]:
    """domain -> delay_ms for domains whose robots declare one."""
    from roapi_spark.functions.web import robots_crawl_delay

    out: dict[str, int] = {}
    for d, txt in robots_by_domain.items():
        delay = robots_crawl_delay(txt, _CRAWL_UA)
        if delay is not None:
            out[d] = int(round(delay * 1000))
    return out


_DELAY_MS = _delays_from_robots(_ROBOTS_BY_DOMAIN)


def _fetch_schedule_oracle() -> str:
    from roapi_spark.functions.fixtures import EXT_HOSTS

    delay_case = " ".join(
        f"WHEN '{d}' THEN {ms}" for d, ms in sorted(_DELAY_MS.items())
    )
    return f"""
    WITH live AS (
      SELECT doc_id FROM documents
      WHERE doc_id % 11 <> 3 AND doc_id % 7 <> 2
    ),
    w AS (
      SELECT {registrable_domain_sql("host")} AS domain,
             CAST(COUNT(*) AS BIGINT) AS n_links
      FROM (SELECT {host_case_sql(EXT_HOSTS)} AS host FROM live)
      GROUP BY 1
      UNION ALL
      SELECT 'example.com',
             CAST({_LINKS_PER_PAGE_SAME_DOMAIN}
                  * (SELECT COUNT(*) FROM live) AS BIGINT)
    ),
    q AS (
      SELECT domain, n_links,
             ({_BUDGET} * n_links) // (SELECT SUM(n_links) FROM w) AS base,
             ({_BUDGET} * n_links) % (SELECT SUM(n_links) FROM w) AS rem
      FROM w
    ),
    r AS (
      SELECT *, ROW_NUMBER() OVER (ORDER BY rem DESC, domain) AS rnk,
             (SELECT {_BUDGET} - SUM(base) FROM q) AS leftover
      FROM q
    ),
    a AS (
      SELECT domain,
             base + (CASE WHEN rnk <= leftover THEN 1 ELSE 0 END) AS alloc,
             CASE domain {delay_case} ELSE {_DEFAULT_DELAY_MS} END
               AS delay_ms
      FROM r
    ),
    s AS (
      SELECT domain, CAST(alloc AS BIGINT) AS alloc,
             CAST(delay_ms AS BIGINT) AS delay_ms,
             CAST(CASE WHEN alloc > 0 THEN (alloc - 1) * delay_ms
                       ELSE 0 END AS BIGINT) AS finish_ms
      FROM a
    )
    SELECT domain, alloc, delay_ms, finish_ms,
           CAST((SELECT MAX(finish_ms) FROM s) AS BIGINT) AS makespan_ms
    FROM s ORDER BY domain
    """


@register(
    "q_crawl_fetch_schedule",
    oracle=_fetch_schedule_oracle(),
    doc="Politeness-aware fetch schedule — budget composed with "
    "per-domain delay policy: each domain's allocated slots (the "
    "Hamilton apportionment, replayed) fetch one-per-delay, so its "
    "lane finishes at (alloc-1)*delay_ms; the fleet's makespan is the "
    "max over lanes — the number a crawl operator actually plans "
    "around (a polite slow host, not the big one, is usually "
    "critical). The delay policy is PARSED from per-domain robots.txt "
    "texts (functions/web.robots_crawl_delay — agent group beats '*', "
    "garbage values skipped, undeclared falls to the politeness "
    "default), and the oracle derives its CASE from the same parse, "
    "so the robots -> schedule loop is closed data-driven. All "
    "integers, bit-exact DuckDB replay. Plan: the (domain, alloc) "
    "table is tiny (domain-cardinality); the parsed policy is a "
    "broadcast map at fleet scale; the makespan is a 1-row agg "
    "broadcast back — no corpus access at all.",
    tags=("web", "graph"),
)
def q_crawl_fetch_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _fetch_schedule_frame(spark, sf_dir, _DELAY_MS)


def _fetch_schedule_frame(
    spark: SparkSession, sf_dir: str, delay_ms: dict[str, int]
) -> DataFrame:
    """Schedule from an explicit domain->delay_ms policy (the gate
    derives its policy from the robots fixture; tests inject variants
    to prove a declared Crawl-delay moves the makespan)."""
    alloc = q_crawl_host_budget(spark, sf_dir).select("domain", "alloc")
    delay = F.lit(_DEFAULT_DELAY_MS)
    for d, ms in sorted(delay_ms.items()):
        delay = F.when(F.col("domain") == d, F.lit(ms)).otherwise(delay)
    s = alloc.select(
        "domain",
        F.col("alloc").cast("bigint").alias("alloc"),
        delay.cast("bigint").alias("delay_ms"),
        F.when(
            F.col("alloc") > 0,
            (F.col("alloc") - 1) * delay,
        )
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("finish_ms"),
    )
    # s is read twice (the lanes and the makespan agg): checkpoint the
    # domain-sized schedule once so the budget subtree is not replayed
    # for the 1-row max
    s = s.localCheckpoint(eager=True)
    mk = s.agg(F.max("finish_ms").alias("makespan_ms"))
    return (
        s.crossJoin(F.broadcast(mk))
        .select(
            "domain", "alloc", "delay_ms", "finish_ms",
            F.col("makespan_ms").cast("bigint").alias("makespan_ms"),
        )
        .orderBy("domain")
    )


# ---- stream_sitemap_seeds ------------------------------------------------------


@register(
    "stream_sitemap_seeds",
    oracle="""
    WITH d AS (SELECT doc_id, doc_id % 3 AS s FROM documents),
    per AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS n FROM d GROUP BY s)
    SELECT * FROM (
      SELECT 'recrawl-1.xml' AS sitemap_file, n AS n_seeds,
             CAST(0 AS BIGINT) AS n_new FROM per WHERE s = 1
      UNION ALL
      SELECT 'urlset-0.xml.gz', n, n FROM per WHERE s = 0
      UNION ALL
      SELECT 'urlset-1.xml', n, n FROM per WHERE s = 1
      UNION ALL
      SELECT 'urlset-2.xml', n, n FROM per WHERE s = 2
    ) ORDER BY sitemap_file
    """,
    doc="Streaming seed discovery gate: urlset shards land in two "
    "waves (wave 2 additionally RE-LANDS wave 1's shard under a new "
    "name — the overlapping-sitemap / re-publish arrival mix) and "
    "every offered page is SURT-classified first-seen vs known "
    "through keyed state (streaming/crawl.stream_sitemap_seeds). The "
    "parse is the SAME shared codegen'd urlset parse the batch source "
    "uses; per-file seed and first-seen counts must match the residue "
    "closed form across both waves, so a dropped shard, a re-delivered "
    "file leaking duplicate seeds, or SURT drift between the batch "
    "and streaming paths shifts a count. Plan: per-batch cost is the "
    "newly landed sitemap bytes (~1000x smaller than a crawl); state "
    "is one int per SURT — the exact kernel whose constant-state twin "
    "is the Bloom-bounded frontier.",
    tags=("streaming", "web", "source"),
)
def stream_sitemap_seeds(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from roapi_spark.functions.fixtures import sitemap_fixture_dir
    from roapi_spark.streaming.crawl import (
        stream_sitemap_seeds as _stream,
        stream_state_partitions,
    )

    src = sitemap_fixture_dir(spark, sf_dir)
    landing = tempfile.mkdtemp(prefix="sitemap_seeds_landing_")
    acc: dict[str, list] = {}

    def process(classified: DataFrame, batch_id: int) -> None:
        for r in (
            classified.groupBy("sitemap_file")
            .agg(
                F.count("*").cast("bigint").alias("n_seeds"),
                F.sum("is_new").cast("bigint").alias("n_new"),
            )
            .collect()  # bounded: one row per landed file per batch
        ):
            cur = acc.setdefault(r["sitemap_file"], [0, 0])
            cur[0] += r["n_seeds"]
            cur[1] += r["n_new"]

    try:
        for name in ("urlset-1.xml", "urlset-2.xml"):
            shutil.copy(os.path.join(src, name), os.path.join(landing, name))
        with stream_state_partitions(spark):
            q = _stream(
                spark,
                landing,
                process,
                os.path.join(landing, "_ckpt"),
                query_name="stream_sitemap_seeds",
            )
            try:
                q.processAllAvailable()
                shutil.copy(
                    os.path.join(src, "urlset-0.xml.gz"),
                    os.path.join(landing, "urlset-0.xml.gz"),
                )
                # wave 2 re-lands shard 1: re-published sitemap, zero new
                shutil.copy(
                    os.path.join(src, "urlset-1.xml"),
                    os.path.join(landing, "recrawl-1.xml"),
                )
                q.processAllAvailable()
            finally:
                q.stop()
    finally:
        shutil.rmtree(landing, ignore_errors=True)
    return spark.createDataFrame(
        sorted((f, *v) for f, v in acc.items()),
        "sitemap_file string, n_seeds bigint, n_new bigint",
    )


# ---- stream_recrawl_frontier -----------------------------------------------------


@register(
    "stream_recrawl_frontier",
    oracle="""
    SELECT * FROM (
      SELECT 'day1-00.cdxj' AS cdx_file, 'new' AS verdict,
             CAST(COUNT(*) AS BIGINT) AS n FROM documents
      UNION ALL
      SELECT 'day1-again.cdxj', 'fresh', CAST(COUNT(*) AS BIGINT)
      FROM documents
      UNION ALL
      SELECT 'day2-00.cdxj', 'due',
             CAST(SUM(CASE WHEN doc_id % 13 = 5 THEN 1 ELSE 0 END)
                  AS BIGINT)
      FROM documents
    ) ORDER BY cdx_file
    """,
    doc="TTL recrawl frontier gate (streaming/crawl."
    "stream_recrawl_frontier, ttl=1 day): CDXJ index shards land in "
    "two waves — day-1 captures, then day-2 re-captures PLUS a "
    "re-delivered copy of the day-1 file — and every capture is "
    "classified against per-SURT last-capture-day state: day-1 lines "
    "are 'new', the re-delivered same-day copy is entirely 'fresh' "
    "(inside the TTL — no wasted refetch), and the %13 day-2 "
    "re-captures are 'due' (TTL elapsed — refetch). The third "
    "frontier variant: exact first-seen bounds CORRECTNESS, the Bloom "
    "variant bounds STATE, this bounds REFETCH RATE. The line parse "
    "is the batch cdx source's own (shared parse_cdx_lines with a "
    "passthrough column). Per-file verdict counts replay closed-form; "
    "a re-delivered file leaking refetches, day arithmetic done on "
    "raw ints instead of real dates, or state not advancing on 'due' "
    "all shift a count. Plan: per-batch cost = newly landed index "
    "bytes; state one int per SURT.",
    tags=("streaming", "web", "source"),
)
def stream_recrawl_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    import gzip as _gzip
    import shutil
    import tempfile

    from roapi_spark.functions.fixtures import cdx_fixture_dir
    from roapi_spark.streaming.crawl import (
        stream_recrawl_frontier as _stream,
        stream_state_partitions,
    )

    src = cdx_fixture_dir(spark, sf_dir)
    day1, day2 = [], []
    for name in sorted(os.listdir(src)):
        if not name.startswith("index-"):
            continue
        path = os.path.join(src, name)
        opener = _gzip.open if name.endswith(".gz") else open
        with opener(path, "rt", encoding="utf-8") as f:
            for line in f:
                line = line.rstrip("\n")
                if not line:
                    continue
                (day2 if " 20260102000000 " in line else day1).append(line)
    landing = tempfile.mkdtemp(prefix="recrawl_frontier_landing_")
    acc: dict[tuple[str, str], int] = {}

    def process(classified: DataFrame, batch_id: int) -> None:
        for r in (
            classified.groupBy("cdx_file", "verdict")
            .agg(F.count("*").cast("bigint").alias("n"))
            .collect()  # bounded: files x 3 verdicts per batch
        ):
            k = (r["cdx_file"], r["verdict"])
            acc[k] = acc.get(k, 0) + r["n"]

    def land(name: str, lines: list[str]) -> None:
        with open(os.path.join(landing, name), "w", encoding="utf-8") as f:
            f.write("\n".join(lines) + "\n")

    try:
        land("day1-00.cdxj", day1)
        with stream_state_partitions(spark):
            q = _stream(
                spark,
                landing,
                process,
                os.path.join(landing, "_ckpt"),
                ttl_days=1,
                query_name="stream_recrawl_frontier",
            )
            try:
                q.processAllAvailable()
                land("day2-00.cdxj", day2)
                land("day1-again.cdxj", day1)  # re-delivery: all inside TTL
                q.processAllAvailable()
            finally:
                q.stop()
    finally:
        shutil.rmtree(landing, ignore_errors=True)
    return spark.createDataFrame(
        sorted((f, v, n) for (f, v), n in acc.items()),
        "cdx_file string, verdict string, n bigint",
    )
