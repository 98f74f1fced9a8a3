"""End-to-end crawl toolchain over the roapi_spark crawl operators —
the loop a web-scale corpus team runs each round, composed from the
registered building blocks:

  stage 0  seeds            sitemap source (index followed, urlset
                            shards parsed) -> SURT-keyed seed list
  stage 1  recrawl plan     seeds joined against the CDX index's
                            latest captures: stale / daily / fresh
                            verdicts — only the sidecars are read
  stage 2  budget           proportional-fair fetch-slot apportionment
                            across registrable domains
                            (largest-remainder method)
  stage 3  fetch + archive  (simulated here by the WARC fixture) ->
                            dedup-aware WARC export: duplicate
                            payloads land as headers-only revisit
                            records, payload stored once
  stage 4  index            CDX generation from the raw archive bytes
                            (gzip member spans via zlib walk), written
                            as SURT-sorted CDXJ shards
  stage 5  derive           WET extraction records for the LLM corpus
                            + the WAT link snapshot feeding PageRank /
                            HITS / anchor profiles
  stage 6  publish          the crawled page inventory as sitemaps.org
                            urlset shards + index (the seed list the
                            NEXT round's stage 0 reads)
  stage 7  master index     this round's CDXJ shards merged with the
                            prior round's into one latest-capture
                            master (the cc-index maintenance step the
                            NEXT round's stage 1 plans from), laid out
                            as global SURT ranges + _shards.idx
  stage 8  prefix scan      a per-prefix analysis through the pruned
                            scan: the sidecar narrows the read to the
                            shard file(s) covering the prefix

Usage:
    python examples/crawl_pipeline.py [sf_dir] [out_dir]

Prints one JSON summary line per stage.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402


def run(spark, sf_dir: str, out_root: str) -> dict:
    from roapi_spark.plans.registry import load_all

    specs = load_all()
    summary: dict = {"sf_dir": sf_dir, "out": out_root}

    # stage 0+1: seed list -> recrawl plan (sidecars only)
    plan = specs["q_recrawl_plan"].builder(spark, sf_dir).first()
    summary["recrawl"] = {
        "n_pages": plan["n_pages"],
        "stale": plan["n_stale"],
        "daily": plan["n_daily"],
        "fresh": plan["n_fresh"],
    }

    # stage 2: fetch budget across domains
    alloc = specs["q_crawl_host_budget"].builder(spark, sf_dir).collect()
    summary["budget"] = {r["domain"]: r["alloc"] for r in alloc}

    # stage 3: dedup-aware archive export (payload stored once)
    dd = specs["q_warc_dedup_export"].builder(spark, sf_dir).first()
    summary["archive"] = {
        "responses": dd["n_responses"],
        "revisits": dd["n_revisit"],
        "stored_octets": dd["stored_octets"],
        "octets_saved": dd["octets_saved"],
    }

    # stage 4: index the archives, write CDXJ
    from roapi_spark.functions.fixtures import warc_fixture_dir
    from roapi_spark.sinks.cdx import index_warc, write_cdx

    ptrs = index_warc(spark, warc_fixture_dir(spark, sf_dir))
    manifest = write_cdx(
        ptrs.withColumn(
            "shard", F.pmod(F.crc32(F.col("surt_key")), F.lit(2))
        ),
        os.path.join(out_root, "cdx"),
    ).collect()
    summary["index"] = {r["cdx_file"]: r["n_lines"] for r in manifest}

    # stage 5: WET derivative + link-graph signals off the WAT snapshot
    wet = specs["q_wet_roundtrip"].builder(spark, sf_dir).first()
    summary["wet"] = {
        "conversion_records": wet["n_conversion"],
        "text_octets": wet["text_octets"],
    }
    hits = specs["q_crawl_hits"].builder(spark, sf_dir).collect()
    summary["authorities"] = {
        r["domain"]: r["authority"] for r in hits if r["authority"] > 0
    }

    # stage 6: publish the crawled inventory as a sitemap set — the
    # seed list the NEXT round's stage 0 consumes (distributed sink,
    # spec caps enforced per shard; only the tiny index is driver-side)
    from roapi_spark.sinks.sitemap import write_sitemap, write_sitemap_index

    site_dir = os.path.join(out_root, "sitemaps")
    inventory = ptrs.select(
        F.col("url").alias("loc"),
        F.to_date(F.to_timestamp(F.col("fetch_ts"), "yyyyMMddHHmmss"))
        .cast("string")
        .alias("lastmod"),
        F.pmod(F.crc32(F.col("url")), F.lit(2)).cast("int").alias("shard"),
    )
    sm_manifest = write_sitemap(inventory, site_dir).collect()
    write_sitemap_index(site_dir, [r["sitemap_file"] for r in sm_manifest])
    summary["sitemap"] = {r["sitemap_file"]: r["n_urls"] for r in sm_manifest}

    # stage 7: merge this round's shards with the prior round's into
    # one latest-capture-per-SURT master index (simulate the prior
    # round by re-sharding the same pointers under an older timestamp)
    from roapi_spark.sinks.cdx import merge_cdx

    prior_dir = os.path.join(out_root, "cdx_prior")
    write_cdx(
        ptrs.withColumn(
            "fetch_ts", F.lit("20250101000000")
        ).withColumn(
            "shard", F.pmod(F.crc32(F.col("surt_key")), F.lit(2))
        ),
        prior_dir,
    ).collect()
    master_dir = os.path.join(out_root, "cdx_master")
    mg = merge_cdx(
        spark,
        [prior_dir, os.path.join(out_root, "cdx")],
        master_dir,
        n_shards=4,
        latest_only=True,
        layout="range",  # global SURT ranges + _shards.idx sidecar
    ).collect()
    summary["master_index"] = {r["cdx_file"]: r["n_lines"] for r in mg}

    # stage 8: per-prefix analysis through the PRUNED scan — the
    # cc-index access path: open only the shard file(s) whose sidecar
    # range covers this prefix, never the whole master
    from roapi_spark.sinks.cdx import _prefix_shard_files, read_cdx_prefix

    pfx = (
        ptrs.select(
            F.concat(
                F.substring_index("surt_key", "/", 2), F.lit("/")
            ).alias("p")
        )
        .groupBy("p").count().orderBy(F.desc("count"), "p").first()["p"]
    )
    opened = _prefix_shard_files(master_dir, pfx)
    summary["prefix_scan"] = {
        "prefix": pfx,
        "n_rows": read_cdx_prefix(spark, master_dir, pfx).count(),
        "files_opened": len(opened),
        "files_total": len(mg),
    }
    return summary


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    out_root = (
        sys.argv[2]
        if len(sys.argv) > 2
        else tempfile.mkdtemp(prefix="crawl_pipeline_")
    )
    from roapi_spark.session import get_spark

    print(json.dumps(run(get_spark("crawl_pipeline"), sf_dir, out_root)))


if __name__ == "__main__":
    main()
