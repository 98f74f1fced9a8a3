"""The shingle pair graph is a build-once snapshot artifact (round-4
replacement for MEMORY_AND_DISK-caching the shingle explosion): one
build serves both dedup_ngram_jaccard and dedup_containment, and the
serving path leaves zero cached blocks behind in a long-lived server.
"""

from __future__ import annotations

import os

import pytest

from roapi_spark.functions.dedup import shingle_pair_graph_cached
from roapi_spark.functions.snapshot import parquet_footer_digest
from roapi_spark.plans.registry import load_all

SF = "/root/testdata/sf0.001"


def _success_mtimes(out_root: str) -> dict[str, float]:
    marks = {}
    for sub in ("pairs", "cnt"):
        p = os.path.join(out_root, sub, "_SUCCESS")
        marks[sub] = os.path.getmtime(p)
    return marks


def test_one_build_two_consumers(spark, tmp_path_factory):
    """First consumer triggers the build; the second serves from the
    identical persisted artifact with no rebuild."""
    cache = tmp_path_factory.mktemp("shpairs_cache")
    os.environ["SPARK_GRAFT_CACHE_DIR"] = str(cache)
    try:
        specs = load_all()
        jac = specs["dedup_ngram_jaccard"].builder(spark, SF)
        n_jac = jac.count()
        pairs_dir = os.path.dirname(
            os.path.dirname(
                next(
                    os.path.join(r, f)
                    for r, _, fs in os.walk(cache)
                    for f in fs
                    if f == "_SUCCESS" and r.endswith("pairs")
                )
            )
        )
        marks = _success_mtimes(pairs_dir)
        con = specs["dedup_containment"].builder(spark, SF)
        n_con = con.count()
        assert n_jac > 0 and n_con > 0
        # second consumer did not rebuild either table
        assert _success_mtimes(pairs_dir) == marks
        # and a direct call reuses it too
        p, c = shingle_pair_graph_cached(spark, SF)
        assert p.count() > 0 and c.count() > 0
        assert _success_mtimes(pairs_dir) == marks
    finally:
        del os.environ["SPARK_GRAFT_CACHE_DIR"]


def test_emb_pairs_one_build_two_consumers(spark, tmp_path_factory):
    """dedup_embedding_kmeans and dedup_semantic_keep share the
    embpairscid-v1 edge artifact: the first consumer builds, the second
    serves with no rebuild, and the skew-capped consumer's rows are a
    subset of the artifact."""
    cache = tmp_path_factory.mktemp("embpairs_cache")
    os.environ["SPARK_GRAFT_CACHE_DIR"] = str(cache)
    try:
        from roapi_spark.functions.dedup import emb_pairs_cid_cached

        specs = load_all()
        n_km = specs["dedup_embedding_kmeans"].builder(spark, SF).count()
        art_dir = next(
            r
            for r, _, fs in os.walk(cache)
            for f in fs
            if f == "_SUCCESS" and os.path.basename(r).startswith("embpairscid")
        )
        mark = os.path.getmtime(os.path.join(art_dir, "_SUCCESS"))
        n_keep = specs["dedup_semantic_keep"].builder(spark, SF).count()
        assert n_keep > 0
        assert os.path.getmtime(os.path.join(art_dir, "_SUCCESS")) == mark
        # the capped consumer serves a subset of the artifact's edges
        assert n_km <= emb_pairs_cid_cached(spark, SF).count()
        assert os.path.getmtime(os.path.join(art_dir, "_SUCCESS")) == mark
    finally:
        del os.environ["SPARK_GRAFT_CACHE_DIR"]


def test_serving_path_leaves_no_cached_blocks(spark, tmp_path_factory):
    """A server answering dedup queries repeatedly must not accumulate
    persisted RDD blocks (round-3 behavior cached the shingle explosion
    in MEMORY_AND_DISK and never unpersisted it)."""
    cache = tmp_path_factory.mktemp("shpairs_cache2")
    os.environ["SPARK_GRAFT_CACHE_DIR"] = str(cache)
    try:
        before = set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())
        specs = load_all()
        specs["dedup_ngram_jaccard"].builder(spark, SF).count()
        specs["dedup_containment"].builder(spark, SF).count()
        specs["q_ngram_novelty"].builder(spark, SF).count()
        after = set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())
        assert after - before == set(), "serving path left persisted blocks behind"
    finally:
        del os.environ["SPARK_GRAFT_CACHE_DIR"]


def test_footer_digest_tracks_content(tmp_path):
    """Same content -> same digest; different content (same row count /
    similar size) -> different digest; non-parquet -> loud error."""
    import duckdb

    a = tmp_path / "a.parquet"
    b = tmp_path / "b.parquet"
    duckdb.sql(f"COPY (SELECT range AS x FROM range(100)) TO '{a}' (FORMAT PARQUET)")
    duckdb.sql(
        f"COPY (SELECT range + 1 AS x FROM range(100)) TO '{b}' (FORMAT PARQUET)"
    )
    assert parquet_footer_digest(str(a)) == parquet_footer_digest(str(a))
    assert parquet_footer_digest(str(a)) != parquet_footer_digest(str(b))
    junk = tmp_path / "junk.parquet"
    junk.write_bytes(b"not parquet at all")
    with pytest.raises(ValueError):
        parquet_footer_digest(str(junk))


def test_sq8_serve_reads_codes_only(spark):
    """ann_sq8's serving plan scans the persisted code layout, never the
    embedding column (train+encode are once-per-snapshot)."""
    from roapi_spark.functions.pq import ann_sq8, sq8_layout

    out = sq8_layout(spark, "/root/testdata/sf0.001")
    assert os.path.exists(os.path.join(out, "_SUCCESS"))
    plan = ann_sq8(spark, "/root/testdata/sf0.001")._jdf.queryExecution() \
        .executedPlan().toString()
    assert "embeddings.parquet" not in plan
    assert "sq8_" in plan  # the artifact scan


def test_incremental_serve_hashes_only_new_shard(spark):
    """dedup_incremental's serving plan reads the persisted corpus band
    artifact and scans documents.parquet exactly once (the new shard);
    the corpus is never re-hashed at serve time."""
    from roapi_spark.functions.dedup import corpus_bands_cached, dedup_incremental

    corpus_bands_cached(spark, "/root/testdata/sf0.001")  # ensure built
    plan = dedup_incremental(spark, "/root/testdata/sf0.001")._jdf \
        .queryExecution().executedPlan().toString()
    # the capped corpus side is served as a filter over the uncapped
    # incrbandsfull-v1 artifact (one build, one store) since round 14
    assert "incrbandsfull" in plan
    # the hot-band-cap window ran at BUILD time; the serve plan has no
    # window at all (new-shard hash + artifact join + aggregates only)
    assert "Window" not in plan


def test_concurrent_artifact_builds_race_benignly(spark, tmp_path, monkeypatch):
    """Two threads triggering the same artifact build race on the atomic
    rename; both get a complete, readable artifact (no shared-staging
    clobber, which mode('overwrite') into one dir allowed)."""
    import threading

    monkeypatch.setenv("SPARK_GRAFT_CACHE_DIR", str(tmp_path / "cc"))
    from roapi_spark.functions.dedup import lsh_pairs_cached

    results, errors = [], []

    def go():
        try:
            results.append(lsh_pairs_cached(spark, "/root/testdata/sf0.001").count())
        except Exception as exc:  # noqa: BLE001
            errors.append(exc)

    ts = [threading.Thread(target=go) for _ in range(2)]
    [t.start() for t in ts]
    [t.join() for t in ts]
    assert not errors
    assert len(set(results)) == 1 and results[0] > 0


def test_build_once_failure_leaves_no_artifact(tmp_path):
    """A failing build leaves neither the artifact dir nor its tmp
    sibling, and raises; a later successful build works."""
    from roapi_spark.functions.snapshot import build_once, parquet_ready

    out = str(tmp_path / "art")

    def bad(tmp):
        os.makedirs(tmp)
        raise RuntimeError("boom")

    with pytest.raises(RuntimeError, match="boom"):
        build_once(out, parquet_ready, bad)
    assert not os.path.exists(out)
    assert not any(p.name.startswith("art.tmp-") for p in tmp_path.iterdir())

    def good(tmp):
        os.makedirs(tmp)
        open(os.path.join(tmp, "_SUCCESS"), "w").close()

    assert build_once(out, parquet_ready, good) == out
    assert parquet_ready(out)


def test_known_tags_cover_every_call_site():
    """Every snapshot_cache_dir(src, "tag") literal in the codebase must
    appear in KNOWN_TAGS, or prune_cache would garbage-collect live
    artifacts of the missing tag."""
    import re
    from pathlib import Path

    from roapi_spark.functions.snapshot import KNOWN_TAGS

    root = Path(__file__).resolve().parent.parent / "roapi_spark"
    used = set()
    for p in root.rglob("*.py"):
        for m in re.finditer(r'snapshot_cache_dir\(\s*src,\s*(.+?)\)', p.read_text()):
            arg = m.group(1).strip()
            if arg == "tag":  # prune_cache's own generic call
                continue
            lit = re.fullmatch(r'"([^"]+)"', arg)
            if lit:
                used.add(lit.group(1))
            elif arg.startswith('f"ivf-'):
                from roapi_spark.functions.similarity import IVF_LAYOUT_VERSION

                used.add(f"ivf-{IVF_LAYOUT_VERSION}")
            elif arg.startswith('f"embpairscid-'):
                from roapi_spark.functions.similarity import IVF_LAYOUT_VERSION

                used.add(f"embpairscid-{IVF_LAYOUT_VERSION}")
            elif arg.startswith('f"spancov-') or arg.startswith('f"spanidx-'):
                from roapi_spark.functions.dedup import REWRITE_K

                kind = "spancov" if "spancov" in arg else "spanidx"
                used.add(f"{kind}-k{REWRITE_K}-v1")
            elif arg.startswith('f"bpe-m'):
                from roapi_spark.functions.tokenizers import BPE_MERGES

                used.add(f"bpe-m{BPE_MERGES}-v1")
            elif arg.startswith('f"unigram-t'):
                from roapi_spark.functions.tokenizers import EM_T

                used.add(f"unigram-t{EM_T}-v1")
            elif arg.startswith('f"dsirlr-'):
                from roapi_spark.functions.selection import DSIR_BUCKETS, DSIR_TARGET

                used.add(f"dsirlr-b{DSIR_BUCKETS}-{DSIR_TARGET}-v1")
            else:
                raise AssertionError(f"unrecognized tag expression: {arg} in {p}")
    assert used, "no call sites found — the regex is broken"
    missing = used - set(KNOWN_TAGS)
    assert not missing, f"tags missing from KNOWN_TAGS: {missing}"


def test_prune_cache_removes_only_orphans(spark, tmp_path, monkeypatch):
    import os
    import time

    monkeypatch.setenv("SPARK_GRAFT_CACHE_DIR", str(tmp_path / "gc"))
    from roapi_spark.functions.dedup import lsh_pairs_cached
    from roapi_spark.functions.snapshot import cache_root, prune_cache

    sf = "/root/testdata/sf0.001"
    assert lsh_pairs_cached(spark, sf).count() > 0
    root = cache_root()
    live = [n for n in os.listdir(root) if n.startswith("lshpairs_")]
    assert len(live) == 1
    # a stranded generation from an older corpus snapshot
    orphan = os.path.join(root, "lshpairs_" + "0" * 16)
    os.makedirs(orphan)
    old = time.time() - 7200
    os.utime(orphan, (old, old))
    # and a fresh one inside the protection window
    young = os.path.join(root, "shpairs_" + "f" * 16)
    os.makedirs(young)

    removed = prune_cache([os.path.join(sf, "documents.parquet")])
    assert removed == ["lshpairs_" + "0" * 16]
    assert os.path.exists(os.path.join(root, live[0]))
    assert os.path.exists(young)  # young orphan protected
    # ...until it ages past the window
    os.utime(young, (old, old))
    assert prune_cache([os.path.join(sf, "documents.parquet")]) == [
        "shpairs_" + "f" * 16
    ]


def test_incremental_refresh_equals_full_rebuild(spark, sf_dir):
    """VERDICT r4 #8: merging a batch into the persisted corpus bands
    (batch-only hashing, union-count hot-band cap) must reproduce the
    full-rebuild pair graph EXACTLY — including buckets the batch pushes
    over the cap and buckets already over it suppressing batch rows."""
    from roapi_spark.functions.dedup import dedup_incremental_refresh, lsh_pairs_cached

    refreshed = {
        (r.doc_a, r.doc_b, r.est_jaccard)
        for r in dedup_incremental_refresh(spark, sf_dir).collect()
    }
    rebuilt = {
        (r.doc_a, r.doc_b, r.est_jaccard)
        for r in lsh_pairs_cached(spark, sf_dir)
        .select("doc_a", "doc_b", "est_jaccard")
        .collect()
    }
    assert refreshed == rebuilt and refreshed


def test_union_cap_semantics_unit(spark):
    """A bucket at the cap boundary: corpus count C <= CAP kept in the
    artifact, but C + batch rows > CAP must drop the WHOLE bucket from
    the merged bands (and an over-cap corpus bucket must suppress batch
    rows too). Pinned with a tiny synthetic frame so the property
    doesn't depend on the testdata happening to contain such buckets."""
    from pyspark.sql import functions as F

    from roapi_spark.functions.dedup import BAND_CAP

    # corpus artifact shape: bucket "hot" holds exactly BAND_CAP rows,
    # bucket "cold" holds 1
    corp = spark.createDataFrame(
        [(i, [1], 0, "hot", BAND_CAP) for i in range(BAND_CAP)]
        + [(999, [1], 0, "cold", 1)],
        "doc_id bigint, sig array<int>, band_id int, band_sig string, bn bigint",
    )
    batch = spark.createDataFrame(
        [(5000, [1], 0, "hot"), (5001, [1], 0, "cold")],
        "doc_id bigint, sig array<int>, band_id int, band_sig string",
    )
    batch_cnt = batch.groupBy("band_id", "band_sig").agg(
        F.count("*").alias("bn_new")
    )
    corp_tot = corp.join(batch_cnt, ["band_id", "band_sig"], "left").withColumn(
        "tot", F.col("bn") + F.coalesce("bn_new", F.lit(0))
    )
    corp_cnt = corp.groupBy("band_id", "band_sig").agg(F.max("bn").alias("bn_corp"))
    batch_tot = (
        batch.join(batch_cnt, ["band_id", "band_sig"])
        .join(corp_cnt, ["band_id", "band_sig"], "left")
        .withColumn("tot", F.col("bn_new") + F.coalesce("bn_corp", F.lit(0)))
    )
    merged = corp_tot.select("doc_id", "band_sig", "tot").unionByName(
        batch_tot.select("doc_id", "band_sig", "tot")
    ).filter(F.col("tot") <= BAND_CAP)
    out = {(r.doc_id, r.band_sig) for r in merged.collect()}
    # "hot" went BAND_CAP -> BAND_CAP+1: every row (corpus AND batch) gone
    assert not any(sig == "hot" for _, sig in out)
    # "cold" went 1 -> 2: both rows kept
    assert (999, "cold") in out and (5001, "cold") in out
